package graft

/** Physical-plan regression tests: the plan properties PLANS.md audits
  * by eye, asserted so they can't silently regress — scan pruning,
  * pushdown, broadcast dimension joins, top-k via TakeOrderedAndProject,
  * no unpartitioned windows on unbounded inputs, no cartesian products
  * (the only nested-loop joins allowed are broadcast of provably tiny
  * sides: ≤5-row query sets and 1-row aggregates).
  */
class PlanAuditSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  /** Queries ALLOWED an unpartitioned (single-partition) window, each
    * k- or cardinality-bounded by construction: q110/q126 window over
    * day/bucket-cardinality frames, q208 is the 7-row divergence
    * probe. This set is asserted below to match the plans EXACTLY (an
    * allowlisted query whose plan no longer has a single-partition
    * window fails as stale, so the list can't drift from reality —
    * the r11 list had carried the four hybrid-retrieval queries,
    * whose k-bounded rank windows actually ride on
    * TakeOrderedAndProject's one-partition OUTPUT without any
    * exchange, so they never trip the detector at all). ANYTHING ELSE
    * windowing through one partition is a data-scale sort smuggled
    * past the banded-rank discipline and fails the audit. */
  private val singlePartitionWindowAllowed = Set(
    "q110_new_users", // one cumulative window over day-cardinality rows
    "q126_ks_drift",  // CDF windows over cent-histogram-cardinality rows
    "q208_probe_window_cumsum",
    // the probe-rank window runs over ONE query × √N centroids (a
    // cluster-count-bounded broadcast crossJoin output), never corpus
    // rows; the corpus-scale stages window per-pct
    "q216_ivf_probe_audit")

  /** True when the plan feeds a Window or Sort through an
    * `Exchange SinglePartition`. The consumer is not always the line
    * immediately above the exchange (AQE wrappers, WholeStageCodegen
    * banners, InputAdapter / Project lines sit between), so this scans
    * a small window of preceding lines — but only lines at STRICTLY
    * SHALLOWER tree depth count: in Spark's tree rendering every
    * shallower line above is an ancestor (a real consumer), while a
    * Window/Sort from an unrelated sibling branch prints at equal or
    * deeper indentation and must not false-positive the audit (the
    * r12 ADVICE gap: the old check was depth-blind). */
  private def hasSinglePartitionWindow(p: String): Boolean = {
    // tree-prefix chars before the operator name; -1 (blank/prefix-only
    // lines) map to MaxValue so they can never read as ancestors
    def indent(l: String): Int = l.indexWhere(c => !" :+-".contains(c)) match {
      case -1 => Int.MaxValue
      case i => i
    }
    val lines = p.linesIterator.toSeq
    lines.zipWithIndex.exists { case (l, i) =>
      l.contains("Exchange SinglePartition") && {
        val d = indent(l)
        lines.slice(math.max(0, i - 4), i).exists { up =>
          indent(up) < d && (up.contains("Window") || up.contains("Sort"))
        }
      }
    }
  }

  test("no CartesianProduct anywhere; single-partition windows only on the k-bounded allowlist") {
    val offenders = scala.collection.mutable.Set[String]()
    val allowedButClean = scala.collection.mutable.Set[String]()
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name has a cartesian product")
      val spWindow = hasSinglePartitionWindow(p)
      if (spWindow && !singlePartitionWindowAllowed(name)) offenders += name
      if (!spWindow && singlePartitionWindowAllowed(name)) allowedButClean += name
    }
    assert(offenders.isEmpty,
      s"data-scale single-partition window/sort in: ${offenders.toSeq.sorted}")
    assert(allowedButClean.isEmpty,
      s"stale allowlist entries (plan has no single-partition window): " +
        s"${allowedButClean.toSeq.sorted}")
  }

  test("q01: partial+final hash aggregation, pruned scan") {
    val p = plan("q01_agg")
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no partial agg:\n$p")
    assert(p.contains("ReadSchema") && !p.contains("l_comment"),
      "scan reads columns the query never uses")
  }

  test("q02: top-k through TakeOrderedAndProject, no window exchange") {
    val p = plan("q02_topk_rank")
    assert(p.contains("TakeOrderedAndProject"), s"global sort instead of top-k:\n$p")
    assert(!p.contains("Window"), s"rank still uses a window function:\n$p")
  }

  test("q03: dimension join is a broadcast hash join") {
    val p = plan("q03_join_agg")
    assert(p.contains("BroadcastHashJoin"), s"supplier join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"dimension join shuffled:\n$p")
  }

  test("q06/q11: filters reach the parquet scan") {
    assert(plan("q11_watermark").contains("PushedFilters: [IsNotNull(event_id)"),
      "watermark probe filter not pushed")
    val p = plan("q07_semi_join")
    assert(p.contains("PushedFilters") && p.contains("GreaterThan(l_quantity,49"),
      s"semi-join probe filter not pushed:\n$p")
  }

  test("q09: windows are partitioned (no single-partition exchange)") {
    val p = plan("q09_windows")
    assert(p.contains("Window"), "expected window operators")
    assert(!p.contains("SinglePartition"), s"unpartitioned window exchange:\n$p")
  }

  test("q29/q30: ANN sides broadcast; q37 bucket join stays hash") {
    assert(plan("q29_ann_brute").contains("BroadcastNestedLoopJoin"),
      "brute-force query set should broadcast")
    val ivf = plan("q30_ann_ivf")
    assert(ivf.contains("BroadcastHashJoin"), "IVF probe join should broadcast")
    assert(plan("q37_ann_lsh").contains("BroadcastHashJoin"),
      "LSH bucket join should broadcast the query side at this scale")
  }

  test("q48: shuffle-shard window is partitioned by shard") {
    val p = plan("q48_shuffle_shards")
    assert(p.contains("Window"), "expected the per-shard rank window")
    assert(!p.contains("SinglePartition"), s"global row_number exchange:\n$p")
  }

  test("q105: RFM quintiles sort nothing through a single partition") {
    val p = plan("q105_rfm")
    // scalar counts (the ntile total) legitimately aggregate through a
    // SinglePartition exchange of 1-row partials; the scale hazard is a
    // SORT (or window) draining through one — the r7 weak
    val lines = p.linesIterator.toSeq
    lines.zipWithIndex.filter(_._1.contains("Exchange SinglePartition"))
      .foreach { case (_, i) =>
        val parent = lines(i - 1)
        assert(!parent.contains("Sort") && !parent.contains("Window"),
          s"q105 sorts a frame through one partition:\n${lines(i - 1)}\n${lines(i)}")
      }
    assert(!p.toLowerCase.contains("ntile"),
      s"q105 still ranks through a global ntile window:\n$p")
  }

  test("shard family: no frame ever sorts or windows through a single partition") {
    // the training-data deliverables (rank, pack, curriculum,
    // incremental, manifest) — the banded rank/prefix-sum machinery
    // must keep them free of data-scale single-partition stages;
    // scalar aggregates (offset totals) are the only exchanges allowed
    Seq("q186_global_rank", "q190_token_shards", "q192_curriculum_shards",
      "q193_incremental_shards", "q194_shard_boundaries").foreach { name =>
      val lines = plan(name).linesIterator.toSeq
      lines.zipWithIndex.filter(_._1.contains("Exchange SinglePartition"))
        .foreach { case (_, i) =>
          val parent = lines(i - 1)
          assert(!parent.contains("Sort") && !parent.contains("Window"),
            s"$name drains a frame through one partition:\n$parent\n${lines(i)}")
        }
    }
  }

  test("q210: phash bucket join is an equi-join on (band, key), never nested-loop") {
    val p = plan("q210_frame_phash")
    // the whole near-dup cost is the band bucket join — it must key on
    // (band, key) as a hash/sort-merge equi-join; a nested-loop here is
    // the all-pairs scan LSH exists to avoid
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"band join is not an equi-join:\n$p")
    assert(!p.contains("NestedLoop"), s"phash pairs via nested loop:\n$p")
  }

  test("q211: split shares join broadcasts the lang-cardinality side") {
    val p = plan("q211_train_split")
    assert(p.contains("BroadcastHashJoin"), s"share join not broadcast:\n$p")
    assert(!p.contains("Window"), s"split report uses a window:\n$p")
  }

  test("q171: the k-means assignment is scan-local — no exchange, no window") {
    val p = plan("q171_kmeans")
    assert(!p.contains("Exchange"), s"k-means E-step shuffles the corpus:\n$p")
    assert(!p.contains("Window"), s"k-means argmax uses a window:\n$p")
  }

  test("q223/q224: objective-side transforms are one scan-local projection") {
    for (q <- Seq("q223_fim_transform", "q224_span_corrupt")) {
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q shuffles a pure map stage:\n$p")
      assert(!p.contains("Window"), s"$q windows a pure map stage:\n$p")
    }
    // q223 is plain string arithmetic → whole-stage codegen (`*(n)`
    // marker); q224's array lambdas are higher-order functions
    // (CodegenFallback by design), so its guarantee is the bare
    // single-Project shape, not the codegen span
    assert("\\*\\(\\d+\\) Project".r
      .findFirstIn(plan("q223_fim_transform")).nonEmpty,
      "q223 fell out of codegen")
    assert(plan("q224_span_corrupt").linesIterator
      .count(_.trim.startsWith("Project")) === 1,
      "q224 must stay one interpreted projection over the scan")
  }

  test("q173/q174: compressed-domain and re-rank ANN never shuffle the corpus side") {
    val adc = plan("q173_pq_recall")
    assert(adc.contains("BroadcastNestedLoopJoin"),
      "ADC query set should broadcast into the corpus scan")
    // the final brute-vs-adc recall join runs over two k·|queries|-row
    // frames — tiny, AQE converts it at runtime — so only the SCORING
    // joins are pinned broadcast-side: every hash join in the plan must
    // be a broadcast one
    assert(!adc.replaceAll("SortMergeJoin \\[q_id.*", "").contains("SortMergeJoin"),
      s"ADC shuffled a scoring join side:\n$adc")
    val rr = plan("q174_rp_rerank")
    assert(rr.contains("BroadcastNestedLoopJoin"),
      "sketch shortlist pass should broadcast the query set")
    assert(!rr.contains("SortMergeJoin"),
      s"re-rank shuffled instead of broadcasting the bounded side:\n$rr")
  }

  test("q50: BM25 term/corpus stats broadcast, top-k via TakeOrdered") {
    val p = plan("q50_bm25")
    assert(p.contains("BroadcastHashJoin"), s"df stats join not broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"global sort instead of top-k:\n$p")
  }

  test("q47: retention join reuses the user-keyed exchange") {
    val p = plan("q47_retention")
    assert(p.contains("ReusedExchange") || p.contains("BroadcastHashJoin"),
      s"cohort and active-day frames shuffle twice on the same key:\n$p")
  }

  test("q75: star join broadcasts every dimension; one fact-fact join") {
    val p = plan("q75_star_join")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4,
      s"dimension joins not all broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in star join:\n$p")
    // the only non-broadcast join is lineitem ⋈ orders
    assert("SortMergeJoin".r.findAllIn(p).size <= 1,
      s"more than one shuffled join:\n$p")
    // the order-date filter reaches the orders scan
    assert(p.contains("PushedFilters") && p.contains("GreaterThanOrEqual(o_orderdate"),
      s"date window not pushed to the orders scan:\n$p")
  }

  test("LSH: sign-and-band stage is shuffle-free; verify uses the native kernel") {
    // the pair frame is checkpointed inside nearDuplicates, so the
    // sketch stage is audited on the band stage directly. The one
    // allowed Exchange is Spread's unsplittable-input round-robin
    // re-spread BELOW the sign kernel (r16, guide §2.5) — it fires on
    // the single-row-group testdata scan and disappears at production
    // scan sizes; the sign kernel itself must still add no shuffle
    // (no hashpartitioning anywhere in the sketch stage).
    val sketch = graft.operators.MinHashLsh
      .bandBucketsDirect(Tables.load(spark, sf, "documents"))
      .queryExecution.executedPlan.toString
    assert(sketch.contains("minhash_sigs"), s"native sketch kernel missing:\n$sketch")
    assert(!sketch.contains("hashpartitioning"),
      s"sign-and-band stage key-shuffles:\n$sketch")
    assert("Exchange".r.findAllIn(sketch).size <= 1,
      s"sign-and-band stage shuffles beyond the Spread re-spread:\n$sketch")
    val p = plan("q26_lsh_neardup")
    assert(p.contains("sorted_intersect_count"), s"native verify kernel missing:\n$p")
  }

  test("Spread: no kernel guard is pushed below the round-robin re-spread") {
    // a deterministic filter over a kernel column crosses Spread's
    // exchange into the single-task scan, so the kernel would run twice:
    // once serially there, once in parallel above the exchange
    def pushedKernels(p: String, kernel: String): Seq[String] = {
      val lines = p.linesIterator.toIndexedSeq
      val inScan = lines.filter(l => l.contains("FileScan") &&
        l.indexOf("DataFilters:") >= 0 &&
        l.substring(l.indexOf("DataFilters:")).takeWhile(_ != ']').contains(kernel))
      val underSpread = lines.indices.collect {
        case i if lines(i).contains("RoundRobinPartitioning") && i + 1 < lines.size &&
          lines(i + 1).contains("Filter ") && lines(i + 1).contains(kernel) => lines(i + 1)
      }
      inScan ++ underSpread
    }
    val sketch = graft.operators.MinHashLsh
      .bandBucketsDirect(Tables.load(spark, sf, "documents"))
      .queryExecution.executedPlan.toString
    val pushed = Seq(("bandBucketsDirect", sketch, "minhash_sigs("),
        ("q34_ngram_jaccard", plan("q34_ngram_jaccard"), "ngram_hashes("),
        ("q69_containment", plan("q69_containment"), "ngram_hashes(")).flatMap {
      case (name, p, kernel) =>
        assert(p.contains("RoundRobinPartitioning") && p.contains(kernel),
          s"$name: no Spread re-spread over $kernel to audit:\n$p")
        pushedKernels(p, kernel).map(l => s"$name: ${l.trim}")
    }
    assert(pushed.isEmpty, "kernel guards below the exchange:\n" + pushed.mkString("\n"))
  }

  test("ranked top-k filters run through WindowGroupLimit (map-side group cut)") {
    // rank-then-filter must not sort whole partitions: Spark's
    // WindowGroupLimit keeps only each group's top-k BEFORE the
    // exchange (partial) and after (final) — at 100 TB this is the
    // difference between shuffling k rows per group and all of them
    Seq("q29_ann_brute", "q104_attribution").foreach { name =>
      val p = plan(name)
      assert("WindowGroupLimit".r.findAllIn(p).size >= 2,
        s"$name: no partial+final WindowGroupLimit:\n$p")
    }
  }

  test("runtime bloom filter prunes the fact side of a selective shuffled join") {
    // the optimizer's runtime row-level filtering: a selective dim
    // filter becomes a bloom probe INSIDE the fact scan, so at 100 TB
    // the shuffle carries only rows that can possibly join. Thresholds
    // lowered because sf0.001 is far under the production defaults.
    import org.apache.spark.sql.functions.col
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val fact = Tables.load(spark, sf, "lineitem")
      val dim = Tables.load(spark, sf, "part")
        .filter(org.apache.spark.sql.functions.col("p_size") <= 2)
      val j = fact.join(dim, fact("l_partkey") === dim("p_partkey"))
      assert(j.collect().nonEmpty)
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("might_contain") && p.contains("bloom_filter_agg"),
        s"no runtime bloom filter on the fact side:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("AQE splits a skewed sort-merge join partition (skew=true)") {
    // the runtime half of the skew story (Layout.saltedJoin is the
    // static half): one hot key → AQE's OptimizeSkewedJoin must split
    // its shuffle partition instead of letting one task carry it all
    import spark.implicits._
    val keys = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.2")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val pad = "x" * 64
      val left = ((1 to 20000).map(i => (1L, s"$pad-$i")) ++
        (2 to 200).map(i => (i.toLong, s"p$i"))).toDF("k", "a")
      val right = ((1 to 50).map(i => (1L, i)) ++
        (2 to 200).map(i => (i.toLong, i))).toDF("k", "b")
      val joined = left.join(right, "k")
      // materialize THIS execution (count() would build a separate one)
      // so the AdaptiveSparkPlan below is the finalized post-run plan
      assert(joined.collect().length == 20000 * 50 + 199)
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"), s"AQE did not split the skewed partition:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
