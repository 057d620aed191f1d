package graft

import graft.operators._
import org.apache.spark.sql.functions._

/** Hand-computed unit checks for the training-data operators (the
  * sf0.01 DuckDB oracle covers them at scale; these pin the semantics
  * on tiny inputs).
  */
class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog", "en", "s1", 43L),
    (2L, "the quick brown fox jumps over the lazy cat", "en", "s1", 43L),
    (3L, "completely different words entirely here now", "en", "s2", 44L),
    (4L, "ab", "en", "s2", 2L), // fewer than 3 words → no shingles
    // supplementary-plane chars: n-gram kernels must count code points
    (5L, "emoji text 😀😁 here today fine", "en", "s3", 30L))
    .toDF("doc_id", "text", "lang", "source", "n_chars")

  test("shingles: 3-word windows; short docs yield empty") {
    val got = docs.select(col("doc_id"),
      MinHashLsh.shingles(col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(got(1L).take(2) == Seq("the quick brown", "quick brown fox"))
    assert(got(1L).size == 7)
    assert(got(4L).isEmpty)
  }

  test("minhash near-dup finds the one-word-changed pair, not the unrelated doc") {
    val pairs = MinHashLsh.nearDuplicates(docs, threshold = 0.2)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
    // 6 of 7+7 distinct shingles shared → jaccard 6/8
    val j = MinHashLsh.jaccardVerify(docs,
      Seq((1L, 2L)).toDF("doc_a", "doc_b")).select("jaccard")
      .as[Double].head()
    assert(math.abs(j - 0.75) < 1e-12)
  }

  test("repeated nearDuplicates calls are identical and don't stack caches") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    val r1 = rowSet(MinHashLsh.nearDuplicates(docs, threshold = 0.2))
    val r2 = rowSet(MinHashLsh.nearDuplicates(docs, threshold = 0.2))
    assert(r1 == r2)
    // localCheckpoint blocks are ContextCleaner-managed: once the frames
    // are unreachable a GC cycle releases them (the old
    // persist-and-never-unpersist pattern pinned one per call forever)
    val deadline = System.currentTimeMillis + 15000
    while (sc.getPersistentRDDs.size > before && System.currentTimeMillis < deadline) {
      System.gc(); Thread.sleep(250)
    }
    assert(sc.getPersistentRDDs.size <= before,
      s"checkpoint blocks accumulating: $before -> ${sc.getPersistentRDDs.size}")
  }

  test("vec_sum aggregates element-wise across partitions; centroids are the means") {
    import graft.functions.VectorAgg
    val vecs = Seq(
      ("a", Seq(1.0, 2.0)), ("a", Seq(3.0, 4.0)), ("a", Seq(5.0, 6.0)),
      ("b", Seq(10.0, 20.0)),
      ("c", null))
      .toDF("label", "v")
      .repartition(3) // force partial-buffer merges
    val sums = vecs.groupBy("label").agg(VectorAgg.vec_sum(col("v")).as("s"))
      .collect().map(r => r.getString(0) -> Option(r.getSeq[Double](1))).toMap
    assert(sums("a").get == Seq(9.0, 12.0))
    assert(sums("b").get == Seq(10.0, 20.0))
    assert(sums("c").get == Seq()) // all-null group folds to the empty zero
    val cent = Similarity.centroids(
      Seq((0L, "a", Array(1.0f, 3.0f)), (1L, "a", Array(3.0f, 5.0f)),
        (2L, "b", Array(2.0f, 2.0f)))
        .toDF("vec_id", "label", "embedding"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    assert(cent("a") == Seq(2.0, 4.0) && cent("b") == Seq(2.0, 2.0))
  }

  test("sign-LSH: identical vectors share a bucket; a query matches itself at rank 1") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 2.0f, -1.0f)),
      (1L, Array(1.0f, 0.0f, 2.0f, -1.0f)), // identical → same bucket
      (7L, Array(-3.0f, 1.0f, -2.0f, 0.5f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.lshTopK(vecs.filter(col("vec_id") === 0), vecs,
      numPlanes = 4, k = 10)
      .select("vec_id", "sim", "rank").as[(Long, Double, Long)].collect().toSet
    assert(got.contains((0L, 1.0, 1L))) // self-match leads
    assert(got.map(_._1).contains(1L))  // identical vector is in the bucket
  }

  test("connected components: chain and island get min-id labels") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val got = DedupGroups.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
  }

  test("dedupGroups marks the min-id doc of each near-dup cluster as keeper") {
    val got = DedupGroups.dedupGroups(docs, threshold = 0.2)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(got == Set((1L, 1L, true), (2L, 1L, false)))
  }

  test("sampling is deterministic, monotone in rate, and 1.0 keeps all") {
    val ids = (1L to 400L).map(i => (i, if (i % 2 == 0) "en" else "de"))
      .toDF("doc_id", "lang")
    val keep25 = ids.filter(Sampling.samplePredicate(col("doc_id"), 0.25, "s"))
      .as[(Long, String)].collect().toSet
    val keep50 = ids.filter(Sampling.samplePredicate(col("doc_id"), 0.5, "s"))
      .as[(Long, String)].collect().toSet
    assert(keep25.subsetOf(keep50)) // raising the rate only ADDS rows
    assert(keep25 == ids.filter(Sampling.samplePredicate(col("doc_id"), 0.25, "s"))
      .as[(Long, String)].collect().toSet) // rerun → same rows
    assert(math.abs(keep50.size - 200) < 60) // ~rate of the keyspace
    assert(ids.filter(Sampling.samplePredicate(col("doc_id"), 1.0, "s")).count() == 400)
    val bySplit = Sampling.withSplit(ids, col("doc_id"), 0.1, 0.1)
      .groupBy("split").count().as[(String, Long)].collect().toMap
    assert(bySplit.values.sum == 400 && bySplit("train") > 280)
    val strat = Sampling.stratifiedSample(ids, "lang", col("doc_id"),
      rates = Map("en" -> 0.0), defaultRate = 1.0)
    assert(strat.filter(col("lang") === "en").count() == 0)
    assert(strat.filter(col("lang") === "de").count() == 200)
  }

  test("identical texts share a simhash; fingerprint fits in 32 bits") {
    val dup = Seq((1L, "same text here today"), (2L, "same text here today"),
      (3L, "other words entirely now")).toDF("doc_id", "text")
    val fp = SimHash.fingerprints(dup).as[(Long, Long)].collect().toMap
    assert(fp(1L) == fp(2L))
    assert(fp.values.forall(v => v >= 0 && v < (1L << 32)))
  }

  test("token stats and langid") {
    val one = Seq((1L, "the cat is on the mat", "en", "s", 21L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = one.select(
      TextOps.wordCount(col("text")),
      TextOps.tokenCount(col("text"))).head()
    assert(r.getLong(0) == 6 && r.getLong(1) == 6)
    val zh = Seq((2L, "这是中文", "zh", "s", 4L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    assert(TextOps.langId(zh).select("pred_lang").as[String].head() == "zh")
    assert(TextOps.langId(one).select("pred_lang").as[String].head() == "en")
  }

  test("langSegments: a half-en half-de doc reports the mix; pure docs read 0 bp") {
    // 8 en words then 8 de words, windowWords=8 → exactly one window
    // per language: dominant ties break lexicographically (de < en)
    val mixed = Seq(
      (1L, "the cat is on the mat and the " +
        "der hund ist und der die das und"),
      (2L, "the cat is on the mat and the dog sat on the rug here today"))
      .toDF("doc_id", "text")
    val out = TextOps.langSegments(mixed, windowWords = 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getString(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out(1L) === ((2L, "de", 1L, 5000L)), "the 50/50 doc must flag")
    assert(out(2L) === ((2L, "en", 2L, 0L)), "a pure doc reads minority 0")
  }

  test("cosine: orthogonal → 0, parallel → 1; brute-force ranks by similarity") {
    val corpus = Seq(
      (0L, Array(1.0f, 0.0f), 0), (1L, Array(0.0f, 1.0f), 0),
      (2L, Array(2.0f, 0.0f), 1), (3L, Array(1.0f, 1.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity
      .bruteForceTopK(corpus.filter(col("vec_id") === 0), corpus, k = 4)
      .orderBy("rank").select("vec_id", "sim").as[(Long, Double)].collect()
    assert(got.map(_._1).toSeq == Seq(0L, 2L, 3L, 1L))
    assert(got(0)._2 == 1.0 && got(1)._2 == 1.0)
    assert(math.abs(got(2)._2 - 0.707107) < 1e-6)
    assert(got(3)._2 == 0.0)
  }

  test("rangeSearch: τ-ball membership, no self-match, agrees with top-k") {
    val corpus = Seq(
      (0L, Array(1.0f, 0.0f), 0), (1L, Array(0.0f, 1.0f), 0),
      (2L, Array(2.0f, 0.0f), 1), (3L, Array(1.0f, 1.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val q = corpus.filter(col("vec_id") === 0)
    val got = Similarity.rangeSearch(q, corpus, minSim = 0.5)
      .select("vec_id", "sim").as[(Long, Double)].collect().toMap
    // sims from q0: q2 = 1.0, q3 = .7071, q1 = 0.0; self excluded
    assert(got.keySet == Set(2L, 3L))
    assert(got(2L) == 1.0 && math.abs(got(3L) - 0.707107) < 1e-6)
    // consistency: every top-k hit at sim ≥ τ (minus self) is in the ball
    val topk = Similarity.bruteForceTopK(q, corpus, k = 4)
      .filter(col("sim") >= 0.5 && col("vec_id") =!= col("q_id"))
      .select("vec_id").as[Long].collect().toSet
    assert(topk == got.keySet)
  }

  test("seqPack: first-fit by doc_id, overflow starts a pack, oversize doc isolated") {
    val d = Seq(
      (1L, "a b", "en"), (2L, "c d", "en"), (3L, "e f", "en"),
      (4L, "g h i j k l", "en"), (5L, "m", "en"), // 6 > cap: own pack
      (6L, "x y z", "de")) // separate group restarts at pack 0
      .toDF("doc_id", "text", "lang")
    val got = SeqPack.pack(d, "lang", capacity = 5)
      .select("doc_id", "pack_id").as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 2L, 5L -> 3L, 6L -> 0L))
  }

  test("packTokenStream: exact L-cuts across doc boundaries, short tail") {
    val d = Seq(
      (1L, Seq("a", "b", "c")),
      (2L, Seq("d")),
      (3L, Seq("e", "f", "g", "h", "i")),
      (4L, Seq("j")))
      .toDF("doc_id", "tokens")
    // stream with </s> separators: a b c </s> d </s> e f g h i </s> j </s>
    val got = SeqPack.packTokenStream(d, seqLen = 4)
      .select("seq_id", "n_tokens", "tokens")
      .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(got === Seq(
      (0L, 4L, "a b c </s>"),
      (1L, 4L, "d </s> e f"),
      (2L, 4L, "g h i </s>"),
      (3L, 2L, "j </s>")))
    // conservation law: every token lands in exactly one slot
    assert(got.map(_._2).sum === 3 + 1 + 5 + 1 + 4)
  }

  test("packTokenStreamWithBoundaries: tokens match plain pack, manifest exact") {
    val d = Seq(
      (1L, Seq("a", "b", "c")),
      (2L, Seq("d")),
      (3L, Seq("e", "f", "g", "h", "i")),
      (4L, Seq("j")))
      .toDF("doc_id", "tokens")
    val got = SeqPack.packTokenStreamWithBoundaries(d, seqLen = 4)
      .select("seq_id", "n_tokens", "tokens", "n_docs", "boundaries")
      .as[(Long, Long, String, Long, String)].collect().sortBy(_._1).toSeq
    // stream: a b c </s> | d </s> e f | g h i </s> | j </s>
    // seq 1 mixes the tail of doc 2 and the head of doc 3; seq 2 is a
    // pure continuation of doc 3 (boundary at slot 0 marks it)
    assert(got === Seq(
      (0L, 4L, "a b c </s>", 1L, "0:1"),
      (1L, 4L, "d </s> e f", 2L, "0:2 2:3"),
      (2L, 4L, "g h i </s>", 1L, "0:3"),
      (3L, 2L, "j </s>", 1L, "0:4")))
    // (seq_id, n_tokens, tokens) must be IDENTICAL to the plain pack
    val plain = SeqPack.packTokenStream(d, seqLen = 4)
      .select("seq_id", "n_tokens", "tokens")
      .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(got.map(x => (x._1, x._2, x._3)) === plain)
  }

  test("packTokenStreamRows: re-aggregating the row form rebuilds the string form") {
    val d = Seq(
      (1L, Seq("a", "b", "c")),
      (2L, Seq("d")),
      (3L, Seq("e", "f", "g", "h", "i")),
      (4L, Seq("j")))
      .toDF("doc_id", "tokens")
    val rows = SeqPack.packTokenStreamRows(d, seqLen = 4)
      .as[(Long, Long, String)].collect().toSeq
    // (seq_id, slot) is a key: every slot of the stream filled exactly once
    assert(rows.map(r => (r._1, r._2)).distinct.size === rows.size)
    val rebuilt = rows.groupBy(_._1).map { case (sid, rs) =>
      (sid, rs.size.toLong, rs.sortBy(_._2).map(_._3).mkString(" "))
    }.toSeq.sortBy(_._1)
    val want = SeqPack.packTokenStream(d, seqLen = 4)
      .select("seq_id", "n_tokens", "tokens")
      .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(rebuilt === want)
  }

  test("packTokenStreamManifest: exactly withBoundaries' manifest, decomposed") {
    val d = Seq(
      (1L, Seq("a", "b", "c")),
      (2L, Seq("d")),
      (3L, Seq("e", "f", "g", "h", "i")),
      (4L, Seq("j")))
      .toDF("doc_id", "tokens")
    val got = SeqPack.packTokenStreamManifest(d, seqLen = 4)
      .select("seq_id", "first_slot", "doc_id", "n_doc_tokens")
      .as[(Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    // stream: a b c </s> | d </s> e f | g h i </s> | j </s>
    assert(got === Seq(
      (0L, 0L, 1L, 4L),
      (1L, 0L, 2L, 2L), (1L, 2L, 3L, 2L),
      (2L, 0L, 3L, 4L),
      (3L, 0L, 4L, 2L)))
    // law vs the assembled form: same (seq, first_slot:doc) pairs, and
    // per-seq token counts sum back to the string form's n_tokens
    val wb = SeqPack.packTokenStreamWithBoundaries(d, seqLen = 4)
      .select("seq_id", "n_tokens", "boundaries")
      .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
    val fromWb = wb.flatMap { case (sid, _, b) =>
      b.split(" ").map { p =>
        val Array(slot, doc) = p.split(":"); (sid, slot.toLong, doc.toLong)
      }
    }.sortBy(r => (r._1, r._2))
    assert(got.map(r => (r._1, r._2, r._3)) === fromWb)
    assert(got.groupBy(_._1).view.mapValues(_.map(_._4).sum).toMap ===
      wb.map(r => (r._1, r._2)).toMap)
  }

  test("packTokenStream: a sparse wide orderKey packs identically (auto bands)") {
    val d = Seq(
      (1L, Seq("a", "b", "c")),
      (2L, Seq("d")),
      (3L, Seq("e", "f", "g", "h", "i")),
      (4L, Seq("j")))
      .toDF("doc_id", "tokens")
    // doc_id * 2^40: order-preserving but SPARSE — under fixed 16-bit
    // bands every key is its own band (the q198 quadratic shape);
    // auto band-width must keep the result bit-identical
    val sparse = SeqPack.packTokenStream(d, seqLen = 4,
      orderKey = col("doc_id") * lit(1099511627776L))
      .select("seq_id", "n_tokens", "tokens")
      .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
    val dense = SeqPack.packTokenStream(d, seqLen = 4)
      .select("seq_id", "n_tokens", "tokens")
      .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(sparse === dense)
  }

  test("configAdvisor predicts exactly what the real packs deliver") {
    val d = Seq(
      (1L, Seq("a", "b", "c")),
      (2L, Seq("d")),
      (3L, Seq("e", "f", "g", "h", "i")),
      (4L, Seq("j")))
      .toDF("doc_id", "tokens")
    val cfgs = Seq(3, 4, 7, 16) // incl. L=16 > stream length (no cut at all)
    val adv = SeqPack.configAdvisor(d, cfgs).collect()
      .map(r => r.getAs[Long]("seq_len") -> r).toMap
    for (l <- cfgs) {
      val packed = SeqPack.packTokenStreamWithBoundaries(d, seqLen = l)
        .select("seq_id", "n_tokens", "boundaries")
        .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
      val r = adv(l.toLong)
      assert(r.getAs[Long]("n_seqs") === packed.length.toLong, s"n_seqs at L=$l")
      assert(r.getAs[Long]("total_tokens") === packed.map(_._2).sum,
        s"total_tokens at L=$l")
      val tail = r.getAs[Long]("tail_tokens")
      assert(packed.last._2 === (if (tail == 0L) l.toLong else tail),
        s"tail at L=$l")
      assert(r.getAs[Long]("pad_tokens") ===
        packed.length.toLong * l - packed.map(_._2).sum, s"pad at L=$l")
      // a split doc is exactly a doc contributing to >1 sequence
      val nSplit = packed
        .flatMap { case (sid, _, b) =>
          b.split(" ").map(x => (x.split(":")(1).toLong, sid)) }
        .groupBy(_._1).values.count(_.length > 1).toLong
      assert(r.getAs[Long]("n_split_docs") === nSplit, s"n_split_docs at L=$l")
    }
  }

  test("incremental packTokenStream: batch 2 at startOffset merges to the union pack") {
    val all = Seq(
      (1L, Seq("a", "b", "c")), (2L, Seq("d")),
      (3L, Seq("e", "f", "g", "h", "i")), (4L, Seq("j")))
      .toDF("doc_id", "tokens")
    val b1 = all.filter(col("doc_id") <= 2)
    val b2 = all.filter(col("doc_id") > 2)
    val t1 = SeqPack.streamLength(b1)
    assert(t1 === 6L) // (3+1) + (1+1)
    val union = SeqPack.packTokenStream(all, seqLen = 4)
      .select("seq_id", "tokens").as[(Long, String)].collect().toMap
    val p1 = SeqPack.packTokenStream(b1, seqLen = 4)
      .select("seq_id", "tokens").as[(Long, String)].collect().toMap
    val p2 = SeqPack.packTokenStream(b2, seqLen = 4, startOffset = t1)
      .select("seq_id", "tokens").as[(Long, String)].collect().toMap
    // merge: old batch's slots first on the shared boundary sequence
    val merged = (p1.keySet ++ p2.keySet).map { s =>
      s -> Seq(p1.get(s), p2.get(s)).flatten.mkString(" ")
    }.toMap
    assert(merged === union)
    // the boundary sequence really was split across the two packs
    assert(p1.keySet.intersect(p2.keySet).nonEmpty)
  }

  test("packTokenStream honors a custom order key (curriculum order)") {
    val d = Seq(
      (1L, Seq("a", "b", "c"), 2L),
      (2L, Seq("d"), 1L))
      .toDF("doc_id", "tokens", "rank")
    // rank order puts doc 2 first: stream = d </s> a b c </s>
    val got = SeqPack.packTokenStream(d, seqLen = 3, orderKey = col("rank"))
      .select("seq_id", "tokens").as[(Long, String)].collect()
      .sortBy(_._1).toSeq
    assert(got === Seq((0L, "d </s> a"), (1L, "b c </s>")))
  }

  test("frame phash: bit = byte above frame mean; 1-bit perturbation pairs, tails don't sign") {
    // doc 1: first 60 bytes = 30 zeros then 30 hundreds (mean 50), so
    // exactly bits 30..59 set (strict >); the threshold gap is wide
    // enough that a single-byte bump can't flip any OTHER bit through
    // the mean shift (the subtlety a naive 0..63 ramp fixture trips on)
    val f1 = (Array.fill(30)(0.toByte) ++ Array.fill(30)(100.toByte) ++
      Array.fill(4)(0.toByte))
    // doc 2: byte 0 bumped to 98 — above the shifted mean (~51.6),
    // while 0s stay below and 100s above → exactly bit 0 flips
    val f2 = f1.clone(); f2(0) = 98.toByte
    // doc 3: unrelated constant-ish frame + a 10-byte tail (tail must
    // NOT produce a signature row)
    val f3 = Array.fill(64)(7.toByte) ++ Array.fill(10)(9.toByte)
    val media = Seq(
      (1L, f1, "application/octet-stream"),
      (2L, f2, "application/octet-stream"),
      (3L, f3, "application/octet-stream"))
      .toDF("doc_id", "payload", "media_type")
    val sigs = Multimodal.frameSignatures(media, frameBytes = 64, stride = 2)
      .collect().map(s => (s.doc_id, s.frame_idx) -> s.sig).toMap
    assert(sigs.keySet === Set((1L, 0), (2L, 0), (3L, 0))) // no tail row
    val expected1 = (30 until 60).map(1L << _).sum
    assert(sigs((1L, 0)) === expected1)
    assert(java.lang.Long.bitCount(sigs((1L, 0)) ^ sigs((2L, 0))) === 1)
    assert(sigs((3L, 0)) === 0L) // constant frame: nothing above mean
    val pairs = Multimodal.phashNearDupPairs(media, frameBytes = 64, stride = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(pairs.toSeq === Seq((1L, 2L, 1L, 1L))) // only the 1-bit pair
  }

  test("simhash nearDupPairs: identical docs pair at hamming 0, unrelated don't") {
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"), // verbatim dup
      (3L, "völlig andere wörter überall ganz anders hier"))
      .toDF("doc_id", "text")
    val got = SimHash.nearDupPairs(d, maxHamming = 3)
      .select("doc_a", "doc_b", "hamming").as[(Long, Long, Long)].collect()
    assert(got.toSeq == Seq((1L, 2L, 0L)))
  }

  test("mmrRerank: redundancy penalty prefers the diverse hit over the near-copy") {
    val corpus = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),      // the query itself
      (1L, Array(0.95f, 0.312f, 0.0f), 0),   // most relevant
      (2L, Array(0.94f, 0.34f, 0.0f), 0),    // near-copy of 1: more relevant than 3
      (3L, Array(0.9f, -0.436f, 0.0f), 0))   // diverse
      .toDF("vec_id", "embedding", "label")
    val got = Similarity
      .mmrRerank(corpus.filter(col("vec_id") === 0), corpus, k = 2,
        lambdaBp = 7000, pool = 10)
      .orderBy("rank").select("vec_id").as[Long].collect().toSeq
    // plain top-2 by sim would be (1, 2); MMR demotes the near-copy
    assert(got == Seq(1L, 3L))
  }

  test("mmrRerank: candidate pool stays at `pool` when the query is not in the corpus") {
    // 3 corpus vectors, pool=2: with an external query nothing is
    // self-filtered, so the pool must be re-limited to 2 — vec 3 (the
    // 3rd-ranked candidate) must never be selectable
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f), 0),
      (2L, Array(0.9f, 0.436f, 0.0f), 0),
      (3L, Array(0.0f, 1.0f, 0.0f), 0)) // most diverse, but outside the pool
      .toDF("vec_id", "embedding", "label")
    val query = Seq((99L, Array(0.98f, 0.199f, 0.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.mmrRerank(query, corpus, k = 2, lambdaBp = 7000, pool = 2)
      .orderBy("rank").select("vec_id").as[Long].collect().toSeq
    // an unlimited pool would pick the diverse vec 3 second; the
    // contract-sized pool only holds {1, 2}
    assert(got.toSet == Set(1L, 2L))
  }

  test("snapshotDiff classifies added/removed/changed/unchanged, null-safe") {
    import graft.store.SnapshotDiff
    val o = Seq((1L, Some(10.0)), (2L, Some(20.0)), (3L, None), (4L, Some(40.0)))
      .toDF("k", "v")
    val n = Seq((1L, Some(10.0)), (2L, Some(21.0)), (3L, Option.empty[Double]),
      (5L, Some(50.0))).toDF("k", "v")
    val got = SnapshotDiff.classify(o, n, Seq("k"), Seq("v"))
      .select("k", "change").as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "unchanged", // null <=> null: not a change
      4L -> "removed", 5L -> "added"))
    val sum = SnapshotDiff.summary(o, n, Seq("k"), Seq("v"))
      .as[(String, Long)].collect().toMap
    assert(sum == Map("unchanged" -> 2L, "changed" -> 1L,
      "removed" -> 1L, "added" -> 1L))
  }

  test("persisted ivf index: pruned probe reads fewer files, same results") {
    val corpus = Seq(
      (0L, Array(1.0f, 0.1f), 0), (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(-1.0f, 0.1f), 1), (3L, Array(-1.0f, 0.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val dir = tempDir("ivfidx") + "/idx"
    Similarity.writeIvfIndex(corpus, dir)
    val q = corpus.filter(col("vec_id") === 2)
    val cent = Similarity.centroids(corpus)
    val viaIndex = Similarity.ivfTopKIndexed(spark, dir, q, cent, k = 10)
    val direct = Similarity.ivfTopK(q, corpus, cent, k = 10)
    assert(rowSet(viaIndex) == rowSet(direct))
    // the probe prunes at planning time: the label predicate must be a
    // PartitionFilter on the scan (not a post-scan Filter)
    val plan = spark.read.parquet(dir).filter(col("label") === 1)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      "PartitionFilters: \\[[^\\]]*label[^\\]]*1".r.findFirstIn(plan).isDefined,
      s"no partition pruning in plan:\n$plan")
  }

  test("ivf index lifecycle: appended vectors probe identically; drift gates re-fit") {
    val corpus = Seq(
      (0L, Array(1.0f, 0.1f), 0), (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(-1.0f, 0.1f), 1), (3L, Array(-1.0f, 0.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val dir = tempDir("ivflife") + "/idx"
    Similarity.writeIvfIndex(corpus, dir)
    val cent = Similarity.centroids(corpus)
    // a later batch, no labels: the append path must route each vector
    // to its nearest centroid's partition
    val batch = Seq(
      (10L, Array(0.9f, 0.05f)), (11L, Array(-0.95f, 0.05f)))
      .toDF("vec_id", "embedding")
    Similarity.appendIvfIndex(batch, cent, dir)
    val assigned = Similarity.assignToCentroids(batch, cent)
      .select("vec_id", "embedding", "label")
    val routes = assigned.select("vec_id", "label")
      .as[(Long, Int)].collect().toMap
    assert(routes == Map(10L -> 0, 11L -> 1))
    // indexed probe after the append ≡ in-memory ivfTopK over the same
    // (original ∪ assigned) corpus — the lifecycle's core contract
    val full = corpus.unionByName(assigned)
    val q = Seq((99L, Array(-1.0f, 0.05f), 1)).toDF("vec_id", "embedding", "label")
    val viaIndex = Similarity.ivfTopKIndexed(spark, dir, q, cent, k = 10)
    val direct = Similarity.ivfTopK(q, full, cent, k = 10)
    assert(rowSet(viaIndex) == rowSet(direct))
    assert(viaIndex.filter(col("vec_id") === 11L).count() == 1,
      "appended vector not visible through the persisted index")
    // drift gate: a batch the centroids still describe does not trip
    // re-fit; an orthogonal-shifted batch must
    val same = Similarity.ivfRefitCheck(spark, dir, cent, batch)
      .select("refit").as[Boolean].head()
    assert(!same, "same-distribution batch tripped the re-fit gate")
    val shifted = Seq(
      (20L, Array(0.0f, 1.0f)), (21L, Array(0.05f, -1.0f)))
      .toDF("vec_id", "embedding")
    val drifted = Similarity.ivfRefitCheck(spark, dir, cent, shifted)
      .select("ks_stat", "refit").as[(Double, Boolean)].head()
    assert(drifted._2, s"orthogonal batch must trip re-fit (ks=${drifted._1})")
  }

  test("ivf routes the query to its own tight cluster") {
    val corpus = Seq(
      (0L, Array(1.0f, 0.1f), 0), (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(-1.0f, 0.1f), 1), (3L, Array(-1.0f, 0.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity
      .ivfTopK(corpus.filter(col("vec_id") === 2), corpus, k = 10)
    assert(got.select("probe_label").distinct().as[Int].head() == 1)
    assert(got.select("vec_id").as[Long].collect().toSet == Set(2L, 3L))
  }

  test("char n-gram jaccard finds the near-identical pair within its block") {
    val pairs = NgramJaccard.nearDupPairs(docs,
      blockCols = Seq("lang", "source"), n = 4, threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // docs 1/2 share block (en, s1) and differ by one word; 3 is unrelated
    assert(pairs == Set((1L, 2L)))
    // prefix-filtered and hashed-kernel variants return identical results
    val prefixPairs = NgramJaccard.nearDupPairsPrefix(docs,
      blockCols = Seq("lang", "source"), n = 4, threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(prefixPairs == pairs)
    val hashedPairs = NgramJaccard.nearDupPairsHashed(docs,
      blockCols = Seq("lang", "source"), n = 4, threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(hashedPairs == pairs)
  }

  test("frame sampling: fixed-size chunks, every stride-th kept") {
    val media = Multimodal.toMedia(docs.filter(col("doc_id") === 4)) // "ab"
    val one = Multimodal.sampleFrames(media, frameBytes = 1, stride = 2)
      .collect().head
    assert(one.n_frames == 1) // frames [a],[b] → indices 0,1 → keep 0
    assert(new String(one.frames(0), "UTF-8") == "a")
  }

  test("rolling hash: deterministic, composable over concatenation") {
    import graft.functions.RollingHash.rolling_hash
    val M = (1L << 31) - 1
    val hashes = Seq(("abc"), ("abc"), ("abd"), ("ab"), ("c"))
      .toDF("t").select(rolling_hash(col("t"))).as[Long].collect()
    assert(hashes(0) == hashes(1)) // deterministic
    assert(hashes(0) != hashes(2)) // content-sensitive
    // composition: h("abc") = (h("ab")·B^1 + h("c")) mod M — the rolling
    // property that lets windows slide in O(1)
    assert(hashes(0) == (hashes(3) * 257 + hashes(4)) % M)
  }

  test("resize: payload cropped or zero-padded to target") {
    val media = Multimodal.toMedia(docs.filter(col("doc_id") === 4)) // "ab"
    val r4 = Multimodal.resize(media, 4).collect().head
    assert(r4.payload.toSeq == Seq('a'.toByte, 'b'.toByte, 0.toByte, 0.toByte))
    val r1 = Multimodal.resize(media, 1).collect().head
    assert(r1.payload.toSeq == Seq('a'.toByte))
  }

  test("multimodal: metadata + deterministic stub features") {
    val media = Multimodal.toMedia(docs)
    val m = media.filter(col("doc_id") === 4).select("meta.n_bytes").head()
    assert(m.getLong(0) == 2)
    val feats = Multimodal.extractFeatures(media).collect()
      .map(f => f.doc_id -> f).toMap
    assert(feats(4L).feat_dim == 4)
    // "ab" = bytes 97,98 → both in bucket 1 of 4
    assert(feats(4L).features.toSeq == Seq(0.0, 1.0, 0.0, 0.0))
  }

  test("format sniff + image header dims: real byte-level parsing, no codec") {
    def png(w: Int, h: Int): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(24)
      b.put(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
      b.putInt(13).put("IHDR".getBytes) // length + IHDR tag
      b.putInt(w).putInt(h)
      b.array()
    }
    def gif(w: Int, h: Int): Array[Byte] =
      "GIF89a".getBytes ++ Array[Byte](
        (w & 0xff).toByte, (w >> 8).toByte, (h & 0xff).toByte, (h >> 8).toByte)
    def jpeg(w: Int, h: Int): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(2 + 18 + 2 + 9)
      b.put(Array(0xff, 0xd8).map(_.toByte))                 // SOI
      b.put(Array(0xff, 0xe0).map(_.toByte)).putShort(16)    // APP0, len 16
        .put(new Array[Byte](14))                            // APP0 payload
      b.put(Array(0xff, 0xc0).map(_.toByte)).putShort(9)     // SOF0, len 9
        .put(8.toByte)                                       // precision
        .putShort(h.toShort).putShort(w.toShort)
      b.array()
    }
    val media = Seq(
      (1L, png(640, 480)), (2L, gif(320, 200)), (3L, jpeg(1920, 1080)),
      (4L, "%PDF-1.7 ...".getBytes), (5L, "PKzipdata".getBytes),
      (6L, "plain text payload".getBytes), (7L, Array[Byte](0xff.toByte, 0xd8.toByte)))
      .toDF("doc_id", "payload").withColumn("media_type", lit("application/octet-stream"))
    val sniffed = media.select(col("doc_id"),
      Multimodal.sniffFormat(col("payload")).as("f"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sniffed === Map(1L -> "png", 2L -> "gif", 3L -> "jpeg",
      4L -> "pdf", 5L -> "zip", 6L -> "unknown", 7L -> "unknown"))
    val dims = Multimodal.imageMeta(media).collect()
      .map(m => m.doc_id -> ((m.format, m.width, m.height))).toMap
    assert(dims(1L) === (("png", 640, 480)))
    assert(dims(2L) === (("gif", 320, 200)))
    assert(dims(3L) === (("jpeg", 1920, 1080))) // SOF0 found PAST APP0
    assert(dims(4L) === (("pdf", -1, -1))) // recognized, no /Count in header
    // truncated JPEG (SOI only, too short for the 0xFFD8FF magic):
    // unparseable reads as unknown, never a crash or a dropped row
    assert(dims(7L) === (("unknown", -1, -1)))
    assert(dims(6L) === (("unknown", -1, -1)))
  }

  test("webp header dims (all three variants) + pdf page count, header-only") {
    def riff(fourcc: String, chunk: Array[Byte]): Array[Byte] =
      "RIFF".getBytes ++ Array[Byte](0, 0, 0, 0) ++ "WEBP".getBytes ++
        fourcc.getBytes ++ Array[Byte](0, 0, 0, 0) ++ chunk
    // 'VP8 ' lossy: 3-byte frame tag, sync 9D 01 2A, 14-bit LE dims
    val vp8 = riff("VP8 ", Array[Byte](0, 0, 0) ++
      Array(0x9d, 0x01, 0x2a).map(_.toByte) ++
      Array[Byte]((640 & 0xff).toByte, (640 >> 8).toByte,
        (360 & 0xff).toByte, (360 >> 8).toByte))
    // 'VP8L' lossless: 0x2F then (w-1 | (h-1)<<14) packed LE u32
    val vp8lBits = (800 - 1).toLong | ((600 - 1).toLong << 14)
    val vp8l = riff("VP8L", Array(0x2f.toByte) ++
      (0 until 4).map(i => ((vp8lBits >> (8 * i)) & 0xff).toByte).toArray)
    // 'VP8X' extended: flags+reserved (4), then 24-bit LE canvas-1 pair
    def le24(v: Int) = Array[Byte]((v & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, ((v >> 16) & 0xff).toByte)
    val vp8x = riff("VP8X", new Array[Byte](4) ++ le24(1920 - 1) ++ le24(1080 - 1))
    // a RIFF that is NOT WebP (WAV) and a truncated WebP
    val wav = "RIFF".getBytes ++ Array[Byte](0, 0, 0, 0) ++ "WAVE".getBytes ++
      new Array[Byte](8)
    val shortWebp = "RIFF".getBytes ++ Array[Byte](0, 0, 0, 0) ++ "WEBP".getBytes
    // PDF: the page-tree ROOT's /Count dominates every subtree's
    val pdf = ("%PDF-1.7\n1 0 obj << /Type /Pages /Kids [...] /Count 3 >>\n" +
      "2 0 obj << /Type /Pages /Count 12 >>\nxref").getBytes
    val pdfNoCount = "%PDF-1.4\nno page tree here".getBytes
    val media = Seq((1L, vp8), (2L, vp8l), (3L, vp8x), (4L, wav),
      (5L, shortWebp), (6L, pdf), (7L, pdfNoCount))
      .toDF("doc_id", "payload")
      .withColumn("media_type", lit("application/octet-stream"))
    val sniffed = media.select(col("doc_id"),
      Multimodal.sniffFormat(col("payload")).as("f"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sniffed === Map(1L -> "webp", 2L -> "webp", 3L -> "webp",
      4L -> "riff", 5L -> "webp", 6L -> "pdf", 7L -> "pdf"))
    val meta = Multimodal.imageMeta(media).collect()
      .map(m => m.doc_id -> ((m.format, m.width, m.height, m.pages))).toMap
    assert(meta(1L) === (("webp", 640, 360, -1)))
    assert(meta(2L) === (("webp", 800, 600, -1)))
    assert(meta(3L) === (("webp", 1920, 1080, -1)))
    assert(meta(4L) === (("unknown", -1, -1, -1))) // WAV: riff, not parsed
    assert(meta(5L) === (("webp", -1, -1, -1)))    // truncated, never dropped
    assert(meta(6L) === (("pdf", -1, -1, 12)))
    assert(meta(7L) === (("pdf", -1, -1, -1)))
  }

  test("jpeg marker walk: 0xFF fill padding is skipped, EOI terminates") {
    // legal 0xFF fill bytes between segments (JPEG B.1.1.2) — the
    // pre-r13 walk fed the fill byte into the length-skip branch,
    // desynced, and reported (-1,-1)
    val padded = {
      val b = java.nio.ByteBuffer.allocate(2 + 18 + 2 + 2 + 9)
      b.put(Array(0xff, 0xd8).map(_.toByte))               // SOI
      b.put(Array(0xff, 0xe0).map(_.toByte)).putShort(16)  // APP0
        .put(new Array[Byte](14))
      b.put(Array(0xff, 0xff).map(_.toByte))               // fill run
      b.put(Array(0xff, 0xc0).map(_.toByte)).putShort(9)   // SOF0
        .put(8.toByte).putShort(1080.toShort).putShort(1920.toShort)
      b.array()
    }
    // EOI before any frame header: the walk must STOP there, never
    // read past the end of image into trailing garbage that happens
    // to look like a SOF segment
    val eoiThenGarbage = {
      val b = java.nio.ByteBuffer.allocate(2 + 18 + 2 + 2 + 9)
      b.put(Array(0xff, 0xd8).map(_.toByte))               // SOI
      b.put(Array(0xff, 0xe0).map(_.toByte)).putShort(16)  // APP0
        .put(new Array[Byte](14))
      b.put(Array(0xff, 0xd9).map(_.toByte))               // EOI
      b.put(Array(0xff, 0xc0).map(_.toByte)).putShort(9)   // fake SOF past EOI
        .put(8.toByte).putShort(99.toShort).putShort(77.toShort)
      b.array()
    }
    val media = Seq((1L, padded), (2L, eoiThenGarbage))
      .toDF("doc_id", "payload")
      .withColumn("media_type", lit("application/octet-stream"))
    val dims = Multimodal.imageMeta(media).collect()
      .map(m => m.doc_id -> ((m.format, m.width, m.height))).toMap
    assert(dims(1L) === (("jpeg", 1920, 1080)))
    assert(dims(2L) === (("jpeg", -1, -1)))
  }

  test("shuffle shards: deterministic, dense per-shard positions") {
    val df = (0L until 100L).toDF("doc_id")
    val a = Sampling.shuffleShards(df, col("doc_id"), nShards = 4)
      .select("doc_id", "shard", "pos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val b = Sampling.shuffleShards(df, col("doc_id"), nShards = 4)
      .select("doc_id", "shard", "pos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(a.sorted.sameElements(b.sorted)) // re-run identical
    assert(a.forall { case (_, s, _) => s >= 0 && s < 4 })
    // positions within each shard are 1..n with no gaps
    a.groupBy(_._2).values.foreach { g =>
      assert(g.map(_._3).sorted.sameElements(1L to g.size))
    }
    // a different salt reshuffles (at least one doc moves shard)
    val c = Sampling.shuffleShards(df, col("doc_id"), nShards = 4, salt = "other")
      .select("doc_id", "shard").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(c.toSet != a.map(t => (t._1, t._2)).toSet)
  }

  test("mixture resample: whole epochs replicate, fractions subsample") {
    val df = (0L until 200L).map(i => (i, if (i % 2 == 0) "en" else "cc"))
      .toDF("doc_id", "lang")
    val out = Sampling.mixtureResample(df, "lang", col("doc_id"),
      epochs = Map("en" -> 2.0, "cc" -> 0.5)).select("doc_id", "lang", "copy")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val en = out.filter(_._2 == "en")
    assert(en.length == 200) // every en doc exactly twice
    assert(en.groupBy(_._1).values.forall(_.map(_._3).sorted.sameElements(Seq(1L, 2L))))
    val cc = out.filter(_._2 == "cc")
    assert(cc.forall(_._3 == 1L))
    assert(cc.length > 20 && cc.length < 80) // ~half of the 100 cc docs
  }

  test("token budget plan: uncovered source fails fast, empty source reads 0 epochs, extra weight rows claim nothing") {
    val docs = Seq(
      (1L, "wiki", "alpha beta gamma delta"),
      (2L, "wiki", "epsilon zeta"),
      (3L, "cc", "one two three"),
      (4L, "empty", "")) // zero tokens available
      .toDF("doc_id", "source", "text")
    // a source missing from weights is a hard error, not a dropped row
    val partial = Seq(("wiki", 1L), ("cc", 1L)).toDF("source", "weight")
    val err = intercept[IllegalArgumentException] {
      Sampling.tokenBudgetPlan(docs, partial, 1, 2).collect()
    }
    assert(err.getMessage.contains("empty"))
    // full coverage plus an EXTRA weight row for a docless source: the
    // extra row must not claim budget (wSum is over covered sources)
    val weights = Seq(("wiki", 2L), ("cc", 1L), ("empty", 1L),
      ("ghost", 100L)).toDF("source", "weight")
    val plan = Sampling.tokenBudgetPlan(docs, weights, 1, 2)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(!plan.contains("ghost"))
    // 6+3+0 = 9 tokens total, budget 4, wSum 4 (ghost excluded)
    assert(plan("wiki") === ((6L, 2L, 2L, 3333L)))
    assert(plan("cc") === ((3L, 1L, 1L, 3333L)))
    // zero-token source: epochs 0, no division blowup
    assert(plan("empty") === ((0L, 1L, 1L, 0L)))
  }

  test("bm25: term-bearing docs rank above term-free, idf favors rarity") {
    val corpus = Seq(
      (1L, "spark spark spark runs fast"),
      (2L, "spark runs on a cluster today"),
      (3L, "merge is a rare operation word"),
      (4L, "plain filler text without hits here")).toDF("doc_id", "text")
    val got = Retrieval.bm25TopK(corpus, Seq("spark", "merge"), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(!got.contains(4L)) // no matching term, no row
    assert(got(1L) > got(2L)) // higher tf, same term
    assert(got(3L) > got(2L)) // rarer term (df 1 vs 2) outweighs
  }

  test("gopher rules: each gate trips on its own pathology") {
    val long50 = (1 to 50).map(i => s"word$i").mkString(" ") + " the of"
    val corpus = Seq(
      (1L, long50),                                    // healthy
      (2L, "too short the of"),                        // fails r_len
      (3L, (1 to 60).map(_ => "supercalifragilistic").mkString(" ") + " the of"), // r_wordlen + r_rep
      (4L, (1 to 52).map(i => s"word$i").mkString(" ")))  // no stopwords → r_stop
      .toDF("doc_id", "text")
    val got = TextOps.gopherRules(corpus).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Boolean]("r_len"), r.getAs[Boolean]("r_wordlen"),
          r.getAs[Boolean]("r_stop"), r.getAs[Boolean]("r_rep"),
          r.getAs[Boolean]("pass"))).toMap
    assert(got(1L)._5)
    assert(!got(2L)._1 && !got(2L)._5)
    assert(!got(3L)._2 && !got(3L)._4 && !got(3L)._5)
    assert(got(4L)._1 && !got(4L)._3 && !got(4L)._5)
  }

  test("boilerplate grams: only cross-doc repeated 8-grams surface") {
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    val corpus = Seq(
      (1L, shared + " unique1 tail1"),
      (2L, shared + " unique2 tail2"),
      (3L, "totally different words one two three four five six"))
      .toDF("doc_id", "text")
    val got = TextOps.boilerplateGrams(corpus, n = 8, minDf = 2, topK = 5)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.contains((shared, 2L)))
    // every surfaced gram really appears in ≥2 docs
    assert(got.forall(_._2 >= 2))
    assert(!got.exists(_._1.contains("different")))
  }

  test("semantic clusters: nearest centroid wins, one rep per cluster") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f), "a"),
      (2L, Array(0.9f, 0.1f), "a"),
      (3L, Array(0.0f, 1.0f), "b"),
      (4L, Array(0.1f, 0.9f), "b")).toDF("vec_id", "embedding", "label")
    val got = Similarity.assignClusters(vecs, Similarity.centroids(vecs))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(3))).toList
    // every vector stays with its generating cluster
    assert(got.forall { case (id, cl, _) =>
      cl == (if (id <= 2) "a" else "b") })
    // exactly one representative per cluster
    assert(got.count { case (_, cl, rep) => cl == "a" && rep } == 1)
    assert(got.count { case (_, cl, rep) => cl == "b" && rep } == 1)
  }

  test("funnel: stages require strictly-ordered step timestamps") {
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s)
    val ev = Seq(
      // user 10: full ordered funnel
      (1L, t("2024-01-01 09:00:00"), 10, "view"),
      (2L, t("2024-01-01 10:00:00"), 10, "click"),
      (3L, t("2024-01-01 11:00:00"), 10, "purchase"),
      // user 20: purchase BEFORE click → stage stops at 2
      (4L, t("2024-01-01 09:00:00"), 20, "view"),
      (5L, t("2024-01-01 09:30:00"), 20, "purchase"),
      (6L, t("2024-01-01 10:00:00"), 20, "click"),
      // user 30: click only, never a view → stage 0
      (7L, t("2024-01-01 09:00:00"), 30, "click"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val got = EventOps.funnel(ev, Seq("view", "click", "purchase"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got == Map(10 -> 3L, 20 -> 2L, 30 -> 0L))
  }

  test("asof join: latest strictly-prior ref event, null when none") {
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s)
    val ev = Seq(
      (1L, t("2024-01-01 09:00:00"), 10, "click"),
      (2L, t("2024-01-01 09:30:00"), 10, "click"),
      (3L, t("2024-01-01 10:00:00"), 10, "purchase"), // → 09:30 click
      (4L, t("2024-01-01 08:00:00"), 20, "purchase"), // no prior click → null
      (5L, t("2024-01-01 08:30:00"), 20, "click"),
      (6L, t("2024-01-01 08:30:00"), 20, "purchase")) // same-ts click sorts first → matched
      .toDF("event_id", "ts", "user_id", "event_type")
    val got = EventOps.asofJoin(ev, "purchase", "click")
      .collect().map(r => r.getLong(0) -> Option(r.getTimestamp(3))).toMap
    assert(got(3L).contains(t("2024-01-01 09:30:00")))
    assert(got(4L).isEmpty)
    assert(got(6L).contains(t("2024-01-01 08:30:00")))
  }

  test("groupCap keeps exactly maxPerGroup rows per group, deterministically") {
    val many = (1L to 40L).map(i => (i, s"src${i % 4}")).toDF("doc_id", "source")
    val r1 = Sampling.groupCap(many, Seq("source"), col("doc_id"), maxPerGroup = 3)
    val counts = r1.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.toSet == Set(3L))
    // ranks are 1..cap within each group
    val ranks = r1.select("source", "grp_rank").as[(String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    assert(ranks.values.forall(_ == Seq(1L, 2L, 3L)))
    // deterministic: a re-run selects the same rows
    assert(rowSet(r1) == rowSet(
      Sampling.groupCap(many, Seq("source"), col("doc_id"), maxPerGroup = 3)))
  }

  test("containment flags a sub-document that symmetric Jaccard misses") {
    val sub = Seq(
      (1L, "abcdefghij", "en", "s1"), // every 4-gram of 1 appears in 2
      (2L, "abcdefghijKLMNOPQRSTUVWXYZ0123", "en", "s1"),
      (3L, "zzzzyyyyxxxxwwww", "en", "s1"),
      (4L, "ab", "en", "s1")) // shorter than n → no grams, must not crash (ANSI /0)
      .toDF("doc_id", "text", "lang", "source")
    val cont = NgramJaccard.containmentPairsHashed(
      sub, Seq("lang", "source"), n = 4, threshold = 0.6)
      .select("doc_a", "doc_b", "containment").as[(Long, Long, Double)].collect()
    assert(cont.toSeq == Seq((1L, 2L, 1.0)))
    // the same pair is invisible to Jaccard at the same threshold:
    // 7 shared grams / 27 union ≈ 0.26
    val jac = NgramJaccard.nearDupPairsHashed(
      sub, Seq("lang", "source"), n = 4, threshold = 0.6)
    assert(jac.isEmpty)
  }

  test("quantizeInt8: known vector quantizes to exact int8 levels") {
    val e = Seq((1L, Array(0.5f, -1.0f, 0.25f), 0))
      .toDF("vec_id", "embedding", "label")
    // an all-zero vector must quantize to zeros, not ANSI-divide-by-zero
    val z = Similarity.quantizeInt8(
      Seq((9L, Array(0.0f, 0.0f), 0)).toDF("vec_id", "embedding", "label"))
      .collect().head
    assert(z.getAs[Double]("max_abs_r") == 0.0
      && z.getAs[Long]("sum_abs_q") == 0L && z.getAs[Double]("sse_r") == 0.0)
    val r = Similarity.quantizeInt8(e).collect().head
    assert(r.getAs[Long]("n_dims") == 3L)
    assert(r.getAs[Double]("max_abs_r") == 1.0)
    // q = round(0.5*127)=64 (HALF_UP), round(-127)=-127, round(31.75)=32
    assert(r.getAs[Long]("sum_abs_q") == 64L + 127L + 32L)
    // dequant SSE replayed with the operator's own rounding discipline
    val scale = 127.0
    def e2(x: Double, q: Long) = {
      val d = x - q / scale; BigDecimal(d * d)
        .setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val want = BigDecimal(e2(0.5, 64) + e2(-1.0, -127) + e2(0.25, 32))
      .setScale(10, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getAs[Double]("sse_r") == want)
  }

  test("knnClassify: majority label of the k nearest neighbors wins") {
    val corpus = Seq(
      (10L, Array(1.0f, 0.01f), 1),
      (11L, Array(0.99f, 0.0f), 1),
      (12L, Array(0.0f, 1.0f), 2),
      (13L, Array(0.1f, 0.9f), 2))
      .toDF("vec_id", "embedding", "label")
    val q = Seq((1L, Array(1.0f, 0.0f), 9)).toDF("vec_id", "embedding", "label")
    val got = Similarity.knnClassify(q, corpus, k = 3).collect().head
    assert(got.getAs[Long]("pred_label") == 1L)
    assert(got.getAs[Long]("n_votes") == 2L)
  }

  test("scd2: runs of equal event_type become validity intervals") {
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s)
    val ev = Seq(
      (1L, t("2024-01-01 09:00:00"), 10, "a"),
      (2L, t("2024-01-01 10:00:00"), 10, "a"), // same run
      (3L, t("2024-01-01 11:00:00"), 10, "b"),
      (4L, t("2024-01-01 12:00:00"), 10, "a")) // back to a: NEW version
      .toDF("event_id", "ts", "user_id", "event_type")
    val got = EventOps.scd2(ev).collect().map(r =>
      (r.getAs[Long]("version"), r.getAs[String]("event_type"),
        r.getAs[Timestamp]("valid_from"), Option(r.getAs[Timestamp]("valid_to")),
        r.getAs[Boolean]("is_current"))).sortBy(_._1)
    assert(got.toSeq == Seq(
      (1L, "a", t("2024-01-01 09:00:00"), Some(t("2024-01-01 11:00:00")), false),
      (2L, "b", t("2024-01-01 11:00:00"), Some(t("2024-01-01 12:00:00")), false),
      (3L, "a", t("2024-01-01 12:00:00"), None, true)))
  }

  test("weightedSample: monotone in weight, 0 drops all, 1 keeps all") {
    val df = (1L to 300L).map(i => (i, i % 10)).toDF("doc_id", "g")
    def kept(w: Double) = Sampling.weightedSample(df, col("doc_id"), lit(w))
      .select("doc_id").as[Long].collect().toSet
    val lo = kept(0.2); val hi = kept(0.6)
    assert(lo.subsetOf(hi)) // raising a weight can only ADD rows
    assert(kept(0.0).isEmpty && kept(1.0).size == 300)
    assert(math.abs(lo.size - 60) < 30) // ~rate·n of the keyspace
  }

  test("dedupGroupsKeepBest: highest-score member keeps, not min id") {
    // docs 1/2 are near-dups (one word changed); give doc 2 the higher score
    val scores = Seq((1L, 10L), (2L, 99L), (3L, 50L), (4L, 1L), (5L, 1L))
      .toDF("doc_id", "quality")
    val got = DedupGroups.dedupGroupsKeepBest(docs, scores, "quality", threshold = 0.2)
      .select("doc_id", "group_id", "score", "keep")
      .as[(Long, Long, Long, Boolean)].collect().toSet
    assert(got == Set((1L, 1L, 10L, false), (2L, 1L, 99L, true)))
  }

  test("dedupGroupsKeepBest: an unscored member still appears, sorted last") {
    val partial = Seq((1L, 10L)).toDF("doc_id", "quality") // doc 2 unscored
    val got = DedupGroups.dedupGroupsKeepBest(docs, partial, "quality", threshold = 0.2)
      .select("doc_id", "keep").as[(Long, Boolean)].collect().toMap
    // doc 2 must NOT vanish (a silent drop would leave the duplicate
    // uncurated); with no score it loses the keeper race
    assert(got == Map(1L -> true, 2L -> false))
  }

  test("count-min: estimates dominate exact counts; halves merge by summing") {
    val toks = docs.select(explode(split(col("text"), " ")).as("term"))
    val sketch = Sketches.countMinBuild(toks, "term")
    assert(sketch.count() <= 4 * 256)
    val q = Seq("the", "fox", "zzznope").toDF("term")
    val est = Sketches.countMinQuery(sketch, q, "term")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = toks.groupBy("term").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est("the") >= exact("the")) // "the" appears 2x in docs 1 and 2
    assert(exact("the") == 4L)
    assert(est("fox") >= exact("fox"))
    assert(est("zzznope") >= 0L)
    // a sketch built with a DIFFERENT depth still estimates correctly:
    // the query reads hash rows from the sketch, there is no depth
    // parameter to mismatch
    val shallow = Sketches.countMinBuild(toks, "term", depth = 2)
    val est2 = Sketches.countMinQuery(shallow, q, "term")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est2("the") >= exact("the"))
    // mergeability: sketch(all) == elementwise-sum(sketch(a), sketch(b))
    val h1 = Sketches.countMinBuild(
      docs.filter(col("doc_id") <= 2).select(explode(split(col("text"), " ")).as("term")), "term")
    val h2 = Sketches.countMinBuild(
      docs.filter(col("doc_id") > 2).select(explode(split(col("text"), " ")).as("term")), "term")
    val merged = h1.unionAll(h2).groupBy("j", "bucket")
      .agg(sum(col("cnt")).as("cnt"))
    assert(rowSet(merged) == rowSet(sketch))
  }

  test("retention: cohort day 0 counts every user, offsets count returns") {
    import java.sql.Timestamp
    val ev = Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00"), 10),
      (2L, Timestamp.valueOf("2024-01-01 11:00:00"), 10), // same user same day
      (3L, Timestamp.valueOf("2024-01-03 09:00:00"), 10), // returns at offset 2
      (4L, Timestamp.valueOf("2024-01-02 09:00:00"), 20)) // cohort of the 2nd
      .toDF("event_id", "ts", "user_id")
    val got = EventOps.retention(ev).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(
      ("2024-01-01", 0L, 1L), ("2024-01-01", 2L, 1L), ("2024-01-02", 0L, 1L)))
  }

  test("hardNegatives: band excludes self, near-dups above maxSim, and the floor") {
    def deg(d: Double) = Array(
      math.cos(math.toRadians(d)).toFloat, math.sin(math.toRadians(d)).toFloat)
    val corpus = Seq(
      (1L, deg(0.0)),   // the query itself — self-pair must not appear
      (2L, deg(2.0)),   // cos≈0.9994 ≥ maxSim 0.99 → a near-dup, EXCLUDED
      (3L, deg(25.0)),  // cos≈0.906 → the hardest in-band negative
      (4L, deg(60.0)),  // cos=0.5   → in band
      (5L, deg(85.0)))  // cos≈0.087 < minSim 0.1 → unrelated, excluded
      .toDF("vec_id", "embedding")
    val got = Similarity.hardNegatives(
      corpus.filter(col("vec_id") === 1L), corpus,
      k = 10, minSim = 0.1, maxSim = 0.99)
      .select("vec_id", "rank").as[(Long, Long)].collect().toSet
    assert(got == Set((3L, 1L), (4L, 2L)),
      s"band membership or ranking wrong: $got")
  }

  test("semanticDecontaminate: worst-hit audit flags only τ-close train vectors") {
    def deg(d: Double) = Array(
      math.cos(math.toRadians(d)).toFloat, math.sin(math.toRadians(d)).toFloat)
    val train = Seq(
      (1L, deg(1.0)),   // ~the test item paraphrase-close → contaminated
      (2L, deg(45.0)),  // cos≈0.71 to test(0°) — below τ=0.9 → clean
      (3L, deg(90.0)))  // orthogonal → clean
      .toDF("vec_id", "embedding")
    val test_ = Seq((100L, deg(0.0))).toDF("vec_id", "embedding")
    val got = Similarity.semanticDecontaminate(train, test_, threshold = 0.9)
      .select("vec_id", "contaminated").as[(Long, Boolean)].collect().toMap
    assert(got == Map(1L -> true, 2L -> false, 3L -> false))
    // every train vector reports its worst hit, flagged or not
    assert(Similarity.semanticDecontaminate(train, test_, 0.9).count() == 3)
    // EMPTY test set: all train rows still come back, clean, null worst
    // hit — a caller keeping contaminated=false must keep everything
    val emptyTest = test_.filter(col("vec_id") < 0)
    val clean = Similarity.semanticDecontaminate(train, emptyTest, 0.9)
      .collect().map(r => (r.getLong(0), r.isNullAt(1),
        r.getLong(2), r.getBoolean(3))).toSet
    assert(clean == Set((1L, true, 0L, false), (2L, true, 0L, false),
      (3L, true, 0L, false)))
  }

  test("semDedup: within-cluster near-dup drops to the smallest id, across clusters kept") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f), "a"),
      (2L, Array(0.99f, 0.05f), "a"),  // near-dup of 1 → dropped
      (3L, Array(0.7f, 0.7f), "a"),    // same cluster, far → kept
      (4L, Array(0.0f, 1.0f), "b"),    // other cluster → kept
      (5L, Array(0.05f, 0.99f), "b"))  // near-dup of 4 → dropped
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.semDedup(vecs, Similarity.centroids(vecs), threshold = 0.98)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(got == Map(1L -> true, 2L -> false, 3L -> true, 4L -> true, 5L -> false))
  }

  test("semDedupAgainst: kept-set probe, batch rule inside the batch, chain keeps c") {
    // one cluster; cos(a,b)=cos(b,c)=cos25°≈0.906 ≥ 0.9, cos(a,c)=cos50°≈0.643 < 0.9
    val a = Array(1.0f, 0.0f)
    val b = Array(math.cos(0.4363).toFloat, math.sin(0.4363).toFloat)
    val c = Array(math.cos(0.8727).toFloat, math.sin(0.8727).toFloat)
    val all = Seq((1L, a, "x"), (2L, b, "x"), (3L, c, "x"))
      .toDF("vec_id", "embedding", "label")
    val cent = Similarity.centroids(all)
    // batch rule: dropped b still shadows c → only a kept
    val batch = Similarity.semDedup(all, cent, threshold = 0.9)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(batch == Map(1L -> true, 2L -> false, 3L -> false))
    // online rule across batches: b was dropped in an earlier batch so
    // only kept {a} is probed → a later-batch c is KEPT (the batch rule
    // over {a,b,c} dropped it)
    val kept = Seq((1L, a, "x")).toDF("vec_id", "embedding", "label")
    val online = Similarity.semDedupAgainst(
      Seq((3L, c, "x")).toDF("vec_id", "embedding", "label"),
      kept, cent, threshold = 0.9)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(online == Map(3L -> true))
    // same batch: the smaller-id in-batch rule shadows like semDedup
    val oneBatch = Similarity.semDedupAgainst(
      Seq((2L, b, "x"), (3L, c, "x")).toDF("vec_id", "embedding", "label"),
      kept, cent, threshold = 0.9)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(oneBatch == Map(2L -> false, 3L -> false))
    // empty kept set ≡ the batch rule on the new batch alone
    val empty = Seq.empty[(Long, Array[Float], String)]
      .toDF("vec_id", "embedding", "label")
    val fresh = Similarity.semDedupAgainst(all, empty, cent, threshold = 0.9)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(fresh == batch)
  }

  test("dsirWeights: target-only vocabulary scores positive, raw-only negative") {
    // two disjoint one-word vocabularies hash to (whatever) buckets;
    // the target doc's bucket is target-heavy → positive log-ratio
    val d = Seq(
      (1L, "alpha alpha alpha alpha", true),
      (2L, "omega omega omega omega", false))
      .toDF("doc_id", "text", "tgt")
    val got = Sampling.dsirWeights(d, col("tgt"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got(1L) > 0 && got(2L) < 0)
    // weights replay bit-identically
    val again = Sampling.dsirWeights(d, col("tgt"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(again == got)
  }

  test("budgetSelect: best-score prefix under the token budget, exact cut") {
    val d = Seq(
      (1L, 9000L, 40L), (2L, 8000L, 40L), (3L, 7000L, 40L), (4L, 6000L, 40L))
      .toDF("doc_id", "score", "n_tok")
    // total 160 tokens, 50% budget = 80 → exactly the top-2 fit
    val got = Sampling.budgetSelect(d, col("doc_id"), col("score"),
      col("n_tok"), budgetPct = 50)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSet
    assert(got == Set((1L, 40L), (2L, 80L)))
    // bands narrower than the score spacing must not change the cut
    val banded = Sampling.budgetSelect(d, col("doc_id"), col("score"),
      col("n_tok"), budgetPct = 50, bandWidth = 100)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSet
    assert(banded == got)
  }

  test("fimTransform: PSM reassembly is lossless, pass-through docs verbatim") {
    // doc 0: (0*h) % anything = 0 → applied (0 < 500), lo = hi = 0 →
    // empty prefix AND middle, the whole text in the suffix slot;
    // doc_ids chosen so both branches of the 50% gate appear
    val docs = Seq(
      (0L, "abcdefghij"),
      (1L, "abcdefghij"),
      (2L, "klmnopqrst"),
      (3L, "")).toDF("doc_id", "text")
    val got = TextOps.fimTransform(docs, ratePermille = 500)
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getString(5)))).toMap
    // the apply gate: (id * 2654435761) % 1000 < 500
    def applied(id: Long) = (id * 2654435761L) % 1000 < 500
    assert(got.keySet.forall(id => got(id)._1 == applied(id)))
    assert(got(0L) === ((true, 0L, 0L, 10L, "<PRE><SUF>abcdefghij<MID>")))
    // every applied doc reassembles losslessly: prefix+middle+suffix
    // lengths cover the text, and the three segments re-concatenate
    // to the original in prefix-middle-suffix order
    for ((id, (app, np, nm, ns, out)) <- got) {
      assert(np + nm + ns === (if (id == 3L) 0L else 10L))
      if (app) {
        val pre = out.stripPrefix("<PRE>")
        val (p, rest) = pre.splitAt(pre.indexOf("<SUF>"))
        val body = rest.stripPrefix("<SUF>")
        val (suf, mid0) = body.splitAt(body.indexOf("<MID>"))
        val mid = mid0.stripPrefix("<MID>")
        assert(p.length == np && mid.length == nm && suf.length == ns)
        assert(p + mid + suf ===
          (if (id == 3L) "" else if (id == 2L) "klmnopqrst" else "abcdefghij"))
      } else assert(out === "abcdefghij" || out === "klmnopqrst")
    }
  }

  test("fimTransform: reduced-mod hashes never overflow — huge doc_ids keep rate semantics") {
    // the naive id·2654435761 wraps negative for id ≥ ~3.5e9, forcing
    // fim_applied true at ANY rate (r13 ADVICE); the reduced form is
    // value-identical on small ids and overflow-free on huge ones
    val docs = Seq(
      (4000000000L, "abcdefghij"),
      (Long.MaxValue - 1, "abcdefghij")).toDF("doc_id", "text")
    // rate 0: nothing may apply, however the hash wraps
    val none = TextOps.fimTransform(docs, ratePermille = 0).collect()
    assert(none.forall(!_.getBoolean(1)), "rate 0 must apply to nothing")
    // rate 1000: everything applies, and the cut offsets stay in [0, n]
    val all = TextOps.fimTransform(docs, ratePermille = 1000).collect()
    assert(all.forall(_.getBoolean(1)))
    for (r <- all) {
      val (np, nm, ns) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(np >= 0 && nm >= 0 && ns >= 0 && np + nm + ns === 10L,
        s"offsets must stay non-negative and cover the text: $r")
      // reduced form ≡ the mathematical (id·c) mod m, computed exactly
      val id = BigInt(r.getLong(0))
      val lo = ((id * 7919) % 11).min((id * 104729) % 11).toLong
      assert(np === lo, "cuts must equal the exact modular product")
    }
  }

  test("collapseRepeats: the split is bound once, not re-evaluated per element") {
    // the O(n²) regression guard (r13 ADVICE): the optimized plan must
    // carry exactly ONE split(text), in its own projection below the
    // lambda's — CollapseProject must not re-inline it into the
    // element_at lookup (interpreted HOF bodies get no subexpression
    // elimination, so an inlined split re-tokenizes per ELEMENT)
    // spark.range (not a local Seq) so ConvertToLocalRelation can't
    // constant-fold the whole plan away before the shape is visible
    val docs = spark.range(3).select(col("id").as("doc_id"),
      concat(lit("w"), col("id").cast("string"), lit(" a a b")).as("text"))
    val plan = TextOps.collapseRepeats(docs)
      .queryExecution.optimizedPlan.toString
    val nSplits = "split\\(".r.findAllIn(plan).length
    assert(nSplits === 1, s"expected one bound split, got $nSplits in:\n$plan")
  }

  test("spanCorrupt: sentinels number sequentially, targets hold exactly the masked words") {
    // 23 words: spans at 0-2 and 20-22 → 6 masked, 2 sentinels
    val words = (0 until 23).map(i => s"w$i")
    val docs = Seq((1L, words.mkString(" ")), (2L, "a b")).toDF("doc_id", "text")
    val got = TextOps.spanCorrupt(docs, every = 20, spanLen = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getString(2), r.getLong(3), r.getLong(4),
          r.getLong(5)))).toMap
    val (inp, tgt, nW, nM, nS) = got(1L)
    assert((nW, nM, nS) === ((23L, 6L, 2L)))
    assert(inp === ("<extra_id_0> " + (3 until 20).map(i => s"w$i")
      .mkString(" ") + " <extra_id_1>"))
    assert(tgt === "<extra_id_0> w0 w1 w2 <extra_id_1> w20 w21 w22")
    // a 2-word doc: one clipped span masks everything
    assert(got(2L) === (("<extra_id_0>", "<extra_id_0> a b", 2L, 2L, 1L)))
    // corruption is lossless: masked + surviving words = all words
    val survivors = inp.split(" ").filterNot(_.startsWith("<extra_id_"))
    val masked = tgt.split(" ").filterNot(_.startsWith("<extra_id_"))
    assert((survivors ++ masked).sorted.toSeq === words.sorted)
  }

  test("decontamSurgery: the leaked span is cut everywhere, clean words survive") {
    import graft.operators.Decontaminate
    val eval = Seq((0L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val evalGrams = Decontaminate.evalGramSet(eval, n = 6)
    val bloom = Decontaminate.bloomBytesOf(evalGrams)
    val corpus = Seq(
      // the 6-word prompt embedded mid-doc: exactly its 6 words cut
      (10L, "intro words alpha beta gamma delta epsilon zeta outro words"),
      // clean doc: untouched
      (11L, "totally clean document with enough words to keep whole"),
      // shorter than 6 words: no gram can exist, untouched
      (12L, "short clean doc")).toDF("doc_id", "text")
    val got = Decontaminate.decontamSurgery(corpus, evalGrams, bloom, n = 6)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(10L) === ((10L, 6L, "intro words outro words")),
      "the leaked span must be cut, the surrounding words kept")
    assert(got(11L) === ((9L, 0L,
      "totally clean document with enough words to keep whole")))
    assert(got(12L) === ((3L, 0L, "short clean doc")))
    // unlike spanDedup there is NO first-occurrence keeper: a second
    // doc carrying the same leak is cut the same way
    val again = Decontaminate.decontamSurgery(
      Seq((20L, "alpha beta gamma delta epsilon zeta tail"),
        (21L, "alpha beta gamma delta epsilon zeta tail"))
        .toDF("doc_id", "text"), evalGrams, bloom, n = 6)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(again === Map(20L -> "tail", 21L -> "tail"))
  }

  test("collapseRepeats: any run length collapses in one pass, order stable") {
    val docs = Seq(
      (1L, "the the the cat sat sat on on on on the mat"),
      (2L, "no repeats here at all"),
      (3L, "loop loop loop loop loop"),
      (4L, "a b a b a")).toDF("doc_id", "text")
    val got = TextOps.collapseRepeats(docs)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) === ((12L, 6L, "the cat sat on the mat")))
    assert(got(2L) === ((5L, 0L, "no repeats here at all")))
    assert(got(3L) === ((5L, 4L, "loop")))
    // alternation is NOT immediate repetition: untouched
    assert(got(4L) === ((5L, 0L, "a b a b a")))
  }

  test("spanDedup: duplicated 8-gram cut keeps the first occurrence only") {
    val docs = Seq(
      (0L, "a b c d e f g h x"),                    // first site of abcdefgh
      (1L, "z a b c d e f g h"),                    // later site → span cut
      (2L, "p q r s t u v w p q r s t u v w"),      // self-repetition
      (3L, "short doc no grams")                    // < 8 words: untouched
    ).toDF("doc_id", "text")
    val got = TextOps.spanDedup(docs, l = 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(0L) === ((9L, 0L, "a b c d e f g h x")))
    assert(got(1L) === ((9L, 8L, "z")))
    assert(got(2L) === ((16L, 8L, "p q r s t u v w")))
    assert(got(3L) === ((4L, 0L, "short doc no grams")))
  }
}
