package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer LEARNING and application — the
  * "train the tokenizer on the corpus" stage of an LLM data pipeline,
  * distributed the way the cost law wants it:
  *
  *   - The ONE corpus-sized job is [[wordFreq]] — a single
  *     explode + partially-aggregated groupBy producing the
  *     (word, freq) vocabulary. At 100 TB of text the distinct-word
  *     frame is ~10⁷–10⁸ rows — thousands of times smaller than the
  *     corpus — and every learning round after it runs on THAT frame,
  *     never on raw text again (exactly how sentencepiece/HF trainers
  *     operate: BPE statistics are word-frequency-weighted, so the
  *     aggregate is lossless for learning).
  *   - Each merge round is: adjacent-pair counts over the vocab frame
  *     (weighted by word freq, one partial-aggregated groupBy), a
  *     driver-collected ARGMAX of exactly one row (the k-means-centroid
  *     pattern — bounded driver state, never the data), and a
  *     codegen'd higher-order-function fold applying the merge. The
  *     vocab frame is localCheckpoint'ed per round so round k's plan
  *     never re-embeds folds 1..k-1 (the fused-iteration blowup
  *     [[Graph]] hit at 30× — same medicine, applied from day one).
  *   - Encoding a corpus with the learned merges never re-runs the
  *     fold per occurrence: [[encodeStats]] joins document words to the
  *     ALREADY-ENCODED vocabulary (token count per distinct word) —
  *     the per-word memoization real tokenizers use, as a join. The
  *     vocab side broadcasts by default; pass `broadcastVocab=false`
  *     for a shuffle join when the vocabulary itself is huge.
  *
  * Merge-application semantics are the standard greedy left-to-right
  * rule: scan the symbol sequence once, merging every non-overlapping
  * adjacent (lhs, rhs) as soon as it is seen — `aa a` from `a a a`,
  * `aa aa` from `a a a a`. Ties in the per-round argmax break on
  * (count DESC, lhs ASC, rhs ASC) so two engines (or two runs) always
  * learn the identical merge table. Used by q179/q180; oracle-pinned
  * against a DuckDB re-implementation of the same recurrence.
  */
object Bpe {

  /** One learned merge: 1-based rank, the two symbols merged, and the
    * freq-weighted adjacent-pair count that made it the round's argmax. */
  final case class Merge(rank: Int, lhs: String, rhs: String, pairCount: Long)

  /** (w, freq) vocabulary of a whitespace-tokenized text column — the
    * single corpus-sized scan in BPE learning. Map-side partial
    * aggregation does the heavy lifting; the shuffle moves only
    * (word, partial-count) pairs. */
  def wordFreq(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode(split(col(textCol), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))

  /** Seed state: each word as its character sequence. `split(w, '')`
    * can emit a trailing empty token depending on engine/version, so
    * empties are filtered — the symbol alphabet is exactly the
    * characters of the vocabulary. */
  private def initialSymbols(words: DataFrame): DataFrame =
    words.select(col("w"), col("freq"),
      filter(split(col("w"), ""), x => x =!= lit("")).as("syms"))

  private def sqlStr(s: String): String =
    s.replace("\\", "\\\\").replace("'", "\\'")

  /** Greedy left-to-right merge of adjacent (lhs, rhs) occurrences in
    * the `syms` array as a Catalyst `aggregate` fold — the
    * oracle-replayable SQL spelling. Since round 15 the learn/apply
    * hot paths run [[graft.functions.BpeFold]] instead (one native
    * expression for a whole merge table: constant code size at any
    * depth, no 64 KB codegen fallback, no per-merge array copies);
    * this form stays as the equivalence-tested slow sibling
    * (BpeSpec pins `bpe_fold ≡ chained aggregate folds`). */
  private[graft] def applyMerge(lhs: String, rhs: String): Column = {
    val l = sqlStr(lhs); val r = sqlStr(rhs); val m = sqlStr(lhs + rhs)
    expr(
      s"""aggregate(syms, cast(array() as array<string>), (acc, x) ->
         |  IF(size(acc) > 0 AND element_at(acc, -1) = '$l' AND x = '$r',
         |     concat(slice(acc, 1, size(acc) - 1), array('$m')),
         |     concat(acc, array(x))))""".stripMargin)
  }

  /** Signed adjacent-pair instances of a (freq, syms) state, BEFORE
    * aggregation: one row per adjacent-pair occurrence, freq weighted
    * by `sign`. [[learnDelta]] unions a +1 after-state with a -1
    * before-state so ONE aggregate yields the exact per-pair count
    * delta of a merge round. The index struct names the fields
    * explicitly (arrays_zip field naming varies with expression shape
    * across Spark versions). */
  private def signedPairs(syms: DataFrame, sign: Int): DataFrame =
    syms.filter(size(col("syms")) >= 2)
      .select((col("freq") * sign).as("freq"), explode(expr(
        "transform(sequence(1, size(syms) - 1), " +
          "i -> struct(element_at(syms, i) AS lhs, element_at(syms, i + 1) AS rhs))"))
        .as("p"))
      .select(col("freq"), col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))

  /** Freq-weighted adjacent-pair counts of the current symbol state. */
  private def pairCounts(syms: DataFrame): DataFrame =
    signedPairs(syms, 1)
      .groupBy(col("lhs"), col("rhs")).agg(sum(col("freq")).as("pair_count"))

  /** True iff `syms` contains at least one adjacent (lhs, rhs) — the
    * exact condition under which [[applyMerge]] is NOT the identity on
    * the word. The short row is guarded with a lazy IF (sequence(1, 0)
    * is DESCENDING in Spark, so the unguarded transform would probe
    * element_at(syms, 0) and throw on single-symbol words). Like
    * [[applyMerge]], the SQL spelling is now the spec-pinned slow
    * sibling of [[graft.functions.BpeFold.bpe_has_adjacent]]. */
  private[graft] def hasAdjacent(lhs: String, rhs: String): Column = {
    val l = sqlStr(lhs); val r = sqlStr(rhs)
    expr(
      s"""IF(size(syms) < 2, false, exists(
         |  transform(sequence(1, size(syms) - 1),
         |    i -> element_at(syms, i) = '$l' AND element_at(syms, i + 1) = '$r'),
         |  x -> x))""".stripMargin)
  }

  /** Learn up to `nMerges` BPE merges over a (w, freq) vocabulary.
    * Returns the merge table and the final per-word symbol state
    * (w, freq, syms) — the encoded vocabulary [[encodeStats]] joins
    * against. Stops early (with fewer merges) once no adjacent pair
    * remains. Driver state is ONE (lhs, rhs, count) row per round.
    * This is [[learnBatched]] with one merge per round. */
  def learn(words: DataFrame, nMerges: Int): (Seq[Merge], DataFrame) =
    learnBatched(words, nMerges, batchSize = 1)

  /** Continue BPE learning from a persisted tokenizer: `state` is the
    * (w, freq, syms) vocabulary state a prior learn returned (or
    * [[readTokenizer]] reloaded), `prior` its merge table; learns
    * `nMore` additional merges with ranks continuing after the table
    * and returns the COMPOSED table plus the new state. Greedy BPE is
    * prefix-stable — the first k merges of learn(k+m) ARE learn(k) —
    * so `learnContinue(learn(k)) ≡ learn(k+m)` exactly (BpeSpec law;
    * q196 gates the composed table against q179's oracle SQL unchanged
    * through a real write → read → continue cycle). This is the
    * tokenizer-lifecycle operator: when [[graft.streaming
    * .StreamingBpeDrift]]'s fertility/OOV monitor fires, the
    * production vocabulary extends by `nMore` merges from its
    * persisted state — no retraining from characters, no re-scan of
    * the original corpus. */
  def learnContinue(
      state: DataFrame,
      prior: Seq[Merge],
      nMore: Int): (Seq[Merge], DataFrame) = {
    require(nMore >= 1, "Bpe.learnContinue needs nMore >= 1")
    recountLoop(state.select(col("w"), col("freq"), col("syms")), prior,
      nMore, batchSize = 1)
  }

  /** Rebuild the (w, freq, syms) encoder state of a FRESH (w, freq)
    * vocabulary under a frozen merge table: the WHOLE table as one
    * native greedy fold in rank order ([[graft.functions.BpeFold]] —
    * constant code size at any depth; the pre-r15 chained-lambda
    * spelling checkpointed every 8 merges and still hit the 64 KB
    * codegen ceiling at ~1024-merge depth). One scan, one checkpoint.
    * The state twin of [[encodeTokens]]'s memoized join — use it when
    * only the merge table was persisted, or to bring a NEW corpus
    * slice (tomorrow's crawl, a new source) under the production
    * vocabulary before [[learnContinue]] / [[encodeStats]].
    * `applyMerges(wordFreq(docs), learn(k).merges)` reproduces
    * learn(k)'s final state exactly (BpeSpec law).
    *
    * Tables at or past [[indexedFoldThreshold]] run the PAIR-INDEXED
    * fold ([[graft.functions.BpeFold.bpe_fold_indexed]] — identical
    * output, spec-pinned): the flat fold sweeps every word once per
    * table row, so an unseen word at production depth paid
    * O(len × 32k) mostly-identity sweeps; the index makes per-word
    * cost track the pairs actually present (r16 encode A/B, 925abfb:
    * depth 32k over a 141k-distinct-word OOV frame under an adversarially DENSE
    * table: flat 3.5k words/s → indexed 156k words/s, 44.9×; parity
    * already at depth 64 — crossover measured 1.1×). Shallow
    * per-round learning folds stay on the flat sweep (a 1-16 pair
    * table is cheaper to sweep than to hash). */
  def applyMerges(words: DataFrame, merges: Seq[Merge]): DataFrame = {
    val pairs = merges.sortBy(_.rank).map(m => (m.lhs, m.rhs))
    val fold =
      if (pairs.size >= indexedFoldThreshold)
        graft.functions.BpeFold.bpe_fold_indexed(col("syms"), pairs)
      else graft.functions.BpeFold.bpe_fold(col("syms"), pairs)
    initialSymbols(words)
      .withColumn("syms", fold)
      .localCheckpoint(false) // lazy: the caller's first job materializes
  }

  /** Depth at which [[applyMerges]] switches from the flat fold to the
    * pair-indexed one — the r16 encode A/B (925abfb) measured the
    * indexed form already ~at parity by depth 64 and two orders of magnitude ahead at 32k. */
  private[graft] val indexedFoldThreshold = 64

  /** Persist a learned tokenizer — the merge table and the encoded
    * vocabulary state — as two parquet tables under `path`. The state
    * table is what makes the artifact USEFUL at scale: encoding needs
    * only the (w, syms) join side and continuation needs (w, freq,
    * syms), so neither ever replays the merge folds; the merge table
    * rides along as the small authoritative recurrence record (and the
    * [[applyMerges]] input for vocabularies the state table has never
    * seen). */
  def writeTokenizer(
      path: String, merges: Seq[Merge], state: DataFrame): Unit = {
    val spark = state.sparkSession
    mergesDf(spark, merges)
      .write.mode("overwrite").parquet(s"$path/merges")
    state.select(col("w"), col("freq"), col("syms"))
      .write.mode("overwrite").parquet(s"$path/state")
  }

  /** Reload a [[writeTokenizer]] artifact: (merge table in rank order,
    * vocabulary state frame). The merge table is driver-held — it is
    * vocabulary-bounded (one row per merge, 32k rows for a production
    * tokenizer), the same envelope every learn call already holds. */
  def readTokenizer(spark: org.apache.spark.sql.SparkSession,
      path: String): (Seq[Merge], DataFrame) = {
    val merges = spark.read.parquet(s"$path/merges")
      .orderBy(col("rank"))
      .collect()
      .map(r => Merge(r.getAs[Long]("rank").toInt, r.getAs[String]("lhs"),
        r.getAs[String]("rhs"), r.getAs[Long]("pair_count")))
      .toSeq
    (merges, spark.read.parquet(s"$path/state"))
  }

  /** Batched BPE learning: up to `batchSize` merges per round instead
    * of one, cutting the round count for a V-merge vocabulary from V to
    * ~V/batchSize — [[learn]]'s fixed per-round overhead (one vocab
    * recount + one driver round-trip + one checkpoint), not the data,
    * is what bounds a real 32k-merge vocabulary, so rounds are the
    * axis to compress (the standard batched-BPE trick; the round-count
    * law was measured in r8, ec21277, and at depth in r14/r15 — README
    * "BPE learning at vocabulary depth").
    *
    * Per round, deterministically:
    *   1. rank the adjacent-pair counts by (count DESC, lhs, rhs) and
    *      keep the top 4·batchSize candidates —
    *      driver state stays bounded by the pool, never the pair table;
    *   2. a candidate is DISQUALIFIED if it shares a symbol with ANY
    *      higher-ranked pool candidate — lhs/rhs overlapping the
    *      higher pick's {lhs, rhs, lhs||rhs}, or producing the higher
    *      pick's lhs/rhs as its own merged symbol. (Rank-prefix
    *      conflict, not accepted-set greedy: the rule is a pure
    *      per-candidate predicate, so the DuckDB oracle replays it as
    *      one anti-join instead of a sequential recurrence.)
    *   3. the first `batchSize` surviving candidates are accepted and
    *      applied IN RANK ORDER as chained greedy folds, then the
    *      round checkpoints once.
    * Pair counts recorded for a round are from the round's START state
    * (the count that ranked the candidate), exactly like [[learn]].
    * Mutually non-conflicting merges touch disjoint symbols, so the
    * chained application equals applying each alone.
    *
    * `learnBatched(words, k, 1) ≡ learn(words, k)` (the top-1 candidate
    * never conflicts — BpeSpec pins the law), and a round whose pairs
    * ran out stops early with fewer merges. Equivalence to SEQUENTIAL
    * BPE for batchSize > 1 holds when no within-round pick interacts
    * with another and no pair created mid-round would have outranked
    * the batch — the usual batched-BPE caveat; the merge table is its
    * own deterministic, oracle-replayable recurrence either way. */
  def learnBatched(
      words: DataFrame,
      nRounds: Int,
      batchSize: Int): (Seq[Merge], DataFrame) = {
    require(nRounds >= 1, "Bpe.learnBatched needs nRounds >= 1")
    require(batchSize >= 1, "Bpe.learnBatched needs batchSize >= 1")
    recountLoop(initialSymbols(words), prior = Nil, nRounds, batchSize)
  }

  /** The recount recurrence behind [[learn]], [[learnContinue]] and
    * [[learnBatched]]: `nRounds` rounds of pool collect → batch → one
    * native fold → checkpoint over the seed `state`, ranks continuing
    * after `prior`. Checkpoints are LAZY: the round's one action, the
    * pool collect, materializes the state it reads, so no round pays a
    * dedicated checkpoint job (the loop is action-bound, r16 profile). */
  private def recountLoop(
      state: DataFrame,
      prior: Seq[Merge],
      nRounds: Int,
      batchSize: Int): (Seq[Merge], DataFrame) = {
    val blocks = new Blocks
    var syms = blocks.checkpoint(state, eager = false)
    val merges = mutable.ArrayBuffer.from(prior)
    var round = 0
    var exhausted = false
    while (round < nRounds && !exhausted) {
      val batch = nextBatch(pairCounts(syms), batchSize, merges)
      if (batch.isEmpty) exhausted = true
      else {
        // whole batch in ONE native fold (rank order) — the chained
        // aggregate lambdas here were the depth run's 64 KB ceiling
        val next = blocks.checkpoint(syms.withColumn("syms",
          graft.functions.BpeFold.bpe_fold(col("syms"), batch)), eager = false)
        blocks.retire(syms)
        syms = next
      }
      round += 1
    }
    (merges.toSeq, syms)
  }

  /** The round's one action, shared by both learn loops: the top
    * 4·batchSize rows of a (lhs, rhs, pair_count) frame by (count DESC,
    * lhs, rhs) — driver state bounded by the pool, never the pair table
    * — filtered by [[acceptBatch]], appended to `merges` with the next
    * ranks, and returned as the (lhs, rhs) pairs to fold in rank order.
    * Empty once no pair remains. */
  private def nextBatch(counts: DataFrame, batchSize: Int,
      merges: mutable.ArrayBuffer[Merge]): Seq[(String, String)] = {
    val batch = acceptBatch(counts
      .orderBy(col("pair_count").desc, col("lhs"), col("rhs"))
      .limit(4 * batchSize).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq,
      batchSize)
    batch.foreach { case (l, r, c) => merges += Merge(merges.size + 1, l, r, c) }
    batch.map { case (l, r, _) => (l, r) }
  }

  /** The rank-prefix conflict rule shared by [[learnBatched]] and
    * [[learnDelta]]: a pool candidate is disqualified if it shares a
    * symbol with ANY higher-ranked candidate (its lhs/rhs overlapping
    * the higher pick's {lhs, rhs, lhs||rhs}, or its own merged symbol
    * colliding with the higher pick's lhs/rhs); the first `batchSize`
    * survivors are accepted in rank order. */
  private def acceptBatch(
      top: Seq[(String, String, Long)],
      batchSize: Int): Seq[(String, String, Long)] = {
    val accepted = Seq.newBuilder[(String, String, Long)]
    var nAccepted = 0
    top.zipWithIndex.foreach { case ((l, r, c), i) =>
      val conflicts = top.take(i).exists { case (hl, hr, _) =>
        val hs = Set(hl, hr, hl + hr)
        hs(l) || hs(r) || (l + r) == hl || (l + r) == hr
      }
      if (!conflicts && nAccepted < batchSize) {
        accepted += ((l, r, c))
        nAccepted += 1
      }
    }
    accepted.result()
  }

  /** DELTA-maintained BPE learning: identical merge table and final
    * symbol state to [[learn]] (batchSize = 1) / [[learnBatched]]
    * (batchSize > 1), but the adjacent-pair counts are MAINTAINED
    * across rounds instead of recounted from the whole vocabulary —
    * the incremental-statistics trick every fast single-node BPE
    * trainer uses (subword-nmt, HF tokenizers), re-expressed as
    * bounded DataFrame deltas:
    *
    *   - a merge of (l, r) changes the pair counts of ONLY the words
    *     with an adjacent (l, r) — for everything else the greedy fold
    *     is the identity. The round filters those words ([[hasAdjacent]],
    *     a scan predicate, no shuffle), unions their +after / -before
    *     pair instances ([[signedPairs]]) and aggregates ONCE into the
    *     round's exact count delta — a frame bounded by the affected
    *     words' pair variety, not the vocabulary;
    *   - the maintained count table is NEVER shuffled: existing pairs
    *     update through a broadcast LEFT join with the delta, and
    *     brand-new pairs (keys absent from the table) arrive through a
    *     broadcast anti join of the delta against the matched key set —
    *     a full-outer join decomposed so the big side only scans.
    *     `broadcastDelta = false` is the escape hatch: one shuffled
    *     full-outer join for delta frames too large to broadcast
    *     (earliest rounds of an enormous corpus);
    *   - the symbol fold itself is guarded per word
    *     (`when(affected, fold)`), so unaffected words — the vast
    *     majority once the Zipf head is merged — never execute the
    *     merge expression at all.
    *
    * Per round this replaces [[learn]]'s full explode + recount of
    * every adjacent pair instance (O(total symbols) rows into a
    * vocabulary-wide aggregate) with work proportional to the words
    * the merge actually touches, at the price of one extra small
    * checkpoint (the delta) per round — the data-axis lever that
    * composes with [[learnBatched]]'s round-axis lever (both measured
    * on an inflated vocabulary from f9c8333 on — README "Delta-maintained
    * pair counts"). Argmax, tiebreak,
    * pool ranking and the rank-prefix conflict rule are byte-for-byte
    * the [[learn]]/[[learnBatched]] recurrences over the maintained
    * table, so the equivalence is exact (BpeSpec pins it; q195 gates
    * it against q179's oracle SQL unchanged). */
  def learnDelta(
      words: DataFrame,
      nRounds: Int,
      batchSize: Int = 1,
      broadcastDelta: Boolean = true): (Seq[Merge], DataFrame) = {
    require(nRounds >= 1, "Bpe.learnDelta needs nRounds >= 1")
    require(batchSize >= 1, "Bpe.learnDelta needs batchSize >= 1")
    val blocks = new Blocks
    var syms = blocks.checkpoint(initialSymbols(words), eager = false)
    var counts = blocks.checkpoint(pairCounts(syms), eager = false)
    val merges = mutable.ArrayBuffer.empty[Merge]
    var round = 0
    var exhausted = false
    while (round < nRounds && !exhausted) {
      val batchPairs = nextBatch(counts, batchSize, merges)
      if (batchPairs.isEmpty) exhausted = true
      else {
        val affectedPred =
          graft.functions.BpeFold.bpe_has_adjacent(col("syms"), batchPairs)
        val affected = syms.filter(affectedPred)
          .select(col("freq"), col("syms"))
        val after = affected.withColumn("syms",
          graft.functions.BpeFold.bpe_fold(col("syms"), batchPairs))
        // exact per-pair delta of the round, checkpointed once (it is
        // read by three joins below — all inside the next count
        // table's plan, so the next round's collect materializes it)
        val delta = blocks.checkpoint(
          signedPairs(after, 1).union(signedPairs(affected, -1))
            .groupBy(col("lhs"), col("rhs"))
            .agg(sum(col("freq")).as("d"))
            .filter(col("d") =!= 0), eager = false)
        val nextCounts =
          if (broadcastDelta) {
            val updated = counts
              .join(broadcast(delta), Seq("lhs", "rhs"), "left")
              .select(col("lhs"), col("rhs"),
                (col("pair_count") + coalesce(col("d"), lit(0L)))
                  .as("pair_count"))
              .filter(col("pair_count") > 0)
            val matched = counts
              .join(broadcast(delta.select(col("lhs"), col("rhs"))),
                Seq("lhs", "rhs"), "inner")
              .select(col("lhs"), col("rhs"))
            val fresh = delta
              .join(broadcast(matched), Seq("lhs", "rhs"), "left_anti")
              .filter(col("d") > 0)
              .select(col("lhs"), col("rhs"), col("d").as("pair_count"))
            updated.unionByName(fresh)
          } else {
            counts.join(delta, Seq("lhs", "rhs"), "full_outer")
              .select(col("lhs"), col("rhs"),
                (coalesce(col("pair_count"), lit(0L)) +
                  coalesce(col("d"), lit(0L))).as("pair_count"))
              .filter(col("pair_count") > 0)
          }
        // the guarded fold: unaffected words short-circuit past the
        // merge fold instead of running k identity sweeps
        val nextSyms = syms.withColumn("syms",
          when(affectedPred,
            graft.functions.BpeFold.bpe_fold(col("syms"), batchPairs))
            .otherwise(col("syms")))
        val cpCounts = blocks.checkpoint(nextCounts, eager = false)
        val cpSyms = blocks.checkpoint(nextSyms, eager = false)
        Seq(counts, delta, syms).foreach(blocks.retire)
        counts = cpCounts
        syms = cpSyms
      }
      round += 1
    }
    (merges.toSeq, syms)
  }

  /** Merge table as a DataFrame: (rank, lhs, rhs, pair_count). */
  def mergesDf(spark: org.apache.spark.sql.SparkSession,
      merges: Seq[Merge]): DataFrame = {
    import spark.implicits._
    merges.toDF("rank", "lhs", "rhs", "pair_count")
      .select(col("rank").cast("bigint").as("rank"), col("lhs"), col("rhs"),
        col("pair_count"))
  }

  /** Per-document tokenization stats under an encoded vocabulary
    * (the (w, freq, syms) frame [[learn]] returns): word, character
    * and BPE-token counts. The fold already ran ONCE per distinct
    * word; this is a join + aggregate, so the corpus-sized side is
    * touched exactly once more. `broadcastVocab=false` switches the
    * vocab side to a shuffle join for vocabularies too large to ship
    * to every executor.
    *
    * Out-of-vocabulary words are COUNTED, never silently dropped: the
    * vocab join is a LEFT join, `n_words`/`n_chars` cover every word,
    * `n_bpe_tokens` sums only in-vocab words (null if a doc has no
    * in-vocab word at all), and `n_oov_words` reports the misses. A
    * vocabulary learned from the same corpus (q180/q182/q183) has zero
    * OOV by construction; any other vocabulary must treat
    * `n_oov_words > 0` as "token count incomplete" instead of trusting
    * an under-count with no signal. */
  /** The ACTUAL token sequence per document under an encoded
    * vocabulary — what a training pipeline writes to shards, where
    * [[encodeStats]] only counts. Same memoized shape: the greedy fold
    * ran once per DISTINCT word at learn time; this is a posexplode +
    * vocab join + order-preserving reassembly (array_sort on the word
    * position, then flatten), so the corpus is scanned once and no
    * fold ever re-runs per occurrence. An out-of-vocabulary word falls
    * back to its character split — the standard "unknown decomposes to
    * the base alphabet" rule, deterministic and loud in the token
    * count rather than silently dropped. Output: (doc_id, tokens). */
  def encodeTokens(docs: DataFrame, vocabSyms: DataFrame,
      broadcastVocab: Boolean = true): DataFrame = {
    val v0 = vocabSyms.select(col("w"), col("syms"))
    val v = if (broadcastVocab) broadcast(v0) else v0
    docs.select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
      .filter(col("w") =!= "")
      .join(v, Seq("w"), "left")
      .withColumn("graft_syms", coalesce(col("syms"),
        filter(split(col("w"), ""), x => x =!= lit(""))))
      .groupBy(col("doc_id"))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("pos"), col("graft_syms")))),
        x => x.getField("graft_syms"))).as("tokens"))
  }

  /** [[encodeTokens]] with the Sennrich et al. 2016 end-of-word
    * convention: each word's LAST symbol carries a `</w>` marker, so
    * the flat token stream keeps word boundaries and
    * [[decodeTokens]] can reassemble the exact text — the property
    * the unmarked stream (which [[graft.operators.SeqPack]] shards)
    * deliberately trades away for packing density. Same memoized
    * one-scan shape as [[encodeTokens]]; the marker is appended by an
    * indexed array lambda, never a re-fold. */
  def encodeTokensMarked(docs: DataFrame, vocabSyms: DataFrame,
      broadcastVocab: Boolean = true): DataFrame = {
    val v0 = vocabSyms.select(col("w"), col("syms"))
    val v = if (broadcastVocab) broadcast(v0) else v0
    val enc = docs.select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
      .filter(col("w") =!= "")
      .join(v, Seq("w"), "left")
      .withColumn("graft_syms", coalesce(col("syms"),
        filter(split(col("w"), ""), x => x =!= lit(""))))
      .withColumn("graft_marked",
        transform(col("graft_syms"), (s, i) =>
          when(i === size(col("graft_syms")) - 1, concat(s, lit("</w>")))
            .otherwise(s)))
      .groupBy(col("doc_id"))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("pos"), col("graft_marked")))),
        x => x.getField("graft_marked"))).as("tokens"))
    // an EMPTY-text doc has no words, so the groupBy above never sees
    // it — rejoin the doc set and emit an empty tokens array instead
    // of silently dropping the row, so decode(encodeMarked(·)) is
    // identity on empty docs too (not just non-empty ones)
    docs.select(col("doc_id"))
      .join(enc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("tokens"), typedlit(Seq.empty[String])).as("tokens"))
  }

  /** Detokenization: reassemble text from a `</w>`-marked token
    * stream ([[encodeTokensMarked]]'s output) — concatenate, turn
    * each marker back into a space, trim the trailing one. Pure
    * column expressions, scan-local; round-trip law
    * `decode(encodeMarked(text)) == text` for single-spaced text is
    * spec-pinned (BpeSpec) for in-vocab AND OOV words (the char
    * fallback marks its last char the same way). The inspection /
    * debugging half of the tokenizer: shards pack the unmarked
    * stream, audits read it back. Round-trip PRECONDITIONS (shared
    * with [[encodeTokensMarked]]): single-spaced text with no leading,
    * trailing, or doubled spaces (the split/trim conventions), and no
    * LITERAL `</w>` substring in the text (the marker is in-band, so
    * an in-text occurrence would decode to a spurious space). Empty
    * docs round-trip to empty text (empty tokens array → `""`).
    * Output: (doc_id, text). */
  def decodeTokens(tokens: DataFrame): DataFrame =
    tokens.select(col("doc_id"),
      rtrim(regexp_replace(concat_ws("", col("tokens")),
        lit("</w>"), lit(" "))).as("text"))

  def encodeStats(docs: DataFrame, vocabSyms: DataFrame,
      broadcastVocab: Boolean = true): DataFrame = {
    val v0 = vocabSyms.select(col("w"),
      size(col("syms")).cast("bigint").as("n_sym"))
    val v = if (broadcastVocab) broadcast(v0) else v0
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .join(v, Seq("w"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("w")).cast("bigint")).as("n_chars"),
        sum(col("n_sym")).as("n_bpe_tokens"),
        sum(when(col("n_sym").isNull, 1L).otherwise(0L)).as("n_oov_words"))
  }
}
