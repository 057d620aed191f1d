package graft.streaming

import graft.operators.{Bpe, Decontaminate, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** THE ingest door, composed: every micro-batch of raw documents runs
  * the full admission pipeline before a token ever reaches a training
  * shard —
  *
  *   1. guard    — [[Decontaminate.contaminatedIds]] vs the FROZEN
  *                 eval artifact: benchmark-leaking docs dropped. The
  *                 guard runs on RAW text so the probe compares
  *                 against the benchmark verbatim — scrubbing first
  *                 would rewrite PII/deny tokens inside eval-matching
  *                 grams and let short PII-heavy benchmark docs slip
  *                 through. Nothing raw persists here: the artifact
  *                 and the probe exchange xxhash64 gram hashes, the
  *                 stage emits only doc_ids,
  *   1.5 normalize — OPTIONAL (`normalize`): [[TextOps.normalizeText]]
  *                 on the survivors — whitespace/control normalization
  *                 BEFORE anything hashes or shingles text (a CRLF
  *                 variant of an admitted doc otherwise slips both
  *                 dedup stages); the guard stays on RAW text,
  *   2. scrub    — [[TextOps.redact]] on the survivors: PII
  *                 placeholders + deny-term mask, BEFORE anything is
  *                 written anywhere,
  *   2.5 quality — OPTIONAL (`lmGate`): the frozen-LM perplexity
  *                 admission of [[StreamingPerplexityGate]], on the
  *                 SCRUBBED text (the LM is built on scrubbed data;
  *                 scoring raw text would mis-score every doc a
  *                 placeholder touches); below-cutoff, unscorable,
  *                 and unconfigured-language docs all drop here
  *                 (fail CLOSED) and audit as `n_lowq`,
  *   2.75 media — OPTIONAL (batches carrying a `payload` column):
  *                 perceptual near-dup collapse via
  *                 [[StreamingPhashDedup]] — frame signatures at
  *                 Hamming ≤ 1 vs the batch and the persisted
  *                 signature index; drops audit as `n_dup_phash`,
  *   3. dedup    — [[StreamingIncrementalDedup.applyBatch]]: LSH
  *                 near-dup collapse within the batch and against the
  *                 corpus ingested so far (first-arrival keepers),
  *                 survivors appended to the corpus + band index,
  *   3.5 objective — OPTIONAL (`fimPermille`): the q223 FIM transform
  *                 ([[graft.operators.TextOps.fimTransform]]) applied
  *                 to the admitted docs at PACK time — the corpus
  *                 stays raw (canonical, re-packable under a different
  *                 objective tomorrow), only the shard stream carries
  *                 the re-ordering; deterministic in doc_id, so replay
  *                 packs identical rows,
  *   4. pack     — [[StreamingShardPack.applyBatch]] over the ADMITTED
  *                 docs tokenized under the FROZEN vocabulary: the
  *                 shard log continues exactly where it stopped,
  *
  * plus one audit row per batch (n_in / n_pii / n_denied /
  * n_contaminated / n_lowq / n_dup_phash / n_dup_text /
  * n_dup_dropped / n_admitted) into a replay-idempotent `batch_id`
  * partition — and, for batches carrying a `source` column, a
  * per-source delivery row (source, n_docs, n_tokens) into
  * `audit_source/batch_id=N`, token counts from the same encode the
  * pack consumed (see [[readSourceAudit]]).
  *
  * Replay + redelivery safety of the COMPOSITION: stages 1-2 are pure
  * per-doc functions of frozen artifacts; stage 3 is idempotent by
  * exact anti-join (a replayed batch appends nothing); stage 4 must
  * NOT pack "what stage 3 just appended" (empty on replay — it would
  * overwrite the batch's committed shard rows with nothing). Instead
  * it packs "this batch's docs that are in the corpus after stage 3
  * AND not admitted by an earlier batch" — the earlier-batch exclusion
  * comes from the door's own `admitted` log (`batch_id`-partitioned,
  * rows with batch_id ≥ id ignored exactly like
  * [[StreamingShardPack.offsetBefore]]), so a same-batch replay
  * recomputes the identical set AND a doc_id REDELIVERED in a later
  * batch is never packed twice (both spec-pinned).
  *
  * Scale shape: every stage is the already-audited operator — the
  * composition adds one batch-sized semi-join (batch ∩ corpus), one
  * anti-join against the admitted-id log, and nothing else. Frozen
  * artifacts (deny list, eval grams + bloom, BPE vocab) are
  * dimension-sized and broadcast; per-batch corpus-side cost is the
  * dedup index probe + the doc_id joins.
  */
object IngestDoor {

  def corpusPath(root: String): String = s"$root/corpus"
  def shardsPath(root: String): String = s"$root/shards"
  def auditPath(root: String): String = s"$root/audit"
  def auditSourcePath(root: String): String = s"$root/audit_source"
  def admittedPath(root: String): String = s"$root/admitted"
  def phashIndexPath(root: String): String = s"$root/phash_bands"

  /** One micro-batch through the whole door. Idempotent per
    * (batch, id). `batch`: (doc_id, text) — plus an optional binary
    * `payload` column (a media corpus, [[graft.operators.Multimodal
    * .toMedia]]'s shape): when present, a PERCEPTUAL dedup stage
    * (2.75) runs between the quality gate and the text dedup —
    * [[StreamingPhashDedup]] drops docs whose frames near-dup
    * (Hamming ≤ 1) a smaller-id doc in the batch or anything in the
    * door's persisted signature index; drops audit as `n_dup_phash`,
    * split from the text stage's `n_dup_text` (their sum stays
    * `n_dup_dropped`). The index is appended only for ADMITTED docs
    * (post text-dedup), so future media never dedups against a ghost
    * the text stage rejected. `compactEvery` / `compactTargetBytes`
    * plumb straight through to [[StreamingIncrementalDedup
    * .applyBatch]]'s corpus + band-index compaction — a long-running
    * door otherwise accumulates one small parquet file set per batch
    * forever (default 0 keeps compaction off, matching the dedup
    * stage's own default). */
  def applyBatch(
      batch: DataFrame, id: Long, root: String,
      denyTerms: Seq[String],
      evalGrams: DataFrame, bloomBytes: Array[Byte],
      vocab: DataFrame,
      seqLen: Int,
      nGram: Int = 6,
      threshold: Double = 0.5,
      compactEvery: Int = 0,
      compactTargetBytes: Long = 128L << 20,
      lmGate: Option[(DataFrame, DataFrame)] = None,
      phashFrameBytes: Int = 64,
      phashStride: Int = 2,
      phashDecodePixels: Boolean = false,
      phashSkipFrames: Int = 0,
      normalize: Boolean = false,
      fimPermille: Int = 0): Unit = {
    val spark = batch.sparkSession
    val stable = batch.localCheckpoint()
    // 1. guard vs the frozen eval artifact — on RAW text (see class
    // doc); the stage exchanges only gram hashes and doc_ids
    val bad = Decontaminate
      .contaminatedIds(stable, evalGrams, bloomBytes, nGram)
      .localCheckpoint()
    // 1.5 (optional) whitespace/control normalization BEFORE anything
    // hashes or shingles the survivors — a CRLF vs LF or double-space
    // variant of an already-admitted doc otherwise slips past both
    // dedup stages' shingle/signature equality. The guard above stays
    // on RAW text by design; normalization drops nothing, so no audit
    // column.
    val survivors0 = stable.join(bad, Seq("doc_id"), "left_anti")
    val survivors =
      if (normalize)
        survivors0.withColumn("text", TextOps.normalizeText(col("text")))
      else survivors0
    // 2. scrub the survivors — counts read by the audit, text by
    // every later stage: checkpoint
    val scrubbed = TextOps.redact(survivors, denyTerms).localCheckpoint()
    val postScrub = scrubbed.select(col("doc_id"), col("redacted").as("text"))
    // 2.5 (optional) quality gate — the frozen-LM perplexity admission
    // of [[StreamingPerplexityGate]], run on the SCRUBBED text (the LM
    // was built on scrubbed training data, so scoring raw text would
    // mis-score every doc a placeholder touches). `lmGate` is
    // (frozen LM (bg, logp), frozen cutoffs (lang, cut_e4)); docs
    // below their language's cutoff — or unscorable / unconfigured,
    // which fail CLOSED — drop here and are counted as n_lowq.
    // The gate needs a `lang` column; it joins back from the batch.
    val guarded = lmGate.fold(postScrub) { case (lm, cutoffs) =>
      postScrub
        .join(stable.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .join(TextOps.bigramLogprob(postScrub, lm)
          .withColumn("graft_lp", round(col("avg_logp") * 1e4).cast("bigint"))
          .select(col("doc_id"), col("graft_lp")), Seq("doc_id"), "left")
        .join(broadcast(cutoffs), Seq("lang"), "left")
        .filter(col("graft_lp").isNotNull && col("cut_e4").isNotNull &&
          col("graft_lp") >= col("cut_e4"))
        .select(col("doc_id"), col("text"))
        .localCheckpoint()
    }
    // 2.75 (media corpora only) perceptual dedup — frames of the
    // surviving docs' payloads vs the batch (min-id keeper) and the
    // persisted signature index; the probe reads band rows only,
    // never re-decodes admitted media
    val mediaCols = stable.columns.contains("payload")
    def mediaOf(ids: DataFrame): DataFrame =
      stable.select(col("doc_id"), col("payload"),
          (if (stable.columns.contains("media_type")) col("media_type")
           else lit("application/octet-stream")).as("media_type"))
        .join(ids.select(col("doc_id")), Seq("doc_id"), "left_semi")
    val phashDrop =
      if (mediaCols)
        StreamingPhashDedup.dupIds(mediaOf(guarded), phashIndexPath(root),
          phashFrameBytes, phashStride,
          decodePixels = phashDecodePixels,
          skipFrames = phashSkipFrames).localCheckpoint()
      else guarded.select(col("doc_id")).limit(0)
    val nPhash = if (mediaCols) phashDrop.count() else 0L
    val postPhash =
      if (mediaCols) guarded.join(phashDrop, Seq("doc_id"), "left_anti")
        .localCheckpoint()
      else guarded
    // 3. dedup + admit (appends corpus + band index, replay-safe).
    // Guard the empty case explicitly: a first batch the guard drops
    // ENTIRELY would otherwise leave no corpus dir for stage 4 to
    // read (and hand the dedup index an empty partitioned write).
    val anyGuarded = postPhash.limit(1).count() > 0
    if (anyGuarded)
      StreamingIncrementalDedup.applyBatch(
        postPhash, id, corpusPath(root), threshold,
        compactEvery = compactEvery,
        compactTargetBytes = compactTargetBytes)
    // 4. pack the batch's ADMITTED docs — corpus membership minus
    // everything an EARLIER batch already admitted (the door's own
    // log), so a same-batch replay packs the same set and a later
    // redelivery packs nothing (see class doc). The corpus can still
    // be absent here (nothing admitted by ANY batch yet); an empty
    // frame keeps the pack + state writes flowing so the shard log's
    // offsets stay contiguous across empty batches.
    def exists(path: String): Boolean = {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    }
    val priorAdmitted =
      if (exists(admittedPath(root)))
        spark.read.parquet(admittedPath(root))
          .filter(col("batch_id") < id).select(col("doc_id"))
      else spark.range(0).select(col("id").as("doc_id"))
    val admitted = (if (exists(corpusPath(root)))
      spark.read.parquet(corpusPath(root))
        .join(postPhash.select(col("doc_id")), Seq("doc_id"), "left_semi")
        .join(priorAdmitted, Seq("doc_id"), "left_anti")
    else postPhash.limit(0)).localCheckpoint()
    admitted.select(col("doc_id")).write.mode("overwrite")
      .parquet(s"${admittedPath(root)}/batch_id=$id")
    // the signature index grows by exactly this batch's ADMITTED docs
    // (doc_id-anti-joined inside, so replay/redelivery appends nothing)
    if (mediaCols && admitted.limit(1).count() > 0)
      StreamingPhashDedup.appendIndex(mediaOf(admitted),
        phashIndexPath(root), phashFrameBytes, phashStride,
        decodePixels = phashDecodePixels, skipFrames = phashSkipFrames)
    // 3.5 (optional) objective-side transform at PACK time: the q223
    // FIM re-ordering applied to the admitted docs' text just before
    // tokenization — the CORPUS stays raw (it is the canonical,
    // re-packable artifact; a different objective tomorrow re-packs
    // the same corpus), only the shard stream carries the transform.
    // Deterministic in doc_id, so a same-batch replay packs identical
    // rows and the one-shot-pack law holds against the TRANSFORMED
    // corpus (spec-pinned).
    val packInput =
      if (fimPermille > 0)
        graft.operators.TextOps.fimTransform(admitted, fimPermille)
          .select(col("doc_id"), col("training_text").as("text"))
      else admitted
    val hasSource = stable.columns.contains("source")
    val enc0 = Bpe.encodeTokens(packInput, vocab)
    // checkpointed only when the per-source audit will read it too —
    // one encode pass feeds BOTH the pack and the accounting
    val enc = if (hasSource) enc0.localCheckpoint() else enc0
    StreamingShardPack.applyBatch(enc, id, shardsPath(root), seqLen)
    // per-source token accounting (batches carrying a `source`
    // column): the DELIVERED tokens per source, taken from the SAME
    // encode frame the pack consumed — no batch re-scan — so a live
    // ingest compares its mixture directly against a q221 token-budget
    // plan (the batch world's q222 audit, maintained at the door).
    // One row per source per batch: (source, n_docs, n_tokens), in a
    // replay-idempotent batch_id partition like the main audit.
    // Token counts are of the PACKED text (post-FIM when fimPermille
    // is on) — delivery accounting measures what reached the shards.
    // LEFT-join from the ADMITTED doc set (r14 ADVICE): encodeTokens
    // emits no row for a doc that tokenizes to zero words, and an
    // inner join would silently drop it — per-source n_docs must sum
    // to n_admitted for the documented reconciliation, so empty docs
    // count with n_tokens = 0.
    if (hasSource)
      admitted.select(col("doc_id"))
        .join(stable.select(col("doc_id"), col("source")), Seq("doc_id"))
        .join(enc.select(col("doc_id"),
            size(col("tokens")).cast("bigint").as("graft_nt")),
          Seq("doc_id"), "left")
        .withColumn("graft_nt", coalesce(col("graft_nt"), lit(0L)))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum(col("graft_nt")), lit(0L)).as("n_tokens"))
        .write.mode("overwrite")
        .parquet(s"${auditSourcePath(root)}/batch_id=$id")
    // audit row — one aggregate action; sums coalesced so an EMPTY
    // batch (offset-gap delivery) writes zeros instead of nulls
    val nIn = stable.count()
    val a = scrubbed.agg(
      coalesce(sum(col("n_pii")), lit(0L)),
      coalesce(sum(col("n_denied")), lit(0L))).head()
    val nBad = bad.count()
    // quality drops = scrubbed survivors the LM gate rejected (0 with
    // the gate off), so dup attribution below stays exact either way
    val nLowq = if (lmGate.isDefined) nIn - nBad - guarded.count() else 0L
    val nAdmitted = admitted.count()
    // dup attribution splits by CAUSE: perceptual (stage 2.75) vs text
    // (stage 3); the sum keeps n_dup_dropped's original meaning
    val nDupText = nIn - nBad - nLowq - nPhash - nAdmitted
    spark.range(1)
      .select(lit(nIn).as("n_in"), lit(a.getLong(0)).as("n_pii"),
        lit(a.getLong(1)).as("n_denied"), lit(nBad).as("n_contaminated"),
        lit(nLowq).as("n_lowq"),
        lit(nPhash).as("n_dup_phash"),
        lit(nDupText).as("n_dup_text"),
        lit(nPhash + nDupText).as("n_dup_dropped"),
        lit(nAdmitted).as("n_admitted"))
      .write.mode("overwrite").parquet(s"${auditPath(root)}/batch_id=$id")
  }

  /** Start the door over a stream of (doc_id, text) documents. */
  def start(
      docs: DataFrame,
      root: String,
      checkpointDir: String,
      denyTerms: Seq[String],
      evalGrams: DataFrame,
      bloomBytes: Array[Byte],
      vocab: DataFrame,
      seqLen: Int,
      nGram: Int = 6,
      threshold: Double = 0.5,
      trigger: Trigger = Trigger.ProcessingTime("1 minute"),
      compactEvery: Int = 0,
      compactTargetBytes: Long = 128L << 20,
      lmGate: Option[(DataFrame, DataFrame)] = None,
      phashFrameBytes: Int = 64,
      phashStride: Int = 2,
      phashDecodePixels: Boolean = false,
      phashSkipFrames: Int = 0,
      normalize: Boolean = false,
      fimPermille: Int = 0): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, root, denyTerms, evalGrams, bloomBytes,
          vocab, seqLen, nGram, threshold, compactEvery, compactTargetBytes,
          lmGate, phashFrameBytes, phashStride, phashDecodePixels,
          phashSkipFrames, normalize, fimPermille)
        ()
      }
      .start()

  /** The admitted corpus (scrubbed, decontaminated, deduped). */
  def readCorpus(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(corpusPath(root))

  /** The assembled training shards over everything admitted so far. */
  def readShards(spark: SparkSession, root: String): DataFrame =
    StreamingShardPack.readShards(spark, shardsPath(root))

  /** Per-batch admission audit. */
  def readAudit(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(auditPath(root))

  /** Per-(batch, source) delivery accounting — written only for
    * batches that carried a `source` column: (source, n_docs,
    * n_tokens) of the docs ADMITTED and PACKED that batch, token
    * counts from the same encode the shards consumed. Sum over batches
    * and compare per source against a [[graft.operators.Sampling
    * .tokenBudgetPlan]] to audit a live mixture without re-scanning
    * the corpus (spec-pinned ≡ batch-side aggregation). */
  def readSourceAudit(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(auditSourcePath(root))
}
