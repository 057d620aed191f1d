package graft.streaming

import graft.operators.MinHashLsh
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming incremental near-dup dedup: each micro-batch of documents
  * is LSH-checked against the corpus ingested SO FAR, then clean docs
  * are appended — the streaming form of
  * [[MinHashLsh.nearDuplicatesAgainst]] (q44) and the shape of a
  * continuous-ingest curation service.
  *
  * Per batch: (1) within-batch near-dups collapse to their min-id
  * keeper, (2) survivors near-matching the existing corpus are
  * dropped, (3) the remainder appends to the corpus parquet AND to the
  * corpus band index (`<corpusPath>_bands`, band-partitioned). The
  * corpus probe reads the PERSISTED index
  * ([[MinHashLsh.nearDuplicatesAgainstIndex]]), so per batch the
  * corpus-side cost is an index scan plus candidate-doc reads — the
  * corpus text is never re-sketched. A pre-existing corpus without an
  * index is backfilled once on first use.
  *
  * Delivery is at-least-once-with-idempotent-filtering: foreachBatch
  * can REPLAY a batch whose append already committed (the checkpoint
  * marks a batch done only after the whole closure returns), so before
  * appending, survivors are also exact-anti-joined by `doc_id` against
  * the corpus — a replayed batch finds its own docs already present and
  * appends nothing (including its band rows, which are derived from the
  * same filtered frame). The near-dup check alone would not guarantee
  * that: a doc with fewer than 3 words has an empty shingle set and
  * never reaches the jaccard threshold, so it would re-append on
  * replay. Keepers are chosen by min doc_id, not arrival order, so the
  * result set is deterministic across retries.
  */
object StreamingIncrementalDedup {

  def bandIndexPath(corpusPath: String): String = corpusPath + "_bands"

  /** `compactEvery`: every N batches, [[graft.store.Layout.compact]]
    * rewrites the band index's small files (a per-batch append writes a
    * file per touched band partition, so a year of micro-batches is
    * millions of kilobyte files and the probe's index scan pays
    * per-file open cost instead of reading data). 0 disables. Probe
    * results are unchanged by compaction (same rows, fewer files —
    * spec-asserted). A crash mid-swap can leave a dir parked under its
    * dot-prefixed aside name; every batch runs
    * [[graft.store.Layout.recoverCompaction]] first, so the replayed
    * batch sees the restored corpus — never an "empty" one that would
    * silently forget the dedup history (spec-asserted). */
  /** One micro-batch body — exposed so composed pipelines
    * ([[IngestDoor]]) and specs can drive a batch or a replay
    * directly. Idempotent per (batch, id): survivors are exact-anti-
    * joined against the corpus before appending (see the class doc's
    * delivery notes). */
  def applyBatch(
      batch: DataFrame,
      batchId: Long,
      corpusPath: String,
      threshold: Double = 0.5,
      compactEvery: Int = 0,
      compactTargetBytes: Long = 128L << 20): Unit = {
    val spark = batch.sparkSession
    import org.apache.spark.sql.functions._
    // 1. collapse within-batch near-dups to the min-id keeper
    val innerPairs = MinHashLsh.nearDuplicates(batch, threshold = threshold)
    val dupIds = innerPairs.select(col("doc_b").as("doc_id")).distinct()
    val kept = batch.join(dupIds, Seq("doc_id"), "left_anti")
    // 2. drop survivors that near-match the existing corpus, probing
    // the persisted band index
    // (Hadoop FS, not java.io.File — corpusPath may be a URI path)
    val corpusHadoopPath = new org.apache.hadoop.fs.Path(corpusPath)
    val idxPath = bandIndexPath(corpusPath)
    val idxHadoopPath = new org.apache.hadoop.fs.Path(idxPath)
    val fs = corpusHadoopPath.getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // a crash mid-compaction leaves the corpus (or a band
    // partition) parked under a dot-prefixed aside dir; an exists
    // check that merely ignored it would silently restart dedup
    // from an EMPTY corpus — restore before looking
    graft.store.Layout.recoverCompaction(spark, corpusPath)
    graft.store.Layout.recoverCompaction(spark, idxPath)
    val clean =
      if (fs.exists(corpusHadoopPath)) {
        val corpus = spark.read.parquet(corpusPath)
        // one-time backfill for a corpus ingested before indexing
        if (!fs.exists(idxHadoopPath))
          MinHashLsh.writeBandIndex(corpus, idxPath)
        val index = spark.read.parquet(idxPath)
        val vsCorpus = MinHashLsh
          .nearDuplicatesAgainstIndex(kept, index, corpus,
            threshold = threshold)
          .select(col("doc_new").as("doc_id")).distinct()
        kept
          .join(vsCorpus, Seq("doc_id"), "left_anti")
          // replay idempotence: a retried batch's docs are already
          // in the corpus — drop them by exact id before appending
          .join(corpus.select("doc_id"), Seq("doc_id"), "left_anti")
      } else kept
    // 3. append the band index rows, THEN the docs. Write order
    // matters for crash recovery: if the process dies between the
    // two writes, the replayed batch re-processes these docs (they
    // are not yet in the corpus, so the exact anti-join passes) and
    // appends their band rows a SECOND time — harmless, because the
    // index probe collapses buckets with collect_set and pairs are
    // distinct'd, and the self-pair guard keeps a doc's own stale
    // band rows from matching it. The reverse order would lose the
    // batch's band rows FOREVER (docs in corpus ⇒ anti-join blocks
    // the re-append, and backfill only fires when the whole index
    // is absent) — every future near-dup of those docs would slip
    // through silently.
    val cleanStable = clean.localCheckpoint()
    MinHashLsh.writeBandIndex(cleanStable, idxPath)
    cleanStable.write.mode("append").parquet(corpusPath)
    // periodic small-file maintenance AFTER this batch's writes:
    // compaction rewrites committed files only, so a replay of this
    // batch (crash before the checkpoint commits) re-runs the same
    // idempotent appends against the compacted layout unchanged.
    // The corpus gets the same treatment — its per-batch appends
    // accumulate small files at the same rate as the index's.
    if (compactEvery > 0 && (batchId + 1) % compactEvery == 0 &&
        fs.exists(idxHadoopPath)) {
      graft.store.Layout.compact(spark, idxPath, compactTargetBytes)
      graft.store.Layout.compact(spark, corpusPath, compactTargetBytes)
    }
    ()
  }

  def start(
      docsStream: DataFrame,
      corpusPath: String,
      checkpointDir: String,
      threshold: Double = 0.5,
      trigger: Trigger = Trigger.ProcessingTime("1 minute"),
      compactEvery: Int = 0,
      compactTargetBytes: Long = 128L << 20): StreamingQuery =
    docsStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, corpusPath, threshold,
          compactEvery, compactTargetBytes)
        ()
      }
      .start()
}
