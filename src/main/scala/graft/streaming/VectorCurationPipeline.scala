package graft.streaming

import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The continuous vector-curation pipeline, end to end: streaming
  * embedding ingest → SemDeDup against the KEPT index →
  * partition-routed append → drift-gated centroid RE-FIT — the three
  * previously separate pieces ([[StreamingVectorIngest]],
  * [[Similarity.semDedupAgainstIndex]], [[Similarity.ivfRefitCheck]])
  * composed into one checkpointed query, with the re-fit actually
  * PERFORMED rather than just flagged.
  *
  * Layout under `root`:
  *   - `gen<k>/idx`  — the kept-set IVF index, label-partitioned
  *     ([[Similarity.writeIvfIndex]]); `gen<k>/cent` — its centroids
  *   - `CURRENT`     — one-line pointer to the live generation,
  *     swapped ATOMICALLY (tmp file + overwrite rename), so probes and
  *     batches always see a complete generation — never a half-written
  *     rebuild (a crash mid-re-fit leaves CURRENT on the old gen and
  *     the next drift trip redoes the work)
  *   - `drift/batch_id=<k>` — the KS log, one row per non-replay
  *     batch, each batch's row written with per-directory OVERWRITE:
  *     a crash replay re-scores whatever subset of the batch is still
  *     un-indexed and REPLACES its own row (same batch_id directory),
  *     so the log can never grow duplicate or contradictory rows for
  *     one batch — the last attempt's verdict wins, which is also the
  *     attempt whose append actually completed
  *
  * Per micro-batch, in order:
  *   1. replay idempotence: vec_ids already in the live index drop by
  *      exact anti-join (at-least-once delivery → exactly-once state);
  *   2. drift row (vs the index AS IT STOOD) appends to the log;
  *   3. SemDeDup the batch against the kept set
  *      ([[Similarity.semDedupAgainstIndex]] — partition-pruned probe,
  *      in-batch smaller-id rule, dropped-never-shadow chain rule);
  *   4. survivors append into their nearest-centroid partitions;
  *   5. if the drift row tripped `refit`: one deterministic E+M
  *      refinement over the FULL kept set (M: per-partition means; E:
  *      re-assign every member to its nearest new centroid) written as
  *      generation k+1, then the pointer swap. k stays fixed — this
  *      heals centroid drift, it does not grow the codebook.
  *      `refitRounds > 0` strengthens the healing with that many full
  *      warm-start Lloyd rounds ([[graft.operators.Clustering.kmeansFrom]])
  *      between the M and the final E — cluster ids stay stable either
  *      way, so the generation layout never renumbers.
  *
  * Scale shape: every per-batch term is bounded by the batch (the
  * index-side work is pruned to the batch's clusters); the re-fit is
  * the one full-index pass, which is exactly why it is gated on
  * measured drift instead of a timer. At 100 TB the generation dirs
  * are cheap (parquet rewrite of the kept set, ~the cost of one
  * compaction) and the pointer swap gives zero-downtime probes.
  */
object VectorCurationPipeline {

  def idxDir(root: String, gen: Long): String = s"$root/gen$gen/idx"
  def centDir(root: String, gen: Long): String = s"$root/gen$gen/cent"
  def driftPath(root: String): String = s"$root/drift"

  private def fs(spark: SparkSession, p: String) =
    new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The live generation number (from the `CURRENT` pointer). */
  def currentGen(spark: SparkSession, root: String): Long = {
    val p = new org.apache.hadoop.fs.Path(s"$root/CURRENT")
    val in = fs(spark, root).open(p)
    try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
      .trim.toLong
    finally in.close()
  }

  private def setCurrentGen(spark: SparkSession, root: String, gen: Long): Unit = {
    val f = fs(spark, root)
    val tmp = new org.apache.hadoop.fs.Path(s"$root/CURRENT.tmp")
    val dst = new org.apache.hadoop.fs.Path(s"$root/CURRENT")
    val out = f.create(tmp, true)
    try out.write(gen.toString.getBytes("UTF-8")) finally out.close()
    // overwrite-rename: atomic on HDFS and local fs — readers see the
    // old gen or the new gen, never a torn pointer
    org.apache.hadoop.fs.FileContext
      .getFileContext(new java.net.URI(root),
        spark.sparkContext.hadoopConfiguration)
      .rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** Seed generation 0 from an initial corpus (vec_id, embedding,
    * label) — its label column IS the cluster assignment, as from
    * [[Similarity.semDedup]]'s output or a k-means pass. */
  def init(spark: SparkSession, corpus: DataFrame, root: String): Unit = {
    Similarity.writeIvfIndex(corpus, idxDir(root, 0L))
    Similarity.centroids(corpus).write.mode("overwrite")
      .parquet(centDir(root, 0L))
    setCurrentGen(spark, root, 0L)
  }

  /** The drift log: (batch_id, n_a, n_b, ks_stat, refit), batch_id
    * recovered from the hive-style per-batch directory (partition
    * discovery types it int — widened to bigint for callers). */
  def driftLog(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(driftPath(root))
      .withColumn("batch_id", col("batch_id").cast("bigint"))

  def start(
      vecStream: DataFrame,
      root: String,
      checkpointDir: String,
      threshold: Double = 0.3,
      ksThreshold: Double = 0.2,
      refitRounds: Int = 0,
      trigger: Trigger = Trigger.ProcessingTime("1 minute")): StreamingQuery =
    vecStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val gen = currentGen(spark, root)
        val idx = idxDir(root, gen)
        val cent = spark.read.parquet(centDir(root, gen)).localCheckpoint()
        // 1. replay idempotence vs the LIVE index
        val fresh = batch
          .join(spark.read.parquet(idx).select("vec_id"), Seq("vec_id"),
            "left_anti")
          .localCheckpoint() // read 3×: emptiness, drift, dedup+append
        if (!fresh.isEmpty) {
          // 2. drift vs the index as it stood (before this batch lands);
          // materialized so the log row and the refit branch agree.
          // Written with OVERWRITE into this batch's own directory: a
          // crash replay (which re-scores only the still-un-indexed
          // remainder of the batch) replaces its row instead of
          // appending a second, contradictory one
          val drift = Similarity
            .ivfRefitCheck(spark, idx, cent, fresh, ksThreshold)
            .select(col("n_a"), col("n_b"), col("ks_stat"), col("refit"))
            .localCheckpoint()
          drift.write.mode("overwrite")
            .parquet(s"${driftPath(root)}/batch_id=$batchId")
          // 3. SemDeDup against the kept set (pruned probe);
          // materialized batch-sized — read twice (emptiness + append)
          val survivors = fresh.join(
            Similarity
              .semDedupAgainstIndex(spark, idx, fresh, cent, threshold)
              .filter(col("kept")).select(col("vec_id")),
            Seq("vec_id"))
            .localCheckpoint()
          // 4. survivors land in their nearest-centroid partitions
          if (!survivors.isEmpty)
            Similarity.appendIvfIndex(survivors, cent, idx)
          // 5. drift-gated re-fit → next generation + pointer swap
          if (drift.select(col("refit")).head.getBoolean(0)) {
            val members = spark.read.parquet(idx)
              .select(col("vec_id"), col("embedding"), col("label"))
              .localCheckpoint()
            val healed = Similarity.centroids(members)
            val newCent = (if (refitRounds > 0)
              graft.operators.Clustering
                .kmeansFrom(members, healed, refitRounds)
                .withColumnRenamed("cluster", "label")
            else healed).localCheckpoint()
            val reassigned = Similarity
              .assignToCentroids(members.select(col("vec_id"), col("embedding")),
                newCent)
              .select(col("vec_id"), col("embedding"), col("label"))
            Similarity.writeIvfIndex(reassigned, idxDir(root, gen + 1))
            newCent.write.mode("overwrite").parquet(centDir(root, gen + 1))
            setCurrentGen(spark, root, gen + 1)
          }
        }
        ()
      }
      .start()
}
