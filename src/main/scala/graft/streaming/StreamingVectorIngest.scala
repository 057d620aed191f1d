package graft.streaming

import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming embedding ingest into a persisted IVF index — the vector
  * twin of [[StreamingIncrementalDedup]]: each micro-batch of
  * (vec_id, embedding) rows is routed to its nearest centroid's
  * partition and appended ([[Similarity.appendIvfIndex]]), so the
  * index keeps partition-pruning correctly as the corpus grows and is
  * never rebuilt per batch.
  *
  * Every `refitCheckEvery` batches, the batch's cosine-to-centroid
  * distribution is KS-tested against the index's
  * ([[Similarity.ivfRefitCheck]]) and one row
  * (batch_id, n_a, n_b, ks_stat, refit) appends to the drift log at
  * `<indexDir>_drift` — the monitoring feed that tells the owner when
  * the frozen centroids stopped describing the data and the index
  * needs a re-fit. The check runs BEFORE the batch appends (drift of
  * new data vs the index as it stood), and the log is written before
  * the index so a crash can only duplicate a log row, never lose one —
  * and the duplicate is bit-identical (same batch vs same index
  * state), so [[driftLog]]'s `distinct` collapses it exactly.
  *
  * Delivery is at-least-once-with-idempotent-filtering, same as the
  * dedup stream: a replayed batch's vec_ids are already in the index,
  * the exact anti-join drops them all, and the empty remainder appends
  * nothing and logs nothing.
  */
object StreamingVectorIngest {

  def driftLogPath(indexDir: String): String = indexDir + "_drift"

  /** The drift log, deduplicated: a crash between the log append and
    * the index append replays the batch and re-writes an IDENTICAL
    * row (same batch_id, same distributions), so exact `distinct`
    * is the correct collapse. Read through this, not the raw path. */
  def driftLog(spark: SparkSession, indexDir: String): DataFrame =
    spark.read.parquet(driftLogPath(indexDir)).distinct()

  def start(
      vecStream: DataFrame,
      cent: DataFrame,
      indexDir: String,
      checkpointDir: String,
      refitCheckEvery: Int = 0,
      ksThreshold: Double = 0.2,
      trigger: Trigger = Trigger.ProcessingTime("1 minute")): StreamingQuery =
    vecStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val idxHadoopPath = new org.apache.hadoop.fs.Path(indexDir)
        val fs = idxHadoopPath.getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        val exists = fs.exists(idxHadoopPath)
        // replay idempotence: a batch whose append already committed
        // (crash before the checkpoint marked it done) re-arrives with
        // every vec_id already indexed — drop them by exact id
        val fresh = (if (exists)
          batch.join(spark.read.parquet(indexDir).select("vec_id"),
            Seq("vec_id"), "left_anti")
        else batch).localCheckpoint() // read thrice: emptiness, drift, append
        if (!fresh.isEmpty) {
          // drift row BEFORE the index append (see scaladoc); no
          // baseline exists before the first append, so batch 0 of a
          // fresh index seeds the index and logs nothing
          if (exists && refitCheckEvery > 0 &&
              (batchId + 1) % refitCheckEvery == 0) {
            import org.apache.spark.sql.functions.{col, lit}
            Similarity.ivfRefitCheck(spark, indexDir, cent, fresh, ksThreshold)
              .select(lit(batchId).as("batch_id"), col("n_a"), col("n_b"),
                col("ks_stat"), col("refit"))
              .write.mode("append").parquet(driftLogPath(indexDir))
          }
          Similarity.appendIvfIndex(fresh, cent, indexDir)
        }
        ()
      }
      .start()
}
