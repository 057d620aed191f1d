package graft.streaming

import graft.operators.Decontaminate
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Continuous benchmark decontamination — the streaming face of
  * [[Decontaminate]]: every micro-batch of incoming documents is
  * checked against a FROZEN eval-set artifact (the
  * [[Decontaminate.evalGramSet]] gram-hash frame + its
  * [[Decontaminate.bloomBytesOf]] serialized bloom filter, both built
  * once when the benchmark set was fixed) BEFORE the batch is allowed
  * into the training corpus. This is the guard a continuous-ingest
  * pipeline runs at the door: contamination is per-document against a
  * frozen reference, so the decision never needs any other batch —
  * the accumulated clean table equals [[Decontaminate.bloomClean]] of
  * everything ingested, batch-split-invariant (spec-pinned).
  *
  * Per batch: bloom-prefiltered gram probe + hash-exact verify join
  * (exactly the batch operator's plan — the bloom literal is codegen'd
  * into the batch's scan stage), clean rows overwritten into the
  * batch's own `batch_id` partition, and one audit row
  * (n_docs, n_contaminated, n_clean) into a log partition keyed the
  * same way — both idempotent under Structured Streaming's
  * at-least-once foreachBatch replay. The eval artifact is
  * eval-set-sized and frozen; a batch never re-scans the eval docs.
  */
object StreamingDecontaminate {

  def logPath(cleanPath: String): String = cleanPath + "_log"

  /** One micro-batch body — exposed so specs can drive replays
    * directly. Idempotent per (batch, id). */
  def applyBatch(
      batch: DataFrame, id: Long, cleanPath: String,
      evalGrams: DataFrame, bloomBytes: Array[Byte], n: Int = 6): Unit = {
    // read by the contamination probe AND the clean anti-join AND the
    // audit counts — cut the source re-read
    val stable = batch.localCheckpoint()
    val bad = Decontaminate
      .contaminatedIds(stable, evalGrams, bloomBytes, n)
      .localCheckpoint()
    val clean = stable.join(bad, Seq("doc_id"), "left_anti")
    clean.write.mode("overwrite").parquet(s"$cleanPath/batch_id=$id")
    val nDocs = stable.count()
    val nBad = bad.count()
    stable.sparkSession.range(1)
      .select(lit(nDocs).as("n_docs"), lit(nBad).as("n_contaminated"),
        lit(nDocs - nBad).as("n_clean"))
      .write.mode("overwrite").parquet(s"${logPath(cleanPath)}/batch_id=$id")
  }

  /** Start the guard over a stream of (doc_id, text) documents. */
  def start(
      docs: DataFrame,
      cleanPath: String,
      checkpointDir: String,
      evalGrams: DataFrame,
      bloomBytes: Array[Byte],
      n: Int = 6,
      trigger: Trigger = Trigger.ProcessingTime("1 minute")): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, cleanPath, evalGrams, bloomBytes, n)
        ()
      }
      .start()

  /** The accumulated clean (training-admissible) documents. */
  def readClean(spark: SparkSession, cleanPath: String): DataFrame =
    spark.read.parquet(cleanPath)

  /** The per-batch audit log: (batch_id, n_docs, n_contaminated,
    * n_clean). */
  def readLog(spark: SparkSession, cleanPath: String): DataFrame =
    spark.read.parquet(logPath(cleanPath))
}
