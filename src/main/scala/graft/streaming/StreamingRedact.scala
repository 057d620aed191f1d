package graft.streaming

import graft.operators.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Continuous text scrubbing — the streaming face of
  * [[TextOps.redact]]: every micro-batch of incoming documents has
  * PII patterns and deny-listed terms rewritten to placeholders
  * BEFORE the batch lands in the corpus, completing the ingest door
  * next to [[StreamingDecontaminate]] (benchmark leaks),
  * [[StreamingIncrementalDedup]] (duplicates) and
  * [[StreamingQualityDrift]] (quality rot). Redaction is per-document
  * against a FROZEN pattern set, so the decision never needs any
  * other batch: the accumulated scrubbed table equals
  * [[TextOps.redact]] of everything ingested, batch-split-invariant
  * (spec-pinned).
  *
  * Per batch: the one codegen'd redaction projection, scrubbed rows
  * overwritten into the batch's own `batch_id` partition, and one
  * audit row (n_docs, n_pii, n_denied, n_touched — documents with at
  * least one replacement) into a log partition keyed the same way —
  * both idempotent under Structured Streaming's at-least-once
  * foreachBatch replay. The deny list is a frozen artifact like the
  * decontamination bloom; rotating it means a new output root, never
  * an in-place rewrite (committed partitions stay immutable).
  */
object StreamingRedact {

  def logPath(cleanPath: String): String = cleanPath + "_log"

  /** One micro-batch body — exposed so specs can drive replays
    * directly. Idempotent per (batch, id). */
  def applyBatch(
      batch: DataFrame, id: Long, cleanPath: String,
      denyTerms: Seq[String]): Unit = {
    // read by the scrub write AND the audit aggregate — cut the
    // source re-read
    val scrubbed = TextOps.redact(batch, denyTerms).localCheckpoint()
    scrubbed.write.mode("overwrite").parquet(s"$cleanPath/batch_id=$id")
    scrubbed
      // sums coalesced: an EMPTY batch (offset-gap delivery) logs
      // zeros, not nulls a getLong consumer would throw on
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("n_pii")), lit(0L)).as("n_pii"),
        coalesce(sum(col("n_denied")), lit(0L)).as("n_denied"),
        coalesce(sum(when(col("n_pii") + col("n_denied") > 0, 1L)
          .otherwise(0L)), lit(0L)).as("n_touched"))
      .write.mode("overwrite").parquet(s"${logPath(cleanPath)}/batch_id=$id")
  }

  /** Start the scrubber over a stream of (doc_id, text) documents. */
  def start(
      docs: DataFrame,
      cleanPath: String,
      checkpointDir: String,
      denyTerms: Seq[String],
      trigger: Trigger = Trigger.ProcessingTime("1 minute")): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, cleanPath, denyTerms)
        ()
      }
      .start()

  /** The accumulated scrubbed documents. */
  def readClean(spark: SparkSession, cleanPath: String): DataFrame =
    spark.read.parquet(cleanPath)

  /** The per-batch audit log: (batch_id, n_docs, n_pii, n_denied,
    * n_touched). */
  def readLog(spark: SparkSession, cleanPath: String): DataFrame =
    spark.read.parquet(logPath(cleanPath))
}
