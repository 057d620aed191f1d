package graft.streaming

import graft.operators.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Continuous CCNet-style perplexity gating — the streaming face of
  * q212's bucket report: every micro-batch of incoming documents is
  * scored under a FROZEN bigram LM (built once, like the
  * decontamination bloom and the BPE vocabulary — the LM must not
  * drift with the stream it judges) and compared to FROZEN per-language
  * admission cutoffs (the q212 tercile boundaries at freeze time).
  * Documents at or above their language's cutoff land in the kept
  * corpus; the rest are dropped with per-language attribution.
  *
  * Both artifacts frozen ⇒ the decision is per-document: the
  * accumulated kept table equals the one-shot gate of everything
  * ingested, batch-split-invariant (spec-pinned), and replay is
  * idempotent by `batch_id` partition overwrite like every other door
  * guard ([[StreamingRedact]], [[StreamingDecontaminate]],
  * [[StreamingIncrementalDedup]]).
  *
  * A doc whose language has NO cutoff row fails CLOSED (dropped,
  * counted in the audit as its own language row): an unconfigured
  * language admitting unscored text is exactly the silent quality
  * leak this gate exists to stop. Docs too short to produce a bigram
  * score the same way (no score ⇒ dropped).
  *
  * Scale shape: the LM join is the q84 scan (bigram explode → LM
  * lookup → integer-exact per-doc mean) with the LM as a persisted
  * table on the join's build side; cutoffs are lang-cardinality and
  * broadcast; everything else is per-batch-sized.
  */
object StreamingPerplexityGate {

  def logPath(keptPath: String): String = keptPath + "_log"

  /** The frozen per-language cutoffs from a q212-shape report: admit
    * iff lp_e4 ≥ the language's head/middle boundary — `buckets` is
    * (lang, bucket, …, lp_min_e4, …) and the admission cutoff is the
    * MIDDLE bucket's floor (head + middle kept, tail dropped — the
    * CCNet default). Returns (lang, cut_e4). */
  def cutoffsFromBuckets(buckets: DataFrame): DataFrame =
    buckets.filter(col("bucket") === "middle")
      .select(col("lang"), col("lp_min_e4").as("cut_e4"))

  /** One micro-batch body — exposed so specs can drive replays
    * directly. Idempotent per (batch, id). `batch`: (doc_id, lang,
    * text); `lm`: (bg, logp) the frozen model; `cutoffs`:
    * (lang, cut_e4) the frozen thresholds. */
  def applyBatch(
      batch: DataFrame, id: Long, keptPath: String,
      lm: DataFrame, cutoffs: DataFrame): Unit = {
    val scored = batch.join(
        TextOps.bigramLogprob(batch, lm)
          .withColumn("lp_e4", round(col("avg_logp") * 1e4).cast("bigint"))
          .select(col("doc_id"), col("lp_e4")),
        Seq("doc_id"), "left")
      .join(broadcast(cutoffs), Seq("lang"), "left")
      // fail CLOSED: no score (too short / unscorable) or no cutoff
      // (unconfigured language) both read as not-admitted
      .withColumn("graft_keep",
        col("lp_e4").isNotNull && col("cut_e4").isNotNull &&
          col("lp_e4") >= col("cut_e4"))
      .localCheckpoint() // kept write + audit aggregate both read it
    scored.filter(col("graft_keep"))
      .select(col("doc_id"), col("lang"), col("text"), col("lp_e4"))
      .write.mode("overwrite").parquet(s"$keptPath/batch_id=$id")
    scored.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(when(col("graft_keep"), 1L).otherwise(0L)), lit(0L))
          .as("n_kept"),
        coalesce(sum(when(col("cut_e4").isNull, 1L).otherwise(0L)), lit(0L))
          .as("n_unconfigured"))
      .write.mode("overwrite").parquet(s"${logPath(keptPath)}/batch_id=$id")
  }

  /** Start the gate over a stream of (doc_id, lang, text) documents. */
  def start(
      docs: DataFrame,
      keptPath: String,
      checkpointDir: String,
      lm: DataFrame,
      cutoffs: DataFrame,
      trigger: Trigger = Trigger.ProcessingTime("1 minute")): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, keptPath, lm, cutoffs)
        ()
      }
      .start()

  /** Everything admitted so far. */
  def readKept(spark: SparkSession, keptPath: String): DataFrame =
    spark.read.parquet(keptPath)

  /** Per-(batch, lang) admission audit. */
  def readLog(spark: SparkSession, keptPath: String): DataFrame =
    spark.read.parquet(logPath(keptPath))
}
