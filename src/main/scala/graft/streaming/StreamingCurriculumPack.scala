package graft.streaming

import graft.operators.{Bpe, QualityModel, Ranks}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Continuous CURRICULUM shard packing — the streaming composition of
  * the round-8 training-data pieces, run together: each micro-batch of
  * raw documents is scored under a FROZEN learned quality model
  * ([[QualityModel]], q189 — frozen weights + frozen training-corpus
  * standardization stats, the [[StreamingQualityDrift]] contract),
  * tokenized under a FROZEN BPE vocabulary ([[Bpe.encodeTokens]],
  * q187), ordered best-first by the within-batch quality rank
  * ([[Ranks.withGlobalRank]] — banded, no single-partition sort), and
  * packed into exact `seqLen`-token training sequences CONTINUING the
  * stored shard log where the previous batch stopped
  * ([[StreamingShardPack.applyBatch]] with the rank as the order key).
  *
  * Ordering semantics — what "streaming curriculum" can honestly mean:
  * an append-only shard log cannot reorder sequences it has already
  * committed, so the global stream order is (arrival batch, quality
  * rank within batch, doc_id). The batch-equivalence law the spec pins
  * is exactly that: the accumulated log equals the ONE-SHOT
  * [[graft.operators.SeqPack.packTokenStream]] of everything ingested
  * so far under that composite order. (q192 is the full-reorder batch
  * twin: there the whole corpus is present, so the rank is global.)
  *
  * Crash/replay safety is inherited from [[StreamingShardPack]]
  * unchanged: scoring, ranking, and tokenization are deterministic
  * per batch (frozen model, frozen vocab), so a replayed batch
  * recomputes the identical pack and overwrites its own partition dir.
  *
  * Scale shape per batch: one feature scan + the (doc, word) max-tf
  * aggregate the label rule needs (both batch-sized), a batch-sized
  * banded rank, the vocab broadcast join, and the pack's one seq_id
  * shuffle — nothing touches the accumulated corpus except the
  * O(batches) state-log read that yields the start offset.
  */
object StreamingCurriculumPack {

  /** The per-batch curriculum frame: (doc_id, tokens, graft_rank) with
    * rank 1 = best quality under the frozen model — the exact input
    * [[StreamingShardPack.applyBatch]] packs. Exposed for the
    * batch-equivalence law: the spec rebuilds the one-shot expected
    * stream from these same frames. */
  def rankedTokens(
      docs: DataFrame,
      vocabSyms: DataFrame,
      stats: Seq[(Double, Double)],
      w: Seq[Double]): DataFrame = {
    val scored = QualityModel.score(
        QualityModel.applyStats(QualityModel.features(docs), stats), w)
      .select(col("doc_id"), col("score_bp"))
    val ranked = Ranks.withGlobalRank(scored, key = col("score_bp"),
        ascending = false, tie = col("doc_id"), outCol = "graft_rank")
      .select(col("doc_id"), col("graft_rank"))
    Bpe.encodeTokens(docs, vocabSyms).join(ranked, Seq("doc_id"))
  }

  /** One micro-batch: score → rank → tokenize → pack continuing the
    * log. Idempotent per (batch, id) — see [[StreamingShardPack]]. */
  def applyBatch(
      docs: DataFrame, id: Long, shardsPath: String, seqLen: Int,
      vocabSyms: DataFrame,
      stats: Seq[(Double, Double)],
      w: Seq[Double],
      eos: String = "</s>"): Unit =
    StreamingShardPack.applyBatch(
      rankedTokens(docs, vocabSyms, stats, w), id, shardsPath, seqLen,
      eos, orderKey = col("graft_rank"))

  /** Start the curriculum packer over a stream of (doc_id, text). */
  def start(
      docsStream: DataFrame,
      shardsPath: String,
      checkpointDir: String,
      seqLen: Int,
      vocabSyms: DataFrame,
      stats: Seq[(Double, Double)],
      w: Seq[Double],
      eos: String = "</s>",
      trigger: Trigger = Trigger.ProcessingTime("1 minute")): StreamingQuery =
    docsStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, shardsPath, seqLen, vocabSyms, stats, w, eos)
      }
      .start()
}
