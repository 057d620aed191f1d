package graft.streaming

import graft.operators.SeqPack
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming token-stream shard packing — the daily-append form of
  * [[SeqPack.packTokenStream]] (q190/q193) and the last step of a
  * continuous-ingest training-data service: each micro-batch of
  * tokenized documents (doc_id, tokens array) is packed into exact
  * `seqLen`-token training sequences CONTINUING the stored shard log
  * where the previous batch stopped, so the accumulated log always
  * equals packing everything ingested so far in one shot
  * (spec-asserted batch equivalence).
  *
  * Per batch: (1) read `offset_after` of the newest committed batch
  * from the tiny state log, (2) pack this batch at that `startOffset`,
  * (3) overwrite the batch's own partition dir under the shard log,
  * (4) append one state row. The sequence on the batch boundary comes
  * out PARTIAL on both sides (each batch writes only its own slots);
  * [[readShards]] merges the parts in batch order, which
  * `OperatorsSpec`'s merge law pins bit-equal to packing the union.
  *
  * Crash/replay safety, in write order: the shard write is an
  * OVERWRITE of a dir keyed by `batchId` — a replayed batch recomputes
  * the identical pack (its offset reads only state rows with
  * `batch_id < batchId`, so its own earlier state write is invisible)
  * and clobbers its own output. A crash between shard write and state
  * write replays to the same end state; a crash after the state write
  * can at worst append a duplicate state row with IDENTICAL values,
  * which [[offsetBefore]]'s max-by-batch_id read collapses. State is
  * one row per batch — reading it is O(batches), never O(corpus); the
  * alternative (deriving the offset by summing `n_tokens` over the
  * whole shard log) would scan the entire training set every
  * micro-batch.
  */
object StreamingShardPack {

  def statePath(shardsPath: String): String = shardsPath + "_state"

  /** The global token offset batch `id` starts at: `offset_after` of
    * the newest state row with `batch_id < id`, 0 for the first batch.
    * Rows with `batch_id >= id` (a replayed batch's own earlier state
    * write) are ignored so the replay recomputes the SAME pack. */
  def offsetBefore(spark: SparkSession, shardsPath: String, id: Long): Long = {
    val p = new org.apache.hadoop.fs.Path(statePath(shardsPath))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0L
    else
      spark.read.parquet(statePath(shardsPath))
        .filter(col("batch_id") < id)
        .orderBy(col("batch_id").desc)
        .select(col("offset_after"))
        .head(1).headOption.map(_.getLong(0)).getOrElse(0L)
  }

  /** One micro-batch body — exposed so the spec can drive a REPLAY of
    * an already-committed batch directly. Idempotent per (batch, id).
    * `orderKey` sets the WITHIN-batch stream order (default doc_id) —
    * [[StreamingCurriculumPack]] passes its frozen-model quality rank
    * here; across batches the order is always arrival order, which is
    * the only order an append-only shard log can honor. `manifest`
    * switches the packer to [[SeqPack.packTokenStreamWithBoundaries]]
    * so each partial row also carries its (n_docs, boundaries) doc
    * manifest — read the log back with [[readShardsManifest]]. */
  def applyBatch(
      batch: DataFrame, id: Long, shardsPath: String,
      seqLen: Int, eos: String = "</s>",
      orderKey: org.apache.spark.sql.Column = col("doc_id"),
      manifest: Boolean = false): Unit = {
    val spark = batch.sparkSession
    val offset = offsetBefore(spark, shardsPath, id)
    // the batch feeds both the pack and the offset scalar for the
    // state row — cut the source re-read
    val stable = batch.localCheckpoint()
    val packed =
      if (manifest) SeqPack.packTokenStreamWithBoundaries(
        stable, seqLen, eos, orderKey = orderKey, startOffset = offset)
      else SeqPack.packTokenStream(stable, seqLen, eos,
        orderKey = orderKey, startOffset = offset)
    packed.write.mode("overwrite").parquet(s"$shardsPath/batch_id=$id")
    spark.range(1)
      .select(lit(id).as("batch_id"),
        lit(offset + SeqPack.streamLength(stable)).as("offset_after"))
      .write.mode("append").parquet(statePath(shardsPath))
  }

  /** Start the packer over a stream of (doc_id, tokens array<string>)
    * — e.g. tokenized upstream by [[graft.operators.Bpe.encodeTokens]]
    * in the batch layer or a per-batch vocab join here. */
  def start(
      tokensStream: DataFrame,
      shardsPath: String,
      checkpointDir: String,
      seqLen: Int,
      eos: String = "</s>",
      trigger: Trigger = Trigger.ProcessingTime("1 minute"),
      manifest: Boolean = false): StreamingQuery =
    tokensStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, shardsPath, seqLen, eos,
          manifest = manifest)
      }
      .start()

  /** The assembled shard log: partial boundary rows merged in batch
    * order (earlier batch's slots first — exactly the merge the
    * OperatorsSpec law proves reproduces the one-shot pack). */
  def readShards(spark: SparkSession, shardsPath: String): DataFrame =
    spark.read.parquet(shardsPath)
      .groupBy(col("seq_id"))
      .agg(sum(col("n_tokens")).cast("bigint").as("n_tokens"),
        array_join(transform(
          array_sort(collect_list(
            struct(col("batch_id").cast("bigint"), col("tokens")))),
          x => x.getField("tokens")), " ").as("tokens"))

  /** The assembled MANIFEST shard log (written with `manifest = true`):
    * tokens merge as in [[readShards]]; the doc manifest merges by the
    * same batch-order concatenation — a document never spans batches,
    * so a boundary sequence's per-batch `n_docs` partitions its doc
    * set (sum is exact) and each batch's boundary slots are a
    * contiguous ascending block (batch-order concat IS slot order —
    * the law the one-shot equivalence spec pins). */
  def readShardsManifest(spark: SparkSession, shardsPath: String): DataFrame = {
    def inBatchOrder(c: String) = array_join(transform(
      array_sort(collect_list(
        struct(col("batch_id").cast("bigint"), col(c).as("v")))),
      x => x.getField("v")), " ")
    spark.read.parquet(shardsPath)
      .groupBy(col("seq_id"))
      .agg(sum(col("n_tokens")).cast("bigint").as("n_tokens"),
        inBatchOrder("tokens").as("tokens"),
        sum(col("n_docs")).cast("bigint").as("n_docs"),
        inBatchOrder("boundaries").as("boundaries"))
  }
}
