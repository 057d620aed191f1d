package graft

import graft.operators.SeqPack
import graft.streaming.StreamingShardPack
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming daily-append shard packing: the accumulated shard log
  * equals packing everything ingested so far in one shot (the merge
  * law OperatorsSpec proves, run through the real micro-batch loop),
  * and replaying an already-committed batch changes nothing.
  */
class StreamingShardPackSpec extends SparkSpec {
  import spark.implicits._

  private val b1 = Seq((1L, Seq("a", "b", "c")), (2L, Seq("d")))
  private val b2 = Seq((3L, Seq("e", "f", "g", "h", "i")), (4L, Seq("j")))

  private def snapshot(path: String): Seq[(Long, Long, String)] =
    StreamingShardPack.readShards(spark, path)
      .orderBy("seq_id")
      .collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))

  test("accumulated shard log equals the one-shot pack across batches") {
    implicit val ctx = spark.sqlContext
    val dir = tempDir("shardpack")
    val ckpt = tempDir("shardpack-ck")
    val in = MemoryStream[(Long, Seq[String])]
    // NOT AvailableNow: that trigger snapshots available offsets at
    // start() — before any addData — and finishes with zero batches.
    // A zero-interval ProcessingTime trigger + processAllAvailable()
    // after each addData pins b1 -> batch 0, b2 -> batch 1.
    val q = StreamingShardPack.start(
      in.toDF().toDF("doc_id", "tokens"),
      s"$dir/shards", s"$ckpt/q", seqLen = 4,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    try {
      in.addData(b1: _*)
      q.processAllAvailable()
      in.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val want = SeqPack
      .packTokenStream((b1 ++ b2).toDF("doc_id", "tokens"), seqLen = 4)
      .orderBy("seq_id")
      .collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(snapshot(s"$dir/shards") === want)
    // the boundary sequence really was split across the two batch dirs
    val split = spark.read.parquet(s"$dir/shards")
      .groupBy("seq_id").count().filter(col("count") > 1).count()
    assert(split >= 1)
  }

  test("manifest shard log merges to the one-shot boundaries pack") {
    implicit val ctx = spark.sqlContext
    val dir = tempDir("shardpack-mf")
    val ckpt = tempDir("shardpack-mf-ck")
    val in = MemoryStream[(Long, Seq[String])]
    val q = StreamingShardPack.start(
      in.toDF().toDF("doc_id", "tokens"),
      s"$dir/shards", s"$ckpt/q", seqLen = 4,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L),
      manifest = true)
    try {
      in.addData(b1: _*)
      q.processAllAvailable()
      in.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("seq_id", "n_tokens", "tokens", "n_docs", "boundaries")
        .orderBy("seq_id").collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          r.getLong(3), r.getString(4)))
    val got = rows(StreamingShardPack.readShardsManifest(spark, s"$dir/shards"))
    val want = rows(SeqPack.packTokenStreamWithBoundaries(
      (b1 ++ b2).toDF("doc_id", "tokens"), seqLen = 4))
    assert(got === want)
    // the boundary sequence (spans both batches) must carry a MERGED
    // manifest: docs from both batch dirs in one boundaries string
    val boundarySeq = spark.read.parquet(s"$dir/shards")
      .groupBy("seq_id").count().filter(col("count") > 1)
      .select("seq_id").collect().map(_.getLong(0))
    assert(boundarySeq.nonEmpty)
    val merged = got.filter(r => boundarySeq.contains(r._1))
    assert(merged.exists(_._4 >= 2), s"boundary sequence manifest not merged: $merged")
  }

  test("replaying a committed batch overwrites to the same end state") {
    val dir = tempDir("shardpack-rp")
    val path = s"$dir/shards"
    StreamingShardPack.applyBatch(b1.toDF("doc_id", "tokens"), 0L, path, 4)
    StreamingShardPack.applyBatch(b2.toDF("doc_id", "tokens"), 1L, path, 4)
    val before = snapshot(path)
    // replay batch 1 (crash after its state write, before the
    // checkpoint committed): same offset, same pack, duplicate state row
    StreamingShardPack.applyBatch(b2.toDF("doc_id", "tokens"), 1L, path, 4)
    assert(snapshot(path) === before)
    // the duplicate state row collapses: next batch's offset is the
    // full 14-token stream (6 from b1, 8 from b2)
    assert(StreamingShardPack.offsetBefore(spark, path, 2L) === 14L)
  }
}
