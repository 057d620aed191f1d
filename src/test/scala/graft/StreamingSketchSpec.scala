package graft

import graft.operators.Sketches
import graft.streaming.StreamingSketch
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming count-min maintenance: the live sketch equals the
  * batch-built sketch over everything ingested, across micro-batches,
  * and a replayed batch delta cannot double-count.
  */
class StreamingSketchSpec extends SparkSpec {
  import spark.implicits._

  test("maintained sketch equals the batch sketch over all ingested tokens") {
    implicit val ctx = spark.sqlContext
    val dir = tempDir("sketch")
    val ckpt = tempDir("sketch-ckpt")
    val in = MemoryStream[String]
    val q = StreamingSketch.maintain(
      in.toDF().toDF("term"), s"$dir/cm", s"$ckpt/cm")
    try {
      in.addData("the", "quick", "the")
      q.processAllAvailable()
      in.addData("quick", "fox", "the")
      q.processAllAvailable()
      val live = rowSet(StreamingSketch.readSketch(spark, s"$dir/cm"))
      val batch = rowSet(Sketches.countMinBuild(
        Seq("the", "quick", "the", "quick", "fox", "the").toDF("term"), "term"))
      assert(live == batch)
      val est = StreamingSketch.estimate(spark, s"$dir/cm", Seq("the", "zzz"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(est("the") >= 3L) // over-count only
    } finally q.stop()
  }

  test("a replayed batch overwrites its own delta instead of double-counting") {
    val dir = tempDir("sketch-replay")
    val batch = Seq("a", "b", "a").toDF("term")
    // simulate foreachBatch retry: the same batchId delta written twice
    Seq(1, 2).foreach { _ =>
      Sketches.countMinBuild(batch, "term").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/cm/batch_id=7")
    }
    val total = StreamingSketch.readSketch(spark, s"$dir/cm")
      .agg(sum(col("cnt"))).collect().head.getLong(0)
    assert(total == 3L * 4) // 3 tokens × depth 4, counted once
  }
}
