package graft

import java.sql.Timestamp

import graft.streaming.StreamingCdc
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Streaming CDC apply: the snapshot after streaming a changelog in
  * micro-batches equals the batch cdcApply over the full log.
  */
class StreamingCdcSpec extends SparkSpec {
  import spark.implicits._

  private def t(s: String) = Timestamp.valueOf(s)

  test("streamed snapshot == batch cdcApply; deletes drop keys across batches") {
    implicit val ctx = spark.sqlContext
    val dir = tempDir("cdc")
    val snap = s"$dir/snapshot"
    val log = MemoryStream[(Long, Timestamp, Long, String, Long)]
    val q = StreamingCdc.run(
      log.toDF().toDF("user_id", "ts", "event_id", "op", "value_cents"),
      snap, "user_id", "op", s"$dir/ckpt")
    try {
      val batch1 = Seq(
        (1L, t("2024-01-01 10:00:00"), 1L, "I", 100L),
        (2L, t("2024-01-01 10:00:00"), 2L, "I", 200L),
        (3L, t("2024-01-01 10:00:00"), 3L, "I", 300L))
      val batch2 = Seq(
        (1L, t("2024-01-01 11:00:00"), 4L, "U", 150L), // update key 1
        (2L, t("2024-01-01 11:00:00"), 5L, "D", 0L),   // delete key 2
        (4L, t("2024-01-01 11:00:00"), 6L, "I", 400L)) // new key
      log.addData(batch1)
      q.processAllAvailable()
      log.addData(batch2)
      q.processAllAvailable()
      val got = spark.read.parquet(snap)
        .select("user_id", "op", "value_cents")
        .as[(Long, String, Long)].collect().toSet
      val expected = graft.operators.EventOps.cdcApply(
        (batch1 ++ batch2).toDF("user_id", "ts", "event_id", "op", "value_cents"),
        "user_id", "op")
        .select("user_id", "op", "value_cents")
        .as[(Long, String, Long)].collect().toSet
      assert(got == expected)
      assert(got == Set((1L, "U", 150L), (3L, "I", 300L), (4L, "I", 400L)))
    } finally q.stop()
  }

  test("a crash between the swap renames is recovered from the .old aside") {
    implicit val ctx = spark.sqlContext
    val dir = tempDir("cdc2")
    val snap = s"$dir/snapshot"
    val log = MemoryStream[(Long, Timestamp, Long, String, Long)]
    val q = StreamingCdc.run(
      log.toDF().toDF("user_id", "ts", "event_id", "op", "value_cents"),
      snap, "user_id", "op", s"$dir/ckpt")
    try {
      log.addData(Seq((1L, t("2024-01-01 10:00:00"), 1L, "I", 100L)))
      q.processAllAvailable()
      // simulate dying after rename(live, aside) and before
      // rename(staged, live): live dir gone, previous state at the
      // dot-prefixed aside
      val fs = new org.apache.hadoop.fs.Path(snap)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(fs.rename(new org.apache.hadoop.fs.Path(snap),
        new org.apache.hadoop.fs.Path(s"$dir/.snapshot.old")))
      log.addData(Seq((2L, t("2024-01-01 11:00:00"), 2L, "I", 200L)))
      q.processAllAvailable()
      val got = spark.read.parquet(snap)
        .select("user_id", "value_cents").as[(Long, Long)].collect().toSet
      // without recovery, key 1 would have been silently lost
      assert(got == Set((1L, 100L), (2L, 200L)))
    } finally q.stop()
  }
}
