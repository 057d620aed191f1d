package graft

import graft.operators.TextOps
import graft.streaming.StreamingRedact
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The streaming scrubber: the accumulated clean table equals the
  * batch operator's redact of everything ingested (redaction is
  * per-doc against a frozen pattern set, so the split into batches
  * cannot matter), the audit log counts are exact, and a replayed
  * batch changes nothing.
  */
class StreamingRedactSpec extends SparkSpec {
  import spark.implicits._

  private val deny = Seq("leak")
  private val b1 = Seq(
    (1L, "contact me at alice@example.com about the leak"),
    (2L, "plain text nothing to scrub in here"))
  private val b2 = Seq(
    (3L, "server 10.1.2.3 leak leak everywhere"),
    (4L, "dial 555-123-4567 for details"))

  test("accumulated scrubbed table ≡ batch redact; log exact; replay idempotent") {
    implicit val ctx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("sredact").toString
    val ckpt = java.nio.file.Files.createTempDirectory("sredact-ck").toString

    val in = MemoryStream[(Long, String)]
    val q = StreamingRedact.start(
      in.toDF().toDF("doc_id", "text"),
      s"$dir/clean", s"$ckpt/q", deny,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    try {
      in.addData(b1: _*)
      q.processAllAvailable()
      in.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()

    val got = StreamingRedact.readClean(spark, s"$dir/clean")
      .select("doc_id", "redacted", "n_pii", "n_denied")
    val want = TextOps.redact((b1 ++ b2).toDF("doc_id", "text"), deny)
    assert(rowSet(got) === rowSet(want))
    // spot-check the actual rewrites
    val byId = got.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(byId(1L) === "contact me at <EMAIL> about the <MASKED>")
    assert(byId(3L) === "server <IP> <MASKED> <MASKED> everywhere")
    assert(byId(4L) === "dial <PHONE> for details")

    val log = StreamingRedact.readLog(spark, s"$dir/clean")
      .orderBy("batch_id")
      .select("n_docs", "n_pii", "n_denied", "n_touched")
      .collect().map(_.toSeq).toSeq
    assert(log === Seq(Seq(2L, 1L, 1L, 1L), Seq(2L, 2L, 2L, 2L)))

    // at-least-once: replaying batch 0 rewrites its partition in place
    StreamingRedact.applyBatch(b1.toDF("doc_id", "text"), 0L, s"$dir/clean", deny)
    val again = StreamingRedact.readClean(spark, s"$dir/clean")
      .select("doc_id", "redacted", "n_pii", "n_denied")
    assert(rowSet(again) === rowSet(want))
  }
}
