package graft

import graft.operators.Decontaminate
import graft.streaming.StreamingDecontaminate
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The streaming decontamination guard: the accumulated clean table
  * equals the batch operator's bloomClean of everything ingested
  * (contamination is per-doc vs a FROZEN eval artifact, so the split
  * into batches cannot matter), the audit log counts are exact, and a
  * replayed batch changes nothing.
  */
class StreamingDecontaminateSpec extends SparkSpec {
  import spark.implicits._

  // eval set: two 6-word benchmark prompts
  private val evalDocs = Seq(
    (900L, "alpha beta gamma delta epsilon zeta"),
    (901L, "one two three four five six"))
  // b1: doc 1 copies an eval 6-gram verbatim (contaminated), doc 2 is
  // clean; b2: doc 3 embeds the other prompt mid-text, doc 4 shares
  // only shorter overlaps (clean at n=6)
  private val b1 = Seq(
    (1L, "intro alpha beta gamma delta epsilon zeta outro"),
    (2L, "totally unrelated training text with many plain words here"))
  private val b2 = Seq(
    (3L, "padding words one two three four five six more padding"),
    (4L, "one two three unrelated four five ending text"))

  test("accumulated clean table ≡ batch bloomClean; log exact; replay idempotent") {
    implicit val ctx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("sdecon").toString
    val ckpt = java.nio.file.Files.createTempDirectory("sdecon-ck").toString
    val evalGrams = Decontaminate.evalGramSet(
      evalDocs.toDF("doc_id", "text"), n = 6)
    val bloom = Decontaminate.bloomBytesOf(evalGrams)

    val in = MemoryStream[(Long, String)]
    val q = StreamingDecontaminate.start(
      in.toDF().toDF("doc_id", "text"),
      s"$dir/clean", s"$ckpt/q", evalGrams, bloom, n = 6,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    try {
      in.addData(b1: _*)
      q.processAllAvailable()
      in.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()

    def cleanIds: Seq[Long] =
      StreamingDecontaminate.readClean(spark, s"$dir/clean")
        .select("doc_id").as[Long].collect().sorted.toSeq
    // the frozen-reference law: accumulated == one-shot batch operator
    val want = Decontaminate.bloomClean(
      (b1 ++ b2).toDF("doc_id", "text"), evalDocs.toDF("doc_id", "text"),
      n = 6).select("doc_id").as[Long].collect().sorted.toSeq
    assert(cleanIds === want)
    assert(cleanIds === Seq(2L, 4L), "docs 1 and 3 copied eval 6-grams")

    val log = StreamingDecontaminate.readLog(spark, s"$dir/clean")
      .orderBy("batch_id")
      .select("batch_id", "n_docs", "n_contaminated", "n_clean")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(log === Seq((0L, 2L, 1L, 1L), (1L, 2L, 1L, 1L)))

    // at-least-once replay: rerunning batch 0's body reproduces the
    // identical partition (frozen artifact + deterministic plan)
    val before = cleanIds
    StreamingDecontaminate.applyBatch(
      b1.toDF("doc_id", "text"), 0L, s"$dir/clean", evalGrams, bloom, n = 6)
    assert(cleanIds === before)
  }
}
