package graft

import graft.operators.TextOps
import graft.streaming.StreamingPerplexityGate
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The streaming CCNet gate: admission decisions are per-doc against a
  * FROZEN LM + frozen per-language cutoffs, so the accumulated kept
  * table equals the one-shot gate of everything ingested
  * (batch-split-invariant); unconfigured languages and unscorable docs
  * fail CLOSED; the audit attributes per (batch, lang); replay is
  * idempotent.
  */
class StreamingPerplexityGateSpec extends SparkSpec {
  import spark.implicits._

  // the frozen training slice the LM + cutoffs are built from: 'en'
  // docs share natural bigrams, the gibberish one repeats none
  private val frozen = Seq(
    (100L, "en", "the cat sat on the mat and the dog sat on the rug"),
    (101L, "en", "the dog sat on the mat and the cat sat on the rug"),
    (102L, "en", "the cat and the dog sat on the mat near the rug"),
    (103L, "en", "zq xv jk wq vz kj qx bn mz pq wv zx qk jv nz bw"))

  private def lm = TextOps.bigramLm(frozen.toDF("doc_id", "lang", "text"))

  /** Frozen cutoff: en admits at or above the gibberish-excluding
    * boundary computed from the frozen slice's scores. */
  private def cutoffs = {
    val scores = TextOps.bigramLogprob(frozen.toDF("doc_id", "lang", "text"), lm)
      .withColumn("lp_e4", round(col("avg_logp") * 1e4).cast("bigint"))
      .select("doc_id", "lp_e4").as[(Long, Long)].collect().toMap
    // boundary strictly above the gibberish doc, at the worst natural doc
    val cut = Seq(100L, 101L, 102L).map(scores).min
    assert(scores(103L) < cut, "fixture must separate gibberish from natural")
    Seq(("en", cut)).toDF("lang", "cut_e4")
  }

  private val b1 = Seq(
    (1L, "en", "the cat sat on the mat and the dog sat on the rug"), // natural → kept
    (2L, "en", "zq xv jk wq vz kj qx bn mz pq wv zx qk jv nz bw"))   // gibberish → dropped
  private val b2 = Seq(
    (3L, "en", "the dog sat on the rug and the cat sat on the mat"), // natural → kept
    (4L, "de", "der hund sitzt auf der matte und die katze auch"),   // no cutoff → fail closed
    (5L, "en", "x"))                                                 // no bigram in LM → fail closed

  test("frozen-LM gate: kept ≡ one-shot, fail-closed rules, audit exact, replay idempotent") {
    implicit val ctx = spark.sqlContext
    val dir = tempDir("sppl")
    val ckpt = tempDir("sppl-ck")
    val theLm = lm.localCheckpoint()
    val theCuts = cutoffs

    val in = MemoryStream[(Long, String, String)]
    val q = StreamingPerplexityGate.start(
      in.toDF().toDF("doc_id", "lang", "text"),
      s"$dir/kept", s"$ckpt/q", theLm, theCuts,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    try {
      in.addData(b1: _*)
      q.processAllAvailable()
      in.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()

    val kept = StreamingPerplexityGate.readKept(spark, s"$dir/kept")
    assert(kept.select("doc_id").as[Long].collect().toSet === Set(1L, 3L))

    // batch-split invariance: one-shot gate of the union = accumulated
    val all = (b1 ++ b2).toDF("doc_id", "lang", "text")
    val oneShot = all.join(
        TextOps.bigramLogprob(all, theLm)
          .withColumn("lp_e4", round(col("avg_logp") * 1e4).cast("bigint"))
          .select(col("doc_id"), col("lp_e4")), Seq("doc_id"), "left")
      .join(theCuts, Seq("lang"), "left")
      .filter(col("lp_e4").isNotNull && col("cut_e4").isNotNull &&
        col("lp_e4") >= col("cut_e4"))
      .select("doc_id", "lang", "text", "lp_e4")
    assert(rowSet(kept.select("doc_id", "lang", "text", "lp_e4")) ===
      rowSet(oneShot))

    // audit: per (batch, lang), with the unconfigured 'de' attributed
    val log = StreamingPerplexityGate.readLog(spark, s"$dir/kept")
      .select("batch_id", "lang", "n_docs", "n_kept", "n_unconfigured")
      .collect().map(r => (r.getAs[Number]("batch_id").longValue(),
        r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(log === Set(
      (0L, "en", 2L, 1L, 0L),
      (1L, "en", 2L, 1L, 0L),
      (1L, "de", 1L, 0L, 1L)))

    // replay: re-running batch 0 rewrites its partition identically
    StreamingPerplexityGate.applyBatch(
      b1.toDF("doc_id", "lang", "text"), 0L, s"$dir/kept", theLm, theCuts)
    val again = StreamingPerplexityGate.readKept(spark, s"$dir/kept")
    assert(rowSet(again.select("doc_id", "lang", "text", "lp_e4")) ===
      rowSet(oneShot))
  }

  test("cutoffsFromBuckets reads the middle bucket's floor per language") {
    val buckets = Seq(
      ("en", "head", 10L, -100L, -50L),
      ("en", "middle", 10L, -200L, -101L),
      ("en", "tail", 10L, -900L, -201L),
      ("de", "middle", 5L, -300L, -150L))
      .toDF("lang", "bucket", "n_docs", "lp_min_e4", "lp_max_e4")
    val got = StreamingPerplexityGate.cutoffsFromBuckets(buckets)
      .as[(String, Long)].collect().toMap
    assert(got === Map("en" -> -200L, "de" -> -300L))
  }
}
