package graft

import graft.operators.QualityModel
import graft.streaming.StreamingQualityDrift
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming quality-drift monitoring: each micro-batch's readout
  * under the frozen model (training-corpus standardization stats +
  * trained weights) equals the batch computation on the same rows,
  * and a degraded batch (short, repetitive spam) reads as a lower
  * mean learned score — the re-examine signal.
  */
class StreamingQualityDriftSpec extends SparkSpec {
  import spark.implicits._

  // train once on the real sf0.001 corpus; freeze stats + weights
  private lazy val (frozenStats, frozenW) = {
    val raw = QualityModel.features(
      Tables.load(spark, "/root/testdata/sf0.001", "documents"))
    val stats = QualityModel.statsOf(raw)
    val f = QualityModel.applyStats(raw, stats).localCheckpoint()
    (stats, QualityModel.train(f, lr = 2.0, iters = 5))
  }

  test("per-batch quality log equals batch stats; degraded batch scores lower") {
    implicit val ctx = spark.sqlContext
    val dir = tempDir("qdrift")
    val ckpt = tempDir("qdrift-ckpt")
    val inDist = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
      .orderBy(col("doc_id")).limit(30)
      .as[(Long, String)].collect().toSeq
    val spam = (1000L to 1009L).map(i =>
      (i, Seq.fill(20)("buy").mkString(" ")))
    val in = MemoryStream[(Long, String)]
    val q = StreamingQualityDrift.monitor(
      in.toDF().toDF("doc_id", "text"), frozenStats, frozenW,
      s"$dir/log", s"$ckpt/log")
    try {
      in.addData(inDist: _*)
      q.processAllAvailable()
      in.addData(spam: _*)
      q.processAllAvailable()
      val log = StreamingQualityDrift.readLog(spark, s"$dir/log")
        .collect().map(r => r.getAs[Int]("batch_id").toLong -> r).toMap
      assert(log.keySet == Set(0L, 1L))
      // batch equivalence, field by field
      Seq(0L -> inDist, 1L -> spam).foreach { case (id, rows) =>
        val want = StreamingQualityDrift
          .batchStats(rows.toDF("doc_id", "text"), frozenStats, frozenW)
          .collect().head
        val got = log(id)
        Seq("n_docs", "n_label_pass", "n_pred_pass", "mean_score_bp",
          "agree_bp").foreach { c =>
          assert(got.getAs[Any](c) == want.getAs[Any](c),
            s"batch $id column $c: ${got.getAs[Any](c)} != ${want.getAs[Any](c)}")
        }
      }
      // the spam batch fails the rule gate AND scores far lower
      assert(log(1L).getAs[Long]("n_label_pass") == 0L)
      assert(log(1L).getAs[Long]("mean_score_bp")
        < log(0L).getAs[Long]("mean_score_bp"),
        "degraded batch did not lower the mean learned score")
    } finally q.stop()
  }

  test("empty batch logs zero counts and null rates, never divides") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val r = StreamingQualityDrift.batchStats(empty, frozenStats, frozenW)
      .collect().head
    assert(r.getAs[Long]("n_docs") == 0L)
    assert(r.isNullAt(r.fieldIndex("mean_score_bp")))
    assert(r.isNullAt(r.fieldIndex("agree_bp")))
  }
}
