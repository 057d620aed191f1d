package graft

import graft.operators.Drift
import graft.streaming.StreamingDrift
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming KS drift monitoring: each micro-batch's statistic equals
  * the batch computation against the same reference, and a shifted
  * batch reads as more drifted than an in-distribution one.
  */
class StreamingDriftSpec extends SparkSpec {
  import spark.implicits._

  test("per-batch KS log equals batch KS; shifted batch drifts more") {
    implicit val ctx = spark.sqlContext
    val dir = tempDir("drift")
    val ckpt = tempDir("drift-ckpt")
    val refVals = (1 to 100).map(_.toDouble)
    val ref = Drift.centsHist(refVals.toDF("value"), col("value"))
      .localCheckpoint()
    val in = MemoryStream[Double]
    val q = StreamingDrift.monitor(
      in.toDF().toDF("value"), ref, s"$dir/ks", s"$ckpt/ks")
    val sameDist = (1 to 100 by 2).map(_.toDouble)    // in-distribution
    val shifted = (501 to 600 by 2).map(_.toDouble)   // fully shifted
    try {
      in.addData(sameDist: _*)
      q.processAllAvailable()
      in.addData(shifted: _*)
      q.processAllAvailable()
      val log = StreamingDrift.readLog(spark, s"$dir/ks")
        .collect().map(r => r.getAs[Int]("batch_id").toLong ->
          r.getAs[Double]("ks_stat")).toMap
      assert(log.keySet == Set(0L, 1L))
      val ks0 = Drift.ksFromHists(
        Drift.centsHist(sameDist.toDF("value"), col("value")), ref)
        .collect().head.getAs[Double]("ks_stat")
      val ks1 = Drift.ksFromHists(
        Drift.centsHist(shifted.toDF("value"), col("value")), ref)
        .collect().head.getAs[Double]("ks_stat")
      assert(log(0L) == ks0 && log(1L) == ks1)
      assert(log(1L) > log(0L))
      assert(log(1L) == 1.0) // disjoint supports: maximal drift
    } finally q.stop()
  }

  test("an empty side reads as maximal drift (1.0), never null") {
    val ref = Drift.centsHist((1 to 10).map(_.toDouble).toDF("value"), col("value"))
    val emptyVals = spark.emptyDataFrame
      .withColumn("value", lit(0.0)).filter(lit(false))
    val r = Drift.ksFromHists(Drift.centsHist(emptyVals, col("value")), ref)
      .collect().head
    // a feed that stopped producing must trip the alert threshold, not
    // read as healthy because null compares false
    assert(r.getAs[Long]("n_a") == 0L && r.getAs[Long]("n_b") == 10L)
    assert(r.getAs[Double]("ks_stat") == 1.0)
    val bothEmpty = Drift.ksFromHists(
      Drift.centsHist(emptyVals, col("value")),
      Drift.centsHist(emptyVals, col("value"))).collect().head
    assert(bothEmpty.getAs[Double]("ks_stat") == 1.0)
  }
}
