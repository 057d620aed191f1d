package graft

import graft.operators.Similarity
import graft.streaming.VectorCurationPipeline
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The end-to-end continuous vector-curation pipeline: streaming
  * batches SemDeDup against the kept index, survivors append routed,
  * and a drifted batch triggers an ACTUAL re-fit (new generation +
  * atomic pointer swap) — after which the pruned probe still equals
  * brute force over the kept set.
  */
class VectorCurationPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def vec(deg: Double): Array[Float] = Array(
    math.cos(math.toRadians(deg)).toFloat, math.sin(math.toRadians(deg)).toFloat)

  test("ingest → dedup vs kept index → drift-gated re-fit, probe ≡ brute force") {
    implicit val ctx = spark.sqlContext
    // two tight clusters around 0°/5.71° and ~180°: every member's
    // cosine-to-centroid rounds to cents 100, so an in-distribution
    // batch KS-scores 0 and only the orthogonal batch trips the gate
    val seed = Seq(
      (0L, vec(5.71), 0), (1L, vec(0.0), 0),
      (2L, vec(174.29), 1), (3L, vec(180.0), 1))
      .toDF("vec_id", "embedding", "label")
    val root = tempDir("cur") + "/vecs"
    val ckpt = tempDir("cur-ckpt")
    VectorCurationPipeline.init(spark, seed, root)
    assert(VectorCurationPipeline.currentGen(spark, root) == 0L)

    val in = MemoryStream[(Long, Array[Float])]
    // dup threshold 0.9999 ≈ within 0.81°: vec 10 (0.5°) duplicates
    // member 1 (0°, cos 0.99996); vec 11 (4.5°) is ≥ 1.2° from every
    // member → survives, and still lands in cents-100 centroid range
    val q = VectorCurationPipeline.start(
      in.toDF().toDF("vec_id", "embedding"), root, ckpt,
      threshold = 0.9999, ksThreshold = 0.2,
      trigger = Trigger.ProcessingTime("25 milliseconds"))
    try {
      // batch 0: one semantic dup (dropped), one fresh (kept)
      in.addData((10L, vec(0.5)), (11L, vec(4.5)))
      q.processAllAvailable()
      val gen0Idx = spark.read.parquet(
        VectorCurationPipeline.idxDir(root, 0L))
      assert(gen0Idx.count() == 5, "expected 4 seed + 1 survivor")
      assert(gen0Idx.filter(col("vec_id") === 10L).count() == 0,
        "the near-duplicate must not enter the kept index")
      assert(VectorCurationPipeline.currentGen(spark, root) == 0L,
        "an in-distribution batch must not trigger a re-fit")

      // batch 1: orthogonal to both centroids → KS 1.0 → re-fit
      in.addData((20L, vec(90.0)), (21L, vec(271.0)))
      q.processAllAvailable()
      assert(VectorCurationPipeline.currentGen(spark, root) == 1L,
        "the drifted batch must advance the generation pointer")
      val log = VectorCurationPipeline.driftLog(spark, root)
        .orderBy(col("batch_id"))
        .select(col("batch_id"), col("refit")).as[(Long, Boolean)].collect()
      assert(log.toSeq == Seq((0L, false), (1L, true)),
        s"drift log rows wrong: ${log.toSeq}")

      // replayed delivery after the re-fit: all ids known → no-op batch
      in.addData((11L, vec(4.5)), (20L, vec(90.0)))
      q.processAllAvailable()
      assert(VectorCurationPipeline.currentGen(spark, root) == 1L)
      assert(VectorCurationPipeline.driftLog(spark, root).count() == 2,
        "a pure-replay batch must not log drift")

      // the re-fit generation: same 7 members, re-assigned + re-meaned;
      // the pruned probe over it ≡ brute force over the kept set
      val gen1Idx = spark.read.parquet(
        VectorCurationPipeline.idxDir(root, 1L)).localCheckpoint()
      assert(gen1Idx.count() == 7, "re-fit must preserve every kept member")
      val newCent = spark.read.parquet(
        VectorCurationPipeline.centDir(root, 1L))
      val queries = Seq((99L, vec(2.0), 0), (98L, vec(95.0), 0))
        .toDF("vec_id", "embedding", "label")
      val probe = Similarity.ivfTopKIndexed(
        spark, VectorCurationPipeline.idxDir(root, 1L), queries, newCent,
        k = 7, nprobe = 2)
        .select(col("q_id"), col("vec_id"), col("sim"), col("rank"))
      val brute = Similarity.bruteForceTopK(queries, gen1Idx, k = 7)
        .select(col("q_id"), col("vec_id"), col("sim"), col("rank"))
      assert(rowSet(probe) == rowSet(brute),
        "post-re-fit pruned probe diverged from brute force")
    } finally q.stop()
  }

  test("refitRounds > 0: warm-start Lloyd rounds in the re-fit, same invariants") {
    implicit val ctx = spark.sqlContext
    val seed = Seq(
      (0L, vec(5.71), 0), (1L, vec(0.0), 0),
      (2L, vec(174.29), 1), (3L, vec(180.0), 1))
      .toDF("vec_id", "embedding", "label")
    val root = tempDir("cur2") + "/vecs"
    val ckpt = tempDir("cur2-ckpt")
    VectorCurationPipeline.init(spark, seed, root)
    val in = MemoryStream[(Long, Array[Float])]
    val q = VectorCurationPipeline.start(
      in.toDF().toDF("vec_id", "embedding"), root, ckpt,
      threshold = 0.9999, ksThreshold = 0.2, refitRounds = 2,
      trigger = Trigger.ProcessingTime("25 milliseconds"))
    try {
      in.addData((20L, vec(90.0)), (21L, vec(271.0)))
      q.processAllAvailable()
      assert(VectorCurationPipeline.currentGen(spark, root) == 1L,
        "the drifted batch must advance the generation pointer")
      val gen1Idx = spark.read.parquet(
        VectorCurationPipeline.idxDir(root, 1L)).localCheckpoint()
      assert(gen1Idx.count() == 6, "re-fit must preserve every kept member")
      // cluster ids never renumber: the generation still has labels {0, 1}
      assert(gen1Idx.select(col("label")).distinct().as[Int].collect().toSet
        .subsetOf(Set(0, 1)))
      val newCent = spark.read.parquet(VectorCurationPipeline.centDir(root, 1L))
      assert(newCent.count() == 2, "warm-start healing must not grow the codebook")
      val queries = Seq((99L, vec(2.0), 0), (98L, vec(95.0), 0))
        .toDF("vec_id", "embedding", "label")
      val probe = Similarity.ivfTopKIndexed(
        spark, VectorCurationPipeline.idxDir(root, 1L), queries, newCent,
        k = 6, nprobe = 2)
        .select(col("q_id"), col("vec_id"), col("sim"), col("rank"))
      val brute = Similarity.bruteForceTopK(queries, gen1Idx, k = 6)
        .select(col("q_id"), col("vec_id"), col("sim"), col("rank"))
      assert(rowSet(probe) == rowSet(brute),
        "post-warm-re-fit pruned probe diverged from brute force")
    } finally q.stop()
  }
}
