package graft

import graft.operators.Similarity
import graft.streaming.StreamingVectorIngest
import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Continuous embedding ingest into the persisted IVF index: appended
  * batches stay probe-correct, replays append nothing, and the drift
  * log gates re-fits.
  */
class StreamingVectorIngestSpec extends SparkSpec {
  import spark.implicits._

  private val seedCorpus = Seq(
    (0L, Array(1.0f, 0.1f), 0), (1L, Array(1.0f, 0.0f), 0),
    (2L, Array(-1.0f, 0.1f), 1), (3L, Array(-1.0f, 0.0f), 1))

  test("batches append routed; probe ≡ direct; replay appends nothing") {
    implicit val ctx = spark.sqlContext
    val corpus = seedCorpus.toDF("vec_id", "embedding", "label")
    val dir = Files.createTempDirectory("graft-vec-ingest").toString + "/idx"
    val ckpt = Files.createTempDirectory("graft-vec-ckpt").toString
    Similarity.writeIvfIndex(corpus, dir)
    val cent = Similarity.centroids(corpus).localCheckpoint()

    val in = MemoryStream[(Long, Array[Float])]
    val q = StreamingVectorIngest.start(
      in.toDF().toDF("vec_id", "embedding"), cent, dir, ckpt,
      refitCheckEvery = 1,
      trigger = Trigger.ProcessingTime("25 milliseconds"))
    try {
      in.addData((10L, Array(0.9f, 0.05f)), (11L, Array(-0.95f, 0.05f)))
      q.processAllAvailable()
      in.addData((12L, Array(0.98f, -0.02f)))
      q.processAllAvailable()
      // replayed delivery: same vec_ids again → exact anti-join drops all
      in.addData((10L, Array(0.9f, 0.05f)), (12L, Array(0.98f, -0.02f)))
      q.processAllAvailable()
      val idx = spark.read.parquet(dir)
      assert(idx.count() == 7, s"expected 4 seed + 3 appended, got ${idx.count()}")

      // probing the grown index ≡ in-memory search over the same corpus
      val appended = Seq(
        (10L, Array(0.9f, 0.05f)), (11L, Array(-0.95f, 0.05f)),
        (12L, Array(0.98f, -0.02f))).toDF("vec_id", "embedding")
      val full = corpus.unionByName(
        Similarity.assignToCentroids(appended, cent)
          .select("vec_id", "embedding", "label"))
      val queries = Seq((99L, Array(1.0f, 0.02f), 0))
        .toDF("vec_id", "embedding", "label")
      assert(rowSet(Similarity.ivfTopKIndexed(spark, dir, queries, cent, k = 10)) ==
        rowSet(Similarity.ivfTopK(queries, full, cent, k = 10)))

      // drift log: one row per non-empty batch after the baseline
      // exists, none for the all-replay batch, in-distribution → no refit
      val log = StreamingVectorIngest.driftLog(spark, dir)
      assert(log.count() == 2, s"expected 2 drift rows, got ${log.count()}")
      assert(log.filter(col("refit")).count() == 0,
        "in-distribution batches must not trip the re-fit gate")
    } finally q.stop()
  }

  test("a shifted batch trips the re-fit gate in the drift log") {
    implicit val ctx = spark.sqlContext
    val corpus = seedCorpus.toDF("vec_id", "embedding", "label")
    val dir = Files.createTempDirectory("graft-vec-ingest2").toString + "/idx"
    val ckpt = Files.createTempDirectory("graft-vec-ckpt2").toString
    Similarity.writeIvfIndex(corpus, dir)
    val cent = Similarity.centroids(corpus).localCheckpoint()
    val in = MemoryStream[(Long, Array[Float])]
    val q = StreamingVectorIngest.start(
      in.toDF().toDF("vec_id", "embedding"), cent, dir, ckpt,
      refitCheckEvery = 1,
      trigger = Trigger.ProcessingTime("25 milliseconds"))
    try {
      // orthogonal to both centroids: cosine-to-centroid ~0 vs the
      // index's ~1 → KS 1.0 → refit
      in.addData((20L, Array(0.0f, 1.0f)), (21L, Array(0.05f, -1.0f)))
      q.processAllAvailable()
      val log = StreamingVectorIngest.driftLog(spark, dir)
      assert(log.count() == 1 && log.filter(col("refit")).count() == 1,
        "orthogonal batch must log refit=true")
    } finally q.stop()
  }
}
