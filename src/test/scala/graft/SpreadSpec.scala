package graft

import graft.operators.Spread
import org.apache.spark.sql.functions._

/** Laws for the unsplittable-input parallelism guard: a tiny
  * file-backed scan is re-spread to the session parallelism with the
  * row set untouched; frames without a file-source leaf are returned
  * as-is (streaming batches / checkpointed RDDs / literals must never
  * gain an exchange from it).
  */
class SpreadSpec extends SparkSpec {
  import spark.implicits._

  test("tiny file scan re-spreads to session parallelism, rows unchanged") {
    val dir = tempDir("spread")
    (1L to 100L).map(i => (i, s"row $i")).toDF("id", "s")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val scan = spark.read.parquet(dir)
    assert(scan.rdd.getNumPartitions < spark.sparkContext.defaultParallelism,
      "fixture must be an under-parallel scan for the law to bite")
    val spread = Spread.scan(scan)
    assert(spread.rdd.getNumPartitions ===
      spark.sparkContext.defaultParallelism)
    assert(rowSet(spread) === rowSet(scan))
  }

  test("frames without a file-source leaf pass through untouched") {
    val mem = (1L to 10L).toDF("id")
    assert(Spread.scan(mem) eq mem)
    val cp = (1L to 10L).toDF("id").localCheckpoint()
    assert(Spread.scan(cp) eq cp)
  }
}
