package graft

import graft.operators.Blocks
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** The release rule of [[graft.operators.Blocks]] on tiny in-memory
  * frames: a retired checkpoint's blocks go only once every checkpoint
  * built on it is fully cached, and nothing the instance did not pin is
  * ever released. */
class BlocksSpec extends SparkSpec {
  import spark.implicits._

  private def base: DataFrame = (1 to 100).toDF("k").repartition(4)

  private def rddOf(df: DataFrame): org.apache.spark.rdd.RDD[_] =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd }.head

  private def persisted(df: DataFrame): Boolean =
    spark.sparkContext.getPersistentRDDs.contains(rddOf(df).id)

  /** The storage status a lazy successor is judged by trails its action
    * by the listener bus, so re-check (each call re-checks) until the
    * release lands or 10 s pass. */
  private def releasedSoon(b: Blocks, df: DataFrame): Boolean = {
    val deadline = System.nanoTime + 10000000000L
    b.retire(df)
    while (persisted(df) && System.nanoTime < deadline) {
      Thread.sleep(20)
      b.retire(df)
    }
    !persisted(df)
  }

  test("a retired lazy checkpoint stays until its successor's first action") {
    val b = new Blocks
    val a = b.checkpoint(base, eager = false)
    // no exchange: the lazy checkpoint call runs nothing
    val s = b.checkpoint(a.select((col("k") * 2).as("k")), eager = false)
    b.retire(a)
    b.retire(a) // a re-check before the successor's action frees nothing
    assert(persisted(a), "released before its successor materialized")
    assert(s.collect().length == 100)
    assert(releasedSoon(b, a))
    // the successor holds its own copy: the lineage it lost is not needed
    assert(s.agg(sum(col("k"))).head.getLong(0) == 10100L)
  }

  test("an eager successor releases its predecessor at retire") {
    val b = new Blocks
    val a = b.checkpoint(base)
    val s = b.checkpoint(a.groupBy((col("k") % 3).as("g")).count())
    b.retire(a)
    assert(!persisted(a))
    assert(persisted(s))
    assert(s.agg(sum(col("count"))).head.getLong(0) == 100L)
  }

  test("a predecessor read only in its successor's map stage is released") {
    val b = new Blocks
    val a = b.checkpoint(base, eager = false)
    // under AQE this call already runs the shuffle map stage — the
    // only stage that reads `a` — and leaves the successor's own
    // stage for its first action
    val s = b.checkpoint(
      a.groupBy((col("k") % 4).as("g")).agg(sum(col("k")).as("t")),
      eager = false)
    b.retire(a)
    assert(persisted(a), "released before its successor materialized")
    assert(s.collect().map(_.getLong(1)).sum == 5050L)
    // the lineage marker never flips for a map-stage-only read, so it
    // cannot be the release signal
    assert(!rddOf(a).isCheckpointed)
    assert(releasedSoon(b, a))
    assert(s.collect().map(_.getLong(1)).sum == 5050L)
  }

  test("frames the caller persisted or checkpointed itself survive") {
    val sc = spark.sparkContext
    val mine = base.select((col("k") + 1).as("k")).persist()
    mine.count()
    val raw = base.localCheckpoint()
    val before = sc.getPersistentRDDs.keySet
    val b = new Blocks
    val a = b.checkpoint(mine.join(raw, "k"))
    val s = b.checkpoint(a.select(col("k")), eager = false)
    Seq(mine, raw, a).foreach(b.retire)
    s.count()
    assert(releasedSoon(b, s))
    assert(releasedSoon(b, a))
    assert(before.forall(sc.getPersistentRDDs.contains),
      "a Blocks call released an RDD it did not pin")
    assert(mine.count() == 100L && raw.count() == 100L)
    mine.unpersist()
  }
}
