package graft

import graft.streaming.StreamingSessionize
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The streamed session_window aggregation matches the batch q40
  * sessionization for every session the watermark has closed.
  */
class StreamingSessionizeSpec extends SparkSpec {

  test("streamed sessions equal batch q40 sessions that have closed") {
    val sf = "/root/testdata/sf0.001"
    val dir = Files.createTempDirectory("graft-sess").toString
    Tables.load(spark, sf, "events").write.parquet(s"$dir/data")

    val streamed = StreamingSessionize.sessions(
      spark.readStream
        .schema(Tables.load(spark, sf, "events").schema)
        .parquet(s"$dir/data")
        .withColumn("ts", col("ts").cast("timestamp")))
    val q = streamed.writeStream
      .outputMode("append")
      .format("memory").queryName("sessions")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("sessions")
      .select(col("user_id"), col("session_start").cast("long"),
        col("n_events"), col("sum_value"))
      .collect().map(_.toSeq).toSet

    // batch truth (q40): sessions whose close (last event + 30 min) the
    // final watermark (max ts) has passed — exactly what append mode emits
    val batch = SparkEntry.queries("q40_sessionize")(spark, sf)
    val maxTs = Tables.load(spark, sf, "events")
      .agg(max(col("ts").cast("timestamp").cast("long"))).head().getLong(0)
    val want = batch
      .filter(col("session_end").cast("timestamp").cast("long") + 30 * 60 <= maxTs)
      .select(col("user_id"), col("session_start").cast("timestamp").cast("long"),
        col("n_events"), col("sum_value"))
      .collect().map(_.toSeq).toSet

    assert(got.nonEmpty)
    assert(got == want)
  }
}
