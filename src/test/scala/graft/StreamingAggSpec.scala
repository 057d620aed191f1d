package graft

import graft.Tables
import java.nio.file.{Paths, StandardCopyOption}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Structured Streaming windowed aggregation with a watermark over the
  * events table — the streaming form of q33_stream_hourly, checked
  * against the batch result.
  */
class StreamingAggSpec extends SparkSpec {

  test("streamed hourly windowed agg matches the batch rollup") {
    val sf = "/root/testdata/sf0.001"
    // file-source needs a directory; materialize the (nanos-fixed) events
    val dir = tempDir("events")
    Tables.load(spark, sf, "events").write.parquet(s"$dir/data")

    val streamed = spark.readStream
      .schema(Tables.load(spark, sf, "events").schema)
      .parquet(s"$dir/data")
      // watermarks need TIMESTAMP (LTZ); session TZ is UTC so the cast
      // is value-preserving
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val q = streamed.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("hourly_agg")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val got = spark.sql(
      """SELECT window.start AS h, event_type, n FROM hourly_agg""")
      .collect().map(r => (r.get(0).toString, r.getString(1)) -> r.getLong(2)).toMap
    val want = Tables.load(spark, sf, "events")
      .withColumn("ts", col("ts").cast("timestamp"))
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.get(0).toString, r.getString(1)) -> r.getLong(2)).toMap
    assert(got == want)
    assert(got.nonEmpty)
  }
}
