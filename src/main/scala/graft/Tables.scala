package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  *
  * Tables are one parquet file per name under the scale-factor dir.
  * All reads go through here so scan options stay consistent.
  */
object Tables {
  val starSchema: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
  val extension: Seq[String] = Seq("events", "documents", "embeddings")
  val all: Seq[String] = starSchema ++ extension

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      // events.ts has shipped as both parquet TIMESTAMP(NANOS) and
      // TIMESTAMP(MICROS) across testdata generations. Spark rejects
      // NANOS ([PARQUET_TYPE_ILLEGAL]) unless read as raw longs, so
      // enable nanosAsLong and branch on what actually materialized:
      // a LongType column is raw nanos → truncate to micros (exactly
      // what DuckDB does when it loads TIMESTAMP_NS); a timestamp
      // column is already micros → only normalize the type. Either way
      // the result is timestamp_ntz so downstream writes stay
      // naive-micros like the source data (and like DuckDB's read).
      // The TIMESTAMP→NTZ cast reinterprets through the SESSION zone,
      // so a non-UTC session would silently shift every event time —
      // fail fast instead of corrupting.
      require(spark.conf.get("spark.sql.session.timeZone") == "UTC",
        "Tables.load requires spark.sql.session.timeZone=UTC — the " +
          "events ts TIMESTAMP→timestamp_ntz normalization is " +
          "wall-clock-preserving only under UTC")
      // the legacy flag must not leak into unrelated parquet reads (a
      // future nanos column elsewhere would silently load as Long) —
      // but it CANNOT be restored unconditionally: the scan re-reads
      // SQLConf when an ACTION is planned (buildReaderWithPartitionValues
      // captures it into the task-side hadoopConf), so for a genuinely
      // nanos-typed generation the flag has to stay set for the
      // DataFrame to stay executable. Restore it only when the data
      // turned out not to need it.
      val key = "spark.sql.legacy.parquet.nanosAsLong"
      val saved = spark.conf.getOption(key)
      spark.conf.set(key, "true")
      val raw = spark.read.parquet(s"$dir/$name.parquet")
      if (raw.schema("ts").dataType != org.apache.spark.sql.types.LongType)
        saved match {
          case Some(v) => spark.conf.set(key, v)
          case None => spark.conf.unset(key)
        }
      import org.apache.spark.sql.types.{LongType, TimestampType, TimestampNTZType}
      val tsExpr = raw.schema("ts").dataType match {
        case LongType => // raw nanos → micros, like DuckDB's TIMESTAMP_NS read
          org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)")
        case TimestampType | TimestampNTZType =>
          org.apache.spark.sql.functions.col("ts")
        case other => // a malformed generation must fail, not load garbage
          throw new IllegalStateException(
            s"events.ts has unexpected type $other — expected " +
              "TIMESTAMP(NANOS-as-Long), TIMESTAMP, or TIMESTAMP_NTZ")
      }
      raw.withColumn("ts", tsExpr.cast("timestamp_ntz"))
    } else spark.read.parquet(s"$dir/$name.parquet")

  /** Register every table as a temp view so `spark.sql` queries (needed for
    * exact null-aware NOT IN semantics, SURVEY §2 J4) resolve by name.
    */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))

  /** The Spark settings every graft session runs under: the bench, the
    * correctness dump, the profiler, the test suite and perfbench all get
    * exactly these, so correctness is checked under the configuration
    * that is measured.
    */
  def sessionConf(cores: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    // one shuffle partition per core: the right size for the driver's
    // sf0.1 volume (no sliver tasks; AQE coalesces further)
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    // write micros (not INT96) so DuckDB reads identical timestamp values
    "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
    "spark.ui.enabled" -> "false",
    // ContextCleaner only reclaims dead broadcast/checkpoint blocks
    // after a JVM GC notices them; the default 30min periodic GC lets
    // ~100 queries of blocks pile up and the iterative-join queries
    // near the end of a bench run measure that pressure, not themselves
    "spark.cleaner.periodicGC.interval" -> "30s")

  /** The only place a `SparkSession` is built: [[sessionConf]] plus a
    * fresh temp warehouse dir for the managed (bucketed) tables
    * `store.Layout` writes.
    */
  def localSession(appName: String, cores: Int): SparkSession = {
    val warehouse = java.nio.file.Files.createTempDirectory("graft-warehouse")
    warehouse.toFile.deleteOnExit()
    val spark = sessionConf(cores)
      .foldLeft(SparkSession.builder().appName(appName)) { case (b, (k, v)) => b.config(k, v) }
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
