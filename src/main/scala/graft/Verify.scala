package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // dev-only subset filter (unset by the driver): run just the named
    // queries while iterating, e.g. SPARK_GRAFT_ONLY=q85_bloom_clean,q87_pagerank
    val only = SparkEntry.onlyFilter(sys.env.get("SPARK_GRAFT_ONLY"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Tables.localSession("graft-verify", cpus.toInt)
    new java.io.File(outDir).mkdirs()
    // A filtered run must not leave stale parquet from earlier full runs
    // for the queries it skips — a downstream compare would silently mix
    // old and new outputs. Delete skipped dirs and leave a PARTIAL marker.
    def deleteDir(d: java.nio.file.Path): Unit =
      if (Files.exists(d)) {
        import scala.jdk.CollectionConverters._
        Files.walk(d).sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(Files.delete)
      }
    only.foreach { f =>
      System.err.println(
        s"[verify] WARNING: SPARK_GRAFT_ONLY is set — dumping only ${f.size} " +
          s"of ${SparkEntry.queries.size} queries; this is NOT a full run")
      SparkEntry.queries.keys.filterNot(f.contains)
        .foreach(skipped => deleteDir(Paths.get(s"$outDir/$skipped")))
      Files.writeString(Paths.get(s"$outDir/PARTIAL"),
        f.toSeq.sorted.mkString(",") + "\n")
    }
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // a failed query must not leave an EARLIER run's parquet in
        // place — the downstream compare would score stale output as
        // this run's result; a missing dir fails loudly instead
        deleteDir(Paths.get(s"$outDir/$name"))
      }
      // drop finished queries' checkpoint/persist blocks (see Bench)
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    // only a COMPLETED unfiltered pass clears the partial marker
    if (only.isEmpty) Files.deleteIfExists(Paths.get(s"$outDir/PARTIAL"))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
