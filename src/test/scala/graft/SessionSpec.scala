package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** One session configuration: the test suite runs under exactly the
  * settings `Tables.localSession` gives the bench, and no other code
  * builds a `SparkSession` of its own.
  */
class SessionSpec extends SparkSpec {

  test("the test session carries every factory setting with the factory's value") {
    val expected = Tables.sessionConf(4).toMap
    // the settings the bench measures under, pinned by value
    assert(expected == Map(
      "spark.master" -> "local[4]",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
      "spark.ui.enabled" -> "false",
      "spark.cleaner.periodicGC.interval" -> "30s",
      "spark.sql.codegen.cache.maxEntries" -> "1000"))
    val conf = spark.sparkContext.getConf
    expected.foreach { case (k, v) =>
      assert(conf.getOption(k).contains(v), s"SparkConf $k")
      if (k.startsWith("spark.sql."))
        assert(spark.conf.getOption(k).contains(v), s"session conf $k")
    }
  }

  test("Tables.scala is the only source that builds a SparkSession") {
    val builder = "SparkSession\\s*\\.\\s*builder".r
    val roots = Seq("src/main", "src/test", "perfbench/src").map(Paths.get(_))
    roots.foreach(r => assert(Files.isDirectory(r), s"missing source root $r"))
    def scalaFiles(root: Path): Seq[Path] = {
      val walk = Files.walk(root)
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    val building = roots.flatMap(scalaFiles)
      .filter(p => builder.findFirstIn(Files.readString(p)).isDefined)
    assert(building.map(_.getFileName.toString) == Seq("Tables.scala"),
      building.mkString(", "))
  }
}
