package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared test session: one local SparkSession per JVM (forked sbt test
  * runs all suites in one JVM, so this is one session total).
  */
object SparkSpec {
  lazy val spark: SparkSession = Tables.localSession("graft-test", 4)

  def resource(name: String): String = {
    val url = Thread.currentThread.getContextClassLoader.getResource(name)
    require(url != null, s"missing test resource $name")
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(url.toURI)), java.nio.charset.StandardCharsets.UTF_8)
  }
}

trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.spark

  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()

  /** A fresh `graft-<prefix>…` temp dir, deleted with everything under
    * it when this suite ends. */
  def tempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft-$prefix").toFile
    tempDirs.add(d)
    d.toString
  }

  override protected def afterAll(): Unit =
    try tempDirs.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d))
    finally super.afterAll()

  /** Rows as a sorted list of plain-value sequences, for order-insensitive
    * exact comparison. */
  def rowSet(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq).sortBy(_.map(String.valueOf).mkString("|"))

  def rowList(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)
}
