package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
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

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark

  /** Rows as a sorted list of plain-value sequences, for order-insensitive
    * exact comparison. */
  def rowSet(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq).sortBy(_.map(String.valueOf).mkString("|"))

  def rowList(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)
}
