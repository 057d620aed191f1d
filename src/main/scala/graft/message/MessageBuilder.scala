package graft.message

import graft.queries.{ReplayQueries => RQ, ReplayTables}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StructField, StructType}
import scala.jdk.CollectionConverters._

/** Assembles the denormalized message document — the reference's
  * `data_message` (functions.py:234-274): ROW_TO_JSON of the replay_main
  * row plus the results of all analytic queries, serialized to one JSON
  * string in `messages.text_data`, `posted = false`.
  *
  * Unlike the reference's 9 sequential JDBC round-trips that each rescan
  * `frags`, the replay's rows are collected once as a
  * [[graft.queries.ReplaySlice]] and the 9 results are computed from it
  * on the driver ([[graft.queries.ReplayQueries]]). A message costs a
  * fixed set of Spark jobs — the replay_main row, and the slice's
  * vehicles, named frags and survivors with their broadcasts — however
  * many results it carries.
  */
object MessageBuilder {

  /** Null fields are kept (`"killer":null`), matching the reference's
    * json.dumps — Spark's to_json drops them by default. */
  private val keepNulls = Map("ignoreNullFields" -> "false").asJava

  /** Build the text_data JSON for one replay. */
  def buildTextData(spark: SparkSession, t: ReplayTables, replay: Int): String = {
    val base = t.replayMain
      .filter(col("replay_number") === replay)
      .select(to_json(struct(t.replayMain.columns.map(col).toIndexedSeq: _*), keepNulls))
      .collect()
    require(base.nonEmpty, s"No data found for replay number: $replay")
    val s = RQ.slice(t, replay)
    val parts = Seq(
      "vehicles" -> RQ.fsVehicles(s),
      "grouped_vehicles" -> RQ.groupVehicles(s),
      "cutlets" -> RQ.fsCutlets(s),
      "tks" -> RQ.fsTks(s),
      "fb" -> RQ.fsFb(s),
      "lh" -> RQ.fsLh(s),
      "ls" -> RQ.fsLs(s),
      "survivors" -> RQ.fsSurvivors(s),
      "survivors_group" -> RQ.fsSurvivorsGroup(s))
    // Every result becomes an array of row objects — the reference's
    // `sql_to_db` list-of-tuples → json.dumps shape. All nine go into
    // one local row, so one to_json serializes them; Catalyst folds the
    // projection over the LocalRelation, so this runs no job.
    val schema = StructType(parts.map { case (k, r) => StructField(k, ArrayType(r.schema)) })
    val extras = spark.createDataFrame(Seq(Row.fromSeq(parts.map(_._2.rows))).asJava, schema)
      .select(to_json(struct(schema.fieldNames.map(col).toIndexedSeq: _*), keepNulls))
      .collect()(0).getString(0)
    // replay_number is NOT re-appended: the base row already carries it,
    // and the reference's dict re-assignment keeps the single key
    base(0).getString(0).dropRight(1) + "," + extras.drop(1)
  }

  /** messages row for the built document (K4, functions.py:268-272). */
  def messageRow(spark: SparkSession, t: ReplayTables, replay: Int): DataFrame = {
    import spark.implicits._
    Seq((replay, null.asInstanceOf[String], buildTextData(spark, t, replay),
      null.asInstanceOf[java.lang.Boolean]))
      .toDF("replay_number", "message", "text_data", "posted")
      .withColumn("posted", lit(false))
  }
}
