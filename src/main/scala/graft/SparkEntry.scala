package graft

import graft.queries.{CoreQueries, ExtensionQueries, QueryDef}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see SURVEY.md §7.
  *
  * `queries` maps one named query per implemented operator from
  * SURVEY.md §2 (plus the training-data extension operators) to a
  * DataFrame program over the testdata tables in `dir`; `oracleSql`
  * holds the equivalent DuckDB SQL the driver diff-checks against,
  * one entry for every query. Both are read off the one [[all]] list.
  */
object SparkEntry {

  /** Every query, each naming its build and its oracle SQL once. */
  val all: Seq[QueryDef] = CoreQueries.all ++ ExtensionQueries.all

  private lazy val buildByName = QueryDef.byName(all)(_.build)
  private lazy val sqlByName = QueryDef.byName(all)(_.oracleSql)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The composed curation pipeline (q42): language gate → quality gate →
    * exact + near-dup keepers → deterministic sample — the engine's
    * marquee training-data pass. */
  def entry(spark: SparkSession): DataFrame =
    queries("q42_curation")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = buildByName

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] = sqlByName

  /** The dev-only `SPARK_GRAFT_ONLY` subset filter shared by Verify and
    * Bench: comma-separated query names, `None` when unset or blank. A
    * name that is not a query fails, listing every such name, before a
    * main deletes or times anything. */
  def onlyFilter(spec: Option[String]): Option[Set[String]] = {
    val names = spec.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    names.foreach { f =>
      val unknown = f -- queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
    }
    names
  }
}
