package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` maps one named query per implemented operator from
  * SURVEY.md §2 (plus the training-data extension operators) to a
  * DataFrame program over the testdata tables in `dir`; `oracleSql`
  * holds the equivalent DuckDB SQL the driver diff-checks against.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The composed curation pipeline (q42): language gate → quality gate →
    * exact + near-dup keepers → deterministic sample — the engine's
    * marquee training-data pass. */
  def entry(spark: SparkSession): DataFrame =
    graft.queries.Queries.all("q42_curation")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.Queries.all

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = graft.queries.Queries.allOracles
}
