package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver-checked query: its name, its DataFrame program over the
  * testdata tables in a directory, and the equivalent DuckDB SQL the
  * driver diffs that program's result against. */
final case class QueryDef(name: String, build: QueryDef.Q, oracleSql: String)

object QueryDef {
  type Q = (SparkSession, String) => DataFrame

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** `name -> f(query)` for every query; a repeated name fails, naming
    * it, instead of silently keeping one of the two. */
  def byName[V](defs: Seq[QueryDef])(f: QueryDef => V): Map[String, V] = {
    val dups = defs.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    defs.map(d => d.name -> f(d)).toMap
  }
}
