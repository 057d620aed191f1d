package graft

import graft.queries.QueryDef

/** The driver contract itself: entry() smoke (t1 gate), one registry
  * entry per query name, and the SPARK_GRAFT_ONLY filter.
  */
class EntrySpec extends SparkSpec {

  test("entry() returns rows on sf0.001 (driver t1 smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("all holds 226 queries with 226 distinct names") {
    val names = SparkEntry.all.map(_.name)
    assert(names.size == 226)
    assert(names.distinct.size == 226,
      s"repeated: ${names.diff(names.distinct)}")
  }

  test("a repeated query name fails, naming it, instead of vanishing") {
    val build: QueryDef.Q = (s, dir) => QueryDef.t(s, dir, "nation")
    val twice = Seq(QueryDef("q_dup", build, "SELECT 1"),
      QueryDef("q_dup", build, "SELECT 2"))
    val e = intercept[IllegalArgumentException](QueryDef.byName(twice)(_.oracleSql))
    assert(e.getMessage.contains("q_dup"))
    assert(QueryDef.byName(twice.take(1))(_.oracleSql) == Map("q_dup" -> "SELECT 1"))
  }

  test("SPARK_GRAFT_ONLY: known names pass, unknown ones fail listed") {
    assert(SparkEntry.onlyFilter(None).isEmpty)
    assert(SparkEntry.onlyFilter(Some(" , ")).isEmpty)
    assert(SparkEntry.onlyFilter(Some("q01_agg, q87_pagerank,")) ==
      Some(Set("q01_agg", "q87_pagerank")))
    val e = intercept[IllegalArgumentException](
      SparkEntry.onlyFilter(Some("q01_agg,q87_pagernak,q999")))
    assert(e.getMessage.contains("q87_pagernak, q999"))
    assert(!e.getMessage.contains("q01_agg"))
  }

  test("all queries run non-empty at sf0.001") {
    val empty = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (_, fn) =>
      fn(spark, "/root/testdata/sf0.001").isEmpty
    }.map(_._1)
    assert(empty.isEmpty, s"queries with empty results: $empty")
  }
}
