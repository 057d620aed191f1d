package graft

import org.apache.spark.sql.functions._

/** S4 relational scan over an actual JDBC source (in-memory Derby — the
  * embedded driver ships with Spark's jars). Exercises the claim in
  * README §coverage that the reference's Postgres reads map to
  * `spark.read.format("jdbc")`: write → read round-trip, filter
  * pushdown to the remote scan, and a partitioned (parallel) read —
  * the shape a production JDBC ingest needs so the scan isn't one task.
  */
class JdbcSpec extends SparkSpec {
  import spark.implicits._

  private val url = "jdbc:derby:memory:graftjdbc;create=true"
  private val driver = "org.apache.derby.jdbc.EmbeddedDriver"

  private def seed(): Unit = {
    System.setProperty("derby.system.home",
      tempDir("derby"))
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute(
        "CREATE TABLE players (id INT PRIMARY KEY, nickname VARCHAR(64), side INT)")
      st.execute(
        "INSERT INTO players VALUES (1,'Alpha',1),(2,'Bravo',2),(3,'Charlie',1),(4,'Delta',2)")
      st.close()
    } finally conn.close()
  }

  test("S4: jdbc read with filter pushdown, partitioned scan, write round-trip") {
    seed()
    val df = spark.read.format("jdbc")
      .option("url", url).option("driver", driver)
      .option("dbtable", "players")
      .load()
    assert(df.count() == 4)

    // predicate reaches the remote scan, not a post-scan Filter
    val east = df.filter(col("SIDE") === 1).select(col("NICKNAME"))
    assert(rowSet(east) == Seq(Seq("Alpha"), Seq("Charlie")))
    val scan = east.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters") && scan.toUpperCase.contains("SIDE"),
      s"filter not pushed to JDBC scan:\n$scan")

    // partitioned read: numPartitions parallel range queries on the key
    val par = spark.read.format("jdbc")
      .option("url", url).option("driver", driver)
      .option("dbtable", "players")
      .option("partitionColumn", "id")
      .option("lowerBound", "1").option("upperBound", "5")
      .option("numPartitions", "2")
      .load()
    assert(par.rdd.getNumPartitions == 2)
    assert(par.count() == 4)

    // write path: append a frame through the same connector and re-read
    Seq((5, "Echo", 1)).toDF("ID", "NICKNAME", "SIDE")
      .write.format("jdbc")
      .option("url", url).option("driver", driver)
      .option("dbtable", "players")
      .mode("append").save()
    val back = spark.read.format("jdbc")
      .option("url", url).option("driver", driver)
      .option("dbtable", "players").load()
    assert(back.count() == 5)
  }
}
