package graftbench

import graft.Tables
import graft.ingest.{ReplayHtml, ReplayJson}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Traced-run-only arms that time one layer apart from the workload:
  * the ingest parsers, the eight native kernels and a machine-speed
  * anchor. They run after the timed regions, so they move no workload
  * metric. */
object Arms {
  private def noop(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** Seconds per pass: one warm-up, then the median of three timings of
    * `reps` back-to-back passes, so each timing spans a few hundred ms. */
  private def timed(df: DataFrame, reps: Int): Double = {
    noop(df)
    Stats.median(Seq.fill(3)(Seq.fill(reps)(noop(df)).sum)) / reps
  }

  def run(spark: SparkSession, o: Opts, res: Result): Unit = {
    ingest(spark, o, res)
    kernels(spark, o, res)
    calib(spark, res)
  }

  /** `ReplayHtml.parse` and the `ReplayJson` flatteners on the replays of
    * the timed region, each replay on its own as the pipeline ingests it. */
  private def ingest(spark: SparkSession, o: Opts, res: Result): Unit = {
    import spark.implicits._
    val n = ReplayService.replays(o)
    val gen = new ReplayGen(o.seed, n)
    val perReplay = Seq.fill(n)(gen.next()).map { r =>
      val html = ReplayHtml.parse(Seq((r.id, r.html)).toDF("replay_number", "html"))
      val p = ReplayJson.parsed(Seq((r.id, r.json)).toDF("replay_number", "json"))
      val outs = Seq(html, ReplayJson.vehicles(p), ReplayJson.dPlayers(p),
        ReplayJson.players(p), ReplayJson.frags(p), ReplayJson.sideCounts(p))
      outs.foreach(noop) // warm
      outs.map(noop).sum
    }
    res.put("ingest.parse_s", Stats.median(perReplay), "s")
  }

  /** Each `GraftExtensions` function over cached sf0.1 documents (×4) or
    * embeddings (×100); `timed` repeats the short passes. */
  private def kernels(spark: SparkSession, o: Opts, res: Result): Unit = {
    def replicate(df: DataFrame, times: Int) =
      df.crossJoin(spark.range(times).toDF("graft_rep")).drop("graft_rep")
        .repartition(Runtime.getRuntime.availableProcessors * 2).cache()
    val docs = replicate(Tables.load(spark, o.data, "documents").select(col("text")), 4)
    val vecs = replicate(Tables.load(spark, o.data, "embeddings")
      .select(col("embedding").cast("array<double>").as("v")), 100)
    val grams = docs.selectExpr("ngram_hashes(text, 4) AS a", "ngram_hashes(text, 5) AS b").cache()
    Seq(docs, vecs, grams).foreach(_.count())
    val arms = Seq(
      ("html_unescape", docs.selectExpr("html_unescape(text)"), 3),
      ("vec_dot", vecs.selectExpr("vec_dot(v, v)"), 6),
      ("rolling_hash", docs.selectExpr("rolling_hash(text)"), 10),
      ("word_shingles", docs.selectExpr("word_shingles(text, 3)"), 6),
      ("minhash_sigs", docs.selectExpr("minhash_sigs(text, 3, 16)"), 1),
      ("simhash_sig", docs.selectExpr("simhash_sig(text)"), 4),
      ("ngram_hashes", docs.selectExpr("ngram_hashes(text, 5)"), 3),
      ("sorted_intersect_count", grams.selectExpr("sorted_intersect_count(a, b)"), 8))
    arms.foreach { case (fn, df, reps) => res.put(s"kernel.${fn}_s", timed(df, reps), "s") }
    Seq(docs, vecs, grams).foreach(_.unpersist(blocking = true))
  }

  /** `graft.Bench`'s xxhash anchor at a quarter of its rows. */
  private def calib(spark: SparkSession, res: Result): Unit = {
    val cores = Runtime.getRuntime.availableProcessors
    val df = spark.range(0L, 150000000L, 1L, cores)
      .selectExpr("sum(pmod(xxhash64(id), 1000000)) AS s")
    noop(df)
    res.put("machine.calib_s", Seq.fill(3)(noop(df)).min, "s")
  }
}
