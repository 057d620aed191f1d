package graft

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line of per-query seconds.
  *
  * Each query is fully materialized through the noop sink — `count()`
  * would let Catalyst prune the projections and under-measure. A
  * warmup pass first touches every table and JITs the scan path so the
  * first measured query doesn't pay JVM/codegen startup.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    // 1-minute system load average sampled BEFORE Spark spins up, so it
    // measures EXTERNAL machine load, not this bench's own 32 threads.
    // Recorded in the emitted JSON ("load_avg") so an artifact captured
    // under contention is self-identifying (r5's official bench ran at
    // load ~2.8 and three unchanged queries read >1.5x their r4 times).
    val loadAvg =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble
      catch { case _: Throwable => -1.0 }
    // dev-only subset filter (unset by the driver), parsed before any
    // timing. Recorded in the emitted JSON ("filter" key) so a leaked
    // filter can never masquerade as a full official run.
    val only = SparkEntry.onlyFilter(sys.env.get("SPARK_GRAFT_ONLY"))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Tables.localSession("graft-bench", cpus.toInt)

    Tables.all.foreach(n => Tables.load(spark, sfDir, n).count())
    // JIT/codegen warmup on a representative small query
    SparkEntry.queries.get("q01_agg")
      .foreach(fn => fn(spark, sfDir).write.format("noop").mode("overwrite").save())

    // Machine-speed anchor (r14 verdict Next #2): two rounds of
    // cross-machine drift (r13's hot driver box, r14's uniformly
    // ~1.4-1.6×-slow box) made raw floors incomparable across rounds.
    // This times a DETERMINISTIC, CPU-bound, I/O-free aggregate — 600M
    // xxhash64 over an in-memory range, parallelism pinned to the same
    // thread count as the queries — so any capture carries its own
    // speed unit. Drift-watch floors divide by calib_sec to re-base:
    // (q_sec / calib_sec) is comparable across boxes, q_sec alone is
    // not. min-of-3 after one warm pass, same policy as the queries.
    val calibSec = {
      def pass(): Double = {
        val t0 = System.nanoTime()
        // pmod keeps the 600M-term sum ≤ 6e14 — raw xxhash64 values
        // overflow Long under ANSI and kill the run
        spark.range(0L, 600000000L, 1L, cpus.toInt)
          .selectExpr("sum(pmod(xxhash64(id), 1000000)) AS s")
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      pass()
      (1 to 3).map(_ => pass()).min
    }

    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "2").toInt
    only.foreach(f => System.err.println(
      s"[bench] WARNING: SPARK_GRAFT_ONLY is set — measuring only ${f.size} " +
        s"of ${SparkEntry.queries.size} queries; this is NOT a full bench"))
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      val times = (1 to passes).map { _ =>
        val t0 = System.nanoTime()
        val sec = try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        } catch {
          case e: Throwable =>
            // a broken query must not masquerade as a fast one
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            -1.0
        }
        // each pass rebuilds its plan from scratch, so checkpoint/
        // persist blocks left by a FINISHED pass are garbage — remove
        // them in NON-measured time BETWEEN passes (r17 measurement
        // fix, declared in OPTIMIZATION_r17.md: the unpersist used to
        // run only after all passes, so pass 2 executed inside pass
        // 1's block residue — the r16 driver capture shows exactly
        // that as ×1.6-2.7 pass-2 blowups on the checkpoint-heavy
        // dedup family at 32 cores; unpersist removes RDD blocks from
        // the block manager directly, no GC needed, so each pass now
        // measures from a clean block manager with the timed region
        // unchanged). NO System.gc() here: a full GC between passes
        // measured an ~80-120 ms warmth penalty on EVERY pass-2
        // (soft/weak cache eviction) — a 1.17× geomean regression
        // across the whole suite when tried, so the GC stays once per
        // query below.
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        sec
      }
      // broadcast/shuffle residue is freed by the ContextCleaner only
      // after a GC notices the dead refs (the 30s periodic GC above is
      // the backstop, but sub-second queries outrun it). Forcing the
      // GC here puts reclamation in NON-measured time — without it a
      // heavy query reads its predecessors' residue (q87 at 30×: 92s
      // mid-sweep vs 38s clean-JVM for the identical plan).
      System.gc()
      // steady-state: min filters JIT/GC noise (failures → -1); the raw
      // readings ride along so a load-contaminated capture is visible
      // per query (a clean min with a 3× outlier pass reads as noise,
      // two agreeing slow passes read as a real regression)
      (name, times.min, times)
    }
    val qs = results.map { case (k, v, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val raw = results.map { case (k, _, ts) =>
      "\"" + k + "\":[" + ts.mkString(",") + "]"
    }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val filt = only.map(f =>
      s""","filter":"${f.toSeq.sorted.mkString(",")}"""").getOrElse("")
    // Comparable-subset figure (r13 verdict Next #7): new queries make
    // raw round-over-round totals incomparable, so read the PREVIOUS
    // capture (the committed BENCH.json by default — last round's
    // close; overridable via SPARK_GRAFT_BENCH_PREV) BEFORE this run
    // overwrites it and emit the shared-query subtotal of both sides
    // plus their ratio. A consumer of one artifact line can then
    // separate "this round added queries" from "this capture ran under
    // load" without the git history.
    def prevQueries(path: String): Map[String, Double] =
      try {
        val s = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(path)), "UTF-8")
        val i = s.indexOf("\"queries\":{")
        if (i < 0) Map.empty
        else s.substring(i + 11, s.indexOf("}", i)).split(",").flatMap { kv =>
          val p = kv.split(":")
          if (p.length == 2)
            scala.util.Try(
              p(0).trim.stripPrefix("\"").stripSuffix("\"") ->
                p(1).trim.toDouble).toOption
          else None
        }.toMap
      } catch { case _: Throwable => Map.empty }
    val prev = prevQueries(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_PREV", "BENCH.json"))
    val shared = results.collect {
      case (k, v, _) if v >= 0 && prev.get(k).exists(_ >= 0) =>
        (v, prev(k))
    }
    // Guard pv > 0 (r14 ADVICE): a zero previous subtotal would emit
    // NaN/Infinity — invalid JSON — so the degenerate case folds into
    // the no-trailer branch alongside the empty-overlap case.
    val sharedJson = {
      val cur = shared.map(_._1).sum
      val pv = shared.map(_._2).sum
      if (shared.isEmpty || pv <= 0) ""
      else f""","shared_prev":{"n":${shared.size},"cur_sec":$cur%.3f,""" +
        f""""prev_sec":$pv%.3f,"ratio":${cur / pv}%.3f}"""
    }
    val full =
      f"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"queries_raw":$raw,"sf":"$sfDir","load_avg":$loadAvg,"calib_sec":$calibSec%.3f$sharedJson$filt}"""
    // The full object also lands in an artifact file: ten rounds of
    // driver captures proved the tail window it records cuts a ~10 KB
    // stdout line mid-string ("parsed": null every round), so stdout
    // alone can never deliver the per-query map. The file is committed
    // with the round close; the tiny trailer line below is printed
    // LAST so even a small tail window contains one complete,
    // parseable object pointing at the file. The path resolves from
    // SPARK_GRAFT_BENCH_OUT (default: cwd-relative BENCH.json), and a
    // SPARK_GRAFT_ONLY-filtered dev run writes a ".partial"-suffixed
    // file instead — a subset run must never clobber the committed
    // full-run artifact.
    val benchOut = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH.json") +
      (if (only.isDefined) ".partial" else "")
    try java.nio.file.Files.write(java.nio.file.Paths.get(benchOut),
      (full + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] WARNING: could not write $benchOut: $e") }
    println(full)
    println(f"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"sf":"$sfDir","load_avg":$loadAvg,"calib_sec":$calibSec%.3f$sharedJson,"queries_file":"$benchOut"$filt}""")
    spark.stop()
  }
}
