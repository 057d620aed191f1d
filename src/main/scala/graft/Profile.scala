package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Per-query cost-breakdown profiler (optimization-round harness).
  *
  *   runMain graft.Profile [queryName ...]
  *
  * For each query it separates the two wall-clock phases the bench
  * lumps together — BUILD (calling the query function: this is where
  * iterative operators run their driver loops, localCheckpoints and
  * collects) and ACTION (the final noop write of the returned frame) —
  * and tallies scheduler-side totals from a listener: jobs launched,
  * stages, tasks, summed task time, shuffle bytes. A query whose wall
  * time is far above its summed task time divided by cores is
  * overhead-bound (job round-trips, planning), not compute-bound —
  * guide §1's "decide WHERE the time goes before touching anything".
  * min-of-3 after one warmup pass, same policy as Bench.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Tables.localSession("graft-profile", cpus.toInt)

    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val taskMs = new AtomicLong(0L)
    val shufR = new AtomicLong(0L)
    val shufW = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = t.taskMetrics
        if (m != null) {
          taskMs.addAndGet(m.executorRunTime)
          shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      }
    })

    Tables.all.foreach(n => Tables.load(spark, sfDir, n).count())
    SparkEntry.queries.get("q01_agg")
      .foreach(fn => fn(spark, sfDir).write.format("noop").mode("overwrite").save())

    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    println(f"${"query"}%-28s ${"wall"}%7s ${"build"}%7s ${"action"}%7s ${"jobs"}%5s ${"stg"}%5s ${"tasks"}%6s ${"taskS"}%7s ${"shufMB"}%7s")
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case Some(fn) =>
          def pass(): (Double, Double, Double, Int, Int, Int, Double, Double) = {
            jobs.set(0); stages.set(0); tasks.set(0)
            taskMs.set(0); shufR.set(0); shufW.set(0)
            val t0 = System.nanoTime()
            val df = fn(spark, sfDir)
            val t1 = System.nanoTime()
            df.write.format("noop").mode("overwrite").save()
            val t2 = System.nanoTime()
            spark.sparkContext.getPersistentRDDs.values
              .foreach(_.unpersist(blocking = false))
            System.gc()
            ((t2 - t0) / 1e9, (t1 - t0) / 1e9, (t2 - t1) / 1e9,
              jobs.get(), stages.get(), tasks.get(), taskMs.get() / 1e3,
              (shufR.get() + shufW.get()) / 1e6)
          }
          pass() // warmup
          val runs = (1 to 3).map(_ => pass())
          val best = runs.minBy(_._1)
          val (w, b, a, j, st, tk, ts, sm) = best
          println(f"$name%-28s $w%7.3f $b%7.3f $a%7.3f $j%5d $st%5d $tk%6d $ts%7.2f $sm%7.1f")
        case None => println(s"unknown query: $name")
      }
    }
    spark.stop()
  }
}
