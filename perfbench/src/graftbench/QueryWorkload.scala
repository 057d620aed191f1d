package graftbench

import graft.{SparkEntry, Tables}
import org.apache.spark.sql.SparkSession
import scala.util.Random

/** A fixed list of `SparkEntry.queries` over the read-only sf0.1 tables.
  * Every query first runs once into parquet for `run.py`'s oracle-digest
  * check (the cold pass); the timed passes then run the list in a
  * seed-shuffled order into the noop sink, as `graft.Bench` does. */
final class QueryWorkload(spark: SparkSession, o: Opts, queries: Seq[String]) extends Workload {
  private val sc = spark.sparkContext
  /** Timed passes over the list, each in its own seeded order: one per
    * 8 s of `--seconds`, about what one takes on a 4-core box, and at least
    * three, so each query's time is a median that one slow pass does not move. */
  private val passes = math.max(3, math.round(o.seconds / 8.0).toInt)
  /** A traced run does each pass twice, so it does two, to end in time. */
  private val tracedPasses = 2

  private def build(name: String) = SparkEntry.queries(name)(spark, o.data)

  /** Drop the blocks a finished query left pinned and collect garbage, in
    * untimed time between queries, as `graft.Bench` does. */
  private def clean(): Double = {
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    Heap.liveMb()
  }

  private case class Run(name: String, buildS: Double, actionS: Double, cpuS: Double) {
    def seconds: Double = buildS + actionS
    def time: OpTime = OpTime(seconds, cpuS)
  }

  /** One pass over the list in the pass's seeded order; `probe` wraps each
    * query when the pass is traced. Returns the runs and the live-heap peak. */
  private def pass(p: Int, tr: Tracer, probe: Option[Probe], res: Result): (Seq[Run], Double) = {
    var heapPeak = 0.0
    val runs = new Random(o.seed * 1000 + p).shuffle(queries).zipWithIndex.flatMap { case (name, i) =>
      tr.op = p * queries.size + i
      def body(): Run = tr.span("query") {
        val c0 = Cpu.seconds()
        val t0 = System.nanoTime()
        val df = tr.span("queries.build")(build(name))
        val t1 = System.nanoTime()
        tr.span("queries.action")(df.write.format("noop").mode("overwrite").save())
        val t2 = System.nanoTime()
        Run(name, (t1 - t0) / 1e9, (t2 - t1) / 1e9, Cpu.seconds() - c0)
      }
      res.attempted += 1
      val run = try Some(probe.fold(body())(_.around(body())))
      catch {
        case e: Exception =>
          res.fail(s"$name ${if (tr.enabled) "traced " else ""}pass$p", e.getMessage)
          None
      }
      run.foreach(r => System.err.println(
        f"[perfbench] ${if (tr.enabled) "traced" else "timed"} $name ${r.seconds}%.3f s, ${r.cpuS}%.3f CPU s"))
      heapPeak = math.max(heapPeak, clean())
      run
    }
    (runs, heapPeak)
  }

  /** The cold pass's run of one query: its output, into parquet, is what
    * `run.py` checks against the oracle's digest. */
  private def cold(name: String, res: Result): Unit = {
    val op = s"$name cold"
    res.attempted += 1
    res.checks(op) = name
    try build(name).coalesce(1).write.mode("overwrite")
      .parquet(o.runDir.resolve("out").resolve(name).toString)
    catch { case e: Exception => res.fail(op, e.getMessage) }
  }

  def run(res: Result): Unit = {
    // set-up, until the first timed query: session start, loading and
    // scanning every table, and the cold pass
    Tables.all.foreach(n => Tables.load(spark, o.data, n).count())
    val heap0 = queries.map { name => cold(name, res); clean() }.last
    Main.setupDone(res)
    if (!o.trace) {
      val ps = (1 to passes).map(p => pass(p, new Tracer(false), None, res))
      val runs = ps.flatMap(_._1)
      val perQuery = runs.groupBy(_.name).values.map(rs => Stats.median(rs.map(_.cpuS)))
      E2e.put(res, runs.map(_.time), perQuery.toSeq, (heap0 +: ps.map(_._2)).max)
    } else {
      // each pass twice, untraced and traced, which goes first alternating,
      // so both see the same JIT warm-up
      val tr = new Tracer(true)
      val probe = new Probe(sc)
      val (off, on) = (1 to tracedPasses).map { p =>
        def untraced() = pass(p, new Tracer(false), None, res)._1
        def traced() = pass(p, tr, Some(probe), res)._1
        if (p % 2 == 1) { val a = untraced(); (a, traced()) }
        else { val b = traced(); (untraced(), b) }
      }.unzip match { case (a, b) => (a.flatten, b.flatten) }
      probe.close()
      tr.write(o.runDir.resolve("spans.jsonl"))
      val wall = on.map(_.seconds).sum
      res.put("queries.build_s", on.map(_.buildS).sum / tracedPasses, "s")
      res.put("queries.action_s", on.map(_.actionS).sum / tracedPasses, "s")
      on.groupBy(_.name).foreach { case (q, rs) =>
        res.put(s"q.${q}_s", Stats.median(rs.map(_.seconds)), "s")
      }
      probe.put(res, wall)
      E2e.latency(res, off.map(_.time),
        off.groupBy(_.name).values.map(rs => Stats.median(rs.map(_.seconds))).toSeq)
      res.put("trace.overhead_frac", wall / off.map(_.seconds).sum - 1, "ratio")
    }
  }
}

object QueryWorkload {
  /** Queries built on the iterative operators, whose time goes to driver
    * loops and tracked `Blocks` checkpoints (connected components in q35
    * and q76, BPE learn in q179), and on the native minhash and simhash
    * kernels (q25, q27). */
  val iterative: Seq[String] = Seq(
    "q25_minhash_sig", "q27_simhash", "q35_dedup_groups", "q76_dedup_keep_best",
    "q179_bpe_merges")
}
