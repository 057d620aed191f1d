package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** Metrics, op counts and named failures of one run, written as JSON for
  * `run.py`, which adds the query output check and prints the result.
  * `checks` maps the op that wrote a query's output to the query's name. */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val failures = mutable.ArrayBuffer.empty[String]
  val failedOps = mutable.LinkedHashSet.empty[String]
  val checks = mutable.LinkedHashMap.empty[String, String]
  var attempted = 0

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  /** Op `op` threw or gave a wrong output; `what` says how. An op that
    * fails in several ways counts once. */
  def fail(op: String, what: String): Unit = {
    failedOps += op
    failures += s"$op: $what"
    System.err.println(s"[perfbench] FAILED $op: $what")
  }

  private def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
    .replace("\n", "\\n").replace("\t", "\\t") + "\""

  def toJson: String = {
    val ms = metrics.map { case (k, (v, u)) =>
      s"${q(k)}:{\"value\":${if (v.isNaN || v.isInfinite) "null" else v.toString},\"unit\":${q(u)}}"
    }.mkString("{", ",", "}")
    s"""{"attempted":$attempted,"failed_ops":${failedOps.map(q).mkString("[", ",", "]")},""" +
      s""""failures":${failures.map(q).mkString("[", ",", "]")},""" +
      s""""checks":${checks.map { case (op, n) => s"${q(op)}:${q(n)}" }.mkString("{", ",", "}")},""" +
      s""""metrics":$ms}"""
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)

}

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
    data: String, runDir: Path)

/** Benchmark entry point: one JVM, Spark `local[nproc]`, one closed-loop
  * client. See perfbench/README.md for workloads and metrics. */
object Main {
  val workloads = Seq("replay_service", "iterative_curation")

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val o = Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("data"), Paths.get(need("run-dir")))
    require(workloads.contains(o.workload), s"unknown workload ${o.workload}")
    require(o.seconds > 0, "--seconds must be positive")
    o
  }

  /** The DuckDB oracle SQL of the workload's queries, for gen_expected.py. */
  def writeOracles(path: Path): Unit = {
    def q(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val sql = graft.SparkEntry.oracleSql
    val entries = QueryWorkload.iterative.filter(sql.contains).map(n => s"${q(n)}: ${q(sql(n))}")
    Files.write(path, entries.mkString("{\n", ",\n", "\n}\n").getBytes("UTF-8"))
  }

  /** The workload is ready to time: `setup_s` is the CPU seconds the JVM
    * has used since it started, `latency.setup_s` the wall seconds. */
  def setupDone(res: Result): Unit = {
    res.put("setup_s", Cpu.seconds(), "s")
    res.put("latency.setup_s",
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3, "s")
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--oracles")) return writeOracles(Paths.get(args(1)))
    val o = parse(args)
    val spark = graft.Tables.localSession("perfbench", Runtime.getRuntime.availableProcessors)
    graft.GraftExtensions.register(spark)
    val res = new Result
    try {
      val w: Workload = o.workload match {
        case "replay_service" => new ReplayService(spark, o)
        case "iterative_curation" => new QueryWorkload(spark, o, QueryWorkload.iterative)
      }
      w.run(res)
      if (o.trace) Arms.run(spark, o, res)
    } finally {
      Files.write(o.runDir.resolve("result.json"), (res.toJson + "\n").getBytes("UTF-8"))
      spark.stop()
    }
  }
}

/** One workload: set up (putting `setup_s`), run the timed region, check, fill `res`. */
trait Workload {
  def run(res: Result): Unit
}

/** Wall seconds of one timed operation and the CPU seconds the JVM used
  * meanwhile. */
final case class OpTime(wallS: Double, cpuS: Double)

/** The metrics every workload reports. An op is one replay, or one query
  * with its median over the passes. */
object E2e {
  /** End-to-end metrics (tracing off): `times` holds every timed run of an
    * op, `perOpCpu` the CPU seconds of each op. */
  def put(res: Result, times: Seq[OpTime], perOpCpu: Seq[Double], heapPeakMb: Double): Unit = {
    res.put("cpu_s", times.map(_.cpuS).sum, "s")
    res.put("op_cpu_p50_s", Stats.median(perOpCpu), "s")
    res.put("op_cpu_geomean_s", Stats.geomean(perOpCpu), "s")
    res.put("live_heap_peak_mb", heapPeakMb, "MB")
  }

  /** Wall-clock latencies, per-layer metrics of a traced run taken from
    * its untraced ops: they include time the host stole, so they carry
    * no bound. */
  def latency(res: Result, times: Seq[OpTime], perOpWall: Seq[Double]): Unit = {
    res.put("latency.wall_s", times.map(_.wallS).sum, "s")
    res.put("latency.op_p50_s", Stats.median(perOpWall), "s")
  }
}
