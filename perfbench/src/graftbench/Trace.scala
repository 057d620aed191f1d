package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer

/** One timed interval. `parent` is the enclosing span's id (-1 at the
  * root) and `op` the operation (one replay, one query run) it belongs to. */
case class Span(id: Int, name: String, parent: Int, op: Int, start: Long, end: Long) {
  def nanos: Long = end - start
}

/** In-memory span recorder for the single driver thread. When disabled,
  * `span` only runs its body, so untraced runs pay nothing. */
final class Tracer(val enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextId = 0
  var op: Int = -1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, name, parent, op, t0, System.nanoTime())
        open = open.tail
      }
    }

  /** Self time of every span: its duration minus its direct children's. */
  def selfNanos: Map[Int, Long] = {
    val childSum = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.nanos).sum }
    spans.map(s => s.id -> (s.nanos - childSum.getOrElse(s.id, 0L))).toMap
  }

  def write(path: java.nio.file.Path): Unit = {
    val self = selfNanos
    val lines = spans.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},""" +
        s""""start_ns":${s.start},"end_ns":${s.end},"self_ns":${self(s.id)}}"""
    }
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

/** CPU seconds the JVM has used since it started, summed over every
  * thread but the JIT compiler's (Linux only, from /proc).
  *
  * The guest kernel does not charge a thread for time the host steals from
  * its virtual CPU, so on a shared host this moves far less with the
  * neighbours' load than a wall-clock time does. The JIT compiler threads
  * are left out because how much they compile while an operation runs
  * depends on timing, not on the operation: over a run they used half the
  * JVM's CPU and most of its run-to-run variation. The JVM runs with a
  * fixed set of compiler threads, so none exits and takes its time along. */
object Cpu {
  private val tasks = Paths.get("/proc/self/task")

  /** utime + stime, in clock ticks of 10 ms, from a /proc stat line. */
  private def ticks(stat: String): Long = {
    val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
    f(11).toLong + f(12).toLong
  }

  def seconds(): Double = {
    val all = ticks(new String(Files.readAllBytes(Paths.get("/proc/self/stat"))))
    var jit = 0L
    Files.list(tasks).forEach { t =>
      try {
        val st = new String(Files.readAllBytes(t.resolve("stat")))
        if (st.substring(st.indexOf('(') + 1, st.lastIndexOf(')')).contains("CompilerThre"))
          jit += ticks(st)
      } catch { case _: java.io.IOException => } // the thread ended meanwhile
    }
    (all - jit) / 100.0
  }
}

/** Used heap after a full GC: called between operations, never inside one.
  * The first GC lets Spark's ContextCleaner see dead broadcasts and
  * shuffles; the second, after the cleaner has run, frees what it released,
  * so the reading does not depend on the cleaner thread's timing. */
object Heap {
  private val bean = ManagementFactory.getMemoryMXBean

  def liveMb(): Double = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    bean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** Job, stage and task counts from the scheduler. */
final class SparkCounts extends SparkListener {
  private val c = Array.fill(7)(new AtomicLong)

  override def onJobStart(e: SparkListenerJobStart): Unit = c(0).incrementAndGet()

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    c(1).incrementAndGet()
    if (e.stageInfo.numTasks == 1) c(2).incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    c(3).incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      c(4).addAndGet(m.executorRunTime)
      c(5).addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c(6).addAndGet(m.diskBytesSpilled)
    }
  }

  /** jobs, stages, single-task stages, tasks, task ms, shuffle bytes, spill bytes */
  def snapshot: Vector[Long] = c.map(_.get).toVector
}

/** Listener, pinned-block sampler and residue, counting only inside
  * `around`: a traced run interleaves traced operations with untraced
  * ones, so both see the same JIT warm-up and `trace.overhead_frac`
  * compares like with like. */
final class Probe(sc: SparkContext) {
  private val counts = new SparkCounts
  sc.addSparkListener(counts)
  private var totals = Vector.fill(7)(0L)
  val jobsPerOp = scala.collection.mutable.ArrayBuffer.empty[Double]
  var residueRdds = 0L
  var residueBytes = 0L
  @volatile private var sampling = false
  @volatile private var running = true
  @volatile private var peak = 0L

  private def pinnedBytes: Long = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  private val sampler = new Thread(() => {
    while (running) {
      if (sampling) peak = math.max(peak, pinnedBytes)
      Thread.sleep(50)
    }
  })
  sampler.setDaemon(true)
  sampler.start()

  /** The listener bus is asynchronous: drain it before reading counts. */
  private def settled: Vector[Long] = {
    org.apache.spark.BenchBridge.drainListeners(sc)
    counts.snapshot
  }

  def around[T](body: => T): T = {
    val before = settled
    sampling = true
    try body
    finally {
      sampling = false
      val delta = settled.zip(before).map { case (a, b) => a - b }
      totals = totals.zip(delta).map { case (a, b) => a + b }
      jobsPerOp += delta(0).toDouble
      residueRdds += sc.getPersistentRDDs.size
      residueBytes += pinnedBytes
    }
  }

  def close(): Unit = {
    running = false
    sampler.join()
    sc.removeSparkListener(counts)
  }

  /** Scheduler and block-manager metrics of the traced operations. */
  def put(res: Result, wallS: Double): Unit = {
    val mb = 1048576.0
    val taskS = totals(4) / 1e3
    res.put("spark.jobs", totals(0).toDouble, "count")
    res.put("spark.stages", totals(1).toDouble, "count")
    res.put("spark.single_task_stages", totals(2).toDouble, "count")
    res.put("spark.tasks", totals(3).toDouble, "count")
    res.put("spark.task_s", taskS, "s")
    res.put("spark.core_util", taskS / (wallS * Runtime.getRuntime.availableProcessors), "ratio")
    res.put("spark.shuffle_mb", totals(5) / mb, "MB")
    res.put("spark.spill_mb", totals(6) / mb, "MB")
    res.put("blocks.peak_mb", peak / mb, "MB")
    res.put("blocks.residue_mb", residueBytes / mb, "MB")
    res.put("blocks.rdds_pinned", residueRdds.toDouble, "count")
  }
}
