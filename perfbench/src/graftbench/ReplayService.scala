package graftbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.message.{HttpMessageSender, MessageSender, Renderer}
import graft.pipeline.ReplayPipeline
import graft.store.TableStore
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The in-process delivery end: counts the messages sent for each replay
  * and the bytes a webhook would carry. */
final class CountingSender(tr: Tracer) extends MessageSender {
  val sentTo = mutable.Map.empty[Int, Int].withDefaultValue(0)
  var bytes = 0L

  def sent: Int = sentTo.values.sum

  private def count(replayNumber: Int, payload: String): Unit = {
    sentTo(replayNumber) += 1
    bytes += payload.getBytes("UTF-8").length
  }

  def send(replayNumber: Int, message: String): Unit = count(replayNumber, message)

  override def sendWithEmbeds(replayNumber: Int, content: String,
      embeds: Seq[Renderer.Embed]): Unit = tr.span("message.send") {
    count(replayNumber, HttpMessageSender.payloadJson(content, embeds))
  }
}

/** `TableStore` with a span around every write and the existence probe. */
final class TracedStore(spark: SparkSession, root: String, tr: Tracer)
    extends TableStore(spark, root) {
  override def append(table: String, df: DataFrame): Unit =
    tr.span("store.append")(super.append(table, df))
  override def upsertDPlayers(updates: DataFrame): Unit =
    tr.span("store.upsert_d_players")(super.upsertDPlayers(updates))
  override def setMessageText(replay: Int, text: String): Unit =
    tr.span("store.update_message")(super.setMessageText(replay, text))
  override def markPosted(replay: Int): Unit =
    tr.span("store.update_message")(super.markPosted(replay))
  override def replayExists(replay: Int): Boolean =
    tr.span("store.exists")(super.replayExists(replay))
}

/** Seeded replays, one at a time, through discover → ingest →
  * createMessage → deliverNext into a fresh store: the reference's
  * per-replay service path. Each replay's latency runs from discover
  * until its posted flag is set. */
final class ReplayService(spark: SparkSession, o: Opts) extends Workload {
  import spark.implicits._

  val replays: Int = ReplayService.replays(o)

  private val mapper = new ObjectMapper()

  /** One fresh store with its pipeline and in-process sender. */
  private final class Lane(tag: String, tr: Tracer) {
    val dir: Path = o.runDir.resolve(s"store-$tag")
    if (Files.exists(dir))
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
    private val store =
      if (tr.enabled) new TracedStore(spark, dir.toString, tr)
      else new TableStore(spark, dir.toString)
    private val pipeline = new ReplayPipeline(spark, store)
    val sender = new CountingSender(tr)
    val inputs = mutable.ArrayBuffer.empty[GenReplay]
    val times = mutable.ArrayBuffer.empty[OpTime]

    private def op(r: GenReplay) = s"$tag replay ${r.id}"

    /** Failures are named in `res`; only replays that succeed are timed. */
    def replay(r: GenReplay, res: Result): Unit = {
      inputs += r
      tr.op = inputs.size - 1
      val listing = Seq(r.listing).toDF("html")
      val c0 = Cpu.seconds()
      val t0 = System.nanoTime()
      try {
        tr.span("replay") {
          val found = tr.span("pipeline.discover")(pipeline.discover(listing))
          require(found.contains(r.id), s"discover returned $found")
          require(tr.span("pipeline.ingest")(pipeline.ingest(r.id, r.html, r.json)),
            "ingest skipped the replay")
          tr.span("pipeline.create_message")(pipeline.createMessage(r.id))
          require(tr.span("pipeline.deliver")(pipeline.deliverNext(sender)),
            "no message delivered")
        }
        val t = OpTime((System.nanoTime() - t0) / 1e9, Cpu.seconds() - c0)
        times += t
        System.err.println(f"[perfbench] $tag replay ${r.id} ${t.wallS}%.3f s, ${t.cpuS}%.3f CPU s")
      } catch {
        case e: Exception => res.fail(op(r), e.getMessage)
      }
    }

    /** Compare each stored message with the generator's ground truth. */
    def verify(res: Result): Unit = {
      res.attempted += inputs.size
      val msgs = store.read("messages").collect()
        .map(r => r.getInt(0) -> (Option(r.getString(2)), Option(r.get(3)).contains(true))).toMap
      val frags = store.read("frags").groupBy("replay_number").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      def first(d: JsonNode, arr: String, key: String): Option[JsonNode] =
        Option(d.get(arr)).flatMap(a => Option(a.get(0))).flatMap(e => Option(e.get(key)))
          .filterNot(_.isNull)
      inputs.foreach { r =>
        val t = r.truth
        val errs: Seq[String] = msgs.get(r.id) match {
          case None => Seq("no message stored")
          case Some((None, _)) => Seq("empty text_data")
          case Some((Some(text), posted)) =>
            val d = mapper.readTree(text)
            val top = Option(d.get("cutlets")).flatMap(a => Option(a.get(0)))
            Seq(
              Option.when(!posted)("not posted"),
              Option.when(sender.sentTo(r.id) != 1)(s"sent ${sender.sentTo(r.id)} messages"),
              Option.when(!frags.get(r.id).contains(t.frags.toLong))(
                s"frags ${frags.get(r.id)} != ${t.frags}"),
              Option.when(!top.map(_.get("count").asInt()).contains(t.topKillerCount))(
                s"top killer count != ${t.topKillerCount}"),
              Option.when(!top.exists(e =>
                t.topKillerNicks.get(e.get("killer").asInt()).contains(e.get("nickname").asText())))(
                "top killer nickname is not the latest upsert"),
              Option.when(!first(d, "fb", "time").map(_.asText()).contains(t.firstBlood))(
                s"first blood != ${t.firstBlood}"),
              Option.when(!first(d, "lh", "time").map(_.asText()).contains(t.lastHit))(
                s"last hit != ${t.lastHit}"),
              Option.when(first(d, "ls", "distance").map(_.asInt()) != t.farthest)(
                s"farthest != ${t.farthest}"),
              Option.when(Option(d.get("survivors")).map(_.size()).getOrElse(-1) != t.survivors)(
                s"survivors != ${t.survivors}")).flatten
        }
        if (errs.nonEmpty) res.fail(op(r), errs.mkString("; "))
      }
    }
  }

  def run(res: Result): Unit = {
    // set-up, until the first timed replay: session start, then one cold
    // and two warm-up replays into a store of their own. The first warm
    // replays are the slowest, as the JIT is still compiling the hot paths.
    val setup = new Lane("setup", new Tracer(false))
    val warm = new ReplayGen(o.seed * 7919 + 1, 3)
    (1 to 3).foreach(_ => setup.replay(warm.next(), res))
    Main.setupDone(res)
    val gen = new ReplayGen(o.seed, replays)
    val off = new Lane("timed", new Tracer(false))
    var heapPeak = Heap.liveMb()
    if (!o.trace) {
      (1 to replays).foreach { _ =>
        off.replay(gen.next(), res)
        heapPeak = math.max(heapPeak, Heap.liveMb())
      }
      setup.verify(res)
      off.verify(res)
      E2e.put(res, off.times.toSeq, off.times.map(_.cpuS).toSeq, heapPeak)
    } else {
      // each replay twice, into an untraced and a traced store; which goes
      // first alternates, so both see the same JIT warm-up
      val tr = new Tracer(true)
      val on = new Lane("traced", tr)
      val twin = new ReplayGen(o.seed, replays)
      val probe = new Probe(spark.sparkContext)
      (1 to replays).foreach { i =>
        val steps = Seq(() => off.replay(gen.next(), res),
          () => probe.around(on.replay(twin.next(), res)))
        (if (i % 2 == 1) steps else steps.reverse).foreach { step =>
          step()
          Heap.liveMb()
        }
      }
      probe.close()
      setup.verify(res)
      off.verify(res)
      on.verify(res)
      tr.write(o.runDir.resolve("spans.jsonl"))
      traced(res, tr, probe, on, off)
    }
  }

  private def traced(res: Result, tr: Tracer, probe: Probe, on: Lane, off: Lane): Unit = {
    val self = tr.selfNanos
    val byOp = tr.spans.groupBy(_.op).values.map(_.toSeq).toSeq
    def perOp(f: Seq[Span] => Double): Double = Stats.median(byOp.map(f))
    def dur(name: String)(s: Seq[Span]) = s.filter(_.name == name).map(_.nanos).sum / 1e9
    def selfOf(names: String*)(s: Seq[Span]) =
      s.filter(x => names.contains(x.name)).map(x => self(x.id)).sum / 1e9
    val wall = on.times.map(_.wallS).sum
    Seq("discover", "ingest", "create_message", "deliver").foreach { p =>
      res.put(s"pipeline.${p}_s", perOp(dur(s"pipeline.$p")), "s")
    }
    Seq("append", "upsert_d_players", "update_message", "exists").foreach { s =>
      res.put(s"store.${s}_s", perOp(selfOf(s"store.$s")), "s")
    }
    val files = Files.walk(on.dir).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
    val bytes = files.map(Files.size).sum
    res.put("store.files", files.size, "count")
    res.put("store.bytes", bytes.toDouble, "bytes")
    res.put("store.bytes_per_input_byte", bytes.toDouble / on.inputs.map(_.inputBytes).sum, "ratio")
    res.put("message.build_s", perOp(selfOf("pipeline.create_message")), "s")
    res.put("message.deliver_self_s", perOp(selfOf("pipeline.deliver", "message.send")), "s")
    res.put("message.sent", on.sender.sent, "count")
    res.put("message.bytes", on.sender.bytes.toDouble, "bytes")
    probe.put(res, wall)
    res.put("spark.jobs_per_replay", Stats.median(probe.jobsPerOp.toSeq), "count")
    E2e.latency(res, off.times.toSeq, off.times.map(_.wallS).toSeq)
    res.put("trace.overhead_frac", wall / off.times.map(_.wallS).sum - 1, "ratio")
  }
}

object ReplayService {
  /** Replays per timed region: one per 5 s of `--seconds`, about what one
    * takes on a 4-core box. They make one block of `ReplayGen` size strata,
    * so every seed does the same work. */
  def replays(o: Opts): Int = math.max(2, math.round(o.seconds / 5.0).toInt)
}
