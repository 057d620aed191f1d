package graft

import graft.domain.Schemas
import graft.message.MessageBuilder
import graft.pipeline.ReplayPipeline
import graft.queries.{ReplayQueries => RQ, ReplayTables}
import graft.store.TableStore
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import scala.jdk.CollectionConverters._
import scala.util.Random

/** The slice functions against the DataFrame programs they replaced
  * ([[ReplayQueriesOracle]]), over a seeded multi-replay store built at
  * test time, and the fixed job count of a message build.
  *
  * The store holds ties in every count and time, a NULL killer, a killer
  * missing from `d_players`, a `d_players` row with a NULL nickname,
  * NULL distances and `is_tk`, duplicate (name, type) vehicles, unmapped
  * and NULL vehicle types, and Cyrillic and non-BMP names. First blood,
  * last hit and the farthest kill are unique per replay, so those
  * compare row for row.
  */
class ReplaySliceSpec extends SparkSpec {
  import spark.implicits._

  private val replays = Seq(701, 702, 703)

  private val nicknames = Seq("Alpha", "Ёжик", "😀 Smile", "𝔘nicode",
    "O'Neil", "Ｚulu", "Борис", "zed")

  private val rnd = new Random(7)

  private lazy val store: TableStore = {
    val s = new TableStore(spark, tempDir("slice"))
    // ids 13 and 17 never reach d_players; id 7's nickname is NULL
    s.upsertDPlayers((1 to 30).filterNot(Set(13, 17))
      .map(id => (id, Option.when(id != 7)(nicknames(id % nicknames.size))))
      .toDF("id_from_json", "nickname"))
    replays.foreach(append(s, _))
    s
  }

  private def append(s: TableStore, r: Int): Unit = {
    val ids = rnd.shuffle((1 to 30).toList).take(20)
    s.append("replay_main", spark.createDataFrame(
      Seq(Row.fromSeq(r +: Seq.fill(Schemas.replayMain.size - 1)(null))).asJava,
      Schemas.replayMain))
    s.append("players", ids.map(id => (id, r, 1 + rnd.nextInt(6), s"slot$id"))
      .toDF("id_from_json", "replay_number", "side", "slot"))
    val names = Seq[String]("T-72", "Т-90М", "🚁 Mi-8", "UAZ", null)
    val kinds = Seq[String]("tank", "car", "heli", "drone", "Ａ-blimp", null)
    s.append("vehicles", (1 to 12).map(i =>
      (i, r, names(rnd.nextInt(names.size)), kinds(rnd.nextInt(kinds.size))))
      .toDF("id", "replay_number", "name", "type"))
    val times = Seq("10:00:00", "10:00:15", "10:01:00", "10:01:30", "10:02:00")
    val guns = Seq("AK", "Пулемёт", "", "mine")
    val random = (1 to 40).map { _ =>
      val killer = rnd.nextInt(12) match {
        case 0 => None
        case 1 => Some(13)
        case _ => Some(ids(rnd.nextInt(ids.size)))
      }
      val isTk = rnd.nextInt(8) match {
        case 0 => None
        case 1 | 2 => Some(true)
        case _ => Some(false)
      }
      // victims come from ids 1-15 only, so ids 16-30 survive
      (r, times(rnd.nextInt(times.size)), Option(1 + rnd.nextInt(15)), s"v${rnd.nextInt(5)}",
        killer, s"v${rnd.nextInt(5)}", guns(rnd.nextInt(guns.size)),
        Option.when(rnd.nextInt(8) != 0)(1 + rnd.nextInt(50)), isTk)
    }
    val unique = Seq(
      (r, "00:00:01", Option(2), "first", Option(3), "k", "AK", Option(5), Option(false)),
      (r, "23:59:59", Option(1), "last", None, "k", "mine", None, Option(false)),
      (r, "10:01:00", Option(4), "far", Option(17), "k", "SVD", Option(9999), None))
    s.append("frags", (random ++ unique).toDF(Schemas.frags.fieldNames.toIndexedSeq: _*))
  }

  private def tables: ReplayTables = new ReplayPipeline(spark, store).tables

  /** Plain nested lists, so Spark's and the driver's collections compare. */
  private def norm(v: Any): Any = v match {
    case r: Row => r.toSeq.map(norm).toList
    case s: scala.collection.Seq[_] => s.map(norm).toList
    case x => x
  }

  private def bag(rows: Seq[Any]): Map[Any, Int] =
    rows.map(norm).groupBy(identity).view.mapValues(_.size).toMap

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  private val O = ReplayQueriesOracle

  /** Every result against the oracle; returns whether a leaderboard's
    * LIMIT 5 cut through a rank. */
  private def assertMatchesOracle(t: ReplayTables, r: Int): Boolean = {
    val s = RQ.slice(t, r)
    def same(name: String, mine: Seq[Row], oracle: DataFrame): Unit =
      assert(bag(mine) == bag(rows(oracle)), s"replay $r $name")
    assert(RQ.fsVehicles(s).rows.map(norm) == rows(O.fsVehicles(t, r)).map(norm),
      s"replay $r vehicles")
    same("grouped_vehicles", RQ.groupVehicles(s).rows, O.groupVehicles(t, r))
    same("fb", RQ.fsFb(s).rows, O.fsFb(t, r))
    same("lh", RQ.fsLh(s).rows, O.fsLh(t, r))
    same("ls", RQ.fsLs(s).rows, O.fsLs(t, r))
    same("survivors", RQ.fsSurvivors(s).rows, O.fsSurvivors(t, r))
    same("survivors_group", RQ.fsSurvivorsGroup(s).rows, O.fsSurvivorsGroup(t, r))
    Seq(false, true).map { tk =>
      val mine = (if (tk) RQ.fsTks(s) else RQ.fsCutlets(s)).rows
      val oracle = rows(if (tk) O.fsTks(t, r) else O.fsCutlets(t, r))
      val all = rows(O.leaderboard(t, r, tk, rows = 1000))
      // rank by rank: as many rows per rank as the oracle keeps, each one
      // a row of that rank
      assert(mine.map(_.getInt(3)) == oracle.map(_.getInt(3)), s"replay $r tk=$tk ranks")
      assert(mine.map(norm).forall(all.map(norm).contains), s"replay $r tk=$tk rows")
      all.size > 5 && all(4).getInt(3) == all(5).getInt(3)
    }.contains(true)
  }

  test("slice results equal the DataFrame oracle; a NULL victim empties survivors") {
    val t = tables
    val cut = replays.map(assertMatchesOracle(t, _))
    assert(cut.contains(true), "no leaderboard cut a tied rank; the store tests no ties")
    assert(replays.exists(r => RQ.fsSurvivors(RQ.slice(t, r)).rows.nonEmpty))

    // a replay 704 with a NULL victim: NOT IN now empties every replay's
    // survivors (added to the frags read, so the store stays as built)
    val t2 = t.copy(frags = t.frags.union(Seq((704, "10:00:00", Option.empty[Int], "v",
      Option(1), "k", "AK", Option(1), Option(false)))
      .toDF(Schemas.frags.fieldNames.toIndexedSeq: _*)))
    (replays :+ 704).foreach { r =>
      assertMatchesOracle(t2, r)
      assert(RQ.fsSurvivors(RQ.slice(t2, r)).rows.isEmpty, s"replay $r survivors")
    }
  }

  test("a message build runs a fixed number of Spark jobs") {
    val sc = spark.sparkContext
    val tag = "graft.test.slice"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(tag) != null) jobs.incrementAndGet()
    }
    val t = tables
    sc.addSparkListener(listener)
    val counts = try replays.map { r =>
      ListenerDrain(sc)
      jobs.set(0)
      sc.setLocalProperty(tag, "1")
      try MessageBuilder.buildTextData(spark, t, r)
      finally sc.setLocalProperty(tag, null)
      ListenerDrain(sc)
      jobs.get()
    } finally sc.removeSparkListener(listener)
    // seven: the replay_main row; the vehicles; the named frags and the
    // d_players broadcast both their joins share; the survivors, with a
    // broadcast of every victim for NOT IN and one of d_players. A job
    // per query would be about forty.
    assert(counts == Seq.fill(replays.size)(7), s"jobs per message build: $counts")
  }
}
