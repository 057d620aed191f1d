package graft

import graft.ingest.ReplayJson
import graft.queries.{ReplayQueries => RQ, ReplaySlice, ReplayTables, SliceResult}
import org.apache.spark.sql.Row

/** The 8 analytic queries over the fixture replay's collected slice,
  * expected rows computed by hand from queries.py semantics — including
  * the null edge cases SURVEY §7.4.2 calls out (null killer dropped by
  * inner join, null distance sorted last, null-aware NOT IN) — and the
  * tie order the slice functions fix.
  */
class ReplayQueriesSpec extends SparkSpec {
  import spark.implicits._

  private lazy val tables: ReplayTables = {
    val p = ReplayJson.parsed(
      Seq((500, SparkSpec.resource("replay-data.json"))).toDF("replay_number", "json"))
    ReplayTables(
      replayMain = spark.emptyDataFrame,
      vehicles = ReplayJson.vehicles(p),
      players = ReplayJson.players(p),
      dPlayers = ReplayJson.dPlayers(p),
      frags = ReplayJson.frags(p))
  }

  private lazy val slice: ReplaySlice = RQ.slice(tables, 500)

  private def rowList(r: SliceResult): Seq[Seq[Any]] = r.rows.map(_.toSeq)

  test("fs_vehicles: counts ordered by type, name") {
    assert(rowList(RQ.fsVehicles(slice)) == Seq(
      Seq("UAZ open", "car", 1L), Seq("T-72", "tank", 1L), Seq("T-80", "tank", 1L)))
  }

  test("fs_cutlets: null killer dropped by inner join, dense rank") {
    assert(rowList(RQ.fsCutlets(slice)) == Seq(Seq(1, "Alpha", 1L, 1)))
  }

  test("fs_tks: teamkill leaderboard") {
    assert(rowList(RQ.fsTks(slice)) == Seq(Seq(1, "Alpha", 1L, 1)))
  }

  test("fs_fb: earliest frag with both nicknames resolved") {
    assert(rowList(RQ.fsFb(slice)) == Seq(
      Seq("22:13:20", 1, 2, "Alpha", "Bravo", "veh1", "veh2", 350, false, "AK")))
  }

  test("fs_lh: latest frag; unknown killer → null nickname survives left join") {
    assert(rowList(RQ.fsLh(slice)) == Seq(
      Seq("22:16:40", null, 4, null, "Delta", "veh5", "veh4", 120, false, "mine")))
  }

  test("fs_ls: farthest kill, null distance sorted last") {
    assert(rowList(RQ.fsLs(slice)) == Seq(
      Seq("22:13:20", 1, 2, "Alpha", "Bravo", "veh1", "veh2", 350, false, "AK")))
  }

  test("fs_survivors: players minus victims of ANY replay") {
    assert(rowList(RQ.fsSurvivors(slice)) == Seq(Seq(1, "Alpha", 1)))
  }

  test("fs_survivors: NOT IN is null-aware — one NULL victim empties the result") {
    val fragsWithNullVictim = tables.frags.union(
      Seq((999, "00:00:01", null.asInstanceOf[Integer], "v", Integer.valueOf(1),
        "k", "g", Integer.valueOf(5), false))
        .toDF(tables.frags.columns: _*))
    val t2 = tables.copy(frags = fragsWithNullVictim)
    assert(RQ.fsSurvivors(RQ.slice(t2, 500)).rows.isEmpty)
  }

  test("fs_survivors_group: CASE side labels, grouped on raw side") {
    assert(rowList(RQ.fsSurvivorsGroup(slice)) == Seq(
      Seq(":red_square: EAST", 1L)))
  }

  test("group_vehicles: RU type labels, unknown types pass through") {
    val got = rowList(RQ.groupVehicles(slice))
    assert(got == Seq(
      Seq("Автомобиль", Seq(Row("UAZ open", 1L))),
      Seq("Танк", Seq(Row("T-72", 1L), Row("T-80", 1L)))))
  }

  /** Replay 600 from literal rows, shaped to tie everywhere the order
    * used to be left to hash partitioning. Rows go in descending id
    * order, so an order that merely follows the input fails. */
  private lazy val tied: ReplaySlice = {
    val kills = Seq(80 -> 1, 70 -> 3, 60 -> 3, 50 -> 3, 40 -> 2, 30 -> 5, 20 -> 4, 10 -> 5)
    val frags = kills.flatMap { case (k, n) =>
      Seq.fill(n)((600, "10:00:00", 99, "v", k, "k", "AK", 100, false)) }
    // (id, side): sides 1, 2 and 4 hold two survivors each, side 3 one
    val players = Seq(9 -> 4, 8 -> 4, 7 -> 3, 6 -> 2, 5 -> 2, 4 -> 1, 3 -> 1)
    val ids = kills.map(_._1) ++ players.map(_._1)
    // both sides of the UTF-16 surrogate range: code point order puts
    // U+FF21 first, Java's String.compareTo puts U+1F600 first
    val kinds = Seq("\uD83D\uDE00-kite", "\uFF21-blimp", "sea", "tank", "truck", "drone")
    RQ.slice(ReplayTables(
      replayMain = spark.emptyDataFrame,
      vehicles = kinds.zipWithIndex.map { case (k, i) => (i, 600, s"v$i", k) }
        .toDF("id", "replay_number", "name", "type"),
      players = players.map { case (id, side) => (id, 600, side, "slot") }
        .toDF("id_from_json", "replay_number", "side", "slot"),
      dPlayers = ids.map(id => (id, s"n$id")).toDF("id_from_json", "nickname"),
      frags = frags.toDF("replay_number", "time", "victim", "victim_vehicle", "killer",
        "killer_vehicle", "gun", "distance", "is_tk")), 600)
  }

  test("leaderboard ties: killer id ascending in a rank, LIMIT 5 keeps the lowest ids") {
    // counts 5,5 | 4 | 3,3,3 | 2 | 1: the fifth row falls inside rank 3
    assert(rowList(RQ.fsCutlets(tied)) == Seq(
      Seq(10, "n10", 5L, 1), Seq(30, "n30", 5L, 1), Seq(20, "n20", 4L, 2),
      Seq(50, "n50", 3L, 3), Seq(60, "n60", 3L, 3)))
    assert(RQ.fsTks(tied).rows.isEmpty)
  }

  test("group ties: type_label ascending in UTF-8 order, survivors label ascending") {
    assert(RQ.groupVehicles(tied).rows.map(_.getString(0)) == Seq(
      "drone", "Грузовик", "Танк", "Флот", "\uFF21-blimp", "\uD83D\uDE00-kite"))
    assert(rowList(RQ.fsSurvivorsGroup(tied)) == Seq(
      Seq(":blue_square: WEST", 2L), Seq(":purple_square: CIV", 2L),
      Seq(":red_square: EAST", 2L), Seq(":green_square: GUER", 1L)))
  }
}
