package graft

import graft.ingest.{ReplayHtml, ReplayJson}
import org.apache.spark.sql.functions._

/** Ingest parsers against the checked-in fixture page + JSON
  * (FIXTURES.md §1) — the reference's own offline-dev pattern.
  */
class ReplayIngestSpec extends SparkSpec {
  import spark.implicits._

  private lazy val htmlDf =
    Seq((500, SparkSpec.resource("replay.html"))).toDF("replay_number", "html")
  private lazy val jsonDf = ReplayJson.parsed(
    Seq((500, SparkSpec.resource("replay-data.json"))).toDF("replay_number", "json"))

  test("html parse extracts every replay_main field") {
    val row = ReplayHtml.parse(htmlDf).collect()(0)
    val got = row.getValuesMap[Any](Seq(
      "replay_number", "start_time", "end_time", "date", "name_mission",
      "island", "commander_east", "commander_west", "commander_guer",
      "commander_civ", "winner", "count_players_slots",
      "count_players_active", "duration", "replay_url"))
    assert(got("replay_number") == 500)
    assert(got("start_time") == "18:05:00")
    assert(got("end_time") == "19:35:40")
    assert(got("date").toString == "2024-03-15")
    assert(got("name_mission") == "Operation Alpha")
    // &quot; entities decoded (F5 html_unescape)
    assert(got("island") == "Алтис \"тест\"")
    assert(got("commander_east") == "CmdrEast")
    assert(got("commander_west") == "CmdrWest")
    // absent factions default to 'None' (main.py:78-81)
    assert(got("commander_guer") == "None")
    assert(got("commander_civ") == "None")
    assert(got("winner") == "EAST")
    assert(got("count_players_slots") == 120)
    assert(got("count_players_active") == 101)
    assert(got("duration") == "01:30:40")
    assert(got("replay_url") == "https://stats.wogames.info/games/500/")
    assert(row.getSeq[String](row.fieldIndex("factions")) == Seq("EAST", "WEST"))
  }

  test("error pages are detected and dropped before extraction") {
    val pages = Seq(
      (1, "<html><title>Ошибка / WOG Stats</title></html>"),
      (2, SparkSpec.resource("replay.html"))).toDF("replay_number", "html")
    val valid = ReplayHtml.validPages(pages)
    assert(valid.count() == 1)
    assert(valid.select("replay_number").collect()(0).getInt(0) == 2)
  }

  test("listing parse yields (id, players) pairs in page order") {
    val listing = Seq(SparkSpec.resource("listing.html")).toDF("html")
    val got = rowList(ReplayHtml.parseListing(listing).orderBy("pos")
      .select("id_replay", "players"))
    assert(got == Seq(Seq(502, 55), Seq(501, 120), Seq(500, 101), Seq(499, 100)))
  }

  test("vehicles explode: leaf [type,name], quotes stripped") {
    val got = rowSet(ReplayJson.vehicles(jsonDf))
    assert(got == Seq(
      Seq(10, 500, "T-72", "tank"),
      Seq(11, 500, "UAZ open", "car"),
      Seq(12, 500, "T-80", "tank")))
  }

  test("d_players explode: nickname from leaf[1], quotes stripped") {
    val got = rowSet(ReplayJson.dPlayers(jsonDf))
    assert(got == Seq(
      Seq(1, "Alpha"), Seq(2, "Bravo"), Seq(3, "Charlie"), Seq(4, "Delta")))
  }

  test("players explode: side int + slot") {
    val got = rowSet(ReplayJson.players(jsonDf))
    assert(got == Seq(
      Seq(1, 500, 1, "slot1"), Seq(2, 500, 2, "slot2"),
      Seq(3, 500, 1, "slot3"), Seq(4, 500, 2, "slot4")))
  }

  test("frags double-explode: epoch→HH:mm:ss, victim from inner key, nulls kept") {
    val got = rowSet(ReplayJson.frags(jsonDf).orderBy("time"))
    assert(got == Seq(
      Seq(500, "22:13:20", 2, "veh2", 1, "veh1", "AK", 350, false),
      Seq(500, "22:15:00", 3, "veh3", 1, "veh1", "AK", null, true),
      Seq(500, "22:16:40", 4, "veh4", null, "veh5", "mine", 120, false)))
  }

  test("malformed inputs degrade, never throw: empty html, truncated json") {
    import graft.ingest.{ReplayHtml, ReplayJson}
    // fieldless html → empty-string / null fields, row survives
    val bare = ReplayHtml.parse(
      Seq((1, "<html><body>nothing here</body></html>"))
        .toDF("replay_number", "html")).collect()(0)
    assert(bare.getAs[String]("name_mission") == "")
    assert(bare.getAs[String]("commander_east") == "None")
    assert(bare.getAs[java.sql.Date]("date") == null)
    // truncated / non-object json → from_json nulls, explodes yield 0 rows
    val broken = ReplayJson.parsed(
      Seq((1, """{"players": {"5": ["1", "Al"""), (2, "not json at all"))
        .toDF("replay_number", "json"))
    assert(ReplayJson.players(broken).count() == 0)
    assert(ReplayJson.frags(broken).count() == 0)
    assert(ReplayJson.vehicles(broken).count() == 0)
    // well-shaped json with garbage numerics: fields null out, rows stay
    val garbage = ReplayJson.parsed(Seq(
      (3, """{"players": {"xx": ["not-a-side", "Nick", "slot", "sq"]}}"""))
      .toDF("replay_number", "json"))
    val row = ReplayJson.players(garbage).collect()(0)
    assert(row.isNullAt(row.fieldIndex("id_from_json")))
    assert(row.isNullAt(row.fieldIndex("side")))
    assert(row.getAs[String]("slot") == "slot")
  }

  test("side counts from factions map, absent sides default 0") {
    val got = rowList(ReplayJson.sideCounts(jsonDf))
    assert(got == Seq(Seq(500, 52, 49, 0, 0)))
  }

  test("PageFetcher: directory double serves S1-S3, missing page → None") {
    import graft.ingest.DirectoryPageFetcher
    val dir = tempDir("pages")
    def put(name: String, body: String): Unit =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, name), body)
    put("listing.html", SparkSpec.resource("listing.html"))
    put("500.html", SparkSpec.resource("replay.html"))
    put("500.json", SparkSpec.resource("replay-data.json"))
    val f = new DirectoryPageFetcher(dir)
    // the three fetches serve the fixture bodies verbatim
    assert(f.listing().exists(_.contains("/games/")))
    assert(f.replayHtml(500).exists(_.nonEmpty))
    assert(f.replayJson(500).exists(_.nonEmpty))
    // a transport miss is None, never a throw
    assert(f.replayHtml(999).isEmpty && f.replayJson(999).isEmpty
      && new DirectoryPageFetcher("/nonexistent").listing().isEmpty)
    // ListingStream adapter: both bodies or None (a half-fetched replay
    // must not half-ingest)
    assert(f.fetchFn(500).exists { case (h, j) => h.nonEmpty && j.nonEmpty })
    assert(f.fetchFn(999).isEmpty)
    put("999.html", "<html/>") // html present, json still missing
    assert(f.fetchFn(999).isEmpty)
    // PollSource adapter polls the listing
    assert(f.listingPoller().isDefined)
  }
}
