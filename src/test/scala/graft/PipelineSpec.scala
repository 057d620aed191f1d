package graft

import graft.pipeline.ReplayPipeline
import graft.store.TableStore
import java.nio.file.Files

/** End-to-end batch pipeline over the fixture replay: ingest → store →
  * message document, plus the discovery watermark quirks (SURVEY §7.4.3).
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def freshPipeline(): (ReplayPipeline, TableStore) = {
    val root = tempDir("store")
    val store = new TableStore(spark, root)
    (new ReplayPipeline(spark, store), store)
  }

  test("ingest loads all five tables and is idempotent") {
    val (p, store) = freshPipeline()
    val html = SparkSpec.resource("replay.html")
    val json = SparkSpec.resource("replay-data.json")
    assert(p.ingest(500, html, json))
    assert(store.read("replay_main").count() == 1)
    assert(store.read("vehicles").count() == 3)
    assert(store.read("players").count() == 4)
    assert(store.read("d_players").count() == 4)
    assert(store.read("frags").count() == 3)
    // duplicate load short-circuits (is_exists, ST3)
    assert(!p.ingest(500, html, json))
    assert(store.read("frags").count() == 3)
  }

  test("d_players upsert is last-write-wins on id_from_json") {
    val (_, store) = freshPipeline()
    store.upsertDPlayers(Seq((1, "Old"), (2, "Two")).toDF("id_from_json", "nickname"))
    store.upsertDPlayers(Seq((1, "New"), (3, "Three")).toDF("id_from_json", "nickname"))
    val got = rowSet(store.read("d_players"))
    assert(got == Seq(Seq(1, "New"), Seq(2, "Two"), Seq(3, "Three")))
  }

  test("partitioned upsert merges only touched partitions, LWW on key") {
    val (_, store) = freshPipeline()
    store.append("players", Seq(
      (1, 600, 1, "a"), (2, 600, 2, "b"), (3, 599, 1, "c"))
      .toDF("id_from_json", "replay_number", "side", "slot"))
    val untouchedBefore = java.nio.file.Files.list(
      java.nio.file.Paths.get(store.path("players").stripPrefix("file:"),
        "replay_number=599")).toArray.map(_.toString).toSet

    // update player 1 of replay 600 (twice: last in batch wins), add
    // replay 601 — replay 599 must not be read or rewritten
    store.upsertPartitioned("players", Seq(
      (1, 600, 1, "MOVED"), (1, 600, 1, "MOVED2"), (9, 601, 3, "z"))
      .toDF("id_from_json", "replay_number", "side", "slot"),
      keyCols = Seq("id_from_json"))

    assert(rowSet(store.read("players")) == Seq(
      Seq(1, 600, 1, "MOVED2"), Seq(2, 600, 2, "b"),
      Seq(3, 599, 1, "c"), Seq(9, 601, 3, "z")
    ).sortBy(_.map(String.valueOf).mkString("|")))

    val untouchedAfter = java.nio.file.Files.list(
      java.nio.file.Paths.get(store.path("players").stripPrefix("file:"),
        "replay_number=599")).toArray.map(_.toString).toSet
    assert(untouchedAfter == untouchedBefore,
      "files of an untouched partition were rewritten")
  }

  test("partitioned upsert rejects a batch whose key spans partitions") {
    val (_, store) = freshPipeline()
    store.append("players", Seq((1, 600, 1, "a")).toDF(
      "id_from_json", "replay_number", "side", "slot"))
    // key 1 under replay 600 AND 601 in one batch: LWW per (key, part)
    // would keep both rows — a duplicate key. The constraint is
    // keyCols → partCol; the within-batch violation must be rejected.
    val ex = intercept[IllegalArgumentException] {
      store.upsertPartitioned("players", Seq(
        (1, 600, 1, "x"), (1, 601, 1, "y"))
        .toDF("id_from_json", "replay_number", "side", "slot"),
        keyCols = Seq("id_from_json"))
    }
    assert(ex.getMessage.contains("multiple replay_number values"))
    // nothing was swapped in
    assert(rowSet(store.read("players")) == Seq(Seq(1, 600, 1, "a")))
    // a split across the NULL partition and a real one must also trip
    // (countDistinct alone ignores nulls)
    val exNull = intercept[IllegalArgumentException] {
      store.upsertPartitioned("players",
        Seq[(Int, Option[Int], Int, String)]((1, None, 1, "x"), (1, Some(601), 1, "y"))
          .toDF("id_from_json", "replay_number", "side", "slot"),
        keyCols = Seq("id_from_json"))
    }
    assert(exNull.getMessage.contains("multiple replay_number values"))
  }

  test("partitioned upsert handles a null partition value (hive default dir)") {
    val (_, store) = freshPipeline()
    store.append("players", Seq((1, 600, 1, "a")).toDF(
      "id_from_json", "replay_number", "side", "slot"))
    // null replay_number lands in __HIVE_DEFAULT_PARTITION__ — the swap
    // must find the staged dir Spark wrote, not a hand-built "=null"
    val withNull = Seq[(Int, Option[Int], Int, String)](
      (7, None, 9, "n1")).toDF("id_from_json", "replay_number", "side", "slot")
    store.upsertPartitioned("players", withNull, keyCols = Seq("id_from_json"))
    assert(rowSet(store.read("players")) == Seq(
      Seq(1, 600, 1, "a"), Seq(7, null, 9, "n1")
    ).sortBy(_.map(String.valueOf).mkString("|")))
    // merging into the null partition again: LWW applies, others untouched
    store.upsertPartitioned("players",
      Seq[(Int, Option[Int], Int, String)]((7, None, 9, "n2"))
        .toDF("id_from_json", "replay_number", "side", "slot"),
      keyCols = Seq("id_from_json"))
    assert(rowSet(store.read("players")) == Seq(
      Seq(1, 600, 1, "a"), Seq(7, null, 9, "n2")
    ).sortBy(_.map(String.valueOf).mkString("|")))
  }

  test("message document carries base row + all query results") {
    val (p, store) = freshPipeline()
    p.ingest(500, SparkSpec.resource("replay.html"), SparkSpec.resource("replay-data.json"))
    p.createMessage(500)
    val (replay, textData) = p.nextUnposted().get
    assert(replay == 500)
    for (key <- Seq("name_mission", "vehicles", "grouped_vehicles", "cutlets",
        "tks", "fb", "lh", "ls", "survivors", "survivors_group", "replay_number"))
      assert(textData.contains(s""""$key""""), s"missing $key in $textData")
    assert(textData.contains(""""cutlets":[{"killer":1,"nickname":"Alpha","count":1,"rank":1}]"""))
    assert(textData.contains(""""survivors":[{"id_from_json":1,"nickname":"Alpha","side":1}]"""))
    // null fields stay present, like the reference's json.dumps
    assert(textData.contains(""""lh":[{"time":"22:16:40","killer":null"""))
    // exactly ONE replay_number key (the base row's; none re-appended)
    assert("\"replay_number\"".r.findAllIn(textData).size == 1)
    // rendered text persists into messages.message (K5 text variant)
    store.setMessageText(500, "rendered-text")
    assert(store.read("messages")
      .filter(org.apache.spark.sql.functions.col("replay_number") === 500)
      .collect()(0).getString(1) == "rendered-text")
    // posted flag flip ends delivery (K5 + P4 null-safe filter)
    store.markPosted(500)
    assert(p.nextUnposted().isEmpty)
  }

  test("discover: >99 filter, cold-start second-entry fallback, watermark") {
    val (p, store) = freshPipeline()
    val listing = Seq(SparkSpec.resource("listing.html")).toDF("html")
    // empty store: filtered page order = [501,500,499]; fallback watermark
    // = second entry (500) → first id above it is 501 (functions.py:29-36)
    assert(p.discover(listing).contains(501))
    // after 501 is posted, nothing newer is listed
    p.ingest(501, SparkSpec.resource("replay.html"), SparkSpec.resource("replay-data.json"))
    p.createMessage(501)
    store.markPosted(501)
    assert(p.discover(listing).isEmpty)
  }
}
