package graft

import graft.store.TableStore
import java.nio.file.{Files, Path => JPath, Paths}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.col
import scala.jdk.CollectionConverters._

/** Crash recovery of the store's snapshot swaps. Each case simulates a
  * process that died between "move live aside" and "move staged in":
  * the live dir is renamed to its dot-prefixed aside, then the next
  * store call runs. No committed row may be lost. A source scan keeps
  * every directory swap inside `store/Swap.scala`.
  */
class StoreCrashSpec extends SparkSpec {
  import spark.implicits._

  private def freshStore(): (TableStore, String) = {
    val root = tempDir("crash")
    (new TableStore(spark, root), root)
  }

  /** Simulate the crash: park `live` under its aside name. */
  private def strand(live: String, aside: String): Unit = {
    val fs = new Path(live).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new Path(live), new Path(aside)))
    assert(!fs.exists(new Path(live)))
  }

  private def frag(replay: Int, victim: Int) =
    (replay, "00:01", victim, "T-34", 7, "KV-1", "gun", 100, false)

  private val fragCols = Seq("replay_number", "time", "victim", "victim_vehicle",
    "killer", "killer_vehicle", "gun", "distance", "is_tk")

  test("upsertDPlayers after a crash mid-swap keeps the stored players") {
    val (store, root) = freshStore()
    store.upsertDPlayers(Seq((1, "One"), (2, "Two")).toDF("id_from_json", "nickname"))
    strand(s"$root/d_players", s"$root/.d_players.old")
    store.upsertDPlayers(Seq((3, "Three")).toDF("id_from_json", "nickname"))
    val ids = store.read("d_players").select("id_from_json").as[Int].collect().toSet
    assert(ids == Set(1, 2, 3))
  }

  test("upsertPartitioned after a crash mid-swap keeps the stranded partition") {
    val (store, _) = freshStore()
    store.append("frags", Seq(frag(600, 1), frag(600, 2)).toDF(fragCols: _*))
    val frags = store.path("frags")
    strand(s"$frags/replay_number=600", s"$frags/.replay_number=600.old")
    store.upsertPartitioned("frags", Seq(frag(601, 3)).toDF(fragCols: _*),
      keyCols = Seq("replay_number", "victim"))
    val got = store.read("frags").select("replay_number", "victim")
      .as[(Int, Int)].collect().toSet
    assert(got == Set((600, 1), (600, 2), (601, 3)))
  }

  test("markPosted after a crash mid-swap keeps the message row") {
    val (store, root) = freshStore()
    store.append("messages", Seq((500, "text", "{}", Option.empty[Boolean]))
      .toDF("replay_number", "message", "text_data", "posted"))
    strand(s"$root/messages", s"$root/.messages.old")
    store.markPosted(500)
    val rows = store.read("messages").select("replay_number", "posted")
      .as[(Int, Option[Boolean])].collect().toSeq
    assert(rows == Seq((500, Some(true))))
  }

  test("a store opened on a crashed root restores every stranded aside") {
    val (store, root) = freshStore()
    store.append("frags", Seq(frag(600, 1), frag(601, 2)).toDF(fragCols: _*))
    store.upsertDPlayers(Seq((1, "One")).toDF("id_from_json", "nickname"))
    val frags = store.path("frags")
    strand(s"$frags/replay_number=601", s"$frags/.replay_number=601.old")
    strand(s"$root/d_players", s"$root/.d_players.old")
    val reopened = new TableStore(spark, root)
    assert(reopened.read("frags").select(col("victim")).as[Int].collect().toSet == Set(1, 2))
    assert(reopened.read("d_players").count() == 1)
  }

  test("store/Swap.scala is the only main source that renames a path") {
    val rename = "\\.rename\\s*\\(".r
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"missing source root $root")
    val walk = Files.walk(root)
    val renaming: Map[String, Int] =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
        .map((p: JPath) => root.relativize(p).toString ->
          rename.findAllIn(Files.readString(p)).size)
        .filter(_._2 > 0).toMap
      finally walk.close()
    // the one allowed exception: VectorCurationPipeline.setCurrentGen
    // overwrites a single pointer file atomically (FileContext rename
    // with OVERWRITE); it swaps no directory, so it has no aside
    val pointer = "scala/graft/streaming/VectorCurationPipeline.scala"
    assert(renaming - "scala/graft/store/Swap.scala" == Map(pointer -> 1),
      renaming.mkString(", "))
    assert(Files.readString(root.resolve(pointer))
      .contains(".rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)"))
  }
}
