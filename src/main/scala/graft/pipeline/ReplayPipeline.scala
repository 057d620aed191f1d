package graft.pipeline

import graft.ingest.{ReplayHtml, ReplayJson}
import graft.message.MessageBuilder
import graft.queries.ReplayTables
import graft.store.TableStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's 3-DAG chain (check_replay → work_in_db →
  * create_message) as one linear batch pipeline over the table store.
  * The DAG split is an orchestration artifact, not a semantic boundary
  * (SURVEY §2.9 ST4); each stage here is a pure function over
  * DataFrames + the store.
  */
class ReplayPipeline(spark: SparkSession, store: TableStore) {

  def tables: ReplayTables = ReplayTables(
    replayMain = store.read("replay_main"),
    vehicles = store.read("vehicles"),
    players = store.read("players"),
    dPlayers = store.read("d_players"),
    frags = store.read("frags"))

  /** DAG-1 `check_replay` (functions.py:12-40): parse the listing page,
    * filter to >99 players (P5), take the posted high-watermark (A4) —
    * cold-start fallback is the SECOND filtered entry in page order
    * (functions.py:30, quirk preserved) — and return the first listed id
    * above it (P6). The listing is one small page, so the final pick is
    * a driver-side decision exactly like the reference's. */
  def discover(listingHtml: DataFrame): Option[Int] = {
    val pairs = ReplayHtml.parseListing(listingHtml)
      .filter(col("players") > 99)
      .orderBy(col("pos"))
      .select(col("id_replay"))
      .collect().map(_.getInt(0)).toSeq
    val watermark: Option[Int] = store.read("messages")
      .filter(col("posted") <=> true) // IS TRUE — null-safe (P4)
      .agg(max(col("replay_number")))
      .collect().headOption.flatMap(r => Option(r.get(0)).map(_.asInstanceOf[Int]))
      .orElse(pairs.drop(1).headOption)
    watermark.flatMap(wm => pairs.find(_ > wm))
  }

  /** DAG-2 `load_data_to_db` (functions.py:148-205): parse one replay's
    * HTML + JSON and load all 5 tables. Skips when the replay is already
    * stored (is_exists short-circuit, ST3). */
  def ingest(replay: Int, html: String, json: String): Boolean = {
    if (store.replayExists(replay)) return false
    import spark.implicits._
    val pages = ReplayHtml.validPages(
      Seq((replay, html)).toDF("replay_number", "html"))
    // is_404 gate (main.py:34-44): error pages never reach the loaders
    if (pages.isEmpty) return false
    val htmlDf = ReplayHtml.parse(pages)
    val parsed = ReplayJson.parsed(
      Seq((replay, json)).toDF("replay_number", "json"))

    val main = htmlDf
      .join(ReplayJson.sideCounts(parsed), Seq("replay_number"))
      .select(
        col("replay_number"), col("start_time"), col("end_time"), col("date"),
        col("name_mission"), col("island"), col("commander_east"),
        col("commander_west"), col("commander_guer"), col("commander_civ"),
        col("winner"), col("count_players_east"), col("count_players_west"),
        col("count_players_guer"), col("count_players_civ"),
        col("count_players_slots"), col("count_players_active"),
        col("duration"), col("replay_url"))
    store.append("replay_main", main)
    store.append("vehicles", ReplayJson.vehicles(parsed))
    store.upsertDPlayers(ReplayJson.dPlayers(parsed))
    store.append("players", ReplayJson.players(parsed))
    store.append("frags", ReplayJson.frags(parsed))
    true
  }

  /** DAG-3 `data_message` (functions.py:234-274): run the analytics and
    * append the message document. */
  def createMessage(replay: Int): Unit =
    store.append("messages", MessageBuilder.messageRow(spark, tables, replay))

  /** Bot-side delivery pick: one unposted message, `posted IS NOT TRUE`
    * so NULL means unposted (bot/botrun.py:297, P4 null-safe). */
  def nextUnposted(): Option[(Int, String)] =
    store.read("messages")
      .filter(!(col("posted") <=> true))
      .orderBy(col("replay_number"))
      .limit(1)
      .collect().headOption.map(r => (r.getInt(0), r.getString(2)))

  /** One message through the reference's send sequence
    * (botrun.py:297-309): create_text runs FIRST — for its
    * `UPDATE messages SET message = …` side effect only (the rendered
    * text persists even when the send then fails; its return value is
    * built and DISCARDED, the reference quirk at :306) — then ONE
    * delivery carrying the fixed envelope content plus the five embeds
    * (:307), then the posted flag. */
  private def deliverOne(sender: graft.message.MessageSender,
      replay: Int, textData: String): Unit = {
    import graft.message.Renderer
    store.setMessageText(replay, Renderer.createText(textData))
    sender.sendWithEmbeds(replay, Renderer.replayEnvelope,
      Renderer.createEmbeds(textData))
    store.markPosted(replay)
  }

  /** One tick of the reference's check_replay loop (botrun.py:295-309):
    * at most ONE unposted message per tick — the reference's `LIMIT 1`
    * cadence, where [[deliverUnposted]] is the crash-recovery drain.
    * Same at-least-once discipline: the flag is set only AFTER the
    * send. Returns whether a message went out. */
  def deliverNext(sender: graft.message.MessageSender): Boolean =
    nextUnposted() match {
      case Some((replay, text)) => deliverOne(sender, replay, text); true
      case None => false
    }

  /** Bot delivery loop (botrun.py:297-309): drain every unposted
    * message oldest-first through the transport, flagging `posted`
    * only AFTER each successful send. At-least-once under crash
    * replay: a crash between send and flag re-sends that one message
    * on recovery; the flag is never set for an unsent one, so nothing
    * is lost. Idempotent across calls — a second drain sends nothing.
    * The unposted backlog is collected ONCE (it is bounded by the
    * posting cadence; re-scanning the table per message would make a
    * crash-recovery drain of M messages pay M full scans), then sent
    * and flagged row by row with the same crash semantics. Returns the
    * number of messages sent. */
  def deliverUnposted(sender: graft.message.MessageSender): Int = {
    val backlog = store.read("messages")
      .filter(!(col("posted") <=> true))
      .orderBy(col("replay_number"))
      .collect().map(r => (r.getInt(0), r.getString(2)))
    backlog.foreach { case (replay, text) =>
      deliverOne(sender, replay, text)
    }
    backlog.length
  }
}
