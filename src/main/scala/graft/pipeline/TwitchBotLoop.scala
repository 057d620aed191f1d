package graft.pipeline

import graft.ingest.TwitchApi
import graft.message.Renderer
import graft.store.BotState
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import java.util.concurrent.{Executors, ScheduledExecutorService, TimeUnit}
import org.apache.spark.sql.SparkSession
import scala.annotation.unused

/** Where stream/clip announcements go — the reference posts them with
  * a bare `channel.send(content)` (botrun.py:235-238, 269), unkeyed,
  * unlike the replay messages' per-replay [[graft.message
  * .MessageSender]] transport. A Discord deployment is one lambda
  * (`msg => http.post(webhookUrl, msg)`); specs use a buffering
  * double. */
trait AlertSink {
  def post(message: String): Unit

  /** Content + embeds in one delivery — the stream-online alert
    * attaches an embed to the same send (botrun.py:266-269). Default
    * collapses to content-only for content-only sinks; the live
    * webhook transport overrides to carry both in one POST. */
  def post(message: String, @unused embeds: Seq[Renderer.Embed]): Unit =
    post(message)
}

/** The reference bot's THREE polling loops (bot/botrun.py:242-309,
  * started together at :316-330), composed over the engine's
  * already-spec'd parts — the S6 wiring the round-10 verdict called
  * the one hole:
  *
  *   - stream tick (60 s): [[graft.ingest.TwitchApi.streamOnline]] →
  *     [[graft.store.BotState.shouldAlert]]'s STRICT-8h gate →
  *     [[graft.message.Renderer]]'s online message + embed →
  *     [[AlertSink]] (botrun.py:242-269; the state write lands BEFORE
  *     the send, exactly the reference's order :264-269 — a crash
  *     between them suppresses rather than double-posts),
  *   - clips tick (120 s): [[graft.ingest.TwitchApi.recentClips]]
  *     over a now−2min started_at (botrun.py:85-91) → the last-10
  *     anti-join ([[graft.store.BotState.newClips]] →
  *     [[graft.streaming.ClipDedup]]) → insert-then-alert per clip in
  *     API order (:278-291). Reference quirks preserved: the seen
  *     window is the PRE-BATCH last 10, so two same-url clips inside
  *     one response both insert and both alert, and a clip older than
  *     the last 10 stored re-announces,
  *   - replay tick (60 s): [[ReplayPipeline.deliverNext]] — at most
  *     ONE unposted replay message per tick (the `LIMIT 1` cadence,
  *     :295-309), flag set only after the send.
  *
  * Every tick body swallows its own failures ([[safely]]): a transport
  * blip skips a tick, it never kills the loop (the reference's
  * raise_for_status at :24 kills the whole bot on one auth hiccup —
  * the one behavior deliberately NOT preserved).
  *
  * Scale note: this loop is DRIVER-side by design — its state is a
  * config-file-sized SQLite/JDBC table and its inputs are ≤10-row API
  * pages; the distributed engine only appears where the reference's
  * data does (the clip anti-join through ClipDedup, the messages
  * table the replay tick drains). */
class TwitchBotLoop(
    spark: SparkSession,
    api: TwitchApi,
    state: BotState,
    alerts: AlertSink,
    channel: String,
    maxHours: Long = 8,
    clipLookbackMinutes: Long = 2,
    clipWindow: Int = 10,
    replayTick: () => Boolean = () => false) {

  private val isoSeconds = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")

  /** One send_stream_online tick (botrun.py:242-269). Returns whether
    * the announcement fired. `now` is injectable for the spec; the
    * scheduler passes UTC wall-clock truncated to seconds (the
    * reference's `utcnow().isoformat()[:19]`). */
  def streamTick(now: LocalDateTime): Boolean =
    api.streamOnline(channel) match {
      case None => false
      case Some(info) =>
        // thumbnail resolves BEFORE the 8h gate, like botrun.py:260
        val thumb = info.thumbnailUrl
          .replace("{width}", "854").replace("{height}", "480")
        if (state.shouldAlert(now, maxHours)) {
          state.recordAlert(now)
          // one send carrying content + the embed (botrun.py:269)
          alerts.post(Renderer.streamOnlineMessage(channel),
            Seq(Renderer.streamOnlineAlertEmbed(
              channel, info.gameName, info.title, thumb)))
          true
        } else false
    }

  /** One send_clips tick (botrun.py:273-291). Returns how many clip
    * alerts fired. */
  def clipsTick(nowUtc: LocalDateTime): Int = {
    val startedAt =
      nowUtc.minusMinutes(clipLookbackMinutes).format(isoSeconds) + "Z"
    val clips = api.recentClips(channel, startedAt, first = clipWindow)
    if (clips.isEmpty) 0
    else {
      import spark.implicits._
      val incoming = clips.map(c => (c.url, c.id)).toDF("url", "clip_id")
      // J6 through the distributed anti-join; the fresh SET comes back
      // driver-side so insert + alert keep the reference's API order
      val freshUrls = state.newClips(incoming, clipWindow)
        .select("url").collect().map(_.getString(0)).toSet
      val fresh = clips.filter(c => freshUrls(c.url))
      fresh.foreach { c =>
        state.addClips(Seq((c.url, c.id))) // insert BEFORE the alert, :286-291
        alerts.post(Renderer.clipAlert(c.creatorName, c.url, c.title))
      }
      fresh.size
    }
  }

  private def safely(body: => Unit): Unit =
    try body catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bot] tick failed (skipped): $e")
    }

  /** Start the three loops on one scheduler thread with the
    * reference's cadences (60/120/60 s — botrun.py:242/273/295).
    * Caller owns shutdown. */
  def start(
      streamPeriodS: Long = 60,
      clipsPeriodS: Long = 120,
      replayPeriodS: Long = 60): ScheduledExecutorService = {
    val ex = Executors.newSingleThreadScheduledExecutor(r => {
      val t = new Thread(r, "graft-bot-loop"); t.setDaemon(true); t
    })
    def nowUtc() = LocalDateTime.now(java.time.ZoneOffset.UTC)
      .truncatedTo(java.time.temporal.ChronoUnit.SECONDS)
    ex.scheduleAtFixedRate(() => safely { streamTick(nowUtc()); () },
      0, streamPeriodS, TimeUnit.SECONDS)
    ex.scheduleAtFixedRate(() => safely { clipsTick(nowUtc()); () },
      0, clipsPeriodS, TimeUnit.SECONDS)
    ex.scheduleAtFixedRate(() => safely { replayTick(); () },
      0, replayPeriodS, TimeUnit.SECONDS)
    ex
  }
}
