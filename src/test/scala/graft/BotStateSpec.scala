package graft

import graft.message.Renderer
import graft.store.BotState
import java.time.LocalDateTime

/** S5/K6 bot state over JDBC (embedded Derby standing in for the
  * reference's SQLite): 8h alert suppression semantics, clip inserts
  * with identity ordering, and the live-state clip dedup (J6).
  */
class BotStateSpec extends SparkSpec {
  import spark.implicits._

  private val url = "jdbc:derby:memory:graftbot;create=true"
  private val driver = "org.apache.derby.jdbc.EmbeddedDriver"

  private lazy val state: BotState = {
    System.setProperty("derby.system.home",
      tempDir("derby-bot"))
    val st = new BotState(spark, url, driver)
    st.init()
    st.init() // idempotent
    st
  }

  test("alert suppression: epoch seed fires, then strictly-8h window") {
    val t0 = LocalDateTime.parse("2024-03-01T12:00:00")
    assert(state.shouldAlert(t0)) // fresh state → epoch last → alert
    state.recordAlert(t0)
    assert(!state.shouldAlert(t0.plusHours(7).plusMinutes(59)))
    assert(!state.shouldAlert(t0.plusHours(8))) // STRICT >: exactly 8h stays quiet
    assert(state.shouldAlert(t0.plusHours(8).plusSeconds(1)))
  }

  test("clips: identity order, last-N dedup window against live state") {
    state.addClips((1 to 12).map(i => (s"https://clips/c$i", s"id$i")))
    assert(state.clipsTable().count() == 12)
    val incoming = Seq(
      ("https://clips/c1", "id1"),  // older than the last-10 window → re-announced (quirk)
      ("https://clips/c12", "id12"), // inside the window → suppressed
      ("https://clips/new", "n1")
    ).toDF("url", "clip_id")
    assert(rowSet(state.newClips(incoming)).map(_.head) ==
      Seq("https://clips/c1", "https://clips/new"))
  }

  test("alert message renders match the reference strings") {
    assert(Renderer.clipAlert("Maker", "https://clips/x", "Big play") ==
      "[Maker](<http://www.twitch.tv/Maker>) сделал новый [клип](https://clips/x) \"Big play\"")
    assert(Renderer.streamOnlineMessage("streamer") ==
      "@here Стрим онлайн! <https://www.twitch.tv/streamer>")
    assert(Renderer.streamOnlineEmbed("Arma 3", "wog") ==
      ":red_circle: Запущен поток **Arma 3** \n wog")
  }
}
