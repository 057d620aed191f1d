package graft

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.ingest.{HttpPageFetcher, HttpTwitchApi, TwitchApi}
import graft.pipeline.{AlertSink, TwitchBotLoop}
import graft.store.BotState
import java.net.InetSocketAddress
import java.time.LocalDateTime
import scala.collection.mutable

/** The S6 live-transport surface against an IN-PROCESS HTTP stub (the
  * sandbox has no egress): [[HttpPageFetcher]]'s GET/status contract,
  * [[HttpTwitchApi]]'s auth + stream + clips protocol
  * (bot/botrun.py:21-32, 72-102 behavior table, incl. the 401 token
  * refresh the reference lacks), and [[TwitchBotLoop]]'s three ticks
  * composed over BotState / ClipDedup / Renderer with the reference's
  * suppression, dedup-window, and ordering quirks.
  */
class HttpTransportSpec extends SparkSpec {

  /** Minimal stub: route → (status, body); records hit counts, the
    * auth headers it saw, and each route's request bodies (the
    * form-encoded token POST and the webhook JSON assert on them). */
  private class Stub {
    val hits = mutable.Map[String, Int]().withDefaultValue(0)
    val routes = mutable.Map[String, (Int, String)]()
    val bodies = mutable.Map[String, mutable.ArrayBuffer[String]]()
    var lastAuth: Option[String] = None
    private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: HttpExchange) => {
      val key = ex.getRequestURI.getPath +
        Option(ex.getRequestURI.getQuery).map("?" + _).getOrElse("")
      hits(key) += 1
      lastAuth = Option(ex.getRequestHeaders.getFirst("Authorization"))
      val reqBody = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
      if (reqBody.nonEmpty)
        bodies.getOrElseUpdate(key, mutable.ArrayBuffer()) += reqBody
      val (status, body) = routes.getOrElse(key, (404, "not found"))
      val bytes = body.getBytes("UTF-8")
      if (bytes.isEmpty) ex.sendResponseHeaders(status, -1)
      else {
        ex.sendResponseHeaders(status, bytes.length)
        ex.getResponseBody.write(bytes)
      }
      ex.close()
    })
    server.start()
    val base: String = s"http://127.0.0.1:${server.getAddress.getPort}"
    def stop(): Unit = server.stop(0)
  }

  test("HttpPageFetcher: 200 is a page, non-200 and dead endpoints are None") {
    val stub = new Stub
    try {
      stub.routes("/games/") = (200, "<html>listing</html>")
      stub.routes("/games/7/") = (200, "<html>replay 7</html>")
      stub.routes("/games/7/data/") = (200, """{"id": 7}""")
      stub.routes("/games/8/") = (500, "boom")
      val f = new HttpPageFetcher(stub.base, timeoutMs = 2000)
      assert(f.listing().contains("<html>listing</html>"))
      assert(f.replayHtml(7).contains("<html>replay 7</html>"))
      assert(f.replayJson(7).contains("""{"id": 7}"""))
      assert(f.replayHtml(8).isEmpty)   // 500 → unavailable, not a crash
      assert(f.replayHtml(9).isEmpty)   // 404 → unavailable
      // a half-available replay must not half-ingest (fetchFn contract)
      assert(f.fetchFn(8).isEmpty)
      assert(f.fetchFn(7).contains(("<html>replay 7</html>", """{"id": 7}""")))
    } finally stub.stop()
    // dead endpoint (nothing listening) → None, not an exception
    val dead = new HttpPageFetcher("http://127.0.0.1:1", timeoutMs = 500)
    assert(dead.listing().isEmpty)
  }

  test("HttpPageFetcher survives serialization (transient client)") {
    val f = new HttpPageFetcher("http://127.0.0.1:1", timeoutMs = 500)
    val bos = new java.io.ByteArrayOutputStream()
    new java.io.ObjectOutputStream(bos).writeObject(f)
    val back = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bos.toByteArray))
      .readObject().asInstanceOf[HttpPageFetcher]
    assert(back.listing().isEmpty) // deserialized copy builds its own client
  }

  private def tokenRoute(stub: Stub, token: String): Unit =
    stub.routes("/oauth2/token") =
      (200, s"""{"access_token": "$token", "expires_in": 5000}""")

  test("HttpTwitchApi: auth once, live/offline probe, clips page (botrun.py:72-102)") {
    val stub = new Stub
    try {
      tokenRoute(stub, "tok1")
      stub.routes("/helix/streams?user_login=streamer") = (200,
        """{"data": [{"type": "live", "game_name": "Arma 3",
          |  "title": "Tactical Tuesday",
          |  "thumbnail_url": "https://t/{width}x{height}.jpg"}]}""".stripMargin)
      stub.routes("/helix/streams?user_login=sleeper") = (200, """{"data": []}""")
      stub.routes("/helix/users?login=streamer") = (200,
        """{"data": [{"id": "42"}]}""")
      stub.routes("/helix/clips?broadcaster_id=42&first=10" +
        "&started_at=2024-03-01T11:58:00Z") = (200,
        """{"data": [
          |  {"id": "c1", "url": "https://clips/c1", "creator_name": "ada",
          |   "title": "nice shot"},
          |  {"id": "c2", "url": "https://clips/c2", "creator_name": "bob",
          |   "title": "oops"}]}""".stripMargin)
      val api = new HttpTwitchApi("cid", "cs", stub.base, stub.base, 2000)
      val live = api.streamOnline("streamer")
      assert(live.contains(TwitchApi.StreamInfo("Arma 3", "Tactical Tuesday",
        "https://t/{width}x{height}.jpg")))
      assert(stub.lastAuth.contains("Bearer tok1"))
      assert(api.streamOnline("sleeper").isEmpty)   // offline → None
      assert(api.streamOnline("missing").isEmpty)   // 404 → None, no crash
      val clips = api.recentClips("streamer", "2024-03-01T11:58:00Z")
      assert(clips == Seq(
        TwitchApi.ClipInfo("c1", "https://clips/c1", "ada", "nice shot"),
        TwitchApi.ClipInfo("c2", "https://clips/c2", "bob", "oops")))
      // the token POST happened exactly once across all calls, and the
      // credentials traveled in the form body, NEVER the query string
      // (query strings are routinely logged; the body is not)
      assert(stub.hits("/oauth2/token") == 1)
      assert(stub.bodies("/oauth2/token").toSeq ==
        Seq("client_id=cid&client_secret=cs&grant_type=client_credentials"))
      assert(!stub.hits.keys.exists(k => k.contains("client_secret")))
    } finally stub.stop()
  }

  test("HttpTwitchApi refreshes the bearer once on 401 and retries") {
    val stub = new Stub
    try {
      tokenRoute(stub, "tok1")
      // first probe under tok1 → 401; the refresh re-POSTs the token
      // route (same stub route, now handing back the same token — the
      // point is the retry happens exactly once and then succeeds)
      stub.routes("/helix/streams?user_login=s") = (401, """{"error":"expired"}""")
      val api = new HttpTwitchApi("cid", "cs", stub.base, stub.base, 2000)
      assert(api.streamOnline("s").isEmpty) // 401 twice → gives up (one retry)
      assert(stub.hits("/helix/streams?user_login=s") == 2)
      stub.routes("/helix/streams?user_login=s") = (200,
        """{"data": [{"type": "live", "game_name": "g", "title": "t",
          |  "thumbnail_url": "u"}]}""".stripMargin)
      assert(api.streamOnline("s").nonEmpty)
    } finally stub.stop()
  }

  private class BufferSink extends AlertSink {
    val posted = mutable.ArrayBuffer[String]()
    val embeds = mutable.ArrayBuffer[Seq[graft.message.Renderer.Embed]]()
    def post(message: String): Unit = { posted += message; embeds += Nil }
    override def post(message: String,
        em: Seq[graft.message.Renderer.Embed]): Unit = {
      posted += message; embeds += em
    }
  }

  private lazy val loopState: BotState = {
    System.setProperty("derby.system.home",
      tempDir("derby-loop"))
    val st = new BotState(spark,
      "jdbc:derby:memory:graftloop;create=true",
      "org.apache.derby.jdbc.EmbeddedDriver")
    st.init()
    st
  }

  /** Canned API double for the loop table — the HTTP layer is proven
    * above; the loop's contract is over the TwitchApi seam. */
  private class CannedApi extends TwitchApi {
    var live: Option[TwitchApi.StreamInfo] = None
    var clips: Seq[TwitchApi.ClipInfo] = Seq.empty
    var lastStartedAt: Option[String] = None
    def streamOnline(channel: String): Option[TwitchApi.StreamInfo] = live
    def recentClips(channel: String, startedAtIso: String,
        first: Int): Seq[TwitchApi.ClipInfo] = {
      lastStartedAt = Some(startedAtIso); clips
    }
  }

  test("TwitchBotLoop: stream tick = online probe -> strict-8h gate -> exact render") {
    val api = new CannedApi
    val sink = new BufferSink
    var replayTicks = 0
    val loop = new TwitchBotLoop(spark, api, loopState, sink, "streamer",
      replayTick = () => { replayTicks += 1; false })
    val t0 = LocalDateTime.parse("2024-03-01T12:00:00")

    assert(!loop.streamTick(t0) && sink.posted.isEmpty) // offline → nothing
    api.live = Some(TwitchApi.StreamInfo("Arma 3", "Tactical Tuesday",
      "https://t/{width}x{height}.jpg"))
    assert(loop.streamTick(t0)) // fresh state (epoch seed) → alert
    // ONE send carrying content + the embed (botrun.py:269); the embed
    // holds the streamer title/url, the :red_circle: description, and
    // the {width}/{height}-resolved thumbnail (botrun.py:260)
    assert(sink.posted == Seq(
      "@here Стрим онлайн! <https://www.twitch.tv/streamer>"))
    assert(sink.embeds.head == Seq(graft.message.Renderer.Embed(
      "streamer", -1, Nil,
      description = ":red_circle: Запущен поток **Arma 3** \n Tactical Tuesday",
      url = "https://www.twitch.tv/streamer",
      imageUrl = "https://t/854x480.jpg")))
    // suppression: exactly 8h stays quiet (STRICT >), 8h+1s fires
    assert(!loop.streamTick(t0.plusHours(8)) && sink.posted.size == 1)
    assert(loop.streamTick(t0.plusHours(8).plusSeconds(1)))
    assert(sink.posted.size == 2)
    assert(replayTicks == 0) // ticks are independent
  }

  test("TwitchBotLoop: clips tick = 2-min lookback, last-10 window, insert order") {
    val api = new CannedApi
    val sink = new BufferSink
    val loop = new TwitchBotLoop(spark, api, loopState, sink, "streamer")
    val t = LocalDateTime.parse("2024-03-01T12:00:00")

    assert(loop.clipsTick(t) == 0) // no clips → nothing, no API order issue
    api.clips = Seq(
      TwitchApi.ClipInfo("id-a", "https://clips/a", "ada", "first"),
      TwitchApi.ClipInfo("id-b", "https://clips/b", "bob", "second"))
    assert(loop.clipsTick(t) == 2)
    // started_at = now − 2 min, RFC3339 (botrun.py:88-91)
    assert(api.lastStartedAt.contains("2024-03-01T11:58:00Z"))
    // alerts render the reference line, in API order
    assert(sink.posted.toSeq == Seq(
      "[ada](<http://www.twitch.tv/ada>) сделал новый [клип](https://clips/a) \"first\"",
      "[bob](<http://www.twitch.tv/bob>) сделал новый [клип](https://clips/b) \"second\""))
    // the batch landed in state in API order (identity column ascends)
    val stored = loopState.clipsTable().orderBy("id")
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    assert(stored.takeRight(2) ==
      Seq(("https://clips/a", "id-a"), ("https://clips/b", "id-b")))
    // a second tick with the same payload: both inside the last-10 → quiet
    assert(loop.clipsTick(t.plusMinutes(2)) == 0 && sink.posted.size == 2)
    // one seen + one new → only the new one alerts
    api.clips = Seq(
      TwitchApi.ClipInfo("id-a", "https://clips/a", "ada", "first"),
      TwitchApi.ClipInfo("id-c", "https://clips/c", "cyd", "third"))
    assert(loop.clipsTick(t.plusMinutes(4)) == 1)
    assert(sink.posted.last.contains("https://clips/c"))
  }

  test("HttpMessageSender: webhook POST drives the posted-flag drain end-to-end") {
    import graft.message.HttpMessageSender
    import graft.pipeline.ReplayPipeline
    import graft.store.TableStore
    val stub = new Stub
    try {
      val store = new TableStore(spark,
        tempDir("webhook"))
      val p = new ReplayPipeline(spark, store)
      p.ingest(500, SparkSpec.resource("replay.html"),
        SparkSpec.resource("replay-data.json"))
      p.createMessage(500)
      // the embeds carry quotes + Cyrillic out of the message document
      // — the JSON body must escape them (Jackson), never concatenate
      val textData = p.nextUnposted().get._2
      val hook = "/api/webhooks/w1/tok"
      val sender = new HttpMessageSender(stub.base + hook, timeoutMs = 2000)

      // 1. dead webhook (404): send throws, the posted flag NEVER
      // sets — the message stays in the backlog for the next tick
      // (retry-later, the deliver-or-throw contract)
      intercept[HttpMessageSender.DeliveryFailed] { p.deliverUnposted(sender) }
      assert(p.nextUnposted().nonEmpty)
      // create_text's UPDATE side effect landed BEFORE the failed send
      // (botrun.py:163-167 runs first) — the rendered text persists
      assert(store.read("messages").select("message").head().getString(0)
        .startsWith("Доступен новый реплей!"))

      // 2. webhook up (Discord answers 204 No Content): the drain
      // delivers, flags posted, and a re-drain sends nothing
      stub.routes(hook) = (204, "")
      assert(p.deliverUnposted(sender) == 1)
      assert(p.nextUnposted().isEmpty)
      assert(p.deliverUnposted(sender) == 0)
      assert(stub.hits(hook) == 2) // the failed try + the delivery
      // every attempt carried content + the FIVE embeds in ONE body
      // (botrun.py:307), byte-exact against the wire serializer
      val expectedBody = HttpMessageSender.payloadJson(
        graft.message.Renderer.replayEnvelope,
        graft.message.Renderer.createEmbeds(textData))
      assert(stub.bodies(hook).toSeq == Seq(expectedBody, expectedBody))
      // and the wire JSON independently decodes to the reference shape
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val body = mapper.readTree(stub.bodies(hook).head)
      assert(body.get("content").asText() ==
        ":incoming_envelope: Доступен новый реплей!")
      val embeds = body.get("embeds")
      assert(embeds.size() == 5)
      assert(embeds.get(0).get("title").asText() ==
        ":chart_with_downwards_trend: Общая статистика:")
      assert(embeds.get(0).get("color").asInt() == 2326507)
      assert(embeds.get(0).get("fields").get(0).get("name").asText() ==
        "Информация")
      assert(embeds.get(0).get("fields").get(0).get("inline").asBoolean())
      // the link embed is description-only: no title, 0x0099ff
      assert(!embeds.get(4).has("title") && !embeds.get(4).has("fields"))
      assert(embeds.get(4).get("color").asInt() == 0x0099ff)
      assert(embeds.get(4).get("description").asText()
        .startsWith("С полным реплеем"))

      // 3. the same transport is the bot loop's AlertSink seam
      sender.post("@here stream up")
      assert(mapper.readTree(stub.bodies(hook).last)
        .get("content").asText() == "@here stream up")
      // non-2xx through the AlertSink form also throws (the loop's
      // tick catch turns it into a skipped tick, never a crash)
      stub.routes(hook) = (500, "boom")
      intercept[HttpMessageSender.DeliveryFailed] { sender.post("x") }
    } finally stub.stop()
    // nothing listening → DeliveryFailed, not a hang or a silent "sent"
    val dead = new HttpMessageSender("http://127.0.0.1:1/hook", timeoutMs = 500)
    intercept[HttpMessageSender.DeliveryFailed] { dead.post("x") }
  }

  test("TwitchBotLoop over the live webhook: alert through a real HTTP hop; a failed send suppresses, never double-posts") {
    import graft.message.HttpMessageSender
    val stub = new Stub
    try {
      val hook = "/api/webhooks/loop/tok"
      stub.routes(hook) = (204, "")
      val api = new CannedApi
      api.live = Some(TwitchApi.StreamInfo("Arma 3", "Tactical Tuesday",
        "https://t/{width}x{height}.jpg"))
      // fresh state: the alert row is GLOBAL (reference single-channel
      // bot) and the suite's shared loopState has already alerted
      System.setProperty("derby.system.home",
        tempDir("derby-hook"))
      val st = new BotState(spark, "jdbc:derby:memory:grafthook;create=true",
        "org.apache.derby.jdbc.EmbeddedDriver")
      st.init()
      val loop = new TwitchBotLoop(spark, api, st,
        new HttpMessageSender(stub.base + hook, timeoutMs = 2000),
        "webhookstreamer")
      val t0 = LocalDateTime.parse("2024-03-01T12:00:00")
      assert(loop.streamTick(t0)) // fresh state (epoch seed) → alert fires
      // one POST: content + the embed object (botrun.py:266-269)
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val alertBody = mapper.readTree(stub.bodies(hook).head)
      assert(alertBody.get("content").asText() ===
        "@here Стрим онлайн! <https://www.twitch.tv/webhookstreamer>")
      val emb = alertBody.get("embeds").get(0)
      assert(alertBody.get("embeds").size() === 1)
      assert(emb.get("title").asText() === "webhookstreamer")
      assert(emb.get("url").asText() === "https://www.twitch.tv/webhookstreamer")
      assert(emb.get("description").asText() ===
        ":red_circle: Запущен поток **Arma 3** \n Tactical Tuesday")
      assert(emb.get("image").get("url").asText() === "https://t/854x480.jpg")
      assert(!emb.has("color")) // the reference passes no color here
      // webhook dies mid-alert: the state write lands BEFORE the send
      // (the reference's order — a crash between them SUPPRESSES
      // rather than double-posts), so the failed attempt throws AND
      // advances the gate; the scheduler's `safely` is what turns the
      // throw into a skipped tick
      stub.routes(hook) = (500, "boom")
      intercept[HttpMessageSender.DeliveryFailed] {
        loop.streamTick(t0.plusHours(9))
      }
      stub.routes(hook) = (204, "")
      // within 8h of the FAILED attempt: suppressed (no double-post)
      assert(!loop.streamTick(t0.plusHours(9).plusMinutes(1)))
      // past it: the healthy tick alerts again through the real hop
      assert(loop.streamTick(t0.plusHours(17).plusSeconds(1)))
      // three POSTs hit the wire (the 500'd attempt still sent its
      // body); exactly two were deliveries
      assert(stub.bodies(hook).size === 3 && stub.hits(hook) === 3)
    } finally stub.stop()
  }

  test("TwitchBotLoop: replay tick delegates one-per-tick and failures skip, not kill") {
    val api = new CannedApi
    val sink = new BufferSink
    var sent = List("m1", "m2")
    val loop = new TwitchBotLoop(spark, api, loopState, sink, "streamer",
      replayTick = () => sent match {
        case h :: t => sink.post(h); sent = t; true
        case Nil => false
      })
    // LIMIT-1 cadence: one message per tick until drained
    val ex = loop.start(streamPeriodS = 3600, clipsPeriodS = 3600,
      replayPeriodS = 3600) // fire each once (initial delay 0)
    try {
      val deadline = System.nanoTime() + 5e9.toLong
      while (sink.posted.size < 1 && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(sink.posted.headOption.contains("m1")) // exactly the first tick's one
    } finally ex.shutdownNow()
  }
}
