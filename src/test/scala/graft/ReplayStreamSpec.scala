package graft

import graft.store.TableStore
import graft.streaming.{ListingStream, ReplayStream}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

/** Streaming wrapper: file-dropped replay docs drive the pipeline with
  * exactly-once table loads across micro-batches and duplicates.
  */
class ReplayStreamSpec extends SparkSpec {

  private def writeDoc(dir: String, name: String, replay: Int): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val obj = mapper.createObjectNode()
    obj.put("replay_number", replay)
    obj.put("html", SparkSpec.resource("replay.html"))
    obj.put("json", SparkSpec.resource("replay-data.json"))
    Files.write(Paths.get(dir, name),
      mapper.writeValueAsString(obj).getBytes("UTF-8"))
  }

  test("stream ingests new replays once, dedups replays across batches") {
    val in = tempDir("stream-in")
    val ckpt = tempDir("stream-ckpt")
    val root = tempDir("stream-store")
    val store = new TableStore(spark, root)

    writeDoc(in, "a.json", 600)
    val q = ReplayStream.start(spark, store, in, ckpt, Trigger.AvailableNow())
    q.awaitTermination()
    assert(store.read("replay_main").count() == 1)
    assert(store.read("messages").count() == 1)

    // second batch: one duplicate + one new replay
    writeDoc(in, "b.json", 600)
    writeDoc(in, "c.json", 601)
    val q2 = ReplayStream.start(spark, store, in, ckpt, Trigger.AvailableNow())
    q2.awaitTermination()
    assert(store.read("replay_main").count() == 2)
    assert(store.read("messages").count() == 2)
    assert(store.read("frags").count() == 6)
  }

  test("stream messages a replay a crashed run ingested but never messaged") {
    val in = tempDir("stream-resume-in")
    val ckpt = tempDir("stream-resume-ckpt")
    val root = tempDir("stream-resume-store")
    val store = new TableStore(spark, root)
    // crash AFTER ingest committed the 5 tables, BEFORE createMessage
    val pipeline = new graft.pipeline.ReplayPipeline(spark, store)
    assert(pipeline.ingest(600, SparkSpec.resource("replay.html"),
      SparkSpec.resource("replay-data.json")))
    assert(store.read("messages").isEmpty)

    writeDoc(in, "a.json", 600)
    ReplayStream.start(spark, store, in, ckpt, Trigger.AvailableNow())
      .awaitTermination()
    assert(store.read("messages").count() == 1)
    assert(store.read("replay_main").count() == 1) // no double ingest
  }

  test("ST1 end-to-end: listing polls drive discover→ingest→message→deliver in one query with checkpoint restart") {
    val in = tempDir("listing-in")
    val ckpt = tempDir("listing-ckpt")
    val root = tempDir("listing-store")
    val store = new TableStore(spark, root)
    val pages = Map(
      501 -> (SparkSpec.resource("replay.html"), SparkSpec.resource("replay-data.json")),
      502 -> (SparkSpec.resource("replay.html"), SparkSpec.resource("replay-data.json")))
    val sender = new RecordingSender
    def delivered: Seq[Int] = sender.replays
    def run(): Unit =
      ListingStream.start(spark, store, in, ckpt,
        fetch = pages.get,
        sender = sender,
        trigger = Trigger.AvailableNow()).awaitTermination()

    val listing = SparkSpec.resource("listing.html")
    Files.write(Paths.get(in, "poll1.html"), listing.getBytes("UTF-8"))
    run()
    // cold-start watermark = 2nd filtered listing entry (500) → replay
    // 501 is discovered, loaded, messaged, delivered, flagged posted
    assert(store.read("replay_main").count() == 1)
    assert(delivered == Seq(501))
    assert(store.read("messages").filter(col("posted") <=> true).count() == 1)
    // the chain delivers through the bot's send sequence: one wire
    // payload with the envelope content and 5 embeds (botrun.py:307),
    // and the rendered text is stored first (create_text, :306)
    val wire = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(sender.payloads.head)
    assert(wire.get("content").asText() ==
      ":incoming_envelope: Доступен новый реплей!")
    assert(wire.get("embeds").size() == 5)
    assert(store.read("messages")
      .filter(col("replay_number") === 501 && col("message").isNotNull).count() == 1)

    // restart on the same checkpoint: processed polls are skipped
    run()
    assert(store.read("replay_main").count() == 1 && delivered.size == 1)

    // next poll: replay 502's slots fill past 99 players → it clears the
    // filter, sits above the posted watermark (501), and flows through
    Files.write(Paths.get(in, "poll2.html"),
      listing.replace("55 / 120", "120 / 120").getBytes("UTF-8"))
    run()
    assert(store.read("replay_main").count() == 2)
    assert(delivered == Seq(501, 502))
    assert(store.read("messages").filter(col("posted") <=> true).count() == 2)
  }

  test("MessageSender seam: file-backed transport, posted-flag idempotence under replay") {
    val in = tempDir("sender-in")
    val ckpt = tempDir("sender-ckpt")
    val root = tempDir("sender-store")
    val store = new TableStore(spark, root)
    val outFile = tempDir("sender-out") + "/sent.log"
    val sender = new graft.message.FileMessageSender(outFile)

    // discover→ingest→message→deliver in one streaming run
    writeDoc(in, "a.json", 700)
    ReplayStream.start(spark, store, in, ckpt, Trigger.AvailableNow(),
      sender = Some(sender)).awaitTermination()
    val sent1 = Files.readAllLines(Paths.get(outFile))
    assert(sent1.size == 1 && sent1.get(0).startsWith("700\t"),
      s"expected one delivery for replay 700, got $sent1")
    // the double records the WIRE payload: envelope content + 5 embeds
    // in one JSON body (botrun.py:307)
    val wire = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(sent1.get(0).split("\t", 2)(1))
    assert(wire.get("content").asText() ==
      ":incoming_envelope: Доступен новый реплей!")
    assert(wire.get("embeds").size() == 5)
    assert(store.read("messages").filter(col("posted") <=> true).count() == 1)

    // crash-replay of the delivered state: a fresh drain sends NOTHING —
    // the posted flag, not transport memory, is the idempotence guard
    val pipeline = new graft.pipeline.ReplayPipeline(spark, store)
    assert(pipeline.deliverUnposted(sender) == 0)
    assert(Files.readAllLines(Paths.get(outFile)).size == 1)

    // a duplicate drop plus a new replay: only the new one is delivered
    writeDoc(in, "b.json", 700)
    writeDoc(in, "c.json", 701)
    ReplayStream.start(spark, store, in, ckpt, Trigger.AvailableNow(),
      sender = Some(sender)).awaitTermination()
    val sent2 = Files.readAllLines(Paths.get(outFile))
    assert(sent2.size == 2 && sent2.get(1).startsWith("701\t"), s"got $sent2")
    assert(store.read("messages").filter(col("posted") <=> true).count() == 2)

    // crash between build and send (message exists, never delivered):
    // a build-only run leaves 702 unposted; the next drain picks it up
    // — at-least-once, nothing lost
    val in2 = tempDir("sender-in2")
    val ckpt2 = tempDir("sender-ckpt2")
    writeDoc(in2, "d.json", 702)
    ReplayStream.start(spark, store, in2, ckpt2, Trigger.AvailableNow(),
      sender = None).awaitTermination() // build-only: 702 accumulates unposted
    assert(pipeline.deliverUnposted(sender) == 1)
    assert(Files.readAllLines(Paths.get(outFile)).size == 3)
    assert(store.read("messages").filter(!(col("posted") <=> true)).count() == 0)
  }

  test("drain resumes a replay half-processed by a crashed run") {
    val in = tempDir("resume-in")
    val ckpt = tempDir("resume-ckpt")
    val root = tempDir("resume-store")
    val store = new TableStore(spark, root)
    val html = SparkSpec.resource("replay.html")
    val json = SparkSpec.resource("replay-data.json")
    // simulate a crash AFTER ingest committed the 5 tables but BEFORE
    // the message was built or delivered
    val pipeline = new graft.pipeline.ReplayPipeline(spark, store)
    assert(pipeline.ingest(501, html, json))
    assert(store.read("messages").isEmpty)

    val sender = new RecordingSender
    Files.write(Paths.get(in, "poll.html"),
      SparkSpec.resource("listing.html").getBytes("UTF-8"))
    graft.streaming.ListingStream.start(spark, store, in, ckpt,
      fetch = r => if (r == 501) Some((html, json)) else None,
      sender = sender,
      trigger = Trigger.AvailableNow()).awaitTermination()

    // the already-ingested replay is messaged, delivered, and flagged —
    // not skipped forever by the is_exists short-circuit
    assert(sender.replays == Seq(501))
    assert(store.read("messages").filter(col("posted") <=> true).count() == 1)
    assert(store.read("replay_main").count() == 1) // no double ingest
  }
}
