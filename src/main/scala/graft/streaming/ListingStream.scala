package graft.streaming

import graft.message.MessageSender
import graft.pipeline.ReplayPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The full ST1 chain as ONE streaming query: listing-page poll →
  * discover (watermark) → fetch replay page → ingest 5 tables →
  * build message → deliver → flag posted.
  *
  * Each file dropped into `listingDir` is one poll result (a listing
  * HTML snapshot) — the file-drop stand-in for the reference's
  * 5-minute Airflow HTTP poll (ST1; offline-dev pattern
  * functions.py:131-135). The checkpoint makes the poll exactly-once
  * across restarts: a re-run with the same checkpoint skips snapshots
  * it already processed.
  *
  * `fetch` is the transport seam (replay id → (html, json) page
  * bodies), `sender` the K7 Discord seam ([[graft.message.MessageSender]],
  * fed by [[ReplayPipeline.deliverNext]]: rendered text, envelope and
  * embeds, then the posted flag); both are injected so tests run on
  * fixtures and a deployment plugs its HTTP/Discord clients in without
  * touching the streaming topology.
  */
object ListingStream {

  def start(
      spark: SparkSession,
      store: graft.store.TableStore,
      listingDir: String,
      checkpointDir: String,
      fetch: Int => Option[(String, String)],
      sender: MessageSender,
      trigger: Trigger = Trigger.ProcessingTime("5 minutes")): StreamingQuery =
    attach(spark, store,
      spark.readStream.option("wholetext", "true").text(listingDir)
        .select(col("value").as("body")),
      checkpointDir, fetch, sender, trigger)

  /** Same chain fed by the [[graft.sources.PollSource]] micro-batch
    * source instead of a file drop: each trigger polls the registered
    * `pollerName` for one listing page — the reference's cron-tick HTTP
    * GET as a first-class streaming source with offset tracking. */
  def startPolled(
      spark: SparkSession,
      store: graft.store.TableStore,
      pollerName: String,
      checkpointDir: String,
      fetch: Int => Option[(String, String)],
      sender: MessageSender,
      trigger: Trigger = Trigger.ProcessingTime("5 minutes")): StreamingQuery =
    attach(spark, store,
      spark.readStream.format("replay-poll").option("poller", pollerName).load()
        .select(col("body")),
      checkpointDir, fetch, sender, trigger)

  private def attach(
      spark: SparkSession,
      store: graft.store.TableStore,
      snapshotsDf: DataFrame,
      checkpointDir: String,
      fetch: Int => Option[(String, String)],
      sender: MessageSender,
      trigger: Trigger): StreamingQuery = {
    val pipeline = new ReplayPipeline(spark, store)
    snapshotsDf
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // a micro-batch is a handful of single-page snapshots at the
        // reference's cadence; drive them from the driver like the
        // reference's DAG loop (the analytics inside stay distributed)
        import spark.implicits._
        val snapshots = batch.select(col("body")).as[String].collect()
        snapshots.foreach { html =>
          val listing = Seq(html).toDF("html")
          // drain: discover returns ONE id above the posted watermark
          // (reference processes one replay per DAG run); delivering
          // advances the watermark, so loop until caught up. Each step
          // must tolerate a crash-recovery replay of the batch: the
          // replay may already be ingested (is_exists skip), and may
          // even have its message built — resume from whichever stage
          // is missing, and stop only when no delivery happened (no
          // progress possible).
          var continue = true
          while (continue) {
            continue = pipeline.discover(listing).exists { replay =>
              fetch(replay).exists { case (page, json) =>
                pipeline.ingestAndMessage(replay, page, json)
                // drain on only while a message went out: e.g. an
                // invalid page must end the drain, not spin
                pipeline.deliverNext(sender)
              }
            }
          }
        }
        ()
      }
      .start()
  }
}
