package graft.streaming

import graft.operators.EventOps
import graft.store.Swap
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuously apply an I/U/D changelog stream to a keyed parquet
  * snapshot — the streaming twin of [[EventOps.cdcApply]] (q90).
  *
  * Each micro-batch unions the current snapshot (whose rows carry the
  * `ts`/`event_id` that last won) with the batch and re-runs the
  * last-op-wins merge, so a key's winner can only be replaced by a
  * LATER log entry and a trailing D removes it. foreachBatch delivery
  * is at-least-once; the merge is idempotent under batch replay (the
  * checkpoint replays at most the last batch, and re-applying it picks
  * the same winners), the same contract StreamingIncrementalDedup
  * documents.
  *
  * Scale shape: the merge shuffles on the key column only; at lake
  * scale the whole-snapshot swap becomes a partition-scoped one
  * (TableStore.upsertPartitioned's pattern). The new snapshot replaces
  * the old through [[graft.store.Swap]], and each batch first restores
  * a snapshot a crash left under its aside — a destructive in-place
  * overwrite would lose the whole snapshot if the process died
  * mid-write (the checkpoint replays only the LAST batch; earlier state
  * exists nowhere else).
  */
object StreamingCdc {

  def run(
      changelog: DataFrame, // keyCol, ts, event_id, opCol, payload…
      snapshotDir: String,
      keyCol: String,
      opCol: String,
      checkpointDir: String): StreamingQuery =
    changelog.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        val spark = batch.sparkSession
        val live = new Path(snapshotDir)
        // hadoop FS, not java.io.File: the snapshot may live on any
        // filesystem (java.io.File is always "absent" for hdfs:// …,
        // which would silently reset the snapshot every batch)
        val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
        Swap.recover(fs, live)
        val cur =
          if (fs.exists(live)) spark.read.parquet(snapshotDir)
          else spark.createDataFrame(
            new java.util.ArrayList[Row](), batch.schema)
        val merged = EventOps
          .cdcApply(cur.unionByName(batch.toDF()), keyCol, opCol)
          .localCheckpoint() // materialize before touching the target dir
        Swap.replace(fs, live)(staged =>
          merged.write.mode("overwrite").parquet(staged.toString))
        ()
      }
      .start()
}
