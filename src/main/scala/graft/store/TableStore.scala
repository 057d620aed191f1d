package graft.store

import graft.domain.Schemas
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Parquet-backed table store for the replay schema.
  *
  * Maps the reference's PostgreSQL storage (create_tables.sql) onto
  * columnar parquet:
  *  - K1/K2 INSERTs → plain appends (fact tables partitioned by
  *    `replay_number`, so P2's `WHERE replay_number = n` becomes
  *    partition pruning — at 100 TB the per-replay analytics read one
  *    partition, not the table);
  *  - K3 `ON CONFLICT DO UPDATE` upsert → last-write-wins merge with a
  *    snapshot swap (plain parquet cannot overwrite a path it reads;
  *    Delta MERGE would replace this on a lake deployment);
  *  - K5 `UPDATE messages SET posted` → read-modify-swap of the small
  *    messages table.
  *
  * Every swap is a [[Swap]]: opening the store, [[read]], [[exists]]
  * and each swap first restore what a crash mid-swap left under an
  * aside, so a crash never turns into a silently empty table.
  */
class TableStore(spark: SparkSession, root: String) {

  private val partitioned = Map(
    "vehicles" -> Seq("replay_number"),
    "players" -> Seq("replay_number"),
    "frags" -> Seq("replay_number"))

  private val schemas: Map[String, StructType] = Map(
    "replay_main" -> Schemas.replayMain,
    "vehicles" -> Schemas.vehicles,
    "players" -> Schemas.players,
    "d_players" -> Schemas.dPlayers,
    "frags" -> Schemas.frags,
    "messages" -> Schemas.messages)

  def path(table: String): String = s"$root/$table"

  private def fs = new Path(root)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  Swap.recover(fs, new Path(root))

  def exists(table: String): Boolean = Swap.restore(fs, new Path(path(table)))

  /** Read a table; empty-with-schema when nothing has been written yet. */
  def read(table: String): DataFrame =
    if (exists(table)) {
      val df = spark.read.schema(schemas(table)).parquet(path(table))
      // partition columns come back last; restore declared column order
      df.select(schemas(table).fieldNames.map(col).toIndexedSeq: _*)
    } else
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schemas(table))

  /** K1/K2: append rows (column order normalized to the declared schema). */
  def append(table: String, df: DataFrame): Unit = {
    val w = df
      .select(schemas(table).fieldNames.map(col).toIndexedSeq: _*)
      .write
      .mode(SaveMode.Append)
    partitioned.get(table).fold(w)(p => w.partitionBy(p: _*))
      .parquet(path(table))
  }

  /** Snapshot replace through [[Swap]]: Spark cannot overwrite a
    * parquet path that feeds the same plan (the reference's in-place
    * UPDATE has no parquet analog). */
  private def replace(table: String, df: DataFrame): Unit =
    Swap.replace(fs, new Path(path(table)))(staged =>
      df.select(schemas(table).fieldNames.map(col).toIndexedSeq: _*)
        .write.mode(SaveMode.Overwrite).parquet(staged.toString))

  /** K3: d_players upsert — `INSERT … ON CONFLICT (id_from_json) DO
    * UPDATE SET nickname = EXCLUDED.nickname` (main.py:146-151):
    * incoming rows win over stored ones, last incoming wins within the
    * batch. */
  def upsertDPlayers(updates: DataFrame): Unit = {
    // Within-batch duplicates: the LAST occurrence wins, like the
    // reference's sequential executemany — so the batch position must be
    // an explicit column (DataFrames have no inherent row order).
    val incoming = updates
      .select(col("id_from_json"), col("nickname"))
      .withColumn("graft_seq", monotonically_increasing_id())
    val current = read("d_players").withColumn("graft_seq", lit(-1L))
    val w = Window.partitionBy(col("id_from_json")).orderBy(col("graft_seq").desc)
    val merged = current
      .unionByName(incoming)
      .withColumn("graft_rn", row_number().over(w))
      .filter(col("graft_rn") === 1)
      .drop("graft_seq", "graft_rn")
    replace("d_players", merged)
  }

  /** K5 (text variant): `UPDATE messages SET message = … WHERE
    * replay_number = n` — the bot persists the rendered text before
    * posting (bot/botrun.py:163-167). */
  def setMessageText(replay: Int, text: String): Unit =
    replace("messages", read("messages")
      .withColumn("message",
        when(col("replay_number") === replay, lit(text)).otherwise(col("message"))))

  /** K5: `UPDATE messages SET posted = TRUE WHERE replay_number = n`
    * (bot/botrun.py:308-309). */
  def markPosted(replay: Int): Unit =
    replace("messages", read("messages")
      .withColumn("posted",
        when(col("replay_number") === replay, lit(true)).otherwise(col("posted"))))

  /** K3 at fact-table scale: last-write-wins upsert into a PARTITIONED
    * table that rewrites ONLY the partitions the update batch touches.
    *
    * The snapshot-swap upserts above ([[upsertDPlayers]], [[markPosted]])
    * rewrite the whole table — right for dimension-sized tables, wrong
    * for a 100-TB fact table where a batch touches a handful of
    * partitions. This is the parquet-native shape of a lakehouse
    * `MERGE INTO` (Delta/Iceberg would replace it on a lake deployment;
    * neither is available offline): merge the incoming rows against the
    * CURRENT rows of the affected partitions only (partition-pruned
    * scan), write the merged partitions to a side dir, and swap just
    * those partition directories. Untouched partitions are never read,
    * rewritten, or moved.
    *
    * CONSTRAINT (the standard partition-scoped MERGE contract):
    * `keyCols` must functionally determine the partition column. Rows
    * are deduplicated per (key, partition), so an update that moves a
    * key to a DIFFERENT partition value only rewrites the new
    * partition — the old row with the same key would survive in the
    * untouched old partition. The within-batch form of that violation
    * (one key under two partition values in `updates`) is asserted
    * here; the batch-vs-stored form is the caller's contract, as it is
    * for Hive static-partition overwrite and partition-pruned MERGE. */
  def upsertPartitioned(table: String, updates: DataFrame, keyCols: Seq[String]): Unit = {
    val partCols = partitioned.getOrElse(table,
      throw new IllegalArgumentException(s"$table is not partitioned"))
    require(partCols.size == 1, s"single partition column expected: $partCols")
    val partCol = partCols.head
    val live = new Path(path(table))
    // partition asides are invisible to read(): restore them first
    Swap.recover(fs, live)
    val incoming = updates
      .select(schemas(table).fieldNames.map(col).toIndexedSeq: _*)
      // within-batch duplicates: LAST wins, like the reference's
      // sequential executemany (same contract as upsertDPlayers)
      .withColumn("graft_seq", monotonically_increasing_id())
    // countDistinct ignores NULLs, but the null partition is a real
    // partition (__HIVE_DEFAULT_PARTITION__) — count it explicitly or a
    // key split between the null and a non-null partition slips through
    val splitKeys = incoming
      .groupBy(keyCols.map(col): _*)
      .agg((countDistinct(col(partCol)) +
        max(when(col(partCol).isNull, 1).otherwise(0))).as("graft_nparts"))
      .filter(col("graft_nparts") > 1)
    require(splitKeys.isEmpty,
      s"upsertPartitioned($table): update batch maps one ${keyCols.mkString("(", ",", ")")} " +
        s"key to multiple $partCol values — keys must determine the partition column")
    val touched = incoming.select(col(partCol)).distinct()
      .collect().map(_.get(0)).toSeq
    if (touched.isEmpty) return
    val (touchedVals, touchedNull) = (touched.filter(_ != null), touched.contains(null))
    // partition-pruned scan; isin(null) is never true, so a null
    // partition needs its own disjunct
    val prunePred =
      if (touchedVals.isEmpty) col(partCol).isNull
      else if (touchedNull) col(partCol).isin(touchedVals: _*) || col(partCol).isNull
      else col(partCol).isin(touchedVals: _*)
    val current = read(table)
      .filter(prunePred)
      .withColumn("graft_seq", lit(-1L))
    val w = Window.partitionBy((keyCols :+ partCol).map(col): _*)
      .orderBy(col("graft_seq").desc)
    val merged = current.unionByName(incoming)
      .withColumn("graft_rn", row_number().over(w))
      .filter(col("graft_rn") === 1)
      .drop("graft_seq", "graft_rn")
      .select(schemas(table).fieldNames.map(col).toIndexedSeq: _*)

    val staged = Swap.staging(live)
    fs.delete(staged, true)
    merged.write.partitionBy(partCol).parquet(staged.toString)
    fs.mkdirs(live)
    // install the partition dirs Spark actually STAGED (their names
    // carry Spark's own encoding — __HIVE_DEFAULT_PARTITION__ for null,
    // URL-escaping for strings — which a hand-built s"$col=$v" would
    // mismatch, silently dropping rows). LWW can't empty a partition,
    // so staged dirs == touched partitions exactly. Each partition swap
    // is atomic; the set of them is not (see [[Swap]]).
    fs.listStatus(staged)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(s"$partCol="))
      .foreach(st => Swap.install(fs, st.getPath, new Path(live, st.getPath.getName)))
    fs.delete(staged, true)
  }

  /** P7: existence probe — distributed form of main.py:47-54. */
  def replayExists(replay: Int): Boolean =
    exists("replay_main") &&
      !read("replay_main").filter(col("replay_number") === replay).isEmpty
}
