package graft.store

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Physical-layout utilities for the 100 TB deployment: bucketing for
  * shuffle-free co-located joins and salting for skewed keys. (SURVEY
  * §4: the reference delegates all physical planning to Postgres; on
  * Spark, layout is ours to choose.)
  */
object Layout {

  /** Persist a table bucketed+sorted on its join key. Two tables
    * bucketed the same way join with ZERO exchange — at fact-table
    * scale this removes the dominant shuffle from every equi-join on
    * the key. */
  def writeBucketed(
      df: DataFrame,
      table: String,
      key: String,
      numBuckets: Int): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)

  /** Range-clustered write: globally range-partition on `cols` and sort
    * within each output file, so every file covers a DISJOINT key range
    * and its parquet row-group min/max stats make range predicates skip
    * whole files at planning time — the poor man's Z-order, and the
    * right single-dimension layout for time/length-windowed scans over
    * a 100 TB table (a filter on the cluster key then reads 1/files of
    * the data instead of all of it). Disjointness is spec-asserted by
    * reading the files back individually. */
  def writeRangeClustered(
      df: DataFrame,
      dir: String,
      cols: Seq[String],
      numFiles: Int): Unit =
    df.repartitionByRange(numFiles, cols.map(col): _*)
      .sortWithinPartitions(cols.map(col): _*)
      .write.mode(SaveMode.Overwrite).parquet(dir)

  /** Z-order curve value: the low `bits` bits of `a` and `b`
    * bit-interleaved (a on even positions) — the 2-D clustering key
    * behind OPTIMIZE ZORDER. Sorting by z keeps rows close in BOTH
    * dimensions physically together, so parquet min/max stats prune
    * files for predicates on EITHER column — the multi-dimension
    * upgrade of [[writeRangeClustered]]'s single-key layout. Pure
    * integer bit arithmetic (exact in any engine); inputs must be
    * non-negative. */
  def zValue(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column,
      bits: Int = 16): org.apache.spark.sql.Column =
    (0 until bits).map { i =>
      shiftright(a, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i)) +
        shiftright(b, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1))
    }.reduce(_ + _)

  /** Z-order-clustered write: range-partition + sort on the
    * interleaved key. Every output file covers a compact rectangle of
    * (a, b) space, so row-group stats skip files for 2-D predicates. */
  def writeZOrdered(
      df: DataFrame,
      dir: String,
      a: String,
      b: String,
      numFiles: Int,
      bits: Int = 16): Unit =
    df.withColumn("graft_z", zValue(col(a), col(b), bits))
      .repartitionByRange(numFiles, col("graft_z"))
      .sortWithinPartitions(col("graft_z"))
      .drop("graft_z")
      .write.mode(SaveMode.Overwrite).parquet(dir)

  /** Small-file compaction: rewrite every leaf partition directory that
    * holds more parquet files than its data needs, targeting
    * `targetBytes` per file. The operational hygiene step every
    * long-lived ingest table needs — a streaming sink writing a file
    * per micro-batch per partition turns a year of ingest into millions
    * of kilobyte files, and at 100 TB the NameNode/listing cost and
    * per-file open overhead dominate scans long before the data does.
    *
    * Each leaf directory is compacted independently (partition values
    * live in the directory name, so rewriting files in place preserves
    * the table's partitioning) through a [[Swap]], after a
    * [[Swap.recover]] of the whole tree: a crash leaves the original
    * files either live or under their aside, never lost, and every
    * consumer of a compacted dir must run [[Swap.recover]] before
    * reading (a reader that merely skips dot-prefixed dirs would see
    * the table as absent). Returns (filesBefore, filesAfter) over the
    * dirs it rewrote; running it again is a no-op.
    *
    * `sortCols`: pass the cluster key of a [[writeRangeClustered]] /
    * [[writeZOrdered]] table and the rewrite range-partitions + sorts
    * on it, so compaction PRESERVES the disjoint per-file key ranges
    * the layout exists for — the default hash repartition would
    * scramble rows across files and silently destroy the row-group
    * min/max pruning every later scan depends on. */
  def compact(
      spark: SparkSession,
      dir: String,
      targetBytes: Long = 128L << 20,
      sortCols: Seq[String] = Nil): (Int, Int) = {
    import org.apache.hadoop.fs.Path
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Swap.recover(fs, root)
    def leafDirs(p: Path): Seq[Path] = {
      val st = fs.listStatus(p).filterNot { s =>
        // "_" (Spark markers) and "." (staging/aside dirs) are
        // invisible to Spark's partition discovery — and must be
        // invisible to a compaction re-run too, or a crash-interrupted
        // swap would get its leftovers compacted as fake partitions
        s.getPath.getName.startsWith("_") || s.getPath.getName.startsWith(".")
      }
      val subdirs = st.filter(_.isDirectory)
      if (subdirs.isEmpty) Seq(p)
      else subdirs.toSeq.flatMap(d => leafDirs(d.getPath))
    }
    var (before, after) = (0, 0)
    leafDirs(root).foreach { leaf =>
      val parts = fs.listStatus(leaf)
        .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
      val want = math.max(1,
        math.ceil(parts.map(_.getLen).sum.toDouble / targetBytes).toInt)
      if (parts.length > want) {
        before += parts.length; after += want
        Swap.replace(fs, leaf) { staged =>
          val data = spark.read.parquet(leaf.toString)
          val arranged =
            if (sortCols.isEmpty) data.repartition(want)
            else data.repartitionByRange(want, sortCols.map(col): _*)
              .sortWithinPartitions(sortCols.map(col): _*)
          arranged.write.parquet(staged.toString)
        }
      }
    }
    (before, after)
  }

  /** Equi-join with key salting: the big side gets a deterministic salt
    * in [0, salts), the small side is replicated per salt value, and the
    * join key becomes (key, salt) — one hot key now lands on `salts`
    * reducers instead of one. AQE's skew-join split handles moderate
    * skew automatically; explicit salting is for the pathological keys
    * AQE cannot split (single-key hot partitions in non-sort-merge
    * paths). */
  def saltedEquiJoin(
      big: DataFrame,
      small: DataFrame,
      key: String,
      salts: Int,
      joinType: String = "inner"): DataFrame = {
    // right/full outer would emit the small side's unmatched copies once
    // per salt — silently wrong, so refuse them
    require(Set("inner", "left", "left_outer", "leftouter", "left_semi",
      "leftsemi", "left_anti", "leftanti").contains(joinType.toLowerCase),
      s"saltedEquiJoin does not support joinType=$joinType: the replicated " +
        "small side would duplicate its unmatched rows")
    val saltedBig = big.withColumn(
      "graft_salt", pmod(monotonically_increasing_id(), lit(salts.toLong)).cast("int"))
    val saltedSmall = small.withColumn(
      "graft_salt", explode(sequence(lit(0), lit(salts - 1))))
    saltedBig
      .join(saltedSmall, Seq(key, "graft_salt"), joinType)
      .drop("graft_salt")
  }
}
