package graft

import graft.store.{Layout, Swap}
import org.apache.spark.sql.functions._

/** Bucketed joins plan without exchanges; salted joins return exactly
  * the unsalted result.
  */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("same-bucketing join has no shuffle exchange") {
    val facts = (1L to 1000L).map(i => (i % 50, s"f$i")).toDF("k", "fv")
    val dim = (0L until 50L).map(i => (i, s"d$i")).toDF("k", "dv")
    Layout.writeBucketed(facts, "graft_bucketed_facts", "k", 8)
    Layout.writeBucketed(dim, "graft_bucketed_dim", "k", 8)
    // disable auto-broadcast so the sort-merge path is what's planned —
    // that's the path bucketing de-shuffles
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("graft_bucketed_facts")
        .join(spark.table("graft_bucketed_dim"), Seq("k"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan)
      assert(plan.contains("SortMergeJoin"), plan)
      assert(joined.count() == 1000)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("salted join equals plain join on skewed data") {
    // one hot key carrying 90% of rows
    val big = ((1 to 900).map(_ => 7L) ++ (1 to 100).map(_.toLong))
      .zipWithIndex.map { case (k, i) => (k, i) }.toDF("k", "v")
    val small = (1L to 100L).map(i => (i, s"s$i")).toDF("k", "s")
    val plain = big.join(small, Seq("k")).select("k", "v", "s")
    val salted = Layout.saltedEquiJoin(big, small, "k", salts = 8)
      .select("k", "v", "s")
    assert(rowSet(salted) == rowSet(plain))
    assert(salted.count() == plain.count())
  }

  test("compact merges small files per partition dir, preserving data") {
    val dir = tempDir("compact") + "/t"
    val df = (1 to 400).map(i => (i.toLong, s"v$i", s"p${i % 3}"))
      .toDF("id", "v", "p")
    df.repartition(8).write.partitionBy("p").parquet(dir)
    def partFiles = {
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      Seq("p=p0", "p=p1", "p=p2").map { d =>
        fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/$d"))
          .count(st => st.isFile && st.getPath.getName.startsWith("part-"))
      }
    }
    assert(partFiles.forall(_ > 1))
    val (b, a) = Layout.compact(spark, dir)
    assert(b > a && partFiles.forall(_ == 1))
    assert(rowSet(spark.read.parquet(dir)
      .select(col("id"), col("v"), col("p").cast("string"))) ==
      rowSet(df))
    // idempotent: a second pass rewrites nothing
    assert(Layout.compact(spark, dir) == (0, 0))
    // crash-leftover staging dirs are dot-prefixed: readers and re-runs
    // must both ignore them rather than treat them as partitions
    val rows = spark.read.parquet(dir).count()
    (1 to 5).map(i => (i.toLong, s"junk$i", "px")).toDF("id", "v", "p")
      .write.parquet(s"$dir/.p=px.staged")
    assert(spark.read.parquet(dir).count() == rows)
    assert(Layout.compact(spark, dir) == (0, 0))
  }

  test("Swap.recover restores dirs stranded mid-swap (leaf and root)") {
    import org.apache.hadoop.fs.Path
    val base = tempDir("recover")
    val dir = base + "/t"
    val df = (1 to 300).map(i => (i.toLong, s"v$i", s"p${i % 3}")).toDF("id", "v", "p")
    df.repartition(4).write.partitionBy("p").parquet(dir)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val all = rowSet(spark.read.parquet(dir)
      .select(col("id"), col("v"), col("p").cast("string")))
    // crash between move-aside and move-into-place on one partition
    // leaf: live dir gone, originals under .old, stale staging present
    assert(fs.rename(new Path(s"$dir/p=p1"), new Path(s"$dir/.p=p1.old")))
    (1 to 5).map(i => (i.toLong, "junk")).toDF("id", "v")
      .write.parquet(s"$dir/.p=p1.staged")
    assert(spark.read.parquet(dir).count() < 300) // p1 invisible
    assert(Swap.recover(fs, new Path(dir)) == 1)
    assert(rowSet(spark.read.parquet(dir)
      .select(col("id"), col("v"), col("p").cast("string"))) == all)
    assert(!fs.exists(new Path(s"$dir/.p=p1.staged")))
    // same crash on the TABLE ROOT (non-partitioned tables compact
    // their root): the whole dir is parked under a sibling aside
    assert(fs.rename(new Path(dir), new Path(s"$base/.t.old")))
    assert(!fs.exists(new Path(dir)))
    assert(Swap.recover(fs, new Path(dir)) == 1)
    assert(rowSet(spark.read.parquet(dir)
      .select(col("id"), col("v"), col("p").cast("string"))) == all)
    // healthy dir: no-op
    assert(Swap.recover(fs, new Path(dir)) == 0)
  }

  test("compact(sortCols) preserves the disjoint ranges of a clustered table") {
    val dir = tempDir("compactsort") + "/t"
    // a clustered table that accumulated small appends: 8 range-
    // clustered writes of 2 files each → 16 files with overlapping
    // ranges ACROSS appends (each append is internally disjoint)
    val parts = (0 until 8).map { a =>
      ((1 + a) to 1000 by 8).map(i => ((i * 7919) % 1000, s"v$i-$a")).toDF("k", "v")
    }
    Layout.writeRangeClustered(parts.head, dir, Seq("k"), numFiles = 2)
    parts.tail.foreach(p =>
      p.repartitionByRange(2, col("k")).sortWithinPartitions(col("k"))
        .write.mode("append").parquet(dir))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
      .map(_.getPath.toString).sorted
    assert(files.length == 16)
    val before = rowSet(spark.read.parquet(dir))
    // compact to few files, PRESERVING the cluster key order
    val (b, a) = Layout.compact(spark, dir, targetBytes = 8L << 10,
      sortCols = Seq("k"))
    assert(b == 16 && a < 16)
    assert(rowSet(spark.read.parquet(dir)) == before)
    // post-compaction files must again cover disjoint k ranges — the
    // default hash repartition would scramble them and silently kill
    // row-group file-skipping
    val ranges = files.map { f =>
      val r = spark.read.parquet(f).agg(min(col("k")), max(col("k")))
        .collect().head
      (r.getInt(0), r.getInt(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo, _)) => assert(hi <= lo, s"overlap: $hi > $lo")
      case _ =>
    }
  }

  test("range-clustered files cover disjoint key ranges (file-skip precondition)") {
    val dir = tempDir("cluster") + "/t"
    val df = (1 to 1000).map(i => ((i * 7919) % 1000, s"v$i")).toDF("k", "v")
    Layout.writeRangeClustered(df, dir, Seq("k"), numFiles = 4)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
      .map(_.getPath.toString).sorted
    assert(files.length == 4)
    val ranges = files.map { f =>
      val r = spark.read.parquet(f).agg(min(col("k")), max(col("k")))
        .collect().head
      (r.getInt(0), r.getInt(1))
    }.sortBy(_._1)
    // every file's range ends before the next begins: a k-predicate can
    // skip whole files on row-group stats
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo, _)) => assert(hi <= lo, s"overlap: $hi > $lo")
      case _ =>
    }
    assert(rowSet(spark.read.parquet(dir)) == rowSet(df))
  }

  test("zValue interleaves bits; z-ordered files cover disjoint z ranges") {
    // hand-checked interleave: a=0b101 (even slots), b=0b011 (odd slots)
    // → z = 1·1 + 1·8 + 1·16 + 1·32 = 0b111001 = 57... compute: bits of
    // a at 4^i, bits of b at 2·4^i: a=5 → 1+16=17; b=3 → 2+8=10; z=27
    val one = Seq((5L, 3L)).toDF("a", "b")
      .select(Layout.zValue(col("a"), col("b")).as("z"))
      .as[Long].head()
    assert(one == 27L)
    val dir = tempDir("zorder") + "/t"
    val df = (1 to 1000)
      .map(i => ((i * 7919) % 128, (i * 104729) % 128, s"v$i"))
      .toDF("x", "y", "v")
    Layout.writeZOrdered(df, dir, "x", "y", numFiles = 4)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
      .map(_.getPath.toString).sorted
    assert(files.length == 4)
    val ranges = files.map { f =>
      val r = spark.read.parquet(f)
        .select(Layout.zValue(col("x").cast("long"), col("y").cast("long"))
          .as("z"))
        .agg(min(col("z")), max(col("z"))).collect().head
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo, _)) => assert(hi <= lo, s"z overlap: $hi > $lo")
      case _ =>
    }
    assert(rowSet(spark.read.parquet(dir)) == rowSet(df))
  }
}
