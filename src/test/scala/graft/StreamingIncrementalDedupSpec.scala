package graft

import graft.streaming.StreamingIncrementalDedup
import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

/** Continuous-ingest dedup: within-batch near-dups collapse to the
  * min-id keeper, cross-batch near-dups are dropped against the
  * corpus ingested so far.
  */
class StreamingIncrementalDedupSpec extends SparkSpec {
  import spark.implicits._

  test("batches dedup against themselves and the growing corpus") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val corpus = Files.createTempDirectory("graft-inc-dedup").toString + "/corpus"
    val ckpt = Files.createTempDirectory("graft-inc-ckpt").toString
    val q = StreamingIncrementalDedup.start(
      in.toDF().toDF("doc_id", "text"), corpus, ckpt,
      threshold = 0.2, trigger = Trigger.ProcessingTime("25 milliseconds"))
    try {
      in.addData(
        (1L, "the quick brown fox jumps over the lazy dog"),
        (2L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1 → dropped
        (5L, "completely different words entirely here now"))
      q.processAllAvailable()
      assert(spark.read.parquet(corpus).select("doc_id")
        .as[Long].collect().toSet == Set(1L, 5L))

      in.addData(
        (7L, "the quick brown fox jumps over the lazy pig"), // near-dup of stored 1 → dropped
        (8L, "fresh content sharing no shingles with anyone"))
      q.processAllAvailable()
      assert(spark.read.parquet(corpus).select("doc_id")
        .as[Long].collect().toSet == Set(1L, 5L, 8L))
    } finally q.stop()
  }

  test("replayed docs never re-append, even shingle-empty short docs") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val corpus = Files.createTempDirectory("graft-inc-dedup2").toString + "/corpus"
    val ckpt = Files.createTempDirectory("graft-inc-ckpt2").toString
    val q = StreamingIncrementalDedup.start(
      in.toDF().toDF("doc_id", "text"), corpus, ckpt,
      threshold = 0.2, trigger = Trigger.ProcessingTime("25 milliseconds"))
    try {
      // "hi" has <3 words → empty shingle set → the jaccard check can
      // never drop it; only the exact doc_id anti-join protects a
      // foreachBatch replay from double-appending it
      in.addData((1L, "hi"), (2L, "some genuinely long document body here"))
      q.processAllAvailable()
      // simulate a replayed batch: same docs delivered again
      in.addData((1L, "hi"), (2L, "some genuinely long document body here"))
      q.processAllAvailable()
      val ids = spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSeq
      assert(ids.sorted == Seq(1L, 2L), s"expected each doc once, got $ids")
    } finally q.stop()
  }

  test("persisted band index tracks the corpus and matches direct sketching") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val corpus = Files.createTempDirectory("graft-inc-dedup3").toString + "/corpus"
    val ckpt = Files.createTempDirectory("graft-inc-ckpt3").toString
    val q = StreamingIncrementalDedup.start(
      in.toDF().toDF("doc_id", "text"), corpus, ckpt,
      threshold = 0.2, trigger = Trigger.ProcessingTime("25 milliseconds"))
    try {
      in.addData(
        (1L, "the quick brown fox jumps over the lazy dog"),
        (5L, "completely different words entirely here now"))
      q.processAllAvailable()
      in.addData((8L, "fresh content sharing no shingles with anyone"))
      q.processAllAvailable()
      // the index holds exactly the corpus docs' band rows
      val idx = spark.read.parquet(
        StreamingIncrementalDedup.bandIndexPath(corpus))
      val direct = graft.operators.MinHashLsh
        .bandBucketsDirect(spark.read.parquet(corpus))
      assert(idx.select("doc_id", "band", "bucket").collect().toSet ==
        direct.collect().toSet)
      // probing the index finds the same near-dups as re-sketching
      val probe = Seq((9L, "the quick brown fox jumps over the lazy pig"))
        .toDF("doc_id", "text")
      val viaIndex = graft.operators.MinHashLsh
        .nearDuplicatesAgainstIndex(probe, idx, spark.read.parquet(corpus),
          threshold = 0.2)
        .select("doc_new", "doc_old").collect().toSet
      val viaDirect = graft.operators.MinHashLsh
        .nearDuplicatesAgainst(probe, spark.read.parquet(corpus),
          threshold = 0.2)
        .select("doc_new", "doc_old").collect().toSet
      assert(viaIndex == viaDirect && viaIndex.nonEmpty)
    } finally q.stop()
  }

  test("a crash mid-compaction cannot silently restart dedup from an empty corpus") {
    implicit val ctx = spark.sqlContext
    import org.apache.hadoop.fs.Path
    val in = MemoryStream[(Long, String)]
    val root = Files.createTempDirectory("graft-inc-dedup5").toString
    val corpus = root + "/corpus"
    val ckpt = Files.createTempDirectory("graft-inc-ckpt5").toString
    val q = StreamingIncrementalDedup.start(
      in.toDF().toDF("doc_id", "text"), corpus, ckpt,
      threshold = 0.2, trigger = Trigger.ProcessingTime("25 milliseconds"))
    try {
      in.addData((1L, "the quick brown fox jumps over the lazy dog"))
      q.processAllAvailable()
      // simulate a compaction that died between move-aside and
      // move-into-place: the corpus dir is GONE, originals parked
      // under the dot-prefixed aside the batch's exists-check ignores
      val fs = new Path(corpus).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      assert(fs.rename(new Path(corpus), new Path(s"$root/.corpus.old")))
      // next batch: a near-dup of the stranded doc 1 — without
      // recovery the batch would see "no corpus", skip the history
      // check, and admit it
      in.addData((9L, "the quick brown fox jumps over the lazy cat"))
      q.processAllAvailable()
      val ids = spark.read.parquet(corpus).select("doc_id")
        .as[Long].collect().toSet
      assert(ids == Set(1L), s"corpus after recovery+dedup: $ids")
    } finally q.stop()
  }

  test("periodic compaction bounds index files; probe results unchanged") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val corpus = Files.createTempDirectory("graft-inc-dedup4").toString + "/corpus"
    val ckpt = Files.createTempDirectory("graft-inc-ckpt4").toString
    // per-band files pile up one per batch; compact every 4 batches
    val q = StreamingIncrementalDedup.start(
      in.toDF().toDF("doc_id", "text"), corpus, ckpt,
      threshold = 0.2, trigger = Trigger.ProcessingTime("25 milliseconds"),
      compactEvery = 4, compactTargetBytes = 128L << 20)
    def parquetFiles(dir: String): Int = {
      import org.apache.hadoop.fs.Path
      val root = new Path(dir)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      def walk(p: Path): Int = fs.listStatus(p)
        .filterNot(s => s.getPath.getName.startsWith("_") ||
          s.getPath.getName.startsWith("."))
        .map(s => if (s.isDirectory) walk(s.getPath)
          else if (s.getPath.getName.startsWith("part-")) 1 else 0).sum
      walk(root)
    }
    try {
      // 8 batches of distinct docs → 8 appends per touched band dir;
      // compaction fires after batches 4 and 8
      (1 to 8).foreach { i =>
        in.addData((i.toLong, s"unique document number $i with body words $i $i"))
        q.processAllAvailable()
      }
      val idxPath = StreamingIncrementalDedup.bandIndexPath(corpus)
      val idx = spark.read.parquet(idxPath)
      // every band partition compacted to its data's size — at this
      // scale one file per band dir (8 uncompacted appends would leave 8)
      val bands = idx.select("band").distinct().count().toInt
      assert(parquetFiles(idxPath) == bands,
        s"expected $bands compacted files, got ${parquetFiles(idxPath)}")
      assert(parquetFiles(corpus) == 1,
        s"corpus not compacted: ${parquetFiles(corpus)} files")
      // rows, and therefore probe results, are untouched by compaction
      val direct = graft.operators.MinHashLsh
        .bandBucketsDirect(spark.read.parquet(corpus))
      assert(idx.select("doc_id", "band", "bucket").collect().toSet ==
        direct.collect().toSet)
      assert(spark.read.parquet(corpus).count() == 8)
    } finally q.stop()
  }
}
