package graft

import graft.operators.{Bpe, QualityModel, SeqPack}
import graft.streaming.{StreamingCurriculumPack, StreamingShardPack}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The composed streaming curriculum path (frozen quality model →
  * frozen BPE vocab → within-batch quality rank → incremental shard
  * pack), run through the real micro-batch loop. The law: the
  * accumulated shard log equals the ONE-SHOT pack of everything
  * ingested so far under the composite (arrival batch, quality rank,
  * doc_id) order — and replaying a committed batch changes nothing.
  */
class StreamingCurriculumPackSpec extends SparkSpec {
  import spark.implicits._

  // three quality classes with deliberately spread signals, sized so
  // the Gopher gate (≥50 words, avg word len ≥3, ≥2 stop forms, rep
  // ≤8%) actually SEPARATES them — labels must vary or LR collapses
  // to a constant and every score_bp ties:
  //   prose  — 55+ varied words with rotating stopwords (passes)
  //   junk   — short and punctuation-heavy (fails length)
  //   filler — 50+ words of one token (fails repetition, no stopwords)
  private val contentWords = Seq("alpha", "bravo", "charlie", "delta",
    "echo", "foxtrot", "golf", "hotel", "india", "juliet", "kilo",
    "lima", "mike", "november", "oscar", "papa")
  private val stopWords = Seq("the", "a", "of", "and", "is", "to", "in")

  private def doc(id: Long): (Long, String) = {
    val text = (id % 3) match {
      case 0 =>
        val n = 55 + (id % 7).toInt
        (0 until n).map { i =>
          if (i % 5 == 0) stopWords((i / 5 + id.toInt) % stopWords.size)
          else contentWords((i + id.toInt) % contentWords.size)
        }.mkString(" ")
      case 1 =>
        (1 to (8 + (id % 3).toInt)).map(i => s"z$i!!").mkString(" ")
      case _ =>
        (1 to (52 + (id % 5).toInt)).map(_ => "spam").mkString(" ")
    }
    (id, text)
  }

  private val seed = (1L to 30L).map(doc).toDF("doc_id", "text")
  private val b1 = (101L to 108L).map(doc)
  private val b2 = (201L to 207L).map(doc)

  // the frozen artifacts, trained once on the seed corpus
  private lazy val vocab = Bpe.learn(Bpe.wordFreq(seed), nMerges = 3)._2
    .localCheckpoint()
  private lazy val stats = QualityModel.statsOf(QualityModel.features(seed))
  private lazy val w = QualityModel.train(
    QualityModel.applyStats(QualityModel.features(seed), stats),
    lr = 2.0, iters = 5)

  // chosen so b1's stream length is NOT a multiple — the batch
  // boundary must land mid-sequence for the split assertion below
  private lazy val seqLen = {
    val len1 = SeqPack.streamLength(
      Bpe.encodeTokens(b1.toDF("doc_id", "text"), vocab))
    Seq(7, 8, 9, 11, 13).find(len1 % _ != 0).get
  }

  private def snapshot(path: String): Seq[(Long, Long, String)] =
    StreamingShardPack.readShards(spark, path)
      .orderBy("seq_id").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))

  /** One-shot expected stream: each batch's ranked frame under a
    * composite (batch_no, within-batch rank) order key. */
  private def oneShot(batches: Seq[Seq[(Long, String)]]): Seq[(Long, Long, String)] = {
    val union = batches.zipWithIndex.map { case (b, i) =>
      StreamingCurriculumPack
        .rankedTokens(b.toDF("doc_id", "text"), vocab, stats, w)
        .withColumn("graft_ck",
          lit(i.toLong * 1000000L) + col("graft_rank"))
    }.reduce(_ unionByName _)
    SeqPack.packTokenStream(union, seqLen, orderKey = col("graft_ck"))
      .orderBy("seq_id").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
  }

  test("the frozen-model rank actually reorders within a batch") {
    val rt = StreamingCurriculumPack
      .rankedTokens(b1.toDF("doc_id", "text"), vocab, stats, w)
      .orderBy("graft_rank")
      .select("doc_id").as[Long].collect().toSeq
    assert(rt.sorted === b1.map(_._1).sorted, "rank must be a permutation")
    assert(rt !== rt.sorted,
      "fixture scores collapsed — curriculum order degenerated to doc order " +
        "and the law below would not exercise the rank at all")
  }

  test("accumulated curriculum log equals the one-shot composite-order pack") {
    implicit val ctx = spark.sqlContext
    val dir = tempDir("curpack")
    val ckpt = tempDir("curpack-ck")
    val in = MemoryStream[(Long, String)]
    val q = StreamingCurriculumPack.start(
      in.toDF().toDF("doc_id", "text"),
      s"$dir/shards", s"$ckpt/q", seqLen, vocab, stats, w,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    try {
      in.addData(b1: _*)
      q.processAllAvailable()
      in.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(snapshot(s"$dir/shards") === oneShot(Seq(b1, b2)))
    // the boundary sequence really was split across the two batch dirs
    val split = spark.read.parquet(s"$dir/shards")
      .groupBy("seq_id").count().filter(col("count") > 1).count()
    assert(split >= 1)
  }

  test("replaying a committed curriculum batch overwrites to the same state") {
    val dir = tempDir("curpack-rp")
    val path = s"$dir/shards"
    def apply(b: Seq[(Long, String)], id: Long): Unit =
      StreamingCurriculumPack.applyBatch(
        b.toDF("doc_id", "text"), id, path, seqLen, vocab, stats, w)
    apply(b1, 0L); apply(b2, 1L)
    val before = snapshot(path)
    apply(b2, 1L) // replay: deterministic under the frozen artifacts
    assert(snapshot(path) === before)
    val wantOffset =
      SeqPack.streamLength(Bpe.encodeTokens(b1.toDF("doc_id", "text"), vocab)) +
        SeqPack.streamLength(Bpe.encodeTokens(b2.toDF("doc_id", "text"), vocab))
    assert(StreamingShardPack.offsetBefore(spark, path, 2L) === wantOffset)
  }
}
