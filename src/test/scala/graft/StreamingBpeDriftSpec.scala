package graft

import graft.operators.Bpe
import graft.streaming.StreamingBpeDrift
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming tokenizer-rot monitoring: each micro-batch's fertility/OOV
  * readout under the frozen vocabulary equals the batch computation on
  * the same rows, and a drifted batch (words the vocabulary never saw)
  * reads as higher OOV — the re-learn signal.
  */
class StreamingBpeDriftSpec extends SparkSpec {
  import spark.implicits._

  test("per-batch fertility log equals batch stats; drifted batch shows OOV") {
    implicit val ctx = spark.sqlContext
    val dir = tempDir("bpedrift")
    val ckpt = tempDir("bpedrift-ckpt")
    val train = Seq((0L, "low low lower lowest low lower"))
      .toDF("doc_id", "text")
    val (_, vocab) = Bpe.learn(Bpe.wordFreq(train), nMerges = 4)
    val frozen = vocab.localCheckpoint()
    val in = MemoryStream[(Long, String)]
    val q = StreamingBpeDrift.monitor(
      in.toDF().toDF("doc_id", "text"), frozen, s"$dir/log", s"$ckpt/log")
    val inDist = Seq((1L, "low lower low"), (2L, "lowest low"))
    val drifted = Seq((3L, "high higher low"), (4L, "highest high"))
    try {
      in.addData(inDist: _*)
      q.processAllAvailable()
      in.addData(drifted: _*)
      q.processAllAvailable()
      val log = StreamingBpeDrift.readLog(spark, s"$dir/log")
        .collect().map(r => r.getAs[Int]("batch_id").toLong -> r).toMap
      assert(log.keySet == Set(0L, 1L))
      // batch equivalence, field by field
      Seq(0L -> inDist, 1L -> drifted).foreach { case (id, rows) =>
        val want = StreamingBpeDrift
          .batchStats(rows.toDF("doc_id", "text"), frozen).collect().head
        val got = log(id)
        Seq("n_docs", "n_words", "n_bpe_tokens", "n_oov_words",
          "fertility_bp", "oov_bp").foreach { c =>
          assert(got.getAs[Any](c) == want.getAs[Any](c),
            s"batch $id column $c: ${got.getAs[Any](c)} != ${want.getAs[Any](c)}")
        }
      }
      // the in-distribution batch has zero OOV; the drifted one doesn't
      assert(log(0L).getAs[Long]("n_oov_words") == 0L)
      assert(log(1L).getAs[Long]("n_oov_words") > 0L)
      assert(log(1L).getAs[Long]("oov_bp") > log(0L).getAs[Long]("oov_bp"))
    } finally q.stop()
  }

  test("empty batch logs zero counts and null rates, never divides") {
    val (_, vocab) = Bpe.learn(Bpe.wordFreq(
      Seq((0L, "ab ab")).toDF("doc_id", "text")), nMerges = 1)
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val r = StreamingBpeDrift.batchStats(empty, vocab).collect().head
    assert(r.getAs[Long]("n_docs") == 0L && r.getAs[Long]("n_words") == 0L)
    assert(r.isNullAt(r.fieldIndex("fertility_bp")))
    assert(r.isNullAt(r.fieldIndex("oov_bp")))
  }
}
