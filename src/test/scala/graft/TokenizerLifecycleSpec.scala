package graft

import graft.operators.Bpe
import graft.streaming.StreamingBpeDrift
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The tokenizer-lifecycle composition (train, persist, drift-monitor,
  * continue; run on real testdata in faae2d7), pinned on a fixture where every step's outcome is
  * forced: the training alphabet {a,b,c} collapses completely under
  * v1's two merges, so the continuation's merges MUST come from the
  * drifted alphabet {x,y,z} — prefix law, OOV cure, and the strict
  * token drop are all deterministic. */
class TokenizerLifecycleSpec extends SparkSpec {
  import spark.implicits._

  private def tot(docs: DataFrame, vocab: DataFrame): Long =
    Bpe.encodeTokens(docs, vocab)
      .agg(sum(size(col("tokens")).cast("bigint"))).head().getLong(0)

  test("train → persist → drift → continue: prefix law, OOV cured, tokens drop") {
    val en = Seq((0L, "abc abc ab"), (1L, "abc ab ab")).toDF("doc_id", "text")
    val drifted = Seq((10L, "xyz xyz xy"), (11L, "xyz xy xyz"))
      .toDF("doc_id", "text")

    // v1: two merges — (a,b) then (ab,c) — fully collapse the en vocab
    val (m1, v1) = Bpe.learn(Bpe.wordFreq(en), nMerges = 2)
    assert(m1.map(m => (m.lhs, m.rhs)) === Seq(("a", "b"), ("ab", "c")))
    val tmp = tempDir("tok-lifecycle")
    Bpe.writeTokenizer(s"$tmp/v1", m1, v1)

    // the monitor readout shows the rot: every drifted word is OOV
    val s1 = StreamingBpeDrift.batchStats(drifted, v1).head()
    assert(s1.getAs[Long]("n_oov_words") === s1.getAs[Long]("n_words"))

    // respond: reload, rebuild state over the seen vocabulary, continue
    val (m1R, _) = Bpe.readTokenizer(spark, s"$tmp/v1")
    val seen = Bpe.applyMerges(Bpe.wordFreq(en.unionByName(drifted)), m1R)
    val (m2, v2) = Bpe.learnContinue(seen, m1R, nMore = 2)
    assert(m2.take(2) === m1R, "v2 must extend v1 as a prefix")
    // the en alphabet is exhausted, so both continuation merges are
    // drifted-vocabulary pairs
    assert(m2.drop(2).map(m => (m.lhs, m.rhs)) === Seq(("x", "y"), ("xy", "z")))

    // cured: zero OOV, strictly fewer shipped tokens than v1's
    // char-split fallback
    val s2 = StreamingBpeDrift.batchStats(drifted, v2).head()
    assert(s2.getAs[Long]("n_oov_words") === 0L)
    assert(tot(drifted, v2) < tot(drifted, v1))
    // and the training slice is untouched token-wise (same folds apply)
    assert(tot(en, v2) === tot(en, v1))
  }
}
