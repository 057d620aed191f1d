package graft

import graft.functions.BpeFold
import graft.operators.Bpe
import org.apache.spark.sql.functions._

/** Pins `bpe_fold_indexed ≡ bpe_fold` (the r16 pair-indexed sibling —
  * [[graft.functions.BpeFoldIndexedExpr]]) — exact equivalence for
  * EVERY table, which is what lets [[Bpe.applyMerges]] switch to the
  * index at depth with the oracles unchanged. The two adversarial
  * cases matter more than the random sweep:
  *
  *   - RANK ORDER, not priority order: a pair CREATED by a later
  *     merge whose own rank already passed must NOT apply (the HF
  *     priority-tokenizer would apply it; our semantics — and the
  *     DuckDB oracles — are the rank-order full scan);
  *   - DUPLICATE (lhs, rhs) ranks: a pair merged at rank j can be
  *     re-created by a later merge and re-learned at rank k > j — the
  *     index must hold ALL ranks per pair or the second turn is lost.
  */
class BpeFoldIndexedSpec extends SparkSpec {
  import spark.implicits._

  private def run(syms: Seq[Seq[String]], table: Seq[(String, String)],
      indexed: Boolean): Seq[Seq[String]] = {
    val df = syms.zipWithIndex.map { case (s, i) => (i, s) }
      .toDF("id", "syms")
    val fold = if (indexed) BpeFold.bpe_fold_indexed(col("syms"), table)
      else BpeFold.bpe_fold(col("syms"), table)
    df.select(col("id"), fold.as("out")).orderBy("id")
      .as[(Int, Seq[String])].collect().toSeq.map(_._2)
  }

  /** A deterministic dense table: all 36² 2-char merges, then
    * (product, char) 3-char merges to `depth`. */
  private def synthTable(depth: Int): Seq[(String, String)] = {
    val alpha = "0123456789abcdefghijklmnopqrstuvwxyz"
    val two = for (a <- alpha; b <- alpha) yield (a.toString, b.toString)
    val three = for ((l, r) <- two; c <- alpha) yield (l + r, c.toString)
    (two ++ three).take(depth)
  }

  private def both(syms: Seq[Seq[String]],
      table: Seq[(String, String)]): Seq[Seq[String]] = {
    val flat = run(syms, table, indexed = false)
    val idx = run(syms, table, indexed = true)
    assert(idx === flat, s"divergence on table $table")
    flat
  }

  test("rank order, not priority: a pair created after its rank passed stays unmerged") {
    // r1=("ab","c") runs FIRST and finds nothing; r2=("a","b") then
    // creates "ab" adjacent to "c" — but r1's turn already passed.
    // A priority tokenizer would emit [abc]; rank-order emits [ab, c].
    val out = both(Seq(Seq("a", "b", "c")),
      Seq(("ab", "c"), ("a", "b")))
    assert(out === Seq(Seq("ab", "c")))
  }

  test("duplicate (lhs,rhs) ranks: the re-learned pair's second turn applies") {
    // rank 0 merges (ab,c); rank 1 re-creates an (ab,c) adjacency;
    // rank 2 is the SAME pair re-learned — its sweep must run
    val table = Seq(("ab", "c"), ("a", "b"), ("ab", "c"))
    val out = both(Seq(Seq("ab", "c", "a", "b", "c")), table)
    assert(out === Seq(Seq("abc", "abc")))
  }

  test("edge shapes: empty, single, all-same, cascade") {
    val table = Seq(("a", "a"), ("aa", "a"), ("b", "c"))
    val out = both(
      Seq(Seq.empty[String], Seq("a"), Seq("a", "a", "a", "a"),
        Seq("b", "c", "a", "a"), Seq("x", "y", "z")),
      table)
    // (a,a) greedy non-overlapping: [aa, aa]; then (aa,a) finds none
    assert(out(2) === Seq("aa", "aa"))
    assert(out(0) === Seq.empty[String])
    assert(out(1) === Seq("a"))
    assert(out(3) === Seq("bc", "aa"))
    assert(out(4) === Seq("x", "y", "z"))
  }

  test("randomized sweep: 200 words x 3 table depths, seeded") {
    val rnd = new scala.util.Random(20260816L)
    val alpha = "abcd"
    def word() = Seq.fill(2 + rnd.nextInt(12))(
      alpha(rnd.nextInt(alpha.length)).toString)
    val words = Seq.fill(200)(word())
    // tables built bottom-up so lhs/rhs are plausibly-reachable tokens
    def table(depth: Int): Seq[(String, String)] = {
      val tokens = scala.collection.mutable.ArrayBuffer(
        alpha.map(_.toString): _*)
      Seq.fill(depth) {
        val l = tokens(rnd.nextInt(tokens.length))
        val r = tokens(rnd.nextInt(tokens.length))
        tokens += (l + r)
        (l, r)
      }
    }
    Seq(5, 40, 300).foreach { d => both(words, table(d)) }
  }

  test("applyMerges at depth >= threshold takes the indexed path, output unchanged") {
    // wiring pin: a 128-merge table (>= Bpe.indexedFoldThreshold)
    // routes applyMerges through bpe_fold_indexed — its state must be
    // byte-identical to the flat fold over the same table
    val table = synthTable(128)
    assert(table.size >= Bpe.indexedFoldThreshold)
    val merges = table.zipWithIndex.map { case ((l, r), i) =>
      Bpe.Merge(i + 1, l, r, 1L) }
    val docs = Seq(
      (1L, "ab0 cd1 0123 zz9 a b abc"),
      (2L, "0a0a 12 21 ab ba 777")).toDF("doc_id", "text")
    val words = Bpe.wordFreq(docs)
    val viaApply = Bpe.applyMerges(words, merges)
      .select("w", "syms").as[(String, Seq[String])].collect().toMap
    val viaFlat = words.select(col("w"),
        filter(split(col("w"), ""), x => x =!= lit("")).as("syms"))
      .withColumn("syms", BpeFold.bpe_fold(col("syms"), table))
      .select("w", "syms").as[(String, Seq[String])].collect().toMap
    assert(viaApply === viaFlat)
  }
}
