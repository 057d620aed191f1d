package graft

import graft.operators.Ranks
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The banded exact-rank machinery must be BIT-IDENTICAL to the naive
  * single-partition `Window.orderBy` forms it replaces (q105's RFM
  * quintiles) — same contract as Drift's banded KS: an exact integer
  * rewrite, not an approximation. Fixtures deliberately hit the hard
  * cases: heavy key skew (one value carrying most rows — the case the
  * tie-band split exists for), negative keys (arithmetic-shift banding),
  * band boundaries, N not divisible by the tile count, and N < tiles.
  */
class RanksSpec extends SparkSpec {
  import spark.implicits._

  /** (key, tie) rows: skewed key 0 block, negatives, values straddling
    * the 2^16 band boundary, sparse high values. */
  private def fixture: DataFrame =
    ((1 to 500).map(i => (0L, i.toLong)) ++            // heavy skew on one key
      (1 to 97).map(i => (-(i % 7).toLong - 1, 1000L + i)) ++
      (1 to 60).map(i => (65530L + i, 2000L + i)) ++   // band straddle
      Seq((1L << 40, 9001L), (-(1L << 40), 9002L), (7L, 9003L)))
      .toDF("k", "tie")

  private def naiveRank(df: DataFrame, asc: Boolean): DataFrame = {
    val o = if (asc) col("k").asc else col("k").desc
    df.withColumn("want", row_number()
      .over(Window.orderBy(o, col("tie"))).cast("bigint"))
  }

  private def naiveNtile(df: DataFrame, asc: Boolean, n: Int): DataFrame = {
    val o = if (asc) col("k").asc else col("k").desc
    df.withColumn("want", ntile(n)
      .over(Window.orderBy(o, col("tie"))).cast("bigint"))
  }

  test("withGlobalRank ≡ global row_number window, asc and desc") {
    Seq(true, false).foreach { asc =>
      val got = Ranks.withGlobalRank(fixture, col("k"), asc, col("tie"), "got")
      val both = got.join(naiveRank(fixture, asc), Seq("k", "tie"))
      assert(both.filter(col("got") =!= col("want")).count() === 0,
        s"banded rank diverged from the naive window (asc=$asc)")
      assert(both.count() === fixture.count())
    }
  }

  test("withGlobalRank desc is exact at Long.MinValue/MaxValue (no negation overflow)") {
    // -Long.MinValue overflows back to itself and would rank the row
    // FIRST under desc; the bitwise-complement order key must rank it
    // LAST, after MaxValue first.
    val extremes = (fixture.collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSeq ++ Seq((Long.MinValue, 9100L), (Long.MaxValue, 9101L)))
      .toDF("k", "tie")
    Seq(true, false).foreach { asc =>
      val got = Ranks.withGlobalRank(extremes, col("k"), asc, col("tie"), "got")
      val both = got.join(naiveRank(extremes, asc), Seq("k", "tie"))
      assert(both.filter(col("got") =!= col("want")).count() === 0,
        s"banded rank diverged at the bigint extremes (asc=$asc)")
    }
  }

  test("withNtile ≡ global ntile window across tile counts and orders") {
    for (asc <- Seq(true, false); n <- Seq(2, 5, 7)) {
      val got = Ranks.withNtile(fixture, col("k"), asc, col("tie"), n, "got")
      val both = got.join(naiveNtile(fixture, asc, n), Seq("k", "tie"))
      assert(both.filter(col("got") =!= col("want")).count() === 0,
        s"banded ntile diverged (asc=$asc, n=$n)")
    }
  }

  test("withNtile: fewer rows than tiles gives each row its own tile") {
    val tiny = Seq((10L, 1L), (20L, 2L), (5L, 3L)).toDF("k", "tie")
    val got = Ranks.withNtile(tiny, col("k"), ascending = true, col("tie"),
      5, "q").orderBy(col("q")).select(col("k")).as[Long].collect().toSeq
    assert(got === Seq(5L, 10L, 20L))
  }

  test("withPrefixSum ≡ exclusive global window cumsum (bands, negatives)") {
    // unique keys straddling a 2^16 band boundary, negative keys, a
    // sparse astronomically-high key; values include negatives
    val rows = ((-7L to -1L) ++ (65500L to 65600L) ++ Seq(1L << 40, 123L, 7L))
      .zipWithIndex.map { case (k, i) => (k, (i * 13 % 29).toLong - 7) }
    val df = rows.toDF("key", "v")
    val got = Ranks.withPrefixSum(df, col("key"), col("v"), "got")
      .select(col("key"), col("got"))
    val want = df.withColumn("want", coalesce(
        sum(col("v")).over(Window.orderBy(col("key"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("key"), col("want"))
    val both = got.join(want, Seq("key"))
    assert(both.count() === rows.size)
    assert(both.filter(col("got") =!= col("want")).count() === 0,
      "banded prefix sum diverged from the naive exclusive window cumsum")
    // tiny bands force many band offsets through the triangular join
    val gotTiny = Ranks.withPrefixSum(df, col("key"), col("v"), "got",
      bandBits = 2).select(col("key"), col("got"))
    assert(gotTiny.join(want, Seq("key"))
      .filter(col("got") =!= col("want")).count() === 0,
      "banded prefix sum diverged under 4-wide bands")
  }

  test("non-default band widths stay exact (tiny bands force many bands)") {
    val got = Ranks.withGlobalRank(fixture, col("k"), ascending = true,
      col("tie"), "got", keyBandBits = 2, tieBandBits = 1)
    val both = got.join(naiveRank(fixture, asc = true), Seq("k", "tie"))
    assert(both.filter(col("got") =!= col("want")).count() === 0,
      "banded rank diverged under 4-wide key bands / 2-wide tie bands")
  }

  test("fully degenerate key (EVERY row one key): tie bands carry the split, ranks exact") {
    // the adversarial-skew claim: a 10⁸-rows-one-key corpus must never
    // funnel one task, because terms 2-3 of the decomposition split the
    // single key's rows across TIE bands. Correctness half here (1000
    // rows, one key, both orders, plus a tiny tie-band width that
    // forces many bands); the throughput half was measured as the
    // 10× stress_degenerate_key_rank factor in r12 (d9e29ab).
    val degen = (1L to 1000L).map(i => (42L, i)).toDF("k", "tie")
    for (asc <- Seq(true, false); tieBits <- Seq(16, 2)) {
      val got = Ranks.withGlobalRank(degen, col("k"), asc, col("tie"), "got",
        tieBandBits = tieBits)
      val both = got.join(naiveRank(degen, asc), Seq("k", "tie"))
      assert(both.count() === 1000L)
      assert(both.filter(col("got") =!= col("want")).count() === 0,
        s"degenerate-key rank diverged (asc=$asc, tieBandBits=$tieBits)")
    }
  }

  test("autoKeyBandBits bounds the band count for sparse keys, exact ranks") {
    import spark.implicits._
    // uniform wide keys: the q198 failure shape — copy·2^48 + hash48
    val wide = (1L to 200L)
      .map(i => (3L * (i % 2) * 281474976710656L +
        java.lang.Long.parseLong(
          org.apache.commons.codec.digest.DigestUtils.md5Hex(s"k$i")
            .substring(0, 12), 16), i))
      .toDF("k", "tie")
    val bits = Ranks.autoKeyBandBits(wide, col("k"), maxBandBits = 10)
    // span ≈ 2^49.6 → ~40 bits: at most ~2^10 bands
    assert(bits >= 38 && bits <= 42, s"unexpected auto width: $bits")
    val got = Ranks.withGlobalRank(wide, col("k"), ascending = true,
      col("tie"), "got", keyBandBits = bits)
    val both = got.join(naiveRank(wide, asc = true), Seq("k", "tie"))
    assert(both.filter(col("got") =!= col("want")).count() === 0)
    // dense small domains keep the default (one band is fine there)
    val dense = (1L to 50L).map(i => (i % 7, i)).toDF("k", "tie")
    assert(Ranks.autoKeyBandBits(dense, col("k")) === 16)
    // empty frame: safe default
    assert(Ranks.autoKeyBandBits(dense.filter(col("k") < 0), col("k")) === 16)
  }
}
