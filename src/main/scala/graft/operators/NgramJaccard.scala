package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Character n-gram Jaccard near-duplicate detection, blocked by
  * grouping columns (pairs are only formed inside a block — at corpus
  * scale the block is a shard key such as language × source, so the
  * quadratic term is per-block).
  */
object NgramJaccard {

  /** All char n-grams of a text column (positions via sequence; substr
    * with column offsets stays codegen'd). */
  def charNgrams(text: Column, n: Int): Column =
    when(length(text) >= n,
      expr(s"transform(sequence(1, length(text) - ${n - 1}), i -> substr(text, i, $n))"))
      .otherwise(array().cast("array<string>"))

  private def gramRows(docs: DataFrame, blockCols: Seq[String], n: Int): DataFrame =
    docs
      .select((col("doc_id") +: blockCols.map(col)) :+
        explode(charNgrams(col("text"), n)).as("gram"): _*)
      .distinct()

  private def jaccardOf(
      inter: DataFrame, sizes: DataFrame, threshold: Double): DataFrame =
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))

  /** Near-dup pairs within (blockCols) blocks with exact n-gram-set
    * Jaccard ≥ threshold, via the direct gram self-join. Right when
    * blocks are modest (the measured fastest at the bench scale); for
    * corpora whose blocks share ubiquitous grams, use
    * [[nearDupPairsPrefix]] — same result, linear candidate
    * generation. */
  def nearDupPairs(
      docs: DataFrame,
      blockCols: Seq[String],
      n: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    val g = gramRows(docs, blockCols, n)
    val sizes = g.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val a = g.select((col("doc_id").as("doc_a") +: blockCols.map(col)) :+ col("gram"): _*)
    val b = g.select((col("doc_id").as("doc_b") +: blockCols.map(col)) :+ col("gram"): _*)
    val inter = a
      .join(b, blockCols :+ "gram")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))
    jaccardOf(inter, sizes, threshold)
  }

  /** The shared hashed-pair scaffold of [[nearDupPairsHashed]] /
    * [[containmentPairsHashed]]: per-doc sorted gram-hash arrays,
    * block-keyed broadcast self-join, native merge-scan intersection.
    * Docs with NO grams (text shorter than n) are excluded up front —
    * they can match nothing, and a zero set size would otherwise
    * divide-by-zero under ANSI mode (the oracles omit them the same
    * way). Yields (doc_a, doc_b, inter, na, nb). */
  private def hashedPairFrame(
      docs: DataFrame, blockCols: Seq[String], n: Int): DataFrame = {
    import graft.functions.SortedIntersect.sorted_intersect_count
    val hashes = graft.functions.NgramHashes.ngram_hashes(col("text"), n)
    val keys = col("doc_id") +: blockCols.map(col)
    // Spread (guide §2.5): the gram-hash kernel AND the per-pair
    // merge-scan intersect below both run at the a-side scan's
    // parallelism — 1 task on the single-row-group testdata files.
    // The no-gram guard is a generator, not a filter: a filter on `gh`
    // would be pushed below the exchange and hash every doc once more
    // in the single-task scan.
    val e = Spread.scan(docs).select(keys :+ hashes.as("gh"): _*)
      .select(keys :+ explode(when(size(col("gh")) > 0, array(col("gh")))).as("gh"): _*)
      .withColumn("ng", size(col("gh")).cast("bigint"))
    val a = e.select(
      (col("doc_id").as("doc_a") +: blockCols.map(col)) :+
        col("gh").as("ga") :+ col("ng").as("na"): _*)
    val b = e.select(
      (col("doc_id").as("doc_b") +: blockCols.map(col)) :+
        col("gh").as("gb") :+ col("ng").as("nb"): _*)
    a.join(broadcast(b), blockCols)
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("inter", sorted_intersect_count(col("ga"), col("gb")))
  }

  /** Same result via per-document sorted gram-hash arrays: each doc
    * carries array_sort(array_distinct(xxhash64(gram))) and pairs are
    * compared map-side with a native merge-scan intersection
    * ([[graft.functions.SortedIntersectCountExpr]]) under a broadcast
    * of the block-keyed corpus — NO (doc, gram) explosion and no
    * quadratic shuffle. Hash collisions (~2⁻⁶⁴ per gram pair) are the
    * only divergence from exact Jaccard. At corpus scale the broadcast
    * becomes a block-bucketed self-join; the kernel is unchanged. */
  def nearDupPairsHashed(
      docs: DataFrame,
      blockCols: Seq[String],
      n: Int = 4,
      threshold: Double = 0.5): DataFrame =
    hashedPairFrame(docs, blockCols, n)
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))

  /** Containment near-dup pairs: |A∩B| / min(|A|,|B|) ≥ threshold —
    * catches sub-document duplication (a page embedded inside a longer
    * one) that symmetric Jaccard misses, because the union term stops
    * penalizing the length difference. Same kernel and block-join shape
    * as [[nearDupPairsHashed]]; only the denominator changes.
    * Output: (doc_a, doc_b, containment). */
  def containmentPairsHashed(
      docs: DataFrame,
      blockCols: Seq[String],
      n: Int = 4,
      threshold: Double = 0.6): DataFrame =
    hashedPairFrame(docs, blockCols, n)
      .withColumn("containment",
        col("inter").cast("double") / least(col("na"), col("nb")))
      .filter(col("containment") >= threshold)
      .select(col("doc_a"), col("doc_b"),
        round(col("containment"), 4).as("containment"))

  /** Same result via AllPairs-style prefix filtering: under a common
    * rare-gram-first total order, any pair with Jaccard ≥ t shares a
    * gram inside both docs' first (|g| − ⌈t·|g|⌉ + 1) grams, so only
    * those prefixes are self-joined and ubiquitous grams never generate
    * candidates. Higher constant cost (two extra windows over the gram
    * table) — the right trade once blocks are large enough that the
    * naive join's quadratic term dominates. */
  def nearDupPairsPrefix(
      docs: DataFrame,
      blockCols: Seq[String],
      n: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    val g = gramRows(docs, blockCols, n)
    val sizes = g.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val prefix = g
      .withColumn("gram_df", count(lit(1)).over(
        Window.partitionBy(blockCols.map(col) :+ col("gram"): _*)))
      .withColumn("pos", row_number().over(Window.partitionBy(col("doc_id"))
        .orderBy(col("gram_df"), col("gram"))))
      .withColumn("sz", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      .filter(col("pos") <= col("sz") - ceil(col("sz") * threshold) + 1)
      .select((col("doc_id") +: blockCols.map(col)) :+ col("gram"): _*)
    val pa = prefix.select(
      (col("doc_id").as("doc_a") +: blockCols.map(col)) :+ col("gram"): _*)
    val pb = prefix.select(
      (col("doc_id").as("doc_b") +: blockCols.map(col)) :+ col("gram"): _*)
    val cand = pa.join(pb, blockCols :+ "gram")
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
      .persist()
    cand.count() // materialize once; the verify plan references it thrice
    val candDocs = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id"))).distinct()
    val gc = gramRows(docs.join(candDocs, Seq("doc_id"), "left_semi"), blockCols, n)
      .select(col("doc_id"), col("gram"))
    val inter = cand
      .join(gc.select(col("doc_id").as("doc_a"), col("gram")), Seq("doc_a"))
      .join(gc.select(col("doc_id").as("doc_b"), col("gram").as("gram_b")), Seq("doc_b"))
      .filter(col("gram") === col("gram_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))
    jaccardOf(inter, sizes, threshold)
  }
}
