package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** MinHash + LSH near-duplicate detection over a text column — the
  * standard training-data dedup pipeline (shingle → minhash → band →
  * bucket-join → exact-Jaccard verify) built from codegen'd builtins.
  *
  * Hash family: `md5(seed || ':' || shingle)` with the min taken over
  * the hex strings. md5 is available and bit-identical in every engine,
  * which makes the whole pipeline oracle-checkable in DuckDB — a
  * deliberate choice over xxhash64, whose seeds Spark fixes.
  *
  * Scale design (100 TB corpus):
  *  - signatures are one explode + partial-aggregated groupBy
  *    (map-side min per (doc, seed) before the shuffle);
  *  - the LSH band join shuffles only (band, bucket) keys — docs
  *    sharing no band never meet, so the quadratic verify runs on the
  *    candidate set only;
  *  - degenerate buckets (boilerplate-heavy corpora) skew the
  *    pair-join; AQE skew-join splitting handles moderate skew, and a
  *    bucket-size cap (`maxBucketSize`) drops pathological buckets the
  *    way production dedup pipelines do.
  */
object MinHashLsh {

  /** k-word shingles over an ALREADY-MATERIALIZED token-array column.
    * The tokens must be a bound attribute, not `split(...)` inline —
    * expressions inside a higher-order-function lambda are re-evaluated
    * per element, which turns an inline split into O(words²) work per
    * document. */
  def shinglesFromTokens(toks: Column, k: Int = 3): Column =
    when(size(toks) >= k,
      transform(sequence(lit(1), size(toks) - (k - 1)),
        i => concat_ws(" ",
          (0 until k).map(o => element_at(toks, (i + lit(o)).cast("int"))): _*)))
      .otherwise(array().cast("array<string>"))

  /** (doc_id, sh) exploded shingle rows for a documents frame — native
    * one-pass shingling (graft.functions.WordShinglesExpr); output is
    * byte-identical to the builtin [[shinglesFromTokens]] spelling, so
    * every md5-based oracle downstream is unchanged. */
  private def shingleRows(docs: DataFrame, k: Int = 3): DataFrame =
    docs.select(col("doc_id"),
      explode(graft.functions.WordShingles.word_shingles(col("text"), k)).as("sh"))

  /** Back-compat convenience used by specs: shingles of a text column. */
  def shingles(text: Column, k: Int = 3): Column = {
    val toks = split(text, " ")
    shinglesFromTokens(toks, k)
  }

  /** (doc_id, seed, minhash) signatures, numHashes rows per doc (docs
    * with fewer than k words yield none).
    *
    * All seed-minima are computed in ONE native eval per document
    * (graft.functions.MinHashSigsExpr) — same md5("j:"+shingle) hash
    * family as the exploded groupBy spelling, so oracles are unchanged,
    * but with no (doc × shingle × seed) row explosion and no
    * aggregation shuffle at all. */
  def signatures(docs: DataFrame, numHashes: Int = 8): DataFrame =
    Spread.scan(docs).select(col("doc_id"),
      posexplode(graft.functions.MinHashSigs.minhash_sigs(col("text"), 3, numHashes))
        .as(Seq("seed", "minhash")))

  /** Band signatures: rows-per-band consecutive minhashes concatenated
    * and hashed → (doc_id, band, bucket). */
  def bandBuckets(sigs: DataFrame, rowsPerBand: Int = 2): DataFrame =
    sigs
      .groupBy(col("doc_id"),
        floor(col("seed") / rowsPerBand).cast("bigint").as("band"))
      .agg(md5(array_join(
        expr("transform(array_sort(collect_list(struct(seed, minhash))), s -> s.minhash)"),
        "|")).as("bucket"))

  /** Band signatures straight from the documents — the signature array
    * is sliced per band in the same projection, so the whole
    * sign-and-band stage is shuffle-free (equivalent to
    * bandBuckets(signatures(docs)), asserted by spec). */
  def bandBucketsDirect(
      docs: DataFrame, numHashes: Int = 8, rowsPerBand: Int = 2): DataFrame = {
    // ceil: a trailing partial band still pairs docs, matching
    // bandBuckets' floor(seed/r) grouping (slice tolerates short tails)
    val bands = (numHashes + rowsPerBand - 1) / rowsPerBand
    val sigsArr = graft.functions.MinHashSigs.minhash_sigs(col("text"), 3, numHashes)
    // Spread: the sign kernel is the family's dominant per-row cost and
    // serializes on the testdata's single-row-group scan (guide §2.5).
    // Re-measured in r17 ON THE COMPOSITE paths (q26/q35/q42/q119/q44
    // through nearDuplicates), not just the isolated kernel: removing
    // it cost 1.3-1.6× across the family (q42 3.88 s vs 2.64 s,
    // q119 2.81 vs 1.71 — plans/r17 notes), so it stays.
    // The empty-signature guard (docs under 3 words) sits INSIDE the
    // generator: a separate filter on `sigs` would be pushed below the
    // exchange and sign every doc once more in the single-task scan.
    Spread.scan(docs)
      .select(col("doc_id"), sigsArr.as("sigs"))
      .select(col("doc_id"),
        posexplode(when(size(col("sigs")) > 0,
          transform(sequence(lit(0), lit(bands - 1)), b =>
            md5(array_join(slice(col("sigs"), (b * rowsPerBand + 1).cast("int"),
              lit(rowsPerBand)), "|"))))).as(Seq("band", "bucket")))
      .select(col("doc_id"), col("band").cast("bigint").as("band"), col("bucket"))
  }

  /** Distinct candidate pairs (doc_a < doc_b) sharing any band bucket.
    * Buckets larger than maxBucketSize are dropped (quadratic blowup
    * guard for boilerplate buckets).
    *
    * Shape: ONE groupBy shuffle collects each bucket's (≤ cap) DISTINCT
    * doc ids, then pairs stream out of two generators — no bucket
    * self-join, no window pass, and no pair ARRAY is ever materialized
    * (each Generate row holds at most the ≤-cap id set). collect_set
    * both collapses duplicate (doc, band) rows — an at-least-once
    * source can deliver the same doc twice — and makes the `<` filter
    * the only pair ordering needed; equal ids can't produce the (x, x)
    * self-pair that would let a dedup caller drop a doc entirely. */
  def candidatePairs(buckets: DataFrame, maxBucketSize: Int = 1000): DataFrame =
    buckets
      .groupBy(col("band"), col("bucket"))
      .agg(collect_set(col("doc_id")).as("ids"))
      .filter(size(col("ids")) >= 2 && size(col("ids")) <= maxBucketSize)
      .select(explode(col("ids")).as("doc_a"), col("ids"))
      .select(col("doc_a"), explode(col("ids")).as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
      .distinct()

  /** Exact shingle-set Jaccard for the candidate pairs (the verify step:
    * LSH recalls, Jaccard decides). Only candidate docs are re-shingled —
    * a semi-join keeps the quadratic verify off the 99% of a deduped
    * corpus that no bucket ever paired. */
  def jaccardVerify(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val candDocs = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id")))
      .distinct()
    val sh = shingleRows(docs.join(candDocs, Seq("doc_id"), "left_semi"))
      .distinct()
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = pairs
      .join(sh.select(col("doc_id").as("doc_a"), col("sh")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .filter(col("sh") === col("sh_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") /
          (col("na") + col("nb") - col("inter"))).as("jaccard"))
  }

  /** The full near-dup pipeline: candidates via LSH, exact Jaccard,
    * thresholded. The candidate-pair frame is dimension-sized (LSH
    * already pruned the corpus) but its subtree is the whole signature
    * pipeline, and the verify step references it three times — so it is
    * materialized ONCE via an eager `localCheckpoint`: lineage is
    * truncated (downstream joins read the stored partitions, never
    * re-sign), and the blocks are released by the ContextCleaner when
    * the frame is GC'd — repeated dedup runs in one session don't
    * accumulate cache (no persist to forget to release). On a
    * cluster with executor churn, swap for a reliable
    * `checkpoint(dir)`; the plan shape is identical. */
  def nearDuplicates(
      docs: DataFrame,
      numHashes: Int = 8,
      rowsPerBand: Int = 2,
      threshold: Double = 0.2): DataFrame = {
    // EAGER checkpoints, deliberately (r16 measured the lazy form and
    // reverted it): `hs` is read by TWO concurrent verify legs and
    // `pairs` by a self-union — under a lazy checkpoint those legs
    // race ahead of the block cache and re-run the expensive
    // shingle/sign kernels per leg (q35 isolated: 1.69 s eager vs
    // 2.78 s lazy). Serial materialization costs one job and keeps
    // the kernels single-run.
    val pairs = candidatePairs(
      bandBucketsDirect(docs, numHashes, rowsPerBand)).localCheckpoint()
    // both pair sides draw from the SAME corpus: shingle each candidate
    // doc once over the union of pair ids, not once per join side
    val ids = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id")))
    val hs = hashedShingles(docs, ids).localCheckpoint()
    verifyPairs(pairs, "doc_a", hs, "doc_b", hs, threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Incremental dedup — the daily-ingest shape: near-dups of a NEW
    * batch against an EXISTING corpus, never corpus × corpus. The
    * corpus band table is recomputed here for self-containment
    * (delegating to [[nearDuplicatesAgainstIndex]] with an inline
    * sketch); in production the index is the PERSISTED table written by
    * [[writeBandIndex]] at ingest, so only the (small) new batch is
    * sketched per run. */
  def nearDuplicatesAgainst(
      newDocs: DataFrame,
      corpus: DataFrame,
      numHashes: Int = 8,
      rowsPerBand: Int = 2,
      threshold: Double = 0.2,
      maxBucketSize: Int = 1000): DataFrame =
    nearDuplicatesAgainstIndex(newDocs,
      bandBucketsDirect(corpus, numHashes, rowsPerBand), corpus,
      numHashes, rowsPerBand, threshold, maxBucketSize)

  /** Persist the corpus band index: (doc_id, band, bucket) rows,
    * partitioned by band so an incremental probe prunes to the bands it
    * actually hits. Write once at ingest, append per batch — this is
    * what makes continuous dedup O(new batch): the corpus is never
    * re-sketched, only its (tiny) index is read. */
  def writeBandIndex(
      docs: DataFrame,
      path: String,
      numHashes: Int = 8,
      rowsPerBand: Int = 2,
      mode: String = "append"): Unit =
    bandBucketsDirect(docs, numHashes, rowsPerBand)
      .write.mode(mode).partitionBy("band").parquet(path)

  /** [[nearDuplicatesAgainst]] probing a PERSISTED band index instead
    * of re-sketching the corpus — the production incremental path. The
    * corpus documents are still needed for the Jaccard verify, but only
    * the candidate docs are read (semi-join pushdown), so per batch the
    * corpus-side work is: index scan + |candidates| doc reads.
    *
    * Candidate shape: the corpus side of each bucket is collapsed to
    * its (≤ cap, deduped) id set; the NEW side stays as rows and
    * equi-joins the bucket lists, so no new-side collection exists to
    * blow up on a boilerplate-heavy batch, and pairs stream out of a
    * generator (never a materialized pair array). collect_set also
    * collapses duplicate index rows, which a crash between the corpus
    * and index appends can legitimately leave behind. */
  def nearDuplicatesAgainstIndex(
      newDocs: DataFrame,
      corpusIndex: DataFrame,
      corpus: DataFrame,
      numHashes: Int = 8,
      rowsPerBand: Int = 2,
      threshold: Double = 0.2,
      maxBucketSize: Int = 1000): DataFrame = {
    val nb = bandBucketsDirect(newDocs, numHashes, rowsPerBand)
    // band is a PARTITION column of the persisted index: its read-back
    // type depends on partition-type inference (int here, string with
    // inference off) — pin it to the sketch's bigint explicitly
    val oldBuckets = corpusIndex
      .select(col("doc_id"), col("band").cast("bigint").as("band"), col("bucket"))
      .groupBy(col("band"), col("bucket"))
      .agg(collect_set(col("doc_id")).as("old_ids"))
      .filter(size(col("old_ids")) >= 1 && size(col("old_ids")) <= maxBucketSize)
    val pairs = nb.select(col("doc_id").as("doc_new"), col("band"), col("bucket"))
      .join(oldBuckets, Seq("band", "bucket"))
      .select(col("doc_new"), explode(col("old_ids")).as("doc_old"))
      // guard: overlapping id sets (e.g. a crash-replayed batch whose
      // band rows already landed) must not pair a doc with itself
      .filter(col("doc_new") =!= col("doc_old"))
      .distinct()
      .localCheckpoint() // eager — see nearDuplicates (two verify legs)
    val hn = hashedShingles(newDocs, pairs.select(col("doc_new").as("doc_id")))
    val ho = hashedShingles(corpus, pairs.select(col("doc_old").as("doc_id")))
    verifyPairs(pairs, "doc_new", hn, "doc_old", ho, threshold)
      .select(col("doc_new"), col("doc_old"), col("jaccard"))
  }

  /** Per-doc sorted shingle-hash arrays for exactly the docs a pair
    * list involves (semi-join keeps the quadratic verify off the rest
    * of the corpus). */
  private def hashedShingles(docs: DataFrame, ids: DataFrame): DataFrame =
    docs.join(ids.distinct(), Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        array_sort(array_distinct(
          transform(graft.functions.WordShingles.word_shingles(col("text"), 3),
            sh => xxhash64(sh)))).as("gh"))
      .withColumn("n", size(col("gh")).cast("bigint"))

  /** Exact-Jaccard verify over a candidate pair list via the native
    * merge-scan intersection, given per-side hashed-shingle frames
    * (from [[hashedShingles]]; pass the SAME frame twice for self-dedup
    * so each doc is shingled once). Hash collisions (~2⁻⁶⁴/pair) are
    * the only divergence from [[jaccardVerify]]'s exact string sets. */
  private def verifyPairs(
      pairs: DataFrame,
      leftCol: String, leftShingles: DataFrame,
      rightCol: String, rightShingles: DataFrame,
      threshold: Double): DataFrame = {
    import graft.functions.SortedIntersect.sorted_intersect_count
    pairs
      .join(leftShingles.select(col("doc_id").as(leftCol),
        col("gh").as("ga"), col("n").as("na")), Seq(leftCol))
      .join(rightShingles.select(col("doc_id").as(rightCol),
        col("gh").as("gb"), col("n").as("nb")), Seq(rightCol))
      .withColumn("inter", sorted_intersect_count(col("ga"), col("gb")))
      // threshold the UNROUNDED ratio (matching the oracle's WHERE),
      // round only the reported value
      .withColumn("graft_j",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("graft_j") >= threshold)
      .withColumn("jaccard", round(col("graft_j"), 4))
  }
}
