package graft

import graft.operators.{Projection, Similarity}
import org.apache.spark.sql.functions._

/** The composed IVF+PQ index (VERDICT r7 #3): the persisted form must
  * equal the in-memory composition, the ADC pass must read ONLY codes
  * from ONLY the probed partitions (that's the entire point of the
  * layout — 2-byte reads of 1/k of the files), and at equal probe cost
  * the shortlist-re-ranked recall must not fall below plain IVF's q153
  * contract (with shortlist ≥ cluster size the two are identical by
  * construction).
  */
class IvfPqSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def embeddings = Tables.load(spark, sf, "embeddings")

  test("indexed ≡ in-memory IVF+PQ; ADC scan prunes partitions and columns") {
    val e = embeddings
    val cent = Similarity.centroids(e)
    val q = e.filter(col("vec_id") < 5)
    val dir = tempDir("ivfpq")
    Projection.writeIvfPqIndex(e, dir)
    val mem = rowSet(Projection.ivfPqTopK(q, e, cent, k = 10))
    val idxDf = Projection.ivfPqTopKIndexed(spark, dir, q, cent, k = 10)
    assert(mem.nonEmpty && rowSet(idxDf) === mem,
      "persisted IVF+PQ diverged from the in-memory composition")
    val plan = idxDf.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[label#\\d+ IN \\(".r.findFirstIn(plan).nonEmpty,
      s"index scan is not partition-pruned:\n$plan")
    // the plan has two index scans; the CODES scan must not read the
    // wide embedding column (column pruning is the ADC bandwidth win)
    val schemas = "ReadSchema: [^\\n]+".r.findAllIn(plan).toSeq
      .filter(_.contains("codes"))
    assert(schemas.nonEmpty && schemas.forall(!_.contains("embedding")),
      s"ADC scan reads the embedding column:\n$plan")
  }

  test("LEARNED-cluster persisted index ≡ in-memory IVF, scan partition-pruned (q217 path)") {
    import graft.operators.Clustering
    val e = embeddings
    // the q217 clustering: √N modular seeds + one Lloyd round
    val n = e.count()
    val step = math.ceil(math.sqrt(n.toDouble)).toLong
    val seeds = Clustering.kmeansFrom(e,
      {
        import spark.implicits._
        e.filter(col("vec_id") % step === 0)
          .select(col("vec_id"),
            transform(col("embedding").cast("array<double>"),
              x => round(x, 6)).as("c"))
          .orderBy(col("vec_id")).collect()
          .zipWithIndex.map { case (r, i) => (i.toLong, r.getSeq[Double](1)) }
          .toSeq.toDF("cluster", "centroid")
      }, rounds = 1)
    val cent = seeds.withColumnRenamed("cluster", "label").localCheckpoint()
    val labeled = e.select(col("vec_id"), col("embedding"))
      .join(Clustering.assignUnder(e, cent)
        .select(col("vec_id"), col("cluster").as("label")), Seq("vec_id"))
    val dir = tempDir("ivf-learned-spec")
    Similarity.writeIvfIndex(labeled, dir)
    val q = e.filter(col("vec_id") < 5)
    val mem = rowSet(Similarity.ivfTopK(q, labeled, cent, k = 10, nprobe = 1))
    val idxDf = Similarity.ivfTopKIndexed(spark, dir, q, cent,
      k = 10, nprobe = 1)
    assert(mem.nonEmpty && rowSet(idxDf) === mem,
      "persisted learned-cluster index diverged from the in-memory path")
    val plan = idxDf.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[label#\\d+ IN \\(".r.findFirstIn(plan).nonEmpty,
      s"learned index scan is not partition-pruned:\n$plan")
  }

  test("ADC codebook-as-data ≡ codebook-as-literal; production PQ auto-dispatches to data") {
    val e = embeddings
    val q = e.filter(col("vec_id") < 5)
    // forced both ways at the SAME config: the packed broadcast row
    // and the baked literals must rank identically, score for score
    val lit4 = rowSet(Projection.pqAdcTopK(q, e, k = 10,
      cbAsData = Some(false)))
    val data4 = rowSet(Projection.pqAdcTopK(q, e, k = 10,
      cbAsData = Some(true)))
    assert(lit4.nonEmpty && data4 === lit4,
      "broadcast-codebook ADC diverged from the literal path")
    // default dispatch: m=4/bits=4 (64 entries) stays literal — no
    // broadcast join in the plan; m=16/bits=8 (4096 entries) must NOT
    // bake 4096×4 doubles into expressions — the plan carries the
    // one-row codebook broadcast instead
    val small = Projection.pqAdcTopK(q, e, k = 10)
      .queryExecution.executedPlan.toString
    val large = Projection.pqAdcTopK(q, e, k = 10, m = 16, bits = 8)
      .queryExecution.executedPlan.toString
    assert(!small.contains("graft_cb"),
      s"small codebook must stay literal:\n$small")
    assert(large.contains("graft_cb"),
      s"production-PQ codebook must travel as broadcast data:\n$large")
    // and the production config still returns a sane top-k
    val big = Projection.pqAdcTopK(q, e, k = 10, m = 16, bits = 8)
    assert(big.count() === 5L * 10)
  }

  test("sampled refit gate: the 1/m index sample preserves the KS verdict, n_a records it") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // 8 index vectors in two tight ±x clusters (even/odd vec_ids in
    // both, so the every-2nd sample keeps both clusters' geometry)
    val corpus = (0L until 8L).map(i =>
      (i, Array((if (i % 2 == 0) 1.0f else -1.0f), 0.05f * (i % 3)),
        (i % 2).toInt)).toDF("vec_id", "embedding", "label")
    val cent = Similarity.centroids(corpus).localCheckpoint()
    val dir = tempDir("ivf-sampled-gate") + "/idx"
    Similarity.writeIvfIndex(corpus, dir)
    val shifted = Seq(
      (20L, Array(0.0f, 1.0f)), (21L, Array(0.05f, 1.0f)),
      (22L, Array(0.0f, -1.0f)), (23L, Array(0.05f, -1.0f)))
      .toDF("vec_id", "embedding")
    val full = Similarity.ivfRefitCheck(spark, dir, cent, shifted)
      .select("n_a", "refit").as[(Long, Boolean)].head()
    val sampled = Similarity.ivfRefitCheck(spark, dir, cent, shifted,
      sampleEvery = 2)
      .select("n_a", "refit").as[(Long, Boolean)].head()
    assert(full._1 === 8L && sampled._1 === 4L,
      "n_a must record the audited (sampled) index size")
    assert(full._2 && sampled._2,
      "the drifted batch must trip the gate under both audit sizes")
    // an in-distribution batch stays below threshold under the sample
    val same = corpus.select(col("vec_id") + 100, col("embedding"))
      .toDF("vec_id", "embedding")
    assert(!Similarity.ivfRefitCheck(spark, dir, cent, same, sampleEvery = 2)
      .select("refit").as[Boolean].head(),
      "an in-distribution batch must not trip the sampled gate")
    // an id scheme the stride never hits (all-odd vec_ids, stride 2)
    // must fall back to the FULL scan, not silently KS an empty sample
    val oddDir = tempDir("ivf-odd-gate") + "/idx"
    val odd = corpus.select((col("vec_id") * 2 + 1).as("vec_id"),
      col("embedding"), col("label"))
    Similarity.writeIvfIndex(odd, oddDir)
    val fb = Similarity.ivfRefitCheck(spark, oddDir, cent, shifted,
      sampleEvery = 2)
      .select("n_a", "refit").as[(Long, Boolean)].head()
    assert(fb._1 === 8L,
      "an empty systematic sample must fall back to the full index scan")
    assert(fb._2, "the fallback still audits the drifted batch correctly")
  }

  test("index heal: kmeansFrom re-fits in place — ids stable, rebuilt index clears the gate") {
    import graft.operators.Clustering
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // two tight clusters on ±x …
    val corpus = Seq(
      (0L, Array(1.0f, 0.1f), 0), (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(-1.0f, 0.1f), 1), (3L, Array(-1.0f, 0.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val cent = Similarity.centroids(corpus).localCheckpoint()
    val dir = tempDir("ivf-heal") + "/idx"
    Similarity.writeIvfIndex(corpus, dir)
    // … then the ingest distribution moves to ±y: the gate trips
    val shifted = Seq(
      (20L, Array(0.0f, 1.0f)), (21L, Array(0.05f, 1.0f)),
      (22L, Array(0.0f, -1.0f)), (23L, Array(0.05f, -1.0f)))
      .toDF("vec_id", "embedding")
    Similarity.appendIvfIndex(shifted, cent, dir)
    val before = Similarity.ivfRefitCheck(spark, dir, cent, shifted)
      .select("ks_stat", "refit").as[(Double, Boolean)].head()
    assert(before._2, s"shifted ingest must trip the gate (ks=${before._1})")
    // HEAL: warm-start Lloyd from the live centroids — cluster ids
    // must not renumber (a renumber would orphan the partition dirs)
    val union = spark.read.parquet(dir)
      .select(col("vec_id"), col("embedding"))
    val healed = Clustering.kmeansFrom(union, cent, rounds = 3)
      .withColumnRenamed("cluster", "label").localCheckpoint()
    assert(healed.select("label").as[Long].collect().sorted.toSeq ===
      cent.select(col("label").cast("long")).as[Long].collect().sorted.toSeq,
      "healing renumbered the clusters")
    // rebuild the index under the healed assignment; the same batch no
    // longer reads as drift and the KS statistic dropped
    val dir2 = tempDir("ivf-heal2") + "/idx"
    Similarity.writeIvfIndex(
      union.join(Clustering.assignUnder(union, healed)
        .select(col("vec_id"), col("cluster").as("label")), Seq("vec_id")),
      dir2)
    val after = Similarity.ivfRefitCheck(spark, dir2, healed, shifted)
      .select("ks_stat", "refit").as[(Double, Boolean)].head()
    assert(!after._2, s"healed index still trips the gate (ks=${after._1})")
    assert(after._1 < before._1, "healing did not reduce the drift statistic")
  }

  test("recall@10 at nprobe=1 ≥ plain IVF (the q153 contract at equal probe cost)") {
    val e = embeddings
    val cent = Similarity.centroids(e)
    val q = e.filter(col("vec_id") < 20)
    val brute = Similarity.bruteForceTopK(q, e, k = 10)
      .select(col("q_id"), col("vec_id"))
    def recall(hits: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      brute.join(hits.select(col("q_id"), col("vec_id"), lit(1L).as("h")),
        Seq("q_id", "vec_id"), "left")
        .groupBy(col("q_id"))
        .agg(sum(coalesce(col("h"), lit(0L))).as("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val ivf = recall(Similarity.ivfTopK(q, e, cent, k = 10, nprobe = 1))
    val ivfpq = recall(Projection.ivfPqTopK(q, e, cent, k = 10,
      nprobe = 1, shortlist = 50))
    assert(ivf.nonEmpty)
    ivf.foreach { case (qid, n) =>
      assert(ivfpq(qid) >= n,
        s"query $qid: IVF+PQ recall ${ivfpq(qid)} fell below plain IVF $n")
    }
  }
}
