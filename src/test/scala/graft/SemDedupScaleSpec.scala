package graft

import graft.operators.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The embedding-dedup operators' CLUSTER path: `broadcastBlocks=false`
  * is what a corpus past executor memory must run — the default
  * broadcast pair-join is a mandatory frame-level hint that fails
  * rather than degrades at 100-TB scale. The shuffle path must be
  * bit-identical on the q28/q160 inputs (same rounded-dot recurrence,
  * different join strategy), and its plan must actually co-partition
  * both pair sides on the block key instead of broadcasting the
  * corpus-sized b side. Mirrors GraphScaleSpec's broadcastNodes=false
  * treatment.
  */
class SemDedupScaleSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def embeddings = Tables.load(spark, sf, "embeddings")

  /** Run `f` with automatic broadcast fully disabled, so a join is
    * broadcast ONLY if the operator hinted it. */
  private def noAutoBroadcast[A](f: => A): A = {
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      keys.foreach(k => spark.conf.set(k, "-1"))
      f
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("nearDupPairs: broadcastBlocks=false ≡ true on the q28 input") {
    val b = rowSet(Similarity.nearDupPairs(embeddings, threshold = 0.3))
    val s = noAutoBroadcast {
      rowSet(Similarity.nearDupPairs(embeddings, threshold = 0.3,
        broadcastBlocks = false))
    }
    assert(b.nonEmpty, "fixture produced no near-dup pairs — test is vacuous")
    assert(s == b, "shuffle pair-join diverged from broadcast pair-join")
  }

  test("semDedup: broadcastBlocks=false ≡ true on the q160 input") {
    val cent = Similarity.centroids(embeddings)
    val b = rowSet(Similarity.semDedup(embeddings, cent, threshold = 0.3))
    val s = noAutoBroadcast {
      rowSet(Similarity.semDedup(embeddings, cent, threshold = 0.3,
        broadcastBlocks = false))
    }
    assert(b.exists(r => r.last == false), "no vector was dropped — vacuous")
    assert(s == b, "shuffle semDedup diverged from broadcast semDedup")
  }

  test("broadcastBlocks=false co-partitions the pair sides; true broadcasts") {
    def plan(broadcastBlocks: Boolean): String = noAutoBroadcast {
      Similarity.nearDupPairs(embeddings, threshold = 0.3,
        broadcastBlocks = broadcastBlocks)
        .queryExecution.executedPlan.toString
    }
    // with the hint OFF the pair join must be a shuffle join on the
    // block key — the only shape whose per-task memory is one block,
    // not the whole corpus
    val off = plan(broadcastBlocks = false)
    assert(!off.contains("BroadcastExchange"),
      s"broadcastBlocks=false still broadcasts the corpus side:\n$off")
    assert(off.contains("SortMergeJoin") || off.contains("ShuffledHashJoin"),
      s"no co-partitioned shuffle pair-join:\n$off")
    val on = plan(broadcastBlocks = true)
    assert(on.contains("BroadcastExchange"),
      s"broadcastBlocks=true did not broadcast the pair side:\n$on")
  }

  test("semDedupAgainstIndex: prunes to the batch's clusters, ≡ loaded kept set") {
    // two well-separated clusters; the kept set is the semDedup
    // survivors written in the writeIvfIndex label-partitioned layout
    val corpus = Seq(
      (0L, Array(1.0f, 0.1f), 0), (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(-1.0f, 0.1f), 1), (3L, Array(-1.0f, 0.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val cent = Similarity.centroids(corpus)
    val dir = tempDir("semidx") + "/idx"
    val kept = corpus.drop("label")
      .join(Similarity.semDedup(corpus, cent, threshold = 0.99)
        .filter(col("kept")).select(col("vec_id"), col("cluster").as("label")),
        Seq("vec_id"))
    Similarity.writeIvfIndex(kept, dir)
    // the batch touches ONLY cluster 0
    val batch = Seq((10L, Array(0.95f, 0.05f)), (11L, Array(0.6f, 0.8f)))
      .toDF("vec_id", "embedding")
    val viaIndex = Similarity.semDedupAgainstIndex(
      spark, dir, batch, cent, threshold = 0.97)
    val direct = Similarity.semDedupAgainst(
      batch, spark.read.parquet(dir), cent, threshold = 0.97)
    assert(rowSet(viaIndex) == rowSet(direct),
      "indexed probe diverged from the in-memory kept set")
    // the kept-index scan must prune at planning time: the cluster set
    // is a static isin, visible as a PartitionFilter on label
    val plan = viaIndex.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*label[^\\]]*".r.findFirstIn(plan).isDefined
      && !"PartitionFilters: \\[\\]".r.findFirstIn(plan).isDefined,
      s"no partition pruning on the kept-index scan:\n$plan")
  }
}
