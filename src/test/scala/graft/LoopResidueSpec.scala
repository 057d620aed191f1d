package graft

import graft.operators.{Bpe, DedupGroups, Graph}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Every iterative operator that re-checkpoints per round returns
  * holding at most two generations of its round state plus its
  * stationary frames, and each one takes empty and one-edge / one-word
  * input without an exception, returning its documented shape. */
class LoopResidueSpec extends SparkSpec {
  import spark.implicits._

  /** `f`'s result and the number of RDDs it pinned that are still
    * persisted when it returns (suites run one at a time, so every RDD
    * persisted during `f` is `f`'s). The persisted-RDD map holds its
    * values weakly, so a GC during `f` would hide a frame the operator
    * left pinned; a poller holds every persisted RDD strongly while `f`
    * runs, so only an explicit release unpins. */
  private def pinnedBy[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val held = java.util.concurrent.ConcurrentHashMap.newKeySet[AnyRef]()
    val running = new java.util.concurrent.atomic.AtomicBoolean(true)
    val poller = new Thread(() =>
      while (running.get) {
        sc.getPersistentRDDs.values.foreach(held.add)
        Thread.sleep(2)
      })
    poller.start()
    val out = try f finally { running.set(false); poller.join() }
    val n = (sc.getPersistentRDDs.keySet -- before).size
    held.clear()
    (out, n)
  }

  private def words(text: String*): DataFrame =
    Bpe.wordFreq(text.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text"))

  private lazy val corpus = words("low low lower newest newest widest", "lowest wide")
  private lazy val noWords = words()
  private def merges(ms: Seq[Bpe.Merge]) = ms.map(m => (m.rank, m.lhs, m.rhs))
  private def state(df: DataFrame): Map[String, Seq[String]] =
    df.select(col("w"), col("syms")).as[(String, Seq[String])].collect().toMap

  // a 6-node ring with a chord and a dangling tail: several rounds of
  // every graph loop, and a node with no out-edge
  private val ring = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
    (6L, 1L), (1L, 4L), (6L, 7L))
  private lazy val directed = ring.toDF("src", "dst")
  private lazy val noEdges = Seq.empty[(Long, Long)].toDF("src", "dst")

  test("Bpe learn loops: two state generations on return, any seed state") {
    val (ref, n1) = pinnedBy(Bpe.learn(corpus, nMerges = 4))
    assert(n1 <= 2, s"learn left $n1 RDDs pinned")
    val refMerges = merges(ref._1)
    val refState = state(ref._2)
    assert(refMerges.size == 4)
    val (b, n2) = pinnedBy(Bpe.learnBatched(corpus, nRounds = 3, batchSize = 2))
    assert(n2 <= 2, s"learnBatched left $n2 RDDs pinned")
    assert(b._1.nonEmpty && b._2.count() == corpus.count())
    // a delta generation is (symbols, counts, delta)
    val (d, n3) = pinnedBy(Bpe.learnDelta(corpus, nRounds = 4))
    assert(n3 <= 6, s"learnDelta left $n3 RDDs pinned")
    assert(merges(d._1) == refMerges && state(d._2) == refState)
    val (m3, s3) = Bpe.learn(corpus, nMerges = 2)
    val (c, n4) = pinnedBy(Bpe.learnContinue(s3, m3, nMore = 2))
    assert(n4 <= 2, s"learnContinue left $n4 RDDs pinned")
    assert(merges(c._1) == refMerges && state(c._2) == refState)
  }

  test("Bpe learn loops: empty and one-word vocabularies") {
    for ((ms, st) <- Seq(Bpe.learn(noWords, 3),
        Bpe.learnBatched(noWords, 3, 2), Bpe.learnDelta(noWords, 3),
        Bpe.learnContinue(noWords.withColumn("syms", typedlit(Seq.empty[String])),
          Nil, 3))) {
      assert(ms.isEmpty)
      assert(st.columns.toSeq == Seq("w", "freq", "syms") && st.count() == 0)
    }
    for ((ms, st) <- Seq(Bpe.learn(words("ab"), 3),
        Bpe.learnBatched(words("ab"), 3, 2), Bpe.learnDelta(words("ab"), 3))) {
      assert(merges(ms) == Seq((1, "a", "b")) && ms.head.pairCount == 1L)
      assert(state(st) == Map("ab" -> Seq("ab")))
    }
    val (one, st1) = Bpe.learn(words("a"), 3)
    assert(one.isEmpty && state(st1) == Map("a" -> Seq("a")))
  }

  test("connectedComponents: one generation on return; empty and one edge") {
    val pairs = ring.toDF("doc_a", "doc_b")
    val (cc, n) = pinnedBy(DedupGroups.connectedComponents(pairs))
    assert(n <= 2, s"connectedComponents left $n RDDs pinned")
    assert(cc.as[(Long, Long)].collect().toMap == (1L to 7L).map(_ -> 1L).toMap)
    val empty = DedupGroups.connectedComponents(
      Seq.empty[(Long, Long)].toDF("doc_a", "doc_b"))
    assert(empty.columns.toSeq == Seq("doc_id", "group_id") && empty.count() == 0)
    val one = DedupGroups.connectedComponents(Seq((2L, 1L)).toDF("doc_a", "doc_b"))
    assert(one.as[(Long, Long)].collect().toMap == Map(1L -> 1L, 2L -> 1L))
  }

  test("kCorePeel: two generations on return; one edge survives k = 1") {
    val canon = ring.map { case (a, b) => (a min b, a max b) }.toDF("a", "b")
    val (core, n) = pinnedBy(Graph.kCorePeel(canon, k = 2, rounds = -1))
    assert(n <= 2, s"kCorePeel left $n RDDs pinned")
    assert(core.as[(Long, Long)].collect().map(_._1).toSet == (1L to 6L).toSet)
    val one = Graph.kCorePeel(Seq((1L, 2L)).toDF("a", "b"), k = 1, rounds = -1)
    assert(one.as[(Long, Long)].collect().toMap == Map(1L -> 1L, 2L -> 1L))
  }

  test("PageRank loop: two rank generations plus stationary frames") {
    // stationary: edges, nodes, weighted edges, out-nodes (+ seeds and
    // seed flags for the personalized walk)
    val (d, n1) = pinnedBy(Graph.pageRankDirected(directed, maxIterations = 8))
    assert(n1 <= 4 + 2, s"pageRankDirected left $n1 RDDs pinned")
    assert(d._2 == 8 && d._1.agg(sum(col("rank"))).head.getLong(0) > 0L)
    val seeds = Seq(1L, 4L).toDF("node")
    val (p, n2) = pinnedBy(
      Graph.pageRankPersonalized(directed, seeds, maxIterations = 4))
    assert(n2 <= 6 + 2, s"pageRankPersonalized left $n2 RDDs pinned")
    assert(p._1.count() == 7L)
  }

  test("PageRank loop: every node a seed ≡ directed; empty and one edge") {
    val all = (1L to 7L).toDF("node")
    assert(Graph.pageRankDirected(directed, 3)._1.as[(Long, Long)].collect().toMap ==
      Graph.pageRankPersonalized(directed, all, 3)._1.as[(Long, Long)].collect().toMap)
    val (ed, rd) = Graph.pageRankDirected(noEdges, 3)
    val (ep, rp) = Graph.pageRankPersonalized(noEdges, all, 3)
    for (e <- Seq(ed, ep)) assert(e.columns.toSeq == Seq("node", "rank") && e.count() == 0)
    assert(rd == 0 && rp == 0)
    // 1→2, N = 2: node 2 dangles, its 10⁶ re-enters as 85·10⁶ div 200 each
    val one = Seq((1L, 2L)).toDF("src", "dst")
    assert(Graph.pageRankDirected(one, 1)._1.as[(Long, Long)].collect().toMap ==
      Map(1L -> 575000L, 2L -> 1425000L))
    assert(Graph.pageRankPersonalized(one, Seq(1L).toDF("node"), 1)._1
      .as[(Long, Long)].collect().toMap == Map(1L -> 300000L, 2L -> 1700000L))
  }
}
