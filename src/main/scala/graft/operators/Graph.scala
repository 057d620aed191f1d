package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph propagation expressed as DataFrame joins — the
  * GraphFrames/Pregel shape without the dependency. Each iteration is
  * one edge-keyed join plus one dst-keyed aggregation, so a 100 TB edge
  * list runs as K rounds of hash-partitioned shuffles; nothing is ever
  * collected to the driver.
  *
  * Ranks are carried as INTEGER micro-units (1e6 = rank 1.0) and the
  * damping factor is applied as an integer percentage with floor
  * division, so every engine that replays the recurrence — including
  * the DuckDB oracle — produces bit-identical ranks. Sums of longs are
  * exact where double summation would be add-order-dependent.
  */
object Graph {

  /** Catalyst-estimated edge-frame size above which [[pageRankWeighted]]
    * materializes EACH round via localCheckpoint instead of fusing all
    * rounds into one plan. A fused K-round PageRank re-embeds rounds
    * 1..k-1 inside round k's broadcast build subtree, which turns
    * superlinear as the graph grows: 10×-fixture measurement, identical
    * recurrence — fused 38.1s vs per-round 24.8s (4.6M edges); at 30×
    * the fused plan scaled at 48× data⁻¹ vs ~6× for the
    * per-round-checkpointed directed variant. Below the threshold the
    * per-round job overhead costs more than the fusion saves, so small
    * graphs keep the fused plan. Results are bit-identical either way.
    *
    * The gate reads `optimizedPlan.stats.sizeInBytes` — free at plan
    * time. Its r6 predecessor ran `e0.count()` per call, and that
    * "cached-block-cheap" 32-task job measured +2 jobs / +14 tasks /
    * +1.5 executor-CPU-s per q87 run (alternating in-JVM A/B, CPU-time
    * metric — the r6→r5 q87 bench delta's root cause). Calibrated to
    * the old 2M-edge crossover: the q87/q108 bipartite frame estimates
    * ~8.8 bytes/row (sf0.1 = 1.18M rows → 10.4 MB stays fused; the 10×
    * fixture ~104 MB goes per-round). Stats are an input-size-derived
    * heuristic, which is all a fuse/materialize crossover needs. */
  val PerRoundCheckpointStatsBytes: BigInt = BigInt(18L << 20)

  /** Undirected edge list from a bipartite fact table: one edge per
    * DISTINCT (left, right) pair, emitted in both directions with
    * prefixed node ids so the two key spaces cannot collide. */
  def bipartiteEdges(
      facts: DataFrame,
      leftKey: String,
      rightKey: String,
      leftPrefix: String,
      rightPrefix: String): DataFrame =
    symmetricEdges(facts
      .select(
        concat(lit(leftPrefix), col(leftKey).cast("string")).as("a"),
        concat(lit(rightPrefix), col(rightKey).cast("string")).as("b"))
      .distinct())

  /** [[bipartiteEdges]] with LONG node ids: left key k ↦ 2k, right key
    * k ↦ 2k+1 (disjoint by parity, reversible by shift). String node
    * ids tax EVERY per-round shuffle, broadcast build and hash probe
    * of an iterative operator; on the 30× fixture (13.8M edges) the
    * integer encoding measured 1.3-2.4× faster for the identical
    * PageRank recurrence (r7, f40a931, alternating-arm min-of-2). Decode
    * back to the prefixed strings with [[decodeBipartite]] in the
    * FINAL projection only — and only for operators whose semantics
    * never order or compare ids (rank sums, hop minima, degree
    * counts). Label propagation must NOT use THIS encoding: its
    * tie-break is defined over the label ORDER, and "p10" < "p2"
    * lexicographically while 10 > 2 numerically — use
    * [[bipartiteEdgesOrderedLong]], whose encoding preserves the
    * string order exactly. */
  /** The long-id encoding, exposed so callers building their own edge
    * or seed frames share ONE source of truth with [[decodeBipartite]]. */
  def encodeLeft(key: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    key.cast("bigint") * 2
  def encodeRight(key: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    key.cast("bigint") * 2 + 1

  def bipartiteEdgesLong(
      facts: DataFrame, leftKey: String, rightKey: String): DataFrame =
    symmetricEdges(facts
      .select(encodeLeft(col(leftKey)).as("a"), encodeRight(col(rightKey)).as("b"))
      .distinct())

  /** [[bipartiteEdgesLong]] keeping multiplicity as weight `w`. */
  def bipartiteEdgesLongWeighted(
      facts: DataFrame, leftKey: String, rightKey: String): DataFrame =
    symmetricEdges(facts
      .select(encodeLeft(col(leftKey)).as("a"), encodeRight(col(rightKey)).as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("w")),
      Seq("w"))

  /** Emit each distinct (a, b) pair in both directions, carrying any
    * extra columns — the shared tail of every bipartite edge builder. */
  private def symmetricEdges(pairs: DataFrame,
      extra: Seq[String] = Nil): DataFrame = {
    val fwd = pairs.select((col("a").as("src") +: col("b").as("dst") +:
      extra.map(col)): _*)
    val rev = pairs.select((col("b").as("src") +: col("a").as("dst") +:
      extra.map(col)): _*)
    fwd.unionAll(rev)
  }

  /** Inverse of the [[bipartiteEdgesLong]] encoding: the exact
    * "<prefix><key>" string [[bipartiteEdges]] would have produced
    * (keys are non-negative, so the arithmetic shift is exact). */
  def decodeBipartite(node: org.apache.spark.sql.Column,
      leftPrefix: String, rightPrefix: String): org.apache.spark.sql.Column =
    concat(when(node % 2 === 0, lit(leftPrefix)).otherwise(lit(rightPrefix)),
      shiftright(node, 1).cast("string"))

  /** Digit width of the ORDER-PRESERVING long encoding: keys up to
    * 10^12−1 fit; the per-side packed value is < 13·10^12 + 12 <
    * [[OrderedBase]], so (side, packed) is far inside a long. */
  private val OrderedDigits = 12
  private val OrderedBase: Long = 20000000000000L

  /** ORDER-PRESERVING long encoding of the "<prefix><key>" node string:
    * long order == string lexicographic order, bit-exactly. The side
    * contributes 0 or [[OrderedBase]] by the PREFIX CHARACTERS' own
    * order; the digits pack as `k·10^(W−len)·13 + len` — lexicographic
    * order of no-leading-zero decimal strings IS (left-aligned value,
    * length): zero-padded digit comparison only falsely ties prefix
    * pairs ("19" vs "190"), which the `len` term breaks shorter-first,
    * exactly the string rule ("p10" < "p2" ⇒ enc("p10") < enc("p2")).
    * Scan-local and STATIC: no dictionary build, no rank join, no
    * extra job, ~30 codegen'd long-arithmetic nodes (a base-11
    * per-digit packing tried first measured SLOWER than string ids at
    * sf0.1 — expression size is the whole game here). Order-sensitive
    * iterative operators (label propagation's min-label tie-break) get
    * the long-id shuffle/hash win ([[bipartiteEdgesLong]] measured
    * 1.3-2.4× on 30× PageRank) without a semantics change. Requires
    * non-negative keys < 10^[[OrderedDigits]] and two DISTINCT
    * single-char prefixes (their char order IS the side order). */
  private val Pow10: Array[Long] =
    (0 until OrderedDigits).scanLeft(1L)((a, _) => a * 10).toArray

  private def encodeOrdered(key: org.apache.spark.sql.Column,
      isLowSide: Boolean): org.apache.spark.sql.Column = {
    val k = key.cast("bigint")
    // fold ASCENDING so the outermost when tests the LARGEST threshold
    // (each step wraps the previous chain as its otherwise-branch)
    val len = (1 to OrderedDigits - 1).foldLeft(lit(1)) { (acc, d) =>
      when(k >= Pow10(d), lit(d + 1)).otherwise(acc)
    }
    val scale = (1 to OrderedDigits).foldLeft(lit(0L)) { (acc, l) =>
      when(len === l, lit(Pow10(OrderedDigits - l))).otherwise(acc)
    }
    val packed = k * scale * lit(13L) + len.cast("bigint")
    // fail LOUD outside the envelope instead of silently mis-ordering
    val guarded = when(k < 0 || k >= Pow10(OrderedDigits - 1) * 10L,
      raise_error(concat(lit("encodeOrdered: key out of [0, 10^12): "),
        key.cast("string")))).otherwise(packed)
    if (isLowSide) guarded else guarded + lit(OrderedBase)
  }

  /** [[bipartiteEdges]] with the ORDER-PRESERVING long ids of
    * [[encodeOrdered]] — the edge builder for order-sensitive iterative
    * operators (q102's label propagation). Decode with
    * [[decodeOrderedBipartite]] in the final projection. */
  def bipartiteEdgesOrderedLong(
      facts: DataFrame,
      leftKey: String,
      rightKey: String,
      leftPrefix: String,
      rightPrefix: String): DataFrame = {
    require(leftPrefix.length == 1 && rightPrefix.length == 1 &&
      leftPrefix != rightPrefix,
      "ordered encoding needs two distinct single-char prefixes")
    val leftLow = leftPrefix < rightPrefix
    // distinct BEFORE encoding: the dedup shuffle moves 16-byte raw key
    // pairs (cheaper than either strings or encoded longs + the encode
    // expression per fact row), and the packing arithmetic then runs
    // once per DISTINCT pair, not once per fact row
    symmetricEdges(facts
      .select(col(leftKey).cast("bigint").as("graft_lk"),
        col(rightKey).cast("bigint").as("graft_rk"))
      .distinct()
      .select(encodeOrdered(col("graft_lk"), leftLow).as("a"),
        encodeOrdered(col("graft_rk"), !leftLow).as("b")))
  }

  /** Inverse of [[encodeOrdered]]: the exact "<prefix><key>" string —
    * unpack (len, aligned) and shift the alignment back out. The double
    * divisions are exactly integral by construction (the numerators are
    * multiples of their divisors), so no truncation hazard exists. */
  def decodeOrderedBipartite(node: org.apache.spark.sql.Column,
      leftPrefix: String, rightPrefix: String): org.apache.spark.sql.Column = {
    val (low, high) =
      if (leftPrefix < rightPrefix) (leftPrefix, rightPrefix)
      else (rightPrefix, leftPrefix)
    val rem = node % OrderedBase
    val len = rem % 13L
    val aligned = ((rem - len) / 13L).cast("long")
    val divisor = (1 to OrderedDigits).foldLeft(lit(1L)) { (acc, l) =>
      when(len === l, lit(Pow10(OrderedDigits - l))).otherwise(acc)
    }
    val k = ((aligned - aligned % divisor) / divisor).cast("long")
    concat(when(node < OrderedBase, lit(low)).otherwise(lit(high)),
      k.cast("string"))
  }

  /** [[bipartiteEdges]] keeping multiplicity: the pair's fact count
    * becomes the edge weight `w` (for [[pageRankWeighted]] — a
    * supplier shipping a part 60× matters 60× more than a one-off). */
  def bipartiteEdgesWeighted(
      facts: DataFrame,
      leftKey: String,
      rightKey: String,
      leftPrefix: String,
      rightPrefix: String): DataFrame =
    symmetricEdges(facts
      .select(
        concat(lit(leftPrefix), col(leftKey).cast("string")).as("a"),
        concat(lit(rightPrefix), col(rightKey).cast("string")).as("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("w")),
      Seq("w"))

  /** PageRank over an edge list (`src`, `dst`), `iterations` unrolled
    * rounds, damping as an integer percent (85 = 0.85).
    *
    * Recurrence in micro-units, all integer arithmetic:
    *   contrib(e)  = rank(src) * dampingPct div (100 * out_degree(src))
    *   rank'(dst)  = (100 - dampingPct) * 10_000 + sum(contrib)
    *
    * Every node is assumed to have at least one out- and in-edge (true
    * for any undirected edge list); dangling-mass redistribution is a
    * caller concern.
    *
    * Scale shape: `degrees` and each round's aggregation shuffle on the
    * same node key, the join against `edges` is src-keyed — K rounds of
    * co-partitioned shuffles, partial-aggregated map-side. The edge
    * list is referenced K+1 times (K joins + degrees), so it is
    * materialized ONCE via `localCheckpoint` — without it every
    * iteration re-runs the edge derivation from source (for a
    * fact-table-derived graph that is K extra scans AND K extra
    * distinct shuffles; measured 5.2s → 1.6s on the q87 bipartite
    * graph at sf0.1). Checkpoint laziness is deliberate per loop
    * (r16 measured both): the convergence-checked loops
    * ([[pageRankDirected]]/[[pageRankPersonalized]]) use LAZY
    * `localCheckpoint(false)` — their per-round delta collect forces
    * each round serially, so the dedicated checkpoint job fuses away
    * (q158 2.15→1.6s class win) — while the FUSED fixed-round ops
    * here stay EAGER: a lazy frame scanned by several concurrent
    * plan legs races ahead of the block cache and recomputes its
    * tail per leg (q87 read 1.45× slower all-lazy). Blocks are
    * ContextCleaner-released when the frame is GC'd; on a cluster
    * with executor churn, a persisted/bucketed edge TABLE (the ANN
    * index-build split) replaces this. */
  def pageRank(edges: DataFrame, iterations: Int, dampingPct: Int = 85): DataFrame =
    // contrib with w ≡ 1 reduces to rank·d div (100·deg) exactly
    pageRankWeighted(edges.withColumn("w", lit(1L)), iterations, dampingPct)

  /** Weighted PageRank: each out-edge carries a positive integer
    * weight `w` and receives a weight-proportional share of its
    * source's rank — contrib = rank · dampingPct · w div (100 · Σw).
    * Still all-integer (rank ≤ total mass ≈ n·10⁶, times 85·w stays
    * far under 2⁶³), still bit-replayable.
    *
    * Scale shape: the iteration-invariant out-weight total is joined
    * into the edge list ONCE; with `broadcastNodes` (default), each
    * round BROADCASTS the node-sized rank frame against the stationary
    * edge list — the edge side never shuffles again, and the per-round
    * shuffle is only the map-side-combined (dst, contrib) partials
    * (~2× faster than the repartition-join round it replaced: 3.3s →
    * 1.6s for 3 iterations at sf0.1, nodes ~50× smaller than edges).
    * The broadcast() hint is MANDATORY, not advisory — a node table
    * past executor memory fails rather than degrading — so for graphs
    * whose node frame can't broadcast, pass broadcastNodes=false to
    * let the planner pick a co-partitioned shuffle join against the
    * src-partitioned checkpointed edges.
    *
    * `perRoundCheckpoint`: `None` (default) auto-decides round
    * materialization — plan statistics when the input has them, an
    * exact count of the already-materialized edge list when it does
    * not (a checkpointed/cached input's stats degrade to
    * defaultSizeInBytes, which must not read as "huge"). A caller
    * whose edge source is known to defeat the size estimate (heavily
    * compressed repetitive parquet under-estimates ~10×; see the
    * semDedup broadcastBlocks notes) pins the behavior with
    * `Some(true)`/`Some(false)` — results are bit-identical either
    * way, only the plan shape changes. */
  def pageRankWeighted(
      edges: DataFrame, iterations: Int, dampingPct: Int = 85,
      broadcastNodes: Boolean = true,
      perRoundCheckpoint: Option[Boolean] = None): DataFrame = {
    require(iterations >= 1, "pageRank needs at least one iteration")
    require(dampingPct > 0 && dampingPct < 100, "dampingPct must be in (0, 100)")
    def nodeSide(df: DataFrame): DataFrame =
      if (broadcastNodes) broadcast(df) else df
    // adaptive round fusion (see PerRoundCheckpointStatsBytes): small
    // graphs fuse all rounds into one plan; big graphs materialize each
    // round so round k's broadcast build never re-embeds rounds 1..k-1.
    // Plan statistics are read BEFORE the checkpoint and cost zero
    // jobs; defaultSizeInBytes-sized stats mean "unknown", not "huge",
    // and fall back to the exact cached-block count.
    val statsBytes = edges.queryExecution.optimizedPlan.stats.sizeInBytes
    val statsKnown = statsBytes < BigInt(Long.MaxValue) / 2
    // repartition before the checkpoint: AQE coalesces the (small at
    // test scale) edge derivation to a handful of partitions, and a
    // checkpoint frozen that way caps every round's scan parallelism
    val (e0, e0Ids) = Blocks.checkpointTracked(edges.repartition(col("src")))
    val perRound = perRoundCheckpoint.getOrElse(
      if (statsKnown) statsBytes > PerRoundCheckpointStatsBytes
      else e0.count() > 2000000L)
    val outW = e0.groupBy(col("src")).agg(sum(col("w")).as("wsum"))
    val (e, eIds) = Blocks.checkpointTracked(e0.join(nodeSide(outW), "src"))
    val baseRank = (100L - dampingPct) * 10000L
    val init = outW.select(col("src").as("node"), lit(1000000L).as("rank"))
    var ranks = init
    var rankIds: Set[Int] = Set.empty // init is not checkpointed
    for (_ <- 1 to iterations) {
      val body = e
        .join(nodeSide(ranks.withColumnRenamed("node", "src")), "src")
        .select(col("dst"),
          expr(s"(rank * $dampingPct * w) div (100 * wsum)").as("contrib"))
        .groupBy(col("dst"))
        .agg((sum(col("contrib")) + lit(baseRank)).as("rank"))
        .select(col("dst").as("node"), col("rank"))
      if (perRound) {
        // eager round checkpoint — the superseded round's blocks are
        // garbage the moment it materializes (r17 tracked release)
        val (next, nextIds) = Blocks.checkpointTracked(body)
        Blocks.release(ranks, rankIds)
        ranks = next
        rankIds = nextIds
      } else ranks = body
    }
    if (perRound) {
      // the returned frame is a self-contained eager checkpoint; the
      // (edge-sized) stationary frames are dead weight from here
      Blocks.release(e, eIds)
      Blocks.release(e0, e0Ids)
    }
    ranks
  }

  /** Full PageRank semantics for DIRECTED graphs: dangling-node mass
    * redistribution plus an optional early exit on rank convergence —
    * the two pieces [[pageRankWeighted]] deliberately omits (an
    * undirected edge list has no dangling nodes, and a benchmark query
    * wants a pinned iteration count).
    *
    * Recurrence, all integer micro-units (1e6 = rank 1.0), replayable
    * bit-for-bit by any engine incl. the DuckDB oracle:
    *   D          = Σ rank(v) over v with no out-edge      (dangling mass)
    *   contrib(e) = rank(src)·d·w div (100·Σw(src))
    *   rank'(v)   = (100−d)·10⁴ + Σ contrib(e→v) + D·d div (100·N)
    * Every node — dangling, source-only, isolated-in — appears in every
    * round's output (the node frame left-joins the contribution sums).
    *
    * Early exit: with `convergedDeltaMicro ≥ 0`, iteration stops once
    * max |rank − prevRank| ≤ the tolerance (exact integer compare, so
    * the stopping round is engine- and run-stable — the CC convergence
    * pattern from DedupGroups). Each round then pays one driver-side
    * scalar agg, which is why the fixed-count ops don't do this by
    * default. Returns (ranks, roundsRun).
    *
    * Scale shape: identical to [[pageRankWeighted]] — stationary
    * src-partitioned checkpointed edges, node-sized frames broadcast
    * (or shuffle-joined with broadcastNodes=false); the dangling mass
    * adds one node-frame anti-join + single-row agg per round, and the
    * node count is computed once. Edges: (src, dst[, w]); a missing `w`
    * column means unweighted. */
  def pageRankDirected(
      edges: DataFrame,
      maxIterations: Int,
      dampingPct: Int = 85,
      convergedDeltaMicro: Long = -1L,
      broadcastNodes: Boolean = true): (DataFrame, Int) = {
    require(maxIterations >= 1, "pageRank needs at least one iteration")
    require(dampingPct > 0 && dampingPct < 100, "dampingPct must be in (0, 100)")
    def nodeSide(df: DataFrame): DataFrame =
      if (broadcastNodes) broadcast(df) else df
    val withW =
      if (edges.columns.contains("w")) edges else edges.withColumn("w", lit(1L))
    // repartition before the checkpoint (see pageRankWeighted): keeps
    // the frozen edge scan at full parallelism under AQE coalescing
    val e0 = withW.repartition(col("src")).localCheckpoint(false)
    val nodes = e0.select(col("src").as("node"))
      .unionAll(e0.select(col("dst").as("node")))
      .distinct().localCheckpoint(false)
    val nNodes = nodes.count() // iteration-invariant scalar
    // empty graph: no recurrence to run, and nNodes=0 would turn the
    // dangling-share division into an ANSI error (and the convergence
    // delta agg into a null the collect would NPE on) — return the
    // empty rank frame directly
    if (nNodes == 0L)
      return (nodes.withColumn("rank", lit(1000000L)), 0)
    val outW = e0.groupBy(col("src")).agg(sum(col("w")).as("wsum"))
    val e = e0.join(nodeSide(outW), "src").localCheckpoint(false)
    val outNodes = outW.select(col("src").as("node")).localCheckpoint(false)
    val baseRank = (100L - dampingPct) * 10000L
    var ranks = nodes.withColumn("rank", lit(1000000L)).localCheckpoint(false)
    var rounds = 0
    var converged = false
    while (rounds < maxIterations && !converged) {
      // mass parked on dangling nodes this round — a single-row frame,
      // broadcast into every partition of the rank update
      val dang = ranks.join(nodeSide(outNodes), Seq("node"), "left_anti")
        .agg(coalesce(sum(col("rank")), lit(0L)).as("dmass"))
      val contribs = e
        .join(nodeSide(ranks.withColumnRenamed("node", "src")), "src")
        .select(col("dst"),
          expr(s"(rank * $dampingPct * w) div (100 * wsum)").as("contrib"))
        .groupBy(col("dst"))
        .agg(sum(col("contrib")).as("csum"))
        .select(col("dst").as("node"), col("csum"))
      val next = nodes
        .join(contribs, Seq("node"), "left")
        .crossJoin(broadcast(dang))
        .select(col("node"),
          (lit(baseRank) + coalesce(col("csum"), lit(0L)) +
            expr(s"(dmass * $dampingPct) div (100 * ${nNodes}L)")).as("rank"))
        .localCheckpoint(false) // read twice: the delta check and next round
      rounds += 1
      if (convergedDeltaMicro >= 0L) {
        val delta = next
          .join(ranks.select(col("node"), col("rank").as("prev")), "node")
          .agg(max(abs(col("rank") - col("prev"))).as("d"))
          .collect()(0).getLong(0)
        converged = delta <= convergedDeltaMicro
      }
      ranks = next
    }
    (ranks, rounds)
  }

  /** Personalized PageRank (random walk with restart): teleport mass
    * lands ONLY on the `seeds` set, so ranks measure proximity to the
    * seeds rather than global importance — the curation primitive
    * behind "expand a trusted corpus": seed with vetted documents,
    * walk the similarity/link graph, harvest the high-rank frontier.
    *
    * Recurrence, integer micro-units, total mass pinned at N·10⁶
    * (matching [[pageRankDirected]] so the two are comparable):
    *   rank₀(v)   = 10⁶·N div S for v ∈ seeds, else 0
    *   D          = Σ rank(v) over v with no out-edge
    *   contrib(e) = rank(src)·d·w div (100·Σw(src))
    *   rank'(v)   = Σ contrib(e→v) +
    *                1[v ∈ seeds]·((100−d)·10⁴·N div S + D·d div (100·S))
    * Dangling mass restarts at the seeds too (the standard PPR walk:
    * a walker who falls off the graph teleports home). All terms are
    * int64: rank can concentrate to ~N·10⁶ on one node, so the
    * contrib product rank·d·w stays in range to N ≈ 10¹¹ unweighted —
    * document-graph scale, and 10⁵× today's largest fixture.
    *
    * Seeds not present in the graph are ignored (they can receive no
    * walk mass); seeds ∩ nodes = ∅ throws rather than emitting the
    * all-zero frame a silent empty intersection would produce.
    * Early exit and broadcastNodes behave as in [[pageRankDirected]].
    * Returns (ranks, roundsRun). */
  def pageRankPersonalized(
      edges: DataFrame,
      seeds: DataFrame,
      maxIterations: Int,
      dampingPct: Int = 85,
      convergedDeltaMicro: Long = -1L,
      broadcastNodes: Boolean = true): (DataFrame, Int) = {
    require(maxIterations >= 1, "pageRank needs at least one iteration")
    require(dampingPct > 0 && dampingPct < 100, "dampingPct must be in (0, 100)")
    def nodeSide(df: DataFrame): DataFrame =
      if (broadcastNodes) broadcast(df) else df
    val withW =
      if (edges.columns.contains("w")) edges else edges.withColumn("w", lit(1L))
    val e0 = withW.repartition(col("src")).localCheckpoint(false)
    val nodes = e0.select(col("src").as("node"))
      .unionAll(e0.select(col("dst").as("node")))
      .distinct().localCheckpoint(false)
    val nNodes = nodes.count()
    if (nNodes == 0L) return (nodes.withColumn("rank", lit(0L)), 0)
    val sd = seeds.select(col("node")).distinct()
      .join(nodes, Seq("node"), "left_semi").localCheckpoint(false)
    val nSeeds = sd.count()
    require(nSeeds > 0L, "no seed is a node of the graph")
    val outW = e0.groupBy(col("src")).agg(sum(col("w")).as("wsum"))
    val e = e0.join(nodeSide(outW), "src").localCheckpoint(false)
    val outNodes = outW.select(col("src").as("node")).localCheckpoint(false)
    // per-seed teleport and initial mass: driver-side exact int div
    val baseSeed = (100L - dampingPct) * 10000L * nNodes / nSeeds
    val initSeed = 1000000L * nNodes / nSeeds
    // the seed indicator rides the node frame through every round
    val nodeFlags = nodes
      .join(sd.withColumn("is_seed", lit(1)), Seq("node"), "left")
      .localCheckpoint(false)
    var ranks = nodeFlags
      .select(col("node"),
        when(col("is_seed") === 1, lit(initSeed)).otherwise(lit(0L)).as("rank"))
      .localCheckpoint(false)
    var rounds = 0
    var converged = false
    while (rounds < maxIterations && !converged) {
      val dang = ranks.join(nodeSide(outNodes), Seq("node"), "left_anti")
        .agg(coalesce(sum(col("rank")), lit(0L)).as("dmass"))
      val contribs = e
        .join(nodeSide(ranks.withColumnRenamed("node", "src")), "src")
        .select(col("dst"),
          expr(s"(rank * $dampingPct * w) div (100 * wsum)").as("contrib"))
        .groupBy(col("dst"))
        .agg(sum(col("contrib")).as("csum"))
        .select(col("dst").as("node"), col("csum"))
      val next = nodeFlags
        .join(contribs, Seq("node"), "left")
        .crossJoin(broadcast(dang))
        .select(col("node"),
          (coalesce(col("csum"), lit(0L)) +
            when(col("is_seed") === 1,
              lit(baseSeed) +
                expr(s"(dmass * $dampingPct) div (100 * ${nSeeds}L)"))
              .otherwise(lit(0L))).as("rank"))
        .localCheckpoint(false)
      rounds += 1
      if (convergedDeltaMicro >= 0L) {
        val delta = next
          .join(ranks.select(col("node"), col("rank").as("prev")), "node")
          .agg(max(abs(col("rank") - col("prev"))).as("d"))
          .collect()(0).getLong(0)
        converged = delta <= convergedDeltaMicro
      }
      ranks = next
    }
    (ranks, rounds)
  }

  /** Synchronous label propagation (community detection): every node
    * starts as its own community and each round adopts the most
    * frequent label among its NEIGHBORS (ties → smallest label), all
    * nodes updating simultaneously. The third Pregel shape here —
    * argmax-propagation next to [[pageRank]]'s sum and [[bfsHops]]'s
    * min — and the deterministic variant of LPA (asynchronous LPA is
    * order-dependent; synchronized rounds + the min tie-break replay
    * identically in any engine).
    *
    * Scale shape per round: the node-sized label frame BROADCASTS
    * against the stationary edge list (no edge bytes move), then one
    * (src, label)-keyed count (map-side partial) and a per-src
    * `min_by` argmax — an aggregation, not a rank window, so there is
    * no per-partition sort and the partial aggregates combine
    * map-side. min_by(label, (-n, label)) == "max count, ties to the
    * smallest label" because struct ordering is lexicographic. The
    * broadcast() hint is MANDATORY, not advisory (past executor
    * memory it fails, it does not degrade): pass
    * broadcastNodes=false for graphs whose node frame can't
    * broadcast and the planner joins against the dst-partitioned
    * checkpointed edges instead. */
  def labelPropagation(edges: DataFrame, rounds: Int,
      broadcastNodes: Boolean = true): DataFrame = {
    require(rounds >= 1, "labelPropagation needs at least one round")
    def nodeSide(df: DataFrame): DataFrame =
      if (broadcastNodes) broadcast(df) else df
    // repartition before the checkpoint (see pageRankWeighted): keeps
    // the frozen edge scan at full parallelism under AQE coalescing
    val e = edges.repartition(col("dst")).localCheckpoint()
    // rounds stay FUSED here deliberately: label-prop's fused plan is
    // far less broadcast-heavy than PageRank's (measured 10× fixture:
    // fused 29s vs per-round-checkpointed 36s; at 30× fused scales at
    // 20× vs PageRank's 48×), so the pageRankWeighted adaptive
    // materialization would cost, not save
    val init = e.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
    (1 to rounds).foldLeft(init) { (labels, _) =>
      e.join(nodeSide(labels.withColumnRenamed("node", "dst")), "dst")
        .groupBy(col("src"), col("label"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("src"))
        .agg(min_by(col("label"),
          struct((-col("n")).as("a"), col("label").as("b"))).as("label"))
        .select(col("src").as("node"), col("label"))
    }
  }

  /** Per-node triangle counts and local clustering coefficient over an
    * undirected graph, given CANONICAL edges `(a, b)` with `a < b`,
    * each pair once. Output: (node, deg, tri, coeff_bp) for every node
    * with at least one edge, where coeff_bp is the local clustering
    * coefficient in basis points with floor division —
    * `2·tri·10⁴ div (deg·(deg−1))`, 0 for degree-1 nodes — so the
    * result replays bit-identically in any integer engine.
    *
    * Scale shape — degree-ordered orientation (the textbook
    * O(m^{3/2}) bound): every edge is oriented from its lower to its
    * higher endpoint in the total order (degree, node), which caps
    * every node's out-degree at O(√m) regardless of skew — a celebrity
    * node with 10⁷ followers contributes wedges only through its few
    * HIGHER-ordered neighbors, not through C(10⁷, 2) follower pairs.
    * The wedge build is then a src-co-partitioned self-join of the
    * oriented list, closed by one (src,dst)-keyed hash join back
    * against it; each triangle is found exactly once, and the corner
    * attribution is a map-side-combined count. Nothing is broadcast
    * (AQE upgrades the tiny sides at test scale on its own) and
    * nothing touches the driver. */
  def triangleCounts(edges: DataFrame): DataFrame = {
    // canonical pairs, materialized once: referenced by the degree
    // build, the wedge self-join, and the closing probe
    val ed = edges.select(col("a"), col("b")).distinct()
      .repartition(col("a")).localCheckpoint()
    val deg = ed.select(col("a").as("node"))
      .unionAll(ed.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // orient low→high in (deg, node) order; carry dst's order key for
    // the wedge comparator below
    val da = deg.select(col("node").as("a"), col("deg").as("dega"))
    val db = deg.select(col("node").as("b"), col("deg").as("degb"))
    val oriented = ed.join(da, "a").join(db, "b")
      .select(
        when(struct(col("dega"), col("a")) < struct(col("degb"), col("b")),
          struct(col("a").as("src"), col("b").as("dst"), col("degb").as("degdst")))
          .otherwise(
            struct(col("b").as("src"), col("a").as("dst"), col("dega").as("degdst")))
          .as("o"))
      .select(col("o.src").as("src"), col("o.dst").as("dst"),
        col("o.degdst").as("degdst"))
      .repartition(col("src")).localCheckpoint()
    // wedges from each src's out-neighbor pairs, ordered by the SAME
    // total order the orientation used, so the closing edge — if the
    // triangle exists — is oriented exactly (b, c)
    val o2 = oriented.select(col("src"), col("dst").as("dst2"),
      col("degdst").as("degdst2"))
    val wedges = oriented.join(o2, "src")
      .filter(struct(col("degdst"), col("dst")) <
        struct(col("degdst2"), col("dst2")))
      .select(col("src").as("ta"), col("dst").as("tb"), col("dst2").as("tc"))
    val tris = wedges.join(
      oriented.select(col("src").as("tb"), col("dst").as("tc")),
      Seq("tb", "tc"))
    // one corner row per triangle vertex via explode — a 3-way union of
    // selects re-executes the wedge join once PER BRANCH (plan-audited)
    val corners = tris
      .select(explode(array(col("ta"), col("tb"), col("tc"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("tri"))
    deg.join(corners, Seq("node"), "left")
      .select(col("node"), col("deg"), coalesce(col("tri"), lit(0L)).as("tri"))
      .select(col("node"), col("deg"), col("tri"),
        when(col("deg") >= 2,
          expr("(tri * 2 * 10000) div (deg * (deg - 1))"))
          .otherwise(lit(0L)).as("coeff_bp"))
  }

  /** Common-neighbor link prediction: for every NON-adjacent node pair
    * with at least one shared neighbor, the shared-neighbor count,
    * neighborhood Jaccard in floor basis points —
    * `common·10⁴ div (deg(a) + deg(b) − common)` — and two
    * center-weighted scores that discount promiscuous neighbors:
    * Adamic–Adar `Σ_c 1/ln(deg(c))` in floor micro-units and
    * resource allocation `Σ_c 1/deg(c)` in floor ppm. Both are summed
    * as integers (each term floors to int64 BEFORE the sum), so the
    * result is add-order-independent and bit-identical across engines
    * — the same exact-recurrence discipline as the PageRank micro
    * units. A wedge center always has degree ≥ 2, so `ln(deg)` never
    * divides by zero. Input is CANONICAL edges `(a, b)`, `a < b`;
    * output pairs are canonical too.
    *
    * Scale shape: wedge generation is the quadratic step — a center of
    * degree d emits C(d, 2) pairs, and unlike triangle counting there
    * is no orientation trick (every wedge must be seen from its
    * center, however the center ranks). The standard mitigation is the
    * `maxCenterDegree` cap: hyper-hub centers are EXCLUDED from wedge
    * generation (a 10⁷-degree celebrity asserts nothing about its
    * followers' pairwise affinity — every pair would "share" it), the
    * same shape as the LSH bucket cap. The cap decision is one
    * node-sized aggregate; degrees in the Jaccard denominator still
    * count ALL edges. Everything downstream is co-partitioned
    * (x,y)-keyed aggregation with map-side partials. */
  def commonNeighborPairs(
      edges: DataFrame, maxCenterDegree: Long = 1024L): DataFrame = {
    val ed = edges.select(col("a"), col("b")).distinct()
      .repartition(col("a")).localCheckpoint()
    val sym = ed.select(col("a").as("c"), col("b").as("n"))
      .unionAll(ed.select(col("b").as("c"), col("a").as("n")))
    val deg = sym.groupBy(col("c")).agg(count(lit(1)).as("deg"))
    val centers = deg.filter(col("deg") <= maxCenterDegree)
    val fanout = sym.join(centers, Seq("c"))
    val n2 = fanout.select(col("c"), col("n").as("n2"))
    val cn = fanout.join(n2, "c")
      .filter(col("n") < col("n2"))
      .groupBy(col("n").as("a"), col("n2").as("b"))
      .agg(count(lit(1)).as("common"),
        sum(expr("cast(floor(1000000.0 / ln(deg)) as bigint)"))
          .as("aa_micro"),
        sum(expr("1000000 div deg")).as("ra_ppm"))
      .join(ed, Seq("a", "b"), "left_anti")
    cn.join(deg.select(col("c").as("a"), col("deg").as("dega")), "a")
      .join(deg.select(col("c").as("b"), col("deg").as("degb")), "b")
      .select(col("a"), col("b"), col("common"),
        expr("(common * 10000) div (dega + degb - common)").as("jaccard_bp"),
        col("aa_micro"), col("ra_ppm"))
  }

  /** Deterministic random-walk corpus over an undirected graph
    * (node2vec-style input for embedding training): `walksPerNode`
    * walks start at every node and take `walkLength` uniform steps.
    * Output is one row per visited position — (start, walk, step,
    * node), step 0 = the start itself.
    *
    * "Random" is a salted md5 draw, NOT rand(): step t of walk w at
    * node v picks neighbor index `h24(salt:v:w:t) mod deg(v)` over the
    * dst-sorted adjacency, so re-runs (and the DuckDB oracle) replay
    * the exact same corpus, and re-salting draws an independent one —
    * the same discipline as [[graft.operators.Sampling]]. The 24-bit
    * draw is uniform to a bias of deg/2²⁴ (negligible below
    * hub-degree ~10⁵; hubs above that only lose draw uniformity, not
    * determinism).
    *
    * Scale shape: the ranked adjacency is built once — one groupBy
    * collecting each node's sorted neighbor list (bounded by max
    * degree, the LSH-bucket-cap memory shape), posexploded to (src,
    * idx, dst) and checkpointed src-partitioned. Each step is one
    * broadcast join against the node-sized degree frame (compute the
    * pick) plus one (src, idx)-keyed equi-join against the stationary
    * adjacency — the frontier (N·walksPerNode rows) moves, edges
    * never re-shuffle. `broadcastNodes=false` swaps the mandatory
    * degree broadcast for a shuffle join, as in [[pageRankDirected]]. */
  def randomWalks(
      edges: DataFrame,
      walksPerNode: Int,
      walkLength: Int,
      salt: String = "graft-walk",
      broadcastNodes: Boolean = true): DataFrame = {
    require(walksPerNode >= 1, "walksPerNode must be >= 1")
    require(walkLength >= 1, "walkLength must be >= 1")
    def nodeSide(df: DataFrame): DataFrame =
      if (broadcastNodes) broadcast(df) else df
    val ed = edges.select(col("a"), col("b")).distinct()
    val sym = ed.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(ed.select(col("b").as("src"), col("a").as("dst")))
    val grouped = sym.groupBy(col("src"))
      .agg(sort_array(collect_list(col("dst"))).as("ns"))
    val degs = grouped
      .select(col("src").as("cur"), size(col("ns")).cast("bigint").as("deg"))
      .localCheckpoint()
    val adj = grouped
      .selectExpr("src", "posexplode(ns) as (idx, dst)")
      .select(col("src").as("cur"), col("idx").cast("bigint").as("pick"),
        col("dst"))
      .repartition(col("cur")).localCheckpoint()
    var frontier = degs.select(col("cur").as("start"))
      .withColumn("walk",
        explode(sequence(lit(0L), lit(walksPerNode.toLong - 1L))))
      .withColumn("cur", col("start"))
      .localCheckpoint()
    def positions(step: Int, f: DataFrame): DataFrame =
      f.select(col("start"), col("walk"), lit(step.toLong).as("step"),
        col("cur").as("node"))
    var out = positions(0, frontier)
    for (t <- 1 to walkLength) {
      frontier = frontier
        .join(nodeSide(degs), "cur")
        .withColumn("pick",
          expr(s"cast(conv(substring(md5(concat('$salt:', " +
            s"cast(cur as string), ':', cast(walk as string), ':$t')), " +
            s"1, 6), 16, 10) as bigint) % deg"))
        .join(adj, Seq("cur", "pick"))
        .select(col("start"), col("walk"), col("dst").as("cur"))
        .localCheckpoint()
      out = out.unionAll(positions(t, frontier))
    }
    out
  }

  /** k-core peel: iteratively remove nodes of degree < k (with their
    * edges) from an undirected graph, given CANONICAL edges `(a, b)`
    * with `a < b`. Each round drops every current sub-k node
    * SIMULTANEOUSLY, so the round sequence — and therefore the fixed-
    * round result — is engine-replayable. `rounds ≥ 0` pins the peel
    * count (a benchmark wants a stable plan; extra rounds past the
    * fixpoint are no-ops, so over-provisioning rounds is safe);
    * `rounds = -1` peels to the true k-core, checking convergence via
    * one edge-count per round (the DedupGroups pattern). Returns the
    * surviving nodes with their in-core degree.
    *
    * Scale shape per round: one src-keyed degree aggregation
    * (map-side-combined) and two semi-joins against the node-sized
    * survivor frame; the shrinking edge list is re-materialized each
    * round (the edge set CHANGES per round, so PageRank's stationary-
    * edge broadcast trick does not apply — this is the DedupGroups /
    * connected-components shape instead). */
  def kCorePeel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1, "kCorePeel needs k >= 1")
    require(rounds >= -1, "rounds must be >= 0, or -1 for fixpoint")
    var (sym, symIds) = Blocks.checkpointTracked(
      edges.select(col("a").as("s"), col("b").as("d"))
        .unionAll(edges.select(col("b").as("s"), col("a").as("d")))
        .repartition(col("s")))
    val toFixpoint = rounds == -1
    // the edge count drives the convergence check only — fixed-round
    // mode never touches the driver between rounds
    var n = if (toFixpoint) sym.count() else -1L
    var done = toFixpoint && n == 0L
    var r = 0
    while (!done && (toFixpoint || r < rounds)) {
      val keep = sym.groupBy(col("s")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("s"))
      val (next, nextIds) = Blocks.checkpointTracked(sym
        .join(keep, Seq("s"), "left_semi")
        .join(keep.select(col("s").as("d")), Seq("d"), "left_semi")
        .select(col("s"), col("d")))
      // the eager checkpoint materialized `next` — the superseded
      // round's edge blocks are garbage now (r17 tracked release, see
      // DedupGroups.connectedComponents)
      Blocks.release(sym, symIds)
      sym = next
      symIds = nextIds
      r += 1
      if (toFixpoint) {
        val after = sym.count()
        done = after == n || after == 0L
        n = after
      }
    }
    sym.groupBy(col("s")).agg(count(lit(1)).as("deg"))
      .select(col("s").as("node"), col("deg"))
  }

  /** Bounded-depth BFS: minimum hop count from a source node set,
    * `rounds` frontier expansions (nodes further than `rounds` hops
    * are absent from the output). The other Pregel shape next to
    * [[pageRank]] — min-propagation instead of sum-propagation.
    *
    * True frontier expansion: only nodes DISCOVERED last round expand
    * (a node first reached in round r has hop exactly r, so no min()
    * merge is needed — discovery order IS the minimum). The naive
    * form re-expands every visited node every round, which on a dense
    * graph re-walks nearly all edges in the last round for zero new
    * information; the frontier form's last round touches only the
    * (typically tiny) newly-reached fringe.
    *
    * Scale shape per round: the frontier and visited frames are
    * node-sized and broadcast against the stationary edge list; the
    * only shuffle is the distinct over the fringe's neighbor list.
    * The broadcast() hint is MANDATORY, not advisory (past executor
    * memory it fails, it does not degrade): pass broadcastNodes=false
    * for graphs whose node frames can't broadcast — the recurrence is
    * unchanged, the joins become src-keyed shuffles. */
  def bfsHops(edges: DataFrame, sources: DataFrame, rounds: Int,
      broadcastNodes: Boolean = true): DataFrame = {
    require(rounds >= 1, "bfsHops needs at least one round")
    def nodeSide(df: DataFrame): DataFrame =
      if (broadcastNodes) broadcast(df) else df
    // repartition before the checkpoint (see pageRankWeighted): keeps
    // the frozen edge scan at full parallelism under AQE coalescing
    val e = edges.repartition(col("src")).localCheckpoint()
    // distinct: the old min()-merge form collapsed duplicate source
    // rows; the frontier form's anti-join only blocks RE-discovery,
    // so duplicates in `sources` would survive into every output row
    // `visited` is a LAZY UNION of per-round eager checkpoints (r17):
    // the old form re-checkpointed the whole accumulated frame every
    // round — one extra job per round plus an O(visited) copy whose
    // superseded blocks piled up. Each round now runs exactly ONE job
    // (the fringe checkpoint); the anti-join and the returned frame
    // scan the materialized leaves through the cheap union.
    var visited = sources.select(col("node")).distinct()
      .select(col("node"), lit(0L).as("hop"))
      .localCheckpoint()
    var frontier = visited.select(col("node"))
    for (r <- 1 to rounds) {
      val next = e
        .join(nodeSide(frontier.withColumnRenamed("node", "src")), "src")
        .select(col("dst").as("node")).distinct()
        .join(nodeSide(visited.select(col("node"))), Seq("node"), "left_anti")
        .select(col("node"), lit(r.toLong).as("hop"))
        .localCheckpoint() // read thrice (union + anti joins); all leaves live in the result
      visited = visited.unionAll(next)
      frontier = next.select(col("node"))
    }
    visited
  }
}
