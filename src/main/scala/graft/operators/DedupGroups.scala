package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Duplicate-cluster assignment: turn near-duplicate PAIRS into GROUPS.
  *
  * LSH verification ([[MinHashLsh.nearDuplicates]]) emits edges; what a
  * dedup pipeline actually acts on is the connected component — "these
  * 5 docs are all the same article, keep one". Labels are propagated to
  * the minimum doc_id in each component, so the output —
  * `(doc_id, group_id)` with `group_id = min(component)` — is unique
  * regardless of execution order, and the keeper convention (keep
  * `doc_id == group_id`) matches `q24_dedup_exact`'s
  * min-id rule.
  *
  * Scale shape: min-label propagation, one hash-join + partial-agg min
  * per round, `O(component diameter)` rounds. Near-dup components are
  * shallow (dozens of docs, diameter ≤ a few hops), so this converges
  * in 2-4 rounds on real corpora; each round's frame is
  * `localCheckpoint`ed so the plan does not grow with iterations. For
  * adversarially deep graphs swap in the large-star/small-star
  * alternation — the round body is the same join.
  */
object DedupGroups {

  /** Connected components of an undirected pair list
    * (`doc_a`, `doc_b`). Output: (doc_id, group_id), one row per
    * distinct doc appearing in any pair.
    *
    * Rounds from `shortcutAfter` on (0-based) add pointer doubling —
    * every doc also adopts its current label's label (label(label(v)),
    * one extra labels⋈labels hash join on the label key) — collapsing
    * the round count from O(component diameter) to O(log diameter): a
    * 10⁶-doc template-spam CHAIN converges in ~20 rounds instead of
    * 10⁶ (DedupGroupsSpec proves a path graph plain propagation
    * cannot finish within its round budget). The result is
    * bit-identical (still min doc_id over the component; spec-pinned).
    *
    * The default of 4 makes that trade ADAPTIVE: a loop still
    * unconverged after that many plain rounds is propagating through a
    * deep component, so doubling switches on mid-loop — shallow dedup
    * graphs (2-4 rounds, the common case) never pay the extra join,
    * and chain-shaped graphs (q101's prefix-edit chains ran to ~19 of
    * the 20-round cap, ~90 driver round-trips) collapse to
    * O(log diameter) remaining rounds. `shortcutAfter = 0` doubles
    * from the first round; `Int.MaxValue` never does. The fixpoint is
    * the same labels either way — only the number of rounds to reach
    * it changes, which the convergence check already owns. */
  def connectedComponents(pairs: DataFrame, maxRounds: Int = 20,
      shortcutAfter: Int = 4): DataFrame = {
    // ONE job per round (r16 — the loop was action-bound, ~50 ms per
    // driver round-trip at bench scale and a full barrier at cluster
    // scale): the round's eager checkpoint is the round's only action,
    // and convergence rides it as an `observe` metric (CollectMetrics
    // is collected by the checkpoint job itself) instead of the old
    // separate `isEmpty`, whose incremental limit ran up to
    // log₄(partitions) probe jobs per converged round. Eager, not
    // lazy: `labels` is scanned by 2-3 legs per round (own-flag union,
    // neighbor join, shortcut self-join), and lazy frames under
    // concurrent legs recompute their tail per leg (measured — see
    // MinHashLsh.nearDuplicates). Superseded round frames are released
    // EXPLICITLY the moment their successor is materialized (r17 —
    // relying on the ContextCleaner let ~rounds×partitions blocks
    // pile up for the whole query; the r16 driver bench measured the
    // family's second pass 1.6-2.7× slower inside that residue).
    // the r16 snapshot commit hash-partitioned this frame by the join
    // key (exchange-labels-only, guide §2.4) — REMOVED in r17 after
    // measuring it in isolation: pinning the bench-scale edge set to
    // spark.sql.shuffle.partitions partitions for every round's join
    // defeats AQE coalescing and costs per-task overhead (q42 3.01 s
    // with vs 2.64 s without, q101 4.85 vs 4.48; plans/r17 notes). At
    // 100 TB the same idea belongs in a BUCKETED edge table, not a
    // per-query repartition.
    val (edges, edgeIds) = Blocks.checkpointTracked(
      pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst"))))
    var (labels, labelIds) = Blocks.checkpointTracked(
      edges.select(col("src").as("doc_id")).distinct()
        .withColumn("group_id", col("doc_id")))
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      // each doc's own row is flagged so the SAME aggregation carries
      // the previous label out — convergence then reads the (tiny)
      // checkpointed frame instead of joining the two generations
      val viaNeighbor = edges
        .join(labels.select(col("doc_id").as("dst"), col("group_id")), Seq("dst"))
        .select(col("src").as("doc_id"), col("group_id"), lit(false).as("own"))
      val viaShortcut =
        if (round < shortcutAfter) Nil
        else Seq(labels.select(col("doc_id"), col("group_id").as("graft_mid"))
          .join(labels.select(col("doc_id").as("graft_mid"),
            col("group_id")), Seq("graft_mid"))
          .select(col("doc_id"), col("group_id"), lit(false).as("own")))
      // no-arg Observation: UUID-named, so two concurrent CC loops in
      // one session can never cross-match metrics by name
      val obs = new org.apache.spark.sql.Observation()
      val (next, nextIds) = Blocks.checkpointTracked(
        (Seq(labels.withColumn("own", lit(true)), viaNeighbor)
          ++ viaShortcut)
          .reduce(_ union _)
          .groupBy(col("doc_id"))
          .agg(min(col("group_id")).as("group_id"),
            min(when(col("own"), col("group_id"))).as("prev"))
          .observe(obs,
            count(when(col("group_id") =!= col("prev"), lit(1))).as("changed")))
      converged = obs.get("changed").asInstanceOf[Long] == 0L
      // the eager checkpoint above materialized `next`, so round N-1's
      // blocks are garbage NOW — release them instead of letting them
      // ride to the end of the query
      Blocks.release(labels, labelIds)
      labels = next.drop("prev")
      labelIds = nextIds
      round += 1
    }
    // the returned frame is a self-contained eager checkpoint — the
    // (larger) edge blocks are dead weight from here
    Blocks.release(edges, edgeIds)
    require(converged, s"connectedComponents did not converge in $maxRounds rounds")
    labels
  }

  /** Full dedup plan for a documents table: near-dup groups with member
    * count and the min-id keeper, one row per grouped doc. Docs in no
    * pair are implicitly their own group and are not emitted. */
  def dedupGroups(docs: DataFrame, threshold: Double = 0.2): DataFrame = {
    val pairs = MinHashLsh.nearDuplicates(docs, threshold = threshold)
    connectedComponents(pairs.select(col("doc_a"), col("doc_b")))
      .withColumn("keep", (col("doc_id") === col("group_id")).as("keep"))
  }

  /** Keep-BEST variant: same groups as [[dedupGroups]], but the keeper
    * is the member with the highest score (ties → smallest doc_id) —
    * curation keeps the best-quality copy of an article, not the
    * lowest-id one. `scores` is any (doc_id, score) frame (e.g.
    * [[TextOps.qualityFeatures]]' composite). The argmax is a window
    * partitioned by group — state scales with group size (dozens), not
    * corpus size. Output: (doc_id, group_id, score, keep). */
  def dedupGroupsKeepBest(
      docs: DataFrame,
      scores: DataFrame,
      scoreCol: String,
      threshold: Double = 0.2): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("group_id"))
      .orderBy(col("score").desc_nulls_last, col("doc_id"))
    dedupGroups(docs, threshold)
      .drop("keep")
      // LEFT join: a member missing from `scores` must still appear
      // (null score, sorted last) — an inner join would silently drop
      // it from the output, and a pipeline deleting keep=false rows
      // would then retain the unscored duplicate forever
      .join(scores.select(col("doc_id"), col(scoreCol).as("score")),
        Seq("doc_id"), "left")
      .withColumn("keep", row_number().over(w) === 1)
  }
}
