package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Unsplittable-input parallelism guard (optimization guide §2.5: "one
  * huge unsplittable file … repartition immediately after the read").
  *
  * The driver testdata tables are single-row-group parquet files, so
  * their scans plan ONE input partition no matter the session core
  * count — Spark's split packing cannot cut below a row group — and
  * every expensive per-row kernel downstream (minhash signing, span
  * shingling, quality regexes) serializes on one task while the other
  * 31 cores idle. Measured at sf0.1 (isolated min-of-3): minhash
  * signatures 0.51 s → 0.13 s, spanDedup 1.87 s → 1.29 s,
  * qualityFeatures 0.21 s → 0.13 s once re-spread; cheap scans get
  * SLOWER (events count/sum agg 0.11 s → 0.30 s — the exchange costs
  * more than it parallelizes), so this is applied per-kernel, never
  * blanket.
  *
  * The trigger is size-based and planning-free: re-spread only when
  * the frame's file-source leaves cannot possibly pack `parallelism`
  * splits (total file bytes < openCostInBytes × parallelism — the
  * same arithmetic FilePartition packing uses). At production scale
  * any real table clears the threshold and the branch inserts
  * NOTHING — plans are unchanged where the scan is already parallel.
  * Frames with no file-source leaf (streaming micro-batches,
  * checkpointed RDDs, literal relations) are never touched.
  *
  * Row ORDER is not preserved across the round-robin exchange — do
  * not use upstream of order-sensitive state (e.g. the
  * monotonically_increasing_id LWW sequence in TableStore). Every
  * call site here feeds order-insensitive aggregation (min/struct,
  * collect_set, array_sort(collect_list), integer sums).
  *
  * Guards over a kernel column: Spark pushes every deterministic filter
  * through the round-robin exchange, so `filter(size(kernel) > 0)`
  * written after `scan` lands in the single-task scan, and the kernel
  * runs twice — once serially below the exchange, once in parallel
  * above it. Put the guard inside the generator
  * (`explode(when(guard, …))`: a generator over a non-attribute input
  * gets no inferred filter) or above an operator a filter cannot cross
  * (an aggregate, or a join condition over both sides).
  */
object Spread {

  /** `df` repartitioned to the session parallelism iff its file-source
    * leaves are too small to ever plan that many splits; `df` itself
    * otherwise (no exchange inserted). */
  def scan(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val p = spark.sparkContext.defaultParallelism
    // typed conf accessor: the string form throws on Spark's accepted
    // byte-string syntax ("4MB"), which would break every Spread-
    // wrapped operator at plan-build time (r16 ADVICE)
    val openCost = spark.sessionState.conf.filesOpenCostInBytes
    val leaves = df.queryExecution.optimizedPlan.collectLeaves()
    val fileBytes = leaves.collect {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => fs.location.sizeInBytes
        case _ => 0L
      }
    }
    if (fileBytes.nonEmpty && fileBytes.forall(_ >= 0) &&
        fileBytes.sum < openCost * p)
      df.repartition(p)
    else df
  }
}
