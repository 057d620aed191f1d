package graft.operators

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The block lifecycle of one iterative operator call: every round
  * checkpoint goes through [[checkpoint]], and a superseded generation
  * is handed to [[retire]], which works out when its blocks may go.
  *
  * Why release at all: a loop that re-checkpoints per round otherwise
  * pins one copy of its state per round until a JVM GC lets the
  * ContextCleaner notice the dead frames; the r16 driver bench measured
  * the dedup family's second pass 1.6-2.7× slower inside the first
  * pass's residue. Releasing each generation as soon as it is safe keeps
  * a loop at two generations whatever its round count.
  *
  * The rule: a checkpoint truncates lineage, so a retired frame's
  * blocks may go only once every checkpoint of this `Blocks` whose plan
  * reads it has all of its partitions cached (Zaharia et al., RDDs,
  * NSDI 2012). An eager checkpoint is cached when [[checkpoint]]
  * returns; a lazy one counts as cached once the driver's storage
  * status (`SparkContext.getRDDStorageInfo`, no job) lists every
  * partition. `RDD.isCheckpointed` is not that signal: under AQE a lazy
  * checkpoint read only inside its successor's shuffle map stage stays
  * unmarked with every partition cached. A reader that was itself
  * retired and released needs nothing any more. The storage status is
  * fed by the listener bus, so a release can trail its successor's
  * action by one call; each call re-checks every pending retirement.
  *
  * The caller's promise: nothing reads a retired frame afterwards
  * except through checkpoints made by this `Blocks`. Only RDDs this
  * instance pinned are ever unpersisted; the pinned RDD is read off the
  * checkpointed frame's own plan (a `LogicalRDD`), never a global
  * persisted-RDD delta that a concurrent query could share.
  */
private[graft] final class Blocks {

  /** own checkpoint RDD id → ids of own checkpoints whose plans read it */
  private val readers = mutable.Map.empty[Int, Set[Int]]
  /** own checkpoints that need their inputs no more: fully cached, or
    * released themselves */
  private val done = mutable.Set.empty[Int]
  private val retired = mutable.Set.empty[Int]

  /** `df.localCheckpoint(eager)`, recording which earlier checkpoints of
    * this instance its plan reads. */
  def checkpoint(df: DataFrame, eager: Boolean = true): DataFrame = {
    val reads = ownRdds(df)
    val cp = df.localCheckpoint(eager)
    val rdd = planRdds(cp).head
    readers(rdd.id) = Set.empty
    // an empty RDD has no block to report and is trivially complete
    if (eager || rdd.getNumPartitions == 0) done += rdd.id
    reads.foreach(r => readers(r) += rdd.id)
    sweep(cp.sparkSession.sparkContext)
    cp
  }

  /** Mark every checkpoint of this instance that `df`'s plan reads as
    * superseded: its blocks go as soon as the rule above allows. */
  def retire(df: DataFrame): Unit = {
    retired ++= ownRdds(df)
    sweep(df.sparkSession.sparkContext)
  }

  private def planRdds(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd }

  private def ownRdds(df: DataFrame): Set[Int] =
    planRdds(df).map(_.id).filter(readers.contains).toSet

  private def sweep(sc: SparkContext): Unit = {
    val waiting = retired.flatMap(readers) -- done
    if (waiting.nonEmpty) done ++= sc.getRDDStorageInfo.collect {
      case i if waiting(i.id) && i.numCachedPartitions == i.numPartitions => i.id
    }
    val free = retired.filter(readers(_).forall(done))
    free.foreach(id =>
      sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
    retired --= free
    done ++= free
  }
}
