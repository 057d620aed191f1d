package graft.store

import org.apache.hadoop.fs.{FileSystem, Path}

/** The one snapshot swap behind every parquet "update in place": the
  * store's K3 upsert and K5 message updates, the streaming CDC sink and
  * small-file compaction.
  *
  * Parquet has no in-place UPDATE, and Spark cannot overwrite a path
  * that feeds the plan writing it. So the new snapshot is written to a
  * staging dir and moved into place: live → aside, staged → live,
  * delete aside. Both are dot-prefixed siblings of the live dir,
  * `.<name>.staged` and `.<name>.old`, so Spark's partition discovery
  * never reads them as data, even inside a partitioned table. Every
  * rename is checked; a failed one aborts with the data still under a
  * named path.
  *
  * Invariant: no aside is deleted while its live path is missing. A
  * crash between the two renames leaves the prior snapshot under the
  * aside and no live dir; [[restore]] (one dir) and [[recover]] (a whole
  * tree) move it back, and every swap does so before it touches the
  * path. The swap is atomic per dir, not across dirs: a crash in a
  * multi-partition swap leaves some partitions new and some old, as a
  * MERGE without a commit log would.
  */
object Swap {

  private def aside(live: Path): Path = new Path(live.getParent, s".${live.getName}.old")

  def staging(live: Path): Path = new Path(live.getParent, s".${live.getName}.staged")

  /** True when `live` exists, moving it back from a stranded aside
    * first if a crash left it there. */
  def restore(fs: FileSystem, live: Path): Boolean =
    fs.exists(live) || moveBack(fs, live)

  private def moveBack(fs: FileSystem, live: Path): Boolean = {
    val old = aside(live)
    fs.exists(old) && {
      require(fs.rename(old, live), s"Swap: failed to restore $old to $live")
      true
    }
  }

  /** Restore every stranded aside at or under `dir` and drop the staging
    * dir of each interrupted swap (restoring the prior data is always
    * safe; the caller just redoes the swap). Dot- and underscore-prefixed
    * dirs are not descended into. Returns the number of dirs restored. */
  def recover(fs: FileSystem, dir: Path): Int = {
    def heal(live: Path): Int =
      if (fs.exists(live) || !moveBack(fs, live)) 0
      else {
        fs.delete(staging(live), true)
        1 + walk(live)
      }
    def walk(p: Path): Int =
      fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath.getName).map {
        case n if n.startsWith(".") && n.endsWith(".old") =>
          heal(new Path(p, n.stripPrefix(".").stripSuffix(".old")))
        case n if n.startsWith(".") || n.startsWith("_") => 0
        case n => walk(new Path(p, n))
      }.sum
    if (fs.exists(dir)) walk(dir) else heal(dir)
  }

  /** Move the complete snapshot at `staged` into `live`'s place. */
  def install(fs: FileSystem, staged: Path, live: Path): Unit = {
    val old = aside(live)
    // restore() moves a stranded aside back first, so an aside deleted
    // here is a stale copy of a complete live dir, never the only copy
    val movedAside = restore(fs, live) && {
      fs.delete(old, true)
      require(fs.rename(live, old),
        s"Swap: failed to move $live aside; staged snapshot kept at $staged")
      true
    }
    require(fs.rename(staged, live),
      s"Swap: failed to move $staged into place; prior data kept at $old")
    if (movedAside)
      require(fs.delete(old, true),
        s"Swap: failed to delete $old; remove it by hand (it is " +
          "dot-prefixed, so readers ignore it; disk is the only cost)")
  }

  /** Recover `live`, write its new snapshot to the staging dir, then
    * [[install]] it. */
  def replace(fs: FileSystem, live: Path)(write: Path => Unit): Unit = {
    recover(fs, live)
    val staged = staging(live)
    fs.delete(staged, true)
    write(staged)
    install(fs, staged, live)
  }
}
