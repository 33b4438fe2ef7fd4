package graft.sources

import org.apache.hadoop.fs.{FileSystem, LocatedFileStatus, Path}

/** The one durable-rewrite discipline of every partitioned layout (the
  * store's `_tb=N` buckets; the index tiers' `list_id=N`, `tb=N`, `_db=N`,
  * `vbucket=N` directories and flat tables). The caller writes the
  * replacement under `<ns>.tmp`, never inside the live layout; `commit`
  * then, per unit, parks live under `<ns>.old` (replacing that unit's
  * parked generation) and moves tmp in, checking every rename; a unit
  * with no tmp leaves the layout. `heal`, at the next maintainer entry,
  * rolls a tmp unit with no live unit FORWARD and discards one beside its
  * live unit. A crash leaves each unit old or new, never missing; any tmp
  * present at a heal is a dead run's (single maintainer). */
object PartitionSwap {

  def commitOne(f: FileSystem, live: Path, tmp: Path, old: Path): Unit = {
    if (f.exists(live)) {
      if (f.exists(old)) f.delete(old, true)
      f.mkdirs(old.getParent)
      if (!f.rename(live, old)) sys.error(s"swap failed: $live -> $old (live left intact)")
    }
    if (f.exists(tmp)) {
      f.mkdirs(live.getParent)
      if (!f.rename(tmp, live))
        sys.error(s"swap failed: $tmp -> $live (the next heal rolls it forward)")
    }
  }

  /** Commit `tmpRoot/u` into `live(u)` for each unit, parking at
    * `oldRoot/u`; then drop `tmpRoot`. */
  def commit(f: FileSystem, units: Seq[String], tmpRoot: Path, oldRoot: Path)(
      live: String => Path): Unit = {
    units.foreach(u => commitOne(f, live(u), new Path(tmpRoot, u), new Path(oldRoot, u)))
    f.delete(tmpRoot, true)
  }

  def healOne(f: FileSystem, live: Path, tmp: Path): Unit =
    if (f.exists(tmp)) {
      if (f.exists(live)) f.delete(tmp, true)
      else {
        f.mkdirs(live.getParent)
        if (!f.rename(tmp, live)) sys.error(s"swap heal failed: $tmp -> $live")
      }
    }

  /** Heal each unit directory under `tmpRoot` that `live` names (anything
    * else, like Spark's `_temporary`, is debris), then drop `tmpRoot`. */
  def heal(f: FileSystem, tmpRoot: Path)(live: PartialFunction[String, Path]): Unit =
    if (f.exists(tmpRoot)) {
      f.listStatus(tmpRoot).filter(_.isDirectory).map(_.getPath).foreach { t =>
        live.lift(t.getName).foreach(healOne(f, _, t))
      }
      f.delete(tmpRoot, true)
    }

  /** The parquet data files under `p`, recursively (none when absent). */
  def parquetFiles(f: FileSystem, p: Path): Iterator[LocatedFileStatus] =
    Option.when(f.exists(p))(f.listFiles(p, true)).iterator
      .flatMap(it => Iterator.continually(it).takeWhile(_.hasNext).map(_.next()))
      .filter(_.getPath.getName.endsWith(".parquet"))

  /** (files, bytes, most files in one leaf directory) under `p`. */
  def fileStats(f: FileSystem, p: Path): (Int, Long, Int) = {
    val files = parquetFiles(f, p).toSeq
    (files.size, files.map(_.getLen).sum,
      files.groupBy(_.getPath.getParent).values.map(_.size).maxOption.getOrElse(0))
  }
}
