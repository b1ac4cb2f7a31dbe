package graft.util

import java.io.IOException

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Plain-parquet stand-in for a transactional table commit (Iceberg/
  * Delta MERGE/OPTIMIZE commit): install a rewritten directory over a
  * live one such that a crash at ANY point leaves either the old or the
  * new table recoverable — never no table.
  *
  * Two-phase: park target at `<target>.old`, move the rewrite in, drop
  * the parked copy. The one crash window that leaves `target` missing
  * (between park and install) is healed by [[recover]], which readers
  * and re-runs call first. Plain `delete-then-move` (the previous
  * pattern in two call sites) had an unrecoverable window: after the
  * delete, the data existed only at the tmp path and a re-run saw an
  * empty table as success.
  *
  * Paths go through the Hadoop FileSystem that owns them, so a bare
  * path and a `file:` (or any other scheme) URI name the same table.
  *
  * NOT safe against CONCURRENT writers to `target` — single-writer
  * maintenance semantics, the plain-parquet contract (a lakehouse
  * handles this transactionally). */
object AtomicSwap {

  /** The FileSystem that owns `path`, and `path` as a Hadoop Path. */
  def resolve(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  private def oldPath(target: Path): Path =
    new Path(target.getParent, target.getName + ".old")

  private def move(fs: FileSystem, from: Path, to: Path): Unit =
    if (!fs.rename(from, to)) throw new IOException(s"cannot move $from to $to")

  /** Install `tmp` at `target`. */
  def swapIn(spark: SparkSession, tmp: String, target: String): Unit = {
    val (fs, t) = resolve(spark, target)
    val old = oldPath(t)
    fs.delete(old, true) // stale park from an interrupted earlier swap
    if (fs.exists(t)) move(fs, t, old)
    move(fs, new Path(tmp), t)
    fs.delete(old, true)
  }

  /** Heal the park-but-not-installed crash window: target missing with
    * a parked copy present -> restore the parked copy. Idempotent. */
  def recover(spark: SparkSession, target: String): Unit = {
    val (fs, t) = resolve(spark, target)
    val old = oldPath(t)
    if (!fs.exists(t) && fs.exists(old)) move(fs, old, t)
  }
}
