package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import graft.util.AtomicSwap

/** Small-file compaction for append-heavy parquet tables — the
  * operational chore every incremental pipeline at scale needs: the
  * cursor log, dead-letter sink, and report streams here all APPEND one
  * small file per batch (by design — appends must not rewrite state),
  * so after 10k sync rounds a scan pays 10k file-open round-trips for
  * megabytes of data. Compaction rewrites the table into
  * ~`targetBytes`-sized files and swaps it in atomically (write-aside +
  * rename, the same commit pattern as [[graft.ingest.SyncJob]]'s state
  * swap; on a real lakehouse this is OPTIMIZE/rewrite_data_files).
  *
  * Sizing comes from the table's CURRENT on-disk bytes — the only
  * honest estimate that needs no sampling pass; `coalesce` (not
  * `repartition`) keeps the rewrite shuffle-free, at the cost of
  * accepting the existing row order.
  *
  * Contract: SINGLE-WRITER maintenance — run it between batches, never
  * concurrently with appends to the same path (a file appended during
  * the rewrite would be lost in the swap; plain parquet has no
  * transaction log to catch it, which is exactly what the lakehouse
  * OPTIMIZE adds). A crash mid-swap is recoverable: the swap parks the
  * old table at `<path>.old` and [[stats]]/[[compact]] heal the
  * missing-target window on the next call ([[AtomicSwap]]).
  */
object Compact {

  /** On-disk bytes + file count of a parquet dir (driver-side listing
    * — metadata only, never data). */
  def stats(spark: SparkSession, path: String): (Long, Int) = {
    AtomicSwap.recover(spark, path)
    val (fs, p) = AtomicSwap.resolve(spark, path)
    if (!fs.exists(p)) return (0L, 0)
    val it = fs.listFiles(p, true)
    var (bytes, files) = (0L, 0)
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) { bytes += f.getLen; files += 1 }
    }
    (bytes, files)
  }

  /** Rewrite `path` into ceil(bytes/targetBytes) files if it currently
    * has more than that many (plus `slack`). Returns (filesBefore,
    * filesAfter); no-op when already compact. */
  def compact(spark: SparkSession, path: String,
              targetBytes: Long = 128L * 1024 * 1024,
              slack: Int = 4): (Int, Int) = {
    val (bytes, nFiles) = stats(spark, path)
    if (nFiles == 0) return (0, 0)
    val targetFiles = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    if (nFiles <= targetFiles + slack) return (nFiles, nFiles)
    val df: DataFrame = spark.read.parquet(path)
    val tmp = path + ".compact"
    // Overwrite replaces a stale rewrite from a crashed run
    df.coalesce(targetFiles).write.mode(SaveMode.Overwrite).parquet(tmp)
    AtomicSwap.swapIn(spark, tmp, path)
    (nFiles, stats(spark, path)._2)
  }
}
