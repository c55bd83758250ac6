package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared machinery for per-file statistics sidecars ([[Manifest]],
  * [[KeyBloom]]): a dot-prefixed parquet table INSIDE the dataset
  * directory, keyed by data-file path, published through a staged
  * rename, and — the piece that makes sidecars viable next to
  * [[MergeInto]] — refreshable INCREMENTALLY after a copy-on-write
  * merge: only rows for files under the touched partitions are
  * recomputed; everything else is carried over byte-identical. At
  * 100 TB that is the difference between "statistics cost one pass
  * over the table per batch" (they would never be fresh) and
  * "statistics cost one pass over the batch's partition footprint"
  * (they are always fresh).
  */
object Sidecar {

  /** Staged publish of `frame` as `<dir>/<name>`: write to a sibling
    * staging path (the old sidecar stays live and readable during the
    * write), then retire-promote-delete, [[Compact.stagedSwap]]-style:
    * the old copy is renamed aside (not deleted) before the new one is
    * renamed in, and renamed BACK if the promote fails — so no crash
    * point leaves a torn sidecar, and the delete-first window where a
    * crash would leave NO sidecar at all does not exist. A crash
    * between retire and promote leaves the old copy recoverable at
    * `<name>_retired` (and the new one complete in staging).
    */
  private[io] def publish(spark: SparkSession, dir: String, name: String,
      frame: DataFrame): Long = {
    val live = new Path(dir.stripSuffix("/"), name)
    val staging = new Path(dir.stripSuffix("/"), name + "_staging")
    val retired = new Path(dir.stripSuffix("/"), name + "_retired")
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(staging, true)
    fs.delete(retired, true)
    frame.coalesce(1).write.parquet(staging.toString)
    val n = Parquet.read(spark, staging.toString).count()
    val hadLive = fs.exists(live)
    if (hadLive && !fs.rename(live, retired))
      throw new java.io.IOException(s"could not retire $name at $live")
    if (!fs.rename(staging, live)) {
      if (hadLive) fs.rename(retired, live) // roll back
      throw new java.io.IOException(s"could not publish $name at $live")
    }
    fs.delete(retired, true)
    n
  }

  /** Incremental refresh after a merge: drop sidecar rows whose file
    * lives under a TOUCHED partition directory (those files were
    * rewritten or deleted), rebuild rows from a partition-pruned scan
    * of the touched partitions only, and publish carried-over ∪ fresh.
    * `build` maps a (pruned) data frame to its per-file sidecar rows —
    * pass [[Manifest.manifestFor]] or [[KeyBloom.bloomFor]]. Feed it
    * `MergeStats.touchedPartitions` verbatim; values are matched via
    * the same path escaping the partitioned write uses.
    */
  private[io] def refresh(spark: SparkSession, dir: String, name: String,
      partCol: String, touched: Seq[String],
      build: DataFrame => DataFrame): Long = {
    if (touched.isEmpty)
      return spark.read
        .parquet(new Path(dir.stripSuffix("/"), name).toString).count()
    val old = spark.read
      .parquet(new Path(dir.stripSuffix("/"), name).toString)
    val touchedFrags = touched.map(v =>
      s"/$partCol=${MergeInto.escapePathName(v)}/")
    val underTouched = touchedFrags
      .map(f => col("file").contains(f)).reduce(_ || _)
    val kept = old.filter(!underTouched)
    val freshSrc = spark.read.option("basePath", dir).parquet(dir)
      .filter(col(partCol).isin(touched: _*))
    publish(spark, dir, name, kept.unionByName(build(freshSrc)))
  }
}
