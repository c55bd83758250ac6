package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What a manifest-pruned scan did — the observability the layout
  * story needs: how many files the predicate COULD have touched and
  * how many it actually did.
  */
case class ScanStats(filesTotal: Int, filesRead: Int)

/** File-level min/max manifest over a parquet dataset — the lightest
  * possible "table format" statistics layer, and the piece that turns
  * a [[ZOrder]] layout into an I/O win BEFORE any file is opened.
  *
  * Parquet footers already carry row-group min/max, but at 100 TB a
  * box predicate still has to OPEN every footer (one round trip per
  * file — 100k+ metadata reads on an object store) just to learn that
  * 99% of files are irrelevant. Iceberg/Delta solve this with manifest
  * files; this module is that idea reduced to one parquet table:
  * one row per data file with `n_rows` and `min_/max_` of the declared
  * stats columns, stored INSIDE the dataset at `<dir>/._manifest`
  * (dot-prefixed, so ordinary `spark.read.parquet(dir)` never sees
  * it). A pruned scan reads the manifest (file-count-sized, not
  * data-sized), keeps the files whose boxes intersect the predicate,
  * and plans a scan over exactly those — with a z-ordered layout each
  * file is a tight box, so a small query box touches a handful of
  * files out of thousands.
  *
  * Pruning is CONSERVATIVE by construction: a kept file may still
  * contain no matching row (the caller re-applies the real predicate,
  * and parquet's own row-group stats then prune within the file), but
  * a dropped file provably contains none — `min_c > hi` or
  * `max_c < lo` for some declared range, where min/max are over the
  * file's non-null values and a range predicate never matches null.
  *
  * The manifest is rebuilt by [[buildManifest]] (one column-pruned
  * pass grouped by `input_file_name`) — after an append, re-running it
  * refreshes the stats; a STALE manifest (files added since the build)
  * would under-read, so the append paths must rebuild before readers
  * prune (single-writer contract, as everywhere in this family).
  */
object Manifest {

  /** Per-file stats rows for `df` — the sidecar payload, exposed so
    * [[Sidecar.refresh]] can rebuild rows for a partition-pruned
    * slice after a merge.
    */
  private[io] def manifestFor(df: DataFrame,
      statsCols: Seq[String]): DataFrame = {
    val aggs = count(lit(1)).as("n_rows") +: statsCols.flatMap { c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"))
    }
    df.groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Build the manifest for `dir` over `statsCols` (numeric or string
    * columns; min/max taken per file). One pass, reading only the
    * stats columns. Returns the number of files manifested. The write
    * goes through a staged rename so a crash never leaves a torn
    * manifest (the old one survives until the new one is complete).
    */
  def buildManifest(spark: SparkSession, dir: String,
      statsCols: Seq[String]): Long =
    buildManifestFor(spark, dir, Parquet.read(spark, dir), statsCols)

  /** [[buildManifest]] over an explicit frame — for tables whose live
    * file set is NOT "every parquet under dir" (a [[VersionLog]]
    * snapshot): pass `VersionLog.read(spark, dir)` and the manifest
    * rows key on the snapshot's files.
    */
  def buildManifestFor(spark: SparkSession, dir: String, df: DataFrame,
      statsCols: Seq[String]): Long =
    Sidecar.publish(spark, dir, "._manifest", manifestFor(df, statsCols))

  /** Incremental refresh after a [[MergeInto]] merge of a PARTITIONED
    * dataset: recompute manifest rows only for files under the
    * touched partitions (pass `MergeStats.touchedPartitions`), carry
    * the rest over unchanged. Cost is one pruned pass over the
    * batch's partition footprint, never the table.
    */
  def refreshManifest(spark: SparkSession, dir: String,
      statsCols: Seq[String], partCol: String,
      touched: Seq[String]): Long =
    Sidecar.refresh(spark, dir, "._manifest", partCol, touched,
      df => manifestFor(df, statsCols))

  /** Plan a scan of `dir` restricted to files whose stats box
    * intersects EVERY `(column, lo, hi)` range (inclusive). Returns
    * the pruned frame — the caller still applies its real predicate —
    * plus the prune accounting. The driver-side collect is the file
    * list, the same thing any format's planner materializes: one short
    * string per file, bounded by file count, never by data.
    */
  def prunedRead(spark: SparkSession, dir: String,
      ranges: Seq[(String, Long, Long)]): (DataFrame, ScanStats) = {
    val manifest = spark.read
      .parquet(new Path(dir.stripSuffix("/"), "._manifest").toString)
    // null min/max (an all-null column in that file) must PRUNE, not
    // crash or keep: a range predicate never matches null rows
    val keep = coalesce(ranges.foldLeft(lit(true)) {
      case (acc, (c, lo, hi)) =>
        acc && col(s"min_$c") <= lit(hi) && col(s"max_$c") >= lit(lo)
    }, lit(false))
    val files = manifest.select(col("file"), keep.as("keep"))
      .collect()
    val kept = files.filter(_.getBoolean(1)).map(_.getString(0))
    val stats = ScanStats(files.length, kept.length)
    // basePath keeps partition columns alive when the kept files sit
    // under hive-style partition directories (no-op for flat layouts)
    val df =
      if (kept.isEmpty)
        Parquet.read(spark, dir).filter(lit(false))
      else spark.read.option("basePath", dir)
        .parquet(kept.toIndexedSeq: _*)
    (df, stats)
  }
}
