package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Small-files compaction for parquet datasets — the maintenance pass
  * every long-lived 100 TB table needs after streaming sinks,
  * incremental appends (`Bm25.appendToIndex`-style), or over-parallel
  * writes leave thousands of KB-scale fragments: each task then pays
  * open/footer costs that dwarf the data read, and the driver's file
  * index balloons. (Reference counterpart: `write_parquet`'s sized
  * "fragments" — `edsnlp/data/parquet.py` accumulates rows until a
  * target batch size before flushing a fragment; this is the same
  * contract enforced after the fact.)
  *
  * Strategy: measure actual on-disk bytes via the FileSystem (not row
  * counts — compression ratios vary), choose
  * `ceil(totalBytes / targetBytes)` output files, rewrite via
  * `repartition(n)` (a round-robin exchange — `coalesce` would chain
  * the small files' locality and can skew output sizes), land in a
  * staging directory, then swap. The swap order — staging → rename old
  * out of the way → rename staging in → delete old — means the data is
  * never a MIX of old and new (the `HfDatasetDisk` staged-shard
  * lesson). Caveat, shared with every rename-based publish: between
  * the two renames `dir` briefly does not exist, so a CONCURRENT
  * reader can fail mid-swap, and a crash exactly in that window
  * leaves the dataset only at `<dir>._retired` (recovery: rename it
  * back). Compaction is a maintenance pass — run it under the same
  * single-writer/no-reader window as any table rewrite; if readers
  * must never observe a missing path, publish through a pointer
  * (manifest) file instead.
  */
object Compact {

  /** Populate a staging directory via `write(stagingPath)`, then swap
    * it in for `dir` whole: retire the old directory, promote staging,
    * delete the retired copy. The dataset at `dir` is never a mix of
    * old and new, and no crash loses data: before the retire rename
    * the old copy is untouched; between retire and promote the ONLY
    * copy lives at `<dir>._retired` (and `dir` itself briefly does not
    * exist — a concurrent reader in that window fails; recovery after
    * a crash there is renaming `._retired` back); after the promote
    * the new copy is live. Shared by [[compactParquet]] and the
    * incremental append paths (`Sketches`, `CorpusProfile`), which
    * without it would `mode("overwrite")` in place and a crash
    * mid-rewrite could lose the only copy.
    */
  def stagedSwap(spark: SparkSession, dir: String)
      (write: String => Unit): Unit = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new Path(dir.stripSuffix("/") + "._staging")
    val retired = new Path(dir.stripSuffix("/") + "._retired")
    fs.delete(staging, true)
    fs.delete(retired, true)
    write(staging.toString)
    if (!fs.rename(path, retired))
      throw new java.io.IOException(s"could not retire $dir")
    if (!fs.rename(staging, path)) {
      fs.rename(retired, path) // roll back
      throw new java.io.IOException(s"could not promote staging for $dir")
    }
    fs.delete(retired, true)
  }

  /** Returns (filesBefore, filesAfter, bytes). No-op (returns with
    * zero rewrite) when the dataset already has <= the target count.
    * FLAT datasets only: a hive-partitioned layout (subdirectories of
    * fragments) is refused loudly rather than silently reporting
    * "already compact" — rewriting it through a plain read would fold
    * the partition columns into the data and destroy the layout;
    * compact each partition directory instead.
    */
  def compactParquet(spark: SparkSession, dir: String,
      targetBytes: Long = 128L << 20): (Int, Int, Long) = {
    require(targetBytes > 0, "targetBytes must be positive")
    val path = new Path(dir.stripSuffix("/"))
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries = fs.listStatus(path)
    val files = entries
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    // hidden ("." / "_" prefixed) subdirectories are sidecars and
    // markers ([[Sidecar]], `._cdc`), not data — only real data
    // subdirectories make a layout hive-partitioned
    if (files.isEmpty &&
        entries.exists(e => e.isDirectory &&
          !e.getPath.getName.startsWith("_") &&
          !e.getPath.getName.startsWith("."))) {
      throw new UnsupportedOperationException(
        s"$dir looks hive-partitioned (no top-level parquet, data " +
          "subdirectories present); use compactPartitioned")
    }
    // heal FIRST, before any early return: earlier builds carried the
    // CDC feed through staging and a crash could leave it stranded at
    // <dir>/__cdc_carry — restore it even when the data is already
    // compact (a later compaction would otherwise retire the carry
    // with the old generation and destroy the CDC history)
    healCdcCarry(fs, path)
    val totalBytes = files.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(
      totalBytes.toDouble / targetBytes).toInt)
    if (files.length <= nOut) return (files.length, files.length, totalBytes)
    // The CDC feed needs NO carry: `<dir>._cdc` is a SIBLING of `dir`,
    // so the swap below (which only renames `dir` itself) never touches
    // it — it survives every generation untouched. (Earlier builds
    // renamed it into staging "for safety", which CREATED the only loss
    // window: between that rename and the promote, the sole feed copy
    // sat inside `._staging`, where a crash + re-entry's staging delete
    // or a TTL-aged vacuum would destroy it. [[healCdcCarry]] remains
    // to rescue feeds those builds stranded.) File-stat sidecars
    // (._manifest/._keybloom) live INSIDE `dir` and are deliberately
    // dropped with the old generation: they reference the files this
    // rewrite retires, and a loudly-missing sidecar beats silently
    // stale pruning — rebuild them after compacting.
    stagedSwap(spark, path.toString) { staging =>
      Parquet.read(spark, path.toString)
        .repartition(nOut)
        .write.mode("overwrite").parquet(staging)
    }
    val after = fs.listStatus(path)
      .count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    (files.length, after, totalBytes)
  }

  /** Restore a CDC feed parked at `<dir>/__cdc_carry` back to its
    * sibling `<dir>._cdc` home. Current builds never park it there
    * (the sibling feed survives the swap untouched — see
    * [[compactParquet]]); this rescues directories stranded by
    * earlier builds' carry-through-staging protocol. Idempotent.
    */
  private def healCdcCarry(fs: org.apache.hadoop.fs.FileSystem,
      path: Path): Unit = {
    val carried = new Path(path, "__cdc_carry")
    if (fs.exists(carried) &&
        !fs.rename(carried, new Path(path.toString + "._cdc")))
      throw new java.io.IOException(
        s"could not restore CDC feed from $carried")
  }

  /** Per-partition compaction of a hive-partitioned dataset: each
    * `part=value` directory compacts independently (same single-writer
    * contract), untouched-size partitions are left alone byte-for-
    * byte. Returns (filesBefore, filesAfter, compactedPartitionDirs) —
    * feed the directory names to `Sidecar`-based refreshes
    * ([[Manifest.refreshManifest]] / [[KeyBloom.refreshKeyBloom]] take
    * partition VALUES; these are `part=value` names, strip the
    * prefix), because a rewrite makes file-stat sidecars stale by
    * construction.
    */
  def compactPartitioned(spark: SparkSession, dir: String,
      targetBytes: Long = 128L << 20): (Int, Int, Seq[String]) = {
    val path = new Path(dir.stripSuffix("/"))
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(path).filter(s =>
      s.isDirectory && s.getPath.getName.contains("="))
    require(parts.nonEmpty, s"$dir has no part=value directories; " +
      "use compactParquet for flat layouts")
    var before = 0
    var after = 0
    val compacted = Seq.newBuilder[String]
    parts.foreach { s =>
      val (b, a, _) = compactParquet(spark, s.getPath.toString, targetBytes)
      before += b; after += a
      if (a < b) compacted += s.getPath.getName
    }
    (before, after, compacted.result().sorted)
  }
}
