package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Merge-on-read DELETES for a partitioned parquet dataset — the
  * deletion-vector idea (Delta DVs, Iceberg position/equality delete
  * files) reduced to per-partition key-list sidecars.
  *
  * The copy-on-write delete ([[MergeInto.mergeByKeyCdc]] with a
  * tombstone batch) rewrites every touched partition to remove a
  * handful of rows — at 100 TB a point delete costs a partition
  * rewrite. Merge-on-read inverts the cost: the delete WRITES only
  * the key list (`<dir>._dv/batch-<n>/<part>=<v>/…`, KB-sized,
  * independent of partition size) and every read anti-joins the
  * deleted keys out; [[applyAndClear]] folds the debt into the next
  * maintenance pass, rewriting ONLY partitions that carry deletions
  * and clearing their vectors.
  *
  * Layout and contracts:
  *  - DV batches append under `<dir>._dv/batch-<n>` (same staged
  *    publish + monotone numbering as the CDC feed — a torn batch is
  *    a dot-prefixed orphan no reader globs), hive-partitioned by the
  *    dataset's partition column, so a partition-pruned read
  *    anti-joins only ITS deleted keys;
  *  - keys are table-unique (the same contract every merge enforces)
  *    and a deleted key must not be re-inserted until a compaction
  *    clears the vectors — the anti-join would swallow the new row
  *    (equality-delete semantics; Iceberg documents the same rule);
  *  - the delete needs (key, partition) pairs. CDC upstreams know the
  *    home; when the caller does not, [[resolveHomes]] finds it with
  *    one column-pruned (key, partition) projection scan — still no
  *    data read, no rewrite;
  *  - reads: [[readWithDeletes]] = table left-anti-join DV keys on
  *    (key, partition). The DV side is deletes-since-last-compaction —
  *    small by maintenance discipline — and lands on the build side
  *    of a broadcast anti-join, so the read plan is one stage over
  *    the data with a KB-sized broadcast, never a shuffle of the
  *    table.
  */
object DeletionVectors {

  private def dvRoot(dir: String): Path =
    new Path(dir.stripSuffix("/") + "._dv")

  /** Record `keys` — a frame with (keyCol, partCol) — as deleted.
    * Writes ONE new DV batch; touches no data file (that is the whole
    * point). Returns the batch directory name. Empty batches write
    * nothing and return None.
    */
  def deleteKeys(spark: SparkSession, dir: String, keys: DataFrame,
      keyCol: String, partCol: String): Option[String] = {
    require(keys.columns.contains(keyCol) &&
        keys.columns.contains(partCol),
      s"keys frame must carry ($keyCol, $partCol); use resolveHomes " +
        "when the partition is unknown")
    val batch = keys.select(col(keyCol), col(partCol)).localCheckpoint()
    if (batch.isEmpty) return None
    val root = dvRoot(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val existing =
      if (!fs.exists(root)) Array.empty[Int]
      else fs.listStatus(root).map(_.getPath.getName)
        .collect { case s if s.startsWith("batch-") =>
          s.stripPrefix("batch-").toInt }
    val next = if (existing.isEmpty) 0 else existing.max + 1
    val name = f"batch-$next%05d"
    val staging = new Path(root, s".staging-$name")
    fs.delete(staging, true)
    batch.write.mode("error").partitionBy(partCol)
      .parquet(staging.toString)
    if (!fs.rename(staging, new Path(root, name)))
      throw new java.io.IOException(
        s"could not publish deletion vector $name under $root")
    Some(name)
  }

  /** Home partitions of bare keys: one column-pruned (key, partition)
    * projection scan + semi join — the pass a caller with CDC context
    * skips. Keys matching no row resolve to nothing (deleting an
    * absent key is a no-op).
    */
  def resolveHomes(spark: SparkSession, dir: String, keys: DataFrame,
      keyCol: String, partCol: String): DataFrame =
    Parquet.read(spark, dir).select(col(keyCol), col(partCol))
      .join(keys.select(col(keyCol)), Seq(keyCol), "left_semi")

  /** All live deletion-vector keys: (keyCol, partCol) rows across the
    * published batches; empty (with the right schema) when no vector
    * exists.
    */
  def deletedKeys(spark: SparkSession, dir: String, keyCol: String,
      partCol: String): DataFrame =
    readBatches(spark, listBatches(spark, dir), keyCol, partCol)

  /** The published DV batch directories at `dir`, ascending. */
  private def listBatches(spark: SparkSession,
      dir: String): Seq[String] = {
    val root = dvRoot(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Nil
    else fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch-"))
      .map(_.getPath.toString).sorted.toSeq
  }

  private def readBatches(spark: SparkSession, batches: Seq[String],
      keyCol: String, partCol: String): DataFrame =
    if (batches.isEmpty)
      spark.range(0).select(lit(null).cast("long").as(keyCol),
        lit(null).cast("string").as(partCol)).filter(lit(false))
    else
      batches.map(b => spark.read.option("basePath", b).parquet(b)
          .select(col(keyCol), col(partCol).cast("string")))
        .reduce(_ unionByName _).distinct()

  /** The dataset with deletions applied: one broadcast anti-join of
    * the (small) DV key set against the table — the merge-on-read
    * read path. Join on (key, partition) so a pruned read of one
    * partition broadcasts only keys that could match it after
    * Catalyst pushes the partition predicate into both sides.
    */
  def readWithDeletes(spark: SparkSession, dir: String, keyCol: String,
      partCol: String): DataFrame = {
    val target = Parquet.read(spark, dir)
    val dv = deletedKeys(spark, dir, keyCol, partCol)
      .select(col(keyCol), col(partCol).as("__dv_part"))
    target.join(broadcast(dv),
      target(keyCol) === dv(keyCol) &&
        target(partCol) === col("__dv_part"),
      "left_anti")
  }

  /** Fold the deletion debt into the layout: rewrite ONLY partitions
    * that carry DV keys (staged swap per partition, the [[Compact]]
    * publish), then clear the vectors. After this, plain reads equal
    * [[readWithDeletes]] before it. Returns the rewritten partition
    * directory names. Same single-writer contract as every in-place
    * maintenance pass; a crash before the DV clear re-applies on the
    * next run (anti-joining already-removed keys is a no-op).
    */
  def applyAndClear(spark: SparkSession, dir: String, keyCol: String,
      partCol: String): Seq[String] =
    // pin the batch directories READ by this pass and clear exactly
    // those at the end: deleteKeys is an online operation, so a batch
    // published after this snapshot must survive for the next pass —
    // a whole-root delete would silently drop it unapplied
    applyBatches(spark, dir, keyCol, partCol, listBatches(spark, dir))

  private[graft] def applyBatches(spark: SparkSession, dir: String,
      keyCol: String, partCol: String,
      batches: Seq[String]): Seq[String] = {
    val dv = readBatches(spark, batches, keyCol, partCol)
      .localCheckpoint()
    val parts = dv.select(col(partCol)).distinct()
      .collect().map(_.get(0)).map(String.valueOf)
    val base = dir.stripSuffix("/")
    val fs = new Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rewritten = parts.toSeq.sorted.flatMap { v =>
      val name = s"$partCol=${MergeInto.escapePathName(v)}"
      val pdir = new Path(base, name)
      if (!fs.exists(pdir)) None // stale vector (partition drained)
      else {
        val keys = dv.filter(col(partCol) === v).select(col(keyCol))
        val survivors = Parquet.read(spark, pdir.toString)
          .join(broadcast(keys), Seq(keyCol), "left_anti")
          .localCheckpoint() // materialize BEFORE the swap mutates pdir
        Compact.stagedSwap(spark, pdir.toString) { staging =>
          survivors.write.mode("overwrite").parquet(staging)
        }
        Some(name)
      }
    }
    val root = dvRoot(base)
    batches.foreach(b => fs.delete(new Path(b), true))
    // drop the root only when no later-arriving batch remains
    if (fs.exists(root) && !fs.listStatus(root).exists(s =>
        s.isDirectory && s.getPath.getName.startsWith("batch-")))
      fs.delete(root, true)
    rewritten
  }
}
