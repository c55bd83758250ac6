package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Outcome of one [[MergeInto.mergeByKey]] call — the observability a
  * maintenance pass needs: how much of the table the batch actually
  * touched (the 100 TB question), and what was cleaned up.
  *
  * @param touchedPartitions partition values whose directories were
  *   rewritten (update/insert targets plus the OLD homes of matched
  *   keys whose partition value changed)
  * @param outputRows rows landed across the rewritten partitions
  *   (survivors + upserts)
  * @param removedPartitions touched partitions left with zero rows,
  *   whose directories were deleted
  */
case class MergeStats(touchedPartitions: Seq[String], outputRows: Long,
    removedPartitions: Seq[String])

/** Copy-on-write MERGE for a partitioned parquet dataset — the
  * incremental-maintenance shape every long-lived corpus needs (the
  * reference's datasets are immutable snapshots re-read per run,
  * `edsnlp/data/parquet.py:60-120`; at 100 TB a full-snapshot rewrite
  * per update batch is exactly what an engine must avoid).
  *
  * Semantics are SQL `MERGE INTO target USING updates ON
  * target.key = updates.key WHEN MATCHED THEN UPDATE SET * WHEN NOT
  * MATCHED THEN INSERT *` — updates fully replace matched rows, new
  * keys append — executed copy-on-write: ONLY partitions that contain
  * a matched or inserted key are rewritten. The untouched partitions'
  * files are never read for data (only the key/partition projection
  * scans them) and never rewritten — the blast radius of a merge is
  * the batch's partition footprint, not the table.
  * [[mergeByKeyCdc]] adds the `WHEN MATCHED AND <tombstone> THEN
  * DELETE` clause and a change-data feed.
  *
  * Partition-value changes are handled: a matched key whose update
  * carries a NEW partition value is removed from its old partition
  * (the old home is discovered by the key-projection semi-join and
  * joins the touched set) and lands in the new one; an old partition
  * drained to zero rows has its directory deleted (dynamic overwrite
  * alone would leave the stale copy, since an empty frame writes no
  * partition directory).
  *
  * Scale notes: the matched-home discovery is a column-pruned
  * (key, partition) scan of the target — the pass a format with
  * per-file key min/max or bloom statistics skips; with parquet alone
  * it is still a 2-column read, not a data read. The merge itself
  * reads only touched partitions, anti-joins survivors against the
  * update keys on the shuffle, and the upsert union lands through one
  * partitioned write.
  *
  * Contract (same family as [[Compact]]): single writer, no
  * concurrent reader during the publish. The publish commits per
  * partition (delete old directory + rename the staged one in), not
  * per table — a crash mid-publish can leave SOME touched partitions
  * new and others old, and a crash between a delete and its rename
  * leaves that partition only under `<dir>._merge_staging` (never a
  * torn file, and untouched partitions are never at risk). Every
  * merge entry therefore HEALS first: staged partition directories
  * whose target directory is missing are renamed into the target
  * before anything else runs — including the survivor scan, so a
  * re-run never recomputes survivors from a table missing rows the
  * crash stranded in staging. The heal only fires when the staging
  * write provably completed (`_SUCCESS` present): targets are
  * deleted strictly after the staged write commits, so a staging dir
  * without the marker is a torn WRITE whose targets are all intact —
  * it is discarded, never promoted. With the heal, re-running the
  * same batch restores exactly the pre-crash intent (the merge is an
  * idempotent upsert over a healed target). Renames assume staging
  * and target share a filesystem — true by construction (sibling
  * paths), the same rename-publish assumption [[Compact.stagedSwap]]
  * documents. For SNAPSHOT-ISOLATED readers during maintenance, use
  * the [[VersionLog]] layer instead of this in-place protocol.
  */
object MergeInto {

  /** Merge `updates` into the partitioned parquet dataset at `dir`.
    *
    * @param keyCol  unique row key (matched ⇒ replace, else insert)
    * @param partCol the dataset's partition column; `updates` must
    *   carry it (the row's NEW home)
    * @param maxTouchedPartitions fail-fast bound on the driver-side
    *   partition collects — a batch touching more distinct partitions
    *   than this is a full-table rewrite in disguise; use [[Compact]]
    *   or a plain overwrite instead
    */
  def mergeByKey(spark: SparkSession, dir: String, updates: DataFrame,
      keyCol: String, partCol: String,
      maxTouchedPartitions: Int = 4096): MergeStats =
    merge(spark, dir, updates, keyCol, partCol, None,
      maxTouchedPartitions, cdc = false)._1

  /** [[mergeByKey]] with a DELETE clause and a change-data feed —
    * `MERGE … WHEN MATCHED AND <deleteWhen> THEN DELETE WHEN MATCHED
    * THEN UPDATE SET * WHEN NOT MATCHED AND NOT <deleteWhen> THEN
    * INSERT *`. `deleteWhen` is a predicate over the `updates` row
    * (typically a tombstone marker column that is not part of the
    * target schema); a tombstone whose key matches nothing is a no-op
    * (never inserted), and a tombstone's `partCol` value is ignored —
    * the delete finds the key wherever it lives.
    *
    * The change feed is the Delta-CDF shape: one row per change with
    * the target's columns plus `_op` ∈ {`insert`, `update_pre`,
    * `update_post`, `delete`} (`update_pre` carries the before-image,
    * `update_post` the after-image). The feed is WRITTEN to
    * `<dir>._cdc/batch-<n>` BEFORE the publish mutates the table
    * (concurrently with the staging write — both only read the intact
    * target) — it reads old rows the publish is about to retire, and
    * landing it first makes the feed durable for downstream
    * incremental consumers
    * (see [[StatsMaintenance]]). The returned frame reads that batch
    * directory back. Crash-retry of a batch appends a NEW feed batch
    * reflecting the re-run's (possibly already-merged, hence empty-
    * delta) state — at-least-once, consumers key on batch directories.
    *
    * Beyond [[mergeByKey]]'s work this costs one extra full-row read
    * of the TOUCHED partitions (the before-images) and the feed write
    * — still bounded by the batch's partition footprint, never the
    * table. An unmatched update key is rejected nowhere; a DUPLICATE
    * key within one batch is rejected up front (standard MERGE
    * semantics: a target row may match at most one source row —
    * silently letting both through would make the change feed and the
    * survivor anti-join disagree).
    *
    * `bySourceDelete` adds Delta's `WHEN NOT MATCHED BY SOURCE
    * [AND <cond>] THEN DELETE` clause — the full-sync mirror: target
    * rows whose key is ABSENT from the batch and whose condition
    * (over the target row; `lit(true)` = unconditional) holds are
    * deleted, with `delete` images in the feed. The clause widens the
    * blast radius to every partition holding such a row (a true
    * mirror of a full source rewrites everything the source no longer
    * covers — the inherent cost of the clause, same as Delta's);
    * discovery stays a column-pruned scan.
    */
  def mergeByKeyCdc(spark: SparkSession, dir: String, updates: DataFrame,
      keyCol: String, partCol: String, deleteWhen: Option[Column] = None,
      maxTouchedPartitions: Int = 4096,
      bySourceDelete: Option[Column] = None,
      bySourceUpdate: Option[(Column, Seq[(String, Column)])] = None):
      (MergeStats, DataFrame) = {
    val (stats, feed) = merge(spark, dir, updates, keyCol, partCol,
      deleteWhen, maxTouchedPartitions, cdc = true, bySourceDelete,
      bySourceUpdate)
    (stats, feed.get)
  }

  private def merge(spark: SparkSession, dir: String, updates: DataFrame,
      keyCol: String, partCol: String, deleteWhen: Option[Column],
      maxTouchedPartitions: Int, cdc: Boolean,
      bySourceDelete: Option[Column] = None,
      bySourceUpdate: Option[(Column, Seq[(String, Column)])] = None):
      (MergeStats, Option[DataFrame]) = {
    require(bySourceDelete.isEmpty || bySourceUpdate.isEmpty,
      "at most one WHEN NOT MATCHED BY SOURCE action")
    // heal FIRST, before any scan of the target: a previous run that
    // crashed between a partition delete and its rename left that
    // partition's only copy (survivors included) under staging — the
    // key/home discovery and the survivor anti-join below must see it
    val stagingPath = new Path(dir.stripSuffix("/") + "._merge_staging")
    val fs = stagingPath.getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    healTornPublish(fs, new Path(dir), stagingPath, partCol)
    fs.delete(stagingPath, true)
    // materialize the batch once: the guard collects, the discovery
    // joins, the CDC classification, and the staged write would each
    // replay the caller's (possibly expensive) batch-build lineage
    val batch = updates.localCheckpoint()
    val dup = batch.groupBy(col(keyCol)).count()
      .filter(col("count") > 1).limit(1).collect()
    require(dup.isEmpty,
      s"duplicate $keyCol in update batch (e.g. ${dup.headOption}): " +
        "a MERGE source may match each target row at most once")
    // SQL `WHEN MATCHED AND <cond>` treats NULL as false — the row
    // falls through to the UPDATE clause, it does not vanish
    val tombstones = deleteWhen.map(c => batch.filter(c))
    val upserts =
      deleteWhen.fold(batch)(c => batch.filter(!coalesce(c, lit(false))))

    // touched = upserts' NEW homes ∪ old homes of ALL matched keys
    // (a tombstone's own partCol value is ignored — see scaladoc)
    val distinctParts = upserts.select(col(partCol)).distinct()
      .limit(maxTouchedPartitions + 1).collect().map(_.get(0))
    require(distinctParts.length <= maxTouchedPartitions,
      s"update batch touches > $maxTouchedPartitions partitions; " +
        "this merge is a table rewrite — use Compact/overwrite")
    // NULL/empty partition values land in Spark's
    // __HIVE_DEFAULT_PARTITION__ directory, which the copy-on-write
    // protocol's isin() filters and directory arithmetic cannot
    // address — reject them up front rather than corrupt the layout
    require(!distinctParts.exists(v =>
        v == null || String.valueOf(v).isEmpty),
      s"null/empty $partCol in update batch: the default-partition " +
        "directory is outside this merge's addressing")
    val allKeys = batch.select(col(keyCol))
    val target = Parquet.read(spark, dir)
    // old homes of matched keys: column-pruned (key, part) scan +
    // semi join — catches rows whose partition value the update moves
    val matchedHomes = target.select(col(keyCol), col(partCol))
      .join(allKeys, Seq(keyCol), "left_semi")
      .select(col(partCol)).distinct()
      .limit(maxTouchedPartitions + 1).collect().map(_.get(0))
    require(matchedHomes.length <= maxTouchedPartitions,
      s"matched keys live in > $maxTouchedPartitions partitions")
    require(!matchedHomes.exists(v =>
        v == null || String.valueOf(v).isEmpty),
      s"matched keys live in the null/empty-$partCol default " +
        "partition, which this merge cannot address")
    // WHEN NOT MATCHED BY SOURCE: homes of target rows whose key is
    // absent from the batch and whose delete condition holds — the
    // full-sync mirror clause widens the blast radius to wherever
    // such rows live (Delta's clause scans the whole target the same
    // way; the scan here is column-pruned to key+partition+condition)
    bySourceUpdate.foreach { case (_, sets) =>
      val resolver = spark.sessionState.conf.resolver
      require(sets.nonEmpty,
        "NOT MATCHED BY SOURCE UPDATE needs >= 1 assignment")
      sets.foreach { case (c, _) =>
        require(!resolver(c, partCol),
          s"NOT MATCHED BY SOURCE UPDATE SET on partition column " +
            s"'$c' is a row move: not supported")
        require(target.columns.exists(resolver(_, c)),
          s"NOT MATCHED BY SOURCE UPDATE SET: no column '$c' on $dir")
      }
    }
    val bySourceCond = bySourceDelete.orElse(bySourceUpdate.map(_._1))
    val bySourceHomes = bySourceCond.fold(Array.empty[Any]) { c =>
      target.filter(coalesce(c, lit(false)))
        .join(allKeys, Seq(keyCol), "left_anti")
        .select(col(partCol)).distinct()
        .limit(maxTouchedPartitions + 1).collect().map(_.get(0))
    }
    require(bySourceHomes.length <= maxTouchedPartitions,
      s"NOT MATCHED BY SOURCE rows live in > $maxTouchedPartitions " +
        "partitions")
    require(!bySourceHomes.exists(v =>
        v == null || String.valueOf(v).isEmpty),
      s"NOT MATCHED BY SOURCE rows live in the null/empty-$partCol " +
        "default partition, which this merge cannot address")
    val touched = (distinctParts ++ matchedHomes ++ bySourceHomes)
      .distinct
    if (touched.isEmpty) {
      val empty =
        if (!cdc) None
        else Some(emptyFeed(spark, dir, target))
      return (MergeStats(Nil, 0L, Nil), empty)
    }

    val targetTouched = target.filter(col(partCol).isin(touched: _*))
    val dataCols = target.columns.map(col).toIndexedSeq
    // touched-partition rows whose key the batch does not carry: they
    // survive, unless the NOT MATCHED BY SOURCE condition deletes them
    // (NULL condition = not satisfied = the row survives, 3VL)
    val notMatched = targetTouched.join(allKeys, Seq(keyCol), "left_anti")
    // UPDATE form of the BY SOURCE clause: assignments over the OLD
    // row, applied to the cond-matching unmatched rows (they stay)
    def bySourceProject(df: DataFrame): DataFrame =
      bySourceUpdate.fold(df) { case (c, sets) =>
        val resolver = spark.sessionState.conf.resolver
        val bsHit = coalesce(c, lit(false))
        df.select(df.schema.fields.map { f =>
          sets.find(s => resolver(s._1, f.name)) match {
            case Some((_, e)) =>
              when(bsHit, e.cast(f.dataType)).otherwise(col(f.name))
                .as(f.name)
            case None => col(f.name)
          }
        }.toIndexedSeq: _*)
      }
    val changes = if (!cdc) None else {
      // before-images: full rows of every matched key (their homes are
      // all inside `touched` by construction)
      val oldMatched = targetTouched.join(allKeys, Seq(keyCol), "left_semi")
      val matchedKeys = oldMatched.select(col(keyCol))
      val updatePost = upserts.select(dataCols: _*)
        .join(matchedKeys, Seq(keyCol), "left_semi")
      val inserts = upserts.select(dataCols: _*)
        .join(matchedKeys, Seq(keyCol), "left_anti")
      val updatePre = oldMatched
        .join(upserts.select(col(keyCol)), Seq(keyCol), "left_semi")
      val deletes = tombstones.fold(oldMatched.limit(0)) { t =>
        oldMatched.join(t.select(col(keyCol)), Seq(keyCol), "left_semi")
      }
      val bySourceDeletes = bySourceDelete.fold(oldMatched.limit(0))(c =>
        notMatched.filter(coalesce(c, lit(false))))
      val bySourceUpdPre = bySourceUpdate.fold(oldMatched.limit(0)) {
        case (c, _) => notMatched.filter(coalesce(c, lit(false)))
      }
      Some(updatePre.withColumn("_op", lit("update_pre"))
        .unionByName(updatePost.withColumn("_op", lit("update_post")))
        .unionByName(inserts.withColumn("_op", lit("insert")))
        .unionByName(deletes.withColumn("_op", lit("delete")))
        .unionByName(bySourceDeletes.withColumn("_op", lit("delete")))
        .unionByName(
          bySourceUpdPre.withColumn("_op", lit("update_pre")))
        .unionByName(bySourceProject(bySourceUpdPre)
          .withColumn("_op", lit("update_post"))))
    }

    val afterDelete = bySourceDelete.fold(notMatched)(c =>
      notMatched.filter(!coalesce(c, lit(false))))
    val survivors = bySourceProject(afterDelete)
    val merged = survivors.unionByName(upserts.select(dataCols: _*))
    // land the merged rows in a sibling staging directory, then publish
    // per partition via delete + rename: ONE data write, and the write
    // never reads the directory it is replacing — a lost executor
    // recomputing a task can only re-read the intact target, never a
    // half-overwritten one (the hazard a cached self-overwrite has)
    // (stagingPath/fs were resolved — and any torn previous publish
    // healed — at merge entry, before the discovery scans above)
    // the feed write and the staging write are independent actions
    // that both only READ the intact target — run them concurrently
    // (core.Par); both complete before the publish mutates anything,
    // preserving the feed-lands-before-the-table-changes contract
    // (q124 3.2 → 2.2 s, NOTES_r11)
    var feed: Option[DataFrame] = None
    val stageWrite: () => Unit = () =>
      merged.write.mode("overwrite").partitionBy(partCol)
        .parquet(stagingPath.toString)
    changes match {
      case Some(c) => graft.core.Par.run(
        () => { feed = Some(writeFeedBatch(spark, dir, c)) },
        stageWrite)
      case None => stageWrite()
    }
    val presentDirs = fs.listStatus(stagingPath)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(partCol + "="))
      .map(_.getPath.getName).toSet
    // a delete-only batch that drains every touched partition writes
    // an EMPTY staging dir (no files, no partition dirs) — reading it
    // back would fail schema inference, and the merge must still
    // commit (the publish below deletes the drained directories)
    val outputRows =
      if (presentDirs.isEmpty) 0L
      else Parquet.read(spark, stagingPath.toString).count()
    val touchedDirs =
      touched.map(v => s"$partCol=${escapePathName(String.valueOf(v))}")
    touchedDirs.foreach(n => fs.delete(new Path(dir, n), true))
    presentDirs.foreach { n =>
      if (!fs.rename(new Path(stagingPath, n), new Path(dir, n)))
        throw new java.io.IOException(
          s"could not publish partition $n into $dir")
    }
    fs.delete(stagingPath, true)
    val drained = touchedDirs.filterNot(presentDirs.contains)
      .map(_.stripPrefix(partCol + "="))
    (MergeStats(touched.map(String.valueOf).sorted.toSeq, outputRows,
      drained.sorted.toSeq), feed)
  }

  /** Heal a torn per-partition publish: rename staged partition
    * directories whose TARGET directory is missing into the target.
    * Fires only when `_SUCCESS` exists under staging — the publish
    * deletes target directories strictly after the staged write
    * commits, so a marker-less staging dir is an incomplete WRITE
    * (all targets intact, staged data possibly torn) and must be
    * discarded, never promoted. Staged dirs whose target still
    * exists are left for the caller's staging delete: their target
    * copy is the intact pre-crash state, and the re-run recomputes
    * them. Returns the healed directory names (for specs/audit).
    */
  private[io] def healTornPublish(fs: org.apache.hadoop.fs.FileSystem,
      dirPath: Path, stagingPath: Path, partCol: String): Seq[String] = {
    if (!fs.exists(stagingPath) ||
        !fs.exists(new Path(stagingPath, "_SUCCESS"))) return Nil
    fs.listStatus(stagingPath)
      .filter(s => s.isDirectory &&
        s.getPath.getName.startsWith(partCol + "="))
      .filter(s => !fs.exists(new Path(dirPath, s.getPath.getName)))
      .map { s =>
        val name = s.getPath.getName
        if (!fs.rename(s.getPath, new Path(dirPath, name)))
          throw new java.io.IOException(
            s"could not heal torn publish of $name into $dirPath")
        name
      }.toSeq.sorted
  }

  /** TIME TRAVEL by feed inversion: reconstruct the table as it was
    * BEFORE the batch that produced `feed` — the change feed carries
    * before-images, so one merge batch is exactly invertible:
    * rows the batch landed (`insert` ∪ `update_post` keys) come out,
    * rows it removed (`delete`) or replaced (`update_pre`) go back in.
    * Chain over feeds newest-to-oldest to reach any older version —
    * each step costs one anti-join against a BATCH-sized key set plus
    * a batch-sized union, so reading "yesterday's table" never replays
    * the table's history, only the feeds since (the Delta/Iceberg
    * version-read idea carried by the CDC feed alone). Requires the
    * key-unique contract every merge already enforces.
    */
  def snapshotBefore(current: DataFrame, feed: DataFrame,
      keyCol: String): DataFrame = {
    val landedKeys = feed
      .filter(col("_op").isin("insert", "update_post"))
      .select(col(keyCol))
    val removedRows = feed
      .filter(col("_op").isin("delete", "update_pre"))
      .drop("_op")
    current.join(landedKeys, Seq(keyCol), "left_anti")
      .unionByName(removedRows.select(
        current.columns.map(col).toIndexedSeq: _*))
  }

  /** Land a change-feed batch at `<dir>._cdc/batch-<n>` (n = first
    * unused index) and read it back. One driver listing of the feed
    * root — bounded by batches ever merged, not data. The write goes
    * through a dot-prefixed staging name invisible to the `batch-*`
    * consumers (the delta stream, time travel, the audit queries) and
    * publishes by ONE rename — a crash mid-write leaves only a
    * `.staging-*` orphan no consumer ever reads (and the next merge
    * allocates past it), never a torn batch that a glob would apply.
    *
    * The index is RESERVED by an atomic exclusive create of a hidden
    * `.alloc-<n>` marker before anything is written: two CONCURRENT
    * merges (legal against a [[VersionLog]] table, whose commit CAS
    * is the serialization point) would otherwise both compute the
    * same next index and collide — or worse, a rename onto the
    * winner's published directory would NEST one batch inside the
    * other. The loser of a reservation simply takes the next index;
    * markers live exactly as long as their batch (pruned together by
    * `Vacuum.pruneCdcBatches`); a crash between the reservation and
    * the publish leaves only a numbering gap, which no consumer
    * observes (they glob `batch-*` directories, never indexes).
    */
  private[io] def writeFeedBatch(spark: SparkSession, dir: String,
      changes: DataFrame): DataFrame = {
    val (_, name) = stageFeedBatch(spark, dir, changes)
    publishStagedFeed(spark, dir, name)
  }

  /** Stage a feed batch WITHOUT publishing it: reserve the index,
    * write the rows under the dot-prefixed staging name (invisible to
    * every `batch-*` consumer), and return (staging path, batch name).
    * The versioned merge uses this to make the feed transactional
    * with its commit CAS: a pre-commit publish would leave a
    * committed-looking batch of changes from a LOSING writer (whose
    * version never landed) in the feed — phantom rows for every
    * consumer. Staged batches publish via [[publishStagedFeed]] after
    * the commit wins, or are dropped via [[discardStagedFeed]] when it
    * loses; a crash in between leaves only an invisible orphan.
    */
  private[io] def stageFeedBatch(spark: SparkSession, dir: String,
      changes: DataFrame): (Path, String) = {
    val root = new Path(dir.stripSuffix("/") + "._cdc")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val next = allocFeedIndex(fs, root)
    val name = f"batch-$next%05d"
    val staging = new Path(root, s".staging-$name")
    fs.delete(staging, true)
    changes.write.mode("error").parquet(staging.toString)
    (staging, name)
  }

  /** Publish a staged feed batch by ONE rename. Idempotent on replay:
    * when the batch directory already exists (a heal re-publishing
    * after a crash that lost the staging rename's acknowledgement),
    * the existing batch is read back as-is.
    */
  private[io] def publishStagedFeed(spark: SparkSession, dir: String,
      name: String): DataFrame = {
    val root = new Path(dir.stripSuffix("/") + "._cdc")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val batchDir = new Path(root, name)
    if (!fs.exists(batchDir)) {
      val staging = new Path(root, s".staging-$name")
      // rename may lose to a concurrent healer publishing the same
      // staged batch — losing is success if the batch is now live
      if (!fs.rename(staging, batchDir) && !fs.exists(batchDir))
        throw new java.io.IOException(
          s"could not publish feed batch $name under $root")
    }
    Parquet.read(spark, batchDir.toString)
  }

  /** Drop a staged feed batch (commit CAS lost): the staging rows and
    * the index reservation both become vacuum-able orphans; consumers
    * never saw either.
    */
  private[io] def discardStagedFeed(spark: SparkSession, dir: String,
      name: String): Unit = {
    val root = new Path(dir.stripSuffix("/") + "._cdc")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(root, s".staging-$name"), true)
  }

  /** Atomically reserve the first free feed-batch index: exclusive
    * create of `.alloc-<n>` (O_EXCL via NIO on the local FS; Hadoop's
    * atomic `createNewFile` elsewhere), bumping past indexes other
    * writers won. Legacy roots without markers allocate past their
    * batch directories.
    */
  private def allocFeedIndex(fs: org.apache.hadoop.fs.FileSystem,
      root: Path): Int = {
    fs.mkdirs(root)
    val taken = fs.listStatus(root).map(_.getPath.getName).flatMap { n =>
      if (n.startsWith("batch-")) Some(n.stripPrefix("batch-").toInt)
      else if (n.startsWith(".alloc-")) Some(n.stripPrefix(".alloc-").toInt)
      else None
    }
    var next = if (taken.isEmpty) 0 else taken.max + 1
    var attempts = 0
    while (attempts < 10000) {
      val marker = new Path(root, f".alloc-$next%05d")
      val won =
        if ("file" == fs.getUri.getScheme) {
          try {
            java.nio.file.Files.createFile(
              java.nio.file.Paths.get(marker.toUri.getPath))
            true
          } catch {
            case _: java.nio.file.FileAlreadyExistsException => false
          }
        } else fs.createNewFile(marker)
      if (won) return next
      next += 1
      attempts += 1
    }
    throw new IllegalStateException(
      s"could not reserve a feed batch index under $root")
  }

  private def emptyFeed(spark: SparkSession, dir: String,
      target: DataFrame): DataFrame =
    writeFeedBatch(spark, dir,
      target.limit(0).withColumn("_op", lit("insert")))

  /** Hive-style partition-directory escaping — DELEGATED to the exact
    * routine Spark's partitioned write uses
    * (`ExternalCatalogUtils.escapePathName`), so the drained-directory
    * delete targets the same path the writer produced forever (a
    * hand-rolled mirror drifted on the DEL control character, which Spark escapes as
    * %7F).
    */
  private[io] def escapePathName(v: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .escapePathName(v)
}
