package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession, SQLContext}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.sources.{BaseRelation, DataSourceRegister, PrunedFilteredScan, RelationProvider, StreamSourceProvider}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.io.{Parquet, TableSnapshot, VersionLog}

/** `format("graft-cdc")` — the maintained table's row-level CHANGE
  * FEED (before/after images tagged `_op` ∈
  * update_pre/update_post/insert/delete), batch and streaming.
  *
  * For a VERSIONED table the feed covers EVERY write door, and its
  * coordinate is the commit log's own: `_feed_batch` = the version id
  * (so it composes with `format("graft-versions")` offsets and
  * `VERSION AS OF`). Only the merge door writes explicit image files
  * (`<dir>._cdc/batch-<n>`, named in its version file — update_pre /
  * update_post pairs cannot be reconstructed after the fact); every
  * other commit's images are SYNTHESIZED at read time from the
  * snapshot diff, the Delta-CDF / Iceberg-changelog design that keeps
  * the WRITE side zero-cost:
  *
  *  - append / init / clone → the added files read as `insert` images
  *    (no second copy of an ingest batch is ever written);
  *  - overwrite / replaceWhere / apply-deletes / restore → the
  *    removed files read as `delete` images plus the added files'
  *    LIVE rows as `insert` images (a key in both resolves
  *    insert-wins within the batch, so replay converges);
  *  - equality-delete commits → the new manifest's keys semi-joined
  *    against the parent snapshot as `delete` images (the O(KB)
  *    delete stays O(KB) at write time; the consumer pays the
  *    broadcast semi-join only when it asks for that version);
  *  - a restore that un-deletes keys (drops manifests with no file
  *    change) → the resurrected rows as `insert` images;
  *  - compaction / constraint commits → no changes (row-preserving).
  *
  * A restore that re-adds delete manifests AND changes files in one
  * commit cannot be synthesized row-exactly and refuses LOUDLY —
  * never a silently incomplete feed. Retention contract: version v's
  * changes need versions v and v-1 retained (vacuum must out-last
  * consumer lag, like every changelog).
  *
  * For an UNVERSIONED (in-place-merge) table the feed is the legacy
  * explicit one: published `batch-<n>` directories with the batch
  * index as the coordinate, served through a pruning [[FileIndex]].
  *
  * Streaming: the offset is the feed coordinate itself (version id /
  * batch index), so a checkpointed restart replays nothing and misses
  * nothing; `option("maxBatchesPerTrigger", n)` caps how many
  * commits/batches one micro-batch drains, so a lagging consumer
  * catches up incrementally instead of reading the whole backlog as
  * one batch.
  */
final class GraftCdcSource extends StreamSourceProvider
    with RelationProvider with DataSourceRegister {

  override def shortName(): String = "graft-cdc"

  private def pathOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-cdc requires the TABLE path: " +
        "spark.read[Stream].format(\"graft-cdc\").load(tableDir)"))

  private def maxPerTrigger(parameters: Map[String, String]): Long =
    parameters.get("maxBatchesPerTrigger").map(_.toLong)
      .map { n =>
        require(n >= 1, s"maxBatchesPerTrigger must be >= 1, got $n")
        n
      }.getOrElse(Long.MaxValue)

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    (shortName(), GraftCdcSource.feedSchema(
      sqlContext.sparkSession, pathOf(parameters)))

  /** `option("startingVersion", n)` — Delta's CDF option: the feed
    * starts at commit n (inclusive); versions below never plan.
    * Versioned tables only.
    */
  private def startingVersion(parameters: Map[String, String]):
      Option[Long] =
    parameters.get("startingVersion").map { v =>
      val n = v.toLong
      require(n >= 1, s"startingVersion must be >= 1, got $n")
      n
    }

  /** `option("requireColumns", "a,b")` — an exactly-once consumer
    * names the columns its logic cannot lose (its merge key, a
    * partition router): every replayed version must be able to serve
    * them through the column mapping, else the batch/stream REFUSES
    * loudly naming the version — instead of the default consumer's
    * null-fill (correct for generic mirrors, silent key loss for that
    * one). Versioned tables only.
    */
  private def requireColumns(parameters: Map[String, String]):
      Seq[String] =
    parameters.get("requireColumns").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)

  override def createSource(sqlContext: SQLContext,
      metadataPath: String, schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): Source = {
    val spark = sqlContext.sparkSession
    val dir = pathOf(parameters)
    if (VersionLog.listVersions(spark, dir).nonEmpty)
      new VersionedCdcStreamSource(spark, dir, maxPerTrigger(parameters),
        startingVersion(parameters), requireColumns(parameters))
    else {
      require(startingVersion(parameters).isEmpty,
        "startingVersion is supported on versioned tables only")
      require(requireColumns(parameters).isEmpty,
        "requireColumns is supported on versioned tables only")
      new CdcFeedStreamSource(spark, dir, maxPerTrigger(parameters))
    }
  }

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val spark = sqlContext.sparkSession
    val dir = pathOf(parameters)
    if (VersionLog.listVersions(spark, dir).nonEmpty)
      new VersionedCdcRelation(spark, dir, startingVersion(parameters),
        requireColumns(parameters))
    else {
      require(startingVersion(parameters).isEmpty,
        "startingVersion is supported on versioned tables only")
      require(requireColumns(parameters).isEmpty,
        "requireColumns is supported on versioned tables only")
      val index = new CdcFeedFileIndex(spark, dir)
      HadoopFsRelation(
        location = index,
        partitionSchema = CdcFeedFileIndex.partitionSchema,
        dataSchema = index.dataSchema,
        bucketSpec = None,
        fileFormat = new ParquetFileFormat,
        options = parameters)(spark)
    }
  }
}

object GraftCdcSource {

  private[sources] def feedRoot(dir: String): Path =
    new Path(dir.stripSuffix("/") + "._cdc")

  /** Published (index, directory) pairs, ascending. One listing of the
    * feed root — bounded by retained batches, never data.
    */
  private[sources] def publishedBatches(spark: SparkSession,
      dir: String): Seq[(Long, Path)] = {
    val root = feedRoot(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Nil
    fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch-"))
      .map(s => (s.getPath.getName.stripPrefix("batch-").toLong, s.getPath))
      .sortBy(_._1)
  }

  /** The feed's row schema plus `_feed_batch`. Versioned table: the
    * LATEST snapshot's table schema + `_op` (older, narrower
    * versions' images null-fill the evolved columns — the same
    * widened view the table read gives). Unversioned: the oldest
    * published batch's footer merged forward, or the table schema +
    * `_op` before any batch exists.
    */
  private[sources] def feedSchema(spark: SparkSession,
      dir: String): StructType = {
    val base =
      if (VersionLog.listVersions(spark, dir).nonEmpty)
        VersionLog.read(spark, dir).withColumn("_op", lit("insert")).schema
      else {
        val batches = publishedBatches(spark, dir)
        if (batches.nonEmpty)
          spark.read.option("mergeSchema", "true")
            .parquet(batches.map(_._2.toString): _*).schema
        else Parquet.read(spark, dir)
          .withColumn("_op", lit("insert")).schema
      }
    StructType(base.fields :+ StructField("_feed_batch", LongType))
  }

  /** Row-level changes of ONE committed version (columns: the table's
    * + `_op`; no `_feed_batch`). Explicit images when the version
    * wrote a feed batch (merge); synthesized from the snapshot diff
    * otherwise — see the class scaladoc for the per-door shapes and
    * the one loud refusal.
    */
  def changesForVersion(spark: SparkSession, dir: String,
      v: Long): DataFrame =
    changesForVersionVs(spark, dir, v,
      VersionLog.snapshot(spark, dir, None))

  /** [[changesForVersion]] with the LATEST snapshot supplied by the
    * caller — [[changesBetween]] resolves it once per batch instead
    * of once per replayed version.
    */
  private def changesForVersionVs(spark: SparkSession, dir: String,
      v: Long, latest: graft.io.TableSnapshot): DataFrame = {
    val base = dir.stripSuffix("/")
    val snap = VersionLog.snapshot(spark, dir, Some(v))
    val images = snap.feed match {
      case Some(name) =>
        Parquet.read(spark, s"$base._cdc/$name")
      case None => synthesizeChanges(spark, dir, snap)
    }
    remapToCurrent(images, snap, latest)
  }

  /** Project one replayed version's images — bound to THAT version's
    * logical names — into the CURRENT logical schema, through
    * PHYSICAL identity: a column renamed after the version keeps
    * flowing under its new name (a metadata-only RENAME must not
    * brick every downstream graft-cdc mirror), a column dropped after
    * it projects away (it no longer exists for consumers), and a
    * fresh re-add of a retired name null-fills downstream (the
    * replayed version never carried the new physical identity — the
    * leak-proof direction). Identity when the mapping never changed.
    */
  private def remapToCurrent(df: DataFrame, snap: TableSnapshot,
      latest: TableSnapshot): DataFrame = {
    if (snap.colMap == latest.colMap &&
        snap.droppedPhys == latest.droppedPhys) return df
    // the images bind the REPLAYED version's logical names: project
    // them to PHYSICAL identity under that version's mapping, then
    // lift the physical frame into the CURRENT logical view — a later
    // rename keeps the physical and re-binds the logical, a later
    // drop projects away, a fresh re-add never receives old bytes
    // (its physical id is new). Both hops are the ONE pair of
    // projections every read/write door uses, so NESTED mappings ride
    // for free. `_op` is unmapped on both sides and passes through.
    VersionLog.toLogicalView(
      VersionLog.toPhysical(df, snap.colMap), latest)
  }

  private def emptyChanges(spark: SparkSession, dir: String,
      v: Long): DataFrame =
    VersionLog.read(spark, dir, Some(v)).limit(0)
      .withColumn("_op", lit("insert"))

  private def manifestKeys(spark: SparkSession, base: String,
      manifests: Seq[String]): DataFrame =
    spark.read.parquet(manifests.map(f => s"$base/$f"): _*).distinct()

  private def synthesizeChanges(spark: SparkSession, dir: String,
      snap: TableSnapshot): DataFrame = {
    val base = dir.stripSuffix("/")
    // delta-form commits hand the diff over in one small read — the
    // per-commit synthesis cost stays O(change) at any table size
    val diff = VersionLog.commitDiff(spark, dir, snap.version)
    val added = diff.added
    val removed = diff.removed
    val dAdded = diff.deletesAdded
    val dRemoved = diff.deletesRemoved

    if (snap.action == "compact")
      return emptyChanges(spark, dir, snap.version) // row-preserving
    if (dAdded.nonEmpty) {
      // equality-delete commit: delete images = the parent snapshot's
      // LIVE rows carrying the new manifest's keys (broadcast side is
      // the KB-sized key list; the write stayed O(KB))
      if (added.nonEmpty || removed.nonEmpty || dRemoved.nonEmpty)
        throw new IllegalStateException(
          s"graft-cdc cannot synthesize row images for version " +
            s"${snap.version} of $dir (action ${snap.action}): it " +
            "adds equality-delete manifests AND changes data files " +
            "in one commit — replay through snapshot-level consumers " +
            "(graft-versions) across this version instead")
      val keys = manifestKeys(spark, base, dAdded)
      return VersionLog.read(spark, dir, Some(snap.parent))
        .join(broadcast(keys), Seq(keys.columns.head), "left_semi")
        .withColumn("_op", lit("delete"))
    }
    if (added.isEmpty && removed.isEmpty) {
      if (dRemoved.isEmpty) // constraints-only commit: no row changed
        return emptyChanges(spark, dir, snap.version)
      // a restore that UN-DELETES keys with no file change: the
      // resurrected rows surface as inserts
      val keys = manifestKeys(spark, base, dRemoved)
      return VersionLog.read(spark, dir, Some(snap.version))
        .join(broadcast(keys), Seq(keys.columns.head), "left_semi")
        .withColumn("_op", lit("insert"))
    }
    // file-granular rewrite (append/init/clone: removed is empty;
    // overwrite/replaceWhere/apply-deletes/restore: both sides).
    // Delete images may include keys that were already logically
    // absent (a physically-rewritten file still holding
    // manifest-deleted rows) — replay-convergent, a delete of an
    // absent key is a no-op. Insert images are the added files' LIVE
    // rows: outstanding manifests are anti-joined so a carried-forward
    // delete can never resurrect through the feed.
    val del =
      if (removed.isEmpty) None
      else Some(VersionLog.toLogicalView(
          VersionLog.readFiles(spark, dir, removed), snap)
        .withColumn("_op", lit("delete")))
    val ins =
      if (added.isEmpty) None
      else {
        val raw = VersionLog.toLogicalView(
          VersionLog.readFiles(spark, dir, added), snap)
        val live =
          if (snap.deletes.isEmpty) raw
          else {
            val keys = manifestKeys(spark, base, snap.deletes)
            raw.join(broadcast(keys), Seq(keys.columns.head), "left_anti")
          }
        Some(live.withColumn("_op", lit("insert")))
      }
    (del, ins) match {
      case (Some(d), Some(i)) =>
        d.unionByName(i, allowMissingColumns = true)
      case (Some(d), None) => d
      case (None, Some(i)) => i
      case (None, None) => emptyChanges(spark, dir, snap.version)
    }
  }

  /** Conservative (loExclusive, hiInclusive] version bounds from the
    * pushed `_feed_batch` predicates (anything unrecognized widens) —
    * the batch relation's plan-time pruning: versions outside the
    * bounds contribute NOTHING to the scan, no snapshot resolved, no
    * file opened. Spark re-applies every filter above the scan
    * (unhandledFilters default), so the bounds only need to be
    * conservative, never exact.
    */
  private[graft] def versionBounds(
      filters: Array[org.apache.spark.sql.sources.Filter]):
      (Long, Long) = {
    import org.apache.spark.sql.sources
    var lo = 0L // exclusive
    var hi = Long.MaxValue
    def num(v: Any): Option[Long] = v match {
      case n: java.lang.Number => Some(n.longValue)
      case _ => None
    }
    filters.foreach {
      case sources.EqualTo("_feed_batch", v) => num(v).foreach { n =>
        lo = math.max(lo, n - 1); hi = math.min(hi, n)
      }
      case sources.GreaterThan("_feed_batch", v) =>
        num(v).foreach(n => lo = math.max(lo, n))
      case sources.GreaterThanOrEqual("_feed_batch", v) =>
        num(v).foreach(n => lo = math.max(lo, n - 1))
      case sources.LessThan("_feed_batch", v) =>
        num(v).foreach(n => hi = math.min(hi, n - 1))
      case sources.LessThanOrEqual("_feed_batch", v) =>
        num(v).foreach(n => hi = math.min(hi, n))
      case sources.In("_feed_batch", vs) =>
        val ns = vs.flatMap(num)
        if (ns.nonEmpty && ns.length == vs.length) {
          lo = math.max(lo, ns.min - 1); hi = math.min(hi, ns.max)
        }
      case _ => ()
    }
    (lo, hi)
  }

  /** Changes of every version in (lo, hi], tagged `_feed_batch` =
    * version id and ALIGNED to `schema` (evolution null-fills; column
    * order fixed) — the shared builder behind the stream's getBatch
    * and the batch relation. Version count in one call is bounded by
    * the rate limit / pushed predicates; each version contributes one
    * vectorized scan branch (or a semi-join for delete commits).
    */
  def changesBetween(spark: SparkSession, dir: String, lo: Long,
      hi: Long, schema: StructType,
      requireColumns: Seq[String] = Nil): DataFrame = {
    requireColumns.foreach(c => require(schema.fieldNames.contains(c),
      s"requireColumns: no column '$c' on the feed of $dir " +
        s"(have ${schema.fieldNames.mkString(",")})"))
    val versions = VersionLog.listVersions(spark, dir)
      .filter(v => v > lo && v <= hi)
    val batch =
      if (versions.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[Row], schema)
      else {
        val latest = VersionLog.snapshot(spark, dir, None)
        versions.map { v =>
          val remapped = changesForVersionVs(spark, dir, v, latest)
          // a required column the replayed version cannot serve
          // through the mapping (dropped-then-re-added name, or the
          // version predates the column) would silently null-fill
          // below — the consumer declared it cannot survive that
          requireColumns.filterNot(remapped.columns.contains)
            .foreach { c =>
              throw new IllegalStateException(
                s"graft-cdc at $dir: version $v cannot serve " +
                  s"required column '$c' through the column mapping " +
                  "(dropped/re-added or not yet added at that " +
                  "version) — resume past it with startingVersion, " +
                  "or drop the requireColumns guard to accept " +
                  "null-filled images")
            }
          remapped.withColumn("_feed_batch", lit(v))
        }.reduce(_.unionByName(_, allowMissingColumns = true))
      }
    schema.fields.foldLeft(batch) { (df, f) =>
        if (df.columns.contains(f.name)) df
        else df.withColumn(f.name, lit(null).cast(f.dataType))
      }.select(schema.fieldNames.map(col).toIndexedSeq: _*)
  }
}

/** Batch relation over a VERSIONED table's change feed. Pushed
  * `_feed_batch` predicates select the VERSION RANGE on the driver
  * (plan-time pruning over the commit list — "changes since v" plans
  * over only the new versions); all filters are left unhandled so
  * Spark re-applies them exactly above. `needConversion = false` with
  * the planned InternalRow RDD keeps the inner vectorized parquet
  * scans row-copy-free.
  */
private final class VersionedCdcRelation(spark: SparkSession,
    dir: String, startingVersion: Option[Long] = None,
    requireColumns: Seq[String] = Nil)
    extends BaseRelation with PrunedFilteredScan {
  import org.apache.spark.sql.sources

  override def sqlContext: SQLContext = spark.sqlContext

  override val schema: StructType = GraftCdcSource.feedSchema(spark, dir)

  override def needConversion: Boolean = false

  override def buildScan(requiredColumns: Array[String],
      filters: Array[sources.Filter]): RDD[Row] = {
    val (lo0, hi) = GraftCdcSource.versionBounds(filters)
    val lo = math.max(lo0, startingVersion.map(_ - 1).getOrElse(0L))
    val df = GraftCdcSource.changesBetween(spark, dir, lo, hi, schema,
        requireColumns)
      .select(requiredColumns.map(col).toIndexedSeq: _*)
    // needConversion = false: hand back the planned InternalRow RDD
    // (the inner vectorized scans and the column pruning stay inside
    // one planned query; no Row materialization on the seam)
    df.queryExecution.toRdd.asInstanceOf[RDD[Row]]
  }
}

/** Micro-batch stream over a VERSIONED table's change feed: the
  * OFFSET is the version id ("every version <= n consumed"), so a
  * checkpointed restart resumes on the commit log's own coordinate;
  * each micro-batch is [[GraftCdcSource.changesBetween]] over at most
  * `maxPerTrigger` versions (backlog catch-up is incremental).
  */
private final class VersionedCdcStreamSource(spark: SparkSession,
    dir: String, maxPerTrigger: Long,
    startingVersion: Option[Long] = None,
    requireColumns: Seq[String] = Nil) extends Source {

  override val schema: StructType = GraftCdcSource.feedSchema(spark, dir)

  /** Highest offset this source has planned or recovered — the rate
    * limit's base. Recovery (getBatch from the checkpoint) bumps it
    * before the first getOffset, exactly like FileStreamSource's
    * internal log. A fresh start (no checkpoint) begins at
    * `startingVersion` when given — versions below never plan.
    */
  private var seenUpTo = startingVersion.map(_ - 1L).getOrElse(0L)

  private def parseOffset(o: Offset): Long = o.json.trim.toLong

  override def getOffset: Option[Offset] = synchronized {
    val versions = VersionLog.listVersions(spark, dir)
    if (versions.isEmpty) return None
    val capped = math.min(versions.last,
      if (Long.MaxValue - maxPerTrigger < seenUpTo) Long.MaxValue
      else seenUpTo + maxPerTrigger)
    seenUpTo = math.max(seenUpTo, capped)
    if (seenUpTo <= 0L) None else Some(CdcFeedOffset(seenUpTo))
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    // a fresh query (start = None) begins at startingVersion, not 0 —
    // getOffset may legitimately hand back an offset below it when
    // the log is shorter than the requested start. On CHECKPOINT
    // RECOVERY (start = Some) the committed offset is truth: a
    // restart with a HIGHER startingVersion must not shrink the
    // committed-but-unprocessed batch (exactly-once replay — Delta
    // likewise ignores startingVersion once a checkpoint exists).
    val lo = start.map(parseOffset)
      .getOrElse(startingVersion.map(_ - 1L).getOrElse(0L))
    val hi = parseOffset(end)
    synchronized { seenUpTo = math.max(seenUpTo, hi) }
    Bridge.internalCreateDataFrame(spark,
      GraftCdcSource.changesBetween(spark, dir, lo, hi, schema,
        requireColumns),
      isStreaming = true)
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
  override def toString: String = s"GraftCdcSource[versioned $dir]"
}

/** Micro-batch stream over an UNVERSIONED table's explicit feed.
  * Offset semantics: `n` = "every published batch with index < n is
  * consumed"; `getBatch(a, b)` reads exactly the published batches in
  * [a, b) as ONE vectorized parquet plan (older, schema-narrower
  * batches null-fill the evolved columns). `maxPerTrigger` caps how
  * many batches one trigger drains.
  */
private final class CdcFeedStreamSource(spark: SparkSession,
    dir: String, maxPerTrigger: Long) extends Source {

  override val schema: StructType = GraftCdcSource.feedSchema(spark, dir)

  private var seenUpTo = 0L

  private def parseOffset(o: Offset): Long = o.json.trim.toLong

  override def getOffset: Option[Offset] = synchronized {
    val batches = GraftCdcSource.publishedBatches(spark, dir)
    if (batches.isEmpty) return None
    val capped = math.min(batches.last._1 + 1L,
      if (Long.MaxValue - maxPerTrigger < seenUpTo) Long.MaxValue
      else seenUpTo + maxPerTrigger)
    seenUpTo = math.max(seenUpTo, capped)
    if (seenUpTo <= 0L) None else Some(CdcFeedOffset(seenUpTo))
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val lo = start.map(parseOffset).getOrElse(0L)
    val hi = parseOffset(end)
    synchronized { seenUpTo = math.max(seenUpTo, hi) }
    val picked = GraftCdcSource.publishedBatches(spark, dir)
      .filter { case (i, _) => i >= lo && i < hi }
    val batch =
      if (picked.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else picked.map { case (i, p) =>
          Parquet.read(spark, p.toString)
            .withColumn("_feed_batch", lit(i))
        }.reduce(_.unionByName(_, allowMissingColumns = true))
    // align to the declared schema (order + evolution null-fill)
    val aligned = schema.fields.foldLeft(batch) { (df, f) =>
        if (df.columns.contains(f.name)) df
        else df.withColumn(f.name, lit(null).cast(f.dataType))
      }.select(schema.fieldNames.map(col).toIndexedSeq: _*)
    Bridge.internalCreateDataFrame(spark, aligned, isStreaming = true)
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
  override def toString: String = s"GraftCdcSource[$dir]"
}

private final case class CdcFeedOffset(next: Long) extends Offset {
  override def json(): String = next.toString
}

/** Batch-read FileIndex (unversioned tables): every published feed
  * file, with the batch index as a LONG partition value parsed from
  * its `batch-<n>` parent directory — `_feed_batch` predicates prune
  * batch directories on the driver's file list, so "changes since
  * offset n" plans over only the new batches.
  */
private final class CdcFeedFileIndex(spark: SparkSession, dir: String)
    extends FileIndex {

  private val root = GraftCdcSource.feedRoot(dir)
  private val fs =
    root.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val filesByBatch: Seq[(Long, Seq[FileStatus])] =
    GraftCdcSource.publishedBatches(spark, dir).map { case (i, p) =>
      (i, fs.listStatus(p).toSeq
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet")))
    }

  val dataSchema: StructType = {
    require(filesByBatch.nonEmpty,
      s"no published CDC feed batches under $root")
    // one footer per batch, oldest first — same merge order as the
    // stream's schema (evolution appends)
    spark.read.option("mergeSchema", "true")
      .parquet(filesByBatch.map(_._2.head.getPath.toString): _*).schema
  }

  override def rootPaths: Seq[Path] = Seq(root)

  override def inputFiles: Array[String] =
    filesByBatch.flatMap(_._2.map(_.getPath.toString)).toArray

  override def sizeInBytes: Long =
    filesByBatch.flatMap(_._2.map(_.getLen)).sum

  override def refresh(): Unit = ()

  override def partitionSchema: StructType =
    CdcFeedFileIndex.partitionSchema

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    // evaluate pushed _feed_batch predicates against the parsed batch
    // index (the planner does not re-apply partition-only conjuncts
    // above the scan — applying them here is a correctness
    // obligation, exactly like GraftFileIndex.prunePartitions)
    val pred = CdcFeedFileIndex.bindIndexPredicate(
      spark, partitionFilters)
    filesByBatch.filter { case (i, _) => pred(i) }.map { case (i, fls) =>
      PartitionDirectory(InternalRow(i), fls.toArray)
    }
  }
}

private object CdcFeedFileIndex {
  val partitionSchema: StructType =
    StructType(Seq(StructField("_feed_batch", LongType)))

  private[sources] def bindIndexPredicate(spark: SparkSession,
      filters: Seq[Expression]): Long => Boolean = {
    import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BasePredicate, BoundReference, Predicate}
    val usable = filters.filter(_.references.forall(a =>
      spark.sessionState.conf.resolver(a.name, "_feed_batch")))
    if (usable.isEmpty) return _ => true
    val bound = usable.reduce(And).transform {
      case _: AttributeReference =>
        BoundReference(0, LongType, nullable = true)
    }
    val p: BasePredicate = Predicate.createInterpreted(bound)
    (i: Long) => p.eval(InternalRow(i))
  }
}
