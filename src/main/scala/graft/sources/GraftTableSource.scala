package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference, BasePredicate, BoundReference, EqualTo, Expression, GetStructField, GreaterThan, GreaterThanOrEqual, In, InSet, LessThan, LessThanOrEqual, Literal, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.{BaseRelation, DataSourceRegister, RelationProvider}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.{SparkSession, SQLContext}
import org.apache.spark.unsafe.types.UTF8String

import graft.io.{KeyBloom, Parquet, VersionLog}

/** `spark.read.format("graft").load(dir)` — the maintained table as a
  * first-class Spark data source, with ALL of this engine's metadata
  * consulted at PLANNING time:
  *
  *  - the [[graft.io.VersionLog]] pins the snapshot's exact file list
  *    at relation-creation time (`.option("versionAsOf", n)` time-
  *    travels), so a query planned mid-merge runs entirely on one
  *    version — the snapshot-isolation read path;
  *  - the per-file min/max manifest (`._manifest`) prunes files whose
  *    stats box misses the query's pushed range/equality predicates —
  *    on a z-ordered layout a 2-D box opens a handful of files without
  *    one footer round trip to the rest;
  *  - the per-file key bloom (`._keybloom`, `.option("bloomKey", c)`)
  *    prunes point lookups on a column the layout is NOT sorted by;
  *  - hive-style `part=value` directories surface as partition
  *    columns (LONG when every value parses, STRING otherwise),
  *    pruned by partition predicates.
  *
  * The integration shape is the Delta/Iceberg one, not a bespoke
  * reader: a custom [[FileIndex]] behind a [[HadoopFsRelation]]. The
  * planner hands `listFiles` the pushed partition AND data filters
  * (exactly how Delta does file skipping), and everything downstream —
  * vectorized parquet decode, row-group statistics, whole-stage
  * codegen, AQE — is Spark's own scan machinery. Pruning here is
  * file-LIST work on the driver (short strings, bounded by file
  * count), never a data pass; it is conservative (a kept file may
  * hold no matching row — the scan's own pushed filters finish the
  * job), and a missing sidecar just means that layer skips.
  *
  * Reference analog: the immutable-snapshot parquet reads of
  * `/root/reference/edsnlp/data/parquet.py:60-120`, kept sound under
  * mutation and given format-level statistics.
  */
final class GraftTableSource extends RelationProvider
    with org.apache.spark.sql.sources.CreatableRelationProvider
    with org.apache.spark.sql.sources.StreamSinkProvider
    with DataSourceRegister {
  override def shortName(): String = "graft"

  /** `df.writeStream.format("graft")` — the versioned table as a
    * STREAMING SINK with exactly-once micro-batches: every epoch is
    * ONE tagged snapshot commit (`<txnApp>#<batchId>` as the version's
    * action — the Delta `txn` idea via [[VersionLog.appendOnce]]), so
    * an at-least-once redelivery after a restart finds its tag in the
    * retained log and skips whole. Append output mode commits appends
    * (bootstrapping version 1 on the first epoch); Complete commits
    * overwrites (each trigger replaces the table, older versions still
    * time-travel); Update with `option("mergeKey", col)` commits one
    * exactly-once CDC merge per epoch (upsert stream; optional
    * `option("deleteWhen", <sql>)` for tombstones). The idempotency
    * scope defaults to
    * the query's checkpointLocation option (unique per logical
    * stream); `option("txnApp", ...)` overrides it. Batch readers and
    * the commit-tail/CDC streaming sources see each epoch atomically —
    * never a half-written micro-batch.
    */
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode):
      org.apache.spark.sql.execution.streaming.Sink = {
    val dir = parameters.getOrElse("path",
      throw new IllegalArgumentException("graft streaming sink " +
        "requires a path: df.writeStream.format(\"graft\").start(dir)"))
    require(partitionColumns.size <= 1,
      "graft tables support at most one partition column, got: " +
        partitionColumns.mkString(", "))
    val partCol = partitionColumns.headOption
      .orElse(parameters.get("partitionBy"))
    val txnApp = parameters.get("txnApp")
      .orElse(parameters.get("checkpointLocation"))
      .getOrElse(throw new IllegalArgumentException(
        "graft streaming sink needs option(\"checkpointLocation\", ...)" +
          " (or option(\"txnApp\", ...)) as its exactly-once scope"))
    new GraftStreamSink(dir, partCol, outputMode, txnApp,
      parameters.get("mergeKey"), parameters.get("deleteWhen"))
  }

  /** `df.write.format("graft")[.option("partitionBy", c)].mode(m)
    * .save(dir)` — every SaveMode maps onto a version-log commit, so
    * writes inherit the snapshot contracts (atomic publish, pinned
    * readers, nothing deleted, time travel):
    *  - ErrorIfExists (default): init version 1; fails on a versioned
    *    table;
    *  - Append: a commit listing parent files + the new batch;
    *  - Overwrite: a commit listing ONLY the new batch (old versions
    *    stay readable until vacuum);
    *  - Ignore: no-op when the table exists.
    * The partition layout comes from `option("partitionBy", col)` —
    * the DataFrameWriter.partitionBy clause only reaches file-format
    * sources in the V1 API.
    */
  override def createRelation(sqlContext: SQLContext,
      mode: org.apache.spark.sql.SaveMode,
      parameters: Map[String, String],
      data: org.apache.spark.sql.DataFrame): BaseRelation = {
    import org.apache.spark.sql.SaveMode
    val spark = sqlContext.sparkSession
    val dir = parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "graft sink requires a path: df.write.format(\"graft\").save(dir)"))
    val partitionBy = parameters.get("partitionBy")
    val exists = VersionLog.listVersions(spark, dir).nonEmpty
    mode match {
      case SaveMode.ErrorIfExists =>
        require(!exists, s"graft table at $dir already exists " +
          "(versions present); use mode append/overwrite")
        VersionLog.init(spark, dir, data, partitionBy)
      case SaveMode.Append =>
        if (!exists) VersionLog.init(spark, dir, data, partitionBy)
        else VersionLog.append(spark, dir, data, partitionBy)
      case SaveMode.Overwrite =>
        if (!exists) VersionLog.init(spark, dir, data, partitionBy)
        else VersionLog.overwrite(spark, dir, data, partitionBy)
      case SaveMode.Ignore =>
        if (!exists) VersionLog.init(spark, dir, data, partitionBy)
    }
    createRelation(sqlContext, parameters)
  }

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val spark = sqlContext.sparkSession
    val dir = parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "graft source requires a path: spark.read.format(\"graft\").load(dir)"))
    // timestampAsOf (Delta's option): resolve against the in-commit
    // instants, then proceed exactly like versionAsOf. Both given =
    // ambiguous, refuse.
    val tsVersion = parameters.get("timestampAsOf").map { ts =>
      require(!parameters.contains("versionAsOf"),
        "give versionAsOf OR timestampAsOf, not both")
      VersionLog.versionAtTimestamp(spark, dir,
        VersionLog.timestampLiteralMillis(spark, ts))
    }
    val index = new GraftFileIndex(spark, dir,
      parameters.get("versionAsOf").map(_.toLong).orElse(tsVersion),
      parameters.get("bloomKey"),
      parameters.get("bloomLog2Bits").map(_.toInt).getOrElse(16),
      parameters.get("bloomK").map(_.toInt).getOrElse(4),
      parameters.get("acceptDeletes").exists(_.toBoolean),
      parameters.get("acceptPhysicalNames").exists(_.toBoolean))
    HadoopFsRelation(
      location = index,
      partitionSchema = index.partitionSchema,
      dataSchema = index.dataSchema,
      bucketSpec = None,
      fileFormat = new ParquetFileFormat,
      options = parameters)(spark)
  }
}

/** The micro-batch side of the graft streaming sink: one exactly-once
  * tagged commit per epoch (see [[GraftTableSource.createSink]]). The
  * incoming DataFrame is bound to the stream's incremental execution —
  * it is re-wrapped as a plain batch frame over the already-planned
  * InternalRow RDD (the [[org.apache.spark.sql.graftbridge.Bridge]]
  * accessor, the same shape FileStreamSink/Delta use) so the
  * version-log write path can treat it like any batch.
  */
private[sources] final class GraftStreamSink(dir: String,
    partCol: Option[String],
    mode: org.apache.spark.sql.streaming.OutputMode,
    txnApp: String, mergeKey: Option[String],
    deleteWhen: Option[String])
    extends org.apache.spark.sql.execution.streaming.Sink {
  import org.apache.spark.sql.streaming.OutputMode

  override def addBatch(batchId: Long,
      data: org.apache.spark.sql.DataFrame): Unit = {
    val spark = data.sparkSession
    val batch = org.apache.spark.sql.graftbridge.Bridge
      .internalCreateDataFrame(spark, data, isStreaming = false)
    val tag = s"$txnApp#$batchId"
    if (mode == OutputMode.Update()) {
      // upsert stream: each epoch is one exactly-once CDC merge
      val key = mergeKey.getOrElse(throw new IllegalArgumentException(
        "Update-mode graft sink needs option(\"mergeKey\", <col>) — " +
          "the column each epoch upserts by"))
      val pc = partCol.getOrElse(throw new IllegalArgumentException(
        "Update-mode graft sink needs a partition column " +
          "(partitionBy or the table's layout)"))
      if (VersionLog.listVersions(spark, dir).isEmpty) {
        // BOOTSTRAP: the first epoch of a fresh upsert stream has no
        // table to merge into — by definition it also has nothing to
        // match, so it is an exactly-once tagged init of the
        // non-tombstone rows (a delete for a key that never existed
        // is a no-op, exactly what the merge would have done). Same
        // duplicate-key contract as the merge, enforced up front.
        val live = deleteWhen.fold(batch)(c => batch.filter(
          !org.apache.spark.sql.functions.coalesce(
            org.apache.spark.sql.functions.expr(c),
            org.apache.spark.sql.functions.lit(false))))
        val dup = live.groupBy(org.apache.spark.sql.functions.col(key))
          .count().filter(org.apache.spark.sql.functions.col("count") > 1)
          .limit(1).collect()
        require(dup.isEmpty,
          s"duplicate mergeKey $key in the bootstrap epoch " +
            s"(e.g. ${dup.headOption}): an upsert epoch may carry " +
            "each key at most once")
        VersionLog.appendOnce(spark, dir, tag, live, Some(pc))
      } else VersionLog.mergeBatchOnce(spark, dir, tag, batch, key, pc,
        deleteWhen.map(org.apache.spark.sql.functions.expr))
    }
    else if (mode == OutputMode.Append())
      VersionLog.appendOnce(spark, dir, tag, batch, partCol)
    else if (mode == OutputMode.Complete())
      VersionLog.overwriteOnce(spark, dir, tag, batch, partCol)
    else throw new UnsupportedOperationException(
      s"graft streaming sink does not support output mode $mode")
  }

  override def toString: String = s"GraftSink[$dir]"
}

/** One live data file of the pinned snapshot, with its parsed
  * partition values (outermost first) ready for planning.
  */
private final case class GraftFile(status: FileStatus,
    partValues: Seq[String])

/** [[FileIndex]] over a graft table: resolves the version-pinned file
  * list once at construction, serves `listFiles` by evaluating the
  * pushed partition filters against parsed `part=value` path segments
  * and the pushed data filters against the manifest/bloom sidecars.
  */
private[graft] final class GraftFileIndex(spark: SparkSession,
    dir: String,
    versionAsOf: Option[Long], bloomKey: Option[String],
    bloomLog2Bits: Int, bloomK: Int,
    acceptDeletes: Boolean = false,
    acceptPhysicalNames: Boolean = false) extends FileIndex {

  private val base = dir.stripSuffix("/")
  private val basePath = new Path(base)
  private val fs =
    basePath.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The pinned snapshot's declared schema commit, when one exists
    * (`ALTER TABLE ADD COLUMN` history) — set by [[resolve]], so time
    * travel reads each version's own schema.
    */
  private var pinnedSchemaJson: Option[String] = None

  /** The pinned snapshot's column mapping (logical -> physical) and
    * retired physical names — this RELATION stays fully PHYSICAL
    * (file column names; stats/bloom/manifest sidecars key on them);
    * `VersionLog.read` / the catalog rule project physical ->
    * logical above it. Retired physicals are excluded from the
    * schema so a dropped column can never surface.
    */
  private var pinnedColMap: Seq[(String, String)] = Nil
  private var pinnedDropped: Seq[String] = Nil

  /** Pinned file list: the version log's snapshot when present, the
    * flat top-level parquet listing otherwise (a z-ordered unversioned
    * layout gets the same statistics-consulting scan). Resolved once;
    * [[refresh]] re-resolves.
    */
  private var filesPinned: Seq[GraftFile] = resolve()

  private def resolve(): Seq[GraftFile] = {
    val statuses: Seq[FileStatus] =
      if (VersionLog.listVersions(spark, base).nonEmpty) {
        val snap = VersionLog.snapshot(spark, base, versionAsOf)
        pinnedSchemaJson = snap.schemaJson
        pinnedColMap = snap.colMap
        pinnedDropped = snap.droppedPhys
        // merge-on-read: a snapshot with live equality-delete
        // manifests must not be scanned raw by a door that never
        // applies them — VersionLog.read and the graft catalog
        // anti-join the manifests and pass acceptDeletes; a direct
        // format("graft") read refuses instead of silently diverging
        if (snap.deletes.nonEmpty && !acceptDeletes)
          throw new IllegalStateException(
            s"snapshot v${snap.version} of $base carries " +
              s"${snap.deletes.size} equality-delete manifests; read " +
              "through VersionLog.read / the graft catalog (which " +
              "apply them), fold them with applyDeletesCommit, or " +
              "acknowledge raw rows with option(\"acceptDeletes\", " +
              "\"true\")")
        // same no-silently-diverging-door rule for column mapping:
        // this relation surfaces PHYSICAL names (a renamed column
        // under its old name, dropped columns hidden) — a direct
        // format("graft") read of a mapped table must acknowledge
        // that or go through a door that projects to logical names
        // the acknowledgment can also be persisted as a TABLE
        // property (`graft.acceptPhysicalNames`): a table whose owner
        // declares every consumer physical-name-aware reads raw
        // without the per-reader option
        val tableAcksPhysical = snap.properties.exists(p =>
          p._1 == "graft.acceptPhysicalNames" &&
            p._2.equalsIgnoreCase("true"))
        if ((snap.colMap.nonEmpty || snap.droppedPhys.nonEmpty) &&
            !acceptPhysicalNames && !tableAcksPhysical)
          throw new IllegalStateException(
            s"snapshot v${snap.version} of $base carries a column " +
              "mapping (RENAME/DROP COLUMN history); read through " +
              "VersionLog.read / the graft catalog (which surface " +
              "logical names), or acknowledge physical file names " +
              "with option(\"acceptPhysicalNames\", \"true\")")
        // one listStatus per parent directory instead of one
        // getFileStatus RPC per file
        val byParent = snap.files.groupBy(f =>
          f.split("/").dropRight(1).mkString("/"))
        byParent.toSeq.flatMap { case (parent, rels) =>
          val wanted = rels.map(_.split("/").last).toSet
          val found = fs.listStatus(new Path(base, parent))
            .filter(s => s.isFile && wanted.contains(s.getPath.getName))
          // every snapshot-listed file MUST be on disk: silently
          // dropping a missing one (mid-vacuum race on an old
          // versionAsOf, external damage) would return silently
          // missing rows where a direct read fails loudly
          if (found.length != wanted.size) {
            val missing = wanted -- found.map(_.getPath.getName)
            throw new java.io.FileNotFoundException(
              s"snapshot v${snap.version} of $base lists files absent " +
                s"on disk under $parent: ${missing.mkString(", ")} — " +
                "vacuumed too aggressively or externally damaged")
          }
          found
        }
      } else {
        require(versionAsOf.isEmpty,
          s"versionAsOf given but $base has no version log")
        fs.listStatus(basePath)
          .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
          .toSeq
      }
    statuses.map(s => GraftFile(s, parsePartValues(s.getPath)))
  }

  /** `part=value` segments directly above the file, outermost first,
    * values unescaped with the exact routine the partitioned write
    * used.
    */
  private def parsePartValues(file: Path): Seq[String] = {
    val segs = Seq.newBuilder[(String, String)]
    var p = file.getParent
    val stop = basePath.toUri.getPath
    while (p != null && p.toUri.getPath != stop &&
        p.getName.contains("=")) {
      val Array(k, v) = p.getName.split("=", 2)
      segs += ((k, ExternalCatalogUtils.unescapePathName(v)))
      p = p.getParent
    }
    segs.result().reverse.map(_._2)
  }

  private def partColNames: Seq[String] = {
    filesPinned.headOption.map { f =>
      var p = f.status.getPath.getParent
      val names = Seq.newBuilder[String]
      val stop = basePath.toUri.getPath
      while (p != null && p.toUri.getPath != stop &&
          p.getName.contains("=")) {
        names += p.getName.split("=", 2)(0)
        p = p.getParent
      }
      names.result().reverse
    }.getOrElse(Nil)
  }

  /** Partition column types, inferred the way Spark's own discovery
    * does at its simplest: LONG when every file's value parses, STRING
    * otherwise. Typed values make range predicates on numeric
    * partitions evaluate numerically here (and avoid ANSI
    * string-casts at eval time).
    */
  private val partTypes: Seq[org.apache.spark.sql.types.DataType] =
    partColNames.indices.map { i =>
      if (filesPinned.nonEmpty && filesPinned.forall(f =>
          scala.util.Try(f.partValues(i).toLong).isSuccess))
        org.apache.spark.sql.types.LongType
      else StringType
    }

  private def partRow(values: Seq[String]): InternalRow =
    InternalRow.fromSeq(values.zip(partTypes).map {
      case (v, org.apache.spark.sql.types.LongType) => v.toLong
      case (v, _) => UTF8String.fromString(v)
    })

  override val partitionSchema: StructType =
    StructType(partColNames.zip(partTypes).map {
      case (n, t) => StructField(n, t)
    })

  /** Data schema MERGED across the snapshot's batch directories
    * (partition columns live in directory names, not in the files).
    * One footer read per batch, oldest first, unseen columns appended
    * in encounter order — exactly the widened view
    * `VersionLog.read`'s `unionByName(allowMissingColumns)` chain
    * produces, and robust where any single file is not: the newest
    * batch may be schema-NARROWER than the table (a narrow append, a
    * pre-alignment compaction), and trusting one footer would
    * silently drop the evolved columns from this read path while the
    * union path still surfaces them. The parquet reader null-fills
    * whatever a given file lacks.
    *
    * One file per BATCH suffices because every writer lands a batch
    * in one `df.write` (init/append/overwrite/merge) or — for the
    * multi-group compaction — aligns every group to the snapshot's
    * full schema first: schema is uniform within a batch by
    * construction, so the merge cost is O(commits), never O(files).
    */
  val dataSchema: StructType = {
    require(filesPinned.nonEmpty, s"graft table at $base has no data files")
    def batchDirOf(f: GraftFile): String = {
      val rel = f.status.getPath.toString.stripPrefix(basePath.toString)
      val segs = rel.split("/").filter(_.nonEmpty)
      if (segs.length >= 2 && segs(0) == "data") segs.take(2).mkString("/")
      else segs.dropRight(1).mkString("/")
    }
    val onePerBatch = filesPinned
      .groupBy(batchDirOf)
      .map(_._2.minBy(_.status.getPath.toString)).toSeq
      .sortBy(batchDirOf)
    // ONE raw footer read per batch — not a spark.read per batch: a
    // DataSource resolution costs ~50-100 ms each (its own file
    // listing + schema inference session), which showed up as fixed
    // per-query overhead on multi-commit tables (q126). Spark-written
    // files carry the exact Spark schema in footer metadata; fall
    // back to converting the parquet message type.
    val footers = onePerBatch.map(f => footerSchema(f.status))
    def widenOrFail(name: String, a: org.apache.spark.sql.types.DataType,
        b: org.apache.spark.sql.types.DataType) =
      widen(a, b).getOrElse(
        throw new IllegalArgumentException(
          s"graft table at $base has incompatible types for " +
            s"column '$name': $a vs $b " +
            "— only widening evolution (integral up-chain, " +
            "byte/short/int->double, float->double, " +
            "integral->decimal, decimal growth) is supported; " +
            "anything else requires a rewriting commit (overwrite)"))
    val footerMerged = footers.reduce { (acc, next) =>
      val extra = next.fields.filterNot(f => acc.fieldNames.contains(f.name))
      val merged = acc.fields.map { f =>
        next.fields.find(_.name == f.name).fold(f) { n =>
          f.copy(dataType = widenOrFail(f.name, f.dataType, n.dataType))
        }
      }
      StructType(merged ++ extra)
    }
    // retired physical columns (DROP COLUMN history) never surface —
    // including NESTED paths (a dropped struct field is pruned out of
    // its parent's footer type recursively, container markers
    // `element`/`key`/`value` riding the dotted path like the DDL
    // doors spell them)
    val droppedSet = pinnedDropped.toSet
    def removeDroppedIn(dt: org.apache.spark.sql.types.DataType,
        prefix: String): org.apache.spark.sql.types.DataType =
      dt match {
        case n: StructType => removeDropped(n, prefix)
        case org.apache.spark.sql.types.ArrayType(et, nn) =>
          org.apache.spark.sql.types.ArrayType(
            removeDroppedIn(et, s"$prefix.element"), nn)
        case org.apache.spark.sql.types.MapType(kt, vt, nn) =>
          org.apache.spark.sql.types.MapType(
            removeDroppedIn(kt, s"$prefix.key"),
            removeDroppedIn(vt, s"$prefix.value"), nn)
        case other => other
      }
    def removeDropped(st: StructType, prefix: String): StructType =
      StructType(st.fields.flatMap { f =>
        val p = if (prefix.isEmpty) f.name else s"$prefix.${f.name}"
        if (droppedSet.contains(p)) None
        else Some(f.copy(dataType = removeDroppedIn(f.dataType, p)))
      })
    val footerLive = removeDropped(footerMerged, "")
    // the snapshot's DECLARED schema commit (ALTER TABLE ADD COLUMN
    // history) widens the footer view: declared-only columns surface
    // (null-filled by the parquet reader — no file carries them yet)
    // in declared order, footer-only columns keep their encounter
    // order at the end, and declared types widen against footers.
    // Declared names are LOGICAL; this relation is PHYSICAL — each
    // declared field contributes under its mapped physical name
    // (identity for every never-renamed column).
    pinnedSchemaJson.fold(footerLive) { json =>
      val decl = org.apache.spark.sql.types.DataType.fromJson(json)
        .asInstanceOf[StructType]
      val partSet = partColNames.toSet
      // declared names are logical at EVERY depth: each field's
      // physical name is the leaf of its mapped physical path
      // (longest-prefix through the colMap — nested renames included,
      // container markers riding the dotted path)
      def declPhysIn(dt0: org.apache.spark.sql.types.DataType,
          lpath: String): org.apache.spark.sql.types.DataType =
        dt0 match {
          case n: StructType => declPhys(n, lpath)
          case org.apache.spark.sql.types.ArrayType(et, nn) =>
            org.apache.spark.sql.types.ArrayType(
              declPhysIn(et, s"$lpath.element"), nn)
          case org.apache.spark.sql.types.MapType(kt, vt, nn) =>
            org.apache.spark.sql.types.MapType(
              declPhysIn(kt, s"$lpath.key"),
              declPhysIn(vt, s"$lpath.value"), nn)
          case other => other
        }
      def declPhys(st: StructType, prefix: String): StructType =
        StructType(st.fields.map { f =>
          val lpath =
            if (prefix.isEmpty) f.name else s"$prefix.${f.name}"
          val pleaf = graft.io.VersionLog
            .physicalPathOf(pinnedColMap, lpath).split("\\.").last
          f.copy(name = pleaf, dataType = declPhysIn(f.dataType, lpath))
        })
      val dataDecl = declPhys(StructType(
        decl.fields.filterNot(f => partSet.contains(f.name))), "")
        .fields
      val merged = dataDecl.map { f =>
        footerLive.fields.find(_.name == f.name).fold(f) { ff =>
          f.copy(dataType = widenOrFail(f.name, f.dataType, ff.dataType))
        }
      }
      val extra = footerLive.fields.filterNot(f =>
        dataDecl.exists(_.name == f.name))
      StructType((merged ++ extra).toSeq)
    }
  }

  /** One parquet footer read, schema via the Spark row-metadata key
    * (exact Spark types, the same source `spark.read` would use) or
    * the parquet message-type conversion when absent.
    */
  private def footerSchema(status: FileStatus): StructType = {
    val meta = org.apache.parquet.hadoop.ParquetFileReader.readFooter(
      spark.sparkContext.hadoopConfiguration, status.getPath,
      org.apache.parquet.format.converter.ParquetMetadataConverter
        .NO_FILTER).getFileMetaData
    val s = Option(meta.getKeyValueMetaData
        .get("org.apache.spark.sql.parquet.row.metadata"))
      .map(org.apache.spark.sql.types.DataType.fromJson(_)
        .asInstanceOf[StructType])
      .getOrElse(new org.apache.spark.sql.execution.datasources.parquet
        .ParquetToSparkSchemaConverter(spark.sessionState.conf)
        .convert(meta.getSchema))
    // file sources read everything nullable (what spark.read reports);
    // a required field in the read schema would refuse the null-fill
    // other batches rely on under evolution
    StructType(s.fields.map(_.copy(nullable = true)))
  }

  /** TYPE-WIDENING evolution: commits may up-cast a column along the
    * integral chain or float->double — the parquet reader decodes the
    * narrow files into the wide read schema natively (Spark 4's
    * scan-level widening), so no rewrite is needed. Any other change
    * is rejected loudly, never coerced.
    */
  /** Unify two batch types: widening evolution on primitives, and
    * RECURSIVE unification through structs/arrays/maps where
    * nullability differences resolve to the more-nullable side (a
    * batch written from non-null literals must union with a declared
    * nullable struct — nested nullability is a property of one batch,
    * never a reason to refuse the table). Struct fields match by
    * name; a field present on one side only surfaces nullable.
    */
  private def widen(a: org.apache.spark.sql.types.DataType,
      b: org.apache.spark.sql.types.DataType):
      Option[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    val ints = IndexedSeq[DataType](ByteType, ShortType, IntegerType,
      LongType)
    // integer digits a parquet value of each integral type may need —
    // the decimal unification bound
    def digitsOf(t: DataType): Int = t match {
      case ByteType => 3; case ShortType => 5
      case IntegerType => 10; case LongType => 19; case _ => 0
    }
    // the widest decimal readable from BOTH sides: max scale, max
    // integer digits (fail past decimal's 38-digit ceiling). Every
    // arm below is verified against the Spark 4 vectorized reader:
    // narrow-decimal and integral parquet columns decode natively
    // into a wider read-schema decimal.
    def decimalWith(intDigits: Int, scale: Int): Option[DataType] =
      if (intDigits + scale <= 38) Some(DecimalType(intDigits + scale,
        scale))
      else None
    (a, b) match {
      case _ if a == b => Some(a)
      case _ if ints.contains(a) && ints.contains(b) =>
        Some(ints(math.max(ints.indexOf(a), ints.indexOf(b))))
      case (FloatType | DoubleType, FloatType | DoubleType) =>
        Some(DoubleType)
      // byte/short/int decode natively into a double read schema
      // (exact — 53-bit mantissa); long does NOT (lossy, the reader
      // refuses), so it stays out of this arm
      case (ByteType | ShortType | IntegerType,
          FloatType | DoubleType) => Some(DoubleType)
      case (FloatType | DoubleType,
          ByteType | ShortType | IntegerType) => Some(DoubleType)
      case (da: DecimalType, db: DecimalType) =>
        decimalWith(
          math.max(da.precision - da.scale, db.precision - db.scale),
          math.max(da.scale, db.scale))
      case (t, d: DecimalType) if ints.contains(t) =>
        decimalWith(math.max(digitsOf(t), d.precision - d.scale),
          d.scale)
      case (d: DecimalType, t) if ints.contains(t) =>
        decimalWith(math.max(digitsOf(t), d.precision - d.scale),
          d.scale)
      // date files decode natively into a timestamp_ntz read schema
      // (midnight instants); stats stay exact through the days-tagged
      // boxes scaled at plan time
      case (DateType, TimestampNTZType) | (TimestampNTZType, DateType) =>
        Some(TimestampNTZType)
      case (sa: StructType, sb: StructType) =>
        val extra = sb.fields.filterNot(f =>
          sa.fieldNames.contains(f.name))
        val merged = sa.fields.map { f =>
          sb.fields.find(_.name == f.name) match {
            case None => Some(f.copy(nullable = true))
            case Some(g) => widen(f.dataType, g.dataType).map(t =>
              f.copy(dataType = t, nullable = f.nullable || g.nullable))
          }
        }
        if (merged.exists(_.isEmpty)) None
        else Some(StructType(
          merged.flatten ++ extra.map(_.copy(nullable = true))))
      case (ArrayType(ea, na), ArrayType(eb, nb)) =>
        widen(ea, eb).map(ArrayType(_, na || nb))
      case (MapType(ka, va, na), MapType(kb, vb, nb)) =>
        for (k <- widen(ka, kb); v <- widen(va, vb))
          yield MapType(k, v, na || nb)
      case _ => None
    }
  }

  override def rootPaths: Seq[Path] = Seq(basePath)

  override def inputFiles: Array[String] =
    filesPinned.map(_.status.getPath.toString).toArray

  override def sizeInBytes: Long = filesPinned.map(_.status.getLen).sum

  override def refresh(): Unit = {
    filesPinned = resolve()
    manifestChainCache = Map.empty
    manifestExistsCache = null
    bloomCache = null
    batchStatsCache = null
  }

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val afterPart = prunePartitions(filesPinned, partitionFilters)
    val afterStats = pruneByManifest(afterPart, dataFilters)
    val kept = pruneByBloom(afterStats, dataFilters)
    kept.groupBy(_.partValues).toSeq.map { case (values, fs) =>
      PartitionDirectory(partRow(values), fs.map(_.status).toArray)
    }
  }

  /** Evaluate the pushed partition predicates against each file's
    * parsed values (string-typed, name-bound) — the planner does NOT
    * re-apply these above the scan, so applying them here is a
    * correctness obligation, not just pruning.
    */
  private def prunePartitions(files: Seq[GraftFile],
      filters: Seq[Expression]): Seq[GraftFile] = {
    if (filters.isEmpty || partitionSchema.isEmpty) return files
    val names = partitionSchema.fieldNames
    def bindable(e: Expression): Boolean = e.references.forall(a =>
      names.exists(spark.sessionState.conf.resolver(_, a.name)))
    // bind per CONJUNCT and drop any that references a non-partition
    // attribute whole — substituting `true` for an attribute INSIDE an
    // expression would invert under NOT (FileSourceStrategy only sends
    // partition-only conjuncts, so the drop is defensive)
    val usable = filters.filter(bindable)
    if (usable.isEmpty) return files
    val bound: Expression = usable.reduce(And).transform {
      case a: AttributeReference =>
        val i = names.indexWhere(spark.sessionState.conf.resolver(_, a.name))
        BoundReference(i, partTypes(i), nullable = true)
    }
    val pred: BasePredicate = Predicate.createInterpreted(bound)
    files.filter(f => pred.eval(partRow(f.partValues)))
  }

  // ---- manifest (min/max box) pruning -----------------------------

  /** A file's per-column statistic, TYPED: numerics/decimals/dates/
    * timestamps normalize to BigDecimal (dates as epoch days,
    * timestamps as epoch micros — the same scalars their pushed
    * literals carry), strings to UTF8String so bound comparisons use
    * the exact binary ordering Spark's min/max aggregates used to
    * compute them (UTF-16 String ordering disagrees on
    * supplementary-plane text — a wrong order here would over-prune,
    * i.e. wrong results, not just a missed skip).
    */
  private type Stat = Either[BigDecimal, UTF8String]

  private sealed trait ColStat
  private case object AllNull extends ColStat // no range pred matches
  private case object Opaque extends ColStat // un-normalizable: keep
  private final case class Box(mi: Stat, ma: Stat) extends ColStat

  /** Compare only within a family; across families (a manifest built
    * on an older schema, a literal of another type) the answer is
    * "unknown" and the file is kept.
    */
  private def cmp(a: Stat, b: Stat): Option[Int] = (a, b) match {
    case (Left(x), Left(y)) => Some(x.compare(y))
    case (Right(x), Right(y)) => Some(x.compareTo(y))
    case _ => None
  }

  private def normLit(l: Literal): Option[Stat] = {
    import org.apache.spark.sql.types._
    (l.dataType, l.value) match {
      case (_, null) => None
      case (LongType | IntegerType | ShortType | ByteType,
          n: java.lang.Number) => Some(Left(BigDecimal(n.longValue)))
      // non-finite literals (NaN, +/-Inf) have no BigDecimal form —
      // "unknown", keep the file (NaN sorts greatest in Spark, so a
      // NaN bound can genuinely match any file)
      case (FloatType | DoubleType, n: java.lang.Number)
          if java.lang.Double.isFinite(n.doubleValue) =>
        Some(Left(BigDecimal(n.doubleValue)))
      case (_: DecimalType, d: org.apache.spark.sql.types.Decimal) =>
        Some(Left(d.toBigDecimal))
      case (DateType, d: java.lang.Integer) =>
        Some(Left(BigDecimal(d.intValue))) // epoch days
      case (TimestampType | TimestampNTZType, t: java.lang.Long) =>
        Some(Left(BigDecimal(t.longValue))) // epoch micros
      case (StringType, s: UTF8String) => Some(Right(s))
      case _ => None
    }
  }

  private def normStat(v: Any): Option[Stat] = v match {
    case null => None
    case n: java.lang.Byte => Some(Left(BigDecimal(n.longValue)))
    case n: java.lang.Short => Some(Left(BigDecimal(n.longValue)))
    case n: java.lang.Integer => Some(Left(BigDecimal(n.longValue)))
    case n: java.lang.Long => Some(Left(BigDecimal(n.longValue)))
    // Spark's min/max PROPAGATE NaN (it sorts greatest), so a stats
    // column with one NaN row manifests as a NaN bound — BigDecimal
    // would throw at planning time; treat the bound as unknowable
    // (None -> Opaque -> keep the file) instead
    case n: java.lang.Float if java.lang.Double.isFinite(n.doubleValue) =>
      Some(Left(BigDecimal(n.doubleValue)))
    case n: java.lang.Double if java.lang.Double.isFinite(n.doubleValue) =>
      Some(Left(BigDecimal(n.doubleValue)))
    case _: java.lang.Float | _: java.lang.Double => None
    case d: java.math.BigDecimal => Some(Left(BigDecimal(d)))
    case s: String => Some(Right(UTF8String.fromString(s)))
    case d: java.sql.Date =>
      Some(Left(BigDecimal(d.toLocalDate.toEpochDay))) // epoch days
    case t: java.sql.Timestamp => Some(Left(BigDecimal(
      t.getTime * 1000L + (t.getNanos / 1000L) % 1000L))) // micros
    case t: java.time.LocalDateTime => Some(Left(BigDecimal(
      t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
        t.getNano / 1000L)))
    case _ => None
  }

  /** (column, keep-file test over its [[ColStat]]). AllNull prunes
    * (range/equality predicates never match null); Opaque and
    * cross-family comparisons keep, conservatively.
    */
  private type StatsTest = (String, ColStat => Boolean)

  private def boxTest(test: (Stat, Stat) => Boolean): ColStat => Boolean = {
    case AllNull => false
    case Opaque => true
    case Box(mi, ma) => test(mi, ma)
  }

  /** The stats-map name a pushed comparison binds: a bare column, or
    * a struct leaf at ANY depth as its dotted `a.b.c` path (chained
    * `GetStructField`s over an attribute) — the key
    * [[graft.io.BatchStats]] harvests for it (harvest drops a key
    * whole when distinct column paths collide on it, so the dotted
    * binding can never apply the wrong column's box).
    */
  private object StatCol {
    def unapply(e: Expression): Option[String] = e match {
      case a: AttributeReference => Some(a.name)
      case GetStructField(child, ord, _) =>
        unapply(child).flatMap { basePath =>
          child.dataType match {
            case s: org.apache.spark.sql.types.StructType
                if ord >= 0 && ord < s.length =>
              Some(s"$basePath.${s(ord).name}")
            case _ => None
          }
        }
      case _ => None
    }
  }

  private def statsTests(dataFilters: Seq[Expression]): Seq[StatsTest] = {
    def eq(n: String, l: Literal): Option[StatsTest] =
      normLit(l).map(v => (n, boxTest((mi, ma) =>
        cmp(mi, v).forall(_ <= 0) && cmp(v, ma).forall(_ <= 0))))
    dataFilters.flatMap {
      case EqualTo(StatCol(n), l: Literal) => eq(n, l)
      case EqualTo(l: Literal, StatCol(n)) => eq(n, l)
      case GreaterThanOrEqual(StatCol(n), l: Literal) =>
        normLit(l).map(v => (n,
          boxTest((_, ma) => cmp(ma, v).forall(_ >= 0))))
      case GreaterThan(StatCol(n), l: Literal) =>
        normLit(l).map(v => (n,
          boxTest((_, ma) => cmp(ma, v).forall(_ > 0))))
      case LessThanOrEqual(StatCol(n), l: Literal) =>
        normLit(l).map(v => (n,
          boxTest((mi, _) => cmp(mi, v).forall(_ <= 0))))
      case LessThan(StatCol(n), l: Literal) =>
        normLit(l).map(v => (n,
          boxTest((mi, _) => cmp(mi, v).forall(_ < 0))))
      // IN-list as a disjunction of box point tests (capped — a
      // thousand-value IN would cost 1000 cmp per file for little
      // skip value). NULL literals never match (x = NULL is UNKNOWN,
      // filtered), so pruning on the non-null values alone is exact;
      // an un-normalizable value makes the whole test unknowable.
      case In(StatCol(n), vs)
          if vs.nonEmpty && vs.length <= 20 &&
            vs.forall(_.isInstanceOf[Literal]) =>
        val nonNull = vs.map(_.asInstanceOf[Literal])
          .filter(_.value != null)
        val norms = nonNull.map(normLit)
        if (nonNull.isEmpty || norms.exists(_.isEmpty)) None
        else {
          val vals = norms.flatten
          Some((n, boxTest((mi, ma) => vals.exists(v =>
            cmp(mi, v).forall(_ <= 0) && cmp(v, ma).forall(_ <= 0)))))
        }
      // the optimizer converts longer IN lists (> inSetConversion
      // threshold, default 10) into InSet carrying INTERNAL values —
      // same disjunction-of-points test, literals reconstructed from
      // the child's type
      case InSet(child @ StatCol(n), hset)
          if hset.nonEmpty && hset.size <= 20 =>
        val nonNull = hset.toSeq.filter(_ != null)
        val norms = nonNull.map(v => normLit(Literal(v, child.dataType)))
        if (nonNull.isEmpty || norms.exists(_.isEmpty)) None
        else {
          val vals = norms.flatten
          Some((n, boxTest((mi, ma) => vals.exists(v =>
            cmp(mi, v).forall(_ <= 0) && cmp(v, ma).forall(_ <= 0)))))
        }
      // reversed literal-first comparisons arrive canonicalized by the
      // optimizer; In on the bloom key is also consulted by
      // pruneByBloom (exact membership beats a box when present)
      case _ => None
    }
  }

  /** Per-file (column -> [[ColStat]]) from the manifest sidecar,
    * keyed by normalized path. Loaded lazily PER PARTITION CHAIN
    * ("p=a", "" for flat layouts) and invalidated by [[refresh]]: a
    * partition-scoped probe on a 100k-file table reads only the
    * matching manifest rows (the checkpoint-parquet form is already
    * columnar on disk), never the whole file-count-sized map — the
    * driver's working set follows the probe, not the table.
    */
  @volatile private var manifestChainCache:
      Map[String, Map[String, Map[String, ColStat]]] = Map.empty
  @volatile private var manifestExistsCache: java.lang.Boolean = null

  /** Manifest rows materialized on the driver by this index so far —
    * the observable the partition-scoped loading is specced on.
    */
  private[graft] var manifestRowsLoaded: Long = 0L

  private def manifestExists: Boolean = {
    if (manifestExistsCache == null)
      manifestExistsCache = fs.exists(new Path(base, "._manifest"))
    manifestExistsCache
  }

  /** The file's hive partition-segment chain ("p=a", "p=a/q=b", ""
    * when flat) — the manifest slice key.
    */
  private def chainOf(f: GraftFile): String =
    f.status.getPath.toUri.getPath.split("/").dropRight(1)
      .filter(_.contains("=")).mkString("/")

  private def manifestFor(chain: String):
      Map[String, Map[String, ColStat]] =
    manifestChainCache.getOrElse(chain, this.synchronized {
      manifestChainCache.getOrElse(chain, {
        val m = loadManifest(chain).getOrElse(Map.empty)
        manifestChainCache = manifestChainCache + (chain -> m)
        m
      })
    })

  private def loadManifest(chain: String):
      Option[Map[String, Map[String, ColStat]]] = {
    val p = new Path(base, "._manifest")
    if (!manifestExists) None
    else {
      val all = Parquet.read(spark, p.toString)
      val df =
        if (chain.isEmpty) all
        else all.filter(org.apache.spark.sql.functions.col("file")
          .contains(s"/$chain/"))
      val statCols = df.schema.fieldNames
        .filter(_.startsWith("min_")).map(_.stripPrefix("min_"))
        .filter(c => df.schema.fieldNames.contains(s"max_$c"))
        .toSeq
      // a manifest column written as DATE under a since-widened
      // timestamp_ntz declaration: its day bounds scale to the
      // covering micros range (the manifest's OWN schema carries the
      // vintage, so no heuristic is needed)
      val dayScaled = statCols.filter { c =>
        df.schema(s"min_$c").dataType ==
          org.apache.spark.sql.types.DateType &&
        fieldTypeOf(c).contains(
          org.apache.spark.sql.types.TimestampNTZType)
      }.toSet
      val rows = df.collect()
      manifestRowsLoaded += rows.length
      Some(rows.map { row =>
        val file = new Path(row.getAs[String]("file")).toUri.getPath
        val stats = statCols.map { c =>
          val mi = row.getAs[Any](s"min_$c")
          val ma = row.getAs[Any](s"max_$c")
          val st: ColStat =
            if (mi == null && ma == null) AllNull
            else (normStat(mi), normStat(ma)) match {
              case (Some(Left(a)), Some(Left(b)))
                  if dayScaled.contains(c) =>
                Box(Left(a * MicrosPerDay),
                  Left((b + 1) * MicrosPerDay - 1))
              case (Some(a), Some(b)) => Box(a, b)
              case _ => Opaque
            }
          c -> st
        }.toMap
        file -> stats
      }.toMap)
    }
  }

  private def pruneByManifest(files: Seq[GraftFile],
      dataFilters: Seq[Expression]): Seq[GraftFile] = {
    val tests = statsTests(dataFilters)
    if (tests.isEmpty) return files
    val auto = batchStatsMap
    if (!manifestExists && auto.isEmpty) return files
    // COLUMN MAPPING: pushed names here are PHYSICAL, but an explicit
    // manifest rebuilt over the logical view (post-rename) keys on
    // LOGICAL names — fall back to the physical's logical alias when
    // the physical key misses. Fresh-minted physicals (`name#vN`,
    // re-adds) are EXCLUDED: their logical alias can collide with a
    // STALE pre-rename manifest key holding the OLD column's box, and
    // a misbound box over-prunes (wrong results, not a missed skip).
    // Same exclusion when the LOGICAL name reuses a retired physical
    // (DROP COLUMN a, then RENAME c TO a is legal — 'a' left the
    // declared schema): a pre-drop manifest entry keyed 'a' holds the
    // DROPPED column's box, and the reused name carries no '#v'
    // marker to give the collision away.
    val retired = pinnedDropped.toSet
    val physToLog = pinnedColMap.collect {
      case (log, phys) if !phys.contains("#v") && !retired(log) =>
        phys -> log
    }.toMap
    def logicalAlias(c: String): Option[String] = {
      // exact full-path entry first (NESTED mappings store full
      // dotted paths), then the longest mapped physical prefix with
      // the unmapped tail carried over
      physToLog.get(c).orElse {
        val parts = c.split("\\.")
        (parts.length - 1 to 1 by -1).iterator.map { n =>
          physToLog.get(parts.take(n).mkString("."))
            .map(_ + "." + parts.drop(n).mkString("."))
        }.collectFirst { case Some(x) => x }
      }.filterNot(retired)
    }
    files.filter { f =>
      val p = f.status.getPath.toUri.getPath
      // explicit manifest entries win per file (a post-layout rebuild
      // may be fresher); write-time batch stats cover the rest. The
      // manifest slice loads lazily per the file's PARTITION CHAIN —
      // a partition-scoped probe never materializes the whole table's
      // manifest on the driver.
      val explicit =
        if (manifestExists) manifestFor(chainOf(f))
        else Map.empty[String, Map[String, ColStat]]
      explicit.get(p).orElse(auto.get(p)) match {
        case None => true // un-stat'd file: keep, conservatively
        case Some(byCol) => tests.forall { case (c, keep) =>
          byCol.get(c)
            .orElse(logicalAlias(c).flatMap(byCol.get))
            .forall(keep) // un-stat'd column: keep
        }
      }
    }
  }

  /** Per-file stats harvested at COMMIT time ([[graft.io.BatchStats]]):
    * one tiny JSON read per pinned batch directory (the same class as
    * the per-batch footer-schema read), so a versioned table box-prunes
    * out of the box — no explicit manifest build required, and time
    * travel prunes with each batch's own immutable stats.
    */
  @volatile private var batchStatsCache:
      Map[String, Map[String, ColStat]] = null

  private def batchStatsMap: Map[String, Map[String, ColStat]] = {
    if (batchStatsCache == null) batchStatsCache = loadBatchStats()
    batchStatsCache
  }

  private val MicrosPerDay = BigDecimal(86400000000L)

  /** The PHYSICAL frame type of a stats key: a top-level field under
    * its exact name, else the dotted struct-leaf path. None when the
    * key resolves to nothing (dropped, or a vanished column).
    */
  private def fieldTypeOf(key: String):
      Option[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    def walk(t: org.apache.spark.sql.types.DataType,
        segs: List[String]):
        Option[org.apache.spark.sql.types.DataType] = segs match {
      case Nil => Some(t)
      case h :: rest => t match {
        case st: StructType =>
          st.fields.find(_.name == h).flatMap(f => walk(f.dataType, rest))
        case ArrayType(et, _) if h == "element" => walk(et, rest)
        case MapType(kt, _, _) if h == "key" => walk(kt, rest)
        case MapType(_, vt, _) if h == "value" => walk(vt, rest)
        case _ => None
      }
    }
    dataSchema.fields.find(_.name == key).map(_.dataType).orElse {
      key.split("\\.").toList match {
        case h :: rest if rest.nonEmpty =>
          dataSchema.fields.find(_.name == h)
            .flatMap(f => walk(f.dataType, rest))
        case _ => None
      }
    }
  }

  private def loadBatchStats(): Map[String, Map[String, ColStat]] = {
    val stop = basePath.toUri.getPath.stripSuffix("/")
    val roots = filesPinned.map { f =>
      val rel = f.status.getPath.toUri.getPath.stripPrefix(stop + "/")
      val segs = rel.split("/")
      if (segs.length >= 2 && segs(0) == "data")
        segs.take(2).mkString("/")
      else segs.dropRight(1).mkString("/")
    }.distinct.filter(_.nonEmpty)
    roots.flatMap { root =>
      try {
        val p = new Path(new Path(base, root),
          graft.io.BatchStats.FileName)
        if (!fs.exists(p)) Nil
        else {
          val in = fs.open(p)
          val json = try new String(in.readAllBytes(),
            java.nio.charset.StandardCharsets.UTF_8)
          finally in.close()
          graft.io.BatchStats.parse(json).toSeq.map { case (rel, cols) =>
            (s"$stop/$rel": String) -> cols.flatMap {
              case (c, (t, mi, ma)) =>
                val st: Option[ColStat] = t match {
                  case "allnull" => Some(AllNull)
                  case "num" =>
                    try Some(Box(Left(BigDecimal(mi)), Left(BigDecimal(ma))))
                    catch { case _: Exception => None }
                  // date-era bounds are epoch DAYS: under a widened
                  // timestamp_ntz declaration they scale to the
                  // covering micros range at load (day d covers
                  // [d*86.4e9, (d+1)*86.4e9)); under a date
                  // declaration they compare as days directly
                  case "days" =>
                    try {
                      val lo = BigDecimal(mi); val hi = BigDecimal(ma)
                      Some(
                        if (fieldTypeOf(c).contains(
                            org.apache.spark.sql.types.TimestampNTZType))
                          Box(Left(lo * MicrosPerDay),
                            Left((hi + 1) * MicrosPerDay - 1))
                        else Box(Left(lo), Left(hi)))
                    } catch { case _: Exception => None }
                  case "str" => Some(Box(Right(UTF8String.fromString(mi)),
                    Right(UTF8String.fromString(ma))))
                  case _ => None // unknown tag: keep conservatively
                }
                st.map(c -> _)
            }
          }
        }
      } catch { case _: Exception => Nil } // malformed sidecar: keep
    }.toMap
  }

  // ---- key-bloom (point lookup) pruning ----------------------------

  /** Integral literal for bloom probes (the key-bloom hashes longs). */
  private def longOf(l: Literal): Option[Long] = (l.dataType, l.value) match {
    case (org.apache.spark.sql.types.LongType |
          org.apache.spark.sql.types.IntegerType |
          org.apache.spark.sql.types.ShortType |
          org.apache.spark.sql.types.ByteType,
          n: java.lang.Number) => Some(n.longValue)
    case _ => None
  }

  /** Probe keys the pushed filters pin on the bloom column: `k = v`
    * or `k IN (...)` with integral literals.
    */
  private def bloomProbeKeys(dataFilters: Seq[Expression]): Seq[Long] =
    bloomKey.toSeq.flatMap { key =>
      dataFilters.flatMap {
        case EqualTo(a: AttributeReference, l: Literal)
            if spark.sessionState.conf.resolver(a.name, key) =>
          longOf(l).toSeq
        case EqualTo(l: Literal, a: AttributeReference)
            if spark.sessionState.conf.resolver(a.name, key) =>
          longOf(l).toSeq
        case In(a: AttributeReference, vs)
            if spark.sessionState.conf.resolver(a.name, key) &&
              vs.forall(_.isInstanceOf[Literal]) =>
          val longs = vs.map(v => longOf(v.asInstanceOf[Literal]))
          if (longs.forall(_.isDefined)) longs.flatten else Nil
        case _ => Nil
      }
    }

  /** Per-file sparse bloom words, keyed by normalized path; loaded
    * lazily, invalidated by [[refresh]].
    */
  @volatile private var bloomCache:
      Option[Map[String, Map[Int, Long]]] = null

  private def bloomWords: Option[Map[String, Map[Int, Long]]] = {
    if (bloomCache == null) bloomCache = loadBlooms()
    bloomCache
  }

  private def loadBlooms(): Option[Map[String, Map[Int, Long]]] = {
    val p = new Path(base, "._keybloom")
    if (!fs.exists(p)) None
    else Some(Parquet.read(spark, p.toString).collect().map { row =>
      new Path(row.getAs[String]("file")).toUri.getPath ->
        row.getAs[Map[Int, Long]]("bloom")
    }.toMap)
  }

  private def pruneByBloom(files: Seq[GraftFile],
      dataFilters: Seq[Expression]): Seq[GraftFile] = {
    val keys = bloomProbeKeys(dataFilters)
    if (keys.isEmpty) return files
    bloomWords.fold(files) { blooms =>
      val positions = keys.map(k =>
        KeyBloom.bitPositions(k, bloomLog2Bits, bloomK))
      files.filter { f =>
        blooms.get(f.status.getPath.toUri.getPath) match {
          case None => true // unbloomed file: keep, conservatively
          case Some(words) => positions.exists(_.forall { pos =>
            (words.getOrElse((pos / 64).toInt, 0L) &
              (1L << (pos % 64).toInt)) != 0L
          })
        }
      }
    }
  }
}
