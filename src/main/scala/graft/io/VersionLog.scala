package graft.io

import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One committed snapshot of a versioned table: the exact data files
  * (dir-relative paths) a reader of this version scans — nothing
  * else on disk exists for that reader.
  */
/** @param colMap COLUMN MAPPING (logical name -> physical name, the
  *   name stored in parquet files) for columns whose logical name has
  *   diverged — RENAME is a colMap entry, data untouched (Delta's
  *   column-mapping idea, public protocol, re-implemented). Identity
  *   mappings are omitted; empty = names coincide (every pre-r15
  *   table).
  * @param droppedPhys physical names retired by DROP COLUMN (or by a
  *   rename+drop): still present in old files, projected away on
  *   read, and NEVER reused as a physical name — a re-added column of
  *   the same logical name gets a fresh physical name, so old bytes
  *   can never leak into it.
  */
case class TableSnapshot(version: Long, parent: Long, action: String,
    files: Seq[String], feed: Option[String] = None,
    deletes: Seq[String] = Nil,
    constraints: Seq[(String, String)] = Nil,
    schemaJson: Option[String] = None,
    colMap: Seq[(String, String)] = Nil,
    droppedPhys: Seq[String] = Nil,
    properties: Seq[(String, String)] = Nil)

/** Version-log commits — SNAPSHOT ISOLATION for the maintained table.
  *
  * The in-place protocols ([[MergeInto]], [[Compact]]) publish by
  * per-partition delete+rename under a documented single-writer /
  * no-concurrent-reader contract. Correct and crash-healable, but a
  * 100 TB table serves readers continuously — "no concurrent reader"
  * is the one promise it cannot make. This module is the missing
  * piece, the Delta/Iceberg commit-log idea reduced to one JSON file
  * per snapshot:
  *
  *  - data files are IMMUTABLE: every commit writes NEW files under
  *    `<dir>/data/b-<version>-<uuid>/` and never modifies or deletes
  *    an existing one (deletion is [[vacuumVersions]]' job, gated on
  *    "unreferenced by every retained version");
  *  - a snapshot is ONE file, `<dir>/_versions/v-<n>.json`, listing
  *    the dir-relative data files of that version, made live by ONE
  *    atomic create — a hard-link publish on the local filesystem
  *    (create-if-absent is atomic and never replaces), a no-replace
  *    rename on HDFS-likes;
  *  - readers resolve the latest `v-<n>.json` (or any older one —
  *    time travel is "read that file list") and plan a scan over
  *    exactly its files. A crash mid-commit leaves data-file orphans
  *    and no version file: invisible. A concurrent merge commits
  *    `v-<n+1>.json` while a reader holds `v-<n>`: the reader's files
  *    still exist (immutability), so it finishes on its snapshot —
  *    never a mix, never a missing-path failure;
  *  - writers are optimistically concurrent: a commit targets
  *    `v-<parent+1>.json`; if that name already exists another writer
  *    won the race and the commit FAILS (its data files become
  *    orphans for vacuum) — re-run against the new snapshot. The
  *    version number is the full serialization point, so two merges
  *    can never both land on the same parent.
  *
  * The reference re-reads immutable dataset snapshots per run
  * (`edsnlp/data/parquet.py:60-120`); this layer keeps that read
  * model sound while the table mutates underneath.
  *
  * Scale notes: commits are DELTA-ENCODED (round 14) — a version file
  * normally carries only the files its commit added and removed
  * relative to its parent, so committing to a million-file table
  * writes a batch-sized JSON, not a table-sized one (the Delta-log
  * idea: O(change) per commit). Every checkpoint-interval-th commit (default 16,
  * `spark.graft.checkpointEvery`)
  * additionally publishes a full file-list checkpoint
  * (`_versions/c-<n>.json`, best-effort like the hint), and commits
  * whose diff would exceed their full list (init, clone, overwrite,
  * restore) stay full-form — so resolving any snapshot costs one
  * checkpoint read plus at most checkpoint-interval-many delta-sized
  * reads, never a data pass and never a whole-history replay.
  * [[vacuumVersions]] writes a covering checkpoint at the oldest
  * retained version before pruning, keeping every retained version
  * resolvable. The versioned merge reads only the pinned files of
  * touched partitions and writes only the batch's partition
  * footprint, exactly like [[MergeInto]].
  */
object VersionLog {

  private val VersionFile: Regex = """v-(\d{8})\.json""".r

  /** JSON string escape for every hand-rendered metadata file:
    * backslash, quote, AND control characters. A TBLPROPERTIES value
    * containing a newline (Spark string literals expand `\n`) must
    * not publish an unparseable version file — the CAS has already
    * committed it, so invalid JSON would brick the table head until
    * the file is hand-edited.
    */
  private[graft] def jsonEsc(x: String): String = {
    val sb = new StringBuilder
    x.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.toString
  }

  private def versionsRoot(dir: String): Path =
    new Path(dir.stripSuffix("/"), "_versions")

  private def fsFor(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** All committed versions at `dir`, ascending. One listing of the
    * log directory — bounded by commits ever made, not data; prune
    * with [[vacuumVersions]].
    */
  def listVersions(spark: SparkSession, dir: String): Seq[Long] = {
    val fs = fsFor(spark, dir)
    val root = versionsRoot(dir)
    if (!fs.exists(root)) return Nil
    fs.listStatus(root).toSeq.flatMap(_.getPath.getName match {
      case VersionFile(n) => Some(n.toLong)
      case _ => None
    }).sorted
  }

  private def versionFile(dir: String, v: Long): Path =
    new Path(versionsRoot(dir), f"v-$v%08d.json")

  /** Publish a full file-list checkpoint every this-many commits:
    * bounds any snapshot resolution to one checkpoint read plus at
    * most this many delta reads, while keeping per-commit write cost
    * O(change). The default 16 trades ~KB-sized resolution chains
    * against one table-sized metadata write per 16 commits (Delta's
    * default checkpoint interval is 10; same order). Override with
    * `spark.graft.checkpointEvery` — a WRITER-side knob only: readers
    * walk to whatever checkpoint or full-form commit exists, so
    * mixed-interval histories resolve fine.
    */
  private val CheckpointEveryDefault = 16L

  private def checkpointEvery(spark: SparkSession): Long =
    try {
      val v = spark.conf
        .get("spark.graft.checkpointEvery",
          CheckpointEveryDefault.toString).toLong
      if (v >= 1L) v else CheckpointEveryDefault
    } catch { case _: NumberFormatException => CheckpointEveryDefault }

  private def checkpointFile(dir: String, v: Long): Path =
    new Path(versionsRoot(dir), f"c-$v%08d.json")

  private def hintPath(dir: String): Path =
    new Path(versionsRoot(dir), "_latest")

  /** Best-effort latest-version hint — the `_last_checkpoint` idea:
    * one tiny overwrite per commit so resolution never has to list
    * the log directory. Consumers NEVER trust it blindly (see
    * [[latestVersion]]); failure to write is harmless staleness.
    */
  private def writeHint(fs: FileSystem, dir: String, v: Long): Unit =
    try {
      val out = fs.create(hintPath(dir), true)
      try out.write(v.toString.getBytes(StandardCharsets.UTF_8))
      finally out.close()
    } catch { case _: java.io.IOException => () }

  private def readHint(fs: FileSystem, dir: String): Option[Long] =
    try {
      val p = hintPath(dir)
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val s = try new String(in.readAllBytes(), StandardCharsets.UTF_8)
          finally in.close()
        Some(s.trim.toLong)
      }
    } catch { case _: Exception => None } // torn/corrupt: fall back

  /** The newest committed version in O(1): read the hint, verify its
    * version file exists, then probe FORWARD past any staleness (a
    * racing loser's hint landing after the winner's, or a commit that
    * crashed before hinting — a fresh hint costs exactly one extra
    * existence check). A missing, corrupt, or dangling hint falls
    * back to one directory listing; the hint can therefore never
    * change WHAT resolves, only how fast.
    */
  private def latestVersion(spark: SparkSession,
      dir: String): Option[Long] = {
    val fs = fsFor(spark, dir)
    readHint(fs, dir) match {
      case Some(h) if h >= 1 && fs.exists(versionFile(dir, h)) =>
        var v = h
        while (fs.exists(versionFile(dir, v + 1))) v += 1
        Some(v)
      case _ => listVersions(spark, dir).lastOption
    }
  }

  /** Resolve a snapshot — the latest by default, or an explicit
    * version id (time travel). Fails loudly on an unknown version or
    * an unversioned directory. Latest-version resolution is one hint
    * read + one existence probe, not a listing; an explicit version
    * is one direct open (the listing happens only to build the error
    * message). A delta-form version additionally walks its parent
    * chain to the nearest checkpoint or full-form commit — at most
    * checkpoint-interval-many delta-sized reads.
    */
  def snapshot(spark: SparkSession, dir: String,
      version: Option[Long] = None): TableSnapshot = {
    val fs = fsFor(spark, dir)
    val v = version.orElse(latestVersion(spark, dir)).getOrElse(
      throw new IllegalArgumentException(
        s"requirement failed: $dir has no version log (_versions)"))
    val p = versionFile(dir, v)
    if (!fs.exists(p)) {
      val versions = listVersions(spark, dir)
      require(versions.nonEmpty, s"$dir has no version log (_versions)")
      require(versions.contains(v),
        s"version $v not in $dir (have ${versions.mkString(",")})")
    }
    val top = parseRaw(readJson(fs, p))
    TableSnapshot(top.version, top.parent, top.action,
      resolveFiles(fs, dir, top), top.feed, top.deletes,
      top.constraints, top.schemaJson, top.colMap, top.droppedPhys,
      top.props)
  }

  /** One commit's file diff vs its parent, computed WITHOUT resolving
    * full snapshots when avoidable: a delta-form commit's raw version
    * file IS the diff (one small read — the graft-cdc / graft-versions
    * consumers' per-commit cost stays O(change) regardless of table
    * size); a full-form commit resolves its parent. A vacuumed-away
    * parent fails LOUDLY (the manifest diff — and for full-form
    * commits the file diff — cannot be known without it); a consumer
    * that can accept a degraded answer catches and decides itself.
    */
  private[graft] case class CommitDiff(parent: Long, action: String,
      added: Seq[String], removed: Seq[String],
      deletesAdded: Seq[String], deletesRemoved: Seq[String])

  private[graft] def commitDiff(spark: SparkSession, dir: String,
      v: Long): CommitDiff = {
    val fs = fsFor(spark, dir)
    val raw = parseRaw(readJson(fs, versionFile(dir, v)))
    val parentDeletes =
      if (raw.parent == 0L) Seq.empty[String]
      else {
        val pf = versionFile(dir, raw.parent)
        if (!fs.exists(pf)) throw new IllegalStateException(
          s"cannot diff version $v of $dir: parent ${raw.parent} was " +
            "vacuumed — resume from a retained version (set the " +
            "vacuum consumer-lag floor) or bootstrap from a snapshot")
        parseRaw(readJson(fs, pf)).deletes
      }
    val dAdded = raw.deletes.filterNot(parentDeletes.toSet)
    val dRemoved = parentDeletes.filterNot(raw.deletes.toSet)
    raw.full match {
      case None =>
        CommitDiff(raw.parent, raw.action, raw.adds, raw.removes,
          dAdded, dRemoved)
      case Some(files) =>
        val parentFiles =
          if (raw.parent == 0L) Seq.empty[String]
          else snapshot(spark, dir, Some(raw.parent)).files
        val pfSet = parentFiles.toSet
        val fSet = files.toSet
        CommitDiff(raw.parent, raw.action, files.filterNot(pfSet),
          parentFiles.filterNot(fSet), dAdded, dRemoved)
    }
  }

  private def readJson(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8)
    finally in.close()
  }

  /** The full file list of a raw version: its own list when
    * full-form; else its checkpoint if one exists; else the nearest
    * ancestor checkpoint/full-form list with the delta chain applied
    * oldest-first. Parent ids are contiguous (every commit CASes
    * parent+1), so the walk visits each intermediate version once and
    * a checkpoint every checkpoint-interval commits bounds it.
    */
  private def resolveFiles(fs: FileSystem, dir: String,
      top: RawVersion): Seq[String] = top.full.getOrElse {
    readCheckpoint(fs, dir, top.version).getOrElse {
      val diffs =
        scala.collection.mutable.ListBuffer.empty[(Seq[String], Seq[String])]
      var cur = top
      var base: Option[Seq[String]] = None
      while (base.isEmpty) {
        diffs.prepend((cur.adds, cur.removes))
        val pv = cur.parent
        base = readCheckpoint(fs, dir, pv)
        if (base.isEmpty) {
          val vf = versionFile(dir, pv)
          if (!fs.exists(vf)) throw new IllegalStateException(
            s"version chain of ${top.version} at $dir is broken: " +
              s"ancestor $pv is missing (concurrent vacuum?) — retry")
          val anc = parseRaw(readJson(fs, vf))
          if (anc.full.isDefined) base = anc.full else cur = anc
        }
      }
      var files = base.get.toSet
      diffs.foreach { case (a, r) => files = files -- r ++ a }
      files.toSeq.sorted
    }
  }

  /** Read a snapshot as a DataFrame: exactly its file list, nothing
    * newer, nothing retired; hive-style `part=value` segments under
    * the batch directories surface as partition columns.
    * `version = None` reads the latest.
    *
    * Plans as ONE scan through the same pruning
    * [[graft.sources.GraftTableSource]] FileIndex as
    * `format("graft")` — plan width independent of commit count (the
    * pre-r13 shape unioned one parquet read per batch directory, so a
    * long-lived table's plans grew with its history and re-planned
    * every pushed filter per branch). [[readFiles]] remains the
    * generic union reader for arbitrary pinned SUBSETS (touched
    * partitions, per-version history counts).
    */
  def read(spark: SparkSession, dir: String,
      version: Option[Long] = None): DataFrame = {
    val snap = snapshot(spark, dir, version)
    // acceptDeletes/acceptPhysicalNames: this door APPLIES the
    // manifests and projects physical -> logical below, so it may
    // open the raw relation
    val rel = new graft.sources.GraftTableSource().createRelation(
      spark.sqlContext,
      Map("path" -> dir, "acceptDeletes" -> "true",
        "acceptPhysicalNames" -> "true",
        "versionAsOf" -> snap.version.toString))
    val df = spark.baseRelationToDataFrame(rel)
    // column mapping FIRST: project the PHYSICAL relation to the
    // snapshot's LOGICAL view — dropped physicals out, renamed
    // physicals under their logical names. Identity (no alias node at
    // all) for every table that never renamed/dropped.
    val logical = toLogicalView(df, snap)
    // merge-on-read: anti-join the snapshot's retained equality-delete
    // manifests (KB-sized key lists on the broadcast side — the same
    // plan shape as DeletionVectors.readWithDeletes, never a table
    // shuffle). Manifests bind LOGICAL key names, so the join sits
    // ABOVE the mapping projection: after rename a->b a manifest keyed
    // on the physical frame would either miss (no physical 'b') or —
    // after a fresh re-add of 'a' — suppress the WRONG rows. Versions
    // committed before a delete carry no manifests and read the full
    // state.
    deleteManifestFrame(spark, dir, snap).fold(logical) { keys =>
      logical.join(broadcast(keys), Seq(keys.columns.head), "left_anti")
    }
  }

  // ---- dotted-path helpers (NESTED schema evolution) ---------------
  // colMap entries may carry dotted paths on both sides (a RENAME of
  // a struct field records `parentLog.newLeaf -> parentPhys.oldLeaf`,
  // both FULL paths in their own namespace); droppedPhys may carry
  // dotted physical paths. Resolution is longest-prefix: an entry for
  // a parent covers its unmapped children.

  private[graft] def headSeg(p: String): String = {
    val i = p.indexOf('.')
    if (i < 0) p else p.take(i)
  }

  /** The physical dotted path of a logical dotted path: the LONGEST
    * mapped logical prefix is replaced by its physical value, the
    * remaining (unmapped) segments pass through under their own
    * names. Identity when nothing maps.
    */
  private[graft] def physicalPathOf(colMap: Seq[(String, String)],
      logical: String): String = {
    val parts = logical.split("\\.")
    (parts.length to 1 by -1).iterator.map { n =>
      val prefix = parts.take(n).mkString(".")
      colMap.find(_._1 == prefix)
        .map(e => (e._2 +: parts.drop(n)).mkString("."))
    }.collectFirst { case Some(p) => p }.getOrElse(logical)
  }

  /** Does `dt` contain the dotted rel path? Guards the struct
    * rebuild: a raw batch written BEFORE a nested re-add lacks the
    * fresh `#v` leaf, and a `withField` over a missing source would
    * fail analysis — the move simply does not apply to that frame
    * (same contract as a missing top-level mapped column). The walk
    * is TYPE-DIRECTED through container markers (`element`, map
    * `key`/`value`), exactly like [[resolvePath]].
    */
  private[graft] def hasPath(dt: org.apache.spark.sql.types.DataType,
      rel: String): Boolean = {
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    rel.split("\\.").foldLeft(Option(dt)) { (cur, seg) =>
      cur.flatMap {
        case st: StructType =>
          st.fields.find(_.name == seg).map(_.dataType)
        case ArrayType(et, _) if seg == "element" => Some(et)
        case MapType(kt, _, _) if seg == "key" => Some(kt)
        case MapType(_, vt, _) if seg == "value" => Some(vt)
        case _ => None
      }
    }.isDefined
  }

  /** Rebuild a struct column: drop the `drops` rel paths and move
    * each `(from, to)` rel path. UpdateFields-based (`dropFields`/
    * `withField`) — the ONE formulation that both preserves null
    * parents and lets Catalyst simplify extractions over the result
    * back to the source column (a bare `struct()` rebuild turns null
    * structs into structs of nulls; an if/when null guard blocks
    * pushdown — probed on the Spark 4 optimizer). A moved field lands
    * at the END of its parent struct (UpdateFields semantics); the
    * declared schema records the same position, so the contract stays
    * consistent. Paths through container MARKERS rebuild via the
    * higher-order functions (`transform` for arrays,
    * `transform_keys`/`transform_values` for maps) — null containers
    * stay null (the functions null-propagate), element order is
    * preserved, and the per-element body is the same UpdateFields
    * recursion.
    */
  private[graft] def relocated(top: String,
      dt: org.apache.spark.sql.types.DataType, drops: Seq[String],
      moves: Seq[(String, String)]): Column =
    rebuildStruct(col(top), dt, drops, moves)

  /** One recursion level of [[relocated]]: leaf drops apply here,
    * deeper ops rebuild the child subtree IN PLACE under its physical
    * name (position preserved), then leaf renames relocate fields —
    * values captured BEFORE any rename and landed through temp names,
    * so a cyclic swap (x->w, w->x) never overwrites its own sources
    * and no intermediate expression is ever field-less (UpdateFields
    * refuses to drop the last field; every drop here follows an add).
    */
  /** Backtick-quote every segment of a rel path for the UpdateFields
    * doors (`withField`/`dropFields` PARSE their name argument, and a
    * fresh-minted `#v` physical leaf is not a bare identifier).
    */
  private def quotedRel(rel: String): String =
    rel.split("\\.").map(s => "`" + s.replace("`", "``") + "`")
      .mkString(".")

  private def rebuildStruct(orig: Column,
      dt: org.apache.spark.sql.types.DataType, drops: Seq[String],
      moves: Seq[(String, String)]): Column = {
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    def under(marker: String, xs: Seq[String]): Seq[String] =
      xs.filter(headSeg(_) == marker).map(_.drop(marker.length + 1))
    def moveUnder(marker: String, xs: Seq[(String, String)]):
        Seq[(String, String)] =
      xs.collect { case (f, t) if headSeg(f) == marker =>
        (f.drop(marker.length + 1), t.drop(marker.length + 1))
      }
    dt match {
      case ArrayType(et, _) =>
        // every rel path rides through the `element` marker: one
        // transform() per affected array column, the element body is
        // this same recursion — a NULL array stays null, order and
        // length are preserved
        transform(orig, x =>
          rebuildStruct(x, et, under("element", drops),
            moveUnder("element", moves)))
      case MapType(kt, vt, _) =>
        var e = orig
        val (kd, km) = (under("key", drops), moveUnder("key", moves))
        val (vd, vm) =
          (under("value", drops), moveUnder("value", moves))
        if (kd.nonEmpty || km.nonEmpty)
          e = transform_keys(e, (k, _) => rebuildStruct(k, kt, kd, km))
        if (vd.nonEmpty || vm.nonEmpty)
          e = transform_values(e,
            (_, v) => rebuildStruct(v, vt, vd, vm))
        e
      case st: StructType =>
        var e = orig
        val (leafDrops, deepDrops) = drops.partition(!_.contains('.'))
        leafDrops.distinct.foreach(d => e = e.dropFields(quotedRel(d)))
        // an op under a dropped parent died with it (the DDL
        // maintenance removes such mappings; this is belt and braces)
        val gone = leafDrops.toSet
        val (leafMoves, deepMoves) = moves
          .filter(m => m._1 != m._2 && !gone.contains(headSeg(m._1)))
          .partition(!_._1.contains('.'))
        val deepOps =
          (deepDrops.filterNot(d => gone.contains(headSeg(d)))
            .map(d => headSeg(d) -> Left(d)) ++
            deepMoves.map(m => headSeg(m._1) -> Right(m)))
            .groupBy(_._1)
        deepOps.toSeq.sortBy(_._1).foreach { case (h, ops) =>
          val childDrops = ops.collect {
            case (_, Left(d)) => d.drop(h.length + 1)
          }
          val childMoves = ops.collect {
            case (_, Right((f, t))) =>
              (f.drop(h.length + 1), t.drop(headSeg(t).length + 1))
          }
          val childType = st.fields.find(_.name == h).map(_.dataType)
            .getOrElse(throw new IllegalStateException(
              s"struct rebuild: no field '$h' in ${st.simpleString}"))
          e = e.withField(quotedRel(h),
            rebuildStruct(orig.getField(h), childType, childDrops,
              childMoves))
        }
        // leaf renames: capture every source value from the
        // deep-rebuilt frame FIRST (a later rename must see
        // pre-rename values), then two-phase through temp names
        // (add-before-drop throughout)
        val vals = leafMoves.map { case (f, _) => e.getField(f) }
        leafMoves.zip(vals).foreach { case ((f, t), v) =>
          e = e.withField(quotedRel(s"__graft_mv_$t"), v)
            .dropFields(quotedRel(f))
        }
        leafMoves.foreach { case (_, t) =>
          val tmp = s"__graft_mv_$t"
          e = e.withField(quotedRel(t), e.getField(tmp))
            .dropFields(quotedRel(tmp))
        }
        e
      case other => throw new IllegalStateException(
        s"struct rebuild over ${other.simpleString}: paths " +
          s"${(drops ++ moves.map(_._1)).mkString(",")} do not apply")
    }
  }

  /** Physical frame -> the snapshot's logical view: drop retired
    * physical columns, rename mapped physicals to their logical
    * names; NESTED entries (dotted paths) rebuild the affected struct
    * columns via [[relocated]]. A no-op returning `df` itself when
    * the snapshot carries no mapping.
    */
  private[graft] def toLogicalView(df: DataFrame,
      snap: TableSnapshot): DataFrame =
    if (snap.colMap.isEmpty && snap.droppedPhys.isEmpty) df
    else {
      // ONE simultaneous projection, never a withColumnRenamed fold:
      // sequential renames scramble cyclic mappings (rename a->tmp,
      // b->a, tmp->b leaves colMap [(a,b),(b,a)]; folding renames
      // physical b to a — duplicating a — then renames BOTH to b).
      // Position is preserved; a physical name that is some mapping's
      // value never passes through as itself, and a stray physical
      // column shadowing a mapped LOGICAL name (foreign bytes — fresh
      // physical ids make this unreachable from DDL) is hidden rather
      // than surfaced.
      val (topMap, nestedMap) = snap.colMap.partition(e =>
        !e._1.contains('.') && !e._2.contains('.'))
      val (topDropped, nestedDropped) =
        snap.droppedPhys.partition(!_.contains('.'))
      val dropped = topDropped.toSet
      val physToLog = topMap.map(_.swap).toMap
      val mappedLog = topMap.map(_._1).toSet
      val out = df.columns.toIndexedSeq.flatMap { c =>
        val drops = nestedDropped.filter(headSeg(_) == c)
          .map(_.drop(c.length + 1))
        val ct = df.schema(c).dataType
        val moves = nestedMap.filter(e => headSeg(e._2) == c).map {
          case (log, phys) =>
            (phys.drop(c.length + 1),
              log.drop(headSeg(log).length + 1))
        }.filter { case (from, _) => hasPath(ct, from) }
        val base =
          if (drops.isEmpty && moves.isEmpty) col(c)
          else relocated(c, ct, drops, moves)
        physToLog.get(c) match {
          case Some(log) => Some(base.as(log))
          case None if dropped.contains(c) || mappedLog.contains(c) =>
            None
          case None => Some(base.as(c))
        }
      }
      df.select(out: _*)
    }

  /** Logical frame -> physical column names for a batch write. One
    * simultaneous projection (see [[toLogicalView]] for why a rename
    * fold is wrong on cyclic mappings); nested entries rebuild the
    * struct in the files' physical shape, so every batch keeps ONE
    * nested layout regardless of rename history.
    */
  private[graft] def toPhysical(df: DataFrame,
      colMap: Seq[(String, String)]): DataFrame =
    if (colMap.isEmpty) df
    else {
      val (topMap, nestedMap) = colMap.partition(e =>
        !e._1.contains('.') && !e._2.contains('.'))
      val logToPhys = topMap.toMap
      df.select(df.columns.toIndexedSeq.map { c =>
        val moves = nestedMap.filter(e => headSeg(e._1) == c).map {
          case (log, phys) =>
            (log.drop(c.length + 1),
              phys.drop(headSeg(phys).length + 1))
        }.filter { case (from, _) => hasPath(df.schema(c).dataType,
          from) }
        val base =
          if (moves.isEmpty) col(c)
          else relocated(c, df.schema(c).dataType, Nil, moves)
        base.as(logToPhys.getOrElse(c, c))
      }: _*)
    }

  /** The retained equality-delete keys of a snapshot (one column,
    * named for the key the manifests were committed with), or None
    * when the snapshot carries no delete manifests.
    */
  private[graft] def deleteManifestFrame(spark: SparkSession,
      dir: String, snap: TableSnapshot): Option[DataFrame] =
    if (snap.deletes.isEmpty) None
    else {
      val base = dir.stripSuffix("/")
      Some(spark.read.parquet(snap.deletes.map(f => s"$base/$f"): _*)
        .distinct())
    }

  private[graft] def readFiles(spark: SparkSession, dir: String,
      files: Seq[String]): DataFrame = {
    require(files.nonEmpty,
      s"snapshot of $dir lists no data files; cannot infer a schema")
    val base = dir.stripSuffix("/")
    // one read PER BATCH DIRECTORY, then union: partition discovery
    // demands a uniform directory structure, and `data/b-1/p=a` vs
    // `data/b-2/p=a` have different non-partition prefixes — with the
    // batch dir as basePath each group is uniform and the `p=` values
    // surface as partition columns. Branch count is bounded by the
    // snapshot's commit count (vacuum keeps it short), and Catalyst
    // pushes filters/pruning into every branch of the union.
    // allowMissingColumns = SCHEMA EVOLUTION: a commit that widened
    // the schema unions with nulls for the older batches' missing
    // columns (newest-batch-last order makes the widened column
    // land at the end, the position append semantics give it).
    files.groupBy(batchRoot).toSeq.sortBy(_._1)
      .map { case (root, fs) =>
        spark.read.option("basePath", s"$base/$root")
          .parquet(fs.map(f => s"$base/$f"): _*)
      }.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** The batch-directory prefix of a snapshot file path (`data/b-X`
    * for committed batches; the containing directory otherwise).
    */
  private def batchRoot(file: String): String = {
    val segs = file.split("/")
    if (segs.length >= 2 && segs(0) == "data") segs.take(2).mkString("/")
    else segs.dropRight(1).mkString("/")
  }

  /** Commit a new snapshot whose parent is `parent`: writes
    * `v-<parent+1>.json` via an atomic create-if-absent. Throws
    * `ConcurrentModificationException` if that version already exists
    * (another writer committed first) — the caller's data files are
    * then orphans for [[vacuumVersions]] and the operation must be
    * re-run against the new snapshot. Returns the committed version.
    *
    * `files` is always the FULL resolved file list of the new
    * snapshot (the caller's truth); on disk the commit is
    * delta-encoded against the parent whenever that is smaller —
    * pass `parentFiles` (the parent snapshot's list, which every
    * write door already holds) to avoid re-resolving it here.
    */
  def commit(spark: SparkSession, dir: String, parent: Long,
      action: String, files: Seq[String],
      feed: Option[String] = None,
      deletes: Seq[String] = Nil,
      constraints: Seq[(String, String)] = Nil,
      schemaJson: Option[String] = None,
      parentFiles: Option[Seq[String]] = None,
      colMap: Seq[(String, String)] = Nil,
      droppedPhys: Seq[String] = Nil,
      properties: Option[Seq[(String, String)]] = None): Long = {
    val fs = fsFor(spark, dir)
    val root = versionsRoot(dir)
    fs.mkdirs(root)
    val next = parent + 1
    val target = new Path(root, f"v-$next%08d.json")
    val sorted = files.sorted
    // table PROPERTIES inherit from the parent unless a door sets
    // them explicitly (SET/UNSET TBLPROPERTIES, RESTORE) — one small
    // parent read instead of threading them through every write door.
    // A missing parent file here can only mean this commit is about
    // to lose the CAS race anyway (vacuum never deletes the newest
    // version), so the Nil fallback can never publish.
    val props = properties.getOrElse(
      if (parent == 0L) Nil
      else try parseRaw(readJson(fs, versionFile(dir, parent))).props
      catch { case scala.util.control.NonFatal(_) => Nil })
    val delta = deltaAgainstParent(fs, dir, parent, sorted, parentFiles)
    val json = renderSnapshot(TableSnapshot(next, parent, action,
      sorted, feed, deletes.sorted, constraints, schemaJson,
      colMap, droppedPhys, props), delta,
      tsMillis = Some(System.currentTimeMillis()))
    if (!atomicCreate(fs, root, target, json))
      throw new java.util.ConcurrentModificationException(
        s"version $next at $dir was committed by another writer")
    writeHint(fs, dir, next)
    // the checkpoint interval is a TABLE property when set (it rides
    // the snapshot, so every writer paces the same), else the session
    // knob / default
    val ckEvery = props.collectFirst {
      case ("graft.checkpointEvery", v) =>
        scala.util.Try(v.toLong).toOption
    }.flatten.filter(_ >= 1L).getOrElse(checkpointEvery(spark))
    if (next % ckEvery == 0L)
      writeCheckpoint(fs, dir, next, sorted)
    // write-time data-skipping stats for the NEW files — O(change)
    // footer reads, best-effort, skipped for clones (the hard links
    // land under batch roots whose stats files link over with them)
    if (action != "clone") {
      val adds = delta.map(_._1).getOrElse(
        parentFiles.fold(sorted) { pf =>
          val pfSet = pf.toSet; sorted.filterNot(pfSet)
        })
      BatchStats.harvest(spark, dir, adds)
    }
    next
  }

  /** The (adds, removes) delta of `files` against the parent's list,
    * or None when the commit should stay full-form: no parent
    * (init/clone), a diff no smaller than the full list (overwrite,
    * restore, compact), or an unresolvable parent (conservative
    * fallback — a full-form file is always self-sufficient).
    */
  private def deltaAgainstParent(fs: FileSystem, dir: String,
      parent: Long, files: Seq[String],
      parentFiles: Option[Seq[String]]):
      Option[(Seq[String], Seq[String])] =
    if (parent < 1L) None
    else try {
      val pf = parentFiles.getOrElse(
        resolveFiles(fs, dir, parseRaw(readJson(fs, versionFile(dir, parent)))))
      val pfSet = pf.toSet
      val fSet = files.toSet
      val adds = files.filterNot(pfSet)
      val removes = pf.filterNot(fSet)
      if (adds.size + removes.size < files.size) Some((adds, removes))
      else None
    } catch { case _: Exception => None }

  /** Best-effort full-list checkpoint publish (like [[writeHint]]:
    * failure is harmless — resolution falls back to a longer delta
    * walk until the next multiple-of-interval commit).
    */
  private def writeCheckpoint(fs: FileSystem, dir: String, v: Long,
      files: Seq[String]): Unit =
    try {
      val json = s"""{"version":$v,"files":[""" +
        files.map(f => "\"" + jsonEsc(f) + "\"").mkString(",") + "]}"
      atomicCreate(fs, versionsRoot(dir), checkpointFile(dir, v), json)
      ()
    } catch { case _: Exception => () }

  private def readCheckpoint(fs: FileSystem, dir: String,
      v: Long): Option[Seq[String]] =
    try {
      val p = checkpointFile(dir, v)
      if (!fs.exists(p)) None
      else {
        val node = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(readJson(fs, p))
        Some(node.get("files").elements().asScala.map(_.asText).toSeq)
      }
    } catch { case _: Exception => None } // torn/corrupt: walk the chain

  /** Atomic no-replace publish of `content` at `target`. Local FS:
    * write a tmp file, HARD-LINK it to the target (POSIX link(2) is
    * atomic and fails with EEXIST — a plain rename would silently
    * replace a concurrent winner). Other filesystems: exclusive
    * create of a tmp file + rename, which HDFS-likes refuse when the
    * destination exists. Either way a torn write is impossible at the
    * target: content lands complete before the name becomes visible.
    */
  private[io] def atomicCreate(fs: FileSystem, root: Path, target: Path,
      content: String): Boolean = {
    val tmp = new Path(root,
      s".tmp-${target.getName}-${java.util.UUID.randomUUID.toString.take(8)}")
    if ("file" == fs.getUri.getScheme) {
      val tmpNio = java.nio.file.Paths.get(tmp.toUri.getPath)
      val targetNio = java.nio.file.Paths.get(target.toUri.getPath)
      java.nio.file.Files.write(tmpNio,
        content.getBytes(StandardCharsets.UTF_8))
      try {
        java.nio.file.Files.createLink(targetNio, tmpNio)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      } finally java.nio.file.Files.deleteIfExists(tmpNio)
    } else {
      val out = fs.create(tmp, false)
      try out.write(content.getBytes(StandardCharsets.UTF_8))
      finally out.close()
      if (fs.exists(target)) { fs.delete(tmp, false); false }
      else {
        val ok = fs.rename(tmp, target)
        if (!ok) fs.delete(tmp, false)
        ok
      }
    }
  }

  // ---- optimistic concurrency: auto-rebase on commit CAS loss ------

  /** One interleaved commit as the conflict detector sees it: its
    * identity plus its file diff — DELIBERATELY not a [[TableSnapshot]]
    * (the pre-r16 placeholder snapshots carried empty `files`/
    * `constraints`/`colMap` typed identically to real ones, so a vet
    * reading those fields would silently see nothing instead of
    * failing). Vets needing resolved state read the `latest` snapshot
    * they are handed alongside.
    */
  private[graft] case class InterleavedCommit(version: Long,
      action: String, added: Seq[String], removed: Seq[String],
      deletesAdded: Seq[String] = Nil, deletesRemoved: Seq[String] = Nil)

  /** The interleaved commits between `parent` (exclusive) and `latest`
    * (inclusive) with their per-commit file diffs — the conflict
    * detector's read set. O(change) per interleaved commit via
    * [[commitDiff]]: a delta-form commit's raw version file IS its
    * diff (one small read — vet cost stays flat as the table grows;
    * the pre-r15 path resolved one FULL snapshot per interleaved
    * commit).
    */
  private[graft] def interleaved(spark: SparkSession, dir: String,
      parent: TableSnapshot, latest: TableSnapshot):
      Seq[InterleavedCommit] =
    (parent.version + 1 to latest.version).map { v =>
      val d = commitDiff(spark, dir, v)
      InterleavedCommit(v, d.action, d.added, d.removed,
        d.deletesAdded, d.deletesRemoved)
    }

  /** Generic rebase loop: try `commit` against `parent`; on CAS loss
    * re-resolve the latest snapshot, hand the interleaved commits to
    * `vet` (throw there to ABORT — the caller's data files become
    * vacuum orphans), and retry against the new parent. Data files
    * are immutable and uuid-named, so a rebase NEVER rewrites the
    * batch — the Delta blind-append rule generalized: re-commit is
    * metadata work, conflict analysis decides whether semantics
    * survived the interleave.
    */
  private def commitRebasing(spark: SparkSession, dir: String,
      first: TableSnapshot, action: String,
      filesOf: TableSnapshot => Seq[String],
      deletesOf: TableSnapshot => Seq[String],
      vet: (TableSnapshot, TableSnapshot,
        Seq[InterleavedCommit]) => Unit,
      feed: Option[String] = None,
      maxAttempts: Int = 20): Long = {
    var parent = first
    var attempts = 0
    while (true) {
      try {
        return commit(spark, dir, parent.version, action,
          filesOf(parent), feed = feed, deletes = deletesOf(parent),
          constraints = parent.constraints,
          schemaJson = parent.schemaJson,
          parentFiles = Some(parent.files),
          colMap = parent.colMap, droppedPhys = parent.droppedPhys)
      } catch {
        case e: java.util.ConcurrentModificationException =>
          attempts += 1
          if (attempts >= maxAttempts) throw e
          val latest = snapshot(spark, dir, None)
          vet(parent, latest, interleaved(spark, dir, parent, latest))
          parent = latest
      }
    }
    -1L // unreachable
  }

  /** Vet shared by every rebase: CHECK constraints added by the
    * interleave re-gate the batch (they were validated against a
    * table that did not include it), and newly-added equality-delete
    * manifests must not cover any of the batch's rows for the
    * manifest's key column (the rebased commit would silently
    * resurrect-then-swallow them). `batchFiles` is the already-written
    * batch — both probes cost one bounded read of IT, never the table.
    */
  private def vetConstraintsAndDeletes(spark: SparkSession, dir: String,
      parent: TableSnapshot, latest: TableSnapshot,
      batchFiles: Seq[String], what: String): Unit = {
    val newCs = latest.constraints.filterNot(parent.constraints.toSet)
    if (newCs.nonEmpty && batchFiles.nonEmpty)
      enforceConstraints(
        toLogicalView(readFiles(spark, dir, batchFiles), latest),
        newCs, dir, s"$what (rebase: constraint added concurrently)")
    val newDels = latest.deletes.filterNot(parent.deletes.toSet)
    if (newDels.nonEmpty && batchFiles.nonEmpty) {
      val base = dir.stripSuffix("/")
      val keys = spark.read.parquet(newDels.map(f => s"$base/$f"): _*)
        .distinct()
      val c = keys.columns.head
      val batch =
        toLogicalView(readFiles(spark, dir, batchFiles), latest)
      if (batch.columns.contains(c)) {
        val hit = batch.select(col(c))
          .join(broadcast(keys), Seq(c), "left_semi").limit(1).count()
        if (hit > 0L) throw new java.util.ConcurrentModificationException(
          s"$what at $dir cannot rebase: a concurrent commit " +
            s"equality-deleted keys ('$c') that this batch carries — " +
            "re-run against the new snapshot")
      }
    }
  }

  /** Vet for doors that FOLD the pinned snapshot's equality-delete
    * manifests into rewritten victim files (DELETE WHERE / UPDATE):
    * an interleaved commit that REMOVES one of those manifests — a
    * RESTORE un-deleting keys, or a racing [[applyDeletesCommit]] —
    * invalidates the fold. The un-deleted rows would resurrect in the
    * kept files yet stay permanently dropped in the victims'
    * replacements (silently lost rows). File diffs alone cannot see a
    * manifest-only commit, so this reads the interleave's MANIFEST
    * diff. Abort loudly; the caller re-runs against the new snapshot.
    */
  private def vetPinnedManifestsIntact(dir: String, what: String,
      pinned: TableSnapshot, inter: Seq[InterleavedCommit]): Unit = {
    val mine = pinned.deletes.toSet
    if (mine.isEmpty) return
    inter.foreach { ic =>
      val gone = ic.deletesRemoved.filter(mine)
      if (gone.nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"$what at $dir cannot rebase: concurrent commit " +
            s"v${ic.version} (${ic.action}) removed equality-delete " +
            s"manifest(s) ${gone.mkString(",")} this rewrite already " +
            "folded into its victim files — re-run")
    }
  }

  /** Seed a versioned table: land `df` as the first data batch and
    * commit version 1. `partitionBy` gives the hive-partitioned
    * layout the versioned merge addresses; None gives a flat layout
    * (z-order/manifest-friendly). Returns the committed version (1).
    */
  def init(spark: SparkSession, dir: String, df: DataFrame,
      partitionBy: Option[String] = None,
      actionTag: String = "init",
      schemaJson: Option[String] = None,
      properties: Option[Seq[(String, String)]] = None): Long = {
    require(listVersions(spark, dir).isEmpty,
      s"$dir already has a version log; commit against it instead")
    val files = writeBatch(spark, dir, df, partitionBy, 1L)
    commit(spark, dir, parent = 0L, action = actionTag, files = files,
      schemaJson = schemaJson, properties = properties)
  }

  /** Write a data batch under `data/b-<version>-<uuid>/` and return
    * the dir-relative parquet files it produced. The uuid makes a
    * LOSING writer's directory (commit CAS failed) collide-free with
    * the winner's retry.
    */
  private def writeBatch(spark: SparkSession, dir: String, df: DataFrame,
      partitionBy: Option[String], version: Long): Seq[String] = {
    val base = dir.stripSuffix("/")
    val rel = f"data/b-$version%08d-" +
      java.util.UUID.randomUUID.toString.take(8)
    val w = df.write.mode("error")
    partitionBy.fold(w)(c => w.partitionBy(c)).parquet(s"$base/$rel")
    listParquet(fsFor(spark, dir), new Path(base, rel))
      .map(p => relativize(base, p))
  }

  private def listParquet(fs: FileSystem, root: Path): Seq[String] = {
    if (!fs.exists(root)) return Nil
    val it = fs.listFiles(root, true)
    val out = Seq.newBuilder[String]
    while (it.hasNext) {
      val f = it.next()
      if (f.isFile && f.getPath.getName.endsWith(".parquet"))
        out += f.getPath.toUri.getPath
    }
    out.result()
  }

  private def relativize(base: String, absolute: String): String = {
    val b = new Path(base).toUri.getPath.stripSuffix("/") + "/"
    require(absolute.startsWith(b), s"$absolute not under $base")
    absolute.stripPrefix(b)
  }

  /** Versioned copy-on-write MERGE with tombstone deletes and a CDC
    * feed — [[MergeInto.mergeByKeyCdc]] semantics (upserts replace
    * matched keys, new keys insert, `deleteWhen` rows delete wherever
    * the key lives, duplicate batch keys rejected) executed against a
    * PINNED snapshot and published by ONE version-file create:
    *
    *  - reads only the pinned files under touched partitions (the
    *    batch's partition footprint, never the table);
    *  - writes survivors ∪ upserts as NEW files under this version's
    *    batch directory; retired files stay on disk for older
    *    snapshots' readers;
    *  - the next snapshot's file list = pinned minus touched-partition
    *    files plus the new ones; drained partitions simply contribute
    *    no new files (no directory deletes anywhere);
    *  - the feed is STAGED (dot-prefixed, invisible to every consumer)
    *    before the commit and PUBLISHED only after the commit CAS
    *    wins — a pre-commit publish would leave a LOSING writer's
    *    changes as a committed-looking feed batch (phantom rows for
    *    every consumer, duplicated again by the retry). The staged
    *    batch's name rides in the version file, so a crash between
    *    the commit and the publish heals at the next merge's entry
    *    (publish is idempotent); a CAS loss discards the staging.
    *
    * Crash at any point before the version-file create leaves the
    * table bit-identical for every reader (plus invisible orphans);
    * after it, the merge is fully live — the only heal is the
    * idempotent feed publish above. Returns
    * (stats, feed, committedVersion).
    */
  def mergeByKeyCdc(spark: SparkSession, dir: String, updates: DataFrame,
      keyCol: String, partCol: String, deleteWhen: Option[Column] = None,
      maxTouchedPartitions: Int = 4096,
      actionTag: String = "merge",
      bySourceDelete: Option[Column] = None,
      bySourceUpdate: Option[(Column, Seq[(String, Column)])] = None,
      schemaEvolution: Boolean = false):
      (MergeStats, DataFrame, Long) = {
    require(bySourceDelete.isEmpty || bySourceUpdate.isEmpty,
      "at most one WHEN NOT MATCHED BY SOURCE action")
    // MERGE SCHEMA EVOLUTION (Delta autoMerge / Spark's `MERGE WITH
    // SCHEMA EVOLUTION`): source columns the target lacks auto-ADD as
    // metadata-only commits BEFORE the merge pins its snapshot —
    // existing rows read them as NULL, the batch populates them.
    // Columns the tombstone predicate references are HELPERS, never
    // table columns. Type evolution needs no door here: a wider
    // source column unions/coerces into the written batch and the
    // footer merge widens the read schema (the same path widening
    // appends take). Without the flag, extra source columns are
    // simply not written (the merge projects the target's schema).
    if (schemaEvolution) {
      val resolver = spark.sessionState.conf.resolver
      val decl = declaredSchema(spark, dir, snapshot(spark, dir, None))
      // SAME-NAME type guard: a shared atomic column must be a
      // lossless widening in ONE direction (source wider rides the
      // footer-merge widen, source narrower upcasts into the batch).
      // Without it a lossy pair (double source x long files) would
      // coerce the touched partitions and leave the table's mixed
      // footers unreadable — refuse before any file is written. The
      // check RECURSES into matching struct pairs (and array/map
      // element types): a lossy mismatch on a NESTED leaf (source
      // s.x double vs declared s.x bigint) writes files just as
      // surely, and used to surface only at the read-time footer
      // merge — the exact failure mode the guard exists to refuse.
      locally {
        import org.apache.spark.sql.types.{ArrayType, DataType,
          MapType, StructType}
        def vetLossless(path: String, dT: DataType,
            sT: DataType): Unit = (dT, sT) match {
          case (ds: StructType, ss: StructType) =>
            ss.fields.foreach { sf =>
              ds.fields.find(d => resolver(d.name, sf.name)).foreach(
                df => vetLossless(s"$path.${sf.name}", df.dataType,
                  sf.dataType))
            }
          case (ArrayType(de, _), ArrayType(se, _)) =>
            vetLossless(s"$path.element", de, se)
          case (MapType(dk, dv, _), MapType(sk, sv, _)) =>
            vetLossless(s"$path.key", dk, sk)
            vetLossless(s"$path.value", dv, sv)
          // cross-shape mismatches (struct x atomic, array x map)
          // fail loudly at the write's own analysis — nothing lands
          case (_: StructType, _) | (_, _: StructType) => ()
          case (_: ArrayType, _) | (_, _: ArrayType) => ()
          case (_: MapType, _) | (_, _: MapType) => ()
          case _ if dT != sT =>
            require(widensLosslessly(sT, dT) ||
              widensLosslessly(dT, sT),
              s"merge source column '$path' arrives as " +
                s"${sT.simpleString} but the table declares " +
                s"${dT.simpleString} — neither is a lossless " +
                "widening of the other; cast the source first")
          case _ => ()
        }
        updates.schema.fields.foreach { f =>
          decl.fields.find(d => resolver(d.name, f.name)).foreach(d =>
            vetLossless(f.name, d.dataType, f.dataType))
        }
      }
      // resolve the tombstone predicate AGAINST THE SOURCE frame to
      // learn its column references (driver-only analysis, no job) —
      // Column expressions are lazy in Spark 4 (SqlExpression nodes),
      // so walking the unresolved tree would see nothing
      // an analysis FAILURE here must not default to "no helper
      // columns" — that would silently auto-commit the helpers
      // (e.g. `_del`) into the table's schema. Fail loudly instead;
      // the caller's predicate is wrong or the source frame changed.
      val delRefs = deleteWhen.toSeq.flatMap { c =>
        try {
          updates.filter(c).queryExecution.analyzed.collect {
            case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
              f.condition.references.map(_.name).toSeq
          }.flatten
        } catch {
          case scala.util.control.NonFatal(e) =>
            throw new IllegalArgumentException(
              "MERGE WITH SCHEMA EVOLUTION: the tombstone predicate " +
                "does not analyze against the source frame, so " +
                "helper columns cannot be told apart from new table " +
                s"columns — fix the predicate: ${e.getMessage}", e)
        }
      }
      updates.schema.fields
        .filterNot(f => decl.fieldNames.exists(resolver(_, f.name)))
        .filterNot(f => delRefs.exists(resolver(_, f.name)))
        .foreach(f =>
          alterAddColumnCommit(spark, dir, f.name, f.dataType))
    }
    val snap = snapshot(spark, dir, None)
    healStagedFeeds(spark, dir)
    // a merge's matched/survivor arithmetic would have to thread the
    // delete manifests through every projection — fold them first
    // (one applyDeletesCommit) rather than risk resurrecting a
    // deleted key as a survivor
    require(snap.deletes.isEmpty,
      s"table at $dir carries ${snap.deletes.size} outstanding delete " +
        "manifests; run VersionLog.applyDeletesCommit before merging")
    // the path-segment file matching below requires the hive layout
    // this merge addresses — on a flat table (init with
    // partitionBy = None) every matched key would silently
    // misclassify as an insert and its old copy would survive in the
    // kept files: duplicate keys. Reject the layout mismatch loudly.
    val flatFiles = snap.files.filterNot(f =>
      ("/" + f).contains(s"/$partCol="))
    require(flatFiles.isEmpty,
      s"versioned merge on '$partCol' requires a /$partCol=value/ " +
        s"layout; ${flatFiles.size} snapshot files lack it (e.g. " +
        s"${flatFiles.head}) — re-init the table with partitionBy")
    // pinned to THIS snapshot's version explicitly: a concurrent
    // commit between the snapshot resolve and this read must not
    // shift the matched-homes scan onto a newer file list
    val table = read(spark, dir, Some(snap.version))

    val batch = updates.localCheckpoint()
    val dup = batch.groupBy(col(keyCol)).count()
      .filter(col("count") > 1).limit(1).collect()
    require(dup.isEmpty,
      s"duplicate $keyCol in update batch (e.g. ${dup.headOption}): " +
        "a MERGE source may match each target row at most once")
    val tombstones = deleteWhen.map(c => batch.filter(c))
    val upserts =
      deleteWhen.fold(batch)(c => batch.filter(!coalesce(c, lit(false))))
    // CHECK constraints gate the incoming rows only (survivors were
    // validated by the commits that wrote them)
    enforceConstraints(upserts.select(table.columns.map(col).toSeq: _*),
      snap.constraints, dir, "merge")

    val distinctParts = upserts.select(col(partCol)).distinct()
      .limit(maxTouchedPartitions + 1).collect().map(_.get(0))
    require(distinctParts.length <= maxTouchedPartitions,
      s"update batch touches > $maxTouchedPartitions partitions; " +
        "this merge is a table rewrite — re-init instead")
    require(!distinctParts.exists(v =>
        v == null || String.valueOf(v).isEmpty),
      s"null/empty $partCol in update batch: outside the partitioned " +
        "layout's addressing")
    val allKeys = batch.select(col(keyCol))
    val matchedHomes = table.select(col(keyCol), col(partCol))
      .join(allKeys, Seq(keyCol), "left_semi")
      .select(col(partCol)).distinct()
      .limit(maxTouchedPartitions + 1).collect().map(_.get(0))
    require(matchedHomes.length <= maxTouchedPartitions,
      s"matched keys live in > $maxTouchedPartitions partitions")
    // a null/empty home would defeat the path-segment file match below
    // (its files would stay in the kept list while the upsert lands a
    // second copy of the key) — reject, as the in-place merge does
    require(!matchedHomes.exists(v =>
        v == null || String.valueOf(v).isEmpty),
      s"matched keys live in the null/empty-$partCol default " +
        "partition, which this merge cannot address")
    // WHEN NOT MATCHED BY SOURCE: homes of pinned rows whose key the
    // batch does not carry and whose clause condition holds — the
    // mirror clause's blast radius (column-pruned discovery scan).
    // The UPDATE form additionally refuses partition-column and
    // unknown assignment targets up front.
    bySourceUpdate.foreach { case (_, sets) =>
      val resolver = spark.sessionState.conf.resolver
      require(sets.nonEmpty,
        "NOT MATCHED BY SOURCE UPDATE needs >= 1 assignment")
      sets.foreach { case (c, _) =>
        require(!resolver(c, partCol),
          s"NOT MATCHED BY SOURCE UPDATE SET on partition column " +
            s"'$c' is a row move: not supported")
        require(table.columns.exists(resolver(_, c)),
          s"NOT MATCHED BY SOURCE UPDATE SET: no column '$c' on $dir")
      }
    }
    val bySourceCond =
      bySourceDelete.orElse(bySourceUpdate.map(_._1))
    val bySourceHomes = bySourceCond.fold(Array.empty[Any]) { c =>
      table.filter(coalesce(c, lit(false)))
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
      val feed = MergeInto.writeFeedBatch(spark, dir,
        table.limit(0).withColumn("_op", lit("insert")))
      return (MergeStats(Nil, 0L, Nil), feed, snap.version)
    }

    // pinned files under the touched partitions: path-segment match
    // with the exact escaping the partitioned write used
    val touchedFrags = touched.map(v =>
      s"/$partCol=${MergeInto.escapePathName(String.valueOf(v))}/")
    val isTouchedFile = (f: String) =>
      touchedFrags.exists(("/" + f).contains)
    val touchedFiles = snap.files.filter(isTouchedFile)
    val dataCols = table.columns.map(col).toIndexedSeq
    // align the touched read to the TABLE's (possibly wider) schema:
    // a pre-evolution batch's files lack the widened columns — the
    // survivors and before-images must still union with the upserts
    val targetTouched =
      if (touchedFiles.isEmpty) table.filter(lit(false))
      else {
        val raw =
          toLogicalView(readFiles(spark, dir, touchedFiles), snap)
        table.columns.foldLeft(raw) { (df, c) =>
          if (df.columns.contains(c)) df
          else df.withColumn(c,
            lit(null).cast(table.schema(c).dataType))
        }.select(dataCols: _*)
      }
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
    // rows the batch does not match: survive, unless the NOT MATCHED
    // BY SOURCE clause deletes them (NULL = not satisfied = kept) or
    // rewrites them (UPDATE form: assignments over the OLD row, the
    // same one-projection semantics as the UPDATE door)
    val notMatched = targetTouched.join(allKeys, Seq(keyCol), "left_anti")
    val bySourceDeletes = bySourceDelete.fold(oldMatched.limit(0))(c =>
      notMatched.filter(coalesce(c, lit(false))))
    def bySourceProject(df: DataFrame): DataFrame =
      bySourceUpdate.fold(df) { case (c, sets) =>
        val resolver = spark.sessionState.conf.resolver
        val hit = coalesce(c, lit(false))
        df.select(df.schema.fields.map { f =>
          sets.find(s => resolver(s._1, f.name)) match {
            case Some((_, e)) =>
              when(hit, e.cast(f.dataType)).otherwise(col(f.name))
                .as(f.name)
            case None => col(f.name)
          }
        }.toIndexedSeq: _*)
      }
    val bySourceUpdPre = bySourceUpdate.fold(oldMatched.limit(0)) {
      case (c, _) => notMatched.filter(coalesce(c, lit(false)))
    }
    val bySourceUpdPost = bySourceProject(bySourceUpdPre)
    // rewritten stale rows carry NEW values: re-gate the constraints
    // (normal survivors are exempt — validated when first written)
    bySourceUpdate.foreach { _ =>
      enforceConstraints(bySourceUpdPost, snap.constraints, dir,
        "merge (NOT MATCHED BY SOURCE UPDATE)")
    }
    val changes = updatePre.withColumn("_op", lit("update_pre"))
      .unionByName(updatePost.withColumn("_op", lit("update_post")))
      .unionByName(inserts.withColumn("_op", lit("insert")))
      .unionByName(deletes.withColumn("_op", lit("delete")))
      .unionByName(bySourceDeletes.withColumn("_op", lit("delete")))
      .unionByName(bySourceUpdPre.withColumn("_op", lit("update_pre")))
      .unionByName(
        bySourceUpdPost.withColumn("_op", lit("update_post")))

    val afterDelete = bySourceDelete.fold(notMatched)(c =>
      notMatched.filter(!coalesce(c, lit(false))))
    val survivors = bySourceProject(afterDelete)
    val merged = survivors.unionByName(upserts.select(dataCols: _*))
    // the feed STAGING and the batch write are independent actions
    // that both only read pinned (immutable) files — run them
    // concurrently; both complete (invisibly) before the commit, and
    // the feed publishes only once the commit CAS wins (q136's merge
    // 1.70 → 1.51 s, CHANGES.md)
    var feedName: String = null
    var newFiles: Seq[String] = Nil
    graft.core.Par.run(
      () => { feedName = MergeInto.stageFeedBatch(spark, dir, changes)._2 },
      () => { newFiles = writeBatch(spark, dir,
        toPhysical(merged, snap.colMap), Some(partCol),
        snap.version + 1) })
    val outputRows =
      if (newFiles.isEmpty) 0L
      else readFiles(spark, dir, newFiles).count()
    // CAS loss rebases iff the interleave is provably disjoint from
    // everything this merge READ: no interleaved file diff under the
    // touched partitions (survivor arithmetic would be stale), no
    // concurrently-added row carrying a batch key (the matched/insert
    // classification would be stale — the whole-table key probe is
    // part of the merge's read set), no interleaved equality-delete
    // (merges refuse manifest debt), no duplicate exactly-once tag.
    // The probes read only the INTERLEAVED commits' added files.
    val version =
      try commitRebasing(spark, dir, snap, actionTag,
        filesOf = p => p.files.filterNot(isTouchedFile) ++ newFiles,
        deletesOf = p => p.deletes,
        vet = (p, latest, inter) => {
          vetTagUnique(actionTag, inter)
          if (latest.deletes.nonEmpty)
            throw new java.util.ConcurrentModificationException(
              s"merge at $dir cannot rebase: concurrent commits left " +
                s"${latest.deletes.size} equality-delete manifests — " +
                "applyDeletesCommit, then re-run")
          inter.foreach { ic =>
            // a NOT MATCHED BY SOURCE merge read the WHOLE table (any
            // row absent from the source is a potential victim) — a
            // file REMOVAL or an added file under a touched partition
            // is never disjoint from it. A pure blind APPEND outside
            // the touched partitions gets one more chance below: it
            // only conflicts if its rows could have been by-source
            // victims or matched the batch's keys, both checkable
            // against its added files alone (O(change)).
            val bySource =
              bySourceDelete.isDefined || bySourceUpdate.isDefined
            if (bySource && ic.removed.nonEmpty)
              throw new java.util.ConcurrentModificationException(
                s"merge at $dir cannot rebase: NOT MATCHED BY SOURCE " +
                  "reads the whole table and concurrent commit " +
                  s"v${ic.version} (${ic.action}) removed files — " +
                  "re-run")
            if ((ic.added ++ ic.removed).exists(isTouchedFile))
              throw new java.util.ConcurrentModificationException(
                s"merge at $dir cannot rebase: concurrent commit " +
                  s"v${ic.version} (${ic.action}) touched partitions " +
                  "this merge read — re-run")
          }
          val addedAll = inter.flatMap(_.added)
          if (addedAll.nonEmpty) {
            val hit =
              toLogicalView(readFiles(spark, dir, addedAll), latest)
              .select(col(keyCol))
              .join(allKeys, Seq(keyCol), "left_semi")
              .limit(1).count()
            if (hit > 0L)
              throw new java.util.ConcurrentModificationException(
                s"merge at $dir cannot rebase: a concurrent commit " +
                  s"added rows whose $keyCol this merge matches — " +
                  "re-run")
            // precision vet for the by-source clause: a blind append
            // outside the touched partitions survives the rebase ONLY
            // if none of its rows satisfies the clause condition (a
            // serial append-then-merge would have left them alone
            // too). Key matches were excluded just above; an
            // unconditional mirror (cond TRUE) aborts on any append —
            // the strict reading of "make target equal source".
            bySourceCond.foreach { c =>
              val b = toLogicalView(readFiles(spark, dir, addedAll),
                latest)
              val aligned = table.columns.foldLeft(b) { (df, cn) =>
                if (df.columns.contains(cn)) df
                else df.withColumn(cn,
                  lit(null).cast(table.schema(cn).dataType))
              }
              val victim = aligned.filter(coalesce(c, lit(false)))
                .limit(1).count()
              if (victim > 0L)
                throw new java.util.ConcurrentModificationException(
                  s"merge at $dir cannot rebase: a concurrent commit " +
                    "added rows satisfying the NOT MATCHED BY SOURCE " +
                    "condition — re-run")
            }
          }
          val newCs = latest.constraints.filterNot(p.constraints.toSet)
          if (newCs.nonEmpty && newFiles.nonEmpty)
            enforceConstraints(
              toLogicalView(readFiles(spark, dir, newFiles), latest),
              newCs, dir,
              "merge (rebase: constraint added concurrently)")
        },
        feed = Some(feedName))
      catch {
        case scala.util.control.NonFatal(e) =>
          MergeInto.discardStagedFeed(spark, dir, feedName)
          throw e
      }
    val feed = MergeInto.publishStagedFeed(spark, dir, feedName)
    val drained = touched.map(String.valueOf).filter { v =>
      val frag = s"/$partCol=${MergeInto.escapePathName(v)}/"
      !newFiles.exists(f => ("/" + f).contains(frag))
    }
    (MergeStats(touched.map(String.valueOf).sorted.toSeq, outputRows,
      drained.sorted.toSeq), feed, version)
  }

  /** Publish any feed batch a COMMITTED version names but a crash
    * left staged (the window between the commit CAS and the feed
    * rename). Gated on a staging entry existing at all — one listing
    * of the feed root, usually empty — then one small JSON read per
    * retained version to find the batch's owner. A staged batch an
    * IN-FLIGHT concurrent merge owns is never touched: no committed
    * version names it yet, and publish itself is rename-idempotent,
    * so the healer and the owner racing is harmless.
    */
  private def healStagedFeeds(spark: SparkSession, dir: String): Unit = {
    val root = new Path(dir.stripSuffix("/") + "._cdc")
    val fs = fsFor(spark, dir)
    if (!fs.exists(root)) return
    val staged = fs.listStatus(root).map(_.getPath.getName)
      .filter(_.startsWith(".staging-batch-"))
      .map(_.stripPrefix(".staging-")).toSet
    if (staged.isEmpty) return
    // raw JSON reads only — the feed pointer is in the version file;
    // resolving file lists here would walk a delta chain per version
    listVersions(spark, dir).foreach { v =>
      parseRaw(readJson(fs, versionFile(dir, v))).feed
        .filter(staged.contains)
        .foreach(name => MergeInto.publishStagedFeed(spark, dir, name))
    }
  }

  /** The table's commit history as a DataFrame — the DESCRIBE HISTORY
    * analog: one row per retained version with its action, file count,
    * and row count. Version files are metadata-sized; the row counts
    * cost one count() per retained snapshot over its pinned files
    * (parquet footer counts, no data decode) — bounded by retention,
    * never by history.
    */
  def history(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ts = commitTimestamps(spark, dir).toMap
    val rows = listVersions(spark, dir).map { v =>
      val snap = snapshot(spark, dir, Some(v))
      (snap.version, snap.parent, snap.action,
        new java.sql.Timestamp(ts(v)), snap.files.size.toLong,
        readFiles(spark, dir, snap.files).count())
    }
    rows.toDF("version", "parent", "action", "commit_ts", "n_files",
        "n_rows")
      .orderBy(col("version"))
  }

  /** Commit timestamps — IN-COMMIT instants (Delta's ICT feature):
    * every r15+ version file carries the writer's commit instant in
    * its JSON (`"ts"`), so the answer survives any copy, sync, or
    * backup tool that does not preserve mtimes — the pre-ICT
    * convention (the version FILE's modification time) silently
    * shifted every `TIMESTAMP AS OF` answer after such a copy.
    * Pre-r15 files without the field fall back to their mtime.
    * Either way the sequence is adjusted to be strictly monotonic in
    * version order (clock skew between racing writers can make a
    * later version look older — Delta applies the same clamp).
    * Returns (version, adjustedMillis) ascending; metadata-only (one
    * small JSON read per retained version, never a data read).
    */
  def commitTimestamps(spark: SparkSession,
      dir: String): Seq[(Long, Long)] = {
    val fs = fsFor(spark, dir)
    var last = Long.MinValue
    listVersions(spark, dir).map { v =>
      val p = versionFile(dir, v)
      val raw = parseRaw(readJson(fs, p)).tsMillis.getOrElse(
        fs.getFileStatus(p).getModificationTime)
      val adj = if (last == Long.MinValue) raw else math.max(raw, last + 1)
      last = adj
      (v, adj)
    }
  }

  /** Parse a `timestampAsOf` / `TIMESTAMP AS OF` string literal into
    * epoch millis — ONE parser for the reader option and the RESTORE
    * command. Bare digits are epoch millis verbatim; anything else
    * parses through the SESSION time zone
    * (`spark.sql.session.timeZone`) via Catalyst's own timestamp
    * parser, which also accepts date-only literals ('2026-08-16' =
    * that zone's midnight). `java.sql.Timestamp.valueOf` would bind
    * the JVM default zone and throw on date-only strings — both
    * diverge from SQL TIMESTAMP AS OF semantics.
    */
  def timestampLiteralMillis(spark: SparkSession, ts: String): Long =
    scala.util.Try(ts.trim.toLong).getOrElse {
      val zone = org.apache.spark.sql.catalyst.util.DateTimeUtils
        .getZoneId(spark.sessionState.conf.sessionLocalTimeZone)
      val micros = org.apache.spark.sql.catalyst.util.DateTimeUtils
        .stringToTimestamp(
          org.apache.spark.unsafe.types.UTF8String.fromString(ts), zone)
        .getOrElse(throw new IllegalArgumentException(
          s"cannot parse timestamp literal '$ts' (epoch millis or " +
            "yyyy-MM-dd[ HH:mm:ss[.SSSSSS]], session time zone)"))
      Math.floorDiv(micros, 1000L)
    }

  /** `TIMESTAMP AS OF` resolution: the newest version whose adjusted
    * commit time is <= `tsMillis` — "the table as it stood at that
    * instant". Fails loudly when the timestamp predates the first
    * retained commit (nothing existed to read) rather than silently
    * returning the oldest state.
    */
  def versionAtTimestamp(spark: SparkSession, dir: String,
      tsMillis: Long): Long = {
    val ts = commitTimestamps(spark, dir)
    require(ts.nonEmpty,
      s"requirement failed: $dir has no version log (_versions)")
    val eligible = ts.takeWhile(_._2 <= tsMillis)
    require(eligible.nonEmpty,
      s"timestamp $tsMillis predates the first retained commit of " +
        s"$dir (version ${ts.head._1} at ${ts.head._2}); use " +
        "VERSION AS OF or a later timestamp")
    eligible.last._1
  }

  /** Append `df` as a new commit: the next snapshot lists the parent's
    * files plus the new batch. Key uniqueness across commits is the
    * CALLER's contract (use [[mergeByKeyCdc]] for upserts); the layout
    * (`partitionBy`) should match the table's. Returns the version.
    *
    * A commit-CAS loss AUTO-REBASES (Delta's blind-append rule): the
    * batch files are already on disk and version-independent, so the
    * retry is one metadata re-commit against the new parent — no data
    * rewrite, both racing appenders land. The rebase re-gates the
    * batch against concurrently-added constraints and aborts loudly
    * when a concurrent commit equality-deleted keys the batch carries
    * or committed the same idempotency tag.
    */
  def append(spark: SparkSession, dir: String, df: DataFrame,
      partitionBy: Option[String] = None,
      actionTag: String = "append"): Long = {
    val snap = snapshot(spark, dir, None)
    enforceConstraints(df, snap.constraints, dir, "append")
    val files = writeBatch(spark, dir, toPhysical(df, snap.colMap),
      partitionBy, snap.version + 1)
    // outstanding delete manifests carry forward (equality deletes
    // are layout-independent); appending a still-deleted key is the
    // caller's violation of the documented re-insert rule
    commitRebasing(spark, dir, snap, actionTag,
      filesOf = p => p.files ++ files,
      deletesOf = p => p.deletes,
      vet = (p, latest, inter) => {
        vetTagUnique(actionTag, inter)
        vetConstraintsAndDeletes(spark, dir, p, latest, files,
          "append")
      })
  }

  /** Abort a rebase when an interleaved commit carries the same
    * EXACTLY-ONCE idempotency tag — two deliveries of one tagged
    * batch racing must not both land. Plain door names ("append",
    * "overwrite", …) are not tags; concurrent plain writes rebase.
    */
  private def vetTagUnique(action: String,
      inter: Seq[InterleavedCommit]): Unit = {
    if (ReservedActions.contains(action)) return
    inter.find(_.action == action).foreach { ic =>
      throw new java.util.ConcurrentModificationException(
        s"action tag '$action' was committed concurrently as " +
          s"version ${ic.version} — duplicate delivery, not rebased")
    }
  }

  /** CHECK-constraint gate on a write's incoming batch: every row must
    * satisfy every table constraint as SQL TRUE — NULL counts as a
    * violation (the strict CHECK reading, so a constraint doubles as
    * NOT NULL). Cost: one limit(1) probe per constraint over the
    * BATCH only, never the table. Loud error, nothing committed.
    */
  private def enforceConstraints(df: DataFrame,
      cs: Seq[(String, String)], dir: String, what: String): Unit =
    cs.foreach { case (name, sql) =>
      val ok = expr(sql)
      df.filter(ok.isNull || !ok).limit(1).collect().headOption
        .foreach { row =>
          throw new IllegalArgumentException(
            s"CHECK constraint $name ($sql) violated by the $what " +
              s"batch for $dir; first offending row: $row")
        }
    }

  /** Add a named CHECK constraint as a COMMIT: the EXISTING live rows
    * are validated first (one scan — a constraint the current state
    * violates is refused), then the next snapshot carries the
    * constraint and every later write's batch is gated on it
    * ([[enforceConstraints]] inside append/overwrite/merge — all SQL
    * and API doors funnel there). Time travel to versions before the
    * constraint reads the old contract, exactly like schema history.
    */
  def addConstraintCommit(spark: SparkSession, dir: String,
      name: String, sqlExpr: String): Long = {
    val snap = snapshot(spark, dir, None)
    require(!snap.constraints.exists(_._1 == name),
      s"constraint $name already exists on $dir")
    enforceConstraints(read(spark, dir), Seq(name -> sqlExpr), dir,
      "existing table (ADD CONSTRAINT validates current rows)")
    commit(spark, dir, snap.version, "add-constraint", snap.files,
      deletes = snap.deletes,
      constraints = snap.constraints :+ (name -> sqlExpr),
      schemaJson = snap.schemaJson, parentFiles = Some(snap.files),
      colMap = snap.colMap, droppedPhys = snap.droppedPhys)
  }

  /** `ALTER TABLE ADD COLUMN` as a METADATA-ONLY commit: the next
    * snapshot carries the widened table schema (declared order, new
    * nullable column appended); no file is touched — existing rows
    * read the column as NULL (the parquet reader null-fills what a
    * file lacks), later writes may populate it, and TIME TRAVEL to
    * pre-alter versions reads the pre-alter schema, exactly like
    * constraint history. The read path ([[graft.sources
    * .GraftTableSource]]) widens its footer-merged schema with the
    * snapshot's — so both front doors see the column immediately.
    * Duplicate names and non-nullable additions are refused loudly
    * (a NOT NULL column over existing rows has no valid value).
    */
  def alterAddColumnCommit(spark: SparkSession, dir: String,
      name: String, dataType: org.apache.spark.sql.types.DataType,
      nullable: Boolean = true): Long = {
    import org.apache.spark.sql.types.{StructField, StructType}
    require(nullable,
      s"ADD COLUMN $name: new columns must be nullable (existing " +
        "rows have no value for them)")
    val snap = snapshot(spark, dir, None)
    val resolver = spark.sessionState.conf.resolver
    if (!name.contains('.')) {
      val current = read(spark, dir).schema
      require(!current.fieldNames.exists(resolver(_, name)),
        s"column $name already exists on $dir")
      // the new column's PHYSICAL name: its own name unless that name
      // is already claimed by a renamed column's physical or was
      // retired by a DROP — old bytes under a reused physical name
      // would silently leak into the re-added column (the reason
      // Delta column mapping assigns fresh physical ids)
      val takenPhys = current.fieldNames.map(physicalOf(snap, _))
        .toSet ++ snap.droppedPhys
      val colMap =
        if (!takenPhys.contains(name)) snap.colMap
        else snap.colMap :+ (name -> s"$name#v${snap.version + 1}")
      val widened = StructType(current.fields :+
        StructField(name, dataType))
      commit(spark, dir, snap.version, s"add-column-$name", snap.files,
        deletes = snap.deletes, constraints = snap.constraints,
        schemaJson = Some(widened.json), parentFiles = Some(snap.files),
        colMap = colMap, droppedPhys = snap.droppedPhys)
    } else {
      // NESTED add (`ALTER TABLE … ADD COLUMNS (s.newfield T)`): the
      // PARENT path must resolve to a struct; the new field lands at
      // the END of it, metadata-only (existing rows read NULL — the
      // parquet reader null-fills a requested nested field the file
      // lacks, exactly like a top-level add)
      val decl = declaredSchema(spark, dir, snap)
      val segs = name.split("\\.").toSeq
      // the parent may legitimately END at a container marker
      // (`entities.element.newf` adds inside every element struct)
      val (parentPath, parentType) = resolvePath(spark, decl,
        segs.dropRight(1).mkString("."), "ADD COLUMN", dir,
        allowTrailingMarker = true)
      val parentSt = parentType match {
        case st: StructType => st
        case other => throw new IllegalArgumentException(
          s"ADD COLUMN $name: '$parentPath' is $other, not a struct")
      }
      val leaf = segs.last
      require(!parentSt.fieldNames.exists(resolver(_, leaf)),
        s"ADD COLUMN: field '$leaf' already exists under " +
          s"'$parentPath' on $dir")
      val logical = s"$parentPath.$leaf"
      // re-add safety, nested edition: the natural physical path may
      // be retired (DROP s.x history) or claimed by a renamed
      // sibling's physical — mint a fresh `#v` leaf in either case
      val parentPhys = physicalOf(snap, parentPath)
      val natural = s"$parentPhys.$leaf"
      val takenPhys = snap.droppedPhys.toSet ++
        parentSt.fieldNames.map(f => physicalOf(snap, s"$parentPath.$f"))
      val colMap =
        if (!takenPhys.contains(natural)) snap.colMap
        else snap.colMap :+
          (logical -> s"$parentPhys.$leaf#v${snap.version + 1}")
      val widened = updateParentStruct(decl,
        parentPath.split("\\.").toSeq, st =>
          StructType(st.fields :+ StructField(leaf, dataType)))
      commit(spark, dir, snap.version,
        s"add-column-${name.replace('.', '_')}", snap.files,
        deletes = snap.deletes, constraints = snap.constraints,
        schemaJson = Some(widened.json), parentFiles = Some(snap.files),
        colMap = colMap, droppedPhys = snap.droppedPhys)
    }
  }

  /** The physical (on-file) path of a logical column or dotted path.
    * Exact-name match per entry, longest-prefix across the path:
    * callers resolve user input to the DECLARED field's exact case
    * first ([[declaredSchema]] + the session resolver) — colMap
    * entries store declared names verbatim.
    */
  private[graft] def physicalOf(snap: TableSnapshot,
      logical: String): String =
    physicalPathOf(snap.colMap, logical)

  /** The snapshot's declared LOGICAL schema: the committed schemaJson
    * when present (every schema-evolving commit writes one), else the
    * read-side inferred schema.
    */
  private[graft] def declaredSchema(spark: SparkSession, dir: String,
      snap: TableSnapshot): org.apache.spark.sql.types.StructType =
    snap.schemaJson
      .map(j => org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
      .getOrElse(read(spark, dir, Some(snap.version)).schema)

  /** The container-traversal MARKER segments (Delta's spelling):
    * `a.element.x` addresses field x inside `a: array<struct<…>>`,
    * `m.key.…` / `m.value.…` inside a map. Markers ride the dotted
    * paths (colMap, droppedPhys, stats keys) like ordinary segments;
    * the TYPE at each step decides whether a segment is a struct
    * field or a marker, so a struct field literally named `element`
    * stays addressable (the type there is a struct, never an array).
    */
  private[graft] val Markers = Set("element", "key", "value")

  /** Resolve a user-spelled (possibly dotted) path against the
    * declared schema: each segment resolves to the declared field's
    * EXACT case (the session resolver decides matching); inside an
    * array the segment must be `element`, inside a map `key` or
    * `value` — nested DDL through container element types is
    * METADATA-ONLY like everything else (the read/write projections
    * rebuild via `transform`/`transform_keys`/`transform_values`).
    * Returns the exact-case dotted path and the type AT it. The last
    * segment must name a struct FIELD — DDL on a bare `a.element`
    * would re-shape the whole element — unless `allowTrailingMarker`
    * (ADD COLUMN's parent path may legitimately end at one).
    */
  private def resolvePath(spark: SparkSession,
      decl: org.apache.spark.sql.types.StructType, path0: String,
      what: String, dir: String,
      allowTrailingMarker: Boolean = false,
      allowMarkers: Boolean = true):
      (String, org.apache.spark.sql.types.DataType) = {
    import org.apache.spark.sql.types.{ArrayType, DataType, MapType,
      StructType}
    val resolver = spark.sessionState.conf.resolver
    val parts = path0.split("\\.")
    val out = scala.collection.mutable.Buffer.empty[String]
    var cur: DataType = decl
    var lastWasMarker = false
    def noMarkers(): Unit =
      if (!allowMarkers) throw new IllegalArgumentException(
        s"$what $path0: paths through array/map element types are " +
          s"not assignable here — assign the '${headSeg(path0)}' " +
          "column whole")
    parts.zipWithIndex.foreach { case (s, i) =>
      cur match {
        case st: StructType =>
          val field = st.fields.find(f => resolver(f.name, s))
            .getOrElse(throw new IllegalArgumentException(
              s"$what: no column '$path0' on $dir (no field '$s' " +
                (if (i == 0) "" else s"under '${out.mkString(".")}' ") +
                s"— have ${st.fieldNames.mkString(",")})"))
          out += field.name
          cur = field.dataType
          lastWasMarker = false
        case ArrayType(et, _) if resolver(s, "element") =>
          noMarkers()
          out += "element"; cur = et; lastWasMarker = true
        case MapType(kt, _, _) if resolver(s, "key") =>
          noMarkers()
          out += "key"; cur = kt; lastWasMarker = true
        case MapType(_, vt, _) if resolver(s, "value") =>
          noMarkers()
          out += "value"; cur = vt; lastWasMarker = true
        case a: ArrayType => throw new IllegalArgumentException(
          s"$what $path0: '${out.mkString(".")}' is " +
            s"${a.simpleString} — address its element fields " +
            s"through '.element.' (got '$s')")
        case m: MapType => throw new IllegalArgumentException(
          s"$what $path0: '${out.mkString(".")}' is " +
            s"${m.simpleString} — address its entries through " +
            s"'.key.' / '.value.' (got '$s')")
        case other => throw new IllegalArgumentException(
          s"$what $path0: '${out.mkString(".")}' is $other, not a " +
            "struct — it has no fields to address")
      }
    }
    if (lastWasMarker && !allowTrailingMarker)
      throw new IllegalArgumentException(
        s"$what $path0: the path ends at a container marker " +
          s"('${out.last}') — name a field inside it, or operate on " +
          s"the ${headSeg(out.mkString("."))} column whole")
    (out.mkString("."), cur)
  }

  /** The struct at an exact-case RESOLVED dotted path (markers
    * included) — the sibling-set walk rename/drop validate against.
    */
  private def structAt(decl: org.apache.spark.sql.types.StructType,
      segs: Seq[String]): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.{ArrayType, DataType, MapType,
      StructType}
    segs.foldLeft(decl: DataType) { (t, s) =>
      t match {
        case st: StructType => st.fields.find(_.name == s).map(
          _.dataType).getOrElse(throw new IllegalStateException(
            s"no field '$s' in ${st.simpleString}"))
        case ArrayType(et, _) if s == "element" => et
        case MapType(kt, _, _) if s == "key" => kt
        case MapType(_, vt, _) if s == "value" => vt
        case other => throw new IllegalStateException(
          s"segment '$s' does not apply to ${other.simpleString}")
      }
    } match {
      case st: StructType => st
      case other => throw new IllegalStateException(
        s"'${segs.mkString(".")}' is ${other.simpleString}, " +
          "not a struct")
    }
  }

  /** Rewrite the struct at `parentSegs` inside `decl` through `f`
    * (the whole schema when the path is empty). TYPE-DIRECTED: a
    * marker segment descends into the container's element/key/value
    * type, an ordinary segment into the named field — and anything
    * that does not line up fails LOUDLY (never a raw
    * ClassCastException).
    */
  private def updateParentStruct(
      decl: org.apache.spark.sql.types.StructType,
      parentSegs: Seq[String],
      f: org.apache.spark.sql.types.StructType =>
        org.apache.spark.sql.types.StructType):
      org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.{ArrayType, DataType, MapType,
      StructType}
    def at(t: DataType, segs: Seq[String]): DataType =
      if (segs.isEmpty) t match {
        case st: StructType => f(st)
        case other => throw new IllegalArgumentException(
          s"schema surgery target is ${other.simpleString}, " +
            "not a struct")
      }
      else t match {
        case st: StructType =>
          require(st.fieldNames.contains(segs.head),
            s"no field '${segs.head}' in ${st.simpleString}")
          StructType(st.fields.map { fd =>
            if (fd.name == segs.head)
              fd.copy(dataType = at(fd.dataType, segs.tail))
            else fd
          })
        case ArrayType(et, n) if segs.head == "element" =>
          ArrayType(at(et, segs.tail), n)
        case MapType(k, v, n) if segs.head == "key" =>
          MapType(at(k, segs.tail), v, n)
        case MapType(k, v, n) if segs.head == "value" =>
          MapType(k, at(v, segs.tail), n)
        case other => throw new IllegalArgumentException(
          s"path segment '${segs.head}' does not apply to " +
            s"${other.simpleString}")
      }
    at(decl, parentSegs).asInstanceOf[StructType]
  }

  /** Declared-schema surgery shared by the version-log DDL doors and
    * the catalog's `_table.json` sync. `renameInSchema` moves the
    * renamed field to the END of its parent struct for NESTED paths —
    * the read-side rebuild ([[relocated]], UpdateFields semantics)
    * produces that order, and declaring it keeps the contract
    * consistent; top-level renames keep their position (the read
    * projection preserves it).
    */
  private[graft] def renameInSchema(
      decl: org.apache.spark.sql.types.StructType, path: String,
      to: String): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.StructType
    val segs = path.split("\\.").toSeq
    if (segs.length == 1)
      StructType(decl.fields.map(f =>
        if (f.name == path) f.copy(name = to) else f))
    else updateParentStruct(decl, segs.dropRight(1), st =>
      StructType(st.fields.filterNot(_.name == segs.last) :+
        st.fields.find(_.name == segs.last).get.copy(name = to)))
  }

  private[graft] def dropInSchema(
      decl: org.apache.spark.sql.types.StructType, path: String):
      org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.StructType
    val segs = path.split("\\.").toSeq
    updateParentStruct(decl, segs.dropRight(1), st =>
      StructType(st.fields.filterNot(_.name == segs.last)))
  }

  private[graft] def addInSchema(
      decl: org.apache.spark.sql.types.StructType, path: String,
      t: org.apache.spark.sql.types.DataType):
      org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.{StructField, StructType}
    val segs = path.split("\\.").toSeq
    updateParentStruct(decl, segs.dropRight(1), st =>
      if (st.fieldNames.contains(segs.last)) st
      else StructType(st.fields :+ StructField(segs.last, t)))
  }

  private[graft] def retypeInSchema(
      decl: org.apache.spark.sql.types.StructType, path: String,
      t: org.apache.spark.sql.types.DataType):
      org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.StructType
    val segs = path.split("\\.").toSeq
    updateParentStruct(decl, segs.dropRight(1), st =>
      StructType(st.fields.map(f =>
        if (f.name == segs.last) f.copy(dataType = t) else f)))
  }

  /** Shared ALTER guards: the column must exist, must not be the
    * partition column (path-encoded — renaming it would orphan every
    * directory), must not be an outstanding equality-delete
    * manifest's key (the stored key lists bind by name), and — for
    * DROP, where no rewrite can save it — must not be referenced by a
    * CHECK constraint (stored as SQL text binding by name; RENAME
    * rewrites the stored SQL through the mapping instead, see
    * [[rewriteConstraintSql]]).
    */
  private def requireAlterable(spark: SparkSession, dir: String,
      snap: TableSnapshot, name: String, what: String,
      constraintRefsBlock: Boolean = true): Unit = {
    val partCols = snap.files.flatMap(_.split("/").dropRight(1)
      .filter(_.contains("=")).map(_.split("=", 2)(0))).distinct
    require(!partCols.exists(spark.sessionState.conf.resolver(_, name)),
      s"$what $name: it is the partition column of $dir (path-" +
        "encoded); repartition through a rewriting overwrite instead")
    deleteManifestFrame(spark, dir, snap).foreach { k =>
      require(!spark.sessionState.conf.resolver(k.columns.head, name),
        s"$what $name: outstanding equality-delete manifests key on " +
          "it — applyDeletesCommit first")
    }
    if (constraintRefsBlock) snap.constraints.foreach { case (cn, sql) =>
      require(!constraintReferences(spark, sql, name),
        s"$what $name: CHECK constraint $cn ($sql) references it — " +
          "drop the constraint first")
    }
  }

  /** Does the stored CHECK SQL reference column or dotted path
    * `name`? True when some attribute IS the path or a descendant of
    * it (`s.x` referenced by `s.x` or `s.x.q`), and — conservatively
    * — when an attribute is a strict ANCESTOR of the path (`s` alone
    * means the whole struct value, whose shape a nested DDL changes).
    * Resolver-matched per segment.
    */
  private def constraintReferences(spark: SparkSession, sql: String,
      name: String): Boolean = {
    val resolver = spark.sessionState.conf.resolver
    val path = name.split("\\.").toSeq
    def overlaps(attr: Seq[String]): Boolean = {
      val n = math.min(attr.length, path.length)
      attr.take(n).zip(path.take(n)).forall {
        case (a, p) => resolver(a, p)
      }
    }
    spark.sessionState.sqlParser.parseExpression(sql).collect {
      case a: org.apache.spark.sql.catalyst.analysis
          .UnresolvedAttribute => a.nameParts
    }.exists(overlaps)
  }

  /** Rewrite a stored CHECK constraint's SQL for a column rename:
    * parse, substitute the attribute, re-generate SQL — so RENAME
    * COLUMN keeps the constraint gating under the new name instead of
    * refusing (the stored text is the only thing binding by name).
    * Constraints that never reference the column keep their original
    * text byte-for-byte.
    */
  private[graft] def rewriteConstraintSql(spark: SparkSession,
      sql: String, from: String, to: String): String = {
    if (!constraintReferences(spark, sql, from)) return sql
    val resolver = spark.sessionState.conf.resolver
    // `from`/`to` are full (possibly dotted) paths: an attribute whose
    // nameParts START with from's segments rewrites that prefix to
    // to's segments — `s.x` -> `s.y` also carries `s.x.q` to `s.y.q`
    val fromSegs = from.split("\\.").toSeq
    val toSegs = to.split("\\.").toSeq
    spark.sessionState.sqlParser.parseExpression(sql).transform {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
          if a.nameParts.length >= fromSegs.length &&
            a.nameParts.take(fromSegs.length).zip(fromSegs)
              .forall { case (x, y) => resolver(x, y) } =>
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(
          toSegs ++ a.nameParts.drop(fromSegs.length))
    }.sql
  }

  /** `ALTER TABLE RENAME COLUMN` as a METADATA-ONLY commit (Delta
    * column mapping): the logical name changes, the physical files
    * keep theirs, and a colMap entry binds them. Time travel to
    * pre-rename versions reads the old name; old files' bytes flow
    * into the renamed column on read (identity preserved).
    */
  def alterRenameColumnCommit(spark: SparkSession, dir: String,
      from0: String, to: String): Long = {
    val snap = snapshot(spark, dir, None)
    val resolver = spark.sessionState.conf.resolver
    val decl = declaredSchema(spark, dir, snap)
    require(!to.contains('.'),
      s"RENAME COLUMN: the new name must be a bare field name, " +
        s"got '$to' (a rename never moves a field between structs)")
    // resolve the user's spelling to the DECLARED field's exact case:
    // physicalOf and the colMap filter match exactly, so 'RENAME
    // COLUMN V TO label' on a column stored as 'v' must operate on
    // 'v', not record a colMap entry pointing at a physical 'V' that
    // no file carries. Dotted paths resolve segment by segment
    // (NESTED rename — a field inside a struct column).
    val (from, _) = resolvePath(spark, decl, from0, "RENAME COLUMN",
      dir)
    val parentSegs = from.split("\\.").toSeq.dropRight(1)
    val siblingNames =
      if (parentSegs.isEmpty) decl.fieldNames.toSeq
      else structAt(decl, parentSegs).fieldNames.toSeq
    require(!siblingNames.exists(resolver(_, to)),
      s"RENAME COLUMN: column '$to' already exists " +
        (if (parentSegs.isEmpty) s"on $dir"
         else s"under '${parentSegs.mkString(".")}' on $dir"))
    requireAlterable(spark, dir, snap, from, "RENAME COLUMN",
      constraintRefsBlock = false)
    val newLogical = (parentSegs :+ to).mkString(".")
    val phys = physicalOf(snap, from)
    val renamed = renameInSchema(decl, from, to)
    // descendants of the renamed path RIDE it: their colMap keys
    // rewrite to the new logical prefix (values stay physical)
    val colMap = snap.colMap.flatMap { case (l, p) =>
      if (l == from) None
      else if (l.startsWith(from + "."))
        Some((newLogical + l.stripPrefix(from), p))
      else Some((l, p))
    } :+ (newLogical -> phys)
    // CHECK constraints referencing the column RIDE the rename: the
    // stored SQL rewrites through the mapping (still gating every
    // later write under the new name) instead of blocking the DDL
    val constraints = snap.constraints.map { case (cn, sql) =>
      (cn, rewriteConstraintSql(spark, sql, from, newLogical))
    }
    commit(spark, dir, snap.version,
      s"rename-column-${from.replace('.', '_')}-$to",
      snap.files, deletes = snap.deletes,
      constraints = constraints,
      schemaJson = Some(renamed.json), parentFiles = Some(snap.files),
      colMap = colMap, droppedPhys = snap.droppedPhys)
  }

  /** `ALTER TABLE DROP COLUMN` as a METADATA-ONLY commit: the logical
    * column disappears (reads project it away; later batch rewrites
    * physically shed it), its physical name is retired forever
    * (`droppedPhys` — a re-added same-name column gets a fresh
    * physical, so old bytes can never resurface), and time travel to
    * pre-drop versions still reads it.
    */
  def alterDropColumnCommit(spark: SparkSession, dir: String,
      name0: String): Long = {
    val snap = snapshot(spark, dir, None)
    val decl = declaredSchema(spark, dir, snap)
    // exact-case resolution, same reason as RENAME: retiring a
    // wrong-cased physical name would fail to hide the column.
    // Dotted paths resolve segment by segment (NESTED drop).
    val (name, _) = resolvePath(spark, decl, name0, "DROP COLUMN", dir)
    val parentSegs = name.split("\\.").toSeq.dropRight(1)
    val siblingCount =
      if (parentSegs.isEmpty) decl.fields.length
      else structAt(decl, parentSegs).fields.length
    require(siblingCount > 1,
      s"DROP COLUMN $name: it is the only field of " +
        (if (parentSegs.isEmpty) dir
         else s"struct '${parentSegs.mkString(".")}' on $dir — an " +
           "empty struct cannot be read or written"))
    requireAlterable(spark, dir, snap, name, "DROP COLUMN")
    val phys = physicalOf(snap, name)
    val narrowed = dropInSchema(decl, name)
    // the dropped path's own mapping AND its descendants' die with it
    commit(spark, dir, snap.version,
      s"drop-column-${name.replace('.', '_')}", snap.files,
      deletes = snap.deletes, constraints = snap.constraints,
      schemaJson = Some(narrowed.json), parentFiles = Some(snap.files),
      colMap = snap.colMap.filterNot(e =>
        e._1 == name || e._1.startsWith(name + ".")),
      droppedPhys = (snap.droppedPhys :+ phys).distinct)
  }

  /** The probe-verified LOSSLESS widening relation (narrow -> wide) —
    * exactly what the Spark 4 vectorized parquet reader decodes
    * natively from NARROW written files into the wide read schema:
    * integral up-chain, byte/short/int -> double (exact under the
    * 53-bit mantissa; long -> double is LOSSY and the reader refuses
    * it — Catalyst's `Cast.canUpCast` wrongly calls it an upcast),
    * float -> double, integral -> decimal with enough integer digits,
    * decimal growth (scale and integer digits both non-decreasing),
    * and date -> timestamp_ntz. Shared by [[alterColumnTypeCommit]]
    * and the merge door's same-name type guard.
    */
  private[graft] def widensLosslessly(
      old: org.apache.spark.sql.types.DataType,
      newType: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    val ints = IndexedSeq[DataType](ByteType, ShortType, IntegerType,
      LongType)
    def digitsOf(t: DataType): Int = t match {
      case ByteType => 3; case ShortType => 5
      case IntegerType => 10; case LongType => 19; case _ => 0
    }
    (old, newType) match {
      case (a, b) if ints.contains(a) && ints.contains(b) =>
        ints.indexOf(b) > ints.indexOf(a)
      case (FloatType, DoubleType) => true
      case (ByteType | ShortType | IntegerType, DoubleType) => true
      case (t, d: DecimalType) if ints.contains(t) =>
        d.precision - d.scale >= digitsOf(t)
      case (a: DecimalType, b: DecimalType) =>
        b != a && b.scale >= a.scale &&
          b.precision - b.scale >= a.precision - a.scale
      case (DateType, TimestampNTZType) => true
      case _ => false
    }
  }

  /** `ALTER TABLE ALTER COLUMN TYPE` as a METADATA-ONLY commit — type
    * WIDENING (Delta's type-widening feature, public protocol,
    * re-implemented): the declared type moves up the integral chain
    * (byte -> short -> int -> long) or float -> double. No file is
    * touched: existing files keep their written type and the scan
    * decodes them into the wide read schema natively (the relation
    * merges declared types against footers — the same machinery that
    * already serves widening APPENDS). Stats boxes need no rewrite:
    * sidecar min/max normalize to BigDecimal at plan time, so an
    * int-era box still prunes a long-typed probe. Time travel to
    * pre-widen versions reads the narrow type. Any non-widening
    * change (narrowing, cross-family, string) refuses loudly — it
    * would re-interpret written bytes.
    */
  def alterColumnTypeCommit(spark: SparkSession, dir: String,
      name0: String,
      newType: org.apache.spark.sql.types.DataType): Long = {
    import org.apache.spark.sql.types._
    val snap = snapshot(spark, dir, None)
    val resolver = spark.sessionState.conf.resolver
    val decl = declaredSchema(spark, dir, snap)
    // dotted paths resolve segment by segment (NESTED retype —
    // container markers included: `a.element.x` widens the element
    // field of an array<struct> column)
    val (name, oldType) = resolvePath(spark, decl, name0,
      "ALTER COLUMN TYPE", dir)
    // the partition column's type comes from directory-segment
    // inference, not from any file — a declared retype would diverge
    val partCols = snap.files.flatMap(_.split("/").dropRight(1)
      .filter(_.contains("=")).map(_.split("=", 2)(0))).distinct
    require(!partCols.exists(resolver(_, name)),
      s"ALTER COLUMN TYPE $name: it is the partition column of $dir " +
        "(path-encoded); repartition through a rewriting overwrite")
    val old = oldType
    require(widensLosslessly(old, newType),
      s"ALTER COLUMN TYPE $name: $old -> $newType is not a widening " +
        "(integral up-chain, byte/short/int -> double, float -> " +
        "double, integral -> decimal with enough integer digits, " +
        "decimal scale/precision growth, date -> timestamp_ntz) — " +
        "anything else re-interprets written bytes; rewrite through " +
        "overwrite instead")
    if (old == DateType && newType == TimestampNTZType) {
      // pre-r16 sidecars stored date bounds as UNTAGGED numbers
      // (epoch days); under the widened declaration those would
      // compare against micros literals and over-prune. Re-harvest
      // every live batch's sidecar so date columns carry the `days`
      // tag — O(live files) footer reads, a DDL-time cost. Clones
      // keep their own hard-linked copies (the rewrite creates a new
      // inode); time travel is unaffected (same bounds, tagged).
      val fs = fsFor(spark, dir)
      val base = dir.stripSuffix("/")
      snap.files.filter(_.endsWith(".parquet"))
        .map(BatchStats.batchRootOf).distinct.foreach { root =>
          val p = new Path(s"$base/$root", BatchStats.FileName)
          if (fs.exists(p)) fs.delete(p, false)
        }
      BatchStats.harvest(spark, dir, snap.files)
    }
    val widened = retypeInSchema(decl, name, newType)
    commit(spark, dir, snap.version,
      s"retype-column-${name.replace('.', '_')}", snap.files,
      deletes = snap.deletes, constraints = snap.constraints,
      schemaJson = Some(widened.json), parentFiles = Some(snap.files),
      colMap = snap.colMap, droppedPhys = snap.droppedPhys)
  }

  /** `ALTER TABLE … SET/UNSET TBLPROPERTIES` as a METADATA-ONLY
    * commit: properties belong to the TABLE, not the calling session
    * — retention windows (`graft.retentionHours` — VACUUM's default),
    * checkpoint pacing (`graft.checkpointEvery` — every writer
    * follows the snapshot's own value), and the mapped-read
    * acknowledgment (`graft.acceptPhysicalNames`) resolve from the
    * snapshot, so they survive sessions and bind every engine that
    * opens the table. Every ordinary commit inherits the parent's
    * properties; time travel reads each version's own. `set` wins
    * over an existing key; `unset` of an absent key is a no-op
    * (Delta's semantics).
    */
  def setTablePropertiesCommit(spark: SparkSession, dir: String,
      set: Seq[(String, String)], unset: Seq[String] = Nil): Long = {
    val snap = snapshot(spark, dir, None)
    val keys = set.map(_._1)
    require(keys.distinct.size == keys.size,
      s"duplicate property keys: ${keys.mkString(",")}")
    val gone = (keys ++ unset).toSet
    val next = snap.properties.filterNot(p => gone(p._1)) ++ set
    commit(spark, dir, snap.version, "set-tblproperties", snap.files,
      deletes = snap.deletes, constraints = snap.constraints,
      schemaJson = snap.schemaJson, parentFiles = Some(snap.files),
      colMap = snap.colMap, droppedPhys = snap.droppedPhys,
      properties = Some(next))
  }

  /** One table property from the LATEST snapshot, or None. */
  def tableProperty(spark: SparkSession, dir: String,
      key: String): Option[String] =
    snapshot(spark, dir, None).properties.find(_._1 == key).map(_._2)

  /** Drop a named CHECK constraint as a commit. */
  def dropConstraintCommit(spark: SparkSession, dir: String,
      name: String): Long = {
    val snap = snapshot(spark, dir, None)
    require(snap.constraints.exists(_._1 == name),
      s"no constraint $name on $dir (have: " +
        s"${snap.constraints.map(_._1).mkString(",")})")
    commit(spark, dir, snap.version, "drop-constraint", snap.files,
      deletes = snap.deletes,
      constraints = snap.constraints.filterNot(_._1 == name),
      schemaJson = snap.schemaJson, parentFiles = Some(snap.files),
      colMap = snap.colMap, droppedPhys = snap.droppedPhys)
  }

  /** Replace the table's contents with `df` in one commit: the next
    * snapshot lists ONLY the new batch. Nothing is deleted — readers
    * of older versions are undisturbed and the replaced files age out
    * via [[vacuumVersions]]. Returns the version.
    */
  def overwrite(spark: SparkSession, dir: String, df: DataFrame,
      partitionBy: Option[String] = None,
      actionTag: String = "overwrite"): Long = {
    val snap = snapshot(spark, dir, None)
    enforceConstraints(df, snap.constraints, dir, "overwrite")
    val files = writeBatch(spark, dir, toPhysical(df, snap.colMap),
      partitionBy, snap.version + 1)
    // CAS loss auto-rebases: a full overwrite is "truncate + insert",
    // so last-writer-wins over ANY interleave is its documented
    // semantics — only concurrently-added constraints re-gate, and a
    // duplicate exactly-once tag aborts
    commitRebasing(spark, dir, snap, actionTag,
      filesOf = _ => files,
      deletesOf = _ => Nil,
      vet = (p, latest, inter) => {
        vetTagUnique(actionTag, inter)
        val newCs = latest.constraints.filterNot(p.constraints.toSet)
        if (newCs.nonEmpty)
          enforceConstraints(
            toLogicalView(readFiles(spark, dir, files), latest),
            newCs, dir,
            "overwrite (rebase: constraint added concurrently)")
      })
  }

  /** Partition-scoped overwrite — Delta's `replaceWhere` on the
    * partition column, the SQL `INSERT OVERWRITE t PARTITION (p=...)`
    * semantics — as ONE commit: the next snapshot lists the parent's
    * files MINUS every file under the named partitions PLUS the new
    * batch. File-granular copy-on-write (untouched partitions carry by
    * reference, readers of older versions undisturbed); blast radius =
    * the named partitions, never the table. Every row of `df` must
    * fall inside the replaced scope — a loud error otherwise, because
    * silently widening is how "replace the fr partition" eats the
    * table (Delta's replaceWhere enforces the same). Replacing a
    * partition with zero rows (an empty `df` slice) legitimately
    * DRAINS it. Outstanding equality-delete manifests carry forward
    * (layout-independent, like [[append]]). Returns the version.
    */
  def overwritePartitions(spark: SparkSession, dir: String,
      df: DataFrame, partitionBy: String,
      values: Seq[String]): Long = {
    require(values.nonEmpty, "overwritePartitions needs >= 1 partition")
    require(!values.exists(v => v == null || v.isEmpty),
      s"null/empty $partitionBy value: outside the partitioned " +
        "layout's addressing")
    val snap = snapshot(spark, dir, None)
    val stray = df.filter(col(partitionBy).isNull ||
        !col(partitionBy).isin(values.map(v => v: Any): _*))
      .limit(1).count()
    require(stray == 0L,
      s"rows fall outside the replaced partitions " +
        s"($partitionBy in ${values.mkString(",")}) — an overwrite " +
        "must not silently widen; overwrite the whole table instead")
    val frags = values.map(v =>
      s"/$partitionBy=${MergeInto.escapePathName(v)}/")
    val isReplaced = (f: String) => frags.exists(("/" + f).contains)
    enforceConstraints(df, snap.constraints, dir, "overwrite_where")
    val files = writeBatch(spark, dir, toPhysical(df, snap.colMap),
      Some(partitionBy), snap.version + 1)
    // CAS loss rebases iff the interleave is DISJOINT from the
    // replaced partitions (its file diffs never touch them) — a
    // concurrent write into a replaced partition would be silently
    // clobbered by a blind retry, so that aborts loudly instead
    commitRebasing(spark, dir, snap, "overwrite_where",
      filesOf = p => p.files.filterNot(isReplaced) ++ files,
      deletesOf = p => p.deletes,
      vet = (p, latest, inter) => {
        inter.foreach { ic =>
          if ((ic.added ++ ic.removed).exists(isReplaced))
            throw new java.util.ConcurrentModificationException(
              s"overwrite_where at $dir cannot rebase: concurrent " +
                s"commit v${ic.version} (${ic.action}) touched a " +
                s"replaced partition ($partitionBy in " +
                s"${values.mkString(",")}) — re-run")
        }
        vetConstraintsAndDeletes(spark, dir, p, latest, files,
          "overwrite_where")
      })
  }

  /** EQUALITY-DELETE commit — merge-on-read for the VERSIONED table
    * (the [[DeletionVectors]] idea lifted into the snapshot protocol,
    * Iceberg's equality-delete-manifest shape): a point delete writes
    * only a KB-sized key list under `deletes/d-<v>-<uuid>/` and
    * commits a snapshot whose `deletes` carry it — NO data file is
    * written, renamed, or touched, so the delete cost is independent
    * of partition size and the commit inherits every snapshot
    * contract (atomic publish, time travel to pre-delete versions,
    * pinned readers, optimistic writers).
    *
    * Readers ([[read]], the graft catalog) anti-join the retained
    * manifests (broadcast side — never a table shuffle); a direct
    * `format("graft")` read REFUSES a snapshot with live manifests
    * unless `option("acceptDeletes", "true")` acknowledges that the
    * caller applies them — there is no silently-diverging door.
    * [[applyDeletesCommit]] folds the debt; until then a deleted key
    * must not be re-inserted (the anti-join would swallow it — the
    * equality-delete rule every format documents). Deleting absent
    * keys is a no-op; an empty key frame commits nothing.
    */
  def deleteKeysCommit(spark: SparkSession, dir: String,
      keys: DataFrame, keyCol0: String): Long = {
    val snap = snapshot(spark, dir, None)
    val base = dir.stripSuffix("/")
    // the manifest binds a LOGICAL column name (reads apply it above
    // the column-mapping projection) — resolve to the declared field's
    // exact case so the stored key list and every later anti-join
    // agree on one spelling
    val resolver = spark.sessionState.conf.resolver
    val decl = declaredSchema(spark, dir, snap)
    val keyCol = decl.fieldNames.find(resolver(_, keyCol0)).getOrElse(
      throw new IllegalArgumentException(
        s"deleteKeys: no column '$keyCol0' on $dir " +
          s"(have ${decl.fieldNames.mkString(",")})"))
    val k = keys.select(col(keyCol0).as(keyCol)).distinct()
      .localCheckpoint()
    if (k.isEmpty) return snap.version
    deleteManifestFrame(spark, dir, snap).foreach { prior =>
      require(prior.columns.head == keyCol,
        s"table already carries delete manifests on " +
          s"'${prior.columns.head}'; fold them (applyDeletesCommit) " +
          s"before deleting on '$keyCol'")
    }
    val rel = f"deletes/d-${snap.version + 1}%08d-" +
      java.util.UUID.randomUUID.toString.take(8)
    k.coalesce(1).write.mode("error").parquet(s"$base/$rel")
    val manifest = listParquet(fsFor(spark, dir), new Path(base, rel))
      .map(p => relativize(base, p))
    // CAS loss rebases (the manifest is file-independent) unless a
    // concurrent commit added rows carrying deleted keys — the delete
    // never saw them, and equality semantics would swallow them
    // silently; or the manifest key column diverged
    commitRebasing(spark, dir, snap, "delete",
      filesOf = p => p.files,
      deletesOf = p => p.deletes ++ manifest,
      vet = (_, latest, inter) => {
        // the manifest binds the LOGICAL key name: a concurrent
        // RENAME/DROP of that column (legal while no manifest is
        // committed yet) would leave it dangling — abort, re-run
        // against the new name
        if (!declaredSchema(spark, dir, latest).fieldNames
            .contains(keyCol))
          throw new java.util.ConcurrentModificationException(
            s"delete at $dir cannot rebase: key column '$keyCol' was " +
              "renamed or dropped concurrently — re-run")
        deleteManifestFrame(spark, dir, latest).foreach { prior =>
          if (prior.columns.head != keyCol)
            throw new java.util.ConcurrentModificationException(
              s"delete at $dir cannot rebase: concurrent manifests " +
                s"key on '${prior.columns.head}', this one on " +
                s"'$keyCol' — fold (applyDeletesCommit) and re-run")
        }
        val addedAll = inter.flatMap(_.added)
        if (addedAll.nonEmpty) {
          val b = toLogicalView(readFiles(spark, dir, addedAll),
            latest)
          if (b.columns.contains(keyCol)) {
            val hit = b.select(col(keyCol))
              .join(broadcast(k), Seq(keyCol), "left_semi")
              .limit(1).count()
            if (hit > 0L)
              throw new java.util.ConcurrentModificationException(
                s"delete at $dir cannot rebase: a concurrent commit " +
                  s"added rows carrying deleted $keyCol keys — re-run")
          }
        }
      })
  }

  /** Fold the delete debt into the layout as a COMMIT: rewrite ONLY
    * the files that contain deleted keys (found by one column-pruned
    * (key, file) projection pass — blast radius is the files the
    * deletes actually live in, not their partitions), carry every
    * other file by reference, and commit with an empty manifest list.
    * Old versions still time-travel to their pre-delete state;
    * nothing is deleted from disk (vacuum ages out the replaced files
    * and, once unreferenced, the manifests). Returns
    * (rewrittenFiles, committedVersion) — version unchanged when no
    * manifests were outstanding.
    */
  def applyDeletesCommit(spark: SparkSession, dir: String): (Int, Long) = {
    val snap = snapshot(spark, dir, None)
    val keysOpt = deleteManifestFrame(spark, dir, snap)
    if (keysOpt.isEmpty) return (0, snap.version)
    val keys = keysOpt.get.localCheckpoint()
    val keyCol = keys.columns.head
    val base = dir.stripSuffix("/")
    // one column-pruned pass finds the victim FILES. The manifest key
    // is a LOGICAL name: discovery and rewrite both run on the logical
    // view (toLogicalView is a projection over the single parquet
    // source, so input_file_name() still binds) — on the raw physical
    // frame a post-rename key would miss, or match the wrong bytes.
    val raw = toLogicalView(readFiles(spark, dir, snap.files), snap)
    val victims = raw.select(col(keyCol), input_file_name().as("_f"))
      .join(broadcast(keys), Seq(keyCol), "left_semi")
      .select(col("_f")).distinct().collect()
      .map(r => relativize(base,
        new Path(new java.net.URI(r.getString(0))).toUri.getPath))
      .toSeq.sorted
    if (victims.isEmpty) // stale manifests (keys all gone): just clear
      return (0, commit(spark, dir, snap.version, "apply-deletes",
        snap.files, deletes = Nil, constraints = snap.constraints,
        schemaJson = snap.schemaJson, parentFiles = Some(snap.files),
        colMap = snap.colMap, droppedPhys = snap.droppedPhys))
    // rewrite victims per partition-segment group so survivors land
    // back under their part=value paths in the new batch; the
    // anti-join binds logical names, the written files physical ones
    val newFiles = rewriteVictims(spark, dir, snap.version + 1, victims,
      df => toPhysical(
        toLogicalView(df, snap)
          .join(broadcast(keys), Seq(keyCol), "left_anti"),
        snap.colMap))
    val kept = snap.files.filterNot(victims.contains)
    (victims.size, commit(spark, dir, snap.version, "apply-deletes",
      kept ++ newFiles, deletes = Nil, constraints = snap.constraints,
      schemaJson = snap.schemaJson, parentFiles = Some(snap.files),
      colMap = snap.colMap, droppedPhys = snap.droppedPhys))
  }

  /** Rewrite each victim file group through `transform` into a new
    * batch: survivors land back under their `part=value` paths
    * (partition columns dropped for the write — AFTER the transform,
    * which may reference them). Returns the new files' dir-relative
    * paths. Cost is one read+write of the victim files only.
    */
  private def rewriteVictims(spark: SparkSession, dir: String,
      nextVersion: Long, victims: Seq[String],
      transform: DataFrame => DataFrame): Seq[String] = {
    val base = dir.stripSuffix("/")
    val batchRel = f"data/b-$nextVersion%08d-" +
      java.util.UUID.randomUUID.toString.take(8)
    def groupOf(f: String): String = {
      val segs = f.split("/").dropRight(1)
      segs.dropWhile(s => !s.contains("=")).mkString("/")
    }
    val fs = fsFor(spark, dir)
    victims.groupBy(groupOf).toSeq.sortBy(_._1)
      .flatMap { case (g, fls) =>
        val out = s"$base/$batchRel" + (if (g.isEmpty) "" else s"/$g")
        val partColNames = g.split("/").filter(_.contains("="))
          .map(_.split("=", 2)(0))
        val src = transform(readFiles(spark, dir, fls))
        partColNames.foldLeft(src)(_ drop _)
          .write.mode("error").parquet(out)
        listParquet(fs, new Path(out)).map(p => relativize(base, p))
      }
  }

  /** The victim FILES of a row predicate: every pinned file holding
    * at least one LIVE row of `frame` matching `hit` — one
    * column-pruned pass, the blast-radius discovery shared by the SQL
    * DELETE/UPDATE doors. `live` (the manifest anti-join, when the
    * table is merge-on-read) applies AFTER the file tag is captured:
    * `input_file_name()` must bind while the plan still has ONE
    * source — above the join Spark refuses it outright.
    */
  private def victimFiles(spark: SparkSession, dir: String,
      frame: DataFrame, hit: Column,
      live: DataFrame => DataFrame = identity): Seq[String] = {
    val base = dir.stripSuffix("/")
    live(frame.withColumn("_f", input_file_name()))
      .filter(hit).select(col("_f"))
      .distinct().collect()
      .map(r => relativize(base,
        new Path(new java.net.URI(r.getString(0))).toUri.getPath))
      .toSeq.sorted
  }

  /** SQL `DELETE FROM t WHERE cond` as a copy-on-write COMMIT: one
    * column-pruned pass finds the files holding a matching LIVE row
    * (the blast radius — every other file carries by reference); each
    * victim is rewritten without its matching rows. Outstanding
    * equality-delete manifests carry forward unchanged (a raw copy of
    * a manifest-deleted row stays suppressed by the carried
    * manifests). SQL three-valued logic: a NULL predicate keeps the
    * row. Unlike [[deleteKeysCommit]] this is point-in-time — a later
    * append of an identical row lives. Returns
    * (deletedRows, version); a no-match DELETE commits nothing.
    * A commit-CAS loss AUTO-REBASES when no interleaved commit
    * rewrote a victim file (Delta's WriteSerializable reading —
    * concurrently-appended matches survive, exactly as the serial
    * DELETE-then-append order would leave them).
    */
  def deleteWhereCommit(spark: SparkSession, dir: String,
      cond: Column): (Long, Long) = {
    val snap = snapshot(spark, dir, None)
    // the predicate binds LOGICAL names; files carry physical ones
    val raw = toLogicalView(readFiles(spark, dir, snap.files), snap)
    def liveOf(df: DataFrame): DataFrame =
      deleteManifestFrame(spark, dir, snap).fold(df)(k =>
        df.join(broadcast(k), Seq(k.columns.head), "left_anti"))
    val hit = coalesce(cond, lit(false))
    val victims = victimFiles(spark, dir, raw, hit, liveOf)
    if (victims.isEmpty) return (0L, snap.version)
    // outstanding equality-delete manifests FOLD into the rewritten
    // victims (their deleted rows drop out of the new files); the
    // manifests still carry forward for the non-victim files, where
    // re-suppressing the now-absent keys is a no-op. The deleted-row
    // count RIDES the rewrite as an observed metric — the door costs
    // two jobs (discover + rewrite), never a separate count pass.
    val counts =
      scala.collection.mutable.Buffer.empty[org.apache.spark.sql.Observation]
    val newFiles = rewriteVictims(spark, dir, snap.version + 1, victims,
      df => {
        val o = org.apache.spark.sql.Observation()
        counts += o
        toPhysical(
          liveOf(toLogicalView(df, snap))
            .observe(o, count(when(hit, lit(1))).as("n"))
            .filter(!hit),
          snap.colMap)
      })
    val deleted = counts.map(_.get("n").asInstanceOf[Long]).sum
    val victimSet = victims.toSet
    // CAS loss AUTO-REBASES (Delta's WriteSerializable reading): the
    // rewrite stands as long as no interleaved commit REMOVED a
    // victim file (a concurrent DML/compaction rewrote the rows this
    // door rewrote — stale arithmetic, abort loudly). Concurrently
    // APPENDED rows matching the predicate survive — the serial order
    // "this DELETE, then the append". Interleaved equality-delete
    // manifests carry in the commit and apply on read; a
    // concurrently-added CHECK needs no re-gate here (survivors are a
    // subset of rows the constraint's own commit already validated).
    val v = commitRebasing(spark, dir, snap, "delete-where",
      filesOf = p => p.files.filterNot(victimSet) ++ newFiles,
      deletesOf = p => p.deletes,
      vet = (_, _, inter) => {
        inter.foreach { ic =>
          if (ic.removed.exists(victimSet))
            throw new java.util.ConcurrentModificationException(
              s"DELETE at $dir cannot rebase: concurrent commit " +
                s"v${ic.version} (${ic.action}) rewrote a file this " +
                "DELETE victimized — re-run")
        }
        // the rewrite FOLDED the pinned manifests into its victims; a
        // concurrent manifest REMOVAL (restore / apply-deletes) makes
        // that fold wrong even though no file diff shows it
        vetPinnedManifestsIntact(dir, "DELETE", snap, inter)
      })
    (deleted, v)
  }

  /** SQL `UPDATE t SET c = e, … WHERE cond` as a copy-on-write
    * COMMIT, same blast radius as [[deleteWhereCommit]]. All
    * assignments evaluate against the OLD row (one projection — a
    * `SET a = b, b = a` swap is a swap); values cast to the column's
    * existing type; CHECK constraints re-gate the rewritten batch.
    * Partition-column assignments (a row MOVE) are refused loudly.
    *
    * MERGE-ON-READ tables work out of the box: outstanding
    * equality-delete manifests FOLD into the victim rewrite (the
    * update only sees and only rewrites LIVE rows; a victim file's
    * manifest-deleted rows drop out of its replacement), while the
    * manifests carry forward for the non-victim files. The one
    * refusal left is an assignment to the manifest's key column —
    * the carried manifests would silently swallow an updated row
    * whose new key value is a deleted key.
    * Returns (updatedRows, version); no-match commits nothing.
    * A commit-CAS loss AUTO-REBASES like DELETE's, with two extra
    * guards: concurrent manifests keyed on a SET column abort, and
    * concurrently-added CHECK constraints re-gate the rewritten
    * files.
    */
  def updateWhereCommit(spark: SparkSession, dir: String,
      sets: Seq[(String, Column)], cond: Column): (Long, Long) = {
    val snap = snapshot(spark, dir, None)
    require(sets.nonEmpty, "UPDATE needs at least one assignment")
    val resolver = spark.sessionState.conf.resolver
    // duplicate detection with the SAME resolver the column matching
    // uses: under spark.sql.caseSensitive=true two columns differing
    // only in case are legitimately distinct targets
    for (i <- sets.indices; j <- i + 1 until sets.size)
      require(!resolver(sets(i)._1, sets(j)._1),
        s"duplicate assignment target '${sets(j)._1}'")
    // NESTED targets (`SET s.x = e`) rewrite into ONE whole-struct
    // assignment per head via withField — UpdateFields semantics:
    // null parents stay null, sibling fields carry, and every value
    // still evaluates against the OLD row (the one-projection
    // contract below). Ancestor/descendant or struct-and-leaf mixes
    // are ambiguous and refuse; paths through arrays/maps refuse in
    // resolvePath.
    val declU = declaredSchema(spark, dir, snap)
    val (nested0, topSets) = sets.partition(_._1.contains('.'))
    val nested = nested0.map { case (path0, e) =>
      // markers refuse here: `SET a.element.x = e` would assign into
      // every element — spell it as a whole-column transform instead
      val (path, ftype) = resolvePath(spark, declU, path0,
        "UPDATE SET", dir, allowMarkers = false)
      require(!topSets.exists(t => resolver(t._1, headSeg(path))),
        s"UPDATE SET assigns both '$path0' and its whole struct " +
          s"'${headSeg(path)}' — ambiguous")
      (path, ftype, e)
    }
    for (i <- nested.indices; j <- i + 1 until nested.size) {
      val a = nested(i)._1; val b = nested(j)._1
      require(a != b && !a.startsWith(b + ".") &&
          !b.startsWith(a + "."),
        s"UPDATE SET: conflicting nested targets '$a' and '$b'")
    }
    val sets1 = topSets ++ nested.groupBy(n => headSeg(n._1)).toSeq
      .sortBy(_._1).map { case (h, ns) =>
        val structExpr = ns.foldLeft(col(h)) {
          case (acc, (p, f, e)) =>
            acc.withField(
              p.split("\\.").drop(1)
                .map(sg => "`" + sg.replace("`", "``") + "`")
                .mkString("."),
              e.cast(f))
        }
        (h, structExpr)
      }
    // partition columns come from DIRECTORY segments only — a data
    // file whose basename contains '=' must not be misparsed as one
    val partCols = snap.files.flatMap(_.split("/").dropRight(1)
      .filter(_.contains("=")).map(_.split("=", 2)(0))).distinct
    sets1.foreach { case (c, _) =>
      require(!partCols.exists(resolver(_, c)),
        s"UPDATE SET on partition column '$c' is a row move between " +
          "partitions: use MERGE INTO")
    }
    // assignments and predicates bind LOGICAL names
    val raw = toLogicalView(readFiles(spark, dir, snap.files), snap)
    val schema = raw.schema
    sets1.foreach { case (c, _) =>
      require(schema.fieldNames.exists(resolver(_, c)),
        s"UPDATE SET: no column '$c' on $dir " +
          s"(have ${schema.fieldNames.mkString(",")})")
    }
    val manifestKeys = deleteManifestFrame(spark, dir, snap)
    manifestKeys.foreach { k =>
      val kc = k.columns.head
      sets1.foreach { case (c, _) =>
        require(!resolver(c, kc),
          s"UPDATE SET on '$c' while equality-delete manifests key " +
            s"on '$kc': a reassigned key could be silently swallowed " +
            "by the carried manifests — applyDeletesCommit first")
      }
    }
    def liveOf(df: DataFrame): DataFrame =
      manifestKeys.fold(df)(k =>
        df.join(broadcast(k), Seq(k.columns.head), "left_anti"))
    val hit = coalesce(cond, lit(false))
    val victims = victimFiles(spark, dir, raw, hit, liveOf)
    if (victims.isEmpty) return (0L, snap.version)
    // ONE projection over the LIVE rows: every assignment sees the
    // pre-update row; manifest-deleted rows drop out of the rewrite.
    // The updated-row count AND the CHECK-constraint gate both RIDE
    // the rewrite as observed metrics (two jobs total: discover +
    // rewrite; the pre-r15 door paid four). A violation is detected
    // after the batch write but BEFORE the commit — nothing becomes
    // visible, the written files are vacuum orphans (the same class
    // as a commit-CAS loss), and the error re-probes the victims
    // once for the first offending row (error path only).
    val projection: DataFrame => DataFrame = df => df.select(
      df.schema.fields.map { f =>
        sets1.find(s => resolver(s._1, f.name)) match {
          case Some((_, e)) =>
            when(hit, e.cast(f.dataType)).otherwise(col(f.name))
              .as(f.name)
          case None => col(f.name)
        }
      }.toIndexedSeq: _*)
    // hit counts observe the PRE-update rows; constraint violations
    // observe the POST-update rows (the gate's subject). Each
    // constraint carries BOTH its violation count and the first
    // offending row (as JSON) on the same pass — the abort message
    // costs no re-probe job (pre-r16 it re-read every victim file).
    val cViol = snap.constraints.zipWithIndex.flatMap {
      case ((_, sql), i) =>
        val ok = expr(sql)
        val bad = ok.isNull || !ok
        Seq(count(when(bad, lit(1))).as(s"c$i"),
          first(when(bad, to_json(struct(col("*")))),
            ignoreNulls = true).as(s"row$i"))
    }
    val obsN =
      scala.collection.mutable.Buffer.empty[org.apache.spark.sql.Observation]
    val obsC =
      scala.collection.mutable.Buffer.empty[org.apache.spark.sql.Observation]
    val newFiles = rewriteVictims(spark, dir, snap.version + 1, victims,
      df => {
        val oN = org.apache.spark.sql.Observation()
        obsN += oN
        val post = projection(
          liveOf(toLogicalView(df, snap))
            .observe(oN, count(when(hit, lit(1))).as("n")))
        val gated =
          if (cViol.isEmpty) post
          else {
            val oC = org.apache.spark.sql.Observation()
            obsC += oC
            post.observe(oC, cViol.head, cViol.tail: _*)
          }
        toPhysical(gated, snap.colMap)
      })
    val updated = obsN.map(_.get("n").asInstanceOf[Long]).sum
    snap.constraints.zipWithIndex.foreach { case ((name, sql), i) =>
      if (obsC.map(_.get(s"c$i").asInstanceOf[Long]).sum > 0L) {
        // the offending row rode the rewrite as an observation — the
        // abort costs ZERO extra jobs (the written files are vacuum
        // orphans, nothing committed)
        val offending = obsC.flatMap(o =>
          Option(o.get(s"row$i")).map(String.valueOf)).headOption
        throw new IllegalArgumentException(
          s"CHECK constraint $name ($sql) violated by the update " +
            s"batch for $dir; first offending row: " +
            offending.getOrElse("(unavailable)"))
      }
    }
    val victimSet = victims.toSet
    // CAS loss AUTO-REBASES like DELETE's (victim files untouched by
    // the interleave), with two extra guards: a concurrent manifest
    // keyed on a SET column could silently swallow reassigned rows
    // (the same refusal as at pin time), and a concurrently-added
    // CHECK constraint re-gates the rewritten files (their rows are
    // NEW values no prior validation has seen).
    val v = commitRebasing(spark, dir, snap, "update-where",
      filesOf = p => p.files.filterNot(victimSet) ++ newFiles,
      deletesOf = p => p.deletes,
      vet = (p, latest, inter) => {
        inter.foreach { ic =>
          if (ic.removed.exists(victimSet))
            throw new java.util.ConcurrentModificationException(
              s"UPDATE at $dir cannot rebase: concurrent commit " +
                s"v${ic.version} (${ic.action}) rewrote a file this " +
                "UPDATE victimized — re-run")
        }
        // the rewrite FOLDED the pinned manifests into its victims; a
        // concurrent manifest REMOVAL (restore / apply-deletes) makes
        // that fold wrong even though no file diff shows it
        vetPinnedManifestsIntact(dir, "UPDATE", snap, inter)
        deleteManifestFrame(spark, dir, latest).foreach { k =>
          val kc = k.columns.head
          sets1.foreach { case (c, _) =>
            if (resolver(c, kc))
              throw new java.util.ConcurrentModificationException(
                s"UPDATE at $dir cannot rebase: a concurrent commit " +
                  s"added equality-delete manifests keyed on '$kc', " +
                  "a SET target — re-run")
          }
        }
        val newCs = latest.constraints.filterNot(p.constraints.toSet)
        if (newCs.nonEmpty && newFiles.nonEmpty)
          enforceConstraints(
            toLogicalView(readFiles(spark, dir, newFiles), latest),
            newCs, dir,
            "update-where (rebase: constraint added concurrently)")
      })
    (updated, v)
  }

  /** EXACTLY-ONCE ingest: run the versioned merge only if no retained
    * version already carries `batchTag` as its action — the Delta
    * `txn`-appId idempotency idea on the version log. A streaming
    * `foreachBatch` sink that re-delivers a micro-batch after a
    * restart (at-least-once delivery) calls this with the epoch id;
    * the replay finds the tag and SKIPS, so the table sees each batch
    * exactly once without any sink-side state. Returns None on a
    * skipped replay, the merge result otherwise.
    *
    * The dedup record is the retained version files: retention
    * ([[vacuumVersions]] `keepLast`) must exceed the sink's maximum
    * redelivery window, the same contract every transaction log has.
    */
  def mergeBatchOnce(spark: SparkSession, dir: String, batchTag: String,
      updates: DataFrame, keyCol: String, partCol: String,
      deleteWhen: Option[Column] = None):
      Option[(MergeStats, DataFrame, Long)] = {
    requireTag(batchTag)
    if (tagApplied(spark, dir, batchTag)) None
    else Some(mergeByKeyCdc(spark, dir, updates, keyCol, partCol,
      deleteWhen, actionTag = batchTag))
  }

  /** Built-in door action names — never idempotency tags. */
  private val ReservedActions = Set("merge", "init", "append",
    "overwrite", "overwrite_where", "compact", "delete",
    "apply-deletes", "delete-where", "update-where")

  private def requireTag(batchTag: String): Unit =
    require(batchTag.nonEmpty && !ReservedActions.contains(batchTag),
      s"batchTag '$batchTag' must be a distinct idempotency token")

  /** One raw-JSON read per retained version — never a snapshot
    * resolution: the action tag lives in the version file itself,
    * and resolving FILE LISTS here would walk a delta chain per
    * version (O(versions²) small reads on a deep history) for
    * nothing.
    */
  private def tagApplied(spark: SparkSession, dir: String,
      batchTag: String): Boolean = {
    val fs = fsFor(spark, dir)
    listVersions(spark, dir).exists(v =>
      parseRaw(readJson(fs, versionFile(dir, v))).action == batchTag)
  }

  /** EXACTLY-ONCE append — the streaming-SINK twin of
    * [[mergeBatchOnce]]: append `df` only if no retained version
    * already carries `batchTag` as its action, so a redelivered
    * micro-batch (at-least-once delivery after a restart) finds the
    * tag and SKIPS whole. Bootstraps the table (init) when the log is
    * empty — still under the tag, so a redelivered FIRST batch skips
    * too. Returns None on a skipped replay, the committed version
    * otherwise. Retention ([[vacuumVersions]] `keepLast`) must exceed
    * the sink's maximum redelivery window — the contract every
    * transaction log has.
    */
  def appendOnce(spark: SparkSession, dir: String, batchTag: String,
      df: DataFrame, partitionBy: Option[String] = None): Option[Long] = {
    requireTag(batchTag)
    if (tagApplied(spark, dir, batchTag)) None
    else if (listVersions(spark, dir).isEmpty)
      Some(init(spark, dir, df, partitionBy, actionTag = batchTag))
    else Some(append(spark, dir, df, partitionBy, actionTag = batchTag))
  }

  /** EXACTLY-ONCE overwrite — [[appendOnce]]'s Complete-output-mode
    * twin: each tagged batch REPLACES the table's contents (older
    * versions still time-travel). Returns None on a skipped replay.
    */
  def overwriteOnce(spark: SparkSession, dir: String, batchTag: String,
      df: DataFrame, partitionBy: Option[String] = None): Option[Long] = {
    requireTag(batchTag)
    if (tagApplied(spark, dir, batchTag)) None
    else if (listVersions(spark, dir).isEmpty)
      Some(init(spark, dir, df, partitionBy, actionTag = batchTag))
    else Some(overwrite(spark, dir, df, partitionBy, actionTag = batchTag))
  }

  /** RESTORE the table to a retained older version as a NEW commit
    * (Delta's `RESTORE TABLE`): the next snapshot re-lists exactly
    * `toVersion`'s files, delete manifests, and constraints — a
    * metadata-only rollback (no file is copied, moved, or deleted;
    * the undone versions remain time-travelable until vacuum). Only a
    * RETAINED version can be restored: vacuum deletes the version
    * files of dropped versions first, so resolving the target fails
    * loudly before any file could be missing. Returns the new
    * version id.
    */
  def restoreCommit(spark: SparkSession, dir: String,
      toVersion: Long): Long = {
    val snap = snapshot(spark, dir, None)
    require(toVersion != snap.version,
      s"$dir is already at version $toVersion")
    val target = snapshot(spark, dir, Some(toVersion))
    // TBLPROPERTIES revert WITH the restore (Delta's RESTORE reverts
    // table configuration): a policy key set after the restore point
    // (graft.retentionHours, graft.acceptPhysicalNames) must not
    // silently survive the rollback — commit()'s inherit-from-parent
    // default would keep the current head's map.
    commit(spark, dir, snap.version, s"restore-v$toVersion",
      target.files, deletes = target.deletes,
      constraints = target.constraints,
      schemaJson = target.schemaJson, parentFiles = Some(snap.files),
      colMap = target.colMap, droppedPhys = target.droppedPhys,
      properties = Some(target.properties))
  }

  /** ZERO-COPY SHALLOW CLONE (local filesystems): materialize `dstDir`
    * as a fresh versioned table whose version 1 references the SAME
    * bytes as the pinned snapshot of `srcDir` — every live data file
    * and retained delete manifest is HARD-LINKED (no data copied, no
    * parquet decoded), then committed as the clone's `init`-equivalent
    * (`action = "clone"`). O(live files) metadata operations.
    *
    * Hard links (not path references) make the clone durable: POSIX
    * keeps the bytes while ANY name references them, so the source's
    * vacuum can never break the clone and the clone's vacuum can never
    * break the source — the cross-table GC hazard that path-based
    * shallow clones (Delta's documented caveat) carry simply does not
    * exist. Mutations diverge freely after the clone: both tables are
    * copy-on-write, so shared bytes split lazily as either side
    * rewrites them. The CDC sidecar is NOT cloned (the feed is the
    * source's history; the clone starts its own). On a non-local
    * filesystem this refuses loudly — clone by
    * `init(dst, read(src))` (a data copy) there.
    */
  def cloneTable(spark: SparkSession, srcDir: String, dstDir: String,
      versionAsOf: Option[Long] = None): Long = {
    val fs = fsFor(spark, srcDir)
    require("file" == fs.getUri.getScheme,
      "shallow clone hard-links files and needs a local filesystem; " +
        "use init(dst, read(src)) to clone by copy")
    require(listVersions(spark, dstDir).isEmpty,
      s"$dstDir already has a version log")
    val snap = snapshot(spark, srcDir, versionAsOf)
    val srcBase = new Path(srcDir.stripSuffix("/")).toUri.getPath
    val dstBase = new Path(dstDir.stripSuffix("/")).toUri.getPath
    (snap.files ++ snap.deletes).foreach { rel =>
      val from = java.nio.file.Paths.get(s"$srcBase/$rel")
      val to = java.nio.file.Paths.get(s"$dstBase/$rel")
      java.nio.file.Files.createDirectories(to.getParent)
      java.nio.file.Files.createLink(to, from)
    }
    // carry each batch's write-time stats sidecar with its files
    snap.files.map(batchRoot).distinct.foreach { broot =>
      val from = java.nio.file.Paths.get(
        s"$srcBase/$broot/${BatchStats.FileName}")
      val to = java.nio.file.Paths.get(
        s"$dstBase/$broot/${BatchStats.FileName}")
      if (java.nio.file.Files.exists(from) &&
          !java.nio.file.Files.exists(to))
        java.nio.file.Files.createLink(to, from)
    }
    commit(spark, dstDir, parent = 0L, action = "clone",
      files = snap.files, deletes = snap.deletes,
      constraints = snap.constraints, schemaJson = snap.schemaJson,
      colMap = snap.colMap, droppedPhys = snap.droppedPhys,
      // the clone inherits the source's TBLPROPERTIES (Delta's
      // CLONE semantics — retention/checkpoint policy travels with
      // the table, not the operator)
      properties = Some(snap.properties))
  }

  /** COMPACTION as a commit: bin-pack each over-fragmented partition
    * group of the latest snapshot into `ceil(bytes/targetBytes)` new
    * files and commit the result as a new version — the versioned twin
    * of [[Compact.compactPartitioned]], with the contract only this
    * layer can offer: readers (of the old OR the new version) are
    * never disturbed, because nothing is deleted or renamed — the new
    * version simply lists the repacked files, and the old fragments
    * age out via [[vacuumVersions]] once no retained snapshot
    * references them.
    *
    * Grouping is by the file's partition path segment ("" for flat
    * layouts), so each `part=value` group compacts independently and a
    * group already at or under its target file count is CARRIED BY
    * REFERENCE — byte-identical, not rewritten. Cost is one read+write
    * of the over-fragmented groups only. Returns
    * (filesBefore, filesAfter, committedVersion) — version is
    * unchanged when nothing needed rewriting.
    *
    * Layout note: the repack is a round-robin `repartition`, so a
    * z-ordered group loses its clustering — restore it by committing
    * `ZOrder.zOrdered(read(dir), …)` as an overwrite and rebuilding
    * the stat sidecars, the same discipline the in-place
    * [[Compact]] documents.
    */
  def compactSnapshot(spark: SparkSession, dir: String,
      targetBytes: Long = 128L << 20): (Int, Int, Long) = {
    require(targetBytes > 0, "targetBytes must be positive")
    val snap = snapshot(spark, dir, None)
    val base = dir.stripSuffix("/")
    val fs = fsFor(spark, dir)
    // dir-relative partition segment chain directly above the file
    // (everything after the batch dir), e.g. "lang=fr" or ""
    def groupOf(f: String): String = {
      val segs = f.split("/").dropRight(1) // drop the file name
      segs.dropWhile(s => !s.contains("=")).mkString("/")
    }
    val sized = snap.files.map { f =>
      (f, groupOf(f), fs.getFileStatus(new Path(base, f)).getLen)
    }
    val groups = sized.groupBy(_._2)
    val plans = groups.map { case (g, fsz) =>
      val bytes = fsz.map(_._3).sum
      val nOut = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
      (g, fsz.map(_._1), nOut)
    }
    val (rewrite, carry) = plans.partition { case (_, fls, nOut) =>
      fls.length > nOut
    }
    if (rewrite.isEmpty)
      return (snap.files.length, snap.files.length, snap.version)
    val batchRel = f"data/b-${snap.version + 1}%08d-" +
      java.util.UUID.randomUUID.toString.take(8)
    // the SNAPSHOT's full (evolution-widened) schema: a pre-evolution
    // group rewritten as-is would re-commit schema-narrow files into
    // the newest batch, and a reader deriving the table schema from
    // the newest batch would silently lose the widened columns — the
    // same alignment mergeByKeyCdc applies to its touched reads
    val tableSchema = readFiles(spark, dir, snap.files).schema
    val newFiles = rewrite.toSeq.sortBy(_._1).flatMap {
      case (g, fls, nOut) =>
        val src = readFiles(spark, dir, fls)
        // partition values are carried by the TARGET PATH, not the
        // data: drop the path-derived columns before writing into the
        // group's part=value subdirectory
        val partColNames = g.split("/").filter(_.contains("="))
          .map(_.split("=", 2)(0))
        val out = s"$base/$batchRel" + (if (g.isEmpty) "" else s"/$g")
        // a repack is the natural moment to SHED retired physical
        // columns (DROP COLUMN's doc: later rewrites physically shed
        // them — the DML doors already do via their logical round
        // trip); carrying dead bytes forward forever would defeat the
        // point of dropping at 100 TB
        val dataFields = tableSchema.fields
          .filterNot(f => partColNames.contains(f.name) ||
            snap.droppedPhys.contains(f.name))
        // NESTED drops shed too: the repacked struct loses the
        // retired field (dropFields is a no-op on batches written
        // after the drop, whose structs never carried it)
        val nestedDrops = snap.droppedPhys.filter(_.contains('.'))
        val srcData = partColNames.foldLeft(src)(_ drop _)
        dataFields.foldLeft(srcData) { (df, f) =>
            if (df.columns.contains(f.name)) df
            else df.withColumn(f.name, lit(null).cast(f.dataType))
          }.select(dataFields.map { f =>
            val drops = nestedDrops
              .filter(d => headSeg(d) == f.name)
              .map(_.drop(f.name.length + 1))
            if (drops.isEmpty) col(f.name)
            else relocated(f.name, f.dataType, drops, Nil).as(f.name)
          }.toIndexedSeq: _*)
          .repartition(nOut)
          .write.mode("error").parquet(out)
        listParquet(fs, new Path(out)).map(p => relativize(base, p))
    }
    val kept = carry.toSeq.flatMap(_._2)
    // equality-delete manifests are key lists, not positions — a
    // repack cannot invalidate them; carry them unchanged
    val version = commit(spark, dir, snap.version, "compact",
      kept ++ newFiles, deletes = snap.deletes,
      constraints = snap.constraints, schemaJson = snap.schemaJson,
      parentFiles = Some(snap.files),
      colMap = snap.colMap, droppedPhys = snap.droppedPhys)
    (snap.files.length, kept.size + newFiles.size, version)
  }

  /** Delete version files beyond the newest `keepLast` and every data
    * file no RETAINED version references, provided it is older than
    * `ttlMs` (an in-flight commit's fresh files are never victims).
    * This is the only deletion in the versioned protocol — readers of
    * retained snapshots are safe by construction, and `ttlMs` should
    * exceed the longest query a reader of a DROPPED snapshot may
    * still be running. Returns the deleted paths.
    */
  def vacuumVersions(spark: SparkSession, dir: String, keepLast: Int,
      ttlMs: Long): Seq[String] =
    vacuumVersions(spark, dir, keepLast, ttlMs, None)

  /** As above, with a CONSUMER-LAG floor: every version >=
    * `retainFromVersion` is retained regardless of `keepLast` — set
    * it to the slowest streaming consumer's checkpointed offset
    * (graft-versions / graft-cdc offsets ARE version ids), and vacuum
    * can never delete state that consumer still needs: resuming at
    * offset k reads versions k+1.. whose CDC synthesis needs k as the
    * diff parent. Without the floor the contract is documentation
    * only — a lagging consumer on a dropped version fails LOUDLY
    * (version resolution error), never silently skips.
    */
  def vacuumVersions(spark: SparkSession, dir: String, keepLast: Int,
      ttlMs: Long, retainFromVersion: Option[Long]): Seq[String] =
    vacuumVersions(spark, dir, keepLast, ttlMs, retainFromVersion,
      dryRun = false)

  /** As above with `dryRun = true`: return what WOULD be deleted and
    * touch nothing — no file deletion, no covering checkpoint. The
    * preview uses the same listing and retention math as the real
    * sweep, so it is exact up to concurrent commits.
    */
  def vacuumVersions(spark: SparkSession, dir: String, keepLast: Int,
      ttlMs: Long, retainFromVersion: Option[Long],
      dryRun: Boolean): Seq[String] = {
    require(keepLast >= 1, "must retain at least the latest version")
    val fs = fsFor(spark, dir)
    val base = dir.stripSuffix("/")
    val versions = listVersions(spark, dir)
    if (versions.isEmpty) return Nil
    val retained = (versions.takeRight(keepLast) ++
      retainFromVersion.fold(Seq.empty[Long])(floor =>
        versions.filter(_ >= floor))).distinct.sorted
    val retainedSnaps = retained.map(v => snapshot(spark, dir, Some(v)))
    val referenced = retainedSnaps.flatMap(_.files).toSet ++
      retainedSnaps.flatMap(_.deletes)
    // a batch's write-time stats sidecar lives exactly as long as any
    // retained snapshot references a file of its batch
    val liveStatsRoots = retainedSnaps.flatMap(_.files).map(batchRoot)
      .toSet
    val cutoff = System.currentTimeMillis() - ttlMs
    val victims = Seq.newBuilder[String]
    // data files AND equality-delete manifests sweep by the same
    // rule: unreferenced by every retained snapshot, and aged
    for (rootName <- Seq("data", "deletes")) {
      val root = new Path(base, rootName)
      if (fs.exists(root)) {
        val it = fs.listFiles(root, true)
        while (it.hasNext) {
          val f = it.next()
          val rel = relativize(base, f.getPath.toUri.getPath)
          if (f.isFile && !referenced.contains(rel) &&
              f.getModificationTime < cutoff &&
              !(f.getPath.getName == BatchStats.FileName &&
                liveStatsRoots.contains(batchRoot(rel))) &&
              (rel.endsWith(".parquet") || rel.endsWith(".crc") ||
                f.getPath.getName.startsWith("_"))) {
            if (!dryRun) fs.delete(f.getPath, false)
            victims += rel
          }
        }
        // drop directories the file sweep emptied (orphan shells);
        // the dry run SIMULATES the same rule (every contained file
        // is a victim) so the preview equals the real sweep exactly
        if (dryRun) {
          val flagged = victims.result().toSet
          fs.listStatus(root).foreach { s =>
            if (s.isDirectory) {
              val it2 = fs.listFiles(s.getPath, true)
              var allVictims = true
              var any = false
              while (it2.hasNext) {
                any = true
                val rel2 = relativize(base, it2.next().getPath.toUri.getPath)
                if (!flagged.contains(rel2)) allVictims = false
              }
              if (!any || allVictims)
                victims += relativize(base, s.getPath.toUri.getPath)
            }
          }
        } else fs.listStatus(root).foreach { s =>
          if (s.isDirectory && !fs.listFiles(s.getPath, true).hasNext) {
            fs.delete(s.getPath, true)
            victims += relativize(base, s.getPath.toUri.getPath)
          }
        }
      }
    }
    // Before dropping any version file: make the oldest retained
    // version self-sufficient. Its on-disk form may be a delta whose
    // resolution chain walks through versions about to be deleted —
    // publish a full checkpoint at it first (retained versions are a
    // contiguous suffix, so every newer retained walk stops there).
    // This write is REQUIRED here, unlike the best-effort periodic
    // one: refuse to prune rather than strand a retained version.
    if (!dryRun) retained.headOption.foreach { oldest =>
      val raw = parseRaw(readJson(fs, versionFile(dir, oldest)))
      if (raw.full.isEmpty && readCheckpoint(fs, dir, oldest).isEmpty) {
        val files =
          retainedSnaps.find(_.version == oldest).get.files
        val json = s"""{"version":$oldest,"files":[""" +
          files.map(f => "\"" + jsonEsc(f) + "\"").mkString(",") + "]}"
        require(atomicCreate(fs, versionsRoot(dir),
            checkpointFile(dir, oldest), json) ||
            readCheckpoint(fs, dir, oldest).isDefined,
          s"cannot publish covering checkpoint c-$oldest at $dir; " +
            "refusing to prune version files")
      }
    }
    versions.filterNot(retained.toSet).foreach { v =>
      if (dryRun) {
        victims += f"_versions/v-$v%08d.json"
        if (fs.exists(checkpointFile(dir, v)))
          victims += f"_versions/c-$v%08d.json"
      } else {
        fs.delete(new Path(versionsRoot(dir), f"v-$v%08d.json"), false)
        victims += f"_versions/v-$v%08d.json"
        if (fs.delete(checkpointFile(dir, v), false))
          victims += f"_versions/c-$v%08d.json"
      }
    }
    victims.result().sorted
  }

  // ---- snapshot (de)serialization: one tiny JSON object ------------

  /** Render a version file. With `delta` = Some((adds, removes)) the
    * file carries the parent-relative diff instead of the full list
    * (O(change) on disk); everything else — feed pointer, delete
    * manifests, constraints, schema — is small and stays full in
    * every file so a single read answers everything but the file
    * list.
    */
  private def renderSnapshot(s: TableSnapshot,
      delta: Option[(Seq[String], Seq[String])] = None,
      tsMillis: Option[Long] = None): String = {
    def esc(x: String) = jsonEsc(x)
    def arr(xs: Seq[String]) =
      xs.map(f => "\"" + esc(f) + "\"").mkString(",")
    s"""{"version":${s.version},"parent":${s.parent},""" +
      s""""action":"${esc(s.action)}",""" +
      tsMillis.fold("")(t => s""""ts":$t,""") +
      s.feed.fold("")(f => s""""feed":"${esc(f)}",""") +
      (if (s.deletes.isEmpty) ""
       else s""""deletes":[${arr(s.deletes)}],""") +
      (if (s.constraints.isEmpty) ""
       else s.constraints.map { case (n, e) =>
         "\"" + esc(n) + "\":\"" + esc(e) + "\""
       }.mkString("\"constraints\":{", ",", "},")) +
      (if (s.colMap.isEmpty) ""
       else s.colMap.map { case (l, p) =>
         "\"" + esc(l) + "\":\"" + esc(p) + "\""
       }.mkString("\"colmap\":{", ",", "},")) +
      (if (s.droppedPhys.isEmpty) ""
       else s""""droppedPhys":[${arr(s.droppedPhys)}],""") +
      (if (s.properties.isEmpty) ""
       else s.properties.map { case (k, v) =>
         "\"" + esc(k) + "\":\"" + esc(v) + "\""
       }.mkString("\"props\":{", ",", "},")) +
      // StructType.json is already a JSON object: splice it raw
      s.schemaJson.fold("")(j => s""""schema":$j,""") +
      (delta match {
        case Some((a, r)) =>
          s""""adds":[${arr(a)}],"removes":[${arr(r)}]}"""
        case None => s""""files":[${arr(s.files)}]}"""
      })
  }

  /** The on-disk form of one version file: `full` present for a
    * full-form commit (also every pre-r14 file), else the
    * parent-relative `adds`/`removes` diff.
    */
  private case class RawVersion(version: Long, parent: Long,
      action: String, full: Option[Seq[String]], adds: Seq[String],
      removes: Seq[String], feed: Option[String], deletes: Seq[String],
      constraints: Seq[(String, String)], schemaJson: Option[String],
      tsMillis: Option[Long], colMap: Seq[(String, String)],
      droppedPhys: Seq[String], props: Seq[(String, String)])

  private def parseRaw(json: String): RawVersion = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(json)
    def strings(field: String): Seq[String] =
      Option(node.get(field)).toSeq
        .flatMap(_.elements().asScala.map(_.asText).toSeq)
    RawVersion(
      node.get("version").asLong,
      node.get("parent").asLong,
      node.get("action").asText,
      if (node.has("files")) Some(strings("files")) else None,
      strings("adds"),
      strings("removes"),
      Option(node.get("feed")).map(_.asText), // absent pre-r13: None
      strings("deletes"), // absent pre-r13: Nil
      Option(node.get("constraints")).toSeq // absent pre-r13: Nil
        .flatMap(_.fields().asScala.map(e =>
          (e.getKey, e.getValue.asText)).toSeq),
      Option(node.get("schema")).map(_.toString), // absent pre-r14
      Option(node.get("ts")).map(_.asLong), // absent pre-r15: mtime
      Option(node.get("colmap")).toSeq // absent pre-r15: identity
        .flatMap(_.fields().asScala.map(e =>
          (e.getKey, e.getValue.asText)).toSeq),
      strings("droppedPhys"), // absent pre-r15: Nil
      Option(node.get("props")).toSeq // absent pre-r17: Nil
        .flatMap(_.fields().asScala.map(e =>
          (e.getKey, e.getValue.asText)).toSeq))
  }
}
