package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{KeyBloom, Manifest, VersionLog, ZOrder}

/** The `graft` table format: version-pinned file lists, manifest box
  * pruning and bloom point pruning consulted at PLANNING time through
  * the FileIndex — asserted on the executed scan's numFiles metric,
  * so "pruned" means the files were never opened, not filtered later.
  */
class GraftTableSourceSpec extends AnyFunSuite with StreamDrain {
  import TestSpark._

  /** numFiles actually read by the (executed) parquet scans of df.
    * Executes df ITSELF (collect): `df.count()` would build a separate
    * QueryExecution and leave df's own plan metrics at zero — every
    * assertion here would then trivially pass.
    */
  private def scanNumFiles(df: DataFrame): Long = {
    df.collect()
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case s: FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(scans)
    }
    scans(df.queryExecution.executedPlan)
      .map(_.metrics("numFiles").value).sum
  }

  /** Versioned flat z-ordered table: 4096 rows over a 64x64 grid,
    * 16 tight-boxed files, manifest on (x, y), bloom on id.
    */
  private def zTable(): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("gtable").toString
    val df = (0L until 4096L).map(i => (i, i % 64L, i / 64L))
      .toDF("id", "x", "y")
    VersionLog.init(spark, dir, ZOrder.zOrdered(df, $"x", $"y", 16))
    val live = VersionLog.read(spark, dir)
    Manifest.buildManifestFor(spark, dir, live, Seq("x", "y"))
    // ids are z-scattered across files by construction (the layout is
    // sorted by (x,y) interleave, not id) -> blooms earn their keep
    KeyBloom.buildKeyBloomFor(spark, dir, live, "id")
    dir
  }

  test("graft format: full scan equals the snapshot; a 2-D box opens " +
      "a pruned file subset at plan time; results are exact") {
    import spark.implicits._
    val dir = zTable()
    val t = spark.read.format("graft").load(dir)
    assert(t.count() === 4096L)
    val box = t.filter($"x".between(3, 9) && $"y".between(3, 9))
    val expected = (0L until 4096L)
      .map(i => (i, i % 64L, i / 64L))
      .filter(r => r._2 >= 3 && r._2 <= 9 && r._3 >= 3 && r._3 <= 9).toSet
    assert(box.as[(Long, Long, Long)].collect().toSet === expected)
    val boxFiles = scanNumFiles(box)
    assert(boxFiles < 16,
      s"2-D box must open a file subset, opened $boxFiles/16")
    assert(scanNumFiles(t.filter($"x" === 3 && $"y" === 3)) <= 2)
  }

  test("graft format: bloom point lookup opens only candidate files; " +
      "absent keys open ~none; missing bloomKey option skips pruning") {
    import spark.implicits._
    val dir = zTable()
    val t = spark.read.format("graft").option("bloomKey", "id").load(dir)
    val hit = t.filter($"id" === 1234L)
    assert(hit.as[(Long, Long, Long)].collect().toSeq ===
      Seq((1234L, 1234L % 64, 1234L / 64)))
    assert(scanNumFiles(hit) < 16)
    // IN-list probes prune too
    val in = t.filter($"id".isin(7L, 1234L, 999999L))
    assert(in.select($"id").as[Long].collect().toSet === Set(7L, 1234L))
    assert(scanNumFiles(in) < 16)
    // no bloomKey option -> same rows, all candidate stats kept
    val plain = spark.read.format("graft").load(dir)
      .filter($"id" === 1234L)
    assert(plain.count() === 1L)
  }

  test("graft format: numeric partition values surface as LONG and " +
      "range predicates prune partitions numerically") {
    import spark.implicits._
    val dir = Files.createTempDirectory("gnum").toString
    VersionLog.init(spark, dir,
      (0L until 40L).map(i => (i, i % 4L)).toDF("id", "bucket"),
      partitionBy = Some("bucket"))
    val t = spark.read.format("graft").load(dir)
    assert(t.schema("bucket").dataType ===
      org.apache.spark.sql.types.LongType)
    val hi = t.filter($"bucket" >= 2L)
    assert(hi.select($"id").as[Long].collect().toSet ===
      (0L until 40L).filter(i => i % 4 >= 2).toSet)
    val total = VersionLog.snapshot(spark, dir, None).files.size
    assert(scanNumFiles(hi) < total,
      "numeric range predicate must prune partition files")
  }

  test("write-time stats cover ONE-LEVEL struct leaves: a range " +
      "predicate on meta.ts box-prunes batches at plan time (executed " +
      "numFiles), results exact; a same-named top-level column is " +
      "never confused with the leaf") {
    import spark.implicits._
    val dir = Files.createTempDirectory("gnested").toString
    // 4 range-disjoint batches over the struct leaf meta.ts; the
    // TOP-LEVEL ts deliberately runs the OPPOSITE direction so a
    // mis-bound box (leaf predicate against the top-level column's
    // stats) would prune the wrong batches and break the row check
    def batch(lo: Long, hi: Long) =
      (lo until hi).map(i => (i, 1000L - i)).toDF("id", "ts")
        .select($"id", $"ts",
          struct(($"id").as("ts"), lit("x").as("tag")).as("meta"))
        .coalesce(1)
    VersionLog.init(spark, dir, batch(0, 100))
    VersionLog.append(spark, dir, batch(100, 200))
    VersionLog.append(spark, dir, batch(200, 300))
    VersionLog.append(spark, dir, batch(300, 400))
    val t = spark.read.format("graft").load(dir)
    assert(t.count() === 400L)
    // leaf predicate: meta.ts in [250, 260) lives in batch 3 only
    val leaf = t.filter($"meta.ts" >= 250L && $"meta.ts" < 260L)
      .select($"id")
    assert(leaf.as[Long].collect().toSet ===
      (250L until 260L).toSet)
    assert(scanNumFiles(leaf) === 1L,
      "nested-leaf range must open exactly the covering batch")
    // top-level ts still prunes on ITS OWN stats (runs 600..1000 in
    // batch 1): ts >= 901 selects batch 1 only
    val topSel = t.filter($"ts" >= 901L).select($"id")
    assert(topSel.as[Long].collect().toSet === (0L until 100L).toSet)
    assert(scanNumFiles(topSel) === 1L)
  }

  test("write-time stats cover struct leaves at DEPTH 2: a range " +
      "predicate on meta.inner.ts box-prunes batches at plan time " +
      "(executed numFiles), results exact") {
    import spark.implicits._
    val dir = Files.createTempDirectory("gnested2").toString
    def batch(lo: Long, hi: Long) =
      (lo until hi).map(i => (i, 1000L - i)).toDF("id", "ts")
        .select($"id", $"ts",
          struct(
            struct(($"id").as("ts"), lit(1L).as("z")).as("inner"),
            lit("x").as("tag")).as("meta"))
        .coalesce(1)
    VersionLog.init(spark, dir, batch(0, 100))
    VersionLog.append(spark, dir, batch(100, 200))
    VersionLog.append(spark, dir, batch(200, 300))
    VersionLog.append(spark, dir, batch(300, 400))
    val t = spark.read.format("graft").load(dir)
    val leaf = t.filter($"meta.inner.ts" >= 250L &&
        $"meta.inner.ts" < 260L).select($"id")
    assert(leaf.as[Long].collect().toSet === (250L until 260L).toSet)
    assert(scanNumFiles(leaf) === 1L,
      "a depth-2 struct-leaf range must open exactly the covering " +
        "batch — the canonical doc schema nests two levels in places")
  }

  test("IN-list stats pruning: an IN probe over range-disjoint " +
      "batches opens only the batches whose box covers a listed " +
      "value (executed numFiles); an all-miss IN opens nothing") {
    import spark.implicits._
    val dir = Files.createTempDirectory("ginlist").toString
    def batch(lo: Long, hi: Long) =
      (lo until hi).map(i => (i, s"r$i")).toDF("id", "v").coalesce(1)
    VersionLog.init(spark, dir, batch(0, 100))
    VersionLog.append(spark, dir, batch(100, 200))
    VersionLog.append(spark, dir, batch(200, 300))
    VersionLog.append(spark, dir, batch(300, 400))
    val t = spark.read.format("graft").load(dir)
    // values land in batches 1 and 3 only — 2 of 4 files open
    val probe = t.filter($"id".isin(5L, 250L, 251L)).select($"id")
    assert(probe.as[Long].collect().toSet === Set(5L, 250L, 251L))
    assert(scanNumFiles(probe) === 2L,
      "IN must prune to the batches whose boxes cover a listed " +
        "value — pre-r16 the list scanned every file (bloom-only)")
    // every value outside every box: zero files open, empty result
    val miss = t.filter($"id".isin(9999L, 8888L)).select($"id")
    assert(miss.as[Long].collect().isEmpty)
    assert(scanNumFiles(miss) === 0L)
    // a 12-value list crosses the optimizer's In->InSet conversion
    // threshold (10) — the InSet form must prune identically
    val big = (0L until 11L).map(_ + 250L) :+ 5L
    val inset = t.filter($"id".isin(big: _*)).select($"id")
    assert(inset.as[Long].collect().toSet === big.toSet)
    assert(scanNumFiles(inset) === 2L,
      "InSet (the >10-value IN form) must box-prune like In")
  }

  test("date -> timestamp_ntz widening: metadata-only; day-tagged " +
      "stat boxes AND date-era explicit manifests scale to micros at " +
      "plan time, so a timestamp probe still prunes exactly " +
      "(executed numFiles)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("gdatewiden").toString
    def batch(lo: Int, hi: Int) =
      (lo until hi).map(i => (i.toLong,
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(
          19000L + i)))).toDF("id", "d").coalesce(1)
    VersionLog.init(spark, dir, batch(0, 100))
    VersionLog.append(spark, dir, batch(100, 200))
    VersionLog.append(spark, dir, batch(200, 300))
    VersionLog.append(spark, dir, batch(300, 400))
    // a date-era explicit manifest too: its DateType bounds must
    // scale the same way (the manifest's own schema is the vintage)
    graft.io.Manifest.buildManifestFor(spark, dir,
      VersionLog.read(spark, dir), Seq("d"))
    VersionLog.alterColumnTypeCommit(spark, dir, "d",
      org.apache.spark.sql.types.TimestampNTZType)
    val t = spark.read.format("graft").load(dir)
    assert(t.schema("d").dataType ===
      org.apache.spark.sql.types.TimestampNTZType)
    def ntz(day: Long) = java.time.LocalDateTime.of(
      java.time.LocalDate.ofEpochDay(day), java.time.LocalTime.MIDNIGHT)
    val sel = t.filter($"d" >= lit(ntz(19250L)) &&
        $"d" < lit(ntz(19260L))).select($"id")
    assert(sel.as[Long].collect().toSet === (250L until 260L).toSet)
    assert(scanNumFiles(sel) === 1L,
      "a timestamp probe over day-era boxes must open exactly the " +
        "covering batch — an unscaled day bound would either " +
        "over-prune (wrongness) or never skip")
    // a genuine timestamp append unions and prunes on its own micros
    VersionLog.append(spark, dir,
      Seq((400L, ntz(20000L).plusHours(6))).toDF("id", "d").coalesce(1))
    val sel2 = VersionLog.read(spark, dir)
      .filter($"d" >= lit(ntz(20000L))).select($"id")
    assert(sel2.as[Long].collect().toSet === Set(400L))
  }

  test("COLUMN MAPPING keeps plan-time pruning: after RENAME, a range " +
      "predicate on the NEW logical name still box-prunes batches " +
      "(the pushed filter reaches the physical stats keys through " +
      "the read projection's aliases) — executed numFiles") {
    import spark.implicits._
    val dir = Files.createTempDirectory("gcolmap").toString
    def batch(lo: Long, hi: Long) =
      (lo until hi).map(i => (i, s"r$i")).toDF("id", "v").coalesce(1)
    VersionLog.init(spark, dir, batch(0, 100))
    VersionLog.append(spark, dir, batch(100, 200))
    VersionLog.append(spark, dir, batch(200, 300))
    VersionLog.append(spark, dir, batch(300, 400))
    VersionLog.alterRenameColumnCommit(spark, dir, "id", "key")
    val t = VersionLog.read(spark, dir)
    assert(t.columns.toSeq === Seq("key", "v"))
    val sel = t.filter($"key" >= 250L && $"key" < 260L).select($"key")
    assert(sel.as[Long].collect().toSet === (250L until 260L).toSet)
    assert(scanNumFiles(sel) === 1L,
      "the renamed column's range must still open exactly the " +
        "covering batch — pruning lost through the mapping would be " +
        "a full scan at 100TB")
  }

  test("explicit manifest rebuilt AFTER a rename (logical keys) still " +
      "prunes physical-name probes; a stale manifest key can never " +
      "misbind a re-added fresh column's probe") {
    import spark.implicits._
    val dir = Files.createTempDirectory("gmapman").toString
    def batch(lo: Long, hi: Long) =
      (lo until hi).map(i => (i, s"r$i")).toDF("id", "v").coalesce(1)
    VersionLog.init(spark, dir, batch(0, 100))
    VersionLog.append(spark, dir, batch(100, 200))
    VersionLog.append(spark, dir, batch(200, 300))
    VersionLog.append(spark, dir, batch(300, 400))
    VersionLog.alterRenameColumnCommit(spark, dir, "id", "key")
    // the user rebuilds the manifest over the LOGICAL view: keys are
    // min_key/max_key while pushed filters bind the physical 'id' —
    // the alias fallback must connect them (explicit entries mask the
    // write-time auto stats per file, so without it nothing prunes)
    graft.io.Manifest.buildManifestFor(spark, dir,
      VersionLog.read(spark, dir), Seq("key"))
    val t = VersionLog.read(spark, dir)
    val sel = t.filter($"key" >= 250L && $"key" < 260L).select($"key")
    assert(sel.as[Long].collect().toSet === (250L until 260L).toSet)
    assert(scanNumFiles(sel) === 1L,
      "a post-rename manifest rebuild must keep pruning")
    // safety direction: re-add the retired name and probe it — the
    // stale manifest's 'id'-era boxes (now logical `key`) must NEVER
    // serve the fresh column's probe (it would over-prune: the fresh
    // rows live in a batch whose old-id box does not cover them)
    VersionLog.alterRenameColumnCommit(spark, dir, "key", "id2")
    VersionLog.alterAddColumnCommit(spark, dir, "id",
      org.apache.spark.sql.types.LongType)
    VersionLog.append(spark, dir,
      Seq((400L, "fresh", 5L)).toDF("id2", "v", "id").coalesce(1))
    val fresh = VersionLog.read(spark, dir)
      .filter($"id" === 5L).select($"id2")
    assert(fresh.as[Long].collect().toSet === Set(400L),
      "the fresh column's probe must find its row — a stale-box " +
        "misbind would have pruned its file")
  }

  test("version-tail stream: commits surface exactly once with their " +
      "added files; uncommitted data stays invisible; batch form agrees") {
    import spark.implicits._
    val dir = Files.createTempDirectory("gtail").toString
    VersionLog.init(spark, dir,
      Seq((1L, "a"), (2L, "b")).toDF("k", "p"), partitionBy = Some("p"))
    val q = spark.readStream.format("graft-versions").load(dir)
      .writeStream.format("memory").queryName("gtail")
      .outputMode("append").start()
    try {
      drain(q)
      def got() = spark.table("gtail")
        .select($"version", $"action", $"file")
        .as[(Long, String, String)].collect().toSeq
      val afterInit = got()
      assert(afterInit.nonEmpty && afterInit.forall(_._1 == 1L))
      assert(afterInit.forall(_._2 == "init"))
      // an uncommitted orphan batch dir must NOT stream
      Seq((99L, "z")).toDF("k", "p")
        .write.partitionBy("p").parquet(s"$dir/data/b-00000099-orphan")
      drain(q)
      assert(got() === afterInit, "uncommitted files must not stream")
      // an append commit streams exactly its added files, once
      VersionLog.append(spark, dir, Seq((3L, "a")).toDF("k", "p"),
        partitionBy = Some("p"))
      drain(q)
      val afterAppend = got()
      val newRows = afterAppend.filterNot(afterInit.contains)
      assert(newRows.nonEmpty && newRows.forall(r =>
        r._1 == 2L && r._2 == "append"))
      assert(newRows.map(_._3).toSet ===
        (VersionLog.snapshot(spark, dir, Some(2L)).files.toSet --
          VersionLog.snapshot(spark, dir, Some(1L)).files.toSet))
      // the consumer pattern: reading the appended files' ROWS via the
      // ordinary batch reader yields exactly the appended batch
      val appended = spark.read.option("basePath",
          newRows.map(_._3).head.split("/").take(2).mkString(s"$dir/", "/", ""))
        .parquet(newRows.map(r => s"$dir/${r._3}"): _*)
      assert(appended.select($"k").as[Long].collect().toSeq === Seq(3L))
      // batch form of the source replays the same retained tail
      val batchTail = spark.read.format("graft-versions").load(dir)
        .select($"version", $"action", $"file")
        .as[(Long, String, String)].collect().toSeq
      assert(batchTail.toSet === afterAppend.toSet)
    } finally q.stop()
  }

  test("graft-versions rate limiting: a 4-commit backlog with " +
      "maxBatchesPerTrigger=1 drains one version per micro-batch, " +
      "exactly-once across a mid-drain restart") {
    import spark.implicits._
    val dir = Files.createTempDirectory("gtail-rate").toString
    val ckpt = Files.createTempDirectory("gtail-rate-ckpt").toString
    VersionLog.init(spark, dir, Seq((1L, "a")).toDF("k", "p"),
      partitionBy = Some("p"))
    VersionLog.append(spark, dir, Seq((2L, "a")).toDF("k", "p"),
      partitionBy = Some("p"))
    val seen = new scala.collection.mutable.ArrayBuffer[Seq[Long]]
    def drainBacklog(): Unit = {
      val q = spark.readStream.format("graft-versions")
        .option("maxBatchesPerTrigger", "1").load(dir)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val vs = b.select($"version").as[Long].collect()
            .distinct.sorted.toSeq
          seen.synchronized { if (vs.nonEmpty) seen += vs }
          ()
        }
        .option("checkpointLocation", ckpt).outputMode("append").start()
      try drain(q) finally q.stop()
    }
    // a 2-commit backlog drains as one VERSION per micro-batch
    drainBacklog()
    assert(seen.synchronized(seen.toSeq) === Seq(Seq(1L), Seq(2L)),
      s"got ${seen.toSeq}")
    // two more commits while the consumer is down; the restart
    // resumes at version 3 from the checkpoint — nothing replayed,
    // nothing skipped, still one version per batch
    VersionLog.append(spark, dir, Seq((3L, "a")).toDF("k", "p"),
      partitionBy = Some("p"))
    VersionLog.append(spark, dir, Seq((4L, "a")).toDF("k", "p"),
      partitionBy = Some("p"))
    drainBacklog()
    assert(seen.synchronized(seen.toSeq) ===
      Seq(Seq(1L), Seq(2L), Seq(3L), Seq(4L)), s"got ${seen.toSeq}")
  }

  test("graft-cdc on a VERSIONED table covers EVERY write door " +
      "(_feed_batch = version id): init/append inserts, merge images, " +
      "equality-delete and replaceWhere images synthesized; " +
      "exactly-once across a checkpointed restart; rate-limited " +
      "catch-up; staged batches invisible") {
    import spark.implicits._
    val dir = Files.createTempDirectory("gcdc").toString
    val ckpt = Files.createTempDirectory("gcdc-ckpt").toString
    // v1 init (synthesized inserts), v2 merge (explicit images)
    VersionLog.init(spark, dir,
      Seq((1L, "one", "a"), (2L, "two", "a"), (3L, "three", "b"))
        .toDF("k", "v", "p"), partitionBy = Some("p"))
    VersionLog.mergeByKeyCdc(spark, dir,
      Seq((2L, "two2", "a", false), (4L, "four", "b", false),
        (3L, "x", "zz", true)).toDF("k", "v", "p", "_del"),
      "k", "p", deleteWhen = Some($"_del"))
    // memory sink cannot recover a checkpoint; collect via
    // foreachBatch (the recovery-capable sink shape consumers use)
    val sunk =
      new scala.collection.mutable.ArrayBuffer[(String, Long, Long)]
    val nonEmptyBatches = new java.util.concurrent.atomic.AtomicInteger
    def startStream() = spark.readStream
      .format("graft-cdc")
      .option("maxBatchesPerTrigger", "1") // one COMMIT per trigger
      .load(dir)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = b.select($"_op", $"k", $"_feed_batch")
          .as[(String, Long, Long)].collect()
        if (rows.nonEmpty) nonEmptyBatches.incrementAndGet()
        sunk.synchronized { sunk ++= rows }
        ()
      }
      .option("checkpointLocation", ckpt).outputMode("append").start()
    val q1 = startStream()
    try {
      drain(q1)
      assert(sunk.synchronized(sunk.toSet) === Set(
        ("insert", 1L, 1L), ("insert", 2L, 1L), ("insert", 3L, 1L),
        ("update_pre", 2L, 2L), ("update_post", 2L, 2L),
        ("insert", 4L, 2L), ("delete", 3L, 2L)))
      // rate limit: the 2-commit backlog drained as 2 micro-batches
      assert(nonEmptyBatches.get() === 2,
        s"maxBatchesPerTrigger=1 must drain one commit per trigger, " +
          s"got ${nonEmptyBatches.get()} non-empty batches")
    } finally q1.stop()
    sunk.synchronized(sunk.clear())
    // while no stream runs: v3 merge, v4 append, v5 equality delete
    VersionLog.mergeByKeyCdc(spark, dir,
      Seq((4L, "four2", "b")).toDF("k", "v", "p"), "k", "p")
    VersionLog.append(spark, dir, Seq((5L, "five", "c")).toDF("k", "v", "p"),
      partitionBy = Some("p"))
    VersionLog.deleteKeysCommit(spark, dir, Seq(1L).toDF("k"), "k")
    // a torn staging dir is invisible to every consumer
    Seq((99L, "junk", "zz", "insert")).toDF("k", "v", "p", "_op")
      .write.parquet(s"$dir._cdc/.staging-batch-00099")
    // restart from the SAME checkpoint: exactly the unconsumed
    // versions, with the append's and delete's images SYNTHESIZED
    val q2 = startStream()
    try {
      drain(q2)
      val replay = sunk.synchronized(sunk.toSet)
      assert(replay === Set(
        ("update_pre", 4L, 3L), ("update_post", 4L, 3L),
        ("insert", 5L, 4L), ("delete", 1L, 5L)),
        s"restart must deliver ONLY versions 3..5, got $replay")
    } finally q2.stop()
    // batch form: the whole feed (staged junk excluded), version-keyed
    val all = spark.read.format("graft-cdc").load(dir)
    assert(all.filter($"k" === 99L).count() === 0L)
    assert(all.count() === 11L)
    // "changes since version 3": correct rows, and the pushed
    // predicate prunes the version RANGE at plan time (conservative
    // bounds, Spark re-applies the filter exactly above)
    val inc = all.filter($"_feed_batch" >= 3L)
    assert(inc.select($"_op", $"k").as[(String, Long)].collect().toSet
      === Set(("update_pre", 4L), ("update_post", 4L),
        ("insert", 5L), ("delete", 1L)))
    import org.apache.spark.sql.sources
    assert(graft.sources.GraftCdcSource.versionBounds(Array(
      sources.GreaterThanOrEqual("_feed_batch", 3L))) === ((2L, Long.MaxValue)))
    assert(graft.sources.GraftCdcSource.versionBounds(Array(
      sources.EqualTo("_feed_batch", 4L))) === ((3L, 4L)))
    assert(graft.sources.GraftCdcSource.versionBounds(Array(
      sources.GreaterThan("_feed_batch", 2L),
      sources.LessThanOrEqual("_feed_batch", 4L))) === ((2L, 4L)))
    // the replay CONVERGES to the live table: last-op-wins per key
    val opRank = when($"_op".isin("insert", "update_post"), 2)
      .when($"_op" === "delete", 1).otherwise(lit(0))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"k").orderBy($"_feed_batch".desc, opRank.desc)
    val mirrored = all.withColumn("_rn", row_number().over(w))
      .filter($"_rn" === 1 && $"_op".isin("insert", "update_post"))
      .select($"k", $"v", $"p").as[(Long, String, String)]
      .collect().toSet
    val live = VersionLog.read(spark, dir)
      .select($"k", $"v", $"p").as[(Long, String, String)]
      .collect().toSet
    assert(mirrored === live)
  }

  test("graft-cdc replays ACROSS column-mapping changes: images of " +
      "versions older than a RENAME flow under the current name, a " +
      "DROP projects the column away, a checkpointed stream crosses " +
      "the boundary, and the mirror still converges") {
    import spark.implicits._
    val dir = Files.createTempDirectory("gcdc-ren").toString
    val ckpt = Files.createTempDirectory("gcdc-ren-ckpt").toString
    VersionLog.init(spark, dir,
      Seq((1L, "one", "w1", "a"), (2L, "two", "w2", "a"),
        (3L, "three", "w3", "b")).toDF("k", "v", "w", "p"),
      partitionBy = Some("p")) // v1
    VersionLog.mergeByKeyCdc(spark, dir,
      Seq((2L, "two2", "w2", "a", false),
        (4L, "four", "w4", "b", false),
        (3L, "x", "x", "zz", true)).toDF("k", "v", "w", "p", "_del"),
      "k", "p", deleteWhen = Some($"_del")) // v2 (explicit images)
    val sunk =
      new scala.collection.mutable.ArrayBuffer[(String, Long, Long)]
    def startStream() = spark.readStream.format("graft-cdc").load(dir)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = b.select($"_op", $"k", $"_feed_batch")
          .as[(String, Long, Long)].collect()
        sunk.synchronized { sunk ++= rows }
        ()
      }
      .option("checkpointLocation", ckpt).outputMode("append").start()
    val q1 = startStream()
    try {
      drain(q1)
      assert(sunk.synchronized(sunk.size) === 7) // 3 init + 4 merge
    } finally q1.stop()
    sunk.synchronized(sunk.clear())
    // the mapping boundary lands while no stream runs: a RENAME, an
    // append under the NEW name, and a DROP — the pre-r16 feed
    // refused every replay crossing this point, bricking the mirror
    VersionLog.alterRenameColumnCommit(spark, dir, "v", "label") // v3
    VersionLog.append(spark, dir,
      Seq((5L, "five", "w5", "c")).toDF("k", "label", "w", "p"),
      partitionBy = Some("p")) // v4
    VersionLog.alterDropColumnCommit(spark, dir, "w") // v5
    // restart on the SAME checkpoint: v3..v5 replay (the two
    // metadata-only commits contribute nothing), current names
    val q2 = startStream()
    try {
      drain(q2)
      assert(sunk.synchronized(sunk.toSet) ===
        Set(("insert", 5L, 4L)),
        s"restart must deliver only v4's insert, got " +
          sunk.synchronized(sunk.toSet))
    } finally q2.stop()
    // batch form: the whole feed under the CURRENT schema — the
    // pre-rename images flow under 'label', 'w' is gone entirely
    val all = spark.read.format("graft-cdc").load(dir)
    assert(!all.columns.contains("v") && !all.columns.contains("w"),
      all.columns.mkString(","))
    assert(all.filter($"_feed_batch" === 1L).select($"k", $"label")
      .as[(Long, String)].collect().toSet ===
      Set((1L, "one"), (2L, "two"), (3L, "three")))
    assert(all.filter($"_feed_batch" === 2L)
      .select($"_op", $"k", $"label").as[(String, Long, String)]
      .collect().toSet ===
      Set(("update_pre", 2L, "two"), ("update_post", 2L, "two2"),
        ("insert", 4L, "four"), ("delete", 3L, "three")))
    // last-op-wins mirror converges to the live table across the
    // boundary
    val opRank = when($"_op".isin("insert", "update_post"), 2)
      .when($"_op" === "delete", 1).otherwise(lit(0))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"k").orderBy($"_feed_batch".desc, opRank.desc)
    val mirrored = all.withColumn("_rn", row_number().over(w))
      .filter($"_rn" === 1 && $"_op".isin("insert", "update_post"))
      .select($"k", $"label", $"p").as[(Long, String, String)]
      .collect().toSet
    val live = VersionLog.read(spark, dir)
      .select($"k", $"label", $"p").as[(Long, String, String)]
      .collect().toSet
    assert(mirrored === live)
    assert(live === Set((1L, "one", "a"), (2L, "two2", "a"),
      (4L, "four", "b"), (5L, "five", "c")))
  }

  test("graft-cdc replays across a TYPE WIDENING: pre-widen int " +
      "images surface under the wide feed schema, batch and stream") {
    import spark.implicits._
    val dir = Files.createTempDirectory("gcdc-widen").toString
    VersionLog.init(spark, dir,
      Seq((1, 10), (2, 20)).toDF("k", "n")) // v1 (int, int)
    VersionLog.alterColumnTypeCommit(spark, dir, "n",
      org.apache.spark.sql.types.LongType) // v2 metadata-only
    VersionLog.append(spark, dir,
      Seq((3, 5000000000L)).toDF("k", "n")) // v3 long
    val all = spark.read.format("graft-cdc").load(dir)
    assert(all.schema("n").dataType ===
      org.apache.spark.sql.types.LongType)
    assert(all.select($"_op", $"k", $"n", $"_feed_batch")
      .as[(String, Int, Long, Long)].collect().toSet ===
      Set(("insert", 1, 10L, 1L), ("insert", 2, 20L, 1L),
        ("insert", 3, 5000000000L, 3L)))
    val sunk = new scala.collection.mutable.ArrayBuffer[(Int, Long)]
    val q = spark.readStream.format("graft-cdc").load(dir)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        sunk.synchronized {
          sunk ++= b.select($"k", $"n").as[(Int, Long)].collect()
        }
        ()
      }
      .option("checkpointLocation",
        Files.createTempDirectory("gcdc-widen-ck").toString)
      .outputMode("append").start()
    try {
      drain(q)
      assert(sunk.synchronized(sunk.toSet) ===
        Set((1, 10L), (2, 20L), (3, 5000000000L)))
    } finally q.stop()
  }

  test("graft-cdc startingVersion (batch + stream) skips older " +
      "commits; format(graft) timestampAsOf resolves against " +
      "in-commit instants") {
    import spark.implicits._
    val dir = Files.createTempDirectory("gcdc-sv").toString
    VersionLog.init(spark, dir,
      Seq((1L, "one", "a")).toDF("k", "v", "p"),
      partitionBy = Some("p")) // v1
    VersionLog.append(spark, dir,
      Seq((2L, "two", "b")).toDF("k", "v", "p"), Some("p")) // v2
    VersionLog.append(spark, dir,
      Seq((3L, "three", "c")).toDF("k", "v", "p"), Some("p")) // v3
    // batch: only v3's images plan
    val since3 = spark.read.format("graft-cdc")
      .option("startingVersion", "3").load(dir)
    assert(since3.select($"_op", $"k", $"_feed_batch")
      .as[(String, Long, Long)].collect().toSet ===
      Set(("insert", 3L, 3L)))
    // stream: a fresh checkpoint starts at v3, replays nothing older
    val sunk =
      new scala.collection.mutable.ArrayBuffer[(String, Long, Long)]
    val q = spark.readStream.format("graft-cdc")
      .option("startingVersion", "3").load(dir)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        sunk.synchronized {
          sunk ++= b.select($"_op", $"k", $"_feed_batch")
            .as[(String, Long, Long)].collect()
        }
        ()
      }
      .option("checkpointLocation",
        Files.createTempDirectory("gcdc-sv-ck").toString)
      .outputMode("append").start()
    try {
      drain(q)
      assert(sunk.synchronized(sunk.toSet) ===
        Set(("insert", 3L, 3L)),
        s"stream must start at v3, got ${sunk.synchronized(sunk.toSet)}")
    } finally q.stop()
    // unversioned tables refuse the option loudly
    val flat = Files.createTempDirectory("gcdc-flat").toString
    Seq((1L, "x")).toDF("k", "v").write.parquet(flat + "/data")
    intercept[IllegalArgumentException] {
      spark.read.format("graft-cdc")
        .option("startingVersion", "2").load(flat + "/data").collect()
    }
    // timestampAsOf on the format reader: v2's in-commit instant
    // reads v2's state; both options together refuse
    val ts = VersionLog.commitTimestamps(spark, dir).toMap
    val atV2 = spark.read.format("graft")
      .option("timestampAsOf", ts(2L).toString).load(dir)
    assert(atV2.select($"k").as[Long].collect().toSet === Set(1L, 2L))
    intercept[IllegalArgumentException] {
      spark.read.format("graft").option("timestampAsOf", "123")
        .option("versionAsOf", "1").load(dir)
    }
  }

  test("graft-cdc synthesis: replaceWhere emits delete+insert images; " +
      "restore un-deleting keys emits resurrect inserts; compaction " +
      "emits nothing; a manifest+file mixed restore refuses loudly") {
    import spark.implicits._
    val dir = Files.createTempDirectory("gcdc-syn").toString
    VersionLog.init(spark, dir,
      Seq((1L, "one", "a"), (2L, "two", "a"), (3L, "three", "b"))
        .toDF("k", "v", "p"), partitionBy = Some("p"))
    // v2: replace partition a with a transformed slice
    VersionLog.overwritePartitions(spark, dir,
      Seq((1L, "one2", "a")).toDF("k", "v", "p"), "p", Seq("a"))
    def changes(v: Long) = graft.sources.GraftCdcSource
      .changesForVersion(spark, dir, v)
      .select($"_op", $"k", $"v").as[(String, Long, String)]
      .collect().toSet
    assert(changes(2L) === Set(("delete", 1L, "one"),
      ("delete", 2L, "two"), ("insert", 1L, "one2")))
    // v3: equality delete; v4: restore to v2 resurrects it
    VersionLog.deleteKeysCommit(spark, dir, Seq(3L).toDF("k"), "k")
    assert(changes(3L) === Set(("delete", 3L, "three")))
    VersionLog.restoreCommit(spark, dir, 2L)
    assert(changes(4L) === Set(("insert", 3L, "three")))
    // v5: append a second p=b file so compaction has real repacking;
    // v6: the repack is row-preserving -> EMPTY changes
    VersionLog.append(spark, dir, Seq((5L, "five", "b")).toDF("k", "v", "p"),
      partitionBy = Some("p"))
    assert(changes(5L) === Set(("insert", 5L, "five")))
    val (_, _, v6) = VersionLog.compactSnapshot(spark, dir,
      targetBytes = 1L << 30)
    assert(v6 === 6L, "compaction must have committed a new version")
    assert(changes(6L) === Set.empty)
    // a restore that RE-ADDS delete manifests while changing files
    // cannot be synthesized row-exactly: loud refusal, never a
    // silent gap (snapshot-level consumers still replay across it)
    val dir2 = Files.createTempDirectory("gcdc-mix").toString
    VersionLog.init(spark, dir2,
      Seq((1L, "one", "a"), (2L, "two", "b")).toDF("k", "v", "p"),
      partitionBy = Some("p"))
    VersionLog.deleteKeysCommit(spark, dir2, Seq(1L).toDF("k"), "k")
    VersionLog.applyDeletesCommit(spark, dir2) // v3: fold, drop manifest
    VersionLog.restoreCommit(spark, dir2, 2L)  // v4: files + manifests
    val e = intercept[IllegalStateException] {
      graft.sources.GraftCdcSource.changesForVersion(spark, dir2, 4L)
        .collect()
    }
    assert(e.getMessage.contains("cannot synthesize"), e.getMessage)
  }

  test("graft streaming SINK: every epoch is one tagged exactly-once " +
      "commit (a redelivered epoch skips whole); Complete mode " +
      "replaces per trigger with history intact") {
    import spark.implicits._
    val srcDir = Files.createTempDirectory("gsink-src").toString
    val dir = Files.createTempDirectory("gsink").toString + "/t"
    val ckpt = Files.createTempDirectory("gsink-ckpt").toString
    Seq((1L, "a"), (2L, "b")).toDF("k", "p")
      .coalesce(1).write.mode("append").parquet(srcDir)
    val q = spark.readStream.schema("k LONG, p STRING").parquet(srcDir)
      .writeStream.format("graft")
      .partitionBy("p")
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .start(dir)
    try {
      drain(q)
      // epoch 0 bootstrapped version 1 under its txn tag
      assert(VersionLog.listVersions(spark, dir) === Seq(1L))
      val snap1 = VersionLog.snapshot(spark, dir, None)
      assert(snap1.action === s"$ckpt#0")
      assert(snap1.files.forall(_.contains("/p=")),
        "partitionBy must reach the sink's layout")
      Seq((3L, "a")).toDF("k", "p")
        .coalesce(1).write.mode("append").parquet(srcDir)
      drain(q)
      assert(VersionLog.listVersions(spark, dir) === Seq(1L, 2L))
      assert(VersionLog.snapshot(spark, dir, None).action === s"$ckpt#1")
      assert(VersionLog.read(spark, dir).select($"k")
        .as[Long].collect().toSet === Set(1L, 2L, 3L))
    } finally q.stop()
    // REDELIVERY: the same epoch arriving again (restart replay)
    // finds its tag in the log and skips whole — even with new data
    val sink = new graft.sources.GraftTableSource().createSink(
      spark.sqlContext, Map("path" -> dir, "txnApp" -> ckpt),
      Seq("p"), org.apache.spark.sql.streaming.OutputMode.Append())
    sink.addBatch(1, Seq((99L, "z")).toDF("k", "p"))
    assert(VersionLog.listVersions(spark, dir) === Seq(1L, 2L))
    assert(VersionLog.read(spark, dir).filter($"k" === 99L).count() === 0L)
    // a NEW epoch commits
    sink.addBatch(2, Seq((4L, "c")).toDF("k", "p"))
    assert(VersionLog.read(spark, dir).select($"k")
      .as[Long].collect().toSet === Set(1L, 2L, 3L, 4L))
    // Complete mode: each epoch REPLACES; older versions still travel
    val dir2 = Files.createTempDirectory("gsink2").toString + "/t"
    val sink2 = new graft.sources.GraftTableSource().createSink(
      spark.sqlContext, Map("path" -> dir2, "txnApp" -> "agg"),
      Seq.empty, org.apache.spark.sql.streaming.OutputMode.Complete())
    sink2.addBatch(0, Seq(("a", 1L)).toDF("p", "n"))
    sink2.addBatch(1, Seq(("a", 2L), ("b", 1L)).toDF("p", "n"))
    assert(VersionLog.read(spark, dir2).as[(String, Long)]
      .collect().toSet === Set(("a", 2L), ("b", 1L)))
    assert(VersionLog.read(spark, dir2, Some(1L)).as[(String, Long)]
      .collect().toSet === Set(("a", 1L)))
  }

  test("Update-mode graft sink: each epoch is one exactly-once CDC " +
      "merge by mergeKey (redelivered epochs skip); deleteWhen " +
      "tombstones delete") {
    import spark.implicits._
    val dir = Files.createTempDirectory("gsink-up").toString + "/t"
    VersionLog.init(spark, dir,
      Seq((1L, "one", "a"), (2L, "two", "b")).toDF("k", "v", "p"),
      partitionBy = Some("p"))
    def rows() = VersionLog.read(spark, dir)
      .select($"k", $"v", $"p").as[(Long, String, String)]
      .collect().toSet
    val sink = new graft.sources.GraftTableSource().createSink(
      spark.sqlContext,
      Map("path" -> dir, "txnApp" -> "up", "mergeKey" -> "k"),
      Seq("p"), org.apache.spark.sql.streaming.OutputMode.Update())
    sink.addBatch(0, Seq((2L, "two2", "b"), (3L, "three", "a"))
      .toDF("k", "v", "p"))
    assert(rows() === Set((1L, "one", "a"), (2L, "two2", "b"),
      (3L, "three", "a")))
    // the SAME epoch redelivered (restart replay): skipped whole
    val vs = VersionLog.listVersions(spark, dir)
    sink.addBatch(0, Seq((9L, "nine", "z")).toDF("k", "v", "p"))
    assert(VersionLog.listVersions(spark, dir) === vs)
    assert(rows().forall(_._1 != 9L))
    // deleteWhen: tombstone rows delete, others upsert
    val sink2 = new graft.sources.GraftTableSource().createSink(
      spark.sqlContext,
      Map("path" -> dir, "txnApp" -> "up", "mergeKey" -> "k",
        "deleteWhen" -> "_del"),
      Seq("p"), org.apache.spark.sql.streaming.OutputMode.Update())
    sink2.addBatch(1, Seq((1L, "x", "a", true), (4L, "four", "b", false))
      .toDF("k", "v", "p", "_del"))
    assert(rows() === Set((2L, "two2", "b"), (3L, "three", "a"),
      (4L, "four", "b")))
  }

  test("graft format write path: every SaveMode is a version-log " +
      "commit — append/overwrite stay time-travelable") {
    import spark.implicits._
    import org.apache.spark.sql.SaveMode
    val dir = Files.createTempDirectory("gwrite").toString
    def w(df: org.apache.spark.sql.DataFrame, m: SaveMode) =
      df.write.format("graft").option("partitionBy", "p")
        .mode(m).save(dir)
    w(Seq((1L, "a"), (2L, "b")).toDF("k", "p"), SaveMode.ErrorIfExists)
    assert(VersionLog.listVersions(spark, dir) === Seq(1L))
    intercept[IllegalArgumentException] {
      w(Seq((9L, "z")).toDF("k", "p"), SaveMode.ErrorIfExists)
    }
    w(Seq((3L, "a")).toDF("k", "p"), SaveMode.Append)
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.select($"k").as[Long].collect().toSet
    val t = spark.read.format("graft").load(dir)
    assert(keys(t) === Set(1L, 2L, 3L))
    assert(t.schema.fieldNames.toSeq === Seq("k", "p"))
    // Ignore: no-op on an existing table
    w(Seq((99L, "q")).toDF("k", "p"), SaveMode.Ignore)
    assert(keys(spark.read.format("graft").load(dir)) === Set(1L, 2L, 3L))
    // Overwrite: new snapshot lists only the new batch; v2 and v1
    // remain readable (nothing was deleted)
    w(Seq((7L, "c")).toDF("k", "p"), SaveMode.Overwrite)
    assert(keys(spark.read.format("graft").load(dir)) === Set(7L))
    assert(keys(spark.read.format("graft").option("versionAsOf", "2")
      .load(dir)) === Set(1L, 2L, 3L))
    assert(keys(spark.read.format("graft").option("versionAsOf", "1")
      .load(dir)) === Set(1L, 2L))
    assert(VersionLog.snapshot(spark, dir, None).action === "overwrite")
  }

  test("graft format: versionAsOf time travel and snapshot pinning " +
      "(a relation resolved before a commit keeps reading its version)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("gver").toString
    VersionLog.init(spark, dir,
      Seq((1L, "one", "a"), (2L, "two", "b")).toDF("k", "v", "p"),
      partitionBy = Some("p"))
    val pinned = spark.read.format("graft").load(dir)
    val snap = VersionLog.snapshot(spark, dir, None)
    // an append commit lands version 2
    val newFiles = {
      Seq((3L, "three", "a")).toDF("k", "v", "p")
        .write.partitionBy("p").parquet(s"$dir/data/b-00000002-append")
      val root = new java.io.File(s"$dir/data/b-00000002-append")
      root.listFiles.filter(_.isDirectory).flatMap(_.listFiles)
        .filter(_.getName.endsWith(".parquet"))
        .map(f => s"data/b-00000002-append/${f.getParentFile.getName}/${f.getName}")
        .toSeq
    }
    VersionLog.commit(spark, dir, snap.version, "append",
      snap.files ++ newFiles)
    // partition column surfaces from the path segments (string-typed)
    assert(pinned.schema.fieldNames.toSeq === Seq("k", "v", "p"))
    assert(pinned.select($"k").as[Long].collect().toSet === Set(1L, 2L),
      "a relation resolved before the commit must keep its snapshot")
    val latest = spark.read.format("graft").load(dir)
    assert(latest.select($"k").as[Long].collect().toSet ===
      Set(1L, 2L, 3L))
    val v1 = spark.read.format("graft").option("versionAsOf", "1").load(dir)
    assert(v1.select($"k").as[Long].collect().toSet === Set(1L, 2L))
    // partition predicates prune to the partition's files AND are
    // correctly applied (the planner does not re-filter above the scan)
    val aOnly = latest.filter($"p" === "a")
    assert(aOnly.select($"k").as[Long].collect().toSet === Set(1L, 3L))
    val total = VersionLog.snapshot(spark, dir, None).files.size
    assert(scanNumFiles(aOnly) < total)
  }

  test("manifest pruning is TYPED: string and date bounds prune files " +
      "at plan time (binary string order, epoch-day dates); exact") {
    import spark.implicits._
    val dir = Files.createTempDirectory("gtyped").toString
    val rows = (0 until 2048).map { i =>
      (i.toLong, f"name-$i%05d",
        java.sql.Date.valueOf(
          java.time.LocalDate.of(2026, 1, 1).plusDays(i / 128)))
    }
    // range-clustered layout: each of the 16 files is a tight box on
    // (id, s, d) — the typed manifest should open only the overlaps
    VersionLog.init(spark, dir, rows.toDF("id", "s", "d")
      .repartitionByRange(16, $"id").sortWithinPartitions($"id"))
    Manifest.buildManifestFor(spark, dir,
      VersionLog.read(spark, dir), Seq("s", "d"))
    val t = spark.read.format("graft").load(dir)
    val total = VersionLog.snapshot(spark, dir, None).files.size
    // string range
    val q1 = t.filter($"s" >= "name-00100" && $"s" <= "name-00200")
    assert(q1.select($"id").as[Long].collect().toSet ===
      (100L to 200L).toSet)
    assert(scanNumFiles(q1) < total,
      s"string bounds must prune (opened ${scanNumFiles(q1)}/$total)")
    // date equality (day 5 holds ids 512..639)
    val q2 = t.filter($"d" === java.sql.Date.valueOf("2026-01-05"))
    assert(q2.select($"id").as[Long].collect().toSet ===
      (512L until 640L).toSet)
    assert(scanNumFiles(q2) < total,
      s"date equality must prune (opened ${scanNumFiles(q2)}/$total)")
    // a disjoint string box opens ~nothing and returns nothing
    val q3 = t.filter($"s" > "zzz")
    assert(q3.count() === 0L)
    assert(scanNumFiles(q3) === 0L)
  }

  test("manifest over a double column containing NaN/Infinity plans " +
      "without error (non-finite bounds keep the file, results exact)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("gnan").toString
    // one file whose max(score) is NaN (NaN sorts greatest in Spark),
    // one with an infinite bound, one finite
    val rows = Seq((1L, 0.5), (2L, Double.NaN), (3L, 1.5),
      (4L, Double.PositiveInfinity), (5L, 10.0), (6L, 11.0))
    VersionLog.init(spark, dir,
      rows.toDF("id", "score").repartitionByRange(3, $"id"))
    Manifest.buildManifestFor(spark, dir,
      VersionLog.read(spark, dir), Seq("score"))
    val t = spark.read.format("graft").load(dir)
    // planning with a range predicate over the NaN-bounded manifest
    // must not throw (pre-fix: BigDecimal(NaN) crashed loadManifest)
    assert(t.filter($"score" >= 10.0 && $"score" <= 11.0)
      .select($"id").as[Long].collect().toSet === Set(5L, 6L))
    assert(t.filter($"score" <= 1.0).select($"id").as[Long]
      .collect().toSet === Set(1L))
    assert(t.count() === 6L)
  }

  test("Update-mode graft sink BOOTSTRAPS on an empty directory: the " +
      "first epoch inits the table (tombstones dropped), later epochs " +
      "merge; the bootstrap epoch is exactly-once too") {
    import spark.implicits._
    val dir = Files.createTempDirectory("gsink-boot").toString + "/t"
    val sink = new graft.sources.GraftTableSource().createSink(
      spark.sqlContext,
      Map("path" -> dir, "txnApp" -> "boot", "mergeKey" -> "k",
        "deleteWhen" -> "_del", "partitionBy" -> "p"),
      Seq.empty, org.apache.spark.sql.streaming.OutputMode.Update())
    // first epoch of a fresh upsert stream: upserts + a no-op delete
    sink.addBatch(0, Seq((1L, "one", "a", false), (2L, "two", "b", false),
      (9L, "gone", "a", true)).toDF("k", "v", "p", "_del"))
    assert(VersionLog.listVersions(spark, dir) === Seq(1L))
    def rows() = VersionLog.read(spark, dir)
      .select($"k", $"v", $"p").as[(Long, String, String)]
      .collect().toSet
    assert(rows() === Set((1L, "one", "a"), (2L, "two", "b")))
    // the bootstrap epoch redelivered: skipped whole (tag found)
    sink.addBatch(0, Seq((7L, "seven", "z", false))
      .toDF("k", "v", "p", "_del"))
    assert(VersionLog.listVersions(spark, dir) === Seq(1L))
    // a later epoch merges normally against the bootstrapped table
    sink.addBatch(1, Seq((2L, "two2", "b", false), (1L, "x", "a", true))
      .toDF("k", "v", "p", "_del"))
    assert(rows() === Set((2L, "two2", "b")))
  }

  test("graft format: a snapshot file missing on disk fails LOUDLY " +
      "at planning — never silently missing rows") {
    import spark.implicits._
    val dir = Files.createTempDirectory("gmiss").toString
    VersionLog.init(spark, dir,
      Seq((1L, "one", "a"), (2L, "two", "b")).toDF("k", "v", "p"),
      partitionBy = Some("p"))
    // externally damage the table: delete one snapshot-listed file
    val victim = VersionLog.snapshot(spark, dir, None).files.head
    assert(new java.io.File(s"$dir/$victim").delete())
    val e = intercept[java.io.FileNotFoundException] {
      spark.read.format("graft").load(dir).count()
    }
    assert(e.getMessage.contains(victim.split("/").last), e.getMessage)
  }

  test("WRITE-TIME batch stats: a versioned table box-prunes out of " +
      "the box — no manifest build — on numeric, string and date " +
      "columns; NaN and all-null columns stay safe; time travel " +
      "prunes with each batch's own stats") {
    import spark.implicits._
    val dir = Files.createTempDirectory("autostats").toString
    // four appends with DISJOINT k-ranges, one file each; a string
    // column with disjoint prefixes; a double column where batch 2
    // carries a NaN; a date column; an always-null column
    def batch(lo: Long, tag: String, nan: Boolean) =
      (lo until lo + 100L).map { i =>
        (i, s"$tag-$i",
          if (nan && i == lo) Double.NaN else i.toDouble,
          java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(i)),
          null.asInstanceOf[String])
      }.toDF("k", "s", "d", "day", "nothing").coalesce(1)
    VersionLog.init(spark, dir, batch(0L, "aa", nan = false))
    VersionLog.append(spark, dir, batch(100L, "bb", nan = true))
    VersionLog.append(spark, dir, batch(200L, "cc", nan = false))
    VersionLog.append(spark, dir, batch(300L, "dd", nan = false))
    // the harvest landed one sidecar per batch directory
    val statsFiles = java.nio.file.Files.walk(
        java.nio.file.Paths.get(dir))
      .filter(_.getFileName.toString == "_stats.json").count()
    assert(statsFiles === 4L)
    val t = VersionLog.read(spark, dir)
    assert(t.count() === 400L)
    // numeric box: k=250 lives in exactly one batch
    val onek = t.filter($"k" === 250L)
    assert(onek.select($"s").as[String].collect().toSeq === Seq("cc-250"))
    assert(scanNumFiles(onek) === 1L, "k box must prune to one file")
    // string box: prefix-disjoint batches prune on a string equality
    val ones = t.filter($"s" === "dd-301")
    assert(ones.select($"k").as[Long].collect().toSeq === Seq(301L))
    assert(scanNumFiles(ones) === 1L, "s box must prune to one file")
    // date box: one batch's day range
    val oneday = t.filter(
      $"day" === java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(42)))
    assert(oneday.select($"k").as[Long].collect().toSeq === Seq(42L))
    assert(scanNumFiles(oneday) === 1L, "date box must prune to one file")
    // the NaN batch (k=100 carries d=NaN) has no d-box — it must
    // still be READ for any d predicate (conservative keep), while
    // the three finite-boxed batches prune
    val dhits = t.filter($"d" >= 100.5 && $"d" < 101.5)
    assert(dhits.select($"k").as[Long].collect().toSet === Set(101L))
    assert(scanNumFiles(dhits) === 1L,
      "NaN batch must be kept, finite boxes pruned")
    // all-null column: a range predicate on it matches nothing and
    // prunes EVERY file at plan time
    val none = t.filter($"nothing" === "x")
    assert(none.count() === 0L)
    assert(scanNumFiles(none) === 0L, "all-null column must prune all")
    // time travel prunes with the pinned version's own batches
    val old = VersionLog.read(spark, dir, Some(2L)).filter($"k" === 50L)
    assert(old.select($"s").as[String].collect().toSeq === Seq("aa-50"))
    assert(scanNumFiles(old) === 1L)
  }

  test("WRITE-TIME batch stats survive clone and vacuum with their " +
      "batches, and a lost/garbled sidecar only disables skipping") {
    import spark.implicits._
    val dir = Files.createTempDirectory("autostats2").toString
    def batch(lo: Long) = (lo until lo + 50L).map(i => (i, s"v$i"))
      .toDF("k", "v").coalesce(1)
    VersionLog.init(spark, dir, batch(0L))
    VersionLog.append(spark, dir, batch(100L))
    // clone carries the sidecars by hard link: the clone prunes too
    val dst = Files.createTempDirectory("autostats2c").toString + "/t"
    VersionLog.cloneTable(spark, dir, dst)
    val cloned = VersionLog.read(spark, dst).filter($"k" === 120L)
    assert(cloned.select($"v").as[String].collect().toSeq === Seq("v120"))
    assert(scanNumFiles(cloned) === 1L, "clone must inherit batch stats")
    // overwrite retires both batches; vacuum sweeps the old batches
    // AND their sidecars, but keeps the live batch's sidecar
    VersionLog.overwrite(spark, dir, batch(500L))
    val victims = VersionLog.vacuumVersions(spark, dir, keepLast = 1,
      ttlMs = 0L)
    assert(victims.exists(_.endsWith("_stats.json")),
      s"orphaned batch sidecars must be swept, got $victims")
    val live = VersionLog.read(spark, dir).filter($"k" === 510L)
    assert(live.select($"v").as[String].collect().toSeq === Seq("v510"))
    assert(scanNumFiles(live) === 1L, "live sidecar must survive vacuum")
    // a garbled sidecar never breaks reads — only skipping
    val sidecar = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(_.getFileName.toString == "_stats.json")
      .findFirst().get()
    java.nio.file.Files.write(sidecar, "not json".getBytes)
    assert(VersionLog.read(spark, dir).filter($"k" === 510L).count() === 1L)
  }

  test("DYNAMIC partition pruning reaches the graft FileIndex: a " +
      "star join whose dimension filter selects one partition opens " +
      "only that partition's files at execution time") {
    import spark.implicits._
    val dir = Files.createTempDirectory("gdpp").toString
    // fact: 8 partitions x 4 files; dim: maps partition -> attribute
    val fact = (0L until 8000L).map(i => (i, s"p${i % 8}"))
      .toDF("id", "p").repartition(4)
    VersionLog.init(spark, dir, fact, partitionBy = Some("p"))
    val totalFiles = VersionLog.snapshot(spark, dir, None).files.size
    // dim must be a FILE source: over a local relation the optimizer
    // folds the filter into the relation and DPP sees no selective
    // predicate to derive the pruning subquery from
    val dimDir = Files.createTempDirectory("gdpp-dim").toString
    (0 until 8).map(i => (s"p$i", i)).toDF("dp", "attr")
      .write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir)
    val t = spark.read.format("graft").load(dir)
    val joined = t.join(dim.filter($"attr" === 3), $"p" === $"dp")
    assert(joined.select($"id").as[Long].collect().toSet ===
      (0L until 8000L).filter(_ % 8 == 3).toSet)
    val proj = joined.select($"id")
    proj.collect()
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case sc: FileSourceScanExec => Seq(sc)
      case other => other.children.flatMap(scans)
    }
    val graftScan = scans(proj.queryExecution.executedPlan)
      .filter(_.relation.location.getClass.getName.contains("GraftFileIndex"))
    assert(graftScan.nonEmpty, "expected a graft scan in the plan")
    assert(graftScan.exists(_.partitionFilters.exists(
        _.toString.contains("dynamicpruning"))),
      "the graft scan must carry a dynamic pruning partition filter")
    val opened = graftScan.map(_.metrics("numFiles").value).sum
    assert(opened <= totalFiles / 8 + 1,
      s"DPP must open ~1/8 of the graft files, opened $opened/$totalFiles")
  }

  test("graft-cdc synthesis covers the SQL DELETE/UPDATE doors: " +
      "delete-where emits delete images for the removed rows, " +
      "update-where the file-granular delete+insert pair, and the " +
      "last-op-wins mirror converges to the live table") {
    import spark.implicits._
    val dir = Files.createTempDirectory("gcdc-dml").toString
    VersionLog.init(spark, dir,
      Seq((1L, "one", "a"), (2L, "two", "a"), (3L, "three", "b"))
        .toDF("k", "v", "p").coalesce(1), partitionBy = Some("p"))
    val (nDel, v2) = VersionLog.deleteWhereCommit(spark, dir,
      $"v" === "two")
    assert((nDel, v2) === ((1L, 2L)))
    val (nUp, v3) = VersionLog.updateWhereCommit(spark, dir,
      Seq("v" -> concat($"v", lit("!"))), $"k" === 3L)
    assert((nUp, v3) === ((1L, 3L)))
    val feed = spark.read.format("graft-cdc").load(dir)
    // the delete-where commit: k=2 leaves as a delete image; its
    // file-mate k=1 rewrites (delete+insert pair, replay-convergent)
    val b2 = feed.filter($"_feed_batch" === 2L)
      .select($"_op", $"k").as[(String, Long)].collect().toSet
    assert(b2 === Set(("delete", 1L), ("delete", 2L), ("insert", 1L)))
    // the update-where commit: old and new images of the victim file
    val b3 = feed.filter($"_feed_batch" === 3L)
      .select($"_op", $"k", $"v").as[(String, Long, String)]
      .collect().toSet
    assert(b3 === Set(("delete", 3L, "three"),
      ("insert", 3L, "three!")))
    // a mirror replaying the whole feed converges to the live table
    val opRank = when($"_op" === "insert", 2)
      .when($"_op" === "delete", 1).otherwise(lit(0))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"k").orderBy($"_feed_batch".desc, opRank.desc)
    val mirrored = feed.withColumn("_rn", row_number().over(w))
      .filter($"_rn" === 1 && $"_op" === "insert")
      .select($"k", $"v", $"p").as[(Long, String, String)]
      .collect().toSet
    val live = VersionLog.read(spark, dir)
      .select($"k", $"v", $"p").as[(Long, String, String)]
      .collect().toSet
    assert(mirrored === live)
    assert(live === Set((1L, "one", "a"), (3L, "three!", "b")))
  }

  test("NESTED rename keeps plan-time stats pruning: after RENAME " +
      "s.x -> y (SQL door), a range predicate on s.y still box-prunes " +
      "to the covering batch (executed numFiles) — the filter " +
      "simplifies through the struct rebuild to the physical leaf") {
    import spark.implicits._
    val dir = Files.createTempDirectory("gnested").toString
    def batch(lo: Long, hi: Long) =
      (lo until hi).map(i => (i, i, s"r$i")).toDF("id", "x", "v")
        .select($"id", struct($"x", $"v").as("s")).coalesce(1)
    VersionLog.init(spark, dir, batch(0, 100))
    VersionLog.append(spark, dir, batch(100, 200))
    VersionLog.append(spark, dir, batch(200, 300))
    VersionLog.append(spark, dir, batch(300, 400))
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.catalog.GraftCatalog].getName)
    spark.sql(s"ALTER TABLE graft.`$dir` RENAME COLUMN s.x TO y")
    val t = VersionLog.read(spark, dir)
    assert(t.schema("s").dataType.asInstanceOf[
      org.apache.spark.sql.types.StructType].fieldNames.toSeq ===
      Seq("v", "y"))
    val sel = t.filter($"s.y" >= 250L && $"s.y" < 260L).select($"s.y")
    assert(sel.as[Long].collect().toSet === (250L until 260L).toSet)
    assert(scanNumFiles(sel) === 1L,
      "the renamed nested leaf's range must open exactly the " +
        "covering batch — pruning lost through the struct rebuild " +
        "would be a full scan at 100TB")
  }

  test("DROP then name-reuse RENAME cannot resurrect a stale manifest " +
      "box: after DROP COLUMN a; RENAME c TO a, a probe on the " +
      "reused 'a' is not pruned by the pre-drop manifest's 'a' boxes") {
    import spark.implicits._
    val dir = Files.createTempDirectory("gdropreuse").toString
    // two files with DISJOINT ranges in both columns
    def batch(aLo: Long, cLo: Long) =
      (0L until 50L).map(i => (aLo + i, cLo + i, s"r$i"))
        .toDF("a", "c", "v").coalesce(1)
    VersionLog.init(spark, dir, batch(0L, 1000L))
    VersionLog.append(spark, dir, batch(100L, 2000L))
    // the user manifests 'a' ONLY: file entries carry NO 'c' key, so
    // post-DDL the physical probe can only bind via the logical alias
    Manifest.buildManifestFor(spark, dir,
      VersionLog.read(spark, dir), Seq("a"))
    VersionLog.alterDropColumnCommit(spark, dir, "a")
    VersionLog.alterRenameColumnCommit(spark, dir, "c", "a")
    // logical 'a' is now physical 'c'. Row a=2030 lives in file 2,
    // whose PRE-DROP manifest box for 'a' is [100,149] — a misbound
    // alias (no '#v' marker to give the reuse away) would prune the
    // file and silently lose the row.
    val sel = VersionLog.read(spark, dir)
      .filter($"a" === 2030L).select($"v")
    assert(sel.as[String].collect().toSeq === Seq("r30"),
      "stale pre-drop manifest box misbound onto the reused name")
  }

  test("explicit manifest rebuilt AFTER a nested rename (dotted " +
      "logical keys) still prunes the physical-path probe: the alias " +
      "resolves the full dotted entry — executed numFiles") {
    import spark.implicits._
    val dir = Files.createTempDirectory("gmannest").toString
    def batch(lo: Long, hi: Long) =
      (lo until hi).map(i => (i, i, s"r$i")).toDF("id", "x", "v")
        .select($"id", struct($"x", $"v").as("s")).coalesce(1)
    VersionLog.init(spark, dir, batch(0, 100))
    VersionLog.append(spark, dir, batch(100, 200))
    VersionLog.append(spark, dir, batch(200, 300))
    VersionLog.alterRenameColumnCommit(spark, dir, "s.x", "y")
    // the user rebuilds the manifest over the LOGICAL view keyed on
    // the DOTTED logical path: entries land as min_s.y/max_s.y while
    // the pushed physical probe binds s.x — only the full-dotted
    // alias (exact colMap entry) connects them, and explicit entries
    // MASK the write-time batch stats per file, so a missed alias
    // would mean a full scan
    Manifest.buildManifestFor(spark, dir,
      VersionLog.read(spark, dir), Seq("s.y"))
    val t = VersionLog.read(spark, dir)
    val sel = t.filter($"s.y" >= 150L && $"s.y" < 160L).select($"s.y")
    assert(sel.as[Long].collect().toSet === (150L until 160L).toSet)
    assert(scanNumFiles(sel) === 1L,
      "a nested-renamed leaf's range must still open exactly the " +
        "covering batch")
  }

  test("manifest loading is PARTITION-SCOPED: a probe carrying a " +
      "partition predicate materializes only the matching partition's " +
      "manifest rows on the driver (spec on loaded-row counts); " +
      "repeat probes hit the per-chain cache") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, GreaterThanOrEqual, LessThan, Literal}
    import org.apache.spark.sql.types.{LongType, StringType}
    val dir = Files.createTempDirectory("gmanpart").toString
    // 4 partitions x 3 files (disjoint x ranges per file)
    def mk(lo: Long) = (0 until 4).flatMap(j =>
      (0 until 10).map(i =>
        (j * 1000L + lo + i, Seq("a", "b", "c", "d")(j))))
      .toDF("x", "p").repartition(1)
    VersionLog.init(spark, dir, mk(0), partitionBy = Some("p"))
    VersionLog.append(spark, dir, mk(100), Some("p"))
    VersionLog.append(spark, dir, mk(200), Some("p"))
    Manifest.buildManifestFor(spark, dir,
      VersionLog.read(spark, dir), Seq("x"))
    val idx = new graft.sources.GraftFileIndex(spark, dir, None,
      None, 16, 4)
    assert(idx.manifestRowsLoaded === 0L)
    val pAttr = AttributeReference("p", StringType)()
    val xAttr = AttributeReference("x", LongType)()
    val kept = idx.listFiles(Seq(EqualTo(pAttr, Literal("a"))),
      Seq(GreaterThanOrEqual(xAttr, Literal(100L))))
    assert(idx.manifestRowsLoaded === 3L,
      "only partition a's manifest slice may materialize — a " +
        "100k-file table's full map on the driver is the thing " +
        "this path exists to avoid")
    assert(kept.map(_.files.length).sum === 2,
      "x >= 100 must box-prune partition a's first file")
    // same chain again: served from the cache, zero further rows
    idx.listFiles(Seq(EqualTo(pAttr, Literal("a"))),
      Seq(LessThan(xAttr, Literal(50L))))
    assert(idx.manifestRowsLoaded === 3L)
    // a different partition adds only ITS slice
    idx.listFiles(Seq(EqualTo(pAttr, Literal("b"))),
      Seq(GreaterThanOrEqual(xAttr, Literal(1100L))))
    assert(idx.manifestRowsLoaded === 6L)
  }

  test("graft-cdc requireColumns: a consumer keyed on a column a " +
      "DROP made unmappable refuses LOUDLY naming the version; the " +
      "default consumer keeps its null-filled replay") {
    import spark.implicits._
    val dir = Files.createTempDirectory("gcdc-req").toString
    VersionLog.init(spark, dir,
      Seq((1L, "one", "a")).toDF("k", "v", "p"),
      partitionBy = Some("p")) // v1
    VersionLog.alterDropColumnCommit(spark, dir, "v") // v2
    VersionLog.alterAddColumnCommit(spark, dir, "v",
      org.apache.spark.sql.types.StringType) // v3: fresh identity
    VersionLog.append(spark, dir,
      Seq((2L, "two", "b")).toDF("k", "v", "p"), Some("p")) // v4
    // default consumer: v1's images replay with v null-filled (the
    // generic-mirror contract)
    val relaxed = spark.read.format("graft-cdc").load(dir)
      .select($"_feed_batch", $"k", $"v")
      .as[(Long, Long, Option[String])].collect().toSet
    assert(relaxed === Set((1L, 1L, None), (4L, 2L, Some("two"))))
    // guarded consumer: v1 cannot serve 'v' through the mapping
    val e = intercept[Exception] {
      spark.read.format("graft-cdc")
        .option("requireColumns", "v").load(dir).collect()
    }
    assert(e.getMessage.contains("version 1") &&
      e.getMessage.contains("'v'"), e.getMessage)
    // the guard names real columns only
    val e2 = intercept[Exception] {
      spark.read.format("graft-cdc")
        .option("requireColumns", "nope").load(dir).collect()
    }
    assert(e2.getMessage.contains("nope"), e2.getMessage)
    // startingVersion past the gap satisfies the guard
    val since3 = spark.read.format("graft-cdc")
      .option("requireColumns", "v")
      .option("startingVersion", "3").load(dir)
      .select($"k", $"v").as[(Long, String)].collect().toSet
    assert(since3 === Set((2L, "two")))
    // the STREAM refuses the same way
    val err = new java.util.concurrent.atomic.AtomicReference[String]
    val q = spark.readStream.format("graft-cdc")
      .option("requireColumns", "v").load(dir)
      .writeStream.format("noop")
      .option("checkpointLocation",
        Files.createTempDirectory("gcdc-req-ck").toString)
      .start()
    try {
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        drain(q)
        q.awaitTermination(10000)
      }
    } finally {
      err.set(Option(q.exception.map(_.getMessage).orNull).getOrElse(""))
      q.stop()
    }
    assert(err.get.contains("required column") ||
      err.get.contains("'v'"), err.get)
  }

  test("graft-cdc checkpoint recovery IGNORES a raised " +
      "startingVersion: the committed-but-unprocessed backlog replays " +
      "in full (exactly-once), like Delta once a checkpoint exists") {
    import spark.implicits._
    val dir = Files.createTempDirectory("gcdc-rec").toString
    val ck = Files.createTempDirectory("gcdc-rec-ck").toString
    VersionLog.init(spark, dir,
      Seq((1L, "one", "a")).toDF("k", "v", "p"),
      partitionBy = Some("p")) // v1
    VersionLog.append(spark, dir,
      Seq((2L, "two", "b")).toDF("k", "v", "p"), Some("p")) // v2
    val sunk = new scala.collection.mutable.ArrayBuffer[(String, Long)]
    def run(startingVersion: String): Unit = {
      val q = spark.readStream.format("graft-cdc")
        .option("startingVersion", startingVersion).load(dir)
        .writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          sunk.synchronized {
            sunk ++= b.select($"_op", $"k")
              .as[(String, Long)].collect()
          }
          ()
        }
        .option("checkpointLocation", ck)
        .outputMode("append").start()
      try drain(q) finally q.stop()
    }
    run("1") // consumes v1..v2, checkpoint committed through v2
    assert(sunk.synchronized(sunk.toSet) ===
      Set(("insert", 1L), ("insert", 2L)))
    VersionLog.append(spark, dir,
      Seq((3L, "three", "c")).toDF("k", "v", "p"), Some("p")) // v3
    VersionLog.append(spark, dir,
      Seq((4L, "four", "d")).toDF("k", "v", "p"), Some("p")) // v4
    sunk.synchronized(sunk.clear())
    // restart the SAME checkpoint with startingVersion=4: the option
    // must not shrink the v3 replay — the checkpointed offset (v2) is
    // the truth on recovery
    run("4")
    assert(sunk.synchronized(sunk.toSet) ===
      Set(("insert", 3L), ("insert", 4L)),
      "a raised startingVersion must not swallow v3 on recovery")
  }
}
