package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{Conll, Standoff}

class IoSpec extends AnyFunSuite with StreamDrain {
  import TestSpark._

  private def mkBratDir(): String = {
    val dir = Files.createTempDirectory("brat").toString
    Files.writeString(Paths.get(dir, "doc-1.txt"),
      "Le patient a une fracture du radius.\nPas de lésion pulmonaire.")
    Files.writeString(Paths.get(dir, "doc-1.ann"),
      "T1\tdisease 17 35\tfracture du radius\n" +
        "T2\tdisease 44 61;62 62\tlésion pulmonaire\n" +
        "A1\tnegation T2 true\n" +
        "A2\tetat T1 present\n" +
        "#1\tAnnotatorNotes T1\tvu sur radio\n")
    Files.writeString(Paths.get(dir, "doc-2.txt"), "RAS.")
    Files.writeString(Paths.get(dir, "doc-2.ann"), "")
    dir
  }

  test("omop converter: bool attribute coercion (test_converters.py:18-53)") {
    import spark.implicits._
    val note = Seq((1234L, "This is a test.")).toDF("note_id", "note_text")
    // entity 1 never carried the negation attribute -> reads false
    val noteNlp = Seq(
      (0L, 1234L, 0, 4, "This", "test", Some(true)),
      (1L, 1234L, 5, 7, "is", "test", None))
      .toDF("note_nlp_id", "note_id", "start_char", "end_char",
        "lexical_variant", "note_nlp_source_value", "negation")
    val docs = graft.io.Omop.toDocs(note, noteNlp,
      boolAttributes = Seq("negation")).collect()
    assert(docs.length === 1)
    val ents = docs.head
      .getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("entities")
    assert(ents.length === 2)
    assert(ents.head.getAs[String]("lexical_variant") === "This")
    assert(ents.head.getAs[Boolean]("negation") === true)
    assert(ents(1).getAs[Boolean]("negation") === false)
  }

  test("standoff read: entities, attributes, notes, fragment merge") {
    val dir = mkBratDir()
    val df = Standoff.read(spark, dir).orderBy("doc_id")
    val rows = df.collect()
    assert(rows.map(_.getString(0)).toSeq === Seq("doc-1", "doc-2"))
    val ents = rows(0).getSeq[org.apache.spark.sql.Row](2)
    assert(ents.size === 2)
    val t1 = ents.find(_.getString(0) == "T1").get
    assert(t1.getAs[String]("label") === "disease")
    assert(t1.getAs[Map[String, String]]("attributes") ===
      Map("etat" -> "present"))
    assert(t1.getSeq[String](5) === Seq("vu sur radio"))
    val t2 = ents.find(_.getString(0) == "T2").get
    assert(t2.getAs[Map[String, String]]("attributes")("negation") === "true")
    assert(rows(1).getSeq[org.apache.spark.sql.Row](2).isEmpty)
  }

  test("standoff round-trip write -> read") {
    val dir = mkBratDir()
    val df = Standoff.read(spark, dir)
    val out = Files.createTempDirectory("brat-out").toString
    Standoff.write(df, out)
    val back = Standoff.read(spark, out)
    val a = df.orderBy("doc_id").collect().map(_.toString).toSeq
    val b = back.orderBy("doc_id").collect().map(_.toString).toSeq
    // notes are not re-emitted by the writer; compare id/label/fragments
    assert(back.count() === df.count())
    val entsBack = back.filter("doc_id = 'doc-1'")
      .selectExpr("explode(entities) as e")
      .selectExpr("e.entity_id", "e.label", "e.attributes")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(entsBack === Set(("T1", "disease"), ("T2", "disease")))
  }

  test("standoff events (E lines), strict mode, corrupt-line counts") {
    val dir = Files.createTempDirectory("brat-evt").toString
    Files.writeString(Paths.get(dir, "doc-3.txt"), "Opéré puis surveillé.")
    Files.writeString(Paths.get(dir, "doc-3.ann"),
      "T1\tprocedure 0 5\tOpéré\n" +
        "T2\tsurveillance 11 20\tsurveillé\n" +
        "E1\tProcedure:T1 After:T2\n" +
        "A1\tstatus E1 done\n" +
        "T9\tbroken NOPE\tgarbage\n" + // corrupt span -> counted
        "Xjunk line without annotation prefix\n") // ignored, not counted
    // lenient read: events parsed, corrupt surfaced, junk ignored
    val row = Standoff.read(spark, dir).filter("doc_id = 'doc-3'").head()
    val events = row.getSeq[org.apache.spark.sql.Row](
      row.fieldIndex("events"))
    assert(events.size === 1)
    val e1 = events.head
    assert(e1.getString(0) === "E1")
    val args = e1.getSeq[org.apache.spark.sql.Row](1)
      .map(a => (a.getString(0), a.getString(1)))
    assert(args === Seq(("Procedure", "T1"), ("After", "T2")))
    assert(e1.getAs[Map[String, String]](2) === Map("status" -> "done"))
    assert(row.getAs[Int]("n_corrupt_lines") === 1)
    assert(row.getSeq[String](row.fieldIndex("corrupt_lines"))
      .head.startsWith("T9"))
    // events survive the writer round-trip
    val out = Files.createTempDirectory("brat-evt-out").toString
    Standoff.write(Standoff.read(spark, dir), out)
    val back = Standoff.read(spark, out).filter("doc_id = 'doc-3'").head()
    assert(back.getSeq[org.apache.spark.sql.Row](
      back.fieldIndex("events")).size === 1)
    assert(back.getAs[Int]("n_corrupt_lines") === 0)
    // strict mode: the corrupt line fails the job, reference-style
    val thrown = intercept[org.apache.spark.SparkException] {
      Standoff.read(spark, dir, strict = true).collect()
    }
    assert(thrown.getMessage != null)
  }

  test("conll-u read: sentences and word fields") {
    val dir = Files.createTempDirectory("conll").toString
    Files.writeString(Paths.get(dir, "sample.conllu"),
      """# sent_id = 1
        |1	Le	le	DET	_	_	2	det	_	_
        |2	patient	patient	NOUN	_	_	0	root	_	_
        |
        |# sent_id = 2
        |1	RAS	ras	NOUN	_	_	0	root	_	_
        |""".stripMargin)
    val df = Conll.read(spark, s"$dir/*.conllu")
    assert(df.count() === 2)
    val first = df.orderBy("sent_id").collect()(0)
    val words = first.getSeq[org.apache.spark.sql.Row](2)
    assert(words.map(_.getAs[String]("FORM")) === Seq("Le", "patient"))
    assert(words.head.getAs[String]("UPOS") === "DET")
  }

  test("zValue matches a bit-by-bit Morton reference incl. 31-bit extremes") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def morton(x: Long, y: Long): Long = {
      var z = 0L
      var i = 0
      while (i < 31) {
        z |= ((x >> i) & 1L) << (2 * i)
        z |= ((y >> i) & 1L) << (2 * i + 1)
        i += 1
      }
      z
    }
    val rng = new scala.util.Random(7)
    val cases = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L),
      (0x7FFFFFFFL, 0x7FFFFFFFL), (0x7FFFFFFFL, 0L)) ++
      Seq.fill(50)((rng.nextLong().abs & 0x7FFFFFFFL,
        rng.nextLong().abs & 0x7FFFFFFFL))
    val got = cases.toDF("x", "y")
      .select($"x", $"y", graft.io.ZOrder.zValue($"x", $"y").as("z"))
      .collect()
    got.foreach { r =>
      assert(r.getLong(2) === morton(r.getLong(0), r.getLong(1)),
        s"(${r.getLong(0)}, ${r.getLong(1)})")
    }
    // interleave is a bijection on the sampled pairs
    assert(got.map(_.getLong(2)).distinct.length === cases.distinct.length)
    // monotone per dimension (the doc's box-containment claim): growing
    // either coordinate never decreases the code
    val zs = cases.map { case (x, y) => (x, y, morton(x, y)) }
    for ((x1, y1, z1) <- zs; (x2, y2, z2) <- zs
         if x1 <= x2 && y1 <= y2)
      assert(z1 <= z2, s"($x1,$y1) -> ($x2,$y2)")
  }

  test("z-ordered layout concentrates a 2-D box predicate in few files") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val orders = relational.Tables.table(spark, sf, "orders")
      .select($"o_orderkey", $"o_custkey",
        datediff(to_date($"o_orderdate"), lit("1970-01-01")).as("day"))
    val zDir = Files.createTempDirectory("zorder").toString
    val baseDir = Files.createTempDirectory("zbase").toString
    graft.io.ZOrder.writeZOrdered(orders, zDir,
      col("o_custkey"), col("day"), numFiles = 8)
    // baseline: the same 8 files but hash-scattered (the layout a plain
    // repartition produces)
    orders.repartition(8).write.mode("overwrite").parquet(baseDir)
    val (cLo, cHi) = (10L, 40L)
    val dayBounds = orders.agg(min($"day"), max($"day")).head()
    val (dLo, dHi) = (dayBounds.getInt(0).toLong,
      dayBounds.getInt(0).toLong + 365)
    def filesTouched(dir: String): Long =
      spark.read.parquet(dir)
        .filter($"o_custkey".between(cLo, cHi) && $"day".between(dLo, dHi))
        .select(input_file_name()).distinct().count()
    val zf = filesTouched(zDir)
    val bf = filesTouched(baseDir)
    assert(bf === 8L, s"hash layout should scatter the box over all files, got $bf")
    assert(zf < bf, s"z-order must beat hash layout: $zf vs $bf")
    assert(zf <= 4L, s"z-order box should stay within a few files, got $zf")
    // and the layout preserves the data exactly
    assert(spark.read.parquet(zDir).count() === orders.count())
  }

  test("dynamic partition overwrite rewrites ONLY the partitions in the " +
      "incoming frame") {
    // the warehouse-maintenance shape at 100 TB: re-landing one day/type
    // must not truncate the table (static overwrite mode would).
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = Files.createTempDirectory("dynpart").toString
    val ev = relational.Tables.events(spark, sf)
      .select($"event_id", $"event_type", $"value")
    ev.write.partitionBy("event_type").mode("overwrite").parquet(dir)
    val before = spark.read.parquet(dir)
      .groupBy($"event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // re-land ONLY the 'click' partition, halved
    val clicksHalf = ev.filter($"event_type" === "click" &&
      $"event_id" % 2 === 0)
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try clicksHalf.write.partitionBy("event_type").mode("overwrite")
      .parquet(dir)
    finally prev match {
      case Some(v) =>
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None =>
        spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    val after = spark.read.parquet(dir)
      .groupBy($"event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(after("click") < before("click"), "click partition replaced")
    (before.keySet - "click").foreach { t =>
      assert(after(t) === before(t), s"partition $t must be untouched")
    }
  }

  test("schema evolution: mergeSchema unions generations, old files " +
      "read the new column as null") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = Files.createTempDirectory("mergeschema").toString
    Seq((1L, "a")).toDF("id", "text")
      .write.mode("append").parquet(dir)
    Seq((2L, "b", "fr")).toDF("id", "text", "lang")
      .write.mode("append").parquet(dir)
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.sorted.toSeq === Seq("id", "lang", "text"))
    val rows = merged.orderBy($"id").collect()
      .map(r => (r.getLong(0), Option(r.getAs[String]("lang"))))
    assert(rows.toSeq === Seq((1L, None), (2L, Some("fr"))))
  }

  test("csv scan (SURVEY 2.11 scans row): header/delimiter/quote round " +
      "trip equals the parquet read") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("csvio").toString
    val n = relational.Tables.nation(spark, sf)
    // pipe delimiter forces the quoting path on free-text comments
    n.write.option("header", "true").option("delimiter", "|")
      .mode("overwrite").csv(dir)
    val back = spark.read.option("header", "true").option("delimiter", "|")
      .schema(n.schema).csv(dir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col(df.columns.head)).collect().toSeq
    assert(back.schema === n.schema, "explicit schema must win over inference")
    assert(rows(back) === rows(n))
  }

  test("mergeByKey: upsert semantics, copy-on-write blast radius, " +
      "partition move and drained-partition cleanup") {
    import spark.implicits._
    val dir = Files.createTempDirectory("merge").toString
    // partitions: a{1,2,3} b{4,5} c{6}
    Seq((1L, "one", "a"), (2L, "two", "a"), (3L, "three", "a"),
        (4L, "four", "b"), (5L, "five", "b"), (6L, "six", "c"))
      .toDF("k", "v", "p")
      .write.mode("overwrite").partitionBy("p").parquet(dir)
    def files(part: String): Map[String, Long] = {
      val f = new java.io.File(s"$dir/p=$part")
      if (!f.exists()) Map.empty
      else f.listFiles.filter(_.getName.endsWith(".parquet"))
        .map(x => x.getName -> x.lastModified).toMap
    }
    val aBefore = files("a")
    assert(aBefore.nonEmpty)
    // revise k=4 in place, MOVE k=6 from partition c to d, insert k=7
    val updates = Seq((4L, "four2", "b"), (6L, "six2", "d"),
      (7L, "seven", "b")).toDF("k", "v", "p")
    val stats = graft.io.MergeInto.mergeByKey(spark, dir, updates, "k", "p")
    val after = spark.read.parquet(dir)
      .select($"k", $"v", $"p").as[(Long, String, String)].collect().toSet
    assert(after === Set(
      (1L, "one", "a"), (2L, "two", "a"), (3L, "three", "a"),
      (4L, "four2", "b"), (5L, "five", "b"),
      (6L, "six2", "d"), (7L, "seven", "b")))
    assert(files("a") === aBefore,
      "untouched partition must keep its exact files")
    assert(!new java.io.File(s"$dir/p=c").exists(),
      "partition drained by the key move must be deleted")
    assert(!new java.io.File(s"$dir._merge_staging").exists())
    assert(stats.touchedPartitions === Seq("b", "c", "d"))
    assert(stats.removedPartitions === Seq("c"))
    assert(stats.outputRows === 4L) // b:{4,5,7} d:{6}
    // idempotency: re-merging the identical batch is a no-op result-wise
    val stats2 = graft.io.MergeInto.mergeByKey(spark, dir, updates, "k", "p")
    val again = spark.read.parquet(dir)
      .select($"k", $"v", $"p").as[(Long, String, String)].collect().toSet
    assert(again === after)
    assert(stats2.touchedPartitions === Seq("b", "d"))
    assert(stats2.removedPartitions === Seq.empty)
    // empty update batch: no-op, nothing rewritten
    val s3 = graft.io.MergeInto.mergeByKey(spark, dir,
      updates.filter($"k" < 0), "k", "p")
    assert(s3 === graft.io.MergeStats(Nil, 0L, Nil))
  }

  test("mergeByKeyCdc: delete clause, feed classification with " +
      "before/after images, and incremental stats == recompute") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("cdc").toString
    Seq((1L, "one", "a"), (2L, "two", "a"), (3L, "three", "a"),
        (4L, "four", "b"), (5L, "five", "b"), (6L, "six", "c"))
      .toDF("k", "v", "p")
      .write.mode("overwrite").partitionBy("p").parquet(dir)
    val metrics = Seq("sum_k" -> col("k"))
    // materialize the pre-merge view: a LAZY frame over `dir` would be
    // evaluated after the merge rewrote the files it references (the
    // snapshot-before-mutate contract StatsMaintenance documents)
    val statsBefore = spark.createDataFrame(
      spark.sparkContext.parallelize(
        graft.io.StatsMaintenance.recompute(
          spark.read.parquet(dir), "p", metrics).collect().toIndexedSeq),
      graft.io.StatsMaintenance.recompute(
        spark.read.parquet(dir), "p", metrics).schema)
    // update k=4, null-_del k=5 (SQL: NULL cond falls through to
    // UPDATE), move k=6 c->d, insert k=7, DELETE k=2 (tombstone part
    // value is junk on purpose: deletes find the key's real home),
    // tombstone k=99 matches nothing -> full no-op, never inserted
    val batch = Seq(
      (4L, "four2", "b", Some(false)),
      (5L, "five2", "b", None),
      (6L, "six2", "d", Some(false)),
      (7L, "seven", "b", Some(false)),
      (2L, "junk", "zz", Some(true)),
      (99L, "junk", "zz", Some(true)))
      .toDF("k", "v", "p", "_del")
    val (stats, feed) = graft.io.MergeInto.mergeByKeyCdc(
      spark, dir, batch, "k", "p", deleteWhen = Some(col("_del")))
    val after = spark.read.parquet(dir)
      .select($"k", $"v", $"p").as[(Long, String, String)].collect().toSet
    assert(after === Set(
      (1L, "one", "a"), (3L, "three", "a"),
      (4L, "four2", "b"), (5L, "five2", "b"), (7L, "seven", "b"),
      (6L, "six2", "d")))
    // k=2's home joins the touched set via the key scan, NOT via the
    // tombstone's junk part value; zz is never touched
    assert(stats.touchedPartitions === Seq("a", "b", "c", "d"))
    assert(stats.removedPartitions === Seq("c"))
    val got = feed.select($"_op", $"k", $"v", $"p")
      .as[(String, Long, String, String)].collect().toSet
    assert(got === Set(
      ("update_pre", 4L, "four", "b"), ("update_post", 4L, "four2", "b"),
      ("update_pre", 5L, "five", "b"), ("update_post", 5L, "five2", "b"),
      ("update_pre", 6L, "six", "c"), ("update_post", 6L, "six2", "d"),
      ("insert", 7L, "seven", "b"),
      ("delete", 2L, "two", "a")))
    // the feed batch landed durably before the publish
    assert(new java.io.File(s"$dir._cdc/batch-00000").exists())
    // incremental maintenance == full recompute of the merged table,
    // including the drop of drained group c and the birth of d
    val maintained = graft.io.StatsMaintenance.applyCdc(
      statsBefore, feed, "p", metrics)
      .as[(String, Long, Long)].collect().toSet
    val recomputed = graft.io.StatsMaintenance.recompute(
      spark.read.parquet(dir), "p", metrics)
      .as[(String, Long, Long)].collect().toSet
    assert(maintained === recomputed)
    assert(!maintained.exists(_._1 == "c"))
    // second merge appends a new feed batch
    val (_, feed2) = graft.io.MergeInto.mergeByKeyCdc(
      spark, dir, batch, "k", "p", deleteWhen = Some(col("_del")))
    assert(new java.io.File(s"$dir._cdc/batch-00001").exists())
    // re-run of an already-applied batch: pre == post pairs and no
    // deletes -> every maintained delta is zero
    val zeroDelta = graft.io.StatsMaintenance.applyCdc(
      graft.io.StatsMaintenance.recompute(
        spark.read.parquet(dir), "p", metrics),
      feed2, "p", metrics).as[(String, Long, Long)].collect().toSet
    assert(zeroDelta === recomputed)
    // duplicate source keys are standard-MERGE illegal
    val dup = Seq((4L, "x", "b", Some(false)), (4L, "y", "b", Some(false)))
      .toDF("k", "v", "p", "_del")
    intercept[IllegalArgumentException] {
      graft.io.MergeInto.mergeByKeyCdc(spark, dir, dup, "k", "p",
        deleteWhen = Some(col("_del")))
    }
  }

  test("merge edge cases: a delete-only batch draining every touched " +
      "partition commits; null/empty partition values are rejected") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("drain").toString
    Seq((1L, "one", "a"), (2L, "two", "b"))
      .toDF("k", "v", "p")
      .write.mode("overwrite").partitionBy("p").parquet(dir)
    // k=1 is partition a's ONLY row: the staged write is EMPTY (no
    // partition dirs at all) and the merge must still commit the drain
    val (stats, feed) = graft.io.MergeInto.mergeByKeyCdc(spark, dir,
      Seq((1L, "x", "zz", true)).toDF("k", "v", "p", "_del"),
      "k", "p", deleteWhen = Some(col("_del")))
    assert(stats === graft.io.MergeStats(Seq("a"), 0L, Seq("a")))
    assert(!new java.io.File(s"$dir/p=a").exists())
    assert(feed.select($"_op", $"k").as[(String, Long)].collect().toSeq
      === Seq(("delete", 1L)))
    assert(spark.read.parquet(dir).select($"k", $"v", $"p")
      .as[(Long, String, String)].collect().toSeq === Seq((2L, "two", "b")))
    // NULL and empty-string partition values would land in Spark's
    // __HIVE_DEFAULT_PARTITION__ directory, outside the copy-on-write
    // protocol's addressing — rejected loudly
    intercept[IllegalArgumentException] {
      graft.io.MergeInto.mergeByKey(spark, dir,
        Seq((9L, "x", Option.empty[String])).toDF("k", "v", "p"), "k", "p")
    }
    intercept[IllegalArgumentException] {
      graft.io.MergeInto.mergeByKey(spark, dir,
        Seq((9L, "x", "")).toDF("k", "v", "p"), "k", "p")
    }
  }

  test("a torn feed-staging orphan (crash mid-write) is invisible to " +
      "every CDC consumer and does not disturb batch numbering") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("feedorphan").toString
    Seq((1L, "one", "a")).toDF("k", "v", "p")
      .write.mode("overwrite").partitionBy("p").parquet(dir)
    graft.io.MergeInto.mergeByKeyCdc(spark, dir,
      Seq((2L, "two", "a")).toDF("k", "v", "p"), "k", "p")
    // simulate a crash mid-write of the NEXT batch: a partial staging
    // dir with a half-landed part file and no publish rename
    val orphan = new java.io.File(s"$dir._cdc/.staging-batch-00001")
    orphan.mkdirs()
    Seq((99L, "junk", "a", "insert")).toDF("k", "v", "p", "_op")
      .coalesce(1).write.mode("overwrite").parquet(orphan.toString)
    // the delta stream's static schema read and batch glob skip it
    val metrics = Seq("sum_k" -> col("k"))
    val q = graft.io.StatsMaintenance
      .cdcDeltaStream(spark, dir, "p", metrics)
      .writeStream.format("memory").queryName("feedorphan")
      .outputMode("complete").start()
    try {
      drain(q)
      val delta = spark.table("feedorphan")
        .as[(String, Long, Long)].collect().toSet
      assert(delta === Set(("a", 1L, 2L)),
        "the torn staging batch must not contribute deltas")
    } finally q.stop()
    // batch retention ignores it, and the next merge numbers past the
    // PUBLISHED batches only (the orphan never blocks or shifts)
    assert(graft.io.Vacuum.pruneCdcBatches(spark, dir, keepLast = 5)
      === Nil)
    val (_, feed) = graft.io.MergeInto.mergeByKeyCdc(spark, dir,
      Seq((3L, "three", "a")).toDF("k", "v", "p"), "k", "p")
    assert(new java.io.File(s"$dir._cdc/batch-00001").exists(),
      "the crashed batch's index is reallocated by the retry")
    assert(!orphan.exists(),
      "the retry reuses and heals the stale staging dir")
    assert(feed.filter($"k" === 99L).count() === 0,
      "no torn rows leak into the published batch")
  }

  test("a torn per-partition publish (crash between a delete and its " +
      "rename) is healed at merge entry — survivors are never lost") {
    import spark.implicits._
    val dir = Files.createTempDirectory("tornpub").toString
    Seq((1L, "one", "a"), (2L, "two", "a"), (3L, "three", "b"))
      .toDF("k", "v", "p")
      .write.mode("overwrite").partitionBy("p").parquet(dir)
    // Reconstruct the exact crash state of merging {k=2 -> two2}: the
    // staged write COMPLETED (staging holds the post-merge p=a with
    // the _SUCCESS marker the real staged write lands), the publish
    // deleted target p=a, and the crash hit before the rename — the
    // survivor k=1 now exists ONLY under ._merge_staging.
    val staging = s"$dir._merge_staging"
    Seq((1L, "one", "a"), (2L, "two2", "a")).toDF("k", "v", "p")
      .write.mode("overwrite").partitionBy("p").parquet(staging)
    assert(new java.io.File(s"$staging/_SUCCESS").exists())
    def rmRec(f: java.io.File): Unit = {
      Option(f.listFiles).getOrElse(Array.empty).foreach(rmRec); f.delete()
    }
    rmRec(new java.io.File(s"$dir/p=a"))
    // the documented recovery — re-running the same batch — must first
    // heal: without the heal it would recompute survivors from a
    // target missing k=1 and silently lose it forever
    val stats = graft.io.MergeInto.mergeByKey(spark, dir,
      Seq((2L, "two2", "a")).toDF("k", "v", "p"), "k", "p")
    assert(spark.read.parquet(dir).select($"k", $"v", $"p")
      .as[(Long, String, String)].collect().toSet === Set(
        (1L, "one", "a"), (2L, "two2", "a"), (3L, "three", "b")))
    assert(stats.touchedPartitions === Seq("a"))
    assert(!new java.io.File(staging).exists())
  }

  test("a torn merge STAGING WRITE (no _SUCCESS) is discarded at the " +
      "next merge entry, never promoted over the intact target") {
    import spark.implicits._
    val dir = Files.createTempDirectory("tornstage").toString
    Seq((1L, "one", "a")).toDF("k", "v", "p")
      .write.mode("overwrite").partitionBy("p").parquet(dir)
    // a crash mid-write leaves partition dirs but no commit marker;
    // the target was never touched (deletes happen strictly after the
    // staged write commits) — promoting the torn rows would corrupt it
    val staging = s"$dir._merge_staging"
    Seq((99L, "torn", "zz")).toDF("k", "v", "p")
      .write.mode("overwrite").partitionBy("p").parquet(staging)
    new java.io.File(s"$staging/_SUCCESS").delete()
    val stats = graft.io.MergeInto.mergeByKey(spark, dir,
      Seq((2L, "two", "a")).toDF("k", "v", "p"), "k", "p")
    assert(stats.touchedPartitions === Seq("a"))
    assert(spark.read.parquet(dir).select($"k", $"v", $"p")
      .as[(Long, String, String)].collect().toSet === Set(
        (1L, "one", "a"), (2L, "two", "a")),
      "torn staged rows must not leak into the table")
    assert(!new java.io.File(s"$dir/p=zz").exists())
  }

  test("compaction never moves the CDC feed (sibling survives a crash " +
      "at ANY swap point); a carry stranded by older builds is healed") {
    import spark.implicits._
    val dir = Files.createTempDirectory("cdcsibling").toString
    (0L until 16L).map(i => (i, s"v$i")).toDF("k", "v")
      .repartition(4).write.mode("overwrite").parquet(dir)
    Seq((1L, "old", "insert")).toDF("k", "v", "_op")
      .write.parquet(s"$dir._cdc/batch-00000")
    val feedFile = new java.io.File(s"$dir._cdc/batch-00000")
      .listFiles.filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    graft.io.Compact.compactParquet(spark, dir, targetBytes = 1L << 30)
    // byte-identical feed files: the rewrite never renamed them through
    // staging (the old carry protocol's loss window — a crash after
    // the carry rename left the only feed copy inside ._staging, which
    // the next entry's staging delete or a TTL vacuum would destroy)
    assert(new java.io.File(s"$dir._cdc/batch-00000")
      .listFiles.filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
      === feedFile)
    assert(!new java.io.File(s"$dir/__cdc_carry").exists())
    // a feed parked at <dir>/__cdc_carry by an OLDER build's crash is
    // restored at entry even when the data is already compact
    assert(new java.io.File(s"$dir._cdc").renameTo(
      new java.io.File(s"$dir/__cdc_carry")))
    graft.io.Compact.compactParquet(spark, dir, targetBytes = 1L << 30)
    assert(spark.read.parquet(s"$dir._cdc/batch-00000")
      .as[(Long, String, String)].head() === ((1L, "old", "insert")))
  }

  test("MERGE INTO SQL text runs the same merge as the API: identical " +
      "MergeStats, identical feed, identical table") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val seedRows = Seq((1L, "one", "a"), (2L, "two", "a"),
      (3L, "three", "b"), (6L, "six", "c"))
    val sqlDir = Files.createTempDirectory("mergesql").toString
    val apiDir = Files.createTempDirectory("mergeapi").toString
    Seq(sqlDir, apiDir).foreach { d =>
      seedRows.toDF("k", "v", "p")
        .write.mode("overwrite").partitionBy("p").parquet(d)
    }
    val updates = Seq((2L, "two2", "a", false), (6L, "gone", "zz", true),
      (7L, "seven", "b", false)).toDF("k", "v", "p", "_del")
    updates.createOrReplaceTempView("updates_v")
    val (sqlStats, sqlFeed) = graft.io.MergeSql.mergeSql(spark,
      """MERGE INTO corpus USING updates_v ON corpus.k = updates_v.k
         WHEN MATCHED AND updates_v._del THEN DELETE
         WHEN MATCHED THEN UPDATE SET *
         WHEN NOT MATCHED THEN INSERT *""",
      Map("corpus" -> sqlDir))
    val (apiStats, apiFeed) = graft.io.MergeInto.mergeByKeyCdc(
      spark, apiDir, updates, "k", "p", deleteWhen = Some(col("_del")))
    assert(sqlStats === apiStats)
    def feedSet(f: org.apache.spark.sql.DataFrame) =
      f.select($"_op", $"k", $"v", $"p")
        .as[(String, Long, String, String)].collect().toSet
    assert(feedSet(sqlFeed) === feedSet(apiFeed))
    def tableSet(d: String) = spark.read.parquet(d)
      .select($"k", $"v", $"p").as[(Long, String, String)]
      .collect().toSet
    assert(tableSet(sqlDir) === tableSet(apiDir))
    assert(tableSet(sqlDir) === Set((1L, "one", "a"), (2L, "two2", "a"),
      (3L, "three", "b"), (7L, "seven", "b")))
    // unsupported shapes are refused loudly, not silently reinterpreted
    intercept[IllegalArgumentException] {
      graft.io.MergeSql.mergeSql(spark,
        """MERGE INTO corpus USING updates_v ON corpus.k = updates_v.k
           WHEN MATCHED THEN UPDATE SET v = 'x'
           WHEN NOT MATCHED THEN INSERT *""",
        Map("corpus" -> sqlDir))
    }
  }

  test("MERGE WHEN NOT MATCHED BY SOURCE (full-sync mirror): rows the " +
      "source no longer covers are deleted where the condition holds, " +
      "with delete images in the feed; partitions with no victims and " +
      "no upserts carry by reference") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("mergebysrc").toString
    Seq((1L, "one", "a"), (2L, "two", "a"), (3L, "three", "b"),
        (4L, "four", "b"), (6L, "six", "c"), (8L, "eight", "d"))
      .toDF("k", "v", "p")
      .write.mode("overwrite").partitionBy("p").parquet(dir)
    val dBefore = new java.io.File(s"$dir/p=d")
      .listFiles.filter(_.getName.endsWith(".parquet"))
      .map(x => (x.getName, x.lastModified)).toSet
    Seq((2L, "two2", "a", false), (7L, "seven", "b", false),
        (6L, "gone", "zz", true)).toDF("k", "v", "p", "_del")
      .createOrReplaceTempView("mirror_v")
    val (stats, feed) = graft.io.MergeSql.mergeSql(spark,
      """MERGE INTO corpus USING mirror_v ON corpus.k = mirror_v.k
         WHEN MATCHED AND mirror_v._del THEN DELETE
         WHEN MATCHED THEN UPDATE SET *
         WHEN NOT MATCHED THEN INSERT *
         WHEN NOT MATCHED BY SOURCE AND corpus.p = 'b' THEN DELETE""",
      Map("corpus" -> dir))
    // k=3,4 (p=b, not in source) deleted by the BY SOURCE clause;
    // k=1 (p=a) and k=8 (p=d) fail its condition and survive;
    // k=6 deleted by the tombstone clause (c drains); 2 updates; 7 inserts
    assert(spark.read.parquet(dir).select($"k", $"v", $"p")
      .as[(Long, String, String)].collect().toSet ===
      Set((1L, "one", "a"), (2L, "two2", "a"), (7L, "seven", "b"),
        (8L, "eight", "d")))
    assert(feed.select($"_op", $"k").as[(String, Long)].collect()
      .toSet === Set(("update_pre", 2L), ("update_post", 2L),
      ("insert", 7L), ("delete", 6L), ("delete", 3L), ("delete", 4L)))
    // delete images carry the BEFORE rows
    assert(feed.filter($"_op" === "delete" && $"k" === 3L)
      .select($"v", $"p").as[(String, String)].head() ===
      (("three", "b")))
    // p=d had no upsert, no matched key, no by-source victim: its
    // file must carry by reference (same name + mtime)
    assert(new java.io.File(s"$dir/p=d")
      .listFiles.filter(_.getName.endsWith(".parquet"))
      .map(x => (x.getName, x.lastModified)).toSet === dBefore)
    assert(stats.removedPartitions === Seq("c"))
    assert(!stats.touchedPartitions.contains("d"))
  }

  test("deletion vectors: a delete writes NO data file, reads apply " +
      "the vector exactly, batches append monotonically") {
    import spark.implicits._
    import graft.io.DeletionVectors
    val dir = Files.createTempDirectory("dv").toString
    Seq((1L, "one", "a"), (2L, "two", "a"), (3L, "three", "a"),
        (4L, "four", "b"), (5L, "five", "b"))
      .toDF("k", "v", "p")
      .write.mode("overwrite").partitionBy("p").parquet(dir)
    def files(part: String): Map[String, Long] =
      new java.io.File(s"$dir/p=$part")
        .listFiles.filter(_.getName.endsWith(".parquet"))
        .map(x => x.getName -> x.lastModified).toMap
    val (aBefore, bBefore) = (files("a"), files("b"))
    // merge-on-read: the delete cost is the KB-sized key list, never
    // a partition rewrite — every data file stays byte-identical
    val b0 = DeletionVectors.deleteKeys(spark, dir,
      Seq((2L, "a")).toDF("k", "p"), "k", "p")
    assert(b0 === Some("batch-00000"))
    assert(files("a") === aBefore && files("b") === bBefore,
      "a DV delete must not touch any data file")
    def live() = DeletionVectors.readWithDeletes(spark, dir, "k", "p")
      .select($"k", $"v", $"p").as[(Long, String, String)].collect().toSet
    assert(live() === Set((1L, "one", "a"), (3L, "three", "a"),
      (4L, "four", "b"), (5L, "five", "b")))
    // homes resolved by projection scan when the caller lacks them;
    // absent keys resolve to nothing (no-op delete)
    val homes = DeletionVectors.resolveHomes(spark, dir,
      Seq(4L, 99L).toDF("k"), "k", "p")
    assert(homes.as[(Long, String)].collect().toSet === Set((4L, "b")))
    assert(DeletionVectors.deleteKeys(spark, dir, homes, "k", "p")
      === Some("batch-00001"))
    assert(live() === Set((1L, "one", "a"), (3L, "three", "a"),
      (5L, "five", "b")))
    // empty delete writes nothing
    assert(DeletionVectors.deleteKeys(spark, dir,
      Seq.empty[(Long, String)].toDF("k", "p"), "k", "p") === None)
  }

  test("deletion vectors: applyAndClear rewrites ONLY partitions " +
      "carrying deletes, clears the vectors, and plain reads take over") {
    import spark.implicits._
    import graft.io.DeletionVectors
    val dir = Files.createTempDirectory("dvapply").toString
    Seq((1L, "one", "a"), (2L, "two", "a"),
        (4L, "four", "b"), (6L, "six", "c"))
      .toDF("k", "v", "p")
      .write.mode("overwrite").partitionBy("p").parquet(dir)
    def files(part: String): Map[String, Long] =
      new java.io.File(s"$dir/p=$part")
        .listFiles.filter(_.getName.endsWith(".parquet"))
        .map(x => x.getName -> x.lastModified).toMap
    val cBefore = files("c")
    DeletionVectors.deleteKeys(spark, dir,
      Seq((2L, "a"), (4L, "b")).toDF("k", "p"), "k", "p")
    val expected = DeletionVectors.readWithDeletes(spark, dir, "k", "p")
      .select($"k", $"v", $"p").as[(Long, String, String)].collect().toSet
    val rewritten = DeletionVectors.applyAndClear(spark, dir, "k", "p")
    assert(rewritten === Seq("p=a", "p=b"))
    assert(files("c") === cBefore,
      "a partition without deletes must keep its exact files")
    assert(!new java.io.File(s"$dir._dv").exists(),
      "vectors must be cleared once applied")
    assert(spark.read.parquet(dir).select($"k", $"v", $"p")
      .as[(Long, String, String)].collect().toSet === expected)
    assert(expected === Set((1L, "one", "a"), (6L, "six", "c")))
    // idempotent re-run: nothing left to apply
    assert(DeletionVectors.applyAndClear(spark, dir, "k", "p") === Nil)
  }

  test("deletion vectors: a batch published after an apply pass's " +
      "snapshot survives the pass and applies on the next one") {
    import spark.implicits._
    import graft.io.DeletionVectors
    val dir = Files.createTempDirectory("dvlate").toString
    Seq((1L, "one", "a"), (2L, "two", "a"), (3L, "three", "b"))
      .toDF("k", "v", "p")
      .write.mode("overwrite").partitionBy("p").parquet(dir)
    DeletionVectors.deleteKeys(spark, dir,
      Seq((1L, "a")).toDF("k", "p"), "k", "p")
    DeletionVectors.deleteKeys(spark, dir,
      Seq((3L, "b")).toDF("k", "p"), "k", "p")
    // the pass pinned only batch-00000 at its entry; batch-00001
    // models a deleteKeys that landed after the snapshot — a
    // whole-root clear would discard it WITHOUT applying it (a
    // silently lost delete on the advertised online-delete path)
    DeletionVectors.applyBatches(spark, dir, "k", "p",
      Seq(s"$dir._dv/batch-00000"))
    assert(new java.io.File(s"$dir._dv/batch-00001").exists(),
      "a later-arriving DV batch must survive the pass")
    assert(DeletionVectors.readWithDeletes(spark, dir, "k", "p")
      .select($"k").as[Long].collect().toSet === Set(2L),
      "the surviving batch must still mask its key")
    // the next pass folds it and only then clears the root
    assert(DeletionVectors.applyAndClear(spark, dir, "k", "p")
      === Seq("p=b"))
    assert(!new java.io.File(s"$dir._dv").exists())
    assert(spark.read.parquet(dir).select($"k").as[Long]
      .collect().toSet === Set(2L))
  }

  test("merge-on-read read plan: the DV anti-join broadcasts the " +
      "vector side — one stage over the data, no table shuffle") {
    import spark.implicits._
    import graft.io.DeletionVectors
    val dir = Files.createTempDirectory("dvplan").toString
    (0L until 200L).map(i => (i, s"v$i", if (i % 2 == 0) "a" else "b"))
      .toDF("k", "v", "p")
      .write.mode("overwrite").partitionBy("p").parquet(dir)
    DeletionVectors.deleteKeys(spark, dir,
      Seq((4L, "a"), (7L, "b")).toDF("k", "p"), "k", "p")
    val df = DeletionVectors.readWithDeletes(spark, dir, "k", "p")
    assert(df.count() === 198L)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") &&
      plan.contains("LeftAnti"), plan.take(1500))
    assert(!plan.contains("SortMergeJoin"),
      "the table side must never shuffle for a DV read")
  }

  test("MODEL-CHECKED in-place lifecycle: 30 random merge/tombstone/" +
      "DV-delete/apply/compact steps match an in-memory model") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.io.{Compact, DeletionVectors, MergeInto}
    // Random walk over the IN-PLACE family under its documented
    // contracts (single writer; a DV-deleted key is not re-upserted
    // until a compaction applies the vectors): after every step,
    // readWithDeletes — THE read path of a DV-bearing table — must
    // equal the model. Exercises the interplay the unit tests cannot:
    // merges rewriting partitions that still physically hold DV-hidden
    // rows, tombstones next to vectors, applyAndClear after partition
    // moves, and compaction over all of it.
    val rng = new scala.util.Random(424242L)
    val dir = Files.createTempDirectory("inplacemodel").toString
    val parts = Vector("a", "b", "c", "d")
    var model = (0L until 12L).map(k =>
      k -> (s"v$k", parts((k % 4).toInt))).toMap
    var dvDeleted = Set.empty[Long]
    Seq(model.toSeq.map { case (k, (v, p)) => (k, v, p) }: _*)
      .toDF("k", "v", "p")
      .write.mode("overwrite").partitionBy("p").parquet(dir)
    var nextFreshKey = 1000L
    def upsertable: Vector[Long] =
      (model.keySet -- dvDeleted).toVector.sorted
    for (step <- 1 to 30) {
      rng.nextInt(6) match {
        case 0 | 1 => // upsert merge (never touches DV-hidden keys)
          val keys = rng.shuffle(upsertable).take(1 + rng.nextInt(4))
          nextFreshKey += 1
          val batch = keys.map(k =>
            (k, s"s$step-$k", parts(rng.nextInt(4)))) :+
            ((nextFreshKey, s"s$step-new", parts(rng.nextInt(4))))
          MergeInto.mergeByKey(spark, dir,
            batch.toDF("k", "v", "p"), "k", "p")
          model = model ++ batch.map(r => r._1 -> (r._2, r._3))
        case 2 => // tombstone merge
          val doomed = rng.shuffle(upsertable).take(1 + rng.nextInt(2))
          if (doomed.nonEmpty) {
            MergeInto.mergeByKeyCdc(spark, dir,
              doomed.map(k => (k, "x", "zz", true))
                .toDF("k", "v", "p", "_del"),
              "k", "p", deleteWhen = Some(col("_del")))
            model = model -- doomed
          }
        case 3 => // merge-on-read DV delete (home = the model's p)
          val doomed = rng.shuffle(upsertable).take(1 + rng.nextInt(2))
          if (doomed.nonEmpty) {
            DeletionVectors.deleteKeys(spark, dir,
              doomed.map(k => (k, model(k)._2)).toDF("k", "p"),
              "k", "p")
            model = model -- doomed
            dvDeleted = dvDeleted ++ doomed
          }
        case 4 => // fold the DV debt
          DeletionVectors.applyAndClear(spark, dir, "k", "p")
          dvDeleted = Set.empty
        case 5 => // compact fragmented partitions
          Compact.compactPartitioned(spark, dir, targetBytes = 1L << 30)
      }
      val got = DeletionVectors.readWithDeletes(spark, dir, "k", "p")
        .select($"k", $"v", $"p").as[(Long, String, String)]
        .collect().map(r => r._1 -> (r._2, r._3)).toMap
      assert(got === model, s"divergence at step $step")
    }
  }

  test("manifest: per-file stats, conservative pruning, null-stats " +
      "and disjoint boxes pruned, rebuild picks up appends") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, sum}
    val dir = Files.createTempDirectory("manifest").toString
    // three controlled files (coalesce(1) per append): x in [0,9],
    // x in [100,109], and an all-null-y straggler at x in [500,503]
    Seq.tabulate(10)(i => (i.toLong, Some(i * 10L), s"a$i"))
      .toDF("x", "y", "tag").coalesce(1).write.mode("append").parquet(dir)
    Seq.tabulate(10)(i => (100L + i, Some(1000L + i), s"b$i"))
      .toDF("x", "y", "tag").coalesce(1).write.mode("append").parquet(dir)
    Seq.tabulate(4)(i => (500L + i, None: Option[Long], s"n$i"))
      .toDF("x", "y", "tag").coalesce(1).write.mode("append").parquet(dir)
    assert(graft.io.Manifest.buildManifest(spark, dir, Seq("x", "y")) === 3)
    // box inside file 1 only
    val (df1, st1) = graft.io.Manifest.prunedRead(spark, dir,
      Seq(("x", 5L, 7L)))
    assert(st1 === graft.io.ScanStats(3, 1))
    assert(df1.filter($"x".between(5, 7)).count() === 3)
    // y-range: the all-null-y file is PRUNED even though its x matches
    val (_, st2) = graft.io.Manifest.prunedRead(spark, dir,
      Seq(("x", 0L, 600L), ("y", 0L, 2000L)))
    assert(st2 === graft.io.ScanStats(3, 2))
    // disjoint box: zero files read, empty frame, schema preserved
    val (df3, st3) = graft.io.Manifest.prunedRead(spark, dir,
      Seq(("x", 9000L, 9999L)))
    assert(st3.filesRead === 0)
    assert(df3.count() === 0)
    assert(df3.columns.toSet === Set("x", "y", "tag"))
    // pruned + re-filtered == full scan (conservative, never lossy)
    val full = spark.read.parquet(dir).filter($"x" <= 105)
      .agg(sum($"x")).as[Long].head()
    val (df4, _) = graft.io.Manifest.prunedRead(spark, dir,
      Seq(("x", 0L, 105L)))
    assert(df4.filter($"x" <= 105).agg(sum($"x")).as[Long].head() === full)
    // stale manifest under-reads by contract; rebuild refreshes
    Seq((6L, Some(77L), "late")).toDF("x", "y", "tag")
      .coalesce(1).write.mode("append").parquet(dir)
    assert(graft.io.Manifest.buildManifest(spark, dir, Seq("x", "y")) === 4)
    val (df5, st5) = graft.io.Manifest.prunedRead(spark, dir,
      Seq(("x", 5L, 7L)))
    assert(st5 === graft.io.ScanStats(4, 2))
    assert(df5.filter($"x".between(5, 7)).count() === 4)
  }

  test("manifest over a z-ordered layout: a tight 2-D box touches a " +
      "fraction of the files and the answer matches brute force") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("zman").toString
    // 32x32 grid, 16 z-range files: each file is ~one 8x8 z-tile, so
    // the box [0,7]x[0,7] lives in ~1 file (range boundaries are
    // sampled, allow <= 3); a single-dimension sort could not prune
    // the second dimension at all
    val grid = (for { x <- 0 until 32; y <- 0 until 32 }
      yield (x.toLong, y.toLong, x * 32L + y)).toDF("x", "y", "v")
    graft.io.ZOrder.writeZOrdered(grid, dir, col("x"), col("y"), 16)
    graft.io.Manifest.buildManifest(spark, dir, Seq("x", "y"))
    val (pruned, st) = graft.io.Manifest.prunedRead(spark, dir,
      Seq(("x", 0L, 7L), ("y", 0L, 7L)))
    assert(st.filesTotal === 16)
    assert(st.filesRead <= 3,
      s"z-order + manifest should prune the box to <=3 of 16 files, " +
        s"read ${st.filesRead}")
    val got = pruned.filter($"x" <= 7 && $"y" <= 7)
      .select($"x", $"y", $"v").as[(Long, Long, Long)].collect().toSet
    val want = (for { x <- 0 until 8; y <- 0 until 8 }
      yield (x.toLong, y.toLong, x * 32L + y)).toSet
    assert(got === want)
  }

  test("vacuum: expired crash orphans deleted, young and live dirs " +
      "kept; CDC batches pruned by index with keepLast") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val parent = Files.createTempDirectory("vac").toString
    def mk(name: String, mtime: Long): java.io.File = {
      val f = new java.io.File(parent, name)
      f.mkdirs(); f.setLastModified(mtime); f
    }
    val old = System.currentTimeMillis() - 48L * 3600 * 1000
    val oldStaging = mk("docs._staging", old)
    val oldRetired = mk("docs._retired", old)
    val oldMerge = mk("docs._merge_staging", old)
    val oldBloom = mk("._keybloom_staging", old)
    val youngRetired = mk("other._retired", System.currentTimeMillis())
    val live = mk("docs", System.currentTimeMillis() - 96L * 3600 * 1000)
    val removed = graft.io.Vacuum.vacuumOrphans(spark, parent,
      ttlMs = 24L * 3600 * 1000)
    assert(removed.map(new java.io.File(_).getName).toSet ===
      Set("docs._staging", "docs._retired", "docs._merge_staging",
        "._keybloom_staging"))
    assert(!oldStaging.exists() && !oldRetired.exists() &&
      !oldMerge.exists() && !oldBloom.exists())
    assert(youngRetired.exists(), "a young ._retired may be a swap in flight")
    assert(live.exists(), "age never makes LIVE data garbage")
    // CDC batch retention: three merges, keep the newest one
    val dir = Files.createTempDirectory("vaccdc").toString
    Seq((1L, "a")).toDF("k", "p")
      .write.mode("overwrite").partitionBy("p").parquet(dir)
    for (i <- 2L to 4L)
      graft.io.MergeInto.mergeByKeyCdc(spark, dir,
        Seq((i, "a")).toDF("k", "p"), "k", "p")
    val pruned = graft.io.Vacuum.pruneCdcBatches(spark, dir, keepLast = 1)
    assert(pruned.map(new java.io.File(_).getName) ===
      Seq("batch-00000", "batch-00001"))
    assert(new java.io.File(s"$dir._cdc/batch-00002").exists())
    // the NEXT merge still allocates max+1, after the prune
    graft.io.MergeInto.mergeByKeyCdc(spark, dir,
      Seq((9L, "a")).toDF("k", "p"), "k", "p")
    assert(new java.io.File(s"$dir._cdc/batch-00003").exists())
  }

  test("snapshotBefore inverts one merge exactly and chains " +
      "newest-to-oldest back to the first version") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("travel").toString
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"k", $"v", $"p").as[(Long, String, String)].collect().toSet
    val v0 = Set((1L, "one", "a"), (2L, "two", "a"), (3L, "three", "b"))
    v0.toSeq.toDF("k", "v", "p")
      .write.mode("overwrite").partitionBy("p").parquet(dir)
    // v1 = update k=2, insert k=4, delete k=3
    val (_, feed1) = graft.io.MergeInto.mergeByKeyCdc(spark, dir,
      Seq((2L, "two2", "a", false), (4L, "four", "b", false),
        (3L, "x", "b", true)).toDF("k", "v", "p", "_del"),
      "k", "p", deleteWhen = Some(col("_del")))
    val v1 = rows(spark.read.parquet(dir))
    // v2 = move k=1 a->b, delete k=4
    val (_, feed2) = graft.io.MergeInto.mergeByKeyCdc(spark, dir,
      Seq((1L, "one2", "b", false), (4L, "x", "b", true))
        .toDF("k", "v", "p", "_del"),
      "k", "p", deleteWhen = Some(col("_del")))
    val current = spark.read.parquet(dir)
    val back1 = graft.io.MergeInto.snapshotBefore(current, feed2, "k")
    assert(rows(back1) === v1)
    val back2 = graft.io.MergeInto.snapshotBefore(back1, feed1, "k")
    assert(rows(back2) === v0)
  }

  test("key bloom: zero false negatives over every key, point lookups " +
      "prune a scattered layout, engine and driver hash bit-identically") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, input_file_name}
    val dir = Files.createTempDirectory("bloom").toString
    // 2000 keys hash-scattered across 16 files by a NON-key column:
    // every file spans the full key range, so min/max cannot prune
    val n = 2000
    (0 until n).map(i => (i.toLong, s"payload-${i * 37 % 1000}"))
      .toDF("k", "tag").repartition(16, $"tag")
      .write.mode("overwrite").parquet(dir)
    assert(graft.io.KeyBloom.buildKeyBloom(spark, dir, "k") === 16L)
    // ground truth: which file really holds each key
    val homes = spark.read.parquet(dir)
      .select($"k", input_file_name().as("file"))
      .as[(Long, String)].collect().toMap
    // no false negatives, checked EXHAUSTIVELY
    val batches = (0L until n.toLong).grouped(250).toSeq
    batches.foreach { keys =>
      val (files, _) = graft.io.KeyBloom.filesForKeys(spark, dir, keys)
      val fileSet = files.toSet
      keys.foreach(key => assert(fileSet.contains(homes(key)),
        s"bloom lost key $key's true file"))
    }
    // effectiveness: one present key keeps few files, an absent key
    // keeps ~none (fp-bounded; 3 of 16 is far beyond expected fp rate)
    val (one, st1) = graft.io.KeyBloom.filesForKeys(spark, dir, Seq(123L))
    assert(st1.filesTotal === 16 && one.length <= 3)
    assert(one.contains(homes(123L)))
    val (_, stAbsent) = graft.io.KeyBloom.filesForKeys(spark, dir,
      Seq(987654321L))
    assert(stAbsent.filesRead <= 3)
    // lookupRead + exact filter equals the plain scan
    val keys = Seq(5L, 77L, 1999L, 987654321L)
    val (hits, _) = graft.io.KeyBloom.lookupRead(spark, dir, keys)
    val got = hits.filter($"k".isin(keys: _*))
      .as[(Long, String)].collect().toSet
    val want = spark.read.parquet(dir).filter($"k".isin(keys: _*))
      .as[(Long, String)].collect().toSet
    assert(got === want && want.size === 3)
    // (driver/engine hash agreement is pinned by the exhaustive
    // no-false-negative sweep above: a divergent hash convention
    // would probe the wrong bits and lose keys immediately)
  }

  test("sidecar refresh after a merge: untouched rows carried " +
      "byte-identical, stale rows gone, pruning stays lossless") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("refresh").toString
    Seq((1L, "one", "a"), (2L, "two", "a"), (3L, "three", "a"),
        (4L, "four", "b"), (5L, "five", "b"), (6L, "six", "c"))
      .toDF("k", "v", "p")
      .write.mode("overwrite").partitionBy("p").parquet(dir)
    graft.io.Manifest.buildManifest(spark, dir, Seq("k"))
    graft.io.KeyBloom.buildKeyBloom(spark, dir, "k")
    def manifestRows() = spark.read.parquet(s"$dir/._manifest")
      .as[(String, Long, Long, Long)].collect().toSet
    val beforeA = manifestRows().filter(_._1.contains("/p=a/"))
    assert(beforeA.nonEmpty)
    // merge: revise k=4 (b), insert k=7 (b), move k=6 c->d
    val (stats, _) = graft.io.MergeInto.mergeByKeyCdc(spark, dir,
      Seq((4L, "four2", "b", false), (7L, "seven", "b", false),
        (6L, "six2", "d", false)).toDF("k", "v", "p", "_del"),
      "k", "p", deleteWhen = Some(col("_del")))
    assert(stats.touchedPartitions === Seq("b", "c", "d"))
    graft.io.Manifest.refreshManifest(spark, dir, Seq("k"), "p",
      stats.touchedPartitions)
    graft.io.KeyBloom.refreshKeyBloom(spark, dir, "k", "p",
      stats.touchedPartitions)
    val after = manifestRows()
    // untouched partition rows carried over EXACTLY (same file paths,
    // same stats — nothing under p=a was recomputed or rewritten)
    assert(after.filter(_._1.contains("/p=a/")) === beforeA)
    // every manifest row references a file that exists, and every
    // data file has a row — no stale entries for retired files
    def dataFiles(): Set[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory && !f.getName.startsWith("."))
          f.listFiles.toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      walk(new java.io.File(dir)).map(_.getName).toSet
    }
    assert(after.map(r => new java.io.File(r._1).getName) === dataFiles())
    // range pruning stays lossless post-merge, and basePath keeps the
    // partition column alive on the pruned read
    val (pr, _) = graft.io.Manifest.prunedRead(spark, dir,
      Seq(("k", 6L, 7L)))
    assert(pr.filter($"k".between(6, 7)).select($"k", $"v", $"p")
      .as[(Long, String, String)].collect().toSet ===
      Set((6L, "six2", "d"), (7L, "seven", "b")))
    // bloom finds the NEW and the MOVED key after the refresh
    val (hits, _) = graft.io.KeyBloom.lookupRead(spark, dir, Seq(6L, 7L))
    assert(hits.filter($"k".isin(6L, 7L)).select($"k", $"v", $"p")
      .as[(Long, String, String)].collect().toSet ===
      Set((6L, "six2", "d"), (7L, "seven", "b")))
  }

  test("flat compaction with sidecars: CDC feed survives the rewrite, " +
      "stale stat sidecars are dropped loudly, rebuild restores pruning") {
    import spark.implicits._
    val dir = Files.createTempDirectory("compactside").toString
    (0L until 64L).map(i => (i, s"v$i")).toDF("k", "v")
      .repartition(8).write.mode("overwrite").parquet(dir)
    graft.io.Manifest.buildManifest(spark, dir, Seq("k"))
    // a feed batch (history) parked at the conventional location
    Seq((1L, "old", "insert")).toDF("k", "v", "_op")
      .write.parquet(s"$dir._cdc/batch-00000")
    val (b, a, _) = graft.io.Compact.compactParquet(spark, dir,
      targetBytes = 1L << 30)
    assert(b === 8 && a === 1)
    assert(spark.read.parquet(dir).count() === 64)
    // history carried across the generation swap
    assert(spark.read.parquet(s"$dir._cdc/batch-00000")
      .as[(Long, String, String)].head() === ((1L, "old", "insert")))
    // the manifest referenced retired files -> dropped, not stale
    assert(!new java.io.File(s"$dir/._manifest").exists())
    graft.io.Manifest.buildManifest(spark, dir, Seq("k"))
    val (pr, st) = graft.io.Manifest.prunedRead(spark, dir,
      Seq(("k", 10L, 20L)))
    assert(st.filesTotal === 1)
    assert(pr.filter($"k".between(10, 20)).count() === 11)
  }

  test("partitioned compaction: fragmented partitions merge, " +
      "untouched partitions keep their exact files, refresh restores " +
      "the manifest") {
    import spark.implicits._
    val dir = Files.createTempDirectory("compactpart").toString
    (0L until 60L).map(i => (i, "a")).toDF("k", "p")
      .repartition(6).write.mode("overwrite")
      .partitionBy("p").parquet(dir)
    (100L until 110L).map(i => (i, "b")).toDF("k", "p")
      .coalesce(1).write.mode("append").partitionBy("p").parquet(dir)
    graft.io.Manifest.buildManifest(spark, dir, Seq("k"))
    def files(part: String): Map[String, Long] = {
      val f = new java.io.File(s"$dir/p=$part")
      f.listFiles.filter(_.getName.endsWith(".parquet"))
        .map(x => x.getName -> x.lastModified).toMap
    }
    assert(files("a").size === 6)
    val bBefore = files("b")
    val (before, after, compacted) = graft.io.Compact.compactPartitioned(
      spark, dir, targetBytes = 1L << 30)
    assert(before === 7 && after === 2)
    assert(compacted === Seq("p=a"))
    assert(files("a").size === 1)
    assert(files("b") === bBefore,
      "already-compact partition must keep its exact files")
    assert(spark.read.parquet(dir).count() === 70)
    // the table-root manifest is stale for p=a's rewritten files —
    // the incremental refresh (touched partition VALUES) restores it
    graft.io.Manifest.refreshManifest(spark, dir, Seq("k"), "p",
      compacted.map(_.stripPrefix("p=")))
    val (pr, st) = graft.io.Manifest.prunedRead(spark, dir,
      Seq(("k", 100L, 105L)))
    assert(st === graft.io.ScanStats(2, 1))
    assert(pr.filter($"k".between(100, 105)).count() === 6)
  }
}
