package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.VersionLog

/** NESTED schema evolution: RENAME/DROP/ALTER COLUMN TYPE on dotted
  * paths inside struct columns — metadata-only commits whose colMap
  * carries full dotted paths, with the read/write projections
  * rebuilding the affected structs (UpdateFields — null parents stay
  * null, extraction simplifies back to the source column so pushdown
  * and stats pruning survive). A renamed nested field lands at the
  * END of its parent struct (the rebuild's natural order, declared to
  * match); top-level renames keep their position as before.
  */
class NestedSchemaEvolutionSpec extends AnyFunSuite with StreamDrain {
  import TestSpark._

  private def seed(): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("nested").toString
    val df = Seq(
      (1L, Some((10L, "a1")), "p1"),
      (2L, Some((20L, "a2")), "p1"),
      (3L, None: Option[(Long, String)], "p2"))
      .toDF("k", "s", "p")
      .select($"k",
        $"s".cast("struct<x:bigint,w:string>").as("s"), $"p")
    VersionLog.init(spark, dir, df.coalesce(1))
    dir
  }

  test("nested RENAME s.x -> y: metadata-only, values flow, null " +
      "structs stay null, appends under the new name land, time " +
      "travel reads the old name, round-trip rename restores it") {
    import spark.implicits._
    val dir = seed()
    val filesBefore = VersionLog.snapshot(spark, dir, None).files
    VersionLog.alterRenameColumnCommit(spark, dir, "s.x", "y") // v2
    assert(VersionLog.snapshot(spark, dir, None).files ===
      filesBefore, "nested rename must touch no file")
    val t = VersionLog.read(spark, dir)
    // the renamed field moves to the END of its parent struct
    assert(t.schema("s").dataType ===
      StructType(Seq(StructField("w", StringType),
        StructField("y", LongType))))
    val got = t.select($"k", $"s.y", $"s.w").as[(Long,
      Option[Long], Option[String])].collect().toSet
    assert(got === Set((1L, Some(10L), Some("a1")),
      (2L, Some(20L), Some("a2")), (3L, None, None)))
    // a NULL struct stays null — not a struct of nulls
    assert(t.filter($"k" === 3L).select($"s".isNull)
      .as[Boolean].head())
    // append under the NEW name: written physically under the OLD
    // leaf, so every batch keeps one nested layout
    VersionLog.append(spark, dir,
      Seq((4L, "a4", 40L, "p2")).toDF("k", "w", "y", "p")
        .select($"k", struct($"w", $"y").as("s"), $"p").coalesce(1))
    val t2 = VersionLog.read(spark, dir)
    assert(t2.count() === 4L)
    // time travel: v1 reads the original name
    val v1 = VersionLog.read(spark, dir, Some(1L))
    assert(v1.schema("s").dataType.asInstanceOf[StructType]
      .fieldNames.toSeq === Seq("x", "w"))
    assert(v1.select($"s.x").where($"k" === 1L)
      .as[Long].head() === 10L)
    // rename back: identity mapping, data intact
    VersionLog.alterRenameColumnCommit(spark, dir, "s.y", "x")
    val t3 = VersionLog.read(spark, dir)
    assert(t3.select($"k", $"s.x").where($"k" === 4L)
      .as[(Long, Long)].head() === ((4L, 40L)))
  }

  test("nested rename append writes the PHYSICAL leaf: footers of " +
      "the new batch carry the original field name") {
    import spark.implicits._
    val dir = seed()
    VersionLog.alterRenameColumnCommit(spark, dir, "s.x", "y")
    VersionLog.append(spark, dir,
      Seq((4L, 40L, "a4", "p2")).toDF("k", "y", "w", "p")
        .select($"k", struct($"w", $"y").as("s"), $"p").coalesce(1))
    val snap = VersionLog.snapshot(spark, dir, None)
    val newFile = snap.files.filterNot(
      VersionLog.snapshot(spark, dir, Some(2L)).files.toSet)
    assert(newFile.size === 1)
    val phys = spark.read.parquet(s"$dir/${newFile.head}")
    assert(phys.schema("s").dataType.asInstanceOf[StructType]
      .fieldNames.toSet === Set("x", "w"),
      "the batch must store the physical leaf 'x', not 'y'")
    // and the logical read still serves both batches under 'y'
    val ys = VersionLog.read(spark, dir).select($"s.y")
      .as[Option[Long]].collect().toSet
    assert(ys === Set(Some(10L), Some(20L), None, Some(40L)))
  }

  test("nested DROP s.w: metadata-only hide, re-read shows the " +
      "narrowed struct, compaction SHEDS the retired nested field " +
      "from repacked footers; dropping the only field refuses") {
    import spark.implicits._
    val dir = seed()
    VersionLog.append(spark, dir,
      Seq((4L, (40L, "a4"), "p2")).toDF("k", "s", "p")
        .select($"k", $"s".cast("struct<x:bigint,w:string>").as("s"),
          $"p").coalesce(1))
    VersionLog.alterDropColumnCommit(spark, dir, "s.w")
    val t = VersionLog.read(spark, dir)
    assert(t.schema("s").dataType ===
      StructType(Seq(StructField("x", LongType))))
    assert(t.select($"s.x").as[Option[Long]].collect().toSet ===
      Set(Some(10L), Some(20L), None, Some(40L)))
    // the only REMAINING field cannot be dropped
    val e = intercept[IllegalArgumentException] {
      VersionLog.alterDropColumnCommit(spark, dir, "s.x")
    }
    assert(e.getMessage.contains("only field"), e.getMessage)
    // compaction sheds the dead nested bytes from repacked files
    val (in, out, _) = VersionLog.compactSnapshot(spark, dir)
    assert(in >= 2 && out >= 1)
    val snap = VersionLog.snapshot(spark, dir, None)
    snap.files.foreach { f =>
      val phys = spark.read.parquet(s"$dir/$f")
      assert(phys.schema("s").dataType.asInstanceOf[StructType]
        .fieldNames.toSeq === Seq("x"),
        s"repacked $f must not carry the dropped nested field")
    }
    assert(VersionLog.read(spark, dir).select($"s.x")
      .as[Option[Long]].collect().toSet ===
      Set(Some(10L), Some(20L), None, Some(40L)))
  }

  test("nested ALTER COLUMN TYPE s.x bigint stays refused for " +
      "narrowing; int -> bigint widens metadata-only") {
    import spark.implicits._
    val dir = Files.createTempDirectory("nestedw").toString
    val df = Seq((1L, (10, "a1")), (2L, (20, "a2")))
      .toDF("k", "s")
      .select($"k", $"s".cast("struct<x:int,w:string>").as("s"))
    VersionLog.init(spark, dir, df.coalesce(1))
    val filesBefore = VersionLog.snapshot(spark, dir, None).files
    VersionLog.alterColumnTypeCommit(spark, dir, "s.x", LongType)
    assert(VersionLog.snapshot(spark, dir, None).files === filesBefore)
    val t = VersionLog.read(spark, dir)
    assert(t.schema("s").dataType ===
      StructType(Seq(StructField("x", LongType),
        StructField("w", StringType))))
    assert(t.select($"s.x").as[Long].collect().toSet ===
      Set(10L, 20L))
    // append at the WIDE type unions with the narrow batch
    VersionLog.append(spark, dir,
      Seq((3L, (3000000000L, "a3"))).toDF("k", "s")
        .select($"k", $"s".cast("struct<x:bigint,w:string>").as("s"))
        .coalesce(1))
    assert(VersionLog.read(spark, dir).select($"s.x")
      .as[Long].collect().toSet === Set(10L, 20L, 3000000000L))
    intercept[IllegalArgumentException] {
      VersionLog.alterColumnTypeCommit(spark, dir, "s.x", IntegerType)
    }
  }

  test("nested rename SWAP (s.x -> tmpc, s.w -> x, s.tmpc -> w): " +
      "the mapping composes without scrambling, writes round-trip") {
    import spark.implicits._
    val dir = seed()
    VersionLog.alterRenameColumnCommit(spark, dir, "s.x", "tmpc")
    VersionLog.alterRenameColumnCommit(spark, dir, "s.w", "x")
    VersionLog.alterRenameColumnCommit(spark, dir, "s.tmpc", "w")
    val t = VersionLog.read(spark, dir)
    // logical x is the OLD w (string), logical w the OLD x (long)
    assert(t.select($"s.x").where($"k" === 1L)
      .as[String].head() === "a1")
    assert(t.select($"s.w").where($"k" === 1L)
      .as[Long].head() === 10L)
    VersionLog.append(spark, dir,
      Seq((5L, "a5", 50L, "p2")).toDF("k", "x", "w", "p")
        .select($"k", struct($"x", $"w").as("s"), $"p").coalesce(1))
    val got = VersionLog.read(spark, dir)
      .select($"k", $"s.x", $"s.w")
      .as[(Long, Option[String], Option[Long])].collect().toSet
    assert(got === Set((1L, Some("a1"), Some(10L)),
      (2L, Some("a2"), Some(20L)), (3L, None, None),
      (5L, Some("a5"), Some(50L))))
  }

  test("renaming a PARENT struct carries its children's nested " +
      "mappings: RENAME s.x -> y, then s -> t reads t.y") {
    import spark.implicits._
    val dir = seed()
    VersionLog.alterRenameColumnCommit(spark, dir, "s.x", "y")
    VersionLog.alterRenameColumnCommit(spark, dir, "s", "t")
    val t = VersionLog.read(spark, dir)
    assert(t.columns.toSeq === Seq("k", "t", "p"))
    assert(t.select($"t.y").where($"k" === 2L)
      .as[Long].head() === 20L)
    // and a further nested rename under the NEW parent name works
    VersionLog.alterRenameColumnCommit(spark, dir, "t.w", "label")
    assert(VersionLog.read(spark, dir).select($"t.label")
      .where($"k" === 1L).as[String].head() === "a1")
  }

  test("nested DDL guards: unknown segment, path through an array, " +
      "rename to an existing sibling, dotted new name — all refuse " +
      "loudly") {
    import spark.implicits._
    val dir = seed()
    intercept[IllegalArgumentException] {
      VersionLog.alterRenameColumnCommit(spark, dir, "s.nope", "y")
    }
    intercept[IllegalArgumentException] {
      VersionLog.alterRenameColumnCommit(spark, dir, "s.x.deep", "y")
    }
    intercept[IllegalArgumentException] {
      VersionLog.alterRenameColumnCommit(spark, dir, "s.x", "w")
    }
    intercept[IllegalArgumentException] {
      VersionLog.alterRenameColumnCommit(spark, dir, "s.x", "a.b")
    }
    val adir = Files.createTempDirectory("nestedarr").toString
    VersionLog.init(spark, adir,
      Seq((1L, Seq((1L, "e")))).toDF("k", "ents")
        .select($"k",
          $"ents".cast("array<struct<b:bigint,l:string>>").as("ents"))
        .coalesce(1))
    val e = intercept[IllegalArgumentException] {
      VersionLog.alterRenameColumnCommit(spark, adir, "ents.b", "q")
    }
    assert(e.getMessage.contains("array") ||
      e.getMessage.contains("not a struct"), e.getMessage)
  }

  test("CHECK constraints RIDE a nested rename: the stored SQL " +
      "rewrites s.x to its new path and keeps gating writes; nested " +
      "DROP of a referenced field refuses") {
    import spark.implicits._
    val dir = seed()
    VersionLog.addConstraintCommit(spark, dir, "pos_x",
      "s.x IS NULL OR s.x > 0")
    VersionLog.alterRenameColumnCommit(spark, dir, "s.x", "y")
    val snap = VersionLog.snapshot(spark, dir, None)
    val sql = snap.constraints.find(_._1 == "pos_x").get._2
    assert(sql.contains("y") && !sql.matches(".*\\bx\\b.*"), sql)
    // the rewritten constraint still gates: a violating append aborts
    val bad = Seq((9L, "bad", -5L, "p1")).toDF("k", "w", "y", "p")
      .select($"k", struct($"w", $"y").as("s"), $"p")
    val e = intercept[IllegalArgumentException] {
      VersionLog.append(spark, dir, bad.coalesce(1))
    }
    assert(e.getMessage.contains("pos_x"), e.getMessage)
    // DROP of the (renamed) referenced field refuses while the
    // constraint stands
    val e2 = intercept[IllegalArgumentException] {
      VersionLog.alterDropColumnCommit(spark, dir, "s.y")
    }
    assert(e2.getMessage.contains("pos_x"), e2.getMessage)
  }

  test("nested ADD COLUMN s.extra: metadata-only, existing rows read " +
      "NULL, writes populate; a re-ADD of a dropped nested name gets " +
      "a FRESH physical identity so old bytes never resurface; the " +
      "SQL door spells it ADD COLUMNS (s.more STRING)") {
    import spark.implicits._
    val dir = seed() // s{x:bigint, w:string}
    VersionLog.alterAddColumnCommit(spark, dir, "s.extra", LongType)
    val t = VersionLog.read(spark, dir)
    assert(t.schema("s").dataType === StructType(Seq(
      StructField("x", LongType), StructField("w", StringType),
      StructField("extra", LongType))))
    assert(t.select($"s.extra").as[Option[Long]].collect().toSet ===
      Set(None), "existing rows read the new nested field as NULL")
    VersionLog.append(spark, dir,
      Seq((4L, 40L, "a4", 99L, "p2")).toDF("k", "x", "w", "extra", "p")
        .select($"k", struct($"x", $"w", $"extra").as("s"), $"p")
        .coalesce(1))
    assert(VersionLog.read(spark, dir).where($"k" === 4L)
      .select($"s.extra").as[Long].head() === 99L)
    // RE-ADD: drop s.x, add s.x back — the natural physical path is
    // retired, so the re-add mints a fresh `#v` leaf and the old
    // bytes (10, 20, 40) can never resurface under the new name
    VersionLog.alterDropColumnCommit(spark, dir, "s.x")
    VersionLog.alterAddColumnCommit(spark, dir, "s.x", LongType)
    assert(VersionLog.read(spark, dir).select($"s.x")
      .as[Option[Long]].collect().toSet === Set(None),
      "re-added nested field must NOT leak the dropped bytes")
    VersionLog.append(spark, dir,
      Seq((5L, "a5", 0L, 7L, "p1")).toDF("k", "w", "extra", "x", "p")
        .select($"k", struct($"w", $"extra", $"x").as("s"), $"p")
        .coalesce(1))
    val t2 = VersionLog.read(spark, dir)
    assert(t2.where($"k" === 5L).select($"s.x").as[Long].head() === 7L)
    assert(t2.where($"k" === 1L).select($"s.x".isNull)
      .as[Boolean].head())
    // SQL door
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.catalog.GraftCatalog].getName)
    spark.sql(s"ALTER TABLE graft.`$dir` ADD COLUMNS (s.more STRING)")
    assert(VersionLog.read(spark, dir).schema("s").dataType
      .asInstanceOf[StructType].fieldNames.contains("more"))
    // guards: duplicate field, non-struct parent
    intercept[IllegalArgumentException] {
      VersionLog.alterAddColumnCommit(spark, dir, "s.extra", LongType)
    }
    intercept[IllegalArgumentException] {
      VersionLog.alterAddColumnCommit(spark, dir, "k.sub", LongType)
    }
  }

  test("UPDATE on NESTED fields: SET s.x rewrites into one struct " +
      "assignment per head; sibling leaves compose and SEE THE OLD " +
      "ROW; null parents stay null; ambiguous targets refuse; the " +
      "SQL door accepts the dotted spelling after a nested rename") {
    import spark.implicits._
    val dir = seed() // k=1 s{10,a1}, k=2 s{20,a2}, k=3 s null
    // sibling leaves in one statement: both evaluate the OLD row
    val (n, _) = VersionLog.updateWhereCommit(spark, dir,
      Seq("s.x" -> length($"s.w").cast("long"),
        "s.w" -> concat($"s.w", lit("+"), $"s.x".cast("string"))),
      $"k" === 1L)
    assert(n === 1L)
    assert(VersionLog.read(spark, dir).where($"k" === 1L)
      .select($"s.x", $"s.w").as[(Long, String)].head() ===
      ((2L, "a1+10")))
    // a matched row whose parent struct is NULL stays null — the
    // withField door never fabricates a struct of nulls
    val (n2, _) = VersionLog.updateWhereCommit(spark, dir,
      Seq("s.x" -> lit(777L)), $"k" === 3L)
    assert(n2 === 1L)
    assert(VersionLog.read(spark, dir).where($"k" === 3L)
      .select($"s".isNull).as[Boolean].head())
    // ambiguous / conflicting targets refuse loudly
    intercept[IllegalArgumentException] {
      VersionLog.updateWhereCommit(spark, dir,
        Seq("s" -> struct(lit(1L).as("x"), lit("z").as("w")),
          "s.x" -> lit(2L)), lit(true))
    }
    intercept[IllegalArgumentException] {
      VersionLog.updateWhereCommit(spark, dir,
        Seq("s.x" -> lit(1L), "s.x" -> lit(2L)), lit(true))
    }
    // SQL door, dotted spelling, composed with a nested RENAME
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.catalog.GraftCatalog].getName)
    spark.sql(s"ALTER TABLE graft.`$dir` RENAME COLUMN s.x TO y")
    spark.sql(s"UPDATE graft.`$dir` SET s.y = s.y * 10 WHERE k = 2")
    assert(VersionLog.read(spark, dir).where($"k" === 2L)
      .select($"s.y").as[Long].head() === 200L)
  }

  test("CDC replay ACROSS a nested rename: images written under the " +
      "old nested name replay under the CURRENT one") {
    import spark.implicits._
    val dir = Files.createTempDirectory("nestedcdc").toString
    def mk(k: Long, x: Long, w: String, p: String) =
      Seq((k, (x, w), p)).toDF("k", "s", "p")
        .select($"k", $"s".cast("struct<x:bigint,w:string>").as("s"),
          $"p")
    VersionLog.init(spark, dir, mk(1L, 10L, "a1", "p1")
      .unionByName(mk(2L, 20L, "a2", "p2")),
      partitionBy = Some("p")) // v1
    VersionLog.mergeByKeyCdc(spark, dir, // v2: explicit feed, OLD name
      mk(2L, 21L, "a2b", "p2"), "k", "p")
    // STREAMING twin: a checkpointed stream consumes v1..v2 under the
    // OLD nested name, stops, and the rename boundary lands while no
    // stream runs
    val ckpt = Files.createTempDirectory("nestedcdc-ck").toString
    val sunk =
      new scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]
    def startStream() = spark.readStream.format("graft-cdc").load(dir)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val leaf = b.schema("s").dataType
          .asInstanceOf[StructType].fieldNames
          .find(n => n == "x" || n == "y").get
        val rows = b.select($"k", col(s"s.$leaf"), $"_feed_batch")
          .as[(Long, Long, Long)].collect()
        sunk.synchronized { sunk ++= rows }
        ()
      }
      .option("checkpointLocation", ckpt).outputMode("append").start()
    val q1 = startStream()
    try {
      drain(q1)
      assert(sunk.synchronized(sunk.size) === 4) // 2 init + pre/post
    } finally q1.stop()
    sunk.synchronized(sunk.clear())
    VersionLog.alterRenameColumnCommit(spark, dir, "s.x", "y") // v3
    VersionLog.append(spark, dir, // v4: new name
      Seq((3L, ("a3", 30L), "p1")).toDF("k", "s", "p")
        .select($"k", $"s".cast("struct<w:string,y:bigint>").as("s"),
          $"p"), partitionBy = Some("p"))
    // restart on the SAME checkpoint: the nested boundary crosses —
    // only v4's insert arrives, under the CURRENT nested name
    val q2 = startStream()
    try {
      drain(q2)
      assert(sunk.synchronized(sunk.toSet) === Set((3L, 30L, 4L)),
        s"restart across the nested rename must deliver v4's " +
          s"insert, got ${sunk.synchronized(sunk.toSet)}")
    } finally q2.stop()
    val feed = spark.read.format("graft-cdc").load(dir)
    assert(feed.schema("s").dataType.asInstanceOf[StructType]
      .fieldNames.toSet === Set("w", "y"),
      "replayed images must surface the CURRENT nested names")
    val opRank = when($"_op".isin("insert", "update_post"), 2)
      .when($"_op" === "delete", 1).otherwise(lit(0))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"k").orderBy($"_feed_batch".desc, opRank.desc)
    val mirrored = feed.withColumn("_rn", row_number().over(w))
      .filter($"_rn" === 1 && $"_op".isin("insert", "update_post"))
      .select($"k", $"s.y", $"s.w")
      .as[(Long, Long, String)].collect().toSet
    assert(mirrored === Set((1L, 10L, "a1"), (2L, 21L, "a2b"),
      (3L, 30L, "a3")))
  }

  // ---- DDL through ARRAY/MAP element types (round 18) --------------
  // The canonical doc schema IS `entities: array<struct<…>>`; field
  // DDL inside element types rides the same dotted-path machinery
  // with `element` / `key` / `value` MARKER segments (Delta's
  // spelling), still metadata-only — the read/write projections
  // rebuild through transform()/transform_keys()/transform_values().

  /** k, entities: array<struct<label:string, begin:int>>, p — with an
    * empty array and a NULL array row (both must survive rebuilds).
    */
  private def seedArr(): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("nestarr").toString
    val df = Seq(
      (1L, Seq(("a", 1), ("b", 2)), "p1"),
      (2L, Seq(("c", 3)), "p1"),
      (3L, Seq.empty[(String, Int)], "p2"),
      (4L, null.asInstanceOf[Seq[(String, Int)]], "p2"))
      .toDF("k", "entities", "p")
      .select($"k", $"entities"
        .cast("array<struct<label:string,begin:int>>").as("entities"),
        $"p")
    VersionLog.init(spark, dir, df.coalesce(1))
    dir
  }

  test("ARRAY-element RENAME entities.element.label -> tag: " +
      "metadata-only transform() rebuild — values flow, empty arrays " +
      "stay empty, null arrays stay null, appends land physically " +
      "under the OLD leaf, time travel reads the old name") {
    import spark.implicits._
    val dir = seedArr()
    val filesBefore = VersionLog.snapshot(spark, dir, None).files
    VersionLog.alterRenameColumnCommit(spark, dir,
      "entities.element.label", "tag") // v2
    val snap2 = VersionLog.snapshot(spark, dir, None)
    assert(snap2.files === filesBefore,
      "array-element rename must touch no file")
    assert(snap2.colMap.contains(
      "entities.element.tag" -> "entities.element.label"))
    val t = VersionLog.read(spark, dir)
    // renamed leaf lands at the END of the element struct
    assert(t.schema("entities").dataType ===
      ArrayType(StructType(Seq(StructField("begin", IntegerType),
        StructField("tag", StringType))), true))
    val got = t.select($"k",
        expr("transform(entities, e -> e.tag)"),
        expr("transform(entities, e -> e.begin)"))
      .as[(Long, Option[Seq[String]], Option[Seq[Int]])]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) === ((Some(Seq("a", "b")), Some(Seq(1, 2)))))
    assert(got(2L) === ((Some(Seq("c")), Some(Seq(3)))))
    assert(got(3L) === ((Some(Nil), Some(Nil))),
      "an EMPTY array must stay empty, not null")
    assert(got(4L) === ((None, None)),
      "a NULL array must stay null, not become empty/struct-of-nulls")
    // append under the NEW shape: stored physically under 'label'
    VersionLog.append(spark, dir,
      Seq((5L, Seq((7, "d")), "p2")).toDF("k", "entities", "p")
        .select($"k", $"entities"
          .cast("array<struct<begin:int,tag:string>>").as("entities"),
          $"p").coalesce(1)) // v3
    val newFile = VersionLog.snapshot(spark, dir, None).files
      .filterNot(snap2.files.toSet)
    assert(newFile.size === 1)
    val physT = spark.read.parquet(s"$dir/${newFile.head}")
      .schema("entities").dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType].fieldNames.toSet
    assert(physT === Set("begin", "label"),
      "the batch must store the physical element leaf 'label'")
    assert(VersionLog.read(spark, dir)
      .select(expr("transform(entities, e -> e.tag)"))
      .where($"k" === 5L).as[Seq[String]].head() === Seq("d"))
    // time travel to v1: the ORIGINAL element names
    val v1 = VersionLog.read(spark, dir, Some(1L))
    assert(v1.schema("entities").dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType].fieldNames.toSeq ===
      Seq("label", "begin"))
  }

  test("ARRAY-element DROP entities.element.begin hides the leaf; " +
      "re-ADD mints a fresh #v physical so old bytes never " +
      "resurface; compaction sheds the retired element leaf") {
    import spark.implicits._
    val dir = seedArr()
    VersionLog.alterDropColumnCommit(spark, dir,
      "entities.element.begin") // v2
    val t = VersionLog.read(spark, dir)
    assert(t.schema("entities").dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType].fieldNames.toSeq ===
      Seq("label"))
    // re-add the same leaf name: fresh physical identity, reads NULL
    VersionLog.alterAddColumnCommit(spark, dir,
      "entities.element.begin", LongType) // v3
    val snap3 = VersionLog.snapshot(spark, dir, None)
    assert(snap3.colMap.exists { case (l, p) =>
      l == "entities.element.begin" &&
        p.startsWith("entities.element.begin#v") },
      s"re-added element leaf must mint a fresh physical, " +
        s"got ${snap3.colMap}")
    val re = VersionLog.read(spark, dir)
      .select($"k", expr("transform(entities, e -> e.begin)"))
      .where($"k" === 1L).as[(Long, Seq[Option[Long]])].head()
    assert(re._2 === Seq(None, None),
      "old begin bytes must NOT leak into the re-added leaf")
    // writes under the re-added leaf land under the #v physical
    VersionLog.append(spark, dir,
      Seq((6L, Seq(("e", Some(60L))), "p1")).toDF("k", "entities", "p")
        .select($"k", $"entities"
          .cast("array<struct<label:string,begin:bigint>>")
          .as("entities"), $"p").coalesce(1)) // v4
    assert(VersionLog.read(spark, dir)
      .select(expr("transform(entities, e -> e.begin)"))
      .where($"k" === 6L).as[Seq[Option[Long]]].head() ===
      Seq(Some(60L)))
    // compaction sheds the RETIRED element leaf from repacked footers
    // (two one-file batches bin-pack into one at the default target)
    val (_, _, v5) = VersionLog.compactSnapshot(spark, dir)
    val snap5 = VersionLog.snapshot(spark, dir, None)
    assert(v5 === snap5.version)
    val shed = snap5.files.forall { f =>
      val et = spark.read.parquet(s"$dir/$f").schema("entities")
        .dataType.asInstanceOf[ArrayType].elementType
        .asInstanceOf[StructType].fieldNames.toSet
      !et.contains("begin") // the RETIRED plain 'begin' never remains
    }
    assert(shed, "repacked footers must not carry the retired leaf")
    assert(VersionLog.read(spark, dir)
      .select(expr("transform(entities, e -> e.begin)"))
      .where($"k" === 6L).as[Seq[Option[Long]]].head() ===
      Seq(Some(60L)), "the re-added #v leaf survives compaction")
  }

  test("ARRAY-element RETYPE widens int -> bigint metadata-only; " +
      "MAP value rename m.value.x -> y rebuilds via " +
      "transform_values") {
    import spark.implicits._
    // array retype
    val dir = seedArr()
    val filesBefore = VersionLog.snapshot(spark, dir, None).files
    VersionLog.alterColumnTypeCommit(spark, dir,
      "entities.element.begin", LongType)
    assert(VersionLog.snapshot(spark, dir, None).files === filesBefore)
    val t = VersionLog.read(spark, dir)
    assert(t.schema("entities").dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType]("begin").dataType ===
      LongType)
    assert(t.select(expr("transform(entities, e -> e.begin)"))
      .where($"k" === 1L).as[Seq[Long]].head() === Seq(1L, 2L))
    // narrowing refuses
    intercept[IllegalArgumentException] {
      VersionLog.alterColumnTypeCommit(spark, dir,
        "entities.element.begin", IntegerType)
    }
    // map VALUE rename
    val dir2 = Files.createTempDirectory("nestmap").toString
    VersionLog.init(spark, dir2,
      Seq((1L, Map("k1" -> (10L, "v1")), "p1"))
        .toDF("k", "m", "p")
        .select($"k",
          $"m".cast("map<string,struct<x:bigint,w:string>>").as("m"),
          $"p").coalesce(1))
    VersionLog.alterRenameColumnCommit(spark, dir2, "m.value.x", "y")
    val m = VersionLog.read(spark, dir2)
    assert(m.schema("m").dataType.asInstanceOf[MapType].valueType
      .asInstanceOf[StructType].fieldNames.toSeq === Seq("w", "y"))
    assert(m.select(expr("m['k1'].y")).as[Long].head() === 10L)
    // and a write under the new value shape lands physically as 'x'
    VersionLog.append(spark, dir2,
      Seq((2L, Map("k2" -> ("v2", 20L)), "p1"))
        .toDF("k", "m", "p")
        .select($"k",
          $"m".cast("map<string,struct<w:string,y:bigint>>").as("m"),
          $"p").coalesce(1))
    assert(VersionLog.read(spark, dir2)
      .select(expr("m['k2'].y")).where($"k" === 2L)
      .as[Long].head() === 20L)
  }

  test("ARRAY/MAP marker guards: a trailing marker refuses, a " +
      "non-element segment under an array refuses naming the " +
      "spelling, UPDATE SET through a marker refuses") {
    import spark.implicits._
    val dir = seedArr()
    val e1 = intercept[IllegalArgumentException] {
      VersionLog.alterRenameColumnCommit(spark, dir,
        "entities.element", "items")
    }
    assert(e1.getMessage.contains("marker"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      VersionLog.alterRenameColumnCommit(spark, dir,
        "entities.label", "tag")
    }
    assert(e2.getMessage.contains(".element."), e2.getMessage)
    val e3 = intercept[IllegalArgumentException] {
      VersionLog.updateWhereCommit(spark, dir,
        Seq("entities.element.begin" -> lit(0)), $"k" === 1L)
    }
    assert(e3.getMessage.contains("not assignable"), e3.getMessage)
  }
}
