package graft

import java.nio.file.{Files, Path => JPath, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.io.Parquet
import graft.relational.Tables

/** `graft.io.Parquet.read` gives what `spark.read.parquet` gives — the
  * same schema, or on every fallback input the same error — without the
  * schema-inference job.
  */
class ParquetReadSpec extends AnyFunSuite with StreamDrain {
  import TestSpark._
  import spark.implicits._

  /** The benchmark's fixture and the sf0.01 tables next to the tests' own;
    * both are only read.
    */
  private val fixtures =
    Seq(Paths.get("perfbench/data/sf0.001"), Paths.get(sf).resolveSibling("sf0.01"))

  private def tablesIn(dir: JPath): Seq[String] =
    Files.list(dir).iterator.asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".parquet")).toSeq.sorted

  private def withTempDir(body: JPath => Unit): Unit = {
    val dir = Files.createTempDirectory("parquet-read-spec")
    try body(dir)
    finally Files.walk(dir).sorted(java.util.Comparator.reverseOrder[JPath]())
      .forEach(p => Files.deleteIfExists(p))
  }

  private def withConf(key: String, value: String)(body: => Unit): Unit = {
    val before = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** The schema, or the error's class and message. A failed job's message
    * names its stage and task ids and ends in the calling stack, which
    * differ between two runs of the same read; both are taken out.
    */
  private def outcome(read: => DataFrame): Either[String, StructType] =
    try Right(read.schema)
    catch { case NonFatal(e) =>
      val msg = String.valueOf(e.getMessage).split("\nDriver stacktrace").head
      Left(e.getClass.getName + ": " +
        msg.replaceAll("""(stage|TID) [\d.]+""", "$1 N"))
    }

  private def sameAsSpark(path: String): Either[String, StructType] = {
    val ours = outcome(Parquet.read(spark, path))
    assert(ours === outcome(spark.read.parquet(path)), path)
    ours
  }

  /** `df` written as one parquet file, moved to `dest`. */
  private def writeOneFile(df: DataFrame, dest: JPath): Unit = {
    withTempDir { tmp =>
      df.coalesce(1).write.parquet(tmp.resolve("out").toString)
      val part = Files.list(tmp.resolve("out")).iterator.asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, dest)
    }
  }

  /** Job call sites started while `body` runs on this thread. Listener
    * events arrive in order, so once a marker job run after `body` is
    * seen, every job `body` started has been seen too; the wait for it
    * is bounded.
    */
  private def jobsDuring(body: => Unit): Seq[String] = {
    val group = s"parquet-read-spec-${System.nanoTime()}"
    val jobs = new ConcurrentLinkedQueue[String]()
    val markerSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null &&
            j.properties.getProperty("spark.jobGroup.id") == group) {
          if (j.properties.getProperty("spark.job.description") == "marker")
            markerSeen.countDown()
          else jobs.add(j.stageInfos.headOption.fold("?")(_.name))
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "read")
      body
      sc.setJobDescription("marker")
      spark.range(1).count()
      assert(markerSeen.await(60, TimeUnit.SECONDS),
        "marker job not seen within 60 s")
      jobs.asScala.toSeq
    } finally {
      sc.clearJobGroup()
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
  }

  test("the schema is Spark's for every fixture table") {
    for (dir <- fixtures; t <- tablesIn(dir)) {
      val path = dir.resolve(t).toString
      assert(sameAsSpark(path).isRight, path)
    }
  }

  test("events: the schema is Spark's with nanosAsLong on and off, " +
      "TIMESTAMP(NANOS) included") {
    withTempDir { tmp =>
      val nanos = tmp.resolve("nanos.parquet")
      val schema = MessageTypeParser.parseMessageType(
        "message events { required int64 event_id; " +
          "required int64 ts (TIMESTAMP(NANOS,false)); }")
      val w = ExampleParquetWriter.builder(new HPath(nanos.toUri))
        .withType(schema).build()
      try w.write(new SimpleGroupFactory(schema).newGroup()
        .append("event_id", 1L).append("ts", 1700000000123456789L))
      finally w.close()
      val paths = fixtures.map(_.resolve("events.parquet").toString) :+
        nanos.toString
      for (flag <- Seq("true", "false")) withConf(
          "spark.sql.legacy.parquet.nanosAsLong", flag) {
        paths.foreach(sameAsSpark)
        val nanosTs = sameAsSpark(nanos.toString).map(_("ts").dataType)
        if (flag == "true") assert(nanosTs === Right(LongType))
        else assert(nanosTs.isLeft, "TIMESTAMP(NANOS) read without nanosAsLong")
      }
    }
  }

  test("a Spark-written directory of several part files") {
    withTempDir { tmp =>
      val dir = tmp.resolve("multi").toString
      spark.range(0, 2000, 1, 4).selectExpr("id", "cast(id as int) as i",
          "cast(id as string) as s", "id / 7.0 as d",
          "date_add(date'2020-01-01', cast(id as int)) as day",
          "timestamp_micros(id) as ts", "cast(id as decimal(12, 2)) as dec",
          "array(id, id + 1) as arr", "named_struct('a', id, 'b', 'x') as st",
          "map('k', id) as m")
        .write.parquet(dir)
      val parts = Files.list(Paths.get(dir)).iterator.asScala
        .count(_.getFileName.toString.endsWith(".parquet"))
      assert(parts === 4)
      assert(sameAsSpark(dir).isRight)
    }
  }

  test("files with different schemas: the first by path wins, as in Spark") {
    withTempDir { tmp =>
      val dir = Files.createDirectory(tmp.resolve("mixed"))
      writeOneFile(Seq((1L, "a")).toDF("a", "b"), dir.resolve("x.parquet"))
      writeOneFile(Seq((2L, 2.0)).toDF("a", "c"), dir.resolve("Y.parquet"))
      // 'Y' sorts before 'x': Spark orders by the full path string
      val first = spark.read.parquet(dir.resolve("Y.parquet").toString).schema
      assert(sameAsSpark(dir.toString) === Right(first))
    }
  }

  test("every fallback gives Spark's schema or Spark's error") {
    withTempDir { tmp =>
      val a = Seq((1L, "a")).toDF("a", "b")
      val b = Seq((2L, 2.0)).toDF("a", "c")

      // mergeSchema, set as a conf: every file's schema, merged
      val mixed = Files.createDirectory(tmp.resolve("mixed"))
      writeOneFile(a, mixed.resolve("x.parquet"))
      writeOneFile(b, mixed.resolve("y.parquet"))
      withConf("spark.sql.parquet.mergeSchema", "true") {
        assert(sameAsSpark(mixed.toString).map(_.fieldNames.toSeq) ===
          Right(Seq("a", "b", "c")))
      }

      // summary files: Spark takes the schema from them, not from the
      // data file (which sorts first: '0' < '_')
      for (summary <- Seq("_metadata", "_common_metadata")) {
        val dir = Files.createDirectory(tmp.resolve(s"summary$summary"))
        writeOneFile(a, dir.resolve("0.parquet"))
        writeOneFile(b, dir.resolve(summary))
        assert(sameAsSpark(dir.toString).map(_.fieldNames.toSeq) ===
          Right(Seq("a", "c")), summary)
      }

      // a subdirectory: partition discovery adds its column, typed from
      // the directory names unless a given schema names it
      val parted = tmp.resolve("parted").toString
      Seq((1L, "p1"), (2L, "p2")).toDF("a", "p").write.partitionBy("p")
        .parquet(parted)
      assert(sameAsSpark(parted).map(_.fieldNames.toSeq) === Right(Seq("a", "p")))
      val typed = Files.createDirectories(tmp.resolve("typed/p=1"))
      writeOneFile(Seq((1L, "x")).toDF("a", "p"), typed.resolve("0.parquet"))
      assert(sameAsSpark(typed.getParent.toString).isRight)

      // a glob
      assert(sameAsSpark(s"$mixed/y*").isRight)

      // no data files, a missing path and an empty one
      val empty = Files.createDirectory(tmp.resolve("empty"))
      Files.createFile(empty.resolve("_SUCCESS"))
      assert(sameAsSpark(empty.toString).isLeft)
      assert(sameAsSpark(tmp.resolve("missing").toString).isLeft)
      assert(sameAsSpark("").isLeft)

      // footers that fail to read: a zero-byte file and a non-parquet file,
      // each first by path
      for ((name, bytes) <- Seq("zero" -> Array.emptyByteArray,
          "junk" -> "not parquet".getBytes("UTF-8"))) {
        val dir = Files.createDirectory(tmp.resolve(name))
        Files.write(dir.resolve("0.parquet"), bytes)
        writeOneFile(a, dir.resolve("1.parquet"))
        assert(sameAsSpark(dir.toString).isLeft, name)
      }

      // a variant column
      val variant = tmp.resolve("variant").toString
      spark.sql("""select 1L as id, parse_json('{"a": 1}') as v""")
        .write.parquet(variant)
      assert(sameAsSpark(variant).isRight)

      // char and varchar columns, kept as such by the session's conf
      val chars = tmp.resolve("chars").toString
      withConf("spark.sql.preserveCharVarcharTypeInfo", "true") {
        spark.sql("select cast('a' as char(3)) as c, " +
          "cast('b' as varchar(5)) as v").write.parquet(chars)
        assert(sameAsSpark(chars).isRight)
      }
      assert(sameAsSpark(chars).isRight)

      // a streaming sink: the files come from its `_spark_metadata` log,
      // so a file outside the log (here first by path) is not read
      val src = Files.createDirectory(tmp.resolve("src"))
      writeOneFile(a, src.resolve("x.parquet"))
      val sink = tmp.resolve("sink")
      val q = spark.readStream.schema(a.schema).parquet(src.toString)
        .writeStream.format("parquet")
        .option("checkpointLocation", tmp.resolve("ckpt").toString)
        .trigger(Trigger.AvailableNow()).start(sink.toString)
      try drain(q) finally q.stop()
      writeOneFile(b, sink.resolve("0-stray.parquet"))
      assert(sameAsSpark(sink.toString).map(_.fieldNames.toSeq) ===
        Right(Seq("a", "b")))
    }
  }

  test("Tables.table(...).schema starts no Spark job") {
    // the guard can fail: Spark's own read starts the inference job
    val probe = s"$sf/region.parquet"
    assert(jobsDuring(spark.read.parquet(probe).schema).nonEmpty,
      s"spark.read.parquet($probe) started no job to count")
    for (dir <- Paths.get(sf) +: fixtures; t <- tablesIn(dir)) {
      val name = t.stripSuffix(".parquet")
      val jobs = jobsDuring(Tables.table(spark, dir.toString, name).schema)
      assert(jobs.isEmpty, s"${dir.resolve(t)} started job(s): $jobs")
    }
  }

  test("a fixture table rewritten as several files reads back through " +
      "Tables with the same rows and schema") {
    withTempDir { tmp =>
      for (name <- Seq("lineitem", "orders", "events")) {
        val one = Tables.table(spark, sf, name)
        one.repartition(4).write.parquet(tmp.resolve(s"$name.parquet").toString)
        val parts = Files.list(tmp.resolve(s"$name.parquet")).iterator.asScala
          .count(_.getFileName.toString.endsWith(".parquet"))
        assert(parts > 1, name)
        assert(jobsDuring(Tables.table(spark, tmp.toString, name).schema)
          .isEmpty, s"$name: the multi-file read started a job")
        val many = Tables.table(spark, tmp.toString, name)
        assert(many.schema === one.schema, name)
        assert(many.count() === one.count(), name)
        assert(many.exceptAll(one).isEmpty && one.exceptAll(many).isEmpty, name)
      }
    }
  }
}
