package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStreams

/** The driver's `events.parquet` has shipped `ts` under three physical
  * encodings across data generations: TIMESTAMP(NANOS) (read as
  * nanos-as-long), untagged micros (TIMESTAMP_NTZ), and UTC micros
  * (TimestampType). A silent regeneration flipping the encoding broke the
  * engine once (round 8); this spec pins that `Tables.events` and
  * `EventStreams.readEvents` normalize ALL of them to identical results,
  * batch (q14/q16) and streaming (tumbling counts) alike.
  */
class EventsEncodingSpec extends AnyFunSuite with StreamDrain {
  import TestSpark._
  import spark.implicits._

  // canonical events (already normalized to TimestampType, UTC session tz)
  private lazy val canonical: DataFrame =
    relational.Tables.events(spark, sf).cache()

  /** dir containing events.parquet written under the given encoding */
  private lazy val encodedDirs: Map[String, String] = {
    val base = Files.createTempDirectory("events-enc").toString
    def dirFor(name: String)(encode: DataFrame => DataFrame): (String, String) = {
      val d = s"$base/$name"
      encode(canonical).coalesce(1).write.parquet(s"$d/events.parquet")
      name -> d
    }
    Map(
      // legacy TIMESTAMP(NANOS): after nanosAsLong the reader sees a plain
      // long of nanos — write that long directly (Spark cannot author the
      // NANOS logical type, but the post-read shape is identical)
      dirFor("nanos_long")(df =>
        df.withColumn("ts", (unix_micros($"ts") * 1000L).cast("long"))),
      // untagged micros → TIMESTAMP_NTZ on read (the round-8 regression)
      dirFor("micros_ntz")(df =>
        df.withColumn("ts", $"ts".cast("timestamp_ntz"))),
      // UTC-tagged micros → TimestampType on read
      dirFor("micros_utc")(identity))
  }

  private def resultOf(q: String, dir: String): Seq[String] =
    SparkEntry.queries(q)(spark, dir).collect().map(_.toString).toSeq

  test("q14/q16 results are identical under all three ts encodings") {
    for (q <- Seq("q14_events_hourly", "q16_sessionize")) {
      val results = encodedDirs.map { case (enc, d) => enc -> resultOf(q, d) }
      val (refEnc, ref) = results.head
      for ((enc, got) <- results.tail) {
        assert(got == ref,
          s"$q differs between encodings $refEnc and $enc")
      }
      assert(ref.nonEmpty, s"$q returned no rows")
    }
  }

  test("streaming readEvents normalizes all three encodings identically") {
    val results = encodedDirs.map { case (enc, d) =>
      val ev = EventStreams.readEvents(spark, s"$d/events.parquet")
      val q = EventStreams.tumblingCounts(ev, "1 hour", "0 seconds")
        .writeStream.format("memory").queryName(s"enc_$enc")
        .outputMode("append").start()
      drain(q)
      q.stop()
      enc -> spark.table(s"enc_$enc").collect().map(_.toString).sorted.toSeq
    }
    val (refEnc, ref) = results.head
    for ((enc, got) <- results.tail)
      assert(got == ref,
        s"tumbling counts differ between encodings $refEnc and $enc")
    assert(ref.nonEmpty, "streaming tumbling counts returned no rows")
    // and the stream's ts column is a session-tz timestamp in every case
    encodedDirs.foreach { case (enc, d) =>
      val dt = EventStreams.readEvents(spark, s"$d/events.parquet")
        .schema("ts").dataType
      assert(dt == org.apache.spark.sql.types.TimestampType,
        s"encoding $enc: stream ts is $dt, not TimestampType")
    }
  }

  test("documents/embeddings loaders normalize physically-drifted widths") {
    // the ts lesson applied to the other driver tables: regenerate the
    // corpus with int32 ids/counts and float64 embeddings, and the
    // loaders must hand every query the canonical types and values
    import org.apache.spark.sql.types.{ArrayType, FloatType, LongType}
    val base = Files.createTempDirectory("tables-drift").toString
    relational.Tables.documents(spark, sf)
      .withColumn("doc_id", $"doc_id".cast("int"))
      .withColumn("n_chars", $"n_chars".cast("int"))
      .write.parquet(s"$base/documents.parquet")
    relational.Tables.embeddings(spark, sf)
      .withColumn("vec_id", $"vec_id".cast("int"))
      .withColumn("embedding", transform($"embedding", _.cast("double")))
      .write.parquet(s"$base/embeddings.parquet")
    val docs = relational.Tables.documents(spark, base)
    assert(docs.schema("doc_id").dataType == LongType)
    assert(docs.schema("n_chars").dataType == LongType)
    val emb = relational.Tables.embeddings(spark, base)
    assert(emb.schema("vec_id").dataType == LongType)
    assert(emb.schema("embedding").dataType ==
      ArrayType(FloatType, containsNull = true))
    // representative queries over both tables produce identical results
    // on the drifted copy (float64 -> float32 is exact here because the
    // doubles were widened FROM floats)
    Seq("q35_quality", "q94_random_projection").foreach { q =>
      val a = SparkEntry.queries(q)(spark, sf)
        .collect().map(_.toString).sorted.toSeq
      val b = SparkEntry.queries(q)(spark, base)
        .collect().map(_.toString).sorted.toSeq
      assert(a === b, s"$q differs on the drifted table widths")
    }
  }
}
