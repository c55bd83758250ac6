package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.exceptions.TestFailedDueToTimeoutException
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.streaming.EventStreams

class StreamingSpec extends AnyFunSuite with StreamDrain {
  import TestSpark._
  import spark.implicits._

  private lazy val streamDir: String = {
    // stage the batch events parquet as a file-stream source directory
    val dir = Files.createTempDirectory("events-stream").toString
    Files.copy(Paths.get(s"$sf/events.parquet"),
      Paths.get(dir, "events.parquet"))
    dir
  }

  private def runToCompletion(df: org.apache.spark.sql.DataFrame,
      name: String, mode: String = "append"): org.apache.spark.sql.DataFrame = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode).start()
    try drain(q) finally q.stop()
    spark.table(name)
  }

  /** Land `df` as one parquet file named `<name>.parquet` in the
    * file-stream source dir — the shared micro-batch feeding ritual
    * (write coalesced to a temp dir, move the single part file in).
    */
  private def stageChunk(dir: String, name: String,
      df: org.apache.spark.sql.DataFrame): Unit = {
    val tmp = Files.createTempDirectory(s"stage-$name").toString
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val f = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    Files.move(f.toPath, Paths.get(dir, s"$name.parquet"))
  }

  test("a hung stream fails its drive by timeout within the bound") {
    // an injected hang: the sink blocks every micro-batch until released
    val release = new CountDownLatch(1)
    val q = EventStreams.readEvents(spark, streamDir).writeStream
      .foreachBatch { (_: DataFrame, _: Long) =>
        release.await(5, TimeUnit.MINUTES); ()
      }
      .start()
    try {
      val t0 = System.nanoTime()
      intercept[TestFailedDueToTimeoutException](drain(q, 3.seconds))
      val waited = (System.nanoTime() - t0) / 1e9
      assert(waited >= 3 && waited < 30, s"drive returned after $waited s")
    } finally {
      release.countDown()
      q.stop()
    }
  }

  test("tumbling window counts match the batch computation") {
    val ev = EventStreams.readEvents(spark, streamDir)
    val got = runToCompletion(
      EventStreams.tumblingCounts(ev, "1 hour", "0 seconds"), "tumbling",
      mode = "append")
    // batch reference on the same data
    val batch = relational.Tables.events(spark, sf)
      .groupBy(date_trunc("hour", $"ts").as("window_start"), $"event_type")
      .agg(count(lit(1)).as("n"))
    // append mode emits only watermark-closed windows; every emitted row
    // must match the batch row exactly
    val b = batch.collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    val emitted = got.collect()
    assert(emitted.nonEmpty)
    emitted.foreach { r =>
      val key = (r.getTimestamp(0), r.getString(1))
      assert(b(key) === r.getLong(2), s"window $key")
    }
  }

  test("streaming sessionization matches batch q16 session count") {
    val ev = EventStreams.readEvents(spark, streamDir)
      .select($"user_id", $"ts", $"value").as[EventStreams.SessionEvent]
    val sessions = runToCompletion(
      EventStreams.sessionize(ev).toDF(), "sessions")
    // batch count of CLOSED sessions: all sessions whose end is at least
    // 30min before the max ts (watermark at end-of-stream = max ts).
    val batch = SparkEntry.queries("q16_sessionize")(spark, sf)
    val totalSessions = batch.count()
    val emitted = sessions.count()
    assert(emitted > 0, "no sessions emitted")
    assert(emitted <= totalSessions)
    // the vast majority of sessions closed before end-of-stream
    assert(emitted >= totalSessions / 2,
      s"$emitted of $totalSessions sessions emitted")
  }

  test("sessionization state stays bounded under watermark; late rows " +
      "dropped and counted") {
    // the 100-TB streaming claim made checkable: per-user session state
    // must be evicted once the event-time watermark passes a session's
    // timeout (state size tracks ACTIVE users, not users ever seen),
    // and data behind the watermark must be dropped AND counted in the
    // state-operator metrics — never silently absorbed into state.
    val dir = Files.createTempDirectory("sess-bound").toString
    def addBatch(n: Int, rows: Seq[(Long, Long, Double)]): Unit =
      stageChunk(dir, s"batch$n", rows.toDF("user_id", "tsl", "value")
        .select($"user_id",
          expr("timestamp_micros(tsl * 1000000)").as("ts"), $"value"))
    val t0 = 1600000000L
    val h = 3600L
    // batch 1: 100 users, one event each at t0
    addBatch(1, (0L until 100L).map(u => (u, t0, 1.0)))
    val stream = spark.readStream
      .schema("user_id LONG, ts TIMESTAMP, value DOUBLE")
      .parquet(dir)
      .as[EventStreams.SessionEvent]
    val q = EventStreams.sessionize(stream).toDF()
      .writeStream.format("memory").queryName("sessbound")
      .outputMode("append").start()
    try {
      drain(q)
      // batch 2: only users 0-9 stay active, 4h later — advances the
      // watermark to t0+2h once the batch completes
      addBatch(2, (0L until 10L).map(u => (u, t0 + 4 * h, 1.0)))
      drain(q)
      // batch 3: one event triggers timeout processing under the
      // advanced watermark — users 10-99 (timeout t0+30min < t0+2h)
      // must EMIT and be REMOVED from the store
      addBatch(3, Seq((0L, t0 + 8 * h, 1.0)))
      drain(q)
      val emitted = spark.table("sessbound")
      assert(emitted.filter($"session_start" ===
        new java.sql.Timestamp(t0 * 1000) && $"user_id" >= 10).count()
        === 90L, "users 10-99 must emit their timed-out t0 sessions")
      val afterEvict = q.recentProgress
        .filter(_.stateOperators.nonEmpty).last.stateOperators.head
      assert(afterEvict.numRowsTotal <= 10L,
        s"state holds ${afterEvict.numRowsTotal} rows after eviction — " +
          "bounded by the 10 active users, not the 100 ever seen")
      // batch 4: a row 6h+ behind the watermark — dropped and COUNTED,
      // never absorbed into state
      addBatch(4, Seq((50L, t0, 9.0)))
      drain(q)
      val afterLate = q.recentProgress
        .filter(_.stateOperators.nonEmpty).last.stateOperators.head
      assert(afterLate.numRowsDroppedByWatermark >= 1L,
        "late row must surface in numRowsDroppedByWatermark")
      assert(afterLate.numRowsTotal <= 10L,
        "late row must not re-open state for an evicted user")
      assert(spark.table("sessbound")
        .filter($"user_id" === 50 && $"total" === 9.0).count() === 0L,
        "late row must not produce a session")
    } finally q.stop()
  }

  test("stream-stream attribution join equals the batch interval join") {
    // clicks and views arrive as two independent file streams; the
    // emitted pair set must equal IntervalJoin.pairs on the same data.
    val ev = relational.Tables.events(spark, sf)
    val cDir = Files.createTempDirectory("attr-clicks").toString
    val vDir = Files.createTempDirectory("attr-views").toString
    ev.filter($"event_type" === "click")
      .select($"event_id".as("click_id"), $"user_id", $"ts")
      .write.mode("overwrite").parquet(cDir)
    ev.filter($"event_type" === "view")
      .select($"event_id".as("view_id"), $"user_id".as("v_user"),
        $"ts".as("v_ts"))
      .write.mode("overwrite").parquet(vDir)
    val cs = spark.readStream
      .schema("click_id LONG, user_id LONG, ts TIMESTAMP").parquet(cDir)
    val vs = spark.readStream
      .schema("view_id LONG, v_user LONG, v_ts TIMESTAMP").parquet(vDir)
    val got = runToCompletion(
      EventStreams.attributionJoin(cs, vs, windowSeconds = 900), "attrjoin")
      .select("click_id", "view_id").as[(Long, Long)].collect().toSet
    val batch = operators.IntervalJoin.pairs(
        ev.filter($"event_type" === "click")
          .select($"event_id".as("click_id"), $"user_id", $"ts"),
        ev.filter($"event_type" === "view")
          .select($"event_id".as("view_id"), $"user_id".as("v_user"),
            $"ts".as("v_ts")),
        "user_id", "v_user", "ts", "v_ts", 900L * 1000000)
      .select("click_id", "view_id").as[(Long, Long)].collect().toSet
    assert(batch.nonEmpty)
    assert(got === batch)
  }

  test("left-outer stream-stream join emits null-view clicks only after " +
      "the watermark proves no match can arrive") {
    val cDir = Files.createTempDirectory("attro-clicks").toString
    val vDir = Files.createTempDirectory("attro-views").toString
    def add(dir: String, n: Int, schema: Seq[String],
        rows: Seq[(Long, Long, Long)]): Unit = {
      stageChunk(dir, s"batch$n", rows.toDF("id", "user", "tsl")
        .select($"id".as(schema(0)), $"user".as(schema(1)),
          expr("timestamp_micros(tsl * 1000000)").as(schema(2))))
    }
    val cCols = Seq("click_id", "user_id", "ts")
    val vCols = Seq("view_id", "v_user", "v_ts")
    val t0 = 1600000000L
    // batch 1: 10 clicks; only users 0-4 have a matching view
    add(cDir, 1, cCols, (0L until 10L).map(u => (u, u, t0 + 600)))
    add(vDir, 1, vCols, (100L until 105L).map(i => (i, i - 100, t0)))
    val cs = spark.readStream
      .schema("click_id LONG, user_id LONG, ts TIMESTAMP").parquet(cDir)
    val vs = spark.readStream
      .schema("view_id LONG, v_user LONG, v_ts TIMESTAMP").parquet(vDir)
    val q = EventStreams.attributionJoin(cs, vs, windowSeconds = 900,
        watermark = "0 seconds", leftOuter = true)
      .writeStream.format("memory").queryName("attrouter")
      .outputMode("append").start()
    try {
      drain(q)
      // matched pairs emit eagerly; unmatched clicks must NOT have
      // emitted yet — a view for users 5-9 could still arrive
      val eager = spark.table("attrouter").collect()
      assert(eager.count(r => !r.isNullAt(3)) === 5)
      assert(eager.count(r => r.isNullAt(3)) === 0,
        "outer rows must wait for the watermark, not emit eagerly")
      // both sources jump far ahead: watermark passes the match horizon
      add(cDir, 2, cCols, Seq((900L, 0L, t0 + 8 * 3600)))
      add(vDir, 2, vCols, Seq((901L, 0L, t0 + 8 * 3600)))
      drain(q)
      // one more advance so the outer emission (tied to state cleanup)
      // lands in a completed batch
      add(cDir, 3, cCols, Seq((910L, 1L, t0 + 16 * 3600)))
      add(vDir, 3, vCols, Seq((911L, 1L, t0 + 16 * 3600)))
      drain(q)
      val rows = spark.table("attrouter").collect()
      val outer = rows.filter(r => r.isNullAt(3)).map(_.getLong(0)).toSet
      assert((5L until 10L).toSet.subsetOf(outer),
        s"unmatched batch-1 clicks must emit null-view rows, got $outer")
      // matched clicks never get a spurious outer row
      assert(!(0L until 5L).exists(outer.contains),
        "matched clicks must not also emit null-view rows")
    } finally q.stop()
  }

  test("stream-stream join state is evicted once the watermark passes " +
      "the match horizon") {
    val cDir = Files.createTempDirectory("attrb-clicks").toString
    val vDir = Files.createTempDirectory("attrb-views").toString
    def add(dir: String, n: Int, schema: Seq[String],
        rows: Seq[(Long, Long, Long)]): Unit = {
      stageChunk(dir, s"batch$n", rows.toDF("id", "user", "tsl")
        .select($"id".as(schema(0)), $"user".as(schema(1)),
          expr("timestamp_micros(tsl * 1000000)").as(schema(2))))
    }
    val cCols = Seq("click_id", "user_id", "ts")
    val vCols = Seq("view_id", "v_user", "v_ts")
    val t0 = 1600000000L
    val h = 3600L
    // batch 1: 50 users, one click + one matching view each
    add(cDir, 1, cCols, (0L until 50L).map(u => (u, u, t0 + 600)))
    add(vDir, 1, vCols, (100L until 150L).map(i => (i, i - 100, t0)))
    val cs = spark.readStream
      .schema("click_id LONG, user_id LONG, ts TIMESTAMP").parquet(cDir)
    val vs = spark.readStream
      .schema("view_id LONG, v_user LONG, v_ts TIMESTAMP").parquet(vDir)
    val q = EventStreams.attributionJoin(cs, vs, windowSeconds = 900,
        watermark = "0 seconds")
      .writeStream.format("memory").queryName("attrbound")
      .outputMode("append").start()
    try {
      drain(q)
      assert(spark.table("attrbound").count() === 50L)
      // batch 2: both sources jump 8h ahead (one row each) — the global
      // watermark passes every batch-1 row's match horizon
      add(cDir, 2, cCols, Seq((900L, 0L, t0 + 8 * h)))
      add(vDir, 2, vCols, Seq((901L, 0L, t0 + 8 * h)))
      drain(q)
      // batch 3: one more advance so eviction under the new watermark is
      // itself reflected in the final progress metrics
      add(cDir, 3, cCols, Seq((910L, 1L, t0 + 16 * h)))
      add(vDir, 3, vCols, Seq((911L, 1L, t0 + 16 * h)))
      drain(q)
      val st = q.recentProgress.filter(_.stateOperators.nonEmpty)
        .last.stateOperators.head
      assert(st.numRowsTotal <= 4L,
        s"join state holds ${st.numRowsTotal} rows — must retain only " +
          "rows within watermark+window, not the 100 batch-1 rows")
    } finally q.stop()
  }

  test("streaming ANN probe serves the persisted IVF index, equal to batch") {
    import graft.similarity.Ann
    // clustered corpus, persisted index (the PipelineOpsSpec fixture)
    val rng = new scala.util.Random(37)
    val centroids = Array.fill(8)(Array.fill(16)(rng.nextGaussian()))
    val emb = (0 until 320).map { i =>
      (i.toLong, centroids(i % 8).map(_ + rng.nextGaussian() * 0.12).toSeq)
    }.toDF("id", "vec")
    val dir = Files.createTempDirectory("graft-ivf-stream").toString
    Ann.buildIvfIndex(emb, dir, nlist = 8)
    // queries arrive as a stream
    val qDir = Files.createTempDirectory("graft-ivf-queries").toString
    emb.filter($"id" < 16).write.mode("overwrite").parquet(qDir)
    val stream = spark.readStream
      .schema("id LONG, vec ARRAY<DOUBLE>").parquet(qDir)
    val got = runToCompletion(
      EventStreams.annProbeVecs(spark, dir, stream, k = 10, nprobe = 2),
      "annprobe", mode = "update")
      .select("query_id", "rank", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val batch = Ann.probeIvfIndex(spark, dir, emb.filter($"id" < 16),
        k = 10, nprobe = 2)
      .select("query_id", "rank", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(batch.nonEmpty)
    assert(got === batch)
  }

  test("streaming PQ probe serves the persisted IVF+PQ index, equal to batch") {
    import graft.similarity.Pq
    // the lossless lattice corpus: the streamed ADC probe must equal
    // the batch probe exactly
    val lat = (0 until 160).map { i =>
      (i.toLong, (0 until 16).map(j =>
        ((i / 8) * 37 + j * j * 11) % 97 - 48.0))
    }.toDF("id", "vec")
    val dir = Files.createTempDirectory("graft-pq-stream").toString
    Pq.buildPqIndex(lat, dir, dim = 16, nlist = 8)
    val qDir = Files.createTempDirectory("graft-pq-queries").toString
    lat.filter($"id" < 24).write.mode("overwrite").parquet(qDir)
    val stream = spark.readStream
      .schema("id LONG, vec ARRAY<DOUBLE>").parquet(qDir)
    val got = runToCompletion(
      Pq.probePqStream(spark, dir, stream, k = 7, nprobe = 3),
      "pqprobe", mode = "update")
      .select("query_id", "rank", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val batch = Pq.probePqIndex(spark, dir, lat.filter($"id" < 24),
        k = 7, nprobe = 3)
      .select("query_id", "rank", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(batch.nonEmpty)
    assert(got === batch)
  }

  test("sliding window rates emit watermark-closed windows") {
    val ev = EventStreams.readEvents(spark, streamDir)
    val got = runToCompletion(
      EventStreams.slidingRates(ev, "1 hour", "15 minutes", "0 seconds"),
      "sliding")
    assert(got.count() > 0)
    // each 1h window slid by 15min: counts are positive and approx_users
    // bounded by event count
    got.collect().foreach { r =>
      assert(r.getAs[Long]("n") > 0)
      assert(r.getAs[Long]("approx_users") <= r.getAs[Long]("n") * 2)
    }
  }

  test("streaming near-dup finds the batch minhash pairs") {
    // stage documents as a stream with synthetic timestamps
    val docsDir = Files.createTempDirectory("docs-stream").toString
    graft.relational.Tables.documents(spark, sf)
      .withColumn("ts",
        expr("timestamp_micros(1600000000000000 + doc_id * 1000000)"))
      .select("doc_id", "ts", "text")
      .write.mode("overwrite").parquet(docsDir)
    val stream = spark.readStream
      .schema("doc_id LONG, ts TIMESTAMP, text STRING")
      .parquet(docsDir)
    val hits = runToCompletion(
      EventStreams.nearDupDocs(stream, threshold = 0.9).toDF(), "neardup")
      .select("id_a", "id_b").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // batch truth: the planted exact-Jaccard >= 0.9 pairs
    val batch = graft.dedup.Dedup
      .minHashNearDuplicates(
        graft.relational.Tables.documents(spark, sf), "doc_id", "text",
        threshold = 0.9)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch.nonEmpty)
    val recall = batch.count(hits.contains).toDouble / batch.size
    assert(recall >= 0.9, s"stream recall $recall on ${batch.size} pairs")
    // estimator precision: background pairs sit at Jaccard <= 0.07 in
    // this corpus, far under the 0.9 signature bar, so genuine jitter
    // yields ~0 non-batch pairs — a tight bound catches estimator
    // regressions (e.g. comparing wrong signature slices)
    val extras = hits -- batch
    assert(extras.size <= 2,
      s"non-batch pairs: ${extras.take(5)}")
  }

  test("streaming decontamination matches the batch overlap counts") {
    val docsDir = Files.createTempDirectory("decon-stream").toString
    val docs = graft.relational.Tables.documents(spark, sf)
    docs.filter($"doc_id" % 5 =!= 0)
      .withColumn("ts",
        expr("timestamp_micros(1600000000000000 + doc_id * 1000000)"))
      .select("doc_id", "ts", "text")
      .write.mode("overwrite").parquet(docsDir)
    val stream = spark.readStream
      .schema("doc_id LONG, ts TIMESTAMP, text STRING")
      .parquet(docsDir)
    val benchmark = docs.filter($"doc_id" % 5 === 0)
    val got = runToCompletion(
      EventStreams.decontaminateDocs(stream, benchmark, n = 8),
      "decontaminated")
      .select("doc_id", "n_shared").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val batch = graft.dedup.Dedup.decontaminate(
        docs.filter($"doc_id" % 5 =!= 0), benchmark, "doc_id", "text",
        n = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(batch.nonEmpty, "corpus should contain contaminated docs")
    assert(got === batch)
  }

  test("streaming bloom gate passes exactly the batch filter's survivors") {
    val docsDir = Files.createTempDirectory("decon-gate").toString
    val docs = graft.relational.Tables.documents(spark, sf)
    docs.filter($"doc_id" % 5 =!= 0)
      .withColumn("ts",
        expr("timestamp_micros(1600000000000000 + doc_id * 1000000)"))
      .select("doc_id", "ts", "text")
      .write.mode("overwrite").parquet(docsDir)
    val stream = spark.readStream
      .schema("doc_id LONG, ts TIMESTAMP, text STRING")
      .parquet(docsDir)
    val benchmark = docs.filter($"doc_id" % 5 === 0)
    // fpp 0.5 saturates the bloom on purpose: the exact confirmation
    // tier owns the verdict, so survivors must not change
    val got = runToCompletion(
      EventStreams.decontaminateGateDocs(stream, benchmark, n = 8,
        fpp = 0.5),
      "decontaminated_gate")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val batch = graft.dedup.Dedup.decontaminateFilter(
        docs.filter($"doc_id" % 5 =!= 0), benchmark, "doc_id", "text",
        n = 8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(batch.nonEmpty && batch.size < 400,
      "gate must pass some docs and drop some docs")
    assert(got === batch)
  }

  test("the gopher gate runs unchanged on a stream") {
    // gopherRules is a pure row-local column expression — the BATCH
    // operator itself is streaming-compatible (an ingest-time quality
    // gate); the stream's kept set must equal the batch gate's
    val gate = graft.text.TextStats.gopherRules(
      $"text", Seq("the", "a", "of", "to", "in", "and"))
    val got = runToCompletion(
      docStream(newDocStreamDir())
        .withColumn("g", gate).filter($"g.keep").select("doc_id"),
      "gated").collect().map(_.getLong(0)).toSet
    val batch = relational.Tables.documents(spark, sf)
      .withColumn("g", gate).filter($"g.keep").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(batch.nonEmpty && got === batch)
  }

  test("stateful dedup drops duplicate event ids") {
    // duplicate the source file so every event appears twice
    val dir = Files.createTempDirectory("events-dup").toString
    Files.copy(Paths.get(s"$sf/events.parquet"),
      Paths.get(dir, "a.parquet"))
    Files.copy(Paths.get(s"$sf/events.parquet"),
      Paths.get(dir, "b.parquet"))
    val ev = EventStreams.readEvents(spark, dir)
    val got = runToCompletion(EventStreams.dedupEvents(ev), "dedup")
    val n = relational.Tables.events(spark, sf).count()
    assert(got.count() === n)
  }

  // fresh source dir per call — a shared lazy dir would let one test's
  // file appends silently change another test's input
  private def newDocStreamDir(copies: Int = 1): String = {
    val dir = Files.createTempDirectory("docs-stream").toString
    (0 until copies).foreach { i =>
      Files.copy(Paths.get(s"$sf/documents.parquet"),
        Paths.get(dir, s"documents-$i.parquet"))
    }
    dir
  }

  private def docStream(dir: String, maxFilesPerTrigger: Int = 0) = {
    val r = spark.readStream
      .schema(relational.Tables.documents(spark, sf).schema)
    (if (maxFilesPerTrigger > 0)
       r.option("maxFilesPerTrigger", maxFilesPerTrigger)
     else r).parquet(dir)
  }

  test("C4 line gate runs unchanged on a stream, equal to batch q107") {
    // lineGate is a pure row-local column expression — the BATCH gate IS
    // the streaming gate: no state store, no watermark, bit-equal output
    val gate = graft.text.TextStats.lineGate($"text", " the ",
      minWords = 4, blacklist = Seq("slow"), minKeptLines = 3)
    val got = runToCompletion(
      docStream(newDocStreamDir())
        .withColumn("g", gate)
        .filter($"g.doc_kept")
        .select($"doc_id", $"g.n_kept".as("n_kept"),
          $"g.text_clean".as("text_clean")), "linegate")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSet
    val batch = relational.Tables.documents(spark, sf)
      .withColumn("g", gate)
      .filter($"g.doc_kept")
      .select($"doc_id", $"g.n_kept", $"g.text_clean")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSet
    assert(batch.nonEmpty)
    assert(got === batch)
  }

  test("streaming token-budget selection equals the batch kept set") {
    // one micro-batch + per-group (pos, id) sort = the batch operator's
    // order, so the stream must reproduce tokenBudgetSelection's kept
    // set EXACTLY — same budgets as q74: en/fr cross mid-corpus, zh
    // keep-all, de budget 0, es absent from the map
    val budgets = Map("en" -> 6000L, "fr" -> 1500L, "zh" -> 10000000L,
      "de" -> 0L)
    val got = runToCompletion(
      EventStreams.tokenBudgetDocs(docStream(newDocStreamDir()),
        budgets, seed = 7L).toDF(), "budgeted")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val batch = graft.text.TextStats.tokenBudgetSelection(
        relational.Tables.documents(spark, sf)
          .select($"doc_id", $"text", $"lang"),
        "doc_id", "text", "lang", budgets, seed = 7L)
      .select($"lang", $"doc_id")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(batch.nonEmpty)
    assert(got === batch)
    assert(!got.exists(_._1 == "de"), "budget-0 key must keep nothing")
  }

  test("streaming token-budget gate stays exhausted ACROSS micro-batches") {
    // two copies of the corpus, one file per trigger: batch 1 fills the
    // budgets, so batch 2's replayed docs must ALL drop — admitting any
    // means the per-key token state restarted at the batch boundary.
    // zh keep-all stays keep-all (its running count carries, budget is
    // corpus-sized x2... use a budget the DOUBLED corpus exceeds so the
    // gate closes mid-stream and the kept count pins the arithmetic)
    val budgets = Map("en" -> 6000L, "fr" -> 1500L)
    val kept = runToCompletion(
      EventStreams.tokenBudgetDocs(
        docStream(newDocStreamDir(copies = 2), maxFilesPerTrigger = 1),
        budgets, seed = 7L).toDF(), "budgeted2")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // exactly the single-corpus kept MULTISET cardinality per key: the
    // first batch exhausts each budget (both budgets are under one
    // corpus's token mass), the second admits nothing
    val single = runToCompletion(
      EventStreams.tokenBudgetDocs(docStream(newDocStreamDir()),
        budgets, seed = 7L).toDF(), "budgeted1")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(kept.length === single.length,
      s"gate reopened across micro-batches: ${kept.length} vs ${single.length}")
  }

  test("streaming LM scoring equals the batch cross-entropy EXACTLY") {
    // stateless twin: same fitted LM, same left-to-right token sum,
    // same 4dp rounding — agreement is exact, not approximate
    val all = relational.Tables.documents(spark, sf)
    val ref = all.filter($"doc_id" % 5 === 0)
    val got = runToCompletion(
      EventStreams.scoreDocsXent(
        docStream(newDocStreamDir()).filter($"doc_id" % 5 =!= 0),
        ref, "text", vocabSize = 4096), "xentstream")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    val batch = graft.text.TextStats.lmCrossEntropy(
        all.filter($"doc_id" % 5 =!= 0), "doc_id", "text",
        ref, "text", vocabSize = 4096)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(batch.nonEmpty)
    assert(got === batch)
  }

  test("streaming quality-classifier gate equals batch q93 EXACTLY") {
    // stateless twin: same fitted weights, same distinct-bucket integer
    // sum — bit equality, not approximate agreement
    val all = relational.Tables.documents(spark, sf)
    val stop = Seq("the", "a", "of", "to", "in", "and")
    val ref = all.filter($"doc_id" % 5 === 0)
      .select($"text",
        graft.text.TextStats.gopherRules($"text", stop)("keep").as("y"))
    val got = runToCompletion(
      EventStreams.gateDocsQuality(
        docStream(newDocStreamDir()).filter($"doc_id" % 5 =!= 0),
        ref, "text", "y"), "qgatestream")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .toSet
    val batch = graft.text.QualityClassifier.distillGopherGate(
        all, "doc_id", "text", $"doc_id" % 5 === 0, stop)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .toSet
    assert(batch.nonEmpty)
    assert(got === batch)
  }

  test("composed streaming ingest chain equals the composed batch filters") {
    // the round-10 twins CHAINED on one stream — decontamination gate
    // -> Gopher rule gate -> fitted-classifier gate — must keep
    // exactly the docs the composed batch filters keep: each stage is
    // stateless (broadcast artifacts + row-local predicates), so the
    // composition inherits bit-equality from its parts; this pins the
    // WIRING (each stage consumes the previous stage's survivors)
    val all = relational.Tables.documents(spark, sf)
    val stop = Seq("the", "a", "of", "to", "in", "and")
    val bench = all.filter($"doc_id" % 31 === 0).select($"text")
    val ref = all.filter($"doc_id" % 5 === 0)
      .select($"text",
        graft.text.TextStats.gopherRules($"text", stop)("keep").as("y"))
    val stream = docStream(newDocStreamDir()).filter($"doc_id" % 5 =!= 0)
    val chained = EventStreams.gateDocsQuality(
        EventStreams.decontaminateGateDocs(stream, bench, n = 8)
          .filter(graft.text.TextStats.gopherRules($"text", stop)("keep")),
        ref, "text", "y")
      .filter($"keep_pred")
    val got = runToCompletion(chained, "ingestchain")
      .collect().map(_.getLong(0)).toSet
    // batch composition of the same three stages
    val pool = all.filter($"doc_id" % 5 =!= 0)
    val contaminated = graft.dedup.Dedup.decontaminate(
      pool, bench, "doc_id", "text", n = 8)
    val survivors = pool
      .join(contaminated.select($"id".as("doc_id")), Seq("doc_id"),
        "left_anti")
      .filter(graft.text.TextStats.gopherRules($"text", stop)("keep"))
    val (weights, priorBp) = graft.text.QualityClassifier.fit(
      ref, "text", "y", 1024)
    val batch = graft.text.QualityClassifier.score(
        survivors, "doc_id", "text", weights, priorBp, 1024)
      .filter($"keep_pred")
      .collect().map(_.getLong(0)).toSet
    assert(batch.nonEmpty)
    assert(got === batch)
  }

  test("HLL and CMS registers build unchanged on a stream") {
    // the sketches' 100-TB argument made literal: register state is
    // FIXED cardinality (256/key for HLL, 4x512 for CMS) no matter how
    // much stream passes through, so complete-mode aggregation is
    // legitimate — the same code path as batch, no twin needed
    val toks = docStream(newDocStreamDir())
      .select($"lang", explode(split(trim($"text"), "\\s+")).as("word"))
    val gotH = runToCompletion(
      graft.text.Sketches.hllRegisters(toks, "lang", "word"),
      "hllstream", mode = "complete")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
      .toSet
    val batchToks = relational.Tables.documents(spark, sf)
      .select($"lang", explode(split(trim($"text"), "\\s+")).as("word"))
    val expH = graft.text.Sketches.hllRegisters(batchToks, "lang", "word")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
      .toSet
    assert(gotH === expH)
    val gotC = runToCompletion(
      graft.text.Sketches.cmsRegisters(
        docStream(newDocStreamDir())
          .select(explode(split(trim($"text"), "\\s+")).as("word")),
        "word"),
      "cmsstream", mode = "complete")
      .collect().map(r => ((r.getInt(0), r.getLong(1)), r.getLong(2)))
      .toSet
    val expC = graft.text.Sketches.cmsRegisters(
        batchToks.select("word"), "word")
      .collect().map(r => ((r.getInt(0), r.getLong(1)), r.getLong(2)))
      .toSet
    assert(gotC === expC)
  }

  test("streaming per-source cap equals the batch kept set") {
    // one micro-batch + per-group (hash, id) sort = the batch
    // operator's order, so the stream reproduces cappedPerStratum
    val got = runToCompletion(
      EventStreams.capDocs(docStream(newDocStreamDir()), cap = 15L)
        .toDF(), "capped")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val batch = graft.text.TextStats.cappedPerStratum(
        relational.Tables.documents(spark, sf)
          .select($"doc_id", $"source"),
        "doc_id", "source", cap = 15L)
      .collect().map(r => (r.getString(1), r.getLong(0))).toSet
    assert(batch.nonEmpty)
    assert(got === batch)
  }

  test("streaming cap stays closed ACROSS micro-batches") {
    // two corpus copies, one file per trigger: every source fills its
    // cap in batch 1, so batch 2 must admit nothing — an admission
    // means the per-key counter restarted at the batch boundary
    val kept = runToCompletion(
      EventStreams.capDocs(
        docStream(newDocStreamDir(copies = 2), maxFilesPerTrigger = 1),
        cap = 15L).toDF(), "capped2")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(kept.length === kept.toSet.size, "duplicate admissions")
    val perKey = kept.groupBy(_._1).map { case (k, v) => k -> v.length }
    assert(perKey.values.forall(_ === 15),
      s"cap violated: ${perKey.filter(_._2 != 15)}")
  }

  test("streaming sequence packing equals the batch packing in id order") {
    // one micro-batch + per-group doc_id sort = arrival order == id
    // order, so the stream must reproduce the batch cumsum EXACTLY
    val got = runToCompletion(
      EventStreams.packDocs(docStream(newDocStreamDir()), budget = 512,
        shards = 32).toDF(), "packed")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val batch = graft.text.TextStats.packSequences(
        relational.Tables.documents(spark, sf), "doc_id", "text",
        budget = 512, shards = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got.nonEmpty)
    assert(got === batch)
  }

  test("streaming packing state carries the offset ACROSS micro-batches") {
    // two source files, maxFilesPerTrigger=1 -> two micro-batches, so
    // the second batch's packing depends on PackState surviving the
    // batch boundary (not on a local accumulator): each shard's offset
    // must CONTINUE, never restart. With a restart, batch-2 pieces
    // would duplicate batch-1's (shard, seq_id, doc_id) keys instead of
    // landing in later sequences.
    // shards = 4: each shard carries ~7k tokens at this sf, so the
    // replayed copy of any doc lands MANY sequences later — a repeated
    // (shard, seq, doc, piece) row can only mean the offset restarted
    val pieces = runToCompletion(
      EventStreams.packDocs(docStream(newDocStreamDir(copies = 2),
        maxFilesPerTrigger = 1), budget = 512, shards = 4).toDF(),
      "packed_mb").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    val onePass = graft.text.TextStats.packSequences(
      relational.Tables.documents(spark, sf), "doc_id", "text",
      budget = 512, shards = 4).count()
    // every (shard, seq, doc, piece) row is distinct across the two
    // passes (the replayed doc lands at a LATER offset)
    assert(pieces.length === pieces.distinct.length,
      "offset restarted: replayed docs produced colliding pieces")
    assert(pieces.length >= 2 * onePass - 64 &&
      pieces.length <= 2 * onePass + 64,
      s"${pieces.length} pieces vs $onePass per pass")
    // and the total token mass is exactly twice one pass's
    val tokStream = pieces.map(p => p._5 - p._4).sum
    val tokBatch = graft.text.TextStats.packSequences(
      relational.Tables.documents(spark, sf), "doc_id", "text",
      budget = 512, shards = 4)
      .agg(sum($"piece_end" - $"piece_start")).collect()(0).getLong(0)
    assert(tokStream === 2 * tokBatch)
  }

  test("the corpus-mixture operator runs unchanged on a stream") {
    // corpusMixture is a broadcast join + narrow explode — stateless,
    // so the BATCH operator itself is streaming-compatible; the stream
    // must emit exactly the batch copy MULTISET (count-preserving, so a
    // duplicate-emission bug cannot hide behind a set compare)
    val weights = Map("en" -> 13500, "fr" -> 10000, "zh" -> 7500,
      "de" -> 5000, "es" -> 2500)
    def multiset(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(identity).view.mapValues(_.length).toMap
    val got = multiset(runToCompletion(
      graft.text.TextStats.corpusMixture(
          docStream(newDocStreamDir()), "doc_id", "lang", weights)
        .select($"doc_id", $"copy_idx"),
      "mixed").collect())
    val batch = multiset(graft.text.TextStats.corpusMixture(
        relational.Tables.documents(spark, sf), "doc_id", "lang", weights)
      .select($"doc_id", $"copy_idx").collect())
    assert(got.nonEmpty)
    assert(got === batch)
  }

  test("state-v2 TTL dedup (transformWithState) keeps first occurrence " +
      "only, across micro-batches, under RocksDB") {
    // transformWithState needs the RocksDB state store: a runtime conf
    // on the shared session, restored afterwards
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val priorProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    try {
      val dir = Files.createTempDirectory("ttl-dedup").toString
      def add(i: Int, rows: Seq[(Long, Long, Long, String)]): Unit =
        stageChunk(dir, s"b$i",
          rows.toDF("user_id", "sec", "event_id", "event_type")
            .select($"user_id",
              expr("timestamp_micros(sec * 1000000)").as("ts"),
              $"event_id", $"event_type"))
      // batch 1: ids 1,2,3 with 2 duplicated IN batch
      add(0, Seq((1L, 10L, 1L, "view"), (2L, 11L, 2L, "view"),
        (2L, 11L, 2L, "view"), (3L, 12L, 3L, "click")))
      val stream = spark.readStream
        .schema("user_id LONG, ts TIMESTAMP, event_id LONG, " +
          "event_type STRING")
        .parquet(dir)
        .as[EventStreams.TransEvent]
      val q = EventStreams.dedupEventsV2(stream).toDF()
        .writeStream.format("memory").queryName("ttldedup")
        .outputMode("append").start()
      try {
        // processAllAvailable never settles here: ProcessingTime + TTL
        // makes the engine run CONTINUOUS "no new data but cleaning up
        // state" batches (diagnosed via query status) — poll the sink
        def awaitRows(n: Long): Unit = {
          val deadline = System.nanoTime() + 90L * 1000000000L
          while (spark.table("ttldedup").count() < n &&
            System.nanoTime() < deadline) Thread.sleep(200)
        }
        awaitRows(3)
        // batch 2: ids 2,3 again (cross-batch dups) + new id 4
        add(1, Seq((9L, 20L, 2L, "error"), (9L, 21L, 3L, "error"),
          (4L, 22L, 4L, "signup")))
        awaitRows(4)
        Thread.sleep(2000) // would catch late duplicate emissions
        val got = spark.table("ttldedup").collect()
          .map(r => r.getAs[Long]("event_id")).sorted.toSeq
        assert(got === Seq(1L, 2L, 3L, 4L),
          "exactly one row per event_id, first occurrence wins")
        val st = q.recentProgress.filter(_.stateOperators.nonEmpty)
          .last.stateOperators.head
        assert(st.numRowsTotal <= 4L, "state is one value per key")
      } finally q.stop()
    } finally priorProvider match {
      case Some(v) => spark.conf.set(providerKey, v)
      case None    => spark.conf.unset(providerKey)
    }
  }

  test("NATIVE session_window sessionization on a stream: emitted " +
      "sessions are exactly batch q121 rows") {
    // the built-in operator q121 uses in batch runs UNCHANGED as a
    // streaming aggregation (append mode + watermark): every emitted
    // (user, start, n, cents) row must BE a batch q121 row — closed
    // sessions are final — and the trailing watermark may only hold
    // back a minority at end-of-stream.
    val ev = EventStreams.readEvents(spark, streamDir)
      .withColumn("c", round($"value" * 100).cast("long"))
    val agg = ev.withWatermark("ts", "2 hours")
      .groupBy($"user_id",
        session_window($"ts", "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"), sum($"c").as("total_cents"))
      .select($"user_id",
        date_format($"sw.start", "yyyy-MM-dd HH:mm:ss").as("session_start"),
        $"n_events", $"total_cents")
    val got = runToCompletion(agg, "swsessions").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val batch = SparkEntry.queries("q121_session_window")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val batchSet = batch.toSet
    assert(got.nonEmpty, "no sessions emitted")
    got.foreach(s => assert(batchSet.contains(s),
      s"stream emitted a session batch q121 does not have: $s"))
    assert(got.length >= batch.length / 2,
      s"${got.length} of ${batch.length} sessions emitted")
  }

  test("streaming funnel state machine equals the batch q113 reach " +
      "counts once the watermark drains") {
    // greedy first-touch funnel on a stream: feed the real events in two
    // chronological chunks + a far-future sentinel; count(step = k) must
    // then equal batch q113's users-reaching-step-k exactly.
    val dir = Files.createTempDirectory("funnel-stream").toString
    val typed = relational.Tables.events(spark, sf)
      .select($"user_id", $"ts", $"event_id", $"event_type").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getString(3)))
      .sortBy(_._2.getTime)
    def add(i: Int,
        rows: Seq[(Long, java.sql.Timestamp, Long, String)]): Unit =
      stageChunk(dir, s"b$i",
        rows.toDF("user_id", "ts", "event_id", "event_type"))
    val (c1, c2) = typed.splitAt(typed.length / 2)
    add(0, c1.toSeq)
    val stream = spark.readStream
      .schema("user_id LONG, ts TIMESTAMP, event_id LONG, event_type STRING")
      .parquet(dir)
      .as[EventStreams.TransEvent]
    val q = EventStreams.funnelSteps(stream).toDF()
      .writeStream.format("memory").queryName("funnelsteps")
      .outputMode("append").start()
    try {
      drain(q)
      add(1, c2.toSeq)
      drain(q)
      val maxTs = typed.map(_._2.getTime).max
      add(9, Seq((-1L,
        new java.sql.Timestamp(maxTs + 10L * 3600 * 1000), 999999L,
        "error")))
      drain(q)
      val got = spark.table("funnelsteps").filter($"user_id" >= 0)
        .groupBy($"step").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val batch = SparkEntry.queries("q113_funnel")(spark, sf)
        .collect().head
      val want = Map(1 -> batch.getAs[Long]("signup_users"),
        2 -> batch.getAs[Long]("view_users"),
        3 -> batch.getAs[Long]("click_users"),
        4 -> batch.getAs[Long]("purchase_users"))
      assert(got === want.filter(_._2 > 0))
      // a user emits each step AT MOST once (the state machine never
      // re-fires a stage)
      val dupes = spark.table("funnelsteps")
        .groupBy($"user_id", $"step").count().filter($"count" > 1).count()
      assert(dupes === 0L)
    } finally q.stop()
  }

  test("streaming transition pairs equal the batch q115 matrix once the " +
      "watermark drains") {
    // stateful-LAG twin: feed the real events in three chronological
    // chunks (cross-batch buffers do real work), then one far-future
    // sentinel event that pushes the watermark past every real row so
    // all per-user buffers drain. The emitted pair multiset must then
    // equal the batch transition matrix EXACTLY.
    val dir = Files.createTempDirectory("trans-stream").toString
    val typed = relational.Tables.events(spark, sf)
      .select($"user_id", $"ts", $"event_id", $"event_type").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getString(3)))
      .sortBy(_._2.getTime)
    def add(i: Int,
        rows: Seq[(Long, java.sql.Timestamp, Long, String)]): Unit =
      stageChunk(dir, s"b$i",
        rows.toDF("user_id", "ts", "event_id", "event_type"))
    val chunks = typed.grouped((typed.length + 2) / 3).toSeq
    add(0, chunks(0).toSeq)
    val stream = spark.readStream
      .schema("user_id LONG, ts TIMESTAMP, event_id LONG, event_type STRING")
      .parquet(dir)
      .as[EventStreams.TransEvent]
    val q = EventStreams.transitionPairs(stream).toDF()
      .writeStream.format("memory").queryName("transpairs")
      .outputMode("append").start()
    try {
      drain(q)
      val batch = SparkEntry.queries("q115_transitions")(spark, sf)
        .collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("n"))
        .toMap
      val midway = spark.table("transpairs").count()
      assert(midway < batch.values.sum,
        "the tail of chunk 1 must still be buffered above the watermark")
      chunks.drop(1).zipWithIndex.foreach { case (c, i) =>
        add(i + 1, c.toSeq); drain(q)
      }
      val maxTs = typed.map(_._2.getTime).max
      add(9, Seq((-1L,
        new java.sql.Timestamp(maxTs + 10L * 3600 * 1000), 999999L, "view")))
      drain(q)
      val got = spark.table("transpairs").filter($"user_id" >= 0)
        .groupBy($"prev_type", $"next_type").count().collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("count"))
        .toMap
      assert(got === batch)
    } finally q.stop()
  }

  test("streaming CDC maintenance: seed + cumulative stream delta " +
      "equals a recompute after every merge, incl. one mid-stream") {
    import graft.io.{MergeInto, StatsMaintenance}
    val dir = Files.createTempDirectory("cdcstream").toString
    Seq((1L, "one", "a"), (2L, "two", "a"), (3L, "three", "b"),
        (4L, "four", "c")).toDF("k", "v", "p")
      .write.mode("overwrite").partitionBy("p").parquet(dir)
    val metrics = Seq("sum_k" -> col("k"))
    val seedDir = Files.createTempDirectory("cdcseed").toString
    StatsMaintenance.recompute(spark.read.parquet(dir), "p", metrics)
      .write.mode("overwrite").parquet(seedDir)
    // two merges land BEFORE the stream starts: update k=2, insert
    // k=5, delete k=4 (drains partition c), then move k=1 a->b
    MergeInto.mergeByKeyCdc(spark, dir,
      Seq((2L, "two2", "a", false), (5L, "five", "b", false),
        (4L, "x", "c", true)).toDF("k", "v", "p", "_del"),
      "k", "p", deleteWhen = Some(col("_del")))
    MergeInto.mergeByKeyCdc(spark, dir,
      Seq((1L, "one2", "b", false)).toDF("k", "v", "p", "_del"),
      "k", "p", deleteWhen = Some(col("_del")))
    val q = StatsMaintenance.cdcDeltaStream(spark, dir, "p", metrics)
      .writeStream.format("memory").queryName("cdcdelta")
      .outputMode("complete").start()
    try {
      def maintained = StatsMaintenance.applyDelta(
        spark.read.parquet(seedDir), spark.table("cdcdelta"),
        "p", metrics).as[(String, Long, Long)].collect().toSet
      def recomputed = StatsMaintenance.recompute(
        spark.read.parquet(dir), "p", metrics)
        .as[(String, Long, Long)].collect().toSet
      drain(q)
      val afterTwo = maintained
      assert(afterTwo === recomputed)
      assert(!afterTwo.exists(_._1 == "c"),
        "group drained by the streamed delete must disappear")
      // a THIRD merge lands while the stream is live — its feed batch
      // is a new file under ._cdc, discovered like any stream input
      MergeInto.mergeByKeyCdc(spark, dir,
        Seq((6L, "six", "d", false)).toDF("k", "v", "p", "_del"),
        "k", "p", deleteWhen = Some(col("_del")))
      drain(q)
      val afterThree = maintained
      assert(afterThree === recomputed)
      assert(afterThree.exists(_._1 == "d"),
        "the mid-stream merge's new group must appear")
    } finally q.stop()
  }

  test("streaming merge ingest: micro-batches upsert the table in " +
      "order, and a re-delivered batch is a no-op (at-least-once safe)") {
    val tableDir = Files.createTempDirectory("mergestream").toString
    Seq((1L, "one", "a"), (2L, "two", "a"), (3L, "three", "b"))
      .toDF("k", "v", "p")
      .write.mode("overwrite").partitionBy("p").parquet(tableDir)
    val srcDir = Files.createTempDirectory("mergesrc").toString
    def table(): Set[(Long, String, String)] =
      spark.read.parquet(tableDir).select($"k", $"v", $"p")
        .as[(Long, String, String)].collect().toSet
    val chunk1 = Seq((2L, "two2", "a"), (5L, "five", "b"))
      .toDF("k", "v", "p")
    val chunk2 = Seq((5L, "five2", "b"), (6L, "six", "c"))
      .toDF("k", "v", "p")
    stageChunk(srcDir, "batch0", chunk1)
    val stream = spark.readStream.schema(chunk1.schema).parquet(srcDir)
    val q = EventStreams.mergeStream(stream, tableDir, "k", "p")
    try {
      drain(q)
      assert(table() === Set((1L, "one", "a"), (2L, "two2", "a"),
        (3L, "three", "b"), (5L, "five", "b")))
      // second trigger: k=5 overwritten (last-writer-wins), k=6 lands
      stageChunk(srcDir, "batch1", chunk2)
      drain(q)
      val settled = table()
      assert(settled === Set((1L, "one", "a"), (2L, "two2", "a"),
        (3L, "three", "b"), (5L, "five2", "b"), (6L, "six", "c")))
      // simulated re-delivery (the at-least-once case foreachBatch
      // permits): merging the same batch again must not change the
      // table — idempotency is what makes the ingest loop safe
      graft.io.MergeInto.mergeByKey(spark, tableDir, chunk2, "k", "p")
      assert(table() === settled)
    } finally q.stop()
  }

  test("versioned streaming ingest: each epoch commits exactly one " +
      "version, and a redelivered epoch tag is skipped (exactly-once)") {
    import graft.io.VersionLog
    val tableDir = Files.createTempDirectory("vmergestream").toString
    VersionLog.init(spark, tableDir,
      Seq((1L, "one", "a"), (2L, "two", "a"), (3L, "three", "b"))
        .toDF("k", "v", "p"),
      partitionBy = Some("p"))
    val srcDir = Files.createTempDirectory("vmergesrc").toString
    def table(): Set[(Long, String, String)] =
      VersionLog.read(spark, tableDir).select($"k", $"v", $"p")
        .as[(Long, String, String)].collect().toSet
    val chunk1 = Seq((2L, "two2", "a"), (5L, "five", "b"))
      .toDF("k", "v", "p")
    val chunk2 = Seq((5L, "five2", "b"), (6L, "six", "c"))
      .toDF("k", "v", "p")
    stageChunk(srcDir, "batch0", chunk1)
    val stream = spark.readStream.schema(chunk1.schema).parquet(srcDir)
    val q = EventStreams.versionedMergeStream(stream, tableDir,
      "k", "p", queryTag = "ingest")
    try {
      drain(q)
      assert(table() === Set((1L, "one", "a"), (2L, "two2", "a"),
        (3L, "three", "b"), (5L, "five", "b")))
      stageChunk(srcDir, "batch1", chunk2)
      drain(q)
      val settled = table()
      assert(settled === Set((1L, "one", "a"), (2L, "two2", "a"),
        (3L, "three", "b"), (5L, "five2", "b"), (6L, "six", "c")))
      val versions = VersionLog.listVersions(spark, tableDir)
      assert(versions.size === 3, s"init + 2 epochs, got $versions")
      // simulated redelivery of epoch 1 (crash between the merge and
      // the offset commit): the tag is on the log -> skipped whole,
      // no new version, table unchanged
      assert(VersionLog.mergeBatchOnce(spark, tableDir,
        "stream:ingest:1", chunk2, "k", "p").isEmpty)
      assert(VersionLog.listVersions(spark, tableDir) === versions)
      assert(table() === settled)
      // epoch actions are recorded on the version files themselves
      assert(VersionLog.snapshot(spark, tableDir, Some(versions.max))
        .action === "stream:ingest:1")
    } finally q.stop()
  }

  test("streaming BM25 probe serves the persisted index, equal to " +
      "the batch probe per query") {
    val corpus = Seq((1L, "alpha beta beta gamma"), (2L, "alpha gamma"),
      (3L, "beta delta delta"), (4L, "gamma gamma alpha beta"),
      (5L, "delta alpha")).toDF("doc_id", "text")
    val idx = Files.createTempDirectory("bm25-stream-idx").toString
    graft.text.Bm25.buildIndex(corpus, "doc_id", "text", idx)
    val qDir = Files.createTempDirectory("bm25-queries").toString
    val queries = Seq(
      (10L, Seq("alpha", "beta")),
      (11L, Seq("delta")),
      (12L, Seq("gamma", "delta", "gamma"))) // dup term: distinct once
      .toDF("id", "terms")
    queries.coalesce(1).write.mode("overwrite").parquet(qDir)
    val stream = spark.readStream
      .schema("id LONG, terms ARRAY<STRING>").parquet(qDir)
    val got = runToCompletion(
      EventStreams.bm25ProbeStream(spark, idx, stream, k = 3),
      "bm25probe", mode = "update")
      .select($"query_id", $"rank", $"id", $"score_bp")
      .as[(Long, Int, Long, Long)].collect().toSet
    val want = Seq(10L -> Seq("alpha", "beta"), 11L -> Seq("delta"),
      12L -> Seq("gamma", "delta")).flatMap { case (qid, terms) =>
      graft.text.Bm25.probeIndex(spark, idx, terms, k = 3)
        .collect().zipWithIndex.map { case (r, i) =>
          (qid, i + 1, r.getLong(0), r.getLong(1)) }
    }.toSet
    assert(want.nonEmpty)
    assert(got === want)
  }

  test("streaming OHLC bars equal the batch q133 bars for every " +
      "watermark-closed window") {
    val ev = EventStreams.readEvents(spark, streamDir)
    val got = runToCompletion(
      EventStreams.ohlcBars(ev), "ohlc", mode = "append").collect()
    val batch = SparkEntry.queries("q133_ohlc_bars")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6))).toMap
    assert(got.nonEmpty)
    got.foreach { r =>
      val key = (r.getString(1), r.getLong(0))
      assert(batch(key) === ((r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6))), s"bar $key")
    }
  }
}
