package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues,
  ValueState}
import org.apache.spark.sql.types._

import graft.io.Parquet

/** Structured Streaming operators over the events stream — the engine's
  * answer to the reference's sentinel-punctuated infinite streams
  * (`loop`, `edsnlp/utils/stream_sentinels.py`; incremental per-fragment
  * writes `edsnlp/data/parquet.py:167-176`). Watermarks play the
  * fragment/dataset-sentinel role: they bound state and declare when a
  * window is complete.
  *
  * All operators take an unbounded DataFrame from `readStream` and return
  * a transformed unbounded DataFrame; sinks are the caller's choice
  * (`writeStream.format(...)`). State stores are keyed by (window,
  * event_type) or user_id — bounded by watermark expiry, so executors
  * hold O(active keys), not O(history): the property that matters when the
  * stream has run for a year.
  */
object EventStreams {

  /** File-stream source over a directory of events parquet. readStream
    * needs an explicit schema, but the driver's `ts` physical encoding has
    * varied across data generations (nanos-as-long, untagged micros →
    * TIMESTAMP_NTZ, UTC micros). Probe the directory's schema with
    * `Parquet.read` (one footer, read in-process: no Spark job unless
    * the layout sends it back to Spark's inference job) and derive both
    * the stream schema and the unit conversion from what is actually on
    * disk, the same normalization as the batch loader (`Tables.eventsTs`):
    * every downstream watermark/window sees a session-tz TimestampType.
    */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val onDisk = Parquet.read(spark, dir).schema
    graft.relational.Tables.eventsTs(
      spark.readStream.schema(onDisk).parquet(dir))
  }

  /** Tumbling-window counts/sums per event type with late-data handling. */
  def tumblingCounts(
      events: DataFrame,
      window: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window),
        col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), round(col("total"), 2).as("total"))

  /** Streaming OHLC bars — q133's downsample running incrementally:
    * min_by/max_by over the (micros, event_id) composite key are
    * ordinary declarative aggregates, so the exact batch bar
    * definition streams unchanged; append mode emits a bar once its
    * window passes the watermark. State per open bar is five longs +
    * two keys, regardless of tick volume.
    */
  def ohlcBars(events: DataFrame, barWidth: String = "10 minutes",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .select(col("event_type"), col("ts"),
        round(col("value") * 100).cast("long").as("c"),
        (unix_micros(col("ts")).cast("decimal(38,0)") * lit(1000000) +
          col("event_id")).as("key"))
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), barWidth),
        col("event_type"))
      .agg(min_by(col("c"), col("key")).as("open"),
        max(col("c")).as("high"), min(col("c")).as("low"),
        max_by(col("c"), col("key")).as("close"),
        count(lit(1)).as("n"))
      .select(expr(s"unix_micros(window.start) div " +
          s"${parseDurationMs(barWidth) * 1000L}").as("bucket"),
        col("event_type"), col("open"), col("high"), col("low"),
        col("close"), col("n"))

  /** Sliding-window rates (window/slide), watermark-bounded. */
  def slidingRates(
      events: DataFrame,
      window: String = "1 hour",
      slide: String = "15 minutes",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions
        .window(col("ts"), window, slide))
      .agg(count(lit(1)).as("n"),
        approx_count_distinct(col("user_id")).as("approx_users"))
      .select(col("window.start").as("window_start"), col("n"),
        col("approx_users"))

  case class SessionEvent(user_id: Long, ts: java.sql.Timestamp,
      value: Double)
  case class SessionState(start: Long, lastTs: Long, n: Long, total: Double)
  case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
      n_events: Long, total: Double, duration_s: Double)

  /** Sessionization with a 30-min inactivity gap via
    * `flatMapGroupsWithState` — custom state machine per user, emitting a
    * row when a session closes (event-time timeout). The streaming twin of
    * the batch q16_sessionize window query.
    */
  def sessionize(
      events: Dataset[SessionEvent],
      gapSeconds: Long = 1800): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[SessionEvent],
            state: GroupState[SessionState]) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
          var st = state.getOption.orNull
          if (state.hasTimedOut) {
            if (st != null)
              out += SessionOut(userId, new java.sql.Timestamp(st.start),
                st.n, math.rint(st.total * 100) / 100,
                (st.lastTs - st.start) / 1000.0)
            state.remove()
          } else {
            rows.toSeq.sortBy(_.ts.getTime).foreach { e =>
              val t = e.ts.getTime
              if (st == null) st = SessionState(t, t, 1, e.value)
              else if (t - st.lastTs > gapSeconds * 1000) {
                out += SessionOut(userId, new java.sql.Timestamp(st.start),
                  st.n, math.rint(st.total * 100) / 100,
                  (st.lastTs - st.start) / 1000.0)
                st = SessionState(t, t, 1, e.value)
              } else if (t < st.start - gapSeconds * 1000) {
                // late event more than a gap BEFORE the current session:
                // it belongs to an earlier, already-expired session —
                // emit it as its own session rather than stretching the
                // current one across a silent interval longer than gap
                out += SessionOut(userId, new java.sql.Timestamp(t),
                  1, math.rint(e.value * 100) / 100, 0.0)
              } else {
                // in-gap late or in-order event: extend the session both
                // ways; lastTs never moves backward (a backward move
                // would rewind the event-time timeout and split live
                // sessions)
                st = SessionState(math.min(st.start, t),
                  math.max(st.lastTs, t), st.n + 1, st.total + e.value)
              }
            }
            state.update(st)
            state.setTimeoutTimestamp(st.lastTs + gapSeconds * 1000)
          }
          out.iterator
      }
  }

  case class TransEvent(user_id: Long, ts: java.sql.Timestamp,
      event_id: Long, event_type: String)
  /** lastType = previous emitted event's type (carried across batches);
    * buf = events still above the watermark as (tsMicros, event_id, type),
    * bounded by one watermark horizon of ONE user's traffic.
    */
  case class TransState(lastType: Option[String],
      buf: List[(Long, Long, String)])
  case class TransPair(user_id: Long, prev_type: String, next_type: String)

  private def micros(t: java.sql.Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000L) % 1000L

  /** The shared buffer-until-watermark drain both ordered per-key state
    * machines ([[transitionPairs]], [[funnelSteps]]) are built on: merge
    * this trigger's rows into the persisted buffer, split at the
    * watermark, and hand back (ready-in-order, pending, timeoutMs).
    *
    * - the persisted buffer is ALREADY sorted (it is the pending tail of
    *   a previous sorted split), so only the new rows sort — O(n log n +
    *   H) per trigger instead of re-sorting the whole horizon H;
    * - the strictly-below-watermark prefix is safe to order: later
    *   arrivals at or below the watermark are dropped as late before
    *   they reach the state function;
    * - `timeoutMs` (when defined) must be registered as the event-time
    *   timeout: a group is only re-invoked on new data OR a timeout, so
    *   a buffer whose key goes quiet would otherwise NEVER drain. It
    *   fires once the watermark passes the newest buffered row — the
    *   whole buffer is ready by then; no timeout when the buffer is
    *   empty, so idle keys cost no wake-ups.
    */
  private def drainAtWatermark(
      persisted: List[(Long, Long, String)],
      rows: Iterator[TransEvent],
      wmMs: Long): (List[(Long, Long, String)], List[(Long, Long, String)],
      Option[Long]) = {
    val fresh = rows.map(e => (micros(e.ts), e.event_id, e.event_type))
      .toList.sortBy(t => (t._1, t._2))
    val merged = new scala.collection.mutable.ListBuffer[(Long, Long, String)]
    var (a, b) = (persisted, fresh)
    while (a.nonEmpty && b.nonEmpty) {
      val (ah, bh) = (a.head, b.head)
      if (ah._1 < bh._1 || (ah._1 == bh._1 && ah._2 <= bh._2)) {
        merged += ah; a = a.tail
      } else { merged += bh; b = b.tail }
    }
    merged ++= a; merged ++= b
    val (ready, pending) = merged.toList.partition(_._1 < wmMs * 1000L)
    val timeoutMs =
      if (pending.isEmpty) None
      else Some(math.max(pending.iterator.map(_._1 / 1000L).max, wmMs + 1L))
    (ready, pending, timeoutMs)
  }

  /** Streaming twin of batch q115_transitions: per-user consecutive
    * (prev, next) event-type pairs in exact (ts, event_id) order — the
    * stateful-LAG shape. A pair can only be emitted once the engine knows
    * no earlier event will still arrive, so arrivals buffer until the
    * WATERMARK passes them: each trigger appends the batch's rows to the
    * per-user buffer, drains the prefix strictly below the current
    * watermark in (ts, event_id) order, and emits one pair per drained
    * event against the carried `lastType`. State per user = one small
    * record + at most a watermark horizon of buffered rows; `lastType`
    * persists indefinitely (exactly the batch semantics — a user's next
    * event after a year still pairs with their last one), so state count
    * grows with distinct users, the same bound as any per-user streaming
    * aggregation. Downstream `groupBy(prev,next).count` in update mode
    * gives the running transition matrix.
    */
  def transitionPairs(events: Dataset[TransEvent],
      watermark: String = "2 hours"): Dataset[TransPair] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TransState, TransPair](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[TransEvent],
            state: GroupState[TransState]) =>
          val st = state.getOption.getOrElse(TransState(None, Nil))
          val (ready, pending, timeoutMs) = drainAtWatermark(
            st.buf, rows, state.getCurrentWatermarkMs())
          var last = st.lastType
          val out = ready.flatMap { case (_, _, t) =>
            val p = last
            last = Some(t)
            p.map(pt => TransPair(userId, pt, t))
          }
          state.update(TransState(last, pending))
          timeoutMs.foreach(state.setTimeoutTimestamp)
          out.iterator
      }
  }

  /** step = funnel stage reached so far (0 = none); buf as in
    * [[TransState]].
    */
  case class FunnelState(step: Int, buf: List[(Long, Long, String)])
  case class StepReached(user_id: Long, step: Int)

  /** Streaming twin of batch q113_funnel: the greedy first-touch funnel
    * state machine per user, on an unbounded stream. Same
    * buffer-until-watermark + event-time-timeout drain as
    * [[transitionPairs]] (exact (ts, event_id) order needs the
    * no-earlier-arrival proof); each drained event that matches the next
    * step advances the machine and emits one `StepReached(user, step)`
    * row — a user reaching step k has emitted rows 1..k exactly once, so
    * a downstream `groupBy(step).count` in update mode IS the live
    * funnel (count at step k = users who reached AT LEAST k). State per
    * user: one Int + the watermark-horizon buffer.
    */
  def funnelSteps(events: Dataset[TransEvent],
      steps: Seq[String] = Seq("signup", "view", "click", "purchase"),
      watermark: String = "2 hours"): Dataset[StepReached] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, StepReached](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[TransEvent],
            state: GroupState[FunnelState]) =>
          val st = state.getOption.getOrElse(FunnelState(0, Nil))
          if (st.step == steps.length) {
            // funnel complete: nothing can ever be emitted again — stop
            // buffering; a completed user costs one Int and no wake-ups
            if (st.buf.nonEmpty) state.update(FunnelState(st.step, Nil))
            Iterator.empty
          } else {
            val (ready, pending, timeoutMs) = drainAtWatermark(
              st.buf, rows, state.getCurrentWatermarkMs())
            var step = st.step
            val out = ready.flatMap { case (_, _, t) =>
              if (step < steps.length && t == steps(step)) {
                step += 1
                Some(StepReached(userId, step))
              } else None
            }
            state.update(FunnelState(step,
              if (step == steps.length) Nil else pending))
            if (step < steps.length) timeoutMs.foreach(state.setTimeoutTimestamp)
            out.iterator
          }
      }
  }

  /** Stateful exact dedup on event_id within the watermark horizon —
    * Spark's `dropDuplicates` over a keyed state store (the streaming form
    * of the exact-dedup operator).
    */
  def dedupEvents(events: DataFrame, watermark: String = "2 hours")
      : DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Exact dedup on event_id via the STATE-V2 API (`transformWithState`,
    * Spark 4): one `ValueState[Boolean]` per key with a NATIVE state
    * TTL — the store itself expires idle keys after `ttl` of processing
    * time, so state is bounded without an event-time watermark (the
    * [[dedupEvents]] form needs one; at 100 TB the TTL form is the
    * ingest-side dedup for feeds whose event time is unreliable).
    * Requires the RocksDB state store provider (state-v2's backing
    * store) — the spec session sets
    * `spark.sql.streaming.stateStore.providerClass`. A key's first row
    * passes through; duplicates — same batch or any later one inside
    * the TTL — are dropped.
    *
    * Operational note (diagnosed in-round): under ProcessingTime the
    * engine interleaves continuous "no new data but cleaning up state"
    * batches for TTL expiry, so `processAllAvailable` never settles on
    * this query — poll the sink for expected rows instead (the spec
    * does).
    */
  def dedupEventsV2(events: Dataset[TransEvent],
      ttl: java.time.Duration = java.time.Duration.ofHours(2))
      : Dataset[TransEvent] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.event_id)
      .transformWithState(new DedupProcessor(ttl),
        TimeMode.ProcessingTime(), OutputMode.Append())
  }

  /** Keyed by event_id; emits only the key's first row ever seen
    * within the TTL.
    */
  private class DedupProcessor(ttl: java.time.Duration)
      extends StatefulProcessor[Long, TransEvent, TransEvent] {
    @transient private var seen: ValueState[Boolean] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getValueState[Boolean]("seen",
        org.apache.spark.sql.Encoders.scalaBoolean, TTLConfig(ttl))
    override def handleInputRows(key: Long, rows: Iterator[TransEvent],
        timerValues: TimerValues): Iterator[TransEvent] = {
      if (seen.exists()) Iterator.empty
      else {
        seen.update(true)
        rows.take(1)
      }
    }
  }

  /** STREAM-STREAM attribution join — the streaming twin of
    * [[graft.operators.IntervalJoin.pairs]]: every (click, view) pair
    * with equal user and `v_ts` in `[ts - window, ts]`, both ends
    * inclusive, emitted as matches arrive (append mode).
    *
    * `clicks` carries (click_id, user_id, ts); `views` carries
    * (view_id, v_user, v_ts); both must be streaming DataFrames. Both
    * sides are watermarked and the join condition is an event-time RANGE,
    * which is exactly what Spark's state cleanup needs: a buffered view
    * is droppable once the watermark passes `v_ts + window` (no future
    * click can reach back to it), a buffered click once the watermark
    * passes `ts` — so state holds at most `watermark + window` of each
    * side's traffic, keyed by user, regardless of how long the streams
    * run. Without the range condition the state store would retain every
    * row ever seen; the spec pins eviction via `stateOperators`.
    */
  /** `leftOuter = true` keeps zero-view clicks (the batch q108
    * semantics): a null-view row for a click emits only once the
    * WATERMARK passes the click's match horizon — the engine must
    * prove no matching view can still arrive before it declares the
    * click unmatched, so outer results trail the watermark by design.
    */
  def attributionJoin(clicks: DataFrame, views: DataFrame,
      windowSeconds: Long = 900,
      watermark: String = "2 hours",
      leftOuter: Boolean = false): DataFrame = {
    val c = clicks.withWatermark("ts", watermark)
    val v = views.withWatermark("v_ts", watermark)
    c.join(v,
      col("user_id") === col("v_user") &&
        col("v_ts") >= col("ts") - expr(s"INTERVAL $windowSeconds SECONDS") &&
        col("v_ts") <= col("ts"),
      if (leftOuter) "left_outer" else "inner")
      .select(col("click_id"), col("user_id"), col("ts"),
        col("view_id"), col("v_ts"))
  }

  /** "N seconds|minutes|hours|days" → milliseconds (the subset of
    * watermark syntax this module uses).
    */
  private[streaming] def parseDurationMs(s: String): Long = {
    val m = "(?i)\\s*(\\d+)\\s*(second|minute|hour|day)s?\\s*".r
    s match {
      case m(n, unit) =>
        val mult = unit.toLowerCase match {
          case "second" => 1000L
          case "minute" => 60L * 1000
          case "hour" => 3600L * 1000
          case "day" => 86400L * 1000
        }
        n.toLong * mult
      case _ => throw new IllegalArgumentException(
        s"Cannot parse duration: '$s'")
    }
  }

  /** STREAMING benchmark decontamination — the unbounded twin of
    * `Dedup.decontaminate`: documents arriving on a stream report how
    * many DISTINCT word n-grams they share with a STATIC benchmark
    * (eval-set) corpus. The benchmark gram set is collected once on the
    * driver and broadcast — an eval set is small by nature, which makes
    * the stream side STATELESS (no state store, no watermark, plain
    * append mode): each doc is scored row-locally against the broadcast
    * set, exactly the shape an ingest gate needs. Docs sharing nothing
    * are dropped (`n_shared > 0`); route the hit stream to quarantine
    * and the complement to the training sink.
    */
  /** Collect the benchmark texts in ONE bounded action: the `limit` caps
    * what ever reaches the driver at `maxRows + 1` rows (the +1 row is
    * the overflow witness), so a corpus-sized frame passed where an eval
    * set belongs fails fast with a clear message instead of OOMing the
    * driver — and the guard costs no separate count() job.
    */
  private def collectBenchmarkTexts(benchmark: DataFrame, textCol: String,
      maxRows: Long, batchAlternative: String): Array[String] = {
    require(maxRows > 0 && maxRows < Int.MaxValue,
      s"maxBenchmarkRows must be in (0, ${Int.MaxValue})")
    val rows = benchmark.select(col(textCol))
      .limit(maxRows.toInt + 1).collect()
    require(rows.length <= maxRows,
      s"benchmark has more than $maxRows rows: this is collected to " +
        "the driver and broadcast. For corpus-sized benchmark sets use " +
        s"the batch $batchAlternative path, or raise maxBenchmarkRows " +
        "explicitly.")
    rows.map(_.getString(0))
  }

  def decontaminateDocs(
      docs: DataFrame, // streaming (doc_id, ts, text)
      benchmark: DataFrame, // BATCH (text) benchmark corpus
      n: Int = 8,
      textCol: String = "text",
      maxBenchmarkRows: Long = 1000000L): DataFrame = {
    val grams = scala.collection.mutable.HashSet.empty[Long]
    collectBenchmarkTexts(benchmark, textCol, maxBenchmarkRows,
        "Dedup.decontaminate").foreach { s =>
      graft.dedup.Shingling.foreachShingleHash(s, n)(grams += _)
    }
    val bc = docs.sparkSession.sparkContext.broadcast(grams.toSet)
    val shared = udf((s: String) => {
      if (s == null) 0L
      else {
        val seen = new java.util.HashSet[java.lang.Long]()
        var c = 0L
        graft.dedup.Shingling.foreachShingleHash(s, n) { z =>
          if (bc.value.contains(z) && seen.add(z)) c += 1
        }
        c
      }
    })
    docs.withColumn("n_shared", shared(col(textCol)))
      .filter(col("n_shared") > 0)
  }

  /** STREAMING decontamination GATE — the unbounded twin of
    * `Dedup.decontaminateFilter`: pass through only the docs sharing NO
    * word n-gram with the static benchmark. Stateless (no state store,
    * no watermark, plain append mode) and two-tier, mirroring the batch
    * plan: every gram probes a broadcast Bloom filter first (two cache
    * lines, rejects the clean majority), and only bloom-POSITIVE grams
    * consult the exact broadcast gram set — so the verdict is EXACT
    * whatever the false-positive rate, while the per-doc cost stays
    * bloom-bound on clean traffic. Both structures are bounded by the
    * benchmark (an eval set), never by the stream.
    */
  def decontaminateGateDocs(
      docs: DataFrame, // streaming (doc_id, ts, text)
      benchmark: DataFrame, // BATCH (text) benchmark corpus
      n: Int = 8,
      fpp: Double = 0.01,
      textCol: String = "text",
      maxBenchmarkRows: Long = 1000000L): DataFrame = {
    val grams = scala.collection.mutable.HashSet.empty[Long]
    collectBenchmarkTexts(benchmark, textCol, maxBenchmarkRows,
        "Dedup.decontaminateFilter").foreach { s =>
      graft.dedup.Shingling.foreachShingleHash(s, n)(grams += _)
    }
    val bloom = org.apache.spark.util.sketch.BloomFilter
      .create(math.max(grams.size.toLong, 1L), fpp)
    grams.foreach(bloom.putLong)
    val sc = docs.sparkSession.sparkContext
    val bloomB = sc.broadcast(bloom)
    val exactB = sc.broadcast(grams.toSet)
    val clean = udf((s: String) => {
      if (s == null) true
      else {
        val bf = bloomB.value
        var ok = true
        graft.dedup.Shingling.foreachShingleHash(s, n) { z =>
          if (ok && bf.mightContainLong(z) && exactB.value.contains(z))
            ok = false
        }
        ok
      }
    })
    docs.filter(clean(col(textCol)))
  }

  /** STREAMING ANN serving — the unbounded twin of
    * `Ann.probeIvfIndex`: query vectors arrive on a stream and probe a
    * PERSISTED IVF index. The coarse centroids are collected ONCE at
    * stream start (a small fit artifact — the serving process's warm
    * state); each query explodes to its `nprobe` cells row-locally and
    * candidates come from the stream-static equi-join against the
    * cell-partitioned code store; the per-query top-k is a streaming
    * aggregation in update mode (a query's row finalizes when its
    * batch completes — queries do not repeat, by the serving
    * contract). State is bounded by in-flight queries, never the
    * corpus; the corpus side stays a static scan that Spark prunes per
    * micro-batch via the join. Output: (query_id, rank, neighbor_id).
    */
  def annProbeVecs(spark: SparkSession, indexDir: String,
      queries: DataFrame, // streaming (id, vec array<double>)
      k: Int, nprobe: Int = 2): DataFrame = {
    val centers = Parquet.read(spark, s"$indexDir/centroids.parquet")
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1).map(_._2)
    val qs = queries.select(col("id").as("query_id"),
      col("vec").as("qv"),
      explode(graft.similarity.Ann.probeUdf(centers, nprobe)(col("vec")))
        .as("cell"))
    val cs = Parquet.read(spark, s"$indexDir/cells.parquet")
      .select(col("id").as("neighbor_id"), col("vec").as("cv"),
        col("cell"))
    graft.similarity.Ann.probeJoinTopK(cs, qs, k)
  }

  case class ShardDoc(shard: Long, doc_id: Long, toks: Long)
  case class PackState(tokEnd: Long)
  case class PackedPiece(shard: Long, seq_id: Long, doc_id: Long,
      piece_start: Long, piece_end: Long)

  /** STREAMING sequence packing — the unbounded twin of
    * `TextStats.packSequences`: documents arriving on a stream are
    * appended to their shard's running token stream and emitted as
    * fixed-`budget` training-sequence pieces, docs splitting across
    * sequence boundaries exactly like the batch path. The per-shard
    * state is ONE running token offset (a single long — the smallest
    * possible state store; no timeout needed because state size is
    * bounded by the shard count, not the stream length).
    *
    * Determinism caveat, by design: a stream packs in ARRIVAL order
    * (within a micro-batch, ties sort by doc_id), so the packing equals
    * the batch operator's (shard, id)-order packing exactly when docs
    * arrive in id order — the replay-a-corpus-into-training-sequences
    * scenario. Under out-of-order arrival the piece arithmetic is still
    * exact per shard; only the doc->sequence assignment reflects
    * arrival order, which is what "pack an unbounded stream" means.
    */
  def packDocs(
      docs: DataFrame, // streaming (doc_id, text)
      budget: Int, shards: Int,
      textCol: String = "text"): Dataset[PackedPiece] = {
    require(budget > 0, "budget must be positive")
    require(shards > 0, "shards must be positive")
    import docs.sparkSession.implicits._
    // same null-safe tokenization definition as the batch twin — the
    // bit-equality contract requires ONE definition, not two copies
    docs
      .select(col("doc_id").cast("long").as("doc_id"),
        graft.text.TextStats.wordCount(coalesce(col(textCol), lit("")))
          .cast("long").as("toks"))
      .withColumn("shard", pmod(col("doc_id"), lit(shards.toLong)))
      .select("shard", "doc_id", "toks")
      .as[ShardDoc]
      .groupByKey(_.shard)
      .flatMapGroupsWithState[PackState, PackedPiece](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (shard: Long, rows: Iterator[ShardDoc],
            state: GroupState[PackState]) =>
          var off = state.getOption.map(_.tokEnd).getOrElse(0L)
          val out =
            scala.collection.mutable.ArrayBuffer.empty[PackedPiece]
          rows.toSeq.sortBy(_.doc_id).foreach { d =>
            val start = off
            val end = off + d.toks
            var seq = start / budget
            val lastSeq = (end - 1) / budget
            while (seq <= lastSeq) {
              out += PackedPiece(shard, seq, d.doc_id,
                math.max(start, seq * budget) - start,
                math.min(end, (seq + 1) * budget) - start)
              seq += 1
            }
            off = end
          }
          state.update(PackState(off))
          out.iterator
      }
  }

  case class BudgetDoc(key: String, doc_id: Long, pos: Long, toks: Long)
  case class BudgetState(acc: Long)
  case class KeptDoc(key: String, doc_id: Long)

  /** STREAMING token-budget selection — the unbounded twin of
    * `TextStats.tokenBudgetSelection`: documents arriving on a stream
    * are admitted per corpus slice while the slice's KEPT token mass is
    * still under its budget (the same greedy prefix rule: a doc is kept
    * iff the tokens kept before it are < budget, so overshoot is at
    * most one document and budget 0 keeps nothing); once a slice's
    * budget is exhausted every later arrival drops. Keys absent from
    * `budgets` drop without creating state. The per-key state is ONE
    * running token count — like `packDocs`, bounded by |keys|, not
    * stream length, so no timeout is needed.
    *
    * Determinism contract, shared with the batch operator through the
    * single `TextStats.positionHash`/`wordCount` definitions: within a
    * micro-batch rows are admitted in (position-hash, id) order — the
    * batch operator's order — so replaying a corpus through ONE
    * micro-batch reproduces `tokenBudgetSelection`'s kept set
    * bit-for-bit. Across micro-batches the admission order is
    * arrival-then-hash (what "gate an unbounded stream" means); the
    * budget arithmetic stays exact either way.
    */
  def tokenBudgetDocs(
      docs: DataFrame, // streaming (doc_id, key, text)
      budgets: Map[String, Long],
      seed: Long,
      idCol: String = "doc_id",
      textCol: String = "text",
      keyCol: String = "lang"): Dataset[KeptDoc] = {
    require(budgets.values.forall(_ >= 0), "budgets must be >= 0")
    import docs.sparkSession.implicits._
    val bc = docs.sparkSession.sparkContext.broadcast(budgets)
    docs
      .select(col(keyCol).as("key"),
        col(idCol).cast("long").as("doc_id"),
        graft.text.TextStats.positionHash(seed, col(idCol)).as("pos"),
        graft.text.TextStats.wordCount(coalesce(col(textCol), lit("")))
          .cast("long").as("toks"))
      .as[BudgetDoc]
      .groupByKey(_.key)
      .flatMapGroupsWithState[BudgetState, KeptDoc](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[BudgetDoc],
            state: GroupState[BudgetState]) =>
          val budget = bc.value.getOrElse(key, 0L)
          if (budget <= 0L) Iterator.empty // unknown/zero key: drop, no state
          else {
            var acc = state.getOption.map(_.acc).getOrElse(0L)
            val out = scala.collection.mutable.ArrayBuffer.empty[KeptDoc]
            rows.toSeq.sortBy(d => (d.pos, d.doc_id)).foreach { d =>
              if (acc < budget) { out += KeptDoc(key, d.doc_id); acc += d.toks }
            }
            state.update(BudgetState(acc))
            out.iterator
          }
      }
  }

  /** STREAMING LM quality scoring — the stateless ingest-gate twin of
    * `TextStats.lmCrossEntropy`: the unigram LM fits ONCE on a static
    * reference corpus (same bounded `fitUnigramLm`) and broadcasts;
    * each arriving doc scores row-locally — like `decontaminateDocs`,
    * NO state store, no watermark, plain append mode, exactly the
    * shape a perplexity ingest gate needs. Bit-equality with the batch
    * operator: tokens sum left-to-right in `split` order, the same
    * order the batch per-doc partial aggregate walks (a doc's exploded
    * tokens are contiguous in one partition), and the rounding is the
    * same HALF_UP 4dp — so the spec asserts EXACT agreement, not
    * approximate. Null texts produce no row, mirroring the batch
    * explode of a null split.
    */
  def scoreDocsXent(
      docs: DataFrame, // streaming (doc_id, text, ...)
      ref: DataFrame, // BATCH reference corpus
      refTextCol: String,
      vocabSize: Int,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val (vocab, t, v) = graft.text.TextStats
      .fitUnigramLm(ref, refTextCol, vocabSize)
    val lnNorm = math.log((t + v + 1).toDouble)
    val bc = docs.sparkSession.sparkContext.broadcast(vocab.toMap)
    val score = udf((s: String) => {
      if (s == null) None
      else {
        val ws = s.split(" ", -1)
        var acc = 0.0
        var i = 0
        while (i < ws.length) {
          acc += math.log((bc.value.getOrElse(ws(i), 0L) + 1L).toDouble)
          i += 1
        }
        val x = lnNorm - acc / ws.length
        Some((ws.length.toLong,
          BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP)
            .toDouble))
      }
    })
    docs
      .withColumn("_sc", score(col(textCol)))
      .filter(col("_sc").isNotNull)
      .select(col(idCol).cast("long").as("id"),
        col("_sc._1").as("n_words"), col("_sc._2").as("xent"))
  }

  /** STREAMING quality-classifier gate — the stateless ingest twin of
    * `QualityClassifier.score` (the fastText-shaped filter, q93): the
    * model fits ONCE on a static labeled reference (bounded by
    * `nBuckets` rows — the same broadcastable fit artifact the batch
    * join ships) and each arriving doc scores row-locally. No state
    * store, no watermark, plain append mode. Agreement with the batch
    * operator is EXACT: the score is an integer basis-point sum over
    * the same distinct md5 buckets, so there is no float order to
    * drift (spec-asserted bit equality). Null texts produce no row.
    */
  def gateDocsQuality(
      docs: DataFrame, // streaming (doc_id, text, ...)
      ref: DataFrame, // BATCH labeled reference (textCol, labelCol)
      refTextCol: String,
      labelCol: String,
      nBuckets: Int = 1024,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val (weightsDf, priorBp) = graft.text.QualityClassifier
      .fit(ref, refTextCol, labelCol, nBuckets)
    val weights = weightsDf.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bc = docs.sparkSession.sparkContext.broadcast(weights)
    val score = udf((s: String) => {
      if (s == null) None
      else {
        // replicate the batch feature map exactly: functions.trim
        // strips 0x20 only (Java String.trim would also eat controls)
        var from = 0
        var to = s.length
        while (from < to && s.charAt(from) == ' ') from += 1
        while (to > from && s.charAt(to - 1) == ' ') to -= 1
        val ws = s.substring(from, to).split("\\s+", -1)
        val seen = new java.util.HashSet[java.lang.Long]()
        var acc = priorBp
        var i = 0
        while (i < ws.length) {
          val b = graft.text.QualityClassifier.bucketOf(ws(i), nBuckets)
          if (seen.add(b)) acc += bc.value.getOrElse(b, 0L)
          i += 1
        }
        Some(acc)
      }
    })
    docs
      .withColumn("_sc", score(col(textCol)))
      .filter(col("_sc").isNotNull)
      .select(col(idCol).cast("long").as("id"),
        col("_sc").as("score_bp"), (col("_sc") >= 0L).as("keep_pred"))
  }

  case class CapDoc(key: String, doc_id: Long, h: Long)
  case class CapState(n: Long)

  /** STREAMING per-stratum cap — the unbounded twin of
    * `TextStats.cappedPerStratum` (the RefinedWeb "limit docs per
    * domain" gate, at ingest): each key admits its first `cap`
    * documents and drops every later arrival. Per-key state is ONE
    * counter — bounded by |keys| like `tokenBudgetDocs`, no timeout.
    *
    * Determinism contract through the single
    * `TextStats.selectionHash` definition: within a micro-batch rows
    * are admitted in (hash, id) order — the batch operator's order —
    * so replaying a corpus through ONE micro-batch reproduces
    * `cappedPerStratum`'s kept set exactly; across micro-batches
    * admission is arrival-then-hash, and the counter (hence the cap)
    * stays exact.
    */
  def capDocs(
      docs: DataFrame, // streaming (doc_id, key, ...)
      cap: Long,
      idCol: String = "doc_id",
      keyCol: String = "source"): Dataset[KeptDoc] = {
    require(cap > 0, s"cap must be positive, got $cap")
    import docs.sparkSession.implicits._
    docs
      .select(col(keyCol).as("key"),
        col(idCol).cast("long").as("doc_id"),
        graft.text.TextStats.selectionHash(col(idCol).cast("long"))
          .as("h"))
      .as[CapDoc]
      .groupByKey(_.key)
      .flatMapGroupsWithState[CapState, KeptDoc](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[CapDoc],
            state: GroupState[CapState]) =>
          var n = state.getOption.map(_.n).getOrElse(0L)
          val out = scala.collection.mutable.ArrayBuffer.empty[KeptDoc]
          rows.toSeq.sortBy(d => (d.h, d.doc_id)).foreach { d =>
            if (n < cap) { out += KeptDoc(key, d.doc_id); n += 1 }
          }
          state.update(CapState(n))
          out.iterator
      }
  }

  case class BucketDoc(
      bucket: String, doc_id: Long, ts: java.sql.Timestamp, sig: Seq[Long])
  case class BucketState(
      docs: List[(Long, Seq[Long])], lastTsMs: Long)
  case class NearDupHit(id_a: Long, id_b: Long, est_jaccard: Double)

  /** STREAMING near-duplicate detection — the unbounded twin of
    * `Dedup.minHashNearDuplicates`: documents MinHash-sign on arrival
    * (same fused signature as the batch path), band buckets key a
    * per-bucket state store of recent signatures, and a new arrival
    * emits a hit for every stored neighbor whose SIGNATURE AGREEMENT
    * (the unbiased MinHash estimator of Jaccard) clears `threshold`.
    * Exact shingle verification would require keeping full texts in
    * state — the estimator-on-signatures tradeoff is what a stream can
    * afford; a batch verify downstream of the hit stream recovers
    * exactness where needed. State is bounded two ways: event-time
    * timeout past the watermark horizon AND a per-bucket `maxPerBucket`
    * ring (the streaming form of the batch `maxBucket` skew cap).
    * A pair colliding in several bands emits once per band —
    * `dropDuplicates` downstream of the hit stream dedups if needed.
    */
  def nearDupDocs(
      docs: DataFrame, // (doc_id, ts, text)
      n: Int = 3, k: Int = 32, bands: Int = 8,
      threshold: Double = 0.8,
      watermark: String = "2 hours",
      maxPerBucket: Int = 64): Dataset[NearDupHit] = {
    import docs.sparkSession.implicits._
    // state expiry horizon DERIVES from the watermark argument so the
    // documented coupling (state outlives data admissibility by exactly
    // the watermark) holds for any setting
    val horizonMs = parseDurationMs(watermark)
    val width = math.max(k / bands, 1)
    val bucketed = docs
      .withWatermark("ts", watermark)
      .select(col("doc_id"), col("ts"),
        graft.dedup.Dedup.minHashSignatureFromText(col("text"), n, k)
          .as("sig"))
      .select(col("doc_id"), col("ts"), col("sig"),
        posexplode(expr(s"transform(sequence(0, $bands - 1), " +
          s"b -> xxhash64(b, array_join(slice(sig, b * $width + 1, " +
          s"$width), ',')))")))
      .select(concat_ws("_", col("pos"), col("col")).as("bucket"),
        col("doc_id"), col("ts"), col("sig"))
      .as[BucketDoc]
    bucketed
      .groupByKey(_.bucket)
      .flatMapGroupsWithState[BucketState, NearDupHit](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: String, rows: Iterator[BucketDoc],
            state: GroupState[BucketState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val out =
              scala.collection.mutable.ArrayBuffer.empty[NearDupHit]
            var st = state.getOption.getOrElse(BucketState(Nil, 0L))
            rows.toSeq.sortBy(_.ts.getTime).foreach { d =>
              // source replays re-deliver docs (the scenario dedupEvents
              // exists for): a doc already in the ring neither re-emits
              // its hits nor evicts genuine neighbors — refresh in place
              val already = st.docs.exists(_._1 == d.doc_id)
              if (!already) {
                st.docs.foreach { case (oid, osig) =>
                  val agree = osig.zip(d.sig).count {
                    case (a, b) => a == b
                  }.toDouble / math.max(osig.size, 1)
                  if (agree >= threshold)
                    out += NearDupHit(math.min(oid, d.doc_id),
                      math.max(oid, d.doc_id),
                      math.rint(agree * 10000) / 10000)
                }
              }
              st = BucketState(
                ((d.doc_id, d.sig) ::
                  st.docs.filterNot(_._1 == d.doc_id)).take(maxPerBucket),
                math.max(st.lastTsMs, d.ts.getTime))
            }
            state.update(st)
            state.setTimeoutTimestamp(st.lastTsMs + horizonMs)
            out.iterator
          }
      }
  }

  case class TermHit(query_id: Long, id: Long, bp: Long)
  case class ScoreBuf(scores: Map[Long, Long])
  case class DocScore(id: Long, score_bp: Long)

  /** Sum per-doc contributions, then keep the top-k docs by
    * (score desc, id asc) — the one-stateful-op shape a streaming
    * retrieval aggregation needs (a sum agg FOLLOWED by a rank would
    * be two stateful operators). Buffer is the query's matched
    * candidate map — bounded by the postings of ITS terms, never the
    * corpus.
    */
  private class SumTopKAggregator(k: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        TermHit, ScoreBuf, Seq[DocScore]] {
    override def zero: ScoreBuf = ScoreBuf(Map.empty)
    override def reduce(b: ScoreBuf, h: TermHit): ScoreBuf =
      ScoreBuf(b.scores.updated(h.id, b.scores.getOrElse(h.id, 0L) + h.bp))
    override def merge(a: ScoreBuf, b: ScoreBuf): ScoreBuf =
      ScoreBuf(b.scores.foldLeft(a.scores) { case (m, (id, s)) =>
        m.updated(id, m.getOrElse(id, 0L) + s)
      })
    override def finish(b: ScoreBuf): Seq[DocScore] =
      b.scores.toSeq.sortBy { case (id, s) => (-s, id) }.take(k)
        .map { case (id, s) => DocScore(id, s) }
    override def bufferEncoder: org.apache.spark.sql.Encoder[ScoreBuf] =
      org.apache.spark.sql.Encoders.product[ScoreBuf]
    override def outputEncoder
        : org.apache.spark.sql.Encoder[Seq[DocScore]] =
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[Seq[DocScore]]()
  }

  /** STREAMING lexical retrieval against the persisted BM25 index
    * (`Bm25.buildIndex`) — the lexical twin of [[annProbeVecs]]: an
    * unbounded stream of (id, terms array<string>) queries
    * stream-static-joins the index postings on term (per-posting
    * basis-point contributions are query-independent, so they
    * precompute on the static side) and one stateful aggregation per
    * query sums per-doc scores and cuts top-k. Update-mode output,
    * one row per (query_id, rank). State per query is its matched
    * candidate map — bounded by the postings of the query's terms.
    * At serving scale the postings side would be bucket-pruned to the
    * query vocabulary ([[graft.text.Bm25.probeIndex]]'s static cut);
    * the stream-static equi-join is the general form.
    */
  def bm25ProbeStream(spark: SparkSession, indexDir: String,
      queries: DataFrame, // streaming (id, terms array<string>)
      k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import spark.implicits._
    val stats = Parquet.read(spark, s"$indexDir/stats")
      .select(col("n_docs").cast("double").as("n_docs"),
        col("sum_dl").cast("double").as("sum_dl"))
    val dfreq = Parquet.read(spark, s"$indexDir/terms")
      .select(col("term"), col("df").cast("double").as("df"))
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))
    val denom = col("tf").cast("double") + lit(k1) *
      (lit(1.0 - b) + lit(b) * col("dl").cast("double") *
        col("n_docs") / col("sum_dl"))
    val scored = Parquet.read(spark, s"$indexDir/postings")
      .join(broadcast(dfreq), "term")
      .join(broadcast(stats))
      .select(col("term"), col("id"),
        round(idf * (col("tf").cast("double") * lit(k1 + 1.0)) / denom *
          10000.0).cast("long").as("bp"))
    val qterms = queries.select(col("id").as("query_id"),
      explode(array_distinct(col("terms"))).as("term"))
    val topk = udaf(new SumTopKAggregator(k),
      org.apache.spark.sql.Encoders.product[TermHit])
    qterms.join(scored, "term")
      .groupBy(col("query_id"))
      .agg(topk(col("query_id"), col("id"), col("bp")).as("topk"))
      .select(col("query_id"), posexplode(col("topk")))
      .select(col("query_id"), (col("pos") + 1).as("rank"),
        col("col.id").as("id"), col("col.score_bp").as("score_bp"))
  }

  /** Streaming lakehouse ingest: MERGE each micro-batch of updates
    * into the partitioned dataset at `dir` via
    * [[graft.io.MergeInto.mergeByKey]] under `foreachBatch` — the
    * continuous upsert loop that keeps a long-lived corpus current
    * from an unbounded source. Delivery is AT-LEAST-ONCE (a crash
    * between the merge and the offset commit re-delivers the batch),
    * which is exactly why the merge being an idempotent upsert
    * matters: a re-merged batch rewrites the same partitions to the
    * same bytes, so the table converges regardless (spec-pinned by
    * re-delivering a batch). Within one batch the MERGE key-unique
    * contract applies — dedup upstream (`dropDuplicates(keyCol)`) if
    * the source can repeat keys per trigger; across batches
    * last-writer-wins, the upsert contract. Blast radius per trigger
    * is the BATCH's partition footprint, never the table — the same
    * copy-on-write bound as the batch path.
    */
  def mergeStream(updates: DataFrame, dir: String, keyCol: String,
      partCol: String): org.apache.spark.sql.streaming.StreamingQuery =
    updates.writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty)
          graft.io.MergeInto.mergeByKey(batch.sparkSession, dir,
            batch.dropDuplicates(keyCol), keyCol, partCol)
        ()
      }
      .start()

  /** [[mergeStream]] against a VERSIONED table, upgraded from
    * at-least-once-idempotent to EXACTLY-ONCE: each micro-batch merges
    * through `VersionLog.mergeBatchOnce` with the epoch id as the
    * idempotency tag, so a re-delivered batch (crash between the merge
    * and the offset commit) finds its tag on the version log and skips
    * — the table records each epoch as exactly one version, and
    * concurrent readers keep snapshot isolation throughout. `queryTag`
    * namespaces the epoch ids so several streams can feed one table.
    */
  def versionedMergeStream(updates: DataFrame, dir: String,
      keyCol: String, partCol: String, queryTag: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    updates.writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch {
        (batch: Dataset[org.apache.spark.sql.Row], epoch: Long) =>
          if (!batch.isEmpty)
            graft.io.VersionLog.mergeBatchOnce(batch.sparkSession, dir,
              s"stream:$queryTag:$epoch",
              batch.dropDuplicates(keyCol), keyCol, partCol)
          ()
      }
      .start()
}
