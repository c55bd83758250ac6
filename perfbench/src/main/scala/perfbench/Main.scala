package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

/** The benchmark entry point. One process is one closed-loop client: it issues
  * the next operation only after the previous one has finished.
  *
  * {{{
  * perfbench.Main --workload note_nlp|query_mix --seed N
  *   --seconds S --trace 0|1 --root CHECKOUT
  * perfbench.Main --write-expected FILE --root CHECKOUT
  * perfbench.Main --write-oracle FILE
  * }}}
  *
  * The last line of stdout is the result: `correct`, `attempted`, `failed`
  * and the metrics (end-to-end ones untraced, per-layer ones traced). The
  * full record, and in a traced run the spans, go to
  * `.bench_build/out/` under the checkout.
  */
object Main {

  val cores = 4
  /** Set-ups per run; `setup_s` is their median. */
  val setupReps = 3

  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "items_per_s" -> "1/s", "op_p50_s" -> "s",
    "rss_peak_mb" -> "MB", "ok_ratio" -> "ratio")

  /** Every per-layer metric with its unit, in BENCHMARK.json order. A
    * traced run of any workload reports all of them; a layer the workload
    * does not reach reports 0.
    */
  val perLayer: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.plan_ms" -> "ms",
    "spark.task_s" -> "s", "spark.core_util" -> "ratio",
    "spark.gc_s" -> "s", "spark.input_bytes" -> "bytes",
    "spark.shuffle_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "core.spread_exchanges" -> "count",
    "nlp.tokenize.docs_per_s" -> "docs/s", "nlp.normalize.docs_per_s" -> "docs/s",
    "nlp.sentences.docs_per_s" -> "docs/s", "nlp.phrase.docs_per_s" -> "docs/s",
    "nlp.regex.docs_per_s" -> "docs/s", "nlp.qualify.docs_per_s" -> "docs/s",
    "pipes.dates.docs_per_s" -> "docs/s", "pipes.annotate.docs_per_s" -> "docs/s",
    "pipes.parallel_eff" -> "ratio",
    "nlp.tokens_per_doc" -> "count", "nlp.ents_per_doc" -> "count",
    "nlp.qualified_share" -> "ratio", "nlp.phrase.kept_ratio" -> "ratio",
    "pipes.dates_per_doc" -> "count", "io.note_nlp_rows" -> "count") ++
    Families.names.flatMap(f => Seq(s"family.$f.wall_s" -> "s",
      s"family.$f.jobs" -> "count", s"family.$f.plan_ms" -> "ms")) ++ Seq(
    "work.docs_per_s" -> "docs/s", "work.query_p50_s" -> "s",
    "work.query_p90_s" -> "s") ++
    Seq("bench", "spark", "relational", "pipes", "io", "nlp").map(
      l => s"layer.$l.self_s" -> "s") ++ Seq(
    "trace.overhead" -> "ratio", "bench.contended_ops" -> "count")

  private def parse(args: Array[String]): Map[String, String] =
    args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"bad argument ${other.mkString(" ")}")
    }.toMap

  def session(workDir: String): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.local.dir", s"$workDir/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def peakRssMb(): Double = {
    val status = new File("/proc/self/status")
    val line = if (!status.exists) None else {
      val src = scala.io.Source.fromFile(status)
      try src.getLines().find(_.startsWith("VmHWM:")) finally src.close()
    }
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(
      Runtime.getRuntime.totalMemory / 1048576.0)
  }

  def main(args: Array[String]): Unit = {
    val opt = parse(args)
    val root = new File(opt.getOrElse("root", ".")).getCanonicalPath
    val dataDir = s"$root/perfbench/data/sf0.001"
    val expectedPath = s"$root/perfbench/expected/query_mix.json"
    require(new File(dataDir).isDirectory, s"no fixture tables at $dataDir")

    opt.get("write-oracle").foreach { path =>
      Files.writeString(Paths.get(path), Json(graft.SparkEntry.oracleSql) + "\n")
      return
    }
    opt.get("write-expected") match {
      case Some(path) =>
        val ctx = Ctx(0L, dataDir, s"$root/.bench_build/work/expected")
        val spark = session(ctx.workDir)
        try new QueryMix(ctx, expectedPath).writeExpected(spark, path)
        finally spark.stop()
        return
      case None =>
    }

    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt.getOrElse("trace", "0") == "1"
    val workDir = s"$root/.bench_build/work/$name"
    val outDir = s"$root/.bench_build/out"
    new File(outDir).mkdirs()
    val ctx = Ctx(seed, dataDir, workDir)
    val w: Workload = name match {
      case "note_nlp" => new NoteNlp(ctx)
      case "query_mix" => new QueryMix(ctx, expectedPath)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val t00 = System.nanoTime()
    def phase(what: String): Unit = System.err.println(
      f"[perfbench] $what at ${(System.nanoTime() - t00) / 1e9}%.1f s")
    var spark = session(workDir)
    phase("session")
    w.generate(spark)
    phase("inputs")
    // set-up, repeated: session start, warm-up, the workload's own set-up
    val setupTimes = (1 to setupReps).map { rep =>
      spark.stop()
      val t0 = System.nanoTime()
      spark = session(workDir)
      spark.range(2000000L).selectExpr("max(id * 2 + 1)").collect()
      w.setup(spark, rep)
      // every input read in full, in one action
      w.warmInputs(spark).map(TimedAction.digestPlan).reduce(_ union _).collect()
      (System.nanoTime() - t0) / 1e9
    }

    phase("setup")
    val sentinel = new Sentinel
    phase("sentinel")
    val off = new Tracer(false)
    val tag = s"$name-seed$seed-trace${if (trace) 1 else 0}"
    val (segments, metrics, extra) =
      try {
        if (!trace) {
          val seg = w.measure(spark, w.units(seconds), off, None, sentinel)
          val m = ListMap(
            "setup_s" -> Stats.median(setupTimes),
            "items_per_s" -> seg.itemsPerSecond,
            "op_p50_s" -> seg.latency(50),
            "rss_peak_mb" -> peakRssMb(),
            "ok_ratio" -> (seg.attempted - seg.failed).toDouble / seg.attempted)
          (Seq(seg), m, Map.empty[String, Any])
        } else {
          val units = w.units(seconds / 3)
          val plain = w.measure(spark, units, off, None, sentinel)
          val tracer = new Tracer(true)
          val probe = new SparkProbe(spark).attach()
          val traced =
            try w.measure(spark, units, tracer, Some(probe), sentinel)
            finally probe.detach()
          // the untraced segment right after the traced one is the
          // overhead's reference: both run equally warm code
          val after = w.measure(spark, units, off, None, sentinel)
          val micro = Micro.run(NoteGen.corpus(seed, 200), tracer)
          val mix = name == "query_mix"
          val work = Map(
            "work.docs_per_s" -> (if (name == "note_nlp") plain.itemsPerSecond else 0.0),
            "work.query_p50_s" -> (if (mix) plain.latency(50) else 0.0),
            "work.query_p90_s" -> (if (mix) plain.latency(90) else 0.0),
            "pipes.parallel_eff" -> (if (name == "note_nlp")
              plain.itemsPerSecond / (cores * micro("pipes.annotate.docs_per_s")) else 0.0))
          val self = Tracer.layerSelfSeconds(tracer.spans).map {
            case (l, s) => s"layer.$l.self_s" -> s
          }
          val all = traced.layers ++ micro ++ work ++ self ++ Map(
            "trace.overhead" -> (after.itemsPerSecond / traced.itemsPerSecond - 1),
            "bench.contended_ops" -> traced.contendedOps.size.toDouble)
          val m = ListMap(perLayer.map { case (k, _) => k -> all.getOrElse(k, 0.0) }: _*)
          val spansFile = s"$outDir/$tag-spans.json"
          Files.writeString(Paths.get(spansFile), Tracer.toJson(tracer.spans))
          (Seq(plain, traced, after), m, Map("spans_file" -> spansFile,
            "untraced_items_per_s" -> after.itemsPerSecond,
            "traced_items_per_s" -> traced.itemsPerSecond))
        }
      } finally sentinel.close()

    phase("measured")
    val attempted = segments.map(_.attempted).sum
    val failed = segments.map(_.failed).sum
    val units = (endToEnd ++ perLayer).toMap
    val record = ListMap(
      "workload" -> name, "seed" -> seed, "seconds" -> seconds,
      "trace" -> trace, "clients" -> 1, "cores" -> cores,
      "setup_s_reps" -> setupTimes,
      "contended_ops" -> segments.flatMap(_.contendedOps),
      "contended_run" -> (segments.exists(_.contendedOps.nonEmpty) ||
        sentinel.baseContended || sentinel.stealShare > 0.05),
      "steal_share" -> sentinel.stealShare,
      "sentinel_base_s" -> sentinel.baseSeconds,
      "sentinel_median_s" -> sentinel.medianSeconds,
      "failures" -> segments.flatMap(_.failures).take(20),
      "segments" -> segments.map(_.details),
      "metrics" -> metrics) ++ extra
    Files.writeString(Paths.get(s"$outDir/$tag.json"), Json(record) + "\n")
    segments.flatMap(_.failures).take(5).foreach(f =>
      System.err.println(s"[perfbench] FAILED $f"))

    val result = ListMap(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metrics.map { case (k, v) =>
        k -> ListMap("value" -> v, "unit" -> units(k))
      })
    spark.stop()
    phase("stopped")
    println(Json(result))
  }
}
