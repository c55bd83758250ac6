package perfbench

import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Expected output of one query over the fixture tables. `digest` is None
  * where the output has a floating-point column or the digest is not
  * stable from run to run; the row count is always checked.
  */
final case class Expected(rows: Long, digest: Option[Long])

object Expected {
  /** Reads the file [[QueryMix.writeExpected]] writes. */
  def load(path: String): Map[String, Expected] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(path))
    root.properties().asScala.map { e =>
      val d = e.getValue.get("digest")
      e.getKey -> Expected(e.getValue.get("rows").asLong(),
        if (d.isNull) None else Some(d.asLong()))
    }.toMap
  }
}

/** query_mix: the family-stratified mix of `graft.SparkEntry.queries` over
  * the fixture tables, once per pass, in an order shuffled from the seed.
  * Each query is timed from the call that builds it to the end of
  * [[TimedAction]], and its row count and digest are checked against the
  * stored expected values.
  */
final class QueryMix(ctx: Ctx, expectedPath: String) extends Workload {
  def name = "query_mix"
  def unitSeconds = 6.0

  val mix: Seq[String] = Families.mix
  private lazy val expected = Expected.load(expectedPath)
  private lazy val queries = graft.SparkEntry.queries
  private var primed = false
  private var passesDone = 0

  /** The mix in the order of pass `pass`, shuffled from the seed. */
  def order(pass: Int): Seq[String] = {
    val rng = new SplittableRandom(ctx.seed * 1000003L + pass)
    val a = mix.toArray
    for (i <- a.indices.reverse.init) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }

  def generate(spark: SparkSession): Unit = {
    val missing = mix.filterNot(q => queries.contains(q) && expected.contains(q))
    require(missing.isEmpty, s"no query or expected value for ${missing.mkString(", ")}")
  }

  def setup(spark: SparkSession, rep: Int): Unit = ()

  def warmInputs(spark: SparkSession): Seq[DataFrame] = {
    import graft.relational.Tables
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents").map(Tables.table(spark, ctx.dataDir, _)) ++
      Seq(Tables.embeddings(spark, ctx.dataDir), Tables.events(spark, ctx.dataDir))
  }

  def measure(spark: SparkSession, units: Int, tracer: Tracer,
      probe: Option[SparkProbe], sentinel: Sentinel): Segment = {
    val log = new ContentionLog(sentinel)
    val byQuery = mutable.LinkedHashMap.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)
    val perQuery = mutable.LinkedHashMap.empty[String, Double]
    val failures = Vector.newBuilder[String]
    val famWall = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val famCounters = mutable.Map.empty[String, SparkCounters]
      .withDefaultValue(SparkCounters.zero)
    var total = SparkCounters.zero
    var attempted = 0
    var failed = 0

    /** Builds and runs one query, checks its output; returns its time. */
    def run(q: String, req: String): (Double, SparkCounters) = {
      val t0 = System.nanoTime()
      val (res, added) = Traced.spark(probe) {
        try {
          Right(tracer.span("bench", "query", req) {
            val df = tracer.span("relational", q, req) {
              queries(q)(spark, ctx.dataDir)
            }
            tracer.span("spark", "TimedAction.run", req)(TimedAction.run(df))
          })
        } catch { case e: Throwable => Left(e) }
      }
      val dt = (System.nanoTime() - t0) / 1e9
      attempted += 1
      val want = expected(q)
      val problem = res match {
        case Left(e) => Some(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        case Right((rows, _)) if rows != want.rows =>
          Some(s"$rows rows, expected ${want.rows}")
        case Right((_, digest)) if want.digest.exists(_ != digest) =>
          Some(s"digest $digest, expected ${want.digest.get}")
        case _ => None
      }
      problem.foreach { p => failed += 1; failures += s"$req: $p" }
      (dt, added)
    }

    if (!primed) { // one untimed pass: class loading and code generation
      order(-1).foreach(q => run(q, s"$q#warm"))
      primed = true
    }
    val passSeconds = (0 until units).map { _ =>
      var busy = 0.0
      order(passesDone).foreach { q =>
        val req = s"$q#$passesDone"
        val (dt, added) = run(q, req)
        val fam = Families.familyOf(q)
        famWall(fam) += dt
        famCounters(fam) = famCounters(fam) + added
        total = total + added
        busy += dt
        byQuery(q) :+= dt
        perQuery(req) = dt
        log.after(req)
      }
      passesDone += 1
      busy
    }
    val layers = if (probe.isEmpty) Map.empty[String, Double] else
      Traced.sparkLayers(total, passSeconds.sum, units) ++
        Families.names.flatMap { f =>
          Seq(s"family.$f.wall_s" -> famWall(f) / units,
            s"family.$f.jobs" -> famCounters(f).jobs.toDouble / units,
            s"family.$f.plan_ms" -> famCounters(f).planMs.toDouble / units)
        }
    // one latency per query, its median over the passes: a query slowed
    // once by a burst of contention does not move the percentiles
    val lats = mix.map(q => Stats.median(byQuery(q)))
    Segment(lats, mix.size.toLong * units, passSeconds.sum,
      attempted, failed, log.stampedOps, failures.result(), layers,
      details = Map("mix" -> mix, "passes" -> units,
        "pass_seconds" -> passSeconds, "query_seconds" -> perQuery,
        "tail_percentile_by_rule" -> Stats.tailPercentile(lats.size),
        "sentinel_ratios" -> sentinel.ratios, "sentinel_shares" -> sentinel.shares))
  }

  /** Runs every query of the engine twice and writes the expected rows and
    * digests: a digest that differs between the two runs, or an output
    * with a floating-point column, is stored as null.
    */
  def writeExpected(spark: SparkSession, path: String): Unit = {
    val lines = queries.keys.toSeq.sortBy(q => (q.drop(1).takeWhile(_.isDigit).toInt, q)).map { q =>
      val (r1, d1) = TimedAction.run(queries(q)(spark, ctx.dataDir))
      val df2 = queries(q)(spark, ctx.dataDir)
      val (r2, d2) = TimedAction.run(df2)
      require(r1 == r2, s"$q: row count differs between runs ($r1, $r2)")
      val digest =
        if (d1 != d2 || TimedAction.hasFloatingPoint(df2.schema)) "null"
        else d1.toString
      System.err.println(s"[perfbench] expected $q rows=$r1 digest=$digest")
      s"""  "$q": {"rows": $r1, "digest": $digest}"""
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      lines.mkString("{\n", ",\n", "\n}\n"))
  }
}
