package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.io.Omop
import graft.pipes.{DocPipeline, PipelineConfig}

/** note_nlp: generated notes (many parquet files) through the config-built
  * `DocPipeline` to an OMOP note_nlp parquet table. One pass reads the
  * corpus, annotates it in the fused UDF and writes the table in one
  * Spark job; every pass's output is checked against the planted entities.
  */
final class NoteNlp(ctx: Ctx) extends Workload {
  import NoteNlp._

  def name = "note_nlp"
  def unitSeconds = 1.2

  private[perfbench] val notesDir = s"${ctx.workDir}/inputs/notes"
  private val outDir = s"${ctx.workDir}/out/note_nlp"
  private var pipeline: DocPipeline = _
  private var expected: (Long, Long) = _
  private var planted: Seq[Row] = _
  private var primed = false

  lazy val corpus: Seq[Note] = NoteGen.corpus(ctx.seed, Docs)

  private val outSchema = StructType(Seq(
    StructField("note_nlp_id", LongType), StructField("note_id", LongType),
    StructField("start_char", IntegerType), StructField("end_char", IntegerType),
    StructField("lexical_variant", StringType),
    StructField("note_nlp_source_value", StringType)) ++
    NoteGen.qualifiers.map(StructField(_, BooleanType)))

  /** Output columns in one canonical order and type, for the digest. */
  private def canonical(df: DataFrame): DataFrame =
    df.select(outSchema.fields.toSeq.map(f => col(f.name).cast(f.dataType)): _*)

  /** The planted entity rows, in the session given. */
  private def plantedDf(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(planted, Files), outSchema)

  def generate(spark: SparkSession): Unit = {
    val rows = corpus.map(n => Row(n.id, n.text))
    val schema = StructType(Seq(StructField("note_id", LongType),
      StructField("note_text", StringType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, Files), schema)
      .write.mode("overwrite").parquet(notesDir)
    planted = corpus.flatMap(n => n.ents.map(e => Row.fromSeq(Seq(
      n.id * 100000L + e.begin, n.id, e.begin, e.end, e.text, e.label) ++
      NoteGen.qualifiers.map(e.flags))))
    expected = TimedAction.run(plantedDf(spark))
  }

  def setup(spark: SparkSession, rep: Int): Unit = {
    pipeline = PipelineConfig.fromJson(NoteGen.configJson)
    pipeline.annotate(corpus.head.text) // builds the matchers
  }

  def warmInputs(spark: SparkSession): Seq[DataFrame] =
    Seq(spark.read.parquet(notesDir))

  /** First differing rows, for the failure message. */
  private def diff(spark: SparkSession): String = {
    val got = canonical(spark.read.parquet(outDir))
    val want = canonical(plantedDf(spark))
    val missing = want.exceptAll(got).limit(3).collect().mkString("; ")
    val extra = got.exceptAll(want).limit(3).collect().mkString("; ")
    s"missing [$missing] unexpected [$extra]"
  }

  def measure(spark: SparkSession, units: Int, tracer: Tracer,
      probe: Option[SparkProbe], sentinel: Sentinel): Segment = {
    val log = new ContentionLog(sentinel)
    val passes = Vector.newBuilder[Double]
    val failures = Vector.newBuilder[String]
    var spark0 = SparkCounters.zero
    var attempted = 0
    var nFailed = 0
    var rowsWritten = 0L

    def pass(req: String): (Double, SparkCounters) = {
      val t0 = System.nanoTime()
      val (thrown, added) = Traced.spark(probe) {
        try {
          tracer.span("bench", "note_nlp.pass", req) {
            val notes = tracer.span("spark", "read.parquet", req) {
              spark.read.parquet(notesDir)
            }
            val ents = tracer.span("pipes", "DocPipeline.entsTable", req) {
              pipeline.entsTable(notes, "note_id", "note_text")
            }
            val table = tracer.span("io", "Omop.entsToNoteNlp", req) {
              Omop.entsToNoteNlp(ents, "note_id", NoteGen.qualifiers,
                deterministicIds = true)
            }
            tracer.span("spark", "write.parquet", req) {
              table.write.mode("overwrite").parquet(outDir)
            }
          }
          None
        } catch { case e: Throwable => Some(e) }
      }
      val dt = (System.nanoTime() - t0) / 1e9
      attempted += 1
      val problem = thrown match {
        case Some(e) => Some(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        case None =>
          try {
            val got = TimedAction.run(canonical(spark.read.parquet(outDir)))
            rowsWritten = got._1
            if (got == expected) None
            else Some(s"(rows, digest) $got, planted $expected; ${diff(spark)}")
          } catch {
            case e: Throwable =>
              Some(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}")
          }
      }
      problem.foreach { p => nFailed += 1; failures += s"$req: $p" }
      (dt, added)
    }

    if (!primed) { // untimed passes, so the timed ones run compiled code
      (1 to WarmPasses).foreach(i => pass(s"warm$i"))
      primed = true
    }
    (0 until units).foreach { i =>
      val req = s"pass$i"
      val (dt, added) = pass(req)
      passes += dt
      spark0 = spark0 + added
      log.after(req)
    }
    val times = passes.result()
    val layers = if (probe.isEmpty) Map.empty[String, Double] else
      Traced.sparkLayers(spark0, times.sum, units) +
        ("io.note_nlp_rows" -> rowsWritten.toDouble)
    Segment(times, Docs.toLong * units, times.sum, attempted,
      nFailed, log.stampedOps, failures.result(), layers,
      details = Map("docs" -> Docs, "files" -> Files, "passes" -> units,
        "pass_seconds" -> times,
        "planted_ents" -> expected._1,
        "sentinel_ratios" -> sentinel.ratios, "sentinel_shares" -> sentinel.shares))
  }
}

object NoteNlp {
  /** Notes in the corpus. */
  val Docs = 3000
  /** Parquet files the corpus is written as: 2 x cores splits, and more. */
  val Files = 4 * Main.cores
  /** Untimed passes before the first timed one: after a single one the
    * next two or three passes still ran up to 1.7 times slower (JIT).
    */
  val WarmPasses = 3
}
