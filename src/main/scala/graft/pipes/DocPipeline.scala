package graft.pipes

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.nlp._

/** Full annotations for one document — the fused pipeline output.
  * `dates` is the `doc.spans["dates"]` analog: its own layer, never
  * merged into `ents` (the reference keeps date spans in a span group).
  */
case class Annotations(
    tokens: Seq[Token], sents: Seq[Sent], ents: Seq[Ent],
    dates: Seq[Ent] = Nil)

/** Options for the optional `eds.dates` stage of a [[DocPipeline]].
  * `faithful = true` switches to the exact reference grammar (bare
  * letter months accepted, `no_day_no_year` forms — see [[Dates]]); the
  * default keeps the engine's precision-first grammar. The reference
  * exposes this as pipe config, so the config layer must reach it.
  */
case class DatesOptions(faithful: Boolean = false)

/** The `map_pipeline` analog (`/root/reference/edsnlp/core/stream.py:
  * 675-763`): a configured chain tokenize -> normalize -> sentences ->
  * phrase/regex match -> filter_spans -> qualifiers, spliced into the
  * logical plan.
  *
  * Unlike the reference (one Python op per pipe with per-op batching), the
  * whole chain is FUSED into a single row-local function: one UDF call per
  * document, annotations never round-trip through Spark's serializers
  * between stages. This is the stage-fusion Catalyst can't do for opaque
  * functions, done by construction. Downstream ops (explode to an entity
  * table, joins against terminologies) stay declarative.
  */
case class DocPipeline(
    terms: Map[String, Seq[String]] = Map.empty,
    regexPatterns: Map[String, Seq[String]] = Map.empty,
    qualifiers: Seq[QualifierPatterns] = Seq.empty,
    normOpts: Normalizer.Options = Normalizer.Options(),
    dates: Option[DatesOptions] = None) extends Serializable {

  @transient private[graft] lazy val engine = DocPipeline.engine(this)
  @transient private lazy val entsUdf = {
    val self = this
    udf((s: String) => self.entFlags(s))
  }

  /** Pure per-document run — also the single-doc `nlp(text)` entry point
    * (`/root/reference/edsnlp/core/pipeline.py:373-400`).
    */
  def annotate(text: String): Annotations = {
    val (tokens, sents, ents, flags) = core(text)
    val dateSpans = dates match {
      case Some(o) => Dates.extract(text, None, faithful = o.faithful)
      case None => Nil
    }
    Annotations(tokens.toSeq, sents.toSeq, engine.qualifier.withFlags(ents, flags),
      dateSpans)
  }

  /** The entity chain without the `dates` layer: tokens, sentences,
    * entities and, per entity, one flag per qualifier.
    */
  private def core(text: String)
      : (Array[Token], Array[Sent], Seq[Ent], Array[Array[Boolean]]) = {
    val tokens = Normalizer.normalize(text, Tokenizer.tokenize(text), normOpts)
    val sents = Sentencizer.sentences(tokens)
    val rawEnts =
      engine.phraseMatcher.map(_.findMatches(tokens, text)).getOrElse(Nil) ++
        engine.regexMatcher.map(_.findMatches(tokens, text)).getOrElse(Nil)
    val ents = SpanAlgebra.filterSpans(rawEnts)
    (tokens, sents, ents, engine.qualifier.flags(text, tokens, sents, ents))
  }

  private def entFlags(text: String): Seq[EntFlags] = {
    val (_, _, ents, flags) = core(text)
    ents.iterator.zip(flags.iterator).map { case (e, f) =>
      EntFlags(e.begin, e.end, e.label, e.text, f)
    }.toSeq
  }

  /** Add an `anno` struct column (tokens/sents/ents) to `df`. */
  def annotateCol(text: Column): Column = {
    val self = this
    udf((s: String) => self.annotate(s)).apply(text)
  }

  /** Entities-only column: the UDF RETURNS only the entity layer —
    * encoding the full token layer (~150 structs/doc) through the UDF
    * serializer just for a downstream explode("ents") to discard it was
    * the dominant cost of the ents path, not the NLP itself. For the
    * same reason it runs only the entity chain: the `dates` layer is a
    * separate span group that never reaches `ents`, so it is not
    * computed here. Each value holds the span, label and text of
    * `annotate(text).ents`, with the qualifier attrs as one boolean per
    * qualifier (`flags`, in `qualifiers` order) instead of a string map.
    * The UDF is built once per pipeline.
    */
  def entsCol(text: Column): Column = entsUdf(text)

  /** One row per entity: the "ents" converter
    * (`/root/reference/edsnlp/data/converters.py:651-711`) — relational
    * UNNEST of the annotation layer, with qualifier attrs as typed columns.
    */
  def entsTable(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val flagCols = qualifiers.indices.map(i =>
      col("ent.flags").getItem(i).as(qualifiers(i).name))
    df.withColumn("ent", explode(entsCol(col(textCol))))
      .select(
        Seq(col(idCol), col("ent.begin").as("begin"),
          col("ent.end").as("end"), col("ent.label").as("label"),
          col("ent.text").as("lexical_variant")) ++ flagCols: _*)
  }
}

object DocPipeline {

  /** The matchers and the qualifier engine of one pipeline config. */
  private[graft] final class Engine(p: DocPipeline) {
    val phraseMatcher: Option[PhraseMatcher] =
      if (p.terms.nonEmpty) Some(PhraseMatcher.build(p.terms, normOpts = p.normOpts))
      else None
    val regexMatcher: Option[RegexMatcher] =
      if (p.regexPatterns.nonEmpty) Some(RegexMatcher.build(p.regexPatterns))
      else None
    val qualifier = new RuleQualifier(p.qualifiers)
  }

  /** Built engines by pipeline value, per JVM, for the last few configs.
    * Every task deserializes its own copy of the pipeline; equal copies
    * share one engine, so the tries are built and the regexes compiled
    * once per JVM, not once per task. The engines hold no mutable state,
    * so tasks use them concurrently.
    */
  private val engines = new java.util.LinkedHashMap[DocPipeline, Engine](16, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[DocPipeline, Engine]): Boolean = size > 8
  }

  private def engine(p: DocPipeline): Engine = engines.synchronized {
    var e = engines.get(p)
    if (e == null) {
      e = new Engine(p)
      engines.put(p, e)
    }
    e
  }
}

/** One entity of [[DocPipeline.entsCol]]: its span, label and text, and
  * one flag per qualifier of the pipeline, in its order.
  */
case class EntFlags(
    begin: Int, end: Int, label: String, text: String, flags: Array[Boolean])
