package perfbench

import graft.nlp._
import graft.pipes.{Dates, PipelineConfig}

/** Single-thread throughput of each row-local stage of the fused
  * `DocPipeline`, timed with nanoTime loops over a fixed sample of the
  * generated corpus after a warm-up, plus exact counts of the work the
  * stages did on that sample.
  */
object Micro {

  /** Timed rounds per stage; the median is reported. */
  val Rounds = 5

  def run(sample: Seq[Note], tracer: Tracer): Map[String, Double] = {
    val texts = sample.map(_.text).toArray
    val pipeline = PipelineConfig.fromJson(NoteGen.configJson)
    val phrase = PhraseMatcher.build(NoteGen.terms)
    val regex = RegexMatcher.build(NoteGen.regex)
    val quals = NoteGen.qualifiers.map(q => new RuleQualifier(PipelineConfig.qualifier(q)))
    val raw = texts.map(Tokenizer.tokenize)
    val toks = texts.indices.map(i => Normalizer.normalize(texts(i), raw(i))).toArray
    val sents = toks.map(Sentencizer.sentences(_))
    val matches = texts.indices.map(i =>
      phrase.findMatches(toks(i), texts(i)) ++ regex.findMatches(toks(i), texts(i))).toArray
    val ents = matches.map(SpanAlgebra.filterSpans(_))

    var sink = 0L
    def pass(f: Int => Int): Double = {
      val t0 = System.nanoTime()
      texts.indices.foreach(i => sink += f(i))
      (System.nanoTime() - t0) / 1e9
    }
    /** Docs per second of `f` over the sample: warm-up passes, then the
      * median of [[Rounds]] timed rounds, each repeating the sample enough
      * times to last ~50 ms.
      */
    def docsPerSecond(layer: String, stage: String)(f: Int => Int): Double = {
      val warm = (1 to 3).map(_ => pass(f)).min
      val reps = math.max(1, math.ceil(0.05 / warm).toInt)
      val times = (1 to Rounds).map { r =>
        tracer.span(layer, stage, s"sample-round$r") {
          (1 to reps).map(_ => pass(f)).sum
        }
      }
      reps * texts.length / Stats.median(times)
    }

    val rates = Map(
      "nlp.tokenize.docs_per_s" -> docsPerSecond("nlp", "Tokenizer.tokenize")(
        i => Tokenizer.tokenize(texts(i)).length),
      "nlp.normalize.docs_per_s" -> docsPerSecond("nlp", "Normalizer.normalize")(
        i => Normalizer.normalize(texts(i), raw(i)).length),
      "nlp.sentences.docs_per_s" -> docsPerSecond("nlp", "Sentencizer.sentences")(
        i => Sentencizer.sentences(toks(i)).length),
      "nlp.phrase.docs_per_s" -> docsPerSecond("nlp", "PhraseMatcher.findMatches")(
        i => phrase.findMatches(toks(i), texts(i)).size),
      "nlp.regex.docs_per_s" -> docsPerSecond("nlp", "RegexMatcher.findMatches")(
        i => regex.findMatches(toks(i), texts(i)).size),
      "nlp.qualify.docs_per_s" -> docsPerSecond("nlp", "RuleQualifier.apply")(
        i => quals.foldLeft(ents(i))((e, q) => q.apply(texts(i), toks(i), sents(i), e)).size),
      "pipes.dates.docs_per_s" -> docsPerSecond("pipes", "Dates.extract")(
        i => Dates.extract(texts(i)).size),
      "pipes.annotate.docs_per_s" -> docsPerSecond("pipes", "DocPipeline.annotate")(
        i => pipeline.annotate(texts(i)).ents.size))
    if (sink == 42L) System.err.print("")

    val annotated = texts.map(pipeline.annotate)
    val finalEnts = annotated.flatMap(_.ents)
    val n = texts.length.toDouble
    rates ++ Map(
      "nlp.tokens_per_doc" -> toks.map(_.length).sum / n,
      "nlp.ents_per_doc" -> finalEnts.length / n,
      "nlp.qualified_share" -> finalEnts.count(_.attrs.values.exists(_ == "true"))
        .toDouble / math.max(1, finalEnts.length),
      "nlp.phrase.kept_ratio" -> ents.map(_.size).sum.toDouble /
        math.max(1, matches.map(_.size).sum),
      "pipes.dates_per_doc" -> annotated.map(_.dates.size).sum / n)
  }
}
