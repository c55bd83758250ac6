package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.plans.InvalidPipeCompositionException

/** The validate_ops analog (`stream.py:1007-1076`): a session built with
  * GraftExtensions rejects miscomposed pipe plans when they are ANALYZED
  * — e.g. a qualifier fed tokens where sentence spans belong, or a span
  * op on a non-annotated schema — instead of computing silently-wrong
  * results (both shapes decode as begin/end rows at runtime).
  */
class PlanValidationSpec extends AnyFunSuite {

  test("a correctly composed pipe plan analyzes and runs") {
    val spark = TestSpark.spark
    import spark.implicits._
    val docs = Seq((1L, "spark is slow join today the fast merge"))
      .toDF("doc_id", "text")
    val toks = functions.nlp.tokenize($"text")
    val withAnno = docs
      .withColumn("tokens", toks)
      .withColumn("sents", functions.nlp.sentencize($"tokens"))
      .withColumn("ents", functions.nlp.phraseMatch(
        Map("join" -> Seq("join")))($"text", $"tokens"))
      .withColumn("qualified", functions.nlp.qualify(
        nlp.QualifierPatterns(name = "negation", pseudo = Nil,
          preceding = Seq("slow"), following = Nil,
          precedingRegex = Nil, termination = Seq("the")))(
        $"text", $"tokens", $"sents", $"ents"))
    val out = withAnno.selectExpr("explode(qualified) AS e")
      .selectExpr("e.attrs['negation'] AS neg").collect()
    assert(out.map(_.getString(0)).toSeq === Seq("true"))
  }

  test("qualifier fed tokens instead of sentence spans is rejected at analysis") {
    val spark = TestSpark.spark
    import spark.implicits._
    val docs = Seq((1L, "spark join")).toDF("doc_id", "text")
    val base = docs
      .withColumn("tokens", functions.nlp.tokenize($"text"))
      .withColumn("ents", functions.nlp.phraseMatch(
        Map("join" -> Seq("join")))($"text", $"tokens"))
    // "qualifier before sentencizer": tokens passed in the sents slot.
    // Dataset construction analyzes eagerly, so the rejection happens
    // right here — no job ever runs.
    val e = intercept[InvalidPipeCompositionException] {
      base.withColumn("qualified", functions.nlp.qualify(
        nlp.QualifierPatterns(name = "negation", pseudo = Nil,
          preceding = Seq("slow"), following = Nil,
          precedingRegex = Nil, termination = Seq("the")))(
        $"text", $"tokens", $"tokens", $"ents"))
    }
    assert(e.getMessage.contains("graft_qualify"))
    assert(e.getMessage.contains("sentencize"))
  }

  test("span op on a non-annotated schema is rejected at analysis") {
    val spark = TestSpark.spark
    import spark.implicits._
    val notAnnotated = Seq((1L, Seq((0, 4)))).toDF("doc_id", "pairs")
    val e = intercept[InvalidPipeCompositionException] {
      notAnnotated
        .withColumn("kept", functions.nlp.filterSpans($"pairs"))
        .schema
    }
    assert(e.getMessage.contains("graft_filter_spans"))
    assert(e.getMessage.contains("matcher"))
  }

  test("plans without graft pipes are untouched by the check rule") {
    val spark = TestSpark.spark
    import spark.implicits._
    assert(Seq(1, 2, 3).toDF("x").agg(Map("x" -> "sum"))
      .head().getLong(0) === 6L)
  }
}
