package graft.tools

/** Smoke-run the driver contract: SparkEntry.entry must return rows. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local(4)
    val df = graft.SparkEntry.entry(spark)
    println("ENTRY ROWS >>> " + df.count())
    df.show(5, truncate = false)
    // typed P/R/F aggregator over the entry output vs a gold sample
    import spark.implicits._
    import graft.metrics.PrfAggregator._
    val outcomes = df.selectExpr("negation as isPred",
      "note_nlp_source_value = 'join' as isGold")
      .as[SpanOutcome]
    val prfRow = outcomes.select(prf.toColumn).head()
    // typed ClinicalDoc view through the public API
    val typedDocs = graft.core.ClinicalDoc.annotate(
      Seq(("n1", "Le scanner ne détecte aucune fracture."))
        .toDF("note_id", "note_text"),
      graft.pipes.DocPipeline(
        terms = Map("fracture" -> Seq("fracture")),
        qualifiers = Seq(graft.nlp.Patterns.negation)))
    val d0 = typedDocs.head()
    println(s"TYPED >>> ${d0.note_id}: ${d0.tokens.size} tokens, " +
      s"${d0.sents.size} sents, ents=" + d0.entities.map(e =>
        s"${e.text}[negation=${e.attrs("negation")}]").mkString(","))
    // Stream facade through the public API
    import graft.core.Stream
    val streamOut = Stream.fromSeq(spark, (1 to 20).toSeq)
      .map(_ * 3)
      .mapBatches[Int]("4 docs", _ => 1L)(b => Seq(b.sum))
      .shuffle(seed = 5)
      .toLocalIterator.toSeq
    println(s"STREAM >>> batches=${streamOut.size} total=${streamOut.sum}")
    try Stream.fromSeq(spark, Seq(1)).mapBatches[Int]("12 bananas", _ => 1L)(identity)
    catch { case e: IllegalArgumentException =>
      println(s"STREAM_ERR >>> ${e.getMessage}") }
    val frags = spark.sql(
      "SELECT s.idx, s.begin, s.fragment FROM (SELECT 'a b the c d the e' AS t) " +
      "LATERAL VIEW graft_split_text(t, ' the ') s")
      .collect().map(r => s"${r.getInt(0)}:[${r.getInt(1)}]${r.getString(2)}")
    println("GENERATOR >>> " + frags.mkString(" | "))
    val sqlJ = spark.sql(
      "SELECT graft_jaccard64(array(1L,2L,3L,4L), array(3L,4L,5L)) AS j")
      .head().getDouble(0)
    println(s"SQL_EXT >>> graft_jaccard64 = $sqlJ")
    println(f"PRF >>> p=${prfRow.precision}%.4f r=${prfRow.recall}%.4f f1=${prfRow.f1}%.4f tp=${prfRow.tp} np=${prfRow.nPred} ng=${prfRow.nGold}")
    spark.stop()
  }
}
