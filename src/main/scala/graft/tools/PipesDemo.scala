package graft.tools

/** Example: the clinical extraction pipes over an in-memory French note —
  * sections, tables, reason, consultation dates, history qualifier.
  * Usage: sbt "runMain graft.tools.PipesDemo"
  */
object PipesDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local(2)
    import spark.implicits._
    import graft.nlp._
    import graft.pipes._

    val note =
      """Motif :
        |Hospitalisé pour douleur thoracique le 12/03/2021.
        |Antécédents
        |Infarctus en 2010. Diabète connu.
        |Examens complémentaires
        |Bilan :
        |Na | 140 | mmol/l
        |K | 4,1 | mmol/l
        |Conclusion :
        |Consultation du 15/03/2021 : pas de récidive.""".stripMargin

    val annotateAll = org.apache.spark.sql.functions.udf((text: String) => {
      val tokens = Normalizer.normalize(text, Tokenizer.tokenize(text))
      val sents = Sentencizer.sentences(tokens)
      val (titles, sections) = Sections.matcher()(text)
      val tables = TextTables.findTables(text)
      val cells = tables.flatMap(t => TextTables.toCells(text, t))
      val reasons = Reason.extract(text, tokens, sections)
      val consults = ConsultationDates.extract(text)
      val ents = Seq(
        Ent(text.indexOf("Infarctus"), text.indexOf("Infarctus") + 9,
          "disease", "Infarctus"),
        Ent(text.indexOf("Diabète"), text.indexOf("Diabète") + 7,
          "disease", "Diabète"))
      val hist = History.qualify(text, tokens, sents, ents, sections,
        Some(java.time.LocalDateTime.parse("2021-03-16T08:00:00")))
      Seq(
        "sections: " + sections.map(_.label).mkString(","),
        "tables: " + tables.size + " cells: " + cells.size +
          " cell(1,1)=" + cells.find(c => c.row == 1 && c.col == 1)
            .map(_.text).getOrElse("?"),
        "reasons: " + reasons.map(r =>
          r.attrs.getOrElse("in_motif_section", "?")).mkString(","),
        "consultation_dates: " + consults.map(_.attrs("datetime")).mkString(","),
        "history: " + hist.map(e => e.text + "=" + e.attrs("history"))
          .mkString(","))
    })

    // broadened date specials + lab units
    val dsp = Dates.extract("Vu hier, recontrôle demain.",
      Some(java.time.LocalDateTime.parse("2021-08-23T10:00:00")))
    println("DATES >>> " + dsp.map(e =>
      e.text + "=" + e.attrs("datetime").take(10)).mkString(","))
    val qty = Quantities.extract("Natrémie 140 mmol/l, plaquettes 250 10^9/l.")
    println("QTY >>> " + qty.map(e =>
      e.attrs("raw_unit") + "=" + e.attrs("value")).mkString(","))
    // endlines: line-wrap seen through by the clean-text view
    val wrapped = "Douleur au bras\ndepuis hier.\nLe scanner est normal."
    val endl = Endlines.classify(
      Normalizer.normalize(wrapped, Tokenizer.tokenize(wrapped)))
    println("ENDLINES >>> " + Normalizer
      .cleanTextWithOffsets(endl, useNorm = false)._1.replace("\n", "\\n"))
    // LLM micro-batch operator with an injected stub model
    val llm = LlmAnnotator.annotatePartition(
      Iterator((1L, "Le patient a une fracture du radius.")),
      callModel = _.map(_.replace("fracture du radius",
        "<disease>fracture du radius</disease>"))).toSeq
    println("LLM >>> " + llm.map { case (id, es) =>
      s"$id:" + es.map(e => s"${e.label}@${e.begin}-${e.end}").mkString(",")
    }.mkString(" "))
    // disorder bank: positive + excluded mention
    val sa = ContextualMatcher.matcher(Disorders.suicideAttempt)
    def saHits(t: String) = {
      val tk = Normalizer.normalize(t, Tokenizer.tokenize(t))
      sa.findMatches(t, tk, Sentencizer.sentences(tk)).size
    }
    println(s"DISORDER >>> ts=${saHits("Admise après tentative de suicide.")}" +
      s" excluded=${saHits("Idées suicidaires sans tentative de suicide.")}")
    // HF BIO converter round trip through the public API
    val (hfText, hfEnts) = graft.io.HuggingFace.nerToDoc(
      Seq("Le", "patient", "a", "une", "fracture"),
      Seq("O", "B-PER", "O", "O", "B-DIS"))
    println("HF >>> " + hfText + " | " +
      hfEnts.map(e => s"${e.label}:${e.text}").mkString(",") + " | back=" +
      graft.io.HuggingFace.docToNer(
        Seq("Le", "patient", "a", "une", "fracture"), hfEnts).mkString(" "))
    Seq(note).toDF("text")
      .select(org.apache.spark.sql.functions
        .explode(annotateAll($"text")).as("result"))
      .collect().foreach(r => println("PIPE >>> " + r.getString(0)))
    spark.stop()
  }
}
