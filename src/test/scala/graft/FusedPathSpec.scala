package graft

import java.util.regex.Pattern
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.nlp._
import graft.pipes.{Dates, DatesOptions, DocPipeline}

/** The fused entity path against oracles kept here in their earlier,
  * slower form: `entsTable` rows equal `annotate(text).ents` although
  * the entity path skips the dates layer; the literal-gated pollution
  * bank excludes exactly what the ungated bank does; and the
  * binary-searched qualifier scopes return the same flags and cues, in
  * the same order, as the scope-by-scope loop.
  */
class FusedPathSpec extends AnyFunSuite {

  private val qualifiers = Seq(Patterns.negation, Patterns.family,
    Patterns.hypothesis, Patterns.reportedSpeech, Patterns.history)

  private val notes = Seq(
    "Pas de fièvre le 12/03/2021. Sa mère a présenté un diabète.",
    "Vu en consultation le 3 mars 2019. Suspicion de fracture du radius " +
      "depuis le 01/02/2019 mais pas de douleur au bras.",
    "Le patient dit « j'ai une fracture » il y a trois jours.",
    "Antécédent de diabète\nsans fièvre, SpO2 92 % le 4/5.",
    "", null, "   \n  ")

  test("entsTable rows equal annotate(text).ents with dates on; " +
      "annotate(text).dates is the dates pipe's output") {
    import TestSpark.spark
    import spark.implicits._
    Seq(false, true).foreach { faithful =>
      val pipe = DocPipeline(
        terms = Map("fracture" -> Seq("fracture", "fracture du radius"),
          "douleur" -> Seq("douleur", "douleur au bras"),
          "diabete" -> Seq("diabète"), "fievre" -> Seq("fièvre")),
        regexPatterns = Map("spo2" -> Seq("spo2 \\d{2,3} %")),
        qualifiers = qualifiers,
        dates = Some(DatesOptions(faithful = faithful)))
      val df = notes.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = pipe.entsTable(df, "doc_id", "text").collect().map { r =>
        (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3),
          r.getString(4), qualifiers.indices.map(q => r.getBoolean(5 + q)))
      }.sortBy(r => (r._1, r._2, r._3, r._4)).toSeq
      val want = notes.zipWithIndex.flatMap { case (t, i) =>
        pipe.annotate(t).ents.map(e => (i.toLong, e.begin, e.end, e.label,
          e.text, qualifiers.map(q =>
            e.attrs.getOrElse(q.name, "false").toBoolean)))
      }.sortBy(r => (r._1, r._2, r._3, r._4))
      assert(want.nonEmpty)
      assert(got === want, s"faithful = $faithful")
      notes.foreach { t =>
        assert(pipe.annotate(t).dates ===
          Dates.extract(t, None, faithful = faithful), s"dates of '$t'")
      }
      assert(notes.exists(t => pipe.annotate(t).dates.nonEmpty))
    }
  }

  // ---- pollution: gated bank vs the ungated bank --------------------

  private val bank = Normalizer.defaultPollutionBank

  /** The bank as it ran before the gates: every pattern on every text,
    * with the filler bars in their alternation form.
    */
  private val ungated: Seq[Pattern] = bank.map { g =>
    if (g.regex == "(?i)[nbw_=-]{5,}") Pattern.compile("(?i)([nbw]|_|-|=){5,}")
    else g.pattern
  }

  private def oracleExcluded(text: String): Seq[Boolean] = {
    val spans = ungated.flatMap { p =>
      val m = p.matcher(text)
      val acc = ArrayBuffer.empty[(Int, Int)]
      while (m.find()) acc += ((m.start, m.end))
      acc
    }
    Tokenizer.tokenize(text).toSeq.map(t =>
      spans.exists { case (b, e) => t.begin < e && t.end > b })
  }

  private def excluded(text: String): Seq[Boolean] =
    Normalizer.normalize(text, Tokenizer.tokenize(text)).toSeq.map(_.excluded)

  private val infoBlock =
    "Les données administratives, sociales et médicales sont collectées " +
      "par l'AP-HP. Voir https://recherche.aphp.fr/eds/droit-opposition."
  private val infoBlock2 =
    "L'Assistance Publique - Hôpitaux de Paris (AP-HP) a créé une base " +
      "de données. Pour vous opposer : https://eds.aphp.fr/droit-opposition ."

  /** For each gated pattern, texts it matches. */
  private val gatedSamples: Map[String, Seq[String]] = Map(
    "www." -> Seq("Consulter www.aphp.fr pour le suivi.",
      "Contact : jean.dupont@aphp.fr ou secretariat@hopital",
      "Site exemple.com, miroir exemple.net et exemple.org.",
      "WWW.APHP.FR en capitales, puis aphp.fr."),
    "-\n" -> Seq("Patient diab-\nétique connu, hyper-\ntension.",
      "Fin de ligne -\n puis 2-\n3 et a-\nb."),
    "droit-opposition" -> Seq(s"Compte rendu. $infoBlock Suite du texte.",
      s"Début. $infoBlock2 Fin.",
      s"===== $infoBlock\n$infoBlock2"))

  test("each gated pollution pattern excludes the same tokens as the " +
      "ungated bank on texts it matches") {
    val gatedPatterns = bank.filter(_.anyOf.nonEmpty)
    assert(gatedPatterns.size === 4)
    gatedPatterns.foreach { g =>
      val texts = gatedSamples(g.anyOf.head)
      assert(texts.exists(t => g.pattern.matcher(t).find()),
        s"no sample matches ${g.regex}")
      texts.foreach { t =>
        assert(g.mayMatch(t), s"gate rules out a text it must run on: $t")
        assert(excluded(t) === oracleExcluded(t), t)
      }
    }
  }

  test("filler bars: the char-class form excludes what the alternation did") {
    Seq("Fièvre NBNbWbWbNbWbNB jaune.", "titre\n=====\ncorps",
      "a ----- b", "_____", "nbwNB", "====", "--- -- ---",
      "www.bnwbn.fr", "Bilan =_-=_-nb_ suite", "nnnnnn wwwww bbbbb")
      .foreach(t => assert(excluded(t) === oracleExcluded(t), t))
  }

  test("gated pollution bank equals the ungated bank on generated texts, " +
      "and no gate rules out a text its pattern matches") {
    val frags = Seq("www.", "@", ".fr", ".com", ".net", ".org", "-\n", "-",
      "\n", " ", "droit-opposition", "https://a.fr/", infoBlock, infoBlock2,
      "=====", "NBNbW", "_", "Dr. Martin\n", "imprimé le 01/02/2020\n",
      "1/3\npatient X\n", "12/03/2021 8012345678\n", "diab", "ète",
      "Pas de fièvre.", "FR", "COM", "x", "é")
    val rng = new Random(2024)
    (1 to 3000).foreach { _ =>
      val t = Seq.fill(1 + rng.nextInt(12))(frags(rng.nextInt(frags.size)))
        .mkString
      assert(excluded(t) === oracleExcluded(t), t)
      bank.foreach { g =>
        if (g.pattern.matcher(t).find())
          assert(g.mayMatch(t), s"${g.regex} matches but is gated off: $t")
      }
    }
  }

  // ---- qualifier scopes: binary search vs the scope loop ------------

  /** The scope-by-scope loop `RuleQualifier.qualify` ran before the
    * binary search, kept verbatim as the oracle.
    */
  private final class ScopeLoopOracle(patterns: QualifierPatterns) {
    private val phraseMatcher = PhraseMatcher.build(Map(
      "pseudo" -> patterns.pseudo,
      "preceding" -> patterns.preceding,
      "following" -> patterns.following,
      "termination" -> patterns.termination))
    private val regexMatcher =
      if (patterns.precedingRegex.isEmpty) None
      else Some(RegexMatcher.build(
        Map("preceding" -> patterns.precedingRegex), attrNorm = false))
    private val containingMatcher =
      if (patterns.containingRegex.isEmpty) None
      else Some(RegexMatcher.build(
        Map("containing" -> patterns.containingRegex), attrNorm = false))

    def qualify(text: String, tokens: Array[Token], sents: Array[Sent],
        ents: Seq[Ent]): Seq[(Boolean, Seq[Ent])] = {
      if (ents.isEmpty) return Nil
      val cues = phraseMatcher.findMatches(tokens, text) ++
        regexMatcher.map(_.findMatches(tokens, text)).getOrElse(Nil)
      val terminations = cues.filter(_.label == "termination")
      val docEnd = if (text == null) 0 else text.length
      val starts =
        (sents.map(_.begin) ++ terminations.map(_.begin) :+ docEnd)
          .distinct.sorted
      val boundaries = starts.zip(starts.drop(1))
      val matches = SpanAlgebra.filterSpans(cues, Some("pseudo"))
      val results = Array.fill[(Boolean, Seq[Ent])](ents.size)((false, Nil))
      containingMatcher.foreach { cm =>
        val spans = cm.findMatches(tokens, text)
        ents.zipWithIndex.foreach { case (ent, i) =>
          val hit = spans.filter(s =>
            s.begin <= ent.begin && s.end >= ent.end)
          if (hit.nonEmpty)
            results(i) = (true, results(i)._2 ++ hit)
        }
      }
      boundaries.foreach { case (bStart, bEnd) =>
        val inScope = matches.filter(m => bStart <= m.begin && m.begin < bEnd)
        lazy val preceding = inScope.filter(_.label == "preceding")
        lazy val following = inScope.filter(_.label == "following")
        ents.zipWithIndex.foreach { case (ent, i) =>
          if (ent.begin < bEnd && ent.end > bStart) {
            val cuesHit = new ArrayBuffer[Ent]
            cuesHit ++= preceding.filter(_.end <= ent.begin)
            cuesHit ++= following.filter(_.begin >= ent.end)
            if (cuesHit.nonEmpty)
              results(i) = (true, results(i)._2 ++ cuesHit)
          }
        }
      }
      results.toSeq
    }
  }

  private val pairs =
    qualifiers.map(q => (q.name, new RuleQualifier(q), new ScopeLoopOracle(q)))

  private def ent(text: String, sub: String): Ent = {
    val b = text.indexOf(sub)
    assert(b >= 0, s"'$sub' not in '$text'")
    Ent(b, b + sub.length, "x", sub)
  }

  /** Same flags and cue lists from both, for every qualifier; returns
    * the new engine's results by qualifier name.
    */
  private def sameAsOracle(text: String, ents: Seq[Ent],
      sents: Option[Array[Sent]] = None): Map[String, Seq[(Boolean, Seq[Ent])]] = {
    val toks = Normalizer.normalize(text, Tokenizer.tokenize(text))
    val ss = sents.getOrElse(Sentencizer.sentences(toks))
    pairs.map { case (name, rq, oracle) =>
      val got = rq.qualify(text, toks, ss, ents)
      assert(got === oracle.qualify(text, toks, ss, ents), s"$name on '$text'")
      name -> got
    }.toMap
  }

  test("qualifier: an entity straddling a sentence start reads both scopes") {
    val text = "Pas de douleur. Fièvre absente chez le patient."
    val e = Ent(text.indexOf("douleur"), text.indexOf("absente") - 1, "x",
      "douleur. Fièvre")
    val got = sameAsOracle(text, Seq(e, ent(text, "patient")))("negation")
    assert(got.head._1, "the preceding cue of the first scope qualifies it")
    // non-pseudo cues may overlap ("pas de" and "pas" both stay)
    assert(got.head._2.map(_.text.toLowerCase) ===
      Seq("pas de", "pas", "absente"),
      "cues in scope order: first scope's preceding, then second's following")
  }

  test("qualifier: a cue before the first sentence start is in no scope") {
    val text = "Pas de suivi. Fièvre persistante. Pas de toux."
    val first = text.indexOf("Fièvre")
    val sents = Array(Sent(first, text.indexOf(" Pas de toux") + 1),
      Sent(text.indexOf("Pas de toux"), text.length))
    val got = sameAsOracle(text,
      Seq(ent(text, "suivi"), ent(text, "Fièvre"), ent(text, "toux")),
      Some(sents))("negation")
    assert(got.map(_._1) === Seq(false, false, true))
  }

  test("qualifier: a termination inside a longer cue cuts its scope") {
    val text = "Aspect incompatible avec une fracture du radius."
    val got = sameAsOracle(text, Seq(ent(text, "fracture du radius")))
    assert(!got("negation").head._1,
      "'avec' inside 'incompatible avec' ends the cue's scope")
  }

  test("qualifier: a pseudo-cue overlap suppresses the cue it covers") {
    val text = "Sans doute une fracture du radius, sans fièvre."
    val got = sameAsOracle(text,
      Seq(ent(text, "fracture du radius"), ent(text, "fièvre")))("negation")
    assert(got.map(_._1) === Seq(false, true))
  }

  test("qualifier: quote containment joins the scope cues, containment first") {
    val text = "Il rapporte « pas de fracture » puis dit avoir mal."
    val got = sameAsOracle(text, Seq(ent(text, "fracture")))
    assert(got("reported_speech").head._1)
    assert(got("reported_speech").head._2.head.text.startsWith("«"))
    assert(got("negation").head._1)
  }

  test("qualifier: binary-searched scopes equal the scope loop on " +
      "generated documents, entities and sentence cuts") {
    val words = Seq("pas de", "sans", "sans doute", "absence de", "aucun",
      "mère", "père", "familial", "suspicion de", "probable", "possible",
      "selon", "dit", "rapporte", "antécédent de", "ATCD", "mais", "et",
      "avec", "incompatible avec", "car", ".", ",", ";", "\n", "«", "»",
      "\"", "fracture", "fièvre", "douleur", "diabète", "exclue", "négatif",
      "le patient", "Le", "a", "une", "bien", "écartée")
    val rng = new Random(7)
    (1 to 600).foreach { _ =>
      val text = Seq.fill(3 + rng.nextInt(30))(words(rng.nextInt(words.size)))
        .mkString(" ")
      val ents = Seq.fill(rng.nextInt(6)) {
        val b = rng.nextInt(text.length + 1)
        Ent(b, math.min(text.length, b + rng.nextInt(25)), "x", "")
      }
      val sents =
        if (rng.nextBoolean()) None
        else Some((0 until rng.nextInt(5))
          .map(_ => rng.nextInt(text.length + 1)).sorted
          .map(b => Sent(b, text.length)).toArray)
      sameAsOracle(text, ents, sents)
    }
  }
}
