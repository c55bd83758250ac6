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
  * bank excludes exactly what the ungated bank does; the
  * binary-searched qualifier scopes return the same flags and cues, in
  * the same order, as the scope-by-scope loop; the tokenizer's scanner
  * emits the tokens of the word regex it replaced; one qualifier
  * engine over several banks returns what one engine per bank, run one
  * after another, did; every lead-driven whole-text scan returns the
  * matches of the `find` loop, and no match starts where its lead rules
  * one out, over the whole BMP; deserialized copies of a pipeline
  * share one engine; and the sentencizer's inline char checks give the
  * sentences of the set-and-closure form.
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

  test("entsTable schema: the flags arrive as the nullable booleans the " +
      "attrs map gave") {
    import TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.types._
    val pipe = DocPipeline(terms = Map("fievre" -> Seq("fièvre")),
      qualifiers = qualifiers)
    val out = pipe.entsTable(Seq((1L, "Pas de fièvre.")).toDF("doc_id", "text"),
      "doc_id", "text")
    assert(out.schema === StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("begin", IntegerType), StructField("end", IntegerType),
      StructField("label", StringType),
      StructField("lexical_variant", StringType)) ++
      qualifiers.map(q => StructField(q.name, BooleanType))))
    assert(out.collect().map(_.toSeq).toSeq ===
      Seq(Seq(1L, 7, 13, "fievre", "fièvre", true, false, false, false, false)))
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
    val gatedPatterns = bank.collect { case g @ Normalizer.Scanned(_, c: Lead.Contains) => (g, c) }
    assert(gatedPatterns.size === 4)
    gatedPatterns.foreach { case (g, gate) =>
      val texts = gatedSamples(gate.anyOf.head)
      assert(texts.exists(t => g.pattern.matcher(t).find()),
        s"no sample matches ${g.regex}")
      texts.foreach { t =>
        assert(gate.next(t, 0) === 0, s"gate rules out a text it must run on: $t")
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
          assert(g.lead.next(t, 0) >= 0, s"${g.regex} matches but is gated off: $t")
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

  // ---- tokenizer: scanner vs the word regex -------------------------

  /** The regex tokenizer the scanner replaced, kept verbatim as the
    * oracle.
    */
  private object RegexTokenizer {
    private val exceptions = "Dr\\.|Pr\\.|M\\.|Mme\\.|Mlle\\.|(?i:ep\\.)"
    private val acronym = "[A-Z][A-Z0-9]*\\.(?=[^\\W])"
    private val numLike = "\\d+(?:[.,]\\d(?![.,]?[0-9])|(?![.,]?[0-9]))?"
    // Unicode punctuation + symbols + the quote variants the reference adds.
    private val punctCls = "\\p{P}\\p{S}\"'ˊ＂〃ײ᳓″״‶˶ʺ“”˝"
    private val default =
      s"[^\\d$punctCls\\n\\s]+(?:['ˊ](?=[\\p{L}]|$$))?"

    private val wordRegex: Pattern = Pattern.compile(
      s"($exceptions|$acronym|$numLike|[$punctCls]|[\\n\\r\\t]|[^\\S\\r\\n\\t]+|$default)")

    def tokenize(text: String): Array[Token] = {
      if (text == null) return Array.empty
      val m = wordRegex.matcher(text)
      val out = new ArrayBuffer[Token](text.length / 5 + 4)
      while (m.find()) {
        val t = m.group(1)
        out += Token(m.start(1), m.end(1), t, t, excluded = false)
      }
      out.toArray
    }
  }

  /** The scanner emits the regex's tokens on every text. */
  private def assertSameTokens(texts: Iterator[String]): Unit = {
    val bad = texts.filter(t =>
      !java.util.Arrays.equals(Tokenizer.tokenize(t).asInstanceOf[Array[AnyRef]],
        RegexTokenizer.tokenize(t).asInstanceOf[Array[AnyRef]]))
      .take(5).toSeq
    assert(bad.isEmpty, bad.map(t => t.map(c => f"\\u${c.toInt}%04x").mkString)
      .mkString("scanner != regex on: ", ", ", ""))
  }

  test("tokenizer: every BMP char alone and in word, number and " +
      "apostrophe contexts") {
    val contexts = Seq(("", ""), ("a", "b"), ("A", "1"), ("l", ""),
      ("3", "5"), ("'", ""), ("l'", ""), ("lˊ", ""), ("l", "'"))
    contexts.foreach { case (pre, post) =>
      assertSameTokens((0 until 0x10000).iterator.map(c => s"$pre${c.toChar}$post"))
    }
  }

  test("tokenizer: a trailing apostrophe before a letter or the end " +
      "of the text") {
    val cases = Seq("l'", "l'\n", "l'\r\n", "l'\r", "l'\u0085", "l'\u2028",
      "l'\u2029", "l'\n\n", "l'\r\n ", "l' ", "l'\n.", "lˊ", "lˊ\n",
      "lˊ\r\n", "l'é", "l'E", "l'1", "l''", "aujourd'hui", "l'\u0085x",
      "l'𝐀", "l'😀")
    assertSameTokens(cases.iterator)
    assert(Tokenizer.tokenize("l'\n").map(_.text).toSeq === Seq("l'", "\n"))
    assert(Tokenizer.tokenize("l'\n\n").map(_.text).toSeq === Seq("l", "'", "\n", "\n"))
  }

  test("tokenizer: surrogates, quote variants, soft hyphen and the " +
      "abbreviation exceptions") {
    val cases = Seq("a😀b", "𝐀x", "x𝐀",
      "\uD800", "\uDC00", "a\uD800b", "a\uDC00b", "\uD800𐀀",
      "\uDE00\uD83D", "ˊ", "aˊb", "ʺ", "aʺb", "ײ", "aײb", "soft\u00ADhyphen",
      "\u00AD", "Dr.", "Dr.X", "Mme.", "Mme.Y", "M.", "Mlle.", "Pr.", "ep.",
      "EP.", "Ep.", "eP.x", "DR.", "DR.x", "mme.", "Mmes.", "ADM.", "aDr.",
      "3Dr.", "Dr", "Dr .", "ep", "step.", "STEP.x", "\u00A0", "a\u00A0b",
      " \u000B\f x", "\t\t", "\r\n", "« pas »", "“cite”")
    assertSameTokens(cases.iterator)
    assert(Tokenizer.tokenize("Vu par le Dr.Martin").map(_.text).toSeq ===
      Seq("Vu", " ", "par", " ", "le", " ", "Dr.", "Martin"))
  }

  test("tokenizer: acronyms with or without a following word char, " +
      "and decimal numbers") {
    val cases = Seq("C.P.G", "C.P.G.", "ACR5", "ABC.d", "ABC. d", "ABC.",
      "A1.B", "A.é", "A._", "A.1", "3,5", "3,55", "3,5.1", "3.5,", "12,3.",
      "1.2.3", "3,,5", "3.a", "3,5,", "3,5,6", "10.", ".5", "3.5mg")
    assertSameTokens(cases.iterator)
    assert(Tokenizer.tokenize("3,5").map(_.text).toSeq === Seq("3,5"))
    assert(Tokenizer.tokenize("3,55").map(_.text).toSeq === Seq("3", ",", "55"))
    assert(Tokenizer.tokenize("3,5.1").map(_.text).toSeq === Seq("3", ",", "5.1"))
    assert(Tokenizer.tokenize("C.P.G").map(_.text).toSeq === Seq("C.", "P.", "G"))
  }

  test("tokenizer: 300,000 seeded random strings") {
    val alphabet = "aAZlepMDr350.,'ˊ \n\r\t\u000B\f\u0085\u2028é-«»" +
      "😀ʺ_\u00A0$E\u2029\uD835ײ"
    assert(alphabet.length === 38)
    val rng = new Random(11)
    assertSameTokens(Iterator.fill(300000)(
      Seq.fill(rng.nextInt(13))(alphabet(rng.nextInt(alphabet.length))).mkString))
  }

  /** Clinical-looking notes: seeded concatenations of note fragments. */
  private def generatedNotes(n: Int, seed: Int): Seq[String] = {
    val frags = Seq("Pas de fièvre", "le patient", "Mme. Dupont", "Dr. Martin",
      "ep. ", "C.P.G", "SpO2 92 %", "3,5 mg", "12/03/2021", "l'estomac",
      "aujourd'hui", "« pas de douleur »", "\"dit-il\"", "mère diabétique",
      "suspicion de fracture", "sans doute", "ATCD : HTA", "\n", "\r\n", " ",
      "  ", "\t", ".", ", ", "; ", "(", ")", "?", "…", "n'exclut pas",
      "incompatible avec", "absence de toux", "rapporte", "il y a 3 jours",
      "www.aphp.fr", "diab-\nète", "TA 12/8", "ACR5", "1.2.3", "l'")
    val rng = new Random(seed)
    Seq.fill(n)(Seq.fill(1 + rng.nextInt(40))(frags(rng.nextInt(frags.size)))
      .mkString(if (rng.nextBoolean()) " " else ""))
  }

  test("tokenizer: 3,000 generated notes") {
    assertSameTokens(generatedNotes(3000, 5).iterator)
  }

  // ---- qualifier: one engine vs one engine per bank -----------------

  /** `RuleQualifier` as it ran one bank per engine, kept verbatim as the
    * oracle; the pipeline ran one of these per bank, one after another.
    */
  private final class PerBankQualifier(patterns: QualifierPatterns) {

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

    def qualify(
        text: String,
        tokens: Array[Token],
        sents: Array[Sent],
        ents: Seq[Ent]): Seq[(Boolean, Seq[Ent])] = {
      if (ents.isEmpty) return Nil
      val cues = phraseMatcher.findMatches(tokens, text) ++
        regexMatcher.map(_.findMatches(tokens, text)).getOrElse(Nil)

      val terminations = cues.filter(_.label == "termination")
      val docEnd = if (text == null) 0 else text.length
      val starts =
        (sents.map(_.begin) ++ terminations.map(_.begin) :+ docEnd)
          .distinct.sorted

      val matches = SpanAlgebra.filterSpans(cues, Some("pseudo"))
      val preceding = matches.filter(_.label == "preceding").toArray
      val following = matches.filter(_.label == "following").toArray
      val precBegins = preceding.map(_.begin)
      val follBegins = following.map(_.begin)

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

      ents.iterator.zipWithIndex.foreach { case (ent, i) =>
        val cuesHit = new ArrayBuffer[Ent]
        var k = math.max(0, lowerBound(starts, ent.begin + 1) - 1)
        while (k < starts.length - 1 && starts(k) < ent.end) {
          var j = lowerBound(precBegins, starts(k))
          val jEnd = lowerBound(precBegins, ent.begin + 1)
          while (j < jEnd) {
            if (preceding(j).end <= ent.begin) cuesHit += preceding(j)
            j += 1
          }
          j = lowerBound(follBegins, ent.end)
          while (j < follBegins.length && follBegins(j) < starts(k + 1)) {
            cuesHit += following(j)
            j += 1
          }
          k += 1
        }
        if (cuesHit.nonEmpty)
          results(i) = (true, results(i)._2 ++ cuesHit)
      }
      results.toSeq
    }

    def apply(
        text: String,
        tokens: Array[Token],
        sents: Array[Sent],
        ents: Seq[Ent]): Seq[Ent] = {
      val res = qualify(text, tokens, sents, ents)
      ents.zip(res).map { case (e, (hit, _)) =>
        e.copy(attrs = e.attrs + (patterns.name -> hit.toString))
      }
    }

    private def lowerBound(xs: Array[Int], x: Int): Int = {
      var lo = 0
      var hi = xs.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (xs(mid) < x) lo = mid + 1 else hi = mid
      }
      lo
    }
  }

  /** The one engine over `banks` returns, per bank, the flags and cue
    * lists (in order) of that bank's own engine, and writes the attrs
    * the per-bank loop wrote; returns the one engine's results.
    */
  private def sameAsPerBank(banks: Seq[QualifierPatterns], text: String,
      ents: Seq[Ent], sents: Option[Array[Sent]] = None)
      : Seq[Seq[(Boolean, Seq[Ent])]] = {
    val engine = new RuleQualifier(banks)
    val perBank = banks.map(new PerBankQualifier(_))
    val toks = Normalizer.normalize(text, Tokenizer.tokenize(text))
    val ss = sents.getOrElse(Sentencizer.sentences(toks))
    val got = engine.qualifyAll(text, toks, ss, ents)
    val want = perBank.map(_.qualify(text, toks, ss, ents))
    assert(got === want, s"cues of '$text'")
    assert(engine.apply(text, toks, ss, ents) ===
      perBank.foldLeft(ents)((es, q) => q.apply(text, toks, ss, es)),
      s"attrs of '$text'")
    got
  }

  test("qualifier: one engine over the five banks equals the per-bank " +
      "loop on generated documents, entities and sentence cuts") {
    val words = Seq("pas de", "sans", "sans doute", "absence de", "aucun",
      "mère", "père", "familial", "suspicion de", "probable", "possible",
      "selon", "dit", "rapporte", "antécédent de", "ATCD", "mais", "et",
      "avec", "incompatible avec", "car", ".", ",", ";", "\n", "«", "»",
      "\"", "fracture", "fièvre", "douleur", "diabète", "exclue", "négatif",
      "le patient", "Le", "a", "une", "bien", "écartée", "ne", "jamais",
      "pas de doute", "il y a", "en 2019", "aucun signe de", "?")
    val rng = new Random(17)
    var fired = 0
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
      fired += sameAsPerBank(qualifiers, text, ents, sents)
        .map(_.count(_._1)).sum
    }
    assert(fired > 600, "the generated documents qualify entities")
  }

  test("qualifier: a term that is both pseudo and preceding keeps its " +
      "tie-break, next to banks listing it under other roles") {
    val both = QualifierPatterns("both", pseudo = Seq("sans", "pas de doute"),
      preceding = Seq("sans", "pas"), following = Seq("sans"),
      precedingRegex = Nil, termination = Seq(",", "mais"))
    val text = "Fièvre sans toux, pas de doute sur la fracture mais sans douleur."
    val ents = Seq(ent(text, "toux"), ent(text, "fracture"), ent(text, "douleur"),
      ent(text, "Fièvre"))
    val got = sameAsPerBank(Seq(Patterns.negation, both, Patterns.hypothesis),
      text, ents)
    // the preceding label sorts before the pseudo one, so filterSpans
    // keeps the preceding "sans" and only then lets the pseudo claim it
    assert(got(1).map(_._1) === Seq(true, false, true, true))
    assert(got(1).head._2.map(_.text) === Seq("sans"))
    assert(sameAsPerBank(Seq(both), text, ents) === Seq(got(1)))
  }

  test("qualifier: banks with different termination lists cut their " +
      "own scopes") {
    def bank(name: String, termination: Seq[String]) = QualifierPatterns(
      name, pseudo = Nil, preceding = Seq("pas de"), following = Seq("exclue"),
      precedingRegex = Nil, termination = termination)
    val byMais = bank("mais", Seq("mais"))
    val byEt = bank("et", Seq("et"))
    val text = "Pas de fièvre et toux mais douleur et fracture exclue"
    val ents = Seq(ent(text, "toux"), ent(text, "douleur"), ent(text, "fracture"),
      ent(text, "fièvre"))
    val got = sameAsPerBank(Seq(byMais, byEt, byMais.copy(name = "mais2")),
      text, ents)
    // "exclue" reaches back to "douleur" across "et" but not "mais"
    assert(got(0).map(_._1) === Seq(true, true, true, true))
    assert(got(1).map(_._1) === Seq(false, false, true, true))
    assert(got(2) === got(0))
    sameAsPerBank(Seq(Patterns.negation, byEt, Patterns.reportedSpeech,
      byMais), text, ents)
  }

  test("qualifier: a bank with no pseudo list orders overlapping cues " +
      "as pseudo suppression would") {
    val noPseudo = QualifierPatterns("np", pseudo = Nil,
      preceding = Seq("pas", "pas de", "de", "pas de signe de"),
      following = Seq("absente", "absente ce jour", "ce jour"),
      precedingRegex = Seq("(?i)pas\\s+de", "(?i)de\\s+signe"),
      termination = Seq(";"))
    val text = "Pas de signe de fièvre ; toux absente ce jour ; pas de douleur"
    val got = sameAsPerBank(Seq(noPseudo), text,
      Seq(ent(text, "fièvre"), ent(text, "toux"), ent(text, "douleur")))
    assert(got.head.map(_._1) === Seq(true, true, true))
    assert(got.head.head._2.map(_.text.toLowerCase) === Seq("pas de signe de",
      "pas de", "pas de", "pas", "de signe", "de", "de"))
    sameAsPerBank(Seq(Patterns.negation, noPseudo, Patterns.family), text,
      Seq(ent(text, "fièvre"), ent(text, "toux"), ent(text, "douleur")))
  }

  test("qualifier: reported-speech containment in the shared engine") {
    val text = "Il rapporte « pas de fracture » et \"sa mère\" dit avoir mal " +
      "(selon le patient)."
    val got = sameAsPerBank(qualifiers, text,
      Seq(ent(text, "fracture"), ent(text, "mère"), ent(text, "mal")))
    val rs = got(qualifiers.indexWhere(_.name == "reported_speech"))
    assert(rs.map(_._1) === Seq(true, true, true))
    assert(rs.head._2.head.text.startsWith("«"))
    assert(rs(1)._2.head.text === "\"sa mère\"")
  }

  // ---- whole-text scans: lead-driven vs the find loop ---------------

  /** The whole-text scans the engine runs with their leads: the
    * pollution bank and the cue regexes of the shipped banks.
    */
  private val shippedScans: Seq[(String, Pattern, Lead)] =
    bank.map(s => (s.regex, s.pattern, s.lead)) ++
      qualifiers.flatMap(q => q.precedingRegex ++ q.containingRegex).map(r =>
        (r, Pattern.compile(r, RegexMatcher.DefaultFlags),
          RegexMatcher.leadOf(r, RegexMatcher.DefaultFlags)))

  /** Config regexes, with the leads `RegexMatcher.build` derives: the
    * benchmark's, the reason bank's and ones the other specs use.
    */
  private val derivedScans: Seq[(String, Pattern, Lead)] =
    (Seq("spo2 \\d{2,3} %", "fracture du radius", "\\btest\\b",
      "(?i)pas\\s+de", "(?i)de\\s+signe") ++ graft.pipes.Reason.patterns).map(r =>
      (r, Pattern.compile(r, RegexMatcher.DefaultFlags),
        RegexMatcher.leadOf(r, RegexMatcher.DefaultFlags)))

  private val allScans = shippedScans ++ derivedScans

  private def leadMatches(p: Pattern, lead: Lead, t: String): Seq[(Int, Int)] = {
    val acc = ArrayBuffer.empty[(Int, Int)]
    Lead.scan(p, lead, t)(m => acc += ((m.start, m.end)))
    acc.toSeq
  }

  private def findMatches(p: Pattern, t: String): Seq[(Int, Int)] = {
    val m = p.matcher(t)
    val acc = ArrayBuffer.empty[(Int, Int)]
    while (m.find()) acc += ((m.start, m.end))
    acc.toSeq
  }

  /** Each scan returns find's match list on every text; returns the
    * number of matches per scan.
    */
  private def assertSameScans(texts: Iterator[String],
      scans: Seq[(String, Pattern, Lead)] = allScans): Map[String, Int] = {
    val hits = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    val bad = ArrayBuffer.empty[String]
    texts.foreach { t =>
      scans.foreach { case (regex, p, lead) =>
        val want = findMatches(p, t)
        if (leadMatches(p, lead, t) != want && bad.size < 5)
          bad += s"$regex on ${t.map(c => f"\\u${c.toInt}%04x").mkString}"
        hits(regex) += want.size
      }
    }
    assert(bad.isEmpty, bad.mkString("lead scan != find: ", "; ", ""))
    hits.toMap
  }

  test("leads: every shipped cue regex declares one, and the derivation " +
      "rule for config regexes") {
    qualifiers.flatMap(q => q.precedingRegex ++ q.containingRegex).foreach(r =>
      assert(Patterns.cueLeads.contains(r), r))
    assert(shippedScans.count(_._3 == Lead.Anywhere) === 0)
    import Lead.{literal, Anywhere}
    val f = RegexMatcher.DefaultFlags
    Seq("spo2 \\d{2,3} %" -> literal("spo2 "),
      "(?i)aucun(e)?\\s+signe" -> literal("aucun"),
      "(?iU)\\bne\\b(?=x)" -> literal("ne"), "\\bab\\b" -> literal("ab"),
      "ab*c" -> literal("a"), "ab+c" -> literal("a"), "ab{2}" -> literal("a"),
      "abc?" -> literal("ab"), "a\\.b" -> literal("a"), "é😀" -> literal("é"),
      "(?i)(?u)ab" -> literal("ab"), "x*" -> Anywhere, "" -> Anywhere,
      "a|b" -> Anywhere, "ab\\|" -> Anywhere, "(?x)ab c" -> Anywhere,
      "(?i)(?-x)ab" -> Anywhere, "(?i:ab)c" -> Anywhere, "ab\\Gc" -> Anywhere,
      "\\d+ab" -> Anywhere, "^ab" -> Anywhere, ".ab" -> Anywhere,
      "[ab]c" -> Anywhere, "(ab)" -> Anywhere)
      .foreach { case (r, want) => assert(Lead.derive(r, f) === want, r) }
    Seq(Pattern.COMMENTS, Pattern.LITERAL, Pattern.CANON_EQ).foreach(extra =>
      assert(Lead.derive("abc", f | extra) === Anywhere))
    // a shipped cue regex under other flags is derived, not declared
    assert(RegexMatcher.leadOf("(?i)en\\s+(19|20)\\d\\d", 0) === Anywhere)
    assert(RegexMatcher.leadOf("(?i)en\\s+(19|20)\\d\\d", f) ===
      Lead.Prefix("e", "n", " \t\n\u000B\f\r"))
  }

  test("leads: the case fold joins every pair of chars Java's " +
      "case-insensitive match joins, over the whole BMP") {
    val leadChars = (allScans.flatMap {
      case (_, _, l: Lead.Prefix) => l.sets.flatten
      case _ => Nil
    } ++ (0 until 256).map(_.toChar)).distinct
    val one = new Array[Char](1)
    val cs = java.nio.CharBuffer.wrap(one)
    val bad = ArrayBuffer.empty[String]
    for (flags <- Seq(Pattern.CASE_INSENSITIVE, RegexMatcher.DefaultFlags);
         p <- leadChars;
         form <- Seq(Pattern.quote(p.toString), f"[\\x{${p.toInt}%x}]")) {
      val m = Pattern.compile(form, flags).matcher("")
      var c = 0
      while (c < 0x10000) {
        one(0) = c.toChar
        if (m.reset(cs).matches() && Lead.fold(c.toChar) != Lead.fold(p) && bad.size < 5)
          bad += f"$form%s ($flags) matches \\u$c%04x"
        c += 1
      }
    }
    assert(bad.isEmpty, bad.mkString("fold splits a case pair: ", "; ", ""))
    assert(Lead.fold('ſ') === Lead.fold('S') && Lead.fold('\u212A') === Lead.fold('k') &&
      Lead.fold('\u0130') === Lead.fold('i'))
  }

  /** Left contexts a pattern can tell apart: start of text, each line
    * terminator, a word char, a non-word char and a digit.
    */
  private val contexts = Seq("", "\n", "\r", "\u0085", "\u2028", "\u2029", "a", " ", "5")
  private val lineContexts = contexts.filter(c => c.isEmpty || Lead.isLineTerminator(c.head))

  /** `p` tried at one offset exactly as `Lead.scan` tries it. */
  private final class Probe(p: Pattern) {
    private val m = Lead.matcher(p, "")
    def matches(text: String, i: Int): Boolean = Lead.matchAt(m.reset(text), i)
    /** No match starts at `i`, and no text after `text` could make one. */
    def refutes(text: String, i: Int): Boolean = !matches(text, i) && !m.hitEnd
  }

  test("leads: no match starts where a lead rules one out: every BMP char " +
      "outside each lead, in each left context") {
    val bmp = (0 until 0x10000).map(_.toChar)
    def hex(t: String) = t.map(c => f"\\u${c.toInt}%04x").mkString
    val lineSamples = Seq("Dr. Martin", "imprimé le 01/02/2020", "1/3\npatient X",
      "12/03/2021 8012345678")
    val bad = ArrayBuffer.empty[String]
    def check(ok: Boolean, regex: String, text: => String): Unit =
      if (!ok && bad.size < 10) bad += s"$regex on ${hex(text)}"
    var proven = 0
    allScans.foreach {
      case (regex, p, lead: Lead.Prefix) =>
        val probe = new Probe(p)
        val sets = lead.sets.map(_.map(Lead.fold).toSet)
        for (ctx <- contexts; k <- lead.sets.indices) {
          val head = ctx + lead.sets.take(k).map(_.head).mkString
          bmp.foreach { c =>
            if (!sets(k)(Lead.fold(c)))
              check(probe.refutes(head + c, ctx.length), regex, head + c)
          }
        }
        proven += 1
      case (regex, p, lead: Lead.LineStart) =>
        val probe = new Probe(p)
        val samples = lineSamples.filter(probe.matches(_, 0))
        assert(samples.nonEmpty, s"no sample line for $regex")
        for (s <- samples) {
          lineContexts.foreach(ctx => assert(probe.matches(ctx + s, ctx.length), regex))
          bmp.foreach { c =>
            if (!Lead.isLineTerminator(c)) check(probe.refutes(c + s, 1), regex, c + s)
          }
        }
        if (lead.digitRun > 0) {
          val run = "8012345678"
          assert(run.length === lead.digitRun)
          for (ctx <- lineContexts; k <- run.indices; c <- bmp
               if c != '\n' && !(c >= '0' && c <= '9')) {
            val t = ctx + "12/03/2021 " + run.updated(k, c) + "\n12/03/2021 " + run
            assert(lead.next(t, ctx.length) > ctx.length)
            check(probe.refutes(t, ctx.length), regex, t)
          }
        }
        proven += 1
      case _ => // a literal gate or no lead: the find loop runs
    }
    assert(bad.isEmpty, bad.mkString("a lead rules out a match: ", "; ", ""))
    assert(proven === allScans.count(s => !s._3.isInstanceOf[Lead.Contains] &&
      s._3 != Lead.Anywhere))
    assert(proven >= 20)
  }

  /** AP-HP boilerplate, one block per shipped scan and every cue. */
  private val apHpBlocks = Seq(
    "Dr. Jean MARTIN\nPr Paul DURAND\n", "\nImprimé le 03/04/2021 à 10:12\n",
    "\n1/3\nPatient : DUPONT Jean né le 01/02/1950\nCourrier validé le 04/05/2021\n",
    "\n12/03/2021 8012345678 DUPONT Jean\n",
    "L’arrêt du tabac permet de diminuer le risque de maladie cardiovasculaire.",
    "\n==========\n", "NBNbWbWbNB", "_____", "aucun signe de", "Aucune signe d'",
    "ne fume pas", "il ne le dit jamais", "suspicion de", "Suspicions d'",
    "en 2019", "EN 1998", "« cite »", "\"dit-il\"", "SpO2 95 %",
    "Motif de l'hospitalisation : douleur", "au total : rien", "conclusion medicale",
    "Hospitalisé pour chute", "consulte pour toux", "motif de la consultation",
    "motif d'admission", "Motif d'hospitalisation : chute", "fracture du radius",
    "un test", "pas de", "de signe") ++
    Seq(infoBlock, infoBlock2) ++ gatedSamples.values.flatten

  private def polluted(n: Int, seed: Int): Seq[String] = {
    val rng = new Random(seed)
    generatedNotes(n, seed).map { note =>
      (1 to 1 + rng.nextInt(3)).foldLeft(note) { (t, _) =>
        val at = rng.nextInt(t.length + 1)
        t.substring(0, at) + apHpBlocks(rng.nextInt(apHpBlocks.size)) + t.substring(at)
      }
    }
  }

  test("lead scans equal the find loop on generated notes and on notes " +
      "with AP-HP blocks spliced in") {
    assertSameScans(generatedNotes(3000, 5).iterator)
    val hits = assertSameScans(polluted(500, 9).iterator)
    allScans.foreach { case (regex, _, _) =>
      assert(hits(regex) > 0, s"no polluted note matches $regex")
    }
  }

  test("lead scans equal the find loop on 300,000 seeded random strings") {
    val frags = Seq("aucun", "AUCUNE", " signe de", "ne", "NE", "n", "e", " pas",
      "suspicion", "ſuſpicion", "SUSP\u0130CION", "s", " de", "d'", "en", "EN",
      " 2019", " 1998", "spo2 ", "SPO2 ", "95 %", "l'arr", "l’arr", "êt du tabac " +
        "permet de diminuer le risque de maladie cardiovasculaire.", "L'ARRET",
      "\"", "«", "»", "nbw", "NB", "=", "==", "_", "-", "Dr. ", "pr ", "DR.",
      "imprimé le 01/02/2020", "1/3", "pat", "12/03/2021 ", "801234567",
      "8012345678", "80123456789", "\r\n", "\r", "\n", "\u0085", "\u2028",
      "\u2029", " ", "x", "é", "5", "/", "\u212A", "\u0130", "motif de l", "au total",
      "www.", "@", ".fr", "droit-opposition", "ab", infoBlock, infoBlock2)
    assert(frags.contains("\u212A") && frags.contains("ſuſpicion"))
    val rng = new Random(23)
    val hits = assertSameScans(Iterator.fill(300000)(
      Seq.fill(rng.nextInt(9))(frags(rng.nextInt(frags.size))).mkString))
    shippedScans.foreach { case (regex, _, _) =>
      assert(hits(regex) > 0, s"no random string matches $regex")
    }
  }

  test("lead scans: a regex that can match empty resumes one past each " +
      "empty match, as find does") {
    val texts = Seq("", "ab", "aab\nab", " \n\t\n", "\n\n\n", "\r\n  x\u2028 y", "abab", "xx")
    // no lead: the find loop
    val m = RegexMatcher.build(Map("e" -> Seq("x*", "b?")))
    texts.foreach { t =>
      assert(m.findMatches(Tokenizer.tokenize(t), t).map(e => (e.begin, e.end)) ===
        Seq("x*", "b?").flatMap(r => findMatches(Pattern.compile(r,
          RegexMatcher.DefaultFlags), t)), t)
    }
    // a lead whose candidates can hold an empty match
    val scans = Seq(("(?m)^[ \\t]*", Lead.LineStart()), ("(?=ab)", Lead.literal("ab")),
      ("(?=a)a?", Lead.literal("a"))).map { case (r, l) => (r, Pattern.compile(r), l) }
    val hits = assertSameScans(texts.iterator, scans)
    assert(hits.values.forall(_ > 0))
  }

  test("pipeline: deserialized copies of one pipeline share one engine; " +
      "another config gets its own") {
    def roundTrip(p: DocPipeline): DocPipeline = {
      val bytes = new java.io.ByteArrayOutputStream
      val out = new java.io.ObjectOutputStream(bytes)
      out.writeObject(p)
      out.close()
      new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bytes.toByteArray))
        .readObject().asInstanceOf[DocPipeline]
    }
    val pipe = DocPipeline(terms = Map("fievre" -> Seq("fièvre")),
      regexPatterns = Map("spo2" -> Seq("spo2 \\d{2,3} %")), qualifiers = qualifiers)
    val (a, b) = (roundTrip(pipe), roundTrip(pipe))
    assert(a ne b)
    assert(a.engine eq b.engine)
    val other = roundTrip(pipe.copy(regexPatterns = Map("spo2" -> Seq("spo2 \\d+"))))
    assert(other.engine ne a.engine)
    val text = "Pas de fièvre, SpO2 92 % ce jour."
    assert(a.annotate(text) === pipe.annotate(text))
    assert(other.annotate(text).ents.map(_.text) === Seq("fièvre", "SpO2 92"))
  }

  // ---- sentencizer: inline char checks vs the set and closures -------

  /** `Sentencizer.sentenceStarts` and `sentences` as they were with a
    * `Set[String]` lookup, `forall` closures and `contains` scans, kept
    * verbatim as the oracle.
    */
  private object SetSentencizer {
    import Sentencizer.Options

    private val punctChars: Set[String] =
      Set("!", ".", "?", "܂", "‼", "‽", "⁇", "⁈", "⁉", "﹖", "﹗", "！", "．", "？")

    private def isDigitTok(t: Token): Boolean =
      t.text.nonEmpty && t.text.forall(Character.isDigit)

    private def isPunctTok(t: Token): Boolean =
      t.text.nonEmpty && t.text.forall(c =>
        Character.getType(c) match {
          case Character.CONNECTOR_PUNCTUATION | Character.DASH_PUNCTUATION |
              Character.START_PUNCTUATION | Character.END_PUNCTUATION |
              Character.INITIAL_QUOTE_PUNCTUATION |
              Character.FINAL_QUOTE_PUNCTUATION | Character.OTHER_PUNCTUATION =>
            true
          case _ => false
        })

    private def isCapitalized(t: Token): Boolean =
      t.text.nonEmpty && Character.isUpperCase(t.text.charAt(0))

    def sentenceStarts(tokens: Array[Token], opts: Options = Options())
        : Array[Boolean] = {
      val starts = Array.fill(tokens.length)(false)
      if (tokens.isEmpty) return starts
      starts(0) = true
      var seenPeriod = false
      var newlineCount = 0
      var i = 0
      while (i < tokens.length) {
        val t = tokens(i)
        if (!(opts.ignoreExcluded && t.excluded)) {
          val isInPunct = punctChars.contains(t.text)
          val isNewline = t.text.contains('\n') || t.text.contains('\r')
          val hardNewline =
            opts.hardNewlineCount >= 0 && newlineCount >= opts.hardNewlineCount
          var continued = false
          if (seenPeriod || newlineCount >= opts.minNewlineCount) {
            if (seenPeriod && isDigitTok(t)) {
              seenPeriod = false
              continued = true
            } else if (!(isInPunct || isNewline || isPunctTok(t))) {
              if (seenPeriod) starts(i) = true
              else
                starts(i) =
                  hardNewline || !opts.checkCapitalized || isCapitalized(t)
              newlineCount = 0
              seenPeriod = false
              continued = true
            }
          }
          if (!continued) {
            if (isInPunct) seenPeriod = true
            if (isNewline) newlineCount += 1 else newlineCount = 0
          }
        }
        i += 1
      }
      starts
    }

    def sentences(tokens: Array[Token], opts: Options = Options())
        : Array[Sent] = {
      val starts = sentenceStarts(tokens, opts)
      val out = new ArrayBuffer[Sent]
      var sb = -1
      var se = -1
      var i = 0
      while (i < tokens.length) {
        if (starts(i)) {
          if (sb >= 0) out += Sent(sb, se)
          sb = tokens(i).begin
        }
        se = tokens(i).end
        i += 1
      }
      if (sb >= 0) out += Sent(sb, se)
      out.toArray
    }
  }

  /** Every combination of the segmenter's options. */
  private val sentencizerOptions = for {
    minNl <- Seq(1, 2)
    hardNl <- Seq(-1, 0, 2)
    capitalized <- Seq(true, false)
    ignoreExcluded <- Seq(true, false)
  } yield Sentencizer.Options(minNl, hardNl, capitalized, ignoreExcluded)

  /** Both forms give the same starts and sentences on every token array,
    * under every option combination.
    */
  private def assertSameSentences(docs: Iterator[Array[Token]]): Unit = {
    val bad = docs.flatMap(toks => sentencizerOptions.iterator
      .filter(o => Sentencizer.sentenceStarts(toks, o).toSeq !=
        SetSentencizer.sentenceStarts(toks, o).toSeq ||
        Sentencizer.sentences(toks, o).toSeq !=
        SetSentencizer.sentences(toks, o).toSeq)
      .map(o => (toks.map(_.text).mkString("|"), o))).take(5).toSeq
    assert(bad.isEmpty, bad.mkString("inline checks != set form on: ", ", ", ""))
  }

  /** Tokens over `texts` in a row, each excluded with probability 1/4. */
  private def tokenRow(texts: Seq[String], rng: Random): Array[Token] = {
    var at = 0
    texts.map { t =>
      val tok = Token(at, at + t.length, t, t, excluded = rng.nextInt(4) == 0)
      at += t.length
      tok
    }.toArray
  }

  test("sentencizer: every BMP char as a token after a period, after a " +
      "newline and doubled") {
    val rng = new Random(29)
    assertSameSentences((0 until 0x10000).iterator.flatMap { c =>
      val s = c.toChar.toString
      Iterator(Seq(".", s, "Le"), Seq("\n", s, "le"), Seq(s, s, "A"), Seq(s + s))
        .map(tokenRow(_, rng))
    })
  }

  test("sentencizer: 3,000 generated notes, as tokenized and with random " +
      "exclusions") {
    val rng = new Random(31)
    assertSameSentences(generatedNotes(3000, 9).iterator.flatMap { t =>
      val toks = Tokenizer.tokenize(t)
      Iterator(toks, toks.map(k => k.copy(excluded = rng.nextInt(4) == 0)))
    })
  }

  test("sentencizer: 300,000 seeded random token rows") {
    val alphabet = "aAÉz.!?܂‼‽⁇⁈⁉﹖﹗！．？…,;:-«»()_\"'\n\r \t05٣²\u0085\u2028"
    val rng = new Random(37)
    def word(): String =
      Seq.fill(rng.nextInt(4))(alphabet(rng.nextInt(alphabet.length))).mkString
    assertSameSentences(Iterator.fill(300000)(
      tokenRow(Seq.fill(rng.nextInt(9))(word()), rng)))
  }
}
