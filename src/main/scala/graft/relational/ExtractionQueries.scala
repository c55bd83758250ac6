package graft.relational

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.nlp.{Ent, Normalizer, Sentencizer, Tokenizer}
import graft.pipes._

/** Extraction-pipe queries, oracle-checked end-to-end: clinical-style text
  * is SYNTHESIZED from table columns (dates from o_orderdate, doses from
  * l_quantity, ...), the pipe extracts+normalizes from the text, and the
  * DuckDB oracle recomputes the expected values directly from the source
  * columns — so the oracle is independent of the extraction logic and any
  * regex/parse drift fails the hash compare.
  */
object ExtractionQueries {
  import Tables._

  private val extractDateUdf = udf((s: String) =>
    Dates.extract(s).headOption.flatMap(_.attrs.get("datetime")))

  private val extractPeriodUdf = udf((s: String) =>
    Dates.extractWithPeriods(s)._2.headOption.map(p =>
      (p.attrs.getOrElse("from_datetime", ""),
        p.attrs.getOrElse("until_datetime", ""))))

  private val tableDoseUdf = udf((s: String) =>
    Quantities.extractFromTables(s).headOption
      .flatMap(_.attrs.get("value")).map(_.toDouble))

  private val extractDoseUdf = udf((s: String) =>
    Quantities.extract(s).headOption.flatMap(_.attrs.get("value"))
      .map(_.toDouble))

  private val sectionsUdf = udf((s: String) => {
    val (_, sections) = SectionQueriesShared.matcher(s)
    sections.map(e => (e.label, e.begin, e.end))
  })

  private val contextualUdf = udf((s: String) => {
    val tokens = Normalizer.normalize(s, Tokenizer.tokenize(s))
    val sents = Sentencizer.sentences(tokens)
    SectionQueriesShared.fractureMatcher.findMatches(s, tokens, sents)
      .map(e => e.attrs.getOrElse("side", ""))
  })

  private val terminologyUdf = udf((s: String) => {
    val tokens = Normalizer.normalize(s, Tokenizer.tokenize(s))
    SectionQueriesShared.eventTerminology.findMatches(tokens, s)
      .map(_.attrs("kb_id"))
  })

  private val icdUdf = udf((s: String) => {
    val tokens = Normalizer.normalize(s, Tokenizer.tokenize(s))
    SectionQueriesShared.icdTerminology.findMatches(tokens, s)
      .map(_.attrs("kb_id"))
  })

  /** The reference's most entangled composition (history.py consumes BOTH
    * section spans and date spans): normalize/tokenize -> sentences ->
    * section matcher -> entity matcher -> date extraction -> history
    * decision rule, all row-local in ONE pass, emitting each entity with
    * its covering section label and the resolved history flag.
    */
  private val historyPipeUdf = udf(
    (text: String, noteDt: java.sql.Timestamp) => {
      val tokens = Normalizer.normalize(text, Tokenizer.tokenize(text))
      val sents = Sentencizer.sentences(tokens)
      val (_, sections) = SectionQueriesShared.matcher(text)
      val ents =
        SectionQueriesShared.diseaseTerminology.findMatches(tokens, text)
      History.qualify(text, tokens, sents, ents, sections = sections,
          noteDatetime = Some(noteDt.toLocalDateTime))
        .map { e =>
          val sec = sections.find(s => e.begin < s.end && e.end > s.begin)
            .map(_.label).getOrElse("")
          (sec, e.begin, e.attrs("history").toBoolean)
        }
    })

  /** The full qualifier stack in one row-local pass: normalize/tokenize
    * -> sentences -> phrase matcher (four disorder terms) -> ALL FOUR
    * rule qualifiers in one engine (negation, hypothesis, family,
    * reported speech — the reference's `qualifiers/` package run
    * together, as the OMOP note_nlp export does) — each entity emitted
    * with every flag. The hypothesis/family/reported-speech banks are
    * golden-spec'd in isolation; this is their composed, oracle-checked
    * surface.
    */
  private object QualifierStack {
    import graft.nlp.{Patterns, PhraseMatcher, RuleQualifier}
    val terms: PhraseMatcher = PhraseMatcher.build(Map(
      "asthme" -> Seq("asthme"), "cirrhose" -> Seq("cirrhose"),
      "diabete" -> Seq("diabète"), "migraine" -> Seq("migraine")))
    val qualifier = new RuleQualifier(Seq(Patterns.negation,
      Patterns.hypothesis, Patterns.family, Patterns.reportedSpeech))
  }

  private val qualifierStackUdf = udf((text: String) => {
    val tokens = Normalizer.normalize(text, Tokenizer.tokenize(text))
    val sents = Sentencizer.sentences(tokens)
    val ents = QualifierStack.terms.findMatches(tokens, text)
    val flags = QualifierStack.qualifier.flags(text, tokens, sents, ents)
    ents.iterator.zip(flags.iterator).map { case (e, f) =>
      (e.label, f(0), f(1), f(2), f(3))
    }.toSeq
  })

  private val tnmUdf = udf((s: String) =>
    Tnm.extract(s).headOption.map(e =>
      (e.attrs.getOrElse("tumour", ""), e.attrs.getOrElse("node", ""),
        e.attrs.getOrElse("metastasis", ""))))

  private val scoreUdf = udf((s: String) =>
    Scores.matcher(Scores.glasgow).findMatches(s)
      .headOption.map(_.attrs("value").toDouble))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q24_dates_extract" -> { (s, d) =>
      import s.implicits._
      orders(s, d)
        .filter($"o_orderkey" % 20 === 0)
        .withColumn("note_text",
          concat(lit("Patient vu le "),
            date_format($"o_orderdate", "dd/MM/yyyy"),
            lit(" en consultation.")))
        .select($"o_orderkey",
          extractDateUdf($"note_text").as("extracted_datetime"))
        .orderBy($"o_orderkey")
    },
    "q25_quantities_extract" -> { (s, d) =>
      import s.implicits._
      lineitem(s, d)
        .filter($"l_orderkey" % 50 === 0 && $"l_linenumber" === 1)
        .withColumn("note_text",
          concat(lit("Dose administrée "), $"l_quantity", lit(" mg.")))
        .select($"l_orderkey",
          round(extractDoseUdf($"note_text"), 6).as("dose_g"))
        .orderBy($"l_orderkey")
    },
    "q26_sections_extract" -> { (s, d) =>
      import s.implicits._
      customer(s, d)
        .filter($"c_custkey" % 5 === 0)
        .withColumn("note_text",
          concat(lit("Motif :\n"), $"c_mktsegment",
            lit("\nConclusion :\nRAS.")))
        .select($"c_custkey", explode(sectionsUdf($"note_text")).as("sec"))
        .select($"c_custkey", $"sec._1".as("label"),
          $"sec._2".as("begin"), $"sec._3".as("end"))
        .orderBy($"c_custkey", $"begin")
    },
    "q27_contextual_extract" -> { (s, d) =>
      import s.implicits._
      customer(s, d)
        .withColumn("note_text",
          when($"c_acctbal" < 0, lit("Ancienne fracture du radius."))
            .otherwise(lit("Fracture du radius droite.")))
        .select($"c_custkey", explode(contextualUdf($"note_text")).as("side"))
        .orderBy($"c_custkey")
    },
    "q28_terminology_extract" -> { (s, d) =>
      import s.implicits._
      events(s, d)
        .filter($"event_id" % 20 === 0)
        .withColumn("note_text",
          concat(lit("Evenement de type "), $"event_type", lit(" observe.")))
        .select($"event_id",
          explode(terminologyUdf($"note_text")).as("kb_id"))
        .orderBy($"event_id")
    },
    "q66_icd_terminology" -> { (s, d) =>
      import s.implicits._
      // terminology at DICTIONARY scale: synthesize a diagnosis mention
      // per order (dotted / compact / bare-category form by row), match
      // it against the 27,500-concept IcdLikeCatalog, emit the concept
      // id. Letter-Z codes are outside the catalog, so those rows must
      // vanish — real membership, oracle-recomputed from the source
      // columns. Row-local matching; the only shuffle is the ORDER BY.
      // letter derives from the DENSE custkey: sparse TPC-H orderkeys
      // never hit Z under the %10 filter, which would make the
      // membership case vacuous (verified: 49 Z-rows at sf0.01)
      val base = orders(s, d)
        .filter($"o_orderkey" % 10 === 0)
        .withColumn("letter", expr("char(65 + o_custkey % 26)"))
        .withColumn("num",
          lpad(($"o_custkey" % 100).cast("string"), 2, "0"))
        .withColumn("sub",
          (($"o_orderkey" % 100) / 10).cast("long").cast("string"))
        .withColumn("form", (($"o_orderkey" / 10).cast("long")))
      val mention =
        when($"form" % 3 === 2, concat($"letter", $"num"))
          .when($"form" % 2 === 0,
            concat($"letter", $"num", lit("."), $"sub"))
          .otherwise(concat($"letter", $"num", $"sub"))
      // not spread: the single-task trie match takes ~0.3 s, too
      // little to pay for an exchange (q66 0.55 → 0.53 s, CHANGES.md)
      base
        .withColumn("note_text",
          concat(lit("Diagnostic retenu "), mention, lit(" confirme.")))
        .select($"o_orderkey",
          explode(icdUdf($"note_text")).as("kb_id"))
        .orderBy($"o_orderkey")
    },
    "q29_tnm_extract" -> { (s, d) =>
      import s.implicits._
      part(s, d)
        .withColumn("note_text",
          concat(lit("Carcinome classé pT"), pmod($"p_size", lit(4)),
            lit("N"), pmod($"p_size", lit(3)),
            lit("M"), pmod($"p_size", lit(2)), lit(".")))
        .select($"p_partkey", tnmUdf($"note_text").as("t"))
        .select($"p_partkey", $"t._1".as("tumour"), $"t._2".as("node"),
          $"t._3".as("metastasis"))
        .orderBy($"p_partkey")
    },
    "q41_score_extract" -> { (s, d) =>
      import s.implicits._
      part(s, d)
        .filter($"p_size".between(3, 15))
        .withColumn("note_text",
          concat(lit("Patient confus, Glasgow "), $"p_size",
            lit(" à l'arrivée.")))
        .select($"p_partkey", scoreUdf($"note_text").as("score_value"))
        .orderBy($"p_partkey")
    },
    "q40_ner_metrics" -> { (s, d) =>
      import s.implicits._
      // pred: engine phrase matches for {spark, join}; gold: positions of
      // {spark, merge} computed relationally. Metric agg is validated
      // against DuckDB's independent count arithmetic.
      val docs = documents(s, d)
      val pipe = DocPipeline(terms = Map(
        "spark" -> Seq("spark"), "join" -> Seq("join")))
      // not spread: the annotate measured no win from it (q40
      // 1.22 → 1.28 s, a wash, CHANGES.md)
      val pred = pipe.entsTable(docs, "doc_id", "text")
        .select($"doc_id", $"begin", $"end", $"label")
      // gold offsets from our own split Generator: narrow 1->N with exact
      // char offsets — replaces a posexplode + per-doc window prefix-sum
      // (which shuffled every word row on doc_id)
      val gold = docs
        .select($"doc_id", graft.functions.SplitTextGenerator
          .splitText($"text", lit(" ")))
        .filter($"fragment".isin("spark", "merge"))
        .select($"doc_id", $"begin", $"end", $"fragment".as("label"))
      graft.metrics.NerMetrics.nerExact(pred, gold)
        .orderBy($"label")
    },
    "q46_dep_parsing" -> { (s, d) =>
      import s.implicits._
      // UAS/LAS metric (ref edsnlp/metrics/dep_parsing.py): arcs are
      // derived deterministically from word positions so DuckDB can
      // recompute the scores by count arithmetic. Gold attaches every
      // word to its predecessor ('det' dep for "the", 'prev' otherwise);
      // pred heads every "spark" at idx+1 (never equals the gold head
      // max(idx-1, 0)) and always labels 'prev' — so every "spark" row
      // breaks UAS+LAS and every "the" row breaks LAS only.
      val words = documents(s, d)
        .select($"doc_id", graft.functions.SplitTextGenerator
          .splitText($"text", lit(" ")))
      val gold = words.select($"doc_id".as("sent_id"),
        $"idx".as("token_i"),
        greatest($"idx" - 1, lit(0)).as("head_i"),
        when($"fragment" === "the", "det").otherwise("prev").as("dep"))
      val pred = words.select($"doc_id".as("sent_id"),
        $"idx".as("token_i"),
        when($"fragment" === "spark", $"idx" + 1)
          .otherwise(greatest($"idx" - 1, lit(0))).as("head_i"),
        lit("prev").as("dep"))
      graft.metrics.DepParsing.uasLas(pred, gold)
        .orderBy($"metric")
    },
    "q48_date_periods" -> { (s, d) =>
      import s.implicits._
      // period linking on the declared surface: "du <date> au <date>"
      // produces two bounded dates merged into one period whose
      // from/until datetimes the oracle recomputes from o_orderdate.
      orders(s, d)
        .filter($"o_orderkey" % 25 === 0)
        .withColumn("note_text",
          concat(lit("Hospitalise du "),
            date_format($"o_orderdate", "dd/MM/yyyy"), lit(" au "),
            date_format(date_add($"o_orderdate", 10), "dd/MM/yyyy"),
            lit(".")))
        .select($"o_orderkey",
          extractPeriodUdf($"note_text").as("p"))
        .select($"o_orderkey", $"p._1".as("from_datetime"),
          $"p._2".as("until_datetime"))
        .orderBy($"o_orderkey")
    },
    "q68_sections_dates_history" -> { (s, d) =>
      import s.implicits._
      // Composed extraction end-to-end (the q65 pattern applied to the
      // extraction layer): each order synthesizes a two-section note
      //   "Antecedents :\nasthme releve le D1.\n
      //    Conclusion :\nasthme constate le D2.\nFin."
      // with note_datetime = o_orderdate and D1/D2 900 or 30 days before
      // it by key arithmetic. The history qualifier must combine
      //   - the section span (entity inside ANTECEDENTS),
      //   - the sentence-scoped date age vs the 365-day limit,
      //   - the recent-date VETO (a 30-day-old date suppresses history
      //     even inside an antecedents section, history.py:576)
      // so the flag is right only if sections, dates, and the decision
      // rule all compose. The oracle recomputes label/offset/flag purely
      // from key arithmetic + fixed-width template constants.
      // Scale shape: scan -> row-local UDF -> explode; the only shuffle
      // is the deterministic output ORDER BY. The full-pipe UDF costs
      // ~0.6 ms/doc, so the single-split scan MUST spread across cores
      // before it (q68 5.2 → 2.1 s on 4 cores, CHANGES.md) — identity
      // at real scale where the scan has many splits.
      val notes = orders(s, d)
        .filter($"o_orderkey" % 15 === 0)
        .withColumn("d1", date_format(expr(
          "date_sub(o_orderdate, CASE WHEN o_orderkey % 2 = 0 " +
            "THEN 900 ELSE 30 END)"), "dd/MM/yyyy"))
        .withColumn("d2", date_format(expr(
          "date_sub(o_orderdate, CASE WHEN o_orderkey % 3 = 0 " +
            "THEN 900 ELSE 30 END)"), "dd/MM/yyyy"))
        .withColumn("note_text", concat(
          lit("Antecedents :\nasthme releve le "), $"d1",
          lit(".\nConclusion :\nasthme constate le "), $"d2",
          lit(".\nFin.")))
      graft.core.Spread.cpuFloor(notes)
        .select($"o_orderkey",
          explode(historyPipeUdf($"note_text",
            $"o_orderdate".cast("timestamp"))).as("h"))
        .select($"o_orderkey", $"h._1".as("label"),
          $"h._2".as("start_char"), $"h._3".as("history"))
        .orderBy($"o_orderkey", $"start_char")
    },
    "q72_qualifier_stack" -> { (s, d) =>
      import s.implicits._
      // Composed qualifier end-to-end (the q65/q68 pattern applied to
      // the full qualifier stack): each order synthesizes a four-
      // sentence note where key arithmetic picks, per sentence, a
      // cue-bearing or inert variant for exactly one qualifier:
      //   s1  negation        "Absence d'asthme."    / "Présence d'..."
      //   s2  hypothesis      "Suspicion de diabète."/ "Confirmation..."
      //   s3  family          "Père atteint de cirrhose." / "Patient..."
      //   s4  reported speech "Le patient rapporte une migraine."
      //                       / "Le patient présente une migraine."
      // All four REAL French banks run over every entity, so the green
      // hash needs each bank to fire on its cue AND stay silent on the
      // other seven variants (inertness is part of the oracle: every
      // off-diagonal flag is asserted false), with sentence scoping
      // keeping cues from leaking between the four entities.
      // Scale shape: scan -> row-local UDF -> explode; the only shuffle
      // is the deterministic output ORDER BY.
      val notes = orders(s, d)
        .filter($"o_orderkey" % 14 === 0)
        .withColumn("note_text", concat(
          when($"o_orderkey" % 2 === 0, "Absence d'asthme. ")
            .otherwise("Présence d'asthme. "),
          when($"o_orderkey" % 3 === 0, "Suspicion de diabète. ")
            .otherwise("Confirmation de diabète. "),
          when($"o_orderkey" % 5 === 0, "Père atteint de cirrhose. ")
            .otherwise("Patient atteint de cirrhose. "),
          when($"o_orderkey" % 7 === 0,
            "Le patient rapporte une migraine.")
            .otherwise("Le patient présente une migraine.")))
      // spread the single-split scan before the qualifier stack
      // (q72 1.15 → 0.55 s, CHANGES.md)
      graft.core.Spread.cpuFloor(notes)
        .select($"o_orderkey",
          explode(qualifierStackUdf($"note_text")).as("q"))
        .select($"o_orderkey", $"q._1".as("label"),
          $"q._2".as("negation"), $"q._3".as("hypothesis"),
          $"q._4".as("family"), $"q._5".as("reported_speech"))
        .orderBy($"o_orderkey", $"label")
    },
    "q49_table_quantities" -> { (s, d) =>
      import s.implicits._
      // value-from-table context on the declared surface: the dose cell
      // is a bare number whose unit comes from the "(mg)" column
      // header; the oracle recomputes the normalized grams directly.
      lineitem(s, d)
        .filter($"l_orderkey" % 40 === 0 && $"l_linenumber" === 1)
        .withColumn("note_text",
          concat(lit("Parametre | Dose (mg)\nperfusion | "),
            $"l_quantity", lit("\n")))
        .select($"l_orderkey",
          round(tableDoseUdf($"note_text"), 6).as("dose_g"))
        .orderBy($"l_orderkey")
    }
  )

  val oracleSql: Map[String, String] = Map(
    "q24_dates_extract" ->
      """SELECT o_orderkey,
         strftime(o_orderdate, '%Y-%m-%dT00:00:00') AS extracted_datetime
         FROM orders WHERE o_orderkey % 20 = 0 ORDER BY o_orderkey""",
    "q25_quantities_extract" ->
      """SELECT l_orderkey, round(l_quantity * 0.001, 6) AS dose_g
         FROM lineitem WHERE l_orderkey % 50 = 0 AND l_linenumber = 1
         ORDER BY l_orderkey""",
    "q26_sections_extract" ->
      """WITH t AS (SELECT c_custkey, length(c_mktsegment) AS L
           FROM customer WHERE c_custkey % 5 = 0)
         SELECT c_custkey, 'motif' AS label, 0 AS begin, 9 + L AS "end"
           FROM t
         UNION ALL
         SELECT c_custkey, 'conclusion' AS label, 9 + L AS begin,
           9 + L + 17 AS "end" FROM t
         ORDER BY c_custkey, begin""",
    "q27_contextual_extract" ->
      """SELECT c_custkey, 'droite' AS side FROM customer
         WHERE c_acctbal >= 0 ORDER BY c_custkey""",
    "q28_terminology_extract" ->
      """SELECT event_id,
         CASE event_type
           WHEN 'click' THEN 'EV001' WHEN 'view' THEN 'EV002'
           WHEN 'purchase' THEN 'EV003' WHEN 'signup' THEN 'EV004'
           WHEN 'error' THEN 'EV005' END AS kb_id
         FROM events WHERE event_id % 20 = 0 ORDER BY event_id""",
    "q66_icd_terminology" ->
      """WITH t AS (
           SELECT o_orderkey,
             chr(CAST(65 + o_custkey % 26 AS INTEGER)) AS letter,
             lpad(CAST(o_custkey % 100 AS VARCHAR), 2, '0') AS num,
             CAST((o_orderkey % 100) // 10 AS VARCHAR) AS sub,
             (o_orderkey // 10) % 3 AS m3
           FROM orders WHERE o_orderkey % 10 = 0)
         SELECT o_orderkey,
           CASE WHEN m3 = 2 THEN letter || num
                ELSE letter || num || '.' || sub END AS kb_id
         FROM t WHERE letter <> 'Z'
         ORDER BY o_orderkey""",
    "q68_sections_dates_history" ->
      """SELECT o_orderkey, 'antecedents' AS label,
           CAST(14 AS INTEGER) AS start_char,
           (o_orderkey % 2 = 0) AS history
         FROM orders WHERE o_orderkey % 15 = 0
         UNION ALL
         SELECT o_orderkey, 'conclusion' AS label,
           CAST(56 AS INTEGER) AS start_char,
           (o_orderkey % 3 = 0) AS history
         FROM orders WHERE o_orderkey % 15 = 0
         ORDER BY o_orderkey, start_char""",
    "q72_qualifier_stack" ->
      """WITH k AS (
           SELECT o_orderkey FROM orders WHERE o_orderkey % 14 = 0)
         SELECT o_orderkey, 'asthme' AS label,
           (o_orderkey % 2 = 0) AS negation, FALSE AS hypothesis,
           FALSE AS family, FALSE AS reported_speech FROM k
         UNION ALL
         SELECT o_orderkey, 'cirrhose', FALSE, FALSE,
           (o_orderkey % 5 = 0), FALSE FROM k
         UNION ALL
         SELECT o_orderkey, 'diabete', FALSE,
           (o_orderkey % 3 = 0), FALSE, FALSE FROM k
         UNION ALL
         SELECT o_orderkey, 'migraine', FALSE, FALSE, FALSE,
           (o_orderkey % 7 = 0) FROM k
         ORDER BY o_orderkey, label""",
    "q29_tnm_extract" ->
      """SELECT p_partkey,
         CAST(p_size % 4 AS VARCHAR) AS tumour,
         CAST(p_size % 3 AS VARCHAR) AS node,
         CAST(p_size % 2 AS VARCHAR) AS metastasis
         FROM part ORDER BY p_partkey""",
    "q41_score_extract" ->
      """SELECT p_partkey, CAST(p_size AS DOUBLE) AS score_value
         FROM part WHERE p_size BETWEEN 3 AND 15 ORDER BY p_partkey""",
    "q40_ner_metrics" ->
      """WITH words AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS w
           FROM documents),
         counts AS (
           SELECT
             sum(CASE WHEN w = 'spark' THEN 1 ELSE 0 END) AS n_spark,
             sum(CASE WHEN w = 'join' THEN 1 ELSE 0 END) AS n_join,
             sum(CASE WHEN w = 'merge' THEN 1 ELSE 0 END) AS n_merge
           FROM words)
         SELECT label, precision, recall, f1, tp,
           CAST(n_pred AS BIGINT) AS n_pred,
           CAST(n_gold AS BIGINT) AS n_gold
         FROM (
           SELECT 'join' AS label, 0.0 AS precision, 0.0 AS recall,
             0.0 AS f1, 0.0 AS tp, n_join AS n_pred, 0 AS n_gold FROM counts
           UNION ALL
           SELECT 'merge', 0.0, 0.0, 0.0, 0.0, 0, n_merge FROM counts
           UNION ALL
           SELECT 'micro',
             round(n_spark / (n_spark + n_join), 4),
             round(n_spark / (n_spark + n_merge), 4),
             round(2.0 * (n_spark / (n_spark + n_join)) *
               (n_spark / (n_spark + n_merge)) /
               ((n_spark / (n_spark + n_join)) +
                (n_spark / (n_spark + n_merge))), 4),
             CAST(n_spark AS DOUBLE), n_spark + n_join, n_spark + n_merge
           FROM counts
           UNION ALL
           SELECT 'spark', 1.0, 1.0, 1.0, CAST(n_spark AS DOUBLE),
             n_spark, n_spark FROM counts)
         ORDER BY label""",
    "q46_dep_parsing" ->
      """WITH words AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS w
           FROM documents),
         c AS (
           SELECT count(*) AS n,
             sum(CASE WHEN w = 'spark' THEN 1 ELSE 0 END) AS bad_head,
             sum(CASE WHEN w = 'the' THEN 1 ELSE 0 END) AS bad_dep
           FROM words)
         SELECT 'las' AS metric,
           round((n - bad_head - bad_dep) / n, 4) AS f,
           CAST(n - bad_head - bad_dep AS BIGINT) AS tp,
           CAST(n AS BIGINT) AS n_pred, CAST(n AS BIGINT) AS n_gold
         FROM c
         UNION ALL
         SELECT 'uas', round((n - bad_head) / n, 4),
           CAST(n - bad_head AS BIGINT), CAST(n AS BIGINT),
           CAST(n AS BIGINT)
         FROM c
         ORDER BY metric""",
    "q48_date_periods" ->
      """SELECT o_orderkey,
         strftime(o_orderdate, '%Y-%m-%dT00:00:00') AS from_datetime,
         strftime(o_orderdate + INTERVAL 10 DAY, '%Y-%m-%dT00:00:00')
           AS until_datetime
         FROM orders WHERE o_orderkey % 25 = 0 ORDER BY o_orderkey""",
    "q49_table_quantities" ->
      """SELECT l_orderkey, round(l_quantity * 0.001, 6) AS dose_g
         FROM lineitem WHERE l_orderkey % 40 = 0 AND l_linenumber = 1
         ORDER BY l_orderkey"""
  )
}

/** Shared matcher instances for the extraction queries (built once on the
  * driver, shipped in UDF closures).
  */
private object SectionQueriesShared extends Serializable {
  val matcher: Sections.Matcher = Sections.matcher()
  val fractureMatcher: ContextualMatcher.Matcher = ContextualMatcher.matcher(
    ContextualMatcher.Config(
      label = "fracture",
      terms = Seq("fracture"),
      exclude = Seq(ContextualMatcher.SideRule(Seq("ancienne"),
        windowBefore = 20)),
      assign = Seq(ContextualMatcher.AssignRule(
        name = "side", regex = "(droite|gauche)", windowAfter = 20))))
  val eventTerminology: Terminology.Matcher = Terminology.matcher("event",
    Map("EV001" -> Seq("click"), "EV002" -> Seq("view"),
      "EV003" -> Seq("purchase"), "EV004" -> Seq("signup"),
      "EV005" -> Seq("error")))
  // 27,500-concept trie built once on the driver, shipped per stage in
  // the UDF closure (broadcast-equivalent; see PhraseMatcher scaladoc)
  val icdTerminology: Terminology.Matcher =
    Terminology.matcher("icd10", IcdLikeCatalog.concepts)
  val diseaseTerminology: Terminology.Matcher =
    Terminology.matcher("maladie", Map("ASTHME" -> Seq("asthme")))
}
