package graft.pipes

import java.time.{Duration, LocalDateTime}
import java.util.regex.Pattern
import scala.collection.mutable.ArrayBuffer

import graft.nlp.Ent

/** French clinical date/duration extraction with normalization — the
  * re-expression of `/root/reference/edsnlp/pipes/misc/dates/dates.py:
  * 28-503` and its pattern bank (`dates/patterns/`): absolute dates
  * (numeric and letter months, optional time, partial forms dd/mm,
  * mm/yyyy and bare full years), relative dates (forward "il y a trois
  * jours" / "dans un mois", backward "la semaine dernière" / "3 jours
  * plus tard", current "ce jour" / "cette année"), bare durations
  * ("pendant trois semaines", "pdt 1 mois"), bound/mode prefixes
  * (`patterns/atomic/modes.py`: "du"/"depuis"/"à partir de" → from,
  * "au"/"jusqu'au" → until) and period linking of adjacent
  * opposite-bound mentions (`dates.py:423-503`).
  *
  * Output entities carry typed attrs: `kind` (absolute|relative|duration),
  * calendar fields for absolute dates, `direction`/`value`/`unit` for
  * relative+duration, `bound` when a mode prefix precedes, and — when a
  * reference instant is supplied (the `note_datetime` resolution of
  * `dates/models.py:283-380`) — a resolved ISO `datetime`.
  *
  * Default-mode divergence, flag-gated: bare letter months ("RAS en
  * mai") are NOT matched by default — requiring a day or year is the
  * higher-precision call for a batch engine (pinned by
  * ExtractionPipesSpec). `faithful = true` restores the reference
  * grammar exactly: `no_day_no_year_pattern` accepts the bare month
  * (absolute-pattern bank, `patterns/absolute.py:85-88`). The
  * `false_positive.py` suppression (pagination `\d/\d`, phone-number
  * runs) applies in BOTH modes — longest-first span filtering lets the
  * false-positive span swallow any date match inside it
  * (`dates.py:350-352`), which only ever raises precision.
  */
object Dates {

  private val monthMap: Map[String, Int] = Map(
    "janvier" -> 1, "janv" -> 1, "jan" -> 1,
    "fevrier" -> 2, "février" -> 2, "fev" -> 2, "fév" -> 2,
    "mars" -> 3, "avril" -> 4, "avr" -> 4, "mai" -> 5,
    "juin" -> 6, "juillet" -> 7, "juil" -> 7,
    "aout" -> 8, "août" -> 8,
    "septembre" -> 9, "sept" -> 9, "sep" -> 9,
    "octobre" -> 10, "oct" -> 10,
    "novembre" -> 11, "nov" -> 11,
    "decembre" -> 12, "décembre" -> 12, "dec" -> 12, "déc" -> 12)

  private val numberMap: Map[String, Int] = Map(
    "un" -> 1, "une" -> 1, "deux" -> 2, "trois" -> 3, "quatre" -> 4,
    "cinq" -> 5, "six" -> 6, "sept" -> 7, "huit" -> 8, "neuf" -> 9,
    "dix" -> 10, "onze" -> 11, "douze" -> 12, "quinze" -> 15,
    "vingt" -> 20, "trente" -> 30, "quarante" -> 40, "cinquante" -> 50)

  private[pipes] val unitSeconds: Map[String, Long] = Map(
    "seconde" -> 1L, "minute" -> 60L, "heure" -> 3600L, "jour" -> 86400L,
    "semaine" -> 604800L, "mois" -> 2592000L, "an" -> 31536000L,
    "annee" -> 31536000L,
    // patterns/atomic/units.py additions
    "journee" -> 86400L, "trimestre" -> 7776000L, "semestre" -> 15552000L)

  private val monthAlt = monthMap.keys.toSeq.sortBy(-_.length).mkString("|")
  private val numAlt = numberMap.keys.toSeq.sortBy(-_.length).mkString("|")
  private val unitAlt =
    "secondes?|sec|minutes?|min|heures?|h|journ[ée]es?|jours?|semaines?|" +
      "semestres?|trimestres?|mois|ans?|ann[ée]es?"

  // numeric absolute: dd/mm/yyyy, dd-mm-yy, yyyy-mm-dd, with optional time
  private val numericAbs = Pattern.compile(
    "(?<![/\\d-])(?:(?<d>0?[1-9]|[12]\\d|3[01])[/.\\-\\s](?<m>0?[1-9]|1[0-2])[/.\\-\\s](?<y>\\d{4}|\\d{2})" +
      "|(?<y2>\\d{4})-(?<m2>0?[1-9]|1[0-2])-(?<d2>0?[1-9]|[12]\\d|3[01]))" +
      "(?:\\s+[àa]?\\s*(?<h>[01]?\\d|2[0-3])[h:](?<min>[0-5]\\d)?)?(?![/\\d-])",
    Pattern.CASE_INSENSITIVE)

  // letter-month absolute: "3 janvier 2021", "1er mars", "mars 2020",
  // optional time tail "4 août à 11h13" (patterns/atomic/time.py).
  // Word-boundary lookaheads keep month/unit alternations from matching
  // inside ordinary words ("mai" in "maisons", "an" in "analyses").
  private val letterAbs = Pattern.compile(
    s"(?<![\\d/\\p{L}])(?:(?<d>0?[1-9]|[12]\\d|3[01])(?:er)?\\s+)?(?<mon>$monthAlt)(?![\\p{L}])(?:\\s+(?<y>\\d{4}))?" +
      "(?:\\s+[àa]\\s*(?<h>[01]?\\d|2[0-3])[h:](?<min>[0-5]\\d)?)?(?![\\d/])",
    Pattern.CASE_INSENSITIVE)

  // partial numeric absolute without a year: "le 09/08", "Le 07/01."
  // Delimiters are the reference's RAW delimiters only ('/' and '-',
  // delimiters.py) — '.' would turn every decimal like "23.7" into a
  // day/month date. Pagination "1/3" is a reference false positive
  // (false_positive.py: \d/\d) — excluded in the handler. The trailing
  // guard rejects '.' only when a DIGIT follows (decimal guard): a
  // sentence-final "Le 07/01." is a date (test_dates.py:66), "5.2" not.
  private val dayMonth = Pattern.compile(
    "(?<![\\d/.\\-])(?<d>0?[1-9]|[12]\\d|3[01])[/\\-](?<m>0?[1-9]|1[0-2])(?![\\d/\\-]|\\.\\d)")

  // month/year without a day: "11/2017" (lz numeric month + full year)
  private val monthYear = Pattern.compile(
    "(?<![\\d/.\\-])(?<m>0[1-9]|1[0-2])/(?<y>19\\d\\d|20[0-4]\\d)(?![\\d/\\-]|\\.\\d)")

  // bare full year: "en 2019" (reference full_year_pattern: 19xx/20xx)
  private val bareYear = Pattern.compile(
    "(?<![\\d/.\\-])(?<y>19\\d\\d|20[0-4]\\d)(?![\\d/\\-]|\\.\\d)")

  // relative: "il y a N unit", "depuis N unit", "dans N unit"
  private val relative = Pattern.compile(
    s"(?<trig>il\\s+y\\s+a|depuis|dans)\\s+(?<n>\\d+|$numAlt)\\s+(?<u>$unitAlt)(?![\\p{L}])",
    Pattern.CASE_INSENSITIVE)

  // backward relative (patterns/atomic/directions.py following forms):
  // "depuis la semaine dernière", "3 jours plus tard", "les 2 mois
  // précédents". A following direction word is REQUIRED; trigger,
  // article and number are optional (missing number = 1).
  private val relBackward = Pattern.compile(
    s"(?:(?<trig>depuis|il\\s+y\\s+a|dans)\\s+)?(?:l[ae]s?\\s+|l')?(?:(?<n>\\d+|$numAlt)\\s+)?" +
      s"(?<u>$unitAlt)\\s+(?<dir>prochaine?s?|suivante?s?|plus\\s+tard|" +
      "derni[èe]re?s?|pass[ée]e?s?|pr[ée]c[ée]dente?s?|plus\\s+t[ôo]t)(?![\\p{L}])",
    Pattern.CASE_INSENSITIVE)

  // current-period deictics (patterns/current.py): value-0 relatives
  private val currentRel = Pattern.compile(
    "(?i)(?<![\\p{L}])(?:(?<y0>cette\\s+ann[ée]e(?![\\s-]l[àa]))|" +
      "(?<d0>ce\\s+jour)|(?<w0>cette\\s+semaine|ces\\s+jours[-\\s]ci)|" +
      "(?<m0>ce\\s+mois(?:[-\\s]ci)?))(?![\\p{L}])")

  // day-relative specials: aujourd'hui / hier / demain / avant-hier /
  // après-demain (dates/patterns/relative.py "specific" bank)
  private val daySpecial = Pattern.compile(
    "(?i)\\b(?<w>aujourd['’]hui|avant[- ]hier|hier|apr[èe]s[- ]demain|demain)\\b")
  private val daySpecialOffsets: Map[String, Int] = Map(
    "aujourd'hui" -> 0, "hier" -> -1, "avant-hier" -> -2,
    "avant hier" -> -2, "demain" -> 1, "apres-demain" -> 2,
    "apres demain" -> 2)

  // duration: "pendant N unit", "durant N unit", "pour N unit", and the
  // clinical abbreviation "pdt" (patterns/duration.py cue_pattern)
  private val duration = Pattern.compile(
    s"(?<trig>pendant|durant|pour|pdt)\\s+(?<n>\\d+|$numAlt)\\s+(?<u>$unitAlt)(?![\\p{L}])",
    Pattern.CASE_INSENSITIVE)

  private def parseNum(s: String): Int =
    numberMap.getOrElse(s.toLowerCase, s.toIntOption.getOrElse(0))

  /** Pagination false positive "1/3": single digit / single digit. */
  private val pagination = Pattern.compile("\\d/\\d")

  private def canonUnit(u: String): String = {
    val base = graft.nlp.Normalizer.mapChars(u.toLowerCase)
    if (base == "mois") "mois"
    else if (base.startsWith("anne")) "annee"
    else base.stripSuffix("s") match {
      case "sec" => "seconde"
      case "min" => "minute"
      case "h" => "heure"
      case other => other
    }
  }

  // mode/bound prefix (patterns/atomic/modes.py): matched over a short
  // window ENDING at the date's start, like the reference's
  // `(?<=mode_pattern.{,3})?` lookbehind.
  private val boundPrefix = Pattern.compile(
    "(?i)(?<![\\p{L}'])(?<m>depuis\\s+le|depuis|[àa]\\s+partir\\s+d[eu]|du|jusqu'[àa]u?|au)\\s{1,3}$")

  private def boundBefore(text: String, start: Int): Option[String] = {
    val from = math.max(0, start - 18)
    val m = boundPrefix.matcher(text.substring(from, start))
    if (!m.find()) None
    else {
      val cue = m.group("m").toLowerCase
      if (cue.startsWith("jusqu") || cue == "au") Some("until")
      else Some("from")
    }
  }

  // false_positive.py: pagination "1/3" plus phone-number runs — four
  // or more two-digit groups joined by ONE consistent delimiter
  // (`(\d\d<delim>){3,}\d\d` per delimiter, delimiters.py). The
  // whitespace delimiter is `\s+` like the reference's `[^\S]+`, so a
  // phone number wrapped across a line break is still suppressed.
  private val falsePositive = Pattern.compile(
    "\\d/\\d|(?:\\d\\d/){3,}\\d\\d|(?:\\d\\d[-−]){3,}\\d\\d|" +
      "(?:\\d\\d\\.){3,}\\d\\d|(?:\\d\\d\\s+){3,}\\d\\d")

  /** Extract all date/duration mentions from raw text. `noteDatetime`
    * resolves relative dates when present. `faithful = true` switches to
    * the exact reference grammar (bare letter months accepted — see the
    * class doc).
    */
  def extract(
      text: String,
      noteDatetime: Option[LocalDateTime] = None,
      faithful: Boolean = false): Seq[Ent] = {
    if (text == null) return Nil
    val out = new ArrayBuffer[Ent]

    val nm = numericAbs.matcher(text)
    while (nm.find()) {
      val (d, m, y) =
        if (nm.group("d") != null)
          (nm.group("d").toInt, nm.group("m").toInt, nm.group("y"))
        else (nm.group("d2").toInt, nm.group("m2").toInt, nm.group("y2"))
      val year = y.toInt match {
        case v if v < 100 => if (v > 30) 1900 + v else 2000 + v
        case v => v
      }
      var attrs = Map("kind" -> "absolute", "year" -> year.toString,
        "month" -> m.toString, "day" -> d.toString)
      if (nm.group("h") != null) {
        attrs += ("hour" -> nm.group("h").toInt.toString)
        attrs += ("minute" ->
          Option(nm.group("min")).map(_.toInt).getOrElse(0).toString)
      }
      attrs += ("datetime" -> "%04d-%02d-%02dT%02d:%02d:00".format(
        year, m, d,
        Option(nm.group("h")).map(_.toInt).getOrElse(0),
        Option(nm.group("min")).map(_.toInt).getOrElse(0)))
      boundBefore(text, nm.start).foreach(b => attrs += ("bound" -> b))
      out += Ent(nm.start, nm.end, "date", text.substring(nm.start, nm.end),
        attrs)
    }

    val dmm = dayMonth.matcher(text)
    while (dmm.find()) {
      val matched = text.substring(dmm.start, dmm.end)
      // pagination false positive "1/3" (single digit / single digit)
      if (!pagination.matcher(matched).matches()) {
        var attrs = Map("kind" -> "absolute",
          "day" -> dmm.group("d").toInt.toString,
          "month" -> dmm.group("m").toInt.toString)
        boundBefore(text, dmm.start).foreach(b => attrs += ("bound" -> b))
        out += Ent(dmm.start, dmm.end, "date", matched, attrs)
      }
    }

    val mym = monthYear.matcher(text)
    while (mym.find()) {
      var attrs = Map("kind" -> "absolute",
        "month" -> mym.group("m").toInt.toString,
        "year" -> mym.group("y"))
      boundBefore(text, mym.start).foreach(b => attrs += ("bound" -> b))
      out += Ent(mym.start, mym.end, "date",
        text.substring(mym.start, mym.end), attrs)
    }

    val bym = bareYear.matcher(text)
    while (bym.find()) {
      var attrs = Map("kind" -> "absolute", "year" -> bym.group("y"))
      boundBefore(text, bym.start).foreach(b => attrs += ("bound" -> b))
      out += Ent(bym.start, bym.end, "date",
        text.substring(bym.start, bym.end), attrs)
    }

    val lm = letterAbs.matcher(text)
    while (lm.find()) {
      // default: require day or year to avoid bare-month noise;
      // faithful: the reference's no_day_no_year_pattern accepts any
      // bare month (longer spans still win in filterSpans, so "sept"
      // inside "il y a sept jours" loses to the relative)
      if (faithful || lm.group("d") != null || lm.group("y") != null) {
        val month = monthMap(graft.nlp.Normalizer
          .mapChars(lm.group("mon").toLowerCase))
        var attrs = Map("kind" -> "absolute", "month" -> month.toString)
        Option(lm.group("d")).foreach(d => attrs += ("day" -> d.toInt.toString))
        Option(lm.group("y")).foreach(y => attrs += ("year" -> y))
        if (lm.group("h") != null) {
          attrs += ("hour" -> lm.group("h").toInt.toString)
          attrs += ("minute" ->
            Option(lm.group("min")).map(_.toInt).getOrElse(0).toString)
        }
        if (lm.group("y") != null && lm.group("d") != null)
          attrs += ("datetime" -> "%04d-%02d-%02dT%02d:%02d:00".format(
            lm.group("y").toInt, month, lm.group("d").toInt,
            Option(lm.group("h")).map(_.toInt).getOrElse(0),
            Option(lm.group("min")).map(_.toInt).getOrElse(0)))
        boundBefore(text, lm.start).foreach(b => attrs += ("bound" -> b))
        out += Ent(lm.start, lm.end, "date",
          text.substring(lm.start, lm.end), attrs)
      }
    }

    val rm = relative.matcher(text)
    while (rm.find()) {
      val n = parseNum(rm.group("n"))
      val unit = canonUnit(rm.group("u"))
      val trig = rm.group("trig").toLowerCase.replaceAll("\\s+", " ")
      val dir = if (trig == "dans") "future" else "past"
      var attrs = Map("kind" -> "relative", "direction" -> dir,
        "value" -> n.toString, "unit" -> unit)
      noteDatetime.foreach { ref =>
        val secs = unitSeconds.getOrElse(unit, 0L) * n
        val resolved =
          if (dir == "past") ref.minus(Duration.ofSeconds(secs))
          else ref.plus(Duration.ofSeconds(secs))
        attrs += ("datetime" -> resolved.format(
          java.time.format.DateTimeFormatter
            .ofPattern("yyyy-MM-dd'T'HH:mm:ss")))
      }
      out += Ent(rm.start, rm.end, "date", text.substring(rm.start, rm.end),
        attrs)
    }

    val bm = relBackward.matcher(text)
    while (bm.find()) {
      val n = Option(bm.group("n")).map(parseNum).getOrElse(1)
      val unit = canonUnit(bm.group("u"))
      val dirWord = graft.nlp.Normalizer
        .mapChars(bm.group("dir").toLowerCase).replaceAll("\\s+", " ")
      val dir =
        if (dirWord.startsWith("prochain") || dirWord.startsWith("suivant")
          || dirWord == "plus tard") "future"
        else "past"
      var attrs = Map("kind" -> "relative", "direction" -> dir,
        "value" -> n.toString, "unit" -> unit)
      noteDatetime.foreach { ref =>
        val secs = unitSeconds.getOrElse(unit, 0L) * n
        val resolved =
          if (dir == "past") ref.minus(Duration.ofSeconds(secs))
          else ref.plus(Duration.ofSeconds(secs))
        attrs += ("datetime" -> resolved.format(
          java.time.format.DateTimeFormatter
            .ofPattern("yyyy-MM-dd'T'HH:mm:ss")))
      }
      out += Ent(bm.start, bm.end, "date", text.substring(bm.start, bm.end),
        attrs)
    }

    val cm = currentRel.matcher(text)
    while (cm.find()) {
      val unit =
        if (cm.group("y0") != null) "annee"
        else if (cm.group("d0") != null) "jour"
        else if (cm.group("w0") != null) "semaine"
        else "mois"
      var attrs = Map("kind" -> "relative", "direction" -> "current",
        "value" -> "0", "unit" -> unit)
      noteDatetime.foreach { ref =>
        attrs += ("datetime" -> ref.format(
          java.time.format.DateTimeFormatter
            .ofPattern("yyyy-MM-dd'T'HH:mm:ss")))
      }
      out += Ent(cm.start, cm.end, "date", text.substring(cm.start, cm.end),
        attrs)
    }

    val sm = daySpecial.matcher(text)
    while (sm.find()) {
      val word = graft.nlp.Normalizer.mapChars(sm.group("w").toLowerCase)
      val offset = daySpecialOffsets(word)
      var attrs = Map("kind" -> "relative",
        "direction" -> (if (offset < 0) "past" else "future"),
        "value" -> math.abs(offset).toString, "unit" -> "jour")
      noteDatetime.foreach { ref =>
        attrs += ("datetime" -> ref.plusDays(offset).format(
          java.time.format.DateTimeFormatter
            .ofPattern("yyyy-MM-dd'T'HH:mm:ss")))
      }
      out += Ent(sm.start, sm.end, "date", text.substring(sm.start, sm.end),
        attrs)
    }

    val dm = duration.matcher(text)
    while (dm.find()) {
      val n = parseNum(dm.group("n"))
      val unit = canonUnit(dm.group("u"))
      out += Ent(dm.start, dm.end, "duration",
        text.substring(dm.start, dm.end),
        Map("kind" -> "duration", "value" -> n.toString, "unit" -> unit,
          "duration_seconds" ->
            (unitSeconds.getOrElse(unit, 0L) * n).toString))
    }

    // the reference registers false_positive spans alongside the date
    // patterns, filter_spans picks longest-first, then false_positive
    // survivors are discarded — a covering phone-number span therefore
    // kills the date matches inside it (dates.py:350-352)
    val fp = falsePositive.matcher(text)
    while (fp.find())
      out += Ent(fp.start, fp.end, "false_positive",
        text.substring(fp.start, fp.end), Map.empty)
    graft.nlp.SpanAlgebra.filterSpans(out.toSeq)
      .filterNot(_.label == "false_positive")
  }

  /** Period detection (`dates.py:423-503` `process_periods`): adjacent
    * date mentions either carrying OPPOSITE bounds ("du 5 juin au 6
    * juillet") or pairing a date with a duration ("depuis le 12/03
    * pendant trois semaines") merge into a `period` entity spanning both.
    * Periods are returned SEPARATELY (the reference keeps them in their
    * own span group): they contain their member dates, so mixing them
    * into the date list would have longest-leftmost filtering swallow
    * the members.
    *
    * `proximity` is a char-gap threshold (the reference uses 3 tokens).
    */
  def periods(text: String, dates: Seq[Ent],
      proximity: Int = 15): Seq[Ent] = {
    if (dates.size < 2) return Nil
    val sorted = dates.sortBy(_.begin)
    val seen = scala.collection.mutable.Set[Int]()
    val out = new ArrayBuffer[Ent]
    sorted.sliding(2).foreach { pair =>
      val d1 = pair.head
      val d2 = pair.last
      val isDur1 = d1.attrs.get("kind").contains("duration")
      val isDur2 = d2.attrs.get("kind").contains("duration")
      val b1 = d1.attrs.get("bound")
      val b2 = d2.attrs.get("bound")
      val eligible =
        if (isDur1 || isDur2) !(isDur1 && isDur2)
        else !seen.contains(d1.begin) && b1.isDefined && b2.isDefined &&
          b1 != b2
      if (eligible && d2.begin - d1.end >= 0 &&
          d2.begin - d1.end <= proximity) {
        // role inference as in the reference: a date keeps its bound; a
        // duration takes the opposite role of its partner (default
        // from/until by position)
        val r1 = b1.getOrElse(
          if (isDur1) (if (b2.contains("from")) "until" else "from")
          else "from")
        val r2 = b2.getOrElse(
          if (isDur2) (if (r1 == "from") "until" else "from")
          else "until")
        var attrs = Map("kind" -> "period")
        def sideAttrs(role: String, d: Ent, isDur: Boolean): Unit = {
          if (isDur)
            d.attrs.get("duration_seconds")
              .foreach(v => attrs += ("duration_seconds" -> v))
          else {
            d.attrs.get("datetime")
              .foreach(v => attrs += (s"${role}_datetime" -> v))
            attrs += (s"${role}_text" -> d.text)
          }
        }
        sideAttrs(r1, d1, isDur1)
        sideAttrs(r2, d2, isDur2)
        seen += d1.begin
        seen += d2.begin
        out += Ent(d1.begin, d2.end, "period",
          text.substring(d1.begin, d2.end), attrs)
      }
      ()
    }
    out.toSeq
  }

  /** One-call convenience: dates/durations plus the periods they form. */
  def extractWithPeriods(
      text: String,
      noteDatetime: Option[LocalDateTime] = None,
      faithful: Boolean = false): (Seq[Ent], Seq[Ent]) = {
    val ds = extract(text, noteDatetime, faithful)
    (ds, periods(text, ds))
  }
}
