package graft.pipes

import graft.nlp.{Ent, Sent, Token}

/** Hospitalisation-reason extraction (`eds.reason`,
  * `/root/reference/edsnlp/pipes/misc/reason/reason.py:13-208`): reason
  * trigger regexes, optionally restricted to the `motif` section —
  * relationally a regex match semi-joined against section spans.
  */
object Reason {
  // the reference regex bank verbatim (reason/patterns.py:1-16);
  // accent-tolerant classes make raw-text matching equivalent to NORM
  // for this bank, and raw matching keeps `.+` line-bounded (the clean
  // text would fold newlines into spaces)
  private[graft] val patterns: Seq[String] = Seq(
    """(?i)motif de l.?hospitalisation : .+""",
    """(?i)hospitalis[ée].?.*(pour|. cause|suite [àa]).+""",
    """(?i)(consulte|prise en charge""" +
      """(?!\set\svous\sassurer\sun\straitement\sadapt[ée])).*pour.+""",
    """(?i)motif\sd.hospitalisation\s:.+""",
    """(?i)au total\s?\:?\s?\n?.+""",
    """(?i)motif\sde\sla\sconsultation""",
    """(?i)motif\sd.admission""",
    """(?i)conclusion\smedicale""")
  private val matcher = graft.nlp.RegexMatcher.build(Map("reasons" -> patterns))

  /** Section labels that COUNT as reasons / that VETO regex reasons
    * inside them (reason/patterns.py:18-24).
    */
  val sectionsReason: Set[String] = Set("motif", "conclusion")
  val sectionExclude: Set[String] = Set("antecedents",
    "antecedents_familiaux")

  /** Full reference semantics (reason.py:148-208): regex reason spans,
    * optionally enhanced with sections (motif/conclusion sections become
    * reasons; regex reasons inside excluded sections are vetoed), plus
    * per-entity `is_reason` (entity fully inside any reason span).
    * Returns (reasons, entities annotated with is_reason).
    */
  def qualify(
      text: String,
      tokens: Array[Token],
      sections: Seq[Ent] = Nil,
      ents: Seq[Ent] = Nil,
      useSections: Boolean = false): (Seq[Ent], Seq[Ent]) = {
    var reasons = matcher.findMatches(tokens, text)
    if (useSections) {
      reasons = reasons ++ sections
        .filter(s => sectionsReason.contains(s.label))
        .map(s => Ent(s.begin, s.end, "reasons",
          text.substring(s.begin, math.min(s.end, text.length)), s.attrs))
      reasons = reasons.filterNot(r => sections.exists(s =>
        sectionExclude.contains(s.label) &&
          r.begin >= s.begin && r.end <= s.end))
    }
    val annotated = ents.map { e =>
      val isReason =
        reasons.exists(r => e.begin >= r.begin && e.end <= r.end)
      e.copy(attrs = e.attrs + ("is_reason" -> isReason.toString))
    }
    (reasons, annotated)
  }

  /** Reason spans only, with the motif-section membership attr (the
    * relational surface used by the demo and earlier specs).
    */
  def extract(
      text: String,
      tokens: Array[Token],
      sections: Seq[Ent] = Nil): Seq[Ent] = {
    val hits = qualify(text, tokens, sections)._1
    val motif = sections.filter(_.label == "motif")
    if (motif.isEmpty) hits
    else hits.map { h =>
      val inMotif = motif.exists(s => h.begin < s.end && h.end > s.begin)
      h.copy(attrs = h.attrs + ("in_motif_section" -> inMotif.toString))
    }
  }
}

/** Consultation/report date extraction (`eds.consultation_dates`,
  * `/root/reference/edsnlp/pipes/misc/consultation_dates/
  * consultation_dates.py:14-218`): date mentions (from the dates pipe)
  * semi-joined with consultation trigger terms in a preceding window.
  */
object ConsultationDates {
  // the three reference trigger banks (consultation_dates/patterns.py:
  // 1-48), matched on accent-folded lowercase text
  private val consultationMention = Seq(
    "rendez-vous pris", "consultation", """consultation.{1,8}examen""",
    """\bcs\b""", "examen clinique", "de compte rendu",
    "date de l'examen", "examen realise le", "date de la visite")
  private val townMentionBank = Seq(
    "paris", "kremlin.bicetre", "creteil", "boulogne.billancourt",
    "villejuif", "clamart", "bobigny", "clichy", "ivry.sur.seine",
    "issy.les.moulineaux", "draveil", "limeil", "champcueil",
    "roche.guyon", "bondy", "colombes", "hendaye", "berck.sur.mer",
    "labruyere", "garches", "sevran", "hyeres")
  private val documentDateMentionBank = Seq(
    "imprime le", "signe electroniquement", "signe le", "saisi le",
    "dicte le", "tape le", "date de reference", """date\s*:""",
    "dactylographie le", "date du rapport")

  private def pat(triggers: Seq[String]) = java.util.regex.Pattern
    .compile(triggers.sortBy(-_.length).mkString("(?:", "|", ")"))

  /** Consultation/report dates: absolute dates with a trigger mention
    * shortly before them (consultation_dates.py:197-218: same sentence,
    * trigger before the date). `townMention` / `documentDateMention`
    * enable the dateline ("Paris, le ...") and signature ("signé le
    * ...") trigger banks.
    */
  def extract(
      text: String,
      window: Int = 30,
      townMention: Boolean = false,
      documentDateMention: Boolean = false): Seq[Ent] = {
    if (text == null) return Nil
    val triggers = consultationMention ++
      (if (townMention) townMentionBank else Nil) ++
      (if (documentDateMention) documentDateMentionBank else Nil)
    val trigPat = pat(triggers)
    val folded =
      graft.nlp.Normalizer.mapChars(text.map(Character.toLowerCase))
    val dates = Dates.extract(text)
    dates.filter(_.attrs.get("kind").contains("absolute")).flatMap { d =>
      val ctxStart = math.max(0, d.begin - window)
      val ctx = folded.substring(ctxStart, d.begin)
      if (trigPat.matcher(ctx).find())
        Some(d.copy(label = "consultation_date"))
      else None
    }
  }
}

/** History qualifier refinement using sections + dates (`eds.history`,
  * `/root/reference/edsnlp/pipes/qualifiers/history/history.py:390-586`),
  * with the reference's DECISION RULE: per sentence, collect history
  * cues (text cue anywhere in the entity's cue scope, an antecedents
  * section covering the entity, a date older than `historyLimitDays`
  * before note_datetime) and RECENT cues (a date within the limit —
  * including "current"-direction relatives); then
  * `history = cues.nonEmpty && recent.isEmpty` — a recent date VETOES
  * even section and text cues (history.py:576), which is what keeps
  * "hospitalisé pour asthme il y a 3 jours" inside an ANTÉCÉDENTS
  * section from being flagged as history. A date equal to
  * `birthDatetime` is excluded from history dates when
  * `excludeBirthdate` (history.py:453-456) — birth dates sit far in the
  * past but mark identity lines, not antecedents.
  */
object History {
  private lazy val cueQualifier =
    new graft.nlp.RuleQualifier(graft.nlp.Patterns.history)

  def qualify(
      text: String,
      tokens: Array[Token],
      sents: Array[Sent],
      ents: Seq[Ent],
      sections: Seq[Ent] = Nil,
      noteDatetime: Option[java.time.LocalDateTime] = None,
      historyLimitDays: Int = 365,
      birthDatetime: Option[java.time.LocalDateTime] = None,
      excludeBirthdate: Boolean = true): Seq[Ent] = {
    val cueBased = cueQualifier.qualify(text, tokens, sents, ents)
    val atcdSections = sections.filter(s =>
      s.label == "antecedents" || s.label == "antecedents_familiaux")
    val dates = Dates.extract(text, noteDatetime)
    // absolute-date resolution with the reference's infer-from-context
    // defaults (history.py:434-439 passes default_day=15; models.py:
    // 85-178): missing year/month come from the note datetime (month
    // falls to default_month=1 when the day is also missing), a missing
    // day becomes 15 — so "en 2015" and "03/2021" classify instead of
    // being silently dropped.
    def resolved(d: Ent, ref: java.time.LocalDateTime)
        : Option[java.time.LocalDateTime] =
      d.attrs.get("datetime").flatMap { iso =>
        try Some(java.time.LocalDateTime.parse(iso))
        catch { case _: Exception => None }
      }.orElse {
        val y = d.attrs.get("year").map(_.toInt)
        val mo = d.attrs.get("month").map(_.toInt)
        val day = d.attrs.get("day").map(_.toInt)
        if (y.isEmpty && mo.isEmpty && day.isEmpty) None
        else try Some(java.time.LocalDateTime.of(
          y.getOrElse(ref.getYear),
          mo.getOrElse(if (day.isEmpty) 1 else ref.getMonthValue),
          day.getOrElse(15), 0, 0))
        catch { case _: Exception => None } // e.g. 31/02 -> skip
      }
    // classify each extracted date once: Some(true) = history date,
    // Some(false) = recent date, None = unclassifiable (no reference)
    val classified: Seq[(Ent, Boolean)] = dates.flatMap { d =>
      val kind = d.attrs.getOrElse("kind", "")
      val dir = d.attrs.getOrElse("direction", "")
      if (kind == "period" || kind == "duration") None
      else if (kind == "relative" || dir.nonEmpty) {
        if (dir == "future") None
        else if (dir == "current") {
          // a "cette année / ce mois-ci" mention is a RECENT cue only
          // when the limit covers its granularity (history.py:403-411)
          val covers = d.attrs.getOrElse("unit", "jour") match {
            case "annee" => historyLimitDays >= 365
            case "mois" => historyLimitDays >= 30
            case "semaine" => historyLimitDays >= 7
            case _ => true
          }
          if (covers) Some((d, false)) else None
        } else {
          // past relative: duration vs the limit — needs NO note
          // datetime (history.py:415-421 compares to_duration to the
          // limit directly), so "il y a 3 ans" classifies on undated
          // notes too
          val secs = for {
            v <- d.attrs.get("value")
            u <- d.attrs.get("unit")
            s <- Dates.unitSeconds.get(u)
          } yield s * v.toLong
          secs.map(s => (d, s >= historyLimitDays.toLong * 86400L))
        }
      } else noteDatetime match { // absolute: note reference required
        case Some(ref) => resolved(d, ref) match {
          case Some(dt) =>
            val recent = java.time.Duration.between(dt, ref).toDays <
              historyLimitDays
            if (recent) Some((d, false))
            else if (excludeBirthdate && birthDatetime.contains(dt)) None
            else Some((d, true))
          case None => None
        }
        case None => None
      }
    }
    ents.zip(cueBased).map { case (e, (cueHit, _)) =>
      val inAtcd = atcdSections.exists(s => e.begin < s.end && e.end > s.begin)
      val sent = sents.find(s => e.begin < s.end && e.end > s.begin)
      def inSent(d: Ent): Boolean =
        sent.exists(sn => d.begin < sn.end && d.end > sn.begin)
      val historyDate = classified.exists { case (d, old) => old && inSent(d) }
      val recentDate = classified.exists { case (d, old) => !old && inSent(d) }
      val history = (cueHit || inAtcd || historyDate) && !recentDate
      e.copy(attrs = e.attrs + ("history" -> history.toString))
    }
  }
}
