package graft.nlp

import java.util.regex.Pattern

/** Token-norm rewriting + exclusion tagging, mirroring the five dimensions of
  * the reference normalizer (`/root/reference/edsnlp/pipes/core/normalizer/
  * normalizer.py:15-87`): lowercase, accents, quotes, spaces, pollution.
  *
  * Accents/quotes are deterministic fixed-length char maps (translate-safe,
  * `accents/patterns.py`, `quotes/patterns.py`), so `begin`/`end` offsets
  * never drift — the property the whole span pipeline depends on
  * (SURVEY.md §7.4 risk 1). Spaces and pollution only flip the `excluded`
  * flag; the raw text is untouched.
  *
  * Each pollution pattern runs as a lead-driven scan ([[Lead.scan]]),
  * tried only at the offsets its declared [[Lead]] allows (a literal
  * prefix, a char-class run, a line start); a literal gate is one kind
  * of lead.
  */
object Normalizer {

  /** char -> replacement maps; fixed-length so offsets are stable. Accent
    * and quote folding are independent options, so they are separate maps.
    */
  private val accentMap: Map[Char, Char] = {
    val accents = Seq(
      "ç" -> 'c', "àáâä" -> 'a', "èéêë" -> 'e', "ìíîï" -> 'i',
      "òóôö" -> 'o', "ùúûü" -> 'u')
    val lower = accents.flatMap { case (ks, v) => ks.map(_ -> v) }
    val upper = lower.map { case (k, v) => k.toUpper -> v.toUpper }
    (lower ++ upper).toMap
  }

  private val quoteMap: Map[Char, Char] = {
    val quotes = "＂〃ײ᳓″״‶˶ʺ“”˝‟".map(_ -> '"')
    val apostrophes = "｀΄＇ˈˊᑊˋꞌᛌ‘’՚‛՝`′׳´ʹ˴ߴ‵ߵʻʼ".map(_ -> '\'')
    (quotes ++ apostrophes).toMap
  }

  /** Accent and quote folding of `s`, char for char, without lowercasing. */
  def mapChars(s: String): String = norm(s, foldOnly)

  private val foldOnly = Options(lowercase = false)

  /** `m` as an unboxed lookup: a direct table for Latin-1, binary search
    * over the sorted keys above it.
    */
  private final class CharTable(m: Map[Char, Char]) {
    private val latin1 =
      Array.tabulate(256)(i => m.getOrElse(i.toChar, i.toChar))
    private val keys = m.keys.filter(_ >= 256).toArray.sorted
    private val values = keys.map(m)
    def apply(c: Char): Char =
      if (c < 256) latin1(c)
      else {
        val i = java.util.Arrays.binarySearch(keys, c)
        if (i >= 0) values(i) else c
      }
  }

  private val accentTable = new CharTable(accentMap)
  private val quoteTable = new CharTable(quoteMap)

  /** The token norm: lowercase, then accents, then quotes, per char (all
    * three are char-for-char, so offsets stay fixed). Allocates only when
    * some char changes.
    */
  private def norm(s: String, opts: Options): String = {
    var out: Array[Char] = null
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      var d = c
      if (opts.lowercase) d = Character.toLowerCase(d)
      if (opts.accents) d = accentTable(d)
      if (opts.quotes) d = quoteTable(d)
      if (d != c) {
        if (out == null) out = s.toCharArray
        out(i) = d
      }
      i += 1
    }
    if (out == null) s else new String(out)
  }

  /** A pollution pattern and its [[Lead]], declared next to it: the
    * offsets where a match can start. [[Lead.scan]] runs the pattern
    * only there, so a text costs one linear pass per pattern plus one
    * anchored try per candidate, whatever it holds. `FusedPathSpec`
    * proves each lead over the whole BMP and checks the scans against
    * the `find` loop. Four patterns keep a [[Lead.Contains]] literal
    * gate: web/mail addresses (each alternative may open with `\S*`),
    * the intraword split and the two information blocks.
    */
  private[graft] final case class Scanned(regex: String, lead: Lead) {
    val pattern: Pattern = Pattern.compile(regex)
  }

  /** Pollution detectors (excluded char ranges), following the reference
    * bank (`pollution/patterns.py`) and its `default_enabled` set:
    * filler bars, web addresses, mid-word line splits, doctor-name
    * margin columns, patient-information boilerplate, print footers.
    * `biology` (table rows) and `coding` (ICD-10 blocks) stay off by
    * default there too — disease-name false positives.
    */
  private val pollutionPatterns: Seq[Scanned] = Seq(
    // bars: NBNbWbW filler + rules, as one char class (no alternation)
    Scanned("(?i)[nbw_=-]{5,}", Lead.Prefix(Seq.fill(5)("nbw_=-"): _*)),
    // web/mail: each alternative holds one of the literals. Ungated, its
    // leading `\S*` restarts at every char offset of every text.
    Scanned("www\\.\\S*|\\S*@\\S*|\\S*\\.(?:fr|com|net|org)\\b",
      Lead.Contains("www.", "@", ".fr", ".com", ".net", ".org")),
    // intraword line split
    Scanned("(?<![\\W\\d_])-\\n", Lead.Contains("-\n")),
    // leftside margin with doctor names
    Scanned("(?mi)(^((dr)|(pr))(\\.|\\s|of).*)+", Lead.LineStart()),
    // patient-information boilerplate block (condensed reference form)
    Scanned("(?s)(=====+\\s*)?(Les\\s*donn[ée]es\\s*administratives,\\s*sociales\\s*" +
      "|I?nfo\\s*rmation\\s*aux?\\s*patients?" +
      "|L['’]AP-HP\\s*collecte\\s*vos\\s*donn[ée]es\\s*administratives)" +
      ".{0,2000}?https?://\\S*droit-opposition[\\s.]*", Lead.Contains("droit-opposition")),
    // print footer: a SHORT line starting with "imprimé le dd/mm/yyyy"
    // (page footers are standalone lines; requiring line-start + bounded
    // tail keeps narrative sentences that merely mention a print date)
    Scanned("(?im)^\\s*imprim.\\sle\\s\\d\\d/\\d\\d/\\d\\d\\d\\d\\b[^\\n]{0,30}$",
      Lead.LineStart()),
    // page-footer family (pollution/patterns.py `footer`): a page
    // counter line ("1/3", "2/10?") followed by a patient line, or a
    // date + 10-digit IPP identifier line
    Scanned("(?im)^\\d\\d?/\\d\\d?\\s?[^\\n]*\\n?pat[^\\n]*(\\n?courrier valid[^\\n]*)?",
      Lead.LineStart()),
    // date + IPP line (date BEFORE the 10-digit IPP, as the reference
    // footer has it): line-start anchored with one lookahead. The naive
    // form (leading unanchored `[^\n]*` before the date) backtracks
    // from every char position — O(len²) per doc, measured 0.8ms/doc
    // on the bench corpus vs ~1µs for this one, which attempts only at
    // line starts and scans each line once. `80\d{8}` is a run of ten
    // ASCII digits before the line's `\n`, so only a line holding one
    // is tried.
    Scanned("(?m)^(?=[^\\n]*\\b\\d\\d/\\d\\d/\\d\\d\\d\\d\\b[^\\n]*80\\d{8})[^\\n]+",
      Lead.LineStart(digitRun = 10)),
    // the second AP-HP information-block opener (patterns.py
    // `information`), same bounded tail to the droit-opposition URL
    Scanned("(?s)L['’]Assistance\\s*Publique\\s*-\\s*H[ôo]pitaux\\s*de\\s*Paris\\s*" +
      "\\(?AP-HP\\)?\\s*a\\s*cr[éee]{1,2}\\s*une\\s*base\\s*de\\s*donn[ée]es" +
      ".{0,2000}?https?://\\S*droit-opposition[\\s.]*", Lead.Contains("droit-opposition")),
    // tobacco-cessation banner (patterns.py `information` second entry)
    Scanned("(?si)l['’]arr[êe]t\\s*du\\s*tabac\\s*permet\\s*de\\s*diminuer\\s*le\\s*" +
      "risque\\s*de\\s*maladie\\s*cardiovasculaire\\.", Lead.Prefix("l", "'’", "a", "r", "r"))
  )

  /** The live default pollution bank with its leads, exposed for the
    * regex profiler (tools/ProfRegex) and the equivalence tests, so
    * both always see the shipped patterns and leads instead of a
    * hand-copied list that drifts.
    */
  private[graft] def defaultPollutionBank: Seq[Scanned] = pollutionPatterns

  /** Off-by-default pollution detectors, mirroring the reference's
    * `default_enabled` (pollution/patterns.py:60-69): biology table rows
    * and ICD-10 coding blocks false-positive on disease names, so they
    * are opt-in there too.
    */
  private val biology = Scanned("(\\b.*[|¦].*\\n)+", Lead.Anywhere)
  private val coding = Scanned(
    ".*? \\(\\d+\\) [a-zA-Z]\\d{2,4}.*?(\\n|[a-zA-Z]\\d{2,4})", Lead.Anywhere)

  case class Options(
      lowercase: Boolean = true,
      accents: Boolean = true,
      quotes: Boolean = true,
      spaces: Boolean = true,
      pollution: Boolean = true,
      pollutionBiology: Boolean = false,
      pollutionCoding: Boolean = false)

  /** True for whitespace-only tokens ("SPACE"-tagged in the reference,
    * `spaces/spaces.py:9-53`). Kept distinct from `excluded`: the sentence
    * segmenter must still see newline tokens, while matchers skip both.
    */
  def isSpace(t: Token): Boolean = t.text.forall(Character.isWhitespace)

  /** Rewrite norms and tag pollution exclusions. Pure per-document fn. */
  def normalize(
      text: String,
      tokens: Array[Token],
      opts: Options = Options()): Array[Token] = {
    val polluted = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    if (opts.pollution && text != null) {
      def scan(s: Scanned): Unit =
        Lead.scan(s.pattern, s.lead, text)(m => polluted += ((m.start, m.end)))
      pollutionPatterns.foreach(scan)
      if (opts.pollutionBiology) scan(biology)
      if (opts.pollutionCoding) scan(coding)
    }

    tokens.map { t =>
      val excl = polluted.nonEmpty &&
        polluted.exists { case (b, e) => t.begin < e && t.end > b }
      t.copy(norm = norm(t.text, opts), excluded = excl)
    }
  }

  /** Clean text + offset map: concatenation of non-excluded token texts,
    * plus `cleanToRaw(i)` = raw offset of clean char i (the prefix-sum
    * realignment of `/root/reference/edsnlp/utils/doc_to_text.py:
    * 117-193`). Join rule: skipped whitespace between two kept tokens
    * collapses to one space — EXCEPT whitespace that trails an excluded
    * word token, which contributes nothing, so an intraword line split
    * ("diab-\nète", pollution `intraword_split`) heals to "diabète"
    * while an endlines-excluded wrap newline ("bras\ndepuis") still
    * separates the words it used to wrap.
    */
  def cleanTextWithOffsets(
      tokens: Array[Token],
      useNorm: Boolean): (String, Array[Int]) = {
    val sb = new StringBuilder
    val offsets = scala.collection.mutable.ArrayBuffer.empty[Int]
    var lastEnd = -1
    var pendingSpace = false
    var afterExcludedWord = false
    tokens.foreach { t =>
      if (t.excluded && !isSpace(t)) afterExcludedWord = true
      else if (isSpace(t)) {
        if (!afterExcludedWord) pendingSpace = true
      } else {
        if (lastEnd >= 0 && pendingSpace) {
          sb += ' '
          offsets += lastEnd
        }
        pendingSpace = false
        afterExcludedWord = false
        val s = if (useNorm) t.norm else t.text
        // norm is fixed-length by construction; guard anyway
        val body = if (s.length == t.end - t.begin) s else t.text
        var i = 0
        while (i < body.length) {
          sb += body(i)
          offsets += t.begin + i
          i += 1
        }
        lastEnd = t.end
      }
    }
    offsets += (if (lastEnd >= 0) lastEnd else 0) // end sentinel
    (sb.toString, offsets.toArray)
  }
}
