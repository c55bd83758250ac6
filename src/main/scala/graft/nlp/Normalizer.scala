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

  /** A pollution pattern plus literals one of which every match of it
    * must contain, read off the pattern itself (never off a corpus). A
    * text holding none of them cannot match, so the pattern is not run
    * on it; with no literals it always runs. The gate skips only scans
    * that would find nothing, so exclusions are the same on every input.
    * It saves time only on texts holding none of the literals; a text
    * holding one pays the full scan plus the literal search.
    */
  private[graft] final case class Gated(regex: String, anyOf: String*) {
    val pattern: Pattern = Pattern.compile(regex)
    def mayMatch(text: String): Boolean =
      anyOf.isEmpty || anyOf.exists(text.contains(_))
  }

  /** Pollution detectors (excluded char ranges), following the reference
    * bank (`pollution/patterns.py`) and its `default_enabled` set:
    * filler bars, web addresses, mid-word line splits, doctor-name
    * margin columns, patient-information boilerplate, print footers.
    * `biology` (table rows) and `coding` (ICD-10 blocks) stay off by
    * default there too — disease-name false positives.
    */
  private val pollutionPatterns: Seq[Gated] = Seq(
    // bars: NBNbWbW filler + rules, as one char class (no alternation)
    Gated("(?i)[nbw_=-]{5,}"),
    // web/mail: each alternative holds one of the literals. Ungated, its
    // leading `\S*` restarts at every char offset of every text.
    Gated("www\\.\\S*|\\S*@\\S*|\\S*\\.(?:fr|com|net|org)\\b",
      "www.", "@", ".fr", ".com", ".net", ".org"),
    // intraword line split
    Gated("(?<![\\W\\d_])-\\n", "-\n"),
    // leftside margin with doctor names
    Gated("(?mi)(^((dr)|(pr))(\\.|\\s|of).*)+"),
    // patient-information boilerplate block (condensed reference form)
    Gated("(?s)(=====+\\s*)?(Les\\s*donn[ée]es\\s*administratives,\\s*sociales\\s*" +
      "|I?nfo\\s*rmation\\s*aux?\\s*patients?" +
      "|L['’]AP-HP\\s*collecte\\s*vos\\s*donn[ée]es\\s*administratives)" +
      ".{0,2000}?https?://\\S*droit-opposition[\\s.]*", "droit-opposition"),
    // print footer: a SHORT line starting with "imprimé le dd/mm/yyyy"
    // (page footers are standalone lines; requiring line-start + bounded
    // tail keeps narrative sentences that merely mention a print date)
    Gated("(?im)^\\s*imprim.\\sle\\s\\d\\d/\\d\\d/\\d\\d\\d\\d\\b[^\\n]{0,30}$"),
    // page-footer family (pollution/patterns.py `footer`): a page
    // counter line ("1/3", "2/10?") followed by a patient line, or a
    // date + 10-digit IPP identifier line
    Gated("(?im)^\\d\\d?/\\d\\d?\\s?[^\\n]*\\n?pat[^\\n]*(\\n?courrier valid[^\\n]*)?"),
    // date + IPP line (date BEFORE the 10-digit IPP, as the reference
    // footer has it): line-start anchored with one lookahead. The naive
    // form (leading unanchored `[^\n]*` before the date) backtracks
    // from every char position — O(len²) per doc, measured 0.8ms/doc
    // on the bench corpus vs ~1µs for this one, which attempts only at
    // line starts and scans each line once.
    Gated("(?m)^(?=[^\\n]*\\b\\d\\d/\\d\\d/\\d\\d\\d\\d\\b[^\\n]*80\\d{8})[^\\n]+"),
    // the second AP-HP information-block opener (patterns.py
    // `information`), same bounded tail to the droit-opposition URL
    Gated("(?s)L['’]Assistance\\s*Publique\\s*-\\s*H[ôo]pitaux\\s*de\\s*Paris\\s*" +
      "\\(?AP-HP\\)?\\s*a\\s*cr[éee]{1,2}\\s*une\\s*base\\s*de\\s*donn[ée]es" +
      ".{0,2000}?https?://\\S*droit-opposition[\\s.]*", "droit-opposition"),
    // tobacco-cessation banner (patterns.py `information` second entry)
    Gated("(?si)l['’]arr[êe]t\\s*du\\s*tabac\\s*permet\\s*de\\s*diminuer\\s*le\\s*" +
      "risque\\s*de\\s*maladie\\s*cardiovasculaire\\.")
  )

  /** The live default pollution bank with its literal gates, exposed for
    * the regex profiler (tools/ProfRegex) and the equivalence tests, so
    * both always see the shipped patterns and gates instead of a
    * hand-copied list that drifts.
    */
  private[graft] def defaultPollutionBank: Seq[Gated] = pollutionPatterns

  /** Off-by-default pollution detectors, mirroring the reference's
    * `default_enabled` (pollution/patterns.py:60-69): biology table rows
    * and ICD-10 coding blocks false-positive on disease names, so they
    * are opt-in there too.
    */
  private val biologyPattern = Pattern.compile("(\\b.*[|¦].*\\n)+")
  private val codingPattern = Pattern.compile(
    ".*? \\(\\d+\\) [a-zA-Z]\\d{2,4}.*?(\\n|[a-zA-Z]\\d{2,4})")

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
    val active =
      if (!opts.pollution || text == null) Seq.empty
      else pollutionPatterns.filter(_.mayMatch(text)).map(_.pattern) ++
        (if (opts.pollutionBiology) Seq(biologyPattern) else Nil) ++
        (if (opts.pollutionCoding) Seq(codingPattern) else Nil)
    val polluted: Array[(Int, Int)] =
      active.flatMap { p =>
        val m = p.matcher(text)
        val acc = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
        while (m.find()) acc += ((m.start, m.end))
        acc
      }.toArray

    tokens.map { t =>
      val excl =
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
