package graft.nlp

import scala.collection.mutable.ArrayBuffer

/** Word-level tokenizer with the semantics of the reference's clinical
  * tokenizer (`/root/reference/edsnlp/language.py:47-117`):
  *
  *  - numbers split from letters ("ACR5" -> "ACR", "5"), with decimal
  *    point/comma kept inside the number ("3,5" is one token);
  *  - every newline is its own token (so "\n \n" -> "\n", "\n");
  *  - punctuation chars are single tokens;
  *  - runs of non-newline whitespace are single (excluded) tokens;
  *  - clinical abbreviations ("Dr.", "Pr.", "M.", "Mme.", "Mlle.") and
  *    acronyms ("C.P.G") keep their trailing period;
  *  - a trailing apostrophe is kept on the word when followed by a letter
  *    ("l'" + "estomac").
  *
  * A hand-written scanner over code points. At each position it tries,
  * first match wins, the branches of the word regex it replaces:
  *
  * {{{
  * Dr\.|Pr\.|M\.|Mme\.|Mlle\.|(?i:ep\.)            exceptions
  * [A-Z][A-Z0-9]*\.(?=\w)                           acronym
  * \d+(?:[.,]\d(?![.,]?[0-9])|(?![.,]?[0-9]))?      number
  * [\p{P}\p{S}"'ˊ＂〃ײ᳓″״‶˶ʺ“”˝]                    punctuation
  * [\n\r\t]                                         line break / tab
  * [^\S\r\n\t]+                                     space run
  * [^\d<punctuation>\n\s]+(?:['ˊ](?=\p{L}|$))?      word
  * }}}
  *
  * with the regex's ASCII-only `\d`, `\s` and `\w`, and `$` as Java's
  * non-multiline end (end of text, or before one final line
  * terminator). Every code point starts some branch, so the tokens
  * partition the text. `FusedPathSpec` keeps the regex as the oracle and
  * checks the scanner against it on every BMP char in several contexts
  * and on random strings.
  *
  * Pure JVM function — wrapped as a Spark UDF in [[graft.functions]].
  */
object Tokenizer {

  /** `\p{P}\p{S}` as a mask over `Character.getType`. */
  private val punctCategories: Int =
    Seq(Character.CONNECTOR_PUNCTUATION, Character.DASH_PUNCTUATION,
      Character.START_PUNCTUATION, Character.END_PUNCTUATION,
      Character.INITIAL_QUOTE_PUNCTUATION, Character.FINAL_QUOTE_PUNCTUATION,
      Character.OTHER_PUNCTUATION, Character.MATH_SYMBOL,
      Character.CURRENCY_SYMBOL, Character.MODIFIER_SYMBOL,
      Character.OTHER_SYMBOL).map(1 << _).reduce(_ | _)

  /** The punctuation class over the BMP, with the quote variants the
    * reference adds to `\p{P}\p{S}`.
    */
  private val bmpPunct: Array[Boolean] = {
    val t = Array.tabulate(0x10000)(c =>
      ((punctCategories >> Character.getType(c)) & 1) != 0)
    "\"'ˊ＂〃ײ᳓″״‶˶ʺ“”˝".foreach(c => t(c) = true)
    t
  }

  private def isPunct(cp: Int): Boolean =
    if (cp < 0x10000) bmpPunct(cp)
    else ((punctCategories >> Character.getType(cp)) & 1) != 0

  private def isDigit(c: Int): Boolean = c >= '0' && c <= '9'

  /** The regex's `\s`: ASCII whitespace only. */
  private def isSpace(c: Int): Boolean =
    c == ' ' || (c >= '\t' && c <= '\r')

  /** `[^\S\r\n\t]`: the regex's `\s` without line breaks and tab. */
  private def isBlank(c: Char): Boolean = c == ' ' || c == 0x0B || c == '\f'

  private def isWordChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || isDigit(c) || c == '_'

  /** End of the exception token at `p`, or -1. */
  private def exceptionEnd(s: String, p: Int): Int = {
    def lit(w: String) = if (s.startsWith(w, p)) p + w.length else -1
    s.charAt(p) match {
      case 'D' => lit("Dr.")
      case 'P' => lit("Pr.")
      // at most one of these matches: they differ in the second char
      case 'M' => math.max(lit("M."), math.max(lit("Mme."), lit("Mlle.")))
      case 'e' | 'E' =>
        if (p + 2 < s.length && (s.charAt(p + 1) | 0x20) == 'p' &&
          s.charAt(p + 2) == '.') p + 3
        else -1
      case _ => -1
    }
  }

  /** End of the acronym token at `p` (an ASCII capital), or -1. */
  private def acronymEnd(s: String, p: Int): Int = {
    var q = p + 1
    while (q < s.length && ((s.charAt(q) >= 'A' && s.charAt(q) <= 'Z') ||
      isDigit(s.charAt(q)))) q += 1
    if (q + 1 < s.length && s.charAt(q) == '.' && isWordChar(s.charAt(q + 1))) q + 1
    else -1
  }

  /** End of the number token at `p` (an ASCII digit). */
  private def numberEnd(s: String, p: Int): Int = {
    var q = p + 1
    while (q < s.length && isDigit(s.charAt(q))) q += 1
    def digitAt(i: Int) = i < s.length && isDigit(s.charAt(i))
    def sepAt(i: Int) = i < s.length && (s.charAt(i) == '.' || s.charAt(i) == ',')
    // [.,]\d, unless [.,]?[0-9] follows
    if (sepAt(q) && digitAt(q + 1) &&
      !(digitAt(q + 2) || (sepAt(q + 2) && digitAt(q + 3)))) q + 2
    else q
  }

  /** Java's non-multiline `$` at `i`: end of text, or before a line
    * terminator that ends it.
    */
  private def dollarAt(s: String, i: Int): Boolean = {
    val n = s.length
    if (i == n) true
    else if (i == n - 1) {
      val c = s.charAt(i)
      c == '\n' || c == '\r' || c == 0x85 || c == 0x2028 || c == 0x2029
    } else i == n - 2 && s.charAt(i) == '\r' && s.charAt(i + 1) == '\n'
  }

  /** End of the word token at `p`: the run of code points outside every
    * other class, plus a trailing apostrophe before a letter or `$`.
    */
  private def wordEnd(s: String, p: Int): Int = {
    val n = s.length
    var q = p
    var more = true
    while (more && q < n) {
      val cp = s.codePointAt(q)
      if (isDigit(cp) || isSpace(cp) || isPunct(cp)) more = false
      else q += Character.charCount(cp)
    }
    if (q < n && (s.charAt(q) == '\'' || s.charAt(q) == 'ˊ') &&
      ((q + 1 < n && Character.isLetter(s.codePointAt(q + 1))) ||
        dollarAt(s, q + 1))) q + 1
    else q
  }

  /** Tokenize; whitespace runs become tokens flagged excluded-on-normalize.
    * Unlike the reference we do not attach trailing single spaces to the
    * previous token — spaces are ordinary (excluded) tokens, which keeps
    * `begin`/`end` a partition of the text.
    */
  def tokenize(text: String): Array[Token] = {
    if (text == null) return Array.empty
    val n = text.length
    val out = new ArrayBuffer[Token](n / 3 + 4)
    var p = 0
    while (p < n) {
      val c = text.charAt(p)
      var end = exceptionEnd(text, p)
      if (end < 0 && c >= 'A' && c <= 'Z') end = acronymEnd(text, p)
      if (end < 0) {
        end =
          if (isDigit(c)) numberEnd(text, p)
          else {
            val cp = text.codePointAt(p)
            if (isPunct(cp)) p + Character.charCount(cp)
            else if (c == '\n' || c == '\r' || c == '\t') p + 1
            else if (isBlank(c)) {
              var q = p + 1
              while (q < n && isBlank(text.charAt(q))) q += 1
              q
            } else wordEnd(text, p)
          }
      }
      val t = text.substring(p, end)
      out += Token(p, end, t, t, excluded = false)
      p = end
    }
    out.toArray
  }
}
