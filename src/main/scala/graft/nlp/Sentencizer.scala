package graft.nlp

/** Rule-based sentence segmentation with the semantics of the reference's
  * compiled segmenter (`/root/reference/edsnlp/pipes/core/sentences/
  * fast_sentences.pyx:14-148`, defaults from `sentences.py:160-210`):
  * a sentence starts after closing punctuation (. ! ? …) or after >=
  * `minNewlineCount` newline tokens followed by a capitalized word; a digit
  * right after a period cancels the boundary (decimal numbers, section
  * numbering); excluded (pollution) tokens are invisible to the rules.
  */
object Sentencizer {

  case class Options(
      minNewlineCount: Int = 1,
      hardNewlineCount: Int = -1,
      checkCapitalized: Boolean = true,
      ignoreExcluded: Boolean = true)

  /** The closing punctuation chars: a token made of one of them ends a
    * sentence.
    */
  private def isClosingPunct(c: Char): Boolean = c match {
    case '!' | '.' | '?' | '\u0702' | '\u203C' | '\u203D' | '\u2047' |
        '\u2048' | '\u2049' | '\uFE56' | '\uFE57' | '\uFF01' | '\uFF0E' |
        '\uFF1F' => true
    case _ => false
  }

  /** `Character.getType` categories of a punctuation char, as a bit set. */
  private val punctTypes: Int =
    Seq(Character.CONNECTOR_PUNCTUATION, Character.DASH_PUNCTUATION,
      Character.START_PUNCTUATION, Character.END_PUNCTUATION,
      Character.INITIAL_QUOTE_PUNCTUATION, Character.FINAL_QUOTE_PUNCTUATION,
      Character.OTHER_PUNCTUATION).foldLeft(0)((m, t) => m | (1 << t))

  private def hasNewline(s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\n' || c == '\r') return true
      i += 1
    }
    false
  }

  private def isDigitTok(s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      if (!Character.isDigit(s.charAt(i))) return false
      i += 1
    }
    s.nonEmpty
  }

  private def isPunctTok(s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      if ((punctTypes & (1 << Character.getType(s.charAt(i)))) == 0)
        return false
      i += 1
    }
    s.nonEmpty
  }

  private def isCapitalized(s: String): Boolean =
    s.nonEmpty && Character.isUpperCase(s.charAt(0))

  /** Token indices that start a sentence. */
  def sentenceStarts(tokens: Array[Token], opts: Options = Options())
      : Array[Boolean] = {
    val starts = new Array[Boolean](tokens.length)
    if (tokens.isEmpty) return starts
    starts(0) = true
    var seenPeriod = false
    var newlineCount = 0
    var i = 0
    while (i < tokens.length) {
      val t = tokens(i)
      if (!(opts.ignoreExcluded && t.excluded)) {
        val s = t.text
        val isInPunct = s.length == 1 && isClosingPunct(s.charAt(0))
        val isNewline = hasNewline(s)
        val hardNewline =
          opts.hardNewlineCount >= 0 && newlineCount >= opts.hardNewlineCount
        var continued = false
        if (seenPeriod || newlineCount >= opts.minNewlineCount) {
          if (seenPeriod && isDigitTok(s)) {
            seenPeriod = false
            continued = true
          } else if (!(isInPunct || isNewline || isPunctTok(s))) {
            if (seenPeriod) starts(i) = true
            else
              starts(i) =
                hardNewline || !opts.checkCapitalized || isCapitalized(s)
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

  /** Sentences as char spans: begin of first token to end of last token. */
  def sentences(tokens: Array[Token], opts: Options = Options())
      : Array[Sent] = {
    val starts = sentenceStarts(tokens, opts)
    var n = 0
    var i = 0
    while (i < starts.length) {
      if (starts(i)) n += 1
      i += 1
    }
    val out = new Array[Sent](n)
    var k = 0
    var first = 0
    i = 1
    while (i <= tokens.length) {
      if (i == tokens.length || starts(i)) {
        out(k) = Sent(tokens(first).begin, tokens(i - 1).end)
        k += 1
        first = i
      }
      i += 1
    }
    out
  }
}
