package graft.nlp

import java.util.regex.{Matcher, Pattern}

/** Where a match of a regex can start: its lead. A whole-text scan
  * ([[Lead.scan]]) finds the candidate offsets with a cheap linear pass
  * and runs the regex only there, anchored at the candidate, instead of
  * trying it at every offset as `Matcher.find` does. The regex still
  * decides every match, so a lead that holds every offset where a match
  * can start changes no output; `FusedPathSpec` proves each shipped and
  * derived lead over the whole BMP and checks the scans against `find`.
  */
sealed trait Lead extends Serializable {

  /** The first offset `>= from` where a match can start, or -1. */
  def next(text: String, from: Int): Int
}

object Lead {

  /** A match starts only where `text(i + j)` is in `sets(j)` for every
    * `j`, chars compared through [[fold]]: a literal prefix is a prefix
    * of one-char sets, a char set a one-set prefix, a char-class run of
    * length `r` `r` copies of the class. The scan is Horspool's: it
    * tests the char under the prefix's last slot and, unless all slots
    * hold, shifts to the next offset whose prefix could hold it.
    */
  final case class Prefix(sets: String*) extends Lead {
    require(sets.nonEmpty, "a prefix lead needs a char set")
    private val folded: Array[Array[Char]] =
      sets.map(_.map(fold).distinct.toArray).toArray
    private val k = folded.length

    /** The chars of the last set and every char folding to one, as a
      * bitmap over the BMP.
      */
    private val lastSet: Array[Long] = {
      val bits = new Array[Long](1024)
      var c = 0
      while (c < 0x10000) {
        if (holds(folded(k - 1), fold(c.toChar))) bits(c >>> 6) |= 1L << c
        c += 1
      }
      bits
    }

    /** For a Latin-1 char `c` under the last slot: `k - 1 - j` for the
      * last slot `j < k - 1` whose set holds `c`, else `k`. No prefix
      * starting closer than that can hold `c` where it stands. Other
      * chars shift by one.
      */
    private val shift: Array[Int] = Array.tabulate(256) { c =>
      val j = (k - 2 to 0 by -1).find(j => holds(folded(j), fold(c.toChar)))
      j.fold(k)(k - 1 - _)
    }

    /** For a one-slot prefix of at most four chars (with their folds):
      * those chars, found with `String.indexOf`.
      */
    private val few: Array[Char] = {
      val cs = (0 until 0x10000).filter(c => (lastSet(c >>> 6) & (1L << c)) != 0)
      if (k == 1 && cs.size <= 4) cs.map(_.toChar).toArray else null
    }

    def next(text: String, from: Int): Int = {
      if (few != null) return firstOf(text, few, from)
      val last = text.length - k
      var i = from
      while (i <= last) {
        val c = text.charAt(i + k - 1)
        if ((lastSet(c >>> 6) & (1L << c)) != 0) {
          var j = 0
          while (j < k - 1 && holds(folded(j), fold(text.charAt(i + j)))) j += 1
          if (j == k - 1) return i
        }
        i += (if (c < 256) shift(c) else 1)
      }
      -1
    }
  }

  /** A literal prefix: one one-char set per char of `s`. */
  def literal(s: String): Prefix = Prefix(s.map(_.toString): _*)

  /** A line start: offset 0 or after `\n`, `\r`, `\u0085`, `\u2028` or
    * `\u2029`, every char after which a MULTILINE `^` can match. With
    * `digitRun > 0`, only a line start whose text up to the next `\n`
    * holds a run of that many ASCII digits.
    */
  final case class LineStart(digitRun: Int = 0) extends Lead {
    private val run =
      if (digitRun > 0) Prefix(Seq.fill(digitRun)("0123456789"): _*) else null

    def next(text: String, from: Int): Int = {
      val i = lineStart(text, from)
      if (run == null || i < 0) return i
      // the first digit run from i; the line start before it if a `\n`
      // lies between (i's line and those up to that `\n` hold no run)
      val d = run.next(text, i)
      if (d < 0) return -1
      val nl = text.lastIndexOf('\n', d - 1)
      if (nl < i) i else nl + 1
    }
  }

  /** A literal gate, read off the pattern: every match holds one of
    * `anyOf`, so a text holding none of them has no candidate; on any
    * other text every offset is one, and [[scan]] runs the plain `find`
    * loop. It saves time only on texts holding none of the literals.
    */
  final case class Contains(anyOf: String*) extends Lead {
    def next(text: String, from: Int): Int =
      if (from <= text.length && anyOf.exists(text.contains(_))) from else -1
  }

  /** No lead: every offset is a candidate; [[scan]] runs the plain
    * `find` loop.
    */
  case object Anywhere extends Lead {
    def next(text: String, from: Int): Int = if (from <= text.length) from else -1
  }

  /** The lead of a config regex compiled with `flags`, by a conservative
    * rule that needs no probing: the literal run that opens the pattern
    * after optional inline flag groups and one `\b`, without a char a
    * quantifier follows. [[Anywhere]] when there is no such run, or when
    * the pattern holds `|` or `\G` or is compiled with COMMENTS (also
    * inline), LITERAL or CANON_EQ.
    */
  def derive(regex: String, flags: Int): Lead = {
    val excluded = Pattern.COMMENTS | Pattern.LITERAL | Pattern.CANON_EQ
    if ((flags & excluded) != 0 || regex.contains('|') || regex.contains("\\G"))
      return Anywhere
    var i = 0
    var inFlags = true
    while (inFlags && regex.startsWith("(?", i)) {
      val close = regex.indexOf(')', i)
      val fl = if (close < 0) "" else regex.substring(i + 2, close)
      if (fl.isEmpty || !fl.forall(c => c.isLetter || c == '-')) inFlags = false
      else if (fl.contains('x')) return Anywhere
      else i = close + 1
    }
    if (regex.startsWith("\\b", i)) i += 2
    val run = new StringBuilder
    while (i < regex.length && !Meta(regex(i)) && !regex(i).isSurrogate &&
        !(i + 1 < regex.length && Quantifier(regex(i + 1)))) {
      run += regex(i)
      i += 1
    }
    if (run.isEmpty) Anywhere else literal(run.toString)
  }

  private val Meta: Set[Char] = "\\^$.|?*+()[]{}#".toSet
  private val Quantifier: Set[Char] = "?*+{".toSet

  /** The chars after which a MULTILINE `^` can match. */
  private val Terminators = Array('\n', '\r', '\u0085', '\u2028', '\u2029')

  private[graft] def isLineTerminator(c: Char): Boolean = Terminators.contains(c)

  /** The first line start `>= from` (up to `text.length`), or -1. */
  private def lineStart(text: String, from: Int): Int =
    if (from <= 0) 0
    else if (from > text.length) -1
    else {
      val t = firstOf(text, Terminators, from - 1)
      if (t < 0) -1 else t + 1
    }

  /** The first offset `>= from` holding one of `cs`, or -1. */
  private def firstOf(text: String, cs: Array[Char], from: Int): Int = {
    var best = -1
    var j = 0
    while (j < cs.length) {
      val x = text.indexOf(cs(j), from)
      if (x >= 0 && (best < 0 || x < best)) best = x
      j += 1
    }
    best
  }

  private def holds(set: Array[Char], c: Char): Boolean = {
    var j = 0
    while (j < set.length) {
      if (set(j) == c) return true
      j += 1
    }
    false
  }

  /** A length-preserving case fold over the BMP: each char joins the
    * class of its upper, lower and title case, transitively, so any two
    * chars that Java's CASE_INSENSITIVE (with or without UNICODE_CASE)
    * matches to each other fold to the same value.
    */
  private lazy val foldTable: Array[Char] = {
    val parent = Array.tabulate(0x10000)(identity)
    def root(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      r
    }
    def union(a: Int, b: Int): Unit = {
      val ra = root(a)
      val rb = root(b)
      if (ra < rb) parent(rb) = ra else parent(ra) = rb
    }
    var c = 0
    while (c < 0x10000) {
      val ch = c.toChar
      union(c, Character.toUpperCase(ch))
      union(c, Character.toLowerCase(ch))
      union(c, Character.toTitleCase(ch))
      c += 1
    }
    Array.tabulate(0x10000)(root(_).toChar)
  }

  def fold(c: Char): Char = foldTable(c)

  /** `p`'s matcher over `text`, set up to try a match at one offset as
    * `find` tries it there: transparent bounds (lookbehind and `\b` see
    * the chars before the offset) and non-anchoring bounds (`^` holds at
    * the offset only where a line starts).
    */
  private[graft] def matcher(p: Pattern, text: String): Matcher =
    p.matcher(text).useTransparentBounds(true).useAnchoringBounds(false)

  /** Whether a match of `m`'s pattern starts at `i`; `m` from [[matcher]]. */
  private[graft] def matchAt(m: Matcher, i: Int): Boolean = m.region(i, m.regionEnd).lookingAt()

  /** Every match of `p` in `text`, in order, as `Matcher.find` returns
    * them: at each candidate of `lead` the pattern is tried anchored
    * there, and after a match the scan resumes at its end, or one past
    * it if it was empty. `emit` reads the match off the matcher.
    */
  def scan(p: Pattern, lead: Lead, text: String)(emit: Matcher => Unit): Unit =
    lead match {
      case Anywhere | _: Contains =>
        if (lead.next(text, 0) >= 0) {
          val m = p.matcher(text)
          while (m.find()) emit(m)
        }
      case _ =>
        var i = lead.next(text, 0)
        val m = if (i < 0) null else matcher(p, text)
        while (i >= 0) {
          i = if (matchAt(m, i)) {
            emit(m)
            lead.next(text, if (m.end == i) i + 1 else m.end)
          } else lead.next(text, i + 1)
        }
    }
}
