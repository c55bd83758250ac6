package graft.nlp

import java.util.regex.Pattern
import scala.collection.mutable.ArrayBuffer

/** Named-regex matcher over raw text or over the normalized "clean text"
  * with offset re-alignment back to the original, the re-expression of
  * `/root/reference/edsnlp/matchers/regex.py:166-494` (realignment
  * `:68-165`): matching on clean text sees pollution/space-free normalized
  * chars, and the prefix-sum offset array maps every clean offset back to a
  * raw char offset so spans stay anchored in the original document.
  *
  * Each regex runs as a lead-driven scan ([[Lead.scan]]): it is tried
  * only at the offsets where a match can start, and returns the matches
  * `Matcher.find` returns. A shipped cue regex has its lead declared next
  * to it ([[Patterns.cueLeads]]); any other regex gets the lead
  * [[Lead.derive]] reads off its leading literal, or none, in which case
  * the plain `find` loop runs. `FusedPathSpec` proves the leads over the
  * whole BMP and checks the scans against `find`.
  */
final class RegexMatcher private (
    compiled: Seq[(String, Pattern, Lead)],
    attrNorm: Boolean) extends Serializable {

  def findMatches(tokens: Array[Token], text: String): Seq[Ent] = {
    if (text == null) return Nil
    val (hay, cleanToRaw) =
      if (attrNorm) Normalizer.cleanTextWithOffsets(tokens, useNorm = true)
      else (text, null)
    val out = new ArrayBuffer[Ent]
    compiled.foreach { case (label, pat, lead) =>
      Lead.scan(pat, lead, hay) { m =>
        val (b, e) =
          if (cleanToRaw == null) (m.start, m.end)
          else {
            val rb = cleanToRaw(m.start)
            val re =
              if (m.end > m.start) cleanToRaw(m.end - 1) + 1
              else rb
            (rb, re)
          }
        out += Ent(b, e, label,
          if (b <= e && e <= text.length) text.substring(b, e) else m.group())
      }
    }
    out.toSeq
  }
}

object RegexMatcher {

  val DefaultFlags: Int = Pattern.CASE_INSENSITIVE | Pattern.UNICODE_CASE

  def build(
      patterns: Map[String, Seq[String]],
      attrNorm: Boolean = false,
      flags: Int = DefaultFlags)
      : RegexMatcher =
    new RegexMatcher(
      patterns.toSeq.flatMap { case (label, ps) =>
        ps.map(p => (label, Pattern.compile(p, flags), leadOf(p, flags)))
      },
      attrNorm)

  /** The lead `build` gives `regex` compiled with `flags`: its declared
    * lead if it is a shipped cue regex compiled with the default flags
    * (the flags its lead was proven under), else the derived one.
    */
  private[graft] def leadOf(regex: String, flags: Int): Lead =
    (if (flags == DefaultFlags) Patterns.cueLeads.get(regex) else None)
      .getOrElse(Lead.derive(regex, flags))
}
