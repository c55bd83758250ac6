package graft.nlp

import scala.collection.mutable.ArrayBuffer

/** Cue-pattern config for one qualifier (negation, family, hypothesis, ...).
  */
case class QualifierPatterns(
    name: String,
    pseudo: Seq[String],
    preceding: Seq[String],
    following: Seq[String],
    precedingRegex: Seq[String],
    termination: Seq[String],
    /** Containment cues: an entity qualifies when one of these regex
      * matches CONTAINS it (the reference's quotation cue in
      * reported_speech/patterns.py — quoted content is reported speech
      * regardless of cue position). Scope boundaries do not apply.
      */
    containingRegex: Seq[String] = Nil)

/** The shared rule-based qualifier engine (the reference's "window
  * functions" — `/root/reference/edsnlp/pipes/qualifiers/base.py:63` and the
  * per-qualifier `process` methods, e.g. negation
  * `/root/reference/edsnlp/pipes/qualifiers/negation/negation.py:298-364`):
  *
  *  1. match cue terms (phrase, NORM attr) + cue regexes;
  *  2. suppress cues overlapping pseudo-cue matches
  *     (`filter_spans(label_to_remove="pseudo")`);
  *  3. cut the document into scopes at sentence starts and termination
  *     cues (`pipes/base.py:105-142`);
  *  4. an entity is qualified iff its scope contains a preceding cue
  *     ending before the entity, or a following cue starting after it.
  *
  * Row-local: distributed as an expression over (text, tokens, sents, ents)
  * columns — zero shuffle, embarrassingly parallel at 100 TB.
  */
final class RuleQualifier(patterns: QualifierPatterns) extends Serializable {

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

  /** For each entity (in input order), whether the qualifier fires, plus
    * the triggering cues.
    */
  def qualify(
      text: String,
      tokens: Array[Token],
      sents: Array[Sent],
      ents: Seq[Ent]): Seq[(Boolean, Seq[Ent])] = {
    if (ents.isEmpty) return Nil
    val cues = phraseMatcher.findMatches(tokens, text) ++
      regexMatcher.map(_.findMatches(tokens, text)).getOrElse(Nil)

    // terminations derive from RAW matches, before pseudo suppression —
    // the reference order (negation.py:303-307): even a termination word
    // embedded in a longer cue cuts the scope ("avec" inside
    // "incompatible avec" self-terminates that cue, faithfully).
    val terminations = cues.filter(_.label == "termination")
    val docEnd = if (text == null) 0 else text.length
    val starts =
      (sents.map(_.begin) ++ terminations.map(_.begin) :+ docEnd)
        .distinct.sorted

    // begin-sorted (filterSpans output order), so each scope's cues are
    // one contiguous slice found by binary search
    val matches = SpanAlgebra.filterSpans(cues, Some("pseudo"))
    val preceding = matches.filter(_.label == "preceding").toArray
    val following = matches.filter(_.label == "following").toArray
    val precBegins = preceding.map(_.begin)
    val follBegins = following.map(_.begin)

    val results = Array.fill[(Boolean, Seq[Ent])](ents.size)((false, Nil))

    // containment cues: independent of scopes/terminations — the cue
    // match must span the entity (quotation semantics)
    containingMatcher.foreach { cm =>
      val spans = cm.findMatches(tokens, text)
      ents.zipWithIndex.foreach { case (ent, i) =>
        val hit = spans.filter(s =>
          s.begin <= ent.begin && s.end >= ent.end)
        if (hit.nonEmpty)
          results(i) = (true, results(i)._2 ++ hit)
      }
    }

    // scope k is [starts(k), starts(k + 1)). An entity visits, in order,
    // only the scopes it overlaps (starts(k) < ent.end and
    // ent.begin < starts(k + 1)); in each it reads the preceding cues
    // that begin in the scope and end before it, then the following
    // cues that begin in the scope at or after its end.
    import RuleQualifier.lowerBound
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

  /** Qualify and write the boolean into each entity's attrs map. */
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
}

object RuleQualifier {

  /** First index of `xs` (ascending) whose value is `>= x`. */
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
