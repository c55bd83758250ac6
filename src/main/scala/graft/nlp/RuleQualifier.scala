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
  * It runs these steps for several cue banks (qualifiers) at once, and
  * the banks share the per-document work. Their cue terms live in one
  * [[PhraseMatcher]] trie whose labels carry (bank, role), so one walk
  * finds every bank's cues; a term listed by several banks, or under
  * several roles, keeps at each node its bank's label order, so each
  * bank's cue list is the one a trie of that bank alone yields, in the
  * same order. Termination terms enter the trie once per distinct
  * termination list, and the scopes are built once per such list.
  * Pseudo suppression runs only for a bank with a pseudo cue in the
  * document; without one it reduces to sorting the cues. Each entity's
  * flags are written once, for all banks. A single bank is a one-element
  * engine.
  *
  * The cue regexes (preceding and containment) run through
  * [[RegexMatcher]] as lead-driven scans ([[Lead.scan]]): each is tried
  * only where a match can start (the shipped banks declare those leads
  * next to their regexes, `Patterns.cueLeads`; a config regex gets a
  * derived one) and finds exactly what `Matcher.find` finds.
  * `FusedPathSpec` proves the leads over the whole BMP and checks the
  * scans against `find`.
  *
  * Row-local: distributed as an expression over (text, tokens, sents, ents)
  * columns — zero shuffle, embarrassingly parallel at 100 TB.
  */
final class RuleQualifier(banks: Seq[QualifierPatterns]) extends Serializable {
  import RuleQualifier._

  def this(patterns: QualifierPatterns) = this(Seq(patterns))

  private val bankArr = banks.toArray

  /** Bank index -> index of its termination list among the distinct ones. */
  private val scopeGroup: Array[Int] = {
    val distinct = bankArr.map(_.termination).distinct
    bankArr.map(b => distinct.indexOf(b.termination))
  }
  private val nGroups = if (bankArr.isEmpty) 0 else scopeGroup.max + 1

  // Trie label ids: (pseudo, preceding, following) per bank, then one
  // termination label per scope group; labelOwner is the bank (or the
  // group, for terminations).
  private val labelRole: Array[Int] =
    Array.fill(bankArr.length)(Array(Pseudo, Preceding, Following)).flatten ++
      Array.fill(nGroups)(Termination)
  private val labelOwner: Array[Int] =
    bankArr.indices.flatMap(b => Seq(b, b, b)).toArray ++ (0 until nGroups)

  private val cueMatcher = PhraseMatcher.buildLabelled(
    bankArr.toSeq.flatMap(p => Seq(
      "pseudo" -> p.pseudo, "preceding" -> p.preceding,
      "following" -> p.following)) ++
      (0 until nGroups).map(g =>
        "termination" -> bankArr(scopeGroup.indexOf(g)).termination),
    attrNorm = true, Normalizer.Options())

  private val regexMatchers: Array[RegexMatcher] = bankArr.map(p =>
    if (p.precedingRegex.isEmpty) null
    else RegexMatcher.build(
      Map("preceding" -> p.precedingRegex), attrNorm = false))

  private val containingMatchers: Array[RegexMatcher] = bankArr.map(p =>
    if (p.containingRegex.isEmpty) null
    else RegexMatcher.build(
      Map("containing" -> p.containingRegex), attrNorm = false))

  /** Triggering cues, `[bank][entity]`, `null` where the bank does not
    * fire: containment cues first, then the scope cues in scope order.
    */
  private def cues(
      text: String,
      tokens: Array[Token],
      sents: Array[Sent],
      ents: Array[Ent]): Array[Array[ArrayBuffer[Ent]]] = {
    val out = Array.fill(bankArr.length)(new Array[ArrayBuffer[Ent]](ents.length))
    if (ents.isEmpty || bankArr.isEmpty) return out

    // one walk: each bank's cues in its own trie's order; termination
    // begins per scope group (from RAW matches, before pseudo
    // suppression — the reference order, negation.py:303-307: even a
    // termination word embedded in a longer cue cuts the scope, so
    // "avec" inside "incompatible avec" self-terminates that cue)
    val hits = cueMatcher.walk(tokens)
    val bankCues = Array.fill(bankArr.length)(new ArrayBuffer[Ent])
    val hasPseudo = new Array[Boolean](bankArr.length)
    val cuts = Array.fill(nGroups)(new ArrayBuffer[Int])
    var h = 0
    while (h < hits.size) {
      val lab = hits.label(h)
      val b = tokens(hits.first(h)).begin
      labelRole(lab) match {
        case Termination => cuts(labelOwner(lab)) += b
        case role =>
          val e = tokens(hits.last(h)).end
          bankCues(labelOwner(lab)) +=
            Ent(b, e, RoleNames(role), PhraseMatcher.safeSlice(text, b, e))
          if (role == Pseudo) hasPseudo(labelOwner(lab)) = true
      }
      h += 1
    }

    val docEnd = if (text == null) 0 else text.length
    val scopes = cuts.map(scopeStarts(sents, _, docEnd))

    var q = 0
    while (q < bankArr.length) {
      val entCues = out(q)
      if (regexMatchers(q) != null)
        bankCues(q) ++= regexMatchers(q).findMatches(tokens, text)

      // containment cues: independent of scopes/terminations — the cue
      // match must span the entity (quotation semantics)
      if (containingMatchers(q) != null) {
        val spans = containingMatchers(q).findMatches(tokens, text)
        for (i <- ents.indices; s <- spans
          if s.begin <= ents(i).begin && s.end >= ents(i).end) add(entCues, i, s)
      }

      // begin-sorted (filterSpans output order), so each scope's cues are
      // one contiguous slice found by binary search
      val matches =
        if (hasPseudo(q)) SpanAlgebra.filterSpans(bankCues(q).toSeq, Some("pseudo"))
        else bankCues(q).sorted(byBeginLongestFirst)
      val preceding = matches.filter(_.label == "preceding").toArray
      val following = matches.filter(_.label == "following").toArray
      val precBegins = preceding.map(_.begin)
      val follBegins = following.map(_.begin)
      val starts = scopes(scopeGroup(q))

      // scope k is [starts(k), starts(k + 1)). An entity visits, in
      // order, only the scopes it overlaps (starts(k) < ent.end and
      // ent.begin < starts(k + 1)); in each it reads the preceding cues
      // that begin in the scope and end before it, then the following
      // cues that begin in the scope at or after its end.
      var i = 0
      while (i < ents.length) {
        val ent = ents(i)
        var k = math.max(0, lowerBound(starts, ent.begin + 1) - 1)
        while (k < starts.length - 1 && starts(k) < ent.end) {
          var j = lowerBound(precBegins, starts(k))
          val jEnd = lowerBound(precBegins, ent.begin + 1)
          while (j < jEnd) {
            if (preceding(j).end <= ent.begin) add(entCues, i, preceding(j))
            j += 1
          }
          j = lowerBound(follBegins, ent.end)
          while (j < follBegins.length && follBegins(j) < starts(k + 1)) {
            add(entCues, i, following(j))
            j += 1
          }
          k += 1
        }
        i += 1
      }
      q += 1
    }
    out
  }

  /** For each bank (in order), for each entity (in input order), whether
    * the bank fires, plus the triggering cues.
    */
  def qualifyAll(
      text: String,
      tokens: Array[Token],
      sents: Array[Sent],
      ents: Seq[Ent]): IndexedSeq[Seq[(Boolean, Seq[Ent])]] =
    cues(text, tokens, sents, ents.toArray).toIndexedSeq.map(_.toSeq.map(c =>
      if (c == null) (false, Nil) else (true, c.toSeq)))

  /** [[qualifyAll]] of a one-bank engine. */
  def qualify(
      text: String,
      tokens: Array[Token],
      sents: Array[Sent],
      ents: Seq[Ent]): Seq[(Boolean, Seq[Ent])] = {
    require(bankArr.length == 1, "qualify needs a one-bank engine")
    qualifyAll(text, tokens, sents, ents).head
  }

  /** For each entity, one flag per bank. */
  def flags(
      text: String,
      tokens: Array[Token],
      sents: Array[Sent],
      ents: Seq[Ent]): Array[Array[Boolean]] = {
    val c = cues(text, tokens, sents, ents.toArray)
    Array.tabulate(ents.size)(i => Array.tabulate(bankArr.length)(b => c(b)(i) != null))
  }

  /** `ents` with each bank's flag written into its attrs, as
    * `bank name -> "true"/"false"`, in bank order.
    */
  def withFlags(ents: Seq[Ent], flags: Array[Array[Boolean]]): Seq[Ent] =
    if (bankArr.isEmpty) ents
    else ents.iterator.zip(flags.iterator).map { case (e, f) =>
      var attrs = e.attrs
      var b = 0
      while (b < bankArr.length) {
        attrs += bankArr(b).name -> f(b).toString
        b += 1
      }
      e.copy(attrs = attrs)
    }.toIndexedSeq

  /** Qualify and write every bank's flag into each entity's attrs. */
  def apply(
      text: String,
      tokens: Array[Token],
      sents: Array[Sent],
      ents: Seq[Ent]): Seq[Ent] =
    withFlags(ents, flags(text, tokens, sents, ents))
}

object RuleQualifier {

  private final val Pseudo = 0
  private final val Preceding = 1
  private final val Following = 2
  private final val Termination = 3
  private val RoleNames = Array("pseudo", "preceding", "following")

  /** Stable order of `filterSpans` when it drops nothing. */
  private val byBeginLongestFirst: Ordering[Ent] = new Ordering[Ent] {
    def compare(a: Ent, b: Ent): Int =
      if (a.begin != b.begin) Integer.compare(a.begin, b.begin)
      else Integer.compare(b.end - b.begin, a.end - a.begin)
  }

  /** Distinct sorted scope starts: sentence starts, termination cue
    * begins and the document end.
    */
  private def scopeStarts(
      sents: Array[Sent], cuts: ArrayBuffer[Int], docEnd: Int): Array[Int] = {
    val xs = new Array[Int](sents.length + cuts.length + 1)
    var n = 0
    sents.foreach { s => xs(n) = s.begin; n += 1 }
    cuts.foreach { c => xs(n) = c; n += 1 }
    xs(n) = docEnd
    java.util.Arrays.sort(xs)
    var m = 0
    var i = 0
    while (i < xs.length) {
      if (m == 0 || xs(i) != xs(m - 1)) { xs(m) = xs(i); m += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(xs, m)
  }

  private def add(hits: Array[ArrayBuffer[Ent]], i: Int, cue: Ent): Unit = {
    if (hits(i) == null) hits(i) = new ArrayBuffer[Ent](4)
    hits(i) += cue
  }

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
