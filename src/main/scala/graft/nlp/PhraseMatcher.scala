package graft.nlp

import scala.collection.mutable.ArrayBuffer

/** Multi-term exact matcher over the token stream, the Spark-side
  * re-expression of the reference's compiled phrase matcher
  * (`/root/reference/edsnlp/matchers/phrase.pyx:25-171`): terminology terms
  * are tokenized + normalized once into a token-level trie; matching walks
  * the document's non-space, non-excluded tokens, yielding every (possibly
  * overlapping) occurrence as a char span.
  *
  * Distribution model: the matcher object is built once on the driver and
  * captured in the UDF closure — Spark ships it to each executor once per
  * stage (equivalent to a broadcast hash join of token n-grams against the
  * terminology; with multi-GB terminologies, switch to an explicit
  * `SparkContext.broadcast`). Matching is row-local: no shuffle.
  */
final class PhraseMatcher private (
    root: PhraseMatcher.Node,
    labelNames: Array[String],
    attrNorm: Boolean) extends Serializable {
  import PhraseMatcher._

  /** Every trie hit, in walk order: by first token, then by last token,
    * then in the node's label order (the reverse of the build order).
    * Hit `h` spans tokens `first(h)..last(h)` and carries the label id
    * `label(h)`, the label's position in the build's term list.
    */
  private[nlp] def walk(tokens: Array[Token]): Hits = {
    // visible = indices of matchable tokens, in order
    val visible = new Array[Int](tokens.length)
    var nv = 0
    var i = 0
    while (i < tokens.length) {
      val t = tokens(i)
      if (!t.excluded && !Normalizer.isSpace(t)) { visible(nv) = i; nv += 1 }
      i += 1
    }
    val hits = new Hits
    var s = 0
    while (s < nv) {
      var node = root
      var j = s
      while (j < nv && node != null) {
        val tok = tokens(visible(j))
        node = node.children.get(if (attrNorm) tok.norm else tok.text)
        if (node != null) {
          var k = 0
          while (k < node.labels.length) {
            hits.add(visible(s), visible(j), node.labels(k))
            k += 1
          }
          j += 1
        }
      }
      s += 1
    }
    hits
  }

  def findMatches(tokens: Array[Token], text: String): Seq[Ent] = {
    val hits = walk(tokens)
    val out = new ArrayBuffer[Ent](hits.size)
    var h = 0
    while (h < hits.size) {
      val b = tokens(hits.first(h)).begin
      val e = tokens(hits.last(h)).end
      out += Ent(b, e, labelNames(hits.label(h)), safeSlice(text, b, e))
      h += 1
    }
    out.toSeq
  }
}

object PhraseMatcher {
  private[nlp] final class Node extends Serializable {
    val children = new java.util.HashMap[String, Node]
    var labels: Array[Int] = Array.emptyIntArray
  }

  /** Growable (first token, last token, label id) triples. */
  private[nlp] final class Hits {
    var size = 0
    var first = new Array[Int](16)
    var last = new Array[Int](16)
    var label = new Array[Int](16)

    def add(f: Int, l: Int, lab: Int): Unit = {
      if (size == first.length) {
        first = java.util.Arrays.copyOf(first, size * 2)
        last = java.util.Arrays.copyOf(last, size * 2)
        label = java.util.Arrays.copyOf(label, size * 2)
      }
      first(size) = f
      last(size) = l
      label(size) = lab
      size += 1
    }
  }

  private[nlp] def safeSlice(text: String, b: Int, e: Int): String =
    if (text == null || b < 0 || e > text.length) "" else text.substring(b, e)

  /** Build from label -> terms. Terms are tokenized and normalized with the
    * same pipeline as documents so "sans doute" matches across any
    * whitespace.
    */
  def build(
      terms: Map[String, Seq[String]],
      attrNorm: Boolean = true,
      normOpts: Normalizer.Options = Normalizer.Options()): PhraseMatcher =
    buildLabelled(terms.toSeq, attrNorm, normOpts)

  /** Build from (label, terms) pairs; label id `i` is the `i`-th pair, so
    * two pairs may share a label name and still be told apart by
    * [[PhraseMatcher.walk]].
    */
  private[nlp] def buildLabelled(
      terms: Seq[(String, Seq[String])],
      attrNorm: Boolean,
      normOpts: Normalizer.Options): PhraseMatcher = {
    val root = new Node
    terms.iterator.zipWithIndex.foreach { case ((_, termList), id) =>
      termList.foreach { term =>
        val toks = Normalizer
          .normalize(term, Tokenizer.tokenize(term), normOpts)
          .filter(t => !t.excluded && !Normalizer.isSpace(t))
        if (toks.nonEmpty) {
          var node = root
          toks.foreach { t =>
            val key = if (attrNorm) t.norm else t.text
            node = node.children.computeIfAbsent(key, _ => new Node)
          }
          node.labels = id +: node.labels
        }
      }
    }
    new PhraseMatcher(root, terms.map(_._1).toArray, attrNorm)
  }
}
