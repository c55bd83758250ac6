package graft.tools

import java.util.regex.Pattern

import graft.nlp.{Lead, Normalizer, Patterns, RegexMatcher}

/** Per-pattern cost of the shipped whole-text regex scans on the real
  * corpus (dev tool): the LIVE pollution bank
  * (`Normalizer.defaultPollutionBank`) and the qualifier cue regexes of
  * the shipped banks, so the numbers always describe the shipped
  * patterns and leads. Each pattern is timed through the plain `find`
  * loop and through `Lead.scan`, the lead-driven scan the engine runs,
  * and its hits are printed (with find's count too if they differ).
  *
  * Usage: `ProfRegex [sfDir]` (documents of the sf dir, 2,000 texts).
  */
object ProfRegex {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Sessions.local(4)
    val sample = graft.relational.Tables.documents(spark, sfDir)
      .select("text").limit(2000).collect().map(_.getString(0))
    spark.stop()
    profile(sample)
  }

  /** The shipped scans: regex, compiled pattern and lead. */
  private def scans: Seq[(String, Pattern, Lead)] =
    Normalizer.defaultPollutionBank.map(s => (s.regex, s.pattern, s.lead)) ++
      Seq(Patterns.negation, Patterns.family, Patterns.hypothesis,
        Patterns.reportedSpeech, Patterns.history)
        .flatMap(q => q.precedingRegex ++ q.containingRegex)
        .map(r => (r, Pattern.compile(r, RegexMatcher.DefaultFlags),
          RegexMatcher.leadOf(r, RegexMatcher.DefaultFlags)))

  /** Prints, per shipped scan, µs per text through `find` and through
    * `Lead.scan` (median of `rounds` timed passes over `texts`, after
    * three warm-up rounds; each round times every scan both ways) and
    * the hits; then the totals.
    */
  def profile(texts: Array[String], rounds: Int = 5): Unit = {
    def findHits(p: Pattern)(t: String): Int = {
      val m = p.matcher(t)
      var h = 0
      while (m.find()) h += 1
      h
    }
    def leadHits(p: Pattern, lead: Lead)(t: String): Int = {
      var h = 0
      Lead.scan(p, lead, t)(_ => h += 1)
      h
    }
    def pass(f: String => Int): (Double, Int) = {
      val t0 = System.nanoTime()
      var hits = 0
      texts.foreach(t => hits += f(t))
      ((System.nanoTime() - t0) / 1e3 / texts.length, hits)
    }
    val all = scans
    val runs = (1 to 3 + rounds).map(_ => all.map { case (_, p, lead) =>
      (pass(findHits(p)), pass(leadHits(p, lead)))
    }).drop(3)
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    var findTotal = 0.0
    var leadTotal = 0.0
    all.indices.foreach { i =>
      val findUs = median(runs.map(_(i)._1._1))
      val leadUs = median(runs.map(_(i)._2._1))
      val (findHits, hits) = (runs.head(i)._1._2, runs.head(i)._2._2)
      findTotal += findUs
      leadTotal += leadUs
      val differ = if (hits == findHits) "" else s" (find: $findHits)"
      val label = all(i)._1.replaceAll("\\s+", " ").take(48)
      println(f"PROFR find $findUs%8.2f us  lead $leadUs%8.2f us  " +
        f"hits=$hits%-5d$differ $label")
    }
    println(f"PROFR total find $findTotal%8.2f us  lead $leadTotal%8.2f us " +
      s"per text over ${texts.length} texts")
  }
}
