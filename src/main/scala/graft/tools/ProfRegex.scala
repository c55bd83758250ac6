package graft.tools

/** Per-pattern pollution-regex cost on the real corpus (dev tool).
  * Iterates the LIVE bank (`Normalizer.defaultPollutionBank`) so the
  * numbers always describe the shipped patterns, and honours each
  * pattern's literal gate as `Normalizer.normalize` does: a text the
  * gate rules out costs only the literal scan (`skipped` counts them).
  */
object ProfRegex {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Sessions.local(4)
    val sample = graft.relational.Tables.documents(spark, sfDir)
      .select("text").limit(2000).collect().map(_.getString(0))
    graft.nlp.Normalizer.defaultPollutionBank.foreach { g =>
      val t0 = System.nanoTime()
      var hits = 0
      var skipped = 0
      sample.foreach { t =>
        if (g.mayMatch(t)) {
          val m = g.pattern.matcher(t)
          while (m.find()) hits += 1
        } else skipped += 1
      }
      val label = g.regex.replaceAll("\\s+", " ").take(48)
      println(f"PROFR ${(System.nanoTime() - t0) / 1e9}%8.3f s  hits=$hits%-4d " +
        f"skipped=$skipped%-4d $label")
    }
    spark.stop()
  }
}
