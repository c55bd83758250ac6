package perfbench

/** Helpers shared by the traced segments of every workload. */
object Traced {

  /** Runs `body`; in a traced segment also returns the Spark counters it
    * added.
    */
  def spark[T](probe: Option[SparkProbe])(body: => T): (T, SparkCounters) =
    probe match {
      case Some(p) => p.measure(body)
      case None => (body, SparkCounters.zero)
    }

  /** The `spark` and `core` layer figures of a segment that did `units`
    * units of work: counts, times and bytes per unit, so they measure the
    * work of one unit rather than how many units the segment held.
    */
  def sparkLayers(c: SparkCounters, wallSeconds: Double,
      units: Int): Map[String, Double] = {
    val n = units.toDouble
    Map(
      "spark.jobs" -> c.jobs / n,
      "spark.stages" -> c.stages / n,
      "spark.tasks" -> c.tasks / n,
      "spark.plan_ms" -> c.planMs / n,
      "spark.task_s" -> c.taskMs / 1e3 / n,
      "spark.core_util" -> (if (wallSeconds > 0) c.taskMs / 1e3 / (wallSeconds * Main.cores) else 0.0),
      "spark.gc_s" -> c.gcMs / 1e3 / n,
      "spark.input_bytes" -> c.inputBytes / n,
      "spark.shuffle_bytes" -> c.shuffleBytes / n,
      "spark.spill_bytes" -> c.spillBytes / n,
      "core.spread_exchanges" -> c.spreadExchanges / n)
  }
}
