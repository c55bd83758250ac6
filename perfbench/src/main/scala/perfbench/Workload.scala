package perfbench

import org.apache.spark.sql.SparkSession

/** What the benchmark hands every workload. */
final case class Ctx(seed: Long, dataDir: String, workDir: String)

/** One measured segment of a workload.
  *
  * @param latencies  the samples latency percentiles are taken over:
  *                   one per pass (note_nlp), one per query of the mix, its
  *                   median over the segment's passes (query_mix)
  * @param items      units of work done (documents, queries)
  * @param busySeconds time spent inside timed regions
  * @param attempted  checked operations
  * @param failed     operations that threw or returned a wrong output
  * @param layers     per-layer figures of the segment (traced segments)
  */
final case class Segment(latencies: Seq[Double], items: Long,
    busySeconds: Double, attempted: Int, failed: Int,
    contendedOps: Seq[String], failures: Seq[String],
    layers: Map[String, Double] = Map.empty,
    details: Map[String, Any] = Map.empty) {

  /** Nearest-rank `p`-th percentile of [[latencies]]. */
  def latency(p: Double): Double = Stats.percentile(latencies, p)

  def itemsPerSecond: Double = items / busySeconds
}

trait Workload {
  def name: String

  /** Writes the seed's inputs; not part of any timed figure. */
  def generate(spark: SparkSession): Unit

  /** The workload's own share of set-up (pipeline build, table init);
    * timed inside `setup_s` together with session start and warm-up.
    */
  def setup(spark: SparkSession, rep: Int): Unit

  /** Tables or files the warm-up reads in full. */
  def warmInputs(spark: SparkSession): Seq[org.apache.spark.sql.DataFrame]

  /** Seconds one unit of work (a pass) takes on the reference
    * host. A run of S seconds measures [[units]] of them.
    */
  def unitSeconds: Double

  /** Units of work measured in `seconds`, fixed from `seconds` alone: every
    * run of the same length takes its statistics over the same number of
    * samples, whatever the engine's speed.
    */
  final def units(seconds: Double): Int =
    math.max(1, math.round(seconds / unitSeconds).toInt)

  /** Runs `units` whole units of work. */
  def measure(spark: SparkSession, units: Int, tracer: Tracer,
      probe: Option[SparkProbe], sentinel: Sentinel): Segment
}
