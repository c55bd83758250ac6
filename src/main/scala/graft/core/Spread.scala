package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, Project, Filter, SubqueryAlias}

/** The engine's one parallelism policy, and with the brat source's input
  * partitioning the only reader of `defaultParallelism`. A small corpus
  * arrives as ONE parquet split (guide §2.5 "input skew"), so a CPU-dense
  * map stage (MinHash, postings explode, ADC scoring, annotate) runs
  * single-task however many cores the session has; one round-robin
  * exchange of the raw rows spreads it. At real scale the scan already
  * has >= cores splits and this is a NO-OP. Blanket spreading measured
  * a net LOSS (a ~0.15-0.35 s stage pays ~0.1-0.3 s of exchange and
  * scheduling), so it is applied only where a paired A/B measured a
  * win: stages of ≥ ~1 s single-task CPU on 32 cores (OPTIMIZATION_r18)
  * and ≥ ~0.6 s on 4 cores (CHANGES.md). Sites, before → after (s):
  *  - [[cpuFloor]]: q88 `Bm25.buildIndex` 4.17 → 1.87, q69
  *    `verifiedNearDupPairsOf` 2.45 → 1.71, q33 `nearDuplicatesPortable`
  *    1.11 → 0.59, q134 fingerprints 1.06 → 0.92, q102p
  *    `Dedup.buildNearDupIndex` 0.86 → 0.64 (OPTIMIZATION_r18); q89
  *    entry + pool 4.60 → 3.4 (VERDICT, with its dedup rewrite); the
  *    annotate of q22 1.04 → 0.76, q23 1.02 → 0.62, q65 1.01 → 0.59,
  *    q68 5.2 → 2.1 and q72 1.15 → 0.55 (CHANGES.md).
  *  - [[probeBatch]]: q105 `Pq.probePqIndex` 4.0 → 3.0, q76
  *    `Ann.probeIvfIndex` 1.97 → 1.88 (OPTIMIZATION_r18).
  */
object Spread {

  /** True when the analyzed plan is a narrow chain over leaves (scan +
    * project/filter/alias). Only there is `df.rdd.getNumPartitions` a
    * free question — on a plan with exchanges (joins, aggregates) AQE
    * must EXECUTE the intermediate stages to answer it (measured: the
    * gate itself silently ran q89's whole gate+dedup subtree), and such
    * frames inherit their parallelism from upstream anyway.
    */
  private def narrowOverLeaf(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
    p match {
      case _: LeafNode           => true
      case Project(_, c)         => narrowOverLeaf(c)
      case Filter(_, c)          => narrowOverLeaf(c)
      case SubqueryAlias(_, c)   => narrowOverLeaf(c)
      case _                     => false
    }

  /** Spread a narrow scan chain with fewer partitions than cores; any
    * other frame comes back unchanged, without running a job.
    */
  def cpuFloor(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (narrowOverLeaf(df.queryExecution.analyzed) &&
        df.rdd.getNumPartitions < p) df.repartition(p)
    else df
  }

  /** Spread an index probe's batch of `rows` probe rows only when it is
    * LARGE: with the KB-sized index side broadcast, scoring runs on the
    * batch's partitioning (one task on a single split, 0.9-1.3 s at
    * sf0.1), while for point lookups the exchange costs more than it
    * buys (+0.3 s on q105p when applied unconditionally).
    */
  def probeBatch(batch: DataFrame, rows: Long): DataFrame = {
    val p = batch.sparkSession.sparkContext.defaultParallelism
    if (rows >= math.max(1024, 32L * p)) batch.repartition(p) else batch
  }
}
