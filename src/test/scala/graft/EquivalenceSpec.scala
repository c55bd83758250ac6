package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Backend-equivalence analog (`/root/reference/tests/processing/
  * test_backends.py`): the declared queries produce identical results
  * regardless of parallelism — local[2] vs local[8], different shuffle
  * partition counts. Catches operators that accidentally depend on
  * partitioning or ordering.
  */
class EquivalenceSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"

  // NOTE: getOrCreate() reuses any active session and ignores master(),
  // so per-thread-count sessions can't be created safely mid-suite; vary
  // the runtime parallelism knob (shuffle partitions) on the shared
  // session instead — the partitioning-sensitivity this spec hunts for.
  private def runAll(shuffle: Int): Map[String, Seq[String]] = {
    val spark = TestSpark.spark
    spark.conf.set("spark.sql.shuffle.partitions", shuffle.toString)
    // the FULL declared surface (was a 54-query hand list through round
    // 11): every SparkEntry query must be partition-invariant, and a
    // new query joins the sweep the moment it is declared
    val sample = SparkEntry.queries.keys.toSeq.sorted
    try sample.map { name =>
      name -> SparkEntry.queries(name)(spark, sf)
        .collect().map(_.toString).sorted.toSeq
    }.toMap
    finally spark.conf.set("spark.sql.shuffle.partitions", "4")
  }

  // full-surface sweep incl. the composed oracles and every round's
  // layer (q69 exercises the iterative star-contraction under three
  // partitionings; the index queries rebuild+probe per partitioning)
  test("query results are identical under 3, 4, and 13 shuffle partitions") {
    val a = runAll(4)
    val b = runAll(13)
    val c = runAll(3)
    a.keys.foreach { name =>
      assert(a(name) === b(name), s"$name differs at 13 partitions")
      assert(a(name) === c(name), s"$name differs at 3 partitions")
    }
  }

  test("spread repartitions a single-file scan but not a multi-file one") {
    // a query's conditional spread (Spread.cpuFloor) must insert its
    // round-robin exchange ONLY when the scan arrives under-split (one
    // small parquet file); a fragmented source (the 100 TB case) must
    // pass through untouched
    val spark = TestSpark.spark
    val docs = relational.Tables.documents(spark, sf)
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-spread").toString
    docs.coalesce(1).write.mode("overwrite")
      .parquet(s"$tmp/one/documents.parquet")
    docs.repartition(8).write.mode("overwrite")
      .parquet(s"$tmp/many/documents.parquet")
    def plan(dir: String): String =
      SparkEntry.queries("q22_ents_explode")(spark, dir)
        .queryExecution.executedPlan.toString
    assert(plan(s"$tmp/one").contains("RoundRobinPartitioning"),
      "single-file scan should be spread across cores")
    assert(!plan(s"$tmp/many").contains("RoundRobinPartitioning"),
      "multi-file scan must not pay a spurious repartition shuffle")
    // identity of results across both layouts
    val a = SparkEntry.queries("q22_ents_explode")(spark, s"$tmp/one")
      .collect().map(_.toString).sorted.toSeq
    val b = SparkEntry.queries("q22_ents_explode")(spark, s"$tmp/many")
      .collect().map(_.toString).sorted.toSeq
    assert(a === b)
  }

  test("typed PRF aggregator matches hand arithmetic") {
    val spark = TestSpark.spark
    import spark.implicits._
    import graft.metrics.PrfAggregator._
    val ds = Seq(
      SpanOutcome(true, true), SpanOutcome(true, true),
      SpanOutcome(true, false), SpanOutcome(false, true))
      .toDS()
    val got = ds.select(prf.toColumn).head()
    assert(got.tp === 2 && got.nPred === 3 && got.nGold === 3)
    assert(math.abs(got.f1 - 2.0 / 3.0) < 1e-12)
    assert(averagePrecision(Seq((0.9, true), (0.8, false), (0.7, true)))
      === (1.0 + 2.0 / 3.0) / 2)
  }
}
