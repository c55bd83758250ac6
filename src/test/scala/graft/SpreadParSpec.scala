package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Par, Spread}

/** The engine's parallelism policy: `Spread` spreads only an under-split
  * narrow scan (and only a large probe batch), answers every other frame
  * without running a job, and `Par.run` settles every branch before it
  * rethrows.
  */
class SpreadParSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft-spread-spec")
      .toString
    val rows = (1L to 200L).map(i => (i, s"doc $i", i % 3))
      .toDF("doc_id", "text", "grp")
    rows.coalesce(1).write.parquet(s"$d/one")
    rows.repartition(8).write.parquet(s"$d/many")
    d
  }
  private def cores: Int = spark.sparkContext.defaultParallelism
  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString
  private def spreadTo(df: DataFrame): Option[Int] =
    "RoundRobinPartitioning\\((\\d+)\\)".r.findFirstMatchIn(plan(df))
      .map(_.group(1).toInt)

  test("an under-split narrow scan gains one round-robin exchange") {
    val one = spark.read.parquet(s"$dir/one")
    assert(one.rdd.getNumPartitions < cores)
    val chain = one.filter($"doc_id" > 10L).select($"doc_id", $"text")
    assert(spreadTo(chain).isEmpty)
    val spread = Spread.cpuFloor(chain)
    assert(spreadTo(spread) === Some(cores))
    assert(spread.collect().toSet === chain.collect().toSet)
  }

  test("a scan with at least defaultParallelism splits keeps its plan") {
    val many = spark.read.parquet(s"$dir/many")
      .select($"doc_id", $"text")
    assert(many.rdd.getNumPartitions >= cores)
    assert(Spread.cpuFloor(many) eq many)
  }

  test("a non-narrow plan comes back unchanged without running a job") {
    val one = spark.read.parquet(s"$dir/one")
    val agg = one.groupBy($"grp").agg(count(lit(1)).as("n"))
    val joined = one.join(one.select($"doc_id", $"grp".as("g2")), "doc_id")
    val group = s"spread-spec-${System.nanoTime()}"
    val jobs = new ConcurrentLinkedQueue[String]()
    val markerSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null &&
            j.properties.getProperty("spark.jobGroup.id") == group) {
          val desc = j.properties.getProperty("spark.job.description")
          if (desc == "marker") markerSeen.countDown() else jobs.add(desc)
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "decide")
      assert(Spread.cpuFloor(agg) eq agg)
      assert(Spread.cpuFloor(joined) eq joined)
      // listener events arrive in order: once the marker job is seen,
      // every job the decisions submitted has been seen too
      sc.setJobDescription("marker")
      spark.range(1).count()
      assert(markerSeen.await(60, TimeUnit.SECONDS), "marker job not seen")
      assert(jobs.isEmpty, s"the spread decision ran ${jobs.size} job(s)")
    } finally {
      sc.clearJobGroup()
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
  }

  test("probe batches spread only from max(1024, 32 * cores) rows") {
    val gate = math.max(1024L, 32L * cores)
    val batch = spark.read.parquet(s"$dir/one")
    assert(Spread.probeBatch(batch, gate - 1) eq batch)
    assert(spreadTo(Spread.probeBatch(batch, gate)) === Some(cores))
    assert(spreadTo(Spread.probeBatch(batch, 10 * gate)) === Some(cores))
  }

  test("Par.run runs a single task inline on the calling thread") {
    var ranOn: Thread = null
    Par.run(() => ranOn = Thread.currentThread())
    assert(ranOn eq Thread.currentThread())
    assertThrows[IllegalArgumentException](Par.run())
  }

  test("Par.run runs every branch, each on its own thread") {
    val n = new AtomicInteger(0)
    val threads = new ConcurrentLinkedQueue[Thread]()
    val branch: () => Unit = () => {
      threads.add(Thread.currentThread()); n.incrementAndGet()
    }
    Par.run(branch, branch, branch)
    assert(n.get === 3)
    assert(!threads.contains(Thread.currentThread()))
  }

  test("Par.run rethrows the first failure only after all branches settle") {
    val slowDone = new AtomicBoolean(false)
    val thrown = intercept[IllegalStateException] {
      Par.run(
        () => { Thread.sleep(100); throw new IllegalStateException("first") },
        () => throw new IllegalArgumentException("second"),
        () => { Thread.sleep(500); slowDone.set(true) })
    }
    assert(thrown.getMessage === "first")
    assert(slowDone.get, "rethrew before the slow branch settled")
  }
}
