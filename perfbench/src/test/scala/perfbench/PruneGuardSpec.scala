package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The timed action must run every UDF and generator of the query it
  * times. A bare `count()` lets the optimizer prune them: q20 and q21
  * reduce to a count over a projection of the scan, and q58 drops half of
  * its UDF calls.
  */
class PruneGuardSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val root = sys.props("perfbench.root")
  private val data = s"$root/perfbench/data/sf0.001"
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    new File(sys.props("java.io.tmpdir")).mkdirs()
    spark = Main.session(s"$root/.bench_build/test-work")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def query(q: String): DataFrame = graft.SparkEntry.queries(q)(spark, data)

  private def kept(df: DataFrame): (Int, Int) =
    TimedAction.udfsAndGenerators(df.queryExecution.optimizedPlan)

  for (q <- Seq("q20_token_count", "q21_phrase_hits", "q58_semantic_dedup"))
    test(s"the timed action keeps every UDF and Generate node of $q") {
      val df = query(q)
      val (udfs, gens) = kept(df)
      assert(udfs + gens > 0, s"$q has no UDF or generator to keep")
      val (tUdfs, tGens) = kept(TimedAction.digestPlan(df))
      assert(tUdfs >= udfs, s"$q: $tUdfs of $udfs UDF calls left")
      assert(tGens >= gens, s"$q: $tGens of $gens Generate nodes left")
    }

  test("a bare count() would prune them, so the guard above can fail") {
    Seq("q20_token_count", "q21_phrase_hits").foreach { q =>
      val df = query(q)
      val (udfs, gens) = kept(df)
      val (cUdfs, cGens) = kept(df.groupBy().count())
      assert(cUdfs + cGens < udfs + gens, s"$q: count() kept everything")
    }
  }

  test("the digest is order-free and covers every column") {
    val s = spark
    import s.implicits._
    val a = Seq((1L, "x", Map("k" -> 1)), (2L, "y", Map("k" -> 2))).toDF("id", "s", "m")
    val b = a.orderBy($"id".desc)
    assert(TimedAction.run(a) === TimedAction.run(b))
    val c = Seq((1L, "x", Map("k" -> 1)), (2L, "z", Map("k" -> 2))).toDF("id", "s", "m")
    assert(TimedAction.run(a)._2 !== TimedAction.run(c)._2)
    assert(TimedAction.run(a.limit(0)) === ((0L, 0L)))
  }
}
