package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** HammingJoinRewrite: a declarative `bit_count(a ^ b) <= r` theta-join
  * must (a) stop planning as a cartesian product once the rule is
  * installed, (b) return exactly the brute-force result — boundary
  * radii, duplicate fingerprints, nulls — and (c) leave joins that are
  * already hash-joinable untouched.
  */
class HammingRewriteSpec extends AnyFunSuite {

  // deterministic 64-bit fingerprints with controlled pairwise distances
  private val fps: Seq[(Long, Long)] = {
    val base = 0x0123456789ABCDEFL
    Seq(
      1L -> base,
      2L -> base, // identical to 1: agrees on EVERY band
      3L -> (base ^ 0x7L), // hamming 3 from base, all in band 0
      4L -> (base ^ 0x8000000000000001L), // hamming 2, opposite ends
      5L -> (base ^ 0xFFL), // hamming 8 from base
      6L -> ~base // hamming 64
    )
  }

  private def brute(radius: Int): Set[(Long, Long)] =
    (for {
      (ia, fa) <- fps; (ib, fb) <- fps
      if ia < ib && java.lang.Long.bitCount(fa ^ fb) <= radius
    } yield (ia, ib)).toSet

  test("theta-join rewrites to band equi-joins: no cartesian, exact result") {
    val spark = TestSpark.spark
    import spark.implicits._
    val a = fps.toDF("id_a", "fp_a")
    val b = fps.toDF("id_b", "fp_b")
    for (radius <- Seq(0, 2, 3, 8)) {
      val joined = a.crossJoin(b)
        .filter(bit_count($"fp_a".bitwiseXOR($"fp_b")) <= radius &&
          $"id_a" < $"id_b")
      val phys = joined.queryExecution.executedPlan.toString
      assert(!phys.contains("CartesianProduct") &&
        !phys.contains("BroadcastNestedLoopJoin"),
        s"radius $radius still plans a product join:\n$phys")
      // radius 0 is a single exact-equality join — no union needed
      if (radius > 0)
        assert(phys.contains("Union"), s"radius $radius: no band union")
      val got = joined.select($"id_a", $"id_b").as[(Long, Long)]
        .collect().toSet
      assert(got === brute(radius), s"radius $radius")
    }
  }

  test("identical fingerprints (all bands agree) emit exactly one pair row") {
    val spark = TestSpark.spark
    import spark.implicits._
    val a = fps.toDF("id_a", "fp_a")
    val b = fps.toDF("id_b", "fp_b")
    val rows = a.crossJoin(b)
      .filter(bit_count($"fp_a".bitwiseXOR($"fp_b")) <= lit(4) &&
        $"id_a" === 1L && $"id_b" === 2L)
      .count()
    assert(rows === 1L, "first-agreeing-band branches must be disjoint")
  }

  test("strict/flipped comparison forms rewrite too") {
    val spark = TestSpark.spark
    import spark.implicits._
    val a = fps.toDF("id_a", "fp_a")
    val b = fps.toDF("id_b", "fp_b")
    val strict = a.crossJoin(b)
      .filter(bit_count($"fp_a".bitwiseXOR($"fp_b")) < 3 &&
        $"id_a" < $"id_b")
    assert(!strict.queryExecution.executedPlan.toString
      .contains("CartesianProduct"))
    assert(strict.select($"id_a", $"id_b").as[(Long, Long)]
      .collect().toSet === brute(2))
    val flipped = a.crossJoin(b)
      .filter(lit(3) >= bit_count($"fp_a".bitwiseXOR($"fp_b")) &&
        $"id_a" < $"id_b")
    assert(flipped.select($"id_a", $"id_b").as[(Long, Long)]
      .collect().toSet === brute(3))
  }

  test("null fingerprints never match, with and without the rewrite") {
    val spark = TestSpark.spark
    import spark.implicits._
    val a = Seq((1L, Some(5L)), (2L, None)).toDF("id_a", "fp_a")
    val b = Seq((10L, Some(5L)), (11L, None)).toDF("id_b", "fp_b")
    val got = a.crossJoin(b)
      .filter(bit_count($"fp_a".bitwiseXOR($"fp_b")) <= 2)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 10L)))
  }

  test("a join with an existing equi-key is left untouched") {
    val spark = TestSpark.spark
    import spark.implicits._
    val a = fps.toDF("id_a", "fp_a").withColumn("k", $"id_a" % 2)
    val b = fps.toDF("id_b", "fp_b").withColumn("k2", $"id_b" % 2)
    val joined = a.join(b, $"k" === $"k2" &&
      bit_count($"fp_a".bitwiseXOR($"fp_b")) <= 8)
    val phys = joined.queryExecution.executedPlan.toString
    assert(!phys.contains("Union"),
      "hash-joinable join must not be banded")
    // and it still computes the right pairs
    val got = joined.select($"id_a", $"id_b").as[(Long, Long)]
      .collect().toSet
    val expect = (for {
      (ia, fa) <- fps; (ib, fb) <- fps
      if ia % 2 == ib % 2 && java.lang.Long.bitCount(fa ^ fb) <= 8
    } yield (ia, ib)).toSet
    assert(got === expect)
  }

  test("outer joins are never banded (rule scope is inner/cross only)") {
    val spark = TestSpark.spark
    import spark.implicits._
    val a = fps.toDF("id_a", "fp_a")
    val b = fps.toDF("id_b", "fp_b")
    val joined = a.join(b,
      bit_count($"fp_a".bitwiseXOR($"fp_b")) <= 3, "left_outer")
    assert(!joined.queryExecution.executedPlan.toString.contains("Union"))
    // every left row survives; unmatched ones carry nulls
    assert(joined.count() >= fps.size)
    val gotPairs = joined.filter($"id_b".isNotNull)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val expect = (for {
      (ia, fa) <- fps; (ib, fb) <- fps
      if java.lang.Long.bitCount(fa ^ fb) <= 3
    } yield (ia, ib)).toSet
    assert(gotPairs === expect)
  }

  test("oversized radius falls through to the default plan") {
    val spark = TestSpark.spark
    import spark.implicits._
    val a = fps.toDF("id_a", "fp_a")
    val b = fps.toDF("id_b", "fp_b")
    val joined = a.crossJoin(b)
      .filter(bit_count($"fp_a".bitwiseXOR($"fp_b")) <= 40)
    assert(!joined.queryExecution.executedPlan.toString.contains("Union"))
    assert(joined.count() ===
      fps.flatMap(x => fps.map(y => (x, y))).count {
        case ((_, fa), (_, fb)) => java.lang.Long.bitCount(fa ^ fb) <= 40
      })
  }
}
