package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** RangeJoinRewrite: a declarative bounded-difference theta-join
  * (`b.t between a.t - W and a.t` with no equi key) must (a) stop
  * planning as a cartesian/nested-loop product once the rule is
  * installed, (b) return exactly the brute-force result — strict and
  * inclusive edges, two-sided windows, literal offsets, negatives,
  * duplicate rows, nulls — and (c) leave already-hash-joinable joins
  * and outer joins untouched.
  */
class RangeRewriteSpec extends AnyFunSuite {

  // deterministic times straddling zero and bucket boundaries (window 10):
  // exact multiples, off-by-one edges, duplicates
  private val lts: Seq[(Long, Long)] =
    Seq(1L -> -25L, 2L -> -20L, 3L -> -11L, 4L -> -1L, 5L -> 0L,
      6L -> 1L, 7L -> 9L, 8L -> 10L, 9L -> 10L /* dup */, 10L -> 23L,
      11L -> 100L)
  private val rts: Seq[(Long, Long)] =
    Seq(21L -> -30L, 22L -> -21L, 23L -> -20L, 24L -> -10L, 25L -> -1L,
      26L -> 0L, 27L -> 0L /* dup */, 28L -> 5L, 29L -> 10L, 30L -> 13L,
      31L -> 20L, 32L -> 99L)

  private def multiset(rows: Seq[(Long, Long)]): Map[(Long, Long), Int] =
    rows.groupBy(p => p).view.mapValues(_.size).toMap

  /** brute force: pairs with rt - lt in [lo, hi] (bounds on lt - rt are
    * the mirrored [-hi, -lo])
    */
  private def brute(lo: Long, hi: Long): Map[(Long, Long), Int] =
    multiset(for {
      (ia, ta) <- lts; (ib, tb) <- rts
      if tb - ta >= lo && tb - ta <= hi
    } yield (ia, ib))

  /** The candidate path must be HASH joins; product joins may appear
    * ONLY as the near-edge rescue limbs, which always sit behind a
    * filter on a Long-extreme literal (every realistic row avoids them).
    */
  private def assertBucketed(df: DataFrame, what: String): Unit = {
    val phys = df.queryExecution.executedPlan.toString
    val hashJoins = ("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r
      .findAllIn(phys).size)
    assert(hashJoins >= 1, s"$what plans no hash join:\n$phys")
    val products = ("CartesianProduct|BroadcastNestedLoopJoin".r
      .findAllIn(phys).size)
    if (products > 0)
      assert(phys.contains("92233720368547"), // a Long-edge literal digits
        s"$what: product join without an edge filter:\n$phys")
  }

  test("pure range theta-join rewrites to bucketed equi-joins: " +
      "no product plan, exact multiset incl. edges and duplicates") {
    val spark = TestSpark.spark
    import spark.implicits._
    val a = lts.toDF("id_a", "lt")
    val b = rts.toDF("id_b", "rt")
    // rt in [lt - 10, lt]
    val joined = a.join(b, $"rt" >= $"lt" - 10L && $"rt" <= $"lt")
    assertBucketed(joined, "one-sided window")
    assert(joined.queryExecution.executedPlan.toString.contains("Union"),
      "expected two disjoint bucket branches")
    val got = multiset(joined.select($"id_a", $"id_b")
      .as[(Long, Long)].collect().toSeq)
    assert(got === brute(-10L, 0L))
  }

  test("strict bounds tighten by one; two-sided windows and literal " +
      "offsets on either side are recognized") {
    val spark = TestSpark.spark
    import spark.implicits._
    val a = lts.toDF("id_a", "lt")
    val b = rts.toDF("id_b", "rt")
    val cases: Seq[(DataFrame, Long, Long, String)] = Seq(
      // rt > lt - 10 && rt < lt  ==>  rt - lt in [-9, -1]
      (a.join(b, $"rt" > $"lt" - 10L && $"rt" < $"lt"),
        -9L, -1L, "strict both ends"),
      // two-sided: rt in [lt - 10, lt + 5]
      (a.join(b, $"rt" >= $"lt" - 10L && $"rt" <= $"lt" + 5L),
        -10L, 5L, "two-sided"),
      // literal on the left expression instead: lt - 10 <= rt && rt <= lt
      (a.join(b, $"lt" - 10L <= $"rt" && $"rt" - 3L <= $"lt" - 3L),
        -10L, 0L, "offsets both sides"),
      // flipped comparison direction
      (a.join(b, $"lt" >= $"rt" && $"lt" <= $"rt" + 7L),
        -7L, 0L, "flipped"))
    for ((joined, lo, hi, what) <- cases) {
      assertBucketed(joined, what)
      val got = multiset(joined.select($"id_a", $"id_b")
        .as[(Long, Long)].collect().toSeq)
      assert(got === brute(lo, hi), what)
    }
  }

  test("pinned difference (hi == lo) becomes one equi-join branch " +
      "(plus the edge rescue limbs)") {
    val spark = TestSpark.spark
    import spark.implicits._
    val a = lts.toDF("id_a", "lt")
    val b = rts.toDF("id_b", "rt")
    val joined = a.join(b, $"rt" >= $"lt" - 10L && $"rt" <= $"lt" - 10L)
    assertBucketed(joined, "pinned difference")
    val phys = joined.queryExecution.executedPlan.toString
    assert(("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r
      .findAllIn(phys).size) === 1,
      s"pinned difference needs exactly one hash branch:\n$phys")
    val got = multiset(joined.select($"id_a", $"id_b")
      .as[(Long, Long)].collect().toSeq)
    assert(got === brute(-10L, -10L))
  }

  test("values near the Long edges flow through the rescue branches: " +
      "exact result where the naive bucket math would overflow") {
    val spark = TestSpark.spark
    import spark.implicits._
    // lt = Max-10 with window [lt+5, lt+20]: the USER's arithmetic
    // (lt+5, rt-20) never overflows for these rows, but the naive
    // bucket key (lt - lo = lt + 20) would — wrapping the row into a
    // far-away bucket (non-ANSI) or throwing on an expression the user
    // never wrote (ANSI). The margin guards route these rows to the
    // rescue limbs instead.
    val la = Seq(1L -> (Long.MaxValue - 10), 2L -> 100L,
      3L -> (Long.MaxValue - 40), 4L -> (Long.MinValue + 3))
    val rb = Seq(21L -> (Long.MaxValue - 3), 22L -> 110L,
      23L -> (Long.MaxValue - 25), 24L -> (Long.MinValue + 100))
    val a = la.toDF("id_a", "lt")
    val b = rb.toDF("id_b", "rt")
    val joined = a.join(b, $"rt" >= $"lt" + 5L && $"rt" - 20L <= $"lt")
    assertBucketed(joined, "long-edge values")
    val got = multiset(joined.select($"id_a", $"id_b")
      .as[(Long, Long)].collect().toSeq)
    // rt in [lt+5, lt+20] in ideal arithmetic (no user-expr overflow
    // for these rows)
    assert(got === multiset(Seq(1L -> 21L, 2L -> 22L, 3L -> 23L)),
      "the edge pair (1,21) is exactly the one naive bucketing loses")
  }

  test("null times never pair; extra conjuncts are preserved verbatim") {
    val spark = TestSpark.spark
    import spark.implicits._
    val a = (lts.map { case (i, t) => (i, Some(t)) } :+ (99L, None))
      .toDF("id_a", "lt")
    val b = (rts.map { case (i, t) => (i, Some(t)) } :+ (98L, None))
      .toDF("id_b", "rt")
    val joined = a.join(b,
      $"rt" >= $"lt" - 10L && $"rt" <= $"lt" && $"id_a" =!= 8L)
    assertBucketed(joined, "nulls + extra conjunct")
    val got = multiset(joined.select($"id_a", $"id_b")
      .as[(Long, Long)].collect().toSeq)
    val want = brute(-10L, 0L).filter { case ((ia, _), _) => ia != 8L }
    assert(got === want)
  }

  test("fall-through: an existing cross-side equi key, outer joins, and " +
      "one-bound-only conditions are left untouched") {
    val spark = TestSpark.spark
    import spark.implicits._
    val a = lts.map { case (i, t) => (i, t, i % 2) }.toDF("id_a", "lt", "ka")
    val b = rts.map { case (i, t) => (i, t, i % 2) }.toDF("id_b", "rt", "kb")
    // equi key present: already hash-joinable, no Union may appear
    val withKey = a.join(b,
      $"ka" === $"kb" && $"rt" >= $"lt" - 10L && $"rt" <= $"lt")
    assert(!withKey.queryExecution.executedPlan.toString.contains("Union"),
      "equi-keyed range join must not be rewritten")
    val gotKey = multiset(withKey.select($"id_a", $"id_b")
      .as[(Long, Long)].collect().toSeq)
    val wantKey = multiset(for {
      (ia, ta) <- lts; (ib, tb) <- rts
      if ia % 2 == ib % 2 && tb - ta >= -10L && tb - ta <= 0L
    } yield (ia, ib))
    assert(gotKey === wantKey)
    // left-outer: rule scope is inner/cross only — result must still be
    // the outer-join semantics (every left row present)
    val outer = a.join(b,
      $"rt" >= $"lt" - 10L && $"rt" <= $"lt", "left_outer")
    assert(outer.count() >= lts.size.toLong)
    // a single bound is not a window: no rewrite, result exact
    val oneBound = a.join(b, $"rt" <= $"lt")
    assert(!oneBound.queryExecution.executedPlan.toString.contains("Union"))
    assert(oneBound.count() ===
      (for { (_, ta) <- lts; (_, tb) <- rts if tb <= ta } yield 1).size
        .toLong)
  }

  test("timestamp windows with INTERVAL arithmetic rewrite and match " +
      "brute force; year-month intervals fall through") {
    val spark = TestSpark.spark
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    // click/view shape: every view within 15 min before each click,
    // with edge-exact matches at 0 and 900s
    val clicks = Seq((1L, ts(10000)), (2L, ts(10900)), (3L, ts(20000)))
      .toDF("click_id", "cts")
    val views = Seq((11L, ts(10000)), (12L, ts(10900)), (13L, ts(10001)),
      (14L, ts(9999)), (15L, ts(9100)), (16L, ts(9099)), (17L, ts(19100)))
      .toDF("view_id", "vts")
    val joined = clicks.join(views,
      $"vts".between($"cts" - expr("INTERVAL 15 MINUTES"), $"cts"))
    assertBucketed(joined, "timestamp window")
    assert(joined.queryExecution.executedPlan.toString.contains("Union"))
    val got = multiset(joined.select($"click_id", $"view_id")
      .as[(Long, Long)].collect().toSeq)
    val want = multiset(Seq(1L -> 11L, 1L -> 14L, 1L -> 15L, // 9100..10000
      2L -> 11L, 2L -> 12L, 2L -> 13L, // 10000..10900
      3L -> 17L)) // 19100..20000
    assert(got === want)
    // a year-month interval is not constant-width in micros: the rule
    // must NOT recognize it, and the (nested-loop) result is exact
    val ym = clicks.join(views,
      $"vts".between($"cts" - expr("INTERVAL 1 MONTH"), $"cts"))
    assert(!ym.queryExecution.executedPlan.toString.contains("Union"))
    assert(ym.count() === 4L + 6L + 7L) // views at or before each click
  }

  test("randomized equivalence against brute force (negatives, big " +
      "windows, clustered times)") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rnd = new scala.util.Random(4242)
    for (trial <- 1 to 4) {
      val w = Seq(1L, 3L, 17L, 1000L)(trial - 1)
      val la = (1L to 60L).map(i =>
        (i, rnd.nextLong() % (w * 4) - w * 2))
      val rb = (101L to 160L).map(i =>
        (i, rnd.nextLong() % (w * 4) - w * 2))
      val joined = la.toDF("id_a", "lt").join(rb.toDF("id_b", "rt"),
        $"rt" >= $"lt" - w && $"rt" <= $"lt")
      assertBucketed(joined, s"trial $trial")
      val got = multiset(joined.select($"id_a", $"id_b")
        .as[(Long, Long)].collect().toSeq)
      val want = multiset(for {
        (ia, ta) <- la; (ib, tb) <- rb
        if tb >= ta - w && tb <= ta
      } yield (ia, ib))
      assert(got === want, s"trial $trial window $w")
    }
  }
}
