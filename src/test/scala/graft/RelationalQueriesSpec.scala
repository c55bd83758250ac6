package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object TestSpark {
  lazy val spark: SparkSession = Sessions.local(4)
  val sf: String = "/root/testdata/sf0.001"
}

class RelationalQueriesSpec extends AnyFunSuite {
  import TestSpark._

  test("every declared query runs and is non-empty at sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      assert(n > 0, s"$name returned 0 rows")
    }
  }

  test("every query with an oracle has matching column names") {
    // cheap guard against the alias-mismatch failure mode: oracle SQL must
    // mention every output column name of the Spark result.
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      val cols = SparkEntry.queries(name)(spark, sf).columns
      cols.foreach { c =>
        assert(sql.toLowerCase.contains(c.toLowerCase),
          s"$name: column $c not mentioned in oracle SQL")
      }
    }
  }

  test("q1 pricing summary values are exact at sf0.001") {
    val rows = SparkEntry.queries("q1_pricing_summary")(spark, sf).collect()
    assert(rows.length === 6)
    val total = rows.map(_.getAs[Long]("count_order")).sum
    assert(total === 6000L)
  }

  test("asof join attaches the latest prior error") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val left = Seq((1L, "u", 100L), (2L, "u", 50L), (3L, "v", 10L))
      .toDF("id", "k", "t").withColumn("t", timestamp_micros($"t"))
    val right = Seq((10L, "u", 60L), (11L, "u", 90L), (12L, "w", 5L))
      .toDF("rid", "rk", "rt").withColumn("rt", timestamp_micros($"rt"))
    val got = operators.AsOfJoin.backward(left, right,
        $"k", $"rk", $"t", $"rt", Seq($"rid"))
      .select($"id", $"rid").collect().map(r =>
        (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long])))
      .toMap
    assert(got(1L) === Some(11L)) // latest of 60,90 <= 100
    assert(got(2L) === None)      // no error <= 50
    assert(got(3L) === None)      // no key match
  }

  test("interval join equals brute force incl. window edges and outer rows") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val w = 100L // micros
    // edges: rt = lt - w (inclusive), rt = lt (inclusive), rt just
    // outside both ends; a key-only match far away; an unmatched key;
    // and a "hot key" burst crossing a bucket boundary.
    val left = Seq((1L, "u", 1000L), (2L, "u", 250L), (3L, "z", 500L)) ++
      (10L to 29L).map(i => (i, "hot", 10000L + i * 7)) ++
      // pre-epoch times: truncated-div bucketing must stay correct
      Seq((30L, "n", -1000L), (31L, "n", -50L))
    val right = Seq((100L, "u", 900L), (101L, "u", 1000L),
      (102L, "u", 899L), (103L, "u", 1001L), (104L, "w", 950L)) ++
      (200L to 239L).map(i => (i, "hot", 9900L + i)) ++
      Seq((300L, "n", -1100L), (301L, "n", -1000L), (302L, "n", -120L),
        (303L, "n", -151L))
    val l = left.toDF("id", "k", "t")
      .withColumn("t", timestamp_micros($"t"))
    val r = right.toDF("rid", "rk", "rt")
      .withColumn("rt", timestamp_micros($"rt"))
    val got = operators.IntervalJoin.pairs(l, r, "k", "rk", "t", "rt", w)
      .select($"id", $"rid").as[(Long, Long)].collect().toSet
    val brute = (for {
      (id, k, t) <- left
      (rid, rk, rt) <- right
      if k == rk && rt >= t - w && rt <= t
    } yield (id, rid)).toSet
    assert(got === brute)
    assert(brute.contains((1L, 100L)) && brute.contains((1L, 101L)))
    assert(!brute.exists(p => p._2 == 102L || p._2 == 103L))
    // left outer: every left id appears; unmatched ids exactly once with
    // a null right side
    val outer = operators.IntervalJoin
      .pairs(l, r, "k", "rk", "t", "rt", w, leftOuter = true)
      .select($"id", $"rid").collect()
      .map(row => (row.getLong(0), Option(row.get(1))))
    assert(outer.map(_._1).toSet === left.map(_._1).toSet)
    val unmatched = left.map(_._1).toSet -- brute.map(_._1)
    unmatched.foreach { id =>
      assert(outer.count(_._1 == id) === 1 &&
        outer.find(_._1 == id).get._2.isEmpty, s"left id $id")
    }
    assert(outer.count(_._2.isDefined) === brute.size)
  }

  test("salted join equals the plain join, incl. duplicate multiplicity") {
    import spark.implicits._
    // one hot key (10k distinct rows), a few cold keys, duplicate build
    // rows to pin multiplicity
    val probe = ((0L until 10000L).map(i => ("hot", i)) ++
      Seq(("a", -1L), ("a", -2L), ("b", -3L), ("orphan", -4L)))
      .toDF("k", "pv")
    val build = Seq(("hot", 1L), ("hot", 2L), ("a", 3L), ("b", 4L),
      ("b", 4L), ("c", 5L)).toDF("bk", "bv")
    val salted = operators.SkewJoin.salted(probe, build, "k", "bk", 16)
    assert(salted.queryExecution.executedPlan.toString.contains("__salt"),
      "join keys must include the salt")
    def counts(df: org.apache.spark.sql.DataFrame) =
      df.select($"k", $"pv", $"bv").as[(String, Long, Long)]
        .collect().groupBy(identity).view.mapValues(_.length).toMap
    val plain = probe.join(build, $"k" === $"bk")
    assert(counts(salted) === counts(plain))
    assert(salted.count() === 20000L + 2 + 2) // hot 10k*2, a 2*1, b 1*2
  }

  /** (user, tsMicros, eventId, type) in per-user sequence order. */
  private def collectedEvents(): Array[(Long, Long, Long, String)] = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    relational.Tables.events(spark, sf)
      .select($"user_id", unix_micros($"ts"), $"event_id", $"event_type")
      .as[(Long, Long, Long, String)].collect()
      .sortBy(e => (e._1, e._2, e._3))
  }

  test("q113 funnel equals a greedy state-machine walk at sf0.001") {
    // the chained running-min definition (first view after first signup,
    // first click after that view, ...) IS the greedy walk — replay it
    // imperatively per user and compare all four reach counts.
    val reached = collectedEvents().groupBy(_._1).values.map { evs =>
      var step = 0
      evs.foreach { case (_, _, _, t) =>
        if (step == 0 && t == "signup") step = 1
        else if (step == 1 && t == "view") step = 2
        else if (step == 2 && t == "click") step = 3
        else if (step == 3 && t == "purchase") step = 4
      }
      step
    }.toSeq
    val row = SparkEntry.queries("q113_funnel")(spark, sf).collect().head
    val got = Seq("signup_users", "view_users", "click_users",
      "purchase_users").map(row.getAs[Long])
    val want = (1 to 4).map(k => reached.count(_ >= k).toLong)
    assert(got === want)
    // funnel monotonicity: each step can only lose users
    assert(got === got.sorted.reverse)
  }

  test("q113 plans ONE exchange+sort for all four chained windows") {
    // the scale claim made checkable: the four running-min window columns
    // and the per-user aggregate all reuse a single hashpartitioning on
    // user_id — only the final single-row aggregate adds an exchange.
    val plan = SparkEntry.queries("q113_funnel")(spark, sf)
      .queryExecution.executedPlan.toString
    def count(p: String) = p.r.findAllIn(plan).size
    assert(count("Exchange hashpartitioning") === 1, plan)
    assert(count("\\+- Sort ") === 1, plan)
    assert(count("\\+- Window ") === 4, plan)
  }

  test("q122 funnel latency equals the greedy walk's signup-to-purchase " +
      "micros") {
    val lats = collectedEvents().groupBy(_._1).values.flatMap { evs =>
      var step = 0
      var first = 0L
      var conv = -1L
      evs.foreach { case (_, us, _, t) =>
        if (step == 0 && t == "signup") { step = 1; first = us }
        else if (step == 1 && t == "view") step = 2
        else if (step == 2 && t == "click") step = 3
        else if (step == 3 && t == "purchase" && conv < 0) {
          step = 4; conv = us
        }
      }
      if (conv >= 0) Some(conv - first) else None
    }.toSeq
    val row = SparkEntry.queries("q122_funnel_latency")(spark, sf)
      .collect().head
    assert(row.getAs[Long]("n_converted") === lats.size.toLong)
    assert(row.getAs[Long]("sum_latency_us") === lats.sum)
    assert(row.getAs[Long]("min_latency_us") === lats.min)
    assert(row.getAs[Long]("max_latency_us") === lats.max)
  }

  test("q115 transitions equal brute-force consecutive pairs") {
    val brute = collectedEvents().groupBy(_._1).values.flatMap { evs =>
      val ts = evs.map(_._4)
      ts.zip(ts.drop(1))
    }.groupBy(p => p).view.mapValues(_.size.toLong).toMap
    val got = SparkEntry.queries("q115_transitions")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("n"))
      .toMap
    assert(got === brute)
  }

  test("q114 retention triangle equals brute force; offset 0 covers every user") {
    val day0 = java.time.LocalDate.parse("2024-01-01").toEpochDay
    val weeks = collectedEvents()
      .map(e => (e._1, (e._2 / 1000000L / 86400L - day0) / 7L)).distinct
    val cohort = weeks.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val brute = weeks.groupBy { case (u, w) => (cohort(u), w - cohort(u)) }
      .view.mapValues(_.size.toLong).toMap
    val rows = SparkEntry.queries("q114_retention_cohorts")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Long]("n_users"))
    assert(rows.toMap === brute)
    // every user is active in their cohort week
    val atZero = rows.collect { case ((_, 0L), n) => n }.sum
    assert(atZero === cohort.size.toLong)
  }

  test("session_window boundary: an event exactly gap after the " +
      "previous EXTENDS the session (merge on diff <= gap)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // pins the q121 oracle's `> gap` new-session convention — the same
    // boundary rule as q16's hand-rolled lag form (verified empirically:
    // Spark merges the closed interval, not the half-open one)
    def sessions(gapSec: Long): Long =
      Seq((7L, 0L), (7L, gapSec)).toDF("user_id", "sec")
        .select($"user_id", expr("timestamp_micros(sec * 1000000)").as("ts"))
        .groupBy($"user_id", session_window($"ts", "30 minutes"))
        .count().count()
    assert(sessions(1800L) === 1L, "exact-gap event must extend the session")
    assert(sessions(1801L) === 2L, "past-gap event must open a session")
  }

  test("q118 SQL-text EXISTS/NOT EXISTS decorrelate to semi and anti " +
      "joins") {
    val plan = SparkEntry.queries("q118_sql_exists")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), plan)
    assert(plan.contains("LeftAnti"), plan)
  }

  test("pagerank: hand-computed path graph; uniform ranks are the " +
      "triangle's fixed point") {
    import spark.implicits._
    // path a-b-c (symmetric): deg a=1, b=2, c=1
    val path = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L))
      .toDF("src", "dst")
    val r1 = graph.PageRank.run(path, iterations = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // a gets b's split mass: 150000 + (1e6*85) div (100*2) = 575000;
    // b gets both ends' full mass: 150000 + 2 * 850000 = 1850000
    assert(r1 === Map(1L -> 575000L, 2L -> 1850000L, 3L -> 575000L))
    // triangle: every node deg 2 -> 150000 + 2*(1e6*85 div 200) = 1e6
    // exactly: the uniform vector is a fixed point of the integer map
    val tri = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (1L, 3L),
      (3L, 1L)).toDF("src", "dst")
    val rt = graph.PageRank.run(tri, iterations = 5).collect()
    assert(rt.forall(_.getLong(1) === 1000000L))
  }

  test("triangles: hand graphs (K4, star, path), a planted hot node " +
      "adds no wedges, and a random graph equals brute force") {
    import spark.implicits._
    def tri(edges: Seq[(Long, Long)]): (Long, Long, Long) =
      graph.Triangles.count(edges.toDF("u", "v"))
        .as[(Long, Long, Long)].head()
    // K4: C(4,3) = 4 triangles
    val k4 = for { a <- 1L to 4L; b <- (a + 1) to 4L } yield (a, b)
    assert(tri(k4) === ((4L, 6L, 4L)))
    // star and path: zero
    assert(tri(Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L)))
      === ((5L, 4L, 0L)))
    assert(tri(Seq((1L, 2L), (2L, 3L), (3L, 4L))) === ((4L, 3L, 0L)))
    // a degree-100 hot node attached to one K3: orientation sends all
    // hot-node edges INTO it, so the count stays exactly the K3's 1
    // (plus the 2 triangles the hub forms with the K3's edges it
    // touches... none: hub connects to leaves 1000..1099 only)
    val hub = (0L until 100L).map(i => (1000L + i, 5000L)) ++
      Seq((1L, 2L), (2L, 3L), (1L, 3L))
    assert(tri(hub)._3 === 1L)
    // random graph vs brute force
    val rnd = new scala.util.Random(7)
    val es = (for (_ <- 1 to 300) yield {
      val a = rnd.nextInt(40).toLong; val b = rnd.nextInt(40).toLong
      if (a < b) Some((a, b)) else if (b < a) Some((b, a)) else None
    }).flatten.distinct
    val eset = es.toSet
    val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    var brute = 0L
    for {
      i <- nodes.indices; j <- (i + 1) until nodes.length
      if eset((nodes(i), nodes(j)))
      k <- (j + 1) until nodes.length
      if eset((nodes(i), nodes(k))) && eset((nodes(j), nodes(k)))
    } brute += 1
    val got = tri(es)
    assert(got === ((nodes.length.toLong, es.length.toLong, brute)))
  }

  test("q117 pagerank equals a BigInt brute-force replay at sf0.001") {
    import spark.implicits._
    val pairs = relational.Tables.lineitem(spark, sf)
      .select($"l_orderkey", $"l_partkey")
      .join(relational.Tables.orders(spark, sf)
        .select($"o_orderkey", $"o_custkey"),
        $"l_orderkey" === $"o_orderkey")
      .select(($"o_custkey" * 2).as("a"), ($"l_partkey" * 2 + 1).as("b"))
      .distinct().as[(Long, Long)].collect()
    val edges = pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val deg = edges.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    var rank = deg.keys.map(_ -> 1000000L).toMap
    for (_ <- 1 to 3) {
      val in = edges.groupBy(_._2).view.mapValues(_.map { case (u, _) =>
        rank(u) * 85L / (100L * deg(u))
      }.sum).toMap
      rank = deg.keys.map(n => n -> (150000L + in.getOrElse(n, 0L))).toMap
    }
    val want = rank.toSeq.sortBy { case (n, r) => (-r, n) }.take(20)
      .map { case (n, r) =>
        (if (n % 2 == 0) "customer" else "part", n / 2, r) }
    val got = SparkEntry.queries("q117_pagerank")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === want)
  }

  test("q116 outlier gate equals exact BigInt arithmetic") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val ev = relational.Tables.events(spark, sf)
      .select($"event_type", $"event_id",
        round($"value" * 100).cast("long"))
      .as[(String, Long, Long)].collect()
    val byType = ev.groupBy(_._1)
    val brute = byType.flatMap { case (t, rows) =>
      val n = BigInt(rows.length)
      val s = rows.map(r => BigInt(r._3)).sum
      val ss = rows.map(r => BigInt(r._3) * r._3).sum
      val out = rows.filter { case (_, _, c) =>
        val d = BigInt(c) * n - s
        d * d > 9 * (n * ss - s * s)
      }
      if (out.isEmpty) None
      else Some(t -> (out.length.toLong, out.map(_._2).min, out.map(_._2).max))
    }
    val got = SparkEntry.queries("q116_value_outliers")(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getAs[Long]("n_outliers"), r.getAs[Long]("first_id"),
          r.getAs[Long]("last_id"))).toMap
    assert(got === brute)
  }
}
