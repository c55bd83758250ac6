package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The correctness harness must fail LOUDLY: a declared query that throws
  * has to surface as an explicit red marker in the verify output, never as
  * a silently-missing key (round 8 lost a real regression that way — the
  * artifact simply had no row for the broken query).
  */
class VerifyHarnessSpec extends AnyFunSuite {
  import TestSpark._

  test("a throwing query leaves _ERROR.txt + an errors.json row") {
    val out = Files.createTempDirectory("verify-harness").toString
    val queries = Map[String, (SparkSession, String) => DataFrame](
      "good_query" -> ((s, d) => relational.Tables.region(s, d)),
      "bad_query" -> ((_, _) =>
        throw new IllegalStateException("deliberate failure")))
    val errors = Verify.dumpQueries(spark, sf, out, queries)

    assert(errors.keySet == Set("bad_query"))
    assert(errors("bad_query").contains("deliberate failure"))
    // the good query still dumped normally
    assert(spark.read.parquet(s"$out/good_query").count() > 0)
    // the bad query's directory exists and is poisoned — a parquet read
    // of it must FAIL (the driver sees red, not absence)
    val marker = Paths.get(out, "bad_query", "_ERROR.txt")
    assert(Files.exists(marker))
    assert(Files.readString(marker).contains("deliberate failure"))
    // errors.json names the failed query with its message
    val ej = Files.readString(Paths.get(out, "errors.json"))
    assert(ej.contains("\"bad_query\""))
    assert(ej.contains("deliberate failure"))
  }

  test("an all-green run still writes an (empty) errors.json") {
    val out = Files.createTempDirectory("verify-harness-green").toString
    val queries = Map[String, (SparkSession, String) => DataFrame](
      "good_query" -> ((s, d) => relational.Tables.region(s, d)))
    val errors = Verify.dumpQueries(spark, sf, out, queries)
    assert(errors.isEmpty)
    assert(Files.readString(Paths.get(out, "errors.json")) == "{}")
  }

  test("a name-prefix selection dumps exactly the picked queries and " +
      "their oracle SQL; an unmatched name fails by name") {
    val out = Files.createTempDirectory("verify-harness-pick").toString
    val picked = Verify.select(SparkEntry.queries, "q1_, q10_")
    val want = Set("q1_pricing_summary", "q10_anti_join")
    assert(picked.keySet == want)
    assert(Verify.dumpQueries(spark, sf, out, picked).isEmpty)
    val dumped = new java.io.File(out).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dumped == want)
    val oracleJson = Files.readString(Paths.get(out, "oracle_sql.json"))
    val oracleKeys = "\"(q[0-9]+[a-z]?_[a-z0-9_]+)\": ".r
      .findAllMatchIn(oracleJson).map(_.group(1)).toSet
    assert(oracleKeys == want)
    assert(oracleJson.contains(
      tools.JsonOut.q(SparkEntry.oracleSql("q10_anti_join"))))

    val e = intercept[IllegalArgumentException](
      Verify.select(SparkEntry.queries, "q9999_no_such_query"))
    assert(e.getMessage.contains("q9999_no_such_query"))
  }
}
