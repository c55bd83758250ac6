package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * A query that throws must show as a RED row, never as absence: the
  * failure writes `<outDir>/<name>/_ERROR.txt` (so the driver's parquet
  * read of that name fails loudly instead of finding nothing) and an
  * aggregate `<outDir>/errors.json` — a correctness artifact with a
  * silently-missing key once hid a real regression for a whole round.
  *
  * Usage: runMain graft.Verify <sfDir> <outDir> [<prefix>[,<prefix>...]]
  * — the optional third argument dumps only the queries whose name starts
  * with one of the prefixes (the one-query iteration loop), then compare
  * with `python3 tools/selfcheck.py <sfDir> <outDir>`.
  */
object Verify {

  /** The queries whose name starts with one of the comma-separated
    * prefixes in `names`; a selection that matches nothing fails and
    * names the argument.
    */
  private[graft] def select(
      queries: Map[String, (SparkSession, String) => DataFrame],
      names: String): Map[String, (SparkSession, String) => DataFrame] = {
    val wanted = names.split(",").map(_.trim).filter(_.nonEmpty)
    val picked = queries.filter { case (k, _) => wanted.exists(k.startsWith) }
    require(picked.nonEmpty, s"no query matches: $names")
    picked
  }

  /** Run each query, parquet-dump it, write `oracle_sql.json` for exactly
    * the dumped names, and return name → error message for every query
    * that threw (empty when all green). Package-visible so the
    * fail-loudly contract is spec'd with a deliberately-throwing query.
    */
  private[graft] def dumpQueries(
      spark: SparkSession,
      sfDir: String,
      outDir: String,
      queries: Map[String, (SparkSession, String) => DataFrame])
      : Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}"
        System.err.println(s"[verify] $name FAILED: $msg")
        val qd = Paths.get(outDir, name)
        Files.createDirectories(qd)
        Files.writeString(qd.resolve("_ERROR.txt"), msg + "\n")
        errors(name) = msg
      }
    }
    // Always written, even when empty — the driver can merge unconditionally
    Files.writeString(Paths.get(outDir, "errors.json"),
      graft.tools.JsonOut.obj(errors))
    Files.writeString(Paths.get(outDir, "oracle_sql.json"),
      graft.tools.JsonOut.obj(
        SparkEntry.oracleSql.filter { case (k, _) => queries.contains(k) }))
    errors.toMap
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val queries =
      if (args.length > 2) select(SparkEntry.queries, args(2))
      else SparkEntry.queries
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    val errors = dumpQueries(spark, sfDir, outDir, queries)
    spark.stop()
    // Exit 0 even on per-query failure: the driver must still run the
    // DuckDB compare over the green queries; the red ones are visible via
    // _ERROR.txt (poisons that name's parquet read) and errors.json.
    if (errors.nonEmpty)
      System.err.println(
        s"[verify] ${errors.size} quer${if (errors.size == 1) "y" else "ies"}" +
          s" FAILED: ${errors.keys.mkString(", ")}")
  }
}
