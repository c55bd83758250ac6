package graft

import org.apache.spark.sql.SparkSession

/** The one session configuration every entry point runs under — `Bench`,
  * `Verify`, the dev tools and the test suites — so a query is planned
  * and timed the same way whichever main drives it. Callers choose only
  * the core count.
  */
object Sessions {
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
