package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Parquet

/** Persisted, incrementally-maintained corpus datasheet — the
  * operational form of the q82/q100 profile: per-key document count,
  * token count, and the HLL distinct-token registers, stored as two
  * small parquet tables that UPDATE with O(|delta| + |registers|) work
  * when a corpus shard lands (the `Bm25.appendToIndex` maintenance
  * pattern applied to the datasheet a 100 TB corpus publishes next to
  * itself). Everything persisted is an associative aggregate — counts
  * and sums add, HLL registers max-merge — so append order cannot
  * drift the result: append is spec-pinned INDISTINGUISHABLE from a
  * fresh single-pass build over the union. The append lands through a
  * whole-directory staged swap (`Compact.stagedSwap`): both tables are
  * written into staging while the live profile is still being read,
  * then one retire/promote rename pair publishes them TOGETHER — a
  * crash leaves the old profile or the new one, never stats from one
  * generation next to registers from another. (Blind retry after a
  * crash-after-promote would re-add the delta — sum-merges are not
  * idempotent — so retry discipline belongs to the ingest layer, as
  * with any non-transactional sink.)
  */
object CorpusProfile {

  private def toks(docs: DataFrame, keyCol: String, textCol: String) =
    docs.select(col(keyCol).as("key"),
      explode(split(trim(col(textCol)), "\\s+")).as("word"))

  private def stats(docs: DataFrame, keyCol: String, textCol: String) =
    docs.groupBy(col(keyCol).as("key"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(trim(col(textCol)), "\\s+")).cast("long"))
          .as("n_tokens"))

  def write(docs: DataFrame, keyCol: String, textCol: String,
      dir: String): Unit = {
    stats(docs, keyCol, textCol)
      .write.mode("overwrite").parquet(s"$dir/stats")
    Sketches.hllRegisters(toks(docs, keyCol, textCol), "key", "word")
      .write.mode("overwrite").parquet(s"$dir/registers")
  }

  def append(delta: DataFrame, keyCol: String, textCol: String,
      dir: String): Unit = {
    val spark = delta.sparkSession
    val mergedStats = Parquet.read(spark, s"$dir/stats")
      .union(stats(delta, keyCol, textCol))
      .groupBy("key")
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"))
    val mergedRegs = Parquet.read(spark, s"$dir/registers")
      .union(Sketches.hllRegisters(toks(delta, keyCol, textCol),
        "key", "word"))
      .groupBy("key", "bucket").agg(max(col("rho")).as("rho"))
    graft.io.Compact.stagedSwap(spark, dir) { staging =>
      // both writes read the LIVE profile (staging is a different
      // path), so no checkpoint is needed; the swap publishes the two
      // tables as one unit
      mergedStats.write.parquet(s"$staging/stats")
      mergedRegs.write.parquet(s"$staging/registers")
    }
  }

  /** The published datasheet view: (key, n_docs, n_tokens,
    * est_distinct) — registers-only, no corpus access.
    */
  def read(spark: SparkSession, dir: String): DataFrame =
    Parquet.read(spark, s"$dir/stats")
      .join(Sketches.hllEstimate(
          Parquet.read(spark, s"$dir/registers"))
        .select(col("key"), col("est").as("est_distinct")), "key")
      .select(col("key"), col("n_docs"), col("n_tokens"),
        col("est_distinct"))
}
