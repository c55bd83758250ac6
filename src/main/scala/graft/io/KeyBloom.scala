package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-file Bloom filters over a key column — the point-lookup
  * complement of [[Manifest]]'s min/max ranges. Min/max statistics
  * prune RANGE predicates but are useless for key lookups on a layout
  * that is not sorted by that key (every file spans the full id range,
  * e.g. after a z-order by OTHER dimensions, or a hash-scattered
  * write): a per-file Bloom answers "can this file contain key K?"
  * with no false negatives, so an id lookup on a 100 TB table opens
  * the handful of files that may hold it instead of all of them —
  * the per-file bloom statistics Delta/Iceberg attach to data files,
  * reduced to one sidecar table at `<dir>/._keybloom`.
  *
  * Portability is the design constraint, as everywhere in this
  * engine: bit positions derive from the 60-bit md5 convention
  * (`Sketches.md5Low60`) split into two 30-bit halves combined by
  * double hashing — integer arithmetic an independent engine (or the
  * DRIVER, see [[bitPositions]]) replays exactly, which is what lets
  * the probe side compute positions locally without shipping a
  * filter object.
  *
  * The filter is stored SPARSE: a map from 64-bit word index to the
  * OR of set bits in that word, built by an ordinary two-level
  * partial aggregation — never a driver-side bitset, never a UDF.
  * Saturation degrades precision, never correctness (a saturated
  * bloom keeps every file, same as no bloom).
  */
object KeyBloom {

  /** 2^30 divisor splitting the 60-bit hash into independent halves. */
  private val HalfBits = 30

  /** The k double-hashed bit positions of `key` in a 2^log2Bits-bit
    * filter, as columns: g_i = (h_lo + i * h_hi) mod m over the
    * md5-low-60 hash of the key's DECIMAL STRING form (the same value
    * [[bitPositions]] computes driver-side).
    */
  private def bitCols(key: Column, log2Bits: Int, k: Int): Seq[Column] = {
    val h = conv(substring(md5(key.cast("string")), 1, 15), 16, 10)
      .cast("long")
    val lo = pmod(h, lit(1L << HalfBits))
    val hi = shiftright(h, HalfBits)
    (0 until k).map(i => pmod(lo + lit(i.toLong) * hi, lit(1L << log2Bits)))
  }

  /** Driver-side replay of [[bitCols]] for a literal key — bit-exact
    * by construction (same md5-of-decimal-string, same integer
    * arithmetic), pinned by spec.
    */
  def bitPositions(key: Long, log2Bits: Int = 16, k: Int = 4): Seq[Long] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(key.toString.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    val h = java.lang.Long.parseLong(hex.substring(0, 15), 16)
    val lo = h % (1L << HalfBits)
    val hi = h >> HalfBits
    (0 until k).map(i => (lo + i.toLong * hi) % (1L << log2Bits))
  }

  /** Per-file bloom rows for `df` — the sidecar payload, exposed so
    * [[Sidecar.refresh]] can rebuild rows for a partition-pruned
    * slice after a merge.
    */
  private[io] def bloomFor(df: DataFrame, keyCol: String,
      log2Bits: Int, k: Int): DataFrame = {
    val positions = array(bitCols(col(keyCol), log2Bits, k): _*)
    df.select(input_file_name().as("file"), explode(positions).as("pos"))
      .select(col("file"), shiftright(col("pos"), 6).cast("int").as("word"),
        expr("shiftleft(cast(1 as bigint), cast(pos % 64 as int))")
          .as("mask"))
      .groupBy(col("file"), col("word"))
      .agg(expr("bit_or(mask)").as("bits"))
      .groupBy(col("file"))
      .agg(map_from_entries(collect_list(struct(col("word"), col("bits"))))
        .as("bloom"))
  }

  /** Build (or rebuild) the per-file key bloom sidecar for `dir`:
    * one row per data file, `bloom` = sparse word->bits map. One
    * column-pruned pass; state per task is bounded by
    * files-per-task * 2^log2Bits bits. Returns the file count.
    */
  def buildKeyBloom(spark: SparkSession, dir: String, keyCol: String,
      log2Bits: Int = 16, k: Int = 4): Long =
    buildKeyBloomFor(spark, dir, Parquet.read(spark, dir), keyCol,
      log2Bits, k)

  /** [[buildKeyBloom]] over an explicit frame — for tables whose live
    * file set is NOT "every parquet under dir" (a [[VersionLog]]
    * snapshot): pass `VersionLog.read(spark, dir)`.
    */
  def buildKeyBloomFor(spark: SparkSession, dir: String, df: DataFrame,
      keyCol: String, log2Bits: Int = 16, k: Int = 4): Long = {
    require(log2Bits >= 6 && log2Bits <= 30, "log2Bits in [6,30]")
    Sidecar.publish(spark, dir, "._keybloom",
      bloomFor(df, keyCol, log2Bits, k))
  }

  /** Incremental refresh after a [[MergeInto]] merge of a PARTITIONED
    * dataset: recompute bloom rows only for files under the touched
    * partitions (pass `MergeStats.touchedPartitions`). The geometry
    * must match the original build's.
    */
  def refreshKeyBloom(spark: SparkSession, dir: String, keyCol: String,
      partCol: String, touched: Seq[String],
      log2Bits: Int = 16, k: Int = 4): Long =
    Sidecar.refresh(spark, dir, "._keybloom", partCol, touched,
      df => bloomFor(df, keyCol, log2Bits, k))

  /** Files that MAY contain any of `keys` (no false negatives; false
    * positives bounded by the filter geometry): the bloom sidecar is
    * filtered DISTRIBUTED with a per-key all-bits-set conjunction
    * (`element_at` on the sparse map), and only matching file names
    * come back to the driver — the same file-list-sized collect every
    * format's planner does. Keys must use the build's geometry.
    */
  def filesForKeys(spark: SparkSession, dir: String, keys: Seq[Long],
      log2Bits: Int = 16, k: Int = 4): (Array[String], ScanStats) = {
    require(keys.nonEmpty, "at least one probe key")
    val blooms = spark.read
      .parquet(new Path(dir.stripSuffix("/"), "._keybloom").toString)
    val anyKeyHits = keys.map { key =>
      bitPositions(key, log2Bits, k).map { pos =>
        (coalesce(element_at(col("bloom"), lit((pos / 64).toInt)), lit(0L))
          .bitwiseAND(lit(1L << (pos % 64).toInt))) =!= 0L
      }.reduce(_ && _)
    }.reduce(_ || _)
    val all = blooms.select(col("file"), anyKeyHits.as("hit")).collect()
    val kept = all.filter(_.getBoolean(1)).map(_.getString(0))
    (kept, ScanStats(all.length, kept.length))
  }

  /** Point-lookup read: scan only the bloom-kept files. The caller
    * still applies the exact key predicate (blooms are conservative).
    */
  def lookupRead(spark: SparkSession, dir: String, keys: Seq[Long],
      log2Bits: Int = 16, k: Int = 4): (DataFrame, ScanStats) = {
    val (files, stats) = filesForKeys(spark, dir, keys, log2Bits, k)
    // basePath keeps partition columns alive under hive-style layouts
    val df =
      if (files.isEmpty) Parquet.read(spark, dir).filter(lit(false))
      else spark.read.option("basePath", dir)
        .parquet(files.toIndexedSeq: _*)
    (df, stats)
  }
}
