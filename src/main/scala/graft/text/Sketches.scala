package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.io.Parquet

/** Mergeable cardinality / frequency sketches — the bounded-state
  * aggregation layer a 100 TB corpus survey runs where exact groupBys
  * would shuffle the vocabulary (reference counterpart: the corpus
  * statistics the Stream API folds over batches, SURVEY §2.1
  * `map_batches`/stat-driven batching; at our scale the sketch IS the
  * statistic). Both sketches here use the portable 60-bit md5 hash
  * convention (`('0x'||substr(md5(x),1,15))::BIGINT`), which makes every
  * register value an exact integer an independent engine recomputes
  * bit-for-bit — the sketches are oracle-checkable, not just
  * error-bounded.
  *
  * Scale shape: register building is a partial-aggregating groupBy whose
  * key space is the FIXED register geometry (m=256 buckets for HLL,
  * d*w=2048 cells for CMS) — state is bounded no matter the corpus or
  * vocabulary size, partials combine map-side, and register tables merge
  * associatively across corpus shards (max for HLL, sum for CMS), which
  * is what makes them incrementally maintainable alongside an index
  * (`Bm25.appendToIndex` pattern).
  */
object Sketches {

  /** Portable 60-bit md5 hash of a string column. */
  private[graft] def md5Low60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  // ---------------------------------------------------------------- HLL

  /** HyperLogLog with p=8 (m=256 registers), rho over the remaining 52
    * bits of the 60-bit hash: bucket = h % 256, v = h div 256,
    * rho = 53 - bitlength(v) (53 when v = 0 — the 60-bit hash leaves a
    * 52-bit payload after the 8 bucket bits, so rho ranges 1..53).
    * Registers: max rho per (key, bucket).
    */
  val HllM = 256
  private val RhoZero = 53

  def hllRegisters(items: DataFrame, keyCol: String,
      valCol: String): DataFrame = {
    val h = md5Low60(col(valCol))
    // m = 2^8, h >= 0: the bucket split is exact bit arithmetic — a
    // float division of a 60-bit value would lose low bits past 2^53
    val v = shiftright(h, 8)
    val rho = when(v === 0L, RhoZero)
      .otherwise(lit(RhoZero) - length(bin(v))).cast("int")
    items.select(col(keyCol).as("key"),
        pmod(h, lit(HllM.toLong)).as("bucket"), rho.as("rho"))
      .groupBy("key", "bucket").agg(max(col("rho")).as("rho"))
  }

  /** The numerator alpha_m * m^2 * 2^53 of the raw HLL estimate as ONE
    * double literal, so both engines perform exactly one float division.
    */
  private[graft] val hllNum: Double =
    0.7213 / (1.0 + 1.079 / HllM) * HllM * HllM * math.pow(2.0, 53)

  /** The same numerator as a 17-significant-digit literal (round-trips
    * to the identical double) for embedding into the DuckDB oracle.
    */
  private[graft] val hllNumLit: String =
    String.format(java.util.Locale.ROOT, "%.17g", Double.box(hllNum))

  /** Per-key estimate from registers: raw = hllNum / S with
    * S = sum(2^(53-rho)) + zeros * 2^53 (exact BIGINT), and
    * the standard linear-counting correction below 2.5 m. Returns
    * (key, zeros, s, est).
    */
  def hllEstimate(registers: DataFrame): DataFrame = {
    val agg = registers.groupBy("key").agg(
      (lit(HllM.toLong) - count(lit(1))).as("zeros"),
      sum(expr("shiftleft(cast(1 as bigint), 53 - rho)")).as("s_filled"))
    val s = (col("s_filled") +
      col("zeros") * shiftleft(lit(1L), RhoZero)).as("s")
    val raw = lit(hllNum) / col("s").cast("double")
    agg.select(col("key"), col("zeros"), s)
      .withColumn("est",
        round(when(col("zeros") > 0L && raw <= lit(2.5 * HllM),
          lit(HllM.toDouble) * log(lit(HllM.toDouble) /
            col("zeros").cast("double")))
          .otherwise(raw), 4))
  }

  // ---------------------------------------------------------------- CMS

  /** Count-min sketch: d salted hash rows x w columns; cell (r, c)
    * accumulates the count of tokens hashing to column c under salt r.
    * The token stream explodes x d but partial-aggregates map-side down
    * to at most d*w rows — bounded state, associative merge (sum).
    */
  def cmsRegisters(items: DataFrame, valCol: String,
      d: Int = 4, w: Int = 512): DataFrame =
    items.select(posexplode(transform(sequence(lit(0), lit(d - 1)),
        r => cmsBucket(r, col(valCol), w))).as(Seq("r", "c")))
      .groupBy("r", "c").agg(count(lit(1)).as("ct"))

  private def cmsBucket(r: Column, word: Column, w: Int): Column =
    pmod(md5Low60(concat_ws(":", lit("cms"), r.cast("string"), word)),
      lit(w.toLong))

  // ------------------------------------------- persisted incremental

  /** Persist HLL registers and merge a delta corpus in later — the
    * `Bm25.appendToIndex` maintenance pattern for sketches: because
    * registers merge associatively (max for HLL, sum for CMS), a
    * corpus-survey artifact updates with O(|delta| + |registers|) work
    * instead of a full re-scan; after append the registers are
    * INDISTINGUISHABLE from a fresh build over the union (spec-pinned).
    * The merged frame lands through `Compact.stagedSwap` — staging is
    * written while the live directory is still readable, then a
    * retire/promote rename pair publishes it whole, so a crash never
    * leaves a partial register table.
    */
  def writeHllRegisters(items: DataFrame, keyCol: String, valCol: String,
      dir: String): Unit =
    hllRegisters(items, keyCol, valCol)
      .write.mode("overwrite").parquet(dir)

  def appendHllRegisters(delta: DataFrame, keyCol: String,
      valCol: String, dir: String): Unit = {
    val spark = delta.sparkSession
    val merged = Parquet.read(spark, dir)
      .union(hllRegisters(delta, keyCol, valCol))
      .groupBy("key", "bucket")
      .agg(max(col("rho")).as("rho"))
    // staged swap, not in-place overwrite: a crash mid-rewrite must
    // leave the old registers readable, never a partial directory
    graft.io.Compact.stagedSwap(spark, dir)(
      merged.write.parquet(_))
  }

  def writeCmsRegisters(items: DataFrame, valCol: String, dir: String,
      d: Int = 4, w: Int = 512): Unit =
    cmsRegisters(items, valCol, d, w)
      .write.mode("overwrite").parquet(dir)

  def appendCmsRegisters(delta: DataFrame, valCol: String, dir: String,
      d: Int = 4, w: Int = 512): Unit = {
    val spark = delta.sparkSession
    val merged = Parquet.read(spark, dir)
      .union(cmsRegisters(delta, valCol, d, w))
      .groupBy("r", "c")
      .agg(sum(col("ct")).as("ct"))
    graft.io.Compact.stagedSwap(spark, dir)(
      merged.write.parquet(_))
  }

  /** Point-query the sketch for `probes`: est = min over the d cells
    * (absent cell = 0). CMS guarantees est >= true count; the caller
    * joins the exact count back to EXHIBIT the one-sided error.
    */
  def cmsQuery(registers: DataFrame, probes: Seq[String],
      d: Int = 4, w: Int = 512): DataFrame = {
    val spark = registers.sparkSession
    import spark.implicits._
    val probeCells = probes.toDF("word")
      .select(col("word"), posexplode(transform(
        sequence(lit(0), lit(d - 1)),
        r => cmsBucket(r, col("word"), w))).as(Seq("r", "c")))
    // registers are at most d*w rows — broadcast them, never the probes
    probeCells.join(broadcast(registers), Seq("r", "c"), "left")
      .groupBy("word")
      .agg(min(coalesce(col("ct"), lit(0L))).as("est"))
  }
}
