package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.io.Parquet

/** Loaders for the driver-generated star schema (see /root/repo/TESTDATA.md).
  *
  * Every loader is a plain parquet scan: Catalyst handles column pruning and
  * predicate pushdown, so callers just `select`/`filter` and the scan narrows
  * automatically. At 100 TB these tables would be partitioned (e.g. orders by
  * o_orderdate month); nothing here assumes single-file layout — `dir/name
  * .parquet` can be a directory of fragments. Each read takes its schema
  * from one footer, read in-process (`graft.io.Parquet.read`), so building a
  * table's DataFrame runs no Spark job.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    Parquet.read(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  /** events.parquet's `ts` physical encoding has varied across driver data
    * generations: TIMESTAMP(NANOS) (Spark's vectorized reader rejects it —
    * read nanos as long via `nanosAsLong` and integer-divide; a double
    * division would lose precision above 2^53 ns), untagged micros (Spark
    * ≥3.4 reads as TIMESTAMP_NTZ — cast to TimestampType; session tz is
    * pinned UTC by `graft.Sessions.local`, so the cast is a pure re-tag),
    * and UTC-tagged micros (already TimestampType). Normalize all three to
    * a session-tz TimestampType so every downstream query (`unix_micros`,
    * windows, watermarks) sees one type regardless of data generation.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    eventsTs(table(s, d, "events"))
  }
  /** The `ts` normalization of [[events]], shared with the streaming
    * reader (`EventStreams.readEvents`): `raw` must have been read with
    * `nanosAsLong` set. Batch or streaming, the plan is a single
    * projection of `ts` (none when it is already TimestampType).
    */
  def eventsTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema("ts").dataType match {
      case LongType => // nanos-as-long (legacy TIMESTAMP(NANOS) layout)
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => // untagged micros
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw // already TimestampType
    }
  }
  /** The events `ts` lesson (round 8) applied preemptively to the other
    * driver tables: integer ids/counts normalize to LongType and the
    * embedding element type to FloatType IF a future data generation
    * changes the physical width (int32 ids, float64 vectors, …) —
    * casts are no-ops against today's files (the match keeps the plan
    * literally unchanged when types already agree), but a silent
    * regeneration can no longer break `getLong`/encoder call sites or
    * shift oracle arithmetic. EventsEncodingSpec's sibling assertions
    * pin the behavior.
    */
  def documents(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.LongType
    val raw = table(s, d, "documents")
    Seq("doc_id", "n_chars").foldLeft(raw) { (df, c) =>
      if (df.schema(c).dataType == LongType) df
      else df.withColumn(c, col(c).cast(LongType))
    }
  }
  def embeddings(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, transform}
    import org.apache.spark.sql.types.{ArrayType, FloatType, LongType}
    val raw = table(s, d, "embeddings")
    val ided =
      if (raw.schema("vec_id").dataType == LongType) raw
      else raw.withColumn("vec_id", col("vec_id").cast(LongType))
    ided.schema("embedding").dataType match {
      case ArrayType(FloatType, _) => ided
      case _ => ided.withColumn("embedding",
        transform(col("embedding"), _.cast(FloatType)))
    }
  }
}
