package graft.io

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental view maintenance for per-group DISTRIBUTIVE aggregates
  * (row count + integer sums) over a table maintained by
  * [[MergeInto.mergeByKeyCdc]]. The materialized stats answer the
  * questions every corpus pipeline asks between runs — how many docs
  * per language, how many tokens per source — and at 100 TB the whole
  * point is that a merge batch updates them WITHOUT rescanning the
  * table: the change feed is bounded by the batch, and the delta
  * aggregation is one shuffle of feed-sized data.
  *
  * The algebra is the classic ±-weighted delta: `insert` and
  * `update_post` rows count +1, `delete` and `update_pre` rows count
  * −1, so an update contributes `post − pre` to every sum and 0 to the
  * count, and the maintained table is literally
  * `recompute(base ⊕ batch)` — pinned by spec, not by convention.
  * Only distributive/algebraic aggregates maintain this way; holistic
  * ones (exact quantiles) still need the base (or a mergeable sketch —
  * see `text/Sketches` for the HLL/CMS registers that fill that gap).
  *
  * The reference recomputes corpus stats per run from immutable
  * snapshots (`edsnlp/data/parquet.py:60-120`); this module is the
  * incremental counterpart that design forgoes.
  */
object StatsMaintenance {

  /** Full recompute of the stats view: one partial-aggregated pass.
    * `metrics` maps output column name → integer row expression
    * (e.g. `"sum_len" -> length(col("text"))`); the count lands as
    * `n_rows`. Used to seed the view and, in specs, as the oracle the
    * incremental path must equal.
    */
  def recompute(df: DataFrame, groupCol: String,
      metrics: Seq[(String, Column)]): DataFrame = {
    val aggs = count(lit(1)).as("n_rows") +:
      metrics.map { case (n, c) => sum(c.cast("long")).as(n) }
    df.groupBy(col(groupCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Apply one CDC feed batch to the stats view. `stats` must have
    * been produced by [[recompute]]/[[applyCdc]] with the SAME
    * `groupCol` and `metrics`. Groups whose count drains to zero are
    * dropped (matching what a recompute over the merged table would
    * show); brand-new groups appear via the full-outer join. The feed
    * side is batch-sized and the stats side group-cardinality-sized —
    * nothing here scales with the base table.
    *
    * Snapshot-before-mutate: `stats` must be a MATERIALIZED view of
    * the pre-merge state — the persisted stats table (the normal
    * shape; see q124), or an explicitly collected frame. A lazy
    * recompute over the base directory would be evaluated after the
    * merge rewrote the very files it references.
    */
  def applyCdc(stats: DataFrame, feed: DataFrame, groupCol: String,
      metrics: Seq[(String, Column)]): DataFrame =
    applyDelta(stats, delta(feed, groupCol, metrics), groupCol, metrics)

  /** The ±-weighted per-group delta of one or more feed batches — an
    * ordinary (partial-aggregated, associative) aggregation, which is
    * why [[cdcDeltaStream]] can run the SAME expression incrementally
    * under Structured Streaming.
    */
  def delta(feed: DataFrame, groupCol: String,
      metrics: Seq[(String, Column)]): DataFrame = {
    val sign = when(col("_op").isin("insert", "update_post"), 1L)
      .when(col("_op").isin("delete", "update_pre"), -1L)
    val deltaAggs = sum(sign).as("_d_n_rows") +: metrics.map {
      case (n, c) => sum(sign * c.cast("long")).as(s"_d_$n")
    }
    feed.groupBy(col(groupCol)).agg(deltaAggs.head, deltaAggs.tail: _*)
  }

  /** Combine a materialized stats view with a delta frame (from
    * [[delta]] over any set of feed batches): full-outer join, sum,
    * drop drained groups.
    */
  def applyDelta(stats: DataFrame, deltas: DataFrame, groupCol: String,
      metrics: Seq[(String, Column)]): DataFrame = {
    val merged = stats.join(deltas, Seq(groupCol), "full_outer")
    val updatedCols = ("n_rows" +: metrics.map(_._1)).map { n =>
      (coalesce(col(n), lit(0L)) + coalesce(col(s"_d_$n"), lit(0L))).as(n)
    }
    merged.select(col(groupCol) +: updatedCols: _*)
      .filter(col("n_rows") > 0)
  }

  /** The STREAMING twin of the maintenance loop: the `<dir>._cdc`
    * feed root is append-only by construction (each merge lands a new
    * `batch-N` directory and never rewrites an old one), so it is a
    * file-stream source — this returns the CUMULATIVE per-group delta
    * since stream start as an unbounded aggregation (run it in
    * complete/update mode; `seed ⊕ this` is the live stats view,
    * pinned ≡ a batch recompute in StreamingSpec). State is one row
    * per group — group cardinality, never data volume.
    *
    * The feed schema is taken from the batches already on disk, so at
    * least one merge must have landed before the stream starts.
    */
  def cdcDeltaStream(spark: SparkSession, tableDir: String,
      groupCol: String, metrics: Seq[(String, Column)]): DataFrame = {
    val root = tableDir.stripSuffix("/") + "._cdc"
    val schema = Parquet.read(spark, root + "/batch-*").schema
    val feed = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 64)
      .parquet(root + "/batch-*")
    delta(feed, groupCol, metrics)
  }
}
