package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Parquet

/** BM25 keyword retrieval over a document corpus — the lexical member of
  * the similarity-search family (brute-force / LSH / IVF / PQ cover the
  * embedding side). Okapi BM25 with the standard (k1, b) shape and the
  * `ln(1 + (N - df + 0.5) / (df + 0.5))` non-negative idf.
  *
  * Scale shape: the per-document token stream is filtered to the |Q|
  * query terms ROW-LOCALLY before anything shuffles, so the corpus text
  * never moves — only (id, term) hits do, and those partial-aggregate
  * map-side. Document frequency and the corpus stats (N, total length)
  * are one-row / |Q|-row aggregates broadcast back into the scoring
  * join, and the final cut is a TakeOrdered — no global sort of the
  * scored corpus at 100 TB.
  *
  * Float safety across engines: each (doc, term) contribution is rounded
  * to integer BASIS POINTS before the per-doc sum, so the sum is exact
  * integer arithmetic — order-free — and the unrounded contributions
  * differ between engines only by libm ulps (every input to the
  * formula is an exact integer count). Ranking is (score_bp desc, id).
  */
object Bm25 {

  /** Top-`k` documents for the query `terms`. Returns (id, score_bp):
    * score in integer basis points (score x 10000). Documents containing
    * no query term score zero and are never candidates (BM25
    * contributions are strictly positive).
    */
  def topK(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val termArr = array(terms.map(lit): _*)
    val words = split(trim(col(textCol)), "\\s+")
    val toks = docs.select(col(idCol).as("id"),
      size(words).cast("long").as("dl"),
      explode(filter(words, w => array_contains(termArr, w))).as("term"))
    val stats = docs.agg(
      count(lit(1)).cast("double").as("n_docs"),
      sum(size(words).cast("long")).cast("double").as("sum_dl"))
    val tf = toks.groupBy("id", "term")
      .agg(count(lit(1)).cast("double").as("tf"), first("dl").as("dl"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))
    val denom = col("tf") + lit(k1) *
      (lit(1.0 - b) + lit(b) * col("dl").cast("double") *
        col("n_docs") / col("sum_dl"))
    tf.join(broadcast(dfreq), "term")
      .join(broadcast(stats))
      .withColumn("bp",
        round(idf * (col("tf") * lit(k1 + 1.0)) / denom * 10000.0)
          .cast("long"))
      .groupBy("id").agg(sum(col("bp")).as("score_bp"))
      .orderBy(col("score_bp").desc, col("id"))
      .limit(k)
  }

  /** BUILD-ONCE / PROBE-MANY inverted-index persistence — the lexical
    * twin of the IVF index (`Ann.buildIvfIndex`): postings land in
    * parquet `partitionBy` a stable hash BUCKET of the term, so a probe
    * prunes to |query terms| buckets at PLAN time (static `isin` on the
    * partition column) instead of scanning the postings of the whole
    * vocabulary. Each posting row carries (id, term, tf, dl) — doc
    * length is denormalized into the posting, the standard index trick
    * that keeps scoring join-free on the corpus side — plus a small
    * `terms` side table (term, df) bucketed the same way and a one-row
    * `stats` table (N, total length). Query-time I/O is O(postings of
    * the query terms), independent of corpus breadth.
    */
  def buildIndex(docs0: DataFrame, idCol: String, textCol: String,
      dir: String, nBuckets: Int = 64): Unit = {
    // the postings explode + (id, term) partial aggregate is the
    // build's dominant CPU (measured 3.2 s single-task at sf0.1 when
    // the corpus arrives as one parquet split) — give it the session's
    // parallelism; no-op once the corpus has >= cores splits
    // (q88 4.17 → 1.87 s, OPTIMIZATION_r18)
    val docs = graft.core.Spread.cpuFloor(docs0)
    val words = split(trim(col(textCol)), "\\s+")
    val postings = docs.select(col(idCol).as("id"),
        size(words).cast("long").as("dl"), explode(words).as("term"))
      .groupBy("id", "term")
      .agg(count(lit(1)).cast("long").as("tf"), first(col("dl")).as("dl"))
      .withColumn("bucket", pmod(xxhash64(col("term")), lit(nBuckets.toLong)))
    // repartition ON the partition column first: otherwise every write
    // task fans out one file per bucket it sees (tasks x buckets small
    // files — measured 4x the build wall-time at sf0.1). One exchange
    // keyed like the layout → at most one file per bucket per pass; at
    // real scale raise nBuckets (or add a salt column) rather than
    // letting the fan-out return.
    // terms derives from the postings JUST WRITTEN (one (id, term) row
    // per hit, so count = df): re-running the corpus explode+shuffle
    // would double the build's dominant stage, and reading the
    // bucket-aligned index back is O(index) with no wide exchange.
    postings.repartition(nBuckets, col("bucket"))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$dir/postings")
    Parquet.read(docs.sparkSession, s"$dir/postings")
      .groupBy("term", "bucket")
      .agg(count(lit(1)).cast("long").as("df"))
      .repartition(nBuckets, col("bucket"))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$dir/terms")
    docs.agg(count(lit(1)).cast("long").as("n_docs"),
        sum(size(words).cast("long")).as("sum_dl"))
      .write.mode("overwrite").parquet(s"$dir/stats")
  }

  /** INCREMENTAL index maintenance — the append path a production index
    * needs between full rebuilds: `newDocs` (ids must be disjoint from
    * the indexed corpus — an append-only ingest) land as additional
    * posting files under the SAME bucket layout (parquet `append` into
    * the partitioned dirs — no rewrite of existing postings), the
    * one-row stats table merges associatively (counts and length sums
    * add), and the terms table merges by (term, bucket) sum. The merged
    * terms frame is eagerly checkpointed BEFORE the overwrite so the
    * write never reads the directory it is replacing. After append, a
    * probe is indistinguishable from a probe of a fresh full build —
    * all scoring inputs (tf, dl, df, N, total length) are exact sums,
    * so they merge without drift; spec-pinned against a fresh build.
    */
  def appendToIndex(newDocs: DataFrame, idCol: String, textCol: String,
      dir: String, nBuckets: Int = 64): Unit = {
    val spark = newDocs.sparkSession
    import spark.implicits._
    val words = split(trim(col(textCol)), "\\s+")
    val delta = newDocs.select(col(idCol).as("id"),
        size(words).cast("long").as("dl"), explode(words).as("term"))
      .groupBy("id", "term")
      .agg(count(lit(1)).cast("long").as("tf"), first(col("dl")).as("dl"))
      .withColumn("bucket", pmod(xxhash64(col("term")), lit(nBuckets.toLong)))
    delta.repartition(nBuckets, col("bucket"))
      .write.mode("append").partitionBy("bucket")
      .parquet(s"$dir/postings")
    val old = Parquet.read(spark, s"$dir/stats")
      .select("n_docs", "sum_dl").head()
    val add = newDocs.agg(count(lit(1)).cast("long").as("n_docs"),
      sum(size(words).cast("long")).as("sum_dl")).head()
    Seq((old.getLong(0) + add.getLong(0), old.getLong(1) + add.getLong(1)))
      .toDF("n_docs", "sum_dl")
      .write.mode("overwrite").parquet(s"$dir/stats")
    val merged = Parquet.read(spark, s"$dir/terms")
      .select("term", "df", "bucket")
      .union(delta.groupBy("term", "bucket")
        .agg(count(lit(1)).cast("long").as("df"))
        .select("term", "df", "bucket"))
      .groupBy("term", "bucket").agg(sum(col("df")).as("df"))
      .select("term", "df", "bucket")
      .localCheckpoint()
    merged.repartition(nBuckets, col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$dir/terms")
  }

  /** Probe a [[buildIndex]] index: same scoring (and the same integer
    * basis-point contract) as [[topK]], but reading only the query
    * terms' partitions — `.explain` shows the bucket cut in the scan's
    * PartitionFilters. The bucket list is computed with the SAME
    * xxhash64 the writer used, evaluated on a |Q|-row local relation.
    */
  def probeIndex(spark: SparkSession, dir: String, terms: Seq[String],
      k: Int, k1: Double = 1.2, b: Double = 0.75,
      nBuckets: Int = 64): DataFrame = {
    // same hash family the writer's xxhash64(col) used (seed 42),
    // evaluated locally — a Spark job for |Q| hashes would cost a full
    // scheduling round-trip per probe
    val buckets = terms.map { t =>
      val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function
        .hash(org.apache.spark.unsafe.types.UTF8String.fromString(t),
          org.apache.spark.sql.types.StringType, 42L)
      ((h % nBuckets) + nBuckets) % nBuckets
    }.distinct
    val termList = terms.map(lit)
    val postings = Parquet.read(spark, s"$dir/postings")
      .filter(col("bucket").isin(buckets: _*) &&
        col("term").isin(termList: _*))
    val dfreq = Parquet.read(spark, s"$dir/terms")
      .filter(col("bucket").isin(buckets: _*) &&
        col("term").isin(termList: _*))
      .select(col("term"), col("df").cast("double").as("df"))
    val stats = Parquet.read(spark, s"$dir/stats")
      .select(col("n_docs").cast("double").as("n_docs"),
        col("sum_dl").cast("double").as("sum_dl"))
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))
    val denom = col("tf").cast("double") + lit(k1) *
      (lit(1.0 - b) + lit(b) * col("dl").cast("double") *
        col("n_docs") / col("sum_dl"))
    postings.join(broadcast(dfreq), "term")
      .join(broadcast(stats))
      .withColumn("bp",
        round(idf * (col("tf").cast("double") * lit(k1 + 1.0)) / denom *
          10000.0).cast("long"))
      .groupBy("id").agg(sum(col("bp")).as("score_bp"))
      .orderBy(col("score_bp").desc, col("id"))
      .limit(k)
  }
}
