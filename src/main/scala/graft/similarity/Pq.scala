package graft.similarity

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

import graft.io.Parquet

/** Product quantization (the FAISS `IndexPQ` shape — Jégou et al.,
  * "Product Quantization for Nearest Neighbor Search", TPAMI 2011): the
  * memory answer at corpus scale. Vectors are cut into `m` subspaces;
  * each subspace gets its own `ksub`-codeword k-means codebook; a
  * vector is stored as `m` BYTES of codeword ids instead of `dim`
  * doubles (16 bytes vs 128 for a 16-dim double vector — and the ratio
  * widens with dim). Search is ADC (asymmetric distance computation):
  * the query keeps its float vector, every CANDIDATE is ranked straight
  * from its code against the closure codebooks — no decode, no
  * per-candidate float vector in memory or shuffle.
  *
  * The codes column is a plain `binary` DataFrame column: it prunes,
  * scans, and shuffles like any other column, so a 100-TB corpus keeps
  * its PQ codes in ~m/(8·dim) of the raw footprint and the ADC scan
  * streams codes instead of vectors. Reference counterpart: the
  * embedding-similarity gates of edsnlp's span linker
  * (`span_linker.py`) rank against a fixed concept table — this is the
  * same ranking made memory-bounded.
  *
  * Exactness contract: PQ is approximate in general (reconstruction
  * error moves rankings); when every distinct subvector has its own
  * codeword (`distinct <= ksub`, as on the integer-lattice test
  * corpus) the encoding is LOSSLESS and ADC ranking is exact — which
  * is what lets q77 be DuckDB-oracle-checked against the true top-k.
  * Generic-data recall is spec-asserted on Gaussian clusters instead.
  */
object Pq {

  /** Per-subspace codebooks fit on a bounded driver-side sample (the
    * FAISS train() step; each subspace reuses the seeded local k-means
    * of the IVF quantizer). Returned shape: m × ks_s × dsub, where
    * ks_s <= ksub (k-means returns the distinct subvectors themselves
    * when there are fewer than ksub — the lossless case).
    */
  def fitCodebooks(corpus: DataFrame, dim: Int, m: Int,
      ksub: Int = 256, seed: Long = 42L,
      sampleSize: Int = 16384): Array[Array[Array[Double]]] = {
    require(m > 0 && dim % m == 0, s"dim $dim must split into $m subspaces")
    require(ksub > 1 && ksub <= 256, "ksub must fit one byte")
    val dsub = dim / m
    val sample = corpus.select(col("vec")).limit(sampleSize).collect()
      .map(_.getSeq[Double](0).toArray)
    Array.tabulate(m) { s =>
      val sub = sample.map(v => java.util.Arrays.copyOfRange(
        v, s * dsub, (s + 1) * dsub))
      Ann.fitCentersLocal(sub, ksub, seed + s)
    }
  }

  private def nearest(cb: Array[Array[Double]], v: Array[Double]): Int = {
    var best = 0; var bd = Double.MaxValue; var j = 0
    while (j < cb.length) {
      var d = 0.0; var i = 0
      val c = cb(j)
      while (i < c.length) { val t = c(i) - v(i); d += t * t; i += 1 }
      if (d < bd) { bd = d; best = j }
      j += 1
    }
    best
  }

  /** vec → m-byte PQ code (binary column). */
  def encodeUdf(codebooks: Array[Array[Array[Double]]])
      : UserDefinedFunction = {
    val dsub = codebooks(0)(0).length
    udf((v: Seq[Double]) => {
      val arr = v.toArray
      val out = new Array[Byte](codebooks.length)
      var s = 0
      while (s < codebooks.length) {
        out(s) = nearest(codebooks(s), java.util.Arrays.copyOfRange(
          arr, s * dsub, (s + 1) * dsub)).toByte
        s += 1
      }
      out
    })
  }

  /** The per-codebook-set ADC machinery, shared by the flat and the
    * IVF-composed paths: `score` ranks an `m`-byte candidate code by
    * `cos(q, recon(c)) = Σ_s q_s·c_s / (‖q‖ · sqrt(Σ ‖c_s‖²))` — `dim`
    * multiplies + `m` norm lookups + one sqrt per candidate, exact
    * w.r.t. the reconstructed vectors. ‖codeword‖² is
    * query-independent: one global table in the closure.
    *
    * Deliberately NOT the textbook per-query dot-product table: a
    * DataFrame join materializes every carried column per OUTPUT row,
    * so an m × ksub table (≈1000 doubles at ksub 256) rides EVERY
    * candidate row — measured 7 s for q78 at sf0.1 (multi-GB of table
    * copies) vs carrying only the dim-double query vector. FAISS's
    * table trick amortizes thread-local scratch over one query's
    * scan; the row-at-a-time equivalent is to keep the candidate side
    * codes-only (the actual memory win) and spend the identical
    * `dim`-multiply cost against closure codebooks.
    */
  private final class AdcScorer(codebooks: Array[Array[Array[Double]]])
      extends Serializable {
    private val m = codebooks.length
    private val dsub = codebooks(0)(0).length
    private val norm2Tab: Array[Array[Double]] = codebooks.map(_.map { c =>
      var s = 0.0; var i = 0
      while (i < c.length) { s += c(i) * c(i); i += 1 }
      s
    })
    val qnorm: UserDefinedFunction = udf((v: Seq[Double]) => {
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i) * v(i); i += 1 }
      math.sqrt(s)
    })
    val score: UserDefinedFunction =
      udf((qv: Seq[Double], qn: Double, code: Array[Byte]) => {
        var dot = 0.0; var n2 = 0.0; var s = 0
        while (s < m) {
          val j = code(s) & 0xff
          val c = codebooks(s)(j)
          var i = 0
          while (i < dsub) { dot += qv(s * dsub + i) * c(i); i += 1 }
          n2 += norm2Tab(s)(j)
          s += 1
        }
        val den = qn * math.sqrt(n2)
        if (den == 0.0 || den.isNaN) 0.0 else dot / den
      })
  }

  private[similarity] def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val topk = udaf(new TopKAggregator(k), Encoders.product[Scored])
    scored.groupBy(col("query_id"))
      .agg(topk(col("neighbor_id"), col("sim")).as("topk"))
      .select(col("query_id"), posexplode(col("topk")))
      .select(col("query_id"),
        (col("pos") + 1).cast("int").as("rank"),
        col("col.neighbor_id").as("neighbor_id"))
  }

  /** ADC cosine top-k of `queries` (id, vec) against `codes`
    * (id, code): the query side (id, vec, norm) is broadcast; the
    * corpus side streams `m`-byte codes through the [[AdcScorer]].
    * Candidates feed the partial-aggregating top-k
    * (same exchange bound as [[Ann.bruteForceTopK]]: k rows per
    * partition-query). Like q34, the scan is the declared O(N·Q)
    * baseline shape — PQ bounds its MEMORY traffic; [[ivfpqTopK]]
    * bounds the compute too.
    */
  def adcTopK(queries: DataFrame, codes: DataFrame,
      codebooks: Array[Array[Array[Double]]], k: Int,
      excludeSelf: Boolean = true): DataFrame = {
    val adc = new AdcScorer(codebooks)
    val qs = queries.select(col("id").as("query_id"),
      col("vec").as("qv"), adc.qnorm(col("vec")).as("qn"))
    val cs = codes.select(col("id").as("neighbor_id"), col("code"))
    val scored = cs.crossJoin(broadcast(qs))
      .filter(if (excludeSelf) col("query_id") =!= col("neighbor_id")
              else lit(true))
      .withColumn("sim", adc.score(col("qv"), col("qn"), col("code")))
    rankTopK(scored, k)
  }

  /** BUILD-ONCE / PROBE-MANY persistence for the composed IVF+PQ index
    * — the q76/q88/q102 pattern completing the persistence family with
    * the shape actually deployed at billion-vector scale: the small
    * fit artifacts (coarse centroids + PQ codebooks) land as one-file
    * parquet, and the corpus lands as `m`-byte codes partitioned BY
    * CELL — so a probe reads two tiny files plus only the probed
    * cells' code partitions (static partition pruning, q76's
    * guarantee), and the per-candidate payload is m bytes, never a
    * float vector. Append encodes against the PERSISTED artifacts (the
    * FAISS `add()` path — no refit) and lands new code partitions.
    */
  def buildPqIndex(corpus: DataFrame, dir: String, dim: Int,
      m: Int = 4, ksub: Int = 256, seed: Long = 42L, nlist: Int = 0,
      targetCell: Int = 128): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val centers = Ann.fitQuantizer(corpus, nlist, seed,
      sampleSize = 0, targetCell = targetCell)
    val codebooks = fitCodebooks(corpus, dim, m, ksub, seed)
    // the three artifacts are independent once the fits exist — land
    // them concurrently (graft.core.Par) so the two tiny fit-artifact
    // writes hide behind the code encode+shuffle instead of adding two
    // sequential commit rounds (NOTES_r11: q105 3.9 → 3.0 s)
    graft.core.Par.run(
      () => centers.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
        .toDF("cell", "centroid")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/centroids.parquet"),
      () => {
        val cbRows = for {
          (sub, s) <- codebooks.zipWithIndex.toSeq
          (cw, j) <- sub.zipWithIndex.toSeq
        } yield (s, j, cw.toSeq)
        cbRows.toDF("subspace", "codeword", "centroid")
          .coalesce(1).write.mode("overwrite")
          .parquet(s"$dir/codebooks.parquet")
      },
      () => encodeInto(corpus, dir, centers, codebooks, overwrite = true))
  }

  /** Encode-and-add new vectors against the persisted fit artifacts —
    * ids must be disjoint from the stored corpus (the ingest
    * contract, as `Dedup.appendToNearDupIndex`). After the append,
    * probing is indistinguishable from a fresh build on corpora where
    * the encoding is lossless (spec-pinned); on lossy corpora it is
    * the standard FAISS add(): codebooks reflect the build-time
    * training distribution.
    */
  def appendToPqIndex(newVecs: DataFrame, dir: String): Unit = {
    val spark = newVecs.sparkSession
    encodeInto(newVecs, dir, readCenters(spark, dir),
      readCodebooks(spark, dir), overwrite = false)
  }

  private def encodeInto(vecs: DataFrame, dir: String,
      centers: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]], overwrite: Boolean): Unit =
    vecs.select(col("id"), encodeUdf(codebooks)(col("vec")).as("code"),
        Ann.cellAssignUdf(centers)(col("vec")).as("cell"))
      // co-locate each cell before the partitioned write: without the
      // repartition every write task emits a fragment into every cell
      // directory (tasks x cells small files — the q88/Compact lesson);
      // with it each cell lands as one file per holding task. Cell size
      // is bounded by the quantizer's targetCell, so no task is hot.
      .repartition(col("cell"))
      .write.mode(if (overwrite) "overwrite" else "append")
      .partitionBy("cell").parquet(s"$dir/codes.parquet")

  private def readCenters(spark: org.apache.spark.sql.SparkSession,
      dir: String): Array[Array[Double]] =
    Parquet.read(spark, s"$dir/centroids.parquet")
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1).map(_._2)

  private def readCodebooks(spark: org.apache.spark.sql.SparkSession,
      dir: String): Array[Array[Array[Double]]] =
    Parquet.read(spark, s"$dir/codebooks.parquet")
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
      .groupBy(_._1).toArray.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3))

  /** Probe a persisted [[buildPqIndex]] index: collect the two small
    * fit artifacts, explode queries to their `nprobe` cells, prune the
    * code store to the probed cells with a STATIC `isin` on the
    * partition column (plan-time pruning, exactly [[Ann.probeIvfIndex]]),
    * and ADC-rank the surviving codes. Query-time I/O is
    * `nprobe/nlist` of the CODE footprint — itself ~m/(8·dim) of the
    * raw corpus.
    */
  def probePqIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
      queries: DataFrame, k: Int, nprobe: Int = 3): DataFrame = {
    val centers = readCenters(spark, dir)
    val codebooks = readCodebooks(spark, dir)
    val adc = new AdcScorer(codebooks)
    val qs = queries.select(col("id").as("query_id"),
      col("vec").as("qv"), adc.qnorm(col("vec")).as("qn"),
      explode(Ann.probeUdf(centers, nprobe)(col("vec"))).as("cell"))
    // one job yields BOTH the probed-cell set (the static pruning cut)
    // and, for free, the probe-row count that gates the large-batch
    // ADC-scoring spread (q105 4.0 → 3.0 s, OPTIMIZATION_r18)
    val cellCounts = qs.groupBy(col("cell")).count().collect()
    val probed = cellCounts.map(_.getInt(0))
    val qsIn =
      graft.core.Spread.probeBatch(qs, cellCounts.map(_.getLong(1)).sum)
    val cs = Parquet.read(spark, s"$dir/codes.parquet")
      .filter(col("cell").isin(probed.toSeq: _*))
      .select(col("id").as("neighbor_id"), col("code"), col("cell"))
    val scored = cs.join(qsIn, "cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", adc.score(col("qv"), col("qn"), col("code")))
    rankTopK(scored, k)
  }

  /** STREAMING twin of [[probePqIndex]] — serve a persisted IVF+PQ
    * index to an unbounded stream of query vectors (the
    * `EventStreams.annProbeVecs` shape on the memory-bounded code
    * store): fit artifacts collected once at stream start, queries
    * explode to their `nprobe` cells row-locally, candidates stream as
    * m-byte codes through the stream-static cell equi-join, per-query
    * top-k as an update-mode streaming aggregation. No driver-side
    * probed-cell collect (that static pruning needs the full query set
    * up front — a batch luxury); the cell equi-join bounds the scored
    * candidates per micro-batch instead. Also valid on a batch
    * `queries` frame.
    */
  def probePqStream(spark: org.apache.spark.sql.SparkSession,
      dir: String, queries: DataFrame, k: Int,
      nprobe: Int = 3): DataFrame = {
    val centers = readCenters(spark, dir)
    val codebooks = readCodebooks(spark, dir)
    val adc = new AdcScorer(codebooks)
    val qs = queries.select(col("id").as("query_id"),
      col("vec").as("qv"), adc.qnorm(col("vec")).as("qn"),
      explode(Ann.probeUdf(centers, nprobe)(col("vec"))).as("cell"))
    val cs = Parquet.read(spark, s"$dir/codes.parquet")
      .select(col("id").as("neighbor_id"), col("code"), col("cell"))
    val scored = cs.join(qs, "cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", adc.score(col("qv"), col("qn"), col("code")))
    rankTopK(scored, k)
  }

  /** IVF + PQ composed (the FAISS `IndexIVFPQ` shape — the index family
    * actually deployed at billion-vector scale): the coarse quantizer
    * bounds COMPUTE (each query scores only its `nprobe` cells' members
    * — a cell-id equi-join, never a corpus scan) and the PQ codes bound
    * MEMORY (candidates stream as `m`-byte codes; no float vector
    * crosses the join). The probe side carries its ADC tables through
    * the join, so scoring stays `2m` lookups per candidate. Both
    * quantizers fit exactly as in the standalone paths ([[Ann.ivfTopK]]
    * / [[fitCodebooks]]), so the lossless-corpus exactness argument
    * composes: cell agreement is exact AND reconstruction is exact →
    * the top-k is the true top-k, which keeps the declared query
    * oracle-checkable.
    */
  def ivfpqTopK(queries: DataFrame, corpus: DataFrame, dim: Int, k: Int,
      nlist: Int = 0, nprobe: Int = 3, m: Int = 4, ksub: Int = 256,
      seed: Long = 42L, targetCell: Int = 128): DataFrame = {
    val centers = Ann.fitQuantizer(corpus, nlist, seed,
      sampleSize = 0, targetCell = targetCell)
    val codebooks = fitCodebooks(corpus, dim, m, ksub, seed)
    val adc = new AdcScorer(codebooks)
    val cs = corpus.select(col("id").as("neighbor_id"),
      encodeUdf(codebooks)(col("vec")).as("code"),
      Ann.cellAssignUdf(centers)(col("vec")).as("cell"))
    val qs = queries.select(col("id").as("query_id"),
      col("vec").as("qv"), adc.qnorm(col("vec")).as("qn"),
      explode(Ann.probeUdf(centers, nprobe)(col("vec"))).as("cell"))
    val scored = cs.join(qs, "cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", adc.score(col("qv"), col("qn"), col("code")))
    rankTopK(scored, k)
  }
}
