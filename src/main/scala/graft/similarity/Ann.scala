package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

import graft.io.Parquet

/** Similarity search over an embedding column (`array<float>`).
  *
  * Brute-force cosine top-k is the exact baseline: a broadcast of the query
  * side against a full scan of the corpus — one pass, with the per-query
  * top-k done by a partial-aggregating `TopKAggregator` so only k rows per
  * (partition, query) reach the shuffle (never all N·Q scored rows).
  *
  * The scale path is random-hyperplane LSH: each vector gets a `nbits`-bit
  * sign signature from fixed seeded hyperplanes; neighbors are searched only
  * within matching buckets (multi-probe = also buckets at Hamming distance
  * 1). Bucketing is a single narrow projection + equi-join: linear at
  * 100 TB where brute force is quadratic.
  */
object Ann {

  /** dot(a,b) via zip_with + aggregate — codegen'd, no UDF. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d),
      (acc, x) => acc + x)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** NaN-safe: a zero-norm vector (failed/padded embedding) similarity is
    * 0, not NaN — NaN sorts as the LARGEST double under desc ordering and
    * would displace every true top-k result. Backed by the native codegen
    * expression (one fused loop; HOF lambdas evaluate interpreted).
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSimilarity.cosine64(a, b)

  /** Turn `(query_id, array<Scored>)` rows (best-first) into
    * `(query_id, rank, neighbor_id)` — the window-top-k output shape.
    */
  private def rankedFromTopK(grouped: DataFrame): DataFrame =
    grouped
      .select(col("query_id"), posexplode(col("topk")))
      .select(col("query_id"),
        (col("pos") + 1).cast("int").as("rank"),
        col("col.neighbor_id").as("neighbor_id"))

  /** Exact top-k cosine neighbors for each query row.
    * queries/corpus: (id, vec). Broadcast the smaller (query) side.
    * The top-k cut is a typed Aggregator with map-side partial
    * aggregation: each input partition forwards at most k candidates per
    * query, so the exchange is O(partitions·|Q|·k), independent of corpus
    * size — compute stays quadratic (that is what "exact" costs), but the
    * shuffle no longer is.
    */
  def bruteForceTopK(
      queries: DataFrame, corpus: DataFrame, k: Int,
      excludeSelf: Boolean = true): DataFrame = {
    val q = queries.select(col("id").as("query_id"), col("vec").as("qv"))
    val c = corpus.select(col("id").as("neighbor_id"), col("vec").as("cv"))
    val scored = c.crossJoin(broadcast(q))
      // excludeSelf = false when query/corpus ids are DIFFERENT id
      // spaces (e.g. span -> concept linking) where an accidental id
      // collision must not suppress a legitimate pair
      .filter(if (excludeSelf) col("query_id") =!= col("neighbor_id")
              else lit(true))
      .withColumn("sim", cosine(col("qv"), col("cv")))
    val topk = udaf(new TopKAggregator(k), Encoders.product[Scored])
    rankedFromTopK(scored.groupBy(col("query_id"))
      .agg(topk(col("neighbor_id"), col("sim")).as("topk")))
  }

  /** Deterministic pseudo-random hyperplanes (dim x nbits), seeded. */
  private def hyperplanes(
      dim: Int, nbits: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rng = new java.util.Random(seed)
    Array.fill(nbits)(Array.fill(dim)(rng.nextGaussian()))
  }

  /** Sign-bit signature column for LSH bucketing. Row-local UDF with the
    * plane matrix in the closure: the expression form (nbits × dot via
    * `aggregate`/`zip_with`) evaluates its lambdas INTERPRETED and
    * hands janino an expression tree that takes longer to codegen than
    * the query takes to run — one fused loop is both the fast and the
    * scale-correct shape (same FP accumulation order, identical bits).
    */
  def signature(
      vec: Column, dim: Int, nbits: Int, seed: Long = 42L): Column = {
    val planes = hyperplanes(dim, nbits, seed)
    val f = udf((v: Seq[Double]) => {
      var sig = 0L
      var i = 0
      while (i < planes.length) {
        val p = planes(i)
        var acc = 0.0
        var d = 0
        val n = math.min(p.length, v.length)
        while (d < n) { acc += v(d) * p(d); d += 1 }
        if (acc >= 0) sig |= (1L << i)
        i += 1
      }
      sig
    })
    f(vec)
  }

  /** Local Lloyd's KMeans over a driver-side sample — the FAISS-standard
    * coarse-quantizer fit. Nobody fits a quantizer on the full corpus
    * inside the query: at 100 TB the quantizer's ONLY job is to
    * partition space, and a few hundred vectors per cell estimate the
    * centroids as well as the corpus does. Seeded k-means++ init,
    * bounded iterations, pure driver-side arithmetic — zero Spark jobs
    * (the previous MLlib fit launched ~20 distributed jobs per query
    * invocation and dominated the whole query's wall time).
    */
  private[graft] def fitCentersLocal(
      sample: Array[Array[Double]], nlist: Int, seed: Long,
      maxIter: Int = 10): Array[Array[Double]] = {
    // distinctBy(_.toSeq): Array equality is reference equality, so a
    // bare .distinct would never collapse duplicate vectors
    val distinct = sample.distinctBy(_.toSeq)
    if (distinct.isEmpty) return Array(Array(0.0))
    if (distinct.length <= nlist) return distinct
    val rng = new java.util.Random(seed)
    val dim = distinct(0).length
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    // k-means++ seeding with the standard incremental min-distance
    // cache: after adding a center, only distances to the NEW center
    // are computed — O(n·k·dim) total. The naive form (recomputing all
    // centers' distances each round) is O(n·k²·dim) and dominated the
    // whole 10×-corpus query in ScaleStressSpec (24 s quiet-box median,
    // nlist 219 — vs 1.5 s at 1×).
    val centers = scala.collection.mutable.ArrayBuffer(
      distinct(rng.nextInt(distinct.length)))
    val dists = distinct.map(p => d2(p, centers(0)))
    while (centers.length < nlist) {
      val total = dists.sum
      val next =
        if (total <= 0) distinct(rng.nextInt(distinct.length))
        else {
          var r = rng.nextDouble() * total
          var i = 0
          while (i < dists.length - 1 && r > dists(i)) { r -= dists(i); i += 1 }
          distinct(i)
        }
      centers += next
      var i = 0
      while (i < distinct.length) {
        val d = d2(distinct(i), next)
        if (d < dists(i)) dists(i) = d
        i += 1
      }
    }
    var cs = centers.toArray
    var it = 0
    var moved = true
    while (it < maxIter && moved) {
      val sums = Array.fill(cs.length)(new Array[Double](dim))
      val counts = new Array[Long](cs.length)
      sample.foreach { p =>
        var best = 0; var bd = Double.MaxValue; var c = 0
        while (c < cs.length) {
          val d = d2(p, cs(c)); if (d < bd) { bd = d; best = c }; c += 1
        }
        counts(best) += 1
        var i = 0
        while (i < dim) { sums(best)(i) += p(i); i += 1 }
      }
      val next = cs.indices.map { c =>
        if (counts(c) == 0) cs(c)
        else sums(c).map(_ / counts(c))
      }.toArray
      moved = cs.indices.exists(c => d2(cs(c), next(c)) > 1e-12)
      cs = next
      it += 1
    }
    cs
  }

  /** IVF-flat approximate top-k (the FAISS IVF shape): a KMeans coarse
    * quantizer over a corpus SAMPLE assigns every vector to one of
    * `nlist` cells; each query probes its `nprobe` nearest centroids and
    * ranks only those cells' vectors by exact cosine. Candidate
    * generation is an equi-join on the cell id — linear at corpus scale,
    * with recall controlled by `nprobe`. Complements [[lshTopK]]
    * (data-independent buckets) with a data-ADAPTIVE partitioner: on
    * clustered real embeddings IVF cells hug the data manifold.
    *
    * The quantizer fits on a driver-side sample of `sampleSize` vectors
    * (FAISS uses ~39×nlist as its floor) via [[fitCentersLocal]] — one
    * narrow collect, no distributed fit. Cell assignment is a pure
    * function of the fitted centers, so the approximate result is
    * identical whether centers came from the sample or the full corpus,
    * as long as the cells partition space reasonably. The centers ride
    * to executors in the UDF closure (nlist × dim doubles — small by
    * construction); assignment and probing are row-local.
    *
    * Scale guard (caught by ScaleStressSpec at 10×: 1.6 s → 95 s with
    * 16 fixed cells): a FIXED `nlist` means cell population grows
    * linearly with the corpus, and when the query side is the corpus
    * itself the probe join's work grows quadratically. `nlist <= 0`
    * derives the cell count from the corpus size so expected cell
    * population stays ≈ `targetCell` (floor 16 keeps the sf0.01/sf0.1
    * plans unchanged; past 4096 cells the fit switches to the
    * distributed Lloyd rounds of [[fitCentersDistributed]] — a bigger
    * driver collect is never the move).
    * `targetCell` 128 is the FAISS-typical band (nlist ≈ 4·sqrt(n)
    * gives ~250 at n=1M) and, as important, keeps the probe JOIN
    * parallel: the join key is the cell id, so the number of cells is
    * the number of distinct shuffle keys — at 10× corpus the old 512
    * target produced only 32 cells for local[32]'s 32 partitions,
    * hash collisions left most cores idle (measured load ~2/32, 23 s;
    * 128 → 125 cells, ~4× fewer candidate pairs, and a busy stage).
    */
  def ivfTopK(
      queries: DataFrame, corpus: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 3, seed: Long = 42L,
      sampleSize: Int = 0, targetCell: Int = 128): DataFrame = {
    val centers =
      fitQuantizer(corpus, nlist, seed, sampleSize, targetCell)
    val cs = corpus.select(col("id").as("neighbor_id"),
      col("vec").as("cv"), cellAssignUdf(centers)(col("vec")).as("cell"))
    val qs = queries.select(col("id").as("query_id"),
      col("vec").as("qv"),
      explode(probeUdf(centers, nprobe)(col("vec"))).as("cell"))
    probeJoinTopK(cs, qs, k)
  }

  /** Derive the cell count and fit the coarse quantizer (see
    * [[ivfTopK]]'s scale notes — `nlist <= 0` scales the cell count
    * with the corpus). Up to 4096 cells the fit is the driver-side
    * sample k-means ([[fitCentersLocal]] — its sample would need
    * ≥ 64·nlist vectors, and its k-means++ cost O(sample·nlist·dim)
    * stays sub-second there); past that the fit itself goes
    * DISTRIBUTED ([[fitCentersDistributed]]) so the cell count keeps
    * scaling with the corpus instead of silently capping cell
    * population growth. The 2^20 ceiling is where flat IVF stops being
    * the right index family at all (hierarchical coarse quantizers /
    * graph indexes take over), not a driver limit.
    */
  private[similarity] def fitQuantizer(corpus: DataFrame, nlist: Int,
      seed: Long, sampleSize: Int, targetCell: Int): Array[Array[Double]] = {
    val cells =
      if (nlist > 0) nlist
      else math.min(1 << 20, math.max(16,
        math.ceil(corpus.count().toDouble / targetCell).toInt))
    if (cells > 4096) return fitCentersDistributed(corpus, cells, seed)
    val sz = if (sampleSize > 0) sampleSize else math.max(cells * 64, 1024)
    // limit() pulls from the first partitions — fine for a coarse
    // quantizer (its only job is to partition space); swap in a seeded
    // Bernoulli sample if corpus order were adversarial.
    val sample: Array[Array[Double]] = corpus.select(col("vec"))
      .limit(sz).collect()
      .map(_.getSeq[Double](0).toArray)
    fitCentersLocal(sample, cells, seed)
  }

  /** Distributed Lloyd fit — the production quantizer fit once the cell
    * count outgrows any driver-side sample (a 64·nlist sample at
    * nlist = 100k is 6.4M vectors through one collect). Init is the
    * `nlist` vectors with the smallest md5(seed:id) — a deterministic
    * uniform draw, planned as TakeOrdered (no global sort
    * materialization) — then `maxIter` Lloyd rounds, each ONE
    * distributed job: broadcast centers → nearest-center assign →
    * per-cell element-wise mean via the partial-aggregating
    * [[VecMeanAggregator]] (one (dim, count) pair per partition-cell
    * at the exchange; the nlist-row collect IS the result). Empty
    * cells keep their previous center. Centers are deterministic up to
    * float-sum association order across partitions (~1 ulp); boundary
    * vectors may therefore flip cells between runs — within the ANN
    * contract, which is why the ORACLE-checked queries pin the
    * deterministic local-fit path instead.
    */
  def fitCentersDistributed(corpus: DataFrame, nlist: Int, seed: Long,
      maxIter: Int = 5): Array[Array[Double]] = {
    require(nlist > 0, "nlist must be positive")
    val spark = corpus.sparkSession
    var centers: Array[Array[Double]] = corpus
      .select(col("vec"))
      .orderBy(md5(concat_ws(":", lit(seed), col("id").cast("long"))),
        col("id"))
      .limit(nlist).collect()
      .map(_.getSeq[Double](0).toArray)
    if (centers.isEmpty) return Array(Array(0.0))
    val vecMean = udaf(new VecMeanAggregator,
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]())
    var it = 0
    while (it < maxIter) {
      val bc = spark.sparkContext.broadcast(centers)
      val assign = udf((v: Seq[Double]) => {
        val cs = bc.value
        var best = 0; var bd = qdist2(cs(0), v); var i = 1
        while (i < cs.length) {
          val d = qdist2(cs(i), v); if (d < bd) { bd = d; best = i }
          i += 1
        }
        best
      })
      val means = corpus
        .groupBy(assign(col("vec")).as("cell"))
        .agg(vecMean(col("vec")).as("mean"))
        .collect()
      val next = centers.clone()
      means.foreach { r =>
        val m = r.getSeq[Double](1)
        if (m.nonEmpty) next(r.getInt(0)) = m.toArray
      }
      bc.destroy()
      centers = next
      it += 1
    }
    centers
  }

  private def qdist2(a: Array[Double], b: Seq[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** Nearest-centroid cell id; the centers array rides in the UDF
    * closure (nlist × dim doubles — small by construction). */
  private[similarity] def cellAssignUdf(centers: Array[Array[Double]])
      : UserDefinedFunction =
    udf((v: Seq[Double]) =>
      centers.zipWithIndex.minBy { case (c, _) => qdist2(c, v) }._2)

  /** The `nprobe` nearest cell ids, by partial top-nprobe selection —
    * not a full sort: nprobe is 2-3 while the scaled cell count
    * reaches thousands, and this runs per ROW. */
  private[graft] def probeUdf(centers: Array[Array[Double]], nprobe: Int)
      : UserDefinedFunction =
    udf((v: Seq[Double]) => {
      val d = centers.map(qdist2(_, v))
      val chosen = new Array[Int](math.min(nprobe, centers.length))
      var p = 0
      while (p < chosen.length) {
        var best = 0; var bd = d(0); var i = 1
        while (i < d.length) {
          if (d(i) < bd) { bd = d(i); best = i }
          i += 1
        }
        chosen(p) = best
        d(best) = Double.PositiveInfinity // finite vecs -> never a real d2
        p += 1
      }
      chosen.toSeq
    })

  /** The shared IVF probe tail: equi-join candidates on the cell id,
    * exact cosine, partial-aggregating top-k. No distinct needed: each
    * corpus vector lives in exactly one cell and a query's nprobe
    * cells are distinct, so a (query, neighbor) pair scores at most
    * once — candidates flow straight into the top-k aggregator.
    */
  private[graft] def probeJoinTopK(cs: DataFrame, qs: DataFrame, k: Int)
      : DataFrame = {
    val scored = cs.join(qs, "cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosine(col("qv"), col("cv")))
    val topk = udaf(new TopKAggregator(k), Encoders.product[Scored])
    rankedFromTopK(scored
      .groupBy(col("query_id"))
      .agg(topk(col("neighbor_id"), col("sim")).as("topk")))
  }

  /** BUILD-ONCE / PROBE-MANY IVF index persistence — the production
    * ANN shape at corpus scale (FAISS's train→add→search lifecycle,
    * re-expressed as Spark storage layout): [[buildIvfIndex]] fits the
    * coarse quantizer, writes the centroids as one small parquet and
    * the corpus `partitionBy("cell")`, so each cell is a parquet
    * PARTITION DIRECTORY. [[probeIvfIndex]] then reads only the probed
    * cells: the probe equi-join is on the partition column, so
    * Catalyst's dynamic partition pruning (or the static `isin` cut
    * when the probed set is small) turns "search the corpus" into
    * "scan nprobe/nlist of it" — the I/O win that makes query-time ANN
    * linear in the PROBED fraction, not the corpus, without any
    * serving infrastructure beyond parquet.
    */
  def buildIvfIndex(corpus: DataFrame, indexDir: String,
      nlist: Int = 0, seed: Long = 42L, sampleSize: Int = 0,
      targetCell: Int = 128): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val centers =
      fitQuantizer(corpus, nlist, seed, sampleSize, targetCell)
    // both artifacts are independent once the fit exists — land them
    // concurrently so the tiny centroid write hides behind the cell
    // assignment+write instead of adding a sequential commit round
    // (q76 2.5 → 2.0 s, NOTES_r11)
    graft.core.Par.run(
      () => centers.zipWithIndex
        .map { case (c, i) => (i, c.toSeq) }.toSeq
        .toDF("cell", "centroid")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$indexDir/centroids.parquet"),
      () => corpus
        .withColumn("cell", cellAssignUdf(centers)(col("vec")))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(s"$indexDir/cells.parquet"))
  }

  /** Incremental maintenance for a persisted [[buildIvfIndex]] index —
    * the FAISS add() path completing the append family (`Bm25
    * .appendToIndex` / `Dedup.appendToNearDupIndex` /
    * `Pq.appendToPqIndex`): new vectors (ids disjoint from the stored
    * corpus, the ingest contract) are assigned cells against the
    * PERSISTED centroids — no refit, so existing cell directories stay
    * valid — and land as appended files under the same partition
    * layout. Probing after the append is indistinguishable from a
    * fresh build over the union wherever assignment is a function of
    * the vector value (always true: the quantizer is fixed), up to the
    * fit itself, which keeps reflecting the build-time training
    * distribution (spec-pinned on the clustered fixture).
    */
  def appendToIvfIndex(newVecs: DataFrame, indexDir: String): Unit = {
    val spark = newVecs.sparkSession
    val centers = Parquet.read(spark, s"$indexDir/centroids.parquet")
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1).map(_._2)
    newVecs
      .withColumn("cell", cellAssignUdf(centers)(col("vec")))
      .write.mode("append").partitionBy("cell")
      .parquet(s"$indexDir/cells.parquet")
  }

  /** Probe a persisted [[buildIvfIndex]] index. The cell-id filter is
    * applied as a STATIC `isin` on the partition column — the probed
    * set is at most `queries × nprobe` distinct cells, already known
    * driver-side for the explode, so partition pruning is guaranteed
    * at plan time (`PartitionFilters` in the scan) rather than left to
    * runtime DPP. Queries is expected to be the small side (the
    * online-lookup shape); the corpus never loads outside the probed
    * directories.
    */
  def probeIvfIndex(spark: SparkSession, indexDir: String,
      queries: DataFrame, k: Int, nprobe: Int = 3): DataFrame = {
    val centers = Parquet.read(spark, s"$indexDir/centroids.parquet")
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1).map(_._2)
    // qs is deliberately NOT checkpointed: the probe projection is
    // recomputed once for the cell collect and once in the join —
    // cheap on the small query side — whereas an eager localCheckpoint
    // would pin its blocks in executor storage until driver GC, one
    // leaked block set per probe call in the build-once/probe-many
    // serving loop this exists for.
    val qs = queries.select(col("id").as("query_id"),
      col("vec").as("qv"),
      explode(probeUdf(centers, nprobe)(col("vec"))).as("cell"))
    // one job yields the probed-cell set AND the probe-row count that
    // gates the large-batch spread (q76 1.97 → 1.88 s, OPTIMIZATION_r18)
    val cellCounts = qs.groupBy(col("cell")).count().collect()
    val probed = cellCounts.map(_.getInt(0))
    val qsIn =
      graft.core.Spread.probeBatch(qs, cellCounts.map(_.getLong(1)).sum)
    val cs = Parquet.read(spark, s"$indexDir/cells.parquet")
      .filter(col("cell").isin(probed.toSeq: _*))
      .select(col("id").as("neighbor_id"), col("vec").as("cv"),
        col("cell"))
    probeJoinTopK(cs, qsIn, k)
  }

  /** Signature width that keeps expected bucket population bounded:
    * `nbits ~ log2(corpusSize)` puts O(1) vectors per bucket on
    * hash-uniform data, so per-bucket quadratic work stays constant as
    * the corpus grows (a FIXED nbits means bucket population — and the
    * per-bucket self-join — grows linearly with corpus size).
    */
  def scaledNbits(corpusSize: Long, floor: Int = 8, cap: Int = 24): Int =
    math.min(cap, math.max(floor,
      64 - java.lang.Long.numberOfLeadingZeros(math.max(corpusSize, 1L)))).toInt

  // Cap boilerplate-skew buckets exactly as Dedup.lshCandidatePairs
  // does: aggregate pre-shrinks to one row per bucket, the optional
  // dropped-bucket count is computed EAGERLY by its own small action
  // (an in-plan side-effecting filter would double-count when the
  // self-join plans the subtree on both sides).
  private def capBuckets(
      withBucket: DataFrame, maxBucket: Int,
      droppedBuckets: Option[org.apache.spark.util.LongAccumulator])
      : DataFrame = {
    val cnt = withBucket.groupBy("bucket").agg(count(lit(1)).as("n"))
    droppedBuckets.foreach { acc =>
      acc.add(cnt.filter(col("n") > maxBucket).count())
    }
    withBucket.join(
      cnt.filter(col("n") <= maxBucket).select("bucket"), "bucket")
  }

  /** Embedding-cosine near-duplicate pairs: MULTI-TABLE hyperplane-LSH
    * candidates (a pair collides if any of `tables` independent
    * signatures match — the amplification that makes recall real: one
    * 12-bit table catches only ~16% of pairs at cosine 0.9, eight 8-bit
    * tables ~93%), then exact cosine verification at `threshold`. The
    * embedding-space member of the dedup family (exact / minhash /
    * simhash / ngram live in [[graft.dedup.Dedup]]). The cross-table
    * duplicate candidates make the final distinct necessary here.
    *
    * Scale guards: `nbits <= 0` derives the signature width from the
    * corpus size ([[scaledNbits]] — a fixed width makes every bucket's
    * population, and its quadratic self-join, grow linearly with the
    * corpus), and `maxBucket` drops degenerate buckets (a spike of
    * near-identical embeddings — e.g. a padding vector — collapses into
    * one bucket whose self-join is quadratic in the spike) with the
    * dropped count surfaced through `droppedBuckets`, never silently.
    */
  def cosineNearDuplicates(
      corpus: DataFrame, dim: Int, threshold: Double,
      nbits: Int = 8, tables: Int = 8,
      maxBucket: Int = 100000,
      droppedBuckets: Option[org.apache.spark.util.LongAccumulator] = None)
      : DataFrame = {
    val bits =
      if (nbits > 0) nbits
      else scaledNbits(corpus.select(count(lit(1))).head.getLong(0))
    val sigArr = array((0 until tables).map(t =>
      struct(lit(t).as("t"),
        signature(col("vec"), dim, bits, seed = 42L + t).as("s"))): _*)
    val withSig = corpus.select(col("id"), col("vec"),
      explode(sigArr).as("ts"))
      .select(col("id"), col("vec"),
        concat_ws("_", col("ts.t"), col("ts.s")).as("bucket"))
    val capped = capBuckets(withSig, maxBucket, droppedBuckets)
    val a = capped.select(col("bucket"), col("id").as("id_a"),
      col("vec").as("va"))
    val b = capped.select(col("bucket"), col("id").as("id_b"),
      col("vec").as("vb"))
    a.join(b, "bucket")
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim", cosine(col("va"), col("vb")))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("sim"), 4).as("sim"))
      .distinct()
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023): a doc is
    * DROPPED when some lower-id doc sits within cosine `threshold` of it.
    * Returns one row per SURVIVOR: (id, n_near) where n_near counts the
    * near-duplicate pairs the survivor anchors (0 for docs with no
    * near-dups at all).
    *
    * NOTE the drop rule is ONE-SHOT, not sequential-greedy: on a
    * similarity CHAIN 0~1, 1~2 (0 !~ 2), sequential greedy would keep
    * {0, 2} (1's removal rehabilitates 2), while this rule drops every
    * doc with any lower-id neighbor and keeps only {0}. That is a
    * deliberate scale tradeoff — sequential greedy is inherently
    * order-serial (each decision depends on all prior ones), while the
    * one-shot rule is a single distributed pass; it over-deletes only on
    * chains, which near-dup clusters (the common case at high
    * thresholds) don't form. The id order stands in for SemDeDup's
    * keep-lowest-similarity-to-centroid rule; any total order (quality
    * score, timestamp) slots in by re-mapping ids.
    *
    * Built on [[cosineNearDuplicates]], so the candidate stage is the
    * capped multi-table LSH (linear, skew-guarded) — never an all-pairs
    * scan — and the survivor selection is one anti-join on the pair list
    * plus a count join.
    */
  def semanticDedup(
      corpus: DataFrame, dim: Int, threshold: Double,
      nbits: Int = 8, tables: Int = 8,
      maxBucket: Int = 100000,
      droppedBuckets: Option[org.apache.spark.util.LongAccumulator] = None)
      : DataFrame = {
    val pairs = cosineNearDuplicates(corpus, dim, threshold, nbits,
      tables, maxBucket, droppedBuckets)
      .select(col("id_a"), col("id_b"))
    val dropped = pairs.select(col("id_b").as("id")).distinct()
    val nNear = pairs.groupBy(col("id_a").as("id"))
      .agg(count(lit(1)).as("n_near"))
    corpus.select(col("id"))
      .join(dropped, Seq("id"), "left_anti")
      .join(nNear, Seq("id"), "left")
      .select(col("id"), coalesce(col("n_near"), lit(0L)).as("n_near"))
  }

  /** Approximate top-k: candidates share an LSH bucket (or a bucket at
    * Hamming distance 1 via multi-probe), ranked by exact cosine.
    * `maxBucket` caps degenerate corpus buckets before the probe join
    * (same skew guard as [[cosineNearDuplicates]]); dropping a bucket
    * costs recall for queries probing it — surfaced, never silent.
    * `nbits <= 0` derives the signature width from the corpus size
    * ([[scaledNbits]], floor 12): with a FIXED width, bucket population
    * grows linearly with the corpus and the probe join's per-bucket
    * cost quadratically — measured as a 28x wall-time jump at a 10x
    * corpus (ScaleStressSpec) before this path existed.
    */
  def lshTopK(
      queries: DataFrame, corpus: DataFrame, dim: Int, k: Int,
      nbits: Int = 12,
      maxBucket: Int = 100000,
      droppedBuckets: Option[org.apache.spark.util.LongAccumulator] = None)
      : DataFrame = {
    val bits =
      if (nbits > 0) nbits
      else scaledNbits(corpus.select(count(lit(1))).head.getLong(0),
        floor = 12)
    val cs0 = corpus.select(col("id").as("neighbor_id"), col("vec").as("cv"),
      signature(col("vec"), dim, bits).as("sig"))
    val cs = capBuckets(cs0.withColumn("bucket", col("sig")),
        maxBucket, droppedBuckets)
      .drop("bucket")
    // multi-probe: query probes its own bucket + all 1-bit flips
    val qs = queries.select(col("id").as("query_id"), col("vec").as("qv"),
      signature(col("vec"), dim, bits).as("qsig"))
      .withColumn("sig", explode(concat(
        array(col("qsig")),
        expr(s"transform(sequence(0, ${bits - 1}), " +
          s"b -> qsig ^ (1L << b))"))))
    val scored = cs.join(qs, "sig")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosine(col("qv"), col("cv")))
    // distinct first: multi-probe yields the same (query, neighbor) from
    // several buckets and a duplicate must not occupy two top-k slots.
    val topk = udaf(new TopKAggregator(k), Encoders.product[Scored])
    rankedFromTopK(scored
      .select(col("query_id"), col("neighbor_id"), col("sim")).distinct()
      .groupBy(col("query_id"))
      .agg(topk(col("neighbor_id"), col("sim")).as("topk")))
  }
}
