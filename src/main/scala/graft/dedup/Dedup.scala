package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.io.Parquet

/** Large-scale deduplication operators for training-data pipelines.
  *
  * Everything here is expressed with codegen'd built-in functions (no UDF in
  * the hot path): shingling via `sequence`/`transform`/`slice`, MinHash via
  * `aggregate` over universal-hash permutations of `xxhash64`, banding via
  * re-hash of signature slices. The only shuffles are the ones the problem
  * requires (bucket groupBy, pair dedup), all on bounded-size keys.
  *
  * Scale design: candidate generation is LSH (linear in corpus size), never
  * all-pairs; verification joins are equi-joins on doc ids; signatures are
  * fixed-width arrays (k longs) so memory per row is constant. At 100 TB,
  * bucket skew (a shingle-set shared by millions of boilerplate docs) is the
  * known hazard — cap bucket width with a count filter, as done in
  * production LSH dedups.
  */
object Dedup {
  /** Large prime < 2^31 for universal hashing: (a*h+b) mod P with
    * h < P, a,b < P keeps every product < 2^62 (no long overflow).
    */
  private val P = 2147483647L // 2^31 - 1, Mersenne prime

  /** Deterministic permutation parameters (splitmix-ish, fixed seed so
    * signatures are reproducible across runs/engines).
    */
  private def perm(i: Int): (Long, Long) = {
    var z = 0x9E3779B97F4A7C15L * (i + 1)
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    val a = math.floorMod(z ^ (z >>> 31), P - 1) + 1 // a in [1, P-1]
    var w = 0xD1B54A32D192ED03L * (i + 7)
    w = (w ^ (w >>> 29)) * 0xFF51AFD7ED558CCDL
    val b = math.floorMod(w ^ (w >>> 32), P) // b in [0, P-1]
    (a, b)
  }

  /** Word n-gram shingles of a text column as distinct hashes mod P (the
    * MinHash input). For clinical text, tokenize+normalize first and
    * shingle the norms; for the single-space corpus `split` suffices.
    */
  def shingleHashes(text: Column, n: Int): Column = {
    val words = split(text, "\\s+")
    val shingles = transform(
      sequence(lit(0), greatest(size(words) - n, lit(0))),
      i => array_join(slice(words, i + 1, lit(n)), " "))
    array_distinct(transform(shingles, s => pmod(xxhash64(s), lit(P))))
  }

  /** MinHash signature: array of k minima of universal-hash permutations —
    * the classic (a*h+b) mod P scheme over xxhash64'd shingles. Pure
    * expression: whole-stage codegen applies.
    */
  def minHashSignature(hashes: Column, k: Int): Column = {
    val mins = (0 until k).map { i =>
      val (a, b) = perm(i)
      aggregate(hashes, lit(Long.MaxValue),
        (acc, h) => least(acc, pmod(h * lit(a) + lit(b), lit(P))))
    }
    array(mins: _*)
  }

  /** Fused text -> MinHash signature: word split, FNV-1a word hashes,
    * n-gram shingle mix, then all k universal-hash minima in one pass —
    * no intermediate shingle strings/arrays (same profiling-driven shape
    * as SimHash.simhashFromText). Signature semantics identical to
    * `minHashSignature` up to the underlying shingle hash family; LSH
    * recall at the verified thresholds is unaffected.
    */
  def minHashSignatureFromText(text: Column, n: Int, k: Int): Column =
    // native codegen'd expression; coalesce preserves the legacy UDF's
    // null -> all-MaxValue signature
    coalesce(
      graft.functions.TextHashExpressions.minhashSignature(text, n, k),
      array((0 until k).map(_ => lit(Long.MaxValue)): _*))

  // flat (a0, b0, a1, b1, ...) permutation parameters per k, cached so
  // the codegen'd expression pays no per-row setup
  private val permCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()

  /** Row-local fused MinHash signature (called from the codegen'd
    * [[graft.functions.TextHashExpressions.MinHashSignatureFromText]]).
    */
  def minhashSigArray(s: String, n: Int, k: Int): Array[Long] = {
    val ps = permCache.computeIfAbsent(k,
      (kk: Int) => {
        val arr = new Array[Long](2 * kk)
        var i = 0
        while (i < kk) {
          val (a, b) = perm(i)
          arr(2 * i) = a
          arr(2 * i + 1) = b
          i += 1
        }
        arr
      })
    val sig = Array.fill(k)(Long.MaxValue)
    Shingling.foreachShingleHash(s, n) { z =>
      val hp = math.floorMod(z, P)
      var b = 0
      while (b < k) {
        val v = math.floorMod(ps(2 * b) * hp + ps(2 * b + 1), P)
        if (v < sig(b)) sig(b) = v
        b += 1
      }
    }
    sig
  }

  /** Exact duplicate groups: hash-groupBy on content. Returns one row per
    * distinct content with the kept (min) id and the duplicate count.
    * Map-side partial aggregation makes this one bounded shuffle at scale;
    * group on a content hash (not the content) so shuffle keys stay small.
    */
  def exactDuplicates(df: DataFrame, idCol: String, textCol: String)
      : DataFrame =
    df.groupBy(sha2(col(textCol), 256).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** LSH candidate pairs: signature sliced into `bands` bands, each band
    * re-hashed to a bucket; ids sharing (band, bucket) become candidates.
    * Self-join happens per-bucket only — linear + bucket-local quadratic.
    * `maxBucket` guards against boilerplate-skew buckets at scale.
    */
  /** The ONE definition of the LSH banding bucket key: band b's bucket
    * is xxhash64 over the band index and that band's signature slice.
    * Shared by [[lshCandidatePairs]] and the dropped-count side of
    * [[lshCandidatePairsWithDropped]] so the observability count can
    * never desync from the bucketing that actually drops.
    */
  private def bandBuckets(sigs: DataFrame, idCol: String, bands: Int)
      : DataFrame =
    sigs
      .select(col(idCol).as("id"),
        posexplode(expr(s"transform(sequence(0, $bands - 1), " +
          s"b -> xxhash64(b, array_join(slice(sig, " +
          s"b * greatest(size(sig) div $bands, 1) + 1, " +
          s"greatest(size(sig) div $bands, 1)), ',')))")))
      .select(col("id"), concat_ws("_", col("pos"), col("col")).as("bucket"))

  def lshCandidatePairs(
      sigs: DataFrame, // (id, sig array<bigint>)
      idCol: String,
      bands: Int,
      sigLength: Int,
      maxBucket: Int = 1000,
      droppedBuckets: Option[org.apache.spark.util.LongAccumulator] = None)
      : DataFrame = {
    require(bands > 0, "bands must be positive")
    // bands > signature length would make every band slice empty: all
    // docs collide into one bucket per band and the maxBucket cap then
    // silently drops everything — mandatory check, not opt-in.
    require(bands <= sigLength,
      s"bands ($bands) must not exceed signature length ($sigLength)")
    val buckets = bandBuckets(sigs, idCol, bands)
    // Cap boilerplate-skew buckets with a groupBy count + join, not a
    // window: a window count sorts every row WITHIN the mega-bucket it is
    // about to discard; the aggregate pre-shrinks to one row per bucket.
    // Deliberate tradeoff: the count pre-pass and the capped join each
    // recompute the signature projection (codegen'd, linear) — the
    // one-pass alternative (collect_list per bucket + combination
    // explode) would materialize a MEGA-bucket's full id array in one
    // aggregation buffer before the cap can discard it, an OOM hazard
    // at 100 TB that this shape can never hit.
    // The cap is a documented recall tradeoff — never a silent one: when
    // observability is requested, the dropped-bucket count is computed
    // EAGERLY by its own small action. An in-plan side-effecting filter
    // would double-count whenever the self-join below plans the
    // aggregate+filter subtree on both sides (only the underlying
    // exchange is reused); one extra narrow pass, exact semantics.
    val cnt = buckets.groupBy("bucket").agg(count(lit(1)).as("n"))
    droppedBuckets.foreach { acc =>
      acc.add(cnt.filter(col("n") > maxBucket).count())
    }
    val keptBuckets = cnt.filter(col("n") <= maxBucket)
    val capped = buckets.join(keptBuckets.select("bucket"), "bucket")
    val l = capped.select(col("bucket"), col("id").as("id_a"))
    val r = capped.select(col("bucket"), col("id").as("id_b"))
    l.join(r, "bucket")
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
  }

  /** Capped candidate pairs + declarative dropped-bucket count over an
    * ARBITRARY `(id, bucket)` frame — the banding-independent core of
    * [[lshCandidatePairsWithDropped]], reused by the portable
    * observability probe (q64) whose buckets come from
    * [[portableBandSigs]] instead of the fused engine signature. Both
    * frames come back as UNEXECUTED plans, so a probe can combine them
    * into a single action (`dropped.crossJoin(pairs.agg(...))`).
    * Declarative counting has none of the accumulator's double-count
    * hazard, so no side-channel is needed here.
    */
  def cappedBucketPairsWithDropped(buckets: DataFrame, maxBucket: Int)
      : (DataFrame, DataFrame) = {
    val cnt = buckets.groupBy("bucket").agg(count(lit(1)).as("n"))
    val keptBuckets = cnt.filter(col("n") <= maxBucket)
    val capped = buckets.join(keptBuckets.select("bucket"), "bucket")
    val l = capped.select(col("bucket"), col("id").as("id_a"))
    val r = capped.select(col("bucket"), col("id").as("id_b"))
    val pairs = l.join(r, "bucket")
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    val dropped = cnt.filter(col("n") > maxBucket)
      .agg(count(lit(1)).as("dropped_buckets"))
    (pairs, dropped)
  }

  /** Plan-level observability variant of [[lshCandidatePairs]]: the
    * capped pairs AND the one-row dropped-bucket count over the fused
    * engine band signature.
    */
  def lshCandidatePairsWithDropped(
      sigs: DataFrame, idCol: String, bands: Int, sigLength: Int,
      maxBucket: Int = 1000): (DataFrame, DataFrame) = {
    require(bands > 0 && bands <= sigLength,
      s"bands ($bands) must be in [1, signature length $sigLength]")
    cappedBucketPairsWithDropped(bandBuckets(sigs, idCol, bands),
      maxBucket)
  }

  /** PORTABLE per-band LSH signature — `bands` independent one-row
    * (r=1) MinHash draws: band b's signature is the MINIMUM over the
    * doc's distinct word n-gram shingles of the 60-bit MD5 hash of
    * "b|shingle" (the q33/q96 portability convention: the first 15 hex
    * chars of an md5 are an exact BIGINT in every engine). Per-band
    * collision probability is exactly the shingle Jaccard — the
    * classic MinHash-LSH family with one hash row per band — so
    * banding/capping semantics match [[lshCandidatePairs]] while every
    * bucket id is REPLAYABLE by an independent SQL oracle
    * (`min(('0x' || substr(md5(band || '|' || g), 1, 15))::BIGINT)`).
    * FUSED: one JVM pass per doc — words, distinct shingles, and all
    * `bands` MD5 minima with zero intermediate Spark arrays (the
    * SimHash.portableFingerprint lesson: the expression-built form of
    * this evaluated its lambdas interpreted and cost ~4x the whole
    * probe). MD5 is MD5 everywhere, so the fused result stays
    * bit-identical to the oracle.
    */
  def portableBandSigs(text: Column, n: Int, bands: Int): Column = {
    val f = udf((s: String) =>
      if (s == null) null else portableBandSigArray(s, n, bands).toSeq)
    f(text)
  }

  private val md5Local =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

  /** Row-local fused band minima; shingling matches the q33 oracle
    * convention (single-space split keeping empties; short docs emit
    * one shingle over all available words; distinct shingles), and the
    * hash is the high 60 bits of `md5("<band>|<shingle>")` — the first
    * 15 hex chars the SQL replays.
    */
  private[graft] def portableBandSigArray(s: String, n: Int,
      bands: Int): Array[Long] = {
    val words = s.split(" ", -1)
    val count = math.max(words.length - n + 1, 1)
    val width = math.min(n, words.length)
    val seen = new java.util.HashSet[String]()
    val sigs = Array.fill(bands)(Long.MaxValue)
    val md = md5Local.get()
    val sb = new java.lang.StringBuilder()
    var j = 0
    while (j < count) {
      sb.setLength(0)
      var k = 0
      while (k < width) {
        if (k > 0) sb.append(' ')
        sb.append(words(j + k))
        k += 1
      }
      val shingle = sb.toString
      if (seen.add(shingle)) {
        var b = 0
        while (b < bands) {
          md.reset()
          val d = md.digest((b.toString + "|" + shingle)
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          // 15 hex nibbles = bytes 0..6 plus the high nibble of byte 7
          var hv = 0L
          var i = 0
          while (i < 7) { hv = (hv << 8) | (d(i) & 0xFFL); i += 1 }
          hv = (hv << 4) | ((d(7) & 0xFFL) >>> 4)
          if (hv < sigs(b)) sigs(b) = hv
          b += 1
        }
      }
      j += 1
    }
    sigs
  }

  /** Exact all-pairs n-gram Jaccard >= threshold WITHOUT a cartesian:
    * prefix-filtered inverted-index self-join (the AllPairs/PPJoin prefix
    * principle). Each shingle set is sorted under a global total order;
    * two sets with J >= t must share an element within their first
    * `|x| - ceil(t*|x|) + 1` elements, so the join key is only those
    * prefix shingles. Candidates then verify with exact Jaccard.
    *
    * The global order is **ascending document frequency** (ties by hash)
    * — the canonical AllPairs/PPJoin choice. Under df order the prefix of
    * every set is its RAREST shingles, so a corpus-common (boilerplate)
    * shingle can never become a hot join key: a shingle shared by f docs
    * lands in a prefix only when it is among a doc's rarest, and the
    * per-key join fan-out is bounded by the df of genuinely rare tokens.
    * (A hash order — the previous shape — puts hot shingles in prefixes
    * uniformly at random, and one shingle shared by millions of docs
    * makes the equi-join quadratic in its frequency.) The df pass itself
    * is one map-side-combining groupBy over the exploded shingles — the
    * standard AllPairs preprocessing cost, linear in corpus token count.
    *
    * Scale shape: explode is prefix-only (~(1-t)·|set| per doc), the join
    * is an equi-join on a single 64-bit hash with df-bounded key fan-out,
    * and no all-pairs stage exists anywhere. This is the exact-result
    * counterpart to [[lshCandidatePairs]] (approximate candidates).
    *
    * `sh` must be (id, sh: array<bigint>) with DISTINCT hashes per row.
    * `aFilter` (over `id`) restricts the LEFT side of the candidate join
    * BEFORE the prefix explode — push a sampled-query restriction here so
    * the join input shrinks by the sampling factor, not after the join.
    * `pairFilter` (over id_a/id_b) prunes any remaining candidates before
    * the exact verification join.
    */
  def jaccardPairsPrefix(sh: DataFrame, threshold: Double,
      pairFilter: Column = lit(true),
      aFilter: Column = lit(true)): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold must be in (0, 1]")
    val tok = sh.select(col("id"), explode(col("sh")).as("h"))
    val dfreq = tok.groupBy("h").agg(count(lit(1)).as("df"))
    // re-rank every set under the (df, h) total order; struct sort is
    // lexicographic by field, so array_sort gives rarest-first directly
    val ranked = tok.join(dfreq, "h")
      .groupBy("id")
      .agg(count(lit(1)).as("n"),
        array_sort(collect_list(struct(col("df"), col("h")))).as("sorted"))
    val prefLen = (col("n") -
      ceil(col("n") * lit(threshold)).cast("int") + 1)
    val pref = ranked.select(col("id"), col("n"),
      explode(transform(slice(col("sorted"), lit(1), prefLen),
        s => s("h"))).as("h"))
    val a = pref.filter(aFilter)
      .select(col("h"), col("id").as("id_a"), col("n").as("n_a"))
    val b = pref.select(col("h"), col("id").as("id_b"), col("n").as("n_b"))
    val cands = a.join(b, "h")
      .filter(col("id_a") < col("id_b") && pairFilter &&
        least(col("n_a"), col("n_b")) >=
          lit(threshold) * greatest(col("n_a"), col("n_b")))
      .select("id_a", "id_b").distinct()
    val sa = sh.select(col("id").as("id_a"), col("sh").as("sh_a"))
    val sb = sh.select(col("id").as("id_b"), col("sh").as("sh_b"))
    cands.join(sa, "id_a").join(sb, "id_b")
      .withColumn("jaccard",
        graft.functions.JaccardDistinctLongs.jaccard64(
          col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Asymmetric CONTAINMENT pairs — |A ∩ B| / |A| over distinct shingle
    * sets, the measure that catches a small document living INSIDE a
    * larger one (quotation, boilerplate wrapper, excerpt reposts),
    * which symmetric Jaccard structurally misses once the size ratio
    * passes (1-t)/t.
    *
    * Candidate generation is the DIRECTED prefix filter (the PPJoin
    * idea adapted to containment): rank each doc's shingles
    * rarest-first under the global (df, h) order; if B misses ALL of
    * A's first `|A| - ceil(t|A|) + 1` rarest shingles, then
    * |A∩B| <= ceil(t|A|) - 1 < t|A|, so A cannot be t-contained in B —
    * hence joining only the PREFIX of the contained side against the
    * full inverted index finds every qualifying directed pair. This
    * replaces the all-pairs index join (sum of df^2 rows — measured
    * superlinear pressure at the 10x stress scale) with a prefix-df x
    * df volume biased toward rare shingles; survivors are verified
    * EXACTLY on the full shingle arrays (arrays ship only for
    * candidates). Shingles held by more than `maxDf` documents are
    * dropped from the index with the drop surfaced via accumulator
    * (the "no silent caps" rule); a binding cap can only MISS pairs
    * whose shared evidence is entirely stopword-frequent — the
    * verification still measures true containment for every pair it
    * reports. Pick `maxDf` so it cannot bind on curated corpora
    * (spec-asserted non-binding here, like the q31/q32 caps).
    *
    * Emits one row per direction that clears `minContainment`:
    * (id_in, id_out, containment) with containment rounded to 4dp.
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, minContainment: Double = 0.8, maxDf: Long = 1000,
      droppedShingles: Option[org.apache.spark.util.LongAccumulator] =
        None): DataFrame = {
    // materialize the shingle table once: five consumers walk it (the
    // inverted index feeds two join sides, plus the size join and both
    // verification sides) and re-running the shingling UDF per branch
    // would pay the operator's most expensive step repeatedly — the
    // same CollapseProject lesson as the JL sketch. The (id, set)
    // table is the artifact a production pipeline persists anyway.
    val sh = docs.select(col(idCol).as("id"),
      distinctShingleHashes64(n)(col(textCol)).as("sh"))
      .localCheckpoint()
    val tok = sh.select(col("id"), explode(col("sh")).as("h"))
    val dfreq = tok.groupBy("h").agg(count(lit(1)).as("df"))
    // kept is materialized so every downstream branch reuses one cap
    // pass. The drop count, when requested, is a DECLARATIVE count
    // action over the same aggregate — exact under task retries and
    // speculative execution, unlike accumulator updates inside a
    // transformation (those are at-least-once and can inflate under
    // retry; the spec asserts the count exact). Cost: one extra
    // map-side-combining aggregation over the checkpointed shingle
    // table, paid only when observability is asked for.
    val kept = dfreq.filter(col("df") <= maxDf).localCheckpoint()
    droppedShingles.foreach { acc =>
      acc.add(dfreq.filter(col("df") > maxDf).count())
    }
    val idx = tok.join(kept, "h")
    // rarest-first ranking per doc (struct sort is lexicographic by
    // field); n is the FULL set size — under a binding cap the prefix
    // can only be conservative (longer relative to the kept set)
    val ranked = idx.groupBy("id")
      .agg(array_sort(collect_list(struct(col("df"), col("h"))))
        .as("sorted"))
      .join(sh.select(col("id"), size(col("sh")).as("n")), "id")
    // the FINAL filter compares the 4dp-ROUNDED containment, so a pair
    // at true containment t - 5e-5 still qualifies after rounding; the
    // prefix length must therefore be derived from the relaxed
    // threshold or such boundary pairs would be pruned from candidate
    // generation yet admitted by the oracle (a miss only visible on
    // documents with > 10^4 shingles, where ceil moves)
    val tEff = minContainment - 0.00005
    val prefLen = (col("n") -
      ceil(col("n") * lit(tEff)).cast("int") + 1)
    val prefix = ranked.select(col("id").as("id_in"),
      explode(transform(slice(col("sorted"), lit(1), prefLen),
        s => s("h"))).as("h"))
    val cands = prefix
      .join(idx.select(col("h"), col("id").as("id_out")), "h")
      .filter(col("id_in") =!= col("id_out"))
      .select(least(col("id_in"), col("id_out")).as("id_a"),
        greatest(col("id_in"), col("id_out")).as("id_b"))
      .distinct()
    val sa = sh.select(col("id").as("id_a"), col("sh").as("sh_a"),
      size(col("sh")).as("n_a"))
    val sb = sh.select(col("id").as("id_b"), col("sh").as("sh_b"),
      size(col("sh")).as("n_b"))
    val joined = cands.join(sa, "id_a").join(sb, "id_b")
      .withColumn("inter",
        size(array_intersect(col("sh_a"), col("sh_b"))))
    val aInB = joined.select(col("id_a").as("id_in"),
      col("id_b").as("id_out"),
      round(col("inter").cast("double") /
        greatest(col("n_a"), lit(1)), 4).as("containment"))
    val bInA = joined.select(col("id_b").as("id_in"),
      col("id_a").as("id_out"),
      round(col("inter").cast("double") /
        greatest(col("n_b"), lit(1)), 4).as("containment"))
    aInB.union(bInA).filter(col("containment") >= minContainment)
  }

  /** BUILD-ONCE / PROBE-MANY near-duplicate index — the q76/q88
    * persistence pattern completing the triad (IVF for embeddings,
    * BM25 for lexical retrieval, THIS for near-dup ingest): the
    * corpus's LSH band buckets and distinct shingle sets land in
    * parquet once, and each arriving delta batch probes them without
    * ever recomputing a corpus signature — the incremental-dedup loop
    * a continuously-ingesting corpus build runs (probe, keep the
    * clean docs, append them to the index).
    *
    * Probe cost: O(delta signatures) + the bucket equi-join (delta
    * buckets vs stored buckets) + exact Jaccard verification where
    * candidate shingle sets meet. The candidate set is small, so the
    * shingle-store join plans as a broadcast/semi join — the corpus
    * store is SCANNED columnar (ids + arrays of the candidate rows
    * survive the filter) but never shuffled, and nothing corpus-sized
    * is recomputed per batch. Append is parquet-append of the delta's
    * buckets and shingles (ids disjoint by the ingest contract) —
    * after it, probing is indistinguishable from a fresh full build
    * (spec-pinned).
    */
  def buildNearDupIndex(docs0: DataFrame, idCol: String, textCol: String,
      dir: String, bands: Int = 16, sigLength: Int = 64): Unit = {
    // spread the corpus for the two CPU-dense walks (MinHash minima,
    // distinct shingles — both single-task on a single-split corpus):
    // q102p 0.86 → 0.64 s, OPTIMIZATION_r18
    val docs = graft.core.Spread.cpuFloor(docs0)
    val sigs = docs.select(col(idCol).as("id"),
      minHashSignatureFromText(col(textCol), 3, sigLength).as("sig"))
    bandBuckets(sigs, "id", bands)
      .write.mode("overwrite").parquet(s"$dir/buckets")
    docs.select(col(idCol).as("id"),
        distinctShingleHashes64(3)(col(textCol)).as("sh"))
      .write.mode("overwrite").parquet(s"$dir/shingles")
  }

  def appendToNearDupIndex(newDocs: DataFrame, idCol: String,
      textCol: String, dir: String, bands: Int = 16,
      sigLength: Int = 64): Unit = {
    val sigs = newDocs.select(col(idCol).as("id"),
      minHashSignatureFromText(col(textCol), 3, sigLength).as("sig"))
    bandBuckets(sigs, "id", bands)
      .write.mode("append").parquet(s"$dir/buckets")
    newDocs.select(col(idCol).as("id"),
        distinctShingleHashes64(3)(col(textCol)).as("sh"))
      .write.mode("append").parquet(s"$dir/shingles")
  }

  /** Probe the index with a delta batch: every (new, corpus) pair
    * sharing an LSH bucket is verified by exact shingle Jaccard;
    * survivors with round(J, 4) >= threshold are the near-dup hits.
    * Returns (new_id, corpus_id, jaccard).
    */
  def probeNearDupIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, newDocs: DataFrame, idCol: String, textCol: String,
      threshold: Double, bands: Int = 16,
      sigLength: Int = 64): DataFrame = {
    val newSigs = newDocs.select(col(idCol).as("id"),
      minHashSignatureFromText(col(textCol), 3, sigLength).as("sig"))
    val cand = bandBuckets(newSigs, "id", bands)
      .select(col("id").as("new_id"), col("bucket"))
      .join(Parquet.read(spark, s"$dir/buckets")
        .select(col("id").as("corpus_id"), col("bucket")), "bucket")
      .select("new_id", "corpus_id").distinct()
    val newSh = newDocs.select(col(idCol).as("new_id"),
      distinctShingleHashes64(3)(col(textCol)).as("sh_new"))
    cand.join(newSh, "new_id")
      .join(Parquet.read(spark, s"$dir/shingles")
        .select(col("id").as("corpus_id"), col("sh").as("sh_corpus")),
        "corpus_id")
      .withColumn("jaccard",
        round(graft.functions.JaccardDistinctLongs
          .jaccard64(col("sh_new"), col("sh_corpus")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("new_id"), col("corpus_id"), col("jaccard"))
  }

  /** Exact Jaccard similarity between two shingle-hash set columns. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    val uni = size(array_union(a, b))
    when(uni === 0, 0.0).otherwise(inter.cast("double") / uni.cast("double"))
  }

  /** Corpus-wide paragraph-level dedup (the CCNet/RefinedWeb pipeline
    * shape): split each doc on `sepRegex`, keep a paragraph only at its
    * globally FIRST occurrence — ordered by (doc id, position) — and
    * reassemble each doc from its surviving paragraphs in order.
    *
    * Scale shape: one explode, one groupBy on a 64-bit content hash
    * (min(struct(id, idx)) is a tiny map-side-combining aggregate), one
    * equi-join back on the hash, one groupBy(id) to reassemble — every
    * shuffle key is bounded; no text ever becomes a shuffle key.
    * Returns (id, text, n_paragraphs, n_kept).
    */
  def dedupParagraphs(df: DataFrame, idCol: String, textCol: String,
      sepRegex: String = "\n"): DataFrame = {
    val paras = df
      .select(col(idCol).as("id"),
        posexplode(split(col(textCol), sepRegex)).as(Seq("idx", "para")))
      .withColumn("h", xxhash64(col("para")))
    val first = paras.groupBy("h")
      .agg(min(struct(col("id"), col("idx"))).as("f"))
      .select(col("h"), col("f.id").as("f_id"), col("f.idx").as("f_idx"))
    paras.join(first, "h")
      .groupBy(col("id"))
      .agg(
        array_join(transform(array_sort(collect_list(
          when(col("id") === col("f_id") && col("idx") === col("f_idx"),
            struct(col("idx"), col("para"))))),
          s => s("para")), " ").as("text"),
        count(lit(1)).as("n_paragraphs"),
        sum(when(col("id") === col("f_id") && col("idx") === col("f_idx"),
          1L).otherwise(0L)).as("n_kept"))
      .select(col("id").as(idCol), col("text"),
        col("n_paragraphs"), col("n_kept"))
  }

  /** DISTINCT word n-gram shingle hashes via the fused [[Shingling]]
    * walker — the UDF twin of [[shingleHashes]] (same single-space split
    * semantics, 64-bit splitmix-finalized hashes instead of mod-P), one
    * pass, no intermediate shingle strings. Counting distinct hashes
    * equals counting distinct shingle strings up to 64-bit collisions
    * (P ~ 1e-14 per pair).
    */
  def distinctShingleHashes64(n: Int)
      : org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((s: String) => {
      if (s == null) Seq.empty[Long]
      else {
        val seen = new java.util.HashSet[java.lang.Long]()
        val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
        Shingling.foreachShingleHash(s, n) { z =>
          if (seen.add(z)) buf += z
        }
        buf.toSeq
      }
    })

  /** Benchmark decontamination: for every corpus doc, the number of
    * DISTINCT word `n`-grams it shares with ANY document of `benchmark`
    * (the n-gram-overlap test used to strip eval-set contamination from
    * pretraining corpora — GPT-3 used 13-grams, Llama 8-grams; pick `n`
    * to taste). Returns (id, n_shared) for contaminated docs only;
    * downstream either drops them or masks the overlapping spans.
    *
    * Scale shape: the benchmark side is an eval set — thousands of docs,
    * not billions — so its distinct gram set is broadcast and the corpus
    * side never shuffles: explode distinct grams per doc (map-local),
    * broadcast-hash-join, one map-side-combining groupBy(id). Corpus
    * text is never a join key (64-bit hashes are). If the benchmark ever
    * outgrows broadcast, pass `broadcastBenchmark = false` and the same
    * plan runs as a shuffle join on the gram hash.
    */
  def decontaminate(
      corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int = 8,
      broadcastBenchmark: Boolean = true): DataFrame = {
    val sh = distinctShingleHashes64(n)
    val cg = corpus.select(col(idCol).as("id"),
      explode(sh(col(textCol))).as("h"))
    val bg = benchmark.select(explode(sh(col(textCol))).as("h")).distinct()
    cg.join(if (broadcastBenchmark) broadcast(bg) else bg, "h")
      .groupBy("id")
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Decontamination as the INGEST GATE it runs as at corpus scale: keep
    * the corpus docs that share NO word `n`-gram with `benchmark`
    * ([[decontaminate]] is the per-doc diagnostic twin; this is the
    * filter a pretraining build actually applies). The scale mechanism
    * is a broadcast Bloom filter over the benchmark's distinct gram
    * hashes: the gram walker probes it ROW-LOCALLY and emits only
    * bloom-positive hashes, so the overwhelming clean majority of the
    * corpus produces zero join input and never shuffles at all. Only
    * bloom-positive grams (true contamination plus the `fpp` tail) reach
    * the exact confirmation join against the real gram set, and the
    * confirmed-contaminated id set — small by the same argument that
    * makes the benchmark broadcastable — drives a broadcast anti-join.
    * The result is therefore EXACT (identical to the unpruned
    * gram-overlap anti-join, whatever the Bloom false positives), while
    * shuffled volume is O(contaminated + fpp * corpus grams), not
    * O(corpus grams): at 100 TB the corpus text crosses the wire never,
    * and the corpus gram hashes only on false positives.
    *
    * Driver memory is O(bloom bits) + O(distinct benchmark grams)
    * (the count that sizes the filter), both bounded because a
    * benchmark is an eval set — thousands of docs, not billions.
    * Reference counterpart: the n-gram decontamination convention of
    * GPT-3 appendix C / Llama (8-grams); same gram semantics as
    * [[decontaminate]] (clipped shingle for docs shorter than `n`).
    */
  def decontaminateFilter(
      corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int = 8,
      fpp: Double = 0.01): DataFrame = {
    val sh = distinctShingleHashes64(n)
    val bg = benchmark.select(explode(sh(col(textCol))).as("h")).distinct()
    // two bounded jobs on the SMALL side only: size, then build. The
    // sketch aggregation runs distributed; only the final bit array
    // (O(bits), independent of corpus size) lands on the driver.
    val nGrams = math.max(bg.count(), 1L)
    val bloom = bg.stat.bloomFilter("h", nGrams, fpp)
    val bloomB = corpus.sparkSession.sparkContext.broadcast(bloom)
    val suspectGrams = udf((s: String) => {
      if (s == null) Seq.empty[Long]
      else {
        val bf = bloomB.value
        val seen = new java.util.HashSet[java.lang.Long]()
        val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
        Shingling.foreachShingleHash(s, n) { z =>
          if (bf.mightContainLong(z) && seen.add(z)) buf += z
        }
        buf.toSeq
      }
    })
    val contaminated = corpus
      .select(col(idCol).as("id"), explode(suspectGrams(col(textCol))).as("h"))
      .join(broadcast(bg), Seq("h"), "left_semi")
      .select("id").distinct()
    corpus.join(broadcast(contaminated),
      corpus(idCol) === contaminated("id"), "left_anti")
  }

  /** Corpus snapshot DIFF — the dataset-versioning primitive: classify
    * every id across two corpus snapshots as added / removed / changed /
    * unchanged. Contents compare by sha2-256, so the full-outer join
    * carries (id, 32-byte hash) — never text — and the only shuffle is
    * the id-keyed join both snapshots would co-locate for free under
    * id-bucketed storage. The change verdict is exact (content-hash
    * equality ≡ text equality up to 2^-128 collisions, the q30/q82
    * convention).
    */
  def snapshotDiff(v1: DataFrame, v2: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val a = v1.select(col(idCol).cast("long").as("id"),
      sha2(col(textCol), 256).as("h1"))
    val b = v2.select(col(idCol).cast("long").as("id"),
      sha2(col(textCol), 256).as("h2"))
    a.join(b, Seq("id"), "full_outer")
      .select(col("id"),
        when(col("h1").isNull, "added")
          .when(col("h2").isNull, "removed")
          .when(col("h1") =!= col("h2"), "changed")
          .otherwise("unchanged").as("status"))
  }

  /** Cross-document repeated-substring detection — the distributed
    * stand-in for suffix-array substring dedup (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"): every
    * word `n`-gram WINDOW (positional, NOT distinct) is hashed; windows
    * whose gram occurs in >= `minDocs` DISTINCT docs are flagged; per
    * doc, overlapping flagged windows merge into maximal word-index
    * spans [begin_word, end_word) — the ranges a cleanup pass would cut.
    * Docs shorter than `n` words emit nothing (no clipped windows: a
    * short doc is never a "long repeated substring").
    *
    * Scale shape: the explode is the honest n-x token amplification
    * (suffix arrays do this offline; a stream can't). The repeat test is
    * made skew-safe by splitting countDistinct into distinct-then-count:
    * `(h, id) distinct` shuffles on BOTH columns (a boilerplate run
    * shared by millions of docs spreads across reducers), and the
    * follow-up count per h partial-aggregates map-side. The interval
    * merge windows over (doc, idx) — per-doc-bounded sorts, never a
    * global one.
    */
  def repeatedRuns(df: DataFrame, idCol: String, textCol: String,
      n: Int = 15, minDocs: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pg = udf((s: String) => {
      if (s == null) Seq.empty[Long]
      else {
        var words = 1
        var i = 0
        while (i < s.length) {
          if (s.charAt(i) == ' ') words += 1
          i += 1
        }
        if (words < n) Seq.empty[Long]
        else {
          val buf =
            new scala.collection.mutable.ArrayBuffer[Long](words - n + 1)
          Shingling.foreachShingleHash(s, n)(buf += _)
          buf.toSeq
        }
      }
    })
    val grams = df.select(col(idCol).as("id"),
      posexplode(pg(col(textCol))).as(Seq("idx", "h")))
    val rep = grams.select("h", "id").distinct()
      .groupBy("h").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= minDocs).select("h")
    val hits = grams.join(rep, "h").select("id", "idx").distinct()
    val w = Window.partitionBy("id").orderBy("idx")
    val prev = lag(col("idx"), 1).over(w)
    hits
      .withColumn("brk",
        when(prev.isNull || col("idx") > prev + n, 1).otherwise(0))
      .withColumn("grp", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("id"), col("grp"))
      .agg(min(col("idx")).cast("long").as("begin_word"),
        (max(col("idx")) + n).cast("long").as("end_word"))
      .select(col("id"), col("begin_word"), col("end_word"))
  }

  /** Transitive near-duplicate clustering: connected components over a
    * pair list via alternating large-star/small-star (Kiveris et al.
    * 2014, "Connected Components in MapReduce and Beyond") — the step a
    * production dedup runs AFTER pair generation, because "keep the
    * smaller id of each pair" under-deletes whenever near-duplication is
    * transitive (a~b, b~c but the a/c pair was never emitted).
    *
    * Scale shape: every round is two bounded passes, each a
    * groupBy(node).min + equi-join back on the node id — no adjacency
    * list is ever materialized per node (a `collect_list` formulation
    * would buffer a celebrity node's full neighborhood in one
    * aggregation buffer; this shape never does), no driver-side graph,
    * no cartesian. Large-star hooks every node above its neighborhood
    * minimum, small-star re-hooks the small neighbors, and the edge set
    * provably converges to a star forest rooted at each component's
    * minimum id in O(log^2 n) rounds (2-3 in practice for near-dup
    * graphs, whose components are duplicate clusters of small
    * diameter). Lineage is truncated every round with a LAZY local
    * checkpoint (leaf plan immediately, materialization fused into the
    * round's convergence aggregate) — iterative self-joins otherwise
    * stack an exponentially deepening plan that kills the optimizer
    * long before the data hurts.
    *
    * `pairs` must be (id_a, id_b) bigint with id_a != id_b (duplicates
    * and orientation don't matter). Returns (id, component) — one row
    * per node that appears in `pairs`, component = min id reachable.
    * Singletons (docs in no pair) are absent by construction; callers
    * wanting them add a left-anti union against the corpus.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20)
      : DataFrame = {
    require(maxIter > 0, "maxIter must be positive")
    // LAZY input checkpoint: the logical plan becomes a leaf (so no
    // round replays the caller's expensive pair-generation lineage),
    // but materialization happens inside round 1's convergence
    // aggregate — pair generation, the first star round, and its
    // convergence test are ONE Spark job, not three
    var e = pairs
      .select(least(col("id_a"), col("id_b")).as("a"),
        greatest(col("id_a"), col("id_b")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint(false)
    // convergence = "e IS a star forest": no node is both a root (a
    // side) and a leaf (b side), and every leaf has exactly one root.
    // That is exactly the fixed point of the two phases (a star forest
    // is invariant under both, and the algorithm only converges to star
    // forests), and unlike a set-equality test against the previous
    // round it certifies convergence WITHOUT running one extra
    // confirming round. One aggregate job per round; its full scan is
    // also the action that materializes that round's lazy checkpoint
    // (a full scan, so every block lands — no partial-checkpoint
    // hazard a take(1)-style probe would have).
    def isStarForest(df: DataFrame): Boolean =
      df.select(col("b").as("x"), lit(1L).as("nb"), lit(0L).as("na"))
        .unionAll(df.select(col("a").as("x"), lit(0L).as("nb"),
          lit(1L).as("na")))
        .groupBy("x").agg(sum(col("nb")).as("nb"), sum(col("na")).as("na"))
        .filter(col("nb") > 1 || (col("nb") >= 1 && col("na") >= 1))
        .count() == 0L
    // release a SUPERSEDED round's local-checkpoint blocks eagerly:
    // Dataset.unpersist is a no-op here (localCheckpoint has no
    // CacheManager entry), so dig the checkpointed RDD out of the leaf
    // plan and unpersist IT — otherwise every round's full edge set
    // stays pinned in executor storage until the driver GC happens to
    // collect the old Dataset. Only called after the NEXT round's full
    // scan has materialized (and lineage-truncated) its own blocks, so
    // nothing can ever need the released ones again.
    def releaseCheckpoint(df: DataFrame): Unit =
      df.queryExecution.analyzed.collectFirst {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
      }.foreach(_.unpersist(false))
    // no pre-loop convergence probe: on an already-converged (or
    // empty) input the first round is a no-op whose check then exits —
    // one fused job, cheaper than a dedicated up-front check job
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      // large-star over the symmetric view: every node u computes
      // m(u) = min(Gamma(u) + {u}) and re-points its LARGER neighbors
      // at m(u). Emitted edges (m, v) keep m < v, so the canonical
      // (a < b) orientation is preserved without re-sorting.
      val sym = e.select(col("a").as("u"), col("b").as("v"))
        .unionAll(e.select(col("b").as("u"), col("a").as("v")))
      val mins = sym.groupBy("u").agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      // duplicates are tolerated until the end-of-round distinct: the
      // small-star groupBy/min is insensitive to them, and skipping a
      // mid-round distinct saves one shuffle per iteration
      val large = sym.filter(col("v") > col("u"))
        .join(mins, "u")
        .select(col("m").as("a"), col("v").as("b"))
      // small-star over the large-star output: every node u re-points
      // its SMALLER neighbors (and itself) at min(Gamma-(u) + {u}).
      // Nodes whose neighbors are all larger emit nothing — large-star
      // already hooked them.
      val sym2 = large.select(col("a").as("u"), col("b").as("v"))
        .unionAll(large.select(col("b").as("u"), col("a").as("v")))
      val nbrsLt = sym2.filter(col("v") < col("u"))
      val mins2 = nbrsLt.groupBy("u").agg(min(col("v")).as("m"))
      // LAZY local checkpoint: the logical plan becomes a LEAF
      // immediately — a round's plan references `e` ~20 times through
      // the union/join tree, so without a leaf per round Catalyst
      // re-analysis grows EXPONENTIALLY (measured: hangs by round ~5)
      // — while the actual materialization piggybacks on the
      // convergence aggregate below. ONE job per round; RDD-level
      // lineage truncates itself at first materialization.
      val next = nbrsLt.join(mins2, "u")
        .filter(col("v") =!= col("m"))
        .select(col("m").as("a"), col("v").as("b"))
        .unionAll(mins2.select(col("m").as("a"), col("u").as("b")))
        .distinct()
        .localCheckpoint(false)
      converged = isStarForest(next)
      releaseCheckpoint(e)
      e = next
      it += 1
    }
    require(converged,
      s"connectedComponents did not converge in $maxIter rounds")
    // the FINAL round's checkpoint is intentionally NOT released here:
    // the returned DataFrame is lazy and reads those very blocks when
    // the caller executes it (a checkpointed RDD has no lineage to
    // recompute from — releasing now would fail the query). The blocks
    // are reclaimed by the ContextCleaner once the result Dataset is
    // garbage-collected, like any cached leaf a caller still holds.
    e.select(col("b").as("id"), col("a").as("component"))
      .unionAll(e.select(col("a"), col("a")).distinct()
        .toDF("id", "component"))
  }

  /** Full MinHash+LSH near-dup pipeline: shingle -> sign -> band ->
    * candidates -> verify with exact Jaccard >= threshold.
    */
  def minHashNearDuplicates(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 64, bands: Int = 16,
      threshold: Double = 0.8): DataFrame = {
    val hashed = df.select(col(idCol).as("id"),
      shingleHashes(col(textCol), n).as("hs"))
    val sigs = hashed.select(col("id"),
      minHashSignature(col("hs"), k).as("sig"))
    val cands = lshCandidatePairs(sigs, "id", bands, sigLength = k)
    // (sigLength = k makes the band/width invariant checkable up front)
    val ha = hashed.select(col("id").as("id_a"), col("hs").as("hs_a"))
    val hb = hashed.select(col("id").as("id_b"), col("hs").as("hs_b"))
    cands.join(ha, "id_a").join(hb, "id_b")
      .withColumn("jaccard", jaccard(col("hs_a"), col("hs_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }
}
