package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SimHash near-duplicate detection: 64-bit fingerprint from bitwise votes
  * of shingle hashes; near-dups are pairs within a Hamming-distance radius.
  *
  * Pair generation uses the pigeonhole block trick: split the 64-bit
  * fingerprint into `radius + 1` blocks — any pair within the radius must
  * agree exactly on at least one block, so candidates come from equi-joins
  * on (block index, block value), never an all-pairs scan. Linear shuffle,
  * bucket-local verification; the standard scheme for web-scale simhash
  * dedup (Charikar/Google crawl dedup).
  */
object SimHash {

  /** 64-bit simhash of a shingle-hash array column: for each bit, sum +1/-1
    * votes across shingles. Row-local UDF (the per-bit loop doesn't map to
    * the Column DSL's fixed-shift signatures); promotion path is a native
    * Catalyst Expression with `doGenCode` — same semantics.
    */
  def simhash(hashes: Column): Column = {
    val f = udf((hs: Seq[Long]) => {
      val votes = new Array[Long](64)
      val safe = if (hs == null) Seq.empty[Long] else hs
      safe.foreach { h0 =>
        // finalize to spread 31-bit shingle hashes over 64 bits
        var h = h0 * -7046029254386353131L
        h = (h ^ (h >>> 32)) * -4417276706812531889L
        h = h ^ (h >>> 29)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      var fp = 0L
      var b = 0
      while (b < 64) {
        if (votes(b) > 0) fp |= (1L << b)
        b += 1
      }
      fp
    })
    f(hashes)
  }

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Fused text -> simhash: word split, n-gram shingle hashing (FNV-1a
    * over words, mixed per shingle, splitmix-finalized), dedup, and bit
    * votes in ONE pass with zero intermediate Spark arrays or shingle
    * strings — profiling showed the expression-built shingle arrays plus
    * a boxed Seq[Long] UDF dominating the whole near-dup query.
    */
  def simhashFromText(text: Column, n: Int): Column = {
    val f = udf((s: String) => {
      val votes = new Array[Long](64)
      val seen = new java.util.HashSet[java.lang.Long]()
      Shingling.foreachShingleHash(s, n) { z =>
        if (seen.add(z)) {
          var b = 0
          while (b < 64) {
            if (((z >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
            b += 1
          }
        }
      }
      var fp = 0L
      var b = 0
      while (b < 64) {
        if (votes(b) > 0) fp |= (1L << b)
        b += 1
      }
      fp
    })
    f(text)
  }

  /** Near-dup pairs with Hamming distance <= radius. */
  def nearDuplicates(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, radius: Int = 3): DataFrame = {
    val fp = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        simhashFromText(col(textCol), n).as("fp"))
    pairsFromFingerprints(fp, radius, nbits = 64)
  }

  /** Pigeonhole-block pair join over an (id, fp) frame: `radius + 1`
    * blocks of an `nbits`-bit fingerprint; any pair within the radius
    * agrees exactly on >= 1 block, so candidates come from equi-joins.
    * Shared with the multimodal payload near-dup (`Multimodal`
    * fingerprints plug into the same join).
    */
  private[graft] def pairsFromFingerprints(
      fp: DataFrame, radius: Int, nbits: Int): DataFrame = {
    val blocks = radius + 1
    val width = nbits / blocks // bits per block (last gets the remainder)
    val lastMask =
      if (nbits == 64) s"-1L >> (${blocks - 1} * $width)"
      else s"(1L << ${nbits - (blocks - 1) * width}) - 1"
    val blocked = fp.select(col("id"), col("fp"),
      posexplode(expr(
        s"transform(sequence(0, ${blocks - 1}), b -> " +
        s"shiftright(fp, b * $width) & " +
        s"CASE WHEN b = ${blocks - 1} THEN $lastMask " +
        s"ELSE (1L << $width) - 1 END)")))
      .select(col("id"), col("fp"),
        concat_ws("_", col("pos"), col("col")).as("bucket"))
    val l = blocked.select(col("bucket"), col("id").as("id_a"),
      col("fp").as("fp_a"))
    val r = blocked.select(col("bucket"), col("id").as("id_b"),
      col("fp").as("fp_b"))
    // filter BEFORE distinct: the dedup shuffle then carries only
    // near-dup pairs, not every bucket-collision candidate.
    l.join(r, "bucket")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        hamming(col("fp_a"), col("fp_b")).as("hamming"))
      .filter(col("hamming") <= radius)
      .distinct()
  }

  /** PORTABLE simhash: the shingle hash is the first 15 hex chars of the
    * MD5 of each distinct word n-gram (60 bits — the widest slice that
    * fits a signed 64-bit int in every engine). MD5 is bit-for-bit
    * reproducible wherever an md5() builtin exists, so unlike the fused
    * FNV path the WHOLE pipeline — votes -> fingerprint -> pigeonhole
    * blocks -> Hamming join — is recomputable by an independent SQL
    * oracle. Same vote/threshold semantics as [[simhash]].
    *
    * FUSED: text -> words -> distinct n-gram shingles -> per-shingle
    * `MessageDigest` MD5 -> bit votes -> fingerprint, all in one UDF
    * with zero intermediate Spark arrays or per-shingle expression
    * trees. The previous shape (expression-built shingle strings +
    * per-shingle `md5`/`conv`/`substring` columns + a boxed Seq[Long]
    * vote UDF) was 3-20x slower — exactly the allocation-heavy pattern
    * round-1 profiling eliminated from the FNV path. MD5 is MD5
    * everywhere: the fused result stays bit-identical to the oracle.
    */
  def simhashPortable(text: Column, n: Int, nbits: Int = 60): Column =
    // native codegen'd expression; coalesce preserves the legacy UDF's
    // null -> 0L so plans and oracles downstream are unchanged
    coalesce(
      graft.functions.TextHashExpressions
        .simhashFingerprint(text, n, nbits),
      lit(0L))

  // one MessageDigest per executor thread, reset per shingle — MD5
  // instances are not thread-safe and getInstance per row allocates
  private val md5Local =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

  /** Row-local portable fingerprint; matches the SQL
    * `conv(substring(md5(shingle), 1, 15), 16, 10)` hash bit-for-bit:
    * the first 15 hex chars of an MD5 are the high 60 bits of its
    * big-endian digest. Shingling matches `split(text, " ")` +
    * `sequence(0, greatest(size - n, 0))` + `slice`/`array_join`
    * (single-space split keeping empties; short docs emit one shingle
    * over all available words) and dedups shingles like
    * `array_distinct`.
    */
  def portableFingerprint(s: String, n: Int, nbits: Int): Long = {
    if (s == null) return 0L
    val words = s.split(" ", -1)
    val count = math.max(words.length - n + 1, 1)
    val width = math.min(n, words.length)
    val seen = new java.util.HashSet[String]()
    val votes = new Array[Int](nbits)
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
        md.reset()
        val d = md.digest(
          shingle.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        // 15 hex nibbles = bytes 0..6 plus the high nibble of byte 7
        var hv = 0L
        var i = 0
        while (i < 7) { hv = (hv << 8) | (d(i) & 0xFFL); i += 1 }
        hv = (hv << 4) | ((d(7) & 0xFFL) >>> 4)
        var b = 0
        while (b < nbits) {
          if (((hv >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      j += 1
    }
    var fpv = 0L
    var b = 0
    while (b < nbits) {
      if (votes(b) > 0) fpv |= (1L << b)
      b += 1
    }
    fpv
  }

  /** Near-dup pairs over the portable (MD5-based, oracle-checkable)
    * fingerprint. Identical plan shape to [[nearDuplicates]].
    */
  def nearDuplicatesPortable(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, radius: Int = 3, nbits: Int = 60): DataFrame = {
    // the per-shingle MD5 walk is the pipeline's dominant CPU and runs
    // in the scan stage — spread a single-split corpus across the
    // session's cores (no-op at real corpus sizes; q33 1.11 → 0.59 s,
    // OPTIMIZATION_r18)
    val fp = graft.core.Spread.cpuFloor(df.filter(col(textCol).isNotNull))
      .select(col(idCol).as("id"),
        simhashPortable(col(textCol), n, nbits).as("fp"))
    pairsFromFingerprints(fp, radius, nbits)
  }
}
