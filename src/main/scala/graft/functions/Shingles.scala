package graft.functions

import java.util.Arrays

/**
 * Pure row-level text-dedup primitives: tokenization, n-gram shingling,
 * MinHash signatures, LSH band hashes, SimHash, and exact Jaccard — the
 * scalar layer under the near-dup stage (SURVEY.md §2.8). All functions are
 * deterministic, allocation-conscious, and independent of SparkSession so the
 * same code runs in UDFs, typed `map`s, and driver-side oracles.
 *
 * Tokenization contract (shared with the DuckDB oracle SQL): lowercase,
 * tokens are maximal runs of `[a-z0-9]`, everything else separates; empty
 * tokens dropped. A 5-gram shingle is 5 consecutive tokens joined by a single
 * space; a document with fewer than n tokens has no shingles.
 */
object Shingles extends Serializable {

  /** Maximal [a-z0-9] runs of the lowercased text. */
  def tokenize(content: String): Array[String] = {
    if (content == null || content.isEmpty) return Array.empty
    val out = scala.collection.mutable.ArrayBuffer[String]()
    val n = content.length
    var i = 0
    val sb = new java.lang.StringBuilder(16)
    while (i < n) {
      val c = Character.toLowerCase(content.charAt(i))
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) sb.append(c)
      else if (sb.length > 0) { out += sb.toString; sb.setLength(0) }
      i += 1
    }
    if (sb.length > 0) out += sb.toString
    out.toArray
  }

  /** Distinct, sorted 64-bit hashes of the n-gram shingles. Each token is
   *  hashed once (XXH64 of its UTF-8 bytes); a shingle's hash chains the n
   *  token hashes through keyed `hashLong` mixes — no shingle *string* is
   *  ever built (the old string-concat + re-hash form cost ~2× the CPU for
   *  an identical distinct-set cardinality). Any injective-in-practice
   *  shingle→64-bit map preserves set intersections, which is all Jaccard
   *  and the oracle's distinct-shingle counting need. Sorted so set ops are
   *  merge-joins; hashing immediately means shingle strings never enter a
   *  shuffle. */
  def shingleHashes(content: String, n: Int): Array[Long] = {
    val toks = tokenize(content)
    if (toks.length < n) return Array.empty
    val th = new Array[Long](toks.length)
    var t = 0
    while (t < toks.length) { th(t) = XXHash64.hashString(toks(t), 42L); t += 1 }
    val hs = new Array[Long](toks.length - n + 1)
    var i = 0
    while (i <= toks.length - n) {
      var h = -7046029254386353131L // arbitrary odd seed
      var j = 0
      while (j < n) {
        h = XXHash64.hashLong(h ^ th(i + j), j.toLong)
        j += 1
      }
      hs(i) = h
      i += 1
    }
    distinctSorted(hs)
  }

  def distinctSorted(hs: Array[Long]): Array[Long] = {
    if (hs.isEmpty) return hs
    Arrays.sort(hs)
    var w = 1
    var r = 1
    while (r < hs.length) {
      if (hs(r) != hs(w - 1)) { hs(w) = hs(r); w += 1 }
      r += 1
    }
    if (w == hs.length) hs else Arrays.copyOf(hs, w)
  }

  /**
   * MinHash signature: the i-th slot is min over the shingle set of the i-th
   * hash function h_i(s) = h1(s) + i·h2(s) (double hashing, Kirsch &
   * Mitzenmacher — two real XXH64 mixes per shingle instead of k, with the
   * k functions derived by multiply-add; the "k hash functions" MinHash
   * variant, Broder '97). E[fraction of equal slots] = Jaccard. ~6× less
   * CPU than k independent re-hashes at k=128; recall quality is guarded by
   * NearDupSpec's brute-force oracle (1.0 at the configured bands/rows) and
   * the exact-Jaccard verify pass downstream.
   */
  def minhashSignature(shingles: Array[Long], k: Int): Array[Long] = {
    val sig = new Array[Long](k)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var j = 0
    while (j < shingles.length) {
      val s = shingles(j)
      var h = XXHash64.hashLong(s, 1234567891011L)
      val step = XXHash64.hashLong(s, 777215L) | 1L
      var i = 0
      while (i < k) {
        if (h < sig(i)) sig(i) = h
        h += step
        i += 1
      }
      j += 1
    }
    sig
  }

  /** LSH band hashes: bands × rowsPerBand slices of the signature, each
   *  hashed (chained hashLong keyed by band index) to one 64-bit bucket id. */
  def bandHashes(sig: Array[Long], bands: Int, rowsPerBand: Int): Array[Long] = {
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = XXHash64.hashLong(b.toLong, 9021L)
      var r = 0
      while (r < rowsPerBand) {
        h = XXHash64.hashLong(h ^ sig(b * rowsPerBand + r), b.toLong)
        r += 1
      }
      out(b) = h
      b += 1
    }
    out
  }

  /** |A ∩ B| of two distinct-sorted long arrays (merge scan). */
  def intersectionSize(a: Array[Long], b: Array[Long]): Int = {
    var i = 0; var j = 0; var c = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { c += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    c
  }

  /** Exact Jaccard of two distinct-sorted shingle-hash sets. */
  def jaccard(a: Array[Long], b: Array[Long]): Double = {
    if (a.isEmpty && b.isEmpty) return 0.0
    val c = intersectionSize(a, b)
    c.toDouble / (a.length + b.length - c)
  }

  /**
   * 64-bit SimHash over tokens (Charikar '02): bit j of the result is the
   * sign of the sum over tokens of ±1 at bit j of the token's bits, so
   * near-dup docs differ in few bits (Hamming distance). The per-token bits
   * are the first 64 bits of md5(token) in big-endian bit order — i.e. bit j
   * (j = 0..63) is bit `7 - j%8` of digest byte `j/8`, which equals bit
   * `3 - j%4` of hex digit `j/4` of the standard lowercase hex rendering.
   * md5 exists in every ANSI
   * SQL engine, so this sketch is *oracle-replayable* (q08's DuckDB SQL
   * recomputes it bit-for-bit). It is graft's one SimHash sketch, the one
   * q08 runs through `NearDup.uniqSimhashesMd5`. Ties (vote sum 0) resolve
   * to bit 0. Empty token stream → 0L.
   */
  def simhashMd5(content: String): Long = {
    val toks = tokenize(content)
    if (toks.isEmpty) return 0L
    val acc = new Array[Int](64)
    val md = java.security.MessageDigest.getInstance("MD5")
    var t = 0
    while (t < toks.length) {
      md.reset()
      val d = md.digest(toks(t).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var j = 0
      while (j < 64) {
        if (((d(j / 8) >>> (7 - j % 8)) & 1) == 1) acc(j) += 1 else acc(j) -= 1
        j += 1
      }
      t += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) {
      if (acc(j) > 0) out |= (1L << j)
      j += 1
    }
    out
  }
}
