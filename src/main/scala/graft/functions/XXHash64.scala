package graft.functions

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.Platform

/**
 * XXH64 (public algorithm, xxhash.com spec), delegated to Spark's own
 * implementation — the one behind the SQL `xxhash64` function — so
 * driver-side and executor-side hashing are identical by construction. The
 * reference uses xxh3_64 (hash.rs:9-13, hash.rs:25-28) purely as a cheap
 * 64-bit content-group prefilter before the sha256 confirm step
 * (scanner.rs:108-138). Exact xxh3 bit-parity is not load-bearing — any
 * strong 64-bit hash fills the role, and our authoritative group id is the
 * sha256 hex (SURVEY.md §2.3 A4).
 *
 * Used driver/executor-side for: shingle hashing, LSH band hashing, rolling
 * fingerprints, deterministic pseudo-random hyperplanes.
 */
object XXHash64 {

  /** XXH64 of `bytes[from, until)` with `seed`. */
  def hash(bytes: Array[Byte], from: Int, until: Int, seed: Long): Long =
    XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET + from, until - from, seed)

  def hash(bytes: Array[Byte], seed: Long): Long = hash(bytes, 0, bytes.length, seed)

  /** Hash of a UTF-8 string — matches Spark's `xxhash64(col)` for seed 42. */
  def hashString(s: String, seed: Long = 42L): Long =
    hash(s.getBytes(java.nio.charset.StandardCharsets.UTF_8), seed)

  /** Hash of a single long value (little-endian 8 bytes), used for cheap
   *  derived permutation seeds and band mixing. */
  def hashLong(v: Long, seed: Long): Long = XXH64.hashLong(v, seed)
}
