package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.XXHash3

/** XXH3-64 bit-parity against libxxhash 0.8.1 (the canonical C
 *  implementation, same algorithm the reference's xxhash-rust crate
 *  implements): a 1,110-vector golden sweep — every length 0..1100 plus
 *  large sizes to 100,000 bytes — covering all five single-shot branches,
 *  both mid-size branches, and the block/stripe/scramble long path
 *  including block boundaries (1024/1025) and multi-block inputs. */
class XXH3Spec extends AnyFunSuite {

  /** Deterministic byte pattern shared with the golden generator:
   *  data[j] = ((j * 2654435761) >> 13) & 0xFF. */
  private def pattern(n: Int): Array[Byte] = {
    val out = new Array[Byte](n)
    var j = 0
    while (j < n) { out(j) = ((j.toLong * 2654435761L >> 13) & 0xFF).toByte; j += 1 }
    out
  }

  private lazy val golden: Seq[(Int, Long)] = {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/xxh3_64_golden.tsv"), "UTF-8")
    try src.getLines().filterNot(_.startsWith("#")).map { line =>
      val Array(len, h) = line.split('\t')
      (len.toInt, java.lang.Long.parseUnsignedLong(h))
    }.toList
    finally src.close()
  }

  test("matches libxxhash on all 1,110 golden vectors (lengths 0..1100, 2k..100k)") {
    assert(golden.size === 1110)
    // every branch is represented
    assert(golden.exists(_._1 == 0) && golden.exists(_._1 == 3) &&
      golden.exists(_._1 == 8) && golden.exists(_._1 == 16) &&
      golden.exists(_._1 == 128) && golden.exists(_._1 == 240) &&
      golden.exists(_._1 == 1024) && golden.exists(_._1 == 1025) &&
      golden.exists(_._1 == 100000))
    val data = pattern(100001)
    golden.foreach { case (len, want) =>
      val got = XXHash3.hash(java.util.Arrays.copyOfRange(data, 0, len))
      assert(got === want, s"length $len")
    }
  }

  test("known vector: empty input") {
    assert(XXHash3.hash(Array.emptyByteArray) === 0x2D06800538D394C2L)
  }

  test("unsigned-decimal rendering matches the reference checksum print (hash.rs:57-61)") {
    // negative longs render as unsigned u64 decimals
    assert(java.lang.Long.toUnsignedString(-1L) === "18446744073709551615")
    assert(java.lang.Long.toUnsignedString(XXHash3.hash(Array.emptyByteArray))
      === "3244421341483603138")
  }

  test("hashString hashes UTF-8 bytes (multi-byte code points included)") {
    val s = "héllo wörld € 😀" // 2-byte, 3-byte, 4-byte sequences
    assert(XXHash3.hashString(s) ===
      XXHash3.hash(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
  }
}
