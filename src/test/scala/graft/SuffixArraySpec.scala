package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.corpus.Corpus
import graft.model.DedupConfig
import graft.operators.{ExactDedup, NearDup, Substring, SuffixArray}

/** Prefix-doubling suffix pass (q35): exact shared-window pairs with no
 *  hashing — must equal the byte-verified rolling-fingerprint path (mask=0)
 *  on every fixture. */
class SuffixArraySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val cfg = DedupConfig()
  private val w = cfg.gramWidth

  private def hashedPairs(df: org.apache.spark.sql.DataFrame): Set[Set[Long]] =
    df.collect().map(r => Set(r.getLong(0), r.getLong(1))).toSet

  test("planted blocks: exact pairs by construction, independent of offset") {
    import spark.implicits._
    val block = "SHARED-BLOCK-" + ("abcdefgh" * 8) // 77 chars > w
    val docs = Seq(
      (1L, "prefix one " + block + " tail"),
      (2L, ("y" * 300) + block),
      (3L, "no shared window here at all " * 5),
      (4L, block.take(w - 1) + " truncated below the window width " * 3),
      (5L, ("z" * 7) + block + ("q" * 11)))
      .toDF("id", "content")
    val got = hashedPairs(SuffixArray.windowClassPairs(docs, w, cap = 100))
    assert(got === Set(Set(1L, 2L), Set(1L, 5L), Set(2L, 5L)))
  }

  test("parity with the byte-verified rolling path (mask=0) on the synthetic fixtures") {
    val corpus = Corpus.synthetic(spark, 300, seed = 4L).toDF()
    val cK = ExactDedup.validRows(corpus).withColumn("rkey", ExactDedup.rkey)
    val reps = NearDup.dedupedByContent(cK)

    val rolling = Substring.verifiedSubstringPairs(
      Substring.gramPairs(
        Substring.rollingGramTableUniq(cK, cfg.copy(sampleMask = 0L)),
        minShared = 1, cap = Int.MaxValue),
      cK, w)
      .select(xxhash64(col("a_key")).as("a"), xxhash64(col("b_key")).as("b"))

    val sa = SuffixArray.windowClassPairs(
      reps.select(xxhash64(col("rkey")).as("id"), col("content")),
      w, cap = Int.MaxValue)

    val rollingSet = hashedPairs(rolling)
    val saSet = hashedPairs(sa)
    assert(saSet === rollingSet)
    assert(saSet.nonEmpty, "fixtures must plant shared windows")
  }

  test("skew cap: a boilerplate window shared by > cap docs is dropped and reported") {
    import spark.implicits._
    val boiler = "LICENSE-HEADER-" + ("x" * 60)
    // prefix = one distinct char repeated — a numeral prefix like
    // "unique-12 " would leak REAL shared windows ("2 LICENSE-…") between
    // same-last-digit docs, which the exact pass correctly finds
    val abc = "abcdefghijklmnopqrstuvwxyzABCD"
    val docs = (1L to 30L).map(i => (i, abc.charAt(i.toInt - 1).toString * 30 + boiler))
      .toDF("id", "content")
    // onDrop fires on EXECUTORS (inside the run-scan) — count through an
    // accumulator, the same channel the pipeline wires it to
    val dropped = spark.sparkContext.longAccumulator("sa.spec.drops")
    val got = SuffixArray.windowClassPairs(docs, w, cap = 10, onDrop = dropped.add(_))
    assert(got.count() === 0L, "over-cap classes must not emit pairs")
    assert(dropped.value > 0L, "the drop must be reported, never silent")
  }

  test("the pipeline has no suffix-array route: DedupConfig accepts only substringViaSuffixArray = false") {
    intercept[IllegalArgumentException](cfg.copy(substringViaSuffixArray = true))
  }
}
