package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import graft.corpus.Corpus
import graft.model.DedupConfig
import graft.operators.{ExactDedup, Substring}

/** Long-substring pass vs a brute-force fingerprint oracle and vs the
 *  planted shared-block fixtures (FIXTURES.md `sharedSubstring`). */
class SubstringSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val cfg = DedupConfig()

  private lazy val corpus = Corpus.synthetic(spark, 300, seed = 4L).cache()
  private lazy val local = corpus.collect()
  private lazy val corpusK =
    ExactDedup.validRows(corpus.toDF()).withColumn("rkey", ExactDedup.rkey)

  /** q13's pair chain: rolling grams of the content-distinct representatives
   *  (minimum rkey per content), paired by the shared run-scan operator. */
  private def rollingPairs: DataFrame =
    Substring.gramPairs(Substring.rollingGramTableUniq(corpusK, cfg),
      cfg.minSharedGrams, cfg.maxBucketSize)

  test("rolling fingerprints are shift-invariant (same block, different offset)") {
    val block = "A" * 10 + local.head.content.take(200)
    val doc1 = "unique prefix one " + block
    val doc2 = "a totally different and longer unique prefix two " + block
    val f1 = Substring.rollingFingerprints(doc1, cfg.gramWidth, cfg.sampleMask).toSet
    val f2 = Substring.rollingFingerprints(doc2, cfg.gramWidth, cfg.sampleMask).toSet
    assert(f1.intersect(f2).nonEmpty, "shared block must select common fingerprints")
  }

  test("md5SampledGrams fast path ≡ per-window reference (incl. multi-byte and surrogate content)") {
    val samples = local.take(40).map(_.content) ++ Seq(
      null, "", "x" * 47, "y" * 48,
      // multi-byte BMP chars (2- and 3-byte UTF-8) inside and across windows
      ("café codepoints 一二三 " * 12),
      // supplementary chars (surrogate pairs) — must route to the reference path
      ("emoji 😀 mixed content here padding " * 8),
      // lone surrogate at a window edge
      ("z" * 47) + "\ud800" + ("w" * 47))
    // per-window reference: every 48-char window encoded on its own, digest
    // rendered with a format call per byte
    def windowHexes(c: String): Seq[String] =
      if (c == null || c.length < 48) Nil
      else (0 to c.length - 48).map { i =>
        java.security.MessageDigest.getInstance("MD5")
          .digest(c.substring(i, i + 48).getBytes(java.nio.charset.StandardCharsets.UTF_8))
          .map(b => f"${b & 0xff}%02x").mkString
      }
    samples.foreach { c =>
      // sampled grams (q09's oracle contract): hexes ending in '0', distinct, sorted
      assert(Substring.md5SampledGrams(c, 48).toSeq ===
        windowHexes(c).filter(_.charAt(31) == '0').distinct.sorted,
        s"mismatch for ${String.valueOf(c).take(40)}")
      // min-gram fingerprint (q12): the minimum hex, null below one window
      assert(Substring.md5MinGram(c, 48) === windowHexes(c).minOption.orNull,
        s"min-gram mismatch for ${String.valueOf(c).take(40)}")
    }
  }

  test("gramPairs emits a_key < b_key in UTF-8 binary order on supplementary-plane keys") {
    import spark.implicits._
    // U+1F600 (surrogate pair, UTF-8 F0..) sorts AFTER U+E000..U+FFFF (EE..EF)
    // in binary collation but BEFORE them in UTF-16 code-unit order
    val keys = Seq("\ud83d\ude00a", "\ue000b", "\uffefc", "\ud83d\ude01", "\uf8ffd", "plain")
    val grams = for (k <- keys; g <- 1L to 2L) yield (g, k)
    val pairs = Substring.gramPairs(grams.toDF("gram", "rkey"), minShared = 2, cap = 100)
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(pairs.length === keys.size * (keys.size - 1) / 2)
    pairs.foreach { case (a, b) =>
      assert(graft.functions.BucketScan.utf8Ordering.lt(a, b), s"($a, $b) not in UTF-8 binary order")
    }
  }

  test("substringPairs matches brute-force oracle exactly") {
    // oracle over distinct-content representatives (min key per content)
    val fps = local.groupBy(_.content).map { case (c, fs) =>
      fs.map(f => s"${f.repo}/${f.path}").min -> Substring.rollingFingerprints(c, cfg.gramWidth, cfg.sampleMask)
    }.toArray.sortBy(_._1)
    // brute force: pairs sharing >= minSharedGrams sampled grams, minus pairs
    // whose shared grams are all "hot" (above cap) — cap never trips here.
    val hot = fps.flatMap(_._2).groupBy(identity).filter(_._2.length > cfg.maxBucketSize).keySet
    assert(hot.isEmpty)
    val oracle = (for {
      i <- fps.indices
      j <- (i + 1) until fps.length
      shared = fps(i)._2.toSet.intersect(fps(j)._2.toSet).size
      if shared >= cfg.minSharedGrams
    } yield {
      val (a, b) = if (fps(i)._1 < fps(j)._1) (fps(i)._1, fps(j)._1) else (fps(j)._1, fps(i)._1)
      (a, b) -> shared.toLong
    }).toMap

    val got = rollingPairs.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got === oracle)
    assert(oracle.nonEmpty, "fixtures must plant shared substrings")
  }

  test("verification rejects planted false edges and keeps true ones") {
    import spark.implicits._
    // Two docs sharing a real 60-char block, one unrelated doc. A forged
    // candidate pair (a, c) must NOT survive verification; (a, b) must.
    val block = local.head.content.take(60)
    val docs = Seq(
      ("r/a", "prefix one " + block),
      ("r/b", "a different prefix " + block),
      ("r/c", "completely unrelated content with no shared window at all " * 3))
      .toDF("rkey", "content")
    val candidates = Seq(("r/a", "r/b", 2L), ("r/a", "r/c", 2L))
      .toDF("a_key", "b_key", "n_shared")
    val got = Substring.verifiedSubstringPairs(candidates, docs, w = 48)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got === Set(("r/a", "r/b")))
  }

  test("hasSharedWindow: exact compare kills hash collisions, finds real windows") {
    val block = "X" * 48
    assert(Substring.hasSharedWindow("aaa" + block, block + "zzz", 48))
    assert(!Substring.hasSharedWindow("a" * 100, "b" * 100, 48))
    assert(!Substring.hasSharedWindow("short", "also short", 48))
  }

  test("verified rolling pairs: full pipeline keeps only byte-true edges") {
    val raw = rollingPairs
    val verified = Substring.verifiedSubstringPairs(raw, corpusK, cfg.gramWidth)
    // every verified pair really shares a window (re-check in-process)
    val contents = local.map(f => s"${f.repo}/${f.path}" -> f.content).toMap
    verified.collect().foreach { r =>
      assert(Substring.hasSharedWindow(contents(r.getString(0)), contents(r.getString(1)), cfg.gramWidth),
        s"${r.getString(0)} / ${r.getString(1)} verified but shares no window")
    }
    // and verification is lossless here (sampled grams ARE real windows)
    assert(verified.count() === raw.count())
  }

  test("planted shared-block files are recovered") {
    // sub/ files sharing the same block id (id % 50) must pair up when both
    // sampled fingerprints of the 60-token shared block survive sampling.
    val pairs = rollingPairs.collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val subPairs = pairs.filter { case (a, b) => a.contains("/sub/") && b.contains("/sub/") }
    assert(subPairs.nonEmpty, "expected pairs among planted sub/ files")
  }
}
