package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.corpus.Corpus
import graft.functions.Shingles
import graft.operators.{ExactDedup, NearDup}

/** The production SimHash chain (q08's md5-bit sketch + block-join pairs)
 *  vs a brute-force Hamming-distance oracle (Manku et al. pigeonhole
 *  decomposition must have recall 1 by construction). */
class SimHashSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val corpus = Corpus.synthetic(spark, 250, seed = 3L)
  /** (min key, sketch) per distinct content, by key. */
  private lazy val sketches = corpus.collect().groupBy(_.content)
    .map { case (c, fs) => fs.map(f => s"${f.repo}/${f.path}").min -> Shingles.simhashMd5(c) }
    .toArray.sortBy(_._1)
  private def pairsWithin3(members: Seq[(String, Long)]): Set[(String, String, Int)] =
    (for {
      i <- members.indices
      j <- (i + 1) until members.length
      d = java.lang.Long.bitCount(members(i)._2 ^ members(j)._2)
      if d <= 3
    } yield {
      val (a, b) = if (members(i)._1 < members(j)._1) (members(i)._1, members(j)._1)
                   else (members(j)._1, members(i)._1)
      (a, b, d)
    }).toSet
  private def simhashPairs(cap: Int, onDrop: (Long, Long) => Unit): Set[(String, String, Int)] = {
    val corpusK = ExactDedup.validRows(corpus.toDF()).withColumn("rkey", ExactDedup.rkey)
    NearDup.simhashPairs(NearDup.uniqSimhashesMd5(corpusK), maxDist = 3, maxBlockSize = cap, onDrop)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2).toInt)).toSet
  }

  test("simhash pairs at Hamming<=3 match brute force exactly") {
    // oracle over distinct-content representatives (min key per content)
    var drops = 0L
    assert(simhashPairs(65536, (n, _) => drops += n) === pairsWithin3(sketches.toSeq))
    assert(drops === 0L)
  }

  test("simhash blocks over the cap are dropped whole and reported once") {
    val cap = 2
    // the 4 blocks of 16 bits; a block value shared by more than `cap`
    // representatives pairs nobody and is reported with its member count
    val buckets = sketches.toSeq.flatMap { case (k, h) =>
      (0 until 4).map(i => ((i, (h >>> (i * 16)) & 0xffffL), (k, h)))
    }.groupBy(_._1).values.map(_.map(_._2))
    val (hot, cold) = buckets.partition(_.size > cap)
    assert(hot.nonEmpty)
    var reported = Seq.empty[(Long, Long)]
    val got = simhashPairs(cap, (n, m) => reported :+= (n -> m))
    assert(got === cold.flatMap(pairsWithin3).toSet)
    assert(reported === Seq(hot.size.toLong -> hot.map(_.size.toLong).sum))
  }
}
