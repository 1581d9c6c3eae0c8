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

  test("simhash pairs at Hamming<=3 match brute force exactly") {
    val corpus = Corpus.synthetic(spark, 250, seed = 3L)
    val local = corpus.collect()
    // oracle over distinct-content representatives (min key per content)
    val sketches = local.groupBy(_.content)
      .map { case (c, fs) => fs.map(f => s"${f.repo}/${f.path}").min -> Shingles.simhashMd5(c) }
      .toArray.sortBy(_._1)
    val oracle = (for {
      i <- sketches.indices
      j <- (i + 1) until sketches.length
      d = java.lang.Long.bitCount(sketches(i)._2 ^ sketches(j)._2)
      if d <= 3
    } yield {
      val (a, b) = if (sketches(i)._1 < sketches(j)._1) (sketches(i)._1, sketches(j)._1)
                   else (sketches(j)._1, sketches(i)._1)
      (a, b, d)
    }).toSet

    val corpusK = ExactDedup.validRows(corpus.toDF()).withColumn("rkey", ExactDedup.rkey)
    val got = NearDup.simhashPairs(NearDup.uniqSimhashesMd5(corpusK), maxDist = 3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2).toInt)).toSet
    assert(got === oracle)
  }
}
