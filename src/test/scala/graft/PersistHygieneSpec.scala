package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.GraftSqlCache

import graft.corpus.Corpus
import graft.model.DedupConfig
import graft.operators.{ExactDedup, NearDup, Substring}

/** Round-2 leak fix: the verify-path operators persist intermediate tables
 *  internally; with no `register` hook those persists must be SCOPED — fully
 *  released before the operator returns — so repeated invocations in a
 *  long-lived session (the 28-query Verify/Bench loop) cannot accumulate
 *  dead cached plans. */
class PersistHygieneSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private lazy val corpusK =
    ExactDedup.validRows(Corpus.synthetic(spark, 250, seed = 19L).toDF())
      .withColumn("rkey", ExactDedup.rkey)
  private val cfg = DedupConfig()

  test("NearDup.verifiedPairs leaves the SQL cache empty (scoped persists)") {
    spark.catalog.clearCache()
    val out = NearDup.verifiedPairs(corpusK, cfg)
    assert(out.count() >= 0)
    assert(GraftSqlCache.isEmpty(spark),
      "verifiedPairs left cached plans behind")
    // result stays usable after the internal unpersists (eager materialization)
    assert(out.columns.toSeq ===
      Seq("a_key", "b_key", "n_intersect", "n_union", "jaccard"))
  }

  test("NearDup.verifyCandidatesById scopes its candidate persist") {
    import spark.implicits._
    spark.catalog.clearCache()
    val sh = NearDup.uniqShingleSets(corpusK, cfg)
      .selectExpr("xxhash64(rkey) as id", "shingles", "n_shingles")
    val cand = Seq((1L, 2L), (3L, 4L)).toDF("a_id", "b_id")
    NearDup.verifyCandidatesById(cand, sh, cfg).count()
    assert(GraftSqlCache.isEmpty(spark),
      "verifyCandidatesById left cached plans behind")
  }

  test("Substring.verifiedSubstringPairs scopes its pair persist") {
    spark.catalog.clearCache()
    val pairs = Substring.gramPairs(
      Substring.sampledGramTableUniq(corpusK, 48), minShared = 2, cap = Int.MaxValue)
    Substring.verifiedSubstringPairs(pairs, corpusK, w = 48).count()
    assert(GraftSqlCache.isEmpty(spark),
      "verifiedSubstringPairs left cached plans behind")
  }

  test("repeated invocations do not accumulate cache entries (register variant cleans via hook)") {
    spark.catalog.clearCache()
    val persists = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.DataFrame]
    val lazyOut = NearDup.verifiedPairs(corpusK, cfg, register = Some(persists += _))
    lazyOut.count()
    assert(persists.nonEmpty, "register hook must receive the internal persists")
    persists.foreach(_.unpersist(false))
    persists.clear()
    // second invocation through the scoped default: still nothing retained
    NearDup.verifiedPairs(corpusK, cfg).count()
    assert(GraftSqlCache.isEmpty(spark))
  }
}
