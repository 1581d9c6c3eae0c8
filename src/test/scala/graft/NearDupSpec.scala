package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.corpus.Corpus
import graft.functions.{Shingles, XXHash64}
import graft.model.DedupConfig
import graft.operators.{ExactDedup, NearDup, PairVerify, Substring}

/** Near-dup stage vs a brute-force O(n²) Jaccard oracle (north_rule:
 *  dup-pair recall ≥ 0.99 under identical shingle/signature config). */
class NearDupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val cfg = DedupConfig()

  private lazy val corpus = Corpus.synthetic(spark, 400, seed = 2L).cache()
  private lazy val local = corpus.collect()

  /** Distinct-content representatives (min key per content), mirroring
   *  NearDup.dedupedByContent. */
  private lazy val reps: Array[(String, String)] = local
    .groupBy(_.content).map { case (c, fs) => fs.map(f => s"${f.repo}/${f.path}").min -> c }
    .toArray.sortBy(_._1)

  /** Brute-force pairs at/above threshold over the same shingle contract. */
  private lazy val oraclePairs: Map[(String, String), Double] = {
    val sets = reps.map { case (k, c) => k -> Shingles.shingleHashes(c, cfg.shingleN) }
      .filter(_._2.nonEmpty)
    (for {
      i <- sets.indices
      j <- (i + 1) until sets.length
      jac = Shingles.jaccard(sets(i)._2, sets(j)._2)
      if jac >= cfg.jaccardThreshold
    } yield {
      val (a, b) = if (sets(i)._1 < sets(j)._1) (sets(i)._1, sets(j)._1) else (sets(j)._1, sets(i)._1)
      (a, b) -> jac
    }).toMap
  }

  private lazy val gotPairs: Map[(String, String), Double] = {
    val df = NearDup.dedupedByContent(
      ExactDedup.validRows(corpus.toDF()).withColumn("rkey", ExactDedup.rkey))
    NearDup.verifiedPairs(df, cfg).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(4)).toMap
  }

  test("planted near-dups exist and are non-trivial") {
    assert(oraclePairs.nonEmpty)
    assert(oraclePairs.values.exists(j => j < 1.0)) // true near-dups, not only exact
  }

  test("recall vs brute-force oracle is 1.0 at configured (bands, rows)") {
    val missed = oraclePairs.keySet -- gotPairs.keySet
    assert(missed.isEmpty, s"missed pairs: ${missed.take(5)}")
  }

  test("precision is 1.0 (every emitted pair verified at threshold)") {
    val extra = gotPairs.keySet -- oraclePairs.keySet
    assert(extra.isEmpty, s"unexpected pairs: ${extra.take(5)}")
    gotPairs.foreach { case (k, j) => assert(j === oraclePairs(k), s"jaccard mismatch for $k") }
  }

  test("minhash signature estimates Jaccard within ±0.15 on planted pairs") {
    val sets = reps.toMap
    oraclePairs.take(20).foreach { case ((a, b), jac) =>
      val sa = Shingles.minhashSignature(Shingles.shingleHashes(sets(a), cfg.shingleN), cfg.minhashK)
      val sb = Shingles.minhashSignature(Shingles.shingleHashes(sets(b), cfg.shingleN), cfg.minhashK)
      val est = sa.zip(sb).count { case (x, y) => x == y }.toDouble / cfg.minhashK
      assert(math.abs(est - jac) <= 0.15, s"estimate $est vs exact $jac for ($a,$b)")
    }
  }

  test("skew guard: hot buckets above cap are dropped and reported") {
    val tight = cfg.copy(maxBucketSize = 2)
    // deliberately run WITHOUT content dedup so identical docs form hot buckets
    val df = ExactDedup.validRows(corpus.toDF()).withColumn("rkey", ExactDedup.rkey)
      .select(xxhash64(col("rkey")).as("id"),
        NearDup.shingleCol(col("content"), tight.shingleN).as("shingles"))
      .withColumn("n_shingles", size(col("shingles")))
      .where(col("n_shingles") > 0)
    val sigs = NearDup.signaturesById(df, tight)
    val banded = NearDup.bandedById(sigs, tight)
    val runs = spark.sparkContext.longAccumulator("spec.dropped_buckets")
    val members = spark.sparkContext.longAccumulator("spec.dropped_members")
    val pairs = NearDup.candidateIdPairs(banded, tight,
      n => { runs.add(1L); members.add(n) }).collect()
    // the license-header group (400/23 ≈ 17 identical docs) must trip the
    // cap, and onDrop reports every over-cap bucket with its size
    val hot = banded.groupBy("band_hash").count()
      .where(col("count") > tight.maxBucketSize).select("count").collect().map(_.getLong(0))
    assert(hot.nonEmpty)
    assert(runs.value === hot.length.toLong)
    assert(members.value === hot.sum)
    val lic = local.filter(_.path.startsWith("lic/"))
      .map(f => XXHash64.hashString(s"${f.repo}/${f.path}", 42L)).toSet
    assert(!pairs.exists(r => lic.contains(r.getLong(0)) && lic.contains(r.getLong(1))),
      "capped bucket members must not form candidate pairs")
  }

  test("verify key-set semi: broadcast and shuffle gate paths agree") {
    // Both callers of the one pair-verify operator, the near-dup (Jaccard)
    // and the substring (shared window) verify, through its shuffle-hash
    // semi-join (bound 0) against their public broadcast-gated entry points.
    val cK = ExactDedup.validRows(corpus.toDF()).withColumn("rkey", ExactDedup.rkey)
    val df = NearDup.dedupedByContentBroadcast(cK)
      .select(xxhash64(col("rkey")).as("id"),
        NearDup.shingleCol(col("content"), cfg.shingleN).as("shingles"))
      .withColumn("n_shingles", size(col("shingles")))
      .where(col("n_shingles") > 0)
    val sigs = NearDup.signaturesById(df, cfg)
    val cand = NearDup.candidateIdPairs(NearDup.bandedById(sigs, cfg), cfg)
    val sub = Substring.gramPairs(Substring.rollingGramTableUniq(cK, cfg.copy(sampleMask = 0L)),
      minShared = 1, cap = Int.MaxValue)
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect().map(_.toString).sorted.toSeq
    val nearShuffled = rows(PairVerify.verify(cand, "a_id", "b_id", df, "id", None,
      maxBroadcastPairs = 0L)(NearDup.jaccardAtLeast(cfg.jaccardThreshold)))
    val subShuffled = rows(PairVerify.verify(sub, "a_key", "b_key", cK.select("rkey", "content"),
      "rkey", None, maxBroadcastPairs = 0L)(Substring.sharedWindow(cfg.gramWidth, sub.columns.toIndexedSeq)))
    assert(nearShuffled === rows(NearDup.verifyCandidatesById(cand, df, cfg)))
    assert(subShuffled === rows(Substring.verifiedSubstringPairs(sub, cK, cfg.gramWidth)))
    assert(nearShuffled.nonEmpty && subShuffled.nonEmpty)
  }

  test("in-stream drop accounting: onDrop fires once per capped run with its length") {
    import graft.functions.BucketScan
    // runs: bucket 1 → 2 ids (emit), bucket 2 → 4 ids (cap 3: drop, len 4),
    // bucket 3 → 1 id (no pair, no drop), bucket 4 → 5 ids (drop, len 5)
    val rows = Seq((1L, 10L), (1L, 11L), (2L, 20L), (2L, 21L), (2L, 22L), (2L, 23L),
      (3L, 30L), (4L, 40L), (4L, 41L), (4L, 42L), (4L, 43L), (4L, 44L))
    val drops = scala.collection.mutable.ArrayBuffer[Long]()
    val pairs = BucketScan.pairs(rows.iterator, cap = 3, n => drops += n).toList
    assert(pairs === List((10L, 11L)))
    assert(drops.sorted.toList === List(4L, 5L))
    // the same kernel on String keys
    val dropsK = scala.collection.mutable.ArrayBuffer[Long]()
    val pairsK = BucketScan.pairs(
      rows.iterator.map { case (b, k) => (b, s"k$k") }, cap = 3, n => dropsK += n).toList
    assert(pairsK === List(("k10", "k11")))
    assert(dropsK.sorted.toList === List(4L, 5L))
  }
}
