package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

import graft.functions.{BucketScan, Shingles, TopKAgg}
import graft.operators.Substring

/**
 * Property-based coverage (SURVEY §5.2) of the pure kernels — the pieces
 * whose correctness the distributed operators lean on. Spark-level
 * invariants (cluster partition, keeper uniqueness, apply idempotency)
 * are scenario-tested in the *Spec suites; these properties hammer the
 * local algorithms with random inputs.
 */
object GraftProperties extends Properties("graft") {

  // ---- BucketScan ---------------------------------------------------------

  // Rows sorted by (bucket, key), as `pairs` requires: two generated buckets
  // may share a bucket value, so the sort runs over the merged rows.
  private val bucketedGen: Gen[List[(Long, Long)]] = for {
    nBuckets <- Gen.choose(0, 8)
    buckets <- Gen.listOfN(nBuckets, for {
      b <- Gen.choose(0L, 5L)
      ids <- Gen.listOf(Gen.choose(0L, 100L))
    } yield (b, ids))
  } yield buckets.flatMap { case (b, ids) => ids.map((b, _)) }.sorted

  property("bucketScan emits exactly the unordered pairs of sub-cap runs") =
    forAll(bucketedGen, Gen.choose(1, 6)) { (rows, cap) =>
      val got = BucketScan.pairs(rows.iterator, cap).toList.sorted
      val want = rows.groupBy(_._1).values.toList
        .filter(run => run.size >= 2 && run.size <= cap)
        .flatMap { run =>
          val ids = run.map(_._2)
          for (i <- ids.indices; j <- (i + 1) until ids.size)
            yield (math.min(ids(i), ids(j)), math.max(ids(i), ids(j)))
        }.sorted
      got == want
    }

  property("bucketScan drop accounting reports every over-cap run with its length") =
    forAll(bucketedGen, Gen.choose(1, 6)) { (rows, cap) =>
      val drops = scala.collection.mutable.ArrayBuffer[Long]()
      BucketScan.pairs(rows.iterator, cap, n => drops += n).foreach(_ => ())
      val want = rows.groupBy(_._1).values.map(_.size.toLong).filter(_ > cap).toList.sorted
      drops.toList.sorted == want
    }

  // ---- TopKAgg ------------------------------------------------------------

  private val scoredGen: Gen[List[(Long, Double)]] =
    Gen.listOf(Gen.zip(Gen.choose(0L, 50L), Gen.choose(0, 100).map(_ / 10.0)))

  property("topK reduce+merge equals sort-take-k under the window comparator") =
    forAll(scoredGen, scoredGen, Gen.choose(1, 7)) { (xs, ys, k) =>
      val agg = TopKAgg(k)
      val viaAgg = agg.merge(
        xs.foldLeft(agg.zero)(agg.reduce),
        ys.foldLeft(agg.zero)(agg.reduce))
      val want = (xs ++ ys).map { case (id, s) => (s, id) }
        .sortBy { case (s, id) => (-s, id) }.take(k)
      viaAgg == want
    }

  // ---- sorted-set kernels -------------------------------------------------

  private val sortedArrGen: Gen[Array[Long]] =
    Gen.listOf(Gen.choose(0L, 40L)).map(_.distinct.sorted.toArray)

  property("intersectionSize equals set intersection on distinct-sorted input") =
    forAll(sortedArrGen, sortedArrGen) { (a, b) =>
      Shingles.intersectionSize(a, b) == a.toSet.intersect(b.toSet).size
    }

  // ---- rolling fingerprints / shared-window verify ------------------------

  private val textGen: Gen[String] =
    Gen.listOf(Gen.oneOf('a', 'b', 'c', ' ')).map(_.mkString)

  property("hasSharedWindow is exact vs brute-force window comparison") =
    forAll(textGen, textGen, Gen.choose(2, 6)) { (a, b, w) =>
      val brute = (a.length >= w) && (b.length >= w) &&
        a.sliding(w).exists(win => b.sliding(w).contains(win))
      Substring.hasSharedWindow(a, b, w) == brute
    }

  property("a planted shared window always selects a shared fingerprint (mask=0)") =
    forAll(textGen, textGen, Gen.listOfN(12, Gen.oneOf('x', 'y', 'z'))) { (a, b, blockL) =>
      val w = 8
      val block = blockL.mkString // 12 > w chars, alphabet disjoint from filler
      val fa = Substring.rollingFingerprints(a + block, w, 0L).toSet
      val fb = Substring.rollingFingerprints(block + b, w, 0L).toSet
      Prop(fa.intersect(fb).nonEmpty)
    }

  // ---- shingles -----------------------------------------------------------

  property("shingle sets are order-stable: equal content gives equal hashes, " +
    "and a token edit changes membership only locally") =
    forAll(Gen.listOf(Gen.oneOf("a", "bb", "ccc", "dd")), Gen.choose(2, 4)) { (toks, n) =>
      val s = toks.mkString(" ")
      val h1 = Shingles.shingleHashes(s, n).toSeq
      val h2 = Shingles.shingleHashes(s, n).toSeq
      h1 == h2 && h1 == h1.distinct.sorted
    }
}
