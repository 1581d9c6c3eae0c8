package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.corpus.Corpus
import graft.model.DedupConfig
import graft.operators.NearDup
import graft.streaming.NearDupStream

/** Streaming incremental near-dup candidates (two chained Append-mode
 *  flatMapGroupsWithState stages): static single-batch mode must reproduce
 *  the batch LSH candidate set exactly; a second micro-batch must pair new
 *  representatives against RETAINED bucket members; the bucket cap is
 *  prefix-emit with a sticky drop flag. */
class NearDupStreamSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val cfg = DedupConfig()

  private def batchCandidates(corpus: org.apache.spark.sql.DataFrame): Set[(Long, Long)] = {
    val corpusK = graft.operators.ExactDedup.validRows(corpus)
      .withColumn("rkey", graft.operators.ExactDedup.rkey)
    val sh = NearDup.uniqShingleSets(corpusK, cfg)
      .select(xxhash64(col("rkey")).as("id"), col("shingles"),
        col("n_shingles"))
    NearDup.candidateIdPairs(
        NearDup.bandedById(NearDup.signaturesById(sh, cfg), cfg), cfg)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      .map((p: (Long, Long)) => (math.min(p._1, p._2), math.max(p._1, p._2)))
  }

  test("static single-batch run reproduces the batch LSH candidate set exactly") {
    val corpus = Corpus.synthetic(spark, 300, seed = 23L).toDF()
    val corpusK = graft.operators.ExactDedup.validRows(corpus)
      .withColumn("rkey", graft.operators.ExactDedup.rkey)
    val got = NearDupStream.candidateIdPairs(corpusK, cfg).toDF().distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = batchCandidates(corpus)
    assert(want.nonEmpty && got === want)
  }

  test("two micro-batches: new reps pair against retained bucket members; union = static set") {
    val corpus = Corpus.synthetic(spark, 300, seed = 23L).toDF().cache()
    val tmp = java.nio.file.Files.createTempDirectory("graft_ndstream").toString
    // split by CONTENT so an exact-dup group never spans batches: the stream
    // elects its rep from the first-seeing batch (sticky), so a group whose
    // global-min rkey arrived later would legitimately diverge from the
    // static run — causal semantics, not a bug (same story as DedupStream's
    // sticky keepers). Near-dup PAIRS still span batches, which is the
    // incremental behavior under test.
    val b1 = corpus.where(pmod(xxhash64(col("content")), lit(2)) === 0)
    val b2 = corpus.where(pmod(xxhash64(col("content")), lit(2)) === 1)
    b1.coalesce(1).write.mode("overwrite").parquet(s"$tmp/in")
    NearDupStream.runAvailableNow(spark, s"$tmp/in", s"$tmp/out", s"$tmp/ckpt", cfg)
    val after1 = spark.read.parquet(s"$tmp/out").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    b2.coalesce(1).write.mode("append").parquet(s"$tmp/in")
    NearDupStream.runAvailableNow(spark, s"$tmp/in", s"$tmp/out", s"$tmp/ckpt", cfg)
    val after2 = spark.read.parquet(s"$tmp/out").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    val want = batchCandidates(corpus)
    assert(after2 === want, "streamed union != static candidate set")
    assert(after1.subsetOf(after2))
    // incremental pairing actually happened: batch 2 emitted pairs, and at
    // least one pair joins a batch-1 rep to a batch-2 rep (retained state)
    val ids1 = b1.select(xxhash64(concat(col("repo"), lit("/"), col("path")))).collect()
      .map(_.getLong(0)).toSet
    val cross = (after2 -- after1).exists { case (a, b) =>
      ids1.contains(a) ^ ids1.contains(b)
    }
    assert((after2 -- after1).nonEmpty)
    assert(cross, "no cross-batch pair — bucket state was not retained")
    corpus.unpersist()
  }

  test("retention arm: idle reps and buckets are evicted; re-arrivals re-elect and pair afresh") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_ndstream_ret").toString
    def write(rows: (String, String)*): Unit =
      rows.map { case (repo, content) => (repo, "f.txt", "c1", "scala", content) }
        .toDF("repo", "path", "commit", "lang", "content")
        .coalesce(1).write.mode("append").parquet(s"$tmp/in")
    def run(): Set[(Long, Long)] = {
      NearDupStream.runAvailableNow(spark, s"$tmp/in", s"$tmp/out", s"$tmp/ckpt", cfg,
        retentionMs = 500L)
      spark.read.parquet(s"$tmp/out").as[(Long, Long)].collect().toSet
    }
    def pair(a: String, b: String): (Long, Long) = {
      val (x, y) = (graft.functions.XXHash64.hashString(s"$a/f.txt", 42L),
        graft.functions.XXHash64.hashString(s"$b/f.txt", 42L))
      (math.min(x, y), math.max(x, y))
    }
    val body = (0 until 120).map(i => s"tok$i").mkString(" ")
    val (docA, docB) = (s"$body tail-a", s"$body tail-b")

    // batch 1: two near-dups pair
    write("a1" -> docA, "a2" -> docB)
    val after1 = run()
    assert(after1 === Set(pair("a1", "a2")))

    // batch 2, after the retention window: neither content nor any of their
    // buckets has data, so by the end of this run every batch-1 state has
    // timed out and is evicted
    Thread.sleep(1500L)
    write("u" -> (0 until 120).map(i => s"other$i").mkString(" "))
    val after2 = run()
    assert(after2 === after1)

    // batch 3: both contents re-arrive under new keys. Evicted reps re-elect
    // (a retained rep would swallow them as exact dups), and the restarted
    // buckets pair them only with each other (retained buckets would also
    // pair them with a1 and a2)
    write("a3" -> docA, "a4" -> docB)
    val after3 = run()
    assert(after3 -- after2 === Set(pair("a3", "a4")))
  }

  test("bucket cap is prefix-emit with a sticky drop flag") {
    import spark.implicits._
    val rows = (1L to 5L).map(i => NearDupStream.BandRow(77L, i))
    val got = NearDupStream.bucketPairs(rows.toDS(), cap = 3).collect()
    // first 3 arrivals pair among themselves (3 choose 2), the cap-crossing
    // 4th and everything after emit nothing
    assert(got.length === 3)
    got.foreach { p =>
      assert(p.a_id < p.b_id)
      assert((1L to 5L).contains(p.a_id) && (1L to 5L).contains(p.b_id))
    }
  }
}
