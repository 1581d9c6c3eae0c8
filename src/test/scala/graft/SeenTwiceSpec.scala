package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.corpus.Corpus
import graft.functions.SeenTwice
import graft.model.DedupConfig
import graft.operators.{NearDup, Substring}
import graft.runtime.RunContext

/** The singleton-bucket pruner: superset guarantee of the bitset sketch,
 *  cross-partition merge correctness, codegen'd filter, and — the contract
 *  that matters — pair-set parity of the pruned exchanges. */
class SeenTwiceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("sketch marks every value seen >= 2 times, across partition boundaries") {
    import spark.implicits._
    // dups deliberately land in DIFFERENT partitions: the once/twice overlap
    // term (o1 & o2) of the merge is what must catch them
    val singles = (0L until 5000L).map(i => i * 2654435761L)
    val dups = (0L until 200L).map(i => i * 40503L + 7L)
    val df = (singles ++ dups).toDF("h").repartition(7)
      .union(dups.toDF("h").repartition(3))
    val log2m = SeenTwice.autoLog2m(singles.size + 2L * dups.size)
    val bits = SeenTwice.sketch(df, "h", log2m)
    dups.foreach(h => assert(SeenTwice.contains(bits, log2m, 0, h), s"dup $h lost"))
    // sized at load <= 0.25, far fewer than half the singletons false-keep
    val fp = singles.count(h => SeenTwice.contains(bits, log2m, 0, h))
    assert(fp < singles.size / 2, s"$fp of ${singles.size} singletons marked")
  }

  test("prune keeps all multi-bucket rows and the filter is codegen-native") {
    // spark.range (a real source, not a LocalRelation — the optimizer folds
    // filters over local relations away, hiding the plan shape under test):
    // ids 0-2999 singleton buckets; 3000-3099 pair up into 50 shared buckets
    val df = spark.range(0, 3100).select(col("id"),
      when(col("id") < 3000, col("id") * 31L)
        .otherwise((col("id") % 50L) * 5L).as("bucket"))
    val pruned = SeenTwice.prune(df, "bucket", 20)
    val kept = pruned.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (3000L until 3100L).foreach { i =>
      assert(kept.contains((i, (i % 50L) * 5L)), s"multi-bucket row $i lost")
    }
    // the sketch filter runs inside WholeStageCodegen, not as a ScalaUDF
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("graft_seen_twice"))
    assert(!plan.contains("UDF"))
  }

  test("candidate pairs and gram pairs are IDENTICAL with and without the prune") {
    val cfg = DedupConfig()
    val corpusK = graft.operators.ExactDedup.validRows(
        Corpus.synthetic(spark, 400, seed = 11L).toDF())
      .withColumn("rkey", graft.operators.ExactDedup.rkey)
    val uniq = NearDup.dedupedByContentBroadcast(corpusK)
      .select(xxhash64(col("rkey")).as("id"),
        NearDup.shingleCol(col("content"), cfg.shingleN).as("shingles"),
        Substring.rollingCol(col("content"), cfg.gramWidth, cfg.sampleMask).as("grams"))
      .persist()
    uniq.count()
    try {
      val sigs = NearDup.signaturesById(
        uniq.select(col("id"), col("shingles"), size(col("shingles")).as("n_shingles"))
          .where(col("n_shingles") > 0), cfg)
      val banded = NearDup.bandedById(sigs, cfg).persist()
      val nBand = banded.count()
      def pairSet(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val raw = pairSet(NearDup.candidateIdPairs(banded, cfg))
      val viaPrune = pairSet(NearDup.candidateIdPairs(
        SeenTwice.prune(banded, "band_hash", SeenTwice.autoLog2m(nBand)), cfg))
      assert(raw.nonEmpty && viaPrune === raw)

      val gramDf = uniq.select(col("id"), explode(col("grams")).as("gram")).persist()
      val nGram = gramDf.count()
      def gramPairSet(df: org.apache.spark.sql.DataFrame) =
        Substring.gramPairs(df, cfg.minSharedGrams, cfg.maxBucketSize)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val rawG = gramPairSet(gramDf)
      val prunedG = gramPairSet(
        SeenTwice.prune(gramDf, "gram", SeenTwice.autoLog2m(nGram)))
      assert(rawG.nonEmpty && prunedG === rawG)
      banded.unpersist(); gramDf.unpersist()
    } finally uniq.unpersist()
  }

  test("sharded sketch keep set is IDENTICAL to a monolithic sketch over the same slot space") {
    // the sharded global slot (shard = top bits, slot = low bits) is the
    // SAME bit range of the mixed hash as a monolithic sketch of
    // log2mShard + shardBits total bits — so keep/drop must agree row-for-row
    val df = spark.range(0, 3100).select(col("id"),
      when(col("id") < 3000, col("id") * 31L)
        .otherwise((col("id") % 50L) * 5L).as("bucket"))
    def kept(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mono = kept(SeenTwice.prune(df, "bucket", 14))
    val sharded = kept(SeenTwice.pruneSharded(df, "bucket", 11, 3))
    assert(sharded === mono)
    // every multi-bucket row survived
    (3000L until 3100L).foreach { i =>
      assert(sharded.contains((i, (i % 50L) * 5L)), s"multi-bucket row $i lost")
    }
    // and the sharded filter is codegen-native too
    val plan = SeenTwice.pruneSharded(df, "bucket", 11, 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_seen_twice_sharded"))
    assert(!plan.contains("UDF"))
  }

  test("sharded prune: duplicates landing in different build shards' partials survive the shard-keyed merge") {
    import spark.implicits._
    // 300 dup values scattered across 11 input partitions; the per-shard
    // reduceByKey merge must catch a value whose two sightings were built
    // by DIFFERENT tasks of the SAME shard (the o1 & o2 overlap term)
    val dups = (0L until 300L).map(i => i * 40503L + 7L)
    val singles = (0L until 20000L).map(i => i * 2654435761L + 1L)
    val df = (singles ++ dups ++ dups).toDF("h").repartition(11)
    val bits = SeenTwice.sketch(df, "h", 12, 4, subSplit = 3)
    dups.foreach { h =>
      assert(SeenTwice.contains(bits, 12, 4, h), s"dup $h lost")
    }
    val fp = singles.count(h => SeenTwice.contains(bits, 12, 4, h))
    assert(fp < singles.size / 2, s"$fp of ${singles.size} singletons marked")
  }

  test("candidate pairs are IDENTICAL through the sharded prune") {
    val cfg = DedupConfig()
    val corpusK = graft.operators.ExactDedup.validRows(
        Corpus.synthetic(spark, 400, seed = 13L).toDF())
      .withColumn("rkey", graft.operators.ExactDedup.rkey)
    val uniq = NearDup.dedupedByContentBroadcast(corpusK)
      .select(xxhash64(col("rkey")).as("id"),
        NearDup.shingleCol(col("content"), cfg.shingleN).as("shingles"))
      .persist()
    try {
      val sigs = NearDup.signaturesById(
        uniq.select(col("id"), col("shingles"), size(col("shingles")).as("n_shingles"))
          .where(col("n_shingles") > 0), cfg)
      val banded = NearDup.bandedById(sigs, cfg).persist()
      banded.count()
      def pairSet(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val raw = pairSet(NearDup.candidateIdPairs(banded, cfg))
      val viaSharded = pairSet(NearDup.candidateIdPairs(
        SeenTwice.pruneSharded(banded, "band_hash", 16, 4), cfg))
      assert(raw.nonEmpty && viaSharded === raw)
      banded.unpersist()
    } finally uniq.unpersist()
  }

  test("saturated sketch skips the filter and passes every row through") {
    // 2^6 = 64 slots for 5000 distinct values: load ≈ 78 — every slot marks,
    // the ratio check must refuse to ship the (useless) filter
    val df = spark.range(0, 5000).select(col("id"), (col("id") * 31L).as("bucket"))
    val pruned = SeenTwice.prune(df, "bucket", 6)
    assert(pruned.count() === 5000L)
    // pass-through: no sketch filter in the plan at all
    assert(!pruned.queryExecution.executedPlan.toString.contains("graft_seen_twice"))
  }

  test("end-to-end pipeline result is unchanged by the prune flag") {
    def tmp() = java.nio.file.Files.createTempDirectory("graft_st").toString
    val corpus = Corpus.synthetic(spark, 350, seed = 12L).toDF()
    def rows(cfg: DedupConfig) =
      Pipeline.run(RunContext(spark, tmp()), corpus, cfg)
        .clusters.collect().map(_.toString).sorted.toSeq
    val unpruned = rows(DedupConfig(pruneSingletons = false))
    // one shard, then (pruneMaxRows under the row count) pruneAuto's sharded
    // branch on both the band and the gram side
    assert(rows(DedupConfig(pruneSingletons = true, pruneMinRows = 0L)) === unpruned)
    assert(rows(DedupConfig(pruneSingletons = true, pruneMinRows = 0L,
      pruneMaxRows = 1024L)) === unpruned)
  }
}
