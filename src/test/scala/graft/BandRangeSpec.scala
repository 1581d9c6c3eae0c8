package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.corpus.Corpus
import graft.model.DedupConfig
import graft.operators.NearDup
import graft.runtime.RunContext

/** The band-RANGE candidate regime (BENCH/PROFILE_r05.md §3): past even the
 *  sharded sketch's load window, bands are processed in contiguous ranges —
 *  each re-entering the effective prune window, one sketch live at a time,
 *  per-range checkpoints. The contracts under test: ranges PARTITION the
 *  exploded band rows, the unioned pair set is IDENTICAL to the single-pass
 *  path, completed ranges restore instead of recomputing (and only under
 *  their own key), and the pipeline's third regime routes through it
 *  end-to-end with unchanged near-pairs. */
class BandRangeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft_brange").toString

  private val forced = DedupConfig(pruneMinRows = 1L, pruneMaxRows = 1024L,
    pruneShardedMaxRows = 2048L)

  private def rangeDirs(dir: String): Array[java.io.File] =
    new java.io.File(dir).listFiles().filter(_.getName.startsWith("range_"))

  private def sigsOf(n: Int, cfg: DedupConfig) = {
    val corpusK = graft.operators.ExactDedup.validRows(
        Corpus.synthetic(spark, n, seed = 17L).toDF())
      .withColumn("rkey", graft.operators.ExactDedup.rkey)
    val uniq = NearDup.dedupedByContentBroadcast(corpusK)
      .select(xxhash64(col("rkey")).as("id"),
        NearDup.shingleCol(col("content"), cfg.shingleN).as("shingles"))
    NearDup.signaturesById(
      uniq.select(col("id"), col("shingles"), size(col("shingles")).as("n_shingles"))
        .where(col("n_shingles") > 0), cfg).persist()
  }

  test("band-range slices partition the exploded band rows exactly") {
    val cfg = DedupConfig()
    val sigs = sigsOf(120, cfg)
    try {
      val whole = NearDup.bandedById(sigs, cfg).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val cuts = Seq(0, 7, 13, 40, cfg.bands) // deliberately uneven ranges
      val sliced = cuts.sliding(2).flatMap { case Seq(lo, hi) =>
        NearDup.bandedByIdRange(sigs, cfg, lo, hi).collect()
          .map(r => (r.getLong(0), r.getLong(1)))
      }.toSeq.sorted
      assert(whole.nonEmpty && sliced === whole)
    } finally sigs.unpersist()
  }

  test("ranged candidate pairs = single-pass candidate pairs; >1 range forced; resume restores") {
    // force the third regime at toy scale: ~166 reps x 64 bands ≈ 10.6k rows
    // over a 2048-row sharded cap ⇒ 6 ranges; prune active per range
    val cfg = forced
    val sigs = sigsOf(220, cfg)
    try {
      def pairSet(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val single = pairSet(NearDup.candidateIdPairs(NearDup.bandedById(sigs, cfg), cfg))
      val dir = tmpDir()
      val ranged = pairSet(NearDup.candidateIdPairsBandRanged(sigs, cfg, dir))
      assert(single.nonEmpty && ranged === single)

      // more than one range actually ran (the regime is real, not degenerate)
      val ranges = rangeDirs(dir)
      assert(ranges.length > 1, s"expected >1 range, got ${ranges.length}")

      // resume: completed ranges restore — parquet mtimes must not change
      val stamps = ranges.map(d => d.getName -> d.lastModified()).toMap
      val again = pairSet(NearDup.candidateIdPairsBandRanged(sigs, cfg, dir))
      assert(again === single)
      ranges.foreach(d =>
        assert(d.lastModified() === stamps(d.getName), s"${d.getName} recomputed"))

      // partial resume: one range's marker removed ⇒ only that range recomputes
      val victim = ranges.head
      assert(new java.io.File(victim, "_SUCCESS").delete())
      val after = pairSet(NearDup.candidateIdPairsBandRanged(sigs, cfg, dir))
      assert(after === single)

      // geometry change in the SAME runDir (round-5 ADVICE): a config that
      // yields a DIFFERENT range count must not restore the stale slices —
      // each range's manifest holds the config and `i/nRanges`, so
      // mismatched geometry recomputes and the pair set stays exact instead
      // of silently losing candidates; the stale ranges past the new count
      // are deleted, not left to leak
      val cfgFewer = cfg.copy(pruneShardedMaxRows = 4096L)
      val ranged2 = pairSet(NearDup.candidateIdPairsBandRanged(sigs, cfgFewer, dir))
      assert(ranged2 === single)
      val left = rangeDirs(dir)
      val n2 = left.length
      assert(n2 > 1 && n2 < ranges.length, s"expected fewer ranges, got $n2")
      assert(left.map(_.getName).toSet === (0 until n2).map(i => s"range_$i").toSet,
        s"expected only the current ranges to remain, got ${left.map(_.getName).toSeq}")
      left.foreach { d =>
        val i = d.getName.stripPrefix("range_").toInt
        val manifest = new String(java.nio.file.Files.readAllBytes(
          new java.io.File(d, "_MANIFEST").toPath), "UTF-8")
        assert(manifest === s" $cfgFewer $i/$n2")
      }
    } finally sigs.unpersist()
  }

  test("pipeline third regime (band-ranged candidates) yields the default near-pair set") {
    val corpus = Corpus.synthetic(spark, 200, seed = 17L).toDF()
    val (dirBase, dirForced) = (tmpDir(), tmpDir())
    val base = Pipeline.run(RunContext(spark, dirBase), corpus)
    val forcedRun = Pipeline.run(RunContext(spark, dirForced), corpus, forced)
    // the forced run actually took the ranged path (internal range checkpoints)
    assert(new java.io.File(s"$dirForced/candidates_ranges").listFiles()
      .count(_.getName.startsWith("range_")) > 1)
    assert(!new java.io.File(s"$dirBase/candidates_ranges").exists())
    def pairs(runDir: String) =
      spark.read.parquet(s"$runDir/near_pairs")
        .select("a_id", "b_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(dirBase).nonEmpty)
    assert(pairs(dirForced) === pairs(dirBase))
    assert(forcedRun.clusters.collect().map(_.toString).sorted
      === base.clusters.collect().map(_.toString).sorted)
  }

  test("pipeline third regime: a same-size content change in a reused run dir recomputes the ranges") {
    import spark.implicits._
    val input = s"${tmpDir()}/corpus"
    val rows = Corpus.synthetic(spark, 200, seed = 17L).collect().toSeq
    rows.toDF().write.parquet(input)
    val dir = tmpDir()
    Pipeline.run(RunContext(spark, dir), spark.read.parquet(input), forced).clusters.count()
    val nRanges = rangeDirs(s"$dir/candidates_ranges").length
    assert(nRanges > 1)

    // every content moves to the next row's key: the same rows and the same
    // multiset of contents (so the same signature count and range count),
    // but other candidate pairs
    rows.indices.map(i => rows(i).copy(content = rows((i + 1) % rows.size).content))
      .toDF().write.mode("overwrite").parquet(input)
    val corpus = spark.read.parquet(input)
    val fresh = tmpDir()
    Pipeline.run(RunContext(spark, dir), corpus, forced).clusters.count()
    Pipeline.run(RunContext(spark, fresh), corpus, forced).clusters.count()
    assert(rangeDirs(s"$dir/candidates_ranges").length === nRanges)
    def nearPairs(runDir: String) =
      spark.read.parquet(s"$runDir/near_pairs").collect().map(_.toString).sorted.toSeq
    assert(nearPairs(fresh).nonEmpty)
    assert(nearPairs(dir) === nearPairs(fresh))
  }
}
