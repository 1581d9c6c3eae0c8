package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Shingles
import graft.model.DedupConfig

/**
 * Stage 2 — near-duplicate candidate generation + verification (north_star):
 * 5-gram shingles → MinHash signatures → LSH band buckets → salted,
 * repartitioned candidate self-join → exact-Jaccard verify.
 *
 * Scale design (10⁹ rows):
 *  - shingle strings are hashed to 64-bit inside the scan projection — no
 *    string ever shuffles; a document's wire footprint is
 *    `k·8 (signature) + |shingles|·8` bytes;
 *  - the candidate join is an equi-join on `(band, band_hash)` after an
 *    explicit `repartition` on those keys (north_rule requirement);
 *  - hot buckets (empty files, license headers, boilerplate) are the skew
 *    killer: any bucket with more than `cfg.maxBucketSize` members would
 *    contribute O(m²) pairs, so the run scan counts each bucket's run
 *    in-stream and drops an over-cap run as a "stop bucket", the standard
 *    stop-shingle practice. Each drop reaches [[candidateIdPairs]]' `onDrop`
 *    with its run length (the pipeline's `candidates.dropped_*` metrics),
 *    never silently. Identical-content members of such buckets are still
 *    clustered by the exact stage, which is why dropping is safe for recall
 *    at the configured threshold;
 *  - per-pair verification re-checks exact Jaccard on the shingle sets, so
 *    LSH false positives never reach the cluster stage (precision 1.0; recall
 *    is controlled by (bands, rowsPerBand) — (64,2) puts the miss probability
 *    at threshold 0.6 below 1e-12).
 *
 * Expected input: a corpus DataFrame with `rkey` and `content` columns.
 */
object NearDup {

  /**
   * Content dedup in front of the similarity stages: one representative row
   * (minimum `rkey`) per distinct content. This is the structural skew fix —
   * a group of m identical files (license headers, empty files, vendored
   * code) would otherwise put m copies of the *same* signature into every
   * LSH band bucket, turning the bucket self-join into an O(m²) single-task
   * hotspot. After dedup the group is ONE row; exact-dup edges (stage 1)
   * restore full-cluster connectivity in stage 3. Pair outputs of the
   * similarity stages are therefore *content-representative* pairs.
   *
   * Every similarity input dedups this one way — the narrow key aggregate
   * ([[representativeKeys]]), a semi-join back, then its projection on
   * representatives only — with the semi-join picked by the three-argument
   * form. This one is the shuffle-hash semi: content crosses one exchange
   * (the probe side; never aggregated, never sorted).
   */
  def dedupedByContent(corpusK: DataFrame): DataFrame =
    corpusK.join(representativeKeys(corpusK).hint("SHUFFLE_HASH"), Seq("rkey"), "left_semi")

  /** [[dedupedByContent]] with the representative key set BROADCAST: the
   *  corpus side then never enters an exchange at all — the semi-filter and
   *  any downstream per-row projection stay in the scan stage, which is the
   *  shape that scales with cores (a shuffled semi-join moves the full
   *  content through the memory system once, and that bandwidth is shared
   *  across all cores of a local/executor host). */
  def dedupedByContentBroadcast(corpusK: DataFrame): DataFrame =
    corpusK.join(broadcast(representativeKeys(corpusK)), Seq("rkey"), "left_semi")

  /** The one join choice of the content dedup: the key set broadcasts while
   *  the corpus' `nRows` rows (a bound on the key set) fit
   *  `cfg.repBroadcastMaxRows`; past it the shuffle-hash semi runs. */
  def dedupedByContent(corpusK: DataFrame, nRows: Long, cfg: DedupConfig): DataFrame =
    if (nRows <= cfg.repBroadcastMaxRows) dedupedByContentBroadcast(corpusK)
    else dedupedByContent(corpusK)

  /** The join rule over one count of `corpusK` — the query operators' form
   *  (the pipeline passes its parquet metadata count instead). */
  def uniqRows(corpusK: DataFrame, cfg: DedupConfig): DataFrame =
    dedupedByContent(corpusK, corpusK.count(), cfg)

  /** Minimum `rkey` per distinct content — narrow columns only. */
  def representativeKeys(corpusK: DataFrame): DataFrame =
    corpusK
      .select(sha2(col("content").cast("binary"), 256).as("cid"), col("rkey"))
      .groupBy("cid").agg(min(col("rkey")).as("rkey"))
      .select("rkey")

  /** Shingle-hash projection as a column (public so the pipeline can fuse it
   *  with other per-row projections into ONE dedup pass). Backed by the
   *  native codegen expression over `Shingles.shingleHashes` (bit-identical;
   *  NativeExprSpec), so it stays inside whole-stage codegen with no UDF
   *  encoder boundary. */
  def shingleCol(content: Column, n: Int): Column =
    graft.functions.NativeExprs.shingleHashes(content, n)

  /** Per-document shingle sets `(rkey, shingles: array<long>, n_shingles)`
   *  over the content-distinct representatives ([[uniqRows]]), hashed on
   *  representatives only. Documents with no shingles (< n tokens) are
   *  dropped here — they cannot participate in Jaccard similarity. The
   *  projection is [[shingleCol]], so the hot per-row hash work stays inside
   *  whole-stage codegen. */
  def uniqShingleSets(corpusK: DataFrame, cfg: DedupConfig): DataFrame =
    uniqRows(corpusK, cfg)
      .select(col("rkey"), shingleCol(col("content"), cfg.shingleN).as("shingles"))
      .withColumn("n_shingles", size(col("shingles")))
      .where(col("n_shingles") > 0)

  /** MinHash signatures `(id, sig: array<long>[k])`, keyed by the 64-bit
   *  node id — native codegen expression (bit-identical to
   *  `Shingles.minhashSignature`; NativeExprSpec). */
  def signaturesById(shingles: DataFrame, cfg: DedupConfig): DataFrame =
    shingles.select(
      col("id"),
      graft.functions.NativeExprs.minhash(col("shingles"), cfg.minhashK).as("sig"))

  /**
   * Exploded LSH buckets `(id, band_hash)` — one row per (doc, band). The
   * band index is folded INTO the bucket hash (bandHashes seeds each band's
   * chain with its index), and the doc is its 64-bit node id: a bucket row
   * is 16 bytes on the wire instead of a 50+-byte (band, hash, key-string)
   * triple — at 10⁹ docs × 64 bands that is the difference between a 1 TB
   * and a 4 TB shuffle.
   */
  def bandedById(signatures: DataFrame, cfg: DedupConfig): DataFrame =
    signatures.select(
      col("id"),
      explode(graft.functions.NativeExprs.bandHashes(
        col("sig"), cfg.bands, cfg.rowsPerBand)).as("band_hash"))

  /** [[bandedById]] restricted to the contiguous band range `[bandLo, bandHi)`
   *  — a `slice` of the per-band hash array before the explode. Each band's
   *  index is folded into its hash (`Shingles.bandHashes` seeds every band's
   *  chain with its index), so slicing by position preserves the hashes:
   *  ranges PARTITION the exploded rows exactly, and no pair can span two
   *  ranges (a pair needs two rows in the SAME bucket, hence the same band). */
  def bandedByIdRange(signatures: DataFrame, cfg: DedupConfig,
                      bandLo: Int, bandHi: Int): DataFrame =
    signatures.select(
      col("id"),
      explode(slice(graft.functions.NativeExprs.bandHashes(
          col("sig"), cfg.bands, cfg.rowsPerBand),
        bandLo + 1, bandHi - bandLo)).as("band_hash"))

  /**
   * Distinct candidate id pairs `(a_id, b_id)`, `a_id < b_id`: the
   * [[graft.functions.BucketScan.bucketPairs]] run-scan over the band
   * buckets (ONE co-locating exchange, north_rule repartition; the cap is
   * enforced in-stream with bounded buffering), then a distinct over all
   * bands.
   *
   * The ids are `xxhash64(rkey)` — the SAME 64-bit node ids the cluster
   * stage keys its component graph by — so downstream verification and CC
   * consume these pairs with **no key join-back and no string shuffles**
   * (at 16 parallel cores the shuffle-write path is the measured scaling
   * limiter; every byte through it is shared-memory-system traffic). An id
   * collision can only *add* a candidate pair, which verification then
   * discards or, at worst, merges exactly as the hash-node cluster graph
   * would — the documented trade of the 64-bit node id space.
   */
  def candidateIdPairs(banded: DataFrame, cfg: DedupConfig,
                       onDrop: Long => Unit = _ => ()): DataFrame =
    candidateIdPairsRaw(banded, cfg, onDrop).distinct()

  /** [[candidateIdPairs]] WITHOUT the final distinct — the band-range driver
   *  unions its ranges' raw pair streams first and dedups ONCE (a pair found
   *  by bands in two different ranges would otherwise survive per-range
   *  distincts and double up in the union). */
  def candidateIdPairsRaw(banded: DataFrame, cfg: DedupConfig,
                          onDrop: Long => Unit = _ => ()): DataFrame =
    graft.functions.BucketScan.bucketPairs(banded, Seq("band_hash"), "id",
      cfg.maxBucketSize, onDrop).toDF("a_id", "b_id")

  /**
   * [[candidateIdPairs]] behind the singleton prune, as the pipeline runs
   * it. While the exploded band rows fit the prune window
   * (`cfg.pruneShardedMaxRows`, or always with `cfg.pruneSingletons` off)
   * this is ONE range: [[bandedById]] → `SeenTwice.pruneAuto` →
   * [[candidateIdPairs]], a lazy plan with nothing written under `rangeDir`.
   *
   * Past the window, bands are processed in contiguous RANGES so the prune
   * re-enters its effective-load window per range (BENCH/PROFILE_r05.md §3).
   * One pass over 10⁹ docs × 64 bands = 6.4×10¹⁰ exploded rows runs even the
   * 4 GB sharded sketch at load α ≈ 1.9 — cutting ~9% and rightly skipping
   * itself as saturated; 8 ranges of 8 bands run α ≈ 0.23 per range and cut
   * ~47% of EVERY range's rows before its exchange. Because ranges partition
   * the exploded rows (see [[bandedByIdRange]]):
   *  - the total sketch-build scan stays ONE pass over the exploded rows
   *    (each range explodes only its slice; the signatures table is re-read
   *    per range — a narrow columnar scan, the decisive trade in PROFILE §3),
   *  - no candidate pair can span two ranges, so the per-range raw pair
   *    streams union losslessly and dedup ONCE.
   *
   * Each range's pairs MATERIALIZE to `<rangeDir>/range_<i>` before the next
   * range's sketch is built: exactly one sketch broadcast is live at a time
   * (released as soon as its range lands), and a killed run resumes from
   * completed ranges. Range `i` is a [[graft.runtime.RunContext.materialize]]
   * under `"<key> <cfg> <i>/<nRanges>"`, so it restores only for the same
   * run key (the pipeline passes its input key), config and range count;
   * `range_*` dirs that are not a current range index are deleted first.
   * By design, `onDrop` accounting is skipped for restored ranges, so
   * dropped-bucket metrics undercount on a resumed run (the pairs themselves
   * are exact). The ranges are internal state of the candidates stage; the
   * caller still owns the stage-level checkpoint of the deduped union.
   *
   * The one-range plan's sketch broadcast is left to GC here; a caller that
   * materializes the plan itself frees it earlier through
   * [[candidateIdPairsBandRangedReleasable]].
   */
  def candidateIdPairsBandRanged(signatures: DataFrame, cfg: DedupConfig,
                                 rangeDir: String,
                                 onDrop: Long => Unit = _ => (),
                                 key: String = ""): DataFrame =
    candidateIdPairsBandRangedReleasable(signatures, cfg, rangeDir, onDrop, key)._1

  /** [[candidateIdPairsBandRanged]] plus the one-range plan's sketch release
   *  handle: call it once the returned plan has been materialized (a no-op
   *  past one range, where every range released its own sketch already). */
  def candidateIdPairsBandRangedReleasable(signatures: DataFrame, cfg: DedupConfig,
                                           rangeDir: String,
                                           onDrop: Long => Unit = _ => (),
                                           key: String = "")
      : (DataFrame, () => Unit) = {
    val spark = signatures.sparkSession
    val sigRows = signatures.count()
    val bandRows = sigRows * cfg.bands
    val nRanges =
      if (!cfg.pruneSingletons) 1
      else math.min(cfg.bands.toLong,
        math.max(1L, (bandRows + cfg.pruneShardedMaxRows - 1) / cfg.pruneShardedMaxRows)).toInt
    // range dirs past the current count are orphans (one range writes none)
    val live = if (nRanges == 1) Set.empty[String] else (0 until nRanges).map(r => s"range_$r").toSet
    val dir = new org.apache.hadoop.fs.Path(rangeDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Option(fs.globStatus(new org.apache.hadoop.fs.Path(dir, "range_*"))).toSeq.flatten
      .map(_.getPath).filterNot(p => live(p.getName)).foreach(fs.delete(_, true))
    if (nRanges == 1) {
      val (pruned, release) = graft.functions.SeenTwice.pruneAuto(
        bandedById(signatures, cfg), "band_hash", bandRows, cfg)
      return (candidateIdPairs(pruned, cfg, onDrop), release)
    }
    val ranges = (0 until nRanges).map { r =>
      val lo = r * cfg.bands / nRanges
      val hi = (r + 1) * cfg.bands / nRanges
      val t0 = System.nanoTime()
      var release: () => Unit = () => ()
      val (df, restored) =
        try graft.runtime.RunContext.materialize(spark, s"$rangeDir/range_$r",
            s"$key $cfg $r/$nRanges") {
          val (pruned, rel) = graft.functions.SeenTwice.pruneAuto(
            bandedByIdRange(signatures, cfg, lo, hi), "band_hash", sigRows * (hi - lo), cfg)
          release = rel
          candidateIdPairsRaw(pruned, cfg, onDrop)
        } finally release()
      if (restored) System.err.println(
        s"[graft.stage] candidates range $r/$nRanges restored from checkpoint")
      else System.err.println(f"[graft.stage] candidates range $r/$nRanges " +
        f"(bands $lo..${hi - 1}) ${(System.nanoTime() - t0) / 1e9}%.1f s")
      df
    }
    (ranges.reduce(_ union _).distinct(), () => ())
  }

  /**
   * Verified near-dup pairs: exact Jaccard over the shingle sets, keeping
   * pairs at or above `cfg.jaccardThreshold`. Output:
   * `(a_key, b_key, n_intersect, n_union, jaccard)`. The pair code is the
   * pipeline's own id-space chain — [[signaturesById]] → [[bandedById]] →
   * [[candidateIdPairs]] → [[verifyCandidatesById]] — with row keys joined
   * back once at the end ([[withRowKeys]]). `candidates`, distinct
   * `(a_id, b_id)` node-id pairs, replaces the LSH candidates (the streaming
   * query passes its own); the shingle table is still built once, read by
   * the verify and by both name lookups.
   *
   * Persist scoping (round-2 leak fix): with `register = None` (the default,
   * ad-hoc/oracle use) the internal persists are SCOPED — the result is
   * materialized eagerly (localCheckpoint) and every cache entry released
   * before returning, so repeated invocations in a long session leave
   * nothing behind (PersistHygieneSpec). A caller managing its own stage
   * lifecycle (the checkpointed pipeline, plan-inspection specs) passes
   * `register = Some(f)`: persists are handed to `f` and the returned plan
   * stays lazy; the caller unpersists (RunContext.cleanup()).
   */
  def verifiedPairs(corpusK: DataFrame, cfg: DedupConfig,
                    register: Option[DataFrame => Unit] = None,
                    candidates: Option[DataFrame] = None): DataFrame = {
    val scoped = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val reg = register.getOrElse((df: DataFrame) => { scoped += df; () })
    val sh = uniqShingleSets(corpusK, cfg)
      .select(xxhash64(col("rkey")).as("id"), col("rkey"), col("shingles"), col("n_shingles"))
      // Reused by the signature build, the verify joins and the key
      // join-back: cache at test scale (the pipeline passes its
      // checkpointed stages to the id-space operators instead).
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    reg(sh)
    val byId = sh.select("id", "shingles", "n_shingles")
    val cand = candidates.getOrElse(
      candidateIdPairs(bandedById(signaturesById(byId, cfg), cfg), cfg))
    val out = withRowKeys(verifyCandidatesById(cand, byId, cfg, Some(reg)), sh.select("id", "rkey"))
    if (register.isDefined) out
    else try out.localCheckpoint() finally scoped.foreach(_.unpersist(false))
  }

  /**
   * The one boundary from id pairs back to row keys: `aId`/`bId` (64-bit
   * node ids) become `(a_key, b_key)` through `names: (id, rkey)`, smaller
   * key first in binary collation (id order is not key order); every other
   * column passes through. `names` is one row per content representative
   * and broadcasts.
   */
  def withRowKeys(pairs: DataFrame, names: DataFrame,
                  aId: String = "a_id", bId: String = "b_id"): DataFrame = {
    val rest = pairs.columns.filterNot(c => c == aId || c == bId).map(col)
    pairs
      .join(broadcast(names.toDF("_a", "_ka")), col(aId) === col("_a"))
      .join(broadcast(names.toDF("_b", "_kb")), col(bId) === col("_b"))
      .select(Seq(least(col("_ka"), col("_kb")).as("a_key"),
        greatest(col("_ka"), col("_kb")).as("b_key")) ++ rest: _*)
  }

  /** Exact-Jaccard verification in id space: candidates are `(a_id, b_id)`
   *  from [[candidateIdPairs]], shingle sets are keyed by `id` — no string
   *  key ever enters an exchange. Output
   *  `(a_id, b_id, n_intersect, n_union, jaccard)`, keeping pairs at or
   *  above `cfg.jaccardThreshold`. Member fetch and persist scoping are
   *  [[PairVerify.verify]]'s. */
  def verifyCandidatesById(cand: DataFrame, sh: DataFrame, cfg: DedupConfig,
                           register: Option[DataFrame => Unit] = None): DataFrame =
    PairVerify.verify(cand, "a_id", "b_id", sh.select("id", "shingles", "n_shingles"), "id",
      register)(jaccardAtLeast(cfg.jaccardThreshold))

  /** The near-dup exact test over [[PairVerify.verify]]'s joined pairs. */
  private[graft] def jaccardAtLeast(threshold: Double)(j: DataFrame): DataFrame =
    j.withColumn("n_intersect",
        graft.functions.NativeExprs.longIntersect(col("a_shingles"), col("b_shingles")))
      .withColumn("n_union", (col("a_n_shingles") + col("b_n_shingles") - col("n_intersect")).cast("long"))
      .withColumn("jaccard", col("n_intersect").cast("double") / col("n_union"))
      .where(col("jaccard") >= threshold)
      .select("a_id", "b_id", "n_intersect", "n_union", "jaccard")

  /** SimHash `(rkey, simhash)` over content-distinct representatives
   *  ([[uniqRows]]), using the md5-derived token bits
   *  ([[Shingles.simhashMd5]]) so an ANSI-SQL oracle can replay the exact
   *  sketch (q08's DuckDB oracle). */
  def uniqSimhashesMd5(corpusK: DataFrame, cfg: DedupConfig = DedupConfig()): DataFrame = {
    val simUdf = udf((c: String) => Shingles.simhashMd5(c))
    uniqRows(corpusK, cfg).select(col("rkey"), simUdf(col("content")).as("simhash"))
  }

  /**
   * SimHash near-dup pairs `(a_key, b_key, hamming)` at Hamming distance ≤
   * `maxDist`, found by the block-permutation trick (Manku et al., WWW'07):
   * split the 64-bit sketch into `maxDist + 1` blocks — any pair within
   * distance `maxDist` matches exactly on at least one block (pigeonhole).
   * Blocks pair through [[graft.functions.BucketScan.bucketPairs]] keyed by
   * `(rkey, simhash)`, so each pair carries both sketches for `bit_count`.
   * A block value over `maxBlockSize` documents is dropped (the LSH stop-
   * bucket rule); the result is materialized, then the drops reach
   * `onDrop` once as (blocks, member rows).
   */
  def simhashPairs(simhashes: DataFrame, maxDist: Int = 3, maxBlockSize: Int = 65536,
                   onDrop: (Long, Long) => Unit = (_, _) => ()): DataFrame = {
    val blocks = maxDist + 1
    val width = 64 / blocks
    val blocked = simhashes.select(
      struct(col("rkey"), col("simhash")).as("sh"),
      posexplode(array((0 until blocks).map { i =>
        shiftrightunsigned(col("simhash"), i * width)
          .bitwiseAND(lit((1L << width) - 1))
      }: _*)).as(Seq("block", "block_value")))
    val sc = simhashes.sparkSession.sparkContext
    val dropsB = sc.longAccumulator
    val dropsR = sc.longAccumulator
    val out = graft.functions.BucketScan.bucketPairs(blocked, Seq("block", "block_value"), "sh",
        maxBlockSize, n => { dropsB.add(1L); dropsR.add(n) })
      .select(col("a_key.rkey").as("a_key"), col("b_key.rkey").as("b_key"),
        bit_count(col("a_key.simhash").bitwiseXOR(col("b_key.simhash"))).cast("long").as("hamming"))
      .where(col("hamming") <= maxDist)
      .distinct()
      .localCheckpoint()
    if (dropsB.value > 0) onDrop(dropsB.value, dropsR.value)
    out
  }
}
