package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.model.DedupConfig
import graft.operators.{Clustering, ExactDedup, NearDup, Substring}
import graft.runtime.RunContext

/**
 * The end-to-end dedup job (north_star): corpus → exact snapshot → MinHash/
 * LSH near-dup pairs → substring pairs → connected-components cluster table,
 * every stage checkpointed through [[graft.runtime.RunContext]] (resumable)
 * and instrumented with per-partition lineage metrics; the metrics table
 * also holds the run's codegen compile count, `find.codegen_compiles`. Every materialized
 * stage and band range restores under one key, [[RunContext.inputKey]] of
 * the code version, corpus and config, so a run dir reused over changed
 * code, corpus or config recomputes instead of restoring.
 *
 * Stage graph (each node a materialized parquet stage):
 *
 *   corpus ─→ snapshot ─────────────────────────┐
 *   corpus ─→ signatures ─→ candidates ─→ near_pairs ─┼─→ clusters
 *   corpus ─→ substring_pairs ──────────────────┘
 *
 * This is also the benchmark workload: files/sec is measured over a full run.
 */
object Pipeline {

  case class Result(snapshot: DataFrame, clusters: DataFrame, metrics: DataFrame)

  def run(ctx: RunContext, corpus: DataFrame, cfg: DedupConfig = DedupConfig()): Result = {
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val corpusK = ExactDedup.validRows(corpus).withColumn("rkey", ExactDedup.rkey)
    val key = RunContext.inputKey(corpus, cfg)

    // The three edge-producing branches are independent given the scan:
    // submit them CONCURRENTLY (Spark schedules independent jobs onto idle
    // cores). This overlaps each branch's serial segments — driver planning,
    // commit protocol, small-shuffle rounds — with another branch's parallel
    // compute; on a wide cluster (or the local[4N] arm) those serial
    // segments are the Amdahl tax that a higher core count cannot shrink.
    // On the saturated low-parallelism arm the overlap changes little, which
    // is exactly the point: it converts idle-core time into work.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global

    // A stage whose body builds a singleton-prune sketch: the sketch's
    // broadcast is released as soon as the stage has landed (its output is
    // then read back from parquet, so nothing re-executes the filter).
    def prunedStage(name: String)(body: => (DataFrame, () => Unit)): DataFrame = {
      var release: () => Unit = () => ()
      val out = ctx.stage(name, key = key) { val (df, r) = body; release = r; df }
      release()
      out
    }

    // Stage 1 — the exact snapshot. The hash projection is inlined (content
    // is dropped inside the scan stage; nothing here is reused elsewhere, so
    // persisting it would only burn cache-fill bandwidth).
    val fSnapshot = Future {
      ctx.stage("snapshot", key = key) { ExactDedup.snapshot(ExactDedup.withHashes(corpus, cfg.quick)) }
    }

    // Similarity runs on distinct content only (structural skew fix). The
    // dedup itself is the NARROW shape every similarity input uses —
    // `(cid → min rkey)` aggregate + a semi-join back — and EVERY similarity
    // projection (shingle hashes AND rolling-gram fingerprints) is then
    // computed ONCE, on representatives only, straight into the shared
    // cache. While the corpus fits `repBroadcastMaxRows`, the key set
    // BROADCASTS so the content side never enters an exchange (the
    // semi-filter + projections stay in the scan stage — the shape that
    // scales with cores); past it the shuffle-hash semi runs instead
    // (`NearDup.dedupedByContent`'s rule). Two measured dead ends recorded here:
    // (a) per-branch dedup aggs contend for execution memory at high thread
    // counts (16 threads ran *slower* than 4); (b) fusing the projections
    // into the dedup via `first(struct(arrays))` forces ObjectHashAggregate's
    // sort-based fallback over wide array rows — same inversion. Exact-group
    // edges restore full-cluster connectivity in stage 3.
    // The interior of the pipeline is keyed by `id = xxhash64(rkey)` — the
    // same 64-bit node ids the cluster stage labels components with. Strings
    // appear only at the boundary tables (snapshot, members, cluster table);
    // every pair exchange, verify join and gram/band shuffle moves 8-byte
    // ids (the 4→16-core profile put the scaling loss squarely on shuffle
    // bytes through the shared memory system).
    val nCorpusRows = corpus.count() // parquet metadata count — no scan
    val uniq = ctx.stage("uniq", materialize = false) {
      NearDup.dedupedByContent(corpusK, nCorpusRows, cfg).select(xxhash64(col("rkey")).as("id"),
        NearDup.shingleCol(col("content"), cfg.shingleN).as("shingles"),
        Substring.rollingCol(col("content"), cfg.gramWidth, cfg.sampleMask).as("grams"))
    }
    // Materialize the shared cache BEFORE forking: two branches racing on a
    // cold cached plan would each compute the full subtree (cache fills are
    // not coordinated across concurrent jobs).
    val tUniq = System.nanoTime()
    uniq.count()
    System.err.println(f"[graft.stage] uniq ${(System.nanoTime() - tUniq) / 1e9}%.1f s")

    val fNearPairs = Future {
      val shingles = ctx.stage("shingles", materialize = false, persist = false) {
        uniq.select(col("id"), col("shingles"), size(col("shingles")).as("n_shingles"))
          .where(col("n_shingles") > 0)
      }
      val signatures = ctx.stage("signatures", key = key) { NearDup.signaturesById(shingles, cfg) }
      // candidate state checkpointed separately (north_rule) — and the banded
      // subtree (sig explode + bucket counts + semi-join + self-join) runs once
      // instead of once per downstream consumer.
      // Skew drops are COUNTED in-stream (BucketScan onDrop → accumulators)
      // and surfaced as metrics rows — "cap skewed buckets, report them,
      // never silently" (north_rule) at zero extra pass cost.
      val dropsB = ctx.spark.sparkContext.longAccumulator("graft.candidates.dropped_buckets")
      val dropsR = ctx.spark.sparkContext.longAccumulator("graft.candidates.dropped_members")
      val candidates = prunedStage("candidates") {
        // Singleton-bucket prune (SeenTwice): on a mostly-unique corpus most
        // of the ~docs×bands band rows sit alone in their bucket and can
        // never pair — dropping them BEFORE the exchange converts the most
        // bandwidth-bound sort in the profile into a fraction of itself, at
        // the price of one perfectly-parallel extra scan. Exact (see
        // SeenTwice scaladoc + SeenTwiceSpec pair-set parity). Past the
        // sketch's window the driver splits the bands into ranges, each
        // checkpointed under `candidates_ranges`.
        NearDup.candidateIdPairsBandRangedReleasable(signatures, cfg,
          s"${ctx.runDir}/candidates_ranges",
          n => { dropsB.add(1L); dropsR.add(n) }, key)
      }
      ctx.metrics.record("candidates.dropped_buckets", dropsB.value)
      ctx.metrics.record("candidates.dropped_members", dropsR.value)
      if (dropsB.value > 0)
        System.err.println(s"[graft.skew] candidates: ${dropsB.value} hot LSH buckets " +
          s"(${dropsR.value} member rows) over cap ${cfg.maxBucketSize} — dropped, exact stage covers their identical members")
      ctx.stage("near_pairs", key = key) {
        NearDup.verifyCandidatesById(candidates, shingles, cfg,
          register = Some(ctx.registerPersist))
      }
    }

    val fSubPairs = Future {
      // Substring edges feed clustering only after byte-exact verification —
      // a gram coincidence or hash collision must not merge clusters. The
      // verify pass fetches content for candidate members straight from the
      // scan (semi-join on the bounded pair-id set), keyed by node id.
      // Measured dead end: splitting gramPairs into its own parquet stage
      // (near-branch symmetry) ran ~2-4 s SLOWER at 16 threads — the
      // write+read barrier exceeds the persist-subtree overhead it removes.
      val dropsG = ctx.spark.sparkContext.longAccumulator("graft.substring.dropped_grams")
      val out = prunedStage("substring_pairs") {
        // Same singleton prune as the candidates stage, over the sampled
        // gram fingerprints (the 4-thread arm's critical-path sort). Row
        // count estimated (code-like docs ≈ 700 chars at 1/64 sampling ⇒
        // ~10 grams/doc — measured 22.5M grams at 2.3M reps); the estimate
        // only moves the sketch's false-keep rate, never correctness, but
        // OVERsizing it quadruples the bitset-merge bytes for nothing.
        // An UNDERsized sketch (longer-doc corpus blowing past the
        // estimate) self-corrects: the prune reads the marked-slot ratio
        // off the finished sketch and skips the filter when saturated
        // (round-4 ADVICE), so the worst case is one wasted scan, never
        // a useless filter pass on top of it.
        val gramDf = uniq.select(col("id"), explode(col("grams")).as("gram"))
        val (gramsPruned, release) =
          graft.functions.SeenTwice.pruneAuto(gramDf, "gram", nCorpusRows * 10, cfg)
        (Substring.verifiedSubstringPairs(
          Substring.gramPairs(gramsPruned,
            cfg.minSharedGrams, cfg.maxBucketSize, n => dropsG.add(n)),
          corpusK.select(xxhash64(col("rkey")).as("rkey"), col("content")), cfg.gramWidth,
          register = Some(ctx.registerPersist)), release)
      }
      ctx.metrics.record("substring_pairs.dropped_gram_rows", dropsG.value)
      if (dropsG.value > 0)
        System.err.println(s"[graft.skew] substring: ${dropsG.value} gram rows in hot " +
          s"buckets over cap ${cfg.maxBucketSize} — dropped (boilerplate grams), reported here")
      out
    }

    val snapshot = Await.result(fSnapshot, Duration.Inf)
    val nearPairs = Await.result(fNearPairs, Duration.Inf)
    val subPairs = Await.result(fSubPairs, Duration.Inf)
    val clusters = ctx.stage("clusters", key = key) {
      // Exact-dup groups enter as a MAPPING (member → keeper), not as edges:
      // CC iterates over the representative-level similarity graph only —
      // orders of magnitude fewer edges on a duplicate-heavy corpus, and a
      // 10⁶-member boilerplate group costs one join row per member instead
      // of 10⁶ star edges in every CC round.
      val baseRep = snapshot.select(col("rkey"),
        coalesce(col("symlink_source"), col("rkey")).as("rep0"))
      // Near-dup pairs come id-keyed (a_id, b_id); substring pairs carry the
      // same ids under the generic (a_key, b_key) names — both are already
      // cluster node ids, no hashing or join-back needed downstream.
      val repPairs = nearPairs.select(col("a_id").as("src"), col("b_id").as("dst"))
        .union(subPairs.select(col("a_key").as("src"), col("b_key").as("dst")))
      // Narrow key columns straight from the scan (column pruning — no hash
      // recompute, no cache): membership needs no content or hashes.
      val members = corpusK.select("rkey", "repo", "path", "commit")
      Clustering.clusterTableCollapsed(members, baseRep, repPairs)
    }
    // Janino compiles during the run. The counter is JVM-wide: it also
    // counts what other queries of this JVM compile meanwhile, and on a
    // cluster it sees the driver's compiles only, not the executors'.
    ctx.metrics.record("find.codegen_compiles",
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0)
    Result(snapshot, clusters, ctx.metrics.toDF())
  }

  /**
   * Deployment wrapper (north_star: "clusters materialize as an Iceberg
   * table keyed by (repo, path, commit) with a canonical-representative
   * column"): run the pipeline, then publish the cluster table — and the
   * snapshot and metrics alongside it — as NEW VERSIONS of their catalog
   * tables through [[graft.sources.CatalogIO]]. Re-running over an evolved
   * corpus appends versions; every prior cluster assignment stays readable
   * (the reference's backup rule as table-version retention). Returns the
   * pipeline result plus the published cluster-table version.
   */
  def runToCatalog(ctx: RunContext, corpus: DataFrame, base: String,
                   cfg: DedupConfig = DedupConfig(),
                   catalog: graft.sources.CatalogIO = graft.sources.ParquetCatalog)
      : (Result, Long) = {
    val res = run(ctx, corpus, cfg)
    catalog.writeVersion(ctx.spark, s"${base}_snapshot", res.snapshot)
    val v = catalog.writeVersion(ctx.spark, s"${base}_clusters", res.clusters)
    catalog.writeVersion(ctx.spark, s"${base}_metrics", res.metrics)
    (res, v)
  }
}
