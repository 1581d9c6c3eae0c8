package graft.model

/**
 * Core row types of the engine, mirroring the reference's data model
 * (see SURVEY.md §1) re-expressed as Spark-encodable case classes.
 *
 * Reference mapping:
 *  - [[FileRow]]        ≙ one scanned file (reference: scanner.rs:14-31 emits paths;
 *                         here content is in-table per BASELINE.json input_hint).
 *  - [[SnapshotEntry]]  ≙ snapshot/mod.rs:49-53 `FilePath {path, op}` flattened with
 *                         its group key (snapshot/mod.rs:115-119 `Snapshot.duplicates`).
 *  - [[ActionRow]]      ≙ executor.rs:11-24 `Action` (validated, executable plan row).
 *  - [[ClusterRow]]     ≙ the north-star cluster table keyed by (repo,path,commit)
 *                         with a canonical-representative column.
 */
case class FileRow(
    repo: String,
    path: String,
    commit: String,
    lang: String,
    content: String)

/** One row of the duplicate snapshot. `group_id` is the sha256 hex of content
 *  (deliberate, strictly-safer deviation from the reference's xxh3 u64 group id —
 *  see SURVEY.md §2.3 A4 and hash.rs:25-28). */
case class SnapshotEntry(
    group_id: String,
    repo: String,
    path: String,
    commit: String,
    size: Long,
    action: String,          // keep | symlink | delete
    symlink_source: String)  // nullable; keeper key for symlink rows

/** Validated, executable action (executor.rs:11-24). `valid=false` rows carry the
 *  violation in `error` — we collect all violations instead of failing fast
 *  (validation.rs:350-353), a strictly-more-informative deviation. */
case class ActionRow(
    group_id: String,
    repo: String,
    path: String,
    commit: String,
    action: String,
    symlink_source: String,
    is_no_op: Boolean,
    valid: Boolean,
    error: String)

/** Final cluster table row (north_star): each corpus file with its resolved
 *  duplicate-cluster id and canonical representative. */
case class ClusterRow(
    repo: String,
    path: String,
    commit: String,
    cluster_id: Long,
    rep_repo: String,
    rep_path: String,
    rep_commit: String,
    action: String)

/** Tuning knobs for the near-dup stages. Defaults chosen so that the
 *  false-negative probability for a pair at the Jaccard threshold is
 *  (1 - s^rows)^bands ≈ 4e-13 at s=0.6, rows=2, bands=64 — i.e. recall
 *  is 1.0 minus measurement noise (north_rule: recall ≥ 0.99). */
case class DedupConfig(
    shingleN: Int = 5,
    bands: Int = 64,
    rowsPerBand: Int = 2,
    jaccardThreshold: Double = 0.6,
    /** LSH buckets larger than this are dropped as "stop shingles" (skew guard,
     *  north_rule). Dropped buckets are reported in metrics, never silently. */
    maxBucketSize: Int = 4096,
    /** Fingerprint gram width for the long-substring pass. */
    gramWidth: Int = 48,
    /** Keep a sampled gram when (hash & sampleMask) == 0 (1/64 sampling). */
    sampleMask: Long = 63L,
    /** Minimum shared sampled grams to emit a substring-pair edge. */
    minSharedGrams: Int = 2,
    /** Corpus row count at or under which the content-dedup representative
     *  key set broadcasts (the big side then never shuffles its content);
     *  above it, the shuffle-hash semi-join runs instead — at 10⁹ rows the
     *  key set no longer fits an executor broadcast budget. 10M ids ≈ 80 MB
     *  broadcast — the practical ceiling of a comfortable executor
     *  broadcast, and covers the 3M-row bench corpus. */
    repBroadcastMaxRows: Long = 10000000L,
    quick: Boolean = false,
    /** Always `false`. The suffix-array route through the pipeline was
     *  removed: the rolling path with `sampleMask = 0, minSharedGrams = 1`
     *  computes the same "≥ 1 shared window" pair set, and q35 runs
     *  [[graft.operators.SuffixArray]] directly. */
    substringViaSuffixArray: Boolean = false,
    /** Prune provably-singleton LSH/gram buckets BEFORE their co-locating
     *  exchange ([[graft.functions.SeenTwice]] bitset sketch — exact: false
     *  positives only keep rows, never drop a pair). The one entry point is
     *  `SeenTwice.pruneAuto`, which reads the three row bounds below: no
     *  prune under `pruneMinRows`; one shard of ≤ 2^29 bits (64 MB) up to
     *  `pruneMaxRows`; ≤ 64 MB shards built and merged shard-parallel, 2^35
     *  bits (4 GB broadcast) in total, up to `pruneShardedMaxRows`. Past
     *  that even the sharded sketch saturates, so the candidates stage splits
     *  the bands into ranges that each re-enter the window
     *  (`NearDup.candidateIdPairsBandRanged`, BENCH/PROFILE_r05.md) and the
     *  gram stage passes its rows through unpruned. */
    pruneSingletons: Boolean = true,
    pruneMaxRows: Long = 1L << 29,
    pruneShardedMaxRows: Long = 1L << 33,
    /** Exploded-row floor below which the prune is skipped: the sketch pays
     *  a fixed second scan of the exploded table, worth it only when the
     *  sort it shrinks is big (measured: 158M band rows sort 34-65 s at 16
     *  threads, pruned 14-22 s incl. sketch; 22M gram rows sort ~11 s —
     *  the sketch's ~6 s scan tax nets negative there). */
    pruneMinRows: Long = 1L << 26) {
  require(!substringViaSuffixArray,
    "substringViaSuffixArray was removed: use sampleMask = 0, minSharedGrams = 1 for exact shared-window pairs")

  /** MinHash signature length: one value per band row. */
  def minhashK: Int = bands * rowsPerBand
}
