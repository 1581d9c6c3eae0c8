package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.model.DedupConfig
import graft.operators.NearDup

/**
 * Streaming incremental NEAR-dup candidates — the MinHash/LSH candidate
 * stage re-expressed over an unbounded file stream, the continuous analog
 * of the batch `signatures → bands → candidates` path exactly as
 * [[DedupStream]] is the continuous analog of the exact-dedup snapshot
 * (the reference's own incremental story is "re-run find"; these are the
 * Spark-native continuous forms).
 *
 * Two chained `flatMapGroupsWithState` operators, both Append-mode (the
 * supported multi-stateful-operator combination):
 *
 *  1. **First-sight representatives** keyed by content sha256: the first
 *     batch containing a content elects its min-rkey member (UTF-8 binary
 *     order — single-batch parity with `NearDup.representativeKeys`'
 *     `min(rkey)`) and emits ONE rep row; every later arrival of the same
 *     content is an exact dup and drains without emission (exact dups can
 *     never be near-dup *candidates* — the batch pipeline dedups by content
 *     before shingling for the same reason).
 *  2. **Incremental bucket join** keyed by LSH band bucket (the SAME
 *     shingle → minhash → band hashes as batch, via the shared column
 *     functions, and the SAME 64-bit `xxhash64(rkey)` node ids): state per
 *     bucket = accumulated member ids; a new arrival emits pairs against
 *     every retained member plus the batch's earlier arrivals, then joins
 *     the state. A bucket crossing `maxBucketSize` flips to dropped —
 *     already-emitted pairs are immutable (streams cannot retract), so the
 *     cap is PREFIX-EMIT: the causally-possible analog of the batch stop-
 *     bucket drop, converging to it whenever the cap never binds (the spec
 *     asserts exact candidate-set parity there; at the default 4096 cap a
 *     binding bucket is the boilerplate-skew case the batch path also
 *     refuses to pair).
 *
 * A pair can surface from several bands (and, across batches, several
 * times): candidates are a SET downstream — batch consumers `distinct()`
 * (as [[candidateIdPairs]]' static form does via its caller), streaming
 * consumers verify idempotently.
 *
 * Scale notes: stage-1 state is O(distinct contents) × ~80 B, stage-2 state
 * is O(occupied buckets) × (members ≤ cap) × 8 B — both want the RocksDB
 * state store provider at corpus scale (config, not code; exercised with
 * eviction in DedupStreamSpec). `retentionMs > 0` arms the same
 * `ProcessingTimeTimeout` eviction as [[DedupStream.dedupActions]] on BOTH
 * states: an idle content/bucket past the window is evicted, and a
 * re-arrival re-elects / re-starts — weakening dedup or pair recall
 * (a re-emitted rep, a restarted bucket missing its pre-eviction members),
 * never corrupting emitted rows. Content never enters the stateful
 * exchanges past stage 1 (stage 2 shuffles 16-byte `(band_hash, id)` rows —
 * the batch pipeline's rule).
 */
object NearDupStream {

  case class CidRow(cid: String, rkey: String, content: String)
  case class RepRow(id: Long, rkey: String, content: String)
  case class BandRow(band_hash: Long, id: Long)
  case class CandPair(a_id: Long, b_id: Long)
  // public: Spark's generated encoders/deserializers must reach these
  case class SeenState(seen: Boolean)
  case class BucketState(ids: Array[Long], dropped: Boolean)

  /** Stage 1: one row per FIRST-SEEN content — `(xxhash64(rkey), rkey,
   *  content)` of the electing batch's min-rkey member. */
  def newReps(files: DataFrame, retentionMs: Long = 0L): Dataset[RepRow] = {
    val spark = files.sparkSession
    import spark.implicits._
    val members = files
      .where(col("content").isNotNull && col("repo").isNotNull && col("path").isNotNull)
      .select(sha2(col("content").cast("binary"), 256).as("cid"),
        concat(col("repo"), lit("/"), col("path")).as("rkey"),
        col("content"))
      .as[CidRow]
    val timeoutConf =
      if (retentionMs > 0) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    members.groupByKey(_.cid)
      .flatMapGroupsWithState[SeenState, RepRow](OutputMode.Append(), timeoutConf) {
        (_: String, rows: Iterator[CidRow], state: GroupState[SeenState]) =>
          if (retentionMs > 0 && state.hasTimedOut) {
            state.remove(); Iterator.empty
          } else if (state.exists) {
            // known content: exact dups, nothing new to shingle
            if (retentionMs > 0) state.setTimeoutDuration(retentionMs)
            Iterator.empty
          } else {
            // first sight: elect min-rkey of the batch (UTF-8 binary order =
            // batch `min(rkey)`; see DedupStream's keeper-election note)
            val ord = graft.functions.BucketScan.utf8Ordering
            var rep: CidRow = null
            rows.foreach { m => if (rep == null || ord.lt(m.rkey, rep.rkey)) rep = m }
            if (rep == null) Iterator.empty
            else {
              state.update(SeenState(true))
              if (retentionMs > 0) state.setTimeoutDuration(retentionMs)
              Iterator.single(RepRow(
                graft.functions.XXHash64.hashString(rep.rkey, 42L), rep.rkey, rep.content))
            }
          }
      }
  }

  /** Stage 2: incremental bucket join — new member × retained members (plus
   *  the batch's earlier arrivals), capped prefix-emit per bucket. */
  def bucketPairs(banded: Dataset[BandRow], cap: Int,
                  retentionMs: Long = 0L): Dataset[CandPair] = {
    val spark = banded.sparkSession
    import spark.implicits._
    val timeoutConf =
      if (retentionMs > 0) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    banded.groupByKey(_.band_hash)
      .flatMapGroupsWithState[BucketState, CandPair](OutputMode.Append(), timeoutConf) {
        (_: Long, rows: Iterator[BandRow], state: GroupState[BucketState]) =>
          if (retentionMs > 0 && state.hasTimedOut) {
            state.remove(); Iterator.empty
          } else {
            val st = state.getOption.getOrElse(BucketState(Array.emptyLongArray, dropped = false))
            if (retentionMs > 0) state.setTimeoutDuration(retentionMs)
            if (st.dropped) { rows.foreach(_ => ()); Iterator.empty }
            else {
              // emit pairs eagerly; buffer only the (≤ cap) member list
              val out = scala.collection.mutable.ArrayBuffer.empty[CandPair]
              val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
              ids ++= st.ids
              var dropped = false
              rows.foreach { r =>
                if (!dropped && !ids.contains(r.id)) {
                  if (ids.length >= cap) {
                    // cap crossed: stop emitting (prefix-emit semantics —
                    // emitted pairs are immutable), retain the drop flag so
                    // later batches skip the bucket outright
                    dropped = true
                  } else {
                    ids.foreach(a => out += CandPair(math.min(a, r.id), math.max(a, r.id)))
                    ids += r.id
                  }
                }
              }
              state.update(BucketState(if (dropped) Array.emptyLongArray else ids.toArray, dropped))
              out.iterator
            }
          }
      }
  }

  /** The full streaming candidate pipeline: first-sight reps → shingles →
   *  minhash signatures → band explode (all shared column functions — the
   *  EXACT batch sketch) → incremental bucket join. Works on a stream and,
   *  identically, on a static DataFrame (single-batch mode — the form the
   *  q37 oracle runs; NearDupStreamSpec proves multi-batch ≡ static). */
  def candidateIdPairs(files: DataFrame, cfg: DedupConfig,
                       retentionMs: Long = 0L): Dataset[CandPair] = {
    val spark = files.sparkSession
    import spark.implicits._
    val reps = newReps(files, retentionMs)
    val sh = reps.toDF().select(col("id"),
        NearDup.shingleCol(col("content"), cfg.shingleN).as("shingles"))
      .withColumn("n_shingles", size(col("shingles")))
      .where(col("n_shingles") > 0)
    val banded = NearDup.bandedById(NearDup.signaturesById(sh, cfg), cfg)
      .select(col("band_hash"), col("id")).as[BandRow]
    bucketPairs(banded, cfg.maxBucketSize, retentionMs)
  }

  /** One catch-up run into a durable parquet sink (the trigger rule is
   *  [[DedupStream.catchUp]]). Re-running with the same checkpoint
   *  after new files land pairs ONLY the new representatives against the
   *  retained bucket members — the incremental near-dup story. */
  def runAvailableNow(spark: org.apache.spark.sql.SparkSession, dir: String,
                      outDir: String, checkpointDir: String, cfg: DedupConfig,
                      retentionMs: Long = 0L): Unit =
    DedupStream.catchUp(
      candidateIdPairs(DedupStream.readFiles(spark, dir), cfg, retentionMs),
      outDir, checkpointDir, retentionMs)
}
