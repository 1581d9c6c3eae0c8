package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/**
 * Streaming incremental exact-dedup — the reference's `find` re-expressed
 * over an unbounded file stream (the reference's own incremental story is
 * "re-run find", README.md:339-368; this is the Spark-native continuous
 * form): as file rows arrive, each distinct content (sha256 group) elects a
 * keeper on first sight and every later arrival of the same content is
 * emitted immediately as a `symlink` action against that keeper.
 *
 * Custom state via `flatMapGroupsWithState` (KeyValueGroupedDataset): state
 * per content hash = the keeper key. Within one micro-batch the keeper is
 * the minimum row key of the batch's members — so a single-batch run over a
 * static directory reproduces the batch snapshot's keeper election exactly
 * (DedupStreamSpec asserts set equality with `ExactDedup.snapshot`); across
 * batches the first-elected keeper is sticky, which is the only causally
 * possible semantics on a stream (actions already emitted are immutable).
 *
 * Scale notes: state size is O(distinct contents) × ~100 bytes — at corpus
 * scale this wants the RocksDB state store (config, not code) and/or a
 * retention timeout evicting contents not seen for N days
 * (`GroupStateTimeout.ProcessingTimeTimeout` — a re-arrival after eviction
 * re-elects a keeper, weakening dedup, never corrupting it). The shuffle
 * per micro-batch carries `(cid, rkey, size)` — content itself never leaves
 * the scan stage, mirroring the batch pipeline's rule. Memory bounds: once a
 * keeper exists, arrivals stream through with NO buffering; only the
 * electing batch holds its group's members (one unsorted buffer — min-of-
 * batch semantics needs the whole batch before the keeper is known), so the
 * per-task bound is the micro-batch size (`maxFilesPerTrigger`), verified
 * with a 10⁵-member single-batch group in DedupStreamSpec.
 */
object DedupStream {

  /** One emitted action row (streaming analog of a snapshot row; singleton
   *  groups DO emit their keep — a stream cannot know a group will stay
   *  size-1, so downstream consumers filter on group size if they only want
   *  duplicate groups). */
  case class StreamAction(
      group_id: String,
      rkey: String,
      size: Long,
      action: String,
      symlink_source: Option[String])

  // public: Spark's generated encoders/deserializers must reach these
  case class Member(cid: String, rkey: String, size: Long)
  case class KeeperState(keeper: String)

  /** sha256 lowercase hex — same group ids as the batch path. */
  private def sha256Hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val sb = new java.lang.StringBuilder(64)
    d.foreach(b => sb.append(f"${b & 0xff}%02x"))
    sb.toString
  }

  /** The stateful core, usable on both a stream and a static Dataset.
   *
   *  `retentionMs > 0` arms the state-scale eviction path: each group's
   *  keeper state carries a `ProcessingTimeTimeout` re-armed on every
   *  arrival; a group idle past the retention window is EVICTED (state
   *  removed in the timed-out callback), and a re-arrival after eviction
   *  re-elects a keeper from scratch — dedup is weakened (the old keeper is
   *  no longer found), never corrupted (every emitted action is still
   *  internally consistent). This is what bounds state at 10⁹ distinct
   *  contents: state = O(contents seen within the retention window), under
   *  the RocksDB state store provider (config) — both exercised together in
   *  DedupStreamSpec. */
  def dedupActions(files: DataFrame, retentionMs: Long = 0L): Dataset[StreamAction] = {
    val spark = files.sparkSession
    import spark.implicits._
    val shaUdf = udf((c: String) => sha256Hex(c))
    val members = files
      .where(col("content").isNotNull && col("repo").isNotNull && col("path").isNotNull)
      .select(shaUdf(col("content")).as("cid"),
        concat(col("repo"), lit("/"), col("path")).as("rkey"),
        length(col("content")).cast("long").as("size"))
      .as[Member]
    val timeoutConf =
      if (retentionMs > 0) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    members
      .groupByKey(_.cid)
      .flatMapGroupsWithState[KeeperState, StreamAction](
        OutputMode.Append(), timeoutConf) {
        (cid: String, rows: Iterator[Member], state: GroupState[KeeperState]) =>
          if (retentionMs > 0 && state.hasTimedOut) {
            // idle past retention: evict. (Spark only invokes this for
            // groups with NO data in the trigger, so no rows are lost.)
            state.remove()
            Iterator.empty
          } else state.getOption match {
            case Some(KeeperState(keeper)) =>
              // Keeper already elected in an earlier batch: a pure streaming
              // map — NO buffering, a mega-group of late arrivals costs O(1)
              // task memory. A re-arrival of the keeper row itself (file
              // re-ingested) is a no-op `keep`, never a self-referential
              // symlink (validate/apply would reject source==target).
              if (retentionMs > 0) state.setTimeoutDuration(retentionMs)
              rows.map(m =>
                if (m.rkey == keeper) StreamAction(cid, m.rkey, m.size, "keep", None)
                else StreamAction(cid, m.rkey, m.size, "symlink", Some(keeper)))
            case None =>
              // First sight of this content: keeper = min rkey of the batch
              // (single-batch parity with the batch snapshot). Min-of-batch
              // requires holding the batch's members until the min is known —
              // ONE unsorted buffer, filled in the same pass that tracks the
              // running min (the former sort was an O(n log n) + full-copy
              // tax paid per group for an output whose row SET is
              // order-insensitive). The buffer is bounded by the micro-batch
              // (`maxFilesPerTrigger` on the source), not by group size
              // across time. CAVEAT: `readFiles` sets no such bound, so a
              // catch-up run drains the WHOLE backlog in one micro-batch —
              // there the bound is the backlog itself (see catchUp).
              // Running min under UTF-8 BINARY order — the batch snapshot
              // elects via Spark's min(rkey) (binary collation); Java's
              // String '<' is UTF-16 code-unit order, which diverges for
              // supplementary-plane keys (see BucketScan.utf8Ordering doc),
              // so using it here could elect a different keeper in stream
              // vs batch and break the proven single-batch parity.
              val ord = graft.functions.BucketScan.utf8Ordering
              val buf = new scala.collection.mutable.ArrayBuffer[Member]
              var keeper: String = null
              rows.foreach { m =>
                if (keeper == null || ord.lt(m.rkey, keeper)) keeper = m.rkey
                buf += m
              }
              if (buf.isEmpty) Iterator.empty
              else {
                state.update(KeeperState(keeper))
                if (retentionMs > 0) state.setTimeoutDuration(retentionMs)
                val kp = keeper
                buf.iterator.map(m =>
                  if (m.rkey == kp) StreamAction(cid, m.rkey, m.size, "keep", None)
                  else StreamAction(cid, m.rkey, m.size, "symlink", Some(kp)))
              }
          }
      }
  }

  /** Open a file-source stream of corpus rows over a parquet directory. */
  def readFiles(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("repo", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("path", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("commit", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("content", org.apache.spark.sql.types.StringType))))
      .parquet(dir)

  /** One catch-up run into a durable parquet sink (the memory sink cannot
   *  recover a checkpoint). Re-running with the same checkpoint after new
   *  files land processes ONLY the new files against the retained keeper
   *  state — the incremental dedup story. The trigger rule is [[catchUp]]. */
  def runAvailableNow(spark: SparkSession, dir: String, outDir: String,
                      checkpointDir: String, retentionMs: Long = 0L): Unit =
    catchUp(dedupActions(readFiles(spark, dir), retentionMs), outDir, checkpointDir,
      retentionMs)

  /**
   * Run `actions` into a parquet sink until it has caught up with its input,
   * then stop: the trigger rule of both streams' catch-up runs. Without
   * retention this is `AvailableNow`. With retention armed `AvailableNow`
   * never stops: it keeps scheduling empty batches while any group holds a
   * pending `ProcessingTimeTimeout` (a 2-file input ran 1000 empty batches
   * before it was killed). So that arm runs a `ProcessingTime` stream
   * and stops it at the first batch that read no input: the backlog is
   * drained, and every timeout expired by then has fired (empty batches
   * evict too). `readFiles` sets no `maxFilesPerTrigger`, so the backlog
   * arrives as one batch; a source read with it set drains in several
   * bounded batches.
   */
  private[streaming] def catchUp(actions: Dataset[_], outDir: String,
                                 checkpointDir: String, retentionMs: Long): Unit = {
    val q = actions.writeStream
      .format("parquet")
      .option("path", outDir)
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(if (retentionMs > 0) Trigger.ProcessingTime(1000L) else Trigger.AvailableNow())
      .start()
    // The run's first progress is not trusted: stopping usually cuts off a
    // planned empty batch, which the next run re-executes first (a restart
    // replays a planned batch with its old input).
    if (retentionMs > 0)
      try {
        while (q.isActive && !q.recentProgress.drop(1).exists(_.numInputRows == 0))
          q.awaitTermination(10L)
      } finally q.stop()
    q.awaitTermination() // rethrows the query's failure, if any
  }
}
