package graft.runtime

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Stage-level checkpointing for resumable runs (north_rule: "checkpoints
 * signatures and cluster state per stage; resumable from checkpoint").
 *
 * Each stage materializes to `<runDir>/<stage>` as parquet; the parquet
 * `_SUCCESS` marker doubles as the done-flag — a stage whose marker exists is
 * *read back*, never recomputed, so a killed run resumes from its last
 * completed stage. (The Iceberg-flavored deployment would materialize each
 * stage as a table version; parquet dirs are the offline stand-in —
 * SURVEY.md §7 environment note.)
 *
 * Also sets a reliable Spark checkpoint dir so iterative operators
 * (connected components) cut lineage with real checkpoints inside a run.
 */
class RunContext(val spark: SparkSession, val runDir: String, val runId: String) {
  val metrics = new Metrics(spark, runId)
  spark.sparkContext.setCheckpointDir(s"$runDir/_spark_checkpoints")

  private val fs = org.apache.hadoop.fs.FileSystem.get(
    new java.net.URI(runDir), spark.sparkContext.hadoopConfiguration)

  private def donePath(name: String) =
    new org.apache.hadoop.fs.Path(s"$runDir/$name/_SUCCESS")

  /** Names of stages already completed (for resume reporting/tests). */
  def completed(name: String): Boolean = fs.exists(donePath(name))

  private val lightStages = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  /**
   * Materialize-or-restore a stage. On compute, the stage output is
   * instrumented with per-partition metrics before writing.
   *
   * `materialize = false` declares a *light* stage: no parquet barrier, no
   * done-marker — the instrumented plan is persisted (so multiple consumers
   * share one computation) and flows lazily into downstream stages. Light
   * stages are pure projections that are cheap to recompute; resumability is
   * carried by the materialized stages around them (north_rule names
   * signatures + cluster state as the durable checkpoints). Cutting the
   * write+read barrier on the cheap stages removes serial wall time that a
   * higher thread count cannot shrink (the round-1 scaling profile showed
   * 1-2 s of fixed cost per barrier regardless of data size).
   *
   * `persist = false` (light stages only) skips the cache too: for a plain
   * projection of an already-persisted stage, a second cache copy would only
   * burn fill bandwidth.
   *
   * A materialized stage records one driver-side metrics row,
   * `<name>.resumed`: `rows` = 1 when restored, 0 when computed.
   */
  def stage(name: String, materialize: Boolean = true, persist: Boolean = true)
           (compute: => DataFrame): DataFrame = {
    val path = s"$runDir/$name"
    if (!materialize) {
      val df0 = metrics.instrument(compute, name)
      if (!persist) return df0
      val df = df0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      lightStages.synchronized { lightStages += df } // stages may run concurrently
      return df
    }
    val resumed = completed(name)
    metrics.record(s"$name.resumed", if (resumed) 1L else 0L)
    if (!resumed) {
      val t0 = System.nanoTime()
      // thread-local: concurrent branch stages keep their own labels
      spark.sparkContext.setJobDescription(s"graft:$name")
      metrics.instrument(compute, name)
        .write.mode("overwrite").parquet(path)
      System.err.println(f"[graft.stage] $name ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    spark.read.parquet(path)
  }

  /** Register an operator-internal persist with this run's lifecycle: it is
   *  released by [[cleanup]] alongside the light stages (operators pass this
   *  as their `register` hook so no persist outlives the run). */
  def registerPersist(df: DataFrame): Unit =
    lightStages.synchronized { lightStages += df }

  /** Unpersist every light stage of this run (call when the run's outputs are
   *  fully consumed — avoids cached-plan leaks in long-lived sessions). */
  def cleanup(): Unit = {
    lightStages.foreach(df => try df.unpersist(false) catch { case _: Throwable => })
    lightStages.clear()
  }
}

object RunContext {
  def apply(spark: SparkSession, runDir: String): RunContext = {
    // run id derives from the directory (stable across resumes of the run)
    val id = java.lang.Long.toUnsignedString(
      graft.functions.XXHash64.hashString(runDir, 42L), 16)
    new RunContext(spark, runDir, id)
  }
}
