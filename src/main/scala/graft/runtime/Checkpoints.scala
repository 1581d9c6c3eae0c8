package graft.runtime

import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.model.DedupConfig

/**
 * Stage-level checkpointing for resumable runs (north_rule: "checkpoints
 * signatures and cluster state per stage; resumable from checkpoint").
 *
 * Each stage materializes to `<runDir>/<stage>` as parquet through one
 * restore rule, [[RunContext.materialize]]: a dir is read back only when its
 * `_SUCCESS` marker exists and its `_MANIFEST` holds exactly the caller's
 * key; otherwise it is recomputed. The pipeline's key,
 * [[RunContext.inputKey]], covers the engine's code version, the config, the
 * corpus plan and its input files, so a killed run resumes from its last
 * completed stage while a run dir reused over changed code, corpus or
 * config recomputes. A corpus with any
 * input that is not a file scan (a local relation, a generated range, an
 * RDD) gets a fresh random key and never restores. (Parquet dirs are the
 * offline stand-in for Iceberg table versions — SURVEY.md §7.)
 *
 * Also sets a reliable Spark checkpoint dir so iterative operators
 * (connected components) cut lineage with real checkpoints inside a run.
 */
class RunContext(val spark: SparkSession, val runDir: String, val runId: String) {
  val metrics = new Metrics(spark, runId)
  spark.sparkContext.setCheckpointDir(s"$runDir/_spark_checkpoints")

  private val lightStages = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  /**
   * Materialize-or-restore a stage under `key` ([[RunContext.materialize]]).
   * On compute, the stage output is instrumented with per-partition metrics
   * before writing.
   *
   * `materialize = false` declares a *light* stage: no parquet barrier, no
   * manifest — the instrumented plan is persisted (so multiple consumers
   * share one computation) and flows lazily downstream. Light stages are
   * cheap projections; resumability is carried by the materialized stages
   * around them, and skipping their write+read barrier removes serial wall
   * time a higher thread count cannot shrink (1-2 s per barrier regardless
   * of data size in the round-1 scaling profile).
   *
   * `persist = false` (light stages only) skips the cache too: for a plain
   * projection of an already-persisted stage, a second cache copy would only
   * burn fill bandwidth.
   *
   * A materialized stage records one driver-side metrics row,
   * `<name>.resumed`: `rows` = 1 when restored, 0 when computed (a key
   * mismatch computes).
   */
  def stage(name: String, materialize: Boolean = true, persist: Boolean = true,
            key: String = "")(compute: => DataFrame): DataFrame = {
    if (!materialize) {
      val df = metrics.instrument(compute, name)
      if (persist) registerPersist(df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      return df
    }
    val t0 = System.nanoTime()
    // thread-local: concurrent branch stages keep their own labels, and the
    // caller's label comes back once the stage is written or restored
    val sc = spark.sparkContext
    val callerLabel = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"graft:$name")
    val (df, resumed) =
      try RunContext.materialize(spark, s"$runDir/$name", key)(metrics.instrument(compute, name))
      finally sc.setJobDescription(callerLabel)
    metrics.record(s"$name.resumed", if (resumed) 1L else 0L)
    if (!resumed)
      System.err.println(f"[graft.stage] $name ${(System.nanoTime() - t0) / 1e9}%.1f s")
    df
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

  /** The one restore rule: read `path` back when its `_SUCCESS` marker
   *  exists and its `_MANIFEST` holds exactly `key`; otherwise overwrite it
   *  with `compute` as parquet and only then write the manifest, so a kill
   *  between the two recomputes. Spark's parquet reader skips both
   *  `_`-prefixed files. Returns the DataFrame and whether it was restored. */
  def materialize(spark: SparkSession, path: String, key: String)
                 (compute: => DataFrame): (DataFrame, Boolean) = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val manifest = new Path(dir, "_MANIFEST")
    val restored = fs.exists(new Path(dir, "_SUCCESS")) && fs.exists(manifest) && {
      val in = fs.open(manifest)
      try new String(in.readAllBytes(), UTF_8) == key finally in.close()
    }
    if (!restored) {
      compute.write.mode("overwrite").parquet(path)
      val out = fs.create(manifest, true)
      try out.write(key.getBytes(UTF_8)) finally out.close()
    }
    (spark.read.parquet(path), restored)
  }

  /** The engine's code version: sha256 over the sorted class files under
   *  the code source of [[graft.Pipeline]] (each with its relative path),
   *  or over the jar when the engine runs from one. Computed once per JVM. */
  lazy val codeVersion: String = {
    val root = java.nio.file.Paths.get(
      graft.Pipeline.getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    if (java.nio.file.Files.isDirectory(root)) {
      val walk = java.nio.file.Files.walk(root)
      val classes = try walk.iterator().asScala.filter(_.toString.endsWith(".class"))
        .map(p => root.relativize(p).toString -> p).toVector.sortBy(_._1) finally walk.close()
      classes.foreach { case (rel, p) =>
        md.update(rel.getBytes(UTF_8)); md.update(java.nio.file.Files.readAllBytes(p))
      }
    } else md.update(java.nio.file.Files.readAllBytes(root))
    md.digest().map("%02x".format(_)).mkString
  }

  /** The run key of `corpus` under `cfg`: sha256 over the code version, the
   *  whole config, the canonicalized analyzed plan and the sorted
   *  `(path, length, mtime)` of the corpus' input files. Every stage is a
   *  deterministic function of (code, input, config), so one key covers all
   *  stages of a run. A plan with any leaf that is not a file scan gets a
   *  fresh random key (never restores). */
  def inputKey(corpus: DataFrame, cfg: DedupConfig, code: String = codeVersion): String = {
    val plan = corpus.queryExecution.analyzed
    val fileScan = plan.collectLeaves().forall {
      case l: LogicalRelation => l.relation.isInstanceOf[HadoopFsRelation]
      case _ => false
    }
    if (!fileScan) return java.util.UUID.randomUUID().toString
    val conf = corpus.sparkSession.sparkContext.hadoopConfiguration
    val files = corpus.inputFiles.sorted.map { f =>
      val p = new Path(f)
      val st = p.getFileSystem(conf).getFileStatus(p)
      s"$f ${st.getLen} ${st.getModificationTime}"
    }
    val md = java.security.MessageDigest.getInstance("SHA-256")
    (Seq(code, cfg.toString, plan.canonicalized.toString) ++ files).foreach { s =>
      md.update(s.getBytes(UTF_8)); md.update(0.toByte)
    }
    md.digest().map("%02x".format(_)).mkString
  }
}
