package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.corpus.Corpus
import graft.operators.NearDup
import graft.runtime.RunContext

/** End-to-end pipeline: correctness of the cluster table, stage
 *  checkpointing / resumability, and lineage metrics (north_rule). */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft_pipe").toString

  /** `Corpus.synthetic(spark, nDocs, seed)` written as parquet to `path`
   *  (overwriting it); returns `path`. */
  private def writeCorpus(path: String, nDocs: Int, seed: Long): String = {
    Corpus.synthetic(spark, nDocs, seed).write.mode("overwrite").parquet(path)
    path
  }

  private def resumedOf(res: Pipeline.Result): Map[String, Long] =
    res.metrics.collect().map(r => r.getAs[String]("stage") -> r.getAs[Long]("rows"))
      .collect { case (s, n) if s.endsWith(".resumed") => s.stripSuffix(".resumed") -> n }.toMap

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private val materialized =
    Set("snapshot", "signatures", "candidates", "near_pairs", "substring_pairs", "clusters")

  test("stage() computes once and restores afterwards") {
    import spark.implicits._
    val ctx = RunContext(spark, tmpDir())
    var computes = 0
    def once() = ctx.stage("s1") { computes += 1; Seq((1L, "a")).toDF("id", "v") }
    val first = once().collect()
    val second = once().collect()
    assert(computes === 1)
    assert(first.toSeq === second.toSeq)
    assert(new java.io.File(s"${ctx.runDir}/s1/_SUCCESS").exists())
  }

  test("stage() restores only under its own key; a marker without a manifest recomputes") {
    import spark.implicits._
    val ctx = RunContext(spark, tmpDir())
    var computes = 0
    def run(key: String) = ctx.stage("s1", key = key) { computes += 1; Seq((1L, key)).toDF("id", "v") }
    assert(run("a").collect().toSeq === Seq(org.apache.spark.sql.Row(1L, "a")))
    assert(run("b").collect().toSeq === Seq(org.apache.spark.sql.Row(1L, "b")))
    assert(computes === 2)
    run("b")
    assert(computes === 2)
    // a kill between the parquet commit and the manifest write: recompute
    assert(new java.io.File(s"${ctx.runDir}/s1/_MANIFEST").delete())
    run("b")
    assert(computes === 3)
    val resumed = ctx.metrics.toDF().where(col("stage") === "s1.resumed")
      .collect().map(_.getAs[Long]("rows")).toSeq
    assert(resumed === Seq(0L, 0L, 1L, 0L))
  }

  test("stage() labels its jobs graft:<name> and then restores the caller's job description") {
    import spark.implicits._
    val sc = spark.sparkContext
    val prior = sc.getLocalProperty("spark.job.description")
    val ctx = RunContext(spark, tmpDir())
    var inStage: String = null
    def run() = ctx.stage("x") {
      inStage = sc.getLocalProperty("spark.job.description"); Seq((1L, "a")).toDF("id", "v")
    }
    try {
      sc.setJobDescription("caller")
      run()
      assert(inStage === "graft:x")
      assert(sc.getLocalProperty("spark.job.description") === "caller")
      sc.setJobDescription(null)
      run() // restores
      assert(sc.getLocalProperty("spark.job.description") === null)
    } finally sc.setJobDescription(prior)
  }

  test("inputKey: equal for two reads of one parquet dir, never reused for a non-file corpus") {
    import spark.implicits._
    val cfg = graft.model.DedupConfig()
    val p = writeCorpus(s"${tmpDir()}/corpus", 50, 3L)
    val k = RunContext.inputKey(spark.read.parquet(p), cfg)
    assert(RunContext.inputKey(spark.read.parquet(p), cfg) === k)
    assert(RunContext.inputKey(spark.read.parquet(p), cfg.copy(shingleN = 4)) !== k)
    assert(RunContext.inputKey(spark.read.parquet(p).where(col("lang") === "py"), cfg) !== k)
    // same path, new files: the file list and lengths are part of the key
    writeCorpus(p, 50, 4L)
    assert(RunContext.inputKey(spark.read.parquet(p), cfg) !== k)
    // a generated corpus has no durable identity: a fresh key every time,
    // so a stage keyed by it never restores
    val local = Corpus.synthetic(spark, 20, 3L).toDF()
    assert(RunContext.inputKey(local, cfg) !== RunContext.inputKey(local, cfg))
    val ctx = RunContext(spark, tmpDir())
    var computes = 0
    (1 to 2).foreach { _ =>
      ctx.stage("s1", key = RunContext.inputKey(local, cfg)) { computes += 1; Seq(1L).toDF("id") }
    }
    assert(computes === 2)
  }

  test("full pipeline produces a consistent cluster table with representatives") {
    val corpus = Corpus.synthetic(spark, 300, seed = 6L).toDF()
    val res = Pipeline.run(RunContext(spark, tmpDir()), corpus)
    val clusters = res.clusters.collect()
    assert(clusters.length === corpus.count())
    // representative is a member of its own cluster and is minimal
    val byCluster = clusters.groupBy(_.getAs[Long]("cluster_id"))
    byCluster.foreach { case (_, rows) =>
      val keys = rows.map(_.getAs[String]("rkey"))
      val rep = rows.head.getAs[String]("rep_key")
      assert(rows.forall(_.getAs[String]("rep_key") == rep))
      assert(keys.contains(rep))
      assert(rep === keys.min)
      rows.foreach { r =>
        assert(r.getAs[String]("action") === (if (r.getAs[String]("rkey") == rep) "keep" else "symlink"))
      }
    }
    // exact duplicates always land in one cluster
    val snapGroups = res.snapshot.collect().groupBy(_.getAs[String]("group_id"))
    val clusterOf = clusters.map(r => r.getAs[String]("rkey") -> r.getAs[Long]("cluster_id")).toMap
    snapGroups.values.foreach { members =>
      assert(members.map(m => clusterOf(m.getAs[String]("rkey"))).toSet.size === 1)
    }
  }

  test("cluster precondition: every pair endpoint is a row the snapshot maps to no other keeper") {
    // clusterTableCollapsed finds a row's component through its keeper's id,
    // so an edge at a member the snapshot maps to another keeper is lost
    // without an error. It holds because ExactDedup's keeper election and
    // NearDup.representativeKeys both pick the minimum rkey per sha256.
    val ctx = RunContext(spark, tmpDir())
    val corpus = Corpus.synthetic(spark, 300, seed = 6L).toDF()
    Pipeline.run(ctx, corpus).clusters.count()
    def stage(name: String) = spark.read.parquet(s"${ctx.runDir}/$name")
    def ids(df: org.apache.spark.sql.DataFrame) = df.select(xxhash64(col("rkey")).as("id"))
    val near = stage("near_pairs")
    val sub = stage("substring_pairs")
    val ends = Seq(near.select(col("a_id").as("id")), near.select(col("b_id").as("id")),
        sub.select(col("a_key").as("id")), sub.select(col("b_key").as("id")))
      .reduce(_ union _).distinct()
    val snapshot = stage("snapshot")
    val mapped = ids(snapshot.where(col("symlink_source").isNotNull && col("symlink_source") =!= col("rkey")))
    val rows = ids(graft.operators.ExactDedup.validRows(corpus).withColumn("rkey", graft.operators.ExactDedup.rkey))
    assert(near.count() > 0 && sub.count() > 0)
    assert(ends.join(rows, Seq("id"), "left_anti").count() === 0, "endpoint that is no row's node id")
    assert(ends.join(mapped, Seq("id"), "left_semi").count() === 0, "endpoint mapped to another keeper")
    // not vacuous: the edges reach into exact groups through their keepers
    assert(ends.join(ids(snapshot.where(col("action") === "keep")), Seq("id"), "left_semi").count() > 0)
  }

  test("resume: a completed run restores every stage without recompute") {
    val dir = tmpDir()
    val input = writeCorpus(s"${tmpDir()}/corpus", 200, 7L)
    val r1 = Pipeline.run(RunContext(spark, dir), spark.read.parquet(input))
    val want = sortedRows(r1.clusters)

    // Second run over the SAME runDir and the same input files, read anew:
    // every materialized stage restores instead of recomputing.
    val r2 = Pipeline.run(RunContext(spark, dir), spark.read.parquet(input))
    assert(resumedOf(r2) === materialized.map(_ -> 1L).toMap)
    assert(sortedRows(r2.clusters) === want)
  }

  test("stale input: a changed corpus or config in a reused run dir equals a fresh-dir run") {
    val dir = tmpDir()
    val input = writeCorpus(s"${tmpDir()}/corpus", 200, 7L)
    Pipeline.run(RunContext(spark, dir), spark.read.parquet(input)).clusters.count()
    // the cluster table and the near pairs a run in `runDir` leaves behind
    def outputs(runDir: String, cfg: graft.model.DedupConfig) = {
      val res = Pipeline.run(RunContext(spark, runDir), spark.read.parquet(input), cfg)
      (sortedRows(res.clusters), sortedRows(spark.read.parquet(s"$runDir/near_pairs")), resumedOf(res))
    }

    // same path, same row count, other content
    writeCorpus(input, 200, 8L)
    val (clusters, pairs, resumed) = outputs(dir, graft.model.DedupConfig())
    val (freshClusters, freshPairs, _) = outputs(tmpDir(), graft.model.DedupConfig())
    assert(clusters === freshClusters)
    assert(pairs === freshPairs)
    assert(resumed === materialized.map(_ -> 0L).toMap)

    // same input, stricter config: some near pairs fall under the threshold
    val stricter = graft.model.DedupConfig(jaccardThreshold = 0.9)
    val (clusters2, pairs2, resumed2) = outputs(dir, stricter)
    val (freshClusters2, freshPairs2, _) = outputs(tmpDir(), stricter)
    assert(clusters2 === freshClusters2)
    assert(pairs2 === freshPairs2 && pairs2.size < pairs.size)
    assert(resumed2 === materialized.map(_ -> 0L).toMap)
  }

  test("code version: manifests written under another code version recompute every stage") {
    val dir = tmpDir()
    val input = writeCorpus(s"${tmpDir()}/corpus", 200, 7L)
    val cfg = graft.model.DedupConfig()
    assert(RunContext.codeVersion.matches("[0-9a-f]{64}"))
    // Stand-in for another code version's output over the same corpus and
    // config: stage outputs that differ from this version's (computed under
    // a stricter threshold), under the manifests that version would write.
    Pipeline.run(RunContext(spark, dir), spark.read.parquet(input), cfg.copy(jaccardThreshold = 0.9))
      .clusters.count()
    val staleKey = RunContext.inputKey(spark.read.parquet(input), cfg, code = "another version")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    materialized.foreach { s =>
      val out = fs.create(new org.apache.hadoop.fs.Path(s"$dir/$s/_MANIFEST"), true)
      try out.write(staleKey.getBytes("UTF-8")) finally out.close()
    }
    val stalePairs = sortedRows(spark.read.parquet(s"$dir/near_pairs"))

    val res = Pipeline.run(RunContext(spark, dir), spark.read.parquet(input), cfg)
    val freshDir = tmpDir()
    val fresh = Pipeline.run(RunContext(spark, freshDir), spark.read.parquet(input), cfg)
    val freshPairs = sortedRows(spark.read.parquet(s"$freshDir/near_pairs"))
    assert(stalePairs !== freshPairs)
    assert(resumedOf(res) === materialized.map(_ -> 0L).toMap)
    assert(sortedRows(res.clusters) === sortedRows(fresh.clusters))
    assert(sortedRows(spark.read.parquet(s"$dir/near_pairs")) === freshPairs)
  }

  test("partial resume: deleting a late stage recomputes only that stage") {
    val dir = tmpDir()
    val corpus = spark.read.parquet(writeCorpus(s"${tmpDir()}/corpus", 200, 8L))
    val r1 = Pipeline.run(RunContext(spark, dir), corpus)
    val want = sortedRows(r1.clusters)

    // wipe the final stage; upstream stages stay checkpointed
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/clusters"), true)
    assert(!new java.io.File(s"$dir/clusters/_SUCCESS").exists())
    assert(new java.io.File(s"$dir/near_pairs/_SUCCESS").exists())
    val r2 = Pipeline.run(RunContext(spark, dir), corpus)
    assert(sortedRows(r2.clusters) === want)
    assert(resumedOf(r2) === (materialized - "clusters").map(_ -> 1L).toMap + ("clusters" -> 0L))
  }

  test("per-partition lineage metrics are emitted for every computed stage") {
    val ctx = RunContext(spark, tmpDir())
    val corpus = Corpus.synthetic(spark, 200, seed = 9L).toDF()
    val res = Pipeline.run(ctx, corpus)
    res.clusters.count()
    val m = res.metrics.collect()
    assert(m.forall(_.getAs[Long]("nanos") >= 0))
    // Each computed stage reports every partition once, and its rows add up
    // to the stage's output, also for a light stage that several consumers
    // re-run (`shingles`) and for the persisted one (`uniq`).
    val cfg = graft.model.DedupConfig()
    val uniq = graft.operators.NearDup.dedupedByContentBroadcast(
      graft.operators.ExactDedup.validRows(corpus).withColumn("rkey", graft.operators.ExactDedup.rkey))
    val outputRows = (materialized.toSeq.map(s => s -> spark.read.parquet(s"${ctx.runDir}/$s").count()) ++
      Seq("uniq" -> uniq.count(),
        "shingles" -> uniq.where(size(NearDup.shingleCol(col("content"), cfg.shingleN)) > 0).count())).toMap
    assert(outputRows("clusters") === corpus.count())
    for ((stage, want) <- outputRows) {
      val parts = m.filter(r => r.getAs[String]("stage") == stage && r.getAs[Int]("partition_id") >= 0)
      assert(parts.nonEmpty, stage)
      assert(parts.map(_.getAs[Int]("partition_id")).sorted.toSeq === parts.indices, stage)
      assert(parts.map(_.getAs[Long]("rows")).sum === want, stage)
    }
    // the run's codegen compile count is one driver row
    assert(m.count(r => r.getAs[String]("stage") == "find.codegen_compiles" &&
      r.getAs[Int]("partition_id") == -1 && r.getAs[Long]("rows") >= 0) === 1)
  }
}
