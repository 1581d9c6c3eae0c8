package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.corpus.Corpus
import graft.runtime.RunContext

/** End-to-end pipeline: correctness of the cluster table, stage
 *  checkpointing / resumability, and lineage metrics (north_rule). */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft_pipe").toString

  test("stage() computes once and restores afterwards") {
    import spark.implicits._
    val ctx = RunContext(spark, tmpDir())
    var computes = 0
    def once() = ctx.stage("s1") { computes += 1; Seq((1L, "a")).toDF("id", "v") }
    val first = once().collect()
    val second = once().collect()
    assert(computes === 1)
    assert(first.toSeq === second.toSeq)
    assert(ctx.completed("s1"))
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

  test("resume: a completed run restores every stage without recompute") {
    val dir = tmpDir()
    val corpus = Corpus.synthetic(spark, 200, seed = 7L).toDF()
    val r1 = Pipeline.run(RunContext(spark, dir), corpus)
    val want = r1.clusters.collect().map(_.toString).sorted

    // Second run over the SAME runDir but a poisoned input: if any stage
    // recomputed, results would differ / explode. They must restore instead.
    import spark.implicits._
    val poisoned = Seq.empty[graft.model.FileRow].toDF()
    val r2 = Pipeline.run(RunContext(spark, dir), poisoned)
    val got = r2.clusters.collect().map(_.toString).sorted
    assert(got.toSeq === want.toSeq)
  }

  test("partial resume: deleting a late stage recomputes only that stage") {
    val dir = tmpDir()
    val corpus = Corpus.synthetic(spark, 200, seed = 8L).toDF()
    val r1 = Pipeline.run(RunContext(spark, dir), corpus)
    val want = r1.clusters.collect().map(_.toString).sorted

    // wipe the final stage; upstream stages stay checkpointed
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/clusters"), true)
    val ctx2 = RunContext(spark, dir)
    assert(!ctx2.completed("clusters") && ctx2.completed("near_pairs"))
    val r2 = Pipeline.run(ctx2, corpus)
    assert(r2.clusters.collect().map(_.toString).sorted.toSeq === want.toSeq)
    val resumed = r2.metrics.collect()
      .map(r => r.getAs[String]("stage") -> r.getAs[Long]("rows")).toMap
    assert(resumed("near_pairs.resumed") === 1L)
    assert(resumed("clusters.resumed") === 0L)
  }

  test("per-partition lineage metrics are emitted for every computed stage") {
    val ctx = RunContext(spark, tmpDir())
    val corpus = Corpus.synthetic(spark, 200, seed = 9L).toDF()
    val res = Pipeline.run(ctx, corpus)
    res.clusters.count()
    val m = res.metrics.collect()
    val stages = m.map(_.getAs[String]("stage")).toSet
    assert(Set("snapshot", "shingles", "signatures", "near_pairs",
      "substring_pairs", "clusters").subsetOf(stages))
    // row totals in metrics match the materialized stage row counts
    val clusterRows = m.filter(_.getAs[String]("stage") == "clusters").map(_.getAs[Long]("rows")).sum
    assert(clusterRows === corpus.count())
    assert(m.forall(_.getAs[Long]("nanos") >= 0))
  }
}
