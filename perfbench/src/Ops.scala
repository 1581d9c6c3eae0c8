package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Pipeline
import graft.functions.SeenTwice
import graft.model.DedupConfig
import graft.operators.{Clustering, ExactDedup, NearDup, Snapshots, Substring}
import graft.runtime.RunContext
import graft.sources.ParquetCatalog

/** The two phases of one benchmark operation, each calling the program's
 *  public entry points. Every function returns materialised outputs. */
object Ops {

  final case class Found(snapshot: DataFrame, clusters: DataFrame)
  final case class Reviewed(state: DataFrame, backup: DataFrame, applied: DataFrame, refind: DataFrame)

  /** Find, as a user runs it: `Pipeline.run`, up to the materialised
   *  cluster table. */
  def find(ctx: RunContext, corpus: DataFrame, cfg: DedupConfig): Found = {
    val res = Pipeline.run(ctx, corpus, cfg)
    Found(res.snapshot, res.clusters)
  }

  /**
   * Find with one span per layer: the stages of `Pipeline.run`, re-wired one
   * after another so that each call's Spark work is attributed to it alone.
   * Every output is materialised through `RunContext.stage` with the flags
   * `Pipeline.run` uses; the one addition is the substring gram-pair stage,
   * which `Pipeline.run` fuses into `substring_pairs` and which is staged
   * here so its cost and its verify yield can be read apart. The caller
   * asserts that the cluster table equals the untraced one.
   */
  def tracedFind(ctx: RunContext, corpus: DataFrame, cfg: DedupConfig, tr: Tracer,
                 count: DataFrame => Long): Found = {
    require(!cfg.substringViaSuffixArray, "the traced find mirrors the sampled substring path only")
    val corpusK = ExactDedup.validRows(corpus).withColumn("rkey", ExactDedup.rkey)
    val snapshot = tr.span("ExactDedup.snapshot") {
      ctx.stage("snapshot") { ExactDedup.snapshot(ExactDedup.withHashes(corpus, cfg.quick)) }
    }
    val nCorpusRows = corpus.count()
    val uniq = tr.span("NearDup.uniq") {
      val u = ctx.stage("uniq", materialize = false) {
        val deduped =
          if (nCorpusRows <= cfg.repBroadcastMaxRows) NearDup.dedupedByContentBroadcast(corpusK)
          else NearDup.dedupedByContent(corpusK)
        deduped.select(xxhash64(col("rkey")).as("id"),
          NearDup.shingleCol(col("content"), cfg.shingleN).as("shingles"),
          Substring.rollingCol(col("content"), cfg.gramWidth, cfg.sampleMask).as("grams"))
      }
      tr.spans("NearDup.uniq").rowsOut = u.count()
      u
    }
    val shingles = ctx.stage("shingles", materialize = false, persist = false) {
      uniq.select(col("id"), col("shingles"), size(col("shingles")).as("n_shingles"))
        .where(col("n_shingles") > 0)
    }
    val signatures = tr.span("NearDup.signatures") {
      ctx.stage("signatures") { NearDup.signaturesById(shingles, cfg) }
    }
    val candidates = tr.span("NearDup.candidates") {
      ctx.stage("candidates") {
        val bandRows = signatures.count() * cfg.bands
        if (cfg.pruneSingletons && bandRows > cfg.pruneShardedMaxRows)
          NearDup.candidateIdPairsBandRanged(signatures, cfg, s"${ctx.runDir}/candidates_ranges", _ => ())
        else {
          val banded = NearDup.bandedById(signatures, cfg)
          val pruned =
            if (cfg.pruneSingletons && bandRows >= cfg.pruneMinRows) {
              if (bandRows <= cfg.pruneMaxRows)
                SeenTwice.prune(banded, "band_hash", SeenTwice.autoLog2m(bandRows))
              else {
                val (l2, sb) = SeenTwice.autoShardedBits(bandRows)
                SeenTwice.pruneSharded(banded, "band_hash", l2, sb)
              }
            } else banded
          NearDup.candidateIdPairs(pruned, cfg, _ => ())
        }
      }
    }
    val nearPairs = tr.span("NearDup.verify") {
      ctx.stage("near_pairs") {
        NearDup.verifyCandidatesById(candidates, shingles, cfg, register = Some(ctx.registerPersist))
      }
    }
    val gramPairs = tr.span("Substring.gramPairs") {
      ctx.stage("substring_gram_pairs") {
        val gramDf = uniq.select(col("id"), explode(col("grams")).as("gram"))
        val gramRowsEst = nCorpusRows * 10
        val gramsPruned =
          if (cfg.pruneSingletons && gramRowsEst >= cfg.pruneMinRows && gramRowsEst <= cfg.pruneMaxRows)
            SeenTwice.prune(gramDf, "gram", SeenTwice.autoLog2m(gramRowsEst))
          else if (cfg.pruneSingletons && gramRowsEst > cfg.pruneMaxRows &&
                   gramRowsEst <= cfg.pruneShardedMaxRows) {
            val (l2, sb) = SeenTwice.autoShardedBits(gramRowsEst)
            SeenTwice.pruneSharded(gramDf, "gram", l2, sb)
          } else gramDf
        Substring.gramPairs(gramsPruned, cfg.minSharedGrams, cfg.maxBucketSize)
      }
    }
    val subPairs = tr.span("Substring.verify") {
      ctx.stage("substring_pairs") {
        Substring.verifiedSubstringPairs(gramPairs,
          corpusK.select(xxhash64(col("rkey")).as("rkey"), col("content")), cfg.gramWidth,
          register = Some(ctx.registerPersist))
      }
    }
    val clusters = tr.span("Clustering.clusters") {
      ctx.stage("clusters") {
        val baseRep = snapshot.select(col("rkey"),
          coalesce(col("symlink_source"), col("rkey")).as("rep0"))
        val repPairs = nearPairs.select(col("a_id").as("src"), col("b_id").as("dst"))
          .union(subPairs.select(col("a_key").as("src"), col("b_key").as("dst")))
        Clustering.clusterTableCollapsed(corpusK.select("rkey", "repo", "path", "commit"), baseRep, repPairs)
      }
    }
    for ((name, df) <- Seq("ExactDedup.snapshot" -> snapshot, "NearDup.signatures" -> signatures,
                           "NearDup.candidates" -> candidates, "NearDup.verify" -> nearPairs,
                           "Substring.gramPairs" -> gramPairs, "Substring.verify" -> subPairs,
                           "Clustering.clusters" -> clusters))
      tr.spans(name).rowsOut = count(df)
    Found(snapshot, clusters)
  }

  /**
   * Review: the reference's validate → apply loop over the exact-duplicate
   * snapshot. Starts from the user-edited snapshot and the planted current
   * state (`Snapshots.editedSnapshot`, `Snapshots.plantedState`), validates,
   * takes the backup and the applied state, writes both as catalog versions,
   * and re-runs find over the applied state with `skipDeduped`.
   */
  def review(spark: SparkSession, ctx: RunContext, corpus: DataFrame, table: String,
             tr: Option[Tracer], count: DataFrame => Long = _ => 0L): Reviewed = {
    def span[A](name: String)(body: => A): A = tr.fold(body)(_.span(name)(body))
    val h = ExactDedup.withHashes(corpus)
    val (state, validated) = span("Snapshots.validate") {
      val st = Snapshots.plantedState(h).localCheckpoint()
      (st, Snapshots.validateState(Snapshots.editedSnapshot(h).localCheckpoint(), st).localCheckpoint())
    }
    val (backup, applied) = span("Snapshots.apply") {
      (Snapshots.backupRows(validated, state).localCheckpoint(),
       Snapshots.appliedState(validated, state).localCheckpoint())
    }
    span("CatalogIO.writeVersion") {
      ParquetCatalog.writeVersion(spark, s"${table}_backup", backup)
      ParquetCatalog.writeVersion(spark, table, applied)
    }
    val refind = span("Snapshots.refind") {
      ctx.stage("review_refind") {
        Snapshots.snapshotFromState(ParquetCatalog.readCanonical(spark, table), skipDeduped = true)
      }
    }
    for (t <- tr; (name, df) <- Seq("Snapshots.validate" -> validated, "Snapshots.apply" -> applied,
                                    "CatalogIO.writeVersion" -> applied, "Snapshots.refind" -> refind))
      t.spans(name).rowsOut = count(df)
    Reviewed(state, backup, applied, refind)
  }

  /** Order-independent digest: row count, xor and low-word sum of a 64-bit
   *  hash over every column. */
  def digest(df: DataFrame): String = {
    val h = xxhash64(df.columns.sorted.map(col).toIndexedSeq: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), bit_xor(col("h")), sum(col("h").bitwiseAND(0xffffffffL)))
      .head()
    f"${r.getLong(0)}:${r.getLong(1)}%016x:${if (r.isNullAt(2)) 0L else r.getLong(2)}%x"
  }

  /** What the checks of one operation found. */
  final case class Verdict(errors: Seq[String], recallByKind: Map[String, (Long, Long)], digest: String)

  /** Output checks of one operation. The checks are independent Spark jobs
   *  and run concurrently, under the job group `bench.check`. */
  def verify(corpus: DataFrame, validRows: Long, planted: DataFrame,
             found: Found, reviewed: Reviewed): Verdict = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val sc = corpus.sparkSession.sparkContext
    def job[A](body: => A): Future[A] = Future {
      sc.setJobGroup("bench.check", "bench.check")
      try body finally sc.clearJobGroup()
    }
    val snapshot = job {
      val content = corpus.select(col("repo"), col("path"), col("content"))
      val rows = found.snapshot.count()
      val ok = found.snapshot.join(content, Seq("repo", "path"))
        .where(col("group_id") === sha2(col("content").cast("binary"), 256)).count()
      if (ok == rows) None else Some(s"snapshot: ${rows - ok} of $rows rows have group_id != sha256(content)")
    }
    val clusters = job {
      val n = found.clusters.count()
      val keys = found.clusters.select("repo", "path", "commit").distinct().count()
      if (n == validRows && keys == validRows) None
      else Some(s"clusters: $n rows, $keys distinct keys, expected $validRows valid corpus rows")
    }
    val restored = job(digest(Snapshots.restore(reviewed.applied, reviewed.backup)))
    val state = job(digest(reviewed.state))
    val recall = job(recallCounts(planted, found.clusters))
    val digests = Seq(found.clusters, reviewed.applied, reviewed.refind).map(df => job(digest(df)))
    def get[A](f: Future[A]): A = Await.result(f, Duration.Inf)
    val errors = Seq(get(snapshot), get(clusters),
      if (get(restored) == get(state)) None
      else Some("review: restore(applied, backup) differs from the pre-apply state")).flatten
    Verdict(errors, get(recall), digests.map(get).mkString("/"))
  }

  /** Planted pairs per kind: `kind -> (pairs, pairs whose two rows share a
   *  cluster_id)`. */
  def recallCounts(planted: DataFrame, clusters: DataFrame): Map[String, (Long, Long)] = {
    val ids = clusters.select(col("rkey"), col("cluster_id"))
    planted
      .join(ids.toDF("a", "ca"), Seq("a"), "left_outer")
      .join(ids.toDF("b", "cb"), Seq("b"), "left_outer")
      .groupBy("kind")
      .agg(count(lit(1)), sum(when(col("ca") === col("cb"), 1L).otherwise(0L)))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
  }
}
