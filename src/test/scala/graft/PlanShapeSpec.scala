package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.corpus.Corpus
import graft.model.DedupConfig
import graft.operators.{ExactDedup, NearDup, Snapshots, Substring}

/**
 * Physical-plan shape regressions — the scale rules the operators document
 * must stay visible in `explain`:
 *
 *  1. no Exchange ever carries the `content` column (content stays in the
 *     scan stage; hashes/projections travel instead) — the 100 TB design
 *     rule of ExactDedup/NearDup, and the round-1→2 scaling fix;
 *  2. the similarity interior exchanges narrow key/id columns, not strings
 *     where an id form exists;
 *  3. the review path reads each input as few times as its rule needs;
 *  4. the review path never changes case through Spark's ICU case mapping;
 *  5. a stage's metrics tally keeps rows inside generated code: no encoder
 *     round trip around a stage output.
 *
 * Checked against `explain("formatted")` operator blocks: every block
 * belonging to an Exchange is scanned for the forbidden column name, so the
 * assertion survives plan-id churn and AQE wrapping.
 */
class PlanShapeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private lazy val corpus = Corpus.synthetic(spark, 300, seed = 11L).toDF()
  private lazy val corpusK =
    ExactDedup.validRows(corpus).withColumn("rkey", ExactDedup.rkey)
  private val cfg = DedupConfig()

  /** Operator blocks of the formatted explain whose header names `op`. */
  private def blocks(df: DataFrame, op: String): Seq[String] = {
    val txt = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    txt.split("\n\n").toSeq.filter(b =>
      b.linesIterator.exists(l => l.matches(s"^\\(\\d+\\) $op.*")))
  }

  /** Operator blocks of the formatted explain that are Exchanges. */
  private def exchangeBlocks(df: DataFrame): Seq[String] = blocks(df, "Exchange")

  /** Parquet scan blocks of the formatted explain that read directory `dir`. */
  private def scansOf(df: DataFrame, dir: String): Int =
    blocks(df, "Scan parquet").count(_.contains(s"/$dir]"))

  private def assertNoContentInExchanges(df: DataFrame, what: String): Unit = {
    val bad = exchangeBlocks(df).filter(_.contains("content#"))
    assert(bad.isEmpty,
      s"$what: Exchange carries the content column:\n${bad.mkString("\n---\n")}")
  }

  test("exact-dup grouping never shuffles content") {
    assertNoContentInExchanges(
      ExactDedup.duplicateGroups(ExactDedup.withHashes(corpus)), "duplicateGroups")
    assertNoContentInExchanges(
      ExactDedup.snapshot(ExactDedup.withHashes(corpus)), "snapshot")
  }

  test("near-dup pipeline (dedup-then-project form) never shuffles content") {
    // register variant: keeps the returned plan LAZY (inspectable) and hands
    // us the persists to release — the default path is eager + self-cleaning
    // (PersistHygieneSpec).
    val persists = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    try assertNoContentInExchanges(
      NearDup.verifiedPairs(corpusK, cfg, register = Some(persists += _)), "verifiedPairs")
    finally persists.foreach(_.unpersist(false))
  }

  test("similarity queries dedup content by key: no payload aggregate, no content exchange") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.Min
    import org.apache.spark.sql.execution.{MapGroupsExec, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.SortAggregateExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.util.QueryExecutionListener
    import scala.jdk.CollectionConverters._
    // every executed node, through adaptive stages and cached relations;
    // `grouped` marks the nodes between a typed grouping (MapGroupsExec) and
    // the exchange that feeds it, that exchange included
    def nodes(p: SparkPlan, grouped: Boolean = false): Seq[(SparkPlan, Boolean)] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case r: ReusedExchangeExec => Seq(r.child)
        case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
        case o => o.children
      }
      val passes = p match {
        case _: MapGroupsExec => true
        case _: ShuffleExchangeExec => false
        case _ => grouped
      }
      (p, grouped) +: kids.flatMap(nodes(_, passes))
    }
    val dir = "/root/testdata/sf0.001"
    for (q <- Seq("q06_near_pairs", "q07_clusters_all", "q08_simhash_pairs", "q09_substring_pairs",
                  "q13_rolling_pairs", "q28_hot_grams", "q35_sa_pairs", "q37_stream_near_pairs")) {
      val session = spark.newSession()
      val qes = new java.util.concurrent.CopyOnWriteArrayList[QueryExecution]()
      val listener = new QueryExecutionListener {
        def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = { qes.add(qe); () }
        def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      session.listenerManager.register(listener)
      try {
        SparkEntry.queries(q)(session, dir).collect()
        // the listener bus is ordered: once the marker action is seen, every
        // execution of the query has been delivered
        session.range(1).toDF("plan_marker").collect()
        val deadline = System.nanoTime() + 60e9.toLong
        def marked = qes.asScala.exists(_.analyzed.output.exists(_.name == "plan_marker"))
        while (!marked && System.nanoTime() < deadline) Thread.sleep(50)
        assert(marked, s"$q: executions never reached the listener")
      } finally session.listenerManager.unregister(listener)
      val all = qes.asScala.toSeq.flatMap(qe => nodes(qe.executedPlan))
      // the one sort aggregate allowed is the narrow (cid → min rkey) key set
      val payloadAggs = all.collect { case (a: SortAggregateExec, _) => a }.filterNot(a =>
        a.groupingExpressions.map(_.name) == Seq("cid") &&
          a.aggregateExpressions.forall(_.aggregateFunction.isInstanceOf[Min]))
      assert(payloadAggs.isEmpty, s"$q: sort aggregate over a payload:\n${payloadAggs.mkString("\n")}")
      // q37's streaming first-sight election groups content by sha256 (its
      // state key; see NearDupStream) — the one content exchange allowed
      val content = all.collect { case (e: ShuffleExchangeExec, false) => e }
        .filter(_.child.output.exists(_.name == "content"))
      assert(content.isEmpty, s"$q: exchange carries content:\n${content.mkString("\n")}")
    }
  }

  test("broadcast content-dedup keeps the corpus side out of exchanges entirely") {
    val uniq = NearDup.dedupedByContentBroadcast(corpusK).select(
      xxhash64(col("rkey")).as("id"),
      NearDup.shingleCol(col("content"), cfg.shingleN).as("shingles"),
      Substring.rollingCol(col("content"), cfg.gramWidth, cfg.sampleMask).as("grams"))
    assertNoContentInExchanges(uniq, "dedupedByContentBroadcast+projections")
    // and the only shuffle in the subtree is the narrow (cid, rkey) aggregate
    val ex = exchangeBlocks(uniq)
    assert(ex.nonEmpty, "expected the narrow representative-key aggregate exchange")
    assert(ex.forall(b => b.contains("cid#") || b.contains("rkey#")),
      s"unexpected exchange shape:\n${ex.mkString("\n---\n")}")
  }

  test("substring pair generation shuffles only (gram, id) — no strings in the long-keyed form") {
    val uniqGrams = NearDup.dedupedByContentBroadcast(corpusK).select(
      xxhash64(col("rkey")).as("id"),
      explode(Substring.rollingCol(col("content"), cfg.gramWidth, cfg.sampleMask)).as("gram"))
    val pairs = Substring.gramPairs(uniqGrams, cfg.minSharedGrams, cfg.maxBucketSize)
    assertNoContentInExchanges(pairs, "gramPairs(long-keyed)")
  }

  test("stage tally: no object round trip over array<bigint>, one metrics row per partition") {
    // codegen, then interpreted (no whole-stage code, no generated predicate)
    val interpreted = spark.newSession()
    interpreted.conf.set("spark.sql.codegen.wholeStage", "false")
    interpreted.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    for ((session, mode) <- Seq(spark -> "codegen", interpreted -> "interpreted")) {
      val ctx = graft.runtime.RunContext(session,
        java.nio.file.Files.createTempDirectory("graft-tally").toString)
      val df = ctx.stage("arrays", materialize = false, persist = false) {
        session.range(0, 1000, 1, 4).select(col("id"), array(col("id"), col("id") + 1).as("arr"))
      }
      for (op <- Seq("DeserializeToObject", "MapPartitions", "SerializeFromObject"))
        assert(blocks(df, op).isEmpty, s"$mode: the stage output plans $op")
      assert(df.collect().length === 1000)
      val m = ctx.metrics.toDF().where(col("stage") === "arrays").collect()
      assert(m.map(_.getAs[Int]("partition_id")).sorted.toSeq === (0 until 4), mode)
      assert(m.map(_.getAs[Long]("rows")).sum === 1000L, mode)
    }
  }

  test("review path: apply-side outputs scan validated once, fixtures scan hashed sparingly") {
    val dir = java.nio.file.Files.createTempDirectory("graft-planshape").toFile
    def reload(df: DataFrame, name: String): DataFrame = {
      val p = new java.io.File(dir, name).getPath
      df.write.parquet(p)
      spark.read.parquet(p)
    }
    try {
      val h = reload(ExactDedup.withHashes(corpus), "hashed")
      val st = reload(Snapshots.plantedState(h), "state")
      val v = reload(Snapshots.validateState(Snapshots.editedSnapshot(h), st), "validated")
      // every apply-side output reads the one pending-row set: one scan of v
      Seq("appliedState" -> Snapshots.appliedState(v, st),
          "backupRows" -> Snapshots.backupRows(v, st),
          "pendingStats" -> Snapshots.pendingStats(v),
          "dryRun" -> Snapshots.dryRun(v)).foreach { case (what, df) =>
        assert(scansOf(df, "validated") === 1, s"$what scans validated more than once")
      }
      // the planted donors come from one aggregate over hashed
      assert(scansOf(Snapshots.editedSnapshot(h), "hashed") <= 4, "editedSnapshot")
      assert(scansOf(Snapshots.plantedState(h), "hashed") <= 2, "plantedState")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("review path: no Upper/Lower/InitCap in the fixture, validate, apply, refind or parse plans") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.{InitCap, Lower, Upper}
    def caseMaps(df: DataFrame): Seq[String] =
      df.queryExecution.analyzed.flatMap(_.expressions.flatMap(_.collect {
        case e @ (_: Upper | _: Lower | _: InitCap) => e.prettyName
      }))
    val h = ExactDedup.withHashes(corpus).localCheckpoint()
    val edited = Snapshots.editedSnapshot(h)
    val st = Snapshots.plantedState(h)
    // downstream operators get checkpointed inputs, so each plan is its own
    val v = Snapshots.validateState(edited.localCheckpoint(), st.localCheckpoint())
    val vc = v.localCheckpoint()
    val stc = st.localCheckpoint()
    val lines = Seq("[AB12]", "keep p").zipWithIndex
      .map { case (l, i) => (i.toLong + 1, l) }.toDF("line_no", "line")
    val offenders = Seq("editedSnapshot" -> edited, "plantedState" -> st, "validateState" -> v,
        "appliedState" -> Snapshots.appliedState(vc, stc),
        "backupRows" -> Snapshots.backupRows(vc, stc),
        "snapshotFromState" -> Snapshots.snapshotFromState(stc, skipDeduped = true),
        "Textformat.parseTable" -> graft.operators.Textformat.parseTable(lines))
      .map { case (what, df) => what -> caseMaps(df) }.filter(_._2.nonEmpty)
    assert(offenders.isEmpty, "plans that change case through ICU")
  }
}
