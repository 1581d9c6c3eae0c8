package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.model.DedupConfig
import graft.runtime.RunContext
import graft.sources.ParquetCatalog

/**
 * Benchmark entry: one JVM, one local SparkSession, one workload.
 *
 *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
 *        --work <dir> --digests <dir> --cores <n>
 *
 * Set-up starts the session and generates the workload's corpus from the
 * seed as parquet. Then operations run back to back, starting in the cold
 * JVM, until their timed phases add up to `--seconds`. One operation is find
 * (`Pipeline.run`) followed by review (validate → apply → catalog write →
 * re-find); its outputs are checked after both timed phases. With
 * `--trace 1`, a warm untraced operation and a traced one follow, and the
 * per-layer metrics replace the end-to-end ones. The last line of standard
 * output is the JSON result.
 */
object Main {

  final case class Workload(name: String, nDocs: Long, forked: Boolean)

  val Workloads: Map[String, Workload] = Seq(
    Workload("code_pipeline", 9000L, forked = false),
    Workload("forks_cycle", 900L, forked = true)
  ).map(w => w.name -> w).toMap

  val SpanNames: Seq[String] = Seq(
    "ExactDedup.snapshot", "NearDup.uniq", "NearDup.signatures", "NearDup.candidates",
    "NearDup.verify", "Substring.gramPairs", "Substring.verify", "Clustering.clusters",
    "Snapshots.validate", "Snapshots.apply", "CatalogIO.writeVersion", "Snapshots.refind")

  final case class OpTimes(findS: Double, reviewS: Double)

  private def now(): Long = System.nanoTime()
  private def mark(what: String): Unit = System.err.println(
    f"[bench] t=${(System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3}%.1f s $what")
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(Double.NaN)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = Workloads.getOrElse(args("workload"),
      sys.error(s"unknown workload ${args("workload")}; known: ${Workloads.keys.mkString(", ")}"))
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val cores = args("cores").toInt
    val work = Paths.get(args("work")).toAbsolutePath
    val digests = Paths.get(args("digests")).toAbsolutePath.resolve(s"${workload.name}-$seed")

    deleteTree(work)
    Files.createDirectories(work)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-bench-${workload.name}")
      .config("spark.sql.shuffle.partitions", (4 * cores).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    mark("session ready")
    spark.sparkContext.setLogLevel("ERROR")
    try run(spark, workload, seed, seconds, trace, work, digests)
    finally {
      spark.stop()
      deleteTree(work)
    }
  }

  private def run(spark: SparkSession, workload: Workload, seed: Long, seconds: Double,
                  trace: Boolean, work: Path, digests: Path): Unit = {
    val cfg = DedupConfig()
    val sc = spark.sparkContext

    // ---- set-up: JVM, session and inputs; the inputs are generated three
    // times and only the median generation counts towards setup_s
    val corpusPath = work.resolve("corpus").toString
    val genTimes = (1 to 3).map { _ =>
      val t0 = now()
      val df =
        if (workload.forked) Inputs.forksCorpus(spark, workload.nDocs, seed)
        else Inputs.codeCorpus(spark, workload.nDocs, seed)
      df.write.mode("overwrite").parquet(corpusPath)
      secs(t0)
    }
    mark("inputs generated")
    val corpus = spark.read.parquet(corpusPath)
    val nRows = corpus.count()
    val validRows = graft.operators.ExactDedup.validRows(corpus).count()
    val planted = Inputs.plantedPairs(corpus, workload.nDocs, workload.forked)

    var attempted = 0
    var failed = 0
    val problems = Seq.newBuilder[String]
    var firstDigest: Option[String] = None
    val recalls = Seq.newBuilder[(Double, Double)]

    /** The `what` digest an earlier run of this build recorded for this
     *  seed; the first run records `d`. */
    def seedDigest(what: String, d: String): String = {
      val f = digests.resolve(what)
      if (!Files.exists(f)) {
        Files.createDirectories(digests)
        Files.write(f, d.getBytes("UTF-8"))
      }
      new String(Files.readAllBytes(f), "UTF-8").trim
    }

    /** Row count run outside every span's job group. */
    def metaCount(df: DataFrame): Long = {
      sc.setJobGroup("bench.meta", "bench.meta")
      try df.count() finally sc.clearJobGroup()
    }

    /** One checked operation. Returns its phase times, or None when it
     *  threw or an output check failed (either counts as a failure). */
    def operation(i: Int, tracer: Option[Tracer]): Option[OpTimes] = {
      attempted += 1
      val runDir = work.resolve(s"op$i")
      val table = s"bench_state_$i"
      val ctx = RunContext(spark, runDir.toString)
      try {
        val t0 = now()
        val found = tracer match {
          case None => Ops.find(ctx, corpus, cfg)
          case Some(tr) => Ops.tracedFind(ctx, corpus, cfg, tr, metaCount)
        }
        val findS = secs(t0)
        val t1 = now()
        val reviewed = Ops.review(spark, ctx, corpus, table, tracer, metaCount)
        val reviewS = secs(t1)

        val t2 = now()
        val v = Ops.verify(corpus, validRows, planted, found, reviewed)
        def share(kinds: Iterable[(Long, Long)]) = {
          val (n, hit) = kinds.foldLeft((0L, 0L)) { case ((n, h), (n1, h1)) => (n + n1, h + h1) }
          hit.toDouble / n
        }
        val recall = share(v.recallByKind.collect { case (k, c) if k != "sub" => c })
        val subRecall = share(v.recallByKind.get("sub"))
        val d = v.digest
        if (firstDigest.isEmpty) firstDigest = Some(d)
        val earlier = seedDigest("operation", d)
        recalls += ((recall, subRecall))
        System.err.println(f"[bench] op $i find=$findS%.2f s review=$reviewS%.2f s checks=${secs(t2)}%.2f s recall=$recall%.4f substring_recall=$subRecall%.4f")
        val all = v.errors ++
          (if (recall < 0.99) Seq(f"pair_recall $recall%.4f < 0.99 (by kind: " +
            v.recallByKind.toSeq.sorted.map { case (k, (n, h)) => s"$k=$h/$n" }.mkString(", ") + ")") else Nil) ++
          (if (firstDigest.get != d) Seq(s"output digest $d differs from ${firstDigest.get}") else Nil) ++
          (if (earlier != d) Seq(s"output digest $d differs from an earlier run of seed $seed: $earlier") else Nil)
        if (all.nonEmpty) {
          failed += 1
          all.foreach(e => problems += s"op $i: $e")
          None
        } else Some(OpTimes(findS, reviewS))
      } catch {
        case e: Exception =>
          failed += 1
          problems += s"op $i: ${e.getClass.getSimpleName}: ${e.getMessage}"
          None
      } finally {
        ctx.cleanup()
        ParquetCatalog.dropAll(spark, table)
        ParquetCatalog.dropAll(spark, s"${table}_backup")
        deleteTree(runDir)
      }
    }

    val setupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3 -
      genTimes.sum + median(genTimes)

    // ---- timed window (tracing off), starting in the cold JVM: operations
    // run until their timed phases add up to `seconds`; checks and clean-up
    // do not count
    val times = Seq.newBuilder[OpTimes]
    var measured = 0.0
    var i = 0
    while (i == 0 || measured < seconds) {
      operation(i, None).foreach { t => times += t; measured += t.findS + t.reviewS }
      i += 1
    }
    val ok = times.result()

    val metrics = Seq.newBuilder[(String, Double, String)]
    if (!trace) {
      if (ok.nonEmpty) {
        metrics += (("files_per_s", median(ok.map(t => nRows / t.findS)), "files/s"))
        metrics += (("apply_s", median(ok.map(_.reviewS)), "s"))
      }
      recalls.result().map(_._1).minOption.foreach(r => metrics += (("pair_recall", r, "ratio")))
      metrics += (("setup_s", setupS, "s"))
      metrics += (("peak_rss_mb", peakRssMb(), "MB"))
    } else {
      // a warm untraced reference operation, then the traced one
      val reference = operation(i, None)
      val tr = new Tracer(sc)
      val gc0 = gcSeconds()
      val tt = now()
      val traced = operation(i + 1, Some(tr))
      val tracedS = secs(tt)
      val gcS = gcSeconds() - gc0
      tr.drain()
      tr.close()
      for (r <- reference; _ <- traced)
        metrics += (("trace.overhead_s", tracedS - (r.findS + r.reviewS), "s"))
      for (n <- SpanNames; s <- tr.spans.get(n)) {
        metrics += ((s"$n.wall_s", s.wallS, "s"))
        metrics += ((s"$n.task_s", s.taskMs / 1e3, "s"))
        metrics += ((s"$n.skew", s.skew, "ratio"))
        metrics += ((s"$n.shuffle_mb", s.shuffleBytes / 1048576.0, "MB"))
        metrics += ((s"$n.spill_mb", s.spillBytes / 1048576.0, "MB"))
        metrics += ((s"$n.rows_out", s.rowsOut.toDouble, "rows"))
      }
      def rows(n: String) = tr.spans.get(n).map(_.rowsOut.toDouble).getOrElse(Double.NaN)
      metrics += (("NearDup.uniq.distinct_ratio", rows("NearDup.uniq") / nRows, "ratio"))
      metrics += (("NearDup.verify.yield", rows("NearDup.verify") / rows("NearDup.candidates"), "ratio"))
      metrics += (("Substring.verify.yield", rows("Substring.verify") / rows("Substring.gramPairs"), "ratio"))
      recalls.result().map(_._2).minOption.foreach(r => metrics += (("Substring.recall", r, "ratio")))
      metrics += (("gc_s", gcS, "s"))
      printSpanTable(tr, nRows)

      val queryDir = work.resolve("queries").toString
      Queries.generate(spark, queryDir, seed)
      val results = Queries.pass(spark, queryDir)
      attempted += results.size
      for ((q, r) <- results) r match {
        case Right((s, _)) =>
          metrics += ((s"$q.wall_s", s, "s"))
          println(f"$q%-24s ${s}%8.3f s")
        case Left(err) =>
          failed += 1
          problems += s"$q: $err"
      }
      val qd = results.collect { case (q, Right((_, d))) => s"$q=$d" }.mkString(" ")
      val earlier = seedDigest("queries", qd)
      if (earlier != qd) {
        failed += 1
        problems += s"query digests $qd differ from an earlier run of seed $seed: $earlier"
      }
    }

    problems.result().foreach(p => System.err.println(s"[bench] FAILED $p"))
    System.err.println(f"[bench] ${workload.name} seed=$seed rows=$nRows " +
      f"ops=${ok.size} set-up=$setupS%.2f s input-generation=${genTimes.map(t => f"$t%.2f").mkString("/")} s")
    val m = metrics.result().filter { case (_, v, _) => !v.isNaN && !v.isInfinite }
    val body = m.map { case (n, v, u) => s""""$n": {"value": $v, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
  }

  private def printSpanTable(tr: Tracer, nRows: Long): Unit = {
    val total = tr.spans.values.map(_.taskMs).sum.max(1L)
    println(f"${"span"}%-24s ${"wall_s"}%8s ${"task_s"}%8s ${"task%"}%6s ${"skew"}%6s ${"shuf_mb"}%8s ${"spill_mb"}%8s ${"rows_out"}%10s")
    for ((n, s) <- tr.spans)
      println(f"$n%-24s ${s.wallS}%8.3f ${s.taskMs / 1e3}%8.3f ${100.0 * s.taskMs / total}%6.1f ${s.skew}%6.2f " +
        f"${s.shuffleBytes / 1048576.0}%8.2f ${s.spillBytes / 1048576.0}%8.2f ${s.rowsOut}%10d")
    println(s"corpus rows: $nRows")
  }
}
