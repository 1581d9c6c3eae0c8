package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}

/** Spark task totals of one span (one job group). */
final class SpanStats {
  var wallS = 0.0
  var rowsOut = 0L
  var taskMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  /** executor run time of every task, per Spark stage */
  val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  /** max ÷ median task time of the span's busiest stage (1.0 when it has a
   *  single task or none). */
  def skew: Double =
    if (stageTasks.isEmpty) 1.0
    else {
      val ts = stageTasks.values.maxBy(_.sum).sorted
      val med = ts(ts.size / 2).max(1L)
      ts.last.toDouble / med
    }
}

/**
 * Per-span Spark accounting. A span is one call into a public function of
 * the program; [[span]] runs it under its own job group, and a listener
 * attributes every task of every job of that group to the span.
 */
final class Tracer(sc: SparkContext) {
  val spans = mutable.LinkedHashMap.empty[String, SpanStats]
  private val stageSpan = mutable.Map.empty[Int, String]
  private val openJobs = mutable.Set.empty[Int]
  @volatile private var lastEventNs = System.nanoTime()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      lastEventNs = System.nanoTime()
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      group.filter(spans.contains).foreach { g =>
        openJobs += e.jobId
        e.stageIds.foreach(stageSpan(_) = g)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      lastEventNs = System.nanoTime()
      openJobs -= e.jobId
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      lastEventNs = System.nanoTime()
      for (g <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
        val s = spans(g)
        s.taskMs += m.executorRunTime
        s.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.diskBytesSpilled
        s.stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty[Long]) += m.executorRunTime
      }
    }
  }
  sc.addSparkListener(listener)

  /** Run `body` as span `name`; its wall time is the call's duration. */
  def span[A](name: String)(body: => A): A = {
    val s = synchronized(spans.getOrElseUpdate(name, new SpanStats))
    sc.setJobGroup(name, name)
    val t0 = System.nanoTime()
    try body
    finally {
      s.wallS += (System.nanoTime() - t0) / 1e9
      sc.clearJobGroup()
    }
  }

  /** Wait until the listener bus has delivered every job of every span. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 20L * 1000000000L
    def settled = synchronized(openJobs.isEmpty) && System.nanoTime() - lastEventNs > 300L * 1000000L
    while (!settled && System.nanoTime() < deadline) Thread.sleep(50)
  }

  def close(): Unit = sc.removeSparkListener(listener)
}
