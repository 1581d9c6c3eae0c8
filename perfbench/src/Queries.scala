package graftbench

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/**
 * The query pass of the traced run: a fixed subset of `SparkEntry.queries`
 * over small seeded tables in the driver's schema (`documents`,
 * `embeddings`, `events`). The subset covers the layers the pipeline
 * workloads never reach (TextAnalysis, SuffixArray, Similarity's ANN and
 * IVF paths, Multimodal, the event window, the streaming dedup core) and
 * holds the heaviest leaves of the full query set.
 */
object Queries {

  val Names: Seq[String] = Seq(
    "q12_fingerprint", "q35_sa_pairs", "q18_ann_topk", "q26_ivf_topk",
    "q25_media_decode", "q20_events_window", "q27_stream_dedup")

  private val Vocab = Array(
    "spark", "window", "merge", "table", "column", "vector", "stream", "value", "data", "small",
    "join", "filter", "big", "group", "hash", "customer", "sort", "order", "slow", "line",
    "part", "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")
  private val Langs = Array("en", "en", "en", "zh", "es", "fr", "de")
  private val EventTypes = Array("signup", "purchase", "view", "click", "error")

  /** Writes the three tables under `dir`. One document in 25 repeats an
   *  earlier one with a `dup` token appended; embeddings sit around ten
   *  label centroids. */
  def generate(spark: SparkSession, dir: String, seed: Long,
               nDocs: Int = 500, nVecs: Int = 500, nEvents: Int = 5000): Unit = {
    import spark.implicits._
    def text(id: Int): String = {
      val rnd = new java.util.SplittableRandom(seed * 1000003L + id)
      Array.fill(8 + rnd.nextInt(90))(Vocab(rnd.nextInt(Vocab.length))).mkString(" ")
    }
    val docs = (0 until nDocs).map { i =>
      val t = if (i % 25 == 24) text(i - 11) + " dup" else text(i)
      (i.toLong, t, Langs(i % Langs.length), s"src${i % 20}", t.length.toLong)
    }
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val rnd = new java.util.SplittableRandom(seed)
    val centroids = Array.fill(10, 64)(rnd.nextDouble() * 2 - 1)
    val vecs = (0 until nVecs).map { i =>
      val label = i % 10
      val v = centroids(label).map(_ + (rnd.nextDouble() - 0.5))
      val norm = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(x => (x / norm).toFloat), label)
    }
    vecs.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val events = (0 until nEvents).map { i =>
      (i.toLong, new Timestamp(t0 + (rnd.nextDouble() * 30 * 86400000L).toLong), rnd.nextInt(1500).toLong,
        EventTypes(rnd.nextInt(EventTypes.length)), math.round(rnd.nextDouble() * 20000) / 100.0,
        s"""{"k": ${rnd.nextInt(100)}}""")
    }
    events.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  /** One pass over [[Names]] in a fresh session (the query memo is per
   *  session). Each result is consumed through its every-column digest, so
   *  no column is pruned away. Returns, per query, its wall time and digest,
   *  or the error it threw. */
  def pass(spark: SparkSession, dir: String): Seq[(String, Either[String, (Double, String)])] = {
    val session = spark.newSession()
    Names.map { q =>
      val t0 = System.nanoTime()
      try {
        val d = Ops.digest(SparkEntry.queries(q)(session, dir))
        q -> Right(((System.nanoTime() - t0) / 1e9, d))
      } catch {
        case e: Exception => q -> Left(s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
  }
}
