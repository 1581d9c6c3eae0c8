package graft.functions

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRow
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StructField, StructType}

/**
 * Shared run-scan pair generator for every bucket-join stage (LSH bands,
 * gram inverted index, suffix-array window classes): given `(bucket, key)`
 * rows sorted by (bucket, key) within a partition, emit all unordered
 * key-pairs per bucket run, skipping runs larger than `cap` (skew guard)
 * with bounded buffering — a mega-bucket holds at most cap+1 keys in
 * memory, then drains without emitting.
 */
object BucketScan extends Serializable {
  /**
   * The one pair operator: ONE co-locating exchange on `buckets`, a local
   * sort by (`buckets`, `key`), then [[pairs]] over each partition. Output
   * `(a_key, b_key)` typed like the `key` column, smaller key first in
   * Spark's own collation (signed longs, UTF-8 binary strings — DuckDB's
   * default collation too): the sort already orders every run's keys, so
   * nothing here compares keys. Any bucket and key column types share this
   * one path; a multi-column bucket (`(cid, cid2)`) compares structurally.
   *
   * A groupBy over ~all-distinct bucket keys would hash-aggregate them with
   * no map-side combine benefit into giant spilling hash maps; the sorted
   * run-scan replaces that with this single exchange.
   */
  def bucketPairs(df: DataFrame, buckets: Seq[String], key: String, cap: Int,
                  onDrop: Long => Unit = _ => ()): DataFrame = {
    val k = df.schema(key)
    val out = Encoders.row(StructType(Seq(
      StructField("a_key", k.dataType, k.nullable), StructField("b_key", k.dataType, k.nullable))))
    val cols = buckets :+ key
    val nb = buckets.size
    df.select(cols.map(col): _*)
      .repartition(buckets.map(col): _*)
      .sortWithinPartitions(cols.map(col): _*)
      .mapPartitions { rows =>
        val keyed = rows.map(r => (if (nb == 1) r.get(0) else Seq.tabulate(nb)(r.get), r.get(nb)))
        pairs(keyed, cap, onDrop).map { case (a, b) => new GenericRow(Array[Any](a, b)): Row }
      }(out)
  }

  /** Pairs of each bucket run, in arrival order: with keys sorted within a
   *  run every pair comes out smaller-first. `onDrop(runLength)` fires once
   *  per bucket run skipped by the cap — the north_rule "report capped
   *  buckets, never silently" hook, fed by the pipeline with Spark
   *  accumulators at zero extra pass cost (the run length is counted while
   *  draining anyway). Task retries may re-fire it; the counts are
   *  diagnostics, not query results. */
  def pairs[B, K](it: Iterator[(B, K)], cap: Int,
                  onDrop: Long => Unit = _ => ()): Iterator[(K, K)] =
    new Iterator[(K, K)] {
      private val buf = new scala.collection.mutable.ArrayBuffer[K]()
      private var pending: Iterator[(K, K)] = Iterator.empty
      private var cur: Option[(B, K)] = if (it.hasNext) Some(it.next()) else None
      private def refill(): Unit = {
        while (!pending.hasNext && cur.isDefined) {
          val bucket = cur.get._1
          var runLen = 0L
          buf.clear()
          while (cur.isDefined && cur.get._1 == bucket) {
            runLen += 1
            if (buf.length <= cap) buf += cur.get._2
            cur = if (it.hasNext) Some(it.next()) else None
          }
          if (buf.length > 1 && buf.length <= cap) {
            val ids = buf.toArray[Any]
            pending = for {
              i <- ids.indices.iterator
              j <- ((i + 1) until ids.length).iterator
            } yield (ids(i).asInstanceOf[K], ids(j).asInstanceOf[K])
          } else if (runLen > cap) onDrop(runLen)
        }
      }
      def hasNext: Boolean = { refill(); pending.hasNext }
      def next(): (K, K) = { refill(); pending.next() }
    }

  /** UTF-8 byte-wise (unsigned) String ordering — Spark's `UTF8String`
   *  binary collation and DuckDB's default collation, exactly. Java's
   *  `String.compareTo` compares UTF-16 code UNITS, which misorders
   *  supplementary-plane characters against U+E000..U+FFFF; pass this
   *  explicitly wherever a driver-side choice between row keys must match
   *  the engines on arbitrary (non-ASCII) keys. */
  val utf8Ordering: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int =
      java.util.Arrays.compareUnsigned(
        a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}
