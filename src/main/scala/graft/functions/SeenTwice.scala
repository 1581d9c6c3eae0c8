package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, Predicate, UnaryExpression}
import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}

import graft.model.DedupConfig

/**
 * Seen-≥2 bitset sketch — the singleton-bucket pruner for the two hottest
 * exchanges in the pipeline (LSH band buckets, rolling-gram buckets).
 *
 * Both stages share the shape `explode → repartition(bucket) → local sort →
 * run-scan`, and on a mostly-unique corpus the overwhelming majority of
 * bucket values occur exactly ONCE — rows that can never form a pair yet pay
 * full freight through the co-locating exchange, the measured scaling
 * limiter at 16 cores (BENCH/PROFILE_r03.md: `candidates` 190M-row sort,
 * t4/t16 = 1.86, the most bandwidth-bound stage). This sketch removes them
 * BEFORE the exchange with one extra pass:
 *
 *  1. Per build partition, build two bitsets over `slot(hash)`: `once` (slot
 *     seen) and `twice` (slot seen again).
 *  2. Merge partials associatively: `twice' = t₁|t₂|(o₁&o₂)`, `once' = o₁|o₂`
 *     (a slot is ≥2 iff some partial saw it twice or two partials saw it).
 *  3. Broadcast `twice`; keep a row iff its slot is marked.
 *
 * EXACT by construction: every bucket with ≥ 2 members marks its slot in
 * every merge order, so no pair-producing row is ever dropped — hash
 * collisions only over-mark (a false positive KEEPS a singleton; the
 * run-scan then emits nothing for it, exactly as before). The sketch trades
 * a perfectly-parallel extra scan (compute, scales ~4× on this VM's probes)
 * for exchange bytes (bandwidth, pinned at ~2× on the same probes) — the
 * direction the 4→16-core profile says to move work.
 *
 * Slot space: the global slot is the top `shardBits + log2mShard` bits of
 * the mixed hash, split into `2^shardBits` shards (top bits) of
 * `2^log2mShard` bits each (low bits, ≤ 2^29 = 64 MB per bitset). At
 * `shardBits = 0` the sketch is one bitset built map-side; above it each
 * build task holds one shard's bitset pair and shards merge in parallel
 * reducers, so total bits can grow to the 2^35 = 4 GB broadcast budget.
 * At load α = rows/slots the singleton false-keep rate is ≈ 1 − e^(−α).
 *
 * One entry point, [[pruneAuto]], picks the geometry from the row count and
 * the `DedupConfig` bounds: pass-through below `pruneMinRows` (the extra
 * scan nets negative) and above `pruneShardedMaxRows` (even 4 GB saturates;
 * the band-range driver, `NearDup.candidateIdPairsBandRanged`, splits the
 * bands so each range re-enters the window); one shard sized at α ≈ 0.25 up
 * to `pruneMaxRows`; sharded above. The arithmetic and the α → cut curve
 * are in BENCH/PROFILE_r05.md.
 */
object SeenTwice {

  /** Global slot of `h`: the top `log2mShard + shardBits` bits of the
   *  Fibonacci-mixed hash (band/gram values are xxhash64/Rabin outputs, but
   *  low-bit regularity is free to guard against). The shard is the top
   *  `shardBits` of it, the slot within the shard the low `log2mShard`. */
  @inline def slot(h: Long, log2mShard: Int, shardBits: Int): Long =
    (h * 0x9E3779B97F4A7C15L) >>> (64 - shardBits - log2mShard)

  /** True iff `h`'s slot is marked in its shard's bitset. */
  def contains(bits: Array[Array[Long]], log2mShard: Int, shardBits: Int,
               h: Long): Boolean = {
    val g = slot(h, log2mShard, shardBits)
    val arr = bits((g >>> log2mShard).toInt)
    val s = (g & ((1L << log2mShard) - 1)).toInt
    ((arr(s >>> 6) >>> (s & 63)) & 1L) == 1L
  }

  /** Smallest `log2m` with load ≤ 0.25 at `rows`, clamped to [20, 29] — the
   *  one-shard size. */
  def autoLog2m(rows: Long): Int = {
    var l = 20
    while (l < 29 && (rows << 2) > (1L << l)) l += 1
    l
  }

  /** Size the sharded sketch: smallest total slot count with load ≤ 0.25,
   *  capped at `maxTotalBits` (2^35 bits = 4 GB broadcast default); per-shard
   *  arrays stay ≤ 2^29 bits (64 MB — reducer/collect-comfortable).
   *  Returns `(log2mShard, shardBits)`. */
  def autoShardedBits(rows: Long, maxTotalBits: Int = 35): (Int, Int) = {
    var total = 20
    while (total < maxTotalBits && (rows << 2) > (1L << total)) total += 1
    val log2mShard = math.min(total, 29)
    (log2mShard, total - log2mShard)
  }

  /** `graft_seen_shard(h)` — the shard id of `h`'s global slot, as a native
   *  codegen expression (Java long arithmetic wraps, so the Fibonacci mix is
   *  ANSI-safe here where a SQL `h * const` would overflow-error). Drives the
   *  build-side repartition so each task holds one shard's bitsets. */
  case class ShardOfExpr(child: Expression, log2mShard: Int, shardBits: Int)
      extends UnaryExpression {
    override def dataType: org.apache.spark.sql.types.DataType =
      org.apache.spark.sql.types.IntegerType
    override def prettyName: String = "graft_seen_shard"
    override def nullSafeEval(input: Any): Any =
      (slot(input.asInstanceOf[Long], log2mShard, shardBits) >>> log2mShard).toInt
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = (int) (graft.functions.SeenTwice.slot($c, $log2mShard, $shardBits) >>> $log2mShard);")
    override protected def withNewChildInternal(newChild: Expression): ShardOfExpr =
      copy(child = newChild)
  }

  /** `graft_seen_twice(h)` — codegen'd bitset membership against a broadcast
   *  sketch; the filter stays inside whole-stage codegen (no ScalaUDF boxing
   *  on a 10⁸-row scan). Plans name a multi-shard filter
   *  `graft_seen_twice_sharded`. */
  case class BitsetContainsExpr(child: Expression, bits: Broadcast[Array[Array[Long]]],
                                log2mShard: Int, shardBits: Int)
      extends UnaryExpression with Predicate {
    override def prettyName: String =
      if (shardBits == 0) "graft_seen_twice" else "graft_seen_twice_sharded"
    override def nullSafeEval(input: Any): Any =
      contains(bits.value, log2mShard, shardBits, input.asInstanceOf[Long])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val bcRef = ctx.addReferenceObj("graftSeenTwiceBc", bits,
        classOf[Broadcast[Array[Array[Long]]]].getName)
      val arr = ctx.addMutableState("long[][]", "graftSeenTwiceBits",
        v => s"$v = (long[][]) $bcRef.value();")
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.SeenTwice.contains($arr, $log2mShard, $shardBits, $c);")
    }
    override protected def withNewChildInternal(newChild: Expression): BitsetContainsExpr =
      copy(child = newChild)
  }

  /** Build the seen-≥2 sketch over `df(colName)` (a LONG column): one
   *  `twice` bitset per shard. Each build partition fills a once/twice pair
   *  per shard it sees, and the pairs merge per shard.
   *
   *  At `shardBits = 0` the column is read map-side and coalesced to at most
   *  `mergeWidth` partials, which tree-merge on their way to the driver: no
   *  row crosses an exchange. Above it the narrow column is repartitioned by
   *  shard (plus a `subSplit`-way intra-shard split so a big shard is still
   *  built by several tasks), so each build task holds one shard's pair
   *  instead of the whole slot space; shards merge in parallel reducers and
   *  only the `twice` halves reach the driver (round-5 ADVICE: collecting
   *  both halves doubled the driver's transient footprint to ~8 GB at the
   *  2^35-slot cap). */
  def sketch(df: DataFrame, colName: String, log2mShard: Int, shardBits: Int = 0,
             subSplit: Int = 4, mergeWidth: Int = 16): Array[Array[Long]] = {
    val nShards = 1 << shardBits
    val nWords = 1 << (log2mShard - 6)
    val narrow = df.select(col(colName))
    // internal-row RDD: getLong(0) straight off the UnsafeRow, no Row boxing
    // on what is deliberately a 10⁸-row scan
    val rows =
      if (shardBits == 0) {
        val rdd = narrow.queryExecution.toRdd
        if (rdd.getNumPartitions > mergeWidth) rdd.coalesce(mergeWidth, shuffle = false) else rdd
      } else narrow.repartition(nShards * subSplit,
          GraftColumnBridge.column(ShardOfExpr(
            GraftColumnBridge.expression(narrow(colName)), log2mShard, shardBits)),
          pmod(xxhash64(narrow(colName)), lit(subSplit)))
        .queryExecution.toRdd
    val partials = rows.mapPartitions { it =>
      // a partition hosts the (shard, sub) groups hashed to it — typically
      // one shard, occasionally a few; allocate lazily per shard seen
      val once = new Array[Array[Long]](nShards)
      val twice = new Array[Array[Long]](nShards)
      val mask = (1L << log2mShard) - 1
      while (it.hasNext) {
        val g = slot(it.next().getLong(0), log2mShard, shardBits)
        val sh = (g >>> log2mShard).toInt
        if (once(sh) == null) {
          once(sh) = new Array[Long](nWords)
          twice(sh) = new Array[Long](nWords)
        }
        val s = (g & mask).toInt
        val w = s >>> 6
        val b = 1L << (s & 63)
        if ((once(sh)(w) & b) != 0L) twice(sh)(w) |= b else once(sh)(w) |= b
      }
      (0 until nShards).iterator.filter(once(_) != null)
        .map(sh => (sh, (once(sh), twice(sh))))
    }
    val mergePair = (a: (Array[Long], Array[Long]), b: (Array[Long], Array[Long])) =>
      if (a == null) b else if (b == null) a else {
        // partials are task-owned deserialized copies: merge in place
        val (o1, t1) = a
        val (o2, t2) = b
        var i = 0
        while (i < nWords) {
          t1(i) = t1(i) | t2(i) | (o1(i) & o2(i))
          o1(i) = o1(i) | o2(i)
          i += 1
        }
        (o1, t1)
      }
    val byShard =
      if (shardBits == 0) // ≤ mergeWidth partials merge on their way to the driver: no shuffle stage
        Option(partials.values.treeAggregate(null: (Array[Long], Array[Long]))(
          mergePair, mergePair, depth = 2)).map(p => 0 -> p._2).toMap
      else partials.reduceByKey(mergePair, math.min(nShards, 64)).mapValues(_._2).collect().toMap
    Array.tabulate(nShards)(sh => byShard.getOrElse(sh, new Array[Long](nWords)))
  }

  /** Marked-slot ratio above which the sketch is SATURATED: at the design
   *  load α = 0.25 only ~2.6% of slots mark ≥2 (1 − e^−α(1+α)); a ratio past
   *  0.45 means α ≳ 1.5, i.e. the singleton false-keep rate is ≳ 78% and the
   *  filter would keep almost everything — two extra scans for nothing. The
   *  ratio is read off the FINISHED sketch (free — the bits are on the
   *  driver anyway), so an undersized row estimate self-corrects here
   *  instead of shipping a useless filter (round-4 ADVICE on the gram-side
   *  `nCorpusRows * 10` estimate). */
  val saturationSkipRatio: Double = 0.45

  /** Filter `df` to rows whose `colName` value hashes to a seen-≥2 slot —
   *  i.e. drop rows provably alone in their bucket — plus the sketch's
   *  broadcast release handle. Builds the sketch (one extra scan of `df`),
   *  broadcasts it, filters codegen-natively. A saturated sketch (marked
   *  ratio > [[saturationSkipRatio]]) skips the filter: correctness is
   *  unaffected either way (false positives only keep rows), the skip just
   *  refuses to pay a filter that prunes ~nothing.
   *
   *  Call the handle ONLY after the filtered plan is fully materialized; it
   *  frees the broadcast then instead of leaving it to GC, so the band-range
   *  driver keeps exactly one sketch live at a time. A skipped (saturated)
   *  sketch returns a no-op. */
  def pruneReleasable(df: DataFrame, colName: String, log2mShard: Int,
                      shardBits: Int): (DataFrame, () => Unit) = {
    val bits = sketch(df, colName, log2mShard, shardBits)
    val totalSlots = 1L << (log2mShard + shardBits)
    var marked = 0L
    bits.foreach { arr =>
      var i = 0
      while (i < arr.length) { marked += java.lang.Long.bitCount(arr(i)); i += 1 }
    }
    val ratio = marked.toDouble / totalSlots
    System.err.println(f"[graft.prune] $colName (${1 << shardBits}x2^$log2mShard): " +
      f"${100.0 * ratio}%.2f%% of $totalSlots slots marked >=2")
    if (ratio > saturationSkipRatio) {
      System.err.println(f"[graft.prune] $colName: sketch saturated " +
        f"(ratio ${ratio}%.2f > $saturationSkipRatio) — filter skipped, rows pass through")
      return (df, () => ())
    }
    val bc = df.sparkSession.sparkContext.broadcast(bits)
    val filtered = df.filter(GraftColumnBridge.column(BitsetContainsExpr(
      GraftColumnBridge.expression(df(colName)), bc, log2mShard, shardBits)))
    (filtered, () => bc.destroy())
  }

  /** One-shard prune over `2^log2m` slots; the broadcast is left to GC. */
  def prune(df: DataFrame, colName: String, log2m: Int): DataFrame =
    pruneReleasable(df, colName, log2m, 0)._1

  /** Prune over `2^shardBits` shards of `2^log2mShard` slots — the same
   *  keep set as [[prune]] over `log2mShard + shardBits` bits (SeenTwiceSpec
   *  parity); the broadcast is left to GC. */
  def pruneSharded(df: DataFrame, colName: String, log2mShard: Int,
                   shardBits: Int): DataFrame =
    pruneReleasable(df, colName, log2mShard, shardBits)._1

  /** The prune as the pipeline runs it, over an estimated `rows` exploded
   *  rows, with the release handle: pass-through when `cfg.pruneSingletons`
   *  is off, below `cfg.pruneMinRows` or above `cfg.pruneShardedMaxRows`;
   *  one shard at or under `cfg.pruneMaxRows`; sharded above. The band-range
   *  driver calls this per range, where `rows` re-enters the window by
   *  construction. */
  def pruneAuto(df: DataFrame, colName: String, rows: Long,
                cfg: DedupConfig): (DataFrame, () => Unit) =
    if (!cfg.pruneSingletons || rows < cfg.pruneMinRows || rows > cfg.pruneShardedMaxRows)
      (df, () => ())
    else {
      val (l2, sb) = if (rows <= cfg.pruneMaxRows) (autoLog2m(rows), 0) else autoShardedBits(rows)
      pruneReleasable(df, colName, l2, sb)
    }
}
