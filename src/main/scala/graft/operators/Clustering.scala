package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Stage 3 — cluster resolution: iterative connected components over the
 * duplicate-pair edge set (exact + near-dup + substring edges), the
 * "union-find semantics in DataFrames" of BASELINE.json north_rule.
 *
 * Algorithm: the alternating large-star / small-star method (Kiveris et al.,
 * "Connected Components in MapReduce and Beyond", SoCC'14; load-balanced
 * variant surveyed in PAPERS.md "BTS", ICDE'24). Converges in O(log² n)
 * rounds on adversarial graphs, O(log n) typical; each round is two
 * aggregate+join passes — no `collect_set` anywhere, so a node with millions
 * of neighbors (the hot license-header cluster) never materializes its
 * adjacency list in one task:
 *
 *   - min-neighbor per node is a `groupBy().min()` (map-side partial agg —
 *     the hot node combines locally on every executor);
 *   - the join back on the node id is skew-handled by AQE
 *     (`spark.sql.adaptive.skewJoin`).
 *
 * Star rounds cut lineage every round with a checkpoint — reliable
 * `checkpoint` whenever a checkpoint dir is set (RunContext always sets one;
 * resumability per north_rule), `localCheckpoint` otherwise; without it the
 * iterative plan grows exponentially in the optimizer. Graphs small enough
 * for the driver finish write no checkpoint at all.
 *
 * Node ids are 64-bit (`xxhash64` of the row key) so the shuffle carries
 * 16 bytes/edge; keys are joined back once at the end. A collision merges two
 * clusters with probability ~n²/2⁶⁴ (≈1e-7 at 10⁹ rows) — acceptable for the
 * candidate graph because every emitted pair was *verified* upstream; exact
 * group ids remain sha256-based.
 */
object Clustering {

  /** One large-star round: for every node u, connect every strictly-larger
   *  neighbor to u's minimum neighborhood label. Input edges are directed
   *  (src, dst); the round symmetrizes internally.
   *
   *  ONE exchange: the explicit `repartition(src)` satisfies both the
   *  aggregation and the join downstream (Catalyst reuses the exchange and
   *  the co-partitioning), so a round is one shuffle instead of three —
   *  iteration wall time is stage-count-bound, not data-bound, on every
   *  cluster size. Intermediate duplicate edges are NOT deduped here; the
   *  single `distinct` at the end of smallStar bounds the round's output. */
  private def largeStar(edges: DataFrame): DataFrame = {
    val sym = edges.union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(col("src"))
    val mins = sym.groupBy("src").agg(min(col("dst")).as("mn"))
    sym.join(mins, "src")
      .select(col("src"), col("dst"), least(col("mn"), col("src")).as("m"))
      .where(col("dst") > col("src"))
      .select(col("dst").as("src"), col("m").as("dst"))
  }

  /** One small-star round over edges already pointing high→low; one exchange
   *  plus the round-final distinct. */
  private def smallStar(edges: DataFrame): DataFrame = {
    val e = edges.where(col("src") =!= col("dst")).repartition(col("src"))
    val mins = e.groupBy("src").agg(min(col("dst")).as("m"))
    val relinked = e.join(mins, "src")
      .select(col("dst").as("src"), col("m").as("dst"))
    relinked.union(mins.select(col("src"), col("m").as("dst"))).distinct()
  }

  /** Edge-count bound under which [[connectedComponents]] finishes the
   *  (already contracted, deduplicated) graph with a driver-side union-find
   *  instead of star rounds. 4M edges ≈ 64 MB of longs — trivially driver-
   *  safe, while each avoided star round costs 2+ shuffles of driver-
   *  coordinated latency that a higher core count cannot shrink. */
  val DefaultLocalFinishEdges: Long = 4000000L

  /** Driver-side union-find over a collected, distinct, self-loop-free edge
   *  list (min-id root wins — identical labeling to the converged star
   *  rounds). Returns every node with its component. */
  private def localComponents(collected: Array[(Long, Long)]): Array[(Long, Long)] = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.getOrDefault(x, x)
      while (p != x) { // path halving
        val gp = parent.getOrDefault(p, p)
        parent.put(x, gp); x = gp; p = parent.getOrDefault(x, x)
      }
      x
    }
    val nodes = new java.util.HashSet[Long]()
    collected.foreach {
      case (a, b) =>
        nodes.add(a); nodes.add(b)
        val ra = find(a); val rb = find(b)
        if (ra != rb) { if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb) }
    }
    val out = new Array[(Long, Long)](nodes.size)
    var i = 0
    nodes.forEach(n => { out(i) = (n, find(n)); i += 1 })
    out
  }

  /** Driver-held labels as a `(node, component)` table. parallelize, NOT
   *  createDataset: a local-collection Dataset encodes every row on the
   *  DRIVER at execution (LocalTableScan) — measured as a scale-flat
   *  multi-second serial segment at millions of nodes; parallelize ships raw
   *  tuples and encodes IN TASKS, in parallel. */
  private def componentTable(spark: SparkSession, labels: Array[(Long, Long)]): DataFrame = {
    import spark.implicits._
    spark.createDataset(
      spark.sparkContext.parallelize(labels.toIndexedSeq,
        math.max(spark.sparkContext.defaultParallelism, 8)))
      .toDF("node", "component")
  }

  /**
   * Resolve components. `edges` must have two long columns (src, dst); the
   * result maps every node id appearing in `edges` to its component's minimum
   * node id (`node`, `component`).
   *
   * Hybrid two-level design: the input here is already the *contracted*
   * similarity graph (exact groups collapsed to representatives upstream);
   * when the distinct edge set fits under `localFinishEdges` the driver
   * finishes it with union-find in one bounded collect — star rounds only
   * run on graphs too large for that, where their per-round shuffle cost is
   * amortized by real data volume.
   */
  def connectedComponents(edges: DataFrame,
                          localFinishEdges: Long = DefaultLocalFinishEdges): DataFrame =
    components(edges, localFinishEdges).fold(componentTable(edges.sparkSession, _), identity)

  /** [[connectedComponents]] as the driver-held labels when the driver
   *  finished the graph (`Left`), or the star rounds' table (`Right`). */
  private def components(edges: DataFrame,
                         localFinishEdges: Long): Either[Array[(Long, Long)], DataFrame] = {
    val spark = edges.sparkSession
    import spark.implicits._
    val cur0 = edges
      .select(col(edges.columns(0)).cast("long").as("src"), col(edges.columns(1)).cast("long").as("dst"))
      .where(col("src") =!= col("dst"))
      .select(greatest(col("src"), col("dst")).as("src"), least(col("src"), col("dst")).as("dst"))
      .distinct()
    // One bounded collect decides the path: at most `localFinishEdges + 1`
    // distinct edges reach the driver, and only an overflow pays for a
    // checkpoint and star rounds — the driver finish writes and counts nothing.
    val head = cur0.limit((localFinishEdges min Int.MaxValue - 1).toInt + 1).as[(Long, Long)].collect()
    if (head.length <= localFinishEdges) return Left(localComponents(head))
    // Reliable (FS-backed) checkpoints whenever a checkpoint dir is set, as
    // RunContext always does: localCheckpoint keeps blocks on EXECUTORS with
    // truncated lineage, so an executor loss mid-iteration would fail the job
    // unrecoverably (north_rule's resumability clause).
    val reliable = spark.sparkContext.getCheckpointDir.isDefined
    // EAGER checkpoint of the initial edge set: the star rounds reference
    // their input twice (join + aggregation side), and an unmaterialized
    // input subtree — potentially a whole upstream candidate pipeline —
    // would execute once per reference, inside every round-1 stage.
    var cur = if (reliable) cur0.checkpoint() else cur0.localCheckpoint(true)
    var converged = false
    var it = 0
    var prevSig: (Long, Long) = (-1L, -1L)
    while (!converged) {
      val next0 = smallStar(largeStar(cur))
      // Reliable under the same checkpoint-dir rule as the initial edge set:
      // an eager checkpoint, a distributed-FS write+read per round. The local
      // variant is LAZY — the convergence-signature aggregation below is the
      // action that materializes it, one job per round, not two.
      val next = if (reliable) next0.checkpoint() else next0.localCheckpoint(false)
      // Convergence: the (count, xor-of-edge-hash) signature is a fixpoint.
      // bit_xor (not sum) — overflow-free under ANSI mode, order-insensitive.
      val sig = next.agg(
        count(lit(1)).as("c"),
        coalesce(expr("bit_xor(xxhash64(src, dst))"), lit(0L)).as("h"))
        .as[(Long, Long)].head()
      converged = sig == prevSig
      prevSig = sig
      cur = next
      it += 1
    }
    System.err.println(s"[graft.cc] converged after $it iterations")
    // After convergence every edge points member→root (a star). Roots map to
    // themselves; include them explicitly.
    Right(cur.select(col("src").as("node"), col("dst").as("component"))
      .union(cur.select(col("dst").as("node"), col("dst").as("component")))
      .groupBy("node").agg(min(col("component")).as("component")))
  }

  /** Row bound of the driver-labelled formulation of
   *  [[clusterTableCollapsed]]. Its two string-keyed tables, the keeper
   *  mapping and the involved-row table, each get a QUARTER of it
   *  (~100 B/row keys ⇒ ~100 MB on the driver and in the broadcast at
   *  worst — the same big-executor budget class as the sharded prune
   *  sketch). Past it the dense shuffle formulation runs instead — identical
   *  output. */
  val DefaultClusterBroadcastMaxRows: Long = 4000000L

  /**
   * Assemble the final cluster table (north_star): every corpus row with its
   * cluster id and the canonical representative — the smallest member key in
   * UTF-8 binary order, generalizing the reference's keeper rule
   * (snapshot/mod.rs:84-91). Rows in no pair and no exact group are
   * singleton clusters represented by themselves.
   *
   * Exact-duplicate groups arrive pre-collapsed: `baseRep` maps members of
   * exact groups to their keeper (`(rkey, rep0)`; rows absent map to
   * themselves), and `repPairs` are similarity edges BETWEEN
   * representatives. CC then runs on the representative-level graph only —
   * the exact-group star edges (the bulk of the edge volume on a duplicate-
   * heavy corpus) never enter the iteration; members pick up their
   * component through the keeper mapping afterwards.
   *
   * Two formulations, identical rows (ClusteringSpec):
   *
   *  - Driver-labelled, when the driver finished the components and the
   *    non-trivial keeper mapping and the involved-row table each fit
   *    `broadcastMaxRows / 4` rows. A row is involved when it has a
   *    non-trivial mapping row, is a keeper or is a component node; every
   *    other row is a singleton cluster. The mapping is collected under its
   *    bound, one scan of `members` fetches the involved keys by node id,
   *    and the driver labels them from the union-find's node array:
   *    `cluster_id`, `rep_key` (the component's minimum key) and `action`.
   *    One broadcast join puts the labels on `members`; singleton rows keep
   *    their own. The bound on involved node ids also bounds the component
   *    table, whose nodes are all among those ids.
   *  - Dense, the at-scale fallback: shuffle joins of the mapping and the
   *    component table onto the full member table, a `min(rkey)` aggregate
   *    per component and a join back, with AQE handling skew.
   *
   * Precondition: every `repPairs` endpoint is a keeper or a row with no
   * non-trivial mapping row. Rows look up their component by their keeper's
   * id, so an edge at a mapped non-keeper member would be silently lost.
   *
   * @param members  `(rkey, repo, path, commit)` for every corpus row
   * @param baseRep  keeper mapping `(rkey, rep0)`; trivial rows may be present
   * @param repPairs similarity pairs between representatives, as row-key
   *                 strings or as 64-bit node ids (`xxhash64(rkey)`)
   */
  def clusterTableCollapsed(members: DataFrame, baseRep: DataFrame,
                            repPairs: DataFrame,
                            broadcastMaxRows: Long = DefaultClusterBroadcastMaxRows): DataFrame = {
    // Pair columns may arrive as row-key strings (hashed to node ids here)
    // or already as 64-bit node ids (the pipeline's narrow interior form —
    // xxhash64(rkey) by construction, so both spellings label identically).
    val Array(src, dst) = repPairs.columns.take(2).map(c =>
      if (repPairs.schema(c).dataType == org.apache.spark.sql.types.LongType) col(c) else xxhash64(col(c)))
    val edges = repPairs.select(src.as("src"), dst.as("dst"))
    // Trivial `rep0 == rkey` mapping rows are dropped up front (both
    // formulations reconstruct them exactly).
    val baseRepNT = baseRep.where(col("rep0") =!= col("rkey"))
    val maxKeyed = broadcastMaxRows / 4
    val comps = components(edges, DefaultLocalFinishEdges)
    val labelled = comps.left.toOption.flatMap { labels =>
      val mapping = baseRepNT.select("rkey", "rep0")
        .limit((maxKeyed min Int.MaxValue - 1).toInt + 1).collect()
        .map(r => r.getString(0) -> r.getString(1))
      if (mapping.length > maxKeyed) None else involvedLabels(members, mapping, labels, maxKeyed)
    }
    labelled match {
      case Some(inv) =>
        members.join(broadcast(inv), Seq("rkey"), "left_outer")
          .select(col("rkey"), col("repo"), col("path"), col("commit"),
            coalesce(col("cluster_id"), xxhash64(col("rkey"))).as("cluster_id"),
            coalesce(col("rep_key"), col("rkey")).as("rep_key"),
            coalesce(col("action"), lit("keep")).as("action"))
      case None =>
        val cc = comps.fold(componentTable(members.sparkSession, _), identity)
        val grouped = members
          .join(baseRepNT, Seq("rkey"), "left_outer")
          .withColumn("rep0", coalesce(col("rep0"), col("rkey")))
          .withColumn("node", xxhash64(col("rep0")))
          .join(cc, Seq("node"), "left_outer")
          .withColumn("component", coalesce(col("component"), col("node")))
        val reps = grouped.groupBy("component").agg(min(col("rkey")).as("rep_key"))
        grouped.join(reps, "component")
          .withColumn("action",
            when(col("rkey") === col("rep_key"), lit("keep")).otherwise(lit("symlink")))
          .select(col("rkey"), col("repo"), col("path"), col("commit"),
            col("component").as("cluster_id"), col("rep_key"), col("action"))
    }
  }

  /** The driver-labelled rows `(rkey, cluster_id, rep_key, action)` of every
   *  involved member row, or `None` when more than `maxRows` node ids could
   *  be involved. One job scans `members` for the rows whose node id is a
   *  component node or the id of a mapped row or keeper; the driver then
   *  keeps the rows that are truly involved (a node id match alone may be a
   *  hash collision) and labels them as the dense formulation does. */
  private def involvedLabels(members: DataFrame, mapping: Array[(String, String)],
                             labels: Array[(Long, Long)], maxRows: Long): Option[DataFrame] = {
    import graft.functions.XXHash64.hashString
    val spark = members.sparkSession
    val rep0 = mapping.toMap
    val keepers = rep0.valuesIterator.toSet
    val ids = (labels.iterator.map(_._1) ++ (rep0.keysIterator ++ keepers.iterator).map(hashString(_)))
      .toArray.distinct.sorted
    if (ids.length > maxRows) return None
    val component = new java.util.HashMap[Long, Long](labels.length * 2)
    labels.foreach { case (n, c) => component.put(n, c) }
    val bc = spark.sparkContext.broadcast(ids)
    val fetched =
      try members.select(col("rkey"), xxhash64(col("rkey"))).queryExecution.toRdd
        .mapPartitions { it =>
          val s = bc.value
          it.filter(r => java.util.Arrays.binarySearch(s, r.getLong(1)) >= 0).map(_.getString(0))
        }.collect().distinct
      finally bc.destroy()
    val inv = fetched.flatMap { r =>
      val node = hashString(rep0.getOrElse(r, r))
      if (rep0.contains(r) || keepers(r) || component.containsKey(node))
        Some(r -> component.getOrDefault(node, node))
      else None
    }
    val repKey = inv.groupMapReduce(_._2)(_._1)(graft.functions.BucketScan.utf8Ordering.min)
    import spark.implicits._
    Some(inv.toSeq.map { case (r, c) =>
      val rep = repKey(c)
      (r, c, rep, if (r == rep) "keep" else "symlink")
    }.toDF("rkey", "cluster_id", "rep_key", "action"))
  }
}
