package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.lit
import graft.operators.Clustering

/** Connected components vs an in-memory union-find oracle, including the
 *  adversarial shapes called out in SURVEY §7.4 (long chains = worst case for
 *  large/small-star). */
class ClusteringSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    // normalize root to min member of each component
    val comp = nodes.groupBy(find)
    comp.flatMap { case (_, ms) => val m = ms.min; ms.map(_ -> m) }.toMap
  }

  private def run(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    Clustering.connectedComponents(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("long chain (worst case) resolves to one component") {
    val chain = (0L until 200L).sliding(2).map(s => (s(0), s(1))).toSeq
    val got = run(chain)
    assert(got.values.toSet === Set(0L))
    assert(got.keySet === (0L until 200L).toSet)
  }

  test("random graphs match union-find oracle") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val n = 300
      val edges = (1 to 400).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      assert(run(edges) === unionFind(n, edges), s"trial $trial")
    }
  }

  test("driver-finish and distributed star rounds label identically") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val edges = (1 to 500).map(_ => (rnd.nextInt(400).toLong, rnd.nextInt(400).toLong))
      .filter(e => e._1 != e._2)
    val df = edges.toDF("src", "dst")
    def labels(localFinishEdges: Long) =
      Clustering.connectedComponents(df, localFinishEdges = localFinishEdges)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val local = labels(Clustering.DefaultLocalFinishEdges)
    // The bound is inclusive: exactly the distinct edge count still finishes
    // on the driver, one below it runs the large/small-star iteration, and so
    // does 0.
    val nDistinct = edges.map { case (a, b) => (a max b, a min b) }.distinct.size.toLong
    for (bound <- Seq(nDistinct, nDistinct - 1L, 0L))
      assert(labels(bound) === local, s"localFinishEdges = $bound")
  }

  /** True when the plan holds an aggregate: the dense formulation's
   *  `min(rkey)` per component. The driver-labelled one has none. */
  private def isDense(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan
      .find(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Aggregate]).isDefined

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq

  test("driver-labelled and dense clusterTableCollapsed emit identical rows") {
    import spark.implicits._
    // corpus: k00..k09 keepers/members across exact groups, plus loners.
    // shapes covered: exact group with NO similarity edges (keeper k00 must
    // still aggregate with its members m01/m02 — the keeper-set predicate);
    // exact group whose keeper IS in a similarity pair (k03 ~ k05); a pure
    // near-dup pair with no exact groups (n07 ~ n08); pure singletons; a
    // keeper that is NOT the min rkey of its component (z06's member a06).
    val members = Seq(
      ("k00", "r", "p0", "c"), ("m01", "r", "p1", "c"), ("m02", "r", "p2", "c"),
      ("k03", "r", "p3", "c"), ("m04", "r", "p4", "c"),
      ("k05", "r", "p5", "c"),
      ("z06", "r", "p6", "c"), ("a06", "r", "p6b", "c"),
      ("n07", "r", "p7", "c"), ("n08", "r", "p8", "c"),
      ("s09", "r", "p9", "c"), ("s10", "r", "pA", "c")
    ).toDF("rkey", "repo", "path", "commit")
    // keeper mapping incl. TRIVIAL self rows (as Pipeline's coalesce builds it)
    val trivial = Seq("k00", "k03", "k05", "z06", "n07", "n08", "s09", "s10").map(k => (k, k))
    val nonTrivial = Seq(("m01", "k00"), ("m02", "k00"), ("m04", "k03"), ("a06", "z06"))
    val repPairs = Seq(("k03", "k05"), ("n07", "n08")).toDF("a", "b")
    // the same mapping without its trivial rows: pair endpoints n07/n08 and
    // keeper k05 are then absent from it
    for (baseRep <- Seq((trivial ++ nonTrivial).toDF("rkey", "rep0"), nonTrivial.toDF("rkey", "rep0"))) {
      val driver = Clustering.clusterTableCollapsed(members, baseRep, repPairs)
      val dense = Clustering.clusterTableCollapsed(members, baseRep, repPairs,
        broadcastMaxRows = 0L) // forces the dense shuffle formulation
      assert(!isDense(driver) && isDense(dense))
      assert(rows(driver) === rows(dense))
      // spot-check semantics on the driver-labelled output directly
      val by = driver.collect().map(r => r.getString(0) ->
        (r.getString(5), r.getString(6))).toMap
      assert(by("m01") === ("k00", "symlink")) // keeper-only group aggregates
      assert(by("k00") === ("k00", "keep"))
      assert(by("a06") === ("a06", "keep"))    // member, not keeper, is min rkey
      assert(by("z06") === ("a06", "symlink"))
      assert(by("m04") === ("k03", "symlink")) // exact member reaches the
      assert(by("k05") === ("k03", "symlink")) // similarity cluster via keeper
      assert(by("n08") === ("n07", "symlink")) // endpoints absent from the mapping
      assert(by("s09") === ("s09", "keep"))    // pure singleton
      // The gates: 4 non-trivial mapping rows and 10 involved node ids
      // (m01 m02 m04 a06, keepers k00 k03 z06, nodes k05 n07 n08). Each
      // string-keyed table gets a quarter of the bound.
      def at(bound: Long) = Clustering.clusterTableCollapsed(members, baseRep, repPairs, bound)
      assert(isDense(at(4L * 3)), "mapping one row over the gate")
      assert(isDense(at(4L * 10 - 1)), "involved rows one over the gate")
      assert(!isDense(at(4L * 10)), "involved rows at the gate")
      assert(rows(at(4L * 3)) === rows(driver))
    }
  }

  test("driver-labelled rep_key is the minimum key in UTF-8 binary order") {
    import spark.implicits._
    // U+FF21 sorts AFTER U+1F600 in UTF-16 (0xFF21 > 0xD83D) but BEFORE it
    // in UTF-8 (EF BC A1 < F0 9F 98 80), which is Spark's string order.
    val bmp = "\uFF21"
    val astral = "\uD83D\uDE00"
    assert(astral < bmp)
    val members = Seq(astral, bmp, s"${astral}m", "q").map(k => (k, "r", k, "c"))
      .toDF("rkey", "repo", "path", "commit")
    val baseRep = Seq((s"${astral}m", astral)).toDF("rkey", "rep0")
    val repPairs = Seq((astral, bmp)).toDF("a", "b")
    val driver = Clustering.clusterTableCollapsed(members, baseRep, repPairs)
    val dense = Clustering.clusterTableCollapsed(members, baseRep, repPairs, broadcastMaxRows = 0L)
    assert(!isDense(driver) && isDense(dense))
    assert(rows(driver) === rows(dense))
    val rep = driver.collect().map(r => r.getString(0) -> r.getString(5)).toMap
    assert(rep === Map(astral -> bmp, bmp -> bmp, s"${astral}m" -> bmp, "q" -> "q"))
  }

  test("driver-labelled clusterTableCollapsed over an empty mapping and an empty edge set") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, xxhash64}
    val members = Seq(("a", "r", "pa", "c"), ("b", "r", "pb", "c"))
      .toDF("rkey", "repo", "path", "commit")
    val noMapping = members.select(col("rkey"), col("rkey").as("rep0")).where(lit(false))
    val noPairs = Seq.empty[(Long, Long)].toDF("src", "dst")
    val out = Clustering.clusterTableCollapsed(members, noMapping, noPairs)
    assert(!isDense(out))
    val want = members.select(col("rkey"), col("repo"), col("path"), col("commit"),
      xxhash64(col("rkey")).as("cluster_id"), col("rkey").as("rep_key"), lit("keep").as("action"))
    assert(rows(out) === rows(want))
    // pairs without a mapping (q05's shape) still label through the driver
    val pairs = Seq(("a", "b")).toDF("a", "b")
    val chained = Clustering.clusterTableCollapsed(members, noMapping, pairs)
    assert(!isDense(chained))
    assert(rows(chained) === rows(Clustering.clusterTableCollapsed(members, noMapping, pairs, 0L)))
    assert(chained.collect().map(r => r.getString(0) -> r.getString(6)).toMap ===
      Map("a" -> "keep", "b" -> "symlink"))
  }

  test("star graph and disjoint pairs") {
    val star = (1L to 50L).map(i => (0L, i))
    assert(run(star).values.toSet === Set(0L))
    val pairs = (0L until 40L by 2).map(i => (i, i + 1))
    val got = run(pairs)
    pairs.foreach { case (a, b) => assert(got(a) == a && got(b) == a) }
  }
}
