package graft

import org.scalatest.funsuite.AnyFunSuite
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

  test("singleton-bypass and dense clusterTableCollapsed emit identical rows") {
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
    val baseRep = Seq(
      ("k00", "k00"), ("m01", "k00"), ("m02", "k00"),
      ("k03", "k03"), ("m04", "k03"),
      ("k05", "k05"),
      ("z06", "z06"), ("a06", "z06"),
      ("n07", "n07"), ("n08", "n08"), ("s09", "s09"), ("s10", "s10")
    ).toDF("rkey", "rep0")
    val repPairs = Seq(("k03", "k05"), ("n07", "n08")).toDF("a", "b")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    val bypass = Clustering.clusterTableCollapsed(members, baseRep, repPairs)
    val dense = Clustering.clusterTableCollapsed(members, baseRep, repPairs,
      broadcastMaxRows = 0L) // forces the dense shuffle formulation
    assert(rows(bypass) === rows(dense))
    // spot-check semantics on the bypass output directly
    val by = bypass.collect().map(r => r.getString(0) ->
      (r.getString(5), r.getString(6))).toMap
    assert(by("m01") === ("k00", "symlink")) // keeper-only group aggregates
    assert(by("k00") === ("k00", "keep"))
    assert(by("a06") === ("a06", "keep"))    // member, not keeper, is min rkey
    assert(by("z06") === ("a06", "symlink"))
    assert(by("m04") === ("k03", "symlink")) // exact member reaches the
    assert(by("k05") === ("k03", "symlink")) // similarity cluster via keeper
    assert(by("s09") === ("s09", "keep"))    // pure singleton
  }

  test("star graph and disjoint pairs") {
    val star = (1L to 50L).map(i => (0L, i))
    assert(run(star).values.toSet === Set(0L))
    val pairs = (0L until 40L by 2).map(i => (i, i + 1))
    val got = run(pairs)
    pairs.foreach { case (a, b) => assert(got(a) == a && got(b) == a) }
  }
}
