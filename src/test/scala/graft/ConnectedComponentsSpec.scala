package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.ConnectedComponents

/** Connected-components labelers: correctness against a scalar
  * union-find, the reach bounds that separate propagation from pointer
  * doubling, and plan hygiene. */
class ConnectedComponentsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // fixture: a 20-node path (diameter 19), an 8-clique, a triangle with a
  // tail, and isolated nodes
  private val edges: Seq[(Long, Long)] =
    (0L until 19L).map(i => (i, i + 1)) ++
      (for (i <- 100L until 108L; j <- i + 1 until 108L) yield (i, j)) ++
      Seq((200L, 201L), (201L, 202L), (202L, 200L), (202L, 203L))
  private val nodes: Seq[Long] =
    (0L until 20L) ++ (100L until 108L) ++ (200L until 204L) ++ Seq(300L, 301L)

  private def unionFind(): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
    def find(x: Long): Long = {
      var r = x; while (parent(r) != r) r = parent(r); r
    }
    for ((a, b) <- edges) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    nodes.map(n => n -> find(n)).toMap
  }

  private def run(f: (org.apache.spark.sql.DataFrame,
                      org.apache.spark.sql.DataFrame) => org.apache.spark.sql.DataFrame)
      : Map[Long, Long] = {
    val n = nodes.toDF("cid")
    val sym = ConnectedComponents.symmetrize(edges.toDF("a", "b"))
    f(n, sym).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("pointer doubling converges in log-diameter rounds (6 ≥ log2(19)+1)") {
    val got = run(ConnectedComponents.pointerDoubling(_, _, rounds = 6))
    assert(got === unionFind())
  }

  test("fixed-round propagation reaches exactly its round count (t11's regime)") {
    val got4 = run(ConnectedComponents.labelPropagation(_, _, rounds = 4))
    // the 8-clique, triangle+tail, and isolates are diameter ≤ 4: exact
    for (n <- nodes if n >= 100L) assert(got4(n) === unionFind()(n))
    // the 19-diameter path is NOT converged at 4 rounds (node 19 can
    // only have seen down to 19 − 4) — the documented t11 limitation
    // that pointerDoubling removes
    assert(got4(19L) === 15L)
    assert(run(ConnectedComponents.labelPropagation(_, _, rounds = 19))
      === unionFind())
  }

  test("labels are always node ids and roots are fixpoints (shortcut-join totality)") {
    val got = run(ConnectedComponents.pointerDoubling(_, _, rounds = 3))
    val ids = nodes.toSet
    assert(got.values.forall(ids))
    for ((n, l) <- got if l == n) assert(got(l) === l)
  }

  test("round 14: driver-resident loops equal the distributed rounds " +
      "exactly (integers — no fp caveat)") {
    val n = nodes.toDF("cid")
    val sym = ConnectedComponents.symmetrize(edges.toDF("a", "b"))
    def all(): (Map[Long, Long], Map[Long, Long], Map[Long, Long]) = (
      ConnectedComponents.labelPropagation(n, sym, 4)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap,
      ConnectedComponents.pointerDoubling(n, sym, 5)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap,
      ConnectedComponents.fixedPointPageRank(n, sym, 8)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    val local = all()
    val dist = try {
      spark.conf.set("spark.graft.localMaxBytes", "0")
      all()
    } finally spark.conf.unset("spark.graft.localMaxBytes")
    assert(local === dist)
  }

  test("plans stay keyed: no single-partition funnel in either labeler") {
    val n = nodes.toDF("cid")
    val sym = ConnectedComponents.symmetrize(edges.toDF("a", "b"))
    for (df <- Seq(ConnectedComponents.labelPropagation(n, sym, 3),
        ConnectedComponents.pointerDoubling(n, sym, 3))) {
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange SinglePartition"), p)
    }
  }

  test("t53 census equals t43 enumeration on the fixture graph " +
      "(clique families in closed form, residual surfaced loudly)") {
    // the production-shaped t43 (round 12): where families are cliques the
    // census derives C(k,3) in closed form; elsewhere it reports residual
    // edge mass instead of paying the k³ join. Both run on the real
    // fixture corpus, so the identity is over the live 0.1-threshold
    // similarity graph, not a toy.
    val t43 = SparkEntry.queries("t43_dup_triangles")(spark, TestSpark.sf)
      .head()
    val t53 = SparkEntry.queries("t53_triangle_census")(spark, TestSpark.sf)
      .head()
    val nEdges43 = t43.getLong(t43.fieldIndex("n_edges"))
    val nTri43 = t43.getLong(t43.fieldIndex("n_tri"))
    val nWedge43 = t43.getLong(t43.fieldIndex("n_wedge"))
    def g(n: String) = t53.getLong(t53.fieldIndex(n))
    // identical edge set and wedge count (same graph, linear surfaces)
    assert(g("n_edges") === nEdges43)
    assert(g("n_wedge") === nWedge43)
    // every edge is accounted for: clique + residual + cross = all
    val cliqueEdges = g("n_edges") - g("residual_edges") - g("cross_edges")
    assert(cliqueEdges >= 0L)
    // closed form is a LOWER bound on the true count, exact when the
    // residual is empty; the fixture corpus has no cross edges at 4
    // rounds (diameters are small) — surface that so regressions are loud
    assert(g("clique_triangles") <= nTri43)
    if (g("residual_edges") === 0L && g("cross_edges") === 0L)
      assert(g("clique_triangles") === nTri43,
        "all-clique census must equal the exact enumeration")
    info(s"census: ${g("n_families")} families, " +
      s"${g("n_clique_families")} cliques -> ${g("clique_triangles")} tri " +
      s"(t43 exact $nTri43), residual ${g("residual_families")} fams / " +
      s"${g("residual_edges")} edges, cross ${g("cross_edges")}")
  }
}
