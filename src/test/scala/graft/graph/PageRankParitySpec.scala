package graft.graph

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Law twin for the fused DataFrame PageRank+components loop
  * ([[GraphAnalytics.pageRankAndComponentsDF]], gate q57): a
  * plain-Scala replay on the driver of the GraphX `staticPageRank`
  * recurrence the loop's scaladoc states, plus a union-find, over the
  * collected graph. They must agree on COMPONENTS exactly (both are
  * min-vertex-id labels) and on RANKS to float-summation-order
  * tolerance (identical recurrence, different reduction order). */
class PageRankParitySpec extends SparkSpec {

  /** r₀ = 1; r' = 0.15 + 0.85·Σ r(u)/outdeg(u) over the symmetrized
    * edge multiset, `iters` times; and min-id component labels. */
  private def reference(nodes: Seq[Long], edges: Seq[(Long, Long)],
      iters: Int): Map[Long, (Double, Long)] = {
    val sym = edges ++ edges.map(_.swap)
    val outdeg = sym.groupMapReduce(_._1)(_ => 1L)(_ + _)
    var rank = nodes.map(_ -> 1.0).toMap
    (1 to iters).foreach { _ =>
      val msg = sym.groupMapReduce(_._2) { case (u, _) => rank(u) / outdeg(u) }(_ + _)
      rank = nodes.map(v => v -> (0.15 + 0.85 * msg.getOrElse(v, 0.0))).toMap
    }
    val parent = scala.collection.mutable.Map(nodes.map(v => v -> v): _*)
    def find(v: Long): Long = if (parent(v) == v) v else find(parent(v))
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    nodes.map(v => v -> (rank(v), find(v))).toMap
  }

  test("DataFrame PageRank+CC == plain-Scala reference (ranks 1e-8)") {
    import spark.implicits._
    val g = GraphBuild.tpchGraph(spark, sf)
    val edges = g.edges.select(col("src").cast("long"), col("dst").cast("long"))
      .as[(Long, Long)].collect().toSeq
    val nodes = (g.nodes.select(col("id").cast("long")).as[Long].collect().toSeq ++
      edges.flatMap { case (a, b) => Seq(a, b) }).distinct
    val want = reference(nodes, edges, 10)
    val got = GraphAnalytics.pageRankAndComponentsDF(spark, g)
      .select("id", "pagerank", "component").as[(Long, Double, Long)].collect()
    assert(got.length == want.size, "one row per vertex")
    assert(got.forall { case (id, _, c) => want(id)._2 == c },
      "component labels must be identical (min vertex id per component)")
    val maxDiff = got.map { case (id, r, _) => math.abs(r - want(id)._1) }.max
    assert(maxDiff < 1e-8, s"rank divergence $maxDiff exceeds tolerance")
    // the published semantic spot-check: every rank ≥ the 0.15 teleport floor
    assert(got.forall(_._2 >= 0.15 - 1e-12))
  }

  test("isolated vertices keep the teleport-only rank and label themselves") {
    import spark.implicits._
    val nodes = Seq((1L, "a", "x"), (2L, "b", "x"), (3L, "c", "x"))
      .toDF("id", "name", "kind")
    val edges = Seq((1L, 2L, 1L)).toDF("src", "dst", "weight")
    val out = GraphAnalytics.pageRankAndComponentsDF(
      spark, PropertyGraph(nodes, edges)).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(out(3L)._2 == 3L, "isolated vertex is its own component")
    assert(out(1L)._2 == 1L && out(2L)._2 == 1L)
    // teleport-only trajectory for the isolated vertex: r ← 0.15 +
    // 0.85·0 every step → exactly 0.15 after the first superstep
    assert(math.abs(out(3L)._1 - 0.15) < 1e-12)
  }
}
