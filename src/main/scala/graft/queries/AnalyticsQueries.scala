package graft.queries

import graft.{QuerySpec, Tables}
import graft.graph.{GraphAnalytics, GraphBuild}
import org.apache.spark.sql.functions._

/** β-diversity + per-group graph analytics in the correctness gate
  * (SURVEY G17/G18/M6, §2.10). The relational β-diversity ops carry
  * exact DuckDB oracles; kernel-based per-group metrics and the fused
  * PageRank + components loop are rows-only (deterministic, not
  * ANSI-SQL-expressible).
  */
object AnalyticsQueries {

  /** Long-format abundance: group = return flag, item = part,
    * value = total quantity (integral, so double sums stay exact). */
  private def abundance(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag").as("group"), col("l_partkey").as("item"))
      .agg(sum(col("l_quantity").cast("long")).cast("double").as("value"))

  /** Per-group supplier→customer edges (high-quantity lineitems keep
    * the subgraphs per-sample-sized, as in the reference).
    * Memoized: q55/q56/q59 share one build + persist. */
  private[graft] def groupEdges(s: org.apache.spark.sql.SparkSession, d: String) =
    graft.Memo.df(s, "groupEdges", d) {
      Tables.lineitem(s, d)
        .filter(col("l_quantity") >= 49)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("group"), col("l_suppkey").as("src"),
          (col("o_custkey") + 1000000L).as("dst"))
        .agg(sum(col("l_quantity").cast("long")).cast("double").as("weight"))
    }

  /** The full per-group kernel battery, memoized: q55 projects a
    * SQL-checkable slice of it and q56 returns it whole — one
    * mapGroups execution instead of two (round-2 verdict item 3). */
  private[graft] def battery(s: org.apache.spark.sql.SparkSession, d: String) =
    graft.Memo.df(s, "perGroupMetrics", d) {
      GraphAnalytics.perGroupMetrics(groupEdges(s, d))
    }

  /** The per-VERTEX centrality battery, memoized the same way: q59
    * returns it whole, q76 projects the closeness slice for its
    * oracle — one flatMapGroups execution shared across both. */
  private[graft] def vertexBattery(s: org.apache.spark.sql.SparkSession, d: String) =
    graft.Memo.df(s, "perGroupVertexMetrics", d) {
      GraphAnalytics.perGroupVertexMetrics(groupEdges(s, d))
    }

  /** All-pairs BFS distance table for the q74/q76/q100/q212 oracles,
    * generated as a chained TWO-FRONTIER level sweep instead of the
    * r1-r10 depth-capped `WITH RECURSIVE` walk: the recursive form's
    * UNION dedups (grp, root, node, d) tuples, so a node on a cycle
    * re-enters the working set at every depth of matching reach up to
    * the cap — at sf0.1 that materialized ~(cap − dist)·|V|² ≈ 1.2 B
    * rows and DuckDB spilled ~70 GB, flooring the r10 baseline sweep
    * at its 900 s timeout (BASELINE_SWEEP_r10 note). The chained form
    * visits each (root, node) pair exactly once: frontier
    * f_d = nbrs(f_{d-1}) − f_{d-1} − f_{d-2}, which is EXACT for an
    * undirected graph (a neighbor of a distance-(d−1) node is at
    * distance d−2, d−1, or d — the standard BFS two-frontier
    * invariant), so no visited-set accumulation is needed. `dist` is
    * the disjoint union of the frontiers with their level as d —
    * bit-identical to the recursive walk's min-d table at every scale
    * (validated row-exact at sf0.01 AND sf0.1; 64 levels ≥ the max
    * observed diameter 61 at sf0.1, 28 at sf0.01). Every CTE is
    * MATERIALIZED: DuckDB otherwise inlines single-use CTEs and the
    * chain re-expands exponentially. Measured: sf0.1 >900 s → ~25 s
    * (q74 shape); the sweep totals are comparable round-over-round
    * again (round-10 verdict item 6). */
  private def bfsDistOracle(levels: Int, castBig: Boolean): String = {
    val srcE = if (castBig) "CAST(l_suppkey AS BIGINT)" else "l_suppkey"
    val dstE = if (castBig) "CAST(o_custkey + 1000000 AS BIGINT)"
      else "o_custkey + 1000000"
    val head = s"""WITH e AS MATERIALIZED (
                  |  SELECT n_name AS grp, $srcE AS src, $dstE AS dst
                  |  FROM lineitem
                  |  JOIN orders ON l_orderkey = o_orderkey
                  |  JOIN customer ON o_custkey = c_custkey
                  |  JOIN nation ON c_nationkey = n_nationkey
                  |  WHERE l_quantity >= 49
                  |  GROUP BY 1, 2, 3),
                  |sym AS MATERIALIZED (SELECT grp, src AS a, dst AS b FROM e
                  |        UNION SELECT grp, dst AS a, src AS b FROM e),
                  |nodes AS MATERIALIZED (SELECT DISTINCT grp, a AS node FROM sym),
                  |f0 AS MATERIALIZED (SELECT grp, node AS root, node FROM nodes),
                  |f1 AS MATERIALIZED (SELECT w.grp, w.root, s.b AS node
                  |  FROM f0 w JOIN sym s ON s.grp = w.grp AND s.a = w.node
                  |  EXCEPT SELECT * FROM f0)""".stripMargin
    val mids = (2 to levels).map { d =>
      s""",
         |f$d AS MATERIALIZED (SELECT w.grp, w.root, s.b AS node
         |  FROM f${d - 1} w JOIN sym s ON s.grp = w.grp AND s.a = w.node
         |  EXCEPT SELECT * FROM f${d - 1}
         |  EXCEPT SELECT * FROM f${d - 2})""".stripMargin
    }.mkString
    val distU = (0 to levels)
      .map(d => s"SELECT grp, root, node, $d AS d FROM f$d")
      .mkString("\n  UNION ALL ")
    s"$head$mids,\ndist AS (\n  $distU)"
  }

  /** Per-node triangle counts and degrees on the co-supplier
    * projection: a node's triangles are half the summed support of its
    * edges ([[GraphAnalytics.edgeSupport]]), its degree their count —
    * memoized: q119 (raw counts) and q122 (clustering coefficient)
    * share one run. */
  private def coTriangles(s: org.apache.spark.sql.SparkSession, d: String) =
    graft.Memo.df(s, "coTriangles", d) {
      GraphAnalytics.edgeSupport(coSupplier(s, d).select(col("a").as("src"), col("b").as("dst")))
        .select(explode(array(col("u"), col("v"))).as("node"), col("support"))
        .groupBy("node").agg((sum(col("support")) / 2).cast("long").as("n_tri"),
          count(lit(1)).as("d"))
    }

  /** The co-supplier projection (suppliers sharing an order) —
    * memoized input of [[coTriangles]]. */
  private def coSupplier(s: org.apache.spark.sql.SparkSession, d: String) =
    graft.Memo.df(s, "coSupplier", d) {
      val li = Tables.lineitem(s, d).filter(col("l_quantity") >= 40)
        .select(col("l_orderkey").as("ok"), col("l_suppkey").cast("long").as("sk"))
      li.as("x").join(li.as("y"),
          col("x.ok") === col("y.ok") && col("x.sk") < col("y.sk"))
        .select(col("x.sk").as("a"), col("y.sk").as("b")).distinct()
    }

  /** M6/G18 — Bray-Curtis dissimilarity between groups. */
  val q53 = QuerySpec.sql(
    "q53_bray_curtis",
    """WITH v AS (
      |  SELECT l_returnflag AS grp, l_partkey AS item,
      |         CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS val
      |  FROM lineitem GROUP BY 1, 2),
      |totals AS (SELECT grp, sum(val) AS t FROM v GROUP BY grp),
      |shared AS (
      |  SELECT x.grp AS g1, y.grp AS g2,
      |         sum(abs(x.val - y.val)) AS sad,
      |         sum(x.val) AS sx, sum(y.val) AS sy
      |  FROM v x JOIN v y ON x.item = y.item AND x.grp < y.grp
      |  GROUP BY 1, 2)
      |SELECT t1.grp AS g1, t2.grp AS g2,
      |       (COALESCE(sad, 0) + (t1.t - COALESCE(sx, 0)) + (t2.t - COALESCE(sy, 0)))
      |         / (t1.t + t2.t) AS bray_curtis
      |FROM totals t1
      |JOIN totals t2 ON t1.grp < t2.grp
      |LEFT JOIN shared ON g1 = t1.grp AND g2 = t2.grp""",
    "pairwise Bray-Curtis over grouped abundances (SURVEY M6,G18)") { (s, d) =>
    GraphAnalytics.brayCurtis(abundance(s, d))
  }

  /** G17 — edge-set Jaccard distance between group subgraphs. */
  val q54 = QuerySpec.sql(
    "q54_edge_jaccard",
    """WITH e AS (
      |  SELECT DISTINCT l_returnflag AS grp,
      |         least(l_suppkey, l_partkey + 1000000) AS a,
      |         greatest(l_suppkey, l_partkey + 1000000) AS b
      |  FROM lineitem WHERE l_quantity >= 40),
      |sizes AS (SELECT grp, count(*) AS n FROM e GROUP BY grp),
      |inter AS (
      |  SELECT x.grp AS g1, y.grp AS g2, count(*) AS ni
      |  FROM e x JOIN e y ON x.a = y.a AND x.b = y.b AND x.grp < y.grp
      |  GROUP BY 1, 2)
      |SELECT s1.grp AS g1, s2.grp AS g2,
      |       1.0 - COALESCE(ni, 0) * 1.0 / (s1.n + s2.n - COALESCE(ni, 0)) AS jaccard_dist
      |FROM sizes s1 JOIN sizes s2 ON s1.grp < s2.grp
      |LEFT JOIN inter ON g1 = s1.grp AND g2 = s2.grp""",
    "graph β-diversity as edge-set Jaccard (SURVEY G17)") { (s, d) =>
    val edges = Tables.lineitem(s, d).filter(col("l_quantity") >= 40)
      .select(col("l_returnflag").as("group"), col("l_suppkey").as("src"),
        (col("l_partkey") + 1000000L).as("dst"), lit(1.0).as("weight"))
    GraphAnalytics.edgeJaccardDistance(edges)
  }

  /** G3/G5/G9 — the SQL-expressible slice of the per-group network
    * battery, driver-oracled: node/edge counts, connectivity
    * (recursive-CTE reachability on the DuckDB side vs BFS in the
    * kernel), and degree centralization. Degrees are integers, so
    * Σ(max−deg)/((n−1)(n−2)) is one exact-integer sum and one IEEE
    * division — hash-stable without rounding (verified bit-equal). */
  val q55 = QuerySpec.sql(
    "q55_group_graph_metrics",
    """WITH RECURSIVE e AS (
      |  SELECT n_name AS grp, l_suppkey AS src, o_custkey + 1000000 AS dst
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  WHERE l_quantity >= 49
      |  GROUP BY 1, 2, 3),
      |deg AS (
      |  SELECT grp, node, count(*) AS d FROM (
      |    SELECT grp, src AS node FROM e UNION ALL SELECT grp, dst AS node FROM e)
      |  GROUP BY grp, node),
      |sym AS (SELECT grp, src AS a, dst AS b FROM e UNION ALL SELECT grp, dst AS a, src AS b FROM e),
      |roots AS (SELECT grp, min(node) AS node FROM deg GROUP BY grp),
      |r AS (
      |  SELECT grp, node FROM roots
      |  UNION
      |  SELECT s.grp, s.b AS node FROM r JOIN sym s ON s.grp = r.grp AND s.a = r.node),
      |reach AS (SELECT grp, count(*) AS n_reach FROM r GROUP BY grp),
      |stats AS (
      |  SELECT grp, count(*) AS n_nodes, CAST(sum(mx - d) AS DOUBLE) AS cent_num
      |  FROM (SELECT grp, node, d, max(d) OVER (PARTITION BY grp) AS mx FROM deg)
      |  GROUP BY grp),
      |ecnt AS (SELECT grp, count(*) AS n_edges FROM e GROUP BY grp)
      |SELECT s.grp,
      |       CAST(s.n_nodes AS BIGINT) AS n_nodes,
      |       CAST(ec.n_edges AS BIGINT) AS n_edges,
      |       (r2.n_reach = s.n_nodes) AS connected,
      |       CASE WHEN (s.n_nodes - 1.0) * (s.n_nodes - 2.0) = 0 THEN 0.0
      |            ELSE s.cent_num / ((s.n_nodes - 1.0) * (s.n_nodes - 2.0)) END AS degree_centralization
      |FROM stats s JOIN ecnt ec ON ec.grp = s.grp JOIN reach r2 ON r2.grp = s.grp""",
    "per-group size/connectivity/degree-centralization, oracled (SURVEY G3,G5,G9)") { (s, d) =>
    battery(s, d)
      .select(col("group").as("grp"),
        col("nNodes").cast("long").as("n_nodes"),
        col("nEdges").cast("long").as("n_edges"),
        col("connected"),
        col("degreeCentralization").as("degree_centralization"))
  }

  /** G1-G9/G14 — the full per-group network-stat battery (diameter,
    * radius, mean distance, all four centralizations, communities +
    * modularity) via mapGroups kernels — output-pinned (the q130/q138
    * idiom): every column is either integer-deterministic (counts,
    * BFS diameters, community census) or a float kernel rounded to
    * 6 dp in the gate, and the kernels run on canonically sorted
    * local graphs, so the 25-row battery is a constant of the data;
    * the oracle pins the sf0.01 values. igraph-golden specs pin the
    * kernels' unrounded values. */
  val q56 = QuerySpec.sql(
    "q56_group_graph_battery",
    PinnedOracles.q56,
    "per-group diameter/centralization/community battery, output-pinned (SURVEY G3-G9,G14)") { (s, d) =>
    battery(s, d).select(col("group"),
      col("nNodes").cast("long").as("n_nodes"),
      col("nEdges").cast("long").as("n_edges"),
      col("diameter").cast("long").as("diameter"),
      col("radius").cast("long").as("radius"),
      round(col("meanDistance"), 6).as("mean_distance_6dp"),
      col("connected"),
      round(col("degreeCentralization"), 6).as("degree_cent_6dp"),
      round(col("betweennessCentralization"), 6).as("betweenness_cent_6dp"),
      round(col("closenessCentralization"), 6).as("closeness_cent_6dp"),
      round(col("eigenCentralization"), 6).as("eigen_cent_6dp"),
      col("nCommunities").cast("long").as("n_communities"),
      round(col("modularity"), 6).as("modularity_6dp"))
  }

  /** G4 — the BFS-distance slice of the battery, driver-oracled:
    * diameter, radius, mean distance per group. The DuckDB side runs
    * all-pairs BFS off [[bfsDistOracle]]'s chained two-frontier
    * distance table (64 levels ≥ every observed diameter at both
    * oracled scales). Integer distances make sums exact; the one
    * IEEE division (mean) matches the kernel's sum.toDouble/cnt
    * bit-for-bit. */
  val q74 = QuerySpec.sql(
    "q74_group_bfs_metrics",
    bfsDistOracle(levels = 64, castBig = false) + """,
      |ecc AS (SELECT grp, root, max(d) AS ecc FROM dist GROUP BY 1, 2),
      |md AS (SELECT grp, CAST(sum(d) AS DOUBLE) / count(*) AS mean_distance
      |       FROM dist WHERE d > 0 GROUP BY grp)
      |SELECT ec.grp,
      |       CAST(max(ec.ecc) AS BIGINT) AS diameter,
      |       CAST(min(ec.ecc) AS BIGINT) AS radius,
      |       md.mean_distance
      |FROM ecc ec JOIN md ON md.grp = ec.grp
      |GROUP BY ec.grp, md.mean_distance""".stripMargin,
    "per-group diameter/radius/mean-distance, recursive-CTE-oracled (SURVEY G4)") { (s, d) =>
    battery(s, d).select(col("group").as("grp"),
      col("diameter").cast("long").as("diameter"),
      col("radius").cast("long").as("radius"),
      col("meanDistance").as("mean_distance"))
  }

  /** G12/G5 — global PageRank + connected components on the
    * whole-graph superstep tier
    * ([[GraphAnalytics.pageRankAndComponentsDF]] — one fused
    * co-partitioned join + partial agg per superstep serves both
    * kernels; PageRankParitySpec pins it against a driver-side replay:
    * identical components, ranks to 1e-8). */
  val q57 = QuerySpec.rowsOnly(
    "q57_global_pagerank_cc",
    "global PageRank + components, fused DataFrame supersteps (SURVEY G5,G12)") { (s, d) =>
    val g = GraphBuild.tpchGraph(s, d)
    GraphAnalytics.pageRankAndComponentsDF(s, g)
      .join(g.nodes, "id")
      .select(col("name"), col("kind"), col("pagerank"), col("component"))
  }

  /** G6-G13 — full per-vertex centrality battery per group,
    * output-pinned via a per-group DIGEST: each float column is
    * rounded to 6 dp per vertex and summed as an exact BIGINT (NaNs
    * — e.g. diversity of a degree-1 vertex — counted separately, the
    * way igraph reports them), so the 25-row digest covers all ~2.6k
    * vertex rows order-independently and pins as a VALUES oracle.
    * q76 (closeness) / q96 / q99 / q104 remain the exact derived-
    * oracle twins for individual kernels; igraph-golden specs pin
    * unrounded per-vertex values. */
  val q59 = QuerySpec.sql(
    "q59_vertex_centralities",
    PinnedOracles.q59,
    "per-group vertex centrality battery, digest-pinned (SURVEY G6-G13)") { (s, d) =>
    def s6(c: String) = sum(when(isnan(col(c)), 0L)
      .otherwise(round(col(c) * 1000000, 0).cast("long"))).as(s"${c}_sum6")
    def nNan(c: String) = sum(isnan(col(c)).cast("long")).as(s"${c}_nan")
    vertexBattery(s, d).groupBy("group").agg(
      count(lit(1)).as("n_vertices"),
      s6("eigen"), s6("pagerank"), s6("betweenness"), s6("closeness"),
      s6("diversity"), nNan("diversity"), s6("alpha"),
      sum("harmonic_scaled").as("harmonic_sum"))
  }

  /** G5 — per-nation connected components, hash-oracled. Each
    * nation's supplier-customer subgraph is one group on the keyed
    * per-group tier ([[GraphAnalytics.perGroupComponents]]): a
    * task-local union-find labels every component by its min node id,
    * which a DuckDB recursive-CTE reachability computes exactly.
    * Integers end to end → bit-safe. (The gate keeps its GraphX name
    * for continuity; a whole graph runs through
    * [[GraphAnalytics.components]].) */
  val q75 = QuerySpec.sql(
    "q75_graphx_components",
    """WITH RECURSIVE e AS (
      |  SELECT n_name AS grp, CAST(l_suppkey AS BIGINT) AS src,
      |         CAST(o_custkey + 1000000 AS BIGINT) AS dst
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  WHERE l_quantity >= 49
      |  GROUP BY 1, 2, 3),
      |sym AS (SELECT grp, src AS a, dst AS b FROM e
      |        UNION SELECT grp, dst AS a, src AS b FROM e),
      |nodes AS (SELECT DISTINCT grp, a AS node FROM sym),
      |r AS (
      |  SELECT grp, node AS root, node FROM nodes
      |  UNION
      |  SELECT w.grp, w.root, s.b AS node
      |  FROM r w JOIN sym s ON s.grp = w.grp AND s.a = w.node)
      |SELECT grp, root AS node, CAST(min(node) AS BIGINT) AS component
      |FROM r GROUP BY grp, root""",
    "per-nation connected components on the keyed per-group tier, recursive-CTE-oracled (SURVEY G5)") { (s, d) =>
    val e = Tables.lineitem(s, d).filter(col("l_quantity") >= 49)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name").as("group"), col("l_suppkey").cast("long").as("src"),
        (col("o_custkey") + 1000000L).cast("long").as("dst"))
    GraphAnalytics.perGroupComponents(e)
      .select(col("group").as("grp"), col("node"), col("component"))
  }

  /** G8 — per-vertex closeness, hash-oracled. The kernel's value is
    * reachableCount.toDouble / Σdist (LocalGraph.closeness): both
    * terms are exact integers and the single IEEE division is
    * bit-identical across engines, so [[bfsDistOracle]]'s chained
    * two-frontier BFS reproduces it exactly — no rounding needed.
    * Spark side is a projection of the memoized vertex battery shared
    * with q59. */
  val q76 = QuerySpec.sql(
    "q76_vertex_closeness",
    bfsDistOracle(levels = 64, castBig = true) + """
      |SELECT grp, root AS node,
      |       CAST(count(*) AS DOUBLE) / CAST(sum(d) AS DOUBLE) AS closeness
      |FROM dist WHERE d > 0 GROUP BY grp, root""".stripMargin,
    "per-vertex closeness, recursive-CTE-oracled (SURVEY G8)") { (s, d) =>
    vertexBattery(s, d).select(col("group").as("grp"),
      col("id").cast("long").as("node"), col("closeness"))
  }

  /** Harmonic centrality, exact-scaled (beyond-reference — completes
    * the distance-centrality family next to closeness): Σ over
    * reachable pairs of 720720 div d, a pure BIGINT with no floating
    * point anywhere (LocalGraph.harmonicScaled scaladoc). Defined —
    * unlike closeness — on disconnected graphs, which is why modern
    * surveys prefer it. Spark side is the same memoized vertex
    * battery as q59/q76; oracle is q76's chained BFS distance table
    * with the integer-reciprocal aggregate. */
  val q212 = QuerySpec.sql(
    "q212_vertex_harmonic",
    bfsDistOracle(levels = 64, castBig = true) + """
      |SELECT grp, root AS node,
      |       CAST(sum(720720 // d) AS BIGINT) AS harmonic_scaled
      |FROM dist WHERE d > 0 GROUP BY grp, root""".stripMargin,
    "per-vertex harmonic centrality, integer-exact, recursive-CTE-oracled") { (s, d) =>
    vertexBattery(s, d).select(col("group").as("grp"),
      col("id").cast("long").as("node"), col("harmonic_scaled"))
  }

  /** Categorical mixing matrix (beyond-reference — the attribute-
    * assortativity companion to q120's numeric form): the joint
    * distribution of edge endpoints over a node attribute (nation),
    * with exact-integer margins — trace share vs the independence
    * product is what an assortativity dashboard reads off. Every cell
    * is a BIGINT count; expected_x2 is the margin product n_row·n_col
    * (exact — the single IEEE division by E² is left to the reader,
    * q185's residual-table idiom). Scale shape: one edge-table
    * aggregation; attribute lookup is two broadcast dimension joins. */
  val q213 = QuerySpec.sql(
    "q213_mixing_matrix",
    """WITH e AS (
      |  SELECT DISTINCT l_suppkey AS sk, o_custkey AS ck
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  WHERE l_quantity >= 49),
      |lab AS (
      |  SELECT e.sk, e.ck, sn.n_name AS src_nation, cn.n_name AS dst_nation
      |  FROM e
      |  JOIN supplier s ON s.s_suppkey = e.sk
      |  JOIN nation sn ON sn.n_nationkey = s.s_nationkey
      |  JOIN customer c ON c.c_custkey = e.ck
      |  JOIN nation cn ON cn.n_nationkey = c.c_nationkey),
      |cells AS (
      |  SELECT src_nation, dst_nation, count(*) AS n
      |  FROM lab GROUP BY 1, 2),
      |rowm AS (SELECT src_nation, CAST(sum(n) AS BIGINT) AS n_row FROM cells GROUP BY 1),
      |colm AS (SELECT dst_nation, CAST(sum(n) AS BIGINT) AS n_col FROM cells GROUP BY 1)
      |SELECT c.src_nation, c.dst_nation, CAST(c.n AS BIGINT) AS n,
      |       r.n_row, m.n_col, r.n_row * m.n_col AS expected_x2
      |FROM cells c
      |JOIN rowm r ON r.src_nation = c.src_nation
      |JOIN colm m ON m.dst_nation = c.dst_nation""",
    "edge-attribute mixing matrix with exact margins (assortativity tier)") { (s, d) =>
    val e = Tables.lineitem(s, d).where(col("l_quantity") >= 49)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .select(col("l_suppkey").as("sk"), col("o_custkey").as("ck")).distinct()
    val supNat = broadcast(Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey").as("sk"), col("n_name").as("src_nation")))
    val cusNat = Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey").as("ck"), col("n_name").as("dst_nation"))
    val cells = e.join(supNat, Seq("sk")).join(cusNat, Seq("ck"))
      .groupBy("src_nation", "dst_nation").agg(count(lit(1)).as("n"))
    val rowm = cells.groupBy("src_nation").agg(sum(col("n")).as("n_row"))
    val colm = cells.groupBy("dst_nation").agg(sum(col("n")).as("n_col"))
    cells.join(broadcast(rowm), Seq("src_nation"))
      .join(broadcast(colm), Seq("dst_nation"))
      .select(col("src_nation"), col("dst_nation"), col("n"),
        col("n_row"), col("n_col"), (col("n_row") * col("n_col")).as("expected_x2"))
  }

  /** Chained-CTE DuckDB mirror of [[GraphAnalytics.pageRankExactScaled]]:
    * SQL recursion cannot aggregate over the recursive table, so the
    * fixed iteration count unrolls as one (messages, ranks) CTE pair
    * per superstep — generated, not hand-maintained. */
  private def pageRankOracle(iters: Int): String = {
    val steps = (1 to iters).map { k =>
      s"""m$k AS (
         |  SELECT e.dst AS id,
         |         CAST(sum(CAST(floor(CAST(0.85 AS DOUBLE) * p.pr / d.outdeg + 0.5) AS BIGINT)) AS BIGINT) AS m
         |  FROM e JOIN r${k - 1} p ON p.id = e.src JOIN outdeg d ON d.id = e.src
         |  GROUP BY e.dst),
         |r$k AS (
         |  SELECT v.id, CAST(150000 + COALESCE(m.m, 0) AS BIGINT) AS pr
         |  FROM v LEFT JOIN m$k m ON m.id = v.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS src,
       |         CAST(o_custkey + 1000000 AS BIGINT) AS dst
       |  FROM lineitem
       |  JOIN orders ON l_orderkey = o_orderkey
       |  WHERE l_quantity >= 49),
       |v AS (SELECT src AS id FROM e UNION SELECT dst AS id FROM e),
       |outdeg AS (SELECT src AS id, count(*) AS outdeg FROM e GROUP BY src),
       |r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS pr FROM v),
       |$steps
       |SELECT id, pr AS pr_scaled FROM r$iters""".stripMargin
  }

  /** G12 — static PageRank, hash-oracled: the exact-scaled DataFrame
    * iteration (per-edge contributions round to scaled BIGINTs before
    * the sum, so the result is order-independent and bit-reproducible
    * in any engine). q57 stays the production float form; this
    * verifies the rank arithmetic end-to-end against DuckDB. The edge
    * set reuses the memoized groupEdges table (customer joins already
    * paid), projected to the global (src, dst) graph. */
  val q90 = QuerySpec.sql(
    "q90_pagerank_exact",
    pageRankOracle(iters = 5),
    "exact-scaled static PageRank, chained-CTE-oracled (SURVEY G12)") { (s, d) =>
    GraphAnalytics.pageRankExactScaled(
      groupEdges(s, d).select(col("src"), col("dst")), iters = 5)
  }

  /** Chained-CTE mirror of
    * [[GraphAnalytics.pageRankWeightedExactScaled]] — weighted,
    * symmetrized, strength-normalized supersteps. */
  private def weightedPrOracle(iters: Int): String = {
    val steps = (1 to iters).map { k =>
      s"""m$k AS (
         |  SELECT y.dst AS id,
         |         CAST(sum(CAST(floor(CAST(0.85 AS DOUBLE) * p.pr * y.w / d.s + 0.5) AS BIGINT)) AS BIGINT) AS m
         |  FROM sym y JOIN r${k - 1} p ON p.id = y.src JOIN st d ON d.id = y.src
         |  GROUP BY y.dst),
         |r$k AS (
         |  SELECT v.id, CAST(150000 + COALESCE(m.m, 0) AS BIGINT) AS pr
         |  FROM v LEFT JOIN m$k m ON m.id = v.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (
       |  SELECT CAST(l_suppkey AS BIGINT) AS src,
       |         CAST(o_custkey + 1000000 AS BIGINT) AS dst,
       |         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
       |  FROM lineitem
       |  JOIN orders ON l_orderkey = o_orderkey
       |  WHERE l_quantity >= 49
       |  GROUP BY 1, 2),
       |sym AS (
       |  SELECT src, dst, CAST(sum(w) AS BIGINT) AS w FROM (
       |    SELECT src, dst, w FROM e0
       |    UNION ALL SELECT dst AS src, src AS dst, w FROM e0)
       |  GROUP BY src, dst),
       |v AS (SELECT DISTINCT src AS id FROM sym),
       |st AS (SELECT src AS id, CAST(sum(w) AS BIGINT) AS s FROM sym GROUP BY src),
       |r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS pr FROM v),
       |$steps
       |SELECT id, pr AS pr_scaled FROM r$iters""".stripMargin
  }

  /** G12 (weighted form) — the reference's `page_rank(directed=F)`
    * weighted-symmetrized semantic, hash-oracled the same way as q90.
    * q57 remains the production float run; between q90 (unweighted,
    * directed) and this (weighted, symmetrized) the full rank
    * arithmetic the engine ships is driver-verified. */
  val q98 = QuerySpec.sql(
    "q98_pagerank_weighted_exact",
    weightedPrOracle(iters = 5),
    "weighted symmetrized exact-scaled PageRank (SURVEY G12)") { (s, d) =>
    GraphAnalytics.pageRankWeightedExactScaled(
      groupEdges(s, d).select(col("src"), col("dst"), col("weight")), iters = 5)
  }

  /** Chained-CTE mirror of [[GraphAnalytics.eigenExactScaled]]: per
    * step, one neighbor-sum CTE and one max-normalized rescale CTE,
    * all grouped by (grp, node) — generated like the PageRank oracle. */
  private def eigenOracle(iters: Int): String = {
    val steps = (1 to iters).map { k =>
      s"""s$k AS (
         |  SELECT y.grp, y.a AS node, CAST(sum(p.v) AS BIGINT) AS s
         |  FROM sym y JOIN r${k - 1} p ON p.grp = y.grp AND p.node = y.b
         |  GROUP BY y.grp, y.a),
         |r$k AS (
         |  SELECT s.grp, s.node,
         |         CAST(floor(s.s * CAST(1000000.0 AS DOUBLE) / m.mx + 0.5) AS BIGINT) AS v
         |  FROM s$k s JOIN (SELECT grp, max(s) AS mx FROM s$k GROUP BY grp) m
         |    ON m.grp = s.grp)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT n_name AS grp, CAST(l_suppkey AS BIGINT) AS src,
       |         CAST(o_custkey + 1000000 AS BIGINT) AS dst
       |  FROM lineitem
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation ON c_nationkey = n_nationkey
       |  WHERE l_quantity >= 49
       |  GROUP BY 1, 2, 3),
       |sym AS (SELECT grp, src AS a, dst AS b FROM e
       |        UNION SELECT grp, dst AS a, src AS b FROM e),
       |r0 AS (SELECT DISTINCT grp, a AS node, CAST(1000000 AS BIGINT) AS v FROM sym),
       |$steps
       |SELECT grp, node, v AS eigen_scaled FROM r$iters""".stripMargin
  }

  /** G6 — eigencentrality, hash-oracled: exact-scaled power iteration
    * (integer neighbor sums, max-normalized with one rounded scaled
    * division per node per step — order-independent, so DuckDB
    * reproduces the trajectory exactly). The LocalGraph kernel stays
    * the production form (q59, igraph-golden specs); this gates the
    * iteration arithmetic end-to-end. */
  val q96 = QuerySpec.sql(
    "q96_eigen_exact",
    eigenOracle(iters = 5),
    "exact-scaled per-group eigencentrality power iteration (SURVEY G6)") { (s, d) =>
    GraphAnalytics.eigenExactScaled(
      groupEdges(s, d).select(col("group"), col("src"), col("dst")), iters = 5)
  }

  /** Generated mirror of [[GraphAnalytics.betweennessExactScaled]]:
    * the BFS-layered Brandes sweeps unroll as per-depth CTEs —
    * forward σ layers s1..sD (shortest-path counts, exact BIGINTs),
    * then backward dependency layers dD..d1 where each per-successor
    * contribution floors to a scaled BIGINT before the sum. ~2·D
    * generated CTEs; the recursion bound D mirrors the kernel's
    * depth cap. */
  private def betweennessOracle(maxDepth: Int): String = {
    val fwd = (1 to maxDepth).map { k =>
      s"""s$k AS MATERIALIZED (
         |  SELECT dd.grp, dd.root, dd.node, CAST(sum(p.sigma) AS BIGINT) AS sigma
         |  FROM s${k - 1} p
         |  JOIN sym y ON y.grp = p.grp AND y.a = p.node
         |  JOIN dist dd ON dd.grp = p.grp AND dd.root = p.root
         |    AND dd.node = y.b AND dd.d = $k
         |  GROUP BY dd.grp, dd.root, dd.node)""".stripMargin
    }.mkString(",\n")
    val bwdHead =
      s"""d$maxDepth AS MATERIALIZED (
         |  SELECT grp, root, node, CAST(0 AS BIGINT) AS delta FROM s$maxDepth)""".stripMargin
    val bwd = (maxDepth - 1 to 1 by -1).map { k =>
      s"""d$k AS MATERIALIZED (
         |  SELECT v.grp, v.root, v.node, CAST(COALESCE(c.s, 0) AS BIGINT) AS delta
         |  FROM s$k v LEFT JOIN (
         |    SELECT v2.grp, v2.root, v2.node,
         |           sum(CAST(floor(CAST(v2.sigma AS DOUBLE) * (1000000 + dn.delta)
         |             / sw.sigma + 0.5) AS BIGINT)) AS s
         |    FROM s$k v2
         |    JOIN sym y ON y.grp = v2.grp AND y.a = v2.node
         |    JOIN s${k + 1} sw ON sw.grp = v2.grp AND sw.root = v2.root AND sw.node = y.b
         |    JOIN d${k + 1} dn ON dn.grp = sw.grp AND dn.root = sw.root AND dn.node = sw.node
         |    GROUP BY v2.grp, v2.root, v2.node) c
         |  ON c.grp = v.grp AND c.root = v.root AND c.node = v.node)""".stripMargin
    }.mkString(",\n")
    val deltas = (1 to maxDepth).map(k => s"SELECT grp, node, delta FROM d$k")
      .mkString("\n    UNION ALL ")
    s"""WITH RECURSIVE e AS MATERIALIZED (
       |  SELECT n_name AS grp, CAST(l_suppkey AS BIGINT) AS src,
       |         CAST(o_custkey + 1000000 AS BIGINT) AS dst
       |  FROM lineitem
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation ON c_nationkey = n_nationkey
       |  WHERE l_quantity >= 49
       |  GROUP BY 1, 2, 3),
       |sym AS MATERIALIZED (SELECT grp, src AS a, dst AS b FROM e
       |        UNION SELECT grp, dst AS a, src AS b FROM e),
       |nodes AS MATERIALIZED (SELECT DISTINCT grp, a AS node FROM sym),
       |walk AS (
       |  SELECT grp, node AS root, node, 0 AS d FROM nodes
       |  UNION
       |  SELECT w.grp, w.root, s.b AS node, w.d + 1 AS d
       |  FROM walk w JOIN sym s ON s.grp = w.grp AND s.a = w.node
       |  WHERE w.d < $maxDepth),
       |dist AS MATERIALIZED (SELECT grp, root, node, CAST(min(d) AS INTEGER) AS d
       |         FROM walk GROUP BY 1, 2, 3),
       |s0 AS MATERIALIZED (SELECT DISTINCT grp, root, root AS node, CAST(1 AS BIGINT) AS sigma
       |       FROM dist),
       |$fwd,
       |$bwdHead,
       |$bwd,
       |btw AS (
       |  SELECT grp, node, CAST(sum(delta) AS BIGINT) AS btw FROM (
       |    $deltas)
       |  GROUP BY grp, node)
       |SELECT n.grp, n.node, CAST(COALESCE(b.btw, 0) AS BIGINT) AS btw_scaled2
       |FROM nodes n LEFT JOIN btw b ON b.grp = n.grp AND b.node = n.node""".stripMargin
  }

  /** G7 — Brandes betweenness, hash-oracled: the exact-scaled kernel
    * (scaled-BIGINT dependencies, per-successor contributions floored
    * before the sum) makes the classically float-accumulated metric
    * engine-independent, and the layered sweeps are SQL after all.
    * The LocalGraph kernel stays the production battery member; this
    * verifies the sweep arithmetic end-to-end. */
  val q99 = QuerySpec.sql(
    "q99_betweenness_exact",
    betweennessOracle(maxDepth = 32),
    "exact-scaled per-group Brandes betweenness (SURVEY G7)") { (s, d) =>
    GraphAnalytics.betweennessExactScaled(
      groupEdges(s, d).select(col("group"), col("src"), col("dst")), maxDepth = 32)
  }

  /** G4 (per-vertex slice) + harmonic centrality — both exact off the
    * same chained two-frontier BFS distance table as q74/q76:
    * eccentricity is an integer max, harmonic sums per-distance
    * ⌊1e6/d + 0.5⌋ scaled BIGINTs (order-independent). Harmonic is
    * the disconnected-robust closeness variant, a
    * beyond-the-reference G-family extension. */
  val q100 = QuerySpec.sql(
    "q100_harmonic_ecc",
    bfsDistOracle(levels = 64, castBig = true) + """
      |SELECT grp, root AS node,
      |       CAST(max(d) AS BIGINT) AS ecc,
      |       CAST(sum(CAST(floor(CAST(1000000 AS DOUBLE) / d + 0.5) AS BIGINT)) AS BIGINT)
      |         AS harmonic_scaled
      |FROM dist WHERE d > 0 GROUP BY grp, root""".stripMargin,
    "per-vertex eccentricity + exact harmonic centrality (SURVEY G4+)") { (s, d) =>
    GraphAnalytics.harmonicEccExact(
      groupEdges(s, d).select(col("group"), col("src"), col("dst")), maxDepth = 64)
  }

  /** G19 — per-group robustness curve (deterministic victim order:
    * max degree, ties to smaller id). The iterated whole-graph
    * recomputation has no SQL form, but every output value is
    * integer-deterministic (largest-component fraction = one IEEE
    * division of two integers fixed by the graph), so the full
    * 150-row curve pins as a VALUES oracle (q85/q130 idiom);
    * RobustnessSpec pins closed-form values, q136 is the exact-replay
    * twin. */
  val q82 = QuerySpec.sql(
    "q82_robustness_curve",
    PinnedOracles.q82,
    "per-group targeted-removal robustness curve, output-pinned (SURVEY G19)") { (s, d) =>
    GraphAnalytics.perGroupRobustness(groupEdges(s, d), steps = 5)
  }

  /** Chained-CTE mirror of [[GraphAnalytics.alphaExactScaled]]: per
    * step one neighbor-sum CTE and one affine rescale CTE — the same
    * generation scheme as the eigen/PageRank oracles. */
  private def alphaOracle(alpha: Double, iters: Int): String = {
    val steps = (1 to iters).map { k =>
      s"""m$k AS (
         |  SELECT y.grp, y.a AS node, CAST(sum(p.v) AS BIGINT) AS s
         |  FROM sym y JOIN r${k - 1} p ON p.grp = y.grp AND p.node = y.b
         |  GROUP BY y.grp, y.a),
         |r$k AS (
         |  SELECT grp, node,
         |         CAST(floor(CAST($alpha AS DOUBLE) * s + 0.5) AS BIGINT) + 1000000 AS v
         |  FROM m$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT n_name AS grp, CAST(l_suppkey AS BIGINT) AS src,
       |         CAST(o_custkey + 1000000 AS BIGINT) AS dst
       |  FROM lineitem
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation ON c_nationkey = n_nationkey
       |  WHERE l_quantity >= 49
       |  GROUP BY 1, 2, 3),
       |sym AS (SELECT grp, src AS a, dst AS b FROM e
       |        UNION SELECT grp, dst AS a, src AS b FROM e),
       |r0 AS (SELECT DISTINCT grp, a AS node, CAST(1000000 AS BIGINT) AS v FROM sym),
       |$steps
       |SELECT grp, node, v AS alpha_scaled FROM r$iters""".stripMargin
  }

  /** G10 — alpha/Katz centrality, hash-oracled: exact-scaled Neumann
    * supersteps (x_{k+1} = α·Aᵀx_k + e with integer neighbor sums and
    * one rounded op per node per step). The LocalGraph dense solve
    * stays the production form (igraph-golden specs, q59); this gates
    * the recurrence arithmetic end-to-end in the driver. */
  val q104 = QuerySpec.sql(
    "q104_alpha_exact",
    alphaOracle(alpha = 0.1, iters = 4),
    "exact-scaled per-group alpha centrality supersteps (SURVEY G10)") { (s, d) =>
    GraphAnalytics.alphaExactScaled(
      groupEdges(s, d).select(col("group"), col("src"), col("dst")),
      alpha = 0.1, iters = 4)
  }

  /** Chained-CTE mirror of [[GraphAnalytics.powerExactScaled]]: base
    * vector = integer degree, then per step one neighbor-sum CTE and
    * one affine rescale joined back to the degree table. */
  private def powerOracle(beta: Double, iters: Int): String = {
    val steps = (1 to iters).map { k =>
      s"""m$k AS (
         |  SELECT y.grp, y.a AS node, CAST(sum(p.v) AS BIGINT) AS s,
         |         count(*) AS deg
         |  FROM sym y JOIN r${k - 1} p ON p.grp = y.grp AND p.node = y.b
         |  GROUP BY y.grp, y.a),
         |r$k AS (
         |  SELECT grp, node,
         |         CAST(deg * 1000000 AS BIGINT)
         |           + CAST(floor(CAST($beta AS DOUBLE) * s + 0.5) AS BIGINT) AS v
         |  FROM m$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT n_name AS grp, CAST(l_suppkey AS BIGINT) AS src,
       |         CAST(o_custkey + 1000000 AS BIGINT) AS dst
       |  FROM lineitem
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation ON c_nationkey = n_nationkey
       |  WHERE l_quantity >= 49
       |  GROUP BY 1, 2, 3),
       |sym AS (SELECT grp, src AS a, dst AS b FROM e
       |        UNION SELECT grp, dst AS a, src AS b FROM e),
       |r0 AS (SELECT grp, a AS node, CAST(count(*) * 1000000 AS BIGINT) AS v
       |       FROM sym GROUP BY grp, a),
       |$steps
       |SELECT grp, node, v AS power_scaled FROM r$iters""".stripMargin
  }

  /** G11 — Bonacich power centrality, hash-oracled: the dense solve's
    * Neumann series as exact-scaled supersteps (x_{k+1} = deg + β·A·x_k,
    * integer sums, one rounded op per node per step). The LocalGraph
    * solve stays the production form (CoverageOpsSpec); this gates the
    * recurrence arithmetic in the driver. */
  val q110 = QuerySpec.sql(
    "q110_power_exact",
    powerOracle(beta = 0.1, iters = 4),
    "exact-scaled per-group Bonacich power supersteps (SURVEY G11)") { (s, d) =>
    GraphAnalytics.powerExactScaled(
      groupEdges(s, d).select(col("group"), col("src"), col("dst")),
      beta = 0.1, iters = 4)
  }

  /** Chained-CTE mirror of
    * [[GraphAnalytics.eigenWeightedExactScaled]] — weighted neighbor
    * sums, same max-normalized rescale as the q96 oracle. */
  private def eigenWeightedOracle(iters: Int): String = {
    val steps = (1 to iters).map { k =>
      s"""s$k AS (
         |  SELECT y.grp, y.a AS node, CAST(sum(y.w * p.v) AS BIGINT) AS s
         |  FROM sym y JOIN r${k - 1} p ON p.grp = y.grp AND p.node = y.b
         |  GROUP BY y.grp, y.a),
         |r$k AS (
         |  SELECT s.grp, s.node,
         |         CAST(floor(s.s * CAST(1000000.0 AS DOUBLE) / m.mx + 0.5) AS BIGINT) AS v
         |  FROM s$k s JOIN (SELECT grp, max(s) AS mx FROM s$k GROUP BY grp) m
         |    ON m.grp = s.grp)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT n_name AS grp, CAST(l_suppkey AS BIGINT) AS src,
       |         CAST(o_custkey + 1000000 AS BIGINT) AS dst,
       |         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
       |  FROM lineitem
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation ON c_nationkey = n_nationkey
       |  WHERE l_quantity >= 49
       |  GROUP BY 1, 2, 3),
       |sym AS (
       |  SELECT grp, a, b, CAST(sum(w) AS BIGINT) AS w FROM (
       |    SELECT grp, src AS a, dst AS b, w FROM e
       |    UNION ALL SELECT grp, dst AS a, src AS b, w FROM e)
       |  GROUP BY grp, a, b),
       |r0 AS (SELECT DISTINCT grp, a AS node, CAST(1000000 AS BIGINT) AS v FROM sym),
       |$steps
       |SELECT grp, node, v AS eigen_scaled FROM r$iters""".stripMargin
  }

  /** G6 (weighted form) — the production per-group eigen kernel uses
    * edge weights (q72's diversity tail); this gates the weighted
    * iteration arithmetic the way q96 gates the unweighted one. */
  val q115 = QuerySpec.sql(
    "q115_eigen_weighted_exact",
    eigenWeightedOracle(iters = 5),
    "weighted exact-scaled per-group eigencentrality (SURVEY G6)") { (s, d) =>
    GraphAnalytics.eigenWeightedExactScaled(
      groupEdges(s, d).select(col("group"), col("src"), col("dst"),
        col("weight")), iters = 5)
  }

  /** Chained-CTE mirror of [[GraphAnalytics.ssspExactScaled]]: per
    * step one frontier-relax UNION and one min aggregation. */
  private def ssspOracle(iters: Int): String = {
    val steps = (1 to iters).map { k =>
      s"""d$k AS (
         |  SELECT y.grp, y.b AS node, CAST(min(p.dist + y.w) AS BIGINT) AS dist
         |  FROM hop y JOIN d${k - 1} p ON p.grp = y.grp AND p.node = y.a
         |  GROUP BY y.grp, y.b)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT n_name AS grp, CAST(l_suppkey AS BIGINT) AS src,
       |         CAST(o_custkey + 1000000 AS BIGINT) AS dst,
       |         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
       |  FROM lineitem
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation ON c_nationkey = n_nationkey
       |  WHERE l_quantity >= 49
       |  GROUP BY 1, 2, 3),
       |sym AS MATERIALIZED (
       |  SELECT grp, a, b, CAST(min(w) AS BIGINT) AS w FROM (
       |    SELECT grp, src AS a, dst AS b, w FROM e
       |    UNION ALL SELECT grp, dst AS a, src AS b, w FROM e)
       |  GROUP BY grp, a, b),
       |hop AS MATERIALIZED (
       |  SELECT grp, a, b, w FROM sym
       |  UNION ALL
       |  SELECT DISTINCT grp, a, a AS b, CAST(0 AS BIGINT) AS w FROM sym),
       |d0 AS (SELECT grp, min(a) AS node, CAST(0 AS BIGINT) AS dist
       |       FROM sym GROUP BY grp),
       |$steps
       |SELECT grp, node, dist FROM d$iters""".stripMargin
  }

  /** G4 (weighted-distance slice, whole-graph tier) — distributed
    * Bellman-Ford SSSP, hash-oracled: integer min-plus supersteps are
    * engine-independent, so the driver verifies the distributed
    * weighted-shortest-path machinery that the task-local Dijkstra
    * kernel (golden-pinned) uses at the per-sample tier. */
  val q117 = QuerySpec.sql(
    "q117_sssp_exact",
    ssspOracle(iters = 8),
    "distributed weighted SSSP via min-plus supersteps (SURVEY G4)") { (s, d) =>
    GraphAnalytics.ssspExactScaled(
      groupEdges(s, d).select(col("group"), col("src"), col("dst"),
        col("weight")), iters = 8)
  }

  /** Chained-CTE mirror of [[GraphAnalytics.kcore]]: per round one
    * survivor-restricted degree CTE and one threshold filter. */
  private def kcoreOracle(k: Int, iters: Int): String = {
    val steps = (1 to iters).map { t =>
      s"""d$t AS (
         |  SELECT y.grp, y.a AS node, count(*) AS deg
         |  FROM sym y
         |  JOIN k${t - 1} p ON p.grp = y.grp AND p.node = y.a
         |  JOIN k${t - 1} q ON q.grp = y.grp AND q.node = y.b
         |  GROUP BY y.grp, y.a),
         |k$t AS (SELECT grp, node FROM d$t WHERE deg >= $k)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT n_name AS grp, CAST(l_suppkey AS BIGINT) AS src,
       |         CAST(o_custkey + 1000000 AS BIGINT) AS dst
       |  FROM lineitem
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation ON c_nationkey = n_nationkey
       |  WHERE l_quantity >= 49
       |  GROUP BY 1, 2, 3),
       |sym AS (SELECT grp, src AS a, dst AS b FROM e
       |        UNION SELECT grp, dst AS a, src AS b FROM e),
       |k0 AS (SELECT DISTINCT grp, a AS node FROM sym),
       |$steps
       |SELECT grp, node, CAST(deg AS BIGINT) AS deg
       |FROM d$iters WHERE deg >= $k""".stripMargin
  }

  /** Beyond-reference — k-core decomposition: the degeneracy-structure
    * peel (core membership + within-core degree), hash-oracled with a
    * fixed round count on both engines. */
  val q118 = QuerySpec.sql(
    "q118_kcore",
    kcoreOracle(k = 2, iters = 4),
    "k-core peeling with within-core degrees (beyond-reference)") { (s, d) =>
    GraphAnalytics.kcore(
      groupEdges(s, d).select(col("group"), col("src"), col("dst")),
      k = 2, iters = 4)
  }

  /** G16 (per-vertex form) — per-node triangle counts from the
    * task-local [[GraphAnalytics.edgeSupport]] kernel, hash-oracled
    * (the gate keeps its GraphX name for continuity). The
    * supplier→customer evidence graph is bipartite (zero triangles by
    * construction), so this runs on the
    * CO-SUPPLIER projection: suppliers connected when they ship the
    * same order — the standard bipartite→unipartite projection
    * ecology tooling applies to co-occurrence data. The oracle
    * enumerates each triangle once as an ordered triple (x<y<z) over
    * the canonical edge list and credits all three corners;
    * zero-triangle vertices emit 0 on both sides. Integers end to
    * end. */
  val q119 = QuerySpec.sql(
    "q119_graphx_triangles",
    """WITH co AS (
      |  SELECT DISTINCT l1.l_suppkey AS a, l2.l_suppkey AS b
      |  FROM lineitem l1
      |  JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
      |    AND l1.l_suppkey < l2.l_suppkey
      |  WHERE l1.l_quantity >= 40 AND l2.l_quantity >= 40),
      |tri AS (
      |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
      |  FROM co e1
      |  JOIN co e2 ON e2.a = e1.b
      |  JOIN co e3 ON e3.a = e1.a AND e3.b = e2.b),
      |corner AS (
      |  SELECT x AS node FROM tri
      |  UNION ALL SELECT y FROM tri
      |  UNION ALL SELECT z FROM tri),
      |cnt AS (SELECT node, count(*) AS n FROM corner GROUP BY node),
      |nodes AS (SELECT a AS node FROM co UNION SELECT b FROM co)
      |SELECT CAST(n.node AS BIGINT) AS node,
      |       CAST(COALESCE(c.n, 0) AS BIGINT) AS n_triangles
      |FROM nodes n LEFT JOIN cnt c ON c.node = n.node""",
    "triangle counting by sorted out-list intersection on the co-supplier projection (SURVEY G16)") { (s, d) =>
    coTriangles(s, d).select(col("node"), col("n_tri").as("n_triangles"))
  }

  /** Degree assortativity per group (beyond-reference network stat,
    * igraph `assortativity_degree` semantics on the symmetrized
    * graph): Pearson correlation of endpoint degrees over directed
    * edge instances. Every accumulated term (M, Σx, Σy, Σxy, Σx²,
    * Σy²) is an exact integer; the final correlation is ONE float
    * expression written token-identically on both engines, so the
    * hash gate holds without scaling. Degenerate groups (zero
    * variance) emit NULL on both sides. */
  val q120 = QuerySpec.sql(
    "q120_assortativity",
    """WITH e AS (
      |  SELECT n_name AS grp, CAST(l_suppkey AS BIGINT) AS src,
      |         CAST(o_custkey + 1000000 AS BIGINT) AS dst
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  WHERE l_quantity >= 49
      |  GROUP BY 1, 2, 3),
      |sym AS (SELECT grp, src AS a, dst AS b FROM e
      |        UNION SELECT grp, dst AS a, src AS b FROM e),
      |deg AS (SELECT grp, a AS node, count(*) AS d FROM sym GROUP BY grp, a),
      |pairs AS (
      |  SELECT y.grp, da.d AS x, db.d AS y
      |  FROM sym y
      |  JOIN deg da ON da.grp = y.grp AND da.node = y.a
      |  JOIN deg db ON db.grp = y.grp AND db.node = y.b),
      |sums AS (
      |  SELECT grp, CAST(count(*) AS BIGINT) AS m,
      |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |         CAST(sum(x * y) AS BIGINT) AS sxy,
      |         CAST(sum(x * x) AS BIGINT) AS sxx,
      |         CAST(sum(y * y) AS BIGINT) AS syy
      |  FROM pairs GROUP BY grp)
      |SELECT grp,
      |       CASE WHEN m * sxx - sx * sx = 0 OR m * syy - sy * sy = 0 THEN NULL
      |            ELSE (CAST(m AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
      |                 (sqrt(CAST(m AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) *
      |                  sqrt(CAST(m AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
      |       END AS assortativity
      |FROM sums""",
    "per-group degree assortativity, exact-integer sums (beyond-reference)") { (s, d) =>
    val e = groupEdges(s, d).select(col("group").as("grp"),
      col("src").cast("long").as("a"), col("dst").cast("long").as("b"))
    val sym = e.unionByName(e.select(col("grp"), col("b").as("a"), col("a").as("b")))
      .distinct()
    val deg = sym.groupBy(col("grp"), col("a").as("node")).agg(count(lit(1)).as("d"))
    val pairs = sym
      .join(deg.select(col("grp"), col("node").as("a"), col("d").as("x")), Seq("grp", "a"))
      .join(deg.select(col("grp"), col("node").as("b"), col("d").as("y")), Seq("grp", "b"))
    pairs.groupBy("grp")
      .agg(count(lit(1)).as("m"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("grp"),
        // explicit zero-variance guard on BOTH engines: IEEE 0.0/0.0
        // is NaN in Spark but version-dependent in DuckDB, so the
        // degenerate case must short-circuit to NULL before the division
        when(col("m") * col("sxx") - col("sx") * col("sx") === 0 ||
             col("m") * col("syy") - col("sy") * col("sy") === 0, lit(null))
          .otherwise(
            (col("m").cast("double") * col("sxy") - col("sx").cast("double") * col("sy")) /
              (sqrt(col("m").cast("double") * col("sxx") - col("sx").cast("double") * col("sx")) *
                sqrt(col("m").cast("double") * col("syy") - col("sy").cast("double") * col("sy"))))
          .as("assortativity"))
  }

  /** Local clustering coefficient (igraph `transitivity(type="local")`
    * semantics) on the co-supplier projection: c(v) = 2·T(v)/(d·(d−1))
    * with T and d from the [[GraphAnalytics.edgeSupport]] pass over
    * the canonical edges — both exact integers, one identical float
    * expression per node. Degree-<2 nodes emit NULL on both sides
    * (igraph's NaN analog). */
  val q122 = QuerySpec.sql(
    "q122_clustering_coeff",
    """WITH co AS (
      |  SELECT DISTINCT l1.l_suppkey AS a, l2.l_suppkey AS b
      |  FROM lineitem l1
      |  JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
      |    AND l1.l_suppkey < l2.l_suppkey
      |  WHERE l1.l_quantity >= 40 AND l2.l_quantity >= 40),
      |tri AS (
      |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
      |  FROM co e1
      |  JOIN co e2 ON e2.a = e1.b
      |  JOIN co e3 ON e3.a = e1.a AND e3.b = e2.b),
      |corner AS (
      |  SELECT x AS node FROM tri
      |  UNION ALL SELECT y FROM tri
      |  UNION ALL SELECT z FROM tri),
      |cnt AS (SELECT node, count(*) AS n FROM corner GROUP BY node),
      |deg AS (
      |  SELECT node, count(*) AS d FROM (
      |    SELECT a AS node FROM co UNION ALL SELECT b FROM co)
      |  GROUP BY node)
      |SELECT CAST(deg.node AS BIGINT) AS node,
      |       CASE WHEN deg.d < 2 THEN NULL
      |            ELSE CAST(2 AS DOUBLE) * COALESCE(cnt.n, 0)
      |                 / (CAST(deg.d AS DOUBLE) * (deg.d - 1)) END AS clustering
      |FROM deg LEFT JOIN cnt ON cnt.node = deg.node""",
    "local clustering coefficient via edge-support triangles (beyond-reference)") { (s, d) =>
    coTriangles(s, d).select(col("node"),
      when(col("d") < 2, lit(null).cast("double"))
        .otherwise(lit(2.0) * col("n_tri") / (col("d").cast("double") * (col("d") - 1)))
        .as("clustering"))
  }

  /** G14/G15 — the community kernels, output-pinned: walktrap
    * (exact Pons-Latapy port) and CNM fastgreedy assignments for the
    * two smallest sf0.01 nation subgraphs, canonically labeled by the
    * minimum member vertex id (perGroupCommunities), pinned as a
    * VALUES oracle the same way q85/q86 pin seeded sampling decisions:
    * both kernels are deterministic, so the assignment IS a constant
    * of the data. Oracle literals are sf0.01-specific (the driver's
    * correctness SF), like every output-pinned gate.
    * Reference: bin/CompareNetworkGroups.R:67-68, bin/TriadicClosures.R:59-60. */
  val q130 = QuerySpec.sql(
    "q130_communities",
    """SELECT * FROM (VALUES
      |  ('NATION_5',CAST(0 AS BIGINT),CAST(0 AS BIGINT),CAST(0 AS BIGINT)),('NATION_5',CAST(2 AS BIGINT),CAST(2 AS BIGINT),CAST(2 AS BIGINT)),
      |  ('NATION_5',CAST(3 AS BIGINT),CAST(3 AS BIGINT),CAST(3 AS BIGINT)),('NATION_5',CAST(5 AS BIGINT),CAST(5 AS BIGINT),CAST(5 AS BIGINT)),
      |  ('NATION_5',CAST(6 AS BIGINT),CAST(5 AS BIGINT),CAST(5 AS BIGINT)),('NATION_5',CAST(7 AS BIGINT),CAST(7 AS BIGINT),CAST(7 AS BIGINT)),
      |  ('NATION_5',CAST(8 AS BIGINT),CAST(0 AS BIGINT),CAST(0 AS BIGINT)),('NATION_5',CAST(9 AS BIGINT),CAST(2 AS BIGINT),CAST(2 AS BIGINT)),
      |  ('NATION_5',CAST(13 AS BIGINT),CAST(2 AS BIGINT),CAST(13 AS BIGINT)),('NATION_5',CAST(16 AS BIGINT),CAST(2 AS BIGINT),CAST(16 AS BIGINT)),
      |  ('NATION_5',CAST(17 AS BIGINT),CAST(2 AS BIGINT),CAST(13 AS BIGINT)),('NATION_5',CAST(18 AS BIGINT),CAST(18 AS BIGINT),CAST(18 AS BIGINT)),
      |  ('NATION_5',CAST(20 AS BIGINT),CAST(2 AS BIGINT),CAST(20 AS BIGINT)),('NATION_5',CAST(21 AS BIGINT),CAST(21 AS BIGINT),CAST(21 AS BIGINT)),
      |  ('NATION_5',CAST(22 AS BIGINT),CAST(5 AS BIGINT),CAST(5 AS BIGINT)),('NATION_5',CAST(28 AS BIGINT),CAST(7 AS BIGINT),CAST(7 AS BIGINT)),
      |  ('NATION_5',CAST(34 AS BIGINT),CAST(34 AS BIGINT),CAST(34 AS BIGINT)),('NATION_5',CAST(35 AS BIGINT),CAST(5 AS BIGINT),CAST(5 AS BIGINT)),
      |  ('NATION_5',CAST(37 AS BIGINT),CAST(0 AS BIGINT),CAST(0 AS BIGINT)),('NATION_5',CAST(38 AS BIGINT),CAST(2 AS BIGINT),CAST(2 AS BIGINT)),
      |  ('NATION_5',CAST(39 AS BIGINT),CAST(2 AS BIGINT),CAST(13 AS BIGINT)),('NATION_5',CAST(40 AS BIGINT),CAST(2 AS BIGINT),CAST(13 AS BIGINT)),
      |  ('NATION_5',CAST(46 AS BIGINT),CAST(2 AS BIGINT),CAST(2 AS BIGINT)),('NATION_5',CAST(49 AS BIGINT),CAST(7 AS BIGINT),CAST(7 AS BIGINT)),
      |  ('NATION_5',CAST(52 AS BIGINT),CAST(52 AS BIGINT),CAST(52 AS BIGINT)),('NATION_5',CAST(53 AS BIGINT),CAST(2 AS BIGINT),CAST(2 AS BIGINT)),
      |  ('NATION_5',CAST(55 AS BIGINT),CAST(55 AS BIGINT),CAST(55 AS BIGINT)),('NATION_5',CAST(56 AS BIGINT),CAST(2 AS BIGINT),CAST(13 AS BIGINT)),
      |  ('NATION_5',CAST(57 AS BIGINT),CAST(2 AS BIGINT),CAST(2 AS BIGINT)),('NATION_5',CAST(58 AS BIGINT),CAST(58 AS BIGINT),CAST(58 AS BIGINT)),
      |  ('NATION_5',CAST(60 AS BIGINT),CAST(2 AS BIGINT),CAST(20 AS BIGINT)),('NATION_5',CAST(61 AS BIGINT),CAST(2 AS BIGINT),CAST(16 AS BIGINT)),
      |  ('NATION_5',CAST(63 AS BIGINT),CAST(63 AS BIGINT),CAST(63 AS BIGINT)),('NATION_5',CAST(65 AS BIGINT),CAST(2 AS BIGINT),CAST(13 AS BIGINT)),
      |  ('NATION_5',CAST(67 AS BIGINT),CAST(7 AS BIGINT),CAST(7 AS BIGINT)),('NATION_5',CAST(68 AS BIGINT),CAST(2 AS BIGINT),CAST(2 AS BIGINT)),
      |  ('NATION_5',CAST(69 AS BIGINT),CAST(0 AS BIGINT),CAST(0 AS BIGINT)),('NATION_5',CAST(70 AS BIGINT),CAST(2 AS BIGINT),CAST(2 AS BIGINT)),
      |  ('NATION_5',CAST(71 AS BIGINT),CAST(52 AS BIGINT),CAST(52 AS BIGINT)),('NATION_5',CAST(72 AS BIGINT),CAST(5 AS BIGINT),CAST(5 AS BIGINT)),
      |  ('NATION_5',CAST(74 AS BIGINT),CAST(0 AS BIGINT),CAST(0 AS BIGINT)),('NATION_5',CAST(83 AS BIGINT),CAST(2 AS BIGINT),CAST(16 AS BIGINT)),
      |  ('NATION_5',CAST(88 AS BIGINT),CAST(88 AS BIGINT),CAST(88 AS BIGINT)),('NATION_5',CAST(91 AS BIGINT),CAST(34 AS BIGINT),CAST(34 AS BIGINT)),
      |  ('NATION_5',CAST(93 AS BIGINT),CAST(5 AS BIGINT),CAST(5 AS BIGINT)),('NATION_5',CAST(94 AS BIGINT),CAST(5 AS BIGINT),CAST(5 AS BIGINT)),
      |  ('NATION_5',CAST(95 AS BIGINT),CAST(2 AS BIGINT),CAST(20 AS BIGINT)),('NATION_5',CAST(96 AS BIGINT),CAST(0 AS BIGINT),CAST(0 AS BIGINT)),
      |  ('NATION_5',CAST(98 AS BIGINT),CAST(5 AS BIGINT),CAST(5 AS BIGINT)),('NATION_5',CAST(99 AS BIGINT),CAST(7 AS BIGINT),CAST(7 AS BIGINT)),
      |  ('NATION_5',CAST(1000031 AS BIGINT),CAST(63 AS BIGINT),CAST(63 AS BIGINT)),('NATION_5',CAST(1000077 AS BIGINT),CAST(2 AS BIGINT),CAST(2 AS BIGINT)),
      |  ('NATION_5',CAST(1000096 AS BIGINT),CAST(18 AS BIGINT),CAST(18 AS BIGINT)),('NATION_5',CAST(1000141 AS BIGINT),CAST(2 AS BIGINT),CAST(2 AS BIGINT)),
      |  ('NATION_5',CAST(1000147 AS BIGINT),CAST(2 AS BIGINT),CAST(13 AS BIGINT)),('NATION_5',CAST(1000188 AS BIGINT),CAST(2 AS BIGINT),CAST(20 AS BIGINT)),
      |  ('NATION_5',CAST(1000325 AS BIGINT),CAST(34 AS BIGINT),CAST(34 AS BIGINT)),('NATION_5',CAST(1000326 AS BIGINT),CAST(5 AS BIGINT),CAST(5 AS BIGINT)),
      |  ('NATION_5',CAST(1000338 AS BIGINT),CAST(2 AS BIGINT),CAST(13 AS BIGINT)),('NATION_5',CAST(1000411 AS BIGINT),CAST(2 AS BIGINT),CAST(13 AS BIGINT)),
      |  ('NATION_5',CAST(1000485 AS BIGINT),CAST(2 AS BIGINT),CAST(16 AS BIGINT)),('NATION_5',CAST(1000565 AS BIGINT),CAST(5 AS BIGINT),CAST(5 AS BIGINT)),
      |  ('NATION_5',CAST(1000566 AS BIGINT),CAST(34 AS BIGINT),CAST(34 AS BIGINT)),('NATION_5',CAST(1000592 AS BIGINT),CAST(88 AS BIGINT),CAST(88 AS BIGINT)),
      |  ('NATION_5',CAST(1000652 AS BIGINT),CAST(0 AS BIGINT),CAST(0 AS BIGINT)),('NATION_5',CAST(1000718 AS BIGINT),CAST(5 AS BIGINT),CAST(5 AS BIGINT)),
      |  ('NATION_5',CAST(1000734 AS BIGINT),CAST(3 AS BIGINT),CAST(3 AS BIGINT)),('NATION_5',CAST(1000871 AS BIGINT),CAST(2 AS BIGINT),CAST(20 AS BIGINT)),
      |  ('NATION_5',CAST(1000902 AS BIGINT),CAST(7 AS BIGINT),CAST(7 AS BIGINT)),('NATION_5',CAST(1000963 AS BIGINT),CAST(2 AS BIGINT),CAST(2 AS BIGINT)),
      |  ('NATION_5',CAST(1000975 AS BIGINT),CAST(2 AS BIGINT),CAST(16 AS BIGINT)),('NATION_5',CAST(1001071 AS BIGINT),CAST(0 AS BIGINT),CAST(0 AS BIGINT)),
      |  ('NATION_5',CAST(1001084 AS BIGINT),CAST(2 AS BIGINT),CAST(13 AS BIGINT)),('NATION_5',CAST(1001111 AS BIGINT),CAST(52 AS BIGINT),CAST(52 AS BIGINT)),
      |  ('NATION_5',CAST(1001256 AS BIGINT),CAST(7 AS BIGINT),CAST(7 AS BIGINT)),('NATION_5',CAST(1001264 AS BIGINT),CAST(34 AS BIGINT),CAST(34 AS BIGINT)),
      |  ('NATION_5',CAST(1001287 AS BIGINT),CAST(58 AS BIGINT),CAST(58 AS BIGINT)),('NATION_5',CAST(1001290 AS BIGINT),CAST(21 AS BIGINT),CAST(21 AS BIGINT)),
      |  ('NATION_5',CAST(1001307 AS BIGINT),CAST(55 AS BIGINT),CAST(55 AS BIGINT)),('NATION_5',CAST(1001354 AS BIGINT),CAST(0 AS BIGINT),CAST(0 AS BIGINT)),
      |  ('NATION_5',CAST(1001363 AS BIGINT),CAST(0 AS BIGINT),CAST(0 AS BIGINT)),('NATION_5',CAST(1001394 AS BIGINT),CAST(5 AS BIGINT),CAST(5 AS BIGINT)),
      |  ('NATION_5',CAST(1001478 AS BIGINT),CAST(2 AS BIGINT),CAST(13 AS BIGINT)),('NATION_8',CAST(1 AS BIGINT),CAST(1 AS BIGINT),CAST(1 AS BIGINT)),
      |  ('NATION_8',CAST(3 AS BIGINT),CAST(3 AS BIGINT),CAST(3 AS BIGINT)),('NATION_8',CAST(5 AS BIGINT),CAST(5 AS BIGINT),CAST(5 AS BIGINT)),
      |  ('NATION_8',CAST(6 AS BIGINT),CAST(6 AS BIGINT),CAST(6 AS BIGINT)),('NATION_8',CAST(9 AS BIGINT),CAST(1 AS BIGINT),CAST(1 AS BIGINT)),
      |  ('NATION_8',CAST(11 AS BIGINT),CAST(1 AS BIGINT),CAST(1 AS BIGINT)),('NATION_8',CAST(12 AS BIGINT),CAST(12 AS BIGINT),CAST(12 AS BIGINT)),
      |  ('NATION_8',CAST(13 AS BIGINT),CAST(13 AS BIGINT),CAST(13 AS BIGINT)),('NATION_8',CAST(14 AS BIGINT),CAST(14 AS BIGINT),CAST(14 AS BIGINT)),
      |  ('NATION_8',CAST(18 AS BIGINT),CAST(18 AS BIGINT),CAST(18 AS BIGINT)),('NATION_8',CAST(19 AS BIGINT),CAST(19 AS BIGINT),CAST(19 AS BIGINT)),
      |  ('NATION_8',CAST(20 AS BIGINT),CAST(20 AS BIGINT),CAST(20 AS BIGINT)),('NATION_8',CAST(24 AS BIGINT),CAST(24 AS BIGINT),CAST(24 AS BIGINT)),
      |  ('NATION_8',CAST(26 AS BIGINT),CAST(24 AS BIGINT),CAST(24 AS BIGINT)),('NATION_8',CAST(28 AS BIGINT),CAST(5 AS BIGINT),CAST(5 AS BIGINT)),
      |  ('NATION_8',CAST(32 AS BIGINT),CAST(1 AS BIGINT),CAST(32 AS BIGINT)),('NATION_8',CAST(33 AS BIGINT),CAST(1 AS BIGINT),CAST(32 AS BIGINT)),
      |  ('NATION_8',CAST(34 AS BIGINT),CAST(18 AS BIGINT),CAST(18 AS BIGINT)),('NATION_8',CAST(36 AS BIGINT),CAST(24 AS BIGINT),CAST(24 AS BIGINT)),
      |  ('NATION_8',CAST(39 AS BIGINT),CAST(39 AS BIGINT),CAST(39 AS BIGINT)),('NATION_8',CAST(42 AS BIGINT),CAST(42 AS BIGINT),CAST(42 AS BIGINT)),
      |  ('NATION_8',CAST(44 AS BIGINT),CAST(24 AS BIGINT),CAST(24 AS BIGINT)),('NATION_8',CAST(45 AS BIGINT),CAST(5 AS BIGINT),CAST(5 AS BIGINT)),
      |  ('NATION_8',CAST(48 AS BIGINT),CAST(48 AS BIGINT),CAST(48 AS BIGINT)),('NATION_8',CAST(49 AS BIGINT),CAST(1 AS BIGINT),CAST(32 AS BIGINT)),
      |  ('NATION_8',CAST(52 AS BIGINT),CAST(52 AS BIGINT),CAST(52 AS BIGINT)),('NATION_8',CAST(53 AS BIGINT),CAST(53 AS BIGINT),CAST(53 AS BIGINT)),
      |  ('NATION_8',CAST(54 AS BIGINT),CAST(54 AS BIGINT),CAST(54 AS BIGINT)),('NATION_8',CAST(55 AS BIGINT),CAST(1 AS BIGINT),CAST(1 AS BIGINT)),
      |  ('NATION_8',CAST(62 AS BIGINT),CAST(62 AS BIGINT),CAST(62 AS BIGINT)),('NATION_8',CAST(63 AS BIGINT),CAST(24 AS BIGINT),CAST(24 AS BIGINT)),
      |  ('NATION_8',CAST(65 AS BIGINT),CAST(52 AS BIGINT),CAST(52 AS BIGINT)),('NATION_8',CAST(67 AS BIGINT),CAST(14 AS BIGINT),CAST(14 AS BIGINT)),
      |  ('NATION_8',CAST(69 AS BIGINT),CAST(69 AS BIGINT),CAST(69 AS BIGINT)),('NATION_8',CAST(72 AS BIGINT),CAST(42 AS BIGINT),CAST(42 AS BIGINT)),
      |  ('NATION_8',CAST(73 AS BIGINT),CAST(73 AS BIGINT),CAST(73 AS BIGINT)),('NATION_8',CAST(81 AS BIGINT),CAST(3 AS BIGINT),CAST(3 AS BIGINT)),
      |  ('NATION_8',CAST(82 AS BIGINT),CAST(1 AS BIGINT),CAST(32 AS BIGINT)),('NATION_8',CAST(83 AS BIGINT),CAST(83 AS BIGINT),CAST(83 AS BIGINT)),
      |  ('NATION_8',CAST(84 AS BIGINT),CAST(84 AS BIGINT),CAST(84 AS BIGINT)),('NATION_8',CAST(85 AS BIGINT),CAST(85 AS BIGINT),CAST(85 AS BIGINT)),
      |  ('NATION_8',CAST(86 AS BIGINT),CAST(52 AS BIGINT),CAST(52 AS BIGINT)),('NATION_8',CAST(88 AS BIGINT),CAST(54 AS BIGINT),CAST(54 AS BIGINT)),
      |  ('NATION_8',CAST(89 AS BIGINT),CAST(20 AS BIGINT),CAST(20 AS BIGINT)),('NATION_8',CAST(92 AS BIGINT),CAST(1 AS BIGINT),CAST(1 AS BIGINT)),
      |  ('NATION_8',CAST(93 AS BIGINT),CAST(93 AS BIGINT),CAST(93 AS BIGINT)),('NATION_8',CAST(95 AS BIGINT),CAST(20 AS BIGINT),CAST(20 AS BIGINT)),
      |  ('NATION_8',CAST(96 AS BIGINT),CAST(24 AS BIGINT),CAST(24 AS BIGINT)),('NATION_8',CAST(97 AS BIGINT),CAST(5 AS BIGINT),CAST(5 AS BIGINT)),
      |  ('NATION_8',CAST(98 AS BIGINT),CAST(1 AS BIGINT),CAST(1 AS BIGINT)),('NATION_8',CAST(1000043 AS BIGINT),CAST(93 AS BIGINT),CAST(93 AS BIGINT)),
      |  ('NATION_8',CAST(1000065 AS BIGINT),CAST(54 AS BIGINT),CAST(54 AS BIGINT)),('NATION_8',CAST(1000076 AS BIGINT),CAST(42 AS BIGINT),CAST(42 AS BIGINT)),
      |  ('NATION_8',CAST(1000166 AS BIGINT),CAST(42 AS BIGINT),CAST(42 AS BIGINT)),('NATION_8',CAST(1000168 AS BIGINT),CAST(3 AS BIGINT),CAST(3 AS BIGINT)),
      |  ('NATION_8',CAST(1000196 AS BIGINT),CAST(6 AS BIGINT),CAST(6 AS BIGINT)),('NATION_8',CAST(1000198 AS BIGINT),CAST(48 AS BIGINT),CAST(48 AS BIGINT)),
      |  ('NATION_8',CAST(1000253 AS BIGINT),CAST(84 AS BIGINT),CAST(84 AS BIGINT)),('NATION_8',CAST(1000267 AS BIGINT),CAST(83 AS BIGINT),CAST(83 AS BIGINT)),
      |  ('NATION_8',CAST(1000293 AS BIGINT),CAST(85 AS BIGINT),CAST(85 AS BIGINT)),('NATION_8',CAST(1000370 AS BIGINT),CAST(5 AS BIGINT),CAST(5 AS BIGINT)),
      |  ('NATION_8',CAST(1000486 AS BIGINT),CAST(13 AS BIGINT),CAST(13 AS BIGINT)),('NATION_8',CAST(1000520 AS BIGINT),CAST(62 AS BIGINT),CAST(62 AS BIGINT)),
      |  ('NATION_8',CAST(1000594 AS BIGINT),CAST(69 AS BIGINT),CAST(69 AS BIGINT)),('NATION_8',CAST(1000606 AS BIGINT),CAST(24 AS BIGINT),CAST(24 AS BIGINT)),
      |  ('NATION_8',CAST(1000626 AS BIGINT),CAST(14 AS BIGINT),CAST(14 AS BIGINT)),('NATION_8',CAST(1000631 AS BIGINT),CAST(1 AS BIGINT),CAST(32 AS BIGINT)),
      |  ('NATION_8',CAST(1000645 AS BIGINT),CAST(24 AS BIGINT),CAST(24 AS BIGINT)),('NATION_8',CAST(1000737 AS BIGINT),CAST(1 AS BIGINT),CAST(32 AS BIGINT)),
      |  ('NATION_8',CAST(1000978 AS BIGINT),CAST(1 AS BIGINT),CAST(1 AS BIGINT)),('NATION_8',CAST(1001029 AS BIGINT),CAST(1 AS BIGINT),CAST(1 AS BIGINT)),
      |  ('NATION_8',CAST(1001068 AS BIGINT),CAST(12 AS BIGINT),CAST(12 AS BIGINT)),('NATION_8',CAST(1001094 AS BIGINT),CAST(84 AS BIGINT),CAST(84 AS BIGINT)),
      |  ('NATION_8',CAST(1001141 AS BIGINT),CAST(39 AS BIGINT),CAST(39 AS BIGINT)),('NATION_8',CAST(1001159 AS BIGINT),CAST(52 AS BIGINT),CAST(52 AS BIGINT)),
      |  ('NATION_8',CAST(1001175 AS BIGINT),CAST(20 AS BIGINT),CAST(20 AS BIGINT)),('NATION_8',CAST(1001235 AS BIGINT),CAST(19 AS BIGINT),CAST(19 AS BIGINT)),
      |  ('NATION_8',CAST(1001248 AS BIGINT),CAST(1 AS BIGINT),CAST(1 AS BIGINT)),('NATION_8',CAST(1001311 AS BIGINT),CAST(73 AS BIGINT),CAST(73 AS BIGINT)),
      |  ('NATION_8',CAST(1001356 AS BIGINT),CAST(18 AS BIGINT),CAST(18 AS BIGINT)),('NATION_8',CAST(1001362 AS BIGINT),CAST(53 AS BIGINT),CAST(53 AS BIGINT)),
      |  ('NATION_8',CAST(1001387 AS BIGINT),CAST(18 AS BIGINT),CAST(18 AS BIGINT)),('NATION_8',CAST(1001403 AS BIGINT),CAST(20 AS BIGINT),CAST(20 AS BIGINT)),
      |  ('NATION_8',CAST(1001406 AS BIGINT),CAST(3 AS BIGINT),CAST(3 AS BIGINT)),('NATION_8',CAST(1001493 AS BIGINT),CAST(24 AS BIGINT),CAST(24 AS BIGINT))
      |) AS t(grp, id, walktrap_rep, cnm_rep)""",
    "walktrap + CNM community assignments, output-pinned (SURVEY G14,G15)") { (s, d) =>
    GraphAnalytics.perGroupCommunities(
        groupEdges(s, d).filter(col("group").isin("NATION_5", "NATION_8")))
      .select(col("group").as("grp"), col("id"), col("walktrap_rep"), col("cnm_rep"))
  }

  /** M8, hash-oracled: the FULL ANOSIM (Bray-Curtis distances →
    * midranks → R statistic → 99-permutation test) replayed by DuckDB
    * end-to-end. Samples are nations (supplier side), groups are
    * regions, abundance is part quantity over a bounded item space;
    * permutations come from the md5-portable uniform so the oracle
    * recomputes every shuffle — the same idiom that oracled the
    * samplers (q101/q102). Midranks make all intermediate sums exact
    * (multiples of 0.5), so the two float outputs are each ONE
    * token-identical IEEE expression. q73 keeps the driver-local
    * vegan-shaped implementation; THIS gates the statistic's
    * arithmetic distributively. */
  val q133 = QuerySpec.sql(
    "q133_anosim_portable",
    """WITH ab AS (
      |  SELECT n_name AS s, n_regionkey AS g, l_partkey AS item,
      |         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS v
      |  FROM lineitem
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  WHERE l_partkey % 50 = 0
      |  GROUP BY 1, 2, 3),
      |samples AS (SELECT s, g, CAST(sum(v) AS BIGINT) AS tot FROM ab GROUP BY s, g),
      |minsum AS (
      |  SELECT a.s AS sa, b.s AS sb, CAST(sum(least(a.v, b.v)) AS BIGINT) AS m
      |  FROM ab a JOIN ab b ON a.item = b.item AND a.s < b.s
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT x.s AS sa, y.s AS sb,
      |         1.0 - 2.0 * CAST(COALESCE(m.m, 0) AS DOUBLE)
      |               / CAST(x.tot + y.tot AS DOUBLE) AS d
      |  FROM samples x JOIN samples y ON x.s < y.s
      |  LEFT JOIN minsum m ON m.sa = x.s AND m.sb = y.s),
      |ranked AS (
      |  SELECT sa, sb, avg(rn) OVER (PARTITION BY d) AS r
      |  FROM (SELECT sa, sb, d, row_number() OVER (ORDER BY d, sa, sb) AS rn
      |        FROM pairs)),
      |base AS (SELECT s, g, row_number() OVER (ORDER BY s) AS k FROM samples),
      |ps AS (SELECT unnest(generate_series(0, 99)) AS p),
      |wh AS (
      |  SELECT p, s, g, k,
      |         ('0x' || substr(md5('7|' || CAST(p AS VARCHAR) || '|' || s), 1, 8))::BIGINT AS h
      |  FROM ps CROSS JOIN base),
      |hr AS (
      |  SELECT p, s, k,
      |         row_number() OVER (PARTITION BY p ORDER BY h, s) AS hr
      |  FROM wh),
      |assign AS (
      |  SELECT w.p, w.s, d.g AS gp
      |  FROM (SELECT p, s, CASE WHEN p = 0 THEN k ELSE hr END AS pos FROM hr) w
      |  JOIN (SELECT k AS pos, g FROM base) d ON d.pos = w.pos),
      |rs AS (
      |  SELECT ga.p,
      |         (avg(CASE WHEN ga.gp <> gb.gp THEN r END)
      |          - avg(CASE WHEN ga.gp = gb.gp THEN r END))
      |         / (CAST(count(*) AS DOUBLE) / 2) AS rstat
      |  FROM ranked
      |  JOIN assign ga ON ga.s = ranked.sa
      |  JOIN assign gb ON gb.p = ga.p AND gb.s = ranked.sb
      |  GROUP BY ga.p),
      |obs AS (SELECT rstat AS r_obs FROM rs WHERE p = 0)
      |SELECT max(r_obs) AS r_statistic,
      |       CAST(sum(CASE WHEN rstat >= r_obs THEN 1 ELSE 0 END) AS BIGINT) AS n_ge,
      |       CAST(sum(CASE WHEN rstat >= r_obs THEN 1 ELSE 0 END) + 1 AS DOUBLE) / 100 AS p_value
      |FROM rs CROSS JOIN obs WHERE p > 0""",
    "distributed ANOSIM with md5-portable permutation test (SURVEY M8)") { (s, d) =>
    val ab = Tables.lineitem(s, d)
      .filter(pmod(col("l_partkey"), lit(50)) === 0)
      .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("s"), col("n_regionkey").as("g"),
        col("l_partkey").as("item"))
      .agg(sum(col("l_quantity").cast("long")).as("v"))
    graft.stats.EcoStats.anosimPortable(ab, "s", "g", "item", "v",
      permutations = 99, seed = 7L)
  }

  /** M9, hash-oracled: the FULL PERMDISP (Bray-Curtis distances →
    * group medoids → dispersions → F statistic → 99-permutation test)
    * replayed by DuckDB end-to-end. Distances are exact-scaled to
    * BIGINTs (round(d·10⁶), the q77 idiom) BEFORE any comparison or
    * sum, so medoid argmins and dispersion sums are integer-exact;
    * with the equal-size groups this input guarantees (5 nations per
    * region), the F statistic collapses to one token-identical IEEE
    * expression over exact BIGINTs; permutations shuffle dispersion
    * labels via the md5-portable uniform (q101 idiom). q73 keeps the
    * driver-local vegan-shaped implementation; THIS gates M9's
    * arithmetic distributively. Reference:
    * bin/interpersonaldiversity.R:196-198 (betadisper + permutest). */
  val q134 = QuerySpec.sql(
    "q134_permdisp_portable",
    """WITH ab AS (
      |  SELECT n_name AS s, n_regionkey AS g, l_partkey AS item,
      |         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS v
      |  FROM lineitem
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  WHERE l_partkey % 50 = 0
      |  GROUP BY 1, 2, 3),
      |samples AS (SELECT s, g, CAST(sum(v) AS BIGINT) AS tot FROM ab GROUP BY s, g),
      |minsum AS (
      |  SELECT a.s AS sa, b.s AS sb, CAST(sum(least(a.v, b.v)) AS BIGINT) AS m
      |  FROM ab a JOIN ab b ON a.item = b.item AND a.s < b.s
      |  GROUP BY 1, 2),
      |half AS (
      |  SELECT x.s AS sa, y.s AS sb,
      |         CAST(round((1.0 - 2.0 * CAST(COALESCE(m.m, 0) AS DOUBLE)
      |               / CAST(x.tot + y.tot AS DOUBLE)) * 1000000, 0) AS BIGINT) AS di
      |  FROM samples x JOIN samples y ON x.s < y.s
      |  LEFT JOIN minsum m ON m.sa = x.s AND m.sb = y.s),
      |sym AS (SELECT sa AS x, sb AS y, di FROM half
      |        UNION ALL SELECT sb AS x, sa AS y, di FROM half),
      |gof AS (SELECT s, g FROM samples),
      |wsum AS (
      |  SELECT gx.g, sym.x, CAST(sum(sym.di) AS BIGINT) AS sd
      |  FROM sym JOIN gof gx ON gx.s = sym.x JOIN gof gy ON gy.s = sym.y
      |  WHERE gx.g = gy.g GROUP BY 1, 2),
      |medoid AS (
      |  SELECT g, x AS medoid FROM (
      |    SELECT g, x, row_number() OVER (PARTITION BY g ORDER BY sd, x) AS rk
      |    FROM wsum) WHERE rk = 1),
      |disp AS (
      |  SELECT b.s, b.g, COALESCE(sym.di, 0) AS dsp
      |  FROM gof b JOIN medoid md ON md.g = b.g
      |  LEFT JOIN sym ON sym.x = b.s AND sym.y = md.medoid),
      |base AS (SELECT s, g, dsp, row_number() OVER (ORDER BY s) AS k FROM disp),
      |ps AS (SELECT unnest(generate_series(0, 99)) AS p),
      |wh AS (
      |  SELECT p, s, k, dsp,
      |         ('0x' || substr(md5('11|' || CAST(p AS VARCHAR) || '|' || s), 1, 8))::BIGINT AS h
      |  FROM ps CROSS JOIN base),
      |hr AS (
      |  SELECT p, dsp,
      |         CASE WHEN p = 0 THEN k
      |              ELSE row_number() OVER (PARTITION BY p ORDER BY h, s) END AS pos
      |  FROM wh),
      |assign AS (
      |  SELECT w.p, w.dsp, d.gp
      |  FROM hr w JOIN (SELECT k AS pos, g AS gp FROM base) d ON d.pos = w.pos),
      |pg AS (
      |  SELECT p, gp, count(*) AS m, CAST(sum(dsp) AS BIGINT) AS sg,
      |         CAST(sum(dsp * dsp) AS BIGINT) AS qg
      |  FROM assign GROUP BY p, gp),
      |fs AS (
      |  SELECT p, count(*) AS k, CAST(sum(m) AS BIGINT) AS n,
      |         max(m) AS mx, min(m) AS mn, CAST(sum(sg) AS BIGINT) AS s,
      |         CAST(sum(sg * sg) AS BIGINT) AS ssq, CAST(sum(qg) AS BIGINT) AS q
      |  FROM pg GROUP BY p),
      |f AS (
      |  SELECT p,
      |         CASE WHEN mx * q - ssq = 0 OR mx <> mn THEN NULL
      |              ELSE CAST(n * n * ssq - 2 * n * mx * s * s + k * mx * mx * s * s AS DOUBLE)
      |                   * (n - k)
      |                   / (CAST(n AS DOUBLE) * n * (k - 1) * (mx * q - ssq)) END AS fstat
      |  FROM fs),
      |obs AS (SELECT fstat AS f_obs FROM f WHERE p = 0)
      |SELECT max(f_obs) AS f_statistic,
      |       CAST(sum(CASE WHEN fstat >= f_obs THEN 1 ELSE 0 END) AS BIGINT) AS n_ge,
      |       CAST(sum(CASE WHEN fstat >= f_obs THEN 1 ELSE 0 END) + 1 AS DOUBLE) / 100 AS p_value
      |FROM f CROSS JOIN obs WHERE p > 0""",
    "distributed PERMDISP with md5-portable permutation test (SURVEY M9)") { (s, d) =>
    val ab = Tables.lineitem(s, d)
      .filter(pmod(col("l_partkey"), lit(50)) === 0)
      .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("s"), col("n_regionkey").as("g"),
        col("l_partkey").as("item"))
      .agg(sum(col("l_quantity").cast("long")).as("v"))
    graft.stats.EcoStats.permdispPortable(ab, "s", "g", "item", "v",
      permutations = 99, seed = 11L)
  }

  /** G13 exact twin, hash-oracled: per-vertex inverse-Simpson (Hill
    * order-2) diversity of incident edge weights — the rational
    * counterpart of q59's Shannon-entropy diversity (igraph diversity,
    * bin/interpersonaldiversity.R:104), chosen because (Σw)²/Σw² stays
    * on exact BIGINTs until one final IEEE division while entropy's
    * log never replays bit-identically across engines. Spark side
    * reuses the memoized groupEdges build shared with q55/q56/q59. */
  val q135 = QuerySpec.sql(
    "q135_simpson_diversity",
    """WITH e AS (
      |  SELECT n_name AS grp, CAST(l_suppkey AS BIGINT) AS src,
      |         CAST(o_custkey + 1000000 AS BIGINT) AS dst,
      |         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  WHERE l_quantity >= 49
      |  GROUP BY 1, 2, 3),
      |sym AS (SELECT grp, src AS id, w FROM e
      |        UNION ALL SELECT grp, dst AS id, w FROM e),
      |agg AS (SELECT grp, id, CAST(sum(w) AS BIGINT) AS s,
      |               CAST(sum(w * w) AS BIGINT) AS q
      |        FROM sym GROUP BY grp, id)
      |SELECT grp, id, s, q, CAST(s AS DOUBLE) * s / q AS simpson FROM agg""",
    "per-vertex inverse-Simpson diversity, exact-rational (SURVEY G13)") { (s, d) =>
    GraphAnalytics.vertexSimpsonDiversity(
      groupEdges(s, d).select(col("group"), col("src"), col("dst"),
        col("weight").cast("long").as("w")))
  }

  private def robustnessStepSql(t: Int): String = s"""
    |s$t AS MATERIALIZED (SELECT a, b FROM e$t UNION ALL SELECT b AS a, a AS b FROM e$t),
    |r$t AS (
    |  SELECT v AS root, v AS node FROM v$t
    |  UNION
    |  SELECT r.root, s.b AS node FROM r$t r JOIN s$t s ON s.a = r.node),
    |c$t AS MATERIALIZED (SELECT root, min(node) AS c FROM r$t GROUP BY root),
    |m$t AS MATERIALIZED (SELECT max(cnt) AS m FROM (SELECT c, count(*) AS cnt FROM c$t GROUP BY c)),
    |d$t AS MATERIALIZED (SELECT v$t.v AS v, count(s$t.b) AS d FROM v$t LEFT JOIN s$t ON s$t.a = v$t.v GROUP BY v$t.v),
    |x$t AS MATERIALIZED (SELECT v FROM d$t ORDER BY d DESC, v LIMIT 1),
    |e${t + 1} AS MATERIALIZED (SELECT a, b FROM e$t WHERE a NOT IN (SELECT v FROM x$t) AND b NOT IN (SELECT v FROM x$t)),
    |v${t + 1} AS MATERIALIZED (SELECT v FROM v$t WHERE v NOT IN (SELECT v FROM x$t))""".stripMargin

  /** G19 exact twin, hash-oracled: the adaptive targeted-removal
    * robustness curve (LocalGraph.robustnessCurve's exact rule —
    * delete the highest-degree vertex, tie → smallest id, report
    * largest-component size over ORIGINAL n) on one nation's graph,
    * replayed step-by-step in DuckDB as an unrolled chain of degree
    * argmax + recursive-CTE closure blocks (MATERIALIZED, or the
    * optimizer re-inlines each step's chain exponentially — measured
    * 168 s → 0.07 s at sf0.01). DuckDB 1.0 quirk: inside WITH
    * RECURSIVE, a bare UNION in a NON-recursive CTE body skips its
    * dedup (140 vs 83 vertices here), so v0 spells the dedup as
    * SELECT DISTINCT over UNION ALL. Component sizes are
    * algorithm-independent, so the Spark side labels every step with
    * one [[GraphAnalytics.components]] call; everything is integers
    * until the final size/n division. q82 keeps the per-group driver-local curve; THIS gates
    * the removal rule and component arithmetic distributively. */
  val q136 = QuerySpec.sql(
    "q136_robustness_exact",
    """WITH RECURSIVE
      |e0 AS MATERIALIZED (
      |  SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS a,
      |         CAST(o_custkey + 1000000 AS BIGINT) AS b
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  WHERE l_quantity >= 49 AND n_name = 'NATION_5'),
      |v0 AS MATERIALIZED (SELECT DISTINCT v FROM
      |  (SELECT a AS v FROM e0 UNION ALL SELECT b AS v FROM e0)),
      |n0 AS MATERIALIZED (SELECT count(*) AS n FROM v0),""".stripMargin +
      (0 until 4).map(robustnessStepSql).mkString(",") + """,
      |s4 AS MATERIALIZED (SELECT a, b FROM e4 UNION ALL SELECT b AS a, a AS b FROM e4),
      |r4 AS (
      |  SELECT v AS root, v AS node FROM v4
      |  UNION
      |  SELECT r.root, s.b AS node FROM r4 r JOIN s4 s ON s.a = r.node),
      |c4 AS MATERIALIZED (SELECT root, min(node) AS c FROM r4 GROUP BY root),
      |m4 AS MATERIALIZED (SELECT max(cnt) AS m FROM (SELECT c, count(*) AS cnt FROM c4 GROUP BY c))
      |""".stripMargin +
      (0 to 4).map(t =>
        s"SELECT CAST($t AS BIGINT) AS n_removed, CAST(m AS BIGINT) AS largest, " +
          s"CAST(m AS DOUBLE) / (SELECT n FROM n0) AS largest_frac FROM m$t")
        .mkString("\nUNION ALL\n"),
    "adaptive targeted-removal robustness via per-step components (SURVEY G19)") { (s, d) =>
    GraphAnalytics.robustnessExact(
      groupEdges(s, d).where(col("group") === "NATION_5")
        .select(col("src"), col("dst")), steps = 4)
  }

  /** Chained-CTE mirror of [[GraphAnalytics.lpaExactScaled]]: per step
    * one neighbor-label-count CTE and one argmax CTE (row_number
    * ordered by count DESC, label ASC — the same total order the
    * Spark side encodes as a max over (count, -label) structs). */
  private def lpaOracle(iters: Int): String = {
    val steps = (1 to iters).map { k =>
      s"""s$k AS (
         |  SELECT y.grp, y.a AS node, p.lab AS lab, count(*) AS c
         |  FROM sym y JOIN l${k - 1} p ON p.grp = y.grp AND p.node = y.b
         |  GROUP BY 1, 2, 3),
         |l$k AS (
         |  SELECT grp, node, lab FROM (
         |    SELECT grp, node, lab,
         |           row_number() OVER (PARTITION BY grp, node
         |                              ORDER BY c DESC, lab ASC) AS rn
         |    FROM s$k) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT n_name AS grp, CAST(l_suppkey AS BIGINT) AS src,
       |         CAST(o_custkey + 1000000 AS BIGINT) AS dst
       |  FROM lineitem
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation ON c_nationkey = n_nationkey
       |  WHERE l_quantity >= 49
       |  GROUP BY 1, 2, 3),
       |sym AS (SELECT grp, src AS a, dst AS b FROM e
       |        UNION SELECT grp, dst AS a, src AS b FROM e),
       |l0 AS (SELECT DISTINCT grp, a AS node, a AS lab FROM sym),
       |$steps
       |SELECT grp, node, lab AS community FROM l$iters""".stripMargin
  }

  /** G14/G15 distributed twin, hash-oracled: deterministic synchronous
    * label propagation (min-label tie-break) as exact supersteps. The
    * driver-local walktrap/CNM kernels stay the reference-matching
    * form (q130's pinned assignments); THIS is the
    * whole-graph-scale community detector, gated end-to-end. */
  /** The 4-superstep LPA assignment — memoized: q156 returns it whole
    * and q162 scores it (one superstep run feeding both gates;
    * warmed in SparkEntry.warmCaches for bench attribution). */
  private[graft] def lpa4(s: org.apache.spark.sql.SparkSession, d: String) =
    graft.Memo.df(s, "lpa.4", d) {
      GraphAnalytics.lpaExactScaled(
        groupEdges(s, d).select(col("group"), col("src"), col("dst")),
        iters = 4)
    }

  val q156 = QuerySpec.sql(
    "q156_lpa_exact",
    lpaOracle(iters = 4),
    "deterministic per-group label propagation supersteps (SURVEY G14/G15)") { (s, d) =>
    lpa4(s, d)
  }

  /** [[lpaOracle]]'s CTE chain extended with the exact-integer
    * modularity blocks: degree mass, sym-intra counts, and the
    * per-community quantity m2·I_c − D_c², summed and divided ONCE. */
  private def lpaModularityOracle(iters: Int): String = {
    val steps = (1 to iters).map { k =>
      s"""s$k AS (
         |  SELECT y.grp, y.a AS node, p.lab AS lab, count(*) AS c
         |  FROM sym y JOIN l${k - 1} p ON p.grp = y.grp AND p.node = y.b
         |  GROUP BY 1, 2, 3),
         |l$k AS (
         |  SELECT grp, node, lab FROM (
         |    SELECT grp, node, lab,
         |           row_number() OVER (PARTITION BY grp, node
         |                              ORDER BY c DESC, lab ASC) AS rn
         |    FROM s$k) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT n_name AS grp, CAST(l_suppkey AS BIGINT) AS src,
       |         CAST(o_custkey + 1000000 AS BIGINT) AS dst
       |  FROM lineitem
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation ON c_nationkey = n_nationkey
       |  WHERE l_quantity >= 49
       |  GROUP BY 1, 2, 3),
       |sym AS (SELECT grp, src AS a, dst AS b FROM e
       |        UNION SELECT grp, dst AS a, src AS b FROM e),
       |l0 AS (SELECT DISTINCT grp, a AS node, a AS lab FROM sym),
       |$steps,
       |lab AS (SELECT grp, node, lab AS c FROM l$iters),
       |m2 AS (SELECT grp, count(*) AS m2 FROM sym GROUP BY 1),
       |deg AS (SELECT grp, a AS node, count(*) AS deg FROM sym GROUP BY 1, 2),
       |intra AS (
       |  SELECT s.grp, la.c AS c, count(*) AS sym_intra
       |  FROM sym s
       |  JOIN lab la ON la.grp = s.grp AND la.node = s.a
       |  JOIN lab lb ON lb.grp = s.grp AND lb.node = s.b
       |  WHERE la.c = lb.c GROUP BY 1, 2),
       |dsum AS (
       |  SELECT d.grp, la.c, CAST(sum(d.deg) AS BIGINT) AS dsum
       |  FROM deg d JOIN lab la ON la.grp = d.grp AND la.node = d.node
       |  GROUP BY 1, 2),
       |per AS (
       |  SELECT ds.grp, ds.c,
       |         m2.m2 * coalesce(i.sym_intra, 0) - ds.dsum * ds.dsum AS qc,
       |         m2.m2 AS m2
       |  FROM dsum ds JOIN m2 USING (grp)
       |  LEFT JOIN intra i ON i.grp = ds.grp AND i.c = ds.c)
       |SELECT grp, count(*) AS n_communities, CAST(sum(qc) AS BIGINT) AS q_num,
       |       CAST(sum(qc) AS DOUBLE) / CAST(max(m2) * max(m2) AS DOUBLE) AS modularity
       |FROM per GROUP BY grp""".stripMargin
  }

  /** Newman modularity of the q156 LPA assignment, hash-oracled —
    * the community-quality score (reference igraph modularity(),
    * bin/CompareNetworkGroups.R) computed distributively in exact
    * integers with one final division. */
  val q162 = QuerySpec.sql(
    "q162_lpa_modularity",
    lpaModularityOracle(iters = 4),
    "exact-integer Newman modularity of the LPA communities (SURVEY G14/G15)") { (s, d) =>
    GraphAnalytics.lpaModularityOf(
      groupEdges(s, d).select(col("group"), col("src"), col("dst")),
      lpa4(s, d))
  }

  /** M10, hash-oracled: pairwise two-sample Wilcoxon rank-sum over
    * per-customer balances by market segment, replayed by DuckDB
    * end-to-end — the q133 midrank idiom applied to the rank-sum
    * statistic (doubled midranks keep W and U exact BIGINTs; the
    * pooled ranks are permutation-invariant, so the 99-perm two-sided
    * test only re-selects group membership via the md5-portable
    * uniform). q72/q73 keep the driver-local R-shaped exact/normal
    * p-values (golden-pinned in specs); THIS gates M10's rank
    * arithmetic distributively (reference wilcox.test,
    * bin/interpersonaldiversity.R:147, bin/CompareSkin.R:218). */
  val q167 = QuerySpec.sql(
    "q167_wilcoxon_portable",
    """WITH o AS (
      |  SELECT c_mktsegment AS grp, c_custkey AS id,
      |         CAST(round(c_acctbal * 100, 0) AS BIGINT) AS v
      |  FROM customer WHERE c_custkey % 10 = 0),
      |gs AS (SELECT DISTINCT grp FROM o),
      |pairs AS (SELECT a.grp AS g1, b.grp AS g2 FROM gs a JOIN gs b ON a.grp < b.grp),
      |pooled AS (
      |  SELECT g1, g2, grp, id, v FROM o JOIN pairs ON grp = g1 OR grp = g2),
      |ranked AS (
      |  SELECT g1, g2, grp, id, v,
      |         row_number() OVER (PARTITION BY g1, g2 ORDER BY v, id) AS rn
      |  FROM pooled),
      |mid AS (
      |  SELECT g1, g2, grp, id,
      |         min(rn) OVER (PARTITION BY g1, g2, v)
      |           + max(rn) OVER (PARTITION BY g1, g2, v) AS mid2
      |  FROM ranked),
      |sizes AS (
      |  SELECT g1, g2,
      |         CAST(sum(CASE WHEN grp = g1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |         CAST(sum(CASE WHEN grp = g2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
      |  FROM pooled GROUP BY 1, 2),
      |ps AS (SELECT unnest(generate_series(0, 99)) AS p),
      |hashed AS (
      |  SELECT g1, g2, grp, id, mid2, p,
      |         ('0x' || substr(md5('11|' || CAST(p AS VARCHAR) || '|' ||
      |            CAST(id AS VARCHAR)), 1, 8))::BIGINT AS h
      |  FROM mid CROSS JOIN ps),
      |wh AS (
      |  SELECT g1, g2, grp, id, mid2, p,
      |         row_number() OVER (PARTITION BY g1, g2, p ORDER BY h, id) AS hr
      |  FROM hashed),
      |w AS (
      |  SELECT wh.g1, wh.g2, p, CAST(sum(mid2) AS BIGINT) AS w2,
      |         max(n1) AS n1, max(n2) AS n2
      |  FROM wh JOIN sizes USING (g1, g2)
      |  WHERE CASE WHEN p = 0 THEN grp = g1 ELSE hr <= n1 END
      |  GROUP BY wh.g1, wh.g2, p),
      |st AS (
      |  SELECT g1, g2, p, w2, n1, n2,
      |         w2 - n1 * (n1 + 1) AS u2,
      |         abs(w2 - n1 * (n1 + 1) - n1 * n2) AS dev
      |  FROM w),
      |ob AS (SELECT g1, g2, w2 AS w2o, u2 AS u2o, dev AS devo
      |       FROM st WHERE p = 0)
      |SELECT st.g1, st.g2, max(n1) AS n1, max(n2) AS n2,
      |       max(w2o) AS w2, CAST(max(u2o) AS DOUBLE) / 2 AS u,
      |       CAST(sum(CASE WHEN dev >= devo THEN 1 ELSE 0 END) AS BIGINT) AS n_ge,
      |       CAST(sum(CASE WHEN dev >= devo THEN 1 ELSE 0 END) + 1 AS DOUBLE) / 100
      |         AS p_value
      |FROM st JOIN ob USING (g1, g2) WHERE p > 0
      |GROUP BY st.g1, st.g2""",
    "pairwise Wilcoxon rank-sum with md5-portable permutation test (SURVEY M10)") { (s, d) =>
    graft.stats.EcoStats.wilcoxonPairsPortable(
      Tables.customer(s, d).filter(pmod(col("c_custkey"), lit(10)) === 0)
        .select(col("c_mktsegment").as("grp"), col("c_custkey").as("id"),
          graft.functions.ExactNum.scaled(col("c_acctbal"), 100).as("v")),
      permutations = 99, seed = 11L)
  }

  /** Chained-CTE mirror of [[GraphAnalytics.hitsExactScaled]]: per
    * superstep, a hub-sum CTE + global-max rescale, then an
    * authority-sum CTE + rescale — generated like the PageRank/eigen
    * oracles. The edge base is q90's directed supplier→customer
    * graph. Every CTE is `MATERIALIZED`: each half-step's sum is read
    * twice (its rescale and its max), e and v by every step, and DuckDB
    * inlines a plain CTE at every reference, so the work would
    * multiply at every half-step. */
  private def hitsOracle(iters: Int): String = {
    val steps = (1 to iters).map { k =>
      s"""hs$k AS MATERIALIZED (
         |  SELECT e.src AS id, CAST(sum(p.a) AS BIGINT) AS s
         |  FROM e JOIN a${k - 1} p ON p.id = e.dst GROUP BY e.src),
         |h$k AS MATERIALIZED (
         |  SELECT v.id,
         |         CASE WHEN m.mx IS NULL OR m.mx = 0 THEN CAST(0 AS BIGINT)
         |              ELSE CAST(floor(COALESCE(s.s, 0) * CAST(1000000.0 AS DOUBLE) / m.mx + 0.5) AS BIGINT)
         |         END AS h
         |  FROM v LEFT JOIN hs$k s ON s.id = v.id
         |  CROSS JOIN (SELECT max(s) AS mx FROM hs$k) m),
         |au$k AS MATERIALIZED (
         |  SELECT e.dst AS id, CAST(sum(p.h) AS BIGINT) AS s
         |  FROM e JOIN h$k p ON p.id = e.src GROUP BY e.dst),
         |a$k AS MATERIALIZED (
         |  SELECT v.id,
         |         CASE WHEN m.mx IS NULL OR m.mx = 0 THEN CAST(0 AS BIGINT)
         |              ELSE CAST(floor(COALESCE(s.s, 0) * CAST(1000000.0 AS DOUBLE) / m.mx + 0.5) AS BIGINT)
         |         END AS a
         |  FROM v LEFT JOIN au$k s ON s.id = v.id
         |  CROSS JOIN (SELECT max(s) AS mx FROM au$k) m)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (
       |  SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS src,
       |         CAST(o_custkey + 1000000 AS BIGINT) AS dst
       |  FROM lineitem
       |  JOIN orders ON l_orderkey = o_orderkey
       |  WHERE l_quantity >= 49),
       |v AS MATERIALIZED (SELECT src AS id FROM e UNION SELECT dst AS id FROM e),
       |a0 AS (SELECT id, CAST(1000000 AS BIGINT) AS a FROM v),
       |$steps
       |SELECT h.id, h.h AS hub_scaled, a.a AS auth_scaled
       |FROM h$iters h JOIN a$iters a ON a.id = h.id""".stripMargin
  }

  /** HITS hubs & authorities (beyond-reference G family), hash-oracled:
    * the exact-scaled two-sided power iteration — integer neighbor
    * sums, one rounded global-max normalization per half-step — so
    * DuckDB replays the whole trajectory (the q90/q96 discipline on a
    * directed two-score iteration). On the supplier→customer graph
    * hubs are suppliers, authorities customers. */
  val q170 = QuerySpec.sql(
    "q170_hits_exact",
    hitsOracle(iters = 4),
    "exact-scaled HITS hubs/authorities, chained-CTE-oracled (beyond-ref G)") { (s, d) =>
    GraphAnalytics.hitsExactScaled(
      groupEdges(s, d).select(col("src"), col("dst")), iters = 4)
  }

  /** Link prediction by common-neighbor count + Jaccard coefficient —
    * the classic unsupervised edge-recommendation scores, kept
    * hash-oracle-able: cn and the degrees are exact integers, the
    * Jaccard cn/(dᵤ+dᵥ−cn) is ONE IEEE division per emitted pair.
    * Candidate pairs come from the wedge join (two edges sharing an
    * endpoint, grouped per pair) — never an all-pairs product — and
    * existing edges leave via an anti-join, so output is bounded by
    * the wedge count. At 100 TB the wedge join is the triangle-count
    * shuffle shape (co-partitioned on the shared endpoint), and a
    * skewed hub salts the same way q119's triangle count does. */
  val q176 = QuerySpec.sql(
    "q176_link_prediction",
    """WITH e AS (
      |  SELECT n_name AS grp, CAST(l_suppkey AS BIGINT) AS src,
      |         CAST(o_custkey + 1000000 AS BIGINT) AS dst
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  WHERE l_quantity >= 49
      |  GROUP BY 1, 2, 3),
      |sym AS (SELECT grp, src AS a, dst AS b FROM e
      |        UNION SELECT grp, dst AS a, src AS b FROM e),
      |deg AS (SELECT grp, a AS node, count(*) AS deg FROM sym GROUP BY 1, 2),
      |cn AS (
      |  SELECT x.grp, x.a AS u, y.a AS v, count(*) AS cn
      |  FROM sym x JOIN sym y ON y.grp = x.grp AND y.b = x.b AND x.a < y.a
      |  GROUP BY 1, 2, 3),
      |cand AS (
      |  SELECT cn.* FROM cn
      |  WHERE NOT EXISTS (SELECT 1 FROM sym
      |                    WHERE sym.grp = cn.grp AND sym.a = cn.u AND sym.b = cn.v))
      |SELECT cand.grp, u, v, cn, du.deg AS deg_u, dv.deg AS deg_v,
      |       CAST(cn AS DOUBLE) / (du.deg + dv.deg - cn) AS jaccard
      |FROM cand
      |JOIN deg du ON du.grp = cand.grp AND du.node = u
      |JOIN deg dv ON dv.grp = cand.grp AND dv.node = v""",
    "common-neighbor + Jaccard link prediction over the co-activity graph (beyond-reference)") { (s, d) =>
    val e = groupEdges(s, d).select(col("group").as("grp"),
      col("src").cast("long").as("a"), col("dst").cast("long").as("b"))
    val sym = e.unionByName(e.select(col("grp"), col("b").as("a"), col("a").as("b")))
      .distinct()
    val deg = sym.groupBy(col("grp"), col("a").as("node"))
      .agg(count(lit(1)).as("deg"))
    val x = sym.select(col("grp"), col("a").as("u"), col("b"))
    val y = sym.select(col("grp"), col("a").as("v"), col("b"))
    val cn = x.join(y, Seq("grp", "b")).where(col("u") < col("v"))
      .groupBy("grp", "u", "v").agg(count(lit(1)).as("cn"))
    val cand = cn.join(
      sym.select(col("grp"), col("a").as("u"), col("b").as("v")),
      Seq("grp", "u", "v"), "left_anti")
    cand
      .join(deg.select(col("grp"), col("node").as("u"), col("deg").as("deg_u")),
        Seq("grp", "u"))
      .join(deg.select(col("grp"), col("node").as("v"), col("deg").as("deg_v")),
        Seq("grp", "v"))
      .select(col("grp"), col("u"), col("v"), col("cn"),
        col("deg_u"), col("deg_v"),
        (col("cn").cast("double") / (col("deg_u") + col("deg_v") - col("cn")))
          .as("jaccard"))
  }

  /** Chained-CTE mirror of [[GraphAnalytics.pprExactScaled]]: per step
    * one integer-division contribution CTE, one neighbor-sum CTE, and
    * one damping+teleport rescale — same generation scheme as
    * [[alphaOracle]]. */
  private def pprOracle(damping: Double, iters: Int): String = {
    val teleport = math.round((1.0 - damping) * 1000000L)
    val steps = (1 to iters).map { k =>
      s"""c$k AS (SELECT grp, node AS b, v // deg AS c FROM r${k - 1}),
         |m$k AS (
         |  SELECT y.grp, y.a AS node, CAST(sum(p.c) AS BIGINT) AS s
         |  FROM sym y JOIN c$k p ON p.grp = y.grp AND p.b = y.b
         |  GROUP BY y.grp, y.a),
         |r$k AS (
         |  SELECT m$k.grp, m$k.node, deg.deg,
         |         CAST(floor(CAST($damping AS DOUBLE) * s + 0.5) AS BIGINT)
         |         + CASE WHEN m$k.node = seed.seed THEN $teleport ELSE 0 END AS v
         |  FROM m$k
         |  JOIN deg ON deg.grp = m$k.grp AND deg.node = m$k.node
         |  JOIN seed ON seed.grp = m$k.grp)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT n_name AS grp, CAST(l_suppkey AS BIGINT) AS src,
       |         CAST(o_custkey + 1000000 AS BIGINT) AS dst
       |  FROM lineitem
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation ON c_nationkey = n_nationkey
       |  WHERE l_quantity >= 49
       |  GROUP BY 1, 2, 3),
       |sym AS (SELECT grp, src AS a, dst AS b FROM e
       |        UNION SELECT grp, dst AS a, src AS b FROM e),
       |deg AS (SELECT grp, a AS node, count(*) AS deg FROM sym GROUP BY 1, 2),
       |seed AS (SELECT grp, min(node) AS seed FROM deg GROUP BY 1),
       |r0 AS (
       |  SELECT deg.grp, deg.node, deg.deg,
       |         CAST(CASE WHEN deg.node = seed.seed THEN 1000000 ELSE 0 END AS BIGINT) AS v
       |  FROM deg JOIN seed ON seed.grp = deg.grp),
       |$steps
       |SELECT grp, node, v AS ppr_scaled FROM r$iters""".stripMargin
  }

  /** Personalized PageRank (random walk with restart) from a
    * deterministic per-group seed, hash-oracled: integer-division
    * contributions, exact BIGINT neighbor sums, one rounded damping op
    * per node per step ([[GraphAnalytics.pprExactScaled]]). The
    * proximity ranking behind "related items" — the graph-ML sibling
    * of the global PageRank gates (q90/q98). */
  val q177 = QuerySpec.sql(
    "q177_ppr_exact",
    pprOracle(damping = 0.85, iters = 4),
    "exact-scaled personalized PageRank supersteps from per-group seed (beyond-reference)") { (s, d) =>
    GraphAnalytics.pprExactScaled(
      groupEdges(s, d).select(col("group"), col("src"), col("dst")),
      damping = 0.85, iters = 4)
  }

  /** Chained-CTE mirror of [[GraphAnalytics.ktrussPeel]]: per round a
    * symmetrize CTE, a wedge-join support CTE, and the peel filter. */
  private def ktrussOracle(k: Int, rounds: Int): String = {
    val steps = (0 until rounds).map { r =>
      s"""s$r AS (SELECT u AS a, v AS b FROM e$r
         |        UNION ALL SELECT v AS a, u AS b FROM e$r),
         |sup$r AS (
         |  SELECT e$r.u, e$r.v, count(*) AS c
         |  FROM e$r JOIN s$r x ON x.a = e$r.u
         |           JOIN s$r y ON y.a = e$r.v AND y.b = x.b
         |  GROUP BY e$r.u, e$r.v),
         |e${r + 1} AS (
         |  SELECT e$r.u, e$r.v, coalesce(c, 0) AS support
         |  FROM e$r LEFT JOIN sup$r ON sup$r.u = e$r.u AND sup$r.v = e$r.v
         |  WHERE coalesce(c, 0) >= ${k - 2})""".stripMargin
    }.mkString(",\n")
    s"""WITH ed AS (SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk
       |            FROM lineitem WHERE l_quantity >= 49),
       |e0 AS (SELECT DISTINCT a.sk AS u, b.sk AS v
       |       FROM ed a JOIN ed b ON a.pk = b.pk AND a.sk < b.sk),
       |$steps
       |SELECT u, v, CAST(support AS BIGINT) AS support FROM e$rounds""".stripMargin
  }

  /** k-truss (k=4, 2 peel rounds) on the thinned co-supplier
    * projection — the cohesive-subgraph extractor one level up from
    * triangle counting: every surviving edge sits in ≥ k−2 triangles
    * among surviving edges. Integer supports, fixed rounds
    * ([[GraphAnalytics.ktrussPeel]]); the oracle replays every peel. */
  val q181 = QuerySpec.sql(
    "q181_ktruss",
    ktrussOracle(k = 4, rounds = 2),
    "fixed-round k-truss peel over the co-supplier graph (beyond-reference)") { (s, d) =>
    val ed = Tables.lineitem(s, d).filter(col("l_quantity") >= 49)
      .select("l_suppkey", "l_partkey").distinct()
    val pairs = graft.operators.Dedup.coOccurrencePairs(
        ed.select(col("l_partkey").as("bag"), col("l_suppkey").as("item")))
      .select(col("i1").as("u"), col("i2").as("v"))
    GraphAnalytics.ktrussPeel(pairs, k = 4, rounds = 2)
  }

  /** Graph feature engineering — the one-step GNN-style neighborhood
    * aggregation: per supplier, its 1-hop customer count, their exact
    * summed balances (cents), the mean (ONE IEEE division), and the
    * 2-hop co-supplier count. Two co-partitioned equi-joins + two
    * grouped counts — the per-node feature build that feeds any
    * downstream model, never an all-pairs product. */
  val q191 = QuerySpec.sql(
    "q191_neighbor_features",
    """WITH e AS (
      |  SELECT DISTINCT l_suppkey AS s, o_custkey AS c
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  WHERE l_quantity >= 45),
      |bal AS (
      |  SELECT e.s, e.c, CAST(round(c_acctbal * 100, 0) AS BIGINT) AS cents
      |  FROM e JOIN customer ON c_custkey = e.c),
      |hop1 AS (
      |  SELECT s, count(*) AS n_cust, CAST(sum(cents) AS BIGINT) AS sum_cents,
      |         CAST(sum(cents) AS DOUBLE) / (100.0 * count(*)) AS mean_bal
      |  FROM bal GROUP BY s),
      |hop2 AS (
      |  SELECT s1 AS s, count(*) AS n_cosupp FROM (
      |    SELECT DISTINCT a.s AS s1, b.s AS s2
      |    FROM e a JOIN e b ON a.c = b.c AND a.s <> b.s)
      |  GROUP BY s1)
      |SELECT hop1.s AS suppkey, n_cust, sum_cents, mean_bal,
      |       coalesce(n_cosupp, 0) AS n_cosupp
      |FROM hop1 LEFT JOIN hop2 ON hop2.s = hop1.s""",
    "1-hop + 2-hop neighborhood feature aggregation per supplier (graph feature engineering)") { (s, d) =>
    val e = Tables.lineitem(s, d).filter(col("l_quantity") >= 45)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .select(col("l_suppkey").as("s"), col("o_custkey").as("c")).distinct()
    val bal = e.join(Tables.customer(s, d)
        .select(col("c_custkey").as("c"),
          round(col("c_acctbal") * 100, 0).cast("long").as("cents")), "c")
    val hop1 = bal.groupBy("s")
      .agg(count(lit(1)).as("n_cust"), sum(col("cents")).as("sum_cents"),
        (sum(col("cents")).cast("double") / (lit(100.0) * count(lit(1))))
          .as("mean_bal"))
    val hop2 = e.as("a").join(e.as("b"),
        col("a.c") === col("b.c") && col("a.s") =!= col("b.s"))
      .select(col("a.s").as("s1"), col("b.s").as("s2")).distinct()
      .groupBy(col("s1").as("s")).agg(count(lit(1)).as("n_cosupp"))
    hop1.join(hop2, Seq("s"), "left")
      .select(col("s").as("suppkey"), col("n_cust"), col("sum_cents"),
        col("mean_bal"), coalesce(col("n_cosupp"), lit(0L)).as("n_cosupp"))
  }

  /** Weighted one-mode projection of the bipartite graph — supplier
    * pairs weighted by shared-customer count, the edge strength a
    * bipartite network analysis starts from (plain co-occurrence
    * projections throw this weight away). Scale shape: one self-join
    * on (group, customer) — shuffle is customer-degree bounded, the
    * classic projection cost; output is pair-sparse. */
  val q215 = QuerySpec.sql(
    "q215_weighted_projection",
    """WITH e AS (
      |  SELECT DISTINCT n_name AS grp, CAST(l_suppkey AS BIGINT) AS sk,
      |         CAST(o_custkey AS BIGINT) AS ck
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  WHERE l_quantity >= 49)
      |SELECT a.grp, a.sk AS s1, b.sk AS s2, count(*) AS w
      |FROM e a JOIN e b ON a.grp = b.grp AND a.ck = b.ck AND a.sk < b.sk
      |GROUP BY 1, 2, 3""",
    "bipartite projection with shared-neighbor edge weights (graph tier)") { (s, d) =>
    val e = bipartiteEdges(s, d)
    e.as("a").join(e.as("b"),
        col("a.grp") === col("b.grp") && col("a.ck") === col("b.ck") &&
          col("a.sk") < col("b.sk"))
      .groupBy(col("a.grp").as("grp"), col("a.sk").as("s1"), col("b.sk").as("s2"))
      .agg(count(lit(1)).as("w"))
  }

  /** Per-supplier 4-cycle (square) count — the bipartite clustering
    * signal (triangles cannot exist across a bipartition; C4 is the
    * smallest cycle): node a sits in Σ_b C(w(a,b), 2) squares, where
    * w is q215's shared-neighbor weight. Pure integer arithmetic
    * (w·(w−1) is even, so DIV 2 is exact). Same projection join as
    * q215 plus one symmetric aggregate. */
  val q214 = QuerySpec.sql(
    "q214_bipartite_squares",
    """WITH e AS (
      |  SELECT DISTINCT n_name AS grp, CAST(l_suppkey AS BIGINT) AS sk,
      |         CAST(o_custkey AS BIGINT) AS ck
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  WHERE l_quantity >= 49),
      |pw AS (
      |  SELECT a.grp, a.sk AS s1, b.sk AS s2, count(*) AS w
      |  FROM e a JOIN e b ON a.grp = b.grp AND a.ck = b.ck AND a.sk < b.sk
      |  GROUP BY 1, 2, 3),
      |sym AS (
      |  SELECT grp, s1 AS sk, (w * (w - 1)) // 2 AS c4 FROM pw
      |  UNION ALL
      |  SELECT grp, s2 AS sk, (w * (w - 1)) // 2 AS c4 FROM pw)
      |SELECT grp, sk, CAST(sum(c4) AS BIGINT) AS n_squares
      |FROM sym GROUP BY 1, 2 HAVING sum(c4) > 0""",
    "per-node bipartite 4-cycle counts (bipartite clustering tier)") { (s, d) =>
    val e = bipartiteEdges(s, d)
    val pw = e.as("a").join(e.as("b"),
        col("a.grp") === col("b.grp") && col("a.ck") === col("b.ck") &&
          col("a.sk") < col("b.sk"))
      .groupBy(col("a.grp").as("grp"), col("a.sk").as("s1"), col("b.sk").as("s2"))
      .agg(count(lit(1)).as("w"))
      .select(col("grp"), col("s1"), col("s2"),
        expr("(w * (w - 1)) DIV 2").as("c4"))
    pw.select(col("grp"), col("s1").as("sk"), col("c4"))
      .unionByName(pw.select(col("grp"), col("s2").as("sk"), col("c4")))
      .groupBy("grp", "sk").agg(sum(col("c4")).as("n_squares"))
      .where(col("n_squares") > 0)
  }

  /** The (group, supplier, customer) bipartite edge list shared by
    * q214/q215 — memoized so the projection self-join's input scans
    * once per session. */
  private def bipartiteEdges(s: org.apache.spark.sql.SparkSession, d: String) =
    graft.Memo.df(s, "bipartiteEdges", d) {
      Tables.lineitem(s, d).where(col("l_quantity") >= 49)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name").as("grp"), col("l_suppkey").cast("long").as("sk"),
          col("o_custkey").cast("long").as("ck"))
        .distinct()
    }

  /** Recursive SQL parity — Spark 4's WITH RECURSIVE runs the SAME
    * transitive-closure text DuckDB runs (q74/q76 keep the
    * DataFrame-BFS forms; this gates the SQL-text surface itself):
    * a bounded-depth BFS distance histogram over one nation's
    * bipartite graph. UNION ALL recursion (Spark's supported form)
    * revisits nodes per path, so the walk bounds depth at 4 and
    * min(d) collapses revisits — bounded work in both engines. */
  val q240 = QuerySpec.sql(
    "q240_recursive_sql",
    """WITH RECURSIVE e AS (
      |  SELECT CAST(l_suppkey AS BIGINT) AS src, CAST(o_custkey + 1000000 AS BIGINT) AS dst
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  WHERE l_quantity >= 49 AND n_name = 'NATION_7'
      |  GROUP BY 1, 2),
      |sym AS (SELECT src AS a, dst AS b FROM e UNION SELECT dst AS a, src AS b FROM e),
      |walk AS (
      |  SELECT a AS root, a AS node, 0 AS d FROM (SELECT DISTINCT a FROM sym)
      |  UNION ALL
      |  SELECT w.root, s.b AS node, w.d + 1 AS d
      |  FROM walk w JOIN sym s ON s.a = w.node WHERE w.d < 4),
      |dist AS (SELECT root, node, min(d) AS d FROM walk GROUP BY 1, 2)
      |SELECT d, count(*) AS n_pairs FROM dist WHERE d > 0 GROUP BY 1""",
    "WITH RECURSIVE transitive closure, identical SQL both engines (SQL surface)") { (s, d) =>
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
    Tables.orders(s, d).createOrReplaceTempView("orders")
    Tables.customer(s, d).createOrReplaceTempView("customer")
    Tables.nation(s, d).createOrReplaceTempView("nation")
    s.sql("""WITH RECURSIVE e AS (
      SELECT CAST(l_suppkey AS BIGINT) AS src, CAST(o_custkey + 1000000 AS BIGINT) AS dst
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      WHERE l_quantity >= 49 AND n_name = 'NATION_7'
      GROUP BY 1, 2),
    sym AS (SELECT src AS a, dst AS b FROM e UNION SELECT dst AS a, src AS b FROM e),
    walk AS (
      SELECT a AS root, a AS node, 0 AS d FROM (SELECT DISTINCT a FROM sym)
      UNION ALL
      SELECT w.root, s.b AS node, w.d + 1 AS d
      FROM walk w JOIN sym s ON s.a = w.node WHERE w.d < 4),
    dist AS (SELECT root, node, min(d) AS d FROM walk GROUP BY 1, 2)
    SELECT d, count(*) AS n_pairs FROM dist WHERE d > 0 GROUP BY 1""")
  }

  val all: Seq[QuerySpec] =
    Seq(q53, q54, q55, q56, q57, q59, q74, q75, q76, q82, q90, q96, q98, q99,
      q100, q104, q110, q115, q117, q118, q119, q120, q122, q130, q133, q134,
      q135, q136, q156, q162, q167, q170, q176, q177, q181, q191, q212, q213,
      q214, q215, q240)
}
