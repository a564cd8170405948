package graft.graph

import graft.SparkSpec
import org.apache.spark.sql.functions._

class GraphAnalyticsSpec extends SparkSpec {
  import spark.implicits._

  // two groups: g1 = star4 (0 center), g2 = path3
  private def groupedEdges = Seq(
    ("g1", 0L, 1L, 1.0), ("g1", 0L, 2L, 1.0), ("g1", 0L, 3L, 1.0),
    ("g2", 10L, 11L, 1.0), ("g2", 11L, 12L, 1.0)
  ).toDF("group", "src", "dst", "weight")

  test("gxPartitions scales with edge volume, clamped to [4, parallelism]") {
    // gate-sized graphs → floor of 4 tasks (no over-fragmentation)
    assert(GraphAnalytics.gxPartitions(spark, 0L) == 4)
    assert(GraphAnalytics.gxPartitions(spark, 100000L) == 4)
    // large candidate sets → one task per ~100k edges up to parallelism:
    // the dedup-clustering CC path must NOT cap at a constant (round-5
    // advice: a hardcoded 8 caps a 100 TB candidate graph at 8 tasks)
    val par = spark.sparkContext.defaultParallelism
    assert(GraphAnalytics.gxPartitions(spark, 100000L * (par + 10)) == par)
    val mid = math.max(5, math.min(par, 6))
    assert(GraphAnalytics.gxPartitions(spark, 100000L * mid) == math.min(mid, par))
  }

  test("perGroupCommunities emits canonical min-id labels per vertex") {
    val out = GraphAnalytics.perGroupCommunities(groupedEdges).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.length == 7) // 4 star vertices + 3 path vertices
    // labels are min member id: each rep must itself be a member with that rep
    Seq[((String, Long, Long, Long)) => Long](_._3, _._4).foreach { rep =>
      out.groupBy(r => (r._1, rep(r))).foreach { case ((_, r), members) =>
        assert(members.map(_._2).min == r)
      }
    }
    // star4 and path3 each resolve to a single community (modularity 0
    // beats every split) labeled by the smallest vertex id
    assert(out.filter(_._1 == "g1").forall(r => r._3 == 0L && r._4 == 0L))
    assert(out.filter(_._1 == "g2").forall(r => r._3 == 10L && r._4 == 10L))
    // groups over the node cap skip the quadratic kernels: -1 labels
    val big = Seq.tabulate(250)(i => ("big", i.toLong, (i + 1).toLong, 1.0))
      .toDF("group", "src", "dst", "weight")
    val capped = GraphAnalytics.perGroupCommunities(big).collect()
    assert(capped.length == 251)
    assert(capped.forall(r => r.getLong(2) == -1L && r.getLong(3) == -1L))
  }

  test("perGroupMetrics reproduces LocalGraph goldens per group") {
    val m = GraphAnalytics.perGroupMetrics(groupedEdges)
      .collect().map(r => r.getAs[String]("group") -> r).toMap
    val s = m("g1")
    assert(s.getAs[Int]("nNodes") == 4 && s.getAs[Int]("nEdges") == 3)
    assert(s.getAs[Int]("diameter") == 2 && s.getAs[Int]("radius") == 1)
    assert(math.abs(s.getAs[Double]("degreeCentralization") - 1.0) < 1e-12)
    assert(s.getAs[Boolean]("connected"))
    val p = m("g2")
    assert(p.getAs[Int]("diameter") == 2)
    assert(p.getAs[Int]("nNodes") == 3)
  }

  test("perGroupRobustness matches closed-form star/path curves") {
    val r = GraphAnalytics.perGroupRobustness(groupedEdges, steps = 2)
      .collect().map(x => (x.getString(0), x.getInt(1)) -> x.getDouble(2)).toMap
    // star4: removing the hub (deg 3) shatters it into 3 isolated nodes
    assert(math.abs(r(("g1", 0)) - 1.0) < 1e-12)
    assert(math.abs(r(("g1", 1)) - 1.0 / 4) < 1e-12)
    // path3: removing the middle (deg 2) leaves two singletons
    assert(math.abs(r(("g2", 0)) - 1.0) < 1e-12)
    assert(math.abs(r(("g2", 1)) - 1.0 / 3) < 1e-12)
  }

  test("robustnessExact matches LocalGraph.robustnessCurve on a mixed graph") {
    // two components: a 5-star (hub 0) plus a triangle — adaptive
    // removal must hit the hub first, then triangle vertices by id
    val es = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L), (0L, 5L),
      (20L, 21L), (21L, 22L), (20L, 22L))
    val df = es.toDF("src", "dst")
    val got = GraphAnalytics.robustnessExact(df, steps = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    val local = LocalGraph.fromEdges(
      es.map { case (a, b) => (a, b, 1.0) }, directed = false).robustnessCurve(3)
    assert(got.length == 4)
    got.foreach { case (t, largest, frac) =>
      assert(math.abs(frac - local(t.toInt)) < 1e-12,
        s"step $t: $frac vs local ${local(t.toInt)}")
      assert(math.abs(frac - largest.toDouble / 9) < 1e-15)
    }
    // step 0: triangle+star intact, largest = star (6 of 9)
    assert(got(0)._2 == 6L)
    // step 1: hub removed → largest = triangle (3)
    assert(got(1)._2 == 3L)
    // tier law: forcing the GraphX layered-CC path (cap 0) yields the
    // identical curve — the union-find small tier and the distributed
    // tier must agree bit-for-bit
    val viaGraphX = GraphAnalytics
      .robustnessExact(df, steps = 3, maxLayeredLocalEdges = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(viaGraphX.toSeq == got.toSeq)
  }

  test("vertexSimpsonDiversity: D = (sum w)^2 / sum w^2 per vertex") {
    val e = Seq(("g", 1L, 2L, 3L), ("g", 1L, 3L, 1L)).toDF("group", "src", "dst", "w")
    val m = GraphAnalytics.vertexSimpsonDiversity(e)
      .collect().map(r => r.getLong(1) -> (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(m(1L) == ((4L, 10L, 16.0 / 10)))  // weights {3,1}
    assert(m(2L) == ((3L, 9L, 1.0)))         // single partner → D = 1
    assert(m(3L) == ((1L, 1L, 1.0)))
  }

  test("perGroupEigen yields scaled centrality per vertex per group") {
    val e = GraphAnalytics.perGroupEigen(groupedEdges)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(math.abs(e(("g1", 0L)) - 1.0) < 1e-9)
    assert(math.abs(e(("g1", 1L)) - 1.0 / math.sqrt(3)) < 1e-6)
    assert(math.abs(e(("g2", 11L)) - 1.0) < 1e-9)
  }

  test("edgeJaccardDistance matches hand computation incl. disjoint pairs") {
    val edges = Seq(
      ("s1", 1L, 2L, 1.0), ("s1", 2L, 3L, 1.0),
      ("s2", 2L, 1L, 1.0), ("s2", 3L, 4L, 1.0),   // shares 1-2 (reversed dir)
      ("s3", 9L, 8L, 1.0)
    ).toDF("group", "src", "dst", "weight")
    val d = GraphAnalytics.edgeJaccardDistance(edges)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(math.abs(d(("s1", "s2")) - (1.0 - 1.0 / 3.0)) < 1e-12)
    assert(d(("s1", "s3")) == 1.0) // disjoint pair present with distance 1
    assert(d.size == 3)
  }

  test("brayCurtis matches vegan vegdist on a known pair") {
    // vegan: BC([1,2,3],[2,0,3]) with items a,b,c = (1+2+0)/(3+2+6) = 3/11
    val v = Seq(
      ("A", "a", 1.0), ("A", "b", 2.0), ("A", "c", 3.0),
      ("B", "a", 2.0), ("B", "c", 3.0)
    ).toDF("group", "item", "value")
    val d = GraphAnalytics.brayCurtis(v).collect()
    assert(d.length == 1)
    assert(math.abs(d.head.getDouble(2) - 3.0 / 11.0) < 1e-12)
  }

  test("GraphX connectedComponents runs on the evidence graph shape") {
    val nodes = Seq((1L, "p1", "Phage"), (2L, "b1", "Bacterial_Host"),
      (3L, "p2", "Phage"), (4L, "b2", "Bacterial_Host"))
      .toDF("id", "name", "kind")
    val edges = Seq((1L, 2L, "Infects", 2.0), (3L, 2L, "Infects", 1.0))
      .toDF("src", "dst", "relType", "w")
    val g = PropertyGraph(nodes, edges)
    val cc = GraphAnalytics.connectedComponents(spark, g)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc(1L) == cc(2L) && cc(2L) == cc(3L))
    assert(cc(4L) != cc(1L)) // isolated node its own component
  }

  test("quadratic kernels are gated by node count: megagroup completes fast with NaN") {
    // one group over the quadratic gate (ring of 30k nodes — Brandes
    // would be O(V·E) ≈ 9e8 steps) next to one small group: the run
    // must complete quickly, the big group reporting -1/NaN for the
    // all-pairs metrics and real values for the linear ones
    val big = (0 until 30000).map(i => ("mega", i.toLong, ((i + 1) % 30000).toLong, 1.0))
    val small = Seq(("tiny", 0L, 1L, 1.0), ("tiny", 1L, 2L, 1.0))
    val df = (big ++ small).toDF("group", "src", "dst", "weight")
    val t0 = System.nanoTime()
    val m = GraphAnalytics.perGroupMetrics(df, quadraticMaxNodes = 20000)
      .collect().map(r => r.getAs[String]("group") -> r).toMap
    val secs = (System.nanoTime() - t0) / 1e9
    // the ungated Brandes would take ~15 min; anything near 2 min means
    // the gate fired. (The bound is deliberately loose: in-suite this
    // test runs on a warm JVM whose GC state swings it 30-90 s.)
    assert(secs < 120, f"gated battery took $secs%.0f s — gate not effective")
    val mega = m("mega")
    assert(mega.getAs[Int]("nNodes") == 30000)
    assert(mega.getAs[Int]("diameter") == -1 && mega.getAs[Int]("radius") == -1)
    assert(mega.getAs[Double]("meanDistance").isNaN)
    assert(mega.getAs[Double]("betweennessCentralization").isNaN)
    assert(mega.getAs[Double]("closenessCentralization").isNaN)
    assert(mega.getAs[Boolean]("connected"))                 // linear BFS still runs
    assert(mega.getAs[Double]("degreeCentralization") == 0.0) // ring: all degree 2
    val tiny = m("tiny")
    assert(tiny.getAs[Int]("diameter") == 2)                 // small group unaffected
    val vm = GraphAnalytics.perGroupVertexMetrics(df, quadraticMaxNodes = 20000)
      .filter(col("group") === "mega").limit(5).collect()
    assert(vm.forall(_.getAs[Double]("betweenness").isNaN))
    assert(vm.forall(_.getAs[Double]("alpha").isNaN))        // dense solve gated too
    assert(vm.forall(!_.getAs[Double]("pagerank").isNaN))
  }

  test("pageRankExactScaled: 2-cycle fixed point, star asymmetry, repartition-stable") {
    import spark.implicits._
    // 2-cycle a<->b: contrib = round(0.85*1e6/1) = 850000, so
    // r = 150000 + 850000 = 1000000 is a fixed point
    val cyc = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val prCyc = GraphAnalytics.pageRankExactScaled(cyc, iters = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(prCyc == Map(1L -> 1000000L, 2L -> 1000000L))
    // star 1->{2,3,4}: leaves get 150000 + round(0.85*r1/3); hub gets
    // no in-edges so r1 = 150000 after the first iteration
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("src", "dst")
    val prStar = GraphAnalytics.pageRankExactScaled(star, iters = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(prStar(1L) == 150000L)
    assert(prStar(2L) == 150000L + math.round(0.85 * 150000.0 / 3))
    assert(prStar(2L) == prStar(3L) && prStar(3L) == prStar(4L))
    // partitioning must not change a single bit
    val shuffled = GraphAnalytics.pageRankExactScaled(star.repartition(7), iters = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(shuffled == prStar)
  }

  test("pageRankWeightedExactScaled: symmetrized fixed point, weight sensitivity") {
    import spark.implicits._
    // single weighted pair: symmetrized both nodes send their whole
    // strength -> fixed point at 1e6 regardless of the weight value
    val pair = Seq((1L, 2L, 7.0)).toDF("src", "dst", "weight")
    val pr = GraphAnalytics.pageRankWeightedExactScaled(pair, iters = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pr == Map(1L -> 1000000L, 2L -> 1000000L))
    // weighted star: node 2 holds 9/10 of the hub's strength
    val star = Seq((1L, 2L, 9.0), (1L, 3L, 1.0)).toDF("src", "dst", "weight")
    val sp = GraphAnalytics.pageRankWeightedExactScaled(star, iters = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sp(2L) > sp(3L), "heavier edge must carry more rank")
    val shuffled = GraphAnalytics.pageRankWeightedExactScaled(star.repartition(5), iters = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(shuffled == sp)
  }

  test("eigenExactScaled: symmetric fixed points, group isolation, repartition-stable") {
    import spark.implicits._
    // triangle: every node sees the same neighbor sum -> all stay at
    // the 1e6 fixed point; second group checks per-group isolation
    val edges = Seq(
      ("t", 1L, 2L), ("t", 2L, 3L), ("t", 1L, 3L),
      ("p", 7L, 8L) // 2-path: both nodes mirror each other -> 1e6 too
    ).toDF("group", "src", "dst")
    val out = GraphAnalytics.eigenExactScaled(edges, iters = 5)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out(("t", 1L)) == 1000000L && out(("t", 2L)) == 1000000L && out(("t", 3L)) == 1000000L)
    assert(out(("p", 7L)) == 1000000L && out(("p", 8L)) == 1000000L)
    // star: hub dominates; leaves settle below the hub
    val star = Seq(("s", 1L, 2L), ("s", 1L, 3L), ("s", 1L, 4L)).toDF("group", "src", "dst")
    val so = GraphAnalytics.eigenExactScaled(star, iters = 4)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(so(2L) == so(3L) && so(3L) == so(4L), "leaves must be symmetric")
    val shuffled = GraphAnalytics.eigenExactScaled(star.repartition(5), iters = 4)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(shuffled == so)
  }

  test("hitsExactScaled: bipartite closed forms, dangling sides, repartition-stable") {
    import spark.implicits._
    // star into one sink: every source is an equal hub (1e6), the sink
    // is the sole authority (1e6); sources have authority 0 (no
    // in-edges), the sink hub 0 (no out-edges)
    val star = Seq((1L, 9L), (2L, 9L), (3L, 9L)).toDF("src", "dst")
    val so = GraphAnalytics.hitsExactScaled(star, iters = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(so(1L) == ((1000000L, 0L)) && so(2L) == ((1000000L, 0L)) &&
      so(3L) == ((1000000L, 0L)))
    assert(so(9L) == ((0L, 1000000L)))
    // two sinks, skewed: src 1 links both sinks, src 2 links only one —
    // 1 must out-hub 2, and the doubly-linked sink out-auths the other
    val skew = Seq((1L, 8L), (1L, 9L), (2L, 9L)).toDF("src", "dst")
    val sk = GraphAnalytics.hitsExactScaled(skew, iters = 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(sk(1L)._1 == 1000000L && sk(1L)._1 > sk(2L)._1)
    assert(sk(9L)._2 == 1000000L && sk(9L)._2 > sk(8L)._2)
    val shuffled = GraphAnalytics.hitsExactScaled(skew.repartition(5), iters = 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(shuffled == sk)
  }

  test("betweennessExactScaled: closed forms, agrees with the float kernel, stable") {
    import spark.implicits._
    // path a-b-c: classic btw(b)=1 -> scaled2 = 2e6 (counted from both
    // endpoints); star of 4: center = 3 -> 6e6, leaves 0
    val g = Seq(
      ("path", 1L, 2L), ("path", 2L, 3L),
      ("star", 10L, 11L), ("star", 10L, 12L), ("star", 10L, 13L)
    ).toDF("group", "src", "dst")
    val out = GraphAnalytics.betweennessExactScaled(g)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out(("path", 2L)) == 2000000L)
    assert(out(("path", 1L)) == 0L && out(("path", 3L)) == 0L)
    assert(out(("star", 10L)) == 6000000L)
    assert(out(("star", 11L)) == 0L)
    // agrees with the production float Brandes kernel within rounding
    val edges = Seq(
      ("x", 1L, 2L, 1.0), ("x", 2L, 3L, 1.0), ("x", 3L, 4L, 1.0),
      ("x", 4L, 1L, 1.0), ("x", 1L, 5L, 1.0)).toDF("group", "src", "dst", "weight")
    val fl = GraphAnalytics.perGroupVertexMetrics(edges)
      .select(col("id"), col("betweenness"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ex = GraphAnalytics.betweennessExactScaled(edges.select("group", "src", "dst"))
      .collect().map(r => r.getLong(1) -> r.getLong(2) / 2000000.0).toMap
    fl.foreach { case (id, v) =>
      assert(math.abs(ex(id) - v) < 1e-4, s"node $id: exact ${ex(id)} vs float $v")
    }
    val shuffled = GraphAnalytics.betweennessExactScaled(g.repartition(7))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(shuffled == out)
  }

  test("harmonicEccExact: path closed forms, repartition-stable") {
    import spark.implicits._
    // path 1-2-3: ecc(2)=1, ecc(1)=2; harmonic(1)=1e6/1+1e6/2=1.5e6
    val g = Seq(("p", 1L, 2L), ("p", 2L, 3L)).toDF("group", "src", "dst")
    val out = GraphAnalytics.harmonicEccExact(g)
      .collect().map(r => r.getLong(1) -> (r.getLong(2), r.getLong(3))).toMap
    assert(out(2L) == (1L, 2000000L))
    assert(out(1L) == (2L, 1500000L))
    assert(out(3L) == (2L, 1500000L))
    val shuffled = GraphAnalytics.harmonicEccExact(g.repartition(5))
      .collect().map(r => r.getLong(1) -> (r.getLong(2), r.getLong(3))).toMap
    assert(shuffled == out)
  }

  test("perGroupMetrics supports walktrap communities per group") {
    val twoTri = Seq(
      ("t", 0L, 1L, 1.0), ("t", 1L, 2L, 1.0), ("t", 0L, 2L, 1.0),
      ("t", 3L, 4L, 1.0), ("t", 4L, 5L, 1.0), ("t", 3L, 5L, 1.0),
      ("t", 2L, 3L, 1.0))
    import spark.implicits._
    val m = GraphAnalytics.perGroupMetrics(
      twoTri.toDF("group", "src", "dst", "weight"),
      communityAlgorithm = "walktrap").head()
    assert(m.getAs[Int]("nCommunities") == 2)
    assert(m.getAs[Double]("modularity") > 0.2)
  }

  test("lpaExactScaled: bridged cliques split into the two cliques") {
    import spark.implicits._
    // two 4-cliques bridged by a single edge; sync LPA with the
    // min-label tie-break converges to {all-1, all-11} within 4 steps
    def clique(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a < b) yield ("g", a, b)
    val edges = (clique(Seq(1L, 2L, 3L, 4L)) ++
      clique(Seq(11L, 12L, 13L, 14L)) :+ (("g", 4L, 11L)))
      .toDF("group", "src", "dst")
    val lab = GraphAnalytics.lpaExactScaled(edges, iters = 4)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(Seq(1L, 2L, 3L, 4L).map(lab).toSet.size == 1)
    assert(Seq(11L, 12L, 13L, 14L).map(lab).toSet.size == 1)
    assert(lab(1L) != lab(11L))
  }

  test("lpaModularityScaled matches the closed form on bridged cliques") {
    import spark.implicits._
    def clique(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a < b) yield ("g", a, b)
    val edges = (clique(Seq(1L, 2L, 3L, 4L)) ++
      clique(Seq(11L, 12L, 13L, 14L)) :+ (("g", 4L, 11L)))
      .toDF("group", "src", "dst")
    val r = GraphAnalytics.lpaModularityScaled(edges, iters = 4).head()
    // m = 13, m2 = 26; per clique: sym-intra = 12, degree mass = 13
    // q_num = 2·(26·12 − 13²) = 286; Q = 286/676
    assert(r.getAs[Long]("n_communities") == 2L)
    assert(r.getAs[Long]("q_num") == 286L)
    assert(math.abs(r.getAs[Double]("modularity") - 286.0 / 676.0) < 1e-12)
  }
}
