package graft.graph

import scala.collection.mutable

/** In-memory graph kernels with igraph-matching semantics, for the
  * per-sample subgraphs the reference analyzes (tens of nodes each —
  * SURVEY §2.10: "graphs are tiny; per-group subgraphs... per-sample").
  * These run *inside* executors via `GraphAnalytics.groupGraphs` — one
  * group per task, thousands of groups in parallel — so "local" means
  * local to a group, not to the driver.
  *
  * Conventions follow igraph (reference's engine, e.g.
  * bin/interpersonaldiversity.R:102 eigen_centrality,
  * bin/CompareSkin.R:175-181 centr_* family, bin/compareTwins.R:91-96):
  * eigencentrality scaled to max=1; centralizations normalized by the
  * igraph theoretical maxima; closeness normalized over reachable set.
  */
final case class LocalGraph(
    vertexIds: Array[Long],                 // sorted, distinct
    edges: Array[(Long, Long, Double)],     // (src, dst, weight)
    directed: Boolean) {

  val n: Int = vertexIds.length
  private val idx: Map[Long, Int] = vertexIds.zipWithIndex.toMap

  /** adjacency as index lists; undirected graphs see both directions */
  lazy val adj: Array[Array[(Int, Double)]] = {
    val b = Array.fill(n)(mutable.ArrayBuffer.empty[(Int, Double)])
    edges.foreach { case (s, d, w) =>
      val (si, di) = (idx(s), idx(d))
      b(si) += ((di, w))
      if (!directed && si != di) b(di) += ((si, w))
    }
    b.map(_.toArray)
  }

  /** [[adj]]'s neighbour indices: the multigraph the float kernels walk */
  private lazy val out: Array[Array[Int]] = adj.map(_.map(_._1))

  /** in-neighbours, one entry per edge: where Brandes pushes δ back */
  private lazy val in: Array[Array[Int]] =
    if (!directed) out
    else {
      val b = Array.fill(n)(mutable.ArrayBuilder.make[Int])
      edges.foreach { case (s, d, _) => b(idx(d)) += idx(s) }
      b.map(_.result())
    }

  /** distinct neighbours: the simple graph the exact kernels walk, so a
    * duplicate or reversed edge changes none of their outputs */
  private lazy val simple: Array[Array[Int]] = out.map(_.distinct)

  // ---- BFS family (G4, G5, G7, G8) ----

  /** Breadth-first search over `nb` from `root`, at most `maxDepth`
    * hops: each vertex it reaches gets its hop count in `depth` (-1
    * marks unvisited; the caller clears it) and joins `order` from
    * `start` on, in visit order (non-decreasing depth). Returns the end
    * of that run. The one traversal of every unweighted kernel here;
    * all-roots callers allocate `depth` and `order` once, since they
    * run n sweeps per group. */
  private def bfs(nb: Array[Array[Int]], root: Int, maxDepth: Int,
      depth: Array[Int], order: Array[Int], start: Int = 0): Int = {
    depth(root) = 0
    order(start) = root
    var head = start
    var tail = start + 1
    while (head < tail) {
      val v = order(head); head += 1
      val dv = depth(v)
      if (dv < maxDepth) {
        val ns = nb(v)
        var i = 0
        while (i < ns.length) {
          val w = ns(i)
          if (depth(w) < 0) { depth(w) = dv + 1; order(tail) = w; tail += 1 }
          i += 1
        }
      }
    }
    tail
  }

  /** One BFS per root over `nb`, summarized over the vertices 1 to
    * `maxDepth` hops away: their count, the farthest hop, Σd and
    * Σ term(d). */
  private def reach(nb: Array[Array[Int]], maxDepth: Int)(term: Int => Long)
      : Array[LocalGraph.Reach] = {
    val depth = new Array[Int](n)
    val order = new Array[Int](n)
    Array.tabulate(n) { root =>
      java.util.Arrays.fill(depth, -1)
      val end = bfs(nb, root, maxDepth, depth, order)
      var sum = 0L
      var terms = 0L
      var i = 1
      while (i < end) { val d = depth(order(i)); sum += d; terms += term(d); i += 1 }
      LocalGraph.Reach(end - 1, depth(order(end - 1)), sum, terms)
    }
  }

  /** The distance battery's one all-roots pass, memoized: eccentricity,
    * diameter, radius, mean distance, closeness and harmonic all read
    * it. The term is [[harmonicScaled]]'s K div d, K = 720720. */
  private lazy val distances: Array[LocalGraph.Reach] =
    reach(out, Int.MaxValue)(720720L / _)

  /** max finite distance (within component) */
  def eccentricities: Array[Int] = distances.map(_.ecc)

  def diameter: Int = if (n == 0) 0 else eccentricities.max
  def radius: Int = if (n == 0) 0 else eccentricities.min

  /** igraph mean_distance: average over ordered reachable pairs. */
  def meanDistance: Double = {
    val cnt = distances.foldLeft(0L)(_ + _.reached)
    if (cnt == 0) 0.0 else distances.foldLeft(0L)(_ + _.sum).toDouble / cnt
  }

  /** Normalized closeness over the reachable set:
    * (reachable-1)/Σd, 0 for isolated vertices. */
  def closeness: Array[Double] =
    distances.map(r => if (r.reached == 0) 0.0 else r.reached.toDouble / r.sum)

  /** Harmonic centrality, exact-scaled: Σ_{d(u,v)>0} (K div d) with
    * K = 720720 = lcm(1..16) — a pure BIGINT with NO floating point
    * anywhere (the division exact for d ≤ 16 and identically
    * truncated in the JVM, Spark `div` and DuckDB `//` beyond), so
    * the value is engine-portable bit-for-bit. Unreachable pairs
    * contribute 0 — harmonic's defining advantage over closeness on
    * disconnected graphs. */
  def harmonicScaled(): Array[Long] = distances.map(_.terms)

  /** Per-vertex eccentricity and harmonic centrality in exact
    * arithmetic over the simple graph, within `maxDepth` hops: ecc is
    * an integer BFS depth, harmonic Σ ⌊1e6/d + 0.5⌋ — each term rounds
    * to a scaled BIGINT before the order-independent sum, so an
    * external engine replays both bit-for-bit (q100). */
  def eccHarmonicExact(maxDepth: Int): Array[LocalGraph.Reach] =
    reach(simple, maxDepth)(d => math.floor(1000000.0 / d + 0.5).toLong)

  // ---- connectivity (G5) ----

  def componentIds: Array[Int] = {
    val depth = Array.fill(n)(-1)
    val order = new Array[Int](n)
    val comp = new Array[Int](n)
    var c = 0
    var end = 0
    (0 until n).foreach { s =>
      if (depth(s) < 0) {
        val start = end
        end = bfs(out, s, Int.MaxValue, depth, order, start)
        (start until end).foreach(i => comp(order(i)) = c)
        c += 1
      }
    }
    comp
  }

  def isConnected: Boolean = n == 0 || componentIds.forall(_ == 0)

  // ---- betweenness (G7), Brandes 2001, unweighted ----

  /** igraph betweenness: multigraph semantics (σ counts parallel edges)
    * and Double σ, since the path counts of a 20k-vertex group overflow
    * a Long. Each δ(w) is pushed to w's predecessors in reverse visit
    * order, the summation order of the stack-and-predecessor-list
    * textbook form, so the sums are bit-identical to it. */
  def betweenness: Array[Double] = {
    val bc = new Array[Double](n)
    val depth = new Array[Int](n)
    val order = new Array[Int](n)
    val sigma = new Array[Double](n)
    val delta = new Array[Double](n)
    (0 until n).foreach { s =>
      java.util.Arrays.fill(depth, -1)
      java.util.Arrays.fill(sigma, 0.0)
      java.util.Arrays.fill(delta, 0.0)
      val end = bfs(out, s, Int.MaxValue, depth, order)
      sigma(s) = 1.0
      var i = 0
      while (i < end) {
        val v = order(i)
        val next = depth(v) + 1
        val ns = out(v)
        var j = 0
        while (j < ns.length) { if (depth(ns(j)) == next) sigma(ns(j)) += sigma(v); j += 1 }
        i += 1
      }
      i = end - 1
      while (i > 0) {
        val w = order(i)
        val prev = depth(w) - 1
        val dw = 1.0 + delta(w)
        val ps = in(w)
        var j = 0
        while (j < ps.length) {
          val u = ps(j)
          if (depth(u) == prev) delta(u) += sigma(u) / sigma(w) * dw
          j += 1
        }
        bc(w) += delta(w)
        i -= 1
      }
    }
    if (directed) bc else bc.map(_ / 2.0)
  }

  /** Exact-scaled Brandes over the simple graph (q99): σ is an exact
    * Long, δ lives in scaled-BIGINT units (1e6 = 1.0), and every
    * per-edge contribution ⌊σ(u)·(1e6 + δ(w))/σ(w) + 0.5⌋ rounds to an
    * integer before it is summed, so any engine reproduces the result
    * bit-for-bit. Roots reach at most `maxDepth` hops. Σ over roots,
    * each unordered pair counted from both ends. */
  def betweennessScaled2(maxDepth: Int): Array[Long] = {
    val bc = new Array[Long](n)
    val depth = new Array[Int](n)
    val order = new Array[Int](n)
    val sigma = new Array[Long](n)
    val delta = new Array[Long](n)
    (0 until n).foreach { s =>
      java.util.Arrays.fill(depth, -1)
      java.util.Arrays.fill(sigma, 0L)
      java.util.Arrays.fill(delta, 0L)
      val end = bfs(simple, s, maxDepth, depth, order)
      sigma(s) = 1L
      var i = 0
      while (i < end) {
        val v = order(i)
        val next = depth(v) + 1
        val ns = simple(v)
        var j = 0
        while (j < ns.length) { if (depth(ns(j)) == next) sigma(ns(j)) += sigma(v); j += 1 }
        i += 1
      }
      i = end - 1
      while (i > 0) {
        val w = order(i)
        val prev = depth(w) - 1
        val dw = 1000000L + delta(w)
        val ps = simple(w)
        var j = 0
        while (j < ps.length) {
          val u = ps(j)
          if (depth(u) == prev)
            delta(u) += math.floor(sigma(u).toDouble * dw / sigma(w) + 0.5).toLong
          j += 1
        }
        bc(w) += delta(w)
        i -= 1
      }
    }
    bc
  }

  // ---- weighted shortest paths (weighted diameter, G4) ----

  def dijkstra(source: Int): Array[Double] = {
    val dist = Array.fill(n)(Double.PositiveInfinity)
    dist(source) = 0.0
    val pq = mutable.PriorityQueue((0.0, source))(Ordering.by(-_._1))
    val done = Array.fill(n)(false)
    while (pq.nonEmpty) {
      val (du, u) = pq.dequeue()
      if (!done(u)) {
        done(u) = true
        adj(u).foreach { case (v, w) =>
          if (du + w < dist(v)) { dist(v) = du + w; pq += ((dist(v), v)) }
        }
      }
    }
    dist
  }

  /** igraph diameter(weights=): max finite weighted eccentricity. */
  def weightedDiameter: Double = {
    val ds = (0 until n).flatMap(v => dijkstra(v).filter(_.isFinite))
    if (ds.isEmpty) 0.0 else ds.max
  }

  // ---- spectral family (G6, G10, G12) ----

  /** Weighted eigenvector centrality, power iteration, scaled max=1
    * (igraph eigen_centrality(scale=TRUE); undirected semantics). */
  def eigenCentrality(iters: Int = 200, tol: Double = 1e-10): Array[Double] = {
    if (n == 0) return Array.empty
    // positive diagonal shift: keeps the principal eigenvector but
    // breaks the ±λmax tie on bipartite graphs, where plain power
    // iteration oscillates with period 2
    val shift = {
      val maxRowSum = (0 until n).map(u => adj(u).map(_._2).sum).foldLeft(0.0)(math.max)
      if (maxRowSum == 0) 1.0 else 0.2 * maxRowSum
    }
    var x = Array.fill(n)(1.0)
    var it = 0; var delta = Double.MaxValue
    while (it < iters && delta > tol) {
      val y = Array.fill(n)(0.0)
      (0 until n).foreach { u =>
        y(u) += shift * x(u)
        adj(u).foreach { case (v, w) => y(u) += w * x(v) }
      }
      val norm = math.sqrt(y.map(t => t * t).sum)
      val yn = if (norm == 0) y else y.map(_ / norm)
      delta = yn.zip(x).map { case (a, b) => math.abs(a - b) }.max
      x = yn; it += 1
    }
    val mx = x.max
    if (mx == 0) x else x.map(_ / mx)
  }

  /** Alpha centrality x = (I − αAᵀ)⁻¹ e (igraph alpha_centrality,
    * reference bin/compareTwins.R:91). Dense Gaussian elimination —
    * groups are tiny. */
  def alphaCentrality(alpha: Double = 1.0, e: Double = 1.0): Array[Double] = {
    if (n == 0) return Array.empty
    // M = I − α·Aᵀ ; A(i)(j) = weight of edge i→j
    val m = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    edges.foreach { case (s, d, w) =>
      val (si, di) = (idx(s), idx(d))
      m(di)(si) -= alpha * w                  // Aᵀ entry (d,s)
      if (!directed) m(si)(di) -= alpha * w
    }
    LocalGraph.solve(m, Array.fill(n)(e))
  }

  /** Bonacich power centrality (igraph power_centrality; reference
    * bin/CompareNetworkGroups.R:124): x = (I − βA)⁻¹ A·1, scaled to
    * sqrt(n) norm as igraph does. Same dense-solve family as
    * [[alphaCentrality]]. */
  def powerCentrality(beta: Double = 0.1): Array[Double] = {
    if (n == 0) return Array.empty
    val a = Array.fill(n, n)(0.0)
    edges.foreach { case (s, d, w) =>
      val (si, di) = (idx(s), idx(d))
      a(si)(di) += w
      if (!directed && si != di) a(di)(si) += w
    }
    // rhs = A·1 ; M = I − βA ; solve M x = rhs
    val rhs = a.map(_.sum)
    val m = Array.tabulate(n, n)((i, j) => (if (i == j) 1.0 else 0.0) - beta * a(i)(j))
    val x = LocalGraph.solve(m, rhs)
    val norm = math.sqrt(x.map(v => v * v).sum)
    if (norm == 0) x else x.map(_ * math.sqrt(n.toDouble) / norm)
  }

  /** G19 — targeted-removal robustness (NetSwan-style, reference
    * bin/alteredDiet.R:5): repeatedly delete the highest-degree vertex
    * and report the largest-component fraction after each removal.
    * Returns fractions for 0..steps removals. */
  def robustnessCurve(steps: Int): Array[Double] = {
    var g = this
    val out = scala.collection.mutable.ArrayBuffer[Double]()
    def largestFrac(lg: LocalGraph): Double =
      if (lg.n == 0) 0.0
      else lg.componentIds.groupBy(identity).values.map(_.length).max.toDouble / n
    out += largestFrac(g)
    (1 to math.min(steps, n - 1)).foreach { _ =>
      val degs = g.adj.map(_.length)
      val victimIdx = degs.indices.maxBy(i => (degs(i), -g.vertexIds(i)))
      val victim = g.vertexIds(victimIdx)
      val kept = g.vertexIds.filter(_ != victim)
      g = LocalGraph(kept,
        g.edges.filter(e => e._1 != victim && e._2 != victim), g.directed)
      out += largestFrac(g)
    }
    out.toArray
  }

  /** Weighted PageRank (damping d), undirected treated as two arcs.
    * Matches igraph page_rank up to iteration tolerance. */
  def pageRank(damping: Double = 0.85, iters: Int = 100, tol: Double = 1e-10): Array[Double] = {
    if (n == 0) return Array.empty
    val outW = Array.fill(n)(0.0)
    (0 until n).foreach(u => adj(u).foreach { case (_, w) => outW(u) += w })
    var pr = Array.fill(n)(1.0 / n)
    var it = 0; var delta = Double.MaxValue
    while (it < iters && delta > tol) {
      val nxt = Array.fill(n)(0.0)
      var dangling = 0.0
      (0 until n).foreach { u =>
        if (outW(u) == 0) dangling += pr(u)
        else adj(u).foreach { case (v, w) => nxt(v) += pr(u) * w / outW(u) }
      }
      val out = nxt.map(v => (1 - damping) / n + damping * (v + dangling / n))
      delta = out.zip(pr).map { case (a, b) => math.abs(a - b) }.sum
      pr = out; it += 1
    }
    pr
  }

  // ---- entropy / diversity (G13) ----

  /** igraph diversity: Shannon entropy of incident edge weights over
    * log(degree); NaN for isolated, 0 for degree-1. */
  def diversity: Array[Double] = Array.tabulate(n) { v =>
    val ws = adj(v).map(_._2)
    if (ws.isEmpty) Double.NaN
    else if (ws.length == 1) 0.0
    else {
      val tot = ws.sum
      val h = -ws.map { w => val p = w / tot; if (p > 0) p * math.log(p) else 0.0 }.sum
      h / math.log(ws.length)
    }
  }

  // ---- communities + modularity (G14, G15) ----

  /** Weighted modularity of a vertex partition (igraph modularity). */
  def modularity(membership: Array[Int]): Double = {
    val m2 = 2.0 * edges.map(_._3).sum // undirected: each edge counted once in list
    if (m2 == 0) return 0.0
    val strength = Array.fill(n)(0.0)
    (0 until n).foreach(u => adj(u).foreach { case (_, w) => strength(u) += w })
    var q = 0.0
    edges.foreach { case (s, d, w) =>
      val (si, di) = (idx(s), idx(d))
      if (membership(si) == membership(di)) q += 2.0 * w // both directions
    }
    var expected = 0.0
    val byComm = (0 until n).groupBy(membership(_))
    byComm.values.foreach { vs =>
      val tot = vs.map(strength(_)).sum
      expected += tot * tot
    }
    q / m2 - expected / (m2 * m2)
  }

  /** CNM greedy modularity communities (igraph fastgreedy.community
    * analog; reference bin/TriadicClosures.R:59). Returns membership. */
  def greedyModularityCommunities: Array[Int] = {
    if (n == 0) return Array.empty
    var membership = Array.tabulate(n)(identity)
    var bestQ = modularity(membership)
    var improved = true
    while (improved) {
      improved = false
      val comms = membership.distinct
      var bestPair: Option[(Int, Int, Double)] = None
      for (i <- comms.indices; j <- (i + 1) until comms.length) {
        val trial = membership.map(c => if (c == comms(j)) comms(i) else c)
        val q = modularity(trial)
        if (q > bestQ + 1e-12 && bestPair.forall(_._3 < q))
          bestPair = Some((comms(i), comms(j), q))
      }
      bestPair.foreach { case (a, b, q) =>
        membership = membership.map(c => if (c == b) a else c)
        bestQ = q; improved = true
      }
    }
    // renumber 0..k-1
    val renum = membership.distinct.sorted.zipWithIndex.toMap
    membership.map(renum)
  }

  /** G14 — exact walktrap communities (Pons-Latapy 2005, igraph
    * walktrap.community; reference bin/CompareNetworkGroups.R:67):
    * t-step random-walk probability vectors define a community
    * distance; Ward-style merges of *adjacent* communities proceed to
    * a full dendrogram; the level with maximum modularity wins.
    * O(n³)-ish dense implementation — sized for the per-sample
    * subgraphs this engine computes communities on (tens of nodes;
    * the distributed analog for big graphs is label propagation). */
  def walktrapCommunities(steps: Int = 4): Array[Int] = {
    if (n == 0) return Array.empty
    // transition matrix P = D^-1 W (self-loop for isolated vertices)
    val w = Array.fill(n, n)(0.0)
    edges.foreach { case (s, d, wt) =>
      val (si, di) = (idx(s), idx(d))
      w(si)(di) += wt
      if (!directed && si != di) w(di)(si) += wt
    }
    val deg = w.map(_.sum)
    val p = Array.tabulate(n, n)((i, j) =>
      if (deg(i) == 0) { if (i == j) 1.0 else 0.0 } else w(i)(j) / deg(i))
    // P^t rows
    var pt = p.map(_.clone())
    (1 until steps).foreach { _ =>
      val next = Array.fill(n, n)(0.0)
      (0 until n).foreach { i =>
        (0 until n).foreach { k =>
          val pik = pt(i)(k)
          if (pik != 0) (0 until n).foreach(j => next(i)(j) += pik * p(k)(j))
        }
      }
      pt = next
    }
    val totalDeg = deg.sum
    val invSqrtDeg = deg.map(d => if (d == 0) 0.0 else 1.0 / math.sqrt(d / totalDeg * 2))
    // communities: prob vector, size, member mask
    val commVec = scala.collection.mutable.Map[Int, Array[Double]]()
    val commSize = scala.collection.mutable.Map[Int, Int]()
    var membership = Array.tabulate(n)(identity)
    (0 until n).foreach { i => commVec(i) = pt(i).clone(); commSize(i) = 1 }
    def adjacentPairs: Seq[(Int, Int)] = {
      val pairs = scala.collection.mutable.Set[(Int, Int)]()
      edges.foreach { case (s, d, _) =>
        val (a, b) = (membership(idx(s)), membership(idx(d)))
        if (a != b) pairs += ((math.min(a, b), math.max(a, b)))
      }
      pairs.toSeq
    }
    def dist2(a: Int, b: Int): Double = {
      val (va, vb) = (commVec(a), commVec(b))
      var s = 0.0
      (0 until n).foreach { k =>
        val diff = (va(k) - vb(k)) * invSqrtDeg(k)
        s += diff * diff
      }
      s * commSize(a) * commSize(b) / (n.toDouble * (commSize(a) + commSize(b)))
    }
    var best = membership.clone()
    var bestQ = modularity(membership)
    while (commSize.size > 1) {
      val cand = adjacentPairs
      if (cand.isEmpty) return renumber(best) // disconnected remainder
      val (a, b) = cand.minBy { case (x, y) => dist2(x, y) }
      val (sa, sb) = (commSize(a), commSize(b))
      val merged = Array.tabulate(n)(k =>
        (commVec(a)(k) * sa + commVec(b)(k) * sb) / (sa + sb))
      commVec(a) = merged; commVec.remove(b)
      commSize(a) = sa + sb; commSize.remove(b)
      membership = membership.map(c => if (c == b) a else c)
      val q = modularity(membership)
      if (q > bestQ) { bestQ = q; best = membership.clone() }
    }
    renumber(best)
  }

  private def renumber(m: Array[Int]): Array[Int] = {
    val map = m.distinct.sorted.zipWithIndex.toMap
    m.map(map)
  }

  // ---- centralization (igraph centr_* family) ----

  def centralization(scores: Array[Double], tmax: Double): Double =
    if (tmax == 0 || scores.isEmpty) 0.0
    else scores.map(scores.max - _).sum / tmax

  def degreeCentralization: Double = {
    val deg = adj.map(_.length.toDouble)
    centralization(deg, (n - 1.0) * (n - 2.0))
  }

  def betweennessCentralization: Double =
    centralization(betweenness, (n - 1.0) * (n - 1.0) * (n - 2.0) / 2.0)

  def closenessCentralization: Double =
    centralization(closeness, (n - 1.0) * (n - 2.0) / (2.0 * n - 3.0))

  def eigenCentralization: Double =
    centralization(eigenCentrality(), n - 1.0)
}

object LocalGraph {
  /** One root's BFS summary: vertices reached (root excluded), the
    * farthest hop, Σ hops and Σ of a per-hop term. */
  final case class Reach(reached: Int, ecc: Int, sum: Long, terms: Long)

  /** Build from an edge list; vertex set = endpoints. */
  def fromEdges(edges: Seq[(Long, Long, Double)], directed: Boolean = false): LocalGraph = {
    val vs = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted.toArray
    LocalGraph(vs, edges.toArray, directed)
  }

  /** Dense linear solve (partial-pivot Gaussian elimination) for the
    * centrality families; mutates its arguments. */
  private[graph] def solve(m: Array[Array[Double]], b: Array[Double]): Array[Double] = {
    val n = b.length
    for (p <- 0 until n) {
      val piv = (p until n).maxBy(r => math.abs(m(r)(p)))
      val (tp, tb) = (m(p), b(p)); m(p) = m(piv); b(p) = b(piv); m(piv) = tp; b(piv) = tb
      require(math.abs(m(p)(p)) > 1e-14, "centrality solve: singular system")
      for (r <- p + 1 until n) {
        val f = m(r)(p) / m(p)(p)
        if (f != 0) { for (c <- p until n) m(r)(c) -= f * m(p)(c); b(r) -= f * b(p) }
      }
    }
    val x = Array.fill(n)(0.0)
    for (r <- (n - 1) to 0 by -1) {
      var s = b(r)
      for (c <- r + 1 until n) s -= m(r)(c) * x(c)
      x(r) = s / m(r)(r)
    }
    x
  }
}
