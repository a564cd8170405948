package graft.graph

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders,
  KeyValueGroupedDataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Distributed graph analytics (SURVEY §2.10).
  *
  * Two execution tiers, mirroring the reference's split between
  * whole-network igraph calls and per-sample subgraph loops:
  *
  *  - **Whole graph** → DataFrame supersteps over the [[Superstep]]
  *    operator: PageRank + components (`pageRankAndComponentsDF`) and
  *    the exact-scaled kernels (PageRank, eigen, SSSP, k-core, LPA,
  *    alpha, PPR, power, HITS), one join + one group-by per superstep.
  *  - **Task-local** → a graph of at most [[LocalMaxEdges]] edges runs
  *    whole inside one task: the per-group kernels
  *    (`perGroupMetrics`/`perGroupEigen`/`perGroupComponents`…, one
  *    shuffle on the group key, then thousands of small graphs in
  *    parallel — the 100 TB-scale path for "compute centrality per
  *    sample", reference bin/interpersonaldiversity.R:82-115) and the
  *    whole-graph kernels [[components]] (union-find), [[edgeSupport]]
  *    (sorted out-list intersection) and [[kcore]] (an array peel over
  *    every group at once), which serve dedup clusters, the robustness
  *    curve, triangles, k-truss and k-core. Above the bound, each of
  *    those three has one distributed path on the superstep tier.
  *
  * β-diversity ops (G17/G18) are pure relational plans — no graph
  * materialization at all.
  */
object GraphAnalytics {

  /** PageRank + weak components as PURE DataFrame iterations, FUSED
    * into one loop (PageRankParitySpec pins it against a driver-side
    * replay: components exact, ranks to 1e-8). Reproduces GraphX
    * `staticPageRank` semantics on the symmetrized multigraph
    * exactly: r₀ = 1, r' = 0.15 + 0.85·Σ incoming r/outdeg (edge
    * MULTIPLICITY counts in the out-degree, dangling mass dropped —
    * none exists on a symmetric graph), 10 fixed supersteps.
    * Components are min-vertex-id labels via min-label propagation
    * with POINTER JUMPING (`l ← l∘l` each round), so rounds ∝
    * log(diameter), not diameter; convergence is detected, not
    * assumed. Fused, each superstep scans the edges once for both
    * kernels: a split into chained PageRank plus the one-task
    * [[components]] gave identical output at sf0.1 but ran 18.3-18.9 s
    * against 14.8-17.8 s fused. Returns (id, pagerank, component) for
    * every node, isolated nodes included (rank 0.15 after the first
    * superstep). */
  def pageRankAndComponentsDF(spark: SparkSession, g: PropertyGraph,
      iters: Int = 10): DataFrame = {
    val dir = g.edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
    // edge MULTISET (parallel edges count in the out-degree — GraphX
    // keeps them too); the symmetrized table is the superstep operand,
    // checkpointed ONCE, hash-partitioned AND SORTED on the join key:
    // localCheckpoint preserves both, so each superstep's sort-merge
    // join re-sorts only the vertex-sized iterate, never the edges
    // (unsorted checkpoints re-sorted 2.4M rows per superstep —
    // measured 28 s → 5 s for the 10-step loop at sf0.1)
    val nE = 2L * dir.count()
    // ~128k edge rows per task, not the 64k generic superstep rule:
    // this kernel runs 2 edge-sized joins + an agg per superstep ×
    // (10 PR + ~4 CC) rounds, so per-task scheduling overhead
    // multiplies ~40×; a same-JVM sweep at sf0.1 (2.4M sym edges)
    // measured 13.0 s / 8.8 s / 10.7 s at 8 / 16 / 32 partitions —
    // the coarser grain wins locally while a real cluster still caps
    // at full parallelism
    Superstep.scoped(spark, nE, 131072L) {
      val sym = dir
        .unionByName(dir.select(col("dst").as("src"), col("src").as("dst")))
      // per-edge transition weight, precomputed ONCE like GraphX's
      // mapTriplets(1.0 / outdeg): msg = r_src · w — the single
      // long-lived superstep operand, serving BOTH kernels
      val w = Superstep.checkpoint(sym
        .join(sym.groupBy(col("src")).agg(count(lit(1)).as("deg")), "src")
        .select(col("src"), col("dst"), (lit(1.0) / col("deg")).as("w"))
        .repartition(col("src")).sortWithinPartitions("src"))
      val v = Superstep.checkpoint(g.nodes.select(col("id").cast("long").as("id"))
        .unionByName(w.select(col("src").as("id"))).distinct()
        .repartition(col("id")).sortWithinPartitions("id"))
      // FUSED supersteps: rank and component label ride ONE state row
      // and ONE message aggregation (sum for rank, min for label), so
      // the edge table is scanned once per round for both kernels.
      // Labels converge by min-propagation + pointer jumping (l ← l∘l,
      // label reach doubles per round → rounds ∝ log diameter, checked
      // not assumed); once converged, remaining rank supersteps run
      // the cheap single-materialization form. Every frame that feeds
      // a self-join materializes first (an un-checkpointed operand
      // would execute its plan on both sides).
      var state = Superstep.checkpoint(
        v.select(col("id"), lit(1.0).as("pr"), col("id").as("comp")))
      var ccDone = false
      var rounds = 0
      def ccRound(withRank: Boolean): Unit = {
        rounds += 1
        require(rounds <= 64, "component labeling did not converge")
        val msgs = w.join(state.select(col("id").as("src"), col("pr"),
            col("comp")), Seq("src"))
          .groupBy(col("dst").as("id"))
          .agg(sum(col("pr") * col("w")).as("m"), min("comp").as("nmin"))
        val s1 = Superstep.checkpoint(state.join(msgs, Seq("id"), "left_outer")
          .select(col("id"),
            (if (withRank)
              lit(0.15) + lit(0.85) * coalesce(col("m"), lit(0.0))
            else col("pr")).as("pr"),
            least(col("comp"), coalesce(col("nmin"), col("comp"))).as("comp"),
            col("comp").as("old")))
        // the convergence statistic is collected DURING the pointer-
        // jump checkpoint action (Observation) instead of a third
        // per-round job scanning s2 again — round-14 action-count fix
        val obs = org.apache.spark.sql.Observation()
        val s2 = Superstep.checkpoint(
          s1.join(s1.select(col("id").as("c2"), col("comp").as("comp2")),
              col("comp") === col("c2"), "left_outer")
            .select(col("id"), col("pr"),
              coalesce(col("comp2"), col("comp")).as("comp"), col("old"))
            .observe(obs, sum(when(col("comp") =!= col("old"), 1L)
              .otherwise(0L)).as("changed")))
        ccDone = obs.get.getOrElse("changed", null) match {
          case n: java.lang.Long => n.longValue() == 0L
          case _ => true // empty state: nothing left to change
        }
        state = s2.select("id", "pr", "comp")
      }
      var step = 0
      while (step < iters) {
        if (!ccDone) { ccRound(withRank = true); step += 1 }
        else {
          // labels settled: ALL remaining rank supersteps as one lazy
          // linear chain materialized by a single action — the iterate
          // carries only (id, pr) and is consumed once per step (the
          // old two-deep batching re-joined the iterate with itself,
          // doubling the plan per step); the converged component label
          // re-attaches once at the end from the checkpointed state
          val compT = state.select(col("id"), col("comp"))
          var pr = state.select(col("id"), col("pr"))
          (step until iters).foreach { _ =>
            val msgs = w.join(pr.select(col("id").as("src"), col("pr")),
                Seq("src"))
              .groupBy(col("dst").as("id"))
              .agg(sum(col("pr") * col("w")).as("m"))
            pr = v.join(msgs, Seq("id"), "left_outer")
              .select(col("id"),
                (lit(0.15) + lit(0.85) * coalesce(col("m"), lit(0.0))).as("pr"))
          }
          state = Superstep.checkpoint(
            pr.join(compT, Seq("id")).select("id", "pr", "comp"))
          step = iters
        }
      }
      // a deeper-than-iters graph finishes labeling rank-frozen
      while (!ccDone) ccRound(withRank = false)
      state.select(col("id"), col("pr").as("pagerank"),
        col("comp").as("component"))
    }
  }

  /** Exact-scaled static PageRank as pure DataFrame iterations — the
    * driver-oracle-able form of GraphX `staticPageRank` (G12). Ranks
    * live in scaled-BIGINT units (1e6 = rank 1.0); each per-edge
    * contribution `⌊0.85 · pr / outdeg + 0.5⌋` rounds to an integer
    * BEFORE the sum (floor(x+0.5), pure IEEE ops — `round` on doubles
    * differs between engines: Spark goes through decimal-string
    * HALF_UP, DuckDB uses C round, and they disagree on
    * epsilon-below-half doubles), so the aggregation is
    * order-independent and any engine reproduces it bit-for-bit (the
    * ExactNum idiom). Dangling-node mass is dropped (documented
    * semantics, matching the oracle). One shuffle join + one
    * aggregation per superstep. */
  def pageRankExactScaled(edges: DataFrame, iters: Int): DataFrame =
    // a = dst gathers from b = src along the directed edge
    staticPageRank(edges.select(col("dst").cast("long").as("a"),
        col("src").cast("long").as("b")).distinct(),
      count(lit(1)), lit(0.85) * col("pr") / col("norm"), iters)

  /** Weighted exact-scaled static PageRank on the SYMMETRIZED graph —
    * the reference's `page_rank(directed=F)` semantic
    * (bin/compareTwins.R:93) in driver-oracle-able form. Same
    * contract as [[pageRankExactScaled]] (scaled-BIGINT ranks,
    * per-edge `⌊0.85·r·w / strength + 0.5⌋` before the sum ⇒
    * order-independent ⇒ engine-independent), with integer edge
    * weights and out-strength normalization. */
  def pageRankWeightedExactScaled(edges: DataFrame, iters: Int): DataFrame =
    staticPageRank(Superstep.symmetric(edges, sum),
      sum(col("w")), lit(0.85) * col("pr") * col("w") / col("norm"), iters)

  /** The static PageRank superstep over an `(a, b[, w])` operand where
    * `a` gathers from `b`: `norm` (aggregated per sending end `b`) is
    * the LOOP-INVARIANT normalizer riding the edge row, and each edge
    * carries `⌊msg + 0.5⌋` to `a`. */
  private def staticPageRank(operand: DataFrame, norm: Column, msg: Column,
      iters: Int): DataFrame =
    Superstep(operand) { s =>
      val e = Superstep.checkpoint(s.operand
        .join(s.operand.groupBy(col("b")).agg(norm.as("norm")), Seq("b"))
        .repartition(col("b")))
      val v = Superstep.checkpoint(e.select(col("b").as("node"))
        .unionByName(e.select(col("a").as("node"))).distinct()
        .repartition(col("node")))
      s.chain(v.select(col("node"), lit(1000000L).as("pr")), iters) { r =>
        v.join(Superstep.neighbours(e, r, sum(floor(msg + lit(0.5))).as("m")),
            Seq("node"), "left_outer")
          .select(col("node"), (lit(150000L) + coalesce(col("m"), lit(0L))).as("pr"))
      }
    }.select(col("node").as("id"), col("pr").as("pr_scaled"))

  /** Exact-scaled power iteration for per-group eigencentrality — the
    * driver-oracle-able companion of the LocalGraph eigen kernel (G6).
    * Works on the symmetrized unweighted group graphs: v₀ = 1e6 for
    * every node; each step sums neighbor scores (exact BIGINTs) and
    * max-normalizes with one rounded scaled division per node,
    * `⌊s·1e6 / max(s) + 0.5⌋` — both the sum and the max are
    * order-independent integers, so every engine reproduces the
    * trajectory bit-for-bit. Fixed step count: predictable cost at
    * scale, same rationale as static PageRank. One shuffle join + two
    * aggregations per step, all keyed by (group, node). */
  def eigenExactScaled(edges: DataFrame, iters: Int): DataFrame =
    maxNormalized(Superstep.symmetric(edges), sum(col("v")), iters)

  /** WEIGHTED [[eigenExactScaled]] — the production per-group eigen
    * kernel ([[perGroupEigen]], reference eigen_centrality with edge
    * weights) iterates weighted neighbor sums; this is its
    * oracle-able form. Integer edge weights keep Σ w·v exact; the
    * max-normalization stays one rounded scaled division per node per
    * step. Weights symmetrize by summing both directions, matching
    * igraph's undirected view of a weighted multigraph. */
  def eigenWeightedExactScaled(edges: DataFrame, iters: Int): DataFrame =
    maxNormalized(Superstep.symmetric(edges, sum), sum(col("w") * col("v")), iters)

  /** The eigen superstep: neighbour sum `s` by `gather`, then
    * `⌊s·1e6 / max_group(s) + 0.5⌋`. The group max is a WINDOW over
    * the sum table, not a self-join, so the iterate stays
    * single-consumption. */
  private def maxNormalized(operand: DataFrame, gather: Column, iters: Int): DataFrame =
    Superstep(operand) { s =>
      val sym = s.partitioned("grp", "b")
      val byGroup = org.apache.spark.sql.expressions.Window.partitionBy("grp")
      s.chain(Superstep.vertices(sym).withColumn("v", lit(1000000L)), iters) { v =>
        Superstep.neighbours(sym, v, gather.as("s"))
          .withColumn("mx", max(col("s")).over(byGroup))
          .select(col("grp"), col("node"),
            floor(col("s") * lit(1000000.0) / col("mx") + lit(0.5)).as("v"))
      }
    }.select(col("grp"), col("node"), col("v").as("eigen_scaled"))

  /** Distributed single-source shortest paths per group — Bellman-Ford
    * min-plus supersteps on the symmetrized weighted graph (source =
    * each group's min node id). The Pregel SSSP shape: each step joins
    * the frontier with the edge list and takes a min — integer
    * weights keep every distance exact, and min is order-independent,
    * so an external oracle replays the trajectory. `iters` bounds the
    * hop count (paths longer than `iters` hops stay at their best
    * bound — callers size it to the expected diameter); unreached
    * nodes are absent from the output. This is the whole-graph-scale
    * companion of the task-local Dijkstra kernel (G4 weighted): one
    * shuffle join + one min-agg per step. */
  def ssspExactScaled(edges: DataFrame, iters: Int): DataFrame = {
    val sym = Superstep.symmetric(edges, min)
    // weight-0 self-loops carry each node's current bound through the
    // relax join, so `dist` is consumed ONCE per step — the naive
    // "dist ∪ relax(dist)" form reads it twice per superstep. Same
    // trick in the oracle.
    Superstep(sym.unionByName(Superstep.vertices(sym)
        .select(col("grp"), col("node").as("a"), col("node").as("b"), lit(0L).as("w")))) { s =>
      val hop = s.partitioned("grp", "b")
      s.chain(hop.where(col("w") === 0L).groupBy(col("grp"))
          .agg(min(col("a")).as("node"))
          .select(col("grp"), col("node"), lit(0L).as("dist")), iters) { dist =>
        Superstep.neighbours(hop, dist, min(col("dist") + col("w")).as("dist"))
      }
    }
  }

  /** K-core peeling per group (beyond-reference): nodes surviving
    * `iters` rounds of "drop every node with fewer than k neighbors
    * still standing", with their within-core degree. Pure integer
    * set/degree arithmetic — both engines run the same fixed peel
    * count, so the oracle replays it exactly (a fixpoint loop would
    * need data-dependent iteration; fixed rounds bound cost at scale
    * the same way the static supersteps do).
    *
    * The iterate is the LIVE symmetric edge set E_i, not the node
    * membership: E_0 = sym, and a round keeps the edges whose two
    * endpoints both have live degree >= k. On a symmetric edge set
    * the row count of partition (grp, b) is deg(b), so one degree per
    * node serves both endpoints. By induction
    * E_i = {(a, b) ∈ sym : a, b ∈ keep_i} (a node with live degree
    * >= k >= 1 is itself live), so the result — live degree >= k after
    * the last round — is the node-membership peel the oracle replays.
    * Two paths, picked on the measured symmetric operand, with one
    * output schema `(grp, node, deg)`:
    *  - at or under [[LocalMaxEdges]] rows, ONE shuffle sends the
    *    operand to one task, where [[kcoreOf]] runs every round on
    *    index arrays. The result is lazy, like [[components]]'s;
    *  - above, the `iters - 1` peel rounds chain as ONE action: both
    *    degrees are window counts over the one iterate, consumed once
    *    per round, and one group-by takes the last round's degrees.
    * `iters` >= 1. */
  def kcore(edges: DataFrame, k: Int, iters: Int): DataFrame =
    kcore(edges, k, iters, LocalMaxEdges)

  private[graph] def kcore(edges: DataFrame, k: Int, iters: Int,
      maxLocalEdges: Long): DataFrame = {
    require(iters >= 1, s"kcore needs at least one round, got iters=$iters")
    Superstep(Superstep.symmetric(edges)) { s =>
      if (s.rows <= maxLocalEdges) {
        val in = s.operand.schema
        val out = StructType(Seq(in("grp"), in("a").copy(name = "node"),
          StructField("deg", LongType, nullable = false)))
        s.operand.repartition(1)
          .mapPartitions(it => kcoreOf(it, k, iters))(Encoders.row(out))
      } else {
        val byA = org.apache.spark.sql.expressions.Window.partitionBy("grp", "a")
        val byB = org.apache.spark.sql.expressions.Window.partitionBy("grp", "b")
        val live = s.chain(s.operand, iters - 1) { cur =>
          cur.withColumn("da", count(lit(1)).over(byA))
            .withColumn("db", count(lit(1)).over(byB))
            .where(col("da") >= k && col("db") >= k)
            .select("grp", "a", "b")
        }
        Superstep.checkpoint(live.groupBy(col("grp"), col("a").as("node"))
          .agg(count(lit(1)).as("deg"))
          .where(col("deg") >= k))
      }
    }
  }

  /** The one-task path of [[kcore]] over the distinct symmetric
    * `(grp, a, b)` rows. Nodes are keyed by (group, id) to array
    * indexes: ids repeat across groups, and a null id is one more node
    * of its group, as it is one window partition of the chain. Each
    * row counts once toward deg(a); each of the `iters - 1` rounds
    * recounts the degrees over the live rows and drops every row with
    * an endpoint under k, which keeps the live rows symmetric. Emits
    * `(grp, node, deg)` for every node of degree >= k in the last
    * count. */
  private def kcoreOf(rows: Iterator[Row], k: Int, iters: Int): Iterator[Row] = {
    import scala.collection.mutable
    val groups = mutable.HashMap.empty[Any, Int]
    val grpVal = mutable.ArrayBuffer.empty[Any]
    val idsOf = mutable.ArrayBuffer.empty[mutable.LongMap[Int]]
    val nullOf = mutable.ArrayBuffer.empty[Int]
    val nullIds = mutable.BitSet.empty
    val (nodeGrp, nodeId) = (Array.newBuilder[Int], Array.newBuilder[Long])
    var n = 0
    def newNode(g: Int, id: Long): Int = { nodeGrp += g; nodeId += id; n += 1; n - 1 }
    def nodeOf(g: Int, r: Row, i: Int): Int =
      if (!r.isNullAt(i)) { val id = r.getLong(i); idsOf(g).getOrElseUpdate(id, newNode(g, id)) }
      else {
        if (nullOf(g) < 0) { nullOf(g) = newNode(g, 0L); nullIds += nullOf(g) }
        nullOf(g)
      }
    val (ea, eb) = (Array.newBuilder[Int], Array.newBuilder[Int])
    rows.foreach { r =>
      val g = groups.getOrElseUpdate(r.get(0), {
        grpVal += r.get(0); idsOf += mutable.LongMap.empty[Int]; nullOf += -1
        grpVal.length - 1
      })
      ea += nodeOf(g, r, 1); eb += nodeOf(g, r, 2)
    }
    val (a, b, grp, id) = (ea.result(), eb.result(), nodeGrp.result(), nodeId.result())
    val deg = new Array[Int](n)
    var m = a.length
    def recount(): Unit = {
      java.util.Arrays.fill(deg, 0)
      var e = 0
      while (e < m) { deg(a(e)) += 1; e += 1 }
    }
    var round = 1
    while (round < iters) {
      recount()
      var kept = 0
      var e = 0
      while (e < m) {
        if (deg(a(e)) >= k && deg(b(e)) >= k) { a(kept) = a(e); b(kept) = b(e); kept += 1 }
        e += 1
      }
      m = kept
      round += 1
    }
    recount()
    Iterator.range(0, n).filter(deg(_) >= k).map(v =>
      Row(grpVal(grp(v)), if (nullIds(v)) null else id(v), deg(v).toLong))
  }

  /** Deterministic synchronous label propagation per group (G14/G15
    * family — the distributed community detector; reference uses
    * igraph community kernels, bin/CompareNetworkGroups.R:67-68).
    * Every node starts labeled with its own id; each superstep it
    * adopts the most frequent label among its neighbors, ties broken
    * by the smallest label. Max-count-then-min-label is a total order
    * on (count, label), so unlike GraphX's hashmap-iteration
    * tie-break the trajectory is engine-reproducible — an external
    * oracle replays it as grouped counts + row_number. Fixed `iters`
    * bounds cost (synchronous LPA may oscillate on bipartite graphs;
    * a fixed step count makes that a deterministic snapshot, not a
    * liveness hazard). Per step: one shuffle join on the label table
    * (consumed once — linear plan growth) + two aggs, all keyed by
    * (group, node). */
  def lpaExactScaled(edges: DataFrame, iters: Int): DataFrame =
    Superstep(Superstep.symmetric(edges)) { s =>
      val sym = s.partitioned("grp", "b")
      s.chain(Superstep.vertices(sym).withColumn("lab", col("node")), iters) { lab =>
        sym.join(lab.withColumnRenamed("node", "b"), Seq("grp", "b"))
          .groupBy(col("grp"), col("a"), col("lab"))
          .agg(count(lit(1)).as("c"))
          .groupBy(col("grp"), col("a").as("node"))
          // argmax with min-label tie-break as one order-independent agg:
          // max over (count, -label) structs, then negate back
          .agg(max(struct(col("c"), (-col("lab")).as("nl"))).as("m"))
          .select(col("grp"), col("node"), (-col("m.nl")).as("lab"))
      }
    }.select(col("grp"), col("node"), col("lab").as("community"))

  /** Newman modularity of the [[lpaExactScaled]] community assignment,
    * per group — the quality score the reference's igraph workflow
    * reads off its community kernels (modularity() over
    * cluster_walktrap etc., bin/CompareNetworkGroups.R). Exact
    * integer arithmetic to the last step: with m2 = |sym| = 2m and
    * per-community sym-intra edge count I_c and degree mass D_c,
    * Q = Σ_c [L_c/m − (D_c/2m)²] = (Σ_c m2·I_c − D_c²) / m2² — one
    * IEEE division of exact BIGINTs, so any engine replays it. The
    * label table is consumed three times (both endpoints + degree
    * mass), so its superstep lineage is truncated with an eager
    * checkpoint — the standard iterative-algorithm cut. */
  def lpaModularityScaled(edges: DataFrame, iters: Int): DataFrame =
    lpaModularityOf(edges, Superstep.checkpoint(lpaExactScaled(edges, iters)))

  /** [[lpaModularityScaled]] with the label table supplied by the
    * caller — the shared-intermediate form: when the assignment is
    * already memoized/persisted (one LPA run feeding both the
    * assignment gate and this score), passing it here skips the
    * superstep recompute. `labels` must be (grp, node, community)
    * and MATERIALIZED (persisted or checkpointed) — it is consumed
    * three times below. */
  def lpaModularityOf(edges: DataFrame, lab: DataFrame): DataFrame = {
    val sym = Superstep.symmetric(edges)
    val m2 = sym.groupBy("grp").agg(count(lit(1)).as("m2"))
    val labeled = sym
      .join(lab.select(col("grp"), col("node").as("a"), col("community").as("ca")),
        Seq("grp", "a"))
      .join(lab.select(col("grp"), col("node").as("b"), col("community").as("cb")),
        Seq("grp", "b"))
    val intra = labeled.where(col("ca") === col("cb"))
      .groupBy(col("grp"), col("ca").as("c")).agg(count(lit(1)).as("sym_intra"))
    val deg = sym.groupBy(col("grp"), col("a").as("node"))
      .agg(count(lit(1)).as("deg"))
    val dsum = deg
      .join(lab.select(col("grp"), col("node"), col("community").as("c")),
        Seq("grp", "node"))
      .groupBy("grp", "c").agg(sum(col("deg")).as("dsum"))
    dsum.join(intra, Seq("grp", "c"), "left_outer").na.fill(0L, Seq("sym_intra"))
      .join(m2, "grp")
      .select(col("grp"), col("c"),
        (col("m2") * col("sym_intra") - col("dsum") * col("dsum")).as("qc"),
        col("m2"))
      .groupBy("grp")
      .agg(count(lit(1)).as("n_communities"), sum(col("qc")).as("q_num"),
        max(col("m2")).as("m2"))
      .select(col("grp"), col("n_communities"), col("q_num"),
        (col("q_num").cast("double") /
          (col("m2") * col("m2")).cast("double")).as("modularity"))
  }

  /** Exact-scaled alpha/Katz centrality (G10) — the driver-oracle-able
    * companion of the LocalGraph dense solve (reference
    * `alpha_centrality`, bin/interpersonaldiversity.R). The solve's
    * Neumann series x = Σ αᵏ(Aᵀ)ᵏe runs as supersteps
    * x_{k+1} = α·Aᵀx_k + e from x₀ = e (scaled 1e6): each step sums
    * neighbor scores (exact BIGINTs) and applies ONE rounded op per
    * node, ⌊α·s + 0.5⌋ + 1e6 — both order-independent, so any engine
    * reproduces the trajectory bit-for-bit. Convergence needs
    * α < 1/λ₁ (the dense solve's contract); a fixed small step count
    * bounds cost and magnitude either way. Same scale shape as
    * [[eigenExactScaled]]: one shuffle join + one agg per step, all
    * keyed by (group, node). */
  def alphaExactScaled(edges: DataFrame, alpha: Double, iters: Int): DataFrame =
    Superstep(Superstep.symmetric(edges)) { s =>
      val sym = s.partitioned("grp", "b")
      s.chain(Superstep.vertices(sym).withColumn("v", lit(1000000L)), iters) { v =>
        // every node of the symmetrized graph appears as `a`, so the
        // inner join drops no vertex (no left-join/coalesce needed)
        Superstep.neighbours(sym, v, sum(col("v")).as("s"))
          .select(col("grp"), col("node"),
            (floor(lit(alpha) * col("s") + lit(0.5)) + lit(1000000L)).as("v"))
      }
    }.select(col("grp"), col("node"), col("v").as("alpha_scaled"))

  /** Exact-scaled personalized PageRank — random-walk-with-restart
    * from one seed per group (the min node id: deterministic, no
    * config to drift). The iterate stays engine-portable by integer
    * arithmetic only: each node's outgoing contribution is v DIV deg
    * (integer division on the symmetrized graph), the neighbor sum is
    * an exact BIGINT, and the damping step is the single rounded op
    * ⌊d·s + 0.5⌋ before the teleport mass (1−d)·10⁶ re-enters at the
    * seed. Same cost shape as [[alphaExactScaled]]: per step one
    * co-partitioned join + one agg at superstep-sized partitions. */
  def pprExactScaled(edges: DataFrame, damping: Double, iters: Int): DataFrame = {
    val teleport = math.round((1.0 - damping) * 1000000L)
    Superstep(Superstep.symmetric(edges)) { s =>
      val sym = s.partitioned("grp", "b")
      // deg and the seed flag are LOOP-INVARIANT checkpointed leaves
      // the iterate re-joins per step, so it carries only (grp, node, v)
      val deg = Superstep.checkpoint(sym.groupBy(col("grp"), col("a").as("node"))
        .agg(count(lit(1)).as("deg")))
      val seed = Superstep.checkpoint(deg.groupBy("grp").agg(min(col("node")).as("seed")))
      s.chain(deg.join(seed, "grp")
          .select(col("grp"), col("node"),
            when(col("node") === col("seed"), lit(1000000L))
              .otherwise(lit(0L)).as("v")), iters) { v =>
        val contrib = v.join(deg, Seq("grp", "node"))
          .select(col("grp"), col("node"), expr("v DIV deg").as("c"))
        Superstep.neighbours(sym, contrib, sum(col("c")).as("s"))
          .join(seed, "grp")
          .select(col("grp"), col("node"),
            (floor(lit(damping) * col("s") + lit(0.5)) +
              when(col("node") === col("seed"), lit(teleport))
                .otherwise(lit(0L))).as("v"))
      }
    }.select(col("grp"), col("node"), col("v").as("ppr_scaled"))
  }

  /** Fixed-round k-truss peel over an edge list `(u, v)`: each round
    * measures every edge's triangle support ([[edgeSupport]]) and
    * drops edges below k−2. A FIXED round count keeps cluster cost
    * predictable at scale (converged peeling is an unbounded number of
    * full passes — same design call as the superstep kernels) and
    * gives the recurrence an exact chained-CTE SQL form. Under the
    * task-local bound every round runs in the one task, so the peel is
    * one action however many rounds it has. Returns the surviving
    * edges, u &lt; v, with the support measured in the admitting
    * round. */
  def ktrussPeel(pairs: DataFrame, k: Int, rounds: Int): DataFrame =
    ktrussPeel(pairs, k, rounds, LocalMaxEdges)

  private[graph] def ktrussPeel(pairs: DataFrame, k: Int, rounds: Int,
      maxLocalEdges: Long): DataFrame =
    supportRounds(pairs.select(col("u").as("src"), col("v").as("dst")),
      k - 2L, rounds, maxLocalEdges)

  /** Exact-scaled Bonacich power centrality (G11) — the oracle-able
    * companion of the LocalGraph dense solve. The solve's target
    * x = (I − βA)⁻¹·A·1 expands as the Neumann series
    * x = Σ βᵏAᵏ·(A·1), run as supersteps x_{k+1} = A·1 + β·A·x_k from
    * x₀ = A·1: on the unweighted symmetrized graph A·1 is the integer
    * degree, neighbor sums are exact BIGINTs, and the single rounded
    * op per node per step (⌊β·s + 0.5⌋) keeps the trajectory
    * engine-independent. Same cost shape as [[alphaExactScaled]]. */
  def powerExactScaled(edges: DataFrame, beta: Double, iters: Int): DataFrame =
    Superstep(Superstep.symmetric(edges)) { s =>
      val sym = s.partitioned("grp", "b")
      s.chain(sym.groupBy(col("grp"), col("a").as("node"))
          .agg((count(lit(1)) * lit(1000000L)).as("v")), iters) { v =>
        // every node carries a score each step, so the join fans exactly
        // deg(i) rows per node — deg falls out of the same aggregation
        // as the neighbor sum
        Superstep.neighbours(sym, v, sum(col("v")).as("s"), count(lit(1)).as("deg"))
          .select(col("grp"), col("node"),
            (col("deg") * lit(1000000L) +
              floor(lit(beta) * col("s") + lit(0.5))).as("v"))
      }
    }.select(col("grp"), col("node"), col("v").as("power_scaled"))

  /** Exact-scaled HITS (Kleinberg hubs & authorities, beyond-
    * reference): on the directed graph, h ← A·a then a ← Aᵀ·h per
    * superstep, each followed by a global max-normalization — neighbor
    * sums are exact BIGINTs and the single rounded op per node per
    * half-step (⌊s·1e6/max + 0.5⌋) keeps the trajectory engine-
    * independent, the [[eigenExactScaled]] discipline applied to the
    * two-sided iteration. The global max of a half-step is observed
    * while it is checkpointed, so every half-step is one action of its
    * own — the recurrence reads each iterate twice. Nodes without
    * out-(in-) edges carry hub (authority) 0 exactly. Output:
    * (id, hub_scaled, auth_scaled). */
  def hitsExactScaled(edges: DataFrame, iters: Int): DataFrame =
    Superstep(edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst")).distinct()) { st =>
      val e = Superstep.checkpoint(st.operand.repartition(col("dst")))
      val v = Superstep.checkpoint(e.select(col("src").as("id"))
        .unionByName(e.select(col("dst").as("id"))).distinct()
        .repartition(col("id")))
      // zero-score nodes contribute nothing to any later neighbor sum,
      // so iterations normalize only the nodes WITH mass (drops the
      // all-node left join — 2 stages/iteration in a kernel whose cost
      // is pure stage count); the zeros re-enter once at the end.
      // The global max is collected DURING the half-step's checkpoint
      // action (Observation) and re-injected as a LITERAL, so the sums
      // subtree executes once per half-step.
      def normalized(sums: DataFrame, out: String): DataFrame = {
        val obs = org.apache.spark.sql.Observation()
        val s = Superstep.checkpoint(sums.observe(obs, max(col("s")).as("mx")))
        val mx = obs.get.getOrElse("mx", null) match {
          case n: java.lang.Long => n.longValue()
          case _ => 0L // empty frame: max is null — everything scores 0
        }
        s.select(col("id"),
          (if (mx == 0L) lit(0L)
           else floor(col("s") * lit(1000000.0) / lit(mx) + lit(0.5))
             .cast("long")).as(out))
      }
      var a = Superstep.checkpoint(v.select(col("id"), lit(1000000L).as("a")))
      var h = v.select(col("id"), lit(1000000L).as("h"))
      (0 until iters).foreach { _ =>
        h = normalized(
          e.join(a.select(col("id").as("dst"), col("a")), Seq("dst"))
            .groupBy(col("src").as("id")).agg(sum(col("a")).as("s")), "h")
        a = normalized(
          e.join(h.select(col("id").as("src"), col("h")), Seq("src"))
            .groupBy(col("dst").as("id")).agg(sum(col("h")).as("s")), "a")
      }
      v.join(h, Seq("id"), "left_outer").join(a, Seq("id"), "left_outer")
        .select(col("id"), coalesce(col("h"), lit(0L)).as("hub_scaled"),
          coalesce(col("a"), lit(0L)).as("auth_scaled"))
    }

  /** Exact-scaled Brandes betweenness per group — the
    * driver-oracle-able form of the "no SQL form" kernel (G7):
    * [[LocalGraph.betweennessScaled2]] on each group's simple graph,
    * every per-edge dependency rounded to a scaled BIGINT before it is
    * summed, so any engine reproduces it bit-for-bit. The DuckDB mirror
    * unrolls the BFS-layered forward (σ) and backward (δ) sweeps as
    * generated per-depth CTEs.
    *
    * Output `btw_scaled2` = Σ_roots δ_root(v) (scaled; each unordered
    * pair counted from both endpoints — halve and unscale for the
    * textbook undirected value). BFS is depth-capped at `maxDepth`
    * (mirrored by the oracle's recursion bound); σ must stay within
    * Long — true for sparse per-sample graphs, the tier this kernel
    * serves (a megagraph belongs on the superstep tier). */
  def betweennessExactScaled(edges: DataFrame, maxDepth: Int = 32): DataFrame = {
    import edges.sparkSession.implicits._
    groupGraphs(edges.withColumn("weight", lit(1.0)), directed = false) { (grp, g) =>
      val b = g.betweennessScaled2(maxDepth)
      g.vertexIds.indices.map(i => (grp, g.vertexIds(i), b(i)))
    }.toDF("grp", "node", "btw_scaled2")
  }

  /** Per-vertex eccentricity + harmonic centrality per group, both in
    * exact arithmetic ([[LocalGraph.eccHarmonicExact]]): ecc is an
    * integer BFS depth, harmonic is Σ_u ⌊1e6/d(v,u) + 0.5⌋ over
    * reachable u ≠ v, so the oracle reproduces both bit-for-bit from
    * the recursive-CTE distance table. Harmonic centrality is the
    * disconnected-robust closeness variant (a beyond-the-reference
    * G-family extension). */
  def harmonicEccExact(edges: DataFrame, maxDepth: Int = 64): DataFrame = {
    import edges.sparkSession.implicits._
    groupGraphs(edges.withColumn("weight", lit(1.0)), directed = false) { (grp, g) =>
      val r = g.eccHarmonicExact(maxDepth)
      g.vertexIds.indices.map(i => (grp, g.vertexIds(i), r(i).ecc.toLong, r(i).terms))
    }.toDF("grp", "node", "ecc", "harmonic_scaled")
  }

  /** Materialize one group's edges into task memory, failing fast past
    * [[LocalMaxEdges]]: the per-group kernels are the many-small-groups
    * tier, and a megagroup must error with an actionable message
    * instead of OOMing the executor. */
  private def boundedEdges(grp: String, it: Iterator[(String, Long, Long, Double)])
      : Seq[(Long, Long, Double)] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    while (it.hasNext) {
      if (buf.length >= LocalMaxEdges)
        throw new IllegalStateException(
          s"group '$grp' has more than $LocalMaxEdges edges — too large for a " +
            "task-local graph kernel. Pre-aggregate the group, or run the graph " +
            "whole on the superstep tier (components, pageRankAndComponentsDF, " +
            "the exact-scaled kernels).")
      val t = it.next()
      buf += ((t._2, t._3, t._4))
    }
    buf.toSeq
  }

  /** The per-group dispatch, EXPLICITLY distributed (round-14, r13
    * verdict item 5 / guide §2.4-2.5): `groupByKey(_._1)` computes its
    * key into a fresh column, so no pre-repartition can satisfy the
    * required distribution and the planner inserts its own exchange —
    * byte-tiny for gate-scale groups, which AQE coalesces to ONE task,
    * serializing every group's task-local kernel (q72's eigen battery
    * ran all groups in a single ~4 s task on a 32-core host). Grouping
    * BY THE COLUMN (`groupBy(col).as[K, V]`) lets an explicit-count
    * keyed repartition satisfy the distribution exactly: no second
    * exchange, and the explicit count is exempt from coalescing, so
    * each group's kernel lands in its own task. At scale the exchange
    * exists either way — this only pins its partition count to the
    * session parallelism. `rows` is the value tuple, `key` among it. */
  private def keyedGroups[K: Encoder, V: Encoder](rows: DataFrame, key: String)
      : KeyValueGroupedDataset[K, V] =
    rows.repartition(rows.sparkSession.sessionState.conf.numShufflePartitions, col(key))
      .groupBy(col(key)).as[K, V]

  /** Every group of a (group, src, dst, weight) edge list as one
    * task-local [[LocalGraph]] ([[keyedGroups]], capped by
    * [[boundedEdges]]), and `kernel`'s rows for it. */
  private def groupGraphs[R: Encoder](edges: DataFrame, directed: Boolean)(
      kernel: (String, LocalGraph) => IterableOnce[R]): Dataset[R] = {
    import edges.sparkSession.implicits._
    keyedGroups[String, (String, Long, Long, Double)](
        edges.select(col("group").cast("string"), col("src").cast("long"),
          col("dst").cast("long"), col("weight").cast("double")), "group")
      .flatMapGroups((grp, it) =>
        kernel(grp, LocalGraph.fromEdges(boundedEdges(grp, it), directed)))
  }

  /** The all-pairs-BFS kernels (diameter, radius, mean distance,
    * betweenness, closeness, harmonic) are O(V·E) — a single 100k-node
    * group under the edge cap would still burn hours in one task.
    * Groups past this node count report -1 / NaN for those metrics and
    * keep the linear ones (degree, eigen, connectivity); the
    * whole-graph superstep tier is the right tool for the megagroup. */
  private val QuadraticMaxNodes = 20000

  /** Alpha centrality solves a dense n×n system (O(n²) memory, O(n³)
    * time) — NaN past this node count. */
  private val DenseMaxNodes = 2000

  /** Community detection is quadratic-plus in node count — computed
    * only for groups at or below this size (the reference's per-sample
    * subgraphs are tens of nodes); larger groups report
    * nCommunities = -1 and modularity NaN, or -1 labels. */
  private val CommunityMaxNodes = 200

  /** Per-group whole-graph metrics: one row per group with the
    * reference's network-stat battery (nestats shape —
    * reference bin/GeneralNetworkProperties.R, bin/CompareSkin.R:175-181),
    * communities by greedy CNM (reference fastgreedy; walktrap is
    * [[perGroupCommunities]]). Input: (group: String, src: Long,
    * dst: Long, weight: Double). */
  def perGroupMetrics(edges: DataFrame, directed: Boolean = false): DataFrame = {
    import edges.sparkSession.implicits._
    groupGraphs(edges, directed) { (grp, g) =>
      val quad = g.n <= QuadraticMaxNodes
      val comm =
        if (g.n > CommunityMaxNodes) Array.empty[Int] else g.greedyModularityCommunities
      Iterator.single(GroupGraphMetrics(
        group = grp, nNodes = g.n, nEdges = g.edges.length,
        diameter = if (quad) g.diameter else -1,
        radius = if (quad) g.radius else -1,
        meanDistance = if (quad) g.meanDistance else Double.NaN,
        connected = g.isConnected,
        degreeCentralization = g.degreeCentralization,
        betweennessCentralization =
          if (quad) g.betweennessCentralization else Double.NaN,
        closenessCentralization =
          if (quad) g.closenessCentralization else Double.NaN,
        eigenCentralization = g.eigenCentralization,
        nCommunities = if (comm.isEmpty) -1 else comm.distinct.length,
        modularity = if (comm.isEmpty) Double.NaN else g.modularity(comm)))
    }.toDF()
  }

  /** G14/G15 — per-group per-vertex community assignment from BOTH
    * local kernels (walktrap, reference bin/CompareNetworkGroups.R:67;
    * CNM fastgreedy, reference bin/TriadicClosures.R:59) in one kernel
    * pass. Communities are labeled CANONICALLY by their minimum member
    * vertex id, so the output is independent of the kernels' internal
    * community numbering and pins cleanly against an external oracle.
    * Output: (group, id, walktrap_rep, cnm_rep). Groups larger than
    * [[CommunityMaxNodes]] emit (-1, -1) labels instead of running the
    * quadratic-plus kernels (a megagroup belongs on the distributed LPA
    * tier). */
  def perGroupCommunities(edges: DataFrame, directed: Boolean = false,
      steps: Int = 4): DataFrame = {
    import edges.sparkSession.implicits._
    groupGraphs(edges, directed) { (grp, g) =>
      if (g.n > CommunityMaxNodes) {
        g.vertexIds.indices.map(i => (grp, g.vertexIds(i), -1L, -1L))
      } else {
        val wt = g.walktrapCommunities(steps)
        val cnm = g.greedyModularityCommunities
        def minIdRep(m: Array[Int]): Map[Int, Long] =
          m.zipWithIndex.groupBy(_._1)
            .map { case (c, xs) => c -> xs.map(x => g.vertexIds(x._2)).min }
        val (rw, rc) = (minIdRep(wt), minIdRep(cnm))
        g.vertexIds.indices.map(i => (grp, g.vertexIds(i), rw(wt(i)), rc(cnm(i))))
      }
    }.toDF("group", "id", "walktrap_rep", "cnm_rep")
  }

  /** Per-group per-vertex eigencentrality — the node×sample matrix
    * feeding β-diversity (G18; reference bin/interpersonaldiversity.R:98-116).
    * Output: (group, id, eigen). */
  def perGroupEigen(edges: DataFrame, directed: Boolean = false): DataFrame = {
    import edges.sparkSession.implicits._
    groupGraphs(edges, directed) { (grp, g) =>
      val e = g.eigenCentrality()
      g.vertexIds.indices.map(i => (grp, g.vertexIds(i), e(i)))
    }.toDF("group", "id", "eigen")
  }

  /** Per-group per-vertex centrality battery: eigencentrality,
    * PageRank, betweenness, closeness, weight-entropy diversity, alpha
    * centrality and harmonic in one kernel pass per group (SURVEY
    * G6-G13). Betweenness, closeness and harmonic are NaN (harmonic -1)
    * past [[QuadraticMaxNodes]], alpha past [[DenseMaxNodes]].
    * Output: (group, id, eigen, pagerank, betweenness, closeness,
    * diversity, alpha, harmonic_scaled). */
  def perGroupVertexMetrics(edges: DataFrame, directed: Boolean = false,
      alpha: Double = 0.1): DataFrame = {
    import edges.sparkSession.implicits._
    groupGraphs(edges, directed) { (grp, g) =>
      val quad = g.n <= QuadraticMaxNodes
      val nan = Array.fill(g.n)(Double.NaN)
      val eig = g.eigenCentrality()
      val pr = g.pageRank()
      val btw = if (quad) g.betweenness else nan
      val clo = if (quad) g.closeness else nan
      val har = if (quad) g.harmonicScaled() else Array.fill(g.n)(-1L)
      val div = g.diversity
      val alp =
        if (g.n > DenseMaxNodes) nan
        else try g.alphaCentrality(alpha) catch {
          case _: IllegalArgumentException => nan
        }
      g.vertexIds.indices.map(i =>
        (grp, g.vertexIds(i), eig(i), pr(i), btw(i), clo(i), div(i), alp(i), har(i)))
    }.toDF("group", "id", "eigen", "pagerank", "betweenness",
      "closeness", "diversity", "alpha", "harmonic_scaled")
  }

  /** G19 — per-group targeted-removal robustness curve (NetSwan
    * shape): one row per (group, n_removed) with the largest-component
    * fraction after deleting that many highest-degree vertices.
    * Same many-small-groups tier as the other kernels. */
  def perGroupRobustness(edges: DataFrame, steps: Int = 5): DataFrame = {
    import edges.sparkSession.implicits._
    groupGraphs(edges, directed = false) { (grp, g) =>
      g.robustnessCurve(steps).zipWithIndex.map { case (frac, i) => (grp, i, frac) }
    }.toDF("group", "n_removed", "largest_frac")
  }

  /** G13 exact twin — per-vertex inverse-Simpson (Hill number of
    * order 2) diversity of incident edge weights: D = (Σw)²/Σw².
    * The reference's diversity kernel is Shannon entropy over
    * log(degree) (igraph diversity, bin/interpersonaldiversity.R:104;
    * driver-local in LocalGraph.diversity / q59) — transcendental, so
    * not hash-replayable across engines. The Simpson form measures the
    * same effective-partner concentration but stays RATIONAL: both
    * sums are exact BIGINTs and the output is one IEEE expression, so
    * an external engine replays it bit-for-bit. One shuffle (the
    * groupBy); symmetrization is a union of two narrow projections.
    * Input: (group, src, dst, w: long). Output: (grp, id, s, q,
    * simpson). */
  def vertexSimpsonDiversity(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("group").as("grp"), col("src").as("id"), col("w"))
      .unionByName(edges.select(col("group").as("grp"), col("dst").as("id"), col("w")))
    sym.groupBy("grp", "id")
      .agg(sum(col("w")).as("s"), sum(col("w") * col("w")).as("q"))
      .select(col("grp"), col("id"), col("s"), col("q"),
        (col("s").cast("double") * col("s") / col("q")).as("simpson"))
  }

  /** Weak components of one edge list, computed task-locally by
    * union-find with path halving: each edge endpoint with its
    * component's min id. The larger-id root always joins the
    * smaller-id one, so every root IS its component's min id — the
    * recursive-CTE closure's labeling convention. Covers only edge
    * endpoints; a self-loop (v, v) puts v in. The per-group kernel of
    * [[perGroupComponents]] and the one-task path of [[components]]. */
  private def componentsOf(edges: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val idx = scala.collection.mutable.LongMap.empty[Int]
    val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
    val parent = scala.collection.mutable.ArrayBuffer.empty[Int]
    def nodeOf(v: Long): Int = idx.getOrElseUpdate(v, {
      ids += v; parent += parent.length; parent.length - 1
    })
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(nodeOf(a)), find(nodeOf(b)))
      if (ids(ra) < ids(rb)) parent(rb) = ra
      else if (ids(rb) < ids(ra)) parent(ra) = rb
    }
    ids.indices.iterator.map(i => (ids(i), ids(find(i))))
  }

  /** The task-local tier's edge bound: the most edges one task holds
    * — one group of a per-group kernel ([[boundedEdges]]), the whole
    * graph of [[components]] and [[edgeSupport]], or every group's
    * symmetric edges of [[kcore]]. */
  private[graph] val LocalMaxEdges = 2000000

  /** Weak connected components of a whole graph: `(id, component)`,
    * each component labelled by its min id. `edges` is `(src, dst)`;
    * every `id` of `ids` is in the output too, an isolated one
    * labelled by itself. Self-loops, duplicate and reversed edges are
    * harmless. Two paths, picked on the measured operand (edges plus
    * ids):
    *  - at or under [[LocalMaxEdges]] rows, ONE shuffle sends the graph
    *    to one task, where [[componentsOf]]'s union-find labels it. The
    *    result is lazy: its one exchange has a fixed partition count,
    *    so the consumer's action runs it the same under any conf;
    *  - above, the min-label supersteps with POINTER JUMPING of
    *    [[pageRankAndComponentsDF]]'s fused loop, run with no rank
    *    steps: rounds grow with log(diameter). Contracting each
    *    partition by union-find first (Kiveris et al., SoCC 2014)
    *    would cut the rounds further (SCALE.md). */
  def components(edges: DataFrame, ids: DataFrame): DataFrame =
    components(edges, Some(ids), LocalMaxEdges)

  private[graph] def components(edges: DataFrame, ids: Option[DataFrame],
      maxLocalEdges: Long): DataFrame = {
    import edges.sparkSession.implicits._
    val e = edges.select(col("src").cast("long").as("a"), col("dst").cast("long").as("b"))
    Superstep(ids.fold(e)(i => e.unionByName(
        i.select(col("id").cast("long").as("a"), col("id").cast("long").as("b"))))) { s =>
      if (s.rows <= maxLocalEdges)
        s.operand.as[(Long, Long)].repartition(1).mapPartitions(componentsOf)
          .toDF("id", "component")
      else
        pageRankAndComponentsDF(edges.sparkSession,
          PropertyGraph(s.operand.select(col("a").as("id")),
            s.operand.select(col("a").as("src"), col("b").as("dst"))), iters = 0)
          .select("id", "component")
    }
  }

  /** Triangle support of every edge of a whole graph: `(u, v, support)`
    * with u &lt; v and support = |N(u) ∩ N(v)|, zero-support edges
    * included. `edges` is `(src, dst)`; self-loops, duplicate and
    * reversed edges are dropped or merged. Each edge is oriented from
    * the lower (degree, id) end, and a triangle is found once, at its
    * lowest edge, as the intersection of its two ends' sorted
    * out-lists (the wedge-closing count at the core of worst-case-
    * optimal joins). Same two paths as [[components]]: the whole graph
    * in one task at or under [[LocalMaxEdges]] input rows, else the
    * relational form — oriented edges joined to both ends' out-lists
    * — inside the superstep scope. Both share [[orientedBefore]] and
    * [[commonOut]]. */
  def edgeSupport(edges: DataFrame): DataFrame =
    edgeSupport(edges, LocalMaxEdges)

  private[graph] def edgeSupport(edges: DataFrame, maxLocalEdges: Long): DataFrame =
    supportRounds(edges, 0L, 1, maxLocalEdges)

  /** `rounds` of [[edgeSupport]], each over the edges the previous
    * round kept (support ≥ `minSupport`); the last round's survivors.
    * The operand is measured once: a peel only removes edges. */
  private def supportRounds(edges: DataFrame, minSupport: Long, rounds: Int,
      maxLocalEdges: Long): DataFrame = {
    require(rounds >= 1, "a support peel needs at least one round")
    import edges.sparkSession.implicits._
    Superstep(edges.select(col("src").cast("long").as("a"),
        col("dst").cast("long").as("b"))) { s =>
      if (s.rows <= maxLocalEdges)
        s.operand.as[(Long, Long)].repartition(1)
          .mapPartitions(it => supportOf(it, minSupport, rounds))
          .toDF("u", "v", "support")
      else
        (1 to rounds).foldLeft(s.operand) { (e, _) =>
          Superstep.checkpoint(relationalSupport(e).where(col("support") >= minSupport))
        }.select(col("a").as("u"), col("b").as("v"), col("support"))
    }
  }

  /** The orientation rule of [[edgeSupport]]: edges point from the
    * lower (degree, id) end, so every out-list is at most √(2m) long. */
  private def orientedBefore(du: Long, u: Long, dv: Long, v: Long): Boolean =
    du < dv || (du == dv && u < v)

  /** The intersection of [[edgeSupport]]: merge the sorted lists `a`
    * and `b`, calling `f` with the positions of every common element. */
  private def commonOut(a: Array[Long], b: Array[Long])(f: (Int, Int) => Unit): Unit = {
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      if (a(i) < b(j)) i += 1
      else if (a(i) > b(j)) j += 1
      else { f(i, j); i += 1; j += 1 }
    }
  }

  /** The one-task path of [[supportRounds]]: per round, the oriented
    * out-lists with a support counter per entry; a triangle x→y, x→w,
    * y→w credits the three entries it was found at. */
  private def supportOf(edges: Iterator[(Long, Long)], minSupport: Long,
      rounds: Int): Iterator[(Long, Long, Long)] = {
    var es = edges.collect { case (a, b) if a != b => (math.min(a, b), math.max(a, b)) }
      .toArray.distinct
    var out = Array.empty[(Long, Long, Long)]
    (1 to rounds).foreach { _ =>
      val deg = es.flatMap(e => Array(e._1, e._2)).groupMapReduce(identity)(_ => 1L)(_ + _)
      val adj = es.map { case (a, b) =>
        if (orientedBefore(deg(a), a, deg(b), b)) (a, b) else (b, a)
      }.groupMap(_._1)(_._2).map { case (x, o) => x -> o.sorted }
      val sup = adj.map { case (x, o) => x -> new Array[Long](o.length) }
      for ((x, ox) <- adj; p <- ox.indices; oy <- adj.get(ox(p)))
        commonOut(ox, oy) { (i, j) => sup(x)(p) += 1; sup(x)(i) += 1; sup(ox(p))(j) += 1 }
      out = for ((x, ox) <- adj.toArray; p <- ox.indices if sup(x)(p) >= minSupport)
        yield (math.min(x, ox(p)), math.max(x, ox(p)), sup(x)(p))
      es = out.map(t => (t._1, t._2))
    }
    out.iterator
  }

  /** One round of the above-bound [[edgeSupport]] path, `(a, b)` to
    * `(a, b, support)` with a &lt; b: orient, collect each node's sorted
    * out-list, join every oriented edge to both ends' lists and
    * intersect them. */
  private def relationalSupport(e: DataFrame): DataFrame = {
    import e.sparkSession.implicits._
    val canon = e.select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
      .where(col("a") =!= col("b")).distinct()
    val deg = Superstep.bothWays(canon).groupBy("a").agg(count(lit(1)).as("d"))
    val oriented = Superstep.checkpoint(canon
      .join(deg.select(col("a"), col("d").as("du")), "a")
      .join(deg.select(col("a").as("b"), col("d").as("dv")), "b")
      .select("a", "b", "du", "dv").as[(Long, Long, Long, Long)]
      .map { case (u, v, du, dv) => if (orientedBefore(du, u, dv, v)) (u, v) else (v, u) }
      .toDF("x", "y"))
    val out = oriented.groupBy("x").agg(sort_array(collect_list(col("y"))).as("ox"))
    val credits = oriented
      .join(out, "x")
      .join(out.select(col("x").as("y"), col("ox").as("oy")), "y")
      .select("x", "y", "ox", "oy").as[(Long, Long, Array[Long], Array[Long])]
      .flatMap { case (x, y, ox, oy) =>
        val c = Array.newBuilder[(Long, Long)]
        commonOut(ox, oy) { (i, _) => c ++= Seq((x, y), (x, ox(i)), (y, ox(i))) }
        c.result()
      }.toDF("x", "y")
    credits.withColumn("c", lit(1L)).unionByName(oriented.withColumn("c", lit(0L)))
      .groupBy(least(col("x"), col("y")).as("a"), greatest(col("x"), col("y")).as("b"))
      .agg(sum(col("c")).as("support"))
  }

  /** G5 per group — weak connected components of every group's
    * subgraph on the keyed per-group tier ([[keyedGroups]], one
    * task-local union-find per group, its edges streamed). Input:
    * (group, src, dst). Output: (group, node, component), the component
    * labeled by its min node id. */
  private[graft] def perGroupComponents(edges: DataFrame): DataFrame = {
    import edges.sparkSession.implicits._
    keyedGroups[String, (String, Long, Long)](edges.select(col("group").cast("string"),
        col("src").cast("long"), col("dst").cast("long")), "group")
      .flatMapGroups { (grp, it) =>
        componentsOf(it.map(e => (e._2, e._3))).map { case (n, c) => (grp, n, c) }
      }.toDF("group", "node", "component")
  }

  /** G19 exact twin — targeted-removal robustness with every decision
    * integer-exact, mirroring LocalGraph.robustnessCurve (NetSwan
    * shape, reference bin/alteredDiet.R:5) distributively: at each
    * step delete the highest-degree remaining vertex (tie → smallest
    * id, the kernel's maxBy((deg, -id)) rule), recompute connected
    * components, and report largest-component size / ORIGINAL vertex
    * count. Adaptive removal is inherently sequential — k steps are k
    * (degree-agg → argmax → CC) rounds; each round is a full
    * distributed job, so the plan survives scale even though the
    * driver holds only the k removed ids and the k curve points.
    * Component sizes are algorithm-independent, so [[components]] here
    * and a recursive-CTE closure in an external engine agree exactly;
    * the only float is the final size/n division. Input: (src, dst).
    * Output: (n_removed, largest, largest_frac). */
  def robustnessExact(edges: DataFrame, steps: Int): DataFrame =
    robustnessExact(edges, steps, LocalMaxEdges)

  private[graph] def robustnessExact(edges: DataFrame, steps: Int,
      maxLocalEdges: Long): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val canon = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val verts = canon.select(col("a").as("v"))
      .unionByName(canon.select(col("b").as("v"))).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bounds = verts.agg(count(lit(1)), max(col("v"))).head()
    val n0 = bounds.getLong(0)
    val enc = bounds.getLong(1) + 1 // layer stride > any vertex id
    // the whole adaptive loop runs eagerly (every step collect()s its
    // argmax), so the superstep partition scope applies to it — each
    // step's degree agg is ~2|E| rows, the contention-amplifier shape
    val nEdges = canon.count()
    val ccMaxByLayer = Superstep.scoped(spark, nEdges * 2, 65536L) {
      // Phase 1 — the removal sequence, BATCHED (round-12 verdict
      // item 5): the old loop ran one argmax collect + one
      // localCheckpoint Spark job PER removal step — inherently
      // sequential driver-side latency that dominates at hundreds of
      // steps. Degrees only ever DECREASE under removals, so the
      // whole sequence is decided by the top-C degree slice plus its
      // induced adjacency: collect the top C = 8·steps + 64 vertices
      // (one job) and the candidate-candidate edges (one job), then
      // simulate the argmax-with-decrements sequence locally. Every
      // victim's edges to future candidates lie inside that induced
      // set, and a non-candidate can never win while the simulated
      // winner's degree stays STRICTLY above the (C+1)-th initial
      // degree (its degree started ≤ that bound and never grows) —
      // the exactness guard. When the guard trips (deep removal runs
      // or boundary ties), the remainder falls back to the old
      // incremental distributed loop: O(1) jobs in the common case,
      // never a wrong sequence. q136 pins the output exactly.
      val removed = scala.collection.mutable.ArrayBuffer.empty[Long]
      val nWanted = math.min(steps, math.max(n0 - 1, 0L).toInt)
      val degAgg = canon.select(col("a").as("v"))
        .unionByName(canon.select(col("b").as("v")))
        .groupBy("v").agg(count(lit(1)).as("d"))
      val cCap = math.min(n0, 8L * nWanted + 64L).toInt
      val top = degAgg.orderBy(col("d").desc, col("v").asc).limit(cCap + 1)
        .select(col("v"), col("d")).as[(Long, Long)].collect()
      val (candArr, cutoff) =
        if (top.length > cCap) (top.take(cCap), top.last._2) else (top, 0L)
      val candIds = candArr.map(_._1)
      val deg = scala.collection.mutable.LongMap(
        candArr.map { case (v, dd) => v -> dd }: _*)
      val adj = scala.collection.mutable.LongMap
        .empty[scala.collection.mutable.ArrayBuffer[Long]]
      if (candIds.nonEmpty)
        canon.where(col("a").isin(candIds: _*) && col("b").isin(candIds: _*))
          .as[(Long, Long)].collect().foreach { case (x, y) =>
            adj.getOrElseUpdate(x, scala.collection.mutable.ArrayBuffer.empty) += y
            adj.getOrElseUpdate(y, scala.collection.mutable.ArrayBuffer.empty) += x
          }
      var guardOk = true
      while (removed.length < nWanted && guardOk) {
        val alive = deg.toSeq.filter(_._2 > 0)
        if (alive.isEmpty) guardOk = false
        else {
          val (victim, dv) = alive.minBy { case (v, dd) => (-dd, v) }
          if (dv > cutoff) {
            removed += victim
            deg.remove(victim)
            adj.getOrElse(victim, Nil).foreach { u =>
              if (deg.contains(u)) deg(u) = deg(u) - 1
            }
          } else guardOk = false
        }
      }
      if (removed.length < nWanted) {
        // guard tripped: finish with the incremental distributed loop
        // (degrees recomputed once under the removals so far, then
        // victim-decrement maintenance per step — round-7 shape)
        var degrees = Superstep.checkpoint(canon
          .where(!col("a").isin(removed.toSeq: _*) &&
            !col("b").isin(removed.toSeq: _*))
          .select(col("a").as("v"))
          .unionByName(canon
            .where(!col("a").isin(removed.toSeq: _*) &&
              !col("b").isin(removed.toSeq: _*))
            .select(col("b").as("v")))
          .groupBy("v").agg(count(lit(1)).as("d")))
        (removed.length until nWanted).foreach { _ =>
          val top1 = degrees.orderBy(col("d").desc, col("v").asc).limit(1)
            .select(col("v")).as[Long].collect()
          val victim =
            if (top1.nonEmpty) top1(0)
            else verts.where(!col("v").isin(removed.toSeq: _*))
              .agg(min(col("v"))).as[Long].head()
          // decrement only edges to SURVIVING neighbors: edges to
          // previously-removed neighbors already left the degree table
          // (at the recompute, or when that neighbor fell)
          val prevRemoved = removed.toSeq
          removed += victim
          val nbDec = canon
            .where((col("a") === victim || col("b") === victim) &&
              !col("a").isin(prevRemoved: _*) &&
              !col("b").isin(prevRemoved: _*))
            .select(when(col("a") === victim, col("b")).otherwise(col("a")).as("v"))
            .groupBy("v").agg(count(lit(1)).as("dec"))
          degrees = Superstep.checkpoint(degrees.where(col("v") =!= victim)
            .join(nbDec, Seq("v"), "left_outer")
            .select(col("v"), (col("d") - coalesce(col("dec"), lit(0L))).as("d"))
            .where(col("d") > 0))
        }
      }
      // Phase 2 — per-layer largest component. The layered union has
      // at most (steps + 1)·|E| rows. Under the task-local bound the
      // layers are independent groups: ONE shuffle fans each to its own
      // task and a union-find labels it there (one [[components]] run
      // over the whole union measured 0.2-0.4 s slower on q136 at
      // sf0.1: a measuring pass and two aggregations). Above the bound,
      // ONE [[components]] run labels every step at once (q75's
      // encoding: layer t's ids offset by t·enc).
      val layered = (0 to steps).map { t =>
        val r = removed.take(t).toSeq
        canon.where(!col("a").isin(r: _*) && !col("b").isin(r: _*))
          .select(lit(t).as("layer"), col("a"), col("b"))
      }.reduce(_ unionByName _)
      val byLayer: Map[Long, Long] =
        if ((steps + 1) * nEdges <= maxLocalEdges)
          keyedGroups[Int, (Int, Long, Long)](layered, "layer")
            .mapGroups { (layer, it) =>
              (layer.toLong, componentsOf(it.map(e => (e._2, e._3))).toSeq
                .groupMapReduce(_._2)(_ => 1L)(_ + _).values.max)
            }.collect().toMap
        else components(layered.select((col("a") + col("layer") * enc).as("src"),
            (col("b") + col("layer") * enc).as("dst")), None, maxLocalEdges)
          .groupBy((col("id") / enc).cast("long").as("layer"), col("component"))
          .agg(count(lit(1)).as("sz"))
          .groupBy("layer").agg(max(col("sz")).as("m"))
          .as[(Long, Long)].collect().toMap
      (byLayer, removed.length)
    }
    val (byLayerMax, nRemoved) = ccMaxByLayer
    canon.unpersist(); verts.unpersist()
    val curve = (0 to steps).map { t =>
      val nLeft = n0 - math.min(t, nRemoved)
      // isolated survivors are singleton components
      val largest = math.max(byLayerMax.getOrElse(t.toLong, 0L), math.min(1L, nLeft))
      (t.toLong, largest, largest.toDouble / n0)
    }
    curve.toDF("n_removed", "largest", "largest_frac")
  }

  /** G17 — graph β-diversity as edge-set Jaccard distance
    * 1 − |E₁∩E₂|/|E₁∪E₂| for every group pair (reference
    * bin/compareTwins.R:179-216). Pure relational: canonicalize,
    * count, self-join on the edge key. */
  def edgeJaccardDistance(edges: DataFrame): DataFrame = {
    val canon = edges.select(col("group"),
        least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    val sizes = canon.groupBy("group").agg(count(lit(1)).as("n"))
    val inter = canon.as("x").join(canon.as("y"),
        col("x.a") === col("y.a") && col("x.b") === col("y.b") &&
          col("x.group") < col("y.group"))
      .groupBy(col("x.group").as("g1"), col("y.group").as("g2"))
      .agg(count(lit(1)).as("n_inter"))
    // include disjoint pairs (n_inter = 0) via cross of sizes
    val pairs = sizes.select(col("group").as("g1"), col("n").as("n1"))
      .join(sizes.select(col("group").as("g2"), col("n").as("n2")), col("g1") < col("g2"))
    pairs.join(inter, Seq("g1", "g2"), "left_outer").na.fill(0, Seq("n_inter"))
      .select(col("g1"), col("g2"),
        (lit(1.0) - col("n_inter").cast("double") /
          (col("n1") + col("n2") - col("n_inter")).cast("double")).as("jaccard_dist"))
  }

  /** M6/G18 — Bray-Curtis dissimilarity between groups over a long
    * (group, item, value) table: BC = Σ|x−y| / Σ(x+y).
    * Shared-item inner join + per-group totals — items missing from a
    * group contribute their full value, without a full outer join:
    * Σ|x−y| = Σ_shared|x−y| + (S1 − Σ_shared x) + (S2 − Σ_shared y). */
  def brayCurtis(values: DataFrame): DataFrame = {
    val v = values.select(col("group"), col("item"), col("value").cast("double"))
    val totals = v.groupBy("group").agg(sum("value").as("total"))
    val shared = v.as("x").join(v.as("y"),
        col("x.item") === col("y.item") && col("x.group") < col("y.group"))
      .groupBy(col("x.group").as("g1"), col("y.group").as("g2"))
      .agg(sum(abs(col("x.value") - col("y.value"))).as("sum_absdiff"),
        sum(col("x.value")).as("sum_x"), sum(col("y.value")).as("sum_y"))
    val pairs = totals.select(col("group").as("g1"), col("total").as("t1"))
      .join(totals.select(col("group").as("g2"), col("total").as("t2")), col("g1") < col("g2"))
    pairs.join(shared, Seq("g1", "g2"), "left_outer")
      .na.fill(0, Seq("sum_absdiff", "sum_x", "sum_y"))
      .select(col("g1"), col("g2"),
        ((col("sum_absdiff") + (col("t1") - col("sum_x")) + (col("t2") - col("sum_y"))) /
          (col("t1") + col("t2"))).as("bray_curtis"))
  }
}

/** Row type for perGroupMetrics. */
case class GroupGraphMetrics(
    group: String, nNodes: Int, nEdges: Int, diameter: Int, radius: Int,
    meanDistance: Double, connected: Boolean,
    degreeCentralization: Double, betweennessCentralization: Double,
    closenessCentralization: Double, eigenCentralization: Double,
    nCommunities: Int, modularity: Double)
