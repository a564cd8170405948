package graft.graph

import graft.SparkSpec

/** Law of [[GraphAnalytics.kcore]]'s live-edge-set peel: it equals
  * the node-membership peel (replayed on the driver) on seeded random
  * multi-group graphs with self-loops, duplicate and reversed edges
  * and isolated pairs, for k ∈ {1,2,3} and iters ∈ {1..5}, on both
  * paths: the one-task peel under the default bound and the window
  * chain with the bound forced to 0. Both paths return one schema,
  * and the one-task path's job count does not grow with `iters`; the
  * chain's is [[SuperstepSpec]]'s job-count table. */
class KcoreSpec extends SparkSpec {
  import spark.implicits._

  private val bounds = Seq(GraphAnalytics.LocalMaxEdges.toLong, 0L)

  /** The node-membership peel, per group: keep_0 = every endpoint,
    * deg_i(a) = |{b : (a, b) ∈ sym, a, b ∈ keep_i}|,
    * keep_{i+1} = {a : deg_i(a) >= k}; the result is the last round's
    * degrees that clear k. */
  private def peel(edges: Seq[(String, Long, Long)], k: Int,
      iters: Int): Map[(String, Long), Long] =
    edges.groupBy(_._1).toSeq.flatMap { case (g, es) =>
      val sym = es.flatMap { case (_, a, b) => Seq((a, b), (b, a)) }.toSet
      var keep = sym.map(_._1)
      var deg = Map.empty[Long, Long]
      (0 until iters).foreach { _ =>
        deg = sym.toSeq.collect { case (a, b) if keep(a) && keep(b) => a }
          .groupBy(identity).map { case (a, xs) => a -> xs.size.toLong }
        keep = deg.collect { case (a, d) if d >= k => a }.toSet
      }
      deg.collect { case (a, d) if d >= k => (g, a) -> d }
    }.toMap

  /** Seeded random groups over a small id range (dense enough for
    * cores at k = 3): a planted clique, random edges (self-loops and
    * duplicates occur), reversed copies of some edges, and an
    * isolated pair. Ids repeat across groups. */
  private def randomGraph(seed: Int): Seq[(String, Long, Long)] = {
    val rng = new scala.util.Random(seed)
    (0 until 6).flatMap { gi =>
      val g = s"g$gi"
      val n = 6 + rng.nextInt(8)
      val clique = rng.shuffle((1L to n.toLong).toList).take(3 + rng.nextInt(3))
      val planted = for (a <- clique; b <- clique if a < b) yield (g, a, b)
      val random = Seq.fill(rng.nextInt(3 * n)) {
        (g, 1L + rng.nextInt(n), 1L + rng.nextInt(n))
      }
      val reversed = random.filter(_ => rng.nextBoolean()).map { case (g, a, b) => (g, b, a) }
      planted ++ random ++ reversed :+ ((g, 100L + gi, 200L + gi))
    }
  }

  test("kcore equals the node-membership peel on random multi-group graphs") {
    for (seed <- Seq(1, 2)) {
      val edges = randomGraph(seed)
      val df = edges.toDF("group", "src", "dst").repartition(3).cache()
      for (bound <- bounds; k <- 1 to 3; iters <- 1 to 5) {
        val rows = GraphAnalytics.kcore(df, k, iters, bound).collect()
          .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
        val got = rows.toMap
        val at = s"seed $seed bound $bound k $k iters $iters"
        assert(got.size == rows.length, s"$at: duplicate nodes")
        assert(got == peel(edges, k, iters), at)
      }
      df.unpersist()
    }
    // the fixture exercises the peel: some node survives round 1 at
    // k = 3 and is dropped by later rounds
    val g = randomGraph(1)
    assert(peel(g, 3, 5).nonEmpty && peel(g, 3, 1).size > peel(g, 3, 5).size)
  }

  test("kcore: both paths return one schema, the group column's type kept") {
    val edges = Seq((7, 1L, 2L), (7, 2L, 3L), (7, 3L, 1L), (8, 1L, 2L))
      .toDF("group", "src", "dst")
    val schemas = bounds.map(b => GraphAnalytics.kcore(edges, 2, 3, b).schema)
    assert(schemas.head.map(f => (f.name, f.dataType)) ==
      Seq(("grp", org.apache.spark.sql.types.IntegerType),
        ("node", org.apache.spark.sql.types.LongType),
        ("deg", org.apache.spark.sql.types.LongType)))
    assert(schemas.head == schemas.last, schemas.mkString(" vs "))
  }

  test("kcore: a null id is one node of its group on both paths") {
    val edges = Seq(("g", Some(1L), Some(2L)), ("g", Some(2L), None), ("g", None, Some(1L)),
      ("h", None, Some(1L)), ("h", Some(1L), Some(3L))).toDF("group", "src", "dst")
    val got = bounds.map(b => GraphAnalytics.kcore(edges, 2, 2, b).collect()
      .map(r => (r.getString(0), Option(r.get(1)), r.getLong(2))).toSet)
    assert(got.head == Set(("g", Some(1L), 2L), ("g", Some(2L), 2L), ("g", None, 2L)))
    assert(got.head == got.last)
  }

  test("kcore: the one-task peel runs in the same jobs however many rounds") {
    val df = randomGraph(3).toDF("group", "src", "dst")
    val jobs = Seq(1, 6).map(i => jobsOf(GraphAnalytics.kcore(df, 2, i).collect())._2.size)
    assert(jobs.head == jobs.last, s"iters=1 → ${jobs.head} jobs, iters=6 → ${jobs.last}")
  }
}
