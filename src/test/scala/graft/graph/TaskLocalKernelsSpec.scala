package graft.graph

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** The two whole-graph task-local kernels, [[GraphAnalytics.components]]
  * and [[GraphAnalytics.edgeSupport]], against a driver-side brute
  * force on seeded random graphs, each run on both paths: the one-task
  * path under the default bound and the distributed path with the
  * bound forced to 0. The graphs carry self-loops, duplicate and
  * reversed edges, isolated ids, planted cliques, and a long path in
  * shuffled id order that drives the min-label loop through many
  * rounds. */
class TaskLocalKernelsSpec extends SparkSpec {
  import spark.implicits._

  private val bounds = Seq(GraphAnalytics.LocalMaxEdges.toLong, 0L)

  /** A random graph on ids 0..59, isolated ids 60..69, a 5-clique and
    * a 4-clique sharing node 100, and a 40-node path. */
  private def graph(seed: Int): (Seq[(Long, Long)], Seq[Long]) = {
    val rnd = new scala.util.Random(seed)
    val random = Seq.fill(70)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
    val again = random.take(10) ++ random.slice(10, 20).map(_.swap)
    val loops = Seq.fill(3) { val v = rnd.nextInt(60).toLong; (v, v) }
    def clique(vs: Seq[Long]) = for (a <- vs; b <- vs if a < b) yield (a, b)
    val cliques = clique(100L to 104L) ++ clique(Seq(100L, 110L, 111L, 112L))
    val path = rnd.shuffle((300L until 340L).toList).sliding(2).map(p => (p(0), p(1))).toSeq
    (random ++ again ++ loops ++ cliques ++ path, 0L until 70L)
  }

  private def adjacency(es: Seq[(Long, Long)]): Map[Long, Set[Long]] =
    es.filter { case (a, b) => a != b }.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupMap(_._1)(_._2).view.mapValues(_.toSet).toMap

  private def bruteComponents(es: Seq[(Long, Long)], ids: Seq[Long]): Map[Long, Long] = {
    val adj = adjacency(es)
    val nodes = (ids ++ es.flatMap { case (a, b) => Seq(a, b) }).distinct
    nodes.map { v =>
      var seen = Set(v)
      var frontier = Set(v)
      while (frontier.nonEmpty) {
        frontier = frontier.flatMap(adj.getOrElse(_, Set.empty)) -- seen
        seen ++= frontier
      }
      v -> seen.min
    }.toMap
  }

  private def bruteSupport(es: Seq[(Long, Long)]): Map[(Long, Long), Long] = {
    val adj = adjacency(es)
    es.filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      .map { case (u, v) => (u, v) -> (adj(u) intersect adj(v)).size.toLong }.toMap
  }

  private def edgeFrame(es: Seq[(Long, Long)]): DataFrame = es.toDF("src", "dst")

  test("components == brute force on both paths") {
    Seq(1, 2, 3).foreach { seed =>
      val (es, ids) = graph(seed)
      val want = bruteComponents(es, ids)
      bounds.foreach { bound =>
        val got = GraphAnalytics.components(edgeFrame(es), Some(ids.toDF("id")), bound)
          .as[(Long, Long)].collect()
        assert(got.length == want.size, s"seed $seed bound $bound: one row per id")
        assert(got.toMap == want, s"seed $seed bound $bound")
      }
    }
  }

  test("edgeSupport == |N(u) ∩ N(v)| on both paths") {
    Seq(1, 2, 3).foreach { seed =>
      val (es, _) = graph(seed)
      val want = bruteSupport(es)
      bounds.foreach { bound =>
        val got = GraphAnalytics.edgeSupport(edgeFrame(es), bound)
          .as[(Long, Long, Long)].collect()
        assert(got.length == want.size, s"seed $seed bound $bound: one row per edge")
        assert(got.map { case (u, v, s) => (u, v) -> s }.toMap == want,
          s"seed $seed bound $bound")
      }
    }
  }

  test("ktrussPeel == brute-force peel on both paths") {
    val (es, _) = graph(4)
    // rounds 1 and 2 admit their survivors; round 3's support is the output
    var live = bruteSupport(es)
    (1 to 2).foreach { _ =>
      val kept = live.keys.toSeq.filter(e => live(e) >= 2)
      live = bruteSupport(kept)
    }
    val want = live.filter(_._2 >= 2)
    assert(want.keySet.contains((100L, 101L)), "the 5-clique is a 4-truss")
    val pairs = es.toDF("u", "v")
    bounds.foreach { bound =>
      val got = GraphAnalytics.ktrussPeel(pairs, k = 4, rounds = 3, bound)
        .as[(Long, Long, Long)].collect()
      assert(got.map { case (u, v, s) => (u, v) -> s }.toMap == want, s"bound $bound")
    }
  }

  test("ktrussPeel: one action however many rounds") {
    val (es, _) = graph(5)
    val pairs = es.toDF("u", "v")
    val jobs = Seq(1, 3).map(r =>
      jobsOf(GraphAnalytics.ktrussPeel(pairs, k = 4, rounds = r).collect())._2.size)
    assert(jobs.head == jobs.last, s"rounds=1 → ${jobs.head} jobs, rounds=3 → ${jobs.last}")
  }
}
