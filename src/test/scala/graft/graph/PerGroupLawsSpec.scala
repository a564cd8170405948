package graft.graph

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** Laws of the per-group graph tier on seeded random group graphs:
  * q100's exact eccentricity + harmonic and q99's exact-scaled Brandes
  * against the float battery and a driver-side brute force (all-pairs
  * hop distances and shortest-path counts), at and beyond the kernels'
  * depth caps. The groups carry duplicate edges, reversed edges and
  * self-loops on sparse ids; one group is a 100-node path, deeper than
  * both caps. */
class PerGroupLawsSpec extends SparkSpec {
  import spark.implicits._

  // the entry points' default caps, the ones q99 and q100 run with
  private val (btwCap, eccCap) = (32, 64)

  private val groups: Seq[(String, Seq[(Long, Long)])] = {
    val rnd = new scala.util.Random(14)
    val random = (0 until 50).map { g =>
      val ids = Seq.fill(2 + rnd.nextInt(30))(rnd.nextInt(1 << 20).toLong).distinct
      def pick = ids(rnd.nextInt(ids.length))
      val es = Seq.fill(ids.length + rnd.nextInt(2 * ids.length))((pick, pick))
      val loops = Seq.fill(2) { val v = pick; (v, v) }
      s"g$g" -> rnd.shuffle(es ++ es.take(3) ++ es.slice(3, 6).map(_.swap) ++ loops)
    }
    val path = (0L until 100L).sliding(2).map(p => (p(0), p(1))).toSeq
    random :+ ("deep" -> (path ++ path.take(5).map(_.swap) ++ path.take(3) :+ ((7L, 7L))))
  }

  /** One group's distinct pairs, each once as (min, max); self-loops kept. */
  private def canonical(es: Seq[(Long, Long)]): Seq[(Long, Long)] =
    es.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct

  private def frame(gs: Seq[(String, Seq[(Long, Long)])]): DataFrame =
    gs.flatMap { case (g, es) => es.map { case (a, b) => (g, a, b) } }
      .toDF("group", "src", "dst")

  /** Sorted ids, hop distances (-1 = unreachable) and shortest-path
    * counts of one group's simple undirected graph. */
  private final class Ref(val ids: Array[Long], val dist: Array[Array[Int]],
      val sigma: Array[Array[Double]]) {
    val n: Int = ids.length
    /** Σ over ordered pairs s ≠ t at distance ≤ cap of σ_sv·σ_vt/σ_st. */
    def betweenness(cap: Int): Array[Double] = Array.tabulate(n) { v =>
      (for (s <- 0 until n; t <- 0 until n
          if s != v && t != v && dist(s)(t) > 0 && dist(s)(t) <= cap &&
            dist(s)(v) > 0 && dist(v)(t) > 0 && dist(s)(v) + dist(v)(t) == dist(s)(t))
        yield sigma(s)(v) * sigma(v)(t) / sigma(s)(t)).sum
    }
    def reached(s: Int): Seq[Int] = dist(s).toSeq.filter(_ > 0)
  }

  private def reference(es: Seq[(Long, Long)]): Ref = {
    val ids = es.flatMap { case (a, b) => Seq(a, b) }.distinct.sorted.toArray
    val ix = ids.zipWithIndex.toMap
    val nb = es.collect { case (a, b) if a != b => Seq(ix(a) -> ix(b), ix(b) -> ix(a)) }
      .flatten.distinct.groupMap(_._1)(_._2).withDefaultValue(Seq.empty)
    val n = ids.length
    val dist = Array.fill(n, n)(-1)
    val sigma = Array.fill(n, n)(0.0)
    for (s <- 0 until n) {
      dist(s)(s) = 0; sigma(s)(s) = 1.0
      var frontier = Seq(s)
      var d = 0
      while (frontier.nonEmpty) {
        d += 1
        frontier = frontier.flatMap(nb).distinct.filter(dist(s)(_) < 0)
        frontier.foreach(w => dist(s)(w) = d)
        frontier.foreach(w => sigma(s)(w) = nb(w).filter(dist(s)(_) == d - 1).map(sigma(s)(_)).sum)
      }
    }
    new Ref(ids, dist, sigma)
  }

  private lazy val refs: Map[String, Ref] =
    groups.map { case (g, es) => g -> reference(es) }.toMap

  private def eccHarmonic(gs: Seq[(String, Seq[(Long, Long)])]): Map[(String, Long), (Long, Long)] =
    GraphAnalytics.harmonicEccExact(frame(gs)).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap

  private def btwScaled2(gs: Seq[(String, Seq[(Long, Long)])]): Map[(String, Long), Long] =
    GraphAnalytics.betweennessExactScaled(frame(gs)).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap

  private def floatGraph(es: Seq[(Long, Long)]): LocalGraph =
    LocalGraph.fromEdges(es.map { case (a, b) => (a, b, 1.0) })

  test("the deep group is deeper than both caps") {
    val ecc = floatGraph(groups.last._2).eccentricities
    assert(ecc.max > eccCap && ecc.max > btwCap)
  }

  test("q100: exact ecc == eccentricities (capped), harmonic == Σ⌊1e6/d + 0.5⌋ within the cap") {
    val got = eccHarmonic(groups)
    assert(got.size == refs.values.map(_.n).sum)
    groups.foreach { case (g, es) =>
      val r = refs(g)
      val ecc = floatGraph(es).eccentricities
      r.ids.indices.foreach { v =>
        val (e, h) = got((g, r.ids(v)))
        assert(e == math.min(ecc(v), eccCap), s"$g/${r.ids(v)}: ecc $e vs ${ecc(v)}")
        val want = r.reached(v).filter(_ <= eccCap)
          .map(d => math.floor(1000000.0 / d + 0.5).toLong).sum
        assert(h == want, s"$g/${r.ids(v)}: harmonic $h vs $want")
      }
    }
  }

  test("q99: exact betweenness / 2e6 within 1e-4 of the float kernel and of the capped brute force") {
    val got = btwScaled2(groups)
    assert(got.size == refs.values.map(_.n).sum)
    groups.foreach { case (g, es) =>
      val r = refs(g)
      val brute = r.betweenness(btwCap)
      val deep = r.dist.exists(_.max > btwCap)
      // the float battery is a multigraph kernel: compare it on the
      // simple graph, and only where the cap does not bind
      val fl = floatGraph(canonical(es)).betweenness
      r.ids.indices.foreach { v =>
        val ex = got((g, r.ids(v))) / 2000000.0
        assert(math.abs(ex - brute(v) / 2) < 1e-4, s"$g/${r.ids(v)}: $ex vs brute ${brute(v) / 2}")
        if (!deep) assert(math.abs(ex - fl(v)) < 1e-4, s"$g/${r.ids(v)}: $ex vs float ${fl(v)}")
      }
    }
  }

  test("float battery: closeness == reach / Σd, harmonicScaled == Σ 720720 div d, diameter/radius/mean") {
    groups.foreach { case (g, es) =>
      val r = refs(g)
      val lg = floatGraph(es)
      val clo = lg.closeness
      val har = lg.harmonicScaled()
      r.ids.indices.foreach { v =>
        val ds = r.reached(v)
        assert(clo(v) == (if (ds.isEmpty) 0.0 else ds.length.toDouble / ds.sum), s"$g/$v closeness")
        assert(har(v) == ds.map(720720L / _).sum, s"$g/$v harmonic")
      }
      val ecc = r.dist.map(_.max)
      assert(lg.diameter == ecc.max && lg.radius == ecc.min, g)
      val all = r.ids.indices.flatMap(r.reached)
      assert(lg.meanDistance == (if (all.isEmpty) 0.0 else all.map(_.toLong).sum.toDouble / all.length), g)
    }
  }

  test("q99 and q100: duplicate and reversed edges change nothing") {
    val simple = groups.map { case (g, es) => g -> canonical(es) }
    assert(simple.map(_._2.length).sum < groups.map(_._2.length).sum)
    assert(eccHarmonic(simple) == eccHarmonic(groups))
    assert(btwScaled2(simple) == btwScaled2(groups))
  }
}
