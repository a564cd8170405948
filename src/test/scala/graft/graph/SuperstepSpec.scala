package graft.graph

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Contracts of the [[Superstep]] operator:
  *
  *  - every chained kernel runs its supersteps in one action: the job
  *    count does not grow with `iters`. Broadcast joins are off while
  *    counting: a broadcast is a job of its own, which the planner
  *    picks per superstep for an iterate estimated under the threshold
  *    (a cost choice, not part of the chain);
  *  - its checkpoint does not let Catalyst's size estimate compound
  *    across rounds: a loop that checkpoints a self-join every round
  *    reports a bounded estimate however many rounds it runs.
  */
class SuperstepSpec extends SparkSpec {
  import spark.implicits._

  /** Four groups: a triangle with a tail, a 4-cycle with a chord, a
    * path, and a 5-clique; integer weights, one reversed duplicate. */
  private def grouped: DataFrame = {
    val tri = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (2L, 1L))
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L))
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val clique = for (a <- 1L to 5L; b <- 1L to 5L if a < b) yield (a, b)
    Seq("tri" -> tri, "cyc" -> cyc, "path" -> path, "clique" -> clique)
      .flatMap { case (g, es) => es.map { case (a, b) => (g, a, b, 1L + (a + b) % 3) } }
      .toDF("group", "src", "dst", "weight")
  }

  test("chained kernels: jobs do not grow with iters") {
    val g = grouped.cache()
    val dir = g.select(col("src"), col("dst"), col("weight")).cache()
    g.count(); dir.count()
    val unw = g.select("group", "src", "dst")
    val kernels: Seq[(String, Int => DataFrame)] = Seq(
      "pageRankExactScaled" -> (i => GraphAnalytics.pageRankExactScaled(dir.select("src", "dst"), i)),
      "pageRankWeightedExactScaled" -> (i => GraphAnalytics.pageRankWeightedExactScaled(dir, i)),
      "eigenExactScaled" -> (i => GraphAnalytics.eigenExactScaled(unw, i)),
      "eigenWeightedExactScaled" -> (i => GraphAnalytics.eigenWeightedExactScaled(g, i)),
      "ssspExactScaled" -> (i => GraphAnalytics.ssspExactScaled(g, i)),
      "kcore" -> (i => GraphAnalytics.kcore(unw, 2, i)),
      "lpaExactScaled" -> (i => GraphAnalytics.lpaExactScaled(unw, i)),
      "alphaExactScaled" -> (i => GraphAnalytics.alphaExactScaled(unw, 0.1, i)),
      "pprExactScaled" -> (i => GraphAnalytics.pprExactScaled(unw, 0.85, i)),
      "powerExactScaled" -> (i => GraphAnalytics.powerExactScaled(unw, 0.1, i)))
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        groups.add(Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    def jobs(name: String, run: Int => DataFrame, iters: Int): Int = {
      val tag = s"$name-iters-$iters"
      sc.setJobGroup(tag, tag)
      try run(iters).collect()
      finally sc.clearJobGroup()
      // the listener bus delivers in order: once a marker job's start
      // is seen, every kernel job's start has been counted
      sc.setJobGroup(s"$tag-end", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!groups.contains(s"$tag-end") && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(groups.contains(s"$tag-end"), "marker job start never delivered")
      groups.toArray.count(_ == tag)
    }
    val threshold = "spark.sql.autoBroadcastJoinThreshold"
    val savedThreshold = spark.conf.get(threshold)
    spark.conf.set(threshold, "-1")
    sc.addSparkListener(l)
    try {
      val counts = kernels.map { case (name, run) =>
        (name, jobs(name, run, 2), jobs(name, run, 6))
      }
      val grown = counts.filter { case (_, two, six) => two == 0 || two != six }
      assert(grown.isEmpty, grown.map { case (n, two, six) =>
        s"$n: iters=2 → $two jobs, iters=6 → $six" }.mkString("; "))
    } finally {
      sc.removeSparkListener(l)
      spark.conf.set(threshold, savedThreshold)
      g.unpersist(); dir.unpersist()
    }
  }

  /** Rounds of [[GraphAnalytics.pageRankAndComponentsDF]]'s component
    * loop on the path 0-1-…-(n-1), replayed on the driver: min-label
    * propagation, then one pointer jump, until no label changes (the
    * last, unchanged round counts). */
  private def componentRounds(n: Int): Int = {
    var comp = Array.tabulate(n)(_.toLong)
    var rounds = 0
    var changed = true
    while (changed) {
      rounds += 1
      val s1 = Array.tabulate(n) { i =>
        Seq(Some(comp(i)), Option.when(i > 0)(comp(i - 1)),
          Option.when(i < n - 1)(comp(i + 1))).flatten.min
      }
      val s2 = s1.map(c => s1(c.toInt))
      changed = !s2.sameElements(comp)
      comp = s2
    }
    rounds
  }

  test("component rounds do not compound the checkpoint size estimate") {
    val cap = BigInt(org.apache.spark.sql.internal.SQLConf.get.defaultSizeInBytes)
    def estimate(n: Int): BigInt = {
      val nodes = (0L until n.toLong).map(i => (i, i.toString)).toDF("id", "name")
      val edges = (0L until n - 1L).map(i => (i, i + 1)).toDF("src", "dst")
      GraphAnalytics.pageRankAndComponentsDF(spark, PropertyGraph(nodes, edges))
        .queryExecution.optimizedPlan.stats.sizeInBytes
    }
    assert(componentRounds(16) == 5 && componentRounds(1024) == 11)
    val bits = Seq(16, 1024).map(n => estimate(n).bitLength)
    assert(bits.forall(_ <= cap.bitLength),
      s"estimate bit lengths after 5 and 11 rounds: ${bits.mkString(", ")}")
  }
}
