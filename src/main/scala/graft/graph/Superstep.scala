package graft.graph

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The Pregel-as-dataflow superstep operator behind every iterative
  * kernel of [[GraphAnalytics]]: a superstep is one join of the
  * iterate with the edge operand plus one group-by (Pregelix, VLDB
  * 2014). A kernel is a short spec over it — the loop invariants it
  * derives from the measured operand, the initial state, and the step
  * body:
  *
  * {{{
  * Superstep(Superstep.symmetric(edges)) { s =>
  *   val sym = s.partitioned("grp", "b")
  *   s.chain(init, iters)(v => Superstep.neighbours(sym, v, sum(col("v")).as("s")) ...)
  * }
  * }}}
  *
  * The operator owns what every kernel used to repeat by hand:
  *
  *  - the operand, materialized once and MEASURED: its row count sizes
  *    the kernel's shuffles at one task per ~64k rows, clamped to
  *    [4, defaultParallelism]. The kernels run ~3 exchanges per
  *    superstep × 5-10 supersteps, so per-task scheduling latency
  *    multiplies by ~30; at the session default (cores) a 2.7k-row
  *    state schedules ~1000 tasks of pure overhead — the surface a
  *    co-tenant load amplifies 10-20× (q110 measured 57.9 s under
  *    contention vs 2.4 s idle). A real 100 TB edge table scales the
  *    count back to full cluster spread.
  *  - the execution scope: shuffle partitions set to that size and
  *    adaptive execution OFF. The exchanges are sized from measured
  *    volume, so AQE's coalescing has nothing to decide, while its
  *    stage-by-stage re-optimization turns each materialization into
  *    one job per exchange (14-28 jobs per gate for byte-tiny tasks).
  *    With AQE off a whole chained recurrence runs as ONE job, plus
  *    one job per broadcast the planner picks: an iterate estimated
  *    under the broadcast threshold is broadcast every superstep,
  *    which at sf0.1 beats shuffling it (q96 3.2 s broadcast vs 5.1 s
  *    with broadcasts off, on 4 cores). The scope still flips the
  *    shared session conf (ROADMAP F2); only jobs executed inside it
  *    see the values, which is why everything a kernel materializes
  *    runs eagerly inside it.
  *  - the single-action chain ([[chain]]) and the one checkpoint
  *    ([[Superstep.checkpoint]]).
  */
private[graph] final class Superstep private (val operand: DataFrame) {

  /** The operand hash-partitioned on `keys` and checkpointed: the
    * per-step join reads a co-partitioned leaf, so each superstep
    * re-shuffles only the iterate, never the edges. */
  def partitioned(keys: String*): DataFrame =
    Superstep.checkpoint(operand.repartition(keys.map(col): _*))

  /** Chain `iters` LAZY supersteps and materialize the whole chain
    * with ONE checkpoint: the driver pays one QueryExecution and one
    * job launch per kernel instead of per superstep (the round-13
    * event log showed ~0.25 s of driver-side fixed cost per iteration
    * over byte-tiny states on a 32-core host). Contract: `step`
    * consumes its iterate exactly ONCE and otherwise references only
    * checkpointed leaves, so the lazy plan grows LINEARLY in `iters`.
    * A recurrence that seems to need its iterate twice can often be
    * recast over a richer iterate: kcore iterates the live edge set,
    * whose two window counts give both endpoint degrees, instead of
    * the node membership it would join twice. Recurrences that really
    * read the iterate twice — HITS's global normalization, the
    * pointer-jumping self-join of
    * [[GraphAnalytics.pageRankAndComponentsDF]] — run their own loop
    * and checkpoint per round. */
  def chain(init: DataFrame, iters: Int)(step: DataFrame => DataFrame): DataFrame = {
    var cur = init
    var i = 0
    while (i < iters) { cur = step(cur); i += 1 }
    Superstep.checkpoint(cur)
  }
}

private[graph] object Superstep {

  /** Materialize `operand`, measure it (one job over the checkpointed
    * RDD; `Dataset.count` plans an aggregate whose exchange costs a
    * second job under AQE), and run `kernel` over it inside the sized
    * scope. The operand is materialized under the session's own conf:
    * its size is not known before. */
  def apply[A](operand: DataFrame)(kernel: Superstep => A): A = {
    val m = checkpoint(operand)
    val rows = m.queryExecution.toRdd.count()
    scoped(m.sparkSession, rows, 65536L)(kernel(new Superstep(m)))
  }

  /** Run `body` in the superstep scope sized for `rows` operand rows at
    * one task per `grain` rows — for the kernels whose loop is
    * data-dependent and that measure their operand themselves. */
  def scoped[A](spark: SparkSession, rows: Long, grain: Long)(body: => A): A = {
    val parts = math.max(4,
      math.min(spark.sparkContext.defaultParallelism, (rows / grain).toInt))
    val scope = Seq("spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> parts.toString)
    val saved = scope.map { case (k, _) => k -> spark.conf.get(k) }
    scope.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  /** Eagerly checkpoint `df`: cuts lineage and executes now, so the
    * caller's scope applies, keeping output partitioning and ordering.
    *
    * The checkpoint inherits the size Catalyst ESTIMATED for `df`, and
    * that estimate compounds: a join is estimated as the product of
    * its sides, so an iterate checkpointed after a self-join doubles
    * the estimate's bit length every round (the pointer-jumping loop
    * of [[GraphAnalytics.pageRankAndComponentsDF]] reached 21k bits
    * after 7 rounds, and after 27 the driver never left
    * `BigInteger.multiply`). The estimate is clamped at
    * `spark.sql.defaultSizeInBytes`, the size Spark assumes for a
    * relation it knows nothing about; every estimate below it is kept,
    * so no join choice changes. Checkpointed iterates are freed by the
    * context cleaner when unreferenced. */
  def checkpoint(df: DataFrame): DataFrame = {
    val c = df.localCheckpoint(true)
    val r = c.queryExecution.logical.asInstanceOf[org.apache.spark.sql.execution.LogicalRDD]
    val session = c.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val st = r.computeStats()
    val cap = BigInt(session.sessionState.conf.defaultSizeInBytes)
    if (st.sizeInBytes <= cap) c
    else org.apache.spark.sql.graftbridge.PlanBridge.ofRows(session,
      r.copy()(session, Some(st.copy(sizeInBytes = cap)), Some(r.constraints)))
  }

  /** (group, src, dst) → the symmetrized `(grp, a, b)` operand: every
    * edge in both directions, parallel and reversed edges merged. */
  def symmetric(edges: DataFrame): DataFrame =
    bothWays(edges.select(col("group").as("grp"),
      col("src").cast("long").as("a"), col("dst").cast("long").as("b"))).distinct()

  /** (group, src, dst, weight) → the symmetrized `(grp, a, b, w)`
    * operand, integer weights of parallel and reversed edges merged by
    * `merge` (sum for strength, min for distance). Edges without a
    * `group` column form one whole graph: `(a, b, w)`. */
  def symmetric(edges: DataFrame, merge: Column => Column): DataFrame = {
    val grp = if (edges.columns.contains("group")) Seq(col("group").as("grp")) else Nil
    val e = edges.select(grp ++ Seq(col("src").cast("long").as("a"),
      col("dst").cast("long").as("b"), col("weight").cast("long").as("w")): _*)
    bothWays(e).groupBy(e.columns.toIndexedSeq.filter(_ != "w").map(col): _*)
      .agg(merge(col("w")).as("w"))
  }

  private def bothWays(e: DataFrame): DataFrame =
    e.unionByName(e.select(e.columns.toIndexedSeq.map {
      case "a" => col("b").as("a")
      case "b" => col("a").as("b")
      case c => col(c)
    }: _*))

  /** The superstep's message pass: every node `a` gathers from its
    * neighbours `b` — join the iterate `(grp?, node, …)` on (grp, b),
    * group by (grp, a) — and aggregates with `aggs`. Output:
    * `(grp?, node, aggs…)`. */
  def neighbours(edges: DataFrame, it: DataFrame, aggs: Column*): DataFrame = {
    val grp = edges.columns.filter(_ == "grp").toSeq
    edges.join(it.withColumnRenamed("node", "b"), grp :+ "b")
      .groupBy(grp.map(col) :+ col("a").as("node"): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** The distinct `(grp, node)` vertex set of a grouped operand. */
  def vertices(sym: DataFrame): DataFrame =
    sym.select(col("grp"), col("a").as("node")).distinct()
}
