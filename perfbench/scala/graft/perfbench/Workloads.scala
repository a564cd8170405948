package graft.perfbench

import graft.SparkEntry
import graft.queries.AnalyticsQueries
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** What an op's timed call produced: result rows to digest, or nothing
  * (a write whose effect later reads check). */
sealed trait Out
final case class Rows(columns: Seq[String], data: Array[Row]) extends Out
case object Done extends Out

/** How an op's output is checked, outside its timing.
  *  - Oracle: digest equals the digest oracle.py computes with DuckDB over
  *    the same generated inputs (once per seed): a gate's oracle SQL, or
  *    the benchmark's own model of the op;
  *  - Pinned: ops with no DuckDB oracle. On the check seed's inputs the
  *    digest equals the one pinned in perfbench/pinned.json; on other
  *    inputs it equals the digest of the op's first run in this process;
  *  - NoCheck: writes, checked by the reads and end-of-pass checks. */
sealed trait Check
final case class Oracle(key: String) extends Check
case object Pinned extends Check
case object NoCheck extends Check

/** One operation: a call into one module plus the action on its result.
  * `layer.metric` names the per-layer metric its span feeds; `klass`
  * groups ops of identical work shape for latency percentiles. */
final case class Op(name: String, layer: String, metric: String,
    klass: String, check: Check, body: () => Out)

/** The current session: each set-up in a run builds a new one. */
final class Ctx(var spark: SparkSession)

trait Workload {
  /** Input registration and warm-up of the workload's shared memo keys. */
  def warm(): Unit
  /** Untimed reset before each pass. */
  def beforePass(): Unit = ()
  /** The pass, in order. */
  def ops: Seq[Op]
  /** Results checked after a pass, untimed: (oracle key, rows). */
  def afterPass(): Seq[(String, Rows)] = Nil
  /** Extra figures for a traced run's record, taken at run end. */
  def extra(): Map[String, Double] = Map.empty
}

object Workloads {
  def collect(df: DataFrame): Rows = Rows(df.columns.toSeq, df.collect())

  private def spec(name: String) =
    SparkEntry.specs.find(_.name == name).getOrElse(sys.error(s"no gate $name"))

  /** A gate run through QuerySpec.run, checked against its oracle SQL,
    * or, when `pinned` (its oracle is pinned to other inputs), as Pinned. */
  def gate(ctx: Ctx, dir: String, name: String, layer: String,
      metric: String, pinned: Boolean = false): Op = {
    val q = spec(name)
    Op(name, layer, metric, name, if (pinned) Pinned else Oracle(name),
      () => collect(q.run(ctx.spark, dir)))
  }

  def apply(name: String, ctx: Ctx, dir: String, work: String): Workload =
    name match {
      case "paper_pipeline" => new PaperPipeline(ctx, dir)
      case "ingest_merge" => new IngestMerge(ctx, dir, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  def register(spark: SparkSession, dir: String, tables: Seq[String]): Unit =
    tables.foreach(t => spark.read.parquet(s"$dir/$t.parquet").createOrReplaceTempView(t))

  val Tpch = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
}

/** The paper's chain, read-only and in the paper's order: a join and
  * aggregate over the evidence tables, RF interaction model over the
  * evidence graph, a superstep kernel over the per-sample subgraphs,
  * Bray-Curtis ecology statistics. Run at sf0.01, where each
  * op's fixed cost (planning, jobs) dominates, as it already does at
  * sf0.1. */
final class PaperPipeline(ctx: Ctx, dir: String) extends Workload {
  import Workloads._
  private def spark = ctx.spark

  def warm(): Unit = {
    register(spark, dir, Tpch)
    graft.queries.PipelineQueries.warmShared(spark, dir) // the evidence edge table
    AnalyticsQueries.groupEdges(spark, dir).count()
  }

  def ops: Seq[Op] = Seq(
    gate(ctx, dir, "q03_join_agg", "queries", "self_s"),
    gate(ctx, dir, "q84_rf_model_metrics", "ml", "self_s", pinned = true),
    gate(ctx, dir, "q118_kcore", "graph", "superstep_s"),
    gate(ctx, dir, "q53_bray_curtis", "stats", "self_s"))
}
