package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Property-graph over two DataFrames — the Spark-native replacement
  * for the reference's Neo4j 2.3 store (SURVEY §1.1).
  *
  * `nodes`: (id: Long, name: String, kind: String, …typed props).
  * `edges`: (src: Long, dst: Long, relType: String, …typed props).
  *
  * The reference's label-as-unique-index idiom (reference
  * bin/BenchmarkDatabaseCreation.pl:103-105, set_labels at :114) is an
  * equality predicate on `name`/`kind` here; Cypher value-injected
  * labels ((x:SRP002424), reference bin/GetSkinGraphs.R:56-61) become
  * plain filters. All property values are typed columns, not strings —
  * a deliberate deviation from the reference's string-typed numerics
  * (SURVEY §1.1 "semantics trap").
  *
  * Scale: nodes and edges are plain columnar tables — partitioned by
  * `relType`/hash(src) at write time, pruned and pushed down by
  * Catalyst like any other table. Multi-hop traversals compile to
  * equi-joins (see [[Motif]]), so the 100 TB plan is the relational
  * plan: broadcast the dimension side, shuffle facts once per hop key.
  */
final case class PropertyGraph(nodes: DataFrame, edges: DataFrame) {

  /** GraphFrames-style motif finder: compiles a Cypher-ish pattern
    * like `(s:SampleID)-[d:Sampled]->(p:Phage); (p)-[r:Infects]->(b)`
    * into the §3.3 join plan. Returned columns are `<var>_<attr>` for
    * every named element. Chains that share no variable would compile
    * to a cartesian product — at 100 TB a typo'd variable name must
    * fail loudly, so that is an error unless `allowCross = true`. */
  def find(pattern: String, allowCross: Boolean = false): DataFrame =
    Motif.compile(this, pattern, allowCross)

  /** Degree table: (id, inDeg, outDeg, deg) via a single agg each —
    * no graph materialization needed for degree-family metrics. */
  def degrees: DataFrame = {
    val out = edges.groupBy(col("src").as("id")).agg(count(lit(1)).as("outDeg"))
    val in  = edges.groupBy(col("dst").as("id")).agg(count(lit(1)).as("inDeg"))
    out.join(in, Seq("id"), "full_outer").na.fill(0)
      .withColumn("deg", col("inDeg") + col("outDeg"))
  }

  /** G20 — schema introspection (reference
    * bin/RenderGraphArchitecture.R:63-67 `RETURN n.type, m.type,
    * keys(n)`): distinct (srcKind, relType, dstKind) triples with
    * counts — the graph's architecture diagram as a table. */
  def describe: DataFrame = {
    val kinds = nodes.select(col("id"), col("kind"))
    edges
      .join(kinds.select(col("id").as("src"), col("kind").as("srcKind")), "src")
      .join(kinds.select(col("id").as("dst"), col("kind").as("dstKind")), "dst")
      .groupBy("srcKind", "relType", "dstKind")
      .agg(count(lit(1)).as("n_edges"))
  }

  /** S9/S12 — persist the graph as parquet tables, edges partitioned
    * by relType so per-relationship traversals prune at the file level
    * (the scan for one hop type never touches the others). */
  def save(basePath: String): Unit = {
    nodes.write.mode("overwrite").parquet(s"$basePath/nodes")
    edges.write.mode("overwrite").partitionBy("relType")
      .parquet(s"$basePath/edges")
  }

  /** Undirected, deduplicated edge view (G2 `simplify`: drop
    * self-loops + parallel edges; reference bin/TriadicClosures.R:45). */
  def simplifiedUndirected: DataFrame =
    edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b"))
      .distinct()
}

object PropertyGraph {
  /** Load a graph persisted by [[PropertyGraph.save]]. */
  def load(spark: org.apache.spark.sql.SparkSession, basePath: String): PropertyGraph =
    PropertyGraph(spark.read.parquet(s"$basePath/nodes"),
      spark.read.parquet(s"$basePath/edges"))
}

/** Pattern compiler. Grammar per chain (chains separated by `;`):
  *   chain   := node (edge node)*
  *   node    := '(' var (':' kind)? ')'
  *   edge    := '-[' var? (':' relType)? ']->'  |  '<-[' var? (':' relType)? ']-'
  * Node vars repeated across chains/triples unify (same id).
  */
object Motif {
  private val NodeRe = """\(\s*([A-Za-z_][A-Za-z0-9_]*)?\s*(?::\s*([A-Za-z0-9_']+)\s*)?\)""".r
  private val EdgeRe = """(<?-)\[\s*([A-Za-z_][A-Za-z0-9_]*)?\s*(?::\s*([A-Za-z0-9_]+)\s*)?\]\s*(->?)""".r

  private case class NodeRef(v: String, kind: Option[String])
  private case class Hop(src: NodeRef, edgeVar: String, relType: Option[String], dst: NodeRef)

  private def parse(pattern: String): Seq[Hop] = {
    var anon = 0
    def fresh(prefix: String): String = { anon += 1; s"__${prefix}$anon" }
    pattern.split(";").toSeq.flatMap { chain =>
      val nodes = NodeRe.findAllMatchIn(chain).map { m =>
        NodeRef(Option(m.group(1)).getOrElse(fresh("n")), Option(m.group(2)))
      }.toSeq
      val dirs = EdgeRe.findAllMatchIn(chain).map { m =>
        val leftArrow  = m.group(1) == "<-"
        val edgeVar    = Option(m.group(2)).getOrElse(fresh("e"))
        (leftArrow, edgeVar, Option(m.group(3)))
      }.toSeq
      require(nodes.size == dirs.size + 1,
        s"malformed motif chain: '$chain' (${nodes.size} nodes, ${dirs.size} edges)")
      dirs.zipWithIndex.map { case ((leftArrow, ev, rt), i) =>
        if (leftArrow) Hop(nodes(i + 1), ev, rt, nodes(i))
        else Hop(nodes(i), ev, rt, nodes(i + 1))
      }
    }
  }

  def compile(g: PropertyGraph, pattern: String,
      allowCross: Boolean = false): DataFrame = {
    val hops = parse(pattern)
    require(hops.nonEmpty, s"empty motif pattern: '$pattern'")

    // one edge-scan per hop, columns renamed to <var>_<attr>
    def hopDF(h: Hop): DataFrame = {
      val base = h.relType.fold(g.edges)(rt => g.edges.filter(col("relType") === rt))
      val props = base.columns.filterNot(Set("src", "dst").contains)
        .map(c => col(c).as(s"${h.edgeVar}_$c"))
      base.select(Seq(col("src").as(s"${h.src.v}_id"), col("dst").as(s"${h.dst.v}_id")) ++ props: _*)
    }

    // join hops left-to-right on shared node-id columns; a hop that
    // shares no variable with what came before is a cartesian product
    // — refused by default (a typo'd variable at 100 TB must fail at
    // compile, not at runtime), opt-in via allowCross as in Cypher
    def vars(df: DataFrame): Seq[String] =
      df.columns.filter(_.endsWith("_id")).map(_.stripSuffix("_id")).toSeq
    val joined = hops.map(hopDF).reduce { (acc, next) =>
      val shared = acc.columns.toSet.intersect(next.columns.toSet).toSeq
      if (shared.nonEmpty) acc.join(next, shared)
      else if (allowCross) acc.crossJoin(next)
      else throw new IllegalArgumentException(
        s"disconnected motif chains: variables ${vars(acc).sorted.mkString("{", ", ", "}")} " +
          s"and ${vars(next).sorted.mkString("{", ", ", "}")} share none — " +
          "this compiles to a cartesian product; pass allowCross=true if intentional")
    }

    // attach node attributes + kind predicates for every named node var
    val nodeRefs = hops.flatMap(h => Seq(h.src, h.dst))
      .groupBy(_.v).map { case (v, refs) => NodeRef(v, refs.flatMap(_.kind).headOption) }
    nodeRefs.filterNot(_.v.startsWith("__")).foldLeft(joined) { (acc, n) =>
      val filtered = n.kind.fold(g.nodes)(k => g.nodes.filter(col("kind") === k))
      val attrs = filtered.columns.filterNot(_ == "id").map(c => col(c).as(s"${n.v}_$c"))
      acc.join(filtered.select(Seq(col("id").as(s"${n.v}_id")) ++ attrs: _*), s"${n.v}_id")
    }
  }
}
