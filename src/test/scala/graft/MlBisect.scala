package graft

import graft.graph.GraphBuild
import graft.ml.InteractionModel
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Scratch harness (test scope, not shipped): bisect the nested-CV
  * flag/depth space on the reference benchmark data to find the
  * configuration that honestly reaches the published AUC band.
  * Run: sbt "Test/runMain graft.MlBisect"
  */
object MlBisect {
  def main(args: Array[String]): Unit = {
    val spark = Session.build(32)
    spark.sparkContext.setLogLevel("WARN")

    val bset = "/root/reference/data/BenchmarkingSet"
    val vset = "/root/reference/data/ValidationSet"
    val evSchema = new StructType()
      .add("c0", StringType).add("c1", StringType).add("c2", DoubleType)
    def tsv(path: String) = spark.read.option("sep", "\t").schema(evSchema).csv(path)
    def bacteriaFirst(path: String) = tsv(path)
      .select(col("c0").as("b"), col("c1").as("p"), col("c2").as("s"))
    def phageFirst(path: String) = tsv(path)
      .select(col("c1").as("b"), col("c0").as("p"), col("c2").as("s"))
    val bacteriaId = spark.read.option("sep", "\t").option("header", "true")
      .csv(s"$vset/BacteriaID.tsv")
    val raw = tsv(s"$vset/InteractionsRaw.tsv")
    val interactions = bacteriaId.join(raw, col("PhageHit") === col("c1"))
      .select(col("c0").as("p"), col("SpecificBacterialID").as("b"), col("c2").as("s"))
    val graph = GraphBuild.fromEvidence(
      crispr = bacteriaFirst(s"$bset/BenchmarkCrisprsFormat.tsv"),
      prophage = phageFirst(s"$bset/BenchmarkProphagesFormat.tsv"),
      blastx = bacteriaFirst(s"$bset/MatchesByBlastxFormatOrder.tsv"),
      pfam = bacteriaFirst(s"$bset/PfamInteractionsFormatScoredFlip.tsv"),
      interactions = interactions)
    val truthPairs = interactions.select(
      GraphBuild.sanitizeName(col("p")).as("phage"),
      GraphBuild.sanitizeName(col("b")).as("bacteria"))
    val labeled = graph.edges.join(
        graph.nodes.select(col("id").as("src"), col("name").as("phage")), "src")
      .join(graph.nodes.select(col("id").as("dst"), col("name").as("bacteria")), "dst")
      .join(truthPairs, Seq("phage", "bacteria"), "left_semi")
      .cache()
    println(s"labeled rows: ${labeled.count()}")

    case class Cfg(name: String, strat: Boolean, filt: Boolean, tune: Boolean,
        depth: Int, iters: Int)
    val cfgs = Seq(
      Cfg("strat+filt+tune d30 i25", strat = true, filt = true, tune = true, 30, 25),
      Cfg("strat+filt+tune d30 i9 ", strat = true, filt = true, tune = true, 30, 9),
      Cfg("strat+tune      d30 i9 ", strat = true, filt = false, tune = true, 30, 9))
    for (c <- cfgs) {
      val t0 = System.nanoTime()
      val res = InteractionModel.nestedCv(labeled, iterations = c.iters, numTrees = 500,
        stratified = c.strat, trainEvidenceFilter = c.filt, tuneMtry = c.tune,
        maxDepth = c.depth)
      val aucs = res.map(_("auc")).sorted
      val med = aucs(aucs.length / 2)
      println(f"${c.name}: median $med%.3f  [${aucs.map(a => f"$a%.3f").mkString(" ")}]" +
        f"  (${(System.nanoTime() - t0) / 1e9}%.0f s)")
    }
    spark.stop()
  }
}
