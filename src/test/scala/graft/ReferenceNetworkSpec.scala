package graft

import graft.graph.{GraphAnalytics, GraphBuild}
import graft.ml.InteractionModel
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** End-to-end "master network" slice on the reference's own shipped
  * study data (SURVEY §7 acceptance; reference Makefile targets
  * `expnetwork` → `./data/PredictedRelationshipTable.tsv` →
  * `finalrelationships`): build the study evidence graph, train the
  * interaction RF on the benchmark set, predict over every candidate
  * edge, and compute the network stats the reference publishes in
  * rtables/nestats.tsv + rtables/genfigurestats.tsv (435 nodes =
  * 155 phage + 280 bacteria, 38,337 edges, diameter 4, radius 2 —
  * bin/VisualizeNetwork.R:157-196).
  *
  * The published numbers themselves are NOT reproducible from the
  * shipped checkout — four inputs of the reference's run are absent:
  *   - the "Clustered" evidence under data/ViromeAgainstReferenceBacteria (the
  *     CD-HIT cluster-collapsed evidence the graph was built from;
  *     Makefile:403,467-474) — only the UNclustered contig-level
  *     evidence ships in data/RunPhageBacteriaModel/;
  *   - the contig→cluster membership map (ClusterContigScores.sh $7/$8)
  *     that would let us collapse to the 155/280 cluster nodes;
  *   - data/RunPhageBacteriaModel/BenchmarkCrisprsFormat.tsv is empty
  *     and MatchesByBlastxFormatOrder.tsv is not shipped at all;
  *   - the trained caret model only as an R serialization
  *     (data/rfinteractionmodel.RData), unreadable outside R.
  * So this spec pins OUR deterministic numbers for the same lifecycle
  * on the shipped contig-level evidence, asserting the published
  * SHAPE (bipartite, connected, small diameter) exactly, and records
  * the published values in the assertions' messages for comparison.
  */
class ReferenceNetworkSpec extends SparkSpec {

  private val runDir = "/root/reference/data/RunPhageBacteriaModel"
  private val bset = "/root/reference/data/BenchmarkingSet"
  private val vset = "/root/reference/data/ValidationSet"
  private def available = new java.io.File(runDir).isDirectory

  private val evSchema = new StructType()
    .add("c0", StringType).add("c1", StringType).add("c2", DoubleType)

  private def tsv(path: String) =
    spark.read.option("sep", "\t").schema(evSchema).csv(path)

  private def emptyEv: DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], evSchema)

  /** Study evidence (contig-level, bacteria-first as the *Flip files
    * ship): prophage blast hits as-is; Pfam rows are ORF-level
    * (`contig-100_88..._3` = ORF 3 of the contig) so the trailing ORF
    * index is stripped to the contig before the mean gene-score
    * collapse, mirroring ClusterContigScores.sh's annotate-then-
    * CollapseGeneScores.R flow at contig (not cluster) granularity. */
  private lazy val studyGraph = {
    val prophage = tsv(s"$runDir/BenchmarkProphagesFormatFlip.tsv")
    val pfam = tsv(s"$runDir/PfamInteractionsFormatScoredFlip.tsv")
      .select(col("c0"), regexp_replace(col("c1"), "_\\d+$", "").as("c1"), col("c2"))
    GraphBuild.fromEvidence(
      crispr = emptyEv, prophage = prophage, blastx = emptyEv,
      pfam = pfam, interactions = emptyEv.select(col("c1"), col("c0"), col("c2")))
  }

  /** Benchmark-set training graph — same construction as
    * ReferenceDataSpec (the reference trains on lab-validated pairs,
    * bin/CalculatePredModel.R:181-209). */
  private lazy val trainingEdges = {
    def bacteriaFirst(path: String) = tsv(path)
      .select(col("c0").as("b"), col("c1").as("p"), col("c2").as("s"))
    def phageFirst(path: String) = tsv(path)
      .select(col("c1").as("b"), col("c0").as("p"), col("c2").as("s"))
    val bacteriaId = spark.read.option("sep", "\t").option("header", "true")
      .csv(s"$vset/BacteriaID.tsv")
    val raw = tsv(s"$vset/InteractionsRaw.tsv")
    val interactions = bacteriaId.join(raw, col("PhageHit") === col("c1"))
      .select(col("c0").as("p"), col("SpecificBacterialID").as("b"), col("c2").as("s"))
    val g = GraphBuild.fromEvidence(
      crispr = bacteriaFirst(s"$bset/BenchmarkCrisprsFormat.tsv"),
      prophage = phageFirst(s"$bset/BenchmarkProphagesFormat.tsv"),
      blastx = bacteriaFirst(s"$bset/MatchesByBlastxFormatOrder.tsv"),
      pfam = bacteriaFirst(s"$bset/PfamInteractionsFormatScoredFlip.tsv"),
      interactions = interactions)
    val truthPairs = interactions.select(
      GraphBuild.sanitizeName(col("p")).as("phage"),
      GraphBuild.sanitizeName(col("b")).as("bacteria"))
    g.edges
      .join(g.nodes.select(col("id").as("src"), col("name").as("phage")), "src")
      .join(g.nodes.select(col("id").as("dst"), col("name").as("bacteria")), "dst")
      .join(truthPairs, Seq("phage", "bacteria"), "left_semi")
      // deterministic partition content + order so the seeded RF
      // subsample draws identically on every run
      .repartition(4, col("phage"), col("bacteria"))
      .sortWithinPartitions("phage", "bacteria")
  }

  test("evidence -> train -> predict -> network stats on the reference's study data") {
    assume(available)
    val ev = studyGraph.edges.cache()
    val nPhage = studyGraph.nodes.filter(col("kind") === "Phage").count()
    val nBact = studyGraph.nodes.filter(col("kind") === "Bacterial_Host").count()
    val nEv = ev.count()
    info(s"study evidence graph: $nPhage phage contigs, $nBact bacteria, $nEv evidence edges")

    val model = InteractionModel.train(
      InteractionModel.features(trainingEdges), numTrees = 500, seed = 42L)
    val predicted = InteractionModel.scoreAndWriteBack(model, ev)
      .filter(col("predictedInteraction") === "Interacts").cache()
    val nPred = predicted.count()
    info(s"predicted Interacts edges: $nPred")

    val metrics = GraphAnalytics.perGroupMetrics(
      predicted.select(lit("all").as("group"), col("src"), col("dst"),
        lit(1.0).as("weight"))).head()
    val nNodes = metrics.getAs[Int]("nNodes")
    val nEdges = metrics.getAs[Int]("nEdges")
    val diameter = metrics.getAs[Int]("diameter")
    val radius = metrics.getAs[Int]("radius")
    info(s"predicted network: nodes=$nNodes edges=$nEdges diameter=$diameter radius=$radius")

    // bipartite shape: every predicted edge is phage -> bacteria
    val kinds = studyGraph.nodes.select(col("id"), col("kind"))
    val badOrient = predicted
      .join(kinds.select(col("id").as("src"), col("kind").as("srcKind")), "src")
      .join(kinds.select(col("id").as("dst"), col("kind").as("dstKind")), "dst")
      .filter(col("srcKind") =!= "Phage" || col("dstKind") =!= "Bacterial_Host")
      .count()
    assert(badOrient == 0, "predicted network must stay bipartite phage->bacteria")

    // published master network: 435 nodes (155 phage + 280 bacteria),
    // 38,337 edges, diameter 4, radius 2 — not reproducible without the
    // unshipped cluster maps; ours is the same lifecycle at contig
    // granularity, so assert the published SHAPE and pin our
    // deterministic values as regression goldens.
    assert(nPhage == 663 && nBact == 108 && nEv == 5136,
      s"evidence graph drifted: $nPhage/$nBact/$nEv (expected 663/108/5136)")
    assert(nPred == 4673, s"predicted edge count drifted: $nPred (expected 4673)")
    assert(nNodes == 703 && nEdges == 4673,
      s"predicted network drifted: $nNodes/$nEdges (expected 703/4673)")
    assert(diameter == 7 && radius == 1,
      s"diameter/radius drifted: $diameter/$radius (expected 7/1; published " +
        "cluster-level network: 4/2)")
  }

  /** The interstats tail (reference bin/interpersonaldiversity.R:95-160
    * → rtables/interstats.tsv) on the REAL shipped abundance data:
    * per-sample rarefaction → per-sample subgraph eigencentrality →
    * Bray-Curtis → intra-vs-interpersonal paired Wilcoxon + the
    * KDE-CDF-below-zero statistic — the exact published mechanics
    * (published: Skin p = 4.41768710659578e-14, Diet p = 0.125,
    * Twins p = 0.546875; interstats.tsv:2-4).
    *
    * The published p-values themselves are NOT recomputable from the
    * checkout: interstats ran on the diet (SRP002424) and skin
    * (SRP049645) cohorts' per-sample graphs, but the one shipped
    * abundance table (ContigRelAbundForNetwork.tsv) is the ERP008725
    * cohort with ONE sample per subject — no intra-personal pairs
    * exist in shipped data (same gap ReferenceNetworkSpec documents
    * for nestats). The intra class here is therefore two SEEDED
    * RAREFACTION REPLICATES of each real sample — same person,
    * independent subsampling — which carries the published claim's
    * testable core on real data: within-person network distance
    * (subsampling noise) must sit far below between-person distance,
    * through the same engine path the q72/q73 gates run. A broken
    * eigencentrality, Bray-Curtis, ranking or KDE would destroy the
    * separation; the direction + significance band is asserted, the
    * published values are named for comparison. */
  test("interpersonal-diversity tail on real abundances: intra (replicate) vs inter " +
      "separation (published skin p=4.42e-14, diet 0.125, twins 0.547)") {
    assume(available)
    import graft.stats.EcoStats
    val abSchema = new StructType()
      .add("contig", StringType).add("count", LongType).add("sample", StringType)
    val removal = spark.read.option("sep", "\t")
      .schema(new StructType().add("contig", StringType))
      .csv("/root/reference/data/contigclustersidentity/bacterialremoval-clusters-list.tsv")
    val ab = spark.read.option("sep", "\t").schema(abSchema)
      .csv(s"$runDir/ContigRelAbundForNetwork.tsv")
      .join(removal, Seq("contig"), "left_anti") // interpersonaldiversity.R:47-52
      .select(col("sample").as("group"),
        GraphBuild.sanitizeName(col("contig")).as("item"), col("count"))
    // rarefy every sample to the cohort min depth (R:55-76), TWICE
    // with independent seeds — the replicate pair is the intra class
    val depth = ab.groupBy("group").agg(sum("count").as("t"))
      .agg(min("t")).head().getLong(0)
    info(s"rarefaction depth (min sample total): $depth")
    val reps = Seq(1, 2).map { r =>
      graft.operators.Sampling.rarefy(ab, depth, seed = 40L + r)
        .select(concat(col("group"), lit(s"_r$r")).as("group"), col("item"))
    }.reduce(_ unionByName _)
    // per-replicate subgraph: study evidence edges whose phage contig
    // was drawn in that replicate (R: sampled nodes induce the graph)
    val phageNames = studyGraph.nodes
      .select(col("id").as("src"), col("name").as("item"))
    val grpEdges = studyGraph.edges.join(phageNames, "src")
      .join(reps, Seq("item"))
      .select(col("group"), col("src"), col("dst"), lit(1.0).as("weight"))
    val eigen = GraphAnalytics.perGroupEigen(grpEdges)
      .select(col("group"), col("id").as("item"), col("eigen").as("value"))
    val bc = GraphAnalytics.brayCurtis(eigen).collect()
    val subj = (g: String) => g.substring(0, g.lastIndexOf("_r"))
    // ravg mechanics (R:126-133): per subject, mean intra vs mean inter
    val bySubj = bc.flatMap { r =>
      val (g1, g2, d0) = (r.getString(0), r.getString(1), r.getDouble(2))
      val cls = if (subj(g1) == subj(g2)) "intra" else "inter"
      Seq((subj(g1), cls, d0), (subj(g2), cls, d0))
    }.groupBy(t => (t._1, t._2)).map { case ((s0, c), xs) =>
      (s0, c, xs.map(_._3).sum / xs.length)
    }.toSeq
    // keep subjects present in BOTH classes (a replicate whose drawn
    // contigs carry no evidence edge yields no eigen profile)
    val subjects = bySubj.map(_._1).distinct.sorted.filter(s0 =>
      bySubj.exists(t => t._1 == s0 && t._2 == "intra") &&
        bySubj.exists(t => t._1 == s0 && t._2 == "inter"))
    val intra = subjects.map(s0 => bySubj.find(t => t._1 == s0 && t._2 == "intra").get._3).toArray
    val inter = subjects.map(s0 => bySubj.find(t => t._1 == s0 && t._2 == "inter").get._3).toArray
    val (w, p) = EcoStats.wilcoxonSignedRank(intra, inter)
    val slopes = intra.zip(inter).map { case (a, b) => a - b }
    val kde = EcoStats.kdeCdfBelowZero(slopes)
    info(f"subjects=${subjects.length} intraMean=${intra.sum / intra.length}%.4f " +
      f"interMean=${inter.sum / inter.length}%.4f W=$w%.1f p=$p%.3g kdeBelow0=$kde%.4f")
    assert(subjects.length >= 40, s"expected the 46-sample cohort, got ${subjects.length}")
    assert(intra.sum / intra.length < inter.sum / inter.length,
      "within-person (replicate) distance must sit below between-person distance")
    assert(p < 0.01, f"paired Wilcoxon p=$p%.3g — expected the skin-like " +
      "significance band (published skin p=4.42e-14), not the twins null (0.547)")
    assert(kde > 0.9, f"KDE CDF below zero $kde%.4f — the intrapersonal-change " +
      "distribution must sit below zero (interpersonaldiversity.R:141-145)")
  }
}
