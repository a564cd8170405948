package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** ANN tier-selection sweep — the reproducible measurement behind
  * SCALE.md's "which tier at which recall target" table. For each
  * tier (brute / LSH / IVF / PQ+ADC rerank / persisted residual
  * IVF-PQ) and each knob setting, measures wall time and recall@k
  * against the exact answer UNDER THAT TIER'S OWN METRIC (cosine for
  * LSH/IVF, L2 for the PQ family — conflating metric mismatch with
  * tier error would misstate recall). Run:
  *   SPARK_GRAFT_SF_DIR=... sbt "Test/runMain graft.AnnSweep"
  * Prints one markdown row per configuration.
  */
object AnnSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("WARN")
    import graft.operators.Similarity

    val k = 10
    val nQ = 100
    val emb = Tables.embeddings(spark, sfDir).cache()
    val nCorpus = emb.count()
    val queries = emb.where(col("vec_id") < nQ)

    def pairs(df: DataFrame): Map[Long, Set[Long]] = df
      .where(col("query_id") < nQ)
      .select(col("query_id").cast("long"), col("neighbor_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }

    def recallVs(truth: Map[Long, Set[Long]], got: Map[Long, Set[Long]]): Double = {
      val per = truth.map { case (q, t) =>
        got.getOrElse(q, Set.empty).count(t).toDouble / t.size }
      per.sum / per.size
    }

    var rows = List.empty[String]
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }
    def report(tier: String, knob: String, sec: Double, recall: Double,
        note: String): Unit = {
      val line = f"| $tier | $knob | $sec%.2f | ${recall * 100}%.1f%% | $note |"
      println("SWEEP " + line)
      rows ::= line
    }

    // exact truths: cosine (LSH/IVF's metric) and L2 (PQ family's)
    val l2: (Column, Column) => Column = (q, c) =>
      -aggregate(zip_with(q, c, (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, x) => acc + x)
    val (cosTruth, tBruteCos) = time(pairs(
      Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", k)))
    report("brute (cosine)", "—", tBruteCos, 1.0, "exact; O(|Q|·|C|·d) broadcast-query scan")
    val (l2Truth, tBruteL2) = time(pairs(
      Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", k, scorer = l2)))
    report("brute (L2)", "—", tBruteL2, 1.0, "exact; the PQ family's reference metric")

    for (nPlanes <- Seq(4, 6, 8)) {
      val (got, t) = time(pairs(Similarity.lshTopK(emb, "vec_id", "embedding",
        nPlanes = nPlanes, dim = 64, k = k)))
      report("LSH (hyperplane buckets)", s"nPlanes=$nPlanes", t,
        recallVs(cosTruth, got),
        s"bucket self-join; 2^$nPlanes buckets, whole-corpus shape")
    }

    for (nProbe <- Seq(1, 2, 4, 8, 16)) {
      val (got, t) = time(pairs(Similarity.ivfTopK(queries, emb, "vec_id",
        "embedding", nCentroids = 16, nProbe = nProbe, k = k)))
      report("IVF (16 centroids)", s"nProbe=$nProbe", t,
        recallVs(cosTruth, got), "train+assign+probe, cosine")
    }

    val (model, tTrain) = time(Similarity.pqTrain(emb, "vec_id", "embedding",
      m = 8, k = 16, refineIters = 1))
    val (codes, tEnc) = time {
      val c = Similarity.pqEncode(emb, "vec_id", "embedding", model)
        .localCheckpoint(true)
      c
    }
    report("PQ train+encode (m=8,k=16)", "one-time", tTrain + tEnc, Double.NaN,
      "amortized over every later query")
    for (shortlist <- Seq(1, 2, 5, 10)) {
      val (got, t) = time(pairs(Similarity.pqAdcTopKReranked(queries, codes,
        emb, "vec_id", "embedding", model, k = k, shortlist = shortlist)))
      report("PQ/ADC + exact rerank", s"shortlist=${shortlist}x", t,
        recallVs(l2Truth, got), "code-table scan, candidate-bounded rerank")
    }

    val idxDir = java.nio.file.Files.createTempDirectory("graft-annsweep")
      .toString + "/idx"
    val (_, tBuild) = time(graft.operators.AnnIndex.build(emb, "vec_id",
      "embedding", idxDir, nCentroids = 16, m = 8, k = 16))
    report("residual IVF-PQ index build", "one-time", tBuild, Double.NaN,
      "persisted, cid-partitioned; appends never rebuild")
    for (nProbe <- Seq(1, 2, 4, 8, 16)) {
      val (got, t) = time(pairs(graft.operators.AnnIndex.probe(queries,
        "vec_id", "embedding", idxDir, nProbe = nProbe, k = k)))
      report("residual IVF-PQ probe", s"nProbe=$nProbe", t,
        recallVs(l2Truth, got), "partition-pruned ADC over persisted code lists")
    }
    for (nProbe <- Seq(4, 8, 16); shortlist <- Seq(5, 10)) {
      val (got, t) = time(pairs(graft.operators.AnnIndex.probeReranked(
        queries, emb, "vec_id", "embedding", idxDir, nProbe = nProbe,
        k = k, shortlist = shortlist)))
      report("residual IVF-PQ probe + rerank",
        s"nProbe=$nProbe,short=${shortlist}x", t,
        recallVs(l2Truth, got), "ADC shortlist, candidate-bounded exact rerank")
    }

    println(s"SWEEP corpus=$nCorpus dim=64 queries=$nQ k=$k sf=$sfDir")
    println("SWEEP | tier | knob | sec | recall@10 | notes |")
    println("SWEEP |---|---|---|---|---|")
    rows.reverse.foreach(r => println("SWEEP " + r))
    spark.stop()
  }
}
