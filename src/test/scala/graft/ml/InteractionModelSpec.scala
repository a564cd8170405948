package graft.ml

import graft.SparkSpec
import org.apache.spark.sql.functions._

class InteractionModelSpec extends SparkSpec {
  import spark.implicits._

  /** Separable synthetic evidence: interacting pairs have high scores. */
  private def edges = {
    val rng = new scala.util.Random(7)
    val rows = (1 to 400).map { i =>
      val pos = i % 2 == 0
      def sc(hi: Double) =
        if (pos) hi + rng.nextDouble() * 20 else rng.nextDouble() * 30
      (s"phage_$i", s"bact_${i % 50}", sc(80), sc(300), sc(70), sc(90), pos)
    }
    rows.toDF("phage", "bacteria", "crispr", "blast", "blastx", "pfam", "interaction")
  }

  test("RF separates the synthetic evidence (AUC > 0.9) and is seed-stable") {
    val data = InteractionModel.features(edges)
    val m1 = InteractionModel.train(data, numTrees = 50, seed = 42)
    val m2 = InteractionModel.train(data, numTrees = 50, seed = 42)
    val e1 = InteractionModel.evaluate(m1, data)
    assert(e1("auc") > 0.9, s"auc=${e1("auc")}")
    assert(e1("sensitivity") > 0.8 && e1("specificity") > 0.8)
    // same seed + same data → identical forests (uid line differs)
    def trees(s: String) = s.linesIterator.drop(1).mkString("\n")
    assert(trees(m1.toDebugString) == trees(m2.toDebugString))
  }

  test("nested CV returns per-iteration metrics with sane ranges") {
    val res = InteractionModel.nestedCv(edges, iterations = 3, numTrees = 30)
    assert(res.length == 3)
    res.foreach { m =>
      assert(m("auc") > 0.8 && m("auc") <= 1.0)
    }
  }

  test("RF transform still serializes after the session created an Observation") {
    // hitsExactScaled collects its normalizer through Observation(),
    // which materializes the session's non-serializable observation
    // manager; a model that kept its training summary (which holds the
    // session) then failed every transform with "Task not serializable"
    val star = Seq((1L, 9L), (2L, 9L), (3L, 9L)).toDF("src", "dst")
    graft.graph.GraphAnalytics.hitsExactScaled(star, iters = 2).collect()
    val res = InteractionModel.nestedCv(edges, iterations = 1, numTrees = 10)
    assert(res.length == 1 && res.head("auc") > 0.8, s"nested CV: $res")
  }

  test("scoreAndWriteBack labels candidates and keeps zero-evidence rows out") {
    val withZero = edges.union(
      Seq(("phage_z", "bact_z", 0.0, 0.0, 0.0, 0.0, false))
        .toDF("phage", "bacteria", "crispr", "blast", "blastx", "pfam", "interaction"))
    val model = InteractionModel.train(InteractionModel.features(edges), 50)
    val out = InteractionModel.scoreAndWriteBack(model, withZero)
    assert(out.filter(col("phage") === "phage_z").count() == 0)
    assert(out.select("predictedInteraction").distinct().collect()
      .map(_.getString(0)).toSet.subsetOf(Set("Interacts", "NotInteracts")))
    // high-evidence rows mostly predicted Interacts
    val acc = out.withColumn("ok",
      (col("interaction") && col("predictedInteraction") === "Interacts") ||
        (!col("interaction") && col("predictedInteraction") === "NotInteracts"))
      .agg(avg(col("ok").cast("double"))).head.getDouble(0)
    assert(acc > 0.85)
  }

  test("feature importances cover all four evidence features") {
    val model = InteractionModel.train(InteractionModel.features(edges), 50)
    val imp = InteractionModel.importances(model)
    assert(imp.map(_._1) == InteractionModel.FeatureCols)
    assert(math.abs(imp.map(_._2).sum - 1.0) < 1e-9)
  }
}
