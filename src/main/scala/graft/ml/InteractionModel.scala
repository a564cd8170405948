package graft.ml

import org.apache.spark.ml.attribute.NominalAttribute
import org.apache.spark.ml.classification.{RandomForestClassificationModel, RandomForestClassifier}
import org.apache.spark.ml.evaluation.BinaryClassificationEvaluator
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's ML layer (SURVEY §2.11 M1-M5): a random-forest
  * binary classifier over the four evidence scores, with a nested
  * train/eval harness and a scoring write-back.
  *
  * Reference: caret::train(method="rf", metric="ROC") with 5-fold ×10
  * repeatedcv (bin/CalculatePredModel.R:47-57), outer 80/20 × 25
  * iterations (:68-170), predict → Interacts/NotInteracts →
  * write-back (bin/PredictRelationships.R:70-75,
  * bin/AddPredictedRelationships.pl:88).
  *
  * Spark-first: features stay distributed end-to-end; the "write-back"
  * is a column join, not a per-row REST upsert. Splits use
  * hash-deterministic stratified sampling (graft.operators.Sampling)
  * so every iteration is reproducible across partitionings.
  */
object InteractionModel {

  val FeatureCols: Seq[String] = Seq("crispr", "blast", "blastx", "pfam")

  /** Assemble feature vector + binary label from an edges table with
    * `interaction` boolean ground truth (null-safe: missing → 0). The
    * label carries its two classes as column metadata, so a fit reads
    * `numClasses` from the schema instead of running a max-label
    * query over its input. */
  def features(edges: DataFrame, labelCol: String = "interaction"): DataFrame = {
    val binary = NominalAttribute.defaultAttr.withName("label").withNumValues(2)
    val filled = edges.na.fill(0.0, FeatureCols)
      .withColumn("label", col(labelCol).cast("double").as("label", binary.toMetadata()))
    new VectorAssembler()
      .setInputCols(FeatureCols.toArray).setOutputCol("features")
      .transform(filled)
  }

  /** M1 — train the RF classifier (seeded).
    * @param mtry features sampled per split (caret's tuning axis)
    * @param maxDepth tree depth cap. R's randomForest grows trees to
    *   purity (no cap); 30 is Spark's ceiling and is effectively
    *   unbounded at reference-data sizes. Spark's own default (5)
    *   underfits the 4-feature evidence space.
    * The returned model is a copy without the training summary: the
    * summary holds the session, and once the session has created an
    * `Observation` (the superstep kernels do) its observation manager
    * is not serializable, so every `transform` closure that captured
    * the summary would fail with "Task not serializable". */
  def train(train: DataFrame, numTrees: Int = 500, seed: Long = 42L,
      mtry: Int = 3, maxDepth: Int = 12): RandomForestClassificationModel =
    new RandomForestClassifier()
      .setNumTrees(numTrees)
      .setFeatureSubsetStrategy(mtry.toString)
      .setMaxDepth(maxDepth)
      .setLabelCol("label").setFeaturesCol("features")
      .setSeed(seed)
      .fit(train)
      .copy(ParamMap.empty)

  /** M5 — AUC + sensitivity + specificity at the 0.5 threshold. */
  def evaluate(model: RandomForestClassificationModel, test: DataFrame)
      : Map[String, Double] = {
    val scored = model.transform(test).cache()
    val auc = new BinaryClassificationEvaluator()
      .setLabelCol("label").setRawPredictionCol("rawPrediction")
      .setMetricName("areaUnderROC").evaluate(scored)
    val cm = scored.agg(
      sum(when(col("label") === 1 && col("prediction") === 1, 1).otherwise(0)).as("tp"),
      sum(when(col("label") === 1 && col("prediction") === 0, 1).otherwise(0)).as("fn"),
      sum(when(col("label") === 0 && col("prediction") === 0, 1).otherwise(0)).as("tn"),
      sum(when(col("label") === 0 && col("prediction") === 1, 1).otherwise(0)).as("fp"))
      .head()
    val (tp, fn, tn, fp) = (cm.getLong(0), cm.getLong(1), cm.getLong(2), cm.getLong(3))
    scored.unpersist()
    Map("auc" -> auc,
      "sensitivity" -> (if (tp + fn == 0) 0.0 else tp.toDouble / (tp + fn)),
      "specificity" -> (if (tn + fp == 0) 0.0 else tn.toDouble / (tn + fp)))
  }

  /** M2 — nested CV: outer 80/20 splits × `iterations`, report
    * per-iteration AUC/sens/spec (the reference reports their median —
    * bin/CalculatePredModel.R:287, data/avgaucnested.tsv).
    *
    * Reference-parity mechanics (each opt-in so existing callers keep
    * the plain harness):
    *  - `stratified`: caret's createDataPartition splits 80/20 WITHIN
    *    each class (CalculatePredModel.R:71-76). Implemented as
    *    percent_rank over a per-row hash within the label partition —
    *    exact class proportions, deterministic across partitionings.
    *  - `trainEvidenceFilter`: caretmodel drops train rows with zero
    *    blastx AND zero pfam (`x[rowSums(x[4:5])!=0,]`,
    *    CalculatePredModel.R:47) — the TEST fold keeps them.
    *  - `tuneMtry`: caret tunes mtry over {2,3,4} by inner resampling
    *    ROC (trainControl repeatedcv 5×10). Approximated by one inner
    *    stratified 80/20 holdout per outer iteration: argmax inner AUC
    *    picks mtry for the final `numTrees`-tree fit. */
  def nestedCv(data: DataFrame, iterations: Int, numTrees: Int = 100,
      seed: Long = 42L, stratified: Boolean = false,
      trainEvidenceFilter: Boolean = false,
      tuneMtry: Boolean = false, maxDepth: Int = 12): Seq[Map[String, Double]] = {
    import graft.operators.Sampling
    import org.apache.spark.sql.expressions.Window
    val prepared = features(data).cache()
    def split(df: DataFrame, salt: Long, frac: Double): (DataFrame, DataFrame) = {
      val withU = df.withColumn("__u",
        Sampling.hashUnit(salt, col("phage"), col("bacteria")))
      val keyed =
        if (stratified) withU.withColumn("__u",
          percent_rank().over(Window.partitionBy("label").orderBy("__u")))
        else withU
      (keyed.where(col("__u") < frac).drop("__u"),
        keyed.where(col("__u") >= frac).drop("__u"))
    }
    val evidenceFilter: DataFrame => DataFrame =
      if (trainEvidenceFilter) _.filter(col("blastx") =!= 0 || col("pfam") =!= 0)
      else identity
    (0 until iterations).map { i =>
      val (trAll, te) = split(prepared, seed + i, 0.8)
      val tr = evidenceFilter(trAll).cache()
      val mtry =
        if (!tuneMtry) 3
        else {
          val (itr, ite) = split(tr, seed + 7919 * (i + 1), 0.8)
          // a degenerate (single-class) inner test fold yields NaN AUC;
          // drop those before the argmax, defaulting to mtry=3
          Seq(2, 3, 4).map { m =>
            m -> evaluate(train(itr, math.min(numTrees, 100), seed + i, m, maxDepth), ite)("auc")
          }.filterNot(_._2.isNaN) match {
            case Seq() => 3
            case inner => inner.maxBy(_._2)._1
          }
        }
      val m = train(tr, numTrees, seed + i, mtry, maxDepth)
      tr.unpersist()
      evaluate(m, te)
    }
  }

  /** M3 — score all candidate edges and write the prediction back as a
    * column (the declarative replacement for the per-row
    * PredictedInteraction upsert). Candidates = any positive evidence
    * (reference bin/PredictRelationships.R:68 filter). */
  def scoreAndWriteBack(model: RandomForestClassificationModel, edges: DataFrame)
      : DataFrame = {
    val cand = features(edges.filter(
      greatest(FeatureCols.map(col): _*) > 0), "interaction")
    model.transform(cand)
      .withColumn("predictedInteraction",
        when(col("prediction") === 1.0, "Interacts").otherwise("NotInteracts"))
      .drop("features", "rawPrediction", "probability", "prediction", "label")
  }

  /** M4 — feature importances as a table. */
  def importances(model: RandomForestClassificationModel): Seq[(String, Double)] =
    FeatureCols.zip(model.featureImportances.toArray)
}
