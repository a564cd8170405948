package graft.queries

import graft.{QuerySpec, Tables}
import graft.graph.GraphBuild
import graft.ml.InteractionModel
import graft.operators.Multimodal
import org.apache.spark.sql.functions._

/** End-to-end composites in the gate: the reference's full §3.1→§3.2
  * lifecycle (evidence → graph → classify → write-back → motif query)
  * run on evidence-shaped tables derived from the test data, plus the
  * multimodal feature pipeline.
  */
object PipelineQueries {

  /** The SURVEY §7 "minimum end-to-end slice", distributed: four
    * evidence relations derived from lineitem (phage≡supplier,
    * bacteria≡part), declarative graph build (full-outer upsert), RF
    * trained on a derived truth label, score-and-write-back, then the
    * §3.3-style summary: predicted interactions per prediction class. */
  /** Evidence-shaped edge table derived from lineitem (phage≡supplier,
    * bacteria≡part) through the declarative full-outer graph build —
    * shared by the q70 lifecycle and the q84 model-metrics gate. */
  /** Materialize the memoized shared intermediates of this module —
    * called from [[graft.SparkEntry.warmCaches]] for bench
    * attribution. */
  private[graft] def warmShared(s: org.apache.spark.sql.SparkSession, d: String): Unit =
    evidenceEdges(s, d).count(): Unit

  private def evidenceEdges(s: org.apache.spark.sql.SparkSession, d: String) =
    graft.Memo.df(s, "evidenceEdges", d) {
      val li = Tables.lineitem(s, d)
        .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
        .select(col("s_name").as("phage"), col("p_name").as("bacteria"),
          col("l_quantity"), col("l_extendedprice"), col("l_discount"),
          col("l_returnflag"))
      def evidence(flag: String, v: org.apache.spark.sql.Column) =
        li.filter(col("l_returnflag") === flag)
          .select(col("bacteria"), col("phage"), v.as("score"))
      val crispr   = evidence("A", col("l_quantity") * 2)
      val prophage = evidence("R", col("l_extendedprice") / 100)
      val blastx   = evidence("N", col("l_quantity") * (lit(1) - col("l_discount")))
      val pfam     = evidence("A", col("l_extendedprice") / 50)
      // "ground truth": pairs with high total quantity interact
      val truth = li.groupBy("phage", "bacteria")
        .agg(sum("l_quantity").as("q"))
        .select(col("phage"), col("bacteria"), (col("q") > 100).cast("double").as("score"))
      GraphBuild.fromEvidence(crispr, prophage, blastx, pfam, truth).edges
    }

  val q70 = QuerySpec.sql(
    "q70_reference_pipeline",
    PinnedOracles.q70,
    "evidence→graph→RF→write-back→query lifecycle, output-pinned (SURVEY §3.1-§3.3)") { (s, d) =>
    // the per-class census is output-pinned (q130 idiom): the seeded
    // RF is deterministic on the deterministic evidence table (fixed
    // featurization, seeded trees, xxhash-stratified train set —
    // re-verified bit-identical across independent Verify JVMs), so
    // the nestats-shaped summary row per prediction class is a
    // constant of the data, like rtables/nestats.tsv is of the study's
    val edges = evidenceEdges(s, d) // memoized: shared with q84
    // train on a deterministic 20% sample (the reference trains on its
    // small validation set, then scores the full graph), score everything
    // CANONICALIZED training input: spark.ml RF bootstraps with a
    // per-partition RNG, so the fitted trees depend on the input's
    // partitioning — a FIXED 8-way hash partitioning sorted by key is
    // a pure function of (data, seed) regardless of cluster size or
    // upstream splits (the ReferenceNetworkSpec idiom), so the model
    // pins while the fit stays parallel; scoring below is fully
    // distributed either way. The sample is materialized ONCE
    // (localCheckpoint) because the fit reads it several times, each
    // re-running the sampling query; the checkpoint keeps the 8
    // partitions and their row order, so the forest is bit-identical
    val trainSet = graft.operators.Sampling.stratifiedSample(
      InteractionModel.features(edges.withColumn("phage", col("src"))
        .withColumn("bacteria", col("dst"))),
      Seq("phage", "bacteria"), fraction = 0.2, seed = 42)
      .repartition(8, col("phage"), col("bacteria"))
      .sortWithinPartitions("phage", "bacteria")
      .localCheckpoint(true)
    val model = InteractionModel.train(trainSet, numTrees = 20, seed = 42)
    val scored = InteractionModel.scoreAndWriteBack(model, edges)
    scored.groupBy("predictedInteraction")
      .agg(count(lit(1)).as("n_edges"),
        sum(col("interaction").cast("long")).as("n_true"))
  }

  /** M4/M5 — model diagnostics through the driver gate: a small
    * seeded RF on a 5% evidence sample, emitting feature importances
    * and AUC/sensitivity/specificity as (metric, value) rows. RF
    * internals have no SQL form, but the seeded trainer is
    * deterministic on this fixed sample (re-verified bit-identical
    * across independent Verify JVMs), so the metric rows — rounded to
    * 6 dp in the gate, the q138 idiom — pin as a VALUES oracle.
    * ReferenceDataSpec asserts the same metrics against the study's
    * published numbers (rtables/genmodelper.tsv). */
  val q84 = QuerySpec.sql(
    "q84_rf_model_metrics",
    PinnedOracles.q84,
    "RF feature importances + AUC/sens/spec, output-pinned (SURVEY M4,M5)") { (s, d) =>
    val feats = InteractionModel.features(
      evidenceEdges(s, d).withColumn("phage", col("src"))
        .withColumn("bacteria", col("dst")))
    // same canonicalization as q70: fixed 8-way hash partitioning,
    // key-sorted → the RF is environment-independent, so its metrics
    // pin, and the fit keeps its parallelism. Materialized once, as in
    // q70: fit and evaluate would otherwise re-run the sampling query
    // on every read, and the checkpoint keeps the partitions and their
    // row order, so the forest and every metric stay bit-identical
    val sample = graft.operators.Sampling.stratifiedSample(
      feats, Seq("phage", "bacteria"), fraction = 0.05, seed = 7)
      .repartition(8, col("phage"), col("bacteria"))
      .sortWithinPartitions("phage", "bacteria")
      .localCheckpoint(true)
    val model = InteractionModel.train(sample, numTrees = 10, seed = 7)
    val metrics = InteractionModel.evaluate(model, sample).toSeq.sortBy(_._1) ++
      InteractionModel.importances(model).map { case (f, v) => s"importance_$f" -> v }
    val spark = s
    import spark.implicits._
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    metrics.map { case (m, v) => (m, r6(v)) }.toDF("metric", "value_6dp")
  }

  /** Multimodal: binary payload + metadata → batched decode →
    * per-kind feature aggregate. All three kinds decode REAL payloads
    * (PNG via javax.imageio, WAV via javax.sound.sampled, animated GIF
    * via the imageio sequence reader); n_decoded counts rows whose
    * payload the codec actually opened. */
  val q71 = QuerySpec.sql(
    "q71_multimodal_features",
    PinnedOracles.q71,
    "binary media columns → batched feature extraction (real decode, all kinds), output-pinned") { (s, d) =>
    // integer-deterministic throughout (counts, byte totals, entropy
    // pre-rounded to scaled ints before the one division), payloads
    // generated deterministically from the documents table → the
    // 3-row per-kind census pins as a VALUES oracle (q87 pins the
    // same codec path on literal fixtures)
    val media = Multimodal.fromDocuments(Tables.documents(s, d))
    val feats = Multimodal.extractFeatures(media)
    feats.toDF().groupBy("kind")
      .agg(count(lit(1)).as("n_media"),
        sum("n_bytes").as("total_bytes"),
        (sum(round(col("byte_entropy") * 10000, 0).cast("long")) / 10000.0)
          .as("sum_entropy"),
        sum((col("n_channels") > 0).cast("long")).as("n_decoded"),
        sum(when(col("decoded_width") > 0, col("decoded_width"))
          .otherwise(0)).as("sum_decoded_width"))
  }

  /** Multimodal decode, hash-oracled: a literal 6-row media table (two
    * per kind) goes through the REAL codecs — PNG via javax.imageio,
    * WAV via javax.sound.sampled, animated GIF via the imageio
    * sequence reader — and the codec-semantic outputs (dimensions,
    * sample rate, channel count, frame count) are pinned by a VALUES
    * oracle. Same fixture discipline as q44-q49: payload bytes are
    * generated, but the decode path being verified is the one the
    * cluster runs at scale. Columns: for image/video decoded_w/h are
    * pixel dims; for audio they are sample rate / frame count. */
  val q87 = QuerySpec.sql(
    "q87_multimodal_decode",
    """SELECT * FROM (VALUES
      |  (CAST(0 AS BIGINT),'image','png',16,16,3,1),
      |  (CAST(1 AS BIGINT),'audio','wav',16000,321,1,1),
      |  (CAST(2 AS BIGINT),'video','gif',18,18,3,5),
      |  (CAST(3 AS BIGINT),'image','png',19,19,3,1),
      |  (CAST(4 AS BIGINT),'audio','wav',16000,324,1,1),
      |  (CAST(5 AS BIGINT),'video','tiff',21,21,3,4)
      |) AS t(media_id, kind, container, decoded_width, decoded_height, n_channels, n_frames)""",
    "real codec decode of literal media fixtures incl. both video containers, output-pinned") { (s, _) =>
    val spark = s
    import spark.implicits._
    val docs = Seq(
      (0L, "the first image payload", 23L), (1L, "an audio payload", 16L),
      (2L, "a video payload", 15L), (3L, "another image", 13L),
      (4L, "more audio", 10L), (5L, "more video", 10L))
      .toDF("doc_id", "text", "n_chars")
    val media = Multimodal.fromDocuments(docs)
    // container column comes from MAGIC-BYTE sniffing of the payload
    // (not the generator), so the pin proves the TIFF row really is a
    // TIFF stream decoded by the same sequence-reader path as the GIF
    val containers = media.map(m => (m.media_id, Multimodal.containerOf(m.bytes)))
      .toDF("media_id", "container")
    Multimodal.extractFeatures(media).toDF()
      .join(containers, Seq("media_id"))
      .select(col("media_id"), col("kind"), col("container"),
        col("decoded_width"), col("decoded_height"), col("n_channels"),
        when(col("kind") === "video", element_at(col("features"), 1).cast("int"))
          .otherwise(lit(1)).as("n_frames"))
  }

  /** Per-group eigencentrality → Bray-Curtis → Wilcoxon: the §3.3
    * stage-4/5 analytic tail, producing the interstats-shaped answer
    * (which groups differ). */
  val q72 = QuerySpec.sql(
    "q72_centrality_diversity",
    PinnedOracles.q72,
    "eigencentrality → Bray-Curtis → rank-sum significance (§3.3 tail), output-pinned") { (s, d) =>
    // U and p are rank statistics of the pooled distance multiset —
    // independent of collect order — off deterministic kernels, so
    // the one-row answer (rounded to 6 dp, q138 idiom) pins
    import graft.graph.GraphAnalytics
    import graft.stats.EcoStats
    val edges = Tables.lineitem(s, d).filter(col("l_quantity") >= 49)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority").as("group"), col("l_suppkey").as("src"),
        (col("l_partkey") + 1000000L).as("dst"))
      .agg(sum(col("l_quantity").cast("long")).cast("double").as("weight"))
    val eigen = GraphAnalytics.perGroupEigen(edges)
      .select(col("group"), col("id").as("item"), col("eigen").as("value"))
    val bc = GraphAnalytics.brayCurtis(eigen).cache()
    // the rank-sum test below collects the pairwise distances to the
    // driver (sanctioned: eco-stats run on the #groups² distance
    // matrix, tiny by construction) — but guard the cardinality so a
    // high-cardinality group column fails fast instead of OOMing
    val nPairs = bc.count()
    require(nPairs <= 250000,
      s"q72 would collect $nPairs group-pair distances to the driver (cap 250000, " +
        "~700 groups); reduce the cardinality of the group column")
    // split distances into "adjacent priority" vs not, test difference
    val withClass = bc.withColumn("same_class",
      (substring(col("g1"), 1, 1) === substring(col("g2"), 1, 1)).cast("int"))
    val a = withClass.filter(col("same_class") === 1)
      .select("bray_curtis").collect().map(_.getDouble(0))
    val b = withClass.filter(col("same_class") === 0)
      .select("bray_curtis").collect().map(_.getDouble(0))
    val (u, p) =
      if (a.nonEmpty && b.nonEmpty) EcoStats.wilcoxonRankSum(a, b) else (0.0, 1.0)
    val spark = s
    import spark.implicits._
    bc.unpersist()
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    Seq((a.length.toLong, b.length.toLong, r6(u), r6(p)))
      .toDF("n_same", "n_diff", "u_stat_6dp", "p_value_6dp")
  }

  /** A9, hash-oracled: grouped MEAN of pairwise Bray-Curtis distances
    * per class pair — q72's rows-only "mean distance within vs across
    * classes" semantic with every number replayable. Distances are
    * exact ratios of integer sums scaled to BIGINTs (round(d·10⁶),
    * the q77/q134 idiom) BEFORE grouping, so the class means are one
    * IEEE division of exact integers (reference
    * bin/interpersonaldiversity.R:132,147 — mean interpersonal
    * distance per class). Classes are regions over the supplier-side
    * nation samples; item space bounded like q133 so the oracle's
    * self-join stays fast. */
  val q168 = QuerySpec.sql(
    "q168_class_mean_distance",
    """WITH ab AS (
      |  SELECT n_name AS g, l_partkey AS item,
      |         CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS val
      |  FROM lineitem
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  WHERE l_partkey % 50 = 0
      |  GROUP BY 1, 2),
      |totals AS (SELECT g, sum(val) AS t FROM ab GROUP BY g),
      |shared AS (
      |  SELECT x.g AS g1, y.g AS g2,
      |         sum(abs(x.val - y.val)) AS sad, sum(x.val) AS sx, sum(y.val) AS sy
      |  FROM ab x JOIN ab y ON x.item = y.item AND x.g < y.g
      |  GROUP BY 1, 2),
      |bc AS (
      |  SELECT t1.g AS g1, t2.g AS g2,
      |         CAST(round((COALESCE(sad, 0) + (t1.t - COALESCE(sx, 0))
      |                     + (t2.t - COALESCE(sy, 0)))
      |              / (t1.t + t2.t) * 1000000, 0) AS BIGINT) AS di
      |  FROM totals t1 JOIN totals t2 ON t1.g < t2.g
      |  LEFT JOIN shared ON g1 = t1.g AND g2 = t2.g),
      |reg AS (SELECT n_name, r_name FROM nation
      |        JOIN region ON n_regionkey = r_regionkey)
      |SELECT least(ra.r_name, rb.r_name) AS r1,
      |       greatest(ra.r_name, rb.r_name) AS r2,
      |       count(*) AS n_pairs, CAST(sum(di) AS BIGINT) AS sum_scaled,
      |       CAST(sum(di) AS DOUBLE) / (count(*) * 1000000) AS mean_dist
      |FROM bc
      |JOIN reg ra ON bc.g1 = ra.n_name
      |JOIN reg rb ON bc.g2 = rb.n_name
      |GROUP BY 1, 2""",
    "per-class-pair mean Bray-Curtis distance, exact-scaled (SURVEY A9)") { (s, d) =>
    import graft.graph.GraphAnalytics
    val ab = Tables.lineitem(s, d)
      .filter(pmod(col("l_partkey"), lit(50)) === 0)
      .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("group"), col("l_partkey").as("item"))
      .agg(sum(col("l_quantity").cast("long")).cast("double").as("value"))
    val di = GraphAnalytics.brayCurtis(ab)
      .select(col("g1"), col("g2"),
        round(col("bray_curtis") * 1000000, 0).cast("long").as("di"))
    val reg = Tables.nation(s, d)
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_name"), col("r_name"))
    di.join(broadcast(reg.select(col("n_name").as("g1"), col("r_name").as("ra"))), "g1")
      .join(broadcast(reg.select(col("n_name").as("g2"), col("r_name").as("rb"))), "g2")
      .groupBy(least(col("ra"), col("rb")).as("r1"),
        greatest(col("ra"), col("rb")).as("r2"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("di")).as("sum_scaled"))
      .select(col("r1"), col("r2"), col("n_pairs"), col("sum_scaled"),
        (col("sum_scaled").cast("double") / (col("n_pairs") * lit(1000000L)))
          .as("mean_dist"))
  }

  /** The reference's interstats tail (SURVEY M7-M9; reference
    * bin/interpersonaldiversity.R:177,194 → rtables/interstats.tsv):
    * Bray-Curtis distance matrix → NMDS stress + ANOSIM R/p +
    * PERMDISP F/p, asking "do the classes separate". Here: per-nation
    * part-abundance profiles, region as the class label. Distances are
    * distributed; the eco-stats run on the #groups² matrix (25 nations
    * → 300 pairs), driver-side and bounded as SURVEY §7 sanctions.
    * Deterministic: seeded permutations, seeded NMDS init. */
  /** Shared by q73/q138: the distributed Bray-Curtis matrix over
    * per-nation part-abundance profiles, collected to the driver
    * (#groups² bounded — SURVEY §7 sanctions this tail), plus the
    * region class grouping. */
  private def interDistMatrix(s: org.apache.spark.sql.SparkSession,
      d: String): (Array[Array[Double]], Array[Int], Int) = {
    import graft.graph.GraphAnalytics
    val classOf = Tables.nation(s, d)
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_name"), col("r_name"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val v = Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("group"), col("l_partkey").as("item"))
      .agg(sum(col("l_quantity").cast("long")).cast("double").as("value"))
    val bc = GraphAnalytics.brayCurtis(v)
    val pairs = bc.collect()
    val groups = pairs.flatMap(r => Seq(r.getString(0), r.getString(1))).distinct.sorted
    require(groups.length <= 700,
      s"q73 builds a ${groups.length}² distance matrix on the driver (cap 700 groups)")
    val gi = groups.zipWithIndex.toMap
    val n = groups.length
    val dist = Array.fill(n, n)(0.0)
    pairs.foreach { r =>
      val (i, j, x) = (gi(r.getString(0)), gi(r.getString(1)), r.getDouble(2))
      dist(i)(j) = x; dist(j)(i) = x
    }
    val classIdx = groups.map(classOf).distinct.sorted.zipWithIndex.toMap
    val grouping = groups.map(g => classIdx(classOf(g))).toArray
    (dist, grouping, classIdx.size)
  }

  val q73 = QuerySpec.sql(
    "q73_interstats_tail",
    PinnedOracles.q73,
    "Bray-Curtis → NMDS + ANOSIM + PERMDISP class separation, output-pinned (SURVEY M7-M9)") { (s, d) =>
    // the interstats answer row, output-pinned at 6 dp (q138 idiom):
    // seeded permutations + seeded PCoA init on the sorted driver-side
    // matrix make every statistic deterministic; q133/q134 keep the
    // exactly-derived ANOSIM/PERMDISP oracles, q138 pins NMDS/KDE
    import graft.stats.EcoStats
    val (dist, grouping, nClasses) = interDistMatrix(s, d)
    val n = dist.length
    val (_, stress) = EcoStats.nmds(dist, k = 2)
    val (anosimR, anosimP) = EcoStats.anosim(dist, grouping)
    val (permdispF, permdispP) = EcoStats.permdisp(dist, grouping)
    val spark = s
    import spark.implicits._
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    Seq((n.toLong, nClasses.toLong, r6(stress), r6(anosimR), r6(anosimP),
        r6(permdispF), r6(permdispP)))
      .toDF("n_groups", "n_classes", "nmds_stress_6dp", "anosim_r_6dp",
        "anosim_p_6dp", "permdisp_f_6dp", "permdisp_p_6dp")
  }

  /** M7/M11 output-pinned (q85/q130 idiom): NMDS stress and the KDE
    * CDF-below-zero are iterative/transcendental float kernels — no
    * ANSI-SQL replay exists (unlike ANOSIM/PERMDISP, oracled exactly
    * in q133/q134) — but both are DETERMINISTIC (seeded PCoA init,
    * closed-form Silverman bandwidth) on the sorted driver-side
    * matrix, so their sf0.01 values rounded to 6 dp pin as a VALUES
    * oracle. KDE input follows the reference's shape
    * (bin/interpersonaldiversity.R:141-145: P(diff < 0) over a
    * difference distribution): centered off-diagonal Bray-Curtis
    * distances. */
  val q138 = QuerySpec.sql(
    "q138_ecostat_pinned",
    """SELECT CAST(0.165786 AS DOUBLE) AS nmds_stress_6dp,
      |       CAST(0.557583 AS DOUBLE) AS kde_below_6dp""",
    "output-pinned NMDS stress + KDE CDF below zero (SURVEY M7,M11)") { (s, d) =>
    import graft.stats.EcoStats
    val (dist, _, _) = interDistMatrix(s, d)
    val n = dist.length
    val (_, stress) = EcoStats.nmds(dist, k = 2)
    val offDiag = for { i <- 0 until n; j <- i + 1 until n } yield dist(i)(j)
    val grand = offDiag.sum / offDiag.length
    val kde = EcoStats.kdeCdfBelowZero(offDiag.map(_ - grand).toArray)
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val spark = s
    import spark.implicits._
    Seq((r6(stress), r6(kde))).toDF("nmds_stress_6dp", "kde_below_6dp")
  }

  /** Perceptual image dedup — aHash (8×8 integer luminance grid, no
    * floats) + the pigeonhole block join shared with the text SimHash
    * family. Image decode has no ANSI-SQL form, so the
    * oracle PINS the exact integer output (the q130/q85 idiom —
    * aHash is integer-deterministic, re-verified bit-identical across
    * runs); determinism and blocked≡brute-force equality are pinned
    * in MultimodalSpec. The pipeline capability this gates: finding
    * re-encoded / near-identical images without ever shuffling image
    * bytes — only (id, 64-bit hash) travels. */
  val q219 = QuerySpec.sql(
    "q219_image_ahash_neardup",
    """SELECT * FROM (VALUES
      |  (CAST(9 AS BIGINT),CAST(387 AS BIGINT),CAST(2 AS BIGINT)),(CAST(9 AS BIGINT),CAST(399 AS BIGINT),CAST(3 AS BIGINT)),
      |  (CAST(33 AS BIGINT),CAST(411 AS BIGINT),CAST(3 AS BIGINT)),(CAST(54 AS BIGINT),CAST(249 AS BIGINT),CAST(3 AS BIGINT)),
      |  (CAST(78 AS BIGINT),CAST(261 AS BIGINT),CAST(2 AS BIGINT)),(CAST(120 AS BIGINT),CAST(303 AS BIGINT),CAST(3 AS BIGINT)),
      |  (CAST(156 AS BIGINT),CAST(339 AS BIGINT),CAST(1 AS BIGINT)),(CAST(159 AS BIGINT),CAST(354 AS BIGINT),CAST(3 AS BIGINT)),
      |  (CAST(192 AS BIGINT),CAST(204 AS BIGINT),CAST(0 AS BIGINT)),(CAST(192 AS BIGINT),CAST(387 AS BIGINT),CAST(3 AS BIGINT)),
      |  (CAST(192 AS BIGINT),CAST(399 AS BIGINT),CAST(2 AS BIGINT)),(CAST(204 AS BIGINT),CAST(387 AS BIGINT),CAST(3 AS BIGINT)),
      |  (CAST(204 AS BIGINT),CAST(399 AS BIGINT),CAST(2 AS BIGINT)),(CAST(234 AS BIGINT),CAST(429 AS BIGINT),CAST(3 AS BIGINT)),
      |  (CAST(315 AS BIGINT),CAST(498 AS BIGINT),CAST(2 AS BIGINT)),(CAST(387 AS BIGINT),CAST(399 AS BIGINT),CAST(1 AS BIGINT))
      |) AS t(m1, m2, hamming)""",
    "perceptual near-dup image pairs via aHash + pigeonhole blocks (multimodal dedup)") { (s, d) =>
    Multimodal.imageNearDupPairs(
      Multimodal.fromDocuments(Tables.documents(s, d)), maxHamming = 3)
  }

  /** ALS collaborative filtering — the second ML family next to the
    * RF classifier: seeded matrix factorization over customer→part
    * quantities, top-5 unseen-part recommendations per customer.
    * Rows-only like the RF gates (factorization has no ANSI-SQL
    * form); RecommenderSpec pins fit quality (reconstruction RMSE
    * ≪ global-mean baseline) and rec-list invariants. */
  val q235 = QuerySpec.rowsOnly(
    "q235_als_recommendations",
    "seeded ALS matrix factorization -> top-5 unseen recs per customer (ML tier)") { (s, d) =>
    val ratings = graft.ml.Recommender.interactions(
      Tables.lineitem(s, d), Tables.orders(s, d))
    graft.ml.Recommender.topK(graft.ml.Recommender.fit(ratings), ratings, k = 5)
  }

  /** Rank-1 ALS, EXACT-SCALED — the replayable oracle twin of q235
    * ([[graft.ml.Recommender.alsRank1ExactScaled]]): alternating
    * least squares at rank 1 is a closed per-row solve, so the whole
    * trajectory (v₀=1000 → u₁ → v₁ → u₂, each half-step one rounded
    * scaled division + a max-normalization, all BIGINT) unrolls into
    * chained CTEs that DuckDB replays bit-for-bit — the last float-
    * iterative family (spark.ml ALS, rows-only) gets its exact
    * counterpart, like q90/q96/q199 did for the graph kernels.
    * Top-5 unseen recommendations per sampled user, ties on item. */
  val q296 = QuerySpec.sql(
    "q296_als_rank1_exact",
    """WITH r AS (
      |  SELECT CAST(o_custkey AS BIGINT) AS u, CAST(l_partkey AS BIGINT) AS i,
      |         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS r
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  GROUP BY 1, 2),
      |u1s AS (
      |  SELECT u AS id, (2*(1000*SUM(r))*1000000 + 1000000*COUNT(*))
      |           // (2*1000000*COUNT(*)) AS s
      |  FROM r GROUP BY u),
      |u1 AS (SELECT id, CASE WHEN m = 0 THEN 0 ELSE (2*s*1000 + m) // (2*m) END AS f
      |       FROM u1s, (SELECT MAX(s) AS m FROM u1s)),
      |v1s AS (
      |  SELECT r.i AS id,
      |         CASE WHEN SUM(u1.f*u1.f) = 0 THEN 0
      |              ELSE (2*SUM(r.r*u1.f)*1000000 + SUM(u1.f*u1.f))
      |                // (2*SUM(u1.f*u1.f)) END AS s
      |  FROM r JOIN u1 ON r.u = u1.id GROUP BY r.i),
      |v1 AS (SELECT id, CASE WHEN m = 0 THEN 0 ELSE (2*s*1000 + m) // (2*m) END AS f
      |       FROM v1s, (SELECT MAX(s) AS m FROM v1s)),
      |u2s AS (
      |  SELECT r.u AS id,
      |         CASE WHEN SUM(v1.f*v1.f) = 0 THEN 0
      |              ELSE (2*SUM(r.r*v1.f)*1000000 + SUM(v1.f*v1.f))
      |                // (2*SUM(v1.f*v1.f)) END AS s
      |  FROM r JOIN v1 ON r.i = v1.id GROUP BY r.u),
      |u2 AS (SELECT id, CASE WHEN m = 0 THEN 0 ELSE (2*s*1000 + m) // (2*m) END AS f
      |       FROM u2s, (SELECT MAX(s) AS m FROM u2s)),
      |cand AS (
      |  SELECT un.id AS u, vn.id AS i, un.f * vn.f AS score
      |  FROM u2 un CROSS JOIN v1 vn
      |  WHERE un.id % 50 = 0
      |    AND NOT EXISTS (SELECT 1 FROM r WHERE r.u = un.id AND r.i = vn.id)),
      |ranked AS (
      |  SELECT u, i, score,
      |         ROW_NUMBER() OVER (PARTITION BY u ORDER BY score DESC, i) AS rk
      |  FROM cand)
      |SELECT u AS user, CAST(rk AS BIGINT) AS rk, i AS item,
      |       CAST(score AS BIGINT) AS score
      |FROM ranked WHERE rk <= 5""",
    "rank-1 exact-scaled ALS: unrolled alternating solves, oracle-replayable (ML tier)") { (s, d) =>
    val ratings = Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").cast("long").as("user"),
        col("l_partkey").cast("long").as("item"))
      .agg(sum(col("l_quantity").cast("long")).as("rating"))
    graft.ml.Recommender.alsRank1ExactScaled(ratings, userMod = 50L, k = 5)
  }

  val all: Seq[QuerySpec] =
    Seq(q70, q71, q87, q72, q73, q84, q138, q168, q219, q235, q296)
}
