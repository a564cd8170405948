package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class AnnIndexSpec extends SparkSpec {

  test("full-probe == in-memory ADC; partition pruning audited; append visible without rebuild") {
    val emb = graft.Tables.embeddings(spark, sf).cache()
    val dir = java.nio.file.Files.createTempDirectory("graft-annidx").toString + "/idx"
    val b1 = emb.filter(col("vec_id") % 2 === 1)
    val b2 = emb.filter(col("vec_id") % 2 === 0 && col("vec_id") >= 20)
    val q = emb.filter(col("vec_id") < 20 && col("vec_id") % 2 === 0)
    AnnIndex.build(b1, "vec_id", "embedding", dir,
      nCentroids = 8, m = 8, k = 16, refineIters = 1, residual = false)

    // probing every list must equal the in-memory ADC over the same
    // (deterministically retrained) model — bit-for-bit
    val model = Similarity.pqTrain(b1, "vec_id", "embedding",
      m = 8, k = 16, refineIters = 1)
    val codes = Similarity.pqEncode(b1, "vec_id", "embedding", model)
    val mem = Similarity.pqAdcTopK(q, codes, "vec_id", "embedding", model, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val full = AnnIndex.probe(q, "vec_id", "embedding", dir, nProbe = 8, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(full == mem, "full-probe index != in-memory ADC")

    // a partial probe's codes scan must carry the cid partition filter
    val partial = AnnIndex.probe(q, "vec_id", "embedding", dir, nProbe = 2, k = 5)
    val plan = partial.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("cid"),
      s"probe scan is not partition-pruned:\n${plan.take(800)}")
    // and its results are a plausible subset regime: every neighbor it
    // returns scores identically to the full probe's entry for it
    val partialRows = partial.collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(3)).toMap
    val fullRows = AnnIndex.probe(q, "vec_id", "embedding", dir, nProbe = 8, k = 8)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(3)).toMap
    partialRows.foreach { case (key, d) =>
      fullRows.get(key).foreach(fd => assert(fd == d,
        s"ADC distance disagrees between probes for $key"))
    }

    // append: frozen model, new vectors immediately probeable
    AnnIndex.append(b2, "vec_id", "embedding", dir)
    val after = AnnIndex.probe(q, "vec_id", "embedding", dir, nProbe = 8, k = 20)
      .collect().map(_.getLong(2)).toSet
    val b2ids = b2.select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(after.intersect(b2ids).nonEmpty,
      "appended batch never surfaces in probe results")
    // appended codes match what the frozen model assigns in memory
    val (_, frozen, residualFlag) = AnnIndex.readModel(spark, dir)
    assert(!residualFlag)
    assert(frozen.codebooks.flatten.flatten.toSeq ==
      model.codebooks.flatten.flatten.toSeq, "append mutated the model")
  }

  test("residual IVF-PQ: degenerate full codebook recovers exact L2; pruning + append hold") {
    val emb = graft.Tables.embeddings(spark, sf).cache()
    val n = emb.count().toInt
    val dir = java.nio.file.Files.createTempDirectory("graft-annidx-r").toString + "/idx"
    val q = emb.filter(col("vec_id") < 8)
    // k = corpus size, refine 0: every residual is its own codeword →
    // ADC = ‖(q−c) − (v−c)‖² = ‖q−v‖² exactly, so full-probe residual
    // ADC top-k must equal brute-force integer-L2 top-k bit-for-bit
    AnnIndex.build(emb, "vec_id", "embedding", dir,
      nCentroids = 8, m = 8, k = n, refineIters = 0, residual = true)
    val got = AnnIndex.probe(q, "vec_id", "embedding", dir, nProbe = 8, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val bf = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", 5,
        scorer = (a, b) => -Similarity.intL2(a, b).cast("double"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == bf, "degenerate residual IVF-PQ must be exact L2")
    // pruned probe still partition-filters, and a realistic codebook
    // (k = 16) keeps a sane recall floor on the uniform fixture
    val dir2 = java.nio.file.Files.createTempDirectory("graft-annidx-r2").toString + "/idx"
    AnnIndex.build(emb.filter(col("vec_id") >= 8), "vec_id", "embedding", dir2,
      nCentroids = 8, m = 8, k = 16, refineIters = 1, residual = true)
    val partial = AnnIndex.probe(q, "vec_id", "embedding", dir2, nProbe = 3, k = 10)
    assert(partial.queryExecution.executedPlan.toString
      .contains("PartitionFilters: ["))
    val full = AnnIndex.probe(q, "vec_id", "embedding", dir2, nProbe = 8, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val bf2 = Similarity.bruteForceTopK(q, emb.filter(col("vec_id") >= 8),
        "vec_id", "embedding", 10,
        scorer = (a, b) => -Similarity.intL2(a, b).cast("double"))
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = full.intersect(bf2).size.toDouble / bf2.size
    assert(recall >= 0.20, f"residual full-probe recall@10 degraded: $recall%.3f")
  }

  test("probeReranked: distances are TRUE L2, recall never below plain ADC probe") {
    val emb = graft.Tables.embeddings(spark, sf).cache()
    val dir = java.nio.file.Files.createTempDirectory("graft-annrr").toString + "/idx"
    val corpus = emb.filter(col("vec_id") >= 20)
    val q = emb.filter(col("vec_id") < 10)
    AnnIndex.build(corpus, "vec_id", "embedding", dir, nCentroids = 8, m = 8, k = 16)
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      val truth = Similarity.bruteForceTopK(q, corpus, "vec_id", "embedding", 10,
          scorer = (a, b) => -Similarity.intL2(a, b).cast("double"))
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      got.intersect(truth).size.toDouble / truth.size
    }
    val adc = AnnIndex.probe(q, "vec_id", "embedding", dir, nProbe = 8, k = 10)
    val rr = AnnIndex.probeReranked(q, corpus, "vec_id", "embedding", dir,
      nProbe = 8, k = 10, shortlist = 8)
    assert(recallOf(rr) >= recallOf(adc),
      "exact rerank must never lower recall vs the ADC shortlist head")
    // every reranked distance is the TRUE integer L2, not an ADC estimate
    val withTrue = rr.join(
        corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv")),
        Seq("neighbor_id"))
      .join(q.select(col("vec_id").as("query_id"), col("embedding").as("qv")),
        Seq("query_id"))
      .where(col("l2_dist") =!= Similarity.intL2(
        org.apache.spark.sql.functions.transform(col("qv"), x => x.cast("double")),
        org.apache.spark.sql.functions.transform(col("cv"), x => x.cast("double"))))
    assert(withTrue.count() == 0, "reranked l2_dist is not the exact integer L2")
  }

  test("cosine serving: normalization reduction == exact cosine ranking (round-10 ask #3)") {
    val emb = graft.Tables.embeddings(spark, sf).cache()
    val dir = java.nio.file.Files.createTempDirectory("graft-anncos")
      .toString + "/idx"
    // cosine tier = L2 index over exact-normalized vectors
    AnnIndex.buildCosine(emb, "vec_id", "embedding", dir,
      nCentroids = 8, m = 8, k = 16)
    val q = emb.filter(col("vec_id") < 10)
    // full recall: nProbe = nCentroids, k·shortlist >= |corpus|
    val got = AnnIndex.probeCosineReranked(q, emb, "vec_id", "embedding",
        dir, nProbe = 8, k = 5, shortlist = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // the law: ||u-w||^2 = 2 - 2cos(u,w) on unit vectors, so the
    // normalized-L2 ranking equals the exact cosine ranking
    val want = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding",
        k = 5, scorer = Similarity.cosineExactScaled)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.keySet == want.keySet && got.nonEmpty)
    assert(got.keys.forall(k2 => got(k2) == want(k2)),
      "normalized-L2 serving ranking diverged from the exact cosine ranking: " +
        got.keys.filter(k2 => got(k2) != want(k2)).take(5)
          .map(k2 => s"$k2 got=${got(k2)} want=${want(k2)}").mkString("; "))
    // append path: cosine appends normalize identically — an appended
    // duplicate of an indexed vector lands in the same inverted list
    val probe2 = emb.filter(col("vec_id") >= 10 && col("vec_id") < 15)
      .withColumn("vec_id", col("vec_id") + 100000L)
    AnnIndex.appendCosine(probe2, "vec_id", "embedding", dir)
    val dup = AnnIndex.probeCosine(
        emb.filter(col("vec_id") >= 10 && col("vec_id") < 15),
        "vec_id", "embedding", dir, nProbe = 1, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    // each query's own appended twin is at ADC distance == the query's
    // self-quantization floor, reachable at nProbe=1 (same list)
    assert(dup.count { case (qid, nid, _) => nid == qid + 100000L } == 5,
      s"appended cosine twins not found at nProbe=1: ${dup.mkString(", ")}")
  }

  test("filtered probe: ranked WITHIN the allowed pool; a post-filter provably loses rows (round-11 serving)") {
    val emb = graft.Tables.embeddings(spark, sf).cache()
    try {
      val dir = java.nio.file.Files.createTempDirectory("graft-annfil")
        .toString + "/idx"
      val corpus = emb.filter(col("vec_id") >= 20)
      val q = emb.filter(col("vec_id") < 10)
      AnnIndex.build(corpus, "vec_id", "embedding", dir,
        nCentroids = 8, m = 8, k = 16)
      val pool = corpus.filter(col("label") <= 4)
      val poolIds = pool.select("vec_id")
      // full recall: the filtered rerank IS the exact ranking over the
      // restricted pool — (qid, rank) → neighbor, bit-for-bit
      val got = AnnIndex.probeReranked(q, corpus, "vec_id", "embedding",
          dir, nProbe = 8, k = 5, shortlist = 200,
          allowed = Some(poolIds))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val want = Similarity.bruteForceTopK(q, pool, "vec_id", "embedding", 5,
          scorer = (a, b) => -Similarity.intL2(a, b).cast("double"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(got == want && got.nonEmpty,
        "filtered full-recall probe != exact ranking over the allowed pool")
      // the pool predicate holds at ANY nProbe, not just full recall
      val ids = pool.collect().map(_.getLong(0)).toSet
      val partial = AnnIndex.probe(q, "vec_id", "embedding", dir,
          nProbe = 2, k = 5, allowed = Some(poolIds))
        .collect().map(_.getLong(2))
      assert(partial.nonEmpty && partial.forall(ids.contains),
        "partial filtered probe surfaced a neighbor outside the pool")
      // and the post-filter strawman: filtering the UNFILTERED top-5
      // afterwards keeps only the global winners that happen to be in
      // the pool — strictly fewer rows than the filtered probe's k per
      // query (this is exactly why the semi-join sits before the rank)
      val post = AnnIndex.probeReranked(q, corpus, "vec_id", "embedding",
          dir, nProbe = 8, k = 5, shortlist = 200)
        .where(col("neighbor_id").isin(ids.toSeq.map(java.lang.Long.valueOf): _*))
      assert(post.count() < got.size,
        "fixture degenerate: post-filtering lost no rows — law unprovable here")
    } finally emb.unpersist()
  }

  test("rebuild: retrain+swap == a fresh build bit-for-bit; drift drops; no generation debris (round-11 lifecycle)") {
    val emb = graft.Tables.embeddings(spark, sf).cache()
    try {
      val dir = java.nio.file.Files.createTempDirectory("graft-annrb")
        .toString + "/idx"
      val base = emb.filter(col("vec_id") % 2 === 1)
      // the drifted tail: same vectors shifted off the trained
      // distribution, fresh ids (append requires unique vids)
      val batch = emb.filter(col("vec_id") % 2 === 0 && col("vec_id") >= 20)
        .withColumn("vec_id", col("vec_id") + 100000L)
        .withColumn("embedding",
          transform(col("embedding"), x => x + lit(0.5f)))
      AnnIndex.build(base, "vec_id", "embedding", dir,
        nCentroids = 8, m = 8, k = 16)
      AnnIndex.append(batch, "vec_id", "embedding", dir)
      def qerr(d: String): Long =
        AnnIndex.driftStats(batch, "vec_id", "embedding", d)
          .agg(sum(col("qerr_batch"))).collect().head.getLong(0)
      val before = qerr(dir)
      val current = base.select("vec_id", "embedding")
        .unionByName(batch.select("vec_id", "embedding"))
      AnnIndex.rebuild(current, "vec_id", "embedding", dir,
        nCentroids = 8, m = 8, k = 16)
      // the drifted batch is now part of the training set: its
      // quantization error under the rebuilt model drops — the drift
      // statistic and the rebuild action close the loop
      assert(qerr(dir) < before,
        s"rebuild did not reduce the drifted batch's qerr: ${qerr(dir)} >= $before")
      // training is content-seeded: the swapped-in generation probes
      // bit-identically to a FRESH build over the same corpus
      val dir2 = java.nio.file.Files.createTempDirectory("graft-annrb2")
        .toString + "/idx"
      AnnIndex.build(current, "vec_id", "embedding", dir2,
        nCentroids = 8, m = 8, k = 16)
      val q = emb.filter(col("vec_id") < 10)
      def ans(d: String) = AnnIndex.probe(q, "vec_id", "embedding", d,
          nProbe = 8, k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      assert(ans(dir) == ans(dir2),
        "rebuilt index probes differently from a fresh build over the same corpus")
      // the swap leaves no next-generation or displaced-generation debris
      for (sub <- Seq("gen_next", "prev_gen"))
        assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, sub)),
          s"rebuild left $sub behind")
    } finally emb.unpersist()
  }

  test("driftStats: exact occupancy; a shifted batch scores strictly higher error (round-10 ask #4)") {
    val emb = graft.Tables.embeddings(spark, sf).cache()
    try {
      val dir = java.nio.file.Files.createTempDirectory("graft-anndrift")
        .toString + "/idx"
      AnnIndex.build(emb, "vec_id", "embedding", dir,
        nCentroids = 8, m = 8, k = 16)
      def stats(df: org.apache.spark.sql.DataFrame) =
        AnnIndex.driftStats(df, "vec_id", "embedding", dir)
          .collect().map(r => r.getLong(0) ->
            (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      // the build corpus against its own index: the frozen quantizer
      // routes every vector exactly where the build did, so
      // n_batch == n_indexed list-for-list, totals == |corpus|
      val self = stats(emb)
      assert(self.values.forall { case (ni, nb, _) => ni == nb },
        s"self-batch occupancy != index occupancy: $self")
      assert(self.values.map(_._1).sum == emb.count())
      // monotonicity: a shifted copy of the same vectors carries
      // strictly higher MEAN quantization error under the frozen model
      // (the rebuild signal), and its occupancy histogram moves
      val shifted = emb.withColumn("embedding",
        transform(col("embedding"), x => x + lit(0.5f)))
      val drift = stats(shifted)
      def meanErr(m: Map[Long, (Long, Long, Long)]): Double =
        m.values.map(_._3).sum.toDouble / m.values.map(_._2).sum
      assert(meanErr(drift) > meanErr(self),
        s"shifted batch must score higher mean qerr: ${meanErr(drift)} <= ${meanErr(self)}")
      assert(drift.values.map(_._2).sum == emb.count(),
        "shifted batch lost rows in the stats")
    } finally emb.unpersist()
  }

  test("the model memo keeps one entry per (session, dir) across rebuilds") {
    val emb = graft.Tables.embeddings(spark, sf).cache()
    try {
      val dir = java.nio.file.Files.createTempDirectory("graft-annmemo")
        .toString + "/idx"
      val uuid = org.apache.spark.sql.graftbridge.SessionBridge.sessionUUID(spark)
      def entries = AnnIndex.modelMemo.keys.count(_ == ((uuid, dir)))
      AnnIndex.build(emb, "vec_id", "embedding", dir, nCentroids = 8, m = 8, k = 16)
      AnnIndex.readModel(spark, dir)
      assert(entries == 1)
      for (seed <- 1 to 2) {
        // a different corpus each time, so each rebuild swaps in a model
        // whose fingerprint the memo has not seen
        AnnIndex.rebuild(emb.where(col("vec_id") % 3 =!= seed), "vec_id", "embedding",
          dir, nCentroids = 8, m = 8, k = 16)
        val (_, model, _) = AnnIndex.readModel(spark, dir)
        val (_, fresh, _) = AnnIndex.readModelUncached(spark, dir)
        assert(model.codebooks.flatten.flatten.toSeq == fresh.codebooks.flatten.flatten.toSeq,
          s"rebuild $seed: the memo served a stale model")
        assert(entries == 1, s"rebuild $seed: $entries memo entries for one dir")
      }
    } finally emb.unpersist()
  }
}
