package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Takedown-lifecycle laws for the persisted indexes (round-9 verdict
  * ask #5):
  *
  *  - **AnnIndex.delete** rewrites ONLY the cid partitions holding
  *    the deleted vids: probe answers equal an index whose appended
  *    batch never contained them (same frozen model), files in every
  *    unaffected partition stay BYTE-IDENTICAL (md5 digests — the
  *    q241 Merkle idiom), and no deleted vid survives anywhere.
  *  - **DedupIndex.delete** is a logical tombstone: probe answers
  *    equal an index built WITHOUT the deleted docs, in both
  *    regimes. **compact** reclaims physically with identical probe
  *    answers, clears the tombstones, and shrinks the stored tables.
  */
class IndexDeleteSpec extends SparkSpec {

  private def md5s(dir: String): Map[String, String] = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) return Map.empty
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p))
      .map { p =>
        val h = java.security.MessageDigest.getInstance("MD5")
          .digest(java.nio.file.Files.readAllBytes(p))
        root.relativize(p).toString -> h.map("%02x".format(_)).mkString
      }.toMap
  }

  private def probeSet(q: DataFrame, dir: String): Set[(Long, Long, Long, Long)] =
    AnnIndex.probe(q, "vec_id", "embedding", dir, nProbe = 8, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

  test("AnnIndex.delete: probe == never-appended twin; unaffected partitions byte-identical") {
    val emb = graft.Tables.embeddings(spark, sf).cache()
    val b1 = emb.filter(col("vec_id") % 2 === 1)
    val b2 = emb.filter(col("vec_id") % 2 === 0 && col("vec_id") >= 20)
    val q = emb.filter(col("vec_id") < 20 && col("vec_id") % 2 === 0)
    // T ⊂ appended batch, so the never-appended twin shares the model
    val tPred = col("vec_id") % 10 === 0 && col("vec_id") >= 20
    val tombstoned = b2.filter(tPred).select("vec_id")
    val tIds = tombstoned.collect().map(_.getLong(0)).toSet
    assert(tIds.nonEmpty)

    val dir = java.nio.file.Files.createTempDirectory("annidx-del").toString + "/idx"
    AnnIndex.build(b1, "vec_id", "embedding", dir, nCentroids = 8, m = 8, k = 16)
    AnnIndex.append(b2, "vec_id", "embedding", dir)
    // which partitions SHOULD the delete touch?
    val codesBefore = spark.read.parquet(s"$dir/codes")
    val affectedCids = codesBefore.filter(col("vid").isin(tIds.toSeq: _*))
      .select("cid").distinct().collect().map(_.getInt(0)).toSet
    val digestsBefore = md5s(s"$dir/codes")

    AnnIndex.delete(spark, dir, tombstoned)

    // 1. no deleted vid survives
    val survivors = spark.read.parquet(s"$dir/codes")
      .filter(col("vid").isin(tIds.toSeq: _*)).count()
    assert(survivors == 0, s"$survivors tombstoned vids still indexed")
    // 2. unaffected cid partitions: same files, same bytes
    val digestsAfter = md5s(s"$dir/codes")
    def untouched(m: Map[String, String]) = m.filter { case (p, _) =>
      !affectedCids.exists(c => p.startsWith(s"cid=$c/")) && !p.startsWith("_")
    }
    assert(untouched(digestsBefore) == untouched(digestsAfter),
      "delete rewrote files in partitions it should not have touched")
    assert(affectedCids.forall(c =>
      digestsBefore.keys.exists(_.startsWith(s"cid=$c/"))))
    // 3. probe == the twin that never appended the deleted vids
    //    (identical frozen model: training sees only b1 either way)
    val twin = java.nio.file.Files.createTempDirectory("annidx-twin").toString + "/idx"
    AnnIndex.build(b1, "vec_id", "embedding", twin, nCentroids = 8, m = 8, k = 16)
    AnnIndex.append(b2.filter(!tPred), "vec_id", "embedding", twin)
    assert(probeSet(q, dir) == probeSet(q, twin),
      "probe after delete != index that never held the deleted vids")
    assert(probeSet(q, dir).nonEmpty)
  }

  /** Same token stream per (seed, position) — `idOffset` re-labels the
    * docs, so batch(s, r, v, l, 1000) is an exact duplicate set of
    * batch(s, r, v, l) under fresh ids (guaranteed near-dups even at
    * sparse vocabulary sizes). */
  private def batch(seed: Int, ids: Range, vocabSize: Int, len: Int,
      idOffset: Long = 0L): DataFrame = {
    import spark.implicits._
    val rng = new scala.util.Random(seed)
    ids.flatMap { id =>
      (0 until len).map(_ => s"t${rng.nextInt(vocabSize)}").distinct
        .map(t => (id.toLong + idOffset, t))
    }.toDF("doc_id", "tok")
  }

  private def pairsOf(df: DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1),
      math.rint(r.getDouble(2) * 1e9) / 1e9)).toSet

  private def dedupLifecycle(tag: String, vocabSize: Int,
      bitmapMaxVocab: Int, expectKind: String): Unit = {
    val b1 = batch(1, 0 until 40, vocabSize, 12)
    val b2 = batch(2, 40 until 80, vocabSize, 12)
    // exact duplicates of every indexed doc, relabeled 1000+ — the
    // probe finds each twin at jaccard 1.0 in both regimes
    val probeB = batch(1, 0 until 40, vocabSize, 12, idOffset = 1000L)
      .union(batch(2, 40 until 80, vocabSize, 12, idOffset = 1000L))
    val tIds = Seq(3L, 17L, 44L, 61L)
    val t = {
      import spark.implicits._
      tIds.toDF("doc_id")
    }
    val dir = java.nio.file.Files.createTempDirectory(s"dedup-del-$tag")
      .toString + "/idx"
    assert(DedupIndex.build(b1, dir, 0.3, bitmapMaxVocab) == expectKind)
    DedupIndex.append(b2, dir)
    val before = pairsOf(DedupIndex.probe(probeB, dir, 0.3))
    DedupIndex.delete(spark, dir, t)
    val after = pairsOf(DedupIndex.probe(probeB, dir, 0.3))
    // law: == an index that never held the deleted docs
    val twin = java.nio.file.Files.createTempDirectory(s"dedup-twin-$tag")
      .toString + "/idx"
    assert(DedupIndex.build(b1.filter(!col("doc_id").isin(tIds: _*)),
      twin, 0.3, bitmapMaxVocab) == expectKind)
    DedupIndex.append(b2.filter(!col("doc_id").isin(tIds: _*)), twin)
    val want = pairsOf(DedupIndex.probe(probeB, twin, 0.3))
    assert(after == want, s"$tag: delete != never-indexed twin")
    assert(after.forall(p => !tIds.contains(p._2)))
    assert(before != after, s"$tag: vacuous — tombstones matched nothing")
    // re-ingesting a tombstoned id before compaction is a LOUD error
    // (the tombstone would keep suppressing the new doc from every
    // probe — appended-but-invisible, round-10 advice), and the
    // rejected append must leave the index unchanged
    val revived = intercept[IllegalArgumentException] {
      DedupIndex.append(batch(5, 300 until 305, vocabSize, 12)
        .union(b1.filter(col("doc_id") === tIds.head)), dir)
    }
    assert(revived.getMessage.contains("tombstoned"), revived.getMessage)
    assert(pairsOf(DedupIndex.probe(probeB, dir, 0.3)) == after,
      s"$tag: rejected append mutated the index")
    // compact: physical reclamation, identical answers, state cleared
    val storedTable = if (expectKind == "dense") "masks" else "docs"
    val storedBefore = spark.read.parquet(s"$dir/$storedTable").count()
    DedupIndex.compact(spark, dir)
    assert(pairsOf(DedupIndex.probe(probeB, dir, 0.3)) == want,
      s"$tag: compaction changed probe answers")
    assert(!new java.io.File(s"$dir/tombstones").exists,
      s"$tag: compaction left the tombstone table")
    val storedAfter = spark.read.parquet(s"$dir/$storedTable").count()
    assert(storedAfter == storedBefore - tIds.size,
      s"$tag: expected ${tIds.size} rows reclaimed, " +
        s"got $storedBefore -> $storedAfter")
    // appends after compaction continue normally
    val b3 = batch(4, 200 until 210, vocabSize, 12)
    DedupIndex.append(b3, dir)
    assert(DedupIndex.probe(batch(4, 200 until 210, vocabSize, 12), dir, 0.3)
      .count() > 0)
  }

  test("DedupIndex delete/compact lifecycle — dense regime") {
    dedupLifecycle("dense", vocabSize = 64, bitmapMaxVocab = 4096, "dense")
  }

  test("DedupIndex delete/compact lifecycle — sparse regime") {
    dedupLifecycle("sparse", vocabSize = 4096, bitmapMaxVocab = 256, "sparse")
  }

  test("DedupIndex.rebuild: dense→sparse migration keeps every verified pair; tombstones retire (round-11)") {
    val b1 = batch(1, 0 until 40, 64, 12)
    val b2 = batch(2, 40 until 80, 64, 12)
    val probeB = batch(1, 0 until 40, 64, 12, idOffset = 1000L)
      .union(batch(2, 40 until 80, 64, 12, idOffset = 1000L))
    val tIds = Seq(3L, 17L, 44L)
    val dir = java.nio.file.Files.createTempDirectory("dedup-rb-dense")
      .toString + "/idx"
    assert(DedupIndex.build(b1, dir, 0.3) == "dense")
    DedupIndex.append(b2, dir)
    import spark.implicits._
    DedupIndex.delete(spark, dir, tIds.toDF("doc_id"))
    val before = pairsOf(DedupIndex.probe(probeB, dir, 0.3))
    assert(DedupIndex.rebuild(spark, dir) == "sparse")
    // the migrated machinery answers identically: masks decoded
    // through the dictionary reproduce every doc's exact token set
    assert(pairsOf(DedupIndex.probe(probeB, dir, 0.3)) == before,
      "dense→sparse rebuild changed probe answers")
    assert(before.nonEmpty)
    // the dense tables are gone, the sparse generation is live, and
    // no swap debris remains
    for (sub <- Seq("dict", "masks", "gen_next", "prev_gen", "tombstones"))
      assert(!new java.io.File(s"$dir/$sub").exists, s"$sub survived the rebuild")
    for (sub <- Seq("dfreq", "postings", "docs", "meta"))
      assert(new java.io.File(s"$dir/$sub").exists, s"$sub missing after rebuild")
    // tombstones retired with the generation: the deleted ids are
    // physically gone, so re-ingesting one is legal again...
    DedupIndex.append(b1.filter(col("doc_id") === tIds.head), dir)
    // ...and its exact twin matches at jaccard 1.0 once more
    val revived = pairsOf(DedupIndex.probe(probeB, dir, 0.3))
    assert(revived.exists(p => p._2 == tIds.head && p._3 == 1.0),
      "re-appended doc after rebuild never matched its twin")
  }

  test("DedupIndex.rebuild retries over a crashed rebuild's staged generation") {
    // a rebuild that crashed after staging its meta leaves gen_next/meta
    // behind; the meta file is written in CREATE mode, so a retry that
    // reused the staging dir failed with FileAlreadyExistsException
    val b1 = batch(1, 0 until 40, 4096, 12)
    val probeB = batch(1, 0 until 40, 4096, 12, idOffset = 1000L)
    val dir = java.nio.file.Files.createTempDirectory("dedup-rb-retry")
      .toString + "/idx"
    assert(DedupIndex.build(b1, dir, 0.3, bitmapMaxVocab = 256) == "sparse")
    val before = pairsOf(DedupIndex.probe(probeB, dir, 0.3))
    val staged = java.nio.file.Paths.get(s"$dir/gen_next/meta")
    java.nio.file.Files.createDirectories(staged)
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$dir/meta/part-00000.parquet"),
      staged.resolve("part-00000.parquet"))
    assert(DedupIndex.rebuild(spark, dir) == "sparse")
    assert(!new java.io.File(s"$dir/gen_next").exists, "staging dir survived the rebuild")
    assert(before.nonEmpty && pairsOf(DedupIndex.probe(probeB, dir, 0.3)) == before,
      "retried rebuild changed probe answers")
  }

  test("DedupIndex.rebuild refreshes the frozen df order: driftStats reads frozen == optimal (round-11)") {
    // drifted corpus: the appended installment hammers a small token
    // subset, so build-time-rare tokens become common and the frozen
    // prefix ranking goes stale
    val b1 = batch(1, 0 until 40, 4096, 12)
    val b2 = batch(2, 40 until 120, 512, 12)
    val probeB = batch(3, 200 until 240, 512, 12)
    val dir = java.nio.file.Files.createTempDirectory("dedup-rb-drift")
      .toString + "/idx"
    assert(DedupIndex.build(b1, dir, 0.3, bitmapMaxVocab = 256) == "sparse")
    DedupIndex.append(b2, dir)
    def stats(): (Long, Long) = {
      val r = DedupIndex.driftStats(probeB, dir).collect().head
      (r.getAs[Long]("prefix_df_frozen"), r.getAs[Long]("prefix_df_optimal"))
    }
    val (fz, opt) = stats()
    assert(fz >= opt, s"optimal prefix mass cannot exceed frozen: $fz < $opt")
    assert(fz > opt,
      s"fixture degenerate: no measurable drift ($fz == $opt) — law unprovable")
    val beforePairs = pairsOf(DedupIndex.probe(probeB, dir, 0.3))
    assert(DedupIndex.rebuild(spark, dir) == "sparse")
    // the refreshed order IS the current-df order: frozen == optimal,
    // and the probe's verified answers are invariant (the lemma holds
    // under any fixed order — only selectivity moved)
    val (fz2, opt2) = stats()
    assert(fz2 == opt2,
      s"rebuild did not refresh the df order: frozen $fz2 != optimal $opt2")
    assert(pairsOf(DedupIndex.probe(probeB, dir, 0.3)) == beforePairs,
      "rebuild changed verified probe answers")
  }
}
