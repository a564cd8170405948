package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Laws for the generation+manifest MERGE table ([[MergeTable]],
  * gates q280/q282): end-state equivalence vs the full-shuffle
  * recompute, untouched buckets carry their generation over
  * unrewritten, whole-bucket deletion, batch-conflict rejection,
  * idempotent re-merge (the streaming replay law), crash-orphan
  * invisibility, and vacuum. */
class MergeTableSpec extends SparkSpec {

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft-merge").toString + "/t"

  private def base: DataFrame = Tables.orders(spark, sf).select(
    col("o_orderkey").cast("long").as("k"),
    col("o_custkey").cast("long").as("ck"),
    graft.functions.ExactNum.scaled(col("o_totalprice"), 100).as("cents"))

  private def content(df: DataFrame): Set[(Long, Long, Long)] =
    df.select("k", "ck", "cents").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  private def content2(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def bucketOf(k: Long, n: Int): Int = {
    import spark.implicits._
    Seq(k).toDF("k")
      .select(pmod(xxhash64(col("k")), lit(n)).cast("int")).head().getInt(0)
  }

  /** (gen dir, file name, length) signature of every live data file,
    * keyed by bucket, straight from the filesystem. */
  private def fileSig(dir: String): Map[String, Seq[(String, Long)]] = {
    val root = new java.io.File(s"$dir/data")
    root.listFiles().filter(_.getName.startsWith("gen=")).flatMap { g =>
      g.listFiles().filter(_.getName.startsWith("bucket=")).map { b =>
        (g.getName + "/" + b.getName) ->
          b.listFiles().filter(_.getName.endsWith(".parquet")).sorted
            .map(f => (f.getName, f.length())).toSeq
      }
    }.toMap
  }

  test("merge end state == full recompute (anti-join + union)") {
    val dir = tmpDir()
    MergeTable.create(base, dir, "k", nBuckets = 8)
    val ups = base.where(col("k") % 11 === 0)
      .withColumn("cents", col("cents") + 5L)
      .unionByName(base.where(col("k") % 13 === 0)
        .withColumn("k", col("k") + 1000000L))
    val del = base.where(col("k") % 17 === 0 && col("k") % 11 =!= 0).select("k")
    MergeTable.merge(spark, dir, ups, del)
    val expected = MergeTable.mergeBrute(base, "k", ups, del)
    assert(content(MergeTable.read(spark, dir)) == content(expected))
    // a second merge stacks correctly (generations compose)
    val ups2 = base.where(col("k") % 19 === 0)
      .withColumn("cents", col("cents") + 7L)
    MergeTable.merge(spark, dir, ups2, spark.range(0).select(col("id").as("k")))
    val expected2 = MergeTable.mergeBrute(
      expected, "k", ups2, spark.range(0).select(col("id").as("k")))
    assert(content(MergeTable.read(spark, dir)) == content(expected2))
  }

  test("untouched buckets carry their generation over, files unrewritten") {
    val dir = tmpDir()
    MergeTable.create(base, dir, "k", nBuckets = 8)
    val oneKey = base.orderBy("k").limit(1)
    val touched = bucketOf(oneKey.head().getLong(0), 8)
    val before = fileSig(dir)
    MergeTable.merge(spark, dir,
      oneKey.withColumn("cents", col("cents") + 1L),
      spark.range(0).select(col("id").as("k")))
    val after = fileSig(dir)
    // every gen=0 bucket except the touched one is still live AND
    // byte-identical; the touched bucket's new home is gen=1
    (0 until 8).filter(_ != touched).foreach { b =>
      assert(after(s"gen=0/bucket=$b") == before(s"gen=0/bucket=$b"))
    }
    assert(after.contains(s"gen=1/bucket=$touched"),
      "touched bucket must move to the next generation")
    assert(content(MergeTable.read(spark, dir)) ==
      content(MergeTable.mergeBrute(base, "k",
        oneKey.withColumn("cents", col("cents") + 1L),
        spark.range(0).select(col("id").as("k")))))
  }

  test("deleting every key of a bucket drops it from the manifest") {
    val dir = tmpDir()
    MergeTable.create(base, dir, "k", nBuckets = 4)
    val victim = 2
    val delKeys = base
      .where(pmod(xxhash64(col("k")), lit(4)).cast("int") === victim).select("k")
    val nDel = delKeys.count()
    assert(nDel > 0)
    MergeTable.merge(spark, dir, base.limit(0), delKeys)
    val got = MergeTable.read(spark, dir)
    assert(got.count() == base.count() - nDel)
    assert(got.where(pmod(xxhash64(col("k")), lit(4)).cast("int") === victim)
      .count() == 0)
  }

  test("conflicting batches are rejected loudly") {
    val dir = tmpDir()
    MergeTable.create(base, dir, "k", nBuckets = 4)
    val k0 = base.orderBy("k").limit(1)
    intercept[IllegalArgumentException] {
      MergeTable.merge(spark, dir, k0.unionByName(k0), base.limit(0).select("k"))
    }
    intercept[IllegalArgumentException] {
      MergeTable.merge(spark, dir, k0, k0.select("k"))
    }
    intercept[IllegalArgumentException] {
      MergeTable.create(base.unionByName(k0), tmpDir(), "k", nBuckets = 4)
    }
  }

  test("re-merging the same batch is content-idempotent (the streaming replay law)") {
    val dir = tmpDir()
    MergeTable.create(base, dir, "k", nBuckets = 4)
    val ups = base.where(col("k") % 7 === 0).withColumn("cents", col("cents") + 9L)
    val del = base.where(col("k") % 23 === 0 && col("k") % 7 =!= 0).select("k")
    MergeTable.merge(spark, dir, ups, del)
    val first = content(MergeTable.read(spark, dir))
    // a replayed CDC batch re-merges against the post-batch table:
    // upserts replace themselves, deletes of absent keys are no-ops
    MergeTable.merge(spark, dir, ups, del)
    assert(content(MergeTable.read(spark, dir)) == first)
  }

  test("a crashed merge's orphan generation is invisible; vacuum reclaims it") {
    val dir = tmpDir()
    MergeTable.create(base, dir, "k", nBuckets = 4)
    val before = content(MergeTable.read(spark, dir))
    // simulate a crash AFTER data write, BEFORE manifest commit: a
    // full generation directory with no manifest pointing at it
    base.limit(50).withColumn("cents", lit(-1L))
      .withColumn("bucket", pmod(xxhash64(col("k")), lit(4)).cast("int"))
      .write.partitionBy("bucket").mode("overwrite")
      .parquet(s"$dir/data/gen=1")
    assert(content(MergeTable.read(spark, dir)) == before,
      "uncommitted generation must be invisible to readers")
    // the retried merge overwrites the orphan generation and commits
    val ups = base.where(col("k") % 7 === 0).withColumn("cents", col("cents") + 9L)
    MergeTable.merge(spark, dir, ups, spark.range(0).select(col("id").as("k")))
    val merged = content(MergeTable.read(spark, dir))
    assert(merged == content(MergeTable.mergeBrute(base, "k", ups,
      spark.range(0).select(col("id").as("k")))))
    // vacuum drops superseded gen-0 homes of rewritten buckets and
    // old manifests; content unchanged
    MergeTable.vacuum(spark, dir)
    assert(content(MergeTable.read(spark, dir)) == merged)
    val live = fileSig(dir).keySet
    val manifests = new java.io.File(s"$dir/manifest").listFiles().map(_.getName)
    assert(manifests.count(_.startsWith("v")) == 1, "one live manifest after vacuum")
    // nothing on disk outside the live manifest's entries
    val m = spark.read.parquet(s"$dir/manifest/${manifests.filter(_.startsWith("v")).max}")
      .collect().filter(_.getInt(0) >= 0) // bucket = -1 carries the schema
      .map(r => s"gen=${r.getInt(1)}/bucket=${r.getInt(0)}").toSet
    assert(live == m, s"disk $live != manifest $m")
  }

  test("time travel: every committed version reads back; vacuum forecloses it") {
    val dir = tmpDir()
    MergeTable.create(base, dir, "k", nBuckets = 4)
    val ups1 = base.where(col("k") % 7 === 0).withColumn("cents", col("cents") + 9L)
    val del1 = base.where(col("k") % 23 === 0 && col("k") % 7 =!= 0).select("k")
    MergeTable.merge(spark, dir, ups1, del1)
    val ups2 = base.where(col("k") % 11 === 0).withColumn("cents", col("cents") + 3L)
    MergeTable.merge(spark, dir, ups2, spark.range(0).select(col("id").as("k")))
    assert(MergeTable.versions(spark, dir) == Seq(1, 2, 3))
    val s1 = MergeTable.mergeBrute(base, "k", ups1, del1)
    val s2 = MergeTable.mergeBrute(s1, "k", ups2,
      spark.range(0).select(col("id").as("k")))
    assert(content(MergeTable.readAt(spark, dir, 1)) == content(base))
    assert(content(MergeTable.readAt(spark, dir, 2)) == content(s1))
    assert(content(MergeTable.readAt(spark, dir, 3)) == content(s2))
    // readAt(current) == read
    assert(content(MergeTable.readAt(spark, dir, 3)) ==
      content(MergeTable.read(spark, dir)))
    intercept[IllegalArgumentException] { MergeTable.readAt(spark, dir, 4) }
    // vacuum keeps only the current version; older reads fail loudly
    MergeTable.vacuum(spark, dir)
    assert(MergeTable.versions(spark, dir) == Seq(3))
    assert(content(MergeTable.readAt(spark, dir, 3)) == content(s2))
    intercept[IllegalArgumentException] { MergeTable.readAt(spark, dir, 1) }
  }

  test("lookup == semi-join twin and opens only the probed keys' buckets") {
    val dir = tmpDir()
    MergeTable.create(base, dir, "k", nBuckets = 8)
    val ups = base.where(col("k") % 7 === 0).withColumn("cents", col("cents") + 9L)
    val del = base.where(col("k") % 23 === 0 && col("k") % 7 =!= 0).select("k")
    MergeTable.merge(spark, dir, ups, del)
    val state = MergeTable.mergeBrute(base, "k", ups, del)
    // one present key, one deleted key, one never-present key
    val k0 = base.orderBy("k").limit(1).head().getLong(0)
    val kDel = del.orderBy("k").limit(1).head().getLong(0)
    import spark.implicits._
    val probe = Seq(k0, kDel, -999L).toDF("k")
    assert(content(MergeTable.lookup(spark, dir, probe)) ==
      content(state.where(col("k").isin(k0, kDel, -999L))))
    // path-pruning law: ≤ 3 probed keys → ≤ 3 bucket dirs opened (of 8)
    val (_, _, paths) = MergeTable.lookupPaths(spark, dir, probe)
    assert(paths.nonEmpty && paths.size <= 3, s"expected ≤3 bucket paths, got $paths")
    // a probe of every key touches every live bucket but still equals the twin
    assert(content(MergeTable.lookup(spark, dir, state.select("k"))) ==
      content(state))
  }

  test("clustered table: readRange == filtered read, prunes files across generations") {
    val dir = tmpDir()
    // cluster by cents: sorted runs inside every bucket, zone sidecar
    // per generation, ≤400-row files so zones are selective
    MergeTable.create(base, dir, "k", nBuckets = 4,
      clusterBy = Some("cents"), statsCols = Seq("cents"),
      maxRecordsPerFile = 100L)
    // a single-key merge: one bucket moves to gen 1, the rest keep
    // serving gen 0 — so the pruning law exercises BOTH generations
    val ups = base.orderBy("k").limit(1).withColumn("cents", col("cents") + 9L)
    val del = base.limit(0).select("k")
    MergeTable.merge(spark, dir, ups, del)
    val state = MergeTable.mergeBrute(base, "k", ups, del)
    // equality with the filtered full read, several window shapes
    val cMax = state.agg(max("cents")).head().getLong(0)
    for ((lo, hi) <- Seq((0L, cMax + 1), (100000L, 500000L), (5L, 4L),
        (cMax + 10, cMax + 20))) {
      assert(content(MergeTable.readRange(spark, dir, "cents", lo, hi)) ==
        content(state.where(col("cents").between(lo, hi))), s"[$lo,$hi]")
    }
    // pruning law: a narrow window opens strictly fewer files than
    // the table holds — across BOTH the rewritten gen and carried gens
    val all = MergeTable.rangePaths(spark, dir, "cents", 0L, cMax + 1)
    val narrow = MergeTable.rangePaths(spark, dir, "cents", 100000L, 500000L)
    assert(all.size > 4, s"expected multi-file layout, got ${all.size}")
    assert(narrow.nonEmpty && narrow.size < all.size,
      s"no pruning: ${narrow.size} of ${all.size}")
    assert(all.exists(_.contains("gen=0")) && all.exists(_.contains("gen=1")),
      "both generations must serve")
    // disjoint window proves empty from footers alone
    assert(MergeTable.rangePaths(spark, dir, "cents", -100L, -1L).isEmpty)
    // a non-stats column is refused loudly
    intercept[IllegalArgumentException] {
      MergeTable.rangePaths(spark, dir, "ck", 0L, 1L)
    }
    // the clustered layout still satisfies every core law: lookup +
    // idempotent re-merge
    val k0 = base.orderBy("k").limit(1).head().getLong(0)
    import spark.implicits._
    assert(content(MergeTable.lookup(spark, dir, Seq(k0).toDF("k"))) ==
      content(state.where(col("k") === k0)))
    MergeTable.merge(spark, dir, ups, del)
    assert(content(MergeTable.read(spark, dir)) == content(state))
  }

  test("declarative table: key equality prunes buckets, stats predicates prune files") {
    val dir = tmpDir()
    MergeTable.create(base, dir, "k", nBuckets = 8,
      clusterBy = Some("cents"), statsCols = Seq("cents"),
      maxRecordsPerFile = 100L)
    val ups = base.where(col("k") % 7 === 0).withColumn("cents", col("cents") + 9L)
    val del = base.where(col("k") % 23 === 0 && col("k") % 7 =!= 0).select("k")
    MergeTable.merge(spark, dir, ups, del)
    val state = MergeTable.mergeBrute(base, "k", ups, del)
    def numFiles(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collectFirst {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.get.metrics("numFiles").value
    }
    val t = MergeTable.table(spark, dir)
    val total = numFiles(t)
    assert(content(t) == content(state), "full scan == folded state")
    // key equality through pure SQL: ≤ one bucket's files open
    t.createOrReplaceTempView("mt_decl")
    val k0 = state.orderBy("k").limit(1).head().getLong(0)
    val q1 = spark.sql(s"SELECT * FROM mt_decl WHERE k = $k0")
    val n1 = numFiles(q1)
    assert(n1 < total && n1 > 0, s"key equality kept $n1 of $total")
    assert(content(q1) == content(state.where(col("k") === k0)))
    // key IN (...) unions the probed buckets, still < total
    val k1 = state.orderBy(col("k").desc).limit(1).head().getLong(0)
    val qin = spark.sql(s"SELECT * FROM mt_decl WHERE k IN ($k0, $k1)")
    assert(numFiles(qin) < total)
    assert(content(qin) == content(state.where(col("k").isin(k0, k1))))
    // stats-column window: zone pruning fires on the same table
    val cMax = state.agg(max("cents")).head().getLong(0)
    val qw = t.where(col("cents").between(100000L, 500000L))
    assert(numFiles(qw) < total, "zone window did not prune")
    assert(content(qw) ==
      content(state.where(col("cents").between(100000L, 500000L))))
    // key equality AND window compose: at most the tighter of the two
    val qboth = t.where(col("k") === k0 && col("cents") <= cMax)
    assert(numFiles(qboth) <= n1)
    assert(content(qboth) ==
      content(state.where(col("k") === k0 && col("cents") <= cMax)))
    // the SQL TABLE FUNCTION surface: same pruning, zero registration
    val qtvf = spark.sql(
      s"SELECT * FROM graft_merge_table('$dir') WHERE k = $k0")
    val nTvf = numFiles(qtvf)
    assert(nTvf < total && nTvf > 0)
    assert(content(qtvf) == content(state.where(col("k") === k0)))
    // snapshot semantics: a merge AFTER construction is invisible to
    // the pinned table, visible to a fresh one
    val ups2 = base.orderBy("k").limit(1).withColumn("cents", lit(-777L))
    MergeTable.merge(spark, dir, ups2, base.limit(0).select("k"))
    assert(content(t.where(col("cents") === -777L)).isEmpty,
      "snapshot must not see a later merge")
    assert(content(MergeTable.table(spark, dir).where(col("cents") === -777L))
      .nonEmpty)
  }

  test("change data feed: content deltas between versions, composable") {
    val dir = tmpDir()
    MergeTable.create(base, dir, "k", nBuckets = 4)
    val ups1 = base.where(col("k") % 7 === 0).withColumn("cents", col("cents") + 9L)
    val del1 = base.where(col("k") % 23 === 0 && col("k") % 7 =!= 0).select("k")
    MergeTable.merge(spark, dir, ups1, del1)
    val s1 = MergeTable.mergeBrute(base, "k", ups1, del1)
    val ups2 = base.orderBy("k").limit(1).withColumn("cents", lit(-5L))
    MergeTable.merge(spark, dir, ups2, spark.range(0).select(col("id").as("k")))
    val s2 = MergeTable.mergeBrute(s1, "k", ups2,
      spark.range(0).select(col("id").as("k")))
    def changesOf(a: Int, b: Int) = {
      val c = MergeTable.changes(spark, dir, a, b)
      Seq("insert", "update_preimage", "update_postimage", "delete").flatMap(m =>
        content(c.where(col("change") === m).drop("change")).map((m, _))).toSet
    }
    // v1→v2: exactly the first batch's content effects, per mode —
    // the %7 upserts are updates (pre = base image, post = +9),
    // the deletes carry their old image, nothing is an insert
    val upd1keys = ups1.select("k")
    val want12: Set[(String, (Long, Long, Long))] =
      content(ups1).map(("update_postimage", _)) ++
        content(base.join(upd1keys, Seq("k"), "left_semi"))
          .map(("update_preimage", _)) ++
        content(base.join(del1, Seq("k"), "left_semi")).map(("delete", _))
    assert(changesOf(1, 2) == want12)
    // v2→v3: the single-key update — both images, nothing else
    assert(changesOf(2, 3) ==
      (content(ups2).map(("update_postimage", _)): Set[(String, (Long, Long, Long))]) ++
        content(s1.join(ups2.select("k"), Seq("k"), "left_semi"))
          .map(("update_preimage", _)))
    // v1→v3 composes: applying changes to the v1 state yields v3
    val c13 = MergeTable.changes(spark, dir, 1, 3)
    val applied = MergeTable.mergeBrute(base, "k",
      c13.where(col("change").isin("insert", "update_postimage")).drop("change"),
      c13.where(col("change") === "delete").select("k"))
    assert(content(applied) == content(s2), "changes(1,3) must replay to v3")
    // incremental aggregation: maintain sum(cents) per ck from the
    // feed alone — +post −pre +insert −delete == full recompute
    val delta = MergeTable.changes(spark, dir, 1, 3)
      .withColumn("sgn", when(col("change").isin("insert", "update_postimage"),
        1L).otherwise(-1L))
      .groupBy("ck").agg(sum(col("cents") * col("sgn")).as("d"))
    val maintained = base.groupBy("ck").agg(sum("cents").as("s"))
      .join(delta, Seq("ck"), "full_outer")
      .select(col("ck"),
        (coalesce(col("s"), lit(0L)) + coalesce(col("d"), lit(0L))).as("s"))
      .where(col("s") =!= 0L)
    val recomputed = s2.groupBy("ck").agg(sum("cents").as("s"))
      .where(col("s") =!= 0L)
    assert(content2(maintained) == content2(recomputed),
      "feed must maintain the aggregate exactly")
    // an upsert writing an identical row is NOT a content change
    MergeTable.merge(spark, dir,
      s2.orderBy("k").limit(1), spark.range(0).select(col("id").as("k")))
    assert(MergeTable.changes(spark, dir, 3, 4).count() == 0)
    intercept[IllegalArgumentException] { MergeTable.changes(spark, dir, 3, 3) }
  }

  test("schema evolution: widened columns version with the manifest; old versions keep their schema") {
    val dir = tmpDir()
    MergeTable.create(base, dir, "k", nBuckets = 4)
    val evolved = base.where(col("k") % 7 === 0)
      .withColumn("cents", col("cents") + 9L)
      .withColumn("tag", lit("x")).drop("ck")
    // a widened batch without the flag fails loudly
    intercept[IllegalArgumentException] {
      MergeTable.merge(spark, dir, evolved, base.limit(0).select("k"))
    }
    MergeTable.merge(spark, dir, evolved, base.limit(0).select("k"),
      evolveSchema = true)
    val t = MergeTable.read(spark, dir)
    assert(t.columns.toSeq == Seq("k", "ck", "cents", "tag"))
    // upserted rows: tag = x, ck NULL (omitted from the batch);
    // untouched rows: original ck, tag NULL
    val k7 = t.where(col("k") % 7 === 0)
    assert(k7.where(col("tag") === "x" && col("ck").isNull).count() == k7.count())
    val rest = t.where(col("k") % 7 =!= 0)
    assert(rest.where(col("tag").isNull && col("ck").isNotNull).count() == rest.count())
    assert(content(t.drop("tag").na.fill(Map("ck" -> -1L))) ==
      content(MergeTable.mergeBrute(base, "k",
        evolved.drop("tag").withColumn("ck", lit(-1L)).select("k", "ck", "cents"),
        spark.range(0).select(col("id").as("k")))))
    // TIME TRAVEL reads version 1 under its OWN (narrower) schema
    assert(MergeTable.readAt(spark, dir, 1).columns.toSeq ==
      Seq("k", "ck", "cents"))
    assert(content(MergeTable.readAt(spark, dir, 1)) == content(base))
    // the change feed across the evolution boundary compares under
    // the TO schema: preimages carry NULL in the added column
    val c = MergeTable.changes(spark, dir, 1, 2)
    assert(c.columns.contains("tag"))
    assert(c.where(col("change") === "update_postimage" && col("tag") === "x")
      .count() == evolved.count())
    assert(c.where(col("change") === "update_preimage" && col("tag").isNotNull)
      .count() == 0)
    // lookup and the declarative table serve the widened schema
    val k0 = evolved.orderBy("k").limit(1).head().getLong(0)
    import spark.implicits._
    val got = MergeTable.lookup(spark, dir, Seq(k0).toDF("k"))
    assert(got.columns.contains("tag") &&
      got.head().getAs[String]("tag") == "x")
    assert(MergeTable.table(spark, dir).columns.toSeq ==
      Seq("k", "ck", "cents", "tag"))
    // a later pre-evolution-shaped batch needs the flag too (it
    // OMITS tag), then lands with tag NULL
    val ups2 = base.where(col("k") % 11 === 0)
      .withColumn("cents", col("cents") + 1L)
    intercept[IllegalArgumentException] {
      MergeTable.merge(spark, dir, ups2, base.limit(0).select("k"))
    }
    MergeTable.merge(spark, dir, ups2, base.limit(0).select("k"),
      evolveSchema = true)
    assert(MergeTable.read(spark, dir)
      .where(col("k") % 11 === 0 && col("k") % 7 =!= 0 && col("tag").isNotNull)
      .count() == 0)
    // retyping a shared column is refused
    intercept[IllegalArgumentException] {
      MergeTable.merge(spark, dir,
        ups2.withColumn("cents", col("cents").cast("int")),
        base.limit(0).select("k"), evolveSchema = true)
    }
  }

  test("merge-on-read: a 1-row upsert writes O(delta) bytes, never O(bucket)") {
    val dir = tmpDir()
    // small files so every bucket holds MANY files — the write-
    // amplification law needs a multi-file bucket to bite
    MergeTable.create(base, dir, "k", nBuckets = 4,
      clusterBy = Some("cents"), statsCols = Seq("cents"),
      maxRecordsPerFile = 100L)
    val before = fileSig(dir)
    val baseBytes = before.values.flatten.map(_._2).sum
    val oneKey = base.orderBy("k").limit(1)
    val ups = oneKey.withColumn("cents", col("cents") + 1L)
    val noDel = spark.range(0).select(col("id").as("k"))
    MergeTable.mergeOnRead(spark, dir, ups, noDel)
    // content == the brute twin (same semantics as copy-on-write)
    val s1 = MergeTable.mergeBrute(base, "k", ups, noDel)
    assert(content(MergeTable.read(spark, dir)) == content(s1))
    // THE law: the delta generation holds ONE bucket dir with one tiny
    // file, and every pre-existing file is byte-identical — nothing
    // bucket-sized was rewritten
    val after = fileSig(dir)
    before.keys.foreach(k => assert(after(k) == before(k), s"$k rewritten"))
    val deltaDirs = after.keySet -- before.keySet
    assert(deltaDirs.size == 1, s"expected one delta bucket dir, got $deltaDirs")
    val deltaBytes = deltaDirs.toSeq.flatMap(after).map(_._2).sum
    assert(deltaBytes * 20 < baseBytes,
      s"delta bytes $deltaBytes not ≪ base bytes $baseBytes")
    // chains stack: a second MOR batch re-updates the same key and
    // deletes another — latest generation wins, tombstone drops
    val ups2 = oneKey.withColumn("cents", col("cents") + 2L)
    val del2 = base.orderBy(col("k").desc).limit(1).select("k")
    MergeTable.mergeOnRead(spark, dir, ups2, del2)
    val s2 = MergeTable.mergeBrute(s1, "k", ups2, del2)
    assert(content(MergeTable.read(spark, dir)) == content(s2))
    // zone-pruned range reads fold correctly over chained buckets
    val cMax = s2.agg(max("cents")).head().getLong(0)
    assert(content(MergeTable.readRange(spark, dir, "cents", 0L, cMax + 1)) ==
      content(s2))
    // lookup folds: the updated key serves its LATEST image
    import spark.implicits._
    val k0 = oneKey.head().getLong(0)
    assert(content(MergeTable.lookup(spark, dir, Seq(k0).toDF("k"))) ==
      content(s2.where(col("k") === k0)))
    // the declarative table refuses a chained snapshot, loudly
    val e = intercept[IllegalArgumentException] { MergeTable.table(spark, dir) }
    assert(e.getMessage.contains("compact"))
    // lookup stays bucket-pruned under chains: one probed key opens
    // only its bucket's base+delta dirs, never another bucket's
    val (_, _, probePaths) = MergeTable.lookupPaths(spark, dir,
      Seq(k0).toDF("k"))
    assert(probePaths.nonEmpty && probePaths.size <= 3,
      s"chained lookup opened ${probePaths.size} bucket dirs: $probePaths")
    // compact folds the chains into a fresh base; content unchanged,
    // chains gone, declarative table serves again
    MergeTable.compact(spark, dir)
    assert(content(MergeTable.read(spark, dir)) == content(s2))
    assert(content(MergeTable.table(spark, dir)) == content(s2))
    // time travel across the MOR versions still replays each state
    assert(content(MergeTable.readAt(spark, dir, 2)) == content(s1))
    // CDF across a MOR commit reads only the chained bucket's data
    val c = MergeTable.changes(spark, dir, 1, 2)
    assert(content(c.where(col("change") === "update_postimage")
      .drop("change")) == content(ups))
  }

  test("multi-writer: disjoint merges commute; overlapping merges serialize") {
    // --- commute: two writers plan from the SAME snapshot, touch
    // DISJOINT buckets — both commit, both effects land, the loser
    // re-points without re-merging (no third generation appears)
    val dir = tmpDir()
    MergeTable.create(base, dir, "k", nBuckets = 8)
    val rows = base.orderBy("k").limit(40).collect()
    def bOf(k: Long) = bucketOf(k, 8)
    val kA = rows.head.getLong(0)
    val kB = rows.map(_.getLong(0)).find(k => bOf(k) != bOf(kA)).get
    val noDel = spark.range(0).select(col("id").as("k"))
    val upsA = base.where(col("k") === kA).withColumn("cents", lit(11L))
    val upsB = base.where(col("k") === kB).withColumn("cents", lit(22L))
    MergeTable.mergeFrom(spark, dir, upsA, noDel, evolveSchema = false,
      baseV = 1, mor = false)
    // B plans against the STALE v1 snapshot — its CAS loses, commute fires
    MergeTable.mergeFrom(spark, dir, upsB, noDel, evolveSchema = false,
      baseV = 1, mor = false)
    assert(MergeTable.versions(spark, dir) == Seq(1, 2, 3))
    val s2 = MergeTable.mergeBrute(
      MergeTable.mergeBrute(base, "k", upsA, noDel), "k", upsB, noDel)
    assert(content(MergeTable.read(spark, dir)) == content(s2))
    assert(!new java.io.File(s"$dir/data/gen=3").exists(),
      "commute path must not re-merge into a third generation")
    // --- serialize: same key from both writers — the loser re-plans
    // against the winner's head; sequential semantics (loser wins)
    val dir2 = tmpDir()
    MergeTable.create(base, dir2, "k", nBuckets = 8)
    val upsX1 = base.where(col("k") === kA).withColumn("cents", lit(100L))
    val upsX2 = base.where(col("k") === kA).withColumn("cents", lit(200L))
    MergeTable.mergeFrom(spark, dir2, upsX1, noDel, evolveSchema = false,
      baseV = 1, mor = false)
    MergeTable.mergeFrom(spark, dir2, upsX2, noDel, evolveSchema = false,
      baseV = 1, mor = false)
    val got = MergeTable.read(spark, dir2).where(col("k") === kA)
      .select("cents").head().getLong(0)
    assert(got == 200L, s"loser must apply AFTER the winner, got cents=$got")
    // the loser's abandoned first generation is an invisible orphan;
    // vacuum reclaims it and disk == manifest afterwards (grace 0:
    // its claim marker is seconds old, and this test IS the
    // no-writers-live maintenance window)
    MergeTable.vacuum(spark, dir2, claimGraceMs = 0L)
    val live = fileSig(dir2).keySet
    val manifests = new java.io.File(s"$dir2/manifest").listFiles()
      .map(_.getName).filter(_.startsWith("v"))
    val m = spark.read.parquet(s"$dir2/manifest/${manifests.max}")
      .collect().filter(r => r.getInt(0) >= 0 && r.isNullAt(r.fieldIndex("file")))
      .map(r => s"gen=${r.getInt(1)}/bucket=${r.getInt(0)}").toSet
    assert(live == m, s"disk $live != manifest $m")
    // MOR deltas ride the same arbitration: stale-planned delta append
    // on a disjoint bucket commutes too
    val dir3 = tmpDir()
    MergeTable.create(base, dir3, "k", nBuckets = 8)
    MergeTable.mergeFrom(spark, dir3, upsA, noDel, evolveSchema = false,
      baseV = 1, mor = false)
    MergeTable.mergeFrom(spark, dir3, upsB, noDel, evolveSchema = false,
      baseV = 1, mor = true)
    assert(content(MergeTable.read(spark, dir3)) == content(s2))
  }

  test("multi-writer: four genuinely concurrent writers all land (threads, live race)") {
    // the staleness test above drives the arbitration paths
    // deterministically; this one exercises the REAL race — claim
    // markers + manifest CAS under true concurrency. Four threads
    // merge disjoint key sets from whatever snapshot they observe;
    // every batch must land exactly once, in some serial order.
    val dir = tmpDir()
    MergeTable.create(base, dir, "k", nBuckets = 8)
    val noDel = spark.range(0).select(col("id").as("k"))
    val mods = Seq(7L, 11L, 13L, 17L)
    // delta values coprime in construction: key k in batch m gets
    // cents = m*1000 + its residue class — overlapping keys (k
    // divisible by several moduli) end with the LAST writer's value,
    // whichever that turns out to be; the law checks each key's
    // final cents is one of its batches' values and every
    // non-overlapping key has exactly its batch's value
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fs = mods.map { m =>
      Future {
        MergeTable.merge(spark, dir,
          base.where(col("k") % m === 0)
            .withColumn("cents", lit(m * 1000L)), noDel)
      }
    }
    Await.result(Future.sequence(fs), 10.minutes)
    // every writer committed: version count is 1 (create) + 4 merges
    assert(MergeTable.versions(spark, dir).size == 5)
    val got = MergeTable.read(spark, dir)
    // row count unchanged (pure updates)
    assert(got.count() == base.count())
    // each single-modulus key carries exactly its writer's value;
    // multi-modulus keys carry one of theirs
    mods.foreach { m =>
      val only = got.where(col("k") % m === 0 &&
        mods.filterNot(_ == m).map(col("k") % _ =!= 0).reduce(_ && _))
      assert(only.where(col("cents") =!= m * 1000L).count() == 0,
        s"keys of modulus $m lost their update")
    }
    val multi = got.where(mods.map(col("k") % _ === 0).reduce(_ || _))
    assert(multi.where(!col("cents").isin(mods.map(m => m * 1000L): _*))
      .count() == 0, "an overlapping key holds a value no writer wrote")
    // untouched keys untouched
    val none = got.where(mods.map(col("k") % _ =!= 0).reduce(_ && _))
    val baseNone = base.where(mods.map(col("k") % _ =!= 0).reduce(_ && _))
    assert(content(none) == content(baseNone))
  }

  test("a crashed merge-on-read delta (written, uncommitted) is invisible; vacuum reclaims it") {
    val dir = tmpDir()
    MergeTable.create(base, dir, "k", nBuckets = 4)
    val before = content(MergeTable.read(spark, dir))
    // simulate a crash AFTER the delta write, BEFORE the manifest
    // commit: a delta-shaped generation directory nothing references
    base.limit(30).withColumn("cents", lit(-1L))
      .withColumn("_graft_op", lit("u"))
      .withColumn("bucket", pmod(xxhash64(col("k")), lit(4)).cast("int"))
      .write.partitionBy("bucket").mode("overwrite")
      .parquet(s"$dir/data/gen=9")
    assert(content(MergeTable.read(spark, dir)) == before,
      "uncommitted delta generation must be invisible")
    // a later MOR merge claims a FRESH generation (above the orphan)
    val ups = base.orderBy("k").limit(1).withColumn("cents", col("cents") + 5L)
    MergeTable.mergeOnRead(spark, dir, ups,
      spark.range(0).select(col("id").as("k")))
    val want = content(MergeTable.mergeBrute(base, "k", ups,
      spark.range(0).select(col("id").as("k"))))
    assert(content(MergeTable.read(spark, dir)) == want)
    MergeTable.vacuum(spark, dir)
    assert(!new java.io.File(s"$dir/data/gen=9").exists(),
      "vacuum must reclaim the orphan delta generation")
    assert(content(MergeTable.read(spark, dir)) == want)
  }

  test("vacuum grace window: an in-flight claim (fresh marker, never referenced) survives") {
    val dir = tmpDir()
    MergeTable.create(base, dir, "k", nBuckets = 4)
    // simulate an IN-FLIGHT merge: a fresh claim marker + half-written
    // data that no manifest references yet (the writer is mid-commit)
    new java.io.File(s"$dir/data/.gen-7.claim").createNewFile()
    base.limit(10).withColumn("bucket", lit(0))
      .write.partitionBy("bucket").mode("overwrite").parquet(s"$dir/data/gen=7")
    MergeTable.vacuum(spark, dir) // default grace: marker is seconds old
    assert(new java.io.File(s"$dir/data/.gen-7.claim").exists(),
      "vacuum must not reclaim a claim inside the grace window")
    assert(new java.io.File(s"$dir/data/gen=7").exists(),
      "vacuum must not reclaim an in-flight claim's data")
    // outside the window (grace 0) the crashed claim reclaims
    MergeTable.vacuum(spark, dir, claimGraceMs = 0L)
    assert(!new java.io.File(s"$dir/data/.gen-7.claim").exists())
    assert(!new java.io.File(s"$dir/data/gen=7").exists())
    // a SUPERSEDED generation (referenced by an old manifest) is never
    // "in-flight": its buckets reclaim even with a fresh claim marker
    val ups = base.withColumn("cents", col("cents") + 1L)
    MergeTable.merge(spark, dir, ups, spark.range(0).select(col("id").as("k")))
    MergeTable.vacuum(spark, dir) // default grace; gen-0 marker is fresh
    assert(!new java.io.File(s"$dir/data/gen=0").exists(),
      "a superseded committed generation reclaims regardless of marker age")
  }

  test("vacuum retention horizon: retained versions read, older foreclose") {
    val dir = tmpDir()
    MergeTable.create(base, dir, "k", nBuckets = 4)
    val noDel = spark.range(0).select(col("id").as("k"))
    val ups1 = base.where(col("k") % 7 === 0).withColumn("cents", col("cents") + 9L)
    MergeTable.merge(spark, dir, ups1, noDel)
    val ups2 = base.where(col("k") % 11 === 0).withColumn("cents", col("cents") + 3L)
    MergeTable.merge(spark, dir, ups2, noDel)
    val s1 = MergeTable.mergeBrute(base, "k", ups1, noDel)
    val s2 = MergeTable.mergeBrute(s1, "k", ups2, noDel)
    intercept[IllegalArgumentException] { MergeTable.vacuum(spark, dir, 0) }
    MergeTable.vacuum(spark, dir, retainLast = 2)
    // inside the horizon: both versions fully readable, CDF included
    assert(MergeTable.versions(spark, dir) == Seq(2, 3))
    assert(content(MergeTable.readAt(spark, dir, 2)) == content(s1))
    assert(content(MergeTable.readAt(spark, dir, 3)) == content(s2))
    assert(MergeTable.changes(spark, dir, 2, 3).count() > 0)
    // outside: foreclosed loudly, with the horizon in the message
    val e = intercept[IllegalArgumentException] { MergeTable.readAt(spark, dir, 1) }
    assert(e.getMessage.contains("retention"))
    intercept[IllegalArgumentException] { MergeTable.changes(spark, dir, 1, 3) }
  }

  test("manifest-carried zone stats: pruned reads open zero sidecar files") {
    val dir = tmpDir()
    MergeTable.create(base, dir, "k", nBuckets = 4,
      clusterBy = Some("cents"), statsCols = Seq("cents"),
      maxRecordsPerFile = 100L)
    val noDel = spark.range(0).select(col("id").as("k"))
    val ups = base.orderBy("k").limit(1).withColumn("cents", col("cents") + 9L)
    MergeTable.merge(spark, dir, ups, noDel)
    // no sidecar exists ANYWHERE under the table — the stats ride the
    // manifest, so there is nothing else a read could even open
    val side = new java.io.File(s"$dir/data").listFiles()
      .filter(_.getName.startsWith("gen="))
      .flatMap(_.listFiles()).map(_.getName).filter(_ == "_zonemap")
    assert(side.isEmpty, "zone stats must live in the manifest, not sidecars")
    // ...and pruning still fires across BOTH generations
    val state = MergeTable.mergeBrute(base, "k", ups, noDel)
    val cMax = state.agg(max("cents")).head().getLong(0)
    val all = MergeTable.rangePaths(spark, dir, "cents", 0L, cMax + 1)
    val narrow = MergeTable.rangePaths(spark, dir, "cents", 100000L, 500000L)
    assert(all.size > 4 && narrow.nonEmpty && narrow.size < all.size,
      s"no pruning: ${narrow.size} of ${all.size}")
    assert(content(MergeTable.readRange(spark, dir, "cents", 100000L, 500000L))
      == content(state.where(col("cents").between(100000L, 500000L))))
  }

  test("manifest format: 3- and 2-column manifests refuse loudly") {
    // each older layout replaces v1 of a fresh table: the r11
    // three-column form (bucket, gen, schema_json; a sentinel row
    // carries the schema) and the pre-sentinel two-column one
    import spark.implicits._
    val older = Seq(
      Seq((-1, -1, base.schema.json), (0, 0, null), (1, 0, null))
        .toDF("bucket", "gen", "schema_json"),
      Seq((0, 0), (1, 0)).toDF("bucket", "gen"))
    older.foreach { manifest =>
      val dir = tmpDir()
      MergeTable.create(base, dir, "k", nBuckets = 4)
      manifest.coalesce(1).write.parquet(s"$dir/manifest-older")
      deleteRec(new java.io.File(s"$dir/manifest/v000001"))
      assert(new java.io.File(s"$dir/manifest-older")
        .renameTo(new java.io.File(s"$dir/manifest/v000001")))
      val e = intercept[IllegalArgumentException] { MergeTable.read(spark, dir) }
      assert(e.getMessage.contains("older MergeTable layout"), e.getMessage)
    }
  }

  private def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteRec)
    f.delete()
  }

  test("merge-on-read + schema evolution: widened deltas fold, history NULL-fills, compact keeps the schema") {
    val dir = tmpDir()
    MergeTable.create(base, dir, "k", nBuckets = 4)
    val noDel = spark.range(0).select(col("id").as("k"))
    val evolved = base.where(col("k") % 7 === 0)
      .withColumn("cents", col("cents") + 9L)
      .withColumn("tag", lit("x")).drop("ck")
    // widened MOR batch without the flag fails loudly, like COW
    intercept[IllegalArgumentException] {
      MergeTable.mergeOnRead(spark, dir, evolved, noDel)
    }
    MergeTable.mergeOnRead(spark, dir, evolved, noDel, evolveSchema = true)
    val t = MergeTable.read(spark, dir)
    assert(t.columns.toSeq == Seq("k", "ck", "cents", "tag"))
    // upserted rows fold in with tag=x, ck NULL (omitted); untouched
    // base rows read tag NULL under the widened schema
    val k7 = t.where(col("k") % 7 === 0)
    assert(k7.where(col("tag") === "x" && col("ck").isNull).count() == k7.count())
    val rest = t.where(col("k") % 7 =!= 0)
    assert(rest.where(col("tag").isNull && col("ck").isNotNull).count() == rest.count())
    // time travel reads v1 under its own narrower schema
    assert(MergeTable.readAt(spark, dir, 1).columns.toSeq == Seq("k", "ck", "cents"))
    // compact folds the chain and keeps the widened schema + content
    val want = t.collect().map(_.toSeq).toSet
    MergeTable.compact(spark, dir)
    val c = MergeTable.read(spark, dir)
    assert(c.columns.toSeq == Seq("k", "ck", "cents", "tag"))
    assert(c.collect().map(_.toSeq).toSet == want)
    // case-insensitive matching: a batch carrying 'Tag' lands in the
    // existing 'tag' column, never beside it (session default)
    val ups2 = base.where(col("k") % 13 === 0)
      .withColumn("cents", col("cents") + 1L)
      .withColumn("Tag", lit("y")).drop("ck")
    MergeTable.mergeOnRead(spark, dir, ups2, noDel, evolveSchema = true)
    val t2 = MergeTable.read(spark, dir)
    assert(t2.columns.toSeq == Seq("k", "ck", "cents", "tag"),
      s"case-duplicate column committed: ${t2.columns.mkString(",")}")
    assert(t2.where(col("k") % 13 === 0 && col("k") % 7 =!= 0)
      .where(col("tag") === "y").count() ==
      t2.where(col("k") % 13 === 0 && col("k") % 7 =!= 0).count())
  }

  test("streaming CDC apply: folded end state + restart replays nothing") {
    val dir = tmpDir()
    MergeTable.create(base, dir, "k", nBuckets = 4)
    // tmp + ckpt live INSIDE the unique temp root: "$src/../x" would
    // resolve to the shared /tmp/x and collide across concurrent runs
    val root = java.nio.file.Files.createTempDirectory("graft-merge-s").toString
    val src = new java.io.File(root, "src").toString
    new java.io.File(src).mkdirs()
    def writeBatch(b: Int, df: DataFrame): Unit = {
      val tmp = s"$root/tmp$b"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(src, f"b$b%02d.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(1700000000000L + b * 60000L)
    }
    val ups1 = base.where(col("k") % 7 === 0).withColumn("cents", col("cents") + 9L)
    val del1 = base.where(col("k") % 23 === 0 && col("k") % 7 =!= 0)
    val ups2 = base.where(col("k") % 11 === 0).withColumn("cents", col("cents") + 3L)
    writeBatch(0, ups1.withColumn("op", lit("u"))
      .unionByName(del1.withColumn("op", lit("d"))))
    writeBatch(1, ups2.withColumn("op", lit("u")))
    val ckpt = s"$root/ckpt"
    val got = content(graft.streaming.StreamOps.runMergeStream(
      spark, src, dir, ckpt, "k"))
    val s1 = MergeTable.mergeBrute(base, "k", ups1, del1.select("k"))
    val s2 = MergeTable.mergeBrute(s1, "k", ups2,
      spark.range(0).select(col("id").as("k")))
    assert(got == content(s2))
    // restart with the same checkpoint: no new batches, state unchanged
    val again = content(graft.streaming.StreamOps.runMergeStream(
      spark, src, dir, ckpt, "k"))
    assert(again == got)
    // the MERGE-ON-READ apply mode folds to the identical end state
    // (delta chains instead of bucket rewrites), and a restart
    // replays nothing there either
    val dirM = s"$root/tmor"
    MergeTable.create(base, dirM, "k", nBuckets = 4)
    val ckptM = s"$root/ckpt-mor"
    val gotM = content(graft.streaming.StreamOps.runMergeStream(
      spark, src, dirM, ckptM, "k", mergeOnRead = true))
    assert(gotM == got, "MOR stream apply must be content-identical to COW")
    assert(content(graft.streaming.StreamOps.runMergeStream(
      spark, src, dirM, ckptM, "k", mergeOnRead = true)) == got)
    // both batches live as chains (no bucket was rewritten) until
    // compact folds them
    MergeTable.compact(spark, dirM)
    assert(content(MergeTable.read(spark, dirM)) == got)
  }

  test("a merge checks its batch contract and finds its buckets in one action") {
    import spark.implicits._
    val keys = base.select("k").as[Long].collect().sorted
    for (mor <- Seq(true, false)) {
      val perSize = Seq(10, 1000).map { n =>
        val dir = tmpDir()
        MergeTable.create(base, dir, "k", nBuckets = 4)
        val ups = keys.take(n).toSeq.map(k => (k, k % 50, k * 3)).toDF("k", "ck", "cents")
        val del = keys.slice(n, n + n / 10 + 1).toSeq.toDF("k")
        val (_, jobs) = jobsOf {
          if (mor) MergeTable.mergeOnRead(spark, dir, ups, del)
          else MergeTable.merge(spark, dir, ups, del)
        }
        // the first action is the contract step; the other is the write
        assert(jobs.distinct.size == 2,
          s"mor=$mor, $n keys: ${jobs.distinct.size} actions (${jobs.mkString(", ")})")
        jobs.count(_ == jobs.head)
      }
      assert(perSize.distinct.size == 1,
        s"mor=$mor: contract-step jobs for 10 vs 1000 keys: ${perSize.mkString(" vs ")}")
    }
  }

  test("a read that names more than 32 bucket directories launches no listing job") {
    val dir = tmpDir()
    MergeTable.create(base, dir, "k", nBuckets = 40)
    assert(fileSig(dir).size > 32, "the read must name more than 32 directories")
    val (plain, jobs) = jobsOf(MergeTable.read(spark, dir))
    assert(jobs.isEmpty, s"${jobs.size} job(s) while planning a fold-free read")
    assert(content(plain) == content(base))
    // the merge-on-read fold names base and delta directories of every bucket
    val ups = base.where(col("k") % 3 === 0).withColumn("cents", col("cents") + 7L)
    val del = base.where(col("k") % 3 === 1).select("k")
    MergeTable.mergeOnRead(spark, dir, ups, del)
    val (folded, foldJobs) = jobsOf(MergeTable.read(spark, dir))
    assert(foldJobs.isEmpty, s"${foldJobs.size} job(s) while planning a folded read")
    assert(content(folded) == content(MergeTable.mergeBrute(base, "k", ups, del)))
  }

  test("batch-contract messages: duplicate, both, null keys, at most five samples") {
    import spark.implicits._
    val dir = tmpDir()
    MergeTable.create(base, dir, "k", nBuckets = 4)
    def ups(ks: Option[Long]*) = ks.map(k => (k, 1L, 1L)).toDF("k", "ck", "cents")
    def dels(ks: Option[Long]*) = ks.toDF("k")
    def message(u: org.apache.spark.sql.DataFrame, d: org.apache.spark.sql.DataFrame) =
      intercept[IllegalArgumentException](MergeTable.mergeOnRead(spark, dir, u, d)).getMessage
    val dupTail = " (a merge batch must resolve its own conflicts; an arbitrary" +
      " last-writer would be nondeterministic under shuffles)"
    assert(message(ups(Some(5L), Some(5L)), dels()) ==
      "requirement failed: merge: duplicate keys in batch — 5" + dupTail)
    assert(message(ups(Some(7L)), dels(Some(7L))) ==
      "requirement failed: merge: keys both upserted and deleted — 7")
    assert(message(ups(None, None), dels()) ==
      "requirement failed: merge: duplicate keys in batch — null" + dupTail)
    val many = message(ups((1L to 7L).flatMap(k => Seq(Some(k), Some(k))): _*), dels())
    assert(many.stripSuffix(dupTail).split(", ").length == 5, many)
    // a null key joins nothing: upserted and deleted is no conflict, and
    // duplicate delete keys are allowed
    MergeTable.mergeOnRead(spark, dir, ups(None), dels(None, Some(3L), Some(3L)))
  }
}
