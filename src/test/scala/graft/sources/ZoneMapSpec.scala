package graft.sources

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** File-level zone maps ([[ZoneMap]], gate q285): footer-harvested
  * min/max sidecar → path-pruned range scans. Laws: scanRange ==
  * full-scan twin at every range shape (interior, full, empty,
  * disjoint-below/above), a narrow range over z-clustered data
  * actually DROPS files, and unusable stats degrade to keep-all,
  * never to a wrong answer. */
class ZoneMapSpec extends SparkSpec {

  private def content(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("scanRange == brute twin at every range shape; narrow ranges prune files") {
    val li = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
    val out = java.nio.file.Files.createTempDirectory("graft-zm").toString + "/li"
    Tabular.writeClusteredParquet(li, out, Seq("l_partkey", "l_suppkey"),
      nFiles = 4, maxRecordsPerFile = 125)
    ZoneMap.write(spark, out, Seq("l_partkey", "l_suppkey"))

    val pkMax = li.agg(max(col("l_partkey").cast("long"))).head().getLong(0)
    val ranges = Seq(
      (100L, 150L),          // interior, selective
      (0L, pkMax + 10),      // full table
      (150L, 100L),          // empty interval
      (-50L, -1L),           // disjoint below
      (pkMax + 1, pkMax + 9) // disjoint above
    )
    ranges.foreach { case (lo, hi) =>
      val got = ZoneMap.scanRange(spark, out, "l_partkey", lo, hi)
      val want = ZoneMap.scanRangeBrute(spark, out, "l_partkey", lo, hi)
      assert(content(got) == content(want), s"range [$lo,$hi] mismatch")
    }
    // the point of the layout: a narrow range opens FEWER files
    val (keptNarrow, total) = ZoneMap.keptFiles(spark, out, "l_partkey", 100L, 150L)
    assert(total > 4, s"expected a multi-file layout, got $total")
    assert(keptNarrow.nonEmpty && keptNarrow.size < total,
      s"narrow range kept ${keptNarrow.size} of $total files — no pruning")
    // disjoint ranges prove emptiness from footers alone
    assert(ZoneMap.keptFiles(spark, out, "l_partkey", -50L, -1L)._1.isEmpty)
    // BOTH clustered dims prune (what z-order buys) — on a synthetic
    // table whose dims have comparable domains, so the z-splits
    // reach both dims' bits regardless of where the range sampler
    // lands file boundaries (lineitem's suppkey spans only 0-9 at
    // the smallest SF, which makes second-dim pruning boundary-luck)
    import spark.implicits._
    val syn = spark.range(8000).select(
      (col("id") % 256).as("a"), ((col("id") * 37) % 256).as("b"))
    val out2 = java.nio.file.Files.createTempDirectory("graft-zm-syn").toString + "/t"
    Tabular.writeClusteredParquet(syn, out2, Seq("a", "b"),
      nFiles = 4, maxRecordsPerFile = 250)
    ZoneMap.write(spark, out2, Seq("a", "b"))
    val (keptA, totalSyn) = ZoneMap.keptFiles(spark, out2, "a", 0L, 31L)
    val (keptB, _) = ZoneMap.keptFiles(spark, out2, "b", 0L, 31L)
    assert(totalSyn > 8, s"expected a multi-file synthetic layout, got $totalSyn")
    assert(keptA.nonEmpty && keptA.size < totalSyn,
      s"dim a kept ${keptA.size} of $totalSyn")
    assert(keptB.nonEmpty && keptB.size < totalSyn,
      s"dim b kept ${keptB.size} of $totalSyn — z-order should prune both dims")
  }

  test("declarative table: pushed predicates prune files with no special API") {
    import spark.implicits._
    val li = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
    val out = java.nio.file.Files.createTempDirectory("graft-zmt").toString + "/li"
    Tabular.writeClusteredParquet(li, out, Seq("l_partkey", "l_suppkey"),
      nFiles = 4, maxRecordsPerFile = 125)
    ZoneMap.write(spark, out, Seq("l_partkey", "l_suppkey"))
    val total = new java.io.File(out).listFiles()
      .count(_.getName.endsWith(".parquet"))

    // numFiles is posted when the scan first computes its selected
    // partitions (a lazy val) — measure each query exactly once
    def numFiles(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collectFirst {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.get.metrics("numFiles").value
    }
    val t = ZoneMap.table(spark, out)
    // plain WHERE through Catalyst: fewer files opened, same answer
    val q = t.where($"l_partkey".between(100, 150))
    val nRange = numFiles(q)
    assert(nRange < total, s"no pruning: $total files opened")
    assert(content(q) ==
      content(ZoneMap.scanRangeBrute(spark, out, "l_partkey", 100L, 150L)))
    // equality predicate, written through SQL
    t.createOrReplaceTempView("zoned_li")
    val qe = spark.sql("SELECT * FROM zoned_li WHERE l_partkey = 42")
    assert(numFiles(qe) < total)
    assert(content(qe) ==
      content(spark.read.parquet(out).where($"l_partkey" === 42)))
    // provably-empty predicate opens zero files
    assert(numFiles(t.where($"l_partkey" < -5)) == 0L)
    // un-harvested / unsupported predicates: full scan, right answer
    val qu = t.where($"l_quantity" > 25)
    assert(numFiles(qu) == total)
    assert(content(qu) ==
      content(spark.read.parquet(out).where($"l_quantity" > 25)))
    // both dims at once (the z-order payoff) — at least as tight
    val q2 = t.where($"l_partkey".between(100, 150) && $"l_suppkey" <= 3)
    assert(numFiles(q2) <= nRange)
    assert(content(q2) == content(spark.read.parquet(out)
      .where($"l_partkey".between(100, 150) && $"l_suppkey" <= 3)))
    // the SQL TABLE FUNCTION surface: same table, zero registration
    val qtvf = spark.sql(
      s"SELECT * FROM graft_zonemap_table('$out') WHERE l_partkey BETWEEN 100 AND 150")
    assert(numFiles(qtvf) < total, "TVF path must prune like the API path")
    assert(content(qtvf) ==
      content(ZoneMap.scanRangeBrute(spark, out, "l_partkey", 100L, 150L)))
  }

  test("all-null files prune; unusable stats keep conservatively") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-zm2").toString + "/t"
    // file 1: v present, s string; file 2: v ALL NULL
    Seq((1L, Some(10L), "a"), (2L, Some(20L), "b")).toDF("id", "v", "s")
      .coalesce(1).write.parquet(dir)
    Seq((3L, None: Option[Long], "c"), (4L, None: Option[Long], "d"))
      .toDF("id", "v", "s").coalesce(1).write.mode("append").parquet(dir)
    ZoneMap.write(spark, dir, Seq("v", "s"))
    // the all-null-v file is provably empty under any range on v
    val (kept, total) = ZoneMap.keptFiles(spark, dir, "v", 0L, 100L)
    assert(total == 2 && kept.size == 1, s"kept=$kept total=$total")
    assert(content(ZoneMap.scanRange(spark, dir, "v", 0L, 100L)) ==
      content(ZoneMap.scanRangeBrute(spark, dir, "v", 0L, 100L)))
    // string-typed column through the LONG range API: kept
    // conservatively, never wrongly pruned
    val (keptS, totalS) = ZoneMap.keptFiles(spark, dir, "s", 0L, 0L)
    assert(keptS.size == totalS, "string zones must not serve the long API")
    // un-harvested column: loud error, not silent keep-all
    intercept[IllegalArgumentException] {
      ZoneMap.keptFiles(spark, dir, "id", 0L, 1L)
    }
    // STRING zones through the declarative table: file 1 holds
    // {a,b}, file 2 {c,d} — equality and ranges prune by UTF-8 order
    def numFiles(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collectFirst {
        case sc: org.apache.spark.sql.execution.FileSourceScanExec => sc
      }.get.metrics("numFiles").value
    }
    import org.apache.spark.sql.functions.{col => c}
    val t = ZoneMap.table(spark, dir)
    val qe = t.where(c("s") === "a")
    assert(numFiles(qe) == 1, "string equality should open one file")
    assert(content(qe) == content(spark.read.parquet(dir).where(c("s") === "a")))
    val qr = t.where(c("s") >= "c")
    assert(numFiles(qr) == 1, "string range should open one file")
    assert(content(qr) == content(spark.read.parquet(dir).where(c("s") >= "c")))
    assert(numFiles(t.where(c("s") > "zzz")) == 0, "past-the-end range opens none")
    // the all-null-v file also prunes under IS NOT NULL alone
    assert(numFiles(t.where(c("v").isNotNull)) == 1)
  }

  test("the sidecar reads on the driver: no job, no ignored-path WARN; re-harvests and Spark-written sidecars read") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-zm-meta").toString
    val out = s"$tmp/li"
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_partkey", "l_suppkey")
    Tabular.writeClusteredParquet(li, out, Seq("l_partkey", "l_suppkey"),
      nFiles = 4, maxRecordsPerFile = 125)
    ZoneMap.write(spark, out, Seq("l_partkey"))
    // a re-harvest replaces the sidecar: the second column appears
    ZoneMap.write(spark, out, Seq("l_partkey", "l_suppkey"))
    val (kept, keptJobs) = jobsOf(ZoneMap.keptFiles(spark, out, "l_suppkey", 0L, 3L))
    assert(keptJobs.isEmpty, s"keptFiles ran ${keptJobs.size} Spark jobs")
    assert(kept._1.nonEmpty && kept._1.size < kept._2, s"no pruning: $kept")
    val (_, tableJobs) = jobsOf(ZoneMap.table(spark, out))
    assert(tableJobs.isEmpty, s"building the table ran ${tableJobs.size} Spark jobs")
    // a sidecar DIRECTORY of Spark part files (how earlier versions
    // wrote it) reads the same
    val plain = s"$tmp/zonemap.parquet"
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$out/_zonemap"),
      java.nio.file.Paths.get(plain))
    Seq("_zonemap", "._zonemap.crc").foreach(f => new java.io.File(s"$out/$f").delete())
    spark.read.parquet(plain).coalesce(1).write.parquet(s"$out/_zonemap")
    assert(new java.io.File(s"$out/_zonemap").isDirectory)
    assert(ZoneMap.keptFiles(spark, out, "l_suppkey", 0L, 3L) == kept)
    // the zone-map gates read no hidden root through a Spark reader
    val events = logged {
      Seq("q285_zonemap_scan", "q287_zonemap_table_sql")
        .foreach(q => graft.SparkEntry.queries(q)(spark, sf).collect())
    }
    val ignored = events.map(_.getMessage.getFormattedMessage)
      .filter(_.contains("All paths were ignored"))
    assert(ignored.isEmpty, ignored.mkString("\n"))
  }
}
