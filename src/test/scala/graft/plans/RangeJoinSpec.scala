package graft.plans

import graft.{Session, SparkSpec}

/** Binned range join: operator semantics vs the naive theta-join, and
  * the optimizer rule's rewrite behavior (fires on no-equi BETWEEN
  * joins, leaves equi-joins alone, honors the kill switch). */
class RangeJoinSpec extends SparkSpec {

  private def fixtures = {
    import spark.implicits._
    // negative values exercise the truncating-division monotonicity
    // argument; the null probe row must match nothing in both forms
    val probe = (Seq[java.lang.Long](null) ++ (-500L to 1500L by 7).map(Long.box))
      .toDF("x")
    // -45, 102, 1096 are probe values (≡ 4 mod 7), so the equi-key
    // test has non-empty results; -1000 and 2002 are not
    val ranges = Seq(
      (-1000L, -100L, "neg"), (-45L, 120L, "straddle"),
      (102L, 1100L, "wide"), (1096L, 1100L, "narrow"),
      (2002L, 3000L, "empty")).toDF("lo", "hi", "tag")
    (probe, ranges)
  }

  test("binned operator matches the naive theta-join bit for bit") {
    import spark.implicits._
    val (probe, ranges) = fixtures
    for (w <- Seq(1L, 64L, 1000000L)) {
      val got = RangeJoin.binned(probe, "x", ranges, "lo", "hi", w)
        .select("x", "tag").collect().toSet
      val want = probe.join(ranges, $"x" >= $"lo" && $"x" <= $"hi")
        .select("x", "tag").collect().toSet
      assert(got === want, s"binWidth=$w")
      assert(got.nonEmpty)
    }
  }

  test("rule rewrites a SQL BETWEEN join off the nested-loop path") {
    val (probe, ranges) = fixtures
    probe.createOrReplaceTempView("rj_probe")
    ranges.createOrReplaceTempView("rj_ranges")
    val q = "SELECT x, tag FROM rj_probe JOIN rj_ranges " +
      "ON x BETWEEN lo AND hi"
    val on = spark.sql(q)
    val phys = on.queryExecution.executedPlan.toString
    assert(!phys.contains("BroadcastNestedLoopJoin") &&
      !phys.contains("CartesianProduct"), phys)
    assert(phys.contains("Generate"), phys)
    val expect = Session.withConf(spark, "spark.graft.rangejoin.enabled" -> "false") {
      val off = spark.sql(q)
      assert(!off.queryExecution.executedPlan.toString.contains("Generate"))
      off.collect().toSet
    }
    assert(on.collect().toSet === expect)
  }

  test("wide-interval fuse: a sentinel range fails loudly, not with OOM") {
    import spark.implicits._
    val probe = (1L to 100L).toDF("x")
    // hi = Long.MaxValue sentinel: span/binWidth ≈ 2⁵² bins
    val ranges = Seq((0L, Long.MaxValue, "open")).toDF("lo", "hi", "tag")
    // operator surface
    val exOp = intercept[Exception] {
      RangeJoin.binned(probe, "x", ranges, "lo", "hi", 4096L).count()
    }
    assert(exOp.getMessage.contains("graft range join"), exOp.getMessage)
    // rule surface
    probe.createOrReplaceTempView("rj_probe2")
    ranges.createOrReplaceTempView("rj_ranges2")
    val exRule = intercept[Exception] {
      spark.sql("SELECT x, tag FROM rj_probe2 JOIN rj_ranges2 " +
        "ON x >= lo AND x <= hi").count()
    }
    assert(exRule.getMessage.contains("spark.graft.rangejoin"),
      exRule.getMessage)
    // a cap raise (here: binwidth raise) lets the same query run:
    // span/binWidth falls under maxbins when binwidth covers the span
    val naive = Session.withConf(spark, "spark.graft.rangejoin.enabled" -> "false") {
      spark.sql("SELECT count(*) FROM rj_probe2 JOIN rj_ranges2 " +
        "ON x >= lo AND x <= hi").head().getLong(0)
    }
    assert(naive === 100L)
  }

  test("rule leaves joins with an equi-key alone") {
    val (probe, ranges) = fixtures
    probe.createOrReplaceTempView("rj_probe")
    ranges.createOrReplaceTempView("rj_ranges")
    import spark.implicits._
    val df = spark.sql(
      "SELECT x, tag FROM rj_probe JOIN rj_ranges ON x = lo AND x <= hi")
    assert(!df.queryExecution.executedPlan.toString.contains("Generate"))
    val naive = probe.join(ranges, $"x" === $"lo" && $"x" <= $"hi")
      .select("x", "tag").collect().toSet
    assert(naive.nonEmpty) // -50/straddle and 100/wide are probe values
    assert(df.collect().toSet === naive)
  }
}
