package graft.plans

import graft.{Session, SparkSpec}
import org.apache.spark.sql.functions._

/** GlobalRankWindowRule: plain-SQL unpartitioned rank windows over
  * data-sized inputs rewrite to the range-partitioned two-pass plan,
  * results stay bit-identical (including ties and every ntile shape),
  * sub-threshold inputs and non-rank windows keep the stock plan. */
class GlobalRankWindowSpec extends SparkSpec {

  private val anySize = "spark.graft.globalrank.minbytes" -> "1"
  private val ruleOff = "spark.graft.globalrank.enabled" -> "false"

  private def fixture = {
    import spark.implicits._
    // duplicated (a, b) keys on purpose: tie semantics are the trap
    (1 to 5000).map(i => (i % 97, i % 13, i)).toDF("a", "b", "id")
  }

  test("row_number/rank/percent_rank/ntile over ORDER BY rewrite and match exactly") {
    fixture.createOrReplaceTempView("grw_t")
    val q = """SELECT a, b,
              |  row_number() OVER (ORDER BY a, b) AS rn,
              |  rank() OVER (ORDER BY a, b) AS rk,
              |  percent_rank() OVER (ORDER BY a, b) AS pr,
              |  ntile(7) OVER (ORDER BY a, b) AS nt
              |FROM grw_t""".stripMargin
    val (got, gotPlan) = Session.withConf(spark, anySize) {
      val df = spark.sql(q)
      (df.collect(), df.queryExecution.executedPlan.toString)
    }
    assert(gotPlan.contains("__gr_pid"), "rule did not fire:\n" + gotPlan.take(2000))
    assert(gotPlan.contains("Exchange rangepartitioning"), gotPlan.take(2000))
    // correctness of the rewrite REQUIRES the rank and stats branches
    // to see the IDENTICAL range partitioning: RangePartitioner's
    // bound sampling is seeded per RDD, so two independently
    // materialized exchanges can pick different bounds and corrupt
    // the offsets silently. Pin the invariant the rewrite relies on —
    // exactly ONE materialized range exchange in the final adaptive
    // plan, every other appearance a ReusedExchange — so a reuse
    // regression (Spark upgrade, pruning change) fails loudly here
    // instead of producing wrong ranks (round-9 ADVICE item 2).
    val finalPlan = gotPlan.substring(0, gotPlan.indexOf("== Initial Plan ==") match {
      case -1 => gotPlan.length; case i => i })
    val finalRange = "\\+- Exchange rangepartitioning".r.findAllIn(finalPlan).length
    val reused = "ReusedExchange".r.findAllIn(finalPlan).length
    assert(finalRange == 1,
      s"expected exactly 1 materialized range exchange, got $finalRange:\n" +
        finalPlan.take(3000))
    assert(reused >= 1,
      "stats branch did not reuse the rank branch's range shuffle:\n" +
        finalPlan.take(3000))
    val want = Session.withConf(spark, ruleOff) {
      val off = spark.sql(q)
      assert(!off.queryExecution.executedPlan.toString.contains("__gr_pid"))
      off.collect()
    }
    // ties make positional columns (rn, nt) per-row arbitrary; the
    // full-row MULTISETS must match (what the oracle compare hashes),
    // and the tie-aware columns (rk, pr) must match per (a, b) key
    def ms(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    assert(ms(got) == ms(want))
    val gotTie = got.map(r => (r.getInt(0), r.getInt(1)) ->
      (r.getInt(3), r.getDouble(4))).toMap
    val wantTie = want.map(r => (r.getInt(0), r.getInt(1)) ->
      (r.getInt(3), r.getDouble(4))).toMap
    assert(gotTie == wantTie, "rank/percent_rank disagree on some key")
  }

  test("ntile matches for every (n, k) shape including k > n") {
    import spark.implicits._
    for (n <- Seq(1, 10, 23); k <- Seq(1, 4, 30)) {
      val df = (1 to n).toDF("v")
      df.createOrReplaceTempView("grw_s")
      val q = s"SELECT v, ntile($k) OVER (ORDER BY v) AS t FROM grw_s"
      val got = Session.withConf(spark, anySize) {
        val d = spark.sql(q)
        assert(d.queryExecution.executedPlan.toString.contains("__gr_pid"))
        d.collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
      }
      val want = Session.withConf(spark, ruleOff) {
        spark.sql(q).collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
      }
      assert(got == want, s"n=$n k=$k")
    }
  }

  test("sub-threshold inputs and non-rank windows keep the stock plan") {
    fixture.createOrReplaceTempView("grw_t")
    // default 8 MiB threshold: this ~60 KB table stays one-task
    val small = spark.sql(
      "SELECT a, row_number() OVER (ORDER BY a, b) AS rn FROM grw_t")
    assert(!small.queryExecution.executedPlan.toString.contains("__gr_pid"))
    // an aggregate window function is not rank-family → no rewrite
    val agg = Session.withConf(spark, anySize) { spark.sql(
      "SELECT a, sum(b) OVER (ORDER BY a, b) AS s FROM grw_t") }
    assert(!agg.queryExecution.executedPlan.toString.contains("__gr_pid"))
    // PARTITION BY present → already parallel, no rewrite
    val part = Session.withConf(spark, anySize) { spark.sql(
      "SELECT a, row_number() OVER (PARTITION BY a ORDER BY b, id) AS rn FROM grw_t") }
    assert(!part.queryExecution.executedPlan.toString.contains("__gr_pid"))
  }
}
