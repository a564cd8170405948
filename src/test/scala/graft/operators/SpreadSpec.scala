package graft.operators

import graft.{Session, SparkSpec}
import org.apache.spark.sql.functions._

/** Round-14 scale-conditional redistribution laws (r13 verdict item 2
  * + r13 advisor): the compute-amplification repartitions added in
  * round 13 must fire for under-partitioned gate-scale inputs, must
  * NOT fire for inputs whose statistics already show full scan
  * parallelism, and must decide WITHOUT executing the plan. */
class SpreadSpec extends SparkSpec {

  test("Spread fires on a small input and no-ops on a statistically wide one") {
    import spark.implicits._
    val small = (1 to 100).toDF("x")
    // small: estimated bytes << np × maxPartitionBytes → repartitioned
    val sp = Spread(small.as("t"))
    assert(sp.queryExecution.optimizedPlan.toString.contains("Repartition"),
      "Spread must redistribute a tiny input")
    // wide: shrink maxPartitionBytes so the same table's statistics
    // clear np × maxPartitionBytes — the 100 TB case in miniature
    Session.withConf(spark, "spark.sql.files.maxPartitionBytes" -> "1") {
      val noop = Spread(small)
      assert(!noop.queryExecution.optimizedPlan.toString.contains("Repartition"),
        "Spread must not add a Repartition when the input already scans wide")
    }
  }

  test("Spread decides from statistics without running any job") {
    import spark.implicits._
    // a plan WITH a shuffle in it: the old rdd.getNumPartitions probe
    // materialized the upstream stages here (r13 advisor finding)
    val df = (1 to 50).toDF("x").groupBy("x").agg(count(lit(1)).as("c"))
    val jobs = jobsOf(Spread(df))._2
    assert(jobs.isEmpty,
      s"Spread ran ${jobs.size} job(s) while deciding — it must be plan-only")
  }

  test("fuzzy SQL join keeps the pre-explode Repartition for small inputs " +
      "and drops it for statistically wide ones") {
    import spark.implicits._
    val t = (1 to 60).map(i => s"name_$i").toDF("nm")
    t.createOrReplaceTempView("spread_l")
    t.select(col("nm").as("nm2")).createOrReplaceTempView("spread_r")
    val sql = "SELECT * FROM spread_l JOIN spread_r ON levenshtein(nm, nm2) <= 1"
    val smallPlan = spark.sql(sql).queryExecution.optimizedPlan.toString
    assert(smallPlan.contains("Repartition"),
      "gate-scale inputs must keep the round-13 pre-explode redistribution")
    Session.withConf(spark, "spark.sql.files.maxPartitionBytes" -> "1") {
      val widePlan = spark.sql(sql).queryExecution.optimizedPlan.toString
      assert(!widePlan.contains("Repartition"),
        "an already-wide input must not be down-partitioned by the rewrite")
      // result identical either way — the Repartition is placement only
    }
    val a = spark.sql(sql).collect().map(_.toString).sorted
    val b = Session.withConf(spark, "spark.sql.files.maxPartitionBytes" -> "1") {
      spark.sql(sql).collect().map(_.toString).sorted
    }
    assert(a.sameElements(b), "Repartition gating changed the join result")
  }
}
