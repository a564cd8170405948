package graft.tools

/** Dev scaffolding (test scope — deliberately NOT in the main jar):
  * walks every gate's optimized plan on a tiny sf dir and prints any
  * unpartitioned Window plus slow-to-build plans. PlanAuditSpec owns
  * the enforced form of this audit; this main exists for ad-hoc runs
  * against other scale factors ("sbt Test/runMain graft.tools.ProbeWin").
  * Data dir / parallelism come from the same env knobs as Bench.
  */
object ProbeWin {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = graft.Session.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window}
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
    for (n <- names) {
      val t0 = System.nanoTime()
      try {
        val df = graft.SparkEntry.queries(n)(spark, sfDir)
        val wins = df.queryExecution.optimizedPlan.collect {
          case w: Window if w.partitionSpec.isEmpty =>
            val aggBelow = w.child.collectFirst { case a: Aggregate => a }.isDefined
            s"aggBelow=$aggBelow"
        }
        val ms = (System.nanoTime() - t0) / 1000000
        if (wins.nonEmpty) println(s"WINAUDIT $n ${wins.mkString(",")} build_ms=$ms")
        else if (ms > 3000) println(s"SLOWBUILD $n build_ms=$ms")
      } catch { case e: Exception => println(s"WINAUDIT_ERR $n ${e.getClass.getSimpleName}") }
    }
    println("WINAUDIT_DONE")
    spark.stop()
  }
}
