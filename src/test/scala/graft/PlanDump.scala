package graft

/** Developer tool: dump `.explain("formatted")` for selected gate
  * queries to files — the optimization-round evidence trail
  * (`plans/rNN/<query>_{before,after}.txt`). Selection via
  * SPARK_GRAFT_ONLY (comma-separated prefixes, like Verify); the
  * output directory and filename suffix come from args:
  * `Test/runMain graft.PlanDump plans/r13 before`. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = if (args.length > 0) args(0) else "plans/r13"
    val suffix = if (args.length > 1) args(1) else "before"
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    val spark = Session.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("WARN")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    SparkEntry.specs
      .filter(q => only.forall(_.exists(q.name.startsWith)))
      .foreach { q =>
        val txt = try {
          val df = q.run(spark, sfDir)
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
        } catch { case e: Throwable => s"EXPLAIN FAILED: $e" }
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/${q.name}_$suffix.txt"),
          txt.getBytes("UTF-8"))
        println(s"[plandump] ${q.name} -> $outDir/${q.name}_$suffix.txt")
      }
    spark.stop()
  }
}
