package graft

/** Developer micro-bench: time a subset of gate queries WARM (after
  * the same warmCaches pass the official Bench pays in its warm-up),
  * so per-query numbers are attributable exactly like the official
  * record. Selection via SPARK_GRAFT_ONLY (prefix match, like Verify);
  * unset = all queries. One line per query + a total, to stdout:
  * wall time, rows, jobs, stages, tasks, summed job wall time and the
  * codegen compiles the query paid. */
object BenchSubset {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    val spark = Session.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("WARN")
    // job/stage/task attribution per gate — the "is it driver-action-
    // bound?" evidence the optimization rounds read (dev tool only)
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    val jobMs = new java.util.concurrent.atomic.AtomicLong // Σ job wall
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]
    // whole-stage codegen classes compiled (cache misses), JVM-wide
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); starts.put(j.jobId, j.time)
        }
        override def onJobEnd(
            j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val s = starts.remove(j.jobId)
          if (s != 0L) jobMs.addAndGet(j.time - s)
        }
        override def onStageCompleted(
            s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          stages.incrementAndGet()
          tasks.addAndGet(s.stageInfo.numTasks)
        }
      })
    val w0 = System.nanoTime()
    SparkEntry.warmCaches(spark, sfDir)
    println(f"[subset] warmup ${(System.nanoTime() - w0) / 1e9}%.2f s")
    org.apache.spark.graftbridge.BusBridge.drain(spark.sparkContext)
    var total = 0.0
    SparkEntry.specs
      .filter(q => only.forall(_.exists(q.name.startsWith)))
      .foreach { q =>
        val (j0, s0, t0n, m0) = (jobs.get, stages.get, tasks.get, jobMs.get)
        val c0 = compiles.getCount
        val t0 = System.nanoTime()
        val n = try q.run(spark, sfDir).count() catch { case _: Throwable => -1L }
        val sec = (System.nanoTime() - t0) / 1e9
        // a stage event still on the bus would land in the next row
        org.apache.spark.graftbridge.BusBridge.drain(spark.sparkContext)
        total += sec
        println(f"[subset] ${q.name}%-34s $sec%8.2f s  rows=$n%-8d " +
          f"jobs=${jobs.get - j0}%-4d stages=${stages.get - s0}%-4d " +
          f"tasks=${tasks.get - t0n}%-6d jobSec=${(jobMs.get - m0) / 1e3}%.2f " +
          f"compiles=${compiles.getCount - c0}")
      }
    println(f"[subset] total $total%.2f s")
    spark.stop()
  }
}
