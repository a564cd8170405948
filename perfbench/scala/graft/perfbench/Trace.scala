package graft.perfbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer, measured from outside the program. */
final case class Span(id: Int, parent: Int, layer: String, metric: String,
    op: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Cumulative Spark runtime counters, fed by listeners the benchmark
  * registers on its own session. Read them as deltas around an op after
  * draining the listener bus. */
final class Counters {
  val jobs, stages, tasks, singleTaskStages = new AtomicLong
  val taskRunMs, shuffleBytes, spillBytes = new AtomicLong
  val planningNs = new AtomicLong
  val streamBatches, streamBatchMs, walCommitMs = new AtomicLong

  def snapshot: Map[String, Long] = Map(
    "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
    "single_task_stages" -> singleTaskStages.get, "task_run_ms" -> taskRunMs.get,
    "shuffle_bytes" -> shuffleBytes.get, "spill_bytes" -> spillBytes.get,
    "planning_ns" -> planningNs.get, "stream_batches" -> streamBatches.get,
    "stream_batch_ms" -> streamBatchMs.get, "wal_commit_ms" -> walCommitMs.get)
}

object Trace {
  private val Phases = Set(QueryPlanningTracker.ANALYSIS,
    QueryPlanningTracker.OPTIMIZATION, QueryPlanningTracker.PLANNING)

  /** Registers a SparkListener (jobs, stages, tasks, shuffle, spill), a
    * QueryExecutionListener (Catalyst phase times) and a
    * StreamingQueryListener (micro-batch durations). */
  def install(spark: SparkSession, c: Counters): Unit = {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = c.jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        c.stages.incrementAndGet()
        c.tasks.addAndGet(i.numTasks)
        if (i.numTasks == 1) c.singleTaskStages.incrementAndGet()
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          c.taskRunMs.addAndGet(m.executorRunTime)
          c.shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten)
          c.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit =
        add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        add(qe)
      private def add(qe: QueryExecution): Unit = {
        val ms = qe.tracker.phases.collect {
          case (p, s) if Phases(p) => s.durationMs
        }.sum
        c.planningNs.addAndGet(ms * 1000000L)
      }
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val d = e.progress.durationMs
        if (e.progress.numInputRows > 0 || d.containsKey("addBatch")) {
          c.streamBatches.incrementAndGet()
          c.streamBatchMs.addAndGet(Option(d.get("triggerExecution")).map(_.longValue).getOrElse(0L))
          c.walCommitMs.addAndGet(Option(d.get("walCommit")).map(_.longValue).getOrElse(0L))
        }
      }
    })
  }

  def drain(spark: SparkSession): Unit =
    org.apache.spark.perfbridge.Bus.drain(spark.sparkContext)
}

/** Process-level clocks: CPU of the whole JVM, CPU of the JIT compiler
  * threads (read from /proc, so they can be excluded), GC pause time. */
object Clocks {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val tick = 100.0 // USER_HZ on Linux

  def processCpuS: Double = os.getProcessCpuTime / 1e9

  /** user+sys seconds of the C1/C2 compiler threads. */
  def jitCpuS: Double = {
    val dir = new java.io.File("/proc/self/task")
    val tasks = Option(dir.listFiles).getOrElse(Array.empty[java.io.File])
    tasks.iterator.map { t =>
      try {
        val s = new String(java.nio.file.Files.readAllBytes(
          new java.io.File(t, "stat").toPath), "UTF-8")
        val comm = s.substring(s.indexOf('(') + 1, s.lastIndexOf(')'))
        if (comm.startsWith("C1 Compiler") || comm.startsWith("C2 Compiler")) {
          val f = s.substring(s.lastIndexOf(')') + 2).split(" ")
          (f(11).toLong + f(12).toLong) / tick
        } else 0.0
      } catch { case _: Exception => 0.0 }
    }.sum
  }

  /** (total, steal) jiffies of all CPUs, from /proc/stat. */
  def cpuJiffies: (Long, Long) = try {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val v = f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (v.sum, if (v.length > 7) v(7) else 0L)
    } finally f.close()
  } catch { case _: Exception => (0L, 0L) }

  /** Hypervisor steal between two cpuJiffies readings, in percent. */
  def stealPct(a: (Long, Long), b: (Long, Long)): Double =
    if (b._1 > a._1) 100.0 * (b._2 - a._2) / (b._1 - a._1) else 0.0

  def gcS: Double = {
    val it = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.iterator()
    var t = 0L
    while (it.hasNext) { val c = it.next().getCollectionTime; if (c > 0) t += c }
    t / 1e3
  }

  /** Heap in use after full collections, MB. Spark's cleaner drops
    * unreferenced blocks asynchronously after a GC finds them, so the
    * collections repeat with a pause between them. */
  def liveHeapMb(): Double = {
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(300) }
    System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    m.getUsed / 1048576.0
  }
}
