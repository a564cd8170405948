package graft.perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One benchmark run in a fresh JVM: set-up and a cold pass on the
  * check seed's inputs, then K warm re-set-ups (for the set-up median)
  * and warm passes for a fixed time on the run's inputs. Writes the raw
  * record (samples, spans, counters) as JSON to `--out`; `run.py` turns
  * it into metrics.
  *
  *   Main --workload W --data DIR --expected FILE
  *        --check-data DIR --check-expected FILE --pinned FILE
  *        --work DIR --seconds S --trace 0|1 --setups K --cpus N --out FILE
  *   Main --dump-oracles FILE     (gate name → oracle SQL, as JSON)
  *   Main --crosscheck GATES --data DIR --out FILE
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    (a.get("dump-oracles"), a.get("crosscheck")) match {
      case (Some(f), _) => write(f, Json.obj(graft.SparkEntry.oracleSql.toSeq.sorted
        .map { case (k, v) => k -> Json.str(v) }))
      case (_, Some(gates)) => crosscheck(a("data"), a("out"), gates.split(",").toSeq)
      case _ => new Run(a).run()
    }
  }

  /** Jobs, stages and tasks per gate as the benchmark's listeners count
    * them, in graft.BenchSubset's procedure (warmCaches, then each gate's
    * QuerySpec.run + count on local[4]), for comparison with its output. */
  def crosscheck(data: String, out: String, gates: Seq[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.cleaner.periodicGC.interval", "30s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val c = new Counters
    Trace.install(spark, c)
    graft.SparkEntry.warmCaches(spark, data)
    val rows = graft.SparkEntry.specs.filter(q => gates.contains(q.name)).map { q =>
      Trace.drain(spark)
      val c0 = c.snapshot
      q.run(spark, data).count()
      Trace.drain(spark)
      val c1 = c.snapshot
      q.name -> Json.obj(Seq("jobs", "stages", "tasks").map(k => k -> (c1(k) - c0(k)).toString))
    }
    spark.stop()
    write(out, Json.obj(rows))
  }

  def write(path: String, s: String): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path), s.getBytes("UTF-8"))
}

final class Run(a: Map[String, String]) {
  private val workload = a("workload")
  private val data = a("data")
  private val work = a("work")
  private val seconds = a("seconds").toDouble
  private val trace = a("trace") == "1"
  private val setups = a.getOrElse("setups", "3").toInt
  private val cpus = a.getOrElse("cpus", "4")
  /** The "name": "hex digest" pairs of a JSON file. */
  private def digests(key: String): Map[String, String] = a.get(key).map { f =>
    val txt = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f)), "UTF-8")
    "\"([^\"]+)\"\\s*:\\s*\"([0-9a-f]+)\"".r.findAllMatchIn(txt)
      .map(m => m.group(1) -> m.group(2)).toMap
  }.getOrElse(Map.empty)
  private val expected = digests("expected")
  // the check pass's digests: DuckDB oracles, and pins for Pinned ops
  private val checkExpected = digests("check-expected") ++ digests("pinned")

  private val counters = new Counters
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val opRecs = mutable.ArrayBuffer.empty[String]
  private val passRecs = mutable.ArrayBuffer.empty[String]
  private val failures = mutable.ArrayBuffer.empty[String]
  private val firstDigest = mutable.Map.empty[String, String]
  private val pinnedSeen = mutable.Map.empty[String, String]
  private var attempted = 0L
  private var failed = 0L
  private val StealPct = 2.0

  private def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // the cleaner's timer GC must never land inside a timed op: the
      // benchmark runs a full GC between passes instead
      .config("spark.cleaner.periodicGC.interval", "24h")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    if (trace) Trace.install(s, counters)
    s
  }

  private val ctx = new Ctx(null)
  private val check = Workloads(workload, ctx, a("check-data"), work)
  private val wl = Workloads(workload, ctx, data, work)

  /** Session build + input registration + memo warm-up. Returns
    * (seconds, warm-up seconds). */
  private def setUp(wl: Workload): (Double, Double) = {
    val t0 = System.nanoTime()
    ctx.spark = session()
    val w0 = System.nanoTime()
    wl.warm()
    val t1 = System.nanoTime()
    ((t1 - t0) / 1e9, (t1 - w0) / 1e9)
  }

  private def tearDown(): Unit = {
    val s = ctx.spark
    graft.Memo.evictSession(org.apache.spark.sql.graftbridge.SessionBridge.sessionUUID(s))
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Set-up and the cold pass on the check seed's inputs, where every
    * op is checked against a DuckDB oracle or a pin; `setups` warm
    * re-set-ups on the run's inputs (which also give the JIT time to
    * finish the cold pass's compilations); warm passes for `seconds`
    * (at least one). */
  def run(): Unit = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val setupS = mutable.ArrayBuffer.empty[Double]
    val warmS = mutable.ArrayBuffer.empty[Double]
    val setupSteal = mutable.ArrayBuffer.empty[Double]
    setUp(check)
    // the first set-up, from JVM start, is printed but not a metric: JVM
    // boot and class loading dominate it and it is one sample a run
    val firstSetupS = (System.currentTimeMillis() - jvmStart) / 1e3
    onePass(check, 0, checkExpected)
    for (_ <- 0 until setups) {
      tearDown()
      System.gc()
      val st0 = Clocks.cpuJiffies
      val (t, wt) = setUp(wl)
      setupS += t; warmS += wt; setupSteal += Clocks.stealPct(st0, Clocks.cpuJiffies)
    }
    // warm passes for `seconds`, at least one, and one more when every
    // warm pass so far lost over StealPct of the host's CPU to the
    // hypervisor (run.py reports the least-stolen warm pass)
    val t0 = System.nanoTime()
    var pass = 1
    var stolen = true
    while (pass == 1 || (System.nanoTime() - t0) / 1e9 < seconds || (stolen && pass == 2)) {
      stolen = onePass(wl, pass, expected) > StealPct && stolen
      pass += 1
    }
    val extra = if (trace) wl.extra() else Map.empty[String, Double]
    val heap = Clocks.liveHeapMb()
    tearDown()
    val rec = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "cpus" -> cpus,
      "xmx_mb" -> f"${Runtime.getRuntime.maxMemory / 1048576.0}%.0f",
      "spark_version" -> Json.str(org.apache.spark.SPARK_VERSION),
      "first_setup_s" -> Json.num(firstSetupS),
      "setup_s" -> Json.arr(setupS.map(Json.num)),
      "warm_s" -> Json.arr(warmS.map(Json.num)),
      "setup_steal_pct" -> Json.arr(setupSteal.map(Json.num)),
      "passes" -> Json.arr(passRecs),
      "ops" -> Json.arr(opRecs),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "failures" -> Json.arr(failures.map(Json.str)),
      "pinned" -> Json.obj(pinnedSeen.toSeq.sorted.map { case (k, v) => k -> Json.str(v) }),
      "live_heap_mb" -> Json.num(heap),
      "extra" -> Json.obj(extra.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "spans" -> Json.arr(spans.map(s => Json.obj(Seq(
        "id" -> s.id.toString, "parent" -> s.parent.toString,
        "layer" -> Json.str(s.layer), "metric" -> Json.str(s.metric),
        "op" -> Json.str(s.op), "start_ns" -> s.startNs.toString,
        "end_ns" -> s.endNs.toString))))))
    Main.write(a("out"), rec)
  }

  /** Runs one pass of `wl`, checking Oracle ops against `expected` and,
    * in pass 0 (the check seed's), Pinned ops against their pins. Returns
    * the hypervisor steal during the pass, in percent. */
  private def onePass(wl: Workload, pass: Int, expected: Map[String, String]): Double = {
    val spark = ctx.spark
    wl.beforePass()
    System.gc() // full GC between passes, outside timing
    val passId = spans.size + 1
    spans += null // placeholder, filled in below
    val cpu0 = Clocks.processCpuS; val jit0 = Clocks.jitCpuS; val gc0 = Clocks.gcS
    val st0 = Clocks.cpuJiffies
    val p0 = System.nanoTime()
    val ingest = wl match { case i: IngestMerge if trace => Some(i); case _ => None }
    for (op <- wl.ops) {
      val exp = op.check match {
        case Oracle(k) => expected.get(k)
        case Pinned if pass == 0 => expected.get(op.name)
        case _ => None
      }
      if (trace) Trace.drain(spark)
      val c0 = if (trace) counters.snapshot else Map.empty[String, Long]
      val inv0 = ingest.map(_.inventory())
      val s0 = System.nanoTime()
      val out = try Right(op.body()) catch { case e: Throwable => Left(e) }
      val s1 = System.nanoTime()
      spans += Span(spans.size + 1, passId, op.layer, op.metric, op.name, s0, s1)
      val ok = out match {
        case Left(e) =>
          failures += s"${op.name}: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
          false
        case Right(Done) => true
        case Right(Rows(cols, rows)) =>
          val d = Digest.of(cols, rows)
          val good = op.check match {
            case Oracle(_) => exp.contains(d)
            case Pinned if pass == 0 => pinnedSeen(op.name) = d; exp.contains(d)
            case Pinned => firstDigest.getOrElseUpdate(op.name, d) == d
            case NoCheck => true
          }
          if (!good) failures += s"${op.name}: digest $d expected ${exp.getOrElse(firstDigest.getOrElse(op.name, "?"))}"
          good
      }
      attempted += 1
      if (!ok) failed += 1
      System.err.println(f"[perfbench] pass $pass ${op.name} ${(s1 - s0) / 1e9}%.3f s ok=$ok")
      val extraRec = mutable.ArrayBuffer.empty[(String, String)]
      if (trace) {
        Trace.drain(spark)
        val c1 = counters.snapshot
        extraRec += "counters" -> Json.obj(c1.toSeq.sorted.map { case (k, v) => k -> (v - c0(k)).toString })
      }
      for (i <- ingest; (f0, b0) <- inv0) {
        val (f1, b1) = i.inventory()
        val user = i.userBytes(op.name)
        if (user > 0) extraRec ++= Seq("files_written" -> (f1 - f0).max(0).toString,
          "bytes_written" -> (b1 - b0).max(0).toString, "user_bytes" -> user.toString)
        if (op.klass == "zonemap_scan") extraRec += "files_read_share" -> Json.num(i.filesReadShare())
      }
      opRecs += Json.obj(Seq("pass" -> pass.toString, "op" -> Json.str(op.name),
        "layer" -> Json.str(op.layer), "metric" -> Json.str(op.metric),
        "klass" -> Json.str(op.klass), "s" -> Json.num((s1 - s0) / 1e9),
        "ok" -> ok.toString) ++ extraRec)
    }
    val p1 = System.nanoTime()
    val cpu1 = Clocks.processCpuS; val jit1 = Clocks.jitCpuS; val gc1 = Clocks.gcS
    val steal = Clocks.stealPct(st0, Clocks.cpuJiffies)
    spans(passId - 1) = Span(passId, 0, "bench", "pass", s"pass$pass", p0, p1)
    for ((key, Rows(cols, rows)) <- wl.afterPass()) {
      attempted += 1
      if (!expected.get(key).contains(Digest.of(cols, rows))) {
        failed += 1; failures += s"pass $pass: $key"
      }
    }
    val filesLive = ingest.map(_.inventory()._1)
    passRecs += Json.obj(Seq("pass" -> pass.toString,
      "wall_s" -> Json.num((p1 - p0) / 1e9),
      "cpu_s" -> Json.num((cpu1 - cpu0) - (jit1 - jit0)),
      "jit_cpu_s" -> Json.num(jit1 - jit0),
      "gc_s" -> Json.num(gc1 - gc0),
      "steal_pct" -> Json.num(steal)) ++
      filesLive.map(f => "files_live" -> f.toString))
    steal
  }
}

/** Just enough JSON writing for the run record. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def obj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
