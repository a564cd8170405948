package graft

import org.apache.spark.sql.SparkSession

/** Every decision about session conf: how an entry point's session is
  * built, and how a body runs under a temporary conf change. */
object Session {

  /** The engine's local session on `cpus` threads. `extra` adds keys
    * the caller needs on top (the test session's warehouse dir). */
  def build(cpus: Int, extra: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // UTC everywhere: Tables.normalizeEventTs's NTZ→TIMESTAMP cast is
      // only instant-preserving under UTC — without this, a non-UTC
      // host would bench different window boundaries than were verified
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // a 184-query session retains every dead localCheckpoint/cache
      // block until a GC lets the ContextCleaner reap it; with a
      // ~100 GB heap full GCs are rare, so the default 30min periodic
      // GC never fires inside a bench and late queries pay 3-4× in
      // block-manager pressure (measured: q170/q176/q177 12s-vs-3s
      // full-run-vs-isolated). The same knob matters on any
      // long-lived production driver/executor.
      .config("spark.cleaner.periodicGC.interval", "30s")
      // gate inputs whose timestamps are TIMESTAMP(NANOS), which Spark's
      // reader otherwise rejects, read as long nanos; Tables
      // .normalizeEventTs turns them back into timestamps. Other
      // timestamp units are unaffected.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .withExtensions(new graft.functions.GraftExtensions)
    val spark = extra.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    // The "No Partition Defined for Window" warning is redundant and
    // had become a useless signal (652 lines per Verify drive, all from
    // WHITELISTED sketch-sized windows — q-digest post-order picks,
    // ≤2k·levels rows by the θ rule): PlanAuditSpec walks EVERY gate
    // and fails on any data-sized unpartitioned window, which is the
    // enforcement this log line pretended to be. Suppressed so a real
    // new warning class is visible again.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }

  /** Run `body` with `kvs` set on the session conf, then restore every
    * key, also when `body` throws: a key that was unset is unset again.
    * The conf is session-global, so a query planned on another thread
    * meanwhile sees the scoped values too. */
  def withConf[A](spark: SparkSession, kvs: (String, String)*)(body: => A): A = {
    val set = spark.conf.getAll // the keys set on the session, no defaults
    val saved = kvs.map { case (k, _) => k -> set.get(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
