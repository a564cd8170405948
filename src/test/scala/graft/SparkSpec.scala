package graft

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Shared session for all suites — one local JVM session, 8 threads. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"

  /** `body`'s result and the Spark jobs it launched, in start order,
    * each as the root SQL execution it ran under (None outside any: a
    * bare RDD action or a listing job). A local property tags the
    * caller's jobs (threads Spark starts for them inherit it); a marker
    * job flushes the listener bus before the jobs are read. */
  def jobsOf[A](body: => A): (A, Seq[Option[String]]) = {
    val sc = spark.sparkContext
    val key = "graft.test.jobTag"
    val tag = java.util.UUID.randomUUID.toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, Option[String])]
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).foreach { p =>
          Option(p.getProperty(key)).foreach(t => seen.add(t ->
            Option(p.getProperty("spark.sql.execution.root.id"))
              .orElse(Option(p.getProperty("spark.sql.execution.id")))))
        }
    }
    val prev = sc.getLocalProperty(key)
    sc.addSparkListener(l)
    try {
      sc.setLocalProperty(key, tag)
      val out = try body finally sc.setLocalProperty(key, s"$tag-end")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.asScala.exists(_._1 == s"$tag-end") && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(seen.asScala.exists(_._1 == s"$tag-end"), "marker job start never delivered")
      (out, seen.asScala.collect { case (`tag`, e) => e }.toSeq)
    } finally {
      sc.setLocalProperty(key, prev)
      sc.removeSparkListener(l)
    }
  }

  /** The WARN-and-above events logged while `body` runs. */
  def logged(body: => Unit): Seq[LogEvent] = {
    // build the shared session first: building it sets the log level
    spark.sparkContext
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    val prev = root.getLevel
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[LogEvent]
    val app = new AbstractAppender("graft-log-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = seen.add(e.toImmutable)
    }
    app.start()
    root.addAppender(app, Level.WARN, null)
    root.setLevel(Level.WARN)
    ctx.updateLoggers()
    try body finally {
      root.removeAppender(app.getName)
      root.setLevel(prev)
      ctx.updateLoggers()
      app.stop()
    }
    seen.asScala.toSeq
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    // 8 threads whatever the host: every suite's partitioning assumes it
    val s = Session.build(8, "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
