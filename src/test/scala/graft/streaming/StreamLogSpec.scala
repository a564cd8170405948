package graft.streaming

import graft.SparkSpec
import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.LogEvent
import org.apache.spark.sql.functions._

/** The file-sink ingest (q143) and the streaming ANN probe (q281) on
  * fresh directories log no ERROR and no `FileNotFoundException`: an
  * output dir that does not exist yet is probed, not read and caught,
  * and the probe answers are read through their parent dir, not a
  * glob the file-sink metadata probe would stat as a literal path. */
class StreamLogSpec extends SparkSpec {

  private def causes(t: Throwable): Seq[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(20).toSeq

  private def assertQuiet(events: Seq[LogEvent]): Unit = {
    def show(e: LogEvent) = s"${e.getLevel} ${e.getLoggerName}: " +
      e.getMessage.getFormattedMessage.take(300)
    val errors = events.filter(_.getLevel.isMoreSpecificThan(Level.ERROR))
    assert(errors.isEmpty, errors.map(show).mkString("\n"))
    val fnf = events.filter(e => Option(e.getThrown).toSeq.flatMap(causes)
      .exists(_.isInstanceOf[java.io.FileNotFoundException]))
    assert(fnf.isEmpty, fnf.map(show).mkString("\n"))
  }

  test("file-sink ingest on fresh dirs logs no ERROR and no FileNotFoundException") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-ingest-log")
    var landed = -1L
    val events = logged {
      landed = StreamOps.runIngestToParquet(spark, sf, s"$tmp/out", s"$tmp/ckpt")
    }
    assert(landed == graft.Tables.events(spark, sf).count())
    assertQuiet(events)
  }

  test("streaming ANN probe on fresh dirs logs no ERROR and no FileNotFoundException") {
    val emb = graft.Tables.embeddings(spark, sf)
    val base = java.nio.file.Files.createTempDirectory("graft-probe-log").toString
    val src = s"$base/src"
    emb.where(col("vec_id") < 4).coalesce(1).write.parquet(src)
    val idx = s"$base/idx"
    graft.operators.AnnIndex.buildCosine(emb, "vec_id", "embedding", idx,
      nCentroids = 8, m = 8, k = 16)
    var served = -1L
    val events = logged {
      served = StreamOps.runAnnProbeStream(spark, src, emb, idx, s"$base/ckpt",
        s"$base/out", "vec_id", "embedding", nProbe = 8, k = 3, shortlist = 50)
        .select("query_id").distinct().count()
    }
    assert(served == 4)
    assertQuiet(events)
  }
}
