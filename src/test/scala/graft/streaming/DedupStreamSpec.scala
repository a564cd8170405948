package graft.streaming

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

class DedupStreamSpec extends SparkSpec {

  test("streaming dedup drops repeats within the watermark, parity with batch distinct") {
    val dir = "/root/testdata/sf0.001"
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
      .transform(graft.Tables.normalizeEventTs)
    val deduped = StreamOps.dedupStream(stream,
      Seq("user_id", "event_type"), "ts", "30 days")
    val q = deduped.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("dedup_out").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("dedup_out").select("user_id", "event_type").count()
    val expected = Tables.events(spark, dir)
      .select("user_id", "event_type").distinct().count()
    assert(got == expected, s"stream kept $got keys, batch distinct has $expected")
    assert(got < Tables.events(spark, dir).count()) // repeats were dropped
  }
}
