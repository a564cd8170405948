package graft.streaming

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class StreamOpsSpec extends SparkSpec {
  import spark.implicits._

  test("streaming windowed agg equals batch windowed agg on bounded input") {
    val batch = StreamOps.windowedCounts(Tables.events(spark, sf))
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    val streamed = StreamOps.runWindowedStream(spark, sf)
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(batch == streamed)
    assert(batch.nonEmpty)
  }

  test("stateful stream sessionization equals batch sessionization") {
    val ev = Tables.events(spark, sf)
    val batch = StreamOps.sessionizeBatch(ev, 30)
      .select("user_id", "session_start", "session_end", "n_events")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
      .toSet
    val ds = ev.select(col("user_id"), col("ts"), col("value"))
      .as[StreamOps.Event]
    val stream = StreamOps.sessionizeStream(ds, 30)
      .select("user_id", "session_start", "session_end", "n_events")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
      .toSet
    assert(stream == batch)
  }

  test("stream-stream interval join equals the batch interval join on bounded input") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getLong(3), r.getTimestamp(4))
    val batch = StreamOps.attributionJoinBatch(
        Tables.events(spark, sf), "click", "purchase", horizonMinutes = 240)
      .collect().map(key).toSet
    val streamed = StreamOps.attributionJoinStream(
        spark, sf, "click", "purchase", horizonMinutes = 240)
      .collect().map(key).toSet
    assert(batch.nonEmpty, "fixture horizon produced no pairs")
    assert(streamed == batch)
  }

  test("stream-static enrichment equals the batch join and plans stateless") {
    val streamed = StreamOps.enrichStream(spark, sf)
    val got = streamed.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3))).toSet
    val want = Tables.events(spark, sf)
      .join(Tables.customer(spark, sf), col("user_id") === col("c_custkey"))
      .select(col("event_id"), col("user_id"), col("c_mktsegment"), col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3))).toSet
    assert(want.nonEmpty)
    assert(got == want)
    // the micro-batch compiles this same plan shape: dim broadcast,
    // stream side un-shuffled — assert it on the batch twin
    val twin = Tables.events(spark, sf)
      .join(broadcast(Tables.customer(spark, sf)
        .select(col("c_custkey"), col("c_mktsegment"))),
        col("user_id") === col("c_custkey"))
      .select(col("event_id"), col("c_mktsegment"))
    val plan = twin.queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
    assert(!plan.contains("Exchange hashpartitioning"),
      "enrichment must not shuffle the stream side:\n" + plan.take(1500))
  }

  test("streaming-maintained Count-Min cells equal the batch build") {
    val streamed = StreamOps.runSketchStream(spark, sf, 4, 64, seed = 42)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val batch = graft.operators.Sketches.countMinCells(
        Tables.events(spark, sf).select(col("user_id")), col("user_id"),
        d = 4, w = 64, seed = 42)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(batch.nonEmpty)
    assert(streamed == batch)
  }

  test("checkpointed file-sink ingestion is exactly-once across restarts") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-ingest")
    val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
    val first = StreamOps.runIngestToParquet(spark, sf, out, ckpt)
    val expected = Tables.events(spark, sf).count()
    assert(first == expected, s"first run landed $first of $expected rows")
    // restart over the same input: offsets are committed, so the run
    // drains nothing and the sink log shows no new files
    val second = StreamOps.runIngestToParquet(spark, sf, out, ckpt)
    assert(second == 0, s"restart re-emitted $second rows — not exactly-once")
    // landed data parity (same rows, not just same count)
    val got = spark.read.parquet(out).select("event_id").collect()
      .map(_.getLong(0)).sorted.toSeq
    val want = Tables.events(spark, sf).select("event_id").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(got == want)
  }

  /** The drain owns its stream and its conf scope: a stream that
    * fails mid-run must not stay active, and the partition value it
    * scoped (and the session's nanos-as-long) must read as before. */
  test("drain: a stream that throws mid-run is stopped and the session conf restored") {
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.legacy.parquet.nanosAsLong")
    val tmp = java.nio.file.Files.createTempDirectory("graft-drain").toString
    spark.range(4).write.mode("overwrite").parquet(tmp)
    // a partition value the drain's own scope (8) cannot mask
    graft.Session.withConf(spark, "spark.sql.shuffle.partitions" -> "3") {
      val before = keys.map(spark.conf.getOption)
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        StreamOps.drain(spark, org.apache.spark.sql.streaming.OutputMode.Append(),
            "boom") {
          spark.readStream.schema("id LONG").parquet(tmp)
            .select(col("id"), raise_error(lit("boom")).as("e"))
        }
      }
      assert(spark.streams.active.isEmpty, "the failed stream is still active")
      assert(keys.map(spark.conf.getOption) == before)
    }
  }

  test("session boundaries: events exactly at the gap stay in one session") {
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    val ev = Seq(
      (1L, ts(0), 1L, "a", 1.0, ""),
      (2L, ts(30), 1L, "a", 1.0, ""),   // exactly 30 min gap → same session
      (3L, ts(61), 1L, "a", 1.0, ""),   // 31 min → new session
      (4L, ts(0), 2L, "a", 1.0, "")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = StreamOps.sessionizeBatch(ev, 30)
    val u1 = out.filter(col("user_id") === 1).collect()
    assert(u1.length == 2)
    assert(out.filter(col("user_id") === 2).count() == 1)
  }

  /** The per-key streaming q-digest (q266): the stream-maintained
    * (grp, lvl, id) state table must equal the batch count table
    * CELL FOR CELL (state parity — stronger than quantile parity:
    * it pins the maintained sketch itself), stay bounded by keys ×
    * domain nodes rather than stream length, and the quantile read
    * through the shared qdigestFromCountsByKey must equal the batch
    * qdigestQuantilesByKey output exactly. */
  test("per-key streaming q-digest: state table == batch counts; read == batch read; state keys-x-domain bounded") {
    val levels = 16; val k = 256
    val streamedCounts = StreamOps.qdigestStreamCountsByKey(
        spark, sf, "event_type", loVal = 0L, levels = levels)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)) -> r.getLong(3)).toMap
    val U = 1L << levels
    val ev = Tables.events(spark, sf)
      .select(col("event_type").as("grp"),
        round(col("value") * 100, 0).cast("long").as("v"))
      .where(col("v").isNotNull)
      .select(col("grp"),
        least(lit(U - 1), greatest(lit(0L), col("v"))).as("leaf"))
    val batchCounts = ev
      .select(col("grp"), explode(expr(s"transform(sequence(0, $levels), " +
        "l -> named_struct('lvl', l, 'id', shiftright(leaf, l)))")).as("nd"))
      .groupBy(col("grp"), col("nd.lvl").as("lvl"), col("nd.id").as("id"))
      .agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)) -> r.getLong(3)).toMap
    assert(streamedCounts == batchCounts,
      "stream-maintained node counts diverged from the batch build")
    // state bound: cells ≤ |keys| × (levels+1) × distinct leaves per
    // key ≤ keys × domain nodes — never stream-length-shaped
    val nKeys = ev.select("grp").distinct().count()
    val distinctLeaves = ev.select("grp", "leaf").distinct().count()
    assert(streamedCounts.size <= (levels + 1) * distinctLeaves &&
      streamedCounts.size < nKeys * (2L << levels),
      s"state ${streamedCounts.size} exceeds the keys×domain bound")
    // read parity through the SHARED back half
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
    val streamedRead = StreamOps.runQdigestStreamByKey(spark, sf,
        "event_type", loVal = 0L, levels = levels, k = k,
        percents = Seq(25, 50, 75, 99))
      .collect().map(key).toMap
    val batchRead = graft.operators.Sketches.qdigestQuantilesByKey(
        Tables.events(spark, sf).select(col("event_type"),
          round(col("value") * 100, 0).cast("long").as("v")),
        "event_type", col("v"), loVal = 0L, levels = levels, k = k,
        percents = Seq(25, 50, 75, 99))
      .collect().map(key).toMap
    assert(streamedRead == batchRead && streamedRead.nonEmpty,
      "per-key stream quantile read diverged from the batch sketch")
  }
}
