package graft.perfbench

import graft.Tables
import graft.operators.MergeTable
import graft.sources.ZoneMap
import graft.streaming.StreamOps
import java.io.File
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Seeded fixed-size upsert+delete batches into a MergeTable keyed on
  * o_orderkey (built from sf0.01 orders): merge-on-read writes, point
  * lookups, compaction, a zone-mapped range scan, one merge stream and a
  * vacuum.
  *
  * Every pass starts from a copy of the same base table, so each pass
  * does identical work. Reads and the end-of-pass table are checked
  * against digests that oracle.py folds from the same batches in DuckDB. */
final class IngestMerge(ctx: Ctx, dir: String, work: String) extends Workload {
  import Workloads._
  private def spark = ctx.spark

  private val Key = "o_orderkey"
  private val root = s"$work/ingest"
  private val base = s"$root/base"
  private val table = s"$root/table"
  private val zm = s"$root/zonemap"
  private val src = s"$root/stream"
  private val ckpt = s"$root/ckpt"
  private def in(f: String) = s"$dir/ingest/$f"
  private def upserts(b: Int) = spark.read.parquet(in(f"upsert-$b%03d.parquet"))
  private def deletes(b: Int) = spark.read.parquet(in(f"delete-$b%03d.parquet"))
  /** The integer lists of a JSON file holding a list of integer lists. */
  private def longLists(f: String): IndexedSeq[Seq[Long]] = {
    val txt = new String(java.nio.file.Files.readAllBytes(new File(in(f)).toPath), "UTF-8")
    "\\[([0-9, ]*)\\]".r.findAllMatchIn(txt.trim.stripPrefix("[")).map(
      _.group(1).split(",").map(_.trim).filter(_.nonEmpty).map(_.toLong).toSeq).toIndexedSeq
  }
  private lazy val lookupSets = longLists("lookups.json")
  // batches before the last merge on read; the last one streams
  private lazy val Writes =
    new File(s"$dir/ingest").list().count(_.startsWith("upsert-")) - 1
  // the o_custkey range of the zone-mapped scan
  private lazy val Seq(rangeLo, rangeHi) = longLists("zone.json").head

  def warm(): Unit = {
    register(spark, dir, Seq("orders"))
    rm(root)
    val orders = Tables.orders(spark, dir)
    MergeTable.create(orders, base, Key, nBuckets = 16, clusterBy = Some("o_custkey"),
      statsCols = Seq("o_custkey"), maxRecordsPerFile = 5000L)
    orders.repartitionByRange(16, col("o_custkey")).sortWithinPartitions("o_custkey")
      .write.parquet(zm)
    ZoneMap.write(spark, zm, Seq("o_custkey"))
    upserts(Writes).withColumn("op", lit("u"))
      .unionByName(deletes(Writes).withColumn("op", lit("d")), allowMissingColumns = true)
      .coalesce(1).write.parquet(src)
  }

  override def beforePass(): Unit = {
    rm(table); rm(ckpt)
    copy(new File(base), new File(table))
  }

  def ops: Seq[Op] = {
    val seq = mutable.ArrayBuffer.empty[Op]
    for (b <- 0 until Writes) {
      seq += Op(s"merge_on_read_$b", "operators", "merge_write_s", "write", NoCheck,
        () => { MergeTable.mergeOnRead(spark, table, upserts(b), deletes(b)); Done })
      seq += Op(s"lookup_$b", "operators", "merge_read_s", "read", Oracle(s"ingest.lookup_$b"),
        () => {
          val s = spark
          import s.implicits._
          collect(MergeTable.lookup(s, table, lookupSets(b).toDF(Key)))
        })
    }
    seq += Op("compact", "operators", "compact_s", "compact", NoCheck,
      () => { MergeTable.compact(spark, table); Done })
    seq += Op("zonemap_scan", "sources", "zonemap_s", "zonemap_scan",
      Oracle("ingest.zonemap_scan"),
      () => collect(ZoneMap.scanRange(spark, zm, "o_custkey", rangeLo, rangeHi)))
    seq += Op("merge_stream", "streaming", "self_s", "merge_stream",
      Oracle("ingest.merge_stream"),
      () => Rows(Seq("n"), Array(Row(StreamOps.runMergeStream(spark, src, table, ckpt, Key,
        mergeOnRead = true).count()))))
    seq += Op("vacuum", "operators", "compact_s", "vacuum", NoCheck,
      () => { MergeTable.vacuum(spark, table, retainLast = 1, claimGraceMs = 0L); Done })
    seq.toSeq
  }

  override def afterPass(): Seq[(String, Rows)] =
    Seq("ingest.table" -> collect(MergeTable.read(spark, table)))

  /** Bytes on disk under the table ÷ parquet bytes of its live rows. */
  override def extra(): Map[String, Double] = {
    val live = s"$root/live"
    rm(live)
    MergeTable.read(spark, table).coalesce(1).write.parquet(live)
    val amp = bytes(new File(table)).toDouble / bytes(new File(live))
    rm(live)
    Map("space_amp" -> amp)
  }

  /** (files, bytes) under the table dir. */
  def inventory(): (Long, Long) = {
    val fs = files(new File(table))
    (fs.size.toLong, fs.map(_.length).sum)
  }
  def userBytes(op: String): Long =
    if (op.startsWith("merge_on_read_")) {
      val b = op.stripPrefix("merge_on_read_").toInt
      new File(in(f"upsert-$b%03d.parquet")).length + new File(in(f"delete-$b%03d.parquet")).length
    } else 0L

  /** Files kept ÷ files in the zone-mapped table for the range scan. */
  def filesReadShare(): Double = {
    val (kept, total) = ZoneMap.keptFiles(spark, zm, "o_custkey", rangeLo, rangeHi)
    kept.size.toDouble / math.max(1, total)
  }

  private def files(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(files)
    else if (f.isFile) Seq(f) else Nil
  private def bytes(f: File): Long = files(f).map(_.length).sum
  private def rm(p: String): Unit = {
    def del(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(del)
      f.delete()
    }
    del(new File(p))
  }
  private def copy(from: File, to: File): Unit =
    if (from.isDirectory) {
      to.mkdirs()
      Option(from.listFiles).toSeq.flatten.foreach(c => copy(c, new File(to, c.getName)))
    } else java.nio.file.Files.copy(from.toPath, to.toPath)
}
