package graft.sources

import graft.operators.MetaIO
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** FILE-level zone maps (data skipping) over a parquet directory —
  * the Delta/Iceberg "stats in the table log" idea as a sidecar next
  * to plain parquet (beyond-reference; the reference re-reads whole
  * TSV dumps per Makefile stage).
  *
  * Spark's parquet reader already skips ROW GROUPS via pushed
  * filters, but it must still LIST and OPEN every file to do so —
  * at 100 TB the file-open round trips dominate a selective scan.
  * [[harvest]] reads each file's FOOTER ONLY (no data pages) into a
  * one-row-per-file min/max sidecar, distributed over the executors;
  * [[scanRange]] then selects surviving file PATHS at planning time,
  * so pruned files are never opened — and the surviving files still
  * get Spark's row-group skipping on top, because the exact filter
  * is re-applied. Pair with [[Tabular.writeClusteredParquet]]: the
  * z-order layout is what makes per-file ranges disjoint and the
  * zone map selective on every clustered dimension at once.
  *
  * Scope: INT32/INT64 physical columns (ids, counts, scaled
  * numerics, epoch times — cast at write time like the z-key does)
  * and UTF8-annotated BINARY (source/language/category dims a text
  * corpus filters on constantly). String zones compare in unsigned
  * UTF-8 byte order — the order parquet stores BINARY statistics in
  * AND the order of Spark's default UTF8_BINARY collation, so string
  * pruning is sound; Java's UTF-16 String order is deliberately NOT
  * used (it diverges on supplementary characters). A column with
  * unusable stats in ANY row group marks the file un-prunable for
  * that column (kept conservatively); all-null blocks are safe to
  * skip because a range predicate excludes NULL.
  */
object ZoneMap {

  private def sidecar(path: String) = s"$path/_zonemap"

  private def fs(spark: SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def dataFiles(spark: SparkSession, path: String): Seq[String] =
    fs(spark, path).listStatus(new org.apache.hadoop.fs.Path(path))
      .map(_.getPath).filter(p => p.getName.endsWith(".parquet"))
      .map(_.toString).toSeq.sorted

  /** Spark's default UTF8_BINARY collation compares strings by
    * unsigned UTF-8 bytes (code-point order) — the SAME order parquet
    * uses for BINARY statistics — so string zones are sound iff zone
    * checks use this comparator, NOT Java's UTF-16 String order
    * (which diverges for supplementary characters). */
  private[sources] def utf8Cmp(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    x.length - y.length
  }

  private[sources] def utf8Min(a: String, b: String): String =
    if (utf8Cmp(a, b) <= 0) a else b
  private[sources] def utf8Max(a: String, b: String): String =
    if (utf8Cmp(a, b) >= 0) a else b

  /** Per-file zone for one column, merged across row groups from the
    * footer: (ty, ok, minL, maxL, minS, maxS). `ty` is "long" for
    * INT32/INT64, "string" for UTF8-annotated BINARY, "other"
    * otherwise; exactly one min/max pair is populated. ok=false →
    * stats unusable, never prune. ok=true with null min/max → every
    * value is NULL → a range predicate may prune the file. */
  private def colStats(
      blocks: Seq[org.apache.parquet.hadoop.metadata.BlockMetaData],
      c: String): (String, Boolean, Option[Long], Option[Long],
        Option[String], Option[String]) = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    def asLong(v: Any): Option[Long] = v match {
      case n: java.lang.Integer => Some(n.longValue)
      case n: java.lang.Long    => Some(n.longValue)
      case _                    => None
    }
    def asStr(v: Any): Option[String] = v match {
      case b: org.apache.parquet.io.api.Binary => Some(b.toStringUsingUTF8)
      case _                                   => None
    }
    var ty: String = null
    var ok = true
    var mnL: Option[Long] = None
    var mxL: Option[Long] = None
    var mnS: Option[String] = None
    var mxS: Option[String] = None
    blocks.foreach { b =>
      b.getColumns.asScala.find(_.getPath.toDotString == c) match {
        case None => ok = false // column absent from this file
        case Some(cc) =>
          val pt = cc.getPrimitiveType
          val t = pt.getPrimitiveTypeName match {
            case INT32 | INT64 => "long"
            case BINARY if pt.getLogicalTypeAnnotation ==
              org.apache.parquet.schema.LogicalTypeAnnotation.stringType() => "string"
            case _ => "other"
          }
          if (ty == null) ty = t else if (ty != t) ok = false
          val s = cc.getStatistics
          if (t == "other" || s == null || s.isEmpty) ok = false
          else if (s.hasNonNullValue) {
            if (t == "long") (asLong(s.genericGetMin), asLong(s.genericGetMax)) match {
              case (Some(lo), Some(hi)) =>
                mnL = Some(mnL.fold(lo)(math.min(_, lo)))
                mxL = Some(mxL.fold(hi)(math.max(_, hi)))
              case _ => ok = false
            } else (asStr(s.genericGetMin), asStr(s.genericGetMax)) match {
              case (Some(lo), Some(hi)) =>
                mnS = Some(mnS.fold(lo)(utf8Min(_, lo)))
                mxS = Some(mxS.fold(hi)(utf8Max(_, hi)))
              case _ => ok = false
            }
          } else if (s.getNumNulls != b.getRowCount) ok = false
        // else: an all-null block contributes nothing and is safe
      }
    }
    if (ty == null) ty = "other"
    if (ok) (ty, true, mnL, mxL, mnS, mxS)
    else (ty, false, None, None, None, None)
  }

  /** Driver-side footer stats for ONE file — the metadata-sized twin
    * of the distributed [[harvestFiles]] path (round 14, guide §5): a
    * just-committed generation holds a handful of files, and
    * scheduling a cluster job to read their footers costs more than
    * the reads. Same [[colStats]] merge, so the harvested zones are
    * identical to the distributed path's. Returns
    * (n_rows, per-col (ty, ok, minL, maxL, minS, maxS)). */
  private[graft] def footerStats(conf: org.apache.hadoop.conf.Configuration,
      path: String, cols: Seq[String])
      : (Long, Seq[(String, Boolean, Option[Long], Option[Long],
        Option[String], Option[String])]) = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(path), conf))
    try {
      val blocks = r.getFooter.getBlocks.asScala.toSeq
      (blocks.map(_.getRowCount).sum, cols.map(c => colStats(blocks, c)))
    } finally r.close()
  }

  /** Harvest per-file zone maps for `cols` from parquet FOOTERS only
    * — one footer read per file, parallelized over the executors
    * (each task reconstructs the filesystem from the executor's own
    * Hadoop configuration; no data pages are touched). Returns one
    * row per file: `file, n_rows, <c>_ok, <c>_min, <c>_max, …`. */
  def harvest(spark: SparkSession, path: String,
      cols: Seq[String]): DataFrame = {
    val files = dataFiles(spark, path)
    require(files.nonEmpty, s"no parquet files under $path")
    harvestFiles(spark,
      files.map(p => new org.apache.hadoop.fs.Path(p).getName -> p), cols)
  }

  /** [[harvest]] over an explicit (relative name → absolute path)
    * file list — the entry point for layouts whose files live in
    * subdirectories (e.g. [[graft.operators.MergeTable]]'s
    * `bucket=B/part-….parquet` under each generation). */
  private[graft] def harvestFiles(spark: SparkSession,
      files: Seq[(String, String)], cols: Seq[String]): DataFrame = {
    val schema = StructType(
      StructField("file", StringType, nullable = false) ::
        StructField("n_rows", LongType, nullable = false) ::
        cols.toList.flatMap(c => Seq(
          StructField(s"${c}_ty", StringType, nullable = false),
          StructField(s"${c}_ok", BooleanType, nullable = false),
          StructField(s"${c}_min", LongType, nullable = true),
          StructField(s"${c}_max", LongType, nullable = true),
          StructField(s"${c}_smin", StringType, nullable = true),
          StructField(s"${c}_smax", StringType, nullable = true))))
    val colsB = cols.toIndexedSeq
    val n = math.max(1, math.min(files.size,
      spark.sparkContext.defaultParallelism))
    // the SESSION's Hadoop configuration rides to the executors — a
    // bare `new Configuration()` would drop configured credentials /
    // endpoints (S3A, custom HDFS) that every other FS access honors
    val confB = org.apache.spark.graftbridge.ConfBridge.broadcast(
      spark.sparkContext, spark.sparkContext.hadoopConfiguration)
    val rows = spark.sparkContext.parallelize(files, n).map { case (rel, p) =>
      val hp = new org.apache.hadoop.fs.Path(p)
      val conf = org.apache.spark.graftbridge.ConfBridge.value(confB)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(hp, conf))
      try {
        val blocks = r.getFooter.getBlocks.asScala.toSeq
        val per = colsB.flatMap { c =>
          val (ty, ok, mnL, mxL, mnS, mxS) = colStats(blocks, c)
          Seq[Any](ty, ok, mnL.map(Long.box).orNull, mxL.map(Long.box).orNull,
            mnS.orNull, mxS.orNull)
        }
        Row.fromSeq(rel +: blocks.map(_.getRowCount).sum +: per)
      } finally r.close()
    }
    spark.createDataFrame(rows, schema)
  }

  /** Harvest and persist the sidecar at `path/_zonemap` (the `_`
    * prefix hides it from every scan of `path`). Call once after the
    * layout write; re-call after rewriting files. */
  def write(spark: SparkSession, path: String, cols: Seq[String]): Unit =
    harvest(spark, path, cols).coalesce(1)
      .write.mode("overwrite").parquet(sidecar(path))

  /** The file paths a `lo <= c <= hi` scan must open, and the number of
    * files the zone map covers: files whose zone proves emptiness are
    * dropped; files with unusable stats or non-long zones are kept
    * conservatively; all-null files prove empty. One collect of the
    * sidecar (one row per file, read under its footer schema, so no
    * inference job) gives both. */
  private[graft] def keptFiles(spark: SparkSession, path: String,
      c: String, lo: Long, hi: Long): (Seq[String], Int) = {
    val zm = MetaIO.parquet(spark, sidecar(path))
    require(zm.columns.contains(s"${c}_ok"),
      s"no zone map for column $c — harvested: " +
        zm.columns.filter(_.endsWith("_ok")).map(_.dropRight(3)).mkString(", "))
    val keep = !col(s"${c}_ok") || col(s"${c}_ty") =!= "long" ||
      (col(s"${c}_min").isNotNull && col(s"${c}_min") <= hi && col(s"${c}_max") >= lo)
    val rows = zm.select(col("file"), keep).collect()
    (rows.filter(_.getBoolean(1)).map(r => s"$path/${r.getString(0)}").toSeq.sorted,
      rows.length)
  }

  /** Range scan through the zone map: open ONLY files whose zone
    * intersects `[lo, hi]`, then re-apply the exact predicate (zone
    * maps prove absence, never presence — survivors still filter,
    * and parquet row-group skipping applies within them). */
  def scanRange(spark: SparkSession, path: String, c: String,
      lo: Long, hi: Long): DataFrame = {
    val (kept, _) = keptFiles(spark, path, c, lo, hi)
    if (kept.isEmpty) MetaIO.parquet(spark, path).where(lit(false))
    else MetaIO.parquet(spark, kept: _*).where(col(c).between(lo, hi))
  }

  /** Full-scan reference form — law twin (ZoneMapSpec). */
  private[graft] def scanRangeBrute(spark: SparkSession, path: String,
      c: String, lo: Long, hi: Long): DataFrame =
    spark.read.parquet(path).where(col(c).between(lo, hi))

  /** DECLARATIVE zone-map table: a DataFrame whose scan consults the
    * sidecar for EVERY predicate Catalyst pushes down — `table(...)
    * .where(...)` prunes files at planning time with no special API,
    * SQL views included. This is the extension point file-skipping
    * table formats use: a custom [[org.apache.spark.sql.execution
    * .datasources.FileIndex]] receives the pushed data filters in
    * `listFiles` and returns only surviving files; the normal parquet
    * scan (row-group skipping, column pruning, whole-stage codegen)
    * runs unchanged on top. Pruning is sound by construction — the
    * scan re-applies the exact filters, so dropping a file only ever
    * removes rows the predicate provably excludes. */
  def table(spark: SparkSession, path: String): DataFrame =
    org.apache.spark.sql.graftbridge.PlanBridge.ofRows(
      spark, tablePlan(spark, path))

  /** The bare LogicalRelation behind [[table]] — also the body of the
    * `graft_zonemap_table('<path>')` SQL table function
    * ([[graft.functions.GraftExtensions]]). */
  private[graft] def tablePlan(spark: SparkSession, path: String)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    val idx = new ZoneMapFileIndex(spark, path)
    val dataSchema = MetaIO.footerSchema(spark, path)
    val rel = HadoopFsRelation(idx, new StructType(), dataSchema, None,
      new ParquetFileFormat, Map("path" -> path))(spark)
    LogicalRelation(rel, isStreaming = false)
  }
}

/** [[graft.sources.ZoneMap.table]]'s scan-time pruner: one zone row
  * per file, checked against the data filters Spark's planner hands
  * to `listFiles`. Only provably-sound prunings fire — conjuncts it
  * can't interpret are ignored and the file kept. Supported shapes
  * per stats column (bare attribute vs int/long literal, both
  * orientations): `=  <  <=  >  >=  BETWEEN  IS NOT NULL` — the
  * not-null case prunes all-null files, and the planner plants
  * `IsNotNull` beside every comparison, so it fires on every
  * filtered scan. */
class ZoneMapFileIndex(spark: SparkSession, path: String)
    extends org.apache.spark.sql.execution.datasources.FileIndex {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.Expression
  import org.apache.spark.sql.execution.datasources.PartitionDirectory

  /** One zone per harvested column, per file name. */
  private val zones: Map[String, Map[String, ZonePrune.Zone]] =
    ZonePrune.zonesOf(spark.read.parquet(s"$path/_zonemap"))

  private val statuses: Seq[org.apache.hadoop.fs.FileStatus] = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(p).filter(_.getPath.getName.endsWith(".parquet")).toSeq
      .sortBy(_.getPath.getName)
  }

  override def rootPaths: Seq[org.apache.hadoop.fs.Path] =
    Seq(new org.apache.hadoop.fs.Path(path))
  override def partitionSchema: StructType = new StructType()
  override def sizeInBytes: Long = statuses.map(_.getLen).sum
  override def inputFiles: Array[String] =
    statuses.map(_.getPath.toString).toArray
  override def refresh(): Unit = () // layout immutable once harvested

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val d = ZonePrune.demands(dataFilters)
    val kept = statuses.filter(st =>
      zones.get(st.getPath.getName).forall(ZonePrune.keep(_, d)))
    Seq(PartitionDirectory(InternalRow.empty, kept.toArray))
  }
}

/** The zone-pruning core shared by [[ZoneMapFileIndex]] and [[graft
  * .operators.MergeTable]]'s declarative table: pushed data filters →
  * per-column conjunctive demands → a sound keep/drop decision per
  * file. Only provably-sound prunings fire — conjuncts it can't
  * interpret are ignored and the file kept. Supported shapes per
  * stats column (bare attribute vs int/long/string literal, both
  * orientations): `=  <  <=  >  >=  BETWEEN  IS NOT NULL` — the
  * not-null case prunes all-null files, and the planner plants
  * `IsNotNull` beside every comparison, so it fires on every
  * filtered scan. String bounds compare in UTF-8 byte order (=
  * parquet BINARY stats order = Spark's UTF8_BINARY collation);
  * strict string bounds are widened to inclusive (sound — no string
  * successor). */
private[graft] object ZonePrune {
  import org.apache.spark.sql.catalyst.expressions._

  case class Zone(ty: String, ok: Boolean,
      minL: Option[Long], maxL: Option[Long],
      minS: Option[String], maxS: Option[String]) {
    def allNull: Boolean =
      ok && (if (ty == "long") minL.isEmpty else minS.isEmpty)
  }

  /** Decode a `_zonemap` sidecar into per-file, per-column zones. */
  def zonesOf(zm: org.apache.spark.sql.DataFrame)
      : Map[String, Map[String, Zone]] = {
    val cols = zm.columns.filter(_.endsWith("_ok")).map(_.dropRight(3)).toSeq
    zm.collect().map { r =>
      r.getString(r.fieldIndex("file")) -> cols.map { c =>
        def optLong(f: String): Option[Long] = {
          val i = r.fieldIndex(f)
          if (r.isNullAt(i)) None else Some(r.getLong(i))
        }
        def optStr(f: String): Option[String] = {
          val i = r.fieldIndex(f)
          if (r.isNullAt(i)) None else Some(r.getString(i))
        }
        c -> Zone(r.getString(r.fieldIndex(s"${c}_ty")),
          r.getBoolean(r.fieldIndex(s"${c}_ok")),
          optLong(s"${c}_min"), optLong(s"${c}_max"),
          optStr(s"${c}_smin"), optStr(s"${c}_smax"))
      }.toMap
    }.toMap
  }

  case class Demands(lo: Map[String, Long], hi: Map[String, Long],
      loS: Map[String, String], hiS: Map[String, String],
      notNull: Set[String],
      /** per-column equality/IN value sets, for hash-bucket pruning */
      eqLong: Map[String, Set[Long]], eqStr: Map[String, Set[String]])

  object Lit {
    def unapply(e: Expression): Option[Long] = e match {
      case Literal(v: Int, _)  => Some(v.toLong)
      case Literal(v: Long, _) => Some(v)
      case _ => None
    }
  }
  object LitS {
    def unapply(e: Expression): Option[String] = e match {
      case Literal(v: org.apache.spark.unsafe.types.UTF8String,
        _: org.apache.spark.sql.types.StringType) if v != null => Some(v.toString)
      case _ => None
    }
  }

  def demands(dataFilters: Seq[Expression]): Demands = {
    var lo = Map.empty[String, Long]
    var hi = Map.empty[String, Long]
    var loS = Map.empty[String, String]
    var hiS = Map.empty[String, String]
    var notNull = Set.empty[String]
    var eqLong = Map.empty[String, Set[Long]]
    var eqStr = Map.empty[String, Set[String]]
    def tightenLo(c: String, v: Long): Unit =
      lo += c -> math.max(v, lo.getOrElse(c, Long.MinValue))
    def tightenHi(c: String, v: Long): Unit =
      hi += c -> math.min(v, hi.getOrElse(c, Long.MaxValue))
    def tightenLoS(c: String, v: String): Unit =
      loS += c -> loS.get(c).fold(v)(ZoneMap.utf8Max(_, v))
    def tightenHiS(c: String, v: String): Unit =
      hiS += c -> hiS.get(c).fold(v)(ZoneMap.utf8Min(_, v))
    def eqL(c: String, vs: Set[Long]): Unit =
      eqLong += c -> eqLong.get(c).fold(vs)(_ intersect vs)
    def eqS(c: String, vs: Set[String]): Unit =
      eqStr += c -> eqStr.get(c).fold(vs)(_ intersect vs)
    dataFilters.foreach {
      case EqualTo(a: AttributeReference, Lit(v)) =>
        tightenLo(a.name, v); tightenHi(a.name, v); eqL(a.name, Set(v))
      case EqualTo(Lit(v), a: AttributeReference) =>
        tightenLo(a.name, v); tightenHi(a.name, v); eqL(a.name, Set(v))
      case GreaterThanOrEqual(a: AttributeReference, Lit(v)) => tightenLo(a.name, v)
      case GreaterThan(a: AttributeReference, Lit(v))        => tightenLo(a.name, v + 1)
      case LessThanOrEqual(a: AttributeReference, Lit(v))    => tightenHi(a.name, v)
      case LessThan(a: AttributeReference, Lit(v))           => tightenHi(a.name, v - 1)
      case GreaterThanOrEqual(Lit(v), a: AttributeReference) => tightenHi(a.name, v)
      case GreaterThan(Lit(v), a: AttributeReference)        => tightenHi(a.name, v - 1)
      case LessThanOrEqual(Lit(v), a: AttributeReference)    => tightenLo(a.name, v)
      case LessThan(Lit(v), a: AttributeReference)           => tightenLo(a.name, v + 1)
      case EqualTo(a: AttributeReference, LitS(v)) =>
        tightenLoS(a.name, v); tightenHiS(a.name, v); eqS(a.name, Set(v))
      case EqualTo(LitS(v), a: AttributeReference) =>
        tightenLoS(a.name, v); tightenHiS(a.name, v); eqS(a.name, Set(v))
      case GreaterThanOrEqual(a: AttributeReference, LitS(v)) => tightenLoS(a.name, v)
      case GreaterThan(a: AttributeReference, LitS(v))        => tightenLoS(a.name, v)
      case LessThanOrEqual(a: AttributeReference, LitS(v))    => tightenHiS(a.name, v)
      case LessThan(a: AttributeReference, LitS(v))           => tightenHiS(a.name, v)
      case GreaterThanOrEqual(LitS(v), a: AttributeReference) => tightenHiS(a.name, v)
      case GreaterThan(LitS(v), a: AttributeReference)        => tightenHiS(a.name, v)
      case LessThanOrEqual(LitS(v), a: AttributeReference)    => tightenLoS(a.name, v)
      case LessThan(LitS(v), a: AttributeReference)           => tightenLoS(a.name, v)
      case In(a: AttributeReference, vs)
          if vs.nonEmpty && vs.forall(Lit.unapply(_).isDefined) =>
        val set = vs.flatMap(Lit.unapply).toSet
        eqL(a.name, set); tightenLo(a.name, set.min); tightenHi(a.name, set.max)
      case In(a: AttributeReference, vs)
          if vs.nonEmpty && vs.forall(LitS.unapply(_).isDefined) =>
        val set = vs.flatMap(LitS.unapply).toSet
        eqS(a.name, set)
        tightenLoS(a.name, set.reduce(ZoneMap.utf8Min))
        tightenHiS(a.name, set.reduce(ZoneMap.utf8Max))
      case IsNotNull(a: AttributeReference) => notNull += a.name
      case _ => ()
    }
    Demands(lo, hi, loS, hiS, notNull, eqLong, eqStr)
  }

  /** Sound keep decision for one file's zones under the demands. */
  def keep(z: Map[String, Zone], d: Demands): Boolean =
    z.forall { case (c, zn) =>
      if (!zn.ok) true // unusable stats: keep conservatively
      else {
        val nullOk = !d.notNull.contains(c) || !zn.allNull
        val longDemanded = d.lo.contains(c) || d.hi.contains(c)
        val longOk = !longDemanded || zn.ty != "long" ||
          (zn.minL.nonEmpty &&
            zn.minL.get <= d.hi.getOrElse(c, Long.MaxValue) &&
            zn.maxL.get >= d.lo.getOrElse(c, Long.MinValue))
        val strDemanded = d.loS.contains(c) || d.hiS.contains(c)
        val strOk = !strDemanded || zn.ty != "string" ||
          (zn.minS.nonEmpty &&
            d.hiS.get(c).forall(h => ZoneMap.utf8Cmp(zn.minS.get, h) <= 0) &&
            d.loS.get(c).forall(l => ZoneMap.utf8Cmp(zn.maxS.get, l) >= 0))
        nullOk && longOk && strOk
      }
    }
}
