package graft.sources

import graft.operators.MetaIO
import org.apache.spark.sql.{DataFrame, SparkSession}
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
  * one-row-per-file min/max sidecar, read back on the driver;
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
  import ZonePrune.Zone

  private def sidecar(path: String) = new org.apache.hadoop.fs.Path(path, "_zonemap")

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
    * footer. `ty` is "long" for INT32/INT64, "string" for
    * UTF8-annotated BINARY, "other" otherwise; exactly one min/max
    * pair is populated. ok=false → stats unusable, never prune.
    * ok=true with null min/max → every value is NULL → a range
    * predicate may prune the file. */
  private def zoneOf(
      blocks: Seq[org.apache.parquet.hadoop.metadata.BlockMetaData],
      c: String): Zone = {
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
    if (ok) Zone(ty, ok = true, mnL, mxL, mnS, mxS)
    else Zone(ty, ok = false, None, None, None, None)
  }

  /** One file's (relative name, n_rows, zone per column), from its
    * FOOTER only — no data pages are touched. */
  private def footer(conf: org.apache.hadoop.conf.Configuration,
      rel: String, path: String, cols: Seq[String]): (String, Long, Map[String, Zone]) = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(path), conf))
    try {
      val blocks = r.getFooter.getBlocks.asScala.toSeq
      (rel, blocks.map(_.getRowCount).sum, cols.map(c => c -> zoneOf(blocks, c)).toMap)
    } finally r.close()
  }

  /** The footer harvest behind every zone stat — the `_zonemap`
    * sidecar ([[write]]) and [[graft.operators.MergeTable]]'s
    * manifest-carried stats alike: (relative name, n_rows, zone per
    * column) for each (relative name → absolute path) of `files`. A
    * list no longer than the default parallelism `p` reads its footers
    * on the driver, since scheduling a job costs more than a handful of
    * footer reads; a longer one fans out over the executors in
    * ceil(files / p) tasks, at most `p`, so a task reads about as many
    * footers as the driver reads inline. The tasks read with the
    * SESSION's Hadoop configuration — a bare `new Configuration()` would drop configured
    * credentials / endpoints (S3A, custom HDFS) that every other FS
    * access honors. Same zones either way. */
  private[graft] def harvest(spark: SparkSession, files: Seq[(String, String)],
      cols: Seq[String]): Seq[(String, Long, Map[String, Zone])] = {
    val sc = spark.sparkContext
    val p = sc.defaultParallelism
    if (files.size <= p)
      files.map { case (rel, f) => footer(sc.hadoopConfiguration, rel, f, cols) }
    else {
      val confB = org.apache.spark.graftbridge.ConfBridge.broadcast(
        sc, sc.hadoopConfiguration)
      sc.parallelize(files, math.min(p, (files.size + p - 1) / p)).map { case (rel, f) =>
        footer(org.apache.spark.graftbridge.ConfBridge.value(confB), rel, f, cols)
      }.collect().toSeq
    }
  }

  /** The sidecar's six fields per harvested column `c` (suffix,
    * MetaIO type, required), in [[ZonePrune.Zone.cells]] order. */
  private val zoneFields = Seq(("ty", "string", true), ("ok", "boolean", true),
    ("min", "long", false), ("max", "long", false),
    ("smin", "string", false), ("smax", "string", false))
  private def zoneCols(c: String): Seq[String] = zoneFields.map(f => s"${c}_${f._1}")

  /** Harvest and persist the sidecar at `path/_zonemap` (the `_`
    * prefix hides it from every scan of `path`): one row per file,
    * `file, n_rows` and [[zoneCols]] per column, written on the driver
    * through [[MetaIO]]. Call once after the layout write; re-call
    * after rewriting files — the new sidecar replaces the old one. */
  def write(spark: SparkSession, path: String, cols: Seq[String]): Unit = {
    val files = dataFiles(spark, path)
    require(files.nonEmpty, s"no parquet files under $path")
    val schema = MetaIO.schemaOf("zonemap",
      Seq(("file", "string", true), ("n_rows", "long", true)) ++ cols.flatMap(c =>
        zoneFields.map { case (f, t, req) => (s"${c}_$f", t, req) }))
    val rows = harvest(spark,
      files.map(p => new org.apache.hadoop.fs.Path(p).getName -> p), cols)
      .map { case (f, n, z) => Seq[Any](f, n) ++ cols.flatMap(z(_).cells) }
    val conf = spark.sparkContext.hadoopConfiguration
    sidecar(path).getFileSystem(conf).delete(sidecar(path), true)
    MetaIO.write(conf, sidecar(path), schema, rows)
  }

  /** The sidecar read on the driver through [[MetaIO]], no Spark job:
    * the harvested columns and each file's zones. A sidecar directory
    * written by Spark reads too. */
  private[sources] def readSidecar(spark: SparkSession, path: String)
      : (Seq[String], Map[String, Map[String, Zone]]) = {
    val (names, rows) = MetaIO.readWithSchema(
      spark.sparkContext.hadoopConfiguration, sidecar(path))
    val cols = names.filter(_.endsWith("_ok")).map(_.dropRight(3))
    (cols, rows.map(r => r("file").asInstanceOf[String] ->
      cols.map(c => c -> Zone.from(r, zoneCols(c))).toMap).toMap)
  }

  /** The file paths a `lo <= c <= hi` scan must open, and the number of
    * files the zone map covers: [[ZonePrune.keep]] under the bare
    * range drops files whose zone proves emptiness (all-null files
    * included) and keeps files with unusable stats or non-long zones. */
  private[graft] def keptFiles(spark: SparkSession, path: String,
      c: String, lo: Long, hi: Long): (Seq[String], Int) = {
    val (cols, zones) = readSidecar(spark, path)
    require(cols.contains(c),
      s"no zone map for column $c — harvested: " + cols.mkString(", "))
    val d = ZonePrune.range(c, lo, hi)
    (zones.collect { case (f, z) if ZonePrune.keep(z, d) => s"$path/$f" }.toSeq.sorted,
      zones.size)
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
    ZoneMap.readSidecar(spark, path)._2

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

/** The one zone-pruning rule, shared by [[ZoneMap.keptFiles]],
  * [[ZoneMapFileIndex]] and [[graft.operators.MergeTable]]'s range
  * reads and declarative table: pushed data filters (or a bare range)
  * → per-column conjunctive demands → a sound keep/drop decision per
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

  /** One file's zone for one column: `ty` ("long" | "string" |
    * "other"), whether the stats are usable, and the long or string
    * min/max (both empty on a usable zone = every value is NULL). */
  case class Zone(ty: String, ok: Boolean,
      minL: Option[Long], maxL: Option[Long],
      minS: Option[String], maxS: Option[String]) {
    def allNull: Boolean =
      ok && (if (ty == "long") minL.isEmpty else minS.isEmpty)
    /** The six fields as [[graft.operators.MetaIO]] cells (null =
      * absent) — the column order of both the `_zonemap` sidecar and
      * the merge-table manifest's stat rows. */
    def cells: Seq[Any] = Seq(ty, ok, minL.map(Long.box).orNull,
      maxL.map(Long.box).orNull, minS.orNull, maxS.orNull)
  }

  object Zone {
    /** The zone stored in the MetaIO row `r` under the six column
      * `names`, in [[Zone.cells]] order. */
    def from(r: Map[String, Any], names: Seq[String]): Zone = {
      val Seq(ty, ok, mn, mx, smn, smx) = names
      Zone(r(ty).asInstanceOf[String], r(ok).asInstanceOf[Boolean],
        r.get(mn).map(_.asInstanceOf[Long]), r.get(mx).map(_.asInstanceOf[Long]),
        r.get(smn).map(_.asInstanceOf[String]), r.get(smx).map(_.asInstanceOf[String]))
    }
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

  /** The demands of the bare range `lo <= c <= hi`. */
  def range(c: String, lo: Long, hi: Long): Demands =
    Demands(Map(c -> lo), Map(c -> hi), Map.empty, Map.empty, Set.empty,
      Map.empty, Map.empty)

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
