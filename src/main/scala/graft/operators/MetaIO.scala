package graft.operators

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Driver-side parquet I/O for METADATA-SIZED tables (manifests, meta
  * rows, batch markers): a handful of rows written/read through
  * parquet-mr directly, with NO Spark job — the round-13 event log
  * showed every lakehouse commit paying a full job (parallelize →
  * coalesce(1) → FileOutputCommitter) to persist ~20 rows, and every
  * manifest consultation another job to read them back, ~0.2-0.3 s of
  * fixed cost per touch that at 100 TB is pure driver-side latency on
  * the commit path (guide §5: the driver should do almost no data
  * work — this makes the metadata work it must do cheap instead of a
  * cluster job). Files are ordinary parquet: Spark, DuckDB and the
  * old Spark-written files all interoperate (reads accept both a
  * single file and a directory of part files).
  *
  * Scope guard: callers hold metadata by construction (bucket maps,
  * schema sentinels, zone stats, batch ids) — never data rows. */
private[graft] object MetaIO {

  /** Build a MessageType from (name, type, required) triples; types:
    * int | long | string | boolean | double. */
  def schemaOf(name: String, fields: Seq[(String, String, Boolean)]): MessageType = {
    val b = Types.buildMessage()
    fields.foreach { case (n, t, req) =>
      def p(tn: org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName) =
        if (req) Types.required(tn) else Types.optional(tn)
      val f = t match {
        case "int" => p(INT32).named(n)
        case "long" => p(INT64).named(n)
        case "boolean" => p(BOOLEAN).named(n)
        case "double" => p(DOUBLE).named(n)
        case "string" =>
          p(BINARY).as(LogicalTypeAnnotation.stringType()).named(n)
        case other => throw new IllegalArgumentException(s"MetaIO type $other")
      }
      b.addField(f)
    }
    b.named(name)
  }

  /** Write `rows` (null = absent; Int/Long/String/Boolean/Double) as
    * ONE parquet file at `path` — driver-side, no Spark job. Parent
    * dirs are created; an existing file is an error (metadata files
    * are immutable or published via rename/link by the caller). */
  def write(conf: Configuration, path: Path, schema: MessageType,
      rows: Seq[Seq[Any]]): Unit = {
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(path, conf))
      .withConf(conf)
      .withType(schema)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    val gf = new SimpleGroupFactory(schema)
    try rows.foreach { r =>
      val g = gf.newGroup()
      // require, not ensuring: assert-backed checks are elided under
      // -Xdisable-assertions and a short row would write misaligned
      // nulls instead of failing fast (round-13 advisor)
      require(r.size == schema.getFieldCount,
        s"row arity ${r.size} != schema arity ${schema.getFieldCount}")
      var i = 0
      while (i < r.size) {
        val n = schema.getFieldName(i)
        r(i) match {
          case null => ()
          case v: Int => g.add(n, v)
          case v: Long => g.add(n, v)
          case v: Boolean => g.add(n, v)
          case v: Double => g.add(n, v)
          case v: String => g.add(n, v)
          case other => throw new IllegalArgumentException(
            s"MetaIO value ${other.getClass} for $n")
        }
        i += 1
      }
      w.write(g)
    } finally w.close()
  }

  /** Swap staged tables in for live ones, each (live → staged) in
    * turn, by the RENAME-ASIDE idiom, never delete-then-rename (a crash
    * between those two calls would lose the live table): the live
    * table moves under `aside`, then the staged one, if it exists, is
    * renamed onto the live path (no staged table drops the live one).
    * Every rename is require()d, so a failed step aborts loudly, and
    * nothing is destroyed until every swap committed: a crash part-way
    * leaves the displaced tables under `aside` (recovery: rename them
    * back). Live names must be distinct. */
  def swapIn(conf: Configuration, aside: Path, swaps: Seq[(Path, Path)]): Unit = {
    val fs = aside.getFileSystem(conf)
    fs.delete(aside, true)
    fs.mkdirs(aside)
    swaps.foreach { case (live, staged) =>
      val moved = new Path(aside, live.getName)
      if (fs.exists(live))
        require(fs.rename(live, moved),
          s"could not move live table $live aside — swap aborted before it")
      if (fs.exists(staged))
        require(fs.rename(staged, live), s"could not install $staged — the " +
          s"displaced table is preserved at $moved; rename it back to recover")
    }
    fs.delete(aside, true)
  }

  def read(conf: Configuration, path: Path): Seq[Map[String, Any]] =
    readWithSchema(conf, path)._2

  /** Names a Spark file listing skips: `_`/`.`-prefixed files (commit
    * markers, checksums, sidecars) and in-flight copies, but not the
    * parquet summary files. */
  def hidden(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) &&
      !name.startsWith("_common_metadata") && !name.startsWith("_metadata")

  /** The schema `spark.read.parquet(paths: _*)` reports, read from one
    * footer on the driver instead of Spark's schema-inference job. The
    * footer is the one Spark's non-merging inference reads: a
    * `_common_metadata` summary, else a `_metadata` summary, else the
    * first data file in path order; it is converted by
    * `ParquetFileFormat.readSchemaFromFooter` with a converter built from
    * the session conf, as the inference job does, and widened to
    * [[nullable]], as every file relation is. Paths whose file set is not a
    * plain listing (globs, partition subdirectories, a streaming sink's
    * `_spark_metadata` log) or that do not resolve to any file go to
    * Spark's own inference, so the answer, or the error, is Spark's. */
  def footerSchema(spark: SparkSession, paths: String*): StructType = {
    def inferred = spark.read.parquet(paths: _*).schema
    val conf = spark.sparkContext.hadoopConfiguration
    val leaves = paths.flatMap { p =>
      if (p.exists("{}[]*?\\".contains(_))) return inferred
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      if (!fs.exists(path)) return inferred
      val st = fs.getFileStatus(path)
      if (!st.isDirectory) Seq(st)
      else {
        val kids = fs.listStatus(path)
        if (kids.exists(_.getPath.getName == "_spark_metadata")) return inferred
        val shown = kids.filterNot(k => hidden(k.getPath.getName))
        if (shown.exists(_.isDirectory)) return inferred
        shown.toSeq
      }
    }.sortBy(_.getPath.toString)
    def named(n: String) = leaves.find(_.getPath.getName == n)
    val chosen = named("_common_metadata").orElse(named("_metadata"))
      .orElse(leaves.find(l => !Set("_common_metadata", "_metadata")
        .contains(l.getPath.getName)))
      .getOrElse(return inferred)
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(chosen, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
    val sq = spark.sessionState.conf
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = sq.isParquetBinaryAsString,
      assumeInt96IsTimestamp = sq.isParquetINT96AsTimestamp,
      inferTimestampNTZ = sq.parquetInferTimestampNTZEnabled,
      nanosAsLong = sq.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = sq.parquetReaderRespectUnknownTypeAnnotation)
    nullable(ParquetFileFormat.readSchemaFromFooter(
      new Footer(chosen.getPath, footer), converter))
  }

  /** `spark.read.parquet(paths: _*)` under its [[footerSchema]]: the
    * same relation, without the schema-inference job. */
  def parquet(spark: SparkSession, paths: String*): DataFrame =
    spark.read.schema(footerSchema(spark, paths: _*)).parquet(paths: _*)

  /** `schema` with every field, array element and map value nullable —
    * what Spark does to every file relation's data schema. */
  def nullable(schema: StructType): StructType = {
    def widen(t: DataType): DataType = t match {
      case s: StructType => nullable(s)
      case a: ArrayType => ArrayType(widen(a.elementType), containsNull = true)
      case m: MapType => MapType(widen(m.keyType), widen(m.valueType),
        valueContainsNull = true)
      case other => other
    }
    StructType(schema.fields.map(f => f.copy(dataType = widen(f.dataType), nullable = true)))
  }

  /** Read every row of the parquet file — or every `*.parquet` /
    * `part-*` file of a directory (old Spark-written layouts) — as
    * name → value maps (absent/null fields omitted), plus the file
    * schema's field names. Driver-side, no Spark job; bounded by the
    * metadata-sized contract. */
  def readWithSchema(conf: Configuration,
      path: Path): (Seq[String], Seq[Map[String, Any]]) = {
    val fs = path.getFileSystem(conf)
    val st = fs.getFileStatus(path)
    val files =
      if (st.isDirectory)
        fs.listStatus(path).map(_.getPath)
          .filter(p => p.getName.endsWith(".parquet") ||
            (p.getName.startsWith("part-") && !p.getName.contains(".crc")))
          .sortBy(_.getName).toSeq
      else Seq(path)
    var names: Seq[String] = Nil
    val rows = files.flatMap { f =>
      val rd = ParquetReader
        .builder(new GroupReadSupport(), f)
        .withConf(conf).build()
      val out = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
      try {
        var g: Group = rd.read()
        while (g != null) {
          val ty = g.getType
          if (names.isEmpty)
            names = (0 until ty.getFieldCount).map(ty.getFieldName)
          val m = (0 until ty.getFieldCount).flatMap { i =>
            if (g.getFieldRepetitionCount(i) == 0) None
            else {
              val f0 = ty.getType(i).asPrimitiveType()
              val n = ty.getFieldName(i)
              val v: Any = f0.getPrimitiveTypeName match {
                case INT32 => g.getInteger(i, 0)
                case INT64 => g.getLong(i, 0)
                case BOOLEAN => g.getBoolean(i, 0)
                case DOUBLE => g.getDouble(i, 0)
                case BINARY => g.getString(i, 0)
                case other => throw new IllegalArgumentException(
                  s"MetaIO read type $other for $n")
              }
              Some(n -> v)
            }
          }.toMap
          out += m
          g = rd.read()
        }
      } finally rd.close()
      out.toSeq
    }
    // an all-rows-empty file still reports its schema from the footer
    if (names.isEmpty && files.nonEmpty) {
      val pf = org.apache.parquet.hadoop.ParquetFileReader
        .open(HadoopInputFile.fromPath(files.head, conf))
      try {
        val ty = pf.getFooter.getFileMetaData.getSchema
        names = (0 until ty.getFieldCount).map(ty.getFieldName)
      } finally pf.close()
    }
    (names, rows)
  }
}
