package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.{ZoneMap, ZonePrune}

/** Keyed MERGE over a bucket-clustered parquet table — the lakehouse
  * upsert/delete primitive (Delta/Hudi's shape) as a minimal
  * GENERATION + MANIFEST log over plain parquet:
  *
  *  - **layout**: rows land under `data/gen=G/bucket=B` where
  *    `bucket = pmod(xxhash64(key), nBuckets)`; a MANIFEST (parquet)
  *    names, for every bucket, its live BASE generation and an
  *    ordered merge-on-read DELTA chain. Manifests are versioned
  *    files (`manifest/v%06d`), committed by a tmp-write + rename to
  *    a path that NEVER existed — the one atomic step; readers take
  *    the highest version. The manifest also carries the table
  *    schema (a bucket = -1 sentinel row) and, for clustered tables,
  *    per-file min/max ZONE STATS — one metadata read serves schema,
  *    bucket map, and file skipping (no sidecar round trips).
  *  - **copy-on-write [[merge]]**: the changed keys' buckets are
  *    computed first (one aggregate over the batch-sized change set,
  *    which also checks the batch contract — one action);
  *    ONLY those buckets' live content is read (path-selected from
  *    the manifest — the planning-time analog of partition pruning),
  *    survivors are anti-joined against the changed keys (AQE
  *    broadcasts the batch when small), upserts unioned in, and the
  *    result lands under a freshly CLAIMED generation. Nothing is
  *    ever deleted or moved: a crash anywhere leaves either the old
  *    manifest (orphan data files, invisible to every reader,
  *    reclaimed by [[vacuum]]) or the new one (merge complete). No
  *    undo log, no recovery procedure — "crash-safe" is a property
  *    of the layout, not a protocol.
  *  - **merge-on-read [[mergeOnRead]]**: the batch lands as per-
  *    bucket DELTA files (upserts as rows, deletes as key-only
  *    tombstones under a `_graft_op` column) and the manifest
  *    APPENDS the new generation to each touched bucket's chain —
  *    write cost ∝ THE BATCH, never bucket size (the trickle-upsert
  *    / streaming-CDC path; copy-on-write rewrites whole buckets).
  *    Reads fold base + chain per key (latest generation wins;
  *    tombstones drop); [[compact]] folds chains back into a fresh
  *    base generation. Gen numbers within a bucket's (base, chain)
  *    are strictly ascending by construction, so "latest" is just
  *    the max generation — no per-file sequence metadata.
  *  - **reads** name bucket directories straight from the manifest
  *    and list them on the driver, for that one read only ([[scan]]):
  *    no Spark listing job however many directories a read names, and
  *    no listing outlives the read ([[vacuum]] deletes directories,
  *    and a reclaimed generation number can be claimed again).
  *  - **multi-writer**: the manifest rename IS a compare-and-swap
  *    (the target version either commits or already exists). Writers
  *    claim generations via create-exclusive markers so concurrent
  *    data writes can never collide, then commit optimistically: a
  *    loser whose touched buckets are DISJOINT from everything that
  *    committed since its planning snapshot re-points its manifest
  *    at the new head and retries (both effects land — the merges
  *    commute); an overlapping loser re-plans against the new head
  *    (sequential semantics). Crash between retries leaves only
  *    orphan generations, vacuum-reclaimable.
  *  - **idempotent replay**: re-merging the same batch against the
  *    post-merge table reproduces the same content (upserts
  *    overwrite themselves, deletes of absent keys are no-ops), so a
  *    streaming CDC apply gets exactly-once CONTENT from the
  *    checkpoint WAL alone ([[graft.streaming.StreamOps
  *    .runMergeStream]]; law in MergeTableSpec).
  *  - **semantics**: upsert = replace-by-key or insert; delete =
  *    remove-by-key (absent keys are no-ops). A batch must not
  *    upsert the same key twice nor both upsert and delete one key —
  *    rejected loudly rather than resolved by an arbitrary winner.
  *
  * Copy-on-write merge cost ∝ (affected buckets' data + change
  * batch); merge-on-read cost ∝ change batch alone; neither ever
  * touches untouched buckets, whose (base, chain) carries over
  * byte-identical (laws in MergeTableSpec). The reference's analog
  * is per-row Neo4j upserts (bin/BenchmarkDatabaseCreation.pl:148)
  * serialized by Makefile stages; this engine does the incremental
  * write distributed and optimistically concurrent.
  */
object MergeTable {

  private def dataPath(dir: String) = s"$dir/data"
  private def metaPath(dir: String) = s"$dir/meta"
  private def manifestDir(dir: String) = s"$dir/manifest"

  private val OP = "_graft_op" // delta-file op column: "u" | "d"

  private def bucketOf(key: Column, nBuckets: Int): Column =
    pmod(xxhash64(key), lit(nBuckets)).cast("int")

  private def fs(spark: SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Highest committed manifest version (0 = none). */
  private def currentVersion(spark: SparkSession, dir: String): Int = {
    val md = new org.apache.hadoop.fs.Path(manifestDir(dir))
    val f = fs(spark, dir)
    if (!f.exists(md)) return 0
    f.listStatus(md).map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.drop(1).forall(_.isDigit))
      .map(_.drop(1).toInt).foldLeft(0)(math.max)
  }

  /** One bucket's live state: optional BASE generation plus the
    * ordered merge-on-read delta chain (generations ascending =
    * apply order; base, when present, precedes every delta). A
    * base-less state is a bucket born from pure delta inserts. */
  private[graft] case class BucketState(base: Option[Int], deltas: List[Int]) {
    def gens: Seq[Int] = base.toSeq ++ deltas
    def foldFree: Boolean = deltas.isEmpty && base.nonEmpty
    def maxGen: Int = gens.max
  }

  /** Per-file zone stats carried INSIDE the manifest (clustered
    * tables): one entry per (file, stats column), harvested from
    * parquet footers at write time and copied forward verbatim for
    * carried buckets — the manifest is the single metadata read. */
  private[graft] case class FileStat(bucket: Int, gen: Int, file: String,
      col: String, zone: ZonePrune.Zone, nRows: Long)

  /** One committed version: live bucket states, the DATA schema, and
    * (clustered tables) the per-file zone stats. The schema and
    * stats travel IN the manifest file, so schema evolution and
    * stats updates commit atomically with the bucket map they
    * describe, time travel reads each version under its OWN schema,
    * and stats-pruned reads open zero sidecar files. */
  private[graft] case class Snapshot(buckets: Map[Int, BucketState],
      schema: StructType, stats: Seq[FileStat])

  /** The snapshot of the highest manifest version. */
  private def manifest(spark: SparkSession, dir: String): Snapshot = {
    val v = currentVersion(spark, dir)
    require(v > 0, s"no committed manifest under $dir")
    manifestAt(spark, dir, v)
  }

  /** Committed manifests are IMMUTABLE (a version either exists with
    * its committed content or was vacuumed), so parsed snapshots are
    * cached driver-side keyed by (path, mtime, length) — the freshness
    * probe is one FS stat instead of a Spark read+collect job per
    * manifest consultation. Bounded LRU (≤256 snapshots; each is a
    * bucket map + schema + zone stats, metadata-sized by
    * construction) — a listed cap in SCALE.md's driver-bound table.
    * Existence is still checked FIRST, so a vacuumed version fails
    * as loudly as before. */
  private val snapCache =
    new java.util.LinkedHashMap[(String, Long, Long), Snapshot](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long, Long), Snapshot]): Boolean =
        size() > 256
    }

  /** The snapshot of a specific committed version. Reads the current
    * 13-column format; anything older (the 3-column pre-delta format,
    * the 2-column pre-sentinel one) is refused with an explicit
    * incompatibility error, not an index crash. */
  private def manifestAt(spark: SparkSession, dir: String, v: Int): Snapshot = {
    val p = new org.apache.hadoop.fs.Path(f"${manifestDir(dir)}/v$v%06d")
    val f0 = fs(spark, dir)
    require(f0.exists(p),
      s"manifest version $v does not exist under $dir — never committed, " +
        "or outside the vacuum retention horizon")
    val st = f0.getFileStatus(p)
    val key = (f0.makeQualified(p).toString, st.getModificationTime, st.getLen)
    snapCache.synchronized {
      val hit = snapCache.get(key)
      if (hit != null) return hit
    }
    val snap = parseManifest(spark, dir, p)
    snapCache.synchronized { snapCache.put(key, snap) }
    snap
  }

  /** Manifests are metadata-sized by construction, so they parse
    * through [[MetaIO]] on the driver — one footer+page read, NO
    * Spark job per consultation (the round-13 event log billed every
    * un-cached manifest read a full job). Accepts the current
    * single-file form AND the older Spark-written directory form. */
  private def parseManifest(spark: SparkSession, dir: String,
      p: org.apache.hadoop.fs.Path): Snapshot = {
    val (cols0, rows) = MetaIO.readWithSchema(
      spark.sparkContext.hadoopConfiguration, p)
    require((0 until manifestSchema.getFieldCount).map(manifestSchema.getFieldName)
        .forall(cols0.contains),
      s"manifest $p was written by an older MergeTable layout " +
        s"(columns: ${cols0.mkString(", ")}) — " +
        "rebuild the table with the current format")
    def bucketOf(r: Map[String, Any]): Int = r("bucket").asInstanceOf[Int]
    val sentinel = rows.find(r => bucketOf(r) == -1).getOrElse(throw
      new IllegalArgumentException(
        s"manifest $p has no schema sentinel row (bucket = -1) — " +
          "written by an older MergeTable layout; rebuild the table"))
    val schema = DataType.fromJson(sentinel("schema_json").asInstanceOf[String])
      .asInstanceOf[StructType]
    val (statRows, bucketRows) = rows.filter(bucketOf(_) >= 0)
      .partition(r => r.contains("file"))
    val buckets = bucketRows.map { r =>
      val base = r.get("gen").map(_.asInstanceOf[Int])
      val chain = r.get("deltas").map(_.asInstanceOf[String])
        .filter(_.nonEmpty).map(_.split(",").map(_.toInt).toList)
        .getOrElse(Nil)
      bucketOf(r) -> BucketState(base, chain)
    }.toMap
    val stats = statRows.map { r =>
      FileStat(bucketOf(r), r("gen").asInstanceOf[Int],
        r("file").asInstanceOf[String], r("scol").asInstanceOf[String],
        ZonePrune.Zone.from(r, zoneCols), r("n_rows").asInstanceOf[Long])
    }.toSeq
    Snapshot(buckets, schema, stats)
  }

  /** All committed manifest versions, ascending (time-travel points).
    * Version 1 is the create; each merge commits the next. */
  def versions(spark: SparkSession, dir: String): Seq[Int] = {
    val md = new org.apache.hadoop.fs.Path(manifestDir(dir))
    val f = fs(spark, dir)
    if (!f.exists(md)) return Seq.empty
    f.listStatus(md).map(_.getPath.getName).toSeq
      .filter(n => n.startsWith("v") && n.drop(1).forall(_.isDigit))
      .map(_.drop(1).toInt).sorted
  }

  private val manifestSchema = MetaIO.schemaOf("manifest", Seq(
    ("bucket", "int", true),
    ("gen", "int", false),
    ("deltas", "string", false),
    ("schema_json", "string", false),
    ("file", "string", false),
    ("scol", "string", false),
    ("sty", "string", false),
    ("sok", "boolean", false),
    ("smin_l", "long", false),
    ("smax_l", "long", false),
    ("smin_s", "string", false),
    ("smax_s", "string", false),
    ("n_rows", "long", false)))

  /** The stat rows' zone columns, in [[ZonePrune.Zone.cells]] order. */
  private val zoneCols = Seq("sty", "sok", "smin_l", "smax_l", "smin_s", "smax_s")

  /** Write bucket rows + schema sentinel + stat rows as version `v` —
    * unique-tmp write, then publish the SINGLE manifest FILE at the
    * version path via a scheme-aware atomic-exclusive step: the
    * commit point, which doubles as the multi-writer CAS. Returns
    * false when the target version already exists (lost the race —
    * the caller re-reads the head and retries); throws only on
    * genuine IO failure.
    *
    * Why a file, not a directory: directory rename is NOT a CAS —
    * on HDFS, rename onto an existing directory moves the source
    * INTO it (nesting a tmp manifest inside the committed one), and
    * RawLocalFileSystem falls back to a copy that also "succeeds" —
    * so two writers racing the same version could both report
    * success (the exists-probe + rename is check-then-act). A single
    * file closes both holes: `file:` publishes via `link(2)`
    * (createLink — EEXIST is atomic in the kernel), and HDFS
    * `rename(file, existingFile)` fails atomically at the NameNode
    * with no nesting semantics. Same object-store caveat as
    * [[claimGen]]: stores without atomic rename/link need a lock
    * service for multi-writer use. */
  private def commitManifest(spark: SparkSession, dir: String,
      entries: Map[Int, BucketState], v: Int, schema: StructType,
      stats: Seq[FileStat]): Boolean = {
    val f0 = fs(spark, dir)
    val dst = new org.apache.hadoop.fs.Path(f"${manifestDir(dir)}/v$v%06d")
    if (f0.exists(dst)) return false
    val nulls9 = Seq.fill(9)(null)
    val sentinel = Seq(-1, null, null, schema.json) ++ nulls9
    val bucketRows = entries.toSeq.sortBy(_._1).map { case (b, st) =>
      Seq(b, st.base.map(Int.box).orNull, st.deltas.mkString(","),
        null) ++ nulls9
    }
    val statRows = stats.sortBy(s => (s.bucket, s.gen, s.file, s.col)).map { s =>
      Seq[Any](s.bucket, s.gen, null, null, s.file, s.col) ++ s.zone.cells :+ s.nRows
    }
    // the tmp write is a single driver-side parquet file ([[MetaIO]] —
    // the manifest is metadata-sized by construction, and the former
    // parallelize→coalesce(1)→write job billed every commit ~0.25 s of
    // cluster scheduling for ~20 rows); the publish step below is the
    // unchanged scheme-aware atomic CAS
    val tmpPath = new org.apache.hadoop.fs.Path(
      s"${manifestDir(dir)}/tmp-${java.util.UUID.randomUUID}.parquet")
    MetaIO.write(spark.sparkContext.hadoopConfiguration, tmpPath,
      manifestSchema, sentinel +: (bucketRows ++ statRows))
    val committed = try {
      val uri = f0.makeQualified(dst).toUri
      if (uri.getScheme == null || uri.getScheme == "file") {
        java.nio.file.Files.createLink( // link(2): EEXIST is atomic
          java.nio.file.Paths.get(uri.getPath),
          java.nio.file.Paths.get(f0.makeQualified(tmpPath).toUri.getPath))
        true
      } else f0.rename(tmpPath, dst) // file→file rename: atomic CAS on HDFS
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
    }
    f0.delete(tmpPath, false)
    if (!committed && !f0.exists(dst))
      throw new IllegalStateException(s"could not commit manifest $dst")
    committed
  }

  /** Claim a never-used generation number ≥ `from`: an exclusive
    * marker create (`data/.gen-N.claim`) is the atomic step, so two
    * concurrent writers can never land data under the same
    * generation directory (the data write uses mode=overwrite).
    * Crashed claims are harmless orphans reclaimed by [[vacuum]].
    *
    * Atomicity is scheme-aware: HDFS `create(overwrite = false)` is
    * atomic at the NameNode, but RawLocalFileSystem implements it as
    * check-then-create — a genuine race (four concurrent writers all
    * "claimed" the same generation in the live-race law before this
    * dispatch) — so `file:` paths claim through NIO's O_EXCL
    * `createFile`. Object stores without atomic create need a lock
    * service for multi-writer use, the same caveat Delta documents. */
  private def claimGen(spark: SparkSession, dir: String, from: Int): Int = {
    val f0 = fs(spark, dir)
    var g = math.max(from, 0)
    while (true) {
      val genDir = new org.apache.hadoop.fs.Path(s"${dataPath(dir)}/gen=$g")
      val mark = new org.apache.hadoop.fs.Path(s"${dataPath(dir)}/.gen-$g.claim")
      if (!f0.exists(genDir) && !f0.exists(mark)) {
        try {
          val uri = f0.makeQualified(mark).toUri
          if (uri.getScheme == null || uri.getScheme == "file") {
            val p = java.nio.file.Paths.get(uri.getPath)
            java.nio.file.Files.createDirectories(p.getParent)
            java.nio.file.Files.createFile(p) // O_EXCL — the claim
          } else f0.create(mark, false).close() // atomic on HDFS
          if (!f0.exists(genDir)) return g
        } catch {
          // FileAlreadyExistsException (NIO) is an IOException too
          case _: java.io.IOException => () // lost this claim
        }
      }
      g += 1
    }
    -1 // unreachable
  }

  private def bucketDir(dir: String, g: Int, b: Int): String =
    s"${dataPath(dir)}/gen=$g/bucket=$b"

  /** Land `df` as a bucket-clustered merge table at `dir`. `keyCol`
    * must be unique (checked — one action over the batch).
    *
    * `clusterBy` + `statsCols` turn the table into a CLUSTERED merge
    * table: every base generation is locally sorted by `clusterBy`
    * inside each bucket (split into runs by `maxRecordsPerFile`),
    * and per-file `statsCols` min/max zones ride in the manifest —
    * so [[readRange]] and the declarative [[table]] open only files
    * whose zone intersects. The add-only layout makes the stats
    * maintenance-free: files are never rewritten, so a generation's
    * zones are valid forever; carried-over buckets keep their
    * (already tight) zones verbatim. */
  def create(df: DataFrame, dir: String, keyCol: String,
      nBuckets: Int, clusterBy: Option[String] = None,
      statsCols: Seq[String] = Nil, maxRecordsPerFile: Long = 0L): Unit = {
    val spark = df.sparkSession
    requireUniqueKeys(df, keyCol, "create")
    val gen = claimGen(spark, dir, 0)
    writeGen(spark, dir, df.withColumn("bucket", bucketOf(col(keyCol), nBuckets)),
      gen, clusterBy, statsCols, maxRecordsPerFile)
    // one-row meta table: driver-side [[MetaIO]] write, no Spark job
    MetaIO.write(spark.sparkContext.hadoopConfiguration,
      new org.apache.hadoop.fs.Path(metaPath(dir)), metaSchema,
      Seq(Seq(keyCol, nBuckets, clusterBy.getOrElse(""),
        statsCols.mkString(","), maxRecordsPerFile)))
    // only buckets that actually received rows enter the manifest
    val entries = writtenBuckets(spark, dir, gen)
      .map(_ -> BucketState(Some(gen), Nil)).toMap
    require(commitManifest(spark, dir, entries, 1, asNullable(df.schema),
        harvestStats(spark, dir, gen, statsCols)),
      s"create: a manifest already exists under $dir — table already created?")
  }

  private def writtenBuckets(spark: SparkSession, dir: String,
      gen: Int): Seq[Int] =
    fs(spark, dir)
      .listStatus(new org.apache.hadoop.fs.Path(s"${dataPath(dir)}/gen=$gen"))
      .map(_.getPath.getName).filter(_.startsWith("bucket="))
      .map(_.stripPrefix("bucket=").toInt).toSeq

  /** One generation's write, ALWAYS bucket-aligned first: repartition
    * on the bucket id so each bucket's rows land from one task —
    * `partitionBy` straight off the upstream partitioning would
    * otherwise write (input partitions × buckets) files per
    * generation (measured 512 instead of 16 for a 32-partition
    * create), and every later read/list/footer-harvest pays for the
    * shard count. One bounded shuffle per write buys O(buckets)
    * files. Clustered tables additionally sort within the bucket so
    * `maxRecordsPerFile` splits the run into consecutive — therefore
    * zone-disjoint — files. */
  private def writeGen(spark: SparkSession, dir: String, df: DataFrame,
      gen: Int, clusterBy: Option[String], statsCols: Seq[String],
      maxRecordsPerFile: Long): Unit = {
    val genPath = s"${dataPath(dir)}/gen=$gen"
    val aligned = df.repartition(col("bucket"))
    val sorted = clusterBy.fold(aligned)(c =>
      aligned.sortWithinPartitions(col("bucket"), col(c)))
    val w = sorted.write.partitionBy("bucket").mode("overwrite")
    (if (maxRecordsPerFile > 0L) w.option("maxRecordsPerFile", maxRecordsPerFile)
     else w).parquet(genPath)
  }

  /** Footer-harvest per-file zone stats for one just-written BASE
    * generation (delta generations are small and always read whole —
    * no stats) through [[ZoneMap.harvest]]. Driver-side result is
    * bounded by files × columns. */
  private def harvestStats(spark: SparkSession, dir: String, gen: Int,
      statsCols: Seq[String]): Seq[FileStat] = {
    if (statsCols.isEmpty) return Nil
    val f0 = fs(spark, dir)
    val genPath = s"${dataPath(dir)}/gen=$gen"
    val files = f0.listStatus(new org.apache.hadoop.fs.Path(genPath))
      .filter(_.getPath.getName.startsWith("bucket=")).flatMap(b =>
        f0.listStatus(b.getPath).filter(_.getPath.getName.endsWith(".parquet"))
          .map(s => s"${b.getPath.getName}/${s.getPath.getName}" ->
            s.getPath.toString)).toSeq.sortBy(_._1)
    ZoneMap.harvest(spark, files, statsCols).flatMap { case (file, nRows, zones) =>
      val bucket = file.split("/")(0).stripPrefix("bucket=").toInt
      statsCols.map(c => FileStat(bucket, gen, file, c, zones(c), nRows))
    }
  }

  /** The table's current content (data columns only). */
  def read(spark: SparkSession, dir: String): DataFrame = {
    val m0 = meta(spark, dir)
    val snap = manifest(spark, dir)
    contentOf(spark, dir, snap.buckets, snap.schema, m0.keyCol)
  }

  /** TIME TRAVEL — the table's content as of committed manifest
    * version `v` (1 = as created; each merge commits the next).
    * Free by construction: merges only ever ADD files, so every
    * generation an old manifest names is still on disk until
    * [[vacuum]] reclaims versions outside the retention horizon
    * (after which readAt of a reclaimed version fails loudly, the
    * documented trade). */
  def readAt(spark: SparkSession, dir: String, v: Int): DataFrame = {
    val m0 = meta(spark, dir)
    val snap = manifestAt(spark, dir, v)
    contentOf(spark, dir, snap.buckets, snap.schema, m0.keyCol)
  }

  /** The folded content of `states` under `schema`: fold-free buckets
    * (base only) read plain; chained buckets read base + deltas with
    * a per-key latest-generation fold (tombstones drop the key). The
    * fold is a keyed aggregate (max_by over the generation number —
    * strictly ascending within a bucket by construction), so it
    * partial-aggregates map-side and never builds a data-sized
    * window. The generation rides in the file PATH (`gen=G/…`), so
    * one parquet scan serves every generation — no per-path unions.
    * Both scans take their file list from a READ-SCOPED driver
    * listing of the manifest's bucket directories ([[scan]]), never
    * from a Spark listing job. */
  private def contentOf(spark: SparkSession, dir: String,
      states: Map[Int, BucketState], schema: StructType,
      keyCol: String): DataFrame = {
    val (plain, chained) = states.partition(_._2.foldFree)
    val plainPaths = plain.toSeq.sortBy(_._1)
      .map { case (b, st) => bucketDir(dir, st.base.get, b) }
    val parts = Seq(
      if (plainPaths.isEmpty) None else Some(scan(spark, plainPaths, schema)),
      foldRead(spark, dir, chained, schema, keyCol, basePaths = None)
    ).flatten
    if (parts.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else parts.reduce(_ unionByName _)
  }

  /** The merge-on-read fold over `chained` buckets: read base + delta
    * files under `schema` + the delta op column, keep each key's row
    * from its highest generation, drop tombstones. `basePaths`
    * optionally overrides the base file set (zone-pruned range
    * reads); delta files are always read whole. */
  private def foldRead(spark: SparkSession, dir: String,
      chained: Map[Int, BucketState], schema: StructType, keyCol: String,
      basePaths: Option[Seq[String]]): Option[DataFrame] = {
    if (chained.isEmpty) return None
    val base = basePaths.getOrElse(chained.toSeq.sortBy(_._1).flatMap {
      case (b, st) => st.base.map(g => bucketDir(dir, g, b))
    })
    val deltas = chained.toSeq.sortBy(_._1).flatMap { case (b, st) =>
      st.deltas.map(g => bucketDir(dir, g, b))
    }
    val paths = base ++ deltas
    if (paths.isEmpty) return None
    val withOp = StructType(schema.fields :+
      StructField(OP, StringType, nullable = true))
    // the generation comes from the LAST layout-anchored match in the
    // file path ("/gen=G/bucket=" is the table layout itself), so a
    // table ROOTED under a directory that happens to contain
    // "gen=<digits>" (even ".../gen=3/bucket=old/mytable") still
    // extracts the file's own generation, not the root's constant
    val raw = scan(spark, paths, withOp)
      .withColumn("_graft_gen",
        element_at(regexp_extract_all(input_file_name(),
          lit("/gen=(\\d+)/bucket="), lit(1)), -1).cast("long"))
    val fields = schema.fieldNames
    val folded = raw
      .groupBy(col(keyCol).as("_graft_k"))
      .agg(max_by(struct((fields :+ OP).map(col): _*), col("_graft_gen"))
        .as("_graft_w"))
      .where(coalesce(col(s"_graft_w.$OP"), lit("u")) === "u")
      .select(fields.map(n => col(s"_graft_w.$n").as(n)): _*)
    Some(folded)
  }

  /** `spark.read.schema(schema).parquet(paths: _*)` over bucket
    * directories or files, with the file list made HERE, on the driver:
    * one `listLocatedStatus` per path. Spark itself lists more than
    * `parallelPartitionDiscovery.threshold` (32) paths with a Spark
    * job, although the manifest already names every directory. The listing lives in a FileStatusCache private to this
    * one relation — never the session-shared cache: [[vacuum]] deletes
    * directories and a reclaimed generation number can be claimed
    * again, so no listing may outlive the read that made it. The
    * relation is otherwise the reader's own: an InMemoryFileIndex over
    * the same root paths, the same nullable schema, no partition
    * columns, and the file paths `input_file_name()` reports (the fold
    * reads the generation from them). */
  private def scan(spark: SparkSession, paths: Seq[String],
      schema: StructType): DataFrame = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    import org.apache.spark.sql.execution.datasources.{FileStatusCache,
      HadoopFsRelation, InMemoryFileIndex, LogicalRelation, PartitionSpec}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    val conf = spark.sparkContext.hadoopConfiguration
    val roots = paths.map { p =>
      val path = new Path(p)
      path.getFileSystem(conf).makeQualified(path)
    }
    val listed: Map[Path, Array[FileStatus]] = roots.map { r =>
      val it = r.getFileSystem(conf).listLocatedStatus(r)
      val leaves = Array.newBuilder[FileStatus]
      while (it.hasNext) {
        val st = it.next()
        if (st.isFile && !MetaIO.hidden(st.getPath.getName)) leaves += st
      }
      r -> leaves.result()
    }.toMap
    val readScoped = new FileStatusCache {
      private var leaves = listed
      override def getLeafFiles(path: Path): Option[Array[FileStatus]] =
        leaves.get(path)
      override def putLeafFiles(path: Path, files: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = leaves = Map.empty
    }
    val nullable = MetaIO.nullable(schema)
    val index = new InMemoryFileIndex(spark, roots, Map.empty, Some(nullable),
      readScoped, Some(PartitionSpec(new StructType(), Nil)))
    org.apache.spark.sql.graftbridge.PlanBridge.ofRows(spark, LogicalRelation(
      HadoopFsRelation(index, new StructType(), nullable, None,
        new ParquetFileFormat, Map.empty)(spark), isStreaming = false))
  }

  private def asNullable(st: StructType): StructType =
    StructType(st.fields.map(_.copy(nullable = true)))

  /** Keyed point read — the serving-path counterpart of [[merge]]'s
    * write-side pruning: hash the probe keys to their buckets, read
    * ONLY those buckets' live content (path-selected from ONE
    * manifest snapshot), and semi-join. Cost ∝ (probed buckets' data
    * + key set), never table size; the bucket-id collect is bounded
    * by nBuckets, and AQE broadcasts the key set when small. */
  def lookup(spark: SparkSession, dir: String, keys: DataFrame): DataFrame = {
    val (m0, k, snap, probed) = lookupPlan(spark, dir, keys)
    val states = snap.buckets.view.filterKeys(probed.contains).toMap
    contentOf(spark, dir, states, snap.schema, m0.keyCol)
      .join(k, Seq(m0.keyCol), "left_semi")
  }

  /** One manifest snapshot + the probed bucket ids — the schema and
    * the paths come from the SAME committed version (a merge landing
    * between two manifest reads can no longer mix one version's
    * files with another's schema). */
  private def lookupPlan(spark: SparkSession, dir: String, keys: DataFrame)
      : (Meta, DataFrame, Snapshot, Set[Int]) = {
    val m0 = meta(spark, dir)
    val k = keys.select(col(keys.columns.head).as(m0.keyCol)).distinct()
    val probed = k.withColumn("bucket", bucketOf(col(m0.keyCol), m0.nBuckets))
      .select("bucket").distinct().collect().map(_.getInt(0)).toSet
    (m0, k, manifest(spark, dir), probed)
  }

  /** The bucket paths a [[lookup]] of `keys` opens — exposed so the
    * path-pruning law is assertable (MergeTableSpec). */
  private[graft] def lookupPaths(spark: SparkSession, dir: String,
      keys: DataFrame): (String, DataFrame, Seq[String]) = {
    val (m0, k, snap, probed) = lookupPlan(spark, dir, keys)
    val paths = snap.buckets.toSeq.filter(e => probed.contains(e._1))
      .sortBy(_._1).flatMap { case (b, st) => st.gens.map(bucketDir(dir, _, b)) }
    (m0.keyCol, k, paths)
  }

  private case class Meta(keyCol: String, nBuckets: Int,
      clusterBy: Option[String], statsCols: Seq[String], maxRecords: Long)

  private val metaSchema = MetaIO.schemaOf("meta", Seq(
    ("key_col", "string", true),
    ("n_buckets", "int", true),
    ("cluster_by", "string", true),
    ("stats_cols", "string", true),
    ("max_records", "long", true)))

  /** Table meta is written once at [[create]] and never mutated —
    * cached like [[snapCache]] (same (path, mtime, len) freshness
    * probe) so every read/merge/lookup pays one FS stat, not a
    * Spark read job, for the 1-row meta table. */
  private val metaCache =
    new java.util.LinkedHashMap[(String, Long, Long), Meta](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long, Long), Meta]): Boolean =
        size() > 256
    }

  private def meta(spark: SparkSession, dir: String): Meta = {
    val p = new org.apache.hadoop.fs.Path(metaPath(dir))
    val f0 = fs(spark, dir)
    val st = f0.getFileStatus(p)
    val key = (f0.makeQualified(p).toString, st.getModificationTime, st.getLen)
    metaCache.synchronized {
      val hit = metaCache.get(key)
      if (hit != null) return hit
    }
    // MetaIO read (driver-side, no job) — accepts both the current
    // single-file form and older Spark-written meta directories
    val r = MetaIO.read(spark.sparkContext.hadoopConfiguration, p).head
    val m = Meta(r("key_col").asInstanceOf[String],
      r("n_buckets").asInstanceOf[Int],
      Option(r("cluster_by").asInstanceOf[String]).filter(_.nonEmpty),
      Option(r("stats_cols").asInstanceOf[String]).filter(_.nonEmpty)
        .map(_.split(",").toSeq).getOrElse(Nil),
      r("max_records").asInstanceOf[Long])
    metaCache.synchronized { metaCache.put(key, m) }
    m
  }

  private def requireUniqueKeys(df: DataFrame, keyCol: String,
      who: String): Unit = {
    val dup = df.groupBy(col(keyCol)).count().where(col("count") > 1)
      .limit(5).collect()
    require(dup.isEmpty,
      s"$who: duplicate keys in batch — ${dup.map(_.get(0)).mkString(", ")}" +
        " (a merge batch must resolve its own conflicts; an arbitrary" +
        " last-writer would be nondeterministic under shuffles)")
  }

  /** Apply one CDC batch COPY-ON-WRITE: `upserts` (full rows,
    * replace-or-insert by key) and `deleteKeys` (single-column frame
    * of keys to remove). Only the buckets containing touched keys
    * are read or written; their delta chains (if any) fold into the
    * rewritten base.
    *
    * SCHEMA EVOLUTION: with `evolveSchema = true` the batch may ADD
    * columns (appended to the schema, NULL in every pre-evolution
    * row) and OMIT existing non-key columns (NULL in the upserted
    * rows). Column names match under the session's case sensitivity
    * (default: insensitively — a batch 'Tag' lands in an existing
    * 'tag', never beside it). The widened schema commits atomically
    * with the manifest version it describes, so a crash can never
    * publish a schema without its data or vice versa, and time
    * travel reads each version under its own schema. Shared columns
    * must keep their type; dropping or retyping a column is not
    * supported (a rewrite, not a merge). Without the flag, any
    * column-set mismatch fails loudly. */
  def merge(spark: SparkSession, dir: String, upserts: DataFrame,
      deleteKeys: DataFrame, evolveSchema: Boolean = false): Unit =
    mergeFrom(spark, dir, upserts, deleteKeys, evolveSchema,
      currentVersion(spark, dir), mor = false)

  /** Apply one CDC batch MERGE-ON-READ: the batch lands as per-bucket
    * delta files (deletes as key-only tombstones) and the manifest
    * appends the new generation to each touched bucket's chain —
    * write cost ∝ THE BATCH, never bucket size. Reads fold; call
    * [[compact]] to fold chains back into a base generation. Same
    * batch semantics and schema-evolution contract as [[merge]]. */
  def mergeOnRead(spark: SparkSession, dir: String, upserts: DataFrame,
      deleteKeys: DataFrame, evolveSchema: Boolean = false): Unit =
    mergeFrom(spark, dir, upserts, deleteKeys, evolveSchema,
      currentVersion(spark, dir), mor = true)

  /** The merge body, planned against manifest version `baseV` —
    * exposed private[graft] so MergeTableSpec can drive two writers
    * from the SAME snapshot deterministically (no thread races in
    * tests). Commit is optimistic: claim a fresh generation, write,
    * then CAS the manifest; on a lost race, re-point if the winner's
    * buckets are disjoint (merges commute), else re-plan against the
    * new head (sequential semantics). */
  private[graft] def mergeFrom(spark: SparkSession, dir: String,
      upserts: DataFrame, deleteKeys: DataFrame, evolveSchema: Boolean,
      baseV: Int, mor: Boolean, attempts: Int = 0): Unit = {
    require(attempts < 10,
      s"merge: gave up after $attempts optimistic-commit replans under $dir")
    val m0 = meta(spark, dir)
    val (keyCol, nBuckets) = (m0.keyCol, m0.nBuckets)
    val delK = deleteKeys.select(col(deleteKeys.columns.head).as(keyCol))
    val upK = upserts.select(col(keyCol))
    // the batch contract and the affected bucket set in ONE action:
    // per key, count its upserts and flag a delete; per bucket, keep up
    // to five sample keys of each violation kind (one kind can never
    // crowd the other out of the message). The tagged key set is
    // bucket-aligned once, so both aggregates run inside that one
    // shuffle, and the collect is bounded by nBuckets. A null key is
    // never "both" (it joins nothing); duplicate delete keys are fine.
    def samples(bad: Column): Column = slice(sort_array(collect_list(
      when(bad, struct(col(keyCol).cast("string"))))), 1, 5)
    val perBucket = upK.withColumn("u", lit(1)).withColumn("d", lit(false))
      .union(delK.withColumn("u", lit(0)).withColumn("d", lit(true)))
      .withColumn("bucket", bucketOf(col(keyCol), nBuckets))
      .repartition(col("bucket"))
      .groupBy(col("bucket"), col(keyCol))
      .agg(sum("u").as("ups"), max("d").as("deleted"))
      .groupBy("bucket")
      .agg(samples(col("ups") > 1),
        samples(col("ups") > 0 && col("deleted") && col(keyCol).isNotNull))
      .collect().sortBy(_.getInt(0))
    def violations(i: Int): Seq[String] = perBucket.iterator
      .flatMap(_.getSeq[Row](i)).map(_.getString(0)).take(5).toSeq
    val dup = violations(1)
    require(dup.isEmpty,
      s"merge: duplicate keys in batch — ${dup.mkString(", ")}" +
        " (a merge batch must resolve its own conflicts; an arbitrary" +
        " last-writer would be nondeterministic under shuffles)")
    val both = violations(2)
    require(both.isEmpty,
      s"merge: keys both upserted and deleted — ${both.mkString(", ")}")
    val affected = perBucket.map(_.getInt(0)).toSet
    if (affected.isEmpty) return
    val snap = manifestAt(spark, dir, baseV)
    val cur = snap.schema
    // column-name resolution honors the session's case sensitivity
    // (default INSENSITIVE, like every Spark column lookup)
    val resolver = spark.sessionState.analyzer.resolver
    val upSchema = asNullable(upserts.schema)
    cur.fields.foreach { f =>
      upSchema.fields.find(u => resolver(u.name, f.name)).foreach { u =>
        require(u.dataType == f.dataType,
          s"merge: column ${f.name} is ${f.dataType} in the table but " +
            s"${u.dataType} in the batch — retyping needs a rewrite")
      }
    }
    val added = upSchema.fields
      .filterNot(u => cur.fields.exists(f => resolver(f.name, u.name)))
    val missing = cur.fieldNames
      .filterNot(n => upSchema.fields.exists(u => resolver(u.name, n)))
    if (!evolveSchema)
      require(added.isEmpty && missing.isEmpty,
        s"merge: batch schema differs from the table's (adds " +
          s"[${added.map(_.name).mkString(",")}], omits " +
          s"[${missing.mkString(",")}]) — pass evolveSchema = true to widen")
    require(!missing.exists(resolver(_, keyCol)),
      s"merge: batch must carry key $keyCol")
    val nextSchema = StructType(cur.fields ++ added)
    // claim ABOVE every generation the snapshot references, not just
    // the version counter: a vacuumed crashed-claim marker could
    // otherwise free a number below a live chain entry, and the
    // ascending-chain invariant would refuse the append
    val gen = claimGen(spark, dir, Seq(baseV, currentVersion(spark, dir),
      snap.buckets.values.map(_.maxGen + 1).foldLeft(0)(math.max)).max)
    if (mor) {
      // delta write: upserts aligned to the widened schema + key-only
      // tombstones, one file set under the claimed generation —
      // cost ∝ the batch, no survivor read at all
      val upAligned = upserts.select(nextSchema.fields.map { f =>
        upSchema.fields.find(u => resolver(u.name, f.name))
          .map(u => col(u.name).as(f.name))
          .getOrElse(lit(null).cast(f.dataType).as(f.name))
      }.toSeq: _*).withColumn(OP, lit("u"))
      val delAligned = delK.select(nextSchema.fields.map { f =>
        if (resolver(f.name, keyCol)) col(keyCol).as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }.toSeq: _*).withColumn(OP, lit("d"))
      writeGen(spark, dir,
        upAligned.unionByName(delAligned)
          .withColumn("bucket", bucketOf(col(keyCol), nBuckets)),
        gen, None, Nil, m0.maxRecords)
    } else {
      // copy-on-write: fold the affected buckets' live content (base
      // + any delta chains), drop changed keys, union the upserts in
      val states = snap.buckets.view.filterKeys(affected.contains).toMap
      val survivors = contentOf(spark, dir, states, cur, keyCol)
        .join(upK.union(delK), Seq(keyCol), "left_anti")
      writeGen(spark, dir,
        survivors.unionByName(upserts, allowMissingColumns = true)
          .select(nextSchema.fieldNames.map(col).toSeq: _*)
          .withColumn("bucket", bucketOf(col(keyCol), nBuckets)),
        gen, m0.clusterBy, m0.statsCols, m0.maxRecords)
    }
    val written = writtenBuckets(spark, dir, gen).toSet
    val newStats =
      if (mor) Nil else harvestStats(spark, dir, gen, m0.statsCols)
    // ---- optimistic commit loop --------------------------------
    var committed = false
    while (!committed) {
      val head = currentVersion(spark, dir)
      val headSnap = if (head == baseV) snap else manifestAt(spark, dir, head)
      if (head != baseV) {
        val movedSinceBase = (snap.buckets.keySet ++ headSnap.buckets.keySet)
          .filter(b => snap.buckets.get(b) != headSnap.buckets.get(b))
        val commutes = movedSinceBase.intersect(affected).isEmpty &&
          headSnap.schema == snap.schema
        if (!commutes) {
          // overlapping (or schema moved): sequential semantics —
          // re-plan this batch against the new head; the claimed
          // generation becomes a vacuum-reclaimable orphan
          mergeFrom(spark, dir, upserts, deleteKeys, evolveSchema,
            head, mor, attempts + 1)
          return
        }
      }
      val myStates: Map[Int, Option[BucketState]] = affected.iterator.map { b =>
        val prior = headSnap.buckets.get(b)
        val next: Option[BucketState] =
          if (mor) {
            if (!written.contains(b)) prior
            else {
              val st = prior.getOrElse(BucketState(None, Nil))
              // chain generations are strictly ascending — the fold's
              // latest-wins reads the generation number as precedence
              require(st.gens.forall(_ < gen),
                s"merge: claimed generation $gen not above bucket $b's " +
                  s"chain ${st.gens.mkString(",")} — concurrent layout damage?")
              Some(BucketState(st.base, st.deltas :+ gen))
            }
          } else {
            // a bucket whose rows were all deleted writes no dir and
            // drops out of the manifest
            if (written.contains(b)) Some(BucketState(Some(gen), Nil)) else None
          }
        b -> next
      }.toMap
      val next = (headSnap.buckets -- affected) ++
        myStates.collect { case (b, Some(st)) => b -> st }
      // stats: carried buckets keep their (gen-keyed) entries; affected
      // buckets are re-keyed to the fresh generation (COW) or keep the
      // base's entries (MOR — deltas carry no stats)
      val statsByGen = (headSnap.stats ++ newStats).groupBy(s => (s.bucket, s.gen))
      val nextStats = next.toSeq.flatMap { case (b, st) =>
        st.base.toSeq.flatMap(g => statsByGen.getOrElse((b, g), Nil))
      }
      committed = commitManifest(spark, dir, next, head + 1,
        if (evolveSchema || headSnap.schema == cur) nextSchema
        else headSnap.schema, nextStats)
    }
  }

  /** Fold every delta chain back into a fresh base generation — the
    * maintenance counterpart of [[mergeOnRead]] (Hudi's compaction).
    * Only chained buckets are read or written; fold-free buckets
    * carry over verbatim. Commits through the same optimistic CAS
    * loop as merges (a concurrent merge that touches a compacting
    * bucket wins; compact re-plans against the new head). */
  def compact(spark: SparkSession, dir: String): Unit = {
    val m0 = meta(spark, dir)
    var done = false
    var tries = 0
    while (!done) {
      require(tries < 10, s"compact: gave up after $tries replans under $dir")
      tries += 1
      val baseV = currentVersion(spark, dir)
      val snap = manifestAt(spark, dir, baseV)
      val chained = snap.buckets.filterNot(_._2.foldFree)
      if (chained.isEmpty) return
      val gen = claimGen(spark, dir, math.max(baseV,
        snap.buckets.values.map(_.maxGen + 1).foldLeft(0)(math.max)))
      val folded = contentOf(spark, dir, chained, snap.schema, m0.keyCol)
      writeGen(spark, dir,
        folded.withColumn("bucket", bucketOf(col(m0.keyCol), m0.nBuckets)),
        gen, m0.clusterBy, m0.statsCols, m0.maxRecords)
      val written = writtenBuckets(spark, dir, gen).toSet
      val newStats = harvestStats(spark, dir, gen, m0.statsCols)
      val head = currentVersion(spark, dir)
      if (head != baseV) () // a merge landed mid-compact: replan wholesale
      else {
        val next = (snap.buckets -- chained.keySet) ++
          chained.keySet.iterator.filter(written.contains)
            .map(b => b -> BucketState(Some(gen), Nil)).toMap
        val statsByGen = (snap.stats ++ newStats).groupBy(s => (s.bucket, s.gen))
        val nextStats = next.toSeq.flatMap { case (b, st) =>
          st.base.toSeq.flatMap(g => statsByGen.getOrElse((b, g), Nil))
        }
        done = commitManifest(spark, dir, next, head + 1, snap.schema, nextStats)
      }
    }
  }

  /** Per-file zones of a snapshot, keyed gen → file → column. */
  private def zonesOf(snap: Snapshot)
      : Map[Int, Map[String, Map[String, ZonePrune.Zone]]] =
    snap.stats.groupBy(_.gen).view.mapValues(_.groupBy(_.file).view
      .mapValues(_.map(s => s.col -> s.zone).toMap).toMap).toMap

  /** Range read over the cluster column (or any stats column): for
    * every live bucket, open ONLY base files whose manifest zone
    * intersects `[lo, hi]` — manifest path selection and file-level
    * data skipping composed, zero sidecar reads. Buckets with delta
    * chains fold (deltas always read whole — they are batch-sized).
    * The exact predicate is re-applied. */
  def readRange(spark: SparkSession, dir: String, c: String,
      lo: Long, hi: Long): DataFrame = {
    val m0 = meta(spark, dir)
    val snap = manifest(spark, dir)
    val kept = rangeBasePaths(spark, dir, snap, m0, c, lo, hi)
    val (plain, chained) = snap.buckets.partition(_._2.foldFree)
    val plainKept = plain.toSeq.sortBy(_._1).flatMap { case (b, st) =>
      kept.getOrElse((b, st.base.get), Nil)
    }
    val parts = Seq(
      if (plainKept.isEmpty) None else Some(scan(spark, plainKept, snap.schema)),
      foldRead(spark, dir, chained, snap.schema, m0.keyCol,
        basePaths = Some(chained.toSeq.sortBy(_._1).flatMap { case (b, st) =>
          st.base.toSeq.flatMap(g => kept.getOrElse((b, g), Nil))
        }))
    ).flatten
    if (parts.isEmpty) read(spark, dir).where(lit(false))
    else parts.reduce(_ unionByName _).where(col(c).between(lo, hi))
  }

  /** Zone-kept base-file paths per (bucket, gen) for `[lo, hi]` on
    * `c`: [[ZonePrune.keep]] under the bare range. Every base
    * generation of a clustered table carries its stats in the
    * manifest, so a bucket without any is refused, not read whole. */
  private def rangeBasePaths(spark: SparkSession, dir: String,
      snap: Snapshot, m0: Meta, c: String, lo: Long, hi: Long)
      : Map[(Int, Int), Seq[String]] = {
    require(m0.statsCols.contains(c),
      s"$c is not a stats column of the merge table at $dir")
    val zones = zonesOf(snap)
    val d = ZonePrune.range(c, lo, hi)
    snap.buckets.toSeq.flatMap { case (b, st) =>
      st.base.map { g =>
        val genZones = zones.getOrElse(g, Map.empty)
        val files = genZones.keys.toSeq.sorted.filter(_.startsWith(s"bucket=$b/"))
        require(files.nonEmpty, s"the manifest of $dir carries no zone " +
          s"stats for bucket $b of generation $g")
        (b, g) -> files.filter(f => ZonePrune.keep(genZones(f), d))
          .map(f => s"${dataPath(dir)}/gen=$g/$f")
      }
    }.toMap
  }

  /** The file paths a [[readRange]] opens on a fold-free table —
    * exposed for the pruning law (MergeTableSpec). */
  private[graft] def rangePaths(spark: SparkSession, dir: String,
      c: String, lo: Long, hi: Long): Seq[String] = {
    val m0 = meta(spark, dir)
    val snap = manifest(spark, dir)
    rangeBasePaths(spark, dir, snap, m0, c, lo, hi).values.flatten.toSeq.sorted
  }

  /** Reclaim data files and manifests outside the RETENTION HORIZON:
    * the last `retainLast` committed versions stay fully readable
    * (time travel + [[changes]] across them keep working); every
    * older version, every unreferenced generation (crashed merges'
    * orphans, folded delta chains), stale claim markers, and tmp
    * manifests are deleted. Readers of retained versions are
    * unaffected; a reader pinned to an older version loses it (the
    * documented trade — the horizon IS the contract).
    *
    * Safe under a CONCURRENT merge: an in-flight writer's freshly
    * claimed generation is referenced by no manifest yet, so a naive
    * sweep would reclaim its claim marker + half-written data and a
    * later writer could re-claim the number — silent corruption. The
    * guard is the GRACE WINDOW: a generation that appears in NO
    * manifest on disk (committed history distinguishes "superseded"
    * from "never referenced") whose claim marker is younger than
    * `claimGraceMs` is treated as in-flight and skipped — marker and
    * data both. Crashed claims age out of the window and reclaim as
    * before. Pass `claimGraceMs = 0` only when no writer can be live
    * (a maintenance window). */
  def vacuum(spark: SparkSession, dir: String, retainLast: Int = 1,
      claimGraceMs: Long = 15 * 60 * 1000L): Unit = {
    require(retainLast >= 1, s"vacuum: retainLast must be ≥ 1, got $retainLast")
    val f0 = fs(spark, dir)
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"no committed manifest under $dir")
    val keep = vs.takeRight(retainLast)
    val live: Set[String] = keep.flatMap { v =>
      manifestAt(spark, dir, v).buckets.toSeq.flatMap { case (b, st) =>
        st.gens.map(g => s"gen=$g/bucket=$b")
      }
    }.toSet
    val liveGens: Set[Int] = keep.flatMap { v =>
      manifestAt(spark, dir, v).buckets.values.flatMap(_.gens)
    }.toSet
    // every generation ANY on-disk manifest references — a gen outside
    // this set was never committed: either a crashed orphan or an
    // IN-FLIGHT merge's fresh claim; the marker's age tells them apart
    val referencedEver: Set[Int] = vs.flatMap { v =>
      manifestAt(spark, dir, v).buckets.values.flatMap(_.gens)
    }.toSet
    val now = System.currentTimeMillis()
    def inFlight(gen: Int): Boolean = {
      if (referencedEver.contains(gen)) return false
      val mark = new org.apache.hadoop.fs.Path(
        s"${dataPath(dir)}/.gen-$gen.claim")
      f0.exists(mark) &&
        now - f0.getFileStatus(mark).getModificationTime <= claimGraceMs
    }
    val dataRoot = new org.apache.hadoop.fs.Path(dataPath(dir))
    if (f0.exists(dataRoot)) f0.listStatus(dataRoot).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith("gen=")) {
        val gen = name.stripPrefix("gen=").toInt
        if (!inFlight(gen)) {
          f0.listStatus(st.getPath).foreach { bDir =>
            val bn = bDir.getPath.getName
            if (bn.startsWith("bucket=") && !live.contains(s"$name/$bn"))
              require(f0.delete(bDir.getPath, true), s"could not vacuum $bDir")
          }
          if (f0.listStatus(st.getPath)
              .forall(s => s.getPath.getName.startsWith("_")))
            f0.delete(st.getPath, true)
        }
      } else if (name.startsWith(".gen-") && name.endsWith(".claim")) {
        val gen = name.stripPrefix(".gen-").stripSuffix(".claim").toInt
        if (!liveGens.contains(gen) && !inFlight(gen))
          f0.delete(st.getPath, false)
      }
    }
    val md = new org.apache.hadoop.fs.Path(manifestDir(dir))
    f0.listStatus(md).map(_.getPath).foreach { p =>
      val n = p.getName
      if (n.startsWith("tmp-") ||
          (n.startsWith("v") && n.drop(1).forall(_.isDigit) &&
            n.drop(1).toInt < keep.head))
        f0.delete(p, true)
    }
  }

  /** CHANGE DATA FEED — the row-level difference between two
    * committed versions, for incremental consumers ("give me
    * everything that changed since I last read"), with Delta-CDF
    * mode semantics: `insert` (new key, new image),
    * `update_preimage`/`update_postimage` (existing key whose row
    * changed — BOTH images, so a downstream aggregate maintains
    * itself by `+post −pre +insert −delete` without rescanning), and
    * `delete` (old image). An upsert that rewrites an identical row
    * is not a change. Reads ONLY buckets whose (base, chain) state
    * moved between the two manifests — cost ∝ changed data, never
    * table size — which the add-only layout makes exact: an
    * untouched bucket's state is carried verbatim, so state equality
    * IS content equality (byte-identity law in MergeTableSpec).
    * Readable while both versions are inside the vacuum retention
    * horizon; a reclaimed `fromV` fails loudly with the horizon in
    * the message. */
  def changes(spark: SparkSession, dir: String, fromV: Int,
      toV: Int): DataFrame = {
    require(fromV < toV, s"changes: need fromV < toV, got $fromV >= $toV")
    val keyCol = meta(spark, dir).keyCol
    val sFrom = manifestAt(spark, dir, fromV)
    val sTo = manifestAt(spark, dir, toV)
    val moved = (sFrom.buckets.keySet ++ sTo.buckets.keySet)
      .filter(b => sFrom.buckets.get(b) != sTo.buckets.get(b))
    // both slices read (and fold) under the TO version's (widest)
    // schema, so a feed across a schema evolution compares like with
    // like — a pre-evolution row carries NULL in the added columns
    def slice(s: Snapshot): DataFrame =
      contentOf(spark, dir,
        s.buckets.view.filterKeys(moved.contains).toMap, sTo.schema, keyCol)
    val oldRows = slice(sFrom)
    val newRows = slice(sTo)
    // keys unique per version: full-row EXCEPT isolates changed rows
    // on each side; the key split then separates insert/update/delete
    val changedNew = newRows.exceptAll(oldRows)
    val changedOld = oldRows.exceptAll(newRows)
    val oldKeys = oldRows.select(keyCol)
    val newKeys = newRows.select(keyCol)
    changedNew.join(oldKeys, Seq(keyCol), "left_anti")
      .withColumn("change", lit("insert"))
      .unionByName(changedNew.join(oldKeys, Seq(keyCol), "left_semi")
        .withColumn("change", lit("update_postimage")))
      .unionByName(changedOld.join(newKeys, Seq(keyCol), "left_semi")
        .withColumn("change", lit("update_preimage")))
      .unionByName(changedOld.join(newKeys, Seq(keyCol), "left_anti")
        .withColumn("change", lit("delete")))
  }

  /** DECLARATIVE merge table: a DataFrame over the live manifest
    * whose scan prunes at planning time from WHATEVER predicate
    * Catalyst pushes down — no special read API, SQL views included:
    *
    *  - key equality / IN prunes BUCKETS (the probe values hash
    *    driver-side with the same `pmod(xxhash64(k), n)` the layout
    *    uses, so `WHERE k = 42` opens one bucket);
    *  - stats-column predicates prune FILES via the manifest's
    *    per-file zones (clustered tables) — no sidecar reads;
    *  - everything else scans the live files and filters exactly.
    *
    * The file set is pinned at construction — a SNAPSHOT of the
    * manifest current at that moment (MVCC semantics for free from
    * the add-only layout): merges committed later are not seen, and
    * the snapshot stays readable while inside the retention horizon.
    * Requires a fold-free snapshot (a plain parquet relation cannot
    * fold per-key) — [[compact]] first if delta chains are live. */
  def table(spark: SparkSession, dir: String): DataFrame =
    org.apache.spark.sql.graftbridge.PlanBridge.ofRows(
      spark, tablePlan(spark, dir))

  /** The bare LogicalRelation behind [[table]] — also the body of the
    * `graft_merge_table('<dir>')` SQL table function
    * ([[graft.functions.GraftExtensions]]). */
  private[graft] def tablePlan(spark: SparkSession, dir: String)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    val idx = new TableFileIndex(spark, dir)
    val rel = HadoopFsRelation(idx, new StructType(),
      idx.dataSchema, None, new ParquetFileFormat, Map.empty)(spark)
    LogicalRelation(rel, isStreaming = false)
  }

  /** [[table]]'s scan-time pruner. */
  private class TableFileIndex(spark: SparkSession, dir: String)
      extends org.apache.spark.sql.execution.datasources.FileIndex {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.Expression
    import org.apache.spark.sql.execution.datasources.PartitionDirectory

    private val m0 = meta(spark, dir)
    private val snap = manifest(spark, dir)
    require(snap.buckets.values.forall(_.foldFree),
      s"the declarative table needs a fold-free snapshot, but $dir has " +
        s"live merge-on-read delta chains at buckets " +
        s"${snap.buckets.filterNot(_._2.foldFree).keys.toSeq.sorted.mkString(",")}" +
        " — run MergeTable.compact first")
    private val man: Map[Int, Int] =
      snap.buckets.view.mapValues(_.base.get).toMap
    private val f0 = fs(spark, dir)

    /** the pinned snapshot's schema — [[tablePlan]] declares it */
    private[MergeTable] def dataSchema = snap.schema

    private val keyType: DataType = snap.schema(m0.keyCol).dataType

    /** (bucket, FileStatus, zone-by-column) for every live file. */
    private val files: Seq[(Int, org.apache.hadoop.fs.FileStatus,
        Map[String, ZonePrune.Zone])] = {
      val zonesByGen = zonesOf(snap)
      man.toSeq.sortBy(_._1).flatMap { case (b, g) =>
        val bp = new org.apache.hadoop.fs.Path(bucketDir(dir, g, b))
        f0.listStatus(bp).filter(_.getPath.getName.endsWith(".parquet"))
          .toSeq.sortBy(_.getPath.getName).map { st =>
            val zone = zonesByGen.get(g)
              .flatMap(_.get(s"bucket=$b/${st.getPath.getName}"))
              .getOrElse(Map.empty[String, ZonePrune.Zone])
            (b, st, zone)
          }
      }
    }

    private def bucketOfValue(v: Any): Option[Int] = {
      import org.apache.spark.sql.catalyst.expressions.XxHash64Function
      val h = keyType match {
        case LongType    => v match {
          case l: Long => Some(XxHash64Function.hash(l, LongType, 42L))
          case _ => None
        }
        case IntegerType => v match {
          // demands() widens int literals to Long; the layout hashed
          // the column's own (int) type, so hash the int value back
          case l: Long if l.isValidInt =>
            Some(XxHash64Function.hash(l.toInt, IntegerType, 42L))
          case _ => None
        }
        case StringType  => v match {
          case s: String => Some(XxHash64Function.hash(
            org.apache.spark.unsafe.types.UTF8String.fromString(s),
            StringType, 42L))
          case _ => None
        }
        case _ => None
      }
      h.map(x => (((x % m0.nBuckets) + m0.nBuckets) % m0.nBuckets).toInt)
    }

    override def rootPaths: Seq[org.apache.hadoop.fs.Path] =
      Seq(new org.apache.hadoop.fs.Path(dataPath(dir)))
    override def partitionSchema = new StructType()
    override def sizeInBytes: Long = files.map(_._2.getLen).sum
    override def inputFiles: Array[String] =
      files.map(_._2.getPath.toString).toArray
    override def refresh(): Unit = () // a snapshot, by design

    override def listFiles(partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
      val d = ZonePrune.demands(dataFilters)
      // key equality/IN → the only buckets those values can live in;
      // a value the layout's hash can't reproduce disables the prune
      val keyVals: Option[Set[Any]] =
        d.eqLong.get(m0.keyCol).map(_.map(v => v: Any))
          .orElse(d.eqStr.get(m0.keyCol).map(_.map(v => v: Any)))
      val buckets: Option[Set[Int]] = keyVals.flatMap { vs =>
        val hashed = vs.map(bucketOfValue)
        if (hashed.exists(_.isEmpty)) None else Some(hashed.flatten)
      }
      val kept = files.collect {
        case (b, st, zone)
            if buckets.forall(_.contains(b)) && ZonePrune.keep(zone, d) => st
      }
      Seq(PartitionDirectory(InternalRow.empty, kept.toArray))
    }
  }

  /** Recompute-from-scratch reference form of [[merge]] /
    * [[mergeOnRead]] (identical content semantics) — law twin
    * (MergeTableSpec): full-table anti-join + union, no bucket
    * pruning. */
  private[graft] def mergeBrute(base: DataFrame, keyCol: String,
      upserts: DataFrame, deleteKeys: DataFrame): DataFrame = {
    val delK = deleteKeys.select(col(deleteKeys.columns.head).as(keyCol))
    val changed = upserts.select(col(keyCol)).union(delK)
    base.join(changed, Seq(keyCol), "left_anti").unionByName(upserts)
  }
}
