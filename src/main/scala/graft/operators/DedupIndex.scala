package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted incremental near-duplicate index — the production shape
  * of batch ingest dedup: the corpus-side work (dictionary, masks,
  * posting lists) is materialized ONCE as parquet, each incoming
  * batch probes the index for its near-duplicates and appends its own
  * signatures, and no batch ever re-reads an earlier batch's
  * documents (IncrementalDedupIndexSpec plan-audits that the probe's
  * file scans touch only the index directory).
  *
  * Same regime dispatch as [[Dedup.jaccardPairsAcross]], persisted:
  *
  *  - **dense** (vocabulary fits [[Dedup.tokenVocab]]'s cap): the
  *    index is a token→id dictionary plus per-doc 64-bit-word bitset
  *    masks. Appends EXTEND the dictionary (new tokens get fresh ids;
  *    existing masks stay valid — their missing high words read as
  *    zero, padded at probe time), so masks written under any
  *    dictionary generation intersect exactly. Probe-side docs may
  *    carry out-of-dictionary tokens; those cannot intersect any
  *    indexed doc, but they DO count toward the union, so the probe
  *    overrides the mask bit-count with the doc's true distinct-token
  *    count — the Jaccard stays exact, not dictionary-relative.
  *  - **sparse** (open vocabulary — the 100 TB web-corpus regime): the
  *    index is the prefix-filter posting list (AllPairs/PPJoin lemma,
  *    same math as [[Dedup.jaccardPairsAcrossTokens]]) plus per-doc
  *    sorted token arrays for exact verification. The canonical token
  *    order the lemma needs is FROZEN at build time as the persisted
  *    df table — later batches rank their prefixes under
  *    `(frozen df, tok)` with unseen tokens at df 0, so every batch
  *    ever indexed or probed uses the SAME total order (the lemma
  *    holds for any fixed order; build-time df is only the
  *    selectivity heuristic). Postings are laid out by token hash via
  *    [[graft.sources.Tabular.writeClusteredParquet]] so file-level
  *    min/max stats cluster each token's postings.
  *
  * Thresholds: the sparse posting prefixes are computed for the
  * build-time threshold and are a provable candidate SUPERSET for any
  * probe threshold ≥ it (higher t ⇒ shorter prefix), so `probe`
  * accepts any `minJaccard >= t_build`; verification is exact either
  * way. Input contract for every method: a distinct per-doc
  * (doc_id, tok) table (e.g. `explode(array_distinct(tokens))`),
  * doc ids unique across all batches.
  *
  * Reference analog: the similarity-clustering dedup of
  * bin/OperationalProteinFamilies.sh:66-86 (SURVEY M14), recast as the
  * incremental batch-vs-corpus form a standing corpus needs.
  */
object DedupIndex {

  private def metaPath(dir: String) = s"$dir/meta"
  private def dictPath(dir: String) = s"$dir/dict"
  private def masksPath(dir: String) = s"$dir/masks"
  private def dfreqPath(dir: String) = s"$dir/dfreq"
  private def postingsPath(dir: String) = s"$dir/postings"
  private def docsPath(dir: String) = s"$dir/docs"
  private def tombstonesPath(dir: String) = s"$dir/tombstones"

  /** Hard ceiling on a dense index's dictionary growth across appends
    * — past it the regime premise (bounded vocabulary) is wrong and
    * the caller should rebuild sparse. */
  val DenseDictCap = 1 << 16

  private case class Meta(kind: String, tBuild: Double)

  // meta/dict are METADATA-SIZED by contract (1 row; ≤ DenseDictCap
  // dictionary rows that were collect()ed to the driver anyway) —
  // round 14 moves their I/O to driver-side parquet-mr ([[MetaIO]], the
  // lakehouse-manifest idiom): the round-13 event log showed every
  // probe/append paying a full Spark job per consultation (~0.2-0.3 s
  // of scheduling for ~1-20 rows, guide §5). Files stay plain parquet;
  // reads accept both the old Spark-written directories and the new
  // single files.
  private def hconf(spark: SparkSession) =
    spark.sparkContext.hadoopConfiguration

  private val metaSchema = MetaIO.schemaOf("meta",
    Seq(("kind", "string", true), ("t_build", "double", true)))
  private val dictSchema = MetaIO.schemaOf("dict",
    Seq(("tok", "string", true), ("id", "long", true)))

  private def readMeta(spark: SparkSession, dir: String): Meta = {
    val r = MetaIO.read(hconf(spark),
      new org.apache.hadoop.fs.Path(metaPath(dir))).head
    Meta(r("kind").asInstanceOf[String], r("t_build").asInstanceOf[Double])
  }

  private def writeMeta(spark: SparkSession, dir: String, kind: String,
      t: Double): Unit =
    MetaIO.write(hconf(spark),
      new org.apache.hadoop.fs.Path(s"${metaPath(dir)}/part-00000.parquet"),
      metaSchema, Seq(Seq(kind, t)))

  /** Driver-side existence probe for the index (no Spark job). */
  private[graft] def exists(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(metaPath(dir))
    val fs = p.getFileSystem(hconf(spark))
    try fs.exists(p) && MetaIO.read(hconf(spark), p).nonEmpty
    catch { case _: Exception => false }
  }

  /** Per-doc exact-verify features: sorted distinct token array + its
    * size (the sparse index's docs table; also the probe side's). */
  private def features(tok: DataFrame): DataFrame =
    // same explicit-count spread as [[prefixRows]]: a one-file batch
    // otherwise runs the whole collect_set partial aggregate in its
    // single scan task, and the exchange above it coalesces to one
    tok.repartition(tok.sparkSession.sessionState.conf.numShufflePartitions,
        col("doc_id"))
      .groupBy("doc_id").agg(sort_array(collect_set(col("tok"))).as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))

  /** Prefix rows under the frozen canonical order `(df, tok)` with
    * unseen tokens at df 0: (tok, doc_id, n) for each doc's
    * n − ⌈t·n⌉ + 1 first tokens (1e-9 ceil slack as in
    * [[Dedup.jaccardPairsPrefixTokens]] — a longer prefix only adds
    * candidates). */
  private def prefixRows(tok: DataFrame, dfreqFrozen: DataFrame,
      t: Double): DataFrame = {
    val byDoc = Window.partitionBy("doc_id")
    // Establish the window's doc_id partitioning with an EXPLICIT
    // partition count (guide §2.4/§2.5): the window's own exchange is
    // byte-tiny for a batch-sized probe, AQE coalesces it to one
    // partition, and everything fused downstream of it — the window,
    // the posting/candidate join and the pre-distinct pair stream —
    // then runs in that single task (round-13 event log: 4.4 s 1-task
    // stages inside q260's micro-batches on a 32-core host). A
    // user-count repartition is exempt from coalescing and the window
    // reuses its partitioning, so this adds no extra exchange.
    tok.repartition(tok.sparkSession.sessionState.conf.numShufflePartitions,
        col("doc_id"))
      .join(dfreqFrozen.select("tok", "df"), Seq("tok"), "left_outer")
      .na.fill(0L, Seq("df"))
      .select(col("tok"), col("doc_id"),
        row_number().over(byDoc.orderBy(col("df"), col("tok"))).as("pos"),
        count(lit(1)).over(byDoc).as("n"))
      .where(col("pos") <= col("n") - ceil(lit(t) * col("n") - lit(1e-9)) + 1)
      .select(col("tok"), col("doc_id"), col("n"))
  }

  /** Build the index over the first batch; returns the chosen regime
    * ("dense" | "sparse"). One pass over the batch tokens per
    * persisted table; nothing here is ever recomputed by later
    * batches. */
  def build(tok: DataFrame, dir: String, minJaccard: Double,
      bitmapMaxVocab: Int = 4096): String = {
    require(minJaccard > 0.0, "prefix/bitset indexing needs a positive threshold")
    val spark = tok.sparkSession
    import spark.implicits._
    val kind = Dedup.tokenVocab(tok.select("tok"), bitmapMaxVocab) match {
      case Some(vocab) =>
        MetaIO.write(hconf(spark),
          new org.apache.hadoop.fs.Path(s"${dictPath(dir)}/part-00000.parquet"),
          dictSchema,
          vocab.zipWithIndex.map { case (t, i) => Seq[Any](t, i.toLong) })
        Dedup.tokenMasks(tok, vocab)
          .write.mode("overwrite").parquet(masksPath(dir))
        "dense"
      case None =>
        buildSparse(tok, dir, minJaccard)
        "sparse"
    }
    writeMeta(spark, dir, kind, minJaccard)
    kind
  }

  /** The sparse generation's tables, written fresh — [[build]]'s
    * open-vocabulary branch and [[rebuild]]'s target (a rebuild is
    * always sparse: it is either the dense cap's documented escape or
    * a df-order refresh). */
  private def buildSparse(tok: DataFrame, dir: String, t: Double): Unit = {
    val dfreq = tok.groupBy("tok").agg(count(lit(1)).as("df"))
    dfreq.write.mode("overwrite").parquet(dfreqPath(dir))
    graft.sources.Tabular.writeClusteredParquet(
      prefixRows(tok, dfreq, t)
        .withColumn("tok_h", xxhash64(col("tok"))),
      postingsPath(dir), Seq("tok_h"))
    features(tok).write.mode("overwrite").parquet(docsPath(dir))
  }

  /** The dictionary in id order (dense regime) — bounded by
    * [[DenseDictCap]] by construction, so it was always collected to
    * the driver; reading it THROUGH the driver skips the Spark job. */
  private def readVocab(spark: SparkSession, dir: String): Array[String] =
    MetaIO.read(hconf(spark), new org.apache.hadoop.fs.Path(dictPath(dir)))
      .map(r => (r("id").asInstanceOf[Long], r("tok").asInstanceOf[String]))
      .sortBy(_._1).map(_._2).toArray

  /** Append a batch's signatures to the index. Dense: extends the
    * dictionary with the batch's unseen tokens (deterministic — new
    * ids in token sort order after the current max) and appends the
    * batch masks. Sparse: appends posting rows under the FROZEN df
    * order and the batch's verify features. Never touches previously
    * indexed batches. */
  def append(tok: DataFrame, dir: String): Unit = {
    val spark = tok.sparkSession
    import spark.implicits._
    // a tombstoned id that re-appears in a batch would be silently
    // suppressed from every probe until compact() (probe anti-joins on
    // doc_id alone) — appended-but-invisible. Reviving it here would
    // mean REWRITING the tombstone table, breaking append's pure-file-
    // ADDITION contract (the streaming undo log rolls a crashed batch
    // back by deleting files not in its inventory; it cannot restore a
    // rewritten table). So re-ingesting a taken-down id is a loud
    // error: compact() first (physically removes the doc and retires
    // its tombstone) or ingest under a fresh id (round-10 advice).
    val tsP = new org.apache.hadoop.fs.Path(tombstonesPath(dir))
    if (tsP.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(tsP)) {
      val revived = tok.select(col("doc_id").cast("long").as("doc_id"))
        .distinct()
        .join(broadcast(tombstones(spark, dir)), Seq("doc_id"))
        .limit(5).collect().map(_.getLong(0))
      require(revived.isEmpty,
        s"batch re-ingests tombstoned doc ids ${revived.mkString(", ")}" +
          " — compact() the index first or assign fresh ids (tombstones" +
          " suppress these ids from probes until compaction)")
    }
    val meta = readMeta(spark, dir)
    meta.kind match {
      case "dense" =>
        val vocab = readVocab(spark, dir)
        val known = vocab.toSet
        val fresh = tok.select("tok").distinct().collect()
          .map(_.getString(0)).filterNot(known).sorted
        require(vocab.length + fresh.length <= DenseDictCap,
          s"dense dictionary would grow past $DenseDictCap — the bounded-" +
            "vocabulary premise no longer holds; rebuild the index sparse")
        if (fresh.nonEmpty)
          // unique per dictionary generation (name carries the base id);
          // a crashed attempt's file is outside the undo-log inventory
          // and rolls back like any other append-created file
          MetaIO.write(hconf(spark), new org.apache.hadoop.fs.Path(
              s"${dictPath(dir)}/part-ext-${vocab.length}.parquet"),
            dictSchema,
            fresh.zipWithIndex.map { case (t, i) =>
              Seq[Any](t, (vocab.length + i).toLong) })
        Dedup.tokenMasks(tok, vocab ++ fresh)
          .write.mode("append").parquet(masksPath(dir))
      case "sparse" =>
        val dfreq = spark.read.parquet(dfreqPath(dir))
        prefixRows(tok, dfreq, meta.tBuild)
          .withColumn("tok_h", xxhash64(col("tok")))
          .repartitionByRange(col("tok_h")).sortWithinPartitions("tok_h")
          .write.mode("append").parquet(postingsPath(dir))
        features(tok).write.mode("append").parquet(docsPath(dir))
    }
  }

  /** Every (batch doc, indexed doc) pair with exact Jaccard ≥
    * `minJaccard` (must be ≥ the build threshold in the sparse
    * regime), reading ONLY the index — the batch side comes from the
    * caller's DataFrame, the corpus side from the persisted
    * dictionary/masks or postings/features. Output:
    * (d1 = batch doc, d2 = indexed doc, jaccard). */
  def probe(tok: DataFrame, dir: String, minJaccard: Double,
      maxProbeDocs: Long = 200000): DataFrame = {
    val spark = tok.sparkSession
    val meta = readMeta(spark, dir)
    require(minJaccard >= meta.tBuild - 1e-12,
      s"probe threshold $minJaccard is below the build threshold " +
        s"${meta.tBuild} — indexed prefixes only cover t >= t_build")
    // logically-deleted docs stop matching the moment the tombstone
    // lands: the anti-join drops their pairs after exact verification
    // (per-pair Jaccards are unaffected by which OTHER docs exist, so
    // this equals an index that never held them — IndexDeleteSpec)
    val ts = tombstones(spark, dir)
    def dropTombstoned(pairs: DataFrame): DataFrame =
      pairs.join(broadcast(ts.select(col("doc_id").as("d2"))),
        Seq("d2"), "left_anti")
        .select("d1", "d2", "jaccard")
    meta.kind match {
      case "dense" =>
        val vocab = readVocab(spark, dir)
        val nWords = ((vocab.length + 63) / 64).max(1)
        // older masks are shorter than the grown dictionary: pad the
        // missing high words with zeros so the bitwise kernel zips
        val corpus = spark.read.parquet(masksPath(dir))
          .withColumn("mask",
            when(size(col("mask")) < nWords,
              concat(col("mask"),
                array_repeat(lit(0L), lit(nWords) - size(col("mask")))))
              .otherwise(col("mask")))
        // out-of-dictionary probe tokens intersect nothing but DO
        // count toward the union: override n with the true size
        val nTrue = tok.groupBy("doc_id").agg(count(lit(1)).as("n_true"))
        val batch = Dedup.tokenMasks(tok, vocab).drop("n")
          .join(nTrue, Seq("doc_id"))
          .withColumnRenamed("n_true", "n")
        dropTombstoned(
          Dedup.jaccardPairsFromMasks(batch, corpus, minJaccard, maxProbeDocs))
      case "sparse" =>
        val dfreq = spark.read.parquet(dfreqPath(dir))
        val post = spark.read.parquet(postingsPath(dir))
        val docsT = spark.read.parquet(docsPath(dir))
        val bp = prefixRows(tok, dfreq, minJaccard)
        val cand = bp.select(col("tok"), col("doc_id").as("d1"), col("n").as("n1"))
          .join(post.select(col("tok"), col("doc_id").as("d2"), col("n").as("n2")),
            Seq("tok"))
          .where(least(col("n1"), col("n2")).cast("double") >=
            lit(minJaccard) * greatest(col("n1"), col("n2")).cast("double") -
              lit(1e-9))
          .select("d1", "d2").distinct()
          // Spread the EXACT-VERIFY stage over the session's shuffle
          // parallelism (guide §2.5): the candidate rows are two longs
          // — byte-tiny — so AQE coalesces the distinct down to one
          // partition, and the expensive part (array_intersect over
          // the full token arrays attached below) then runs in that
          // single task (round-13 event log: q278's probe spent 8.9 s
          // in a 1-task stage on a 32-core host). An explicit-count
          // repartition of the pair keys is exempt from AQE
          // coalescing and costs one exchange of bare (d1, d2) longs.
          .repartition(
            tok.sparkSession.sessionState.conf.numShufflePartitions,
            col("d1"), col("d2"))
        val bf = features(tok)
        dropTombstoned(cand
          .join(docsT.select(col("doc_id").as("d2"), col("toks").as("t2"),
            col("n").as("n2")), Seq("d2"))
          .join(bf.select(col("doc_id").as("d1"), col("toks").as("t1"),
            col("n").as("n1")), Seq("d1"))
          .withColumn("n_inter",
            size(array_intersect(col("t1"), col("t2"))).cast("long"))
          .select(col("d1"), col("d2"),
            when(col("n1") + col("n2") - col("n_inter") === 0, lit(0.0))
              .otherwise(col("n_inter").cast("double") /
                (col("n1") + col("n2") - col("n_inter")).cast("double"))
              .as("jaccard"))
          .where(col("jaccard") >= minJaccard))
    }
  }

  /** The deployment step: probe the index for the batch's
    * near-duplicates, THEN append the batch's own signatures. The
    * probe result is materialized (localCheckpoint) before the append
    * mutates the index — a lazy plan evaluated afterwards would see
    * the batch matching itself. */
  def probeAndAppend(tok: DataFrame, dir: String,
      minJaccard: Double): DataFrame = {
    val out = probe(tok, dir, minJaccard).localCheckpoint()
    append(tok, dir)
    out
  }

  /** Takedown lifecycle (round-9 verdict): LOGICAL delete — merge the
    * doc ids into the tombstone table (the q201/q211 CDC idiom).
    * O(|ids|), touches no signature file; [[probe]] anti-joins the
    * tombstones on the INDEXED side, so deleted docs stop matching
    * immediately. Exactness is regime-independent: verified Jaccards
    * are per-pair, so filtering pairs ≡ an index that never held the
    * doc (IndexDeleteSpec pins probe-after-delete == probe of an
    * index built WITHOUT the deleted docs — the prefix lemma holds
    * under any frozen order, and verification is exact either way).
    * Physical reclamation is [[compact]]'s job. A deleted doc_id must
    * NOT be re-ingested before compaction — [[append]] rejects it
    * loudly (the tombstone would keep suppressing the new doc). */
  def delete(spark: SparkSession, dir: String, ids: DataFrame): Unit =
    ids.select(col(ids.columns.head).cast("long").as("doc_id"))
      .distinct().coalesce(1)
      .write.mode("append").parquet(tombstonesPath(dir))

  private def tombstones(spark: SparkSession, dir: String): DataFrame = {
    // existence check, not read-and-catch: a missing table is the
    // COMMON case (no deletes yet) and the failed read logs a WARN
    // per probe
    val p = new org.apache.hadoop.fs.Path(tombstonesPath(dir))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) spark.read.parquet(tombstonesPath(dir))
      .select("doc_id").distinct()
    else {
      import spark.implicits._
      Seq.empty[Long].toDF("doc_id")
    }
  }

  /** Physical reclamation: rewrite the signature tables WITHOUT the
    * tombstoned docs (tmp + [[MetaIO.swapIn]]'s rename-aside — never an
    * in-place overwrite of a table being read), preserving each table's
    * layout (postings keep the tok_h clustering), then clear the
    * tombstone table. Amortized maintenance — run when the tombstone
    * fraction justifies a rewrite, as the single maintenance writer.
    * Probe answers are invariant across the whole lifecycle:
    * tombstoned == compacted == never-indexed (IndexDeleteSpec). */
  def compact(spark: SparkSession, dir: String): Unit = {
    val t = tombstones(spark, dir)
    if (t.isEmpty) return
    val meta = readMeta(spark, dir)
    def rewrite(path: String, cluster: Option[Seq[String]] = None)
        : (org.apache.hadoop.fs.Path, org.apache.hadoop.fs.Path) = {
      // the tmp write fully consumes the read of the live table
      // BEFORE the swap moves it — no in-place overwrite hazard,
      // no data-sized checkpoint
      val keep = spark.read.parquet(path)
        .join(broadcast(t), Seq("doc_id"), "left_anti")
      val tmp = path + "_rewrite"
      cluster match {
        case Some(keys) => graft.sources.Tabular.writeClusteredParquet(keep, tmp, keys)
        case None => keep.write.mode("overwrite").parquet(tmp)
      }
      new org.apache.hadoop.fs.Path(path) -> new org.apache.hadoop.fs.Path(tmp)
    }
    MetaIO.swapIn(hconf(spark), new org.apache.hadoop.fs.Path(s"$dir/compact_prev"),
      meta.kind match {
        case "dense" => Seq(rewrite(masksPath(dir)))
        case "sparse" =>
          Seq(rewrite(postingsPath(dir), Some(Seq("tok_h"))), rewrite(docsPath(dir)))
      })
    val ts = new org.apache.hadoop.fs.Path(tombstonesPath(dir))
    ts.getFileSystem(hconf(spark)).delete(ts, true)
  }

  /** Drift statistic for the sparse regime's FROZEN df order (the
    * [[AnnIndex.driftStats]] counterpart, closing the round-10 ask for
    * BOTH indexes): the prefix-filter lemma holds under any fixed
    * total order, so correctness never drifts — what drifts is
    * SELECTIVITY. A token the build-time df called rare sits early in
    * every prefix; if the corpus has since made it common, each probe
    * prefix containing it joins against its grown posting list. This
    * measures that inflation for a batch, in exact integers a
    * maintenance job can gate on (all SQL-replayable — gate q277
    * derives them, nothing pinned):
    *
    *  - `n_batch_docs` / `n_batch_toks` — batch size;
    *  - `n_unseen` — distinct batch tokens the frozen order has never
    *    ranked (they sort at df 0, flooding prefix slots);
    *  - `prefix_df_frozen` — Σ over the batch's FROZEN-order prefix
    *    tokens of their CURRENT df (current truth from the index's own
    *    docs table, tombstones excluded): the posting-join volume this
    *    batch's probe actually pays;
    *  - `prefix_df_optimal` — the same mass under prefixes ranked by
    *    the CURRENT df: the minimum achievable (ascending-df ranking
    *    puts the rarest tokens in the prefix), what a freshly rebuilt
    *    index would pay. frozen ≥ optimal by construction, equality on
    *    an undrifted index — rebuild when the ratio clears ~2×
    *    (IndexRebuildSpec pins equality-after-[[rebuild]] as a law).
    *
    * Cost: one docs-table scan for current df + two prefix rankings of
    * the batch — maintenance-statistic shaped, like the ANN twin. */
  def driftStats(tok: DataFrame, dir: String): DataFrame = {
    val spark = tok.sparkSession
    val meta = readMeta(spark, dir)
    require(meta.kind == "sparse",
      "drift is a sparse-regime statistic (the frozen df order); the " +
        "dense regime's only drift is dictionary growth, which append " +
        "already gates loudly against DenseDictCap")
    val frozen = spark.read.parquet(dfreqPath(dir)).select("tok", "df")
    val cur = spark.read.parquet(docsPath(dir))
      .join(broadcast(tombstones(spark, dir)), Seq("doc_id"), "left_anti")
      .select(explode(col("toks")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("df_cur"))
    def mass(order: DataFrame, as: String): DataFrame =
      prefixRows(tok, order, meta.tBuild)
        .join(cur, Seq("tok"), "left_outer")
        .na.fill(0L, Seq("df_cur"))
        .agg(coalesce(sum(col("df_cur")), lit(0L)).cast("long").as(as))
    tok.agg(countDistinct(col("doc_id")).as("n_batch_docs"),
        countDistinct(col("tok")).as("n_batch_toks"))
      .crossJoin(tok.select("tok").distinct()
        .join(frozen, Seq("tok"), "left_anti")
        .agg(count(lit(1)).as("n_unseen")))
      .crossJoin(mass(frozen, "prefix_df_frozen"))
      .crossJoin(mass(cur.withColumnRenamed("df_cur", "df"),
        "prefix_df_optimal"))
  }

  /** Rebuild — the drift response ([[driftStats]] says when, this is
    * the action) and the dense cap's documented escape hatch, SELF-
    * CONTAINED: unlike [[AnnIndex.rebuild]] (PQ codes are lossy, the
    * caller must supply the corpus), this index stores exact
    * signatures, so the current corpus is re-derived from the index's
    * own tables — the sparse docs table's token arrays, or the dense
    * masks decoded through the dictionary (bit id·64+b set ⇔ token id
    * present). Tombstoned docs are excluded (a rebuild is also a
    * compaction; their tombstones retire with the swap, so their ids
    * become appendable again). The result is always SPARSE — the
    * open-vocabulary regime a rebuilt 100 TB corpus needs — with the
    * df order refreshed to current truth ([[driftStats]] reads
    * frozen == optimal afterwards, the IndexRebuildSpec law). Swap is
    * [[MetaIO.swapIn]]'s rename-aside under prev_gen/; the dense
    * tables and the tombstones have no staged twin, so it drops them.
    * Single maintenance writer, like append/delete/compact. */
  def rebuild(spark: SparkSession, dir: String): String = {
    val meta = readMeta(spark, dir)
    val ts = broadcast(tombstones(spark, dir))
    val tok = meta.kind match {
      case "sparse" =>
        spark.read.parquet(docsPath(dir))
          .join(ts, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), explode(col("toks")).as("tok"))
      case "dense" =>
        // decode: word w at array position p carries token ids
        // p·64+b for every set bit b — the dictionary (bounded by
        // DenseDictCap) maps ids back to tokens
        spark.read.parquet(masksPath(dir))
          .join(ts, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), posexplode(col("mask")).as(Seq("p", "word")))
          .select(col("doc_id"), col("p"), col("word"),
            explode(sequence(lit(0), lit(63))).as("b"))
          .where(expr("(shiftright(word, b) & 1) = 1"))
          .select(col("doc_id"),
            (col("p") * 64 + col("b")).cast("long").as("id"))
          .join(broadcast(spark.read.parquet(dictPath(dir))), Seq("id"))
          .select("doc_id", "tok")
    }
    val next = s"$dir/gen_next"
    val base = new org.apache.hadoop.fs.Path(dir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a rebuild that crashed before its swap leaves a staged generation
    // behind; the live index is intact, so restage from scratch (the
    // meta file is written in CREATE mode and would refuse the retry)
    fs.delete(new org.apache.hadoop.fs.Path(next), true)
    buildSparse(tok, next, meta.tBuild)
    writeMeta(spark, next, "sparse", meta.tBuild)
    MetaIO.swapIn(hconf(spark), new org.apache.hadoop.fs.Path(s"$dir/prev_gen"),
      Seq("meta", "dict", "masks", "dfreq", "postings", "docs", "tombstones")
        .map(t => new org.apache.hadoop.fs.Path(base, t) ->
          new org.apache.hadoop.fs.Path(s"$next/$t")))
    fs.delete(new org.apache.hadoop.fs.Path(next), true)
    "sparse"
  }
}
