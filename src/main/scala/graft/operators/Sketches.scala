package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Frequency sketches for the training-data pipeline's "what's in
  * this corpus" tier, next to the HLL++ distinct gate (q140).
  *
  * Count-Min (Cormode & Muthukrishnan 2005): d hash rows × w buckets
  * of additive counters. Build is ONE partial+final aggregation whose
  * output is d·w cells regardless of input size — at 100 TB the
  * shuffle volume is the sketch, not the data (map-side combine
  * collapses each partition to ≤ d·w partial cells first). Point
  * estimates are a broadcast join of the tiny cell table against the
  * query keys: est(k) = min over rows r of cell(r, h_r(k)), an upper
  * bound on the true count (never under-counts; over-counts only via
  * collisions, bounded by ε = e/w with prob 1−δ = 1−e^−d).
  *
  * Hashes use the engine-portable md5 idiom ([[Sampling.md5Bits32]]),
  * so an external oracle replays the SAME sketch bit-for-bit — both
  * the cells and every estimate are hash-exact across engines
  * (unlike the xxhash-seeded hot-path samplers, which need output
  * pinning).
  */
object Sketches {

  /** One md5 digest per key supplies ALL row hashes: the 128-bit hex
    * splits into four disjoint 32-bit slices, h_r(key) = slice r of
    * md5("seed|key") mod w — so the build hashes each input row ONCE,
    * not d times (measured 4.9 s → ~4× less hashing at d=4 on the
    * gate). Hence the d ≤ 4 bound; at depth 4 the CM failure
    * probability is already e^(-4) ≈ 1.8%. */
  private def digest(seed: Long, key: Column): Column =
    md5(concat(lit(seed.toString), lit("|"), key.cast("string")))

  /** Bucket of hash row `row` from a pre-computed [[digest]] hex.
    * Native hex parse ([[graft.functions.HexSlice32]], 0-based char
    * offset r·8) — value-identical to the conv(substr) form but
    * inside whole-stage codegen; conv cost ~25×/row more and
    * dominated the cell build. */
  private def bucket(w: Int, hex: Column, row: Column): Column =
    graft.functions.HexSlice32(hex, (row * 8).cast("int")) % w

  /** Build the d×w Count-Min cell table `(r, b, cnt)` over `keyCol`,
    * weighting each occurrence by 1. One md5 per input row, then a
    * typed [[CountMinCellsAgg]] whose buffer IS the sketch (a d·w
    * long array): each partition accumulates into one 16 KB array by
    * plain index arithmetic — no d-fold row expansion, no hash-agg
    * probing per update — and partials merge by vector add, so the
    * shuffle carries one array per partition regardless of input
    * size (the same partial+final contract as the previous
    * explode+groupBy form, measured ~3× faster on the gate). Zero
    * cells are dropped to match the group-by form's output. */
  def countMinCells(df: DataFrame, keyCol: Column, d: Int, w: Int,
      seed: Long): DataFrame = {
    require(d >= 1 && d <= 4, "one 128-bit digest carries at most 4 hash rows")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(digest(seed, keyCol).as("hex")).as[String]
      .select(new CountMinCellsAgg(d, w).toColumn)
      .toDF("cells")
      .select(posexplode(col("cells")).as(Seq("i", "cnt")))
      .where(col("cnt") > 0)
      .select((col("i") / lit(w)).cast("int").as("r"),
        pmod(col("i"), lit(w)).cast("long").as("b"), col("cnt"))
  }

  /** Point-estimate counts for `keys` (a 1-column DataFrame of query
    * keys) from a cell table built with the same (d, w, seed):
    * `(key, n_cm)` with n_cm = min_r cells(r, h_r(key)). The cell
    * table is d·w rows — always broadcast-able. */
  def countMinEstimate(cells: DataFrame, keys: DataFrame, d: Int, w: Int,
      seed: Long): DataFrame = {
    require(d >= 1 && d <= 4, "one 128-bit digest carries at most 4 hash rows")
    val k = keys.columns.head
    keys.select(col(k).as("key"), digest(seed, col(k)).as("hex"))
      .select(col("key"), col("hex"),
        explode(sequence(lit(0), lit(d - 1))).as("r"))
      .withColumn("b", bucket(w, col("hex"), col("r")))
      .join(broadcast(cells), Seq("r", "b"))
      .groupBy("key")
      .agg(min(col("cnt")).as("n_cm"))
  }

  /** The sketch-as-buffer aggregate behind [[countMinCells]]: input
    * is the pre-computed md5 hex (one digest carries all d hash
    * rows), the buffer is the flat d×w counter array (row r bucket b
    * at index r·w+b), merge is element-wise add. Exact integer math
    * end-to-end, so the cells are bit-identical to the relational
    * explode+groupBy form AND to the DuckDB oracle's rebuild. */
  class CountMinCellsAgg(d: Int, w: Int)
      extends org.apache.spark.sql.expressions.Aggregator[String, Array[Long], Array[Long]] {

    override def zero: Array[Long] = Array.ofDim[Long](d * w)

    override def reduce(buf: Array[Long], hex: String): Array[Long] = {
      var r = 0
      while (r < d) {
        var v = 0L
        var i = r * 8
        val end = i + 8
        while (i < end) {
          v = (v << 4) | Character.digit(hex.charAt(i), 16)
          i += 1
        }
        buf(r * w + (v % w).toInt) += 1L
        r += 1
      }
      buf
    }

    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }

    override def finish(buf: Array[Long]): Array[Long] = buf

    override def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    override def outputEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  }

  /** The DuckDB replay of [[bucket]] for oracle SQL: identical md5
    * slice arithmetic, `keyExpr` of BIGINT/VARCHAR type, `rowExpr`
    * an integer in [0, 4). */
  def bucketSqlTwin(seed: Long, w: Int, rowExpr: String, keyExpr: String): String =
    s"('0x' || substr(md5('$seed|' || CAST($keyExpr AS VARCHAR)), " +
      s"1 + 8 * ($rowExpr), 8))::BIGINT % $w"

  /** Approximate median/MAD outlier fence — the documented 100×
    * fallback for the exact rank-selected fences (q165/q166): those
    * gates pick medians by `row_number` over a per-key sort, which is
    * exact and engine-replayable but makes one skewed key a full-sort
    * straggler at scale. This form swaps each rank-select for
    * `percentile_approx` (Greenwald-Khanna, relative rank error
    * 1/accuracy) — two grouped one-pass aggregations and a join-back,
    * NO per-key sort, partial-mergeable state of O(accuracy) per key.
    * GK sketch state is implementation-defined, so this variant is
    * NOT hash-oracle-able — the exact forms stay the correctness
    * gates; this is the scale valve, asserted equivalent on odd-count
    * data and sort-free by plan in SketchesSpec.
    * Output per key: (key, n, med, mad, n_outliers) — the q165
    * schema. */
  def approxOutlierFence(df: DataFrame, keyCol: String, valueCol: String,
      nMads: Double = 5.0, accuracy: Int = 10000): DataFrame = {
    val v = df.where(col(valueCol).isNotNull)
      .select(col(keyCol), col(valueCol).cast("double").as("v"))
    val med = v.groupBy(keyCol)
      .agg(percentile_approx(col("v"), lit(0.5), lit(accuracy)).as("med"))
    val dev = v.join(med, Seq(keyCol)).withColumn("d", abs(col("v") - col("med")))
    val stats = dev.groupBy(keyCol)
      .agg(percentile_approx(col("d"), lit(0.5), lit(accuracy)).as("mad"))
    dev.join(stats, Seq(keyCol))
      .groupBy(keyCol)
      .agg(count(lit(1)).as("n"), max(col("med")).as("med"),
        max(col("mad")).as("mad"),
        count(when(col("d") > lit(nMads) * col("mad"), lit(1))).as("n_outliers"))
  }

  /** The flat d·w cell array on the driver — the literal-broadcast
    * form for [[cmEstimate]] row screens (16 KB at d=4, w=512; always
    * driver-safe by the d ≤ 4 bound and caller-chosen w). Null keys
    * are dropped, matching [[bloomBits]]'s null contract. */
  def countMinCellsArray(df: DataFrame, keyCol: Column, d: Int, w: Int,
      seed: Long): Array[Long] = {
    require(d >= 1 && d <= 4, "one 128-bit digest carries at most 4 hash rows")
    val spark = df.sparkSession
    import spark.implicits._
    df.where(keyCol.isNotNull)
      .select(digest(seed, keyCol).as("hex")).as[String]
      .select(new CountMinCellsAgg(d, w).toColumn)
      .head()
  }

  /** Row-level Count-Min estimate against LITERAL cells — the
    * frequency twin of [[bloomContains]]: a pure codegen'd projection
    * (one md5 per row via common-subexpression elimination, d array
    * lookups, a min), so a frequency screen filters the probe side
    * with ZERO shuffle. Must use the same (d, w, seed) the cells were
    * built with. Null keys evaluate to null (filter-false). */
  def cmEstimate(cells: Array[Long], d: Int, w: Int, seed: Long,
      key: Column): Column = {
    require(d >= 1 && d <= 4, "one 128-bit digest carries at most 4 hash rows")
    require(cells.length == d * w, s"cell array length ${cells.length} != d*w")
    val hex = digest(seed, key)
    val arr = lit(cells)
    (0 until d).map { r =>
      element_at(arr, (bucket(w, hex, lit(r)) + lit(r.toLong * w)).cast("int") + 1)
    }.reduce(least(_, _))
  }

  /** Heavy-hitter screen + exact verify — the production "find
    * frequent keys without aggregating the universe" shape: every row
    * is screened by its CM estimate against the broadcast-literal
    * cells (zero shuffle — only rows whose key ESTIMATES ≥ threshold
    * survive), then the exact count aggregates the survivors only.
    * CM never under-counts, so the screen keeps every true heavy
    * hitter (one-sided, like the bloom pre-filter); collision-inflated
    * false positives pass the screen and are exposed by their
    * `n_exact` column — callers drop them with `n_exact >= threshold`
    * when they want the exact answer, or keep the candidate set when
    * the screen IS the answer. At 100 TB the exact verify's shuffle is
    * bounded by the heavy keys' rows, not by |distinct keys|.
    * Output: (key, n_exact, n_cm) per screened candidate. */
  def heavyHitters(df: DataFrame, keyCol: Column, threshold: Long,
      d: Int, w: Int, seed: Long): DataFrame = {
    val cells = countMinCellsArray(df, keyCol, d, w, seed)
    df.select(keyCol.as("key"), cmEstimate(cells, d, w, seed, keyCol).as("n_cm"))
      .where(col("n_cm") >= threshold)
      .groupBy("key")
      .agg(count(lit(1)).as("n_exact"), max(col("n_cm")).as("n_cm"))
      .select(col("key"), col("n_exact"), col("n_cm"))
  }

  // ------------------------------------------------------------- Bloom

  /** Bloom filter (Bloom 1970) over `keyCol`: m bits packed into m/64
    * longs, k ≤ 4 bit positions per key from ONE md5 digest (the same
    * slice idiom as Count-Min, so an external oracle replays the
    * identical bit set — see [[bucketSqlTwin]] with w = m). Build is
    * one partial+final aggregation whose buffer IS the bit array
    * ([[BloomBitsAgg]]): each partition ORs keys into m/8 bytes and
    * partials merge by vector OR, so the shuffle carries one array
    * per partition regardless of input size. The returned array is
    * m/64 longs — always driver-safe (a 1-billion-bit filter is
    * 125 MB; gate-sized filters are KBs).
    *
    * The 100 TB use: membership pre-filter before an expensive
    * anti/semi-join — [[bloomContains]] is a pure codegen projection
    * against the (broadcast) literal bit array, so the probe side is
    * filtered with ZERO shuffle and only bloom-positive rows reach
    * the exact join. No false negatives ever (a true member's bits
    * are all set by construction); false positives at rate
    * ≈ (1 − e^(−kn/m))^k are either tolerable (blocklist pre-screen)
    * or removed by the exact join they gate.
    *
    * Null contract (both directions, so build and probe agree): a null
    * key is NOT a member — nulls are dropped at build time here, and
    * [[bloomContains]] evaluates to null (filter-false) on a null key.
    * This matches equi-join semantics, where null keys never match. */
  def bloomBits(df: DataFrame, keyCol: Column, m: Int, k: Int,
      seed: Long): Array[Long] = {
    require(k >= 1 && k <= 4, "one 128-bit digest carries at most 4 bit positions")
    require(m >= 64 && m % 64 == 0, s"m must be a positive multiple of 64, got $m")
    val spark = df.sparkSession
    import spark.implicits._
    df.where(keyCol.isNotNull)
      .select(digest(seed, keyCol).as("hex")).as[String]
      .select(new BloomBitsAgg(m, k).toColumn)
      .head()
  }

  /** Bit masks 1L << i for i in [0, 64) — a literal lookup array so
    * the membership test needs no variable-distance shift (keeps the
    * whole predicate in built-in codegen'd expressions). */
  private val BitMasks: Array[Long] = Array.tabulate(64)(1L << _)

  /** Membership predicate against a built bit array: true iff all k
    * bit positions of `key` are set. Pure built-in expression over
    * the LITERAL bit array (m/64 longs) — codegen'd, narrow, zero
    * shuffle on the probe side; the common-subexpression pass
    * computes the md5 digest once per row. Must be called with the
    * same (m, k, seed) the bits were built with. A null key evaluates
    * to null (filter-false): never a member, mirroring [[bloomBits]]
    * dropping nulls at build time. */
  def bloomContains(bits: Array[Long], m: Int, k: Int, seed: Long,
      key: Column): Column = {
    require(k >= 1 && k <= 4, "one 128-bit digest carries at most 4 bit positions")
    require(bits.length * 64 == m, s"bit array length ${bits.length} != m/64")
    val hex = digest(seed, key)
    val arr = lit(bits)
    val masks = lit(BitMasks)
    (0 until k).map { r =>
      val pos = graft.functions.HexSlice32(hex, lit(r * 8)) % m
      val word = element_at(arr, shiftright(pos, 6).cast("int") + lit(1))
      val mask = element_at(masks, pos.bitwiseAND(lit(63L)).cast("int") + lit(1))
      word.bitwiseAND(mask) =!= lit(0L)
    }.reduce(_ && _)
  }

  /** The bit-OR twin of [[CountMinCellsAgg]]: input is the
    * pre-computed md5 hex, the buffer is the packed bit array, merge
    * is element-wise OR. Deterministic and order-independent (OR is
    * commutative/idempotent), so the bit set is identical to the
    * relational DISTINCT-positions form an oracle rebuilds. */
  class BloomBitsAgg(m: Int, k: Int)
      extends org.apache.spark.sql.expressions.Aggregator[String, Array[Long], Array[Long]] {

    override def zero: Array[Long] = Array.ofDim[Long](m / 64)

    override def reduce(buf: Array[Long], hex: String): Array[Long] = {
      if (hex == null) return buf // null key = not a member (see bloomBits)
      var r = 0
      while (r < k) {
        var v = 0L
        var i = r * 8
        val end = i + 8
        while (i < end) {
          v = (v << 4) | Character.digit(hex.charAt(i), 16)
          i += 1
        }
        val pos = (v % m).toInt
        buf(pos >>> 6) |= (1L << (pos & 63))
        r += 1
      }
      buf
    }

    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) |= b(i); i += 1 }
      a
    }

    override def finish(buf: Array[Long]): Array[Long] = buf

    override def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    override def outputEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  }

  /** Mergeable equi-width histogram quantiles — the sketch tier's
    * rank member (HLL = distinct, Count-Min = frequency, Bloom =
    * membership, this = quantile). TWO scans: exact integer bounds,
    * then ONE groupBy(bucket) count whose state is ≤ nBuckets longs —
    * partials merge by addition, so the sketch is partition-layout
    * independent and unions across corpora by adding histograms. Each
    * requested percentile is then picked from the ≤ nBuckets-row
    * cumulative histogram by pure BIGINT arithmetic (truncating DIV
    * end to end — an external SQL engine replays the estimate
    * bit-for-bit, unlike GK/KLL whose state is implementation
    * defined). Input must be integer-scaled ([[graft.functions
    * .ExactNum.scaled]]) and non-empty; the error bound
    * |est − exact| ≤ ceil(span/nBuckets) is asserted in SketchesSpec.
    * Output: (q_pct, n, target_rank, bucket, est) — target_rank is
    * the 1-based ceil(n·q/100) order statistic the estimate aims at.
    */
  /** Fixed-domain histogram cells — [[histogramQuantiles]]'s state in
    * the form a STREAM can maintain: the domain is DECLARED (an
    * unbounded stream cannot take a bounds pass), the bucket map is a
    * stateless codegen projection (out-of-domain values clamp to the
    * edge buckets), and the groupBy(bucket) count runs as a
    * Complete-mode streaming aggregate whose entire state is
    * ≤ nBuckets longs ([[graft.streaming.StreamOps
    * .runHistogramStream]]). Quantile reads interpolate over the
    * maintained table on demand — the monitoring-pipeline shape
    * (latency/price percentiles over an event firehose). */
  def histogramCells(df: DataFrame, valueCol: Column, lo: Long, hi: Long,
      nBuckets: Int): DataFrame = {
    require(hi >= lo && nBuckets >= 1)
    df.select(valueCol.cast("long").as("v")).where(col("v").isNotNull)
      .select(least(lit((nBuckets - 1).toLong), greatest(lit(0L),
        expr(s"((v - $lo) * $nBuckets) DIV ($hi - $lo + 1)"))).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("cnt"))
  }

  /** Quantile-bin discretizer map ([[histogramQuantiles]]'s third
    * face): each histogram bucket is assigned its equi-depth bin
    * (decile at nBins = 10) by midpoint-rank arithmetic — pure BIGINT
    * end to end. The returned (bucket, cnt, bin) table is sketch-sized
    * (≤ nBuckets rows): broadcast-join it to assign every corpus row
    * its bin with ZERO additional shuffles — the ML feature
    * discretizer at any scale. */
  def quantileBinMap(df: DataFrame, valueCol: Column, nBuckets: Int,
      nBins: Int): DataFrame = {
    require(nBins >= 1)
    import org.apache.spark.sql.expressions.Window
    val v = df.select(valueCol.cast("long").as("v")).where(col("v").isNotNull)
    val bounds = v.agg(min(col("v")).as("lo"), max(col("v")).as("hi"),
      count(lit(1)).as("n"))
    val hist = v.crossJoin(broadcast(bounds))
      .select(expr(s"((v - lo) * $nBuckets) DIV (hi - lo + 1)").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("cnt"))
    hist
      .withColumn("cum", sum(col("cnt")).over(Window.orderBy("bucket")))
      .crossJoin(broadcast(bounds.select(col("n"))))
      .select(col("bucket"), col("cnt"),
        expr(s"least(CAST(${nBins - 1} AS BIGINT), " +
          s"((cum - cnt + (cnt + 1) DIV 2 - 1) * $nBins) DIV n)").as("bin"))
  }

  /** Per-key [[histogramQuantiles]] — the monitoring shape (latency /
    * price percentiles per service / segment): per-key exact bounds
    * (one grouped agg, broadcast back), per-(key, bucket) counts
    * (state ≤ |keys|·nBuckets longs, mergeable by addition), per-key
    * cumulative pick with the same BIGINT interpolation. Output:
    * (grp, q_pct, n, target_rank, bucket, est). */
  def histogramQuantilesByKey(df: DataFrame, keyCol: String,
      valueCol: Column, nBuckets: Int, percents: Seq[Int]): DataFrame = {
    require(nBuckets >= 1 && percents.nonEmpty &&
      percents.forall(p => p >= 0 && p <= 100), "percents in 0..100")
    val spark = df.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val v = df.select(col(keyCol).as("grp"), valueCol.cast("long").as("v"))
      .where(col("v").isNotNull)
    val bounds = v.groupBy("grp").agg(min(col("v")).as("lo"),
      max(col("v")).as("hi"), count(lit(1)).as("n"))
    val hist = v.join(broadcast(bounds), "grp")
      .select(col("grp"),
        expr(s"((v - lo) * $nBuckets) DIV (hi - lo + 1)").as("bucket"))
      .groupBy("grp", "bucket").agg(count(lit(1)).as("cnt"))
    val cum = hist
      .withColumn("cum", sum(col("cnt"))
        .over(Window.partitionBy("grp").orderBy("bucket")))
      .withColumn("cum_before", col("cum") - col("cnt"))
    val qdf = percents.map(_.toLong).toDF("q_pct")
    broadcast(qdf).crossJoin(broadcast(bounds))
      .withColumn("target_rank",
        expr("greatest(CAST(1 AS BIGINT), (n * q_pct + 99) DIV 100)"))
      .join(cum, Seq("grp"))
      .where(col("cum") >= col("target_rank"))
      .groupBy("grp", "q_pct", "n", "lo", "hi", "target_rank")
      .agg(min(struct(col("bucket"), col("cnt"), col("cum_before"))).as("b"))
      .select(col("grp"), col("q_pct"), col("n"), col("target_rank"),
        col("b.bucket").as("bucket"),
        expr(s"""lo + (b.bucket * (hi - lo + 1)) DIV $nBuckets
          + ((target_rank - b.cum_before - 1)
             * ((hi - lo + 1 + $nBuckets - 1) DIV $nBuckets)) DIV b.cnt""")
          .as("est"))
  }

  /** Deterministic RANK-error quantile sketch (q-digest family) — the
    * skew-safe sibling of [[histogramQuantiles]]. The equi-width
    * histogram's error is (hi−lo+1)/nBuckets in VALUE space, so one
    * heavy-tail outlier collapses the resolution of every bucket
    * below it; this sketch's error is in RANK space — ≤ 2·levels·θ
    * positions with θ = max(1, n/k) — independent of the value
    * distribution.
    *
    * Structure: a conceptual binary tree over the declared domain
    * [lo, lo+2^levels). Node counts at EVERY level come from ONE
    * explode(levels+1)+groupBy pass (map-side combine collapses to
    * the node table before the shuffle — the only data-sized
    * exchange). Compression is the closed-form kept-frontier rule:
    * keep nodes with subtree count ≥ θ; each kept node's sketch mass
    * is its count minus the mass owned by kept children (< 2θ, since
    * non-kept children are each < θ). A rank query's uncertainty is
    * the mass of kept nodes straddling the query point — at most the
    * root-to-leaf path, 2·levels·θ.
    *
    * Unlike GK/KLL, whose state depends on insertion ORDER, this
    * sketch is a pure function of the input MULTISET — deterministic
    * under any partitioning, shuffle order, or merge schedule (merge
    * = add node-count tables, re-apply the same closed-form rule) —
    * which is what lets an external engine replay it hash-exact
    * (q259). All arithmetic is BIGINT.
    *
    * Output per requested percentile: (q_pct, n, target_rank, lvl,
    * est) where est is the post-order pick's range end — the classic
    * q-digest read: order sketch entries by (range_end, lvl),
    * cumulate mass, answer at the first entry reaching target_rank. */
  def qdigestQuantiles(df: DataFrame, valueCol: Column, loVal: Long,
      levels: Int, k: Int, percents: Seq[Int]): DataFrame = {
    require(levels >= 1 && levels <= 40 && k >= 1 && percents.nonEmpty &&
      percents.forall(p => p >= 0 && p <= 100), "percents in 0..100")
    val nDf = df.select(valueCol.cast("long").as("v")).where(col("v").isNotNull)
      .agg(count(lit(1)).as("n"))
    qdigestFromCounts(qdigestCounts(df, Nil, valueCol, loVal, levels), nDf,
      loVal, levels, k, percents)
  }

  /** The all-level q-digest node-count table (keys…, lvl, id, cnt):
    * each non-null value's leaf (its offset from `loVal`, clamped into
    * [0, 2^levels)) and every ancestor of it, counted in ONE
    * explode(levels+1) + groupBy pass; lvl `levels` is the root.
    * `keys` must be named columns. The batch sketches build their
    * counts here and so does the stream-maintained form
    * ([[graft.streaming.StreamOps.runQdigestStream]], whose
    * Complete-mode state IS this table), so batch and stream counts
    * agree by construction. */
  def qdigestCounts(df: DataFrame, keys: Seq[Column], valueCol: Column,
      loVal: Long, levels: Int): DataFrame = {
    val U = 1L << levels
    val v = df.select(keys :+ valueCol.cast("long").as("v"): _*)
      .where(col("v").isNotNull)
    val ks = v.columns.toSeq.init.map(col)
    v.select(ks :+ least(lit(U - 1), greatest(lit(0L), col("v") - loVal)).as("leaf"): _*)
      .select(ks :+ explode(expr(s"transform(sequence(0, $levels), " +
        "l -> named_struct('lvl', l, 'id', shiftright(leaf, l)))")).as("nd"): _*)
      .groupBy(ks ++ Seq(col("nd.lvl").as("lvl"), col("nd.id").as("id")): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** Compression + quantile read over an all-level node-count table —
    * the back half of [[qdigestQuantiles]], shared with the
    * STREAM-maintained form ([[graft.streaming.StreamOps
    * .runQdigestStream]], whose state IS this counts table): kept
    * frontier (count ≥ θ), residual masses, post-order cumulative
    * pick. `counts` must hold (lvl, id, cnt) for levels 0..levels
    * with lvl `levels` the root; `nDf` one row (n). */
  def qdigestFromCounts(counts: DataFrame, nDf: DataFrame, loVal: Long,
      levels: Int, k: Int, percents: Seq[Int]): DataFrame = {
    val spark = counts.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val U = 1L << levels
    val kept = counts.crossJoin(broadcast(nDf))
      .where(col("cnt") >= expr(s"greatest(CAST(1 AS BIGINT), n DIV $k)"))
    // sketch mass = kept count minus mass owned by kept children
    val childMass = kept.where(col("lvl") < levels)
      .groupBy((col("lvl") + 1).as("lvl"), expr("id DIV 2").as("id"))
      .agg(sum(col("cnt")).as("child_cnt"))
    val entries = kept.join(childMass, Seq("lvl", "id"), "left_outer")
      .select(col("lvl"), col("id"),
        (col("cnt") - coalesce(col("child_cnt"), lit(0L))).as("mass"))
      .where(col("mass") > 0)
    // post-order cumulative pick — the window is SKETCH-sized
    // (≤ ~2k·levels entries by the θ rule), never data-sized
    val ordered = entries
      .withColumn("range_end",
        expr("(id + 1) * shiftleft(CAST(1 AS BIGINT), lvl) - 1"))
      .withColumn("cum", sum(col("mass")).over(
        Window.orderBy(col("range_end"), col("lvl"))))
    val qdf = percents.map(_.toLong).toDF("q_pct")
    broadcast(qdf).crossJoin(broadcast(nDf))
      .withColumn("target_rank",
        expr("greatest(CAST(1 AS BIGINT), (n * q_pct + 99) DIV 100)"))
      .join(ordered, col("cum") >= col("target_rank"))
      .groupBy("q_pct", "n", "target_rank")
      .agg(min(struct(col("range_end"), col("lvl"))).as("e"))
      .select(col("q_pct"), col("n"), col("target_rank"),
        col("e.lvl").cast("long").as("lvl"),
        (lit(loVal) + least(col("e.range_end"), lit(U - 1))).as("est"))
  }

  /** Per-key [[qdigestQuantiles]] — the monitoring shape (latency /
    * length percentiles per service / source) with the RANK-error
    * guarantee per key: every step of the flat build runs grouped
    * (per-(key, lvl, node) counts from the same one explode pass,
    * per-key thresholds θ_g = max(1, n_g/k), per-key post-order pick
    * over a window PARTITIONED by key — parallel, sketch-sized per
    * group). State ≤ |keys|·2k·levels entries, mergeable by adding
    * count tables. Output: (grp, q_pct, n, target_rank, lvl, est). */
  def qdigestQuantilesByKey(df: DataFrame, keyCol: String, valueCol: Column,
      loVal: Long, levels: Int, k: Int, percents: Seq[Int]): DataFrame = {
    require(levels >= 1 && levels <= 40 && k >= 1 && percents.nonEmpty &&
      percents.forall(p => p >= 0 && p <= 100), "percents in 0..100")
    val nDf = df.select(col(keyCol).as("grp"), valueCol.cast("long").as("v"))
      .where(col("v").isNotNull).groupBy("grp").agg(count(lit(1)).as("n"))
    qdigestFromCountsByKey(
      qdigestCounts(df, Seq(col(keyCol).as("grp")), valueCol, loVal, levels),
      nDf, loVal, levels, k, percents)
  }

  /** Per-key compression + quantile read over a grouped all-level
    * node-count table — [[qdigestQuantilesByKey]]'s back half, shared
    * with the stream-maintained form ([[graft.streaming.StreamOps
    * .runQdigestStreamByKey]], whose per-key state IS this counts
    * table). `counts` holds (grp, lvl, id, cnt), `nDf` (grp, n). */
  def qdigestFromCountsByKey(counts: DataFrame, nDf: DataFrame,
      loVal: Long, levels: Int, k: Int, percents: Seq[Int]): DataFrame = {
    val spark = counts.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val U = 1L << levels
    val kept = counts.join(broadcast(nDf), "grp")
      .where(col("cnt") >= expr(s"greatest(CAST(1 AS BIGINT), n DIV $k)"))
    val childMass = kept.where(col("lvl") < levels)
      .groupBy(col("grp"), (col("lvl") + 1).as("lvl"), expr("id DIV 2").as("id"))
      .agg(sum(col("cnt")).as("child_cnt"))
    val entries = kept.join(childMass, Seq("grp", "lvl", "id"), "left_outer")
      .select(col("grp"), col("lvl"), col("id"),
        (col("cnt") - coalesce(col("child_cnt"), lit(0L))).as("mass"))
      .where(col("mass") > 0)
    val ordered = entries
      .withColumn("range_end",
        expr("(id + 1) * shiftleft(CAST(1 AS BIGINT), lvl) - 1"))
      .withColumn("cum", sum(col("mass")).over(Window.partitionBy("grp")
        .orderBy(col("range_end"), col("lvl"))))
    val qdf = percents.map(_.toLong).toDF("q_pct")
    broadcast(qdf).crossJoin(broadcast(nDf))
      .withColumn("target_rank",
        expr("greatest(CAST(1 AS BIGINT), (n * q_pct + 99) DIV 100)"))
      .join(ordered, Seq("grp"))
      .where(col("cum") >= col("target_rank"))
      .groupBy("grp", "q_pct", "n", "target_rank")
      .agg(min(struct(col("range_end"), col("lvl"))).as("e"))
      .select(col("grp"), col("q_pct"), col("n"), col("target_rank"),
        col("e.lvl").cast("long").as("lvl"),
        (lit(loVal) + least(col("e.range_end"), lit(U - 1))).as("est"))
  }

  def histogramQuantiles(df: DataFrame, valueCol: Column, nBuckets: Int,
      percents: Seq[Int]): DataFrame = {
    require(nBuckets >= 1 && percents.nonEmpty &&
      percents.forall(p => p >= 0 && p <= 100), "percents in 0..100")
    val spark = df.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val v = df.select(valueCol.cast("long").as("v")).where(col("v").isNotNull)
    val bounds = v.agg(min(col("v")).as("lo"), max(col("v")).as("hi"),
      count(lit(1)).as("n"))
    // (v-lo)·nB DIV (span+1) ≤ nB-1 always — no clamp branch needed
    val hist = v.crossJoin(broadcast(bounds))
      .select(expr(s"((v - lo) * $nBuckets) DIV (hi - lo + 1)").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("cnt"))
    // ≤ nBuckets rows: the single-partition window is sketch-sized
    val cum = hist
      .withColumn("cum", sum(col("cnt")).over(Window.orderBy("bucket")))
      .withColumn("cum_before", col("cum") - col("cnt"))
    val qdf = percents.map(_.toLong).toDF("q_pct")
    broadcast(qdf).crossJoin(broadcast(bounds))
      .withColumn("target_rank",
        expr("greatest(CAST(1 AS BIGINT), (n * q_pct + 99) DIV 100)"))
      .join(cum, col("cum") >= col("target_rank"))
      .groupBy("q_pct", "n", "lo", "hi", "target_rank")
      .agg(min(struct(col("bucket"), col("cnt"), col("cum_before"))).as("b"))
      .select(col("q_pct"), col("n"), col("target_rank"),
        col("b.bucket").as("bucket"),
        expr(s"""lo + (b.bucket * (hi - lo + 1)) DIV $nBuckets
          + ((target_rank - b.cum_before - 1)
             * ((hi - lo + 1 + $nBuckets - 1) DIV $nBuckets)) DIV b.cnt""")
          .as("est"))
  }
}
