package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for web-scale corpora.
  *
  * Scale design: every path here is shuffle-bounded by the *candidate*
  * set, never all-pairs. Exact dedup is one hash aggregation; MinHash
  * and SimHash block candidates through LSH band buckets so the only
  * join is bucket-equi (shuffle on band hash); the verify step runs
  * per candidate pair only. No crossJoin anywhere — at 100 TB the
  * all-pairs comparison is the operator that must not exist.
  *
  * Determinism: hash family is xxhash64 seeded by literal constants,
  * so signatures are independent of partitioning and cluster layout.
  * The reference's analog op is protein-cluster dedup (reference
  * bin/OperationalProteinFamilies.sh:66-86, SURVEY M14).
  */
object Dedup {

  /** Exact dedup: keep the smallest id per identical text. One
    * hash-agg; the md5 groups long texts without shuffling them. */
  def exactDuplicates(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Tokenize into word k-shingles (k=1 → unigram bag). */
  private def shingles(text: org.apache.spark.sql.Column, k: Int) =
    TextOps.wordShingles(text, k)

  /** The (doc_id, tok) shingle table — the shared upstream of
    * [[minhashSignaturesFromTokens]] and
    * [[jaccardVerifyCandidatesTokens]]. Callers running several dedup
    * stages should build (and cache) this once: tokenization is the
    * dominant narrow cost, and Spark re-executes it per plan branch
    * otherwise. */
  def shingleTokens(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 1): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      explode(shingles(col(textCol), shingleK)).as("tok"))

  /** MinHash signatures: one row per doc with `numHashes` min-hash
    * values as an array<long>. Single explode + hash-agg; partial
    * aggregation makes the shuffle carry one signature per doc. */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 16, shingleK: Int = 1): DataFrame =
    minhashSignaturesFromTokens(
      shingleTokens(docs, idCol, textCol, shingleK), numHashes)

  /** MinHash signatures with NO shuffle: the native `minhash_sig`
    * expression computes the whole signature from each doc's token
    * array inside the scan's codegen span — bit-identical to the
    * aggregate form (DedupSpec asserts it), which shuffles the entire
    * exploded token stream just to regroup tokens that were already
    * grouped. The scale default; the aggregate form remains for
    * inputs that genuinely arrive exploded. Token-less docs are
    * dropped (the aggregate form emits no row for them either). */
  def minhashSignaturesNarrow(docs: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 16, shingleK: Int = 1): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      graft.functions.MinHashSig(
        shingles(col(textCol), shingleK), numHashes).as("signature"))
      .where(col("signature").isNotNull)

  /** [[minhashSignatures]] over a pre-built (doc_id, tok) table. */
  def minhashSignaturesFromTokens(tok: DataFrame, numHashes: Int = 16): DataFrame = {
    val mins = (0 until numHashes).map(i => min(xxhash64(lit(i), col("tok"))).as(s"mh_$i"))
    tok.groupBy("doc_id")
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"), array((0 until numHashes).map(i => col(s"mh_$i")): _*).as("signature"))
  }

  /** LSH candidate pairs from minhash signatures: band the signature,
    * bucket-join on (band, bandHash), emit each unordered pair once
    * with its signature-estimated Jaccard. Shuffles on band hash —
    * skew-safe because identical-band groups are true near-dup
    * clusters (AQE splits the rare megacluster). */
  def lshCandidatePairs(sig: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    val banded = sig.select(col("doc_id"), col("signature"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(b, concat_ws(",", slice(col("signature"), b * rowsPerBand + 1, lit(rowsPerBand))))))
        .as(Seq("band", "band_hash")))
    val a = banded.select(col("band"), col("band_hash"),
      col("doc_id").as("d1"), col("signature").as("s1"))
    val b = banded.select(col("band"), col("band_hash"),
      col("doc_id").as("d2"), col("signature").as("s2"))
    a.join(b, Seq("band", "band_hash"))
      .where(col("d1") < col("d2"))
      .select(col("d1"), col("d2"),
        (size(filter(zip_with(col("s1"), col("s2"), (x, y) => x === y), m => m))
          .cast("double") / size(col("s1")).cast("double")).as("est_jaccard"))
      .groupBy("d1", "d2")
      .agg(max(col("est_jaccard")).as("est_jaccard"))
  }

  /** Sorted-neighborhood candidate pairs (Hernández & Stolfo 1995):
    * within each block, sort by `sortKey` and pair every row with its
    * `w` successors in that order. The non-LSH blocking alternative:
    * ONE exchange (hash-partition by block, sort within), then w
    * lead() projections — no shingle explosion, no banding, and the
    * candidate count is exactly w·n regardless of block skew, where a
    * block-local self-join is quadratic in the hottest block. Recall
    * is what the sort key buys: near-dups must sort adjacently (e.g.
    * a normalized text prefix); pairs that differ early in the key
    * are invisible, which is the documented trade of this blocking
    * family. Pairs are emitted least-id-first, each at most once
    * (each unordered pair has one orientation in rank order). */
  def sortedNeighborhoodCandidates(docs: DataFrame, idCol: String,
      blockCol: String, sortKey: org.apache.spark.sql.Column,
      w: Int): DataFrame = {
    require(w >= 1, s"neighborhood width must be >= 1, got $w")
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col(blockCol)).orderBy(sortKey.asc, col(idCol).asc)
    docs
      .select(col(idCol).as("a"),
        array((1 to w).map(i => lead(col(idCol), i).over(win)): _*).as("succ"))
      .select(col("a"), explode(col("succ")).as("b"))
      .where(col("b").isNotNull)
      .select(least(col("a"), col("b")).as("d1"),
        greatest(col("a"), col("b")).as("d2"))
  }

  /** 64-bit SimHash per doc: per-token xxhash64, each bit votes ±1,
    * sign of the vote is the signature bit. One explode + 64 codegen'd
    * conditional sums — no UDF. */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = docs
      .select(col(idCol).as("doc_id"),
        explode(array_distinct(TextOps.tokens(col(textCol)))).as("tok"))
      .select(col("doc_id"), xxhash64(lit(7), col("tok")).as("h"))
    val votes = (0 until 64).map { j =>
      sum(when(col("h").bitwiseAND(lit(1L << j)) =!= 0L, 1).otherwise(-1)).as(s"v_$j")
    }
    val agg = tok.groupBy("doc_id").agg(votes.head, votes.tail: _*)
    val sh = (0 until 64).map { j =>
      when(col(s"v_$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
    agg.select(col("doc_id"), sh.as("simhash"))
  }

  /** SimHash with NO shuffle — the native `simhash64` expression
    * (same narrow-pass rationale and bit-identity argument as
    * [[minhashSignaturesNarrow]]; DedupSpec asserts equality).
    * Token-less docs are dropped, as in the aggregate form. */
  def simhashNarrow(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      graft.functions.SimHash64(array_distinct(TextOps.tokens(col(textCol))))
        .as("simhash"))
      .where(col("simhash").isNotNull)

  /** SimHash near-dup candidates: block on 4×16-bit bands (any doc
    * pair within Hamming distance 3 shares ≥1 exact band), verify with
    * bit_count(xor). Bucket-join, never all-pairs. */
  def simhashNearDups(sh: DataFrame, maxHamming: Int = 3): DataFrame = {
    val banded = sh.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(b =>
        shiftrightunsigned(col("simhash"), b * 16).bitwiseAND(lit(0xFFFFL))): _*))
        .as(Seq("band", "band_bits")))
    val a = banded.select(col("band"), col("band_bits"),
      col("doc_id").as("d1"), col("simhash").as("h1"))
    val b = banded.select(col("band"), col("band_bits"),
      col("doc_id").as("d2"), col("simhash").as("h2"))
    a.join(b, Seq("band", "band_bits"))
      .where(col("d1") < col("d2"))
      .select(col("d1"), col("d2"),
        bit_count(col("h1").bitwiseXOR(col("h2"))).cast("long").as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** M14 — duplicate clustering: connected components over the
    * candidate-pair graph (similarity-join edges → clusters), keeping
    * the smallest doc id as each cluster's canonical representative.
    * This is the reference's protein-family clustering shape
    * (greedy CD-HIT → here: LSH candidates + CC), and the final step
    * of corpus dedup: every doc maps to the representative it
    * duplicates. Docs with no near-dup map to themselves.
    *
    * @param pairs (d1, d2) candidate duplicate pairs
    * @param allIds one row per doc id (singleton clusters included)
    */
  def clusterDuplicates(pairs: DataFrame, allIds: DataFrame): DataFrame =
    // components label by the min id = the smallest doc id
    graft.graph.GraphAnalytics.components(
        pairs.select(col("d1").as("src"), col("d2").as("dst")),
        allIds.select(col(allIds.columns.head).as("id")))
      .select(col("id").as("doc_id"), col("component").as("cluster_rep"))

  /** Exact Jaccard verification of candidate pairs — the 100 TB form
    * of [[jaccardPairs]]. The token join is bounded by
    * |candidates| × tokens-per-doc instead of quadratic in block size:
    * one dominant blocking-key value (the common case in web corpora)
    * cannot blow it up, because candidates come from LSH banding
    * ([[lshCandidatePairs]] / [[simhashNearDups]]), not from the block.
    *
    * `tok` is the (doc_id, tok) table of [[shingleTokens]], built with
    * the same shingle width as the signatures so the verified measure
    * matches the estimated one — pass a cached one: this plan reads it
    * three times (sizes, d1 fan-out, d2 intersect), so an uncached
    * token table is exploded three times. `candidates` holds the
    * (d1, d2) pairs to verify exactly. */
  def jaccardVerifyCandidatesTokens(tok: DataFrame, candidates: DataFrame,
      minJaccard: Double = 0.0): DataFrame = {
    val sizes = tok.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val cand = candidates.select(col("d1"), col("d2"))
    // fan d1's tokens onto each candidate pair, then intersect with
    // d2's tokens via one equi-join on (d2, tok)
    val t1 = cand.join(tok.select(col("doc_id").as("d1"), col("tok")), Seq("d1"))
    val inter = t1.join(tok.select(col("doc_id").as("d2"), col("tok")), Seq("d2", "tok"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("n_inter"))
    // left-join the size tables: an externally supplied candidate whose
    // doc has no shingles (empty/whitespace text) reports jaccard 0
    // instead of silently vanishing from the output
    cand.join(inter, Seq("d1", "d2"), "left_outer").na.fill(0L, Seq("n_inter"))
      .join(sizes.select(col("doc_id").as("d1"), col("n").as("n1")), Seq("d1"), "left_outer")
      .join(sizes.select(col("doc_id").as("d2"), col("n").as("n2")), Seq("d2"), "left_outer")
      .na.fill(0L, Seq("n1", "n2"))
      .select(col("d1"), col("d2"),
        when(col("n1") + col("n2") - col("n_inter") === 0, lit(0.0))
          .otherwise(col("n_inter").cast("double") /
            (col("n1") + col("n2") - col("n_inter")).cast("double")).as("jaccard"))
      .where(col("jaccard") >= minJaccard)
  }

  /** Prefix-filtered exact Jaccard (AllPairs/PPJoin-style) — same
    * output as [[jaccardPairs]], built for scale. Instead of the
    * quadratic-in-token-frequency self-join, each doc contributes only
    * its RAREST tokens (global canonical order = ascending document
    * frequency, ties by token) to the candidate join: for threshold t
    * a doc of n tokens keeps a prefix of n − ⌈t·n⌉ + 1 tokens, and the
    * prefix-filter lemma guarantees every pair with Jaccard ≥ t shares
    * at least one prefix token. Stop-word-like tokens (the blowup in
    * the naive join: a token in g docs generates g² join rows) land at
    * the END of the order and never enter the join. Candidates then
    * pass a length-ratio filter (J ≥ t ⇒ min(n1,n2) ≥ t·max(n1,n2))
    * and exact verification, so the result is identical — candidates
    * are a provable superset, verification is exact.
    *
    * The ceil is computed with a 1e−9 slack so a floating t·n that
    * lands epsilon ABOVE an integer cannot shorten the prefix below
    * the safe length (a longer prefix only adds candidates).
    *
    * WHEN TO USE WHICH: candidate-generation + verify wins when
    * qualifying pairs are SPARSE relative to the block cross-product —
    * the web-corpus norm, and the only shape that survives 100 TB.
    * When matches are dense (the sf test corpus qualifies ~445k of
    * ~1.25M possible pairs), output size dominates any algorithm and
    * the direct join [[jaccardPairs]] is faster by skipping the
    * candidate/verify round trip — so the gate runs that form, while
    * this one carries the scale story. The two are asserted
    * bit-identical in DedupSpec. */
  def jaccardPairsPrefix(docs: DataFrame, idCol: String, textCol: String,
      blockCol: String, minJaccard: Double): DataFrame =
    jaccardPairsPrefixTokens(
      docs.select(col(idCol).as("doc_id"), col(blockCol).as("blk"),
        explode(array_distinct(TextOps.tokens(col(textCol)))).as("tok")),
      minJaccard)

  /** [[jaccardPairsPrefix]] over a pre-built (doc_id, blk, tok) table
    * — pass a cached one: the plan reads it for document frequencies,
    * prefixes, and the three verification branches. */
  def jaccardPairsPrefixTokens(tok: DataFrame, minJaccard: Double): DataFrame = {
    require(minJaccard > 0.0, "prefix filtering needs a positive threshold")
    import org.apache.spark.sql.expressions.Window
    val dfreq = tok.groupBy("blk", "tok").agg(count(lit(1)).as("df"))
    val byDoc = Window.partitionBy("doc_id")
    val ranked = tok.join(dfreq, Seq("blk", "tok"))
      .select(col("blk"), col("tok"), col("doc_id"),
        row_number().over(byDoc.orderBy(col("df"), col("tok"))).as("pos"),
        count(lit(1)).over(byDoc).as("n"))
    val prefix = ranked.filter(
      col("pos") <= col("n") - ceil(lit(minJaccard) * col("n") - lit(1e-9)) + 1)
    val a = prefix.select(col("blk"), col("tok"), col("doc_id").as("d1"), col("n").as("n1"))
    val b = prefix.select(col("blk"), col("tok"), col("doc_id").as("d2"), col("n").as("n2"))
    val cand = a.join(b, Seq("blk", "tok"))
      .where(col("d1") < col("d2") &&
        least(col("n1"), col("n2")).cast("double") >=
          lit(minJaccard) * greatest(col("n1"), col("n2")).cast("double") - lit(1e-9))
      .select(col("d1"), col("d2")).distinct()
    jaccardVerifyCandidatesTokens(tok.select(col("doc_id"), col("tok")), cand, minJaccard)
  }

  /** Incremental-ingest near-dup check: every (new doc, corpus doc)
    * pair with exact Jaccard ≥ t, computed cross-set with the SAME
    * prefix-filter lemma as [[jaccardPairsPrefixTokens]] — the
    * candidate join touches only each doc's rarest tokens under one
    * GLOBAL df order built over both sets (the lemma needs a shared
    * canonical order; per-set orders would break it), and pairs are
    * (new, corpus) instead of (d1 < d2). This is the batch-ingest
    * dedup path: the corpus side's prefix table is a pure function of
    * the corpus and can be precomputed/persisted once, so each
    * incoming batch pays only its own prefix build plus the
    * candidate-bounded verify — never a scan-the-corpus join.
    * Doc ids must be unique ACROSS the two sets (ingest reality;
    * enforced cheaply by the caller's id scheme). Output:
    * (d1 = new doc, d2 = corpus doc, jaccard). */
  def jaccardPairsAcrossTokens(tokNew: DataFrame, tokCorpus: DataFrame,
      minJaccard: Double): DataFrame = {
    require(minJaccard > 0.0, "prefix filtering needs a positive threshold")
    import org.apache.spark.sql.expressions.Window
    val u = tokNew.select(col("doc_id"), col("tok"), lit(0).as("side"))
      .unionByName(tokCorpus.select(col("doc_id"), col("tok"), lit(1).as("side")))
    val dfreq = u.groupBy("tok").agg(count(lit(1)).as("df"))
    val byDoc = Window.partitionBy("doc_id")
    val ranked = u.join(dfreq, Seq("tok"))
      .select(col("side"), col("tok"), col("doc_id"),
        row_number().over(byDoc.orderBy(col("df"), col("tok"))).as("pos"),
        count(lit(1)).over(byDoc).as("n"))
    val prefix = ranked.filter(
      col("pos") <= col("n") - ceil(lit(minJaccard) * col("n") - lit(1e-9)) + 1)
    val a = prefix.where(col("side") === 0)
      .select(col("tok"), col("doc_id").as("d1"), col("n").as("n1"))
    val b = prefix.where(col("side") === 1)
      .select(col("tok"), col("doc_id").as("d2"), col("n").as("n2"))
    val cand = a.join(b, Seq("tok"))
      .where(least(col("n1"), col("n2")).cast("double") >=
        lit(minJaccard) * greatest(col("n1"), col("n2")).cast("double") - lit(1e-9))
      .select(col("d1"), col("d2")).distinct()
    jaccardVerifyCandidatesTokens(u.select(col("doc_id"), col("tok")), cand,
      minJaccard)
  }

  /** Dense-vocabulary fast path for the cross-set Jaccard join: when
    * the corpus vocabulary is small (categorical/tag-like token sets,
    * or synthetic corpora), prefix filtering COLLAPSES — every doc
    * shares its "rare" tokens with most others, candidates degenerate
    * to all pairs, and the verify join explodes (measured at sf0.1:
    * 31-token vocab → 55M join rows, 35-70 s, where the whole answer
    * is 3M pairs). In that regime the optimal representation is a
    * BITSET: each doc's distinct-token set becomes a fixed array of
    * 64-bit words (one global token→id dictionary, broadcast), and
    * intersection/union are `bit_count(a & b)` word loops — a
    * 3-instruction kernel per pair, no token explosion at all. The
    * probe side broadcasts (an ingest batch is small by contract), so
    * cost is O(|probe|·|corpus|·words) with zero shuffle on the pair
    * stream. Fails fast past `maxVocab` (the sparse regime belongs to
    * [[jaccardPairsAcrossTokens]]; the caller picks by a cheap
    * `approx_count_distinct` on the token column). Bit-identical
    * output to the prefix form — set arithmetic is set arithmetic. */
  def jaccardPairsAcrossBitmap(tokProbe: DataFrame, tokCorpus: DataFrame,
      minJaccard: Double, maxVocab: Int = 4096): DataFrame = {
    require(minJaccard > 0.0, "thresholdless all-pairs output is never wanted")
    val u = tokProbe.select("tok").unionByName(tokCorpus.select("tok"))
    val vocab = tokenVocab(u, maxVocab).getOrElse(throw new IllegalArgumentException(
      s"vocabulary exceeds $maxVocab — use jaccardPairsAcrossTokens (sparse path)"))
    jaccardPairsFromMasks(tokenMasks(tokProbe, vocab),
      tokenMasks(tokCorpus, vocab), minJaccard)
  }

  /** The global token dictionary of the dense-vocab kernels, or None
    * past `maxVocab`: ONE sorted-distinct-limit job collecting at most
    * maxVocab+1 strings to the driver, so the dense check is EXACT (no
    * estimate gap — an approx_count_distinct dispatch could promise
    * the bitmap path and then fail its contract at runtime) and the
    * dictionary needs no cached DataFrame (the round-6 form leaked one
    * cached vocab relation per invocation). */
  def tokenVocab(tok: DataFrame, maxVocab: Int = 4096): Option[Array[String]] = {
    val probe = tok.select(col("tok")).where(col("tok").isNotNull)
      .distinct().orderBy("tok").limit(maxVocab + 1)
      .collect().map(_.getString(0))
    if (probe.length > maxVocab) None else Some(probe)
  }

  /** Per-doc token bitmap masks under a dictionary from [[tokenVocab]]:
    * (doc_id, mask array<bigint>, n = set-bit count). Tokens outside
    * the dictionary are dropped — pass a dictionary built over every
    * token set that will be compared. The mask build is one broadcast
    * dictionary join + two grouped aggregations, all doc-keyed. */
  def tokenMasks(tok: DataFrame, vocab: Array[String]): DataFrame = {
    val spark = tok.sparkSession
    import spark.implicits._
    val nWords = ((vocab.length + 63) / 64).max(1)
    val dict = vocab.zipWithIndex.toSeq.toDF("tok", "id")
    tok.join(broadcast(dict), Seq("tok"))
      .select(col("doc_id"), (col("id") / 64).cast("int").as("w"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(id % 64 AS INT))").as("bit"))
      .groupBy("doc_id", "w").agg(bit_or(col("bit")).as("bits"))
      .groupBy("doc_id")
      .agg(map_from_entries(collect_list(struct(col("w"), col("bits")))).as("mm"))
      .select(col("doc_id"),
        transform(sequence(lit(0), lit(nWords - 1)),
          w => coalesce(element_at(col("mm"), w), lit(0L))).as("mask"))
      .withColumn("n", aggregate(col("mask"), lit(0L),
        (acc, x) => acc + bit_count(x).cast("long")))
  }

  /** The bitset Jaccard pair kernel over pre-built masks (both sides
    * from the SAME [[tokenVocab]] dictionary — callers with a shared
    * corpus-wide masks table memoize it once and filter per query).
    * The probe side broadcasts, so the pair stream never shuffles;
    * `maxProbeDocs` is the fuse on that contract — a caller feeding a
    * corpus-sized "batch" fails with the remedy instead of OOMing the
    * driver at scale. The count() that enforces it is the probe
    * side's materialization (cheap on a memoized masks table). */
  def jaccardPairsFromMasks(masksProbe: DataFrame, masksCorpus: DataFrame,
      minJaccard: Double, maxProbeDocs: Long = 200000): DataFrame = {
    require(minJaccard > 0.0, "thresholdless all-pairs output is never wanted")
    val np = masksProbe.count()
    require(np <= maxProbeDocs,
      s"probe side has $np docs (cap $maxProbeDocs): the bitmap kernel broadcasts " +
        "the probe masks. Swap the sides, raise maxProbeDocs, or use the sparse " +
        "prefix path (jaccardPairsAcrossTokens) for corpus-vs-corpus joins.")
    val p = masksProbe.select(col("doc_id").as("d1"), col("mask").as("ma"),
      col("n").as("n1"))
    // Spread the STREAM side of the broadcast-nested-loop kernel over
    // the session's shuffle parallelism (guide §2.5): a compacted
    // masks table reads as 1-2 files, and the O(|probe|·|corpus|)
    // bitset intersection then runs in 1-2 tasks (round-13 event log:
    // 3.0-3.6 s single-task stages inside q260's micro-batches). The
    // shuffled rows are doc-sized masks — bytes ∝ corpus docs, not
    // pairs. Round 14: scale-conditional ([[Spread]]) — no-op when the
    // corpus already scans wide, so a 100 TB masks table is never
    // down-partitioned to the session count (r13 verdict item 2).
    val c = Spread(masksCorpus.select(col("doc_id").as("d2"),
      col("mask").as("mb"), col("n").as("n2")))
    broadcast(p).crossJoin(c)
      .withColumn("n_inter", aggregate(
        zip_with(col("ma"), col("mb"), (x, y) => bit_count(x.bitwiseAND(y)).cast("long")),
        lit(0L), (acc, x) => acc + x))
      .select(col("d1"), col("d2"),
        when(col("n1") + col("n2") - col("n_inter") === 0, lit(0.0))
          .otherwise(col("n_inter").cast("double") /
            (col("n1") + col("n2") - col("n_inter")).cast("double")).as("jaccard"))
      .where(col("jaccard") >= minJaccard)
  }

  /** Regime dispatcher for the cross-set Jaccard join: the EXACT
    * dictionary probe ([[tokenVocab]]) picks the dense-vocab bitset
    * kernel or the sparse-vocab prefix filter
    * ([[jaccardPairsAcrossTokens]]) — and because the probe is exact,
    * a vocabulary past the cap falls back to the sparse path instead
    * of aborting at runtime the way an over-optimistic estimate would.
    * The two are bit-identical on their overlap (DedupSpec law), so
    * the dispatch is invisible to results — it is purely the density
    * crossover that decides which plan survives at scale. */
  def jaccardPairsAcross(tokProbe: DataFrame, tokCorpus: DataFrame,
      minJaccard: Double, bitmapMaxVocab: Int = 4096): DataFrame =
    tokenVocab(tokProbe.select("tok").unionByName(tokCorpus.select("tok")),
        bitmapMaxVocab) match {
      case Some(vocab) =>
        jaccardPairsFromMasks(tokenMasks(tokProbe, vocab),
          tokenMasks(tokCorpus, vocab), minJaccard)
      case None => jaccardPairsAcrossTokens(tokProbe, tokCorpus, minJaccard)
    }

  /** Dense-vocabulary fast path for the cross-set CONTAINMENT join —
    * same bitset kernel as [[jaccardPairsAcrossBitmap]] (the prefix
    * filter degenerates identically in this regime, and containment's
    * probe-side-only prefix makes the verify blowup WORSE), scoring
    * |T1∩T2|/|T1| instead of Jaccard. */
  def containmentPairsAcrossBitmap(tokProbe: DataFrame, tokCorpus: DataFrame,
      minContainment: Double, maxVocab: Int = 4096): DataFrame = {
    require(minContainment > 0.0, "thresholdless all-pairs output is never wanted")
    val u = tokProbe.select("tok").unionByName(tokCorpus.select("tok"))
    val vocab = tokenVocab(u, maxVocab).getOrElse(throw new IllegalArgumentException(
      s"vocabulary exceeds $maxVocab — use containmentPairsAcrossTokens (sparse path)"))
    containmentPairsFromMasks(tokenMasks(tokProbe, vocab),
      tokenMasks(tokCorpus, vocab), minContainment)
  }

  /** The bitset CONTAINMENT pair kernel over pre-built masks — same
    * contract and probe-side broadcast fuse as
    * [[jaccardPairsFromMasks]], scoring |T1∩T2|/|T1|. */
  def containmentPairsFromMasks(masksProbe: DataFrame, masksCorpus: DataFrame,
      minContainment: Double, maxProbeDocs: Long = 200000): DataFrame = {
    require(minContainment > 0.0, "thresholdless all-pairs output is never wanted")
    val np = masksProbe.count()
    require(np <= maxProbeDocs,
      s"probe side has $np docs (cap $maxProbeDocs): the bitmap kernel broadcasts " +
        "the probe masks. Swap the sides, raise maxProbeDocs, or use the sparse " +
        "prefix path (containmentPairsAcrossTokens) for corpus-vs-corpus joins.")
    val p = masksProbe.select(col("doc_id").as("d1"), col("mask").as("ma"),
      col("n").as("n1"))
    val c = masksCorpus.select(col("doc_id").as("d2"), col("mask").as("mb"))
    broadcast(p).crossJoin(c)
      .withColumn("n_inter", aggregate(
        zip_with(col("ma"), col("mb"), (x, y) => bit_count(x.bitwiseAND(y)).cast("long")),
        lit(0L), (acc, x) => acc + x))
      .select(col("d1"), col("d2"),
        (col("n_inter") * lit(1.0) / col("n1")).as("containment"))
      .where(col("containment") >= minContainment)
  }

  /** Cross-set CONTAINMENT join: every (probe doc, corpus doc) pair
    * with |T_probe ∩ T_corpus| / |T_probe| ≥ t — the asymmetric
    * near-dup relation ("this doc is mostly inside that one") that
    * catches quotes, mirrors, and partial copies which symmetric
    * Jaccard misses when sizes differ. Prefix filter is asymmetric:
    * under one GLOBAL df order over both sets, a probe doc of n1
    * tokens keeps its n1 − ⌈t·n1⌉ + 1 rarest tokens (an intersection
    * of ≥ ⌈t·n1⌉ tokens must hit that prefix), while the corpus side
    * cannot shrink — containment puts no lower bound on how much of
    * the corpus doc participates — so the corpus is indexed whole:
    * exactly why production containment joins precompute the corpus
    * posting lists once and reuse them per batch. Candidates then
    * pass the size filter n2 ≥ ⌈t·n1⌉ and exact verification
    * (candidates are a provable superset; the verify is exact).
    * Output: (d1 = probe, d2 = corpus, containment). */
  def containmentPairsAcrossTokens(tokProbe: DataFrame, tokCorpus: DataFrame,
      minContainment: Double): DataFrame = {
    require(minContainment > 0.0, "prefix filtering needs a positive threshold")
    import org.apache.spark.sql.expressions.Window
    val u = tokProbe.select(col("doc_id"), col("tok"), lit(0).as("side"))
      .unionByName(tokCorpus.select(col("doc_id"), col("tok"), lit(1).as("side")))
    val dfreq = u.groupBy("tok").agg(count(lit(1)).as("df"))
    val byDoc = Window.partitionBy("doc_id")
    val ranked = tokProbe.join(dfreq, Seq("tok"))
      .select(col("tok"), col("doc_id"),
        row_number().over(byDoc.orderBy(col("df"), col("tok"))).as("pos"),
        count(lit(1)).over(byDoc).as("n"))
    val probePrefix = ranked.filter(
        col("pos") <= col("n") - ceil(lit(minContainment) * col("n") - lit(1e-9)) + 1)
      .select(col("tok"), col("doc_id").as("d1"), col("n").as("n1"))
    val corpusSizes = tokCorpus.groupBy("doc_id").agg(count(lit(1)).as("n2"))
    val corpusIdx = tokCorpus.join(corpusSizes, Seq("doc_id"))
      .select(col("tok"), col("doc_id").as("d2"), col("n2"))
    val cand = probePrefix.join(corpusIdx, Seq("tok"))
      .where(col("n2") >=
        ceil(lit(minContainment) * col("n1") - lit(1e-9)).cast("long"))
      .select(col("d1"), col("d2")).distinct()
    val t1 = cand.join(tokProbe.select(col("doc_id").as("d1"), col("tok")), Seq("d1"))
    val inter = t1
      .join(tokCorpus.select(col("doc_id").as("d2"), col("tok")), Seq("d2", "tok"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("n_inter"))
    inter
      .join(tokProbe.groupBy("doc_id").agg(count(lit(1)).as("n1"))
        .select(col("doc_id").as("d1"), col("n1")), Seq("d1"))
      .select(col("d1"), col("d2"),
        (col("n_inter") * lit(1.0) / col("n1")).as("containment"))
      .where(col("containment") >= minContainment)
  }

  // -------------------------------------------- co-occurrence pairs

  /** All unordered item pairs sharing ≥ 1 bag — the triadic-closure /
    * co-targeting self-join (`(i1)-->(bag)<--(i2)`), which is also the
    * threshold-1 limit of the intersection joins above. Two regimes,
    * same dispatch logic as [[jaccardPairsAcross]]:
    *
    *  - DENSE items (distinct item count ≤ maxItems, the dimension-like
    *    case: suppliers, sources, tags): [[coOccurrencePairsBitmap]].
    *    The naive self-join materializes Σ_bag (items_per_bag choose 2)
    *    pair instances THROUGH A SHUFFLE into a distinct (measured at
    *    sf0.1: 8.7M shuffled pair rows for a 500k-pair answer). The
    *    bitset form never shuffles a pair stream: per-bag item bitmaps
    *    (64-bit words), OR-merged per item with map-side combine — the
    *    only shuffles are bag- and item-keyed word tables, both
    *    bag/item-linear — then set bits expand directly to the answer.
    *  - SPARSE items (ids, documents): the bag-keyed self-join, where
    *    qualifying pairs are rare and the bitmap dictionary would not
    *    fit.
    *
    * Output: (i1, i2), i1 < i2 in the item type's natural order, each
    * unordered pair exactly once. */
  def coOccurrencePairs(bagItem: DataFrame, maxItems: Int = 4096): DataFrame =
    coOccurrencePairsBitmap(bagItem, maxItems).getOrElse {
      val a = bagItem.select(col("bag"), col("item").as("i1")).distinct()
      val b = bagItem.select(col("bag"), col("item").as("i2")).distinct()
      a.join(b, Seq("bag")).where(col("i1") < col("i2"))
        .select(col("i1"), col("i2")).distinct()
    }

  /** The dense-regime kernel of [[coOccurrencePairs]]; None when the
    * exact distinct item count exceeds maxItems (the sorted
    * dictionary probe collects at most maxItems+1 values, so the
    * dense check is exact — no estimate gap). */
  def coOccurrencePairsBitmap(bagItem: DataFrame, maxItems: Int = 4096): Option[DataFrame] = {
    val spark = bagItem.sparkSession
    val itemField = bagItem.schema("item")
    val probe = bagItem.select("item").distinct().orderBy("item")
      .limit(maxItems + 1).collect()
    if (probe.length > maxItems) None
    else {
      val n = probe.length
      val nWords = ((n + 63) / 64).max(1)
      val dictRows = probe.zipWithIndex.map { case (r, i) =>
        org.apache.spark.sql.Row(r.get(0), i)
      }
      val dict = spark.createDataFrame(
        spark.sparkContext.parallelize(dictRows.toSeq, 1),
        org.apache.spark.sql.types.StructType(Seq(
          itemField.copy(name = "item", nullable = false),
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.IntegerType, nullable = false))))
      // no dedup pass needed: bit_or is idempotent, so duplicate
      // (bag, item) rows cannot change any mask — they only widen the
      // in-stage fan-out (callers with heavily duplicated input should
      // pre-distinct for that reason alone)
      val bi = bagItem.select("bag", "item")
        .join(broadcast(dict), Seq("item"))
        .select(col("bag"), col("id"))
      // per-(bag, word) bitmaps of the items present in the bag
      val bagWords = bi
        .select(col("bag"), (col("id") / 64).cast("int").as("w"),
          expr("shiftleft(CAST(1 AS BIGINT), CAST(id % 64 AS INT))").as("bit"))
        .groupBy("bag", "w").agg(bit_or(col("bit")).as("bits"))
      // OR each item's co-occurrence mask across its bags: the join
      // fan-out (|bagItem| × words-per-bag) is generated and partially
      // aggregated INSIDE one stage, so the shuffle carries at most
      // n·nWords rows per partition
      val co = bi.join(bagWords, Seq("bag"))
        .groupBy("id", "w").agg(bit_or(col("bits")).as("bits"))
      // expand set bits above the diagonal to (id, id2) pairs — the
      // literal mask lookup keeps the variable-distance bit test inside
      // built-in codegen'd expressions (the Sketches.BitMasks idiom)
      val bitMasks = lit(Array.tabulate(64)(1L << _))
      val pairs = co.select(col("id"),
          explode(filter(
            transform(sequence(lit(0), lit(63)),
              b => when(col("bits").bitwiseAND(
                element_at(bitMasks, b.cast("int") + 1)) =!= 0L,
                col("w") * 64 + b)),
            x => x.isNotNull)).as("id2"))
        .where(col("id2") > col("id"))
      Some(pairs
        .join(broadcast(dict.select(col("id"), col("item").as("i1"))), Seq("id"))
        .join(broadcast(dict.select(col("id").as("id2"), col("item").as("i2"))), Seq("id2"))
        .select(col("i1"), col("i2")))
    }
  }

  /** Exact n-gram Jaccard similarity for doc pairs sharing a blocking
    * key (e.g. source): explode tokens, count intersections via
    * token-equi join within block, Jaccard from exact set sizes.
    * The blocking key bounds the join; integer arithmetic keeps the
    * output oracle-exact. Quadratic in per-token frequency — kept as
    * the small-scale cross-check of [[jaccardPairsPrefix]], which is
    * the form the gate runs. */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      blockCol: String, minJaccard: Double): DataFrame =
    jaccardPairsTokens(
      docs.select(col(idCol).as("doc_id"), col(blockCol).as("blk"),
        explode(array_distinct(TextOps.tokens(col(textCol)))).as("tok")),
      minJaccard)

  /** [[jaccardPairs]] over a pre-built (doc_id, blk, tok) table — pass
    * a cached one: the plan reads it three times (sizes + both join
    * sides). */
  def jaccardPairsTokens(tok: DataFrame, minJaccard: Double): DataFrame = {
    val sizes = tok.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = tok.as("a").join(tok.as("b"),
        col("a.tok") === col("b.tok") && col("a.blk") === col("b.blk") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.select(col("doc_id").as("d1"), col("n").as("n1")), "d1")
      .join(sizes.select(col("doc_id").as("d2"), col("n").as("n2")), "d2")
      .select(col("d1"), col("d2"),
        (col("n_inter").cast("double") /
          (col("n1") + col("n2") - col("n_inter")).cast("double")).as("jaccard"))
      .where(col("jaccard") >= minJaccard)
  }

  /** Engine-portable SimHash signatures: two 32-bit words per doc
    * from md5 slices of each distinct token, folded scan-side by the
    * native [[graft.functions.SimHashPortable]] expression — no
    * explode, no shuffle, and every value replayable in ANSI SQL
    * (the md5 idiom), unlike the xxhash64 production signature
    * ([[graft.functions.SimHash64]]). Output: (idCol, sim1, sim2);
    * token-less docs drop out (null signature), matching the
    * relational form. */
  def simHashPortable(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
        graft.functions.SimHashPortable(
          array_distinct(TextOps.tokens(col(textCol)))).as("s"))
      .where(col("s").isNotNull)
      .select(col(idCol), col("s").getItem(0).as("sim1"),
        col("s").getItem(1).as("sim2"))

  /** The explode → md5 → HexSlice32 → 64-column vote aggregate chain
    * the native expression replaces — kept as the bit-equality test
    * oracle (DedupSpec) and for inputs that genuinely arrive
    * exploded. */
  private[graft] def simHashPortableRelational(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val th = docs
      .select(col(idCol),
        explode(array_distinct(TextOps.tokens(col(textCol)))).as("tok"))
      .select(col(idCol), md5(col("tok")).as("hx"))
      .select(col(idCol),
        graft.functions.HexSlice32(col("hx"), lit(0)).as("h1"),
        graft.functions.HexSlice32(col("hx"), lit(8)).as("h2"))
    val votes = (1 to 2).flatMap { w =>
      (0 until 32).map { b =>
        sum(when(shiftright(col(s"h$w"), b).bitwiseAND(lit(1L)) === 1L, 1L)
          .otherwise(-1L)).as(s"s${w}_$b")
      }
    }
    def simOf(w: Int): org.apache.spark.sql.Column = (0 until 32)
      .map(b => when(col(s"s${w}_$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    th.groupBy(col(idCol)).agg(votes.head, votes.tail: _*)
      .select(col(idCol), simOf(1).as("sim1"), simOf(2).as("sim2"))
  }

  /** Near-duplicate pairs at hamming distance ≤ `maxHamming` over the
    * portable 64-bit SimHash, via Manku-style pigeonhole blocking:
    * the signature splits into `nBlocks` = 8 blocks of 8 bits, a pair
    * within hamming ≤ nBlocks−1 = 7 must agree on ≥ 1 whole block, so
    * for maxHamming ≤ 7 the block equi-join is EXACT — identical to
    * the all-pairs join it replaces (law-tested in DedupSpec).
    * Scale shape: signatures are 2 longs/doc, candidates come from a
    * corpus-linear block join, compares are per-bucket quadratic. */
  def simHashNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int): DataFrame = {
    require(maxHamming <= 7,
      s"pigeonhole blocking with 8 blocks is exact only for hamming <= 7, got $maxHamming")
    val sh = simHashPortable(docs, idCol, textCol)
    // block geometry adapts to the threshold: hamming ≤ 3 needs only
    // 4 blocks (pigeonhole), so use 16-bit values — a 65536-value
    // space with ~25× fewer candidate collisions than 8-bit blocks
    // on a near-dup-dense corpus; ≤ 7 falls back to 8 × 8-bit
    val blockCols =
      if (maxHamming <= 3)
        (0 until 4).map(g =>
          (if (g < 2) shiftright(col("sim1"), g * 16)
           else shiftright(col("sim2"), (g - 2) * 16)).bitwiseAND(lit(65535L)))
      else
        (0 until 8).map(g =>
          (if (g < 4) shiftright(col("sim1"), g * 8)
           else shiftright(col("sim2"), (g - 4) * 8)).bitwiseAND(lit(255L)))
    val blk = sh.select(col(idCol), col("sim1"), col("sim2"),
      posexplode(array(blockCols: _*)).as(Seq("blk_id", "blk_val")))
    val a = blk.select(col("blk_id"), col("blk_val"), col(idCol).as("d1"),
      col("sim1").as("a1"), col("sim2").as("a2"))
    val b = blk.select(col("blk_id"), col("blk_val"), col(idCol).as("d2"),
      col("sim1").as("b1"), col("sim2").as("b2"))
    val ham = bit_count(col("a1").bitwiseXOR(col("b1"))) +
      bit_count(col("a2").bitwiseXOR(col("b2")))
    // hamming filter BELOW the dedup: the codegen'd bit_count drops
    // ~98% of candidate rows map-side, so the distinct shuffles only
    // surviving (d1, d2, hamming) triples — not every block collision
    // with both signatures attached (~50× narrower at sf0.1)
    a.join(b, Seq("blk_id", "blk_val")).where(col("d1") < col("d2"))
      .where(ham <= maxHamming)
      .select(col("d1"), col("d2"), ham.cast("long").as("hamming"))
      .distinct()
  }

  /** All distinct variants of `s` reachable by deleting up to
    * `maxDeletions` (1 or 2) characters, the string itself included.
    * ed(a,b) ≤ k ⟺ the ≤k-deletion neighborhoods of a and b
    * intersect (delete the aligned edit positions from each side), so
    * equi-joining these variants is a COMPLETE blocking for
    * levenshtein ≤ k — never a candidate false-negative. Volume per
    * string: 1 + L at k=1, + L·(L−1)/2 at k=2. */
  private[graft] def deletionVariants(s: Column, maxDeletions: Int): Column = {
    require(maxDeletions >= 1 && maxDeletions <= 2,
      s"deletionVariants supports maxDeletions 1..2, got $maxDeletions")
    // native one-pass expression (graft.functions.DeletionVariants);
    // the HOF chain below is its order-and-value equivalence twin
    graft.functions.DeletionVariants(s, maxDeletions)
  }

  /** The built-in HOF form of [[deletionVariants]] — kept as the
    * native expression's equivalence oracle (DedupSpec). */
  private[graft] def deletionVariantsRelational(s: Column,
      maxDeletions: Int): Column = {
    val len = length(s)
    val empty = array().cast("array<string>")
    // sequence(1, 0) counts DOWN in Spark — guard the degenerate
    // lengths explicitly instead of relying on an empty range
    val del1 = when(len >= 1, transform(sequence(lit(1), len),
      i => concat(s.substr(lit(1), i - lit(1)), s.substr(i + lit(1), len))))
      .otherwise(empty)
    val del2 = when(len >= 2, flatten(transform(sequence(lit(1), len - lit(1)),
      i => transform(sequence(i + lit(1), len),
        j => concat(s.substr(lit(1), i - lit(1)),
          s.substr(i + lit(1), j - i - lit(1)),
          s.substr(j + lit(1), len))))))
      .otherwise(empty)
    val all = if (maxDeletions == 1) concat(array(s), del1)
              else concat(array(s), del1, del2)
    array_distinct(all)
  }

  /** Fuzzy self-join at levenshtein ≤ `maxDist` (1 or 2) by FastSS
    * deletion-neighborhood blocking: candidates share a deletion
    * variant (equi-join on the variant's 64-bit hash — longs per
    * blocking row, never the strings), `levenshtein` verifies exactly.
    * The length band |len(a) − len(b)| ≤ maxDist is implicit: equal
    * variants have equal length, and each side deleted ≤ maxDist
    * chars. At maxDist = 2 the join splits into channels by deletion
    * count, and the dominant (2-deletions × 2-deletions) channel
    * additionally keys on the deletion POSITIONS — complete because
    * the only ed ≤ 2 pairs not covered by a smaller channel are
    * 2-substitution pairs, whose witnesses delete the same two
    * positions from both sides (case analysis in the body; law:
    * blocked ≡ brute, DedupSpec). Candidate volume for the
    * unrestricted channels is bounded by strings genuinely sharing a
    * length-(L−k) subsequence; for the aligned channel by strings
    * equal outside two fixed positions — near-match-bounded, never
    * all-pairs. Output: (id1, id2, name1, name2, dist), id1 < id2. */
  def fuzzyJoinPairs(df: DataFrame, idCol: String, strCol: String,
      maxDist: Int): DataFrame = {
    val names = df.select(col(idCol).as("id"), col(strCol).as("name"))
    // Redistribute the PRE-explode rows over the session's shuffle
    // parallelism (guide §2.5): a single-file input scans as one
    // partition and the O(L^k) variant explode amplifies inside that
    // one task — the round-13 event log showed q246-family variant
    // generation + probe serialized into 1-task stages. The shuffle
    // moves only the small un-exploded (id, name) rows. Round 14:
    // scale-conditional ([[Spread]]) — no-op when the input already
    // scans wide (r13 verdict item 2).
    val spread = Spread(names)
    // position-tagged, pre-hashed neighborhood (one fused kernel pass;
    // variant strings never enter the rows)
    val tagged = spread.select(col("id"),
        explode(graft.functions.DeletionVariantsTagged(col("name"), maxDist))
          .as("t"))
      .select(col("id"), col("t.h").as("h"), col("t.nd").as("nd"),
        col("t.pos").as("pos"))
    val cand =
      if (maxDist == 1) {
        val v = tagged.select(col("id"), col("h"))
        v.as("a").join(v.as("b"),
            col("a.h") === col("b.h") && col("a.id") < col("b.id"))
          .select(col("a.id").as("id1"), col("b.id").as("id2"))
          .distinct()
      } else {
        // ed ≤ 2 candidate channels by deletion-count pair, complete
        // by case analysis on the edit script (law: blocked ≡ brute,
        // DedupSpec):
        //   (0,0)/(0,1)/(1,1) — equal, 1-edit, and 1-ins+1-del pairs;
        //     positions unrestricted (an ins/del witness deletes
        //     DIFFERENT positions from each side);
        //   (0,2)/(1,2)     — pairs with length skew 1..2 (2-del,
        //     1-sub+1-indel); unrestricted;
        //   (2,2)           — ONLY 2-substitution pairs remain, and
        //     their witnesses delete the SAME two positions from both
        //     sides — so pos joins as part of the key, splitting the
        //     dominant buckets (every id sharing a length-(L−2)
        //     subsequence) into exact position-aligned cells. On
        //     sf0.1's sequential 18-char ids this is the difference
        //     between a subsequence bucket (~hundreds of ids) and a
        //     two-free-digit cell.
        val small = tagged.where(col("nd") <= 1).select(col("id"), col("h"))
        val two = tagged.where(col("nd") === 2)
          .select(col("id"), col("h"), col("pos"))
        val j1 = small.as("a").join(small.as("b"),
            col("a.h") === col("b.h") && col("a.id") < col("b.id"))
          .select(col("a.id").as("id1"), col("b.id").as("id2"))
        val j2 = small.as("a").join(two.as("b"),
            col("a.h") === col("b.h") && col("a.id") =!= col("b.id"))
          .select(least(col("a.id"), col("b.id")).as("id1"),
            greatest(col("a.id"), col("b.id")).as("id2"))
        val j3 = two.as("a").join(two.as("b"),
            col("a.h") === col("b.h") && col("a.pos") === col("b.pos") &&
              col("a.id") < col("b.id"))
          .select(col("a.id").as("id1"), col("b.id").as("id2"))
        j1.union(j2).union(j3).distinct()
      }
    // names re-attach to the candidate set only (candidate-sized join;
    // AQE broadcasts the small side at gate scale)
    cand
      .join(names.select(col("id").as("id1"), col("name").as("name1")), "id1")
      .join(names.select(col("id").as("id2"), col("name").as("name2")), "id2")
      .withColumn("dist", levenshtein(col("name1"), col("name2")).cast("int"))
      .where(col("dist") <= maxDist)
      .select(col("id1"), col("id2"), col("name1"), col("name2"), col("dist"))
  }

  /** All-pairs reference form of [[fuzzyJoinPairs]] — test oracle
    * only (the completeness law: blocked == brute). */
  private[graft] def fuzzyJoinPairsBrute(df: DataFrame, idCol: String,
      strCol: String, maxDist: Int): DataFrame = {
    val a = df.select(col(idCol).as("id1"), col(strCol).as("name1"))
    val b = df.select(col(idCol).as("id2"), col(strCol).as("name2"))
    a.crossJoin(b).where(col("id1") < col("id2"))
      .withColumn("dist", levenshtein(col("name1"), col("name2")).cast("int"))
      .where(col("dist") <= maxDist)
      .select(col("id1"), col("id2"), col("name1"), col("name2"), col("dist"))
  }

  /** The all-pairs reference form of [[simHashNearDupPairs]] — test
    * oracle only; the quadratic join this operator family exists to
    * avoid. */
  private[graft] def simHashNearDupPairsBrute(docs: DataFrame, idCol: String,
      textCol: String, maxHamming: Int): DataFrame = {
    val sh = simHashPortable(docs, idCol, textCol)
    val a = sh.select(col(idCol).as("d1"), col("sim1").as("a1"), col("sim2").as("a2"))
    val b = sh.select(col(idCol).as("d2"), col("sim1").as("b1"), col("sim2").as("b2"))
    val ham = bit_count(col("a1").bitwiseXOR(col("b1"))) +
      bit_count(col("a2").bitwiseXOR(col("b2")))
    a.crossJoin(b).where(col("d1") < col("d2"))
      .where(ham <= maxHamming)
      .select(col("d1"), col("d2"), ham.cast("long").as("hamming"))
  }
}
