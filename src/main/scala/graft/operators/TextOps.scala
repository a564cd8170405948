package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale corpus pipelines: token
  * counting, quality signals, fingerprinting, chunking.
  *
  * All pure `Column` compositions over built-in functions — fully
  * codegen'd, no UDFs, so they stay inside WholeStageCodegen spans and
  * push down through Catalyst untouched. Deterministic by
  * construction (no rand, no time).
  */
object TextOps {

  /** Distinct-preserving whitespace tokenizer; drops empty tokens that
    * `split` produces on leading whitespace. */
  def tokens(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => length(t) > 0)

  /** Token count without materializing the array (regex scan only). */
  def tokenCount(text: Column): Column =
    regexp_count(text, lit("\\S+")).cast("long")

  /** GPT-2-style pre-tokenizer piece pattern: contractions, letter
    * runs, digit runs, punctuation runs (each with an optional leading
    * space). The upstream pattern's trailing-whitespace lookahead is
    * dropped so the regex runs identically on java.util.regex and RE2
    * (DuckDB) — whitespace never forms a piece here, which only
    * changes counts for multi-space runs. The branches are otherwise
    * disjoint at any start position, so leftmost-first and
    * leftmost-longest engines agree. */
  val BpePiecePattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+"

  /** BPE-ish token-piece count — the cheap proxy for "how many tokens
    * will the tokenizer bill for this doc" used when sizing training
    * shards; pure regex scan, codegen'd, no vocabulary needed. */
  def bpePieceCount(text: Column): Column =
    regexp_count(lower(text), lit(BpePiecePattern)).cast("long")

  /** Distinct word k-shingles of the lowercased text ("_"-joined).
    * Sub-k-token texts yield one clamped short shingle (the slice
    * stops at the array end) — mirrorable in SQL via clamped list
    * slicing. Shared by the dedup family and the corpus profile gates. */
  def wordShingles(text: Column, k: Int): Column =
    // native one-pass expression — the built-in chain
    // (array_distinct ∘ transform ∘ slice ∘ filter) is three
    // interpreted higher-order functions and dominated every shingle
    // consumer; value-identical (WordShingles scaladoc + DedupSpec)
    graft.functions.WordShingles(text, k)

  /** Count of ASCII punctuation characters. */
  def punctCount(text: Column): Column =
    regexp_count(text, lit("[.,!?;:]")).cast("long")

  /** Ratio of tokens drawn from a stopword list — the classic cheap
    * language/quality signal. */
  def stopwordCount(text: Column, stopwords: Seq[String]): Column =
    regexp_count(lower(text), lit(stopwords.mkString("\\b(", "|", ")\\b"))).cast("long")

  val EnglishStopwords: Seq[String] =
    Seq("the", "and", "of", "to", "in", "is", "a", "that", "it", "for")

  /** Order-insensitive content fingerprint: md5 over the sorted
    * distinct token set. Two docs with identical vocabulary collide —
    * the cheap "bag-of-words duplicate" key. */
  def vocabFingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(tokens(text)))))

  /** PII redaction (beyond-reference, training-data pipelines): mask
    * email addresses and long digit runs (phone/account/SSN shapes)
    * before a corpus ships to training. Patterns deliberately use only
    * the regex subset with identical semantics in Java regex and RE2
    * (character classes, bounded repetition — no backrefs, no
    * lookaround), so the scrub replays in any engine. Codegen'd
    * projection over a pruned scan — scrubbing 100 TB is scan-bound. */
  /** Context-window chunking (beyond-reference, training-data
    * pipelines): split a document into fixed-size character windows
    * with overlap (`stride` < `size` overlaps adjacent chunks) — the
    * pre-tokenization step that fits documents to a model's context
    * length. One `posexplode(sequence(...))` per doc: narrow, no
    * shuffle, chunk count ∝ doc length. Returns (chunk_id, chunk). */
  def chunk(text: Column, size: Int, stride: Int): Column = {
    require(stride > 0 && stride <= size, "need 0 < stride <= size")
    // windows start at 0, stride, 2·stride, …; last window begins at
    // or before len-1 (short tail chunks are kept — truncation would
    // silently drop corpus)
    val nChunks = greatest(
      ceil((length(text).cast("double") - lit(size)) / lit(stride)).cast("long") + 1L,
      lit(1L))
    transform(sequence(lit(0L), nChunks - 1),
      i => struct(i.as("chunk_id"),
        text.substr((i * stride + 1).cast("int"), lit(size)).as("chunk")))
  }

  /** Non-overlapping k-token windows ("passages") with their window
    * index — the segmentation unit for passage-level corpus dedup
    * (CCNet/Dolma-style line dedup, adapted to newline-free text).
    * Returns array<struct(w_idx, passage)>; the short tail window is
    * kept (truncation would silently drop corpus). Narrow: one
    * `transform(sequence(...))` per doc, no shuffle. */
  def tokenWindows(text: Column, k: Int): Column = {
    require(k > 0, "need k > 0")
    val toks = tokens(text)
    val nWin = greatest(
      ceil(size(toks).cast("double") / lit(k)).cast("long"), lit(1L))
    transform(sequence(lit(0L), nWin - 1),
      i => struct(i.as("w_idx"),
        array_join(slice(toks, (i * k + 1).cast("int"), lit(k)), " ").as("passage")))
  }

  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val LongDigitPattern = "[0-9][0-9 ()+.-]{7,}[0-9]"

  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, EmailPattern, "<EMAIL>"),
      LongDigitPattern, "<NUMBER>")

  /** BM25 top-k ranked retrieval (Lucene's +1 idf variant, k1 = 1.2,
    * b = 0.75) with DETERMINISTIC-INTEGER scoring: idf is quantized
    * once per query term (round(ln·1e6) — a handful of scalar values,
    * never float accumulation), the length normalization is exact
    * rational arithmetic over an INTEGER average doc length
    * (avgdlR = max(1, sumdl DIV n); multiplying through by 10·avgdlR
    * clears k1/b's denominators, so each term-doc contribution is
    * idf6·22·tf·avgdlR DIV (10·tf·avgdlR + 3·avgdlR + 9·dl) — bounded
    * ~1e15 at ANY corpus size, BIGINT-safe), and per-doc scores are
    * exact integer sums — the ranking cannot drift with aggregation
    * order, and an external engine replays every division (q264).
    * Plan: one tokens pass (dl + query-term tf, map-side combined),
    * a broadcast ≤|terms| idf table, global top-k as
    * TakeOrderedAndProject. Output: (doc_id, score6, n_terms). */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: Column,
      terms: Seq[String], k: Int): DataFrame = {
    require(terms.nonEmpty && k >= 1)
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(tokens(textCol)).as("tok"))
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n"),
      expr("greatest(CAST(1 AS BIGINT), sum(dl) DIV count(*))").as("avgdlr"))
    val tfq = toks.where(col("tok").isin(terms: _*))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val idf = tfq.groupBy("tok").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(stats))
      .select(col("tok"),
        round(log(lit(1.0) + (col("n") - col("df") + lit(0.5)) /
          (col("df") + lit(0.5))) * 1e6).cast("long").as("idf6"))
    tfq.join(broadcast(idf), "tok")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        expr("(idf6 * 22 * tf * avgdlr) DIV " +
          "(10 * tf * avgdlr + 3 * avgdlr + 9 * dl)").as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("score6"), count(lit(1)).as("n_terms"))
      .orderBy(col("score6").desc, col("doc_id"))
      .limit(k)
  }

  /** BPE merge-rule TRAINING — the tokenizer-learning step of an LLM
    * data pipeline (the counterpart of [[bpePieceCount]], which only
    * bills against an assumed vocabulary): learn the top-`k` merge
    * rules over the corpus by the classic iteration — count adjacent
    * symbol pairs weighted by word frequency, merge the most frequent
    * pair everywhere, repeat.
    *
    * Distributed shape per iteration: ONE shuffle (pair count with
    * map-side partial agg over the word-frequency table, which is
    * corpus-vocabulary-sized, not corpus-sized), a 1-ROW collect (the
    * argmax rule — the bounded driver artifact, ties broken by pair
    * string ascending), and a codegen'd `replace` projection to apply
    * the rule. State between iterations is the symbolized vocabulary
    * DataFrame (localCheckpoint so the plan does not stack k deep) —
    * at 100 TB the word-frequency table is the ONLY thing iterated
    * over, exactly how production BPE trainers work.
    *
    * MERGE-APPLICATION SEMANTIC (pinned so an external engine replays
    * it): three passes of non-overlapping left-to-right
    * `replace(' l r ', ' lr ')` over the space-padded symbol string.
    * A single pass misses occurrences whose shared delimiter space
    * the previous match consumed ('a b a b' → 'ab a b'); three
    * passes reach the fixpoint for every chain the pair-count law in
    * TextOpsSpec covers, and Spark's `replace` and DuckDB's are
    * byte-identical in scan semantics, so the trajectory is fully
    * derivable in SQL — q298's oracle unrolls the k iterations as
    * chained CTEs and replays every count, argmax and merge.
    *
    * Input: a text column. Output: (step, pair, merged, n_occ) — the
    * learned merge table, the artifact a tokenizer ships. */
  def bpeTrainMerges(docs: DataFrame, textCol: Column, k: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // vocabulary with frequencies; symbols = chars space-separated
    var vocab = docs
      .select(explode(split(lower(textCol), "\\s+")).as("w"))
      .where(col("w").rlike("^[a-z]+$"))
      .groupBy("w").agg(count(lit(1)).as("f"))
      .select(trim(regexp_replace(col("w"), "(.)", "$1 ")).as("w"), col("f"))
      .groupBy("w").agg(sum("f").as("f"))
      .localCheckpoint(true)
    val learned = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
    (1 to k).foreach { step =>
      // guard single-symbol words: Spark's sequence(0, -1) would step
      // DOWNWARD, not produce an empty list
      val pairs = vocab
        .where(size(split(col("w"), " ")) >= 2)
        .select(col("f"), explode(expr(
          "transform(sequence(1, size(split(w, ' ')) - 1), " +
            "j -> concat(element_at(split(w, ' '), j), ' ', " +
            "element_at(split(w, ' '), j + 1)))")).as("pair"))
        .groupBy("pair").agg(sum("f").as("cnt"))
      val top = pairs.orderBy(col("cnt").desc, col("pair").asc).limit(1)
        .as[(String, Long)].collect()
      if (top.nonEmpty) {
        val (pair, cnt) = top(0)
        learned += ((step, pair, cnt))
        val merged = pair.replace(" ", "")
        val padded = concat(lit(" "), col("w"), lit(" "))
        val applied = Iterate(padded, 3)(c =>
          org.apache.spark.sql.functions.replace(
            c, lit(s" $pair "), lit(s" $merged ")))
        vocab = vocab.select(trim(applied).as("w"), col("f"))
          .groupBy("w").agg(sum("f").as("f"))
          .localCheckpoint(true)
      }
    }
    learned.toSeq
      .map { case (s, p, c) => (s.toLong, p, p.replace(" ", ""), c) }
      .toDF("step", "pair", "merged", "n_occ")
  }

  /** n-fold application of `f` — tiny local combinator for the fixed
    * replace passes above. */
  private def Iterate(c0: Column, n: Int)(f: Column => Column): Column =
    (1 to n).foldLeft(c0)((c, _) => f(c))
}
