package graft

/** Plan-SHAPE regression tests: the scale properties the engine is
  * designed around (predicate pushdown to the parquet scan, broadcast
  * joins for small dims, no cartesian products in the dedup path,
  * partial aggregation before the shuffle) must survive refactors.
  * These assert on the optimized/executed plan text, not on results —
  * the oracle gate owns result correctness.
  */
class PlanAuditSpec extends SparkSpec {

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.executedPlan.toString()
  }

  test("q02: filter and projection reach the parquet scan") {
    val p = planOf("q02_filter_project")
    assert(p.contains("PushedFilters: ["), "no pushed filters in scan:\n" + p.take(2000))
    assert(p.contains("l_quantity"), "pushed filter should mention l_quantity")
    // column pruning: the scan must not read all 16 lineitem columns
    assert(!p.contains("l_comment"), "scan reads unprojected column l_comment")
  }

  test("q04: the dimension lookup is a broadcast hash join") {
    val p = planOf("q04_broadcast_lookup")
    assert(p.contains("BroadcastHashJoin"), "expected BroadcastHashJoin:\n" + p.take(2000))
  }

  test("q03: aggregation is partial before the shuffle (map-side combine)") {
    val p = planOf("q03_join_agg")
    assert(p.contains("partial_"), "no partial aggregation in plan:\n" + p.take(2000))
  }

  test("dedup and similarity paths contain no cartesian product") {
    for (q <- Seq("q35_jaccard_pairs", "q37_minhash_lsh_pairs", "q38_simhash",
        "q40_ann_lsh", "q43_jaccard_verified_lsh", "q93_decontaminate")) {
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q plans a nested-loop join")
    }
  }

  test("q36/q38: native signature expressions plan ZERO exchanges") {
    // the whole point of minhash_sig/simhash64: signature building is
    // a narrow map over the scan, not an explode + groupBy shuffle
    for (q <- Seq("q36_minhash_signatures", "q38_simhash")) {
      val p = planOf(q)
      assert(!p.contains("Exchange"), s"$q shuffles — the narrow signature path regressed")
    }
  }

  test("q91: shard packing shuffles once, by the partition key") {
    val p = planOf("q91_shard_pack")
    // one exchange for the window partition; no global sort/exchange
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected exactly one hash exchange, got $exchanges:\n" + p.take(2000))
    assert(!p.contains("Exchange rangepartitioning"),
      "global range partition would single-task a 100 TB cumsum")
  }

  test("q106: as-of join is union+window — one key exchange, no range join") {
    val p = planOf("q106_asof_join")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1,
      s"as-of should shuffle once on the key, got $exchanges:\n" + p.take(2000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("SortMergeJoin"),
      "as-of must not plan a join at all — history depth would explode it:\n" + p.take(2000))
  }

  test("q101/q107: portable samplers are stateless scan-side filters") {
    for (q <- Seq("q101_stratified_portable", "q107_mixture_sample")) {
      val p = planOf(q)
      // the md5 keep-decision runs inside the scan stage; the only
      // exchange is the final aggregation's — rebalancing a 100 TB
      // corpus must stay scan-bound
      val exchanges = "Exchange".r.findAllIn(p).length
      assert(exchanges <= 1, s"$q: sampler filter should not shuffle:\n" + p.take(2000))
      assert(!p.contains("Sort "), s"$q: sampler must not sort")
    }
  }

  test("q135: Simpson diversity aggregates with map-side combine, no sort") {
    val p = planOf("q135_simpson_diversity")
    // symmetrize (union of two projections) then ONE grouped agg:
    // partial before the shuffle, no sort, no join anywhere
    assert(p.contains("partial_"), "diversity agg lost map-side combine:\n" + p.take(2000))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "diversity must not plan a join:\n" + p.take(2000))
  }

  test("q133/q134: portable permutation tests never plan a real cartesian") {
    // the perm-id × sample crossJoins are broadcast of a tiny range —
    // anything else (BNLJ over data-sized inputs) would explode at scale
    for (q <- Seq("q133_anosim_portable", "q134_permdisp_portable")) {
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"),
        s"$q plans a non-broadcast cartesian:\n" + p.take(2000))
    }
  }

  test("q148: the exploded passage table shuffles exactly twice (hash, then doc)") {
    // frequency is a count window over the passage-hash partition —
    // one exchange on h, one on doc_id for the rollup; the
    // agg-then-join-back form exchanges the big table on h twice
    val p = planOf("q148_passage_dedup")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 2,
      s"expected exactly two hash exchanges, got $exchanges:\n" + p.take(2000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "q148 must never compare documents pairwise")
  }

  test("q150 dispatch: dense path broadcasts the batch, sparse path never all-pairs") {
    // the gate fixture is the DENSE-vocab regime → bitmap kernel: the
    // pair stream is allowed only as a broadcast of the ingest batch
    // (BroadcastNestedLoopJoin with the batch side broadcast IS the
    // contract — a 3-instruction popcount kernel per pair); a
    // shuffle-partitioned cartesian is not, and no token-explosion
    // join may appear anywhere in the plan
    val p = planOf("q150_ingest_dedup")
    assert(!p.contains("CartesianProduct"),
      "q150 plans a shuffle cartesian:\n" + p.take(2000))
    assert(p.contains("BroadcastNestedLoopJoin"),
      "dense path lost the broadcast pair kernel:\n" + p.take(2000))
    // the SPARSE path (wide vocab) must keep the old contract: token
    // joins only, never a pairwise enumeration
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val wide = (1L to 40L).map(id => (id,
      (0 until 30).map(j => s"tok_${(id * 31 + j * 7) % 997}").mkString(" ")))
    def tokOf(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
      .select(col("doc_id"), explode(array_distinct(
        graft.operators.TextOps.tokens(col("text")))).as("tok"))
    val sparse = graft.operators.Dedup.jaccardPairsAcrossTokens(
      tokOf(wide.filter(_._1 % 5 == 0)), tokOf(wide.filter(_._1 % 5 != 0)), 0.5)
    val sp = sparse.queryExecution.executedPlan.toString
    assert(!sp.contains("CartesianProduct") && !sp.contains("BroadcastNestedLoopJoin"),
      "sparse path plans a pairwise comparison:\n" + sp.take(2000))
  }

  test("q151: every funnel stage reuses the user_id partitioning") {
    // stage joins and stage aggs are all keyed on user_id — after the
    // first per-key exchanges the co-partitioned joins must not add
    // data-sized re-shuffles (broadcast of the three 1-row counts is fine)
    val p = planOf("q151_funnel")
    assert(!p.contains("CartesianProduct"),
      "q151 plans a cartesian beyond the 1-row count joins:\n" + p.take(2000))
    assert(p.contains("partial_min") || p.contains("partial_count"),
      "funnel stage aggregation lost map-side combine:\n" + p.take(2000))
  }

  test("dynamic partition pruning: a dim filter prunes fact partitions") {
    // the 100 TB layout contract: facts partitioned on the join key
    // (PropertyGraph.save partitions edges by relType the same way)
    // must let Catalyst skip whole partitions from a dimension filter
    // at RUNTIME — reading all partitions and filtering after the
    // join would scan the full corpus for a one-nation query.
    import org.apache.spark.sql.functions.col
    val s = spark.newSession()
    Tables.customer(s, sf).write.mode("overwrite")
      .partitionBy("c_nationkey").format("parquet")
      .saveAsTable("cust_by_nation")
    val dim = Tables.nation(s, sf).where(col("n_name") === "NATION_3")
    val j = s.table("cust_by_nation")
      .join(dim, col("c_nationkey") === col("n_nationkey"))
    val p = j.queryExecution.executedPlan.toString()
    assert(p.toLowerCase.contains("dynamicpruning"),
      "no dynamic partition pruning on the partitioned fact scan:\n" + p.take(2000))
    assert(j.count() > 0)
  }

  test("runtime bloom filter: a selective dim prunes the fact shuffle") {
    // when the dim is too big to broadcast, a runtime bloom filter
    // built from the filtered dim keys must reach the fact side
    // BEFORE its shuffle — at 100 TB this is the difference between
    // shuffling the whole fact table and shuffling the matching slice.
    import org.apache.spark.sql.functions.col
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    val ord = Tables.orders(s, sf).where(col("o_orderstatus") === "P")
    val j = Tables.lineitem(s, sf)
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus").count()
    val p = j.queryExecution.optimizedPlan.toString()
    assert(p.contains("might_contain"),
      "no runtime bloom filter injected on the fact side:\n" + p.take(2000))
    assert(j.count() == 1)
  }

  test("q174: readability is a pure projection — zero exchanges") {
    val p = planOf("q174_readability")
    assert(!p.contains("Exchange"), "readability scoring plans a shuffle:\n" + p.take(2000))
  }

  test("q184/q176/q181: blocked joins plan no cartesian / nested loop") {
    for (q <- Seq("q184_fuzzy_join", "q176_link_prediction", "q181_ktruss")) {
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q plans a nested-loop join")
    }
  }

  test("q173: the bigram support floor applies before the unigram joins") {
    // the survivors (c_ab >= 10) must be filtered on the aggregate
    // BEFORE joining unigram counts — at 100 TB the unigram join must
    // see the tiny survivor set, not the full bigram table
    val df = SparkEntry.queries("q173_collocations")(spark, sf)
    val plan = df.queryExecution.optimizedPlan
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join}
    def joinsAboveSupportFilter(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
        seenJoin: Boolean): Boolean = p match {
      case f: Filter if f.condition.toString.contains("c_ab") => !seenJoin
      case j: Join => j.children.exists(joinsAboveSupportFilter(_, seenJoin = false))
      case other => other.children.exists(joinsAboveSupportFilter(_, seenJoin))
    }
    assert(joinsAboveSupportFilter(plan, seenJoin = true),
      "support floor not below every unigram join:\n" + plan.toString.take(2000))
  }

  test("q175/q189/q190: event windows reuse one keyed exchange, no global sort") {
    for (q <- Seq("q189_gap_scan", "q190_twap")) {
      val p = planOf(q)
      // a window keyed by user/event_type must hash-partition, never
      // range-partition the whole stream through a global sort
      assert(!p.contains("rangepartitioning"),
        s"$q plans a global range partitioning:\n" + p.take(2000))
    }
  }

  test("q196: the partitioned sink's re-read prunes partitions at planning time") {
    val out = java.nio.file.Files.createTempDirectory("graft-plan-q196").toString + "/li"
    graft.sources.Tabular.writePartitioned(
      Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity",
        "l_returnflag", "l_linestatus"),
      out, Seq("l_returnflag"))
    val df = spark.read.parquet(out)
      .where(org.apache.spark.sql.functions.col("l_returnflag") === "R")
    val p = df.queryExecution.executedPlan.toString()
    assert(p.contains("PartitionFilters: [") && p.contains("l_returnflag"),
      "no partition filter on the partitioned scan:\n" + p.take(2000))
  }

  test("q201: CDC merge runs on ONE exchange — windows and final agg share the key") {
    val p = planOf("q201_cdc_merge")
    val nExchanges = "(?<!Broadcast)Exchange".r.findAllIn(p).length
    assert(nExchanges <= 1,
      s"CDC merge shuffles events more than once:\n" + p.take(3000))
  }

  test("q197: the SQL front end still picks broadcast joins and partial aggs") {
    val p = planOf("q197_sql_frontend")
    assert(p.contains("BroadcastHashJoin"),
      "SQL-text plan lost broadcast dimension joins:\n" + p.take(2000))
    assert(p.contains("partial_"), "SQL-text plan lost map-side combine")
  }

  test("q187: centroid build aggregates partially before its one shuffle") {
    val p = planOf("q187_centroid_distances")
    assert(p.contains("partial_"), "no map-side combine in centroid build:\n" + p.take(2000))
    assert(!p.contains("CartesianProduct"), "centroid pair join is cartesian")
  }

  test("NO gate plans an unpartitioned Window over a data-sized input (whitelist: bounded-domain only)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    // An unpartitioned Window funnels its whole input through ONE
    // task — fatal at 100 TB. Gates here are allowed one ONLY over a
    // bounded-domain table: each whitelisted site windows a table
    // whose size is fixed by construction, never by the data volume.
    val whitelist = Map(
      // GlobalRank offset tables: one row per shuffle partition
      "q125_window_ranks" -> "GlobalRank stats (≤ shuffle partitions rows)",
      "q192_quantile_normalize" -> "GlobalRank stats (≤ shuffle partitions rows)",
      "q193_rfm" -> "GlobalRank stats ×3 (≤ shuffle partitions rows each)",
      "q206_temporal_split" -> "GlobalRank stats (≤ shuffle partitions rows)",
      // permutation statistics: |samples|² distance matrices / per-
      // permutation scalars — bounded by the experiment design
      "q133_anosim_portable" -> "per-permutation scalar stats",
      "q134_permdisp_portable" -> "per-permutation scalar stats",
      // cumulative sums over fixed bucket / vocab / CDF-step domains
      "q164_vocab_coverage" -> "top-k vocabulary cumsum (k fixed)",
      "q227_ks_drift" -> "CDF steps over the distinct-value domain",
      "q247_hist_quantiles" -> "nBuckets cumsum (nBuckets fixed)",
      "q256_quantile_bins" -> "nBuckets cumsum (nBuckets fixed)",
      "q259_qdigest_quantiles" -> "q-digest post-order pick (sketch ≤ ~2k·levels entries)",
      "q263_stream_qdigest" -> "q-digest post-order pick over the stream-maintained cells",
      // a 25-row VALUES-pinned dimension
      "q85_permutation" -> "fixed 25-row nation permutation")
    // q265 exists to EXERCISE the GlobalRankWindowRule: at gate-scale
    // data the window rewrites away entirely; at this spec's tiny sf
    // the size threshold deliberately keeps the stock plan, so the
    // law here is "forcing the threshold down removes the window"
    Session.withConf(spark, "spark.graft.globalrank.minbytes" -> "1") {
      val forced = SparkEntry.queries("q265_global_rank_sql")(spark, sf)
        .queryExecution.optimizedPlan
        .collect { case w: LWindow if w.partitionSpec.isEmpty => w }
      // the rewrite's own offset window over the per-pid Aggregate
      // (≤ shuffle-partitions rows) is the only one allowed to stay
      forced.foreach { w =>
        assert(w.child.collectFirst { case a: Aggregate => a }.isDefined,
          "GlobalRankWindowRule did not rewrite q265's data-sized window")
      }
    }
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    for (name <- SparkEntry.queries.keys.toSeq.sorted
         if name != "q265_global_rank_sql") {
      val wins = try {
        SparkEntry.queries(name)(spark, sf).queryExecution.optimizedPlan
          .collect { case w: LWindow if w.partitionSpec.isEmpty => w }
      } catch { case e: Exception =>
        fail(s"$name failed to build a plan: ${e.getMessage}")
      }
      if (wins.nonEmpty) {
        if (!whitelist.contains(name))
          offenders += s"$name (${wins.length} unpartitioned windows, not whitelisted)"
        else if (name != "q85_permutation" && name != "q263_stream_qdigest") {
          // every whitelisted window must consume an AGGREGATED table
          // — group-domain-bounded, not the raw input. Exceptions:
          // q85 (pinned 25-row dim) and q263 (the aggregation lives
          // in the STREAMING engine; the batch side reads its memory
          // sink — a leaf bounded by the declared q-digest domain)
          wins.foreach { w =>
            if (w.child.collectFirst { case a: Aggregate => a }.isEmpty)
              offenders += s"$name (whitelisted, but a window consumes a non-aggregated input)"
          }
        }
      }
    }
    assert(offenders.isEmpty,
      "data-sized single-task windows found:\n" + offenders.mkString("\n"))
  }
}
