package graft.plans

import graft.{Session, SparkSpec}

/** FuzzyLevJoinRule: rewrite behavior (fires on no-equi levenshtein
  * joins, preserves exact multiset semantics including duplicate
  * input rows, leaves equi-joins and k > maxdist alone, honors the
  * kill switch) and the native deletion_variants expression's
  * equivalence with the HOF chain. */
class FuzzyJoinSpec extends SparkSpec {

  private def fixtures = {
    import spark.implicits._
    // kitten appears TWICE on the left: the rewrite must keep both
    // output pairs (multiset semantics), while variant multiplicity
    // (many shared variants per pair) must collapse
    // null strings must fall out exactly as the naive join drops them
    val a = Seq((1L, "kitten"), (2L, "kitten"), (3L, "sitting"),
      (4L, "abc"), (5L, "zzzz"), (6L, null)).toDF("aid", "aname")
    val b = Seq((10L, "mitten"), (11L, "kiten"), (12L, "sittin"),
      (13L, "abd"), (14L, "qqqq"), (15L, null)).toDF("bid", "bname")
    (a, b)
  }

  test("rule rewrites a SQL levenshtein join off the nested-loop path, exact multiset") {
    val (a, b) = fixtures
    a.createOrReplaceTempView("fz_a")
    b.createOrReplaceTempView("fz_b")
    for (k <- Seq(1, 2)) {
      val q = s"SELECT aid, bid FROM fz_a JOIN fz_b ON levenshtein(aname, bname) <= $k"
      val on = spark.sql(q)
      val phys = on.queryExecution.executedPlan.toString
      assert(!phys.contains("BroadcastNestedLoopJoin") &&
        !phys.contains("CartesianProduct"), s"k=$k not rewritten:\n$phys")
      assert(phys.contains("deletion_variants"), phys)
      val expect = Session.withConf(spark, "spark.graft.fuzzyjoin.enabled" -> "false") {
        val off = spark.sql(q)
        assert(!off.queryExecution.executedPlan.toString
          .contains("deletion_variants"))
        off.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      }
      val got = on.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(got == expect, s"k=$k")
      // duplicate left rows produce duplicate pairs, exactly once each
      if (k == 1) {
        assert(got.count(_ == (1L, 11L)) == 1 && got.count(_ == (2L, 11L)) == 1)
      }
    }
  }

  test("rule leaves equi-joins, k>2, strict-inequality shapes it can't serve, and disabled sessions alone") {
    val (a, b) = fixtures
    a.createOrReplaceTempView("fz_a")
    b.createOrReplaceTempView("fz_b")
    // equi-conjunct present → native hash join, no rewrite
    val equi = spark.sql(
      "SELECT aid, bid FROM fz_a JOIN fz_b ON aid = bid AND levenshtein(aname, bname) <= 1")
    assert(!equi.queryExecution.executedPlan.toString.contains("deletion_variants"))
    // k = 3 exceeds the neighborhood the rule will plant
    val k3 = spark.sql(
      "SELECT aid, bid FROM fz_a JOIN fz_b ON levenshtein(aname, bname) <= 3")
    assert(!k3.queryExecution.executedPlan.toString.contains("deletion_variants"))
    // levenshtein < 3 normalizes to <= 2 and DOES rewrite
    val lt3 = spark.sql(
      "SELECT aid, bid FROM fz_a JOIN fz_b ON levenshtein(aname, bname) < 3")
    assert(lt3.queryExecution.executedPlan.toString.contains("deletion_variants"))
    import spark.implicits._
    val naive = fixtures._1.crossJoin(fixtures._2)
      .where(levenshtein($"aname", $"bname") < 3)
      .select("aid", "bid").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(lt3.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq == naive)
  }

  test("rule handles derived string expressions (case-insensitive fuzzy join)") {
    import spark.implicits._
    val a = Seq((1L, "KITTEN"), (2L, "Abc")).toDF("aid", "aname")
    val b = Seq((10L, "kitten"), (11L, "abd"), (12L, "zzz")).toDF("bid", "bname")
    a.createOrReplaceTempView("fzl_a")
    b.createOrReplaceTempView("fzl_b")
    val q = "SELECT aid, bid FROM fzl_a JOIN fzl_b " +
      "ON levenshtein(lower(aname), lower(bname)) <= 1"
    val on = spark.sql(q)
    assert(on.queryExecution.executedPlan.toString.contains("deletion_variants"))
    val got = on.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 10L), (2L, 11L)))
  }

  test("rule declines float/double outputs and shuffled children (retry/normalization hazards)") {
    import spark.implicits._
    val a = Seq((1L, "kitten", 0.5f), (2L, "abc", -0.0f)).toDF("aid", "aname", "ascore")
    val b = Seq((10L, "mitten"), (11L, "abd")).toDF("bid", "bname")
    a.createOrReplaceTempView("fzh_a")
    b.createOrReplaceTempView("fzh_b")
    // float output column: grouping would canonicalize -0.0/NaN → no rewrite
    val withFloat = spark.sql(
      "SELECT aid, bid, ascore FROM fzh_a JOIN fzh_b ON levenshtein(aname, bname) <= 1")
    assert(!withFloat.queryExecution.executedPlan.toString.contains("deletion_variants"))
    // float present in the table but NOT in the join output → fires
    val pruned = spark.sql(
      "SELECT aid, bid FROM fzh_a JOIN fzh_b ON levenshtein(aname, bname) <= 1")
    assert(pruned.queryExecution.executedPlan.toString.contains("deletion_variants"))
    // a shuffle beneath a side makes MonotonicallyIncreasingID tags
    // retry-unstable → the rule now switches to the deterministic
    // content-count shape (round-9 ask #8) instead of declining:
    // still off the nested-loop path, and the re-expansion marker
    // (__graft_copy) proves which shape fired
    val shuffledSql =
      """SELECT g.aname, bid FROM
        |  (SELECT aname, count(*) AS n FROM fzh_a GROUP BY aname) g
        |JOIN fzh_b ON levenshtein(g.aname, bname) <= 1""".stripMargin
    val shuffled = spark.sql(shuffledSql)
    val sPlan = shuffled.queryExecution.optimizedPlan.toString
    assert(sPlan.contains("deletion_variants") && sPlan.contains("__graft_copy"),
      s"shuffled child did not take the content-count rewrite:\n$sPlan")
    assert(!shuffled.queryExecution.executedPlan.toString
      .contains("BroadcastNestedLoopJoin"))
    assert(shuffled.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("kitten", 10L), ("abc", 11L)))
    // the old decline behavior stays available behind the conf
    Session.withConf(spark, "spark.graft.fuzzyjoin.shuffledchildren" -> "false") {
      assert(!spark.sql(shuffledSql).queryExecution.optimizedPlan.toString
        .contains("deletion_variants"))
    }
  }

  /** The shuffled-child multiset law (round-9 verdict ask #8): with
    * duplicate rows arriving THROUGH an exchange on both sides, the
    * content-count rewrite must reproduce the nested-loop join's
    * exact output multiset — countL·countR copies per qualifying
    * pair, no variant inflation, no tag instability. */
  test("shuffled children: content-count rewrite preserves the exact multiset incl. duplicates") {
    import spark.implicits._
    // kitten ×2 left, mitten ×3 right → the (kitten, mitten) pair
    // must appear exactly 6 times, each side downstream of a shuffle
    Seq("kitten", "kitten", "sitting", "abc")
      .toDF("ls").repartition(4, $"ls").createOrReplaceTempView("fzs_l")
    Seq("mitten", "mitten", "mitten", "abd", "qqqq")
      .toDF("rs").repartition(3, $"rs").createOrReplaceTempView("fzs_r")
    val q = "SELECT ls, rs FROM fzs_l JOIN fzs_r ON levenshtein(ls, rs) <= 1"
    val on = spark.sql(q)
    val oPlan = on.queryExecution.optimizedPlan.toString
    assert(oPlan.contains("__graft_copy"), s"count shape did not fire:\n$oPlan")
    def multiset(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getString(0), r.getString(1)))
        .groupBy(identity).view.mapValues(_.length).toMap
    val got = multiset(on.collect())
    val want = Session.withConf(spark, "spark.graft.fuzzyjoin.enabled" -> "false") {
      multiset(spark.sql(q).collect())
    }
    assert(got == want, s"multiset diverged: $got vs $want")
    assert(got(("kitten", "mitten")) == 6)
  }

  /** k=2 takes the deletion-count CHANNEL shape (position-tagged
    * pre-hashed variants, aligned-pos key on the (2,2) channel) —
    * pin that the tagged kernel fired and that both multiset shapes
    * survive channel overlap (one pair reachable through several
    * channels must still appear exactly once per input-row pair). */
  test("k=2 channel rewrite: tagged kernel fires, exact multiset on both shapes") {
    import spark.implicits._
    // kitten ×2 and a 2-substitution pair (kitten/bitten ed=1,
    // kitten/bitter ed=2 via 2 subs — the (2,2)-channel-only shape)
    Seq((1L, "kitten"), (2L, "kitten"), (3L, "bitter"), (4L, "axc"))
      .toDF("aid", "aname").createOrReplaceTempView("fzk_a")
    Seq((10L, "bitten"), (11L, "kitten"), (12L, "abcde"))
      .toDF("bid", "bname").createOrReplaceTempView("fzk_b")
    val q = "SELECT aid, bid FROM fzk_a JOIN fzk_b ON levenshtein(aname, bname) <= 2"
    val on = spark.sql(q)
    val oPlan = on.queryExecution.optimizedPlan.toString
    assert(oPlan.contains("deletion_variants_tagged"),
      s"k=2 did not take the channel shape:\n$oPlan")
    assert(!on.queryExecution.executedPlan.toString
      .contains("BroadcastNestedLoopJoin"))
    def multiset(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(identity).view.mapValues(_.length).toMap
    val got = multiset(on.collect())
    val want = Session.withConf(spark, "spark.graft.fuzzyjoin.enabled" -> "false") {
      multiset(spark.sql(q).collect())
    }
    assert(got == want, s"k=2 multiset diverged: $got vs $want")
    // kitten→bitter is 2 substitutions: found ONLY via the aligned
    // (2,2) channel, exactly once per duplicate left row
    assert(got((1L, 10L)) == 1 && got((3L, 11L)) == 1)
    // shuffled-children (content-count) shape at k=2, duplicates ×2×3
    Seq("kitten", "kitten", "bitter").toDF("ls")
      .repartition(3, $"ls").createOrReplaceTempView("fzk_l")
    Seq("bitten", "bitten", "bitten", "kitten").toDF("rs")
      .repartition(2, $"rs").createOrReplaceTempView("fzk_r")
    val q2 = "SELECT ls, rs FROM fzk_l JOIN fzk_r ON levenshtein(ls, rs) <= 2"
    val on2 = spark.sql(q2)
    val oPlan2 = on2.queryExecution.optimizedPlan.toString
    assert(oPlan2.contains("deletion_variants_tagged") &&
      oPlan2.contains("__graft_copy"), s"count+channel shape did not fire:\n$oPlan2")
    def multisetS(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getString(0), r.getString(1)))
        .groupBy(identity).view.mapValues(_.length).toMap
    val got2 = multisetS(on2.collect())
    val want2 = Session.withConf(spark, "spark.graft.fuzzyjoin.enabled" -> "false") {
      multisetS(spark.sql(q2).collect())
    }
    assert(got2 == want2, s"k=2 shuffled multiset diverged: $got2 vs $want2")
    assert(got2(("kitten", "bitten")) == 6)
  }

  test("deletion_variants native expression == HOF chain, order and values") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.operators.Dedup
    val df = (Seq("kitten", "", "a", "ab", "aaa", "héllo", "日本語テスト",
      "Customer#000000042") ++ (1 to 50).map(i => s"w$i$i")).toDF("s")
    for (k <- Seq(1, 2)) {
      val rows = df.select(
        Dedup.deletionVariants(col("s"), k).as("n"),
        Dedup.deletionVariantsRelational(col("s"), k).as("r")).collect()
      rows.foreach { r =>
        assert(r.getSeq[String](0) == r.getSeq[String](1),
          s"k=$k mismatch for variants")
      }
    }
  }

  private def levenshtein(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column) =
    org.apache.spark.sql.functions.levenshtein(a, b)
}
