package graft

/** The table loaders read each schema from the file's footer on the
  * driver: no load launches a Spark job, and every schema is the one
  * Spark's own inference reports. */
class TablesSpec extends SparkSpec {

  private val loaders: Seq[(String, (org.apache.spark.sql.SparkSession, String) =>
      org.apache.spark.sql.DataFrame)] = Seq(
    "region" -> Tables.region, "nation" -> Tables.nation,
    "customer" -> Tables.customer, "supplier" -> Tables.supplier,
    "part" -> Tables.part, "orders" -> Tables.orders,
    "lineitem" -> Tables.lineitem, "events" -> Tables.events,
    "documents" -> Tables.documents, "embeddings" -> Tables.embeddings)

  test("every table loads with no job, under the schema Spark infers") {
    for ((name, load) <- loaders) {
      val (df, jobs) = jobsOf(load(spark, sf))
      assert(jobs.isEmpty, s"$name: ${jobs.size} job(s) to load")
      val inferred = spark.read.parquet(s"$sf/$name.parquet")
      val want = if (name == "events") Tables.normalizeEventTs(inferred) else inferred
      assert(df.schema == want.schema, s"$name: ${df.schema} vs ${want.schema}")
    }
  }

  test("the footer schema of events equals Spark's under both nanosAsLong settings") {
    for (v <- Seq("true", "false"))
      Session.withConf(spark, "spark.sql.legacy.parquet.nanosAsLong" -> v) {
        val p = s"$sf/events.parquet"
        assert(operators.MetaIO.footerSchema(spark, p) == spark.read.parquet(p).schema,
          s"nanosAsLong=$v")
      }
  }
}
