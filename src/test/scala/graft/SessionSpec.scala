package graft

/** [[Session.build]]'s settings reach the shared test session, and
  * [[Session.withConf]] leaves the conf as it found it, whether its body
  * returns or throws. */
class SessionSpec extends SparkSpec {

  test("the shared test session carries the builder's settings") {
    val sc = spark.sparkContext
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(sc.getConf.get("spark.ui.enabled") == "false" && sc.uiWebUrl.isEmpty)
    assert(sc.getConf.get("spark.cleaner.periodicGC.interval") == "30s")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.sql("SELECT cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D))")
      .head().getDouble(0) == 1.0)
  }

  private val setKey = "spark.sql.files.maxPartitionBytes"
  private val unsetKey = "spark.graft.test.session.unset"

  private def scoped(body: => Unit): Unit =
    Session.withConf(spark, setKey -> "1", unsetKey -> "on") {
      assert(spark.conf.get(setKey) == "1" && spark.conf.get(unsetKey) == "on")
      body
    }

  test("withConf restores a key that was set and a key that was unset") {
    Session.withConf(spark, setKey -> "7MB") {
      assert(!spark.conf.getAll.contains(unsetKey))
      scoped(())
      assert(spark.conf.get(setKey) == "7MB")
      assert(!spark.conf.getAll.contains(unsetKey))
    }
  }

  test("withConf restores both keys when its body throws") {
    Session.withConf(spark, setKey -> "7MB") {
      val e = intercept[IllegalStateException](scoped(throw new IllegalStateException("boom")))
      assert(e.getMessage == "boom")
      assert(spark.conf.get(setKey) == "7MB")
      assert(!spark.conf.getAll.contains(unsetKey))
    }
  }
}
