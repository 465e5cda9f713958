package graft

/** The session factory is the one source of session settings (the
  * build passes no `-Dspark.*` flags), and [[GraftSession.withConf]]
  * leaves the session conf exactly as it found it. */
class GraftSessionSpec extends SparkSpec {
  test("the shared session carries UTC, the aggregate fallback threshold and no UI") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.objectHashAggregate.sortBased.fallbackThreshold") ==
      (1 << 22).toString)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
  }

  test("withConf restores a set key and unsets an unset one") {
    val set = "spark.graft.test.preset"
    val unset = "spark.graft.test.unset"
    spark.conf.set(set, "before")
    try {
      val seen = GraftSession.withConf(spark, set -> "during", unset -> "x") {
        (spark.conf.get(set), spark.conf.get(unset))
      }
      assert(seen == ("during", "x"))
      assert(spark.conf.get(set) == "before")
      assert(spark.conf.getOption(unset).isEmpty)
    } finally spark.conf.unset(set)
  }

  test("withConf restores both keys when the body throws") {
    val set = "spark.graft.test.preset"
    val unset = "spark.graft.test.unset"
    spark.conf.set(set, "before")
    try {
      val e = intercept[IllegalStateException] {
        GraftSession.withConf(spark, set -> "during", unset -> "x") {
          throw new IllegalStateException("boom")
        }
      }
      assert(e.getMessage == "boom")
      assert(spark.conf.get(set) == "before")
      assert(spark.conf.getOption(unset).isEmpty)
    } finally spark.conf.unset(set)
  }
}
