package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft SparkSession is configured: `Bench`, `Verify`,
  * `Probe` and the test suite all start from [[local]], so their
  * settings cannot drift apart. */
object GraftSession {
  /** A `local[cpus]` session with one shuffle partition per core;
    * `cpus` defaults to `SPARK_GRAFT_CPUS`, else 4. */
  def local(cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // ObjectHashAggregateExec falls back to SORT-BASED aggregation at
      // 128 distinct keys per partition (the default is sized for huge
      // per-key state like collect_list) — BoundedTopK's per-group
      // state is O(k), so the map is the cheap part; without this the
      // partial top-k silently degrades into the full-partition sort
      // it exists to avoid (measured 260x at the x10 kNN edge build)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", (1 << 22).toString)
      .config("spark.sql.session.timeZone", "UTC")
      // ContextCleaner only reclaims shuffle files/broadcasts when the
      // driver GCs; with a large heap that never happens inside a long
      // session (default periodicGC is 30min), so state from earlier
      // queries piles up and slows later ones
      .config("spark.cleaner.periodicGC.interval", "60s")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Drop every cached table and persisted RDD, so back-to-back timed
    * runs measure the query, not state an earlier run left behind. */
  def resetCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  /** Run `body` with the session conf keys set to the given values,
    * then restore each key to its prior value, or unset it if it was
    * unset — also when `body` throws. */
  def withConf[A](spark: SparkSession, kvs: (String, String)*)(body: => A): A = {
    val prior = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      kvs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
