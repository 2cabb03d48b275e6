package graft

/** [[Session]]'s shape, read from a fresh session on the shared context so
  * no other suite's runtime conf changes leak in. */
class SessionSpec extends SparkSpec {

  test("Session: UTC, no UI, the engine's extensions, one shuffle partition per core") {
    val conf = spark.newSession().conf
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.extensions") == "graft.plans.GraftExtensions")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.master == sys.env.getOrElse("SPARK_MASTER", "local[4]"))
  }

  test("Session leaves adaptive execution at Spark 4's default, on") {
    assert(!spark.sparkContext.getConf.contains("spark.sql.adaptive.enabled"))
    assert(spark.newSession().conf.get("spark.sql.adaptive.enabled") == "true")
  }

  test("graft_kll_agg resolves in SQL with no registration call") {
    val median = spark.newSession().sql(
      "SELECT graft_kll_quantile(graft_kll_agg(CAST(id AS DOUBLE), 1024), 0.5) FROM range(101)")
      .head().getDouble(0)
    assert(math.abs(median - 50.0) <= 1.0, median)
  }
}
