package graft

import org.apache.spark.sql.SparkSession

/** The one place a `SparkSession` is built. Every main (Verify, Bench,
  * the CLI, the API, the stress benches) and the spec suite get the same
  * shape: UTC session time, no UI, the engine's SQL functions and
  * optimizer rules (`graft.plans.GraftExtensions`), the ns-parquet shim,
  * and `local[cpus]` with one shuffle partition per core. Adaptive query
  * execution is Spark 4's default and is left at it.
  */
object Session {

  /** Local cores: `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  private lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Returns the running session if there is one (its static confs are
    * fixed by whoever built it), else builds one. `SPARK_MASTER`
    * overrides the local master for a deployment.
    */
  def apply(appName: String, cores: Int = cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cores]"))
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // testdata once carried TIMESTAMP(NANOS); harmless on µs files
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
