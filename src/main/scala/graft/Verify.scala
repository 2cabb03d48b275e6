package graft
import java.nio.file.{Files, Paths}
import graft.util.Json
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (dev loop);
    // the driver always passes exactly (sfDir, outDir)
    def usage(why: String) = new IllegalArgumentException(
      s"usage: graft.Verify <sfDir> <outDir> [query,query,...] ($why)")
    val (sfDir, outDir, only) = args match {
      case Array(a, b)    => (a, b, Option.empty[Set[String]])
      case Array(a, b, f) => (a, b, Some(f.split(",").toSet))
      case _ => throw usage(s"got ${args.length} arguments")
    }
    val unknown = only.getOrElse(Set.empty[String]) -- SparkEntry.queries.keySet
    if (unknown.nonEmpty)
      throw usage(s"unknown queries: ${unknown.toSeq.sorted.mkString(",")}")
    def selected(name: String): Boolean = only.forall(_.contains(name))
    val spark = Session("graft-verify")
    new java.io.File(outDir).mkdirs()
    // the plan-lint sweep rides the dump for free (every frame is
    // built here anyway): refreshes PLANLINT.json each gate run, so a
    // cartesian / global window / unbounded forced broadcast that
    // sneaks into a query surfaces in the driver round, not only in
    // the sbt-test sweep (PlanLintSpec)
    val lintHits = Seq.newBuilder[graft.plans.PlanLint.Hit]
    SparkEntry.queries
      .filter { case (name, _) => selected(name) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        try lintHits ++= graft.plans.PlanLint.lint(name, df)
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name lint skipped: ${e.getMessage}")
        }
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // full-surface runs refresh the repo artifact; filtered dev-loop
    // runs only report (a subset sweep must not shrink the record)
    val hits = lintHits.result()
    if (only.isEmpty)
      Files.writeString(Paths.get("PLANLINT.json"),
        graft.plans.PlanLint.report(hits) + "\n")
    if (hits.nonEmpty)
      System.err.println(s"[verify] PLAN LINT: ${hits.size} hits: " +
        hits.map(h => s"${h.query}/${h.rule}").mkString(", "))
    // Json.str escapes ALL control chars: a tab or CR in an oracle's SQL
    // would otherwise make the oracle compare's json.load fail. A
    // filtered run writes only its queries' oracles, so the compare
    // grades exactly what ran.
    val json = SparkEntry.oracleSql
      .filter { case (name, _) => selected(name) }
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
