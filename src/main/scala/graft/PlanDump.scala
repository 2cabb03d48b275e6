package graft

import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for named queries to files — the plan
  * evidence the optimization rounds commit under `plans/rNN/`.
  *
  * Usage: `runMain graft.PlanDump <sfDir> <outDir> <suffix> q1,q2,...`
  * writes `<outDir>/<query>_<suffix>.txt` per query. The session is
  * [[Session]]'s, as in graft.Bench, so the captured plan is the benched
  * plan.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix, names) = args
    val spark = Session("graft-plan-dump")
    new java.io.File(outDir).mkdirs()
    names.split(",").map(_.trim).filter(_.nonEmpty).foreach { name =>
      SparkEntry.queries.get(name) match {
        case Some(fn) =>
          try {
            val df = fn(spark, sfDir)
            val txt = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
            System.err.println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
          } catch { case e: Throwable =>
            System.err.println(s"[plandump] $name FAILED: $e")
          }
        case None => System.err.println(s"[plandump] unknown query: $name")
      }
    }
    spark.stop()
  }
}
