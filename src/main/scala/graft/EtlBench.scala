package graft

import java.nio.file.{Files, Paths, StandardOpenOption}

import graft.etl._

/** E4 twin of the reference's `benchmarks.py` scenario matrix: timed
  * full generate→transform→load runs (all file writes included) after
  * one 10-row warm-up, over rows × {all, all_but_xlsx} — the
  * reference's 10-scenario grid (`benchmarks.py:13-24`). Reporting
  * matches `benchmarks.py:66-82`: a per-run stderr table plus a
  * `benchmark_results.csv` artifact with columns
  * `rows,output_format,duration_seconds` (streamed per run, so partial
  * matrices survive an abort), plus the one-line JSON for automation.
  *
  * Knobs: `GRAFT_ETL_ROWS` (comma-separated, default the reference's
  * 1e3..1e7), `GRAFT_ETL_FORMATS` (default `all_but_xlsx,all`),
  * `GRAFT_ETL_CSV` (default `./benchmark_results.csv`).
  */
object EtlBench {
  def main(args: Array[String]): Unit = {
    val rowCounts = sys.env.getOrElse("GRAFT_ETL_ROWS",
      "1000,10000,100000,1000000,10000000")
      .split(",").map(_.trim.toLong).toSeq
    val formats = sys.env.getOrElse("GRAFT_ETL_FORMATS", "all_but_xlsx,all")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val csvPath = Paths.get(sys.env.getOrElse("GRAFT_ETL_CSV", "benchmark_results.csv"))
    val spark = Session("graft-etl-bench")

    val base = graft.util.Scratch.dir("graft_etl_bench")
    def run(rows: Long, format: String, out: String): Double = {
      val cfg = PipelineConfig(SourceConfig.Generate(rows),
        OutputConfig(s"$base/$out", format))
      // singleFile=false: a benchmark of the engine, not of coalesce(1)
      new Pipeline(spark, cfg, new WeatherSource.Stub(), singleFile = false)
        .run()._1
    }

    run(10, "preview", "warmup") // benchmarks.py:37-43

    Files.writeString(csvPath, "rows,output_format,duration_seconds\n")
    val results = for (n <- rowCounts; fmt <- formats) yield {
      val d = run(n, fmt, s"r${n}_$fmt")
      System.err.println(f"[etl-bench] $n%9d rows $fmt%-13s $d%8.2f s")
      Files.writeString(csvPath, f"$n,$fmt,$d%.3f%n",
        StandardOpenOption.APPEND)
      (n, fmt, d)
    }
    val qs = results.map { case (n, fmt, d) => s""""${n}_$fmt":$d""" }
      .mkString("{", ",", "}")
    println(s"""{"metric":"etl_matrix","unit":"sec","runs":$qs}""")
    spark.stop()
  }
}
