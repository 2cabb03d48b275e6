package graft.etl

/** E1 — CLI entry point mirroring
  * `/root/reference/supercourier_etl/main.py:61-87`: `--generate-rows` XOR
  * `--source-file` (mutual exclusion enforced), `--output-path`,
  * `--output-format`. The interactive wizard (E2) is intentionally not
  * reproduced (SURVEY §7.3).
  */
object Cli {

  final case class Args(
      generateRows: Option[Long] = None,
      sourceFile: Option[String] = None,
      outputPath: String = "data/results",
      outputFormat: String = "csv")

  def parse(argv: Array[String]): Args = {
    @annotation.tailrec
    def go(rest: List[String], acc: Args): Args = rest match {
      case Nil => acc
      case "--generate-rows" :: n :: t  => go(t, acc.copy(generateRows = Some(n.toLong)))
      case "--source-file" :: p :: t    => go(t, acc.copy(sourceFile = Some(p)))
      case "--output-path" :: p :: t    => go(t, acc.copy(outputPath = p))
      case "--output-format" :: f :: t  => go(t, acc.copy(outputFormat = f))
      case other :: _ =>
        throw new IllegalArgumentException(s"Unknown argument: $other")
    }
    val a = go(argv.toList, Args())
    if (argv.isEmpty)
      // E2: no flags → interactive wizard, like the reference's fallback
      Wizard.run(
        new java.io.BufferedReader(new java.io.InputStreamReader(System.in)),
        System.out)
    else if (a.generateRows.isDefined == a.sourceFile.isDefined)
      throw new IllegalArgumentException(
        "Exactly one of --generate-rows and --source-file is required")
    else a
  }

  def toConfig(a: Args): PipelineConfig = {
    val source = (a.generateRows, a.sourceFile) match {
      case (Some(n), _) => SourceConfig.Generate(n)
      case (_, Some(p)) => SourceConfig.File(p)
      case _            => throw new IllegalStateException("unreachable")
    }
    PipelineConfig(source, OutputConfig(a.outputPath, a.outputFormat))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val spark = graft.Session("graft-etl")
    try {
      val weather = sys.env.get("WEATHERAPI_KEY") match {
        case Some(k) if k.nonEmpty && sys.env.contains("GRAFT_WEATHER_LIVE") =>
          new WeatherSource.Http(k)
        case _ => new WeatherSource.Stub()
      }
      val (secs, res) = new Pipeline(spark, toConfig(args), weather).run()
      println(f"Pipeline completed in $secs%.2f s: ${res.rows} rows × ${res.columns.length} cols")
    } finally spark.stop()
  }
}
