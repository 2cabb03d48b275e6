package graft.etl

/** O5 — typed config mirroring the reference's nested dict
  * (`/root/reference/supercourier_etl/main.py:56-59,73-81`).
  */
sealed trait SourceConfig
object SourceConfig {
  /** `{source: {type: "generate", rows: N}}` */
  final case class Generate(rows: Long, seed: Long = 42L) extends SourceConfig
  /** `{source: {type: "file", path: p}}` */
  final case class File(path: String) extends SourceConfig
}

/** `{output: {path, format}}` — format ∈ the reference's 8 choices:
  * csv | json | parquet | sqlite | xlsx | all | all_but_xlsx | preview
  * (`core/load.py:54-72`).
  */
final case class OutputConfig(path: String, format: String) {
  /** The sinks `format` names ([[Load.resolveFormats]]), resolved once;
    * throws `IllegalArgumentException` on an empty or unknown selection.
    */
  lazy val formats: Seq[String] = Load.resolveFormats(format)
}

final case class PipelineConfig(source: SourceConfig, output: OutputConfig)
