package graft.etl

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.sources.Readers

/** O1 — Extract → Transform → Load orchestration, mirroring
  * `/root/reference/supercourier_etl/pipeline.py:21-63`. Pure
  * `DataFrame => DataFrame` composition via `Dataset.transform`; the Spark
  * UI/listeners replace the reference's rich progress bars.
  */
final class Pipeline(
    spark: SparkSession,
    config: PipelineConfig,
    weather: WeatherSource = new WeatherSource.Stub(),
    singleFile: Boolean = true) {

  /** E-step (`core/extract.py:34-80`): generate or read, then the
    * normalization cast (S8). A file is read against the 6-column
    * [[DeliveryRecord]] contract, so a CSV with the contract's header skips
    * schema inference (see [[Readers.csv]]).
    */
  def extract(): DataFrame = {
    val raw = config.source match {
      case SourceConfig.Generate(rows, seed) => Generator.deliveries(spark, rows, seed)
      case SourceConfig.File(path)           => Readers.read(spark, path, Some(Pipeline.Contract))
    }
    Readers.normalizeTimestamps(raw)
  }

  /** T-step: one `collect` of the rows per pickup date (A2 — a
    * deliberate materialization; ≤ 31 rows for generated data, bounded by
    * the date range not the data volume). It answers two questions in one
    * aggregate: no group back means the input is empty, which returns `df`
    * unchanged like the reference's short-circuit (`core/transform.py:44-45`)
    * with no `isEmpty` job of its own; otherwise the non-null dates feed the
    * weather source, whose table broadcast-joins back (J1) in the lazy
    * [[Transform.stages]] chain. Rows without a pickup date fall in the
    * null group and take the left join's null weather, like the
    * reference's dropped dates.
    */
  def transform(df: DataFrame): DataFrame = {
    val perDate = df.groupBy(to_date(col("Pickup_DateTime"))).count().collect()
    if (perDate.isEmpty) df
    else {
      val dates = perDate.toSeq.filterNot(_.isNullAt(0))
        .map(_.getDate(0).toLocalDate)
        .sorted(Ordering.by[LocalDate, Long](_.toEpochDay))
      Transform.stages(WeatherSource.toDF(spark, weather, dates))(df)
    }
  }

  /** Full run; returns (wall-clock seconds, load result) like the
    * reference's timed `Pipeline.run()` (`pipeline.py:23,58-63`). The
    * output format is checked before any job runs; the manifest's
    * `stage_seconds` opens with `extract` (schema inference, for a file
    * source without the contract's header) and `transform` (the date
    * collect and the weather lookup).
    */
  def run(): (Double, Load.LoadResult) = {
    val t0 = System.nanoTime()
    config.output.formats // a bad selection fails here, before inference
    val (raw, extractS) = Load.timed(extract())
    val (transformed, transformS) = Load.timed(transform(raw))
    val result = Load.load(transformed, config, singleFile,
      upstreamSeconds = Seq("extract" -> extractS, "transform" -> transformS))
    ((System.nanoTime() - t0) / 1e9, result)
  }
}

object Pipeline {
  /** The input contract's schema (PAPER §1.2, FIXTURES A.1). */
  val Contract: StructType = Encoders.product[DeliveryRecord].schema
}
