package graft.etl

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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
    * normalization cast (S8).
    */
  def extract(): DataFrame = {
    val raw = config.source match {
      case SourceConfig.Generate(rows, seed) => Generator.deliveries(spark, rows, seed)
      case SourceConfig.File(path)           => Readers.read(spark, path)
    }
    Readers.normalizeTimestamps(raw)
  }

  /** T-step: distinct pickup dates (A2 — a deliberate driver-side
    * materialization; ≤ 31 rows for generated data, bounded by the date
    * range not the data volume) feed the weather source, whose table
    * broadcast-joins back (J1). Rows without a pickup date get no weather
    * date, so they take the left join's null weather, like the
    * reference's dropped dates. An empty frame collects no dates.
    */
  def transform(df: DataFrame): DataFrame = {
    val dates: Seq[LocalDate] =
      df.select(to_date(col("Pickup_DateTime")).as("d"))
        .where(col("d").isNotNull)
        .distinct()
        .collect()
        .map(r => r.getDate(0).toLocalDate)
        .toSeq
        .sorted(Ordering.by[LocalDate, Long](_.toEpochDay))
    val weatherDf = WeatherSource.toDF(spark, weather, dates)
    Transform(weatherDf)(df)
  }

  /** Full run; returns (wall-clock seconds, load result) like the
    * reference's timed `Pipeline.run()` (`pipeline.py:23,58-63`).
    */
  def run(): (Double, Load.LoadResult) = {
    val t0 = System.nanoTime()
    val result = Load.load(transform(extract()), config, singleFile)
    ((System.nanoTime() - t0) / 1e9, result)
  }
}
