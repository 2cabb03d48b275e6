package graft.etl

import java.nio.file.{Files, Paths}
import java.time.Instant
import java.util.concurrent.{CompletableFuture, Executors}

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions.{count, lit}
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
    * An empty selection (`""`, `" , "`) and any name that is not a sink
    * are rejected; `preview` is valid only alone.
    */
  def resolveFormats(format: String): Seq[String] = {
    val formats = format match {
      case "all"          => AllFormats
      case "all_but_xlsx" => AllFormats.filterNot(_ == "xlsx")
      case other =>
        other.split(",").toSeq.map(_.trim).filter(_.nonEmpty).distinct
          .map { case "db" => "sqlite"; case f => f }
    }
    require(formats.nonEmpty, s"No output format selected: '$format'")
    if (formats != Seq("preview"))
      formats.filterNot(AllFormats.contains).headOption.foreach { f =>
        throw new IllegalArgumentException(s"Unsupported output format: $f")
      }
    formats
  }

  final case class LoadResult(rows: Long, columns: Seq[String], manifestPath: Option[String])

  /** Write `df` to every resolved format + the run manifest.
    *
    * Format names are checked before any job runs, so an empty or bad
    * selection (`""`, `"csv,bogus"`) leaves no partial output behind.
    *
    * One format: the write counts its own rows, so the lineage runs once,
    * unpersisted. csv, json and parquet observe a `count` on the written
    * frame (`Dataset.observe`); xlsx counts the rows it streams. sqlite is
    * the exception: the JDBC writer saves through a second, internal
    * execution, so an observation on its input reports 0 rows whatever
    * it wrote (as it does for xlsx's `toLocalIterator`) — a single sqlite
    * sink keeps a separate `count()` before its write.
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
    * The manifest's `stage_seconds` records `upstreamSeconds` (the
    * caller's own stages, `Pipeline.run`'s extract and transform), then
    * the wall seconds of the fan-out count (`materialize`) and of each
    * sink.
    */
  def load(
      df: DataFrame,
      config: PipelineConfig,
      singleFile: Boolean = true,
      jdbcUrlFor: String => String = p => s"jdbc:derby:$p;create=true",
      now: () => Instant = () => Instant.now(),
      upstreamSeconds: Seq[(String, Double)] = Nil): LoadResult = {
    val out = config.output
    val formats = out.formats

    if (formats == Seq("preview")) {
      Writers.preview(df)
      return LoadResult(df.count(), df.columns.toSeq, None)
    }

    /** Writes one sink; `Some(rows)` where the sink counts what it wrote (xlsx). */
    def write(format: String, frame: DataFrame): Option[Long] = format match {
      case "csv"     => Writers.csv(frame, out.path + ".csv", singleFile); None
      case "json"    => Writers.ndjson(frame, out.path + ".json", singleFile); None
      case "parquet" => Writers.parquet(frame, out.path + ".parquet", singleFile); None
      case "sqlite"  => Writers.jdbc(frame, jdbcUrlFor(out.path)); None
      case "xlsx"    => Some(Writers.xlsx(frame, out.path + ".xlsx"))
    }

    /** One sink's write, returning the rows it wrote. */
    def writeCounted(format: String): Long = format match {
      case "sqlite" =>
        // an observation would read 0: the JDBC save runs its own execution
        val rows = df.count()
        write(format, df)
        rows
      case "xlsx" => write(format, df).get // the rows it streamed
      case _ =>
        val obs = Observation()
        write(format, df.observe(obs, count(lit(1)).as("rows")))
        obs.get("rows").asInstanceOf[Long]
    }

    val (rows, loadSeconds) =
      if (formats.size == 1) {
        val (rows, s) = timed(writeCounted(formats.head))
        (rows, Seq(formats.head -> s))
      } else {
        df.persist(StorageLevel.MEMORY_AND_DISK)
        try {
          val (rows, materializeS) = timed(df.count())
          val sinks = formats.map(f => f -> (() => { write(f, df); () }))
          (rows, ("materialize" -> materializeS) +: concurrently(sinks))
        } finally { df.unpersist(); () }
      }
    val manifest = writeManifest(df, config, rows, now(), upstreamSeconds ++ loadSeconds)
    LoadResult(rows, df.columns.toSeq, Some(manifest))
  }

  private[etl] def timed[T](body: => T): (T, Double) = {
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
