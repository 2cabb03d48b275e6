package graft.etl

import java.nio.file.{Files, Paths}
import java.sql.{DriverManager, SQLException}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.SparkException
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.types.DoubleType
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import graft.SparkSpec
import graft.sources.Readers

/** Integration test porting the reference's `tests/test_pipeline.py`:
  * 1-row CSV through the full pipeline → (1, 13) artifact + manifest;
  * plus the concurrent fan-out's contract (same data in every sink,
  * format check before any write, failure and cache handling, job tags).
  */
class PipelineSpec extends SparkSpec {

  /** FIXTURES A.5: the 13 output columns, in order. */
  private val ReferenceColumns = Seq(
    "Delivery_ID", "Pickup_DateTime", "Delivery_Timestamp", "Package_Type", "Distance",
    "Delivery_Zone", "Hour", "Weekday", "Weather_Condition", "Actual_Delivery_Time_Minutes",
    "Actual_Delivery_Time_Display", "Theoretical_Time_Minutes", "Status")

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** The Derby sink's database stays open after the write; close it so
    * its directory can be deleted. */
  private def closeDerby(path: String): Unit =
    try DriverManager.getConnection(s"jdbc:derby:$path;shutdown=true").close()
    catch { case _: SQLException => () }

  private def generated(dir: String, rows: Long, format: String): (PipelineConfig, DataFrame) = {
    val config = PipelineConfig(
      SourceConfig.Generate(rows, seed = 7L), OutputConfig(s"$dir/res", format))
    val p = new Pipeline(spark, config)
    (config, p.transform(p.extract()))
  }

  /** `stage_seconds` of a manifest, in order. */
  private def stageSeconds(manifest: String): Seq[(String, Double)] =
    """"stage_seconds": \{([^}]*)\}""".r.findFirstMatchIn(manifest)
      .map(m => """"([a-z]+)": ([0-9.E-]+)""".r.findAllMatchIn(m.group(1))
        .map(k => k.group(1) -> k.group(2).toDouble).toSeq)
      .getOrElse(fail(s"no stage_seconds in $manifest"))

  /** Runs `body` under a job tag; returns its result and, for every job
    * started while it ran, the job's name and whether it carried the tag.
    * Spark runs a SQL execution's jobs on its own threads; the execution's
    * description is the call site of the thread that started it, so jobs
    * are named by their execution where they have one.
    */
  private def jobsOf[T](body: => T): (T, Seq[(String, Boolean)]) = {
    val sc = spark.sparkContext
    val tag = s"pipeline-spec-${java.util.UUID.randomUUID()}"
    val fenceTag = s"$tag-fence"
    val sqlSites = new ConcurrentHashMap[Long, String]()
    val jobs = new ConcurrentLinkedQueue[(Int, Option[Long], String, Set[String])]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => sqlSites.put(s.executionId, s.description); ()
        case _                                 => ()
      }
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val props = Option(j.properties)
        val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        val tags = props.flatMap(p => Option(p.getProperty("spark.job.tags")))
          .fold(Set.empty[String])(_.split(",").toSet)
        jobs.add((j.jobId, exec.map(_.toLong), j.stageInfos.map(_.name).mkString(";"), tags)); ()
      }
    }
    // a one-task job under its own tag; job ids rise in submission order
    def fence(): Int = {
      sc.addJobTag(fenceTag)
      try sc.parallelize(Seq(1), 1).count() finally sc.removeJobTag(fenceTag)
      sc.statusTracker.getJobIdsForTag(fenceTag).max
    }
    sc.addSparkListener(listener)
    try {
      val from = fence()
      sc.addJobTag(tag)
      val result = try body finally sc.removeJobTag(tag)
      val to = fence()
      // the listener bus is asynchronous but ordered: once the closing
      // fence is seen, so is every job started before it
      result -> eventually(timeout(30.seconds), interval(100.millis)) {
        val all = jobs.asScala.toSeq
        assert(all.exists(_._1 == to))
        all.filter(j => j._1 > from && j._1 < to).map { case (_, exec, stages, tags) =>
          exec.flatMap(e => Option(sqlSites.get(e))).getOrElse(stages) -> tags(tag)
        }
      }
    } finally sc.removeSparkListener(listener)
  }

  private def withTempDir[T](f: String => T): T = {
    val dir = Files.createTempDirectory("graft_pipeline").toString
    try f(dir)
    finally {
      def rm(p: java.io.File): Unit = {
        if (p.isDirectory) p.listFiles().foreach(rm)
        p.delete(); ()
      }
      rm(new java.io.File(dir))
    }
  }

  private val fixtureCsv =
    """Delivery_ID,Pickup_DateTime,Delivery_Timestamp,Package_Type,Distance,Delivery_Zone
      |SC001,2025-09-05T10:00:00,2025-09-05T10:45:00,Small,5.0,Suburban
      |""".stripMargin

  test("1-row CSV end-to-end: csv output + manifest, shape (1, 13)") {
    withTempDir { dir =>
      val src = s"$dir/input.csv"
      Files.writeString(Paths.get(src), fixtureCsv)
      val config = PipelineConfig(
        SourceConfig.File(src), OutputConfig(s"$dir/out/results", "csv"))
      val (secs, res) = new Pipeline(spark, config,
        weather = WeatherSource.Disabled).run()
      assert(secs > 0)
      assert(res.rows == 1)
      assert(res.columns.length == 13)
      assert(res.columns.contains("Status"))
      assert(Files.exists(Paths.get(s"$dir/out/results.csv")))
      val manifest = Files.readString(Paths.get(s"$dir/out/results_manifest.json"))
      assert(manifest.contains(""""rows": 1"""))
      assert(manifest.contains(""""columns": 13"""))

      // the written CSV re-reads with 13 columns and 1 row
      val back = spark.read.option("header", "true").csv(s"$dir/out/results.csv")
      assert(back.columns.length == 13 && back.count() == 1)
    }
  }

  test("multi-format fan-out writes every format + one manifest") {
    withTempDir { dir =>
      val config = PipelineConfig(
        SourceConfig.Generate(rows = 200, seed = 7L),
        OutputConfig(s"$dir/res", "all_but_xlsx"))
      val (_, res) = new Pipeline(spark, config).run()
      assert(res.rows == 200)
      Seq("res.csv", "res.json", "res.parquet").foreach { p =>
        assert(Files.exists(Paths.get(s"$dir/$p")), p)
      }
      // fan-out reuses one cached frame: csv and json must hold the SAME
      // seeded data (SURVEY §4.2 top pitfall)
      val csvIds = spark.read.option("header", "true").csv(s"$dir/res.csv")
        .select("Delivery_ID").collect().map(_.getString(0)).toSet
      val jsonIds = spark.read.json(s"$dir/res.json")
        .select("Delivery_ID").collect().map(_.getString(0)).toSet
      assert(csvIds == jsonIds && csvIds.size == 200)
    }
  }

  test("all: concurrent sinks hold the same rows; manifest times every stage") {
    withTempDir { dir =>
      val (config, df) = generated(dir, 300, "all")
      val out = config.output.path
      try {
        val res = Load.load(df, config)
        assert(res.rows == 300)
        val sinks = Seq(
          "csv"     -> Readers.csv(spark, s"$out.csv"),
          "json"    -> Readers.json(spark, s"$out.json"),
          "parquet" -> Readers.parquet(spark, s"$out.parquet"),
          "sqlite"  -> Readers.jdbc(spark, s"jdbc:derby:$out"),
          "xlsx"    -> Readers.xlsx(spark, s"$out.xlsx"))
        val got = sinks.map { case (f, back) =>
          val ids = back.select("Delivery_ID").collect().map(_.getString(0)).toSet
          val status = back.groupBy("Status").count().collect()
            .map(r => r.getString(0) -> r.getLong(1)).toMap
          f -> (ids, status)
        }
        assert(got.head._2._1.size == 300)
        got.tail.foreach { case (f, v) => assert(v == got.head._2, f) }

        val manifest = Files.readString(Paths.get(s"${out}_manifest.json"))
        val stages = stageSeconds(manifest)
        assert(stages.map(_._1) == "materialize" +: Load.AllFormats)
        assert(stages.forall(_._2 >= 0))
        assert(manifest.indexOf("\"columns\": [") < manifest.indexOf("\"stage_seconds\""))
      } finally closeDerby(out)
    }
  }

  test("an unknown format fails before anything is persisted or written") {
    withTempDir { dir =>
      val before = persisted
      val config = PipelineConfig(
        SourceConfig.Generate(rows = 50, seed = 1L), OutputConfig(s"$dir/out/res", "csv,bogus"))
      val e = intercept[IllegalArgumentException](new Pipeline(spark, config).run())
      assert(e.getMessage.contains("bogus"))
      assert(!Files.exists(Paths.get(s"$dir/out")))
      assert(persisted == before)
    }
  }

  test("a failing sink is rethrown after the other sinks finish; nothing stays cached") {
    withTempDir { dir =>
      val before = persisted
      val (config, df) = generated(dir, 100, "csv,sqlite,parquet")
      val out = config.output.path
      val e = intercept[SQLException](
        Load.load(df, config, jdbcUrlFor = _ => "jdbc:graft-no-such-driver:x"))
      assert(e.getMessage.contains("No suitable driver"), e.getMessage)
      Seq("csv", "parquet").foreach { f =>
        assert(Files.exists(Paths.get(s"$out.$f/_SUCCESS")), f)
      }
      assert(!Files.exists(Paths.get(s"${out}_manifest.json")))
      assert(persisted == before)
    }
  }

  test("sink jobs run on pool threads yet carry the caller's job tag") {
    withTempDir { dir =>
      val (config, df) = generated(dir, 100, "all")
      try {
        val (_, jobs) = jobsOf(Load.load(df, config))
        Seq("count at Load.scala", "csv at Writers.scala", "json at Writers.scala",
          "parquet at Writers.scala", "save at Writers.scala", "at Xlsx.scala")
          .foreach(c => assert(jobs.exists(_._1.contains(c)), s"$c in $jobs"))
        // every job the load started, on any thread, carries the tag
        assert(jobs.forall(_._2), jobs)
      } finally closeDerby(config.output.path)
    }
  }

  test("an empty format selection fails before any job runs") {
    withTempDir { dir =>
      // evaluating this frame throws, so any job over it would surface here
      val exploding = spark.range(3).where(
        udf((i: Long) => if (i >= 0) throw new IllegalStateException("evaluated") else true)
          .apply(col("id"))).toDF()
      Seq("", " , ").foreach { format =>
        val config = PipelineConfig(
          SourceConfig.File(s"$dir/missing.csv"), OutputConfig(s"$dir/out/res", format))
        intercept[IllegalArgumentException](Load.load(exploding, config))
        // the format is checked before the missing source is inferred
        intercept[IllegalArgumentException](new Pipeline(spark, config).run())
      }
      assert(!Files.exists(Paths.get(s"$dir/out")))
    }
  }

  /** Rows read back from one sink's output. */
  private def readBack(format: String, out: String): Long = format match {
    case "csv"     => Readers.csv(spark, s"$out.csv").count()
    case "json"    => spark.read.json(s"$out.json").count()
    case "parquet" => Readers.parquet(spark, s"$out.parquet").count()
    case "sqlite"  => Readers.jdbc(spark, s"jdbc:derby:$out").count()
    case "xlsx"    => Readers.xlsx(spark, s"$out.xlsx").count()
  }

  Seq(120L, 0L).foreach { n =>
    test(s"each single sink reports the $n rows it wrote, also in the manifest") {
      withTempDir { dir =>
        Load.AllFormats.foreach { f =>
          val (config, df) = generated(s"$dir/$f", n, f)
          val out = config.output.path
          try {
            val res = Load.load(df, config)
            assert(res.rows == n, f)
            assert(readBack(f, out) == n, f)
            val manifest = Files.readString(Paths.get(s"${out}_manifest.json"))
            assert(manifest.contains(s""""rows": $n"""), s"$f: $manifest")
            assert(stageSeconds(manifest).map(_._1) == Seq(f))
          } finally closeDerby(out)
        }
      }
    }
  }

  test("CSV to parquet runs no separate count or isEmpty job; stages are timed") {
    withTempDir { dir =>
      val src = s"$dir/input.csv"
      Files.writeString(Paths.get(src), fixtureCsv)
      val config = PipelineConfig(SourceConfig.File(src), OutputConfig(s"$dir/out/results", "parquet"))
      val ((_, res), jobs) = jobsOf(new Pipeline(spark, config).run())
      val seen = jobs.map(_._1)
      assert(res.rows == 1)
      assert(seen.exists(_.contains("collect at Pipeline.scala")), seen)
      assert(seen.exists(_.contains("parquet at Writers.scala")), seen)
      assert(!seen.exists(j => j.contains("count at Load.scala") || j.contains("isEmpty at Transform.scala")), seen)
      val manifest = Files.readString(Paths.get(s"$dir/out/results_manifest.json"))
      assert(stageSeconds(manifest).map(_._1) == Seq("extract", "transform", "parquet"))
    }
  }

  test("a header-only CSV gives 0 rows and keeps its 6 columns") {
    withTempDir { dir =>
      val src = s"$dir/input.csv"
      Files.writeString(Paths.get(src), fixtureCsv.linesIterator.next() + "\n")
      val config = PipelineConfig(SourceConfig.File(src), OutputConfig(s"$dir/out/results", "parquet"))
      val (_, res) = new Pipeline(spark, config).run()
      assert(res.rows == 0)
      assert(res.columns.length == 6)
      assert(Readers.parquet(spark, s"$dir/out/results.parquet").count() == 0)
    }
  }

  test("a row with a blank Pickup_DateTime gets null weather; the others keep theirs") {
    withTempDir { dir =>
      val src = s"$dir/input.csv"
      Files.writeString(Paths.get(src), fixtureCsv +
        "SC002,,2025-09-05T10:45:00,Small,5.0,Suburban\n")
      val config = PipelineConfig(
        SourceConfig.File(src), OutputConfig(s"$dir/out/results", "parquet"))
      val (_, res) = new Pipeline(spark, config).run()
      assert(res.rows == 2)
      val weather = Readers.parquet(spark, s"$dir/out/results.parquet")
        .select("Delivery_ID", "Weather_Condition").collect()
        .map(r => r.getString(0) -> Option(r.getString(1))).toMap
      assert(weather("SC001").isDefined && weather("SC002").isEmpty, weather)
    }
  }

  test("output columns follow the reference order, also when re-ingested") {
    withTempDir { dir =>
      val src = s"$dir/input.csv"
      Files.writeString(Paths.get(src), fixtureCsv)
      def run(source: String, out: String): Seq[String] = {
        val config = PipelineConfig(SourceConfig.File(source), OutputConfig(out, "csv"))
        val (_, res) = new Pipeline(spark, config).run()
        val manifest = Files.readString(Paths.get(s"${out}_manifest.json"))
        assert(manifest.contains(ReferenceColumns.map("\"" + _ + "\"").mkString("\"columns\": [", ", ", "]")))
        assert(Readers.csv(spark, s"$out.csv").columns.toSeq == res.columns)
        res.columns
      }
      assert(run(src, s"$dir/a/results") == ReferenceColumns)
      assert(run(s"$dir/a/results.csv", s"$dir/b/results") == ReferenceColumns)
    }
  }

  /** Runs `src` to parquet at `out` through `Pipeline.run`; returns the
    * written frame and the run's jobs (see [[jobsOf]]). */
  private def toParquet(src: String, out: String): (DataFrame, Seq[(String, Boolean)]) = {
    val config = PipelineConfig(SourceConfig.File(src), OutputConfig(out, "parquet"))
    val (_, jobs) = jobsOf(new Pipeline(spark, config).run())
    (Readers.parquet(spark, s"$out.parquet"), jobs)
  }

  /** [[toParquet]] over a CSV file holding `body`. */
  private def runCsv(dir: String, body: String): (DataFrame, Seq[(String, Boolean)]) = {
    Files.writeString(Paths.get(s"$dir/input.csv"), body)
    toParquet(s"$dir/input.csv", s"$dir/out/results")
  }

  private val ContractHeader =
    "Delivery_ID,Pickup_DateTime,Delivery_Timestamp,Package_Type,Distance,Delivery_Zone"

  test("a contract CSV reads with the declared schema: no inference job, same output as inference") {
    val inputs = Seq(
      "A.2" -> fixtureCsv,
      "space-separated timestamps" -> (ContractHeader + "\n" +
        "SC001,2025-09-05 10:00:00,2025-09-05 10:45:00,Small,5.0,Suburban\n" +
        "SC002,2025-09-06 18:30:00,2025-09-06 20:02:00,Special,41.25,Shopping Center\n"),
      "date-only timestamps" -> (ContractHeader + "\n" +
        "SC001,2025-09-05,2025-09-06,Large,12.5,Urban\n"),
      "permuted header" -> (
        "Distance,Delivery_Zone,Delivery_ID,Package_Type,Pickup_DateTime,Delivery_Timestamp\n" +
        "5.0,Suburban,SC001,Small,2025-09-05T10:00:00,2025-09-05T10:45:00\n" +
        ",Rural,SC002,Medium,2025-09-05T07:15:00,2025-09-05T09:00:00\n"))
    inputs.foreach { case (name, body) =>
      withTempDir { dir =>
        val (got, jobs) = runCsv(dir, body)
        assert(!jobs.exists(_._1.contains("csv at Readers.scala")), s"$name: $jobs")
        // the same file through today's inference path
        val p = new Pipeline(spark, PipelineConfig(SourceConfig.File(s"$dir/input.csv"),
          OutputConfig("unused", "preview")))
        val want = p.transform(Readers.normalizeTimestamps(Readers.csv(spark, s"$dir/input.csv")))
        assert(got.schema.map(f => f.name -> f.dataType) == want.schema.map(f => f.name -> f.dataType), name)
        def rows(df: DataFrame) = df.orderBy("Delivery_ID").collect().toSeq
        assert(rows(got) == rows(want), name)
      }
    }
  }

  test("Distance reads as double from a contract CSV, also when it holds integers or nothing") {
    withTempDir { dir =>
      val (got, _) = runCsv(dir, ContractHeader + "\n" +
        "SC001,2025-09-05T10:00:00,2025-09-05T10:45:00,Small,5,Suburban\n" +
        "SC002,2025-09-05T11:00:00,2025-09-05T11:45:00,Small,12,Urban\n")
      assert(got.schema("Distance").dataType == DoubleType)
      assert(got.orderBy("Delivery_ID").select("Distance").collect().map(_.getDouble(0)).toSeq == Seq(5.0, 12.0))
    }
    withTempDir { dir =>
      val (got, _) = runCsv(dir, ContractHeader + "\n" +
        "SC001,2025-09-05T10:00:00,2025-09-05T10:45:00,Small,,Suburban\n")
      assert(got.schema("Distance").dataType == DoubleType)
      assert(got.select("Distance", "Theoretical_Time_Minutes").first().isNullAt(0))
    }
  }

  test("a malformed timestamp or distance in a contract CSV fails the read; no manifest") {
    Seq(
      "SC001,2025-09-05T10:00:00,not a time,Small,5.0,Suburban",
      "SC001,2025-09-05T10:00:00,2025-09-05T10:45:00,Small,five,Suburban").foreach { row =>
      withTempDir { dir =>
        val e = intercept[SparkException](runCsv(dir, s"$ContractHeader\n$row\n"))
        assert(e.getMessage.contains("FAILED_READ_FILE"), s"$row: ${e.getMessage}")
        // the date collect parses only Pickup_DateTime, so a bad value
        // elsewhere fails in the sink's own read; either way no manifest
        assert(!Files.exists(Paths.get(s"$dir/out/results_manifest.json")), row)
      }
    }
  }

  test("a 13-column output read back in still infers its schema") {
    withTempDir { dir =>
      val (_, first) = runCsv(dir, fixtureCsv)
      assert(!first.exists(_._1.contains("csv at Readers.scala")), first)
      val config = PipelineConfig(SourceConfig.File(s"$dir/out/results.parquet"),
        OutputConfig(s"$dir/b/results", "csv"))
      new Pipeline(spark, config).run()
      val (again, jobs) = toParquet(s"$dir/b/results.csv", s"$dir/c/results")
      assert(jobs.exists(_._1.contains("csv at Readers.scala")), jobs)
      assert(again.columns.toSeq == ReferenceColumns)
    }
  }
}
