package graft.etl

import java.nio.file.{Files, Paths}
import java.sql.{DriverManager, SQLException}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
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
        val stages = """"stage_seconds": \{([^}]*)\}""".r.findFirstMatchIn(manifest)
          .map(m => """"([a-z]+)": ([0-9.E-]+)""".r.findAllMatchIn(m.group(1))
            .map(k => k.group(1) -> k.group(2).toDouble).toSeq)
          .getOrElse(fail(s"no stage_seconds in $manifest"))
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
      val sc = spark.sparkContext
      val (config, df) = generated(dir, 100, "all")
      // Spark runs a SQL execution's jobs on its own threads; the
      // execution's description is the call site of the thread that
      // started it, so jobs are named by their execution where they have one
      val sqlSites = new ConcurrentHashMap[Long, String]()
      val jobs = new ConcurrentLinkedQueue[(Int, Option[Long], String)]()
      val listener = new SparkListener {
        override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
          case s: SparkListenerSQLExecutionStart => sqlSites.put(s.executionId, s.description); ()
          case _                                 => ()
        }
        override def onJobStart(j: SparkListenerJobStart): Unit = {
          val exec = Option(j.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          jobs.add((j.jobId, exec.map(_.toLong), j.stageInfos.map(_.name).mkString(";"))); ()
        }
      }
      val tag = "pipeline-spec-load"
      sc.addSparkListener(listener)
      try {
        sc.addJobTag(tag)
        try Load.load(df, config) finally sc.removeJobTag(tag)
        val callSites = Seq("count at Load.scala", "csv at Writers.scala",
          "json at Writers.scala", "parquet at Writers.scala", "save at Writers.scala",
          "at Xlsx.scala")
        eventually(timeout(30.seconds), interval(100.millis)) {
          val seen = jobs.asScala.toSeq.map { case (id, exec, stages) =>
            id -> exec.flatMap(e => Option(sqlSites.get(e))).getOrElse(stages)
          }
          callSites.foreach(c => assert(seen.exists(_._2.contains(c)), s"$c in $seen"))
          val tagged = sc.statusTracker.getJobIdsForTag(tag).toSet
          assert(seen.map(_._1).toSet.subsetOf(tagged), seen)
        }
      } finally {
        sc.removeSparkListener(listener)
        closeDerby(config.output.path)
      }
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
}
