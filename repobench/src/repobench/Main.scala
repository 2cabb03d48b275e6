package repobench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.sql.{DriverManager, SQLException}
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.chaining._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.SparkEntry
import graft.etl._
import graft.sources.{Readers, Writers}

/** Command-line options; `run.py` passes every one of them. */
final case class Opts(
    workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: String, cpus: Int, rows: Long, warmup: Int, minPasses: Int, stagingReps: Int,
    data: String, queries: Seq[String], out: String)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("work"), m("cpus").toInt, m.getOrElse("rows", "0").toLong,
      m.getOrElse("warmup", "1").toInt, m.getOrElse("min-passes", "1").toInt,
      m.getOrElse("staging-reps", "1").toInt,
      m.getOrElse("data", ""), m.getOrElse("queries", "").split(",").filter(_.nonEmpty).toSeq,
      m("out"))
  }
}

/** What a workload's timed region produced. */
final case class Timed(
    walls: Seq[Double], outputBytes: Seq[Long], rows: Long,
    layers: Map[String, Double], tracedWalls: Seq[Double])

/** The benchmark's JVM side: one workload, one seed, one process.
  *
  * Untraced runs time whole passes through the public entry points
  * (`Pipeline.run`, `SparkEntry.queries`). Traced runs alternate
  * untraced passes with traced ones, in which the benchmark calls each
  * layer itself, records a span around each call and attributes Spark
  * jobs to layers by job tag and call site. Results go to one JSON file.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val result = new Harness(o).run()
    Files.writeString(Paths.get(o.out), Json.render(result) + "\n")
  }
}

final class Harness(o: Opts) {
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  private val loadBefore = Harness.loadavg()
  private var attempted = 0
  private var failed = 0
  private val failures = mutable.ArrayBuffer.empty[String]
  private val checks = mutable.ArrayBuffer.empty[Map[String, Any]]

  private val spark: SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .appName(s"repobench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
    if (o.workload == "q_loops")
      b.config("spark.sql.extensions", "graft.plans.GraftExtensions")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  private val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

  /** A failed operation counts against `failed` and never yields a timing. */
  private def op[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try Some(body).tap(_ => System.err.println(f"[repobench] $name ${(System.nanoTime() - t0) / 1e9}%.3f s"))
    catch {
      case e: Throwable =>
        failed += 1
        failures += s"$name: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
        System.err.println(s"[repobench] $name failed: $e")
        None
    }
  }

  private def check(name: String)(body: => (Boolean, String)): Unit = {
    attempted += 1
    val t0 = System.nanoTime()
    val (ok, detail) =
      try body catch { case e: Throwable => (false, s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    if (!ok) { failed += 1; failures += s"check $name: $detail" }
    checks += Map("name" -> name, "ok" -> ok, "detail" -> detail, "s" -> (System.nanoTime() - t0) / 1e9)
  }

  private def sweep(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  private def tagged[T](tag: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.addJobTag(tag)
    try body finally sc.removeJobTag(tag)
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def run(): Map[String, Any] = {
    val w: Workload = o.workload match {
      case "etl_fanout" | "etl_ingest" => new Etl
      case "q_loops"                   => new Loops
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val staging = w.stage()
    val t0 = System.nanoTime()
    w.warmup()
    val warmupS = (System.nanoTime() - t0) / 1e9
    System.gc()
    val timed = w.measure()
    val peakRss = Harness.vmHwmMb()
    val t1 = System.nanoTime()
    w.checks()
    w.cleanup()
    val checksS = (System.nanoTime() - t1) / 1e9
    val loadAfter = Harness.loadavg()
    val confs = spark.conf.getAll.filter { case (k, _) =>
      Set("spark.master", "spark.sql.shuffle.partitions", "spark.sql.session.timeZone",
        "spark.sql.adaptive.enabled", "spark.sql.extensions",
        "spark.sql.legacy.parquet.nanosAsLong")(k)
    }
    spark.stop()
    Map(
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
      "session_s" -> sessionS, "staging_s" -> staging, "warmup_s" -> warmupS,
      "warmup_walls" -> warmupWalls.toSeq, "checks_s" -> checksS,
      "passes" -> timed.walls, "output_bytes" -> timed.outputBytes,
      "result_rows" -> timed.rows, "peak_rss_mb" -> peakRss,
      "layers" -> timed.layers, "traced_walls" -> timed.tracedWalls,
      "attempted" -> attempted, "failed" -> failed, "failures" -> failures.toSeq,
      "checks" -> checks.toSeq,
      "context" -> Map(
        "nproc" -> o.cpus, "rows" -> o.rows, "seconds" -> o.seconds,
        "warmup_passes" -> o.warmup, "queries" -> o.queries,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "java" -> System.getProperty("java.version"),
        "confs" -> confs,
        "loadavg_before" -> loadBefore, "loadavg_after" -> loadAfter))
  }

  trait Workload {
    def stage(): Seq[Double]
    def warmup(): Unit
    def measure(): Timed
    def checks(): Unit
    def cleanup(): Unit
  }

  /** Runs passes while the next one, as long as the last, still ends
    * within `seconds`, and at least `minPasses` (two when traced). Traced
    * runs alternate an untraced pass with a traced one, so that tracing
    * overhead is measured under the same conditions.
    */
  private def loop(untraced: Int => Option[Double], traced: Int => Option[Double]): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    var last = 0.0
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (i < (if (o.trace) math.max(2, o.minPasses) else o.minPasses) || elapsed + last <= o.seconds) {
      val p0 = System.nanoTime()
      if (o.trace && i % 2 == 1) traced(i) else untraced(i)
      last = (System.nanoTime() - p0) / 1e9
      sweep()
      System.gc()
      i += 1
    }
  }

  /** Jobs of every traced pass, written with the spans at the end. */
  private val jobLines = mutable.ArrayBuffer.empty[String]
  private val warmupWalls = mutable.ArrayBuffer.empty[Double]

  private def medianOfMaps(ms: Seq[Map[String, Double]]): Map[String, Double] =
    if (ms.isEmpty) Map.empty
    else ms.flatMap(_.keys).distinct.map(k => k -> Harness.median(ms.flatMap(_.get(k)))).toMap

  // ---------------------------------------------------------------- ETL

  final class Etl extends Workload {
    private val fanout = o.workload == "etl_fanout"
    private val format = if (fanout) "all" else "parquet"
    private val outRoot = s"${o.work}/out"
    private var csvPath = ""
    private var inputBytes = 0L
    private var keep: Option[String] = None

    private def config(out: String): PipelineConfig = PipelineConfig(
      if (fanout) SourceConfig.Generate(o.rows, o.seed) else SourceConfig.File(csvPath),
      OutputConfig(out, format))

    /** `etl_ingest` stages a reference-contract CSV (header, one file)
      * from the seeded generator, `stagingReps` times; the last copy is
      * the input.
      */
    def stage(): Seq[Double] =
      if (fanout) Seq.empty
      else (1 to o.stagingReps).map { k =>
        val p = s"${o.work}/input/deliveries_$k.csv"
        val t0 = System.nanoTime()
        Writers.csv(Generator.deliveries(spark, o.rows, o.seed), p, singleFile = true)
        val t = (System.nanoTime() - t0) / 1e9
        if (csvPath.nonEmpty) Harness.delete(Paths.get(csvPath))
        csvPath = p
        t
      }.toSeq.tap { _ => inputBytes = Harness.bytes(Paths.get(csvPath), dataOnly = true) }

    private def passDir(i: Int): String = s"$outRoot/p$i"

    /** Shut the pass's embedded Derby database so its files are complete
      * and can be measured and deleted. */
    private def closeDerby(out: String): Unit =
      if (fanout)
        try { DriverManager.getConnection(s"jdbc:derby:$out;shutdown=true").close() }
        catch { case _: SQLException => () }

    private def finish(i: Int, keepIt: Boolean): Long = {
      closeDerby(s"${passDir(i)}/results")
      val b = Harness.bytes(Paths.get(passDir(i)), dataOnly = false)
      keep.foreach(k => Harness.delete(Paths.get(k)))
      keep = None
      if (keepIt) keep = Some(passDir(i)) else Harness.delete(Paths.get(passDir(i)))
      b
    }

    private def plain(i: Int): Option[Double] = op(s"pass $i") {
      val out = s"${passDir(i)}/results"
      val t0 = System.nanoTime()
      val (_, res) = new Pipeline(spark, config(out), new WeatherSource.Stub(), singleFile = true).run()
      val t = (System.nanoTime() - t0) / 1e9
      if (res.rows != o.rows) throw new IllegalStateException(s"pass wrote ${res.rows} rows, expected ${o.rows}")
      t
    }

    def warmup(): Unit = (1 to o.warmup).foreach { k =>
      plain(-k).foreach(warmupWalls += _); finish(-k, keepIt = false); sweep(); System.gc()
    }

    def measure(): Timed = {
      val walls = mutable.ArrayBuffer.empty[Double]
      val bytes = mutable.ArrayBuffer.empty[Long]
      val traced = mutable.ArrayBuffer.empty[(Double, Map[String, Double])]
      val rec = if (o.trace) Some(new Recorder(spark)) else None
      val tracer = new Tracer(s"${o.workload}-${o.seed}")
      loop(
        i => plain(i).map { t => walls += t; bytes += finish(i, keepIt = true); t },
        i => rec.get.during(tracedPass(i, tracer, rec.get)).map { case (t, m) =>
          traced += ((t, m)); bytes += finish(i, keepIt = true); t
        })
      val layers = rec.map { r =>
        val probes = r.during(this.probes(r))
        val m = medianOfMaps(traced.map(_._2).toSeq)
        m ++ probes ++ Map(
          "trace.overhead_pct" ->
            (Harness.median(traced.map(_._1).toSeq) / Harness.median(walls.toSeq) - 1) * 100)
      }.getOrElse(Map.empty)
      rec.foreach(r => jobLines ++= r.jobLines(tracer.runId))
      Harness.writeLines(s"${o.work}/spans.jsonl", tracer.toJsonLines ++ jobLines)
      Timed(walls.toSeq, bytes.toSeq, o.rows, layers, traced.map(_._1).toSeq)
    }

    /** One pass composed from the calls `Pipeline.run` makes, each inside
      * a span; `Load.load` is split by the jobs it runs. */
    private def tracedPass(i: Int, tr: Tracer, rec: Recorder): Option[(Double, Map[String, Double])] =
      op(s"traced pass $i") {
        val out = s"${passDir(i)}/results"
        val cfg = config(out)
        val weather = new TimedWeather(new WeatherSource.Stub(), tr)
        val p = new Pipeline(spark, cfg, weather, singleFile = true)
        jobLines ++= rec.jobLines(tr.runId)
        rec.clear()
        rec.enter("extract")
        val gc0 = Harness.gcMs()
        val res = tr.span("etl.Pipeline") {
          val raw = tagged("rb.extract")(tr.span("etl.Pipeline.extract")(p.extract()))
          rec.enter("transform")
          val t = tagged("rb.transform")(tr.span("etl.Pipeline.transform")(p.transform(raw)))
          rec.enter("load")
          tagged("rb.load")(tr.span("etl.Load")(Load.load(t, cfg, singleFile = true)))
        }
        val gcS = (Harness.gcMs() - gc0) / 1000.0
        rec.enter("after")
        if (res.rows != o.rows) throw new IllegalStateException(s"pass wrote ${res.rows} rows")
        val root = tr.last("etl.Pipeline")
        val ex = tr.last("etl.Pipeline.extract")
        val trS = tr.last("etl.Pipeline.transform")
        val loadS = tr.last("etl.Load")

        val dateJobs = rec.jobsTagged("rb.transform").filter(_.file == "Pipeline.scala")
        val datesEnd =
          if (dateJobs.isEmpty) trS.start else Recorder.epochToNano(dateJobs.map(_.endMs).max)
        val dates = tr.add("etl.Pipeline.dates", trS.id, trS.start, math.min(trS.end, datesEnd))

        // Load.load: consecutive jobs of one sink form a segment that runs
        // from the previous segment's end to its own last job's end; the
        // tail after the last job belongs to the last sink
        val loadJobs = rec.jobsTagged("rb.load")
        val groups = mutable.ArrayBuffer.empty[(String, mutable.ArrayBuffer[Job])]
        loadJobs.foreach { j =>
          val g = Etl.sinkOf(j)
          if (groups.nonEmpty && groups.last._1 == g) groups.last._2 += j
          else groups += ((g, mutable.ArrayBuffer(j)))
        }
        var segStart = loadS.start
        val segs = groups.zipWithIndex.map { case ((g, js), k) =>
          val end =
            if (k == groups.size - 1) loadS.end
            else math.min(loadS.end, math.max(segStart, Recorder.epochToNano(js.map(_.endMs).max)))
          val s = tr.add(g, loadS.id, segStart, end)
          segStart = end
          (g, js.toSeq, s)
        }
        def segS(g: String) = segs.filter(_._1 == g).map(_._3.seconds).sum
        def segJobs(g: String) = segs.filter(_._1 == g).flatMap(_._2).toSeq

        closeDerby(out)
        val m = mutable.LinkedHashMap.empty[String, Double]
        val passJobs = rec.jobsTagged("rb.extract") ++ rec.jobsTagged("rb.transform") ++ loadJobs
        m("etl.Pipeline.dates_s") = dates.seconds
        m("etl.Pipeline.jobs") = passJobs.size.toDouble
        m("etl.Weather.s") = tr.spans.filter(s => s.name == "etl.Weather" && s.parent == trS.id).map(_.seconds).sum
        m("etl.Weather.dates") = weather.dates.toDouble
        m("etl.Weather.hit_ratio") = {
          val r = Readers.parquet(spark, out + ".parquet")
            .agg(count(lit(1)), count(col("Weather_Condition"))).first()
          r.getLong(1).toDouble / r.getLong(0)
        }
        m("sources.Readers.infer_s") = if (fanout) 0.0 else ex.seconds
        m("sources.Readers.read_amplification") =
          if (fanout) 0.0 else rec.tasksOf(passJobs).input.toDouble / inputBytes
        m("etl.Load.materialize_s") = segS("etl.Load.materialize")
        m("etl.Load.cache_mb") = rec.blockBytes("load") / 1e6
        m("etl.Load.spill_mb") = rec.tasksOf(loadJobs).spill / 1e6
        m("etl.Load.recompute_ratio") = rec.sourceRows("load").toDouble / res.rows
        Etl.Sinks.foreach { case (g, suffix) =>
          val s = segS(g)
          m(s"${g}_s") = s
          m(s"${g}_mb") = if (format == "all" || g.endsWith(format))
            Harness.bytes(Paths.get(out + suffix), dataOnly = false) / 1e6 else 0.0
          m(s"$g.busy_cores") =
            if (s > 0) rec.tasksOf(segJobs(g)).runMs / 1000.0 / (s * o.cpus) else 0.0
        }
        m("jvm.gc_s") = gcS
        m("trace.coverage") = tr.coverage(root)
        (root.seconds, m.toMap)
      }

    /** Layer costs measured by direct calls, outside the passes. */
    private def probes(rec: Recorder): Map[String, Double] = {
      val m = mutable.LinkedHashMap.empty[String, Double]
      def timedNoop(tag: String, df: => DataFrame): (Double, Double) = {
        rec.enter(tag)
        val t0 = System.nanoTime()
        tagged(tag)(noop(df))
        val t = (System.nanoTime() - t0) / 1e9
        rec.drain()
        (t, rec.tasksOf(rec.jobsTagged(tag)).runMs / 1000.0)
      }
      op("probe etl.Generator") {
        m("etl.Generator.s") = if (!fanout) 0.0 else Harness.median((1 to 3).map { k =>
          timedNoop(s"rb.gen.$k", Generator.deliveries(spark, o.rows, o.seed))._1
        })
      }
      op("probe etl.Transform") {
        val p = new Pipeline(spark, config(s"$outRoot/probe/results"), new WeatherSource.Stub(), singleFile = true)
        val raw = p.extract().persist(StorageLevel.MEMORY_AND_DISK)
        raw.count()
        val transformed = p.transform(raw)
        val reps = (1 to 3).map { k =>
          (timedNoop(s"rb.raw.$k", raw), timedNoop(s"rb.tr.$k", transformed))
        }
        val s = math.max(0.0, Harness.median(reps.map(_._2._1)) - Harness.median(reps.map(_._1._1)))
        val busy = math.max(0.0, Harness.median(reps.map(_._2._2)) - Harness.median(reps.map(_._1._2)))
        m("etl.Transform.s") = s
        m("etl.Transform.busy_cores") = if (s > 0) busy / (s * o.cpus) else 0.0
        val cfg = config(s"$outRoot/probe/results")
        m("etl.Load.manifest_s") = Harness.median((1 to 5).map { _ =>
          val t0 = System.nanoTime()
          Load.writeManifest(transformed, cfg, o.rows, Instant.now())
          (System.nanoTime() - t0) / 1e9
        })
        raw.unpersist(blocking = true)
        Harness.delete(Paths.get(s"$outRoot/probe"))
      }
      m.toMap
    }

    def checks(): Unit = keep match {
      case None => check("output kept for checks")((false, "no pass completed"))
      case Some(dir) =>
        val out = s"$dir/results"
        if (fanout) fanoutChecks(out) else ingestChecks(out)
        closeDerby(out)
    }

    /** (rows, distinct ids, id hash sum, Status counts) in one scan. */
    private def summary(df: DataFrame): (Long, Long, BigDecimal, Map[String, Long]) = {
      val statuses = Seq("Delayed", "On-time")
      val r = df.agg(count(lit(1)), Seq(countDistinct(col("Delivery_ID")),
        sum(xxhash64(col("Delivery_ID")).cast("decimal(38,0)"))) ++
          statuses.map(v => sum(when(col("Status") === v, 1L).otherwise(0L))): _*).first()
      (r.getLong(0), r.getLong(1), BigDecimal(r.getDecimal(2)),
        statuses.zipWithIndex.map { case (v, i) => v -> r.getLong(3 + i) }.toMap)
    }

    private def fanoutChecks(out: String): Unit = {
      val sinks: Seq[(String, () => DataFrame)] = Seq(
        "csv" -> (() => Readers.csv(spark, out + ".csv")),
        "json" -> (() => Readers.json(spark, out + ".json")),
        "parquet" -> (() => Readers.parquet(spark, out + ".parquet")),
        "jdbc" -> (() => Readers.jdbc(spark, s"jdbc:derby:$out")),
        "xlsx" -> (() => Readers.xlsx(spark, out + ".xlsx")))
      val seen = sinks.flatMap { case (name, read) =>
        var got: Option[(Long, Long, BigDecimal, Map[String, Long])] = None
        check(s"sink $name has ${o.rows} distinct Delivery_IDs") {
          val s = summary(read())
          got = Some(s)
          (s._1 == o.rows && s._2 == o.rows, s"rows=${s._1} distinct=${s._2}")
        }
        got.map(name -> _)
      }
      check("all five sinks agree on Delivery_IDs and Status counts") {
        val ok = seen.size == sinks.size && seen.map(x => (x._2._3, x._2._4)).distinct.size == 1
        (ok, seen.map { case (n, s) => s"$n:${s._3}:${s._4.toSeq.sorted.mkString(",")}" }.mkString(" "))
      }
      val manifest = Files.readString(Paths.get(out + "_manifest.json"))
      check(s"manifest rows = ${o.rows}") {
        val rows = """"rows":\s*(\d+)\s*,\s*"columns"""".r.findFirstMatchIn(manifest).map(_.group(1).toLong)
        (rows.contains(o.rows), s"rows=$rows")
      }
      // The output contract is the column set (FIXTURES A.5, SURVEY 1.2:
      // the reference itself emitted two orders), so the order is only
      // required to match what the sinks wrote, and reported.
      check("manifest lists the 13 reference columns, in the order written") {
        val cols = """"columns":\s*\[([^\]]*)\]""".r.findFirstMatchIn(manifest)
          .map(_.group(1).split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).toSeq)
          .getOrElse(Seq.empty)
        val written = Readers.parquet(spark, out + ".parquet").columns.toSeq
        val ok = cols.distinct.size == cols.size &&
          cols.toSet == Etl.ReferenceColumns.toSet && cols == written
        (ok, s"manifest=${cols.mkString(",")} parquet=${written.mkString(",")} " +
          s"reference_order=${cols == Etl.ReferenceColumns}")
      }
      check("golden fixture A.3: 128.04 On-time") {
        import spark.implicits._
        val r = Seq((10.0, "Large", "Urban", 8, "Monday", "Light rain", 100.0))
          .toDF("Distance", "Package_Type", "Delivery_Zone", "Hour", "Weekday",
            "Weather_Condition", "Actual_Delivery_Time_Minutes")
          .transform(Transform.determineDelayStatus)
          .select("Theoretical_Time_Minutes", "Status").first()
        (r.getDouble(0) == 128.04 && r.getString(1) == "On-time", s"${r.getDouble(0)} ${r.getString(1)}")
      }
    }

    private def ingestChecks(out: String): Unit = {
      val got = Readers.parquet(spark, out + ".parquet")
      check(s"output rows = input rows (${o.rows})") {
        val n = got.count()
        val in = Readers.csv(spark, csvPath).count()
        (n == o.rows && in == o.rows, s"out=$n in=$in")
      }
      check("output content equals the transformed seeded generator frame") {
        val p = new Pipeline(spark,
          PipelineConfig(SourceConfig.Generate(o.rows, o.seed), OutputConfig("unused", "preview")))
        val want = p.transform(p.extract())
        val a = Etl.contentFingerprint(got)
        val b = Etl.contentFingerprint(want)
        (a == b, s"output=$a generated=$b")
      }
    }

    def cleanup(): Unit = {
      keep.foreach(k => Harness.delete(Paths.get(k)))
      keep = None
      Harness.delete(Paths.get(outRoot))
    }
  }

  object Etl {
    val ReferenceColumns: Seq[String] = Seq(
      "Delivery_ID", "Pickup_DateTime", "Delivery_Timestamp", "Package_Type", "Distance",
      "Delivery_Zone", "Hour", "Weekday", "Weather_Condition", "Actual_Delivery_Time_Minutes",
      "Actual_Delivery_Time_Display", "Theoretical_Time_Minutes", "Status")

    /** Layer name → output path suffix. */
    val Sinks: Seq[(String, String)] = Seq(
      "sources.Writers.csv" -> ".csv", "sources.Writers.json" -> ".json",
      "sources.Writers.parquet" -> ".parquet", "sources.Writers.jdbc" -> "",
      "sources.Xlsx.xlsx" -> ".xlsx")

    def sinkOf(j: Job): String = j.file match {
      case "Load.scala" => "etl.Load.materialize"
      case "Writers.scala" => j.method match {
        case "save" => "sources.Writers.jdbc"
        case m      => s"sources.Writers.$m"
      }
      case "Xlsx.scala" => "sources.Xlsx.xlsx"
      case _            => "etl.Load.other"
    }

    /** Row count plus an order-free sum of per-row hashes over every
      * column rendered as text, columns taken in name order. */
    def contentFingerprint(df: DataFrame): (Long, BigDecimal) = {
      val cols = df.columns.sorted.map(c => coalesce(col(c).cast("string"), lit("\u0000")))
      val r = df.agg(count(lit(1)),
        sum(xxhash64(concat_ws("\u0001", cols: _*)).cast("decimal(38,0)"))).first()
      (r.getLong(0), BigDecimal(r.getDecimal(1)))
    }
  }

  final class TimedWeather(inner: WeatherSource, tr: Tracer) extends WeatherSource {
    var dates = 0
    def hourly(ds: Seq[java.time.LocalDate]): Seq[WeatherRow] = {
      dates = ds.size
      tr.span("etl.Weather")(inner.hourly(ds))
    }
  }

  // ------------------------------------------------------------ q_loops

  final class Loops extends Workload {
    private val fns = SparkEntry.queries
    private var resultRows = 0L
    private var resultBytes = 0L

    private def order(pass: Int): Seq[String] =
      new scala.util.Random(o.seed * 7919L + pass).shuffle(o.queries)

    /** The input tables are written by `run.py` before the JVM starts. */
    def stage(): Seq[Double] = Seq.empty

    /** The first warm-up pass writes each result as parquet for the
      * oracle compare; the others drive to `noop` like the timed passes. */
    def warmup(): Unit = {
      val oracles = SparkEntry.oracleSql
      Files.writeString(Paths.get(s"${o.work}/oracle_sql.json"),
        Json.render(o.queries.map(q => q -> oracles.getOrElse(q, "")).toMap))
      order(0).foreach { q =>
        sweep()
        op(s"warm-up $q") {
          val path = s"${o.work}/qout/$q"
          fns(q)(spark, o.data).write.mode("overwrite").parquet(path)
          resultRows += spark.read.parquet(path).count()
          resultBytes += Harness.bytes(Paths.get(path), dataOnly = true)
        }
      }
      (2 to o.warmup).foreach(k => plain(-k).foreach(warmupWalls += _))
    }

    private def plain(pass: Int): Option[Double] = {
      val t0 = System.nanoTime()
      val ok = order(pass).map { q =>
        sweep()
        op(s"pass $pass $q")(noop(fns(q)(spark, o.data))).isDefined
      }
      if (ok.forall(identity)) Some((System.nanoTime() - t0) / 1e9) else None
    }

    def measure(): Timed = {
      val walls = mutable.ArrayBuffer.empty[Double]
      val traced = mutable.ArrayBuffer.empty[(Double, Map[String, Double])]
      val rec = if (o.trace) Some(new Recorder(spark)) else None
      val tracer = new Tracer(s"${o.workload}-${o.seed}")
      loop(i => plain(i).map { t => walls += t; t },
        i => rec.get.during(tracedPass(i, tracer, rec.get)).map { r => traced += r; r._1 })
      val layers = rec.map { r =>
        medianOfMaps(traced.map(_._2).toSeq) ++ Map(
          "trace.overhead_pct" ->
            (Harness.median(traced.map(_._1).toSeq) / Harness.median(walls.toSeq) - 1) * 100)
      }.getOrElse(Map.empty)
      rec.foreach(r => jobLines ++= r.jobLines(tracer.runId))
      Harness.writeLines(s"${o.work}/spans.jsonl", tracer.toJsonLines ++ jobLines)
      Timed(walls.toSeq, Seq(resultBytes), resultRows, layers, traced.map(_._1).toSeq)
    }

    private def tracedPass(pass: Int, tr: Tracer, rec: Recorder): Option[(Double, Map[String, Double])] = {
      jobLines ++= rec.jobLines(tr.runId)
      rec.clear()
      val gc0 = Harness.gcMs()
      val ok = tr.span("queries") {
        order(pass).map { q =>
          sweep()
          rec.enter(q)
          op(s"traced pass $pass $q")(tagged(s"rb.q.$q")(tr.span(s"queries.$q")(noop(fns(q)(spark, o.data))))).isDefined
        }
      }
      rec.enter("after")
      if (!ok.forall(identity)) None
      else {
        val root = tr.last("queries")
        val m = mutable.LinkedHashMap.empty[String, Double]
        o.queries.foreach { q =>
          val s = tr.last(s"queries.$q").seconds
          val js = rec.jobsTagged(s"rb.q.$q")
          val t = rec.tasksOf(js)
          m(s"queries.$q.s") = s
          m(s"queries.$q.jobs") = js.size.toDouble
          m(s"queries.$q.stages") = rec.stagesOf(js).toDouble
          m(s"queries.$q.shuffle_mb") = t.shuffleWrite / 1e6
          m(s"queries.$q.spill_mb") = t.spill / 1e6
          m(s"queries.$q.input_mb") = t.input / 1e6
          m(s"queries.$q.busy_cores") = t.runMs / 1000.0 / (s * o.cpus)
        }
        val cp = o.queries.flatMap(q => rec.jobsTagged(s"rb.q.$q")).filter(_.file == "Checkpoints.scala")
        m("operators.Checkpoints.jobs") = cp.size.toDouble
        m("operators.Checkpoints.s") = Recorder.busySeconds(cp)
        m("jvm.gc_s") = (Harness.gcMs() - gc0) / 1000.0
        m("trace.coverage") = tr.coverage(root)
        Some((root.seconds, m.toMap))
      }
    }

    def checks(): Unit = ()  // the oracle compare runs in run.py
    def cleanup(): Unit = ()
  }
}

object Harness {
  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  def loadavg(): String =
    try Files.readString(Paths.get("/proc/loadavg")).split("\\s+").take(3).mkString(" ")
    catch { case _: Exception => "" }

  def vmHwmMb(): Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    catch { case _: Exception => Double.NaN }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Bytes under `p`; `dataOnly` skips checksum and marker files. */
  def bytes(p: Path, dataOnly: Boolean): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .filter(f => !dataOnly || { val n = f.getFileName.toString; !n.startsWith(".") && !n.startsWith("_") })
        .map(Files.size).sum
      finally s.close()
    }

  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => { Files.deleteIfExists(f); () })
      finally s.close()
    }

  def writeLines(path: String, lines: Seq[String]): Unit =
    Files.writeString(Paths.get(path), lines.map(_ + "\n").mkString)
}
