package repobench

import scala.collection.mutable

import org.apache.spark.RepoBenchHooks
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of a traced pass. Times are `System.nanoTime`. */
final case class Span(id: Int, name: String, parent: Int, start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** In-memory span recorder. Spans nest by call order; derived spans
  * (built from listener job times) are added with an explicit parent.
  */
final class Tracer(val runId: String) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var next = 1

  def span[T](name: String)(body: => T): T = {
    val id = next; next += 1
    val parent = stack.headOption.getOrElse(0)
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      stack = stack.tail
      spans += Span(id, name, parent, t0, System.nanoTime())
    }
  }

  def add(name: String, parent: Int, start: Long, end: Long): Span = {
    val s = Span(next, name, parent, start, math.max(start, end)); next += 1
    spans += s
    s
  }

  def last(name: String): Span = spans.filter(_.name == name).last

  /** Span duration minus the part of it its direct children cover. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id)
      .map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue; var curB = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a > curB) { covered += math.max(0L, curB - curA); curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += math.max(0L, curB - curA)
    (s.end - s.start - covered) / 1e9
  }

  /** Share of `root` covered by the self time of every span below it. */
  def coverage(root: Span): Double = {
    def below(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq
      .flatMap(k => k +: below(k.id))
    below(root.id).map(selfSeconds).sum / root.seconds
  }

  def toJsonLines: Seq[String] = spans.sortBy(_.start).map { s =>
    Json.render(Map("run" -> runId, "id" -> s.id, "name" -> s.name,
      "parent" -> s.parent, "start_ns" -> s.start, "end_ns" -> s.end,
      "self_s" -> selfSeconds(s)))
  }.toSeq
}

/** A Spark job as the listener saw it; `site` is its result stage's
  * call site, e.g. `csv at Writers.scala:17`. */
final class Job(val id: Int, val startMs: Long, val tags: Set[String], val site: String) {
  var endMs: Long = startMs
  val stages = mutable.Set.empty[Int]
  def file: String = site.split(" at ").lastOption.map(_.takeWhile(_ != ':')).getOrElse("")
  def method: String = site.split(" at ").headOption.getOrElse("")
}

/** Summed task figures: run time (ms) and bytes. */
final class Tasks {
  var runMs = 0L; var shuffleWrite = 0L; var spill = 0L; var input = 0L
}

/** Listener used only by traced runs. Jobs are attributed by the job
  * tags the benchmark sets around its own calls and by the call site
  * Spark records for each job's result stage (`csv at Writers.scala:17`);
  * block updates and query executions by the phase the benchmark is in
  * (it drains the bus at every phase switch).
  */
final class Recorder(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val sc = spark.sparkContext
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageTasks = mutable.Map.empty[Int, Tasks]
  private val stagesRun = mutable.Map.empty[Int, Int]
  private val blocks = mutable.Map.empty[(String, String), Long]
  private val executions = mutable.ArrayBuffer.empty[(String, QueryExecution)]
  private val sqlSites = mutable.Map.empty[Long, String]
  @volatile var phase = ""

  /** Runs `body` with this listener registered; untraced passes run
    * without it. */
  def during[T](body: => T): T = {
    sc.addSparkListener(this); spark.listenerManager.register(this)
    try body
    finally { drain(); sc.removeSparkListener(this); spark.listenerManager.unregister(this) }
  }

  /** Wait for the bus, then switch phase. */
  def enter(p: String): Unit = { RepoBenchHooks.drain(sc); phase = p }
  def drain(): Unit = RepoBenchHooks.drain(sc)

  /** A SQL execution's description is the call site of the thread that
    * started it; jobs it runs on pool threads inherit it from here. */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized { sqlSites(s.executionId) = s.description }
    case _                                 => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val tags = prop("spark.job.tags")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet).getOrElse(Set.empty[String])
    val site = prop("spark.sql.execution.id").flatMap(id => sqlSites.get(id.toLong))
      .getOrElse(if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
    val j = new Job(e.jobId, e.time, tags, site)
    e.stageIds.foreach { s => j.stages += s; if (!stageJob.contains(s)) stageJob(s) = e.jobId }
    jobs(e.jobId) = j
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(j => stagesRun(j) = stagesRun.getOrElse(j, 0) + 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = stageTasks.getOrElseUpdate(e.stageId, new Tasks)
    t.runMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.spill += m.diskBytesSpilled
      t.input += m.inputMetrics.bytesRead
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      val k = (phase, b.blockId.name)
      blocks(k) = math.max(blocks.getOrElse(k, 0L), b.memSize + b.diskSize)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { executions += ((phase, qe)) }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def jobsTagged(tag: String): Seq[Job] = synchronized {
    jobs.values.filter(_.tags.contains(tag)).toSeq.sortBy(j => (j.startMs, j.id))
  }

  def stagesOf(js: Seq[Job]): Int = synchronized { js.map(j => stagesRun.getOrElse(j.id, 0)).sum }

  def tasksOf(js: Seq[Job]): Tasks = synchronized {
    val out = new Tasks
    js.flatMap(_.stages).distinct.filter(s => js.exists(_.id == stageJob.getOrElse(s, -1)))
      .flatMap(stageTasks.get).foreach { t =>
        out.runMs += t.runMs; out.shuffleWrite += t.shuffleWrite
        out.spill += t.spill; out.input += t.input
      }
    out
  }

  def blockBytes(p: String): Long = synchronized {
    blocks.collect { case ((ph, _), v) if ph == p => v }.sum
  }

  /** Rows the source leaves (range, file and JDBC scans) produced for
    * the query executions that finished in phase `p`, each plan node
    * counted once — including the plans behind cached relations, so a
    * sink that recomputes its input shows up here.
    */
  def sourceRows(p: String): Long = {
    val qes = synchronized(executions.collect { case (ph, qe) if ph == p => qe }.toList)
    val seen = new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]()
    var rows = 0L
    def walk(plan: SparkPlan): Unit = if (!seen.containsKey(plan)) {
      seen.put(plan, true)
      plan match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec        => walk(q.plan)
        case i: InMemoryTableScanExec => walk(i.relation.cachedPlan)
        case r: ReusedExchangeExec    => walk(r.child)
        case _                        => ()
      }
      val cls = plan.getClass.getSimpleName
      if (Set("RangeExec", "FileSourceScanExec", "BatchScanExec", "RowDataSourceScanExec")(cls))
        rows += plan.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      plan.children.foreach(walk)
      plan.subqueries.foreach(walk)
    }
    qes.foreach(qe => walk(qe.executedPlan))
    rows
  }

  /** Every recorded job, for the run's jobs file. */
  def jobLines(runId: String): Seq[String] = synchronized {
    jobs.values.toSeq.map { j =>
      Json.render(Map("run" -> runId, "job" -> j.id, "site" -> j.site,
        "tags" -> j.tags.toSeq.sorted, "start_ns" -> Recorder.epochToNano(j.startMs),
        "end_ns" -> Recorder.epochToNano(j.endMs), "stages" -> stagesRun.getOrElse(j.id, 0)))
    }
  }

  def clear(): Unit = synchronized {
    jobs.clear(); stageJob.clear(); stageTasks.clear(); stagesRun.clear(); sqlSites.clear()
    blocks.clear(); executions.clear()
  }
}

object Recorder {
  /** Offset that maps listener epoch-millis onto `System.nanoTime`. */
  def epochToNano(ms: Long): Long = {
    val offset = System.currentTimeMillis() * 1000000L - System.nanoTime()
    ms * 1000000L - offset
  }

  /** Seconds covered by the union of the jobs' [start, end] intervals. */
  def busySeconds(js: Seq[Job]): Double = {
    var total = 0L; var a = Long.MinValue; var b = Long.MinValue
    js.map(j => (j.startMs, j.endMs)).sortBy(_._1).foreach { case (s, e) =>
      if (s > b) { total += math.max(0L, b - a); a = s; b = e } else b = math.max(b, e)
    }
    total += math.max(0L, b - a)
    total / 1000.0
  }
}
