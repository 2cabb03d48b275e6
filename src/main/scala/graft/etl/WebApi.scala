package graft.etl

import java.io.{ByteArrayOutputStream, FileInputStream}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, Executors}
import java.util.zip.{ZipEntry, ZipOutputStream}

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession

import graft.util.{Json, Scratch}

/** E3 — the reference's web serving layer
  * (`/root/reference/api.py:41-160`) on the JDK's built-in HTTP server
  * (zero dependencies):
  *
  *   - `POST /run-etl` (multipart/form-data: `formats` JSON array,
  *     `rows` XOR `file` upload) → `{"session_id": ...}`; the pipeline
  *     runs on a background task, outputs are zipped;
  *   - `GET /status/{id}` → `{"status": "running"|"completed"|"error"}`;
  *   - `GET /download/{id}` → the result zip.
  *
  * Job state is the in-process map the reference uses (`api.py:65-68`);
  * everything is driver-side control plane — the data plane stays in
  * Spark.
  *
  * Each session writes under the instance's one [[Scratch]] directory
  * ([[root]]/<id>). A session lives until its zip is served: the
  * download streams the zip from disk, then deletes the session's
  * directory and its `jobs` entry, so a served session answers 404 on
  * `/status` and `/download`. A failed session keeps only its error.
  * [[stop]] deletes the root with whatever sessions are left in it.
  */
final class WebApi(spark: SparkSession, port: Int = 0,
    weather: WeatherSource = new WeatherSource.Stub()) {

  sealed trait JobState
  case object Running extends JobState
  final case class Completed(zip: Path) extends JobState
  final case class Failed(error: String) extends JobState

  private val jobs = new ConcurrentHashMap[String, JobState]()
  private val pool = Executors.newFixedThreadPool(2)
  private[etl] val root: Path = Paths.get(Scratch.dir("api"))
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)

  def boundPort: Int = server.getAddress.getPort

  // ---- multipart/form-data parsing (minimal, enough for the contract) --
  private final case class Part(name: String, filename: Option[String], body: Array[Byte])

  private def parseMultipart(ex: HttpExchange): Seq[Part] = {
    val ct = Option(ex.getRequestHeaders.getFirst("Content-Type")).getOrElse("")
    val boundary = ct.split("boundary=").lift(1)
      .getOrElse(throw new IllegalArgumentException("missing multipart boundary"))
      .stripPrefix("\"").stripSuffix("\"")
    val body = ex.getRequestBody.readAllBytes()
    val text = new String(body, StandardCharsets.ISO_8859_1)
    text.split(java.util.regex.Pattern.quote("--" + boundary)).toSeq
      .filter(p => p.contains("Content-Disposition"))
      .flatMap { chunk =>
        val idx = chunk.indexOf("\r\n\r\n")
        if (idx < 0) None
        else {
          val headers = chunk.substring(0, idx)
          val content = chunk.substring(idx + 4).stripSuffix("\r\n")
          val name = """name="([^"]*)"""".r.findFirstMatchIn(headers).map(_.group(1))
          val filename = """filename="([^"]*)"""".r.findFirstMatchIn(headers).map(_.group(1))
          name.map(n => Part(n, filename,
            content.getBytes(StandardCharsets.ISO_8859_1)))
        }
      }
  }

  private def respond(ex: HttpExchange, code: Int, body: Array[Byte],
      contentType: String = "application/json"): Unit = {
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(code, body.length.toLong)
    ex.getResponseBody.write(body)
    ex.close()
  }
  private def respondJson(ex: HttpExchange, code: Int, v: Any): Unit =
    respond(ex, code, Json.render(v).getBytes(StandardCharsets.UTF_8))

  private def zipDir(dir: Path, out: Path): Unit = {
    val zos = new ZipOutputStream(Files.newOutputStream(out))
    try {
      Files.walk(dir).iterator().asScala
        .filter(Files.isRegularFile(_)).foreach { f =>
          zos.putNextEntry(new ZipEntry(dir.relativize(f).toString))
          val in = new FileInputStream(f.toFile)
          try in.transferTo(zos) finally in.close()
          zos.closeEntry()
        }
    } finally zos.close()
  }

  private def runJob(id: String, config: PipelineConfig, workDir: Path): Unit = {
    try {
      new Pipeline(spark, config, weather).run()
      val zip = workDir.resolve("results.zip")
      zipDir(workDir.resolve("out"), zip)
      jobs.put(id, Completed(zip)); ()
    } catch {
      case e: Throwable =>
        jobs.put(id, Failed(e.toString))
        Scratch.delete(workDir)
    }
  }

  private def handleRunEtl(ex: HttpExchange): Unit = {
    val parts = parseMultipart(ex)
    def field(n: String): Option[String] =
      parts.find(p => p.name == n && p.filename.isEmpty)
        .map(p => new String(p.body, StandardCharsets.UTF_8).trim)

    val formats = field("formats")
      .map(_.stripPrefix("[").stripSuffix("]").split(",").toSeq
        .map(_.trim.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty))
      .getOrElse(Seq("csv"))
    val rows = field("rows").map(_.toLong)
    val upload = parts.find(p => p.name == "file" && p.filename.isDefined)

    if (rows.isDefined == upload.isDefined) {
      respondJson(ex, 400,
        Map("error" -> "provide exactly one of 'rows' and 'file'"))
      return
    }
    // a formats field that parses to the empty selection (every checkbox
    // unchecked) would run the whole job and "complete" with an empty
    // zip — reject it up front (a MISSING field still defaults to csv)
    if (formats.isEmpty) {
      respondJson(ex, 400,
        Map("error" -> "formats selection is empty — pick at least one format"))
      return
    }

    val id = UUID.randomUUID().toString
    val workDir = Files.createDirectory(root.resolve(id))
    val source = (rows, upload) match {
      case (Some(n), _) => SourceConfig.Generate(n)
      case (_, Some(up)) =>
        val dest = workDir.resolve(Paths.get(up.filename.get).getFileName)
        Files.write(dest, up.body)
        SourceConfig.File(dest.toString)
      case _ => throw new IllegalStateException("unreachable")
    }
    // normalize the form's `db` alias, then write EXACTLY the selected
    // formats — `all`/`all_but_xlsx` only when the selection is that set
    // (the reference coerced any partial multi-select to all_but_xlsx,
    // writing formats the client never asked for and dropping xlsx)
    val norm = formats.map { case "db" => "sqlite"; case f => f }.distinct
    val fmt =
      if (norm.toSet == Load.AllFormats.toSet) "all"
      else if (norm.toSet == Load.AllFormats.filterNot(_ == "xlsx").toSet) "all_but_xlsx"
      else norm.mkString(",")
    val config = PipelineConfig(source,
      OutputConfig(workDir.resolve("out/results").toString, fmt))

    jobs.put(id, Running)
    pool.submit(new Runnable { def run(): Unit = runJob(id, config, workDir) })
    respondJson(ex, 200, Map("session_id" -> id))
  }

  private def handleStatus(ex: HttpExchange, id: String): Unit =
    jobs.get(id) match {
      case null          => respondJson(ex, 404, Map("error" -> "unknown session"))
      case Running       => respondJson(ex, 200, Map("status" -> "running"))
      case Completed(_)  => respondJson(ex, 200, Map("status" -> "completed"))
      case Failed(err)   => respondJson(ex, 200,
        Map("status" -> "error", "detail" -> err))
    }

  private def handleDownload(ex: HttpExchange, id: String): Unit =
    jobs.get(id) match {
      // the one download that removes the entry serves the zip; a
      // concurrent second one finds the session gone (404)
      case done @ Completed(zip) if jobs.remove(id, done) =>
        try {
          ex.getResponseHeaders.set("Content-Type", "application/zip")
          ex.sendResponseHeaders(200, Files.size(zip))
          Files.copy(zip, ex.getResponseBody)
          ex.close()
        } finally Scratch.delete(zip.getParent)
      case null | Completed(_) =>
        respondJson(ex, 404, Map("error" -> "unknown session"))
      case _ => respondJson(ex, 409, Map("error" -> "not completed"))
    }

  /** The browse surface (`GET /`) — same 3-step flow as the reference's
    * `templates/index.html` (source: upload or generate N rows; output:
    * format checkboxes; run + poll `/status/` + `/download/`), served
    * as one self-contained page with no template engine or static dir.
    */
  private val indexHtml: String =
    """<!DOCTYPE html>
      |<html lang="en"><head><meta charset="utf-8">
      |<title>SuperCourier ETL (Spark)</title>
      |<style>
      | body{font-family:sans-serif;max-width:640px;margin:2em auto;padding:0 1em}
      | fieldset{margin-bottom:1em;border:1px solid #999;border-radius:6px}
      | button{padding:.4em 1.2em} #status{white-space:pre-wrap}
      |</style></head><body>
      |<h1>SuperCourier ETL Pipeline</h1>
      |<form id="f">
      |<fieldset><legend>1 — Data source</legend>
      | <label>Upload: <input type="file" name="file"></label>
      | <span> or </span>
      | <label>Generate rows: <input type="number" name="rows" value="1000" min="10" max="100000"></label>
      |</fieldset>
      |<fieldset><legend>2 — Output formats</legend>
      | <label><input type="checkbox" name="fmt" value="csv" checked> CSV</label>
      | <label><input type="checkbox" name="fmt" value="json"> JSON</label>
      | <label><input type="checkbox" name="fmt" value="parquet"> Parquet</label>
      | <label><input type="checkbox" name="fmt" value="db"> SQLite</label>
      | <label><input type="checkbox" name="fmt" value="xlsx"> XLSX</label>
      |</fieldset>
      |<fieldset><legend>3 — Process</legend>
      | <button type="submit">Run ETL pipeline</button>
      |</fieldset>
      |</form>
      |<div id="status"></div>
      |<script>
      |const f=document.getElementById('f'),st=document.getElementById('status');
      |f.addEventListener('submit',async ev=>{
      |  ev.preventDefault();
      |  const fd=new FormData();
      |  const picks=[...f.querySelectorAll('input[name=fmt]:checked')].map(c=>c.value);
      |  fd.append('formats',JSON.stringify(picks));
      |  const up=f.querySelector('input[name=file]');
      |  if(up.files.length>0){fd.append('file',up.files[0]);}
      |  else{fd.append('rows',f.querySelector('input[name=rows]').value);}
      |  st.textContent='submitting...';
      |  const r=await fetch('/run-etl',{method:'POST',body:fd});
      |  const j=await r.json();
      |  if(!r.ok){st.textContent='error: '+JSON.stringify(j);return;}
      |  const id=j.session_id;
      |  const poll=setInterval(async()=>{
      |    const s=await (await fetch('/status/'+id)).json();
      |    st.textContent='status: '+s.status+(s.detail?' — '+s.detail:'');
      |    if(s.status==='completed'){
      |      clearInterval(poll);
      |      st.innerHTML='done — <a href="/download/'+id+'">download results.zip</a>';
      |    } else if(s.status==='error'){clearInterval(poll);}
      |  },500);
      |});
      |</script></body></html>""".stripMargin

  def start(): WebApi = {
    server.createContext("/", (ex: HttpExchange) =>
      if (ex.getRequestURI.getPath == "/" && ex.getRequestMethod == "GET")
        respond(ex, 200, indexHtml.getBytes(StandardCharsets.UTF_8),
          "text/html; charset=utf-8")
      else respondJson(ex, 404, Map("error" -> "not found")))
    server.createContext("/run-etl", (ex: HttpExchange) =>
      try {
        if (ex.getRequestMethod == "POST") handleRunEtl(ex)
        else respondJson(ex, 405, Map("error" -> "POST required"))
      } catch {
        case e: Throwable => respondJson(ex, 400, Map("error" -> e.toString))
      })
    server.createContext("/status/", (ex: HttpExchange) =>
      handleStatus(ex, ex.getRequestURI.getPath.stripPrefix("/status/")))
    server.createContext("/download/", (ex: HttpExchange) =>
      handleDownload(ex, ex.getRequestURI.getPath.stripPrefix("/download/")))
    server.setExecutor(Executors.newFixedThreadPool(4))
    server.start()
    this
  }

  /** Stops serving and deletes every session left under [[root]]; a
    * job still running loses its output. */
  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    Scratch.delete(root)
  }
}

/** Standalone server entry point (`GRAFT_API_PORT`, default 8000). */
object WebApi {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session("graft-api")
    val api = new WebApi(spark, sys.env.getOrElse("GRAFT_API_PORT", "8000").toInt).start()
    println(s"graft API listening on port ${api.boundPort}")
    Thread.currentThread().join()
  }
}
