package graft.etl

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import graft.SparkSpec

/** E3 end-to-end over a real socket: submit → poll → download zip. */
class WebApiSpec extends SparkSpec {

  private def multipart(boundary: String, fields: Map[String, String],
      file: Option[(String, String, String)]): Array[Byte] = {
    val sb = new StringBuilder
    fields.foreach { case (k, v) =>
      sb.append(s"--$boundary\r\n")
        .append(s"""Content-Disposition: form-data; name="$k"\r\n\r\n""")
        .append(v).append("\r\n")
    }
    file.foreach { case (name, filename, content) =>
      sb.append(s"--$boundary\r\n")
        .append(s"""Content-Disposition: form-data; name="$name"; filename="$filename"\r\n""")
        .append("Content-Type: text/csv\r\n\r\n")
        .append(content).append("\r\n")
    }
    sb.append(s"--$boundary--\r\n")
    sb.toString.getBytes(StandardCharsets.UTF_8)
  }

  private def post(port: Int, body: Array[Byte], boundary: String): String = {
    val client = HttpClient.newHttpClient()
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/run-etl"))
      .header("Content-Type", s"multipart/form-data; boundary=$boundary")
      .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build()
    client.send(req, HttpResponse.BodyHandlers.ofString()).body()
  }

  private def get(port: Int, path: String): HttpResponse[Array[Byte]] = {
    val client = HttpClient.newHttpClient()
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build()
    client.send(req, HttpResponse.BodyHandlers.ofByteArray())
  }

  private def awaitDone(port: Int, id: String, timeoutMs: Long = 120000): String = {
    val t0 = System.currentTimeMillis()
    while (System.currentTimeMillis() - t0 < timeoutMs) {
      val st = new String(get(port, s"/status/$id").body(), StandardCharsets.UTF_8)
      if (st.contains("completed") || st.contains("error")) return st
      Thread.sleep(200)
    }
    "timeout"
  }

  private def zipEntries(body: Array[Byte]): List[String] = {
    val zin = new java.util.zip.ZipInputStream(new java.io.ByteArrayInputStream(body))
    Iterator.continually(zin.getNextEntry).takeWhile(_ != null).map(_.getName).toList
  }

  test("generate job: submit, poll, download zip with csv+json+parquet") {
    val api = new WebApi(spark).start()
    try {
      val b = "graftBoundary42"
      val resp = post(api.boundPort,
        multipart(b, Map("rows" -> "100", "formats" -> """["csv","json","parquet"]"""), None), b)
      val id = """"session_id": "([^"]+)"""".r.findFirstMatchIn(resp).get.group(1)
      val st = awaitDone(api.boundPort, id)
      assert(st.contains("completed"), st)
      val zip = get(api.boundPort, s"/download/$id")
      assert(zip.statusCode() == 200)
      val entries = zipEntries(zip.body())
      assert(entries.exists(_.contains("results_manifest.json")), entries)
      assert(entries.exists(_.startsWith("results.csv")), entries)
      assert(entries.exists(_.startsWith("results.json")), entries)
      assert(entries.exists(_.startsWith("results.parquet")), entries)
      // exactly the selection: no stealth sqlite dir, no xlsx
      assert(!entries.exists(_.startsWith("results/")), entries)
      assert(!entries.exists(_.startsWith("results.xlsx")), entries)
    } finally api.stop()
  }

  test("GET / serves the form; partial selection writes exactly what was picked") {
    val api = new WebApi(spark).start()
    try {
      val idx = get(api.boundPort, "/")
      assert(idx.statusCode() == 200)
      val html = new String(idx.body(), StandardCharsets.UTF_8)
      assert(html.contains("<form") && html.contains("/run-etl"), "form page")
      Seq("csv", "json", "parquet", "db", "xlsx").foreach(f =>
        assert(html.contains(s"""value="$f""""), s"format $f on the page"))

      // csv+xlsx was the reference's silent-coercion case (→ all_but_xlsx:
      // xlsx dropped, json/parquet/sqlite written unasked)
      val b = "graftBoundary44"
      val resp = post(api.boundPort,
        multipart(b, Map("rows" -> "50", "formats" -> """["csv","xlsx"]"""), None), b)
      val id = """"session_id": "([^"]+)"""".r.findFirstMatchIn(resp).get.group(1)
      assert(awaitDone(api.boundPort, id).contains("completed"))
      val entries = zipEntries(get(api.boundPort, s"/download/$id").body())
      assert(entries.exists(_.startsWith("results.csv")), entries)
      assert(entries.exists(_.startsWith("results.xlsx")), entries)
      assert(!entries.exists(_.startsWith("results.json")), entries)
      assert(!entries.exists(_.startsWith("results.parquet")), entries)
      assert(!entries.exists(_.startsWith("results/")), entries)
    } finally api.stop()
  }

  test("file-upload job + validation errors") {
    val api = new WebApi(spark).start()
    try {
      val b = "graftBoundary43"
      val csv = "Delivery_ID,Pickup_DateTime,Delivery_Timestamp,Package_Type,Distance,Delivery_Zone\n" +
        "SC001,2025-09-05T10:00:00,2025-09-05T10:45:00,Small,5.0,Suburban\n"
      val resp = post(api.boundPort,
        multipart(b, Map("formats" -> """["csv"]"""), Some(("file", "input.csv", csv))), b)
      val id = """"session_id": "([^"]+)"""".r.findFirstMatchIn(resp).get.group(1)
      assert(awaitDone(api.boundPort, id).contains("completed"))

      // both rows and file → 400
      val bad = post(api.boundPort,
        multipart(b, Map("rows" -> "5"), Some(("file", "x.csv", csv))), b)
      assert(bad.contains("exactly one"), bad)
      // every format checkbox unchecked → 400, not an empty-output job
      val noFmt = post(api.boundPort,
        multipart(b, Map("rows" -> "5", "formats" -> "[]"), None), b)
      assert(noFmt.contains("at least one format"), noFmt)
      // unknown session
      assert(get(api.boundPort, "/status/nope").statusCode() == 404)
      assert(get(api.boundPort, "/download/nope").statusCode() == 404)
    } finally api.stop()
  }

  test("a served session is deleted: dir gone, /status 404; stop() deletes the root") {
    val api = new WebApi(spark).start()
    try {
      val b = "graftBoundary45"
      def submit(): String = {
        val resp = post(api.boundPort,
          multipart(b, Map("rows" -> "20", "formats" -> """["csv"]"""), None), b)
        val id = """"session_id": "([^"]+)"""".r.findFirstMatchIn(resp).get.group(1)
        assert(awaitDone(api.boundPort, id).contains("completed"))
        assert(Files.isRegularFile(api.root.resolve(id).resolve("results.zip")))
        id
      }
      val (served, kept) = (submit(), submit())
      val zip = get(api.boundPort, s"/download/$served")
      assert(zip.statusCode() == 200)
      assert(zipEntries(zip.body()).exists(_.startsWith("results.csv")))
      assert(get(api.boundPort, s"/status/$served").statusCode() == 404)
      assert(get(api.boundPort, s"/download/$served").statusCode() == 404)
      assert(!Files.exists(api.root.resolve(served)))
      assert(Files.exists(api.root.resolve(kept)))
    } finally api.stop()
    // stop() takes the session nobody downloaded with it
    assert(!Files.exists(api.root))
  }
}
