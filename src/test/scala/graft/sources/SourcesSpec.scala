package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.SparkException
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType}

import graft.SparkSpec
import graft.etl.Pipeline

/** Reader/writer round-trips + dispatch errors (S2-S8, W1-W4). */
class SourcesSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String): String =
    Files.createTempDirectory("graft_src").resolve(name).toString

  private lazy val sample = Seq(
    ("SC1", "2025-01-01T10:00:00", "2025-01-01T11:00:00", "Small", 5.0, "Urban"),
    ("SC2", "2025-01-02T12:00:00", "2025-01-02T12:30:00", "Large", 9.5, "Rural"))
    .toDF("Delivery_ID", "Pickup_DateTime", "Delivery_Timestamp",
      "Package_Type", "Distance", "Delivery_Zone")

  test("csv round-trip + normalization cast yields timestamps") {
    val p = tmp("t.csv")
    Writers.csv(sample, p, singleFile = true)
    val back = Readers.normalizeTimestamps(Readers.read(spark, p))
    assert(back.count() == 2)
    assert(back.schema("Pickup_DateTime").dataType ==
      org.apache.spark.sql.types.TimestampType)
  }

  test("csv with the contract's header takes its types in header order; empty cells read null") {
    val p = tmp("contract.csv")
    Files.writeString(Paths.get(p),
      "Distance,Delivery_ID,Pickup_DateTime,Delivery_Timestamp,Package_Type,Delivery_Zone\n" +
        "5,SC1,2025-01-01T10:00:00,2025-01-01T11:00:00,Small,Urban\n" +
        ",SC2,2025-01-02 12:00:00,2025-01-02,Large,Rural\n")
    val back = Readers.csv(spark, p, Some(Pipeline.Contract))
    assert(back.columns.toSeq == Seq("Distance", "Delivery_ID", "Pickup_DateTime",
      "Delivery_Timestamp", "Package_Type", "Delivery_Zone"))
    assert(back.schema.fields.toSeq.map(f => f.name -> f.dataType) ==
      back.columns.toSeq.map(c => c -> Pipeline.Contract(c).dataType))
    // the contract's Distance is a primitive double; the file source
    // still reads it nullable
    assert(!Pipeline.Contract("Distance").nullable && back.schema.forall(_.nullable))
    val rows = back.orderBy("Delivery_ID").collect()
    assert(rows(0).getDouble(0) == 5.0 && rows(1).isNullAt(0))
    assert(rows(1).getTimestamp(3) == java.sql.Timestamp.valueOf("2025-01-02 00:00:00"))
  }

  test("csv part files: the contract path reads a directory; no contract still infers") {
    val p = tmp("parts.csv")
    Writers.csv(sample.withColumn("Distance", col("Distance").cast("int")).repartition(2), p)
    val declared = Readers.csv(spark, p, Some(Pipeline.Contract))
    assert(declared.schema("Distance").dataType == DoubleType)
    assert(declared.orderBy("Delivery_ID").select("Distance").as[Double].collect().toSeq == Seq(5.0, 9.0))
    assert(Readers.csv(spark, p).schema("Distance").dataType == IntegerType)
    // a header that is not exactly the contract's (case differs) infers too
    val lower = tmp("lower.csv")
    Writers.csv(sample.toDF(sample.columns.map(_.toLowerCase): _*)
      .withColumn("distance", col("distance").cast("int")), lower)
    assert(Readers.csv(spark, lower, Some(Pipeline.Contract)).schema("distance").dataType == IntegerType)
  }

  test("csv with the contract: a part file in another column order fails instead of misreading") {
    val dir = tmp("mixed.csv")
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(dir, "part-0.csv"),
      "Delivery_ID,Pickup_DateTime,Delivery_Timestamp,Package_Type,Distance,Delivery_Zone\n" +
        "SC1,2025-01-01T10:00:00,2025-01-01T11:00:00,Small,5.0,Urban\n")
    // two string columns swapped: every value would parse in place
    Files.writeString(Paths.get(dir, "part-1.csv"),
      "Delivery_ID,Pickup_DateTime,Delivery_Timestamp,Delivery_Zone,Distance,Package_Type\n" +
        "SC2,2025-01-01T10:00:00,2025-01-01T11:00:00,Rural,7.5,Small\n")
    val e = intercept[SparkException](Readers.csv(spark, dir, Some(Pipeline.Contract)).collect())
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage).toSeq
    assert(causes.exists(_.contains("CSV header does not conform to the schema")), causes)
  }

  test("ndjson writer output reads back via the json reader") {
    val p = tmp("t.json")
    Writers.ndjson(sample, p, singleFile = true)
    val back = Readers.read(spark, p)
    assert(back.count() == 2)
    assert(back.columns.toSet.contains("Delivery_ID"))
  }

  test("whole-file JSON array (the reference's layout) also reads") {
    val dir = Files.createTempDirectory("graft_src")
    val p = dir.resolve("arr.json").toString
    Files.writeString(Paths.get(p),
      """[{"Delivery_ID":"SC1","Distance":5.0},{"Delivery_ID":"SC2","Distance":7.0}]""")
    val back = Readers.read(spark, p)
    assert(back.count() == 2)
  }

  test("JSON array behind >256 bytes of leading whitespace still reads as array") {
    // the sniff's 256-byte sample sees only whitespace → it must fall
    // through to the parse-then-retry probe, not declare NDJSON
    val dir = Files.createTempDirectory("graft_srcws")
    val p = dir.resolve("padded.json").toString
    Files.writeString(Paths.get(p),
      " " * 300 +
        """[{"Delivery_ID":"SC1","Distance":5.0},{"Delivery_ID":"SC2","Distance":7.0}]""")
    val back = Readers.read(spark, p)
    assert(!back.columns.contains("_corrupt_record"), back.columns.mkString(","))
    assert(back.count() == 2)
  }

  test("parquet round-trip preserves schema exactly") {
    val p = tmp("t.parquet")
    val typed = Readers.normalizeTimestamps(sample)
    Writers.parquet(typed, p)
    val back = Readers.read(spark, p)
    // parquet read-back is always-nullable by design; names+types must hold
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      typed.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(back.count() == 2)
  }

  test("jdbc (embedded Derby standing in for sqlite) write then read") {
    val db = Files.createTempDirectory("graft_derby").resolve("db").toString
    val url = s"jdbc:derby:$db;create=true"
    Writers.jdbc(sample.select(col("Delivery_ID"), col("Distance")), url)
    val back = Readers.jdbc(spark, url)
    assert(back.count() == 2)
    assert(back.columns.map(_.toLowerCase).toSet == Set("delivery_id", "distance"))
    // W4 semantics: append, not overwrite
    Writers.jdbc(sample.select(col("Delivery_ID"), col("Distance")), url)
    assert(Readers.jdbc(spark, url).count() == 4)
  }

  test("binaryFile source: raw payloads as rows, glob-filtered, content intact") {
    val dir = Files.createTempDirectory("graft_bin")
    val payload = Array.tabulate[Byte](300)(i => (i % 251).toByte)
    Files.write(dir.resolve("a.img"), payload)
    Files.write(dir.resolve("b.img"), Array[Byte](1, 2, 3))
    Files.write(dir.resolve("skip.txt"), "not media".getBytes)
    val rows = Readers.binaryFiles(spark, dir.toString, Some("*.img"))
      .orderBy("path").collect()
    assert(rows.length == 2, "glob must exclude the .txt")
    assert(rows(0).getAs[String]("path").endsWith("a.img"))
    assert(rows(0).getAs[Long]("length") == 300L)
    assert(rows(0).getAs[Array[Byte]]("content").toSeq == payload.toSeq,
      "payload bytes must round-trip exactly")
  }

  test("dispatch: unknown extension raises") {
    intercept[IllegalArgumentException](Readers.read(spark, "/tmp/x.tsv"))
  }

  test("xlsx round-trip: header, strings, numbers, nulls, timestamps, escaping") {
    val dir = Files.createTempDirectory("graft_xlsx")
    val p = dir.resolve("t.xlsx").toString
    val df = Readers.normalizeTimestamps(sample)
      .withColumn("Tricky", org.apache.spark.sql.functions.lit("""a<b&"c">d"""))
      .withColumn("MaybeNull",
        org.apache.spark.sql.functions.when(col("Distance") > 6, "x"))
    Writers.xlsx(df, p)
    val back = Readers.read(spark, p)
    assert(back.columns.toSeq == df.columns.toSeq)
    assert(back.count() == 2)
    val r = back.orderBy("Delivery_ID").collect()
    assert(r(0).getAs[String]("Delivery_ID") == "SC1")
    assert(r(0).getAs[Double]("Distance") == 5.0) // numeric inferred
    assert(r(0).getAs[String]("Tricky") == """a<b&"c">d""")
    assert(r(0).getAs[String]("MaybeNull") == null)
    assert(r(1).getAs[String]("MaybeNull") == "x")
    assert(r(0).getAs[String]("Pickup_DateTime").startsWith("2025-01-01T10:00:00"))

    // xlsx through the full pipeline "all" fan-out
    val out = dir.resolve("res").toString
    val cfg = graft.etl.PipelineConfig(
      graft.etl.SourceConfig.Generate(50), graft.etl.OutputConfig(out, "all"))
    val (_, res) = new graft.etl.Pipeline(spark, cfg).run()
    assert(res.rows == 50)
    val xl = Readers.read(spark, s"$out.xlsx")
    assert(xl.count() == 50 && xl.columns.length == 13)
  }

  test("text round-trip: lines survive verbatim; dispatch routes .txt") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_text_rt")
    val p = s"$dir/lines.txt"
    val lines = Seq("alpha|1", "beta|2", "with spaces and | pipe", "")
    Writers.text(lines.toDF("value"), p)
    val back = Readers.read(spark, p).as[String].collect().toSeq
    assert(back.sorted == lines.sorted)
  }

  test("compaction collapses a fragmented table into targetFiles splittable parts") {
    val tmp = Files.createTempDirectory("graft_compact_spec").toString
    val df = spark.range(10000).selectExpr("id", "id % 7 AS k")
    df.repartition(64).write.mode("overwrite").parquet(s"$tmp/frag")
    def parts(p: String): Int = new java.io.File(p).listFiles
      .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(parts(s"$tmp/frag") == 64)

    Writers.compacted(spark.read.parquet(s"$tmp/frag"), s"$tmp/comp", targetFiles = 4)
    assert(parts(s"$tmp/comp") == 4)
    // the hard cap re-splits parts that would exceed maxRecordsPerFile
    Writers.compacted(spark.read.parquet(s"$tmp/frag"), s"$tmp/comp2",
      targetFiles = 2, maxRecordsPerFile = 1000L)
    assert(parts(s"$tmp/comp2") >= 10)
    // pure layout change: content identical
    val back = spark.read.parquet(s"$tmp/comp")
      .agg(sum(col("id")), count(lit(1))).as[(Long, Long)].head()
    assert(back == ((10000L * 9999L / 2, 10000L)))
  }

  test("xlsx reader honours r= cell refs: omitted empty cells don't shift columns") {
    // Excel/xlsxwriter omit empty cells entirely and address the rest by
    // reference — build such a sheet by hand (external-upload shape)
    val dir = Files.createTempDirectory("graft_xlsx_sparse")
    val p = dir.resolve("sparse.xlsx")
    val sheet =
      """<?xml version="1.0"?><worksheet><sheetData>
        |<row r="1"><c r="A1" t="inlineStr"><is><t>name</t></is></c><c r="B1" t="inlineStr"><is><t>note</t></is></c><c r="C1" t="inlineStr"><is><t>score</t></is></c></row>
        |<row r="2"><c r="A2" t="inlineStr"><is><t>alpha</t></is></c><c r="C2"><v>7</v></c></row>
        |<row r="3"><c r="B3" t="inlineStr"><is><t>only-note</t></is></c><c r="C3"><v>9</v></c></row>
        |</sheetData></worksheet>""".stripMargin
    val zos = new java.util.zip.ZipOutputStream(Files.newOutputStream(p))
    zos.putNextEntry(new java.util.zip.ZipEntry("xl/worksheets/sheet1.xml"))
    zos.write(sheet.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    zos.closeEntry(); zos.close()

    val back = Readers.read(spark, p.toString).orderBy("score").collect()
    assert(back.map(_.getAs[Double]("score")).toSeq == Seq(7.0, 9.0))
    assert(back(0).getAs[String]("name") == "alpha")
    assert(back(0).getAs[String]("note") == null)     // B2 omitted, not shifted
    assert(back(1).getAs[String]("name") == null)     // A3 omitted
    assert(back(1).getAs[String]("note") == "only-note")
  }
}
