package graft.sources

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.zip.{ZipEntry, ZipFile, ZipOutputStream}

import scala.collection.mutable
import scala.util.matching.Regex

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** S6/W5 — minimal self-contained XLSX support (no POI available
  * offline; OOXML is a zip of XML parts, which the JDK covers).
  *
  * Writer mirrors the reference's xlsxwriter usage
  * (`sources/writers.py:61-70`): single sheet, header row, row
  * streaming — `toLocalIterator` keeps driver memory constant like
  * `constant_memory=True`. Cells: numbers as native numeric cells,
  * everything else (incl. timestamps, as ISO strings) as inline
  * strings — no shared-strings table needed.
  *
  * Reader handles both inline strings and a sharedStrings part, returns
  * all-string columns plus numeric-looking columns cast to double —
  * the inferred-schema contract of the reference's `pl.read_excel`.
  *
  * XLSX is inherently a single-file, driver-side artifact format: fine
  * for reports, wrong for 100 TB — the parquet/csv/json sinks are the
  * scale paths.
  */
object Xlsx {

  private def xmlEscape(s: String): String =
    s.flatMap {
      case '&' => "&amp;"
      case '<' => "&lt;"
      case '>' => "&gt;"
      case '"' => "&quot;"
      case c if c < ' ' && c != '\t' && c != '\n' && c != '\r' => ""
      case c => c.toString
    }

  /** Streams `df` into a one-sheet workbook; returns the rows written. */
  def write(df: DataFrame, path: String): Long = {
    val p = Paths.get(path)
    if (p.getParent != null) Files.createDirectories(p.getParent)
    val zip = new ZipOutputStream(new BufferedOutputStream(new FileOutputStream(path)))
    def part(name: String, content: String): Unit = {
      zip.putNextEntry(new ZipEntry(name))
      zip.write(content.getBytes(StandardCharsets.UTF_8))
      zip.closeEntry()
    }
    try {
      part("[Content_Types].xml",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
          |<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
          |<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
          |<Default Extension="xml" ContentType="application/xml"/>
          |<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
          |<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>
          |</Types>""".stripMargin)
      part("_rels/.rels",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
          |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
          |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
          |</Relationships>""".stripMargin)
      part("xl/workbook.xml",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
          |<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
          |<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets>
          |</workbook>""".stripMargin)
      part("xl/_rels/workbook.xml.rels",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
          |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
          |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>
          |</Relationships>""".stripMargin)

      zip.putNextEntry(new ZipEntry("xl/worksheets/sheet1.xml"))
      def emit(s: String): Unit = zip.write(s.getBytes(StandardCharsets.UTF_8))
      emit("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""")
      emit("""<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")

      def strCell(v: String): String =
        s"""<c t="inlineStr"><is><t xml:space="preserve">${xmlEscape(v)}</t></is></c>"""
      def numCell(v: String): String = s"<c><v>$v</v></c>"

      emit("<row>" + df.columns.map(strCell).mkString + "</row>")
      val numeric: Array[Boolean] = df.schema.fields.map(_.dataType match {
        case _: NumericType => true
        case _              => false
      })
      // row-streamed like the reference's constant_memory writer
      val it = df.toLocalIterator()
      var rows = 0L
      while (it.hasNext) {
        val row = it.next()
        val cells = new StringBuilder("<row>")
        var i = 0
        while (i < row.length) {
          if (row.isNullAt(i)) cells.append("<c/>")
          else if (numeric(i)) cells.append(numCell(row.get(i).toString))
          else cells.append(strCell(row.get(i) match {
            case t: java.sql.Timestamp => t.toInstant.toString
            case v                     => v.toString
          }))
          i += 1
        }
        emit(cells.append("</row>").toString)
        rows += 1
      }
      emit("</sheetData></worksheet>")
      zip.closeEntry()
      rows
    } finally zip.close()
  }

  private val CellRe: Regex =
    """(?s)<c(?:\s+[^>]*)?>(.*?)</c>|<c(?:\s+[^>]*)?/>""".r
  private val RowRe: Regex = """(?s)<row(?:\s+[^>]*)?>(.*?)</row>""".r
  private val VRe: Regex = """(?s)<v>(.*?)</v>""".r
  private val TRe: Regex = """(?s)<t(?:\s+[^>]*)?>(.*?)</t>""".r
  private val SiRe: Regex = """(?s)<si>(.*?)</si>""".r

  private def xmlUnescape(s: String): String =
    s.replace("&lt;", "<").replace("&gt;", ">").replace("&quot;", "\"")
      .replace("&apos;", "'").replace("&amp;", "&")

  def read(spark: SparkSession, path: String): DataFrame = {
    val zf = new ZipFile(path)
    try {
      def partText(name: String): Option[String] =
        Option(zf.getEntry(name)).map { e =>
          new String(zf.getInputStream(e).readAllBytes(), StandardCharsets.UTF_8)
        }
      val shared: IndexedSeq[String] = partText("xl/sharedStrings.xml")
        .map(x => SiRe.findAllMatchIn(x)
          .map(m => TRe.findAllMatchIn(m.group(1)).map(_.group(1)).mkString)
          .map(xmlUnescape).toIndexedSeq)
        .getOrElse(IndexedSeq.empty)
      val sheet = partText("xl/worksheets/sheet1.xml")
        .getOrElse(throw new IllegalArgumentException(s"no sheet1 in $path"))

      // Honour cell references (r="B2"): Excel and most writers omit
      // EMPTY cells entirely, so positional appending would silently
      // shift later cells left into the wrong columns. Cells without an
      // r attribute (our own writer's output) fall back to position.
      val refRe = """r="([A-Z]+)\d*"""".r
      def colIndex(letters: String): Int =
        letters.foldLeft(0)((acc, c) => acc * 26 + (c - 'A' + 1)) - 1
      val rows: Seq[Seq[String]] = RowRe.findAllMatchIn(sheet).map { rm =>
        val buf = scala.collection.mutable.ArrayBuffer.empty[String]
        CellRe.findAllMatchIn(rm.group(0)).foreach { cm =>
          val cell = cm.group(0)
          val openTag = cell.substring(0, cell.indexOf('>') + 1)
          val body = Option(cm.group(1)).getOrElse("")
          val v =
            if (openTag.contains("t=\"s\""))
              VRe.findFirstMatchIn(body).map(m => shared(m.group(1).trim.toInt)).getOrElse("")
            else if (openTag.contains("inlineStr"))
              TRe.findAllMatchIn(body).map(m => xmlUnescape(m.group(1))).mkString
            else VRe.findFirstMatchIn(body).map(m => xmlUnescape(m.group(1))).getOrElse("")
          val idx = refRe.findFirstMatchIn(openTag)
            .map(m => colIndex(m.group(1))).getOrElse(buf.length)
          while (buf.length <= idx) buf.append("")
          buf(idx) = v
        }
        buf.toSeq
      }.toSeq

      require(rows.nonEmpty, s"empty sheet in $path")
      val header = rows.head
      val width = header.length
      val data = rows.tail.map(r => r.padTo(width, ""))

      // inferred-schema contract: numeric-looking columns become double
      val numRe = """-?\d+(\.\d+)?([eE][+-]?\d+)?""".r
      val isNum = (0 until width).map { i =>
        val vs = data.map(_(i)).filter(_.nonEmpty)
        vs.nonEmpty && vs.forall(v => numRe.matches(v))
      }
      import scala.jdk.CollectionConverters._
      val schema = StructType(header.zipWithIndex.map { case (n, i) =>
        StructField(n, if (isNum(i)) DoubleType else StringType, nullable = true)
      })
      val sparkRows = data.map { r =>
        org.apache.spark.sql.Row.fromSeq(r.zipWithIndex.map { case (v, i) =>
          if (v.isEmpty) null else if (isNum(i)) v.toDouble else v
        })
      }
      spark.createDataFrame(sparkRows.asJava, schema)
    } finally zf.close()
  }
}
