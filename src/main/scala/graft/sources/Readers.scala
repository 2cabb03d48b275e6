package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructType, TimestampType}

/** S2-S8 — file readers + extension dispatch + the datetime normalization
  * cast, mirroring `/root/reference/supercourier_etl/sources/readers.py` and
  * `core/extract.py:16-22,57-80`. All readers return a plain DataFrame; the
  * schema contract is enforced downstream exactly like the reference
  * (column references fail at analysis, not read, time), except that a CSV
  * whose header is the contract's is read with the contract's types.
  */
object Readers {

  /** S2 (`sources/readers.py:30-33`): a headed CSV.
    *
    * Schema inference is a whole extra pass over the input before any work
    * starts (or, sampled, a pass that can pick the wrong type). With a
    * `contract` whose field names are exactly the first data file's header
    * names (any order, exact case), the file is read with the contract's
    * types in header order instead: no inference pass, and `FAILFAST` keeps
    * a malformed value fatal at the read, as the ANSI casts downstream of an
    * inferred string column do. File sources make a declared schema
    * nullable, so an empty cell still reads as null. Every other case — no
    * contract, another header, an unreadable first file — infers as before.
    */
  def csv(spark: SparkSession, path: String, contract: Option[StructType] = None): DataFrame = {
    val reader = spark.read.option("header", "true")
    val declared = for {
      schema <- contract
      header <- csvHeader(spark, path)
      if header.sorted == schema.fieldNames.toSeq.sorted
    } yield StructType(header.map(schema(_)))
    declared match {
      // enforceSchema=false checks every file's header against the
      // schema, so a part file with another column order fails instead
      // of reading positionally into the wrong columns
      case Some(s) =>
        reader.schema(s).option("mode", "FAILFAST").option("enforceSchema", "false").csv(path)
      case None => reader.option("inferSchema", "true").csv(path)
    }
  }

  /** The comma-separated names on the first line of the first data file;
    * `None` when that line does not end within the first `limit` bytes.
    */
  private def csvHeader(spark: SparkSession, path: String, limit: Int = 4096): Option[Seq[String]] =
    headOfFirstFile(spark, path, limit).flatMap { bytes =>
      val text = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
      val end = text.indexWhere(c => c == '\n' || c == '\r')
      if (end < 0 && bytes.length == limit) None
      else Some(text.substring(0, if (end < 0) text.length else end).split(",", -1).toSeq)
    }

  /** Up to `maxBytes` leading bytes of `path`, or of the first data file
    * (by name, skipping `_`/`.` files) when `path` is a directory. `None`
    * when there is no such file or it cannot be read (glob paths, empty
    * directories), so callers fall back to a full Spark read.
    */
  private def headOfFirstFile(spark: SparkSession, path: String, maxBytes: Int): Option[Array[Byte]] =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val st = fs.getFileStatus(p)
      val file =
        if (st.isFile) Some(p)
        else fs.listStatus(p).iterator
          .filter(s => s.isFile && !s.getPath.getName.startsWith("_")
            && !s.getPath.getName.startsWith("."))
          .map(_.getPath).toSeq.sortBy(_.getName).headOption
      file.map { f =>
        val in = fs.open(f)
        try in.readNBytes(maxBytes) finally in.close()
      }
    } catch { case _: Exception => None }

  /** S3 (`sources/readers.py:35-38`): the reference reads a whole-file JSON
    * array; Spark's default JSON is NDJSON, so try multiLine first and fall
    * back so both layouts (and our own W2 NDJSON output) round-trip.
    */
  def json(spark: SparkSession, path: String): DataFrame = {
    // Sniff the first non-whitespace byte (one 256-byte driver-side
    // read of one file) instead of fully parsing the data twice: '['
    // means a whole-file JSON array (the reference layout → multiLine),
    // anything else NDJSON (Spark's native layout, and our W2 output).
    // An all-whitespace (or empty) sample proves nothing, and a sniff
    // hiccup (glob paths, empty dir) reads nothing: both fall through to
    // the parse-then-retry probe, never to Some(false), which would
    // mis-read a whitespace-padded array file as NDJSON and yield
    // _corrupt_record rows.
    val arraySniff: Option[Boolean] =
      headOfFirstFile(spark, path, 256).flatMap { bytes =>
        bytes.iterator.map(_.toChar).find(c => !c.isWhitespace).map(_ == '[')
      }

    arraySniff match {
      case Some(true)  => spark.read.option("multiLine", "true").json(path)
      case Some(false) => spark.read.json(path)
      case None =>
        val ndjson = spark.read.json(path)
        if (ndjson.columns.contains("_corrupt_record") || ndjson.columns.isEmpty)
          spark.read.option("multiLine", "true").json(path)
        else ndjson
    }
  }

  /** S4 (`sources/readers.py:40-43`). */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** S4b (extension; pairs with [[Writers.orc]]): ORC scan — vectorized,
    * filter-pushdown-capable, same as the parquet path.
    */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** S4c (extension; pairs with [[Writers.text]]): line-oriented text —
    * one row per line in a single `value` string column. The on-ramp
    * for raw corpora (one doc/record per line) before any schema is
    * imposed; splittable and distributed like every other file source.
    */
  def text(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)

  /** Extension (multimodal ingestion): raw files as rows —
    * (path, modificationTime, length, content binary) via Spark's
    * `binaryFile` source. This is the on-ramp for image/audio/video
    * payloads into the `Multimodal` operators: distributed file
    * listing + pruning by `pathGlobFilter`, content never touches the
    * driver. `maxBytesPerFile` guards a single huge file from pinning
    * one task's memory.
    */
  def binaryFiles(spark: SparkSession, path: String,
      glob: Option[String] = None): DataFrame = {
    val r = spark.read.format("binaryFile")
    glob.fold(r)(g => r.option("pathGlobFilter", g)).load(path)
  }

  /** S5 (`sources/readers.py:45-50`): `SELECT * FROM deliveries` over a
    * local DB. The environment ships no sqlite-jdbc jar, so the same JDBC
    * path is exercised against embedded Derby (`jdbc:derby:<path>`); a
    * sqlite URL works unchanged once its driver jar is on the classpath.
    */
  def jdbc(spark: SparkSession, url: String, table: String = "deliveries"): DataFrame =
    spark.read.format("jdbc").option("url", url).option("dbtable", table).load()

  /** S6 (`sources/readers.py:52-55`): dependency-free OOXML reader —
    * see [[Xlsx]] (no POI offline, so the zip-of-XML is parsed directly).
    */
  def xlsx(spark: SparkSession, path: String): DataFrame =
    Xlsx.read(spark, path)

  /** S7 (`core/extract.py:16-22,57-72`): extension dispatch; unknown
    * extension → IllegalArgumentException, missing file surfaces as
    * AnalysisException like the reference's FileNotFoundError. Only
    * [[csv]] uses the `contract` (to skip its inference pass); the other
    * formats ignore it, and JSON keeps inferring.
    */
  def read(spark: SparkSession, path: String, contract: Option[StructType] = None): DataFrame = {
    val ext = path.substring(path.lastIndexOf('.') + 1).toLowerCase
    ext match {
      case "csv"            => csv(spark, path, contract)
      case "json"           => json(spark, path)
      case "parquet"        => parquet(spark, path)
      case "orc"            => orc(spark, path)
      case "txt" | "text"   => text(spark, path)
      case "db" | "sqlite"  => jdbc(spark, s"jdbc:sqlite:$path")
      case "xlsx"           => xlsx(spark, path)
      case other =>
        throw new IllegalArgumentException(s"Unsupported source format: .$other ($path)")
    }
  }

  /** S8 (`core/extract.py:77-80`): the normalization cast applied after
    * every extract path — makes CSV (string timestamps) and Parquet (native
    * timestamps) sources equivalent.
    */
  def normalizeTimestamps(df: DataFrame): DataFrame =
    Seq("Pickup_DateTime", "Delivery_Timestamp").foldLeft(df) { (d, c) =>
      if (d.columns.contains(c)) d.withColumn(c, col(c).cast(TimestampType)) else d
    }
}
