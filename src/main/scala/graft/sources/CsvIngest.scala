package graft.sources

import graft.api.{IngestError, Validation}
import org.apache.spark.sql.{DataFrame, Observation, Row, SaveMode, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import scala.jdk.CollectionConverters._

/** CSV source/sink — SURVEY.md §2.3 (S1–S5).
  *
  * Import parity target (`/root/reference/backend/main.py:233-239`):
  * `pd.read_csv(..., delimiter=d, dtype=str, na_filter=False)` — header row,
  * configurable single-char delimiter, EVERY value a string, and empty cells
  * are empty strings, never null (na_filter=False also keeps literal "NA"/"NaN"
  * as text).
  *
  * Export parity target (main.py:193-194): `df.to_csv(index=False,
  * encoding='utf-8-sig')` — header from the selected columns, no index column,
  * leading UTF-8 BOM.
  *
  * Scale note: the reference reads the whole upload into driver RAM
  * (main.py:233). Here executors parse file splits in parallel —
  * `spark.read.csv` over a directory of parts is the 100 TB path; the
  * driver-side string APIs below exist only for the reference's small
  * inline-payload contract.
  */
object CsvIngest {

  /** A null sentinel that cannot occur in CSV text: with `nullValue` bound to
    * it, no field ever parses as null, reproducing `na_filter=False`.
    */
  private val NeverNull = "\u0000"

  /** S1 — all-string read (current-source parity: every column String,
    * `""` preserved, "NA" literal). Schema is taken from the header.
    * Quoted fields may span lines (RFC 4180, as [[parseUpload]] reads
    * them): `multiLine` parses each file whole rather than by line splits.
    */
  def readAllString(spark: SparkSession, path: String, delimiter: String = ","): DataFrame = {
    val df = spark.read
      .option("header", "true")
      .option("multiLine", "true")
      .option("sep", delimiter)
      .option("nullValue", NeverNull)
      .option("emptyValue", "")
      .csv(path)
    // Header-only or zero-byte files parse to an empty frame — reference
    // rejects with 400 (main.py:241-245).
    if (df.isEmpty) throw IngestError.EmptyFile
    // Unquoted empty fields still surface as null from the univocity parser;
    // with the sentinel bound to nullValue those are the ONLY nulls possible,
    // so filling "" is exactly pandas' na_filter=False.
    df.na.fill("")
  }

  /** S1 (inferred mode) — the old-revision behavior recovered from the
    * reference's `.pyc` (SURVEY.md §8): numeric → Float64/Int64, datetime →
    * DateTime, else String. Spark's schema inference subsumes it. Quoted
    * fields may span lines, as in [[readAllString]].
    */
  def readInferred(spark: SparkSession, path: String, delimiter: String = ","): DataFrame = {
    val df = spark.read
      .option("header", "true")
      .option("multiLine", "true")
      .option("sep", delimiter)
      .option("inferSchema", "true")
      .csv(path)
    if (df.isEmpty) throw IngestError.EmptyFile
    df
  }

  /** Parse an in-memory upload (filename-gated, as main.py:227-231). This is
    * the reference's exact entry shape; prefer [[readAllString]] on a path for
    * anything that doesn't fit in driver memory.
    *
    * The payload is parsed ON the driver (quote-aware, multiline-safe RFC 4180
    * state machine) and handed to Spark via `createDataFrame` — cluster-safe:
    * no driver-local temp file that executors (or a non-local fs.defaultFS)
    * could fail to resolve, and a single pass over the data.
    */
  def parseUpload(
      spark: SparkSession,
      filename: String,
      content: String,
      delimiter: String = ","): DataFrame = {
    if (!Validation.isSupportedFilename(filename)) throw IngestError.UnsupportedFileType
    if (content.trim.isEmpty) throw IngestError.EmptyFile
    // pandas accepts only a single-char C-engine separator here; silently
    // splitting on the first char of a longer string would corrupt fields
    if (delimiter.length != 1)
      throw IngestError.ImportFailed(s"delimiter must be a single character, got '$delimiter'")
    val records = parseCsvRecords(content, delimiter.head)
    // Header-only (or empty) parse → reference rejects with 400 (main.py:241-245).
    if (records.length <= 1) throw IngestError.EmptyFile
    val header = records.head
    val width = header.length
    // Ragged rows, pandas parity: FEWER fields than the header → pad with
    // "" (NaN under dtype=str); MORE fields → tokenizing error (the
    // reference's read_csv raises, surfacing as an import failure).
    val rows: java.util.List[org.apache.spark.sql.Row] = records.tail.zipWithIndex.map {
      case (r, i) =>
        if (r.length > width)
          throw IngestError.ImportFailed(
            s"Error tokenizing data: expected $width fields in line ${i + 2}, saw ${r.length}")
        org.apache.spark.sql.Row.fromSeq(r.padTo(width, ""))
    }.asJava
    spark.createDataFrame(rows, allStringSchema(header))
  }

  /** Quote-aware CSV record split (RFC 4180): quoted fields may contain the
    * delimiter, doubled quotes, and embedded newlines; CRLF and LF both end
    * records; a trailing newline does not produce an empty final record.
    * Driver-side by design — used only for the reference's small inline
    * upload contract; file-path reads stay distributed.
    */
  private[sources] def parseCsvRecords(content: String, delimiter: Char): Vector[Vector[String]] = {
    val records = Vector.newBuilder[Vector[String]]
    var fields = Vector.newBuilder[String]
    val cell = new StringBuilder
    var inQuotes = false
    var sawAny = false // current record has content (guards trailing newline)
    var i = 0
    val n = content.length
    while (i < n) {
      val c = content.charAt(i)
      if (inQuotes) {
        if (c == '"') {
          if (i + 1 < n && content.charAt(i + 1) == '"') { cell.append('"'); i += 1 }
          else inQuotes = false
        } else cell.append(c)
      } else c match {
        case '"' => inQuotes = true; sawAny = true
        case `delimiter` =>
          fields += cell.result(); cell.clear(); sawAny = true
        case '\r' =>
          if (i + 1 < n && content.charAt(i + 1) == '\n') i += 1
          if (sawAny || cell.nonEmpty) {
            fields += cell.result(); cell.clear()
            records += fields.result(); fields = Vector.newBuilder[String]
            sawAny = false
          }
        case '\n' =>
          if (sawAny || cell.nonEmpty) {
            fields += cell.result(); cell.clear()
            records += fields.result(); fields = Vector.newBuilder[String]
            sawAny = false
          }
        case other => cell.append(other); sawAny = true
      }
      i += 1
    }
    if (sawAny || cell.nonEmpty) {
      fields += cell.result()
      records += fields.result()
    }
    records.result()
  }

  /** Reference defaults (main.py:220-221): target table and delimiter when
    * the import request omits them.
    */
  val DefaultImportTable = "imported_data"
  val DefaultDelimiter = ","

  /** S3 — CREATE TABLE IF NOT EXISTS ≈ mode(Ignore) saveAsTable; S4 — batched
    * append ≈ mode(Append). The reference's manual 10k-row insert loop
    * (main.py:273-286) disappears into task partitioning; on a cluster the
    * parallelism is per-file-split, not a driver loop.
    */
  def createIfNotExists(df: DataFrame, table: String): Unit = {
    Validation.requireValidTable(table)
    df.limit(0).write.mode(SaveMode.Ignore).saveAsTable(table)
  }

  def append(df: DataFrame, table: String): Unit = {
    Validation.requireValidTable(table)
    df.write.mode(SaveMode.Append).saveAsTable(table)
  }

  private val logger = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Import result envelope — field-for-field parity with main.py:288-294
    * (`status`, `count`, `columns`, `table`, `imported_at`).
    */
  final case class ImportResult(
      status: String, count: Long, columns: Seq[String], table: String,
      importedAt: String)

  /** One lock per target table name (case-insensitive, as the catalog
    * resolves names): two appends into one managed table share its
    * `_temporary` job dir, and the second job's commit fails on files the
    * first one moved or cleaned.
    */
  private val importLocks =
    new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  /** Import end-to-end (flatfile→table): ensure table, append rows, return
    * the envelope — parity with main.py:288-294; failures wrap as
    * `Import failed: …` (main.py:295-302). Imports into one table run one
    * at a time; imports into different tables run concurrently.
    */
  def importInto(df: DataFrame, table: String = DefaultImportTable): ImportResult =
    importLocks.computeIfAbsent(table.toLowerCase(java.util.Locale.ROOT),
      _ => new AnyRef).synchronized {
      try {
        createIfNotExists(df, table)
        append(df, table)
        val n = df.count()
        logger.info(s"Inserted $n/$n rows") // main.py:286 (single distributed batch)
        ImportResult(
          "success", n, df.columns.toSeq, table,
          java.time.LocalDateTime.now().toString)
      } catch {
        case e: IngestError =>
          logger.error(s"Import error: ${e.getMessage}")
          throw e
        case e: Exception =>
          logger.error(s"Import error: ${e.getMessage}")
          throw IngestError.ImportFailed(e.getMessage)
      }
    }

  /** All-string schema helper for symmetric round-trips. */
  def allStringSchema(names: Seq[String]): StructType =
    StructType(names.map(StructField(_, StringType, nullable = true)))

  // ----- export side (S5) -----

  /** UTF-8 BOM the reference emits via `encoding='utf-8-sig'` (main.py:194). */
  val Bom = "\uFEFF"

  /** S5 (inline contract) — serialize a SMALL result to one CSV string with
    * header + BOM, matching pandas `to_csv(index=False)` quoting (quote only
    * when a field contains delimiter/quote/newline; quotes double). Collects
    * to the driver by design — callers must pre-limit; the distributed path
    * is [[writeCsv]].
    */
  def toCsvString(df: DataFrame, delimiter: String = ","): String =
    rowsToCsvString(df.columns, df.collect(), delimiter)

  /** Format already-collected rows — lets callers that have the rows in hand
    * (e.g. [[graft.operators.Exporter.export]]'s single-pass inline path)
    * serialize without re-executing the query.
    */
  def rowsToCsvString(columns: Array[String], rows: Array[Row], delimiter: String = ","): String = {
    val d = delimiter
    def cell(v: Any): String = {
      val s = if (v == null) "" else v.toString
      if (s.contains(d) || s.contains("\"") || s.contains("\n") || s.contains("\r"))
        "\"" + s.replace("\"", "\"\"") + "\""
      else s
    }
    val header = columns.map(cell(_)).mkString(d)
    val body = rows.map(_.toSeq.map(cell).mkString(d))
    (Seq(Bom + header) ++ body).mkString("", "\n", "\n")
  }

  /** S5 (distributed) — parallel CSV write; the 100 TB path. Spark never
    * emits a BOM itself; for byte-parity consumers, BOM-prefix the first part
    * via [[bomPrefixParts]] after the write.
    */
  def writeCsv(df: DataFrame, path: String, delimiter: String = ","): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .option("header", "true")
      .option("sep", delimiter)
      .option("emptyValue", "\"\"")
      .csv(path)

  /** Distributed CSV write that also returns the row count from the SAME
    * execution via the `Observation` API — no second job, no re-scan. This is
    * the scale-safe count+data shape for the export envelope.
    */
  def writeCsvCounted(df: DataFrame, path: String, delimiter: String = ","): Long = {
    import org.apache.spark.sql.functions.{count, lit}
    val obs = Observation()
    writeCsv(df.observe(obs, count(lit(1)).as("rows")), path, delimiter)
    obs.get("rows").asInstanceOf[Long]
  }

  /** Prepend the UTF-8 BOM to every part file of a written CSV directory
    * (each part carries its own header+BOM so any single part is a valid
    * `utf-8-sig` flat file, as downstream pandas consumers expect).
    *
    * Goes through the Hadoop FileSystem API, so `path` may be any URI
    * [[writeCsv]] accepts (`file:`, HDFS, an object store) — a
    * `java.io.File` listing finds nothing there and silently writes no
    * BOM. Each part is streamed into a hidden sibling behind the BOM and
    * renamed over the original; on a checksummed filesystem the rename
    * carries the sibling's fresh `.crc` along, so the sidecar stays valid.
    */
  def bomPrefixParts(path: String): Unit = {
    import org.apache.hadoop.fs.{FileContext, Options, Path}
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf)
    val bom = Array(0xEF.toByte, 0xBB.toByte, 0xBF.toByte)
    val parts = fs.listStatus(dir)
      .filter(st => st.getPath.getName.startsWith("part-") &&
        st.getPath.getName.endsWith(".csv"))
    parts.foreach { st =>
      val p = st.getPath
      val first =
        if (st.getLen < 3) -1
        else { val in = fs.open(p); try in.read() finally in.close() }
      if (first != 0xEF) {
        val tmp = fs.makeQualified(new Path(dir, s".${p.getName}.bom"))
        val out = fs.create(tmp, true)
        try {
          out.write(bom)
          val src = fs.open(p)
          try org.apache.hadoop.io.IOUtils.copyBytes(src, out, 1 << 16, false)
          finally src.close()
        } finally out.close()
        FileContext.getFileContext(fs.getUri, conf)
          .rename(tmp, p, Options.Rename.OVERWRITE)
      }
    }
  }
}
