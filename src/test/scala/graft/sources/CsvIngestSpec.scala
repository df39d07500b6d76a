package graft.sources

import graft.SparkSpec
import graft.api.IngestError
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, TimestampType}

/** B1–B5 fixtures from FIXTURES.md — reference ingest-semantics pins. */
class CsvIngestSpec extends SparkSpec {

  private def write(name: String, content: String): String = {
    val dir = tmpDir("csv_fixture")
    val p = java.nio.file.Paths.get(dir, name)
    java.nio.file.Files.writeString(p, content)
    p.toString
  }

  test("B1: all-string read, empty is empty string not null, NA literal kept") {
    val p = write("b1.csv", "id,name,note\n1,alpha,hello\n2,beta,\n3,,NA\n")
    val df = CsvIngest.readAllString(spark, p)
    assert(df.schema.fields.forall(_.dataType == StringType))
    val rows = df.orderBy("id").collect()
    assert(rows.length == 3)
    assert(rows(1).getString(2) == "")   // empty note stays "", not null
    assert(rows(2).getString(1) == "")   // empty name stays ""
    assert(rows(2).getString(2) == "NA") // na_filter=False: literal NA
    assert(rows(1).getString(0) == "2")  // id stays the string "2"
  }

  test("B2: alternate delimiter") {
    val p = write("b2.csv", "id;amount;when\n10;3.5;2024-01-01 00:00:00\n11;4.25;2024-06-30 12:00:00\n")
    val df = CsvIngest.readAllString(spark, p, delimiter = ";")
    assert(df.columns.toSeq == Seq("id", "amount", "when"))
    assert(df.schema.fields.forall(_.dataType == StringType))
    assert(df.count() == 2)
  }

  test("B3: typed-inference mode maps int64/float64/datetime64") {
    val p = write("b3.csv", "id;amount;when\n10;3.5;2024-01-01 00:00:00\n11;4.25;2024-06-30 12:00:00\n")
    val df = CsvIngest.readInferred(spark, p, delimiter = ";")
    val types = df.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(types("id") == LongType || types("id") == org.apache.spark.sql.types.IntegerType)
    assert(types("amount") == DoubleType)
    assert(types("when") == TimestampType)
  }

  test("B4: rejects non-CSV filename and empty file") {
    intercept[IngestError.UnsupportedFileType.type] {
      CsvIngest.parseUpload(spark, "a.parquet", "x,y\n1,2\n")
    }
    intercept[IngestError.EmptyFile.type] {
      CsvIngest.parseUpload(spark, "a.csv", "id,name\n")
    }
  }

  test("parseUpload handles quoted fields with embedded newlines (multiLine CSV)") {
    val content = "id,note\n1,\"line one\nline two\"\n2,plain\n"
    val df = CsvIngest.parseUpload(spark, "upload.csv", content)
    val rows = df.orderBy("id").collect()
    assert(rows.length == 2)
    assert(rows(0).getString(1) == "line one\nline two")
    assert(rows(1).getString(1) == "plain")
  }

  test("file reads keep quoted embedded LF and CRLF: the same rows as parseUpload") {
    val content =
      "id,note\n1,\"line one\nline two\"\n2,\"crlf one\r\ncrlf two\"\n3,plain\n"
    val p = write("nl.csv", content)
    val expected = CsvIngest.parseUpload(spark, "nl.csv", content)
      .orderBy("id").collect().toSeq
    assert(expected.map(_.getString(1)) ==
      Seq("line one\nline two", "crlf one\r\ncrlf two", "plain"))
    assert(CsvIngest.readAllString(spark, p).orderBy("id").collect().toSeq ==
      expected)
    assert(CsvIngest.readInferred(spark, p).orderBy("id").collect().toSeq
      .map(_.getString(1)) == expected.map(_.getString(1)))
  }

  test("writeCsvCounted counts 0 for an empty result, filtered or emptied by a join") {
    import org.apache.spark.sql.functions.{col, lit}
    val nation = graft.core.Tables.load(spark, sf, "nation")
    val region = graft.core.Tables.load(spark, sf, "region")
    assert(CsvIngest.writeCsvCounted(nation.filter(lit(false)), tmpDir("csv_counted_a")) == 0L)
    val noRegion = region.filter(col("r_regionkey") < 0)
    val joined = nation.join(noRegion, nation("n_regionkey") === noRegion("r_regionkey"))
    assert(CsvIngest.writeCsvCounted(joined, tmpDir("csv_counted_b")) == 0L)
    // the same join shuffled: an empty stage lets AQE drop operators above it
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prior = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try assert(CsvIngest.writeCsvCounted(joined, tmpDir("csv_counted_c")) == 0L)
    finally spark.conf.set(key, prior)
  }

  test("parseUpload: CRLF records, quoted delimiter, short rows padded") {
    val content = "id,a,b\r\n1,\"x,y\",z\r\n2,only\r\n"
    val df = CsvIngest.parseUpload(spark, "u.csv", content)
    val rows = df.orderBy("id").collect()
    assert(rows.length == 2)
    assert(rows(0).getString(1) == "x,y" && rows(0).getString(2) == "z")
    assert(rows(1).getString(1) == "only" && rows(1).getString(2) == "") // padded
  }

  test("parseUpload: extra fields raise a tokenizing error (pandas parity); multi-char delimiter rejected") {
    intercept[IngestError.ImportFailed] {
      CsvIngest.parseUpload(spark, "u.csv", "id,a\n1,p,extra\n")
    }
    intercept[IngestError.ImportFailed] {
      CsvIngest.parseUpload(spark, "u.csv", "id;;a\n1;;2\n", delimiter = ";;")
    }
  }

  test("parseUpload skips blank lines (pandas skip_blank_lines parity)") {
    val df = CsvIngest.parseUpload(spark, "u.csv", "id,v\n1,a\n\n2,b\n")
    assert(df.count() == 2)
    // but an explicitly quoted empty single field is a real record
    val df2 = CsvIngest.parseUpload(spark, "u.csv", "v\n\"\"\nx\n")
    assert(df2.count() == 2)
  }

  test("S3/S4: createIfNotExists is a true no-op when the table exists; importInto appends") {
    import spark.implicits._
    val t = "graft_s3_unit"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val leftover = new java.io.File("spark-warehouse/" + t)
    if (leftover.exists()) {
      leftover.listFiles().foreach(_.delete()); leftover.delete()
    }
    val df1 = Seq(("1", "a")).toDF("id", "v")
    try {
      CsvIngest.createIfNotExists(df1, t)
      CsvIngest.append(df1, t)
      CsvIngest.createIfNotExists(df1, t) // must not truncate or recreate
      assert(spark.table(t).count() == 1)
      // envelope parity: {status, count, columns, table, imported_at}
      val env = CsvIngest.importInto(df1, t)
      assert(env.status == "success" && env.count == 1)
      assert(env.columns == Seq("id", "v") && env.table == t)
      assert(env.importedAt.nonEmpty)
      assert(spark.table(t).count() == 2) // append, not overwrite
    } finally spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("importInto wraps failures as ImportFailed (main.py:295-302)") {
    import spark.implicits._
    val t = "graft_import_fail_unit"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val leftover = new java.io.File("spark-warehouse/" + t)
    if (leftover.exists()) {
      leftover.listFiles().foreach(_.delete()); leftover.delete()
    }
    try {
      CsvIngest.importInto(Seq(("1", "a")).toDF("id", "v"), t)
      val mismatched = Seq((1, 2, 3)).toDF("x", "y", "z")
      intercept[IngestError.ImportFailed] {
        CsvIngest.importInto(mismatched, t)
      }
    } finally spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("B5: export round-trip emits BOM, header, no index column") {
    val p = write("b5.csv", "id,name,note\n1,alpha,hello\n2,beta,\n3,,NA\n")
    val df = CsvIngest.readAllString(spark, p)
    val s = CsvIngest.toCsvString(df.orderBy("id"))
    assert(s.startsWith(CsvIngest.Bom + "id,name,note\n"))
    assert(s.linesIterator.size == 4) // header + 3 rows, no index col
    assert(!s.split("\n")(1).startsWith("0,")) // pandas index would add 0,
  }

  test("toCsvString quotes fields containing delimiter/quote/newline") {
    import spark.implicits._
    val df = Seq(("a,b", "he said \"hi\"", "plain")).toDF("x", "y", "z")
    val s = CsvIngest.toCsvString(df)
    assert(s.contains("\"a,b\""))
    assert(s.contains("\"he said \"\"hi\"\"\""))
    assert(s.contains("plain"))
  }

  test("distributed CSV write + BOM prefix + all-string read-back is identity") {
    val out = tmpDir("csv_rt") + "/nation"
    val src = graft.core.Tables.load(spark, sf, "nation")
    CsvIngest.writeCsv(src, out)
    CsvIngest.bomPrefixParts(out)
    val back = CsvIngest.readAllString(spark, out)
    assert(back.count() == src.count())
    assert(back.schema.fields.forall(_.dataType == StringType))
    // BOM present on each part file
    val part = new java.io.File(out).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv")).head
    val bytes = java.nio.file.Files.readAllBytes(part.toPath).take(3)
    assert(bytes.sameElements(Array(0xEF.toByte, 0xBB.toByte, 0xBF.toByte)))
  }
}
