package graft.operators

import graft.SparkSpec
import graft.api.{ColumnSelection, IngestError}
import graft.core.Tables

/** R1–R6 (SURVEY.md §2.2) + B7 minimum-slice fixture. */
class ExporterSpec extends SparkSpec {

  private def resolve: Exporter.Resolver = Tables.load(spark, sf, _)

  test("B7: comma-join customer x orders on c_custkey = o_custkey") {
    val df = Exporter.buildQuery(
      ColumnSelection(
        "customer",
        Seq("c_name", "o_totalprice"),
        Seq("orders"),
        Some("customer.c_custkey = orders.o_custkey")),
      resolve)
    assert(df.columns.toSeq == Seq("c_name", "o_totalprice"))
    assert(df.count() == Tables.load(spark, sf, "orders").count())
  }

  test("comma-join with equality predicate plans as a real join, not cartesian") {
    val df = Exporter.buildQuery(
      ColumnSelection(
        "customer",
        Seq("c_name", "o_totalprice"),
        Seq("orders"),
        Some("customer.c_custkey = orders.o_custkey")),
      resolve)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in plan:\n$plan")
    assert(plan.contains("Join") || plan.contains("join"))
  }

  test("qualified column requests surface verbatim in the output header") {
    val df = Exporter.buildQuery(
      ColumnSelection(
        "customer",
        Seq("customer.c_name", "orders.o_totalprice"),
        Seq("orders"),
        Some("customer.c_custkey = orders.o_custkey")),
      resolve)
    // main.py:193: the response header is the user's own column strings
    assert(df.columns.toSeq == Seq("customer.c_name", "orders.o_totalprice"))
    assert(df.count() > 0)
  }

  test("projection preserves request order") {
    val df = Exporter.buildQuery(
      ColumnSelection("customer", Seq("c_acctbal", "c_name")), resolve)
    assert(df.columns.toSeq == Seq("c_acctbal", "c_name"))
  }

  test("theta predicate produces theta-join semantics") {
    val df = Exporter.buildQuery(
      ColumnSelection(
        "region", Seq("r_name", "n_name"), Seq("nation"),
        Some("region.r_regionkey < nation.n_regionkey")),
      resolve)
    // 5 regions x 25 nations, keys 0..4 each side x5 → sum_{r<n} pairs
    assert(df.count() == 50)
  }

  test("join_tables without condition falls back to single-table select (main.py:178-180)") {
    // The reference builds the comma-join only when BOTH join_tables and
    // join_condition are present; otherwise it's a plain SELECT on the base
    // table — NOT an unfiltered cartesian product.
    val df = Exporter.buildQuery(
      ColumnSelection("nation", Seq("n_name"), Seq("region"), None), resolve)
    assert(df.count() == 25)
    assert(Exporter.renderSql(
      ColumnSelection("nation", Seq("n_name"), Seq("region"), None)) ==
      "SELECT n_name FROM nation")
  }

  test("condition ignored when join_tables empty (reference parity main.py:178)") {
    val df = Exporter.buildQuery(
      ColumnSelection("nation", Seq("n_name"), Nil, Some("n_nationkey < 0")),
      resolve)
    assert(df.count() == 25) // filter NOT applied — matches reference behavior
  }

  test("invalid table name rejected") {
    intercept[IngestError.InvalidTableName] {
      Exporter.buildQuery(ColumnSelection("bad-name", Seq("x")), resolve)
    }
    intercept[IngestError.InvalidTableName] {
      Exporter.buildQuery(
        ColumnSelection("customer", Seq("x"), Seq("1bad"), Some("1=1")), resolve)
    }
  }

  test("4-way comma-join plans with no cartesian product or nested loop") {
    // The fold over crossJoin (Exporter.buildQuery) relies on Catalyst
    // extracting every equality predicate into a real join; pin it for the
    // 4-way case, where a missed extraction would leave a cartesian behind.
    val df = Exporter.buildQuery(
      ColumnSelection(
        "customer",
        Seq("c_name", "o_orderkey", "l_quantity", "n_name"),
        Seq("orders", "lineitem", "nation"),
        Some("customer.c_custkey = orders.o_custkey AND orders.o_orderkey = lineitem.l_orderkey AND customer.c_nationkey = nation.n_nationkey")),
      resolve)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in plan:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested loop in plan:\n$plan")
  }

  test("export inline path: single pass, count equals data lines") {
    val r = Exporter.export(
      spark, ColumnSelection("nation", Seq("n_nationkey", "n_name")), resolve)
    assert(r.count == 25 && r.path.isEmpty)
    // envelope parity (main.py:196-202): status + exported_at present
    assert(r.status == "success" && r.exportedAt.exists(_.nonEmpty))
    // header + count rows, formatted from the rows already in hand
    assert(r.data.linesIterator.size == 26)
    assert(r.data.startsWith(graft.sources.CsvIngest.Bom + "n_nationkey,n_name"))
  }

  test("export over-cap path spills distributed with observed count, one job") {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    val dir = tmpDir("export_spill")
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = Exporter.export(
        spark, ColumnSelection("nation", Seq("n_nationkey", "n_name")), resolve,
        inlineRowCap = 10, spillDir = Some(dir))
      assert(r.count == 25 && r.data == "" && r.path.contains(dir))
      // listener events are async; give the bus a moment to drain
      Thread.sleep(500)
      // take(11) = 1 job (first partitions suffice) + 1 write job with the
      // observed count — never a separate count() execution.
      assert(jobs.get() <= 3, s"expected <=3 jobs (take + single counted write), got ${jobs.get()}")
      val parts = new java.io.File(dir).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
      assert(parts.nonEmpty)
      val bytes = java.nio.file.Files.readAllBytes(parts.head.toPath).take(3)
      assert(bytes.sameElements(Array(0xEF.toByte, 0xBB.toByte, 0xBF.toByte)))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("export over-cap path BOM-prefixes parts under a file: URI spill dir") {
    val dir = tmpDir("export_spill_uri")
    val r = Exporter.export(
      spark, ColumnSelection("nation", Seq("n_nationkey", "n_name")), resolve,
      inlineRowCap = 10, spillDir = Some("file:" + dir))
    assert(r.count == 25)
    val files = new java.io.File(dir).listFiles().map(_.getName)
    val parts = files.filter(n => n.startsWith("part-") && n.endsWith(".csv"))
    assert(parts.nonEmpty)
    for (n <- parts) {
      val bytes = java.nio.file.Files.readAllBytes(new java.io.File(dir, n).toPath)
      assert(bytes.take(3).sameElements(Array(0xEF.toByte, 0xBB.toByte, 0xBF.toByte)),
        s"$n has no UTF-8 BOM")
    }
    assert(!files.exists(_.endsWith(".bom")), "a BOM staging file was left behind")
    // a checksummed re-read fails on a stale .crc sidecar; each part
    // carries its own header line
    assert(spark.read.text("file:" + dir).count() == 25L + parts.length)
  }

  test("export envelope: empty result short-circuits with message") {
    val r = Exporter.export(
      spark,
      ColumnSelection(
        "orders", Seq("o_orderkey"), Seq("customer"),
        Some("orders.o_totalprice < 0 AND orders.o_custkey = customer.c_custkey")),
      resolve)
    assert(r.count == 0 && r.data == "" && r.message == "No data found")
    // main.py:186-191: the empty envelope carries no exported_at
    assert(r.status == "success" && r.exportedAt.isEmpty)
  }

  test("renderSql matches the reference's string shapes") {
    assert(
      Exporter.renderSql(ColumnSelection("t", Seq("a", "b"))) == "SELECT a, b FROM t")
    assert(
      Exporter.renderSql(
        ColumnSelection("t", Seq("a"), Seq("u", "v"), Some("t.x = u.y"))) ==
        "SELECT a FROM t, u, v WHERE t.x = u.y")
  }
}
