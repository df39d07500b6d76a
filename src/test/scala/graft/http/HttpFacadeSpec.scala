package graft.http

import graft.SparkSpec
import graft.http.Json._

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets

/** Endpoint tests asserting field-for-field envelope parity with
  * `/root/reference/backend/main.py:96-334` — routes, status codes, success
  * envelopes, error `detail` texts, and the CORS/X-Total-Count headers.
  */
class HttpFacadeSpec extends SparkSpec {

  private lazy val facade: HttpFacade = {
    graft.core.Tables.registerAll(spark, sf)
    new HttpFacade(spark, name => spark.table(name), port = 0).start()
  }
  private lazy val base = s"http://127.0.0.1:${facade.boundPort}"
  private val client = HttpClient.newHttpClient()

  private def send(req: HttpRequest): HttpResponse[String] =
    client.send(req, HttpResponse.BodyHandlers.ofString(StandardCharsets.UTF_8))

  private def post(path: String, bodyText: String): HttpResponse[String] =
    send(HttpRequest.newBuilder(URI.create(base + path))
      .POST(HttpRequest.BodyPublishers.ofString(bodyText)).build())

  private def get(path: String): HttpResponse[String] =
    send(HttpRequest.newBuilder(URI.create(base + path)).GET().build())

  private val conn =
    """{"host":"localhost","port":8123,"database":"default","username":"default"}"""

  private def jobj(r: HttpResponse[String]): JObj = parse(r.body()).obj.get

  test("GET /health returns the healthy envelope (main.py:321-328)") {
    val r = get("/health")
    assert(r.statusCode() == 200)
    val o = jobj(r)
    assert(o("status").str.contains("healthy"))
    assert(o("timestamp").str.exists(_.nonEmpty))
    val services = o("services").obj.get
    assert(services("database").str.contains("available"))
    assert(services("storage").str.contains("ok"))
  }

  test("POST /connect-clickhouse lists tables with connection echo + CORS") {
    val r = post("/connect-clickhouse", conn)
    assert(r.statusCode() == 200)
    val o = jobj(r)
    assert(o("status").str.contains("success"))
    val tables = o("tables").arr.get.flatMap(_.str)
    assert(tables.contains("nation") && tables.contains("lineitem"))
    assert(o("connection").str.contains("localhost:8123"))
    assert(o("timestamp").str.exists(_.nonEmpty))
    // CORS contract, main.py:28-35
    assert(r.headers().firstValue("Access-Control-Allow-Origin")
      .orElse("") == "http://localhost:3000")
    assert(r.headers().firstValue("Access-Control-Expose-Headers")
      .orElse("") == "X-Total-Count")
  }

  test("POST /connect-clickhouse rejects an invalid hostname with 422") {
    val r = post("/connect-clickhouse", conn.replace("localhost", "bad host!"))
    assert(r.statusCode() == 422)
    assert(jobj(r)("detail").str.contains("Invalid hostname format"))
  }

  test("POST /get-columns describes a table (name/type/default/comment + count)") {
    val r = post("/get-columns?table=nation", conn)
    assert(r.statusCode() == 200)
    val o = jobj(r)
    assert(o("status").str.contains("success"))
    val cols = o("columns").arr.get.flatMap(_.obj)
    val byName = cols.map(c => c("name").str.get -> c("type").str.get).toMap
    assert(byName.contains("n_nationkey") && byName.contains("n_name"))
    assert(cols.forall(c => c.get("default").isDefined && c.get("comment").isDefined))
    assert(o("count").num.contains(cols.length.toDouble))
    assert(r.headers().firstValue("X-Total-Count").orElse("") == cols.length.toString)
  }

  test("POST /get-columns 404s a missing table with the reference's text") {
    val r = post("/get-columns?table=no_such_table", conn)
    assert(r.statusCode() == 404)
    assert(jobj(r)("detail").str.contains("Table no_such_table does not exist"))
  }

  test("POST /get-columns maps a malformed identifier to 400 (main.py:156-161)") {
    val r = post("/get-columns?table=1bad", conn)
    assert(r.statusCode() == 400)
    assert(jobj(r)("detail").str.exists(_.startsWith("Failed to get columns: ")))
  }

  test("POST /clickhouse-to-flatfile exports CSV inline with the full envelope") {
    val body =
      s"""{"conn":$conn,"selection":{"table":"region","columns":["r_regionkey","r_name"]}}"""
    val r = post("/clickhouse-to-flatfile", body)
    assert(r.statusCode() == 200)
    val o = jobj(r)
    assert(o("status").str.contains("success"))
    assert(o("query").str.contains("SELECT r_regionkey, r_name FROM region"))
    assert(o("count").num.contains(5.0))
    assert(o("exported_at").str.exists(_.nonEmpty))
    val csv = o("data").str.get
    // utf-8-sig parity: the reference's inline CSV is BOM-prefixed (main.py:194)
    assert(csv.startsWith("﻿"), "inline CSV must carry the UTF-8 BOM")
    assert(csv.stripPrefix("﻿").linesIterator.next().trim == "r_regionkey,r_name")
    assert(csv.linesIterator.size == 6) // header + 5 regions
    assert(r.headers().firstValue("X-Total-Count").orElse("") == "5")
  }

  test("export comma-join with condition matches the reference's SQL rendering") {
    val body = s"""{"conn":$conn,"selection":{
      "table":"nation","columns":["nation.n_name","region.r_name"],
      "join_tables":["region"],
      "join_condition":"nation.n_regionkey = region.r_regionkey"}}"""
    val r = post("/clickhouse-to-flatfile", body)
    assert(r.statusCode() == 200)
    val o = jobj(r)
    assert(o("query").str.contains(
      "SELECT nation.n_name, region.r_name FROM nation, region " +
        "WHERE nation.n_regionkey = region.r_regionkey"))
    assert(o("count").num.contains(25.0))
  }

  test("export empty result short-circuits to the message envelope (no timestamp)") {
    val body = s"""{"conn":$conn,"selection":{
      "table":"nation","columns":["nation.n_name"],
      "join_tables":["region"],"join_condition":"nation.n_regionkey = -1"}}"""
    val r = post("/clickhouse-to-flatfile", body)
    assert(r.statusCode() == 200)
    val o = jobj(r)
    assert(o("status").str.contains("success"))
    assert(o("data").str.contains(""))
    assert(o("count").num.contains(0.0))
    assert(o("message").str.contains("No data found"))
    assert(o.get("exported_at").isEmpty, "empty envelope must not carry exported_at")
    assert(o.get("query").isEmpty, "empty envelope must not carry query")
  }

  test("export validation: empty columns → 422; bad join table ident → 422") {
    val noCols = s"""{"conn":$conn,"selection":{"table":"region","columns":[]}}"""
    assert(post("/clickhouse-to-flatfile", noCols).statusCode() == 422)
    val badJoin = s"""{"conn":$conn,"selection":{
      "table":"region","columns":["r_name"],"join_tables":["1bad"]}}"""
    val r = post("/clickhouse-to-flatfile", badJoin)
    assert(r.statusCode() == 422)
    assert(jobj(r)("detail").str.contains("Invalid table name format"))
  }

  test("POST /flatfile-to-clickhouse imports CSV and round-trips through export") {
    // unique name per run: the managed table's warehouse dir outlives the
    // session, and CREATE IF NOT EXISTS must not silently reuse stale data
    val tbl = s"graft_http_import_${System.nanoTime()}"
    try {
      val csv = "city,pop\nparis,2100000\nlyon,520000\n"
      val r = post(s"/flatfile-to-clickhouse?table=$tbl&filename=up.csv", csv)
      assert(r.statusCode() == 200, r.body())
      val o = jobj(r)
      assert(o("status").str.contains("success"))
      assert(o("count").num.contains(2.0))
      assert(o("columns").arr.get.flatMap(_.str) == Vector("city", "pop"))
      assert(o("table").str.contains(tbl))
      assert(o("imported_at").str.exists(_.nonEmpty))
      // imported table is queryable through the export path (all-String schema)
      val back = post("/clickhouse-to-flatfile",
        s"""{"conn":$conn,"selection":{"table":"$tbl","columns":["city","pop"]}}""")
      assert(jobj(back)("count").num.contains(2.0))
      assert(jobj(back)("data").str.get.contains("paris,2100000"))
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("POST /flatfile-to-clickhouse accepts the reference client's multipart framing") {
    val tbl = s"graft_http_mp_${System.nanoTime()}"
    try {
      val boundary = "GraftBoundary7431"
      val mp = new StringBuilder
      mp ++= s"--$boundary\r\n"
      mp ++= "Content-Disposition: form-data; name=\"conn\"\r\n\r\n"
      mp ++= conn + "\r\n"
      mp ++= s"--$boundary\r\n"
      mp ++= "Content-Disposition: form-data; name=\"file\"; filename=\"upload.csv\"\r\n"
      mp ++= "Content-Type: text/csv\r\n\r\n"
      mp ++= "city,pop\nparis,2100000\nlyon,520000\n\r\n"
      mp ++= s"--$boundary--\r\n"
      val r = send(HttpRequest.newBuilder(URI.create(
        base + s"/flatfile-to-clickhouse?table=$tbl"))
        .header("Content-Type", s"multipart/form-data; boundary=$boundary")
        .POST(HttpRequest.BodyPublishers.ofString(mp.toString)).build())
      assert(r.statusCode() == 200, r.body())
      val o = jobj(r)
      assert(o("status").str.contains("success"))
      assert(o("count").num.contains(2.0))
      assert(o("columns").arr.get.flatMap(_.str) == Vector("city", "pop"))
      assert(o("table").str.contains(tbl))
      assert(o("imported_at").str.exists(_.nonEmpty))
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("concurrent uploads into one table all succeed and every row lands") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val tbl = s"graft_http_conc_${System.nanoTime()}"
    try {
      val csv = "city,pop\nparis,2100000\nlyon,520000\n"
      val clients = (0 until 2).map(_ => Future {
        (0 until 4).map(_ =>
          post(s"/flatfile-to-clickhouse?table=$tbl&filename=up.csv", csv))
      })
      val responses = clients.flatMap(c =>
        Await.result(c, scala.concurrent.duration.Duration(5, "min")))
      assert(responses.forall(_.statusCode() == 200),
        responses.map(r => s"${r.statusCode()} ${r.body()}").mkString("; "))
      assert(spark.table(tbl).count() == 2L * 4 * 2)
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("multipart rejections: missing conn part → 422; bad filename → 400") {
    val boundary = "GraftBoundary7431"
    def mpPost(bodyText: String): HttpResponse[String] =
      send(HttpRequest.newBuilder(URI.create(base + "/flatfile-to-clickhouse"))
        .header("Content-Type", s"multipart/form-data; boundary=$boundary")
        .POST(HttpRequest.BodyPublishers.ofString(bodyText)).build())
    val noConn = mpPost(
      s"--$boundary\r\n" +
        "Content-Disposition: form-data; name=\"file\"; filename=\"a.csv\"\r\n\r\n" +
        "a,b\n1,2\n\r\n" + s"--$boundary--\r\n")
    assert(noConn.statusCode() == 422)
    assert(jobj(noConn)("detail").str.contains("field required: conn"))
    val badName = mpPost(
      s"--$boundary\r\n" +
        "Content-Disposition: form-data; name=\"conn\"\r\n\r\n" + conn + "\r\n" +
        s"--$boundary\r\n" +
        "Content-Disposition: form-data; name=\"file\"; filename=\"a.doc\"\r\n\r\n" +
        "a,b\n1,2\n\r\n" + s"--$boundary--\r\n")
    assert(badName.statusCode() == 400)
    assert(jobj(badName)("detail").str.contains("Only CSV files are supported"))
  }

  test("port coercion parity: numeric string accepted, garbage 422s, absent defaults") {
    val strPort = post("/connect-clickhouse",
      """{"host":"localhost","port":"9000","database":"d","username":"u"}""")
    assert(strPort.statusCode() == 200)
    assert(jobj(strPort)("connection").str.contains("localhost:9000"))
    val garbage = post("/connect-clickhouse",
      """{"host":"localhost","port":"eightthousand","database":"d","username":"u"}""")
    assert(garbage.statusCode() == 422)
    assert(jobj(garbage)("detail").str.exists(_.contains("port")))
    val absent = post("/connect-clickhouse",
      """{"host":"localhost","database":"d","username":"u"}""")
    assert(absent.statusCode() == 200)
    assert(jobj(absent)("connection").str.contains("localhost:8123"))
  }

  test("import rejections: non-CSV filename → 400; empty body → 400") {
    val bad = post("/flatfile-to-clickhouse?filename=up.doc", "a,b\n1,2\n")
    assert(bad.statusCode() == 400)
    assert(jobj(bad)("detail").str.contains("Only CSV files are supported"))
    val empty = post("/flatfile-to-clickhouse?filename=up.csv", "")
    assert(empty.statusCode() == 400)
    assert(jobj(empty)("detail").str.contains("File is empty or invalid format"))
  }

  test("OPTIONS preflight answers the CORS contract; unknown route 404s") {
    val pre = send(HttpRequest.newBuilder(URI.create(base + "/connect-clickhouse"))
      .method("OPTIONS", HttpRequest.BodyPublishers.noBody()).build())
    assert(pre.statusCode() == 204)
    assert(pre.headers().firstValue("Access-Control-Allow-Methods").orElse("") == "*")
    val missing = get("/no-such-route")
    assert(missing.statusCode() == 404)
    assert(jobj(missing)("detail").str.contains("Not Found"))
  }

  test("responses leave without waiting for the client's delayed ACK: median 404 under 20 ms") {
    assert(get("/no-such-route").statusCode() == 404) // connection warm-up
    val ms = (1 to 30).map { _ =>
      val t0 = System.nanoTime()
      assert(get("/no-such-route").statusCode() == 404)
      (System.nanoTime() - t0) / 1e6
    }.sorted
    // with Nagle on, the body segment waits for the ACK of the headers
    // segment, which a delaying client sends after 40 ms or more
    assert(ms(ms.length / 2) < 20.0, s"404 latencies (ms, sorted): ${ms.map(_.round)}")
  }

  test("each request's Spark jobs run under its own http-<route>-<n> job group") {
    val body =
      s"""{"conn":$conn,"selection":{"table":"region","columns":["r_regionkey","r_name"]}}"""
    def exportGroups() =
      jobGroupsDuring(assert(post("/clickhouse-to-flatfile", body).statusCode() == 200))
    val first = exportGroups()
    val second = exportGroups()
    for (g <- Seq(first, second)) {
      assert(g.nonEmpty, "the export launched no Spark job")
      assert(g.forall(_.startsWith("http-clickhouse-to-flatfile-")), s"groups: $g")
      assert(g.distinct.size == 1, s"one request, several groups: $g")
    }
    assert(first.head != second.head, "two requests shared a job group")
  }

  test("a pooled handler thread carries no job group into its next request") {
    val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
    def onPool[T](body: => T): T =
      pool.submit(new java.util.concurrent.Callable[T] { def call(): T = body }).get()
    def group = spark.sparkContext.getLocalProperty("spark.jobGroup.id")
    try {
      assert(onPool(HttpFacade.inJobGroup(spark, "get-columns", 7)(group)) ==
        "http-get-columns-7")
      assert(onPool(group) == null)
      intercept[java.util.concurrent.ExecutionException] {
        onPool(HttpFacade.inJobGroup(spark, "health", 8)(throw new IllegalStateException("boom")))
      }
      assert(onPool(group) == null, "a failed request left its group on the thread")
    } finally pool.shutdown()
  }

  test("GET /health answers 503 when the session's current database is gone") {
    val db = "graft_health_dropped_db"
    val lost = spark.newSession()
    lost.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    lost.sql(s"USE $db")
    spark.sql(s"DROP DATABASE $db CASCADE") // the shared session keeps `default`
    val other = new HttpFacade(lost, name => lost.table(name), port = 0).start()
    try {
      val r = send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${other.boundPort}/health")).GET().build())
      assert(r.statusCode() == 503)
      assert(jobj(r)("detail").str.exists(_.startsWith("Service unavailable: ")))
    } finally other.stop()
    assert(get("/health").statusCode() == 200, "the shared session must stay healthy")
  }

  test("malformed JSON body maps to 422, the body-validation slot") {
    assert(post("/connect-clickhouse", "{not json").statusCode() == 422)
    assert(post("/connect-clickhouse", """{"port":8123}""").statusCode() == 422)
  }
}
