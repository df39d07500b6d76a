package graft.http

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import graft.api.{ColumnSelection, ConnectionConfig, IngestError, Validation}
import graft.catalog.Catalog
import graft.http.Json._
import graft.operators.Exporter
import graft.sources.CsvIngest
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import scala.collection.immutable.ListMap

/** The reference's five HTTP endpoints over the graft library — the last
  * user-visible delta for someone switching off the original
  * (`/root/reference/backend/main.py:96-334`): same routes, same request
  * bodies, same response envelopes and error `detail` texts, same CORS
  * contract (single allowed origin, `X-Total-Count` exposed,
  * main.py:28-35). Built on the JDK's `com.sun.net.httpserver` — the build
  * adds no dependencies by contract, and a thin façade has no need for a
  * framework: every endpoint is parse → validate → library call → envelope.
  *
  * Scope notes vs the original, both deliberate:
  *  - the connection body is validated and pooled by key (main.py:64-87)
  *    but "connects" to the embedded Spark session — there is no external
  *    ClickHouse; the session IS the database.
  *  - `/flatfile-to-clickhouse` accepts BOTH framings: real
  *    `multipart/form-data` with a `conn` JSON part and a `file` part (what
  *    FastAPI's `UploadFile = File(...)` + body param produce, so a drop-in
  *    reference client works unchanged, main.py:217-233), and the raw CSV
  *    body with `filename` as a query parameter (the curl-friendly form).
  *    Filename validation, empty-file rejection, dtype=str parsing and the
  *    import envelope are identical either way (main.py:218-302).
  *
  * Threading: handlers run on a fixed pool; Spark work is submitted on the
  * caller thread and the session is thread-safe for reads. Port 0 binds an
  * ephemeral port (tests); [[boundPort]] reports it.
  *
  * Binding: loopback by default — the façade is an unauthenticated dev/test
  * surface (SQL export + table import), so exposing it beyond the host must
  * be an explicit choice: `bindHost` parameter or `GRAFT_HTTP_BIND` env
  * (e.g. "0.0.0.0").
  */
final class HttpFacade(
    spark: SparkSession,
    resolve: String => DataFrame,
    port: Int = 8000,
    bindHost: String = sys.env.getOrElse("GRAFT_HTTP_BIND", "127.0.0.1")) {

  private val logger = org.slf4j.LoggerFactory.getLogger(getClass)
  private val server = HttpFacade.createServer(new InetSocketAddress(bindHost, port))
  private val handlerPool = java.util.concurrent.Executors.newFixedThreadPool(8)
  server.setExecutor(handlerPool)

  /** Connection-pool parity (main.py:64-87): validated configs are memoized
    * by `host:port:database:username`; a pooled key skips re-validation
    * exactly as the reference skips reconnecting.
    */
  private val pool = new java.util.concurrent.ConcurrentHashMap[String, ConnectionConfig]()

  /** Numbers the requests' Spark job groups (`http-<route>-<n>`). */
  private val requests = new java.util.concurrent.atomic.AtomicLong

  def boundPort: Int = server.getAddress.getPort

  def start(): HttpFacade = { server.start(); this }

  /** main.py:336-340 — shutdown closes pooled clients. The handler pool is
    * explicitly shut down too: `HttpServer.stop` does NOT terminate a
    * caller-supplied executor, and its 8 non-daemon threads would otherwise
    * outlive the façade and pin the JVM.
    */
  def stop(): Unit = { pool.clear(); server.stop(0); handlerPool.shutdown() }

  // ---- routing ----------------------------------------------------------

  server.createContext("/", new HttpHandler {
    override def handle(ex: HttpExchange): Unit =
      try route(ex)
      catch { case e: Throwable => // handler must never leak an exchange
        logger.error(s"Unhandled: ${e.getMessage}")
        try respond(ex, 500, JObj("detail" -> JStr(s"Internal error: ${e.getMessage}")))
        catch { case _: Throwable => () }
      } finally ex.close()
  })

  private def route(ex: HttpExchange): Unit = {
    val path = ex.getRequestURI.getPath
    val method = ex.getRequestMethod
    (method, path) match {
      case ("OPTIONS", _) => // CORS preflight (main.py:28-35: all methods/headers)
        corsHeaders(ex)
        ex.getResponseHeaders.set("Access-Control-Allow-Methods", "*")
        ex.getResponseHeaders.set("Access-Control-Allow-Headers", "*")
        ex.sendResponseHeaders(204, -1)
      case ("POST", "/connect-clickhouse") => guarded(ex)(connect)
      case ("POST", "/get-columns") => guarded(ex)(getColumns)
      case ("POST", "/clickhouse-to-flatfile") => guarded(ex)(exportFlatfile)
      case ("POST", "/flatfile-to-clickhouse") => guarded(ex)(importFlatfile)
      case ("GET", "/health") => guarded(ex)(health)
      case _ => respond(ex, 404, JObj("detail" -> JStr("Not Found")))
    }
  }

  /** FastAPI's error contract: handlers raise HTTPException(status, detail)
    * and the framework renders `{"detail": …}` — IngestError carries exactly
    * that pair; body-shape errors map to 422 (pydantic's slot).
    */
  private def guarded(ex: HttpExchange)(f: HttpExchange => Unit): Unit =
    try {
      val route = ex.getRequestURI.getPath.stripPrefix("/")
      HttpFacade.inJobGroup(spark, route, requests.incrementAndGet())(f(ex))
    } catch {
      case e: IngestError => respond(ex, e.httpStatus, JObj("detail" -> JStr(e.detail)))
      case e: IllegalArgumentException =>
        respond(ex, 422, JObj("detail" -> JStr(e.getMessage)))
    }

  // ---- endpoints --------------------------------------------------------

  /** POST /connect-clickhouse (main.py:89-119): validate + pool the config,
    * probe with the capped table listing, envelope {status, tables,
    * connection, timestamp}; failures → 400 "Connection failed: …".
    */
  private def connect(ex: HttpExchange): Unit = {
    val conn = parseConn(parse(body(ex)))
    logger.info(s"Connection attempt to ${conn.host}:${conn.port}")
    val tables =
      try Catalog.listTables(spark)
      catch { case e: Exception =>
        throw IngestError.ConnectionFailed(e.getMessage) }
    logger.info(s"Found ${tables.length} tables")
    withCount(ex, tables.length)
    respond(ex, 200, JObj(
      "status" -> JStr("success"),
      "tables" -> JArr(tables.map(JStr(_)).toVector),
      "connection" -> JStr(s"${conn.host}:${conn.port}"),
      "timestamp" -> JStr(now())))
  }

  /** POST /get-columns?table=t (main.py:121-161): 404 with the reference's
    * exact text when the table is missing; invalid identifiers surface as
    * 400 "Failed to get columns: …" (the reference has no pydantic guard on
    * this query param — the bad name fails inside the handler, :156-161).
    */
  private def getColumns(ex: HttpExchange): Unit = {
    parseConn(parse(body(ex)))
    val table = queryParam(ex, "table").getOrElse(
      throw new IllegalArgumentException("missing required query parameter: table"))
    logger.info(s"Fetching columns for table $table")
    val cols =
      try Catalog.describeTable(spark, table)
      catch {
        case _: IngestError.TableNotFound =>
          // the endpoint's own 404 wording (main.py:136-139) differs from
          // the export path's TableNotFound text — remap here
          throw IngestError.TableDoesNotExist(table)
        case e: IngestError =>
          // no pydantic guard on this query param in the reference: a bad
          // identifier fails inside the handler → 400 (main.py:156-161)
          throw IngestError.ColumnsFetchFailed(e.detail)
        case scala.util.control.NonFatal(e) =>
          // the reference's handler-wide `except Exception` → 400 — any
          // resolution/runtime error must take the same 400 text, not a
          // 500 (getMessage can be null — e.g. a bare NPE — and a null
          // detail would NPE the JSON renderer, producing exactly the 500
          // this catch exists to prevent)
          throw IngestError.ColumnsFetchFailed(
            Option(e.getMessage).getOrElse(e.toString))
      }
    withCount(ex, cols.length)
    respond(ex, 200, JObj(
      "status" -> JStr("success"),
      "columns" -> JArr(cols.map(c => JObj(
        "name" -> JStr(c.name),
        "type" -> JStr(c.`type`),
        "default" -> JStr(c.default_type),
        "comment" -> JStr(c.comment))).toVector),
      "count" -> JNum(cols.length)))
  }

  /** POST /clickhouse-to-flatfile (main.py:163-208): body carries both
    * models ({"conn": …, "selection": …}, FastAPI's multi-body-param
    * encoding); success/empty/failed envelopes are field-for-field
    * main.py:186-202.
    */
  private def exportFlatfile(ex: HttpExchange): Unit = {
    val root = parse(body(ex)).obj.getOrElse(
      throw new IllegalArgumentException("body must be a JSON object"))
    parseConn(root("conn"))
    val sel = parseSelection(root("selection"))
    logger.info(s"Export request for table ${sel.table}")
    val r = Exporter.export(spark, sel, resolve)
    withCount(ex, r.count)
    respond(ex, 200, r.exportedAt match {
      case Some(ts) => JObj(
        "status" -> JStr(r.status),
        "data" -> JStr(r.data),
        "count" -> JNum(r.count.toDouble),
        "query" -> JStr(r.query),
        "exported_at" -> JStr(ts))
      case None => JObj( // empty-result short-circuit, main.py:186-191
        "status" -> JStr(r.status),
        "data" -> JStr(r.data),
        "count" -> JNum(r.count.toDouble),
        "message" -> JStr(r.message))
    })
  }

  /** POST /flatfile-to-clickhouse?table=&delimiter= — multipart/form-data
    * with a `conn` JSON part and a `file` part (the reference client's
    * framing, main.py:217-233), or the raw CSV body with `filename` as a
    * query parameter (see class doc); parse/validate/import per
    * main.py:218-302.
    */
  private def importFlatfile(ex: HttpExchange): Unit = {
    val table = queryParam(ex, "table").getOrElse(CsvIngest.DefaultImportTable)
    val delimiter = queryParam(ex, "delimiter").getOrElse(",")
    val contentType =
      Option(ex.getRequestHeaders.getFirst("Content-Type")).getOrElse("")
    val (filename, csvText) =
      if (contentType.toLowerCase.startsWith("multipart/form-data")) {
        val parts = Multipart.parse(contentType, body(ex))
        // FastAPI declares `conn` as a required body model → its absence is
        // a 422 before the handler runs; the JSON rides as a form part
        parseConn(parse(parts.field("conn").getOrElse(
          throw new IllegalArgumentException("field required: conn"))))
        val file = parts.file("file").getOrElse(
          throw new IllegalArgumentException("field required: file"))
        (file.filename, file.content)
      } else (queryParam(ex, "filename").getOrElse(""), body(ex))
    logger.info(s"Import request for file $filename")
    Validation.requireValidTable(table)
    val df = CsvIngest.parseUpload(spark, filename, csvText, delimiter)
    val r = CsvIngest.importInto(df, table)
    withCount(ex, r.count)
    respond(ex, 200, JObj(
      "status" -> JStr(r.status),
      "count" -> JNum(r.count.toDouble),
      "columns" -> JArr(r.columns.map(JStr(_)).toVector),
      "table" -> JStr(r.table),
      "imported_at" -> JStr(r.importedAt)))
  }

  /** GET /health (main.py:304-334). */
  private def health(ex: HttpExchange): Unit = {
    val h = Catalog.healthEnvelope(spark) // throws ServiceUnavailable → 503
    respond(ex, 200, JObj(
      "status" -> JStr(h.status),
      "timestamp" -> JStr(h.timestamp),
      "services" -> new JObj(ListMap(h.services.toSeq.map {
        case (k, v) => k -> (JStr(v): JValue)
      }: _*))))
  }

  // ---- request parsing --------------------------------------------------

  /** ClickHouseConnection body (main.py:38-50): host/database/username
    * required, port default 8123, password ""/secure false; host regex
    * enforced → 422, pydantic parity.
    */
  private def parseConn(v: JValue): ConnectionConfig = {
    val o = v.obj.getOrElse(
      throw new IllegalArgumentException("connection must be a JSON object"))
    def req(k: String): String = o(k).str.getOrElse(
      throw new IllegalArgumentException(s"field required: $k"))
    // pydantic int-coercion parity: a number or a numeric string is a
    // port; a present-but-untyped value is 422, never a silent default
    val portValue = o("port") match {
      case JNull => 8123
      case JNum(n) if n == math.floor(n) && !n.isInfinite => n.toInt
      case JStr(s) if s.trim.nonEmpty && s.trim.forall(_.isDigit) => s.trim.toInt
      case other => throw new IllegalArgumentException(
        s"port must be an integer, got: ${render(other)}")
    }
    val conn = ConnectionConfig(
      host = Validation.requireValidHost(req("host")),
      port = portValue,
      database = req("database"),
      username = req("username"),
      password = o("password").str.getOrElse(""),
      secure = o("secure").bool.getOrElse(false))
    pool.putIfAbsent(conn.poolKey, conn)
    conn
  }

  /** ColumnSelection body (main.py:52-62): columns min_items=1; table and
    * every join_tables entry must be C identifiers → 422.
    */
  private def parseSelection(v: JValue): ColumnSelection = {
    val o = v.obj.getOrElse(
      throw new IllegalArgumentException("selection must be a JSON object"))
    val table = o("table").str.getOrElse(
      throw new IllegalArgumentException("field required: table"))
    val columns = o("columns").arr.getOrElse(
      throw new IllegalArgumentException("field required: columns")).flatMap(_.str)
    if (columns.isEmpty)
      throw new IllegalArgumentException("columns requires at least one entry")
    val joins = o("join_tables").arr.map(_.flatMap(_.str)).getOrElse(Vector.empty)
    Validation.requireValidTable(table)
    joins.foreach(Validation.requireValidTable)
    ColumnSelection(table, columns, joins, o("join_condition").str)
  }

  // ---- response plumbing ------------------------------------------------

  private def corsHeaders(ex: HttpExchange): Unit = {
    val h = ex.getResponseHeaders
    h.set("Access-Control-Allow-Origin", "http://localhost:3000") // main.py:30
    h.set("Access-Control-Allow-Credentials", "true")
    h.set("Access-Control-Expose-Headers", "X-Total-Count")
  }

  private def withCount(ex: HttpExchange, n: Long): Unit =
    ex.getResponseHeaders.set("X-Total-Count", n.toString)

  private def respond(ex: HttpExchange, status: Int, bodyJson: JValue): Unit = {
    corsHeaders(ex)
    val bytes = bodyJson.render.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  private def body(ex: HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)

  private def queryParam(ex: HttpExchange, key: String): Option[String] =
    Option(ex.getRequestURI.getRawQuery).flatMap {
      _.split("&").iterator.map(_.split("=", 2)).collectFirst {
        case Array(k, v) if k == key =>
          java.net.URLDecoder.decode(v, StandardCharsets.UTF_8)
      }
    }

  private def now(): String = java.time.LocalDateTime.now().toString
}

private[http] object HttpFacade {

  /** TCP_NODELAY on every accepted connection. The JDK server writes a
    * response's headers and its body as two TCP segments; with Nagle's
    * algorithm on, the body waits until the client ACKs the headers, and a
    * client that delays its ACK (at least 40 ms on Linux) stalls every
    * response by that much. Measured on loopback with the JDK's HttpClient
    * on a 4-core VM: a 404 that does no work took a median 49 ms over 30
    * requests, and 5 ms with the option. The server's only switch is this
    * property, read once when its config class loads, so it is set here,
    * before [[createServer]] first runs, and only when the JVM was not
    * started with a value of its own.
    */
  private val NoDelay = "sun.net.httpserver.nodelay"
  if (System.getProperty(NoDelay) == null) System.setProperty(NoDelay, "true")

  def createServer(addr: InetSocketAddress): HttpServer = HttpServer.create(addr, 0)

  /** Runs one request's `body` under the Spark job group `http-<route>-<n>`
    * (description: the route), so its jobs can be told apart from other
    * requests' and cancelled together. The group is cleared afterwards: a
    * pooled handler thread must not carry it into its next request.
    */
  def inJobGroup[T](spark: SparkSession, route: String, n: Long)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(s"http-$route-$n", route, interruptOnCancel = false)
    try body finally sc.clearJobGroup()
  }
}

/** Runnable server: `sbt "runMain graft.http.FacadeServer"` serves the
  * testdata tables (SPARK_GRAFT_SF_DIR, default sf0.001) on
  * GRAFT_HTTP_PORT (default 8000).
  */
object FacadeServer {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val port = sys.env.getOrElse("GRAFT_HTTP_PORT", "8000").toInt
    val spark = graft.core.Engine.session()
    graft.core.Tables.registerAll(spark, sfDir)
    val facade = new HttpFacade(spark, name => spark.table(name), port).start()
    println(s"graft HTTP facade listening on port ${facade.boundPort}")
    Thread.currentThread().join() // serve until killed
  }
}
