package perfbench

import graft.http.HttpFacade

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

/** The reference's user path: an in-process `HttpFacade` on loopback over
  * two registered tables, driven by two closed-loop clients (each sends its
  * next request when the previous answer has arrived). The mix: inline
  * `/clickhouse-to-flatfile` exports with and without a join,
  * `/get-columns`, `/connect-clickhouse` and `/health`. Every response must
  * be a 200 with the expected `count` and `X-Total-Count`.
  *
  * Size: 2,000 orders and 200 customers, so every export stays on the
  * inline route and per-request fixed costs (planning, job launch, driver
  * side CSV formatting, JSON) dominate. The two clients together complete
  * about 10 requests per second warm on 4 cores, so an 8 s run makes 112
  * requests (1,000 would take 100 s).
  *
  * Uploads (`/flatfile-to-clickhouse`) are not in the mix: two clients
  * uploading into the same table make concurrent appends to it, and those
  * fail (both jobs share the table's `_temporary` directory and one job's
  * cleanup removes the other's attempt directory; the façade answers 500).
  * The route joins the mix once that is fixed.
  */
final class HttpMixed(ctx: Ctx) extends Workload {
  import ctx._
  import spark.implicits._

  private val Orders = 2000
  private val Customers = 200
  private val Regions = 8
  private val Clients = 2
  private val perClient = math.max(20, math.round(seconds * 7.0).toInt)

  /** Fixed request pattern; each client starts at a different offset. */
  private val Pattern = Vector(
    "export", "join", "columns", "export", "connect", "export", "health", "join",
    "columns", "export", "join", "connect", "columns", "health", "export", "join")

  private val Routes = Map(
    "export" -> "clickhouse-to-flatfile", "join" -> "clickhouse-to-flatfile",
    "columns" -> "get-columns", "connect" -> "connect-clickhouse", "health" -> "health")

  private final case class Req(kind: String, path: String, contentType: String, body: String,
      expectCount: Option[Long])

  private val inputs = dir.resolve("inputs")
  private var joinCounts: Vector[Long] = Vector.empty
  private var schedules: Vector[Vector[Req]] = Vector.empty
  private var facade: HttpFacade = _

  private val Conn = """{"host":"localhost","port":8123,"database":"default","username":"default"}"""

  def generate(): String = {
    val r = new scala.util.Random(seed)
    val dg = new Digest
    val customers = (0 until Customers).map(c => (c.toLong, s"customer $c", s"r${r.nextInt(Regions)}"))
    val orders = (0 until Orders).map(o => (o.toLong, r.nextInt(Customers).toLong,
      r.nextInt(100000) / 100.0, Seq("open", "paid", "void")(r.nextInt(3))))
    customers.foreach(c => dg.add(c.toString))
    orders.foreach(o => dg.add(o.toString))
    val regionOf = customers.map(c => c._1 -> c._3).toMap
    joinCounts = (0 until Regions).map(g => orders.count(o => regionOf(o._2) == s"r$g").toLong).toVector

    Util.deleteTree(inputs)
    customers.toDF("c_id", "name", "region").write.parquet(inputs.resolve("customers").toString)
    orders.toDF("o_id", "c_id", "amount", "status").write.parquet(inputs.resolve("orders").toString)
    spark.read.parquet(inputs.resolve("customers").toString).createOrReplaceTempView("customers")
    spark.read.parquet(inputs.resolve("orders").toString).createOrReplaceTempView("orders")

    val cols = Vector("o_id", "c_id", "amount", "status")
    def req(kind: String): Req = kind match {
      case "export" =>
        val pick = r.shuffle(cols).take(1 + r.nextInt(cols.size)).map(c => "\"" + c + "\"")
        Req(kind, "/clickhouse-to-flatfile", "application/json",
          s"""{"conn":$Conn,"selection":{"table":"orders","columns":[${pick.mkString(",")}]}}""",
          Some(Orders))
      case "join" =>
        val g = r.nextInt(Regions)
        Req(kind, "/clickhouse-to-flatfile", "application/json",
          s"""{"conn":$Conn,"selection":{"table":"orders","columns":["orders.o_id","orders.amount",""" +
            s""""customers.name"],"join_tables":["customers"],"join_condition":""" +
            s""""orders.c_id = customers.c_id AND customers.region = 'r$g'"}}""",
          Some(joinCounts(g)))
      case "columns" =>
        val (t, n) = if (r.nextBoolean()) ("orders", 4L) else ("customers", 3L)
        Req(kind, s"/get-columns?table=$t", "application/json", Conn, Some(n))
      case "connect" =>
        // the two registered views
        Req(kind, "/connect-clickhouse", "application/json", Conn, Some(2L))
      case "health" => Req(kind, "/health", "", "", None)
    }
    schedules = (0 until Clients).map { c =>
      (0 until perClient).map(i => req(Pattern((i + c * Pattern.size / Clients) % Pattern.size))).toVector
    }.toVector
    schedules.foreach(_.foreach(q => dg.add(q.toString)))
    dg.hex
  }

  private def send(client: HttpClient, q: Req): HttpResponse[String] = {
    val uri = URI.create(s"http://127.0.0.1:${facade.boundPort}${q.path}")
    val b = HttpRequest.newBuilder(uri).timeout(Duration.ofSeconds(60))
    val request =
      if (q.kind == "health") b.GET().build()
      else b.header("Content-Type", q.contentType)
        .POST(HttpRequest.BodyPublishers.ofString(q.body)).build()
    client.send(request, HttpResponse.BodyHandlers.ofString())
  }

  private val CountRe = "\"count\"\\s*:\\s*([0-9.]+)".r

  private def exchange(rec: Recorder, client: HttpClient, q: Req, iter: Int): Unit = {
    val route = Routes(q.kind)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val resp = try Right(send(client, q)) catch { case e: Exception => Left(e) }
    val durNs = System.nanoTime() - t0
    resp match {
      case Left(e) => rec.fail(route, e.toString)
      case Right(r) if r.statusCode != 200 =>
        rec.fail(route, s"status ${r.statusCode}: ${r.body.take(200)}")
      case Right(r) =>
        rec.sample("read", q.kind, Util.ms(durNs))
        tracer.record(s"http.$route", iter, startMs, durNs)
        q.expectCount.foreach { n =>
          val header = r.headers.firstValue("X-Total-Count").orElse("")
          val body = if (q.kind == "connect" || q.kind == "health") None
            else CountRe.findFirstMatchIn(r.body).map(_.group(1).toDouble.toLong)
          rec.check(header == n.toString && body.forall(_ == n),
            s"$route: X-Total-Count '$header', count $body, expected $n")
        }
        if (q.kind == "health") rec.check(r.body.contains("\"healthy\""), s"health: ${r.body.take(200)}")
    }
  }

  /** Requests change no state, so there is nothing to reset. */
  def prepare(): Unit =
    if (facade == null) facade = new HttpFacade(spark, name => spark.table(name), port = 0).start()

  /** One client sending one round of the request pattern. */
  def warmUp(rec: Recorder): Unit = drive(rec, Vector(schedules.head.take(Pattern.size)))

  def run(rec: Recorder): Unit = drive(rec, schedules)

  private def drive(rec: Recorder, scheds: Vector[Vector[Req]]): Unit = {
    val threads = scheds.zipWithIndex.map { case (sched, c) =>
      val t = new Thread(() => {
        val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
        sched.zipWithIndex.foreach { case (q, i) => exchange(rec, client, q, c * 1000000 + i) }
      }, s"perfbench-client-$c")
      t.start()
      t
    }
    threads.foreach(_.join())
  }

  /** Each answer is checked as it arrives; here only that every request
    * was sent.
    */
  def verify(rec: Recorder): Unit =
    rec.check(rec.attempted == schedules.map(_.size).sum,
      s"${rec.attempted} requests sent, expected ${schedules.map(_.size).sum}")

  def detail(rec: Recorder): Seq[(String, Double, String)] = {
    val all = rec.latencies("read")
    Seq(
      ("http_mixed.http_p50_ms", if (all.isEmpty) 0.0 else Util.median(all), "ms"),
      ("http_mixed.http_p90_ms", if (all.isEmpty) 0.0 else Util.quantile(all, 0.9), "ms"))
  }

  override def close(): Unit = if (facade != null) facade.stop()
}
