package graft.copy

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

/** The submit/status surface the HTTP facade needs — implemented by
  * CopyTaskService; a seam so the facade's error normalization is
  * testable against a failing service.
  */
trait CopyApi {
  def submit(request: CopyRequest): Either[String, String]
  def getTask(requestId: String): Option[CopyTaskState]

  /** Registered-task counts by status name — the /health payload.
    * Abstract on purpose: a default empty map would let an implementer
    * silently serve an empty /health instead of failing to compile.
    */
  def statusCounts: Map[String, Long]

  /** Operational counters — the /metrics payload. Abstract for the same
    * reason as statusCounts.
    */
  def metricsSnapshot: CopyMetricsSnapshot
}

/** REST facade over the copy service — the reference's ONLY externally
  * reachable surface (reference/controller/CopyController.java:20-45,
  * GlobalExceptionHandler.java:16-27), on the dependency-free JDK HTTP
  * server:
  *
  *   POST /api/v1/copy            → 202 {"requestId"} | 400 {"error": …}
  *   GET  /api/v1/copy/{id}       → 200 task JSON | 404
  *   GET  /health                 → 200 {"status":"UP","tasks":{…}}
  *   GET  /metrics                → 200 Prometheus text exposition
  *
  * /health and /metrics mirror the reference's actuator surface
  * (reference/build.gradle:45-47 ships spring-boot-actuator +
  * micrometer-prometheus): liveness plus the task registry folded to
  * counts-by-status — the operational signal an operator polls on day
  * one — and the same counters (plus bytes-copied) in the Prometheus
  * text format (version 0.0.4) a scraper expects.
  *
  * Error normalization matches the reference exactly: unparseable body →
  * 400 "Invalid request body"; validation failures → 400 with the
  * service's message; any unexpected exception → 500 "Internal server
  * error". Port 0 binds an ephemeral port (tests).
  */
final class CopyHttpServer(service: CopyApi, port: Int = 8080) {

  private val server = CopyHttpServer.create(port)
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
  server.createContext("/api/v1/copy", new Handler)
  server.createContext("/health", new Handler)
  server.createContext("/metrics", new Handler)
  server.setExecutor(pool)

  def start(): Unit = server.start()
  def stop(): Unit = { server.stop(0); pool.shutdown() }
  def boundPort: Int = server.getAddress.getPort

  private final class Handler extends HttpHandler {
    override def handle(ex: HttpExchange): Unit = {
      try route(ex)
      catch {
        // GlobalExceptionHandler.java:23-27: every unexpected failure
        // normalizes to one opaque 500 body
        case _: Throwable =>
          respond(ex, 500, CopyJson.error("Internal server error"))
      } finally ex.close()
    }
  }

  private def route(ex: HttpExchange): Unit = {
    val path = ex.getRequestURI.getPath.stripSuffix("/")
    val method = ex.getRequestMethod
    path match {
      case "/health" =>
        if (method == "GET") respond(ex, 200, CopyJson.health(service.statusCounts))
        else respond(ex, 405, "")
      case "/metrics" =>
        if (method == "GET")
          respond(ex, 200, renderMetrics(service.metricsSnapshot),
            contentType = "text/plain; version=0.0.4; charset=utf-8")
        else respond(ex, 405, "")
      case "/api/v1/copy" =>
        if (method == "POST") handleSubmit(ex)
        else respond(ex, 405, "")
      case p if p.startsWith("/api/v1/copy/") =>
        val id = p.stripPrefix("/api/v1/copy/")
        if (id.contains("/")) respond(ex, 404, "")
        else if (method == "GET") handleStatus(ex, id)
        else respond(ex, 405, "")
      case _ => respond(ex, 404, "")
    }
  }

  private def handleSubmit(ex: HttpExchange): Unit = {
    val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    val parsed =
      try Right(CopyJson.parseRequest(body))
      catch { case _: Exception => Left("Invalid request body") }
    parsed match {
      case Left(err) => respond(ex, 400, CopyJson.error(err))
      case Right(req) =>
        service.submit(req) match {
          case Left(err) => respond(ex, 400, CopyJson.error(err))
          case Right(id) => respond(ex, 202, CopyJson.requestId(id))
        }
    }
  }

  private def handleStatus(ex: HttpExchange, id: String): Unit =
    service.getTask(id) match {
      case Some(task) => respond(ex, 200, CopyJson.renderTask(task))
      case None       => respond(ex, 404, "")
    }

  /** Prometheus text exposition (format version 0.0.4): gauges for the
    * task/item registries by status (label order sorted — scrape output
    * is deterministic), one counter for bytes copied.
    */
  private def renderMetrics(m: CopyMetricsSnapshot): String = {
    val sb = new StringBuilder
    sb ++= "# HELP graft_copy_tasks Registered copy tasks by status.\n"
    sb ++= "# TYPE graft_copy_tasks gauge\n"
    m.tasksByStatus.toSeq.sortBy(_._1).foreach { case (s, n) =>
      sb ++= s"""graft_copy_tasks{status="$s"} $n""" += '\n'
    }
    sb ++= "# HELP graft_copy_items Copy items across all tasks by status.\n"
    sb ++= "# TYPE graft_copy_items gauge\n"
    m.itemsByStatus.toSeq.sortBy(_._1).foreach { case (s, n) =>
      sb ++= s"""graft_copy_items{status="$s"} $n""" += '\n'
    }
    sb ++= "# HELP graft_copy_bytes_total Bytes copied across all items.\n"
    sb ++= "# TYPE graft_copy_bytes_total counter\n"
    sb ++= s"graft_copy_bytes_total ${m.bytesCopied}\n"
    sb.result()
  }

  private def respond(ex: HttpExchange, status: Int, body: String,
      contentType: String = "application/json"): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    if (bytes.nonEmpty)
      ex.getResponseHeaders.set("Content-Type", contentType)
    // sendResponseHeaders treats length 0 as chunked; -1 means empty body
    ex.sendResponseHeaders(status, if (bytes.isEmpty) -1 else bytes.length)
    if (bytes.nonEmpty) {
      val os = ex.getResponseBody
      os.write(bytes)
      os.close()
    }
  }
}

object CopyHttpServer {
  // The JDK server leaves Nagle's algorithm on unless this property is
  // true. sendResponseHeaders writes the headers and the body as separate
  // segments, so on a keep-alive connection the body waits for the
  // client's delayed ACK: ~40 ms on every GET instead of ~1 ms. The JDK
  // reads the property once, when its server config class initialises,
  // so it must be set before the first HttpServer.create in the JVM.
  System.setProperty("sun.net.httpserver.nodelay", "true")

  private def create(port: Int): HttpServer =
    HttpServer.create(new InetSocketAddress(port), 0)
}

/** Runnable entry point: Spark session + copy service + HTTP listener.
  *
  *   sbt "runMain graft.copy.CopyServerMain [port]"
  *
  * GRAFT_CONF_BASEDIR selects the per-namespace Hadoop config root, same
  * as CopyMain.
  */
object CopyServerMain {
  def main(args: Array[String]): Unit = {
    val port = args.headOption.flatMap(_.toIntOption).getOrElse(8080)
    val spark = graft.GraftSession.create("graft-copy-server", graft.GraftSession.cpus(4))
    val svc = new CopyTaskService(new CopyEngine(spark),
      new FsFactory(sys.env.getOrElse("GRAFT_CONF_BASEDIR", "/etc/hadoop-namespaces")))
    val http = new CopyHttpServer(svc, port)
    http.start()
    println(s"""{"listening":${http.boundPort}}""")
    Thread.currentThread().join() // serve until killed
  }
}
