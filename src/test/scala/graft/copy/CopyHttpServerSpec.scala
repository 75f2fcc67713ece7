package graft.copy

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files
import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.concurrent.Eventually
import org.scalatest.time.{Millis, Seconds, Span}
import graft.SparkSpec

/** Ports the reference REST suite over real HTTP
  * (reference/controller/CopyControllerTest.java:30-215): submit
  * 202/400 matrix with exact error strings, status 200/404, body-parse
  * and internal-error normalization
  * (GlobalExceptionHandler.java:16-27) — against a stub service for the
  * controller-level cases, plus one end-to-end copy through the real
  * service.
  */
class CopyHttpServerSpec extends SparkSpec with Eventually {

  implicit override val patienceConfig: PatienceConfig =
    PatienceConfig(timeout = Span(60, Seconds), interval = Span(100, Millis))

  private val mapper = new ObjectMapper()
  private val client = HttpClient.newHttpClient()

  private def withServer[A](api: CopyApi)(f: Int => A): A = {
    val srv = new CopyHttpServer(api, port = 0)
    srv.start()
    try f(srv.boundPort) finally srv.stop()
  }

  private def post(port: Int, body: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/api/v1/copy"))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def get(port: Int, id: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/api/v1/copy/$id"))
        .GET().build(),
      HttpResponse.BodyHandlers.ofString())

  /** Stub analog of the reference test's @MockitoBean service. */
  private class StubApi(
      submitResult: CopyRequest => Either[String, String] = _ => Right("test-request-id"),
      tasks: Map[String, CopyTaskState] = Map.empty) extends CopyApi {
    @volatile var lastSubmitted: CopyRequest = _
    override def submit(req: CopyRequest): Either[String, String] = {
      lastSubmitted = req
      // validation mirrors the real service (strings from the reference)
      if (req.namespace == null || req.namespace.isBlank) Left("namespace is required")
      else if (req.items == null || req.items.isEmpty) Left("items must not be empty")
      else if (req.bandwidthMbPerSec.exists(_ <= 0)) Left("bandwidth must be positive")
      else submitResult(req)
    }
    override def getTask(id: String): Option[CopyTaskState] = tasks.get(id)
    // the trait keeps these abstract (so real implementers can't forget
    // them); the stub's empty payloads live here, test-side only
    override def statusCounts: Map[String, Long] = Map.empty
    override def metricsSnapshot: CopyMetricsSnapshot =
      CopyMetricsSnapshot(Map.empty, Map.empty, 0L)
  }

  test("valid request → 202 with requestId") {
    withServer(new StubApi()) { port =>
      val r = post(port,
        """{"namespace":"nameservice1",
             "items":[{"hdfsPath":"/data/result1","localPath":"/tmp/res1"}]}""")
      r.statusCode() shouldBe 202
      mapper.readTree(r.body()).get("requestId").asText() shouldBe "test-request-id"
    }
  }

  test("missing / blank namespace → 400 'namespace is required'") {
    withServer(new StubApi()) { port =>
      val r1 = post(port, """{"items":[{"hdfsPath":"/a","localPath":"/b"}]}""")
      r1.statusCode() shouldBe 400
      mapper.readTree(r1.body()).get("error").asText() shouldBe "namespace is required"
      val r2 = post(port, """{"namespace":"  ","items":[{"hdfsPath":"/a","localPath":"/b"}]}""")
      r2.statusCode() shouldBe 400
      mapper.readTree(r2.body()).get("error").asText() shouldBe "namespace is required"
    }
  }

  test("empty / missing items → 400 'items must not be empty'") {
    withServer(new StubApi()) { port =>
      val r1 = post(port, """{"namespace":"nameservice1","items":[]}""")
      r1.statusCode() shouldBe 400
      mapper.readTree(r1.body()).get("error").asText() shouldBe "items must not be empty"
      val r2 = post(port, """{"namespace":"nameservice1"}""")
      r2.statusCode() shouldBe 400
      mapper.readTree(r2.body()).get("error").asText() shouldBe "items must not be empty"
    }
  }

  test("zero / negative bandwidth → 400 'bandwidth must be positive'; positive → 202") {
    withServer(new StubApi(_ => Right("bw-request-id"))) { port =>
      for (bw <- Seq(0, -5)) {
        val r = post(port,
          s"""{"namespace":"nameservice1","bandwidth":$bw,
                "items":[{"hdfsPath":"/a","localPath":"/b"}]}""")
        r.statusCode() shouldBe 400
        mapper.readTree(r.body()).get("error").asText() shouldBe "bandwidth must be positive"
      }
      val ok = post(port,
        """{"namespace":"nameservice1","bandwidth":10,
             "items":[{"hdfsPath":"/a","localPath":"/b"}]}""")
      ok.statusCode() shouldBe 202
      mapper.readTree(ok.body()).get("requestId").asText() shouldBe "bw-request-id"
    }
  }

  test("multiple items → 202") {
    val stub = new StubApi(_ => Right("multi-id"))
    withServer(stub) { port =>
      val r = post(port,
        """{"namespace":"nameservice1",
             "items":[{"hdfsPath":"/data/result1","localPath":"/tmp/res1"},
                      {"hdfsPath":"/data/result2","localPath":"/tmp/res2"}]}""")
      r.statusCode() shouldBe 202
      mapper.readTree(r.body()).get("requestId").asText() shouldBe "multi-id"
      stub.lastSubmitted.items should have size 2
    }
  }

  test("invalid JSON → 400 'Invalid request body'") {
    withServer(new StubApi()) { port =>
      val r = post(port, "not json")
      r.statusCode() shouldBe 400
      mapper.readTree(r.body()).get("error").asText() shouldBe "Invalid request body"
    }
  }

  test("unexpected service failure → 500 'Internal server error'") {
    withServer(new StubApi(_ => throw new RuntimeException("boom"))) { port =>
      val r = post(port,
        """{"namespace":"ns","items":[{"hdfsPath":"/a","localPath":"/b"}]}""")
      r.statusCode() shouldBe 500
      mapper.readTree(r.body()).get("error").asText() shouldBe "Internal server error"
    }
  }

  test("GET existing task → 200 with reference-shaped fields") {
    val task = new CopyTaskState("req-123", "ns1", None,
      Seq(new CopyItemState("/data/res1", "/tmp/res1")))
    task.status = CopyTaskStatus.IN_PROGRESS
    withServer(new StubApi(tasks = Map("req-123" -> task))) { port =>
      val r = get(port, "req-123")
      r.statusCode() shouldBe 200
      val n = mapper.readTree(r.body())
      n.get("requestId").asText() shouldBe "req-123"
      n.get("status").asText() shouldBe "IN_PROGRESS"
      n.get("items").get(0).get("hdfsPath").asText() shouldBe "/data/res1"
      n.get("items").get(0).get("checksumVerified").asBoolean() shouldBe false
      n.get("items").get(0).get("speed").asText() shouldBe "N/A"
    }
  }

  test("GET completed task with checksum → checksumVerified true, bytesCopied") {
    val item = new CopyItemState("/data/res1", "/tmp/res1")
    item.status = CopyItemStatus.COMPLETED
    item.bytesCopied = 1024L
    item.checksumVerified = true
    val task = new CopyTaskState("req-456", "ns1", None, Seq(item))
    task.status = CopyTaskStatus.COMPLETED
    withServer(new StubApi(tasks = Map("req-456" -> task))) { port =>
      val r = get(port, "req-456")
      r.statusCode() shouldBe 200
      val n = mapper.readTree(r.body())
      n.get("items").get(0).get("checksumVerified").asBoolean() shouldBe true
      n.get("items").get(0).get("bytesCopied").asLong() shouldBe 1024L
    }
  }

  test("GET unknown task → 404") {
    withServer(new StubApi()) { port =>
      get(port, "unknown").statusCode() shouldBe 404
    }
  }

  private def getPath(port: Int, path: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .GET().build(),
      HttpResponse.BodyHandlers.ofString())

  test("GET /health → 200 UP with counts-by-status from the registry") {
    val api = new StubApi() {
      override def statusCounts: Map[String, Long] =
        Map("IN_PROGRESS" -> 2L, "COMPLETED" -> 3L)
    }
    withServer(api) { port =>
      val r = getPath(port, "/health")
      r.statusCode() shouldBe 200
      val n = mapper.readTree(r.body())
      n.get("status").asText() shouldBe "UP"
      n.get("tasks").get("IN_PROGRESS").asLong() shouldBe 2L
      n.get("tasks").get("COMPLETED").asLong() shouldBe 3L
    }
  }

  test("sequential keep-alive GETs answer well under the 40 ms delayed-ACK floor") {
    // With Nagle on, the body segment of each response waits for the
    // client's delayed ACK of the header segment: ~40 ms per GET on a
    // reused connection.
    val keepAlive = HttpClient.newBuilder()
      .version(HttpClient.Version.HTTP_1_1).build()
    withServer(new StubApi()) { port =>
      val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/health"))
        .GET().build()
      keepAlive.send(req, HttpResponse.BodyHandlers.ofString()) // connect
      val ms = (1 to 20).map { _ =>
        val t0 = System.nanoTime()
        val r = keepAlive.send(req, HttpResponse.BodyHandlers.ofString())
        r.statusCode() shouldBe 200
        (System.nanoTime() - t0) / 1e6
      }.sorted
      withClue(s"GET /health ms: ${ms.map(m => f"$m%.1f").mkString(" ")}: ") {
        (ms(9) + ms(10)) / 2 should be < 20.0
      }
    }
  }

  test("GET /health on an empty registry → 200 UP, empty tasks object") {
    withServer(new StubApi()) { port =>
      val r = getPath(port, "/health")
      r.statusCode() shouldBe 200
      val n = mapper.readTree(r.body())
      n.get("status").asText() shouldBe "UP"
      n.get("tasks").isObject shouldBe true
      n.get("tasks").size() shouldBe 0
    }
  }

  test("GET /metrics → 200 Prometheus text with task/item gauges and bytes counter") {
    val api = new StubApi() {
      override def metricsSnapshot: CopyMetricsSnapshot = CopyMetricsSnapshot(
        Map("COMPLETED" -> 2L, "IN_PROGRESS" -> 1L),
        Map("COMPLETED" -> 5L, "FAILED" -> 1L),
        1048576L)
    }
    withServer(api) { port =>
      val r = getPath(port, "/metrics")
      r.statusCode() shouldBe 200
      r.headers().firstValue("Content-Type").get() should startWith("text/plain")
      val body = r.body()
      body should include("# TYPE graft_copy_tasks gauge")
      body should include("graft_copy_tasks{status=\"COMPLETED\"} 2")
      body should include("graft_copy_tasks{status=\"IN_PROGRESS\"} 1")
      body should include("graft_copy_items{status=\"FAILED\"} 1")
      body should include("# TYPE graft_copy_bytes_total counter")
      body should include("graft_copy_bytes_total 1048576")
      // sorted label order — deterministic scrape output
      body.indexOf("COMPLETED") should be < body.indexOf("IN_PROGRESS")
    }
  }

  test("POST /metrics → 405") {
    withServer(new StubApi()) { port =>
      val r = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/metrics"))
          .POST(HttpRequest.BodyPublishers.ofString("{}")).build(),
        HttpResponse.BodyHandlers.ofString())
      r.statusCode() shouldBe 405
    }
  }

  test("POST /health → 405") {
    withServer(new StubApi()) { port =>
      val r = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/health"))
          .POST(HttpRequest.BodyPublishers.ofString("{}")).build(),
        HttpResponse.BodyHandlers.ofString())
      r.statusCode() shouldBe 405
    }
  }

  test("end-to-end: submit over HTTP, poll to COMPLETED, bytes on disk") {
    val svc = new CopyTaskService(new CopyEngine(spark),
      new FsFactory("/nonexistent-conf-dir"))
    val srcDir = tmpDir("src")
    val payload = Array.tabulate(200000)(i => (i % 251).toByte)
    val src = srcDir.resolve("f.bin"); Files.write(src, payload)
    val dst = tmpDir("dst").resolve("f.bin")
    withServer(svc) { port =>
      val r = post(port,
        s"""{"namespace":"ns",
              "items":[{"hdfsPath":"$src","localPath":"$dst"}]}""")
      r.statusCode() shouldBe 202
      val id = mapper.readTree(r.body()).get("requestId").asText()
      eventually {
        val n = mapper.readTree(get(port, id).body())
        n.get("status").asText() shouldBe "COMPLETED"
      }
      val n = mapper.readTree(get(port, id).body())
      val item = n.get("items").get(0)
      item.get("status").asText() shouldBe "COMPLETED"
      item.get("bytesCopied").asLong() shouldBe payload.length.toLong
      item.get("checksumVerified").asBoolean() shouldBe true
      item.get("speed").asText() should endWith(" MB/s")
      Files.readAllBytes(dst) shouldBe payload
      // the real service's registry shows up on /health and /metrics
      val h = mapper.readTree(getPath(port, "/health").body())
      h.get("status").asText() shouldBe "UP"
      h.get("tasks").get("COMPLETED").asLong() should be >= 1L
      val metrics = getPath(port, "/metrics").body()
      metrics should include("graft_copy_tasks{status=\"COMPLETED\"} 1")
      metrics should include("graft_copy_items{status=\"COMPLETED\"} 1")
      metrics should include(s"graft_copy_bytes_total ${payload.length}")
    }
  }
}
