package graft.enrich

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.stream.{BatchMetrics, FilePipeline, PipelineConfig}
import graft.ops.Envelope

/** X1's missing half (VERDICT r10 item 2): [[HttpDocling]] exercised over
  * REAL localhost HTTP against an in-process `com.sun.net.httpserver`
  * stub — happy path through the full pipeline, timeout → retry
  * schedule, 5xx burst → breaker opens. No network egress: everything
  * binds 127.0.0.1 on an ephemeral port.
  */
class HttpDoclingSpec extends AnyFunSuite with graft.TempDirs {
  lazy val spark = TestSpark.spark

  /** Starts a one-route server on 127.0.0.1:0; returns (endpoint, server,
    * request counter). `handler` maps the request body to (status, body);
    * negative status = sleep that many ms then 200 (timeout injection).
    */
  private def withServer[A](handler: String => (Int, String))(
      f: (String, AtomicInteger) => A): A = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val hits = new AtomicInteger(0)
    server.createContext("/v1/convert/source", (ex: HttpExchange) => {
      hits.incrementAndGet()
      val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
      try {
        val (status, respBody) = handler(body)
        val s = if (status < 0) { Thread.sleep(-status.toLong); 200 } else status
        val bytes = respBody.getBytes(UTF_8)
        ex.getResponseHeaders.add("Content-Type", "application/json")
        ex.sendResponseHeaders(s, bytes.length.toLong)
        ex.getResponseBody.write(bytes)
      } catch { case _: java.io.IOException => () } // client went away (timeout test)
      finally ex.close()
    })
    // thread-pool executor: a sleeping handler (timeout test) must not
    // serialize the retry attempts behind it
    server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool())
    server.start()
    val endpoint =
      s"http://127.0.0.1:${server.getAddress.getPort}/v1/convert/source"
    try f(endpoint, hits) finally server.stop(0)
  }

  private val fastRetry = RetryPolicy(sleeper = _ => ())

  test("happy path: full pipeline enriches over real localhost HTTP") {
    withServer { body =>
      // deterministic function of the request, like Docling Serve returning
      // structured JSON for the converted document
      (200, s"""{"schema":"docling/v1","via":"http","reqLen":${body.length}}""")
    } { (endpoint, hits) =>
      val rows = (1 to 4).map { i =>
        org.apache.spark.sql.Row(
          s"doc$i.pdf", "application/pdf", 1000L + i, s"GOANYWHERE-$i",
          "ab" * 32, f"corr-$i%04d", s"payload-$i".getBytes,
          java.sql.Timestamp.valueOf("2024-03-06 07:08:09"), 1)
      }
      val envelope = spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), Envelope.envelopeSchema)
      val out = tempDir("graft-http").toString
      val m = FilePipeline.runBatch(envelope, out,
        new HttpDocling(HttpDoclingConfig(endpoint)),
        PipelineConfig(retry = fastRetry,
          breakerName = java.util.UUID.randomUUID().toString))
      assert(m == BatchMetrics(4, 4, 0, 0))
      val processed = java.nio.file.Paths.get(
        out, "processed/2024/03/06/corr-0001/doc1.pdf.json")
      assert(Files.exists(processed))
      val json = Files.readString(processed)
      assert(json.contains("\"via\":\"http\""))
      assert(hits.get() == 4)
    }
  }

  test("POST shape: method, path and Content-Type reach the server") {
    @volatile var sawBody = ""
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    @volatile var method = ""; @volatile var ctype = ""
    server.createContext("/v1/convert/source", (ex: HttpExchange) => {
      method = ex.getRequestMethod
      ctype = ex.getRequestHeaders.getFirst("Content-Type")
      sawBody = new String(ex.getRequestBody.readAllBytes(), UTF_8)
      ex.sendResponseHeaders(200, 2L); ex.getResponseBody.write("{}".getBytes(UTF_8))
      ex.close()
    })
    server.start()
    try {
      val endpoint =
        s"http://127.0.0.1:${server.getAddress.getPort}/v1/convert/source"
      val resp = new HttpDocling(HttpDoclingConfig(endpoint))
        .convert("""{"source":"s3://bucket/key"}""")
      assert(resp == "{}")
      assert(method == "POST")
      assert(ctype.startsWith("application/json"))
      assert(sawBody.contains("s3://bucket/key"))
    } finally server.stop(0)
  }

  test("timeout: slow server trips the request timeout and the retry schedule runs") {
    withServer(_ => (-2000, "{}")) { (endpoint, hits) =>
      val client = new HttpDocling(
        HttpDoclingConfig(endpoint, requestTimeoutMs = 150L))
      val delays = scala.collection.mutable.ArrayBuffer.empty[Long]
      val retry = RetryPolicy(sleeper = delays += _)
      val out = retry.run(() => client.convert("{}"))
      out match {
        case Left((err, attempts)) =>
          assert(attempts == 3)
          assert(err.toLowerCase.contains("timeout"))
        case Right(_) => fail("slow server must not succeed")
      }
      // the reference's redelivery schedule: 5 s then 10 s between attempts
      assert(delays.toSeq == Seq(5000L, 10000L))
      assert(hits.get() == 3)
    }
  }

  test("5xx burst: breaker opens and stops hitting the server") {
    withServer(_ => (503, """{"error":"overloaded"}""")) { (endpoint, hits) =>
      val client = new HttpDocling(HttpDoclingConfig(endpoint))
      val breaker = new CircuitBreaker(
        BreakerConfig(requestVolumeThreshold = 4, failureRatio = 0.5))
      var fastFails = 0
      (1 to 10).foreach { _ =>
        try breaker.call(() => client.convert("{}"))
        catch {
          case _: CircuitBreakerOpenException => fastFails += 1
          case _: RuntimeException => ()
        }
      }
      // 4 real requests fill the window and open the breaker; the
      // remaining 6 fail fast without touching the server
      assert(hits.get() == 4)
      assert(fastFails == 6)
    }
  }

  test("5xx surfaces status and body snippet in the error") {
    withServer(_ => (500, """{"error":"conversion failed"}""")) { (endpoint, _) =>
      val e = intercept[RuntimeException] {
        new HttpDocling(HttpDoclingConfig(endpoint)).convert("{}")
      }
      assert(e.getMessage.contains("HTTP 500"))
      assert(e.getMessage.contains("conversion failed"))
    }
  }
}
