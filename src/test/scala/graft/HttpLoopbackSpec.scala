package graft

import java.net.InetSocketAddress
import java.util.concurrent.CopyOnWriteArrayList
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.sources.{HttpTransport, OcrConnector, Sinks}

/** K3/S8 through a REAL socket — closes the last "spec-gated by design"
  * footnote in SURVEY §2: the pluggable-transport specs proved the
  * operators, this one proves the SHIPPED transports
  * ([[graft.sources.HttpTransport]]) against a live 127.0.0.1
  * `com.sun.net.httpserver` — request shape on the wire (JSON batch
  * bodies, multipart fields + file bytes, bearer header), the retry
  * taxonomy (5xx/IO transient and retried, 4xx contractual and not),
  * and the reject channel fed by real HTTP statuses. Offline-safe:
  * loopback only, ephemeral port. */
class HttpLoopbackSpec extends SparkSpec {
  import spark.implicits._

  /** One ephemeral-port server per test; handlers see the raw exchange. */
  private def withServer(routes: (String, HttpExchange => Unit)*)
                        (body: String => Unit): Unit = {
    val srv = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    routes.foreach { case (path, h) =>
      srv.createContext(path, (ex: HttpExchange) => {
        try h(ex) finally ex.close()
      })
    }
    srv.start()
    try body(s"http://127.0.0.1:${srv.getAddress.getPort}")
    finally srv.stop(0)
  }

  private def readBody(ex: HttpExchange): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    ex.getRequestBody.transferTo(out)
    out.toByteArray
  }

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val b = body.getBytes("UTF-8")
    ex.sendResponseHeaders(status, if (b.isEmpty) -1 else b.length)
    if (b.nonEmpty) ex.getResponseBody.write(b)
  }

  test("K3 postJsonBatches + shipped postJson: JSON-array batches on the wire") {
    val bodies = new CopyOnWriteArrayList[String]()
    val types = new CopyOnWriteArrayList[String]()
    withServer("/api" -> { ex =>
      bodies.add(new String(readBody(ex), "UTF-8"))
      types.add(ex.getRequestHeaders.getFirst("Content-Type"))
      respond(ex, 200, """{"ok":true}""")
    }) { base =>
      val df = (1 to 25).map(i => (i, s"row$i")).toDF("id", "v").repartition(1)
      val (ok, failed) = Sinks.postJsonBatches(df, s"$base/api",
        HttpTransport.postJson(retries = 0), batchSize = 10)
      assert(ok == 25 && failed == 0)
      assert(bodies.size() == 3, "25 rows / batch 10 / 1 partition = 3 POSTs")
      import scala.jdk.CollectionConverters._
      // every body is a well-formed JSON array of row objects; batch
      // sizes are the contract the server-side bulk insert chunks on
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val sizes = bodies.asScala.map(b => mapper.readTree(b).size()).toSeq.sorted
      assert(sizes == Seq(5, 10, 10))
      val all = bodies.asScala.flatMap { b =>
        val n = mapper.readTree(b)
        (0 until n.size()).map(i => n.get(i).get("id").asInt())
      }.toSet
      assert(all == (1 to 25).toSet, "every row posted exactly once")
      assert(types.asScala.forall(_ == "application/json"))
    }
  }

  test("5xx is transient: retried with backoff until the server recovers") {
    val attempts = new AtomicInteger(0)
    withServer("/flaky" -> { ex =>
      readBody(ex)
      if (attempts.incrementAndGet() <= 2) respond(ex, 503, "draining")
      else respond(ex, 200, "ok")
    }) { base =>
      val df = (1 to 4).toDF("id").repartition(1)
      val (ok, failed) = Sinks.postJsonBatches(df, s"$base/flaky",
        HttpTransport.postJson(retries = 2, backoffMs = 1), batchSize = 100)
      assert(ok == 4 && failed == 0, "batch must survive two 503s within retries=2")
      assert(attempts.get() == 3, "two failures + one success")
    }
  }

  test("4xx is contractual: never retried, batch lands in the failed count") {
    val attempts = new AtomicInteger(0)
    withServer("/reject" -> { ex =>
      readBody(ex); attempts.incrementAndGet(); respond(ex, 400, "bad payload")
    }) { base =>
      val df = (1 to 6).toDF("id").repartition(1)
      val (ok, failed) = Sinks.postJsonBatches(df, s"$base/reject",
        HttpTransport.postJson(retries = 3, backoffMs = 1), batchSize = 3)
      assert(ok == 0 && failed == 6)
      assert(attempts.get() == 2, "2 batches, one attempt each — 400 must not retry")
    }
  }

  test("exhausted retries and dead endpoints report failure, not a crash") {
    val attempts = new AtomicInteger(0)
    withServer("/boom" -> { ex =>
      readBody(ex); attempts.incrementAndGet(); respond(ex, 500, "oops")
    }) { base =>
      val df = (1 to 2).toDF("id").repartition(1)
      val (ok, failed) = Sinks.postJsonBatches(df, s"$base/boom",
        HttpTransport.postJson(retries = 1, backoffMs = 1), batchSize = 100)
      assert(ok == 0 && failed == 2)
      assert(attempts.get() == 2, "initial + 1 retry")
      // connection refused (nothing listens on the socket after stop):
      // the transport absorbs the IOException into ExhaustedStatus
      val t = HttpTransport.postJson(retries = 1, backoffMs = 1, timeoutMs = 500)
      val status = t("http://127.0.0.1:1/api", "[]")
      assert(status == HttpTransport.ExhaustedStatus)
    }
  }

  test("S8 ocrFiles + shipped postMultipart: bearer + multipart on the wire, response walk") {
    val headers = new CopyOnWriteArrayList[String]()
    val bodies = new CopyOnWriteArrayList[Array[Byte]]()
    val content = """{"html":"<table><tr><td>42</td></tr></table>"}"""
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val page = mapper.createObjectNode()
    page.put("success", true)
    page.putObject("message").putArray("choices").addObject()
      .putObject("message").put("content", content)
    val resp = mapper.createObjectNode()
    resp.putArray("results").add(page)
    val respBody = mapper.writeValueAsString(resp)
    withServer("/ocr" -> { ex =>
      headers.add(ex.getRequestHeaders.getFirst("Authorization"))
      headers.add(ex.getRequestHeaders.getFirst("Content-Type"))
      bodies.add(readBody(ex))
      respond(ex, 200, respBody)
    }) { base =>
      val dir = java.nio.file.Files.createTempDirectory("graft_ocr_http")
      dir.toFile.deleteOnExit()
      val fileBytes = "%PDF-1.4 GRAFT-FAKE-SCAN-BYTES".getBytes("UTF-8")
      java.nio.file.Files.write(dir.resolve("scan1.pdf"), fileBytes)
      val out = OcrConnector.ocrFiles(spark, dir.toString, s"$base/ocr",
          "sekrit-key", "pdf_table", HttpTransport.postMultipart(retries = 0))
        .collect()
      assert(out.length == 1)
      assert(out.head.getString(1) == "<table><tr><td>42</td></tr></table>",
        "response walk must unwrap results→choices→content→html")
      assert(out.head.isNullAt(2), "2xx response must not reject")
      // the wire: bearer token, multipart content type with a boundary,
      // form fields and the raw file bytes present in the body
      import scala.jdk.CollectionConverters._
      assert(headers.asScala.contains("Bearer sekrit-key"))
      val ct = headers.asScala.find(h => h != null && h.startsWith("multipart/form-data")).get
      assert(ct.contains("boundary="), s"multipart needs a boundary: $ct")
      val body = new String(bodies.get(0), java.nio.charset.StandardCharsets.ISO_8859_1)
      assert(body.contains("""name="task_type""""))
      assert(body.contains("pdf_table"))
      assert(body.contains("""name="file"; filename="scan1.pdf""""))
      assert(body.contains("GRAFT-FAKE-SCAN-BYTES"), "raw file bytes must ride the part")
      val boundary = ct.split("boundary=", 2)(1)
      assert(body.contains(s"--$boundary--"), "multipart must be terminated")
    }
  }

  test("S8 non-2xx from a real server lands in the reject channel with its status") {
    withServer("/ocr" -> { ex => readBody(ex); respond(ex, 500, "kaput") }) { base =>
      val dir = java.nio.file.Files.createTempDirectory("graft_ocr_http_rej")
      dir.toFile.deleteOnExit()
      java.nio.file.Files.write(dir.resolve("bad.pdf"), "x".getBytes("UTF-8"))
      val out = OcrConnector.ocrFiles(spark, dir.toString, s"$base/ocr",
          "k", "pdf_table", HttpTransport.postMultipart(retries = 1, backoffMs = 1))
        .collect()
      assert(out.length == 1)
      assert(out.head.isNullAt(1))
      val reason = out.head.getString(2)
      assert(reason != null && reason.contains("500"), s"reject must carry the status: $reason")
      // a zero-byte scan is posted too, and is one reject row naming it
      java.nio.file.Files.write(dir.resolve("empty.pdf"), Array.emptyByteArray)
      val withEmpty = OcrConnector.ocrFiles(spark, dir.toString, s"$base/ocr",
          "k", "pdf_table", HttpTransport.postMultipart(retries = 0))
        .collect().map(r => (r.getString(0).split('/').last, r.getString(2))).sorted.toSeq
      assert(withEmpty == Seq(("bad.pdf", "ocr_http_500"), ("empty.pdf", "ocr_http_500")))
    }
  }
}
