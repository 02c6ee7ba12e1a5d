package graft.server

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import com.fasterxml.jackson.databind.ObjectMapper

import graft.engine.{SparkSpec, WebhookConfig}

/** HTTP API contract tests, porting tests/test_api_endpoints.py against
  * the real server on a loopback port.
  */
class GatewayServerSpec extends SparkSpec {
  import SparkSpec._

  private val mapper = new ObjectMapper()
  private val http = HttpClient.newHttpClient()

  private def withServer(f: (GatewayServer, String) => Unit): Unit = {
    val server = new GatewayServer(newEngine(), 0, "test_key").start()
    try f(server, s"http://127.0.0.1:${server.boundPort}")
    finally server.stop()
  }

  private def req(url: String, method: String = "GET", body: String = "",
      key: Option[String] = Some("test_key"),
      contentType: String = "application/json") = {
    val b = HttpRequest.newBuilder(URI.create(url))
    key.foreach(k => b.header("X-API-Key", k))
    if (method == "GET") b.GET()
    else {
      b.header("Content-Type", contentType)
      b.method(method, HttpRequest.BodyPublishers.ofString(body))
    }
    http.send(b.build(), HttpResponse.BodyHandlers.ofString())
  }

  private def form(kvs: (String, String)*): String =
    kvs.map { case (k, v) =>
      k + "=" + java.net.URLEncoder.encode(v, "UTF-8")
    }.mkString("&")

  test("health check (src/app.py:926-929)") {
    withServer { (_, base) =>
      val r = req(s"$base/", key = None)
      assert(r.statusCode() == 200)
      assert(mapper.readTree(r.body()).get("status").asText() == "ok")
    }
  }

  test("auth taxonomy: 403 missing, 401 bad, 200 good (test_api_endpoints.py:20-64)") {
    withServer { (_, base) =>
      assert(req(s"$base/stats", key = None).statusCode() == 403)
      assert(req(s"$base/stats", key = Some("wrong")).statusCode() == 401)
      assert(req(s"$base/stats").statusCode() == 200)
    }
  }

  test("register + 422 on missing {{payload}} (test_api_endpoints.py:70-140)") {
    withServer { (_, base) =>
      val good = req(s"$base/register", "POST",
        """{"source_path": "/api-hook", "destination_url": "https://example.com/x",
          | "transform_query": "SELECT * FROM {{payload}}"}""".stripMargin)
      assert(good.statusCode() == 200)
      val node = mapper.readTree(good.body())
      assert(node.get("status").asText() == "success")
      assert(node.get("webhook").get("source_path").asText() == "/api-hook")
      assert(node.get("webhook").get("id").asText().nonEmpty)

      val bad = req(s"$base/register", "POST",
        """{"source_path": "/bad", "destination_url": "https://example.com/x",
          | "transform_query": "SELECT 1"}""".stripMargin)
      assert(bad.statusCode() == 422)
    }
  }

  test("ingest end-to-end through HTTP: 200/404/400 + audit (test_api_endpoints.py:321-409)") {
    withServer { (server, base) =>
      req(s"$base/register", "POST",
        """{"source_path": "/http-hook", "destination_url": "https://example.com/x",
          | "transform_query": "SELECT n, n + 1 AS m FROM {{payload}}"}""".stripMargin)
      val ok = req(s"$base/http-hook", "POST", """{"n": 41}""", key = None)
      assert(ok.statusCode() == 200)
      val ack = mapper.readTree(ok.body())
      assert(ack.get("status").asText() == "accepted")
      val eid = ack.get("event_id").asText()

      assert(req(s"$base/no-such-hook", "POST", "{}", key = None)
        .statusCode() == 404)
      assert(req(s"$base/http-hook", "POST", "{oops", key = None)
        .statusCode() == 400)
      server.engine.drain() // ack precedes processing; settle before reads

      // /query sees the audit trail (test_integration shape)
      val q = req(s"$base/query", "POST",
        form("query" ->
          s"SELECT transformed_payload FROM transformed_events WHERE raw_event_id = '$eid'"),
        contentType = "application/x-www-form-urlencoded")
      assert(q.statusCode() == 200)
      val result = mapper.readTree(q.body()).get("result")
      assert(result.size() == 1)
      assert(jsonEq(result.get(0).get(0).asText(), """{"n":41,"m":42}"""))

      // /event/{id}/transformed detail surface
      val detail = req(s"$base/event/$eid/transformed")
      assert(detail.statusCode() == 200)
      val d = mapper.readTree(detail.body())
      assert(d.get("raw_payload").get("n").asInt() == 41)
      assert(d.get("transformed").get("payload").get("m").asInt() == 42)
    }
  }

  test("empty bodies and trailing content are 400 and write no raw row") {
    withServer { (server, base) =>
      req(s"$base/register", "POST",
        """{"source_path": "/strict-hook", "destination_url": "https://example.com/x",
          | "transform_query": "SELECT * FROM {{payload}}"}""".stripMargin)
      Seq("", "   ", """{"a": 1} xyz""", """{"a": 1}{"b": 2}""", "[1,2]]")
        .foreach { b =>
          val r = req(s"$base/strict-hook", "POST", b, key = None)
          assert(r.statusCode() == 400, s"'$b'")
          assert(mapper.readTree(r.body()).get("detail").asText() ==
            "Invalid JSON payload", s"'$b'")
        }
      // whitespace around one value, and a top-level scalar, stay valid
      Seq(" {\"a\": 1}\n", "null", "42").foreach { b =>
        assert(req(s"$base/strict-hook", "POST", b, key = None)
          .statusCode() == 200, s"'$b'")
      }
      server.engine.drain()
      assert(server.engine.audit.rawEvents().count() == 3L)
    }
  }

  test("/query write rejection → 400 (test_api_endpoints.py:237-250)") {
    withServer { (_, base) =>
      val r = req(s"$base/query", "POST",
        form("query" -> "DROP TABLE raw_events"),
        contentType = "application/x-www-form-urlencoded")
      assert(r.statusCode() == 400)
      assert(mapper.readTree(r.body()).get("detail").asText()
        .contains("Write operations not allowed"))
    }
  }

  test("upload_table multipart CSV + listing (test_api_endpoints.py:276-318)") {
    withServer { (server, base) =>
      val reg = req(s"$base/register", "POST",
        """{"source_path": "/mp", "destination_url": "https://example.com/x",
          | "transform_query": "SELECT * FROM {{payload}}"}""".stripMargin)
      val wid = mapper.readTree(reg.body()).get("webhook").get("id").asText()

      val boundary = "----graftboundary42"
      val csv = "id,name\n1,Alpha\n2,Beta"
      val body =
        s"""--$boundary\r
           |Content-Disposition: form-data; name="webhook_id"\r
           |\r
           |$wid\r
           |--$boundary\r
           |Content-Disposition: form-data; name="table_name"\r
           |\r
           |people\r
           |--$boundary\r
           |Content-Disposition: form-data; name="file"; filename="people.csv"\r
           |Content-Type: text/csv\r
           |\r
           |$csv\r
           |--$boundary--\r
           |""".stripMargin
      val up = req(s"$base/upload_table", "POST", body,
        contentType = s"multipart/form-data; boundary=$boundary")
      assert(up.statusCode() == 200)
      val qn = mapper.readTree(up.body()).get("qualified_name").asText()

      val listed = req(s"$base/reference_tables?webhook_id=$wid")
      assert(mapper.readTree(listed.body()).get("reference_tables").size() == 1)

      // the uploaded table is joinable in a transform
      val rows = spark.table(qn).orderBy("id").collect()
      assert(rows.map(_.getString(1)).toSeq == Seq("Alpha", "Beta"))
    }
  }

  test("register_udf form + listing + webhook lifecycle (test_api_endpoints.py:142-213)") {
    withServer { (_, base) =>
      val reg = req(s"$base/register", "POST",
        """{"source_path": "/lc", "destination_url": "https://example.com/x",
          | "transform_query": "SELECT * FROM {{payload}}"}""".stripMargin)
      val wid = mapper.readTree(reg.body()).get("webhook").get("id").asText()

      val udf = req(s"$base/register_udf", "POST",
        form("webhook_id" -> wid, "function_name" -> "shout",
          "function_code" -> "def shout(s: String): String = s.toUpperCase"),
        contentType = "application/x-www-form-urlencoded")
      assert(udf.statusCode() == 200)
      assert(mapper.readTree(udf.body()).get("qualified_name").asText()
        .endsWith("_shout"))

      assert(mapper.readTree(req(s"$base/udfs?webhook_id=$wid").body())
        .get("udfs").size() == 1)
      assert(mapper.readTree(req(s"$base/webhooks").body())
        .get("webhooks").size() == 1)

      // PATCH status off and back on
      val off = req(s"$base/webhook/$wid/status", "PATCH", """{"active": false}""")
      assert(mapper.readTree(off.body()).get("webhook").get("source_path")
        .asText().startsWith("/inactive_"))
      val on = req(s"$base/webhook/$wid/status", "PATCH", """{"active": true}""")
      assert(mapper.readTree(on.body()).get("webhook").get("source_path")
        .asText() == "/lc")

      // DELETE (no events → hard delete)
      assert(req(s"$base/webhooks/$wid", "DELETE").statusCode() == 200)
      assert(req(s"$base/webhook/$wid").statusCode() == 404)
    }
  }

  test("stop() drains the deferred-ack queue before returning (ADVICE r4)") {
    val slowMs = 400L
    val delivered = new java.util.concurrent.atomic.AtomicInteger()
    val engine = newEngine((_, _, _) => {
      Thread.sleep(slowMs)
      delivered.incrementAndGet()
      graft.engine.Delivery.Result(success = true, Some(200), "ok")
    })
    val server = new GatewayServer(engine, 0, "test_key").start()
    val base = s"http://127.0.0.1:${server.boundPort}"
    req(s"$base/register", "POST",
      """{"source_path": "/drainhook", "destination_url": "https://example.com/x",
        | "transform_query": "SELECT * FROM {{payload}}"}""".stripMargin)
    (1 to 3).foreach(i =>
      req(s"$base/drainhook", "POST", s"""{"n": $i}""", key = None))
    // acks returned before delivery; a stop() that skipped drain() would
    // leave queued events undelivered and unaudited at JVM exit
    server.stop()
    assert(delivered.get() == 3)
    val audited = engine.adHocQuery(
      "SELECT COUNT(*) FROM transformed_events WHERE success").toOption.get
    assert(audited == Seq(Seq(3L)))
  }

  test("stop() flushes the audit buffers: a restart sees every acked event") {
    val workDir = java.nio.file.Files.createTempDirectory("graft-stop").toString
    val engine = new graft.engine.WebhookEngine(spark, workDir)
    engine.register(WebhookConfig("/flushhook", "https://example.com/x",
      "SELECT * FROM {{payload}}", None, None))
    val server = new GatewayServer(engine, 0, "test_key").start()
    val base = s"http://127.0.0.1:${server.boundPort}"
    (1 to 3).foreach(i => assert(
      req(s"$base/flushhook", "POST", s"""{"n": $i}""", key = None)
        .statusCode() == 200))
    server.stop()
    val fresh = new graft.engine.WebhookEngine(spark, workDir)
    assert(fresh.audit.rawEvents().count() == 3)
    assert(fresh.audit.transformedEvents().count() == 3)
  }

  test("echo webhook (src/app.py:1674-1703)") {
    withServer { (_, base) =>
      val r = req(s"$base/echo-webhook", "POST", """{"ping": true}""")
      assert(r.statusCode() == 200)
      val n = mapper.readTree(r.body())
      assert(n.get("payload").get("ping").asBoolean())
      assert(n.get("message").asText().contains("Echo"))
      val empty = req(s"$base/echo-webhook", "POST", "")
      assert(empty.statusCode() == 500)
      assert(mapper.readTree(empty.body()).get("detail").asText() ==
        "Invalid JSON")
    }
  }

  test("SPA catch-all without a build returns the reference message (src/app.py:1770-1782)") {
    withServer { (_, base) =>
      val r = req(s"$base/some/client/route", key = None)
      assert(r.statusCode() == 200)
      assert(mapper.readTree(r.body()).get("message").asText()
        .contains("Frontend not found"))
    }
  }

  test("shipped console (frontend/dist) serves through the SPA catch-all") {
    // the repo ships a built single-file admin console; wiring its
    // directory as staticDir must serve it on any non-API GET path
    // while / stays the health JSON (reference parity, src/app.py:926)
    val server = new GatewayServer(newEngine(), 0, "test_key",
      Some("frontend/dist")).start()
    try {
      val base = s"http://127.0.0.1:${server.boundPort}"
      val page = req(s"$base/app", key = None)
      assert(page.statusCode() == 200)
      assert(page.headers().firstValue("Content-Type").get == "text/html")
      assert(page.body().contains("graft gateway console"))
      val root = req(s"$base/", key = None)
      assert(mapper.readTree(root.body()).path("status").asText == "ok")
    } finally server.stop()
  }

  test("SPA catch-all serves static assets and falls back to index.html") {
    val dir = java.nio.file.Files.createTempDirectory("graft-spa")
    java.nio.file.Files.writeString(dir.resolve("index.html"),
      "<html>graft spa</html>")
    java.nio.file.Files.writeString(dir.resolve("app.js"), "console.log(1)")
    val server = new GatewayServer(newEngine(), 0, "test_key",
      Some(dir.toString)).start()
    try {
      val base = s"http://127.0.0.1:${server.boundPort}"
      val asset = req(s"$base/app.js", key = None)
      assert(asset.statusCode() == 200)
      assert(asset.body() == "console.log(1)")
      assert(asset.headers().firstValue("Content-Type").get ==
        "application/javascript")
      // unknown client-side routes get index.html (SPA routing)
      val route = req(s"$base/webhooks-page/deep/link", key = None)
      assert(route.statusCode() == 200)
      assert(route.body().contains("graft spa"))
      assert(route.headers().firstValue("Content-Type").get == "text/html")
      // path traversal cannot escape the static root
      val sneaky = req(s"$base/%2e%2e/%2e%2e/etc/hosts", key = None)
      assert(sneaky.statusCode() == 200)
      assert(sneaky.body().contains("graft spa"))
      // API routes still win over the catch-all
      assert(req(s"$base/stats").statusCode() == 200)
    } finally server.stop()
  }
}
