package graft.server

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Instant

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.engine._

/** The thin HTTP shell over [[WebhookEngine]] — the reference's full API
  * surface (src/app.py endpoints) on the JDK's built-in HTTP server, so
  * a user of the reference gateway can point existing clients here
  * unchanged. No compute lives in this layer; every handler delegates
  * to the engine.
  *
  * Auth matches the reference (src/app.py:875-892): `X-API-Key` header
  * equality against WEBHOOK_GATEWAY_API_KEY (default "default_key");
  * missing header → 403, wrong key → 401
  * (tests/test_api_endpoints.py:20-64). The ingestion endpoint
  * `POST /{path}` is deliberately unauthenticated (src/app.py:1068).
  */
final class GatewayServer(val engine: WebhookEngine, port: Int = 0,
    apiKey: String =
      sys.env.getOrElse("WEBHOOK_GATEWAY_API_KEY", "default_key"),
    staticDir: Option[String] = None) {

  private val mapper = new ObjectMapper()
  private val server = HttpServer.create(new InetSocketAddress(port), 0)
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(8)

  def boundPort: Int = server.getAddress.getPort

  def start(): GatewayServer = {
    server.createContext("/", handle _)
    // A small pool rather than the reference's globally-serialized
    // executor: the engine is thread-safe (SparkSession concurrent SQL,
    // synchronized catalog mutations, locked UDF compiles), so slow
    // analytics queries don't block ingestion.
    server.setExecutor(pool)
    server.start()
    this
  }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdown() // non-daemon threads would otherwise pin the JVM
    // handlers still running may yet ack an event: let them finish, so
    // the drain below covers every ack sent
    pool.awaitTermination(30, java.util.concurrent.TimeUnit.SECONDS)
    // the ingest worker is a daemon thread: without this drain, events
    // acked "accepted" but still queued would be dropped at JVM exit
    // with no transformed_events audit row; the flush then writes the
    // buffered audit rows, so a restart on the same workDir sees them
    engine.drain()
    engine.audit.flush()
  }

  // ---- routing ----

  private def handle(ex: HttpExchange): Unit =
    try route(ex)
    catch {
      case NonFatal(e) => send(ex, 500, obj("detail" -> e.getMessage))
    } finally ex.close()

  private def route(ex: HttpExchange): Unit = {
    val path = ex.getRequestURI.getPath
    val method = ex.getRequestMethod
    (method, path) match {
      case ("GET", "/") =>
        send(ex, 200, obj("status" -> "ok",
          "message" -> "Spark Webhook Gateway is running"))
      case ("POST", "/register") => withAuth(ex)(register(ex))
      case ("POST", "/query") => withAuth(ex)(adHoc(ex))
      case ("GET", "/stats") => withAuth(ex)(stats(ex))
      case ("GET", "/webhooks") => withAuth(ex)(listWebhooks(ex))
      case ("GET", "/events") => withAuth(ex)(events(ex))
      case ("POST", "/echo-webhook") => withAuth(ex)(echo(ex))
      case ("POST", "/register_udf") => withAuth(ex)(registerUdf(ex))
      case ("POST", "/upload_table") => withAuth(ex)(uploadTable(ex))
      case ("GET", "/reference_tables") => withAuth(ex)(listRefTables(ex))
      case ("GET", "/udfs") => withAuth(ex)(listUdfs(ex))
      case ("GET", EventTransformed(id)) => withAuth(ex)(eventDetail(ex, id))
      case ("GET", WebhookById(id)) => withAuth(ex)(getWebhook(ex, id))
      case ("PUT", WebhookById(id)) => withAuth(ex)(putWebhook(ex, id))
      case ("PATCH", WebhookStatus(id)) => withAuth(ex)(patchStatus(ex, id))
      case ("DELETE", WebhooksById(id)) => withAuth(ex)(deleteWebhook(ex, id))
      case ("POST", p) => ingest(ex, p)
      // SPA catch-all, matched LAST like the reference's
      // `/{full_path:path}` route (src/app.py:1770-1782): static asset
      // if one exists, index.html for client-side routes, and the
      // reference's "Frontend not found" JSON when no build is present.
      case ("GET", p) => serveSpa(ex, p)
      case _ => send(ex, 404, obj("detail" -> "Not found"))
    }
  }

  private def serveSpa(ex: HttpExchange, path: String): Unit = {
    import java.nio.file.{Files, Paths}
    staticDir.map(d => Paths.get(d).toAbsolutePath.normalize) match {
      case None =>
        send(ex, 200, obj("message" ->
          ("Frontend not found. Please run 'npm run build' in the " +
            "frontend directory.")))
      case Some(root) =>
        val candidate = root.resolve(path.stripPrefix("/")).normalize
        // traversal guard: resolved path must stay inside the static root
        val file =
          if (candidate.startsWith(root) && Files.isRegularFile(candidate))
            Some(candidate)
          else Option(root.resolve("index.html"))
            .filter(Files.isRegularFile(_))
        file match {
          case Some(f) =>
            val name = f.getFileName.toString
            val ctype = name.substring(name.lastIndexOf('.') + 1) match {
              case "html" => "text/html"
              case "js" => "application/javascript"
              case "css" => "text/css"
              case "json" | "map" => "application/json"
              case "svg" => "image/svg+xml"
              case "png" => "image/png"
              case "ico" => "image/x-icon"
              case _ => "application/octet-stream"
            }
            val bytes = Files.readAllBytes(f)
            ex.getResponseHeaders.set("Content-Type", ctype)
            ex.sendResponseHeaders(200, bytes.length)
            ex.getResponseBody.write(bytes)
          case None =>
            send(ex, 200, obj("message" ->
              ("Frontend not found. Please run 'npm run build' in the " +
                "frontend directory.")))
        }
    }
  }

  private val EventTransformed = """/event/([^/]+)/transformed""".r
  private val WebhookById = """/webhook/([^/]+)""".r
  private val WebhookStatus = """/webhook/([^/]+)/status""".r
  private val WebhooksById = """/webhooks/([^/]+)""".r

  /** 403 when the header is absent, 401 when it mismatches — the
    * reference's exact taxonomy.
    */
  private def withAuth(ex: HttpExchange)(body: => Unit): Unit =
    Option(ex.getRequestHeaders.getFirst("X-API-Key")) match {
      case None => send(ex, 403, obj("detail" -> "Not authenticated"))
      case Some(k) if k != apiKey =>
        send(ex, 401, obj("detail" -> "Invalid API key"))
      case _ => body
    }

  // ---- handlers ----

  private def register(ex: HttpExchange): Unit = {
    val node = mapper.readTree(bodyOf(ex))
    val cfg = WebhookConfig(
      sourcePath = node.path("source_path").asText(),
      destinationUrl = node.path("destination_url").asText(),
      transformQuery = node.path("transform_query").asText(),
      filterQuery = optText(node, "filter_query"),
      owner = optText(node, "owner"))
    engine.register(cfg) match {
      case Left(err) => // pydantic validation error shape → 422
        send(ex, 422, obj("detail" -> err))
      case Right(w) =>
        send(ex, 200, obj("status" -> "success", "webhook" -> webhookNode(w)))
    }
  }

  private def ingest(ex: HttpExchange, path: String): Unit =
    engine.ingest(path, bodyOf(ex)) match {
      case Left(WebhookEngine.UnknownPath) =>
        send(ex, 404, obj("detail" -> s"No webhook registered for path: $path"))
      case Left(WebhookEngine.InvalidJson) =>
        send(ex, 400, obj("detail" -> "Invalid JSON payload"))
      case Right(ack) =>
        send(ex, 200, obj("status" -> ack.status, "event_id" -> ack.eventId))
    }

  private def adHoc(ex: HttpExchange): Unit = {
    val form = parseForm(bodyOf(ex))
    form.get("query") match {
      case None => send(ex, 422, obj("detail" -> "query field required"))
      case Some(q) => engine.adHocQuery(q) match {
        case Left(err) if err.startsWith("Write operations") ||
            err.startsWith("Parse error") =>
          send(ex, 400, obj("detail" -> err))
        case Left(err) => send(ex, 500, obj("detail" -> err))
        case Right(rows) =>
          val arr = mapper.createArrayNode()
          rows.foreach { r =>
            val rn = mapper.createArrayNode()
            r.foreach(v => addValue(rn, v))
            arr.add(rn)
          }
          val o = obj("status" -> "success")
          o.set[ObjectNode]("result", arr)
          send(ex, 200, o)
      }
    }
  }

  private def stats(ex: HttpExchange): Unit = {
    val s = engine.stats()
    val rates = mapper.createArrayNode()
    s.successRates.foreach { r =>
      val o = mapper.createObjectNode()
      o.put("webhook_id", r.webhookId)
      o.put("total_events", r.totalEvents)
      o.put("success_count", r.successCount)
      o.put("success_rate", r.successRate)
      rates.add(o)
    }
    val o = obj("status" -> "success")
    o.put("webhook_count", s.webhookCount)
    o.put("raw_event_count", s.rawEventCount)
    o.put("transformed_event_count", s.transformedEventCount)
    o.set[ObjectNode]("webhook_success_rates", rates)
    send(ex, 200, o)
  }

  private def listWebhooks(ex: HttpExchange): Unit = {
    val arr = mapper.createArrayNode()
    engine.catalog.list().foreach(w => arr.add(webhookNode(w)))
    val o = obj("status" -> "success")
    o.set[ObjectNode]("webhooks", arr)
    send(ex, 200, o)
  }

  /** Flat shape with an `active` flag, matching src/app.py:1355-1365
    * (NOT the register endpoint's {"status","webhook"} wrapper).
    */
  private def getWebhook(ex: HttpExchange, id: String): Unit =
    engine.catalog.byIdOpt(id) match {
      case None => send(ex, 404, obj("detail" -> "Webhook not found"))
      case Some(w) =>
        val o = webhookNode(w)
        o.put("active", w.isActive)
        send(ex, 200, o)
    }

  private def putWebhook(ex: HttpExchange, id: String): Unit =
    engine.catalog.byIdOpt(id) match {
      case None => send(ex, 404, obj("detail" -> "Webhook not found"))
      case Some(_) => register(ex) // upsert keyed on source_path (src/app.py:1590)
    }

  private def patchStatus(ex: HttpExchange, id: String): Unit = {
    val active = mapper.readTree(bodyOf(ex)).path("active").asBoolean(true)
    engine.catalog.setActive(id, active) match {
      case None => send(ex, 404, obj("detail" -> "Webhook not found"))
      case Some(w) =>
        send(ex, 200, obj("status" -> "success", "webhook" -> webhookNode(w)))
    }
  }

  private def deleteWebhook(ex: HttpExchange, id: String): Unit =
    engine.deleteWebhook(id) match {
      case None => send(ex, 404, obj("detail" -> "Webhook not found"))
      case Some(_) =>
        send(ex, 200, obj("status" -> "success",
          "message" -> "Webhook deleted"))
    }

  private def events(ex: HttpExchange): Unit = {
    val limit = queryParams(ex).get("limit") match {
      case None => 5
      case Some(v) => v.toIntOption match {
        case Some(n) if n >= 0 => n
        case _ =>
          send(ex, 422, obj("detail" -> s"invalid limit: $v")); return
      }
    }
    val arr = mapper.createArrayNode()
    val rows = engine.audit.retryOnCompactionRace() {
      engine.recentEvents(limit).collect()
    }
    rows.foreach { r =>
      val o = mapper.createObjectNode()
      o.put("id", r.getString(0))
      o.put("timestamp", r.getTimestamp(1).toInstant.toString.stripSuffix("Z"))
      o.put("source_path", r.getString(2))
      if (r.isNullAt(3)) o.putNull("success") else o.put("success", r.getBoolean(3))
      if (r.isNullAt(4)) o.putNull("response_code") else o.put("response_code", r.getInt(4))
      arr.add(o)
    }
    val o = obj("status" -> "success")
    o.set[ObjectNode]("events", arr)
    send(ex, 200, o)
  }

  private def eventDetail(ex: HttpExchange, id: String): Unit =
    engine.transformedFor(id) match {
      case None => send(ex, 404, obj("detail" -> "Event not found"))
      case Some((raw, tr)) =>
        val o = mapper.createObjectNode()
        o.put("id", raw.id)
        o.put("timestamp", raw.timestampIso.stripSuffix("Z"))
        o.put("source_path", raw.sourcePath)
        o.set[ObjectNode]("raw_payload", mapper.readTree(raw.payloadJson))
        tr match {
          case None => o.putNull("transformed")
          case Some(t) =>
            val tn = mapper.createObjectNode()
            tn.put("id", t.id)
            tn.put("webhook_id", t.webhookId)
            tn.put("timestamp", t.timestampIso.stripSuffix("Z"))
            tn.set[ObjectNode]("payload", mapper.readTree(t.transformedJson))
            tn.put("destination_url", t.destinationUrl)
            tn.put("success", t.success)
            t.responseCode match {
              case Some(c) => tn.put("response_code", c)
              case None => tn.putNull("response_code")
            }
            tn.put("response_body", t.responseBody)
            o.set[ObjectNode]("transformed", tn)
        }
        send(ex, 200, o)
    }

  private def registerUdf(ex: HttpExchange): Unit = {
    val form = parseForm(bodyOf(ex))
    (form.get("webhook_id"), form.get("function_name"),
      form.get("function_code")) match {
      case (Some(wid), Some(name), Some(code)) =>
        engine.udfs.register(wid, name, code) match {
          case Left(err) => send(ex, 400, obj("detail" -> err))
          case Right(m) =>
            send(ex, 200, obj("status" -> "success",
              "function_name" -> m.functionName,
              "qualified_name" -> m.qualifiedName))
        }
      case _ => send(ex, 422, obj("detail" -> "missing form fields"))
    }
  }

  /** Multipart upload (reference: src/app.py:993-1032). Minimal parser
    * for text CSV/JSON parts; extension dispatch matches the reference
    * (anything else → 400).
    */
  private def uploadTable(ex: HttpExchange): Unit = {
    val contentType =
      Option(ex.getRequestHeaders.getFirst("Content-Type")).getOrElse("")
    val body = bodyOf(ex)
    val (fields, filePart) =
      if (contentType.startsWith("multipart/form-data"))
        parseMultipart(body, contentType)
      else (parseForm(body), None)
    (fields.get("webhook_id"), fields.get("table_name")) match {
      case (Some(wid), Some(name)) =>
        val description = fields.getOrElse("description", "")
        val (filename, content) = filePart
          .orElse(fields.get("file").map(("data.csv", _)))
          .getOrElse(("", ""))
        val meta =
          if (filename.endsWith(".csv"))
            Some(engine.refTables.uploadCsv(wid, name, description, content))
          else if (filename.endsWith(".json"))
            Some(engine.refTables.uploadJson(wid, name, description, content))
          else None
        meta match {
          case None => send(ex, 400,
            obj("detail" -> "Only CSV and JSON files are supported"))
          case Some(m) => send(ex, 200, obj("status" -> "success",
            "table_name" -> m.tableName, "qualified_name" -> m.qualifiedName))
        }
      case _ => send(ex, 422, obj("detail" -> "missing form fields"))
    }
  }

  private def listRefTables(ex: HttpExchange): Unit = {
    val wid = queryParams(ex).get("webhook_id")
    val metas = wid.map(engine.refTables.forWebhook)
      .getOrElse(engine.refTables.list())
    val arr = mapper.createArrayNode()
    metas.foreach { m =>
      val o = mapper.createObjectNode()
      o.put("id", m.id); o.put("webhook_id", m.webhookId)
      o.put("table_name", m.tableName)
      o.put("qualified_name", m.qualifiedName)
      o.put("description", m.description)
      arr.add(o)
    }
    val o = obj("status" -> "success")
    o.set[ObjectNode]("reference_tables", arr)
    send(ex, 200, o)
  }

  private def listUdfs(ex: HttpExchange): Unit = {
    val wid = queryParams(ex).get("webhook_id")
    val metas = wid.map(engine.udfs.forWebhook).getOrElse(engine.udfs.list())
    val arr = mapper.createArrayNode()
    metas.foreach { m =>
      val o = mapper.createObjectNode()
      o.put("id", m.id); o.put("webhook_id", m.webhookId)
      // listing strips the prefix back off (src/app.py:1453)
      o.put("function_name", m.functionName)
      o.put("qualified_name", m.qualifiedName)
      arr.add(o)
    }
    val o = obj("status" -> "success")
    o.set[ObjectNode]("udfs", arr)
    send(ex, 200, o)
  }

  private def echo(ex: HttpExchange): Unit = {
    val body = bodyOf(ex)
    if (!Json.isValid(body))
      send(ex, 500, obj("detail" -> "Invalid JSON"))
    else {
      val o = obj("status" -> "success",
        "message" -> "Echo webhook received your payload",
        "received_at" -> Instant.now().toString.stripSuffix("Z"))
      o.set[ObjectNode]("payload", mapper.readTree(body))
      send(ex, 200, o)
    }
  }

  // ---- plumbing ----

  private def webhookNode(w: Webhook): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put("id", w.id)
    o.put("source_path", w.sourcePath)
    o.put("destination_url", w.destinationUrl)
    o.put("transform_query", w.transformQuery)
    w.filterQuery match {
      case Some(f) => o.put("filter_query", f)
      case None => o.putNull("filter_query")
    }
    w.owner match {
      case Some(x) => o.put("owner", x)
      case None => o.putNull("owner")
    }
    o.put("created_at", w.createdAt.toString.stripSuffix("Z"))
    o.put("updated_at", w.updatedAt.toString.stripSuffix("Z"))
    o
  }

  private def obj(kvs: (String, Any)*): ObjectNode = {
    val o = mapper.createObjectNode()
    kvs.foreach {
      case (k, v: String) => o.put(k, v)
      case (k, v: ObjectNode) => o.set[ObjectNode](k, v)
      case (k, v) => o.put(k, String.valueOf(v))
    }
    o
  }

  private def addValue(arr: ArrayNode, v: Any): Unit = v match {
    case null => arr.addNull()
    case b: Boolean => arr.add(b)
    case i: Int => arr.add(i)
    case l: Long => arr.add(l)
    case d: Double => arr.add(d)
    case f: Float => arr.add(f.toDouble)
    case s: String => arr.add(s)
    case other => arr.add(String.valueOf(other))
  }

  private def bodyOf(ex: HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(), UTF_8)

  private def optText(n: JsonNode, field: String): Option[String] =
    Option(n.get(field)).filterNot(_.isNull).map(_.asText())

  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getQuery).map(parseForm).getOrElse(Map.empty)

  private def parseForm(body: String): Map[String, String] =
    body.split("&").filter(_.contains("=")).map { kv =>
      val Array(k, v) = kv.split("=", 2)
      java.net.URLDecoder.decode(k, UTF_8) ->
        java.net.URLDecoder.decode(v, UTF_8)
    }.toMap

  /** Minimal multipart/form-data parser for text parts. Returns
    * (fields, Some((filename, content))) when a file part is present.
    */
  private def parseMultipart(body: String,
      contentType: String): (Map[String, String], Option[(String, String)]) = {
    val boundary = contentType.split("boundary=").last.trim
    var fields = Map.empty[String, String]
    var file: Option[(String, String)] = None
    body.split(java.util.regex.Pattern.quote("--" + boundary)).foreach { part =>
      val p = part.dropWhile(c => c == '\r' || c == '\n')
      val idx = p.indexOf("\r\n\r\n")
      if (idx > 0) {
        val headers = p.substring(0, idx)
        val content = p.substring(idx + 4).stripSuffix("\r\n")
        val name = """name="([^"]+)"""".r.findFirstMatchIn(headers)
          .map(_.group(1))
        val filename = """filename="([^"]+)"""".r.findFirstMatchIn(headers)
          .map(_.group(1))
        (name, filename) match {
          case (Some(_), Some(fn)) => file = Some((fn, content))
          case (Some(n), None) => fields += (n -> content)
          case _ =>
        }
      }
    }
    (fields, file)
  }

  private def send(ex: HttpExchange, code: Int, body: ObjectNode): Unit = {
    val bytes = mapper.writeValueAsString(body).getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
  }
}
