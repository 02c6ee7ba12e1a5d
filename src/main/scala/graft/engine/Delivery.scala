package graft.engine

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

import scala.util.control.NonFatal

/** HTTP delivery sink (reference P9, src/app.py:1179-1213): POSTs the
  * transformed JSON to the webhook's destination; 30 s timeout; 2xx =
  * success. Destinations on example.com / localhost are short-circuited
  * as simulated success exactly like the reference's test mode
  * (src/app.py:1185-1193).
  *
  * Every request carries an `Idempotency-Key` header holding the raw
  * event id. Delivery is at-least-once (same as the reference's
  * fire-and-forget background task) and the streaming path's event ids
  * are deterministic under checkpoint replay, so a conforming receiver
  * that deduplicates on the key sees effectively-once delivery.
  */
object Delivery {

  final case class Result(success: Boolean, code: Option[Int], body: String)

  private lazy val client = HttpClient.newBuilder()
    .connectTimeout(Duration.ofSeconds(30))
    .build()

  def isSimulated(destinationUrl: String): Boolean = {
    val host = try Option(URI.create(destinationUrl).getHost).getOrElse("")
    catch { case NonFatal(_) => "" }
    host.endsWith("example.com") || host == "localhost" || host == "127.0.0.1"
  }

  def deliver(destinationUrl: String, json: String,
      idempotencyKey: String): Result =
    if (isSimulated(destinationUrl))
      Result(success = true, Some(200), "Simulated delivery success")
    else try {
      val req = HttpRequest.newBuilder(URI.create(destinationUrl))
        .timeout(Duration.ofSeconds(30))
        .header("Content-Type", "application/json")
        .header("Idempotency-Key", idempotencyKey)
        .POST(HttpRequest.BodyPublishers.ofString(json))
        .build()
      val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
      Result(resp.statusCode() >= 200 && resp.statusCode() < 300,
        Some(resp.statusCode()), resp.body())
    } catch {
      // error taxonomy mirrors src/app.py:1205-1213
      case e: java.net.http.HttpTimeoutException =>
        Result(success = false, None, s"Delivery timeout: ${e.getMessage}")
      case e: java.net.ConnectException =>
        Result(success = false, None, s"Connection error: ${e.getMessage}")
      case NonFatal(e) =>
        Result(success = false, None, s"Delivery error: ${e.getMessage}")
    }
}
