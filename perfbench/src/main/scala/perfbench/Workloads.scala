package perfbench

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode

/** One event as the load generator saw it. `dueUs` is when it was
  * sent; `ackMs` is timed from then. For the stream workload `dueUs` is
  * the offer time and the ack is derived later from the raw audit stamp.
  */
final case class Sent(e: Gen.Event, dueUs: Long, ackMs: Double, code: Int,
    rawId: Option[String])

/** One audit-trail read: kind and the checker's verdict. */
final case class ReadResult(kind: String, error: Option[String])

/** What a measured phase produced, before checking. */
final case class Phase(sent: Seq[Sent], startUs: Long,
    batchDoneUs: Map[String, Long] = Map.empty)

/** Live counters the read checker reconciles against: raw rows before
  * the phase, events sent and acked so far, and acked events to look up.
  */
final class ReadCtx(val baseRaw: Long, seedAcked: Seq[(String, Gen.Event)]) {
  val sent = new AtomicLong
  val acked = new AtomicLong
  private val ackedEvents = ArrayBuffer[(String, Gen.Event)](seedAcked: _*)
  def addAcked(rawId: String, e: Gen.Event): Unit = synchronized {
    ackedEvents += rawId -> e
    acked.incrementAndGet()
  }
  def pick(r: scala.util.Random): (String, Gen.Event) = synchronized {
    ackedEvents(r.nextInt(ackedEvents.size))
  }
}

object Workloads {

  val ReadKinds: Seq[String] = Seq("query", "stats", "events", "detail")

  val CountSql: String =
    "SELECT source_path, COUNT(*) AS n FROM raw_events " +
      "GROUP BY source_path ORDER BY source_path"

  /** One audit-trail read over HTTP, checked against what was sent: row
    * counts must lie between the events acked before the read started
    * and the events sent before it ended.
    */
  def read(gw: Gateway, ctx: ReadCtx, kind: String,
      r: scala.util.Random): ReadResult = {
    val lo = ctx.baseRaw + ctx.acked.get
    val target = if (kind == "detail") Some(ctx.pick(r)) else None
    val resp = kind match {
      case "query" => gw.client.postForm("/query", "query" -> CountSql)
      case "stats" => gw.client.get("/stats")
      case "events" => gw.client.get("/events?limit=10")
      case "detail" => gw.client.get(s"/event/${target.get._1}/transformed")
    }
    val hi = ctx.baseRaw + ctx.sent.get
    def within(n: Long) = n >= lo && n <= hi
    val err: Option[String] =
      if (resp.code != 200) Some(s"$kind: HTTP ${resp.code} ${resp.body.take(200)}")
      else {
        val j = Gen.mapper.readTree(resp.body)
        kind match {
          case "query" =>
            var n = 0L
            j.path("result").elements().forEachRemaining(row => n += row.get(1).asLong)
            if (within(n)) None else Some(s"query: $n raw rows, want [$lo, $hi]")
          case "stats" =>
            val n = j.path("raw_event_count").asLong(-1)
            val t = j.path("transformed_event_count").asLong(-1)
            if (!within(n)) Some(s"stats: $n raw rows, want [$lo, $hi]")
            else if (t < ctx.baseRaw || t > n) Some(s"stats: $t transformed rows")
            else None
          case "events" =>
            val n = j.path("events").size
            if (n == 10) None else Some(s"events: $n rows, want 10")
          case "detail" =>
            val (rawId, e) = target.get
            val tr = j.path("transformed")
            if (j.path("id").asText() != rawId) Some(s"detail ${e.key}: wrong id")
            else if (!Gen.jsonEq(j.path("raw_payload"), Gen.mapper.readTree(e.payload)))
              Some(s"detail ${e.key}: raw payload differs")
            else if (tr.isMissingNode || tr.isNull) None
            else outputError(e, tr.path("payload").toString,
              tr.path("success").asBoolean, tr.path("response_body").asText())
        }
      }
    ReadResult(kind, err)
  }

  /** Checks one event outcome against the generator's expected output. */
  def outputError(e: Gen.Event, payload: String, success: Boolean,
      body: String): Option[String] = e.expected match {
    case None =>
      if (!success && body == "Filtered out by filter_query" &&
        Gen.parse(payload).exists(p => p.isObject && p.size == 0)) None
      else Some(s"${e.key}: expected filtered out, got $success $body $payload")
    case Some(want) =>
      if (!success) Some(s"${e.key}: failed: $body")
      else if (!Gen.parse(payload).exists(Gen.jsonEq(_, want)))
        Some(s"${e.key}: output $payload, want $want")
      else None
  }

  def send(gw: Gateway, ctx: ReadCtx, e: Gen.Event, dueNs: Long,
      dueUs: Long): Sent = {
    ctx.sent.incrementAndGet()
    val resp = gw.client.postJson(e.path, e.payload)
    val ms = (System.nanoTime() - dueNs) / 1e6
    val rawId =
      if (resp.code == 200)
        Some(Gen.mapper.readTree(resp.body).path("event_id").asText())
      else None
    rawId.foreach(ctx.addAcked(_, e))
    Sent(e, dueUs, ms, resp.code, rawId)
  }

  /** Closed loop: `conns` connections POST `events` back to back, each
    * connection waiting until its event is processed (`drain`) before it
    * sends the next, so at most `conns` events are in the gateway at any
    * time and the queue depth does not grow with the run's size.
    */
  def httpBurst(gw: Gateway, ctx: ReadCtx, events: Seq[Gen.Event],
      conns: Int): Phase = {
    val startUs = Clock.nowUs()
    val next = new AtomicInteger
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Sent]()
    val threads = (1 to conns).map { _ =>
      val t = new Thread(() => {
        var i = next.getAndIncrement()
        while (i < events.size) {
          out.add(send(gw, ctx, events(i), System.nanoTime(), Clock.nowUs()))
          // the single worker is FIFO: once everything acked so far is
          // processed, this connection's event is too
          gw.engine.drain()
          i = next.getAndIncrement()
        }
      })
      t.start(); t
    }
    threads.foreach(_.join())
    gw.engine.drain()
    Phase(out.asScala.toSeq, startUs)
  }

  /** The gateway's Structured Streaming ingest (`StreamIngest.attach`)
    * over a MemoryStream. One query serves the warm-up and the measured
    * batches, so the measured phase does not pay a query's first batch.
    */
  final class StreamFeed(gw: Gateway, queryName: String) {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    private val spark = gw.spark
    private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    private val mem = MemoryStream[(String, String)]
    private val q = new graft.streaming.StreamIngest(gw.engine)
      .attach(mem.toDS(), queryName)

    /** Offers one batch and waits until it is processed. */
    def offer(b: Seq[Gen.Event]): Unit = {
      mem.addData(b.map(e => e.path -> e.payload))
      q.processAllAvailable()
    }

    def stop(): Unit = q.stop()
  }

  /** `count` fixed-size micro-batches offered to `feed`, each offered
    * once the previous one is processed.
    */
  def streamBatches(ctx: ReadCtx, feed: StreamFeed,
      batches: Iterator[Seq[Gen.Event]], count: Int): Phase = {
    val startUs = Clock.nowUs()
    val sent = ArrayBuffer[Sent]()
    val done = Map.newBuilder[String, Long]
    batches.take(count).foreach { b =>
      val at = Clock.nowUs()
      ctx.sent.addAndGet(b.size)
      feed.offer(b)
      val end = Clock.nowUs()
      ctx.acked.addAndGet(b.size)
      b.foreach { e => sent += Sent(e, at, 0.0, 200, None); done += e.key -> end }
    }
    Phase(sent.toSeq, startUs, done.result())
  }

  /** Outcome of checking a phase against the audit trail. */
  final case class Outcome(
      ackMs: Seq[Double], e2eMs: Seq[Double], recvMs: Seq[Double],
      waitMs: Seq[Double], serviceMs: Seq[Double], depthMax: Int,
      eventsPerS: Double, audited: Int, failures: Seq[String],
      outputs: Map[String, String])

  /** Every sent event must have exactly one raw row and one outcome row,
    * the outcome must equal the expected output, and every delivered
    * body must equal it too. Latencies come from the audit stamps.
    */
  def check(gw: Gateway, phase: Phase, excludeRaw: Set[String]): Outcome = {
    val failures = ArrayBuffer[String]()
    val raw = gw.rawRows().filterNot(r => excludeRaw(r._1))
    val rawAt = raw.map(r => r._1 -> r._2).toMap
    val rawIdsByKey: Map[String, Seq[String]] =
      raw.flatMap(r => Gateway.keyOf(r._3).map(_ -> r._1)).groupMap(_._1)(_._2)
    val tr = gw.transformedRows().groupBy(_.rawId)
    val isStream = phase.batchDoneUs.nonEmpty
    val ack = ArrayBuffer[Double]()
    val e2e = ArrayBuffer[Double]()
    val recv = ArrayBuffer[Double]()
    val visits = ArrayBuffer[Stats.Visit]()
    val outputs = Map.newBuilder[String, String]
    var lastOutcome = phase.startUs
    var firstSend = Long.MaxValue
    var audited = 0
    phase.sent.foreach { s =>
      firstSend = math.min(firstSend, s.dueUs)
      val rawIds = if (isStream) rawIdsByKey.getOrElse(s.e.key, Nil)
        else s.rawId.toSeq
      if (!isStream && s.code != 200) failures += s"${s.e.key}: HTTP ${s.code}"
      else if (rawIds.size != 1 || !rawAt.contains(rawIds.head))
        failures += s"${s.e.key}: ${rawIds.size} raw rows"
      else {
        val id = rawIds.head
        tr.getOrElse(id, Nil) match {
          case Seq(t) =>
            audited += 1
            outputError(s.e, t.payload, t.success, t.body).foreach(failures += _)
            outputs += s.e.key -> t.payload
            val delivered = Option(gw.capture.byRawId.get(id))
            if (s.e.expected.isDefined && !delivered.exists(d =>
                Gen.parse(d.body).exists(Gen.jsonEq(_, s.e.expected.get))))
              failures += s"${s.e.key}: delivered body ${delivered.map(_.body)}"
            if (s.e.expected.isEmpty && delivered.isDefined)
              failures += s"${s.e.key}: filtered event was delivered"
            val doneUs =
              if (!isStream) t.atUs
              else delivered.map(_.atUs).getOrElse(phase.batchDoneUs(s.e.key))
            lastOutcome = math.max(lastOutcome, t.atUs)
            e2e += (doneUs - s.dueUs) / 1e3
            recv += (rawAt(id) - s.dueUs) / 1e3
            ack += (if (isStream) (rawAt(id) - s.dueUs) / 1e3 else s.ackMs)
            visits += Stats.Visit(rawAt(id) / 1e3, t.atUs / 1e3)
          case ts => failures += s"${s.e.key}: ${ts.size} outcome rows"
        }
      }
    }
    if (gw.capture.duplicates.get > 0)
      failures += s"${gw.capture.duplicates.get} events delivered twice"
    // HTTP: a single FIFO worker, so wait and service split at
    // max(arrival, previous completion). Stream: the wait is offer →
    // raw audit stamp, the service raw stamp → outcome.
    val split =
      if (isStream) recv.zip(e2e).map { case (r, d) => (r, d - r) }.toSeq
      else Stats.fifoSplit(visits.toSeq)
    val span = (lastOutcome - firstSend) / 1e6
    Outcome(ack.toSeq, e2e.toSeq, recv.toSeq, split.map(_._1), split.map(_._2),
      Stats.maxDepth(visits.map(_.arrival).toSeq, visits.map(_.done).toSeq),
      if (span > 0) audited / span else 0.0, audited, failures.toSeq,
      outputs.result())
  }
}
