package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.engine.{SparkSpec, WebhookConfig}

/** Streaming ingestion smoke test: MemoryStream → foreachBatch running
  * the P11 pipeline (the brief's stated ingestion approach), plus the
  * set-oriented batch path's semantics.
  */
class StreamIngestSpec extends SparkSpec {
  import SparkSpec._

  test("MemoryStream events flow through filter/transform/audit") {
    val s = spark
    implicit val sqlCtx = s.sqlContext
    import s.implicits._

    val e = newEngine()
    e.register(WebhookConfig("/stream-hook", "https://example.com/sink",
      "SELECT n, n * 2 AS doubled FROM {{payload}}",
      Some("n >= 2"), None))

    val mem = MemoryStream[(String, String)]
    val ingest = new StreamIngest(e)
    val query = ingest.attach(mem.toDS(), "graft-ingest-test")
    try {
      mem.addData(
        "/stream-hook" -> """{"n": 1}""", // filtered out
        "/stream-hook" -> """{"n": 2}""",
        "/stream-hook" -> """{"n": 3}""",
        "/unknown-path" -> """{"n": 9}""") // unroutable → dropped
      query.processAllAvailable()
    } finally query.stop()

    val raws = e.adHocQuery(
      "SELECT COUNT(*) FROM raw_events WHERE source_path = '/stream-hook'")
      .toOption.get
    assert(raws == Seq(Seq(2L + 1L))) // 3 routable events audited

    val outcomes = e.adHocQuery(
      """SELECT success, response_body, transformed_payload
        |FROM transformed_events ORDER BY transformed_payload""".stripMargin)
      .toOption.get
    assert(outcomes.size == 3)
    val (filtered, delivered) =
      outcomes.partition(_(1) == "Filtered out by filter_query")
    assert(filtered.size == 1)
    assert(delivered.size == 2)
    assert(delivered.map(_(2).asInstanceOf[String]).exists(j =>
      jsonEq(j, """{"n":2,"doubled":4}""")))
    assert(delivered.map(_(2).asInstanceOf[String]).exists(j =>
      jsonEq(j, """{"n":3,"doubled":6}""")))
  }

  test("processBatch: set-oriented filter matches per-event semantics") {
    val e = newEngine()
    val w = e.register(WebhookConfig("/batch-hook", "https://example.com/x",
      "SELECT * FROM {{payload}}", Some("keep = true"), None)).toOption.get
    val raws = Seq(
      e.audit.logRaw("/batch-hook", """{"keep": true, "v": 1}"""),
      e.audit.logRaw("/batch-hook", """{"keep": false, "v": 2}"""),
      e.audit.logRaw("/batch-hook", """{"keep": true, "v": 3}"""))
    val results = e.processBatch(w, raws)
    assert(results.map(_.filtered) == Seq(false, true, false))
    assert(results.map(_.success) == Seq(true, false, true))
    // per-event path agrees on the same payloads
    val perEvent = raws.map(r => e.process(w, r.id, r.payload))
    assert(perEvent.map(_.filtered) == Seq(false, true, false))
  }

  test("processBatch: JSON-array payloads filter like the per-event path") {
    val e = newEngine()
    val w = e.register(WebhookConfig("/array-hook", "https://example.com/x",
      "SELECT * FROM {{payload}}", Some("amount > 100"), None)).toOption.get
    val raws = Seq(
      // any element matching keeps the event (COUNT(*)>0 gate)
      // leading whitespace before the array bracket must not change parsing
      e.audit.logRaw("/array-hook", "\n [{\"amount\": 50}, {\"amount\": 200}]"),
      e.audit.logRaw("/array-hook", """[{"amount": 1}, {"amount": 2}]"""),
      e.audit.logRaw("/array-hook", """{"amount": 150}"""))
    val results = e.processBatch(w, raws)
    assert(results.map(_.filtered) == Seq(false, true, false))
    // agrees with the per-event gate on the same payloads
    val perEvent = raws.map(r => e.process(w, r.id, r.payload))
    assert(perEvent.map(_.filtered) == Seq(false, true, false))
  }

  private val mixedEvents = Seq(
    "/mix-a" -> """{"n": 1}""", // filtered out by a's gate
    "/mix-a" -> """{"n": 5}""",
    "/mix-a" -> """{"n": 5}""", // duplicate payload: distinct ids
    "/mix-b" -> """{"tag": "x"}""", // b has no filter
    "/mix-b" -> """[{"tag": "a"}, {"tag": "b"}]""", // multi-row → results
    "/mix-c" -> """[{"v": 2}, {"v": 3}]""", // per-event AGGREGATE transform
    "/mix-d" -> """{"v": 1}""", // transform's own WHERE drops all rows
    "/nowhere" -> """{"n": 9}""") // unroutable → dropped

  private def registerMixed(e: graft.engine.WebhookEngine): Unit = {
    e.register(WebhookConfig("/mix-a", "https://example.com/a",
      "SELECT n, n + 1 AS next FROM {{payload}}", Some("n >= 2"), None))
    e.register(WebhookConfig("/mix-b", "https://example.com/b",
      "SELECT upper(tag) AS tag FROM {{payload}}", None, None))
    // aggregates over the single-event relation — must take the Spark
    // path over that one event, not aggregate the whole batch
    e.register(WebhookConfig("/mix-c", "https://example.com/c",
      "SELECT count(*) AS rows, sum(v) AS total FROM {{payload}}",
      None, None))
    // all rows fail the transform's own WHERE → "{}" delivered
    e.register(WebhookConfig("/mix-d", "https://example.com/d",
      "SELECT v FROM {{payload}} WHERE v > 100", None, None))
  }

  private def auditSnapshot(e: graft.engine.WebhookEngine): Seq[Seq[Any]] =
    e.adHocQuery(
      """SELECT r.source_path, t.success, t.response_body,
        |       t.transformed_payload, t.destination_url
        |FROM raw_events r LEFT JOIN transformed_events t
        |  ON t.raw_event_id = r.id
        |ORDER BY r.source_path, t.transformed_payload, t.response_body"""
        .stripMargin).toOption.get

  /** The mixed events through the HTTP ingest path. */
  private def perEventSnapshot(): Seq[Seq[Any]] = {
    val perEvent = newEngine()
    registerMixed(perEvent)
    mixedEvents.foreach { case (p, j) => perEvent.ingest(p, j) }
    perEvent.drain() // ack is deferred; wait for background processing
    auditSnapshot(perEvent)
  }

  test("mixed-path micro-batch audits identically to the per-event path") {
    val s = spark
    import s.implicits._
    val distributed = newEngine()
    registerMixed(distributed)
    new StreamIngest(distributed)
      .processMicroBatch(mixedEvents.toDF("source_path", "payload"), "mix|0")

    val d = auditSnapshot(distributed)
    assert(d == perEventSnapshot())
    // the pin covers the transform shapes explicitly:
    val payloads = d.map(_(3).asInstanceOf[String])
    assert(payloads.exists(j => jsonEq(j,
      """{"results": [{"tag":"A"}, {"tag":"B"}]}"""))) // multi-row shaping
    assert(payloads.exists(j => jsonEq(j, """{"rows":2,"total":5}"""))) // agg
    assert(payloads.contains("{}")) // mix-d: zero transform output rows
  }

  test("attached MemoryStream audits identically to the per-event path") {
    // foreachBatch hands over batches on the stream's cloned session,
    // which processMicroBatch alone does not exercise
    val s = spark
    implicit val sqlCtx = s.sqlContext
    import s.implicits._
    val e = newEngine()
    registerMixed(e)
    val mem = MemoryStream[(String, String)]
    val query = new StreamIngest(e).attach(mem.toDS(), "graft-ingest-mixed")
    try {
      mem.addData(mixedEvents: _*)
      query.processAllAvailable()
    } finally query.stop()
    assert(auditSnapshot(e) == perEventSnapshot())
  }

  test("row-wise transforms run O(1) Spark jobs per (webhook, batch)") {
    val s = spark
    import s.implicits._
    val e = newEngine()
    e.register(WebhookConfig("/setwise", "https://example.com/sink",
      "SELECT v, v * 2 AS dbl FROM {{payload}}", Some("v > 0"), None))
    val ingest = new StreamIngest(e)
    def jobsFor(n: Int, key: String): Int = {
      val counter = new java.util.concurrent.atomic.AtomicInteger()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          counter.incrementAndGet(); ()
        }
      }
      s.sparkContext.addSparkListener(listener)
      try {
        ingest.processMicroBatch(
          (1 to n).map(i => "/setwise" -> s"""{"v": $i}""")
            .toDF("source_path", "payload"), key)
        org.apache.spark.ListenerBusDrain(s.sparkContext)
        counter.get()
      } finally s.sparkContext.removeSparkListener(listener)
    }
    // the webhook's first batch also infers its payload shape's schema,
    // once per shape; count batches after that
    jobsFor(1, "jobs|warm")
    val small = jobsFor(3, "jobs|small")
    val large = jobsFor(24, "jobs|large")
    // a per-event Spark query would add jobs per extra event; compiled
    // per-event transforms launch none, so the count is independent of
    // batch size
    assert(large == small,
      s"expected O(1) jobs per batch: $small jobs at n=3, $large at n=24")
    // and the transforms really ran: all 24 delivered with shaped JSON
    val delivered = e.adHocQuery(
      """SELECT COUNT(*) FROM transformed_events
        |WHERE success AND transformed_payload LIKE '%dbl%'""".stripMargin)
      .toOption.get
    assert(delivered == Seq(Seq(28L)))
  }

  test("webhook groups process concurrently: wall ≈ max(group), not Σ") {
    val s = spark
    import s.implicits._
    val sleepMs = 1500L
    // slow destination: per-event HTTP delivery takes 1.5s. Concurrency
    // is pinned by OVERLAP, not wall-clock: serial group processing can
    // never have two deliveries in flight at once, while the group pool
    // overlaps the sleeps regardless of machine load (an absolute wall
    // bound here flaked 20× over budget on a loaded shared host).
    val inFlight = new java.util.concurrent.atomic.AtomicInteger(0)
    val maxInFlight = new java.util.concurrent.atomic.AtomicInteger(0)
    val e = newEngine((_, _, _) => {
      val now = inFlight.incrementAndGet()
      maxInFlight.getAndUpdate(m => math.max(m, now))
      Thread.sleep(sleepMs)
      inFlight.decrementAndGet()
      graft.engine.Delivery.Result(success = true, Some(200), "ok")
    })
    (1 to 8).foreach(i =>
      e.register(WebhookConfig(s"/par-$i", "https://example.com/sink",
        "SELECT v FROM {{payload}}", None, None)))
    val events = (1 to 8).map(i => s"/par-$i" -> s"""{"v": $i}""")
    val ingest = new StreamIngest(e)
    ingest.processMicroBatch(events.toDF("source_path", "payload"), "par|0")
    assert(maxInFlight.get() >= 2,
      s"expected overlapping group deliveries, max in flight was ${maxInFlight.get()}")
    val delivered = e.adHocQuery(
      "SELECT COUNT(*) FROM transformed_events WHERE success").toOption.get
    assert(delivered == Seq(Seq(8L)))
  }

  test("survivor deliveries within one webhook group overlap") {
    val s = spark
    import s.implicits._
    val inFlight = new java.util.concurrent.atomic.AtomicInteger(0)
    val maxInFlight = new java.util.concurrent.atomic.AtomicInteger(0)
    val e = newEngine((_, _, _) => {
      val now = inFlight.incrementAndGet()
      maxInFlight.getAndUpdate(m => math.max(m, now))
      Thread.sleep(400)
      inFlight.decrementAndGet()
      graft.engine.Delivery.Result(success = true, Some(200), "ok")
    })
    e.register(WebhookConfig("/one-hook", "https://example.com/sink",
      "SELECT v FROM {{payload}}", None, None))
    val events = (1 to 8).map(i => "/one-hook" -> s"""{"v": $i}""")
    new StreamIngest(e).processMicroBatch(
      events.toDF("source_path", "payload"), "pardeliv|0")
    // sequential delivery can never have two calls in flight for a
    // single webhook's batch; the bounded pool must overlap them
    assert(maxInFlight.get() >= 2,
      s"expected overlapping deliveries, max in flight was ${maxInFlight.get()}")
    val delivered = e.adHocQuery(
      "SELECT COUNT(*) FROM transformed_events WHERE success").toOption.get
    assert(delivered == Seq(Seq(8L)))
  }

  test("micro-batch collects only delivery-bound rows to the driver") {
    val s = spark
    import s.implicits._
    val e = newEngine()
    e.register(WebhookConfig("/narrow", "https://example.com/sink",
      "SELECT v FROM {{payload}}", Some("v > 100"), None))
    val events = (1 to 10).map(i => "/narrow" -> s"""{"v": ${i * 25}}""")
    val ingest = new StreamIngest(e)
    ingest.processMicroBatch(events.toDF("source_path", "payload"), "pin|0")
    // 6 of 10 events pass v > 100 (125..250); the other 4 are audited as
    // filtered WITHOUT ever reaching the driver
    assert(ingest.driverCollectedEvents.get() == 6L)
    val filtered = e.adHocQuery(
      """SELECT COUNT(*) FROM transformed_events
        |WHERE response_body = 'Filtered out by filter_query'""".stripMargin)
      .toOption.get
    assert(filtered == Seq(Seq(4L)))
  }

  test("100%-pass batch bigger than the driver cap delivers in bounded chunks") {
    val s = spark
    import s.implicits._
    val e = newEngine()
    // pass-all filter: the pathological case where "survivors" == batch
    e.register(WebhookConfig("/flood", "https://example.com/sink",
      "SELECT v FROM {{payload}}", Some("v > 0"), None))
    val n = 40
    val cap = 8
    val ingest = new StreamIngest(e, maxSurvivorsInDriver = cap)
    ingest.processMicroBatch(
      (1 to n).map(i => "/flood" -> s"""{"v": $i}""")
        .toDF("source_path", "payload"), "flood|0")
    // every event is delivery-bound and still delivers + audits...
    assert(ingest.driverCollectedEvents.get() == n.toLong)
    val delivered = e.adHocQuery(
      "SELECT COUNT(*) FROM transformed_events WHERE success").toOption.get
    assert(delivered == Seq(Seq(n.toLong)))
    // ...but the driver never held more than one ≤-cap chunk at a time
    assert(ingest.maxDriverChunkRows.get() > 0L)
    assert(ingest.maxDriverChunkRows.get() <= cap.toLong,
      s"driver chunk exceeded cap: ${ingest.maxDriverChunkRows.get()}")
  }

  test("micro-batch raw-event ids are replay-deterministic") {
    val s = spark
    import s.implicits._
    val e = newEngine()
    e.register(WebhookConfig("/replay", "https://example.com/sink",
      "SELECT * FROM {{payload}}", Some("false"), None)) // audit-only
    val events = Seq(
      "/replay" -> """{"a": 1}""",
      "/replay" -> """{"a": 1}""", // duplicate payload
      "/replay" -> """{"a": 2}""")
    val ingest = new StreamIngest(e)
    def ids(): Set[String] = {
      ingest.processMicroBatch(events.toDF("source_path", "payload"), "rk|7")
      e.adHocQuery("SELECT DISTINCT id FROM raw_events").toOption.get
        .map(_.head.asInstanceOf[String]).toSet
    }
    val first = ids()
    assert(first.size == 3) // duplicates get distinct occurrence ids
    assert(ids() == first) // replaying the batch reproduces the same id set
  }

  test("processBatch: broken filter falls back to Error audit rows") {
    val e = newEngine()
    val w = e.register(WebhookConfig("/bad-filter", "https://example.com/x",
      "SELECT * FROM {{payload}}", Some("no_such_fn(x) ==="), None))
      .toOption.get
    val raws = Seq(e.audit.logRaw("/bad-filter", """{"x": 1}"""))
    val results = e.processBatch(w, raws)
    assert(!results.head.success)
    assert(results.head.responseBody.startsWith("Error: "))
  }
}
