package graft.streaming

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQueryException

import graft.engine.{SparkSpec, WebhookConfig}

/** Streaming ingestion: MemoryStream → the StreamIngest sink running the
  * P11 pipeline, and the micro-batch path's agreement with the per-event
  * path.
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

  /** Response body of each audited event, by payload. */
  private def outcomeByPayload(
      e: graft.engine.WebhookEngine): Map[String, String] =
    e.adHocQuery(
      """SELECT r.payload, t.response_body FROM raw_events r
        |JOIN transformed_events t ON t.raw_event_id = r.id""".stripMargin)
      .toOption.get
      .map(r => r(0).asInstanceOf[String] -> r(1).asInstanceOf[String]).toMap

  /** One micro-batch of `payloads` to the webhook registered at `path`
    * (filter `filter`), compared with the per-event path on the same
    * payloads; returns the payloads the micro-batch filtered out.
    */
  private def filteredInBatch(path: String, filter: String,
      payloads: Seq[String]): Set[String] = {
    val s = spark
    import s.implicits._
    val config = WebhookConfig(path, "https://example.com/x",
      "SELECT * FROM {{payload}}", Some(filter), None)
    val e = newEngine()
    e.register(config)
    new StreamIngest(e).processMicroBatch(
      payloads.map(path -> _).toDF("source_path", "payload"), s"$path|0")
    val out = outcomeByPayload(e)
    assert(out.keySet == payloads.toSet)
    val filtered = out.filter(_._2 == "Filtered out by filter_query").keySet
    val perEvent = newEngine()
    val w = perEvent.register(config).toOption.get
    assert(payloads.filter(p =>
      perEvent.process(w, perEvent.audit.logRaw(path, p).id, p).filtered)
      .toSet == filtered)
    filtered
  }

  test("micro-batch: filter keeps and drops object payloads") {
    val filtered = filteredInBatch("/batch-hook", "keep = true", Seq(
      """{"keep": true, "v": 1}""",
      """{"keep": false, "v": 2}""",
      """{"keep": true, "v": 3}"""))
    assert(filtered == Set("""{"keep": false, "v": 2}"""))
  }

  test("micro-batch: array payloads keep on any matching element") {
    val filtered = filteredInBatch("/array-hook", "amount > 100", Seq(
      // any element matching keeps the event (COUNT(*)>0 gate)
      // leading whitespace before the array bracket must not change parsing
      "\n [{\"amount\": 50}, {\"amount\": 200}]",
      """[{"amount": 1}, {"amount": 2}]""",
      """{"amount": 150}"""))
    assert(filtered == Set("""[{"amount": 1}, {"amount": 2}]"""))
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
    // the sink is handed batches on the stream's cloned session, which
    // processMicroBatch alone does not exercise
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

  /** Spark jobs one micro-batch of `n` events `{"v": i}` to `path`
    * launches.
    */
  private def jobsFor(ingest: StreamIngest, path: String, n: Int,
      key: String): Int = {
    val s = spark
    import s.implicits._
    jobsIn(ingest.processMicroBatch(
      (1 to n).map(i => path -> s"""{"v": $i}""")
        .toDF("source_path", "payload"), key))._1
  }

  test("row-wise transforms run O(1) Spark jobs per (webhook, batch)") {
    val e = newEngine()
    e.register(WebhookConfig("/setwise", "https://example.com/sink",
      "SELECT v, v * 2 AS dbl FROM {{payload}}", Some("v > 0"), None))
    val ingest = new StreamIngest(e)
    def jobsFor(n: Int, key: String): Int =
      this.jobsFor(ingest, "/setwise", n, key)
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

  test("a warm 40-event micro-batch launches no Spark job") {
    val e = newEngine()
    e.register(WebhookConfig("/few-jobs", "https://example.com/sink",
      "SELECT v, v * 2 AS dbl FROM {{payload}}", Some("v % 4 > 0"), None))
    val ingest = new StreamIngest(e)
    jobsFor(ingest, "/few-jobs", 1, "few|warm")
    val jobs = jobsFor(ingest, "/few-jobs", 40, "few|1")
    // the rows are read on the driver; nothing per webhook, per event
    // or for the audit flush
    assert(jobs == 0, s"$jobs jobs for one 40-event batch")
  }

  test("a warm batch on an attached MemoryStream launches no Spark job") {
    val s = spark
    implicit val sqlCtx = s.sqlContext
    import s.implicits._
    val e = newEngine()
    e.register(WebhookConfig("/mem-jobs", "https://example.com/sink",
      "SELECT v, v * 2 AS dbl FROM {{payload}}", Some("v % 4 > 0"), None))
    val mem = MemoryStream[(String, String)]
    val query = new StreamIngest(e).attach(mem.toDS(), "graft-ingest-jobs")
    def batch(from: Int): Unit = {
      mem.addData((from until from + 40).map(i =>
        "/mem-jobs" -> s"""{"v": $i}"""))
      query.processAllAvailable()
    }
    val jobs = try {
      batch(0) // the query's first batch
      jobsIn(batch(40))._1
    } finally query.stop()
    assert(jobs == 0, s"$jobs jobs for a warm attached batch")
    assert(e.audit.rawEvents().count() == 80L)
  }

  test("a warm attached batch runs the optimizer only for Spark's own plan") {
    val s = spark
    implicit val sqlCtx = s.sqlContext
    import s.implicits._
    val e = newEngine()
    e.register(WebhookConfig("/mem-opt", "https://example.com/sink",
      "SELECT v, v * 2 AS dbl FROM {{payload}}", Some("v % 4 > 0"), None))
    val name = "graft-ingest-opt"
    // plans optimized on this query's stream execution thread: Spark's
    // incremental plan of a trigger is a streaming plan, and any other
    // plan there is one that processing the batch built
    def onStream(streaming: Boolean): LogicalPlan => Boolean = plan =>
      plan.isStreaming == streaming &&
        Thread.currentThread().getName.contains(s" $name [")
    val mem = MemoryStream[(String, String)]
    val (sparkRuns, ownRuns) = optimizerRunsIn(onStream(true)) { sparkRuns =>
      optimizerRunsIn(onStream(false)) { ownRuns =>
        val query = new StreamIngest(e).attach(mem.toDS(), name)
        def batch(from: Int): Unit = {
          mem.addData((from until from + 40).map(i =>
            "/mem-opt" -> s"""{"v": $i}"""))
          query.processAllAvailable()
        }
        try {
          batch(0) // the query's first batch
          val before = (sparkRuns(), ownRuns())
          batch(40)
          (sparkRuns() - before._1, ownRuns() - before._2)
        } finally query.stop()
      }
    }
    // the sink reads the batch from the RDD of Spark's plan, without
    // planning a frame of its own
    assert(sparkRuns > 0)
    assert(ownRuns == 0, s"$ownRuns optimizer runs over the batch's own plans")
    assert(e.audit.rawEvents().count() == 80L)
  }

  test("a stream column that up-casts to string is read as Spark decodes it") {
    val s = spark
    implicit val sqlCtx = s.sqlContext
    import s.implicits._
    def engine() = {
      val e = newEngine()
      e.register(WebhookConfig("/7", "https://example.com/sink",
        "SELECT v FROM {{payload}}", None, None))
      e
    }
    def paths(e: graft.engine.WebhookEngine): Seq[Seq[Any]] =
      e.adHocQuery("SELECT source_path FROM raw_events").toOption.get
    val typed = Seq(7 -> """{"v": 1}""").toDF("p", "payload")
    assert(typed.as[(String, String)].collect().toSeq ==
      Seq("7" -> """{"v": 1}"""))
    val attached = engine()
    val mem = MemoryStream[(Int, String)]
    val query = new StreamIngest(attached)
      .attach(mem.toDS().toDF("p", "payload").as[(String, String)],
        "graft-ingest-int-path")
    try {
      mem.addData(7 -> """{"v": 1}""")
      query.processAllAvailable()
    } finally query.stop()
    assert(paths(attached) == Seq(Seq("/7")))
    val batch = engine()
    new StreamIngest(batch).processMicroBatch(
      typed.toDF("source_path", "payload"), "int-path|0")
    assert(paths(batch) == Seq(Seq("/7")))
  }

  test("a failing batch stops the query with its own error as the cause") {
    val s = spark
    implicit val sqlCtx = s.sqlContext
    import s.implicits._
    val e = newEngine()
    e.register(WebhookConfig("/boom", "https://example.com/sink",
      "SELECT v FROM {{payload}}", None, None))
    val mem = MemoryStream[(String, String)]
    val query = new StreamIngest(e).attach(
      mem.toDS().map(StreamIngestSpec.failOnBoom), "graft-ingest-boom")
    val thrown = try {
      mem.addData("/boom" -> "boom")
      intercept[StreamingQueryException](query.processAllAvailable())
    } finally query.stop()
    assert(thrown.getCause.isInstanceOf[IllegalStateException], thrown.getCause)
    assert(thrown.getCause.getMessage == "boom payload")
  }

  test("a batch past the driver cap launches no Spark job") {
    val e = newEngine()
    e.register(WebhookConfig("/cap-jobs", "https://example.com/sink",
      "SELECT v FROM {{payload}}", Some("v > 0"), None))
    val cap = 8
    val ingest = new StreamIngest(e, maxSurvivorsInDriver = cap)
    jobsFor(ingest, "/cap-jobs", 1, "cap|warm")
    val jobs = jobsFor(ingest, "/cap-jobs", 5 * cap + 3, "cap|1")
    assert(jobs == 0, s"$jobs jobs for a batch past the cap")
    assert(ingest.maxDriverChunkRows.get() == cap.toLong)
    assert(ingest.driverCollectedEvents.get() == 1L + 5 * cap + 3)
    val delivered = e.adHocQuery(
      "SELECT COUNT(*) FROM transformed_events WHERE success").toOption.get
    assert(delivered == Seq(Seq(1L + 5 * cap + 3)))
  }

  test("a shuffled stream batch reads with jobs and audits as the per-event path does") {
    // a shuffle in the batch's lineage takes the toLocalIterator read
    val s = spark
    implicit val sqlCtx = s.sqlContext
    import s.implicits._
    val e = newEngine()
    registerMixed(e)
    val mem = MemoryStream[(String, String)]
    val query = new StreamIngest(e)
      .attach(mem.toDS().repartition(2), "graft-ingest-shuffled")
    val jobs = try jobsIn {
      mem.addData(mixedEvents: _*)
      query.processAllAvailable()
    }._1 finally query.stop()
    assert(jobs > 0)
    assert(auditSnapshot(e) == perEventSnapshot())
  }

  test("a failing driver-side read rethrows its error after the completion listeners") {
    val s = spark
    import s.implicits._
    val e = newEngine()
    e.register(WebhookConfig("/fails", "https://example.com/sink",
      "SELECT * FROM {{payload}}", None, None))
    StreamIngestSpec.listenerRuns.set(0)
    val rows = s.sparkContext.parallelize(Seq(0, 1), 2)
      .mapPartitionsWithIndex(StreamIngestSpec.failOnSecondPartition)
    val thrown = intercept[IllegalStateException](
      new StreamIngest(e).processMicroBatch(
        rows.toDF("source_path", "payload"), "fails|0"))
    assert(thrown.getMessage == "second partition")
    // both partitions' listeners ran: the completed one and the failed one
    assert(StreamIngestSpec.listenerRuns.get() == 2)
    assert(org.apache.spark.TaskContext.get() == null)
  }

  test("stream rows route with the HTTP path's normalization") {
    val s = spark
    import s.implicits._
    val events = Seq(
      "hook" -> """{"v": 1}""", // no leading slash: routes to /hook
      "/hook" -> """{"v": 2}""",
      "nowhere" -> """{"v": 3}""") // unroutable → no raw row
    val nullPath = (null: String) -> """{"v": 4}""" // routes nowhere either
    def register(e: graft.engine.WebhookEngine): Unit =
      e.register(WebhookConfig("/hook", "https://example.com/sink",
        "SELECT v FROM {{payload}}", None, None))
    val streamed = newEngine()
    register(streamed)
    val ingest = new StreamIngest(streamed)
    ingest.processMicroBatch((events :+ nullPath).toDF("source_path", "payload"),
      "norm|0")
    assert(ingest.driverCollectedEvents.get() == 2L)
    val perEvent = newEngine()
    register(perEvent)
    events.foreach { case (p, j) => perEvent.ingest(p, j) }
    perEvent.drain()
    assert(streamed.audit.rawEvents().count() == 2L)
    assert(auditSnapshot(streamed) == auditSnapshot(perEvent))
  }

  test("idle StreamIngest instances release their delivery threads") {
    val s = spark
    import s.implicits._
    def workers(): Int = Thread.getAllStackTraces.keySet.toArray
      .count(_.asInstanceOf[Thread].getName == "graft-delivery-worker")
    // waits up to 30 s for the live delivery threads to fall to `n`
    def fallsTo(n: Int): Boolean = {
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (workers() > n && System.nanoTime() < deadline) Thread.sleep(200)
      workers() <= n
    }
    // earlier instances' threads end first, so the count starts at rest
    assert(fallsTo(0))
    (1 to 4).foreach { i =>
      val e = newEngine()
      e.register(WebhookConfig("/idle", "https://example.com/sink",
        "SELECT v FROM {{payload}}", None, None))
      new StreamIngest(e).processMicroBatch((1 to 8).map(v =>
        "/idle" -> s"""{"v": $v}""").toDF("source_path", "payload"), s"idle|$i")
    }
    assert(workers() > 0)
    assert(fallsTo(0), s"${workers()} delivery threads still live")
  }

  test("the batch-end audit flush launches no Spark job") {
    val e = newEngine()
    (1 to 40).foreach { i =>
      val raw = e.audit.logRaw("/flush-jobs", s"""{"v": $i}""")
      e.audit.logTransformed(raw.id, "w", "{}", "https://example.com/sink",
        success = true, Some(200), "ok")
    }
    assert(jobsIn(e.audit.flush())._1 == 0)
    assert(e.audit.rawEvents().count() == 40L)
  }

  test("webhook groups process concurrently: wall ≈ max(group), not Σ") {
    val s = spark
    import s.implicits._
    val sleepMs = 1500L
    // slow destination: per-event HTTP delivery takes 1.5s. Concurrency
    // is pinned by OVERLAP, not wall-clock: serial delivery can never
    // have two deliveries in flight at once, while the delivery pool
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
    // every routed event now reaches the driver once, where the compiled
    // filter passes 6 of 10 (125..250) and audits the other 4 as filtered
    assert(ingest.driverCollectedEvents.get() == 10L)
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

  test("batches of exactly the driver cap and one past it deliver every row") {
    val s = spark
    import s.implicits._
    val cap = 8
    for (n <- Seq(cap, cap + 1)) {
      val e = newEngine()
      e.register(WebhookConfig("/edge", "https://example.com/sink",
        "SELECT v FROM {{payload}}", Some("v > 0"), None))
      val ingest = new StreamIngest(e, maxSurvivorsInDriver = cap)
      ingest.processMicroBatch(
        (1 to n).map(i => "/edge" -> s"""{"v": $i}""")
          .toDF("source_path", "payload"), s"edge|$n")
      assert(ingest.driverCollectedEvents.get() == n.toLong, n)
      assert(ingest.maxDriverChunkRows.get() <= cap.toLong, n)
      val delivered = e.adHocQuery(
        "SELECT COUNT(DISTINCT raw_event_id) FROM transformed_events WHERE success")
        .toOption.get
      assert(delivered == Seq(Seq(n.toLong)), n)
    }
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

  test("malformed stream payloads drop before their raw row, like HTTP 400") {
    val s = spark
    import s.implicits._
    val delivered = new java.util.concurrent.atomic.AtomicInteger()
    def engine() = newEngine((_, _, _) => {
      delivered.incrementAndGet()
      graft.engine.Delivery.Result(success = true, Some(200), "ok")
    })
    val hook = WebhookConfig("/malformed", "https://example.com/sink",
      "SELECT * FROM {{payload}}", None, None)
    val bad = Seq("{not json", """{"a": 1""", "'single'", "", "   ",
      """{"a": 1} xyz""", """{"a": 1}{"b": 2}""", "[1,2]]")
    val e = engine()
    e.register(hook)
    bad.foreach(b =>
      assert(e.ingest("/malformed", b) ==
        Left(graft.engine.WebhookEngine.InvalidJson), b))
    val ingest = new StreamIngest(e)
    val (jobs, _) = jobsIn(ingest.processMicroBatch(
      bad.map("/malformed" -> _).toDF("source_path", "payload"), "bad|1"))
    assert(jobs == 0, s"$jobs jobs for an all-malformed batch")
    assert(delivered.get == 0)
    assert(e.audit.rawEvents().count() == 0L)
    assert(e.audit.transformedEvents().count() == 0L)
    // valid neighbours keep the ids they get in a batch without them
    val good = Seq("""{"a": 1}""", """{"a": 1}""", """{"b": 2}""")
    def rawIds(payloads: Seq[String]): Set[String] = {
      val eng = engine()
      eng.register(hook)
      new StreamIngest(eng).processMicroBatch(
        payloads.map("/malformed" -> _).toDF("source_path", "payload"), "mix|1")
      eng.adHocQuery("SELECT id FROM raw_events").toOption.get
        .map(_.head.asInstanceOf[String]).toSet
    }
    val mixed = rawIds(Seq(bad(0), good(0), bad(1), good(1), good(2), bad(2)))
    assert(mixed.size == 3)
    assert(mixed == rawIds(good))
  }

  test("micro-batch: broken filter audits Error rows") {
    val s = spark
    import s.implicits._
    val e = newEngine()
    e.register(WebhookConfig("/bad-filter", "https://example.com/x",
      "SELECT * FROM {{payload}}", Some("no_such_fn(x) ==="), None))
    new StreamIngest(e).processMicroBatch(
      Seq("/bad-filter" -> """{"x": 1}""").toDF("source_path", "payload"),
      "bad|0")
    val out = outcomeByPayload(e)
    assert(out.keySet == Set("""{"x": 1}"""))
    assert(out.values.forall(_.startsWith("Error: ")), out)
  }

  test("a replayed failing batch audits the error bodies of its first run") {
    val s = spark
    import s.implicits._
    val e = newEngine()
    // an analysis error: its message quotes the plan, with the per-call
    // payload view and the analyzer's expression ids
    e.register(WebhookConfig("/fail-replay", "https://example.com/sink",
      "SELECT no_such_column FROM {{payload}}", None, None))
    val batch = Seq("""{"x": 1}""", """{"x": 2}""")
      .map("/fail-replay" -> _).toDF("source_path", "payload")
    val ingest = new StreamIngest(e)
    ingest.processMicroBatch(batch, "fail-replay|3")
    ingest.processMicroBatch(batch, "fail-replay|3") // the replay
    val bodies = e.adHocQuery(
      "SELECT raw_event_id, response_body FROM transformed_events")
      .toOption.get.groupMap(_(0))(_(1).asInstanceOf[String])
    assert(bodies.size == 2, bodies)
    assert(bodies.values.forall(_.size == 2), bodies)
    assert(bodies.values.forall(_.distinct.size == 1), bodies)
    assert(bodies.values.flatten.forall(b =>
      b.startsWith("Error: ") && b.contains("{{payload}}")), bodies)
  }

  test("micro-batch raw ids equal the Spark md5 expression they replace") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val e = newEngine()
    e.register(WebhookConfig("/ids", "https://example.com/x",
      "SELECT * FROM {{payload}}", None, None))
    val events = Seq(
      """{"a": 1}""",
      """{"name": "Zoë – 東京 😀"}""", // non-ASCII, 1-4 byte UTF-8
      """{"a": "x|y", "b": "|"}""", // the separator inside the payload
      """{"dup": true}""", """{"dup": true}""", """{"dup": true}""")
      .map("/ids" -> _).toDF("source_path", "payload")
    val key = "ids-query|3"
    // the distributed derivation the driver-side ids replace
    val occ = Window.partitionBy("source_path", "payload").orderBy(lit(1))
    val h = md5(concat_ws("|", lit(key), col("source_path"),
      row_number().over(occ), col("payload")))
    val expected = events.select(concat_ws("-", substring(h, 1, 8),
        substring(h, 9, 4), substring(h, 13, 4), substring(h, 17, 4),
        substring(h, 21, 12)))
      .collect().map(_.getString(0)).toSet
    assert(expected.size == 6)
    new StreamIngest(e).processMicroBatch(events, key)
    val ids = e.adHocQuery("SELECT id FROM raw_events").toOption.get
      .map(_.head.asInstanceOf[String])
    assert(ids.size == 6)
    assert(ids.toSet == expected)
  }

  test("a micro-batch is on disk when processMicroBatch returns") {
    val s = spark
    import s.implicits._
    val workDir =
      java.nio.file.Files.createTempDirectory("graft-stream-durable").toString
    val e1 = new graft.engine.WebhookEngine(s, workDir)
    e1.register(WebhookConfig("/durable", "https://example.com/sink",
      "SELECT v FROM {{payload}}", Some("v > 1"), None))
    new StreamIngest(e1).processMicroBatch(
      (1 to 3).map(i => "/durable" -> s"""{"v": $i}""")
        .toDF("source_path", "payload"), "durable|0")
    // no flush or close: a fresh engine reads only what is on disk
    val e2 = new graft.engine.WebhookEngine(s, workDir)
    assert(e2.audit.rawEvents().count() == 3L)
    val outcomes = e2.audit.transformedEvents()
      .select("success", "response_body").collect()
    assert(outcomes.length == 3)
    assert(outcomes.count(_.getBoolean(0)) == 2)
    assert(outcomes.count(_.getString(1) == "Filtered out by filter_query") == 1)
  }

  test("a parquet-backed batch is read on the driver with no Spark job") {
    // a file scan reads the broadcast Hadoop conf, so the driver-side
    // read must be registered with the block manager as a task is
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-parquet")
      .resolve("in").toString
    (1 to 3).map(i => "/parquet" -> s"""{"v": $i}""")
      .toDF("source_path", "payload").write.parquet(dir)
    val e = newEngine()
    e.register(WebhookConfig("/parquet", "https://example.com/sink",
      "SELECT v FROM {{payload}}", None, None))
    val ingest = new StreamIngest(e)
    val batch = s.read.parquet(dir)
    val (jobs, _) = jobsIn(ingest.processMicroBatch(batch, "parquet|0"))
    assert(jobs == 0)
    assert(e.audit.rawEvents().count() == 3L)
    assert(e.audit.transformedEvents().where("success").count() == 3L)
  }

  test("a restarted query resumes from its checkpoint at the next batch") {
    // the offset, commit and source logs are written and read back by
    // the session's file: file system (graft.engine.ForkFreeLocalFs)
    val s = spark.newSession()
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream-recover")
    val (input, checkpoint) = (tmp.resolve("in").toString, tmp.resolve("cp"))
    s.conf.set("spark.sql.streaming.checkpointLocation", checkpoint.toString)
    val e = newEngine()
    e.register(WebhookConfig("/recover", "https://example.com/sink",
      "SELECT v FROM {{payload}}", None, None))
    val batches = Seq(Seq(1, 2, 3), Seq(4, 5))
      .map(_.map(i => "/recover" -> s"""{"v": $i}"""))
    def run(events: Seq[(String, String)]): Seq[Long] = {
      events.toDF("source_path", "payload").write.mode("append").parquet(input)
      val query = new StreamIngest(e).attach(
        s.readStream.schema("source_path STRING, payload STRING")
          .parquet(input).as[(String, String)], "graft-recover")
      try query.processAllAvailable() finally query.stop()
      query.recentProgress.toSeq.filter(_.numInputRows > 0).map(_.batchId)
    }
    assert(run(batches(0)) == Seq(0L))
    assert(run(batches(1)) == Seq(1L)) // batch 0 is not replayed
    assert(java.nio.file.Files.exists(checkpoint.resolve("graft-recover/commits/1")))
    val ids = e.audit.rawEvents().select("id").as[String].collect().toSeq
    assert(ids.size == ids.distinct.size)
    val expected = batches.zipWithIndex.flatMap { case (events, b) =>
      events.map { case (path, payload) =>
        StreamIngest.rawEventId(s"graft-recover|$b", path, 1, payload)
      }
    }
    assert(ids.toSet == expected.toSet)
  }
}

object StreamIngestSpec {

  /** Completion listeners run by [[failOnSecondPartition]]. */
  val listenerRuns = new java.util.concurrent.atomic.AtomicInteger()

  /** Passes an event through, unless its payload is "boom". */
  val failOnBoom: ((String, String)) => (String, String) = {
    case (_, "boom") => throw new IllegalStateException("boom payload")
    case event => event
  }

  /** A partition function that registers a completion listener, then
    * yields one routable row on partition 0 and throws on partition 1.
    */
  val failOnSecondPartition: (Int, Iterator[Int]) => Iterator[(String, String)] =
    (i, _) => {
      org.apache.spark.TaskContext.get()
        .addTaskCompletionListener[Unit](_ => listenerRuns.incrementAndGet())
      if (i == 1) throw new IllegalStateException("second partition")
      Iterator("/fails" -> """{"v": 1}""")
    }
}
