package graft.engine

import com.fasterxml.jackson.databind.ObjectMapper

/** Ports of the reference's operator-level pins
  * (tests/test_event_processing.py): transform shaping, filter gate
  * semantics, and the full process_webhook flow including the
  * filtered-out and delivery-failure audit rows.
  */
class EventProcessingSpec extends SparkSpec {
  import SparkSpec._

  private val mapper = new ObjectMapper()

  private def transformer = new PayloadTransformer(spark)

  // --- TestEventTransformation ---

  test("transform: simple projection (test_event_processing.py:23-36)") {
    val out = transformer.transform("w1",
      "SELECT field1, field2 FROM {{payload}}", samplePayload)
    assert(jsonEq(out, """{"field1":"value1","field2":"value2"}"""))
  }

  test("transform: computed column a+b=30 (test_event_processing.py:39-50)") {
    val out = transformer.transform("w1",
      "SELECT a, b, a + b AS sum FROM {{payload}}", """{"a": 10, "b": 20}""")
    assert(jsonEq(out, """{"a":10,"b":20,"sum":30}"""))
  }

  test("transform: nested dot access (test_event_processing.py:53-71)") {
    val out = transformer.transform("w1",
      """SELECT field1, nested.key1 AS nested_key1,
        |       nested.key2 AS nested_key2 FROM {{payload}}""".stripMargin,
      samplePayload)
    assert(jsonEq(out,
      """{"field1":"value1","nested_key1":"value1","nested_key2":123}"""))
  }

  test("transform: multi-row {'results':[...]} (test_event_processing.py:74-95)") {
    val payload =
      """[{"id": 1, "name": "Item 1"}, {"id": 2, "name": "Item 2"},
        | {"id": 3, "name": "Item 3"}]""".stripMargin
    val out = transformer.transform("w1",
      "SELECT id, name FROM {{payload}}", payload)
    val tree = mapper.readTree(out)
    assert(tree.has("results"))
    val results = tree.get("results")
    assert(results.size() == 3)
    assert((1 to 3).forall(i => results.get(i - 1).get("id").asInt() == i))
    assert(results.get(0).get("name").asText() == "Item 1")
  }

  test("transform: empty result is {} (test_event_processing.py:98-108)") {
    val out = transformer.transform("w1",
      "SELECT * FROM {{payload}} WHERE field1 = 'nonexistent'",
      """{"field1": "value1", "field2": "value2"}""")
    assert(out == "{}")
  }

  // --- TestEventFiltering ---

  test("filter: passes on match (test_event_processing.py:111-119)") {
    assert(transformer.applyFilter("w1", "field1 = 'value1'", samplePayload))
  }

  test("filter: fails on mismatch (test_event_processing.py:122-136)") {
    assert(!transformer.applyFilter("w1", "field1 = 'wrong_value'",
      samplePayload))
  }

  test("filter: AND conjunction (test_event_processing.py:139-148)") {
    assert(transformer.applyFilter("w1",
      "field1 = 'value1' AND field2 = 'value2'", samplePayload))
  }

  test("filter: nested field (test_event_processing.py:151-160)") {
    assert(transformer.applyFilter("w1", "nested.key1 = 'value1'",
      samplePayload))
  }

  // null filter handled at the pipeline level: no filter → always pass
  // (test_event_processing.py:163-171); pinned in the process tests below.

  // --- TestWebhookProcessing ---

  private def registeredEngine(
      filter: Option[String] = Some("field1 = 'value1'"),
      deliver: (String, String, String) => Delivery.Result =
        Delivery.deliver) = {
    val e = newEngine(deliver)
    val w = e.register(WebhookConfig("/test-webhook",
      "https://example.com/webhook", "SELECT * FROM {{payload}}",
      filter, Some("test-owner"))).toOption.get
    (e, w)
  }

  test("process: success path audits success=true (test_event_processing.py:174-236)") {
    val (e, w) = registeredEngine()
    val raw = e.audit.logRaw(w.sourcePath, samplePayload)
    val res = e.process(w, raw.id, samplePayload)
    assert(!res.filtered && res.success)
    assert(res.responseCode.contains(200)) // simulated example.com delivery
    val rows = e.adHocQuery(
      s"SELECT success, response_code FROM transformed_events WHERE raw_event_id = '${raw.id}'")
      .toOption.get
    assert(rows == Seq(Seq(true, 200)))
  }

  test("process: filtered-out audits the exact reference row (test_event_processing.py:239-296)") {
    val (e, w) = registeredEngine(filter = Some("field1 = 'nonexistent_value'"))
    val raw = e.audit.logRaw(w.sourcePath, samplePayload)
    val res = e.process(w, raw.id, samplePayload)
    assert(res.filtered && !res.success)
    val rows = e.adHocQuery(
      s"""SELECT success, response_body, transformed_payload
         |FROM transformed_events WHERE raw_event_id = '${raw.id}'""".stripMargin)
      .toOption.get
    assert(rows.size == 1)
    assert(rows.head(0) == false)
    assert(rows.head(1) == "Filtered out by filter_query")
    assert(rows.head(2) == "{}")
  }

  test("process: delivery failure audits success=false (test_event_processing.py:299-351)") {
    val (e, w) = registeredEngine(deliver = (_, _, _) =>
      Delivery.Result(success = false, None, "Connection error: refused"))
    val raw = e.audit.logRaw(w.sourcePath, samplePayload)
    val res = e.process(w, raw.id, samplePayload)
    assert(!res.filtered && !res.success)
    val rows = e.adHocQuery(
      s"SELECT success, response_body FROM transformed_events WHERE raw_event_id = '${raw.id}'")
      .toOption.get
    assert(rows == Seq(Seq(false, "Connection error: refused")))
  }

  test("process: transform error audits 'Error: …' row (src/app.py:1230-1244)") {
    val e = newEngine()
    val w = e.register(WebhookConfig("/bad-transform",
      "https://example.com/webhook",
      "SELECT no_such_column + 1 FROM {{payload}}", None, None))
      .toOption.get
    val raw = e.audit.logRaw(w.sourcePath, samplePayload)
    val res = e.process(w, raw.id, samplePayload)
    assert(!res.success)
    assert(res.responseBody.startsWith("Error: "))
    val rows = e.adHocQuery(
      s"SELECT success, response_body FROM transformed_events WHERE raw_event_id = '${raw.id}'")
      .toOption.get
    assert(rows.head(0) == false)
    assert(rows.head(1).asInstanceOf[String].startsWith("Error: "))
  }

  test("process: no filter always passes (test_event_processing.py:163-171)") {
    val (e, w) = registeredEngine(filter = None)
    val raw = e.audit.logRaw(w.sourcePath, samplePayload)
    assert(e.process(w, raw.id, samplePayload).success)
  }

  // --- compiled path: what it refuses, and what it must keep ---

  test("clock, random and subquery transforms take the Spark path") {
    val t = transformer
    val payload = """{"a": 1}"""
    Seq(
      "SELECT a, current_timestamp() AS ts FROM {{payload}}",
      "SELECT a, now() AS ts FROM {{payload}}",
      "SELECT a, current_date() AS d FROM {{payload}}",
      "SELECT a, rand() AS r FROM {{payload}}",
      "SELECT a, uuid() AS u FROM {{payload}}",
      "SELECT a, (SELECT max(id) FROM range(3)) AS m FROM {{payload}}",
      "SELECT a FROM {{payload}} WHERE a IN (SELECT id FROM range(3))"
    ).foreach { q =>
      assert(t.compiledTransform("w-spark", q, payload).isEmpty, q)
      assert(mapper.readTree(t.transform("w-spark", q, payload))
        .get("a").asInt() == 1, q)
    }
    assert(t.compiledFilter("w-spark", "a < rand() + 2", payload).isEmpty)
    // the row-wise control compiles
    assert(t.compiledTransform("w-spark", "SELECT a FROM {{payload}}",
      payload).contains("""{"a":1}"""))
  }

  test("a clock read is fresh on every event") {
    val t = transformer
    val q = "SELECT unix_micros(current_timestamp()) AS us FROM {{payload}}"
    def micros() = mapper.readTree(t.transform("w-clock", q, """{"a": 1}"""))
      .get("us").asLong()
    val first = micros()
    Thread.sleep(5)
    assert(micros() > first)
  }

  test("a UDF re-registered under the same name applies to the next event") {
    val e = newEngine()
    def udf(suffix: String) = e.udfs.register("w-reudf", "tag",
      s"""def tag(s: String): String = s + "$suffix"""")
    assert(udf("-1").isRight)
    val q = "SELECT udf_w_reudf_tag(b) AS t FROM {{payload}}"
    val payload = """{"b": "x"}"""
    assert(e.transformer.transform("w-reudf", q, payload) == """{"t":"x-1"}""")
    assert(e.transformer.compiledTransform("w-reudf", q, payload)
      .contains("""{"t":"x-1"}"""))
    assert(udf("-2").isRight)
    assert(e.transformer.transform("w-reudf", q, payload) == """{"t":"x-2"}""")
    assert(e.transformer.compiledTransform("w-reudf", q, payload)
      .contains("""{"t":"x-2"}"""))
  }

  test("concurrent transforms through one webhook match a serial run") {
    val t = transformer
    val q = "SELECT id, v * 2 AS dbl, upper(s) AS u FROM {{payload}} WHERE v >= 0"
    val filter = "v % 3 <> 0"
    // long strings widen the window in which a shared output row could
    // be overwritten by another thread
    val pad = "x" * 300
    val payloads = (0 until 3000).map { i =>
      if (i % 2 == 0) s"""{"id": $i, "v": $i, "s": "s$i$pad"}"""
      else s"""[{"id": $i, "v": $i, "s": "a$i$pad"}, {"id": $i, "v": -1, "s": "b"}]"""
    }
    def run(p: String) = (t.applyFilter("w-par", filter, p),
      t.transform("w-par", q, p))
    val serial = payloads.map(run)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = payloads.map(p => pool.submit(
        new java.util.concurrent.Callable[(Boolean, String)] {
          def call(): (Boolean, String) = run(p)
        }))
      assert(futures.map(_.get()) == serial)
    } finally pool.shutdown()
    assert(t.compiledTransform("w-par", q, payloads.head).isDefined)
    assert(t.compiledTransform("w-par", q, payloads(1)).isDefined)
  }

  /** The Spark jobs and executed queries `body` launches (the Spark path
    * plans a query per step even where its local relation needs no job).
    */
  private def countJobs[T](body: => T): (Int, Int, T) = {
    val queries = new java.util.concurrent.atomic.AtomicInteger()
    val queryListener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit = {
        queries.incrementAndGet(); ()
      }
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ex: Exception): Unit = {
        queries.incrementAndGet(); ()
      }
    }
    spark.listenerManager.register(queryListener)
    try {
      val (jobs, out) = jobsIn(body)
      (jobs, queries.get(), out)
    } finally spark.listenerManager.unregister(queryListener)
  }

  test("row-wise events launch no Spark job after the first compile") {
    val e = newEngine()
    val w = e.register(WebhookConfig("/no-jobs", "https://example.com/sink",
      "SELECT id, nested.v * 2 AS dbl FROM {{payload}}",
      Some("nested.v > 0"), None)).toOption.get
    def payload(i: Int) = s"""{"id": "evt-$i", "nested": {"v": ${i % 7}}}"""
    e.process(w, e.audit.logRaw(w.sourcePath, payload(1)).id, payload(1))
    val raws = (1 to 100).map(i => e.audit.logRaw(w.sourcePath, payload(i)))
    val (jobs, queries, results) =
      countJobs(raws.map(r => e.process(w, r.id, r.payload)))
    assert(jobs == 0, s"$jobs jobs for 100 events")
    assert(queries == 0, s"$queries queries for 100 events")
    assert(results.count(_.filtered) == 100 / 7) // v = 0 is filtered
    assert(results.filterNot(_.filtered).forall(_.success))
  }

  test("drain wakes when the last event finishes and waits for every earlier ack") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val release = new CountDownLatch(1)
    @volatile var lastDelivered = 0L
    val e = newEngine { (_, _, _) =>
      release.await()
      lastDelivered = System.nanoTime()
      Delivery.Result(success = true, Some(200), "ok")
    }
    e.register(WebhookConfig("/drain", "https://example.com/sink",
      "SELECT * FROM {{payload}}", None, None))
    (1 to 3).foreach(i => e.ingest("/drain", s"""{"n": $i}"""))
    val drained = new CountDownLatch(1)
    @volatile var returnedAt = 0L
    val drainer = new Thread(() => {
      e.drain()
      returnedAt = System.nanoTime()
      drained.countDown()
    })
    drainer.start()
    // every acked event is still blocked in delivery
    assert(!drained.await(200, TimeUnit.MILLISECONDS))
    release.countDown()
    assert(drained.await(30, TimeUnit.SECONDS))
    assert(e.audit.transformedEvents().count() == 3L)
    val lagMs = (returnedAt - lastDelivered) / 1e6
    assert(lagMs < 50, s"drain returned $lagMs ms after the last event")
  }

  // --- reference-table joins ---

  private val usersCsv =
    "username,full_name,department\njdoe,John Doe,Eng\nasmith,Alice Smith,Sales"

  /** An engine and a webhook whose transform LEFT JOINs its uploaded
    * `users` table, registered the way clients do: hook, table, query.
    */
  private def refJoinHook(): (WebhookEngine, Webhook) = {
    val e = newEngine()
    def register(q: String) = e.register(WebhookConfig("/refjoin",
      "https://example.com/sink", q, None, None)).toOption.get
    val id = register("SELECT * FROM {{payload}}").id
    val users = e.refTables.uploadCsv(id, "users", "", usersCsv).qualifiedName
    (e, register(
      "SELECT e.id, e.username, u.full_name, u.department FROM {{payload}} e " +
        s"LEFT JOIN $users u ON e.username = u.username"))
  }

  private def authEvent(i: Int, user: String) =
    s"""{"id": "auth-$i", "username": "$user", "ip": "10.0.0.$i"}"""

  test("CSV and JSON uploads and a reference-join compile launch no Spark job") {
    val e = newEngine()
    val w = e.register(WebhookConfig("/refjoin-nojob", "https://example.com/sink",
      "SELECT * FROM {{payload}}", None, None)).toOption.get
    val (jobs, _, out) = countJobs {
      val users = e.refTables.uploadCsv(w.id, "users", "", usersCsv)
        .qualifiedName
      val depts = e.refTables.uploadJson(w.id, "depts", "",
        """[{"department": "Eng", "floor": 3}, {"department": "Sales", "floor": 1}]""")
        .qualifiedName
      e.transformer.compiledTransform(w.id,
        s"SELECT e.id, u.full_name, d.floor FROM {{payload}} e " +
          s"JOIN $users u ON e.username = u.username " +
          s"JOIN $depts d ON u.department = d.department",
        authEvent(1, "jdoe"))
    }
    assert(jobs == 0, s"$jobs jobs")
    assert(out.exists(jsonEq(_,
      """{"id":"auth-1","full_name":"John Doe","floor":3}""")), out)
  }

  test("gateway set-up as the benchmark does it launches no Spark job") {
    val s = spark
    import s.implicits._
    val e = newEngine((_, _, _) => Delivery.Result(success = true, Some(200), "ok"))
    val events = Seq(
      "/setup/nested" -> """{"type": "push", "repo": {"name": "graft"}}""",
      "/setup/array" -> """[{"sku": "a", "qty": 2}, {"sku": "b", "qty": 3}]""",
      "/setup/refjoin" -> authEvent(1, "jdoe"),
      "/setup/udf" -> """{"email": "jdoe@corp.example"}""")
    def register(path: String, q: String, filter: Option[String] = None) =
      e.register(WebhookConfig(path, "https://example.com/sink", q, filter,
        None)).toOption.get.id
    val (jobs, acks) = jobsIn {
      // hook first, then its table or UDF, then the final transform
      val ids = events.map { case (p, _) =>
        p -> register(p, "SELECT * FROM {{payload}}")
      }.toMap
      val users = e.refTables.uploadCsv(ids("/setup/refjoin"), "users", "",
        usersCsv).qualifiedName
      val domain = e.udfs.register(ids("/setup/udf"), "domain_of",
        """def domain_of(email: String): String = email.split("@").last""")
        .toOption.get.qualifiedName
      register("/setup/nested", "SELECT type, repo.name AS repo FROM {{payload}}",
        Some("type = 'push'"))
      register("/setup/array", "SELECT sku, qty * 2 AS dbl FROM {{payload}}")
      register("/setup/refjoin", "SELECT e.id, u.full_name FROM {{payload}} e " +
        s"LEFT JOIN $users u ON e.username = u.username")
      register("/setup/udf", s"SELECT $domain(email) AS domain FROM {{payload}}")
      // a past day of audit history through the batch appenders
      val ts = e.audit.nowMicros() - 86400000000L
      val rows = (1 to 500).map(i => (s"pre-$i", "/setup/nested", s"""{"n": $i}"""))
      e.audit.logRawBatch(rows.toDF("id", "source_path", "payload"), ts)
      e.audit.logTransformedBatch(rows.map { case (id, path, payload) =>
        (s"out-$id", id, ids(path), payload, "https://example.com/sink", true,
          200, "ok")
      }.toDF("id", "raw_event_id", "webhook_id", "transformed_payload",
        "destination_url", "success", "response_code", "response_body"), ts)
      val acks = events.map { case (p, body) => e.ingest(p, body) }
      e.drain()
      acks
    }
    assert(jobs == 0, s"$jobs jobs")
    assert(acks.forall(_.isRight), acks)
    assert(e.audit.rawEvents().count() == 504L)
    assert(e.audit.transformedEvents().count() == 504L)
    val out = e.audit.transformedEvents()
      .where(!$"raw_event_id".startsWith("pre-"))
      .select("success", "transformed_payload").collect()
    assert(out.forall(_.getBoolean(0)), out.toSeq)
    Seq("""{"type":"push","repo":"graft"}""",
      """{"results":[{"sku":"a","dbl":4},{"sku":"b","dbl":6}]}""",
      """{"id":"auth-1","full_name":"John Doe"}""",
      """{"domain":"corp.example"}""").foreach { want =>
      assert(out.exists(r => jsonEq(r.getString(1), want)), want)
    }
  }

  test("reference-table join events launch no Spark job after the first compile") {
    val (e, w) = refJoinHook()
    val users = Seq("jdoe", "asmith", "ghost")
    e.process(w, e.audit.logRaw(w.sourcePath, authEvent(0, "jdoe")).id,
      authEvent(0, "jdoe"))
    val raws = (1 to 100).map(i =>
      e.audit.logRaw(w.sourcePath, authEvent(i, users(i % 3))))
    val (jobs, queries, results) =
      countJobs(raws.map(r => e.process(w, r.id, r.payload)))
    assert(jobs == 0, s"$jobs jobs for 100 events")
    assert(queries == 0, s"$queries queries for 100 events")
    assert(results.forall(_.success))
    results.zipWithIndex.foreach { case (r, i0) =>
      val i = i0 + 1
      val expected = users(i % 3) match {
        case "jdoe" => s"""{"id":"auth-$i","username":"jdoe","full_name":"John Doe","department":"Eng"}"""
        case "asmith" => s"""{"id":"auth-$i","username":"asmith","full_name":"Alice Smith","department":"Sales"}"""
        case u => s"""{"id":"auth-$i","username":"$u"}"""
      }
      assert(r.transformedJson.contains(expected))
    }
  }

  test("a re-uploaded reference table applies to the next event; a deleted one fails like the Spark path") {
    val (e, w) = refJoinHook()
    val payload = authEvent(1, "jdoe")
    def name() = mapper.readTree(e.transformer.transform(w.id,
      w.transformQuery, payload)).path("full_name").asText()
    assert(name() == "John Doe")
    e.refTables.uploadCsv(w.id, "users", "",
      "username,full_name,department\njdoe,Jane Doe,Ops")
    assert(name() == "Jane Doe")
    assert(e.transformer.compiledTransform(w.id, w.transformQuery, payload)
      .exists(_.contains("Jane Doe")))

    e.refTables.delete(w.id)
    val res = e.process(w, e.audit.logRaw(w.sourcePath, payload).id, payload)
    assert(e.transformer.compiledTransform(w.id, w.transformQuery, payload)
      .isEmpty)
    val sparkError = intercept[Exception](
      e.transformer.sparkTransform(w.id, w.transformQuery, payload))
    // the message prints the plan, whose payload view name and
    // expression ids differ per call; the audited body names neither
    assert(!res.success)
    assert(res.responseBody.startsWith("Error: [TABLE_OR_VIEW_NOT_FOUND]"))
    assert(res.responseBody == WebhookEngine.errorBody(sparkError))
  }

  test("joins to raw_events or webhooks take the Spark path and see new rows") {
    val e = newEngine()
    def hook(path: String, q: String) = e.register(WebhookConfig(path,
      "https://example.com/sink", q, None, None)).toOption.get
    val toRaw = hook("/join-raw", "SELECT p.k, r.source_path FROM {{payload}} p " +
      "JOIN raw_events r ON r.id = p.k")
    val toHooks = hook("/join-hooks", "SELECT p.k, w.source_path FROM {{payload}} p " +
      "JOIN webhooks w ON w.id = p.k")
    def out(w: Webhook, k: String) = {
      val payload = s"""{"k": "$k"}"""
      assert(e.transformer.compiledTransform(w.id, w.transformQuery, payload)
        .isEmpty, w.transformQuery)
      e.process(w, e.audit.logRaw(w.sourcePath, payload).id, payload)
        .transformedJson
    }
    val first = e.audit.logRaw("/first", "{}")
    e.refreshSqlViews()
    assert(out(toRaw, first.id).contains(
      s"""{"k":"${first.id}","source_path":"/first"}"""))
    assert(out(toHooks, toRaw.id).contains(
      s"""{"k":"${toRaw.id}","source_path":"/join-raw"}"""))
    val second = e.audit.logRaw("/second", "{}")
    val later = hook("/later", "SELECT * FROM {{payload}}")
    e.refreshSqlViews()
    assert(out(toRaw, second.id).contains(
      s"""{"k":"${second.id}","source_path":"/second"}"""))
    assert(out(toHooks, later.id).contains(
      s"""{"k":"${later.id}","source_path":"/later"}"""))
  }

  test("process: an interrupt from delivery propagates and is not audited") {
    val e = newEngine((_, _, _) => throw new InterruptedException("stop"))
    val w = e.register(WebhookConfig("/interrupted",
      "https://example.com/webhook", "SELECT * FROM {{payload}}", None,
      None)).toOption.get
    val raw = e.audit.logRaw(w.sourcePath, samplePayload)
    intercept[InterruptedException](e.process(w, raw.id, samplePayload))
    val rows = e.adHocQuery(
      s"SELECT response_body FROM transformed_events WHERE raw_event_id = '${raw.id}'")
      .toOption.get
    assert(rows.isEmpty)
  }

  test("Delivery.deliver propagates an interrupt instead of reporting it") {
    // a loopback address outside the simulated hosts, so a real send
    // starts; the interrupted thread fails its wait for the response
    Thread.currentThread().interrupt()
    try intercept[InterruptedException](
      Delivery.deliver("http://127.0.0.2:9/hook", "{}", "evt-1"))
    finally Thread.interrupted()
  }
}
