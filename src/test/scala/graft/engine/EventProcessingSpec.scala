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

  test("row-wise events launch no Spark job after the first compile") {
    val e = newEngine()
    val w = e.register(WebhookConfig("/no-jobs", "https://example.com/sink",
      "SELECT id, nested.v * 2 AS dbl FROM {{payload}}",
      Some("nested.v > 0"), None)).toOption.get
    def payload(i: Int) = s"""{"id": "evt-$i", "nested": {"v": ${i % 7}}}"""
    e.process(w, e.audit.logRaw(w.sourcePath, payload(1)).id, payload(1))
    val raws = (1 to 100).map(i => e.audit.logRaw(w.sourcePath, payload(i)))
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    // executed queries: the Spark path would plan one per step even
    // where its local relation needs no job
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
    val sc = spark.sparkContext
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    spark.listenerManager.register(queryListener)
    val results =
      try raws.map(r => e.process(w, r.id, r.payload))
      finally {
        org.apache.spark.ListenerBusDrain(sc)
        sc.removeSparkListener(listener)
        spark.listenerManager.unregister(queryListener)
      }
    assert(jobs.get() == 0, s"${jobs.get()} jobs for 100 events")
    assert(queries.get() == 0, s"${queries.get()} queries for 100 events")
    assert(results.count(_.filtered) == 100 / 7) // v = 0 is filtered
    assert(results.filterNot(_.filtered).forall(_.success))
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
}
