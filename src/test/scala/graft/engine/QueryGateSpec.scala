package graft.engine

/** Ports of the /query surface pins (tests/test_api_endpoints.py:219-250)
  * plus the stats/events read surfaces (src/app.py:1246-1294, 1464-1563).
  */
class QueryGateSpec extends SparkSpec {
  import SparkSpec._

  test("happy query over audit tables (test_api_endpoints.py:219-235)") {
    val e = newEngine()
    e.register(WebhookConfig("/gate", "https://example.com/x",
      "SELECT * FROM {{payload}}", None, None))
    e.ingest("/gate", """{"k": 1}""")
    val rows = e.adHocQuery("SELECT COUNT(*) FROM raw_events").toOption.get
    assert(rows == Seq(Seq(1L)))
  }

  test("write keywords rejected (test_api_endpoints.py:237-250)") {
    val e = newEngine()
    for (q <- Seq(
      "DROP TABLE raw_events",
      "DELETE FROM raw_events",
      "INSERT INTO raw_events VALUES (1)",
      "UPDATE webhooks SET owner = 'x'",
      "TRUNCATE TABLE raw_events",
      // keyword as a standalone word anywhere still blocks
      "SELECT 1 WHERE EXISTS (SELECT 1) OR 'a' = 'b' AND 1=1 -- x\nUPDATE t SET a=1")) {
      val res = e.adHocQuery(q)
      assert(res == Left("Write operations not allowed in ad-hoc queries"),
        s"should reject: $q")
    }
  }

  test("denylist ignores identifiers, comments and literals (COVERAGE.md deviation)") {
    val e = newEngine()
    // the reference's substring scan rejects ALL of these — including its
    // own catalog column updated_at; the word-boundary + stripped scan
    // passes them and the Catalyst parser stays the authoritative gate
    assert(e.validateAdHoc("SELECT updated_at FROM webhooks").isRight)
    assert(e.validateAdHoc("SELECT 1 -- update this later").isRight)
    assert(e.validateAdHoc("SELECT /* don't DELETE me */ 1").isRight)
    assert(e.validateAdHoc("SELECT 'UPDATE' AS word").isRight)
    assert(e.validateAdHoc("SELECT * FROM updates").isRight)
    // and it actually executes against the live catalog view
    e.register(WebhookConfig("/wb", "https://example.com/x",
      "SELECT * FROM {{payload}}", None, None))
    assert(e.adHocQuery("SELECT updated_at FROM webhooks").toOption
      .exists(_.size == 1))
    // keyword hidden in a comment cannot smuggle a write past the parser
    assert(e.validateAdHoc("/* SELECT */ DROP TABLE webhooks").isLeft)
    // double-quoted literals (Spark accepts them with ANSI off) and
    // backtick identifiers strip too (ADVICE r4)
    assert(e.validateAdHoc("SELECT \"UPDATE\" AS word").isRight)
    assert(e.validateAdHoc("SELECT 1 AS `delete flag`").isRight)
  }

  test("parser-level rejection of non-query statements (SURVEY §7.3)") {
    val e = newEngine()
    assert(e.validateAdHoc("CREATE TABLE t AS SELECT 1").isLeft)
    assert(e.validateAdHoc("SET spark.sql.shuffle.partitions=1").isLeft)
    assert(e.validateAdHoc("SELECT 1").isRight)
  }

  test("catalog tables queryable: webhooks/python_udfs/reference_tables") {
    val e = newEngine()
    val w = e.register(WebhookConfig("/cat", "https://example.com/x",
      "SELECT * FROM {{payload}}", None, Some("owner-1"))).toOption.get
    e.udfs.register(w.id, "f", "def f(s: String): String = s")
    e.refTables.uploadCsv(w.id, "t", "", "a\n1")
    assert(e.adHocQuery("SELECT source_path, owner FROM webhooks")
      .toOption.get == Seq(Seq("/cat", "owner-1")))
    assert(e.adHocQuery("SELECT function_name FROM python_udfs")
      .toOption.get == Seq(Seq("f")))
    assert(e.adHocQuery(
      "SELECT webhook_id FROM reference_tables").toOption.get ==
      Seq(Seq(w.id)))
  }

  test("timestamps render ISO in ad-hoc results (src/app.py:978-986)") {
    val e = newEngine()
    e.register(WebhookConfig("/iso", "https://example.com/x",
      "SELECT * FROM {{payload}}", None, None))
    e.ingest("/iso", """{"k": 1}""")
    val ts = e.adHocQuery("SELECT timestamp FROM raw_events")
      .toOption.get.head.head.asInstanceOf[String]
    assert(ts.matches("""\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(\.\d+)?"""))
  }

  test("stats shape (src/app.py:1246-1294, test_api_endpoints.py:256-270)") {
    val e = newEngine()
    val w = e.register(WebhookConfig("/stats-hook", "https://example.com/x",
      "SELECT * FROM {{payload}}", Some("keep = true"), None)).toOption.get
    e.ingest("/stats-hook", """{"keep": true}""")
    e.ingest("/stats-hook", """{"keep": true}""")
    e.ingest("/stats-hook", """{"keep": false}""") // filtered → success=false
    e.drain()
    val (jobs, s) = jobsIn(e.stats())
    // the raw count and the per-webhook groups; the transformed count is
    // the groups' sum, not an action of its own
    assert(jobs == 4, s"$jobs jobs")
    assert(s.webhookCount == 1)
    assert(s.rawEventCount == 3)
    assert(s.transformedEventCount == 3)
    val rate = s.successRates.find(_.webhookId == w.id).get
    assert(rate.totalEvents == 3 && rate.successCount == 2)
    assert(math.abs(rate.successRate - 2.0 / 3.0) < 1e-6)
  }

  test("recent events LEFT JOIN + LIMIT (src/app.py:1464-1501)") {
    val e = newEngine()
    e.register(WebhookConfig("/recent", "https://example.com/x",
      "SELECT * FROM {{payload}}", None, None))
    (1 to 7).foreach(i => e.ingest("/recent", s"""{"n": $i}"""))
    e.drain()
    val df = e.recentEvents(limit = 5)
    val rows = df.collect()
    assert(rows.length == 5)
    assert(rows.forall(r => r.getBoolean(3))) // all delivered (simulated)
    assert(df.columns.toSeq == Seq("id", "timestamp", "source_path",
      "success", "response_code"))
  }

  test("event detail surface (src/app.py:1503-1563)") {
    val e = newEngine()
    e.register(WebhookConfig("/detail", "https://example.com/x",
      "SELECT n, n * 2 AS doubled FROM {{payload}}", None, None))
    val ack = e.ingest("/detail", """{"n": 21}""").toOption.get
    e.drain()
    val (raw, tr) = e.transformedFor(ack.eventId).get
    assert(raw.sourcePath == "/detail")
    assert(jsonEq(raw.payloadJson, """{"n": 21}"""))
    assert(tr.isDefined)
    assert(jsonEq(tr.get.transformedJson, """{"n":21,"doubled":42}"""))
    assert(tr.get.success && tr.get.responseCode.contains(200))
    assert(e.transformedFor("no-such-id").isEmpty)
  }
}
