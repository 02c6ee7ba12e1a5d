package graft.engine

import java.nio.file.Files

/** Restart-survival pins: the reference keeps its whole catalog in a
  * DuckDB file; the engine persists catalog/UDF/reference-table state
  * under workDir and rehydrates it on construction.
  */
class PersistenceSpec extends SparkSpec {
  import SparkSpec._

  test("webhooks, UDFs, reference tables and audit survive a restart") {
    val workDir = Files.createTempDirectory("graft-persist").toString

    // --- first engine instance: register everything, process an event
    val e1 = new WebhookEngine(spark, workDir)
    val w = e1.register(WebhookConfig("/durable", "https://example.com/x",
      "SELECT * FROM {{payload}}", Some("keep = true"), Some("owner-1")))
      .toOption.get
    e1.udfs.register(w.id, "shout",
      "def shout(s: String): String = s.toUpperCase")
    e1.refTables.uploadCsv(w.id, "dims", "lookup", "k,v\n1,one\n2,two")
    val ack = e1.ingest("/durable", """{"keep": true, "n": 5}""").toOption.get
    e1.drain() // deferred processing must land before the durability flush
    e1.audit.flush() // audit durability is parquet-flush-based

    // --- second engine instance over the same workDir
    val e2 = new WebhookEngine(spark, workDir)
    val w2 = e2.catalog.byPath("/durable").get
    assert(w2.id == w.id)
    assert(w2.filterQuery.contains("keep = true"))
    assert(w2.owner.contains("owner-1"))

    assert(e2.udfs.forWebhook(w.id).map(_.functionName) == Seq("shout"))
    // rehydrated UDF is callable in a transform
    val out = e2.transformer.transform(w.id,
      s"SELECT udf_${w.id.replace("-", "_")}_shout(s) AS u FROM {{payload}}",
      """{"s": "hi"}""")
    assert(jsonEq(out, """{"u":"HI"}"""))

    // reference table content restored
    val meta = e2.refTables.forWebhook(w.id).head
    assert(spark.table(meta.qualifiedName).count() == 2)

    // audit history visible to the new instance
    assert(e2.transformedFor(ack.eventId).isDefined)
    val rows = e2.adHocQuery(
      "SELECT COUNT(*) FROM raw_events WHERE source_path = '/durable'")
      .toOption.get
    assert(rows == Seq(Seq(1L)))

    // and the restarted engine processes new events end-to-end
    assert(e2.ingest("/durable", """{"keep": true, "n": 6}""").isRight)
  }

  test("close() flushes the audit buffers: a restart sees every acked event") {
    val workDir = Files.createTempDirectory("graft-persist-close").toString
    val e1 = new WebhookEngine(spark, workDir)
    e1.register(WebhookConfig("/closed", "https://example.com/x",
      "SELECT * FROM {{payload}}", None, None))
    (1 to 3).foreach(i => assert(e1.ingest("/closed", s"""{"n": $i}""").isRight))
    e1.close()
    val e2 = new WebhookEngine(spark, workDir)
    assert(e2.audit.rawEvents().count() == 3)
    assert(e2.audit.transformedEvents().count() == 3)
  }

  test("a restart rehydrates reference tables with equal schema and rows, Spark-written ones too") {
    val s = spark
    import s.implicits._
    val workDir = Files.createTempDirectory("graft-persist-ref").toString
    val e1 = new WebhookEngine(spark, workDir)
    val csv = e1.refTables.uploadCsv("wid-r", "csv", "",
      "id,amount,at,day,name,ok\n" +
        "1,2.5,2024-01-02 03:04:05,2024-01-02,Ann,true\n" +
        "2,,2024-02-03 04:05:06,2024-02-03,\"B, b\",false").qualifiedName
    val json = e1.refTables.uploadJson("wid-r", "json", "",
      """{"k": 1, "big": 12345678901234567890, "tags": ["a", null], "inner": {"x": 1.5}}
        |{"k": 2, "tags": [], "inner": {"x": null, "y": "z"}}""".stripMargin)
      .qualifiedName
    val legacy = e1.refTables.uploadCsv("wid-r", "legacy", "", "k,v\n9,nine")
      .qualifiedName
    // the content as earlier versions wrote it: a Spark job's parquet
    // output of the CSV read, replacing the file written above
    val old = spark.read.option("header", "true").option("inferSchema", "true")
      .csv(Seq("k,v", "1,one", "2,two").toDS())
    old.write.mode("overwrite").parquet(s"$workDir/reference_tables/$legacy")
    def snapshot(q: String) = {
      val t = spark.table(q)
      (t.schema, t.collect().toSeq)
    }
    val before = Seq(csv, json).map(snapshot)
    assert(before.map(_._2.size) == Seq(2, 2))

    new WebhookEngine(spark, workDir)
    assert(Seq(csv, json).map(snapshot) == before)
    // that write's part files read back in no fixed order
    val (schema, rows) = snapshot(legacy)
    assert(schema == old.schema)
    assert(rows.sortBy(_.toString) == old.collect().toSeq.sortBy(_.toString))
  }

  test("hard delete persists across restart") {
    val workDir = Files.createTempDirectory("graft-persist2").toString
    val e1 = new WebhookEngine(spark, workDir)
    val w = e1.register(WebhookConfig("/gone", "https://example.com/x",
      "SELECT * FROM {{payload}}", None, None)).toOption.get
    e1.deleteWebhook(w.id)
    val e2 = new WebhookEngine(spark, workDir)
    assert(e2.catalog.byPath("/gone").isEmpty)
  }

  test("deleting a webhook removes its reference tables' content") {
    val workDir = Files.createTempDirectory("graft-ref-delete").toString
    val e1 = new WebhookEngine(spark, workDir)
    val w = e1.register(WebhookConfig("/ref-gone", "https://example.com/x",
      "SELECT * FROM {{payload}}", None, None)).toOption.get
    e1.refTables.uploadCsv(w.id, "dims", "lookup", "k,v\n1,one\n2,two")
    val dir = java.nio.file.Paths.get(workDir, "reference_tables",
      e1.refTables.qualifiedName(w.id, "dims"))
    assert(Files.list(dir).count() > 0)
    e1.deleteWebhook(w.id)
    assert(!Files.exists(dir), s"$dir outlived the delete")
    assert(new WebhookEngine(spark, workDir).refTables.list().isEmpty)
    // a re-upload under the same name after the delete still works
    e1.refTables.uploadCsv(w.id, "dims", "lookup", "k,v\n3,three")
    val e2 = new WebhookEngine(spark, workDir)
    assert(e2.refTables.list().map(_.tableName) == Seq("dims"))
    assert(spark.table(e2.refTables.qualifiedName(w.id, "dims"))
      .collect().map(_.getString(1)).toSeq == Seq("three"))
  }

  test("concurrent batch appends and buffer flushes lose no audit rows") {
    val s = spark
    import s.implicits._
    val workDir = Files.createTempDirectory("graft-append-lock").toString
    // flushEvery = 1: every buffered row is its own parquet append
    val audit = new AuditLog(s, workDir, flushEvery = 1)
    val appends: Seq[() => Unit] = (0 until 4).flatMap { t =>
      (0 until 3).map { i =>
        if (t % 2 == 0) () => {
          audit.logRawBatch(Seq((s"raw-$t-$i-a", "/p", "{}"),
            (s"raw-$t-$i-b", "/p", "{}"))
            .toDF("id", "source_path", "payload"), audit.nowMicros())
          audit.logTransformedBatch(Seq((s"tr-$t-$i", s"raw-$t-$i-a", "w",
            "{}", "https://example.com/x", true, 200, "ok"))
            .toDF("id", "raw_event_id", "webhook_id", "transformed_payload",
              "destination_url", "success", "response_code", "response_body"),
            audit.nowMicros())
        } else () => {
          val raw = audit.logRaw("/p", "{}", Some(s"raw-$t-$i"))
          audit.logTransformed(raw.id, "w", "{}", "https://example.com/x",
            success = true, Some(200), "ok")
          ()
        }
      }
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try appends.map(a => pool.submit(new java.util.concurrent.Callable[Unit] {
      def call(): Unit = a()
    })).foreach(_.get())
    finally pool.shutdown()
    // 6 batch appends of 2 raw rows + 6 flushed rows; 12 outcome rows
    assert(audit.rawEvents().count() == 18L)
    assert(audit.transformedEvents().count() == 12L)
    val onDisk = new AuditLog(s, workDir)
    assert(onDisk.rawEvents().select("id").distinct().count() == 18L)
    assert(onDisk.transformedEvents().count() == 12L)
  }
}
