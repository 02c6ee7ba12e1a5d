package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

import graft.engine.{Json, WebhookConfig}

/** The traced replay: the workload's seeded inputs go one call at a time
  * through the layers' public functions, each call wrapped in a span.
  *  - events: `byPath` → `isValid` → `logRaw` (the ack path), then
  *    `loadWebhookUdfs` → `applyFilter` → `transform` → `deliverFn` →
  *    `logTransformed` (the worker path), in the order
  *    `WebhookEngine.process` calls them;
  *  - reads: `validateAdHoc` → `refreshSqlViews` → execute, and the
  *    `stats` / `recentEvents` / `transformedFor` surfaces;
  *  - batches: `StreamIngest.processMicroBatch` under a foreachBatch
  *    stream, with the stream's progress phases from a
  *    StreamingQueryListener.
  */
final class Replay(gw: Gateway, val tracer: Tracer) {
  private val eng = gw.engine
  val failures = ArrayBuffer[String]()
  /** event key → transformed payload produced by the replay. */
  val outputs = scala.collection.mutable.Map[String, String]()

  def event(e: Gen.Event): Unit = {
    val trace = e.key
    val (w, raw) = tracer.root(trace, "ingest") { id =>
      val path = WebhookConfig.normalizePath(e.path)
      val w = tracer.leaf(trace, "route", id)(eng.catalog.byPath(path)).get
      require(tracer.leaf(trace, "validate", id)(Json.isValid(e.payload)))
      (w, tracer.leaf(trace, "log_raw", id)(eng.audit.logRaw(path, e.payload)))
    }
    val (out, ok, body) = tracer.root(trace, "process") { id =>
      tracer.leaf(trace, "udf_load", id)(eng.udfs.loadWebhookUdfs(w.id))
      val keep = w.filterQuery match {
        case Some(f) if f.nonEmpty =>
          tracer.leaf(trace, "filter", id)(
            eng.transformer.applyFilter(w.id, f, e.payload))
        case _ => true
      }
      if (!keep) {
        val msg = "Filtered out by filter_query"
        tracer.leaf(trace, "log_transformed", id)(eng.audit.logTransformed(
          raw.id, w.id, "{}", w.destinationUrl, success = false, None, msg))
        ("{}", false, msg)
      } else {
        val out = tracer.leaf(trace, "transform", id)(
          eng.transformer.transform(w.id, w.transformQuery, e.payload))
        val d = tracer.leaf(trace, "deliver", id)(
          gw.capture.deliver(w.destinationUrl, out, raw.id))
        tracer.leaf(trace, "log_transformed", id)(eng.audit.logTransformed(
          raw.id, w.id, out, w.destinationUrl, d.success, d.code, d.body))
        (out, d.success, d.body)
      }
    }
    outputs(e.key) = out
    Workloads.outputError(e, out, ok, body).foreach(failures += "replay " + _)
  }

  /** One read of `kind`; `rawRows` is the exact raw row count (nothing
    * else writes during the replay) and `target` an event to look up.
    */
  def read(kind: String, n: Int, rawRows: Long, target: String): Unit = {
    val trace = s"read-$n"
    tracer.root(trace, s"read.$kind") { id =>
      kind match {
        case "query" =>
          val sql = Workloads.CountSql
          val v = tracer.leaf(trace, "adhoc.validate", id)(eng.validateAdHoc(sql))
          if (v.isLeft) failures += s"replay query: $v"
          tracer.leaf(trace, "adhoc.refresh_views", id)(eng.refreshSqlViews())
          val rows = tracer.leaf(trace, "adhoc.exec", id)(eng.spark.sql(sql).collect())
          val total = rows.map(_.getLong(1)).sum
          if (total != rawRows) failures += s"replay query: $total rows, want $rawRows"
        case "stats" =>
          val s = tracer.leaf(trace, "adhoc.stats", id)(eng.stats())
          if (s.rawEventCount != rawRows)
            failures += s"replay stats: ${s.rawEventCount} rows, want $rawRows"
        case "events" =>
          val rs = tracer.leaf(trace, "adhoc.recent_events", id)(
            eng.recentEvents(10).collect())
          if (rs.length != 10) failures += s"replay events: ${rs.length} rows"
        case "detail" =>
          val d = tracer.leaf(trace, "adhoc.event_detail", id)(
            eng.transformedFor(target))
          if (!d.exists(_._1.id == target)) failures += s"replay detail: $target"
      }
    }
  }

  /** Progress phases (ms) of every non-empty traced micro-batch. */
  val progress = ArrayBuffer[Map[String, Long]]()

  /** Offers `batches` to a foreachBatch stream whose batch function is
    * `StreamIngest.processMicroBatch`, traced as one span per batch.
    * Returns the ingest (for its driver counters).
    */
  def stream(batches: Seq[Seq[Gen.Event]]): graft.streaming.StreamIngest = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val spark = gw.spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0) progress.synchronized {
          import scala.jdk.CollectionConverters._
          progress += e.progress.durationMs.asScala.map { case (k, v) =>
            k -> v.longValue }.toMap
        }
    }
    spark.streams.addListener(listener)
    val ingest = new graft.streaming.StreamIngest(eng)
    val mem = MemoryStream[(String, String)]
    val name = "bench-trace"
    val q = mem.toDS().writeStream.queryName(name)
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch { (b: Dataset[(String, String)], id: Long) =>
        val trace = s"batch-$id"
        tracer.root(trace, "stream.batch") { sid =>
          tracer.leaf(trace, "stream.process_micro_batch", sid)(
            ingest.processMicroBatch(b.toDF("source_path", "payload"), s"$name|$id"))
        }
        ()
      }
      .start()
    try batches.foreach { b =>
      mem.addData(b.map(e => e.path -> e.payload))
      q.processAllAvailable()
    } finally q.stop()
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    spark.streams.removeListener(listener)
    ingest
  }
}
