package graft.streaming

import java.util.concurrent.atomic.AtomicLong

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.engine.{Webhook, WebhookEngine}

/** Structured Streaming ingestion wrapper (the brief's stated approach:
  * readStream → foreachBatch running the P11 pipeline).
  *
  * An upstream receiver (HTTP endpoint, Kafka topic, file drop) lands
  * `(source_path, payload_json)` pairs into any streaming source; this
  * wrapper attaches the engine to that stream.
  *
  * 100 TB design — the batch NEVER collects to the driver:
  *
  *  - routing is a broadcast inner-join of the batch against the webhook
  *    catalog on `source_path` (exact, case-sensitive — the same match as
  *    WebhookCatalog.byPath; inactive hooks carry the /inactive_ prefix
  *    so they fall out naturally). Unroutable events drop, mirroring the
  *    reference's 404 (src/app.py:1068-1083);
  *  - raw-event audit rows append DISTRIBUTED straight to the
  *    date-partitioned parquet (AuditLog.logRawBatch) — payloads stay on
  *    the executors;
  *  - per webhook, the filter gate evaluates SET-ORIENTED over the whole
  *    group as one distributed plan (PayloadTransformer.batchFilterPlan);
  *    filtered-out audit rows are built and appended distributed via an
  *    anti-join — they never touch the driver either;
  *  - ONLY delivery-bound rows (filter survivors) are collected, because
  *    delivery is per-event HTTP plus an arbitrary per-event transform
  *    SQL — both driver/edge-bound by contract. The filter gate is the
  *    volume reducer: at 100 TB of ingest the collected slice is the
  *    (tiny) fraction that actually leaves the system as webhooks.
  *    [[driverCollectedEvents]] counts exactly these rows so tests pin
  *    the invariant collected == delivery-bound, not batch size;
  *  - each survivor takes the per-event transform, the same code as the
  *    HTTP path: a row-wise transform is compiled once per payload shape
  *    and evaluated on the driver with no Spark job, so a set-oriented
  *    Spark job over the survivors would cost more than it saves;
  *  - even the delivery-bound slice is NOT assumed small: a pass-all
  *    filter at scale would otherwise put the whole batch on the driver.
  *    Collections run through [[forEachDriverChunk]], which counts the
  *    set first and, past `maxSurvivorsInDriver` rows, repartitions to
  *    ≤-cap partitions and streams them one at a time with
  *    toLocalIterator — driver residency stays ≤ cap rows per chunk
  *    while every event still delivers and audits within the batch.
  *
  * Exactly-once notes: raw-event ids are DETERMINISTIC per stream —
  * uuid-shaped md5 of (queryName|batchId, path, occurrence#, payload),
  * occurrence# numbering duplicate (path, payload) pairs within the
  * batch — so a checkpoint replay of a micro-batch reproduces the same
  * id SET and downstream consumers (and audit compaction) can
  * deduplicate on id. Delivery itself is at-least-once, same as the
  * reference's fire-and-forget background task; every delivery request
  * carries the event id as its `Idempotency-Key` header
  * (graft.engine.Delivery), so a replayed micro-batch redelivers under
  * the SAME key and a conforming receiver collapses the duplicates —
  * effectively-once end-to-end against such receivers.
  */
final class StreamIngest(engine: WebhookEngine,
    compactEveryBatches: Int = 64,
    maxSurvivorsInDriver: Int = 65536) {

  /** One ingested event: routing path + raw JSON payload. */
  final case class IngestEvent(source_path: String, payload: String)

  /** Rows materialized on the driver across all batches — by design only
    * filter-passing, delivery-bound events (plus the broken-filter
    * fallback group). Tests pin this stays < batch size.
    */
  val driverCollectedEvents = new AtomicLong(0L)

  /** Largest single driver-resident chunk observed — tests pin this
    * stays ≤ `maxSurvivorsInDriver` even for a 100 %-pass batch bigger
    * than the cap.
    */
  val maxDriverChunkRows = new AtomicLong(0L)

  /** Attach the engine to a stream of (source_path, payload) pairs.
    * Returns the running query; callers own its lifecycle.
    */
  def attach(events: Dataset[(String, String)],
      queryName: String = "graft-ingest"): StreamingQuery =
    events.writeStream
      .queryName(queryName)
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch { (batch: Dataset[(String, String)], batchId: Long) =>
        processMicroBatch(batch.toDF("source_path", "payload"),
          s"$queryName|$batchId")
      }
      .start()

  /** Process one micro-batch DataFrame (`source_path`, `payload`):
    * broadcast-route, audit raw distributed, filter distributed, collect
    * only delivery-bound rows.
    */
  def processMicroBatch(batch: DataFrame, replayKey: String): Unit = {
    val hooks = engine.catalog.list()
    if (hooks.isEmpty) return
    val spark = engine.spark
    val hooksDf = spark.createDataFrame(
      hooks.map(w => (w.id, w.sourcePath))).toDF("__wid", "source_path")

    // Deterministic replay-stable ids: within a (path, payload) tie-group
    // every row is identical, so row_number's arbitrary order still
    // yields the same id SET on replay.
    val occ = Window.partitionBy("source_path", "payload").orderBy(lit(1))
    val routed = batch
      .join(broadcast(hooksDf), Seq("source_path")) // unroutable → dropped
      .withColumn("__h", md5(concat_ws("|", lit(replayKey),
        col("source_path"), row_number().over(occ), col("payload"))))
      .withColumn("__eid", concat_ws("-",
        substring(col("__h"), 1, 8), substring(col("__h"), 9, 4),
        substring(col("__h"), 13, 4), substring(col("__h"), 17, 4),
        substring(col("__h"), 21, 12)))
      .select("__wid", "__eid", "source_path", "payload")
      .persist()
    try {
      val tsMicros = engine.audit.nowMicros()
      engine.audit.logRawBatch(
        routed.select(col("__eid").as("id"), col("source_path"),
          col("payload")), tsMicros)

      // tiny: ≤ one row per webhook present in the batch
      val widsPresent =
        routed.select("__wid").distinct().collect().map(_.getString(0)).toSet
      val present = hooks.filter(w => widsPresent(w.id))
      def runGroup(w: Webhook): Unit =
        processWebhookGroup(w,
          routed.where(col("__wid") === w.id).select("__eid", "payload"),
          tsMicros)
      if (present.sizeIs <= 1) present.foreach(runGroup)
      else {
        // webhook groups are independent: submit them concurrently so
        // batch wall-time ≈ max(group), not Σ(groups). SparkSession is
        // thread-safe; each thread tags its jobs with a per-webhook
        // scheduler pool (effective when spark.scheduler.mode=FAIR;
        // harmless under FIFO). The shared instance pool is bounded so
        // a 1000-webhook batch doesn't spawn 1000 driver threads.
        present.map { w =>
          groupPool.submit(new java.util.concurrent.Callable[Unit] {
            def call(): Unit = {
              val sc = engine.spark.sparkContext
              sc.setLocalProperty("spark.scheduler.pool", s"graft-${w.id}")
              try runGroup(w)
              finally sc.setLocalProperty("spark.scheduler.pool", null)
            }
          })
        }.foreach(awaitUnwrapped) // propagate the first group failure
      }
    } finally routed.unpersist()
    // epoch maintenance: every micro-batch appends files, so without
    // this a long-running stream accumulates millions of small files
    if (compactEveryBatches > 0 &&
      batchesProcessed.incrementAndGet() % compactEveryBatches == 0)
      engine.audit.compact()
  }

  private val batchesProcessed = new AtomicLong(0L)

  private val GroupParallelism = 8

  /** One shared bounded executor per StreamIngest instance for each
    * role — group fan-out and per-survivor delivery — instead of a
    * fresh pool per (webhook, batch): GroupParallelism concurrent
    * groups × per-call 16-thread delivery pools was up to 128 transient
    * threads per micro-batch plus pool create/shutdown churn every
    * batch. Daemon threads: the pools live for the instance (one per
    * attached stream) and die with the JVM. Delivery tasks never submit
    * back into either pool, so the fixed bounds cannot deadlock.
    */
  private def daemonPool(n: Int, name: String) =
    java.util.concurrent.Executors.newFixedThreadPool(n,
      (r: Runnable) => {
        val t = new Thread(r, name)
        t.setDaemon(true); t
      })
  private lazy val groupPool = daemonPool(GroupParallelism,
    "graft-group-worker")
  private lazy val deliveryPool = daemonPool(DeliveryParallelism,
    "graft-delivery-worker")

  /** Blocks on a pool task and rethrows the ORIGINAL failure, not the
    * ExecutionException wrapper — callers' exception taxonomy must not
    * change relative to running the task inline.
    */
  private def awaitUnwrapped[T](f: java.util.concurrent.Future[T]): T =
    try f.get()
    catch {
      case e: java.util.concurrent.ExecutionException =>
        throw Option(e.getCause).getOrElse(e)
    }

  /** One webhook's slice of the batch: distributed filter gate, filtered
    * audit rows written executor-side, survivors collected for per-event
    * transform + deliver.
    */
  private def processWebhookGroup(webhook: Webhook,
      group: DataFrame, tsMicros: Long): Unit = {
    engine.udfs.loadWebhookUdfs(webhook.id)
    val keptPlan: Option[DataFrame] = webhook.filterQuery match {
      case Some(f) if f.nonEmpty =>
        // a broken filter (analysis error) falls back to the per-event
        // path, which reproduces the reference's "Error: ..." audit rows
        try {
          val plan = engine.transformer.batchFilterPlan(
            group.withColumnRenamed("payload", "__json"), f)
          plan.queryExecution.assertAnalyzed()
          Some(plan)
        } catch { case NonFatal(_) => None }
      case _ => Some(group.select(col("__eid")))
    }
    keptPlan match {
      case None =>
        forEachDriverChunk(group)(_.foreach(r =>
          engine.process(webhook, r.getString(0), r.getString(1))))
      case Some(kept) =>
        val filteredOut = group
          .join(kept, group("__eid") === kept("__eid"), "left_anti")
        engine.audit.logTransformedBatch(
          filteredOut.select(
            md5(concat_ws("|", lit("tr"), col("__eid"))).as("id"),
            col("__eid").as("raw_event_id"),
            lit(webhook.id).as("webhook_id"),
            lit("{}").as("transformed_payload"),
            lit(webhook.destinationUrl).as("destination_url"),
            lit(false).as("success"),
            lit(null).cast("int").as("response_code"),
            lit("Filtered out by filter_query").as("response_body")),
          tsMicros)
        deliverSurvivors(webhook, group
          .join(kept, group("__eid") === kept("__eid"), "left_semi"))
    }
  }

  /** Transform + deliver the filter survivors: each (event id, payload)
    * row takes the per-event transform on this group's thread — for
    * row-wise transforms a compiled driver-side evaluation with no Spark
    * job — and the deliveries then run on the bounded delivery pool.
    * Transform errors audit the per-event path's "Error: …" rows.
    */
  private def deliverSurvivors(webhook: Webhook, survivors: DataFrame): Unit =
    forEachDriverChunk(survivors) { chunk =>
      val transformed = chunk.map(r =>
        (r.getString(0), engine.transformKept(webhook, r.getString(1))))
      parallelDeliver(transformed) { case (eid, out) =>
        engine.deliverKept(webhook, eid, out)
      }
    }

  /** Bounded-parallel per-survivor delivery: one slow destination call
    * (30 s timeout each) must not stall a whole group's batch, and the
    * reference offers no ordering contract to preserve (its per-event
    * asyncio background tasks interleave freely). `deliverKept` is
    * thread-safe (stateless delivery fn, synchronized audit buffer);
    * audit ids stay deterministic regardless of completion order.
    */
  private val DeliveryParallelism = 16
  private def parallelDeliver[T](rows: Array[T])(fn: T => Unit): Unit =
    if (rows.length <= 1) rows.foreach(fn)
    else rows.map(r =>
      deliveryPool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = fn(r)
      })).foreach(awaitUnwrapped)

  /** Materializes `df` on the driver in chunks of at most
    * [[maxSurvivorsInDriver]] rows. Small sets (the expected case — the
    * filter gate is the volume reducer) take a single collect; past the
    * cap the set is repartitioned to ≤-cap partitions and streamed one
    * partition at a time via toLocalIterator, so a 100 %-pass filter on
    * a huge batch cannot put the whole batch on the driver — at any
    * moment the driver holds one ≤-cap chunk (plus toLocalIterator's
    * current ≤-cap partition buffer). The one count() job is O(1) per
    * (webhook, batch), independent of batch size; callers persist `df`
    * when recomputing it is expensive.
    */
  private def forEachDriverChunk(df: DataFrame)(
      handle: Array[org.apache.spark.sql.Row] => Unit): Unit = {
    val n = df.count()
    if (n == 0L) {
      () // nothing to materialize
    } else if (n <= maxSurvivorsInDriver.toLong) {
      val rows = df.collect()
      noteChunk(rows.length)
      handle(rows)
    } else {
      import scala.jdk.CollectionConverters._
      val parts = math.ceil(n.toDouble / maxSurvivorsInDriver).toInt
      df.repartition(parts).toLocalIterator().asScala
        .grouped(maxSurvivorsInDriver)
        .foreach { chunk =>
          noteChunk(chunk.size)
          handle(chunk.toArray)
        }
    }
  }

  private def noteChunk(size: Int): Unit = {
    driverCollectedEvents.addAndGet(size.toLong)
    maxDriverChunkRows.getAndUpdate(m => math.max(m, size.toLong))
    ()
  }
}
