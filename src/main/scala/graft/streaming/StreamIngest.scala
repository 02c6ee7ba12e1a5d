package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.HexFormat
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.engine.WebhookEngine

/** Structured Streaming ingestion wrapper (the brief's stated approach:
  * readStream → foreachBatch running the P11 pipeline).
  *
  * An upstream receiver (HTTP endpoint, Kafka topic, file drop) lands
  * `(source_path, payload_json)` pairs into any streaming source; this
  * wrapper attaches the engine to that stream.
  *
  * Each micro-batch runs on the driver, through the same per-event
  * pipeline as HTTP ingest:
  *
  *  - the batch comes to the driver once, in chunks of at most
  *    `maxSurvivorsInDriver` rows ([[forEachDriverChunk]]: one
  *    `limit(cap + 1)` collect for a batch under the cap, the only Spark
  *    job of a warm batch). Only rows whose `source_path`
  *    is some webhook's exact path (case-sensitive, the same match as
  *    WebhookCatalog.byPath) are collected; unroutable events drop,
  *    mirroring the reference's 404 (src/app.py:1068-1083);
  *  - every routed event passes [[graft.engine.WebhookEngine.admit]],
  *    the same route/validate/raw-audit step as HTTP ingest: a payload
  *    that does not parse as JSON drops before its raw row, mirroring
  *    the HTTP 400. The others get their raw-event audit row in the
  *    audit buffer, all stamped with the batch start, then take
  *    [[graft.engine.WebhookEngine.prepare]] in arrival order: UDF
  *    rehydration, the filter and the transform, compiled once per
  *    payload shape and evaluated on the driver with no Spark job;
  *    filtered-out and failed events are audited there;
  *  - the survivors deliver on a bounded pool
  *    ([[graft.engine.WebhookEngine.deliverKept]]), so one slow
  *    destination does not serialize the batch;
  *  - the batch ends with `audit.flush()`: its raw and outcome rows are
  *    on disk when foreachBatch returns, which is when Structured
  *    Streaming commits the batch. The flush encodes the parquet on this
  *    thread with no Spark job (graft.engine.AuditLog), so what a small
  *    batch pays beyond its per-event work is the collect and the
  *    trigger's own overhead (offset and commit logs).
  *
  * Exactly-once notes: raw-event ids are DETERMINISTIC per stream —
  * uuid-shaped md5 of (queryName|batchId, path, occurrence#, payload),
  * occurrence# numbering duplicate (path, payload) pairs within the
  * batch ([[StreamIngest.rawEventId]]) — so a checkpoint replay of a
  * micro-batch reproduces the same id SET and downstream consumers (and
  * audit compaction) can deduplicate on id. Delivery itself is
  * at-least-once, same as the reference's fire-and-forget background
  * task; every delivery request carries the event id as its
  * `Idempotency-Key` header (graft.engine.Delivery), so a replayed
  * micro-batch redelivers under the SAME key and a conforming receiver
  * collapses the duplicates — effectively-once end-to-end against such
  * receivers.
  */
final class StreamIngest(engine: WebhookEngine,
    compactEveryBatches: Int = 64,
    maxSurvivorsInDriver: Int = 65536) {

  /** Routed rows materialized on the driver across all batches. */
  val driverCollectedEvents = new AtomicLong(0L)

  /** Largest single driver-resident chunk observed — tests pin this
    * stays ≤ `maxSurvivorsInDriver` even for a batch bigger than the cap.
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

  /** Process one micro-batch DataFrame (`source_path`, `payload`): route
    * and audit raw on the driver, run each event through the per-event
    * pipeline, deliver the survivors, flush the audit log.
    */
  def processMicroBatch(batch: DataFrame, replayKey: String): Unit = {
    val paths = engine.catalog.list().map(_.sourcePath)
    if (paths.isEmpty) return
    val tsMicros = engine.audit.nowMicros()
    // counts per (path, payload) across the whole batch, keyed by a
    // digest so only the counts, not the payloads, outlive each chunk
    val seen = mutable.HashMap[String, Int]()
    val routed = batch.select("source_path", "payload")
      .where(col("source_path").isin(paths: _*))
    forEachDriverChunk(routed) { rows =>
      val events = rows.flatMap { r =>
        val (path, payload) = (r.getString(0), r.getString(1))
        val key = StreamIngest.md5Hex(s"${path.length}:$path" +
          Option(payload).fold("")("|" + _))
        val occurrence = seen.updateWith(key)(n => Some(n.getOrElse(0) + 1)).get
        val id = StreamIngest.rawEventId(replayKey, path, occurrence, payload)
        engine.admit(path, payload, Some(id), Some(tsMicros)).toOption
          .map { case (w, raw) => (w, raw.id, payload) }
      }
      val survivors = events.flatMap { case (w, id, payload) =>
        engine.prepare(w, id, payload).toOption.map((w, id, _))
      }
      parallelDeliver(survivors) { case (w, id, out) =>
        engine.deliverKept(w, id, out)
      }
    }
    engine.audit.flush()
    // epoch maintenance: every micro-batch appends files, so without
    // this a long-running stream accumulates millions of small files
    if (compactEveryBatches > 0 &&
      batchesProcessed.incrementAndGet() % compactEveryBatches == 0)
      engine.audit.compact()
  }

  private val batchesProcessed = new AtomicLong(0L)

  /** One shared bounded delivery pool per StreamIngest instance instead
    * of a fresh pool per batch. Daemon threads: the pool lives for the
    * instance (one per attached stream) and dies with the JVM. Delivery
    * tasks never submit back into the pool, so the fixed bound cannot
    * deadlock.
    */
  private val DeliveryParallelism = 16
  private lazy val deliveryPool =
    java.util.concurrent.Executors.newFixedThreadPool(DeliveryParallelism,
      (r: Runnable) => {
        val t = new Thread(r, "graft-delivery-worker")
        t.setDaemon(true); t
      })

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

  /** Bounded-parallel per-survivor delivery: one slow destination call
    * (30 s timeout each) must not stall the whole batch, and the
    * reference offers no ordering contract to preserve (its per-event
    * asyncio background tasks interleave freely). `deliverKept` is
    * thread-safe (stateless delivery fn, synchronized audit buffer).
    */
  private def parallelDeliver[T](rows: Array[T])(fn: T => Unit): Unit =
    if (rows.length <= 1) rows.foreach(fn)
    else rows.map(r =>
      deliveryPool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = fn(r)
      })).foreach(awaitUnwrapped)

  /** Materializes `df` on the driver in chunks of at most
    * [[maxSurvivorsInDriver]] rows. One pass, `limit(cap + 1).collect()`,
    * brings a batch under the cap to the driver whole (a single job over
    * a one-partition source; `limit` scans more partitions in further
    * jobs only while it has not reached its count). Only a batch past the
    * cap pays a count, then is repartitioned to ≤-cap partitions and
    * streamed one partition at a time via toLocalIterator, so after the
    * probe the driver holds one ≤-cap chunk at a time (plus
    * toLocalIterator's current ≤-cap partition buffer).
    */
  private def forEachDriverChunk(df: DataFrame)(
      handle: Array[org.apache.spark.sql.Row] => Unit): Unit = {
    // an over-cap probe is dropped here, before the chunked pass
    Some(df.limit(maxSurvivorsInDriver + 1).collect())
      .filter(_.length <= maxSurvivorsInDriver) match {
      case Some(rows) =>
        if (rows.nonEmpty) {
          noteChunk(rows.length)
          handle(rows)
        }
      case None =>
        import scala.jdk.CollectionConverters._
        val parts = math.ceil(df.count().toDouble / maxSurvivorsInDriver).toInt
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

object StreamIngest {

  /** The raw-event id of the `occurrence`-th (1-based) copy of
    * (`path`, `payload`) in the micro-batch `replayKey`: the md5 of
    * `replayKey|path|occurrence|payload`, formatted as a uuid. The same
    * value as Spark's `md5(concat_ws("|", …))`, which skips a null
    * payload.
    */
  private[graft] def rawEventId(replayKey: String, path: String,
      occurrence: Int, payload: String): String = {
    val h = md5Hex((Seq(replayKey, path, occurrence.toString) ++
      Option(payload)).mkString("|"))
    s"${h.substring(0, 8)}-${h.substring(8, 12)}-${h.substring(12, 16)}-" +
      s"${h.substring(16, 20)}-${h.substring(20)}"
  }

  private def md5Hex(s: String): String =
    HexFormat.of().formatHex(
      MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8)))
}
