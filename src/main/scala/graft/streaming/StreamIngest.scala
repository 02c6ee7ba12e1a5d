package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.HexFormat
import java.util.concurrent.{Callable, ExecutionException, Future,
  LinkedBlockingQueue, ThreadPoolExecutor, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.{DriverRowReader, SinkQuery}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StringType

import graft.engine.WebhookEngine

/** Structured Streaming ingestion wrapper: the engine's pipeline as the
  * sink of a streaming query.
  *
  * An upstream receiver (HTTP endpoint, Kafka topic, file drop) lands
  * `(source_path, payload_json)` pairs into any streaming source; this
  * wrapper attaches the engine to that stream. [[attach]] starts the
  * query with its own v1 `Sink` (started by
  * [[org.apache.spark.sql.execution.SinkQuery]]), not `foreachBatch`:
  * the sink reads each batch from the RDD of the plan Spark built for
  * the trigger, so a batch is planned once, by Spark. Both columns are
  * cast to string in that plan, once, when the query starts (a
  * string→string cast is optimized away).
  *
  * Each micro-batch runs on the driver, through the same per-event
  * pipeline as HTTP ingest:
  *
  *  - the batch's rows come to the driver in chunks of at most
  *    `maxSurvivorsInDriver` rows
  *    ([[org.apache.spark.sql.execution.DriverRowReader]]): a batch with
  *    no shuffle in its lineage, which is what a streaming source hands
  *    the sink, is read on this thread with no Spark job; any other
  *    is read with `toLocalIterator`. A batch under the cap is read whole
  *    before its first event is admitted;
  *  - each row then takes one pass, in arrival order:
  *    [[graft.engine.WebhookEngine.admit]], the same route/validate/
  *    raw-audit step as HTTP ingest (the path is normalized and routed
  *    as HTTP routes it; an unroutable event drops, mirroring the
  *    reference's 404 (src/app.py:1068-1083), and a payload that does
  *    not parse as JSON drops before its raw row, mirroring the HTTP
  *    400; raw rows are stamped with the batch start); then
  *    [[graft.engine.WebhookEngine.prepare]]: UDF rehydration, the
  *    filter and the transform, compiled once per payload shape and
  *    evaluated on the driver with no Spark job (filtered-out and failed
  *    events are audited there); then a survivor goes straight to a
  *    bounded delivery pool ([[graft.engine.WebhookEngine.deliverKept]]),
  *    so its delivery overlaps the preparation of the rows after it and
  *    one slow destination does not serialize the batch. The chunk ends
  *    when every delivery it started has finished;
  *  - the batch ends with `audit.flush()`: its raw and outcome rows are
  *    on disk when the sink's `addBatch` returns, which is when
  *    Structured Streaming commits the batch (an error in the batch
  *    stops the query, with that error as its cause). The flush encodes
  *    the parquet on this thread with no Spark job
  *    (graft.engine.AuditLog), so a warm batch launches no Spark job at
  *    all; what it pays beyond its per-event work is Spark's planning of
  *    the trigger and the trigger's own overhead: the offset log before the
  *    batch and the commit log after it. Spark writes both through
  *    Hadoop's `FileContext`, which on `file:` is the session's
  *    [[graft.engine.ForkFreeLocalFs]], so neither they nor the flush
  *    start a `chmod` or `readlink` process per file.
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

  /** Routed rows (their path names a webhook) read across all batches. */
  val driverCollectedEvents = new AtomicLong(0L)

  /** Largest single driver-resident chunk observed — tests pin this
    * stays ≤ `maxSurvivorsInDriver` even for a batch bigger than the cap.
    */
  val maxDriverChunkRows = new AtomicLong(0L)

  /** Attach the engine to a stream of (source_path, payload) pairs,
    * read by position. Returns the running query; callers own its
    * lifecycle.
    */
  def attach(events: Dataset[(String, String)],
      queryName: String = "graft-ingest"): StreamingQuery =
    SinkQuery.start(StreamIngest.pathAndPayload(
      events.toDF("source_path", "payload")), queryName, new Sink {
      override def addBatch(batchId: Long, data: DataFrame): Unit =
        processRows(data.queryExecution.toRdd, data.sparkSession,
          s"$queryName|$batchId")
      override def toString: String = s"StreamIngest[$queryName]"
    })

  /** Process one micro-batch DataFrame (`source_path`, `payload`): admit,
    * prepare and hand each event to delivery in one pass on the driver,
    * then flush the audit log.
    */
  def processMicroBatch(batch: DataFrame, replayKey: String): Unit =
    processRows(StreamIngest.pathAndPayload(batch).queryExecution.toRdd,
      batch.sparkSession, replayKey)

  /** [[processMicroBatch]] over the rows of a planned batch whose first
    * two columns are the string `source_path` and `payload`.
    */
  private def processRows(batch: RDD[InternalRow], session: SparkSession,
      replayKey: String): Unit = {
    if (engine.catalog.list().isEmpty) return
    val tsMicros = engine.audit.nowMicros()
    // counts per (path, payload) across the whole batch, keyed by a
    // digest so only the counts, not the payloads, outlive each chunk
    val seen = mutable.HashMap[String, Int]()
    DriverRowReader.foreachChunk(batch, session, maxSurvivorsInDriver) { rows =>
      maxDriverChunkRows.getAndUpdate(m => math.max(m, rows.length.toLong))
      val deliveries = ArrayBuffer[Future[Unit]]()
      try rows.foreach {
        case (null, _) => () // a null path routes nowhere
        case (path, payload) =>
          val key = StreamIngest.md5Hex(s"${path.length}:$path" +
            Option(payload).fold("")("|" + _))
          val occurrence =
            seen.updateWith(key)(n => Some(n.getOrElse(0) + 1)).get
          val id = StreamIngest.rawEventId(replayKey, path, occurrence, payload)
          val admitted = engine.admit(path, payload, Some(id), Some(tsMicros))
          if (admitted != Left(WebhookEngine.UnknownPath))
            driverCollectedEvents.incrementAndGet()
          admitted.foreach { case (w, raw) =>
            engine.prepare(w, raw.id, payload).foreach { out =>
              deliveries += deliveryPool.submit(new Callable[Unit] {
                def call(): Unit = engine.deliverKept(w, raw.id, out)
              })
            }
          }
      } finally deliveries.foreach(awaitUnwrapped)
    }
    engine.audit.flush()
    // epoch maintenance: every micro-batch appends files, so without
    // this a long-running stream accumulates millions of small files
    if (compactEveryBatches > 0 &&
      batchesProcessed.incrementAndGet() % compactEveryBatches == 0)
      engine.audit.compact()
  }

  private val batchesProcessed = new AtomicLong(0L)

  /** The bounded delivery pool: one slow destination call (30 s timeout
    * each) must not stall the whole batch, and the reference offers no
    * ordering contract to preserve (its per-event asyncio background
    * tasks interleave freely). `deliverKept` is thread-safe (stateless
    * delivery fn, synchronized audit buffer). Its daemon threads end
    * after a few idle seconds, so an instance that stops receiving
    * batches holds none. Delivery tasks never submit back into the
    * pool, so the fixed bound cannot deadlock.
    */
  private val deliveryPool = {
    val pool = new ThreadPoolExecutor(16, 16, 3L, TimeUnit.SECONDS,
      new LinkedBlockingQueue[Runnable](), (r: Runnable) => {
        val t = new Thread(r, "graft-delivery-worker")
        t.setDaemon(true); t
      })
    pool.allowCoreThreadTimeOut(true)
    pool
  }

  /** Blocks on a pool task and rethrows the ORIGINAL failure, not the
    * ExecutionException wrapper — callers' exception taxonomy must not
    * change relative to running the task inline.
    */
  private def awaitUnwrapped[T](f: Future[T]): T =
    try f.get()
    catch {
      case e: ExecutionException => throw Option(e.getCause).getOrElse(e)
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

  /** `source_path` and `payload` of `df`, in that order, cast to string:
    * a column that only up-casts to string (an `int` path read through
    * `as[(String, String)]`) is read as its string form, as Spark's own
    * decoding reads it.
    */
  private def pathAndPayload(df: DataFrame): DataFrame =
    df.select(Seq("source_path", "payload").map(c =>
      col(c).cast(StringType).as(c)): _*)

  private def md5Hex(s: String): String =
    HexFormat.of().formatHex(
      MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8)))
}
