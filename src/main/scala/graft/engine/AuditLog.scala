package graft.engine

import java.time.{Instant, LocalDate}
import java.util.UUID

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Append-only audit tables `raw_events` / `transformed_events`
  * (reference P10, src/app.py:350-432) — the substrate every analytics
  * query runs over.
  *
  * Design for scale: appends buffer in memory and flush as parquet files
  * partitioned by event date (`dt=`), so at 100 TB the analytics queries
  * partition-prune by day and each flush is one immutable file per day
  * (no per-event writes — the reference pays one INSERT round-trip per
  * event). Readers see buffer ∪ parquet via union, so audit queries are
  * read-your-writes without forcing a flush per event.
  *
  * Every parquet file of both tables is written on the calling thread,
  * with no Spark job, through [[DriverParquet]] (which describes when a
  * file becomes visible): a buffer flush (every `flushEvery` rows,
  * [[flush]], and so every stream micro-batch and every clean stop)
  * writes one file per `dt` day and clears the buffer only after the
  * files are renamed into place, so a failed flush keeps its rows
  * buffered and a retried one writes them once.
  */
final class AuditLog(spark: SparkSession, workDir: String,
    flushEvery: Int = 5000) {

  import spark.implicits._

  private val rawBuf = new ArrayBuffer[RawEvent]()
  private val trBuf = new ArrayBuffer[TransformedEvent]()
  private val rawDir = s"$workDir/raw_events"
  private val trDir = s"$workDir/transformed_events"

  def nowMicros(): Long = {
    val i = Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }

  /** Buffers one raw-event row, stamped now unless `tsMicros` is given
    * (a micro-batch stamps all its rows with the batch start).
    */
  def logRaw(sourcePath: String, payloadJson: String,
      id: Option[String] = None, tsMicros: Option[Long] = None): RawEvent =
    synchronized {
      val e = RawEvent(id.getOrElse(UUID.randomUUID().toString),
        tsMicros.getOrElse(nowMicros()), sourcePath, payloadJson)
      rawBuf += e
      if (rawBuf.size >= flushEvery) flushRaw()
      e
    }

  def logTransformed(rawEventId: String, webhookId: String,
      transformedJson: String, destinationUrl: String, success: Boolean,
      responseCode: Option[Int], responseBody: String): TransformedEvent =
    synchronized {
      val e = TransformedEvent(UUID.randomUUID().toString, rawEventId,
        webhookId, nowMicros(), transformedJson, destinationUrl, success,
        responseCode, responseBody)
      trBuf += e
      if (trBuf.size >= flushEvery) flushTransformed()
      e
    }

  /** Timestamp micros → the tables' `timestamp` and `dt` columns. */
  private def withDt(df: DataFrame): DataFrame =
    df.withColumn("timestamp",
        timestamp_micros(col("timestampMicros")))
      .drop("timestampMicros")
      .withColumn("dt", to_date(col("timestamp")))

  private def flushRaw(): Unit = writeOnDriver(rawDir, rawBuf, rawSchema) { e =>
    InternalRow(utf8(e.id), utf8(e.source_path), utf8(e.payload),
      e.timestampMicros)
  }

  private def flushTransformed(): Unit =
    writeOnDriver(trDir, trBuf, trSchema) { e =>
      InternalRow(utf8(e.id), utf8(e.raw_event_id), utf8(e.webhook_id),
        utf8(e.transformed_payload), utf8(e.destination_url), e.success,
        e.response_code.map(Int.box).orNull, utf8(e.response_body),
        e.timestampMicros)
    }

  /** The parquet columns of a flushed buffer: [[withDt]]'s, minus `dt`
    * (a partition value lives in the directory name). The flushes fill
    * them positionally, and reads use them instead of inferring a schema.
    */
  private lazy val rawSchema = dataSchema(Seq.empty[RawEvent].toDF())
  private lazy val trSchema = dataSchema(Seq.empty[TransformedEvent].toDF())

  private def dataSchema(empty: DataFrame): StructType =
    StructType(withDt(empty).schema.filterNot(_.name == "dt"))

  private def utf8(s: String): UTF8String = UTF8String.fromString(s)

  /** Writes `buf` under `dir` as one parquet file per `dt` partition
    * (see the class doc), then clears it. `dt` is `to_date(timestamp)`:
    * the day of the row's `timestamp` in the session time zone.
    */
  private def writeOnDriver[T](dir: String, buf: ArrayBuffer[T],
      schema: StructType)(row: T => InternalRow): Unit =
    if (buf.nonEmpty) {
      val zone =
        DateTimeUtils.getZoneId(spark.sessionState.conf.sessionLocalTimeZone)
      val ts = schema.fieldIndex("timestamp")
      DriverParquet.write(spark, schema, buf.map(row)
        .groupBy(r => DateTimeUtils.microsToDays(r.getLong(ts), zone))
        .toSeq.map { case (day, rows) =>
          new Path(dir, s"dt=${LocalDate.ofEpochDay(day.toLong)}") -> rows
        })
      buf.clear()
    }

  def flush(): Unit = synchronized { flushRaw(); flushTransformed() }

  /** Appends `df`'s rows (`id`, `source_path`, `payload`) to the raw
    * table, all stamped `tsMicros`, and flushes the buffer. The append is
    * driver-side: the rows are collected into the buffer, so a local
    * DataFrame (a `Seq(...).toDF`, which every caller passes) costs no
    * Spark job.
    */
  def logRawBatch(df: DataFrame, tsMicros: Long): Unit = synchronized {
    rawBuf ++= df.withColumn("timestampMicros", lit(tsMicros))
      .as[RawEvent].collect()
    flushRaw()
  }

  /** Transformed-event append, as [[logRawBatch]]; the caller supplies
    * every column except the timestamp.
    */
  def logTransformedBatch(df: DataFrame, tsMicros: Long): Unit = synchronized {
    trBuf ++= df.withColumn("timestampMicros", lit(tsMicros))
      .withColumn("response_code", col("response_code").cast("int"))
      .as[TransformedEvent].collect()
    flushTransformed()
  }

  /** The parquet under `dir` ∪ the buffer, read with the table's known
    * columns plus `dt`, so the read infers nothing and runs no Spark job;
    * an absent directory reads as the buffer alone, and one whose flush
    * has not renamed any file yet reads as empty. Any read failure
    * (corruption, permissions, missing files) propagates: silently
    * treating it as empty would drop audit history from query results.
    * In particular, no ignoreMissingFiles here: that option would mask
    * genuinely lost/deleted audit files in EVERY read. The one
    * legitimate transient — a DataFrame whose file listing resolved just
    * before compact() swapped a partition, executing just after — fails
    * loudly with FileNotFoundException, and action sites recover via
    * [[retryOnCompactionRace]] with a rebuilt (fresh-listing) plan.
    */
  private def readDir(dir: String, schema: StructType,
      bufDf: DataFrame): DataFrame =
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(dir))) bufDf
    else spark.read
      .schema(StructType(schema.map(_.copy(nullable = true)))
        .add("dt", DateType))
      .parquet(dir)
      .unionByName(bufDf, allowMissingColumns = true)

  def rawEvents(): DataFrame = synchronized {
    readDir(rawDir, rawSchema, withDt(rawBuf.toSeq.toDF()))
  }

  def transformedEvents(): DataFrame = synchronized {
    readDir(trDir, trSchema, withDt(trBuf.toSeq.toDF()))
  }

  /** Register both audit tables in the session catalog for ad-hoc SQL
    * (the reference exposes them to /query the same way).
    */
  def registerViews(): Unit = {
    rawEvents().createOrReplaceTempView("raw_events")
    transformedEvents().createOrReplaceTempView("transformed_events")
  }

  def countRawFor(sourcePaths: Seq[String]): Long =
    if (sourcePaths.isEmpty) 0L
    else retryOnCompactionRace() {
      rawEvents().where(col("source_path").isin(sourcePaths: _*)).count()
    }

  /** Runs an action over the audit tables, retrying (bounded) when it
    * fails on a FileNotFoundException — the signature of a plan whose
    * file listing resolved before a concurrent [[compact]] swapped a
    * partition and executed after. The thunk MUST rebuild its
    * DataFrame(s) from [[rawEvents]]/[[transformedEvents]] on each
    * attempt so the retry plans against a fresh listing; the compacted
    * file carries every row the deleted originals held, so the retried
    * result equals what either the pre- or post-compaction snapshot
    * would have returned (append-only: same rows either way).
    *
    * Persistent missing files — genuine loss, not the race — keep
    * failing on every attempt and the last exception propagates, unlike
    * a blanket `ignoreMissingFiles` read option which would silently
    * drop lost audit history from all reads forever.
    */
  def retryOnCompactionRace[T](attempts: Int = 3)(action: => T): T = {
    @annotation.tailrec
    def loop(remaining: Int): T = {
      val r =
        try Right(action)
        catch {
          case e: Throwable if remaining > 1 && hasFileNotFound(e) => Left(e)
        }
      r match {
        case Right(v) => v
        case Left(_) => loop(remaining - 1)
      }
    }
    loop(attempts)
  }

  private def hasFileNotFound(t: Throwable): Boolean = {
    var c: Throwable = t
    var depth = 0
    while (c != null && depth < 16) {
      if (c.isInstanceOf[java.io.FileNotFoundException]) return true
      // Spark task failures can flatten the cause into the message
      if (c.getMessage != null &&
        c.getMessage.contains("FileNotFoundException")) return true
      c = c.getCause
      depth += 1
    }
    false
  }

  // ---- small-file compaction ----

  /** Epoch compaction for the streaming path: every micro-batch appends
    * one-or-more parquet files per table, so a long-running stream
    * accumulates millions of small files — the classic streaming-sink
    * pathology. Each `dt=` partition holding more than
    * `maxFilesPerPartition` data files is rewritten as one file through
    * [[DriverParquet]], with no Spark job (write-new-then-delete-old, so
    * a crash mid-compaction leaves duplicate rows rather than lost audit
    * history; the deterministic raw-event ids make duplicates detectable
    * downstream). Buffered rows are untouched — compaction only touches
    * committed files.
    *
    * Returns the number of partitions rewritten.
    */
  def compact(maxFilesPerPartition: Int = 8): Int = synchronized {
    compactDir(rawDir, rawSchema, maxFilesPerPartition) +
      compactDir(trDir, trSchema, maxFilesPerPartition)
  }

  /** Reads a partition's files by name with the table's `schema`, so
    * files that older versions wrote with Spark, in another column
    * order, map onto the flush's; lists and deletes through the Hadoop
    * file system, so its checksum file system removes each data file's
    * `.crc` along with the file.
    */
  private def compactDir(dir: String, schema: StructType,
      maxFiles: Int): Int = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return 0
    fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("dt="))
      .map(_.getPath)
      .count { part =>
        // rewrites EXACTLY the files listed here; new file in first, old
        // files out after — a reader whose plan listed files before the
        // swap fails on the deleted originals and recovers via
        // retryOnCompactionRace with a fresh listing (same rows)
        val files = fs.listStatus(part).toSeq
          .filter(_.getPath.getName.endsWith(".parquet"))
        files.size > maxFiles && {
          DriverParquet.write(spark, schema,
            Seq(part -> DriverParquet.read(spark, schema, files)))
          files.foreach(f => fs.delete(f.getPath, false))
          true
        }
      }
  }
}
