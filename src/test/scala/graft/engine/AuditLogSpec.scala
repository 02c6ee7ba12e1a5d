package graft.engine

import java.nio.file.{Files, Path, Paths}
import java.time.Instant

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit, timestamp_micros, to_date}

/** The audit buffers' driver-side parquet flush against the Spark append
  * it replaced, and the flush's temp-then-rename visibility.
  */
class AuditLogSpec extends SparkSpec {

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** The buffer flush as a Spark append of the buffer as a local
    * DataFrame, the way `AuditLog` wrote it before the flush moved to the
    * driver.
    */
  private def sparkAppend(buffered: DataFrame, dir: String): Unit =
    buffered.withColumn("timestamp", timestamp_micros(col("timestampMicros")))
      .drop("timestampMicros")
      .withColumn("dt", to_date(col("timestamp")))
      .write.mode("append").partitionBy("dt").parquet(dir)

  private def walk(dir: String): Seq[Path] =
    if (!Files.exists(Paths.get(dir))) Nil
    else {
      val st = Files.walk(Paths.get(dir))
      try st.iterator().asScala.toList finally st.close()
    }

  private def dataFiles(dir: String): Seq[Path] =
    walk(dir).filter(_.getFileName.toString.endsWith(".parquet"))

  private def dtDirs(dir: String): Set[String] =
    dataFiles(dir).map(_.getParent.getFileName.toString).toSet

  /** Per file: the footer's key-value metadata (Spark's version and row
    * schema) and parquet schema; per table: the column codecs.
    */
  private def footers(dir: String): (Set[(Map[String, String], String)], Set[String]) = {
    val metas = dataFiles(dir).map { f =>
      val r = ParquetFileReader.open(
        HadoopInputFile.fromPath(new HPath(f.toString), new Configuration()))
      try {
        val m = r.getFooter
        ((m.getFileMetaData.getKeyValueMetaData.asScala.toMap,
          m.getFileMetaData.getSchema.toString),
          m.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec.toString)))
      } finally r.close()
    }
    (metas.map(_._1).toSet, metas.flatMap(_._2).toSet)
  }

  /** Rows in a fixed column order: a read's column order is the footer
    * order of whichever file schema inference touched first.
    */
  private def rows(df: DataFrame): Seq[Row] =
    df.select(df.columns.sorted.map(col).toIndexedSeq: _*).collect().toSeq
      .sortBy(_.mkString("|"))

  private def micros(iso: String): Long = {
    val i = Instant.parse(iso)
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }

  test("a driver-side flush reads back like the Spark append it replaces") {
    val s = spark.newSession()
    s.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    import s.implicits._
    val (driverDir, sparkDir) =
      (tmpDir("graft-flush-driver"), tmpDir("graft-flush-spark"))
    val audit = new AuditLog(s, driverDir)
    // 23:30 and 00:30 in Los Angeles (UTC-7): one UTC day, two local days
    val raws = Seq(
      audit.logRaw("/p", """{"name": "Zoë – 東京 😀"}""",
        tsMicros = Some(micros("2026-10-18T06:30:00.123456Z"))),
      audit.logRaw("/p", """{"a": 1}""",
        tsMicros = Some(micros("2026-10-18T07:30:00Z"))),
      audit.logRaw("/ünï", """[{"x": "ß"}]""",
        tsMicros = Some(micros("2026-10-18T07:45:00Z"))))
    val outcomes = Seq(
      audit.logTransformed(raws(0).id, "w", """{"name":"Zoë – 東京 😀"}""",
        "https://example.com/x", success = true, Some(200), "ok"),
      audit.logTransformed(raws(1).id, "w", "{}", "https://example.com/x",
        success = false, None, "Error: bad ünïcode"),
      audit.logTransformed(raws(2).id, "w", "{}", "https://example.com/x",
        success = false, None, "Filtered out by filter_query"))
    audit.flush()
    sparkAppend(raws.toDF(), s"$sparkDir/raw_events")
    sparkAppend(outcomes.toDF(), s"$sparkDir/transformed_events")
    assert(dtDirs(s"$driverDir/raw_events") ==
      Set("dt=2026-10-17", "dt=2026-10-18"))
    for (table <- Seq("raw_events", "transformed_events")) {
      val (driver, viaSpark) = (s"$driverDir/$table", s"$sparkDir/$table")
      assert(dtDirs(driver) == dtDirs(viaSpark), table)
      val (a, b) = (s.read.parquet(driver), s.read.parquet(viaSpark))
      assert(a.schema == b.schema, table)
      assert(rows(a) == rows(b), table)
      assert(footers(driver) == footers(viaSpark), table)
    }
    // one file per day and table: nothing split across tasks
    assert(dataFiles(driverDir).size ==
      dtDirs(s"$driverDir/raw_events").size +
        dtDirs(s"$driverDir/transformed_events").size)
  }

  test("a leftover hidden temp file is ignored by reads and compaction") {
    val dir = tmpDir("graft-flush-leftover")
    val audit = new AuditLog(spark, dir)
    (1 to 3).foreach { i =>
      audit.logRaw("/p", s"""{"n": $i}""")
      audit.flush()
    }
    val part = dataFiles(dir).head.getParent
    // what a flush that died between its writes and its renames leaves
    val leftover = part.resolve(".part-dead.c000.snappy.parquet.tmp")
    Files.write(leftover, "not parquet".getBytes("UTF-8"))
    assert(audit.rawEvents().count() == 3L)
    assert(audit.compact(maxFilesPerPartition = 2) == 1)
    assert(audit.rawEvents().count() == 3L)
    assert(dataFiles(dir).size == 1)
    assert(Files.exists(leftover))
  }

  /** An audit log under a new `prefix` dir whose one `dt=` partition
    * holds three files of each kind: driver-flushed, batch-appended, and
    * written by Spark in the column order older versions' batch append
    * used (`id`, `timestamp`, `source_path`, `payload`).
    */
  private def mixedFiles(prefix: String,
      s: SparkSession = spark): (String, AuditLog) = {
    import s.implicits._
    val dir = tmpDir(prefix)
    val audit = new AuditLog(s, dir)
    val ts = micros("2026-10-18T12:00:00Z")
    (1 to 3).foreach { i =>
      audit.logRaw("/p", s"""{"d": $i}""", Some(s"driver-$i"), Some(ts))
      audit.flush()
      audit.logRawBatch(Seq((s"batch-$i", "/p", s"""{"b": $i}"""))
        .toDF("id", "source_path", "payload"), ts)
      Seq((s"spark-$i", "/p", s"""{"s": $i}"""))
        .toDF("id", "source_path", "payload")
        .select(col("id"), timestamp_micros(lit(ts)).as("timestamp"),
          col("source_path"), col("payload"))
        .withColumn("dt", to_date(col("timestamp")))
        .write.mode("append").partitionBy("dt").parquet(s"$dir/raw_events")
    }
    (dir, audit)
  }

  /** The entries directly under the raw table's directory other than
    * `dt=` partitions: only the `_SUCCESS` marker (and its checksum)
    * that the Spark-written files came with.
    */
  private def assertOnlyPartitions(dir: String): Unit = {
    val others = Files.list(Paths.get(dir, "raw_events")).iterator().asScala
      .map(_.getFileName.toString).filterNot(_.startsWith("dt=")).toSet
    assert(others.subsetOf(Set("_SUCCESS", "._SUCCESS.crc")), others)
  }

  test("compaction keeps every row over driver-written and batch-written files") {
    val (dir, audit) = mixedFiles("graft-flush-mixed")
    val before = rows(audit.rawEvents())
    assert(before.size == 9)
    assert(dataFiles(dir).size == 9)
    assert(audit.compact(maxFilesPerPartition = 2) == 1)
    assert(dataFiles(dir).size == 1)
    assert(rows(audit.rawEvents()) == before)
    assert(rows(new AuditLog(spark, dir).rawEvents()) == before)
    assertOnlyPartitions(dir)
  }

  test("compaction leaves no checksum file without its data file") {
    val (dir, audit) = mixedFiles("graft-compact-crc")
    assert(audit.compact(maxFilesPerPartition = 2) == 1)
    val crcs = walk(dir).filter { f =>
      f.getFileName.toString.endsWith(".crc") &&
        f.getParent.getFileName.toString.startsWith("dt=")
    }
    assert(crcs.nonEmpty) // the compacted file's own checksum
    crcs.foreach { crc =>
      val data = crc.getFileName.toString.stripPrefix(".").stripSuffix(".crc")
      assert(Files.exists(crc.resolveSibling(data)), s"orphan checksum $crc")
    }
    assertOnlyPartitions(dir)
  }

  test("a compaction whose write fails keeps every original file and row") {
    val s = spark.newSession()
    s.conf.set("fs.file.impl", classOf[RenameFailingFs].getName)
    s.conf.set("fs.file.impl.disable.cache", "true")
    val (dir, audit) = mixedFiles("graft-compact-rename", s)
    val (files, before) = (walk(dir).toSet, rows(audit.rawEvents()))
    RenameFailingFs.failing = true
    try intercept[java.io.IOException](audit.compact(maxFilesPerPartition = 2))
    finally RenameFailingFs.failing = false
    assert(walk(dir).toSet == files) // originals kept, temp files gone
    assert(rows(audit.rawEvents()) == before)
    assert(audit.compact(maxFilesPerPartition = 2) == 1) // a retry compacts
    assert(dataFiles(dir).size == 1)
    assert(rows(audit.rawEvents()) == before)
  }

  test("a flush whose rename fails keeps its rows buffered and invisible on disk") {
    val s = spark.newSession()
    s.conf.set("fs.file.impl", classOf[RenameFailingFs].getName)
    s.conf.set("fs.file.impl.disable.cache", "true")
    val dir = tmpDir("graft-flush-rename")
    val audit = new AuditLog(s, dir)
    audit.logRaw("/p", """{"n": 1}""")
    audit.logRaw("/p", """{"n": 2}""")
    RenameFailingFs.failing = true
    try intercept[java.io.IOException](audit.flush())
    finally RenameFailingFs.failing = false
    assert(audit.rawEvents().count() == 2L) // still in the buffer
    assert(walk(dir).forall(f => Files.isDirectory(f))) // temp files gone
    assert(new AuditLog(spark, dir).rawEvents().count() == 0L)
    audit.flush() // the retry writes them once
    assert(new AuditLog(spark, dir).rawEvents().count() == 2L)
  }
}

/** The session's local file system, with renames that fail while
  * `failing` is set.
  */
class RenameFailingFs extends ForkFreeLocalFileSystem {
  override def rename(src: HPath, dst: HPath): Boolean =
    !RenameFailingFs.failing && super.rename(src, dst)
}

object RenameFailingFs {
  @volatile var failing = false
}
