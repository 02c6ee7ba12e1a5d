package graft.engine

import java.io.IOException
import java.util.UUID

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Parquet files written and read on the calling thread, with no Spark
  * job: Spark's own parquet writer (`ParquetFileFormat.prepareWrite`)
  * encodes each group of rows into one file, so compression, timestamp
  * encoding and the footer's row schema come from the session exactly as
  * a DataFrame write's would. Every parquet file the gateway writes goes
  * through [[write]]: the audit buffer flush, the audit batch appends,
  * audit compaction (which reads its inputs through [[read]]) and
  * reference-table uploads.
  *
  * Each file is written under a hidden temp name (`.part-….tmp`, which
  * Spark's listing and audit compaction skip) and renamed to
  * `part-<uuid>.c000<ext>` only after every file of the call is written.
  * A crash before the renames therefore leaves nothing visible, and a
  * crash between them leaves some files visible; a failed write or
  * rename deletes the temp files and rethrows. Nothing is fsynced.
  *
  * Files, their `.crc` checksums and the renames go through the
  * session's `file:` file system, [[ForkFreeLocalFileSystem]]
  * ([[graft.Tables.sessionConf]]): a file costs no child process.
  */
object DriverParquet {

  /** Writes each `(directory, rows)` group as one file in that
    * directory; returns the final paths, in order.
    */
  def write(spark: SparkSession, schema: StructType,
      files: Seq[(Path, IterableOnce[InternalRow])]): Seq[Path] =
    SQLConf.withExistingConf(spark.sessionState.conf) {
      val job = Job.getInstance(spark.sessionState.newHadoopConf())
      val writers = new ParquetFileFormat()
        .prepareWrite(spark, job, Map.empty, schema)
      val ctx = new TaskAttemptContextImpl(job.getConfiguration,
        new TaskAttemptID())
      val written = ArrayBuffer[(Path, Path)]() // temp → final name
      try {
        files.foreach { case (dir, rows) =>
          val name =
            s"part-${UUID.randomUUID()}.c000${writers.getFileExtension(ctx)}"
          val tmp = new Path(dir, s".$name.tmp")
          written += tmp -> new Path(dir, name)
          val w = writers.newInstance(tmp.toString, schema, ctx)
          try rows.iterator.foreach(w.write)
          finally w.close()
        }
        written.foreach { case (tmp, dest) =>
          val fs = tmp.getFileSystem(job.getConfiguration)
          if (!fs.rename(tmp, dest))
            throw new IOException(s"could not rename $tmp to $dest")
        }
        written.map(_._2).toSeq
      } catch {
        case NonFatal(e) =>
          written.foreach { case (tmp, _) =>
            tmp.getFileSystem(job.getConfiguration).delete(tmp, false)
          }
          throw e
      }
    }

  /** The rows of `files`, read lazily by Spark's parquet reader one file
    * (one input split) at a time, with `schema`'s columns matched by
    * name (a nullable one that a file lacks reads as null). Each row is
    * valid only until the next one is read.
    */
  def read(spark: SparkSession, schema: StructType,
      files: Seq[FileStatus]): Iterator[InternalRow] = {
    val reader = SQLConf.withExistingConf(spark.sessionState.conf) {
      new ParquetFileFormat().buildReaderWithPartitionValues(spark, schema,
        new StructType(), schema, Nil,
        Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
        spark.sessionState.newHadoopConf())
    }
    files.iterator.flatMap { f =>
      reader(PartitionedFile(InternalRow.empty, SparkPath.fromFileStatus(f),
        0, f.getLen, fileSize = f.getLen))
    }
  }
}
