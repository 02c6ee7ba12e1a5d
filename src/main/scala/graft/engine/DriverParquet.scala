package graft.engine

import java.io.IOException
import java.util.UUID

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Parquet files written on the calling thread, with no Spark job:
  * Spark's own parquet writer (`ParquetFileFormat.prepareWrite`) encodes
  * each group of rows into one file, so compression, timestamp encoding
  * and the footer's row schema come from the session exactly as a
  * DataFrame write's would. The audit flush and reference-table uploads
  * both write through it.
  *
  * Each file is written under a hidden temp name (`.part-….tmp`, which
  * Spark's listing skips) and renamed to `part-<uuid>.c000<ext>` only
  * after every file of the call is written. A crash before the renames
  * therefore leaves nothing visible; a failed write or rename deletes the
  * temp files and rethrows. Nothing is fsynced.
  */
object DriverParquet {

  /** Writes each `(directory, rows)` group as one file in that
    * directory; returns the final paths, in order.
    */
  def write(spark: SparkSession, schema: StructType,
      files: Seq[(Path, Iterable[InternalRow])]): Seq[Path] =
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
          try rows.foreach(w.write)
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
}
