package org.apache.spark.sql.execution

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.{ShuffleDependency, SparkEnv, TaskContext,
  TaskContextImpl}
import org.apache.spark.memory.TaskMemoryManager
import org.apache.spark.rdd.{InputFileBlockHolder, RDD}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.util.Utils

/** Reads the first two (string) columns of a planned frame's rows (its
  * `queryExecution.toRdd`) to the driver in chunks of at most `maxRows`
  * rows.
  *
  * When the RDD's lineage holds no shuffle, its partitions are
  * computed one after another on the calling thread with no Spark job:
  * each under its own task context and task memory manager, as an
  * executor would run it, and the strings are copied out of each
  * (reused) row. Like an executor's task, each read is registered with
  * the block manager, so it can read broadcast blocks (a file source's
  * Hadoop conf is one). The context is set only while Spark code pulls
  * rows: while it is set, `SQLConf.get` reads the context's local
  * properties instead of the session conf, so the caller's handler
  * never runs under it. At the end of a partition the context is marked
  * failed (on an error) and completed, which runs the reader's
  * completion listeners, then its memory and block locks are freed and
  * the context unset.
  *
  * Any other lineage is read with `toLocalIterator`, one job per
  * partition. Either way the rows of an RDD of at most `maxRows` rows
  * reach the handler as one chunk. Spark's task context is private to
  * Spark, hence this package.
  */
object DriverRowReader {

  /** Task attempt ids of driver-side reads count up from Long.MinValue,
    * so they never share the scheduler's (non-negative) ids in the memory
    * manager's books, nor the block manager's non-task id (-1024).
    */
  private val nextAttemptId = new AtomicLong(Long.MinValue)

  /** `session` is the one that planned `rdd`: its conf is what the
    * driver-side reads carry, as a job's tasks would.
    */
  def foreachChunk(rdd: RDD[InternalRow], session: SparkSession, maxRows: Int)(
      handle: Array[(String, String)] => Unit): Unit = {
    require(maxRows > 0, s"maxRows must be positive, got $maxRows")
    if (hasShuffle(rdd))
      rdd.map(pair).toLocalIterator.grouped(maxRows)
        .foreach(chunk => handle(chunk.toArray))
    else {
      // what a job's tasks would carry: the thread's local properties
      // plus the session's conf (SQLExecution.withSQLConfPropagated)
      val props =
        Utils.cloneProperties(session.sparkContext.getLocalProperties)
      session.sessionState.conf.getAllConfs.foreach {
        case (k, v) if k.startsWith("spark") => props.setProperty(k, v)
        case _ => ()
      }
      val buf = new ArrayBuffer[(String, String)]()
      def emit(): Unit = { handle(buf.toArray); buf.clear() }
      val parts = rdd.partitions
      parts.foreach { split =>
        val attemptId = nextAttemptId.getAndIncrement()
        val ctx = new TaskContextImpl(0, 0, split.index, attemptId, 0,
          parts.length, new TaskMemoryManager(SparkEnv.get.memoryManager,
            attemptId), props, SparkEnv.get.metricsSystem)
        SparkEnv.get.blockManager.registerTask(attemptId)
        var error: Option[Throwable] = None
        try {
          val rows = inContext(ctx)(rdd.iterator(split, ctx))
          while (inContext(ctx)(fill(rows, buf, maxRows))) emit()
        } catch {
          case t: Throwable => error = Some(t); throw t
        } finally finish(ctx, error)
      }
      if (buf.nonEmpty) emit()
    }
  }

  /** Pulls rows into `buf` until it holds `maxRows`; true when it does. */
  private def fill(rows: Iterator[InternalRow],
      buf: ArrayBuffer[(String, String)], maxRows: Int): Boolean = {
    while (buf.length < maxRows && rows.hasNext) buf += pair(rows.next())
    buf.length == maxRows
  }

  private def pair(r: InternalRow): (String, String) = {
    def str(i: Int) = if (r.isNullAt(i)) null else r.getUTF8String(i).toString
    (str(0), str(1))
  }

  /** Marks `ctx` failed on `error`, then completed, and frees its memory
    * and block locks. A listener's failure is suppressed into `error`
    * when there is one, so the caller sees the original exception.
    */
  private def finish(ctx: TaskContextImpl, error: Option[Throwable]): Unit =
    try inContext(ctx) {
      error.foreach(ctx.markTaskFailed)
      ctx.markTaskCompleted(error)
    } catch {
      case NonFatal(e) if error.isDefined => error.get.addSuppressed(e)
    } finally {
      ctx.taskMemoryManager.cleanUpAllAllocatedMemory()
      SparkEnv.get.blockManager.releaseAllLocksForTask(ctx.taskAttemptId)
      ()
    }

  /** The one place a task context is set on the calling thread. */
  private def inContext[T](ctx: TaskContext)(body: => T): T = {
    TaskContext.setTaskContext(ctx)
    try body
    finally {
      TaskContext.unset()
      InputFileBlockHolder.unset()
    }
  }

  private def hasShuffle(rdd: RDD[_]): Boolean = {
    val seen = mutable.Set[Int]()
    def walk(r: RDD[_]): Boolean = seen.add(r.id) && r.dependencies.exists {
      case _: ShuffleDependency[_, _, _] => true
      case d => walk(d.rdd)
    }
    walk(rdd)
  }
}
