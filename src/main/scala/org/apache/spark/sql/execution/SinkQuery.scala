package org.apache.spark.sql.execution

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

/** Starts a streaming query that writes a frame to a v1 [[Sink]], with
  * what `DataStreamWriter` passes for `foreachBatch`: the query name,
  * Append mode, a `ProcessingTime(0)` trigger, a temporary checkpoint
  * when none is configured, and recovery from
  * `spark.sql.streaming.checkpointLocation` when one is. The sink's
  * `addBatch` gets the batch Spark planned for the trigger, so its
  * `queryExecution.toRdd` is read with no further planning.
  * `StreamingQueryManager.startQuery` is private to Spark, hence this
  * package.
  */
object SinkQuery {

  def start(frame: DataFrame, queryName: String, sink: Sink): StreamingQuery = {
    require(frame.isStreaming, s"query $queryName needs a streaming frame")
    val ds = castToImpl(frame)
    ds.sparkSession.sessionState.streamingQueryManager.startQuery(
      Some(queryName), None, ds, Map("queryName" -> queryName), sink,
      OutputMode.Append(), useTempCheckpointLocation = true,
      recoverFromCheckpointLocation = true,
      trigger = Trigger.ProcessingTime(0L))
  }
}
