package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.StreamingQuery

/** Reaches two things Spark keeps package-private. */
object PerfbenchShim {
  /** Wait until the listener bus is empty: the traced run drains it after
    * each op so every job, stage, task and query-execution event lands on
    * the op that caused it. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The session a streaming query runs its batches in. */
  def streamSession(q: StreamingQuery): SparkSession =
    q.asInstanceOf[StreamingQueryWrapper].streamingQuery.sparkSessionForStream
}
