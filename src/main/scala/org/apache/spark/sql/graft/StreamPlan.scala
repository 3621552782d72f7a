package org.apache.spark.sql.graft

import org.apache.spark.sql.execution.streaming.runtime.{StreamExecution, StreamingQueryWrapper}
import org.apache.spark.sql.streaming.StreamingQuery

/** Accessor for a streaming query's last micro-batch EXECUTED plan.
  *
  * The DataFrame handed to a foreachBatch sink is backed by the
  * already-computed micro-batch output (`Scan ExistingRDD` — Spark
  * re-wraps the incremental execution's result RDD), so join shapes
  * inside the micro-batch are invisible from the sink side. The real
  * plan lives on `StreamExecution.lastExecution` (an
  * IncrementalExecution), which is `private[sql]` territory — hence
  * this one-method accessor under the sql package, mirroring
  * org.apache.spark.graft.JobMeter.drain. Used by the broadcast-fallback
  * gates (BroadcastFallbackSpec / PlanAudit) to assert q192's
  * stream-static band join degrades to a keyed SortMergeJoin.
  */
object StreamPlan {
  def lastExecutedPlan(q: StreamingQuery): String = {
    val se: StreamExecution = q match {
      case w: StreamingQueryWrapper => w.streamingQuery
      case s: StreamExecution       => s
      case other =>
        throw new IllegalArgumentException(
          s"not a StreamExecution-backed query: ${other.getClass}")
    }
    Option(se.lastExecution).map(_.executedPlan.toString).getOrElse("")
  }
}
