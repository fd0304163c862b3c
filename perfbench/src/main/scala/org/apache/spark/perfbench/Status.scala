package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.status.api.v1.StageStatus

/** Reads Spark's own always-on status listener, so an untraced run can
  * report task CPU without registering a listener of its own.
  */
object Status {
  /** Blocks until every posted listener event has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  private def completed(sc: SparkContext) = {
    drain(sc)
    sc.statusStore.stageList(java.util.Arrays.asList(StageStatus.COMPLETE))
  }

  /** The highest id among completed stages, -1 before the first. */
  def lastStage(sc: SparkContext): Int = (completed(sc).map(_.stageId) :+ -1).max

  /** Summed executor CPU ns of the completed stages after `afterStage`. */
  def cpuNsAfter(sc: SparkContext, afterStage: Int): Long =
    completed(sc).filter(_.stageId > afterStage).map(_.executorCpuTime).sum
}
