package org.apache.spark.sql.graftbridge

import org.apache.spark.{MapOutputTrackerMaster, SparkContext}

/** Spec access to the driver's map-output tracker (`private[spark]`). */
object ShuffleProbe {
  private def tracker(sc: SparkContext): MapOutputTrackerMaster =
    sc.env.mapOutputTracker.asInstanceOf[MapOutputTrackerMaster]

  /** Whether shuffle `id` is still registered with the tracker. */
  def registered(sc: SparkContext, id: Int): Boolean =
    tracker(sc).containsShuffle(id)

  /** Map outputs of shuffle `id` the tracker holds. */
  def availableOutputs(sc: SparkContext, id: Int): Int =
    tracker(sc).getNumAvailableOutputs(id)

  /** Forget every map output of shuffle `id`, as the loss of the
    * executors that wrote them would. */
  def loseOutputs(sc: SparkContext, id: Int): Unit =
    tracker(sc).unregisterAllMapAndMergeOutput(id)
}
