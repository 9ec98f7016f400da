package org.apache.spark

/** The two package-private Spark calls the benchmark needs. */
object SparkInternals {
  /** Blocks until the listener bus has delivered every posted event: the
    * traced run reads its job, task and streaming counts only after this. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Deletes every shuffle's files now, blocking, instead of whenever the
    * context cleaner next sees its dependency collected. */
  def dropShuffles(sc: SparkContext): Unit = {
    val tracker = sc.env.mapOutputTracker.asInstanceOf[MapOutputTrackerMaster]
    sc.cleaner.foreach(c =>
      tracker.shuffleStatuses.keys.toSeq.foreach(c.doCleanupShuffle(_, blocking = true)))
  }
}
