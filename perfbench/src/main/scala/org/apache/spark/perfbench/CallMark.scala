package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListenerBlockUpdated, SparkListenerEvent}
import org.apache.spark.storage.{BlockManagerId, BlockUpdatedInfo, RDDBlockId, StorageLevel}

/** Marks the start of a top-level engine call. It travels on the
  * listener bus, so listeners see it after every event the previous
  * call posted and before any the new call posts. `resetPeak` starts a
  * new measurement. */
final case class CallMark(resetPeak: Boolean) extends SparkListenerEvent {
  override protected[spark] def logEvent: Boolean = false
}

object CallMark {
  /** Posts a mark; the listener bus is private to Spark. */
  def post(sc: SparkContext, resetPeak: Boolean = false): Unit =
    sc.listenerBus.post(CallMark(resetPeak))
}

/** Events for the benchmark's own test of the cache meter; their
  * constructors are private to Spark. */
object TestEvents {
  def blockUpdate(rdd: Int, part: Int, memBytes: Long): SparkListenerBlockUpdated =
    SparkListenerBlockUpdated(BlockUpdatedInfo(BlockManagerId("driver", "localhost", 1),
      RDDBlockId(rdd, part),
      if (memBytes > 0) StorageLevel.MEMORY_AND_DISK else StorageLevel.NONE,
      memBytes, 0L))
}
