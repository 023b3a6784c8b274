package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Bridge into the `private[spark]` listener bus: SparkListener events
  * are delivered asynchronously, so a metric aggregated in
  * `onTaskEnd` and read immediately after a job returns can miss late
  * events (ADVICE r11 — the single-task-stage detector could
  * underreport, even to 0, the exact regression it exists to catch).
  * `waitUntilEmpty` blocks until every queued event has been
  * dispatched, making a read-after-job deterministic. */
object ListenerDrain {
  def waitUntilEmpty(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** The shuffle a shuffle-map stage writes (`private[spark]` too). */
  def shuffleDepId(s: org.apache.spark.scheduler.StageInfo): Option[Int] =
    s.shuffleDepId
}
