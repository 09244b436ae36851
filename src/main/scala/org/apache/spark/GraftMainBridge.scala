package org.apache.spark

/** Escape hatch into `private[spark]` scheduler internals for
  * graft.tools.Inspect and the job-count specs: deterministic
  * listener-bus draining. `SparkContext.listenerBus` is package-private,
  * so the accessor has to live in this package.
  */
object GraftMainBridge {
  /** Block until every queued listener event has been delivered (or
    * `timeoutMs` elapses), so a job count never depends on a sleep.
    */
  def waitListenerBusEmpty(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
