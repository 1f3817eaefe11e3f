package org.apache.spark

/** Minimal bridge into the `private[spark]` listener bus: graft.Measure
  * attributes per-query task, plan and streaming events to the query that
  * produced them, which requires draining the asynchronous event queue at
  * each window boundary — otherwise a straggler task-end event lands in
  * the NEXT query's window. Same extension-library pattern as
  * GraftSqlBridge. */
object GraftListenerBridge {
  def drainListenerEvents(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
