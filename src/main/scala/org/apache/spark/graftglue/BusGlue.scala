package org.apache.spark.graftglue

import org.apache.spark.SparkContext

/** Bridge to `private[spark]` listener-bus internals, same pattern as
  * `ColumnGlue`: lives in the org.apache.spark package tree solely to
  * satisfy the access qualifier; nothing in Spark is modified.
  *
  * Why: a listener's counters are complete only once the async bus has
  * delivered the tail of the events it queued. `waitUntilEmpty` is exact
  * where a fixed sleep is not: it returns when every queued event has
  * been dispatched to every listener. Used by the benchmark's tracer
  * (perfbench `Tracer.detach`) and by `PoKernelSpec`'s job counts. */
object BusGlue {
  /** Block until the shared LiveListenerBus queue is fully dispatched,
    * or `timeoutMs` elapses (throws on timeout, like the internal API). */
  def waitUntilEmpty(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
