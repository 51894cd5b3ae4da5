package org.apache.spark

/** The one `private[spark]` hook the harness needs: wait until the async
  * listener bus has delivered every queued event, so each operation's
  * job, stage and task events are attributed before the next one starts.
  */
object BenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
