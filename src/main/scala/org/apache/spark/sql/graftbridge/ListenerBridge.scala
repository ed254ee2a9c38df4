package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Bridge to the `private[spark]` listener bus. Listeners see task,
  * stage and job events asynchronously; a measurement that reads a
  * listener right after its action returns first waits here until
  * every event posted so far has been delivered. */
object ListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
