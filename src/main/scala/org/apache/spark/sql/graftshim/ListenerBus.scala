package org.apache.spark.sql.graftshim

import org.apache.spark.SparkContext

/** The `private[spark]` doorway a listener reader needs: SparkListener
  * events are delivered on an asynchronous bus, so counters read right
  * after an action returns can miss its trailing job/stage events (or
  * see them bleed into the next action). Draining the bus first makes
  * the read complete. */
object ListenerBus {

  /** Block until every event posted so far has been delivered to every
    * listener (throws `TimeoutException` past the bus's default wait). */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
