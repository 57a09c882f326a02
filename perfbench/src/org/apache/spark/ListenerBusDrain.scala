package org.apache.spark

/** Waits until every event posted so far has reached the listeners, so the
  * counters read after an operation hold all of that operation's tasks.
  * (`LiveListenerBus` is package-private; this is the one accessor the
  * benchmark needs.)
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
