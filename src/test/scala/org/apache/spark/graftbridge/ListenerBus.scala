package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Test access to the context's listener bus, which Spark keeps
  * package-private: a listener that counts events must see every event
  * posted so far before a test reads its count. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
