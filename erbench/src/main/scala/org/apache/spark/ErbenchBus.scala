// Listener events are delivered asynchronously; the traced run reads its
// span listener only after the bus has delivered every event posted so
// far. `listenerBus` is private[spark], hence this package.
package org.apache.spark

object ErbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
