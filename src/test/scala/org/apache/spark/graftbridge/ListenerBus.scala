/** Test bridge to `SparkContext.listenerBus` (`private[spark]`): a test
  * that counts jobs with its own `SparkListener` drains the bus before it
  * reads the counts.
  */
package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
