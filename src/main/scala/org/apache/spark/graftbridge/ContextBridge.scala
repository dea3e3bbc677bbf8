package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Bridge to `SparkContext.getActive` (`private[spark]`): a session
  * extension runs after its context is built but before its session
  * exists, and must read that context without ever creating one. */
object ContextBridge {
  def active: Option[SparkContext] = SparkContext.getActive
}
