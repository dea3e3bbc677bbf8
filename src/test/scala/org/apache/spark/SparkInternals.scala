package org.apache.spark

/** Test access to the `private[spark]` active-context slot of SparkContext. */
object SparkInternals {
  def activeContext: Option[SparkContext] = SparkContext.getActive

  /** Run `body` as if no context were active, then restore the slot. */
  def withNoActiveContext[A](body: => A): A = {
    val prev = SparkContext.getActive
    SparkContext.clearActiveContext()
    try body
    finally {
      SparkContext.getActive.filterNot(prev.contains).foreach(_.stop())
      prev.foreach(SparkContext.setActiveContext)
    }
  }
}
