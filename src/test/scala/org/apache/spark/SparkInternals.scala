package org.apache.spark

/** Test access to two `private[spark]` corners of Spark. */
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

  /** Build the executor's process-tree metrics reader, which runs
    * `getconf PAGESIZE` once per JVM on the first heartbeat. */
  def initProcfsMetrics(): Unit = require(executor.ProcfsMetricsGetter.pTreeInfo != null)
}
