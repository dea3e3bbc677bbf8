package graft

import org.apache.spark.sql.SparkSession

/** Session-conf overrides scoped to a block: the one place a setting is
  * saved, set and put back. */
private[graft] object SessionConf {

  /** The state-store provider transformWithState requires. */
  val RocksDbProvider: (String, String) =
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Run `body` with each `k -> v` set on the session, restoring every key
    * in `finally`: a key that was set gets its value back, a key that was
    * not is unset again, so a flag cannot leak into later queries. "Set"
    * means set on the session: `getOption` would also report a registered
    * key's default, and restoring that would pin the default explicitly.
    * A streaming query clones the session conf inside `start()`, so a
    * block that ends at `start()` fixes the setting for that query's
    * whole life. */
  def withConf[A](spark: SparkSession, kvs: (String, String)*)(body: => A): A = {
    val set = spark.conf.getAll
    val prev = kvs.map { case (k, _) => k -> set.get(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.reverse.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
