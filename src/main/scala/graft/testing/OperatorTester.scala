package graft.testing

import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.sql.{Encoder, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{StatefulExec, StatefulLogic}

/** One-call harness for unit-testing a user-defined [[StatefulLogic]] —
  * the Spark-native re-expression of the reference's operator test rig
  * (malstrom-core/src/testing/operator_tester.rs: `built_by` / `send_local`
  * / `step` / `recv_local`, with injected epochs and a fake snapshot
  * backend).
  *
  * The mapping onto Spark's execution model:
  *  - an EPOCH is a micro-batch: [[OperatorTester.step]] processes
  *    everything queued by [[OperatorTester.sendLocal]] as exactly one
  *    batch and returns what the operator emitted for it;
  *  - the FRONTIER is the event-time watermark: it advances to the max
  *    event time of each processed batch, and TTL expiry
  *    ([[StatefulLogic.onExpiry]], on the [[OperatorTester.tws]] tester
  *    with a `ttlMs`) fires once the frontier passes
  *    last-seen-event-time + ttl. A [[OperatorTester.step]] whose data
  *    advances the frontier DELIVERS the expiries it causes in its own
  *    return value (processAllAvailable runs the engine's follow-up
  *    no-data batch, where timers fire against the new frontier).
  *    Records at or below the current frontier are LATE and
  *    silently dropped, production-faithfully — which includes event
  *    time 0 against the INITIAL frontier (also 0): start test
  *    timelines strictly above zero;
  *  - the snapshot backend is the real one: state lives in the streaming
  *    state store exactly as in production, not in a test double — what
  *    the reference fakes with `NoPersistence`, Spark lets us run for
  *    real at test scale.
  *
  * Usage (see StreamingSpec's event-time TTL test, which runs on this):
  * {{{
  * val t = OperatorTester.tws(logic, key = _.k, eventTimeMs = _.ts,
  *                            ttlMs = Some(30 * 60000L))(spark)
  * t.sendLocal(Ev(1, min10), Ev(2, min10))
  * t.step()                      // epoch 1: both keys folded
  * t.stepWith(Ev(1, min60))      // epoch 2: frontier -> 60 min; returns
  *                               // key 2's expiry (deadline 40 min)
  * assert(t.outputs.contains(...))
  * t.close()
  * }}}
  */
final class OperatorTester[V, O] private[testing] (
    spark: SparkSession,
    eventTimeMs: V => Long,
    input: MemoryStream[(Timestamp, V)],
    query: StreamingQuery,
    sinkTable: String)(implicit oEnc: Encoder[O]) {

  private val pending = mutable.ArrayBuffer.empty[(Timestamp, V)]
  private val received = mutable.Queue.empty[O]
  private var seen = 0

  /** Queue values for the operator's local input (reference `send_local`).
    * Nothing executes until [[step]]. */
  def sendLocal(vs: V*): this.type = {
    pending ++= vs.map(v => (new Timestamp(eventTimeMs(v)), v))
    this
  }

  /** Process one epoch (micro-batch) over everything queued and return the
    * outputs it emitted (reference `step`). A step with an empty queue runs
    * no batch and returns nothing — Structured Streaming schedules batches
    * on data, so frontier-only progress needs a carrier record
    * ([[stepWith]]), exactly like a real stream. */
  def step(): Seq[O] = {
    if (pending.nonEmpty) {
      input.addData(pending.toSeq)
      pending.clear()
    }
    query.processAllAvailable()
    val all = spark.table(sinkTable).as[O](oEnc).collect()
    val fresh = all.drop(seen).toSeq
    seen = all.length
    received ++= fresh
    fresh
  }

  /** [[sendLocal]] + [[step]] in one call. */
  def stepWith(vs: V*): Seq[O] = sendLocal(vs: _*).step()

  /** Dequeue the next not-yet-consumed output (reference `recv_local`). */
  def recvLocal(): Option[O] =
    if (received.isEmpty) None else Some(received.dequeue())

  /** Every output emitted so far, across all epochs, in emission order. */
  def outputs: Seq[O] = spark.table(sinkTable).as[O](oEnc).collect().toSeq

  def close(): Unit = {
    query.stop()
    // The memory sink pins every row it ever received and registers a
    // temp view; a suite creating many testers would otherwise leak both.
    spark.catalog.dropTempView(sinkTable)
  }
}

object OperatorTester {
  private val ids = new AtomicInteger(0)

  /** The user logic lifted onto the (event-time, value) wire tuple the
    * tester streams internally — V stays fully generic because the
    * watermark column rides alongside it instead of inside it. */
  private def lift[K, V, S, O](logic: StatefulLogic[K, V, S, O])
      : StatefulLogic[K, (Timestamp, V), S, O] =
    new StatefulLogic[K, (Timestamp, V), S, O] {
      def zero: S = logic.zero
      def update(k: K, tv: (Timestamp, V), s: S): (S, IterableOnce[O]) =
        logic.update(k, tv._2, s)
      override def onExpiry(k: K, s: S): IterableOnce[O] = logic.onExpiry(k, s)
    }

  private def start[K, V, S, O](
      spark: SparkSession,
      eventTimeMs: V => Long,
      exec: org.apache.spark.sql.Dataset[(Timestamp, V)] =>
        org.apache.spark.sql.Dataset[O])(
      implicit vEnc: Encoder[V], oEnc: Encoder[O]): OperatorTester[V, O] = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    implicit val tvEnc: Encoder[(Timestamp, V)] =
      Encoders.tuple(Encoders.TIMESTAMP, vEnc)
    val stream = MemoryStream[(Timestamp, V)]
    val name = s"graft_optest_${ids.incrementAndGet()}"
    val out = exec(
      stream.toDF()
        .withWatermark("_1", "0 seconds")
        .as[(Timestamp, V)])
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    new OperatorTester[V, O](spark, eventTimeMs, stream, q, name)
  }

  /** Tester over [[StatefulExec.stream]] (flatMapGroupsWithState, no TTL):
    * per-key fold with outputs per epoch. */
  def apply[K: Encoder, V: Encoder, S: Encoder, O: Encoder](
      logic: StatefulLogic[K, V, S, O], key: V => K)(
      spark: SparkSession): OperatorTester[V, O] =
    start[K, V, S, O](spark, _ => 0L,
      ds => StatefulExec.stream[K, (Timestamp, V), S, O](
        ds, tv => key(tv._2), lift(logic)))

  /** Tester over [[StatefulExec.streamTws]] (transformWithState): same
    * contract on the state-v2 engine, and the TTL tester — with `ttlMs`,
    * a key expires once the frontier passes its last event time + ttl.
    * The RocksDB state-store provider is set only while the query starts
    * (the query keeps the conf it started with), so the session's own
    * setting is back before this returns. */
  def tws[K: Encoder, V: Encoder, S: Encoder, O: Encoder](
      logic: StatefulLogic[K, V, S, O], key: V => K,
      eventTimeMs: V => Long, ttlMs: Option[Long] = None)(
      spark: SparkSession): OperatorTester[V, O] =
    graft.SessionConf.withConf(spark, graft.SessionConf.RocksDbProvider) {
      start[K, V, S, O](spark, eventTimeMs,
        ds => StatefulExec.streamTws[K, (Timestamp, V), S, O](
          ds, tv => key(tv._2), lift(logic), ttlMs, Some(_._1.getTime)))
    }

  /** One-shot check of the BATCH execution path ([[StatefulExec.batch]]):
    * fold `inputs` per key in `orderBy` order and return all outputs. The
    * companion to the streaming testers for logic that runs in both modes. */
  def batch[K: Ordering, V: Encoder, S, O: Encoder](
      inputs: Seq[V], key: V => K, orderBy: Ordering[V],
      logic: StatefulLogic[K, V, S, O])(
      spark: SparkSession): Seq[O] =
    StatefulExec.batch[K, V, S, O](
      spark.createDataset(inputs), key, orderBy, logic).collect().toSeq
}
