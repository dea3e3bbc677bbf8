package graft.operators

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** User-defined per-key stateful logic — the Spark-native re-expression of
  * malstrom's `StatefulLogic` (reference: malstrom-core/src/operators/
  * stateful_op.rs; examples/custom_stateful_operator.rs).
  *
  * One trait serves both execution modes:
  *  - batch: [[StatefulExec.batch]] folds each key's rows in a caller-given
  *    order inside `flatMapGroups` (state lives in executors, never the
  *    driver; one shuffle on the key).
  *  - streaming: [[StatefulExec.stream]] runs it under
  *    `flatMapGroupsWithState`, and [[StatefulExec.streamTws]] under
  *    `transformWithState`, with state checkpointed by Structured
  *    Streaming (the snapshot/ backend analogue, snapshot/slatedb.rs).
  *    Only `streamTws` expires state.
  */
trait StatefulLogic[K, V, S, O] extends Serializable {
  /** Initial state for a fresh key. */
  def zero: S
  /** Fold one value; return (new state, outputs to emit). */
  def update(key: K, value: V, state: S): (S, IterableOnce[O])
  /** Emitted when a key's state expires: only [[StatefulExec.streamTws]]
    * with a `ttlMs` calls it. */
  def onExpiry(key: K, state: S): IterableOnce[O] = Iterator.empty
}

object StatefulExec {

  /** Batch execution via SECONDARY SORT: repartition by key hash, let the
    * shuffle machinery sort each partition by (key, orderBy) — spillable,
    * never in-heap — then stream a single fold over the sorted run,
    * resetting state at key boundaries.
    * `orderBy` gives the deterministic intra-key order (malstrom processes
    * messages in arrival order; batch needs an explicit one).
    *
    * Holds exactly ONE (key, state) pair in memory per task regardless of
    * key skew: a key owning half the corpus streams through the fold
    * instead of materializing as a Vector (the 100 TB hot-key case —
    * proven by the StatefulSpec hot-key test). This is the one operator
    * that drops to the RDD layer: per-partition imperative state over a
    * shuffle-time sort is exactly what Catalyst can't express.
    *
    * Contract on K's Ordering: keys that compare equal form ONE group
    * (boundaries are detected with `compare != 0`, consistent with the
    * sort); such keys must also share a `hashCode` so the partitioner
    * co-locates them. The default case-class Ordering/hashCode pair
    * satisfies both. */
  def batch[K: Ordering, V, S, O: Encoder](
      ds: Dataset[V],
      key: V => K,
      orderBy: Ordering[V],
      logic: StatefulLogic[K, V, S, O]): Dataset[O] = {
    val spark = ds.sparkSession
    val numParts = math.max(spark.sparkContext.defaultParallelism, 1)
    val partitioner = new org.apache.spark.Partitioner {
      override def numPartitions: Int = numParts
      override def getPartition(k: Any): Int =
        java.lang.Math.floorMod(k.asInstanceOf[(K, V)]._1.hashCode, numParts)
    }
    implicit val kvOrd: Ordering[(K, V)] =
      Ordering.Tuple2(implicitly[Ordering[K]], orderBy)
    // mapPartitions needs a ClassTag for O; the erased runtime class is all
    // Spark uses, so AnyRef is exact for every product/ref output type.
    implicit val oTag: scala.reflect.ClassTag[O] =
      scala.reflect.ClassTag.AnyRef.asInstanceOf[scala.reflect.ClassTag[O]]
    val folded = ds.rdd
      .map(v => ((key(v), v), ()))
      .repartitionAndSortWithinPartitions(partitioner)
      .mapPartitions { it =>
        val ord = implicitly[Ordering[K]]
        var cur: Option[K] = None
        var state: S = logic.zero
        it.flatMap { case ((k, v), _) =>
          // Key boundaries are detected with the SAME Ordering the sort
          // used (compare != 0), not equals: an Ordering over a subset of
          // the key's fields would interleave compare-equal keys in the
          // sorted run, and an equals-based check would reset state on
          // every alternation.
          if (cur.isEmpty || ord.compare(cur.get, k) != 0) {
            cur = Some(k); state = logic.zero
          }
          val (s2, out) = logic.update(k, v, state)
          state = s2
          out.iterator
        }
      }
    spark.createDataset(folded)
  }

  /** Streaming execution under flatMapGroupsWithState, with no expiry:
    * state lives until the query's checkpoint is dropped. A key whose
    * state must EXPIRE runs on [[streamTws]], the one engine with
    * event-time TTL.
    *
    * `initialState` seeds fresh keys' state instead of [[StatefulLogic.zero]]
    * — the landing half of an offline state RESCALE
    * ([[graft.streaming.StateRescale]]): state read from a stopped
    * checkpoint re-enters here under a new shuffle-partition count, which
    * is Spark's form of the reference's key-range migration
    * (keyed/distributed/message_router/normal.rs). */
  def stream[K: Encoder, V, S: Encoder, O: Encoder](
      ds: Dataset[V],
      key: V => K,
      logic: StatefulLogic[K, V, S, O],
      initialState: Option[org.apache.spark.sql.KeyValueGroupedDataset[K, S]] = None)
      : Dataset[O] = {
    val fn = (k: K, values: Iterator[V], gs: GroupState[S]) => {
      var state = gs.getOption.getOrElse(logic.zero)
      val out = values.flatMap { v =>
        val (s2, o) = logic.update(k, v, state)
        state = s2
        o.iterator
      }.toVector
      gs.update(state)
      out.iterator
    }
    val grouped = ds.groupByKey(key)
    initialState match {
      case Some(init) =>
        grouped.flatMapGroupsWithState[S, O](OutputMode.Append, GroupStateTimeout.NoTimeout, init)(fn)
      case None =>
        grouped.flatMapGroupsWithState[S, O](OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
    }
  }

  /** Streaming execution on Spark 4's transformWithState (state v2) — the
    * modern engine for the same [[StatefulLogic]] contract, and the only
    * one that expires keyed state. Differences from [[stream]] that
    * matter at scale:
    *  - state lives in named `ValueState` slots in the RocksDB state store
    *    (changelog-checkpointable — the snapshot/slatedb.rs analogue with
    *    an LSM backend, not a memory map);
    *  - with `ttlMs`, expiry is an event-time TIMER per key, re-armed on
    *    every update to max(last-seen event time, watermark) + ttl, so
    *    `onExpiry` fires when the watermark — the epoch frontier
    *    analogue, ttl_map.rs:21-23 — passes the deadline, never the wall
    *    clock.
    * Requires `spark.sql.streaming.stateStore.providerClass` =
    * RocksDBStateStoreProvider (`graft.SessionConf.RocksDbProvider`), so a
    * TTL needs that provider too, and, when `ttlMs` is set, a watermark
    * on `ds` (timers need TimeMode.EventTime). `ttlMs` must be positive. */
  def streamTws[K: Encoder, V, S: Encoder, O: Encoder](
      ds: Dataset[V],
      key: V => K,
      logic: StatefulLogic[K, V, S, O],
      ttlMs: Option[Long] = None,
      eventTimeMs: Option[V => Long] = None,
      initialState: Option[org.apache.spark.sql.KeyValueGroupedDataset[K, S]] = None,
      initialStateTimeMs: Option[Long] = None)
      : Dataset[O] = {
    // A non-positive TTL arms a deadline at or behind the key's last
    // activity, so the key would expire as soon as the frontier reaches
    // its own events — fail fast here.
    ttlMs.foreach(t => require(t > 0, s"streamTws needs ttlMs > 0, got $t"))
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, StatefulProcessorWithInitialState, TTLConfig, TimeMode, TimerValues, ValueState}
    val stateEnc = implicitly[Encoder[S]]
    // WithInitialState extends the plain processor contract, so ONE class
    // serves both paths; handleInitialState is the state-v2 landing hook
    // of the offline rescale (graft.streaming.StateRescale) — seeded keys
    // start from migrated state instead of logic.zero.
    val processor = new StatefulProcessorWithInitialState[K, V, O, S] {
      @transient private var state: ValueState[S] = _
      @transient private var maxTsState: ValueState[Long] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
        state = getHandle.getValueState[S]("graft_state", stateEnc, TTLConfig.NONE)
        maxTsState = getHandle.getValueState[Long](
          "graft_max_ts", Encoders.scalaLong, TTLConfig.NONE)
      }
      override def handleInputRows(k: K, rows: Iterator[V], tv: TimerValues): Iterator[O] = {
        var s = if (state.exists()) state.get() else logic.zero
        // The per-key max event time PERSISTS in state: seeded from this
        // batch alone, one late-but-valid record would re-arm the deadline
        // BACKWARD (e.g. last activity 10:00, ttl 1h, then a 9:05 record →
        // timer 10:10 instead of 11:00) and expire state ~50 min early —
        // the doc contract is last-SEEN-event-time + ttl, monotone.
        var maxTs = if (maxTsState.exists()) maxTsState.get() else Long.MinValue
        val out = Vector.newBuilder[O]
        rows.foreach { v =>
          eventTimeMs.foreach(f => maxTs = math.max(maxTs, f(v)))
          val (s2, os) = logic.update(k, v, s)
          s = s2
          out ++= os
        }
        state.update(s)
        ttlMs.foreach { t =>
          // The activity clock is only read on the TTL path — maintaining
          // it for a no-TTL query would be a RocksDB write + changelog
          // entry per key per batch with no reader.
          maxTsState.update(maxTs)
          // one live deadline per key, re-armed to last-seen-event-time +
          // ttl (ttl_map.rs semantics: expiry when the frontier passes the
          // last activity). Floor at the current watermark so a key fed
          // only late data still arms ahead of the frontier.
          getHandle.listTimers().foreach(ts => getHandle.deleteTimer(ts.asInstanceOf[Long]))
          val base = math.max(maxTs, tv.getCurrentWatermarkInMs())
          getHandle.registerTimer(base + t)
        }
        out.result().iterator
      }
      override def handleExpiredTimer(k: K, tv: TimerValues, info: ExpiredTimerInfo): Iterator[O] =
        if (state.exists()) {
          val s = state.get()
          state.clear()
          maxTsState.clear() // a reborn key starts a fresh activity clock
          logic.onExpiry(k, s).iterator
        } else Iterator.empty
      override def handleInitialState(k: K, s: S, tv: TimerValues): Unit = {
        state.update(s)
        // The migrated state's activity clock is unknown (fMGWS state or
        // a bare (key, state) seed carries no max-ts). The seeding batch's
        // own watermark is USELESS as a stand-in — on a fresh checkpoint
        // it is 0, so arming wm+ttl would set every seeded key's deadline
        // to epoch-1970+ttl and the first real watermark advance would
        // expire the whole migrated corpus at once (an onExpiry storm +
        // total state loss). Only the CALLER knows the migration-point
        // clock: `initialStateTimeMs` (for a checkpoint migration, the
        // old checkpoint's StateRescale.lastWatermarkMs). With it, seeded
        // keys expire one TTL after that point; without it they arm on
        // their first post-migration event and a seeded-then-idle key
        // persists (the documented fMGWS-parity fallback).
        ttlMs.foreach { t =>
          initialStateTimeMs.foreach { seedMs =>
            maxTsState.update(seedMs)
            getHandle.registerTimer(seedMs + t)
          }
        }
      }
    }
    val mode = if (ttlMs.isDefined) TimeMode.EventTime() else TimeMode.None()
    val grouped = ds.groupByKey(key)
    initialState match {
      case Some(init) =>
        grouped.transformWithState(processor, mode, OutputMode.Append(), init)
      case None =>
        grouped.transformWithState(processor, mode, OutputMode.Append())
    }
  }
}
