package graft.api

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.expressions.{Window, WindowSpec}

import graft.time.EventTime

/** Fluent dataflow builder — the Spark-native analogue of malstrom's
  * `StreamBuilder` chain (reference: malstrom-core/src/stream/mod.rs).
  *
  * Design: every transform stays a declarative Catalyst `Column` operation on
  * the wrapped [[DataFrame]], so predicate pushdown, column pruning,
  * whole-stage codegen and AQE all apply for free. Nothing here collects to
  * the driver; `GraftStream` is a thin, immutable plan-builder.
  *
  * Operator mapping (reference file → method):
  *   - operators/map.rs        → [[map]] / [[mapColumn]]
  *   - operators/filter.rs     → [[filter]]
  *   - operators/filter_map.rs → [[filterMap]]
  *   - operators/flatten.rs    → [[flatten]]
  *   - operators/inspect.rs    → [[inspect]] (side-channel via `Dataset.observe`)
  *   - operators/cloned.rs     → [[cloned]] (plan reuse; `.cache()` at scale)
  *   - operators/split.rs      → [[split]] (two filtered branches off one scan)
  *   - stream union            → [[union]]
  *   - keyed/key_local.rs      → [[keyLocal]] (no shuffle)
  *   - keyed/key_distribute.rs → [[keyDistribute]] (one hash repartition,
  *                               reused by every downstream keyed op)
  *   - operators/time/assign_timestamps.rs → [[assignTimestamps]]
  */
final class GraftStream private (val toDF: DataFrame) {

  /** Stateless 1:1 transform — projection (operators/map.rs). */
  def map(cols: Column*): GraftStream = GraftStream(toDF.select(cols: _*))

  /** Add/replace a single derived column (map over one field). */
  def mapColumn(name: String, col: Column): GraftStream =
    GraftStream(toDF.withColumn(name, col))

  /** Keep rows matching `pred` (operators/filter.rs). Declarative so the
    * predicate reaches the parquet scan (`PushedFilters`). */
  def filter(pred: Column): GraftStream = GraftStream(toDF.filter(pred))

  /** filter + map fused into one stage (operators/filter_map.rs). */
  def filterMap(pred: Column, cols: Column*): GraftStream =
    GraftStream(toDF.filter(pred).select(cols: _*))

  /** Explode an array column into one row per element
    * (operators/flatten.rs). `keep` columns are carried along. */
  def flatten(arr: Column, outName: String, keep: Column*): GraftStream =
    GraftStream(toDF.select(keep :+ F.explode(arr).as(outName): _*))

  /** Pass-through observation side-channel (operators/inspect.rs).
    * Metrics are collected via `Dataset.observe` — zero impact on the plan,
    * read back from the driver's QueryExecutionListener / observedMetrics. */
  def inspect(name: String, metrics: Column*): GraftStream =
    GraftStream(toDF.observe(name, metrics.head, metrics.tail: _*))

  /** Like [[inspect]], but returns the [[Observation]] handle: after the
    * first action on the stream, `observation.get` yields the metric map
    * (blocking) without a second pass over the data. */
  def inspectWith(name: String, metrics: Column*): (GraftStream, Observation) = {
    val obs = Observation(name)
    (GraftStream(toDF.observe(obs, metrics.head, metrics.tail: _*)), obs)
  }

  /** Fan-out: two logical consumers of one upstream (operators/cloned.rs).
    * Spark reuses the scan via plan-level CSE; call [[materialize]] first
    * when the upstream is expensive and both branches are wide. */
  def cloned: (GraftStream, GraftStream) = (this, GraftStream(toDF))

  /** Cache the current plan — the scale knob for [[cloned]] fan-outs. */
  def materialize(): GraftStream = GraftStream(toDF.cache())

  /** Route rows into (matching, non-matching) branches off one scan
    * (operators/split.rs). Null predicate results go right. */
  def split(pred: Column): (GraftStream, GraftStream) =
    (GraftStream(toDF.filter(pred)), GraftStream(toDF.filter(!F.coalesce(pred, F.lit(false)))))

  /** Merge two streams by column name (stream builder union). */
  def union(other: GraftStream): GraftStream =
    GraftStream(toDF.unionByName(other.toDF))

  /** Key the stream WITHOUT redistribution (keyed/key_local.rs): downstream
    * aggregations rely on Spark's map-side partial aggregation instead of an
    * upfront shuffle. */
  def keyLocal(keys: Column*): KeyedGraftStream =
    new KeyedGraftStream(toDF, keys, preShuffled = false)

  /** Key the stream WITH hash redistribution (keyed/key_distribute.rs:15).
    * One `repartition(hash(keys))` whose partitioning is reused by every
    * downstream keyed op — the malstrom "exchange once" contract. */
  def keyDistribute(keys: Column*): KeyedGraftStream =
    new KeyedGraftStream(toDF.repartition(keys: _*), keys, preShuffled = true)

  def keyDistribute(numPartitions: Int, keys: Column*): KeyedGraftStream =
    new KeyedGraftStream(toDF.repartition(numPartitions, keys: _*), keys, preShuffled = true)

  /** Assign the event-time column (operators/time/assign_timestamps.rs:17). */
  def assignTimestamps(ts: Column): GraftStream =
    GraftStream(EventTime.assignTimestamps(toDF, ts))

  /** Bounded out-of-orderness watermark (time/generate_epochs.rs:134).
    * On a streaming DataFrame this is a real watermark; on batch it is a
    * no-op marker (batch sees all data, i.e. a complete epoch). */
  def limitOutOfOrderness(tsCol: String, delay: String): GraftStream =
    GraftStream(EventTime.generateEpochs(toDF, tsCol, delay))

  def where(pred: Column): GraftStream = filter(pred)

  /** Terminate the stream into a sink (operators/sink.rs). */
  def sinkTo(sink: graft.sinks.GraftSink): Unit = sink.write(toDF)
}

object GraftStream {
  def apply(df: DataFrame): GraftStream = new GraftStream(df)

  def fromTable(spark: SparkSession, dir: String, name: String): GraftStream =
    apply(graft.Tables(spark, dir, name))
}

/** Keyed stream — the post-`keyBy` surface where stateful ops live
  * (reference: malstrom-core/src/keyed/mod.rs). Batch-mode stateful
  * operators are expressed as window functions / aggregations over the key
  * (Catalyst optimizes these into a single shuffle on `keys`, which the
  * builder already performed when `preShuffled`); streaming equivalents live
  * in [[graft.streaming.StreamingOps]].
  */
final class KeyedGraftStream private[api] (
    val toDF: DataFrame,
    val keys: Seq[Column],
    val preShuffled: Boolean) {

  private def w = Window.partitionBy(keys: _*)

  /** Per-key aggregation. */
  def agg(first: Column, rest: Column*): GraftStream =
    GraftStream(toDF.groupBy(keys: _*).agg(first, rest: _*))

  /** Skew-resistant two-stage aggregation: rows are spread over
    * `buckets` salt values first, partially aggregated per (key, salt),
    * then combined per key — a single hot key fans out across `buckets`
    * reducers instead of melting one. Only valid for associative
    * aggregates (each [[SaltedAgg]] carries its combine step); results are
    * identical to [[agg]] by associativity. */
  def aggSalted(buckets: Int, aggs: SaltedAgg*): GraftStream = {
    // Salt must be a DETERMINISTIC function of row content:
    // monotonically_increasing_id depends on partition layout, so a
    // shuffle-retry recompute could re-salt rows into different
    // (key, salt) groups while other reducers keep already-fetched data
    // — the SPARK-23207 silent-wrong-aggregate class. Hashing every
    // hashable column re-salts identically on recompute; rows identical
    // in every column share a bucket (harmless unless the hot key is
    // made of literal duplicate rows).
    val hashable = toDF.schema.fields
      .filterNot(f => hasMapType(f.dataType)).map(f => F.col(f.name))
    val salt = (if (hashable.isEmpty) F.lit(0L)
                else F.pmod(F.xxhash64(hashable: _*), F.lit(buckets.toLong))).as("__salt")
    // Key expressions are materialized under stable aliases FIRST: the
    // combine-stage groupBy below re-resolves against the PARTIAL output,
    // where a computed key ("a + 1") no longer exposes "a" and would fail
    // analysis (the same reason join() aliases its key columns).
    val keyNames = keys.indices.map(i => s"__gk$i")
    val origNames = toDF.select(keys: _*).columns.toSeq
    val keyed = toDF.select(
      F.col("*") +: keys.zip(keyNames).map { case (k, n) => k.as(n) }: _*)
    val partial = keyed
      .groupBy(keyNames.map(F.col) :+ (salt: Column): _*)
      .agg(aggs.head.partial.as(aggs.head.name), aggs.tail.map(a => a.partial.as(a.name)): _*)
    val combined = partial
      .groupBy(keyNames.map(F.col): _*)
      .agg(
        aggs.head.combine(F.col(aggs.head.name)).as(aggs.head.name),
        aggs.tail.map(a => a.combine(F.col(a.name)).as(a.name)): _*)
      // Surface the caller's key names, not the internal aliases.
      .select(keyNames.zip(origNames).map { case (kn, on) => F.col(kn).as(on) } ++
        aggs.map(a => F.col(a.name)): _*)
    GraftStream(combined)
  }

  private def hasMapType(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case _: org.apache.spark.sql.types.MapType => true
    case s: org.apache.spark.sql.types.StructType => s.fields.exists(f => hasMapType(f.dataType))
    case a: org.apache.spark.sql.types.ArrayType => hasMapType(a.elementType)
    case _ => false
  }

  /** Running (prefix) stateful transform — batch analogue of
    * operators/stateful_map.rs:12: for each key, fold rows in `order` and
    * emit one output per input. Each entry receives the per-key running
    * frame (`rows unbounded preceding → current`) and builds its windowed
    * state column from it. */
  def statefulProject(order: Seq[Column], cols: (String, WindowSpec => Column)*): GraftStream = {
    val frame = w.orderBy(order: _*).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    GraftStream(cols.foldLeft(toDF) { case (df, (name, mk)) => df.withColumn(name, mk(frame)) })
  }

  /** Max observed event time per key — operators/time/inspect_frontier.rs. */
  def frontier(tsCol: Column): GraftStream =
    GraftStream(EventTime.frontier(toDF, tsCol, keys))

  /** Rows older than `bound` behind their key's frontier — the batch
    * equivalent of the late-data side output of time/generate_epochs.rs. */
  def lateData(tsCol: Column, bound: String): GraftStream =
    GraftStream(EventTime.lateData(toDF, tsCol, keys, bound))

  /** TTL sessionization — batch analogue of operators/ttl_map.rs:16: state
    * for a key expires after `gap` of event-time inactivity; each expiry
    * starts a new session. Adds `session_id` (0-based per key). */
  def sessionize(tsCol: Column, order: Seq[Column], gap: String): GraftStream = {
    val ow = w.orderBy(order: _*)
    val newSess = F.when(
      F.lag(tsCol, 1).over(ow).isNull ||
        tsCol > F.lag(tsCol, 1).over(ow) + F.expr(s"INTERVAL $gap"),
      1L).otherwise(0L)
    val sess = F.sum(newSess).over(ow.rowsBetween(Window.unboundedPreceding, Window.currentRow)) - 1L
    GraftStream(toDF.withColumn("session_id", sess))
  }

  /** Keyed equi-join (examples/joining_streams.rs). Broadcasts the build
    * side when `broadcastRight` — the 100 TB path for dimension joins.
    *
    * Each side's key expressions are materialized as aliased columns on
    * THAT side before the join: a raw `l === r` condition with same-named
    * keys (`keyLocal(col("k"))` on both) is an unresolvable ambiguous
    * reference, since either unresolved attribute matches both sides. */
  def join(other: KeyedGraftStream, how: String = "inner", broadcastRight: Boolean = false): GraftStream = {
    require(keys.size == other.keys.size, "key arity mismatch")
    val lNames = keys.indices.map(i => s"__graft_jl_$i")
    val rNames = keys.indices.map(i => s"__graft_jr_$i")
    val left = toDF.select(
      F.col("*") +: keys.zip(lNames).map { case (k, n) => k.as(n) }: _*)
    val right = other.toDF.select(
      F.col("*") +: other.keys.zip(rNames).map { case (k, n) => k.as(n) }: _*)
    val rightDF = if (broadcastRight) F.broadcast(right) else right
    val cond = lNames.zip(rNames)
      .map { case (l, r) => F.col(l) === F.col(r) }.reduce(_ && _)
    GraftStream(left.join(rightDF, cond, how).drop((lNames ++ rNames): _*))
  }

  def toStream: GraftStream = GraftStream(toDF)
}

/** One aggregate of a salted two-stage aggregation: `partial` runs per
  * (key, salt); `combine` merges the partials per key. */
final case class SaltedAgg(name: String, partial: Column, combine: Column => Column)

object SaltedAgg {
  def count(name: String): SaltedAgg =
    SaltedAgg(name, F.count(F.lit(1)), F.sum(_))
  def sum(name: String, c: Column): SaltedAgg =
    SaltedAgg(name, F.sum(c), F.sum(_))
  def min(name: String, c: Column): SaltedAgg =
    SaltedAgg(name, F.min(c), F.min(_))
  def max(name: String, c: Column): SaltedAgg =
    SaltedAgg(name, F.max(c), F.max(_))
}
