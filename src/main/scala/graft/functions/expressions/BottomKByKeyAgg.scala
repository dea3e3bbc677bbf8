package graft.functions.expressions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, RowOrdering, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{GenericArrayData, TypeUtils}
import org.apache.spark.sql.types.{ArrayType, DataType, StructType}

/** Bounded bottom-k-by-rank-key aggregate — the SORT-FREE state of the
  * KMV/quantile sample and of the priority sample's top-(k+1) cut
  * (reference semantics: malstrom's keyed stateful fold,
  * malstrom-core/src/operators/stateful_op.rs).
  *
  * Input: ONE struct-typed child whose FIRST field is the rank key, of
  * any orderable type (md5 hex for the KMV sample, `struct(-priority,
  * id)` for the priority sample). State: a TreeMap of the k smallest
  * keys seen → their full struct rows. Output: the state as an
  * `array<struct>` in ascending key order — a deterministic FUNCTION of
  * the input set, independent of partitioning and arrival order
  * (distinct keys by contract; a replayed identical key overwrites its
  * own slot, the mergeBottomK idempotence rule). Being an aggregate, it
  * runs unchanged as a streaming aggregation, whose state store then
  * holds the k rows.
  *
  * Why not `row_number() OVER (...) <= k`: the Partial WindowGroupLimit
  * Spark plans for that cut still requires a FULL LOCAL SORT of every
  * map partition before it (O(n log n) per task, all row widths), where
  * this aggregate streams rows through a capped heap — O(n log k), no
  * sort node at all, and the exchange carries at most tasks × groups × k
  * pre-combined rows.
  *
  * Keys compare under Spark's ordering for their type, the one an
  * ascending `ORDER BY` uses: a STRING key orders by UTF-8 bytes, which
  * is DuckDB's varchar order on ASCII hex, so the result is hash-exact
  * against the window formulation and the SQL oracle. Ties (duplicate
  * keys) collapse to the LAST-seen row; callers guarantee distinct keys.
  *
  * PRECONDITION: the rank key must be NON-NULL. Rows whose key is NULL
  * are dropped here, whereas `ORDER BY key` sorts NULLs first
  * ascending; a caller with a nullable key must coalesce or filter it
  * first.
  */
case class BottomKByKeyAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeMap[Any, UnsafeRow]]
  with UnaryLike[Expression] {

  require(k >= 1, s"bottom-k needs k >= 1, got $k")

  private lazy val structType = child.dataType.asInstanceOf[StructType]
  private lazy val keyType = structType.head.dataType
  @transient private lazy val toUnsafe = UnsafeProjection.create(structType)
  @transient private lazy val keyOrdering = TypeUtils.getInterpretedOrdering(keyType)

  override def dataType: DataType = ArrayType(structType, containsNull = false)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case s: StructType if s.nonEmpty && RowOrdering.isOrderable(s.head.dataType) =>
        TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"bottom_k_by_key needs struct<rankKey: orderable type, ...>, got $other")
    }

  override def createAggregationBuffer(): java.util.TreeMap[Any, UnsafeRow] =
    new java.util.TreeMap[Any, UnsafeRow](keyOrdering)

  private def admits(buf: java.util.TreeMap[Any, UnsafeRow], key: Any): Boolean =
    buf.size < k || keyOrdering.lt(key, buf.lastKey()) || buf.containsKey(key)

  private def insert(buf: java.util.TreeMap[Any, UnsafeRow], key: Any, row: UnsafeRow): Unit =
    if (admits(buf, key)) {
      buf.put(key, row)
      if (buf.size > k) buf.remove(buf.lastKey())
    }

  override def update(buf: java.util.TreeMap[Any, UnsafeRow],
                      input: InternalRow): java.util.TreeMap[Any, UnsafeRow] = {
    val v = child.eval(input)
    if (v != null) {
      val row = v.asInstanceOf[InternalRow]
      if (!row.isNullAt(0) && admits(buf, row.get(0, keyType))) {
        // copy BEFORE keying: eval may return a row backed by reused
        // buffers; the copied UnsafeRow owns its bytes, and the key is
        // read back out of the copy so it shares that stable backing
        val stable = toUnsafe(row).copy()
        insert(buf, stable.get(0, keyType), stable)
      }
    }
    buf
  }

  override def merge(a: java.util.TreeMap[Any, UnsafeRow],
                     b: java.util.TreeMap[Any, UnsafeRow])
      : java.util.TreeMap[Any, UnsafeRow] = {
    val it = b.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      insert(a, e.getKey, e.getValue)
    }
    a
  }

  override def eval(buf: java.util.TreeMap[Any, UnsafeRow]): Any = {
    val out = new Array[Any](buf.size)
    var i = 0
    val it = buf.values().iterator()
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    new GenericArrayData(out)
  }

  override def serialize(buf: java.util.TreeMap[Any, UnsafeRow]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    val it = buf.values().iterator()
    while (it.hasNext) {
      val row = it.next()
      val bytes = row.getBytes
      out.writeInt(bytes.length)
      out.write(bytes)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeMap[Any, UnsafeRow] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = createAggregationBuffer()
    val n = in.readInt()
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val arr = new Array[Byte](len)
      in.readFully(arr)
      val row = new UnsafeRow(structType.length)
      row.pointTo(arr, len)
      buf.put(row.get(0, keyType), row)
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BottomKByKeyAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BottomKByKeyAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): BottomKByKeyAgg =
    copy(child = newChild)
  override def prettyName: String = "bottom_k_by_key"
}
