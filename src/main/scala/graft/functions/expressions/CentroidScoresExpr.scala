package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Score of an embedding against every trained centroid:
  * `2·(v·c_j) − |c_j|²` per cell j (argmax ⇔ nearest centroid in L2; the
  * |v|² term is assignment-invariant and dropped), as ONE native
  * expression over the whole centroid matrix.
  *
  * Why not `F.array(cells × DotProductF(e, typedlit(c_j)))` (the r9–r13
  * formulation): that inlines `cells` unrolled 64-element literal dot
  * loops into the generated projection — a huge per-plan method that
  * HotSpot promotes to C2 only after several full executions, so short
  * benchmark shots measure the JIT ramp (measured r14: 1.32 → 1.15 →
  * 0.84 → 0.73 s across identical runs), and every new centroid set
  * (every SF, every training change) compiles a fresh giant method from
  * scratch. Here the generated glue is ONE static-shaped call; the hot
  * loop below is stable pre-compiled bytecode, shared by every IVF /
  * k-means query at every scale factor, warm after the first use.
  *
  * Arithmetic contract (bit-identical to the literal formulation and the
  * SQL oracle): the dot accumulates left-to-right in double precision
  * (float elements widened exactly), |c_j|² is the same left fold at
  * construction time, and the combine is `acc * 2.0 − c2` — identical
  * ops in identical order.
  *
  * A dimension-mismatched embedding and an embedding with a null
  * element both yield NULL, like a null embedding: the row gets a null
  * cell downstream and drops out of the cell join.
  *
  * Reference semantics: the IVF coarse-quantizer scoring of
  * graft.ann.Ann (see SURVEY §2 rows 44/84/115); scale shape unchanged —
  * a broadcast-constant pure scan, no join, no shuffle.
  */
case class CentroidScoresExpr(child: Expression, centroids: Array[Array[Double]])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true

  private def floatElems: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }

  @transient private lazy val scorer =
    new CentroidScoresExpr.Scorer(centroids, floatElems)

  override def nullSafeEval(input: Any): Any =
    scorer.scores(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroidScorer", scorer,
      classOf[CentroidScoresExpr.Scorer].getName)
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = $ref.scores($c);
      ${ev.isNull} = ${ev.value} == null;
    """)
  }

  override protected def withNewChildInternal(newChild: Expression): CentroidScoresExpr =
    copy(child = newChild)

  // The centroid matrix would make the default case-class toString a
  // thousand-literal plan string; print its shape instead.
  override def toString: String =
    s"centroid_scores($child, ${centroids.length}x${if (centroids.isEmpty) 0 else centroids(0).length})"
}

object CentroidScoresExpr {

  /** The executor-side hot loop — plain serializable state so the
    * expression ships through closure/plan serialization unchanged. */
  final class Scorer(centroids: Array[Array[Double]], floatElems: Boolean)
      extends Serializable {

    // |c_j|² via the same left fold the literal formulation used
    // (c.map(x => x*x).sum) — kept bit-identical.
    private val c2: Array[Double] = centroids.map { c =>
      var acc = 0.0; var i = 0
      while (i < c.length) { acc += c(i) * c(i); i += 1 }
      acc
    }
    private val dim: Int = if (centroids.isEmpty) 0 else centroids(0).length

    def scores(v: ArrayData): ArrayData = {
      if (v.numElements() != dim) return null
      // Widen the row ONCE: float→double is exact, and reading a local
      // double array inside the per-cell loop beats `cells` virtual
      // ArrayData accessor calls per element. A null element ends the
      // pass with NULL (its slot would otherwise read as 0.0).
      val x = new Array[Double](dim)
      var i = 0
      while (i < dim) {
        if (v.isNullAt(i)) return null
        x(i) = if (floatElems) v.getFloat(i).toDouble else v.getDouble(i)
        i += 1
      }
      val out = new Array[Double](centroids.length)
      var j = 0
      while (j < centroids.length) {
        val c = centroids(j)
        var acc = 0.0
        i = 0
        while (i < dim) { acc += x(i) * c(i); i += 1 }
        out(j) = acc * 2.0 - c2(j)
        j += 1
      }
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
    }
  }
}
