package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.functions.expressions.DotProductF

/** Vector (embedding) Column functions for similarity search.
  *
  * One dot product kernel, [[dotF]] (the native codegen
  * [[DotProductF]]), carries every ANN / LSH / JL score. [[dot]] is the
  * portable reference fold (`zip_with` + `aggregate`, exact left fold in
  * double precision — the oracle's formulation): tests compare the
  * kernel against it, and it is the pattern
  * [[graft.plans.RewriteDotProduct]] turns into the kernel. The two
  * return the same double, or NULL, on every input.
  */
object VectorFunctions {

  /** Register the native dot as a SQL function (`graft_dot_f`) for
    * spark.sql users. Column-API callers go through [[dotF]] directly. */
  def registerAll(spark: SparkSession): Unit =
    graft.GraftExtensions.register(spark,
      graft.GraftExtensions.functions.filter(_.name == "graft_dot_f"))

  /** Native codegen dot product over array<float|double> columns. */
  def dotF(a: Column, b: Column): Column =
    ColumnBridge.column(
      DotProductF(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Portable reference dot product: left fold in double precision. */
  def dot(a: Column, b: Column): Column =
    F.aggregate(
      F.zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      F.lit(0.0),
      (acc, v) => acc + v)

  /** Nibble value (0-15) of a single lowercase hex character column. */
  def hexNibble(c: Column): Column = {
    val a = F.ascii(c)
    F.when(a >= 97, a - 87).otherwise(a - 48)
  }

  /** Deterministic pseudo-random hyperplane weight for (plane, dim):
    * first md5 nibble of "plane_dim", centered → [-0.9375, 0.9375].
    * Replicable in any engine with md5 + ascii, and computed plan-side by
    * [[planeWeightValue]] (identical by md5 determinism). */
  def planeWeight(plane: Int, dim: Column): Column = {
    val hexCh = F.substring(
      F.md5(F.concat(F.lit(s"${plane}_"), dim.cast("string"))), 1, 1)
    (hexNibble(hexCh).cast("double") - 7.5) / 8.0
  }

  /** Plan-time value of [[planeWeight]] — same md5, same arithmetic. */
  def planeWeightValue(plane: Int, dim: Int): Double = {
    val d = MessageDigest.getInstance("MD5")
      .digest(s"${plane}_$dim".getBytes(StandardCharsets.UTF_8))
    val nibble = (d(0) >> 4) & 0xf // first hex char of the digest
    (nibble.toDouble - 7.5) / 8.0
  }

  /** Random-hyperplane LSH signature with `planes` bits over an
    * array<float> embedding of dimension `dim`:
    * bit p = (emb · w(p+offset)) >= 0. The weight vectors are plan-time
    * constant arrays, so each bit is one codegen'd [[DotProductF]] — no
    * per-row hashing. `offset` selects an independent plane family.
    *
    * A `dim` that mismatches the real embedding width yields a NULL
    * signature (the dot product is NULL on length mismatch, and the
    * NULL propagates through concat), so such rows match NOTHING in the
    * bucket join. The old `otherwise("0")` turned every mismatched row
    * into the SAME all-zeros signature — one bucket holding the whole
    * corpus, silently degenerating "never all-pairs" LSH into a full
    * cross product. Empty results are a visible misconfiguration;
    * a quadratic blow-up at 100 TB is an outage. */
  def lshSignature(emb: Column, planes: Int, dim: Int, offset: Int = 0): Column = {
    val bits = (0 until planes).map { p =>
      val w = (0 until dim).map(d => planeWeightValue(p + offset, d))
      val contrib = dotF(emb, F.typedlit(w))
      F.when(contrib >= 0, F.lit("1")).when(contrib < 0, F.lit("0"))
      // no otherwise: NULL dot (length mismatch / null emb) → NULL bit
    }
    F.concat(bits: _*)
  }

  /** `tables` independent LSH signatures of `bits` bits each (disjoint
    * plane families) — the multi-table LSH index: a candidate matches if
    * its signature equals the query's in ANY table. */
  def lshTableSignatures(emb: Column, bits: Int, tables: Int, dim: Int): Column =
    F.array((0 until tables).map(t => lshSignature(emb, bits, dim, t * bits)): _*)

  /** Deterministic ±1 sign for (plane, dim): the [[planeWeightValue]]
    * nibble's high bit — a fair coin under md5 uniformity, replicable in
    * SQL by the same CASE. */
  def planeSignValue(plane: Int, dim: Int): Double =
    if (planeWeightValue(plane, dim) >= 0.0625) 1.0 else -1.0

  /** Johnson–Lindenstrauss random projection to `k` dimensions (the
    * Achlioptas ±1 construction: y_p = (emb · s_p) / √k with s_p a
    * deterministic md5-derived sign vector — the same plane family as
    * [[lshSignature]], so the projection needs NO stored matrix and any
    * engine reproduces it). Preserves pairwise distances within the JL
    * distortion bound in expectation; the cheap first stage before an
    * exact rerank when even SQ8 vectors are too wide to shuffle. Each
    * output coordinate is one codegen'd [[dotF]] over a plan-time
    * constant array — zero shuffle, scan-only. √k via the IEEE
    * correctly-rounded sqrt (identical in any engine — unlike exp/ln,
    * no round-6 hedge needed on the divisor itself). */
  def jlProject(emb: Column, k: Int, dim: Int, offset: Int = 0): Column = {
    require(k >= 1 && dim >= 1, s"need k, dim >= 1, got k=$k dim=$dim")
    F.array((0 until k).map { p =>
      val s = (0 until dim).map(d => planeSignValue(p + offset, d))
      dotF(emb, F.typedlit(s)) / F.sqrt(F.lit(k.toDouble))
    }: _*)
  }
}
