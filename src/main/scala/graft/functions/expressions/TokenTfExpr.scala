package graft.functions.expressions

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-document term frequencies in ONE row pass:
  * `array<struct<tok: string, tf: long>>` over the lowercased
  * whitespace-split tokens of the input text, empty tokens dropped.
  *
  * Token order: first occurrence in the document — deterministic, though
  * callers aggregate or re-sort anyway. Bit-identical token set and
  * counts to `explode(split(lower(text), '\\s+')) … groupBy(doc, tok)`.
  *
  * Why an expression: term frequency is a per-ROW aggregation (one
  * document's tokens never meet another's), so folding it inside the
  * projection removes the docs × tokens fan-out through the aggregation
  * machinery and the (doc, tok) SHUFFLE entirely — the same
  * per-row-fold-beats-explode+groupBy shape as [[MinhashSigsExpr]]. At
  * 100 TB the tf build becomes a pure scan; only the already-collapsed
  * (doc, distinct-token) rows ever hit a shuffle (for the df join).
  *
  * Codegen (r12): `doGenCode` emits a direct static call to
  * [[TokenTfExpr.tokenTf]] instead of falling back — a CodegenFallback
  * here disabled WHOLE-STAGE codegen for every stage containing the
  * Generate, which a JFR profile showed taxed every downstream operator
  * (explode plumbing, aggregation, shuffle write) at ~15-20 µs/row while
  * the fold itself was ~1% of the CPU. The logic stays in one Scala
  * method shared by both execution paths.
  *
  * NULL for null input; an all-whitespace/empty document yields an empty
  * array (explode then drops the doc, matching the relational form).
  */
case class TokenTfExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("tok", StringType, nullable = false),
      StructField("tf", LongType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    TokenTfExpr.tokenTf(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.expressions.TokenTfExpr$$.MODULE$$.tokenTf($c);")

  override protected def withNewChildInternal(newChild: Expression): TokenTfExpr =
    copy(child = newChild)
}

object TokenTfExpr {

  // exactly RE2 \s = [ \t\n\f\r], the delimiter class of the oracle's
  // string_split_regex. NOT Java \s: Java adds \x0B (vertical tab), which
  // RE2 excludes -- a \x0B-bearing document would otherwise tokenize
  // differently on the two sides of the correctness gate.
  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\f' || c == '\r'

  /** The shared fold — called per DOCUMENT from both interpreted eval and
    * generated code. */
  def tokenTf(input: UTF8String): GenericArrayData = {
    // Locale.ROOT, matching ShingleExpr and DuckDB's locale-independent
    // lower(): UTF8String.toLowerCase falls back to the JVM DEFAULT locale
    // for non-ASCII text, where e.g. tr-TR maps 'I' to dotless 'ı' and the
    // tf/df tables silently diverge from the oracle.
    val text = input.toString.toLowerCase(java.util.Locale.ROOT)
    // insertion-ordered counts: LinkedHashMap keeps first-occurrence order
    val counts = mutable.LinkedHashMap.empty[String, Long]
    var i = 0
    val len = text.length
    while (i < len) {
      while (i < len && isWs(text.charAt(i))) i += 1
      val start = i
      while (i < len && !isWs(text.charAt(i))) i += 1
      if (i > start) {
        val tok = text.substring(start, i)
        counts.update(tok, counts.getOrElse(tok, 0L) + 1L)
      }
    }
    val rows = new Array[Any](counts.size)
    var j = 0
    counts.foreach { case (tok, tf) =>
      rows(j) = new GenericInternalRow(
        Array[Any](UTF8String.fromString(tok), tf)): InternalRow
      j += 1
    }
    new GenericArrayData(rows)
  }
}
