package graft.functions.expressions

import java.security.MessageDigest
import java.util.Locale

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** DSIR gram buckets as ONE native per-row pass: the hashed-n-gram bucket
  * id of every unigram AND bigram occurrence of `child` (text), i.e.
  * exactly `explode(concat(sh1, sh2))` → `conv(substr(md5(g),1,8),16,10)
  * % buckets` — but with no gram strings materialized and no hex-string
  * arithmetic: tokens are lowercased/split once ([[ShingleExpr]]'s
  * convention), bigrams are digested as `tok1 ‖ ' ' ‖ tok2` BYTES
  * straight into one thread-local MD5 (md5 over concatenated bytes IS
  * md5 of the concatenated string), and the bucket is the digest's first
  * 4 bytes read unsigned big-endian mod `buckets` — bit-identical to the
  * hex-conv convention the DuckDB oracle replays.
  *
  * Measured honestly (r14): on WALL TIME this is a wash
  * with the codegen'd md5/conv Column chain at bench scale (261 vs
  * 223 ms for the 536k-gram stream — Spark's hex builtins are fast; the
  * operator's cost lives in the profile aggregation + scoring join
  * constants, not the per-gram scalars). Kept because it eliminates the
  * per-gram string and 32-hex-char intermediates entirely (allocation /
  * GC pressure that grows with corpus size where the wall constants
  * don't), with the relational shape (explode → groupBy /
  * broadcast-join) unchanged and the hex-conv oracle still hash-exact.
  */
case class DsirBucketsExpr(child: Expression, buckets: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    DsirBucketsExpr.bucketsOf(input.asInstanceOf[UTF8String], buckets)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.expressions.DsirBucketsExpr$$.MODULE$$" +
        s".bucketsOf($c, $buckets);")

  override protected def withNewChildInternal(newChild: Expression): DsirBucketsExpr =
    copy(child = newChild)
}

object DsirBucketsExpr {

  private final class Scratch {
    val md: MessageDigest = MessageDigest.getInstance("MD5")
    val out: Array[Byte] = new Array[Byte](16)
  }
  private val mdLocal = ThreadLocal.withInitial[Scratch](() => new Scratch)
  private val space = Array[Byte](' '.toByte)

  /** Shared per-row kernel (interpreted eval + generated code): bucket
    * ids for all unigrams then all bigrams, in occurrence order. */
  def bucketsOf(input: UTF8String, buckets: Int): GenericArrayData = {
    val s = mdLocal.get()
    // ShingleExpr's tokenizer convention: lowercase, RE2-safe \s subset.
    val toks = input.toString.toLowerCase(Locale.ROOT)
      .split("[ \\t\\n\\f\\r]+").filter(_.nonEmpty)
    val n = toks.length
    val nOut = if (n == 0) 0 else n + math.max(0, n - 1)
    val out = new Array[Any](nOut)
    val bytes = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      bytes(i) = toks(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      s.md.reset()
      s.md.update(bytes(i))
      s.md.digest(s.out, 0, 16)
      out(i) = bucket(s.out, buckets)
      i += 1
    }
    i = 0
    while (i < n - 1) {
      s.md.reset()
      s.md.update(bytes(i))
      s.md.update(space)
      s.md.update(bytes(i + 1))
      s.md.digest(s.out, 0, 16)
      out(n + i) = bucket(s.out, buckets)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** First 4 digest bytes, unsigned big-endian (== the first 8 hex chars
    * parsed base-16), mod buckets. */
  private def bucket(d: Array[Byte], buckets: Int): Long = {
    var v = 0L
    var b = 0
    while (b < 4) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
    v % buckets
  }
}
