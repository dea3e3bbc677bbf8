package graft

import org.apache.spark.graftbridge.ContextBridge
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.expressions.{DotProductF, MinhashSigsExpr, ShingleExpr, SimhashExpr, TokenTfExpr, WinnowExpr}

/** Spark-native integration point: inject graft's custom Catalyst
  * expressions into any session via
  * `spark.sql.extensions=graft.GraftExtensions` (or
  * `SparkSession.builder.withExtensions(new GraftExtensions)`), making them
  * available to pure-SQL users:
  *
  *   SELECT graft_dot_f(a.embedding, b.embedding) FROM ...
  *   SELECT explode(graft_shingles(text, 3)) FROM docs
  *
  * Column-API callers don't need this — graft.functions.* builds the same
  * expressions directly.
  *
  * Applying the extension also puts the session's context on graft's
  * fork-free `file:` filesystem ([[HadoopFs.useForkFreeLocal]]); a key
  * the user set is left alone.
  */
object GraftExtensions {

  /** One graft SQL function: its name, the Catalyst expression class it
    * builds (for the injector's `ExpressionInfo`) and its builder. */
  private[graft] final case class SqlFunction(
      name: String, cls: Class[_ <: Expression], build: Seq[Expression] => Expression)

  /** The literal-argument check every builder shares: `e` must fold to a
    * constant int, else the call fails with `msg`. */
  private def lit(e: Expression, msg: String): Int =
    if (e.foldable) e.eval().asInstanceOf[Number].intValue()
    else throw new IllegalArgumentException(msg)

  /** THE table of graft's SQL surface — read by [[registerAll]], the
    * session-extension injector and `VectorFunctions.registerAll`. */
  private[graft] val functions: Seq[SqlFunction] = Seq(
    SqlFunction("graft_dot_f", classOf[DotProductF],
      es => DotProductF(es.head, es(1))),
    SqlFunction("graft_shingles", classOf[ShingleExpr],
      es => ShingleExpr(es.head, lit(es(1), "graft_shingles(text, n): n must be a literal"))),
    SqlFunction("graft_minhash_sigs", classOf[MinhashSigsExpr],
      es => MinhashSigsExpr(es.head,
        lit(es(1), "graft_minhash_sigs(shingles, bands): bands must be a literal"))),
    SqlFunction("graft_simhash", classOf[SimhashExpr], es => SimhashExpr(es.head)),
    SqlFunction("graft_token_tf", classOf[TokenTfExpr], es => TokenTfExpr(es.head)),
    SqlFunction("graft_winnow", classOf[WinnowExpr], es => {
      val msg = "graft_winnow(text, k, w): k and w must be literals"
      WinnowExpr(es.head, lit(es(1), msg), lit(es(2), msg))
    }))

  /** Runtime registration of the same SQL surface on an ALREADY-built
    * session (the extensions path only applies at session construction). */
  def registerAll(spark: org.apache.spark.sql.SparkSession): Unit =
    register(spark, functions)

  private[graft] def register(spark: org.apache.spark.sql.SparkSession,
                              fs: Seq[SqlFunction]): Unit =
    fs.foreach(f => spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(f.name, f.build, "built-in"))
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // Spark applies extensions after it builds the context and before
    // the session, so the keys land before the session's first `file:`
    // access. Without a context (a bare SparkSessionExtensions) there is
    // nothing to configure, and none may be created here.
    ContextBridge.active.foreach(sc => HadoopFs.useForkFreeLocal(sc.hadoopConfiguration))
    ext.injectOptimizerRule(_ => graft.plans.RewriteDotProduct)
    GraftExtensions.functions.foreach { f =>
      ext.injectFunction(
        (FunctionIdentifier(f.name), new ExpressionInfo(f.cls.getName, f.name), f.build))
    }
  }
}
