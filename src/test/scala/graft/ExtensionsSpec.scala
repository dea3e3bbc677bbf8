package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorFunctions

/** SQL-surface integration: injected/registered functions usable from
  * spark.sql text. */
class ExtensionsSpec extends AnyFunSuite with SparkFixture {

  test("GraftExtensions injects without error") {
    new GraftExtensions().apply(new SparkSessionExtensions) // builder wiring
  }

  test("GraftExtensions' injected functions resolve and evaluate") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, Literal, Size}
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
    import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType}
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val reg = org.apache.spark.sql.InjectedFunctions.registry(ext)
    val names = Seq("graft_dot_f", "graft_shingles", "graft_minhash_sigs",
      "graft_simhash", "graft_token_tf", "graft_winnow")
    assert(reg.listFunction().map(_.funcName).toSet == names.toSet)
    def call(name: String, args: Expression*): Expression =
      reg.lookupFunction(FunctionIdentifier(name), args)
    def floats(xs: Float*): Literal =
      Literal(new GenericArrayData(xs.toArray[Any]), ArrayType(FloatType, containsNull = false))
    assert(call("graft_dot_f", floats(1.5f, 2.0f), floats(2.0f, 3.0f)).eval() == 1.5 * 2.0 + 2.0 * 3.0)
    val sh = call("graft_shingles", Literal("a b c d"), Literal(3))
    assert(Size(sh).eval() == 2)  // 4 tokens, 3-shingles -> 2
    assert(Size(call("graft_minhash_sigs", sh, Literal(8))).eval() == 8)  // one per band
    assert(call("graft_simhash", Literal("hello world")).eval() != null)
    val tf = call("graft_token_tf", Literal("x y x")).eval().asInstanceOf[ArrayData]
    val tfMap = (0 until tf.numElements()).map { i =>
      val r = tf.getStruct(i, 2)
      r.getUTF8String(0).toString -> r.getLong(1)
    }.toMap
    assert(tfMap == Map("x" -> 2L, "y" -> 1L))
    assert(Size(call("graft_winnow", Literal("abcdefghijklmnopqrstuvwxyz"), Literal(4), Literal(5)))
      .eval().asInstanceOf[Int] > 0)
    // the literal check names the offending argument
    val col = AttributeReference("n", IntegerType)()
    val e = intercept[IllegalArgumentException](call("graft_winnow", Literal("abc"), col, Literal(5)))
    assert(e.getMessage == "graft_winnow(text, k, w): k and w must be literals")
  }

  test("RewriteDotProduct turns the portable HOF pattern into DotProductF") {
    import org.apache.spark.sql.{functions => F}
    import spark.implicits._
    // Typed source: primitive Array[Float] encodes as containsNull=false;
    // the next test covers the nullable-element shape.
    val emb = spark.read.parquet(s"$sf001/embeddings.parquet").limit(100)
      .select(F.col("vec_id"), F.col("embedding"))
      .as[(Long, Array[Float])].map(identity).toDF("vec_id", "embedding")
    val portable = emb.select(
      F.col("vec_id"),
      VectorFunctions.dot(F.col("embedding"), F.col("embedding")).as("d"))
    val before = portable.queryExecution.optimizedPlan.toString
    assert(!before.toLowerCase.contains("dotproductf") && before.contains("aggregate"))
    val prev = spark.experimental.extraOptimizations
    try {
      spark.experimental.extraOptimizations = Seq(graft.plans.RewriteDotProduct)
      val rewritten = emb.select(
        F.col("vec_id"),
        VectorFunctions.dot(F.col("embedding"), F.col("embedding")).as("d"))
      assert(rewritten.queryExecution.optimizedPlan.toString.toLowerCase.contains("dotproductf"),
        "optimizer rule did not fire")
      // bit-identical results (same left-fold accumulation)
      val a = portable.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val b = rewritten.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(a == b)
    } finally spark.experimental.extraOptimizations = prev
  }

  test("RewriteDotProduct fires on nullable-element arrays and keeps the fold's NULL") {
    import org.apache.spark.sql.{functions => F}
    // array(col, lit(null)) → containsNull=true: the HOF fold yields NULL
    // here, and so does DotProductF, which checks the elements of a side
    // whose type can hold a null — the rule fires and the result holds.
    val df = spark.range(3).select(
      F.array(F.col("id").cast("double"), F.lit(null).cast("double")).as("a"))
    val prev = spark.experimental.extraOptimizations
    try {
      spark.experimental.extraOptimizations = Seq(graft.plans.RewriteDotProduct)
      val q = df.select(VectorFunctions.dot(F.col("a"), F.col("a")).as("d"))
      assert(q.queryExecution.optimizedPlan.toString.toLowerCase.contains("dotproductf"),
        "optimizer rule did not fire")
      assert(q.collect().forall(_.isNullAt(0)))
    } finally spark.experimental.extraOptimizations = prev
  }

  test("DotProductF returns NULL on length mismatch (eval and codegen)") {
    VectorFunctions.registerAll(spark)
    val r = spark.sql(
      "SELECT graft_dot_f(array(CAST(1.0 AS FLOAT)), " +
        "array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT))) AS d").head()
    assert(r.isNullAt(0), "length mismatch must yield NULL, not a truncated dot")
  }

  test("DotProductF returns NULL on a null element, like the portable fold (eval and codegen)") {
    import org.apache.spark.sql.{functions => F}
    VectorFunctions.registerAll(spark)
    // Built from `id` so nothing constant-folds: each mode runs the kernel
    // in its own projection. Row 0: a = [1, null, 2]; row 1: a = [2, 7, 3].
    // `a` is containsNull=true, `b` containsNull=false, so dot(a, b) and
    // dot(b, a) exercise the element check on either side.
    val id = F.col("id")
    val df = spark.range(2).select(
      F.array((id + 1).cast("float"), F.when(id > 0, id + 6).cast("float"),
        (id + 2).cast("float")).as("a"),
      F.array((id + 3).cast("float"), (id + 5).cast("float"), (id + 1).cast("float")).as("b"))
    for (codegen <- Seq(true, false)) withModes(codegen) {
      val rows = df.select(
        VectorFunctions.dotF(F.col("a"), F.col("b")),
        VectorFunctions.dotF(F.col("b"), F.col("a")),
        F.expr("graft_dot_f(a, b)"),
        VectorFunctions.dot(F.col("a"), F.col("b"))).collect()
      assert((0 until 4).forall(rows(0).isNullAt),
        s"codegen=$codegen: a null element must yield NULL, got ${rows(0)}")
      assert((0 until 4).map(rows(1).getDouble) == Seq.fill(4)(2.0 * 4 + 7.0 * 6 + 3.0 * 2),
        s"codegen=$codegen: ${rows(1)}")
    }
  }

  test("CentroidScoresExpr returns NULL on a null element (eval and codegen)") {
    import org.apache.spark.sql.{functions => F}
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import graft.functions.expressions.CentroidScoresExpr
    // Row 0: v = [null, -3]; row 1: v = [1, -2]. Scores are 2·(v·c) − |c|².
    val id = F.col("id")
    val v = F.array(F.when(id > 0, id).cast("float"), (id - 3).cast("float"))
    val scores = ColumnBridge.column(CentroidScoresExpr(
      ColumnBridge.expression(v), Array(Array(1.0, 0.0), Array(0.0, 2.0))))
    for (codegen <- Seq(true, false)) withModes(codegen) {
      val rows = spark.range(2).select(scores).collect()
      assert(rows(0).isNullAt(0),
        s"codegen=$codegen: a null element must yield NULL, got ${rows(0)}")
      assert(rows(1).getSeq[Double](0) == Seq(1.0, -12.0), s"codegen=$codegen: ${rows(1)}")
    }
  }

  test("graft_dot_f is callable from SQL after registration") {
    VectorFunctions.registerAll(spark)
    val v = spark.sql(
      "SELECT graft_dot_f(array(CAST(1.5 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(2.0 AS FLOAT), CAST(3.0 AS FLOAT))) AS d")
      .head().getDouble(0)
    assert(v == 1.5 * 2.0 + 2.0 * 3.0)
  }

  test("the full graft_* SQL surface is callable after registerAll") {
    GraftExtensions.registerAll(spark)
    val r = spark.sql(
      """SELECT
        |  size(graft_shingles('a b c d', 3)) AS n_sh,
        |  size(graft_minhash_sigs(graft_shingles('a b c d', 3), 8)) AS n_sigs,
        |  graft_simhash('hello world') AS sh,
        |  graft_token_tf('x y x') AS tf,
        |  size(graft_winnow('abcdefghijklmnopqrstuvwxyz', 4, 5)) > 0 AS has_fp
        |""".stripMargin).head()
    assert(r.getInt(0) == 2)  // 4 tokens, 3-shingles -> 2
    assert(r.getInt(1) == 8)  // one signature per band
    assert(!r.isNullAt(2))
    val tf = r.getSeq[org.apache.spark.sql.Row](3)
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(tf == Map("x" -> 2L, "y" -> 1L))
    assert(r.getBoolean(4))
  }
}
