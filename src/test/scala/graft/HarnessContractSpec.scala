package graft

import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Harness contract: the driver's pandas oracle hashes SCALAR columns
  * only — an oracle-graded query returning array/map/struct crashes its
  * factorize step AFTER the engine ran, grading the query as silently
  * untested (once: q_ann_jl, q_ann_sq8, q_phrase_blocklist). Verify
  * rejects such registrations at dump time; this spec pins the predicate
  * and the rejection, re-checks those three schemas, and pins the gate
  * table every registry derives from. */
class HarnessContractSpec extends AnyFunSuite with SparkFixture {

  test("nonScalarColumns flags array/map/struct, passes scalars") {
    val bad = StructType(Seq(
      StructField("id", LongType),
      StructField("vec", ArrayType(DoubleType)),
      StructField("kv", MapType(StringType, LongType)),
      StructField("pair", StructType(Seq(StructField("a", IntegerType))))))
    assert(Verify.nonScalarColumns(bad) == Seq("vec", "kv", "pair"))
    val ok = StructType(Seq(
      StructField("id", LongType), StructField("s", StringType),
      StructField("d", DoubleType), StructField("b", BooleanType),
      StructField("dec", DecimalType(38, 18)), StructField("t", TimestampType)))
    assert(Verify.nonScalarColumns(ok).isEmpty)
  }

  test("a deliberately array-returning oracle-graded registration is rejected") {
    val df = spark.range(3).select(
      F.col("id"), F.array(F.lit(1.0), F.lit(2.0)).as("vec"))
    val ex = intercept[IllegalStateException] {
      Verify.requireScalarIfGraded("q_map", df.schema)
    }
    assert(ex.getMessage.contains("vec"))
    // a gate without an oracle may return any shape
    Verify.requireScalarIfGraded("q_bpe_train", df.schema)
  }

  test("gatesNamed resolves known names in order and names every unknown one") {
    assert(SparkEntry.gatesNamed(Seq("q_join", "q_map")).map(_.name) == Seq("q_join", "q_map"))
    val typo = intercept[IllegalArgumentException](SparkEntry.gatesNamed(Seq("q_jion")))
    assert(typo.getMessage.contains("q_jion"))
    val mixed = intercept[IllegalArgumentException] {
      SparkEntry.gatesNamed(Seq("q_map", "q_mpa", "q_join", "q_jion"))
    }
    assert(mixed.getMessage.contains("q_mpa") && mixed.getMessage.contains("q_jion"))
    assert(!mixed.getMessage.contains("q_map") && !mixed.getMessage.contains("q_join"))
  }

  test("the gate table: distinct names, its derived sets, and which gates have an oracle") {
    val names = SparkEntry.gates.map(_.name)
    assert(names.distinct == names)
    assert(names.size == 218)
    assert(Bench.headline.size == 95)
    assert(graft.tools.ClusterSmoke.slice.size == 103)
    assert(SparkEntry.queries.keySet == names.toSet)
    assert(SparkEntry.oracleSql.keySet.subsetOf(names.toSet),
      SparkEntry.oracleSql.keySet.diff(names.toSet))
    assert(names.filterNot(SparkEntry.oracleSql.contains).toSet ==
      Set("q_bpe_train", "q_spm_train", "q_wordpiece_train", "q_bpe_bytes_train"))
  }

  test("the r17 offenders now emit scalar-only schemas") {
    for (name <- Seq("q_ann_jl", "q_ann_sq8", "q_phrase_blocklist")) {
      val df = SparkEntry.queries(name)(spark, sf001)
      assert(Verify.nonScalarColumns(df.schema).isEmpty,
        s"$name still returns complex columns: ${df.schema.simpleString}")
      assert(SparkEntry.oracleSql.contains(name), s"$name lost its oracle")
    }
  }
}
