package graft

import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite

/** The conditional scan spread: spreads under-parallel scans, no-ops on
  * already-parallel input, and — the round-10 guard — refuses to touch a
  * plan containing joins/aggregates/windows/repartitions, where its
  * `rdd` partition probe would materialize AQE query stages as real jobs
  * that rerun when the full query executes. */
class SpreadSpec extends AnyFunSuite with SparkFixture {

  test("Spread repartitions an under-parallel scan chain to defaultParallelism") {
    import spark.implicits._
    // A real single-file parquet scan — the actual small-file regime
    // (coalesce would not do: it is itself a RepartitionOperation and
    // correctly trips the scan-only guard below).
    val dir = tempDir("spread").toString
    (1 to 100).toDF("x").coalesce(1).write.mode("overwrite").parquet(dir)
    val one = spark.read.parquet(dir)
    assert(one.rdd.getNumPartitions == 1)
    val spread = Spread(one.filter(F.col("x") > 0).select(F.col("x") * 2 as "y"))
    assert(spread.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
    assert(spread.count() == 100)
  }

  test("Spread is identity on aggregated/joined/windowed plans (scan-only guard)") {
    import spark.implicits._
    val df = (1 to 100).map(i => (i % 10, i)).toDF("k", "v").coalesce(1)
    val agg = df.groupBy("k").agg(F.sum("v").as("s"))
    val joined = df.join(df.withColumnRenamed("v", "w"), "k")
    val windowed = df.withColumn("r",
      F.row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy("k").orderBy("v")))
    val repart = df.repartition(2, F.col("k"))
    // a global orderBy plans a range exchange — the same double-execution
    // trap as the others (ADVICE r10). Built WITHOUT the coalesce so the
    // Sort node itself is the only guard trigger in the plan.
    val sorted = (1 to 100).map(i => (i % 10, i)).toDF("k", "v").orderBy("v")
    for (d <- Seq(agg, joined, windowed, repart, sorted))
      assert(Spread(d) eq d, s"guard must skip: ${d.queryExecution.optimizedPlan.nodeName}")
    // and the guarded frames still compute correctly through Spread
    assert(Spread(agg).count() == 10)
  }
}
