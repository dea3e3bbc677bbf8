package graft.tools

import org.apache.spark.sql.SparkSession

import graft.{CacheScope, HadoopFs, SparkEntry}

/** Prints formatted physical plans for selected queries — the audit loop
  * for pushdown (PushedFilters/ReadSchema), broadcast joins, exchanges and
  * whole-stage codegen coverage. For each query it first prints the
  * INTERNAL plans recorded through `CacheScope.planRecorder` while the
  * query is built (every `materialize` input and every `scoped` result,
  * the same hook ExplainAuditSpec audits through), then the terminal
  * plan. The terminal frame of a scoped operator is a checkpoint scan
  * (`Scan ExistingRDD`), so only the recorded frames show where its
  * exchanges are; a query with no CacheScope frame prints the terminal
  * plan alone. Usage:
  *   runMain graft.tools.ExplainAudit <sfDir> [query ...]
  */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val gates =
      if (args.length > 1) SparkEntry.gatesNamed(args.tail.toSeq) else SparkEntry.gates.sortBy(_.name)
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config(HadoopFs.forkFreeLocalConfs)
      // applied as the context starts, so its own start-up INFO lines are
      // quiet too (setLogLevel after getOrCreate comes too late for them)
      .config("spark.log.level", "ERROR")
      .getOrCreate()
    gates.foreach { g =>
      println(s"\n========== ${g.name} ==========")
      var i = 0
      CacheScope.planRecorder = (kind, plan) => {
        i += 1
        println(s"---------- frame $i [$kind] ----------")
        println(plan)
      }
      try {
        val df = g.run(spark, sfDir)
        if (i > 0) println("---------- terminal ----------")
        df.explain("formatted")
      } catch { case scala.util.control.NonFatal(e) => println(s"EXPLAIN FAILED: ${e.getMessage}") }
      finally CacheScope.planRecorder = null
    }
    spark.stop()
  }
}
