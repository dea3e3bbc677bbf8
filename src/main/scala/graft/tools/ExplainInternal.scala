package graft.tools

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Prints the INTERNAL (pre-checkpoint) formatted plans of CacheScope
  * queries — every `materialize` input and every `scoped` result — via
  * `CacheScope.planRecorder`, the same hook ExplainAuditSpec audits
  * through. The terminal frame of a scoped operator is a checkpoint scan
  * (`Scan ExistingRDD`), so [[ExplainAudit]] cannot show where its
  * exchanges are; this tool can. Usage:
  *   runMain graft.tools.ExplainInternal <sfDir> <query> [query ...]
  */
object ExplainInternal {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq else Seq.empty
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      var i = 0
      graft.CacheScope.planRecorder = (kind, plan) => {
        i += 1
        println(s"---------- frame $i [$kind] ----------")
        println(plan)
      }
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        println(s"---------- terminal ----------")
        df.explain("formatted")
      } catch { case scala.util.control.NonFatal(e) => println(s"EXPLAIN FAILED: ${e.getMessage}") }
      finally graft.CacheScope.planRecorder = null
    }
    spark.stop()
  }
}
