package graft.tools

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Prints formatted physical plans for selected queries — the audit loop
  * for pushdown (PushedFilters/ReadSchema), broadcast joins, and
  * whole-stage codegen coverage. Usage:
  *   runMain graft.tools.ExplainAudit <sfDir> [query ...]
  */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      try SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      catch { case scala.util.control.NonFatal(e) => println(s"EXPLAIN FAILED: ${e.getMessage}") }
    }
    spark.stop()
  }
}
