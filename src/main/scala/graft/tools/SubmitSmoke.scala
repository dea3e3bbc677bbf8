package graft.tools

import org.apache.spark.sql.SparkSession

/** Deployment smoke for the packaged jar (run via
  * `tools/spark_submit_smoke.sh`): prove the library executes OUTSIDE
  * sbt, as a plain `spark-submit` application against the installed
  * Spark distribution — the packaging story a cluster deployment needs
  * (the reference ships a k8s runtime; the Spark-native analogue is
  * exactly "your jar + spark-submit").
  *
  * Runs the flagship entry and one oracle-gated query per major
  * subsystem (join, dedup, ANN, text) and exits non-zero unless every
  * one returns rows. Session config comes from spark-submit (master,
  * memory) — the library must not assume an sbt-shaped JVM.
  */
object SubmitSmoke {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = SparkSession.builder()
      .appName("graft-submit-smoke")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val checks: Seq[(String, () => Long)] = Seq(
      "entry" -> (() => graft.SparkEntry.entry(spark).count()),
      "q_join" -> (() => graft.SparkEntry.queries("q_join")(spark, sfDir).count()),
      "q_dedup_minhash" -> (() => graft.SparkEntry.queries("q_dedup_minhash")(spark, sfDir).count()),
      "q_ann_ivf" -> (() => graft.SparkEntry.queries("q_ann_ivf")(spark, sfDir).count()),
      "q_gopher_rules" -> (() => graft.SparkEntry.queries("q_gopher_rules")(spark, sfDir).count()))
    var ok = true
    checks.foreach { case (name, run) =>
      val n = try run() catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[submit-smoke] $name FAILED: $e"); ok = false; -1L }
      System.err.println(f"[submit-smoke] $name%-16s rows=$n")
      if (n <= 0) ok = false
    }
    println(if (ok) "SUBMIT_SMOKE PASS" else "SUBMIT_SMOKE FAIL")
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
