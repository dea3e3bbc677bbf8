package graft

import org.scalatest.funsuite.AnyFunSuite

/** Forks [[graft.tools.ClusterSmoke]] as its own JVM and asserts it
  * passes: a `local-cluster[2,2,1024]` run (real separate executor
  * processes — closures and every custom Catalyst expression
  * round-tripping through JavaSerializer and a fresh classloader) must be
  * hash-identical to `local[4]` on the full-headline serialization slice.
  *
  * A subprocess, not an in-JVM session: only one SparkContext can exist
  * per JVM and the suite-wide [[SparkFixture]] session is a lazy val every
  * other spec shares — stopping it mid-suite would strand them. The test
  * JVM is forked by sbt with the full test classpath, so handing
  * `java.class.path` to the child (and to its executors, via
  * ClusterSmoke's `spark.executor.extraClassPath`) is sufficient.
  */
class ClusterSmokeSpec extends AnyFunSuite {

  test("local-cluster[2,2] run is hash-identical to local[4] on the serialization slice") {
    val javaBin = java.nio.file.Paths.get(
      sys.props("java.home"), "bin", "java").toString
    val cwd = SparkFixture.tempDir("graft_smoke_").toFile
    val cmd: Seq[String] =
      Seq(javaBin) ++ graft.tools.ClusterSmoke.addOpens ++ Seq(
        "-Xmx3g", "-cp", sys.props("java.class.path"),
        "-Dspark.ui.enabled=false",
        "graft.tools.ClusterSmoke")
    val pb = new ProcessBuilder(cmd: _*)
    pb.directory(cwd)
    // The standalone launcher resolves the executor command from
    // SPARK_HOME and needs SPARK_SCALA_VERSION when invoked outside
    // bin/spark-submit (load-spark-env.sh normally exports it).
    pb.environment().put("SPARK_HOME", "/opt/spark")
    pb.environment().put("SPARK_SCALA_VERSION", "2.13")
    pb.environment().put("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    pb.redirectErrorStream(true)
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    // r18: the slice widened 41 -> full headline + extras (~92 queries,
    // two passes each) — measured ~2x the r17 wall; 15 min keeps slack.
    val finished = p.waitFor(15, java.util.concurrent.TimeUnit.MINUTES)
    if (!finished) p.destroyForcibly()
    val tail = out.linesIterator.toSeq.takeRight(40).mkString("\n")
    assert(finished, s"cluster smoke timed out; tail:\n$tail")
    assert(p.exitValue() == 0, s"cluster smoke exit ${p.exitValue()}; tail:\n$tail")
    assert(out.contains("CLUSTER_SMOKE PASS"), s"no PASS line; tail:\n$tail")
  }
}
