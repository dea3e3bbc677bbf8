package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session, local[4]). */
trait SparkFixture { self: AnyFunSuite =>
  lazy val spark: SparkSession = SparkFixture.session
  def sf001 = "/root/testdata/sf0.001"

  /** A fresh temp directory, deleted with everything under it when the
    * test JVM exits. */
  def tempDir(prefix: String): Path = SparkFixture.tempDir(prefix)

  /** Run `body` with expressions forced onto one execution path: the
    * generated code (`codegen = true`) or the interpreted `eval`.
    * factoryMode governs non-WSCG expression evaluation (projections,
    * filters outside codegen stages): CODEGEN_ONLY / NO_CODEGEN force the
    * two paths; FALLBACK is the production default. */
  def withModes[A](codegen: Boolean)(body: => A): A = {
    val conf = spark.conf
    val ws = conf.get("spark.sql.codegen.wholeStage", "true")
    val fm = conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
    conf.set("spark.sql.codegen.wholeStage", codegen.toString)
    conf.set("spark.sql.codegen.factoryMode",
      if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN")
    try body
    finally {
      conf.set("spark.sql.codegen.wholeStage", ws)
      conf.set("spark.sql.codegen.factoryMode", fm)
    }
  }
}

object SparkFixture {
  private val made = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  // Best effort: a tree another shutdown hook is still writing or
  // removing may fail to walk, and must not stop the other deletes.
  private lazy val cleanup: Unit = {
    sys.addShutdownHook(made.forEach { d =>
      try if (Files.exists(d)) {
        val st = Files.walk(d)
        try st.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
        finally st.close()
      } catch { case scala.util.control.NonFatal(_) => () }
    })
    ()
  }

  def tempDir(prefix: String): Path = removeOnExit(Files.createTempDirectory(prefix))

  /** Delete `d`, with everything under it, when the test JVM exits. */
  def removeOnExit(d: Path): Path = {
    cleanup
    made.add(d)
    d
  }

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      // local[4, 2]: 4 threads, task maxFailures = 2 — a failed task is
      // retried once before the job aborts, which is what a real cluster
      // does and what FaultToleranceSpec exercises. For every other spec
      // tasks never fail, so the retry budget changes nothing.
      .master("local[4, 2]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
