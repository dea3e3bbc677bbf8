package graft

import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Mid-job failure injection (VERDICT r11 next-round #5 — the reference
  * exercises recovery from a failing backend in
  * malstrom-core/examples/slatedb_backend_failing.rs:1):
  *
  *  1. a TASK that throws once is retried by the scheduler (the fixture
  *     master is local[4, 2]) and the job result is identical to a clean
  *     run — the cluster-mode transient-fault path;
  *  2. a STREAMING query whose task fails on every attempt dies mid-batch,
  *     and the restarted incarnation replays the batch from the
  *     checkpoint with exactly-once sink contents — the file sink's
  *     transaction log must absorb any partial output of the dead batch.
  *
  * Injection state lives in a driver-side static ([[FaultInject]]), which
  * the executor closures can read because local mode shares the JVM — the
  * standard Spark pattern for deterministic fault tests.
  */
class FaultToleranceSpec extends AnyFunSuite with SparkFixture {

  test("a task that throws once is retried and the job result is unchanged") {
    import spark.implicits._
    val expected = (0L until 1000L).map(_ * 2).sum
    FaultInject.arm(1) // first matching task attempt throws, retry succeeds
    val out = spark.range(0, 1000).repartition(4).as[Long]
      .mapPartitions { it =>
        val tc = org.apache.spark.TaskContext.get()
        if (tc.partitionId() == 2 && FaultInject.shouldFail(tc.attemptNumber() == 0))
          throw new RuntimeException("injected transient task failure")
        it.map(_ * 2)
      }
      .reduce(_ + _)
    assert(FaultInject.fired, "the injected fault never triggered — the test proved nothing")
    assert(out == expected, s"retried job diverged: $out != $expected")
  }

  test("streaming query killed mid-batch resumes from checkpoint exactly-once") {
    import spark.implicits._
    val dir = tempDir("graft_fault_").toString
    val src = s"$dir/in"
    val ckpt = s"$dir/ckpt"
    val outDir = s"$dir/out"
    Seq(1L, 2L, 3L).toDF("v").write.parquet(src)

    def run(): Unit = {
      val q = spark.readStream.schema("v LONG").parquet(src).as[Long]
        .map { v =>
          if (FaultInject.shouldFail(v == 2L))
            throw new RuntimeException("injected mid-batch failure")
          v * 10
        }
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .format("parquet")
        .option("path", outDir)
        .outputMode("append")
        .start()
      q.awaitTermination()
    }

    // Two charges cover both task attempts (maxFailures = 2), so the first
    // incarnation's batch fails terminally and the query dies mid-batch.
    FaultInject.arm(2)
    intercept[Exception](run())
    assert(FaultInject.fired, "the injected fault never triggered")

    run() // restart: charges exhausted — must replay the batch from ckpt
    val rows = spark.read.parquet(outDir).as[Long].collect().toSeq.sorted
    assert(rows == Seq(10L, 20L, 30L),
      s"exactly-once violated after mid-batch kill + resume: $rows")

    // The resumed query keeps consuming: a new file lands, a fresh restart
    // processes ONLY it (no reprocessing of recovered batches).
    Seq(4L).toDF("v").write.mode("append").parquet(src)
    run()
    val rows2 = spark.read.parquet(outDir).as[Long].collect().toSeq.sorted
    assert(rows2 == Seq(10L, 20L, 30L, 40L),
      s"continuation after recovery diverged: $rows2")
  }
}

/** Driver-side fault-injection charges, visible to local-mode executor
  * closures (same JVM). `arm(n)` loads n one-shot failures; each
  * [[shouldFail]] with a true condition consumes one. */
object FaultInject {
  private val remaining = new java.util.concurrent.atomic.AtomicInteger(0)
  @volatile var fired = false

  def arm(n: Int): Unit = { remaining.set(n); fired = false }

  /** Consume a charge when `cond` holds and charges remain. */
  def shouldFail(cond: Boolean): Boolean = {
    val hit = cond && remaining.getAndUpdate(x => if (x > 0) x - 1 else 0) > 0
    if (hit) fired = true
    hit
  }
}
