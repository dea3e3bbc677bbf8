package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.StatefulExec
import graft.streaming.{SinkGate, StateRescale}

/** END-TO-END zero-downtime handoff (docs/ZERO_DOWNTIME_MIGRATION.md,
  * executed): OLD keeps serving while NEW warms up from a PINNED state
  * export taken against the LIVE query, processes post-fence input
  * behind a closed [[SinkGate]], and the gate opens only after the
  * fencing check — the combined published output must equal a
  * never-stopped reference row-for-row. This is the overlapping-jobs +
  * offset-fencing recipe the design note specifies, with its three load-
  * bearing claims each witnessed:
  *
  *  1. the export is taken while OLD is STILL RUNNING
  *     ([[StateRescale.readStateAt]] pinned to [[StateRescale.lastCommittedBatch]] —
  *     "latest" against a live checkpoint is a moving target);
  *  2. NEW runs CONCURRENTLY with OLD at a DIFFERENT partition count,
  *     publicly invisible until cutover (the gate stages exactly-once);
  *  3. cutover is decided from commit logs (OLD drained to the fence),
  *     never assumed.
  */
class ZeroDowntimeSpec extends AnyFunSuite with SparkFixture {

  private val runningSum = new graft.operators.StatefulLogic[Long, SEvent, Long, STotal] {
    def zero = 0L
    def update(k: Long, v: SEvent, s: Long): (Long, IterableOnce[STotal]) = {
      val s2 = s + v.v
      (s2, Iterator.single(STotal(k, s2)))
    }
  }

  test("zero-downtime handoff: live export + gated cutover equals the never-stopped run") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_zdt").toString
    // the timeline, fenced between f2 and f3
    val f1 = Seq(SEvent(1, 10), SEvent(2, 5))
    val f2 = Seq(SEvent(1, 7), SEvent(3, 2))
    val f3 = Seq(SEvent(1, 1), SEvent(2, 4), SEvent(4, 9))
    val f4 = Seq(SEvent(3, 3), SEvent(4, 1))

    // ----- reference: one never-stopped query over the whole timeline
    val refIn = MemoryStream[SEvent]
    val refQ = StatefulExec.stream[Long, SEvent, Long, STotal](
      refIn.toDS(), _.k, runningSum)
      .writeStream.format("memory").queryName("zdt_ref")
      .option("checkpointLocation", s"$dir/ckptRef")
      .outputMode("append").start()
    refIn.addData(f1 ++ f2: _*); refQ.processAllAvailable()
    refIn.addData(f3 ++ f4: _*); refQ.processAllAvailable()
    val refRows = spark.table("zdt_ref").as[STotal].collect()
      .map(t => (t.k, t.total)).sorted.toSeq
    refQ.stop()

    val origParts = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      // ----- OLD: owns everything below the fence, publishes directly
      spark.conf.set("spark.sql.shuffle.partitions", "4")
      val oldIn = MemoryStream[SEvent]
      val oldQ = StatefulExec.stream[Long, SEvent, Long, STotal](
        oldIn.toDS(), _.k, runningSum)
        .writeStream
        .option("checkpointLocation", s"$dir/ckptOld")
        .format("parquet").option("path", s"$dir/outOld")
        .outputMode("append").start()
      oldIn.addData(f1: _*); oldQ.processAllAvailable()
      oldIn.addData(f2: _*); oldQ.processAllAvailable()
      assert(oldQ.isActive, "precondition: OLD must still be running")

      // ----- phase 2: PINNED export against the LIVE query
      val pin = StateRescale.lastCommittedBatch(s"$dir/ckptOld")
        .getOrElse(fail("OLD committed nothing"))
      val seed = StateRescale.initialStateFrom[Long, Long](
        spark, s"$dir/ckptOld", batchId = pin)

      // ----- NEW: different layout, post-fence input, gate CLOSED
      spark.conf.set("spark.sql.shuffle.partitions", "9")
      val gate = new SinkGate(s"$dir/stage", s"$dir/public")
      val newIn = MemoryStream[SEvent]
      val newQ = StatefulExec.stream[Long, SEvent, Long, STotal](
        newIn.toDS(), _.k, runningSum, initialState = Some(seed))
        .writeStream
        .option("checkpointLocation", s"$dir/ckptNew")
        .foreachBatch((batch: org.apache.spark.sql.Dataset[STotal], id: Long) =>
          gate.sink(batch.toDF(), id))
        .outputMode("append").start()
      // the OVERLAP: NEW processes f3 while OLD is still up
      newIn.addData(f3: _*); newQ.processAllAvailable()
      assert(oldQ.isActive, "the overlap must be real: OLD still running")
      assert(!new java.io.File(s"$dir/public").exists() ||
        new java.io.File(s"$dir/public").listFiles().isEmpty,
        "gate closed but NEW output became public")

      // ----- phase 3: drain OLD at the fence, CHECK, then cut over
      oldQ.processAllAvailable(); oldQ.stop()
      assert(StateRescale.lastCommittedBatch(s"$dir/ckptOld").contains(pin),
        "OLD advanced past the export pin — the fence was not respected " +
          "and the seed is stale (the delta re-seed path would be required)")
      gate.open()
      newIn.addData(f4: _*); newQ.processAllAvailable(); newQ.stop()
      assert(StateRescale.statePartitionCount(s"$dir/ckptNew") == 9,
        "NEW did not adopt the new layout")

      // ----- the contract: OLD's output ∪ NEW's published output == ref
      val oldRows = spark.read.schema("k LONG, total LONG")
        .parquet(s"$dir/outOld").as[STotal].collect()
      val newRows = spark.read.schema("k LONG, total LONG")
        .parquet(s"$dir/public").as[STotal].collect()
      val got = (oldRows ++ newRows).map(t => (t.k, t.total)).sorted.toSeq
      assert(got == refRows,
        s"handoff diverged from the never-stopped run: $got vs $refRows")
    } finally spark.conf.set("spark.sql.shuffle.partitions", origParts)
  }
}
