package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.StatefulLogic
import graft.testing.OperatorTester

// Top-level (not spec-inner) so Spark can instantiate the encoders
// without the test class's outer scope.
final case class OtEv(k: Long, v: Long, ts: Long)
final case class OtTot(k: Long, total: Long)

/** Coverage for every [[OperatorTester]] engine variant without a TTL
  * (StreamingSpec's event-time TTL test drives `tws` with one): the
  * fMGWS tester, the transformWithState tester, and the one-shot batch
  * checker — each with the same tiny running-sum logic so cross-engine
  * output parity is part of the assertion. */

class OperatorTesterSpec extends AnyFunSuite with SparkFixture {

  private val runningSum = new StatefulLogic[Long, OtEv, Long, OtTot] {
    def zero = 0L
    def update(k: Long, e: OtEv, s: Long): (Long, IterableOnce[OtTot]) = {
      val s2 = s + e.v
      (s2, Iterator.single(OtTot(k, s2)))
    }
  }

  test("apply (no-TTL fMGWS): state persists across epochs, recvLocal drains in order") {
    import spark.implicits._
    val t = OperatorTester[Long, OtEv, Long, OtTot](runningSum, _.k)(spark)
    assert(t.stepWith(OtEv(1, 5, 1), OtEv(2, 7, 1)).toSet == Set(OtTot(1, 5), OtTot(2, 7)))
    assert(t.stepWith(OtEv(1, 3, 2)) == Seq(OtTot(1, 8)), "state lost between epochs")
    // recvLocal replays the same emissions one at a time, then empties.
    val drained = Iterator.continually(t.recvLocal()).takeWhile(_.isDefined).flatten.toSeq
    assert(drained.toSet == Set(OtTot(1, 5), OtTot(2, 7), OtTot(1, 8)) && drained.length == 3)
    assert(t.recvLocal().isEmpty)
    t.close()
  }

  test("tws (transformWithState engine): same contract, same outputs") {
    import spark.implicits._
    val t = OperatorTester.tws[Long, OtEv, Long, OtTot](
      runningSum, _.k, eventTimeMs = _.ts)(spark)
    assert(t.stepWith(OtEv(1, 5, 60000), OtEv(2, 7, 60000)).toSet == Set(OtTot(1, 5), OtTot(2, 7)))
    assert(t.stepWith(OtEv(1, 3, 120000)) == Seq(OtTot(1, 8)))
    t.close()
  }

  test("batch: one-shot check of the batch execution path, parity with streaming") {
    import spark.implicits._
    val out = OperatorTester.batch[Long, OtEv, Long, OtTot](
      Seq(OtEv(1, 5, 1), OtEv(2, 7, 1), OtEv(1, 3, 2)),
      _.k, Ordering.by(_.ts), runningSum)(spark)
    // Same per-key totals the streaming testers produced above.
    assert(out.toSet == Set(OtTot(1, 5), OtTot(1, 8), OtTot(2, 7)))
  }
}
