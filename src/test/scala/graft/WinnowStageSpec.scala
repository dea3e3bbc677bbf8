package graft

import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.expressions.Window
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextFunctions

/** Pins the oracle-stage contract for q_fingerprint_winnow (r18): the
  * winnow selection is exactly `DISTINCT(min over complete w-row frames)`
  * of the staged rolling k-gram hash stream — the tie rule only picks
  * WHICH index supplies a window minimum, never its value — so the DuckDB
  * SQL fold over `__STAGE__/winnow_kgrams` and the engine's WinnowExpr
  * agree per document. A drift in either the staged stream (KgramHashesExpr)
  * or the fold (WinnowExpr) breaks this spec before it breaks the driver.
  */
class WinnowStageSpec extends AnyFunSuite with SparkFixture {

  private val (k, w) = (16, 32)

  test("window-min fold over the staged k-gram stream == WinnowExpr, per doc") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    // The engine's fingerprints (sorted ascending by WinnowExpr contract).
    val expected = docs
      .select(F.col("doc_id"),
        TextFunctions.winnowFingerprints(F.col("text"), k, w).as("fps"))
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Long](1).toVector).toMap
    // The SQL fold, expressed with the same window arithmetic the oracle
    // runs: min over `ROWS w-1 PRECEDING..CURRENT`, complete frames only
    // (pos >= least(w-1, m-1)), distinct values, sorted.
    val staged = docs.select(F.col("doc_id"),
      F.posexplode(TextFunctions.kgramHashes(F.col("text"), k)).as(Seq("pos", "h")))
    val cnt = staged.groupBy("doc_id").agg(F.count(F.lit(1)).as("m"))
    val win = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(-(w - 1), Window.currentRow)
    val folded = staged.join(cnt, "doc_id")
      .withColumn("fp", F.min("h").over(win))
      .filter(F.col("pos") >= F.least(F.lit(w - 1), F.col("m") - 1))
      .select("doc_id", "fp").distinct()
      .collect().groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.map(_.getLong(1)).sorted.toVector }
    val ids = expected.keySet ++ folded.keySet
    val bad = ids.filter(id =>
      expected.getOrElse(id, Vector.empty).nonEmpty !=
        folded.contains(id) ||
      expected.getOrElse(id, Vector.empty).sorted !=
        folded.getOrElse(id, Vector.empty))
    assert(bad.isEmpty, s"winnow fold diverges for doc_ids ${bad.take(5)}")
    assert(expected.values.count(_.nonEmpty) > 0, "no fingerprints at all")
  }

  test("KgramHashesExpr: generated and interpreted paths agree") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    def run(codegen: Boolean): Seq[String] = withModes(codegen) {
      docs.select(F.col("doc_id"),
          TextFunctions.kgramHashes(F.col("text"), k).as("hs"))
        .collect().map(_.toString).sorted.toSeq
    }
    assert(run(codegen = true) == run(codegen = false))
  }
}
