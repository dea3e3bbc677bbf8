package graft

import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Corpus

/** Corpus-maintenance operators (round 11): latest-wins upsert and
  * snapshot diff — the update path of a living training corpus. */
class CorpusSpec extends AnyFunSuite with SparkFixture {

  test("upsert keeps the highest version per id, update side wins ties") {
    import spark.implicits._
    val base = Seq(
      (1L, "a-v0", 0), (2L, "b-v0", 0), (3L, "c-v5", 5), (4L, "d-v0", 0)
    ).toDF("doc_id", "text", "version")
    val updates = Seq(
      (1L, "a-v1", 1),  // plain update: higher version replaces
      (3L, "c-v2", 2),  // stale update: base already at v5, base survives
      (4L, "d-upd", 0), // version TIE: the update side wins
      (9L, "new", 1)    // insert
    ).toDF("doc_id", "text", "version")
    val got = Corpus.upsert(base, updates).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getInt(2))).toMap
    assert(got == Map(
      1L -> ("a-v1", 1), 2L -> ("b-v0", 0), 3L -> ("c-v5", 5),
      4L -> ("d-upd", 0), 9L -> ("new", 1)))
  }

  test("upsert preserves every base column through the merge") {
    import spark.implicits._
    val base = Seq((1L, "t", "en", 7L, 0)).toDF("doc_id", "text", "lang", "n_chars", "version")
    val updates = Seq((1L, "t2", "de", 9L, 1)).toDF("doc_id", "text", "lang", "n_chars", "version")
    val out = Corpus.upsert(base, updates)
    assert(out.columns.toSeq == Seq("doc_id", "text", "lang", "n_chars", "version"))
    val r = out.collect().head
    assert(r.getString(1) == "t2" && r.getString(2) == "de" && r.getLong(3) == 9L)
  }

  test("diff classifies added / removed / changed and drops the unchanged bulk") {
    import spark.implicits._
    val a = Seq((1L, "same"), (2L, "old"), (3L, "gone")).toDF("doc_id", "text")
    val b = Seq((1L, "same"), (2L, "new"), (4L, "born")).toDF("doc_id", "text")
    val got = Corpus.diff(a, b).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(2L -> "changed", 3L -> "removed", 4L -> "added"))
  }

  test("upsert algebra: empty updates = identity; re-applying the same updates is idempotent") {
    import spark.implicits._
    val base = (0L until 40L).map(i => (i, s"doc-$i", 0)).toDF("doc_id", "text", "version")
    val none = Seq.empty[(Long, String, Int)].toDF("doc_id", "text", "version")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(canon(Corpus.upsert(base, none)) == canon(base))
    val updates = Seq((3L, "doc-3-v1", 1), (41L, "new", 1)).toDF("doc_id", "text", "version")
    val once = Corpus.upsert(base, updates)
    val twice = Corpus.upsert(once, updates)
    assert(canon(twice) == canon(once))
  }

  test("diff of identical snapshots is empty") {
    import spark.implicits._
    val a = (0L until 30L).map(i => (i, s"doc-$i")).toDF("doc_id", "text")
    assert(Corpus.diff(a, a).count() == 0L)
  }

  test("upsert then diff round-trip: the diff of base vs upserted equals the update set") {
    import spark.implicits._
    val base = (0L until 50L).map(i => (i, s"doc-$i", 0)).toDF("doc_id", "text", "version")
    val updates = Seq((7L, "doc-7-v1", 1), (13L, "doc-13-v1", 1), (99L, "fresh", 1))
      .toDF("doc_id", "text", "version")
    val merged = Corpus.upsert(base, updates)
    assert(merged.count() == 51L)
    val got = Corpus.diff(base.drop("version"), merged.drop("version")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(7L -> "changed", 13L -> "changed", 99L -> "added"))
  }

  test("asOf serves each version's exact corpus from one change log") {
    import spark.implicits._
    val log = Seq(
      (1L, 0L, "u", "a-v0"), (2L, 0L, "u", "b-v0"), (3L, 0L, "u", "c-v0"),
      (2L, 1L, "u", "b-v1"),                 // refresh
      (3L, 2L, "d", null.asInstanceOf[String]), // tombstone
      (4L, 2L, "u", "d-v2"),                 // late insert
      (3L, 3L, "u", "c-v3")                  // re-insert after delete
    ).toDF("doc_id", "version", "op", "text")
    def at(v: Long) = Corpus.asOf(log, v).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(at(0L) == Map(1L -> (0L, "a-v0"), 2L -> (0L, "b-v0"), 3L -> (0L, "c-v0")))
    assert(at(1L) == Map(1L -> (0L, "a-v0"), 2L -> (1L, "b-v1"), 3L -> (0L, "c-v0")))
    // v2: the tombstone suppresses id 3, the insert appears
    assert(at(2L) == Map(1L -> (0L, "a-v0"), 2L -> (1L, "b-v1"), 4L -> (2L, "d-v2")))
    // v3: re-insert after delete resurfaces id 3
    assert(at(3L) == Map(1L -> (0L, "a-v0"), 2L -> (1L, "b-v1"),
      3L -> (3L, "c-v3"), 4L -> (2L, "d-v2")))
    // partitioning-invariant (the winner is a max_by, not arrival order)
    assert(Corpus.asOf(log.repartition(7), 2L).collect().map(_.toString).sorted.toSeq ==
      Corpus.asOf(log, 2L).collect().map(_.toString).sorted.toSeq)
  }

  test("compact: the clustered snapshot is content-equal to the as-of view") {
    import spark.implicits._
    val log = Seq(
      (1L, 0L, "u", "a-v0"), (2L, 0L, "u", "b-v0"), (3L, 0L, "u", "c-v0"),
      (2L, 1L, "u", "b-v1"),
      (3L, 2L, "d", null.asInstanceOf[String]),
      (4L, 2L, "u", "d-v2"),
      (3L, 3L, "u", "c-v3") // beyond the compaction cut: must be absent
    ).toDF("doc_id", "version", "op", "text")
    val out = tempDir("graft_compact_spec_")
    try {
      Corpus.compact(log, version = 2L, out.toString,
        clusterCols = Seq("doc_id"), ranges = 2)
      val read = spark.read.parquet(out.toString).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
      val view = Corpus.asOf(log, 2L).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
      assert(read == view, s"compaction not content-invisible: $read vs $view")
      assert(!read.contains(3L), "tombstoned id must be absent from the snapshot")
    } finally {
      val st = java.nio.file.Files.walk(out)
      try st.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally st.close()
    }
  }

  test("optimizeLayout clusters files stats-tight and preserves content exactly") {
    import org.apache.spark.sql.{functions => F}
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val out = tempDir("graft_layout_spec_").toString
    try {
      Corpus.optimizeLayout(docs, out, Seq("lang", "n_chars"), ranges = 8)
      // content preservation: the rewrite is invisible to a full reader
      val back = spark.read.parquet(out)
      assert(back.collect().map(_.toString).sorted.toSeq ==
        docs.collect().map(_.toString).sorted.toSeq)
      // file-level clustering: each written file covers a NARROW
      // (lang, n_chars) range — at most 2 langs (range boundaries may
      // straddle one value) — which is exactly what makes min/max footer
      // stats prune a lang-filtered scan
      val files = new java.io.File(out).listFiles()
        .filter(f => f.getName.endsWith(".parquet")).map(_.toString)
      assert(files.nonEmpty && files.length <= 8)
      files.foreach { f =>
        val langs = spark.read.parquet(f).select("lang").distinct().count()
        assert(langs <= 2, s"$f spans $langs langs — not clustered")
      }
      // the pruned scan reads fewer rows than the corpus: the de-filter
      // over the clustered layout must touch only de-bearing row groups
      val scan = spark.read.parquet(out).filter(F.col("lang") === "de")
      val n = scan.count()
      val exact = docs.filter(F.col("lang") === "de").count()
      assert(n == exact)
      val scanned = {
        val plans = scan.queryExecution.executedPlan.collectLeaves()
        plans.flatMap(_.metrics.get("numOutputRows")).map(_.value).sum
      }
      assert(scanned < docs.count(),
        s"scan emitted $scanned rows — footer stats pruned nothing")
    } finally {
      val st = java.nio.file.Files.walk(java.nio.file.Paths.get(out))
      try st.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally st.close()
    }
  }
}
