package graft

import java.nio.file.Files

import org.apache.spark.sql.{functions => F, SaveMode}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{StatefulExec, StatefulLogic}
import graft.streaming.StreamingOps

case class SEvent(k: Long, v: Long)
case class STotal(k: Long, total: Long)
/** Watermark-carrying event: the watermarked `ts` column must stay in the
  * Dataset for EventTimeTimeout (Spark checks it reaches the stateful op). */
case class WmEvent(k: Long, v: Long, ts: java.sql.Timestamp)
case class SDoc(doc_id: Long, text: String)

/** Structured-Streaming execution: keyed state across micro-batches
  * (snapshot/ → checkpointLocation), resume after restart
  * (examples/slatedb_backend_failing.rs), exactly-once sink replay
  * (sinks/stateful.rs). */
class StreamingSpec extends AnyFunSuite with SparkFixture {

  private val runningSum = new StatefulLogic[Long, SEvent, Long, STotal] {
    def zero = 0L
    def update(k: Long, v: SEvent, s: Long): (Long, IterableOnce[STotal]) = {
      val s2 = s + v.v
      (s2, Iterator.single(STotal(k, s2)))
    }
  }

  test("flatMapGroupsWithState keeps per-key state across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[SEvent]
    val out = StatefulExec.stream[Long, SEvent, Long, STotal](
      input.toDS(), _.k, runningSum)
    val q = out.writeStream.format("memory").queryName("totals_1")
      .outputMode("append").start()
    input.addData(SEvent(1, 10), SEvent(2, 5))
    q.processAllAvailable()
    input.addData(SEvent(1, 7)) // state for key 1 must persist: 10 + 7
    q.processAllAvailable()
    val rows = spark.table("totals_1").as[STotal].collect().toSeq
    q.stop()
    assert(rows.contains(STotal(1, 17)), s"state lost across batches: $rows")
    assert(rows.contains(STotal(2, 5)))
  }

  test("transformWithState (state v2) keeps per-key state across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    SessionConf.withConf(spark, SessionConf.RocksDbProvider) {
      val input = MemoryStream[SEvent]
      val out = StatefulExec.streamTws[Long, SEvent, Long, STotal](
        input.toDS(), _.k, runningSum)
      val q = out.writeStream.format("memory").queryName("totals_tws")
        .outputMode("append").start()
      input.addData(SEvent(1, 10), SEvent(2, 5))
      q.processAllAvailable()
      input.addData(SEvent(1, 7)) // ValueState for key 1 must persist: 10 + 7
      q.processAllAvailable()
      val rows = spark.table("totals_tws").as[STotal].collect().toSeq
      q.stop()
      assert(rows.contains(STotal(1, 17)), s"state lost across batches: $rows")
      assert(rows.contains(STotal(2, 5)))
    }
  }

  test("dedupExactStream keeps first occurrence across micro-batches, bounded by watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    def ts(s: Long) = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(s))
    val out = graft.streaming.StreamingOps.dedupExactStream(
      input.toDS().toDF("ts", "text"), "ts", "10 seconds")
    val q = out.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    input.addData(ts(0) -> "alpha doc", ts(1) -> "beta doc", ts(2) -> "alpha doc")
    q.processAllAvailable()
    input.addData(ts(3) -> "alpha doc", ts(4) -> "gamma doc") // dup within horizon
    q.processAllAvailable()
    val texts = spark.table("dedup_stream").select("text").as[String].collect().toSeq
    q.stop()
    assert(texts.sorted == Seq("alpha doc", "beta doc", "gamma doc"),
      s"expected one survivor per distinct text, got $texts")
  }

  test("corpus-prep operators (scrub, stratified sample, chunk) run unchanged on a stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, String)]
    val stream = input.toDS().toDF("doc_id", "source", "text")
    // stateless row-local ops compose on a streaming DataFrame as-is
    val out = graft.operators.Packing.chunk(
      graft.operators.Sampling.stratifiedSample(
        stream.withColumn("text",
          graft.functions.TextFunctions.scrub(F.col("text"))),
        "source", "doc_id", Map("web" -> "ff")), // keep ~all of 'web', drop others
      size = 3, overlap = 1)
    val q = out.writeStream.format("memory").queryName("prep_stream")
      .outputMode("append").start()
    input.addData(
      (1L, "web", "one two three four mail a@b.com"),
      (2L, "books", "dropped stratum"),
      (3L, "web", "short 12345 text"))
    q.processAllAvailable()
    val rows = spark.table("prep_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    q.stop()
    val byDoc = rows.groupBy(_._1)
    assert(!byDoc.contains(2L), "books stratum must be dropped")
    assert(byDoc.contains(1L) && byDoc.contains(3L))
    val allText = rows.map(_._3).mkString(" ")
    // chunking lowercases tokens, so the scrub markers come out lowercased
    assert(allText.contains("<email>") && allText.contains("<num>"),
      s"scrub must apply before chunking: $allText")
    // doc 1: 6 tokens, size 3 stride 2 -> chunks at 0,1,2
    assert(byDoc(1L).map(_._2).sorted.toSeq == Seq(0L, 1L, 2L))
  }

  test("web-prep operators (htmlExtract, nfcNormalize, canonicalUrl) run unchanged on a stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, String)]
    val stream = input.toDS().toDF("doc_id", "url", "html")
    val TF = graft.functions.TextFunctions
    val out = stream.select(
      F.col("doc_id"),
      TF.canonicalUrl(F.col("url")).as("u"),
      TF.nfcNormalize(TF.htmlExtract(F.col("html"))).as("t"))
    val q = out.writeStream.format("memory").queryName("webprep_stream")
      .outputMode("append").start()
    input.addData(
      (1L, "HTTP://Ex.COM:80/p?b=2&a=1#f",
        "<p>Cafe\u0301</p><script>x()</script>"))
    q.processAllAvailable()
    val rows = spark.table("webprep_stream").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    q.stop()
    assert(rows.toSeq == Seq((1L, "http://ex.com/p?a=1&b=2", "Caf\u00e9")),
      s"web-prep chain diverged on a stream: ${rows.toSeq}")
  }

  test("cmRegisters as a streaming aggregation: bounded state equals the batch sketch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.Sketches
    val input = MemoryStream[String]
    val stream = input.toDS().toDF("key")
    val q = Sketches.cmRegisters(stream, "key", d = 3, w = 32)
      .writeStream.format("memory").queryName("cm_stream")
      .outputMode("complete").start()
    val batch1 = Seq("a", "b", "a", "c", "a")
    val batch2 = Seq("b", "d", "a", "d", "d", "d")
    input.addData(batch1: _*); q.processAllAvailable()
    input.addData(batch2: _*); q.processAllAvailable()
    val streamed = spark.table("cm_stream").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
    q.stop()
    // the streaming agg's state after both batches == the batch sketch of
    // the whole stream (CM sum-merge is the aggregation itself), and the
    // register count is bounded by d*w regardless of stream size
    val whole = Sketches.cmRegisters(
      (batch1 ++ batch2).toDF("key"), "key", d = 3, w = 32).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
    assert(streamed == whole, s"streamed=$streamed batch=$whole")
    assert(streamed.size <= 3 * 32)
  }

  test("hllRegisters as a streaming aggregation: max-merged state equals the batch sketch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.Sketches
    val input = MemoryStream[(String, Long)]
    val stream = input.toDS().toDF("g", "v")
    val q = Sketches.hllRegisters(stream, Seq("g"), "v")
      .writeStream.format("memory").queryName("hll_stream")
      .outputMode("complete").start()
    val batch1 = (0L until 40L).map(i => ("x", i)) ++ Seq(("y", 1L), ("y", 2L))
    val batch2 = (20L until 70L).map(i => ("x", i)) ++ Seq(("y", 2L), ("y", 9L))
    input.addData(batch1: _*); q.processAllAvailable()
    input.addData(batch2: _*); q.processAllAvailable()
    val streamed = spark.table("hll_stream").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
    q.stop()
    val whole = Sketches.hllRegisters(
      (batch1 ++ batch2).toDF("g", "v"), Seq("g"), "v").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
    assert(streamed == whole, s"streamed=$streamed batch=$whole")
    assert(streamed.size <= 2 * 256, "state must stay bounded at groups x m")
    // and the estimate folded from the streamed registers is the batch one
    val estS = Sketches.hllEstimate(spark.createDataFrame(
      streamed.toSeq.map(t => (t._1, t._2, t._3))).toDF("g", "hll_b", "hll_m"),
      Seq("g")).collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    val estB = Sketches.hllCount((batch1 ++ batch2).toDF("g", "v"), Seq("g"), "v")
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(estS == estB)
  }

  test("bottomKSampleStream: fMGWS state equals the batch bottom-k after multiple batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.Sketches
    val input = MemoryStream[(String, Long, Double)]
    val stream = input.toDS().toDF("g", "id", "value")
    val snaps = graft.streaming.StreamingOps.bottomKSampleStream(
      stream, "g", "value", "id", k = 4)
    val q = snaps.writeStream.format("memory").queryName("kmv_stream")
      .outputMode("append").start()
    val batch1 = (0L until 10L).map(i => ("a", i, i * 1.5)) ++ Seq(("b", 100L, 7.0))
    val batch2 = (10L until 25L).map(i => ("a", i, i * 0.5)) ++ Seq(("b", 101L, 3.0))
    input.addData(batch1: _*); q.processAllAvailable()
    input.addData(batch2: _*); q.processAllAvailable()
    val rows = spark.table("kmv_stream").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getDouble(3)))
    q.stop()
    // final snapshot per group = max cumulative-count version
    val finalSamp = rows.groupBy(_._1).toSeq.flatMap { case (_, rs) =>
      val mx = rs.map(_._2).max
      rs.filter(_._2 == mx).toSeq
    }.map(t => (t._1, t._3, t._4)).toSet
    val whole = Sketches.bottomKSample(
      (batch1 ++ batch2).toDF("g", "id", "value"), Seq("g"), "value", "id", k = 4)
      .collect().map(r => (r.getString(0), r.getString(2), r.getDouble(1))).toSet
    assert(finalSamp == whole, s"streamed=$finalSamp batch=$whole")
    // bounded: never more than k entries per group in any snapshot
    rows.groupBy(r => (r._1, r._2)).foreach { case (gv, rs) =>
      assert(rs.size <= 4, s"snapshot $gv exceeded k: ${rs.size}")
    }
  }

  test("semanticDedupStream: cross-BATCH pairs come from the index carry-over") {
    import spark.implicits._
    // history: ids 0..19 on two orthogonal axes (frozen 4-cell quantizer
    // trains on them); batch 1 plants id 100 = exact copy of the axis-a
    // center; batch 2 plants id 200 = the SAME vector. The (100, 200)
    // pair can only exist if batch 1 was appended to the index before
    // batch 2 probed — the carry-over path the sf-gate data never
    // exercises (its shard has no cross-batch near-dups).
    val a = Array(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)
    val b = Array(0f, 1f, 0f, 0f, 0f, 0f, 0f, 0f)
    val hist = ((0L until 10L).map(i => (i, a)) ++ (10L until 20L).map(i => (i, b)))
      .toDF("vec_id", "embedding")
    val tmp = tempDir("graft_sem_stream_spec_").toString
    val path = s"$tmp/idx"
    val src = s"$tmp/src"
    graft.ann.Ann.ivfIndexInit(hist, path, cells = 4, sampleN = 20)
    Seq((100L, a)).toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(s"$src/b1")
    Seq((200L, a), (201L, Array(0f, 0f, 0f, 1f, 0f, 0f, 0f, 0f)))
      .toDF("vec_id", "embedding").coalesce(1).write.parquet(s"$src/b2")
    val stream = spark.readStream
      .schema("vec_id BIGINT, embedding ARRAY<FLOAT>")
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$src/b*")
    val outDir = s"$tmp/out"
    val ckpt = s"$tmp/ckpt"
    graft.streaming.StreamingOps.semanticDedupStream(
      stream, path, outDir, ckpt).awaitTermination()
    val pairs = spark.read.parquet(
        new java.io.File(outDir).listFiles()
          .filter(f => f.isDirectory && f.getName.startsWith("batch="))
          .map(_.getAbsolutePath).toSeq: _*)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // batch-1 vs history
    assert((0L until 10L).forall(i => pairs.contains((i, 100L))), s"got $pairs")
    // batch-2 vs history AND vs batch 1 (the carry-over pair)
    assert((0L until 10L).forall(i => pairs.contains((i, 200L))), s"got $pairs")
    assert(pairs.contains((100L, 200L)), s"cross-batch carry-over pair missing: $pairs")
    // orthogonal batch-2 vector stays clean; no history-internal pairs
    assert(!pairs.exists(p => p._1 == 201L || p._2 == 201L), s"got $pairs")
    assert(pairs.forall(p => p._2 >= 100L), s"history-internal pair leaked: $pairs")
  }

  test("psiBucketsStream: fMGWS histogram equals the batch histogram after multiple batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Double]
    val stream = input.toDS().toDF("q")
    val snaps = graft.streaming.StreamingOps.psiBucketsStream(stream, "q", buckets = 10)
    val q = snaps.writeStream.format("memory").queryName("psi_stream")
      .outputMode("append").start()
    // out-of-range scores must clamp into the edge bins like the batch op
    val batch1 = Seq(0.05, 0.15, 0.17, 0.95, 1.0, -0.2)
    val batch2 = Seq(0.05, 0.83, 2.5, 0.18)
    input.addData(batch1: _*); q.processAllAvailable()
    input.addData(batch2: _*); q.processAllAvailable()
    val rows = spark.table("psi_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    q.stop()
    val streamed = rows.groupBy(_._1).map { case (b, rs) => b -> rs.map(_._2).max }
    val batch = (batch1 ++ batch2).toDF("q")
      .select(graft.operators.Profile.psiBucket(F.col("q"), 10).as("b"))
      .groupBy("b").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed == batch, s"streamed=$streamed batch=$batch")
    // cumulative versions strictly increase per bucket
    rows.groupBy(_._1).foreach { case (b, rs) =>
      assert(rs.map(_._2).distinct.length == rs.length,
        s"bucket $b re-emitted a non-increasing count: ${rs.toSeq}")
    }
  }

  test("prioritySampleStream: fMGWS top-(k+1) state equals the batch priority sample") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Sampling
    val input = MemoryStream[(Long, Long)]
    val stream = input.toDS().toDF("doc_id", "w")
    val snaps = graft.streaming.StreamingOps.prioritySampleStream(
      stream, "doc_id", F.col("w"), k = 5)
    val q = snaps.writeStream.format("memory").queryName("psample_stream")
      .outputMode("append").start()
    val batch1 = (0L until 20L).map(i => (i, i % 7 + 1))
    val batch2 = (20L until 45L).map(i => (i, i % 11 + 1))
    input.addData(batch1: _*); q.processAllAvailable()
    input.addData(batch2: _*); q.processAllAvailable()
    // replay: a re-delivered batch collapses in the TreeSet — the
    // candidate SET after replay must equal the set before it
    input.addData(batch2: _*); q.processAllAvailable()
    val rows = spark.table("psample_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    q.stop()
    // bounded: no snapshot version carries more than k+1 candidates
    rows.groupBy(_._1).foreach { case (v, rs) =>
      assert(rs.size <= 6, s"snapshot ver=$v exceeded k+1: ${rs.size}")
    }
    // replay idempotence: last two snapshots carry the same candidate set
    val vers = rows.map(_._1).distinct.sorted
    val mx = vers.last
    val prev = vers(vers.length - 2)
    assert(rows.filter(_._1 == mx).map(t => (t._2, t._3)).toSet ==
      rows.filter(_._1 == prev).map(t => (t._2, t._3)).toSet,
      "replayed batch changed the candidate set")
    // final snapshot -> audited batch sampler == batch sample of the union
    val latest = rows.filter(_._1 == mx).map(t => (t._2, t._3))
      .toSeq.toDF("doc_id", "w")
    def keyOf(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
    val streamedFinal = Sampling.prioritySample(latest, "doc_id", F.col("w"), k = 5)
      .collect().map(keyOf).toSet
    val whole = Sampling.prioritySample(
      (batch1 ++ batch2).toDF("doc_id", "w"), "doc_id", F.col("w"), k = 5)
      .collect().map(keyOf).toSet
    assert(streamedFinal == whole, s"streamed=$streamedFinal batch=$whole")
  }

  test("cdcApplyStream: micro-batched log serves the batch upsert; full replay is a no-op") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Corpus
    val base = Seq((1L, "one", 0), (2L, "two", 0), (3L, "three", 0))
      .toDF("doc_id", "text", "version")
    val upd1 = Seq((2L, "two-v1", 1))
    val upd2 = Seq((3L, "three-v1", 1), (9L, "nine-v1", 1))
    val logDir = tempDir("graft_cdc_log_").toString
    val ckpt1 = tempDir("graft_cdc_ck1_").toString
    def runStream(ckpt: String): Unit = {
      val input = MemoryStream[(Long, String, Int)]
      // ProcessingTime(0): the memory-stream driver feeds batches one at
      // a time (the gate's file source uses AvailableNow +
      // maxFilesPerTrigger for the same one-segment-per-batch effect)
      val q = graft.streaming.StreamingOps.exactlyOnceParquetSink(
        input.toDS().toDF("doc_id", "text", "version"), logDir, ckpt,
        trigger = Trigger.ProcessingTime(0))
      input.addData(upd1: _*); q.processAllAvailable()
      input.addData(upd2: _*); q.processAllAvailable()
      q.stop()
    }
    runStream(ckpt1)
    def segs() = new java.io.File(logDir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch=")).sorted
    assert(segs().length == 2, "one log segment per micro-batch")
    def serve(): Map[Long, (String, Int)] = {
      val log = spark.read.parquet(segs().map(_.getAbsolutePath).toSeq: _*)
      Corpus.upsert(base, log).collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
    }
    val got = serve()
    val expect = Corpus.upsert(base, (upd1 ++ upd2).toDF("doc_id", "text", "version"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
    assert(got == expect, s"merge-on-read diverged: $got vs $expect")
    assert(got(2L) == (("two-v1", 1)) && got(9L) == (("nine-v1", 1)) &&
      got(1L) == (("one", 0)))
    // redelivery: the WHOLE stream replays against a fresh checkpoint
    // (same batch ids) — the committed markers make every append a no-op
    val ckpt2 = tempDir("graft_cdc_ck2_").toString
    runStream(ckpt2)
    assert(segs().length == 2, "replayed batches must not duplicate segments")
    assert(serve() == expect, "replay changed the served corpus")
  }

  test("c4Rules runs unchanged on a stream (scan-only native pass)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val out = graft.functions.TextFunctions.c4Rules(
      input.toDS().toDF("doc_id", "text"))
    val q = out.writeStream.format("memory").queryName("c4_stream")
      .outputMode("append").start()
    val good = "this line has at least five words."
    input.addData(
      (1L, s"$good\n$good\n$good"),
      (2L, s"$good\nplease enable javascript right now here."))
    q.processAllAvailable()
    val rows = spark.table("c4_stream").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_kept"), r.getAs[Boolean]("c4_keep"))).toMap
    q.stop()
    assert(rows == Map(1L -> ((3L, true)), 2L -> ((1L, false))),
      s"streamed c4 diverged: $rows")
  }

  test("dedupMinhashStream drops exact re-sends, keeps distinct docs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    def ts(s: Long) = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(s))
    val a = "the quick brown fox jumps over the lazy dog today"
    val b = "a completely different document about spark streams here"
    val out = graft.streaming.StreamingOps.dedupMinhashStream(
      input.toDS().toDF("ts", "text"), "ts", "10 seconds")
    val q = out.writeStream.format("memory").queryName("mh_stream")
      .outputMode("append").start()
    input.addData(ts(0) -> a, ts(1) -> b, ts(1) -> "hi")
    q.processAllAvailable()
    input.addData(ts(2) -> a)    // identical doc → same band vector → dropped
    input.addData(ts(3) -> "hi") // short doc re-send → exact-key fallback → dropped
    q.processAllAvailable()
    val texts = spark.table("mh_stream").select("text").as[String].collect().toSeq
    q.stop()
    // A doc too short to shingle (< 3 tokens) must SURVIVE (exact-dedup
    // fallback), not vanish from the corpus.
    assert(texts.sorted == Seq(a, b, "hi").sorted,
      s"expected one survivor per doc incl. the short one: $texts")
  }

  test("checkpointed query resumes state after a restart") {
    import spark.implicits._
    val dir = tempDir("graft_ckpt_").toString
    val src = s"$dir/in"
    val ckpt = s"$dir/ckpt"
    val outDir = s"$dir/out"
    Seq(SEvent(1, 10), SEvent(2, 5)).toDS().write.mode(SaveMode.Append).parquet(src)

    def run(): Unit = {
      val stream = spark.readStream.schema("k LONG, v LONG").parquet(src).as[SEvent]
      val q = StatefulExec.stream[Long, SEvent, Long, STotal](stream, _.k, runningSum)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .format("parquet")
        .option("path", outDir)
        .outputMode("append")
        .start()
      q.awaitTermination()
    }
    run() // first incarnation processes the initial file, checkpoints state

    Seq(SEvent(1, 7)).toDS().write.mode(SaveMode.Append).parquet(src)
    run() // restart: must resume from checkpoint, not reprocess from zero

    val rows = spark.read.parquet(outDir).as[STotal].collect().toSeq
    assert(rows.contains(STotal(1, 17)), s"restart lost keyed state: $rows")
    assert(rows.count(_ == STotal(1, 10)) == 1, s"restart reprocessed old data: $rows")
  }

  test("watermarked tumbling window aggregates by event time") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val df = input.toDS().toDF("ts", "kind")
    val agg = StreamingOps.windowedCounts(df, "ts", "1 hour", "10 minutes", Seq("kind"))
    val q = agg.writeStream.format("memory").queryName("wins_1")
      .outputMode("complete").start()
    def t(min: Int) = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(min * 60L))
    input.addData((t(5), "a"), (t(20), "a"), (t(70), "a"))
    q.processAllAvailable()
    val rows = spark.table("wins_1")
      .select(F.col("kind"), F.col("window.start").cast("long").as("start"), F.col("n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    q.stop()
    assert(rows == Set(("a", 0L, 2L), ("a", 3600L, 1L)), s"got $rows")
  }

  test("KafkaShim streams a topic through readStream") {
    import spark.implicits._
    val root = tempDir("graft_kstream_").toString
    val df = (0L until 30L).map(i => (i % 3, s"k$i", s"v$i", i))
      .toDF("partition", "key", "value", "seq")
      .withColumn("ts", org.apache.spark.sql.functions.timestamp_seconds($"seq"))
    graft.sources.KafkaShim.write(df, root, "st", orderCols = Seq("seq"))
    val q = graft.sources.KafkaShim.readStream(spark, root, "st")
      .groupBy("partition").count()
      .writeStream.format("memory").queryName("kstream_counts")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val counts = spark.table("kstream_counts").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(counts == Map(0 -> 10L, 1 -> 10L, 2 -> 10L))
  }

  test("TTL state expires idle keys and fires onExpiry") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ttlLogic = new StatefulLogic[Long, SEvent, Long, STotal] {
      def zero = 0L
      def update(k: Long, v: SEvent, s: Long): (Long, IterableOnce[STotal]) =
        (s + v.v, Iterator.empty) // emit nothing on update...
      override def onExpiry(k: Long, s: Long): IterableOnce[STotal] =
        Iterator.single(STotal(k, s)) // ...only the final state on expiry
    }
    val input = MemoryStream[SEvent]
    val out = StatefulExec.stream[Long, SEvent, Long, STotal](
      input.toDS(), _.k, ttlLogic, ttlMs = Some(10L))
    // With processing-time timeouts the engine keeps scheduling batches to
    // evaluate expiry, so processAllAvailable never "drains" — poll the
    // sink with a deadline instead.
    val q = out.writeStream.format("memory").queryName("ttl_1")
      .outputMode("append")
      .trigger(Trigger.ProcessingTime("100 milliseconds"))
      .start()
    input.addData(SEvent(1, 4), SEvent(1, 2))
    val deadline = System.currentTimeMillis + 30000
    var rows = Seq.empty[STotal]
    while (!rows.contains(STotal(1, 6)) && System.currentTimeMillis < deadline) {
      Thread.sleep(200)
      input.addData(SEvent(2, 1)) // keep batches flowing so timeouts fire
      rows = spark.table("ttl_1").as[STotal].collect().toSeq
    }
    q.stop()
    assert(rows.contains(STotal(1, 6)), s"expiry did not deliver final state: $rows")
  }

  test("event-time TTL expires state when the WATERMARK passes, not the clock") {
    import spark.implicits._
    // MIGRATED to the public graft.testing.OperatorTester harness (the
    // reference's operator_tester.rs equivalent) — this test doubles as
    // its usage proof: same scenario and assertions as before the
    // migration, driven through sendLocal/step instead of a hand-rolled
    // MemoryStream + memory-sink rig.
    val ttlLogic = new StatefulLogic[Long, SEvent, Long, STotal] {
      def zero = 0L
      def update(k: Long, v: SEvent, s: Long): (Long, IterableOnce[STotal]) =
        (s + v.v, Iterator.empty)
      override def onExpiry(k: Long, s: Long): IterableOnce[STotal] =
        Iterator.single(STotal(k, s)) // final state, delivered on expiry
    }
    // (k, v) pairs where v doubles as the event time in minutes.
    val t = graft.testing.OperatorTester.eventTime[Long, SEvent, Long, STotal](
      ttlLogic, _.k, v => v.v * 60000L, ttlMs = 30 * 60000L)(spark)
    // epoch 1: keys 1 and 2 at t=10min → both armed to expire at t+30min
    val e1 = t.stepWith(SEvent(1, 10), SEvent(2, 10))
    assert(e1.isEmpty, s"nothing expires in epoch 1: $e1")
    // epoch 2: key 1 refreshed at t=60min → frontier advances to 60min,
    // putting key 2's deadline (40min) behind it
    t.stepWith(SEvent(1, 60))
    // epoch 3: timeouts fire against the epoch-2 frontier
    t.stepWith(SEvent(3, 61))
    val rows = t.outputs
    t.close()
    assert(rows.contains(STotal(2, 10)),
      s"advancing the watermark did not expire idle key 2: $rows")
    assert(!rows.exists(_.k == 1),
      s"key 1 was refreshed past the frontier and must NOT expire: $rows")
    // recvLocal drains the same emissions in order (reference recv_local).
    assert(t.recvLocal().contains(STotal(2, 10)) && t.recvLocal().isEmpty)
  }

  test("transformWithState timers expire on the WATERMARK, sparing refreshed keys") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    SessionConf.withConf(spark, SessionConf.RocksDbProvider) {
      val ttlLogic = new StatefulLogic[Long, WmEvent, Long, STotal] {
        def zero = 0L
        def update(k: Long, v: WmEvent, s: Long): (Long, IterableOnce[STotal]) =
          (s + v.v, Iterator.empty)
        override def onExpiry(k: Long, s: Long): IterableOnce[STotal] =
          Iterator.single(STotal(k, s))
      }
      val input = MemoryStream[SEvent]
      val ds = input.toDF()
        .withColumn("ts", F.timestamp_seconds($"v" * 60))
        .withWatermark("ts", "0 seconds")
        .as[WmEvent]
      val out = StatefulExec.streamTws[Long, WmEvent, Long, STotal](
        ds, _.k, ttlLogic, ttlMs = Some(30 * 60000L),
        eventTimeMs = Some(_.ts.getTime))
      val q = out.writeStream.format("memory").queryName("ttl_tws")
        .outputMode("append").start()
      // same scenario as the fMGWS event-time test: key 2 idles past its
      // deadline, key 1 is refreshed beyond the frontier
      input.addData(SEvent(1, 10), SEvent(2, 10))
      q.processAllAvailable()
      input.addData(SEvent(1, 60))
      q.processAllAvailable()
      input.addData(SEvent(3, 61))
      q.processAllAvailable()
      val rows = spark.table("ttl_tws").as[STotal].collect().toSeq
      q.stop()
      assert(rows.contains(STotal(2, 10)),
        s"watermark passing the deadline did not expire idle key 2: $rows")
      assert(!rows.exists(_.k == 1),
        s"key 1 was refreshed past the frontier and must NOT expire: $rows")
    }
  }

  test("transformWithState TTL deadline is monotone under late-but-valid records") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    SessionConf.withConf(spark, SessionConf.RocksDbProvider) {
      val ttlLogic = new StatefulLogic[Long, WmEvent, Long, STotal] {
        def zero = 0L
        def update(k: Long, v: WmEvent, s: Long): (Long, IterableOnce[STotal]) =
          (s + v.v, Iterator.empty)
        override def onExpiry(k: Long, s: Long): IterableOnce[STotal] =
          Iterator.single(STotal(k, s))
      }
      val input = MemoryStream[SEvent]
      val ds = input.toDF()
        .withColumn("ts", F.timestamp_seconds($"v" * 60))
        .withWatermark("ts", "10 minutes")
        .as[WmEvent]
      val out = StatefulExec.streamTws[Long, WmEvent, Long, STotal](
        ds, _.k, ttlLogic, ttlMs = Some(30 * 60000L),
        eventTimeMs = Some(_.ts.getTime))
      val q = out.writeStream.format("memory").queryName("ttl_tws_mono")
        .outputMode("append").start()
      // Key 1's LAST activity is min 100 → deadline 130. A later batch
      // delivers an older-but-valid record (min 95, above the min-90
      // watermark): a deadline recomputed from that batch alone would
      // re-arm BACKWARD to 125 and the min-126 watermark would expire the
      // key ~early; the persisted activity clock must keep 130.
      input.addData(SEvent(1, 100))
      q.processAllAvailable()
      input.addData(SEvent(1, 95))
      q.processAllAvailable()
      input.addData(SEvent(3, 136)) // watermark → min 126: < 130, > 125
      q.processAllAvailable()
      val rows = spark.table("ttl_tws_mono").as[STotal].collect().toSeq
      q.stop()
      assert(!rows.exists(_.k == 1),
        s"late-but-valid record moved the TTL deadline backward (premature expiry): $rows")
    }
  }

  test("stream-stream equi-join with watermarks joins within the time bound") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(min: Int) = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(min * 60L))
    val left = MemoryStream[(Long, java.sql.Timestamp, String)]
    val right = MemoryStream[(Long, java.sql.Timestamp, String)]
    val l = left.toDS().toDF("k", "lts", "lv").withWatermark("lts", "10 minutes")
    val r = right.toDS().toDF("k2", "rts", "rv").withWatermark("rts", "10 minutes")
    val joined = l.join(r,
      F.expr("k = k2 AND rts BETWEEN lts - INTERVAL 5 MINUTES AND lts + INTERVAL 5 MINUTES"))
    val q = joined.writeStream.format("memory").queryName("ssj_1")
      .outputMode("append").start()
    left.addData((1L, t(10), "a"), (2L, t(10), "b"))
    right.addData((1L, t(12), "x"), (2L, t(40), "y")) // key 2 outside ±5min
    q.processAllAvailable()
    val rows = spark.table("ssj_1").select("k", "lv", "rv").collect()
      .map(r0 => (r0.getLong(0), r0.getString(1), r0.getString(2))).toSet
    q.stop()
    assert(rows == Set((1L, "a", "x")), s"got $rows")
  }

  test("checkpoint resume survives a requested parallelism change") {
    import spark.implicits._
    val dir = tempDir("graft_rescale_").toString
    val src = s"$dir/in"
    val ckpt = s"$dir/ckpt"
    val outDir = s"$dir/out"
    Seq(SEvent(1, 10), SEvent(2, 5)).toDS().write.mode(SaveMode.Append).parquet(src)
    val origParts = spark.conf.get("spark.sql.shuffle.partitions")
    def run(): Unit = {
      val stream = spark.readStream.schema("k LONG, v LONG").parquet(src).as[SEvent]
      val q = StatefulExec.stream[Long, SEvent, Long, STotal](stream, _.k, runningSum)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .format("parquet").option("path", outDir)
        .outputMode("append").start()
      q.awaitTermination()
    }
    try {
      run()
      Seq(SEvent(1, 7)).toDS().write.mode(SaveMode.Append).parquet(src)
      // "rescale": ask for a different shuffle parallelism on restart — the
      // state store layout pins its partitioning from the checkpoint, so
      // keyed state must survive regardless of the new session setting.
      spark.conf.set("spark.sql.shuffle.partitions", "9")
      run()
      val rows = spark.read.parquet(outDir).as[STotal].collect().toSeq
      assert(rows.contains(STotal(1, 17)), s"state lost across rescale-restart: $rows")
    } finally spark.conf.set("spark.sql.shuffle.partitions", origParts)
  }

  test("offline state rescale: migrated checkpoint adopts the NEW partition count with no state loss") {
    import spark.implicits._
    import graft.streaming.StateRescale
    val dir = tempDir("graft_migrate_").toString
    val origParts = spark.conf.get("spark.sql.shuffle.partitions")
    def runPhase(src: String, ckpt: String, outDir: String,
                 init: Option[org.apache.spark.sql.KeyValueGroupedDataset[Long, Long]]): Unit = {
      val stream = spark.readStream.schema("k LONG, v LONG").parquet(src).as[SEvent]
      val q = StatefulExec.stream[Long, SEvent, Long, STotal](
        stream, _.k, runningSum, initialState = init)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .format("parquet").option("path", outDir)
        .outputMode("append").start()
      q.awaitTermination()
    }
    try {
      // Phase A: state laid out at the fixture's 4 shuffle partitions.
      Seq(SEvent(1, 10), SEvent(2, 5)).toDS()
        .write.mode(SaveMode.Append).parquet(s"$dir/inA")
      runPhase(s"$dir/inA", s"$dir/ckptA", s"$dir/outA", None)
      val oldLayout = StateRescale.statePartitionCount(s"$dir/ckptA")
      assert(oldLayout == 4, s"phase A should pin 4 state partitions, got $oldLayout")

      // Migrate: read every (key, state) pair out of the stopped
      // checkpoint, then seed a FRESH checkpoint under partitions = 9.
      val migrated = StateRescale.keyedState[Long, Long](spark, s"$dir/ckptA")
        .collect().toMap
      assert(migrated == Map(1L -> 10L, 2L -> 5L),
        s"state reader lost pairs: $migrated")
      spark.conf.set("spark.sql.shuffle.partitions", "9")
      val init = StateRescale.initialStateFrom[Long, Long](spark, s"$dir/ckptA")

      // Phase B: same logic, new checkpoint, migrated initial state. Key 1
      // continues from its carried total; key 3 is brand new.
      Seq(SEvent(1, 7), SEvent(3, 2)).toDS()
        .write.mode(SaveMode.Append).parquet(s"$dir/inB")
      runPhase(s"$dir/inB", s"$dir/ckptB", s"$dir/outB", Some(init))

      val rows = spark.read.parquet(s"$dir/outB").as[STotal].collect().toSeq
      assert(rows.contains(STotal(1, 17)),
        s"migrated state was not carried into the rescaled query: $rows")
      assert(rows.contains(STotal(3, 2)), s"fresh key mishandled: $rows")
      // The genuinely-changed layout: the new checkpoint is pinned to 9.
      val newLayout = StateRescale.statePartitionCount(s"$dir/ckptB")
      assert(newLayout == 9,
        s"migration did not change the state layout: $newLayout partitions")
      // And the old checkpoint still resumes its sources where it stopped.
      assert(StateRescale.lastCommittedOffsets(s"$dir/ckptA").nonEmpty,
        "old checkpoint's committed offsets should be readable for source resume")
    } finally spark.conf.set("spark.sql.shuffle.partitions", origParts)
  }

  test("engine upgrade: fMGWS checkpoint state seeds a transformWithState query") {
    import spark.implicits._
    import graft.streaming.StateRescale
    val dir = tempDir("graft_upgrade_").toString
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    try {
      // Phase A on the v1 engine (flatMapGroupsWithState).
      Seq(SEvent(1, 10), SEvent(2, 5)).toDS()
        .write.mode(SaveMode.Append).parquet(s"$dir/inA")
      val qa = StatefulExec.stream[Long, SEvent, Long, STotal](
        spark.readStream.schema("k LONG, v LONG").parquet(s"$dir/inA").as[SEvent],
        _.k, runningSum)
        .writeStream.option("checkpointLocation", s"$dir/ckptA")
        .trigger(Trigger.AvailableNow())
        .format("parquet").option("path", s"$dir/outA")
        .outputMode("append").start()
      qa.awaitTermination()

      // Migrate the v1 state into a v2 (transformWithState) query — the
      // offline engine-upgrade path: same StateRescale read, landed via
      // StatefulProcessorWithInitialState.handleInitialState.
      val init = StateRescale.initialStateFrom[Long, Long](spark, s"$dir/ckptA")
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      Seq(SEvent(1, 7), SEvent(3, 2)).toDS()
        .write.mode(SaveMode.Append).parquet(s"$dir/inB")
      val qb = StatefulExec.streamTws[Long, SEvent, Long, STotal](
        spark.readStream.schema("k LONG, v LONG").parquet(s"$dir/inB").as[SEvent],
        _.k, runningSum, initialState = Some(init))
        .writeStream.option("checkpointLocation", s"$dir/ckptB")
        .trigger(Trigger.AvailableNow())
        .format("parquet").option("path", s"$dir/outB")
        .outputMode("append").start()
      qb.awaitTermination()

      val rows = spark.read.parquet(s"$dir/outB").as[STotal].collect().toSeq
      assert(rows.contains(STotal(1, 17)),
        s"v1 state not carried into the v2 engine: $rows")
      assert(rows.contains(STotal(3, 2)), s"fresh key mishandled: $rows")
    } finally prevProvider match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("TTL'd migration: seeded keys expire one TTL after the migration point, not at epoch 1970") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    SessionConf.withConf(spark, SessionConf.RocksDbProvider) {
      val ttlLogic = new StatefulLogic[Long, WmEvent, Long, STotal] {
        def zero = 0L
        def update(k: Long, v: WmEvent, s: Long): (Long, IterableOnce[STotal]) =
          (s + v.v, Iterator.empty)
        override def onExpiry(k: Long, s: Long): IterableOnce[STotal] =
          Iterator.single(STotal(k, s))
      }
      // Migrated state for keys 1 (10) and 2 (5); the OLD checkpoint's
      // frontier stood at 60 min — the migration-point clock
      // (StateRescale.lastWatermarkMs in a real migration).
      val init = Seq((1L, 10L), (2L, 5L)).toDS().groupByKey(_._1).mapValues(_._2)
      val input = MemoryStream[SEvent]
      val ds = input.toDF()
        .withColumn("ts", F.timestamp_seconds($"v" * 60))
        .withWatermark("ts", "0 seconds")
        .as[WmEvent]
      val out = StatefulExec.streamTws[Long, WmEvent, Long, STotal](
        ds, _.k, ttlLogic, ttlMs = Some(30 * 60000L),
        eventTimeMs = Some(_.ts.getTime),
        initialState = Some(init), initialStateTimeMs = Some(60 * 60000L))
      val q = out.writeStream.format("memory").queryName("ttl_mig")
        .outputMode("append").start()
      // Batch 1: key 1 refreshed at t=70min (frontier -> 70min). With the
      // watermark-0 arming bug this step would expire EVERY seeded key
      // (deadlines at 1970+30min << 70min) — the storm this test pins.
      input.addData(SEvent(1, 70))
      q.processAllAvailable()
      val afterB1 = spark.table("ttl_mig").as[STotal].collect().toSeq
      assert(afterB1.isEmpty,
        s"seeded keys expired before migration-point + TTL (the epoch-1970 storm): $afterB1")
      // Batch 2: frontier -> 101min, past BOTH deadlines — key 2 (seeded,
      // idle: 60+30=90min) flushes its MIGRATED state; key 1 (refreshed:
      // 70+30=100min) flushes seed+event.
      input.addData(SEvent(9, 101))
      q.processAllAvailable()
      val rows = spark.table("ttl_mig").as[STotal].collect().toSeq
      q.stop()
      assert(rows.contains(STotal(2, 5)),
        s"seeded-then-idle key must expire one TTL after the migration point: $rows")
      assert(rows.contains(STotal(1, 80)),
        s"refreshed key must carry seed+event through expiry: $rows")
    }
  }

  test("exactly-once sink skips replayed batches") {
    import spark.implicits._
    val dir = tempDir("graft_e1_").toString
    val src = s"$dir/in"
    val outDir = s"$dir/out"
    Seq(SEvent(1, 1), SEvent(2, 2)).toDS().write.mode(SaveMode.Append).parquet(src)
    def run(ckpt: String): Unit = {
      val stream = spark.readStream.schema("k LONG, v LONG").parquet(src)
      val q = StreamingOps.exactlyOnceParquetSink(stream, outDir, ckpt)
      q.awaitTermination()
    }
    run(s"$dir/ckpt_a")
    // New checkpoint → batch 0 replays from scratch; the sink must detect
    // the committed batch dir and not duplicate it.
    run(s"$dir/ckpt_b")
    val n = spark.read.parquet(s"$outDir/batch=0").count()
    assert(n == 2, s"replayed batch was not idempotent: $n rows")
  }

  test("stream-static broadcast enrichment equals the batch join") {
    import spark.implicits._
    val dir = tempDir("graft_enrich_").toString
    Seq((1L, 10L, 5.0), (2L, 11L, 7.0), (3L, 10L, 2.0), (4L, 99L, 1.0))
      .toDF("event_id", "user_id", "value")
      .write.parquet(s"$dir/events")
    val dim = Seq((10L, "SEG_A"), (11L, "SEG_B")).toDF("c_custkey", "c_mktsegment")
    val stream = spark.readStream
      .schema("event_id BIGINT, user_id BIGINT, value DOUBLE")
      .parquet(s"$dir/events")
    val q = stream.join(F.broadcast(dim), stream("user_id") === dim("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(F.count(F.lit(1)).as("n"), F.sum("value").as("s"))
      .writeStream.format("memory").queryName("enrich_spec")
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("enrich_spec").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // user 99 has no dim row and drops; segments aggregate their events
    assert(got == Map("SEG_A" -> ((2L, 7.0)), "SEG_B" -> ((1L, 7.0))), s"$got")
  }

  test("incrementalDedupStream: index carry-over finds cross-batch dups; restart is exactly-once") {
    import spark.implicits._
    val dir = tempDir("graft_inc_stream_").toString
    val srcDir = s"$dir/src"
    Files.createDirectories(java.nio.file.Paths.get(srcDir))
    val outDir = s"$dir/out"
    val ckpt = s"$dir/ckpt"
    val table = "graft_sig_index_spec"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table)
    loc.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(loc, true)
    // history: doc 100 with content A
    graft.dedup.Dedup.indexInit(
      Seq((100L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text"), table)
    def run(): Unit =
      StreamingOps.incrementalDedupStream(
        spark.readStream.schema("doc_id BIGINT, text STRING")
          .option("maxFilesPerTrigger", 1).parquet(s"$srcDir/f*"),
        table, outDir, ckpt).awaitTermination()
    def pairs(): Set[(Long, Long)] = {
      val dirs = new java.io.File(outDir).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("batch="))
        .map(_.getAbsolutePath).toSeq
      if (dirs.isEmpty) Set.empty
      else spark.read.parquet(dirs: _*).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    // batch 1: doc 1 duplicates the SEED history; doc 2 is new content B
    Seq((1L, "alpha beta gamma delta epsilon zeta"),
        (2L, "one two three four five six"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$srcDir/f1")
    run()
    val p1 = pairs()
    assert(p1.contains((1L, 100L)), s"history dup missed: $p1")
    assert(!p1.exists(p => p._1 == 2L || p._2 == 2L), s"false pair on unique doc: $p1")
    // batch 2 (same checkpoint → RESUME): doc 3 duplicates doc 2 — a
    // CROSS-BATCH dup only the per-batch index append can reveal
    Seq((3L, "one two three four five six"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$srcDir/f2")
    run()
    val p2 = pairs()
    assert(p2.contains((2L, 3L)), s"cross-batch dup missed (index not carried): $p2")
    // restart with nothing new: no batch re-emits, no pair duplicates
    run()
    assert(pairs() == p2, "replayed restart changed the output")
    spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("end-to-end rescale-resume: migrated run is row-identical to the never-stopped run, incl. TTL expiries") {
    import spark.implicits._
    import graft.streaming.StateRescale
    val dir = tempDir("graft_e2e_mig_").toString
    val origParts = spark.conf.get("spark.sql.shuffle.partitions")
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    // Emits ONLY on expiry — so every output row is a (key, final_total)
    // the TTL machinery flushed, and row-identity between the two runs
    // checks state carry + offset resume + expiry clocks all at once:
    //  - double-read of consumed input  → doubled totals;
    //  - lost/unseeded state            → missing or undersized totals;
    //  - epoch-1970 expiry storm        → a key split into TWO rows
    //    (pre-migration partial + post-migration rest).
    val silentSum = new StatefulLogic[Long, WmEvent, Long, STotal] {
      def zero = 0L
      def update(k: Long, v: WmEvent, s: Long): (Long, IterableOnce[STotal]) =
        (s + v.v, Iterator.empty)
      override def onExpiry(k: Long, s: Long): IterableOnce[STotal] =
        Iterator.single(STotal(k, s))
    }
    val ttl = 30 * 60000L // 30 min on the event-time clock
    def ev(k: Long, v: Long, min: Long) =
      WmEvent(k, v, new java.sql.Timestamp(min * 60000L))
    def watermarked(df: org.apache.spark.sql.DataFrame) =
      df.withWatermark("ts", "0 seconds").as[WmEvent]
    // Input timeline (minutes). f1 is consumed pre-migration; f2-f4
    // arrive while the job is DOWN ("stopped mid-input"). k8/k9 are
    // watermark sentinels whose own deadlines stay ahead of the final
    // frontier, so they never flush.
    val f1 = Seq(ev(1, 10, 10), ev(2, 5, 12))   // k1, k2 seeded
    val f2 = Seq(ev(1, 7, 20), ev(3, 2, 22))    // k1 refreshed, k3 new
    val f3 = Seq(ev(9, 0, 200))                 // frontier -> 200 min
    val f4 = Seq(ev(8, 0, 201))                 // expiry-delivery batch
    val expected = Set(STotal(1, 17), STotal(2, 5), STotal(3, 2))
    try {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

      // ----- Reference: ONE never-stopped query over the same timeline.
      implicit val sqlCtx = spark.sqlContext
      val refIn = MemoryStream[WmEvent]
      val refQ = StatefulExec.streamTws[Long, WmEvent, Long, STotal](
        watermarked(refIn.toDF()), _.k, silentSum,
        ttlMs = Some(ttl), eventTimeMs = Some(_.ts.getTime))
        .writeStream.format("memory").queryName("e2e_mig_ref")
        .option("checkpointLocation", s"$dir/ckptRef")
        .outputMode("append").start()
      refIn.addData(f1: _*); refQ.processAllAvailable()
      refIn.addData(f2 ++ f3: _*); refQ.processAllAvailable()
      refIn.addData(f4: _*); refQ.processAllAvailable()
      val refRows = spark.table("e2e_mig_ref").as[STotal].collect().toSet
      refQ.stop()
      assert(refRows == expected, s"reference run wrong: $refRows")

      // ----- Phase A (v1 engine, 4 partitions): consume ONLY f1, stop.
      val src = s"$dir/in"
      f1.toDS().coalesce(1).write.mode(SaveMode.Append).parquet(src)
      val qa = StatefulExec.stream[Long, WmEvent, Long, STotal](
        watermarked(spark.readStream
          .schema("k LONG, v LONG, ts TIMESTAMP").parquet(src)),
        _.k, silentSum)
        .writeStream.option("checkpointLocation", s"$dir/ckptA")
        .trigger(Trigger.AvailableNow())
        .format("parquet").option("path", s"$dir/outA")
        .outputMode("append").start()
      qa.awaitTermination()
      assert(StateRescale.statePartitionCount(s"$dir/ckptA") == 4)

      // The rest of the input lands while the job is down.
      f2.toDS().coalesce(1).write.mode(SaveMode.Append).parquet(src)
      f3.toDS().coalesce(1).write.mode(SaveMode.Append).parquet(src)
      f4.toDS().coalesce(1).write.mode(SaveMode.Append).parquet(src)

      // ----- Migrate: offsets say what was consumed; the DIFFERENCE is
      // what the resumed query reads (derived, not assumed).
      def leaf(uri: String) =
        new org.apache.hadoop.fs.Path(uri).toUri.getPath
      val consumed = StateRescale.consumedFiles(s"$dir/ckptA").map(leaf).toSet
      assert(consumed.nonEmpty && consumed.forall(_.contains("/in/")),
        s"consumedFiles should list phase-A input: $consumed")
      // Arrival order = original mtime order (parquet part names are
      // UUIDs; a path sort would scramble the event-time line).
      val allParts = new java.io.File(src).listFiles()
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
        .sortBy(_.lastModified())
        .map(_.getAbsolutePath).toSeq
      val unconsumed = allParts.filterNot(consumed.contains)
      assert(consumed == (allParts.toSet -- unconsumed),
        s"offset log and directory listing disagree: $consumed vs $allParts")
      assert(unconsumed.size == 3, s"expected f2-f4 unconsumed: $unconsumed")
      // Stage the un-consumed files for the resumed query, mtime-ordered
      // by original arrival so the file source replays them in arrival
      // order (ts-200 before ts-201 etc. — the order the frontier needs).
      val srcB = java.nio.file.Paths.get(s"$dir/inB")
      Files.createDirectories(srcB)
      unconsumed.zipWithIndex.foreach { case (p, i) =>
        val dst = srcB.resolve(f"part$i%03d.parquet")
        Files.copy(java.nio.file.Paths.get(p), dst)
        Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
      }
      val wmA = StateRescale.lastWatermarkMs(s"$dir/ckptA")
      assert(wmA.contains(12 * 60000L),
        s"phase-A committed watermark should stand at minute 12: $wmA")

      // ----- Phase B (v2 engine, 9 partitions): seed from ckptA, arm TTL
      // at the migration-point clock, read ONLY the unconsumed files.
      spark.conf.set("spark.sql.shuffle.partitions", "9")
      val init = StateRescale.initialStateFrom[Long, Long](spark, s"$dir/ckptA")
      val qb = StatefulExec.streamTws[Long, WmEvent, Long, STotal](
        watermarked(spark.readStream
          .schema("k LONG, v LONG, ts TIMESTAMP")
          .option("maxFilesPerTrigger", 1).parquet(srcB.toString)),
        _.k, silentSum, ttlMs = Some(ttl), eventTimeMs = Some(_.ts.getTime),
        initialState = Some(init), initialStateTimeMs = wmA)
        .writeStream.option("checkpointLocation", s"$dir/ckptB")
        .trigger(Trigger.AvailableNow())
        .format("parquet").option("path", s"$dir/outB")
        .outputMode("append").start()
      qb.awaitTermination()
      assert(StateRescale.statePartitionCount(s"$dir/ckptB") == 9,
        "migration did not adopt the new layout")

      // ----- The contract: stopped+migrated == never-stopped, row for row.
      val outADirEmpty = !new java.io.File(s"$dir/outA").exists() ||
        spark.read.schema("k LONG, total LONG").parquet(s"$dir/outA").isEmpty
      assert(outADirEmpty, "phase A should emit nothing before any expiry")
      val migRows = spark.read.schema("k LONG, total LONG")
        .parquet(s"$dir/outB").as[STotal].collect().toSet
      assert(migRows == refRows,
        s"migrated run diverged from the never-stopped run: $migRows vs $refRows")
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", origParts)
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("SinkGate: nothing public until open, marker-last publish, idempotent replay") {
    import spark.implicits._
    val dir = tempDir("graft_sinkgate").toString
    val gate = new graft.streaming.SinkGate(s"$dir/stage", s"$dir/public")
    def pub() = Option(new java.io.File(s"$dir/public").listFiles())
      .map(_.map(_.getName).sorted.toSeq).getOrElse(Nil)
    // two batches arrive while the gate is CLOSED
    gate.sink(Seq((1L, "a")).toDF("k", "v"), 0L)
    gate.sink(Seq((2L, "b")).toDF("k", "v"), 1L)
    assert(pub().isEmpty, s"gate closed but something published: ${pub()}")
    // a replay of a staged batch is a no-op (marker short-circuits)
    gate.sink(Seq((9L, "SHOULD NOT LAND")).toDF("k", "v"), 0L)
    // cutover: open publishes the backlog, batch 0 keeps its FIRST content
    gate.open()
    assert(pub() == Seq("batch=0", "batch=1"), s"backlog not published: ${pub()}")
    val b0 = spark.read.parquet(s"$dir/public/batch=0").as[(Long, String)].collect().toSeq
    assert(b0 == Seq((1L, "a")), s"replayed batch overwrote the staged original: $b0")
    // post-open batches publish straight through
    gate.sink(Seq((3L, "c")).toDF("k", "v"), 2L)
    assert(pub() == Seq("batch=0", "batch=1", "batch=2"))
    // open is idempotent
    gate.open()
    assert(spark.read.parquet(s"$dir/public").count() == 3L)
    // every published batch carries its marker (the reader visibility gate)
    pub().foreach { b =>
      assert(new java.io.File(s"$dir/public/$b/_SUCCESS").isFile, s"$b missing marker")
    }
  }

  test("SinkGate: a crash mid-publish heals on the next open") {
    import spark.implicits._
    val dir = tempDir("graft_sinkgate_crash").toString
    val gate = new graft.streaming.SinkGate(s"$dir/stage", s"$dir/public")
    gate.sink(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), 0L)
    // simulate a crash mid-publish: a data file copied but NO _SUCCESS
    // (the marker-last discipline guarantees this is the only possible
    // partial state)
    val staged = new java.io.File(s"$dir/stage/batch=0").listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).head
    val half = new java.io.File(s"$dir/public/batch=0")
    java.nio.file.Files.createDirectories(half.toPath)
    java.nio.file.Files.copy(staged.toPath, half.toPath.resolve(staged.getName))
    // a reader must not see the half-published batch as committed
    assert(!new java.io.File(half, "_SUCCESS").isFile)
    // recovery: the next open re-copies (overwrite) and completes it
    gate.open()
    assert(new java.io.File(half, "_SUCCESS").isFile, "publish did not complete")
    val rows = spark.read.parquet(s"$dir/public/batch=0")
      .as[(Long, String)].collect().sorted.toSeq
    assert(rows == Seq((1L, "a"), (2L, "b")), s"healed batch wrong: $rows")
  }

  test("readStateAt pins the export to an explicit committed batch") {
    import spark.implicits._
    import graft.streaming.StateRescale
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_pinned_export").toString
    val input = MemoryStream[SEvent]
    val q = StatefulExec.stream[Long, SEvent, Long, STotal](
      input.toDS(), _.k, runningSum)
      .writeStream.format("memory").queryName("pinned_export")
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode("append").start()
    input.addData(SEvent(1, 10), SEvent(2, 5))
    q.processAllAvailable()
    input.addData(SEvent(1, 7), SEvent(3, 1))
    q.processAllAvailable()
    q.stop()
    assert(StateRescale.lastCommittedBatch(s"$dir/ckpt").contains(1L))
    def totals(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.selectExpr("key.value AS k", "value.groupState.value AS s")
        .as[(Long, Long)].collect().toMap
    // batch 0's snapshot: only the first micro-batch's state
    assert(totals(StateRescale.readStateAt(spark, s"$dir/ckpt", 0L)) ==
      Map(1L -> 10L, 2L -> 5L))
    // batch 1 == latest
    val at1 = totals(StateRescale.readStateAt(spark, s"$dir/ckpt", 1L))
    assert(at1 == Map(1L -> 17L, 2L -> 5L, 3L -> 1L))
    assert(totals(StateRescale.readState(spark, s"$dir/ckpt")) == at1)
  }

  test("consumedFiles recovers batches compacted past the committed offset") {
    import graft.streaming.StateRescale
    // ADVICE r15: a long-running query compacts its file-source metadata
    // log every N batches and deletes per-batch entries past
    // minBatchesToRetain. If the only surviving record of batches
    // <= logOffset is a compact whose INDEX exceeds logOffset, the naive
    // "entries <= logOffset" union under-reports and a derived resume
    // would double-read. The compact's entries carry their batchId —
    // consumedFiles must filter on that instead.
    val dir = tempDir("graft_compact_edge")
    def put(rel: String, body: String): Unit = {
      val f = dir.resolve(rel)
      Files.createDirectories(f.getParent)
      Files.writeString(f, body); ()
    }
    put("ckpt/commits/1", "v1\n{}")
    put("ckpt/offsets/1", "v1\n{\"batchWatermarkMs\":0}\n{\"logOffset\":1}")
    // retention deleted sources/0/{0,1}; only the later compact survives
    put("ckpt/sources/0/2.compact",
      "v1\n" +
        """{"path":"file:///in/a.parquet","timestamp":1,"batchId":0}""" + "\n" +
        """{"path":"file:///in/b.parquet","timestamp":2,"batchId":1}""" + "\n" +
        """{"path":"file:///in/c.parquet","timestamp":3,"batchId":2}""" + "\n")
    val consumed = StateRescale.consumedFiles(dir.resolve("ckpt").toString).toSet
    assert(consumed == Set("file:///in/a.parquet", "file:///in/b.parquet"),
      s"compact recovery wrong: $consumed")
  }

  test("consumedFiles fails loudly on an unrecoverable metadata-log gap") {
    import graft.streaming.StateRescale
    val dir = tempDir("graft_compact_gap")
    def put(rel: String, body: String): Unit = {
      val f = dir.resolve(rel)
      Files.createDirectories(f.getParent)
      Files.writeString(f, body); ()
    }
    put("ckpt/commits/1", "v1\n{}")
    put("ckpt/offsets/1", "v1\n{\"batchWatermarkMs\":0}\n{\"logOffset\":1}")
    // batch 0's entry is gone and there is no compact to recover it from
    put("ckpt/sources/0/1",
      "v1\n" + """{"path":"file:///in/b.parquet","timestamp":2,"batchId":1}""" + "\n")
    val e = intercept[IllegalStateException] {
      StateRescale.consumedFiles(dir.resolve("ckpt").toString)
    }
    assert(e.getMessage.contains("missing entries"), e.getMessage)
  }

  test("coverageStream: two-batch arrival converges to the batch coverage fold") {
    import spark.implicits._
    val meta = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("doc_id", "source")
    val docs = Seq(SDoc(1L, "ab ab"), SDoc(2L, "zq"), SDoc(3L, "ab"))
    // vocab segments 'ab' into one piece; 'zq' has no base chars -> [UNK]
    val vocab = Seq("a", "b", "ab")
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[SDoc]
    val agg = StreamingOps.coverageStream(input.toDF(), meta, vocab)
    val q = agg.writeStream.format("memory").queryName("graft_cov_spec")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    input.addData(docs.take(1): _*)
    q.processAllAvailable(); q.stop()
    val q2 = agg.writeStream.format("memory").queryName("graft_cov_spec")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    input.addData(docs.drop(1): _*)
    q2.processAllAvailable(); q2.stop()
    val got = spark.table("graft_cov_spec").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // source a: doc1 'ab ab' -> 2 tokens, doc2 'zq' -> 1 UNK; rate 1/3
    assert(got("a") == ((3L, 1L, 0.333333)), s"got $got")
    assert(got("b") == ((1L, 0L, 0.0)), s"got $got")
  }
}
