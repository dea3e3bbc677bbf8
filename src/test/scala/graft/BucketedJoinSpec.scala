package graft

import org.apache.spark.sql.{DataFrame, functions => F}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Bucketing

/** Co-located join via bucketed storage: both fact tables bucketed on the
  * join key with equal bucket counts → the join plans with NO Exchange on
  * either side (buckets are read pairwise). The write-once/reuse-forever
  * partitioning contract for 100 TB fact-fact joins. */
class BucketedJoinSpec extends AnyFunSuite with SparkFixture {

  test("bucketed fact-fact join runs without any shuffle exchange") {
    val orders = Tables.orders(spark, sf001)
    val lineitem = Tables.lineitem(spark, sf001)
    Bucketing.writeBucketed(orders, "b_orders", 8, "o_orderkey")
    Bucketing.writeBucketed(lineitem, "b_lineitem", 8, "l_orderkey")
    try SessionConf.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") { // force SMJ
      val joined = spark.table("b_lineitem")
        .join(spark.table("b_orders"), F.col("l_orderkey") === F.col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
      // and it is still correct
      val expected = lineitem.join(orders, F.col("l_orderkey") === F.col("o_orderkey")).count()
      assert(joined.count() == expected)
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("incremental dedup probes the signature index without shuffling it") {
    // The index's on-disk HashPartitioning(band, sig) is exactly the LSH
    // join key, so only the arriving shard's signatures shuffle — at
    // 100 TB the history-sized side of the join moves zero bytes.
    // Exactly ONE exchange, and it is NOT above the bucketed scan.
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    spark.sql("DROP TABLE IF EXISTS t_sig_idx")
    graft.dedup.Dedup.indexInit(docs.filter(F.col("doc_id") % 2 === 0), "t_sig_idx")
    try SessionConf.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") { // force SMJ
      val probe = graft.dedup.Dedup
        .minhashSignaturesFromDocs(docs.filter(F.col("doc_id") % 2 === 1), "doc_id", "text", 3, 8)
        .join(spark.table("t_sig_idx").withColumnRenamed("doc_id", "old_id"), Seq("band", "sig"))
      val plan = probe.queryExecution.executedPlan.toString
      // In the tree printout the probe (left) branch's lines carry a ":"
      // continuation marker; the index (right) branch's do not. Every
      // exchange must sit in the probe branch: one Spread round-robin on
      // the shard scan + the single join exchange to the index's buckets.
      val exchangeLines = plan.linesIterator.filter(_.contains("Exchange")).toSeq
      assert(exchangeLines.nonEmpty && exchangeLines.forall(_.contains(":")),
        s"exchange found on the index side:\n$plan")
      assert(plan.contains("Bucketed: true"), s"index scan not bucketed:\n$plan")
      assert(probe.count() > 0)
    } finally spark.sql("DROP TABLE IF EXISTS t_sig_idx")
  }

  test("incremental dedup: the probe-side heavy-hitter guard drops big index buckets") {
    // With maxBucket forced to 1, any (band, sig) bucket holding 2+
    // indexed docs is degenerate and must not fan the probe out — the
    // guard that keeps one pathological signature in a 100 TB history
    // from exploding every shard's probe join.
    import graft.dedup.Dedup
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val old = docs.filter(F.col("doc_id") % 2 === 0)
    val fresh = docs.filter(F.col("doc_id") % 2 === 1)
    spark.sql("DROP TABLE IF EXISTS t_sig_idx3")
    try {
      Dedup.indexInit(old, "t_sig_idx3")
      val full = Dedup.incremental(fresh, "t_sig_idx3", updateIndex = false)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val pruned = Dedup.incremental(fresh, "t_sig_idx3", updateIndex = false, maxBucket = 1)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pruned.subsetOf(full), "guard invented pairs")
      assert(pruned.size < full.size,
        "guard dropped nothing — no multi-doc index bucket at test scale?")
    } finally spark.sql("DROP TABLE IF EXISTS t_sig_idx3")
  }

  /** Three shards arrive in sequence (doc_id mod 3): `build` indexes
    * shard A, incremental(B) appends B's signatures, and shard C's probe
    * must see BOTH A and B — its pair set equals the batch LSH pairs over
    * the whole corpus restricted to pairs touching C. */
  private def stagedAppendMatchesBatch(table: String)(build: DataFrame => Unit): Unit = {
    import graft.dedup.Dedup
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    def shard(i: Int) = docs.filter(F.col("doc_id") % 3 === i)
    spark.sql(s"DROP TABLE IF EXISTS $table")
    try {
      build(shard(0))
      Dedup.incremental(shard(1), table).count() // appends shard 1
      val got = Dedup.incremental(shard(2), table, updateIndex = false)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val expected = Dedup.minhashCandidates(docs, knownDocCount = docs.count())
        .filter(F.col("doc_a") % 3 === 2 || F.col("doc_b") % 3 === 2)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected,
        s"missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
      assert(got.nonEmpty)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("incremental dedup: the appended index serves the NEXT shard") {
    // The contract that makes the index a continually-growing history
    // rather than a one-shot snapshot.
    stagedAppendMatchesBatch("t_sig_idx2")(graft.dedup.Dedup.indexInit(_, "t_sig_idx2"))
  }

  test("incremental dedup: re-probing after the shard's own append is result-identical") {
    // The append-order-independence contract the bench's staged-index
    // reuse relies on (qDedupIncremental): once incremental(B) has
    // appended B's signatures, probing B again — updateIndex = false —
    // must return the SAME pair set, because the index hits against B's
    // own signatures reproduce exactly the within-shard pairs the
    // distinct already merged.
    import graft.dedup.Dedup
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val old = docs.filter(F.col("doc_id") % 2 === 0)
    val fresh = docs.filter(F.col("doc_id") % 2 === 1)
    spark.sql("DROP TABLE IF EXISTS t_sig_idx4")
    try {
      Dedup.indexInit(old, "t_sig_idx4")
      def pairs(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val first = pairs(Dedup.incremental(fresh, "t_sig_idx4")) // appends
      val reprobe = pairs(Dedup.incremental(fresh, "t_sig_idx4", updateIndex = false))
      assert(first == reprobe && first.nonEmpty,
        s"missing=${(first -- reprobe).take(5)} extra=${(reprobe -- first).take(5)}")
    } finally spark.sql("DROP TABLE IF EXISTS t_sig_idx4")
  }

  test("the append path finds within-shard pairs from the grown index") {
    // The append path appends the shard first and finds its (new, new)
    // pairs only by probing the GROWN index: a probe that read a relation
    // analyzed before the append would miss this pair.
    import graft.dedup.Dedup
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS t_sig_idx7")
    try {
      Dedup.indexInit(Seq((1L, "an unrelated history document about rivers and the sea"))
        .toDF("doc_id", "text"), "t_sig_idx7")
      val twin = "two identical shard documents share every shingle and band"
      val got = Dedup.incremental(Seq((10L, twin), (11L, twin)).toDF("doc_id", "text"),
        "t_sig_idx7").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((10L, 11L)), s"got $got")
    } finally spark.sql("DROP TABLE IF EXISTS t_sig_idx7")
  }

  test("append path with maxBucket = 3 equals batch minhashCandidates over the union") {
    // The guard counts each (band, sig) bucket over history plus shard,
    // as the batch path counts it over the union — so the equality holds
    // even where the guard binds (at sf0.01 the largest bucket is 5).
    import graft.dedup.Dedup
    val docs = spark.read.parquet(s"${sf001.stripSuffix("sf0.001")}sf0.01/documents.parquet")
    val n = docs.count()
    def pairs(df: DataFrame) = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def touchingShard(df: DataFrame) = df.filter(F.col("doc_a") % 2 === 1 || F.col("doc_b") % 2 === 1)
    spark.sql("DROP TABLE IF EXISTS t_sig_idx8")
    try {
      Dedup.indexInit(docs.filter(F.col("doc_id") % 2 === 0), "t_sig_idx8")
      val got = pairs(Dedup.incremental(docs.filter(F.col("doc_id") % 2 === 1), "t_sig_idx8",
        maxBucket = 3))
      val expected = pairs(touchingShard(Dedup.minhashCandidates(docs, knownDocCount = n,
        maxBucket = 3)))
      val unguarded = pairs(touchingShard(Dedup.minhashCandidates(docs, knownDocCount = n)))
      assert(expected.size < unguarded.size, "guard dropped nothing — no bucket above 3?")
      assert(got == expected,
        s"missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
    } finally spark.sql("DROP TABLE IF EXISTS t_sig_idx8")
  }

  test("incremental dedup: the index is bucketed by the session's parallelism") {
    import graft.dedup.Dedup
    import org.apache.spark.sql.catalyst.TableIdentifier
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    spark.sql("DROP TABLE IF EXISTS t_sig_idx5")
    try {
      Dedup.indexInit(docs.filter(F.col("doc_id") % 2 === 0), "t_sig_idx5")
      val spec = spark.sessionState.catalog.getTableMetadata(TableIdentifier("t_sig_idx5")).bucketSpec
      assert(spec.map(_.numBuckets).contains(spark.sparkContext.defaultParallelism), s"bucketSpec=$spec")
    } finally spark.sql("DROP TABLE IF EXISTS t_sig_idx5")
  }

  test("incremental dedup: an index built with another bucket count still appends and probes") {
    // The bucket count is read from the table, not assumed: a 3-bucket
    // index takes a shard's append (a fixed count would fail Spark's
    // bucket-spec check) and serves the next shard's probe.
    import graft.dedup.Dedup
    stagedAppendMatchesBatch("t_sig_idx6") { docs =>
      Bucketing.writeBucketedBy(Dedup.minhashSignaturesFromDocs(docs, "doc_id", "text", 3,
        Dedup.DefaultBands), "t_sig_idx6", 3, Seq("band", "sig"))
    }
  }
}
