package graft

import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite

/** Approximate-aggregation (sketch) accuracy: Spark's built-in HLL++ and
  * approx_percentile are graft's sketch tier for 100 TB cardinalities —
  * these specs pin their error against the exact formulations the oracles
  * check. (No oracle rows: sketches are engine-specific by nature.) */
class SketchSpec extends AnyFunSuite with SparkFixture {

  test("approx_count_distinct (HLL++) is within tolerance of exact") {
    val ev = Tables.events(spark, sf001)
    val exact = ev.select(F.countDistinct("user_id")).head().getLong(0)
    val approx = ev.select(F.approx_count_distinct("user_id", rsd = 0.05)).head().getLong(0)
    val relErr = math.abs(approx - exact).toDouble / exact
    info(f"exact=$exact approx=$approx relErr=$relErr%.3f")
    assert(relErr < 0.15)
  }

  test("approx_percentile brackets the exact percentile") {
    val ev = Tables.events(spark, sf001)
    val exact = ev.select(F.percentile(F.col("value"), F.lit(0.5))).head().getDouble(0)
    val approx = ev.select(
      F.percentile_approx(F.col("value"), F.lit(0.5), F.lit(1000))).head().getDouble(0)
    // with accuracy=1000 on 1k rows the approx answer is an actual data
    // value adjacent to the true median
    assert(math.abs(approx - exact) / math.max(math.abs(exact), 1e-9) < 0.05,
      s"approx=$approx exact=$exact")
  }

  test("md5-register HLL: shard registers max-merge to the whole-corpus sketch") {
    import graft.functions.Sketches
    val ev = Tables.events(spark, sf001)
    val whole = Sketches.hllRegisters(ev, Seq("event_type"), "user_id")
    // Merge = union the shard register tables, re-apply groupBy-max —
    // associative, commutative, idempotent, so ANY sharding of the corpus
    // (here: by event id parity) folds to identical registers, which is
    // what makes the sketch a one-pass 100 TB cardinality story.
    val shardA = Sketches.hllRegisters(ev.filter(F.col("event_id") % 2 === 0),
      Seq("event_type"), "user_id")
    val shardB = Sketches.hllRegisters(ev.filter(F.col("event_id") % 2 === 1),
      Seq("event_type"), "user_id")
    val merged = shardA.union(shardB)
      .groupBy("event_type", "hll_b").agg(F.max("hll_m").as("hll_m"))
    assert(merged.exceptAll(whole).isEmpty && whole.exceptAll(merged).isEmpty,
      "merged shard registers differ from whole-corpus registers")
    // and the estimate is within HLL's theoretical error of exact
    // (1.04/sqrt(256) ≈ 6.5%; allow 3 sigma)
    val est = Sketches.hllEstimate(merged, Seq("event_type"))
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    val exact = ev.groupBy("event_type").agg(F.countDistinct("user_id").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, n) =>
      val rel = math.abs(est(k) - n) / n.toDouble
      info(f"$k exact=$n est=${est(k)}%.1f relErr=$rel%.3f")
      assert(rel < 0.2, s"$k: est=${est(k)} exact=$n")
    }
  }

  test("KMV quantile sketch: shard bottom-k samples merge to the whole-corpus sample") {
    import graft.functions.Sketches
    val ev = Tables.events(spark, sf001)
    val keys = Seq("event_type")
    val whole = Sketches.bottomKSample(ev, keys, "value", "event_id", k = 64)
    // Merge = union the shard samples, re-take the bottom k by the same
    // deterministic md5 key — associative/commutative/idempotent, so any
    // sharding folds to the identical sample (the mergeable-state law).
    val shards = Seq(0, 1, 2).map(i =>
      Sketches.bottomKSample(ev.filter(F.col("event_id") % 3 === i),
        keys, "value", "event_id", k = 64))
    val merged = Sketches.mergeBottomK(shards.reduce(_ union _), keys, k = 64)
    assert(merged.exceptAll(whole).isEmpty && whole.exceptAll(merged).isEmpty,
      "merged shard samples differ from the whole-corpus sample")
    // and the nearest-rank estimate over a 64-row uniform sample lands
    // near the exact percentile (binomial rank error; generous 3-sigma)
    val est = Sketches.sampleQuantiles(whole, keys, "value", Seq("p50_est" -> 0.5))
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    val exact = ev.groupBy("event_type")
      .agg(F.percentile(F.col("value"), F.lit(0.5)).as("p50"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val spread = ev.agg(F.max("value").cast("double") - F.min("value").cast("double"))
      .head().getDouble(0)
    exact.foreach { case (k, p) =>
      val rel = math.abs(est(k) - p) / spread
      info(f"$k exact=$p%.2f est=${est(k)}%.2f relSpread=$rel%.3f")
      assert(rel < 0.25, s"$k: est=${est(k)} exact=$p spread=$spread")
    }
  }

  test("BottomKByKeyAgg: bounded-heap aggregate equals the rank-window formulation") {
    // r20 (VERDICT r19 #3): bottomKSample's cut is a sort-free
    // TypedImperativeAggregate. This pins it against the independent
    // row_number() window reference on the same inputs, across a
    // many-partition layout (forces the partial/serialize/merge paths)
    // and a group smaller than k (degrades to the whole group).
    import org.apache.spark.sql.expressions.Window
    import graft.functions.Sketches
    val ev = Tables.events(spark, sf001).repartition(17) // odd fan-out
    for (k <- Seq(1, 7, 64)) {
      val agg = Sketches.bottomKSample(ev, Seq("event_type"), "value", "event_id", k = k)
      val win = ev.filter(F.col("value").isNotNull)
        .select(F.col("event_type"), F.col("value"),
          F.md5(F.col("event_id").cast("string")).as("qs_key"))
        .withColumn("rn", F.row_number().over(
          Window.partitionBy("event_type").orderBy("qs_key")))
        .filter(F.col("rn") <= k).drop("rn")
      assert(agg.exceptAll(win).isEmpty && win.exceptAll(agg).isEmpty,
        s"k=$k: aggregate bottom-k differs from the window reference")
    }
    // group smaller than k: a single-row group survives intact
    val tiny = Sketches.bottomKSample(
      ev.limit(1), Seq("event_type"), "value", "event_id", k = 64)
    assert(tiny.count() == 1)
  }

  test("BottomKByKeyAgg: a struct(double, long) rank key gives the orderBy(desc, asc).limit(k+1) set") {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import graft.functions.expressions.BottomKByKeyAgg
    // 200 rows over 9 distinct priorities: ties on the double must break
    // on the long, across a many-partition layout (partial/merge paths)
    val rows = spark.range(200).select(F.col("id"),
      ((F.col("id") * 7) % 9 - 4).cast("double").as("p")).repartition(13)
    for (k <- Seq(1, 5, 64)) {
      val cut = ColumnBridge.column(BottomKByKeyAgg(ColumnBridge.expression(
        F.struct(F.struct((-F.col("p")).as("neg_p"), F.col("id")).as("rank"),
          F.col("id"), F.col("p"))), k + 1).toAggregateExpression())
      val got = rows.agg(cut.as("_top")).select(F.explode(F.col("_top")).as("e"))
        .select(F.col("e.id"), F.col("e.p"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val want = rows.orderBy(F.col("p").desc, F.col("id").asc).limit(k + 1)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got.size == k + 1 && got.toSet == want.toSet, s"k=$k: got $got, want $want")
    }
  }

  test("BottomKByKeyAgg: a map-typed rank key fails analysis") {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import graft.functions.expressions.BottomKByKeyAgg
    val rows = spark.range(3).select(F.map(F.lit("a"), F.col("id")).as("m"), F.col("id"))
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      rows.agg(ColumnBridge.column(BottomKByKeyAgg(ColumnBridge.expression(
        F.struct(F.col("m"), F.col("id"))), 2).toAggregateExpression()).as("_top"))
    }
    assert(e.getMessage.contains("bottom_k_by_key"), e.getMessage)
  }

  test("KMV set sketch: shard sketches merge to the whole-set sketch") {
    import graft.functions.Sketches
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val a = docs.filter(F.col("doc_id") % 2 === 0)
    val b = docs.filter(F.col("doc_id") % 2 =!= 0)
    val whole = Sketches.kmvDistinctSketch(docs, "text", k = 64)
      .collect().map(_.getString(0)).sorted.toSeq
    // KMV merge rule: union the shard sketches, re-take the bottom k.
    val merged = Sketches.kmvDistinctSketch(a, "text", k = 64)
      .unionAll(Sketches.kmvDistinctSketch(b, "text", k = 64))
      .distinct().orderBy("h").limit(64)
      .collect().map(_.getString(0)).sorted.toSeq
    assert(whole == merged, "union + re-bottom-k must equal the whole-set sketch")
  }

  test("kmvSetOps: exact when the population fits, unbiased-estimator branch close when not") {
    import graft.functions.Sketches
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val a = docs.filter(F.col("doc_id") % 3 =!= 0)
    val b = docs.filter(F.col("doc_id") % 2 =!= 0)
    val trueA = a.select("text").distinct().count()
    val trueB = b.select("text").distinct().count()
    val trueI = a.select("text").intersect(b.select("text")).count()
    val trueU = a.select("text").union(b.select("text")).distinct().count()
    // Exact branch: a sketch bigger than the population IS the population.
    val ex = Sketches.kmvSetOps(a, b, "text", k = 4096).head()
    assert(ex.getAs[Double]("est_distinct_a") == trueA.toDouble)
    assert(ex.getAs[Double]("est_distinct_b") == trueB.toDouble)
    assert(ex.getAs[Double]("est_union") == trueU.toDouble)
    assert(ex.getAs[Double]("est_intersection") == trueI.toDouble)
    assert(math.abs(ex.getAs[Double]("jaccard_est") - trueI.toDouble / trueU.toDouble) < 1e-6)
    // Estimator branch (k = 64 << population): KMV's relative std is
    // ~1/sqrt(k-2) ≈ 0.13; this is a fixed dataset, so the bound is a
    // deterministic regression pin, not a flaky probabilistic one.
    val est = Sketches.kmvSetOps(a, b, "text", k = 64).head()
    def rel(got: Double, want: Long) = math.abs(got - want) / want.toDouble
    assert(rel(est.getAs[Double]("est_union"), trueU) < 0.35,
      s"union est ${est.getAs[Double]("est_union")} vs $trueU")
    assert(rel(est.getAs[Double]("est_intersection"), trueI) < 0.5,
      s"intersection est ${est.getAs[Double]("est_intersection")} vs $trueI")
  }

  test("kmvOverlapMatrix: pairwise estimates exact below k, equal kmvSetOps on the pair") {
    import spark.implicits._
    import graft.functions.Sketches
    // three tiny sources: a/b share half, c is disjoint — populations
    // far below k=64, so every estimate must be EXACT.
    val rows = (1 to 20).map(i => ("a", s"shared-$i")) ++
      (1 to 20).map(i => ("b", s"shared-$i")) ++
      (21 to 40).map(i => ("b", s"only-b-$i")) ++
      (1 to 10).map(i => ("c", s"only-c-$i"))
    val df = rows.toDF("source", "text")
    val m = Sketches.kmvOverlapMatrix(df, "source", "text", k = 64).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val ab = m(("a", "b"))
    assert(ab.getAs[Double]("est_distinct_a") == 20.0)
    assert(ab.getAs[Double]("est_distinct_b") == 40.0)
    assert(ab.getAs[Double]("est_union") == 40.0)
    assert(ab.getAs[Double]("est_intersection") == 20.0)
    assert(ab.getAs[Double]("jaccard_est") == 0.5)
    val ac = m(("a", "c"))
    assert(ac.getAs[Double]("est_intersection") == 0.0 &&
      ac.getAs[Double]("est_union") == 30.0)
    assert(m.keySet == Set(("a", "b"), ("a", "c"), ("b", "c")))
    // the matrix row for a pair must agree with kmvSetOps run on that pair
    val so = Sketches.kmvSetOps(
      df.filter($"source" === "a"), df.filter($"source" === "b"),
      "text", k = 64).head()
    for (c <- Seq("n_u", "rho"))
      assert(so.getAs[Long](c) == ab.getAs[Long](c), s"col $c diverges")
    for (c <- Seq("est_distinct_a", "est_distinct_b", "est_union",
        "jaccard_est", "est_intersection"))
      assert(so.getAs[Double](c) == ab.getAs[Double](c), s"col $c diverges")
  }

  test("count-min: shard registers sum-merge to the whole-corpus sketch") {
    import graft.functions.Sketches
    val ev = Tables.events(spark, sf001).select(
      F.concat(F.lit("u"), (F.col("user_id") % 40).cast("string")).as("key"))
    val whole = Sketches.cmRegisters(ev, "key", d = 3, w = 64)
    val shardA = Sketches.cmRegisters(
      ev.filter(F.xxhash64(F.col("key")) % 2 === 0), "key", d = 3, w = 64)
    val shardB = Sketches.cmRegisters(
      ev.filter(F.xxhash64(F.col("key")) % 2 =!= 0), "key", d = 3, w = 64)
    val merged = Sketches.mergeCmRegisters(shardA.union(shardB))
    assert(merged.exceptAll(whole).isEmpty && whole.exceptAll(merged).isEmpty,
      "sum-merged shard registers differ from whole-corpus registers")
  }

  test("count-min estimate is one-sided: est >= exact for every key, exact where unambiguous") {
    import graft.functions.Sketches
    val ev = Tables.events(spark, sf001).select(
      F.concat(F.lit("u"), (F.col("user_id") % 40).cast("string")).as("key"))
    val d = 4; val w = 256
    val regs = Sketches.cmRegisters(ev, "key", d, w).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSeq
    val est = Sketches.cmEstimateCol(F.col("key"), regs, d, w)
    val both = ev.groupBy("key").agg(F.count(F.lit(1)).as("exact"))
      .withColumn("est", est).collect()
    both.foreach { r =>
      assert(r.getLong(2) >= r.getLong(1),
        s"${r.getString(0)}: CM underestimated ${r.getLong(2)} < ${r.getLong(1)}")
    }
    // with 40 keys in 4x256 registers, at least one key must be
    // collision-free in some row => est == exact there
    assert(both.exists(r => r.getLong(2) == r.getLong(1)),
      "no key estimated exactly — bucket hashing is suspect")
  }

  test("sketch-pruned heavy hitters equal the direct HAVING answer and actually prune") {
    import graft.functions.Sketches
    // hot/cold synthesis (the q_heavy_hitters shape): 10 hot keys carry
    // half the stream, ~2000 cold keys the other half
    val ev = Tables.events(spark, sf001).select(
      F.concat(F.lit("k"),
        F.when(F.col("event_id") % 2 === 0, (F.col("user_id") % 10).cast("string"))
          .otherwise(F.concat(F.lit("c"), (F.col("event_id") % 2000).cast("string"))))
        .as("key"))
    val n = ev.count()
    val thr = math.ceil(0.01 * n).toLong
    val direct = ev.groupBy("key").agg(F.count(F.lit(1)).as("cnt"))
      .filter(F.col("cnt") >= thr)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val pruned = Sketches.heavyHitters(ev, "key", 0.01, knownTotal = n)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(pruned == direct, s"pruned=$pruned direct=$direct")
    assert(direct.nonEmpty, "gate synthesis produced no heavy hitters")
    // the prune must beat the key space: candidates surviving the CM
    // filter are far fewer than distinct keys
    val regs = Sketches.cmRegisters(ev, "key", 4, 1024).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSeq
    val survivors = ev.filter(
        Sketches.cmEstimateCol(F.col("key"), regs, 4, 1024) >= thr)
      .select("key").distinct().count()
    val distinctKeys = ev.select("key").distinct().count()
    info(s"distinct=$distinctKeys survivors=$survivors heavy=${direct.size}")
    assert(survivors < distinctKeys / 2,
      s"CM prune kept $survivors of $distinctKeys keys — not pruning")
  }

  test("per-group heavy hitters equal the direct per-group HAVING answer") {
    import graft.functions.Sketches
    val ev = Tables.events(spark, sf001).select(
      F.col("event_type").as("grp"),
      F.concat(F.lit("k"),
        F.when(F.col("event_id") % 2 === 0, (F.col("user_id") % 10).cast("string"))
          .otherwise(F.concat(F.lit("c"), (F.col("event_id") % 2000).cast("string"))))
        .as("key"))
    val totals = ev.groupBy("grp").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val direct = ev.groupBy("grp", "key").count().collect()
      .collect { case r if r.getLong(2) >= math.ceil(0.04 * totals(r.getString(0))).toLong =>
        (r.getString(0), r.getString(1), r.getLong(2)) }.toSet
    val pruned = Sketches.heavyHittersPerGroup(ev, "grp", "key", 0.04)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(pruned == direct)
    assert(direct.nonEmpty && direct.map(_._1).size >= 2,
      "gate synthesis must produce heavy hitters in multiple groups")
  }

  test("stream-static broadcast enrichment joins a stream against a dimension") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dim = Seq((1L, "alpha"), (2L, "beta")).toDF("k", "name")
    val input = MemoryStream[(Long, Long)]
    val enriched = input.toDS().toDF("k", "v")
      .join(F.broadcast(dim), Seq("k"), "left")
    val q = enriched.writeStream.format("memory").queryName("enrich_1")
      .outputMode("append").start()
    input.addData((1L, 10L), (3L, 30L))
    q.processAllAvailable()
    val rows = spark.table("enrich_1").collect()
      .map(r => (r.getLong(0), Option(r.getString(2)))).toSet
    q.stop()
    assert(rows == Set((1L, Some("alpha")), (3L, None)))
  }
}
