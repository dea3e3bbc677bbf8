package graft.examples

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.{functions => F}

import graft.api.GraftStream
import graft.operators.{StatefulExec, StatefulLogic}
import graft.sinks.StdoutSink
import graft.sources.RangeSource
import graft.time.EventTime

/** Runnable ports of the reference examples (malstrom-core/examples/) —
  * the "switching user" orientation guide. Each main mirrors one example's
  * program shape on the graft API. Run e.g.:
  *   sbt "runMain graft.examples.BasicOperators"
  */
private object ExampleSession {
  def apply(): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-example")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** examples/basic_operators.rs: map → filter → flatten → inspect → stdout. */
object BasicOperators {
  def main(args: Array[String]): Unit = {
    val spark = ExampleSession()
    GraftStream(RangeSource(100).load(spark))
      .map(F.col("i"), (F.col("i") * F.col("i")).as("sq"))
      .filter(F.col("sq") % 2 === 0)
      .mapColumn("digits", F.split(F.col("sq").cast("string"), ""))
      .flatten(F.col("digits"), "digit", F.col("i"), F.col("sq"))
      .inspect("metrics", F.count(F.lit(1)).as("rows"))
      .sinkTo(StdoutSink(limit = 5))
    spark.stop()
  }
}

/** examples/keyed_streams.rs + stateful_program_multiple_keys.rs:
  * key-distribute then per-key running state. */
object KeyedStatefulProgram {
  def main(args: Array[String]): Unit = {
    val spark = ExampleSession()
    GraftStream(RangeSource(1000).load(spark))
      .mapColumn("k", F.col("i") % 7)
      .keyDistribute(F.col("k"))
      .statefulProject(Seq(F.col("i")),
        "running_sum" -> (fr => F.sum("i").over(fr)))
      .toDF.orderBy("k", "i").show(10)
    spark.stop()
  }
}

/** examples/custom_stateful_operator.rs: the typed StatefulLogic path. */
object CustomStatefulOperator {
  final case class In(k: Long, v: Long)
  final case class Out(k: Long, high_water: Long)

  def main(args: Array[String]): Unit = {
    val spark = ExampleSession()
    import spark.implicits._
    val logic = new StatefulLogic[Long, In, Long, Out] {
      def zero: Long = Long.MinValue
      def update(k: Long, in: In, hw: Long): (Long, IterableOnce[Out]) = {
        val next = math.max(hw, in.v)
        (next, if (next > hw) Iterator.single(Out(k, next)) else Iterator.empty)
      }
    }
    val ds = (0L until 100L).map(i => In(i % 3, (i * 37) % 100)).toDS()
    StatefulExec.batch[Long, In, Long, Out](ds, _.k, Ordering.by(_.v), logic)
      .show(9)
    spark.stop()
  }
}

/** examples/event_time.rs + event_time_out_of_order.rs: timestamps, a
  * bounded-out-of-orderness watermark, tumbling windows, late data. */
object EventTimeWindows {
  def main(args: Array[String]): Unit = {
    val spark = ExampleSession()
    val events = GraftStream(RangeSource(10000).load(spark))
      .mapColumn("ts", F.timestamp_seconds(F.col("i") * 13 % 86400))
      .mapColumn("kind", (F.col("i") % 3).cast("string"))
      .assignTimestamps(F.col("ts"))
      .limitOutOfOrderness("event_time", "10 minutes")
      .toDF
    EventTime.tumblingAgg(events, F.col("event_time"), "1 hour",
      Seq(F.col("kind")), Seq(F.count(F.lit(1)).as("n")))
      .orderBy("kind", "window").show(5, false)
    EventTime.lateData(events, F.col("event_time"), Seq(F.col("kind")), "6 hours")
      .groupBy("kind").count().show()
    spark.stop()
  }
}

/** examples/joining_streams.rs + split_streams.rs + cloned_streams.rs. */
object JoiningAndSplitting {
  def main(args: Array[String]): Unit = {
    val spark = ExampleSession()
    val base = GraftStream(RangeSource(1000).load(spark))
      .mapColumn("k", (F.col("i") / 2).cast("long") % 10)
    val (evens, odds) = base.split(F.col("i") % 2 === 0)
    // self-join of two branches of one scan: disambiguate the right side
    val rhs = odds.map(F.col("i").as("j"), F.col("k").as("k2"))
    val joined = evens.keyLocal(F.col("k"))
      .join(rhs.keyLocal(F.col("k2")), how = "inner", broadcastRight = true)
    println(s"joined rows: ${joined.toDF.count()}")
    val (x, y) = base.cloned
    println(s"cloned counts match: ${x.toDF.count() == y.toDF.count()}")
    spark.stop()
  }
}

/** examples/look_ma_im_streaming.rs: the smallest possible real stream —
  * an unbounded source, a map, a sink, state managed by the engine. */
object LookMaImStreaming {
  def main(args: Array[String]): Unit = {
    val spark = ExampleSession()
    val q = graft.sources.RangeSource(0).loadStream(spark)
      .withColumn("sq", F.col("i") * F.col("i"))
      .writeStream.format("console")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 second"))
      .start()
    q.awaitTermination(5000) // look ma, streaming — stop after ~5s
    q.stop()
    spark.stop()
  }
}

/** examples/ttl_map_example.rs: per-key state that EXPIRES by event time —
  * keys silent past the TTL flush via onExpiry, exactly the reference's
  * epoch-driven expiry re-expressed as watermark + transformWithState
  * event-time timers (which need the RocksDB state-store provider). */
object TtlMapExample {
  final case class Hit(k: Long, ts: java.sql.Timestamp, v: Long)
  final case class Flush(k: Long, total: Long)
  def main(args: Array[String]): Unit = {
    val spark = ExampleSession()
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val logic = new StatefulLogic[Long, Hit, Long, Flush] {
      def zero = 0L
      def update(k: Long, v: Hit, s: Long): (Long, IterableOnce[Flush]) =
        (s + v.v, Iterator.empty) // accumulate silently …
      override def onExpiry(k: Long, s: Long): IterableOnce[Flush] =
        Iterator.single(Flush(k, s)) // … flush when the key goes quiet
    }
    val input = MemoryStream[Hit]
    val out = StatefulExec.streamTws[Long, Hit, Long, Flush](
      input.toDS().withWatermark("ts", "0 seconds").as[Hit],
      _.k, logic, ttlMs = Some(10000L), eventTimeMs = Some(_.ts.getTime))
    val q = graft.SessionConf.withConf(spark, graft.SessionConf.RocksDbProvider) {
      out.writeStream.format("console").outputMode("append").start()
    }
    def t(ms: Long) = new java.sql.Timestamp(ms)
    input.addData(Hit(1, t(1000), 5), Hit(2, t(2000), 7))
    q.processAllAvailable()
    input.addData(Hit(1, t(30000), 1)) // advances the watermark: key 2 expires
    q.processAllAvailable()
    q.stop(); spark.stop()
  }
}

/** examples/slatedb_backend.rs + rescaling.rs: durable checkpoints and a
  * parallelism change across restart — same results either side. */
object CheckpointAndRescale {
  def main(args: Array[String]): Unit = {
    val spark = ExampleSession()
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_example")
    val sf = args.headOption.getOrElse("/root/testdata/sf0.001")
    def run(parts: String): Long = {
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      val agg = graft.Tables.events(spark, sf)
        .groupBy(F.col("event_type")).agg(F.count(F.lit(1)).as("n"))
      agg.collect().map(_.getLong(1)).sum
    }
    val before = run("4")
    val after = run("16") // "rescale": 4x the parallelism, identical result
    println(s"counts invariant under rescale: ${before == after}")
    // durable streaming checkpoint: see StreamingOps.startWithCheckpoint +
    // StreamingSpec's restart-resume test for the stop/resume round trip.
    println(s"checkpoint dir for the streaming variant: $dir")
    spark.stop()
  }
}

/** malstrom-kafka/examples/source_sink.rs: read a topic, inspect, write to
  * another topic. Runs on the file shim here (no broker/jar in this
  * container); on a cluster, pass a bootstrap server and
  * [[graft.sources.KafkaShim.readAuto]] dispatches to Spark's native
  * `format("kafka")` with the identical offset contract. */
object KafkaSourceSink {
  def main(args: Array[String]): Unit = {
    val spark = ExampleSession()
    import spark.implicits._
    import graft.sources.KafkaShim
    val root = java.nio.file.Files.createTempDirectory("graft-kafka-example").toString
    KafkaShim.write(
      Seq((0, "k1", "hello", "2024-01-01 00:00:00"),
          (1, "k2", "kafka", "2024-01-01 00:00:01"),
          (0, "k1", "world", "2024-01-01 00:00:02"))
        .toDF("partition", "key", "value", "ts"),
      root, "foobar", orderCols = Seq("ts"))
    val in = KafkaShim.readAuto(spark, root, "foobar",
      startingOffsets = Map.empty, bootstrapServers = sys.env.get("KAFKA_BROKERS"))
    val inspected = graft.api.GraftStream(in)
      .inspect("print", F.count(F.lit(1)).as("records"))
    KafkaShim.write(
      inspected.toDF.select(F.col("partition"), F.col("key"),
        F.upper(F.col("value")).as("value"), F.col("ts")),
      root, "foobar-out", orderCols = Seq("ts"))
    spark.read.schema(KafkaShim.schemaDDL)
      .parquet(s"$root/topic=foobar-out").orderBy("partition", "offset").show(false)
    spark.stop()
  }
}

/** The LLM-data-pipeline pack end to end on real test data: near-dup
  * detection (MinHash-LSH), compressed similarity search (PQ), and
  * text-quality scoring — the graft-side surface the reference's users
  * would reach for at corpus scale. */
object DataPipelinePack {
  def main(args: Array[String]): Unit = {
    val spark = ExampleSession()
    val sf = args.headOption.getOrElse("/root/testdata/sf0.001")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    println(s"near-dup candidate pairs: ${graft.dedup.Dedup.minhashCandidates(docs).count()}")
    graft.ann.Pq.topK(emb, emb.filter(F.col("vec_id") < 3), k = 3)
      .orderBy("query_id", "rnk").show(9, false)
    docs.select(F.col("doc_id"),
        graft.functions.TextFunctions.langId(F.col("text")).as("lang"),
        F.round(graft.functions.TextFunctions.qualityScore(F.col("text")), 3).as("quality"))
      .orderBy(F.col("quality").desc).show(5, false)
    // Corpus-level quality signals: duplicated-5-gram fraction (boilerplate),
    // unigram LM score (fluency), token entropy (vocabulary diversity).
    graft.dedup.Dedup.dupNgramFraction(docs)
      .join(graft.functions.UnigramLm.score(docs).select("doc_id", "lm_score"), "doc_id")
      .join(graft.functions.UnigramLm.tokenEntropy(docs).select("doc_id", "entropy"), "doc_id")
      .orderBy(F.col("dup_frac").desc).show(5, false)
    spark.stop()
  }
}

/** Round-11 surface: sharded ingestion with a persistent signature index,
  * semantic dedup over embeddings, sketched cardinality, and the mixing
  * allocator — the continuous-corpus-maintenance workflow. */
object IncrementalCorpusMaintenance {
  def main(args: Array[String]): Unit = {
    val spark = ExampleSession()
    val sf = args.headOption.getOrElse("/root/testdata/sf0.001")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    // Day 0: index the existing corpus once. Day N: each arriving shard
    // dedups against ALL history via the bucketed index, never re-reading
    // old text, and appends itself for the next shard.
    spark.sql("DROP TABLE IF EXISTS example_sig_index")
    graft.dedup.Dedup.indexInit(docs.filter(F.col("doc_id") % 2 === 0), "example_sig_index")
    val shardPairs = graft.dedup.Dedup.incremental(
      docs.filter(F.col("doc_id") % 2 === 1), "example_sig_index")
    println(s"new-shard duplicate candidate pairs: ${shardPairs.count()}")
    // A refresh crawl re-fetches some documents: latest-wins merge, then
    // the snapshot diff is the audit log of what the refresh changed.
    val refreshed = docs.filter(F.col("doc_id") % 11 === 3)
      .withColumn("text", F.concat(F.col("text"), F.lit(" (refreshed)")))
    val merged = graft.operators.Corpus.upsert(
      docs.withColumn("version", F.lit(0)),
      refreshed.withColumn("version", F.lit(1)))
    graft.operators.Corpus.diff(docs, merged.drop("version"))
      .groupBy("status").count().show(false)
    // Semantic (embedding-space) dedup: survivors after cluster-then-dedup.
    println(s"semantic survivors: ${graft.dedup.Dedup.semantic(emb).count()} / ${emb.count()}")
    // Sketched cardinality + quantiles (both mergeable, both hash-exact
    // oracled), then the mixture the next training run should use —
    // planned (weights) AND executed (the sampled corpus itself).
    graft.functions.Sketches.hllCount(docs, Seq("lang"), "source").show(5, false)
    graft.functions.Sketches.quantileSketch(docs, Seq("lang"), "n_chars", "doc_id")
      .show(5, false)
    graft.operators.Sampling.mixWeights(docs, budgetTokens = 500000L)
      .orderBy(F.col("weight").desc).show(5, false)
    println(s"mixture sample: ${graft.operators.Sampling.mixSample(docs, budgetTokens = 20000L).count()} / ${docs.count()} docs")
    spark.sql("DROP TABLE IF EXISTS example_sig_index")
    spark.stop()
  }
}

/** Round-13 surface — the operator development loop: unit-test a custom
  * StatefulLogic with the public harness (reference
  * testing/operator_tester.rs: send_local/step/recv_local), then migrate
  * its running state to a different partition count offline
  * (reference keyed/distributed/ rescale choreography, done the Spark
  * way: checkpoint read → initialState re-seed). */
object OperatorTestingAndRescale {
  final case class Click(user: Long, ts: Long)
  final case class Sessions(user: Long, clicks: Long)

  def main(args: Array[String]): Unit = {
    val spark = ExampleSession()
    import spark.implicits._

    // A user-written operator: count clicks per user, emit the total only
    // when the user goes idle past the TTL (classic sessionization).
    val sessionize = new graft.operators.StatefulLogic[Long, Click, Long, Sessions] {
      def zero = 0L
      def update(k: Long, v: Click, s: Long): (Long, IterableOnce[Sessions]) =
        (s + 1, Iterator.empty)
      override def onExpiry(k: Long, s: Long): IterableOnce[Sessions] =
        Iterator.single(Sessions(k, s))
    }

    // 1. Drive it through epochs with the harness — no Spark test
    //    scaffolding, real state store, watermark = the frontier. (Event
    //    times must sit ABOVE the frontier: the initial frontier is 0, so
    //    a record at t=0 is already late and drops, exactly as it would
    //    in production.)
    val t = graft.testing.OperatorTester.tws[Long, Click, Long, Sessions](
      sessionize, _.user, _.ts, ttlMs = Some(30 * 60000L))(spark)
    t.stepWith(Click(1, min(10)), Click(2, min(10))) // epoch 1: two sessions open
    // epoch 2: user 1 stays active, pushing the frontier to 60min — past
    // user 2's 10min+30min deadline, so user 2's session flushes HERE.
    val emitted = t.stepWith(Click(1, min(60)))
    println(s"flushed sessions: $emitted")           // Sessions(2, 1)
    t.close()

    // 2. Its stopped checkpoint resumes at a new partition count with
    //    graft.streaming.StateRescale.resume.
    spark.stop()
  }

  private def min(m: Long): Long = m * 60000L
}

/** The round-13 DATA-SELECTION pipeline, end to end on the bundled
  * sf0.001 tables — the training-data curation flow the LLM pack exists
  * for, each stage one operator:
  *
  *   heuristic gate (Gopher rules) → trained model gate (in-engine
  *   logistic classifier) → target-domain importance weights + Gumbel
  *   resampling (DSIR) → per-language fluency thirds (CCNet) →
  *   epoch-capped per-source budget (UniMax) → deterministic training
  *   order + shards.
  *
  * Every stage is deterministic and oracle-checked individually (SURVEY
  * rows 105–113); this main shows them composing. Run:
  *   sbt "runMain graft.examples.DataSelectionPipeline"
  */
object DataSelectionPipeline {
  def main(args: Array[String]): Unit = {
    val spark = ExampleSession()
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val docs = graft.Tables(spark, dir, "documents")

    // 1. Heuristic pre-filter: the Gopher rule suite (single-pass native
    //    expression). Thresholds relaxed for the synthetic corpus: the
    //    generator's word salad is short and — correctly — fails the
    //    required-stopword rule that real English passes, so that rule
    //    is disabled here (on sf0.001, 0/500 docs carry >= 2 of the 8
    //    Gopher stopwords; a production corpus keeps the default).
    val rules = graft.functions.TextFunctions.gopherRules(
      docs, minWords = 20, minStopwords = 0)
    val heurKeep = docs.join(
      rules.filter(F.col("passes")).select("doc_id"), Seq("doc_id"), "left_semi")
    println(s"gopher survivors: ${heurKeep.count()} of ${docs.count()}")

    // 2. Model gate: logistic classifier trained in-engine on the
    //    exemplar slice (doc_id % 50 = 0 stands in for "curated docs").
    val scored = graft.functions.Classifier.trainScore(
      heurKeep, F.when(F.col("doc_id") % 50 === 0, F.lit(1.0)).otherwise(F.lit(0.0)))
    // With a ~2% positive class, four GD steps keep every score under
    // 0.5 (the prior dominates) — the learned SIGNAL shows in the mean
    // score by true label; rank-based selection (quantile cut) is how a
    // pipeline consumes it.
    scored.groupBy("label")
      .agg(F.round(F.avg("clf_score"), 4).as("mean_clf_score")).show()

    // 3. DSIR: importance-weight against the same target, then resample.
    val target = docs.filter(F.col("doc_id") % 50 === 0)
    val picked = graft.functions.Dsir.select(heurKeep, target, k = 200)
    println(s"dsir-selected: ${picked.count()}")

    // 4. CCNet fluency thirds per language (head = keep, tail = audit).
    val buckets = graft.functions.UnigramLm.perplexityBuckets(heurKeep)
    buckets.groupBy("pred_lang", "ppl_bucket").count()
      .orderBy("pred_lang", "ppl_bucket").show(9)

    // 5. UniMax: spread a token budget over sources, ≤ 2 epochs each.
    graft.operators.Sampling.unimaxWeights(
      heurKeep, budgetTokens = 20000L, maxEpochs = 2).show()

    // 6. Deterministic training order + shards for the selected corpus —
    //    count-balanced (shuffleShard) or TOKEN-balanced (shardByTokens,
    //    what a length-skewed corpus actually needs).
    val selected = heurKeep.join(picked.select("doc_id"), Seq("doc_id"), "left_semi")
    val sharded = graft.operators.Sampling.shuffleShard(selected, nShards = 4)
    sharded.groupBy("shard").count().orderBy("shard").show()
    graft.operators.Sampling.shardByTokens(selected, nShards = 4)
      .groupBy("shard").agg(F.sum("n_tok").as("shard_tokens"))
      .orderBy("shard").show()

    // 7. The funnel report the pipeline dashboard draws: per-stage yields
    //    of the whole selection chain in one aggregation.
    val pickedIds = picked.select(F.col("doc_id"), F.lit(true).as("f_sel"))
    val flagged = docs
      .join(rules.select(F.col("doc_id"), F.col("passes")), Seq("doc_id"))
      .join(pickedIds, Seq("doc_id"), "left")
    graft.operators.Funnel.report(flagged, Seq(
      "gopher" -> F.col("passes"),
      "dsir_selected" -> F.coalesce(F.col("f_sel"), F.lit(false)))).show()
    spark.stop()
  }
}

/** Round-16 additions end-to-end: curate a web corpus with the policy,
  * sketch, sampling, and layout operators — the "prepare a pretraining
  * mix" recipe a data team runs before every training cycle. */
object WebCorpusCuration {
  def main(args: Array[String]): Unit = {
    val spark = ExampleSession()
    import org.apache.spark.sql.{functions => F}
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val docs = graft.Tables(spark, dir, "documents")

    // 1. Domain policy first — cheapest filter, run before any content
    //    work. (URL synthesized here; a crawl carries its own.)
    val url = F.concat(F.lit("https://www.site"), (F.col("doc_id") % 50).cast("string"),
      F.when(F.col("doc_id") % 3 === 0, F.lit(".bad-ads.net")).otherwise(F.lit(".example.com")),
      F.lit("/p/"), F.col("doc_id").cast("string"))
    import spark.implicits._
    val blocklist = Seq("bad-ads.net").toDF("domain")
    val policy = graft.functions.TextFunctions.domainBlocklist(
      docs.select(F.col("doc_id"), url.as("url")), "url", blocklist)
    val allowed = docs.join(
      policy.filter(!F.col("blocked")).select("doc_id"), Seq("doc_id"), "left_semi")

    // 2. Corpus diagnosis: the heavy-hitter tokens (boilerplate radar) —
    //    exact answer, Count-Min-pruned shuffle.
    graft.functions.Sketches.heavyHitters(
      allowed.select(F.explode(F.split(F.lower(F.col("text")), "\\s+")).as("tok")),
      "tok", phi = 0.02).orderBy(F.col("cnt").desc).show(5)

    // 3. PMI collocations worth atomizing before tokenizer training.
    graft.functions.Collocations.pmi(allowed, minCount = 5)
      .orderBy(F.col("pmi").desc).show(5)

    // 4. Weighted subsample: 100 docs by token mass, with the subset-sum
    //    estimator weights for later unbiased accounting.
    val sample = graft.operators.Sampling.prioritySample(
      allowed, "doc_id", F.col("n_chars"), k = 100)
    sample.agg(F.sum("weight_est").as("est_total_chars")).show()

    // 5. Embedding-space pruning: keep each cluster's hardest half.
    val emb = graft.Tables(spark, dir, "embeddings")
    graft.ann.Ann.prunePrototypes(emb, keepFraction = 0.5)
      .groupBy("cluster_id").count().orderBy("cluster_id").show(4)

    // 6. Tokenizer diagnostics on the curated text: train a small merge
    //    table, read the per-language fertility/compression report.
    val merges = graft.functions.Bpe.train(allowed, numMerges = 16)
    graft.functions.Bpe.fertilityReport(allowed, merges).orderBy("lang").show()

    // 7. Lay the curated corpus down clustered on the hot filter columns
    //    so every later scan prunes on footer stats.
    val out = java.nio.file.Files.createTempDirectory("curated_").toString
    graft.operators.Corpus.optimizeLayout(allowed, out, Seq("lang", "n_chars"))
    spark.read.parquet(out).filter(F.col("lang") === "en").count()
    spark.stop()
  }
}
