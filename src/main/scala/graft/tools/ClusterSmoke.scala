package graft.tools

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Cross-JVM serialization smoke: run a representative query slice under
  * `local-cluster[2,2,1024]` — REAL separate executor JVMs, standalone
  * master, closures and custom expressions round-tripping through
  * JavaSerializer — and assert every result is hash-identical to the same
  * query on plain `local[4]` in the same process.
  *
  * Why this exists: every other gate in the repo (local[32] bench,
  * local[4,2] suite) executes tasks inside the driver JVM, where a
  * non-serializable closure, a non-serializable `addReferenceObj` payload
  * in a custom Catalyst expression, or a decoder factory capturing driver
  * state is INVISIBLE — and fatal on a real cluster. The reference engine
  * runs multi-process workers as a matter of course
  * (malstrom-core/src/runtime/threaded/multi.rs); this smoke is the Spark
  * analogue of that guarantee, covering one query per custom-expression
  * family plus the imperative paths:
  *
  *   - BloomHitsExpr (codegen reference-obj bitset) → q_contamination_bloom
  *   - GopherStatsExpr                              → q_gopher_rules
  *   - MinhashSigsExpr                              → q_dedup_minhash
  *   - SimhashExpr                                  → q_dedup_simhash
  *   - ShingleExpr + SortedIntersectCountExpr       → q_ngram_jaccard
  *   - WinnowExpr                                   → q_fingerprint_winnow
  *   - TokenBlocksExpr                              → q_trim_spans
  *   - TokenTfExpr                                  → q_tfidf
  *   - DotProductF (+ RewriteDotProduct rule)       → q_ann_brute
  *   - PqExprs (encode/ADC with codebook ref-obj)   → q_ann_pq
  *   - XxHash64ArrayExpr (UnigramLm model ref)      → q_lm_score
  *   - ShingleExpr + decimal-exact DSIR sums        → q_dsir_weights
  *   - MediaDecoder factory (mapPartitions)         → q_multimodal_frames
  *   - NfcNormalizeExpr                             → q_normalize_unicode
  *   - Bpe trainer + memoized mapPartitions encode  → q_bpe_encode
  *   - CentroidScoresExpr (centroid ref-obj)        → q_ann_ivf
  *   - C4StatsExpr (native line-filter pass)        → q_c4_rules
  *   - line window + ordered rebuild agg            → q_dedup_lines
  *   - GlobalIndex zipWithIndex rank                → q_shard_by_tokens
  *   - DPP-pruned indexed IVF serve (driver
  *     quantizer cache + prelist-reconciled append) → q_ann_ivf_indexed
  *   - StatefulLogic batch path (flatMapGroups)     → q_stateful_map
  *   - StatefulLogic streaming (transformWithState,
  *     RocksDB provider on executors)               → q_stream_stateful
  *   - plain shuffle join + salted agg              → q_join, q_agg_salted
  *
  * Exit 0 and a final `CLUSTER_SMOKE PASS` line iff (a) the cluster run
  * actually registered ≥ 2 remote executors, and (b) every query's
  * canonical hash matches between the two masters.
  */
object ClusterSmoke {

  /** The whole bench headline plus the gates flagged `crossJvm`: those
    * whose serialization surface (a custom-expression ref-obj, the
    * MediaDecoder factory, a state path) the headline does not cross an
    * executor JVM boundary with. */
  val slice: Seq[String] =
    graft.SparkEntry.gates.filter(g => g.headline || g.crossJvm).map(_.name)

  /** The JDK-17 module opens spark-submit would normally inject, as JVM
    * arguments: handed to the executor JVMs here, and to the JVM that
    * ClusterSmokeSpec forks for this main. */
  val addOpens: Seq[String] = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")
    .flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  /** Canonical result hash: columns sorted by name, every value rendered
    * deterministically (binary → hex — Array.toString would be an object
    * identity), rows sorted, md5 over the concatenation. Both masters go
    * through the same renderer, so any stable rendering is a valid
    * equality witness. */
  private def render(v: Any): String = v match {
    case null => "∅"
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => render(k) + "→" + render(x) }.toSeq.sorted.mkString("{", ",", "}")
    case other => other.toString
  }

  private def resultHash(df: DataFrame): (Long, String) = {
    val cols = df.columns.sorted.map(org.apache.spark.sql.functions.col)
    val rows = df.select(cols.toSeq: _*).collect()
    val canon = rows.map(r => r.toSeq.map(render).mkString("")).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    canon.foreach(line => md.update(line.getBytes("UTF-8")))
    (rows.length.toLong, md.digest().map(x => f"$x%02x").mkString)
  }

  private def buildSession(master: String, extraConf: Map[String, String]): SparkSession = {
    val b = SparkSession.builder()
      .master(master)
      .appName("graft-cluster-smoke")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config(graft.HadoopFs.forkFreeLocalConfs)
    extraConf.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def runSlice(s: SparkSession, sfDir: String): Map[String, (Long, String)] =
    slice.map { name =>
      val t0 = System.nanoTime()
      val h = graft.Tables.restoringNanosFlag(s)(
        resultHash(graft.SparkEntry.queries(name)(s, sfDir)))
      System.err.println(
        f"[smoke] ${s.sparkContext.master}%-24s $name%-24s ${(System.nanoTime() - t0) / 1e9}%6.2fs rows=${h._1} ${h._2}")
      name -> h
    }.toMap

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

    // --- Pass 1: real multi-JVM standalone cluster. Executor JVMs are
    // launched by the in-process Workers with a FRESH classpath — hand
    // them ours (same machine, so the driver's classpath is valid there)
    // plus the module opens.
    val cluster = buildSession(
      "local-cluster[2,2,1024]",
      Map(
        "spark.executor.extraClassPath" -> sys.props("java.class.path"),
        "spark.executor.extraJavaOptions" -> addOpens.mkString(" "),
        "spark.executor.memory" -> "1024m"))
    // Block until both remote executors registered (the first job would
    // otherwise run degraded on one) — statusTracker counts the driver too.
    val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
    while (cluster.sparkContext.statusTracker.getExecutorInfos.length < 3
           && System.nanoTime() < deadline) Thread.sleep(200)
    val execs = cluster.sparkContext.statusTracker.getExecutorInfos.length - 1
    val clusterHashes =
      try {
        require(execs >= 2, s"cluster smoke needs >= 2 remote executors, got $execs")
        runSlice(cluster, sfDir)
      } finally {
        cluster.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }

    // --- Pass 2: same process, plain local master — the known-good
    // single-JVM answers every other gate already verifies.
    val local = buildSession("local[4]", Map.empty)
    val localHashes =
      try runSlice(local, sfDir)
      finally {
        local.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }

    val bad = slice.filter(q => clusterHashes(q) != localHashes(q))
    bad.foreach(q => System.err.println(
      s"[smoke] MISMATCH $q cluster=${clusterHashes(q)} local=${localHashes(q)}"))
    val zero = slice.filter(q => clusterHashes(q)._1 == 0L)
    zero.foreach(q => System.err.println(s"[smoke] EMPTY $q returned 0 rows"))
    if (bad.isEmpty && zero.isEmpty) {
      println(s"CLUSTER_SMOKE PASS executors=$execs queries=${slice.length}")
    } else {
      println(s"CLUSTER_SMOKE FAIL mismatches=${bad.mkString(",")} empty=${zero.mkString(",")}")
      sys.exit(1)
    }
  }
}
