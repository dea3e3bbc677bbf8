package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Deterministic, oracle-replicable HyperLogLog (Flajolet et al. 2007)
  * built from md5-derived registers — the mergeable cardinality sketch for
  * the 100 TB tier, as a plain two-stage aggregation.
  *
  * Spark's own `approx_count_distinct` is a production HLL++ but its
  * xxhash64 seeding and bias tables are not replicable in a SQL oracle, so
  * it can only ever be tolerance-spec'd (SketchSpec). This one derives
  * bucket and rank from the md5 hex — both engines compute bit-identical
  * registers, the harmonic sum is an exact integer in DECIMAL, and the
  * estimate is the same double on both sides.
  *
  * Construction (p bucket bits, m = 2^p registers):
  *  - bucket  = first p/4 hex chars of md5(value)          (0 .. m−1)
  *  - tail    = next 14 hex chars as a 56-bit integer
  *  - rank    = leading zeros of the 56-bit tail + 1 = 57 − len(bin(tail)),
  *              57 when the tail is all zeros
  *  - M[j]    = max rank per bucket; harmonic sum Σ 2^(−M[j]) carried as
  *              the exact integer Σ 2^(57−M[j]) (≤ m·2^57, DECIMAL-summed,
  *              order-free); empty registers contribute 2^57 (= 2^0 · 2^57)
  *  - E       = α_m · m² / Σ 2^(−M[j]), linear counting below 2.5m with
  *              empty registers present (the standard small-range switch)
  *
  * Scale shape: two map-side-combinable aggregations — (keys, bucket) max,
  * then (keys) sum — shuffling at most keys × m tiny rows. Registers
  * max-merge across shards/partials (associative + commutative +
  * idempotent), which is the whole point of a sketch at 100 TB:
  * SketchSpec proves merged-register equality and the gate query
  * (q_distinct_sketch) proves the end number hash-exact vs DuckDB.
  */
object Sketches {

  /** Per-(keys, bucket) max-rank register table — the mergeable state.
    * Merge rule: union register tables, re-apply groupBy-max. NULL values
    * are excluded (a NULL hashes to a NULL bucket with a NULL rank — a
    * phantom register that inflates the present-count without
    * contributing to the harmonic sum, biasing the estimate upward); the
    * sketch counts distinct NON-NULL values, as count(DISTINCT x) does. */
  def hllRegisters(df: DataFrame, keys: Seq[String], valueCol: String,
                   p: Int = 8): DataFrame = {
    require(p % 4 == 0 && p > 0 && p <= 16, "p must be 4, 8, 12 or 16 (hex-aligned)")
    val hexChars = p / 4
    val h = F.md5(F.col(valueCol).cast("string"))
    val bucket = F.conv(F.substring(h, 1, hexChars), 16, 10).cast("int")
    val tail = F.conv(F.substring(h, hexChars + 1, 14), 16, 10).cast("long")
    val rank = F.when(tail === 0L, F.lit(57))
      .otherwise(F.lit(57) - F.length(F.bin(tail)))
    df.filter(F.col(valueCol).isNotNull)
      .select(keys.map(F.col) :+ bucket.as("hll_b") :+ rank.as("hll_r"): _*)
      .groupBy(keys.map(F.col) :+ F.col("hll_b"): _*)
      .agg(F.max("hll_r").as("hll_m"))
  }

  /** Fold a register table to the HLL estimate per key group. */
  def hllEstimate(registers: DataFrame, keys: Seq[String], p: Int = 8): DataFrame = {
    val m = 1 << p
    // Exact harmonic numerator: present registers contribute 2^(57−M[j])
    // (an integer ≤ 2^56), absent ones 2^57 apiece — added afterwards from
    // the present-count, so no join against a full register list is needed.
    val folded = registers
      .groupBy(keys.map(F.col): _*)
      .agg(
        F.count(F.lit(1)).as("n_present"),
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 57 - hll_m)").cast("decimal(28,0)"))
          .as("s_present"))
    // The estimate formula is spelled as ONE textual SQL expression that
    // the DuckDB oracle repeats verbatim: identical literals, identical
    // association order, so the doubles agree bit-for-bit (the final
    // round(…, 4) absorbs any last-ulp libm difference in ln).
    folded.select(
      keys.map(F.col) :+
        F.col("n_present").cast("long").as("n_present") :+
        F.expr(s"CAST($m - n_present AS BIGINT)").as("v_zeros") :+
        F.expr(hllEstSql(m, "s_present", "n_present")).as("hll_est"): _*)
  }

  /** The shared estimate SQL (Spark `expr` and DuckDB parse it alike). */
  def hllEstSql(m: Int, sCol: String, nPresentCol: String): String = {
    // The 0.7213/(1+1.079/m) closed form is the LARGE-m approximation;
    // the original paper's small-register constant applies at m=16 (the
    // p=4 case — the only sub-128 register count the hllRegisters
    // require(), p % 4 == 0 && p <= 16, can produce) — without it the
    // estimate carries a systematic ~7% bias at m=16. Both engines
    // evaluate this same generated text, so parity holds for any
    // choice; the point of the constant is accuracy, not parity.
    val alpha = m match {
      case 16 => "0.673"
      case _  => s"0.7213 / (1.0 + 1.079 / $m.0)"
    }
    val sumInv = // Σ 2^(−M[j]) = (s_present + zeros · 2^57) / 2^57
      s"(CAST($sCol AS DOUBLE) + CAST($m - $nPresentCol AS DOUBLE) * 144115188075855872.0) / 144115188075855872.0"
    val raw = s"$alpha * $m.0 * $m.0 / ($sumInv)"
    s"round(CASE WHEN ($raw) <= 2.5 * $m.0 AND $nPresentCol < $m " +
      s"THEN $m.0 * ln($m.0 / CAST($m - $nPresentCol AS DOUBLE)) " +
      s"ELSE ($raw) END, 4)"
  }

  /** End-to-end: distinct-count sketch of `valueCol` per `keys`. */
  def hllCount(df: DataFrame, keys: Seq[String], valueCol: String,
               p: Int = 8): DataFrame =
    hllEstimate(hllRegisters(df, keys, valueCol, p), keys, p)

  // ------------------------------------------------ quantile sketch (KMV)

  /** Deterministic bottom-k uniform row sample per key group — the
    * mergeable state of the quantile sketch. The sample key is
    * md5(idCol): uniform over rows, identical in any engine, and
    * distinct ids make the bottom-k unique, so the sample is a FUNCTION
    * of the data, not of partitioning or arrival order. Merge rule:
    * union sample tables, re-take the bottom k (associative, commutative,
    * idempotent — SketchSpec proves shard-merge equality). The same
    * merge makes it a streaming aggregation unchanged: in `complete`
    * mode the state after any prefix of a stream is that prefix's
    * sample, at most keys × k rows.
    *
    * Scale shape: the bottom-k cut is
    * [[graft.functions.expressions.BottomKByKeyAgg]] — a bounded-heap
    * TypedImperativeAggregate, NOT a rank window. The window form's
    * Partial WindowGroupLimit forces a FULL LOCAL SORT of every map
    * partition before the cut (O(n log n) per task over full-width
    * rows); the aggregate streams rows through a 256-entry TreeMap
    * (O(n log k), no Sort node anywhere in the plan), map-side combines,
    * and the exchange carries at most tasks × keys × k pre-combined
    * rows. The explode back to sample rows preserves the aggregation's
    * hash partitioning, so downstream per-key folds add no exchange. */
  def bottomKSample(df: DataFrame, keys: Seq[String], valueCol: String,
                    idCol: String, k: Int = 256): DataFrame = {
    val skey = F.md5(F.col(idCol).cast("string"))
    val item = ColumnBridge.column(
      graft.functions.expressions.BottomKByKeyAgg(
        ColumnBridge.expression(
          F.struct(skey.as("qs_key"), F.col(valueCol))), k)
        .toAggregateExpression())
    // NULL values are excluded up front: a NULL can neither be ranked by a
    // quantile nor survive collect_list downstream, and letting it occupy
    // a sample slot would bias the estimate (oracle SQL mirrors the
    // filter). The sketch is over the non-null population by contract.
    df.filter(F.col(valueCol).isNotNull)
      .groupBy(keys.map(F.col): _*)
      .agg(item.as("_qs"))
      .select(keys.map(F.col) :+ F.explode(F.col("_qs")).as("_e"): _*)
      .select(keys.map(F.col) :+
        F.col("_e").getField(valueCol).as(valueCol) :+
        F.col("_e").getField("qs_key").as("qs_key"): _*)
  }

  /** Merge [[bottomKSample]] state tables: union, re-take the bottom k by
    * the CARRIED `qs_key` (the sample rows keep their md5 rank key
    * precisely so merging never needs the original id column).
    *
    * Idempotent under replay: overlapping shard samples (retry, at-least-
    * once delivery) are collapsed on (keys, qs_key) before the re-rank,
    * so a duplicated row can never occupy two of the k slots. The extra
    * exchange is on the SAMPLE table (≤ shards·keys·k rows), not data. */
  def mergeBottomK(samples: DataFrame, keys: Seq[String], k: Int = 256): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Collapse replayed rows with an explicit aggregate (duplicates carry
    // identical payloads by construction — qs_key is md5(id)); a
    // dropDuplicates here trips AT TRIBUTE_NOT_FOUND inside Spark 4.1's
    // dedup→aggregate rewrite when a window follows it.
    val others = samples.columns.filterNot(c => keys.contains(c) || c == "qs_key")
    // A sample table projected down to (keys..., qs_key) has no payload to
    // F.first over — collapse replays with a bare groupBy instead of
    // crashing on others.head.
    val collapsed =
      if (others.isEmpty)
        samples.groupBy((keys :+ "qs_key").map(F.col): _*)
          .agg(F.count(F.lit(1)).as("_qs_merge_n")).drop("_qs_merge_n")
      else samples.groupBy((keys :+ "qs_key").map(F.col): _*)
        .agg(F.first(others.head).as(others.head),
          others.tail.map(c => F.first(c).as(c)): _*)
    collapsed.select(samples.columns.map(F.col): _*)
      .withColumn("qs_rn", F.row_number().over(
        Window.partitionBy(keys.map(F.col): _*).orderBy(F.col("qs_key"))))
      .filter(F.col("qs_rn") <= k)
      .drop("qs_rn")
  }

  /** Nearest-rank quantile estimates over a [[bottomKSample]]: the sorted
    * sample array is indexed at ceil(q·n) — integer selection, no
    * interpolation, so both engines pick the SAME sample element and the
    * result is hash-exact (the one shared expression text rule, as in
    * [[hllEstSql]]). Groups smaller than k degrade gracefully: the
    * sample IS the group and the estimate is the exact nearest-rank
    * percentile. */
  def sampleQuantiles(sample: DataFrame, keys: Seq[String], valueCol: String,
                      qs: Seq[(String, Double)]): DataFrame = {
    // Driver-side, like every sibling sketch API: q outside (0, 1] would
    // otherwise surface as an executor element_at index error mid-job.
    qs.foreach { case (name, q) =>
      require(q > 0.0 && q <= 1.0, s"quantile '$name' must be in (0, 1], got $q")
    }
    val g = sample.groupBy(keys.map(F.col): _*)
      .agg(F.sort_array(F.collect_list(F.col(valueCol))).as("qs_vals"),
        F.count(F.lit(1)).as("n_sample"))
    g.select(
      (keys.map(F.col) :+ F.col("n_sample")) ++
        qs.map { case (name, q) =>
          F.element_at(F.col("qs_vals"), F.expr(quantileIdxSql(q, "n_sample"))).as(name)
        }: _*)
  }

  /** The shared nearest-rank index SQL (Spark `expr` and DuckDB alike). */
  def quantileIdxSql(q: Double, nCol: String): String =
    s"CAST(ceil($q * $nCol) AS INT)"

  /** End-to-end: mergeable quantile sketch of `valueCol` per `keys`. */
  def quantileSketch(df: DataFrame, keys: Seq[String], valueCol: String,
                     idCol: String, k: Int = 256,
                     qs: Seq[(String, Double)] = Seq("p50_est" -> 0.5, "p95_est" -> 0.95)): DataFrame =
    sampleQuantiles(bottomKSample(df, keys, valueCol, idCol, k), keys, valueCol, qs)

  // --------------------------------------- theta / KMV set-operation tier

  /** Bottom-k distinct-hash sketch of one column — the KMV synopsis
    * (Beyer et al. SIGMOD 2007), the mergeable state the theta-sketch
    * set operations (Dasgupta et al. 2016 / Apache DataSketches) run on.
    * Hash = md5 hex of the value (deterministic, engine-neutral); the
    * sketch is the k lexicographically smallest DISTINCT hashes —
    * fixed-width hex, so string order = unsigned 128-bit order.
    *
    * Scale shape: each input partition folds to a capped TreeSet (local
    * dedup + local bottom-k, ≤ k survivors per task — the sketch never
    * shuffles the key space, unlike a distinct()), then ≤ tasks × k rows
    * reduce to the global bottom-k. Merge rule across shards = union +
    * re-bottom-k (associative, commutative, idempotent). */
  def kmvDistinctSketch(df: DataFrame, valueCol: String, k: Int = 256): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val hashed = df.filter(F.col(valueCol).isNotNull)
      .select(F.md5(F.col(valueCol).cast("string")).as("h"))
    val spark = hashed.sparkSession
    import spark.implicits._
    hashed.as[String].mapPartitions { it =>
      val ts = new java.util.TreeSet[String]()
      it.foreach { h => ts.add(h); if (ts.size > k) ts.pollLast() }
      import scala.jdk.CollectionConverters._
      ts.iterator().asScala
    }.toDF("h").distinct().orderBy(F.col("h").asc).limit(k)
  }

  /** The shared KMV estimator text: exact when the sketch holds the whole
    * set (n < k), else the Beyer et al. unbiased (k−1)/U(k) with U(k) =
    * the k-th smallest hash's top-64-bits as a fraction of 2^64. Both
    * engines parse the same 16 hex chars to the same integer, cast it
    * through the same correctly-rounded double, and do the same two
    * IEEE ops — hash-exact under the hllEstSql precedent. */
  def kmvEstSql(k: Int, nCol: String, kthHexCol: String): String =
    s"""CASE WHEN $nCol < $k THEN CAST($nCol AS DOUBLE)
       |ELSE round((CAST($k AS DOUBLE) - 1.0) * 18446744073709551616.0 /
       |  CAST(${hex16ToDecSql(kthHexCol)} AS DOUBLE), 6) END""".stripMargin

  /** Engine-portable "first 16 hex chars as unsigned 64-bit integer":
    * Spark parses via conv(…,16,10) (returns a decimal-safe string),
    * DuckDB via the 0x-prefix UBIGINT cast — the oracle substitutes its
    * own spelling, values identical. */
  private def hex16ToDecSql(hexCol: String): String =
    s"CAST(conv(substring($hexCol, 1, 16), 16, 10) AS DECIMAL(20,0))"

  /** Theta-sketch set operations over two corpora: distinct-count
    * estimates for A, B, A∪B, A∩B and the Jaccard estimate, from two
    * bounded [[kmvDistinctSketch]]es — how two 100 TB crawl snapshots are
    * compared without ever joining their key spaces. The union sketch is
    * the bottom-k of the two sketches' union (the KMV merge rule); θ =
    * its k-th smallest hash; ρ = how many of the union sample's hashes
    * appear in BOTH input sketches; |A∩B| ≈ (ρ/n)·|A∪B| and J ≈ ρ/n
    * (the theta-framework estimators). Every estimate degrades to EXACT
    * when the population fits the sketch (n < k). One tiny row out;
    * deterministic md5 arithmetic end to end, so the report — estimator
    * doubles included — is hash-exact against the oracle. */
  def kmvSetOps(a: DataFrame, b: DataFrame, valueCol: String,
                k: Int = 256): DataFrame = {
    val sa = kmvDistinctSketch(a, valueCol, k)
    val sb = kmvDistinctSketch(b, valueCol, k)
    val marked = sa.select(F.col("h"), F.lit(1L).as("in_a"), F.lit(0L).as("in_b"))
      .unionAll(sb.select(F.col("h"), F.lit(0L).as("in_a"), F.lit(1L).as("in_b")))
      .groupBy("h")
      .agg(F.max("in_a").as("in_a"), F.max("in_b").as("in_b"))
    val uk = marked.orderBy(F.col("h").asc).limit(k)
    val aggA = sa.agg(F.count(F.lit(1)).as("n_a"), F.max("h").as("kth_a"))
    val aggB = sb.agg(F.count(F.lit(1)).as("n_b"), F.max("h").as("kth_b"))
    val aggU = uk.agg(F.count(F.lit(1)).as("n_u"), F.max("h").as("kth_u"),
      F.sum(F.col("in_a") * F.col("in_b")).as("rho"))
    aggU.crossJoin(aggA).crossJoin(aggB)
      .select(
        F.lit(k).as("k"), F.col("n_a"), F.col("n_b"), F.col("n_u"), F.col("rho"),
        F.expr(kmvEstSql(k, "n_a", "kth_a")).as("est_distinct_a"),
        F.expr(kmvEstSql(k, "n_b", "kth_b")).as("est_distinct_b"),
        F.expr(kmvEstSql(k, "n_u", "kth_u")).as("est_union"))
      .select(F.col("*"),
        F.expr("round(CAST(rho AS DOUBLE) / CAST(n_u AS DOUBLE), 6)")
          .as("jaccard_est"),
        // Composed on the ROUNDED union estimate on purpose: both engines
        // then share every intermediate bit (the hllEstSql rule).
        F.expr("round(CAST(rho AS DOUBLE) / CAST(n_u AS DOUBLE) * est_union, 6)")
          .as("est_intersection"))
  }

  /** Per-group KMV sketch: for every group, the k lexicographically
    * smallest distinct md5 hashes of `valueCol` — [[kmvDistinctSketch]]
    * with the fold keyed by group. Each partition folds a
    * group → capped-TreeSet map (≤ groups-on-partition × k entries;
    * `maxGroups` guards the contract with the limit-then-require shape),
    * then ≤ partitions × k candidate rows per group reduce to the global
    * bottom-k through one group-keyed rank.
    *
    * Output: (groupCol, h) — ≤ k rows per group. groupCol keeps the
    * INPUT column's type: the fold keys on a string rendering
    * internally, but the output casts back so downstream equality
    * joins against the original typed column need no implicit cast
    * (round-18 ADVICE). */
  def kmvSketchPerGroup(df: DataFrame, groupCol: String, valueCol: String,
                        k: Int = 256, maxGroups: Int = 10000): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val groupType = df.schema(groupCol).dataType
    import org.apache.spark.sql.expressions.Window
    val hashed = df
      .filter(F.col(valueCol).isNotNull && F.col(groupCol).isNotNull)
      .select(F.col(groupCol).cast("string").as("g"),
        F.md5(F.col(valueCol).cast("string")).as("h"))
    val gRows = hashed.select(F.col("g")).distinct().limit(maxGroups + 1).collect()
    require(gRows.length <= maxGroups,
      s"more than $maxGroups groups; kmvSketchPerGroup folds a per-task map per group")
    val spark = hashed.sparkSession
    import spark.implicits._
    val local = hashed.as[(String, String)].mapPartitions { it =>
      val m = scala.collection.mutable.HashMap.empty[String, java.util.TreeSet[String]]
      it.foreach { case (g, h) =>
        val ts = m.getOrElseUpdate(g, new java.util.TreeSet[String]())
        ts.add(h)
        if (ts.size > k) ts.pollLast()
      }
      import scala.jdk.CollectionConverters._
      m.iterator.flatMap { case (g, ts) => ts.iterator().asScala.map(g -> _) }
    }.toDF("g", "h")
    local.distinct()
      .withColumn("_rn", F.row_number().over(
        Window.partitionBy(F.col("g")).orderBy(F.col("h").asc)))
      .filter(F.col("_rn") <= k)
      .select(F.col("g").cast(groupType).as(groupCol), F.col("h"))
  }

  /** Pairwise corpus-overlap MATRIX via per-group KMV sketches: every
    * (group_a < group_b) pair's distinct counts, union/intersection
    * estimates and Jaccard — [[kmvSetOps]] generalized from two corpora
    * to all source pairs, the contamination/redundancy census a mixture
    * designer runs across crawl snapshots before setting weights. The
    * full pairwise comparison never touches the corpus: one sketch pass
    * over the data (bounded, group-keyed), then all-pairs arithmetic on
    * groups × k hash rows.
    *
    * Same estimator text as [[kmvSetOps]] ([[kmvEstSql]] — exact below
    * k, Beyer et al. above), so every estimate double is hash-exact
    * against the SQL oracle.
    *
    * Output: one row per unordered group pair — (group_a, group_b, k,
    * n_a, n_b, n_u, rho, est_distinct_a, est_distinct_b, est_union,
    * jaccard_est, est_intersection). */
  def kmvOverlapMatrix(df: DataFrame, groupCol: String, valueCol: String,
                       k: Int = 256): DataFrame = graft.CacheScope.scoped {
    import org.apache.spark.sql.expressions.Window
    val sk = graft.CacheScope.materialize(
      kmvSketchPerGroup(df, groupCol, valueCol, k))
    val groups = sk.select(F.col(groupCol).as("g")).distinct()
    val pairs = groups.select(F.col("g").as("group_a"))
      .crossJoin(groups.select(F.col("g").as("group_b")))
      .filter(F.col("group_a") < F.col("group_b"))
    val aRows = pairs.join(F.broadcast(sk.withColumnRenamed(groupCol, "group_a")), Seq("group_a"))
      .select(F.col("group_a"), F.col("group_b"), F.col("h"),
        F.lit(1L).as("in_a"), F.lit(0L).as("in_b"))
    val bRows = pairs.join(F.broadcast(sk.withColumnRenamed(groupCol, "group_b")), Seq("group_b"))
      .select(F.col("group_a"), F.col("group_b"), F.col("h"),
        F.lit(0L).as("in_a"), F.lit(1L).as("in_b"))
    val marked = aRows.unionByName(bRows)
      .groupBy(F.col("group_a"), F.col("group_b"), F.col("h"))
      .agg(F.max("in_a").as("in_a"), F.max("in_b").as("in_b"))
    val uk = marked
      .withColumn("_rn", F.row_number().over(
        Window.partitionBy(F.col("group_a"), F.col("group_b"))
          .orderBy(F.col("h").asc)))
      .filter(F.col("_rn") <= k)
    val aggU = uk.groupBy(F.col("group_a"), F.col("group_b"))
      .agg(F.count(F.lit(1)).as("n_u"), F.max("h").as("kth_u"),
        F.sum(F.col("in_a") * F.col("in_b")).as("rho"))
    val per = sk.groupBy(F.col(groupCol))
      .agg(F.count(F.lit(1)).as("n"), F.max("h").as("kth"))
    aggU
      .join(F.broadcast(per.select(F.col(groupCol).as("group_a"),
        F.col("n").as("n_a"), F.col("kth").as("kth_a"))), Seq("group_a"))
      .join(F.broadcast(per.select(F.col(groupCol).as("group_b"),
        F.col("n").as("n_b"), F.col("kth").as("kth_b"))), Seq("group_b"))
      .select(
        F.col("group_a"), F.col("group_b"), F.lit(k).as("k"),
        F.col("n_a"), F.col("n_b"), F.col("n_u"), F.col("rho"),
        F.expr(kmvEstSql(k, "n_a", "kth_a")).as("est_distinct_a"),
        F.expr(kmvEstSql(k, "n_b", "kth_b")).as("est_distinct_b"),
        F.expr(kmvEstSql(k, "n_u", "kth_u")).as("est_union"))
      .select(F.col("*"),
        F.expr("round(CAST(rho AS DOUBLE) / CAST(n_u AS DOUBLE), 6)")
          .as("jaccard_est"),
        F.expr("round(CAST(rho AS DOUBLE) / CAST(n_u AS DOUBLE) * est_union, 6)")
          .as("est_intersection"))
  }

  // ------------------------------------------- count-min frequency sketch

  /** Deterministic Count-Min sketch (Cormode & Muthukrishnan 2005): `d`
    * seeded-xxhash64 rows × `w` buckets of occurrence counts. Register
    * `(j, b)` sums every occurrence whose row-`j` hash lands in bucket
    * `b`, so for any value `est(x) = min_j CM[j][b_j(x)]` satisfies
    * `est(x) >= true(x)` ALWAYS — deterministically, not w.h.p.: each
    * register contains the full true count plus non-negative collision
    * mass. The w.h.p. side (`est <= true + N/w` per row, `min` over `d`
    * rows) is the usual Markov bound.
    *
    * Unlike the md5-derived [[hllRegisters]]/[[bottomKSample]], the
    * bucket hash is Spark's native codegen'd xxhash64 (seeded by the row
    * index): CM never needs SQL-oracle register parity, because its one
    * consumer ([[heavyHitters]]) adjudicates every candidate with an
    * EXACT recount — the sketch prunes, the oracle checks the pruned
    * answer, and the corpus scans skip md5's per-row digest cost.
    *
    * Scale shape: one map-side-combinable aggregation over the value
    * stream exploded ×`d`; at most `d·w` tiny rows survive the partial
    * agg per task, and the final table is `<= d·w` rows regardless of
    * data size. Registers SUM-merge across shards/partials
    * ([[mergeCmRegisters]] — associative + commutative; SketchSpec proves
    * shard-merge equality), which is what lets 1000 executors each sketch
    * their shard and a coordinator add the tables. */
  def cmRegisters(df: DataFrame, valueCol: String, d: Int = 4,
                  w: Int = 1024): DataFrame = {
    require(d >= 1 && d <= 16, s"d must be in [1, 16], got $d")
    require(w >= 2 && w <= (1 << 20), s"w must be in [2, 2^20], got $w")
    df.filter(F.col(valueCol).isNotNull)
      .select(F.col(valueCol).cast("string").as("cm_v"))
      .select(F.col("cm_v"),
        F.explode(F.expr(s"sequence(0, ${d - 1})")).as("cm_j"))
      .select(F.col("cm_j"), cmBucket(F.col("cm_j"), F.col("cm_v"), w).as("cm_b"))
      .groupBy("cm_j", "cm_b").agg(F.count(F.lit(1)).as("cm_n"))
  }

  /** Merge [[cmRegisters]] tables: union then per-register SUM (the CM
    * merge rule — counts are additive). */
  def mergeCmRegisters(regs: DataFrame): DataFrame =
    regs.groupBy("cm_j", "cm_b").agg(F.sum("cm_n").as("cm_n"))

  /** Row-`j` bucket of a value: xxhash64 seeded by the row index
    * (`xxhash64(j, value)` — a pure function of the data, stable under
    * any partitioning), mod `w`. */
  private def cmBucket(j: org.apache.spark.sql.Column,
                       v: org.apache.spark.sql.Column, w: Int): org.apache.spark.sql.Column =
    F.pmod(F.xxhash64(j, v), F.lit(w.toLong)).cast("int")

  /** The min-over-rows CM estimate of `valueCol` as a scan-local column,
    * from a COLLECTED register table (`<= d·w` rows — the same bounded
    * fixed-size collect class as the IVF centroid table; at the default
    * 4×1024 it is a 32 KB array literal, constant in data size). Each hash
    * row becomes one `element_at` into an array LITERAL, so the lookup
    * runs inside the scan projection — no join, no shuffle, no
    * per-row driver traffic. Absent registers read 0 (nothing ever hashed
    * there). */
  def cmEstimateCol(value: org.apache.spark.sql.Column,
                    regs: Seq[(Int, Int, Long)], d: Int, w: Int): org.apache.spark.sql.Column = {
    val tables = Array.fill(d)(new Array[Long](w))
    regs.foreach { case (j, b, n) => tables(j)(b) = n }
    val perRow = (0 until d).map { j =>
      F.element_at(F.typedlit(tables(j).toSeq), cmBucket(F.lit(j), value, w) + 1)
    }
    if (d == 1) perRow.head else F.least(perRow: _*)
  }

  /** EXACT heavy hitters — every value of `valueCol` occurring at least
    * `ceil(phi * N)` times, with its exact count — computed with a
    * Count-Min pruning pass so the exact `groupBy` shuffles only sketch
    * survivors, never the full key space:
    *
    *  1. sketch pass: [[cmRegisters]] over the stream (map-combinable,
    *     `<= d·w` rows out);
    *  2. prune pass: re-scan the stream keeping occurrences whose CM
    *     estimate (a scan-local array-literal lookup, [[cmEstimateCol]])
    *     reaches the threshold — deterministically LOSSLESS, because CM
    *     overestimation is one-sided (no heavy value can be pruned);
    *  3. exact recount of survivors only — removes the sketch's false
    *     positives, so the output equals the plain
    *     `GROUP BY … HAVING count >= ceil(phi*N)` answer.
    *
    * Why this matters at 100 TB: n-gram/URL/key frequency queries have
    * key spaces in the billions; a direct groupBy shuffles every distinct
    * key, while the candidate set here is bounded by `~ 1/phi + false
    * positives` (collision mass `> thr·w/N` per row is Markov-bounded),
    * so the exchange carries candidate occurrences only. Two stream scans
    * is the price (the q_dsir_weights two-pass precedent: recompute beats
    * caching a corpus-sized projection).
    *
    * `knownTotal`: callers that track N pass it; -1 derives N for FREE
    * from the sketch itself — every occurrence lands in exactly one
    * row-0 register, so N = Σ_b CM[0][b]. No count job either way.
    * Output: (`valueCol`, cnt) — exact, HAVING-equivalent. */
  def heavyHitters(df: DataFrame, valueCol: String, phi: Double,
                   d: Int = 4, w: Int = 1024, knownTotal: Long = -1L): DataFrame = {
    val vals = df.filter(F.col(valueCol).isNotNull)
      .select(F.col(valueCol).cast("string").as(valueCol))
    val regs = cmRegisters(vals, valueCol, d, w).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSeq
    heavyHittersFromRegisters(vals, valueCol, phi, regs, d, w, knownTotal)
  }

  /** PER-GROUP exact heavy hitters — every (group, value) whose count
    * reaches `ceil(phi * N_group)` (frequent tokens PER LANGUAGE, hot
    * keys PER shard): the same CM machinery keyed on the composite
    * `group:value` string, with per-group thresholds dispatched
    * scan-locally through a map LITERAL (groups are bounded by caller
    * contract — languages, sources, shards — so the threshold map is a
    * plan constant like the register arrays; `maxGroups` guards the
    * collect). Same two-pass shape and the same deterministic
    * losslessness as [[heavyHitters]]: the exchange carries candidate
    * occurrences, never the per-group key spaces.
    *
    * `maxGroups` defaults to 10k, matching the plan-literal dispatch: a
    * near-guard caller would compile the whole threshold map into the
    * generated code (codegen/driver-plan bloat scales with it). Above a
    * few thousand groups the right shape is a broadcast JOIN of the
    * threshold table instead of the literal — raise the guard only
    * together with that rework, not on its own. */
  def heavyHittersPerGroup(df: DataFrame, groupCol: String, valueCol: String,
                           phi: Double, d: Int = 4, w: Int = 1024,
                           maxGroups: Int = 10000): DataFrame = {
    require(phi > 0.0 && phi <= 1.0, s"phi must be in (0, 1], got $phi")
    val vals = df.filter(F.col(valueCol).isNotNull && F.col(groupCol).isNotNull)
      .select(F.col(groupCol).cast("string").as(groupCol),
        F.col(valueCol).cast("string").as(valueCol))
    // per-group totals: one tiny agg, bounded before the collect (the
    // bloomContamination limit-then-require guard shape)
    val gRows = vals.groupBy(F.col(groupCol)).agg(F.count(F.lit(1)).as("n"))
      .limit(maxGroups + 1).collect()
    require(gRows.length <= maxGroups,
      s"more than $maxGroups groups; heavyHittersPerGroup thresholds are plan constants")
    val thr: Map[String, Long] = gRows.map(r =>
      r.getString(0) -> math.ceil(phi * r.getLong(1)).toLong.max(1L)).toMap
    val composite = F.concat(F.col(groupCol), F.lit(":"), F.col(valueCol))
    val regs = cmRegisters(vals.select(composite.as("_c")), "_c", d, w).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSeq
    val thrCol = F.element_at(F.typedlit(thr), F.col(groupCol))
    vals.filter(cmEstimateCol(composite, regs, d, w) >= thrCol)
      .groupBy(F.col(groupCol), F.col(valueCol))
      .agg(F.count(F.lit(1)).as("cnt"))
      .filter(F.col("cnt") >= F.element_at(F.typedlit(thr), F.col(groupCol)))
  }

  /** The prune + exact-recount half of [[heavyHitters]], against an
    * ALREADY-BUILT register table — how a maintained sketch is consumed:
    * the registers may come from this batch, a [[mergeCmRegisters]] of
    * shard sketches, or a STREAMING aggregation whose bounded state IS
    * the register table (q_stream_heavy_hitters). Correctness needs only
    * that `regs` covers every occurrence the scanned `df` contains
    * (over-coverage is fine — CM error is one-sided). */
  def heavyHittersFromRegisters(df: DataFrame, valueCol: String, phi: Double,
                                regs: Seq[(Int, Int, Long)], d: Int, w: Int,
                                knownTotal: Long = -1L): DataFrame = {
    require(phi > 0.0 && phi <= 1.0, s"phi must be in (0, 1], got $phi")
    val vals = df.filter(F.col(valueCol).isNotNull)
      .select(F.col(valueCol).cast("string").as(valueCol))
    val total = if (knownTotal >= 0L) knownTotal
      else regs.collect { case (0, _, n) => n }.sum
    val thr = math.ceil(phi * total).toLong.max(1L)
    val est = cmEstimateCol(F.col(valueCol), regs, d, w)
    vals.filter(est >= thr)
      .groupBy(F.col(valueCol))
      .agg(F.count(F.lit(1)).as("cnt"))
      .filter(F.col("cnt") >= thr)
  }
}
