package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types.StringType

/** Column-level data profiling: per column, the row/null/distinct counts
  * and (as canonical strings) the min/max — the DESCRIBE/profile surface
  * every ingest pipeline runs before trusting a new table, and the data
  * contract a corpus refresh diffs against.
  *
  * Scale shape: ONE corpus scan. All per-column aggregates evaluate in a
  * single aggregation (Spark plans the multiple COUNT DISTINCTs through
  * one Expand), and the per-column rows are unpivoted from that ONE
  * result row — no per-column scans. The distinct count of a STRING
  * column runs over `sha2(col, 256)`, not the raw value: the Expand
  * rewrite shuffles (gid, value) pairs, so counting distinct raw text
  * would shuffle near the whole corpus where the 64-char hash is
  * fixed-width (the same collision-free-equality assumption as
  * Dedup.exact, mirrored with sha256() in the oracle). MIN/MAX partials
  * emit one value per partition regardless of type. The unpivot is a
  * typed explode-of-structs with index-based internal aliases, so ANY
  * column name profiles — no identifier restriction, no expression
  * strings.
  *
  * Determinism: counts are exact longs; min/max compare with Spark's
  * binary UTF8/long ordering, which is DuckDB's default collation too,
  * and are CAST to string canonically on both engines. Callers profile
  * integral/string columns (the oracle-parity caveat: float formatting
  * differs cross-engine, so cast such columns first).
  */
object Profile {

  /** (col_name, n_rows, n_nulls, n_distinct, min_v, max_v) per requested
    * column (defaults to every column). n_distinct counts non-null
    * values; min/max are null (not "null") on an all-null column. */
  def profile(df: DataFrame, cols: Seq[String] = Seq.empty): DataFrame = {
    val names = if (cols.nonEmpty) cols else df.columns.toSeq
    require(names.nonEmpty, "no columns to profile")
    // backtick-quoted resolution: a bare F.col("a.b") would parse the
    // dot as a struct accessor — quoting (with `` escaping) makes any
    // column name, dots and spaces included, resolve as itself
    def qc(c: String) = F.col("`" + c.replace("`", "``") + "`")
    def distinctOf(c: String) = df.schema(c).dataType match {
      // fixed-width hash through the count-distinct Expand, never raw text
      case StringType => F.count_distinct(F.sha2(qc(c), 256))
      case _          => F.count_distinct(qc(c))
    }
    val aggs =
      F.count(F.lit(1)).as("__rows") +: names.zipWithIndex.flatMap { case (c, i) =>
        Seq(
          F.count(qc(c)).as(s"__nn_$i"),
          distinctOf(c).as(s"__nd_$i"),
          F.min(qc(c)).cast("string").as(s"__min_$i"),
          F.max(qc(c)).cast("string").as(s"__max_$i"))
      }
    val one = df.agg(aggs.head, aggs.tail: _*)
    // typed unpivot of the single aggregate row: explode an array of
    // structs — no expression strings, so arbitrary column names work
    val structs = names.zipWithIndex.map { case (c, i) =>
      F.struct(
        F.lit(c).as("col_name"),
        F.col("__rows").as("n_rows"),
        (F.col("__rows") - F.col(s"__nn_$i")).as("n_nulls"),
        F.col(s"__nd_$i").as("n_distinct"),
        F.col(s"__min_$i").as("min_v"),
        F.col(s"__max_$i").as("max_v"))
    }
    one.select(F.explode(F.array(structs: _*)).as("p")).select("p.*")
  }

  /** Zipf rank–frequency fit — the corpus-linguistics QA check (Zipf
    * 1949; Piantadosi 2014 reviews why natural text follows it): natural
    * language sits near slope −1 on log rank vs log frequency, while
    * templated/synthetic/degenerate corpora bend away — a one-row
    * red-flag report a corpus refresh diffs against. Least squares over
    * the top `fitN` token ranks: slope, intercept, and totals.
    *
    * Scale shape: one map-combinable token-count aggregation
    * (vocabulary-sized exchange), a TakeOrdered top-`fitN` cut (per-
    * partition heaps, no full sort), a rank window over the ≤ fitN
    * surviving rows (bounded by construction — derived-constant
    * partition, the audit rule), and one single-row fold. Logs are
    * round-6 shared-text (the hllEst rule); the normal-equation sums run
    * in DECIMAL so the fold is order-free; slope/intercept are exact
    * divisions of those decimals cast through double. */
  def zipfReport(docs: DataFrame, textCol: String = "text",
                 fitN: Int = 1000): DataFrame = graft.CacheScope.scoped {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.expressions.Window
    require(fitN >= 2, s"fitN must be >= 2, got $fitN")
    val toks = ColumnBridge.column(
      graft.functions.expressions.ShingleExpr(
        ColumnBridge.expression(F.col(textCol)), 1))
    // The frequency table feeds TWO consumers (totals, the fit cut) —
    // materialize it (vocabulary-sized) so the corpus tokenize pass runs
    // exactly once.
    val freq = graft.CacheScope.materialize(graft.Spread(docs)
      .select(F.explode(toks).as("tok"))
      .groupBy("tok").agg(F.count(F.lit(1)).as("f")))
    val totals = freq.agg(F.sum("f").as("n_tokens_total"),
      F.count(F.lit(1)).as("vocab_size"))
    val top = freq.orderBy(F.col("f").desc, F.col("tok").asc).limit(fitN)
      .withColumn("rnk", F.row_number().over(
        Window.partitionBy(F.pmod(F.col("f"), F.lit(1)))
          .orderBy(F.col("f").desc, F.col("tok").asc)))
      .select(
        F.expr("round(ln(CAST(rnk AS DOUBLE)), 6)").as("x"),
        F.expr("round(ln(CAST(f AS DOUBLE)), 6)").as("y"))
    val s = top.agg(
      F.count(F.lit(1)).as("n_fit"),
      F.sum(F.col("x").cast("decimal(38,18)")).as("sx"),
      F.sum(F.col("y").cast("decimal(38,18)")).as("sy"),
      F.sum((F.col("x") * F.col("y")).cast("decimal(38,18)")).as("sxy"),
      F.sum((F.col("x") * F.col("x")).cast("decimal(38,18)")).as("sxx"))
    s.crossJoin(F.broadcast(totals))
      .select(F.col("n_tokens_total"), F.col("vocab_size"), F.col("n_fit"),
        F.expr("""round((CAST(n_fit AS DOUBLE) * CAST(sxy AS DOUBLE) -
            CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
          (CAST(n_fit AS DOUBLE) * CAST(sxx AS DOUBLE) -
            CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)""").as("zipf_slope"),
        F.expr("""round((CAST(sy AS DOUBLE) - ((CAST(n_fit AS DOUBLE) * CAST(sxy AS DOUBLE) -
            CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
          (CAST(n_fit AS DOUBLE) * CAST(sxx AS DOUBLE) -
            CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) * CAST(sx AS DOUBLE)) /
          CAST(n_fit AS DOUBLE), 6)""").as("zipf_intercept"))
  }

  /** Robust per-group outlier detection (median/MAD, the Iglewicz–Hoaglin
    * modified z-score): for each row, z = 0.6745·(x − med)/MAD with med
    * and MAD the EXACT per-group medians — the length-anomaly /
    * truncated-document screen a quality pipeline runs where mean/stddev
    * would let one 100 MB page drag the threshold (the whole point of
    * the robust statistics). MAD = 0 (half the group at the median)
    * scores z = 0: a degenerate group flags nothing instead of
    * everything.
    *
    * The median is computed EXPLICITLY (rank the group, average the one
    * or two middle values as sum/count) rather than through an engine
    * percentile aggregate: the even-count interpolation `lo + (hi−lo)·f`
    * is engine-internal and not bit-pinned cross-engine, while
    * `(a+b)/2` as sum-then-divide is two IEEE ops both engines share.
    *
    * Scale shape: two rank-then-middle reductions (group-keyed sort of
    * (group, x) pairs — the exchange is two fixed-width columns, and the
    * per-group sort distributes; group count = sources, bounded) + two
    * broadcastable joins of the sources-sized tables back to the stream.
    *
    * Output: one row per input row — (idCol, groupCol, x, med, mad,
    * robust_z rounded 6, is_outlier = |z| > cutoff). */
  def robustOutliers(df: DataFrame, groupCol: String, valueCol: String,
                     idCol: String = "doc_id",
                     cutoff: Double = 3.5): DataFrame = {
    require(cutoff > 0.0, s"cutoff must be positive, got $cutoff")
    import org.apache.spark.sql.expressions.Window

    // Exact per-group median of `vCol`: rows ranked 1..n per group, the
    // middle ranks lo = (n+1) div 2 and hi = n div 2 + 1 averaged as
    // sum/count (one row when n is odd — sum/1 — two when even).
    def exactMedian(in: DataFrame, vCol: String, out: String): DataFrame = {
      val w = Window.partitionBy(F.col(groupCol)).orderBy(F.col(vCol).asc)
      val byG = Window.partitionBy(F.col(groupCol))
      in.withColumn("_rn", F.row_number().over(w))
        .withColumn("_n", F.count(F.lit(1)).over(byG))
        .filter(F.col("_rn") === F.expr("(_n + 1) div 2") ||
          F.col("_rn") === F.expr("_n div 2 + 1"))
        .groupBy(F.col(groupCol))
        .agg((F.sum(F.col(vCol)) / F.count(F.lit(1))).as(out))
    }

    val base = df.select(F.col(idCol), F.col(groupCol),
      F.col(valueCol).cast("double").as("x"))
    val med = exactMedian(base, "x", "med")
    val withMed = base.join(F.broadcast(med), Seq(groupCol))
      .withColumn("ad", F.abs(F.col("x") - F.col("med")))
    val mad = exactMedian(withMed.select(F.col(groupCol), F.col("ad")), "ad", "mad")
    val z = F.when(F.col("mad") === 0.0, 0.0)
      .otherwise(F.lit(0.6745) * (F.col("x") - F.col("med")) / F.col("mad"))
    withMed.join(F.broadcast(mad), Seq(groupCol))
      .select(F.col(idCol), F.col(groupCol), F.col("x"),
        F.col("med"), F.col("mad"),
        F.round(z, 6).as("robust_z"),
        (F.abs(z) > cutoff).as("is_outlier"))
  }

  /** Within-group PERCENTILE normalization (the FineWeb-Edu-style
    * per-dump thresholding trick): raw quality scores are not comparable
    * across sources (each crawl/dump has its own score distribution), so
    * replace each value by its within-group percentile
    * `(rank − 0.5) / n` and threshold THAT — "keep the top 10% of every
    * source" instead of one global cutoff a skewed source would flood.
    *
    * Scale shape: one per-group rank window over fixed-width
    * (group, value, id) rows; no joins, no second scan.
    *
    * Output: one row per input — (idCol, groupCol, valueCol,
    * pct round-6, keep = pct >= 1 − keepTop), ranks tie-broken by id so
    * the percentile is deterministic under equal values. */
  def quantileNormalize(df: DataFrame, groupCol: String, valueCol: String,
                        idCol: String = "doc_id",
                        keepTop: Double = 0.1): DataFrame = {
    require(keepTop > 0.0 && keepTop < 1.0, s"keepTop in (0, 1), got $keepTop")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(F.col(groupCol))
      .orderBy(F.col(valueCol).asc, F.col(idCol).asc)
    val byG = Window.partitionBy(F.col(groupCol))
    df.select(F.col(idCol), F.col(groupCol), F.col(valueCol))
      .withColumn("_rn", F.row_number().over(w))
      .withColumn("_n", F.count(F.lit(1)).over(byG))
      .withColumn("pct", F.round(
        (F.col("_rn").cast("double") - F.lit(0.5)) / F.col("_n").cast("double"), 6))
      .select(F.col(idCol), F.col(groupCol), F.col(valueCol),
        F.col("pct"), (F.col("pct") >= 1.0 - keepTop).as("keep"))
  }

  /** Join/aggregation KEY-SKEW diagnostics: the report a 100 TB pipeline
    * reads before picking a salt factor — per candidate key column, the
    * row count of the hottest keys, the max/mean skew factor, and the
    * salt that would bring the hottest key's per-partition share down to
    * `targetShare` of the mean (ceil(max / (target·mean)); 1 = no salt
    * needed). A 1000-executor shuffle dies on exactly the keys this
    * surfaces; AQE's skew-join handles JOINS at runtime but aggregations
    * and windows still need the salt chosen up front.
    *
    * Scale shape: one map-side-combinable count per key, a distributed
    * TakeOrdered top-k cut of the keys table (per-partition top-k then a
    * driver merge of topK·partitions rows — the key table can be
    * corpus-cardinality, so NO global window touches it), and a rank
    * window only over the ≤ topK survivors.
    *
    * Output: (key_col, key_value as string, n_rows, rnk 1..topK,
    * skew_factor round-2 = n_rows/mean, salt_rec). */
  def skewReport(df: DataFrame, keyCol: String, topK: Int = 10,
                 targetShare: Double = 2.0): DataFrame = {
    require(topK >= 1 && targetShare >= 1.0,
      s"need topK >= 1 and targetShare >= 1, got ($topK, $targetShare)")
    import org.apache.spark.sql.expressions.Window
    val counts = df.groupBy(F.col(keyCol).cast("string").as("key_value"))
      .agg(F.count(F.lit(1)).as("n_rows"))
    val stats = counts.agg(
      (F.sum(F.col("n_rows")).cast("double") / F.count(F.lit(1)).cast("double"))
        .as("mean_rows"))
    val top = counts
      .orderBy(F.col("n_rows").desc, F.col("key_value").asc)
      .limit(topK)
    val constKey = F.coalesce(F.pmod(F.col("n_rows"), F.lit(1L)), F.lit(0L))
    top
      .withColumn("rnk", F.row_number().over(
        Window.partitionBy(constKey)
          .orderBy(F.col("n_rows").desc, F.col("key_value").asc)))
      .crossJoin(F.broadcast(stats))
      .select(
        F.lit(keyCol).as("key_col"), F.col("key_value"), F.col("n_rows"),
        F.col("rnk").cast("long").as("rnk"),
        F.round(F.col("n_rows").cast("double") / F.col("mean_rows"), 2)
          .as("skew_factor"),
        F.greatest(F.lit(1L),
          F.ceil(F.col("n_rows").cast("double") /
            (F.lit(targetShare) * F.col("mean_rows"))).cast("long"))
          .as("salt_rec"))
  }

  /** Source ranking by the Wilson score LOWER bound (Wilson 1927; the
    * "sort by confidence, not by proportion" rule): per group, the
    * fraction of rows passing `passCol` shrunk toward 0 by how little
    * evidence the group has — a 3/3 source ranks below a 90/100 one.
    * The z = 1.96 constant (95%) and every operand are IEEE-exact and
    * ordered identically in the oracle, so the bound doubles hash.
    *
    * Scale shape: one map-side-combinable aggregation to a sources-sized
    * table; the rank is a window over that tiny table.
    *
    * Output: (groupCol, n, n_pass, pass_rate, wilson_lb, rnk) sorted by
    * the bound descending. */
  def wilsonRanking(df: DataFrame, groupCol: String,
                    passCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val z = 1.96
    val agg = df.groupBy(F.col(groupCol)).agg(
      F.count(F.lit(1)).as("n"),
      F.sum(F.when(F.col(passCol), 1L).otherwise(0L)).as("n_pass"))
    val nD = F.col("n").cast("double")
    val p = F.col("n_pass").cast("double") / nD
    val z2 = F.lit(z * z)
    val lb = (p + z2 / (F.lit(2.0) * nD) -
      F.lit(z) * F.sqrt((p * (F.lit(1.0) - p) + z2 / (F.lit(4.0) * nD)) / nD)) /
      (F.lit(1.0) + z2 / nD)
    // Derived-constant partition key: global-by-design over the bounded
    // sources-sized frame (the Sampling.unimaxWeights idiom — keeps
    // WindowExec's no-partition warning meaningful).
    val constKey = F.coalesce(F.pmod(F.col("n"), F.lit(1L)), F.lit(0L))
    agg.select(F.col(groupCol), F.col("n"), F.col("n_pass"),
        F.round(p, 6).as("pass_rate"), F.round(lb, 6).as("wilson_lb"))
      .withColumn("rnk", F.row_number().over(
        Window.partitionBy(constKey)
          .orderBy(F.col("wilson_lb").desc, F.col(groupCol).asc)))
  }

  /** Population Stability Index between two corpus snapshots — the
    * standard distribution-drift monitor (the credit-scoring PSI,
    * adopted wholesale by ML monitoring): a score whose distribution
    * moved between snapshot A (the reference the filters were tuned on)
    * and snapshot B (this week's crawl) silently re-tunes every
    * downstream threshold, and PSI is the one number ops teams alarm on
    * (rule of thumb: < 0.1 stable, 0.1–0.25 drifting, > 0.25 retune).
    *
    * `scoreCol` must lie in [0, 1] (quality scores, classifier
    * probabilities); buckets are FIXED equal-width bins over that range
    * — fixed bins (not quantiles) keep the report a pure per-row map +
    * two bounded aggregations, and are the standard monitoring choice
    * because the bin EDGES must stay constant across weeks for PSI
    * values to be comparable at all. Proportions are Laplace-smoothed
    * (`(c + 0.5) / (n + buckets/2)`) so an empty bin cannot produce
    * ±∞; the ln rides round-6 shared text (values only, never
    * membership — the q_tfidf discipline).
    *
    * Scale shape: one map-side-combinable bucket aggregation per
    * snapshot (buckets-sized tables), a full-outer bucket join, and
    * window folds over the bounded bucket frame. Nothing corpus-sized
    * past the scans.
    *
    * Output: one row per bucket — (bucket, n_a, n_b, p_a, p_b,
    * psi_term round-6, psi_total round-6 — the DECIMAL-exact sum of the
    * rounded terms, constant across rows). */
  def psiDrift(snapA: DataFrame, snapB: DataFrame, scoreCol: String,
               buckets: Int = 10): DataFrame =
    psiFromHistograms(psiHistogram(snapA, scoreCol, buckets),
      psiHistogram(snapB, scoreCol, buckets), buckets)

  /** One snapshot's PSI histogram: (bucket, n) under the fixed
    * [[psiBucket]] edges, one row per non-empty bucket. A map and a
    * count, so it runs unchanged on a stream as a `complete`-mode
    * aggregation, whose state is at most `buckets` counts. */
  def psiHistogram(df: DataFrame, scoreCol: String, buckets: Int = 10): DataFrame =
    df.select(psiBucket(F.col(scoreCol), buckets).as("bucket"))
      .groupBy(F.col("bucket")).agg(F.count(F.lit(1)).as("n"))

  /** The fixed equal-width PSI bin, shared by every PSI path so each
    * bins IDENTICALLY (constant edges are what make PSI values
    * comparable across snapshots at all). */
  def psiBucket(score: org.apache.spark.sql.Column, buckets: Int)
      : org.apache.spark.sql.Column =
    F.least(F.greatest(F.floor(score * buckets), F.lit(0L)),
      F.lit(buckets.toLong - 1))

  /** PAIRED-SNAPSHOT PSI — [[psiDrift]] for the common case where both
    * score columns derive from ONE table (base corpus vs a transformed
    * view of itself: the q_psi_drift gate, any before/after-filter
    * comparison). The two-frame form scans the input twice — once per
    * [[psiHistogram]] — and the scan is the expensive part (quality
    * scores are regex folds over full text). This form pays ONE scan: a single map-side-combinable `(bucket_a, bucket_b)`
    * pair-count aggregation (≤ buckets² rows), from which both marginal
    * histograms fold. Same smoothing/ln/total tail, same output,
    * hash-identical to [[psiDrift]] on the same rows. */
  def psiDriftPaired(df: DataFrame, scoreColA: String, scoreColB: String,
                     buckets: Int = 10): DataFrame = {
    require(buckets >= 2 && buckets <= 1000, s"need 2 <= buckets <= 1000, got $buckets")
    val pair = df.select(
      psiBucket(F.col(scoreColA), buckets).as("ba"),
      psiBucket(F.col(scoreColB), buckets).as("bb"))
      .groupBy(F.col("ba"), F.col("bb")).agg(F.count(F.lit(1)).as("c"))
    val a = pair.groupBy(F.col("ba").as("bucket")).agg(F.sum(F.col("c")).as("n"))
    val b = pair.groupBy(F.col("bb").as("bucket")).agg(F.sum(F.col("c")).as("n"))
    psiFromHistograms(a, b, buckets)
  }

  /** PSI tail over two [[psiHistogram]]-shaped histograms, `a` the
    * reference and `b` the snapshot, each (bucket, n). */
  def psiFromHistograms(a: DataFrame, b: DataFrame,
                        buckets: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(buckets >= 2 && buckets <= 1000, s"need 2 <= buckets <= 1000, got $buckets")
    val joined = a.withColumnRenamed("n", "n_a")
      .join(b.withColumnRenamed("n", "n_b"), Seq("bucket"), "full_outer")
      .select(F.col("bucket"),
        F.coalesce(F.col("n_a"), F.lit(0L)).as("n_a"),
        F.coalesce(F.col("n_b"), F.lit(0L)).as("n_b"))
    // totals + smoothed proportions over the bounded bucket frame
    val constKey = F.coalesce(F.pmod(F.col("bucket"), F.lit(1L)), F.lit(0L))
    val w = Window.partitionBy(constKey)
    val smooth = F.lit(buckets.toDouble / 2.0)
    val pA = (F.col("n_a").cast("double") + F.lit(0.5)) /
      (F.sum(F.col("n_a")).over(w).cast("double") + smooth)
    val pB = (F.col("n_b").cast("double") + F.lit(0.5)) /
      (F.sum(F.col("n_b")).over(w).cast("double") + smooth)
    val term = joined
      .select(F.col("bucket"), F.col("n_a"), F.col("n_b"),
        F.round(pA, 6).as("p_a"), F.round(pB, 6).as("p_b"),
        F.round((pA - pB) * F.log(pA / pB), 6).as("psi_term"))
    term.withColumn("psi_total",
      F.round(F.sum(F.col("psi_term").cast("decimal(38,18)"))
        .over(Window.partitionBy(
          F.coalesce(F.pmod(F.col("n_a"), F.lit(1L)), F.lit(0L))))
        .cast("double"), 6))
  }
}
