package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graftbridge.ColumnBridge

/** DSIR-style importance weighting: score every corpus document by how
  * target-like its hashed n-gram distribution is — the published Data
  * Selection via Importance Resampling recipe (Xie et al., NeurIPS 2023)
  * that large-scale pretraining pipelines use to pick in-domain data out
  * of a raw crawl.
  *
  * Model: unigrams + bigrams hash into `buckets` buckets; the target set
  * and the raw corpus each induce an add-1-smoothed categorical
  * distribution p / q over buckets; a document's log importance weight is
  *
  *   logw(d) = Σ_{gram occurrences g ∈ d} [ ln p(b(g)) − ln q(b(g)) ]
  *
  * High logw = the document's n-grams look drawn from the target domain;
  * resample ∝ exp(logw) (e.g. seed [[graft.operators.Sampling]]'s
  * deterministic samplers with it) to build the selected corpus.
  *
  * Scale shape (the Spark-first part):
  * - gram → bucket is the repo's md5-hex convention — bucket =
  *   `conv(substr(md5(gram), 1, 8), 16, 10) % buckets` — so the oracle
  *   computes IDENTICAL bucket ids and the whole operator is
  *   cross-engine reproducible.
  * - Both profiles are map-side-combinable groupBy(bucket) aggregations
  *   whose results are ≤ `buckets` rows — corpus-size-independent, tiny.
  * - The per-bucket log-ratio table broadcast-joins into the corpus gram
  *   stream: the 100 TB side is ONE cached scan consumed by the raw
  *   profile and the scoring pass ([[graft.CacheScope]]), pre-keyed by
  *   document ([[graft.Spread.byKey]]) so the final per-doc aggregation
  *   reuses that partitioning and the broadcast join adds NO exchange.
  * - Totals fold onto the BUCKET-sized profile table only — the corpus
  *   total as a global window sum over the ≤B profile rows (so the
  *   corpus-derived profile has exactly one consumer and the whole
  *   operator is ONE action), the target total as a one-row lazy
  *   broadcast (it must survive a disjoint bucket overlap) — never a
  *   corpus-sized side.
  * - Per-occurrence ln-ratio terms are identical doubles on any engine
  *   (same IEEE division + ln operands) CAST TO DECIMAL(38,18) before
  *   the per-doc sum, so the distributed sum is exact and order-free —
  *   the UnigramLm determinism discipline; rounded to 6 dp on output.
  *
  * Reference: data-selection semantics follow the published DSIR method;
  * the reference engine has no equivalent (beyond-reference, LLM-pack).
  */
object Dsir {

  /** (idCol, n_grams, dsir_logw) for every corpus document with at least
    * one token. `target` is the in-domain exemplar set (typically small:
    * a benchmark, a curated corpus); both frames need (idCol, textCol).
    */
  def importanceWeights(corpus: DataFrame, target: DataFrame,
                        idCol: String = "doc_id", textCol: String = "text",
                        buckets: Int = 8192): DataFrame = graft.CacheScope.scoped {
    require(buckets >= 2, s"need buckets >= 2, got $buckets")
    // ONE native pass per row ([[graft.functions.expressions.DsirBucketsExpr]]):
    // unigram + bigram bucket ids with no gram strings and no hex-string
    // conv arithmetic — bit-identical to the former
    // conv(substr(md5(g),1,8),16,10) % buckets Column chain (the oracle
    // still computes that form, so hash-exactness IS the equivalence
    // proof; codegen parity spec'd). Wall-neutral at bench scale
    // (measured: the cost is the profile agg + scoring join constants,
    // not per-gram scalars) — kept for the eliminated per-gram
    // string/hex allocations. Empty/token-less text yields an empty
    // array (null text → null) — explode drops both, matching the
    // oracle's len(w) >= 1 gate.
    def gramBuckets(c: Column): Column = ColumnBridge.column(
      graft.functions.expressions.DsirBucketsExpr(
        ColumnBridge.expression(c), buckets))

    // The corpus-sized stream, RE-DERIVED per consumer (raw profile +
    // scoring), not cached: A/B at sf0.1 (r14) measured the cache a
    // wash (1.61 s cached vs 1.60 s re-derived — the duplicated
    // shingle+md5 work is absorbed map-parallel), and at 100 TB a
    // corpus-sized cache must spill where two plain scans stream —
    // the Dedup.trimDuplicateSpans finding applied here (ADVICE r13).
    // byKey, not round-robin: its HashPartitioning(id) already
    // satisfies the per-doc aggregation at the end — the broadcast
    // ratio join in between preserves it, so the scoring pass has NO
    // exchange of gram rows at all.
    val corpusGrams = (
      graft.Spread.byKey(corpus, idCol)
        .select(F.col(idCol), F.explode(gramBuckets(F.col(textCol))).as("bkt")))

    // Profiles are ≤`buckets` rows. Each carries its own total as a
    // GLOBAL WINDOW SUM over those B rows (bounded-small window class —
    // one partition of ≤8192 rows), so each profile has exactly ONE
    // consumer and nothing needs caching: the whole operator is a
    // single action (r15; the r14 shape materialized both profiles as
    // separate jobs, and those action barriers kept the corpus scan +
    // byKey exchange from being ReuseExchange-shared with the scoring
    // probe — the q_lm_score one-action precedent applied here).
    // Derived-constant partition spec (a bare literal folds out of the
    // spec): ≤B-row frame by construction — keeps WindowExec's
    // accidental-global warning meaningful elsewhere.
    // (pmod(·,1) — mul-by-zero on a non-nullable column constant-folds
    // and EliminateWindowPartitions then drops the spec entirely)
    val all = Window.partitionBy(F.coalesce(F.pmod(F.col("bkt"), F.lit(1)), F.lit(0)))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    // The CORPUS profile carries its total as a global window sum over
    // its own ≤B rows (bounded-small window class — one partition of
    // ≤8192 rows), so it has exactly ONE consumer and nothing
    // corpus-derived needs a second derivation or a cache.
    val rawProf = corpusGrams.groupBy(F.col("bkt"))
      .agg(F.count(F.lit(1)).as("rc"))
      .select(F.col("bkt"), F.col("rc"), F.sum("rc").over(all).as("r_tot"))
    val tgtProf = graft.Spread(target)
      .select(F.explode(gramBuckets(F.col(textCol))).as("bkt"))
      .groupBy(F.col("bkt")).agg(F.count(F.lit(1)).as("tc"))
    // The TARGET total must survive even when no target bucket matches a
    // corpus bucket (a window over the joined rows would lose it on a
    // disjoint overlap), so it stays a one-row lazy broadcast — the
    // TfIdf/Sampling scalar shape. The target is small by contract; its
    // twice-consumed profile subtree shares its exchange via
    // ReuseExchange inside the one action. Empty-target totals coalesce
    // to 0 and the weights degrade to a uniform-target model — defined,
    // not a crash.
    val tTot = tgtProf.groupBy().agg(F.coalesce(F.sum("tc"), F.lit(0L)).as("t_tot"))

    // Smoothed log-ratio per bucket, on the ≤`buckets`-row profile table.
    // A bucket never hit by the target keeps tc = 0 (add-1 smoothing
    // covers it); a bucket never hit by the corpus cannot appear in
    // scoring, so the raw profile is the complete key set.
    val b = buckets.toDouble
    val ratio = rawProf
      .join(tgtProf, Seq("bkt"), "left")
      .crossJoin(F.broadcast(tTot))
      .select(
        F.col("bkt"),
        // identical IEEE op order on both engines: (cnt+1)/(tot+B) then
        // ln, then the subtract — see OracleSql.q_dsir_weights.
        (F.log((F.coalesce(F.col("tc"), F.lit(0L)).cast("double") + F.lit(1.0)) /
            (F.col("t_tot").cast("double") + F.lit(b))) -
          F.log((F.col("rc").cast("double") + F.lit(1.0)) /
            (F.col("r_tot").cast("double") + F.lit(b)))).as("lr"))

    corpusGrams.join(F.broadcast(ratio), Seq("bkt"))
      .groupBy(F.col(idCol))
      .agg(
        F.count(F.lit(1)).as("n_grams"),
        // per-occurrence double term → exact decimal sum: order-free,
        // bit-reproducible cross-engine (UnigramLm discipline).
        F.sum(F.col("lr").cast("decimal(38,18)")).as("s"))
      .select(
        F.col(idCol), F.col("n_grams"),
        F.round(F.col("s").cast("double"), 6).as("dsir_logw"))
  }

  /** DSIR selection EXECUTED: the top-`k` documents by Gumbel-perturbed
    * log importance weight — exactly sampling-without-replacement with
    * probability ∝ exp(logw) (the Gumbel-top-k trick, the paper's
    * importance-RESAMPLING step), made deterministic by deriving the
    * Gumbel from md5(seed ‖ id) instead of an RNG:
    *
    *   u = (md5_32(seed‖id) + 0.5) / 2^32,  g = logw − ln(−ln u)
    *
    * — the repo's seeded-uniform convention (Sampling.shuffleShard), so
    * the selected SET is reproducible run-to-run, partition-layout-free,
    * and cross-engine checkable. Ordering uses the 6-dp ROUNDED key with
    * the id as total-order tie-break, so both engines cut the same top-k
    * (the usual 1-ulp-inside-ln risk class collapses to the rounding
    * boundary).
    *
    * Scale shape: [[importanceWeights]]'s scan + one global top-k —
    * `orderBy(...).limit(k)` plans as TakeOrderedAndProject (per-partition
    * heap + driver merge of k·partitions rows), NOT a full sort exchange.
    */
  def select(corpus: DataFrame, target: DataFrame,
             idCol: String = "doc_id", textCol: String = "text",
             buckets: Int = 8192, k: Int = 100,
             seed: String = "graft"): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    val w = importanceWeights(corpus, target, idCol, textCol, buckets)
    val h32 = F.conv(F.substring(
      F.md5(F.concat(F.lit(seed + "_"), F.col(idCol).cast("string"))), 1, 8),
      16, 10).cast("long")
    // identical IEEE op order to the oracle: (h + 0.5) / 2^32, ln, ln, −
    val u = (h32.cast("double") + F.lit(0.5)) / F.lit(4294967296.0)
    val g = F.round(F.col("dsir_logw") - F.log(-F.log(u)), 6)
    w.select(F.col(idCol), F.col("dsir_logw"), g.as("gumbel_key"))
      .orderBy(F.col("gumbel_key").desc, F.col(idCol))
      .limit(k)
  }

  /** Moore–Lewis cross-entropy difference selection (Moore & Lewis, ACL
    * 2010 — the intelligent-selection baseline DSIR generalizes): score
    * each candidate by its per-token log-likelihood under an IN-DOMAIN
    * LM minus the same under a GENERAL LM, and keep documents the
    * in-domain model explains better (score > 0). Both LMs are the
    * row-152 add-one unigram convention — u(w) = (c(w)+1)/(N+V+1), so an
    * OOV token scores finite under either model and every probability is
    * rational from integer count tables (one ln per side per position,
    * the established LM-tier discipline).
    *
    * Scale shape: two map-side-combinable count passes to
    * vocabulary-sized tables + their one-row totals; the candidate token
    * stream pays two keyed joins (in/general counts on the token) and
    * two one-row broadcasts; per-doc mean of (ln u_in − ln u_gen) via
    * order-free DECIMAL(38,18) sums, round 6.
    *
    * Output: (idCol, n_tokens, ml_score, selected = ml_score > 0) for
    * candidates with ≥ 1 token. */
  def mooreLewis(inDomain: DataFrame, general: DataFrame, docs: DataFrame,
                 idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    import graft.functions.expressions.ShingleExpr
    def toks(df: DataFrame) = ColumnBridge.column(
      ShingleExpr(ColumnBridge.expression(df(textCol)), 1))
    def uniTable(train: DataFrame, cntCol: String) =
      graft.Spread(train)
        .select(F.explode(toks(train)).as("tok"))
        .groupBy(F.col("tok")).agg(F.count(F.lit(1)).as(cntCol))
    val uniIn = uniTable(inDomain, "c_in")
    val uniGen = uniTable(general, "c_gen")
    val totIn = uniIn.agg(
      F.coalesce(F.sum(F.col("c_in")), F.lit(0L)).as("n_in"),
      F.count(F.lit(1)).as("v_in"))
    val totGen = uniGen.agg(
      F.coalesce(F.sum(F.col("c_gen")), F.lit(0L)).as("n_gen"),
      F.count(F.lit(1)).as("v_gen"))
    val occ = graft.Spread(docs)
      .select(docs(idCol), F.explode(toks(docs)).as("tok"))
      .repartition(F.col("tok"))
    def u(c: String, n: String, v: String) =
      (F.coalesce(F.col(c), F.lit(0L)).cast("double") + F.lit(1.0)) /
        (F.col(n).cast("double") + F.col(v).cast("double") + F.lit(1.0))
    occ
      .join(uniIn.hint("shuffle_hash"), Seq("tok"), "left")
      .join(uniGen.hint("shuffle_hash"), Seq("tok"), "left")
      .crossJoin(F.broadcast(totIn))
      .crossJoin(F.broadcast(totGen))
      .select(F.col(idCol),
        (F.log(u("c_in", "n_in", "v_in")) - F.log(u("c_gen", "n_gen", "v_gen")))
          .cast("decimal(38,18)").as("term"))
      .groupBy(F.col(idCol))
      .agg(F.count(F.lit(1)).as("n_tokens"), F.sum(F.col("term")).as("ll"))
      .select(F.col(idCol), F.col("n_tokens"),
        F.round(F.col("ll").cast("double") / F.col("n_tokens").cast("double"), 6)
          .as("ml_score"))
      .withColumn("selected", F.col("ml_score") > 0.0)
  }
}
