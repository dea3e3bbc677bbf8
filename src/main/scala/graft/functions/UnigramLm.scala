package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}

/** Unigram language-model scoring: each document's mean token
  * log-probability under the corpus's own unigram distribution — the
  * CCNet/KenLM-style quality signal (gibberish and boilerplate score low;
  * fluent in-distribution text scores high) used to filter or
  * importance-weight training corpora.
  *
  * score(d) = ( Σ_{t ∈ d} tf(d,t) · ln(count(t) / totalTokens) ) / |d|
  *
  * Determinism at scale (the interesting part): a distributed SUM of
  * doubles is order-nondeterministic — partial aggregation order varies
  * run to run — so the naive form cannot be oracle-checked bit-exactly.
  * Instead each per-(doc, token) term is computed as a double (identical
  * IEEE ops on identical operands on any engine) and CAST TO
  * DECIMAL(38,18); decimal addition is exact and associative, so the sum
  * is order-free and the final double division sees identical operands on
  * Spark and the SQL oracle. (Residual risk: the double→decimal cast's
  * rounding at 1e-18 per term; divergence reaches the 6-dp output only on
  * a ~.5e-6 boundary — the same accepted class as the tfidf ln 1-ulp
  * note.)
  *
  * Shape: the [[TfIdf]] pattern — one corpus scan folds per-row term
  * frequencies (TokenTfExpr), cached exploded as primitive columns; token
  * counts are one map-side-combinable aggregation; the join back is
  * token-keyed; the per-doc sum is exact decimal. Nothing quadratic; no
  * driver data beyond the single totalTokens long.
  */
object UnigramLm {

  /** (idCol, n_tokens, entropy) per document with at least one token:
    * Shannon entropy of the document's own token distribution,
    * H = ln(n) − (Σ_t tf·ln tf)/n — low for repetitive/templated text,
    * high for diverse vocabulary; the complement of [[score]]'s
    * corpus-level signal. Same exact-decimal summation (each tf·ln(tf)
    * term is an identical double on any engine; the decimal sum is
    * order-free), same one-scan shape — but with a SINGLE consumer, so
    * no cache, no scope: one scan, one shuffle (the per-doc sum). */
  def tokenEntropy(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val tfArr = ColumnBridge.column(
      graft.functions.expressions.TokenTfExpr(
        ColumnBridge.expression(F.col(textCol))))
    // byKey, not round-robin: when the spread fires, its
    // HashPartitioning(id) already satisfies the per-doc aggregation
    // below, so that exchange (and its stage pair) drops out of the plan
    // — the TfIdf.score trick; `score` keeps round-robin because its
    // downstream exchanges are tok-keyed, which doc-id keying can't help.
    graft.Spread.byKey(docs, idCol)
      .select(F.col(idCol), F.explode_outer(tfArr).as("tt"))
      .select(F.col(idCol), F.col("tt.tok").as("tok"), F.col("tt.tf").as("tf"))
      .filter(F.col("tok").isNotNull)
      .select(
        F.col(idCol), F.col("tf"),
        (F.col("tf").cast("double") * F.log(F.col("tf").cast("double")))
          .cast("decimal(38,18)").as("term"))
      .groupBy(F.col(idCol))
      .agg(
        F.sum(F.col("tf")).as("n_tokens"),
        F.sum(F.col("term")).as("tl"))
      .select(
        F.col(idCol), F.col("n_tokens"),
        F.round(
          F.log(F.col("n_tokens").cast("double")) -
            F.col("tl").cast("double") / F.col("n_tokens").cast("double"),
          6).as("entropy"))
  }

  /** CCNet-style perplexity bucketing: every document labeled
    * head / middle / tail by its [[score]] rank WITHIN ITS LANGUAGE —
    * the published CCNet recipe (Wenzek et al. 2020) that pretraining
    * pipelines use to keep the fluent third of a crawl and downweight
    * the rest. `k` buckets of NTILE semantics (first `n mod k` buckets
    * get the extra row), head = best lm_score (lowest perplexity).
    *
    * Scale shape — two rank paths, same answer (the Components
    * fast/distributed precedent, each behind its own oracle gate):
    *  - `knownCount` in [0, [[RankWindowBound]]]: ONE per-language window
    *    pass (row_number + count over partitionBy(pred_lang)) — a single
    *    exchange; the window buffers at most one language's rows in a
    *    spill-capable sort, safe at this bound.
    *  - otherwise (the scale default; forced by q_ccnet_buckets_dist):
    *    ranks from [[graft.operators.GlobalIndex]] over the total order
    *    (pred_lang, lm_score DESC, id) — range partition + in-partition
    *    sort + zipWithIndex — so a language 100× bigger than the rest
    *    spreads across partitions instead of serializing one task; the
    *    per-language rank is the global index minus the language's min
    *    index (one ≤|langs|-row aggregate, broadcast back).
    * The NTILE arithmetic is explicit integer math on (rank, group
    * size) — identical on both engines rather than trusting two window
    * implementations to tie-break alike — and is shared verbatim by the
    * two paths, so they cannot drift.
    *
    * Determinism: ranks order on the ROUNDED 6-dp lm_score (the same
    * column both engines emit) with the id as total-order tie-break. */
  def perplexityBuckets(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text", k: Int = 3,
                        knownCount: Long = -1L): DataFrame = graft.CacheScope.scoped {
    require(k >= 2, s"need k >= 2 buckets, got $k")
    // ONE corpus pass (r22, VERDICT r21 #3): langId CARRIES through the
    // scoring pipeline ([[scoreCarrying]]) instead of riding a second
    // corpus scan joined back on the id — that branch cost its own Spread
    // text exchange plus a join of two corpus-sized frames. pred_lang is
    // a pure function of the row's text, so the carried value is
    // identical to the joined one; docs with no tokens are absent from
    // the scored frame either way (the former inner join dropped them).
    val joined = scoreCarrying(docs, idCol, textCol,
        Seq("pred_lang" -> TextFunctions.langId(F.col(textCol))))
      .select(F.col(idCol), F.col("lm_score"), F.col("pred_lang"))
    // non-negative long division: double divide + truncating cast == floor
    // == both engines' integer `//` for these operand ranges (< 2^53)
    def ldiv(a: Column, b: Column): Column = (a / b).cast("long")
    def bucketed(src: DataFrame, rank: Column, gn: Column): DataFrame = {
      val base = ldiv(gn, F.lit(k))
      val rem = gn % k
      val cut = rem * (base + F.lit(1))
      val idx = F.when(rank < cut, ldiv(rank, base + F.lit(1)))
        .otherwise(rem + ldiv(rank - cut, F.greatest(base, F.lit(1L))))
      val label =
        if (k == 3)
          F.when(idx === 0, F.lit("head"))
            .when(idx === 1, F.lit("middle")).otherwise(F.lit("tail"))
        else F.concat(F.lit("b"), idx.cast("string"))
      src.select(F.col(idCol), F.col("pred_lang"), F.col("lm_score"),
        label.as("ppl_bucket"))
    }
    if (knownCount >= 0 && knownCount <= RankWindowBound) {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(F.col("pred_lang"))
        .orderBy(F.col("lm_score").desc, F.col(idCol))
      val wAll = org.apache.spark.sql.expressions.Window
        .partitionBy(F.col("pred_lang"))
      bucketed(
        joined.select(F.col(idCol), F.col("pred_lang"), F.col("lm_score"),
          (F.row_number().over(w) - 1).cast("long").as("lrank"),
          F.count(F.lit(1)).over(wAll).as("gn")),
        F.col("lrank"), F.col("gn"))
    } else {
      // The indexed frame has TWO consumers (the per-language min/count
      // aggregate and the final join) — cache it, or the range sort, the
      // LM scoring join, and langId all run twice.
      val g = graft.CacheScope.materialize(
        graft.operators.GlobalIndex.appendIndex(
          joined,
          Seq(F.col("pred_lang"), F.col("lm_score").desc, F.col(idCol)), "gpos"))
      val groups = g.groupBy(F.col("pred_lang"))
        .agg(F.min(F.col("gpos")).as("gstart"), F.count(F.lit(1)).as("gn"))
      bucketed(
        g.join(F.broadcast(groups), Seq("pred_lang")),
        F.col("gpos") - F.col("gstart"), F.col("gn"))
    }
  }

  /** Row bound under which [[perplexityBuckets]] may rank with a plain
    * per-language window (one language buffered per sort — the same
    * bounded-fast-path class as Components' union-find ≤1M edges). */
  val RankWindowBound: Long = 1000000L

  /** (idCol, n_tokens, lm_score) per document with at least one token;
    * lm_score rounded to 6 decimals. */
  def score(docs: DataFrame, idCol: String = "doc_id",
            textCol: String = "text"): DataFrame =
    scoreCarrying(docs, idCol, textCol, Nil)

  /** [[score]] that CARRIES extra per-document columns (name → expression
    * over the doc row, e.g. a langId) through the scoring pipeline:
    * evaluated once per document at the first scan, shipped through the
    * tok exchange, folded back per doc with FIRST (constant within the
    * doc's group by construction). Output = score's columns ++ the carry
    * names. With an empty carry this IS score — identical plan.
    *
    * Why carry instead of join (r22, VERDICT r21 #3 exchange audit on
    * q_ccnet_buckets): a separate `docs.select(extra)` branch costs a
    * SECOND corpus scan, its own Spread text exchange, and an id-keyed
    * join of two corpus-sized frames (2 exchanges + sorts) just to
    * reunite columns that were born on the same row. Carrying them costs
    * only the extra column's bytes (a 2-letter lang code) on the tok
    * shuffle the pipeline already pays.
    *
    * Precondition: `idCol` is unique per document. The per-document fold
    * groups by the id alone and keeps each carried column with FIRST, so
    * two documents sharing an id would merge into one score and carry an
    * arbitrary one of their values. */
  private[graft] def scoreCarrying(docs: DataFrame, idCol: String,
                                   textCol: String,
                                   carry: Seq[(String, Column)]): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val tfArr = ColumnBridge.column(
      graft.functions.expressions.TokenTfExpr(
        ColumnBridge.expression(F.col(textCol))))
    // ONE tokenize scan, ONE tok exchange, ONE action (r14 rework; the
    // previous cache-the-exploded-stream and scan-per-consumer shapes
    // both measured ~2× this wall at sf0.1):
    //  - the explicit repartition(tok) makes the vocabulary aggregation
    //    and the join probe share the IDENTICAL Exchange subplan, which
    //    ReuseExchange collapses — the corpus is tokenized and shuffled
    //    once, the aggregation and the join both read that one shuffle;
    //  - the corpus token total rides in as a one-row broadcast cross
    //    join (the Sampling/TfIdf/Dsir bounded-crossJoin exception
    //    class) instead of a driver `first()`, which would have forced a
    //    second action and re-tokenized the corpus.
    // Shuffle volume note: the raw (doc, tok, tf) stream was already
    // shuffled by tok for the join; fusing the aggregation onto the same
    // exchange DROPS the former separate (map-combined) agg shuffle
    // rather than adding anything.
    val carryNamed = carry.map { case (n, c) => c.as(n) }
    val carryCols = carry.map { case (n, _) => F.col(n) }
    val byTok = graft.Spread(docs)
      .select(F.col(idCol) +: carryNamed :+ F.explode_outer(tfArr).as("tt"): _*)
      .select(F.col(idCol) +: carryCols :+ F.col("tt.tok").as("tok")
        :+ F.col("tt.tf").as("tf"): _*)
      .filter(F.col("tok").isNotNull)
      .repartition(F.col("tok"))
    val tokCounts = byTok.groupBy(F.col("tok")).agg(F.sum(F.col("tf")).as("cnt"))
    // Global agg emits exactly one row even on an empty corpus (null
    // total) — sound, because an empty byTok makes the join empty anyway.
    val total = tokCounts.agg(F.sum(F.col("cnt")).as("total"))
    // shuffle_hash: both sides are already tok-partitioned, so the only
    // choice is HOW to match — the default SMJ would sort the full
    // exploded stream by token string; hashing the (small) vocabulary
    // side instead skips that sort entirely.
    byTok.join(tokCounts.hint("shuffle_hash"), Seq("tok"))
      .crossJoin(F.broadcast(total))
      .select(
        F.col(idCol) +: carryCols :+ F.col("tf") :+
        // identical IEEE ops on both engines, then exact decimal; the
        // total's long→double cast sees the same value the former
        // driver-collected literal carried
        (F.col("tf").cast("double") *
          F.log(F.col("cnt").cast("double") / F.col("total").cast("double")))
          .cast("decimal(38,18)").as("term"): _*)
      .groupBy(F.col(idCol))
      .agg(
        F.sum(F.col("tf")).as("n_tokens"),
        (F.sum(F.col("term")).as("ll") +:
          carry.map { case (n, _) => F.first(F.col(n)).as(n) }): _*)
      .select(
        F.col(idCol) +: F.col("n_tokens") +:
        F.round(F.col("ll").cast("double") / F.col("n_tokens").cast("double"), 6)
          .as("lm_score") +: carryCols: _*)
  }
}
