package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{functions => F}

/** TF-IDF keyword scoring over a document corpus — the classic
  * "what is this document about" signal for training-data curation
  * (topic balancing, keyword-based filtering, near-topic dedup).
  *
  * Shape (r12, third iteration, each driven by measurement):
  *
  *  1. `tf`: tokenize → per-row tf fold (TokenTfExpr) → explode. One
  *     corpus pass, no aggregation machinery, no (doc, tok) shuffle.
  *  2. `df`: ONE hash aggregation of the tf rows on `tok` — map-side
  *     partial combine collapses each partition to its distinct tokens,
  *     so the exchange carries vocabulary-sized partials, not the
  *     corpus. The corpus size N rides in as a caller-supplied literal
  *     when available (a parquet count-star the caller already has),
  *     else a lazy one-row broadcast folded onto the SMALL df table.
  *  3. score: `tf ⋈ df` on `tok`, strategy left to AQE: broadcast-hash
  *     while the vocabulary fits (no shuffle of the corpus side),
  *     shuffled join only at web-corpus vocabulary where nothing can
  *     broadcast.
  *  4. top-k: a `row_number` rank window, NOT a typed Aggregator. Spark
  *     4 plans it as Sort→WindowGroupLimit(Partial)→Exchange→…(Final):
  *     each map partition keeps only k rows per document BEFORE the
  *     shuffle, every operator native and codegen'd. The r12 typed
  *     `Aggregator` variant was measured 4.5x more CPU on this stage:
  *     `groupByKey` plans an AppendColumns that deserializes every
  *     (corpus-sized) row through the tuple encoder, and the
  *     ObjectHashAggregate buffer re-sorts a Scala Seq per input row —
  *     encoder + allocation cost where the window plan runs unsafe-row
  *     in-place. (The r11 plan's real sin was different: it computed df
  *     with a SECOND analytic window over the corpus, and every stage
  *     ran interpreted because the tokenize expressions were
  *     CodegenFallback. Both are fixed at the root now.)
  *
  * No UDFs; the score is `tf * ln(N / df)` in IEEE doubles with a fixed
  * operand order, so the DuckDB oracle reproduces it bit-for-bit
  * (rounded to 6 decimals on both sides, the cosine-query convention).
  */
object TfIdf {

  /** (doc_id, tok, tf, tfidf_r): every (document, token) pair scored.
    * The idf denominator N counts ALL of `docs` — empty-token documents
    * included, same convention as the SQL oracle. Pass `knownDocCount`
    * when the caller already knows it (e.g. a memoized parquet
    * count-star): N then rides as a literal and the one-row broadcast
    * branch (a BroadcastNestedLoopJoin and its two stages) vanishes
    * from the plan.
    *
    * `maxDfFraction` < 1 drops tokens whose document frequency exceeds
    * that fraction of the corpus — the stopword cap for web-scale
    * vocabularies. It filters the DF TABLE before the join (shrinking
    * the broadcast side), which drops the same (doc, tok) rows as a
    * post-join filter would. The default 1.0 binds nothing (df <= N
    * always), keeping the oracle contract exact. */
  def score(docs: DataFrame, idCol: String = "doc_id",
            textCol: String = "text", maxDfFraction: Double = 1.0,
            knownDocCount: Option[Long] = None): DataFrame = {
    require(maxDfFraction > 0.0 && maxDfFraction <= 1.0,
      s"maxDfFraction must be in (0, 1], got $maxDfFraction")
    // Spread the tokenize fold ONLY when the scan under-parallelizes
    // (fewer splits than cores — the small-file regime). At 100 TB the
    // scan already has thousands of splits and this is a no-op. Keyed on
    // the doc id: explode and the BHJ below both PRESERVE the spread's
    // HashPartitioning(id), which satisfies topKeywords' per-document
    // window — the planner then drops the window's own exchange (and its
    // two stages) entirely. Measured r12: the window exchange was pure
    // overhead (≤ k·docs surviving rows, but two extra 32-task stages).
    val spread = graft.Spread.byKey(docs, idCol)
    // explode_outer, not explode: InferFiltersFromGenerate only infers its
    // `size(e) > 0` filter for INNER generates — with the inner form the
    // inferred filter would evaluate the TokenTfExpr fold a second time at
    // the scan (the round-6 double-fold trap). The outer generate keeps
    // empty docs as null-token rows; the isNotNull filter below reads the
    // generated column, not the fold.
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val tfArr = ColumnBridge.column(
      graft.functions.expressions.TokenTfExpr(
        ColumnBridge.expression(F.col(textCol))))
    val tf = spread
      .select(F.col(idCol), F.explode_outer(tfArr).as("tt"))
      .select(F.col(idCol), F.col("tt.tok").as("tok"), F.col("tt.tf").as("tf"))
      .filter(F.col("tok").isNotNull)
    val dfAgg = tf.groupBy(F.col("tok"))
      .agg(F.count(F.lit(1)).as("df"))
    val dfTab = knownDocCount match {
      case Some(n) => dfAgg.withColumn("n_docs", F.lit(n))
      case None =>
        // N as a LAZY one-row broadcast (BroadcastNestedLoopJoin over a
        // single-row aggregate — the scalar-subquery shape, constant
        // cost). Reads no columns, so parquet answers it from row-group
        // counts. Folded onto the SMALL (vocabulary-sized) df table,
        // never the corpus-sized tf side.
        dfAgg.crossJoin(F.broadcast(
          docs.groupBy().agg(F.count(F.lit(1)).as("n_docs"))))
    }
    val capped =
      if (maxDfFraction >= 1.0) dfTab
      else dfTab.filter(
        F.col("df").cast("double") <=
          F.col("n_docs").cast("double") * maxDfFraction)
    tf.join(capped, Seq("tok")) // strategy left to AQE: BHJ while df fits
      .select(
        F.col(idCol), F.col("tok"), F.col("tf"),
        F.round(
          F.col("tf").cast("double") *
            F.log(F.col("n_docs").cast("double") / F.col("df").cast("double")),
          6).as("tfidf_r"))
  }

  /** Top-`k` keywords per document by TF-IDF, deterministically tie-broken
    * on the token string (binary UTF-8 order — Spark string sort order —
    * matching the SQL oracle's ORDER BY on both engines).
    *
    * Output: (idCol, rnk, tok, tf, tfidf_r), rnk 1-based. Rank-window
    * top-k: WindowGroupLimit cuts each map partition to k rows per
    * document pre-shuffle, so the exchange carries ≤ k·docs rows and the
    * final sort touches only survivors. */
  def topKeywords(docs: DataFrame, k: Int = 3,
                  idCol: String = "doc_id", textCol: String = "text",
                  maxDfFraction: Double = 1.0,
                  knownDocCount: Option[Long] = None): DataFrame = {
    val w = Window.partitionBy(F.col(idCol))
      .orderBy(F.col("tfidf_r").desc, F.col("tok").asc)
    score(docs, idCol, textCol, maxDfFraction, knownDocCount)
      .withColumn("rnk", F.row_number().over(w).cast("long"))
      .filter(F.col("rnk") <= k)
      .select(F.col(idCol), F.col("rnk"), F.col("tok"), F.col("tf"),
        F.col("tfidf_r"))
  }

  /** Okapi BM25 ranking (Robertson & Walker SIGIR '94; the
    * probabilistic-IDF + saturation formula every lexical search
    * baseline runs): score(d, q) = Σ_t idf(t) · tf·(k1+1) /
    * (tf + k1·(1 − b + b·len/avglen)) with idf = ln((N − df + 0.5)/(df
    * + 0.5) + 1) (the Lucene-standard non-negative variant). The
    * retrieval half of the keyword tier: [[score]] describes documents,
    * this RANKS them for a query — corpus search, relevance-based
    * curation, and the lexical side of hybrid (BM25 + ANN) retrieval.
    *
    * Scale shape: one tokenize pass to per-doc (tok, tf, len) rows
    * FILTERED to the query terms at the scan (the term list is a plan
    * literal — a handful of tokens), one vocabulary-sized df aggregation
    * over just those terms, N/avglen on a one-row broadcast, top-k by
    * rank window over only docs containing ≥ 1 term. Every double is
    * shared-text (round-6 ln under the hllEst rule; per-term
    * contributions summed in DECIMAL so the fold is order-free). */
  def bm25(docs: DataFrame, queryTerms: Seq[String], k: Int = 20,
           idCol: String = "doc_id", textCol: String = "text",
           k1: Double = 1.2, b: Double = 0.75): DataFrame = graft.CacheScope.scoped {
    require(queryTerms.nonEmpty, "empty query")
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val terms = queryTerms.map(_.toLowerCase(java.util.Locale.ROOT)).distinct
    val tfArr = ColumnBridge.column(
      graft.functions.expressions.TokenTfExpr(
        ColumnBridge.expression(F.col(textCol))))
    // ONE text pass (r20, VERDICT r19 #2 stage cut — the r19 shape paid
    // TWO full tokenize-class scans: the corpus-stats agg and the term
    // tokenize): every doc projects to the SKINNY (id, dl, matched-term
    // tf array) frame — per-row width bounded by |queryTerms|, so the
    // lazy cache holds corpus-count × ~24 B rows, never text — and all
    // three consumers (corpus stats, df table, score join) read it.
    // LAZY (no eager count job — r18 VERDICT #5): the first consumer is
    // a BROADCAST build (stats or dfTab, both driver-blocking one-row/
    // |terms|-row jobs that complete before the probe side schedules),
    // so it populates the cache; the materializeLazy regime boundary
    // (aggregated side outgrowing the broadcast threshold) cannot
    // trigger — both aggregates are bounded by construction.
    val docsTf = graft.CacheScope.materializeLazy(graft.Spread.byKey(docs, idCol)
      .select(F.col(idCol),
        graft.functions.TextFunctions.tokenCount(F.col(textCol)).as("dl"),
        F.filter(tfArr, tt =>
          tt.getField("tok").isin(terms: _*)).as("tts")))
    // Corpus totals (N, token total for avglen — corpus-wide by
    // definition) fold from the cached frame: no second text scan.
    val stats = docsTf.agg(
      F.count(F.lit(1)).as("n_docs"),
      F.sum(F.col("dl").cast("decimal(38,0)")).as("tok_total"))
    // Matching-doc term rows (≤ docs × |terms|): plain explode drops
    // term-less docs — exactly the docs that score nothing.
    val tf = docsTf
      .select(F.col(idCol), F.col("dl"), F.explode(F.col("tts")).as("tt"))
      .select(F.col(idCol), F.col("dl"),
        F.col("tt.tok").as("tok"), F.col("tt.tf").as("tf"))
    val dfTab = tf.groupBy("tok").agg(F.count(F.lit(1)).as("df"))
    val scored = tf.join(F.broadcast(dfTab), Seq("tok"))
      .crossJoin(F.broadcast(stats))
      .withColumn("contrib", F.expr(
        s"""CAST(round(ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) /
           |  (CAST(df AS DOUBLE) + 0.5) + 1.0), 6) *
           |(CAST(tf AS DOUBLE) * ${k1 + 1.0}) /
           |(CAST(tf AS DOUBLE) + $k1 * (${1.0 - b} + $b * CAST(dl AS DOUBLE) /
           |  (CAST(tok_total AS DOUBLE) / CAST(n_docs AS DOUBLE)))) AS DECIMAL(38,18))"""
          .stripMargin))
      .groupBy(F.col(idCol))
      .agg(F.count(F.lit(1)).as("n_terms_hit"),
        F.expr("round(CAST(SUM(contrib) AS DOUBLE), 6)").as("bm25"))
    // Global top-k: TakeOrdered cut FIRST (per-partition heaps — no
    // corpus-sized global window), then rank the ≤ k survivors on a
    // bounded derived-constant frame.
    scored.orderBy(F.col("bm25").desc, F.col(idCol).asc).limit(k)
      .withColumn("rnk", F.row_number().over(
        Window.partitionBy(F.pmod(F.col("n_terms_hit"), F.lit(1)))
          .orderBy(F.col("bm25").desc, F.col(idCol).asc)).cast("long"))
      .select(F.col(idCol), F.col("rnk"), F.col("n_terms_hit"), F.col("bm25"))
  }

  /** Per-GROUP distinctive keywords — source/domain/cluster LABELING:
    * each group (a source, a language, a k-means cluster) is treated as
    * one super-document, scored tf_g · ln(n_groups / df_g), top-k per
    * group — how a curation run summarizes "what is in this slice"
    * before mixing decisions (the cluster-labeling counterpart of the
    * per-document [[topKeywords]]). A token present in EVERY group
    * scores exactly 0 (ln 1) — the stopword null by construction.
    *
    * Scale shape: one tokenize pass folded map-side to (group, token)
    * occurrence partials — the exchange carries ≤ groups × vocabulary
    * rows; df_g and n_groups fold FROM that table (no second corpus
    * scan, n_groups rides a one-row broadcast); the rank window
    * partitions on the group. The ln shares its expression text with the
    * oracle (round-6, the hllEst rule). */
  def groupKeywords(docs: DataFrame, groupCol: String = "source",
                    textCol: String = "text", k: Int = 5): DataFrame = graft.CacheScope.scoped {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val tfArr = ColumnBridge.column(
      graft.functions.expressions.TokenTfExpr(
        ColumnBridge.expression(F.col(textCol))))
    // The (group, token) table feeds THREE consumers (score join, df_g,
    // n_groups) — materialize it (≤ groups × vocabulary rows) so the
    // corpus tokenize pass runs exactly once, not once per consumer.
    val gtok = graft.CacheScope.materialize(graft.Spread(docs)
      .select(F.col(groupCol), F.explode_outer(tfArr).as("tt"))
      .select(F.col(groupCol), F.col("tt.tok").as("tok"), F.col("tt.tf").as("tf"))
      .filter(F.col("tok").isNotNull)
      .groupBy(F.col(groupCol), F.col("tok"))
      .agg(F.sum(F.col("tf").cast("long")).as("tf_g")))
    // df_g as a groupBy(tok) count joined back through an explicit
    // broadcast (≤ vocabulary rows): gtok's probe side keeps its group
    // partitioning into the rank window below. A window count over tok
    // partitions saves the count's own exchange but adds a tok exchange
    // and a sort over gtok on the probe path, and measured 0.68× as fast
    // (plans/r23/q_source_keywords_{before,after}.txt).
    val dfg = gtok.groupBy(F.col("tok")).agg(F.count(F.lit(1)).as("df_g"))
    val ng = gtok.select(groupCol).distinct()
      .agg(F.count(F.lit(1)).as("n_groups"))
    val w = Window.partitionBy(F.col(groupCol))
      .orderBy(F.col("tfidf_r").desc, F.col("tok").asc)
    gtok.join(F.broadcast(dfg), Seq("tok"))
      .crossJoin(F.broadcast(ng))
      .withColumn("tfidf_r", F.expr(
        "round(CAST(tf_g AS DOUBLE) * ln(CAST(n_groups AS DOUBLE) / CAST(df_g AS DOUBLE)), 6)"))
      .withColumn("rnk", F.row_number().over(w).cast("long"))
      .filter(F.col("rnk") <= k)
      .select(F.col(groupCol), F.col("rnk"), F.col("tok"), F.col("tf_g"),
        F.col("df_g"), F.col("tfidf_r"))
  }
}
