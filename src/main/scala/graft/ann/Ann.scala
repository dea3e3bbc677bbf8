package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.expressions.Window

import graft.functions.VectorFunctions
import graft.functions.VectorFunctions.dotF

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two baseline tiers:
  *  - [[bruteTopK]]: exact baseline. Small query set is broadcast, the big
  *    corpus is scanned ONCE (BroadcastNestedLoopJoin — no corpus shuffle);
  *    ranking is deterministic: (cosine rounded to 1e-6 desc, vec_id asc).
  *  - [[lshTopK]]: random-hyperplane LSH bucketing (replicable signatures,
  *    see VectorFunctions.lshSignature) → candidates share a bucket →
  *    rerank within bucket. Probes only matching buckets; recall is
  *    measured against [[bruteTopK]] in AnnSpec.
  *
  * Every score runs on one kernel per shape: pairwise dots and norms on
  * [[graft.functions.VectorFunctions.dotF]] (DotProductF), centroid
  * scores on [[graft.functions.expressions.CentroidScoresExpr]]. Both
  * return the same double as the portable reference fold
  * ([[graft.functions.VectorFunctions.dot]], the oracle's formulation),
  * and NULL wherever it does: a null embedding, a length mismatch, a
  * null element.
  */
object Ann {

  /** Re-key `idCol` densely as 0..N−1 in ascending order of the original
    * ids — the pre-densification [[trainCentroids]]' dense-id precondition
    * demands, as a real operator (a production corpus's vec_ids are never
    * dense: they're snowflakes, hashes, or survivors of a dedup pass).
    *
    * Scale shape: range-repartition on the id + partition-local sort +
    * `zipWithIndex` (one lightweight count job over partition sizes, then
    * a map) — the global order comes from range partitioning, NOT from a
    * single-partition row_number window, so the operator holds at corpus
    * scale. Deterministic for the unique ids an id column has by
    * contract. The row transit through RDD land costs one
    * serialize/deserialize — an index-build prep step, not a hot path.
    *
    * SQL-oracle equivalent: `row_number() OVER (ORDER BY <id>) - 1`
    * (q_densify gates the equality hash-exact). */
  def densify(df: DataFrame, idCol: String = "vec_id",
              origOut: String = ""): DataFrame = {
    // The distributed row_number lives in ONE place
    // (operators.GlobalIndex); densify is that index swapped into the id
    // column's position, with the original id optionally kept alongside.
    val withIdx = graft.operators.GlobalIndex.appendIndex(
      df, Seq(F.col(idCol)), "_dense_id")
    val out = withIdx.select(
      df.columns.toSeq.map { c =>
        if (c == idCol) F.col("_dense_id").as(idCol) else F.col(c)
      } :+ F.col(idCol).as("_orig_id"): _*)
    if (origOut.isEmpty) out.drop("_orig_id")
    else out.withColumnRenamed("_orig_id", origOut)
  }

  /** Deterministic ranking score: cosine rounded to 6 dp (absorbs ulp-level
    * accumulation noise), ties broken by neighbor id. Norms are computed
    * ONCE per side (not per pair) — bit-identical to the per-pair
    * formulation (`sqrt(q·q) * sqrt(c·c)` in the same operand order). */
  private def pairs(corpus: DataFrame, queries: DataFrame, idCol: String, embCol: String,
                    excludeSelf: Boolean = true): DataFrame = {
    val q = queries.select(F.col(idCol).as("query_id"), F.col(embCol).as("q_emb"),
      normCol(F.col(embCol)).as("q_norm"))
    // excludeSelf only makes sense when corpus and queries draw ids from
    // ONE id space (self-retrieval suppression: bruteTopK, minePairs, the
    // mmrSelect pool). Cross-TABLE comparisons (eval-set decontamination)
    // must pass false: corpus/eval ids are independent, and an id
    // collision would silently skip exactly the exact-copy leak the
    // screen exists to catch (round-19 ADVICE).
    val cond = if (excludeSelf) F.col("neighbor_id") =!= F.col("query_id") else F.lit(true)
    corpus
      .select(F.col(idCol).as("neighbor_id"), F.col(embCol).as("c_emb"),
        normCol(F.col(embCol)).as("c_norm"))
      .join(F.broadcast(q), cond)
      .select(
        F.col("query_id"), F.col("neighbor_id"),
        F.round(dotF(F.col("q_emb"), F.col("c_emb")) /
          (F.col("q_norm") * F.col("c_norm")), 6).as("cosine"))
  }

  /** Exact top-k via a rank window (the simple, oracle-matching form). */
  def bruteTopK(corpus: DataFrame, queries: DataFrame, idCol: String = "vec_id",
                embCol: String = "embedding", k: Int = 5): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc, F.col("neighbor_id").asc)
    pairs(corpus, queries, idCol, embCol)
      .withColumn("rank", F.row_number().over(w))
      .filter(F.col("rank") <= k)
      .select(F.col("query_id"), F.col("rank").cast("long").as("rnk"),
        F.col("neighbor_id"), F.col("cosine"))
  }

  /** Maximal Marginal Relevance selection (Carbonell & Goldstein,
    * SIGIR'98): greedily pick `k` items maximizing
    * `λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s)` — the diversity-aware
    * selection a few-shot/example-curation pipeline runs where plain
    * top-k returns k near-duplicates of the best hit.
    *
    * Scale shape: relevance and the candidate pool cut are the
    * distributed [[bruteTopK]] (any retriever output with (id, rel)
    * works); only the pool's pairwise cosine table (`poolSize²` rounded
    * doubles, require-capped — the bounded-by-contract driver-state
    * class) ever reaches the driver, where the O(k·poolSize) greedy loop
    * is pure argmax bookkeeping. The corpus itself never leaves
    * executors.
    *
    * Determinism: rel and sims are the round-6 cosine rank scores with
    * id tie-breaks; `λ·rel − (1−λ)·ms` is two IEEE ops on those shared
    * doubles, so selection AND scores replay exactly in SQL — PROVIDED
    * the oracle derives the diversity weight from the SAME literal
    * (`(1.0 - 0.7)`, which constant-folds to this engine's
    * 0.30000000000000004), not a hand-typed `0.3` one ulp away
    * (round-18 ADVICE: a near-tie could flip the greedy argmax
    * between engines otherwise).
    *
    * Output: (rnk 1..k, idCol, relevance, mmr_score round-6) in
    * selection order; the first pick scores against ms = 0. */
  def mmrSelect(corpus: DataFrame, idCol: String = "vec_id",
                embCol: String = "embedding", queryId: Long = 0L,
                poolSize: Int = 64, k: Int = 8,
                lambda: Double = 0.7): DataFrame = graft.CacheScope.scoped {
    require(k >= 1 && poolSize >= k, s"need 1 <= k <= poolSize, got k=$k pool=$poolSize")
    // poolSize² sims reach the driver: 1024² = 1M doubles = 8 MB in the
    // flat array below. The earlier 4096 cap allowed 16.7M TUPLE-KEYED
    // boxed map entries — multi-GB of driver heap, far outside the
    // bounded-by-contract class (round-18 ADVICE).
    require(poolSize <= 1024, s"poolSize $poolSize exceeds the driver-state cap (1024)")
    require(lambda > 0.0 && lambda < 1.0, s"lambda in (0, 1), got $lambda")
    val spark = corpus.sparkSession
    val query = corpus.filter(F.col(idCol) === queryId)
    val rel = graft.CacheScope.materialize(
      bruteTopK(corpus, query, idCol, embCol, k = poolSize)
        .select(F.col("neighbor_id").as("id"), F.col("cosine").as("rel")))
    val poolVecs = corpus.join(F.broadcast(rel.select(F.col("id"))),
      corpus(idCol) === F.col("id")).drop("id")
    val sims = pairs(poolVecs, poolVecs, idCol, embCol)
    val relArr = rel.collect().map(r => r.getLong(0) -> r.getDouble(1))
    // sims in a FLAT primitive array indexed by pool-local position
    // (idxA * n + idxB): no boxing, no tuple keys — 8 bytes per entry,
    // and the build is the O(poolSize²) scan the collect already paid
    val n = relArr.length
    val poolIdx = new java.util.HashMap[Long, Integer](n * 2)
    relArr.iterator.zipWithIndex.foreach { case ((id, _), i) => poolIdx.put(id, i) }
    val simArr = new Array[Double](n * n)
    sims.collect().foreach { r =>
      val ia = poolIdx.get(r.getLong(0)); val ib = poolIdx.get(r.getLong(1))
      if (ia != null && ib != null) simArr(ia * n + ib) = r.getDouble(2)
    }
    // greedy loop: first pick = argmax rel (ties: smaller id); then
    // argmax λ·rel − (1−λ)·max-sim-to-selected over the remainder
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Double)]
    val remaining = scala.collection.mutable.LinkedHashMap(relArr.toSeq: _*)
    while (selected.size < k && remaining.nonEmpty) {
      val scored = remaining.iterator.map { case (id, r) =>
        val ci = poolIdx.get(id).intValue()
        val ms = if (selected.isEmpty) 0.0
          else selected.iterator.map(s => simArr(poolIdx.get(s._1).intValue() * n + ci)).max
        (id, r, ms, lambda * r - (1.0 - lambda) * ms)
      }.toSeq
      val best = scored.minBy { case (id, _, _, m) => (-m, id) }
      selected += ((best._1, best._2, best._3))
      remaining.remove(best._1)
    }
    import spark.implicits._
    selected.toSeq.zipWithIndex.map { case ((id, r, ms), i) =>
      (i + 1L, id, r,
        BigDecimal(lambda * r - (1.0 - lambda) * ms)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toDF("rnk", idCol, "relevance", "mmr_score")
  }

  /** Contrastive training-pair mining — the DPR/E5 data-prep recipe
    * (Karpukhin et al. EMNLP 2020 mined hard negatives from a retriever;
    * Wang et al. 2022 made the in-batch-plus-hard-negative mix the
    * standard): per anchor, POSITIVES are neighbors at cosine ≥ `tPos`
    * (the near-duplicate band row 52 dedups on — here kept as training
    * signal) and HARD NEGATIVES the `nNeg` highest-cosine neighbors
    * BELOW it — similar enough to be informative, dissimilar enough to
    * be wrong, the pairs a contrastive embedding run actually learns
    * from (random negatives are trivially separable).
    *
    * Shape: the [[bruteTopK]] broadcast-anchor-batch scan (at 100 TB the
    * candidate lists come from the IVF/JL tiers; the labeling rule is
    * unchanged), one anchor-partitioned rank window for the negative
    * cut. Deterministic: round-6 cosines, (cosine DESC, id ASC) order —
    * mined pairs hash-exact. */
  def minePairs(corpus: DataFrame, anchors: DataFrame, idCol: String = "vec_id",
                embCol: String = "embedding", tPos: Double = 0.4,
                nNeg: Int = 4): DataFrame = {
    val p = pairs(corpus, anchors, idCol, embCol)
    val pos = p.filter(F.col("cosine") >= tPos)
      .select(F.col("query_id").as("anchor_id"),
        F.col("neighbor_id").as("cand_id"), F.col("cosine"),
        F.lit("positive").as("pair_type"))
    val w = Window.partitionBy("query_id")
      .orderBy(F.col("cosine").desc, F.col("neighbor_id").asc)
    val neg = p.filter(F.col("cosine") < tPos)
      .withColumn("rn", F.row_number().over(w))
      .filter(F.col("rn") <= nNeg)
      .select(F.col("query_id").as("anchor_id"),
        F.col("neighbor_id").as("cand_id"), F.col("cosine"),
        F.lit("hard_negative").as("pair_type"))
    pos.unionAll(neg)
  }

  /** Embedding-space EVAL-SET decontamination — the semantic
    * complement of the n-gram/Bloom screens (SURVEY rows 70/105): lexical
    * decontamination misses paraphrased or translated test leakage, so
    * modern pipelines ALSO flag training documents whose embedding sits
    * too close to any eval example (the "semantic contamination" screen;
    * the SemDeDup machinery pointed across corpora instead of within
    * one). Per corpus vector: the nearest eval example by cosine and a
    * `contaminated` flag at threshold `tau`.
    *
    * Scale shape: the eval set is BOUNDED BY CONTRACT (an eval benchmark
    * — thousands of rows, not a corpus) and broadcasts exactly like
    * [[bruteTopK]]'s query side; the corpus pays ONE scan; the per-vector
    * argmax is a rank window partitioned on the corpus id (WindowGroupLimit
    * cuts to 1 map-side; the exchange carries corpus × |eval| SKINNY
    * (id, eid, cosine) rows, never embeddings). Deterministic: round-6
    * cosines, (cosine DESC, eval id ASC) tie-break, threshold compared on
    * the same literal the oracle uses.
    *
    * Output: (idCol, nearest_eval_id, max_cosine, contaminated). */
  def semanticDecontaminate(corpus: DataFrame, evalSet: DataFrame,
                            idCol: String = "vec_id",
                            embCol: String = "embedding",
                            tau: Double = 0.2): DataFrame = {
    // excludeSelf = false: eval ids and corpus ids are DIFFERENT id
    // spaces — every corpus × eval pair is compared, including id-equal
    // ones (the likeliest exact-copy leak shares content AND often id
    // provenance; round-19 ADVICE found the old shared-pairs() path
    // silently skipped those comparisons).
    val p = pairs(corpus, evalSet, idCol, embCol, excludeSelf = false)
    val w = Window.partitionBy("neighbor_id")
      .orderBy(F.col("cosine").desc, F.col("query_id").asc)
    p.withColumn("rn", F.row_number().over(w))
      .filter(F.col("rn") === 1)
      .select(F.col("neighbor_id").as(idCol),
        F.col("query_id").as("nearest_eval_id"),
        F.col("cosine").as("max_cosine"),
        (F.col("cosine") >= tau).as("contaminated"))
  }

  /** Matryoshka-truncated retrieval (Kusupati et al. NeurIPS 2022, MRL):
    * score with only the FIRST `dims` coordinates — cosine over the
    * prefix IS truncate+renormalize, so nothing is materialized — the
    * published read-less/shuffle-less serving mode for
    * matryoshka-trained embeddings (a 64→16 cut reads a quarter of the
    * vector bytes; with MRL-trained vectors recall stays near full —
    * AnnRecallSpec measures the floor on these untrained gate vectors).
    * Same exact window top-k as [[bruteTopK]]; `dims` = full width is
    * bit-identical to it. */
  def mrlTopK(corpus: DataFrame, queries: DataFrame, dims: Int,
              idCol: String = "vec_id", embCol: String = "embedding",
              k: Int = 5): DataFrame = {
    require(dims >= 1, s"dims must be >= 1, got $dims")
    def cut(df: DataFrame) = df.withColumn(embCol, F.slice(F.col(embCol), 1, dims))
    bruteTopK(cut(corpus), cut(queries), idCol, embCol, k)
  }

  /** Margin-based parallel-pair mining (Artetxe & Schwenk ACL 2019, the
    * LASER/CCMatrix bitext-mining scorer): for each source vector, its
    * best target by the RATIO margin — cos(x,y) divided by the mean of
    * the two sides' average-kNN cosines — kept above `threshold`. The
    * margin is the published fix for cosine's hubness failure: a "hub"
    * target that is everyone's near-neighbor has a high kNN average,
    * which cancels its raw cosine; an exclusive match keeps its full
    * ratio (spec pins a hub geometry).
    *
    * Shape: the source batch broadcasts against the target corpus (the
    * [[bruteTopK]] scan), margins are evaluated on each source's k-NN
    * candidate list, and the target-side averages are computed within
    * the batch's score table — the batch-local approximation mining
    * always runs under (at 100 TB the candidate lists come from the IVF
    * /JL tiers instead of the brute scan; the scorer is unchanged).
    * Averages sum in DECIMAL (order-free) and every double op shares
    * its expression text with the oracle — mined pairs AND margin
    * doubles are hash-exact. */
  def marginMine(a: DataFrame, b: DataFrame, idCol: String = "vec_id",
                 embCol: String = "embedding", k: Int = 8,
                 threshold: Double = 1.05): DataFrame = {
    val q = a.select(F.col(idCol).as("src_id"), F.col(embCol).as("q_emb"),
      normCol(F.col(embCol)).as("q_norm"))
    val scored = b
      .select(F.col(idCol).as("tgt_id"), F.col(embCol).as("c_emb"),
        normCol(F.col(embCol)).as("c_norm"))
      .join(F.broadcast(q))
      .select(F.col("src_id"), F.col("tgt_id"),
        F.round(dotF(F.col("q_emb"), F.col("c_emb")) /
          (F.col("q_norm") * F.col("c_norm")), 6).as("cosine"))
    val wX = Window.partitionBy("src_id").orderBy(F.col("cosine").desc, F.col("tgt_id").asc)
    val wY = Window.partitionBy("tgt_id").orderBy(F.col("cosine").desc, F.col("src_id").asc)
    val xk = scored.withColumn("rx", F.row_number().over(wX)).filter(F.col("rx") <= k)
    val yk = scored.withColumn("ry", F.row_number().over(wY)).filter(F.col("ry") <= k)
    def knnAvg(df: DataFrame, key: String, out: String) =
      df.groupBy(key).agg(F.round(
        F.sum(F.col("cosine").cast("decimal(38,18)")).cast("double") /
          F.count(F.lit(1)).cast("double"), 6).as(out))
    val wM = Window.partitionBy("src_id").orderBy(F.col("margin_score").desc, F.col("tgt_id").asc)
    xk.select("src_id", "tgt_id", "cosine")
      .join(knnAvg(xk, "src_id", "avg_src"), Seq("src_id"))
      .join(knnAvg(yk, "tgt_id", "avg_tgt"), Seq("tgt_id"))
      .withColumn("margin_score", F.round(F.col("cosine") /
        ((F.col("avg_src") + F.col("avg_tgt")) / F.lit(2.0)), 6))
      .withColumn("rm", F.row_number().over(wM))
      .filter(F.col("rm") === 1 && F.col("margin_score") >= threshold)
      .select("src_id", "tgt_id", "cosine", "margin_score")
  }

  /** JL-accelerated exact top-k ([[graft.functions.VectorFunctions
    * .jlProject]] CONSUMED): score the corpus against each query in the
    * 16-dim projected space first (a 4× cheaper distance than the raw
    * 64-dim dot), keep the `rerank` nearest by JL distance, and compute
    * exact cosines only on that cut — the classic
    * project-shortlist-rerank ANN recipe, here with a matrix-free
    * deterministic projection so the SHORTLIST itself is reproducible in
    * any engine (the oracle replays coarse ranking AND rerank
    * bit-for-bit). Same broadcast-queries scan shape as [[bruteTopK]];
    * the rank windows run on bounded frames (corpus × queries slim rows,
    * then queries × rerank). */
  def jlTopK(corpus: DataFrame, queries: DataFrame, idCol: String = "vec_id",
             embCol: String = "embedding", k: Int = 5, rerank: Int = 100,
             jlK: Int = 16, dim: Int = 64): DataFrame = {
    require(rerank >= k, s"rerank must be >= k, got $rerank < $k")
    // The TRUTH metric is cosine, so the coarse ranking must live on the
    // unit sphere: project the raw vector, then scale by 1/‖e‖
    // (jl(e)/‖e‖ = jl(e/‖e‖) by linearity — and this operand order is
    // what the oracle replays). Euclidean-JL over unnormalized vectors
    // ranks by magnitude as much as by angle and the shortlist misses
    // true cosine neighbors (measured recall 0.48 → 0.9+ normalized).
    val proj = (e: Column) => {
      val nrmE = normCol(e)
      F.transform(VectorFunctions.jlProject(e, jlK, dim), v => v / nrmE)
    }
    val c = corpus.select(F.col(idCol).as("neighbor_id"),
      F.col(embCol).as("c_emb"), proj(F.col(embCol)).as("cy"))
    val q = queries.select(F.col(idCol).as("query_id"),
      F.col(embCol).as("q_emb"), proj(F.col(embCol)).as("qy"))
    // squared JL distance: left fold, the portable-dot order (mirrors the
    // oracle's list_sum fold exactly)
    val jd = F.aggregate(
      F.zip_with(F.col("qy"), F.col("cy"), (a, b) => (a - b) * (a - b)),
      F.lit(0.0), (acc, v) => acc + v)
    val wJl = Window.partitionBy("query_id")
      .orderBy(F.col("jl_d2").asc, F.col("neighbor_id").asc)
    val cand = c.join(F.broadcast(q), F.col("neighbor_id") =!= F.col("query_id"))
      .select(F.col("query_id"), F.col("neighbor_id"),
        F.col("q_emb"), F.col("c_emb"), jd.as("jl_d2"))
      .withColumn("_jr", F.row_number().over(wJl))
      .filter(F.col("_jr") <= rerank)
    val w = Window.partitionBy("query_id")
      .orderBy(F.col("cosine").desc, F.col("neighbor_id").asc)
    cand
      .select(F.col("query_id"), F.col("neighbor_id"),
        F.round(dotF(F.col("q_emb"), F.col("c_emb")) /
          (normCol(F.col("q_emb")) * normCol(F.col("c_emb"))), 6).as("cosine"))
      .withColumn("rank", F.row_number().over(w))
      .filter(F.col("rank") <= k)
      .select(F.col("query_id"), F.col("rank").cast("long").as("rnk"),
        F.col("neighbor_id"), F.col("cosine"))
  }

  /** Sign-bit binary ANN (the 1-bit quantization tier below SQ8/PQ —
    * Charikar's SimHash bound makes sign-Hamming a cosine proxy): coarse
    * ranking = the number of coordinates whose SIGNS disagree (exactly
    * the Hamming distance between the vectors' packed sign words; a
    * production index stores dim/64 longs — 32× smaller than float32 —
    * and XOR-popcounts them, which this plan shape serves unchanged),
    * then exact cosine only on the `rerank` cut. Same
    * broadcast-queries scan + bounded rank windows as [[jlTopK]];
    * deterministic, so shortlist AND rerank replay in the oracle. */
  def signHammingTopK(corpus: DataFrame, queries: DataFrame,
                      idCol: String = "vec_id", embCol: String = "embedding",
                      k: Int = 5, rerank: Int = 64): DataFrame = {
    require(rerank >= k, s"rerank must be >= k, got $rerank < $k")
    val c = corpus.select(F.col(idCol).as("neighbor_id"), F.col(embCol).as("c_emb"))
    val q = queries.select(F.col(idCol).as("query_id"), F.col(embCol).as("q_emb"))
    val ham = F.aggregate(
      F.zip_with(F.col("q_emb"), F.col("c_emb"),
        (a, b) => F.when((a > 0) =!= (b > 0), 1L).otherwise(0L)),
      F.lit(0L), (acc, v) => acc + v)
    val wH = Window.partitionBy("query_id")
      .orderBy(F.col("hamming").asc, F.col("neighbor_id").asc)
    val cand = c.join(F.broadcast(q), F.col("neighbor_id") =!= F.col("query_id"))
      .select(F.col("query_id"), F.col("neighbor_id"),
        F.col("q_emb"), F.col("c_emb"), ham.as("hamming"))
      .withColumn("_hr", F.row_number().over(wH))
      .filter(F.col("_hr") <= rerank)
    val w = Window.partitionBy("query_id")
      .orderBy(F.col("cosine").desc, F.col("neighbor_id").asc)
    cand
      .select(F.col("query_id"), F.col("neighbor_id"),
        F.round(dotF(F.col("q_emb"), F.col("c_emb")) /
          (normCol(F.col("q_emb")) * normCol(F.col("c_emb"))), 6).as("cosine"))
      .withColumn("rank", F.row_number().over(w))
      .filter(F.col("rank") <= k)
      .select(F.col("query_id"), F.col("rank").cast("long").as("rnk"),
        F.col("neighbor_id"), F.col("cosine"))
  }

  /** Multi-table LSH ANN: `tables` independent `bits`-bit hyperplane
    * signatures per vector; a corpus row is a candidate for a query iff
    * their signatures match in ANY table. The bucket join carries ids only
    * (embeddings are re-joined for the rerank), so the LSH fan-out shuffles
    * `tables × |corpus|` slim rows — never all-pairs, never wide rows. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String = "vec_id",
              embCol: String = "embedding", k: Int = 5, bits: Int = 8,
              tables: Int = 4, dim: Int = 64): DataFrame = {
    val sigs = (e: Column) => VectorFunctions.lshTableSignatures(e, bits, tables, dim)
    val cs = corpus.select(
      F.col(idCol).as("neighbor_id"),
      F.posexplode(sigs(F.col(embCol)))).toDF("neighbor_id", "tbl", "sig")
    val qsig = queries.select(
      F.col(idCol).as("query_id"),
      F.posexplode(sigs(F.col(embCol)))).toDF("query_id", "tbl", "sig")
    val cand = cs.join(F.broadcast(qsig), Seq("tbl", "sig"))
      .filter(F.col("neighbor_id") =!= F.col("query_id"))
      .select("query_id", "neighbor_id")
      .distinct()
    val w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc, F.col("neighbor_id").asc)
    cand
      .join(corpus.select(F.col(idCol).as("neighbor_id"), F.col(embCol).as("c_emb"),
        normCol(F.col(embCol)).as("c_norm")), Seq("neighbor_id"))
      .join(F.broadcast(queries.select(F.col(idCol).as("query_id"), F.col(embCol).as("q_emb"),
        normCol(F.col(embCol)).as("q_norm"))), Seq("query_id"))
      .select(F.col("query_id"), F.col("neighbor_id"),
        F.round(dotF(F.col("q_emb"), F.col("c_emb")) /
          (F.col("q_norm") * F.col("c_norm")), 6).as("cosine"))
      .withColumn("rank", F.row_number().over(w))
      .filter(F.col("rank") <= k)
      .select(F.col("query_id"), F.col("rank").cast("long").as("rnk"),
        F.col("neighbor_id"), F.col("cosine"))
  }

  /** Element-type-tolerant fetch of a sampled (id, embedding) row:
    * embeddings may arrive as array<float> (the parquet tables) or
    * array<double> (derived columns) — both map to the identical double
    * sequence (float→double widening is exact). A null element has no
    * training value; the error names the row's id and the position. */
  private def rowToDoubles(r: org.apache.spark.sql.Row): Array[Double] =
    r.getSeq[Any](1).iterator.zipWithIndex.map {
      case (f: java.lang.Float, _)  => f.doubleValue
      case (d: java.lang.Double, _) => d.doubleValue
      case (null, i) => throw new IllegalArgumentException(
        s"embedding of id ${r.getLong(0)} has a null element at position $i")
      case (x, _) => throw new IllegalArgumentException(
        s"embedding element must be float or double, got ${x.getClass}")
    }.toArray

  /** Deterministic sampled k-means (Lloyd) for the IVF coarse quantizer.
    *
    * Replicability contract (the whole point of this formulation): every
    * arithmetic step is a LEFT FOLD over a deterministic order, so any
    * engine reproduces the centroids bit-for-bit —
    *  - sample = vectors with id < `sampleN`, processed in id order
    *    (a pushed-down range predicate, not a random() sample);
    *  - init: centroid j = sample vector j (cast to double, exact);
    *  - assignment: argmax_j 2·(v·c_j) − |c_j|², dots left-folded in
    *    element order, ties → lowest j;
    *  - update: per-dimension mean, members summed in id order, then one
    *    double division by the member count; an empty cell keeps its
    *    previous centroid.
    * The SQL oracle mirrors this with list_sum(list(x ORDER BY id)) —
    * DuckDB's list_sum is the same sequential fold (verified in
    * tools/baseline notes + the gate's hash match).
    *
    * The sample is a bounded driver collect (`sampleN` rows — an
    * index-build step, not a data-sized loop); at 100 TB you'd raise
    * `sampleN`, never scan the corpus: training cost is O(sampleN · cells
    * · dim · iters) on one node, independent of corpus size.
    *
    * PRECONDITION: `idCol` must hold ids dense from 0 (0,1,2,…) — the
    * centroid seed for cell j is the row with id j, matching the SQL
    * oracle's `WHERE <id> = j` seed, and the method `require`-fails fast
    * on sparse or offset id spaces rather than silently training on a
    * different seed than the oracle. Arbitrary id spaces: pass a
    * pre-densified projection (`row_number() - 1`). Applies transitively
    * to [[graft.ann.Pq.train]] / [[graft.ann.Pq.topK]]. */
  def trainCentroids(corpus: DataFrame, idCol: String = "vec_id",
                     embCol: String = "embedding", cells: Int = 16,
                     sampleN: Int = 512, iters: Int = 2): Array[Array[Double]] =
    trainCentroidsFromSample(
      collectDenseSample(corpus, idCol, embCol, sampleN, cells), cells, iters)

  /** The bounded training collect shared by every trainer: the first
    * `sampleN` vectors by id, dense-id `require`-checked. ONE job — PQ
    * slices this per subspace on the driver instead of re-collecting. */
  private[ann] def collectDenseSample(corpus: DataFrame, idCol: String,
                                      embCol: String, sampleN: Int,
                                      cells: Int): Array[Array[Double]] = {
    // Sorted on the DRIVER: a distributed orderBy over <= sampleN rows
    // would cost a range-partition sampling job plus a sort stage per
    // training call; the collected array is identical either way.
    val sampled = corpus
      .filter(F.col(idCol) < sampleN)
      .select(F.col(idCol).cast("long"), F.col(embCol))
      .collect()
      .sortBy(_.getLong(0))
    val sample: Array[Array[Double]] = sampled.map(rowToDoubles)
    require(sample.length >= cells,
      s"IVF training needs >= $cells sample vectors, got ${sample.length}")
    // The SQL oracle seeds centroid j from the row WHERE <id> = j; we seed
    // positionally from sample(j). These coincide only when ids are dense
    // from 0 — enforce it rather than silently diverge from the oracle.
    (0 until cells).foreach { j =>
      require(sampled(j).getLong(0) == j.toLong,
        s"IVF training requires dense ids 0..${cells - 1}; position $j has id ${sampled(j).getLong(0)}")
    }
    sample
  }

  /** Driver-side deterministic Lloyd over an in-memory sample (the
    * corpus-size-independent half of [[trainCentroids]]). */
  private[ann] def trainCentroidsFromSample(sample: Array[Array[Double]],
                                            cells: Int,
                                            iters: Int): Array[Array[Double]] = {
    val dim = sample(0).length
    var cent: Array[Array[Double]] = Array.tabulate(cells)(j => sample(j).clone())
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    for (_ <- 1 to iters) {
      val c2 = cent.map(c => dot(c, c))
      val sums = Array.fill(cells)(new Array[Double](dim))
      val counts = new Array[Long](cells)
      sample.foreach { v =>
        var best = 0
        var bs = Double.NegativeInfinity
        var j = 0
        while (j < cells) {
          val s = 2.0 * dot(v, cent(j)) - c2(j)
          if (s > bs) { best = j; bs = s } // strict: ties keep the lowest j
          j += 1
        }
        val acc = sums(best)
        var d = 0
        while (d < dim) { acc(d) += v(d); d += 1 }
        counts(best) += 1
      }
      cent = Array.tabulate(cells) { j =>
        if (counts(j) == 0) cent(j)
        else {
          val n = counts(j).toDouble
          Array.tabulate(dim)(d => sums(j)(d) / n)
        }
      }
    }
    cent
  }

  /** IVF-style ANN: coarse-quantize the corpus into `cells` Voronoi cells
    * and probe only each query's `probes` nearest cells.
    *
    * Centroids come from [[trainCentroids]] — deterministic sampled
    * k-means, bit-replicable by the SQL oracle. They ship to executors as
    * plan-time constant arrays, so cell assignment is `cells` codegen dot
    * products per row, one corpus scan. Candidate generation is an
    * equi-join on the cell id — bucket-bounded, never all-pairs. */
  /** Score of a vector against every trained centroid: 2·(v·c) − |c|²
    * per cell (argmax ⇔ nearest centroid in L2; the |v|² term is
    * assignment-invariant and dropped). Centroids ride to executors
    * inside ONE native [[graft.functions.expressions.CentroidScoresExpr]]
    * (reference-object matrix + pre-compiled loop — see its scaladoc for
    * why this beats `cells` inlined literal dots) — still a
    * broadcast-constant scan, no join, no shuffle. */
  private def centroidScores(centroids: Array[(Int, Seq[Double])], e: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.expressions.CentroidScoresExpr(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(e),
        centroids.map(_._2.toArray)))

  /** Nearest-centroid id; first max ⇔ lowest id on ties, matching the
    * oracle's `ORDER BY sc DESC, cid ASC`. */
  private def nearestCentroid(centroids: Array[(Int, Seq[Double])], e: Column): Column = {
    val sc = centroidScores(centroids, e)
    (F.array_position(sc, F.array_max(sc)) - 1L).cast("int")
  }

  /** Embedding k-means clustering — the corpus topic-balancing / data-mixing
    * primitive (cluster, inspect sizes, resample per cluster): the same
    * deterministic Lloyd training as IVF (bounded driver sample — an index
    * build, corpus-size-independent), then ONE broadcast-centroid scan
    * assigns every vector to its nearest centroid. No shuffle anywhere:
    * at 100 TB this is a pure map over the corpus with `clusters` dot
    * products per row. Output: (idCol, cluster_id). */
  def clusterKmeans(corpus: DataFrame, idCol: String = "vec_id",
                    embCol: String = "embedding", clusters: Int = 16,
                    sampleN: Int = 512, iters: Int = 2,
                    carry: Seq[String] = Nil): DataFrame = {
    val centroids: Array[(Int, Seq[Double])] =
      trainCentroids(corpus, idCol, embCol, clusters, sampleN, iters)
        .zipWithIndex.map { case (c, i) => (i, c.toSeq) }
    // `carry` rides extra columns (e.g. the embedding itself, for a
    // downstream within-cell pairing) through the same single scan rather
    // than forcing callers into a corpus self-join to get them back.
    graft.Spread(corpus)
      .select(F.col(idCol) +: carry.map(F.col) :+
        nearestCentroid(centroids, F.col(embCol)).as("cluster_id"): _*)
  }

  /** Embedding-space OOD screen: cluster-relative robust outliers —
    * assign each vector to its k-means cell, take the squared distance
    * to the assigned centroid (`‖e‖² − sc`, with `sc = 2·dot − ‖c‖²`
    * the assignment affinity itself), and flag vectors whose distance
    * is a median/MAD outlier WITHIN their own cell
    * ([[graft.operators.Profile.robustOutliers]] — per-cell medians, so
    * a tight cluster's anomaly is not excused by a loose cluster's
    * spread). The embedding-corpus screen for mislabeled/corrupted/
    * off-distribution vectors a global distance threshold misses.
    *
    * Scale shape: centroid training is the bounded driver sample; the
    * assignment+distance is ONE broadcast-centroid scan; the outlier
    * fold is robustOutliers' two cells-keyed rank reductions.
    *
    * Output: robustOutliers' shape over (idCol, cluster_id, d2). */
  def embeddingOutliers(corpus: DataFrame, idCol: String = "vec_id",
                        embCol: String = "embedding", clusters: Int = 16,
                        sampleN: Int = 512, iters: Int = 2,
                        cutoff: Double = 3.5): DataFrame = {
    val centroids: Array[(Int, Seq[Double])] =
      trainCentroids(corpus, idCol, embCol, clusters, sampleN, iters)
        .zipWithIndex.map { case (c, i) => (i, c.toSeq) }
    val sc = centroidScores(centroids, F.col(embCol))
    val assigned = graft.Spread(corpus).select(
      F.col(idCol),
      (F.array_position(sc, F.array_max(sc)) - 1L).cast("int").as("cluster_id"),
      (dotF(F.col(embCol), F.col(embCol)) - F.array_max(sc)).as("d2"))
    graft.operators.Profile.robustOutliers(
      assigned, groupCol = "cluster_id", valueCol = "d2",
      idCol = idCol, cutoff = cutoff)
  }

  /** Prototypicality-based data PRUNING (Sorscher et al. 2022, "Beyond
    * neural scaling laws" — the SSL-prototypes metric): cluster the
    * embedding corpus with the deterministic Lloyd trainer, score every
    * vector by its affinity to its OWN centroid (`2·dot − ‖c‖²`, the
    * assignment score — monotone in −‖e−c‖² at fixed `e`), and per
    * cluster KEEP the `keepFraction` LEAST prototypical (hardest) rows —
    * the published rule for large datasets, where pruning easy/redundant
    * examples beats random subsetting. `hardest = false` flips to
    * keep-most-prototypical (their small-dataset rule).
    *
    * Scale shape: centroid training is the bounded driver sample every
    * index build pays (corpus-size-independent); scoring is ONE
    * broadcast-centroid scan (no join); the per-cluster rank is the only
    * exchange, partitioned by cluster id. Scores are the same expression
    * the assignment itself computes, so the DuckDB oracle reproduces
    * selection AND scores bit-for-bit from its Lloyd CTEs.
    *
    * Output: (idCol, cluster_id, proto_score, n_cluster) for survivors. */
  def prunePrototypes(corpus: DataFrame, idCol: String = "vec_id",
                      embCol: String = "embedding", clusters: Int = 16,
                      keepFraction: Double = 0.5, hardest: Boolean = true,
                      sampleN: Int = 512, iters: Int = 2,
                      uniformSample: Boolean = false): DataFrame = {
    require(keepFraction > 0.0 && keepFraction <= 1.0,
      s"keepFraction must be in (0, 1], got $keepFraction")
    // uniformSample: the md5-rank training collect for ARBITRARY-id
    // corpora (a dedup-survivor subset has holes, so the dense-id head
    // rule can neither seed positionally nor even pass its own check) —
    // the [[ivfReindex]] rule, same SQL-replicable contract.
    val sample =
      if (uniformSample) collectUniformSample(corpus, idCol, embCol, sampleN, clusters)
      else collectDenseSample(corpus, idCol, embCol, sampleN, clusters)
    val centroids: Array[(Int, Seq[Double])] =
      trainCentroidsFromSample(sample, clusters, iters)
        .zipWithIndex.map { case (c, i) => (i, c.toSeq) }
    val scores = centroidScores(centroids, F.col(embCol))
    val scored = graft.Spread(corpus)
      .select(F.col(idCol), scores.as("_scs"))
      .select(F.col(idCol),
        (F.array_position(F.col("_scs"), F.array_max(F.col("_scs"))) - 1L)
          .cast("int").as("cluster_id"),
        F.array_max(F.col("_scs")).as("proto_score"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(F.col("cluster_id"))
    val order = if (hardest) F.col("proto_score").asc else F.col("proto_score").desc
    scored
      .withColumn("_rn", F.row_number().over(w.orderBy(order, F.col(idCol).asc)))
      .withColumn("n_cluster", F.count(F.lit(1)).over(w).cast("long"))
      .filter(F.col("_rn") <= F.ceil(F.lit(keepFraction) * F.col("n_cluster")))
      .select(F.col(idCol), F.col("cluster_id"), F.col("proto_score"), F.col("n_cluster"))
  }

  /** Scalar int8 quantization of the embedding corpus (the FAISS SQ8
    * storage tier — 4× smaller vectors than float32, the standard
    * at-rest format when PQ's (row 56) lossier 16× is too aggressive):
    * per-DIMENSION corpus min/max (trained statistics — one 64-key
    * aggregation, never a collect), then each value maps to
    * floor((v−mn)/(mx−mn)·255 + 0.5) ∈ [0, 255]. `floor(x + 0.5)` and
    * not a round(): IEEE round-half-even vs half-up diverges across
    * engines on exact .5 boundaries, floor agrees everywhere — the
    * dataConstrainedPlan cast lesson. A constant dimension (mx = mn)
    * codes to 0 and reconstructs exactly.
    *
    * Scale shape: the stats are a 64-row one-exchange aggregation folded
    * to one broadcast row (arrays indexed by dim); coding is a
    * zero-shuffle scan of nested zip_withs. Output: (idCol, sq8_codes,
    * max_abs_err) — the per-vector reconstruction-error report a storage
    * migration is judged by. */
  def sq8Quantize(corpus: DataFrame, idCol: String = "vec_id",
                  embCol: String = "embedding"): DataFrame = {
    val stats = graft.Spread(corpus)
      .select(F.posexplode(F.col(embCol)))
      .toDF("d", "v")
      .groupBy(F.col("d"))
      .agg(F.min(F.col("v").cast("double")).as("mn"),
        F.max(F.col("v").cast("double")).as("mx"))
    val statRow = stats.agg(
      F.transform(
        F.array_sort(F.collect_list(F.struct(F.col("d"), F.col("mn")))),
        s => s.getField("mn")).as("mns"),
      F.transform(
        F.array_sort(F.collect_list(F.struct(F.col("d"), F.col("mx")))),
        s => s.getField("mx")).as("mxs"))
    val vm = F.zip_with(F.col(embCol), F.col("mns"),
      (v, mn) => F.struct(v.cast("double").as("v"), mn.as("mn")))
    val codes = F.zip_with(vm, F.col("mxs"), (s, mx) =>
      F.when(mx === s.getField("mn"), F.lit(0L))
        .otherwise(F.floor((s.getField("v") - s.getField("mn")) /
          (mx - s.getField("mn")) * F.lit(255.0) + F.lit(0.5)))
        .cast("int"))
    val errs = F.zip_with(
      F.zip_with(F.col(embCol), F.col("mns"),
        (v, mn) => F.struct(v.cast("double").as("v"), mn.as("mn"))),
      F.zip_with(F.col("sq8_codes"), F.col("mxs"),
        (c, mx) => F.struct(c.as("c"), mx.as("mx"))),
      (a, b) => F.abs(
        (a.getField("mn") + b.getField("c").cast("double") / F.lit(255.0) *
          (b.getField("mx") - a.getField("mn"))) - a.getField("v")))
    graft.Spread(corpus)
      .crossJoin(F.broadcast(statRow))
      .select(F.col(idCol), F.col(embCol), F.col("mns"), F.col("mxs"),
        codes.as("sq8_codes"))
      .select(F.col(idCol), F.col("sq8_codes"),
        F.round(F.array_max(errs), 6).as("max_abs_err"))
  }

  /** In-context pretraining document ORDER (Shi et al. 2023, "In-Context
    * Pretraining: Language Modeling Beyond Document Boundaries"): related
    * documents should be ADJACENT in the training stream so each context
    * window spans coherent content instead of random concatenation. The
    * paper's greedy kNN path is inherently sequential; the scalable
    * approximation — cluster, then order within clusters — is what this
    * computes: deterministic Lloyd cells group related docs, within each
    * cell docs run most-central-first (centroid affinity DESC — the
    * cluster's topic core leads, its periphery trails into the next
    * cell), and the global position is the distributed range-partition
    * rank ([[graft.operators.GlobalIndex.appendIndex]] — NO
    * single-partition global window at corpus size).
    *
    * Output: (idCol, cluster_id, affinity, train_pos) with train_pos a
    * dense 0..N-1 total order (ties broken by id — partitioning-free).
    * Feed train_pos to the packing/sharding tier (rows 63/64/107) as the
    * read order. */
  def orderInContext(corpus: DataFrame, idCol: String = "vec_id",
                     embCol: String = "embedding", clusters: Int = 16,
                     sampleN: Int = 512, iters: Int = 2): DataFrame = {
    val centroids: Array[(Int, Seq[Double])] =
      trainCentroids(corpus, idCol, embCol, clusters, sampleN, iters)
        .zipWithIndex.map { case (c, i) => (i, c.toSeq) }
    val scores = centroidScores(centroids, F.col(embCol))
    val scored = graft.Spread(corpus)
      .select(F.col(idCol), scores.as("_scs"))
      .select(F.col(idCol),
        (F.array_position(F.col("_scs"), F.array_max(F.col("_scs"))) - 1L)
          .cast("int").as("cluster_id"),
        F.array_max(F.col("_scs")).as("affinity"))
    graft.operators.GlobalIndex.appendIndex(
      scored,
      Seq(F.col("cluster_id").asc, F.col("affinity").desc, F.col(idCol).asc),
      "train_pos")
  }

  // top-`probes` cell ids per query: sort (score, idx) pairs descending.
  // The idx is NEGATED inside the sort struct so the reversed ascending
  // sort yields (score DESC, idx ASC) — the same lowest-id tie-break as
  // nearestCentroid and the oracle's `ORDER BY sc DESC, cid ASC`; a raw
  // reverse would tie-break HIGHEST-id and could probe a different cell
  // set than the one a tied corpus vector was assigned to.
  private def probeCellsCol(centroids: Array[(Int, Seq[Double])], e: Column,
                            probes: Int): Column = {
    val sc = centroidScores(centroids, e)
    val zipped = F.zip_with(
      sc, F.sequence(F.lit(0), F.lit(centroids.length - 1)),
      (s, i) => F.struct(s.as("s"), (-i).as("ni")))
    F.transform(
      F.slice(F.reverse(F.array_sort(zipped)), 1, probes),
      p => -p.getField("ni"))
  }

  /** Norm column: sqrt of the self-dot. Placed in a side's own
    * projection (below the join) it is computed ONCE per row, and the
    * scoring tail does a single dot per candidate pair instead of three —
    * bit-identical to the per-pair formulation (same ops, same operand
    * order). */
  private[ann] def normCol(e: Column): Column = F.sqrt(dotF(e, e))

  /** The shared IVF scoring tail: cell-equi-join the corpus side against
    * the broadcast probe set, exact cosine, per-query top-k — ONE
    * implementation so the in-memory and persisted-index paths are
    * expression-identical (and therefore bit-identical). Both sides must
    * arrive with their norm precomputed (`c_norm` / `q_norm`, via
    * [[normCol]]): the projections sit below the join, so each norm is
    * one dot per ROW, not one per candidate pair. */
  private def ivfScore(c: DataFrame, q: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc, F.col("neighbor_id").asc)
    c.join(F.broadcast(q), Seq("cell"))
      .filter(F.col("neighbor_id") =!= F.col("query_id"))
      .select(F.col("query_id"), F.col("neighbor_id"),
        F.round(dotF(F.col("q_emb"), F.col("c_emb")) /
          (F.col("q_norm") * F.col("c_norm")), 6).as("cosine"))
      .withColumn("rank", F.row_number().over(w))
      .filter(F.col("rank") <= k)
      .select(F.col("query_id"), F.col("rank").cast("long").as("rnk"),
        F.col("neighbor_id"), F.col("cosine"))
  }

  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String = "vec_id",
              embCol: String = "embedding", k: Int = 5, cells: Int = 16,
              probes: Int = 4, sampleN: Int = 512,
              iters: Int = 2): DataFrame = {
    val centroids: Array[(Int, Seq[Double])] =
      trainCentroids(corpus, idCol, embCol, cells, sampleN, iters)
        .zipWithIndex.map { case (c, i) => (i, c.toSeq) }
    // Spread the corpus scan: cell assignment is `cells` dot products per
    // row (~0.75s CPU single-task on the one-split sf0.1 scan, measured
    // round 9); a no-op at scale where splits >> cores.
    val c = graft.Spread(corpus)
      .select(F.col(idCol).as("neighbor_id"), F.col(embCol).as("c_emb"),
        normCol(F.col(embCol)).as("c_norm"),
        nearestCentroid(centroids, F.col(embCol)).as("cell"))
    val q = queries.select(F.col(idCol).as("query_id"), F.col(embCol).as("q_emb"),
      normCol(F.col(embCol)).as("q_norm"),
      F.explode(probeCellsCol(centroids, F.col(embCol), probes)).as("cell"))
    ivfScore(c, q, k)
  }

  /** PERSIST an IVF index: train the coarse quantizer, assign every
    * vector to its cell, and write the corpus PARTITIONED BY cell (one
    * directory per cell) with the centroid table alongside — the index
    * lifecycle step a serving deployment needs (the [[graft.dedup.Dedup.indexInit]]
    * analogue for vectors). Probes then read ONLY the probed cells'
    * files via partition pruning: at 100 TB, a `probes`/`cells` fraction
    * of the index per query batch, not a full scan. */
  def ivfIndexInit(corpus: DataFrame, path: String, idCol: String = "vec_id",
                   embCol: String = "embedding", cells: Int = 16,
                   sampleN: Int = 512, iters: Int = 2): Unit = {
    val centroids: Array[(Int, Seq[Double])] =
      trainCentroids(corpus, idCol, embCol, cells, sampleN, iters)
        .zipWithIndex.map { case (c, i) => (i, c.toSeq) }
    writeIndex(corpus, centroids, path, idCol, embCol)
  }

  /** The shared index writer (init and [[ivfRequantize]]/[[ivfReindex]]):
    * centroid table, cell-partitioned data, and the per-cell TRAINING
    * SNAPSHOT stats ([[ivfDriftReport]]'s reference point).
    *
    * One file per cell (the r11 bucketed-write alignment): without the
    * cell repartition every upstream task writes a sliver into every
    * cell dir (~tasks x cells tiny files) and the partition-pruned
    * serve fans out into as many near-empty scan tasks — measured 32
    * tasks / ~50 files for a 6-cell probe at sf0.1. At real scale the
    * files-per-cell lever is this same repartition with a finer key. */
  private def writeIndex(corpus: DataFrame, centroids: Array[(Int, Seq[Double])],
                         path: String, idCol: String, embCol: String): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    centroids.toSeq.toDF("cid", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(path + "_centroids")
    graft.Spread(corpus)
      .select(F.col(idCol), F.col(embCol),
        nearestCentroid(centroids, F.col(embCol)).as("cell"))
      .repartition(F.col("cell"))
      .write.partitionBy("cell").mode("overwrite").parquet(path)
    // training-time per-cell snapshot (occupancy + mean assignment
    // score): the drift probe's reference. A separate tiny agg pass so
    // the index data schema stays (id, emb, cell) — serving reads are
    // untouched and the snapshot is one (cells)-row table.
    cellStats(corpus, centroids, embCol)
      .withColumnRenamed("n_vectors", "n_init")
      .withColumnRenamed("mean_score", "mean_score_init")
      .coalesce(1).write.mode("overwrite").parquet(path + "_stats")
  }

  /** Per-cell occupancy and mean ASSIGNMENT score (`2·dot − ‖c‖²`, the
    * quantizer's own objective) of `corpus` under `centroids` — the
    * health summary of a coarse quantizer over a data distribution. */
  private def cellStats(corpus: DataFrame, centroids: Array[(Int, Seq[Double])],
                        embCol: String): DataFrame =
    graft.Spread(corpus)
      .select(centroidScores(centroids, F.col(embCol)).as("_scs"))
      .select(
        (F.array_position(F.col("_scs"), F.array_max(F.col("_scs"))) - 1L)
          .cast("int").as("cell"),
        F.array_max(F.col("_scs")).as("_sc"))
      .groupBy(F.col("cell"))
      .agg(F.count(F.lit(1)).as("n_vectors"), F.avg(F.col("_sc")).as("mean_score"))

  /** Quantizer DRIFT probe — the lifecycle guard [[ivfIndexAppend]]'s
    * frozen-quantizer contract needs: per cell, the CURRENT occupancy and
    * mean assignment score of the index content vs the training-time
    * snapshot ([[writeIndex]]). Under distribution shift the arriving
    * vectors crowd a few ill-fitting cells (occupancy ratio spikes) with
    * poor affinity (mean score drops) — both visible here LONG before
    * recall decays silently. Read it after every append batch (it costs
    * one scan of the index + a cells-row join); alert on
    * `occupancy_ratio` or `score_drop` beyond deployment thresholds and
    * trigger [[ivfRequantize]].
    *
    * Output: (cell, n_now, n_init, occupancy_ratio, mean_score_now,
    * mean_score_init, score_drop); cells absent from one side read 0/null
    * (a cell newly crowded from emptiness is exactly the signal). */
  def ivfDriftReport(spark: org.apache.spark.sql.SparkSession, path: String,
                     embCol: String = "embedding"): DataFrame = {
    val stamp = centroidStamp(path)
    val centroids = loadCentroids(spark, path, stamp)
    val cur = spark.read.schema(indexSchema(spark, path, stamp)).parquet(path)
    // score each stored vector against its OWN stored cell's centroid
    // (assignment is persisted — no re-argmax needed)
    val now = cur
      .select(F.col("cell"),
        F.element_at(centroidScores(centroids, F.col(embCol)),
          F.col("cell") + 1).as("_sc"))
      .groupBy(F.col("cell"))
      .agg(F.count(F.lit(1)).as("n_now"), F.avg(F.col("_sc")).as("mean_score_now"))
    now.join(spark.read.parquet(path + "_stats"), Seq("cell"), "full_outer")
      .select(
        F.col("cell"),
        F.coalesce(F.col("n_now"), F.lit(0L)).as("n_now"),
        F.coalesce(F.col("n_init"), F.lit(0L)).as("n_init"),
        (F.coalesce(F.col("n_now"), F.lit(0L)).cast("double") /
          F.greatest(F.col("n_init").cast("double"), F.lit(1.0))).as("occupancy_ratio"),
        F.col("mean_score_now"), F.col("mean_score_init"),
        (F.col("mean_score_init") - F.col("mean_score_now")).as("score_drop"))
  }

  /** From-scratch IVF build over an ARBITRARY-id corpus — the training
    * sample is the bottom-`sampleN` rows by md5(id) (uniform over the
    * corpus, deterministic, partition-layout-free, and SQL-replicable:
    * `ROW_NUMBER() OVER (ORDER BY md5(id), id)`), re-indexed positionally
    * for seeding. [[ivfIndexInit]]'s dense-id rule can't retrain a LIVING
    * index (appended batches carry arbitrary id ranges, and a head-of-id
    * sample would never see the shifted data a retrain exists to adapt
    * to); this rule samples old and new content uniformly. */
  def ivfReindex(corpus: DataFrame, outPath: String, idCol: String = "vec_id",
                 embCol: String = "embedding", cells: Int = 16,
                 sampleN: Int = 512, iters: Int = 2): Unit = {
    val sample = collectUniformSample(corpus, idCol, embCol, sampleN, cells)
    val centroids: Array[(Int, Seq[Double])] =
      trainCentroidsFromSample(sample, cells, iters)
        .zipWithIndex.map { case (c, i) => (i, c.toSeq) }
    writeIndex(corpus, centroids, outPath, idCol, embCol)
  }

  /** [[ivfReindex]]'s md5-uniform bounded training collect, shared by
    * every trainer that must sample an ARBITRARY-id corpus (reindex,
    * survivor-subset pruning): bottom-`sampleN` rows by (md5(id), id) —
    * uniform, deterministic, partition-layout-free, SQL-replicable as
    * `ROW_NUMBER() OVER (ORDER BY md5(id), id)` — re-indexed positionally
    * for seeding. */
  private[ann] def collectUniformSample(corpus: DataFrame, idCol: String,
                                        embCol: String, sampleN: Int,
                                        cells: Int): Array[Array[Double]] = {
    val sampled = corpus
      .select(F.col(idCol).cast("long").as("_id"), F.col(embCol),
        F.md5(F.col(idCol).cast("string")).as("_h"))
      .orderBy(F.col("_h"), F.col("_id"))
      .limit(sampleN)
      .collect()
      .sortBy(r => (r.getString(2), r.getLong(0)))
    require(sampled.length >= cells,
      s"uniform-sample training needs >= $cells vectors, got ${sampled.length}")
    sampled.map(rowToDoubles)
  }

  /** REQUANTIZE a persisted index: retrain the coarse quantizer on the
    * index's CURRENT content ([[ivfReindex]]'s uniform md5 sample — old
    * and appended vectors alike) and rewrite every cell under the new
    * centroids at `outPath`. The answer to [[ivfDriftReport]] flagging
    * drift: [[ivfIndexAppend]] deliberately freezes the quantizer per
    * batch (comparable cell layout across appends), and this is the
    * deliberate, occasional rebalance that re-fits it — the
    * FAISS-practice retrain cycle. Serving from the result is bit-equal
    * to [[ivfReindex]] run directly on the union corpus (spec-pinned):
    * requantize(init + appends) ≡ from-scratch build on the same rows.
    * Writes to a NEW path (single-writer lifecycle: build, verify, then
    * swap the serving pointer — never rewrite under readers). */
  def ivfRequantize(spark: org.apache.spark.sql.SparkSession, path: String,
                    outPath: String, idCol: String = "vec_id",
                    embCol: String = "embedding", cells: Int = 16,
                    sampleN: Int = 512, iters: Int = 2): Unit = {
    val stamp = centroidStamp(path)
    val content = spark.read.schema(indexSchema(spark, path, stamp)).parquet(path)
      .select(F.col(idCol), F.col(embCol))
    ivfReindex(content, outPath, idCol, embCol, cells, sampleN, iters)
  }

  /** Driver-side quantizer cache for the serving/ingest loop: one entry
    * per index path, invalidated by the centroid table's file stamp
    * (name+len+mtime of every file — centroids are FROZEN after init, so
    * the stamp changes only on a re-init). A serving deployment holds the
    * quantizer in memory by definition; without this every
    * [[ivfTopKIndexed]]/[[ivfIndexAppend]] call paid a full Spark job of
    * pure scheduling constants to re-collect the same ≤`cells` rows
    * (measured: 3 driver round-trips per serve, BENCH r14 ratio 3.5). */
  private val quantizerCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Array[(Int, Seq[Double])])]()

  /** Index data schema, cached per (path, centroid stamp) alongside the
    * quantizer: the schema is fixed at init (same writer for every
    * append), so re-inferring it cost every serve a one-task footer-read
    * job of pure scheduling constants. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, org.apache.spark.sql.types.StructType)]()

  private def indexSchema(spark: org.apache.spark.sql.SparkSession,
                          path: String, stamp: String): org.apache.spark.sql.types.StructType =
    schemaCache.compute(path, (_, prev) =>
      if (prev != null && prev._1 == stamp) prev
      else (stamp, spark.read.parquet(path).schema)
    )._2

  private def centroidStamp(path: String): String = {
    val (fs, p) = graft.HadoopFs.get(path + "_centroids")
    fs.listStatus(p).filter(_.isFile).map(s =>
      s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
      .sorted.mkString(",")
  }

  private[graft] def loadCentroids(spark: org.apache.spark.sql.SparkSession,
                                   path: String): Array[(Int, Seq[Double])] =
    loadCentroids(spark, path, centroidStamp(path))

  private def loadCentroids(spark: org.apache.spark.sql.SparkSession,
                            path: String, stamp: String): Array[(Int, Seq[Double])] =
    quantizerCache.compute(path, (_, prev) =>
      if (prev != null && prev._1 == stamp) prev
      else (stamp, spark.read.parquet(path + "_centroids").collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1)))
        .sortBy(_._1))
    )._2

  /** Every data file currently in the partitioned index (relative to
    * `path`, cell dirs included) — the reconciliation unit of
    * [[ivfIndexAppend]]'s exactly-once protocol. Metadata-proportional:
    * the same listing class every table read already performs. */
  private def listIndexFiles(path: String): Set[String] = {
    val (fs, p) = graft.HadoopFs.get(path)
    if (!fs.exists(p)) Set.empty
    else {
      val base = fs.makeQualified(p).toString
      val it = fs.listFiles(p, true)
      val out = Set.newBuilder[String]
      while (it.hasNext) {
        val f = it.next()
        out += f.getPath.toString.stripPrefix(base).stripPrefix("/")
      }
      out.result()
    }
  }

  /** Append NEW vectors to a persisted [[ivfIndexInit]] index WITHOUT
    * retraining — the living-corpus lifecycle (the
    * [[graft.dedup.Dedup.incremental]] analogue for vectors): the coarse
    * quantizer is FROZEN (real deployments freeze it so cell layout,
    * probe sets, and recall stay comparable across appends; retraining
    * would silently re-shuffle every existing cell), the new batch is
    * assigned to its nearest existing centroid and appended to the
    * partitioned table. History is never re-read or re-written — the
    * write touches only the new batch's rows, so appending 1 GB to a
    * 100 TB index costs 1 GB of work. Serving ([[ivfTopKIndexed]]) is
    * unchanged: appended files land inside the same cell=N partitions
    * the partition-pruned read already probes.
    *
    * `prelistDir` (streaming ingest / any at-least-once caller): the
    * exactly-once reconciliation ledger for THIS batch. Before the first
    * append attempt the current index file listing is committed there
    * (driver-side text + `_SUCCESS`, no Spark job); a REPLAY of the same
    * batch (crash after the parquet append but before the caller's
    * commit marker) finds the committed prelist, deletes every index
    * file not on it — exactly the crashed attempt's orphans, since the
    * single-writer contract means nothing else appended — and re-appends
    * cleanly. This moves replay-safety from the serving path (which used
    * to pay a dedup exchange on EVERY serve) to the ingest path, where
    * it costs one file listing per batch and runs only on the rare
    * replay. Callers with their own crash story (a batch rebuild that
    * re-inits on failure) omit it.
    *
    * The ledger is strictly SINGLE-USE per batch: the caller MUST delete
    * it once its own commit marker lands (ivfIngestStream does). A
    * committed ledger that outlives its batch and is handed to a LATER
    * append — a batch-id collision after a checkpoint reset — would make
    * that append's "replay" branch delete every index file added since
    * the stale listing. */
  def ivfIndexAppend(newVectors: DataFrame, path: String,
                     idCol: String = "vec_id", embCol: String = "embedding",
                     prelistDir: Option[String] = None): Unit = {
    val spark = newVectors.sparkSession
    prelistDir.foreach { dir =>
      val (fs, marker) = graft.HadoopFs.get(s"$dir/_SUCCESS")
      if (fs.exists(marker)) {
        // replayed batch: remove the crashed attempt's orphan files
        val committed = {
          val in = fs.open(new org.apache.hadoop.fs.Path(s"$dir/prelist"))
          try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toSet
          finally in.close()
        }
        val (ifs, ip) = graft.HadoopFs.get(path)
        val base = ifs.makeQualified(ip)
        (listIndexFiles(path) -- committed).foreach { rel =>
          ifs.delete(new org.apache.hadoop.fs.Path(base, rel), false); ()
        }
      } else {
        // first attempt: commit the pre-append listing (list, then marker
        // — a crash between the two replays this branch harmlessly)
        val listing = listIndexFiles(path).toSeq.sorted.mkString("\n")
        val out = fs.create(new org.apache.hadoop.fs.Path(s"$dir/prelist"), true)
        try out.write(listing.getBytes("UTF-8")) finally out.close()
        fs.create(marker, true).close()
      }
    }
    val centroids = loadCentroids(spark, path)
    // Same one-file-per-cell write alignment as [[ivfIndexInit]]: an
    // append adds at most one file per cell per batch, not one per
    // (upstream task x cell).
    graft.Spread(newVectors)
      .select(F.col(idCol), F.col(embCol),
        nearestCentroid(centroids, F.col(embCol)).as("cell"))
      .repartition(F.col("cell"))
      .write.partitionBy("cell").mode("append").parquet(path)
  }

  /** Probe a persisted [[ivfIndexInit]] index: same probe-cell selection
    * and scoring tail as [[ivfTopK]] (bit-identical results for the same
    * training parameters), but the corpus side is the partitioned index
    * read with the probed-cell PARTITION FILTER — the scan touches only
    * those cells' files (spec-pinned).
    *
    * ONE Spark job per warm serve (BENCH r14 found three): the quantizer
    * comes from the driver cache ([[loadCentroids]] — a serving process
    * holds its quantizer in memory by definition; first touch per
    * (path, stamp) pays the one bounded collect), probe-cell selection
    * rides the broadcast side of the scoring join, and the partition
    * filter is injected at RUNTIME by dynamic partition pruning from
    * that same reused broadcast — no probed-cell collect, no literal
    * IN filter, no extra round-trip. Replay-dedup moved to the ingest
    * path ([[ivfIndexAppend]]'s prelist reconciliation), so the serve
    * plan carries no dedup exchange either.
    *
    * The norm is re-derived from the stored floats on read (not
    * persisted in the index), so it is the identical double the
    * in-memory path computes — and only probed cells' rows ever pay the
    * dot. `queries` is small/selective by the same contract as
    * [[ivfTopK]] (it broadcasts — which is also what arms DPP). */
  def ivfTopKIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
                     queries: DataFrame, idCol: String = "vec_id",
                     embCol: String = "embedding", k: Int = 5,
                     probes: Int = 4): DataFrame = {
    // ONE stamp listing per serve, shared by both caches (each computing
    // its own would be two object-store round-trips — review r15)
    val stamp = centroidStamp(path)
    val centroids = loadCentroids(spark, path, stamp)
    val q = queries.select(F.col(idCol).as("query_id"), F.col(embCol).as("q_emb"),
      normCol(F.col(embCol)).as("q_norm"),
      F.explode(probeCellsCol(centroids, F.col(embCol), probes)).as("cell"))
    val c = spark.read.schema(indexSchema(spark, path, stamp)).parquet(path)
      .select(F.col(idCol).as("neighbor_id"), F.col(embCol).as("c_emb"),
        normCol(F.col(embCol)).as("c_norm"), F.col("cell"))
    ivfScore(c, q, k)
  }

  /** INCREMENTAL semantic dedup — the SemDeDup pair scan composed with
    * the persisted-index lifecycle (r20, VERDICT r19 #6; rows 88+89):
    * history lives as an [[ivfIndexInit]] index (FROZEN quantizer +
    * cell-partitioned vectors, the [[graft.dedup.Dedup.incremental]]
    * analogue), an arriving shard is assigned to the frozen cells, and
    * near-dup pairs are computed ONLY within the cells the shard
    * touches: the history side is the partition-pruned index read (the
    * shard's cell set broadcasts onto the cell equi-join, arming DPP),
    * so probe cost scales with the shard's cell footprint — appending a
    * 1 GB shard against a 100 TB history reads the touched cells, never
    * the corpus. Within-shard pairs (both sides new) ride the same
    * cell-keyed join shape.
    *
    * Output: (vec_a < vec_b, cell, cosine round-6) for every pair with
    * cosine ≥ `tau` and AT LEAST ONE side in the shard — the batch
    * [[graft.dedup.Dedup.semantic]] pair set under the same frozen
    * quantizer restricted to shard-touching pairs (the
    * q_dedup_incremental convention: the oracle replays exactly that).
    * Shard and index id spaces are disjoint by the lifecycle contract
    * (an id is indexed by [[ivfIndexAppend]] only after its dedup
    * verdict) — and the cross side ENFORCES it with a broadcast
    * anti-join on the shard's ids: a no-op filter in normal operation,
    * but it makes the probe idempotent when the shard was ALREADY
    * appended (the [[graft.streaming.StreamingOps.semanticDedupStream]]
    * replay window: append commits, crash, probe re-runs — without the
    * exclusion every within-shard pair would double as a cross pair). */
  def semanticIncremental(spark: org.apache.spark.sql.SparkSession, path: String,
                          shard: DataFrame, idCol: String = "vec_id",
                          embCol: String = "embedding",
                          tau: Double = 0.4): DataFrame = {
    val stamp = centroidStamp(path)
    val centroids = loadCentroids(spark, path, stamp)
    val sh = graft.Spread(shard).select(
      F.col(idCol).as("ia"), F.col(embCol).as("e_a"),
      nearestCentroid(centroids, F.col(embCol)).as("cell"))
    val hist = spark.read.schema(indexSchema(spark, path, stamp)).parquet(path)
      .select(F.col(idCol).as("ib"), F.col(embCol).as("e_b"), F.col("cell"))
      .join(F.broadcast(shard.select(F.col(idCol).as("ib")).distinct()),
        Seq("ib"), "left_anti")
    def scored(pairs: DataFrame): DataFrame =
      pairs.select(
        F.least(F.col("ia"), F.col("ib")).as("vec_a"),
        F.greatest(F.col("ia"), F.col("ib")).as("vec_b"),
        F.col("cell"),
        // dot/norm orientation-safe: per-term products commute and the
        // accumulation order is the dim order either way, so the pair's
        // rounded cosine is identical however least/greatest landed
        F.round(dotF(F.col("e_a"), F.col("e_b")) /
          (normCol(F.col("e_a")) * normCol(F.col("e_b"))), 6).as("cosine"))
        .filter(F.col("cosine") >= tau)
    val cross = sh.join(hist, Seq("cell"))
    val within = sh.join(
      sh.select(F.col("ia").as("ib"), F.col("e_a").as("e_b"), F.col("cell")),
      Seq("cell"))
      .filter(F.col("ia") < F.col("ib"))
    scored(cross).unionAll(scored(within))
  }

  /** Per-bucket histogram of the LSH partitioning (diagnostics + oracle). */
  def lshBuckets(corpus: DataFrame, idCol: String = "vec_id", embCol: String = "embedding",
                 planes: Int = 8, dim: Int = 64): DataFrame =
    corpus
      .select(VectorFunctions.lshSignature(F.col(embCol), planes, dim).as("bucket"))
      .groupBy("bucket")
      .agg(F.count(F.lit(1)).as("n"))
}
