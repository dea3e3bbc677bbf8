package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Model-based quality classification TRAINED IN THE ENGINE: a logistic
  * regression over hashed bag-of-words features, fit by full-batch
  * gradient descent as a sequence of Spark aggregations — the
  * fastText/FineWeb-style "train a small classifier on exemplar labels,
  * score the whole corpus" step of a pretraining pipeline, expressed so
  * that training AND inference are bit-reproducible and cross-engine
  * checkable (the Lloyd-k-means-in-the-oracle precedent, applied to GD).
  *
  * Model: binary PRESENCE features over `buckets` hashed token buckets
  * (the md5-hex convention — bucket ids identical in the oracle) plus a
  * bias; `iters` full-batch GD steps of
  *
  *   w ← w − lr · (Σ_d (σ(z_d) − y_d) · x_d) / n,   z_d = Σ_{b∈d} w_b + bias
  *
  * Determinism (the interesting part): every distributed sum in both the
  * forward pass (z per doc) and the gradient (per bucket) casts its
  * per-row double term to DECIMAL(38,18) first, so the sums are exact
  * and order-free; σ's exp() is evaluated on identical operands with
  * identical op order on both engines. The oracle unrolls the same
  * `iters` steps as CTEs (OracleSql.clfCtes) and reproduces every
  * weight, score, and prediction bit-for-bit.
  *
  * Scale shape: ONE cached feature build (byKey corpus scan → distinct
  * (doc, bucket) rows — the per-doc aggregations reuse its
  * partitioning), then per GD step: one broadcast join of the B-row
  * weight table + one doc-keyed aggregation (no exchange — byKey) + one
  * bucket-keyed gradient aggregation (map-combinable, ≤B+1 result
  * rows). Driver state is the weight vector itself — `buckets`+1
  * doubles, corpus-size-independent (the documented bounded-collect
  * class, SURVEY §5). Training cost: `iters` passes over the slim
  * feature cache, never over text.
  */
object Classifier {

  /** Train on `label` (0/1 per document) and score every document:
    * (idCol, label, clf_score, pred) for every doc with ≥ 1 token.
    * clf_score is σ(z) rounded to 6 dp; pred compares the UNROUNDED
    * score to 0.5 (mirrored in the oracle). */
  def trainScore(docs: DataFrame, label: Column, idCol: String = "doc_id",
                 textCol: String = "text", buckets: Int = 64,
                 iters: Int = 4, lr: Double = 0.5): DataFrame = graft.CacheScope.scoped {
    require(buckets >= 2 && iters >= 1 && lr > 0,
      s"need buckets >= 2, iters >= 1, lr > 0; got ($buckets, $iters, $lr)")
    val spark = docs.sparkSession
    def toks(c: Column) = ColumnBridge.column(
      graft.functions.expressions.ShingleExpr(ColumnBridge.expression(c), 1))
    // pmod: every real bucket is in [0, buckets), so the bias gradient's
    // reserved key bkt = -1 can never collide with one.
    def bucket(t: Column): Column =
      F.pmod(F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long"), F.lit(buckets))

    // Distinct (doc, bucket) presence rows + the label, byKey so every
    // per-doc aggregation below runs exchange-free. The groupBy(id, bkt)
    // dedup is itself satisfied by the id partitioning (subset rule).
    val feats = graft.CacheScope.materialize(
      graft.Spread.byKey(docs, idCol)
        .select(F.col(idCol), label.cast("double").as("y"),
          F.explode(toks(F.col(textCol))).as("tok"))
        .select(F.col(idCol), F.col("y"), bucket(F.col("tok")).as("bkt"))
        .groupBy(F.col(idCol), F.col("bkt"))
        .agg(F.first(F.col("y")).as("y")))

    import scala.jdk.CollectionConverters._
    def wDf(w: Array[Double]): DataFrame = spark.createDataFrame(
      w.toSeq.zipWithIndex.map { case (v, b) =>
        org.apache.spark.sql.Row(b.toLong, v) }.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("bkt",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("w",
          org.apache.spark.sql.types.DoubleType, nullable = false))))

    /** Per-doc forward pass under weights (w, bias): (id, y, r) with
      * r = σ(z) − y. Identical expression text to the oracle's z/r CTEs. */
    def residuals(w: Array[Double], bias: Double): DataFrame =
      feats.join(F.broadcast(wDf(w)), Seq("bkt"))
        .groupBy(F.col(idCol))
        .agg(F.first(F.col("y")).as("y"),
          F.sum(F.col("w").cast("decimal(38,18)")).cast("double").as("s"))
        .select(F.col(idCol), F.col("y"),
          (F.lit(1.0) / (F.lit(1.0) + F.exp(-(F.col("s") + F.lit(bias)))) -
            F.col("y")).as("r"))

    val w = Array.fill(buckets)(0.0)
    var bias = 0.0
    var nDocs = -1L
    for (_ <- 1 to iters) {
      // slim (id, y, r) cache: consumed by both branches of the fused
      // gradient aggregation below. materializeCounted's eager count IS
      // the doc count (one row per doc) — the former separate
      // first-iteration z.count() job is free now.
      val (z, zn) = graft.CacheScope.materializeCounted(residuals(w, bias))
      if (nDocs < 0) nDocs = zn
      // ONE driver action per GD step for ALL gradients (r22, VERDICT r21
      // #3 job-count audit; 3 driver-blocking jobs/step → 2): the bias
      // gradient Σ_d r_d rides the same collect as the per-bucket
      // gradients under the reserved key bkt = −1 (real buckets are
      // non-negative). Each union branch reads the eagerly-cached z, and
      // each group's sum is the identical order-free DECIMAL(38,18)
      // arithmetic the two separate jobs computed — bit-equal weights,
      // oracle-pinned.
      val gRows = feats.join(z.select(F.col(idCol), F.col("r")), Seq(idCol))
        .select(F.col("bkt"), F.col("r"))
        .unionAll(z.select(F.lit(-1L).as("bkt"), F.col("r")))
        .groupBy(F.col("bkt"))
        .agg(F.sum(F.col("r").cast("decimal(38,18)")).cast("double").as("g"))
        .collect()
      val grads = gRows.filter(_.getLong(0) >= 0L)
        .map(r0 => r0.getLong(0).toInt -> r0.getDouble(1)).toMap
      // token-less corpus: no z rows at all → no bkt = −1 group (matches
      // the former first()-row isNull fallback)
      val biasG = gRows.find(_.getLong(0) == -1L)
        .map(_.getDouble(1)).getOrElse(0.0)
      // token-less corpus: no feature rows, nothing to fit (0/0 would
      // NaN the weights); the final scoring pass is empty anyway
      if (nDocs > 0) {
        var b = 0
        while (b < buckets) {
          w(b) = w(b) - lr * (grads.getOrElse(b, 0.0) / nDocs.toDouble)
          b += 1
        }
        bias = bias - lr * (biasG / nDocs.toDouble)
      }
    }

    // Final scoring pass under the trained weights — same forward text.
    feats.join(F.broadcast(wDf(w)), Seq("bkt"))
      .groupBy(F.col(idCol))
      .agg(F.first(F.col("y")).as("y"),
        F.sum(F.col("w").cast("decimal(38,18)")).cast("double").as("s"))
      .select(F.col(idCol), F.col("y").cast("int").as("label"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-(F.col("s") + F.lit(bias)))), 6)
          .as("clf_score"),
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-(F.col("s") + F.lit(bias)))) >= 0.5)
          .as("pred"))
  }

  /** ROC-AUC of a scored table — the threshold-free eval metric the
    * trained classifier (and any quality score) is judged by before a
    * corpus is thresholded on it, computed by the tie-aware rank-sum
    * identity (Mann–Whitney U): AUC = P(score⁺ > score⁻) + ½P(tie),
    * accumulated per DISTINCT score as pos·(negatives strictly below) +
    * ½·pos·(negatives tied). The numerator is doubled to stay an exact
    * integer, so the whole statistic is one IEEE division from exact
    * DECIMAL sums — hash-exact.
    *
    * Scale shape: one groupBy(score) aggregation (bounded by
    * construction: [[trainScore]] scores are round-6 in [0,1], ≤ 10⁶+1
    * groups — the caller contract), a running negative count over that
    * bounded frame (partitioned on a derived constant, the
    * prioritySample audit rule), and a one-row fold. No per-pair work:
    * the O(P·N) pair space collapses into the rank-sum. */
  def aucReport(scored: DataFrame, scoreCol: String = "clf_score",
                labelCol: String = "label"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = scored.groupBy(F.col(scoreCol).as("s"))
      .agg(F.count(F.lit(1)).as("n"),
        F.sum(F.col(labelCol).cast("long")).as("np"))
    val w = Window.partitionBy(F.pmod(F.col("n"), F.lit(1)))
      .orderBy(F.col("s").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    g.withColumn("negb",
        F.sum(F.col("n") - F.col("np")).over(w) - (F.col("n") - F.col("np")))
      .agg(
        F.sum(F.col("np")).as("n_pos"),
        F.sum(F.col("n") - F.col("np")).as("n_neg"),
        F.sum((F.col("np") * 2 * F.col("negb") +
          F.col("np") * (F.col("n") - F.col("np"))).cast("decimal(38,0)")).as("num2"))
      .select(F.col("n_pos"), F.col("n_neg"),
        F.expr("round(CAST(num2 AS DOUBLE) / " +
          "(2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)), 6)").as("auc"))
  }

  /** Active-learning UNCERTAINTY sampling (Lewis & Gale 1994; the
    * label-budget allocator every classifier-filtered corpus pipeline
    * runs): per group, the `n` documents whose score sits closest to the
    * 0.5 decision boundary — the examples whose labels improve the
    * filter most per annotation dollar. Deterministic: uncertainty =
    * round-6 |score − 0.5| (scores are already the round-6 sigmoid), id
    * tie-break.
    *
    * Scale shape: one metadata join of the scored stream + a per-group
    * rank window cut to n (WindowGroupLimit prunes to n per group before
    * the window sort at scale).
    *
    * Output: (groupCol, rnk 1..n, idCol, scoreCol, uncertainty). */
  def uncertaintySample(scored: DataFrame, meta: DataFrame,
                        groupCol: String = "source", idCol: String = "doc_id",
                        scoreCol: String = "clf_score",
                        n: Int = 5): DataFrame = {
    require(n >= 1, s"need n >= 1, got $n")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(F.col(groupCol))
      .orderBy(F.col("uncertainty").asc, F.col(idCol).asc)
    scored
      .join(meta.select(F.col(idCol), F.col(groupCol)), Seq(idCol))
      .withColumn("uncertainty", F.round(F.abs(F.col(scoreCol) - F.lit(0.5)), 6))
      .withColumn("rnk", F.row_number().over(w))
      .filter(F.col("rnk") <= n)
      .select(F.col(groupCol), F.col("rnk"), F.col(idCol),
        F.col(scoreCol), F.col("uncertainty"))
  }

  /** Cohen's kappa between two boolean filters (Cohen 1960) — the
    * chance-corrected agreement a pipeline measures BEFORE swapping one
    * quality filter for another: raw agreement is inflated whenever both
    * filters pass (or reject) almost everything, and kappa subtracts
    * exactly that base rate. The decision rule ops teams use: kappa
    * ≥ 0.8 ⇒ near-interchangeable (swap is low-risk), ≤ 0.4 ⇒ the
    * filters disagree on substance — A/B the swap on downstream evals.
    *
    * All inputs are exact integer counts from ONE map-side-combinable
    * aggregation; po/pe/kappa are a handful of IEEE ops on those longs,
    * round-6 with oracle-shared text — hash-exact, no ln, no libm.
    * Degenerate corpora where pe = 1 (both filters constant) return a
    * NULL kappa rather than ±∞ (the standard convention).
    *
    * Output: one row — (n, n11, n10, n01, n00, po, pe, kappa). */
  def kappaAgreement(df: DataFrame, filterA: Column,
                     filterB: Column): DataFrame = {
    val agg = df.agg(
      F.count(F.lit(1)).as("n"),
      F.sum(F.when(filterA && filterB, 1L).otherwise(0L)).as("n11"),
      F.sum(F.when(filterA && !filterB, 1L).otherwise(0L)).as("n10"),
      F.sum(F.when(!filterA && filterB, 1L).otherwise(0L)).as("n01"),
      F.sum(F.when(!filterA && !filterB, 1L).otherwise(0L)).as("n00"))
    val nD = F.col("n").cast("double")
    val po = (F.col("n11") + F.col("n00")).cast("double") / nD
    val paY = (F.col("n11") + F.col("n10")).cast("double") / nD
    val pbY = (F.col("n11") + F.col("n01")).cast("double") / nD
    val pe = paY * pbY + (F.lit(1.0) - paY) * (F.lit(1.0) - pbY)
    agg.select(F.col("n"), F.col("n11"), F.col("n10"), F.col("n01"), F.col("n00"),
      F.round(po, 6).as("po"), F.round(pe, 6).as("pe"),
      F.when(pe < 1.0, F.round((po - pe) / (F.lit(1.0) - pe), 6)).as("kappa"))
  }
}
