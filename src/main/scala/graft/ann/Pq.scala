package graft.ann

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.functions.expressions.{PqAdcExpr, PqEncodeExpr}

/** Product-quantization ANN (Jégou et al., "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011) — the memory-compressed scale
  * path beyond IVF: a 64-float embedding becomes `subspaces` small codes
  * (16× compression at 8 subspaces × 16 centroids), and the first-stage
  * scan scores CODES, not vectors.
  *
  * Spark shape (the 100 TB story):
  *  - codebooks train on a bounded driver-side sample per subspace —
  *    [[Ann.trainCentroids]] on a SLICED embedding column, so training is
  *    identical deterministic Lloyd k-means, replicable by the SQL oracle;
  *  - the code index is one scan ([[PqEncodeExpr]], a per-row native
  *    fold — no shuffle) persisted at `subspaces` bytes-per-doc scale;
  *  - query scoring is a broadcast join + per-row asymmetric-distance
  *    computation ([[PqAdcExpr]]) + WindowGroupLimit top-`rerank` cut;
  *  - only the surviving `rerank` candidates per query touch real
  *    vectors (exact rounded cosine, same formulation as every other ANN
  *    tier) before the final top-k.
  */
object Pq {

  /** Trained PQ model: `codebooks(m)(j)` = centroid j of subspace m. */
  final case class PqModel(subspaces: Int, subDim: Int,
                           codebooks: Array[Array[Array[Double]]])

  /** Train per-subspace codebooks on the first `sampleN` vectors —
    * deterministic, bit-replicable. PRECONDITION: `idCol` ids must be
    * dense from 0 (seed parity with the SQL oracle); `trainCentroids`
    * `require`-fails on anything else — densify with `row_number() - 1`
    * first for arbitrary id spaces. */
  def train(corpus: DataFrame, idCol: String = "vec_id", embCol: String = "embedding",
            dim: Int = 64, subspaces: Int = 8, codebookSize: Int = 16,
            sampleN: Int = 512, iters: Int = 2): PqModel = {
    require(dim % subspaces == 0, s"subspaces must divide dim: $subspaces / $dim")
    val subDim = dim / subspaces
    // ONE training collect, sliced per subspace on the driver — the
    // previous per-subspace trainCentroids calls ran `subspaces` identical
    // sample-collect jobs over the same rows (slicing before or after the
    // collect commutes, so results are bit-identical).
    val sample = Ann.collectDenseSample(corpus, idCol, embCol, sampleN, codebookSize)
    val books = (0 until subspaces).map { m =>
      val sliced = sample.map(v =>
        java.util.Arrays.copyOfRange(v, m * subDim, (m + 1) * subDim))
      Ann.trainCentroidsFromSample(sliced, codebookSize, iters)
    }.toArray
    PqModel(subspaces, subDim, books)
  }

  /** Code index: (id, codes array<int>) — one scan, no shuffle. */
  def encode(corpus: DataFrame, model: PqModel, idCol: String = "vec_id",
             embCol: String = "embedding"): DataFrame =
    graft.Spread(corpus)
      .select(F.col(idCol), F.col(embCol),
        ColumnBridge.column(PqEncodeExpr(
          ColumnBridge.expression(F.col(embCol)), model.codebooks)).as("codes"))

  /** Top-k per query: ADC first stage over codes, exact-cosine rerank of
    * the top `rerank` survivors. Output matches the other ANN tiers:
    * (query_id, rnk, neighbor_id, cosine). Corpus ids must be dense from
    * 0 (see [[train]]) — training seeds by id.
    *
    * `rerank` is the recall-bearing knob: 32-bit codes (8 subspaces x 16
    * codes) are a coarse first stage, and the exact rerank recovers what
    * ADC misranks. Measured on the sf0.1 embeddings (AnnRecallSpec):
    * recall@10 0.51 at rerank=50 vs 0.81 at rerank=200 — hence the 200
    * default. Cost stays |queries| x rerank exact-cosine rows (the only
    * stage that touches real vectors), corpus-size-independent. */
  def topK(corpus: DataFrame, queries: DataFrame, idCol: String = "vec_id",
           embCol: String = "embedding", k: Int = 5, rerank: Int = 200,
           dim: Int = 64, subspaces: Int = 8, codebookSize: Int = 16,
           sampleN: Int = 512, iters: Int = 2): DataFrame = {
    val model = train(corpus, idCol, embCol, dim, subspaces, codebookSize, sampleN, iters)
    val codes = encode(corpus, model, idCol, embCol)
      .select(F.col(idCol).as("neighbor_id"), F.col("codes"))
    val q = queries.select(F.col(idCol).as("query_id"), F.col(embCol).as("q_emb"))
    val adc = ColumnBridge.column(PqAdcExpr(
      ColumnBridge.expression(F.col("q_emb")),
      ColumnBridge.expression(F.col("codes")),
      model.codebooks))
    val wAdc = Window.partitionBy("query_id")
      .orderBy(F.col("adc").desc, F.col("neighbor_id").asc)
    val wCos = Window.partitionBy("query_id")
      .orderBy(F.col("cosine").desc, F.col("neighbor_id").asc)
    // First stage carries (query_id, neighbor_id, adc) ONLY: the window
    // exchange over |corpus| x |queries| candidate rows must ship ~24
    // bytes/row, not two full embeddings — "scores codes, not vectors" has
    // to hold for the shuffle too, or PQ's whole memory story is fiction.
    val survivors = codes.join(F.broadcast(q.select(F.col("query_id"), F.col("q_emb"))))
      .filter(F.col("neighbor_id") =!= F.col("query_id"))
      .select(F.col("query_id"), F.col("neighbor_id"), adc.as("adc"))
      .withColumn("arn", F.row_number().over(wAdc))
      .filter(F.col("arn") <= rerank)
      .select(F.col("query_id"), F.col("neighbor_id"))
    // Only the <= queries x rerank survivors touch real vectors: broadcast
    // them against the corpus (corpus-driven BHJ, no corpus shuffle), then
    // broadcast the query vectors back for the exact-cosine rerank.
    corpus.select(F.col(idCol).as("neighbor_id"), F.col(embCol).as("c_emb"))
      .join(F.broadcast(survivors), Seq("neighbor_id"))
      .join(F.broadcast(q), Seq("query_id"))
      .select(F.col("query_id"), F.col("neighbor_id"),
        F.round(graft.functions.VectorFunctions.dotF(F.col("q_emb"), F.col("c_emb")) /
          (Ann.normCol(F.col("q_emb")) * Ann.normCol(F.col("c_emb"))), 6).as("cosine"))
      .withColumn("rank", F.row_number().over(wCos))
      .filter(F.col("rank") <= k)
      .select(F.col("query_id"), F.col("rank").cast("long").as("rnk"),
        F.col("neighbor_id"), F.col("cosine"))
  }
}
