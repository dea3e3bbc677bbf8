package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

/** Structured-Streaming-side execution: watermarked dedup, checkpointed
  * state (malstrom's snapshot backend ≡ `checkpointLocation`), and the
  * exactly-once sink contract (sinks/stateful.rs ≡ foreachBatch + batchId
  * idempotence). Stateful per-key logic runs through
  * [[graft.operators.StatefulExec.stream]], or
  * [[graft.operators.StatefulExec.streamTws]] (transformWithState) when
  * its state expires. A mergeable sketch needs neither: its batch
  * operator runs on the stream as a streaming aggregation, and the
  * state store holds its bounded state.
  *
  * Reference: malstrom-core/src/snapshot/ (persistence), runtime/
  * (coordinator barriers). Spark gives both: the state store checkpoints
  * per micro-batch (aligned snapshot) and recovers on restart; rescaling is
  * a shuffle-partition change at restart, state re-keyed by the store.
  */
object StreamingOps {

  /** Streaming exact dedup: keep the FIRST document per content hash.
    * `dropDuplicatesWithinWatermark` bounds the dedup state by EVENT time
    * — the state store holds one sha-256 entry per distinct document seen
    * within the watermark horizon, then evicts, so a continuous 100 TB/day
    * ingest dedups with bounded state instead of an ever-growing hash set
    * (the streaming face of [[graft.dedup.Dedup.exact]]).
    *
    * The `content_hash` column stays in the output DELIBERATELY (unlike
    * [[dedupMinhashStream]]'s internal key): it is the exact-dedup
    * fingerprint downstream consumers key survivor bookkeeping on, and
    * recomputing sha-256 over 100 TB to recover it would be pure waste. */
  def dedupExactStream(docs: DataFrame, tsCol: String, delay: String,
                       textCol: String = "text"): DataFrame =
    docs
      .withColumn("content_hash", F.sha2(F.col(textCol), 256))
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Streaming NEAR-dup dedup: a document is dropped only when its FULL
    * minhash band vector (every band signature, concatenated) was already
    * seen inside the watermark horizon. One
    * [[graft.functions.expressions.MinhashSigsExpr]] scan per row (no
    * shuffle before the dedup state), then
    * `dropDuplicatesWithinWatermark` keyed on the concatenated vector —
    * the streaming face of [[graft.dedup.Dedup.minhashCandidates]]:
    * instead of pairing near-dups after the fact, the stream keeps only
    * each cluster's FIRST representative. Candidacy here uses the full
    * band vector (all bands must be new), the conservative variant that
    * never drops a non-duplicate: docs agreeing on every band are
    * near-identical by construction. Docs with fewer than `shingleN`
    * tokens have no band vector and dedup EXACTLY (keyed on
    * `short:` + sha-256 of the text) rather than being dropped. */
  def dedupMinhashStream(docs: DataFrame, tsCol: String, delay: String,
                         textCol: String = "text", shingleN: Int = 3,
                         bands: Int = 8): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import graft.functions.expressions.{MinhashSigsExpr, ShingleExpr}
    val sigArr = ColumnBridge.column(MinhashSigsExpr(
      ColumnBridge.expression(ColumnBridge.column(
        ShingleExpr(ColumnBridge.expression(F.col(textCol)), shingleN))), bands))
    docs
      // Docs too short to shingle (< shingleN tokens) have no band vector;
      // they fall back to an EXACT-dedup key instead of being dropped —
      // a streaming corpus of tweets must not lose every short document.
      // (NULL text still filters out: sha2(NULL) is NULL on both engines.)
      .withColumn("mh_sig", F.coalesce(
        F.nullif(F.concat_ws("|", sigArr), F.lit("")),
        F.concat(F.lit("short:"), F.sha2(F.col(textCol), 256))))
      .filter(F.col("mh_sig").isNotNull)
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark("mh_sig")
      .drop("mh_sig")
  }

  /** Start a query with a durable checkpoint (snapshot backend analogue).
    * Killing the query and calling this again resumes from state. */
  def startWithCheckpoint(writer: DataStreamWriter[Row], checkpointDir: String): StreamingQuery =
    start(writer, checkpointDir, Trigger.AvailableNow())

  private def start(writer: DataStreamWriter[Row], checkpointDir: String,
                    trigger: Trigger): StreamingQuery =
    writer.option("checkpointLocation", checkpointDir).trigger(trigger).start()

  /** Exactly-once parquet sink: each micro-batch lands as ONE segment
    * `outDir/batch=<id>` through [[markerGated]], so a replayed batch
    * whose `_SUCCESS` committed is a no-op — sinks/stateful.rs semantics.
    *
    * It is also the living-corpus CDC APPLY path ([[graft.operators
    * .Corpus]]'s streaming half): fed version-stamped update rows, the
    * segments form an append-only log and the SERVING view is
    * merge-on-read (latest-wins [[graft.operators.Corpus.upsert]] /
    * time-travel [[graft.operators.Corpus.asOf]] over base ∪ log). No
    * table rewrite per batch — at 100 TB the corpus never moves, only
    * the log grows (and a periodic compaction materializes asOf +
    * [[graft.operators.Corpus.optimizeLayout]], the lakehouse shape). */
  def exactlyOnceParquetSink(df: DataFrame, outDir: String, checkpointDir: String,
                             trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    start(df.writeStream.foreachBatch(markerGated(outDir) { (batch, target) =>
      batch.write.mode(SaveMode.Overwrite).parquet(target)
    }), checkpointDir, trigger)

  /** Streaming INCREMENTAL cross-shard dedup — the living-corpus ingest
    * that unites the streaming dedup gates with the persisted index
    * lifecycle: each micro-batch appends its signatures to the
    * [[graft.dedup.Dedup.indexInit]] signature index, then probes the
    * grown index for duplicate pairs against ALL history (earlier
    * micro-batches included — the index carries them) and within the
    * batch, writing the batch's pair set to `outDir/batch=<id>` with the
    * idempotent per-batch commit of [[exactlyOnceParquetSink]].
    *
    * Exactly-once: a batch whose `_SUCCESS` exists is a FULL no-op
    * (append, probe, and write all skipped). A crash BETWEEN the index
    * append and the output commit replays the batch against an index
    * that already holds its signatures: the duplicate rows raise
    * candidate multiplicities but never change the DISTINCT pair set
    * `Dedup.incremental` emits (its spec-pinned
    * append-order-independence), so the replayed output — and every
    * batch after it — is value-identical; the only cost is the
    * duplicated signature rows' storage.
    *
    * Scale shape per batch: exactly [[graft.dedup.Dedup.incremental]]'s
    * append path — shard signatures once, a bucket-aligned append, then
    * one exchange-free probe of the grown bucketed index; history text is
    * never re-scanned at any batch. The pairs are written from inside the
    * dedup's cache scope (the write is their only reader), so no
    * checkpoint job pins them first. */
  def incrementalDedupStream(docs: DataFrame, indexTable: String,
                             outDir: String, checkpointDir: String,
                             idCol: String = "doc_id",
                             textCol: String = "text"): StreamingQuery =
    startWithCheckpoint(docs.writeStream.foreachBatch(markerGated(outDir) { (batch, target) =>
      graft.dedup.Dedup.incrementalInto(batch.select(batch(idCol), batch(textCol)),
        indexTable, idCol, textCol)(_.write.mode(SaveMode.Overwrite).parquet(target))
    }), checkpointDir)

  /** Streaming IVF index ingest — the vector analogue of
    * [[incrementalDedupStream]]: each micro-batch of new embeddings is
    * appended to the persisted cell-partitioned index with the quantizer
    * FROZEN ([[graft.ann.Ann.ivfIndexAppend]] — no retrain, no history
    * re-read), gated per batch by [[markerGated]]. The marker dir records
    * the batch's id set (tiny — one long per vector).
    *
    * Delivery contract: the marker commits AFTER the (non-transactional
    * parquet) append, so a crash inside that window replays the batch —
    * the append itself is made EXACTLY-ONCE-EFFECTIVE by
    * [[graft.ann.Ann.ivfIndexAppend]]'s prelist reconciliation: the
    * batch's pre-append file listing is committed to
    * `outDir/prelist_batch=<id>` before the first attempt (OUTSIDE the
    * target dir, so the final output overwrite cannot eat it), and a
    * replay deletes the crashed attempt's orphan files before
    * re-appending. Serving therefore trusts the index and carries no
    * dedup exchange (the reconciliation runs only on the rare replay).
    * Single-writer per index, as for every persisted-index op in this
    * repo. */
  def ivfIngestStream(vectors: DataFrame, indexPath: String,
                      outDir: String, checkpointDir: String,
                      idCol: String = "vec_id",
                      embCol: String = "embedding"): StreamingQuery =
    startWithCheckpoint(vectors.writeStream.foreachBatch(ledgerGated(outDir) {
      (batch, target, prelist) =>
        graft.ann.Ann.ivfIndexAppend(
          batch.select(batch(idCol), batch(embCol)), indexPath,
          prelistDir = Some(prelist))
        batch.select(batch(idCol))
          .write.mode(SaveMode.Overwrite).parquet(target)
    }), checkpointDir)

  /** Streaming INCREMENTAL SEMANTIC dedup — [[incrementalDedupStream]]'s
    * vector twin over the frozen-quantizer index: each micro-batch of
    * new embeddings is APPENDED to the persisted index first
    * ([[graft.ann.Ann.ivfIndexAppend]] with the prelist reconciliation
    * ledger — exactly-once-effective), then
    * PROBED ([[graft.ann.Ann.semanticIncremental]], whose cross side
    * anti-joins the batch's own ids out of the history read — so
    * probing after the append sees exactly the pre-append history plus
    * the batch's within pairs, and a replay after a crashed probe is
    * idempotent), and the pair output commits the batch marker. The
    * union of batch outputs equals the BATCH semanticIncremental of the
    * whole stream against the initial history — cross-BATCH pairs come
    * from the index carry-over, within-batch pairs from the probe's own
    * within leg — so the oracle is q_dedup_semantic_incremental's. */
  def semanticDedupStream(vectors: DataFrame, indexPath: String,
                          outDir: String, checkpointDir: String,
                          idCol: String = "vec_id",
                          embCol: String = "embedding",
                          tau: Double = 0.4): StreamingQuery =
    startWithCheckpoint(vectors.writeStream.foreachBatch(ledgerGated(outDir) {
      (batch, target, prelist) =>
        val b = batch.select(batch(idCol), batch(embCol))
        graft.ann.Ann.ivfIndexAppend(b, indexPath, idCol, embCol,
          prelistDir = Some(prelist))
        graft.ann.Ann.semanticIncremental(
            batch.sparkSession, indexPath, b, idCol, embCol, tau)
          .write.mode(SaveMode.Overwrite).parquet(target)
    }), checkpointDir)

  /** The ONE per-batch replay gate every marker-committed sink shares
    * (hand-rolled copies drift): run `action(batch, targetDir)`
    * only when `outDir/batch=<id>/_SUCCESS` is absent — a replayed batch
    * whose marker committed is a full no-op. The probe resolves through
    * the session's Hadoop FS ([[graft.HadoopFs]]): a java.io.File check on
    * an hdfs://-or-s3a outDir answers against the driver's local disk, is
    * always false, and would re-Overwrite every committed batch on replay.
    * The action must END by writing `targetDir` (whose _SUCCESS is the
    * commit marker); anything it does BEFORE that write is at-least-once
    * under a crash and must be value-safe or reader-deduplicated (see the
    * call sites). */
  private[streaming] def markerGated(outDir: String)(
      action: (DataFrame, String) => Unit): (DataFrame, Long) => Unit = {
    (batch: DataFrame, batchId: Long) =>
      val target = s"$outDir/batch=$batchId"
      val (fs, done) = graft.HadoopFs.get(s"$target/_SUCCESS")
      if (!fs.exists(done)) action(batch, target)
  }

  /** [[markerGated]] plus the batch's prelist reconciliation ledger
    * `outDir/prelist_batch=<id>` — OUTSIDE the target dir, so the
    * target's own overwrite cannot delete it — passed to
    * `action(batch, targetDir, prelistDir)` for
    * [[graft.ann.Ann.ivfIndexAppend]].
    *
    * The ledger is SINGLE-USE: once the commit marker exists, markerGated
    * can never re-enter this batch, so the prelist is dead weight — and a
    * STALE committed ledger is dangerous (a batch-id collision after a
    * checkpoint reset would treat the old listing as this batch's
    * pre-state and delete every file appended since). It is
    * deleted right after the action; a crash between the marker and the
    * delete leaves a harmless orphan that is never read again (the marker
    * gates the only reader). This also bounds ledger storage at O(1)
    * instead of one full index listing per batch over the stream's
    * lifetime. */
  private def ledgerGated(outDir: String)(
      action: (DataFrame, String, String) => Unit): (DataFrame, Long) => Unit = {
    (batch: DataFrame, batchId: Long) =>
      val prelist = s"$outDir/prelist_batch=$batchId"
      markerGated(outDir) { (b, target) =>
        action(b, target, prelist)
        val (fs, p) = graft.HadoopFs.get(prelist)
        fs.delete(p, true); ()
      }(batch, batchId)
  }

  /** STREAMING tokenizer-coverage monitor: the row-203 OOV report
    * maintained under ingest — per-group running token volume, `[UNK]`
    * volume and rate against a SHIPPED vocabulary (production shape: the
    * tokenizer is a frozen artifact; the monitor alarms when a source's
    * script/domain drifts outside its alphabet). The encode runs on the
    * stream (the per-task memoized segmenter), group metadata arrives by
    * stream-static join, and the counts live in a complete-mode
    * aggregation — groups-sized state, arrival-order-free, so the final
    * snapshot ≡ the batch fold and the batch SQL is the oracle verbatim
    * (minus the distinct-count columns streaming aggs cannot maintain).
    *
    * Output (per snapshot): (groupCol, n_tokens, n_unk, unk_rate). */
  def coverageStream(stream: DataFrame, meta: DataFrame, vocab: Seq[String],
                     groupCol: String = "source", idCol: String = "doc_id",
                     unk: String = graft.functions.Wordpiece.Unk): DataFrame =
    graft.functions.Wordpiece.encode(stream, vocab, idCol = idCol)
      .join(F.broadcast(meta.select(F.col(idCol), F.col(groupCol))), Seq(idCol))
      .groupBy(F.col(groupCol))
      .agg(
        F.count(F.lit(1)).as("n_tokens"),
        F.sum(F.when(F.col("token") === unk, 1L).otherwise(0L)).as("n_unk"))
      .select(F.col(groupCol), F.col("n_tokens"), F.col("n_unk"),
        F.round(F.col("n_unk").cast("double") / F.col("n_tokens").cast("double"), 6)
          .as("unk_rate"))
}
