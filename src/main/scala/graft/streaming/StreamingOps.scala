package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

/** Structured-Streaming-side execution: watermarked windows, checkpointed
  * state (malstrom's snapshot backend ≡ `checkpointLocation`), and the
  * exactly-once sink contract (sinks/stateful.rs ≡ foreachBatch + batchId
  * idempotence). Stateful per-key logic runs through
  * [[graft.operators.StatefulExec.stream]] (flatMapGroupsWithState), or
  * [[graft.operators.StatefulExec.streamTws]] (transformWithState) when
  * its state expires.
  *
  * Reference: malstrom-core/src/snapshot/ (persistence), runtime/
  * (coordinator barriers). Spark gives both: the state store checkpoints
  * per micro-batch (aligned snapshot) and recovers on restart; rescaling is
  * a shuffle-partition change at restart, state re-keyed by the store.
  */
object StreamingOps {

  /** Watermarked tumbling-window aggregation — the epoch-aggregation shape
    * of examples/event_time.rs, streaming form. */
  def windowedCounts(events: DataFrame, tsCol: String, width: String, delay: String,
                     keys: Seq[String]): DataFrame =
    events
      .withWatermark(tsCol, delay)
      .groupBy(keys.map(F.col) :+ F.window(F.col(tsCol), width): _*)
      .agg(F.count(F.lit(1)).as("n"))

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
    * Delivery contract (r15 — was at-least-once + serve-side dedup): the
    * marker commits AFTER the (non-transactional parquet) append, so a
    * crash inside that window replays the batch — the append itself is
    * made EXACTLY-ONCE-EFFECTIVE by [[graft.ann.Ann.ivfIndexAppend]]'s
    * prelist reconciliation: the batch's pre-append file listing is
    * committed to `outDir/prelist_batch=<id>` before the first attempt
    * (OUTSIDE the target dir, so the final output overwrite cannot eat
    * it), and a replay deletes the crashed attempt's orphan files before
    * re-appending. Serving therefore trusts the index and carries no
    * dedup exchange (the r14 serve paid one on every clean call; the
    * reconciliation runs only on the rare replay). Single-writer per
    * index, as for every persisted-index op in this repo. */
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
    * vector twin over the frozen-quantizer index (r20, row 221's
    * streaming half): each micro-batch of new embeddings is APPENDED to
    * the persisted index first ([[graft.ann.Ann.ivfIndexAppend]] with
    * the prelist reconciliation ledger — exactly-once-effective), then
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
    * (review r14: hand-rolled copies drift): run `action(batch, targetDir)`
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
    * pre-state and delete every file appended since — review r15). It is
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

  /** STREAMING KMV bottom-k maintenance — the quantile-sketch face of the
    * row-143 pattern (a sketch whose state is merge-closed can live AS
    * streaming state): per group, the flatMapGroupsWithState state is the
    * bottom-`k` (md5-rank, value) sample itself — union + re-bottom-k is
    * the KMV merge rule ([[graft.functions.Sketches.mergeBottomK]]), so
    * each micro-batch folds in with an O(k)-memory capped TreeSet and the
    * state after ANY prefix of the stream equals the batch
    * [[graft.functions.Sketches.bottomKSample]] of that prefix
    * (order-free: bottom-k is a function of the SET). Bounded state by
    * construction: groups × k entries, however much stream passes.
    *
    * Emission: one snapshot of the sample per (group, micro-batch) —
    * `ver` is the group's cumulative row count, strictly increasing, so
    * a downstream max-`ver` filter reads the FINAL sample off an
    * append-mode sink (the memory-gate shape; a production job would
    * read the same snapshot from its latest batch dir). The TreeSet
    * collapses replayed (rank, value) pairs exactly as mergeBottomK's
    * replay-idempotence contract; distinct ids give distinct md5 ranks
    * by the same contract as the batch sketch.
    *
    * Output rows: (group, ver, qs_key, value) — feed the max-`ver` slice
    * to [[graft.functions.Sketches.sampleQuantiles]]. */
  def bottomKSampleStream(df: DataFrame, groupCol: String, valueCol: String,
                          idCol: String, k: Int = 256): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val spark = df.sparkSession
    import spark.implicits._
    val prepared = df
      .filter(F.col(valueCol).isNotNull && F.col(groupCol).isNotNull)
      .select(F.col(groupCol).cast("string"),
        F.md5(F.col(idCol).cast("string")),
        F.col(valueCol).cast("double"))
      .as[(String, String, Double)]
    implicit val ord: Ordering[(String, Double)] =
      Ordering.Tuple2(Ordering.String, Ordering.Double.TotalOrdering)
    prepared.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Seq[(String, Double)]),
                              (String, Long, String, Double)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) { (g, it, gs) =>
        val (n0, samp0) = gs.getOption.getOrElse((0L, Seq.empty[(String, Double)]))
        val buf = scala.collection.mutable.TreeSet.empty[(String, Double)]
        samp0.foreach(buf += _)
        var n = n0
        it.foreach { t =>
          n += 1
          buf += ((t._2, t._3))
          if (buf.size > k) buf -= buf.last
        }
        val merged = buf.toSeq
        gs.update((n, merged))
        merged.iterator.map(x => (g, n, x._1, x._2))
      }
      .toDF(groupCol, "ver", "qs_key", valueCol)
  }

  /** STREAMING PSI drift histogram — the row-143 pattern (merge-closed
    * sketch state lives AS streaming state) for the drift monitor
    * ([[graft.operators.Profile.psiDrift]], r20 / VERDICT r19 #5): the
    * score stream folds into per-bucket COUNTS under the batch
    * operator's own fixed equal-width bin edges
    * ([[graft.operators.Profile.psiBucket]] — constant edges are the
    * PSI contract), kept as flatMapGroupsWithState state keyed by
    * bucket. Counts are trivially merge-closed and order-free, so the
    * state after ANY stream prefix equals the batch histogram of that
    * prefix — the oracle replays batch PSI on the same rows. Bounded
    * state by construction: ≤ `buckets` longs, however much stream
    * passes.
    *
    * Emission: one (bucket, n) row per micro-batch per touched bucket,
    * `n` the bucket's CUMULATIVE count (strictly increasing), so the
    * final histogram off an append-mode sink is `max(n)` per bucket —
    * feed it to [[graft.operators.Profile.psiFromHistograms]] against
    * the fixed reference histogram.
    *
    * PRECONDITION (ADVICE r20): `scoreCol` must be non-null. This path
    * filters NULL scores out (a typed Long group key cannot carry them),
    * while the batch psiBucket map would send a NULL score to a NULL
    * bucket row — so the prefix-equals-batch contract above holds only
    * for non-null score streams. Every gate caller derives the score
    * from qualityScore over non-null text (non-null by construction);
    * callers with nullable scores must pre-filter or pre-map NULLs
    * identically on both paths. */
  def psiBucketsStream(df: DataFrame, scoreCol: String,
                       buckets: Int = 10): DataFrame = {
    require(buckets >= 2 && buckets <= 1000, s"need 2 <= buckets <= 1000, got $buckets")
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val spark = df.sparkSession
    import spark.implicits._
    val prepared = df
      .filter(F.col(scoreCol).isNotNull)
      .select(graft.operators.Profile.psiBucket(F.col(scoreCol), buckets))
      .as[Long]
    prepared.groupByKey(identity)
      .flatMapGroupsWithState[Long, (Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) { (bucket, it, gs) =>
        var n = gs.getOption.getOrElse(0L)
        it.foreach(_ => n += 1)
        gs.update(n)
        Iterator.single((bucket, n))
      }
      .toDF("bucket", "n")
  }

  /** STREAMING priority-sample maintenance — the row-143 pattern for the
    * sampling tier ([[graft.operators.Sampling.prioritySample]], Duffield–
    * Lund–Thorup): the state a weighted-without-replacement sample needs
    * is exactly the top-(k+1) rows by (priority DESC, id ASC), and top-m
    * under a total order is merge-closed (top-m of a union = top-m of the
    * merged per-part top-ms), so it lives as flatMapGroupsWithState state
    * in an O(k) capped TreeSet — bounded at k+1 entries however much
    * stream passes. Priorities are computed by the SAME expression text
    * as the batch sampler ([[graft.operators.Sampling.priorityExpr]] —
    * two IEEE divisions, no libm), so the streamed candidate set is
    * bit-identical to the batch scan's.
    *
    * Emission: one snapshot of the candidate set per micro-batch with
    * `ver` = cumulative row count (strictly increasing); the max-`ver`
    * slice is the FINAL top-(k+1), and feeding those (id, weight) rows
    * back through the batch [[graft.operators.Sampling.prioritySample]]
    * recomputes rank, tau and `weight_est` on <= k+1 rows — the streamed
    * state is load-bearing (it decides the candidate set), the estimator
    * math is the audited batch operator, and the whole thing equals the
    * batch sample of the full stream (spec-pinned across micro-batches).
    * Replayed rows collapse in the TreeSet (same (priority, id, weight)
    * triple), matching the md5-determinism contract.
    *
    * Output rows: (ver, id, weight) — slice max-`ver`, rename, and pass
    * to `prioritySample`. */
  def prioritySampleStream(df: DataFrame, idCol: String, weightCol: org.apache.spark.sql.Column,
                           k: Int, seed: String = "graft"): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val spark = df.sparkSession
    import spark.implicits._
    val prepared = df
      .filter(F.col(idCol).isNotNull && weightCol.isNotNull)
      .select(F.col(idCol).cast("long"),
        weightCol.cast("double"),
        graft.operators.Sampling.priorityExpr(idCol, weightCol, seed))
      .as[(Long, Double, Double)]
    // State tuple: (priority, id, weight). Total order: priority DESC,
    // id ASC — the batch sampler's orderBy (priorities are positive
    // finite, so negation under TotalOrdering preserves the order).
    implicit val ord: Ordering[(Double, Long, Double)] =
      Ordering.by[(Double, Long, Double), (Double, Long)](t => (-t._1, t._2))(
        Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long))
    prepared.groupByKey(_ => 0)
      .flatMapGroupsWithState[(Long, Seq[(Double, Long, Double)]),
                              (Long, Long, Double)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) { (_, it, gs) =>
        val (n0, top0) = gs.getOption.getOrElse((0L, Seq.empty[(Double, Long, Double)]))
        val buf = scala.collection.mutable.TreeSet.empty[(Double, Long, Double)]
        top0.foreach(buf += _)
        var n = n0
        it.foreach { t =>
          n += 1
          buf += ((t._3, t._1, t._2))
          if (buf.size > k + 1) buf -= buf.last
        }
        val merged = buf.toSeq
        gs.update((n, merged))
        merged.iterator.map(x => (n, x._2, x._3))
      }
      .toDF("ver", "id", "weight")
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
