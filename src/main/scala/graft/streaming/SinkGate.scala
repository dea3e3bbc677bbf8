package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode}

/** Gated exactly-once parquet sink — the cutover half of the
  * zero-downtime migration recipe (docs/ZERO_DOWNTIME_MIGRATION.md,
  * phase 3): the NEW job runs and commits batches normally, but nothing
  * becomes publicly visible until the fencing check passes (old job
  * drained to the fence AND new job caught up past it), at which point
  * [[open]] publishes everything staged — and every batch after that
  * publishes as it lands.
  *
  * Mechanics: [[sink]] is a foreachBatch body that stages each batch to
  * `stageDir/batch=<id>` through [[StreamingOps.markerGated]], the repo's
  * idempotent per-batch marker gate (a replayed batch whose stage
  * `_SUCCESS` exists is a no-op),
  * then publishes immediately IF the gate is already open. [[open]]
  * flips the gate and publishes the backlog: for each staged batch
  * without a publish marker, data files copy first and `_SUCCESS` LAST —
  * readers of `publishDir` never see a half-published batch (the same
  * marker-last discipline every sink in this repo uses). Both staging
  * and publishing are idempotent, so a crash anywhere replays cleanly:
  * re-staging no-ops on the marker, re-publishing skips batches whose
  * publish `_SUCCESS` exists and re-copies partial ones (same file
  * names, overwrite).
  *
  * Driver-side state is ONE boolean; the gate survives driver restart
  * closed (conservative: a restarted driver re-checks the fence before
  * re-opening — the check is cheap and the alternative is publishing on
  * a stale decision). Single-writer per (stageDir, publishDir), as for
  * every persisted artifact in this repo.
  */
final class SinkGate(stageDir: String, publishDir: String) {

  @volatile private var opened = false

  /** foreachBatch body: stage exactly-once, publish-through when open. */
  def sink: (DataFrame, Long) => Unit = { (batch: DataFrame, batchId: Long) =>
    StreamingOps.markerGated(stageDir) { (b, target) =>
      b.write.mode(SaveMode.Overwrite).parquet(target)
    }(batch, batchId)
    if (opened) publishBacklog()
  }

  /** Flip the gate open and publish everything staged. Idempotent;
    * callers invoke it once their fencing check passes. */
  def open(): Unit = { opened = true; publishBacklog() }

  def isOpen: Boolean = opened

  private def publishBacklog(): Unit = synchronized {
    val (fs, sp) = graft.HadoopFs.get(stageDir)
    if (!fs.exists(sp)) return
    val staged = fs.listStatus(sp).filter(_.isDirectory)
      .map(_.getPath)
      .filter { p =>
        val suffix = p.getName.stripPrefix("batch=")
        p.getName.startsWith("batch=") && suffix.nonEmpty && suffix.forall(_.isDigit)
      }
      // only FULLY staged batches publish; a mid-stage crash leaves no
      // _SUCCESS and the replay re-stages it first
      .filter(p => fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")))
      // NUMERIC batch order (lexicographic puts batch=10 before batch=2):
      // a crash mid-open must leave a CONTIGUOUS published prefix, never
      // later batches visible with earlier ones missing (review r15)
      .sortBy(p => p.getName.stripPrefix("batch=").toLong)
    staged.foreach { src =>
      val dst = new org.apache.hadoop.fs.Path(s"$publishDir/${src.getName}")
      val marker = new org.apache.hadoop.fs.Path(dst, "_SUCCESS")
      if (!fs.exists(marker)) {
        fs.mkdirs(dst)
        val files = fs.listStatus(src).filter(_.isFile).map(_.getPath)
        // data files first, the marker strictly LAST
        val (markers, data) = files.partition(_.getName == "_SUCCESS")
        (data ++ markers).foreach { f =>
          org.apache.hadoop.fs.FileUtil.copy(
            fs, f, fs, new org.apache.hadoop.fs.Path(dst, f.getName),
            false, true, graft.HadoopFs.sessionConf())
        }
      }
    }
  }
}
