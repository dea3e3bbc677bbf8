package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, KeyValueGroupedDataset, SparkSession}
import org.apache.spark.sql.{functions => F}

/** Offline streaming-state RESCALE: move a stopped query's keyed state to a
  * different shuffle-partition count — the Spark-native answer to the
  * reference's live state redistribution (malstrom-core/src/keyed/
  * distributed/message_router/{interrogate,collect,normal}.rs, where
  * workers migrate key ranges between themselves mid-job).
  *
  * Spark pins a stateful operator's state-store layout to the shuffle
  * partition count in force at the FIRST micro-batch of a checkpoint;
  * changing `spark.sql.shuffle.partitions` on restart is silently ignored
  * for state placement (StreamingSpec's rescale-restart test pins this).
  * Structured Streaming has no live migration, but it has the two halves
  * of an offline one:
  *
  *  1. the State Data Source reader (`format("statestore")`) exposes every
  *     (key, state) pair of a checkpoint as a DataFrame — partition-layout
  *     free, just rows;
  *  2. `flatMapGroupsWithState(..., initialState = ...)` seeds a FRESH
  *     query — and therefore a fresh checkpoint, laid out at the NEW
  *     partition count — from exactly such pairs.
  *
  * So the migration is: stop the query → [[StateRescale.readState]] the old
  * checkpoint → restart the SAME logic against a NEW checkpoint dir with
  * the new `spark.sql.shuffle.partitions` and
  * `initialState = ` the read state (StatefulExec.stream's `initialState`
  * hook). Keys hash-route to the new layout in one shuffle; processing
  * resumes with no state loss. For a FILE source, [[resume]] does all of
  * it in one call: the seed, the migration-point clock, and the source
  * files the old checkpoint had not consumed, staged for the new query.
  * For other sources the OFFSET progress is the caller's to carry over
  * (for replayable sources, resume from the offsets recorded in the old
  * checkpoint's `offsets/` log — [[lastCommittedOffsets]] surfaces them).
  *
  * Scale shape: the read is a parquet-like columnar scan of the state
  * files (no driver materialization), the re-seed is one hash exchange of
  * |keys| rows. For a 100 TB-keyed corpus this is a bounded batch job, not
  * a replay of history.
  */
object StateRescale {

  /** Raw (key, value, partition_id) rows of a checkpoint's state store,
    * operator `operatorId`'s default store (the layout
    * [[graft.operators.StatefulExec.stream]] writes). `batchId = None`
    * reads the latest snapshot, the offline (stopped-query) default.
    * `Some(n)` pins the read to committed batch n, which a zero-downtime
    * migration's warm-up export must do while the old query is STILL
    * RUNNING (docs/ZERO_DOWNTIME_MIGRATION.md phase 2): "latest" is a
    * moving target against a live checkpoint, but the snapshot files of
    * a committed batch are immutable. Use [[lastCommittedBatch]] for the
    * pin. */
  def readState(spark: SparkSession, checkpointDir: String,
                operatorId: Int = 0, batchId: Option[Long] = None): DataFrame = {
    val reader = spark.read.format("statestore").option("operatorId", operatorId)
    batchId.fold(reader)(reader.option("batchId", _)).load(checkpointDir)
  }

  /** The newest batch id with a COMMIT record — the only version a
    * concurrent state export may pin to (offsets/N exists BEFORE batch N
    * runs; commits/N only after its state is durable). None when nothing
    * ever committed. */
  def lastCommittedBatch(checkpointDir: String): Option[Long] =
    listNames(s"$checkpointDir/commits")
      .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong).maxOption

  /** The typed (key, state) pairs of a flatMapGroupsWithState checkpoint —
    * the input `initialState` wants. The state source returns structs; a
    * single-field struct (primitive K or S) unwraps to the value itself,
    * a multi-field struct stays a struct and decodes via the encoder. */
  def keyedState[K: Encoder, S: Encoder](
      spark: SparkSession, checkpointDir: String,
      operatorId: Int = 0, batchId: Option[Long] = None): Dataset[(K, S)] = {
    implicit val ksEnc: Encoder[(K, S)] =
      org.apache.spark.sql.Encoders.tuple(
        implicitly[Encoder[K]], implicitly[Encoder[S]])
    // a LIVE query's export must pin `batchId` (see [[readState]])
    val raw = readState(spark, checkpointDir, operatorId, batchId)
    import org.apache.spark.sql.types.StructType
    def unwrap(col: String): org.apache.spark.sql.Column = {
      var path = col
      var dt = raw.schema(col).dataType.asInstanceOf[StructType]
      // fMGWS value structs nest the user state under `groupState` next to
      // engine bookkeeping (timeoutTimestamp) — descend past it first.
      dt.fields.find(_.name == "groupState").foreach { gs =>
        path = s"$path.groupState"
        dt = gs.dataType.asInstanceOf[StructType]
      }
      // A single-field struct is a serialized PRIMITIVE (groupByKey on a
      // Long keys as {"value": long}) — unwrap one level so the tuple
      // encoder sees the primitive. (A one-field user case class would
      // unwrap too; such callers use [[readState]] and project by hand.)
      if (dt.fields.length == 1) F.col(s"$path.${dt.fields.head.name}")
      else F.col(path)
    }
    raw.select(unwrap("key").as("_1"), unwrap("value").as("_2")).as[(K, S)]
  }

  /** [[keyedState]] grouped for `initialState` — call under the NEW
    * `spark.sql.shuffle.partitions`; the grouping is what hash-routes every
    * key into the new layout. */
  def initialStateFrom[K: Encoder, S: Encoder](
      spark: SparkSession, checkpointDir: String,
      operatorId: Int = 0, batchId: Option[Long] = None): KeyValueGroupedDataset[K, S] =
    keyedState[K, S](spark, checkpointDir, operatorId, batchId)
      .groupByKey(_._1).mapValues(_._2)

  // Checkpoint-dir listings go through graft.HadoopFs (session conf) — a
  // java.io.File probe on an hdfs://-or-s3a checkpoint (the scale this
  // tool exists for) silently returns null and would report
  // "0 partitions / no offsets" instead of failing.
  private def listNames(path: String): Seq[String] = {
    val (f, p) = graft.HadoopFs.get(path)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq.map(_.getPath.getName)
  }

  /** The number of state partitions a checkpoint is pinned to — `state/
    * <operatorId>/<partitionId>/` directory fan-out. The before/after
    * witness that a migration actually changed the layout. */
  def statePartitionCount(checkpointDir: String, operatorId: Int = 0): Int =
    listNames(s"$checkpointDir/state/$operatorId")
      .count(_.forall(_.isDigit))

  /** The source offsets of the last COMMITTED batch — what a caller
    * resumes a replayable source from after migrating state to the new
    * checkpoint. Returns the raw per-source JSON lines of that batch's
    * `offsets/` entry.
    *
    * Committed, not newest: Structured Streaming writes `offsets/N`
    * BEFORE running batch N and `commits/N` only after it completes, so
    * after a crash the newest offsets file can be one batch AHEAD of the
    * state the checkpoint actually holds — resuming from it would skip
    * that batch's input range entirely (in neither the migrated state
    * nor the replayed stream). The commits/ log is the truth the state
    * reader itself reflects. */
  def lastCommittedOffsets(checkpointDir: String): Seq[String] =
    lastCommittedBatch(checkpointDir).toSeq.flatMap { batch =>
      raw(offsetsFile(checkpointDir, batch))
        // line 0 is the version header ("v1"), line 1 the metadata JSON;
        // the per-source offset JSONs follow.
        .split("\n").toSeq.drop(2).filter(_.nonEmpty)
    }

  /** The event-time watermark the last committed batch had reached
    * (0 when the query had no watermark). This is the MIGRATION-POINT
    * clock a TTL'd re-seed arms expiry from —
    * [[graft.operators.StatefulExec.streamTws]]'s `initialStateTimeMs`.
    * None when nothing was ever committed.
    *
    * Read from the COMMIT log's `nextBatchWatermarkMs` — the frontier the
    * batch ADVANCED TO — not the offsets metadata's `batchWatermarkMs`,
    * which is the frontier the batch STARTED AT (offsets are written
    * pre-batch). For a query stopped after batch N with no successor
    * batch, the pre-batch value under-reports by one whole batch of
    * events: a single-batch AvailableNow run would report 0 and a TTL'd
    * re-seed armed from it would expire every migrated key one batch of
    * event-time too early. Falls back to the offsets metadata for a
    * commit entry without the field. */
  def lastWatermarkMs(checkpointDir: String): Option[Long] =
    lastCommittedBatch(checkpointDir).flatMap { batch =>
      val fromCommit =
        "\"nextBatchWatermarkMs\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(
          raw(s"$checkpointDir/commits/$batch")).map(_.group(1).toLong)
      fromCommit.orElse {
        val meta = raw(offsetsFile(checkpointDir, batch)).split("\n")
        "\"batchWatermarkMs\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(
          meta.lift(1).getOrElse("")).map(_.group(1).toLong)
      }
    }

  /** The input files a stopped query's FILE source had consumed as of its
    * last COMMITTED batch — the complement (files present in the source
    * directory but absent here) is exactly what a migrated query must
    * still read. This turns [[lastCommittedOffsets]] into an actionable
    * resume for the file source: its offset is a `logOffset` INDEX into
    * the checkpoint's `sources/<i>/` metadata log, whose entries list the
    * files of each batch; committed files = the union of entries at
    * log positions <= logOffset.
    *
    * `sourceIdx` is the source's position among the query's streaming
    * sources (0 for a single-source query). Returns the paths exactly as
    * the log records them (absolute URIs, e.g. `file:///...`); callers
    * comparing against a directory listing should normalize both sides
    * through `new Path(uri)`.
    *
    * Scale shape: the metadata log is bounded by file COUNT, not data
    * size (one JSON line per input file; Spark compacts every 10 batches
    * into `N.compact` snapshots, which this reader accepts — a compact
    * entry re-lists earlier files, and the union is deduped). */
  def consumedFiles(checkpointDir: String, sourceIdx: Int = 0): Seq[String] = {
    val offsets = lastCommittedOffsets(checkpointDir)
    if (offsets.size <= sourceIdx) return Seq.empty
    val off = offsets(sourceIdx)
    val logOffset = "\"logOffset\"\\s*:\\s*(-?\\d+)".r
      .findFirstMatchIn(off).map(_.group(1).toLong).getOrElse(
        throw new IllegalStateException(
          s"source $sourceIdx offset is not a file-source logOffset: $off"))
    val dir = s"$checkpointDir/sources/$sourceIdx"
    val pathRe = "\"path\"\\s*:\\s*\"((?:[^\"\\\\]|\\\\.)*)\"".r
    val entries = listNames(dir)
      .map(n => (n, n.stripSuffix(".compact"), n.endsWith(".compact")))
      .collect { case (n, base, c) if base.nonEmpty && base.forall(_.isDigit) =>
        (n, base.toLong, c) }
    // Coverage check (ADVICE r14): a long-running query compacts every N
    // batches and DELETES per-batch entries past minBatchesToRetain — if
    // the newest retained data for batches <= logOffset lives only
    // inside a compact whose index EXCEEDS logOffset, the naive
    // "entries <= logOffset" union under-reports and an offset-derived
    // resume would re-read (double-count) already-consumed files.
    // Batch i is covered by a plain entry i, or by any compact >= i
    // (a compact re-lists all earlier files).
    val maxCompactLe = entries.collect { case (_, b, true) if b <= logOffset => b }
      .foldLeft(-1L)(math.max)
    val plainLe = entries.collect { case (_, b, false) if b <= logOffset => b }.toSet
    val uncovered = ((maxCompactLe + 1) to logOffset).filterNot(plainLe.contains)
    val listed = entries.flatMap { case (n, b, _) =>
      if (b <= logOffset) pathRe.findAllMatchIn(raw(s"$dir/$n")).map(_.group(1)).toSeq
      else Seq.empty
    }
    if (uncovered.isEmpty) listed.distinct
    else {
      // retention dropped per-batch entries: recover them from the
      // OLDEST compact past logOffset, whose entries carry their batchId
      val later = entries.collect { case (_, b, true) if b > logOffset => b }
      if (later.isEmpty) throw new IllegalStateException(
        s"source $sourceIdx metadata log is missing entries for batches " +
          s"${uncovered.mkString(",")} (<= logOffset $logOffset) and has no " +
          "later compact to recover them from — refusing to under-report " +
          "consumed files (a resume would double-read them)")
      val batchRe = "\"batchId\"\\s*:\\s*(-?\\d+)".r
      val fromCompact = raw(s"$dir/${later.min}.compact").split("\n").toSeq
        .flatMap { line => // one JSON entry per line; field order free
          for {
            p <- pathRe.findFirstMatchIn(line).map(_.group(1))
            b <- batchRe.findFirstMatchIn(line).map(_.group(1).toLong)
            if b <= logOffset
          } yield p
        }
      (fromCompact ++ listed).distinct
    }
  }

  /** What a resumed query needs from [[resume]]: the source files the old
    * checkpoint had not consumed, in replay order; the `initialState`
    * seed; and the migration-point clock for `initialStateTimeMs`. */
  final case class Resumed[K, S](
      unconsumed: Seq[String],
      initialState: KeyValueGroupedDataset[K, S],
      initialStateTimeMs: Option[Long])

  /** Resume a STOPPED keyed stream over a file source at a new partition
    * count: the data files under `sourceDir` that `checkpointDir` had not
    * consumed ([[consumedFiles]]) are copied into `restDir` in arrival
    * (mtime) order, each with a strictly later mtime than the one before,
    * so a file source on `restDir` replays them in that order; the seed is
    * [[initialStateFrom]] and the clock [[lastWatermarkMs]]. Call it under
    * the NEW `spark.sql.shuffle.partitions`, as [[initialStateFrom]]
    * requires; the engine, the logic and the new checkpoint stay the
    * caller's.
    *
    * Data files are those Spark's file source reads: names starting with
    * `_` or `.` (markers, checksums, `_temporary`) are skipped, at any
    * depth. Paths compare qualified, so an `hdfs://` source works. A
    * consumed file outside `sourceDir` is refused: it says `sourceDir` is
    * not the old query's source, and a resume from it would re-read
    * consumed input and double every total. */
  def resume[K: Encoder, S: Encoder](spark: SparkSession, checkpointDir: String,
      sourceDir: String, restDir: String): Resumed[K, S] = {
    import org.apache.hadoop.fs.{FileStatus, FileUtil, Path}
    val (fs, dir) = graft.HadoopFs.get(sourceDir)
    val root = fs.makeQualified(dir)
    def under(p: Path): Boolean = p != null && (p == root || under(p.getParent))
    val consumed = consumedFiles(checkpointDir)
      .map(new Path(_).makeQualified(fs.getUri, fs.getWorkingDirectory)).toSet
    consumed.find(!under(_)).foreach(p => throw new IllegalStateException(
      s"$checkpointDir consumed $p, which is not under $root: resuming from " +
        "that source would re-read consumed input"))
    def dataFiles(d: Path): Seq[FileStatus] =
      fs.listStatus(d).toSeq
        .filterNot(st => st.getPath.getName.startsWith("_") || st.getPath.getName.startsWith("."))
        .flatMap(st => if (st.isDirectory) dataFiles(st.getPath) else Seq(st))
    val rest = dataFiles(root).filterNot(st => consumed(st.getPath))
      .sortBy(st => (st.getModificationTime, st.getPath.toString))
    val (restFs, restRoot) = graft.HadoopFs.get(restDir)
    restFs.mkdirs(restRoot)
    // one second apart at least: a file source orders by mtime, and some
    // stores keep it at second granularity
    rest.zipWithIndex.foldLeft(Long.MinValue) { case (prev, (st, i)) =>
      val dst = new Path(restRoot, f"part-$i%05d-${st.getPath.getName}")
      FileUtil.copy(fs, st.getPath, restFs, dst, false, false, graft.HadoopFs.sessionConf())
      val mtime = math.max(st.getModificationTime, prev + 1000L)
      restFs.setTimes(dst, mtime, -1L)
      mtime
    }
    Resumed(rest.map(_.getPath.toString),
      initialStateFrom[K, S](spark, checkpointDir), lastWatermarkMs(checkpointDir))
  }

  private def offsetsFile(checkpointDir: String, batch: Long): String = {
    val path = s"$checkpointDir/offsets/$batch"
    val (f, p) = graft.HadoopFs.get(path)
    // A commit whose offsets entry is gone is a CORRUPT checkpoint
    // (partial copy, manual cleanup) — returning empty here would be
    // indistinguishable from "nothing to resume" and send the caller
    // back to earliest, double-applying everything already in the
    // migrated state. Fail loudly instead.
    if (!f.exists(p)) throw new IllegalStateException(
      s"checkpoint has commits/$batch but no offsets/$batch — corrupt " +
        "checkpoint; refusing to guess resume offsets")
    path
  }

  private def raw(path: String): String = {
    val (f, p) = graft.HadoopFs.get(path)
    val in = f.open(p)
    try new String(
      org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
    finally in.close()
  }
}
