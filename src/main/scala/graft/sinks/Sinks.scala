package graft.sinks


import org.apache.spark.sql.{DataFrame, Row, SaveMode}

/** Sink adapters — Spark-native re-expression of malstrom's sink API
  * (reference: malstrom-core/src/operators/sink.rs, sinks/).
  */
trait GraftSink extends Serializable {
  def write(df: DataFrame): Unit
}

/** sinks/stdout.rs — print up to `limit` rows (diagnostics only). */
final case class StdoutSink(limit: Int = 20, truncate: Boolean = false) extends GraftSink {
  override def write(df: DataFrame): Unit = df.show(limit, truncate)
}

/** sinks/vec_sink.rs — collect into a driver-side buffer. TEST-ONLY by
  * design (malstrom's VecSink is, too): the one deliberate `collect()` in
  * the codebase, never part of an operator path. */
final class VecSink extends GraftSink {
  private val buf = scala.collection.mutable.ArrayBuffer.empty[Row]
  override def write(df: DataFrame): Unit = buf ++= df.collect()
  def rows: Seq[Row] = buf.toSeq
  def clear(): Unit = buf.clear()
}

/** Plain file sink, no state (examples/file_sink_stateless.rs). */
final case class FileSink(path: String, format: String = "parquet") extends GraftSink {
  override def write(df: DataFrame): Unit =
    df.write.mode(SaveMode.Overwrite).format(format).save(path)
}

/** sinks/stateful.rs — exactly-once-style sink: parquet write + a commit
  * manifest carrying an epoch id. A re-run with the same epoch is a no-op
  * (idempotent replay, the batch analogue of malstrom's snapshot-consistent
  * sink state); streaming gets the same property from `foreachBatch` +
  * `batchId` (see graft.streaming.StreamingOps.exactlyOnceParquetSink).
  */
final case class StatefulParquetSink(path: String) extends GraftSink {
  // Manifest I/O through the Hadoop FS API so the commit lives NEXT TO the
  // data on hdfs://-style paths too — a java.nio probe on such a path
  // reads the driver's LOCAL filesystem, where the manifest never exists,
  // and every replay would silently re-write (idempotence gone).
  // The FS is resolved with the SESSION's hadoopConfiguration, not a bare
  // `new Configuration()`: spark.hadoop.* overrides (fs.defaultFS, s3a
  // credentials) only live in the session conf, and the data write below
  // goes through Spark — a scheme-less path with fs.defaultFS set would
  // otherwise put data on HDFS while the manifest probe hit local disk,
  // so committedEpoch would never be found and every replay re-writes.
  private def fsAndPath(conf: org.apache.hadoop.conf.Configuration)
      : (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    val p = new org.apache.hadoop.fs.Path(path, "_graft_commit.json")
    (p.getFileSystem(conf), p)
  }

  /** Session-conf convenience form; the write paths use the DF-specific
    * overload so probe and write can never resolve different filesystems
    * (getActiveSession is thread-local — with two sessions, a probe via
    * the "wrong" one would never find the manifest the write created and
    * every replay would silently re-write). */
  def committedEpoch: Option[Long] =
    committedEpoch(graft.HadoopFs.sessionConf())

  private def committedEpoch(conf: org.apache.hadoop.conf.Configuration): Option[Long] = {
    val (fs, p) = fsAndPath(conf)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val raw = try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in))
      finally in.close()
      // Tolerate a torn/empty manifest (crash mid-write): treat as
      // uncommitted rather than NumberFormatException-ing every write.
      val digits = raw.replaceAll("[^0-9-]", "")
      if (digits.isEmpty || digits == "-") None else Some(digits.toLong)
    }
  }

  /** Epoch-less [[GraftSink]] interface: each call is the NEXT epoch (a
    * pinned epoch here would make every write after the first a silent
    * replay no-op — new data lost while the job reports success). One
    * manifest probe total: the next epoch is computed and written under
    * df's OWN Hadoop conf, and the guard in the delegate is satisfied
    * locally rather than re-reading the manifest (each probe is a remote
    * open+read on object stores). */
  override def write(df: DataFrame): Unit = {
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    writeGuarded(df, committedEpoch(conf).map(_ + 1L).getOrElse(0L), conf,
      alreadyChecked = true)
  }

  def write(df: DataFrame, epoch: Long): Unit =
    writeGuarded(df, epoch, df.sparkSession.sparkContext.hadoopConfiguration,
      alreadyChecked = false)

  private def writeGuarded(df: DataFrame, epoch: Long,
                           conf: org.apache.hadoop.conf.Configuration,
                           alreadyChecked: Boolean): Unit = {
    if (!alreadyChecked && committedEpoch(conf).exists(_ >= epoch)) return // replay → no-op
    df.write.mode(SaveMode.Overwrite).parquet(path)
    // Same conf the data write just used — manifest and data must resolve
    // to the same filesystem or the idempotence check above is fiction.
    val (fs, p) = fsAndPath(conf)
    val out = fs.create(p, true)
    try out.write(s"""{"epoch": $epoch}""".getBytes) finally out.close()
  }
}
