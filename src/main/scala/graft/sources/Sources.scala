package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}

/** Source adapters — Spark-native re-expression of malstrom's source API
  * (reference: malstrom-core/src/operators/source.rs, sources/).
  *
  * A [[GraftSource]] yields a batch DataFrame and, where meaningful, a
  * streaming one. Resumability (sources/stateful.rs) maps to Structured
  * Streaming's checkpointed file-source offsets; the batch equivalent is an
  * explicit offset predicate that the parquet scan pushes down.
  */
trait GraftSource extends Serializable {
  def load(spark: SparkSession): DataFrame
  /** Streaming variant; sources that cannot stream raise. */
  def loadStream(spark: SparkSession): DataFrame =
    throw new UnsupportedOperationException(s"$this is batch-only")
}

/** In-memory iterator source (sources/single_iterator.rs): a driver-side
  * finite sequence distributed via `spark.range` + pure projection — the
  * generator runs on executors, not the driver. */
final case class RangeSource(n: Long, numPartitions: Int = 4,
    rowsPerSecond: Long = 100000L) extends GraftSource {
  override def load(spark: SparkSession): DataFrame =
    spark.range(0, n, 1, numPartitions).toDF("i")

  /** The iterator as a STREAM (single_iterator.rs is a first-class stream
    * source in the reference): Spark's rate source supplies the monotonic
    * cursor, projected to the same `(i)` schema and bounded by a pushed
    * `i < n` predicate — the query emits 0..n-1 exactly once, then goes
    * quiet (a finite iterator over an open streaming channel; terminating
    * the query is the caller's choice, as with the reference's frontier). */
  override def loadStream(spark: SparkSession): DataFrame =
    spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond.toString)
      .option("numPartitions", numPartitions.toString)
      .load()
      .select(F.col("value").as("i"))
      .where(F.col("i") < n)
}

/** Format-agnostic file source — the ingestion formats a training-data
  * pipeline actually sees (jsonl, csv, text, orc, parquet) behind the
  * same [[GraftSource]] contract. `schemaDDL` is REQUIRED for the
  * streaming variant (Structured Streaming refuses inference) and
  * strongly recommended for batch on schemaless text formats, where
  * inference costs an extra full pass over the data — at 100 TB an
  * inferred schema is a second scan of the corpus. With the default
  * `parquet` format it is also the stateless file source
  * (sources/stateless.rs): each load re-reads `path` and keeps no offsets. */
final case class FileSource(path: String, format: String = "parquet",
    schemaDDL: Option[String] = None,
    options: Map[String, String] = Map.empty) extends GraftSource {
  override def load(spark: SparkSession): DataFrame = {
    val r = spark.read.format(format).options(options)
    schemaDDL.fold(r)(s => r.schema(s)).load(path)
  }
  override def loadStream(spark: SparkSession): DataFrame = {
    val ddl = schemaDDL.getOrElse(throw new IllegalArgumentException(
      "streaming file sources require an explicit schema DDL"))
    spark.readStream.format(format).options(options).schema(ddl).load(path)
  }
}

/** Resumable source (sources/stateful.rs): rows strictly after `offset` in
  * `offsetCol` order. Batch resume = a pushed-down range predicate; stream
  * resume = checkpointed offsets (see graft.streaming). */
final case class StatefulSource(path: String, offsetCol: String, startAfter: Long) extends GraftSource {
  override def load(spark: SparkSession): DataFrame =
    spark.read.parquet(path).filter(F.col(offsetCol) > startAfter)
}
