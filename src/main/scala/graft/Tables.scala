package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}

/** Canonical loaders for the driver-generated test tables (TESTDATA.md).
  *
  * All tables are plain parquet. The driver has shipped `events.ts` in two
  * physical shapes across rounds: parquet TIMESTAMP(NANOS) (which Spark
  * rejects by default — read with `spark.sql.legacy.parquet.nanosAsLong`
  * and truncate nanos→micros) and plain TIMESTAMP(MICROS) with
  * isAdjustedToUTC=false (read as TIMESTAMP_NTZ). Both normalize to the
  * same micro-precision TimestampType under the UTC session timezone,
  * matching DuckDB's `CAST(ts AS TIMESTAMP)` bit-for-bit.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    name match {
      case "events" => events(spark, dir)
      case n        => spark.read.parquet(s"$dir/$n.parquet")
    }

  /** The physical shape `events.ts` was generated with. ONE dispatch point
    * shared by the batch loader below and the streaming reader
    * (SparkEntry.eventsStream) — two hand-rolled copies of this sniff
    * diverged once already (the streaming copy lacked the adjusted-to-UTC
    * branch, so a generator flip would have crashed only the stream gates). */
  sealed trait TsShape
  object TsShape {
    case object NanosAsLong extends TsShape // TIMESTAMP(NANOS), BIGINT under nanosAsLong
    case object Micros extends TsShape      // TIMESTAMP(MICROS), isAdjustedToUTC=true
    case object Ntz extends TsShape         // TIMESTAMP(MICROS), isAdjustedToUTC=false
  }

  private val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"

  /** Sniff the on-disk ts type of `<dir>/events.parquet` (footer-only
    * read), with the legacy nanosAsLong flag set only for the sniff. */
  def tsShape(spark: SparkSession, dir: String): TsShape =
    SessionConf.withConf(spark, nanosKey -> "true") {
      spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType         => TsShape.NanosAsLong
        case org.apache.spark.sql.types.TimestampType    => TsShape.Micros
        case org.apache.spark.sql.types.TimestampNTZType => TsShape.Ntz
        // Fail fast on a generator shape the loader doesn't support (INT96,
        // string, date): a wildcard→Ntz here would silently cast garbage.
        case other => throw new IllegalStateException(
          s"events.ts has unsupported physical type $other; " +
            "expected TIMESTAMP(NANOS|MICROS) or TIMESTAMP_NTZ")
      }
    }

  /** Normalize a frame's `ts` column of the given shape to micro-precision
    * TimestampType (integral `DIV` for the nanos truncation — a double
    * division would lose precision on large nano epochs; UTC session tz
    * makes the NTZ cast value-preserving). */
  def normalizeTs(shape: TsShape, df: DataFrame): DataFrame = shape match {
    case TsShape.NanosAsLong =>
      df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    case TsShape.Micros => df
    case TsShape.Ntz =>
      df.withColumn("ts", F.col("ts").cast(org.apache.spark.sql.types.TimestampType))
  }

  /** events with `ts` normalized to micro-precision TimestampType,
    * whichever physical shape the driver generated (see class doc). For
    * the legacy nanos shape the flag must stay set through EXECUTION of
    * the returned frame (the scan consults it again), so only that shape
    * leaves it on — callers in that regime wrap execution in
    * SparkEntry.withNanosAsLong anyway. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val shape = tsShape(spark, dir)
    if (shape == TsShape.NanosAsLong) spark.conf.set(nanosKey, "true")
    normalizeTs(shape, spark.read.parquet(s"$dir/events.parquet"))
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "embeddings")
}
