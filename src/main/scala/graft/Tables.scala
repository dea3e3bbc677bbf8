package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Canonical loaders for the driver-generated test tables (TESTDATA.md).
  *
  * All tables are plain parquet. The driver has shipped `events.ts` in two
  * physical shapes across rounds: parquet TIMESTAMP(NANOS) (which Spark
  * rejects by default — read with `spark.sql.legacy.parquet.nanosAsLong`
  * and truncate nanos→micros) and plain TIMESTAMP(MICROS) with
  * isAdjustedToUTC=false (read as TIMESTAMP_NTZ). Both normalize to the
  * same micro-precision TimestampType under the UTC session timezone,
  * matching DuckDB's `CAST(ts AS TIMESTAMP)` bit-for-bit. This object is
  * the only reader of that shape: streaming gates read a stage written
  * from [[events]].
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

  private val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"

  /** events with `ts` normalized to micro-precision TimestampType,
    * whichever physical shape it was generated in (see class doc). The
    * on-disk type is sniffed from the footer with the legacy nanosAsLong
    * flag set for the sniff only. For the nanos shape the flag must stay
    * set through EXECUTION of the returned frame (the scan consults it
    * again), so only that shape leaves it on; [[withEvents]] scopes it. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    val ts = SessionConf.withConf(spark, nanosKey -> "true")(
      spark.read.parquet(path).schema("ts").dataType)
    ts match {
      // TIMESTAMP(NANOS): integral DIV, a double division loses large nano epochs
      case LongType =>
        spark.conf.set(nanosKey, "true")
        spark.read.parquet(path).withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
      // TIMESTAMP(MICROS), isAdjustedToUTC=true
      case TimestampType => spark.read.parquet(path)
      // isAdjustedToUTC=false: the UTC session tz makes the cast value-preserving
      case TimestampNTZType =>
        spark.read.parquet(path).withColumn("ts", F.col("ts").cast(TimestampType))
      // Fail fast on a generator shape the loader doesn't support (INT96,
      // string, date): a wildcard cast here would silently read garbage.
      case other => throw new IllegalStateException(
        s"events.ts has unsupported physical type $other; " +
          "expected TIMESTAMP(NANOS|MICROS) or TIMESTAMP_NTZ")
    }
  }

  /** `body` over [[events]] with the legacy nanos flag held for exactly
    * its duration: a body that executes the frame (a stage write) reads
    * the nanos shape, and the session does not keep the flag after. */
  def withEvents[A](spark: SparkSession, dir: String)(body: DataFrame => A): A =
    SessionConf.withConf(spark, nanosKey -> "true")(body(events(spark, dir)))

  /** Run `body`, one gate built and consumed, and then put the nanos flag
    * back as it was: [[events]] leaves it set on the nanos shape, and left
    * set it would make every later query in the JVM read parquet under
    * the legacy flag. Verify, Bench and ClusterSmoke run each gate in one. */
  def restoringNanosFlag[A](spark: SparkSession)(body: => A): A =
    SessionConf.withConf(spark, nanosKey -> "false")(body)

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
