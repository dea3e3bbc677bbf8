package graft

import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the shape-adaptive events loader: the testdata generator has
  * shipped `events.ts` as parquet TIMESTAMP(NANOS) (a BIGINT under
  * `nanosAsLong`) and as plain TIMESTAMP(MICROS)/NTZ across rounds, and
  * `Tables.events` must normalize every shape to the same micro-precision
  * TimestampType under the UTC session timezone. */
class TablesSpec extends AnyFunSuite with SparkFixture {

  private val microsUtc = Seq(
    1700000000000000L, // 2023-11-14 22:13:20 UTC
    1700000000123456L,
    1701234567890123L)

  /** Write a one-table testdata dir whose events.parquet has `ts` of the
    * given writer, return the dir. */
  private def stage(name: String)(writeTs: java.io.File => Unit): String = {
    val dir = tempDir(s"tables_spec_$name").toFile
    writeTs(dir)
    dir.getAbsolutePath
  }

  private def readMicros(dir: String): Seq[Long] = Tables.withEvents(spark, dir) { got =>
    assert(got.schema("ts").dataType == TimestampType,
      s"normalized type, got ${got.schema("ts").dataType}")
    got.select(F.unix_micros(F.col("ts"))).collect().map(_.getLong(0)).toSeq.sorted
  }

  test("events.ts as TIMESTAMP_NTZ micros normalizes value-preserving") {
    val dir = stage("ntz") { d =>
      import spark.implicits._
      microsUtc.toDF("us")
        .select(
          F.monotonically_increasing_id().as("event_id"),
          F.timestamp_micros(F.col("us")).cast(TimestampNTZType).as("ts"))
        .coalesce(1).write.mode("overwrite").parquet(s"$d/events.parquet")
    }
    assert(readMicros(dir) == microsUtc.sorted)
  }

  test("events.ts as session-tz TIMESTAMP passes through untouched") {
    val dir = stage("tstz") { d =>
      import spark.implicits._
      microsUtc.toDF("us")
        .select(
          F.monotonically_increasing_id().as("event_id"),
          F.timestamp_micros(F.col("us")).as("ts"))
        .coalesce(1).write.mode("overwrite").parquet(s"$d/events.parquet")
    }
    assert(readMicros(dir) == microsUtc.sorted)
  }

  test("a stream gate runs on every ts shape, batch-identical") {
    // Drive q_stream_epochs over a micros-TIMESTAMP and a nano-epoch
    // events dir and pin each row-identical to the batch epoch
    // aggregation. The gate stages events once with ts normalized, so
    // the legacy nanos flag is set for that write only and must not
    // outlive the gate.
    import spark.implicits._
    val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"
    def events(ts: org.apache.spark.sql.Column) = microsUtc.toDF("us")
      .select(
        F.monotonically_increasing_id().as("event_id"),
        ts.as("ts"),
        F.lit(7L).as("user_id"),
        F.lit("click").as("event_type"),
        F.lit(1.5).as("value"),
        F.lit("{}").as("props"))
      .coalesce(1)
    val micros = stage("gate") { d =>
      // The generator ships events.parquet as a single FILE; write to a
      // scratch dir and move the one part-file into place.
      val scratch = s"$d/_scratch"
      events(F.timestamp_micros(F.col("us"))).write.mode("overwrite").parquet(scratch)
      val part = new java.io.File(scratch).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$d/events.parquet"))
    }
    val nanos = stage("gate_nanos") { d =>
      events(F.col("us") * 1000L + 789L).write.mode("overwrite").parquet(s"$d/events.parquet")
    }
    spark.conf.unset(nanosKey) // an earlier nanos-shape read may have left it on
    for (dir <- Seq(micros, nanos)) {
      val got = SparkEntry.queries("q_stream_epochs")(spark, dir)
        .select("event_type", "window_start", "n")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      // the gate's stage holds this JVM's temp dataset: drop it too
      SparkFixture.removeOnExit(SparkEntry.stagePath("graft_stream_events", dir, "events.parquet"))
      val leaked = spark.conf.getAll.get(nanosKey)
      assert(leaked.isEmpty, s"$nanosKey = $leaked outlived the gate on $dir")
      assert(got.nonEmpty, s"stream gate returned no rows on $dir")
      val batch = Tables.withEvents(spark, dir)(_
        .groupBy(F.col("event_type"), F.window(F.col("ts"), "1 hour"))
        .agg(F.count(F.lit(1)).as("n"))
        .select(
          F.col("event_type"),
          F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          F.col("n"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet)
      assert(got == batch, s"stream/batch divergence on $dir: $got vs $batch")
    }
  }

  test("events.ts as nano-epoch BIGINT truncates nanos to micros") {
    // The legacy generator shape: parquet TIMESTAMP(NANOS), which Spark
    // surfaces as LongType under nanosAsLong. Writing a plain BIGINT
    // exercises the identical LongType dispatch branch.
    val nanos = microsUtc.map(_ * 1000L + 789L) // sub-micro digits truncate
    val dir = stage("nanos") { d =>
      import spark.implicits._
      nanos.toDF("ts")
        .select(F.monotonically_increasing_id().as("event_id"), F.col("ts"))
        .coalesce(1).write.mode("overwrite").parquet(s"$d/events.parquet")
    }
    assert(readMicros(dir) == microsUtc.sorted)
  }
}
