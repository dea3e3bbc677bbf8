package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Columns the driver's pandas oracle cannot hash: its factorize step
    * dies on array/map/struct cells. Returns the offending column names —
    * empty means the schema honors the harness contract. Applies to
    * ORACLE-able queries only; rows-only gates may return any shape. */
  def nonScalarColumns(schema: StructType): Seq[String] =
    schema.fields.collect {
      case f if f.dataType.isInstanceOf[ArrayType] ||
        f.dataType.isInstanceOf[MapType] ||
        f.dataType.isInstanceOf[StructType] => f.name
    }.toSeq

  /** Harness contract: an oracle-graded gate returning a complex column
    * would crash the driver's compare AFTER this dump and grade as
    * silently untested. Fail it here, visibly, instead. */
  def requireScalarIfGraded(name: String, schema: StructType): Unit = {
    val bad = nonScalarColumns(schema)
    if (SparkEntry.oracleSql.contains(name) && bad.nonEmpty)
      throw new IllegalStateException(
        s"oracle-graded query $name emits non-scalar columns ${bad.mkString(",")}" +
          " — serialize or explode them (driver oracle hashes scalars only)")
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional third arg: comma-separated gate names (local iteration aid;
    // the driver always runs the full set). An unknown name fails the run.
    val only: Option[Set[String]] =
      args.lift(2).map(a => SparkEntry.gatesNamed(a.split(",").toSeq).map(_.name).toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config(HadoopFs.forkFreeLocalConfs)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Stage the tokenizer encode streams the oracle SQL folds over
    // (referenced as __STAGE__/<name>; substituted below). Written
    // BEFORE the queries run so a stage failure surfaces here, and
    // keyed by the sf directory's path so runs over different datasets
    // never read each other's rows. Skipped when a restricted run selects
    // no query that reads the stage.
    val stageBase = SparkEntry.oracleStageRoot(sfDir).toString
    SparkEntry.oracleStages.foreach { case (name, fn) =>
      val needed = SparkEntry.oracleSql.exists { case (q, sql) =>
        sql.contains(s"__STAGE__/$name") && only.forall(_.contains(q))
      }
      if (needed)
        try fn(spark, sfDir).write.mode("overwrite")
          .parquet(s"$stageBase/$name")
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[verify] stage $name failed: ${e.getMessage}")
        }
    }
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try Tables.restoringNanosFlag(spark) {
        val df = fn(spark, sfDir)
        requireScalarIfGraded(name, df.schema)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // A failed query must leave NO output: in a reused outDir the
        // previous run's parquet would otherwise survive here and the
        // downstream compare would grade stale-but-correct data as a
        // pass for code that currently throws.
        val stale = Paths.get(s"$outDir/$name")
        if (Files.exists(stale)) {
          import scala.jdk.CollectionConverters._
          // Files.walk holds directory handles until closed — leaking
          // one per failed query lasts the whole driver process.
          val walk = Files.walk(stale)
          try walk.iterator().asScala.toSeq.reverse
            .foreach(p => Files.deleteIfExists(p))
          finally walk.close()
        }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) =>
        s"${q(k)}: ${q(v.replace("__STAGE__", stageBase))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
