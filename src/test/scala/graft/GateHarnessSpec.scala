package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite

/** The chores every gate shares, each written once: staging inputs per
  * source version, memoizing a built index, scoping a session conf. */
class GateHarnessSpec extends AnyFunSuite with SparkFixture {

  /** A fresh dataset dir holding a one-file `t.parquet` table to key on. */
  private def dataset(): String = {
    val dir = tempDir("graft_harness_ds_")
    Files.writeString(dir.resolve("t.parquet"), "x")
    dir.toString
  }

  /** A stage part that writes one data file and its `_SUCCESS` marker. */
  private def part(writes: collection.mutable.Buffer[String], tag: String): String => Unit = { p =>
    val d = Files.createDirectories(Path.of(p))
    Files.writeString(d.resolve("data"), tag)
    Files.writeString(d.resolve("_SUCCESS"), "")
    writes += tag
  }

  test("a multi-part stage is reused once whole; one whose last part lacks _SUCCESS is wiped and rebuilt") {
    val ds = dataset()
    val writes = collection.mutable.Buffer.empty[String]
    def stage() = SparkEntry.stageOnce("graft_harness_stage", ds, "t.parquet")(
      part(writes, "a"), part(writes, "b"), part(writes, "c"))
    val root = SparkFixture.removeOnExit(stage())
    assert(writes == Seq("a", "b", "c"))
    val mtimes = Seq("b1", "b2", "b3").map(b => root.resolve(b).resolve("data").toFile.lastModified())
    assert(mtimes == mtimes.sorted && mtimes.distinct.size == 3,
      s"parts must carry ascending mtimes: $mtimes")
    assert(stage() == root && writes.size == 3, "a finished stage must be reused")

    // a crash after the first parts: the last marker never landed
    Files.delete(root.resolve("b3").resolve("_SUCCESS"))
    Files.writeString(root.resolve("b1").resolve("stray"), "half-written")
    stage()
    assert(writes == Seq("a", "b", "c", "a", "b", "c"), "every part must be written again")
    assert(!Files.exists(root.resolve("b1").resolve("stray")), "the stage must be wiped first")
    assert(Files.exists(root.resolve("b3").resolve("_SUCCESS")))
  }

  test("a new version of the source table gets a new stage") {
    val ds = dataset()
    val writes = collection.mutable.Buffer.empty[String]
    val first = SparkEntry.stageOnce("graft_harness_stage", ds, "t.parquet")(part(writes, "v1"))
    Files.writeString(Path.of(ds, "t.parquet"), "regenerated")
    val second = SparkEntry.stageOnce("graft_harness_stage", ds, "t.parquet")(part(writes, "v2"))
    Seq(first, second).foreach(SparkFixture.removeOnExit)
    assert(first != second && writes == Seq("v1", "v2"))
    assert(Files.readString(second.resolve("data")) == "v2")
  }

  test("an index memo rebuilds when its marker is gone") {
    val marker = tempDir("graft_harness_idx_").resolve("_SUCCESS")
    var builds = 0
    def build() = SparkEntry.indexOnce("graft_harness_marker", "k1", Files.exists(marker)) {
      builds += 1
      Files.writeString(marker, "")
    }
    build(); build()
    assert(builds == 1, "a built index with its marker in place must be reused")
    Files.delete(marker)
    build()
    assert(builds == 2, "a missing marker must force a rebuild")
    SparkEntry.indexOnce("graft_harness_marker", "k2", Files.exists(marker))(builds += 1)
    assert(builds == 3, "another key must force a rebuild")
  }

  test("an index build that throws leaves the memo unset") {
    var builds = 0
    val e = intercept[IllegalStateException] {
      SparkEntry.indexOnce("graft_harness_throw", "k", exists = true) {
        builds += 1
        throw new IllegalStateException("build failed")
      }
    }
    assert(e.getMessage == "build failed")
    SparkEntry.indexOnce("graft_harness_throw", "k", exists = true)(builds += 1)
    assert(builds == 2, "the call after a failed build must build again")
    SparkEntry.indexOnce("graft_harness_throw", "k", exists = true)(builds += 1)
    assert(builds == 2, "a finished build must be reused")
  }

  test("withConf restores a set key and unsets an absent one, also when the body throws") {
    val (set, absent) = ("spark.graft.harness.set", "spark.graft.harness.absent")
    spark.conf.set(set, "before")
    spark.conf.unset(absent)
    intercept[IllegalStateException] {
      SessionConf.withConf(spark, set -> "inside", absent -> "inside") {
        assert(spark.conf.get(set) == "inside" && spark.conf.get(absent) == "inside")
        throw new IllegalStateException("body failed")
      }
    }
    assert(spark.conf.getOption(set).contains("before"))
    assert(spark.conf.getOption(absent).isEmpty, "a key without a prior value must be unset")
    assert(SessionConf.withConf(spark, set -> "again")(spark.conf.get(set)) == "again")
    assert(spark.conf.getOption(set).contains("before"))
    spark.conf.unset(set)
  }

  test("q_sink_stateful grades each dataset on its own rows, also when two share a basename") {
    val filtered = tempDir("graft_harness_sink_").resolve("sf0.001")
    spark.read.parquet(s"$sf001/documents.parquet")
      .filter(F.col("doc_id") % 3 === 0)
      .write.parquet(filtered.resolve("documents.parquet").toString)
    Seq(sf001, filtered.toString).foreach { dir =>
      val expected = spark.read.parquet(s"$dir/documents.parquet")
        .groupBy(F.col("source")).count()
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      val got = SparkEntry.queries("q_sink_stateful")(spark, dir)
        .collect().map(r => (r.getAs[String]("source"), r.getAs[Long]("n_docs"))).toSet
      assert(got == expected, s"$dir: sink rows $got, table rows $expected")
    }
  }
}
