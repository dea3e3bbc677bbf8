package graft

import java.util.concurrent.CountDownLatch

import org.apache.spark.sql.graftbridge.CacheBridge
import org.apache.spark.sql.{functions => F}
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** CacheScope contract: scoped release, result durability, per-thread
  * isolation, and the session-wide invariant that no gate query leaks a
  * plan into the SQL cache manager. */
class CacheScopeSpec extends AnyFunSuite with SparkFixture {

  test("scoped releases the caches its body materialized; result survives") {
    import spark.implicits._
    var tracked: org.apache.spark.sql.DataFrame = null
    val out = CacheScope.scoped {
      tracked = CacheScope.materialize((1 to 100).toDF("v"))
      tracked.select(F.sum($"v").as("s"))
    }
    assert(tracked.storageLevel == StorageLevel.NONE, "index cache not released at scope exit")
    assert(out.collect().head.getLong(0) == 5050L, "checkpointed result unreadable after release")
  }

  test("scopedWith hands the result to its consumer, then releases on return or throw") {
    import spark.implicits._
    var tracked: org.apache.spark.sql.DataFrame = null
    val sum = CacheScope.scopedWith {
      tracked = CacheScope.materialize((1 to 100).toDF("v"))
      tracked.select(F.sum($"v").as("s"))
    } { result =>
      assert(tracked.storageLevel != StorageLevel.NONE, "cache released before the consumer ran")
      result.collect().head.getLong(0)
    }
    assert(sum == 5050L)
    assert(tracked.storageLevel == StorageLevel.NONE, "cache not released after the consumer returned")
    val failed = intercept[IllegalStateException] {
      CacheScope.scopedWith {
        tracked = CacheScope.materialize((1 to 10).toDF("v"))
        tracked
      } { _ => throw new IllegalStateException("consumer failed") }
    }
    assert(failed.getMessage == "consumer failed")
    assert(tracked.storageLevel == StorageLevel.NONE, "cache not released after the consumer threw")
  }

  test("scoped checkpoint is disk-backed; 2-replica on clusters only") {
    import spark.implicits._
    // Level policy: replicated blocks where a peer block manager exists
    // (executor loss after scope exit has no recompute path — lineage is
    // truncated), single-replica locally (no peer to copy to; the
    // attempted replication serializes every block for nothing).
    assert(CacheScope.checkpointLevel(isLocal = false) == StorageLevel.MEMORY_AND_DISK_2)
    assert(CacheScope.checkpointLevel(isLocal = true) == StorageLevel.MEMORY_AND_DISK)
    val out = CacheScope.scoped {
      CacheScope.materialize((1 to 10).toDF("v"))
    }
    out.count() // ensure the checkpoint blocks are registered
    val lvls = spark.sparkContext.getRDDStorageInfo.map(_.storageLevel)
    assert(lvls.exists(_.useDisk),
      s"no disk-backed checkpoint RDD registered; saw: ${lvls.mkString(", ")}")
  }

  test("concurrent scopes on different threads do not release each other") {
    import spark.implicits._
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    @volatile var otherCache: org.apache.spark.sql.DataFrame = null
    @volatile var otherFailure: Throwable = null
    val t = new Thread(() => {
      try CacheScope.scoped {
        otherCache = CacheScope.materialize((1 to 50).toDF("x"))
        entered.countDown()
        release.await()
        otherCache.select(F.count(F.lit(1)).as("n"))
      } catch { case e: Throwable => otherFailure = e; entered.countDown() }
    })
    t.start()
    entered.await()
    assert(otherFailure == null, s"background scope failed: $otherFailure")
    // This thread's scope opens and closes while the other scope is live.
    CacheScope.scoped {
      CacheScope.materialize((1 to 5).toDF("y")).select(F.count(F.lit(1)).as("n"))
    }
    assert(otherCache.storageLevel != StorageLevel.NONE,
      "scope exit on one thread released a cache tracked by another thread's scope")
    release.countDown()
    t.join(30000)
    assert(otherFailure == null, s"background scope failed: $otherFailure")
    assert(otherCache.storageLevel == StorageLevel.NONE,
      "background scope did not release its own cache at exit")
  }

  test("no gate query leaves a plan in the SQL cache manager") {
    // The CacheScope-using operators (dedup family, TF-IDF, winnowing) are
    // where a leak would come from; run each and assert the cache manager
    // is empty afterwards. (The full 70+ query sweep runs under Verify.)
    // Other specs share this JVM-wide session and may legitimately hold
    // caches; the assertion is about what each gate query ADDS, so start
    // from an empty registry.
    spark.catalog.clearCache()
    val users = Seq("q_dedup_exact", "q_dedup_minhash", "q_ngram_jaccard",
      "q_dedup_simhash", "q_fingerprint_winnow", "q_dedup_embedding",
      "q_tfidf", "q_contamination", "q_dedup_components")
    users.foreach { name =>
      val n = SparkEntry.queries(name)(spark, sf001).count()
      assert(n >= 0)
      assert(CacheBridge.cacheManagerIsEmpty(spark),
        s"$name left plans registered in the SQL cache manager")
    }
  }
}
