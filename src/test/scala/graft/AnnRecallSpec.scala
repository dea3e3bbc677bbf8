package graft

import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite

import graft.ann.{Ann, Pq}
import graft.functions.VectorFunctions

/** Recall gates for the APPROXIMATE ANN tiers against exact brute force —
  * the quality half of the ANN contract (the oracle queries pin hash-exact
  * determinism; these pin that the approximation is still a good ANN).
  * LSH has had a planted-near-dup recall spec since round 5; IVF and PQ
  * get the same protection here, on the sf0.1 embeddings (2000 vectors,
  * the bench corpus) so a probe/tie-break/rerank regression — exactly the
  * class of change round 12's IVF probe fix was — trips a hard assertion.
  *
  * Thresholds are measured-with-margin: see each test's `info` line for
  * the observed value on the current generator; the assert sits far enough
  * below to absorb data-refresh jitter but well above a broken variant
  * (a wrong probe set or rerank order collapses recall toward 1/cells or
  * the ADC floor, not a few points).
  */
class AnnRecallSpec extends AnyFunSuite with SparkFixture {

  private def sf01 = "/root/testdata/sf0.1"

  private def truthAt(k: Int): Map[Long, Set[Long]] = {
    val emb = spark.read.parquet(s"$sf01/embeddings.parquet")
    val q = emb.filter(F.col("vec_id") < 20)
    Ann.bruteTopK(emb, q, k = k).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
  }

  private def recallOf(result: Array[(Long, Long)], truth: Map[Long, Set[Long]], k: Int): Double = {
    val byQ = result.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    val per = truth.map { case (q, t) => (byQ.getOrElse(q, Set.empty) & t).size.toDouble / k }
    per.sum / per.size
  }

  test("IVF recall@10 vs brute force stays above the gate") {
    VectorFunctions.registerAll(spark)
    val emb = spark.read.parquet(s"$sf01/embeddings.parquet")
    val q = emb.filter(F.col("vec_id") < 20)
    val truth = truthAt(10)
    assert(truth.size == 20, s"expected 20 query rows, got ${truth.size}")
    val ivf = Ann.ivfTopK(emb, q, k = 10, cells = 16, probes = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    val recall = recallOf(ivf, truth, 10)
    info(f"IVF recall@10 (cells=16, probes=4): $recall%.3f")
    // Measured 0.810 on the current generator; a broken probe set or cell
    // assignment collapses toward probes/cells = 0.25, far below the gate.
    assert(recall >= 0.75,
      f"IVF recall@10 dropped to $recall%.3f — probe selection or cell assignment regressed")
  }

  test("sign-Hamming shortlist + rerank recall@10 vs brute force stays above the gate") {
    val emb = spark.read.parquet(s"$sf01/embeddings.parquet")
    val q = emb.filter(F.col("vec_id") < 20)
    val truth = truthAt(10)
    val bin = Ann.signHammingTopK(emb, q, k = 10, rerank = 400)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    val recall = recallOf(bin, truth, 10)
    info(f"sign-Hamming recall@10 (rerank=400): $recall%.3f")
    // 64 sign bits on near-random vectors: Charikar's bound puts the
    // coarse ranking well above chance; a broken sign fold collapses
    // toward rerank/N = 0.2.
    assert(recall >= 0.7,
      f"sign-Hamming recall@10 dropped to $recall%.3f — sign fold or shortlist regressed")
    // reranked cosines are EXACT (same check as the JL gate)
    val bruteCos = Ann.bruteTopK(emb, q, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    Ann.signHammingTopK(emb, q, k = 10, rerank = 400).collect().foreach { r =>
      val key = (r.getLong(0), r.getLong(2))
      bruteCos.get(key).foreach(c => assert(c == r.getDouble(3),
        s"rerank cosine diverged from exact at $key"))
    }
  }

  test("JL shortlist + rerank recall@10 vs brute force stays above the gate") {
    VectorFunctions.registerAll(spark)
    val emb = spark.read.parquet(s"$sf01/embeddings.parquet")
    val q = emb.filter(F.col("vec_id") < 20)
    val truth = truthAt(10)
    val jl = Ann.jlTopK(emb, q, k = 10, rerank = 400, jlK = 32)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    val recall = recallOf(jl, truth, 10)
    info(f"JL recall@10 (k'=32, rerank=400): $recall%.3f")
    // Measured 0.790 on the current generator — near-random embeddings
    // are JL's adversarial case (real text embeddings cluster far more);
    // a broken projection collapses toward rerank/N = 0.08.
    assert(recall >= 0.7,
      f"JL shortlist recall@10 dropped to $recall%.3f — projection or coarse ranking regressed")
    // reranked scores are EXACT: every returned cosine equals brute
    // force's for the same (query, neighbor)
    val bruteCos = Ann.bruteTopK(emb, q, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    Ann.jlTopK(emb, q, k = 10, rerank = 400, jlK = 32).collect().foreach { r =>
      val key = (r.getLong(0), r.getLong(2))
      bruteCos.get(key).foreach(c => assert(c == r.getDouble(3),
        s"rerank cosine diverged from exact at $key"))
    }
  }

  test("MRL cut: full width is bit-identical to brute force; 16-dim recall floor holds") {
    val emb = spark.read.parquet(s"$sf01/embeddings.parquet")
    val q = emb.filter(F.col("vec_id") < 20)
    // dims = full width must be the identity.
    val full = Ann.mrlTopK(emb, q, dims = 64, k = 10).collect().map(_.toString).sorted
    val brute = Ann.bruteTopK(emb, q, k = 10).collect().map(_.toString).sorted
    assert(full.toSeq == brute.toSeq, "mrlTopK at full width must equal bruteTopK")
    val truth = truthAt(10)
    val cut = Ann.mrlTopK(emb, q, dims = 16, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    val recall = recallOf(cut, truth, 10)
    info(f"MRL recall@10 (16 of 64 dims): $recall%.3f")
    // Untrained near-random embeddings are MRL's WORST case — no energy
    // concentrates in the prefix, so the information-theoretic ceiling is
    // low (measured 0.085 on this generator — still 40x the 10/5000
    // chance rate a broken slice would read; MRL-trained vectors hold
    // near-full recall by construction, which is the published point).
    assert(recall >= 0.05 && recall <= 1.0,
      f"MRL 16-dim recall@10 at $recall%.3f — slice or scoring regressed")
  }

  test("quantizer drift: report flags a shifted append; requantize restores recall") {
    import spark.implicits._
    // Controlled geometry (the published drift failure in miniature): the
    // index trains on clusters A and B; a NEW cluster C arrives straddling
    // the A/B Voronoi boundary, so the FROZEN quantizer splits C's members
    // across cells a 1-probe query can't cover — recall decays silently,
    // which is exactly what ivfDriftReport exists to catch and
    // ivfRequantize exists to fix (C gets its own centroid from the
    // md5-uniform re-sample).
    val dim = 8
    val rnd = new scala.util.Random(7)
    def around(center: Array[Double], id: Long): (Long, Array[Float]) =
      (id, center.map(c => (c + (rnd.nextDouble() * 0.08 - 0.04)).toFloat))
    val a = Array(1.0, 0, 0, 0, 0, 0, 0, 0)
    val b = Array(0, 1.0, 0, 0, 0, 0, 0, 0)
    val c = Array(0.72, 0.72, 0, 0, 0, 0, 0, 0)
    val orig = ((0L until 200L).map(i => around(a, i)) ++
      (200L until 400L).map(i => around(b, i))).toDF("vec_id", "embedding")
    val fresh = (1000000L until 1000200L).map(i => around(c, i)).toDF("vec_id", "embedding")
    val union = orig.unionByName(fresh)
    val q = fresh.filter(F.col("vec_id") < 1000040L)
    val truth = Ann.bruteTopK(union, q, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val tmp = tempDir("graft_drift_spec_").toString
    val base = s"$tmp/base"
    val req = s"$tmp/req"
    Ann.ivfIndexInit(orig, base, cells = 4, sampleN = 400)
    Ann.ivfIndexAppend(fresh, base)
    def recall(path: String): Double = {
      val r = Ann.ivfTopKIndexed(spark, path, q, k = 10, probes = 1).collect()
        .map(r => (r.getLong(0), r.getLong(2)))
      val byQ = r.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
      val per = truth.map { case (qq, t) => (byQ.getOrElse(qq, Set.empty) & t).size.toDouble / 10 }
      per.sum / per.size
    }
    val before = recall(base)
    info(f"recall@10, probes=1, frozen quantizer after shifted append: $before%.3f")
    // measured 0.720 — C split across the A/B cells; a healthy index
    // serves ~1.0 here, a total miss ~0.0
    assert(before <= 0.9, f"shift did not degrade frozen-quantizer recall ($before%.3f)")
    // the drift report flags the shift BEFORE recall is ever measured:
    // crowded cells (occupancy ratio spikes) with degraded affinity
    val drift = Ann.ivfDriftReport(spark, base).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(6)))
    val worst = drift.maxBy(_._4)
    info(s"drift report: $worst (cell, n_now, n_init, occupancy_ratio, score_drop)")
    assert(worst._4 >= 1.5, s"occupancy ratio must flag the crowded cell: ${drift.mkString(",")}")
    assert(worst._5 > 0.05, s"mean assignment score must drop in the crowded cell: $worst")
    // requantize: retrain on the index's CURRENT content, rewrite cells
    Ann.ivfRequantize(spark, base, req, cells = 4, sampleN = 400)
    val after = recall(req)
    info(f"recall@10, probes=1, requantized: $after%.3f")
    // measured 1.000 — C owns a centroid again
    assert(after >= before + 0.15,
      f"requantize must restore recall (before=$before%.3f after=$after%.3f)")
    // the fresh snapshot reads clean: no drift right after a retrain
    val clean = Ann.ivfDriftReport(spark, req).collect()
      .map(r => (r.getDouble(3), r.getDouble(6)))
    assert(clean.forall { case (ratio, drop) => ratio == 1.0 && math.abs(drop) < 1e-9 },
      s"requantized index must self-report no drift: ${clean.mkString(",")}")
    // requantize(init + append) is bit-equal to a from-scratch ivfReindex
    // on the union corpus — the lifecycle op is a real rebuild, not an
    // approximation of one
    val scratch = s"$tmp/scratch"
    Ann.ivfReindex(union, scratch, cells = 4, sampleN = 400)
    val servedReq = Ann.ivfTopKIndexed(spark, req, q, k = 10, probes = 2)
      .collect().map(_.toSeq).toSet
    val servedScratch = Ann.ivfTopKIndexed(spark, scratch, q, k = 10, probes = 2)
      .collect().map(_.toSeq).toSet
    assert(servedReq == servedScratch,
      "requantized serving must be bit-equal to a from-scratch build on the union")
  }

  test("PQ+rerank recall@10 vs brute force stays above the gate") {
    VectorFunctions.registerAll(spark)
    val emb = spark.read.parquet(s"$sf01/embeddings.parquet")
    val q = emb.filter(F.col("vec_id") < 20)
    val truth = truthAt(10)
    val pq = Pq.topK(emb, q, k = 10) // production defaults, incl. rerank=200
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    val recall = recallOf(pq, truth, 10)
    info(f"PQ recall@10 (subspaces=8, codebook=16, rerank=200): $recall%.3f")
    // Measured 0.805 at rerank=200 (0.510 at the old rerank=50 default —
    // the sweep that moved the default); ADC collapse lands near the
    // random-cut floor rerank/|corpus| = 0.1.
    assert(recall >= 0.70,
      f"PQ recall@10 dropped to $recall%.3f — ADC scoring or the rerank stage regressed")
  }
}
