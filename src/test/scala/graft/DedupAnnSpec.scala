package graft

import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite

import graft.ann.Ann
import graft.dedup.Dedup
import graft.functions.VectorFunctions

/** LLM-pipeline pack: dedup correctness on planted duplicates, ANN
  * equivalence (partial-agg == window) and LSH recall vs brute force. */
class DedupAnnSpec extends AnyFunSuite with SparkFixture {

  private def planted = {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    Seq(
      (1L, base),
      (2L, base),                                   // exact dup of 1
      (3L, base.replace("lazy", "sleepy")),          // near dup of 1
      (4L, "completely different words about spark catalyst optimizer plans"),
      (5L, "another unrelated sentence mentioning parquet files and shuffles"))
      .toDF("doc_id", "text")
  }

  test("dupNgramFraction: shared n-grams counted cross-doc, short docs absent") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f"),        // 5-grams: "a b c d e", "b c d e f"
      (2L, "a b c d e x"),        // shares "a b c d e" with doc 1
      (3L, "p q r s t u"),        // no shared grams
      (4L, "too short")           // < 5 tokens: no grams, absent from output
    ).toDF("doc_id", "text")
    val out = Dedup.dupNgramFraction(docs, shingleN = 5).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(!out.contains(4L))
    assert(out(1L) == ((2L, 1L, 0.5)))
    assert(out(2L) == ((2L, 1L, 0.5)))
    assert(out(3L) == ((2L, 0L, 0.0)))
  }

  test("softDedupWeights: verbatim copies split the family's mass, unique docs keep 1.0") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f"),        // verbatim family with doc 2
      (2L, "a b c d e f"),
      (3L, "p q r s t u"),        // fully unique
      (4L, "a b c d e x"),        // shares one of two grams with the family
      (5L, "nope")                // < 5 tokens: absent
    ).toDF("doc_id", "text")
    val out = Dedup.softDedupWeights(docs, shingleN = 5).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(!out.contains(5L))
    // docs 1/2: grams {"a b c d e", "b c d e f"}; df("a b c d e")=3 (docs
    // 1,2,4), df("b c d e f")=2 → sum_excess=3, mean=1.5, w=1/2.5=0.4
    assert(out(1L) == ((2L, 3L, 1.5, 0.4)))
    assert(out(2L) == ((2L, 3L, 1.5, 0.4)))
    // doc 3: unique → excess 0, weight 1.0
    assert(out(3L) == ((2L, 0L, 0.0, 1.0)))
    // doc 4: grams {"a b c d e" (df 3), "b c d e x" (df 1)} → sum 2,
    // mean 1.0, w = 0.5
    assert(out(4L) == ((2L, 2L, 1.0, 0.5)))
    // a two-copy family with NO outside overlap splits mass exactly: add
    // an isolated verbatim pair and check 1/D weights
    val pair = Seq((10L, "z y x w v u t"), (11L, "z y x w v u t")).toDF("doc_id", "text")
    val w = Dedup.softDedupWeights(pair, shingleN = 5).collect()
      .map(r => r.getDouble(4)).toSeq
    assert(w == Seq(0.5, 0.5))
  }

  test("jaccardJoinExact: complete vs brute force on randomized corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val words = (1 to 30).map(i => s"w$i")
    // planted similar pairs + random docs
    val docs = (1L to 40L).map { id =>
      val base = (1 to 8 + rnd.nextInt(8)).map(_ => words(rnd.nextInt(words.length)))
      (id, base.mkString(" "))
    } ++ Seq(
      (100L, "alpha beta gamma delta epsilon zeta"),
      (101L, "alpha beta gamma delta epsilon eta")) // high-overlap pair
    val df = docs.toDF("doc_id", "text")
    val got = graft.dedup.Dedup.jaccardJoinExact(df, shingleN = 3, minJaccard = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // Scala brute force over distinct 3-gram shingles (lowercased \s+)
    def sh(t: String): Set[Seq[String]] = {
      val w = t.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
      if (w.length < 3) Set.empty else w.sliding(3).map(_.toSeq).toSet
    }
    val m = docs.map { case (id, t) => id -> sh(t) }.toMap
    val brute = (for {
      (a, sa) <- m.toSeq; (b, sb) <- m.toSeq if a < b && sa.nonEmpty && sb.nonEmpty
      i = (sa & sb).size
      j = i.toDouble / (sa.size + sb.size - i)
      if j >= 0.3
    } yield (a, b) -> j).toMap
    assert(got.keySet == brute.keySet,
      s"completeness broke: missing=${brute.keySet -- got.keySet} extra=${got.keySet -- brute.keySet}")
    brute.foreach { case (k, j) =>
      assert(math.abs(got(k) - j) < 1e-6, s"jaccard off at $k: ${got(k)} vs $j")
    }
    assert(got.contains((100L, 101L)), "planted high-overlap pair missed")
  }

  test("lshPlan: hand-computed S-curve rows, threshold monotone in r") {
    val out = graft.dedup.Dedup.lshPlan(spark, totalHashes = 128).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2), r.getDouble(6))).toSeq
    assert(out.length == 8) // divisors of 128
    val by = out.map(t => (t._1, t._2) -> ((t._3, t._4))).toMap
    // b=32, r=4: threshold (1/32)^(1/4), p80 = 1-(1-0.8^4)^32
    val t32 = math.pow(1.0 / 32, 1.0 / 4)
    val p80 = 1.0 - math.pow(1.0 - math.pow(0.8, 4), 32)
    assert(math.abs(by((32, 4))._1 - t32) < 1e-6)
    assert(math.abs(by((32, 4))._2 - p80) < 1e-6)
    // more rows per band -> higher threshold (the S-curve moves right)
    val sorted = out.sortBy(_._2).map(_._3)
    assert(sorted.zip(sorted.tail).forall { case (a, b) => a <= b },
      s"threshold not monotone in r: $out")
    // the shipped detector default (bands=8 over 128 hashes -> r=16)
    // sits in the table
    assert(by.contains((8, 16)))
  }

  test("soft weights compose with the priority sampler: family mass splits") {
    import spark.implicits._
    import graft.operators.Sampling
    // verbatim pair (soft_weight 0.5 each) + a unique doc (weight 1.0),
    // equal lengths; with k >= n everything survives and weight_est =
    // weight, so the sampler's mass column IS soft_weight x chars
    val docs = Seq(
      (10L, "z y x w v u t"), (11L, "z y x w v u t"),
      (20L, "a b c d e f g")).toDF("doc_id", "text")
    val chars = docs.select(F.col("doc_id"),
      F.length(F.col("text")).cast("long").as("n_chars"))
    val mass = graft.dedup.Dedup.softDedupWeights(docs, shingleN = 5)
      .join(chars, Seq("doc_id"))
      .select(F.col("doc_id"),
        (F.col("soft_weight") * F.col("n_chars").cast("double")).as("mass"))
    val out = Sampling.prioritySample(mass, "doc_id", F.col("mass"), k = 10)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(3)))).toMap
    assert(out.keySet == Set(10L, 11L, 20L))
    // the family's TOTAL mass equals the unique doc's (13 chars each)
    assert(out(10L)._1 == 6.5 && out(11L)._1 == 6.5 && out(20L)._1 == 13.0, s"$out")
    // n <= k: estimator exact (weight_est = weight)
    out.values.foreach { case (w, est) => assert(w == est) }
  }

  test("UnigramLm.score: hand-computed mean log-prob, empty docs absent") {
    import spark.implicits._
    val docs = Seq((1L, "a a b"), (2L, "b c"), (3L, "   ")).toDF("doc_id", "text")
    val out = graft.functions.UnigramLm.score(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(!out.contains(3L)) // tokenless doc carries no signal
    // total=5, counts: a=2, b=2, c=1
    // doc1: (2 ln(2/5) + 1 ln(2/5)) / 3 = ln(0.4)
    val d1 = BigDecimal(3 * math.log(0.4) / 3).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val d2 = BigDecimal((math.log(0.4) + math.log(0.2)) / 2)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    assert(out(1L) == ((3L, d1.toDouble)))
    assert(out(2L) == ((2L, d2.toDouble)))
  }

  test("tokenEntropy: uniform text maximal, repeated text zero") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d"), (2L, "x x x x"), (3L, "a a b b")).toDF("doc_id", "text")
    val out = graft.functions.UnigramLm.tokenEntropy(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val ln2 = BigDecimal(math.log(2)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val ln4 = BigDecimal(math.log(4)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(1L) == ((4L, ln4)))  // 4 distinct tokens: H = ln 4
    assert(out(2L) == ((4L, 0.0)))  // single repeated token: H = 0
    assert(out(3L) == ((4L, ln2)))  // two tokens at p=1/2: H = ln 2
  }

  test("exact dedup groups identical texts") {
    val out = Dedup.exact(planted).collect()
    assert(out.length == 4)
    assert(out.map(_.getLong(2)).max == 2) // the planted pair collapses
  }

  test("minhash-LSH finds exact and near duplicates, not unrelated docs") {
    val pairs = Dedup.minhashCandidates(planted)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"missed exact dup: $pairs")
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)), s"missed near dup: $pairs")
    assert(!pairs.contains((4L, 5L)), s"false positive on unrelated docs: $pairs")
  }

  test("heavy-hitter prune executes and only removes big-bucket pairs") {
    // maxBucket = 3 < the corpus's largest (band, sig) bucket (5 at
    // sf0.001), so the degenerate-bucket guard — dormant at bench scale
    // behind the tight nDocs bound — must run its heavy-hitter scan +
    // broadcast anti-join and drop pairs. q_dedup_minhash_pruned is the
    // hash-exact oracle gate for the same path; this spec pins the plan
    // evidence and the subset relation.
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val n = docs.count()
    assert(n > 3) // precondition: the prune branch engages
    val prunedDf = Dedup.minhashCandidates(docs, knownDocCount = n, maxBucket = 3)
    val plan = prunedDf.queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"), s"prune anti-join missing from plan:\n$plan")
    assert(plan.contains("Broadcast"), s"prune side not broadcast:\n$plan")
    val pruned = prunedDf.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Dedup.minhashCandidates(docs, knownDocCount = n)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pruned.subsetOf(full), "prune invented pairs")
    assert(pruned.size < full.size, "prune dropped nothing — maxBucket not below max bucket size")
  }

  test("MinhashSigsExpr one-pass signatures match explode+groupBy bit-for-bit") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val viaAgg = Dedup.minhashSignatures(
      Dedup.shinglesRaw(docs, "doc_id", "text", 3), "doc_id", 8)
    val viaExpr = Dedup.minhashSignaturesFromDocs(docs, "doc_id", "text", 3, 8)
    assert(viaExpr.exceptAll(viaAgg).count() == 0)
    assert(viaAgg.exceptAll(viaExpr).count() == 0)
    assert(viaExpr.count() > 0)
  }

  test("ophSignatures: densification matches the hand-computed rotation rule") {
    import spark.implicits._
    // One shingle ("a b c") fills exactly one bin; every other bin must
    // densify from it with value = lo + circular-distance-rightward.
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    val out = Dedup.ophSignatures(docs, k = 16).collect()
      .map(r => r.getInt(1) -> r.getString(2)).toMap
    assert(out.size == 16, "every bin must be emitted after densification")
    val md = java.security.MessageDigest.getInstance("MD5")
    val h = md.digest("a b c".getBytes("UTF-8"))
    var hi = 0L; var lo = 0L
    (0 until 8).foreach(i => hi = (hi << 8) | (h(i) & 0xffL))
    (8 until 16).foreach(i => lo = (lo << 8) | (h(i) & 0xffL))
    val b0 = java.lang.Long.remainderUnsigned(hi, 16L).toInt
    (0 until 16).foreach { j =>
      val d = (b0 - j + 16) % 16
      val expect = f"${lo + d}%016x"
      assert(out(j) == expect, s"bin $j: got ${out(j)}, want $expect (d=$d)")
    }
  }

  test("ophSignatures: exact copies collide in all bins, shingle-less docs drop") {
    import spark.implicits._
    val docs = planted.union(Seq((6L, "xy")).toDF("doc_id", "text"))
    val sigs = Dedup.ophSignatures(docs, k = 16).collect()
      .groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.map(r => r.getInt(1) -> r.getString(2)).toMap }
    assert(!sigs.contains(6L), "a doc with < 3 tokens has no shingles and must drop")
    assert(sigs(1L) == sigs(2L), "verbatim copies must share the full signature")
    assert(sigs(1L) != sigs(4L), "unrelated docs must not share the full signature")
    // Near dup (doc 3, one word changed) collides with doc 1 in at least
    // one bin — the (bin, sig) bucket join would surface the pair.
    assert((0 until 16).exists(b => sigs(1L)(b) == sigs(3L)(b)),
      "near-dup shares no bin — the OPH detector would miss it")
  }

  test("bbitJaccardEstimates: exact copies read 1.0, near dups strictly less, never above 1") {
    val out = Dedup.bbitJaccardEstimates(planted).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    val (nb, na, est) = out((1L, 2L))
    assert(nb == 8L && na == 8L && est == 1.0,
      s"verbatim copies must agree in every band: ${out((1L, 2L))}")
    for (((a, b), (bands, agree, e)) <- out) {
      assert(bands == 8L, s"($a,$b) bands=$bands")
      assert(agree <= bands && e <= 1.0, s"($a,$b) agree=$agree est=$e")
      if ((a, b) != ((1L, 2L))) assert(e < 1.0, s"near dup ($a,$b) must not read 1.0: $e")
    }
  }

  test("minhashEval: counts consistent, planted dups give full recall") {
    // planted: (1,2) exact dup + (1,3)/(2,3) near dups are the only pairs
    // with jaccard >= 0.5; the LSH detector should surface all of them
    // (recall 1.0 on this corpus), and the hit count can never exceed
    // either side of the confusion counts.
    val r = Dedup.minhashEval(planted).collect()
    assert(r.length == 1)
    val row = r.head
    val (nTrue, nCand, nHit) = (row.getLong(0), row.getLong(1), row.getLong(2))
    val (prec, recall) = (row.getDouble(3), row.getDouble(4))
    assert(nTrue == 3L, s"expected the 3 planted >=0.5 pairs, got $nTrue")
    assert(nHit <= nTrue && nHit <= nCand, s"hit count inconsistent: $row")
    assert(recall == 1.0, s"detector missed a planted dup: $row")
    assert(prec > 0.0 && prec <= 1.0 && recall <= 1.0, s"rates out of range: $row")
  }

  test("leakageSafeSplit: a near-dup cluster never straddles splits") {
    import graft.operators.Sampling
    val docs = planted
    val edges = Dedup.ngramJaccard(docs, minJaccard = 0.5).select("doc_a", "doc_b")
    val clusters = graft.dedup.Components.connectedComponents(edges)
    val out = Sampling.leakageSafeSplit(docs, clusters).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out.size == 5)
    // docs 1,2,3 form one verified cluster: same key, same fold, same split
    assert(out(1L) == out(2L) && out(2L) == out(3L),
      s"cluster straddles splits: ${out.filterKeys(_ <= 3)}")
    // unclustered docs key on their own id
    assert(out(4L)._1 == 4L && out(5L)._1 == 5L)
    // folds in range, labels legal
    assert(out.values.forall { case (_, f, s) =>
      f >= 0 && f < 10 && Set("train", "val", "test")(s) })
    // the split label is a pure function of the fold arithmetic
    assert(out.values.forall { case (_, f, s) =>
      (f < 8 && s == "train") || (f == 8 && s == "val") || (f == 9 && s == "test") })
  }

  test("ngram jaccard is 1.0 for identical docs and high for near dups") {
    val j = Dedup.ngramJaccard(planted)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(j((1L, 2L)) == 1.0)
    assert(j.getOrElse((1L, 3L), j.getOrElse((2L, 3L), 0.0)) > 0.5)
  }

  test("simhash: identical docs collide, hamming bounded for near dups") {
    val sh = Dedup.simhash(planted).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(2L))
    assert(java.lang.Long.bitCount(sh(1L) ^ sh(3L)) <= 16)
    val cands = Dedup.simhashCandidates(planted, maxHamming = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((1L, 2L)))
  }

  test("multi-band simhash candidacy is COMPLETE at maxHamming <= bands-1") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    // Exhaustive truth: all pairs within hamming 3, computed driver-side
    // over the (tiny) sf0.001 corpus.
    val sh = Dedup.simhash(docs).collect().map(r => (r.getLong(0), r.getLong(1)))
    val exact = (for {
      (ia, ha) <- sh
      (ib, hb) <- sh
      if ia < ib && java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (ia, ib)).toSet
    assert(exact.nonEmpty, "corpus has no hamming<=3 pairs; recall check is vacuous")
    val cand = Dedup.simhashCandidates(docs, maxHamming = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & cand).size.toDouble / exact.size
    info(f"simhash banded recall at hamming<=3: $recall%.2f over ${exact.size} true pairs")
    assert(recall == 1.0, s"pigeonhole completeness violated: missing ${exact -- cand}")
    assert(cand == exact, s"hamming filter must also make candidacy precise: extra ${cand -- exact}")
  }

  test("winnowing fingerprints detect shared substrings, skip unrelated docs") {
    val fps = planted.select(F.col("doc_id"),
      graft.functions.TextFunctions.winnowFingerprints(F.col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert(fps(1L) == fps(2L), "identical docs must share all fingerprints")
    assert((fps(1L) & fps(3L)).nonEmpty, "near dup must share some fingerprints")
    val cands = Dedup.winnowCandidates(planted)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((1L, 2L)))
    assert(!cands.contains((4L, 5L)), s"unrelated docs flagged: $cands")
  }

  /** The sf0.001 embeddings with vec_id 3's element 5 set to null. */
  private def embWithNullElement() =
    spark.read.parquet(s"$sf001/embeddings.parquet").withColumn("embedding",
      F.expr("transform(embedding, (x, i) -> IF(vec_id = 3 AND i = 5, NULL, x))"))

  test("bruteTopK ranks NULL cosines of a null-element embedding last") {
    val emb = embWithNullElement()
    val q = emb.filter(F.col("vec_id") < 10)
    val a = Ann.bruteTopK(emb, q, k = 5).collect().map(_.toString).sorted.toSeq
    // query 3 scores NULL against everything: its top 5 are ids 0..4
    assert(a.count(_.startsWith("[3,")) == 5 && a.filter(_.startsWith("[3,")).forall(_.endsWith(",null]")),
      s"expected five NULL-cosine rows for query 3: $a")
  }

  test("IVF training names the id and position of a null embedding element") {
    val emb = embWithNullElement()
    val e = intercept[IllegalArgumentException] {
      Ann.ivfTopK(emb, emb.filter(F.col("vec_id") < 5), k = 5, cells = 16, probes = 4)
    }
    assert(e.getMessage.contains("id 3") && e.getMessage.contains("position 5"), e.getMessage)
  }

  test("native codegen dot product is bit-identical to the portable fold") {
    VectorFunctions.registerAll(spark)
    val emb = spark.read.parquet(s"$sf001/embeddings.parquet").limit(50)
      .select(F.col("embedding").as("a"), F.col("embedding").as("b"))
    val diff = emb.select(
      (VectorFunctions.dot(F.col("a"), F.col("b")) -
        VectorFunctions.dotF(F.col("a"), F.col("b"))).as("d"))
      .agg(F.max(F.abs(F.col("d")))).head().getDouble(0)
    assert(diff == 0.0)
  }

  test("IVF ANN probes only a cell subset yet finds most true neighbors") {
    val emb = spark.read.parquet(s"$sf001/embeddings.parquet")
    val q = emb.filter(F.col("vec_id") < 20)
    val brute = Ann.bruteTopK(emb, q, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = Ann.ivfTopK(emb, q, k = 5, cells = 16, probes = 6).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    info(f"IVF recall@5 (6/16 cells probed): $recall%.2f")
    assert(recall >= 0.7, f"IVF recall too low: $recall%.2f")
    assert(ivf.size <= 100) // k per query, bounded
  }

  test("persisted IVF index serves the identical answer via a partition-pruned read") {
    val emb = spark.read.parquet(s"$sf001/embeddings.parquet")
    val q = emb.filter(F.col("vec_id") < 20)
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_spec")
      .resolve("index").toString
    Ann.ivfIndexInit(emb, path, cells = 16)
    val indexedDf = Ann.ivfTopKIndexed(spark, path, q, k = 5, probes = 6)
    // bit-identical to the in-memory path (same trainer, shared scoring)
    val mem = Ann.ivfTopK(emb, q, k = 5, cells = 16, probes = 6).collect()
      .map(_.toString).sorted.toSeq
    val idx = indexedDf.collect().map(_.toString).sorted.toSeq
    assert(idx == mem, "persisted index diverged from the in-memory path")
    // the scale claim, pinned: the index scan's cell partition filter is
    // injected at RUNTIME by dynamic partition pruning from the reused
    // probe-side broadcast (r15 — the static probed-cell collect+literal
    // cost a driver round-trip per serve). The executed plan must carry
    // the dynamicpruning expression on the scan; without it the serve
    // would silently read EVERY cell's files.
    val plan = indexedDf.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"index read lost its runtime cell partition pruning:\n$plan")
  }

  test("IVF incremental append equals the from-scratch build, history untouched") {
    val emb = spark.read.parquet(s"$sf001/embeddings.parquet")
    val q = emb.filter(F.col("vec_id") < 20)
    // history = the trainers' dense sample window, batch = the rest
    val history = emb.filter(F.col("vec_id") < 100)
    val batch = emb.filter(F.col("vec_id") >= 100)
    assert(batch.count() > 0, "precondition: a non-empty append batch")
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_inc_spec")
      .resolve("index").toString
    Ann.ivfIndexInit(history, path, cells = 16, sampleN = 100)
    val historyFiles = new java.io.File(path).listFiles().flatMap(d =>
      Option(d.listFiles()).getOrElse(Array.empty)).map(_.getName).toSet
    Ann.ivfIndexAppend(batch, path)
    // frozen-quantizer append reproduces the from-scratch in-memory build
    // bit for bit (same training window, same assignment, same scoring)
    val mem = Ann.ivfTopK(emb, q, k = 5, cells = 16, probes = 6, sampleN = 100)
      .collect().map(_.toString).sorted.toSeq
    val inc = Ann.ivfTopKIndexed(spark, path, q, k = 5, probes = 6)
      .collect().map(_.toString).sorted.toSeq
    assert(inc == mem, "incremental index diverged from the from-scratch build")
    // the append wrote NEW files only — every history file survives
    val afterFiles = new java.io.File(path).listFiles().flatMap(d =>
      Option(d.listFiles()).getOrElse(Array.empty)).map(_.getName).toSet
    assert(historyFiles.subsetOf(afterFiles),
      "append rewrote history files — the 1GB-appends-to-100TB claim is void")
    assert(afterFiles.size > historyFiles.size, "append wrote nothing")
  }

  test("IVF append reconciles a replayed batch to an exactly-once index") {
    // the ingest stream's commit marker lands AFTER the parquet append, so
    // a crash in that window replays the batch — simulate the worst case
    // (the whole batch appended, then replayed with the same prelist
    // ledger) and the index must end up byte-identical in ROW CONTENT to
    // a single clean append: the replay's reconciliation deletes the
    // crashed attempt's orphan files before re-appending (r15 — replay
    // safety moved from a per-serve dedup exchange to the ingest path).
    val emb = spark.read.parquet(s"$sf001/embeddings.parquet")
    val q = emb.filter(F.col("vec_id") < 20)
    val history = emb.filter(F.col("vec_id") < 100)
    val batch = emb.filter(F.col("vec_id") >= 100)
    val base = java.nio.file.Files.createTempDirectory("graft_ivf_replay_spec")
    val path = base.resolve("index").toString
    val prelist = base.resolve("prelist_batch=0").toString
    Ann.ivfIndexInit(history, path, cells = 16, sampleN = 100)
    Ann.ivfIndexAppend(batch, path, prelistDir = Some(prelist))
    Ann.ivfIndexAppend(batch, path, prelistDir = Some(prelist)) // the replay
    // the strongest form: not one duplicated row anywhere in the index
    assert(spark.read.parquet(path).count() == emb.count(),
      "replayed append left duplicate (or dropped) index rows")
    val mem = Ann.ivfTopK(emb, q, k = 5, cells = 16, probes = 6, sampleN = 100)
      .collect().map(_.toString).sorted.toSeq
    val served = Ann.ivfTopKIndexed(spark, path, q, k = 5, probes = 6)
      .collect().map(_.toString).sorted.toSeq
    assert(served == mem,
      "a replayed batch leaked duplicate neighbors into the top-k")
  }

  test("PQ ANN: 16x-compressed codes still rank true neighbors into the rerank set") {
    import graft.ann.Pq
    val emb = spark.read.parquet(s"$sf001/embeddings.parquet")
    val q = emb.filter(F.col("vec_id") < 20)
    val brute = Ann.bruteTopK(emb, q, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val pq = Pq.topK(emb, q, k = 5, rerank = 50).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (brute & pq).size.toDouble / brute.size
    info(f"PQ recall@5 (8 subspaces x 16 centroids, rerank 50): $recall%.2f")
    assert(recall >= 0.6, f"PQ recall too low: $recall%.2f")
    // compression: a code row is `subspaces` small ints, not dim floats
    val model = Pq.train(emb)
    val codes = Pq.encode(emb, model).select("codes").head().getSeq[Int](0)
    assert(codes.length == 8 && codes.forall(c => c >= 0 && c < 16))
    // determinism: same inputs, same model, same codes
    val again = Pq.encode(emb, Pq.train(emb)).select("codes").head().getSeq[Int](0)
    assert(codes == again)
  }

  test("PqAdcExpr: out-of-range codes yield NULL, not an executor exception") {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import graft.functions.expressions.PqAdcExpr
    // 2 subspaces x 2 centroids x subDim 2; query dim 4
    val books = Array(
      Array(Array(1.0, 0.0), Array(0.0, 1.0)),
      Array(Array(1.0, 1.0), Array(2.0, 2.0)))
    val df = spark.range(1).select(
      F.array(F.lit(1.0), F.lit(2.0), F.lit(3.0), F.lit(4.0)).as("q"),
      F.array(F.lit(1), F.lit(7)).as("bad"),   // 7 >= codebookSize 2
      F.array(F.lit(-1), F.lit(0)).as("neg"),  // negative code
      F.array(F.lit(1), F.lit(1)).as("ok"))
    val adc = (c: String) => ColumnBridge.column(PqAdcExpr(
      ColumnBridge.expression(F.col("q")), ColumnBridge.expression(F.col(c)), books))
    val r = df.select(adc("bad").as("b"), adc("neg").as("n"), adc("ok").as("o")).head()
    assert(r.isNullAt(0) && r.isNullAt(1))
    assert(r.getDouble(2) == 2.0 + (3.0 * 2.0 + 4.0 * 2.0))
  }

  test("clusterKmeans assigns every vector to its true nearest trained centroid") {
    val emb = spark.read.parquet(s"$sf001/embeddings.parquet")
    val clusters = 16
    val assigned = Ann.clusterKmeans(emb, clusters = clusters)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // brute-force reference: same trained centroids, local L2 argmax
    val cent = Ann.trainCentroids(emb, cells = clusters)
    val c2 = cent.map(c => c.map(x => x * x).sum)
    val rows = emb.select(F.col("vec_id"), F.col("embedding")).collect()
    assert(assigned.size == rows.length, "every vector must be assigned")
    rows.foreach { r =>
      val v = r.getSeq[Float](1).map(_.toDouble).toArray
      var best = 0; var bs = Double.NegativeInfinity
      (0 until clusters).foreach { j =>
        var d = 0.0; var i = 0
        while (i < v.length) { d += v(i) * cent(j)(i); i += 1 }
        val s = 2 * d - c2(j)
        if (s > bs) { best = j; bs = s }
      }
      assert(assigned(r.getLong(0)) == best,
        s"vec ${r.getLong(0)} assigned ${assigned(r.getLong(0))}, nearest is $best")
    }
  }

  test("prunePrototypes keeps the per-cluster hardest fraction, exactly and only") {
    val emb = spark.read.parquet(s"$sf001/embeddings.parquet")
    val all = Ann.clusterKmeans(emb, clusters = 16).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val kept = Ann.prunePrototypes(emb, clusters = 16, keepFraction = 0.5).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getLong(3)))
    // survivors agree with clusterKmeans on assignment
    kept.foreach { case (id, cl, _, _) => assert(all(id) == cl) }
    // per cluster: exactly ceil(0.5*n) survivors, and every kept score is
    // <= every dropped score (hardest = lowest assignment score)
    val byCluster = all.groupBy(_._2).view.mapValues(_.keys.toSet).toMap
    kept.groupBy(_._2).foreach { case (cl, rows) =>
      val n = byCluster(cl).size
      assert(rows.head._4 == n, s"cluster $cl: n_cluster must be $n")
      assert(rows.length == math.ceil(0.5 * n).toLong,
        s"cluster $cl: ${rows.length} kept of $n")
    }
    val keptIds = kept.map(_._1).toSet
    val scoresOf = Ann.prunePrototypes(emb, clusters = 16, keepFraction = 1.0)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    all.groupBy(_._2).foreach { case (cl, members) =>
      val (k, d) = members.keys.partition(keptIds.contains)
      if (k.nonEmpty && d.nonEmpty)
        assert(k.map(scoresOf).max <= d.map(scoresOf).min + 1e-12,
          s"cluster $cl: kept a more prototypical row than a dropped one")
    }
    // keepFraction = 1 keeps everything; hardest=false flips the rule
    assert(scoresOf.size == all.size)
    val easy = Ann.prunePrototypes(emb, clusters = 16, keepFraction = 0.5,
      hardest = false).collect().map(r => r.getLong(0)).toSet
    all.groupBy(_._2).foreach { case (cl, members) =>
      if (members.size >= 2) {
        val ordered = members.keys.toSeq.sortBy(id => (scoresOf(id), id))
        assert(easy.contains(ordered.last),
          s"cluster $cl: easy mode must keep the most prototypical row")
      }
    }
  }

  test("prunePrototypes uniformSample: arbitrary-id corpora train where the dense rule cannot") {
    // survivor-style id set with holes and no 0..15 head: the dense-id
    // rule must refuse (it would seed from ids that don't exist), the
    // md5-uniform rule must train and keep ceil(0.5·n) per cluster
    val emb = spark.read.parquet(s"$sf001/embeddings.parquet")
      .filter(F.col("vec_id") % 3 =!= 0)
      .filter(F.col("vec_id") >= 20)
    intercept[IllegalArgumentException] {
      Ann.prunePrototypes(emb, clusters = 16, keepFraction = 0.5)
    }
    val kept = Ann.prunePrototypes(emb, clusters = 16, keepFraction = 0.5,
      uniformSample = true).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(3)))
    assert(kept.nonEmpty)
    val inputIds = emb.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept.map(_._1).toSet.subsetOf(inputIds), "kept a non-survivor id")
    kept.groupBy(_._2).foreach { case (cl, rows) =>
      val n = rows.head._3
      assert(rows.length == math.ceil(0.5 * n).toLong,
        s"cluster $cl: ${rows.length} kept of $n")
    }
  }

  test("embeddingOutliers: planted off-distribution vector flagged within its own cell") {
    import spark.implicits._
    // two well-separated cells seeded by ids 0/1; ids 2..11 sit tightly
    // around (1,0,0) with a small varying spread (so the cell's MAD is
    // nonzero), ids 20..29 around (0,1,0). id 99 is still NEAREST the
    // first centroid but far off-distribution — the planted OOD vector.
    val rows =
      Seq((0L, Array(1f, 0f, 0f)), (1L, Array(0f, 1f, 0f)),
        (2L, Array(0.98f, 0.01f, 0f)), (3L, Array(0.02f, 0.97f, 0f))) ++
      (4L to 11L).map(i => (i, Array(1f, 0.01f * (i - 3), 0f))) ++
      (20L to 29L).map(i => (i, Array(0.01f * ((i - 20) % 3 + 1), 1f, 0f))) :+
      ((99L, Array(0.62f, 0.38f, 0.4f)))
    val emb = rows.toDF("vec_id", "embedding")
    val out = graft.ann.Ann.embeddingOutliers(emb, clusters = 2, sampleN = 4)
      .collect().map(r => r.getLong(0) -> r.getBoolean(6)).toMap
    assert(out(99L), "planted OOD vector not flagged")
    assert((4L to 11L).forall(i => !out(i)), s"tight-cluster member flagged: $out")
    assert((20L to 29L).forall(i => !out(i)), s"other cell polluted: $out")
  }

  test("semanticDecontaminate: planted paraphrase-class leak flagged, clean docs pass") {
    import spark.implicits._
    // eval set = two orthogonal benchmark vectors; corpus id 10 is an
    // exact copy of eval 0 (cosine 1.0 — leaked test example), id 11
    // sits close to eval 1 (cos ≈ 0.98 — the paraphrase class a lexical
    // screen misses), id 12 is orthogonal to both (clean).
    val evalSet = Seq((0L, Array(1f, 0f, 0f)), (1L, Array(0f, 1f, 0f)))
      .toDF("vec_id", "embedding")
    val corpus = Seq(
      (10L, Array(1f, 0f, 0f)),
      (11L, Array(0.2f, 0.98f, 0f)),
      (12L, Array(0f, 0f, 1f))).toDF("vec_id", "embedding")
    val out = graft.ann.Ann.semanticDecontaminate(corpus, evalSet, tau = 0.5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
    assert(out(10L)._1 == 0L && out(10L)._2 == 1.0 && out(10L)._3, s"exact leak: $out")
    assert(out(11L)._1 == 1L && out(11L)._3, s"paraphrase-class leak: $out")
    assert(!out(12L)._3 && out(12L)._2 == 0.0, s"clean doc flagged: $out")
  }

  test("semanticIncremental: shard-touching pairs only, against the frozen-quantizer index") {
    import spark.implicits._
    // History: two tight planted clusters around orthogonal axes, with
    // ids 0..19 dense (the trainer's seed contract); ids 3 and 4 are
    // EXACT duplicates of each other — a history-internal pair that must
    // NOT appear (neither side is shard). Shard: an exact copy of the
    // axis-a cluster center (near-dup of 3 and 4) and one vector
    // orthogonal to everything (clean).
    def around(base: Array[Double], i: Long): (Long, Array[Float]) =
      (i, base.zipWithIndex.map { case (x, d) =>
        (x + (if (d == 7) 0.001 * (i % 5) else 0.0)).toFloat })
    val a = Array(1.0, 0, 0, 0, 0, 0, 0, 0)
    val b = Array(0, 1.0, 0, 0, 0, 0, 0, 0)
    // cluster a: ten EXACT copies (they must co-locate in one frozen
    // cell — within-cell-only candidacy is the SemDeDup contract, so
    // the planted-dup assertion needs one cell, not a spread cluster)
    val hist = ((0L until 10L).map(i => (i, a.map(_.toFloat))) ++
      (10L until 20L).map(i => around(b, i)))
      .toDF("vec_id", "embedding")
    val shard = Seq(
      (100L, Array(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)),  // exact dup of cluster a
      (101L, Array(0f, 0f, 0f, 0f, 1f, 0f, 0f, 0f)))  // orthogonal, clean
      .toDF("vec_id", "embedding")
    val path = System.getProperty("java.io.tmpdir") + "/graft_sem_inc_spec"
    graft.ann.Ann.ivfIndexInit(hist, path, cells = 4, sampleN = 20)
    val out = graft.ann.Ann.semanticIncremental(spark, path, shard, tau = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    // every reported pair touches the shard
    assert(out.forall(p => p._1 >= 100L || p._2 >= 100L),
      s"history-internal pair leaked: ${out.toSeq}")
    // the planted near-dups are found (shard copy vs the axis-a cluster)
    val hits = out.filter(p => p._2 == 100L).map(_._1).toSet
    assert((0L until 10L).forall(hits.contains),
      s"missed planted near-dups: ${out.toSeq}")
    // the clean orthogonal shard vector reports nothing
    assert(!out.exists(p => p._1 == 101L || p._2 == 101L),
      s"clean shard vector flagged: ${out.toSeq}")
    // pairs are oriented and scored
    assert(out.forall(p => p._1 < p._2 && p._3 >= 0.4))
  }

  test("semanticDecontaminate: corpus/eval id COLLISION still compared (r19 ADVICE)") {
    import spark.implicits._
    // Corpus vector id 0 is an exact copy of eval example id 0 — the
    // likeliest contamination case (same upstream row, same id). The
    // old shared-pairs() path skipped exactly this comparison via its
    // within-table self-exclusion predicate; corpus id 1 collides with
    // EVERY eval id and must still appear in the output (per-corpus-
    // vector contract).
    val evalSet = Seq((0L, Array(1f, 0f, 0f)), (1L, Array(0f, 1f, 0f)))
      .toDF("vec_id", "embedding")
    val corpus = Seq(
      (0L, Array(1f, 0f, 0f)),   // id-equal exact copy of eval 0
      (1L, Array(0f, 1f, 0f)))   // collides with both eval ids; copy of eval 1
      .toDF("vec_id", "embedding")
    val out = graft.ann.Ann.semanticDecontaminate(corpus, evalSet, tau = 0.5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
    assert(out.size == 2, s"every corpus vector must report: $out")
    assert(out(0L) == ((0L, 1.0, true)), s"id-equal exact leak missed: $out")
    assert(out(1L) == ((1L, 1.0, true)), s"all-colliding corpus vector dropped: $out")
  }

  test("mmrSelect: duplicate penalized, diverse-but-equal-relevance candidate wins slot 2") {
    import spark.implicits._
    // Query (1,0,0). Three candidates with IDENTICAL relevance 0.9:
    // a(1) and b(2) are exact duplicates; c(3) is the same rel on an
    // orthogonal second axis. Plain top-2 = {1, 2} (id tie-break keeps
    // the dup); MMR must pick 1 then 3: dup scores λ·0.9 − (1−λ)·1.0 =
    // 0.33, the diverse one λ·0.9 − (1−λ)·0.81 = 0.387.
    val emb = Seq(
      (0L, Array(1f, 0f, 0f)),
      (1L, Array(0.9f, 0.43589f, 0f)),
      (2L, Array(0.9f, 0.43589f, 0f)),
      (3L, Array(0.9f, 0f, 0.43589f))).toDF("vec_id", "embedding")
    val top2 = graft.ann.Ann.bruteTopK(emb, emb.filter($"vec_id" === 0L), k = 2)
      .collect().map(_.getAs[Long]("neighbor_id")).toSet
    assert(top2 == Set(1L, 2L), s"plain top-2 should keep the dup: $top2")
    val out = graft.ann.Ann.mmrSelect(emb, queryId = 0L, poolSize = 3, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(out.map(_._2).toSeq == Seq(1L, 3L), s"got ${out.toSeq}")
    assert(math.abs(out(0)._3 - 0.63) < 1e-3 && math.abs(out(1)._3 - 0.387) < 2e-3,
      s"scores ${out.toSeq}")
  }

  test("minePairs: positives above the band, exactly the hardest negatives below") {
    import spark.implicits._
    // Anchor (1,0,0): y1 is a near-copy (positive); y2/y3/y4 descend in
    // similarity below the band — with nNeg = 2 only the two hardest
    // (y2, y3) may be mined as negatives.
    val anchors = Seq((1L, Array(1f, 0f, 0f))).toDF("vec_id", "embedding")
    val corpus = Seq(
      (101L, Array(0.95f, 0.1f, 0f)),   // cos ~0.994: positive
      (102L, Array(0.3f, 1f, 0f)),      // cos ~0.287: hardest negative
      (103L, Array(0.1f, 1f, 0f)),      // cos ~0.100: second negative
      (104L, Array(0f, 1f, 0f)))        // cos 0: must NOT be mined
      .toDF("vec_id", "embedding")
    val out = graft.ann.Ann.minePairs(corpus, anchors, tPos = 0.4, nNeg = 2)
      .collect().map(r => (r.getLong(1), r.getString(3), r.getDouble(2)))
    val byType = out.groupBy(_._2)
    assert(byType("positive").map(_._1).toSeq == Seq(101L), s"got ${out.toSeq}")
    assert(byType("hard_negative").map(_._1).sorted.toSeq == Seq(102L, 103L),
      s"got ${out.toSeq}")
    assert(byType("positive").forall(_._3 >= 0.4) &&
      byType("hard_negative").forall(_._3 < 0.4))
  }

  test("marginMine: ratio margin suppresses hub targets, keeps exclusive matches") {
    import spark.implicits._
    // Source x1 has an exclusive near-copy y1; sources x2/x3 both point
    // at the HUB yh — raw cosine can't tell the two situations apart
    // (both ~0.99), the kNN-average denominator can: yh's average is
    // itself ~0.99, cancelling its cosine.
    val a = Seq(
      (1L, Array(1f, 0f, 0f)),
      (2L, Array(0f, 1f, 0f)),
      (3L, Array(0f, 0.95f, 0.3f))).toDF("vec_id", "embedding")
    val b = Seq(
      (101L, Array(0.99f, 0.14f, 0f)),   // exclusive match of x1
      (102L, Array(0f, 1f, 0.1f)),       // hub: near both x2 and x3
      (103L, Array(0.5f, 0.5f, 0.2f))).toDF("vec_id", "embedding") // background
    val all = graft.ann.Ann.marginMine(a, b, k = 2, threshold = 0.0).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(all(1L)._1 == 101L, s"x1 must mine its exclusive match: ${all(1L)}")
    assert(all(2L)._1 == 102L && all(3L)._1 == 102L, s"hub is still the argmax: $all")
    assert(all(2L)._2 > 0.97, "raw cosine to the hub is near-perfect")
    assert(all(1L)._3 >= 1.3, s"exclusive-match margin must stay high: ${all(1L)}")
    assert(all(2L)._3 <= 1.15 && all(3L)._3 <= 1.15,
      s"hub margins must be suppressed toward 1: $all")
    // At a mining threshold between the two regimes only the true pair
    // survives — the published use.
    val mined = graft.ann.Ann.marginMine(a, b, k = 2, threshold = 1.3).collect()
    assert(mined.map(_.getLong(0)).toSeq == Seq(1L), s"got ${mined.toSeq}")
  }

  test("jlProject: distances preserved in expectation, deterministic, matrix-free") {
    import graft.functions.VectorFunctions
    val emb = spark.read.parquet(s"$sf001/embeddings.parquet").limit(60)
    val out = emb.select(F.col("vec_id"),
        VectorFunctions.jlProject(F.col("embedding"), k = 16, dim = 64).as("y"),
        F.col("embedding"))
      .collect()
      .map(r => (r.getLong(0),
        r.getSeq[Double](1).toArray,
        r.getSeq[Float](2).map(_.toDouble).toArray))
    def d2(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    // pairwise squared-distance distortion: individual ratios land in a
    // loose band at k=16; their MEAN is near 1 (the JL expectation)
    val pairs = for (i <- out.indices; j <- (i + 1) until math.min(i + 4, out.length))
      yield (out(i), out(j))
    val ratios = pairs.flatMap { case ((_, ya, xa), (_, yb, xb)) =>
      val dx = d2(xa, xb)
      if (dx < 1e-12) None else Some(d2(ya, yb) / dx)
    }
    assert(ratios.nonEmpty)
    assert(ratios.forall(r => r > 0.05 && r < 5.0),
      s"distortion out of band: min=${ratios.min} max=${ratios.max}")
    val mean = ratios.sum / ratios.length
    assert(mean > 0.6 && mean < 1.5, s"mean distortion off: $mean")
    // deterministic: a second projection is bit-identical
    val again = emb.select(
        VectorFunctions.jlProject(F.col("embedding"), k = 16, dim = 64).as("y"),
        F.col("vec_id"))
      .collect().map(r => r.getLong(1) -> r.getSeq[Double](0)).toMap
    out.foreach { case (id, y, _) => assert(again(id).toArray.sameElements(y)) }
  }

  test("sq8Quantize: codes in range, error within half a step, constant dims exact") {
    import spark.implicits._
    val emb = Seq(
      (1L, Array(0.0f, 10.0f, 5.0f)),
      (2L, Array(1.0f, 10.0f, -5.0f)),
      (3L, Array(0.5f, 10.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = Ann.sq8Quantize(emb).collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1), r.getDouble(2)))
    assert(out.length == 3)
    out.foreach { case (_, codes, err) =>
      assert(codes.length == 3)
      assert(codes.forall(c => c >= 0 && c <= 255), s"code out of range: $codes")
      // dim ranges: (0..1), constant, (-5..5): worst half-step = 10/255/2
      // (+1e-6: the reported error is rounded to 6 dp, which can tip just
      // past the exact bound)
      assert(err <= 10.0 / 255.0 / 2.0 + 1e-6, s"error too large: $err")
    }
    // constant dimension codes to 0 everywhere and reconstructs exactly
    assert(out.forall(_._2(1) == 0))
    // endpoints code to the extremes
    val byId = out.map(t => t._1 -> t._2).toMap
    assert(byId(1L)(0) == 0 && byId(2L)(0) == 255)
    assert(byId(2L)(2) == 0 && byId(1L)(2) == 255)
    // deterministic
    val again = Ann.sq8Quantize(emb).collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1), r.getDouble(2)))
    assert(out.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
  }

  test("orderInContext: dense total order, clusters contiguous, most-central first") {
    val emb = spark.read.parquet(s"$sf001/embeddings.parquet")
    val out = Ann.orderInContext(emb).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getLong(3)))
    val n = emb.count()
    // dense 0..N-1 with no gaps or duplicates
    assert(out.map(_._4).sorted.toSeq == (0L until n).toSeq, "train_pos not dense")
    // same-cluster docs occupy a CONTIGUOUS position range (the whole
    // point: a context window reads related docs)
    out.groupBy(_._2).foreach { case (cl, rows) =>
      val ps = rows.map(_._4)
      assert(ps.max - ps.min + 1 == rows.length,
        s"cluster $cl not contiguous in the training order")
    }
    // within a cluster: affinity non-increasing along the order
    out.groupBy(_._2).foreach { case (cl, rows) =>
      val byPos = rows.sortBy(_._4).map(_._3)
      assert(byPos.zip(byPos.tail).forall { case (a, b) => a >= b },
        s"cluster $cl not most-central-first")
    }
    // assignment agrees with clusterKmeans (shared centroid machinery)
    val km = Ann.clusterKmeans(emb).collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    out.foreach { case (id, cl, _, _) => assert(km(id) == cl) }
  }

  test("IVF trained centroids keep cells balanced (max <= 4x mean)") {
    val emb = spark.read.parquet(s"$sf001/embeddings.parquet")
    val cells = 16
    val cent = Ann.trainCentroids(emb, cells = cells)
    // Assign the FULL corpus with the same argmax the operator uses and
    // check no hot cell: one degenerate cell would turn the probe step
    // into brute force over most of the corpus.
    val c2 = cent.map(c => c.map(x => x * x).sum)
    val rows = emb.select(F.col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val sizes = new Array[Long](cells)
    rows.foreach { v =>
      var best = 0; var bs = Double.NegativeInfinity
      (0 until cells).foreach { j =>
        var d = 0.0; var i = 0
        while (i < v.length) { d += v(i) * cent(j)(i); i += 1 }
        val s = 2.0 * d - c2(j)
        if (s > bs) { best = j; bs = s }
      }
      sizes(best) += 1
    }
    val mean = rows.length.toDouble / cells
    info(s"IVF cell sizes: ${sizes.sorted.mkString(",")} (mean $mean)")
    assert(sizes.forall(_ > 0), s"empty cells: ${sizes.mkString(",")}")
    assert(sizes.max <= 4 * mean,
      s"hot cell ${sizes.max} exceeds 4x mean $mean — quantizer degenerated")
  }

  test("IVF accepts array<double> embeddings and matches the float result") {
    val embF = spark.read.parquet(s"$sf001/embeddings.parquet")
    val embD = embF.withColumn("embedding", F.col("embedding").cast("array<double>"))
    val qF = embF.filter(F.col("vec_id") < 10)
    val qD = embD.filter(F.col("vec_id") < 10)
    def res(c: org.apache.spark.sql.DataFrame, q: org.apache.spark.sql.DataFrame) =
      Ann.ivfTopK(c, q, k = 5, cells = 16, probes = 6).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).sorted.toSeq
    // float→double widening is exact, so the whole pipeline must agree bitwise
    assert(res(embF, qF) == res(embD, qD))
  }

  test("LSH ANN recall vs brute force is usable and bucket-bounded") {
    val emb = spark.read.parquet(s"$sf001/embeddings.parquet")
    val q = emb.filter(F.col("vec_id") < 20)
    VectorFunctions.registerAll(spark)
    val brute = Ann.bruteTopK(emb, q, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val lsh = Ann.lshTopK(emb, q, k = 5, bits = 6, tables = 8).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (brute & lsh).size.toDouble / brute.size
    info(f"LSH recall@5 over 20 queries: $recall%.2f")
    assert(recall > 0.2, f"LSH recall too low: $recall%.2f")
  }
}
