package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Bpe

/** BPE trainer/encoder semantics, pinned against an INDEPENDENT
  * collections-based reference implementation (different algorithm path:
  * the reference carries the segmented vocabulary forward and recounts
  * pairs each round; the engine re-segments from scratch per iteration)
  * on a hand-checkable corpus and on randomized ones — the row-45/102
  * oracle substitute for a non-SQL-replicable operator. */
class BpeSpec extends AnyFunSuite with SparkFixture {

  /** Reference trainer: explicit segmented vocab, recount every round.
    * Same contract (word-internal merges, count >= 2, tie-break
    * (count DESC, left ASC, right ASC)), independent mechanics. */
  private def referenceTrain(words: Seq[String], numMerges: Int): Vector[(String, String)] = {
    val counts = words.groupBy(identity).view.mapValues(_.size.toLong).toMap
    def cps(w: String): Vector[String] = {
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < w.length) {
        val cp = w.codePointAt(i)
        out += new String(Character.toChars(cp))
        i += Character.charCount(cp)
      }
      out.result()
    }
    var segs: Map[String, Vector[String]] =
      counts.keys.map(w => w -> cps(w)).toMap
    var merges = Vector.empty[(String, String)]
    var done = false
    while (!done && merges.length < numMerges) {
      val pairCounts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((w, syms) <- segs; i <- 0 until syms.length - 1)
        pairCounts((syms(i), syms(i + 1))) =
          pairCounts.getOrElse((syms(i), syms(i + 1)), 0L) + counts(w)
      val eligible = pairCounts.filter(_._2 >= 2L)
      if (eligible.isEmpty) done = true
      else {
        // tie-break in UTF-8 BYTE order — the engine's orderBy compares
        // UTF8String bytes, which diverges from String.compareTo (UTF-16
        // code units) for supplementary-plane symbols
        def byteLt(a: String, b: String): Boolean = {
          val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val n = math.min(x.length, y.length)
          var i = 0
          while (i < n) {
            val c = (x(i) & 0xff) - (y(i) & 0xff)
            if (c != 0) return c < 0
            i += 1
          }
          x.length < y.length
        }
        val ((l, r), _) = eligible.reduceLeft { (p, q) =>
          val ((pl, pr), pc) = p; val ((ql, qr), qc) = q
          val pWins =
            if (pc != qc) pc > qc
            else if (pl != ql) byteLt(pl, ql)
            else byteLt(pr, qr) || pr == qr
          if (pWins) p else q
        }
        merges :+= ((l, r))
        segs = segs.map { case (w, syms) =>
          val out = Vector.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
              out += (l + r); i += 2
            } else { out += syms(i); i += 1 }
          }
          w -> out.result()
        }
      }
    }
    merges
  }

  test("trained merges match the reference on the classic toy corpus") {
    import spark.implicits._
    // Sennrich-style toy distribution (no end-of-word marker — documented)
    val words = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    val docs = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
    val got = Bpe.train(docs, numMerges = 8)
    val want = referenceTrain(words, 8)
    assert(got == want, s"engine merges $got != reference $want")
    // hand-checked head: 'es' (9 = newest+widest) then 'est' (9) dominate
    assert(got.take(2) == Vector(("e", "s"), ("es", "t")), s"unexpected head: $got")
  }

  test("trained merges match the reference on randomized corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val alphabet = "abcd"
      val words = Seq.fill(120)(
        (0 until (2 + rnd.nextInt(5))).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
      val docs = words.grouped(30).zipWithIndex
        .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }.toSeq.toDF("doc_id", "text")
      val got = Bpe.train(docs, numMerges = 10)
      val want = referenceTrain(words, 10)
      assert(got == want, s"trial $trial: engine $got != reference $want")
      // and the result is partitioning-invariant (deterministic tie-break)
      val got2 = Bpe.train(docs.repartition(7), numMerges = 10)
      assert(got2 == got, s"trial $trial: merges moved under repartitioning")
    }
  }

  test("incremental trainer matches the reference at deeper merge counts and richer alphabets") {
    // the r15 trainer is a different algorithm (interned ids, delta pair
    // counts, lazy-heap argmax) — push it past the 10-merge trials:
    // deeper merge chains exercise merged-symbol-pair creation, heap
    // staleness correction, and the append-only index's lazy validation.
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 2) {
      val alphabet = "abcdef"
      val words = Seq.fill(300)(
        (0 until (3 + rnd.nextInt(9))).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
      val docs = words.grouped(50).zipWithIndex
        .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }.toSeq.toDF("doc_id", "text")
      val got = Bpe.train(docs, numMerges = 60)
      val want = referenceTrain(words, 60)
      assert(got == want,
        s"trial $trial: first divergence at merge ${got.zip(want).indexWhere(p => p._1 != p._2)}: " +
          s"engine ${got.take(5)}... != reference ${want.take(5)}...")
    }
  }

  test("parallel merge application is bit-equal to sequential and the reference") {
    // parallelThreshold = 1 forces EVERY merge through the sharded path
    // (dedup -> per-thread delta counters -> chunk-ordered merge) so the
    // r16 parallel apply is diffed against both the sequential trainer
    // and the independent reference on the same corpora
    import spark.implicits._
    val rnd = new scala.util.Random(1234)
    for (trial <- 1 to 2) {
      val alphabet = "abcde"
      val words = Seq.fill(400)(
        (0 until (2 + rnd.nextInt(8))).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
      val docs = words.grouped(40).zipWithIndex
        .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }.toSeq.toDF("doc_id", "text")
      val par = Bpe.train(docs, numMerges = 40, parallelThreshold = 1)
      val seq = Bpe.train(docs, numMerges = 40, applyParallelism = 1)
      val want = referenceTrain(words, 40)
      assert(par == seq,
        s"trial $trial: parallel path diverged from sequential at merge " +
          s"${par.zip(seq).indexWhere(p => p._1 != p._2)}")
      assert(par == want, s"trial $trial: parallel path diverged from the reference")
    }
  }

  test("rank-indexed segmentation equals in-order merge replay on trained tables") {
    import spark.implicits._
    val rnd = new scala.util.Random(99)
    for (trial <- 1 to 3) {
      val alphabet = "abcdef"
      val words = Seq.fill(250)(
        (0 until (2 + rnd.nextInt(9))).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
      val docs = words.grouped(50).zipWithIndex
        .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }.toSeq.toDF("doc_id", "text")
      val merges = Bpe.train(docs, numMerges = 50)
      val ranks = Bpe.rankIndex(merges)
      // every trained word AND unseen words segment identically
      val probes = words ++ Seq.fill(100)(
        (0 until (1 + rnd.nextInt(12))).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
      probes.foreach { w =>
        val a = Bpe.segment(w, merges)
        val b = Bpe.segmentByRank(w, ranks)
        assert(a == b, s"trial $trial word '$w': replay $a != ranked $b")
      }
    }
  }

  test("fertilityReport: hand-computable corpus yields exact per-group metrics") {
    import spark.implicits._
    // merges = [(a,b)]: "ab" -> 1 token; "cd" -> 2 tokens (c, d)
    val docs = Seq(
      (1L, "X", "ab ab cd"), // 3 words, 1+1+2 = 4 tokens, 8 chars
      (2L, "Y", "cd cd"), // 2 words, 4 tokens, 5 chars
      (3L, "X", "ab") // 1 word, 1 token, 2 chars
    ).toDF("doc_id", "lang", "text")
    val rep = Bpe.fertilityReport(docs, Seq(("a", "b"))).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5)))).toMap
    assert(rep("X") == ((4L, 5L, 10L, 1.25, 2.0)),
      s"X: ${rep("X")}") // 5 tokens / 4 words; 10 chars / 5 tokens
    assert(rep("Y") == ((2L, 4L, 5L, 2.0, 1.25)), s"Y: ${rep("Y")}")
  }

  test("save/load round-trips the tokenizer artifact, order preserved") {
    import spark.implicits._
    val docs = Seq((1L, "lowest lower low newest widest low low newest")).toDF("doc_id", "text")
    val merges = Bpe.train(docs, numMerges = 8)
    assert(merges.nonEmpty)
    val path = tempDir("graft_bpe_artifact")
      .resolve("tokenizer").toString
    Bpe.save(spark, merges, path)
    val loaded = Bpe.load(spark, path)
    assert(loaded == merges, s"artifact round-trip changed the tokenizer: $loaded vs $merges")
    // the loaded tokenizer encodes identically (order is the tokenizer)
    val a = Bpe.encode(docs, merges).collect().map(_.toString).sorted.toSeq
    val b = Bpe.encode(docs, loaded).collect().map(_.toString).sorted.toSeq
    assert(a == b)
  }

  test("tie-break is UTF-8 byte order: supplementary-plane vs BMP tie") {
    import spark.implicits._
    // Two pairs tied at count 2: (😀, a) and (U+E000, b). UTF-8 bytes:
    // U+E000 = EE 80 80 < 😀 = F0 9F 98 80, so byte order picks U+E000
    // first — while UTF-16 compareTo (surrogate D83D < E000) would pick
    // the emoji. Engine and reference must agree on the byte order.
    val w1 = "\uD83D\uDE00a" // U+1F600 GRINNING FACE + a
    val w2 = "\uE000b" // U+E000 private-use BMP + b
    val docs = Seq((1L, s"$w1 $w1 $w2 $w2")).toDF("doc_id", "text")
    val got = Bpe.train(docs, numMerges = 2)
    val want = referenceTrain(Seq(w1, w1, w2, w2), 2)
    assert(got == want, s"engine $got != reference $want")
    assert(got.head == (("\uE000", "b")),
      s"tie must resolve in UTF-8 byte order, got ${got.head}")
  }

  test("encode: tokens concatenate back to the word, segmentation consistent") {
    import spark.implicits._
    val docs = Seq((1L, "lowest lower low"), (2L, "newest")).toDF("doc_id", "text")
    val merges = Bpe.train(docs, numMerges = 6)
    val rows = Bpe.encode(docs, merges).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getString(3)))
    // lossless: per (doc, word occurrence? -- words here are distinct per doc)
    rows.groupBy(x => (x._1, x._2)).foreach { case ((_, w), toks) =>
      val rebuilt = toks.sortBy(_._3).map(_._4).mkString
      assert(rebuilt == w, s"tokens for '$w' rebuilt to '$rebuilt'")
    }
    // every token equals segment()'s output at its position
    rows.groupBy(x => (x._1, x._2)).foreach { case ((_, w), toks) =>
      assert(toks.sortBy(_._3).map(_._4).toVector == Bpe.segment(w, merges))
    }
  }
}
