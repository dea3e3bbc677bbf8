package graft.functions

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Byte-pair-encoding tokenizer TRAINING and encoding, run ON the engine —
  * the "train a tokenizer on the corpus" step of a pretraining pipeline
  * (Sennrich et al. 2016), expressed Spark-first.
  *
  * Scale shape — the part that matters at 100 TB:
  *   - The corpus is scanned ONCE: a single map-combinable aggregation to
  *     the distinct-word count table `(word, n)`. Classic BPE trainers do
  *     exactly this (word-level pre-tokenization; merges never cross word
  *     boundaries), so the merge loop's input is the VOCABULARY histogram
  *     — vocabulary-scale, not corpus-scale.
  *   - The merge loop itself is the classic INCREMENTAL trainer (r15 —
  *     the r14 design ran one full Spark job per merge with full vocab
  *     re-segmentation: O(K²·V) work and K sequential driver-scheduled
  *     jobs, a non-starter at production merge counts): pair counts and a
  *     pair→words occurrence index are built once, and each merge
  *     re-segments ONLY the words containing the winning pair, applying
  *     exact count deltas — O(occurrences touched), K-independent. It
  *     runs driver-side over the collected histogram, the same
  *     bounded-driver-state pattern as the k-means/IVF centroid trainers
  *     and the classifier weight vector: the histogram collect is capped
  *     at `maxVocab` rows (deterministic cut: count DESC, word ASC —
  *     exact when the vocabulary fits the cap, which is the published
  *     practice: real tokenizer trainers hold the word histogram in
  *     memory; Zipf puts everything that can win a merge far above any
  *     realistic cap). 32k merges over a millions-word histogram is
  *     seconds of driver CPU — NOT 32k sequential Spark jobs, whose
  *     scheduling constants alone would dwarf the arithmetic.
  *   - Ties break on (count DESC, left ASC, right ASC), where string
  *     order is UTF-8 BYTE order (what Spark's orderBy compares) — a
  *     total order, so training is bit-reproducible across partitionings
  *     and engines. Note the contract precisely: byte order differs from
  *     Java's UTF-16 compareTo for supplementary-plane symbols (emoji vs
  *     U+E000+ BMP chars); BpeSpec's independent reference compares
  *     bytes for exactly this reason.
  *
  * Training is NOT SQL-replicable (greedy left-to-right re-segmentation
  * is sequential within a word; a recursive-CTE replay would be a
  * different algorithm, not an oracle), so the driver gate is rows-only —
  * semantics are pinned by BpeSpec against an independent
  * collections-based reference implementation (full recount per round —
  * mechanics independent of the incremental deltas here) on randomized
  * corpora, the row-45/row-102 precedent. */
object Bpe {

  /** Greedy left-to-right application of `merges`, IN ORDER, to one word —
    * the standard BPE encode (training applies single merges with the
    * same word-internal rule). Pure and allocation-light; lives on
    * executors inside [[encode]]'s flatMap. */
  def segment(word: String, merges: Seq[(String, String)]): Vector[String] = {
    // Base symbols are CODE POINTS, not UTF-16 chars: a char-level split
    // would make each half of a surrogate pair (emoji etc.) its own
    // symbol — a lone surrogate is not valid UTF-8, so those "symbols"
    // mangle to '?' the moment they round-trip through a UTF8String
    // column and distinct pairs collapse.
    var syms: Vector[String] = codePoints(word)
    var mi = 0
    while (mi < merges.length) {
      val (l, r) = merges(mi)
      // fast skip: a merge whose parts never occur can't change the word
      if (syms.contains(l)) {
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
            out += (l + r); i += 2
          } else { out += syms(i); i += 1 }
        }
        syms = out.result()
      }
      mi += 1
    }
    syms
  }

  /** Rank-indexed segmentation — the K-INDEPENDENT encode (r16): instead
    * of replaying all K merges over the word (O(K·len) — at a 32k-merge
    * production vocabulary that is 32k scans per distinct word),
    * repeatedly merge the present adjacent pair with the LOWEST merge
    * rank, leftmost occurrence first, until no present pair is ranked.
    * This is the standard BPE-encode equivalence (merging (l,r) can only
    * create pairs involving the new symbol, never another (l,r), so
    * rank-order occurrence-at-a-time reproduces the in-order full passes
    * exactly); BpeSpec diffs it against [[segment]] on randomized merge
    * tables. O(len²) map lookups per word with len ≈ word length —
    * independent of K. Contract: `merges` must be a VALID trained table
    * (merge i's parts exist before rank i — what [[train]] produces); a
    * hand-built table whose early merge references a later-created symbol
    * replays differently under [[segment]], and nothing can encode it
    * consistently. */
  def segmentByRank(word: String, ranks: java.util.HashMap[String, java.util.HashMap[String, Integer]]): Vector[String] = {
    var syms: Vector[String] = codePoints(word)
    var done = false
    while (!done && syms.length > 1) {
      var bestRank = Int.MaxValue
      var bestI = -1
      var i = 0
      while (i < syms.length - 1) {
        val rm = ranks.get(syms(i))
        if (rm != null) {
          val rk = rm.get(syms(i + 1))
          if (rk != null && rk < bestRank) { bestRank = rk; bestI = i }
        }
        i += 1
      }
      if (bestI < 0) done = true
      else {
        val out = Vector.newBuilder[String]
        var j = 0
        while (j < syms.length) {
          if (j == bestI) { out += (syms(j) + syms(j + 1)); j += 2 }
          else { out += syms(j); j += 1 }
        }
        syms = out.result()
      }
    }
    syms
  }

  /** The nested pair→rank lookup [[segmentByRank]] reads (built once per
    * encode job, rides the task closure like the merge table). */
  def rankIndex(merges: Seq[(String, String)]): java.util.HashMap[String, java.util.HashMap[String, Integer]] = {
    val m = new java.util.HashMap[String, java.util.HashMap[String, Integer]]()
    merges.zipWithIndex.foreach { case ((l, r), i) =>
      var inner = m.get(l)
      if (inner == null) { inner = new java.util.HashMap[String, Integer](); m.put(l, inner) }
      // first rank wins: a duplicate (l, r) later in the table can never
      // apply (its occurrences were consumed by the earlier rank)
      if (!inner.containsKey(r)) inner.put(r, Int.box(i))
    }
    m
  }

  /** One string per Unicode code point (surrogate pairs stay whole). */
  private[functions] def codePoints(word: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < word.length) {
      val cp = word.codePointAt(i)
      out += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    out.result()
  }

  /** The one-corpus-scan word-count table `(word, n)` the trainer and
    * encoder both start from. */
  private[functions] def wordCounts(docs: DataFrame, textCol: String): DataFrame = {
    val toks = ColumnBridge.column(
      graft.functions.expressions.ShingleExpr(
        ColumnBridge.expression(F.col(textCol)), 1))
    graft.Spread(docs)
      .select(F.explode(toks).as("word"))
      .groupBy(F.col("word"))
      .agg(F.count(F.lit(1)).as("n"))
  }

  /** Train `numMerges` BPE merges on the corpus. Returns the ordered merge
    * table — the trained tokenizer. Stops early when no adjacent pair
    * occurs at least twice (merging singletons is noise).
    *
    * `maxVocab` bounds the histogram collect (the centroid-sample /
    * classifier-weights bounded-driver-state class): the cut keeps the
    * `maxVocab` most frequent words (count DESC, word ASC — deterministic)
    * and is exact whenever the corpus vocabulary fits, which the default
    * comfortably covers at any tested scale. */
  /** `applyParallelism` / `parallelThreshold` (r16): a merge whose
    * candidate list is huge (adversarial corpora where one pair touches
    * most of the vocabulary) applies across a thread pool — per-word
    * rewrites are independent once the candidate list is DEDUPED, count
    * updates are order-free sums merged from per-shard delta counters,
    * and the heap's total-order comparator makes push order irrelevant,
    * so the parallel path is BIT-EQUAL to the sequential one (BpeSpec
    * forces it with parallelThreshold = 1 and diffs against the
    * reference). Merges with small candidate lists (the common case —
    * Zipf corpora) stay on the sequential path: below the threshold the
    * fork/join overhead exceeds the work. */
  def train(docs: DataFrame, textCol: String = "text",
            numMerges: Int = 16, maxVocab: Int = 4000000,
            applyParallelism: Int = Runtime.getRuntime.availableProcessors(),
            parallelThreshold: Int = 256): Seq[(String, String)] = {
    // THE distributed part: corpus → word histogram (map-side combinable,
    // one shuffle on the word), deterministically truncated.
    val vocab: Array[(String, Long)] =
      wordCounts(docs, textCol)
        .orderBy(F.col("n").desc, F.col("word").asc)
        .limit(maxVocab)
        .collect().map(r => (r.getString(0), r.getLong(1)))
    trainFromHistogram(vocab, numMerges, applyParallelism, parallelThreshold)
  }

  /** The vocabulary-scale merge loop on an explicit word histogram —
    * extracted so [[ByteBpe]] can run the SAME trainer over byte-mapped
    * words (its "code points" are the mapped single chars). Order of
    * `vocab` is part of the determinism contract (callers sort). */
  private[functions] def trainFromHistogram(
      vocab: Array[(String, Long)], numMerges: Int,
      applyParallelism: Int = Runtime.getRuntime.availableProcessors(),
      parallelThreshold: Int = 256): Seq[(String, String)] = {
    // The vocabulary-scale part: the classic incremental merge loop, on
    // INTERNED symbol ids. Strings would make every pair-count update
    // re-hash two growing substrings; int ids make a pair a single long
    // key into an open-addressing primitive map (measured ~20x on an
    // adversarial all-words-affected corpus).
    // State: per-word symbol-id arrays, exact pair counts (no deletion —
    // decremented-to-zero entries are simply ineligible), and an
    // APPEND-ONLY pair→word occurrence index validated lazily at merge
    // time (a stale or duplicate entry costs one skipped scan exactly
    // once, when — if ever — that pair wins a merge).
    val symId = scala.collection.mutable.HashMap.empty[String, Int]
    val symStr = scala.collection.mutable.ArrayBuffer.empty[String]
    // UTF-8 bytes cached per interned symbol: the heap's tie comparator
    // runs on count plateaus (BPE tails are count-2/count-3 heavy), and
    // re-encoding two growing subword strings per sift step is pure
    // allocation churn (review r15)
    val symBytes = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    def intern(s: String): Int =
      symId.getOrElseUpdate(s, {
        symStr += s
        symBytes += s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        symStr.length - 1
      })
    val words = new Array[Array[Int]](vocab.length)
    val wn = new Array[Long](vocab.length)
    var wi = 0
    while (wi < vocab.length) {
      words(wi) = codePoints(vocab(wi)._1).iterator.map(intern).toArray
      wn(wi) = vocab(wi)._2
      wi += 1
    }
    def pkey(l: Int, r: Int): Long = (l.toLong << 32) | (r.toLong & 0xffffffffL)
    val pairCount = new LongLongCounter(1 << 16)
    val pairWords = new LongObjMap(1 << 16)
    val heap = new PairHeap(symBytes)
    // `indexSym`: -1 indexes every pair (the initial build); otherwise
    // only pairs touching that symbol are (re-)indexed — merging never
    // creates an adjacency that does not involve the freshly merged
    // symbol (symbols only combine, they never vanish from between two
    // others), so a re-segmented word's other pairs are already listed
    // from when they first appeared. Without this the index re-listed
    // every pair of every touched word per merge: 15M candidate visits
    // for 1M real hits at 256 merges on an adversarial stress corpus.
    // CREATED pairs of the current merge (every new adjacency involves
    // the merged symbol) are collected here and heap-armed ONCE per merge
    // at their exact post-merge count (r16 — the per-occurrence
    // running-count pushes armed each created pair dozens of times and
    // the resulting stale-entry churn dominated argmax at high merge
    // counts: 2.4 s of 16 s on the 4k-merge stress run). A single exact
    // push is trivially a valid non-stale entry, so the pop-time
    // validation contract is unchanged.
    val createdScratch = scala.collection.mutable.HashSet.empty[Long]
    def addPairs(idx: Int, syms: Array[Int], n: Long, indexSym: Int): Unit = {
      var i = 0
      while (i < syms.length - 1) {
        val k = pkey(syms(i), syms(i + 1))
        pairCount.add(k, n)
        if (indexSym == -1 || syms(i) == indexSym || syms(i + 1) == indexSym) {
          var lst = pairWords.getOrNull(k).asInstanceOf[IntList]
          if (lst == null) { lst = new IntList; pairWords.put(k, lst) }
          lst.add(idx)
          if (indexSym != -1) createdScratch += k
        }
        i += 1
      }
    }
    // pure count retraction: touched words keep their (now possibly
    // stale) index entries — the winner's scan validates lazily
    def dropPairs(syms: Array[Int], n: Long): Unit = {
      var i = 0
      while (i < syms.length - 1) {
        pairCount.add(pkey(syms(i), syms(i + 1)), -n)
        i += 1
      }
    }
    wi = 0
    while (wi < words.length) { addPairs(wi, words(wi), wn(wi), indexSym = -1); wi += 1 }

    // Lazy max-heap over (count, pair): a full pairCount scan per merge
    // is O(pairs-ever) and dominated the 4k-merge stress run (21 s of
    // 36); the heap pops the argmax in O(log). Entries go stale as
    // counts decrease — a popped entry is validated against the live
    // count and re-pushed at its current value instead (a pair's count
    // only DECREASES after the merge that creates its symbols, so by
    // argmax time every stale entry is an overestimate and surfaces
    // before it could be wrongly outranked).
    pairCount.foreach { (k, n) => if (n >= 2L) heap.push(n, k) }

    var merges = Vector.empty[(String, String)]
    var continue = true
    // parallel-apply scratch: a visit stamp dedups the append-only
    // candidate list before sharding (two threads must never rewrite the
    // same word); allocated once, O(1) amortized per merge
    val stamp = new Array[Int](words.length)
    java.util.Arrays.fill(stamp, -1)
    while (continue && merges.length < numMerges) {
      // global argmax with the total-order tie-break (count DESC, l ASC,
      // r ASC in UTF-8 byte order) — iteration order of the map cannot
      // influence the winner.
      // pop the live argmax: discard/re-push stale (overestimated)
      // entries until the top matches its live count
      var bestK = -1L
      while (bestK < 0 && heap.nonEmpty) {
        val (hn, hk) = heap.pop()
        val cur = pairCount.get(hk)
        if (cur == hn) bestK = hk
        else if (cur >= 2L) heap.push(cur, hk)
      }
      if (bestK < 0) continue = false
      else {
        val l = (bestK >>> 32).toInt; val r = bestK.toInt
        merges :+= ((symStr(l), symStr(r)))
        val lr = intern(symStr(l) + symStr(r))
        val candidates = {
          val lst = pairWords.getOrNull(bestK).asInstanceOf[IntList]
          if (lst == null) Array.empty[Int] else lst.toArray
        }
        if (applyParallelism > 1 && candidates.length >= parallelThreshold) {
          // ---- parallel apply (adversarial-fan merges only) ----
          val round = merges.length - 1 // unique, monotone per merge
          val dd = new IntList
          var ci = 0
          while (ci < candidates.length) {
            val idx = candidates(ci)
            if (stamp(idx) != round) { stamp(idx) = round; dd.add(idx) }
            ci += 1
          }
          val uniq = dd.toArray
          val nChunks = math.min(applyParallelism, math.max(1, uniq.length / 32))
          val shards = new Array[ApplyShard](nChunks)
          java.util.stream.IntStream.range(0, nChunks).parallel().forEach { c =>
            val sh = new ApplyShard
            val lo = (c.toLong * uniq.length / nChunks).toInt
            val hi = ((c + 1).toLong * uniq.length / nChunks).toInt
            var ai = lo
            while (ai < hi) {
              val idx = uniq(ai)
              val old = words(idx)
              var hit = false
              var j = 0
              while (!hit && j < old.length - 1) {
                if (old(j) == l && old(j + 1) == r) hit = true; j += 1
              }
              if (hit) {
                val n = wn(idx)
                var i = 0
                while (i < old.length - 1) {
                  sh.delta.add(pkey(old(i), old(i + 1)), -n); i += 1
                }
                val out = new Array[Int](old.length)
                var oi = 0
                i = 0
                while (i < old.length) {
                  if (i + 1 < old.length && old(i) == l && old(i + 1) == r) {
                    out(oi) = lr; oi += 1; i += 2
                  } else { out(oi) = old(i); oi += 1; i += 1 }
                }
                val neu = java.util.Arrays.copyOf(out, oi)
                words(idx) = neu
                i = 0
                while (i < neu.length - 1) {
                  val k = pkey(neu(i), neu(i + 1))
                  sh.delta.add(k, n)
                  if (neu(i) == lr || neu(i + 1) == lr) {
                    sh.entryKeys.add(k); sh.entryIdxs.add(idx)
                  }
                  i += 1
                }
              }
              ai += 1
            }
            shards(c) = sh
          }
          // sequential merge in CHUNK order: counts are order-free sums,
          // the index keeps per-occurrence entries exactly like the
          // sequential path, and heap pushes happen once per created pair
          // at its exact post-merge count (a valid, non-stale entry — the
          // pop-time validation contract is unchanged)
          val createdSet = scala.collection.mutable.HashSet.empty[Long]
          var c2 = 0
          while (c2 < nChunks) {
            val sh = shards(c2)
            sh.delta.foreach { (k, d) => if (d != 0L) pairCount.add(k, d) }
            var e = 0
            while (e < sh.entryKeys.length) {
              var lst = pairWords.getOrNull(sh.entryKeys.get(e)).asInstanceOf[IntList]
              if (lst == null) { lst = new IntList; pairWords.put(sh.entryKeys.get(e), lst) }
              lst.add(sh.entryIdxs.get(e))
              createdSet += sh.entryKeys.get(e)
              e += 1
            }
            c2 += 1
          }
          createdSet.foreach { k =>
            val cur = pairCount.get(k)
            if (cur >= 2L) heap.push(cur, k)
          }
        } else {
          var ai = 0
          while (ai < candidates.length) {
            val idx = candidates(ai)
            val old = words(idx)
            // lazy validation: the index is append-only, so this word may
            // no longer (or twice-listed, no longer again) contain the pair
            var hit = false
            var j = 0
            while (!hit && j < old.length - 1) {
              if (old(j) == l && old(j + 1) == r) hit = true; j += 1
            }
            if (hit) {
              val n = wn(idx)
              // retract the old adjacency counts (index stays append-only)
              dropPairs(old, n)
              // apply THIS merge once, left-to-right — identical to the
              // reference's per-round rewrite
              val out = new Array[Int](old.length)
              var oi = 0
              var i = 0
              while (i < old.length) {
                if (i + 1 < old.length && old(i) == l && old(i + 1) == r) {
                  out(oi) = lr; oi += 1; i += 2
                } else { out(oi) = old(i); oi += 1; i += 1 }
              }
              val neu = java.util.Arrays.copyOf(out, oi)
              words(idx) = neu
              addPairs(idx, neu, n, indexSym = lr)
            }
            ai += 1
          }
          // batch heap arming at exact post-merge counts (see
          // createdScratch above)
          createdScratch.foreach { k =>
            val cur = pairCount.get(k)
            if (cur >= 2L) heap.push(cur, k)
          }
          createdScratch.clear()
        }
      }
    }
    merges
  }

  /** Append-only int list (no boxing). */
  private final class IntList {
    private var a = new Array[Int](8)
    private var n = 0
    def add(x: Int): Unit = {
      if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
      a(n) = x; n += 1
    }
    def get(i: Int): Int = a(i)
    def length: Int = n
    def toArray: Array[Int] = java.util.Arrays.copyOf(a, n)
  }

  /** Append-only long list (no boxing). */
  private final class LongList {
    private var a = new Array[Long](8)
    private var n = 0
    def add(x: Long): Unit = {
      if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
      a(n) = x; n += 1
    }
    def get(i: Int): Long = a(i)
    def length: Int = n
  }

  /** Open-addressing long→AnyRef map (linear probing, power-of-2 capacity,
    * no deletion) — the pair→occurrence-list index without per-op Long
    * boxing (r16: `HashMap[Long, IntList]` boxed every key of the ~4M
    * index operations a stress run performs). Keys non-negative. */
  private final class LongObjMap(initCap: Int) {
    private var cap = Integer.highestOneBit(math.max(initCap, 16))
    private var keys = java.util.Arrays.copyOf(Array.fill(cap)(-1L), cap)
    private var vals = new Array[AnyRef](cap)
    private var n = 0
    private def idx(k: Long, c: Int): Int = {
      var h = k * -7046029254386353131L
      h ^= (h >>> 32)
      (h & (c - 1)).toInt
    }
    def getOrNull(k: Long): AnyRef = {
      var i = idx(k, cap)
      while (keys(i) != k && keys(i) != -1L) i = (i + 1) & (cap - 1)
      if (keys(i) == k) vals(i) else null
    }
    def put(k: Long, v: AnyRef): Unit = {
      var i = idx(k, cap)
      while (keys(i) != k && keys(i) != -1L) i = (i + 1) & (cap - 1)
      if (keys(i) == -1L) {
        keys(i) = k; vals(i) = v; n += 1
        if (n * 4 > cap * 3) grow()
      } else vals(i) = v
    }
    private def grow(): Unit = {
      val ok = keys; val ov = vals
      cap *= 2
      keys = Array.fill(cap)(-1L); vals = new Array[AnyRef](cap); n = 0
      var i = 0
      while (i < ok.length) {
        if (ok(i) != -1L) {
          var j = idx(ok(i), cap)
          while (keys(j) != -1L) j = (j + 1) & (cap - 1)
          keys(j) = ok(i); vals(j) = ov(i); n += 1
        }
        i += 1
      }
    }
  }

  /** Per-thread scratch of the parallel merge application: a local count
    * delta (merged order-free) and per-occurrence index entries. */
  private final class ApplyShard {
    val delta = new LongLongCounter(1 << 8)
    val entryKeys = new LongList
    val entryIdxs = new IntList
  }

  /** Open-addressing long→long counter (linear probing, power-of-2
    * capacity, no deletion — a zeroed count is just never eligible).
    * Keys are non-negative by construction (two 31-bit symbol ids). */
  private final class LongLongCounter(initCap: Int) {
    private var cap = Integer.highestOneBit(math.max(initCap, 16))
    private var keys = java.util.Arrays.copyOf(Array.fill(cap)(-1L), cap)
    private var vals = new Array[Long](cap)
    private var n = 0
    private def idx(k: Long, c: Int): Int = {
      // finalizer-style mix so sequential ids spread
      var h = k * -7046029254386353131L
      h ^= (h >>> 32)
      (h & (c - 1)).toInt
    }
    /** Adds `d` and returns the NEW value. */
    def add(k: Long, d: Long): Long = {
      var i = idx(k, cap)
      while (keys(i) != k && keys(i) != -1L) i = (i + 1) & (cap - 1)
      if (keys(i) == -1L) {
        keys(i) = k; vals(i) = d; n += 1
        if (n * 4 > cap * 3) grow()
        d
      } else { vals(i) += d; vals(i) }
    }
    private def grow(): Unit = {
      val ok = keys; val ov = vals
      cap *= 2
      keys = Array.fill(cap)(-1L); vals = new Array[Long](cap); n = 0
      var i = 0
      while (i < ok.length) {
        if (ok(i) != -1L) {
          var j = idx(ok(i), cap)
          while (keys(j) != -1L) j = (j + 1) & (cap - 1)
          keys(j) = ok(i); vals(j) = ov(i); n += 1
        }
        i += 1
      }
    }
    def get(k: Long): Long = {
      var i = idx(k, cap)
      while (keys(i) != k && keys(i) != -1L) i = (i + 1) & (cap - 1)
      if (keys(i) == k) vals(i) else 0L
    }
    def foreach(f: (Long, Long) => Unit): Unit = {
      var i = 0
      while (i < keys.length) {
        if (keys(i) != -1L) f(keys(i), vals(i))
        i += 1
      }
    }
  }

  /** Binary max-heap of (count, pair-key) under the trainer's total
    * order — count DESC, then left/right symbol in UTF-8 byte order ASC
    * (resolved through the intern table's CACHED byte encodings), then
    * key ASC. Parallel long arrays, no boxing; entries may be stale
    * (the pop site validates against the live count). */
  private final class PairHeap(symBytes: scala.collection.mutable.ArrayBuffer[Array[Byte]]) {
    private var ns = new Array[Long](1 << 12)
    private var ks = new Array[Long](1 << 12)
    private var size = 0
    def nonEmpty: Boolean = size > 0
    /** true iff entry i outranks entry j */
    private def bytesLt(x: Array[Byte], y: Array[Byte]): Boolean = {
      val n = math.min(x.length, y.length)
      var i = 0
      while (i < n) {
        val c = (x(i) & 0xff) - (y(i) & 0xff)
        if (c != 0) return c < 0
        i += 1
      }
      x.length < y.length
    }
    private def prior(i: Int, j: Int): Boolean = {
      if (ns(i) != ns(j)) return ns(i) > ns(j)
      val li = (ks(i) >>> 32).toInt; val lj = (ks(j) >>> 32).toInt
      if (li != lj) return bytesLt(symBytes(li), symBytes(lj))
      val ri = ks(i).toInt; val rj = ks(j).toInt
      if (ri != rj) return bytesLt(symBytes(ri), symBytes(rj))
      ks(i) < ks(j)
    }
    private def swap(i: Int, j: Int): Unit = {
      val tn = ns(i); ns(i) = ns(j); ns(j) = tn
      val tk = ks(i); ks(i) = ks(j); ks(j) = tk
    }
    def push(n: Long, k: Long): Unit = {
      if (size == ns.length) {
        ns = java.util.Arrays.copyOf(ns, size * 2)
        ks = java.util.Arrays.copyOf(ks, size * 2)
      }
      ns(size) = n; ks(size) = k
      var i = size; size += 1
      while (i > 0 && prior(i, (i - 1) / 2)) { swap(i, (i - 1) / 2); i = (i - 1) / 2 }
    }
    def pop(): (Long, Long) = {
      val out = (ns(0), ks(0))
      size -= 1
      if (size > 0) {
        ns(0) = ns(size); ks(0) = ks(size)
        var i = 0
        var done = false
        while (!done) {
          val l = 2 * i + 1; val r = l + 1
          var m = i
          if (l < size && prior(l, m)) m = l
          if (r < size && prior(r, m)) m = r
          if (m == i) done = true else { swap(i, m); i = m }
        }
      }
      out
    }
  }

  /** Tokenizer FERTILITY / compression report (r16) — the per-group table
    * every tokenizer decision is made on: `fertility` (BPE tokens per
    * whitespace word — Ács' multilingual-penalty metric; ~1.0 means the
    * vocabulary covers the group's words whole, >>1 means the group pays
    * more sequence length per word) and `chars_per_token` (compression —
    * how much text a token carries), per language/source. Training a
    * vocabulary and then READING THIS TABLE is how merge budgets and
    * mixture decisions get made in practice.
    *
    * Scale shape: one [[encode]] pass (zero-shuffle flatMap) aggregated
    * map-side to per-doc token counts, one id-keyed join to the doc's
    * group metadata (bucketed corpora make it exchange-free), one tiny
    * per-group aggregation. Ratios are single IEEE divisions rounded to
    * 6 dp. The gate is rows-only by the BPE-not-SQL-replicable contract
    * (BpeSpec's independent reference pins [[encode]]; BpeFertilitySpec
    * pins this arithmetic on a hand-computable corpus). */
  def fertilityReport(docs: DataFrame, merges: Seq[(String, String)],
                      groupCol: String = "lang", idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame =
    fertilityFromEncode(docs, encode(docs, merges, idCol, textCol),
      groupCol, idCol, textCol)

  /** The tokenizer-agnostic fertility tail: any (idCol, ..., token) encode
    * stream folds to the same per-group fertility / compression table —
    * shared by the BPE (row 146) and unigram-LM ([[Spm.fertilityReport]])
    * reports so the two tokenizer families are compared on IDENTICAL
    * arithmetic. */
  private[functions] def fertilityFromEncode(docs: DataFrame, encoded: DataFrame,
                                             groupCol: String, idCol: String,
                                             textCol: String): DataFrame = {
    val perDoc = encoded
      .groupBy(F.col(idCol))
      .agg(F.count(F.lit(1)).as("_n_tok"))
    val meta = docs.select(F.col(idCol), F.col(groupCol),
      graft.functions.TextFunctions.tokenCount(F.col(textCol)).as("_n_words"),
      F.length(F.col(textCol)).cast("long").as("_n_chars"))
    meta.join(perDoc, Seq(idCol), "left")
      .groupBy(F.col(groupCol))
      .agg(
        F.sum(F.col("_n_words")).as("n_words"),
        F.sum(F.coalesce(F.col("_n_tok"), F.lit(0L))).as("n_tokens"),
        F.sum(F.col("_n_chars")).as("n_chars"))
      .select(F.col(groupCol), F.col("n_words"), F.col("n_tokens"), F.col("n_chars"),
        F.expr("round(CAST(n_tokens AS DOUBLE) / CAST(n_words AS DOUBLE), 6)")
          .as("fertility"),
        F.expr("round(CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)")
          .as("chars_per_token"))
  }

  /** Persist a trained merge table as the tokenizer ARTIFACT a pipeline
    * ships between the train job and every encode job: one parquet file
    * of (merge_rank, left, right) — self-describing, engine-neutral,
    * tiny (K rows). Overwrites. */
  def save(spark: org.apache.spark.sql.SparkSession,
           merges: Seq[(String, String)], path: String): Unit = {
    import spark.implicits._
    merges.zipWithIndex
      .map { case ((l, r), i) => (i.toLong, l, r) }
      .toDF("merge_rank", "left", "right")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a [[save]]d tokenizer. Merge ORDER is the tokenizer (BPE
    * applies merges in training order), so the read sorts on the
    * persisted rank rather than trusting file/row order. */
  def load(spark: org.apache.spark.sql.SparkSession,
           path: String): Seq[(String, String)] =
    spark.read.parquet(path)
      .orderBy(F.col("merge_rank").asc)
      .collect().map(r => (r.getAs[String]("left"), r.getAs[String]("right"))).toSeq

  /** Encode every document with a trained merge table: one row per
    * (doc, token) with the token's position — the tokenize-the-corpus
    * step. Pure flatMap over the scan (zero shuffle); merges ride the
    * closure (bounded: K pairs, the broadcast-centroids pattern). A
    * per-partition memo segments each DISTINCT word once per task —
    * natural text is Zipf-distributed, so the memo turns an
    * O(occurrences × K) segmentation bill into O(distinct words × K)
    * (bounded at 2^20 entries per task; past that, unmemoized words
    * still segment correctly, just uncached). */
  def encode(docs: DataFrame, merges: Seq[(String, String)],
             idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = ColumnBridge.column(
      graft.functions.expressions.ShingleExpr(
        ColumnBridge.expression(F.col(textCol)), 1))
    graft.Spread(docs)
      .select(F.col(idCol).cast("long"), F.explode(toks).as("word"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val memo = new java.util.HashMap[String, Array[String]]()
        // rank-indexed segmentation (r16): per-word cost independent of
        // the merge count — the in-order replay paid O(K) per DISTINCT
        // word even with the memo, which at production K dominated encode
        val ranks = rankIndex(merges)
        it.flatMap { case (id, w) =>
          var t = memo.get(w)
          if (t == null) {
            t = segmentByRank(w, ranks).toArray
            if (memo.size < (1 << 20)) memo.put(w, t)
          }
          Iterator.tabulate(t.length)(i => (id, w, i, t(i)))
        }
      }
      .toDF(idCol, "word", "pos", "token")
  }
}
