package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.functions.TextFunctions
import graft.functions.expressions.ShingleExpr

/** Deduplication operators for the LLM-data-pipeline pack.
  *
  * Scale contract (100 TB): every near-dup path is LSH-bucketed — the only
  * shuffles are `groupBy(hash)` / `groupBy(band, signature)`, and pair
  * comparison happens strictly WITHIN buckets. There is no `crossJoin`
  * anywhere in this package. Shingling fans out rows (docs × shingles) but
  * map-side partial aggregation collapses the minhash per (doc, band)
  * before the shuffle.
  */
object Dedup {

  /** Default MinHash band count, shared by every `bands: Int = DefaultBands`
    * parameter below. Callers deriving index-size bounds (rows = docs ×
    * bands) must use THIS constant, not a literal 8 — a literal silently
    * stops being an upper bound if the default ever changes, and an
    * under-bound skips the degenerate-bucket guard exactly when it
    * matters. */
  val DefaultBands = 8

  /** Exact dedup by content hash: one row per distinct text, keeping the
    * smallest doc id (the canonical survivor) + the duplicate count.
    * sha256 group keys are uniform → no skew; fully map-side combinable. */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .groupBy(F.sha2(F.col(textCol), 256).as("content_hash"))
      .agg(
        F.min(idCol).as("keep_id"),
        F.count(F.lit(1)).as("n_copies"))

  /** Exact dedup on a normalized fingerprint (whitespace/case-insensitive). */
  def exactByFingerprint(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .groupBy(TextFunctions.fingerprint(F.col(textCol)).as("fingerprint"))
      .agg(F.min(idCol).as("keep_id"), F.count(F.lit(1)).as("n_copies"))

  /** Word n-gram shingles per document, with duplicates: (id, shingle).
    * Rebalances the input first: shingling fans each row out ~tokens-fold,
    * so a document table read from few files (few scan tasks) must spread
    * across the cluster BEFORE the explode, not after. */
  def shinglesRaw(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val shingleArr = ColumnBridge.column(
      ShingleExpr(ColumnBridge.expression(F.col(textCol)), n))
    graft.Spread(docs)
      .select(F.col(idCol), F.explode(shingleArr).as("shingle"))
  }

  /** Distinct word n-gram shingles per document: (id, shingle).
    * Distinctness is PER DOCUMENT, so it is computed inside the row
    * (`array_distinct` over the shingle array, codegen'd) before the
    * explode — same (id, shingle) set as `shinglesRaw().distinct()`, but
    * with no distinct() SHUFFLE of the exploded table (docs × shingles
    * rows at 100 TB). */
  def shingles(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val shingleArr = ColumnBridge.column(
      ShingleExpr(ColumnBridge.expression(F.col(textCol)), n))
    graft.Spread(docs)
      .select(F.col(idCol), F.explode(F.array_distinct(shingleArr)).as("shingle"))
  }

  /** Per-band minhash signatures: ONE md5 per shingle, split into two
    * big-endian 64-bit halves (hi = hex chars 1–16, lo = 17–32); band b's
    * hash is the Kirsch–Mitzenmacher mix `lo + b*hi (mod 2^64)` and sig_b
    * is its min over shingles as 16 lowercase hex chars. Fixed-width
    * lowercase hex ⇒ the string MIN is the unsigned numeric min, so the
    * signature is replicable in any engine with md5 (the DuckDB mirror is
    * OracleSql.minhashCtes). The mix runs in DECIMAL because ANSI long
    * arithmetic (Spark 4 default) throws on overflow instead of wrapping;
    * the explicit `% 2^64` + signed-range shift reproduce the wraparound
    * exactly, and values within long range cast losslessly for hex().
    *
    * All `bands` minima are computed in ONE pass over the shingle table
    * (wide aggregation, map-side combinable) and then unpivoted to
    * (id, band, sig) — the shuffle carries docs × bands rows, not
    * shingles × bands. */
  def minhashSignatures(sh: DataFrame, idCol: String, bands: Int): DataFrame = {
    val h = F.md5(F.col("shingle"))
    val two64 = F.lit(new java.math.BigDecimal(java.math.BigInteger.ONE.shiftLeft(64)))
    val two63 = F.lit(new java.math.BigDecimal(java.math.BigInteger.ONE.shiftLeft(63)))
    val hi = F.conv(F.substring(h, 1, 16), 16, 10).cast("decimal(20,0)")
    val lo = F.conv(F.substring(h, 17, 16), 16, 10).cast("decimal(20,0)")
    val aggs = (0 until bands).map { b =>
      val m = (lo + F.lit(b) * hi) % two64
      val signed = F.when(m >= two63, m - two64).otherwise(m).cast("long")
      F.min(F.lower(F.lpad(F.hex(signed), 16, "0"))).as(s"sig_$b")
    }
    val unpivot = F.explode(F.array(
      (0 until bands).map(b =>
        F.struct(F.lit(b).as("band"), F.col(s"sig_$b").as("sig"))): _*)).as("bs")
    sh.groupBy(F.col(idCol))
      .agg(aggs.head, aggs.tail: _*)
      .select(F.col(idCol), unpivot)
      .select(F.col(idCol), F.col("bs.band").as("band"), F.col("bs.sig").as("sig"))
  }

  /** Per-band minhash signatures computed per ROW — no shingle explode, no
    * groupBy shuffle: [[graft.functions.expressions.MinhashSigsExpr]]
    * folds all band minima in one pass over each document's shingle
    * array, so the signature build is a pure scan (docs in, docs × bands
    * out). Bit-identical to [[minhashSignatures]] (MIN over the same md5
    * hex strings; duplicate shingles are idempotent under MIN). Docs with
    * no shingles (fewer than n tokens) drop out, exactly as explode would
    * drop them. */
  def minhashSignaturesFromDocs(docs: DataFrame, idCol: String, textCol: String,
                                shingleN: Int, bands: Int): DataFrame = {
    val shingleArr = ColumnBridge.column(
      ShingleExpr(ColumnBridge.expression(F.col(textCol)), shingleN))
    val sigArr = ColumnBridge.column(
      graft.functions.expressions.MinhashSigsExpr(
        ColumnBridge.expression(shingleArr), bands))
    // No null/empty filter here: posexplode (outer=false) already drops
    // them, and an explicit filter on a deterministic expression gets
    // PUSHED BELOW the repartition by Catalyst — re-evaluating the whole
    // shingle+minhash fold twice per row on the unspread scan (measured
    // 3x the scan work at bench scale).
    graft.Spread(docs)
      .select(F.col(idCol), sigArr.as("sigs"))
      .select(F.col(idCol), F.posexplode(F.col("sigs")).as(Seq("band", "sig")))
  }

  /** One-permutation MinHash signatures with rotation densification
    * (Li/Owen/Zhang 2012 + Shrivastava/Li 2014, via
    * [[graft.functions.expressions.OphSigsExpr]]): the published answer
    * to the signature build being the dedup tier's dominant CPU — each
    * shingle updates exactly ONE of the k bins (O(1) per shingle in the
    * signature width, vs O(bands) Kirsch–Mitzenmacher mixes in
    * [[minhashSignaturesFromDocs]]), empty bins borrow rightward with a
    * +distance offset. Same zero-shuffle pure-scan shape as the KM
    * build: docs in, docs × k (bin, sig) rows out, directly joinable by
    * the same (bin, sig) bucket rule as [[minhashCandidates]]. Unsigned
    * 64-bit arithmetic mirrored hex-exactly by the DuckDB oracle. */
  def ophSignatures(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text", shingleN: Int = 3,
                    k: Int = 16): DataFrame = {
    val shingleArr = ColumnBridge.column(
      ShingleExpr(ColumnBridge.expression(F.col(textCol)), shingleN))
    val sigArr = ColumnBridge.column(
      graft.functions.expressions.OphSigsExpr(
        ColumnBridge.expression(shingleArr), k))
    // Same no-explicit-filter contract as minhashSignaturesFromDocs:
    // posexplode drops the null (shingle-less) docs.
    graft.Spread(docs)
      .select(F.col(idCol), sigArr.as("sigs"))
      .select(F.col(idCol), F.posexplode(F.col("sigs")).as(Seq("bin", "sig")))
  }

  /** MinHash-LSH candidate duplicate pairs: docs sharing any band signature.
    * The join key is (band, sig) — a bucket join, never all-pairs. Bucket
    * sizes are bounded by construction (a band signature is a 128-bit hash;
    * only near-identical docs collide), so the within-bucket pair blow-up is
    * quadratic only in true-duplicate cluster size. */
  def minhashCandidates(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
                        shingleN: Int = 3, bands: Int = DefaultBands,
                        knownDocCount: Long = -1L,
                        maxBucket: Int = 100000): DataFrame = {
    // Cache-free single-consumer pipeline (round 9): with the bucket
    // bound tightened to nDocs (see candidatesFromSigs), the heavy-hitter
    // prune is skipped below web scale, so the signature table is read by
    // exactly ONE consumer — no persist, no eager materialize job, no
    // count over the cache. The explode is posexplode_OUTER because
    // InferFiltersFromGenerate only synthesizes its `size(sigs) > 0`
    // filter for INNER generates — the inner form would re-evaluate the
    // whole shingle+minhash fold per row at the scan (the round-6
    // double-fold trap; the round-8 cache existed to absorb exactly that
    // filter). The isNotNull filter reads the GENERATED column, which
    // cannot be pushed below its own Generate.
    val spread = graft.Spread(docs)
    val shingleArr = ColumnBridge.column(
      ShingleExpr(ColumnBridge.expression(F.col(textCol)), shingleN))
    val sigArr = ColumnBridge.column(
      graft.functions.expressions.MinhashSigsExpr(
        ColumnBridge.expression(shingleArr), bands))
    // Bucket bound: callers that know the corpus size (SparkEntry passes
    // the parquet metadata count-star — no column scan) supply it via
    // `knownDocCount`, keeping this builder LAZY for arbitrary input
    // plans; with no bound, candidatesFromSigs falls back to its own
    // (looser but valid) sigs row count.
    val sigs = spread
      .select(F.col(idCol), F.posexplode_outer(sigArr.as("sigs")).as(Seq("band", "sig")))
      .filter(F.col("sig").isNotNull)
    candidatesFromSigs(sigs, idCol, maxBucket = maxBucket, knownBucketBound = knownDocCount)
  }

  /** b-bit minwise hashing (Li & König WWW 2010): keep only the lowest
    * `b` bits of each band's minhash value and estimate Jaccard from the
    * b-bit agreement rate — the published storage/bandwidth answer for
    * signature tables at 100 TB (64→4 bits is a 16× smaller sketch; the
    * paper's variance analysis prices the extra bands). Per candidate
    * pair (the row-32 LSH candidacy — never all-pairs): bands agreeing
    * on the b-bit value, and Ĵ = (A − C)/(1 − C) with A the agreement
    * rate and C = 2^−b the large-universe chance-collision rate (the
    * paper's r→0 limit). b is hex-aligned (4/8/12/16) so both engines
    * slice the same hex suffix of the signature; the estimate is two
    * IEEE ops from exact longs — hash-exact. */
  def bbitJaccardEstimates(docs: DataFrame, idCol: String = "doc_id",
                           textCol: String = "text", shingleN: Int = 3,
                           bands: Int = DefaultBands, b: Int = 4,
                           knownDocCount: Long = -1L): DataFrame = graft.CacheScope.scoped {
    require(b % 4 == 0 && b > 0 && b <= 16, s"b must be 4, 8, 12 or 16 (hex-aligned), got $b")
    val chars = b / 4
    // One signature build feeds the candidate join AND both compare
    // sides; materialize so the shingle+minhash fold runs once.
    val sigs = materialize(
      minhashSignaturesFromDocs(docs, idCol, textCol, shingleN, bands)
        .withColumn("bbit",
          F.conv(F.substring(F.col("sig"), 17 - chars, chars), 16, 10).cast("int")))
    val pairs = candidatesFromSigs(sigs.select(F.col(idCol), F.col("band"), F.col("sig")),
      idCol, maxBucket = 100000, knownBucketBound = knownDocCount)
    val sa = sigs.select(F.col(idCol).as("doc_a"), F.col("band"), F.col("bbit").as("ba"))
    val sb = sigs.select(F.col(idCol).as("doc_b"), F.col("band"), F.col("bbit").as("bb"))
    val c = 1.0 / (1 << b)
    pairs.join(sa, Seq("doc_a")).join(sb, Seq("doc_b", "band"))
      .groupBy(F.col("doc_a"), F.col("doc_b"))
      .agg(F.count(F.lit(1)).as("n_bands"),
        F.sum(F.when(F.col("ba") === F.col("bb"), 1L).otherwise(0L)).as("n_agree"))
      .withColumn("j_bbit_est", F.expr(
        s"round((CAST(n_agree AS DOUBLE) / ${bands.toDouble} - $c) / ${1.0 - c}, 6)"))
  }

  /** Persist + eagerly materialize an index table, scope-tracked so the
    * enclosing [[graft.CacheScope.scoped]] releases it once the (small)
    * result is pinned. Without the eager action, the branches of a
    * self-join race to compute the same plan concurrently and none of them
    * sees the others' cached blocks. */
  private def materialize(df: DataFrame): DataFrame = graft.CacheScope.materialize(df)

  private def materializeCounted(df: DataFrame): (DataFrame, Long) =
    graft.CacheScope.materializeCounted(df)

  /** Self-join of a (persisted) signature table on (band, sig). The
    * signature table is docs × bands rows — tiny relative to the corpus —
    * and persisting it is the "build the index once" step: without it the
    * self-join recomputes the whole shingle→minhash pipeline per side.
    *
    * Degenerate-bucket guard: a (band, sig) bucket of b docs yields b²/2
    * pairs, so one pathological signature (e.g. the minimum of a stopword
    * shingle that survives everywhere) could go quadratic. Buckets larger
    * than `maxBucket` are dropped — a bucket that size is a degenerate
    * signature collision, not a near-dup cluster (standard LSH practice).
    * The bound is far above any real cluster at test scale (largest bucket
    * ≈ dup-cluster size ≈ 5), so small-sf results are unchanged. */
  private def candidatesFromSigs(sigs: DataFrame, idCol: String,
                                 maxBucket: Int = 100000,
                                 knownBucketBound: Long = -1L,
                                 dedup: Boolean = true): DataFrame = {
    // Adaptive: a (band, sig) bucket holds at most one row per DOCUMENT
    // (each doc contributes exactly one signature per band), so any proven
    // bound on the document count bounds every bucket — callers pass
    // nDocs as `knownBucketBound` and the heavy-hitter scan + anti-join
    // are skipped outright below web scale. (Round 8 bounded with the
    // sigs ROW count = docs x bands, which tripped the prune at sf0.1 —
    // 120k rows vs the 15k true bound — paying 3 needless stages.) When
    // no bound is known, the sigs row count is a valid if loose fallback.
    // The full guard engages exactly when it can matter: web-scale
    // corpora. It runs BEFORE the bucket aggregation below, so no
    // post-prune bucket (and no collect_list buffer) exceeds maxBucket
    // ids. The no-bound fallback PERSISTS before counting (ADVICE r10):
    // a bare sigs.count() would execute the whole shingle+minhash
    // pipeline once for the bound and again for the bucket aggregation.
    val (bounded, n) =
      if (knownBucketBound >= 0L) (sigs, knownBucketBound)
      else materializeCounted(sigs)
    val pruned =
      if (n <= maxBucket) bounded
      else {
        // The heavy-hitter scan and the anti-join probe are TWO consumers
        // of the signature table; persist it so the shingle+minhash fold
        // runs once (the no-bound fallback above already did).
        val sigsIdx = if (knownBucketBound >= 0L) materialize(bounded) else bounded
        val big = sigsIdx.groupBy(F.col("band"), F.col("sig"))
          .agg(F.count(F.lit(1)).as("bn"))
          .filter(F.col("bn") > maxBucket)
          .select("band", "sig")
        sigsIdx.join(F.broadcast(big), Seq("band", "sig"), "left_anti")
      }
    // Pairs via ONE bucket aggregation + in-bucket expansion (all i<j
    // combinations of each bucket's id list) — one exchange on (band, sig)
    // where the self-join form shuffles the table twice, and measurably
    // ~1.8x faster at bench scale. The expansion is row-local explode;
    // its fan-out equals the self-join's output (Σ bucket²/2), so the
    // shape is no worse at scale, and bucket lists are bounded by the
    // prune above.
    val expanded = pruned.groupBy(F.col("band"), F.col("sig"))
      .agg(F.collect_list(F.col(idCol)).as("ids"))
      .filter(F.size(F.col("ids")) > 1)
      .select(F.explode(F.col("ids")).as("doc_a"), F.col("ids"))
      .select(F.col("doc_a"), F.explode(F.col("ids")).as("doc_b"))
      .filter(F.col("doc_a") < F.col("doc_b"))
      .select("doc_a", "doc_b")
    // `dedup = false` lets a caller that distincts a UNION containing
    // these pairs anyway (incremental) skip the extra exchange here —
    // band-duplicate pairs merge in the caller's single distinct.
    if (dedup) expanded.distinct() else expanded
  }

  // -------------------------------------------------- incremental dedup

  /** Build the persisted signature index for [[incremental]]: the corpus's
    * (id, band, sig) MinHash signature table written as a bucketed,
    * bucket-sorted managed table keyed on (band, sig) — the FULL LSH
    * bucket-join key, which Spark's co-partitioning check requires in its
    * entirety for the bucketed side to join exchange-free (a sig-only
    * bucket key clusters the data just as well but is rejected by
    * `requireAllClusterKeysForCoPartition`). Paid ONCE per corpus;
    * every arriving shard after that dedups against the whole history by
    * reading matching buckets, never the corpus text (the index is
    * docs × bands fixed-width hashes — orders of magnitude smaller than
    * the documents it summarizes, and the only thing 100 TB of history
    * needs to keep hot).
    *
    * Bucket count: the session's `defaultParallelism` at build time, so
    * one wave of tasks covers every bucketed scan, append and probe, and
    * each append writes one file per bucket. The count is then fixed in
    * the table's catalog `BucketSpec`, which [[incremental]] reads. */
  def indexInit(docs: DataFrame, table: String, idCol: String = "doc_id",
                textCol: String = "text", shingleN: Int = 3,
                bands: Int = DefaultBands): Unit =
    graft.sources.Bucketing.writeBucketedBy(
      minhashSignaturesFromDocs(docs, idCol, textCol, shingleN, bands),
      table, docs.sparkSession.sparkContext.defaultParallelism, Seq("band", "sig"))

  /** Bucket count of a persisted [[indexInit]] index, from its catalog
    * `BucketSpec` — the table is the only source of truth, so an index
    * built under a different parallelism still appends and probes. */
  private def indexBuckets(spark: org.apache.spark.sql.SparkSession, table: String): Int = {
    val state = spark.sessionState
    val spec = state.catalog
      .getTableMetadata(state.sqlParser.parseTableIdentifier(table)).bucketSpec
    require(spec.isDefined, s"$table is not a bucketed signature index (build it with indexInit)")
    spec.get.numBuckets
  }

  /** Incremental cross-shard dedup against a persisted [[indexInit]] index
    * (VERDICT r10 next-round #2): candidate duplicate pairs TOUCHING the
    * new shard — (new, old) and (new, new) — as (least, greatest) id
    * pairs.
    *
    * With `updateIndex` (the ingest path) the shard's signatures are
    * APPENDED to the index first, so the next shard sees this one, and the
    * GROWN index is probed after: because it already holds the shard, one
    * join of the shard's signatures against it (self-matches dropped)
    * returns the (new, old) and the (new, new) pairs together. Without
    * `updateIndex` (a read-only probe) the index is left as it is and the
    * (new, new) pairs come from a bucket aggregation over the shard.
    *
    * Scale shape: the new shard's signatures are computed once and
    * shuffled once to the index's bucketing; the index side joins WITHOUT
    * an exchange, because its on-disk HashPartitioning(band, sig) is
    * exactly the join key (BucketedJoinSpec pins the single-Exchange
    * plan). The bucket count comes from the index table's catalog
    * `BucketSpec` (see [[indexInit]]); an append writes one file per
    * bucket. The old corpus is never re-scanned.
    *
    * Degenerate-bucket guard: buckets holding more than `maxBucket` docs
    * in the index the probe reads are dropped — on the append path that is
    * history plus shard, the same count the batch [[minhashCandidates]]
    * takes over the union, so the pair set equals the batch answer over
    * the union restricted to pairs with a new member whether or not the
    * guard binds (q_dedup_incremental gates that equality hash-exact).
    * `knownIndexCount`, which skips the index count job, must bound the
    * rows of the index the probe reads: on the append path, the grown
    * index. */
  def incremental(newDocs: DataFrame, indexTable: String, idCol: String = "doc_id",
                  textCol: String = "text", shingleN: Int = 3, bands: Int = DefaultBands,
                  knownNewCount: Long = -1L,
                  updateIndex: Boolean = true,
                  maxBucket: Int = 100000,
                  knownIndexCount: Long = -1L): DataFrame = {
    // Cache-free fast path (r17): the steady-state production probe —
    // no append, both guard bounds supplied by the caller and under
    // maxBucket — materializes NOTHING (see the newSigs branch and the
    // candidatesFromSigs bound contract), so the CacheScope scope would
    // only add its exit localCheckpoint: a whole extra action computing
    // the plan once to write blocks the single consumer then re-reads.
    // Run the body bare instead — ONE action end to end. Every other
    // shape (the append's persisted signatures, an engaged heavy-bucket
    // guard, unknown counts) still scopes, because something persists
    // inside and must be released behind a checkpointed result.
    val cacheFree = !updateIndex &&
      knownNewCount >= 0L && knownNewCount <= maxBucket &&
      knownIndexCount >= 0L &&
      knownIndexCount / bands.toLong.max(1L) <= maxBucket
    def body(): DataFrame = incrementalBody(newDocs, indexTable, idCol, textCol,
      shingleN, bands, knownNewCount, updateIndex, maxBucket, knownIndexCount)
    if (cacheFree) body() else graft.CacheScope.scoped(body())
  }

  /** [[incremental]] with `updateIndex` and default parameters, its pairs
    * handed to `use` (the stream's per-batch write) inside the cache scope
    * instead of pinned by a checkpoint job first. */
  private[graft] def incrementalInto[T](newDocs: DataFrame, indexTable: String,
                                        idCol: String, textCol: String)(use: DataFrame => T): T =
    graft.CacheScope.scopedWith(incrementalBody(newDocs, indexTable, idCol, textCol,
      shingleN = 3, DefaultBands, knownNewCount = -1L, updateIndex = true,
      maxBucket = 100000, knownIndexCount = -1L))(use)

  private def incrementalBody(newDocs: DataFrame, indexTable: String, idCol: String,
                  textCol: String, shingleN: Int, bands: Int,
                  knownNewCount: Long,
                  updateIndex: Boolean,
                  maxBucket: Int,
                  knownIndexCount: Long): DataFrame = {
    val spark = newDocs.sparkSession
    val buckets = indexBuckets(spark, indexTable)
    val sigs = minhashSignaturesFromDocs(newDocs, idCol, textCol, shingleN, bands)
    if (updateIndex) {
      // Append, then probe. The signatures have two consumers that run
      // one after the other: the append, a blocking write action that
      // alone fills the cache, then the probe — so persist lazily, with
      // no eager count job (materializeLazy's sequential precondition).
      val newSigs = graft.CacheScope.materializeLazy(sigs)
      // Same write-partitioning alignment as Bucketing.writeBucketedBy:
      // one file per bucket per shard append, not one per task × bucket.
      newSigs.repartition(buckets, F.col("band"), F.col("sig"))
        .write.mode(org.apache.spark.sql.SaveMode.Append)
        .bucketBy(buckets, "band", "sig").sortBy("band", "sig").saveAsTable(indexTable)
      // Resolve the table AFTER the append: a relation analyzed before it
      // keeps the pre-append file listing and would miss the shard's own
      // signatures, i.e. every (new, new) pair.
      probeIndex(newSigs, spark.table(indexTable), idCol, bands, maxBucket,
        knownIndexCount).distinct()
    } else {
      // TWO consumers (index probe join + within-shard buckets), both
      // requiring (band, sig) clustering: repartition to the index's
      // bucket count and they share ONE IDENTICAL exchange subtree —
      // ReuseExchange computes the shingle+minhash fold once with NO
      // extra action (the q_lm_score one-action pattern), and the probe
      // side lands already partitioned to the bucketed table's layout.
      val newSigs = sigs.repartition(buckets, F.col("band"), F.col("sig"))
      val cross = probeIndex(newSigs, spark.table(indexTable), idCol, bands, maxBucket,
        knownIndexCount)
      // Same maxBucket as the probe side: a caller-tightened bound must
      // guard (new, new) pairs too, not silently fall back to the default.
      val within = candidatesFromSigs(newSigs, idCol, maxBucket = maxBucket,
        knownBucketBound = knownNewCount, dedup = false)
      cross.union(within.toDF("doc_a", "doc_b")).distinct()
    }
  }

  /** (least, greatest) pairs of each shard signature with every OTHER id
    * in its (band, sig) bucket of `index`, before any distinct.
    *
    * The probe needs the SAME degenerate-bucket guard as the batch path
    * (candidatesFromSigs): one pathological signature accumulated in a
    * 100 TB history would fan every matching new doc out to the whole
    * bucket. An indexed doc count bounds every bucket (one row per doc
    * per band). Callers tracking the index size (every real ingest
    * pipeline does; any UPPER bound on index rows is valid — the guard
    * only ever compares against maxBucket) pass it as `knownIndexCount`
    * so the steady-state probe runs ZERO count jobs; -1 falls back to
    * the table count (parquet-metadata cheap, but still a job per call). */
  private def probeIndex(newSigs: DataFrame, index: DataFrame, idCol: String,
                         bands: Int, maxBucket: Int, knownIndexCount: Long): DataFrame = {
    val indexRows = if (knownIndexCount >= 0L) knownIndexCount else index.count()
    val indexBounded =
      if (indexRows / bands.toLong.max(1L) <= maxBucket) index
      else {
        val big = index.groupBy(F.col("band"), F.col("sig"))
          .agg(F.count(F.lit(1)).as("bn"))
          .filter(F.col("bn") > maxBucket)
          .select("band", "sig")
        index.join(F.broadcast(big), Seq("band", "sig"), "left_anti")
      }
    newSigs
      .join(indexBounded.select(F.col("band"), F.col("sig"), F.col(idCol).as("_old_id")),
        Seq("band", "sig"))
      .filter(F.col(idCol) =!= F.col("_old_id"))
      .select(F.least(F.col(idCol), F.col("_old_id")).as("doc_a"),
        F.greatest(F.col(idCol), F.col("_old_id")).as("doc_b"))
  }

  /** The ONE per-doc shingle index (id, arr, n, sigs) both [[ngramJaccard]]
    * and [[minhashEval]] build on — extracted so the eval harness can
    * never drift from the production construction it claims to measure.
    * Returns the MATERIALIZED frame plus the doc count (one count job,
    * reused as the LSH bucket bound).
    *
    * No size(raw) > 0 filter: a doc with no shingles has no signatures,
    * lands in no LSH bucket, and joins no pair — and the filter would be
    * pushed below the repartition, re-evaluating ShingleExpr +
    * array_distinct per row on the unspread scan.
    *
    * The hash + size + minhash fold all read `raw` in a second chained
    * select: CollapseProject keeps the two projections separate (it
    * refuses to duplicate the non-cheap shingle expression referenced
    * three times), so ShingleExpr runs once per row, the raw strings
    * live only inside that projection, and the cache holds
    * (id, arr, n, sigs) — every index the consumer needs, one pass, one
    * count job. */
  private def docShingleIndex(docs: DataFrame, idCol: String, textCol: String,
                              shingleN: Int, bands: Int): (DataFrame, Long) = {
    val shingleArr = ColumnBridge.column(
      ShingleExpr(ColumnBridge.expression(F.col(textCol)), shingleN))
    val sigOverRaw = ColumnBridge.column(
      graft.functions.expressions.MinhashSigsExpr(
        ColumnBridge.expression(F.col("raw")), bands))
    val hashedRaw = ColumnBridge.column(
      graft.functions.expressions.XxHash64ArrayExpr(
        ColumnBridge.expression(F.col("raw"))))
    materializeCounted(
      graft.Spread(docs)
        .select(F.col(idCol), F.array_distinct(shingleArr).as("raw"))
        .select(F.col(idCol), hashedRaw.as("arr"),
          F.size(F.col("raw")).cast("long").as("n"), sigOverRaw.as("sigs")))
  }

  /** Exact n-gram Jaccard similarity, computed only for LSH candidate
    * pairs: |A∩B| via a pair-driven shingle probe,
    * |A∪B| = |A|+|B|−|A∩B|. Output is an exact rational in double.
    *
    * Scale discipline (the two guards that keep this bounded at 100 TB):
    *  1. the intersection is PAIR-DRIVEN: candidate pairs fan out to
    *     doc_a's shingles, then probe doc_b's shingles on (doc_b, shingle).
    *     The intermediate is Σ_pairs |shingles(doc_a)| — linear in the LSH
    *     candidate count (itself bucket-bounded) — never the co-shingle
    *     self-join, which is quadratic in shingle document frequency;
    *  2. a document-frequency cap (`dfCap`) drops stopword-like shingles
    *     ("of the and" at web scale) from the counts and the intersection
    *     probe. The signature pass runs on the UNCAPPED table (the capped
    *     variant would change minhash values and break replicability);
    *     its quadratic risk is bounded separately by the (band, sig)
    *     bucket guard in [[candidatesFromSigs]]. A shingle's df cannot
    *     exceed the document count, so when `nDocs <= dfCap` the cap
    *     PROVABLY binds nothing and the heavy-hitter probe job is skipped
    *     outright — sub-web-scale corpora pay zero for the guard. (The
    *     cap must stay far above any real near-dup cluster's df anyway:
    *     the SQL oracle has no cap, so a binding cap at oracle scale
    *     would be a correctness bug, not a tuning choice.) */
  def ngramJaccard(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
                   shingleN: Int = 3, bands: Int = DefaultBands, minJaccard: Double = 0.0,
                   dfCap: Int = 100000): DataFrame = graft.CacheScope.scoped {
    // ONE per-doc table (id, arr, n, sigs) drives everything — df cap,
    // counts, signatures, intersections. Built with ZERO shuffles beyond
    // the scan spread (array_distinct and the minhash fold run inside the
    // row, before any explode) and persisted at docs granularity: the only
    // corpus-sized cache, and the doc scan + ShingleExpr run exactly once.
    //
    // `arr` holds the 64-bit xxhash64 of each distinct shingle, NOT the
    // shingle strings: |A|, |B| and |A∩B| are hash-invariant (a 64-bit
    // collision inside one candidate pair's union is ~2^-45 at 10^3
    // shingles/doc), so the jaccard output is bit-identical to the
    // raw-string form the SQL oracle computes — while the cache carries
    // fixed 8-byte primitives instead of the corpus re-materialized as
    // ~3x-overlapping n-gram strings (the round-6 scale-killer: at 100 TB
    // that cache IS the corpus x 3 and permanently over any storage
    // fraction), and the per-pair intersection is a linear merge over
    // sorted longs (XxHash64ArrayExpr emits them sorted).
    val (docArr0, nDocs) = docShingleIndex(docs, idCol, textCol, shingleN, bands)
    // Stopword-shingle df cap, engaged only when it CAN bind: df <= nDocs
    // always, so nDocs <= dfCap proves every shingle is under the cap and
    // the probe job is skipped (nDocs is free — materializeCounted already
    // paid for it). When the probe does run, the heavy-hitter list is tiny
    // by construction (shingles with df > cap) — broadcast it so the
    // anti-join never degrades to a shuffle on a bad size estimate. The
    // probe runs entirely on the 8-byte hashes (df of the hash = df of the
    // shingle, same injectivity argument as the intersection).
    val docArr =
      if (nDocs <= dfCap) docArr0
      else {
        val heavy = docArr0.select(F.explode(F.col("arr")).as("sh_hash"))
          .groupBy(F.col("sh_hash"))
          .agg(F.count(F.lit(1)).as("df"))
          .filter(F.col("df") > dfCap)
          .select("sh_hash")
        if (heavy.isEmpty) docArr0
        else materialize(
          docArr0.select(F.col(idCol), F.explode(F.col("arr")).as("sh_hash"))
            .join(F.broadcast(heavy), Seq("sh_hash"), "left_anti")
            .groupBy(F.col(idCol))
            // array_sort restores the sorted-ascending invariant the
            // merge-count intersection below requires (collect_list has no
            // order guarantee); runs only at web scale, on capped arrays.
            .agg(F.array_sort(F.collect_list(F.col("sh_hash"))).as("arr"),
              F.count(F.lit(1)).as("n")))
      }
    // LSH candidacy: explode the CACHED signature arrays (MIN over the
    // distinct set equals MIN over the raw stream, so sigs built from
    // `raw` match the raw-text construction bit for bit). The explode
    // sits above the cache boundary — the Generate-inferred size filter
    // reads a stored column instead of re-running the minhash fold.
    val sigs = docArr0
      .select(F.col(idCol), F.posexplode(F.col("sigs")).as(Seq("band", "sig")))
    val pairs = candidatesFromSigs(sigs, idCol, knownBucketBound = nDocs)
    // Guard 1 (pair-driven intersection): |A∩B| = a sorted-merge count
    // (SortedIntersectCountExpr — no per-pair hash set or output array)
    // per candidate PAIR row — two doc-keyed joins carrying the arrays,
    // zero row fan-out. The SQL oracle expresses the same math relationally
    // (pairs ⋈ sh ⋈ sh → COUNT per pair); this form replaces that
    // Σ_pairs |shingles(doc_a)|-row intermediate and its aggregation
    // shuffle with a per-row set intersection. Pairs with an empty
    // intersection are dropped by the `inter > 0` guard below — exactly
    // the rows the oracle's inner probe join never produces.
    pairs
      .join(docArr.select(F.col(idCol).as("doc_a"),
        F.col("arr").as("arr_a"), F.col("n").as("n_a")), Seq("doc_a"))
      .join(docArr.select(F.col(idCol).as("doc_b"),
        F.col("arr").as("arr_b"), F.col("n").as("n_b")), Seq("doc_b"))
      .select(
        F.col("doc_a"), F.col("doc_b"),
        ColumnBridge.column(graft.functions.expressions.SortedIntersectCountExpr(
          ColumnBridge.expression(F.col("arr_a")),
          ColumnBridge.expression(F.col("arr_b")))).as("inter"),
        F.col("n_a"), F.col("n_b"))
      .filter(F.col("inter") > 0L)
      .select(
        F.col("doc_a"), F.col("doc_b"),
        (F.col("inter").cast("double") /
          (F.col("n_a") + F.col("n_b") - F.col("inter")).cast("double")).as("jaccard"))
      .filter(F.col("jaccard") >= minJaccard)
  }

  /** MinHash-LSH detector EVALUATION against exact-Jaccard ground truth —
    * the measure-your-detector-before-trusting-it harness (the near-dup
    * analogue of the lang-id confusion matrix): run the PRODUCTION LSH
    * candidate path and an exhaustive exact-Jaccard pass over the same
    * corpus, and report one row of counts + precision (share of LSH
    * candidates that are true near-dups at `minJaccard`) + recall (share
    * of true near-dups the detector surfaced).
    *
    * Ground truth is COMPLETE: any pair with jaccard > 0 shares at least
    * one shingle, so the co-shingle inverted-index join enumerates every
    * pair that could clear the threshold. That join is quadratic in
    * shingle document frequency — an EVAL-ONLY shape, meant for the
    * bounded labeled corpus a detector is tuned on (here the gate table),
    * never the production corpus; the production path stays LSH-bucketed.
    * Reference point: malstrom has no self-evaluation story at all —
    * this is part of the measurement surface a training-data pipeline
    * adds on top. */
  def minhashEval(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
                  shingleN: Int = 3, bands: Int = DefaultBands,
                  minJaccard: Double = 0.5): DataFrame = graft.CacheScope.scoped {
    // THE one-pass (id, arr, n, sigs) table — the identical
    // [[docShingleIndex]] construction ngramJaccard runs in production,
    // shared by extraction so the eval cannot drift from the detector.
    val (docArr, nDocs) = docShingleIndex(docs, idCol, textCol, shingleN, bands)
    // Detector under test: the exact production candidate path.
    val sigs = docArr
      .select(F.col(idCol), F.posexplode(F.col("sigs")).as(Seq("band", "sig")))
    val cand = materialize(candidatesFromSigs(sigs, idCol, knownBucketBound = nDocs))
    // Ground truth: co-shingle pairs (complete for jaccard > 0) scored by
    // the same sorted-merge intersection the production verify uses.
    val ex = docArr.select(F.col(idCol), F.explode(F.col("arr")).as("sh_hash"))
    val co = ex.select(F.col(idCol).as("doc_a"), F.col("sh_hash"))
      .join(ex.select(F.col(idCol).as("doc_b"), F.col("sh_hash")), Seq("sh_hash"))
      .filter(F.col("doc_a") < F.col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val truth = materialize(co
      .join(docArr.select(F.col(idCol).as("doc_a"),
        F.col("arr").as("arr_a"), F.col("n").as("n_a")), Seq("doc_a"))
      .join(docArr.select(F.col(idCol).as("doc_b"),
        F.col("arr").as("arr_b"), F.col("n").as("n_b")), Seq("doc_b"))
      .select(F.col("doc_a"), F.col("doc_b"),
        ColumnBridge.column(graft.functions.expressions.SortedIntersectCountExpr(
          ColumnBridge.expression(F.col("arr_a")),
          ColumnBridge.expression(F.col("arr_b")))).as("inter"),
        F.col("n_a"), F.col("n_b"))
      .filter((F.col("inter").cast("double") /
        (F.col("n_a") + F.col("n_b") - F.col("inter")).cast("double")) >= minJaccard)
      .select("doc_a", "doc_b"))
    // One-row totals crossJoined — the documented one-row broadcast-total
    // exception class (Sampling.scala:94); never data-sized.
    val nTrue = truth.agg(F.count(F.lit(1)).as("n_true"))
    val nCand = cand.agg(F.count(F.lit(1)).as("n_cand"))
    val nHit = truth.join(cand, Seq("doc_a", "doc_b"))
      .agg(F.count(F.lit(1)).as("n_hit"))
    nTrue.crossJoin(nCand).crossJoin(nHit).select(
      F.col("n_true"), F.col("n_cand"), F.col("n_hit"),
      F.when(F.col("n_cand") === 0L, F.lit(0.0)).otherwise(
        F.round(F.col("n_hit").cast("double") / F.col("n_cand").cast("double"), 6))
        .as("prec"),
      F.when(F.col("n_true") === 0L, F.lit(0.0)).otherwise(
        F.round(F.col("n_hit").cast("double") / F.col("n_true").cast("double"), 6))
        .as("recall"))
  }

  /** Benchmark decontamination: training documents sharing at least
    * `minShared` distinct word `shingleN`-grams with any benchmark/eval
    * document — the standard train/test-overlap check run before an LLM
    * training run (long rare n-grams are the signal; 8–13 grams in
    * published practice).
    *
    * Shape: distinct shingles per side (row-local, like [[ngramJaccard]]'s
    * set build), equi-join on the shingle value (bucket join — the shuffle
    * key is the n-gram), count per (train, bench) pair. A df cap on the
    * TRAINING side drops boilerplate n-grams that would fan out the join;
    * the probe is skipped when even the shingle ROW count is under the cap
    * (df <= row count — a conservative form of ngramJaccard's proof); the
    * benchmark side is small by definition. Benchmark docs that also
    * appear in the corpus match themselves — maximal contamination,
    * reported as such. */
  def contamination(corpus: DataFrame, benchmark: DataFrame,
                    idCol: String = "doc_id", textCol: String = "text",
                    shingleN: Int = 8, minShared: Int = 1,
                    dfCap: Int = 100000): DataFrame = graft.CacheScope.scoped {
    val spark = corpus.sparkSession
    def shingleSet(df: DataFrame, outId: String): DataFrame = {
      val arr = ColumnBridge.column(
        ShingleExpr(ColumnBridge.expression(F.col(textCol)), shingleN))
      graft.Spread(df)
        .select(F.col(idCol).as(outId), F.explode(F.array_distinct(arr)).as("shingle"))
    }
    // The cap gate counts shingle ROWS (a conservative bound: df <= rows),
    // and even past the gate the anti-join is skipped when no shingle
    // actually exceeds the cap — mirroring ngramJaccard's provably-idle
    // skip, so sub-web-scale corpora never pay the extra join stage.
    val (train, nRows) = materializeCounted(shingleSet(corpus, "train_id"))
    val trainCapped =
      if (nRows <= dfCap) train
      else {
        val heavy = train.groupBy("shingle").agg(F.count(F.lit(1)).as("df"))
          .filter(F.col("df") > dfCap).select("shingle")
        if (heavy.isEmpty) train
        else train.join(F.broadcast(heavy), Seq("shingle"), "left_anti")
      }
    trainCapped
      .join(shingleSet(benchmark, "bench_id"), Seq("shingle"))
      .groupBy("train_id", "bench_id")
      .agg(F.count(F.lit(1)).as("n_shared"))
      .filter(F.col("n_shared") >= minShared)
  }

  /** Benchmark decontamination, BLOOM-FILTER scale path: the zero-shuffle
    * companion to [[contamination]]. The benchmark side (small by
    * definition) compiles into an `mBits`-bit Bloom bitset with `kHashes`
    * md5-derived probe positions per shingle; the bitset rides into the
    * corpus scan as a plan LITERAL (array<long>), so the 100 TB side is a
    * pure map + filter — NO exchange, NO join, no state. A document is
    * flagged when at least `minHits` of its distinct shingles test
    * positive; false positives are the usual Bloom trade (rate set by
    * mBits/kHashes vs bench shingle count) and — because the probe
    * positions are md5-derived, not seed-random — fully DETERMINISTIC,
    * which is what lets DuckDB replicate this operator bit-for-bit,
    * false positives included.
    *
    * This is the shape a pre-training pipeline actually ships: the exact
    * [[contamination]] join prices every corpus shingle through a shuffle,
    * while the bloom pass reduces 100 TB to the (vanishing) flagged
    * subset first; the exact join then runs on survivors only.
    *
    * Driver-side bound: the bitset builds from the collected benchmark
    * TEXTS, capped BEFORE the collect at `maxBenchDocs` rows (limit + 1
    * probe, so oversize fails fast instead of OOMing the driver) and
    * `require`-guarded again at 50% bitset load — the same
    * bounded-collect class as the ANN training sample (SURVEY §5). */
  def bloomContamination(corpus: DataFrame, benchmark: DataFrame,
                         idCol: String = "doc_id", textCol: String = "text",
                         shingleN: Int = 8, mBits: Int = 1 << 17,
                         kHashes: Int = 4, minHits: Int = 1,
                         maxBenchDocs: Int = 100000): DataFrame = {
    require(Integer.bitCount(mBits) == 1 && mBits >= 64,
      s"mBits must be a power of two >= 64 (one bitset word), got $mBits")
    require(kHashes >= 1 && kHashes * 8 <= 32, s"kHashes in 1..4, got $kHashes")
    def shingles(c: Column) = F.array_distinct(ColumnBridge.column(
      ShingleExpr(ColumnBridge.expression(c), shingleN)))
    // Benchmark -> bitset, built DRIVER-SIDE from the collected bench
    // texts (bounded and guarded; a benchmark big enough to matter should
    // use the exact join instead): the same ShingleExpr fold and the same
    // md5-hex positions as the executor side, with no Spark job — the
    // build is ~ms where a shingle-explode + distinct + collect plan paid
    // two stages and an exchange of fixed cost inside the timed query.
    val md5 = java.security.MessageDigest.getInstance("MD5")
    def hex(b: Array[Byte]): String = {
      val sb = new java.lang.StringBuilder(32)
      b.foreach(x => sb.append(f"$x%02x"))
      sb.toString
    }
    val words = new Array[Long](mBits / 64)
    // The collect is BOUNDED BEFORE it happens: limit(max+1) ships at most
    // max+1 text rows to the driver whatever size `benchmark` is, and the
    // require turns "too big" into an error instead of an OOM (a guard
    // that runs after a full collect protects nothing) — with no separate
    // count job inside the timed query.
    val benchRows = benchmark.select(F.col(textCol)).limit(maxBenchDocs + 1).collect()
    require(benchRows.length <= maxBenchDocs,
      s"benchmark exceeds $maxBenchDocs docs — too large for the bitset " +
        "build; raise maxBenchDocs deliberately or use Dedup.contamination")
    benchRows.foreach { r =>
      if (!r.isNullAt(0)) {
        val arr = graft.functions.expressions.ShingleExpr.shingles(
          org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(0)), shingleN)
        var i = 0
        while (i < arr.numElements()) {
          // Probe positions: 8 md5 hex chars per hash -> long -> mod
          // mBits; the same md5-hex-to-integer convention as the
          // minhash/HLL oracles, so DuckDB computes IDENTICAL positions.
          val h = hex(md5.digest(arr.getUTF8String(i).getBytes))
          var j = 0
          while (j < kHashes) {
            val p = (java.lang.Long.parseLong(h.substring(j * 8, j * 8 + 8), 16) % mBits).toInt
            words(p / 64) |= (1L << (p % 64))
            j += 1
          }
          md5.reset()
          i += 1
        }
      }
    }
    val loaded = words.map(java.lang.Long.bitCount).sum
    require(loaded <= mBits / 2,
      s"benchmark sets $loaded of $mBits bloom bits (> 50% load); " +
        "raise mBits or use Dedup.contamination")
    // Executor side: ONE native expression — one md5 per shingle, probes
    // sliced from the one digest, bit tests against the bitset carried as
    // a codegen reference object. The earlier filter/transform-lambda
    // form was CodegenFallback (all Catalyst higher-order functions are)
    // and dropped the whole scan stage to the interpreted path; the
    // expression keeps it inside whole-stage codegen. No exchange, no
    // join, scan-bound.
    graft.Spread(corpus)
      .select(F.col(idCol),
        ColumnBridge.column(graft.functions.expressions.BloomHitsExpr(
          ColumnBridge.expression(shingles(F.col(textCol))),
          words, mBits, kHashes)).cast("long").as("n_flagged"))
      .filter(F.col("n_flagged") >= minHits)
  }

  /** Duplicated-SPAN trimming — the text-surgery form of exact substring
    * dedup from published training-data practice (remove any token span
    * occurring more than once in the corpus, then keep the rest of the
    * document): every position whose `k`-token gram has a corpus-wide
    * occurrence count >= 2 (WITHIN-doc repeats included) marks its k
    * tokens for removal; overlapping marks union; the cleaned text is the
    * surviving tokens rejoined. Where [[dupNgramFraction]] SCORES
    * boilerplate, this REMOVES it — the operator a pipeline runs when a
    * document is worth keeping but its duplicated boilerplate is not.
    *
    * Token/shingle conventions match the rest of the pack (lowercased
    * whitespace tokens, space-joined grams), so the reconstruction is
    * whitespace-normalizing — deterministic and oracle-replicable, which
    * is the contract here (the original-byte-preserving variant is a
    * tokenizer detail away, not a different dataflow).
    *
    * Shape: the `base` scan feeds THREE consumers (grams, the kept-token
    * explode, the n_tokens projection) and is deliberately NOT cached:
    * the (id, tokens) projection is data-sized, and three column-pruned
    * parallel passes over compressed parquet are measurably cheaper than
    * writing that projection through the cache once (A/B at sf0.1: 0.27 s
    * re-scanned vs 1.17 s cached — the cache write serializes what the
    * scans parallelize; at 100 TB the same trade holds because the cache
    * must spill to disk at data size). Then: positional gram explode ->
    * the single-pass corpus-frequency pattern (count(*) over the
    * gram-keyed exchange — no self-join) -> duplicated starts widen to
    * token indices -> anti-join back onto the positional token explode ->
    * per-doc ordered rebuild. Exchanges are all on (gram) or (doc, idx)
    * keys; nothing quadratic, no driver state; hot grams stream through
    * the spillable window buffer like every df computation in this pack.
    *
    * Output: (idCol, n_tokens, n_removed, clean_text); docs with no
    * duplicated span pass through with n_removed = 0. */
  def trimDuplicateSpans(docs: DataFrame, idCol: String = "doc_id",
                         textCol: String = "text", k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = graft.Spread(docs).select(
      F.col(idCol), F.col(textCol),
      F.coalesce(graft.functions.TextFunctions.tokens(F.col(textCol)),
        F.array().cast("array<string>")).as("toks"))
    // Grams come from the native ShingleExpr over the TEXT (same
    // tokenizer fold as `toks`), not a wordShingles lambda over the token
    // array — higher-order functions are CodegenFallback and would drop
    // this per-row-heaviest scan to the interpreted path.
    val grams = base.select(
      F.col(idCol), F.posexplode(ColumnBridge.column(
        ShingleExpr(ColumnBridge.expression(F.col(textCol)), k))))
      .toDF(idCol, "pos", "gram")
    val dupStarts = grams
      .withColumn("occ", F.count(F.lit(1)).over(Window.partitionBy("gram")))
      .filter(F.col("occ") >= 2)
      .select(F.col(idCol), F.col("pos"))
    val removal = dupStarts
      .select(F.col(idCol),
        F.explode(F.sequence(F.col("pos"), F.col("pos") + (k - 1))).as("idx"))
      .distinct()
    val kept = base
      .select(F.col(idCol), F.posexplode(F.col("toks"))).toDF(idCol, "idx", "tok")
      .join(removal, Seq(idCol, "idx"), "left_anti")
      .groupBy(F.col(idCol))
      .agg(
        F.count(F.lit(1)).as("n_kept"),
        F.concat_ws(" ", F.transform(
          F.array_sort(F.collect_list(F.struct(F.col("idx"), F.col("tok")))),
          s => s.getField("tok"))).as("clean_text"))
    base.select(F.col(idCol), F.size(F.col("toks")).cast("long").as("n_tokens"))
      .join(kept, Seq(idCol), "left")
      .select(
        F.col(idCol), F.col("n_tokens"),
        (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0L))).as("n_removed"),
        F.coalesce(F.col("clean_text"), F.lit("")).as("clean_text"))
  }

  /** Variable-length exact SUBSTRING dedup — the Lee et al. 2022
    * ("Deduplicating Training Data Makes Language Models Better",
    * ExactSubstr) recipe: remove every token position lying inside ANY
    * substring of >= `minLen` tokens that occurs more than once
    * corpus-wide (within-doc repeats included), and report each
    * document's maximal duplicated REGIONS with exact variable-length
    * boundaries.
    *
    * Suffix-array semantics without the suffix array: a position i is
    * inside some repeated substring of length >= L  ⟺  some repeated
    * L-gram starts at p ∈ [i−L+1, i]. (⇐ the L-gram is itself such a
    * substring; ⇒ any L-token window of the long repeat containing i
    * recurs wherever the repeat does.) So the published removal set is
    * EXACTLY the union of [p, p+L) over repeated-L-gram starts p — the
    * per-position rule a distributed count can evaluate, no global index.
    * [[trimDuplicateSpans]] (fixed k) computes the same union at k = L;
    * what it cannot express is the published recipe's threshold semantics
    * at practical L (its exchange carries k-token gram STRINGS — ~L
    * tokens per corpus position at L = 50) and it reports no spans.
    *
    * Scale shape: ONE positional L-gram pass where the gram dies inside
    * the scan stage and only `md5(gram)` (16 bytes) rides the count
    * exchange — CHEAPER per position than trimDuplicateSpans' k = 10
    * string key, and independent of L. Repeated starts then merge into
    * maximal regions per doc (equal-length intervals: an island breaks
    * exactly when `pos − lag(pos) > L`), removal indices explode from
    * DISJOINT islands (no distinct), and the rebuild is the proven
    * positional anti-join. Exchanges: gram-digest count, doc-keyed
    * island window, (doc, idx) anti-join, doc rebuild agg — all keyed,
    * nothing quadratic, no driver state.
    *
    * Exactness contract: dedup keys are md5 digests, so a 128-bit
    * collision (odds ~2⁻⁶⁴ per pair) could over-remove one span; the
    * digest convention is the pack's deterministic-md5 oracle discipline
    * (minhash/HLL/Bloom precedent) and the DuckDB oracle computes the
    * same md5, so the gate is hash-exact INCLUDING any collision.
    *
    * Output: (idCol, n_tokens, n_spans, n_removed, clean_text) for every
    * input document; clean docs pass through with n_spans = n_removed = 0.
    * n_spans counts maximal duplicated regions (a 60-token repeat is ONE
    * span of 60, not 11 fused k-marks); token/rebuild conventions match
    * [[trimDuplicateSpans]] (lowercased whitespace tokens, space-joined).
    *
    * Reference: published ExactSubstr practice; the reference engine has
    * no equivalent (beyond-reference, LLM-pack). */
  def dedupSubstrings(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text", minLen: Int = 50,
                      keepFirst: Boolean = false): DataFrame = {
    require(minLen >= 2, s"need minLen >= 2, got $minLen")
    val base = graft.Spread(docs).select(
      F.col(idCol), F.col(textCol),
      F.coalesce(graft.functions.TextFunctions.tokens(F.col(textCol)),
        F.array().cast("array<string>")).as("toks"))
    // positional L-grams from the native ShingleExpr (codegen path); the
    // gram string is consumed by md5 in the same projection and never
    // reaches the exchange
    val starts = base.select(
      F.col(idCol), F.posexplode(ColumnBridge.column(
        ShingleExpr(ColumnBridge.expression(F.col(textCol)), minLen))))
      .toDF(idCol, "pos", "gram")
      .select(F.col(idCol), F.col("pos"), F.md5(F.col("gram")).as("h"))
    // keepFirst = the Lee et al. 2022 published removal rule: of each
    // repeated substring, the corpus-wide FIRST occurrence (ordered
    // (idCol, pos) ascending — deterministic, partitioning-free, the
    // dedupLines keep-first convention) survives and every later copy is
    // removed; the default removes ALL occurrences (the stricter
    // boilerplate-scrub variant). Same single h-keyed exchange — the
    // rank rides the window the occurrence count already pays for.
    val wH = Window.partitionBy("h")
    val marked = starts
      .withColumn("occ", F.count(F.lit(1)).over(wH))
    val dupStarts = (
      if (keepFirst)
        marked.withColumn("rk", F.row_number().over(
            wH.orderBy(F.col(idCol).asc, F.col("pos").asc)))
          .filter(F.col("occ") >= 2 && F.col("rk") > 1)
      else marked.filter(F.col("occ") >= 2))
      .select(F.col(idCol), F.col("pos"))
    // maximal duplicated regions: fixed-length [pos, pos+L) intervals in
    // pos order merge iff they overlap or touch — break on a true gap
    val wDoc = Window.partitionBy(F.col(idCol)).orderBy(F.col("pos"))
    val spans = dupStarts
      .withColumn("brk", F.when(
        F.col("pos") - F.lag("pos", 1).over(wDoc) > minLen, 1).otherwise(
        F.when(F.lag("pos", 1).over(wDoc).isNull, 1).otherwise(0)))
      .withColumn("island", F.sum("brk").over(
        wDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(F.col(idCol), F.col("island"))
      .agg(F.min("pos").as("s"), (F.max("pos") + minLen).as("e"))
    val spanStats = spans.groupBy(F.col(idCol))
      .agg(F.count(F.lit(1)).as("n_spans"),
        F.sum((F.col("e") - F.col("s")).cast("long")).as("n_rem"))
    // islands are disjoint by construction: no distinct needed
    val removal = spans.select(F.col(idCol),
      F.explode(F.sequence(F.col("s"), F.col("e") - 1)).as("idx"))
    val kept = base
      .select(F.col(idCol), F.posexplode(F.col("toks"))).toDF(idCol, "idx", "tok")
      .join(removal, Seq(idCol, "idx"), "left_anti")
      .groupBy(F.col(idCol))
      .agg(F.concat_ws(" ", F.transform(
        F.array_sort(F.collect_list(F.struct(F.col("idx"), F.col("tok")))),
        s => s.getField("tok"))).as("clean_text"))
    base.select(F.col(idCol), F.size(F.col("toks")).cast("long").as("n_tokens"))
      .join(spanStats, Seq(idCol), "left")
      .join(kept, Seq(idCol), "left")
      .select(
        F.col(idCol), F.col("n_tokens"),
        F.coalesce(F.col("n_spans"), F.lit(0L)).as("n_spans"),
        F.coalesce(F.col("n_rem"), F.lit(0L)).as("n_removed"),
        F.coalesce(F.col("clean_text"), F.lit("")).as("clean_text"))
  }

  /** Corpus-level duplicate-LINE removal, keep-first (the CCNet/Dolma
    * line-dedup step real web pipelines run between extraction and
    * document dedup: navigation bars, footers, and cookie banners repeat
    * across thousands of pages and survive document-level dedup because
    * the pages differ elsewhere). Every '\n'-line occurrence is kept iff
    * it is the FIRST occurrence of that exact line text corpus-wide
    * (order: (idCol, line index) ascending — deterministic and
    * partitioning-free); all later copies are removed and each document
    * is rebuilt from its surviving lines in original order.
    *
    * Granularity ladder: [[dedupKeep]] removes whole duplicate DOCS,
    * [[trimDuplicateSpans]] removes duplicated k-token SPANS,
    * [[dupParagraphFraction]] SCORES shared paragraphs — this REMOVES
    * exact duplicated lines, the unit web boilerplate actually repeats
    * at.
    *
    * Scale shape: positional line explode → ONE MAP-SIDE-COMBINABLE
    * `min(struct(id, idx))` groupBy keyed on the 128-BIT PAIR
    * (xxhash64(line), xxhash64(salt, line)) — two independent 8-byte
    * hashes, never the raw text (r21, VERDICT r20 wrong-#1: a single
    * 64-bit key makes birthday collisions EXPECTED past ~10⁹ distinct
    * lines, and each one silently deleted a non-duplicate line; the
    * 128-bit pair is the md5-width class substring dedup already rides,
    * with the shuffle row growing 8 bytes) → shuffle-hash join-back on
    * the pair marks each occurrence first-or-not → one doc-keyed
    * aggregation rebuilds the text (array_sort over (idx, line) structs,
    * the trimDuplicateSpans rebuild). The r19 shape was a `row_number()
    * OVER (PARTITION BY line)` window: every occurrence of a hot
    * boilerplate line ("" or a cookie banner repeated millions of times
    * at 100 TB) landed in ONE task's SORT buffer. This shape has no such
    * cliff: map-side combine collapses each input partition's
    * occurrences of a hot line to a single (hashes, min-struct) row
    * before the aggregation exchange, and the join-back probe STREAMS
    * (one firsts row per distinct line on the build side, O(1) memory
    * per probe) — and being a shuffle join, AQE's skew-split can further
    * divide a hot hash partition, which no window sort allows. Nothing
    * quadratic, no driver state.
    *
    * Output: (idCol, n_lines, n_removed, clean_text) for EVERY input
    * document (a fully-boilerplate doc survives with clean_text = "").
    * Empty lines dedup like any other line text — '\n\n' runs beyond
    * the corpus's first are boilerplate by this definition too. */
  def dedupLines(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame =
    dedupLinesHashed(hashedLines(docs, idCol, textCol), idCol)

  /** The exploded per-occurrence line stream with BOTH identity hashes —
    * shared by [[dedupLines]] and [[stripBoilerplate]]. NOT cached: the
    * explode subtree runs under both the aggregation and the join-back
    * probe. An A/B of the CacheScope variant measured persist+count+
    * checkpoint at ~2× the recompute at every SF tried, and at 100 TB
    * caching the exploded raw-line stream costs a corpus-sized write
    * where the recompute is a column-pruned scan. */
  private def hashedLines(docs: DataFrame, idCol: String,
                          textCol: String): DataFrame =
    graft.Spread(docs)
      .select(F.col(idCol), F.posexplode(F.split(F.col(textCol), "\n")))
      .toDF(idCol, "idx", "line")
      .withColumn("lh", F.xxhash64(F.col("line")))
      // the SECOND identity hash: same function, salted input — a RANDOM
      // collision now needs both 64-bit hashes to collide on the same
      // pair of distinct lines, which pushes the birthday threshold from
      // ~10^9 distinct lines (one 64-bit key) past any corpus size.
      // CONTRACT (r21 ADVICE, made explicit): this pair key is
      // ANTI-BIRTHDAY ONLY, not adversarial-collision-resistant — two
      // seeded XXH64 passes are far weaker than a cryptographic digest
      // against crafted input, and a web corpus can contain
      // attacker-crafted lines. A deployment that must resist adversarial
      // line-collisions (deliberately surviving boilerplate / deleting a
      // victim line) should key on a true 128-bit digest instead (e.g.
      // the two md5 halves the substring-dedup tier already uses) and
      // accept the ~2x hash cost; the engine's own gates are
      // deterministic synthetic corpora where the birthday bound is the
      // operative risk.
      .withColumn("lh2", F.xxhash64(F.lit("graft_lh2"), F.col("line")))

  /** [[dedupLines]] body over a pre-hashed line stream (idCol, idx, line,
    * lh, lh2) — split out so the collision spec can plant two DISTINCT
    * lines with a COLLIDING first hash (mocked — engineering a real
    * xxhash64 collision is infeasible in a test) and prove the pair key
    * keeps them apart. */
  private[graft] def dedupLinesHashed(lines: DataFrame, idCol: String): DataFrame = {
    // min(struct) replays the window's (idCol asc, idx asc) order —
    // struct comparison is lexicographic field-by-field — and combines
    // map-side: hot lines cost one row per input partition, not one
    // sort-buffer entry per occurrence.
    val firsts = lines.groupBy(F.col("lh"), F.col("lh2"))
      .agg(F.min(F.struct(F.col(idCol).as("fid"), F.col("idx").as("fidx"))).as("f"))
    lines
      .join(firsts.hint("shuffle_hash"), Seq("lh", "lh2"))
      .withColumn("keep",
        F.col(idCol) === F.col("f.fid") && F.col("idx") === F.col("f.fidx"))
      .groupBy(F.col(idCol))
      .agg(
        F.count(F.lit(1)).as("n_lines"),
        F.sum(F.when(F.col("keep"), 0L).otherwise(1L)).as("n_removed"),
        F.concat_ws("\n", F.transform(
          F.array_sort(F.collect_list(
            F.when(F.col("keep"), F.struct(F.col("idx"), F.col("line"))))),
          s => s.getField("line"))).as("clean_text"))
  }

  /** TF-WEIGHTED Jaccard verification over MinHash candidates: the
    * multiplicity-aware refinement set semantics cannot express —
    * `J_w(A,B) = Σ_t min(tf_A, tf_B) / Σ_t max(tf_A, tf_B)`. A page
    * that is one banner pasted 50 times has the IDENTICAL token set as
    * the single banner (set Jaccard = 1.0, a false near-dup); weighted
    * Jaccard scores it 1/50 and keeps true copies — similar tf
    * profiles — near 1. Candidates come from the row-32 MinHash-LSH
    * machinery (never all-pairs); the verify is exact integer
    * arithmetic: with `Σmax = tot_A + tot_B − Σmin`, the fold needs only
    * the INTERSECTION tokens, and the threshold compares as an integer
    * cross-multiplication (`den·Σmin ≥ num·Σmax`) — no double ever
    * decides membership, so the gate is tie-proof (the q_pmi lesson).
    *
    * Scale shape: ONE tf fold into PER-DOC sorted (tok, tf) vectors —
    * the fixed-width (id, tfs, tot) frame is materialized via
    * [[graft.CacheScope]] and both pair-join sides read the cached
    * blocks. The intersection fold is then
    * [[graft.functions.expressions.SortedPairMinSumExpr]]: one in-row
    * two-pointer merge per candidate pair, inside whole-stage codegen.
    * This replaces the exploded shape (pairs ⋈ (doc, tok, tf) twice +
    * a pair groupBy + two totals joins — r18's only data-bound >2×
    * headline query): five exchanges and two aggregations collapse to
    * two plain doc-id joins whose build side is the cached vector
    * table. Per-row state is bounded by document length — the same
    * bound the text column itself carries — so the vectors survive
    * 100 TB exactly as far as the corpus does.
    *
    * Output: (doc_a, doc_b, sum_min, tot_a, tot_b, jw round-6) for
    * candidate pairs with J_w ≥ num/den. With `minJwNum = 0` the
    * contract includes candidates whose token INTERSECTION is empty:
    * the vector merge yields sum_min = 0, jw = 0 for them naturally
    * (round-18 ADVICE contract fix — the old exploded inner join
    * silently dropped them). Scope (round-19 ADVICE): the contract is
    * over docs with ≥ 1 token — a TOKEN-EMPTY doc has no docTf row, so
    * the doc-id joins would drop its pairs; no such pair exists, though,
    * because candidates come from word-shingle MinHash ([[ShingleExpr]]
    * n-grams over the SAME whitespace tokens [[graft.functions
    * .expressions.TokenTfExpr]] folds), and zero tokens ⇒ zero shingles
    * ⇒ no signature ⇒ no candidacy. */
  def weightedJaccard(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text", shingleN: Int = 3,
                      minJwNum: Long = 1L, minJwDen: Long = 5L,
                      knownDocCount: Long = -1L): DataFrame = graft.CacheScope.scoped {
    require(minJwDen > 0 && minJwNum >= 0 && minJwNum <= minJwDen,
      s"threshold must be a rational in [0, 1], got $minJwNum/$minJwDen")
    val cand = minhashCandidates(docs, idCol, textCol, shingleN,
      knownDocCount = knownDocCount)
    val tfArr = ColumnBridge.column(
      graft.functions.expressions.TokenTfExpr(
        ColumnBridge.expression(F.col(textCol))))
    // token strings leave the plan immediately: the vectors carry
    // xxhash64(token) — fixed 8-byte keys (the dupNgramFraction
    // injectivity argument; the oracle joins raw tokens, equal absent a
    // 64-bit collision in one doc's vocabulary)
    val docTf = materialize(docs
      .select(F.col(idCol), F.explode_outer(tfArr).as("tt"))
      .filter(F.col("tt.tok").isNotNull)
      .select(F.col(idCol), F.xxhash64(F.col("tt.tok")).as("tok"),
        F.col("tt.tf").cast("long").as("tf"))
      .groupBy(F.col(idCol))
      .agg(
        F.array_sort(F.collect_list(F.struct(F.col("tok"), F.col("tf")))).as("tfs"),
        F.sum(F.col("tf")).as("tot")))
    // vector joins stay shuffle-side: docTf is corpus-sized (one row
    // per doc), never broadcastable at scale — the pair side streams
    val joined = cand
      .join(docTf.select(F.col(idCol).as("doc_a"), F.col("tfs").as("tfs_a"),
        F.col("tot").as("tot_a")).hint("shuffle_hash"), Seq("doc_a"))
      .join(docTf.select(F.col(idCol).as("doc_b"), F.col("tfs").as("tfs_b"),
        F.col("tot").as("tot_b")).hint("shuffle_hash"), Seq("doc_b"))
      .withColumn("sum_min", ColumnBridge.column(
        graft.functions.expressions.SortedPairMinSumExpr(
          ColumnBridge.expression(F.col("tfs_a")),
          ColumnBridge.expression(F.col("tfs_b")))))
    val smax = F.col("tot_a") + F.col("tot_b") - F.col("sum_min")
    joined
      .filter(F.col("sum_min") * minJwDen >= smax * minJwNum)
      .select(F.col("doc_a"), F.col("doc_b"), F.col("sum_min"),
        F.col("tot_a"), F.col("tot_b"),
        F.round(F.col("sum_min").cast("double") / smax.cast("double"), 6).as("jw"))
  }

  /** CCNet-style BOILERPLATE line removal (Wenzek et al. 2020 §3 run the
    * same idea at paragraph level): a line is boilerplate when it occurs
    * in at least `minDocs` DISTINCT documents — cookie banners, JS
    * warnings, nav chrome — and then EVERY occurrence is dropped
    * (contrast [[dedupLines]], which keeps the first). Documents are
    * rebuilt from their surviving lines in original order.
    *
    * Scale shape: document frequency folds from the DISTINCT
    * (line hashes, id) tuples — the 128-BIT (xxhash64, salted-xxhash64)
    * pair key of [[dedupLines]] (r21 collision hardening: a single
    * 64-bit key silently stripped a NON-boilerplate line per birthday
    * collision at the 100 TB design point), so neither exchange ever
    * shuffles line text — to a lines-vocabulary-sized count table
    * (both steps map-side combinable); a banner line occurring in 10^9
    * documents folds to ONE count row. Only the BOILERPLATE set (df >=
    * minDocs — the repeated-line vocabulary, tiny next to the corpus)
    * joins back against the line stream, so AQE broadcasts it and the
    * corpus side pays NO join exchange; pair-hash equality stands in
    * for line equality (the md5-width contract class). Both
    * consumers re-run the codegen'd split+explode scan rather than
    * checkpointing the exploded corpus (measured faster at bench scale).
    *
    * Output: (idCol, n_lines, n_boiler, clean_text), clean_text the
    * newline-rejoin of surviving lines. */
  def stripBoilerplate(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text",
                       minDocs: Int = 3): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    stripBoilerplateHashed(hashedLines(docs, idCol, textCol), idCol, minDocs)
  }

  /** [[stripBoilerplate]] body over a pre-hashed line stream — split out
    * for the planted-collision spec (see [[dedupLinesHashed]]). */
  private[graft] def stripBoilerplateHashed(lines: DataFrame, idCol: String,
                                            minDocs: Int): DataFrame = {
    // The invariant must hold at the entry point that actually uses
    // minDocs (r21 ADVICE): a package-internal caller passing minDocs <= 1
    // would otherwise silently strip EVERY line (df >= 1 is always true).
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val boiler = lines.select(F.col("lh"), F.col("lh2"), F.col(idCol)).distinct()
      .groupBy(F.col("lh"), F.col("lh2")).agg(F.count(F.lit(1)).as("df"))
      .filter(F.col("df") >= minDocs)
      .select(F.col("lh"), F.col("lh2"), F.lit(true).as("is_boiler"))
    lines
      .join(boiler, Seq("lh", "lh2"), "left")
      .withColumn("b", F.coalesce(F.col("is_boiler"), F.lit(false)))
      .groupBy(F.col(idCol))
      .agg(
        F.count(F.lit(1)).as("n_lines"),
        F.sum(F.when(F.col("b"), 1L).otherwise(0L)).as("n_boiler"),
        F.concat_ws("\n", F.transform(
          F.array_sort(F.collect_list(
            F.when(!F.col("b"), F.struct(F.col("idx"), F.col("line"))))),
          s => s.getField("line"))).as("clean_text"))
  }

  /** Duplicated n-gram fraction per document: of a document's DISTINCT
    * word `shingleN`-grams, the fraction that also occur in at least one
    * OTHER document (corpus df >= 2) — the standard corpus-level
    * boilerplate/duplication quality signal used by published
    * training-data filters (cut documents whose text is mostly shared
    * n-grams). Documents with fewer than `shingleN` tokens have no
    * n-grams and are absent from the output (they carry no signal).
    *
    * Shape (the [[graft.functions.TfIdf]] single-pass pattern): one corpus
    * scan folds distinct shingle HASHES per row (ShingleExpr ->
    * array_distinct -> XxHash64ArrayExpr — counts are hash-invariant, and
    * 8-byte hashes keep the shuffle fixed-width; same injectivity argument
    * as [[ngramJaccard]]); the corpus df of each hash is computed INLINE
    * as `count(*) over (partition by h)` on the one h-keyed exchange; the
    * per-doc fraction is one aggregation. No cache, no join, nothing
    * quadratic, and no row carries more than (id, hash).
    *
    * Output: (idCol, n_grams, n_dup, dup_frac) with dup_frac rounded to
    * 6 decimals (the oracle-replicable double convention). */
  def dupNgramFraction(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text",
                       shingleN: Int = 5): DataFrame = graft.CacheScope.scoped {
    val spark = docs.sparkSession
    val hashedDistinct = ColumnBridge.column(
      graft.functions.expressions.XxHash64ArrayExpr(ColumnBridge.expression(
        F.array_distinct(ColumnBridge.column(
          ShingleExpr(ColumnBridge.expression(F.col(textCol)), shingleN))))))
    // explode_outer: the inner form would let InferFiltersFromGenerate
    // push a size() filter on the computed array below the repartition and
    // re-run the shingle fold per row (the round-6 trap); the outer form
    // keeps shingle-less docs as null-h rows, dropped after the generate
    // (the isNotNull filter reads the GENERATED column and cannot sink
    // below its own Generate).
    val sh = graft.Spread(docs)
      .select(F.col(idCol), F.explode_outer(hashedDistinct).as("h"))
      .filter(F.col("h").isNotNull)
    // df computed INLINE as count(*) over the h partition (the q_tfidf
    // round-9 shape): the rows are distinct (id, h) pairs, so the window
    // count IS the corpus document frequency of the shingle hash. One
    // exchange on h replaces the round-8 cache + aggregate + join-back —
    // no persist, single consumer, two shuffles total. The repartition
    // pins the partition count of the exchange the window needs anyway
    // (AQE would coalesce the sort to one task at small SF); a hot hash's
    // window partition is bounded by nDocs and spills, not OOMs.
    val p = docs.sparkSession.sparkContext.defaultParallelism
    sh.repartition(p, F.col("h"))
      .withColumn("df", F.count(F.lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(F.col("h"))))
      .groupBy(F.col(idCol))
      .agg(
        F.count(F.lit(1)).as("n_grams"),
        F.sum(F.when(F.col("df") > 1L, 1L).otherwise(0L)).as("n_dup"))
      .select(F.col(idCol), F.col("n_grams"), F.col("n_dup"),
        F.round(F.col("n_dup").cast("double") / F.col("n_grams").cast("double"), 6)
          .as("dup_frac"))
  }

  /** SOFT deduplication — reweight instead of remove (the SoftDeDup idea,
    * ACL 2024: hard dedup throws away the information that a document was
    * popular; soft dedup keeps every document but hands the SAMPLER a
    * weight that shrinks with its duplication, so duplicated content
    * contributes proportionally less training mass without a cliff).
    *
    * Per document: mean EXCESS document frequency of its distinct
    * `shingleN`-gram shingles — `sum(df - 1) / n_grams`, 0 for fully
    * unique content, (D-1) for a doc duplicated verbatim D times — and
    * the sampling weight `1 / (1 + alpha * mean_excess)`: a unique doc
    * keeps weight 1; D verbatim copies each get ~1/D at alpha = 1, so the
    * FAMILY's total sampling mass stays ~1 (the hard-dedup keep-one
    * answer) while rare partial overlaps are only slightly discounted.
    * Pure IEEE arithmetic (two divisions, one multiply-add — no libm), so
    * any engine reproduces the weights bit-for-bit.
    *
    * Scale shape = [[dupNgramFraction]] exactly: distinct per-doc shingle
    * hashes (16-byte xxhash64, never shingle strings) ride ONE exchange
    * where a window count computes df inline; one doc-keyed aggregation
    * folds the excess sums. Two shuffles total, no self-join, no driver
    * state. Weights feed [[graft.operators.Sampling.prioritySample]] /
    * mixSample as the weight column (tokens x soft_weight = the doc's
    * training mass).
    *
    * Output: (idCol, n_grams, sum_excess_df, mean_excess_df, soft_weight)
    * for every doc with at least one shingle. */
  def softDedupWeights(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text",
                       shingleN: Int = 5, alpha: Double = 1.0): DataFrame = graft.CacheScope.scoped {
    val hashedDistinct = ColumnBridge.column(
      graft.functions.expressions.XxHash64ArrayExpr(ColumnBridge.expression(
        F.array_distinct(ColumnBridge.column(
          ShingleExpr(ColumnBridge.expression(F.col(textCol)), shingleN))))))
    val sh = graft.Spread(docs)
      .select(F.col(idCol), F.explode_outer(hashedDistinct).as("h"))
      .filter(F.col("h").isNotNull)
    val p = docs.sparkSession.sparkContext.defaultParallelism
    val mean = F.col("sum_excess_df").cast("double") / F.col("n_grams").cast("double")
    sh.repartition(p, F.col("h"))
      .withColumn("df", F.count(F.lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(F.col("h"))))
      .groupBy(F.col(idCol))
      .agg(
        F.count(F.lit(1)).as("n_grams"),
        F.sum(F.col("df") - 1L).as("sum_excess_df"))
      .select(F.col(idCol), F.col("n_grams"), F.col("sum_excess_df"),
        F.round(mean, 6).as("mean_excess_df"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.lit(alpha) * mean), 6)
          .as("soft_weight"))
  }

  /** Paragraph-granularity cross-document duplication (round 9) — the
    * missing level between doc-level exact dedup and n-gram fractions in
    * the Gopher/MassiveText signal set: for each document, the fraction
    * of its paragraphs whose exact text also occurs in at least one
    * OTHER document (shared boilerplate — headers, footers, license
    * blocks, templated sections).
    *
    * "Paragraph" here is a non-overlapping block of `blockTokens`
    * lowercase whitespace tokens — the honest granularity proxy for a
    * corpus with no newline structure (a real pipeline would pre-split
    * text on blank lines into one row per paragraph and feed it the same
    * way; the counting machinery below is granularity-agnostic). Blocks
    * are built entirely from codegen'd built-ins (split → filter →
    * transform/slice/array_join): no custom expression, no UDF.
    *
    * Scale shape (single pass, no cache, no join): block rows carry an
    * 8-byte xxhash64 (counts are hash-invariant — the [[ngramJaccard]]
    * injectivity argument); ONE exchange on the hash computes the
    * cross-doc document frequency inline via the stacked-window
    * distinct-count trick — `row_number over (h, doc)` marks one row per
    * (hash, doc), `sum(mark) over (h)` is then COUNT(DISTINCT doc) —
    * both windows share the single hash-clustered sort, with no
    * collect_set materialization (a boilerplate block shared by millions
    * of docs streams through the spillable window buffer instead of
    * building a million-element set per row). The per-doc fraction is
    * one final aggregation. Output: (idCol, n_paras, n_dup,
    * dup_para_frac rounded to 6 decimals); documents with no tokens have
    * no paragraphs and are absent, as in [[dupNgramFraction]]. */
  def dupParagraphFraction(docs: DataFrame, idCol: String = "doc_id",
                           textCol: String = "text",
                           blockTokens: Int = 10): DataFrame = {
    require(blockTokens > 0, "blockTokens must be positive")
    val p = docs.sparkSession.sparkContext.defaultParallelism
    // Native block split (TokenBlocksExpr): the former when/transform/
    // slice lambda chain was CodegenFallback and ran this corpus scan
    // interpreted; NULL (token-less docs) drops at the explode.
    val paras = graft.Spread(docs)
      .select(F.col(idCol), F.explode(ColumnBridge.column(
        graft.functions.expressions.TokenBlocksExpr(
          ColumnBridge.expression(F.col(textCol)), blockTokens))).as("__para"))
      .select(F.col(idCol), F.xxhash64(F.col("__para")).as("__h"))
    val wMark = Window.partitionBy(F.col("__h"), F.col(idCol))
      .orderBy(F.col(idCol))
    val wHash = Window.partitionBy(F.col("__h"))
    paras.repartition(p, F.col("__h"))
      .withColumn("__mark", F.when(F.row_number().over(wMark) === 1, 1L).otherwise(0L))
      .withColumn("__nd", F.sum(F.col("__mark")).over(wHash))
      .groupBy(F.col(idCol))
      .agg(
        F.count(F.lit(1)).as("n_paras"),
        F.sum(F.when(F.col("__nd") > 1L, 1L).otherwise(0L)).as("n_dup"))
      .select(F.col(idCol), F.col("n_paras"), F.col("n_dup"),
        F.round(F.col("n_dup").cast("double") / F.col("n_paras").cast("double"), 6)
          .as("dup_para_frac"))
  }

  /** Embedding-cosine near-duplicate candidates: vector pairs whose
    * multi-table hyperplane-LSH signatures collide in ANY table and whose
    * exact cosine (computed only within buckets — never all-pairs) clears
    * `minCosine`. The semantic-dedup primitive for embedding-indexed
    * corpora; same bucket-join scale shape as the MinHash path. */
  def embeddingCandidates(vectors: DataFrame, idCol: String = "vec_id",
                          embCol: String = "embedding", minCosine: Double = 0.4,
                          bits: Int = 6, tables: Int = 4, dim: Int = 64): DataFrame = {
    import graft.functions.VectorFunctions
    val sigs = vectors.select(
      F.col(idCol),
      F.posexplode(VectorFunctions.lshTableSignatures(F.col(embCol), bits, tables, dim)))
      .toDF(idCol, "tbl", "sig")
    val a = sigs.select(F.col("tbl"), F.col("sig"), F.col(idCol).as("vec_a"))
    val b = sigs.select(F.col("tbl"), F.col("sig"), F.col(idCol).as("vec_b"))
    val cand = a.join(b, Seq("tbl", "sig"))
      .filter(F.col("vec_a") < F.col("vec_b"))
      .select("vec_a", "vec_b")
      .distinct()
    def nrm(e: Column) = F.sqrt(VectorFunctions.dotF(e, e))
    cand
      .join(vectors.select(F.col(idCol).as("vec_a"), F.col(embCol).as("e_a")), Seq("vec_a"))
      .join(vectors.select(F.col(idCol).as("vec_b"), F.col(embCol).as("e_b")), Seq("vec_b"))
      .select(F.col("vec_a"), F.col("vec_b"),
        F.round(VectorFunctions.dotF(F.col("e_a"), F.col("e_b")) /
          (nrm(F.col("e_a")) * nrm(F.col("e_b"))), 6).as("cosine"))
      .filter(F.col("cosine") >= minCosine)
  }

  /** Semantic dedup (the SemDeDup shape: Abbas et al., 2023): k-means
    * cells bound the candidate space — pairs are compared only WITHIN a
    * cell — then exact rounded cosine ≥ `tau` edges feed the standard
    * components → anti-join survivor chain. Output: one row per surviving
    * vector with its cell, i.e. the semantically-deduplicated corpus.
    *
    * Scale shape: cell assignment is a broadcast-centroid scan (zero
    * shuffles — [[graft.ann.Ann.clusterKmeans]], embeddings carried
    * through), the pairing is ONE cell-keyed exchange of the assigned
    * table joined against itself, and the within-cell blow-up is bounded
    * by cell size — `clusters` scales with the corpus (k ≈ n / target
    * cell size in SemDeDup practice), so the quadratic term stays
    * constant-bounded per cell at any corpus size. Never all-pairs. */
  def semantic(corpus: DataFrame, idCol: String = "vec_id",
               embCol: String = "embedding", clusters: Int = 16,
               tau: Double = 0.4): DataFrame = graft.CacheScope.scoped {
    import graft.functions.VectorFunctions
    val assigned = materialize(
      graft.ann.Ann.clusterKmeans(corpus, idCol, embCol, clusters,
        carry = Seq(embCol)))
    val a = assigned.select(F.col("cluster_id"), F.col(idCol).as("va"), F.col(embCol).as("e_a"))
    val b = assigned.select(F.col("cluster_id"), F.col(idCol).as("vb"), F.col(embCol).as("e_b"))
    def nrm(e: Column) = F.sqrt(VectorFunctions.dotF(e, e))
    val edges = a.join(b, Seq("cluster_id"))
      .filter(F.col("va") < F.col("vb"))
      .select(F.col("va"), F.col("vb"),
        F.round(VectorFunctions.dotF(F.col("e_a"), F.col("e_b")) /
          (nrm(F.col("e_a")) * nrm(F.col("e_b"))), 6).as("cosine"))
      .filter(F.col("cosine") >= tau)
      .select("va", "vb")
    val comp = Components.connectedComponents(edges, "va", "vb")
    val losers = comp.filter(F.col("doc_id") =!= F.col("cluster_id"))
      .select(F.col("doc_id").as(idCol))
    assigned.select(F.col(idCol), F.col("cluster_id").as("cell"))
      .join(losers, Seq(idCol), "left_anti")
  }

  /** 64-bit SimHash over whitespace tokens: bit j of the simhash =
    * (Σ_tokens (2·bit_j(md5₆₄(token)) − 1)) ≥ 0, folded per ROW by the
    * native [[graft.functions.expressions.SimhashExpr]] — no token
    * explode, no 64-column aggregation shuffle, and md5-derived bits so
    * the DuckDB oracle replicates the value exactly. Docs with no tokens
    * drop out. Returns (id, simhash). */
  def simhash(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val sh = ColumnBridge.column(
      graft.functions.expressions.SimhashExpr(
        ColumnBridge.expression(F.col(textCol))))
    graft.Spread(docs)
      .select(F.col(idCol), sh.as("simhash"))
      .filter(F.col("simhash").isNotNull)
  }

  /** Winnowing near-dup candidates: docs sharing at least `minShared`
    * rolling-hash winnow fingerprints (TextFunctions.winnowFingerprints).
    * Bucket join on the fingerprint value — the same shuffle-on-bucket
    * shape as MinHash-LSH, guaranteed to catch any shared substring of
    * length ≥ w+k−1. */
  def winnowCandidates(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
                       k: Int = 16, w: Int = 32, minShared: Int = 2): DataFrame = graft.CacheScope.scoped {
    // NOTE: this stays the AQE-planned self-join (not the bucket
    // collect_list expansion candidatesFromSigs uses) — winnow buckets
    // are larger and denser than LSH signature buckets, and measured at
    // bench scale the ObjectHashAggregate list build costs ~4x what the
    // (broadcastable) join does.
    // cache the UNEXPLODED fingerprint arrays: both join sides read them,
    // and uncached each side re-runs the WinnowExpr fold over the corpus
    // (explode above the cache boundary, as everywhere else).
    val fpArr = materialize(
      graft.Spread(docs)
        .select(F.col(idCol),
          TextFunctions.winnowFingerprints(F.col(textCol), k, w).as("fps")))
    val fp = fpArr.select(F.col(idCol), F.explode(F.col("fps")).as("fp"))
    val a = fp.select(F.col("fp"), F.col(idCol).as("doc_a"))
    val b = fp.select(F.col("fp"), F.col(idCol).as("doc_b"))
    a.join(b, Seq("fp"))
      .filter(F.col("doc_a") < F.col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(F.count(F.lit(1)).as("n_shared"))
      .filter(F.col("n_shared") >= minShared)
  }

  /** SimHash near-dup candidates via multi-band bucketing: the 64-bit
    * simhash splits into `bands` disjoint (64/bands)-bit slices, and a pair
    * is a candidate when ANY band slice matches exactly (one bucket join
    * per band, unioned by the explode — never all-pairs). Exact hamming is
    * then computed within candidates only.
    *
    * Completeness: by pigeonhole, a pair at hamming ≤ bands−1 differs in at
    * most bands−1 slices, so at least one band matches — recall is exactly
    * 1.0 for maxHamming ≤ bands−1 (the default 4 bands / maxHamming 3;
    * proven against the exhaustive join in DedupAnnSpec). Multi-band also
    * removes the skew magnet of a single fixed prefix: a doc lands in
    * `bands` independent buckets keyed by different hash slices. */
  def simhashCandidates(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
                        maxHamming: Int = 3, bands: Int = 4): DataFrame = graft.CacheScope.scoped {
    // Cache the UNEXPLODED (id, simhash) table: the not-null filter and
    // the band explode then read a stored column — with the filter below
    // the cache, Catalyst pushes it past the repartition and re-evaluates
    // the SimhashExpr fold three times per row on the unspread scan (the
    // same InferFilters/pushdown trap as the minhash paths). The banded
    // view is a cheap projection of the cache, recomputed per join side.
    val sh = ColumnBridge.column(
      graft.functions.expressions.SimhashExpr(
        ColumnBridge.expression(F.col(textCol))))
    val shTable = materialize(
      graft.Spread(docs)
        .select(F.col(idCol), sh.as("simhash")))
    hashBandCandidates(shTable, idCol, "simhash", maxHamming, bands)
  }

  /** EXACT set-similarity self-join by PREFIX FILTERING (the AllPairs /
    * PPJoin family — Bayardo et al. WWW'07, Xiao et al. WWW'08): every
    * pair with Jaccard ≥ t, with PROVEN recall (unlike the LSH candidacy
    * of [[ngramJaccard]], which trades a small miss probability for a
    * cheaper scan — the two ends of the published exact-vs-probabilistic
    * spectrum, both ending in the same exact verify).
    *
    * The prefix principle: order every doc's distinct shingle hashes by a
    * GLOBAL total order (document frequency ASC, hash ASC — rarest
    * first, the candidate-minimizing choice); if J(A,B) ≥ t then
    * |A∩B| ≥ ⌈t·|A|⌉ and ≥ ⌈t·|B|⌉, so A and B MUST share a token whose
    * position in BOTH lies within the first |x| − ⌈t·|x|⌉ + 1 tokens
    * (the standard prefix lemma) — the equi-join touches only those
    * short prefixes, and rare tokens make tiny buckets.
    *
    * Scale shape: one df aggregation over the hashed-shingle stream, one
    * doc-keyed regroup into the df-ordered array, the prefix equi-join
    * (bucket-bounded by construction), then the sorted-merge exact
    * verify ([[graft.functions.expressions.SortedIntersectCountExpr]]
    * over the cached sorted hash arrays). Never all-pairs; no minhash,
    * no probability. Output: (doc_a, doc_b, jaccard) for pairs ≥ t. */
  def jaccardJoinExact(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text", shingleN: Int = 3,
                       minJaccard: Double = 0.5): DataFrame = graft.CacheScope.scoped {
    require(minJaccard > 0.0 && minJaccard <= 1.0,
      s"prefix filtering needs minJaccard in (0, 1], got $minJaccard")
    val shingleArr = ColumnBridge.column(
      ShingleExpr(ColumnBridge.expression(F.col(textCol)), shingleN))
    val hashedRaw = ColumnBridge.column(
      graft.functions.expressions.XxHash64ArrayExpr(ColumnBridge.expression(
        F.array_distinct(shingleArr))))
    val base = materialize(graft.Spread(docs)
      .select(F.col(idCol), hashedRaw.as("arr"))
      .filter(F.size(F.col("arr")) > 0)
      .select(F.col(idCol), F.col("arr"), F.size(F.col("arr")).cast("long").as("n")))
    // global document frequency per hash — the one vocabulary aggregation
    val dfTab = base.select(F.explode(F.col("arr")).as("h"))
      .groupBy(F.col("h")).agg(F.count(F.lit(1)).as("df"))
    // per-doc tokens in (df ASC, h ASC) order, prefix sliced to
    // n − ceil(t·n) + 1 (ints exact; ceil on the IEEE product)
    val prefLen = (F.col("n") -
      F.ceil(F.lit(minJaccard) * F.col("n").cast("double")) + 1L).cast("int")
    val pref = base.select(F.col(idCol), F.col("n"), F.explode(F.col("arr")).as("h"))
      .join(dfTab.hint("shuffle_hash"), Seq("h"))
      .groupBy(F.col(idCol))
      .agg(F.any_value(F.col("n")).as("n"),
        F.array_sort(F.collect_list(F.struct(F.col("df"), F.col("h")))).as("byDf"))
      .select(F.col(idCol), F.explode(F.slice(
        F.transform(F.col("byDf"), s => s.getField("h")), F.lit(1), prefLen)).as("h"))
    val a = pref.select(F.col("h"), F.col(idCol).as("doc_a"))
    val b = pref.select(F.col("h"), F.col(idCol).as("doc_b"))
    val cand = a.join(b, Seq("h"))
      .filter(F.col("doc_a") < F.col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val inter = ColumnBridge.column(
      graft.functions.expressions.SortedIntersectCountExpr(
        ColumnBridge.expression(F.col("arr_a")),
        ColumnBridge.expression(F.col("arr_b"))))
    cand
      .join(base.select(F.col(idCol).as("doc_a"), F.col("arr").as("arr_a"),
        F.col("n").as("n_a")), Seq("doc_a"))
      .join(base.select(F.col(idCol).as("doc_b"), F.col("arr").as("arr_b"),
        F.col("n").as("n_b")), Seq("doc_b"))
      .select(F.col("doc_a"), F.col("doc_b"), inter.cast("long").as("i"),
        F.col("n_a"), F.col("n_b"))
      .filter(F.col("i").cast("double") /
        (F.col("n_a") + F.col("n_b") - F.col("i")).cast("double") >= minJaccard)
      .select(F.col("doc_a"), F.col("doc_b"),
        F.round(F.col("i").cast("double") /
          (F.col("n_a") + F.col("n_b") - F.col("i")).cast("double"), 6)
          .as("jaccard"))
  }

  /** MinHash-LSH parameter planner — the standard S-curve table (Leskovec/
    * Rajaraman/Ullman, "Mining of Massive Datasets" ch. 3) a banding
    * config is read off of: for every (bands b, rows r) split of the
    * signature budget, the candidate probability at similarity s is
    * 1 − (1 − s^r)^b, the curve's threshold ≈ (1/b)^(1/r). Emits one row
    * per divisor split with the threshold and the collision probability
    * at a fixed similarity grid — pick the split whose threshold brackets
    * the dedup target and read the false-positive/negative mass straight
    * from the grid columns. Pure math from the budget (a planning table,
    * not a scan); the two pows ride the shared-expression-text +
    * round(·,6) rule. */
  def lshPlan(spark: org.apache.spark.sql.SparkSession,
              totalHashes: Int = 128): DataFrame = {
    require(totalHashes >= 1, s"need totalHashes >= 1, got $totalHashes")
    import spark.implicits._
    val splits = (1 to totalHashes).filter(totalHashes % _ == 0)
      .map(b => (b, totalHashes / b))
    def pAt(s: Double) = F.round(
      F.lit(1.0) - F.pow(F.lit(1.0) - F.pow(F.lit(s), F.col("r").cast("double")),
        F.col("b").cast("double")), 6)
    splits.toDF("b", "r").select(
      F.col("b"), F.col("r"),
      F.round(F.pow(F.lit(1.0) / F.col("b").cast("double"),
        F.lit(1.0) / F.col("r").cast("double")), 6).as("s_threshold"),
      pAt(0.3).as("p30"), pAt(0.5).as("p50"), pAt(0.7).as("p70"),
      pAt(0.8).as("p80"), pAt(0.9).as("p90"))
  }

  /** Banded Hamming-candidate pairs over ANY (id, 64-bit hash) table —
    * the generic tail [[simhashCandidates]] (text) and the multimodal
    * perceptual-hash dedup (images) share: split the hash into `bands`
    * equal slices, bucket-join on (band, slice) — by pigeonhole every
    * pair within Hamming `bands − 1` collides in at least one band — and
    * verify with one exact `bit_count(xor)`. Never all-pairs; bucket
    * sizes bounded by true-near-duplicate cluster sizes. Recall is
    * GUARANTEED (pigeonhole) only for `maxHamming < bands`; a larger
    * threshold still filters exactly but may miss pairs whose differing
    * bits spread across every band (the spec pins both regimes). */
  def hashBandCandidates(hashes: DataFrame, idCol: String, hashCol: String,
                         maxHamming: Int, bands: Int): DataFrame = {
    require(64 % bands == 0, s"bands must divide 64, got $bands")
    val width = 64 / bands
    val mask = (1L << width) - 1L
    val slices = F.array((0 until bands).map { b =>
      F.struct(
        F.lit(b).as("band"),
        F.shiftrightunsigned(F.col(hashCol), b * width).bitwiseAND(mask).as("bsig"))
    }: _*)
    val banded = hashes
      .filter(F.col(hashCol).isNotNull)
      .select(F.col(idCol), F.col(hashCol), F.explode(slices).as("bs"))
      .select(F.col(idCol), F.col(hashCol),
        F.col("bs.band").as("band"), F.col("bs.bsig").as("bsig"))
    val a = banded.select(F.col("band"), F.col("bsig"),
      F.col(idCol).as("doc_a"), F.col(hashCol).as("sh_a"))
    val b = banded.select(F.col("band"), F.col("bsig"),
      F.col(idCol).as("doc_b"), F.col(hashCol).as("sh_b"))
    a.join(b, Seq("band", "bsig"))
      .filter(F.col("doc_a") < F.col("doc_b"))
      // a pair can collide in several bands — dedup before the hamming test
      .select("doc_a", "doc_b", "sh_a", "sh_b")
      .distinct()
      .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
      .filter(F.col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }
}
