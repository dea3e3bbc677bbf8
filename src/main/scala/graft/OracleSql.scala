package graft

import graft.functions.TextFunctions

/** DuckDB oracle SQL for every SQL-expressible query in [[SparkEntry]].
  *
  * Each statement mirrors the Spark query's expression tree exactly —
  * including IEEE evaluation order for doubles and DECIMAL casts for sums —
  * so value hashes match bit-for-bit. `CAST(ts AS TIMESTAMP)` truncates the
  * nanosecond event timestamps to micros exactly as Tables.events does.
  * Queries with no entry here (winnowing) get the driver's rows-only check.
  */
object OracleSql {

  private val dec4sum = "CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)"

  /** Oracles whose DuckDB wall is no fair single-node baseline: DuckDB
    * pays a recursive-CTE closure for [[closureBaseline]] and an unindexed
    * Lloyd + within-cell-quadratic + closure chain for q_dedup_semantic.
    * `Bench` also reports its DuckDB ratio without them. */
  val closureBaseline = "q_dedup_components"
  val adversarialBaselines: Set[String] = Set(closureBaseline, "q_dedup_semantic")

  /** The deterministic md5-register HLL oracle, shared verbatim by
    * q_distinct_sketch (batch) and q_stream_distinct_sketch (the
    * streaming-agg-maintained registers): streamed state ≡ batch sketch
    * because HLL registers MAX-merge. */
  private lazy val hllSketchSql: String =
    s"""WITH hsk AS (
       |  SELECT event_type,
       |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 2))::UBIGINT::INTEGER AS hll_b,
       |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 3, 14))::UBIGINT::BIGINT AS tail
       |  FROM events WHERE user_id IS NOT NULL),
       |rk AS (
       |  SELECT event_type, hll_b,
       |    CASE WHEN tail = 0 THEN 57 ELSE 57 - len(bin(tail)) END AS hll_r
       |  FROM hsk),
       |regs AS (SELECT event_type, hll_b, MAX(hll_r) AS hll_m FROM rk GROUP BY 1, 2),
       |sfold AS (
       |  SELECT event_type, COUNT(*) AS n_present,
       |    SUM(CAST((1::BIGINT << (57 - hll_m)) AS DECIMAL(28,0))) AS s_present
       |  FROM regs GROUP BY 1)
       |SELECT event_type, CAST(n_present AS BIGINT) AS n_present,
       |  CAST(256 - n_present AS BIGINT) AS v_zeros,
       |  ${graft.functions.Sketches.hllEstSql(256, "s_present", "n_present")} AS hll_est
       |FROM sfold""".stripMargin

  /** The deterministic bottom-k KMV quantile oracle, shared verbatim by
    * q_percentile_sketch (batch) and q_stream_percentile_sketch (the
    * same sample as a streaming aggregation): streamed state ≡ batch
    * sample because bottom-k is a function of the set, not arrival
    * order. */
  private lazy val kmvSketchSql: String =
    s"""WITH qsr AS (
       |  SELECT event_type, value, md5(CAST(event_id AS VARCHAR)) AS qs_key
       |  FROM events WHERE value IS NOT NULL),
       |qrn AS (
       |  SELECT event_type, value,
       |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY qs_key) AS rn
       |  FROM qsr),
       |qsamp AS (SELECT event_type, value FROM qrn WHERE rn <= 256),
       |qg AS (
       |  SELECT event_type, list_sort(list(value)) AS qs_vals,
       |    COUNT(*) AS n_sample
       |  FROM qsamp GROUP BY event_type)
       |SELECT event_type, CAST(n_sample AS BIGINT) AS n_sample,
       |  qs_vals[${graft.functions.Sketches.quantileIdxSql(0.5, "n_sample")}] AS p50_est,
       |  qs_vals[${graft.functions.Sketches.quantileIdxSql(0.95, "n_sample")}] AS p95_est
       |FROM qg""".stripMargin

  /** PSI drift oracle — fixed decile bins over [0,1] quality scores of
    * the base vs the noise-drifted snapshot; Laplace-smoothed
    * proportions, ln on round-6 shared text (values only), total =
    * DECIMAL-exact sum of the rounded terms. Shared verbatim by
    * q_psi_drift (batch) and q_stream_psi (the drifted histogram as a
    * streaming aggregation): streamed counts ≡ batch counts because a
    * histogram is a function of the set, not arrival order. */
  private lazy val psiDriftSql: String =
    s"""WITH a AS (SELECT round($qualityExpr, 6) AS q FROM documents),
       |bsrc AS (SELECT concat(text, CASE WHEN doc_id % 4 = 0
       |    THEN ' !!! ### 12345 $$$$$$ %%% 999' ELSE '' END) AS text FROM documents),
       |b AS (SELECT round($qualityExpr, 6) AS q FROM bsrc),
       |ba AS (SELECT LEAST(GREATEST(CAST(FLOOR(q * 10) AS BIGINT), 0), 9) AS bucket,
       |  CAST(COUNT(*) AS BIGINT) AS n_a FROM a GROUP BY 1),
       |bb AS (SELECT LEAST(GREATEST(CAST(FLOOR(q * 10) AS BIGINT), 0), 9) AS bucket,
       |  CAST(COUNT(*) AS BIGINT) AS n_b FROM b GROUP BY 1),
       |j AS (SELECT COALESCE(ba.bucket, bb.bucket) AS bucket,
       |  COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b
       |  FROM ba FULL OUTER JOIN bb ON ba.bucket = bb.bucket),
       |t AS (SELECT bucket, n_a, n_b,
       |  (CAST(n_a AS DOUBLE) + 0.5) / (CAST(SUM(n_a) OVER () AS DOUBLE) + 5.0) AS pa_raw,
       |  (CAST(n_b AS DOUBLE) + 0.5) / (CAST(SUM(n_b) OVER () AS DOUBLE) + 5.0) AS pb_raw
       |  FROM j)
       |SELECT bucket, n_a, n_b,
       |  round(pa_raw, 6) AS p_a, round(pb_raw, 6) AS p_b,
       |  round((pa_raw - pb_raw) * ln(pa_raw / pb_raw), 6) AS psi_term,
       |  round(CAST(SUM(CAST(round((pa_raw - pb_raw) * ln(pa_raw / pb_raw), 6)
       |    AS DECIMAL(38,18))) OVER () AS DOUBLE), 6) AS psi_total
       |FROM t""".stripMargin

  /** Incremental semantic dedup oracle (r20): frozen-quantizer cell
    * assignment trained on the dense history window (vec_id < 400 via
    * the sampleCte override), every within-cell pair touching the shard
    * (>= 400 side), exact round-6 cosine gate. Shared verbatim by
    * q_dedup_semantic_incremental (batch probe) and
    * q_stream_dedup_semantic (union of per-batch probe outputs — the
    * index carry-over produces the cross-batch pairs). */
  private lazy val semIncSql: String =
    s"""WITH ${kmeansCtes(cells = 16, sampleN = 512, iters = 2, dim = 64,
             sampleCte = Some(
               "sample AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 400)"))},
       |cpairs AS (
       |  SELECT a.vec_id AS va, b.vec_id AS vb, a.cell
       |  FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  WHERE a.vec_id >= 400 OR b.vec_id >= 400)
       |SELECT p.va AS vec_a, p.vb AS vec_b, CAST(p.cell AS INTEGER) AS cell,
       |  ${cosSql("ea.embedding", "eb.embedding")} AS cosine
       |FROM cpairs p
       |JOIN embeddings ea ON ea.vec_id = p.va
       |JOIN embeddings eb ON eb.vec_id = p.vb
       |WHERE ${cosSql("ea.embedding", "eb.embedding")} >= 0.4""".stripMargin

  /** One theta/KMV set-operation report at sketch size `k` (mirrors
    * Sketches.kmvSetOps over the same A/B snapshot slices): bottom-k
    * distinct md5 sketches, KMV-merged union sketch, rho (union-sample
    * hashes present in both inputs), and the shared estimator arithmetic
    * — only the hex-to-uint64 spelling is DuckDB's. */
  private def kmvOverlapSql(k: Int): String = {
    def est(nCol: String, kthCol: String): String =
      s"""CASE WHEN $nCol < $k THEN CAST($nCol AS DOUBLE)
         |ELSE round((CAST($k AS DOUBLE) - 1.0) * 18446744073709551616.0 /
         |  CAST(('0x' || substr($kthCol, 1, 16))::UBIGINT AS DOUBLE), 6) END""".stripMargin
    s"""SELECT * FROM (WITH ad AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 3 <> 0),
       |bd AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 2 <> 0),
       |sa AS (SELECT h FROM ad ORDER BY h LIMIT $k),
       |sb AS (SELECT h FROM bd ORDER BY h LIMIT $k),
       |mk AS (
       |  SELECT h, MAX(in_a) AS in_a, MAX(in_b) AS in_b FROM (
       |    SELECT h, 1 AS in_a, 0 AS in_b FROM sa
       |    UNION ALL SELECT h, 0, 1 FROM sb) u GROUP BY h),
       |uk AS (SELECT * FROM mk ORDER BY h LIMIT $k),
       |agga AS (SELECT COUNT(*) AS n_a, MAX(h) AS kth_a FROM sa),
       |aggb AS (SELECT COUNT(*) AS n_b, MAX(h) AS kth_b FROM sb),
       |aggu AS (SELECT COUNT(*) AS n_u, MAX(h) AS kth_u,
       |         CAST(SUM(in_a * in_b) AS BIGINT) AS rho FROM uk)
       |SELECT $k AS k, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       |  CAST(n_u AS BIGINT) AS n_u, rho,
       |  ${est("n_a", "kth_a")} AS est_distinct_a,
       |  ${est("n_b", "kth_b")} AS est_distinct_b,
       |  ${est("n_u", "kth_u")} AS est_union,
       |  round(CAST(rho AS DOUBLE) / CAST(n_u AS DOUBLE), 6) AS jaccard_est,
       |  round(CAST(rho AS DOUBLE) / CAST(n_u AS DOUBLE) *
       |        ${est("n_u", "kth_u")}, 6) AS est_intersection
       |FROM aggu, agga, aggb)""".stripMargin
  }

  /** Variable-length exact substring dedup (Lee et al. 2022) — the shared
    * skeleton; only the dup CTE differs: remove-all (every occurrence of
    * a repeated gram) vs keep-first (the corpus-wide (doc_id, pos)-first
    * occurrence survives, the published removal rule). */
  private def substrDedupSql(keepFirst: Boolean): String = {
    val dupCte =
      if (keepFirst)
        """dup AS (
          |  SELECT doc_id, pos FROM (
          |    SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY md5(s)) AS occ,
          |      ROW_NUMBER() OVER (PARTITION BY md5(s) ORDER BY doc_id ASC, pos ASC) AS rk
          |    FROM sh)
          |  WHERE occ >= 2 AND rk > 1)""".stripMargin
      else
        """dup AS (
          |  SELECT doc_id, pos FROM (
          |    SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY md5(s)) AS occ FROM sh)
          |  WHERE occ >= 2)""".stripMargin
    s"""WITH tok AS (
       |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0) AS w
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, u['pos'] AS pos, u['s'] AS s FROM (
       |    SELECT doc_id,
       |      unnest([{'pos': i - 1, 's': list_aggregate(w[i:i+29], 'string_agg', ' ')}
       |              for i in generate_series(1, len(w) - 29)]) AS u
       |    FROM tok WHERE len(w) >= 30)),
       |$dupCte,
       |isl AS (
       |  SELECT doc_id, pos,
       |    CASE WHEN LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
       |           OR pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 30
       |         THEN 1 ELSE 0 END AS brk
       |  FROM dup),
       |isl2 AS (
       |  SELECT doc_id, pos,
       |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
       |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
       |  FROM isl),
       |spans AS (
       |  SELECT doc_id, island, MIN(pos) AS sp, MAX(pos) + 30 AS ep
       |  FROM isl2 GROUP BY 1, 2),
       |stats AS (
       |  SELECT doc_id, COUNT(*) AS n_spans, SUM(ep - sp) AS n_rem
       |  FROM spans GROUP BY 1),
       |rem AS (
       |  SELECT doc_id, unnest(generate_series(sp, ep - 1)) AS idx FROM spans),
       |toki AS (
       |  SELECT doc_id, u['idx'] AS idx, u['t'] AS t FROM (
       |    SELECT doc_id, unnest([{'idx': i - 1, 't': w[i]} for i in generate_series(1, len(w))]) AS u
       |    FROM tok)),
       |kept AS (
       |  SELECT toki.doc_id, idx, t FROM toki
       |  WHERE NOT EXISTS (SELECT 1 FROM rem
       |                    WHERE rem.doc_id = toki.doc_id AND rem.idx = toki.idx)),
       |agg AS (
       |  SELECT doc_id, string_agg(t, ' ' ORDER BY idx) AS clean_text
       |  FROM kept GROUP BY 1)
       |SELECT tok.doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
       |  CAST(COALESCE(n_spans, 0) AS BIGINT) AS n_spans,
       |  CAST(COALESCE(n_rem, 0) AS BIGINT) AS n_removed,
       |  COALESCE(clean_text, '') AS clean_text
       |FROM tok LEFT JOIN stats USING (doc_id) LEFT JOIN agg USING (doc_id)""".stripMargin
  }

  /** The latest-wins upsert oracle, shared verbatim by q_upsert (batch)
    * and q_stream_upsert (micro-batched CDC log, served merge-on-read):
    * the streamed log ∪ base must equal the batch merge. */
  private lazy val upsertSql: String =
    """WITH base AS (
      |  SELECT doc_id, text, source, 0 AS version, 0 AS side FROM documents),
      |upd AS (
      |  SELECT doc_id, text || ' v2' AS text, source, 1 AS version, 1 AS side
      |  FROM documents WHERE doc_id % 2 = 1
      |  UNION ALL
      |  SELECT doc_id + 1000000000, text, source, 1 AS version, 1 AS side
      |  FROM documents WHERE doc_id % 5 = 0),
      |u AS (SELECT * FROM base UNION ALL SELECT * FROM upd),
      |r AS (SELECT *, ROW_NUMBER() OVER (
      |  PARTITION BY doc_id ORDER BY version DESC, side DESC) AS rn FROM u)
      |SELECT doc_id, version, CAST(length(text) AS BIGINT) AS n_len, source
      |FROM r WHERE rn = 1""".stripMargin

  /** The priority-sample oracle, shared verbatim by q_sample_priority
    * (batch) and q_stream_sample_priority (the top-(k+1) candidate set
    * as a streaming aggregation): streamed sample ≡ batch sample because
    * top-m under a total order is merge-closed. */
  private lazy val prioritySampleSql: String =
    """WITH p AS (
      |  SELECT doc_id, CAST(n_chars AS DOUBLE) AS weight,
      |    CAST(n_chars AS DOUBLE) /
      |      (CAST(('0x' || substr(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 14))::UBIGINT::BIGINT + 1 AS DOUBLE)
      |        / 72057594037927936.0) AS priority
      |  FROM documents),
      |r AS (SELECT doc_id, weight, priority,
      |    ROW_NUMBER() OVER (ORDER BY priority DESC, doc_id ASC) AS rn FROM p),
      |tau AS (SELECT MAX(CASE WHEN rn = 101 THEN priority END) AS t FROM r)
      |SELECT doc_id, weight, priority,
      |  greatest(weight, COALESCE(t, 0.0)) AS weight_est
      |FROM r, tau WHERE rn <= 100""".stripMargin

  /** The IVF top-k oracle, shared verbatim by q_ann_ivf (in-memory) and
    * q_ann_ivf_indexed (persisted cell-partitioned index): the two Spark
    * paths share one scoring tail and must serve identical answers. */
  private lazy val annIvfSql: String =
    s"""WITH ${kmeansCtes(cells = 16, sampleN = 512, iters = 2, dim = 64)},
       |qprobes AS (
       |  SELECT vec_id AS query_id, cid AS cell FROM (
       |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sc DESC, cid ASC) AS rn
       |    FROM scores WHERE vec_id < 20) WHERE rn <= 6),
       |cand AS (
       |  SELECT q.query_id, cl.vec_id AS neighbor_id
       |  FROM qprobes q JOIN cells cl ON cl.cell = q.cell
       |  WHERE cl.vec_id <> q.query_id),
       |p AS (
       |  SELECT cand.query_id, cand.neighbor_id, ${cosSql("qv.embedding", "cv.embedding")} AS cosine
       |  FROM cand
       |  JOIN embeddings qv ON qv.vec_id = cand.query_id
       |  JOIN embeddings cv ON cv.vec_id = cand.neighbor_id),
       |r AS (
       |  SELECT query_id, neighbor_id, cosine,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk FROM p)
       |SELECT query_id, CAST(rk AS BIGINT) AS rnk, neighbor_id, cosine FROM r WHERE rk <= 5""".stripMargin

  /** The REQUANTIZED-index oracle: a from-scratch build over the union of
    * the original embeddings and a deterministically SHIFTED appended
    * batch (every 4th vector negated, ids offset by 1e6 — a hard
    * distribution shift), trained on [[graft.ann.Ann.ivfReindex]]'s
    * md5-uniform re-sample (ROW_NUMBER over md5(id) re-indexed 0..511)
    * instead of the dense-id head (which would never see the shifted
    * data a retrain exists to adapt to), same serve tail as annIvfSql
    * with neighbors drawn from the union. */
  private lazy val annIvfRequantSql: String = {
    val sampleCte =
      """sample AS (
        |  SELECT sid AS vec_id, embedding FROM (
        |    SELECT embedding,
        |      ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS sid
        |    FROM u0) WHERE sid < 512)""".stripMargin
    s"""WITH u0 AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 1000000 AS vec_id,
       |    list_transform(embedding, x -> -x) AS embedding
       |  FROM embeddings WHERE vec_id % 4 = 0),
       |${kmeansCtes(cells = 16, sampleN = 512, iters = 2, dim = 64,
                     corpusSrc = "u0", sampleCte = Some(sampleCte))},
       |qprobes AS (
       |  SELECT vec_id AS query_id, cid AS cell FROM (
       |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sc DESC, cid ASC) AS rn
       |    FROM scores WHERE vec_id < 20) WHERE rn <= 6),
       |cand AS (
       |  SELECT q.query_id, cl.vec_id AS neighbor_id
       |  FROM qprobes q JOIN cells cl ON cl.cell = q.cell
       |  WHERE cl.vec_id <> q.query_id),
       |p AS (
       |  SELECT cand.query_id, cand.neighbor_id, ${cosSql("qv.embedding", "cv.embedding")} AS cosine
       |  FROM cand
       |  JOIN u0 qv ON qv.vec_id = cand.query_id
       |  JOIN u0 cv ON cv.vec_id = cand.neighbor_id),
       |r AS (
       |  SELECT query_id, neighbor_id, cosine,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk FROM p)
       |SELECT query_id, CAST(rk AS BIGINT) AS rnk, neighbor_id, cosine FROM r WHERE rk <= 5""".stripMargin
  }

  /** Unrolled full-batch logistic-GD CTE chain (mirrors
    * Classifier.trainScore step for step): hashed presence features with
    * the target-slice label, `iters` iterations of
    * forward → residual → per-bucket gradient → weight/bias update, all
    * distributed sums DECIMAL(38,18)-exact, then the final scoring pass.
    * The GD twin of [[kmeansCtes]]. No leading WITH. */
  private def clfCtes(buckets: Int, iters: Int, lr: Double): String = {
    val steps = (1 to iters).map { t =>
      val (pw, pb) = (s"w${t - 1}", s"b${t - 1}")
      val nCte = if (t == 1) ",\nn AS (SELECT COUNT(*) AS n FROM z1)" else ""
      s"""z$t AS (
         |  SELECT f.doc_id, f.y,
         |    1.0/(1.0 + exp(-(CAST(SUM(CAST(w.w AS DECIMAL(38,18))) AS DOUBLE) + b.bv))) - f.y AS r
         |  FROM feats f JOIN $pw w USING (bkt) CROSS JOIN $pb b
         |  GROUP BY f.doc_id, f.y, b.bv)$nCte,
         |g$t AS (
         |  SELECT f.bkt, CAST(SUM(CAST(z.r AS DECIMAL(38,18))) AS DOUBLE) AS g
         |  FROM feats f JOIN z$t z USING (doc_id) GROUP BY 1),
         |w$t AS (
         |  SELECT w.bkt, w.w - $lr * (COALESCE(g.g, 0.0) / CAST(n.n AS DOUBLE)) AS w
         |  FROM $pw w LEFT JOIN g$t g USING (bkt) CROSS JOIN n),
         |b$t AS (
         |  SELECT b.bv - $lr * (COALESCE(bg.bg, 0.0) / CAST(n.n AS DOUBLE)) AS bv
         |  FROM $pb b CROSS JOIN n CROSS JOIN
         |    (SELECT CAST(SUM(CAST(r AS DECIMAL(38,18))) AS DOUBLE) AS bg FROM z$t) bg)""".stripMargin
    }.mkString(",\n")
    s"""tok AS (
       |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0) AS w
       |  FROM documents),
       |feats AS (
       |  SELECT DISTINCT doc_id,
       |    CASE WHEN doc_id % 50 = 0 THEN 1.0 ELSE 0.0 END AS y,
       |    CAST(('0x' || substr(md5(t), 1, 8))::UBIGINT % $buckets AS BIGINT) AS bkt
       |  FROM (SELECT doc_id, unnest(w) AS t FROM tok WHERE len(w) >= 1)),
       |w0 AS (SELECT CAST(gs.g AS BIGINT) AS bkt, 0.0 AS w FROM generate_series(0, ${buckets - 1}) gs(g)),
       |b0 AS (SELECT 0.0 AS bv),
       |$steps""".stripMargin
  }

  /** DSIR CTE chain through the per-doc weights (`dw`), shared by
    * q_dsir_weights and q_dsir_select — Dsir.importanceWeights mirrored:
    * unigram+bigram md5-hex buckets, add-1-smoothed target/raw
    * distributions, decimal-exact per-doc term sums. */
  private val dsirCtes: String =
    """WITH tok AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS w
      |  FROM documents),
      |grams AS (
      |  SELECT doc_id, unnest(w) AS g FROM tok WHERE len(w) >= 1
      |  UNION ALL
      |  SELECT doc_id,
      |    unnest([list_aggregate(w[i:i+1], 'string_agg', ' ') for i in generate_series(1, len(w)-1)]) AS g
      |  FROM tok WHERE len(w) >= 2),
      |gb AS (
      |  SELECT doc_id, ('0x' || substr(md5(g), 1, 8))::UBIGINT % 8192 AS bkt
      |  FROM grams),
      |rawp AS (SELECT bkt, COUNT(*) AS rc FROM gb GROUP BY 1),
      |tgtp AS (SELECT bkt, COUNT(*) AS tc FROM gb WHERE doc_id % 50 = 0 GROUP BY 1),
      |tt AS (SELECT COUNT(*) AS n FROM gb WHERE doc_id % 50 = 0),
      |tr AS (SELECT COUNT(*) AS n FROM gb),
      |ratio AS (
      |  SELECT r.bkt,
      |    ln((COALESCE(t.tc, 0) + 1.0) / (tt.n + 8192.0)) -
      |    ln((r.rc + 1.0) / (tr.n + 8192.0)) AS lr
      |  FROM rawp r LEFT JOIN tgtp t USING (bkt) CROSS JOIN tt CROSS JOIN tr),
      |dw AS (
      |  SELECT gb.doc_id, COUNT(*) AS n_grams,
      |    ROUND(CAST(SUM(CAST(ratio.lr AS DECIMAL(38,18))) AS DOUBLE), 6) AS dsir_logw
      |  FROM gb JOIN ratio USING (bkt)
      |  GROUP BY 1)""".stripMargin

  /** Word-shingle + per-band minhash CTE prefix shared by the dedup oracles
    * (mirrors Dedup.shingles / Dedup.minhashSignatures /
    * functions.expressions.MinhashSigsExpr): ONE md5 per shingle split into
    * big-endian 64-bit halves, band hash = Kirsch–Mitzenmacher
    * lo + b*hi (mod 2^64) as fixed-width lowercase hex, signature = MIN. */
  private val minhashCtes =
    """WITH tok AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS w
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |    unnest([list_aggregate(w[i:i+2], 'string_agg', ' ') for i in generate_series(1, len(w)-2)]) AS shingle
      |  FROM tok WHERE len(w) >= 3),
      |hl AS (
      |  SELECT doc_id,
      |    ('0x' || substr(md5(shingle), 1, 16))::UBIGINT::HUGEINT AS hi,
      |    ('0x' || substr(md5(shingle), 17, 16))::UBIGINT::HUGEINT AS lo
      |  FROM sh),
      |mh AS (
      |  SELECT doc_id, b,
      |    MIN(lower(lpad(to_hex(((lo + b * hi) % 18446744073709551616::HUGEINT)::UBIGINT), 16, '0'))) AS sig
      |  FROM hl, (SELECT unnest(generate_series(0, 7)) AS b) bands
      |  GROUP BY doc_id, b),
      |pairs AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
      |  FROM mh a JOIN mh b2 ON a.b = b2.b AND a.sig = b2.sig AND a.doc_id < b2.doc_id)
      |""".stripMargin

  /** Verified-edge transitive closure on top of [[minhashCtes]]: exact
    * jaccard over the candidate pairs, threshold 0.5, symmetrized edges,
    * recursive min-label reachability — `reach(id, lbl)` holds every
    * clustered doc with all reachable labels (MIN per id = cluster id).
    * Callers prepend `minhashCtes` with WITH RECURSIVE and append their
    * SELECT. Shared by q_dedup_components[_dist] and q_dedup_keep_near. */
  private val componentsClosureCtes =
    """, cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT p.doc_a, p.doc_b, COUNT(*) AS i
      |  FROM pairs p
      |  JOIN sh s1 ON s1.doc_id = p.doc_a
      |  JOIN sh s2 ON s2.doc_id = p.doc_b AND s2.shingle = s1.shingle
      |  GROUP BY 1, 2),
      |jac AS (
      |  SELECT i2.doc_a, i2.doc_b
      |  FROM inter i2 JOIN cnt ca ON ca.doc_id = i2.doc_a JOIN cnt cb ON cb.doc_id = i2.doc_b
      |  WHERE CAST(i2.i AS DOUBLE) / CAST(ca.n + cb.n - i2.i AS DOUBLE) >= 0.5),
      |sym AS (SELECT doc_a AS src, doc_b AS dst FROM jac
      |        UNION ALL SELECT doc_b, doc_a FROM jac),
      |reach(id, lbl) AS (
      |  SELECT DISTINCT src, src FROM sym
      |  UNION
      |  SELECT s.src, r.lbl FROM sym s JOIN reach r ON r.id = s.dst)
      |""".stripMargin

  /** Deterministic Lloyd k-means CTE chain (mirrors Ann.trainCentroids +
    * the broadcast-centroid assignment scan): seeds from the first `cells`
    * sample vectors, `iters` assign/mean rounds over the `sampleN`-vector
    * sample, then `scores` (every corpus vector vs every final centroid)
    * and `cells` (per-vector nearest-centroid assignment, ties to the
    * lowest cid). Shared by q_ann_ivf and q_cluster_kmeans. No leading
    * WITH. */
  private def kmeansCtes(cells: Int, sampleN: Int, iters: Int, dim: Int,
                         corpusSrc: String = "embeddings",
                         sampleCte: Option[String] = None,
                         prefix: String = ""): String = {
    // `prefix` namespaces every internal CTE so two independent Lloyd
    // trainings can live in ONE query (the D4 pipeline: stage-2 retrains
    // on stage-1's survivors). A caller-supplied sampleCte must define
    // `${prefix}sample`.
    val P = prefix
    val steps = (1 to iters).flatMap { it =>
      val prev = if (it == 1) s"${P}cent0" else s"${P}cent${it - 1}"
      Seq(
        s"${P}cn$it AS (SELECT cid, ce, list_sum(list_transform(ce, x -> x * x)) AS c2 FROM $prev)",
        s"""${P}sc$it AS (
           |  SELECT s.vec_id, c.cid,
           |    list_sum(list_transform(list_zip(s.embedding, c.ce), p -> CAST(p[1] AS DOUBLE) * p[2])) * 2 - c.c2 AS sc
           |  FROM ${P}sample s, ${P}cn$it c)""".stripMargin,
        s"""${P}a$it AS (
           |  SELECT vec_id, cid AS cell FROM (
           |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sc DESC, cid ASC) AS rn
           |    FROM ${P}sc$it) WHERE rn = 1)""".stripMargin,
        s"""${P}m$it AS (
           |  SELECT a.cell, d.d,
           |    list_sum(list(CAST(s.embedding[d.d] AS DOUBLE) ORDER BY s.vec_id)) / COUNT(*) AS mu
           |  FROM ${P}a$it a JOIN ${P}sample s USING (vec_id),
           |       (SELECT unnest(generate_series(1, $dim)) AS d) d
           |  GROUP BY a.cell, d.d)""".stripMargin,
        s"""${P}cent$it AS (
           |  SELECT c0.cid, COALESCE(m.ce, c0.ce) AS ce FROM $prev c0
           |  LEFT JOIN (SELECT cell AS cid, list(mu ORDER BY d) AS ce FROM ${P}m$it GROUP BY cell) m USING (cid))""".stripMargin)
    }
    val dotVC = "list_sum(list_transform(list_zip(e.embedding, c.ce), s -> CAST(s[1] AS DOUBLE) * s[2]))"
    (Seq(
      sampleCte.getOrElse(
        s"${P}sample AS (SELECT vec_id, embedding FROM $corpusSrc WHERE vec_id < $sampleN)"),
      s"""${P}cent0 AS (
         |  SELECT vec_id AS cid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ce
         |  FROM ${P}sample WHERE vec_id < $cells)""".stripMargin) ++ steps ++ Seq(
      s"${P}centn AS (SELECT cid, ce, list_sum(list_transform(ce, x -> x * x)) AS c2 FROM ${P}cent$iters)",
      s"""${P}scores AS (
         |  SELECT e.vec_id, c.cid, $dotVC * 2 - c.c2 AS sc
         |  FROM $corpusSrc e, ${P}centn c)""".stripMargin,
      s"""${P}cells AS (
         |  SELECT vec_id, cid AS cell FROM (
         |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sc DESC, cid ASC) AS rn
         |    FROM ${P}scores) WHERE rn = 1)""".stripMargin)).mkString(",\n")
  }

  /** Per-language stopword-hit expression (mirrors TextFunctions.stopwordHits,
    * including the bare — non-`\b` — pattern for CJK inventories). */
  private def hitsExpr(words: Seq[String]): String =
    s"len(regexp_extract_all(lower(text), '${TextFunctions.hitsPattern(words)}'))"

  /** Language-ID CASE (mirrors TextFunctions.langId: first language in
    * inventory order whose hit count is positive and maximal), as a CTE
    * chain over a relation exposing (doc_id, …, text)-derived hit counts. */
  private def langCtes(src: String, carry: Seq[String]): String = {
    val langs = TextFunctions.stopwords
    val hitCols = langs.map { case (l, ws) => s"${hitsExpr(ws)} AS h_$l" }.mkString(",\n    ")
    val best = s"greatest(${langs.map(l => s"h_${l._1}").mkString(", ")})"
    val cases = langs.map { case (l, _) =>
      s"WHEN h_$l > 0 AND h_$l = best THEN '$l'"
    }.mkString(" ")
    val carryCols = if (carry.isEmpty) "" else carry.mkString(", ", ", ", "")
    s"""h AS (SELECT doc_id$carryCols,
       |    $hitCols
       |  FROM $src),
       |b AS (SELECT doc_id$carryCols, h_${langs.map(_._1).mkString(", h_")}, $best AS best FROM h),
       |langed AS (SELECT doc_id$carryCols, CASE $cases ELSE 'und' END AS pred_lang FROM b)""".stripMargin
  }

  private val langIdSql: String =
    s"WITH ${langCtes("documents", Nil)}\nSELECT doc_id, pred_lang FROM langed"

  /** CCNet perplexity buckets — shared by q_ccnet_buckets (windowed
    * fast-path ranks) and q_ccnet_buckets_dist (the forced GlobalIndex
    * branch): per-language NTILE on the 6-dp lm_score (DECIMAL-exact
    * per-doc log-prob sums), doc_id tie-break, EXPLICIT ntile integer
    * arithmetic on (rank, group size) — the same ops as both Spark
    * branches instead of trusting window implementations to tie-break
    * alike. */
  private lazy val ccnetBucketsSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0) AS w
       |  FROM documents),
       |tf AS (
       |  SELECT doc_id, t AS tok, COUNT(*) AS tf
       |  FROM (SELECT doc_id, unnest(w) AS t FROM tok) GROUP BY 1, 2),
       |tot AS (SELECT CAST(SUM(tf) AS DOUBLE) AS total FROM tf),
       |cnt AS (SELECT tok, CAST(SUM(tf) AS DOUBLE) AS cnt FROM tf GROUP BY 1),
       |lm AS (
       |  SELECT tf.doc_id,
       |    ROUND(CAST(SUM(CAST(CAST(tf.tf AS DOUBLE) * ln(cnt.cnt / tot.total)
       |                        AS DECIMAL(38,18))) AS DOUBLE)
       |          / CAST(SUM(tf.tf) AS DOUBLE), 6) AS lm_score
       |  FROM tf JOIN cnt USING (tok) CROSS JOIN tot
       |  GROUP BY 1),
       |${langCtes("documents", Seq())},
       |j AS (
       |  SELECT lm.doc_id, langed.pred_lang, lm.lm_score
       |  FROM lm JOIN langed USING (doc_id)),
       |g AS (
       |  SELECT doc_id, pred_lang, lm_score,
       |    ROW_NUMBER() OVER (PARTITION BY pred_lang
       |                       ORDER BY lm_score DESC, doc_id) - 1 AS rnk,
       |    COUNT(*) OVER (PARTITION BY pred_lang) AS gn
       |  FROM j),
       |ix AS (
       |  SELECT doc_id, pred_lang, lm_score,
       |    CASE WHEN rnk < (gn % 3) * (gn // 3 + 1)
       |         THEN rnk // (gn // 3 + 1)
       |         ELSE (gn % 3) + (rnk - (gn % 3) * (gn // 3 + 1)) // greatest(gn // 3, 1)
       |    END AS idx
       |  FROM g)
       |SELECT doc_id, pred_lang, lm_score,
       |  CASE WHEN idx = 0 THEN 'head' WHEN idx = 1 THEN 'middle'
       |       ELSE 'tail' END AS ppl_bucket
       |FROM ix""".stripMargin

  /** One hyperplane-LSH sign bit (mirrors VectorFunctions.lshSignature /
    * planeWeight: first md5 nibble of "plane_dim" → weight in [-15/16, 15/16]). */
  private def lshBitSql(p: Int): String = {
    def nib(expr: String) = s"ascii(substr(md5('${p}_' || CAST($expr AS VARCHAR)), 1, 1))"
    val d = "s[2]"
    val nibVal = s"CASE WHEN ${nib(d)} >= 97 THEN ${nib(d)} - 87 ELSE ${nib(d)} - 48 END"
    s"CASE WHEN list_sum(list_transform(list_zip(embedding, generate_series(0, len(embedding)-1)), " +
      s"s -> CAST(s[1] AS DOUBLE) * ((CAST($nibVal AS DOUBLE) - 7.5) / 8.0))) >= 0 THEN '1' ELSE '0' END"
  }

  /** One multi-table LSH signature (bits with plane offset). */
  private def lshSigSql(bits: Int, offset: Int): String =
    "concat(" + (0 until bits).map(b => lshBitSql(offset + b)).mkString(",\n      ") + ")"

  private val lshBucketSql: String = {
    val bits = (0 until 8).map(lshBitSql).mkString(",\n    ")
    s"""SELECT bucket, COUNT(*) AS n FROM (
       |  SELECT concat(
       |    $bits) AS bucket
       |  FROM embeddings) GROUP BY bucket""".stripMargin
  }

  /** Portable double-precision cosine between two FLOAT lists (left fold,
    * mirrors Ann's `dotF(a, b) / (‖a‖ · ‖b‖)`). */
  private def cosSql(a: String, b: String): String = {
    def dot(x: String, y: String) =
      s"list_sum(list_transform(list_zip($x, $y), s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))"
    s"round(${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)})), 6)"
  }

  private def cnt(re: String) = s"CAST(len(regexp_extract_all(text, '$re')) AS DOUBLE)"
  private val lenD = "CAST(length(text) AS DOUBLE)"
  private val alphaExpr = s"${cnt("[A-Za-z]")} / greatest($lenD, 1.0)"
  private val digitExpr = s"${cnt("[0-9]")} / greatest($lenD, 1.0)"
  private val punctExpr = s"${cnt("[^A-Za-z0-9 \\t\\n\\f\\r]")} / greatest($lenD, 1.0)"

  /** Composite quality score (mirrors TextFunctions.qualityScore). */
  private val qualityExpr: String = {
    val nTokD = s"CAST(len(regexp_extract_all(text, '[^ \\t\\n\\f\\r]+')) AS DOUBLE)"
    val stopRatio = s"CAST(${hitsExpr(TextFunctions.stopwords.head._2)} AS DOUBLE) / greatest($nTokD, 1.0)"
    val lenScore = s"least($lenD / 500.0, 1.0)"
    val stop = s"least($stopRatio * 4.0, 1.0)"
    s"greatest(least($lenScore * 0.3 + ($alphaExpr) * 0.4 + $stop * 0.3 - (($digitExpr) + ($punctExpr)) * 0.5, 1.0), 0.0)"
  }

  private val qualityCtes: String =
    s"""SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '[^ \\t\\n\\f\\r]+')) AS BIGINT) AS n_tok,
       |  $alphaExpr AS alpha_ratio,
       |  $digitExpr AS digit_ratio,
       |  $punctExpr AS punct_ratio,
       |  $qualityExpr AS quality
       |FROM documents""".stripMargin

  val all: Map[String, String] = Map(
    "q_map" ->
      "SELECT l_orderkey, l_linenumber, l_extendedprice * (1.0 - l_discount) AS revenue FROM lineitem",

    "q_filter" ->
      "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_quantity > 45",

    "q_filter_map" ->
      """SELECT event_id, user_id, CAST(FLOOR(value * 100) AS BIGINT) AS value_cents
        |FROM events WHERE event_type = 'purchase'""".stripMargin,

    "q_flatten" ->
      "SELECT p_partkey, unnest(string_split(p_name, ' ')) AS word FROM part",

    "q_inspect" ->
      "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders",

    "q_cloned" ->
      s"SELECT event_type, COUNT(*) AS n, $dec4sum AS sum_value FROM events GROUP BY event_type",

    "q_split" ->
      """SELECT o_orderkey, CASE WHEN o_orderstatus = 'F' THEN 'finished' ELSE 'open' END AS branch
        |FROM orders""".stripMargin,

    "q_union" ->
      """SELECT c_name AS name, 'customer' AS kind FROM customer
        |UNION ALL
        |SELECT s_name AS name, 'supplier' AS kind FROM supplier""".stripMargin,

    "q_key_local" ->
      "SELECT user_id, COUNT(*) AS n_events, MAX(value) AS max_value FROM events GROUP BY user_id",

    "q_key_distribute" ->
      s"SELECT user_id, COUNT(*) AS n_events, $dec4sum AS total FROM events GROUP BY user_id",

    "q_stateful_map" ->
      """SELECT event_id, user_id,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER (
        |    PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
        |FROM events""".stripMargin,

    "q_stateful_op" ->
      """SELECT user_id, event_id,
        |  ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS running_n
        |FROM events""".stripMargin,

    "q_stateless_op" ->
      """SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm_text,
        |  CAST(len(regexp_extract_all(text, '[^ \t\n\f\r]+')) AS BIGINT) AS n_tok
        |FROM documents""".stripMargin,

    "q_ttl_map" ->
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS uts FROM events),
        |m AS (SELECT user_id, event_id, uts,
        |  CASE WHEN lag(uts) OVER (PARTITION BY user_id ORDER BY uts, event_id) IS NULL
        |         OR uts > lag(uts) OVER (PARTITION BY user_id ORDER BY uts, event_id) + INTERVAL 30 MINUTE
        |       THEN 1 ELSE 0 END AS new_s FROM e),
        |s2 AS (SELECT user_id, uts,
        |  CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY uts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - 1 AS session_id FROM m)
        |SELECT user_id, session_id, COUNT(*) AS n_events,
        |  epoch_us(MIN(uts)) AS session_start_us, epoch_us(MAX(uts)) AS session_end_us
        |FROM s2 GROUP BY user_id, session_id""".stripMargin,

    "q_assign_timestamps" ->
      """SELECT event_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS event_date,
        |  CAST(hour(CAST(ts AS TIMESTAMP)) AS INTEGER) AS event_hour,
        |  epoch_us(CAST(ts AS TIMESTAMP)) AS event_us
        |FROM events""".stripMargin,

    "q_epochs_window" ->
      s"""SELECT event_type,
         |  strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS window_start,
         |  COUNT(*) AS n, $dec4sum AS sum_value
         |FROM events GROUP BY 1, 2""".stripMargin,

    // The streaming tws job's per-key MAX running count == total count.
    "q_stream_stateful" ->
      "SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id",

    // Streaming dedup's order-independent survivor invariant: exactly one
    // output row per distinct content hash (n_out counts sink rows per
    // hash — >1 would mean a duplicate slipped through the state).
    "q_stream_dedup" ->
      """SELECT sha256(text) AS content_hash, CAST(1 AS BIGINT) AS n_out
        |FROM documents GROUP BY 1""".stripMargin,

    // Same invariant for the NEAR-dup stream: one row per distinct FULL
    // minhash band vector (the state key of dedupMinhashStream), the
    // vector being the concat of the 8 per-doc KM band signatures the
    // minhash CTE computes. Docs with <3 tokens have no vector and dedup
    // EXACTLY on 'short:' + sha256(text) — the operator's fallback key.
    "q_stream_dedup_minhash" ->
      (minhashCtes +
        """, sel AS (
          |  SELECT DISTINCT string_agg(sig, '|' ORDER BY b) AS band_vector
          |  FROM mh GROUP BY doc_id),
          |shorts AS (
          |  SELECT DISTINCT 'short:' || sha256(text) AS band_vector
          |  FROM tok JOIN documents USING (doc_id)
          |  WHERE len(w) < 3 AND text IS NOT NULL)
          |SELECT band_vector, CAST(1 AS BIGINT) AS n_out FROM sel
          |UNION ALL
          |SELECT band_vector, CAST(1 AS BIGINT) AS n_out FROM shorts""".stripMargin),

    // Stream-static enrichment: the streaming job's complete-mode output
    // must equal the plain batch join + aggregate.
    // Streaming CM heavy hitters: the streamed register state drives a
    // batch-exact recount, so the oracle is the same plain HAVING as
    // q_heavy_hitters (sketch state is internal, its consumer exact).
    "q_stream_heavy_hitters" ->
      """WITH ks AS (
        |  SELECT 'k' || (CASE WHEN event_id % 2 = 0
        |      THEN CAST(user_id % 10 AS VARCHAR)
        |      ELSE 'c' || CAST(event_id % 2000 AS VARCHAR) END) AS key
        |  FROM events),
        |ks2 AS (SELECT key FROM ks WHERE key IS NOT NULL),
        |tot AS (SELECT COUNT(*) AS n FROM ks2)
        |SELECT key, COUNT(*) AS cnt
        |FROM ks2, tot
        |GROUP BY key, n
        |HAVING COUNT(*) >= CAST(ceil(0.01 * n) AS BIGINT)""".stripMargin,

    "q_stream_enrich" ->
      s"""SELECT c.c_mktsegment, e.event_type, COUNT(*) AS n,
         |  $dec4sum AS sum_value
         |FROM events e JOIN customer c ON e.user_id = c.c_custkey
         |GROUP BY 1, 2""".stripMargin,

    "q_stream_epochs" ->
      s"""SELECT event_type,
         |  strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS window_start,
         |  COUNT(*) AS n, $dec4sum AS sum_value
         |FROM events GROUP BY 1, 2""".stripMargin,

    // sliding 1h/30m: every event belongs to exactly 2 epoch-aligned windows
    "q_sliding_window" ->
      s"""WITH e AS (SELECT event_type, value, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
         |w AS (SELECT event_type, value,
         |  unnest([us - us % 1800000000, us - us % 1800000000 - 1800000000]) AS ws FROM e)
         |SELECT event_type,
         |  strftime(TIMESTAMP '1970-01-01 00:00:00' + to_microseconds(ws), '%Y-%m-%d %H:%M:%S') AS window_start,
         |  COUNT(*) AS n, $dec4sum AS sum_value
         |FROM w GROUP BY 1, 2""".stripMargin,

    // session_window gap semantics: a new session starts when
    // ts >= previous ts + gap (window end is exclusive)
    "q_session_window" ->
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS uts FROM events),
        |m AS (SELECT user_id, event_id, uts,
        |  CASE WHEN lag(uts) OVER (PARTITION BY user_id ORDER BY uts, event_id) IS NULL
        |         OR uts >= lag(uts) OVER (PARTITION BY user_id ORDER BY uts, event_id) + INTERVAL 30 MINUTE
        |       THEN 1 ELSE 0 END AS new_s FROM e),
        |s2 AS (SELECT user_id, uts,
        |  CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY uts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid FROM m)
        |SELECT user_id, epoch_us(MIN(uts)) AS session_start_us,
        |  COUNT(*) AS n_events, epoch_us(MIN(uts)) AS first_us
        |FROM s2 GROUP BY user_id, sid""".stripMargin,

    "q_frontier" ->
      "SELECT user_id, epoch_us(MAX(CAST(ts AS TIMESTAMP))) AS frontier_us FROM events GROUP BY user_id",

    "q_late_data" ->
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS uts FROM events),
        |f AS (SELECT event_id, user_id, uts, MAX(uts) OVER (PARTITION BY user_id) AS fr FROM e)
        |SELECT event_id, user_id, epoch_us(uts) AS ts_us FROM f WHERE uts < fr - INTERVAL 6 HOUR""".stripMargin,

    "q_anti_join" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)""".stripMargin,

    "q_outer_join" ->
      """WITH pc AS (SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY 1)
        |SELECT COALESCE(c_custkey, o_custkey) AS custkey, c_mktsegment,
        |  COALESCE(n_orders, 0) AS n_orders
        |FROM customer FULL OUTER JOIN pc ON c_custkey = o_custkey""".stripMargin,

    // DuckDB's native ASOF JOIN — an independent implementation of the
    // nearest-earlier-match semantics (inclusive on equal timestamps),
    // against graft's union + running-window formulation. (user_id, ts)
    // is duplicate-free in the generated events, so the match is unique.
    "q_asof_join" ->
      """WITH p AS (SELECT event_id AS purchase_id, user_id, CAST(ts AS TIMESTAMP) AS pts
        |           FROM events WHERE event_type = 'purchase'),
        |     c AS (SELECT event_id AS click_id, user_id, CAST(ts AS TIMESTAMP) AS cts, value
        |           FROM events WHERE event_type = 'click')
        |SELECT p.purchase_id, p.user_id, epoch_us(p.pts) AS p_ts_us,
        |       c.click_id, epoch_us(c.cts) AS c_ts_us, c.value AS click_value
        |FROM p ASOF JOIN c ON p.user_id = c.user_id AND p.pts >= c.cts""".stripMargin,

    // Same oracle as q_asof_join: the skew-hardened operator must be
    // output-identical to the plain one (bucket-local window + carry is an
    // exact decomposition of the running last).
    "q_asof_join_skewed" ->
      """WITH p AS (SELECT event_id AS purchase_id, user_id, CAST(ts AS TIMESTAMP) AS pts
        |           FROM events WHERE event_type = 'purchase'),
        |     c AS (SELECT event_id AS click_id, user_id, CAST(ts AS TIMESTAMP) AS cts, value
        |           FROM events WHERE event_type = 'click')
        |SELECT p.purchase_id, p.user_id, epoch_us(p.pts) AS p_ts_us,
        |       c.click_id, epoch_us(c.cts) AS c_ts_us, c.value AS click_value
        |FROM p ASOF JOIN c ON p.user_id = c.user_id AND p.pts >= c.cts""".stripMargin,

    // Plain inequality join (fine at oracle scale; graft's operator is the
    // bucketed equi-join + residual form of the same predicate).
    "q_range_join" ->
      """WITH e AS (SELECT user_id, event_id AS err_id, CAST(ts AS TIMESTAMP) AS t0,
        |             CAST(ts AS TIMESTAMP) + INTERVAL 1 HOUR AS t1
        |           FROM events WHERE event_type = 'error'),
        |     c AS (SELECT event_id AS click_id, user_id, CAST(ts AS TIMESTAMP) AS cts
        |           FROM events WHERE event_type = 'click')
        |SELECT e.err_id, e.user_id, c.click_id,
        |       epoch_us(e.t0) AS err_ts_us, epoch_us(c.cts) AS click_ts_us
        |FROM e JOIN c ON e.user_id = c.user_id AND c.cts >= e.t0 AND c.cts < e.t1""".stripMargin,

    // The streaming interval join's append output is the complete match
    // set (inner joins emit eagerly), so the batch inequality join IS the
    // oracle — same rows as q_range_join.
    "q_stream_join" ->
      """WITH e AS (SELECT user_id, event_id AS err_id, CAST(ts AS TIMESTAMP) AS t0,
        |             CAST(ts AS TIMESTAMP) + INTERVAL 1 HOUR AS t1
        |           FROM events WHERE event_type = 'error'),
        |     c AS (SELECT event_id AS click_id, user_id, CAST(ts AS TIMESTAMP) AS cts
        |           FROM events WHERE event_type = 'click')
        |SELECT e.err_id, e.user_id, c.click_id,
        |       epoch_us(e.t0) AS err_ts_us, epoch_us(c.cts) AS click_ts_us
        |FROM e JOIN c ON e.user_id = c.user_id AND c.cts >= e.t0 AND c.cts < e.t1""".stripMargin,

    // The LEFT JOIN over the same interval condition: the streaming gate
    // must emit every unmatched error null-padded (watermark eviction),
    // so the batch left join is its exact oracle.
    "q_stream_join_outer" ->
      """WITH e AS (SELECT user_id AS err_user, event_id AS err_id,
        |             CAST(ts AS TIMESTAMP) AS t0,
        |             CAST(ts AS TIMESTAMP) + INTERVAL 1 HOUR AS t1
        |           FROM events WHERE event_type = 'error'),
        |     c AS (SELECT event_id AS click_id, user_id, CAST(ts AS TIMESTAMP) AS cts
        |           FROM events WHERE event_type = 'click')
        |SELECT e.err_id, e.err_user, c.click_id,
        |       epoch_us(e.t0) AS err_ts_us, epoch_us(c.cts) AS click_ts_us
        |FROM e LEFT JOIN c
        |  ON c.user_id = e.err_user AND c.cts >= e.t0 AND c.cts < e.t1""".stripMargin,

    "q_join" ->
      """SELECT c_mktsegment, o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1, 2""".stripMargin,

    "q_source_parquet" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY 1""".stripMargin,

    // The jsonl round-trip gate aggregates the STAGED json copy; values
    // must equal the same aggregate over the original parquet — including
    // the text lengths, which prove the json text round-trip is lossless.
    "q_source_jsonl" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(SUM(len(text)) AS BIGINT) AS sum_len
        |FROM documents GROUP BY 1""".stripMargin,

    // Dirty-source accounting: the staging rule (doc_id % 17 == 0 lines
    // corrupted) replayed on the original table — good rows round-trip,
    // corrupt rows are isolated, nothing is silently dropped.
    "q_source_dirty" ->
      """SELECT
        |  CAST(SUM(CASE WHEN doc_id % 17 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
        |  CAST(SUM(CASE WHEN doc_id % 17 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt,
        |  CAST(SUM(CASE WHEN doc_id % 17 <> 0 THEN len(text) ELSE 0 END) AS BIGINT) AS n_good_chars
        |FROM documents""".stripMargin,

    "q_source_iterator" ->
      """SELECT CAST(r AS BIGINT) AS i, CAST(r * r AS BIGINT) AS sq, CAST(r % 7 AS BIGINT) AS bucket
        |FROM range(0, 1000) t(r)""".stripMargin,

    "q_source_stateless" ->
      "SELECT doc_id, source, n_chars FROM documents",

    "q_source_stateful" ->
      "SELECT doc_id, lang FROM documents WHERE doc_id > 300",

    "q_sink_stdout" ->
      """SELECT r_name, COUNT(*) AS n_nations FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin,

    "q_sink_vec" ->
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10",

    "q_sink_stateful" ->
      "SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source",

    "q_kafka_source" ->
      """WITH k AS (SELECT CAST(user_id % 4 AS INTEGER) AS part_id,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY user_id % 4 ORDER BY event_id) AS BIGINT) - 1 AS off
        |  FROM events)
        |SELECT part_id, COUNT(*) AS n, MIN(off) AS min_off, MAX(off) AS max_off
        |FROM k WHERE off >= CASE WHEN part_id IN (0, 1) THEN 10 ELSE 0 END GROUP BY part_id""".stripMargin,

    "q_kafka_sink" ->
      """SELECT CAST(length(event_type) % 3 AS INTEGER) AS part_id,
        |  CAST(COUNT(*) - 1 AS BIGINT) AS end_offset, COUNT(*) AS n
        |FROM events GROUP BY 1""".stripMargin,

    "q_rescale" ->
      s"SELECT user_id, COUNT(*) AS n_events, $dec4sum AS total FROM events GROUP BY user_id",

    // End-to-end migration gate: stop mid-input -> offset-derived resume
    // at a new partition count on the new engine -> TTL flush. Every real
    // user expires exactly once with its FULL event-id sum (the TTL spans
    // the whole event-time range; sentinels push the final frontier), so
    // the continuous batch aggregate is the exact answer.
    "q_rescale_resume" ->
      """SELECT user_id, CAST(SUM(event_id) AS BIGINT) AS total_eid
        |FROM events GROUP BY user_id""".stripMargin,

    "q_agg_salted" ->
      s"""SELECT event_type, COUNT(*) AS n, $dec4sum AS total, MAX(value) AS max_value
         |FROM events GROUP BY event_type""".stripMargin,

    "q_topk" ->
      """SELECT o_custkey, CAST(rn AS BIGINT) AS rnk, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 3""".stripMargin,

    "q_dedup_keep" ->
      """SELECT doc_id, source, lang FROM documents
        |WHERE doc_id IN (SELECT MIN(doc_id) FROM documents GROUP BY sha256(text))""".stripMargin,

    // Quality-policy survivors: the same closure clusters, each keeping
    // its highest-quality member (ties -> lowest id). Quality is the
    // bit-identical q_quality expression, so the ordering matches Spark's.
    "q_dedup_keep_best" ->
      (minhashCtes.replaceFirst("^WITH ", "WITH RECURSIVE ") + componentsClosureCtes +
        s""", clus AS (SELECT id AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY id),
           |bscored AS (
           |  SELECT c.doc_id, c.cluster_id, $qualityExpr AS q
           |  FROM clus c JOIN documents ON documents.doc_id = c.doc_id),
           |blosers AS (
           |  SELECT doc_id FROM (
           |    SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY cluster_id ORDER BY q DESC, doc_id ASC) AS rn
           |    FROM bscored) WHERE rn > 1)
           |SELECT d.doc_id, d.source, d.lang FROM documents d
           |WHERE d.doc_id NOT IN (SELECT doc_id FROM blosers)""".stripMargin),

    // NEAR-dup survivors: the q_dedup_components closure, then keep every
    // doc that is not a non-minimal member of its cluster.
    "q_dedup_keep_near" ->
      (minhashCtes.replaceFirst("^WITH ", "WITH RECURSIVE ") + componentsClosureCtes +
        """, losers AS (
          |  SELECT id AS doc_id FROM reach GROUP BY id HAVING id <> MIN(lbl))
          |SELECT d.doc_id, d.source, d.lang FROM documents d
          |WHERE d.doc_id NOT IN (SELECT doc_id FROM losers)""".stripMargin),

    "q_distinct" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
        |FROM events GROUP BY event_type""".stripMargin,

    // Deterministic md5-register HLL (functions.Sketches): bit-identical
    // registers, exact-integer harmonic sum, and the estimate expression
    // reuses the SAME SQL text the Spark side evaluates.
    "q_distinct_sketch" -> hllSketchSql,

    // STREAMING HLL maintenance: the register table lives as streaming-agg
    // state (max-merge); streamed state ≡ batch sketch, so the oracle IS
    // the batch HLL SQL.
    "q_stream_distinct_sketch" -> hllSketchSql,

    // STREAMING KMV maintenance: the bottom-k sample lives as streaming-agg
    // state (union + re-bottom-k); the final state equals the batch sample
    // (bottom-k is a function of the set), so the oracle IS the batch SQL.
    "q_stream_percentile_sketch" -> kmvSketchSql,

    // Theta/KMV set operations (Sketches.kmvSetOps): the same bottom-k
    // distinct-hash sketches, union sketch, rho and estimators — the one
    // engine-specific spelling is hex-to-uint64 (DuckDB 0x-cast vs Spark
    // conv), values identical. Both k branches, UNION ALL like the gate.
    "q_corpus_overlap" ->
      (kmvOverlapSql(64) + "\nUNION ALL\n" + kmvOverlapSql(4096)),

    // Pairwise source-overlap matrix: per-source bottom-64 KMV sketches,
    // then the kmvSetOps estimator arithmetic per unordered source pair.
    "q_overlap_matrix" -> {
      val k = 64
      def est(nCol: String, kthCol: String): String =
        s"""CASE WHEN $nCol < $k THEN CAST($nCol AS DOUBLE)
           |ELSE round((CAST($k AS DOUBLE) - 1.0) * 18446744073709551616.0 /
           |  CAST(('0x' || substr($kthCol, 1, 16))::UBIGINT AS DOUBLE), 6) END""".stripMargin
      s"""WITH sk AS (
         |  SELECT source, h FROM (
         |    SELECT source, h,
         |      row_number() OVER (PARTITION BY source ORDER BY h) AS rn
         |    FROM (SELECT DISTINCT source, md5(text) AS h FROM documents
         |          WHERE text IS NOT NULL AND source IS NOT NULL))
         |  WHERE rn <= $k),
         |g AS (SELECT DISTINCT source FROM sk),
         |pr AS (SELECT a.source AS group_a, b.source AS group_b
         |       FROM g a, g b WHERE a.source < b.source),
         |mk AS (
         |  SELECT group_a, group_b, h, MAX(in_a) AS in_a, MAX(in_b) AS in_b FROM (
         |    SELECT p.group_a, p.group_b, s.h, 1 AS in_a, 0 AS in_b
         |    FROM pr p JOIN sk s ON s.source = p.group_a
         |    UNION ALL
         |    SELECT p.group_a, p.group_b, s.h, 0, 1
         |    FROM pr p JOIN sk s ON s.source = p.group_b)
         |  GROUP BY 1, 2, 3),
         |uk AS (
         |  SELECT * FROM (
         |    SELECT mk.*, row_number() OVER (
         |      PARTITION BY group_a, group_b ORDER BY h) AS rn FROM mk)
         |  WHERE rn <= $k),
         |aggu AS (
         |  SELECT group_a, group_b, COUNT(*) AS n_u, MAX(h) AS kth_u,
         |    CAST(SUM(in_a * in_b) AS BIGINT) AS rho
         |  FROM uk GROUP BY 1, 2),
         |per AS (SELECT source, COUNT(*) AS n, MAX(h) AS kth FROM sk GROUP BY 1)
         |SELECT u.group_a, u.group_b, $k AS k,
         |  CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
         |  CAST(u.n_u AS BIGINT) AS n_u, u.rho,
         |  ${est("a.n", "a.kth")} AS est_distinct_a,
         |  ${est("b.n", "b.kth")} AS est_distinct_b,
         |  ${est("u.n_u", "u.kth_u")} AS est_union,
         |  round(CAST(u.rho AS DOUBLE) / CAST(u.n_u AS DOUBLE), 6) AS jaccard_est,
         |  round(CAST(u.rho AS DOUBLE) / CAST(u.n_u AS DOUBLE) *
         |        ${est("u.n_u", "u.kth_u")}, 6) AS est_intersection
         |FROM aggu u
         |JOIN per a ON a.source = u.group_a
         |JOIN per b ON b.source = u.group_b""".stripMargin
    },

    // Key-skew diagnostics over the heavy-hitter key synthesis: exact
    // per-key counts, deterministic top-10 cut, mean-relative skew and
    // the ceil salt recommendation — same doubles, same op order.
    "q_skew_report" ->
      """WITH ks AS (
        |  SELECT CASE WHEN event_id % 2 = 0 THEN CAST(user_id % 10 AS VARCHAR)
        |              ELSE CAST(event_id AS VARCHAR) END AS key_value
        |  FROM events),
        |counts AS (SELECT key_value, COUNT(*) AS n_rows FROM ks GROUP BY 1),
        |st AS (SELECT CAST(SUM(n_rows) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_rows
        |       FROM counts),
        |top AS (
        |  SELECT key_value, n_rows,
        |    row_number() OVER (ORDER BY n_rows DESC, key_value) AS rnk
        |  FROM counts)
        |SELECT 'key' AS key_col, key_value, n_rows, CAST(rnk AS BIGINT) AS rnk,
        |  round(CAST(n_rows AS DOUBLE) / mean_rows, 2) AS skew_factor,
        |  greatest(1, CAST(ceil(CAST(n_rows AS DOUBLE) / (2.0 * mean_rows)) AS BIGINT)) AS salt_rec
        |FROM top, st WHERE rnk <= 10""".stripMargin,

    // Planner→executor skew composition: the engine salts the keys the
    // skew report flagged; the result equals the plain unsalted
    // aggregate by associativity — which is what grades it.
    "q_agg_salted_auto" ->
      s"""WITH ks AS (
         |  SELECT CASE WHEN event_id % 2 = 0 THEN CAST(user_id % 10 AS VARCHAR)
         |              ELSE CAST(event_id AS VARCHAR) END AS key, value
         |  FROM events)
         |SELECT key, COUNT(*) AS n, $dec4sum AS total, MAX(value) AS max_value
         |FROM ks GROUP BY key""".stripMargin,

    // Sketch-pruned exact heavy hitters: the engine's Count-Min pass is
    // internal pruning with deterministically one-sided error, so the
    // final answer IS the plain HAVING answer — the oracle needs no
    // sketch, only the identical hot/cold key synthesis.
    "q_heavy_hitters" ->
      """WITH ks AS (
        |  SELECT 'k' || (CASE WHEN event_id % 2 = 0
        |      THEN CAST(user_id % 10 AS VARCHAR)
        |      ELSE 'c' || CAST(event_id % 2000 AS VARCHAR) END) AS key
        |  FROM events),
        |ks2 AS (SELECT key FROM ks WHERE key IS NOT NULL),
        |tot AS (SELECT COUNT(*) AS n FROM ks2)
        |SELECT key, COUNT(*) AS cnt
        |FROM ks2, tot
        |GROUP BY key, n
        |HAVING COUNT(*) >= CAST(ceil(0.01 * n) AS BIGINT)""".stripMargin,

    // Per-group heavy hitters: per-group HAVING over the same synthesis —
    // the engine's composite-key CM + threshold-map prune is internal.
    "q_heavy_hitters_grouped" ->
      """WITH ks AS (
        |  SELECT event_type AS grp,
        |    'k' || (CASE WHEN event_id % 2 = 0
        |      THEN CAST(user_id % 10 AS VARCHAR)
        |      ELSE 'c' || CAST(event_id % 2000 AS VARCHAR) END) AS key
        |  FROM events),
        |ks2 AS (SELECT grp, key FROM ks WHERE key IS NOT NULL AND grp IS NOT NULL),
        |tot AS (SELECT grp, COUNT(*) AS n FROM ks2 GROUP BY grp)
        |SELECT k.grp, k.key, COUNT(*) AS cnt
        |FROM ks2 k JOIN tot t ON k.grp = t.grp
        |GROUP BY k.grp, k.key, t.n
        |HAVING COUNT(*) >= CAST(ceil(0.04 * t.n) AS BIGINT)""".stripMargin,

    "q_percentiles" ->
      """SELECT event_type, quantile_cont(value, 0.5) AS p50, quantile_cont(value, 0.9) AS p90
        |FROM events GROUP BY event_type""".stripMargin,

    // Deterministic KMV quantile sketch (functions.Sketches): bottom-256
    // rows by md5(event_id) per group — the identical sample in any
    // engine — then nearest-rank selection with the SAME index
    // expression text the Spark side evaluates.
    "q_percentile_sketch" -> kmvSketchSql,

    // Chunking: same tokenizer; chunk i = tokens [i*stride+1, i*stride+size]
    // (inclusive list slice), k = ceil(max(n - overlap, 1) / stride).
    "q_chunk" ->
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS w
        |  FROM documents),
        |t2 AS (SELECT doc_id, w, len(w) AS n FROM tok WHERE len(w) > 0),
        |k AS (SELECT doc_id, w, n,
        |        CAST(ceil(CAST(greatest(n - 10, 1) AS DOUBLE) / 40) AS INT) AS nk FROM t2),
        |c AS (SELECT doc_id, w, n, unnest(generate_series(0, nk - 1)) AS ci FROM k)
        |SELECT doc_id, CAST(ci AS BIGINT) AS chunk_ix,
        |  list_aggregate(w[ci*40+1 : ci*40+50], 'string_agg', ' ') AS chunk_text,
        |  CAST(least(n - ci*40, 50) AS BIGINT) AS n_tokens
        |FROM c""".stripMargin,

    // Packing: exclusive running token sum per source, floor-div binning.
    "q_pack" ->
      """WITH t AS (SELECT source, doc_id,
        |    CAST(len(regexp_extract_all(text, '[^ \t\n\f\r]+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT source, doc_id, n_tokens,
        |    COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |  FROM t)
        |SELECT source, doc_id, n_tokens,
        |  CAST(floor(CAST(cum AS DOUBLE) / 2048) AS BIGINT) AS bin,
        |  CAST(cum % 2048 AS BIGINT) AS bin_pos
        |FROM c""".stripMargin,

    // Scrubbing: the same three-regex chain, 'g' flag for replace-all.
    "q_scrub" ->
      """SELECT event_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(props, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      'https?://[^\s]+', '<URL>', 'g'),
        |    '[0-9]{2,}', '<NUM>', 'g') AS clean_props,
        |  CAST(len(regexp_extract_all(props, '[0-9]{2,}')) AS BIGINT) AS n_nums
        |FROM events""".stripMargin,

    // C4 rule suite: the multi-line page SYNTHESIS (8-token lines, every
    // 5th cut to 3 words, bare/./? terminators on (doc_id+line)%3, four
    // id-cohort violator lines) is replayed verbatim, then the c4.py
    // line rules (terminal punct, >=5 words, javascript, policy
    // substrings) and page flags (lorem ipsum, '{', >=3 kept) — the
    // cleaned text itself is part of the hash.
    "q_c4_rules" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |page AS (
        |  SELECT doc_id,
        |    list_aggregate(list_concat(list_concat(list_concat(list_concat(
        |      [CASE ((doc_id + x['i'] - 1) % 3)
        |         WHEN 0 THEN x['b'] WHEN 1 THEN x['b'] || '.'
        |         ELSE x['b'] || '?' END
        |       for x in [{'i': i, 'b': list_aggregate(
        |           CASE WHEN ((i - 1) % 5) = 4 THEN w[(i-1)*8+1:(i-1)*8+3]
        |                ELSE w[(i-1)*8+1:(i-1)*8+8] END, 'string_agg', ' ')}
        |         for i in generate_series(1, CAST(floor((len(w) + 7) / 8) AS BIGINT))]],
        |      CASE WHEN doc_id % 7 = 0 THEN ['please enable javascript in your browser.'] ELSE CAST([] AS VARCHAR[]) END),
        |      CASE WHEN doc_id % 11 = 0 THEN ['we use cookies to improve service quality.'] ELSE CAST([] AS VARCHAR[]) END),
        |      CASE WHEN doc_id % 13 = 0 THEN ['notice lorem ipsum text follows here.'] ELSE CAST([] AS VARCHAR[]) END),
        |      CASE WHEN doc_id % 17 = 0 THEN ['config block { starts after this line.'] ELSE CAST([] AS VARCHAR[]) END),
        |      'string_agg', chr(10)) AS ptext
        |  FROM tok),
        |c4 AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(ptext, chr(10))) AS BIGINT) AS n_lines,
        |    list_filter([trim(l, ' ' || chr(9)) for l in string_split(ptext, chr(10))],
        |      t -> len(t) > 0
        |        AND right(t, 1) IN ('.', '!', '?', '"')
        |        AND len(list_filter(string_split_regex(t, '[ \t]+'), x -> len(x) > 0)) >= 5
        |        AND NOT contains(lower(t), 'javascript')
        |        AND NOT contains(lower(t), 'terms of use')
        |        AND NOT contains(lower(t), 'privacy policy')
        |        AND NOT contains(lower(t), 'cookie policy')
        |        AND NOT contains(lower(t), 'uses cookies')
        |        AND NOT contains(lower(t), 'use of cookies')
        |        AND NOT contains(lower(t), 'use cookies')) AS kept,
        |    contains(lower(ptext), 'lorem ipsum') AS has_lorem,
        |    contains(ptext, '{') AS has_brace
        |  FROM page)
        |SELECT doc_id,
        |  COALESCE(list_aggregate(kept, 'string_agg', chr(10)), '') AS text_clean,
        |  n_lines, CAST(len(kept) AS BIGINT) AS n_kept, has_lorem, has_brace,
        |  (len(kept) >= 3 AND NOT has_lorem AND NOT has_brace) AS c4_keep
        |FROM c4""".stripMargin,

    // Corpus duplicate-line removal over the same synthesized pages:
    // keep-first on exact line text ordered (doc_id, idx); rebuild via
    // ordered string_agg — the trim_spans rebuild shape. Hash includes
    // the rebuilt text.
    "q_dedup_lines" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |page AS (
        |  SELECT doc_id,
        |    list_aggregate(list_concat(list_concat(list_concat(list_concat(
        |      [CASE ((doc_id + x['i'] - 1) % 3)
        |         WHEN 0 THEN x['b'] WHEN 1 THEN x['b'] || '.'
        |         ELSE x['b'] || '?' END
        |       for x in [{'i': i, 'b': list_aggregate(
        |           CASE WHEN ((i - 1) % 5) = 4 THEN w[(i-1)*8+1:(i-1)*8+3]
        |                ELSE w[(i-1)*8+1:(i-1)*8+8] END, 'string_agg', ' ')}
        |         for i in generate_series(1, CAST(floor((len(w) + 7) / 8) AS BIGINT))]],
        |      CASE WHEN doc_id % 7 = 0 THEN ['please enable javascript in your browser.'] ELSE CAST([] AS VARCHAR[]) END),
        |      CASE WHEN doc_id % 11 = 0 THEN ['we use cookies to improve service quality.'] ELSE CAST([] AS VARCHAR[]) END),
        |      CASE WHEN doc_id % 13 = 0 THEN ['notice lorem ipsum text follows here.'] ELSE CAST([] AS VARCHAR[]) END),
        |      CASE WHEN doc_id % 17 = 0 THEN ['config block { starts after this line.'] ELSE CAST([] AS VARCHAR[]) END),
        |      'string_agg', chr(10)) AS ptext
        |  FROM tok),
        |l AS (
        |  SELECT doc_id, u['i'] AS idx, u['line'] AS line FROM (
        |    SELECT doc_id,
        |      unnest([{'i': i - 1, 'line': string_split(ptext, chr(10))[i]}
        |              for i in generate_series(1, len(string_split(ptext, chr(10))))]) AS u
        |    FROM page)),
        |rk AS (
        |  SELECT doc_id, idx, line,
        |    row_number() OVER (PARTITION BY line ORDER BY doc_id, idx) AS rk
        |  FROM l)
        |SELECT doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_lines,
        |  CAST(SUM(CASE WHEN rk > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |  COALESCE(string_agg(CASE WHEN rk = 1 THEN line END, chr(10) ORDER BY idx), '') AS clean_text
        |FROM rk GROUP BY 1""".stripMargin,

    // Boilerplate-line removal over the same synthesized pages: document
    // frequency per line (distinct docs), drop EVERY occurrence of lines
    // at df >= 3 (contrast q_dedup_lines' keep-first), rebuild.
    "q_boilerplate" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |page AS (
        |  SELECT doc_id,
        |    list_aggregate(list_concat(list_concat(list_concat(list_concat(
        |      [CASE ((doc_id + x['i'] - 1) % 3)
        |         WHEN 0 THEN x['b'] WHEN 1 THEN x['b'] || '.'
        |         ELSE x['b'] || '?' END
        |       for x in [{'i': i, 'b': list_aggregate(
        |           CASE WHEN ((i - 1) % 5) = 4 THEN w[(i-1)*8+1:(i-1)*8+3]
        |                ELSE w[(i-1)*8+1:(i-1)*8+8] END, 'string_agg', ' ')}
        |         for i in generate_series(1, CAST(floor((len(w) + 7) / 8) AS BIGINT))]],
        |      CASE WHEN doc_id % 7 = 0 THEN ['please enable javascript in your browser.'] ELSE CAST([] AS VARCHAR[]) END),
        |      CASE WHEN doc_id % 11 = 0 THEN ['we use cookies to improve service quality.'] ELSE CAST([] AS VARCHAR[]) END),
        |      CASE WHEN doc_id % 13 = 0 THEN ['notice lorem ipsum text follows here.'] ELSE CAST([] AS VARCHAR[]) END),
        |      CASE WHEN doc_id % 17 = 0 THEN ['config block { starts after this line.'] ELSE CAST([] AS VARCHAR[]) END),
        |      'string_agg', chr(10)) AS ptext
        |  FROM tok),
        |l AS (
        |  SELECT doc_id, u['i'] AS idx, u['line'] AS line FROM (
        |    SELECT doc_id,
        |      unnest([{'i': i - 1, 'line': string_split(ptext, chr(10))[i]}
        |              for i in generate_series(1, len(string_split(ptext, chr(10))))]) AS u
        |    FROM page)),
        |lf AS (
        |  SELECT line, COUNT(DISTINCT doc_id) AS ndocs FROM l GROUP BY 1)
        |SELECT l.doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_lines,
        |  CAST(SUM(CASE WHEN lf.ndocs >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
        |  COALESCE(string_agg(CASE WHEN lf.ndocs < 3 THEN l.line END, chr(10) ORDER BY l.idx), '') AS clean_text
        |FROM l JOIN lf USING (line) GROUP BY 1""".stripMargin,

    // Robust per-source length outliers: EXPLICIT rank-then-middle
    // medians (sum/count over the one or two middle ranks — engine
    // percentile interpolation internals are not bit-pinned
    // cross-engine, (a+b)/2 as two shared IEEE ops is), then the
    // Iglewicz–Hoaglin modified z.
    "q_outliers_mad" ->
      """WITH base AS (
        |  SELECT doc_id, source, CAST(n_chars AS DOUBLE) AS x FROM documents),
        |r1 AS (
        |  SELECT source, x,
        |    row_number() OVER (PARTITION BY source ORDER BY x) AS rn,
        |    COUNT(*) OVER (PARTITION BY source) AS n
        |  FROM base),
        |med AS (
        |  SELECT source, SUM(x) / COUNT(*) AS med FROM r1
        |  WHERE rn = (n + 1) // 2 OR rn = n // 2 + 1 GROUP BY 1),
        |wm AS (
        |  SELECT b.doc_id, b.source, b.x, m.med, abs(b.x - m.med) AS ad
        |  FROM base b JOIN med m USING (source)),
        |r2 AS (
        |  SELECT source, ad,
        |    row_number() OVER (PARTITION BY source ORDER BY ad) AS rn,
        |    COUNT(*) OVER (PARTITION BY source) AS n
        |  FROM wm),
        |mad AS (
        |  SELECT source, SUM(ad) / COUNT(*) AS mad FROM r2
        |  WHERE rn = (n + 1) // 2 OR rn = n // 2 + 1 GROUP BY 1)
        |SELECT wm.doc_id, wm.source, wm.x, wm.med, d.mad,
        |  (abs(CASE WHEN d.mad = 0.0 THEN 0.0
        |            ELSE 0.6745 * (wm.x - wm.med) / d.mad END) > 3.5) AS is_outlier
        |FROM wm JOIN mad d USING (source)""".stripMargin,

    // Wilson lower-bound source ranking: the composite quality pass rate
    // per source shrunk by evidence (z = 1.96), ranked on the ROUNDED
    // bound (ties broken by source) exactly as the engine ranks.
    "q_source_rank_wilson" ->
      s"""WITH q AS (
         |  SELECT source, $qualityExpr AS quality FROM documents),
         |agg AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(CASE WHEN quality >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
         |  FROM q GROUP BY 1),
         |c AS (
         |  SELECT source, n, n_pass,
         |    CAST(n_pass AS DOUBLE) / CAST(n AS DOUBLE) AS p,
         |    CAST(n AS DOUBLE) AS nd
         |  FROM agg),
         |w AS (
         |  SELECT source, n, n_pass, round(p, 6) AS pass_rate,
         |    round((p + (1.96 * 1.96) / (2.0 * nd)
         |      - 1.96 * sqrt((p * (1.0 - p) + (1.96 * 1.96) / (4.0 * nd)) / nd))
         |      / (1.0 + (1.96 * 1.96) / nd), 6) AS wilson_lb
         |  FROM c)
         |SELECT source, n, n_pass, pass_rate, wilson_lb,
         |  CAST(row_number() OVER (ORDER BY wilson_lb DESC, source) AS INTEGER) AS rnk
         |FROM w""".stripMargin,

    // Token-balanced sharding: rank by (token count DESC, id) then snake
    // (boustrophedon) assignment — the same arithmetic text as
    // Sampling.shardByTokens.
    "q_shard_by_tokens" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(text, '[^ \t\n\f\r]+')) AS BIGINT) AS n_tok
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, n_tok,
        |    row_number() OVER (ORDER BY n_tok DESC, doc_id ASC) - 1 AS rk
        |  FROM c)
        |SELECT doc_id, n_tok,
        |  CAST(CASE WHEN rk % 16 < 8 THEN rk % 16 ELSE 15 - (rk % 16) END AS BIGINT) AS shard
        |FROM r""".stripMargin,

    // Filter funnel: the same four stage flags (dedup-survivor window,
    // the shared quality expression, the langId CASE chain, token
    // count), prefix-conjoined, then the per-stage (n_in, n_out) rows.
    "q_filter_funnel" ->
      s"""WITH dk AS (
         |  SELECT doc_id,
         |    (doc_id = MIN(doc_id) OVER (PARTITION BY sha256(text))) AS f1
         |  FROM documents),
         |q AS (SELECT doc_id, (($qualityExpr) >= 0.3) AS f2 FROM documents),
         |${langCtes("documents", Nil)},
         |t AS (SELECT doc_id,
         |  (len(regexp_extract_all(text, '[^ \\t\\n\\f\\r]+')) >= 80) AS f4
         |  FROM documents),
         |flags AS (
         |  SELECT dk.doc_id, f1, f2, (pred_lang IN ('en', 'es')) AS f3, f4
         |  FROM dk JOIN q USING (doc_id) JOIN langed USING (doc_id)
         |    JOIN t USING (doc_id)),
         |s AS (
         |  SELECT COUNT(*) AS s0,
         |    SUM(CASE WHEN f1 THEN 1 ELSE 0 END) AS s1,
         |    SUM(CASE WHEN f1 AND f2 THEN 1 ELSE 0 END) AS s2,
         |    SUM(CASE WHEN f1 AND f2 AND f3 THEN 1 ELSE 0 END) AS s3,
         |    SUM(CASE WHEN f1 AND f2 AND f3 AND f4 THEN 1 ELSE 0 END) AS s4
         |  FROM flags)
         |SELECT CAST(1 AS BIGINT) AS stage_idx, 'dedup_exact' AS stage,
         |  CAST(s0 AS BIGINT) AS n_in, CAST(s1 AS BIGINT) AS n_out FROM s
         |UNION ALL SELECT 2, 'quality', CAST(s1 AS BIGINT), CAST(s2 AS BIGINT) FROM s
         |UNION ALL SELECT 3, 'lang', CAST(s2 AS BIGINT), CAST(s3 AS BIGINT) FROM s
         |UNION ALL SELECT 4, 'tokens', CAST(s3 AS BIGINT), CAST(s4 AS BIGINT) FROM s""".stripMargin,

    // Corpus time travel: the synthesized change log (v0 all, v1 every
    // 3rd, v2 tombstones every 5th, v3 every 7th) read as of version 2 —
    // row_number replay of the max_by-per-id rule, tombstone winners
    // suppressed.
    "q_corpus_asof" ->
      """WITH vlog AS (
        |  SELECT doc_id, CAST(0 AS BIGINT) AS version, 'u' AS op, text FROM documents
        |  UNION ALL SELECT doc_id, 1, 'u', text || ' v1' FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL SELECT doc_id, 2, 'd', CAST(NULL AS VARCHAR) FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL SELECT doc_id, 3, 'u', text || ' v3' FROM documents WHERE doc_id % 7 = 0),
        |w AS (
        |  SELECT doc_id, version, op, text,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY version DESC) AS rn
        |  FROM vlog WHERE version <= 2)
        |SELECT doc_id, version, text FROM w WHERE rn = 1 AND op <> 'd'""".stripMargin,

    // Log compaction: the gate reads the range-clustered COMPACTED
    // snapshot; a compaction must be content-invisible, so the oracle is
    // the as-of view over the uncompacted log (same SQL text).
    "q_corpus_compact" ->
      """WITH vlog AS (
        |  SELECT doc_id, CAST(0 AS BIGINT) AS version, 'u' AS op, text FROM documents
        |  UNION ALL SELECT doc_id, 1, 'u', text || ' v1' FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL SELECT doc_id, 2, 'd', CAST(NULL AS VARCHAR) FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL SELECT doc_id, 3, 'u', text || ' v3' FROM documents WHERE doc_id % 7 = 0),
        |w AS (
        |  SELECT doc_id, version, op, text,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY version DESC) AS rn
        |  FROM vlog WHERE version <= 2)
        |SELECT doc_id, version, text FROM w WHERE rn = 1 AND op <> 'd'""".stripMargin,

    // Padding efficiency: same smallest-boundary CASE chain, truncation
    // to the last boundary, one aggregation.
    "q_padding_efficiency" ->
      """WITH c AS (
        |  SELECT CAST(len(regexp_extract_all(text, '[^ \t\n\f\r]+')) AS BIGINT) AS n
        |  FROM documents),
        |b AS (
        |  SELECT n,
        |    CASE WHEN n <= 64 THEN 64 WHEN n <= 128 THEN 128
        |         WHEN n <= 192 THEN 192 ELSE 256 END AS seq_len,
        |    least(n, 256) AS eff
        |  FROM c)
        |SELECT CAST(seq_len AS BIGINT) AS seq_len,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(eff) AS BIGINT) AS real_tokens,
        |  CAST(COUNT(*) * seq_len AS BIGINT) AS padded_tokens,
        |  round(CAST(SUM(eff) AS DOUBLE) / CAST(COUNT(*) * seq_len AS DOUBLE), 6) AS efficiency
        |FROM b GROUP BY seq_len""".stripMargin,

    // HTML extraction: the synthesis (title/style/script/comment/entity-
    // encoded body) and the strip/decode/normalize chain replayed
    // verbatim; '&amp;' decodes LAST on both sides.
    "q_html_extract" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
        |    || '</title><style>p { color: red }</style><script type="text/javascript">track("'
        |    || source || '");</script></head>' || chr(10) || '<body><h1>' || source
        |    || ' &amp; friends</h1><!-- boilerplate' || chr(10) || 'comment --><p>'
        |    || replace(replace(replace(text, '&', '&amp;'), '<', '&lt;'), '>', '&gt;')
        |    || '</p>' || chr(10) || '<footer>&copy; example</footer></body></html>' AS html
        |  FROM documents),
        |strip AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
        |      '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        |      '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
        |      '(?s)<!--.*?-->', ' ', 'g'),
        |      '<[^>]*>', ' ', 'g') AS t
        |  FROM h),
        |dec AS (
        |  SELECT doc_id,
        |    replace(replace(replace(replace(replace(replace(t,
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        |      '&nbsp;', ' '), '&amp;', '&') AS t2
        |  FROM strip)
        |SELECT doc_id, trim(regexp_replace(t2, '[ \t\n\f\r]+', ' ', 'g')) AS extracted
        |FROM dec""".stripMargin,

    // URL canonicalization: synthesis (mixed-case scheme/host, default +
    // explicit ports, unsorted params, fragment) and the extract/
    // lowercase/sort/rebuild chain replayed verbatim.
    // Domain blocklist: the engine's bloom pre-filter is internal pruning
    // (exact-join adjudicated), so the oracle is the plain suffix-match
    // rule: blocked iff any >=2-label dot-suffix of the host is listed,
    // most specific (longest) entry reported.
    // Zipf fit: identical top-1000 cut, round-6 logs, DECIMAL normal-
    // equation sums, the same slope/intercept expressions.
    "q_zipf_fit" ->
      """WITH tok AS (
        |  SELECT list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS w
        |  FROM documents),
        |e AS (SELECT unnest(w) AS tok FROM tok),
        |freq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS f FROM e GROUP BY 1),
        |tot AS (SELECT CAST(SUM(f) AS BIGINT) AS n_tokens_total,
        |        CAST(COUNT(*) AS BIGINT) AS vocab_size FROM freq),
        |top AS (
        |  SELECT f, ROW_NUMBER() OVER (ORDER BY f DESC, tok) AS rnk
        |  FROM freq QUALIFY rnk <= 1000),
        |xy AS (SELECT round(ln(CAST(rnk AS DOUBLE)), 6) AS x,
        |              round(ln(CAST(f AS DOUBLE)), 6) AS y FROM top),
        |s AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_fit,
        |    SUM(CAST(x AS DECIMAL(38,18))) AS sx,
        |    SUM(CAST(y AS DECIMAL(38,18))) AS sy,
        |    SUM(CAST(x * y AS DECIMAL(38,18))) AS sxy,
        |    SUM(CAST(x * x AS DECIMAL(38,18))) AS sxx
        |  FROM xy)
        |SELECT n_tokens_total, vocab_size, n_fit,
        |  round((CAST(n_fit AS DOUBLE) * CAST(sxy AS DOUBLE) -
        |      CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |    (CAST(n_fit AS DOUBLE) * CAST(sxx AS DOUBLE) -
        |      CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS zipf_slope,
        |  round((CAST(sy AS DOUBLE) - ((CAST(n_fit AS DOUBLE) * CAST(sxy AS DOUBLE) -
        |      CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |    (CAST(n_fit AS DOUBLE) * CAST(sxx AS DOUBLE) -
        |      CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) * CAST(sx AS DOUBLE)) /
        |    CAST(n_fit AS DOUBLE), 6) AS zipf_intercept
        |FROM s, tot""".stripMargin,

    // Script profile: the same salt, explicit-range regexes (one per
    // class — the engine's single native pass is internal), other =
    // total minus the disjoint classes, identical CASE chain.
    "q_script_profile" ->
      """WITH salted AS (
        |  SELECT doc_id, text || CASE
        |    WHEN doc_id % 3 = 0 THEN ' 你好世界123'
        |    WHEN doc_id % 3 = 1 THEN ' привет мир'
        |    ELSE '' END AS t
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    CAST(length(t) AS BIGINT) AS n_chars,
        |    CAST(len(regexp_extract_all(t, '[A-Za-z]')) AS BIGINT) AS n_latin,
        |    CAST(len(regexp_extract_all(t, '[0-9]')) AS BIGINT) AS n_digit,
        |    CAST(len(regexp_extract_all(t, '[\x{4E00}-\x{9FFF}]')) AS BIGINT) AS n_cjk,
        |    CAST(len(regexp_extract_all(t, '[\x{0400}-\x{04FF}]')) AS BIGINT) AS n_cyrillic,
        |    CAST(len(regexp_extract_all(t, '[ \t\n\f\r]')) AS BIGINT) AS n_space
        |  FROM salted)
        |SELECT doc_id, n_chars, n_latin, n_digit, n_cjk, n_cyrillic, n_space,
        |  n_chars - n_latin - n_digit - n_cjk - n_cyrillic - n_space AS n_other,
        |  round(CAST(n_latin AS DOUBLE) / greatest(CAST(n_chars AS DOUBLE), 1.0), 6) AS latin_frac,
        |  round(CAST(n_cjk AS DOUBLE) / greatest(CAST(n_chars AS DOUBLE), 1.0), 6) AS cjk_frac,
        |  round(CAST(n_cyrillic AS DOUBLE) / greatest(CAST(n_chars AS DOUBLE), 1.0), 6) AS cyrillic_frac,
        |  CASE
        |    WHEN n_cjk >= n_cyrillic AND n_cjk >= n_latin
        |      AND n_cjk >= n_chars - n_latin - n_digit - n_cjk - n_cyrillic - n_space THEN 'cjk'
        |    WHEN n_cyrillic >= n_latin
        |      AND n_cyrillic >= n_chars - n_latin - n_digit - n_cjk - n_cyrillic - n_space THEN 'cyrillic'
        |    WHEN n_latin >= n_chars - n_latin - n_digit - n_cjk - n_cyrillic - n_space THEN 'latin'
        |    ELSE 'other' END AS main_script
        |FROM c""".stripMargin,

    // Aho–Corasick phrase blocklist: the automaton is internal machinery;
    // the semantics are literal per-phrase substring containment on the
    // lowercased text, so the oracle is the contains() join.
    "q_phrase_blocklist" ->
      """WITH pats AS (
        |  SELECT unnest(['batch batch batch', 'hash scan join', 'merge sort',
        |                 'slow join', 'sort merge', 'spark', 'spark join group',
        |                 'vector window', 'window window']) AS p),
        |m AS (
        |  SELECT d.doc_id, p.p FROM documents d
        |  JOIN pats p ON contains(lower(d.text), p.p)),
        |g AS (
        |  SELECT doc_id, list_sort(list(p)) AS matched, COUNT(*) AS nm
        |  FROM m GROUP BY doc_id)
        |SELECT d.doc_id,
        |  COALESCE(array_to_string(g.matched, '|'), '') AS matched,
        |  CAST(COALESCE(g.nm, 0) AS BIGINT) AS n_matched,
        |  COALESCE(g.nm, 0) > 0 AS blocked
        |FROM documents d LEFT JOIN g USING (doc_id)""".stripMargin,

    // T5 span corruption: per-token decisions mirrored (block, md5
    // offset, complete-block rule), strings assembled by ordered
    // string_agg — values equal to Spark's sort+join assembly.
    "q_span_corrupt" ->
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS w
        |  FROM documents),
        |e AS (
        |  SELECT doc_id, len(w) AS n, u['pos'] AS pos, u['tok'] AS tok FROM (
        |    SELECT doc_id, w,
        |      unnest([{'pos': i - 1, 'tok': w[i]} for i in generate_series(1, len(w))]) AS u
        |    FROM tok WHERE len(w) > 0)),
        |f AS (
        |  SELECT doc_id, n, pos, tok, CAST(floor(pos / 20.0) AS BIGINT) AS blk
        |  FROM e),
        |f2 AS (
        |  SELECT *,
        |    blk * 20 + CAST(('0x' || substr(md5(doc_id || '|' || blk), 1, 8))::UBIGINT AS BIGINT) % 18 AS st,
        |    (blk + 1) * 20 <= n AS complete
        |  FROM f),
        |f3 AS (
        |  SELECT *, complete AND pos >= st AND pos < st + 3 AS noised FROM f2),
        |f4 AS (
        |  SELECT doc_id, n, pos,
        |    CASE WHEN NOT noised THEN tok
        |         WHEN pos = st THEN '<extra_id_' || blk || '>' END AS ie,
        |    CASE WHEN noised AND pos = st THEN '<extra_id_' || blk || '> ' || tok
        |         WHEN noised THEN tok END AS te
        |  FROM f3),
        |g AS (
        |  SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_tokens,
        |    CAST(floor(MAX(n) / 20.0) AS BIGINT) AS n_spans,
        |    string_agg(ie, ' ' ORDER BY pos) FILTER (ie IS NOT NULL) AS input_text,
        |    string_agg(te, ' ' ORDER BY pos) FILTER (te IS NOT NULL) AS tgt
        |  FROM f4 GROUP BY doc_id)
        |SELECT doc_id, n_tokens, n_spans, input_text,
        |  CASE WHEN n_spans = 0 THEN '<extra_id_0>'
        |       ELSE tgt || ' <extra_id_' || n_spans || '>' END AS target_text
        |FROM g""".stripMargin,

    // Fill-in-the-middle: md5 parity selects, md5-uniform split points,
    // PSM assembly via concat_ws (skips the NULL of an empty segment —
    // Spark nullif('') matches).
    "q_fim" ->
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS w
        |  FROM documents),
        |e AS (
        |  SELECT doc_id, len(w) AS n, u['pos'] AS pos, u['tok'] AS tok FROM (
        |    SELECT doc_id, w,
        |      unnest([{'pos': i - 1, 'tok': w[i]} for i in generate_series(1, len(w))]) AS u
        |    FROM tok WHERE len(w) > 0)),
        |f AS (
        |  SELECT doc_id, n, pos, tok,
        |    CAST(('0x' || substr(md5('fim|' || doc_id), 1, 8))::UBIGINT AS BIGINT) % 2 = 0 AS ap,
        |    CAST(('0x' || substr(md5('fim|' || doc_id), 9, 8))::UBIGINT AS BIGINT) % (n + 1) AS p1
        |  FROM e),
        |f2 AS (
        |  SELECT *, p1 + CAST(('0x' || substr(md5('fim|' || doc_id), 17, 8))::UBIGINT AS BIGINT) % (n - p1 + 1) AS p2
        |  FROM f),
        |g AS (
        |  SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_tokens, bool_or(ap) AS fim_applied,
        |    string_agg(CASE WHEN pos < p1 THEN tok END, ' ' ORDER BY pos)
        |      FILTER (pos < p1) AS pre,
        |    string_agg(CASE WHEN pos >= p1 AND pos < p2 THEN tok END, ' ' ORDER BY pos)
        |      FILTER (pos >= p1 AND pos < p2) AS mid,
        |    string_agg(CASE WHEN pos >= p2 THEN tok END, ' ' ORDER BY pos)
        |      FILTER (pos >= p2) AS suf,
        |    string_agg(tok, ' ' ORDER BY pos) AS plain
        |  FROM f2 GROUP BY doc_id)
        |SELECT doc_id, n_tokens, fim_applied,
        |  CASE WHEN NOT fim_applied THEN plain
        |       ELSE concat_ws(' ', '<PRE>', pre, '<SUF>', suf, '<MID>', mid) END AS text_out
        |FROM g""".stripMargin,

    // Reciprocal Rank Fusion: the distributed range-partition indexes are
    // plain ROW_NUMBERs here (total order via the id tie-break); ratios
    // are exact-integer divisions through double; terms sum in signal
    // order (len, div, stop).
    "q_rank_fusion" ->
      """WITH tok AS (
        |  SELECT doc_id, n_chars,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS w
        |  FROM documents),
        |sig AS (
        |  SELECT doc_id,
        |    CAST(n_chars AS DOUBLE) AS s_len,
        |    CAST(len(list_distinct(w)) AS DOUBLE) / CAST(len(w) AS DOUBLE) AS s_div,
        |    CAST(len(list_filter(w, t -> t = 'the' OR t = 'a')) AS DOUBLE) /
        |      CAST(len(w) AS DOUBLE) AS s_stop
        |  FROM tok WHERE len(w) > 0),
        |rk AS (
        |  SELECT doc_id,
        |    ROW_NUMBER() OVER (ORDER BY s_len DESC, doc_id) AS rank_len,
        |    ROW_NUMBER() OVER (ORDER BY s_div DESC, doc_id) AS rank_div,
        |    ROW_NUMBER() OVER (ORDER BY s_stop DESC, doc_id) AS rank_stop
        |  FROM sig),
        |sc AS (
        |  SELECT doc_id, rank_len, rank_div, rank_stop,
        |    round(1.0 / (60.0 + CAST(rank_len AS DOUBLE)) +
        |          1.0 / (60.0 + CAST(rank_div AS DOUBLE)) +
        |          1.0 / (60.0 + CAST(rank_stop AS DOUBLE)), 6) AS rrf_score
        |  FROM rk)
        |SELECT doc_id, rank_len, rank_div, rank_stop, rrf_score,
        |  ROW_NUMBER() OVER (ORDER BY rrf_score DESC, doc_id) AS fused_rank
        |FROM sc""".stripMargin,

    "q_url_blocklist" ->
      """WITH u AS (
        |  SELECT doc_id, lower('WWW.Site' || CAST(doc_id % 50 AS VARCHAR) ||
        |    (CASE WHEN doc_id % 3 = 0 THEN '.Bad-Ads.NET' ELSE '.Example.COM' END)) AS host
        |  FROM documents),
        |bl(domain) AS (VALUES ('bad-ads.net'), ('site17.example.com'), ('www.site23.example.com')),
        |lab AS (SELECT doc_id, host, string_split(host, '.') AS labels FROM u),
        |sfx AS (
        |  SELECT doc_id, host, array_to_string(labels[i:len(labels)], '.') AS s
        |  FROM lab, unnest(generate_series(1, len(labels) - 1)) t(i)),
        |m AS (
        |  SELECT doc_id, arg_max(domain, len(domain)) AS matched_domain
        |  FROM sfx JOIN bl ON s = domain GROUP BY doc_id)
        |SELECT u.doc_id, u.host,
        |  (m.matched_domain IS NOT NULL) AS blocked, m.matched_domain
        |FROM u LEFT JOIN m ON u.doc_id = m.doc_id""".stripMargin,

    "q_url_canonical" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTP://' ELSE 'https://' END)
        |    || 'WWW.Site' || CAST(doc_id % 5 AS VARCHAR) || '.Example.COM'
        |    || (CASE WHEN doc_id % 2 = 0 THEN ':80'
        |             WHEN doc_id % 3 = 0 THEN ':8443' ELSE '' END)
        |    || '/Articles/' || source || '/item'
        |    || (CASE WHEN doc_id % 4 = 0 THEN ''
        |             ELSE '?b=' || CAST(doc_id % 7 AS VARCHAR)
        |                  || '&a=' || CAST(doc_id % 3 AS VARCHAR) END)
        |    || '#Section-2' AS url
        |  FROM documents),
        |parts AS (
        |  SELECT doc_id,
        |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |    lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#:]*)', 1)) AS host,
        |    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#:]*:([0-9]+)', 1) AS p_port,
        |    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path0,
        |    regexp_extract(url, '\?([^#]*)', 1) AS qry
        |  FROM u)
        |SELECT doc_id,
        |  scheme || '://' || host
        |  || (CASE WHEN p_port <> '' AND NOT ((scheme = 'http' AND p_port = '80')
        |             OR (scheme = 'https' AND p_port = '443'))
        |        THEN ':' || p_port ELSE '' END)
        |  || (CASE WHEN path0 = '' THEN '/' ELSE path0 END)
        |  || (CASE WHEN qry = '' THEN ''
        |        ELSE '?' || list_aggregate(list_sort(string_split(qry, '&')), 'string_agg', '&') END)
        |    AS url_canon
        |FROM parts""".stripMargin,

    // Unicode NFC: the same decomposed-sequence salt, DuckDB's
    // nfc_normalize vs the JDK Normalizer — both the Unicode-standard
    // canonical composition, bit-exact.
    "q_normalize_unicode" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    text || ' Cafe' || chr(769) || ' nai' || chr(776) || 've A'
        |         || chr(778) || 'ngstro' || chr(776) || 'm' AS raw
        |  FROM documents)
        |SELECT doc_id, CAST(len(raw) AS BIGINT) AS n_raw,
        |  nfc_normalize(raw) AS text_nfc,
        |  CAST(len(nfc_normalize(raw)) AS BIGINT) AS n_nfc
        |FROM d""".stripMargin,

    // End-to-end web pipeline: synthesis + extract/compose/canonicalize
    // chains replayed, URL-level keep-min dedup, survivor token counts.
    "q_pipeline_web" ->
      """WITH raw AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTP://' ELSE 'https://' END)
        |    || 'WWW.Mirror' || CAST(doc_id % 25 AS VARCHAR) || '.Example.COM:80/'
        |    || source || '/page?b=2&a=1#top' AS url,
        |    '<html><body><script>track()</script><h1>' || source || '</h1><p>'
        |    || replace(replace(replace(text, '&', '&amp;'), '<', '&lt;'), '>', '&gt;')
        |    || ' Cafe' || chr(769) || '</p></body></html>' AS html
        |  FROM documents),
        |parts AS (
        |  SELECT doc_id,
        |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |    lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#:]*)', 1)) AS host,
        |    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#:]*:([0-9]+)', 1) AS p_port,
        |    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path0,
        |    regexp_extract(url, '\?([^#]*)', 1) AS qry,
        |    html
        |  FROM raw),
        |rec AS (
        |  SELECT doc_id,
        |    scheme || '://' || host
        |    || (CASE WHEN p_port <> '' AND NOT ((scheme = 'http' AND p_port = '80')
        |               OR (scheme = 'https' AND p_port = '443'))
        |          THEN ':' || p_port ELSE '' END)
        |    || (CASE WHEN path0 = '' THEN '/' ELSE path0 END)
        |    || (CASE WHEN qry = '' THEN ''
        |          ELSE '?' || list_aggregate(list_sort(string_split(qry, '&')), 'string_agg', '&') END)
        |      AS url_canon,
        |    nfc_normalize(trim(regexp_replace(
        |      replace(replace(replace(replace(replace(replace(
        |        regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
        |          '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        |          '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
        |          '(?s)<!--.*?-->', ' ', 'g'),
        |          '<[^>]*>', ' ', 'g'),
        |        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        |        '&nbsp;', ' '), '&amp;', '&'),
        |      '[ \t\n\f\r]+', ' ', 'g'))) AS text_clean
        |  FROM parts),
        |keep AS (
        |  SELECT url_canon, MIN(doc_id) AS doc_id FROM rec GROUP BY url_canon)
        |SELECT r.doc_id, r.url_canon,
        |  CAST(len(list_filter(string_split_regex(r.text_clean, '[ \t\n\f\r]+'), x -> len(x) > 0)) AS BIGINT) AS n_tok
        |FROM rec r JOIN keep k ON k.url_canon = r.url_canon AND k.doc_id = r.doc_id""".stripMargin,

    // Top-20 corpus bigrams, deterministic (count desc, bigram asc) cut.
    "q_bigrams" ->
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS w
        |  FROM documents),
        |bg AS (
        |  SELECT unnest([list_aggregate(w[i:i+1], 'string_agg', ' ') for i in generate_series(1, len(w)-1)]) AS bigram
        |  FROM tok WHERE len(w) >= 2)
        |SELECT bigram, COUNT(*) AS n FROM bg GROUP BY 1
        |ORDER BY n DESC, bigram ASC LIMIT 20""".stripMargin,

    // PMI collocations: exact unigram/bigram counts, the single ln under
    // the shared expression text + round(.,6) (Collocations.pmiSql).
    "q_pmi" ->
      s"""WITH tok AS (
         |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0) AS w
         |  FROM documents),
         |unic AS (
         |  SELECT tok, COUNT(*) AS n_tok
         |  FROM (SELECT unnest(w) AS tok FROM tok) GROUP BY 1),
         |bgc AS (
         |  SELECT bigram, COUNT(*) AS n_ab FROM (
         |    SELECT unnest([list_aggregate(w[i:i+1], 'string_agg', ' ')
         |      for i in generate_series(1, len(w)-1)]) AS bigram
         |    FROM tok WHERE len(w) >= 2) GROUP BY 1),
         |tots AS (
         |  SELECT (SELECT SUM(n_tok) FROM unic) AS n_uni_total,
         |         (SELECT SUM(n_ab) FROM bgc) AS n_bg_total),
         |sel AS (
         |  SELECT string_split(bigram, ' ')[1] AS tok_a,
         |         string_split(bigram, ' ')[2] AS tok_b, n_ab
         |  FROM bgc WHERE n_ab >= 5)
         |SELECT s.tok_a, s.tok_b, s.n_ab,
         |  a.n_tok AS n_a, b.n_tok AS n_b,
         |  CAST(n_uni_total AS BIGINT) AS n_uni_total,
         |  CAST(n_bg_total AS BIGINT) AS n_bg_total
         |FROM sel s
         |JOIN unic a ON a.tok = s.tok_a
         |JOIN unic b ON b.tok = s.tok_b
         |CROSS JOIN tots""".stripMargin,

    // Fold = (first 2 md5 hex digits) mod 5, via digit arithmetic
    // (the simhash oracle's hex-digit trick — same numeric value as
    // Spark's conv(substr(md5, 1, 2), 16, 10)).
    "q_folds" ->
      """WITH f AS (
        |  SELECT doc_id, n_chars,
        |    ((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
        |      + strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) % 5 AS fold
        |  FROM documents)
        |SELECT CAST(fold AS BIGINT) AS fold, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM f GROUP BY 1""".stripMargin,

    // Deterministic shuffle + shard (Sampling.shuffleShard): position =
    // rank in md5('graft_' || id) order (id tie-break), shard =
    // round-robin over the permutation. The oracle's global row_number
    // replicates the distributed range-sort + zipWithIndex exactly.
    "q_shuffle_shard" ->
      """SELECT doc_id,
        |  CAST(ROW_NUMBER() OVER (
        |    ORDER BY md5('graft_' || CAST(doc_id AS VARCHAR)), doc_id) - 1
        |    AS BIGINT) AS shuffle_pos,
        |  CAST((ROW_NUMBER() OVER (
        |    ORDER BY md5('graft_' || CAST(doc_id AS VARCHAR)), doc_id) - 1) % 8
        |    AS BIGINT) AS shard
        |FROM documents""".stripMargin,

    // Curriculum ordering: rank by (token count, id) -> nPhases equal
    // bands, then the total order (phase, md5 key, id).
    "q_curriculum" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(text, '[^ \t\n\f\r]+')) AS BIGINT) AS difficulty
        |  FROM documents),
        |t AS (SELECT COUNT(*) AS n_total FROM s),
        |r AS (
        |  SELECT doc_id, difficulty,
        |    ROW_NUMBER() OVER (ORDER BY difficulty, doc_id) - 1 AS rnk
        |  FROM s),
        |p AS (
        |  SELECT doc_id, difficulty,
        |    CAST((rnk * 4) // n_total AS INT) AS phase,
        |    md5('graft_' || CAST(doc_id AS VARCHAR)) AS k
        |  FROM r, t)
        |SELECT doc_id, difficulty, phase,
        |  CAST(ROW_NUMBER() OVER (ORDER BY phase, k, doc_id) - 1 AS BIGINT)
        |    AS curriculum_pos
        |FROM p""".stripMargin,

    // Repetition: duplicated-trigram fraction per doc, all in-row.
    "q_repetition" ->
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS w
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    [list_aggregate(w[i:i+2], 'string_agg', ' ') for i in generate_series(1, len(w)-2)] AS sh
        |  FROM tok WHERE len(w) >= 3)
        |SELECT doc_id,
        |  CAST(len(sh) AS BIGINT) AS n_grams,
        |  CAST(len(list_distinct(sh)) AS BIGINT) AS n_distinct,
        |  round(1.0 - CAST(len(list_distinct(sh)) AS DOUBLE) / CAST(len(sh) AS DOUBLE), 6) AS rep_fraction
        |FROM g""".stripMargin,

    // Decontamination: distinct 8-gram sets per side, shingle equi-join,
    // per-(train, bench) overlap count. Same tokenizer as everything else.
    "q_contamination" ->
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS w
        |  FROM documents),
        |sh8 AS (
        |  SELECT DISTINCT doc_id,
        |    unnest([list_aggregate(w[i:i+7], 'string_agg', ' ') for i in generate_series(1, len(w)-7)]) AS shingle
        |  FROM tok WHERE len(w) >= 8),
        |b AS (SELECT doc_id AS bench_id, shingle FROM sh8 WHERE doc_id % 50 = 0)
        |SELECT s.doc_id AS train_id, b.bench_id, COUNT(*) AS n_shared
        |FROM sh8 s JOIN b USING (shingle)
        |GROUP BY 1, 2""".stripMargin,

    // Duplicated-span trimming (Dedup.trimDuplicateSpans, k=10): same
    // tokenize/gram conventions as the other shingle oracles, with
    // POSITIONS carried via struct comprehensions; corpus occurrence
    // count as a window (the single-pass df pattern); removal = union of
    // [pos, pos+9] for duplicated starts; rebuild orders by token index.
    // Variable-length exact substring dedup (Lee et al. ExactSubstr):
    // the plain repeated-30-gram coverage rule — count per md5(gram)
    // (the engine's 16-byte exchange key, mirrored so the gate is
    // hash-exact including any 128-bit collision), starts merge into
    // maximal regions via the lag-gap island rule, removal indices
    // explode from disjoint islands, rebuild as in q_trim_spans.
    "q_dedup_substring" -> substrDedupSql(keepFirst = false),

    // keep-first (the Lee et al. published removal rule): the corpus-wide
    // first occurrence of each repeated gram survives; only the dup CTE's
    // rank filter differs from the remove-all variant.
    "q_dedup_substring_keepfirst" -> substrDedupSql(keepFirst = true),

    // keep-first (the Lee et al. published removal rule): the corpus-wide
    // first occurrence of each repeated gram survives; only the dup CTE's
    // rank filter differs from the remove-all variant.
    "q_trim_spans" ->
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, u['pos'] AS pos, u['s'] AS s FROM (
        |    SELECT doc_id,
        |      unnest([{'pos': i - 1, 's': list_aggregate(w[i:i+9], 'string_agg', ' ')}
        |              for i in generate_series(1, len(w) - 9)]) AS u
        |    FROM tok WHERE len(w) >= 10)),
        |dup AS (
        |  SELECT doc_id, pos FROM (
        |    SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY s) AS occ FROM sh)
        |  WHERE occ >= 2),
        |rem AS (
        |  SELECT DISTINCT doc_id, unnest(generate_series(pos, pos + 9)) AS idx FROM dup),
        |toki AS (
        |  SELECT doc_id, u['idx'] AS idx, u['t'] AS t FROM (
        |    SELECT doc_id, unnest([{'idx': i - 1, 't': w[i]} for i in generate_series(1, len(w))]) AS u
        |    FROM tok)),
        |kept AS (
        |  SELECT toki.doc_id, idx, t FROM toki
        |  WHERE NOT EXISTS (SELECT 1 FROM rem
        |                    WHERE rem.doc_id = toki.doc_id AND rem.idx = toki.idx)),
        |agg AS (
        |  SELECT doc_id, COUNT(*) AS n_kept,
        |    string_agg(t, ' ' ORDER BY idx) AS clean_text
        |  FROM kept GROUP BY 1)
        |SELECT tok.doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
        |  CAST(len(w) - COALESCE(n_kept, 0) AS BIGINT) AS n_removed,
        |  COALESCE(clean_text, '') AS clean_text
        |FROM tok LEFT JOIN agg USING (doc_id)""".stripMargin,

    // Bloom decontamination (Dedup.bloomContamination): identical probe
    // positions — 8 md5 hex chars per hash -> integer mod 2^17, the same
    // hex convention as the minhash/HLL oracles — so the bench bit-position
    // SET here equals the Spark side's literal bitset and even Bloom false
    // positives match bit-for-bit. A shingle hits iff ALL 4 positions are
    // set (SUM over the 4 unnested probes = 4; duplicate positions from a
    // within-shingle collision count per-occurrence on both engines).
    "q_contamination_bloom" ->
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS w
        |  FROM documents),
        |sh8 AS (
        |  SELECT DISTINCT doc_id,
        |    unnest([list_aggregate(w[i:i+7], 'string_agg', ' ') for i in generate_series(1, len(w)-7)]) AS shingle
        |  FROM tok WHERE len(w) >= 8),
        |pos AS (
        |  SELECT doc_id, shingle, unnest([
        |    ('0x' || substr(md5(shingle), 1, 8))::UBIGINT % 131072,
        |    ('0x' || substr(md5(shingle), 9, 8))::UBIGINT % 131072,
        |    ('0x' || substr(md5(shingle), 17, 8))::UBIGINT % 131072,
        |    ('0x' || substr(md5(shingle), 25, 8))::UBIGINT % 131072]) AS p
        |  FROM sh8),
        |bp AS (SELECT DISTINCT p FROM pos WHERE doc_id % 50 = 0),
        |hits AS (
        |  SELECT doc_id, shingle
        |  FROM pos
        |  GROUP BY doc_id, shingle
        |  HAVING SUM(CASE WHEN p IN (SELECT p FROM bp) THEN 1 ELSE 0 END) = 4)
        |SELECT doc_id, COUNT(*) AS n_flagged
        |FROM hits GROUP BY 1""".stripMargin,

    // Within-doc Shannon entropy H = ln(n) - (sum tf*ln(tf))/n; same
    // exact-decimal summation discipline as q_lm_score.
    "q_entropy" ->
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS w
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, t AS tok, COUNT(*) AS tf
        |  FROM (SELECT doc_id, unnest(w) AS t FROM tok) GROUP BY 1, 2)
        |SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
        |  ROUND(ln(CAST(SUM(tf) AS DOUBLE))
        |        - CAST(SUM(CAST(CAST(tf AS DOUBLE) * ln(CAST(tf AS DOUBLE))
        |                        AS DECIMAL(38,18))) AS DOUBLE)
        |          / CAST(SUM(tf) AS DOUBLE), 6) AS entropy
        |FROM tf
        |GROUP BY 1""".stripMargin,

    // Trained quality classifier: the clfCtes GD chain (4 iterations,
    // 64 hashed buckets, lr 0.5, target-slice labels), final scoring
    // pass under w4/b4; pred compares the UNROUNDED sigma to 0.5 exactly
    // as the Spark side does.
    "q_clf_quality" -> {
      s"""WITH ${clfCtes(64, 4, 0.5)}
         |SELECT f.doc_id, CAST(f.y AS INT) AS label,
         |  ROUND(1.0/(1.0 + exp(-(CAST(SUM(CAST(w.w AS DECIMAL(38,18))) AS DOUBLE) + b.bv))), 6) AS clf_score,
         |  (1.0/(1.0 + exp(-(CAST(SUM(CAST(w.w AS DECIMAL(38,18))) AS DOUBLE) + b.bv))) >= 0.5) AS pred
         |FROM feats f JOIN w4 w USING (bkt) CROSS JOIN b4 b
         |GROUP BY f.doc_id, f.y, b.bv""".stripMargin
    },

    // Active-learning uncertainty sampling: the same GD chain, per-source
    // 5 closest-to-boundary docs (round-6 |score − 0.5|, id ties).
    "q_active_learning" -> {
      s"""WITH ${clfCtes(64, 4, 0.5)},
         |scored AS (
         |  SELECT f.doc_id,
         |    ROUND(1.0/(1.0 + exp(-(CAST(SUM(CAST(w.w AS DECIMAL(38,18))) AS DOUBLE) + b.bv))), 6) AS clf_score
         |  FROM feats f JOIN w4 w USING (bkt) CROSS JOIN b4 b
         |  GROUP BY f.doc_id, b.bv),
         |u AS (
         |  SELECT d.source, s.doc_id, s.clf_score,
         |    round(abs(s.clf_score - 0.5), 6) AS uncertainty
         |  FROM scored s JOIN documents d USING (doc_id)),
         |r AS (
         |  SELECT source, doc_id, clf_score, uncertainty,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY uncertainty, doc_id) AS rnk
         |  FROM u)
         |SELECT source, CAST(rnk AS INTEGER) AS rnk, doc_id, clf_score, uncertainty
         |FROM r WHERE rnk <= 5""".stripMargin
    },

    // Within-source percentile normalization of the composite quality
    // score: (rank − 0.5)/n per source, keep = top decile of EACH source.
    "q_quality_percentile" ->
      s"""WITH q AS (
         |  SELECT doc_id, source, $qualityExpr AS quality FROM documents),
         |r AS (
         |  SELECT doc_id, source, quality,
         |    row_number() OVER (PARTITION BY source ORDER BY quality, doc_id) AS rn,
         |    COUNT(*) OVER (PARTITION BY source) AS n
         |  FROM q)
         |SELECT doc_id, source, quality,
         |  round((CAST(rn AS DOUBLE) - 0.5) / CAST(n AS DOUBLE), 6) AS pct,
         |  (round((CAST(rn AS DOUBLE) - 0.5) / CAST(n AS DOUBLE), 6) >= 0.9) AS keep
         |FROM r""".stripMargin,

    // Calibration: the same GD chain, scores bucketed into deciles;
    // mean score sums as DECIMAL so the aggregate is order-free, and the
    // only doubles are the single divisions both engines share.
    "q_clf_calibration" -> {
      s"""WITH ${clfCtes(64, 4, 0.5)},
         |scored AS (
         |  SELECT f.doc_id, f.y,
         |    ROUND(1.0/(1.0 + exp(-(CAST(SUM(CAST(w.w AS DECIMAL(38,18))) AS DOUBLE) + b.bv))), 6) AS clf_score
         |  FROM feats f JOIN w4 w USING (bkt) CROSS JOIN b4 b
         |  GROUP BY f.doc_id, f.y, b.bv),
         |cal AS (
         |  SELECT LEAST(CAST(floor(clf_score * 10) AS BIGINT), 9) AS decile,
         |    COUNT(*) AS n, SUM(CAST(y AS BIGINT)) AS pos,
         |    SUM(CAST(clf_score AS DECIMAL(38,18))) AS ssum
         |  FROM scored GROUP BY 1)
         |SELECT decile, n,
         |  ROUND(CAST(pos AS DOUBLE) / n, 6) AS obs_rate,
         |  ROUND(CAST(ssum AS DOUBLE) / n, 6) AS mean_score
         |FROM cal""".stripMargin
    },

    // ROC-AUC: same GD chain + scored CTE; tie-aware rank-sum with the
    // numerator doubled to stay an exact integer — one shared division.
    // Cohen's kappa between the quality-score filter and the length
    // filter: exact integer confusion counts from one pass, then the
    // textbook po/pe/kappa arithmetic on the shared literals.
    "q_clf_kappa" ->
      s"""WITH f AS (
         |  SELECT (($qualityExpr) >= 0.3) AS fa,
         |    (len(regexp_extract_all(text, '[^ \\t\\n\\f\\r]+')) >= 20) AS fb
         |  FROM documents),
         |c AS (SELECT
         |  CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(CASE WHEN fa AND fb THEN 1 ELSE 0 END) AS BIGINT) AS n11,
         |  CAST(SUM(CASE WHEN fa AND NOT fb THEN 1 ELSE 0 END) AS BIGINT) AS n10,
         |  CAST(SUM(CASE WHEN NOT fa AND fb THEN 1 ELSE 0 END) AS BIGINT) AS n01,
         |  CAST(SUM(CASE WHEN NOT fa AND NOT fb THEN 1 ELSE 0 END) AS BIGINT) AS n00
         |  FROM f)
         |SELECT n, n11, n10, n01, n00,
         |  round(CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS po,
         |  round((CAST(n11 + n10 AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(n11 + n01 AS DOUBLE) / CAST(n AS DOUBLE))
         |      + (1.0 - CAST(n11 + n10 AS DOUBLE) / CAST(n AS DOUBLE)) * (1.0 - CAST(n11 + n01 AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS pe,
         |  CASE WHEN ((CAST(n11 + n10 AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(n11 + n01 AS DOUBLE) / CAST(n AS DOUBLE))
         |      + (1.0 - CAST(n11 + n10 AS DOUBLE) / CAST(n AS DOUBLE)) * (1.0 - CAST(n11 + n01 AS DOUBLE) / CAST(n AS DOUBLE))) < 1.0
         |    THEN round((CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE)
         |      - ((CAST(n11 + n10 AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(n11 + n01 AS DOUBLE) / CAST(n AS DOUBLE))
         |      + (1.0 - CAST(n11 + n10 AS DOUBLE) / CAST(n AS DOUBLE)) * (1.0 - CAST(n11 + n01 AS DOUBLE) / CAST(n AS DOUBLE))))
         |      / (1.0 - ((CAST(n11 + n10 AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(n11 + n01 AS DOUBLE) / CAST(n AS DOUBLE))
         |      + (1.0 - CAST(n11 + n10 AS DOUBLE) / CAST(n AS DOUBLE)) * (1.0 - CAST(n11 + n01 AS DOUBLE) / CAST(n AS DOUBLE)))), 6)
         |  END AS kappa
         |FROM c""".stripMargin,

    // PSI drift monitor: fixed decile bins over [0,1] quality scores of
    // the base vs the noise-drifted snapshot; Laplace-smoothed
    // proportions, ln on round-6 shared text (values only), total =
    // DECIMAL-exact sum of the rounded terms. Shared verbatim by the
    // batch gate and q_stream_psi (the streamed histogram of the whole
    // table ≡ the batch histogram — counts are order-free).
    "q_psi_drift" -> psiDriftSql,
    "q_stream_psi" -> psiDriftSql,

    "q_clf_auc" -> {
      s"""WITH ${clfCtes(64, 4, 0.5)},
         |scored AS (
         |  SELECT f.doc_id, f.y,
         |    ROUND(1.0/(1.0 + exp(-(CAST(SUM(CAST(w.w AS DECIMAL(38,18))) AS DOUBLE) + b.bv))), 6) AS clf_score
         |  FROM feats f JOIN w4 w USING (bkt) CROSS JOIN b4 b
         |  GROUP BY f.doc_id, f.y, b.bv),
         |g AS (
         |  SELECT clf_score AS s, COUNT(*) AS n, SUM(CAST(y AS BIGINT)) AS np
         |  FROM scored GROUP BY 1),
         |c AS (
         |  SELECT n, np,
         |    SUM(n - np) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING
         |      AND CURRENT ROW) - (n - np) AS negb
         |  FROM g)
         |SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
         |  CAST(SUM(n - np) AS BIGINT) AS n_neg,
         |  round(CAST(SUM(np * 2 * negb + np * (n - np)) AS DOUBLE) /
         |    (2.0 * CAST(SUM(np) AS DOUBLE) * CAST(SUM(n - np) AS DOUBLE)), 6) AS auc
         |FROM c""".stripMargin
    },

    // CCNet perplexity buckets: the q_lm_score CTEs (rounded 6-dp score)
    // joined with the langId CASE chain, ranked per language on
    // (lm_score DESC, doc_id), then EXPLICIT ntile arithmetic on
    // (rank, group size) — same integer ops as the Spark side instead of
    // trusting two window implementations to tie-break alike.
    "q_ccnet_buckets" -> ccnetBucketsSql,

    // Same oracle: the GlobalIndex distributed-ranks branch (the scale
    // default, forced here) must label every document identically to the
    // windowed fast path q_ccnet_buckets takes at gate size.
    "q_ccnet_buckets_dist" -> ccnetBucketsSql,

    // DSIR hashed-n-gram importance weights: unigram+bigram buckets via
    // the md5-hex convention (identical ids to Spark's conv(substr(md5)));
    // per-bucket log-ratio computed in double with the same IEEE op order
    // as Dsir.importanceWeights, per-occurrence terms cast to
    // DECIMAL(38,18) so the per-doc SUM is exact and order-free.
    // Target slice = doc_id % 50 = 0, the decontamination convention.
    "q_dsir_weights" ->
      s"""$dsirCtes
        |SELECT doc_id, n_grams, dsir_logw FROM dw""".stripMargin,

    // DSIR selection executed: Gumbel-top-k over the same weights CTE —
    // u = (md5_32('graft_'||id) + 0.5)/2^32, g = logw − ln(−ln u), ranked
    // on the 6-dp ROUNDED key with id tie-break so both engines cut the
    // identical top-k set.
    "q_dsir_select" ->
      s"""$dsirCtes,
        |gum AS (
        |  SELECT doc_id, dsir_logw,
        |    ROUND(dsir_logw - ln(-ln(
        |      (('0x' || substr(md5('graft_' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT + 0.5)
        |        / 4294967296.0)), 6) AS gumbel_key
        |  FROM dw)
        |SELECT doc_id, dsir_logw, gumbel_key FROM gum
        |ORDER BY gumbel_key DESC, doc_id LIMIT 100""".stripMargin,

    // Per-(doc,token) term computed in double (identical IEEE ops to the
    // Spark side), cast to DECIMAL(38,18) so the SUM is exact and
    // order-free on both engines; DuckDB SUM(BIGINT) is HUGEINT -> cast.
    "q_lm_score" ->
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS w
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, t AS tok, COUNT(*) AS tf
        |  FROM (SELECT doc_id, unnest(w) AS t FROM tok) GROUP BY 1, 2),
        |tot AS (SELECT CAST(SUM(tf) AS DOUBLE) AS total FROM tf),
        |cnt AS (SELECT tok, CAST(SUM(tf) AS DOUBLE) AS cnt FROM tf GROUP BY 1)
        |SELECT tf.doc_id, CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
        |  ROUND(CAST(SUM(CAST(CAST(tf.tf AS DOUBLE) * ln(cnt.cnt / tot.total)
        |                      AS DECIMAL(38,18))) AS DOUBLE)
        |        / CAST(SUM(tf.tf) AS DOUBLE), 6) AS lm_score
        |FROM tf JOIN cnt USING (tok) CROSS JOIN tot
        |GROUP BY 1""".stripMargin,

    // Stupid-backoff bigram LM (Brants et al. 2007): counts from the
    // train slice, the held-out seventh scored with the exact expression
    // text the Spark side evaluates — seen ln(c2/c1), unseen
    // ln(0.4 * ((c_w + 1)/(N + V + 1))) — per-occurrence DECIMAL sums.
    "q_lm_bigram" ->
      """WITH tokt AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS w
        |  FROM documents WHERE doc_id % 7 <> 0),
        |uni AS (
        |  SELECT t AS tok, COUNT(*) AS c1
        |  FROM (SELECT unnest(w) AS t FROM tokt) GROUP BY 1),
        |tot AS (SELECT COALESCE(SUM(c1), 0) AS n_total, COUNT(*) AS v_size FROM uni),
        |bgc AS (
        |  SELECT b, COUNT(*) AS c2 FROM (
        |    SELECT unnest([list_aggregate(w[i:i+1], 'string_agg', ' ')
        |                   for i in generate_series(1, len(w) - 1)]) AS b
        |    FROM tokt WHERE len(w) >= 2) GROUP BY 1),
        |bgr AS (
        |  SELECT bgc.b, CAST(bgc.c2 AS DOUBLE) / CAST(u.c1 AS DOUBLE) AS r
        |  FROM bgc JOIN uni u ON u.tok = string_split(bgc.b, ' ')[1]),
        |toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS w
        |  FROM documents WHERE doc_id % 7 = 0),
        |occ AS (
        |  SELECT doc_id, b, string_split(b, ' ')[2] AS tok FROM (
        |    SELECT doc_id, unnest([list_aggregate(w[i:i+1], 'string_agg', ' ')
        |                           for i in generate_series(1, len(w) - 1)]) AS b
        |    FROM toks WHERE len(w) >= 2))
        |SELECT occ.doc_id, COUNT(*) AS n_bigrams,
        |  ROUND(CAST(SUM(CAST(
        |    CASE WHEN bgr.r IS NOT NULL THEN ln(bgr.r)
        |         ELSE ln(0.4 * ((CAST(COALESCE(u.c1, 0) AS DOUBLE) + 1.0)
        |                / (CAST(t.n_total AS DOUBLE) + CAST(t.v_size AS DOUBLE) + 1.0))) END
        |    AS DECIMAL(38,18))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS lm2_score
        |FROM occ LEFT JOIN bgr ON occ.b = bgr.b
        |LEFT JOIN uni u ON occ.tok = u.tok
        |CROSS JOIN tot t
        |GROUP BY 1""".stripMargin,

    // Interpolated Kneser-Ney bigram: absolute discount D=0.75 with
    // continuation-count redistribution — every ratio from integer count
    // tables with identical IEEE op order, one ln per position,
    // DECIMAL-exact sums.
    "q_lm_kn" ->
      """WITH tokt AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS w
        |  FROM documents WHERE doc_id % 7 <> 0),
        |uni AS (
        |  SELECT t AS tok, COUNT(*) AS c1
        |  FROM (SELECT unnest(w) AS t FROM tokt) GROUP BY 1),
        |bgx AS (
        |  SELECT b, COUNT(*) AS c2,
        |    string_split(ANY_VALUE(b), ' ')[1] AS v,
        |    string_split(ANY_VALUE(b), ' ')[2] AS wd
        |  FROM (
        |    SELECT unnest([list_aggregate(w[i:i+1], 'string_agg', ' ')
        |                   for i in generate_series(1, len(w) - 1)]) AS b
        |    FROM tokt WHERE len(w) >= 2) GROUP BY b),
        |ctx AS (SELECT v, SUM(c2) AS cv, COUNT(*) AS n1f FROM bgx GROUP BY 1),
        |bwd AS (SELECT wd, COUNT(*) AS n1b FROM bgx GROUP BY 1),
        |tot AS (
        |  SELECT (SELECT COUNT(*) FROM bgx) AS n_bg,
        |    (SELECT COUNT(*) FROM uni) AS v_size),
        |toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS w
        |  FROM documents WHERE doc_id % 7 = 0),
        |occ AS (
        |  SELECT doc_id, b, string_split(b, ' ')[1] AS v, string_split(b, ' ')[2] AS wd FROM (
        |    SELECT doc_id, unnest([list_aggregate(w[i:i+1], 'string_agg', ' ')
        |                           for i in generate_series(1, len(w) - 1)]) AS b
        |    FROM toks WHERE len(w) >= 2)),
        |scored AS (
        |  SELECT occ.doc_id,
        |    CASE WHEN ctx.cv IS NOT NULL THEN
        |      greatest(CAST(COALESCE(bgx.c2, 0) AS DOUBLE) - 0.75, 0.0) / CAST(ctx.cv AS DOUBLE)
        |      + (0.75 * CAST(ctx.n1f AS DOUBLE) / CAST(ctx.cv AS DOUBLE))
        |        * ((CAST(COALESCE(bwd.n1b, 0) AS DOUBLE) + 1.0)
        |           / (CAST(t.n_bg AS DOUBLE) + CAST(t.v_size AS DOUBLE) + 1.0))
        |    ELSE ((CAST(COALESCE(bwd.n1b, 0) AS DOUBLE) + 1.0)
        |          / (CAST(t.n_bg AS DOUBLE) + CAST(t.v_size AS DOUBLE) + 1.0)) END AS p
        |  FROM occ LEFT JOIN bgx ON occ.b = bgx.b
        |  LEFT JOIN ctx ON occ.v = ctx.v
        |  LEFT JOIN bwd ON occ.wd = bwd.wd
        |  CROSS JOIN tot t)
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        |  ROUND(CAST(SUM(CAST(ln(p) AS DECIMAL(38,18))) AS DOUBLE)
        |        / CAST(COUNT(*) AS DOUBLE), 6) AS kn_score
        |FROM scored GROUP BY 1""".stripMargin,

    // Moore–Lewis cross-entropy difference: add-one unigram LM pair
    // (in-domain = src0, general = all), per-token ln-diff, decimal sums.
    "q_select_moore_lewis" ->
      """WITH tin AS (
        |  SELECT list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS w
        |  FROM documents WHERE source = 'src0'),
        |uin AS (
        |  SELECT t AS tok, COUNT(*) AS c_in
        |  FROM (SELECT unnest(w) AS t FROM tin) GROUP BY 1),
        |totin AS (SELECT COALESCE(SUM(c_in), 0) AS n_in, COUNT(*) AS v_in FROM uin),
        |tgen AS (
        |  SELECT list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS w
        |  FROM documents),
        |ugen AS (
        |  SELECT t AS tok, COUNT(*) AS c_gen
        |  FROM (SELECT unnest(w) AS t FROM tgen) GROUP BY 1),
        |totgen AS (SELECT COALESCE(SUM(c_gen), 0) AS n_gen, COUNT(*) AS v_gen FROM ugen),
        |occ AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS tok
        |  FROM documents),
        |sc AS (
        |  SELECT occ.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |    ROUND(CAST(SUM(CAST(
        |      ln((CAST(COALESCE(i.c_in, 0) AS DOUBLE) + 1.0)
        |         / (CAST(ti.n_in AS DOUBLE) + CAST(ti.v_in AS DOUBLE) + 1.0))
        |      - ln((CAST(COALESCE(g.c_gen, 0) AS DOUBLE) + 1.0)
        |         / (CAST(tg.n_gen AS DOUBLE) + CAST(tg.v_gen AS DOUBLE) + 1.0))
        |      AS DECIMAL(38,18))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS ml_score
        |  FROM occ
        |  LEFT JOIN uin i ON occ.tok = i.tok
        |  LEFT JOIN ugen g ON occ.tok = g.tok
        |  CROSS JOIN totin ti CROSS JOIN totgen tg
        |  GROUP BY 1)
        |SELECT doc_id, n_tokens, ml_score, (ml_score > 0.0) AS selected FROM sc""".stripMargin,

    // Jelinek–Mercer interpolated trigram LM: fixed 0.5/0.3/0.2 weights
    // over trigram/bigram ML ratios + the add-one unigram floor, the
    // same op order as the engine ((l3·f3 + l2·f2) + l1·p1).
    "q_lm_jm" ->
      """WITH tokt AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS w
        |  FROM documents WHERE doc_id % 7 <> 0),
        |uni AS (
        |  SELECT t AS tok, COUNT(*) AS c1
        |  FROM (SELECT unnest(w) AS t FROM tokt) GROUP BY 1),
        |tot AS (SELECT COALESCE(SUM(c1), 0) AS n_total, COUNT(*) AS v_size FROM uni),
        |bgc AS (
        |  SELECT b, COUNT(*) AS c2 FROM (
        |    SELECT unnest([list_aggregate(w[i:i+1], 'string_agg', ' ')
        |                   for i in generate_series(1, len(w) - 1)]) AS b
        |    FROM tokt WHERE len(w) >= 2) GROUP BY 1),
        |bgr AS (
        |  SELECT bgc.b, CAST(bgc.c2 AS DOUBLE) / CAST(u.c1 AS DOUBLE) AS r2
        |  FROM bgc JOIN uni u ON u.tok = string_split(bgc.b, ' ')[1]),
        |tgc AS (
        |  SELECT t3, COUNT(*) AS c3 FROM (
        |    SELECT unnest([list_aggregate(w[i:i+2], 'string_agg', ' ')
        |                   for i in generate_series(1, len(w) - 2)]) AS t3
        |    FROM tokt WHERE len(w) >= 3) GROUP BY 1),
        |tgr AS (
        |  SELECT tgc.t3, CAST(tgc.c3 AS DOUBLE) / CAST(b.c2 AS DOUBLE) AS r3
        |  FROM tgc JOIN bgc b
        |    ON b.b = string_split(tgc.t3, ' ')[1] || ' ' || string_split(tgc.t3, ' ')[2]),
        |toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS w
        |  FROM documents WHERE doc_id % 7 = 0),
        |occ AS (
        |  SELECT doc_id, t3,
        |    string_split(t3, ' ')[2] || ' ' || string_split(t3, ' ')[3] AS b,
        |    string_split(t3, ' ')[3] AS tok FROM (
        |    SELECT doc_id, unnest([list_aggregate(w[i:i+2], 'string_agg', ' ')
        |                           for i in generate_series(1, len(w) - 2)]) AS t3
        |    FROM toks WHERE len(w) >= 3))
        |SELECT occ.doc_id, COUNT(*) AS n_trigrams,
        |  ROUND(CAST(SUM(CAST(ln(
        |      0.5 * COALESCE(tgr.r3, 0.0) + 0.3 * COALESCE(bgr.r2, 0.0)
        |      + 0.2 * ((CAST(COALESCE(u.c1, 0) AS DOUBLE) + 1.0)
        |          / (CAST(t.n_total AS DOUBLE) + CAST(t.v_size AS DOUBLE) + 1.0))
        |    ) AS DECIMAL(38,18))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS lm3_score
        |FROM occ LEFT JOIN tgr ON occ.t3 = tgr.t3
        |LEFT JOIN bgr ON occ.b = bgr.b
        |LEFT JOIN uni u ON occ.tok = u.tok
        |CROSS JOIN tot t
        |GROUP BY 1""".stripMargin,

    // DoReMi domain reweighting: same count tables / scored positions as
    // q_lm_bigram, per-domain clipped excess ln(S/u) summed DECIMAL-exact,
    // one softmax step from uniform (exp under the round-6 libm rule,
    // totals in exact decimal — the mixWeights precedent).
    "q_mix_doremi" ->
      """WITH tokt AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS w
        |  FROM documents WHERE doc_id % 7 <> 0),
        |uni AS (
        |  SELECT t AS tok, COUNT(*) AS c1
        |  FROM (SELECT unnest(w) AS t FROM tokt) GROUP BY 1),
        |tot AS (SELECT COALESCE(SUM(c1), 0) AS n_total, COUNT(*) AS v_size FROM uni),
        |bgc AS (
        |  SELECT b, COUNT(*) AS c2 FROM (
        |    SELECT unnest([list_aggregate(w[i:i+1], 'string_agg', ' ')
        |                   for i in generate_series(1, len(w) - 1)]) AS b
        |    FROM tokt WHERE len(w) >= 2) GROUP BY 1),
        |bgr AS (
        |  SELECT bgc.b, CAST(bgc.c2 AS DOUBLE) / CAST(u.c1 AS DOUBLE) AS r
        |  FROM bgc JOIN uni u ON u.tok = string_split(bgc.b, ' ')[1]),
        |toks AS (
        |  SELECT doc_id, source, list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS w
        |  FROM documents WHERE doc_id % 7 = 0),
        |occ AS (
        |  SELECT doc_id, source, b, string_split(b, ' ')[2] AS tok FROM (
        |    SELECT doc_id, source, unnest([list_aggregate(w[i:i+1], 'string_agg', ' ')
        |                           for i in generate_series(1, len(w) - 1)]) AS b
        |    FROM toks WHERE len(w) >= 2)),
        |scored AS (
        |  SELECT occ.source,
        |    CASE WHEN bgr.r IS NOT NULL THEN ln(bgr.r)
        |         ELSE ln(0.4 * ((CAST(COALESCE(u.c1, 0) AS DOUBLE) + 1.0)
        |                / (CAST(t.n_total AS DOUBLE) + CAST(t.v_size AS DOUBLE) + 1.0))) END AS ln_s,
        |    ln((CAST(COALESCE(u.c1, 0) AS DOUBLE) + 1.0)
        |       / (CAST(t.n_total AS DOUBLE) + CAST(t.v_size AS DOUBLE) + 1.0)) AS ln_u
        |  FROM occ LEFT JOIN bgr ON occ.b = bgr.b
        |  LEFT JOIN uni u ON occ.tok = u.tok
        |  CROSS JOIN tot t),
        |dom AS (
        |  SELECT source, COUNT(*) AS n_positions,
        |    CAST(SUM(CAST(greatest(0.0, ln_s - ln_u) AS DECIMAL(38,18))) AS DOUBLE)
        |      / CAST(COUNT(*) AS DOUBLE) AS mean_ex
        |  FROM scored GROUP BY 1),
        |e AS (SELECT source, n_positions, mean_ex, exp(1.0 * mean_ex) AS ee FROM dom),
        |etot AS (SELECT CAST(SUM(CAST(ee AS DECIMAL(28,10))) AS DOUBLE) AS e_tot,
        |  COUNT(*) AS n_dom FROM e)
        |SELECT source, n_positions, ROUND(mean_ex, 6) AS excess_loss,
        |  ROUND((1.0 - 0.01) * (ee / e_tot) + 0.01 / CAST(n_dom AS DOUBLE), 6) AS doremi_weight
        |FROM e, etot""".stripMargin,

    // Same shingle construction as q_contamination (RE2 \s tokenizer,
    // space-joined 5-grams, DISTINCT per doc); SUM over an int CASE is
    // HUGEINT in DuckDB -> cast to BIGINT to match Spark's long.
    "q_dup_ngrams" ->
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS w
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest([list_aggregate(w[i:i+4], 'string_agg', ' ') for i in generate_series(1, len(w)-4)]) AS shingle
        |  FROM tok WHERE len(w) >= 5),
        |df AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY 1)
        |SELECT s.doc_id, COUNT(*) AS n_grams,
        |  CAST(SUM(CASE WHEN df.df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        |  ROUND(CAST(SUM(CASE WHEN df.df > 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |        / CAST(COUNT(*) AS DOUBLE), 6) AS dup_frac
        |FROM sh s JOIN df USING (shingle)
        |GROUP BY 1""".stripMargin,

    // Exact prefix-filtered similarity join: the oracle is the ALL-PAIRS
    // brute force — completeness of the prefix candidacy is exactly what
    // the hash gate checks (a missed pair hash-mismatches).
    "q_jaccard_join" ->
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS w
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest([list_aggregate(w[i:i+2], 'string_agg', ' ') for i in generate_series(1, len(w)-2)]) AS shingle
        |  FROM tok WHERE len(w) >= 3),
        |nn AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
        |ii AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        |  round(CAST(inter AS DOUBLE) / CAST(na.n + nb.n - inter AS DOUBLE), 6) AS jaccard
        |FROM ii JOIN nn na ON na.doc_id = doc_a JOIN nn nb ON nb.doc_id = doc_b
        |WHERE CAST(inter AS DOUBLE) / CAST(na.n + nb.n - inter AS DOUBLE) >= 0.1""".stripMargin,

    // LSH S-curve planner: divisor splits of the 128-hash budget, curve
    // threshold (1/b)^(1/r) and collision prob 1-(1-s^r)^b at the grid —
    // pows under the round-6 libm rule.
    "q_lsh_plan" ->
      """WITH sp AS (
        |  SELECT b, 128 // b AS r FROM (SELECT unnest(generate_series(1, 128)) AS b)
        |  WHERE 128 % b = 0)
        |SELECT b, r,
        |  round(pow(1.0 / CAST(b AS DOUBLE), 1.0 / CAST(r AS DOUBLE)), 6) AS s_threshold,
        |  round(1.0 - pow(1.0 - pow(0.3, CAST(r AS DOUBLE)), CAST(b AS DOUBLE)), 6) AS p30,
        |  round(1.0 - pow(1.0 - pow(0.5, CAST(r AS DOUBLE)), CAST(b AS DOUBLE)), 6) AS p50,
        |  round(1.0 - pow(1.0 - pow(0.7, CAST(r AS DOUBLE)), CAST(b AS DOUBLE)), 6) AS p70,
        |  round(1.0 - pow(1.0 - pow(0.8, CAST(r AS DOUBLE)), CAST(b AS DOUBLE)), 6) AS p80,
        |  round(1.0 - pow(1.0 - pow(0.9, CAST(r AS DOUBLE)), CAST(b AS DOUBLE)), 6) AS p90
        |FROM sp""".stripMargin,

    // Soft deduplication: mean excess shingle document-frequency and the
    // 1/(1 + mean_excess) sampling weight — two IEEE divisions and one
    // multiply-add from exact integer counts, bit-identical in any engine.
    "q_dedup_soft" ->
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS w
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest([list_aggregate(w[i:i+4], 'string_agg', ' ') for i in generate_series(1, len(w)-4)]) AS shingle
        |  FROM tok WHERE len(w) >= 5),
        |df AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY 1)
        |SELECT s.doc_id, COUNT(*) AS n_grams,
        |  CAST(SUM(df.df - 1) AS BIGINT) AS sum_excess_df,
        |  ROUND(CAST(SUM(df.df - 1) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS mean_excess_df,
        |  ROUND(1.0 / (1.0 + 1.0 * (CAST(SUM(df.df - 1) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))), 6) AS soft_weight
        |FROM sh s JOIN df USING (shingle)
        |GROUP BY 1""".stripMargin,

    // Duplication-aware sampling: the soft-dedup weights consumed by the
    // priority sampler — mass = soft_weight x chars, then the standard
    // u = (U56+1)/2^56 priority, rank <= 100, tau at 101.
    "q_sample_soft" ->
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS w
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest([list_aggregate(w[i:i+4], 'string_agg', ' ') for i in generate_series(1, len(w)-4)]) AS shingle
        |  FROM tok WHERE len(w) >= 5),
        |df AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY 1),
        |sw AS (
        |  SELECT s.doc_id,
        |    ROUND(1.0 / (1.0 + 1.0 * (CAST(SUM(df.df - 1) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))), 6) AS soft_weight
        |  FROM sh s JOIN df USING (shingle) GROUP BY 1),
        |mass AS (
        |  SELECT sw.doc_id, sw.soft_weight * CAST(d.n_chars AS DOUBLE) AS m
        |  FROM sw JOIN documents d USING (doc_id)),
        |p AS (
        |  SELECT doc_id, m AS weight,
        |    m / (CAST(('0x' || substr(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 14))::UBIGINT::BIGINT + 1 AS DOUBLE)
        |        / 72057594037927936.0) AS priority
        |  FROM mass),
        |r AS (SELECT doc_id, weight, priority,
        |    ROW_NUMBER() OVER (ORDER BY priority DESC, doc_id ASC) AS rn FROM p),
        |tau AS (SELECT MAX(CASE WHEN rn = 101 THEN priority END) AS t FROM r)
        |SELECT doc_id, weight, priority,
        |  greatest(weight, COALESCE(t, 0.0)) AS weight_est
        |FROM r, tau WHERE rn <= 100""".stripMargin,

    // Paragraph-level cross-doc duplication: non-overlapping 10-token
    // blocks; a block is "dup" when it occurs in >= 2 DISTINCT documents.
    // Counts are per block OCCURRENCE (a doc's repeated shared block
    // counts each time), mirroring the per-row window in
    // Dedup.dupParagraphFraction; DuckDB joins each occurrence to its
    // block's distinct-doc count instead.
    "q_dup_paragraphs" ->
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS w
        |  FROM documents),
        |para AS (
        |  SELECT doc_id,
        |    unnest([list_aggregate(w[(i-1)*10+1 : i*10], 'string_agg', ' ')
        |            for i in generate_series(1, CAST((len(w)-1)//10 AS INT) + 1)]) AS block
        |  FROM tok WHERE len(w) > 0),
        |df AS (SELECT block, COUNT(DISTINCT doc_id) AS nd FROM para GROUP BY 1)
        |SELECT p.doc_id, COUNT(*) AS n_paras,
        |  CAST(SUM(CASE WHEN df.nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        |  ROUND(CAST(SUM(CASE WHEN df.nd > 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |        / CAST(COUNT(*) AS DOUBLE), 6) AS dup_para_frac
        |FROM para p JOIN df USING (block)
        |GROUP BY 1""".stripMargin,

    "q_histogram" ->
      """SELECT event_type,
        |  CAST(least(greatest(floor(value / 5.0), 0), 19) AS BIGINT) AS bucket,
        |  COUNT(*) AS n
        |FROM events GROUP BY 1, 2""".stripMargin,

    // "view" is a DuckDB keyword — quoted alias keeps the column name.
    "q_pivot" ->
      """SELECT user_id,
        |  COUNT(*) FILTER (WHERE event_type = 'click') AS click,
        |  COUNT(*) FILTER (WHERE event_type = 'view') AS "view",
        |  COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |  COUNT(*) FILTER (WHERE event_type = 'error') AS error,
        |  COUNT(*) FILTER (WHERE event_type = 'signup') AS signup
        |FROM events GROUP BY user_id""".stripMargin,

    // Explicit ROWS frame for the running mean (DuckDB's ORDER BY default
    // is RANGE); (user_id, ts) is duplicate-free so ordering is total.
    "q_window_analytics" ->
      """WITH p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS uts, value
        |           FROM events WHERE event_type = 'purchase')
        |SELECT user_id, epoch_us(uts) AS ts_us, value,
        |  lag(value, 1) OVER w AS prev_value,
        |  round(avg(value) OVER (PARTITION BY user_id ORDER BY uts
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS running_avg,
        |  CAST(row_number() OVER w AS BIGINT) AS seq
        |FROM p WINDOW w AS (PARTITION BY user_id ORDER BY uts)""".stripMargin,

    // TF-IDF: same tokenizer as the dedup oracles; tf * ln(N/df) with the
    // exact operand order of TfIdf.score, rounded to 6 decimals both sides.
    // BM25: identical per-term contribution text (round-6 idf ln, the
    // same k1/b literals, DECIMAL(38,18) contribution sums) and the
    // identical top-20 (bm25 DESC, doc_id) cut.
    "q_bm25" ->
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS w
        |  FROM documents),
        |e AS (SELECT doc_id, len(w) AS dl, unnest(w) AS t FROM tok),
        |tfq AS (
        |  SELECT doc_id, dl, t AS tok, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM e WHERE t IN ('customer', 'spark', 'vector', 'window')
        |  GROUP BY 1, 2, 3),
        |stats AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    SUM(CAST(len(w) AS DECIMAL(38,0))) AS tok_total
        |  FROM tok),
        |dft AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tfq GROUP BY 1),
        |sc AS (
        |  SELECT f.doc_id,
        |    CAST(round(ln((CAST(s.n_docs AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5) /
        |        (CAST(d.df AS DOUBLE) + 0.5) + 1.0), 6) *
        |      (CAST(f.tf AS DOUBLE) * 2.2) /
        |      (CAST(f.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(f.dl AS DOUBLE) /
        |        (CAST(s.tok_total AS DOUBLE) / CAST(s.n_docs AS DOUBLE)))) AS DECIMAL(38,18)) AS contrib
        |  FROM tfq f JOIN dft d USING (tok), stats s),
        |g AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms_hit,
        |    round(CAST(SUM(contrib) AS DOUBLE), 6) AS bm25
        |  FROM sc GROUP BY doc_id),
        |r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rnk FROM g)
        |SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, n_terms_hit, bm25
        |FROM r WHERE rnk <= 20""".stripMargin,

    // Hybrid retrieval: the bm25 CTEs cut at 100, the brute-cosine list
    // for query vector 7 cut at 100, absent-side-zero RRF, top 20.
    "q_hybrid_search" -> {
      s"""WITH tok AS (
         |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0) AS w
         |  FROM documents),
         |e AS (SELECT doc_id, len(w) AS dl, unnest(w) AS t FROM tok),
         |tfq AS (
         |  SELECT doc_id, dl, t AS tok, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM e WHERE t IN ('customer', 'spark', 'vector', 'window')
         |  GROUP BY 1, 2, 3),
         |stats AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    SUM(CAST(len(w) AS DECIMAL(38,0))) AS tok_total
         |  FROM tok),
         |dft AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tfq GROUP BY 1),
         |sc AS (
         |  SELECT f.doc_id,
         |    CAST(round(ln((CAST(s.n_docs AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5) /
         |        (CAST(d.df AS DOUBLE) + 0.5) + 1.0), 6) *
         |      (CAST(f.tf AS DOUBLE) * 2.2) /
         |      (CAST(f.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(f.dl AS DOUBLE) /
         |        (CAST(s.tok_total AS DOUBLE) / CAST(s.n_docs AS DOUBLE)))) AS DECIMAL(38,18)) AS contrib
         |  FROM tfq f JOIN dft d USING (tok), stats s),
         |g AS (
         |  SELECT doc_id, round(CAST(SUM(contrib) AS DOUBLE), 6) AS bm25
         |  FROM sc GROUP BY doc_id),
         |lex AS (SELECT doc_id, rnk AS lex_rank FROM (
         |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rnk FROM g)
         |  WHERE rnk <= 100),
         |qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 7),
         |cv AS (SELECT vec_id AS nid, embedding AS ce FROM embeddings WHERE vec_id <> 7),
         |p2 AS (SELECT nid, ${cosSql("qe", "ce")} AS cosine FROM cv, qv),
         |dns AS (SELECT nid AS doc_id, rk AS dense_rank FROM (
         |  SELECT nid, ROW_NUMBER() OVER (ORDER BY cosine DESC, nid) AS rk FROM p2)
         |  WHERE rk <= 100),
         |fz AS (
         |  SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id,
         |    CAST(l.lex_rank AS BIGINT) AS lex_rank,
         |    CAST(d.dense_rank AS BIGINT) AS dense_rank,
         |    round(COALESCE(1.0 / (60.0 + CAST(l.lex_rank AS DOUBLE)), 0.0) +
         |          COALESCE(1.0 / (60.0 + CAST(d.dense_rank AS DOUBLE)), 0.0), 6) AS rrf_score
         |  FROM lex l FULL OUTER JOIN dns d ON l.doc_id = d.doc_id),
         |t AS (SELECT *, ROW_NUMBER() OVER (ORDER BY rrf_score DESC, doc_id) AS rnk FROM fz)
         |SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, lex_rank, dense_rank, rrf_score
         |FROM t WHERE rnk <= 20""".stripMargin
    },

    // Per-source keyword labeling: group-as-super-document tf·ln(G/df),
    // top-5 per source, identical ln expression text (round 6).
    "q_source_keywords" ->
      """WITH tok AS (
        |  SELECT source, list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS w
        |  FROM documents),
        |e AS (SELECT source, unnest(w) AS tok FROM tok),
        |g AS (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS tf_g FROM e GROUP BY 1, 2),
        |d AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df_g FROM g GROUP BY 1),
        |n AS (SELECT CAST(COUNT(DISTINCT source) AS BIGINT) AS n_groups FROM g),
        |s AS (
        |  SELECT g.source, g.tok, g.tf_g, d.df_g,
        |    round(CAST(g.tf_g AS DOUBLE) * ln(CAST(n.n_groups AS DOUBLE) / CAST(d.df_g AS DOUBLE)), 6) AS tfidf_r
        |  FROM g JOIN d USING (tok), n),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
        |        ORDER BY tfidf_r DESC, tok) AS rnk FROM s)
        |SELECT source, CAST(rnk AS BIGINT) AS rnk, tok, tf_g, df_g, tfidf_r
        |FROM r WHERE rnk <= 5""".stripMargin,

    "q_tfidf" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS tok
        |  FROM documents),
        |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.tok, tf.tf,
        |    round(CAST(tf.tf AS DOUBLE) * ln(CAST(n.n AS DOUBLE) / CAST(df.df AS DOUBLE)), 6) AS tfidf_r
        |  FROM tf JOIN df USING (tok), n),
        |r AS (SELECT doc_id, tok, tf, tfidf_r,
        |  ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf_r DESC, tok ASC) AS rk FROM scored)
        |SELECT doc_id, CAST(rk AS BIGINT) AS rnk, tok, tf, tfidf_r FROM r WHERE rk <= 3""".stripMargin,

    // Deterministic stratified sample: md5 hex threshold per stratum —
    // identical subset in any engine with md5.
    "q_sample_stratified" ->
      """SELECT event_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value
        |FROM events
        |WHERE md5(CAST(event_id AS VARCHAR)) <
        |  CASE event_type WHEN 'purchase' THEN 'ff' WHEN 'error' THEN '80'
        |    WHEN 'click' THEN '40' WHEN 'view' THEN '20' WHEN 'signup' THEN '10' END""".stripMargin,

    // Priority sampling: u = (U56+1)/2^56 (exact power-of-two division),
    // priority = w/u (one correctly-rounded IEEE division) — bit-identical
    // to the Spark side; tau = the (k+1)-th priority; est = max(w, tau).
    "q_sample_priority" -> prioritySampleSql,

    // STREAMING priority-sample maintenance: the top-(k+1) candidate set
    // is merge-closed under (priority DESC, id ASC), lives as streaming-agg
    // state, and the final state feeds the batch sampler — streamed
    // sample ≡ batch sample, so the oracle IS the batch SQL.
    "q_stream_sample_priority" -> prioritySampleSql,

    // Temperature-scaled mixing weights: tempered powers summed in exact
    // decimal (order-free), every double from the same expression text.
    "q_mix_weights" ->
      """WITH mt AS (
        |  SELECT source, CAST(SUM(len(regexp_extract_all(text, '[^ \t\n\f\r]+'))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |mw AS (SELECT source, n_tokens, pow(CAST(n_tokens AS DOUBLE), 0.5) AS pw FROM mt),
        |mtot AS (SELECT CAST(SUM(CAST(pw AS DECIMAL(28,10))) AS DOUBLE) AS pw_total FROM mw)
        |SELECT mw.source, mw.n_tokens,
        |  round(pw / pw_total, 6) AS weight,
        |  CAST(round(1000000.0 * pw / pw_total, 0) AS BIGINT) AS alloc_tokens,
        |  CASE WHEN n_tokens = 0 THEN 0.0
        |       ELSE round(1000000.0 * pw / pw_total / CAST(n_tokens AS DOUBLE), 6)
        |  END AS epochs
        |FROM mw, mtot""".stripMargin,

    // Data-constrained scaling plan: uniform split, repeat-decay
    // effective tokens D' = U + U·R*·(1 − e^(−R/R*)) with R* = 15.4 —
    // floor for the long alloc (both engines agree on floor; bare casts
    // diverge), exp under the round-6 libm rule, identical IEEE order.
    "q_mix_constrained" ->
      """WITH mt AS (
        |  SELECT source, CAST(SUM(len(regexp_extract_all(text, '[^ \t\n\f\r]+'))) AS BIGINT) AS u_tokens
        |  FROM documents GROUP BY 1),
        |k AS (SELECT COUNT(*) AS n_sources FROM mt),
        |al AS (
        |  SELECT source, u_tokens,
        |    CAST(floor(26000 / n_sources) AS BIGINT) AS alloc_tokens
        |  FROM mt, k)
        |SELECT source, u_tokens, alloc_tokens,
        |  CASE WHEN u_tokens = 0 THEN 0.0
        |       ELSE round(CAST(alloc_tokens AS DOUBLE) / CAST(u_tokens AS DOUBLE), 6) END AS epochs,
        |  CASE WHEN u_tokens = 0 THEN 0.0
        |       ELSE round(greatest(0.0, CAST(alloc_tokens AS DOUBLE) / CAST(u_tokens AS DOUBLE) - 1.0), 6) END AS repeats,
        |  round(CASE WHEN u_tokens = 0 THEN 0.0
        |       WHEN CAST(alloc_tokens AS DOUBLE) <= CAST(u_tokens AS DOUBLE) THEN CAST(alloc_tokens AS DOUBLE)
        |       ELSE CAST(u_tokens AS DOUBLE) + CAST(u_tokens AS DOUBLE) * 15.4 *
        |         (1.0 - exp((-(CAST(alloc_tokens AS DOUBLE) / CAST(u_tokens AS DOUBLE) - 1.0)) / 15.4)) END, 6) AS eff_tokens,
        |  CASE WHEN alloc_tokens = 0 THEN 0.0
        |       ELSE round(CASE WHEN u_tokens = 0 THEN 0.0
        |         WHEN CAST(alloc_tokens AS DOUBLE) <= CAST(u_tokens AS DOUBLE) THEN CAST(alloc_tokens AS DOUBLE)
        |         ELSE CAST(u_tokens AS DOUBLE) + CAST(u_tokens AS DOUBLE) * 15.4 *
        |           (1.0 - exp((-(CAST(alloc_tokens AS DOUBLE) / CAST(u_tokens AS DOUBLE) - 1.0)) / 15.4)) END
        |         / CAST(alloc_tokens AS DOUBLE), 6) END AS efficiency
        |FROM al""".stripMargin,

    // UniMax water-filling: the capped set is decided in pure BIGINT
    // arithmetic (cap*(L-i+1) <= B - prefix), so it is exact on both
    // engines; the only double is the uncapped share division, mirrored
    // operand-for-operand. DuckDB window SUM(BIGINT) is HUGEINT -> cast.
    "q_unimax" ->
      """WITH mt AS (
        |  SELECT source, CAST(SUM(len(regexp_extract_all(text, '[^ \t\n\f\r]+'))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |capd AS (
        |  SELECT source, n_tokens, n_tokens * 4 AS cap_tokens FROM mt),
        |rk AS (
        |  SELECT source, n_tokens, cap_tokens,
        |    ROW_NUMBER() OVER (ORDER BY cap_tokens, source) AS i,
        |    CAST(COALESCE(SUM(cap_tokens) OVER (
        |      ORDER BY cap_tokens, source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS pfx,
        |    COUNT(*) OVER () AS l
        |  FROM capd),
        |fl AS (
        |  SELECT *, (cap_tokens * (l - i + 1) <= 1000000 - pfx) AS is_capped FROM rk),
        |ag AS (
        |  SELECT *,
        |    CAST(SUM(CASE WHEN is_capped THEN cap_tokens ELSE 0 END) OVER () AS BIGINT) AS sum_capped,
        |    CAST(SUM(CASE WHEN is_capped THEN 1 ELSE 0 END) OVER () AS BIGINT) AS n_capped
        |  FROM fl),
        |al AS (
        |  SELECT source, n_tokens, cap_tokens,
        |    CASE WHEN is_capped THEN CAST(cap_tokens AS DOUBLE)
        |         ELSE CAST(1000000 - sum_capped AS DOUBLE) /
        |              CAST(greatest(1, l - n_capped) AS DOUBLE) END AS alloc
        |  FROM ag)
        |SELECT source, n_tokens, cap_tokens,
        |  CAST(round(alloc, 0) AS BIGINT) AS alloc_tokens,
        |  round(alloc / 1000000.0, 6) AS weight,
        |  CASE WHEN n_tokens = 0 THEN 0.0
        |       ELSE round(alloc / CAST(n_tokens AS DOUBLE), 6) END AS epochs
        |FROM al""".stripMargin,

    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,

    // Per-source cap: the 20 smallest md5(doc_id) per source.
    "q_cap_per_source" ->
      """WITH cr AS (
        |  SELECT doc_id, source, n_chars,
        |    ROW_NUMBER() OVER (
        |      PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rn
        |  FROM documents)
        |SELECT doc_id, source, n_chars FROM cr WHERE rn <= 20""".stripMargin,

    // Mixture execution: the q_mix_weights allocation turned into a
    // deterministic per-source md5 threshold. The keep rate divides the
    // allocator's two LONG outputs (alloc_tokens / n_tokens) so the
    // double is bit-identical cross-engine with no fresh pow surface.
    "q_mix_sample" ->
      """WITH mt AS (
        |  SELECT source, CAST(SUM(len(regexp_extract_all(text, '[^ \t\n\f\r]+'))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |mw AS (SELECT source, n_tokens, pow(CAST(n_tokens AS DOUBLE), 0.5) AS pw FROM mt),
        |mtot AS (SELECT CAST(SUM(CAST(pw AS DECIMAL(28,10))) AS DOUBLE) AS pw_total FROM mw),
        |mr AS (
        |  SELECT mw.source, mw.n_tokens,
        |    CAST(round(20000.0 * pw / pw_total, 0) AS BIGINT) AS alloc_tokens
        |  FROM mw, mtot),
        |mb AS (
        |  SELECT source,
        |    CAST(floor(least(1.0, CAST(alloc_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE))
        |      * 4294967296.0) AS BIGINT) AS keep_bound
        |  FROM mr)
        |SELECT d.doc_id, d.source
        |FROM documents d JOIN mb ON d.source = mb.source
        |WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::UBIGINT::BIGINT
        |  < mb.keep_bound""".stripMargin,

    // Latest-wins upsert: row_number over the union — an independent
    // formulation of Corpus.upsert's max-over-(version, side) struct.
    "q_upsert" -> upsertSql,

    // STREAMING CDC apply: the same updates delivered as micro-batches
    // into the marker-gated append-only log, served merge-on-read —
    // streamed log ∪ base ≡ batch upsert, so the oracle IS the batch SQL.
    "q_stream_upsert" -> upsertSql,

    // Snapshot diff: full outer join on the id, only non-unchanged rows.
    "q_corpus_diff" ->
      """WITH a AS (SELECT doc_id, text FROM documents),
        |b AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 1 THEN text || ' v2' ELSE text END AS text
        |  FROM documents WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000000, text FROM documents WHERE doc_id % 5 = 0),
        |j AS (SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
        |    CASE WHEN a.doc_id IS NULL THEN 'added'
        |         WHEN b.doc_id IS NULL THEN 'removed'
        |         WHEN a.text IS DISTINCT FROM b.text THEN 'changed' END AS status
        |  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
        |SELECT doc_id, status FROM j WHERE status IS NOT NULL""".stripMargin,

    "q_dedup_exact" ->
      """SELECT sha256(text) AS content_hash, CAST(MIN(doc_id) AS BIGINT) AS keep_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,

    "q_dedup_minhash" ->
      (minhashCtes + "SELECT doc_a, doc_b FROM pairs"),

    // TF-weighted Jaccard verify over the same candidate pairs: exact
    // integer min-sums on intersection tokens, Σmax = totA + totB − Σmin,
    // integer cross-multiplied threshold (5·Σmin >= Σmax for J_w >= 1/5).
    "q_dedup_jaccard_weighted" ->
      (minhashCtes +
        """, tokw AS (
          |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS tok
          |  FROM documents),
          |tfw AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tokw GROUP BY 1, 2),
          |totw AS (SELECT doc_id, SUM(tf) AS tot FROM tfw GROUP BY 1),
          |iv AS (
          |  SELECT p.doc_a, p.doc_b, SUM(LEAST(a.tf, b.tf)) AS sum_min
          |  FROM pairs p
          |  JOIN tfw a ON a.doc_id = p.doc_a
          |  JOIN tfw b ON b.doc_id = p.doc_b AND b.tok = a.tok
          |  GROUP BY 1, 2)
          |SELECT iv.doc_a, iv.doc_b, CAST(iv.sum_min AS BIGINT) AS sum_min,
          |  CAST(ta.tot AS BIGINT) AS tot_a, CAST(tb.tot AS BIGINT) AS tot_b,
          |  round(CAST(iv.sum_min AS DOUBLE)
          |        / CAST(ta.tot + tb.tot - iv.sum_min AS DOUBLE), 6) AS jw
          |FROM iv
          |JOIN totw ta ON ta.doc_id = iv.doc_a
          |JOIN totw tb ON tb.doc_id = iv.doc_b
          |WHERE iv.sum_min * 5 >= (ta.tot + tb.tot - iv.sum_min) * 1""".stripMargin),

    // b-bit minwise hashing: lowest 4 bits = the last hex char of the
    // band signature; agreement over the shared candidate pairs; the
    // estimate is the same two IEEE ops from exact longs.
    "q_dedup_minhash_bbit" ->
      (minhashCtes +
        """, bbv AS (
          |  SELECT doc_id, b, CAST(('0x' || substr(sig, 16, 1))::UBIGINT AS INT) AS v
          |  FROM mh),
          |ag AS (
          |  SELECT p.doc_a, p.doc_b, COUNT(*) AS n_bands,
          |    SUM(CASE WHEN x.v = y.v THEN 1 ELSE 0 END) AS n_agree
          |  FROM pairs p
          |  JOIN bbv x ON x.doc_id = p.doc_a
          |  JOIN bbv y ON y.doc_id = p.doc_b AND y.b = x.b
          |  GROUP BY 1, 2)
          |SELECT doc_a, doc_b, CAST(n_bands AS BIGINT) AS n_bands,
          |  CAST(n_agree AS BIGINT) AS n_agree,
          |  round((CAST(n_agree AS DOUBLE) / 8.0 - 0.0625) / 0.9375, 6) AS j_bbit_est
          |FROM ag""".stripMargin),

    // One-permutation hashing mirrored bit-for-bit: bin = hi mod 16
    // (unsigned), bin value = MIN(lo), empty bins take the nearest
    // non-empty bin rightward (circular) plus the distance, mod 2^64 —
    // the rotation-densification rule of OphSigsExpr.
    "q_dedup_minhash_oph" ->
      (minhashCtes +
        """, bm AS (
          |  SELECT doc_id, CAST(hi % 16 AS INT) AS bin, MIN(lo) AS mn
          |  FROM hl GROUP BY 1, 2),
          |grid AS (
          |  SELECT d.doc_id, CAST(j AS INT) AS bin
          |  FROM (SELECT DISTINCT doc_id FROM bm) d,
          |       (SELECT unnest(generate_series(0, 15)) AS j) js),
          |near AS (
          |  SELECT g.doc_id, g.bin, m.mn, ((m.bin - g.bin + 16) % 16) AS d,
          |    ROW_NUMBER() OVER (PARTITION BY g.doc_id, g.bin
          |                       ORDER BY ((m.bin - g.bin + 16) % 16)) AS rn
          |  FROM grid g JOIN bm m ON m.doc_id = g.doc_id)
          |SELECT doc_id, bin,
          |  lower(lpad(to_hex(((mn + d) % 18446744073709551616::HUGEINT)::UBIGINT), 16, '0')) AS sig
          |FROM near WHERE rn = 1""".stripMargin),
    // Incremental = batch-over-union restricted to pairs touching the new
    // (odd-id) shard; old-old pairs were already known at index-build time.
    "q_dedup_incremental" ->
      (minhashCtes +
        "SELECT doc_a, doc_b FROM pairs WHERE doc_a % 2 = 1 OR doc_b % 2 = 1"),
    // Streaming incremental ingest: the union of the per-micro-batch pair
    // sets must equal the batch incremental answer — same oracle.
    "q_stream_dedup_incremental" ->
      (minhashCtes +
        "SELECT doc_a, doc_b FROM pairs WHERE doc_a % 2 = 1 OR doc_b % 2 = 1"),
    // Heavy-hitter prune mirrored: drop (band, sig) buckets larger than
    // maxBucket = 3 BEFORE pairing (Dedup.candidatesFromSigs guard).
    "q_dedup_minhash_pruned" ->
      (minhashCtes +
        """, bigb AS (
          |  SELECT b, sig FROM mh GROUP BY b, sig HAVING COUNT(*) > 3),
          |kept AS (
          |  SELECT m.doc_id, m.b, m.sig FROM mh m
          |  WHERE NOT EXISTS (SELECT 1 FROM bigb g WHERE g.b = m.b AND g.sig = m.sig)),
          |ppairs AS (
          |  SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
          |  FROM kept a JOIN kept b2 ON a.b = b2.b AND a.sig = b2.sig AND a.doc_id < b2.doc_id)
          |SELECT doc_a, doc_b FROM ppairs""".stripMargin),

    // Detector evaluation: ground truth = co-shingle pairs (complete for
    // jaccard > 0) with exact jaccard >= 0.5; candidates = the shared
    // `pairs` CTE (the production LSH path); one row of counts + rates.
    "q_dedup_minhash_eval" ->
      (minhashCtes +
        """, cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
          |co AS (
          |  SELECT DISTINCT s1.doc_id AS doc_a, s2.doc_id AS doc_b
          |  FROM sh s1 JOIN sh s2 ON s2.shingle = s1.shingle AND s1.doc_id < s2.doc_id),
          |coi AS (
          |  SELECT p.doc_a, p.doc_b, COUNT(*) AS i
          |  FROM co p
          |  JOIN sh s1 ON s1.doc_id = p.doc_a
          |  JOIN sh s2 ON s2.doc_id = p.doc_b AND s2.shingle = s1.shingle
          |  GROUP BY 1, 2),
          |truth AS (
          |  SELECT c.doc_a, c.doc_b FROM coi c
          |  JOIN cnt ca ON ca.doc_id = c.doc_a JOIN cnt cb ON cb.doc_id = c.doc_b
          |  WHERE CAST(c.i AS DOUBLE) / CAST(ca.n + cb.n - c.i AS DOUBLE) >= 0.5),
          |m AS (
          |  SELECT (SELECT COUNT(*) FROM truth) AS n_true,
          |         (SELECT COUNT(*) FROM pairs) AS n_cand,
          |         (SELECT COUNT(*) FROM truth t
          |            JOIN pairs p ON p.doc_a = t.doc_a AND p.doc_b = t.doc_b) AS n_hit)
          |SELECT CAST(n_true AS BIGINT) AS n_true, CAST(n_cand AS BIGINT) AS n_cand,
          |  CAST(n_hit AS BIGINT) AS n_hit,
          |  CASE WHEN n_cand = 0 THEN 0.0
          |       ELSE ROUND(CAST(n_hit AS DOUBLE) / n_cand, 6) END AS prec,
          |  CASE WHEN n_true = 0 THEN 0.0
          |       ELSE ROUND(CAST(n_hit AS DOUBLE) / n_true, 6) END AS recall
          |FROM m""".stripMargin),

    // Leakage-safe split: fold key = the doc's verified dedup cluster id
    // (own id when unclustered), then the q_folds md5-hex fold arithmetic
    // at k = 10, last two folds val/test.
    "q_split_leakage_safe" ->
      (minhashCtes.replaceFirst("^WITH ", "WITH RECURSIVE ") + componentsClosureCtes +
        """, clus AS (
          |  SELECT id AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY id),
          |keyed AS (
          |  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS split_key
          |  FROM documents d LEFT JOIN clus c ON c.doc_id = d.doc_id),
          |f AS (
          |  SELECT doc_id, split_key,
          |    ((strpos('0123456789abcdef', substr(md5(CAST(split_key AS VARCHAR)), 1, 1)) - 1) * 16
          |      + strpos('0123456789abcdef', substr(md5(CAST(split_key AS VARCHAR)), 2, 1)) - 1) % 10 AS fold
          |  FROM keyed)
          |SELECT doc_id, CAST(split_key AS BIGINT) AS split_key,
          |  CAST(fold AS BIGINT) AS fold,
          |  CASE WHEN fold < 8 THEN 'train' WHEN fold < 9 THEN 'val'
          |       ELSE 'test' END AS split
          |FROM f""".stripMargin),

    // Dedup clusters: recursive-CTE transitive closure (min label per
    // node) over the SAME verified-pair edge set the Spark side builds
    // (LSH candidates filtered to exact jaccard >= 0.5) — an independent
    // formulation of Components.connectedComponents' propagation loop.
    "q_dedup_components" ->
      (minhashCtes.replaceFirst("^WITH ", "WITH RECURSIVE ") + componentsClosureCtes +
        """SELECT id AS doc_id, CAST(MIN(lbl) AS BIGINT) AS cluster_id
          |FROM reach GROUP BY id""".stripMargin),

    // Duplication report: the same closure folded to the one-row summary.
    "q_dedup_report" ->
      (minhashCtes.replaceFirst("^WITH ", "WITH RECURSIVE ") + componentsClosureCtes +
        """, cl AS (SELECT id, MIN(lbl) AS lbl FROM reach GROUP BY id),
          |szs AS (SELECT lbl, COUNT(*) AS sz FROM cl GROUP BY lbl),
          |st AS (
          |  SELECT CAST(SUM(sz) AS BIGINT) AS n_clustered_docs,
          |    CAST(COUNT(*) AS BIGINT) AS n_clusters,
          |    CAST(MAX(sz) AS BIGINT) AS max_cluster_size
          |  FROM szs),
          |nd AS (SELECT COUNT(*) AS n_docs FROM documents)
          |SELECT n_docs, n_clustered_docs, n_clusters,
          |  n_clustered_docs - n_clusters AS n_duplicate_docs,
          |  round(CAST(n_clustered_docs - n_clusters AS DOUBLE) /
          |        CAST(n_docs AS DOUBLE), 6) AS dup_fraction,
          |  max_cluster_size
          |FROM st, nd""".stripMargin),

    // Same oracle as q_dedup_components: the distributed
    // large-star/small-star path must produce the identical clustering.
    "q_dedup_components_dist" ->
      (minhashCtes.replaceFirst("^WITH ", "WITH RECURSIVE ") + componentsClosureCtes +
        """SELECT id AS doc_id, CAST(MIN(lbl) AS BIGINT) AS cluster_id
          |FROM reach GROUP BY id""".stripMargin),

    // Same oracle again: the INCREMENTALLY-maintained label map (history
    // clustering + frontier update from the arriving shard's pairs) must
    // equal the batch closure over the union — the engine's history/new
    // split is internal lifecycle, invisible to the answer.
    "q_dedup_components_incremental" ->
      (minhashCtes.replaceFirst("^WITH ", "WITH RECURSIVE ") + componentsClosureCtes +
        """SELECT id AS doc_id, CAST(MIN(lbl) AS BIGINT) AS cluster_id
          |FROM reach GROUP BY id""".stripMargin),

    // Mirrors SimhashExpr: per-token 64-bit hash = first 8 bytes of
    // md5(token), bit j = (byte[j/8] >> (j%8)) & 1; simhash bit j set iff
    // the bit-vote sum is >= 0. The impl's 4-band candidacy is COMPLETE at
    // maxHamming 3 (pigeonhole), so the all-pairs hamming join is the
    // exact oracle of its output.
    "q_dedup_simhash" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS tok
        |  FROM documents),
        |th AS (SELECT doc_id, md5(tok) AS h FROM tok),
        |bits AS (
        |  SELECT doc_id, j,
        |    SUM(CASE WHEN (
        |      ((strpos('0123456789abcdef', substr(h, (j//8)*2+1, 1)) - 1) * 16
        |        + strpos('0123456789abcdef', substr(h, (j//8)*2+2, 1)) - 1)
        |      >> (j % 8)) & 1 = 1 THEN 1 ELSE -1 END) AS s
        |  FROM th, (SELECT unnest(generate_series(0, 63)) AS j) js
        |  GROUP BY doc_id, j),
        |sh2 AS (
        |  SELECT doc_id,
        |    CAST(SUM(CASE WHEN s >= 0 AND j < 63 THEN (1::BIGINT << j) ELSE 0 END)
        |      + SUM(CASE WHEN s >= 0 AND j = 63 THEN (-9223372036854775807 - 1) ELSE 0 END) AS BIGINT) AS simhash
        |  FROM bits GROUP BY doc_id)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
        |FROM sh2 a JOIN sh2 b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin,

    "q_ngram_jaccard" ->
      (minhashCtes +
        """, cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
          |inter AS (
          |  SELECT p.doc_a, p.doc_b, COUNT(*) AS i
          |  FROM pairs p
          |  JOIN sh s1 ON s1.doc_id = p.doc_a
          |  JOIN sh s2 ON s2.doc_id = p.doc_b AND s2.shingle = s1.shingle
          |  GROUP BY 1, 2)
          |SELECT i2.doc_a, i2.doc_b,
          |  CAST(i2.i AS DOUBLE) / CAST(ca.n + cb.n - i2.i AS DOUBLE) AS jaccard
          |FROM inter i2 JOIN cnt ca ON ca.doc_id = i2.doc_a JOIN cnt cb ON cb.doc_id = i2.doc_b
          |WHERE CAST(i2.i AS DOUBLE) / CAST(ca.n + cb.n - i2.i AS DOUBLE) >= 0.2""".stripMargin),

    "q_ann_brute" -> {
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 20),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS ce FROM embeddings),
         |p AS (SELECT query_id, neighbor_id, ${cosSql("qe", "ce")} AS cosine
         |  FROM c, q WHERE neighbor_id <> query_id),
         |r AS (SELECT query_id, neighbor_id, cosine,
         |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk FROM p)
         |SELECT query_id, CAST(rk AS BIGINT) AS rnk, neighbor_id, cosine FROM r WHERE rk <= 5""".stripMargin
    },

    // MMR diverse selection: the greedy λ·rel − (1−λ)·max-sim loop
    // unrolled as k chained argmax CTEs over the brute pool's pairwise
    // round-6 cosine table — selection and scores replay exactly. Every
    // CTE is MATERIALIZED: pick i references its predecessors twice, so
    // DuckDB's default inlining re-expands the chain exponentially
    // (measured minutes at k = 8; milliseconds materialized).
    "q_ann_mmr" -> {
      val k = 8
      val pool = 64
      val picks = (2 to k).map { i =>
        s"""p$i AS MATERIALIZED (
           |  SELECT c.id, c.rel, MAX(ps.sim) AS ms
           |  FROM pool c
           |  JOIN ps ON ps.ia = c.id
           |  JOIN s${i - 1} s ON ps.ib = s.id
           |  WHERE c.id NOT IN (SELECT id FROM s${i - 1})
           |  GROUP BY c.id, c.rel
           |  ORDER BY 0.7 * c.rel - (1.0 - 0.7) * MAX(ps.sim) DESC, c.id LIMIT 1),
           |s$i AS MATERIALIZED (SELECT id FROM s${i - 1} UNION ALL SELECT id FROM p$i)""".stripMargin
      }.mkString(",\n")
      val out = (1 to k).map(i =>
        s"SELECT CAST($i AS BIGINT) AS rnk, id AS vec_id, rel AS relevance, " +
          s"round(0.7 * rel - (1.0 - 0.7) * ms, 6) AS mmr_score FROM p$i")
        .mkString("\nUNION ALL\n")
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |pool AS MATERIALIZED (
         |  SELECT id, rel FROM (
         |    SELECT id, rel, row_number() OVER (ORDER BY rel DESC, id) AS rn FROM (
         |      SELECT e.vec_id AS id, ${cosSql("qe", "e.embedding")} AS rel
         |      FROM embeddings e, q WHERE e.vec_id <> 0))
         |  WHERE rn <= $pool),
         |pv AS MATERIALIZED (SELECT p.id, e.embedding FROM pool p JOIN embeddings e ON e.vec_id = p.id),
         |ps AS MATERIALIZED (
         |  SELECT a.id AS ia, b.id AS ib, ${cosSql("a.embedding", "b.embedding")} AS sim
         |  FROM pv a, pv b WHERE a.id <> b.id),
         |p1 AS MATERIALIZED (SELECT id, rel, 0.0 AS ms FROM pool ORDER BY rel DESC, id LIMIT 1),
         |s1 AS MATERIALIZED (SELECT id FROM p1),
         |$picks
         |$out""".stripMargin
    },

    // Contrastive pair mining: positives >= 0.4, top-4 hard negatives
    // below, per anchor (the q_ann_brute score table + a rank window).
    "q_mine_pairs" -> {
      s"""WITH q AS (SELECT vec_id AS anchor_id, embedding AS qe FROM embeddings WHERE vec_id < 40),
         |c AS (SELECT vec_id AS cand_id, embedding AS ce FROM embeddings),
         |p AS (SELECT anchor_id, cand_id, ${cosSql("qe", "ce")} AS cosine
         |  FROM c, q WHERE cand_id <> anchor_id),
         |pos AS (
         |  SELECT anchor_id, cand_id, cosine, 'positive' AS pair_type
         |  FROM p WHERE cosine >= 0.4),
         |neg AS (
         |  SELECT anchor_id, cand_id, cosine, 'hard_negative' AS pair_type FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
         |      ORDER BY cosine DESC, cand_id) AS rn
         |    FROM p WHERE cosine < 0.4) WHERE rn <= 4)
         |SELECT * FROM pos UNION ALL SELECT * FROM neg""".stripMargin
    },

    // Embedding-space eval-set decontamination: per corpus vector, the
    // nearest eval example (cosine desc, eval id asc — the bruteTopK
    // rank convention) and the tau = 0.2 flag on the shared literal.
    "q_decontaminate_semantic" -> {
      s"""WITH ev AS (SELECT vec_id AS eid, embedding AS ee FROM embeddings WHERE vec_id < 40),
         |c AS (SELECT vec_id, embedding AS ce FROM embeddings WHERE vec_id >= 40),
         |p AS (SELECT c.vec_id, ev.eid, ${cosSql("ee", "ce")} AS cos FROM c, ev),
         |r AS (SELECT vec_id, eid, cos,
         |        ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, eid) AS rn
         |      FROM p)
         |SELECT vec_id, eid AS nearest_eval_id, cos AS max_cosine,
         |  (cos >= 0.2) AS contaminated
         |FROM r WHERE rn = 1""".stripMargin
    },

    // Matryoshka cut: the q_ann_brute query over the first 16 list
    // elements — cosine over the prefix IS truncate+renormalize.
    "q_ann_mrl" -> {
      s"""WITH q AS (SELECT vec_id AS query_id, embedding[1:16] AS qe FROM embeddings WHERE vec_id < 20),
         |c AS (SELECT vec_id AS neighbor_id, embedding[1:16] AS ce FROM embeddings),
         |p AS (SELECT query_id, neighbor_id, ${cosSql("qe", "ce")} AS cosine
         |  FROM c, q WHERE neighbor_id <> query_id),
         |r AS (SELECT query_id, neighbor_id, cosine,
         |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk FROM p)
         |SELECT query_id, CAST(rk AS BIGINT) AS rnk, neighbor_id, cosine FROM r WHERE rk <= 5""".stripMargin
    },

    // Margin-based mining (Ann.marginMine): ratio margin over k-NN
    // averages; DECIMAL sums make the averages order-free, every double
    // op shares its expression shape with the Spark side.
    "q_ann_margin" -> {
      def knnAvg(src: String, key: String, out: String) =
        s"""SELECT $key, round(CAST(SUM(CAST(cosine AS DECIMAL(38,18))) AS DOUBLE) /
           |  CAST(COUNT(*) AS DOUBLE), 6) AS $out FROM $src GROUP BY 1""".stripMargin
      s"""WITH aq AS (SELECT vec_id AS src_id, embedding AS qe FROM embeddings WHERE vec_id < 40),
         |bt AS (SELECT vec_id AS tgt_id, embedding AS ce FROM embeddings WHERE vec_id >= 40),
         |p AS (SELECT src_id, tgt_id, ${cosSql("qe", "ce")} AS cosine FROM bt, aq),
         |xk AS (SELECT * FROM (
         |  SELECT src_id, tgt_id, cosine,
         |    ROW_NUMBER() OVER (PARTITION BY src_id ORDER BY cosine DESC, tgt_id) AS rx
         |  FROM p) WHERE rx <= 8),
         |yk AS (SELECT * FROM (
         |  SELECT src_id, tgt_id, cosine,
         |    ROW_NUMBER() OVER (PARTITION BY tgt_id ORDER BY cosine DESC, src_id) AS ry
         |  FROM p) WHERE ry <= 8),
         |ax AS (${knnAvg("xk", "src_id", "avg_src")}),
         |ay AS (${knnAvg("yk", "tgt_id", "avg_tgt")}),
         |m AS (
         |  SELECT x.src_id, x.tgt_id, x.cosine,
         |    round(x.cosine / ((ax.avg_src + ay.avg_tgt) / 2.0), 6) AS margin_score
         |  FROM xk x JOIN ax USING (src_id) JOIN ay USING (tgt_id)),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY src_id
         |        ORDER BY margin_score DESC, tgt_id) AS rm FROM m)
         |SELECT src_id, tgt_id, cosine, margin_score
         |FROM r WHERE rm = 1 AND margin_score >= 1.45""".stripMargin
    },

    "q_ann_lsh" -> lshBucketSql,

    // Densification: dense id = rank of the original id in ascending
    // order, 0-based — Ann.densify's range-partition + zipWithIndex is
    // exactly a distributed row_number() - 1.
    "q_densify" ->
      """WITH sparse AS (SELECT vec_id * 7 + 3 AS orig_id FROM embeddings)
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY orig_id) - 1 AS BIGINT) AS vec_id,
        |  orig_id
        |FROM sparse""".stripMargin,

    // K-means corpus clustering: the shared Lloyd CTEs end in `cells`
    // (every vector → nearest final centroid) — exactly the operator's
    // output. Cluster ids are INTs on both sides.
    // Embedding OOD screen: the kmeans assignment + squared centroid
    // distance (e2 - sc), then the q_outliers_mad rank-then-middle
    // median machinery per cell; display z projected out (the
    // decimal-tie discipline), exact x/med/mad + unrounded-compare flag.
    "q_outliers_embedding" ->
      s"""WITH ${kmeansCtes(cells = 16, sampleN = 512, iters = 2, dim = 64)},
         |asn AS (
         |  SELECT vec_id, cid AS cluster_id, sc FROM (
         |    SELECT vec_id, cid, sc,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sc DESC, cid ASC) AS rn
         |    FROM scores) WHERE rn = 1),
         |selfd AS (
         |  SELECT vec_id,
         |    list_sum(list_transform(list_zip(embedding, embedding),
         |      s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE))) AS e2
         |  FROM embeddings),
         |base AS (
         |  SELECT a.vec_id, CAST(a.cluster_id AS INTEGER) AS cluster_id,
         |    s.e2 - a.sc AS x
         |  FROM asn a JOIN selfd s USING (vec_id)),
         |r1 AS (
         |  SELECT cluster_id, x,
         |    row_number() OVER (PARTITION BY cluster_id ORDER BY x) AS rn,
         |    COUNT(*) OVER (PARTITION BY cluster_id) AS n
         |  FROM base),
         |med AS (
         |  SELECT cluster_id, SUM(x) / COUNT(*) AS med FROM r1
         |  WHERE rn = (n + 1) // 2 OR rn = n // 2 + 1 GROUP BY 1),
         |wm AS (
         |  SELECT b.vec_id, b.cluster_id, b.x, m.med, abs(b.x - m.med) AS ad
         |  FROM base b JOIN med m USING (cluster_id)),
         |r2 AS (
         |  SELECT cluster_id, ad,
         |    row_number() OVER (PARTITION BY cluster_id ORDER BY ad) AS rn,
         |    COUNT(*) OVER (PARTITION BY cluster_id) AS n
         |  FROM wm),
         |mad AS (
         |  SELECT cluster_id, SUM(ad) / COUNT(*) AS mad FROM r2
         |  WHERE rn = (n + 1) // 2 OR rn = n // 2 + 1 GROUP BY 1)
         |SELECT wm.vec_id, wm.cluster_id, wm.x, wm.med, d.mad,
         |  (abs(CASE WHEN d.mad = 0.0 THEN 0.0
         |            ELSE 0.6745 * (wm.x - wm.med) / d.mad END) > 3.5) AS is_outlier
         |FROM wm JOIN mad d USING (cluster_id)""".stripMargin,

    "q_cluster_kmeans" ->
      s"""WITH ${kmeansCtes(cells = 16, sampleN = 512, iters = 2, dim = 64)}
         |SELECT vec_id, CAST(cell AS INTEGER) AS cluster_id FROM cells""".stripMargin,

    // Layout-pruned scan: the oracle runs the identical filter+agg on the
    // UNOPTIMIZED table — a layout rewrite must be content-invisible.
    "q_layout_prune" ->
      """SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE lang = 'de' AND n_chars >= 200
        |GROUP BY source""".stripMargin,

    // Prototypicality pruning (SSL-prototypes): per-vector assignment
    // score from the shared Lloyd `scores` CTE, per-cluster keep the
    // hardest (lowest-score) half; scores bit-identical by the
    // CentroidScoresExpr arithmetic contract.
    "q_prune_prototypes" ->
      s"""WITH ${kmeansCtes(cells = 16, sampleN = 512, iters = 2, dim = 64)},
         |asg AS (
         |  SELECT vec_id, cid AS cell, sc FROM (
         |    SELECT vec_id, cid, sc,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sc DESC, cid ASC) AS rn
         |    FROM scores) WHERE rn = 1),
         |rk AS (
         |  SELECT vec_id, cell, sc,
         |    ROW_NUMBER() OVER (PARTITION BY cell ORDER BY sc ASC, vec_id ASC) AS krn,
         |    COUNT(*) OVER (PARTITION BY cell) AS n_cluster
         |  FROM asg)
         |SELECT vec_id, CAST(cell AS INTEGER) AS cluster_id, sc AS proto_score,
         |  CAST(n_cluster AS BIGINT) AS n_cluster
         |FROM rk WHERE krn <= CAST(ceil(0.5 * n_cluster) AS BIGINT)""".stripMargin,

    // Semantic dedup (SemDeDup shape): within-cell candidate pairs over
    // the shared Lloyd `cells`, exact rounded cosine >= 0.4 edges,
    // recursive min-label closure, survivors = everyone not a non-minimal
    // component member. Mirrors Dedup.semantic.
    "q_dedup_semantic" ->
      s"""WITH RECURSIVE ${kmeansCtes(cells = 16, sampleN = 512, iters = 2, dim = 64)},
         |cpairs AS (
         |  SELECT a.vec_id AS va, b.vec_id AS vb, a.cell
         |  FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id),
         |cedges AS (
         |  SELECT p.va, p.vb FROM cpairs p
         |  JOIN embeddings ea ON ea.vec_id = p.va
         |  JOIN embeddings eb ON eb.vec_id = p.vb
         |  WHERE ${cosSql("ea.embedding", "eb.embedding")} >= 0.4),
         |csym AS (SELECT va AS src, vb AS dst FROM cedges
         |         UNION ALL SELECT vb, va FROM cedges),
         |creach(id, lbl) AS (
         |  SELECT DISTINCT src, src FROM csym
         |  UNION
         |  SELECT s.src, r.lbl FROM csym s JOIN creach r ON r.id = s.dst),
         |closers AS (SELECT id FROM creach GROUP BY id HAVING id <> MIN(lbl))
         |SELECT c.vec_id, CAST(c.cell AS INTEGER) AS cell FROM cells c
         |WHERE c.vec_id NOT IN (SELECT id FROM closers)""".stripMargin,

    // Incremental semantic dedup (r20): the same frozen-quantizer cell
    // assignment as the persisted index (centroids trained on the dense
    // history window vec_id < 400 — the sampleCte override), every
    // within-cell pair touching the shard (>= 400 side), exact round-6
    // cosine gate. Replays Ann.semanticIncremental: batch pair set
    // restricted to shard-touching pairs (q_dedup_incremental
    // convention).
    "q_dedup_semantic_incremental" -> semIncSql,
    // streaming twin (q_stream_dedup_semantic): union of per-batch
    // probe outputs == the batch incremental answer (index carry-over
    // produces the cross-batch pairs), so the oracle is shared verbatim.
    "q_stream_dedup_semantic" -> semIncSql,


    // JL projection: one md5-sign dot per output coordinate (the
    // lshBitSql weight rule reduced to its sign bit), divided by the
    // IEEE-exact sqrt(16.0), rounded 6.
    "q_ann_jl" -> {
      def comp(p: Int): String = {
        def nib(expr: String) = s"ascii(substr(md5('${p}_' || CAST($expr AS VARCHAR)), 1, 1))"
        val d = "s[2]"
        val nibVal = s"CASE WHEN ${nib(d)} >= 97 THEN ${nib(d)} - 87 ELSE ${nib(d)} - 48 END"
        s"round(list_sum(list_transform(list_zip(embedding, generate_series(0, len(embedding)-1)), " +
          s"s -> CAST(s[1] AS DOUBLE) * (CASE WHEN $nibVal >= 8 THEN 1.0 ELSE -1.0 END))) / sqrt(16.0), 6)"
      }
      s"""WITH a AS (SELECT vec_id, [
         |  ${(0 until 16).map(comp).mkString(",\n  ")}
         |] AS jl16
         |FROM embeddings)
         |SELECT vec_id, CAST(t.i - 1 AS BIGINT) AS dim, jl16[t.i] AS jl
         |FROM a CROSS JOIN generate_series(1, 16) AS t(i)""".stripMargin
    },

    // JL shortlist + exact rerank: the unrounded projections drive the
    // coarse top-`rerank` (bit-replayed — the shortlist itself is part of
    // the contract), then the q_ann_brute cosine tail on the cut.
    // Sign-bit binary ANN: Hamming = count of sign disagreements (the
    // packed-word XOR-popcount, computed positionally), shortlist 400,
    // exact-cosine top-5 — the q_ann_jl_rerank skeleton at 1 bit/dim.
    "q_ann_hamming" -> {
      s"""WITH c AS (SELECT vec_id AS neighbor_id, embedding AS ce FROM embeddings),
         |q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 20),
         |d AS (
         |  SELECT query_id, neighbor_id, qe, ce,
         |    list_sum(list_transform(list_zip(qe, ce),
         |      s -> CASE WHEN (s[1] > 0) <> (s[2] > 0) THEN 1 ELSE 0 END)) AS ham
         |  FROM c, q WHERE neighbor_id <> query_id),
         |rr AS (
         |  SELECT query_id, neighbor_id, qe, ce,
         |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY ham ASC, neighbor_id ASC) AS hr
         |  FROM d),
         |p AS (SELECT query_id, neighbor_id, ${cosSql("qe", "ce")} AS cosine
         |  FROM rr WHERE hr <= 400),
         |r AS (SELECT query_id, neighbor_id, cosine,
         |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk FROM p)
         |SELECT query_id, CAST(rk AS BIGINT) AS rnk, neighbor_id, cosine FROM r WHERE rk <= 5""".stripMargin
    },

    "q_ann_jl_rerank" -> {
      def comp(p: Int): String = {
        def nib(expr: String) = s"ascii(substr(md5('${p}_' || CAST($expr AS VARCHAR)), 1, 1))"
        val d = "s[2]"
        val nibVal = s"CASE WHEN ${nib(d)} >= 97 THEN ${nib(d)} - 87 ELSE ${nib(d)} - 48 END"
        s"list_sum(list_transform(list_zip(embedding, generate_series(0, len(embedding)-1)), " +
          s"s -> CAST(s[1] AS DOUBLE) * (CASE WHEN $nibVal >= 8 THEN 1.0 ELSE -1.0 END))) / sqrt(32.0)"
      }
      val selfDot =
        "list_sum(list_transform(list_zip(embedding, embedding), s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))"
      // cosine truth needs the unit sphere: each raw JL coordinate is
      // scaled by 1/||e|| in the SAME operand order as the Spark side
      val y = "[" + (0 until 32).map(p => s"(${comp(p)}) / sqrt($selfDot)")
        .mkString(",\n    ") + "]"
      s"""WITH cj AS (SELECT vec_id AS neighbor_id, embedding AS ce,
         |  $y AS cy FROM embeddings),
         |qj AS (SELECT vec_id AS query_id, embedding AS qe,
         |  $y AS qy FROM embeddings WHERE vec_id < 20),
         |d AS (
         |  SELECT query_id, neighbor_id, qe, ce,
         |    list_sum(list_transform(list_zip(qy, cy), s -> (s[1]-s[2])*(s[1]-s[2]))) AS jd
         |  FROM cj, qj WHERE neighbor_id <> query_id),
         |rr AS (
         |  SELECT query_id, neighbor_id, qe, ce,
         |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY jd ASC, neighbor_id ASC) AS jr
         |  FROM d),
         |p AS (SELECT query_id, neighbor_id, ${cosSql("qe", "ce")} AS cosine
         |  FROM rr WHERE jr <= 400),
         |r AS (SELECT query_id, neighbor_id, cosine,
         |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk FROM p)
         |SELECT query_id, CAST(rk AS BIGINT) AS rnk, neighbor_id, cosine FROM r WHERE rk <= 5""".stripMargin
    },

    // Scalar int8 quantization: per-dim min/max + floor((v-mn)/(mx-mn)*255
    // + 0.5) coding (floor, not round — half-even vs half-up diverges
    // across engines), max reconstruction error per vector.
    "q_ann_sq8" ->
      """WITH dims AS (SELECT unnest(generate_series(1, 64)) AS d),
        |st AS (
        |  SELECT d.d, MIN(CAST(e.embedding[d.d] AS DOUBLE)) AS mn,
        |    MAX(CAST(e.embedding[d.d] AS DOUBLE)) AS mx
        |  FROM embeddings e, dims d GROUP BY d.d),
        |sa AS (SELECT list(mn ORDER BY d) AS mns, list(mx ORDER BY d) AS mxs FROM st),
        |q AS (
        |  SELECT e.vec_id, e.embedding, sa.mns, sa.mxs,
        |    [CASE WHEN sa.mxs[i] = sa.mns[i] THEN 0
        |          ELSE CAST(floor((CAST(e.embedding[i] AS DOUBLE) - sa.mns[i])
        |            / (sa.mxs[i] - sa.mns[i]) * 255.0 + 0.5) AS INTEGER) END
        |     for i in generate_series(1, len(e.embedding))] AS sq8_codes
        |  FROM embeddings e, sa),
        |e2 AS (
        |  SELECT vec_id, sq8_codes,
        |    ROUND(list_max([abs((mns[i] + CAST(sq8_codes[i] AS DOUBLE) / 255.0
        |        * (mxs[i] - mns[i])) - CAST(embedding[i] AS DOUBLE))
        |      for i in generate_series(1, len(embedding))]), 6) AS max_abs_err
        |  FROM q)
        |SELECT vec_id, CAST(t.i - 1 AS BIGINT) AS dim,
        |  CAST(sq8_codes[t.i] AS BIGINT) AS code, max_abs_err
        |FROM e2 CROSS JOIN generate_series(1, 64) AS t(i)""".stripMargin,

    // In-context pretraining order: the shared Lloyd cells, then a global
    // (cell ASC, affinity DESC, id ASC) dense rank — mirrors the
    // distributed range-partition index bit-for-bit (total order, no
    // score ties unassigned).
    "q_order_incontext" ->
      s"""WITH ${kmeansCtes(cells = 16, sampleN = 512, iters = 2, dim = 64)},
         |asg AS (
         |  SELECT vec_id, cid AS cell, sc FROM (
         |    SELECT vec_id, cid, sc,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sc DESC, cid ASC) AS rn
         |    FROM scores) WHERE rn = 1)
         |SELECT vec_id, CAST(cell AS INTEGER) AS cluster_id, sc AS affinity,
         |  CAST(ROW_NUMBER() OVER (ORDER BY cell ASC, sc DESC, vec_id ASC) - 1 AS BIGINT) AS train_pos
         |FROM asg""".stripMargin,

    // D4 pipeline: the SemDeDup closure (stage 1, default-prefix Lloyd
    // CTEs) feeds a SECOND, p2-prefixed Lloyd training over the survivor
    // set (md5-rank sample — survivor ids have holes), then the
    // prototypes keep-hardest rank. Two independent trainings in one
    // query via the kmeansCtes prefix.
    "q_pipeline_d4" -> {
      val p2sample =
        """p2sample AS (
          |  SELECT sid AS vec_id, embedding FROM (
          |    SELECT embedding,
          |      ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS sid
          |    FROM d4kept) WHERE sid < 512)""".stripMargin
      s"""WITH RECURSIVE ${kmeansCtes(cells = 16, sampleN = 512, iters = 2, dim = 64)},
         |cpairs AS (
         |  SELECT a.vec_id AS va, b.vec_id AS vb, a.cell
         |  FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id),
         |cedges AS (
         |  SELECT p.va, p.vb FROM cpairs p
         |  JOIN embeddings ea ON ea.vec_id = p.va
         |  JOIN embeddings eb ON eb.vec_id = p.vb
         |  WHERE ${cosSql("ea.embedding", "eb.embedding")} >= 0.4),
         |csym AS (SELECT va AS src, vb AS dst FROM cedges
         |         UNION ALL SELECT vb, va FROM cedges),
         |creach(id, lbl) AS (
         |  SELECT DISTINCT src, src FROM csym
         |  UNION
         |  SELECT s.src, r.lbl FROM csym s JOIN creach r ON r.id = s.dst),
         |closers AS (SELECT id FROM creach GROUP BY id HAVING id <> MIN(lbl)),
         |d4kept AS (
         |  SELECT e.vec_id, e.embedding FROM embeddings e
         |  JOIN cells c ON c.vec_id = e.vec_id
         |  WHERE e.vec_id NOT IN (SELECT id FROM closers)),
         |${kmeansCtes(cells = 16, sampleN = 512, iters = 2, dim = 64,
                       corpusSrc = "d4kept", sampleCte = Some(p2sample),
                       prefix = "p2")},
         |p2asg AS (
         |  SELECT vec_id, cid AS cell, sc FROM (
         |    SELECT vec_id, cid, sc,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sc DESC, cid ASC) AS rn
         |    FROM p2scores) WHERE rn = 1),
         |p2rk AS (
         |  SELECT vec_id, cell, sc,
         |    ROW_NUMBER() OVER (PARTITION BY cell ORDER BY sc ASC, vec_id ASC) AS krn,
         |    COUNT(*) OVER (PARTITION BY cell) AS n_cluster
         |  FROM p2asg)
         |SELECT vec_id, CAST(cell AS INTEGER) AS cluster_id, sc AS proto_score,
         |  CAST(n_cluster AS BIGINT) AS n_cluster
         |FROM p2rk WHERE krn <= CAST(ceil(0.5 * n_cluster) AS BIGINT)""".stripMargin
    },

    // Product quantization: per-subspace k-means (the IVF training CTEs on
    // SLICED embeddings), per-vector nearest-centroid codes, ADC first
    // stage (sum of subspace dots, folded in m order), exact-cosine rerank
    // of the top-`rerank` cut. Mirrors Pq.topK / PqEncodeExpr / PqAdcExpr
    // evaluation order exactly.
    "q_ann_pq" -> {
      val (m, subDim, books, sampleN, iters, rerank, k) = (8, 8, 16, 512, 2, 200, 5)
      def slice(col: String, s: Int) = s"$col[${s * subDim + 1}:${(s + 1) * subDim}]"
      val perSub = (0 until m).flatMap { s =>
        val steps = (1 to iters).flatMap { it =>
          val prev = if (it == 1) s"cent0_$s" else s"cent${it - 1}_$s"
          Seq(
            s"cn${it}_$s AS (SELECT cid, ce, list_sum(list_transform(ce, x -> x * x)) AS c2 FROM $prev)",
            s"""sc${it}_$s AS (
               |  SELECT smp.vec_id, c.cid,
               |    list_sum(list_transform(list_zip(smp.e, c.ce), p -> p[1] * p[2])) * 2 - c.c2 AS sc
               |  FROM sample_$s smp, cn${it}_$s c)""".stripMargin,
            s"""a${it}_$s AS (
               |  SELECT vec_id, cid AS cell FROM (
               |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sc DESC, cid ASC) AS rn
               |    FROM sc${it}_$s) WHERE rn = 1)""".stripMargin,
            s"""m${it}_$s AS (
               |  SELECT a.cell, d.d,
               |    list_sum(list(smp.e[d.d] ORDER BY smp.vec_id)) / COUNT(*) AS mu
               |  FROM a${it}_$s a JOIN sample_$s smp USING (vec_id),
               |       (SELECT unnest(generate_series(1, $subDim)) AS d) d
               |  GROUP BY a.cell, d.d)""".stripMargin,
            s"""cent${it}_$s AS (
               |  SELECT c0.cid, COALESCE(mm.ce, c0.ce) AS ce FROM $prev c0
               |  LEFT JOIN (SELECT cell AS cid, list(mu ORDER BY d) AS ce FROM m${it}_$s GROUP BY cell) mm USING (cid))""".stripMargin)
        }
        Seq(
          s"sample_$s AS (SELECT vec_id, list_transform(${slice("embedding", s)}, x -> CAST(x AS DOUBLE)) AS e FROM embeddings WHERE vec_id < $sampleN)",
          s"cent0_$s AS (SELECT vec_id AS cid, e AS ce FROM sample_$s WHERE vec_id < $books)") ++ steps ++ Seq(
          s"cnn_$s AS (SELECT cid, ce, list_sum(list_transform(ce, x -> x * x)) AS c2 FROM cent${iters}_$s)",
          s"""code_$s AS (
             |  SELECT vec_id, cid AS code, ce FROM (
             |    SELECT e.vec_id, c.cid, c.ce,
             |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
             |        list_sum(list_transform(list_zip(${slice("e.embedding", s)}, c.ce), p -> CAST(p[1] AS DOUBLE) * p[2])) * 2 - c.c2 DESC,
             |        c.cid ASC) AS rn
             |    FROM embeddings e, cnn_$s c) WHERE rn = 1)""".stripMargin)
      }
      val adcParts = (0 until m).map { s =>
        s"""SELECT q.vec_id AS query_id, cd.vec_id AS neighbor_id, $s AS sub,
           |    list_sum(list_transform(list_zip(${slice("q.embedding", s)}, cd.ce), p -> CAST(p[1] AS DOUBLE) * p[2])) AS part
           |  FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 20) q, code_$s cd
           |  WHERE cd.vec_id <> q.vec_id""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH ${perSub.mkString(",\n")},
         |adcp AS (
         |$adcParts),
         |adc AS (
         |  SELECT query_id, neighbor_id, list_sum(list(part ORDER BY sub)) AS adc
         |  FROM adcp GROUP BY query_id, neighbor_id),
         |cand AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc DESC, neighbor_id ASC) AS arn
         |    FROM adc) WHERE arn <= $rerank),
         |p AS (
         |  SELECT cand.query_id, cand.neighbor_id, ${cosSql("qv.embedding", "cv.embedding")} AS cosine
         |  FROM cand
         |  JOIN embeddings qv ON qv.vec_id = cand.query_id
         |  JOIN embeddings cv ON cv.vec_id = cand.neighbor_id),
         |r AS (
         |  SELECT query_id, neighbor_id, cosine,
         |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk FROM p)
         |SELECT query_id, CAST(rk AS BIGINT) AS rnk, neighbor_id, cosine FROM r WHERE rk <= $k""".stripMargin
    },

    // embedding-cosine near-dup: multi-table LSH candidacy (4 tables x 6
    // bits, disjoint plane families), exact rounded cosine within buckets
    "q_dedup_embedding" -> {
      val sigsPerTable = (0 until 4).map { t =>
        s"SELECT vec_id, $t AS tbl, ${lshSigSql(6, t * 6)} AS sig FROM embeddings"
      }.mkString("\nUNION ALL\n")
      s"""WITH sigs AS (
         |$sigsPerTable),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM sigs a JOIN sigs b ON a.tbl = b.tbl AND a.sig = b.sig AND a.vec_id < b.vec_id),
         |p AS (
         |  SELECT cand.vec_a, cand.vec_b, ${cosSql("ea.embedding", "eb.embedding")} AS cosine
         |  FROM cand
         |  JOIN embeddings ea ON ea.vec_id = cand.vec_a
         |  JOIN embeddings eb ON eb.vec_id = cand.vec_b)
         |SELECT vec_a, vec_b, cosine FROM p WHERE cosine >= 0.4""".stripMargin
    },

    // IVF ANN with TRAINED centroids: deterministic sampled k-means
    // mirroring Ann.trainCentroids bit-for-bit — init = first `cells`
    // sample vectors, then `iters` Lloyd rounds where the per-dimension
    // mean left-folds members in vec_id order (list_sum over an ORDER BY
    // list is DuckDB's sequential fold, matching the Scala accumulator).
    // Cell assignment ties → lowest centroid id (mirrors array_position on
    // the first max); probe-list ties → LOWEST centroid id too: the Spark
    // side sorts (score, −idx) structs ascending and REVERSES, which
    // leaves tied-score runs in idx-ASCENDING order — that is the whole
    // point of the idx negation (Ann.probeCellsCol), and the oracle's
    // `ORDER BY sc DESC, cid ASC` mirrors it. (A round-13 review caught
    // the oracle briefly saying cid DESC — divergent only when two
    // centroids tie EXACTLY at the probe cutoff, which the continuous
    // scores of the test corpora never produce, but latent.)
    "q_ann_ivf" -> annIvfSql,

    // Persisted-index IVF: same training params, same probe/score text —
    // the gate asserts the cell-partitioned on-disk index serves the
    // IDENTICAL answer the in-memory path computes, so the oracle IS the
    // q_ann_ivf oracle.
    "q_ann_ivf_indexed" -> annIvfSql,
    // Incremental ingest: frozen-quantizer append must reproduce the
    // from-scratch build exactly — the history prefix (vec_id < 512) IS
    // the training sample window, so centroids, cells, and the served
    // top-k are all bit-identical to q_ann_ivf's.
    "q_ann_ivf_incremental" -> annIvfSql,
    "q_ann_ivf_requantized" -> annIvfRequantSql,
    // Streaming ingest: the per-micro-batch frozen-quantizer appends must
    // land the index in the identical end state — same oracle again.
    "q_stream_ann_ingest" -> annIvfSql,

    "q_lang_id" -> langIdSql,

    "q_quality" -> qualityCtes,

    // Column profile: per-column UNION of one-pass aggregates. COUNT/
    // COUNT DISTINCT are BIGINT both engines; min/max cast to VARCHAR
    // (binary string order = Spark's UTF8 order; integral formatting is
    // canonical — the operator's doc restricts float columns). STRING
    // columns count distinct over sha256, mirroring Profile's
    // fixed-width-through-the-Expand rule (same collision-free-equality
    // assumption as Dedup.exact).
    "q_profile" -> {
      val cols = Seq(("doc_id", false), ("text", true), ("lang", true),
        ("source", true), ("n_chars", false))
      cols.map { case (c, isStr) =>
        val nd = if (isStr) s"COUNT(DISTINCT sha256($c))" else s"COUNT(DISTINCT $c)"
        s"""SELECT '$c' AS col_name, COUNT(*) AS n_rows,
           |  COUNT(*) - COUNT($c) AS n_nulls,
           |  $nd AS n_distinct,
           |  CAST(MIN($c) AS VARCHAR) AS min_v, CAST(MAX($c) AS VARCHAR) AS max_v
           |FROM documents""".stripMargin
      }.mkString("\nUNION ALL\n")
    },

    // LangId evaluation vs ground truth: the langId CASE chain with the
    // truth column carried through, confusion counts + per-class share.
    // SUM(n) over a window of COUNT(*) is HUGEINT in DuckDB -> cast.
    "q_langid_eval" -> {
      s"""WITH ${langCtes("documents", Seq("lang"))},
         |cm AS (
         |  SELECT lang, pred_lang, COUNT(*) AS n FROM langed GROUP BY 1, 2),
         |cw AS (
         |  SELECT lang, pred_lang, n,
         |    CAST(SUM(n) OVER (PARTITION BY lang) AS BIGINT) AS class_n
         |  FROM cm)
         |SELECT lang, pred_lang, n, class_n,
         |  ROUND(CAST(n AS DOUBLE) / CAST(class_n AS DOUBLE), 6) AS share
         |FROM cw""".stripMargin
    },

    // Gopher rule suite: every counter mirrors GopherStatsExpr verbatim —
    // lowercased RE2-\s words (code-point lengths), a-z alpha test, the 8
    // required-stopword presence set, chr(10) lines with space/tab
    // ltrim/rtrim for bullets/ellipses, '#' + non-overlapping '...'
    // symbols via replace() arithmetic. Flags compare the UNROUNDED
    // single-division ratios (identical IEEE operands both engines);
    // displayed ratios round to 6 dp.
    "q_gopher_rules" ->
      """WITH tok AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS w
        |  FROM documents),
        |st AS (
        |  SELECT doc_id,
        |    len(w) AS n_words,
        |    CAST(list_sum(list_transform(w, x -> len(x))) AS BIGINT) AS n_chars,
        |    len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS n_alpha,
        |    len(list_filter(['the','be','to','of','and','that','have','with'],
        |                    s -> list_contains(w, s))) AS n_stop,
        |    len(string_split(text, chr(10))) AS n_lines,
        |    len(list_filter(string_split(text, chr(10)), l ->
        |      starts_with(ltrim(l, ' ' || chr(9)), '-') OR
        |      starts_with(ltrim(l, ' ' || chr(9)), '*') OR
        |      starts_with(ltrim(l, ' ' || chr(9)), '•'))) AS n_bullet,
        |    len(list_filter(string_split(text, chr(10)), l ->
        |      ends_with(rtrim(l, ' ' || chr(9)), '...'))) AS n_ellipsis,
        |    (len(text) - len(replace(text, '#', ''))) +
        |      (len(text) - len(replace(text, '...', ''))) // 3 AS n_symbols
        |  FROM tok WHERE len(w) >= 1)
        |SELECT doc_id, CAST(n_words AS INT) AS n_words,
        |  ROUND(n_chars::DOUBLE / n_words::DOUBLE, 6) AS mean_word_len,
        |  ROUND(n_symbols::DOUBLE / n_words::DOUBLE, 6) AS symbol_ratio,
        |  ROUND(n_bullet::DOUBLE / n_lines::DOUBLE, 6) AS bullet_ratio,
        |  ROUND(n_ellipsis::DOUBLE / n_lines::DOUBLE, 6) AS ellipsis_ratio,
        |  ROUND(n_alpha::DOUBLE / n_words::DOUBLE, 6) AS alpha_ratio,
        |  CAST(n_stop AS INT) AS n_stop,
        |  (n_words >= 50 AND n_words <= 100000) AS ok_words,
        |  (n_chars::DOUBLE / n_words::DOUBLE >= 3.0 AND
        |   n_chars::DOUBLE / n_words::DOUBLE <= 10.0) AS ok_word_len,
        |  (n_symbols::DOUBLE / n_words::DOUBLE <= 0.1) AS ok_symbols,
        |  (n_bullet::DOUBLE / n_lines::DOUBLE <= 0.9) AS ok_bullets,
        |  (n_ellipsis::DOUBLE / n_lines::DOUBLE <= 0.3) AS ok_ellipsis,
        |  (n_alpha::DOUBLE / n_words::DOUBLE >= 0.8) AS ok_alpha,
        |  (n_stop >= 2) AS ok_stopwords,
        |  ((n_words >= 50 AND n_words <= 100000) AND
        |   (n_chars::DOUBLE / n_words::DOUBLE >= 3.0 AND
        |    n_chars::DOUBLE / n_words::DOUBLE <= 10.0) AND
        |   (n_symbols::DOUBLE / n_words::DOUBLE <= 0.1) AND
        |   (n_bullet::DOUBLE / n_lines::DOUBLE <= 0.9) AND
        |   (n_ellipsis::DOUBLE / n_lines::DOUBLE <= 0.3) AND
        |   (n_alpha::DOUBLE / n_words::DOUBLE >= 0.8) AND
        |   (n_stop >= 2)) AS passes
        |FROM st""".stripMargin,

    // end-to-end cleaning pipeline: exact-dedup survivors → quality gate →
    // language ID → per-language corpus stats
    "q_pipeline" -> {
      s"""WITH survivors AS (
         |  SELECT doc_id, text FROM documents
         |  WHERE doc_id IN (SELECT MIN(doc_id) FROM documents GROUP BY sha256(text))),
         |kept AS (
         |  SELECT doc_id, text, $qualityExpr AS quality FROM survivors
         |  WHERE $qualityExpr >= 0.3),
         |${langCtes("kept", Seq("text", "quality"))}
         |SELECT pred_lang, COUNT(*) AS n_docs,
         |  CAST(SUM(len(regexp_extract_all(text, '[^ \\t\\n\\f\\r]+'))) AS BIGINT) AS ws_tokens,
         |  CAST(SUM(CAST(quality AS DECIMAL(18,10))) AS DOUBLE) AS sum_quality
         |FROM langed GROUP BY pred_lang""".stripMargin
    },

    "q_tokens" ->
      """SELECT source,
        |  CAST(SUM(len(regexp_extract_all(text, '[^ \t\n\f\r]+'))) AS BIGINT) AS ws_tokens,
        |  CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS bpeish_tokens
        |FROM documents GROUP BY source""".stripMargin,

    "q_fingerprint" ->
      """SELECT doc_id, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fingerprint
        |FROM documents""".stripMargin,

    "q_json_extract" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val FROM events""",

    "q_multimodal_frames" ->
      """WITH m AS (SELECT doc_id, octet_length(encode(text)) AS len FROM documents)
        |SELECT doc_id, CAST(i AS BIGINT) AS frame_idx, CAST(i * 128 AS BIGINT) AS byte_offset
        |FROM (SELECT doc_id, unnest(generate_series(0, CAST(FLOOR((len - 1) / 128.0) AS INT), 2)) AS i FROM m)""".stripMargin,

    "q_multimodal" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  CAST(length(text) % 640 AS INTEGER) AS width,
        |  CAST(length(text) % 480 AS INTEGER) AS height,
        |  CAST(octet_length(encode(text)) AS DOUBLE)
        |    + CAST(ascii(substr(text, 1, 1)) AS DOUBLE) / 256.0
        |    + CAST(ascii(substr(text, length(text), 1)) AS DOUBLE) / 65536.0 AS feature
        |FROM documents""".stripMargin,

    // ---- Tokenizer-gate oracles over the Verify-staged encode streams.
    // `__STAGE__/<name>` is substituted by Verify with the per-sf stage
    // dir; the (doc_id, token) rows there are the engine's own encode
    // output (train/encode stay engine-only, spec-pinned against
    // independent references), so what these grade hash-exact is the
    // ENTIRE SQL-expressible tail r17 could only gate rows-only: the
    // per-doc count/distinct/checksum folds and the fertility join +
    // group aggregation + ratio arithmetic.
    "q_bpe_encode" -> encodeFoldSql("bpe_encode", "n_bpe_tokens", "n_token_chars"),
    "q_spm_encode" -> encodeFoldSql("spm_encode", "n_spm_tokens", "n_token_chars"),
    "q_bpe_bytes_encode" -> encodeFoldSql("bytebpe_encode", "n_bbpe_tokens", "n_token_bytes"),
    "q_wordpiece_encode" ->
      """SELECT doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_wp_tokens,
        |  CAST(COUNT(DISTINCT token) AS BIGINT) AS n_distinct_tokens,
        |  CAST(SUM(length(token)) AS BIGINT) AS n_token_chars,
        |  CAST(SUM(CASE WHEN token = '[UNK]' THEN 1 ELSE 0 END) AS BIGINT) AS n_unk
        |FROM read_parquet('__STAGE__/wordpiece_encode/*.parquet')
        |GROUP BY doc_id""".stripMargin,
    // Streaming coverage monitor: the batch fold verbatim minus the
    // distinct-count columns a streaming aggregation cannot maintain.
    "q_stream_tokenizer_coverage" ->
      """SELECT d.source,
        |  CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  CAST(SUM(CASE WHEN e.token = '[UNK]' THEN 1 ELSE 0 END) AS BIGINT) AS n_unk,
        |  round(CAST(SUM(CASE WHEN e.token = '[UNK]' THEN 1 ELSE 0 END) AS DOUBLE)
        |        / CAST(COUNT(*) AS DOUBLE), 6) AS unk_rate
        |FROM read_parquet('__STAGE__/wordpiece_encode/*.parquet') e
        |JOIN documents d USING (doc_id)
        |GROUP BY 1""".stripMargin,

    "q_bpe_fertility" -> fertilitySql("bpe_encode"),
    "q_spm_fertility" -> fertilitySql("spm_encode"),
    "q_wordpiece_fertility" -> fertilitySql("wordpiece_encode"),

    // Tokenizer coverage / OOV report: the per-source token volume,
    // [UNK] volume/rate and distinct-token inventory folded over the
    // SAME staged encode stream the fertility oracle reads.
    "q_tokenizer_coverage" ->
      """SELECT d.source,
        |  CAST(COUNT(DISTINCT e.doc_id) AS BIGINT) AS n_docs,
        |  CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  CAST(SUM(CASE WHEN e.token = '[UNK]' THEN 1 ELSE 0 END) AS BIGINT) AS n_unk,
        |  round(CAST(SUM(CASE WHEN e.token = '[UNK]' THEN 1 ELSE 0 END) AS DOUBLE)
        |        / CAST(COUNT(*) AS DOUBLE), 6) AS unk_rate,
        |  CAST(COUNT(DISTINCT e.token) AS BIGINT) AS n_token_types
        |FROM read_parquet('__STAGE__/wordpiece_encode/*.parquet') e
        |JOIN documents d USING (doc_id)
        |GROUP BY 1""".stripMargin,

    // Winnowing (Schleimer et al. '03) over the staged rolling k-gram
    // hash stream (k=16): the selection's tie rule only picks WHICH
    // index supplies a window minimum, never its value, so the selected
    // set is exactly DISTINCT(min over complete w-row frames) — with the
    // m <= w degenerate window collapsing to the per-doc global min
    // (pos >= LEAST(w-1, m-1) keeps exactly the complete frames in both
    // regimes). The candidate join then replays winnowCandidates'
    // shared-fingerprint count (w=32, minShared=2) verbatim.
    "q_fingerprint_winnow" ->
      """WITH g AS (
        |  SELECT doc_id, pos, h
        |  FROM read_parquet('__STAGE__/winnow_kgrams/*.parquet')),
        |c AS (SELECT doc_id, COUNT(*) AS m FROM g GROUP BY 1),
        |wm AS (
        |  SELECT g.doc_id, g.pos, c.m,
        |    MIN(h) OVER (PARTITION BY g.doc_id ORDER BY g.pos
        |                 ROWS BETWEEN 31 PRECEDING AND CURRENT ROW) AS fp
        |  FROM g JOIN c USING (doc_id)),
        |sel AS (SELECT DISTINCT doc_id, fp FROM wm WHERE pos >= LEAST(31, m - 1))
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(COUNT(*) AS BIGINT) AS n_shared
        |FROM sel a JOIN sel b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2
        |HAVING COUNT(*) >= 2""".stripMargin,

    // Multimodal near-dup detection over the staged 64-bit hash tables
    // (the real codec decode stays engine-side; the banded-Hamming
    // candidate join + exact verify replay here). Arithmetic-shift note:
    // `(h >> s) & mask` equals the unsigned-shift band slice because the
    // mask strips every sign-extended bit (mask < 2^(64-s) for all 8
    // bands at width 8).
    "q_multimodal_phash" -> bandedHammingSql("image_dhash", "dhash", 4),
    "q_multimodal_afp" -> bandedHammingSql("audio_afp", "afp", 4),

    // ---- r19 staged conversions (r18 VERDICT #3): the engine-internal
    // kernel stages its output; the SQL-expressible tail replays here.

    // Dolma gzip-ratio filter: deflate byte counts are JDK zlib
    // (staged); the ratio + keep bracket is plain arithmetic.
    "q_compression_ratio" ->
      """SELECT doc_id, n_bytes, n_deflate,
        |  round(CAST(n_bytes AS DOUBLE)
        |        / GREATEST(CAST(n_deflate AS DOUBLE), 1.0), 6) AS compression_ratio,
        |  (round(CAST(n_bytes AS DOUBLE)
        |        / GREATEST(CAST(n_deflate AS DOUBLE), 1.0), 6) >= 1.2
        |   AND round(CAST(n_bytes AS DOUBLE)
        |        / GREATEST(CAST(n_deflate AS DOUBLE), 1.0), 6) <= 6.0) AS keep
        |FROM read_parquet('__STAGE__/deflate_bytes/*.parquet')""".stripMargin,

    // Mojibake repair: the cp1252 corruption synthesis and the repair
    // both stay engine-side (DuckDB has no cp1252 codec); what replays
    // is the equality ACCOUNTING — which rows were corrupted, which
    // restored — over the staged (orig, corrupted, repaired) strings.
    "q_fix_mojibake" ->
      """SELECT doc_id, depth,
        |  (corrupted <> orig) AS was_mojibake,
        |  (repaired = orig) AS repaired_ok
        |FROM read_parquet('__STAGE__/mojibake_repair/*.parquet')""".stripMargin,

    // Real-codec decode: PNG bytes stay engine-side; the luma-bucket
    // retention aggregation replays over the staged decode stream.
    "q_multimodal_decode" ->
      """SELECT CAST(FLOOR(feature / 32.0) AS BIGINT) AS luma_bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_imgs,
        |  CAST(SUM(CASE WHEN feature >= 16.0 AND feature <= 240.0
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
        |  round(CAST(SUM(CAST(feature AS DECIMAL(38,18))) AS DOUBLE)
        |        / CAST(COUNT(*) AS DOUBLE), 6) AS mean_luma
        |FROM read_parquet('__STAGE__/png_decode/*.parquet')
        |GROUP BY 1""".stripMargin,

    // PCA whitening: the 64×64 eigensolve stays engine-side; the
    // per-dim mean/variance fold over the staged projected vectors —
    // the zero-mean / identity-covariance evidence — replays with the
    // same DECIMAL(38,18)-exact distributed-sum arithmetic the engine
    // uses (the q_dsir_weights precedent).
    "q_ann_whiten" ->
      """SELECT dim,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  round(CAST(SUM(CAST(y AS DECIMAL(38,18))) AS DOUBLE)
        |        / CAST(COUNT(*) AS DOUBLE), 6) + 0.0 AS mean_white,
        |  round(CAST(SUM(CAST(y * y AS DECIMAL(38,18))) AS DOUBLE)
        |        / CAST(COUNT(*) AS DOUBLE), 6) + 0.0 AS var_white
        |FROM read_parquet('__STAGE__/whiten_proj/*.parquet')
        |GROUP BY dim""".stripMargin)

  /** [[graft.dedup.Dedup.hashBandCandidates]] (8 bands × 8 bits over a
    * 64-bit hash) as DuckDB bit arithmetic over a staged (doc_id, hash)
    * table: explode band slices, equi-join on (band, slice), distinct
    * pairs, exact `bit_count(xor)` filter. */
  private def bandedHammingSql(stage: String, hashCol: String,
                               maxHamming: Int): String =
    s"""WITH h AS (
       |  SELECT doc_id, $hashCol AS h64
       |  FROM read_parquet('__STAGE__/$stage/*.parquet')
       |  WHERE $hashCol IS NOT NULL),
       |b AS (
       |  SELECT doc_id, h64, band, (h64 >> (band * 8)) & 255 AS bsig
       |  FROM h, (SELECT unnest(range(8)) AS band)),
       |p AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b,
       |    a.h64 AS h_a, c.h64 AS h_b
       |  FROM b a JOIN b c ON a.band = c.band AND a.bsig = c.bsig
       |    AND a.doc_id < c.doc_id)
       |SELECT doc_a, doc_b,
       |  CAST(bit_count(xor(h_a, h_b)) AS INTEGER) AS hamming
       |FROM p WHERE bit_count(xor(h_a, h_b)) <= $maxHamming""".stripMargin

  /** Per-doc encode fold: count / distinct / summed token length over a
    * staged (doc_id, token) stream — the q_bpe_encode output shape. */
  private def encodeFoldSql(stage: String, nCol: String,
                            lenCol: String): String =
    s"""SELECT doc_id,
       |  CAST(COUNT(*) AS BIGINT) AS $nCol,
       |  CAST(COUNT(DISTINCT token) AS BIGINT) AS n_distinct_tokens,
       |  CAST(SUM(length(token)) AS BIGINT) AS $lenCol
       |FROM read_parquet('__STAGE__/$stage/*.parquet')
       |GROUP BY doc_id""".stripMargin

  /** The [[graft.functions.Bpe.fertilityFromEncode]] arithmetic as plain
    * SQL: per-doc token counts from the staged stream, word/char meta
    * from `documents`, left join (encode-empty docs count 0 tokens), one
    * per-lang aggregation, round-6 ratio divisions in the same operand
    * order. */
  private def fertilitySql(stage: String): String =
    s"""WITH per AS (
       |  SELECT doc_id, COUNT(*) AS n_tok
       |  FROM read_parquet('__STAGE__/$stage/*.parquet') GROUP BY 1),
       |meta AS (
       |  SELECT doc_id, lang,
       |    CAST(len(regexp_extract_all(text, '[^ \\t\\n\\f\\r]+')) AS BIGINT) AS nw,
       |    CAST(length(text) AS BIGINT) AS nc
       |  FROM documents)
       |SELECT lang,
       |  CAST(SUM(nw) AS BIGINT) AS n_words,
       |  CAST(SUM(COALESCE(p.n_tok, 0)) AS BIGINT) AS n_tokens,
       |  CAST(SUM(nc) AS BIGINT) AS n_chars,
       |  round(CAST(SUM(COALESCE(p.n_tok, 0)) AS DOUBLE) / CAST(SUM(nw) AS DOUBLE), 6) AS fertility,
       |  round(CAST(SUM(nc) AS DOUBLE) / CAST(SUM(COALESCE(p.n_tok, 0)) AS DOUBLE), 6) AS chars_per_token
       |FROM meta m LEFT JOIN per p USING (doc_id)
       |GROUP BY lang""".stripMargin
}
