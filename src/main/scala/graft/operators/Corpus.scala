package graft.operators

import org.apache.spark.sql.{functions => F, DataFrame}

/** Corpus-maintenance operators: latest-wins upsert (CDC merge / crawl
  * refresh) and snapshot diff. Together with [[graft.dedup.Dedup.incremental]]
  * these are the update path of a living training corpus: merge the
  * refreshed shard, diff snapshots for the audit trail, incremental-dedup
  * the arrivals against the persisted signature index.
  *
  * Reference scope note: the reference engine ships no corpus-versioning
  * surface (its tables are unbounded streams); these are
  * training-data-pipeline additions in the spirit of the LLM pack
  * (SURVEY §2 rows 95–96).
  */
object Corpus {

  /** Latest-wins merge of `updates` into `base` keyed on `idCol`, ordered
    * by (`versionCol`, update-side-wins) — the refresh-crawl merge: a
    * re-fetched document replaces its previous version, a new document
    * inserts, an untouched document survives unchanged.
    *
    * Scale shape: exactly ONE hash exchange on the key and NO global
    * window — the winner per key is a map-side-combinable max over a
    * (version, side, payload) struct (lexicographic struct ordering is
    * exactly the latest-wins rule), so partial aggregates collapse each
    * key to one candidate per map task before the shuffle and the
    * exchange carries ~|keys| candidate rows, not |base| + |updates|.
    * The struct buffer is not codegen-mutable, so the planner picks
    * SortAggregate — the sort is per-partition-local on the already
    * collapsed runs, never a global order. A row_number window would
    * shuffle and sort the full union instead. At 100 TB, `base` bucketed
    * on the key (the [[graft.sources.Bucketing]] discipline) makes its
    * side of the exchange free.
    *
    * Ties on (`versionCol`) fall to the update side; ties within the same
    * side and version are resolved by the ORDERABLE payload columns —
    * callers wanting strict determinism keep (id, version) unique per
    * side, which real ingest pipelines do by construction. Unorderable
    * payload types (maps, or structs containing them) can't join the
    * ordering directly, so their canonical JSON serialization does
    * instead (final tie-break component): two rows tying on every
    * orderable column still pick a data-determined winner, not an
    * arrival-order-dependent one. (Residual caveat: JSON map-entry order
    * follows the map's internal entry order, so two maps with identical
    * entries in different insertion order compare unequal — a stable but
    * representation-sensitive ordering.) */
  def upsert(base: DataFrame, updates: DataFrame, idCol: String = "doc_id",
             versionCol: String = "version"): DataFrame = {
    val cols = base.columns.toSeq
    require(cols.contains(idCol) && cols.contains(versionCol),
      s"base must carry $idCol and $versionCol")
    val rest = cols.filterNot(_ == idCol)
    def tagged(df: DataFrame, side: Int) =
      df.select(cols.map(F.col): _*).withColumn("_side", F.lit(side))
    val schema = base.schema
    val orderableRest = rest.filterNot(_ == versionCol).filter { c =>
      org.apache.spark.sql.catalyst.expressions.RowOrdering
        .isOrderable(schema(c).dataType)
    }
    val unorderableRest = rest.filterNot(_ == versionCol)
      .filterNot(orderableRest.contains)
    val ordered = F.struct(
      (Seq(versionCol, "_side") ++ orderableRest).map(F.col) ++
        (if (unorderableRest.isEmpty) Nil
         else Seq(F.to_json(F.struct(unorderableRest.map(F.col): _*))
           .as("_canon"))): _*)
    val payload = F.struct(rest.map(F.col): _*)
    tagged(base, 0).unionByName(tagged(updates, 1))
      .groupBy(F.col(idCol))
      .agg(F.max_by(payload, ordered).as("_w"))
      .select(F.col(idCol) +: rest.map(c => F.col(s"_w.$c").as(c)): _*)
  }

  /** Corpus TIME TRAVEL: read a versioned change log "as of" `version` —
    * per id, the row with the highest version ≤ `version`, with ids whose
    * winning row is a tombstone (`opCol` = "d") absent — the
    * reproducibility primitive a training pipeline needs to re-materialize
    * EXACTLY the corpus a past run trained on from the append-only CDC
    * log [[upsert]]-style refreshes produce ("train run 7 used corpus
    * v12" must stay answerable after v13..v40 landed).
    *
    * Scale shape: the version predicate is a plain scan filter (PUSHED to
    * parquet — old versions' row groups prune on their version stats),
    * then the [[upsert]] aggregation shape: one hash exchange on the id,
    * winner per key as a map-side-combinable `max_by` over the version —
    * no window, no self-join, the exchange carries ~|ids| candidate rows.
    *
    * Contract: (idCol, versionCol) unique in the log — what an
    * append-only CDC log guarantees by construction; ties would make the
    * winner payload-ordering-dependent. Output: every log column except
    * `opCol` (the surviving row's version rides along as the audit
    * stamp). */
  def asOf(log: DataFrame, version: Long, idCol: String = "doc_id",
           versionCol: String = "version", opCol: String = "op"): DataFrame = {
    val cols = log.columns.toSeq
    require(cols.contains(idCol) && cols.contains(versionCol) && cols.contains(opCol),
      s"log must carry $idCol, $versionCol and $opCol")
    val rest = cols.filterNot(_ == idCol)
    val payload = F.struct(rest.map(F.col): _*)
    log.filter(F.col(versionCol) <= version)
      .groupBy(F.col(idCol))
      .agg(F.max_by(payload, F.col(versionCol)).as("_w"))
      .filter(F.col(s"_w.$opCol") =!= "d")
      .select(F.col(idCol) +:
        rest.filterNot(_ == opCol).map(c => F.col(s"_w.$c").as(c)): _*)
  }

  /** Snapshot diff: which ids were added, removed, or changed between
    * corpus snapshots `a` (old) and `b` (new), comparing `contentCol`
    * (pass a content hash for wide rows — the comparison only needs
    * equality). Emits ONLY the changed set — at corpus refresh rates a
    * vanishing fraction, which is what an audit log stores.
    *
    * Scale shape: one full-outer sort-merge join on the id (both sides
    * shuffle once; bucketed snapshots make it exchange-free), content
    * comparison as a codegen'd projection — no aggregation, no window.
    *
    * Row presence is tracked with explicit per-side markers, NOT nullness
    * of the content column: a document present in both snapshots with
    * NULL content must not read as added/removed, and a NULL-vs-text
    * transition is a real change — hence the null-safe `<=>` compare. */
  def diff(a: DataFrame, b: DataFrame, idCol: String = "doc_id",
           contentCol: String = "text"): DataFrame = {
    val l = a.select(F.col(idCol), F.col(contentCol).as("_ca"))
      .withColumn("_ina", F.lit(true))
    val r = b.select(F.col(idCol), F.col(contentCol).as("_cb"))
      .withColumn("_inb", F.lit(true))
    l.join(r, Seq(idCol), "full_outer")
      .withColumn("status",
        F.when(F.col("_ina").isNull, F.lit("added"))
          .when(F.col("_inb").isNull, F.lit("removed"))
          .when(!(F.col("_ca") <=> F.col("_cb")), F.lit("changed")))
      .filter(F.col("status").isNotNull)
      .select(F.col(idCol), F.col("status"))
  }

  /** Scan-LAYOUT optimization — the "sort your data for your queries"
    * step every at-rest 100 TB corpus pays once so every later scan pays
    * less: range-partition on `clusterCols` (one exchange) and sort
    * within partitions, so each written parquet file covers a narrow
    * `clusterCols` range and its row-group/file statistics (min/max)
    * let a filtered scan SKIP everything outside the predicate — the
    * lakehouse linear-clustering pattern (the single-column-prefix case
    * of Z-ordering; hot filter columns like lang/source/quality-tier are
    * exactly this shape). Content is untouched: a layout rewrite must be
    * a no-op to every reader that doesn't filter (the q_layout_prune
    * oracle runs against the UNOPTIMIZED table for precisely that
    * reason). `ranges` bounds the file count from above by design —
    * at scale pick it from targetBytes ≈ data / file-size, not task
    * count, or every task fans a sliver into every range (the
    * writeBucketedBy alignment lesson).
    *
    * Sorting WITHIN partitions costs nothing extra (the range exchange
    * already moved the rows) and upgrades file-level pruning to
    * row-group-level for secondary sort columns. */
  def optimizeLayout(df: DataFrame, path: String, clusterCols: Seq[String],
                     ranges: Int = 8): Unit = {
    require(clusterCols.nonEmpty, "optimizeLayout needs at least one cluster column")
    require(ranges >= 1, s"need ranges >= 1, got $ranges")
    df.repartitionByRange(ranges, clusterCols.map(F.col): _*)
      .sortWithinPartitions(clusterCols.map(F.col): _*)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path)
  }

  /** CDC-log COMPACTION — the periodic maintenance step the
    * [[graft.streaming.StreamingOps.exactlyOnceParquetSink]] merge-on-read story
    * requires: materialize [[asOf]] at `version` through
    * [[optimizeLayout]]'s range-clustered writer to a NEW path
    * (single-writer build-verify-swap, the ivfRequantize lifecycle).
    * After the swap, serving reads the compacted snapshot and the log
    * restarts from `version` — reads stop paying the merge, and the
    * rewrite is content-invisible by contract (the gate reads the
    * compacted table against the UNCOMPACTED asOf oracle). */
  def compact(log: DataFrame, version: Long, outPath: String,
              clusterCols: Seq[String], ranges: Int = 8,
              idCol: String = "doc_id", versionCol: String = "version",
              opCol: String = "op"): Unit =
    optimizeLayout(asOf(log, version, idCol, versionCol, opCol),
      outPath, clusterCols, ranges)
}
