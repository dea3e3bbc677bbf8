package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, GlobalLimit, Join, LocalLimit, LogicalPlan, Offset, RepartitionOperation, Sort, Window}

/** Conditional scan spread (round 9; VERDICT r8 "what's wrong" #3).
  *
  * Heavy per-row folds (shingling, minhash, tokenize-and-count) need the
  * corpus spread across all cores, but the round-robin repartition that
  * guarantees it is a full shuffle of the corpus — at 100 TB an extra
  * corpus pass whose ONLY purpose is parallelism the scan already has
  * (thousands of splits >> cores). Repartition exactly when it can help:
  * when the input has fewer partitions than the session's default
  * parallelism (the small-file / local-bench regime). `rdd` conversion
  * here plans the query but runs no job.
  *
  * Not for exchanges that carry a REQUIRED distribution (e.g. the pinned
  * `repartition(p, col)` under a window) — those exist regardless of
  * partition count; this is only for parallelism-motivated spreads.
  *
  * Scan-only guard (round 10; ADVICE r9): the `rdd` partition probe plans
  * job-free for a bare scan, but on a plan that already contains
  * exchanges AQE's `toRdd` materializes those query stages as REAL jobs,
  * which then run AGAIN when the full query executes (exchange reuse does
  * not span separate executions) — measured round 9 as a doubled dedup
  * aggregate in q_pipeline. In-repo call sites all pass scan chains, but
  * every public Dedup/TfIdf/Pq entry point forwards caller-supplied
  * frames here, so the precondition is now ENFORCED: a plan containing a
  * join, aggregate, window, or explicit repartition skips both the probe
  * and the spread (such a plan has already been through — or pinned — an
  * exchange, so the scan-parallelism motivation doesn't apply).
  */
object Spread {
  /** True when the optimized plan is an exchange-free scan chain
    * (project/filter/generate over a relation) — the only shape where the
    * partition probe is job-free and a round-robin spread is the cheap
    * parallelism fix. Inspecting `optimizedPlan` runs analysis +
    * optimization only; no Spark jobs. */
  private def isScanChain(plan: LogicalPlan): Boolean =
    plan.collectFirst {
      case j: Join => j
      case a: Aggregate => a
      case w: Window => w
      case r: RepartitionOperation => r
      case s: Sort if s.global => s // orderBy plans a range exchange too
      // limit/offset plans insert a SinglePartition exchange under AQE, so
      // the rdd partition probe would materialize that stage as a REAL job
      // (a full pre-limit scan) that re-runs at execution — the exact
      // doubled pass this guard exists to prevent.
      case l: GlobalLimit => l
      case l: LocalLimit => l
      case o: Offset => o
      // Subquery expressions hide WHOLE PLANS inside expression trees that
      // collectFirst never descends into: a scan filtered by a scalar/IN
      // subquery would pass the node checks above, yet the rdd probe
      // submits the subquery's job, which re-runs at execution — the same
      // doubled pass through a side door.
      case p: LogicalPlan if p.expressions.exists(_.exists {
        case _: org.apache.spark.sql.catalyst.expressions.SubqueryExpression => true
        case _ => false
      }) => p
    }.isEmpty

  def apply(df: DataFrame): DataFrame = spread(df)(df.repartition(_))

  /** Like [[apply]], but when a spread IS needed it hash-partitions on
    * `key` instead of round-robin — same cost (one exchange of the same
    * rows), but the resulting `HashPartitioning(key)` satisfies any
    * downstream per-`key` window/aggregation's required distribution, so
    * the planner drops THAT exchange (and its stage pair) from the plan.
    * When the scan is already parallel enough no exchange is added and
    * the downstream operator plans its own, exactly as without Spread —
    * the optimization is opportunistic, never load-bearing.
    *
    * `key` must be high-cardinality (a row id, not a category): hash
    * partitioning spreads only as well as the key's distinct count, so
    * a low-cardinality key would concentrate the very parallelism this
    * exists to provide. Callers with categorical keys should use
    * [[apply]] (round-robin) and let the downstream op exchange. */
  def byKey(df: DataFrame, key: String): DataFrame =
    spread(df)(df.repartition(_, org.apache.spark.sql.functions.col(key)))

  /** `repartition(p)` with `p` the default parallelism, applied only to a
    * batch scan chain with fewer than `p` partitions; otherwise `df`.
    * Streaming frames have no rdd to probe (AnalysisException) and their
    * micro-batch scans are partitioned by the engine — they pass through. */
  private def spread(df: DataFrame)(repartition: Int => DataFrame): DataFrame =
    if (df.isStreaming || !isScanChain(df.queryExecution.optimizedPlan)) df
    else {
      val p = df.sparkSession.sparkContext.defaultParallelism
      if (df.rdd.getNumPartitions < p) repartition(p) else df
    }
}
