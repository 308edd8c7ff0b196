package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.PlanExpression

/** Scan-parallelism repair for CPU-heavy per-row expansions (optimization
  * guide §2.5 "input skew": one huge unsplittable input → repartition
  * immediately after the read).
  *
  * A parquet scan yields one task per ≤`maxPartitionBytes` split, and a
  * split never subdivides a row group — so a compact table (one small file,
  * or a few row groups) feeds EVERYTHING up to the first exchange to a
  * single core. For a narrow scan followed by a cheap aggregate that is
  * irrelevant; for a scan followed by a heavy generator (per-position
  * substring hashing, tokenization, shingling) the whole expansion
  * serializes on one task while the rest of the machine idles.
  *
  * [[fanOutIfCompact]] redistributes the pre-expansion rows across the
  * session's cores ONLY when the scan provides fewer splits than cores.
  * The check is on the actual planned partition count, so it is
  * scale-ADAPTIVE, not a local-mode constant: at production scale any
  * data-scaled table plans thousands of splits and the helper is the
  * identity — no extra exchange ever reaches a large plan. The exchange it
  * inserts on the compact path carries the narrow pre-expansion rows
  * (bounded by the compact input itself), never the expanded output.
  *
  * `repartition(n)` with an explicit count is used deliberately: an AQE
  * coalescable exchange (`repartition(col)` / ENSURE_REQUIREMENTS) would
  * immediately re-coalesce a sub-64MB input back to one partition and
  * undo the fan-out.
  */
object Par {

  /** Number of partitions the current physical plan of `df` produces —
    * for a bare scan, the split count (file listing only; runs no job).
    *
    * CONTRACT: callers must pass only bare scans / projections / filters /
    * unions of scans. `toRdd` forces the physical plan, and under AQE a
    * plan containing an Exchange or subquery would eagerly EXECUTE its
    * shuffle stages and its subqueries at query-construction time. Guarded
    * below: any plan that already contains an exchange or a subquery
    * expression is treated as "not compact" without touching `toRdd` (such
    * a frame has already left the single-split-scan regime this helper
    * exists to repair).
    */
  private def plannedPartitions(df: DataFrame): Int = {
    // sparkPlan (not executedPlan): the pre-adaptive physical plan — pure
    // planning, traversable, never materializes a query stage. Its
    // subqueries are still unplanned `PlanExpression`s here.
    val eager = df.queryExecution.sparkPlan.exists {
      case _: org.apache.spark.sql.execution.exchange.Exchange => true
      case p => p.expressions.exists(_.exists(_.isInstanceOf[PlanExpression[_]]))
    }
    if (eager) Int.MaxValue
    else df.queryExecution.toRdd.getNumPartitions
  }

  /** Fan `df` out to `spark.default.parallelism` partitions iff its scan
    * plans fewer splits than that; identity otherwise (the 100 TB path).
    *
    * With `keys`: hash-partition on them. `keys` MUST be deterministic row
    * expressions with (near-)unique combinations — this (a) skips the
    * whole-partition local sort a round-robin `repartition(n)` pays
    * (`spark.sql.execution.sortBeforeRepartition`, SPARK-23207 — a
    * single-core sort of exactly the stage this helper is trying to
    * unblock; measured +0.4-0.6 s on the 600k-row fixture tables) and
    * (b) stays deterministic under task retry, the reason that sort
    * exists for round-robin.
    *
    * Without `keys`: round-robin. Right only when the compact input is
    * row-FEW (the pre-shuffle local sort is then trivial) and no
    * deterministic expression spreads evenly — e.g. a heavily-duplicated
    * text corpus, where hashing the text clusters the duplicates
    * (measured: hash-by-text 2.77 s vs round-robin 1.45 s on
    * q_substring_dup at sf0.1).
    */
  def fanOutIfCompact(df: DataFrame, keys: Column*): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (plannedPartitions(df) >= target) df
    else if (keys.nonEmpty) df.repartition(target, keys: _*)
    else df.repartition(target)
  }

  /** Keyed exchange whose partition count is pinned against AQE coalescing
    * ONLY on the compact-scan path. A bare `repartition(keys)` is
    * AQE-coalescable (ENSURE_REQUIREMENTS-style advisory sizing), so on a
    * sub-`advisoryPartitionSizeInBytes` input it collapses back to ~1
    * partition — and when the frame is then localCheckpoint'ed, every
    * downstream consumer inherits that single partition and serializes
    * (measured on q_market_basket: the whole C(k,2) pair expansion ran
    * one-core). At scale (scan plans >= cores splits) the AQE-managed
    * keyed exchange is the right behavior and is kept unchanged.
    * Same scan-only caller contract as [[fanOutIfCompact]].
    */
  def keyedExchange(df: DataFrame, keys: Column*): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (plannedPartitions(df) >= target) df.repartition(keys: _*)
    else df.repartition(target, keys: _*)
  }

  // No per-query AQE toggle ships: AQE's coalescing is load-bearing for
  // many-round tiny-shuffle fixpoints (q_median_polish x2.2 slower without
  // it; measurements in OPTIMIZATION_r13.md).
}
