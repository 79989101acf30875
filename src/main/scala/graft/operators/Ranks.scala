package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Long-safe positional rank for UNFILTERED rank outputs — a running
  * count over the ordered ROWS frame. Positions are identical to
  * `row_number()` under the repo's deterministic total orders, but the
  * type is LongType end to end: `row_number()` is IntegerType and wraps
  * negative past 2^31 rows in one partition.
  *
  * The repo-wide decision matrix (settled after measuring both failure
  * modes):
  *
  *   - **`rank <= k` / `rank === 1` cut adjacent to the window** — KEEP
  *     `row_number()`. Catalyst's `InferWindowGroupLimit` matches only
  *     rank-like functions (RowNumber/Rank/DenseRank) and rewrites the
  *     plan to partial+final per-group top-k pruning BEFORE the window
  *     sort (`WindowGroupLimitExec`) — on the ANN serve paths that prune
  *     IS the top-k fast path, and it caps the rank's input at k rows
  *     per group, so the Int rank can never overflow. A running count
  *     would defeat the rewrite and buffer/sort ENTIRE partitions —
  *     measured as the dominant cost at the >2^31-row scale the
  *     long-safe form was meant to protect. AnnPlanPinsSpec (the ANN
  *     serves) and PlanPinsSpec pin `WindowGroupLimit` in
  *     representative plans so a pattern/conf regression (which would
  *     silently restore both the slow path and the overflow exposure)
  *     fails loudly.
  *   - **rank emitted as an OUTPUT column with no adjacent cut**
  *     (persisted shard positions, per-group indices feeding
  *     arithmetic) — use [[rowNumberL]]. No group limit exists to lose
  *     (the window sorts the whole partition either way), and the Long
  *     type is the only thing preventing silently-wrong positions past
  *     2^31 rows ([[Percentiles.groupedExact]]'s internal ranks and
  *     q122's rank×chars products are this class). */
object Ranks {
  def rowNumberL(w: WindowSpec): Column =
    count(lit(1)).over(
      w.rowsBetween(Window.unboundedPreceding, Window.currentRow))

  /** The rank to use at a `rank <= k` cut when `k` is CALLER-CHOSEN:
    * `InferWindowGroupLimit` only fires for limits ≤
    * `spark.sql.optimizer.windowGroupLimitThreshold` (default 1000), so
    * above it `row_number()`'s prune-based overflow guard silently
    * vanishes. Below the threshold this returns `row_number()` (the
    * rewrite gives the top-k fast path AND caps the rank input at k);
    * above it, [[rowNumberL]] (no rewrite exists to lose, and the Long
    * rank is the only overflow protection). Callers that emit the rank
    * should cast it to long AFTER the filter so the output schema is
    * k-independent (a cast between the window and the cut would break
    * the rewrite's pattern match).
    *
    * The threshold is read at PLAN-CONSTRUCTION time while Catalyst
    * reads it at optimization time — a session that flips the conf
    * between building and collecting a frame desynchronizes the choice
    * (worst case: row_number chosen, rewrite then disabled → slow path
    * with an unguarded Int rank). Deployments treat optimizer confs as
    * static; don't flip this one around live frames. */
  def cutRank(spark: org.apache.spark.sql.SparkSession, w: WindowSpec,
      k: Int): Column = {
    val threshold = spark.conf
      .getOption("spark.sql.optimizer.windowGroupLimitThreshold")
      .map(_.toLong).getOrElse(1000L)
    if (k.toLong <= threshold) row_number().over(w) else rowNumberL(w)
  }
}
