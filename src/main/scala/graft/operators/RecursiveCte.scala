package graft.operators

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions.{count, lit}

/** Recursive CTE (`WITH RECURSIVE`) — GP executes RecursiveUnion /
  * WorkTableScan (reference: src/backend/executor/nodeRecursiveunion.c:76,
  * nodeWorktablescan.c:86). Spark has no recursive plan node, so we run the
  * standard semi-naive fixpoint loop on the driver: each iteration is a
  * distributed job; only the delta is fed back.
  *
  * [[fixpoint]] is the one loop every recursion in graft runs on: the
  * two CTE variants here, tablefunc `connectby` and
  * [[Components.connectedComponents]].
  *
  * Scale note: each round's delta is an eager local checkpoint; at 100 TB
  * the delta (not the full input) is what recirculates, matching the
  * reference's worktable design. `maxIterations`
  * bounds runaway recursion (GP: gp_max_slices-style guardrails).
  */
object RecursiveCte {

  /** Iterations between accumulator checkpoints. Without this, `acc`'s
    * plan is a union of every delta so far: iteration i re-plans (and for
    * the distinct variant's anti-join, re-reads) i checkpointed inputs —
    * linear lineage, quadratic total cost, and eventual planner blow-up
    * at depth. Truncating `acc` every K iterations keeps any plan's
    * lineage depth ≤ K. */
  private val CheckpointEvery = 8

  /** Runs `round` from `init` until a round reports that it changed
    * nothing, and returns the state that round produced. Each call gets
    * its round number, counted from 1. A round that still changes the
    * state at the `maxRounds`-th call means the recursion does not
    * converge within the bound: `what` names it in the
    * IllegalStateException. */
  def fixpoint[S](init: S, maxRounds: Int, what: String)(
      round: (S, Int) => (S, Boolean)): S = {
    @annotation.tailrec
    def loop(state: S, rounds: Int): S = round(state, rounds) match {
      case (next, false) => next
      case _ if rounds >= maxRounds => throw new IllegalStateException(
        s"$what did not converge in $maxRounds rounds")
      case (next, true) => loop(next, rounds + 1)
    }
    loop(init, 1)
  }

  /** UNION ALL variant (`WITH RECURSIVE t AS (seed UNION ALL step)`).
    * Termination: step returns empty. */
  def unionAll(
      seed: DataFrame,
      step: DataFrame => DataFrame,
      maxIterations: Int = 100): DataFrame =
    union(seed, maxIterations)((delta, _) => step(delta))

  /** UNION (distinct) variant: new rows are deduped against everything seen
    * so far (semi-naive evaluation — only genuinely-new rows recirculate).
    * The anti-join target `acc` is re-checkpointed every few iterations so
    * the per-iteration scan reads one materialized table, not the full
    * chain of historical deltas. */
  def unionDistinct(
      seed: DataFrame,
      step: DataFrame => DataFrame,
      maxIterations: Int = 100): DataFrame =
    union(seed.distinct().localCheckpoint(eager = true), maxIterations) {
      (delta, acc) => step(delta).distinct().exceptAll(acc)
    }

  /** The semi-naive loop both variants share: `next(delta, acc)` is the
    * round's new rows, checkpointed and appended to `acc` until it comes
    * back empty. The row count rides the checkpoint as an observed
    * metric, so no probe job follows it. */
  private def union(seed: DataFrame, maxIterations: Int)(
      next: (DataFrame, DataFrame) => DataFrame): DataFrame =
    fixpoint((seed, seed), maxIterations, "recursive CTE") {
      case ((acc, delta), round) =>
        val rows = Observation()
        val d = next(delta, acc).observe(rows, count(lit(1)).as("n"))
          .localCheckpoint(eager = true)
        if (rows.get("n") == 0L) ((acc, d), false)
        else {
          val grown = acc.unionAll(d)
          ((if (round % CheckpointEvery == 0)
            grown.localCheckpoint(eager = true) else grown, d), true)
        }
    }._1
}
