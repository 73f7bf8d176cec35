package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions.{coalesce, lit, pmod}

/**
 * Explicit single-group window over a PROVABLY BOUNDED table.
 *
 * `Window.orderBy(...)` with no partition spec makes WindowExec log
 * "No Partition Defined ... Moving all data to a single partition" on
 * every execution. That warning is this engine's scale-safety alarm —
 * an unpartitioned window over corpus-sized rows funnels 100 TB through
 * one task — so it must stay MEANINGFUL: the handful of deliberate
 * single-group windows here all run over bounded AGGREGATE tables
 * (bucket-offset tables ≤ |tiers|·256 rows, histogram bins ≤ nBins,
 * domain allocations ≤ |domains|, merged KMV sketches ≤ shards·k),
 * never over unit rows, and each caller states its bound at the call
 * site.
 *
 * The device: partition by a CONSTANT-VALUED key. The physical plan
 * gets `Exchange hashpartitioning(<const>, n)` instead of `Exchange
 * SinglePartition` — the same one-partition data movement, the same
 * results (the sort prepends a constant), zero cost difference — and
 * WindowExec no longer warns, so a REAL unpartitioned window regression
 * in some future operator surfaces as the only warning in the
 * Verify/bench logs instead of drowning among known-bounded ones.
 *
 * The key is `pmod(coalesce(anchor, 0), 1)` — identically 0 on every
 * row, but NON-FOLDABLE because it references a data column: a plain
 * `lit(0)` partition key is stripped by Spark 4's
 * `EliminateWindowPartitions` optimizer rule (SPARK-46941), which would
 * silently restore the bare unpartitioned window and its warning.
 * `anchor` can be any integral column of the table (nulls are fine —
 * the coalesce keeps the key 0, never a second null group); callers pass
 * their first ordering column. PlanSpec pins the resulting plan shape,
 * so a future Spark version folding this form fails CI loudly rather
 * than degrading silently.
 *
 * Do NOT use this over anything whose row count scales with the
 * corpus: boundedness is the caller's proof obligation, and the
 * comment at each call site is where that proof lives.
 */
object BoundedWindow {
  /** Single-group ordered window over a bounded table; `anchor` is a
    * column of that table, used only to defeat constant folding. It must
    * be integral: the key casts it to long, and under ANSI mode that cast
    * throws on a non-numeric string (and on a fractional value outside the
    * long range). */
  def orderBy(anchor: Column, cols: Column*): WindowSpec =
    Window.partitionBy(pmod(coalesce(anchor.cast("long"), lit(0L)), lit(1L)))
      .orderBy(cols: _*)
}
