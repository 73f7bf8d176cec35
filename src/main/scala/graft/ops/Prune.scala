package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Sideband pruning operators — build a compact sketch of one relation's
 * keys and use it to drop non-matching rows of a much larger relation
 * BEFORE the shuffle. At 100 TB this is the difference between shuffling
 * the full fact table into a semi join and shuffling only the ~matching
 * fraction; Spark's own AQE runtime row-level filtering
 * (`InjectRuntimeFilter`) applies the same `BloomFilterAggregate` /
 * `BloomFilterMightContain` machinery when its heuristics fire — this
 * operator makes the plan shape explicit, deterministic, and testable.
 */
object Prune {

  /**
   * Bloom-filter semi join: EXACTLY `fact LEFT SEMI JOIN dim` on the keys
   * (bit-for-bit — Bloom filters have no false negatives and the exact
   * semi join removes the false positives), but the fact side is
   * prefiltered by a broadcast sketch of the dim keys before any
   * exchange. `expectedItems` sizes the filter (~3 % fpp at the default
   * sizing); oversizing costs bits, undersizing costs only extra
   * false-positive rows that the exact join then drops — correctness
   * never depends on it.
   */
  def bloomSemiJoin(
      fact: DataFrame, factKey: String,
      dim: DataFrame, dimKey: String,
      expectedItems: Long = 1000000L): DataFrame = {
    graft.functions.GraftFunctions.register(fact.sparkSession)
    // Aggregate xxhash64 of the dim keys into ONE sketch row and hand it
    // to the fact side as a binary literal: might_contain requires a
    // constant (or scalar subquery) filter argument, and this single-row
    // collect is exactly the handoff Spark itself performs — AQE's
    // InjectRuntimeFilter materializes the same aggregate as a scalar
    // subquery, df.stat.bloomFilter collects the sketch to the driver.
    // The dim scan runs distributed; only the finished sketch (bits/8
    // bytes) crosses the driver.
    val bf = dim
      .select(xxhash64(col(dimKey)).as("__h"))
      .agg(call_function("graft_bloom_agg", col("__h"),
        lit(expectedItems)).as("__bf"))
      .head().getAs[Array[Byte]](0)
    val pruned =
      if (bf == null) fact.filter(lit(false))  // empty dim: bloom agg is null
      else fact.filter(call_function("graft_might_contain", lit(bf),
        xxhash64(col(factKey))))
    // exact verification: plain semi join on the (already tiny) survivor set
    pruned.join(dim.select(col(dimKey).as("__dk")).distinct(),
      col(factKey) === col("__dk"), "left_semi")
  }
}
