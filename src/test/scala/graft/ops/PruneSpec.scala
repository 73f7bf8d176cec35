package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.tables.Tables

/** Bloom-prefiltered semi join: bit-identical to the plain semi join, with
  * the sketch filter sitting on the fact scan before any exchange. */
class PruneSpec extends SparkSuite {

  test("bloomSemiJoin equals the plain semi join exactly") {
    val li = Tables(spark, sf, "lineitem")
    val dim = Tables(spark, sf, "part").filter(col("p_size") === 1)
    val got = Prune.bloomSemiJoin(li, "l_partkey", dim, "p_partkey", 1024L)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
      .collect().map(_.toSeq).toSet
    val exp = li.join(dim.select(col("p_partkey")),
        li("l_partkey") === col("p_partkey"), "left_semi")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
      .collect().map(_.toSeq).toSet
    assert(got.nonEmpty)
    assert(got === exp)
  }

  test("the bloom prefilter runs on the scan side, below every exchange") {
    val li = Tables(spark, sf, "lineitem")
    val dim = Tables(spark, sf, "part").filter(col("p_size") === 1)
    val df = Prune.bloomSemiJoin(li, "l_partkey", dim, "p_partkey", 1024L)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), plan)
    // undersized filter still yields the exact answer (fp-only distortion)
    val tiny = Prune.bloomSemiJoin(li, "l_partkey", dim, "p_partkey", 8L)
      .count()
    val exact = li.join(dim.select(col("p_partkey")),
      li("l_partkey") === col("p_partkey"), "left_semi").count()
    assert(tiny === exact)
  }
}
