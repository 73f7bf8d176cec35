package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Local scale-factor amplifier for the sf0.1 fixtures — produces the
 * "sf1" dataset used by the BASELINE.md scale-probe section.
 *
 * Why synthesize here at all (TESTDATA.md says use the driver's parquet):
 * the driver generates sf0.001/0.01/0.1 only, and the 100×-scale design
 * arguments in VERDICT r5 ("Next round" #4) need a measured ≥10× point for
 * the heavy-tail operators (d04 PPJoin candidate growth, d10/x04 CC rounds
 * × pair set, m04 tier crossover, t08 winnowing index, g04 HITS edge
 * joins). This main derives that point FROM the driver's own sf0.1 parquet
 * by a deterministic ×N replication that preserves each operator's
 * workload *shape* per copy while keeping copies disjoint in the similarity
 * spaces the operators search:
 *
 *  - documents: copy k ≠ 0 rewrites every whitespace token `w` → `w⁚k…k`
 *    (k repetitions of `k`, prefixed by a char no fixture token contains),
 *    so within-copy shingle sets — and therefore the n-gram Jaccard /
 *    MinHash / SimHash pair structure, duplicate RATE, and cluster-size
 *    histogram — are identical to sf0.1's, while cross-copy Jaccard is
 *    exactly 0. A naive 10× row-copy would instead give every doc 10
 *    exact clones and inflate candidate pairs ~100× per cluster —
 *    measuring an artifact, not scaling. The suffix LENGTH varies per
 *    copy deliberately: a fixed-length suffix (`⁚k1`, `⁚k2`, …) leaves
 *    every copy's BYTE-NIBBLE histogram identical (all digits share
 *    nibble 0x3), which made copies 1–9 mutual cosine-1 near-dups in
 *    m04's feature space — disjointness must hold in EVERY similarity
 *    space the operators search, and the per-copy byte count (3+k per
 *    word, nibbles 0x6/0x8/0x9/0xE) separates the histograms by ≫ the
 *    ppm near-dup threshold. n_chars is recomputed to stay consistent
 *    with the text.
 *  - embeddings: copy k applies a deterministic per-dimension sign flip
 *    (diagonal ±1 orthogonal transform keyed on murmur3(dim, k)): norms
 *    and all within-copy inner products are preserved bit-for-bit, so
 *    per-copy ANN/k-means/PCA structure matches sf0.1, while cross-copy
 *    cosines are scrambled away from the near-dup threshold.
 *  - events: id/user offset per copy; timestamps untouched — 10× users
 *    over the same time range, the realistic growth axis for
 *    sessionization/funnel/retention (more users, not a longer history).
 *  - ids offset by k·10⁹ — far above any fixture id, so id-keyed joins
 *    stay collision-free. plantedHost (mod 7/13/4 of doc_id) keeps its
 *    fixed 364-host universe, so the g-family graph gains 10× edges over
 *    the same node set — the real-web shape (hosts ≪ docs).
 *
 * TPC-H tables are copied through unchanged (the probe doesn't grade
 * them; they're present so the output dir is a complete, loadable sf dir).
 *
 * Usage: runMain graft.ScaleGen [srcDir] [outDir] [factor]
 * Defaults: /root/testdata/sf0.1 /tmp/graft-sf1 10
 */
object ScaleGen {
  private val IdStride = 1000000000L

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/graft-sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.engine.GraftEngine.batchSession("graft-scalegen")

    def copies(base: DataFrame)(perturb: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(k => perturb(base, k)).reduce(_ unionAll _)

    val docs = graft.tables.Tables(spark, src, "documents")
    copies(docs) { (df, k) =>
      val txt =
        if (k == 0) col("text")
        else array_join(transform(split(col("text"), " "),
          w => concat(w, lit("⁚" + "k" * k))), " ")
      df.select(
        (col("doc_id") + lit(k * IdStride)).as("doc_id"),
        txt.as("text"), col("lang"), col("source"),
        length(txt).cast("long").as("n_chars"))
    }.repartition(32).write.mode("overwrite").parquet(s"$out/documents.parquet")

    val embs = graft.tables.Tables(spark, src, "embeddings")
    copies(embs) { (df, k) =>
      val vec =
        if (k == 0) col("embedding")
        else expr(s"transform(embedding, (x, i) -> IF(pmod(hash(i, $k), 2) = 0, x, -x))")
      df.select(
        (col("vec_id") + lit(k * IdStride)).as("vec_id"),
        vec.as("embedding"), col("label"))
    }.repartition(32).write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    val events = graft.tables.Tables(spark, src, "events")
    copies(events) { (df, k) =>
      df.select(
        (col("event_id") + lit(k * IdStride)).as("event_id"), col("ts"),
        (col("user_id") + lit(k * IdStride)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.repartition(32).write.mode("overwrite").parquet(s"$out/events.parquet")

    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
      .foreach { t =>
        spark.read.parquet(s"$src/$t.parquet")
          .write.mode("overwrite").parquet(s"$out/$t.parquet")
      }

    Seq("documents", "embeddings", "events").foreach { t =>
      val n = spark.read.parquet(s"$out/$t.parquet").count()
      println(s"GRAFT_SCALEGEN $t $n")
    }
    spark.stop()
  }
}
