package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic sf0.1 tables with the fixture schemas (FIXTURES.md §2):
  * the same row counts, column types and value domains, every value a
  * hash of the row id and a fixed data seed, so every checkout serves the
  * same bytes. Written once per checkout; the request stream, not the data,
  * is what `--seed` varies. */
object DataGen {
  val Version = "sf0.1-v2"
  private val DataSeed = 42L

  private def h(k: Int): Column = xxhash64(col("id"), lit(DataSeed), lit(k))
  private def mod(k: Int, m: Long): Column = pmod(h(k), lit(m))
  private def pickFrom(k: Int, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (mod(k, xs.length.toLong) + 1).cast("int"))
  private def cents(k: Int, lo: Long, hi: Long): Column =
    ((mod(k, (hi - lo) * 100) + lo * 100) / 100.0).cast("double")
  private def day(k: Int, from: String, days: Long): Column =
    date_add(to_date(lit(from)), mod(k, days).cast("int")).cast("timestamp")

  private val words = Seq("batch", "part", "spark", "line", "column", "order", "small",
    "sort", "fast", "value", "scan", "hash", "slow", "group", "agg", "filter", "query",
    "big", "key", "window", "row", "table", "stream", "merge", "data", "vector", "join")

  def tables(spark: SparkSession): Seq[(String, DataFrame)] = {
    def ids(n: Long) = spark.range(n)
    Seq(
      "region" -> ids(5).select(col("id").cast("int").as("r_regionkey"),
        element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
          (col("id") + 1).cast("int")).as("r_name")),
      "nation" -> ids(25).select(col("id").cast("int").as("n_nationkey"),
        concat(lit("NATION_"), col("id")).as("n_name"), (col("id") % 5).cast("int").as("n_regionkey")),
      "customer" -> ids(15000).select(col("id").as("c_custkey"),
        format_string("Customer#%09d", col("id")).as("c_name"),
        mod(1, 25).cast("int").as("c_nationkey"), cents(2, 0, 10000).as("c_acctbal"),
        pickFrom(3, Requests.segments).as("c_mktsegment")),
      "supplier" -> ids(1000).select(col("id").as("s_suppkey"),
        format_string("Supplier#%09d", col("id")).as("s_name"),
        mod(1, 25).cast("int").as("s_nationkey"), cents(2, 0, 10000).as("s_acctbal")),
      "part" -> ids(20000).select(col("id").as("p_partkey"),
        concat_ws(" ", pickFrom(1, Seq("large", "hot", "blue", "small", "red", "shiny", "old", "green")),
          pickFrom(2, Seq("ring", "bolt", "anvil", "widget", "gear", "valve", "spring", "nut"))).as("p_name"),
        concat(lit("Brand#"), mod(3, 25) + 1).as("p_brand"),
        pickFrom(4, Seq("LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO")).as("p_type"),
        (mod(5, 50) + 1).cast("int").as("p_size"),
        (lit(900.0) + (col("id") % 2000) / 10.0).as("p_retailprice")),
      "orders" -> ids(150000).select(col("id").as("o_orderkey"), mod(1, 15000).as("o_custkey"),
        pickFrom(2, Seq("F", "O", "P")).as("o_orderstatus"), cents(3, 1000, 500000).as("o_totalprice"),
        day(4, "1995-01-01", 2405).as("o_orderdate"),
        pickFrom(5, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority")),
      "lineitem" -> ids(600000).select(mod(1, 150000).as("l_orderkey"), mod(2, 20000).as("l_partkey"),
        mod(3, 1000).as("l_suppkey"), (mod(4, 7) + 1).cast("int").as("l_linenumber"),
        (mod(5, 50) + 1).cast("double").as("l_quantity"), cents(6, 900, 100000).as("l_extendedprice"),
        (mod(7, 11) / 100.0).as("l_discount"), (mod(8, 9) / 100.0).as("l_tax"),
        pickFrom(9, Seq("A", "N", "R")).as("l_returnflag"), pickFrom(10, Seq("F", "O")).as("l_linestatus"),
        day(11, "1995-01-02", 2500).as("l_shipdate")),
      "events" -> ids(100000).select(col("id").as("event_id"),
        timestamp_micros(lit(1704067200000000L) + mod(1, 30L * 86400L * 1000000L)).as("ts"),
        mod(2, 1500).as("user_id"),
        pickFrom(3, Seq("click", "error", "purchase", "signup", "view")).as("event_type"),
        cents(4, 0, 300).as("value"), format_string("{\"k\": %d}", mod(5, 100)).as("props")),
      "documents" -> ids(5000).select(col("id").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(1), (mod(1, 50) + 5).cast("int")),
          i => element_at(array(words.map(lit): _*),
            (pmod(xxhash64(col("id"), i), lit(words.length.toLong)) + 1).cast("int")))).as("text"),
        pickFrom(2, Seq("de", "en", "es", "fr", "zh")).as("lang"),
        concat(lit("src"), mod(3, 20)).as("source"))
        .withColumn("n_chars", length(col("text")).cast("long")),
      "embeddings" -> ids(2000).select(col("id").as("vec_id"),
        transform(sequence(lit(1), lit(64)), i =>
          ((pmod(xxhash64(col("id"), i), lit(20001L)) - 10000) / 40000.0).cast("float")).as("embedding"),
        mod(1, 10).cast("int").as("label")))
  }

  /** Write every table as `<dir>/<name>.parquet` (one file each, like the
    * fixtures) and the artifacts of [[Serving.Artifacts]], then a marker so
    * a half-written directory is never used. The artifacts are what a
    * release job writes once for the op routes: an IVF index over the
    * embeddings (assignments partitioned by list id, medoid centroids)
    * and a table of query vectors. */
  def write(spark: SparkSession, dir: String): Unit = {
    tables(spark).foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
    val corpus = spark.read.parquet(s"$dir/embeddings.parquet")
    val (assign, cent) = graft.ops.Similarity.ivfIndex(corpus, "embedding", "vec_id", "label")
    assign.write.mode("overwrite").partitionBy("cid").parquet(s"$dir/ann_assign")
    cent.coalesce(1).write.mode("overwrite").parquet(s"$dir/ann_cent")
    corpus.filter(col("vec_id") % 100 === 0).coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/ann_queries")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "READY"), Version)
  }
}
