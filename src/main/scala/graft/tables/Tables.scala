package graft.tables

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import scala.jdk.CollectionConverters._

/**
 * Fixture-table access for the TPC-H-ish parquet testdata
 * (`/root/testdata/sf*`, see TESTDATA.md).
 *
 * Mirrors the reference's catalog-attach step
 * (reference: src/iceberg_explorer/query/engine.py:86-110 — DuckDB `ATTACH`
 * makes catalog tables addressable by name); here the same capability is a
 * set of temp views over parquet so `spark.sql` queries can address tables
 * by bare name, while DataFrame pipelines read the parquet directly.
 *
 * Scale note: each table is a plain parquet scan — Catalyst pushes filters
 * and prunes columns into the scan, and on a real cluster the same code
 * would read a partitioned/bucketed layout or an Iceberg table via a V2
 * catalog without any query-code change.
 */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // Without a schema, every `spark.read.parquet` call infers one, and
  // inference runs one Spark job; `readParquet` avoids that job for the
  // one-file fixtures, but each call still lists the path and reads a
  // footer. DataFrames are immutable logical plans, so one per (session,
  // dir, table) is safe to share. (On a real cluster the equivalent is a
  // catalog table, whose schema is cached by the metastore/Iceberg
  // metadata — this cache mirrors that behavior for path-addressed
  // fixtures.) Each value holds its session, so entries of sessions whose
  // SparkContext has stopped are dropped whenever an entry is added.
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), DataFrame]()

  /** Read one fixture table as a DataFrame (lazy; no job is triggered). */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val key = (spark, dir, name)
    val hit = cache.get(key)
    if (hit != null) hit
    else {
      cache.keySet.removeIf(_._1.sparkContext.isStopped)
      cache.computeIfAbsent(key, _ => load(spark, dir, name))
    }
  }

  /** The sessions that currently hold cache entries. */
  private[tables] def cachedSessions: Set[SparkSession] =
    cache.keySet.asScala.map(_._1).toSet

  private def load(spark: SparkSession, dir: String, name: String): DataFrame = name match {
    case "events" =>
      // events.ts varies by testdata vintage: TIMESTAMP(NANOS) in the
      // round-1..4 generations (Spark's vectorized reader rejects it,
      // [PARQUET_TYPE_ILLEGAL] — read nanos as Long and truncate with
      // integer division: epoch-nanos exceed 2^53, a double round-trip
      // would corrupt the low bits), plain TIMESTAMP(MICROS) NTZ from
      // the round-5 regeneration on. Normalize BOTH to session-TZ
      // TimestampType so every downstream operator sees one type (the
      // session TZ is pinned UTC, so NTZ→LTZ is instant-preserving and
      // unix_micros/window bucketing are unchanged across vintages).
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = readParquet(spark, s"$dir/events.parquet")
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case _ =>
          raw.withColumn("ts", col("ts").cast("timestamp"))
      }
    case _ =>
      readParquet(spark, s"$dir/$name.parquet")
  }

  /** `spark.read.parquet(path)` without the schema-inference job when the
    * path holds exactly one data file.
    *
    * With `mergeSchema` off (the default), Spark infers a parquet schema
    * from one footer, but reads it inside a Spark job: per table that job
    * costs ~70 ms of wall time, most of it spent checking that the closure,
    * which carries the whole Hadoop conf, serializes. Here the path is
    * listed on the driver, skipping the names Spark's file index skips
    * (`_*` and `.*`, except the `_metadata` and `_common_metadata` summary
    * files, which Spark would read in place of a data file). If what is
    * left is one non-empty file, its footer is read on the driver (row
    * groups skipped) and converted with the session's parquet settings,
    * exactly as inference would convert it, and the schema is handed to
    * the reader. Anything else — several files, summary files, partition
    * or other directories, an empty file — goes through Spark's own
    * inference unchanged.
    *
    * Scale-neutral: the fast path does the same single-footer read that
    * inference does, minus the job, and it applies only to single-file
    * layouts, so multi-file and partitioned tables keep Spark's path. */
  private[tables] def readParquet(spark: SparkSession, path: String): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val status = fs.getFileStatus(root)
    val entries =
      if (status.isDirectory) fs.listStatus(root).toSeq.filterNot(f => hidden(f.getPath.getName))
      else Seq(status)
    entries match {
      case Seq(file) if file.isFile && file.getLen > 0 =>
        val footer = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(file, conf), SKIP_ROW_GROUPS)
        val schema = ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf))
        spark.read.schema(schema).parquet(path)
      case _ =>
        spark.read.parquet(path)
    }
  }

  /** The names Spark's file index leaves out of a listing. */
  private def hidden(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) &&
      !name.startsWith("_metadata") && !name.startsWith("_common_metadata")

  /** Register every fixture table as a temp view for SQL-form queries. */
  def register(spark: SparkSession, dir: String): Unit =
    names.foreach { n => apply(spark, dir, n).createOrReplaceTempView(n) }
}
