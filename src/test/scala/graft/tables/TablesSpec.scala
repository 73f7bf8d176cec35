package graft.tables

import java.nio.file.Files
import java.util.UUID

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, expr, hash, lit, sum, timestamp_micros}
import org.apache.spark.sql.types.LongType

import graft.SparkSuite

class TablesSpec extends SparkSuite {

  /** Jobs `body` launches on this thread: it runs in a job group, then a
    * sentinel job; once the status store holds the sentinel it holds every
    * job the group started before it. */
  private def jobsIn(s: SparkSession)(body: => Unit): Int = {
    val sc = s.sparkContext
    val group = s"tables-jobs-${UUID.randomUUID()}"
    sc.setJobGroup(group, "Tables job count", interruptOnCancel = false)
    val sentinel =
      try {
        body
        val f = sc.parallelize(Seq(1), 1).countAsync()
        Await.result(f, 60.seconds)
        f.jobIds.head
      } finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30.seconds.toNanos
    while (!sc.statusTracker.getJobIdsForGroup(group).contains(sentinel) &&
        System.nanoTime() < deadline) Thread.sleep(20)
    val ids = sc.statusTracker.getJobIdsForGroup(group).toSeq
    assert(ids.contains(sentinel))
    ids.count(_ != sentinel)
  }

  private def digest(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), sum(hash(df.columns.map(col).toIndexedSeq: _*).cast("long")))
      .head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  private def assertSame(actual: DataFrame, expected: DataFrame, what: String): Unit = {
    assert(actual.schema == expected.schema, what)
    assert(actual.schema.json == expected.schema.json, what)
    assert(digest(actual) == digest(expected), what)
  }

  for (scale <- Seq("sf0.001", "sf0.01")) {
    test(s"footer schemas and rows equal Spark's inference for every table at $scale") {
      val dir = s"${new java.io.File(sf).getParent}/$scale"
      val s = spark.newSession()
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      Tables.names.foreach { n =>
        val path = s"$dir/$n.parquet"
        assertSame(Tables.readParquet(s, path), s.read.parquet(path), n)
      }
      val raw = s.read.parquet(s"$dir/events.parquet")
      val normalized = raw.schema("ts").dataType match {
        case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
      }
      assertSame(Tables(s, dir, "events"), normalized, "events")
    }
  }

  test("Spark-written directories: one file reads its footer, others fall back") {
    val base = Files.createTempDirectory("graft-tables").toString
    val df = spark.range(40).select(col("id"), (col("id") % 3).as("p"),
      expr("cast(id as string)").as("s"))
    df.coalesce(1).write.parquet(s"$base/one")
    df.repartition(2).write.parquet(s"$base/two")
    df.repartition(2).write.partitionBy("p").parquet(s"$base/parted")
    assert(new java.io.File(s"$base/two").list().count(_.endsWith(".parquet")) == 2)
    Seq("one" -> false, "two" -> true, "parted" -> true).foreach { case (layout, infers) =>
      val path = s"$base/$layout"
      var read: DataFrame = null
      val jobs = jobsIn(spark) { read = Tables.readParquet(spark, path) }
      assert((jobs > 0) == infers, s"$layout ran $jobs jobs")
      assertSame(read, spark.read.parquet(path), layout)
    }
  }

  test("Tables.register on a fresh session launches no Spark job") {
    val s = spark.newSession()
    assert(jobsIn(s)(Tables.register(s, sf)) == 0)
    assert(s.catalog.tableExists("lineitem"))
  }

  // Stops the shared SparkContext, so it runs last; later suites build a
  // new one through SparkSuite.session.
  test("cache entries of a stopped session are dropped") {
    Tables(spark, sf, "region")
    val old = spark.sparkContext
    assert(Tables.cachedSessions.exists(_.sparkContext eq old))
    spark.stop()
    val fresh = SparkSuite.session(getClass.getSimpleName)
    assert(fresh.sparkContext ne old)
    Tables(fresh, sf, "region")
    assert(!Tables.cachedSessions.exists(_.sparkContext eq old))
    assert(Tables.cachedSessions.contains(fresh))
  }
}
