package graft

import org.scalatest.funsuite.AnyFunSuite

/**
 * Pins the churn self-check's reference record — the instrument that
 * adjudicates ambient-noise bench readings. Round 12 ran its ENTIRE
 * driver bench with the self-check silently disabled: a record
 * re-commit switched BENCH_RECORD.json to pretty-printed JSON and
 * `Bench.committedRecord`'s then-regex (no whitespace after the colon)
 * parsed 0/209 pairs; the NOTICE sentinel fired but nothing acted on
 * it. These tests make both failure modes LOUD: a serialization the
 * parser cannot read, or a record that no longer covers the full query
 * inventory, now fails the suite instead of printing a notice.
 */
class BenchRecordSpec extends AnyFunSuite {

  test("the on-disk BENCH_RECORD.json parses and covers the FULL " +
    "query inventory (format drift = suite failure, not a notice)") {
    val rec = Bench.committedRecord()
    assert(rec.nonEmpty,
      "BENCH_RECORD.json parsed to 0 pairs - the churn self-check " +
        "would run DISABLED (the r12 failure)")
    val missing = SparkEntry.queries.keySet -- rec.keySet
    assert(missing.isEmpty,
      s"record misses ${missing.size} inventory queries (churn " +
        s"self-check would run partial): ${missing.toSeq.sorted.mkString(", ")}")
    assert(rec.values.forall(v => v > 0.0 && v < 99.0),
      "record values outside the plausible band (a 99.0 failure " +
        "sentinel or nonpositive timing was curated in)")
  }

  test("the parser accepts both record serializations (flat and " +
    "pretty-printed) and filters non-inventory envelope keys") {
    def parse(text: String): Map[String, Double] = {
      val f = java.nio.file.Files.createTempFile("graft-record", ".json")
      java.nio.file.Files.write(f, text.getBytes("UTF-8"))
      try Bench.committedRecordAt(f.toString)
      finally { java.nio.file.Files.delete(f); () }
    }
    val names = SparkEntry.queries.keySet.take(2).toSeq.sorted
    val flat =
      s"""{"metric":"total","value":3.0,"unit":"sec","queries":{"${names.head}":1.25,"${names(1)}":1.75},"sf":0.1}"""
    val pretty =
      s"""{\n "metric": "total",\n "value": 3.0,\n "queries": {\n  "${names.head}": 1.25,\n  "${names(1)}": 1.75\n },\n "sf": 0.1\n}"""
    val want = Map(names.head -> 1.25, names(1) -> 1.75)
    assert(parse(flat) === want)
    assert(parse(pretty) === want)
    // a missing file degrades to no-self-check, never to a failure
    assert(Bench.committedRecordAt("/nonexistent/graft.json").isEmpty)
  }

  test("the ambient index median averages the two middle ratios of an " +
    "even sample") {
    assert(Bench.median(Seq(1.75, 1.0, 1.25)) === 1.25)
    // the upper-middle element alone would read 1.5
    assert(Bench.median(Seq(2.0, 1.0, 1.25, 1.5)) === 1.375)
    assert(Bench.median(Seq(0.75, 1.25)) === 1.0)
    assert(Bench.median(Seq(1.5)) === 1.5)
  }
}
