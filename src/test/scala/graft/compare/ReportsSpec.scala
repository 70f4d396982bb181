package graft.compare

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class ReportsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def mkComparisons(rows: Seq[(Int, Int, Long, Long, Boolean)]) = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // (pStatus, sStatus, pLat, sLat, identical)
    rows.map { case (ps, ss, pl, sl, id) =>
      (Triple(
        ParsedRequest(None, "GET", "/x", Map.empty, ""),
        ParsedResponse(None, Some(ps), Some(pl), Map.empty, """{"took":3}"""),
        ParsedResponse(None, Some(ss), Some(sl), Map.empty, """{"took":9}""")), id)
    }.toDF("t", "identical")
      .select(col("t.request").as("request"), col("t.primary").as("primary"),
        col("t.shadow").as("shadow"),
        typedLit(Seq.empty[DiffEntry]).as("status_diff"),
        typedLit(Seq.empty[DiffEntry]).as("headers_diff"),
        typedLit(Seq.empty[DiffEntry]).as("body_diff"),
        col("identical"))
  }

  test("correctness: counts, identical rate, status match rate (zero-guarded)") {
    val cmp = mkComparisons(Seq(
      (200, 200, 10, 20, true),
      (200, 500, 10, 20, false),
      (404, 404, 10, 20, false),
      (200, 200, 10, 20, true)))
    val c = Reports.correctness(cmp)
    assert(c.total == 4 && c.identical == 2 && c.statusMatch == 3)
    assert(math.abs(c.identicalRate - 0.5) < 1e-12)
    assert(math.abs(c.statusMatchRate - 0.75) < 1e-12)
    val empty = Reports.correctness(cmp.filter("false"))
    assert(empty.total == 0 && empty.identicalRate == 0.0)
  }

  test("performance: exact interpolated percentiles per cluster, latency>0 filtered") {
    // primary latencies 1..10; shadow has a non-positive latency that must drop
    val rows = (1 to 10).map(i => (200, 200, i.toLong, (i * 10).toLong, true)) :+
      ((200, 200, 5L, -1L, true))
    val perf = Reports.performance(mkComparisons(rows.map(r => (r._1, r._2, r._3, r._4, r._5))))
    val byCluster = perf.map(p => p.cluster -> p).toMap
    val p = byCluster("primary") // 11 values: 1..10 plus the extra 5
    assert(p.count == 11)
    val s = byCluster("shadow") // 10 values: 10..100 (the -1 dropped)
    assert(s.count == 10)
    // numpy-style linear interpolation: p50 of [10..100] = 55, p90 = 91
    assert(math.abs(s.p50 - 55.0) < 1e-9)
    assert(math.abs(s.p90 - 91.0) < 1e-9)
    assert(math.abs(s.avg - 55.0) < 1e-9)
  }

  test("formatSummary renders counts and rates") {
    val txt = Reports.formatSummary(CorrectnessStats(10, 9, 10),
      Seq(LatencyStats("primary", 10, 23.5, 51.0, 59.1, 28.2)))
    assert(txt.contains("10 comparisons"))
    assert(txt.contains("90.00%"))
    assert(txt.contains("p99=59.1"))
  }

  test("dumpVersioned: sequential comparisons_NNN tables, latest = max") {
    val cmp = mkComparisons(Seq((200, 200, 10, 20, true)))
    val dir = TestSpark.tempDir("graft-dump")
    assert(Reports.dumpVersioned(cmp, dir) == 0)
    assert(Reports.dumpVersioned(cmp, dir) == 1)
    assert(Reports.dumpVersioned(cmp, dir) == 2)
    val latest = spark.read.parquet(s"$dir/comparisons_002")
    assert(latest.count() == 1)
    assert(latest.columns.contains("responses_are_identical"))
  }

  test("flatten: 20-column schema with took extraction and stringified json") {
    val flat = Reports.flatten(mkComparisons(Seq((200, 500, 10, 20, false))))
    val row = flat.head()
    assert(flat.columns.length == 20)
    assert(row.getAs[Int]("source_took") == 3)
    assert(row.getAs[Int]("target_took") == 9)
    assert(row.getAs[Int]("responses_are_identical") == 0)
    assert(row.getAs[String]("request_headers") == "{}")
  }

  test("diffReportText: difflib-shaped export, masked fields popped from display") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val pBody = """{"z":"a","took":3,"hits":{"total":5}}"""
    val sBody = """{"z":"a","took":9,"hits":{"total":7}}"""
    val cmp = Seq(
      (Triple(ParsedRequest(None, "GET", "/x", Map.empty, ""),
        ParsedResponse(None, Some(200), Some(10L), Map("date" -> "mask-me", "x-custom" -> "1"), pBody),
        ParsedResponse(None, Some(500), Some(20L), Map("x-custom" -> "1"), sBody)), false),
      (Triple(ParsedRequest(None, "GET", "/y", Map.empty, ""),
        ParsedResponse(None, Some(200), Some(10L), Map.empty, "{}"),
        ParsedResponse(None, Some(200), Some(10L), Map.empty, "{}")), true))
      .toDF("t", "identical")
      .select(col("t.request").as("request"), col("t.primary").as("primary"),
        col("t.shadow").as("shadow"),
        typedLit(Seq.empty[DiffEntry]).as("status_diff"),
        typedLit(Seq.empty[DiffEntry]).as("headers_diff"),
        typedLit(Seq.empty[DiffEntry]).as("body_diff"),
        col("identical"))
    val txt = Reports.diffReportText(cmp)
    // reference-shaped summary header (reports.py:91-97)
    assert(txt.contains("2 response were compared."))
    assert(txt.contains("1 were identical, for a match rate of 50.00%"))
    assert(txt.contains("The status codes matched in 50.00% of responses."))
    // one mismatch block, '='*40 separator
    assert(txt.split("=" * 40).length == 2)
    // difflib-style status diff, WITH Differ's intra-line hint rows (the
    // hint row carries its own trailing newline, exactly like difflib
    // output joined with "\n" — reports.py:137)
    assert(txt.contains("- Status code: 200\n?              ^\n\n+ Status code: 500\n?              ^\n"))
    // masked header/body fields are POPPED from the display
    assert(!txt.contains("mask-me") && !txt.contains("took"))
    // masked 'date' header removed, custom header kept; dict-repr shape
    assert(txt.contains("  Headers: {'x-custom': '1'}"))
    // key-sorted indent-4 body with common and changed lines marked
    assert(txt.contains("-         \"total\": 5"))
    assert(txt.contains("+         \"total\": 7"))
    assert(txt.contains("      \"z\": \"a\""))
    // the identical comparison renders no block
    assert(!txt.contains("/y"))
  }

  test("flat-schema reports match the nested ones on the same data") {
    val cmp = mkComparisons(Seq(
      (200, 200, 10, 20, true), (200, 500, 30, 40, false)))
    val flat = Reports.flatten(cmp)
    val c = Reports.correctnessFlat(flat)
    assert(c.total == 2 && c.identical == 1 && c.statusMatch == 1)
    val perf = Reports.performanceFlat(flat).map(p => p.cluster -> p.avg).toMap
    assert(perf("primary") == 20.0 && perf("shadow") == 30.0)
    assert(Reports.latestVersion(spark, TestSpark.tempDir("graft-empty")).isEmpty)
  }

  test("exportPerformanceCsvFlat: the reference's seven performance CSV columns") {
    val cmp = mkComparisons(Seq(
      (200, 200, 10, 20, true), (200, 500, 30, 40, false)))
    val dir = TestSpark.tempDir("graft-perf-csv")
    Reports.exportPerformanceCsvFlat(Reports.flatten(cmp), dir)
    val csv = spark.read.option("header", "true").csv(dir)
    assert(csv.columns.toSeq == Seq("request_uri", "request_method",
      "primary_status", "primary_latency", "shadow_status", "shadow_latency",
      "identical"))
    val rows = csv.collect().map(_.toSeq.map(String.valueOf)).toSet
    assert(rows == Set(
      Seq("/x", "GET", "200", "10", "200", "20", "true"),
      Seq("/x", "GET", "200", "30", "500", "40", "false")))
  }

  test("lineDiff aligns common prefixes/suffixes like difflib") {
    val d = Reports.lineDiff(
      IndexedSeq("a", "b", "c", "d"), IndexedSeq("a", "x", "c", "d", "e"))
    assert(d == Seq("  a", "- b", "+ x", "  c", "  d", "+ e"))
  }
}
