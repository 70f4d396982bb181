package graft

import org.scalatest.funsuite.AnyFunSuite

/** Smoke over the driver contract at sf0.001 (the full value-level oracle
  * gate runs via graft.Verify + DuckDB; see tools/check_oracle.py). */
class SparkEntrySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a matching query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("every fixture's index and oracle stage hold the same documents") {
    SparkEntry.Fx.all.foreach { fx =>
      val snap = SparkEntry.engineIndex(spark, sf, fx).snap
      val q = s"fixture_${fx.tag}"
      SparkEntry.stage(spark, sf, fx, q)
      val staged = spark.read.parquet(s"${SparkEntry.stageDir(sf)}/${q}_docs.parquet")
      assert(snap.stats.numDocs == staged.count(), s"${fx.tag}: doc counts differ")
      // same count, same identities: a swapped half (multa vs multb) or a
      // sibling corpus of equal size would pass the count alone
      val indexed = spark.read.parquet(snap.docmapDirs: _*).select("doc_id")
      assert(indexed.exceptAll(staged.select("sha_id")).isEmpty,
        s"${fx.tag}: indexed docs missing from the stage")
    }
  }

  test("every query runs at sf0.001 and is deterministic across two runs") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val a = fn(spark, sf).collect().map(_.toString).toSeq
      val b = fn(spark, sf).collect().map(_.toString).toSeq
      assert(a == b, s"$name not deterministic")
      // q07/q25-style queries may legitimately be empty at tiny scale;
      // the rows>0 smoke applies to entry() only (driver contract)
    }
  }
}
