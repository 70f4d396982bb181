package graft.search

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col
import graft.{SparkJobs, TestSpark}
import graft.corpus.CorpusGen
import graft.index.IndexBuilder

/** Pins the plan shape of the golden scorer: the document pass and the
  * statistics reduce are narrow and a doc filter is a broadcast set, so
  * the only shuffle of a [[Golden.topK]] call is the window that ranks the
  * per-partition cuts. */
class GoldenPlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** The shuffle-writing stages of one `Golden.topK` call over a small
    * corpus, with its row count. */
  private def shuffleStages(filtered: Boolean): (Int, Int) = {
    val docs = CorpusGen.corpus(spark, 400L, seed = 7L)
      .select(IndexBuilder.docIdCol.as("doc_id"), col("content"))
    val queries = CorpusGen.queries(8, seed = 7L)
    val docFilter = if (filtered) Some(docs.sample(0.5, 7L).select("doc_id")) else None
    val c = SparkJobs.count(spark) {
      Golden.topK(spark, docs, queries, 10, docFilter = docFilter).collect()
    }
    assert(c.jobs > 0)
    (c.shuffleStages, c.value.length)
  }

  test("a plain Golden.topK call runs exactly one shuffle stage, the ranking window") {
    val (stages, rows) = shuffleStages(filtered = false)
    assert(rows > 10, "the queries must have hits, or no stage shuffles")
    assert(stages == 1)
  }

  test("a filtered Golden.topK call shuffles no document: one shuffle stage, the window") {
    val (stages, rows) = shuffleStages(filtered = true)
    assert(rows > 10, "the queries must have hits, or no stage shuffles")
    assert(stages == 1)
  }
}
