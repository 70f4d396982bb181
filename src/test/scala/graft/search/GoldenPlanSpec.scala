package graft.search

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.functions.col
import graft.TestSpark
import graft.corpus.CorpusGen
import graft.index.IndexBuilder

/** Pins the plan shape of the golden scorer: the document pass and the
  * statistics reduce are narrow and a doc filter is a broadcast set, so
  * the only shuffle of a [[Golden.topK]] call is the window that ranks the
  * per-partition cuts. */
class GoldenPlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Counts the stages that wrote shuffle output in one job group's jobs. */
  private final class ShuffleStages(group: String) extends SparkListener {
    private val jobs = scala.collection.mutable.Set.empty[Int]
    private val ours = scala.collection.mutable.Set.empty[Int]
    val writers = scala.collection.mutable.Set.empty[Int]
    @volatile var started = 0
    @volatile var ended = 0
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
        started += 1
        jobs += e.jobId
        ours ++= e.stageIds
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      if (jobs(e.jobId)) ended += 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val m = e.stageInfo.taskMetrics
      if (ours(e.stageInfo.stageId) && m != null && m.shuffleWriteMetrics.recordsWritten > 0)
        writers += e.stageInfo.stageId
    }
    /** Waits until every started job of the group has ended here. */
    def drain(): Unit = {
      val end = System.currentTimeMillis() + 20000
      while (ended < started && System.currentTimeMillis() < end) Thread.sleep(20)
    }
  }

  /** The shuffle-writing stages of one `Golden.topK` call over a small
    * corpus, with its row count. */
  private def shuffleStages(filtered: Boolean): (Int, Int) = {
    val docs = CorpusGen.corpus(spark, 400L, seed = 7L)
      .select(IndexBuilder.docIdCol.as("doc_id"), col("content"))
    val queries = CorpusGen.queries(8, seed = 7L)
    val docFilter = if (filtered) Some(docs.sample(0.5, 7L).select("doc_id")) else None
    val group = s"golden-plan-shape-$filtered"
    val l = new ShuffleStages(group)
    spark.sparkContext.addSparkListener(l)
    try {
      spark.sparkContext.setJobGroup(group, "one Golden.topK call")
      val rows = try Golden.topK(spark, docs, queries, 10, docFilter = docFilter).collect()
        finally spark.sparkContext.clearJobGroup()
      l.drain()
      assert(l.started > 0 && l.ended == l.started)
      (l.writers.size, rows.length)
    } finally spark.sparkContext.removeSparkListener(l)
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
