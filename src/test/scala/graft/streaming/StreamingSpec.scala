package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import graft.TestSpark
import java.sql.Timestamp

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def b64(s: String) = java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))
  private def line(uri: String, pb: String, sb0: String, ps: Int = 200, ss: Int = 200) =
    s"""{"request":{"Request-URI":"$uri","Method":"GET","body":"${b64("{}")}","Host":"x"},""" +
    s""""primaryResponse":{"Status-Code":"$ps","response_time_ms":5,"body":"${b64(pb)}"},""" +
    s""""shadowResponse":{"Status-Code":"$ss","response_time_ms":9,"body":"${b64(sb0)}"}}"""

  test("streaming comparisons: incremental complete-mode correctness aggregation") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[String]
    val agg = StreamingCompare.correctnessAgg(
      StreamingCompare.comparisons(spark, ms.toDS()))
    val q = agg.writeStream.format("memory").queryName("stream_corr")
      .outputMode("complete").start()
    try {
      ms.addData(line("/a", """{"x":1}""", """{"x":1}"""),
                 line("/a", """{"x":1}""", """{"x":2}"""),
                 "garbage")
      q.processAllAvailable()
      val r1 = spark.table("stream_corr").head()
      assert(r1.getAs[Long]("total") == 2) // garbage skipped, not failed (ST5)
      assert(r1.getAs[Long]("identical") == 1)
      // second arrival updates state incrementally (ST2)
      ms.addData(line("/b", """{"y":1}""", """{"y":1}""", 200, 500))
      q.processAllAvailable()
      val r2 = spark.table("stream_corr").head()
      assert(r2.getAs[Long]("total") == 3)
      assert(r2.getAs[Long]("status_match") == 2)
    } finally q.stop()
  }

  test("file-stream pipeline: versioned batch commits + malformed lines dropped + periodic stats") {
    val in = TestSpark.tempDir("stream-in")
    val out = TestSpark.tempDir("stream-out")
    val ckpt = TestSpark.tempDir("stream-ckpt")
    val stats = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/batch0.jsonl"),
      Seq(line("/a", """{"x":1}""", """{"x":1}"""),
          "not json",
          line("/b", """{"x":2}""", """{"x":3}""")).mkString("\n"))
    val q = StreamingCompare.runFileStream(spark, in, out, ckpt,
      Trigger.ProcessingTime("1 second"), onStats = stats.add(_))
    try {
      q.processAllAvailable()
      // a second arrival: the periodic summary must update INCREMENTALLY
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/batch1.jsonl"),
        line("/c", """{"y":1}""", """{"y":1}"""))
      q.processAllAvailable()
    } finally q.stop()
    val v0 = spark.read.parquet(s"$out/comparisons_000")
    assert(v0.count() == 2) // malformed line dropped, counted in the log
    assert(v0.columns.contains("responses_are_identical"))
    // ST2 console display: one running-summary line PER batch, cumulative
    import scala.jdk.CollectionConverters._
    val lines = stats.asScala.toList.filter(_.contains("comparisons"))
    assert(lines.exists(_.contains("2 comparisons, 1 identical (50.00%)")))
    assert(lines.exists(_.contains("3 comparisons, 2 identical (66.67%)")))
  }

  test("watermarked sliding-window aggregation over an event stream") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[Event]
    val win = EventStreams.windowedStats(ms.toDF(), "10 minutes", "5 minutes")
    val q = win.writeStream.format("memory").queryName("stream_win")
      .outputMode("complete").start()
    try {
      def ts(min: Int) = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
      ms.addData(
        Event(1, ts(1), 7, "click", 1.0),
        Event(2, ts(2), 7, "click", 2.0),
        Event(3, ts(12), 8, "view", 5.0))
      q.processAllAvailable()
      val rows = spark.table("stream_win").collect()
      // sliding windows: events at 10:01/10:02 fall in [09:55,10:05) and [10:00,10:10)
      val clickWindows = rows.filter(_.getAs[String]("event_type") == "click")
      assert(clickWindows.length == 2)
      assert(clickWindows.forall(_.getAs[Long]("n") == 2))
    } finally q.stop()
  }

  test("stateful sessionization closes a session after event-time inactivity") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[Event]
    val sessions = EventStreams.sessionize(spark, ms.toDS(),
      gapMs = 60000, watermark = "10 seconds")
    val q = sessions.writeStream.format("memory").queryName("stream_sess")
      .outputMode("append").start()
    try {
      def ts(min: Int) = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
      ms.addData(Event(1, ts(1), 7, "click", 1.0), Event(2, ts(2), 7, "click", 2.0))
      q.processAllAvailable()
      assert(spark.table("stream_sess").count() == 0) // still open
      // an event far in the future advances the watermark past 10:02+60s
      ms.addData(Event(3, ts(30), 8, "view", 1.0))
      q.processAllAvailable()
      ms.addData(Event(4, ts(31), 8, "view", 1.0)) // one more batch fires timeouts
      q.processAllAvailable()
      val closed = spark.table("stream_sess").collect()
      assert(closed.length == 1)
      assert(closed.head.getAs[Long]("user_id") == 7)
      assert(closed.head.getAs[Long]("n_events") == 2)
      assert(closed.head.getAs[Double]("total_value") == 3.0)
    } finally q.stop()
  }

  test("sessionization splits on event-time gaps INSIDE a batch (backfill/replay)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[Event]
    val sessions = EventStreams.sessionize(spark, ms.toDS(),
      gapMs = 60000, watermark = "10 seconds")
    val q = sessions.writeStream.format("memory").queryName("stream_sess2")
      .outputMode("append").start()
    try {
      def ts(min: Int) = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
      // one user's whole history lands in a single micro-batch, out of
      // order, as three bursts separated by far more than gapMs
      ms.addData(
        Event(5, ts(20), 7, "click", 8.0), // burst 2
        Event(1, ts(1), 7, "click", 1.0),  // burst 1
        Event(2, ts(2), 7, "click", 2.0),  // burst 1
        Event(6, ts(40), 7, "click", 4.0)) // burst 3 (stays open)
      q.processAllAvailable()
      val closed = spark.table("stream_sess2").collect().sortBy(_.getAs[Timestamp]("first_ts").getTime)
      assert(closed.length == 2) // bursts 1 and 2 closed in-batch
      assert(closed(0).getAs[Long]("n_events") == 2 &&
        closed(0).getAs[Double]("total_value") == 3.0)
      assert(closed(1).getAs[Long]("n_events") == 1 &&
        closed(1).getAs[Double]("total_value") == 8.0)
      // a later batch continuing the open burst merges, not restarts
      ms.addData(Event(7, ts(41), 7, "click", 1.0))
      q.processAllAvailable()
      assert(spark.table("stream_sess2").count() == 2) // burst 3 still open
    } finally q.stop()
  }

  test("streaming index ingest: bootstrap + snapshot-atomic appends, searchable union") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import graft.corpus.{CorpusGen, SourceFile}
    import graft.index.{BuildConfig, IndexBuilder}
    import graft.table.SnapshotCatalog
    val dir = TestSpark.tempDir("graft-ingest")
    val ckpt = TestSpark.tempDir("graft-ingest-ckpt")
    val docs = CorpusGen.corpus(spark, 90L, seed = 31L).collect()
    val ms = MemoryStream[SourceFile]
    val q = StreamingIngest.run(spark, ms.toDS(), dir,
      BuildConfig(numShards = 2, commitEvery = 2, heavyThreshold = 200), ckpt)
    try {
      ms.addData(docs.take(60).toIndexedSeq: _*)
      q.processAllAvailable()
      val s1 = SnapshotCatalog.load(spark, dir).get
      assert(s1.isComplete && s1.stats.numDocs == 60) // batch 1 bootstrapped
      // batch 2 re-delivers 10 committed docs (at-least-once) + 30 new
      ms.addData(docs.drop(50).toIndexedSeq: _*)
      q.processAllAvailable()
      val s2 = SnapshotCatalog.load(spark, dir).get
      assert(s2.isComplete && s2.id > s1.id)
      assert(s2.stats.numDocs == 90) // dedup dropped the 10 re-delivered
      // the appended index serves queries over the union, identically to
      // the exact scorer
      val queries = CorpusGen.queries(6, 31L)
      val allDocs = spark.createDataset(docs.toIndexedSeq)
        .select(IndexBuilder.docIdCol.as("doc_id"), $"content")
      val golden = graft.search.Golden.topK(spark, allDocs, queries, 5)
        .withColumnRenamed("doc_id", "g_doc").withColumnRenamed("score", "g_score")
      val fast = graft.search.Wand.search(spark, dir, queries, 5)
        .withColumnRenamed("doc_id", "f_doc").withColumnRenamed("score", "f_score")
      val cmp = golden.join(fast, Seq("query_id", "rank"), "full_outer")
      assert(cmp.filter($"g_doc".isNull || $"f_doc".isNull ||
        $"g_doc" =!= $"f_doc" || $"g_score" =!= $"f_score").count() == 0)
    } finally q.stop()
  }
}
