package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.compare.{Reports, Triple, Triples}

/** Structured-Streaming form of the comparator pipeline — the reference's
  * unbounded loop re-expressed (SURVEY §2.8):
  *
  *  - ST1 process-on-arrival: a streaming Dataset of raw triple lines maps
  *    through the SAME narrow parse/diff chain as batch ([[Triples]]) —
  *    one code path, two execution modes (reference:
  *    log_file_loader.py:133-139 "will wait indefinitely for input").
  *  - ST2 periodic display: `Trigger.ProcessingTime` + complete-mode
  *    aggregation replaces the reference's recompute-every-minute loop
  *    (report_generator.py:24-44) with INCREMENTAL state.
  *  - ST3 final flush: `StreamingQuery.processAllAvailable()/stop()`.
  *  - ST4 durability: per micro-batch `foreachBatch` into the versioned
  *    comparisons table — batch-granular commits, not the reference's
  *    per-row `con.commit()` anti-pattern (sqlite.py:188-190).
  *  - ST5 skip-and-log: malformed lines are dropped in the parse flatMap
  *    and accounted by the (total - parsed) counters kept per batch.
  */
object StreamingCompare {

  /** Parse a streaming Dataset of raw lines into comparison rows (narrow:
    * stream-safe, no state). */
  def comparisons(spark: SparkSession, lines: Dataset[String]): DataFrame = {
    import spark.implicits._
    val triples: Dataset[Triple] = lines.flatMap(Triples.parseLine _)
    Triples.compare(triples)
  }

  /** Streaming correctness aggregation (A1-A3 as incremental state):
    * count, identical count, status-match count — emit in complete mode. */
  def correctnessAgg(cmp: DataFrame): DataFrame =
    cmp.agg(
      count(lit(1)).as("total"),
      sum(when(col("identical"), 1L).otherwise(0L)).as("identical"),
      sum(when(col("primary.status") === col("shadow.status"), 1L).otherwise(0L))
        .as("status_match"))

  /** Run the full streaming pipeline over a text-file source directory:
    * comparisons land in `outDir` as version-numbered parquet tables (one
    * version per micro-batch — the reference's `comparisons_NNN`
    * versioning at batch granularity), dropped-line counts are logged,
    * and — like the reference's periodic display
    * (report_generator.py:24-44) — a RUNNING correctness/perf summary
    * line goes to `onStats` after every batch (default: stdout). The
    * running counters are O(1) driver state folded from per-batch
    * aggregates, never a recompute over history. Caller stops the
    * query (ST3). */
  def runFileStream(spark: SparkSession, inputDir: String, outDir: String,
                    checkpointDir: String,
                    trigger: Trigger = Trigger.ProcessingTime("10 seconds"),
                    onStats: String => Unit = println(_)): StreamingQuery = {
    val totals = new java.util.concurrent.atomic.AtomicLongArray(3)
    val lines = spark.readStream.textFile(inputDir)
    lines.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[String], batchId: Long) =>
        // foreachBatch is at-least-once: a batch whose sink work finished
        // but whose checkpoint commit did not is REDELIVERED (same id) on
        // restart. A durable per-batch marker — written after the table —
        // makes the redelivery a no-op instead of a duplicate versioned
        // table plus double-folded running counters.
        val fs = new org.apache.hadoop.fs.Path(outDir)
          .getFileSystem(batch.sparkSession.sparkContext.hadoopConfiguration)
        val marker = new org.apache.hadoop.fs.Path(s"$outDir/_batch_$batchId")
        if (fs.exists(marker)) {
          System.err.println(s"[graft-stream] batch $batchId already committed — skipping replay")
        } else {
          val total = batch.count()
          val persisted = comparisons(batch.sparkSession, batch).persist()
          try {
            val parsed = persisted.count()
            if (parsed > 0) {
              Reports.dumpVersioned(persisted, outDir)
              val r = correctnessAgg(persisted).head()
              totals.addAndGet(0, r.getAs[Long]("total"))
              totals.addAndGet(1, r.getAs[Long]("identical"))
              totals.addAndGet(2, r.getAs[Long]("status_match"))
            }
            val dropped = total - parsed
            if (dropped > 0) // the skip-and-log contract (ST5)
              System.err.println(
                s"[graft-stream] batch $batchId: dropped $dropped malformed of $total lines")
            val c = graft.compare.CorrectnessStats(totals.get(0), totals.get(1), totals.get(2))
            onStats(f"[graft-stream] batch $batchId: ${c.total} comparisons, " +
              f"${c.identical} identical (${c.identicalRate * 100}%.2f%%), " +
              f"status-code match ${c.statusMatchRate * 100}%.2f%%")
            fs.create(marker, true).close()
          } finally { persisted.unpersist(); () }
        }
        ()
      }
      .start()
  }
}
