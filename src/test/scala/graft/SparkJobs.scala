package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** What one block of driver code ran: its value, the Spark jobs submitted
  * while it ran (on any thread, so a build's concurrent docmap write
  * counts too) and how many of their stages wrote shuffle output. */
final case class JobCount[T](value: T, jobs: Int, shuffleStages: Int)

object SparkJobs {

  private final class Listener(since: Long, sentinel: String) extends SparkListener {
    private val jobs = scala.collection.mutable.Set.empty[Int]
    private val stages = scala.collection.mutable.Set.empty[Int]
    val writers = scala.collection.mutable.Set.empty[Int]
    private var sentinelJob = -1
    @volatile var done = false
    private def group(e: SparkListenerJobStart): Option[String] =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (group(e).contains(sentinel)) sentinelJob = e.jobId
      else if (e.time >= since) { jobs += e.jobId; stages ++= e.stageIds }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      if (e.jobId == sentinelJob) done = true
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val m = e.stageInfo.taskMetrics
      if (stages(e.stageInfo.stageId) && m != null && m.shuffleWriteMetrics.recordsWritten > 0)
        writers += e.stageInfo.stageId
    }
    def counted: Int = synchronized(jobs.size)
  }

  /** Runs `body` and counts the jobs submitted from its start until a
    * sentinel job after it ends; the listener bus delivers events in
    * order, so once the sentinel has ended here every earlier job has
    * been seen. */
  def count[T](spark: SparkSession)(body: => T): JobCount[T] = {
    val sc = spark.sparkContext
    val sentinel = s"job-count-sentinel-${System.nanoTime()}"
    val l = new Listener(System.currentTimeMillis(), sentinel)
    sc.addSparkListener(l)
    try {
      val value = body
      sc.setJobGroup(sentinel, "end of a counted block")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val end = System.currentTimeMillis() + 20000
      while (!l.done && System.currentTimeMillis() < end) Thread.sleep(20)
      assert(l.done, "the sentinel job never reached the listener")
      JobCount(value, l.counted, l.synchronized(l.writers.size))
    } finally sc.removeSparkListener(l)
  }
}
