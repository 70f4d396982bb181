package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Process-level probes read from outside the engine. */
object Proc {
  /** (user, sys) CPU seconds of this process, from /proc/self/stat. */
  def cpu(): (Double, Double) = try {
    val s = java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/self/stat"))
    val a = s.substring(s.lastIndexOf(')') + 2).split(" ")
    (a(11).toLong / 100.0, a(12).toLong / 100.0)
  } catch { case _: Throwable => (0.0, 0.0) }

  def gcSecs(): Double = {
    var ms = 0L
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.forEach { b =>
      ms += math.max(0L, b.getCollectionTime)
    }
    ms / 1000.0
  }

  /** Old-generation occupancy after a full collection, in MB: the heap
    * the engine still holds once an operation has returned. */
  def retainedHeapMb(): Double = {
    System.gc()
    var used = 0L
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.forEach { p =>
      if (p.getName.contains("Old Gen") || p.getName.contains("Tenured")) {
        val u = p.getCollectionUsage
        if (u != null) used += u.getUsed
      }
    }
    used / (1024.0 * 1024.0)
  }

  def dirBytes(path: String): Long = {
    val root = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val s = java.nio.file.Files.walk(root)
      try s.filter(p => java.nio.file.Files.isRegularFile(p))
        .mapToLong(p => java.nio.file.Files.size(p)).sum()
      finally s.close()
    }
  }
}

/** One span: an interval around a call into one layer's public API. */
final class Span(val id: Int, val parent: Int, val name: String, val op: Int,
                 val t0: Long, val cpu0: (Double, Double), val gc0: Double) {
  var t1 = 0L
  var cpu1: (Double, Double) = (0.0, 0.0)
  var gc1 = 0.0
  /** `[graft-timing]` phases the engine printed inside this span:
    * (label, wall s, user s). */
  val phases = mutable.ArrayBuffer.empty[(String, Double, Double)]
  def wall: Double = (t1 - t0) / 1e9
  def user: Double = cpu1._1 - cpu0._1
}

/** Spark counters attributed to one span through its job group. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskCpuNs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  /** per stage: task run times (ms) */
  val stageTaskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
}

/** Listener registered on the benchmark's own session: maps each job to
  * the job group (= span id) it ran under and sums task metrics there. */
final class CounterListener extends SparkListener {
  val byGroup = new java.util.concurrent.ConcurrentHashMap[String, Counters]()
  private val jobGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  @volatile var jobsStarted = 0L
  @volatile var jobsEnded = 0L

  private def counters(g: String) = byGroup.computeIfAbsent(g, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobsStarted += 1
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { gid =>
      jobGroup.put(e.jobId, gid)
      val c = counters(gid)
      c.jobs += 1
      e.stageIds.foreach(s => stageGroup.put(s, gid))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { jobsEnded += 1 }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    Option(stageGroup.get(e.stageInfo.stageId)).foreach(g => counters(g).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val g = stageGroup.get(e.stageId)
    if (g != null && e.taskMetrics != null) {
      val c = counters(g)
      val m = e.taskMetrics
      c.tasks += 1
      c.taskCpuNs += m.executorCpuTime
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    }
  }

  /** Wait until every started job's end event (and so every task event
    * before it) has reached this listener. */
  def drain(timeoutMs: Long = 20000): Unit = {
    val end = System.currentTimeMillis() + timeoutMs
    while (jobsEnded < jobsStarted && System.currentTimeMillis() < end) Thread.sleep(20)
    Thread.sleep(50)
  }
}

/** Tees stderr and collects the engine's `[graft-timing]` lines into the
  * innermost open span. */
final class TimingTap(orig: java.io.PrintStream, onLine: String => Unit)
    extends java.io.OutputStream {
  private val buf = new java.io.ByteArrayOutputStream()
  override def write(b: Int): Unit = synchronized {
    orig.write(b)
    if (b == '\n') flushLine() else buf.write(b)
  }
  override def write(b: Array[Byte], off: Int, len: Int): Unit = synchronized {
    orig.write(b, off, len)
    var i = off
    while (i < off + len) {
      if (b(i) == '\n') flushLine() else buf.write(b(i).toInt)
      i += 1
    }
  }
  override def flush(): Unit = orig.flush()
  private def flushLine(): Unit = {
    val s = buf.toString(java.nio.charset.StandardCharsets.UTF_8)
    buf.reset()
    if (s.startsWith("[graft-timing]")) onLine(s)
  }
}

/** In-memory span recorder. When `on` is false every call is a plain
  * passthrough: no job groups, no engine timing, nothing recorded. */
final class Tracer(spark: SparkSession, val on: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  val listener: Option[CounterListener] =
    if (!on) None
    else {
      val l = new CounterListener
      spark.sparkContext.addSparkListener(l)
      Some(l)
    }
  private val timingLine =
    """\[graft-timing\]\s+(\S+)\s+([0-9.]+)s\s+user=\s*([0-9.]+)s.*""".r

  if (on) {
    val orig = System.err
    System.setErr(new java.io.PrintStream(new TimingTap(orig, { line =>
      line match {
        case timingLine(label, wall, user) =>
          stack.headOption.foreach(_.phases += ((label, wall.toDouble, user.toDouble)))
        case _ => ()
      }
    }), true))
  }

  /** Time `f` as a span named `name` under the current one. */
  def span[T](name: String, op: Int = -1)(f: => T): T = {
    if (!on) return f
    val parent = stack.headOption
    val s = new Span(spans.size, parent.map(_.id).getOrElse(-1), name,
      if (op >= 0) op else parent.map(_.op).getOrElse(-1),
      System.nanoTime(), Proc.cpu(), Proc.gcSecs())
    spans += s
    stack = s :: stack
    val sc = spark.sparkContext
    sc.setJobGroup(s"span-${s.id}", name)
    spark.conf.set("spark.graft.timing", "true")
    try f
    finally {
      System.err.flush()
      s.t1 = System.nanoTime()
      s.cpu1 = Proc.cpu()
      s.gc1 = Proc.gcSecs()
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(s"span-${p.id}", p.name)
        case None =>
          sc.clearJobGroup()
          spark.conf.unset("spark.graft.timing")
      }
    }
  }

  /** Counters of span `id` and all its descendants. */
  def counters(id: Int): Counters = {
    val l = listener.get
    val kids = spans.groupBy(_.parent)
    val out = new Counters
    def add(sid: Int): Unit = {
      Option(l.byGroup.get(s"span-$sid")).foreach { c =>
        out.jobs += c.jobs; out.stages += c.stages; out.tasks += c.tasks
        out.taskCpuNs += c.taskCpuNs; out.shuffleRead += c.shuffleRead
        out.shuffleWrite += c.shuffleWrite; out.spill += c.spill
        c.stageTaskMs.foreach { case (k, v) => out.stageTaskMs(k) = v }
      }
      kids.getOrElse(sid, Nil).foreach(k => add(k.id))
    }
    add(id)
    out
  }

  /** Self time of a span: its wall minus the wall its direct children cover. */
  def selfSecs(s: Span): Double =
    s.wall - spans.filter(_.parent == s.id).map(_.wall).sum

  /** Every span as one JSON line (written once, at exit). */
  def dump(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      val c = listener.map(_ => counters(s.id))
      val ph = s.phases.map { case (l, wl, u) => f"""{"label":"$l","s":$wl%.3f,"user_s":$u%.3f}""" }
        .mkString("[", ",", "]")
      w.println(f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","op":${s.op},""" +
        f""""start_s":${s.t0 / 1e9}%.6f,"end_s":${s.t1 / 1e9}%.6f,"wall_s":${s.wall}%.6f,""" +
        f""""self_s":${selfSecs(s)}%.6f,"user_s":${s.user}%.3f,"gc_s":${s.gc1 - s.gc0}%.3f,""" +
        c.map(c => f""""jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},""" +
          f""""task_cpu_s":${c.taskCpuNs / 1e9}%.3f,"shuffle_read":${c.shuffleRead},""" +
          f""""shuffle_write":${c.shuffleWrite},"spill":${c.spill},""").getOrElse("") +
        s""""phases":$ph}""")
    } finally w.close()
  }
}
