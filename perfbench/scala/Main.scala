package perfbench

import graft.analyze.AnalyzerConfig
import graft.compare.{Harness, Reports, Triples}
import graft.corpus.{CorpusGen, RefQuery, SourceFile}
import graft.index.{BuildConfig, IndexBuilder}
import graft.search.{Golden, Wand}
import graft.table.{Snapshot, SnapshotCatalog}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Input sizes of one benchmark scale. */
final case class Scale(
    corpusDocs: Int,      // ingest: docs per bulk build
    badPerMille: Int,     // injected bad rows (null repo / empty content)
    numRepos: Int,        // repo slices; a delete removes one slice
    triplesLines: Int,    // ingest: triple lines per comparison pass
    baseDocs: Int,        // serve: prebuilt base index
    callQueries: Int,     // serve: queries per batch query call
    appendNew: Int,       // serve: new docs per append
    appendRedeliver: Int, // serve: already-committed docs re-sent per append
    singles: Int)         // serve: single-query searches per cycle

object Scale {
  val full = Scale(corpusDocs = 4000, badPerMille = 10,
    numRepos = 40, triplesLines = 6000,
    baseDocs = 4000, callQueries = 4096, appendNew = 300,
    appendRedeliver = 30, singles = 4)
  val tiny = Scale(corpusDocs = 1500, badPerMille = 20,
    numRepos = 8, triplesLines = 600,
    baseDocs = 1500, callQueries = 64, appendNew = 100,
    appendRedeliver = 20, singles = 2)
}

/** Benchmark entry point, one JVM per run:
  * `<workload> <seed> <work> <cores> <scale> <seconds> <trace> <corrupt>`.
  * Sets up, runs the closed timed loop (one client thread), checks every
  * output, and writes `result.json` (and `spans.jsonl` when traced).
  */
object Main {

  final case class Op(kind: String, wall: Double, user: Double, items: Long)

  def session(work: String, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .config("spark.sql.shuffle.partitions", (cores * 2).toString)
      .config("spark.sql.files.maxPartitionBytes", (16L * 1024 * 1024).toString)
      .config("spark.sql.files.openCostInBytes", (1L * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      // task-side output commit: snapshot manifests gate visibility of
      // every written dir, so the driver-side v1 rename pass is not needed
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def rm(path: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Linear-interpolated percentile, p in [0, 1]. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = p * (s.size - 1)
      val lo = r.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  def json(m: collection.Map[String, Any]): String = m.map { case (k, v) =>
    val vs = v match {
      case d: Double => if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
      case l: Long => l.toString
      case i: Int => i.toString
      case b: Boolean => b.toString
      case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      case m: collection.Map[_, _] => json(m.asInstanceOf[collection.Map[String, Any]])
      case other => "\"" + other.toString + "\""
    }
    "\"" + k + "\":" + vs
  }.mkString("{", ",", "}")

  def write(path: String, s: String): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), s + "\n")

  def main(args: Array[String]): Unit = {
    val workload = args(0)
    val seed = args(1).toLong
    val work = args(2)
    val cores = args(3).toInt
    val scale = if (args(4) == "tiny") Scale.tiny else Scale.full
    val spark = session(work, cores)
    try {
      val seconds = args(5).toDouble
      val tracer = new Tracer(spark, args(6) == "1")
      val corrupt = args(7)
      val r = workload match {
        case "ingest" => new Ingest(spark, seed, work, scale, seconds, tracer, corrupt).run()
        case "serve" => new Serve(spark, seed, work, scale, seconds, tracer, corrupt).run()
      }
      write(s"$work/result.json", json(r))
      if (tracer.on) tracer.dump(s"$work/spans.jsonl")
    } finally spark.stop()
  }
}

/** Shared timed-loop bookkeeping: ops, checks, per-layer rollups. */
abstract class Workload(val spark: SparkSession, seed: Long, val work: String,
                        val scale: Scale, seconds: Double, val tr: Tracer,
                        val corrupt: String) {
  import Main._

  val ops = mutable.ArrayBuffer.empty[Op]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  var firstOpEpochMs = 0L
  var windowStart = 0L
  var windowEnd = 0L
  var peakHeapMb = 0.0
  var cpuAtStart: (Double, Double) = (0.0, 0.0)
  var cpuAtEnd: (Double, Double) = (0.0, 0.0)
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val counts = mutable.LinkedHashMap.empty[String, Any]

  def check(what: String, ok: Boolean, detail: => String = ""): Unit =
    if (!ok) {
      failed += 1
      failures += s"$what $detail"
      System.err.println(s"[perfbench] CHECK FAILED: $what $detail")
    }

  /** Run one timed op: wall and process user CPU around `f`, then (for
    * primary ops) the retained heap after it. `f` returns (items, result).
    * Throwing ops count as failed. */
  def op[T](kind: String, heap: Boolean = false)(f: => (Long, T)): Option[T] = {
    attempted += 1
    if (firstOpEpochMs == 0L) {
      firstOpEpochMs = System.currentTimeMillis()
      windowStart = System.nanoTime()
      cpuAtStart = Proc.cpu()
    }
    val (u0, _) = Proc.cpu()
    val t0 = System.nanoTime()
    val r = try Some(tr.span(kind, op = ops.size)(f))
    catch {
      case e: Throwable =>
        failed += 1
        failures += s"$kind threw ${e.getClass.getSimpleName}: ${e.getMessage}"
        System.err.println(s"[perfbench] $kind threw")
        e.printStackTrace()
        None
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val (u1, _) = Proc.cpu()
    r.foreach { case (items, _) => ops += Op(kind, wall, u1 - u0, items) }
    if (heap) probeHeap()
    r.map(_._2)
  }

  def probeHeap(): Unit =
    peakHeapMb = math.max(peakHeapMb, tr.span("jvm.heap_probe")(Proc.retainedHeapMb()))

  def timeLeft: Boolean = (System.nanoTime() - windowStart) / 1e9 < seconds

  def of(kind: String): Seq[Op] = ops.filter(_.kind == kind).toSeq

  /** primary/secondary/tertiary figures of one op kind, each a median over
    * the run's ops of that kind: process user CPU per item (the bounded
    * figure) and wall (for the traced run and its overhead line). */
  def opFigures(prefix: String, kind: String,
                out: mutable.Map[String, Any]): Unit = {
    val xs = of(kind).filter(_.items > 0)
    out(s"${prefix}_p50_s") = median(xs.map(_.wall))
    out(s"${prefix}_cpu_ms_per_item") = median(xs.map(o => o.user * 1000.0 / o.items))
    counts(kind) = xs.size.toLong
  }

  // ---- traced-run rollups ----

  def spansNamed(name: String): Seq[Span] = tr.spans.filter(_.name == name).toSeq

  /** Median over spans of `name` of the per-span sum of each phase label. */
  def phaseMedians(name: String, labels: Seq[(String, String)], prefix: String,
                   withCpu: Boolean): Unit = {
    val ss = spansNamed(name)
    labels.foreach { case (label, key) =>
      val per = ss.map(s => s.phases.filter(_._1 == label))
      layer(s"$prefix.${key}_s") = median(per.map(_.map(_._2).sum))
      if (withCpu) layer(s"$prefix.${key}_cpu_s") = median(per.map(_.map(_._3).sum))
    }
  }

  /** spark.<op>.* counters: mean per traced span of `name`. */
  def sparkCounters(name: String, key: String): Unit = {
    val ss = spansNamed(name)
    val cs = ss.map(s => tr.counters(s.id))
    def mean(f: Counters => Double) = if (cs.isEmpty) 0.0 else cs.map(f).sum / cs.size
    layer(s"spark.$key.shuffle_write_bytes") = mean(_.shuffleWrite.toDouble)
    layer(s"spark.$key.shuffle_read_bytes") = mean(_.shuffleRead.toDouble)
    layer(s"spark.$key.spill_bytes") = mean(_.spill.toDouble)
    layer(s"spark.$key.task_cpu_s") = mean(_.taskCpuNs / 1e9)
    layer(s"spark.$key.stages") = mean(_.stages.toDouble)
  }

  /** max / median task time of the stage with the most task time. */
  def taskSkew(c: Counters): Double =
    if (c.stageTaskMs.isEmpty) 0.0
    else {
      val st = c.stageTaskMs.values.maxBy(_.sum)
      val m = median(st.map(_.toDouble).toSeq)
      if (m > 0) st.max / m else 0.0
    }

  def commonLayers(): Unit = {
    tr.listener.foreach(_.drain())
    val top = tr.spans.filter(_.parent == -1)
    val window = (windowEnd - windowStart) / 1e9
    val inWindow = top.filter(s => s.t0 >= windowStart && s.t1 <= windowEnd)
    layer("trace.span_coverage") = if (window > 0) inWindow.map(_.wall).sum / window else 0.0
    layer("trace.spans") = tr.spans.size.toDouble
    val gcs = top.map(s => s.gc1 - s.gc0)
    layer("jvm.gc_s") = if (gcs.isEmpty) 0.0 else gcs.sum / gcs.size
    layer("proc.user_s") = cpuAtEnd._1 - cpuAtStart._1
    layer("proc.sys_s") = cpuAtEnd._2 - cpuAtStart._2
    layer("proc.sys_share") =
      if (layer("proc.user_s") > 0) layer("proc.sys_s") / layer("proc.user_s") else 0.0
    Seq("build" -> "build", "compare" -> "compare", "replay" -> "replay",
      "query" -> "query", "append" -> "append", "search" -> "search",
      "delete" -> "delete").foreach { case (n, k) => sparkCounters(n, k) }
  }

  def indexDirBytes(dir: String): Unit =
    Seq("segments", "staging", "docmap", "termstats").foreach { d =>
      layer(s"index.bytes.$d") = Proc.dirBytes(s"$dir/$d").toDouble
    }

  /** analyze.tokens_per_s: the default chain over a content sample. */
  def analyzeRate(contents: Seq[String]): Unit = {
    val a = AnalyzerConfig.default
    contents.take(200).foreach(a.analyze) // warm
    var n = 0L
    val t0 = System.nanoTime()
    var rep = 0
    while (rep < 3) { contents.foreach(c => n += a.analyze(c).length); rep += 1 }
    layer("analyze.tokens_per_s") = n / ((System.nanoTime() - t0) / 1e9)
  }

  def endWindow(): Unit = {
    probeHeap()
    windowEnd = System.nanoTime()
    cpuAtEnd = Proc.cpu()
  }

  def result(e2e: mutable.Map[String, Any]): mutable.LinkedHashMap[String, Any] = {
    if (tr.on) {
      commonLayers()
      // this traced run's own op figures; against an untraced run of the
      // same seed they give the tracing overhead
      Seq("primary", "secondary", "tertiary").foreach(r =>
        layer(s"trace.${r}_p50_s") = e2e(s"${r}_p50_s").asInstanceOf[Double])
    }
    val cpuU = cpuAtEnd._1 - cpuAtStart._1
    val cpuS = cpuAtEnd._2 - cpuAtStart._2
    e2e("peak_heap_mb") = peakHeapMb
    mutable.LinkedHashMap[String, Any](
      "attempted" -> attempted, "failed" -> failed,
      "first_op_epoch_ms" -> firstOpEpochMs,
      "window_s" -> (windowEnd - windowStart) / 1e9,
      "user_s" -> cpuU, "sys_s" -> cpuS,
      "failures" -> failures.take(5).mkString(" | "),
      "ops" -> ops.map(o => f"${o.kind}:${o.wall}%.2f/${o.user}%.2f").mkString(" "),
      "counts" -> counts, "e2e" -> e2e, "layer" -> layer)
  }
}

/** `ingest`: bulk builds of a seeded corpus with injected bad rows, each
  * followed by traffic-comparison passes over a seeded triple stream, and
  * in the first cycle a golden-vs-WAND replay on the index built during
  * warm-up. */
final class Ingest(spark0: SparkSession, seed: Long, work0: String, scale0: Scale,
                   seconds: Double, tr0: Tracer, corrupt0: String)
    extends Workload(spark0, seed, work0, scale0, seconds, tr0, corrupt0) {
  import Main._
  import spark.implicits._

  val buildCfg = BuildConfig(numShards = 0, trustedInput = false)
  val minCycles = 1       // timed cycles run even past the time limit
  val replayQueries = 16
  // a pass is short, so each cycle runs four; the first after a build costs
  // more (the build's leftovers), which the median of four does not see
  val comparesPerCycle = 4
  val buildLabels = Seq("stage:deadletter" -> "stage_deadletter", "stage:write" -> "stage_write",
    "stage:stats" -> "stage_stats", "group:docmap" -> "docmap",
    "group:heavy-detect" -> "heavy_detect", "group:segments" -> "segments",
    "group:lineage" -> "lineage", "finalize:termstats" -> "finalize")

  def run(): mutable.LinkedHashMap[String, Any] = {
    val s = scale
    // ---- set-up: inputs, ground truth, warm-up ----
    val t0 = System.nanoTime()
    val ids = (0L until s.corpusDocs.toLong).toArray
    val bad = ids.count(i => Gen.isBad(i, seed, s.badPerMille)).toLong
    val good = ids.length - bad
    Gen.rows(spark, ids, seed, s.numRepos, s.badPerMille)
      .write.mode("overwrite").parquet(s"$work/corpus")
    val corpus = spark.read.parquet(s"$work/corpus").as[SourceFile]
    val sourceBytes = ids.filterNot(i => Gen.isBad(i, seed, s.badPerMille))
      .map(i => CorpusGen.contentFor(i, seed).getBytes("UTF-8").length.toLong).sum
    val (lines, truth) = Gen.triples(s.triplesLines, seed)
    val tripleDir = s"$work/triples"
    rm(tripleDir)
    new java.io.File(tripleDir).mkdirs()
    lines.grouped(math.max(1, lines.size / 8)).zipWithIndex.foreach { case (g, i) =>
      java.nio.file.Files.write(java.nio.file.Paths.get(f"$tripleDir/part-$i%03d.txt"),
        g.mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    layer("corpus.gen_s") = (System.nanoTime() - t0) / 1e9
    // warm-up on the full inputs: two builds (the first one's index is the
    // one the replay scores) and one comparison pass. The build after a cold
    // start pays for most of the JIT compilation, and the next one still
    // costs about a fifth more CPU than the third, which is timed. The
    // replay is not warmed: it runs once per run, and a warm-up would cost
    // as much again
    rm(s"$work/idx-warm")
    val warmSnap = IndexBuilder.build(spark, corpus, s"$work/idx-warm", buildCfg)
    comparePass(spark.read.textFile(tripleDir), traced = false)
    IndexBuilder.build(spark, corpus, s"$work/idx-warm2", buildCfg)
    rm(s"$work/idx-warm2")
    if (tr.on) analyzeRate(ids.take(2000).map(i => CorpusGen.contentFor(i, seed)).toSeq)
    System.gc() // the warm-up's garbage stays out of the window

    // ---- timed closed loop ----
    var indexBytes = 0L
    var n = 0
    while (n < minCycles || timeLeft) {
      val dir = s"$work/idx-$n"
      rm(dir)
      val snap = op("build", heap = true) {
        val sn = IndexBuilder.build(spark, corpus, dir, buildCfg)
        (good, sn)
      }
      tr.span("check")(snap.foreach { sn =>
        val dl = spark.read.parquet(IndexBuilder.deadletterDir(dir))
        // a dead-letter row gone missing: the count check must catch it
        val dlRows = (if (corrupt == "missing-deadletter") dl.except(dl.limit(1)) else dl).count()
        check("build: dead-lettered == injected bad rows", dlRows == bad, s"$dlRows != $bad")
        check("build: numDocs == distinct good rows", sn.stats.numDocs == good,
          s"${sn.stats.numDocs} != $good")
        if (n == 0) {
          indexBytes = Proc.dirBytes(dir)
          if (tr.on) indexDirBytes(dir)
        }
        rm(dir)
      })
      (0 until comparesPerCycle).foreach(_ => op("compare") {
        (truth.lines, comparePass(spark.read.textFile(tripleDir), traced = tr.on, Some(truth)))
      })
      // golden scoring costs a full corpus pass, so the replay runs once, in
      // the first cycle, on the warm-up build's index: the tertiary op and
      // the score-identity check
      if (n == 0) op("replay") {
        (replayQueries.toLong, replay(warmSnap, corpus.toDF(), CorpusGen.queries(replayQueries, seed ^ 0x5eedL)))
      }
      n += 1
    }
    endWindow()

    val e2e = mutable.LinkedHashMap.empty[String, Any]
    opFigures("primary", "build", e2e)
    opFigures("secondary", "compare", e2e)
    opFigures("tertiary", "replay", e2e)
    e2e("index_bytes_per_source_byte") = indexBytes.toDouble / math.max(1L, sourceBytes)
    if (tr.on) {
      phaseMedians("build", buildLabels, "index.build", withCpu = true)
      val bs = spansNamed("build")
      layer("index.build_s") = median(bs.map(_.wall))
      layer("index.build_cpu_s") = median(bs.map(_.user))
      layer("index.dead_lettered") = bad.toDouble
      layer("compare.dead_lettered") = truth.malformed.toDouble
      Seq("compare.parse", "compare.diff", "compare.report", "compare.join",
        "search.golden", "search.wand").foreach(n =>
        layer(s"${n}_s") = median(spansNamed(n).map(_.wall)))
    }
    result(e2e)
  }

  /** parse → diff → both reports, with the ground-truth check. Traced:
    * each stage is forced (and cached) separately so it is timed alone. */
  def comparePass(lines: Dataset[String], traced: Boolean,
                  truth: Option[Gen.TripleTruth] = None): Long = {
    val parsed0 = Triples.parse(spark, lines)
    val parsed =
      if (corrupt != "drop-triple" || truth.isEmpty) parsed0
      else parsed0.filter(col("request.timestamp") =!=
        parsed0.select("request.timestamp").as[Long].head())
    val (c, perf, nParsed) =
      if (!traced) {
        val cmp = Triples.compare(parsed)
        val c = Reports.correctness(cmp)
        (c, Reports.performance(cmp), c.total)
      } else {
        val p = parsed.cache()
        val np = tr.span("compare.parse")(p.count())
        val cmp = Triples.compare(p).cache()
        tr.span("compare.diff")(cmp.count())
        val (c, perf) = tr.span("compare.report")((Reports.correctness(cmp), Reports.performance(cmp)))
        cmp.unpersist(); p.unpersist()
        (c, perf, np)
      }
    truth.foreach { t =>
      check("compare: dead-lettered == malformed lines",
        t.lines - nParsed == t.malformed, s"${t.lines - nParsed} != ${t.malformed}")
      check("compare: identical == ground truth", c.identical == t.identical,
        s"${c.identical} != ${t.identical}")
      check("compare: status matches == ground truth", c.statusMatch == t.statusMatch,
        s"${c.statusMatch} != ${t.statusMatch}")
      check("compare: both clusters' latencies reported",
        perf.map(_.count) == Seq(c.total, c.total), perf.toString)
    }
    nParsed
  }

  /** Golden exact scorer vs WAND over `snap`; identical must equal total
    * (bit-identical scores). Untraced: `Harness.replay` itself. Traced:
    * the same steps with golden and WAND materialised separately, then
    * joined by the harness; the replay index never has deletes, so the
    * harness's tombstone filter has nothing to drop. */
  def replay(snap: Snapshot, corpusDf: DataFrame, queries: Seq[RefQuery]): Long = {
    // a perturbed golden score: one more token in every document moves the
    // corpus's average length, so every golden score shifts off the index's
    val corpusIn = if (corrupt != "replay-score") corpusDf
      else corpusDf.withColumn("content",
        when(length(col("content")) > 0, concat(col("content"), lit(" perfbench")))
          .otherwise(col("content")))
    val c =
      if (!tr.on) Harness.correctness(Harness.replay(spark, snap, corpusIn, queries, 10))
      else {
        check("replay: index has no deletes", snap.tombstoneDirs.isEmpty)
        val docs = corpusIn.filter(!IndexBuilder.isBadRow)
          .select(IndexBuilder.docIdCol.as("doc_id"), col("content"))
        // golden analyzes with the snapshot's own chain, as the harness does
        val golden = tr.span("search.golden")(Golden.topK(spark, docs, queries, 10,
          analyzer = AnalyzerConfig.parse(snap.analyzer)).localCheckpoint())
        val fast = tr.span("search.wand")(Wand.searchSnapshot(spark, snap, queries, 10).localCheckpoint())
        tr.span("compare.join")(Harness.correctness(Harness.compare(golden, fast)))
      }
    check("replay: identical == total (bit-identical scores)",
      c.total > 0 && c.identical == c.total, s"${c.identical}/${c.total}")
    c.total
  }
}

/** `serve`: reads beside writes on an index built during set-up. Each
  * cycle: one OR and one AND batch query call, one append (new docs plus
  * re-deliveries plus bad rows), a delete of one repo slice, a snapshot
  * reload, and single-query searches. */
final class Serve(spark0: SparkSession, seed: Long, work0: String, scale0: Scale,
                  seconds: Double, tr0: Tracer, corrupt0: String)
    extends Workload(spark0, seed, work0, scale0, seconds, tr0, corrupt0) {
  import Main._
  import spark.implicits._

  val base = s"$work/base-idx"
  val minCycles = 1 // timed cycles run even past the time limit
  val appendLabels = Seq("append:stage" -> "stage", "append:deadletter" -> "deadletter",
    "group:docmap" -> "docmap", "group:heavy-detect" -> "heavy_detect",
    "group:segments" -> "segments", "group:lineage" -> "lineage",
    "finalize:termstats" -> "finalize")
  val deleteLabels = Seq("delete:tombstones" -> "tombstones", "delete:delmask" -> "delmask",
    "delete:termstats" -> "termstats")

  /** Set-up: generate the base corpus and build the index the loop serves;
    * returns the index's bytes per source byte. */
  def buildBase(): Double = {
    val t0 = System.nanoTime()
    val ids = (0L until scale.baseDocs.toLong).toArray
    Gen.rows(spark, ids, seed, scale.numRepos, scale.badPerMille)
      .write.mode("overwrite").parquet(s"$work/base-corpus")
    val genS = (System.nanoTime() - t0) / 1e9
    rm(base)
    val t1 = System.nanoTime()
    IndexBuilder.build(spark, spark.read.parquet(s"$work/base-corpus").as[SourceFile], base,
      BuildConfig(numShards = 0))
    layer("index.prep_build_s") = (System.nanoTime() - t1) / 1e9
    layer("corpus.gen_s") = genS
    if (tr.on) indexDirBytes(base)
    val sourceBytes = ids.filterNot(i => Gen.isBad(i, seed, scale.badPerMille))
      .map(i => CorpusGen.contentFor(i, seed).getBytes("UTF-8").length.toLong).sum
    Proc.dirBytes(base).toDouble / math.max(1L, sourceBytes)
  }

  // ---- driver-side truth: term -> live doc ordinals ----
  private val postings = mutable.HashMap.empty[String, IntBuf]
  private val live = new java.util.BitSet()
  private val ordOf = mutable.HashMap.empty[String, Int]
  private var nextOrd = 0

  final class IntBuf { var a = new Array[Int](4); var n = 0
    def add(x: Int): Unit = { if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2); a(n) = x; n += 1 } }

  /** Generated index → truth ordinal (index order of first sight). */
  private val ordByIdx = mutable.HashMap.empty[Long, Int]

  private def commit(idx: Long): Unit = {
    val f = Gen.row(idx, seed, scale.numRepos, scale.badPerMille)
    if (Gen.isBad(idx, seed, scale.badPerMille) || ordByIdx.contains(idx)) return
    val o = nextOrd; nextOrd += 1
    ordByIdx(idx) = o
    ordOf(Gen.docId(f)) = o
    AnalyzerConfig.default.analyze(f.content).distinct
      .foreach(t => postings.getOrElseUpdate(t, new IntBuf).add(o))
    live.set(o)
  }

  private def matches(terms: Array[String], and: Boolean): Int = {
    val acc = new java.util.BitSet()
    if (and) {
      acc.or(live)
      terms.foreach { t =>
        val b = new java.util.BitSet()
        postings.get(t).foreach(p => { var i = 0; while (i < p.n) { b.set(p.a(i)); i += 1 } })
        acc.and(b)
      }
      if (terms.isEmpty) acc.clear()
    } else {
      terms.foreach(t => postings.get(t).foreach(p => { var i = 0; while (i < p.n) { acc.set(p.a(i)); i += 1 } }))
      acc.and(live)
    }
    acc.cardinality()
  }

  /** hits per query == min(k, live matching docs); ranks dense from 1;
    * no deleted or unknown doc. */
  private def checkHits(what: String, qs: Seq[RefQuery], rows: Array[Row], and: Boolean): Unit = {
    val byQ = rows.groupBy(_.getInt(0))
    var bad = 0
    var detail = ""
    qs.foreach { q =>
      val rs = byQ.getOrElse(q.query_id, Array.empty[Row]).sortBy(_.getInt(1))
      val want = math.min(10, matches(Golden.queryTerms(q.text), and))
      val docsOk = rs.forall(r => ordOf.get(r.getString(2)).exists(live.get))
      val ranksOk = rs.map(_.getInt(1)).toSeq == (1 to rs.length)
      if (rs.length != want || !docsOk || !ranksOk) {
        if (bad == 0) detail = s"q${q.query_id} '${q.text}' hits=${rs.length} want=$want docsOk=$docsOk"
        bad += 1
      }
    }
    check(s"$what: hits == min(k, matching live docs), no deleted doc", bad == 0,
      s"$bad queries, e.g. $detail")
  }

  private def collectRows(df: DataFrame): Array[Row] =
    df.select("query_id", "rank", "doc_id", "score").collect()

  def run(): mutable.LinkedHashMap[String, Any] = {
    val s = scale
    val bytesPerSourceByte = buildBase()
    (0L until s.baseDocs.toLong).foreach(commit)
    System.gc() // the base build's garbage stays out of the window

    // ---- set-up: load, driver-side truth, warm-up ----
    var snap = tr.span("table.load")(SnapshotCatalog.load(spark, base)).getOrElse(
      throw new IllegalStateException(s"no prebuilt index at $base"))
    check("base build: numDocs == good base rows", snap.stats.numDocs == live.cardinality(),
      s"${snap.stats.numDocs} != ${live.cardinality()}")
    var appendNo = 0
    var appendBad = 0L
    var nextIdx = s.baseDocs.toLong
    val rng = new java.util.SplittableRandom(Gen.mix64(seed ^ 0xA99E9DL))

    def appendBatch(newDocs: Int, redeliver: Int, timed: Boolean): Option[Snapshot] = {
      val fresh = (nextIdx until nextIdx + newDocs).toArray
      nextIdx += newDocs
      val seen = ordByIdx.keys.toArray.sorted
      val again = Array.fill(math.min(redeliver, seen.length))(seen(rng.nextInt(seen.length)))
      val batch = Gen.rows(spark, fresh ++ again, seed, s.numRepos, s.badPerMille)
      val newGood = fresh.count(i => !Gen.isBad(i, seed, s.badPerMille)).toLong
      val before = snap.stats.numDocs
      appendNo += 1
      val body = () => (newGood, IndexBuilder.append(spark, batch, base))
      val r = if (timed) op("append")(body()) else Some(body()._2)
      tr.span("check")(r.foreach { sn =>
        fresh.foreach(commit)
        check("append: numDocs == before + new distinct good rows (re-deliveries dropped)",
          sn.stats.numDocs == before + newGood, s"${sn.stats.numDocs} != $before + $newGood")
      })
      appendBad += fresh.count(i => Gen.isBad(i, seed, s.badPerMille))
      r
    }

    def reload(): Unit = {
      val t = System.nanoTime()
      val sn = tr.span("table.load")(SnapshotCatalog.load(spark, base))
      tableLoads += (System.nanoTime() - t) / 1e9
      sn.foreach(x => snap = x)
      check("reload: snapshot numDocs == live docs", snap.stats.numDocs == live.cardinality(),
        s"${snap.stats.numDocs} != ${live.cardinality()}")
    }

    var callNo = 0
    /** One batch call on the current snapshot; returns its queries and rows. */
    def call(and: Boolean, n: Int, timed: Boolean): (Seq[RefQuery], Option[Array[Row]]) = {
      val qs = CorpusGen.queries(n, Gen.mix64(seed ^ callNo.toLong))
      callNo += 1
      val body = () => {
        val df = tr.span("search.plan")(Wand.searchSnapshot(spark, snap, qs, 10, conjunctive = and))
        val rows = tr.span("search.exec")(collectRows(df))
        if (tr.on) callPlanChars += df.queryExecution.executedPlan.toString.length
        (qs.size.toLong, rows)
      }
      val r = if (timed) op("query", heap = true)(body()) else Some(body()._2)
      tr.span("check")(r.foreach { rows0 =>
        // one query loses its last hit: the count check must catch it
        val rows = if (corrupt != "drop-hit" || !timed) rows0
          else { val q0 = rows0.head.getInt(0); val mx = rows0.filter(_.getInt(0) == q0).map(_.getInt(1)).max
            rows0.filterNot(r => r.getInt(0) == q0 && r.getInt(1) == mx) }
        checkHits(if (and) "query AND" else "query OR", qs, rows, and)
      })
      (qs, r)
    }

    var singleNo = 0
    def single(): Unit = {
      val q = CorpusGen.queries(1, Gen.mix64(seed ^ 0x51A6L ^ singleNo.toLong)).head
      singleNo += 1
      op("search") {
        val df = tr.span("search.plan")(Wand.searchSnapshot(spark, snap, Seq(q), 10))
        val rows = tr.span("search.exec")(collectRows(df))
        if (tr.on) onePlanChars += df.queryExecution.executedPlan.toString.length
        (1L, rows)
      }.foreach(rows => tr.span("check")(checkHits("search", Seq(q), rows, and = false)))
    }

    var deleteNo = 0
    def deleteSlice(): Unit = {
      val repoId = deleteNo % s.numRepos
      deleteNo += 1
      val repo = f"repo-$repoId%04d"
      op("delete") {
        (1L, IndexBuilder.delete(spark, base, col("repo") === repo))
      }.foreach(sn => tr.span("check") {
        ordByIdx.foreach { case (idx, o) => if (idx % s.numRepos == repoId) live.clear(o) }
        check("delete: numDocs == live docs", sn.stats.numDocs == live.cardinality(),
          s"${sn.stats.numDocs} != ${live.cardinality()}")
      })
    }

    // warm-up on the base index: every timed path runs once here at full
    // size, since JIT compilation is still a large share of an op's CPU
    call(and = false, s.callQueries, timed = false)
    call(and = true, s.callQueries, timed = false)
    val repeatSnap = snap
    val (repeatQs, repeatRows) = call(and = true, 64, timed = false)
    attempted += 1 // the warm-up append is checked like a timed one
    appendBatch(s.appendNew, s.appendRedeliver, timed = false)
    reload()
    Wand.searchSnapshot(spark, snap, CorpusGen.queries(1, seed ^ 0x3a3aL), 10).collect()
    if (tr.on) analyzeRate((0L until 2000L).map(i => CorpusGen.contentFor(i, seed)))
    System.gc() // the warm-up's garbage stays out of the window

    // ---- timed closed loop ----
    var cycle = 0
    while (cycle < minCycles || timeLeft) {
      call(and = false, s.callQueries, timed = true)
      call(and = true, s.callQueries, timed = true)
      appendBatch(s.appendNew, s.appendRedeliver, timed = true)
      deleteSlice()
      reload()
      // after the delete, so its docs must be gone from every hit list
      (0 until s.singles).foreach(_ => single())
      cycle += 1
    }
    endWindow()
    // the warm-up AND call, repeated on its (immutable) base snapshot after
    // the window's appends and deletes, returns identical rows
    repeatRows.foreach { rows =>
      attempted += 1
      val again = collectRows(Wand.searchSnapshot(spark, repeatSnap, repeatQs, 10, conjunctive = true))
      def key(rs: Array[Row]) = rs.map(r => (r.getInt(0), r.getInt(1), r.getString(2), r.getDouble(3))).sorted.toSeq
      check("query: repeated call returns identical rows", key(rows) == key(again))
    }

    val e2e = mutable.LinkedHashMap.empty[String, Any]
    opFigures("primary", "query", e2e)
    opFigures("secondary", "append", e2e)
    opFigures("tertiary", "search", e2e)
    e2e("index_bytes_per_source_byte") = bytesPerSourceByte
    if (tr.on) {
      val app = spansNamed("append")
      layer("index.append_s") = median(app.map(_.wall))
      phaseMedians("append", appendLabels, "index.append", withCpu = false)
      layer("index.delete_s") = median(spansNamed("delete").map(_.wall))
      phaseMedians("delete", deleteLabels, "index.delete", withCpu = false)
      layer("index.dead_lettered") = if (appendNo > 0) appendBad.toDouble / appendNo else 0.0
      layer("table.load_s") = median(tableLoads.toSeq)
      layer("table.segment_dirs") = snap.segmentDirs.size.toDouble
      layer("table.snapshots") = SnapshotCatalog.listIds(spark, base).size.toDouble
      searchLayers()
    }
    result(e2e)
  }

  val tableLoads = mutable.ArrayBuffer.empty[Double]
  val callPlanChars = mutable.ArrayBuffer.empty[Double]
  val onePlanChars = mutable.ArrayBuffer.empty[Double]

  /** plan/exec split of batch calls and single searches from their child spans. */
  private def searchLayers(): Unit = {
    tr.listener.foreach(_.drain())
    def split(opName: String): (Seq[Double], Seq[Double], Seq[Counters], Seq[Span]) = {
      val ss = spansNamed(opName)
      val kids = tr.spans.groupBy(_.parent)
      def child(s: Span, n: String) = kids.getOrElse(s.id, Nil).filter(_.name == n).map(_.wall).sum
      (ss.map(child(_, "search.plan")), ss.map(child(_, "search.exec")),
        ss.map(s => tr.counters(s.id)), ss)
    }
    val (cp, ce, cc, cs) = split("query")
    layer("search.call.plan_s") = median(cp)
    layer("search.call.exec_s") = median(ce)
    layer("search.call.plan_share") = if (cs.isEmpty) 0.0 else median(cp.zip(cs).map { case (p, s) => p / s.wall })
    layer("search.plan_chars") = median(callPlanChars.toSeq)
    val nq = scale.callQueries.toDouble
    layer("search.cpu_ms_per_query") = median(cs.map(_.user * 1000.0 / nq))
    layer("search.jobs_per_call") = median(cc.map(_.jobs.toDouble))
    layer("search.tasks_per_call") = median(cc.map(_.tasks.toDouble))
    layer("search.shuffle_read_bytes_per_query") = median(cc.map(_.shuffleRead / nq))
    layer("search.task_skew") = median(cc.map(taskSkew))
    val (op1, oe, oc, os) = split("search")
    layer("search.one.plan_s") = median(op1)
    layer("search.one.exec_s") = median(oe)
    layer("search.one.plan_share") = if (os.isEmpty) 0.0 else median(op1.zip(os).map { case (p, s) => p / s.wall })
    layer("search.one.plan_chars") = median(onePlanChars.toSeq)
    layer("search.one.jobs") = median(oc.map(_.jobs.toDouble))
    layer("search.one.tasks") = median(oc.map(_.tasks.toDouble))
    val walls = of("search").map(_.wall)
    layer("search.one.p90_s") = pct(walls, 0.9)
    layer("search.one.samples") = walls.size.toDouble
  }
}
