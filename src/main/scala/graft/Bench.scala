package graft

import org.apache.spark.sql.SparkSession

/** Benchmark harness (driver-run; prints ONE JSON line to stdout).
  *
  * Phases:
  *  1. the SparkEntry query battery on SPARK_GRAFT_SF_DIR (per-query secs)
  *  2. engine build+query at `hi` cores
  *  3. the same job at `lo = hi/4` cores on the same input
  *     → throughput scaling efficiency (BASELINE.md target ≥ 0.8), the
  *     sandbox stand-in for N vs 4N executors
  *
  * Methodology notes (this host):
  *  - each engine phase runs in its OWN spark-submit JVM pinned with
  *    -XX:ActiveProcessorCount=cores: GC/netty/ForkJoin pools otherwise
  *    size to the 32-core host, silently lending the "small cluster" extra
  *    parallelism and corrupting the comparison
  *  - the host intermittently enters a kernel-time storm under ≥16-thread
  *    JVMs (sys-time 5-10× user; identical code varies 59s → 535s), so the
  *    hi level defaults to 8 threads (lo = 2)
  */
object Bench {

  /** Shuffle/spill files on tmpfs when available: this host's kernel-time
    * storms correlate directly with shuffle-file I/O (measured: the same
    * 600k-doc build spent 193s of sys-time with /tmp local dirs vs 60s on
    * tmpfs, 79s wall vs 50s). A real cluster puts local dirs on NVMe; the
    * sandbox equivalent is RAM-backed disk. Falls back to the default when
    * /dev/shm is absent. */
  private def localDir: Option[String] = {
    val d = new java.io.File("/dev/shm/graft-bench")
    val ok = (d.isDirectory || d.mkdirs()) && d.canWrite &&
      { new java.io.File(d, "shuffle").mkdirs(); true }
    if (ok) Some(d.getAbsolutePath) else None
  }

  private[graft] def session(cores: Int): SparkSession = {
    val b0 = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-bench-$cores")
    val s = localDir.fold(b0)(d => b0.config("spark.local.dir", s"$d/shuffle"))
      .config("spark.sql.shuffle.partitions", (cores * 2).toString)
      .config("spark.sql.files.maxPartitionBytes", (16L * 1024 * 1024).toString)
      .config("spark.sql.files.openCostInBytes", (1L * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      // task-side output commit (v2): the default v1 renames every
      // partition dir on the DRIVER at job commit — a serial, core-count-
      // independent tail on each partitioned write. Safe here because
      // snapshot manifests gate visibility of every written dir.
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Child-process entry: ONE measurement per JVM. Build and query run in
    * SEPARATE processes — a JVM that has just churned through an index
    * build measures queries up to 60% slower than a fresh one (heap aging
    * + JIT state), which corrupted the hi-side scaling numbers more than
    * the lo side. Separate processes also model the real deployment: the
    * indexing cluster and the serving cluster are different JVMs. */
  private def phaseMain(phase: String, nDocs: Long, nQueries: Int): Unit = {
    val (kind, cores) =
      if (phase.startsWith("build")) ("build", phase.stripPrefix("build").toInt)
      else ("query", phase.stripPrefix("query").toInt)
    // index artifacts on tmpfs when available, same rationale as localDir:
    // the benchmark measures the ENGINE's N-vs-4N compute scaling, and this
    // sandbox's single virtio disk storms under parquet write load (sys-time
    // up to 6x user, measured), which is pure noise w.r.t. that question — a
    // real cluster writes to per-node NVMe / object storage
    val dir = localDir.fold(s"${SparkEntry.ScratchRoot}/tmp/bench-idx-$cores")(
      d => s"$d/bench-idx-$cores")
    val spark = session(cores)
    try {
      if (kind == "build") {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
        // warmup pass (same discipline as the query phase's cold pass):
        // a tiny throwaway build JIT-compiles the whole pipeline — janino
        // codegen, parquet writers, shuffle paths — so the reported number
        // is steady-state throughput, not first-iteration compile cost
        // (which a long-running indexing service pays once, not per job)
        val warmDir = s"$dir-warm"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(warmDir))
        graft.index.IndexBuilder.build(spark,
          graft.corpus.CorpusGen.corpus(spark, 20000, 7L), warmDir,
          graft.index.BuildConfig(numShards = 8, commitEvery = 8,
            trustedInput = true))
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(warmDir))
        val corpus = graft.corpus.CorpusGen.corpus(spark, nDocs, 42L)
        val (u0, s0) = graft.index.IndexBuilder.cpuSecs()
        val t0 = System.nanoTime()
        // 64 shards: smooths shard-keyed stages across ≤16 cores while
        // keeping the per-shard query fan-out cost moderate
        graft.index.IndexBuilder.build(spark, corpus, dir,
          graft.index.BuildConfig(numShards = 64, commitEvery = 64,
            heavyThreshold = math.max(1000, nDocs / 64), saltBuckets = 8,
            trustedInput = true))
        val (u1, s1) = graft.index.IndexBuilder.cpuSecs()
        println(f"""{"phase":"$phase","sec":${secs(t0)}%.3f,"user":${u1 - u0}%.1f,"sys":${s1 - s0}%.1f}""")
      } else {
        val snap = graft.table.SnapshotCatalog.require(spark, dir)
        val qs = graft.corpus.CorpusGen.queries(nQueries, 42L)
        // cold pass warms code paths; the reported number is the warm pass
        graft.search.Wand.searchSnapshot(spark, snap, qs, 10).count()
        val (u0, s0) = graft.index.IndexBuilder.cpuSecs()
        val t1 = System.nanoTime()
        val n = graft.search.Wand.searchSnapshot(spark, snap, qs, 10).count()
        val sec = secs(t1)
        require(n > 0, "engine returned no results")
        val (u1, s1) = graft.index.IndexBuilder.cpuSecs()
        println(f"""{"phase":"$phase","sec":$sec%.3f,"user":${u1 - u0}%.1f,"sys":${s1 - s0}%.1f}""")
      }
    } finally spark.stop()
  }

  /** Spawn an isolated, core-pinned JVM for one measurement; returns
    * (wall secs, user CPU secs, sys CPU secs of the measured region). */
  private def spawnPhase(phase: String, nDocs: Long, nQueries: Int): (Double, Double, Double) = {
    val jar = classOf[graft.corpus.SourceFile].getProtectionDomain
      .getCodeSource.getLocation.getPath
    val cores = phase.dropWhile(!_.isDigit)
    // -XX:+UseG1GC pinned at BOTH levels: JVM ergonomics pick SerialGC at
    // ActiveProcessorCount=1 and G1 at 4 — two different collectors with
    // different user-CPU per unit work would bias the N-vs-4N throughput
    // ratio with a GC artifact instead of engine scaling
    val cmd = Seq("/opt/spark/bin/spark-submit",
      "--driver-memory", sys.env.getOrElse("SPARK_GRAFT_BENCH_MEM", "24g"),
      "--conf", s"spark.driver.extraJavaOptions=-XX:ActiveProcessorCount=$cores -XX:+UseG1GC",
      "--class", "graft.Bench", jar)
    val pb = new ProcessBuilder(cmd: _*)
    pb.environment().put("SPARK_GRAFT_BENCH_PHASE", phase)
    pb.environment().put("SPARK_GRAFT_BENCH_DOCS", nDocs.toString)
    pb.environment().put("SPARK_GRAFT_BENCH_QUERIES", nQueries.toString)
    pb.redirectError(ProcessBuilder.Redirect.DISCARD)
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8)
    p.waitFor()
    val line = out.linesIterator.filter(_.contains("\"phase\"")).toSeq.lastOption
      .getOrElse(throw new RuntimeException(s"$phase child produced no result: $out"))
    def num(k: String): Double =
      ("\"" + k + "\":([0-9.]+)").r.findFirstMatchIn(line).map(_.group(1).toDouble).getOrElse(0.0)
    (num("sec"), num("user"), num("sys"))
  }

  /** Run one phase until a storm-free sample lands (or attempts run out);
    * returns the minimum wall time seen. This host intermittently enters
    * kernel-time storms (page faults and futexes served 100-1000x slow —
    * sys-CPU up to 6x user-CPU for MINUTES; forensics in BASELINE.md).
    * A stormed sample says nothing about the engine's N-vs-4N compute
    * scaling, so a sample with an anomalous kernel-time share is retried
    * rather than trusted; every attempt is still folded into the reported
    * minimum, and attempts are bounded. Threshold calibration (measured):
    * clean builds spend 3-9% of user CPU in the kernel, clean queries
    * 1-4%; a build4 sample that measured 37% slow carried 21%, and a
    * build1 sample 44% slow carried 14.5% — the edge of a storm episode
    * (the build4 attempts minutes later read 15-17%). 12% sits above the
    * whole clean population and below every degraded sample observed;
    * the old 15% bar admitted that storm-edge lo sample and published a
    * bogus >1.3 "efficiency". */
  /** `minClean`: how many STORM-FREE samples to take the minimum over.
    * Even clean samples jitter ~10% wall at the hi level (scheduling/GC
    * noise across 4 threads), and the scaling RATIO is dominated by the
    * hi sample — a single unlucky-but-clean hi measurement once read a
    * 0.85-efficient engine as 0.74. The hi phases are 4× cheaper than lo
    * (same work, 4× cores), so min-of-2 there costs ~4 min of a ~27 min
    * bench. Runs 9-11 then showed the LO side is not stable either:
    * "clean" 1-core build samples spanned 561-761 s (36%) across runs
    * with no engine change — 1-core kernel-share is a weaker storm
    * signal (less concurrency to trip on). One-sided resampling biases
    * the ratio (extra hi samples only shrink t_hi, extra lo samples only
    * shrink t_lo), so BOTH levels take min-of-2 clean samples; the ~13
    * added minutes buy a ratio whose two sides carry the same estimator. */
  private def phaseBest(kind: String, cores: Int, nDocs: Long, nQueries: Int,
                        maxAttempts: Int = 5, minClean: Int): Double = {
    var best = Double.MaxValue
    var attempt = 0
    var nClean = 0
    while (attempt < maxAttempts && nClean < minClean) {
      val (sec, user, sysT) = spawnPhase(s"$kind$cores", nDocs, nQueries)
      best = math.min(best, sec)
      val clean = sysT < 0.12 * math.max(1.0, user)
      if (clean) nClean += 1
      attempt += 1
      System.err.println(f"[bench] $kind$cores attempt $attempt: $sec%.1fs " +
        f"(user=$user%.0fs sys=$sysT%.0fs${if (clean) "" else " STORM"})")
      // storm episodes persist for minutes: an immediate retry usually
      // lands inside the same one. ESCALATING cooldown (90s, 180s, 270s)
      // so the attempt sequence spans ~20 min of wall clock — a measured
      // episode decayed 41%→15% kernel share over ~13 min, outlasting
      // the old fixed 90s×3 spacing. Back-to-back CLEAN samples need no
      // cooldown.
      if (!clean && attempt < maxAttempts) Thread.sleep(90000L * attempt)
    }
    best
  }

  def main(args: Array[String]): Unit = {
    val phase = sys.env.getOrElse("SPARK_GRAFT_BENCH_PHASE", "all")
    if (phase.startsWith("build") || phase.startsWith("query")) {
      phaseMain(phase,
        sys.env.getOrElse("SPARK_GRAFT_BENCH_DOCS", "400000").toLong,
        sys.env.getOrElse("SPARK_GRAFT_BENCH_QUERIES", "4096").toInt)
      return
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Default engine pair: 1 vs 4 cores. The north rule's criterion is the
    // THROUGHPUT RATIO between N and 4N parallelism; this host serves page
    // faults/futexes pathologically slowly in multi-minute episodes under
    // ≥8-thread JVMs (sys-CPU up to 6x user — forensics in BASELINE.md),
    // while 1- and 4-thread JVMs measure cleanly straight through an
    // active episode (verified: build4 ran user=623s/sys=81s while build8
    // storms raged minutes before). 4-vs-1 therefore measures the ENGINE's
    // scaling, not the host's pathology; SPARK_GRAFT_BENCH_HI=8 restores
    // 8v2. SPARK_GRAFT_CPUS (the driver's host-core hint, e.g. 32) is
    // honored only when small enough to BE a scaling level — otherwise it
    // would silently flip the pair back to the stormy 8v2.
    val hi = sys.env.get("SPARK_GRAFT_BENCH_HI").map(_.toInt)
      .orElse(sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).filter(_ <= 8))
      .getOrElse(4)
    val lo = math.max(1, hi / 4)
    val nDocs = sys.env.getOrElse("SPARK_GRAFT_BENCH_DOCS", "1200000").toLong
    val nQueries = sys.env.getOrElse("SPARK_GRAFT_BENCH_QUERIES", "4096").toInt

    // Engine phases: isolated pinned JVMs, one measurement per process.
    // Each (kind, level) retries until a storm-free sample lands (child
    // JVMs report the user/sys CPU of their measured region; a sample
    // that spent most of its CPU in the kernel was measuring the host's
    // paging pathology, not the engine — see phaseBest). Queries always
    // run against their level's built index (same artifact every attempt).
    // ORDER: lo level first (1-2-thread JVMs measured clean through every
    // storm episode observed), hi level second, the 16-thread battery
    // session LAST — high-thread JVMs are what trigger the host's paging
    // episodes, and an episode triggered by the battery used to poison
    // the hi-side attempts that followed it.
    val buildLo = phaseBest("build", lo, nDocs, nQueries, minClean = 2)
    val queryLo = phaseBest("query", lo, nDocs, nQueries, minClean = 2)
    val buildHi = phaseBest("build", hi, nDocs, nQueries, minClean = 2)
    val queryHi = phaseBest("query", hi, nDocs, nQueries, minClean = 2)

    // query battery (own session). Warmup discipline mirrors the engine
    // phases (cold pass, then the measured pass): one sweep of every query
    // at the SMALLEST scale factor JIT-compiles most of each plan's
    // generated code — janino classes are keyed by plan shape, not data —
    // so the timed numbers are steady-state, not first-iteration compile
    // cost. (AQE picks different join strategies at tiny scale, so some
    // sort-merge stages still compile on the timed run — the sweep is a
    // large reduction, not a guarantee.) Falls back to a single read
    // warmup when no smaller SF directory is present.
    val spark1 = session(16)
    spark1.read.parquet(s"$sfDir/nation.parquet").count()
    val warmDir = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.001")
    if (warmDir.isDirectory && warmDir.getAbsolutePath != new java.io.File(sfDir).getAbsolutePath)
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (_, fn) =>
        try fn(spark1, warmDir.getAbsolutePath).count()
        catch { case _: Throwable => () }
      }
    // shared read-only index built ONCE, timed separately — so per-query
    // battery times measure query work, not repeated identical SPIMI
    // builds (round-3 verdict: the builds were ~75% of battery wall-time
    // and masked query-path regressions)
    // a failed prebuild or query keeps its cause for the side file; a
    // failed query times as -1
    def failure(e: Throwable): Option[String] = Some(s"${e.getClass.getName}: ${e.getMessage}")
    val tPre = System.nanoTime()
    val prebuildErr = try { SparkEntry.prebuildSharedIndexes(spark1, sfDir); None }
                      catch { case e: Throwable => failure(e) }
    val prebuildSec = secs(tPre)
    val runs: Seq[(String, Double, Option[String])] =
      SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        val t0 = System.nanoTime()
        val err = try { fn(spark1, sfDir).count(); None }
                  catch { case e: Throwable => failure(e) }
        (name, if (err.isEmpty) secs(t0) else -1.0, err)
      }
    spark1.stop()
    val queryTimes = runs.map(r => r._1 -> r._2)
    val batterySec = batteryOf(queryTimes)
    // the side file keeps the long names plus the previous run's times;
    // the stdout line carries the per-query times by number (stdoutLine)
    val qjson = queryTimes.map { case (k, v) => f""""$k":$v%.3f""" }.mkString("{", ",", "}")
    val qFile = new java.io.File("bench/bench_queries_latest.json").getAbsoluteFile
    qFile.getParentFile.mkdirs()
    // regression diff: before overwriting, lift the PREVIOUS run's
    // per-query seconds out of the old file and write them back as
    // "prev" plus a "ratio" map (current/prev, >1 = slower) — so a
    // per-query regression is one glance at the new file, not an
    // archaeology dig through old run logs
    val prevTimes: Map[String, Double] =
      if (!qFile.isFile) Map.empty
      else try {
        val root = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(java.nio.file.Files.readString(qFile.toPath))
        val q = root.get("queries")
        if (q == null) Map.empty
        else {
          val b = Map.newBuilder[String, Double]
          val it = q.properties().iterator()
          while (it.hasNext) {
            val e = it.next(); b += e.getKey -> e.getValue.asDouble()
          }
          b.result()
        }
      } catch { case _: Throwable => Map.empty }
    val prevJson = prevTimes.toSeq.sorted
      .map { case (k, v) => f""""$k":$v%.3f""" }.mkString("{", ",", "}")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val errorsJson = (prebuildErr.map("prebuild" -> _).toSeq ++
        runs.collect { case (k, _, Some(e)) => k -> e })
      .map { case (k, e) => s""""$k":${mapper.writeValueAsString(e)}""" }
      .mkString("{", ",", "}")
    val ratioJson = queryTimes
      .collect { case (k, v) if v >= 0 && prevTimes.getOrElse(k, -1.0) > 0 =>
        f""""$k":${v / prevTimes(k)}%.2f""" }.mkString("{", ",", "}")
    java.nio.file.Files.writeString(qFile.toPath,
      f"""{"sf":"$sfDir","battery_sec":$batterySec%.2f,"prebuild_sec":$prebuildSec%.2f,"queries":$qjson,"prev":$prevJson,"ratio":$ratioJson,"errors":$errorsJson}""" + "\n")
    println(stdoutLine(sfDir, queryTimes, prebuildSec, nDocs, nQueries, hi, lo,
      buildHi, buildLo, queryHi, queryLo))
  }

  /** Summed seconds of the battery queries that succeeded (-1 = failed). */
  private def batteryOf(queryTimes: Seq[(String, Double)]): Double =
    queryTimes.filter(_._2 >= 0).map(_._2).sum

  /** The ONE printed JSON line. The driver keeps a bounded tail of stdout
    * (round 3's ~4 KB line with 122 long-named entries was lost), so the
    * per-query leaves ride as `"q":{"<query number>":<ms>}` — integer
    * milliseconds, -1 for a failed query — and the long names stay in
    * the side file. BenchSpec pins the line's length for a full
    * 175-query battery. */
  private[graft] def stdoutLine(sfDir: String, queryTimes: Seq[(String, Double)],
                                prebuildSec: Double, nDocs: Long, nQueries: Int,
                                hi: Int, lo: Int, buildHi: Double, buildLo: Double,
                                queryHi: Double, queryLo: Double): String = {
    val buildThrHi = nDocs / buildHi
    val buildThrLo = nDocs / buildLo
    val qpsHi = nQueries / queryHi
    val qpsLo = nQueries / queryLo
    val factor = hi.toDouble / lo
    val buildEff = (buildThrHi / buildThrLo) / factor
    val queryEff = (qpsHi / qpsLo) / factor
    val batterySec = batteryOf(queryTimes)
    val total = batterySec + buildHi + queryHi
    val failedJson = queryTimes.filter(_._2 < 0)
      .map("\"" + _._1 + "\"").mkString("[", ",", "]")
    val qMs = queryTimes
      .map { case (k, v) => (k.drop(1).takeWhile(_.isDigit).toInt,
        if (v < 0) -1L else math.round(v * 1000)) }
      .sortBy(_._1).map { case (n, ms) => s""""$n":$ms""" }.mkString("{", ",", "}")
    f"""{"metric":"graft_bench","value":$total%.2f,"unit":"sec","sf":"$sfDir",""" +
      f""""battery_sec":$batterySec%.2f,"battery_n":${queryTimes.size},""" +
      f""""battery_failed":$failedJson,"battery_prebuild_sec":$prebuildSec%.2f,""" +
      f""""engine":{"docs":$nDocs,"query_set":$nQueries,""" +
      f""""cores_hi":$hi,"cores_lo":$lo,""" +
      f""""build_sec_hi":$buildHi%.1f,"build_docs_per_sec_hi":$buildThrHi%.0f,""" +
      f""""build_sec_lo":$buildLo%.1f,"build_docs_per_sec_lo":$buildThrLo%.0f,""" +
      f""""build_scaling_efficiency":$buildEff%.3f,""" +
      f""""query_sec_hi":$queryHi%.2f,"qps_hi":$qpsHi%.1f,""" +
      f""""query_sec_lo":$queryLo%.2f,"qps_lo":$qpsLo%.1f,""" +
      f""""query_scaling_efficiency":$queryEff%.3f},"q":$qMs}"""
  }
}
