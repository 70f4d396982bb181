package graft

/** Extra measurement harness for the OPTIMIZATION rounds (guide §1.4):
  * NOT part of the frozen driver contract — `graft.Bench` is the only
  * graded benchmark. This main exists to
  *
  *  - time a SUBSET of the battery (env `SPARK_GRAFT_ONLY=q77,q30`) with
  *    repeats (`SPARK_GRAFT_REPEAT=n`, default 1) so a single query's
  *    before/after can be measured in ~seconds instead of a ~25-minute
  *    full bench;
  *  - isolate computation from the sink with the noop writer
  *    (`SPARK_GRAFT_NOOP=true` replaces `.count()` with a
  *    `format("noop")` write, per guide §1.4);
  *  - capture `.explain("formatted")` for each run query into
  *    `SPARK_GRAFT_EXPLAIN_DIR` (one `<query>.txt` each) — the plan
  *    evidence committed under plans/r06/.
  *
  * The session is Bench.session's, so numbers are comparable with the
  * battery's; `SPARK_GRAFT_TIMING=true` turns on the builder's
  * `[graft-timing]` phase lines.
  */
object BenchExtra {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt
    val repeat = sys.env.getOrElse("SPARK_GRAFT_REPEAT", "1").toInt
    val noop = sys.env.get("SPARK_GRAFT_NOOP").contains("true")
    val explainDir = sys.env.get("SPARK_GRAFT_EXPLAIN_DIR")
    val doPrebuild = !sys.env.get("SPARK_GRAFT_SKIP_PREBUILD").contains("true")
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    val qs = only match {
      case Some(pats) => SparkEntry.queries.filter { case (n, _) => pats.exists(n.contains) }
      case None       => SparkEntry.queries
    }
    val spark = Bench.session(cores)
    spark.conf.set("spark.graft.timing", sys.env.getOrElse("SPARK_GRAFT_TIMING", "false"))
    spark.read.parquet(s"$sfDir/nation.parquet").count()
    val tPre = System.nanoTime()
    if (doPrebuild) {
      try SparkEntry.prebuildSharedIndexes(spark, sfDir)
      catch { case scala.util.control.NonFatal(_) => () }
    }
    val preSec = (System.nanoTime() - tPre) / 1e9
    System.err.println(f"[benchextra] prebuild $preSec%.2fs")
    val results = scala.collection.mutable.Map[String, List[Double]]()
    (1 to repeat).foreach { r =>
      qs.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        spark.sparkContext.setJobDescription(s"benchextra:$name:$r")
        val t0 = System.nanoTime()
        val ok = try {
          val df = fn(spark, sfDir)
          if (noop) df.write.format("noop").mode("overwrite").save()
          else df.count()
          if (r == 1) explainDir.foreach { dirPath =>
            val d = new java.io.File(dirPath); d.mkdirs()
            val txt = df.queryExecution.explainString(
              org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
            java.nio.file.Files.writeString(
              new java.io.File(d, s"$name.txt").toPath, txt)
          }
          true
        } catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[benchextra] $name FAILED: $e"); false }
        val sec = (System.nanoTime() - t0) / 1e9
        results(name) = results.getOrElse(name, Nil) :+ (if (ok) sec else -1.0)
        System.err.println(f"[benchextra] run$r $name $sec%.3fs")
      }
    }
    spark.stop()
    val js = results.toSeq.sortBy(_._1).map { case (n, ts) =>
      val ok = ts.filter(_ >= 0)
      val best = if (ok.isEmpty) -1.0 else ok.min
      f""""$n":{"best":$best%.3f,"all":[${ts.map(t => f"$t%.3f").mkString(",")}]}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"graft_benchextra","sf":"$sfDir","prebuild_sec":$preSec,"queries":$js}""")
  }
}
