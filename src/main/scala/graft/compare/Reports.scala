package graft.compare

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Correctness summary (reference DiffReport: reports.py:74-97). */
case class CorrectnessStats(total: Long, identical: Long, statusMatch: Long) {
  def identicalRate: Double = if (total == 0) 0.0 else identical.toDouble / total
  def statusMatchRate: Double = if (total == 0) 0.0 else statusMatch.toDouble / total
}

/** Latency percentile row per cluster (reference PerformanceReport:
  * reports.py:146-188). */
case class LatencyStats(cluster: String, count: Long, p50: Double, p90: Double,
                        p99: Double, avg: Double)

/** Report computations over a comparison DataFrame — the reference's
  * report suite re-expressed as terminal DataFrame aggregations (the
  * reference recomputes these per tick over an in-memory list,
  * report_generator.py:38-43; here they are single hash-aggregations
  * with partial/map-side combine, so they hold at any scale).
  */
object Reports {

  /** A1-A3: count, identical-match rate, status-code match rate. */
  def correctness(comparisons: DataFrame): CorrectnessStats = {
    val row = comparisons.agg(
      count(lit(1)),
      coalesce(sum(when(col("identical"), 1L).otherwise(0L)), lit(0L)),
      coalesce(sum(when(col("primary.status") === col("shadow.status"), 1L)
        .otherwise(0L)), lit(0L))).head()
    CorrectnessStats(row.getLong(0), row.getLong(1), row.getLong(2))
  }

  /** A1-A3 over the FLATTENED (versioned-table) schema — the reference's
    * dump-then-analyze flow (sqlite.py → notebook) without re-nesting. */
  def correctnessFlat(flat: DataFrame): CorrectnessStats = {
    val row = flat.agg(
      count(lit(1)),
      coalesce(sum(col("responses_are_identical").cast("long")), lit(0L)),
      coalesce(sum(when(col("source_response_status") === col("target_response_status"), 1L)
        .otherwise(0L)), lit(0L))).head()
    CorrectnessStats(row.getLong(0), row.getLong(1), row.getLong(2))
  }

  /** A4 over the flattened schema. */
  def performanceFlat(flat: DataFrame): Seq[LatencyStats] =
    performanceOf(flat.select(expr(
      "stack(2, 'primary', source_response_latency, 'shadow', target_response_latency) as (cluster, latency)")))

  /** A4: exact p50/p90/p99 + mean latency per cluster, latency>0 filter
    * kept from the reference (reports.py:150,159). The two embedded
    * response columns are unpivoted with `stack` so both clusters
    * aggregate in ONE pass. At very large scale swap `percentile` for
    * `percentile_approx` — the call site below is the only change. */
  def performance(comparisons: DataFrame): Seq[LatencyStats] =
    performanceOf(comparisons.select(expr(
      "stack(2, 'primary', primary.latencyMs, 'shadow', shadow.latencyMs) as (cluster, latency)")))

  private def performanceOf(stacked: DataFrame): Seq[LatencyStats] = {
    val unpivoted = stacked
      .filter(col("latency").isNotNull && col("latency") > 0)
    unpivoted.groupBy("cluster").agg(
        count(lit(1)).as("count"),
        expr("percentile(latency, array(0.5, 0.9, 0.99))").as("pcts"),
        avg(col("latency")).as("avg"))
      .orderBy("cluster")
      .collect().toSeq.map { r =>
        val p = r.getSeq[Double](2)
        LatencyStats(r.getString(0), r.getLong(1), p(0), p(1), p(2), r.getDouble(3))
      }
  }

  /** K2: console summary block (shaped like the reference's output,
    * README.md:74-93). */
  def formatSummary(c: CorrectnessStats, perf: Seq[LatencyStats]): String = {
    val sb = new StringBuilder
    sb.append(f"${c.total}%d comparisons, ${c.identical}%d identical " +
      f"(${c.identicalRate * 100}%.2f%%), status-code match ${c.statusMatchRate * 100}%.2f%%\n")
    perf.foreach { p =>
      sb.append(f"  ${p.cluster}%-8s n=${p.count}%-8d p99=${p.p99}%.1f  " +
        f"p90=${p.p90}%.1f  p50=${p.p50}%.1f  avg=${p.avg}%.1f ms\n")
    }
    sb.toString
  }

  /** K3: the reference DiffReport's export, faithfully (reports.py:99-138,
    * 48-72): a summary header, then for each non-identical comparison a
    * 40-char '=' separator and a difflib-style LINE DIFF of the two
    * responses — each rendered as "Status code: N", "Headers: {...}" and
    * the body JSON pretty-printed with SORTED KEYS at indent 4, with the
    * masked fields POPPED from the displayed headers/body first (the same
    * mask lists the comparison itself uses). Driver-side render of a
    * LIMITED collect (the reference renders every mismatch — unbounded).
    * Differ's intra-line '?' hint rows are mirrored via [[LineDiff]]. */
  def diffReportText(comparisons: DataFrame, maxMismatches: Int = 100): String =
    renderDiffReport(correctness(comparisons),
      comparisons.filter(!col("identical"))
        .select(col("primary.status").as("ps"), col("primary.headers").as("ph"),
          col("primary.body").as("pb"), col("shadow.status").as("ss"),
          col("shadow.headers").as("sh"), col("shadow.body").as("sb"))
        .limit(maxMismatches))

  /** K3 over the FLATTENED (versioned-table) schema — what the CLI's
    * `report --export diff=<file>` reads back from `comparisons_NNN`.
    * Headers were stringified at dump time (T11); from_json restores the
    * map so the display path is shared with the nested form. */
  def diffReportTextFlat(flat: DataFrame, maxMismatches: Int = 100): String = {
    val m = org.apache.spark.sql.types.MapType(
      org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.StringType)
    renderDiffReport(correctnessFlat(flat),
      flat.filter(col("responses_are_identical") === 0)
        .select(col("source_response_status").as("ps"),
          from_json(col("source_response_headers"), m).as("ph"),
          col("source_response_body").as("pb"),
          col("target_response_status").as("ss"),
          from_json(col("target_response_headers"), m).as("sh"),
          col("target_response_body").as("sb"))
        .limit(maxMismatches))
  }

  private def renderDiffReport(c: CorrectnessStats, mismatchCols: DataFrame): String = {
    val sb = new StringBuilder
    sb.append(s"\n    ${c.total} response were compared.\n")
    sb.append(f"    ${c.identical} were identical, for a match rate of ${c.identicalRate * 100}%.2f%%\n")
    sb.append(f"    The status codes matched in ${c.statusMatchRate * 100}%.2f%% of responses.\n\n")
    mismatchCols.collect().foreach { r =>
      sb.append("=" * 40).append("\n")
      def side(status: Any, headers: Map[String, String], body: String): IndexedSeq[String] =
        IndexedSeq(s"Status code: $status", s"Headers: ${renderHeaders(headers)}") ++
          renderBody(body).linesIterator
      val p = side(r.get(0), r.getAs[Map[String, String]](1), r.getString(2))
      val s = side(r.get(3), r.getAs[Map[String, String]](4), r.getString(5))
      sb.append(lineDiff(p, s).mkString("\n")).append("\n")
    }
    sb.toString
  }

  private val maskedBodyKeys: Seq[String] =
    Triples.bodyMaskPaths.flatMap(p => "root\\['(.*)'\\]".r.findFirstMatchIn(p).map(_.group(1)))

  /** Displayed headers: masked keys popped, python-dict-repr-shaped
    * (sorted for determinism — Scala maps have no insertion order). */
  private def renderHeaders(h: Map[String, String]): String = {
    val kept = Option(h).getOrElse(Map.empty)
      .filterNot { case (k, _) => Triples.headerMaskKeys.contains(k.toLowerCase(java.util.Locale.ROOT)) }
    kept.toSeq.sortBy(_._1).map { case (k, v) => s"'$k': '$v'" }.mkString("{", ", ", "}")
  }

  @transient private lazy val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Displayed body: JSON-parsed, masked TOP-LEVEL fields popped (the
    * reference pops only root-level keys, reports.py:61-66), then
    * json.dumps(sort_keys=True, indent=4)-shaped. Unparsable bodies render
    * as a JSON string, like json.dumps on a str. */
  private def renderBody(body: String): String = {
    val node =
      try mapper.readTree(if (body == null) "" else body)
      catch { case _: Exception => null }
    val cleaned = node match {
      case o: com.fasterxml.jackson.databind.node.ObjectNode =>
        maskedBodyKeys.foreach(o.remove); o
      case null => new com.fasterxml.jackson.databind.node.TextNode(
        Option(body).getOrElse(""))
      case other => other
    }
    jsonDumps(cleaned, 1)
  }

  /** json.dumps(..., sort_keys=True, indent=4) shape. */
  private def jsonDumps(n: com.fasterxml.jackson.databind.JsonNode, level: Int): String = {
    val pad = "    " * level
    val close = "    " * (level - 1)
    n match {
      case o: com.fasterxml.jackson.databind.node.ObjectNode if o.isEmpty => "{}"
      case o: com.fasterxml.jackson.databind.node.ObjectNode =>
        import scala.jdk.CollectionConverters._
        o.properties().asScala.toSeq.sortBy(_.getKey)
          .map(e => s"$pad${quote(e.getKey)}: ${jsonDumps(e.getValue, level + 1)}")
          .mkString("{\n", ",\n", s"\n$close}")
      case a: com.fasterxml.jackson.databind.node.ArrayNode if a.isEmpty => "[]"
      case a: com.fasterxml.jackson.databind.node.ArrayNode =>
        import scala.jdk.CollectionConverters._
        a.elements().asScala.toSeq
          .map(e => s"$pad${jsonDumps(e, level + 1)}")
          .mkString("[\n", ",\n", s"\n$close]")
      case s if s.isTextual => quote(s.asText())
      case other => other.toString
    }
  }

  private def quote(s: String): String =
    mapper.writeValueAsString(new com.fasterxml.jackson.databind.node.TextNode(s))

  /** difflib.Differ-semantics line diff: '  ' common, '- ' only-left,
    * '+ ' only-right, plus '? ' intra-line hint rows for fancy-replaced
    * similar lines (see [[LineDiff]] for the fidelity contract). */
  private[compare] def lineDiff(a: IndexedSeq[String], b: IndexedSeq[String]): Seq[String] =
    LineDiff.compare(a, b)

  /** K4: performance CSV export (reference: reports.py:190-205) over the
    * flattened (versioned-table) schema — the CLI's
    * `report --export perf=<dir>` path. */
  def exportPerformanceCsvFlat(flat: DataFrame, path: String): Unit =
    flat.select(
      col("request_uri"),
      col("request_method"),
      col("source_response_status").as("primary_status"),
      col("source_response_latency").as("primary_latency"),
      col("target_response_status").as("shadow_status"),
      col("target_response_latency").as("shadow_latency"),
      (col("responses_are_identical") === 1).as("identical"))
      .write.mode("overwrite").option("header", "true").csv(path)

  /** K5/ST4: materialize the flattened comparison table into a
    * sequentially versioned subdirectory (`comparisons_NNN`) — the
    * reference's auto-versioned SQLite tables (sqlite.py:145-159) with
    * batch/snapshot durability instead of per-row commits. Returns the
    * version written. */
  def dumpVersioned(comparisons: DataFrame, dir: String): Int = {
    val next = latestVersion(comparisons.sparkSession, dir).map(_ + 1).getOrElse(0)
    flatten(comparisons).write.parquet(f"$dir/comparisons_$next%03d")
    next
  }

  /** O1: the latest committed version = max(comparisons_NNN), if any. */
  def latestVersion(spark: SparkSession, dir: String): Option[Int] = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = new org.apache.hadoop.fs.Path(dir)
    val V = "comparisons_(\\d+)".r
    val existing = if (fs.exists(base))
      fs.listStatus(base).map(_.getPath.getName)
        .collect { case V(n) => n.toInt }
    else Array.empty[Int]
    existing.maxOption
  }

  /** The reference's 18-column flattened schema (sqlite.py:14-40), with
    * headers/bodies stringified (T11) and `took` extracted (T12). */
  def flatten(comparisons: DataFrame): DataFrame =
    comparisons.select(
      col("request.uri").as("request_uri"),
      col("request.method").as("request_method"),
      col("request.timestamp").cast("timestamp").as("request_timestamp"),
      coalesce(to_json(col("request.headers")), lit("")).as("request_headers"),
      coalesce(col("request.body"), lit("")).as("request_body"),
      col("primary.timestamp").cast("timestamp").as("source_response_timestamp"),
      col("primary.status").as("source_response_status"),
      coalesce(to_json(col("primary.headers")), lit("")).as("source_response_headers"),
      coalesce(col("primary.body"), lit("")).as("source_response_body"),
      col("primary.latencyMs").as("source_response_latency"),
      get_json_object(col("primary.body"), "$.took").cast("int").as("source_took"),
      col("shadow.timestamp").cast("timestamp").as("target_response_timestamp"),
      col("shadow.status").as("target_response_status"),
      coalesce(to_json(col("shadow.headers")), lit("")).as("target_response_headers"),
      coalesce(col("shadow.body"), lit("")).as("target_response_body"),
      col("shadow.latencyMs").as("target_response_latency"),
      get_json_object(col("shadow.body"), "$.took").cast("int").as("target_took"),
      col("identical").cast("int").as("responses_are_identical"),
      to_json(col("headers_diff")).as("headers_diff"),
      to_json(col("body_diff")).as("bodies_diff"))
}
