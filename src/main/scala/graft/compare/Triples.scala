package graft.compare

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** A normalized HTTP request (reference: data.py:47-87). */
case class ParsedRequest(timestamp: Option[Long], method: String, uri: String,
                         headers: Map[String, String], body: String)

/** A normalized HTTP response (reference: data.py:90-124): header keys
  * lowercased, body base64→(gzip)→utf-8→JSON-canonicalized. */
case class ParsedResponse(timestamp: Option[Long], status: Option[Int],
                          latencyMs: Option[Long], headers: Map[String, String],
                          body: String)

/** One replayer triple: a request plus the primary ("source of truth") and
  * shadow ("under test") responses (reference: log_file_loader.py:41-79). */
case class Triple(request: ParsedRequest, primary: ParsedResponse, shadow: ParsedResponse)

/** One half of a two-stream capture: a request and the response one
  * cluster gave it (reference HAPROXY_JSONS shape, log_file_loader.py:27). */
case class RequestResponse(request: ParsedRequest, response: ParsedResponse)

/** The replayer-triples pipeline, re-expressed Spark-first: a narrow,
  * shuffle-free `Dataset[String] → Dataset[Triple] → comparison DataFrame`
  * chain — embarrassingly parallel, whole rows never leave their
  * partition (the reference runs this single-threaded row-at-a-time;
  * analyzer.py:16-26).
  */
object Triples extends Serializable {

  /** Volatile body paths masked before diffing (reference:
    * response_comparison.py:26-27), in [[JsonDiff]] path grammar. */
  val bodyMaskPaths: Seq[String] = Seq(
    "root['cluster_name']", "root['cluster_uuid']", "root['name']",
    "root['took']", "root['tagline']", "root['version']",
    "root['_id']", "root['_shards']", "root['_seq_no']")

  /** Volatile header keys masked before diffing (reference:
    * response_comparison.py:28-29). */
  val headerMaskKeys: Seq[String] = Seq(
    "content-length", "access-control-allow-origin", "connection",
    "date", "location")

  /** Request fields that are not headers (reference: log_file_loader.py:80-112). */
  private val requestKnown = Set("Method", "Request-URI", "body", "timestamp",
    "Reason-Phrase", "HTTP-Version")
  private val responseKnown = Set("Status-Code", "response_time_ms", "body",
    "timestamp", "Reason-Phrase", "HTTP-Version")

  @transient private lazy val mapper = new ObjectMapper()

  // ---- body decode chain (T1-T5) ----

  private[compare] def gunzip(bytes: Array[Byte]): String =
    try {
      val in = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(bytes))
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    } catch {
      // reference semantics: BadGzipFile → log and return "" (data.py:19-23)
      case _: Exception => ""
    }

  /** base64 → (gzip if content-encoding says so) → utf-8 → JSON canonical
    * (string fallback); NDJSON array when the URI targets _bulk. */
  private[compare] def decodeBody(b64: String, gzipped: Boolean, isBulk: Boolean): String = {
    if (b64 == null || b64.isEmpty) return ""
    val raw =
      try java.util.Base64.getDecoder.decode(b64)
      catch { case _: Exception => b64.getBytes(java.nio.charset.StandardCharsets.UTF_8) }
    val text =
      if (gzipped) gunzip(raw)
      else new String(raw, java.nio.charset.StandardCharsets.UTF_8)
    if (isBulk) {
      // NDJSON: parse each line, drop unparsable (reference: data.py:35-44)
      val arr = mapper.createArrayNode()
      text.split("\n").foreach { line =>
        if (line.nonEmpty) {
          try arr.add(mapper.readTree(line)) catch { case _: Exception => () }
        }
      }
      arr.toString
    } else {
      try mapper.readTree(text).toString
      catch { case _: Exception => text } // string fallback (data.py:26-32)
    }
  }

  private def residueHeaders(obj: JsonNode, known: Set[String], lowercase: Boolean): Map[String, String] =
    obj.properties().asScala.collect {
      case e if !known.contains(e.getKey) =>
        val k = if (lowercase) e.getKey.toLowerCase(java.util.Locale.ROOT) else e.getKey
        k -> (if (e.getValue.isTextual) e.getValue.asText() else e.getValue.toString)
    }.toMap

  private def contentGzipped(headers: Map[String, String]): Boolean =
    headers.exists { case (k, v) =>
      k.equalsIgnoreCase("content-encoding") && v.toLowerCase.contains("gzip")
    }

  /** A required field, mirroring the reference's bare `dict.pop(key)` —
    * absence (or a JSON null) aborts the line into the skip-and-log path
    * (log_file_loader.py:85-87,102: body/Method/Request-URI and
    * body/response_time_ms/Status-Code are popped without defaults, so a
    * missing key raises and the caller drops the line). */
  private def required(obj: JsonNode, key: String): JsonNode = {
    val n = obj.get(key)
    if (n == null || n.isNull) throw new NoSuchElementException(key)
    n
  }

  private[compare] def parseRequest(obj: JsonNode): ParsedRequest = {
    val headers = residueHeaders(obj, requestKnown, lowercase = false)
    val uri = required(obj, "Request-URI").asText()
    ParsedRequest(
      timestamp = Option(obj.get("timestamp")).filter(_.isNumber).map(_.asLong()),
      method = required(obj, "Method").asText(),
      uri = uri,
      headers = headers,
      body = decodeBody(required(obj, "body").asText(), contentGzipped(headers),
        uri.contains("_bulk")))
  }

  private[compare] def parseResponse(obj: JsonNode, requestUri: String): ParsedResponse = {
    val headers = residueHeaders(obj, responseKnown, lowercase = true)
    // int(Status-Code) parity: numeric node or integer-shaped string; the
    // reference crashes its whole loader on any other shape (only KeyError
    // is caught, log_file_loader.py:138) — skipping the line instead is
    // this engine's documented robust superset of that behavior.
    val sc = required(obj, "Status-Code")
    val status =
      if (sc.isIntegralNumber) sc.asInt()
      else if (sc.isTextual && sc.asText().matches("-?\\d+")) sc.asText().toInt
      else throw new NumberFormatException(s"Status-Code: $sc")
    // response_time_ms mirrors the Status-Code logic above: integral
    // number or integer-shaped string parses; any other shape (float,
    // "fast", object) throws into the skip-and-log path — a
    // present-but-string "456" must not silently become latency=None
    // while "456" as a Status-Code parses (the reference pops the value
    // verbatim; consistent parse-or-skip is this engine's superset)
    val lm = required(obj, "response_time_ms")
    val latency =
      if (lm.isIntegralNumber) lm.asLong()
      else if (lm.isTextual && lm.asText().matches("-?\\d+")) lm.asText().toLong
      else throw new NumberFormatException(s"response_time_ms: $lm")
    ParsedResponse(
      timestamp = Option(obj.get("timestamp")).filter(_.isNumber).map(_.asLong()),
      status = Some(status),
      latencyMs = Some(latency),
      headers = headers,
      body = decodeBody(required(obj, "body").asText(), contentGzipped(headers),
        requestUri.contains("_bulk")))
  }

  /** Parse one triple line; None on malformed input (skip-and-log contract,
    * reference: log_file_loader.py:114-139). */
  def parseLine(line: String): Option[Triple] =
    try {
      val n = mapper.readTree(line)
      if (n == null || !n.isObject || n.get("request") == null ||
          n.get("primaryResponse") == null || n.get("shadowResponse") == null) None
      else {
        val req = parseRequest(n.get("request"))
        Some(Triple(req,
          parseResponse(n.get("primaryResponse"), req.uri),
          parseResponse(n.get("shadowResponse"), req.uri)))
      }
    } catch { case _: Exception => None }

  /** Parse a stream of triple lines. Malformed lines are dropped (count
    * them via `lines.count - parsed.count` — the dead-letter discipline). */
  def parse(spark: SparkSession, lines: Dataset[String]): Dataset[Triple] = {
    import spark.implicits._
    lines.flatMap(parseLine _)
  }

  /** Match two INDEPENDENTLY captured (request, response) streams into
    * triples by request equivalence — the un-joined two-stream case the
    * reference declares but never implemented (HAPROXY_JSONS:
    * log_file_loader.py:27; `equivalent_to` = method + uri + HEADERS +
    * body, data.py:85-87 — header-sensitivity is pinned by the
    * reference's tests/test_data.py:37-41, so two requests differing only
    * in e.g. auth or content-type must NOT match). The headers map joins
    * via a canonical rendering (entries sorted by key) since map columns
    * are not directly equi-joinable. Spark shape: an equi-join. Repeated
    * identical requests are disambiguated by occurrence number (the i-th
    * primary occurrence pairs with the i-th shadow occurrence, ordered by
    * response timestamp) so the join stays 1:1 instead of exploding
    * m×n per duplicated key. Unmatched requests on either side drop out
    * (inner join) — count them via the input/output deltas. */
  def matchStreams(spark: SparkSession, primary: Dataset[RequestResponse],
                   shadow: Dataset[RequestResponse]): Dataset[Triple] = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // canonical headers key: entries sorted by key, JSON-rendered —
    // deterministic for any map traversal order, equi-joinable
    def headersKey = to_json(array_sort(map_entries(col("request.headers"))))
    def keyed(ds: Dataset[RequestResponse]) = {
      val w = Window
        .partitionBy(col("request.method"), col("request.uri"),
          headersKey, col("request.body"))
        .orderBy(col("response.timestamp").asc_nulls_first)
      ds.toDF().withColumn("occ", row_number().over(w))
        .withColumn("k_method", col("request.method"))
        .withColumn("k_uri", col("request.uri"))
        .withColumn("k_headers", headersKey)
        .withColumn("k_body", col("request.body"))
    }
    val p = keyed(primary).select(col("k_method"), col("k_uri"), col("k_headers"),
      col("k_body"), col("occ"), col("request"), col("response").as("primary"))
    val s = keyed(shadow).select(col("k_method"), col("k_uri"), col("k_headers"),
      col("k_body"), col("occ"), col("response").as("shadow"))
    p.join(s, Seq("k_method", "k_uri", "k_headers", "k_body", "occ"))
      .select(col("request"), col("primary"), col("shadow"))
      .as[Triple]
  }

  /** Compute the comparison columns: the three masked structural diffs and
    * the identical flag (reference: response_comparison.py:42-63). */
  def compare(triples: Dataset[Triple]): DataFrame = {
    val bodyMask = typedLit(bodyMaskPaths)
    val headerMask = typedLit(headerMaskKeys.map(k => s"root['$k']"))
    val noMask = typedLit(Seq.empty[String])
    triples.toDF()
      .withColumn("status_diff", JsonDiff.diffCol(
        col("primary.status").cast("string"), col("shadow.status").cast("string"), noMask))
      .withColumn("headers_diff", JsonDiff.diffCol(
        to_json(col("primary.headers")), to_json(col("shadow.headers")), headerMask))
      .withColumn("body_diff", JsonDiff.diffCol(
        col("primary.body"), col("shadow.body"), bodyMask))
      .withColumn("identical",
        size(col("status_diff")) === 0 && size(col("headers_diff")) === 0 &&
        size(col("body_diff")) === 0)
  }

  /** Comparison rows as JSON lines (reference sink K1: analyzer.py:24). */
  def toJsonLines(comparisons: DataFrame): Dataset[String] = {
    import comparisons.sparkSession.implicits._
    comparisons.select(to_json(struct(
      col("request"), col("primary"), col("shadow"),
      col("status_diff"), col("headers_diff"), col("body_diff"),
      col("identical")))).as[String]
  }

  /** The comparison-row schema [[toJsonLines]] emits — shared by the S5
    * source below so the round trip is schema-exact by construction. */
  lazy val comparisonSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.{Encoders => E}
    import org.apache.spark.sql.types._
    val diff = ArrayType(E.product[DiffEntry].schema)
    StructType(Seq(
      StructField("request", E.product[ParsedRequest].schema),
      StructField("primary", E.product[ParsedResponse].schema),
      StructField("shadow", E.product[ParsedResponse].schema),
      StructField("status_diff", diff),
      StructField("headers_diff", diff),
      StructField("body_diff", diff),
      StructField("identical", BooleanType)))
  }

  /** S5 source: parse previously-exported comparison JSON lines back into
    * comparison rows (reference: the sqlite dumper re-reads the analyzer's
    * output stream, cli.py:60-66). Malformed lines drop out via the usual
    * skip-and-log discipline (from_json yields null; caller can diff
    * counts against the raw line count). */
  def fromJsonLines(spark: SparkSession, lines: Dataset[String]): DataFrame =
    lines.toDF("value").select(from_json(col("value"), comparisonSchema).as("c"))
      .filter(col("c").isNotNull && col("c.identical").isNotNull)
      .select("c.*")
}
