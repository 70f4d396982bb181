package perfbench

import graft.corpus.{CorpusGen, SourceFile}
import org.apache.spark.sql.{Dataset, SparkSession}

/** Seeded benchmark inputs with their ground truth. The engine only ever
  * sees the generated rows; every count a check compares against is
  * derived here, from the seed alone. */
object Gen {

  def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def rnd(seed: Long, salt: Long, i: Long) =
    new java.util.SplittableRandom(mix64(seed ^ mix64(salt ^ mix64(i))))

  // ---- source-code corpus with injected bad rows ----

  val InputParts = 8

  /** Row `idx` is bad (null identity field or empty content) for about
    * `badPerMille`/1000 of the indices; the kind alternates by hash. */
  def badKind(idx: Long, seed: Long, badPerMille: Int): Int = {
    val r = rnd(seed, 0xBADL, idx)
    if (r.nextInt(1000) >= badPerMille) 0 else 1 + r.nextInt(2)
  }

  def row(idx: Long, seed: Long, numRepos: Int, badPerMille: Int): SourceFile = {
    val f = CorpusGen.fileFor(idx, seed, numRepos)
    badKind(idx, seed, badPerMille) match {
      case 0 => f
      case 1 => f.copy(repo = null)
      case _ => f.copy(content = "")
    }
  }

  /** Rows `idx` for each index in `ids`, as a Dataset (one generator call
    * per row, deterministic at any parallelism) in `InputParts` partitions,
    * so a corpus written from it is several files, as real inputs are. */
  def rows(spark: SparkSession, ids: Array[Long], seed: Long, numRepos: Int,
           badPerMille: Int): Dataset[SourceFile] = {
    import spark.implicits._
    spark.createDataset(ids.toSeq).repartition(InputParts)
      .mapPartitions(_.map(i => row(i, seed, numRepos, badPerMille)))
  }

  def isBad(idx: Long, seed: Long, badPerMille: Int): Boolean =
    badKind(idx, seed, badPerMille) != 0

  /** sha256(repo \n path \n commit) — the engine's doc identity, computed
    * driver-side so checks can map hits back to generated rows. */
  def docId(f: SourceFile): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val b = md.digest(s"${f.repo}\n${f.path}\n${f.commit}"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    b.map(x => f"${x & 0xff}%02x").mkString
  }

  // ---- replayer triple lines ----

  /** Ground truth of a generated triple stream. `identical` counts lines
    * whose only differences sit in masked fields; `statusMatch` counts
    * parsed lines with equal status codes. */
  case class TripleTruth(lines: Long, malformed: Long, identical: Long,
                         statusMatch: Long)

  private def b64(s: String): String =
    java.util.Base64.getEncoder.encodeToString(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  private def b64gzip(s: String): String = {
    val bo = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bo)
    gz.write(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)); gz.close()
    java.util.Base64.getEncoder.encodeToString(bo.toByteArray)
  }

  private def q(s: String) = "\"" + s + "\""

  /** Kind of line `i`: 0 identical, 1 masked-only diff, 2 status diff,
    * 3 header diff, 4 body diff, 5 malformed. Shares 40/25/8/8/9/10 %. */
  private def lineKind(r: java.util.SplittableRandom): Int = {
    val u = r.nextInt(100)
    if (u < 40) 0 else if (u < 65) 1 else if (u < 73) 2 else if (u < 81) 3
    else if (u < 90) 4 else 5
  }

  /** Form of line `i`: 0 plain JSON, 1 gzip-encoded bodies, 2 `_bulk` NDJSON. */
  private def lineForm(r: java.util.SplittableRandom): Int = {
    val u = r.nextInt(10)
    if (u < 6) 0 else if (u < 8) 1 else 2
  }

  /** One triple line plus its kind. */
  def tripleLine(i: Long, seed: Long): (String, Int) = {
    val r = rnd(seed, 0x7419L, i)
    val kind = lineKind(r)
    val form = lineForm(r)
    val ts = 1700000000000L + i * 7
    val term = CorpusGen.poolWord(r.nextInt(2000))
    val hits = r.nextInt(500)
    val took = 1 + r.nextInt(40)
    val lat = 2 + r.nextInt(200)
    val bulk = form == 2
    val uri = if (bulk) "/_bulk" else s"/code/_search?q=$term"
    val reqBody =
      if (bulk) s"""{"index":{"_index":"code","_id":"$i"}}""" + "\n" + s"""{"path":"src/$term.scala"}""" + "\n"
      else s"""{"query":{"match":{"content":"$term"}},"size":10}"""
    def respBody(took: Int, hits: Int, errors: Boolean): String =
      if (bulk) s"""{"took":$took,"errors":$errors,"items":[{"index":{"_id":"$i","status":201}}]}""" + "\n"
      else s"""{"took":$took,"timed_out":false,"hits":{"total":{"value":$hits},"max_score":1.5}}"""
    val gz = form == 1
    def resp(status: Int, took: Int, hits: Int, errors: Boolean, date: String,
             engine: String, latency: Int): String = {
      val body = respBody(took, hits, errors)
      val enc = if (gz) ""","Content-Encoding":"gzip"""" else ""
      s"""{"Status-Code":$status,"Reason-Phrase":"OK","response_time_ms":$latency,""" +
        s""""body":${q(if (gz) b64gzip(body) else b64(body))},"timestamp":${ts + latency},""" +
        s""""Content-Type":"application/json","Date":${q(date)},"X-Engine":${q(engine)}$enc}"""
    }
    val primary = resp(200, took, hits, errors = false, "Mon, 01 Jan 2024 00:00:00 GMT", "a", lat)
    val shadow = kind match {
      case 0 | 5 => resp(200, took, hits, errors = false, "Mon, 01 Jan 2024 00:00:00 GMT", "a", lat + 3)
      // masked-only: `took` (body mask; plain and gzip forms) and the
      // Date header differ — the comparison must call these identical
      case 1 => resp(200, if (bulk) took else took + 5, hits, errors = false,
        "Mon, 01 Jan 2024 00:00:07 GMT", "a", lat + 1)
      case 2 => resp(503, took, hits, errors = false, "Mon, 01 Jan 2024 00:00:00 GMT", "a", lat)
      case 3 => resp(200, took, hits, errors = false, "Mon, 01 Jan 2024 00:00:00 GMT", "b", lat)
      case _ => resp(200, took, hits + 1, errors = bulk, "Mon, 01 Jan 2024 00:00:00 GMT", "a", lat)
    }
    val req = s"""{"Method":${q(if (bulk) "POST" else "GET")},"Request-URI":${q(uri)},""" +
      s""""body":${q(b64(reqBody))},"timestamp":$ts,"Host":"search.local"}"""
    val line = s"""{"request":$req,"primaryResponse":$primary,"shadowResponse":$shadow}"""
    val out =
      if (kind != 5) line
      else r.nextInt(3) match {
        case 0 => line.substring(0, line.length / 2)             // truncated JSON
        case 1 => s"""{"request":$req,"primaryResponse":$primary}""" // shadow missing
        case _ => line.replace("\"Status-Code\":200", "\"Status-Code\":\"2xx\"")
      }
    (out, kind)
  }

  def triples(n: Long, seed: Long): (Seq[String], TripleTruth) = {
    val b = Vector.newBuilder[String]
    var mal, ident, statusOk = 0L
    var i = 0L
    while (i < n) {
      val (line, kind) = tripleLine(i, seed)
      b += line
      if (kind == 5) mal += 1
      else {
        if (kind <= 1) ident += 1
        if (kind != 2) statusOk += 1
      }
      i += 1
    }
    (b.result(), TripleTruth(n, mal, ident, statusOk))
  }
}
