package graft.corpus

import org.apache.spark.sql.{Dataset, SparkSession}

/** One row of the north-rule input table: an Iceberg-shaped table of
  * source-code files `(repo, path, commit, lang, content)`
  * (BASELINE.json:input_hint). */
case class SourceFile(repo: String, path: String, commit: String,
                      lang: String, content: String)

/** A reference query (the harness replays these against both engines —
  * mirrors the reference's replayed-request discipline, README.md:3). */
case class RefQuery(query_id: Int, text: String)

/** Deterministic, seeded source-code corpus generator.
  *
  * No external data: content is synthesized per-row from a SplittableRandom
  * seeded by (seed, docIndex), so the corpus is identical regardless of
  * partitioning, parallelism, or run count — a requirement for the
  * rank-identical golden-vs-fast comparisons and for the N-vs-4N scaling
  * runs (same input at both parallelism levels).
  *
  * The vocabulary is Zipf-skewed with stop-word-like heads (`def`,
  * `import`, `return`, ...) to exercise the salted-repartition skew path,
  * and identifiers are emitted in camelCase / snake_case so the code-aware
  * tokenizer's splitting is load-bearing, not decorative.
  */
object CorpusGen {

  private val keywords: Array[String] = Array(
    "def", "import", "return", "val", "var", "class", "object", "match",
    "case", "if", "else", "for", "while", "new", "extends", "override",
    "private", "public", "static", "void", "int", "string", "self", "this")

  private val wordParts: Array[String] = Array(
    "parse", "build", "index", "query", "token", "stream", "buffer", "merge",
    "sort", "hash", "block", "score", "doc", "term", "read", "write", "count",
    "list", "node", "tree", "map", "set", "get", "put", "load", "store",
    "open", "close", "init", "config", "shard", "segment", "batch", "row",
    "column", "filter", "group", "join", "split", "encode", "decode", "flush",
    "commit", "snapshot", "lineage", "posting", "cursor", "heap", "rank")

  private val langs = Array("scala", "py", "java", "go")

  /** Synthetic identifier-word pool: wordParts × syllable suffixes →
    * ~19k distinct lowercase words, Zipf-sampled so term frequencies look
    * like a real code corpus (stop-word-like heads, long selective tail)
    * instead of a degenerate 72-term vocabulary where every query is a
    * worst-case stop-word query. */
  private val syllables = Array("ba", "co", "du", "fi", "ga", "hu", "ji",
    "ka", "lo", "mi", "nu", "pa", "qo", "ri", "su", "ta", "vu", "wi", "xa", "ze")

  val poolSize: Int = wordParts.length * syllables.length * syllables.length

  def poolWord(i: Int): String = {
    val w = wordParts(i % wordParts.length)
    val r = i / wordParts.length
    if (r == 0) w
    else w + syllables(r % syllables.length) +
      syllables((r / syllables.length) % syllables.length)
  }

  /** Zipf-ish pick: rank r chosen with P(r) ∝ 1/(r+1). */
  private def zipfIndex(rnd: java.util.SplittableRandom, n: Int): Int = {
    // inverse-CDF over harmonic weights, approximated via exp sampling:
    // u in [0,1) → floor(exp(u * ln(n+1))) - 1 gives a 1/x-shaped rank.
    val u = rnd.nextDouble()
    math.min(n - 1, (math.exp(u * math.log(n.toDouble + 1)) - 1.0).toInt)
  }

  private def ident(rnd: java.util.SplittableRandom): String = {
    val parts = 1 + rnd.nextInt(3)
    val ws = Array.fill(parts)(poolWord(zipfIndex(rnd, poolSize)))
    if (rnd.nextBoolean()) {
      // camelCase
      ws.head + ws.tail.map(w => s"${w.head.toUpper}${w.tail}").mkString
    } else ws.mkString("_") // snake_case
  }

  private def mix64(z0: Long): Long = { // splitmix64 finalizer
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Deterministic content for document `idx`. */
  def contentFor(idx: Long, seed: Long): String = {
    val rnd = new java.util.SplittableRandom(mix64(seed ^ mix64(idx)))
    val nTok = 40 + rnd.nextInt(160)
    val sb = new java.lang.StringBuilder(nTok * 8)
    var i = 0
    while (i < nTok) {
      if (i > 0) sb.append(if (rnd.nextInt(8) == 0) "\n" else " ")
      if (rnd.nextInt(10) < 4) sb.append(keywords(zipfIndex(rnd, keywords.length)))
      else sb.append(ident(rnd))
      i += 1
    }
    sb.toString
  }

  def fileFor(idx: Long, seed: Long, numRepos: Int): SourceFile = {
    val rnd = new java.util.SplittableRandom(mix64(seed ^ mix64(idx) ^ 0x5ca1ab1eL))
    val repoId = (idx % numRepos).toInt
    val repo = f"repo-$repoId%04d"
    val lang = langs((idx % langs.length).toInt)
    val ext = lang match { case "py" => "py"; case "go" => "go"; case l => l }
    val path = f"src/${wordParts(rnd.nextInt(wordParts.length))}%s/File_$idx%06d.$ext%s"
    // fixed 40-hex commit per repo, derived from seed+repo only
    val ch = mix64(seed ^ repoId.toLong)
    val commit = f"$ch%016x${mix64(ch)}%016x${mix64(ch) & 0xffffffffL}%08x"
    SourceFile(repo, path, commit, lang, contentFor(idx, seed))
  }

  /** Distributed corpus: identical content for a given (numDocs, seed)
    * at any parallelism. */
  def corpus(spark: SparkSession, numDocs: Long, seed: Long = 42L,
             numRepos: Int = 100): Dataset[SourceFile] = {
    spark.range(numDocs).mapPartitions { it =>
      it.map(r => fileFor(r, seed, numRepos))
    }(org.apache.spark.sql.Encoders.product[SourceFile])
  }

  /** The fixed reference query set: short conjunctions of vocabulary
    * terms, seeded; includes skewed heads so WAND's block-max pruning
    * actually prunes. */
  def queries(n: Int, seed: Long = 42L): Seq[RefQuery] = {
    (0 until n).map { qid =>
      val rnd = new java.util.SplittableRandom(mix64(seed ^ 0xC0FFEEL ^ qid.toLong))
      val nTerms = 2 + rnd.nextInt(3)
      val terms = (0 until nTerms).map { _ =>
        if (rnd.nextInt(4) == 0) keywords(zipfIndex(rnd, keywords.length))
        else poolWord(zipfIndex(rnd, poolSize)) // head-biased, tail present
      }
      RefQuery(qid, terms.mkString(" "))
    }
  }
}
