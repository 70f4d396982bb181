package graft.search

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.table.Snapshot

/** The OpenSearch URI-search `q=` language (`query_string`-lite): the
  * full [[SimpleQueryString]] text grammar PLUS fielded clauses over
  * indexed metadata —
  *
  *  - `lang:en`            equality on a docmap column
  *  - `dl:[40 TO 200]`     inclusive range; `*` opens an end
  *  - `dl:{40 TO 200}`     exclusive range
  *
  * Fielded clauses are TOP-LEVEL CONJUNCTS: they compile to ONE
  * Catalyst predicate that rides [[Wand.spanSearchSnapshot]]'s filter
  * parameter (filter clauses never change scores — the bool-filter
  * contract), while the remaining text parses through
  * [[SimpleQueryString]] onto the span algebra. That is the documented
  * restriction vs Lucene's full query_string (where a field clause can
  * sit under any boolean operator): the URI-search common case —
  * "metadata pre-filter AND text query" — with the same lenient text
  * behavior, and loud rejection of fields outside `allowedFields`
  * (unmapped-field strictness; silently matching nothing would hide
  * typos, the skip-and-log discipline's query-side analog).
  *
  * Scale shape: the filter predicate is pushed into the engine's filter
  * runs (metadata filters ride the segment shuffle as synthetic posting
  * runs — never collected); parsing stays driver-side over the tiny
  * query strings.
  */
object QueryString {

  // the field alternative is anchored to a token boundary (start of
  // input, whitespace, '(' — or the structural operators '|' and '+',
  // which the value charset below excludes, so `a|lang:x` and `+lang:x`
  // still extract) so a colon INSIDE a token — `foo-b:c` — never turns
  // its tail into a fielded clause (and a loud unknown-field
  // rejection); and a value starting with `//` is a URL scheme
  // (`http://x`), not a field value. Both flow through to the lenient
  // sqs text core instead.
  private val Fielded = """(?<qs>"[^"]*")|(?<![^\s(|+])(?<neg>-?)(?<fc>[A-Za-z_][A-Za-z0-9_]*:(?:[\[\{][^\]\}]*[\]\}]|(?!//)[^\s()|+]+))""".r

  private val Range = """^([\[\{])\s*(\S+)\s+TO\s+(\S+)\s*([\]\}])$""".r

  /** Split `text` into (fielded Catalyst predicates, remaining sqs
    * text). Quoted phrases are opaque — a colon inside them is text.
    * A `-` immediately before a fielded clause NEGATES the predicate
    * (a must_not filter); the negation is null-safe: a doc MISSING the
    * field satisfies `-field:value` (it certainly doesn't carry the
    * value), the OpenSearch must_not-on-missing behavior. */
  private[search] def extract(text: String,
                              allowedFields: Set[String]): (Seq[Column], String) = {
    val preds = Seq.newBuilder[Column]
    val sb = new StringBuilder
    var last = 0
    for (m <- Fielded.findAllMatchIn(text)) {
      sb.append(text.substring(last, m.start))
      last = m.end
      if (m.group("qs") != null) sb.append(m.matched) // quoted phrase: keep
      else {
        val negated = m.group("neg") == "-"
        val fc = m.group("fc")
        val i = fc.indexOf(':')
        val field = fc.substring(0, i)
        val v = fc.substring(i + 1)
        require(allowedFields(field),
          s"query_string field '$field' is not a filterable field " +
            s"(allowed: ${allowedFields.toSeq.sorted.mkString(", ")})")
        val positive = v match {
          case Range(lo0, a, b, hi0) =>
            val c = col(field).cast("double")
            val loP =
              if (a == "*") lit(true)
              else if (lo0 == "[") c >= a.toDouble else c > a.toDouble
            val hiP =
              if (b == "*") lit(true)
              else if (hi0 == "]") c <= b.toDouble else c < b.toDouble
            loP && hiP
          case term =>
            col(field) === lit(term)
        }
        preds += (if (negated) !coalesce(positive, lit(false)) else positive)
      }
    }
    sb.append(text.substring(last))
    (preds.result(), sb.toString)
  }

  /** Run `queries` (query_id → query_string text). A query that is ALL
    * filter (no text left) is rejected loudly — an unbounded metadata
    * scan is not a ranked text query; a query whose TEXT parses to
    * nothing scoring contributes no rows (the sqs lenience).
    * @return (query_id int, rank int, doc_id string, score double) */
  def searchSnapshot(spark: SparkSession, snap: Snapshot,
                     queries: Seq[(Int, String)], k: Int,
                     allowedFields: Set[String],
                     defaultAnd: Boolean = false,
                     maxExpansions: Int = 128): DataFrame = {
    require(queries.nonEmpty, "query_string needs at least one query")
    // the filter column is per-QUERY: group queries by their (stringly
    // identical) predicate set so each group runs as one span fan-out
    val parsed: Seq[(Int, String, Seq[Column], String)] = queries.map {
      case (qid, text) =>
        val (preds, rest) = extract(text, allowedFields)
        require(rest.trim.nonEmpty,
          s"query_string $qid is all filter, no text: '$text'")
        (qid, preds.map(_.toString).sorted.mkString(" AND "), preds, rest)
    }
    val groups = parsed.groupBy(_._2).values.toSeq
    val outs = groups.map { g =>
      val filter = g.head._3.reduceOption(_ && _)
      SimpleQueryString.searchSnapshot(spark, snap,
        g.map(x => x._1 -> x._4), k, defaultAnd, maxExpansions,
        filter)
    }
    outs.reduce(_ unionByName _)
  }
}
