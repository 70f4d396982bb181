package graft.search

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.table.{Snapshot, SnapshotCatalog}

/** The OpenSearch `simple_query_string` query: a small, LENIENT query
  * language end users can type directly —
  *
  *  - `word`            term (analyzed; a camelCase word's split tokens
  *                      become an adjacent [[SpanNear]], the position
  *                      relationship the one identifier had in the doc)
  *  - `pre*`            prefix, expanded against the term dictionary
  *                      (the [[Wand.prefixTerms]] MultiTermQuery
  *                      rewrite, `maxExpansions`-capped ascending)
  *  - `word~N`          fuzzy term (the FUZZY default flag): expanded
  *                      against the term dictionary within N edits
  *                      ([[Wand.fuzzyTerms]], closest-first,
  *                      `maxExpansions`-capped; plain Levenshtein).
  *                      Bare `word~` = 2 edits; larger N clamps to 2
  *                      (Lucene's maximum); `~0` = the exact term
  *  - `"a phrase"`      phrase; `"a phrase"~2` sloppy phrase
  *  - `a | b`           OR;  `a + b` AND;  bare juxtaposition joins
  *                      with `defaultAnd` (the `default_operator` flag)
  *  - `-clause`         NOT (doc-level exclusion)
  *  - `( ... )`         grouping
  *
  * Precedence: `|` loosest, then `+`/juxtaposition, then unary `-`,
  * then atoms — the conventional reading (a documented simplification
  * of Lucene's strictly left-to-right SimpleQueryParser fold).
  *
  * Lenience contract (the defining property of this query in
  * OpenSearch — syntax errors NEVER fail the request): an unclosed
  * quote runs to end of input, a stray `)` is dropped, an empty group
  * contributes nothing, and a query with no scoring clause left
  * returns NO hits rather than throwing.
  *
  * Negation scope (Lucene SimpleQueryParser's MUST_NOT): a `-clause`
  * excludes at its enclosing boolean — inside an AND group it guards
  * that conjunction (`a + -b` = a AND NOT b); standing alone among
  * disjuncts it guards the whole disjunction (`a | -b` = a AND NOT b
  * too — the OpenSearch behavior where must_not applies regardless of
  * default_operator). A query that is ALL negation has no bounded
  * match set and parses to nothing.
  *
  * The parse rewrites onto the span algebra ([[SpanAnd]] /
  * [[SpanDocNot]] for the doc-level boolean shell, [[SpanNear]] /
  * [[SpanOr]] / [[SpanTerm]] for the leaves), so both engines evaluate
  * the SAME tree through [[Spans.spans]] and scores follow the span
  * family's one contract: BM25 summed over the tree's distinct scoring
  * terms (negated subtrees route but never score) — bit-identical
  * golden-vs-WAND by construction, ANSI-SQL-replayable by an oracle.
  *
  * Scale shape: parsing is driver-side over the (tiny) query strings;
  * prefix and fuzzy expansion are ONE dictionary pass each for all
  * queries' leaves; then one [[Wand.spanSearchSnapshot]] fan-out
  * evaluates every query.
  */
object SimpleQueryString {

  private sealed trait Tok
  private case object TAnd extends Tok
  private case object TOr extends Tok
  private case object TNot extends Tok
  private case object TOpen extends Tok
  private case object TClose extends Tok
  private final case class TPhrase(body: String, slop: Int) extends Tok
  /** `fuzzy` = −1: plain word; 0: `word~0` (degrades to the exact
    * term); 1–2: fuzzy with that many edits (`word~` alone = 2, and
    * larger requests clamp to 2, Lucene's maximum edit distance). */
  private final case class TWord(w: String, fuzzy: Int = -1) extends Tok

  /** Trailing-`~N` fuzzy suffix on a bare word (FUZZY is in
    * simple_query_string's default flags). Only a SUFFIX counts —
    * a '~' mid-word stays literal text. */
  private val FuzzySuffix = """^(.+?)~(\d*)$""".r

  private def lex(text: String): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    val n = text.length
    while (i < n) {
      val c = text.charAt(i)
      if (c.isWhitespace) i += 1
      else c match {
        case '+' => out += TAnd; i += 1
        case '|' => out += TOr; i += 1
        case '-' => out += TNot; i += 1
        case '(' => out += TOpen; i += 1
        case ')' => out += TClose; i += 1
        case '"' =>
          val close = text.indexOf('"', i + 1)
          val (body, after) =
            if (close < 0) (text.substring(i + 1), n) // lenient: run to end
            else (text.substring(i + 1, close), close + 1)
          var j = after
          var slop = 0
          if (j < n && text.charAt(j) == '~') {
            var k = j + 1
            var v = 0
            var any = false
            while (k < n && text.charAt(k).isDigit) {
              v = v * 10 + (text.charAt(k) - '0'); k += 1; any = true
            }
            if (any) { slop = v; j = k }
          }
          out += TPhrase(body, slop)
          i = j
        case _ =>
          var j = i
          while (j < n && !text.charAt(j).isWhitespace &&
            "+|()\"".indexOf(text.charAt(j)) < 0) j += 1
          out += (text.substring(i, j) match {
            case FuzzySuffix(base, digits) =>
              TWord(base, if (digits.isEmpty) 2 else math.min(digits.toInt, 2))
            case w => TWord(w)
          })
          i = j
      }
    }
    out.result()
  }

  /** One parsed clause: positive tree, or a negation of one. */
  private final case class Clause(q: Option[SpanQuery], negated: Boolean)

  /** Parse `text` into a span tree. `expand` resolves a lowercased
    * prefix to its dictionary terms; `fuzzyExpand` resolves an
    * (analyzed token, maxEdits) fuzzy leaf to its dictionary terms
    * (so parsing stays testable without an index). Returns None when
    * no scoring clause survives — the lenient no-hits outcome. */
  private[search] def parseWith(text: String, defaultAnd: Boolean,
                                expand: String => Array[String],
                                fuzzyExpand: (String, Int) => Array[String] =
                                  (_, _) => Array.empty[String],
                                analyze: String => Array[String] =
                                  graft.analyze.Tokenizer.tokenize): Option[SpanQuery] = {
    val toks = lex(text)
    var pos = 0

    def atom(): Option[Clause] = {
      if (pos >= toks.length) return None
      toks(pos) match {
        case TNot =>
          pos += 1
          atom().map(c => c.copy(negated = !c.negated))
        case TOpen =>
          pos += 1
          val inner = orExpr(top = false)
          if (pos < toks.length && toks(pos) == TClose) pos += 1 // else lenient
          inner.map(q => Clause(Some(q), negated = false))
            .orElse(Some(Clause(None, negated = false)))
        case TClose =>
          pos += 1 // stray ')': lenient drop
          atom()
        case TPhrase(body, slop) =>
          pos += 1
          val ts = analyze(body)
          Some(Clause(
            if (ts.isEmpty) None
            else if (ts.length == 1) Some(SpanTerm(ts(0)))
            else Some(SpanNear(ts.toSeq.map(SpanTerm), slop)), false))
        case TWord(w, fuzzy) =>
          pos += 1
          if (fuzzy < 0 && w.length > 1 && w.endsWith("*")) {
            val exp = expand(w.dropRight(1).toLowerCase(java.util.Locale.ROOT))
            // an empty expansion MATCHES NOTHING (an empty SpanOr), the
            // prefix-query contract — unlike an analyzed-away word,
            // which just disappears
            Some(Clause(Some(SpanOr(exp.toSeq.map(SpanTerm))), false))
          } else {
            val ts = analyze(w)
            // `word~N` rides the fuzzy MultiTermQuery rewrite
            // ([[Wand.fuzzyTerms]]) — each analyzed
            // token becomes the SpanOr of its dictionary expansions
            // (an exact hit rides along at distance 0; an empty
            // expansion matches nothing, the multi-term contract), and
            // a camelCase word's split tokens stay adjacent like the
            // plain-word case. `~0` degrades to the exact term.
            def leaf(t: String): SpanQuery =
              if (fuzzy >= 1) SpanOr(fuzzyExpand(t, fuzzy).toSeq.map(SpanTerm))
              else SpanTerm(t)
            Some(Clause(
              if (ts.isEmpty) None
              else if (ts.length == 1) Some(leaf(ts(0)))
              else Some(SpanNear(ts.toSeq.map(leaf), 0)), false))
          }
        case TAnd | TOr =>
          pos += 1 // dangling operator: lenient drop
          atom()
      }
    }

    // an AND group's positives (as one tree) plus its negatives, which
    // the ENCLOSING boolean hoists (Lucene SimpleQueryParser semantics:
    // `-` is a MUST_NOT on the enclosing boolean, so "a | -b" excludes
    // b-docs from the whole disjunction, not from a phantom disjunct)
    def andGroup(): (Option[SpanQuery], Vector[SpanQuery]) = {
      val pos0 = Vector.newBuilder[SpanQuery]
      val neg0 = Vector.newBuilder[SpanQuery]
      var continue = true
      var first = true
      while (continue && pos < toks.length && toks(pos) != TOr &&
        toks(pos) != TClose) {
        if (!first && toks(pos) == TAnd) pos += 1
        else if (!first && !defaultAnd) {
          // default operator OR: juxtaposition ends the AND group
          continue = false
        }
        if (continue) {
          atom() match {
            case Some(Clause(Some(q), neg)) => if (neg) neg0 += q else pos0 += q
            case Some(Clause(None, _))      => () // analyzed away
            case None                       => continue = false
          }
          first = false
        }
      }
      val ps = pos0.result()
      val ns = neg0.result()
      if (ps.isEmpty) (None, ns) // pure negation: hoist to the enclosing or
      else {
        val p = if (ps.length == 1) ps.head else SpanAnd(ps)
        (Some(
          if (ns.isEmpty) p
          else SpanDocNot(p, if (ns.length == 1) ns.head else SpanOr(ns))),
          Vector.empty)
      }
    }

    def orExpr(top: Boolean): Option[SpanQuery] = {
      val groups = Vector.newBuilder[SpanQuery]
      val negs = Vector.newBuilder[SpanQuery]
      var continue = true
      while (continue && pos < toks.length &&
        (toks(pos) != TClose || top)) {
        if (top && toks(pos) == TClose) pos += 1 // stray ')': lenient drop
        else {
          val (p, ns) = andGroup()
          p.foreach(groups += _)
          negs ++= ns
          if (pos < toks.length && toks(pos) == TOr) pos += 1
          else if (pos < toks.length && toks(pos) != TClose) {
            // defaultAnd=false lands here on juxtaposition: implicit OR
            if (defaultAnd) continue = false
          } else if (!top || pos >= toks.length) continue = false
        }
      }
      val gs = groups.result()
      val ns = negs.result()
      val positive =
        if (gs.isEmpty) None // pure negation (or nothing): unbounded, dropped
        else if (gs.length == 1) Some(gs.head)
        else Some(SpanOr(gs))
      positive.map { p =>
        if (ns.isEmpty) p
        else SpanDocNot(p, if (ns.length == 1) ns.head else SpanOr(ns))
      }
    }

    val parsed = orExpr(top = true)
    parsed.filter(q => Spans.scoringTerms(q).nonEmpty || hasPrefixLeaf(q))
  }

  /** An all-prefix query whose expansions are all empty has no scoring
    * terms but is still a VALID no-hit query (distinct from "nothing
    * parsed"); keep it so search returns cleanly empty. */
  private def hasPrefixLeaf(q: SpanQuery): Boolean = q match {
    case SpanOr(cs)           => cs.isEmpty || cs.exists(hasPrefixLeaf)
    case SpanAnd(cs)          => cs.exists(hasPrefixLeaf)
    case SpanNear(cs, _)      => cs.exists(hasPrefixLeaf)
    case SpanUnordered(cs, _) => cs.exists(hasPrefixLeaf)
    case SpanDocNot(i, _)     => hasPrefixLeaf(i)
    case SpanFirst(c, _)      => hasPrefixLeaf(c)
    case SpanNot(i, _, _, _)  => hasPrefixLeaf(i)
    case SpanContaining(b, _) => hasPrefixLeaf(b)
    case SpanWithin(_, l)     => hasPrefixLeaf(l)
    case SpanTerm(_)          => false
  }

  /** Parse against a snapshot's term dictionary (prefix and fuzzy leaves
    * expand in one dictionary pass each per call — several queries share
    * them via [[search]]). */
  def parse(spark: SparkSession, snap: Snapshot, text: String,
            defaultAnd: Boolean = false,
            maxExpansions: Int = 128): Option[SpanQuery] = {
    val az = Wand.analyzerOf(snap)
    Wand.requireWordChain(snap, "simple_query_string")
    val (pre, fuz) = resolvers(spark, snap, Seq(text), maxExpansions, az)
    parseWith(text, defaultAnd, pre, fuz, az.analyzeQuery)
  }

  /** All prefixes across `texts` expanded in ONE [[Wand.prefixTerms]]
    * pass and all fuzzy leaves in ONE [[Wand.fuzzyTerms]] pass keyed by
    * (word, edits), so `w~1` and `w~2` in one text each keep their own
    * cap — collects bounded by |keys| × maxExpansions. */
  private def resolvers(spark: SparkSession, snap: Snapshot,
                        texts: Seq[String], maxExpansions: Int,
                        az: graft.analyze.AnalyzerConfig)
      : (String => Array[String], (String, Int) => Array[String]) = {
    val toks = texts.flatMap(lex)
    val prefixes = toks.collect {
      case TWord(w, f) if f < 0 && w.length > 1 && w.endsWith("*") =>
        w.dropRight(1).toLowerCase(java.util.Locale.ROOT)
    }.distinct
    val fuzzyKeys: Seq[(String, Int)] = toks.collect {
      case TWord(w, f) if f >= 1 => az.analyzeQuery(w).toSeq.map(_ -> f)
    }.flatten.distinct
    require(maxExpansions > 0 || (prefixes.isEmpty && fuzzyKeys.isEmpty),
      s"maxExpansions must be positive: $maxExpansions")
    val byPrefix = Wand.prefixTerms(spark, snap, prefixes, maxExpansions)
    val byKey = Wand.fuzzyTerms(spark, snap, fuzzyKeys, 0, maxExpansions,
      transpositions = false)
    (p => byPrefix.getOrElse(p, Array.empty[String]),
     (t, e) => byKey.getOrElse((t, e), Array.empty[String]))
  }

  /** Run `queries` (query_id → simple_query_string text) as one span
    * fan-out. Queries that parse to nothing scoring simply contribute
    * no rows — lenient, never throws on user syntax.
    * @return (query_id int, rank int, doc_id string, score double) */
  def search(spark: SparkSession, dir: String, queries: Seq[(Int, String)],
             k: Int, defaultAnd: Boolean = false,
             maxExpansions: Int = 128,
             filter: Option[org.apache.spark.sql.Column] = None): DataFrame =
    searchSnapshot(spark, SnapshotCatalog.require(spark, dir), queries, k, defaultAnd,
      maxExpansions, filter)

  def searchSnapshot(spark: SparkSession, snap: Snapshot,
                     queries: Seq[(Int, String)], k: Int,
                     defaultAnd: Boolean = false,
                     maxExpansions: Int = 128,
                     filter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val az = Wand.analyzerOf(snap)
    Wand.requireWordChain(snap, "simple_query_string")
    val (pre, fuz) = resolvers(spark, snap, queries.map(_._2), maxExpansions, az)
    val parsed: Seq[(Int, SpanQuery)] = queries.flatMap { case (qid, text) =>
      parseWith(text, defaultAnd, pre, fuz, az.analyzeQuery)
        .filter(q => Spans.scoringTerms(q).nonEmpty) // all-empty-prefix → no rows
        .map(qid -> _)
    }
    if (parsed.isEmpty) {
      import spark.implicits._
      Seq.empty[(Int, Int, String, Double)]
        .toDF("query_id", "rank", "doc_id", "score")
    } else Wand.spanSearchSnapshot(spark, snap, parsed, k, filter)
  }
}
