package graft.search

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.index.{Codec, SegBlock, SegRun}
import graft.corpus.RefQuery
import graft.table.{Snapshot, SnapshotCatalog, Tables}

/** Block-max WAND top-k retrieval over the compressed sharded index — the
  * "shadow cluster" of the comparison pair.
  *
  * Query plan (scale shape): the whole reference query set fans out once —
  * segments for the query terms are read with term-predicate pushdown
  * (segment files are written sorted by (shard, term), so parquet
  * row-group stats prune), grouped per shard, and every query runs
  * block-max WAND against each shard's local posting lists. Per-shard
  * top-k lists (S × Q × k rows — tiny) are then resolved to doc_ids via a
  * broadcast join against the docmap and merged with a per-query rank
  * window. No shuffle touches posting data; the only wide exchange moves
  * compressed segment rows for the ≤|query terms| terms.
  *
  * Pruning is lossless: block maxima are exact maxima of the same
  * double-precision per-term contributions the golden scorer computes, so
  * the top-k (with doc_id tie-breaks) is rank-identical to [[Golden]].
  */
object Wand {

  /** The snapshot's analysis chain, shared by every query path: query
    * text MUST be analyzed with the chain the index was built with
    * (stopwords removed, terms stemmed identically) or no custom-chain
    * index would ever match its own documents. Parsing the (tiny) spec
    * is driver-side and cheap; worker-side column expressions carry the
    * spec string instead ([[graft.analyze.AnalyzeChain]]). */
  private[graft] def analyzerOf(snap: Snapshot): graft.analyze.AnalyzerConfig =
    graft.analyze.AnalyzerConfig.parse(snap.analyzer)

  /** Above this many distinct query terms, term pruning switches from a
    * literal `isin` (InSet + parquet row-group stats pruning — measured
    * fine through the 4096-query bench battery) to a broadcast semi-join
    * on a term table: a 100k-query replay would otherwise carry a
    * multi-10k-literal In expression through every plan and its pushdown
    * evaluation cost outgrows the row-group pruning it buys. */
  private[search] val IsinMaxTerms = 16384

  /** Term-pruning filter over any (term, ...) DataFrame — see
    * [[IsinMaxTerms]] for the shape switch. */
  private[search] def termPruned(df: DataFrame, terms: Array[String]): DataFrame =
    if (terms.length <= IsinMaxTerms) df.filter(col("term").isin(terms.toSeq: _*))
    else {
      val spark = df.sparkSession
      import spark.implicits._
      df.join(broadcast(terms.toSeq.toDF("term")), Seq("term"), "left_semi")
    }

  /** Run the query set against the CURRENT snapshot of the index at `dir`.
    * @param conjunctive require EVERY query term in a hit (AND semantics);
    *                    default is BM25's usual OR
    * @param filter optional metadata predicate over docmap columns
    *               (repo, path, commit, lang, doc_id): hits come only from
    *               matching docs, SCORED WITH THE FULL-CORPUS STATS
    *               (Lucene filter-clause semantics — a filter restricts
    *               candidates, it never changes scores)
    * @param from skip the first `from` global ranks — OpenSearch
    *             from/size pagination: ranks (from, from + k] come back,
    *             with `rank` still the ABSOLUTE position. Cost grows with
    *             the page depth (every shard must fetch from + k
    *             candidates — the documented reason OpenSearch caps
    *             from + size at 10k), but results across pages are
    *             mutually consistent by construction: page p of a
    *             snapshot equals ranks (pk, pk+k] of the full ordering.
    * @return (query_id int, rank int, doc_id string, score double)
    */
  def search(spark: SparkSession, dir: String, queries: Seq[RefQuery], k: Int,
             conjunctive: Boolean = false,
             filter: Option[org.apache.spark.sql.Column] = None,
             from: Int = 0): DataFrame =
    searchSnapshot(spark, SnapshotCatalog.require(spark, dir), queries, k, conjunctive,
      filter, from)

  def searchSnapshot(spark: SparkSession, snap: Snapshot, queries: Seq[RefQuery],
                     k: Int, conjunctive: Boolean = false,
                     filter: Option[org.apache.spark.sql.Column] = None,
                     from: Int = 0): DataFrame =
    searchImpl(spark, snap, textPlans(snap, queries, conjunctive), k, filter, from)

  /** Each query text's analyzed terms as one OR plan (AND when
    * `conjunctive`). */
  private def textPlans(snap: Snapshot, queries: Seq[RefQuery],
                        conjunctive: Boolean): Map[Int, QueryPlan] =
    queries.map(q => q.query_id ->
      QueryPlan.terms(Golden.queryTerms(q.text, analyzerOf(snap)), conjunctive)).toMap

  /** OR plans over already-expanded per-query term sets. */
  private def orPlans(qTerms: Map[Int, Array[String]]): Map[Int, QueryPlan] =
    qTerms.map { case (q, ts) => q -> QueryPlan.terms(ts) }

  /** The OpenSearch `exists` query, in this engine's filter algebra: the
    * metadata `filter` Column evaluates against docmap columns, so field
    * existence is non-null-ness of the indexed metadata column. A row
    * with a null optional field (e.g. `lang`) is indexed normally —
    * [[graft.index.IndexBuilder.isBadRow]] requires only the identity
    * fields and content — exactly a document missing a field in
    * OpenSearch. Compose freely with other filter predicates; scores
    * keep full-corpus stats (filter-clause semantics). */
  def fieldExists(field: String): org.apache.spark.sql.Column =
    col(field).isNotNull

  /** `must_not: exists` — the classic "missing"-field filter. */
  def fieldMissing(field: String): org.apache.spark.sql.Column =
    col(field).isNull

  /** Boosted top-k — the Lucene/OpenSearch `term^boost` caret operator:
    * each query word may carry a trailing `^<weight>`; a term's
    * contribution (and every WAND pruning bound with it) is scaled by
    * its weight, so relative term importance is query-tunable without
    * touching the index. Parsing is [[Golden.queryTermsBoosted]]
    * (duplicate terms keep the max boost, `w^1` ≡ `w`); scores are
    * bit-identical to [[Golden.topKBoosted]] over the same parse — the
    * cursor's idf is pre-multiplied by the boost, the identical
    * (idf × boost) × tfNorm association both engines use. Composes with
    * `conjunctive`, `filter`, and `from` exactly like [[search]]. */
  def boostedSearchSnapshot(spark: SparkSession, snap: Snapshot,
                            queries: Seq[RefQuery], k: Int,
                            conjunctive: Boolean = false,
                            filter: Option[org.apache.spark.sql.Column] = None,
                            from: Int = 0): DataFrame = {
    val plans = queries.map { q =>
      val ts = Golden.queryTermsBoosted(q.text, analyzerOf(snap))
      q.query_id -> QueryPlan.terms(ts.map(_._1), conjunctive, ts.toMap)
    }.toMap
    searchImpl(spark, snap, plans, k, filter, from)
  }

  /** Cursor-based deep pagination — the OpenSearch `search_after` (+ PIT
    * `_shard_doc` tiebreaker) contract, the scale-correct alternative to
    * [[search]]'s from/size: page depth costs NOTHING extra. Every page
    * each shard keeps a heap of exactly k (from/size needs from + k), so
    * page 1000 of a 10^12-doc index does the same work as page 1.
    *
    * Hits order by (score desc, shard asc, ord asc) — score ties break by
    * the index-internal `_shard_doc` key, NOT doc_id, because that is the
    * only tie order a shard can evaluate LOCALLY (the whole point of
    * search_after: the "ranks after the cursor" predicate must prune at
    * the shard with no global merge of pre-cursor hits). Exactly
    * OpenSearch's documented PIT discipline. Page consistency therefore
    * holds within one snapshot: pin the snapshot with
    * [[SnapshotCatalog.load]] / [[searchAt]]'s id while paging.
    *
    * @param after per-query cursor: the (score, shard, ord) of the LAST
    *              hit of the previous page, verbatim from this method's
    *              own output columns. Queries absent from the map get
    *              page 1.
    * @return (query_id int, rank int [PAGE-relative 1..k], doc_id string,
    *         score double, shard int, ord long) — feed the last row's
    *         (score, shard, ord) back as the next page's cursor. */
  def searchAfterSnapshot(spark: SparkSession, snap: Snapshot, queries: Seq[RefQuery],
                          k: Int, after: Map[Int, (Double, Int, Long)] = Map.empty,
                          conjunctive: Boolean = false,
                          filter: Option[org.apache.spark.sql.Column] = None): DataFrame =
    searchImpl(spark, snap,
      textPlans(snap, queries, conjunctive).map { case (q, p) => q -> p.copy(after = after.get(q)) },
      k, filter, shardDocOrder = true)

  /** Field-sorted retrieval — the OpenSearch `sort` clause: top-k of each
    * query's FULL match set ordered by a docmap metadata column instead
    * of relevance (`repo`, `path`, `commit`, `lang`, `dl`), doc_id
    * ascending on ties. OR mode matches docs containing at least one
    * query term, conjunctive mode all of them; scores are not computed
    * (OpenSearch sets `_score: null` under sort — same here, the column
    * is simply absent).
    *
    * Scale shape: the match set moves as slim (query_id, shard, ord)
    * triples (posting decode fans out explicitly, tombstones subtracted
    * during decode), the sort key is attached by ONE equi-join against
    * the docmap on its native (shard, ord) key, and a per-(query, shard)
    * top-k prunes to S·Q·k rows BEFORE the global per-query top-k window
    * — the full match set is never globally sorted.
    *
    * @return (query_id int, rank int, doc_id string, sort_key) —
    *         sort_key has the docmap column's own type. */
  def sortedSearchSnapshot(spark: SparkSession, snap: Snapshot, queries: Seq[RefQuery],
                           k: Int, sortCol: String, ascending: Boolean = true,
                           conjunctive: Boolean = false): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val matched = withDocmap(spark, snap, matchedOrds(spark, snap, queries, conjunctive),
      col("doc_id"), col(sortCol).as("sort_key"))
    topKPerQuery(matched, k, Seq("query_id"),
        if (ascending) col("sort_key").asc else col("sort_key").desc)
      .select(col("query_id"), col("rank"), col("doc_id"), col("sort_key"))
  }

  /** Multi-index top-k — the OpenSearch `GET idx1,idx2/_search`
    * index-pattern contract, the production shape for time-sliced
    * indexes (one index per day/partition, queried together). Each index
    * scores with ITS OWN corpus statistics (N, avgdl, df — OpenSearch's
    * default query_then_fetch: no cross-index df merge), so a hit's
    * score is identical to what the single-index [[search]] gives it;
    * per-index top-k lists then merge under (score desc, index asc,
    * doc_id asc). The same doc identity indexed in two indexes is two
    * hits — exactly OpenSearch.
    *
    * Scale shape: the merge input is |dirs| × Q × k already-ranked rows
    * (driver-small by construction); all heavy work stays inside the
    * per-index fan-outs, which Spark schedules as independent jobs.
    *
    * @return (query_id int, rank int, index string [the dir], doc_id
    *         string, score double) */
  def searchIndexes(spark: SparkSession, dirs: Seq[String], queries: Seq[RefQuery],
                    k: Int, conjunctive: Boolean = false,
                    filter: Option[org.apache.spark.sql.Column] = None,
                    boosts: Map[String, Double] = Map.empty): DataFrame = {
    require(dirs.nonEmpty, "need at least one index dir")
    require(dirs.distinct.size == dirs.size, s"duplicate index dirs: $dirs")
    // indices_boost (the OpenSearch per-index boost): a constant positive
    // multiplier per index, applied AFTER each index's own top-k — exact,
    // because a positive constant never reorders within its index; only
    // the cross-index merge order changes, which is the clause's purpose
    require(boosts.keySet.forall(dirs.contains),
      s"indices_boost names unknown dirs: ${boosts.keySet.filterNot(dirs.contains)}")
    require(boosts.values.forall(b => b > 0.0 && !b.isInfinite),
      s"indices_boost factors must be positive finite: $boosts")
    val per = dirs.map { d =>
      val b = boosts.getOrElse(d, 1.0)
      val hits = search(spark, d, queries, k, conjunctive, filter)
        .withColumn("index", lit(d))
      if (b == 1.0) hits
      else hits.withColumn("score", col("score") * lit(b))
    }.reduce(_ unionByName _)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("index").asc, col("doc_id").asc)
    per.drop("rank").withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("index"), col("doc_id"), col("score"))
  }

  /** Top-k through an ALIAS ([[graft.table.Aliases]]) — the OpenSearch
    * read-alias contract: the alias resolves to its current target dirs
    * at call time and routes through [[searchIndexes]] (a single-target
    * alias is the degenerate one-index case; the output shape — with the
    * `index` column naming the concrete dir each hit came from — is the
    * same either way, exactly like hits' `_index` under an alias).
    * Resolution races with [[graft.table.Aliases.set]] are safe by the
    * atomic-flip discipline: a reader sees the old target list or the
    * new one, never a torn mix. */
  def searchAlias(spark: SparkSession, root: String, alias: String,
                  queries: Seq[RefQuery], k: Int,
                  conjunctive: Boolean = false,
                  filter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val targets = graft.table.Aliases.resolve(spark, root, alias).getOrElse(
      throw new IllegalStateException(s"no such alias under $root: $alias"))
    searchIndexes(spark, targets, queries, k, conjunctive, filter)
  }

  /** Boolean (`must`/`should`/`must_not`) top-k against the CURRENT
    * snapshot — Lucene `bool`-query semantics over the compressed index
    * (see [[BoolQuery]]), including per-query `minimum_should_match`
    * ([[BoolQuery.minShouldMatch]]: a hit must match at least that many
    * `should` terms; the quota filters, never re-scores, and the WAND
    * pruning bounds stay lossless because dropping candidates only
    * shrinks the result set); rank- and score-identical to
    * [[Golden.booleanTopK]]. `filter` composes (a hit must also satisfy
    * the metadata predicate, scores unchanged). */
  def booleanSearch(spark: SparkSession, dir: String, queries: Seq[BoolQuery], k: Int,
                    filter: Option[org.apache.spark.sql.Column] = None): DataFrame =
    booleanSearchSnapshot(spark, SnapshotCatalog.require(spark, dir), queries, k, filter)

  def booleanSearchSnapshot(spark: SparkSession, snap: Snapshot,
                            queries: Seq[BoolQuery], k: Int,
                            filter: Option[org.apache.spark.sql.Column] = None): DataFrame =
    searchImpl(spark, snap, queries.map(q => q.query_id -> QueryPlan.bool(q)).toMap, k, filter)

  /** Prefix (wildcard) top-k: every `*`-suffixed word in a query's text
    * is expanded against the committed TERM DICTIONARY (termstats — the
    * Lucene MultiTermQuery discipline) into its matching terms, capped at
    * `maxExpansions` per prefix in ascending term order (deterministic
    * first-N, like Lucene's rewrite cap); bare words go through the usual
    * analyzer. The expanded query runs as a plain OR query, so scores
    * stay bit-identical to [[Golden.topKTerms]] over the same expansion
    * ([[expandQueries]] is shared by both engines). */
  def prefixSearch(spark: SparkSession, dir: String, queries: Seq[RefQuery], k: Int,
                   maxExpansions: Int = 1024,
                   filter: Option[org.apache.spark.sql.Column] = None): DataFrame =
    prefixSearchSnapshot(spark, SnapshotCatalog.require(spark, dir), queries, k,
      maxExpansions, filter)

  def prefixSearchSnapshot(spark: SparkSession, snap: Snapshot,
                           queries: Seq[RefQuery], k: Int,
                           maxExpansions: Int = 1024,
                           filter: Option[org.apache.spark.sql.Column] = None): DataFrame =
    searchImpl(spark, snap, orPlans(expandQueries(spark, snap, queries, maxExpansions)),
      k, filter)

  /** match_bool_prefix (the OpenSearch query of the same name): the
    * analyzed text's LAST token matches as a prefix, every earlier
    * token as a regular term — "search-as-you-type" semantics, a bool
    * of term shoulds plus one trailing prefix clause. In this engine
    * that is exactly [[prefixSearch]] over a rewritten query whose
    * final token carries the `*` suffix: the prefix clause expands
    * against the term dictionary (capped at `maxExpansions`, ascending
    * — the shared MultiTermQuery rewrite) and the whole query runs as
    * one OR query, scores bit-identical to the golden twin over the
    * same expansion. The last token is positional (the analyzer's raw
    * emission order, not the sorted term set): "spark qu" prefixes
    * `qu`, not whichever term sorts last. A text that analyzes to zero
    * tokens is rejected loudly — skip-and-log belongs to the caller's
    * ingest path, not a query API. */
  def matchBoolPrefixSnapshot(spark: SparkSession, snap: Snapshot,
                              queries: Seq[RefQuery], k: Int,
                              maxExpansions: Int = 1024,
                              filter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val rewritten = queries.map { q =>
      val ts = analyzerOf(snap).analyzeQuery(q.text)
      require(ts.nonEmpty,
        s"match_bool_prefix query ${q.query_id} analyzes to zero tokens")
      q.copy(text = (ts.init :+ (ts.last + "*")).mkString(" "))
    }
    prefixSearchSnapshot(spark, snap, rewritten, k, maxExpansions, filter)
  }

  /** Regexp retrieval (the OpenSearch `regexp` query): each query's text
    * is ONE regular expression, FULLY ANCHORED per the Lucene contract
    * (the pattern must match the entire term), expanded against the
    * committed term dictionary and run as a plain OR query over the
    * expansion — the same MultiTermQuery-rewrite discipline as
    * [[prefixSearch]], so scores stay bit-identical to
    * [[Golden.topKTerms]] over the same expansion. A pattern matching no
    * dictionary term contributes no terms (its query returns no rows).
    *
    * All patterns expand in ONE [[rankedTerms]] pass under a non-foldable
    * RLIKE, capped at `maxExpansions` in ascending term order.
    * Patterns are compiled on the driver first (fail fast on syntax);
    * the supported dialect is the Java/RE2 common core — alternation,
    * classes, quantifiers, no lookaround — which keeps the expansion
    * reproducible by the SQL oracle's RE2 engine. */
  def regexpSearchSnapshot(spark: SparkSession, snap: Snapshot,
                           queries: Seq[RefQuery], k: Int,
                           maxExpansions: Int = 1024,
                           filter: Option[org.apache.spark.sql.Column] = None): DataFrame =
    searchImpl(spark, snap,
      orPlans(regexpExpandQueries(spark, snap, queries, maxExpansions)), k, filter)

  /** Per-query anchored-regexp expansion against the snapshot's term
    * dictionary — the shared engine of [[regexpSearchSnapshot]] and its golden
    * twin. See [[regexpSearchSnapshot]] for the contract. */
  def regexpExpandQueries(spark: SparkSession, snap: Snapshot,
                          queries: Seq[RefQuery],
                          maxExpansions: Int = 1024): Map[Int, Array[String]] = {
    import spark.implicits._
    require(maxExpansions > 0, s"maxExpansions must be positive: $maxExpansions")
    // driver-side compile: reject bad syntax before any job runs
    queries.foreach(q => java.util.regex.Pattern.compile(q.text.trim))
    val pats = queries.map(q => (q.query_id, "^(?:" + q.text.trim + ")$"))
    val expanded = groupTerms(
      rankedTerms(spark, snap, pats.toDF("query_id", "pat"), Seq("query_id"),
        expr("term rlike pat"), Seq(col("term")), maxExpansions)
        .select("query_id", "term").as[(Int, String)].collect())
    queries.map(q =>
      q.query_id -> expanded.getOrElse(q.query_id, Array.empty[String])).toMap
  }

  /** Wildcard retrieval (the OpenSearch `wildcard` query): each query's
    * text is ONE glob pattern — `*` matches any character sequence
    * (including empty), `?` matches exactly one character, `\x` escapes a
    * metacharacter — matched against ENTIRE dictionary terms (the Lucene
    * WildcardQuery contract; unlike [[prefixSearch]] the `*`/`?` may sit
    * anywhere in the pattern). Implemented as a pure translation to an
    * anchored regexp ([[wildcardToRegex]]) over the shared
    * MultiTermQuery-rewrite path of [[regexpSearchSnapshot]], so expansion
    * capping, scoring, and golden bit-identity all come for free — and
    * the SQL oracle replays the identical translation because
    * [[wildcardToRegex]] emits the RE2/Java common core only. */
  def wildcardSearchSnapshot(spark: SparkSession, snap: Snapshot,
                             queries: Seq[RefQuery], k: Int,
                             maxExpansions: Int = 1024,
                             filter: Option[org.apache.spark.sql.Column] = None): DataFrame =
    regexpSearchSnapshot(spark, snap,
      queries.map(q => q.copy(text = wildcardToRegex(q.text.trim))),
      k, maxExpansions, filter)

  /** Translate a Lucene wildcard pattern to the equivalent regexp:
    * `*` → `.*`, `?` → `.`, `\c` → literal `c`; every other character is
    * matched literally (non-alphanumerics are backslash-escaped, which
    * both java.util.regex and RE2 accept, keeping the translation
    * replayable by the DuckDB oracle). A trailing bare `\` escapes
    * nothing and is taken literally. Pure and deterministic — shared by
    * the engine, the golden twin, and the SQL-oracle builder. */
  def wildcardToRegex(pattern: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < pattern.length) {
      pattern.charAt(i) match {
        case '*' => sb.append(".*")
        case '?' => sb.append('.')
        case '\\' if i + 1 < pattern.length =>
          i += 1; appendLiteral(sb, pattern.charAt(i))
        case c => appendLiteral(sb, c)
      }
      i += 1
    }
    sb.toString
  }

  private def appendLiteral(sb: StringBuilder, c: Char): Unit = {
    if (!Character.isLetterOrDigit(c)) sb.append('\\')
    sb.append(c): Unit
  }

  /** Fuzzy top-k: every `~`-suffixed word in a query's text is expanded
    * against the committed TERM DICTIONARY into the dictionary terms
    * within `maxEdits` edit distance, capped at `maxExpansions` per word
    * in ascending (distance, term) order; bare words go through the usual
    * analyzer. The expanded query runs as a plain OR query, so scores
    * stay bit-identical to [[Golden.topKTerms]] over the same expansion
    * ([[fuzzyExpandQueries]] is shared by both engines) — the same
    * MultiTermQuery-rewrite discipline as [[prefixSearch]].
    *
    * `transpositions` picks the metric (both ANSI-SQL-reproducible):
    * false (default) is plain Levenshtein — insert/delete/substitute,
    * a transposition costs 2 (DuckDB `levenshtein`); true is the Lucene
    * FuzzyQuery DEFAULT shape — adjacent transpositions cost 1, the
    * unrestricted Damerau–Levenshtein metric DuckDB's
    * `damerau_levenshtein` computes.
    *
    * `prefixLength` (Lucene FuzzyQuery's prefix_length) requires
    * candidates to share the word's first N characters — the standard
    * lever that keeps a dictionary-scale expansion cheap. */
  def fuzzySearch(spark: SparkSession, dir: String, queries: Seq[RefQuery], k: Int,
                  maxEdits: Int = 2, prefixLength: Int = 0,
                  maxExpansions: Int = 50,
                  filter: Option[org.apache.spark.sql.Column] = None,
                  transpositions: Boolean = false): DataFrame =
    fuzzySearchSnapshot(spark, SnapshotCatalog.require(spark, dir), queries, k, maxEdits,
      prefixLength, maxExpansions, filter, transpositions)

  def fuzzySearchSnapshot(spark: SparkSession, snap: Snapshot,
                          queries: Seq[RefQuery], k: Int,
                          maxEdits: Int = 2, prefixLength: Int = 0,
                          maxExpansions: Int = 50,
                          filter: Option[org.apache.spark.sql.Column] = None,
                          transpositions: Boolean = false): DataFrame =
    searchImpl(spark, snap,
      orPlans(fuzzyExpandQueries(spark, snap, queries, maxEdits, prefixLength,
        maxExpansions, transpositions)),
      k, filter)

  /** Plain Levenshtein distance with an Ukkonen row-minimum cutoff:
    * returns the exact distance when ≤ `bound`, else `bound + 1`. Matches
    * the ANSI/DuckDB `levenshtein` exactly (transpositions count 2), which
    * keeps the fuzzy expansion independently checkable by the SQL oracle;
    * Lucene's default transpositions=true metric is
    * [[boundedDamerauLevenshtein]], behind the `transpositions` flag. */
  private[search] def boundedLevenshtein(a: String, b: String, bound: Int): Int = {
    if (a == b) return 0
    val la = a.length
    val lb = b.length
    if (math.abs(la - lb) > bound) return bound + 1
    var prev = Array.tabulate(lb + 1)(identity)
    var cur = new Array[Int](lb + 1)
    var i = 1
    while (i <= la) {
      cur(0) = i
      var rowMin = i
      var j = 1
      while (j <= lb) {
        val cost = if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1
        var best = prev(j - 1) + cost
        if (prev(j) + 1 < best) best = prev(j) + 1
        if (cur(j - 1) + 1 < best) best = cur(j - 1) + 1
        cur(j) = best
        if (best < rowMin) rowMin = best
        j += 1
      }
      if (rowMin > bound) return bound + 1
      val t = prev; prev = cur; cur = t
      i += 1
    }
    if (prev(lb) > bound) bound + 1 else prev(lb)
  }

  /** UNRESTRICTED Damerau–Levenshtein distance (Lowrance–Wagner: unit-cost
    * insert/delete/substitute/adjacent-transposition, and — unlike the
    * restricted "optimal string alignment" variant — a transposed pair may
    * be edited again, so d("CA","ABC") = 2). This is exactly the metric
    * DuckDB's `damerau_levenshtein` computes (verified on a reference
    * battery, pinned in EngineSpec), which keeps the transpositions=true
    * fuzzy expansion independently checkable by the SQL oracle — the same
    * discipline [[boundedLevenshtein]] follows for the plain metric.
    * Returns the exact distance when ≤ `bound`, else `bound + 1`; the full
    * DP runs (the transposition back-reference defeats the Ukkonen
    * row-minimum cutoff), which is fine at dictionary-term lengths —
    * callers band candidates by length before any distance is computed. */
  private[search] def boundedDamerauLevenshtein(a: String, b: String, bound: Int): Int = {
    if (a == b) return 0
    val la = a.length
    val lb = b.length
    if (math.abs(la - lb) > bound) return bound + 1
    if (la == 0) return math.min(lb, bound + 1)
    if (lb == 0) return math.min(la, bound + 1)
    val inf = la + lb
    // d is offset by 1: d(i+1)(j+1) covers prefixes a[0,i) × b[0,j)
    val d = Array.ofDim[Int](la + 2, lb + 2)
    d(0)(0) = inf
    var i = 0
    while (i <= la) { d(i + 1)(1) = i; d(i + 1)(0) = inf; i += 1 }
    var j = 0
    while (j <= lb) { d(1)(j + 1) = j; d(0)(j + 1) = inf; j += 1 }
    // last row in which each character of `a` appeared
    val da = new java.util.HashMap[Character, Integer]()
    i = 1
    while (i <= la) {
      var db = 0
      j = 1
      while (j <= lb) {
        val i1: Int = { val v = da.get(b.charAt(j - 1)); if (v == null) 0 else v }
        val j1 = db
        val cost = if (a.charAt(i - 1) == b.charAt(j - 1)) { db = j; 0 } else 1
        var best = d(i)(j) + cost                       // substitution / match
        if (d(i + 1)(j) + 1 < best) best = d(i + 1)(j) + 1 // insertion
        if (d(i)(j + 1) + 1 < best) best = d(i)(j + 1) + 1 // deletion
        val tr = d(i1)(j1) + (i - i1 - 1) + 1 + (j - j1 - 1) // transposition
        if (tr < best) best = tr
        d(i + 1)(j + 1) = best
        j += 1
      }
      da.put(a.charAt(i - 1), i)
      i += 1
    }
    val res = d(la + 1)(lb + 1)
    if (res > bound) bound + 1 else res
  }

  /** Rewrite queries (fuzzy/prefix expansion, simple_query_string /
    * query_string) analyze query WORDS independently, which is
    * undefined over a shingle chain: one word can never form a
    * word-gram, so every literal would silently analyze away and a
    * two-word query would return nothing while [[searchSnapshot]]
    * matches its bigram. Reject loudly instead of returning a silent
    * empty result — the same stance OpenSearch takes by not offering
    * fuzzy/wildcard over gram subfields. (edge_ngram chains are fine:
    * the query chain strips them, so per-word ≡ whole-text analysis.) */
  private[search] def requireWordChain(snap: Snapshot, what: String): Unit =
    require(analyzerOf(snap).shingles.isEmpty,
      s"$what is undefined over a shingle analysis chain " +
        s"('${snap.analyzer}'): word-gram terms have no per-word analysis — " +
        "query the index with match/phrase search instead")

  /** The one MultiTermQuery rewrite (prefix, phrase_prefix, regexp,
    * fuzzy, match `fuzziness`, both suggesters, simple_query_string): the
    * query-scale `keys` are BROADCAST against the termstats `(term, df)`
    * scan under `matches`, `survivors` filters the joined rows, and a
    * `rank` window per `by` key, ordered by `order` (ending in `term asc`
    * — deterministic first-N), cuts each key at `cap`: any collect is
    * bounded by |keys| × cap whatever the dictionary size. */
  private def rankedTerms(spark: SparkSession, snap: Snapshot, keys: DataFrame,
                          by: Seq[String], matches: Column, order: Seq[Column], cap: Int,
                          survivors: DataFrame => DataFrame = identity): DataFrame = {
    val w = Window.partitionBy(by.map(col): _*).orderBy(order: _*)
    survivors(Tables.termstats(spark, snap.termstatsDir).select("term", "df")
        .join(broadcast(keys), matches))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= cap)
  }

  /** `(key, term)` rows as key → its distinct terms, ascending. */
  private def groupTerms[K](rows: Array[(K, String)]): Map[K, Array[String]] =
    rows.groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).distinct.sorted }

  /** Prefix → its first `cap` dictionary extensions in term order. */
  private[search] def prefixTerms(spark: SparkSession, snap: Snapshot,
                                  prefixes: Seq[String], cap: Int): Map[String, Array[String]] = {
    import spark.implicits._
    if (prefixes.isEmpty) Map.empty
    else groupTerms(
      rankedTerms(spark, snap, prefixes.distinct.toDF("prefix"), Seq("prefix"),
        col("term").startsWith(col("prefix")), Seq(col("term")), cap)
        .select("prefix", "term").as[(String, String)].collect())
  }

  /** The edit-distance rule over [[rankedTerms]], keyed by `(word, edits)`:
    * the join keeps the length band |len(term) − len(word)| ≤ edits and
    * the shared `prefixLength`-char prefix; the bounded distance (Damerau
    * if `transpositions`) runs on band survivors only, bounded by the
    * largest budget (exact at or below it), keeping minDist ≤ dist ≤ edits
    * ranked `dist asc` then `tieBreak`.
    * @return (term, df, word, edits, dist, rank) */
  private def editCandidates(spark: SparkSession, snap: Snapshot, keys: Seq[(String, Int)],
                             prefixLength: Int, transpositions: Boolean, minDist: Int,
                             cap: Int, tieBreak: Seq[Column]): DataFrame = {
    import spark.implicits._
    val bound = keys.map(_._2).max
    val distU = udf((t: String, w: String) =>
      if (transpositions) boundedDamerauLevenshtein(t, w, bound)
      else boundedLevenshtein(t, w, bound))
    val band = length(col("term"))
      .between(length(col("word")) - col("edits"), length(col("word")) + col("edits"))
    val cond =
      if (prefixLength <= 0) band
      else band && substring(col("term"), 1, prefixLength) ===
        substring(col("word"), 1, prefixLength)
    rankedTerms(spark, snap, keys.distinct.toDF("word", "edits"), Seq("word", "edits"),
      cond, col("dist").asc +: tieBreak, cap,
      _.withColumn("dist", distU(col("term"), col("word")))
        .filter(col("dist") >= minDist && col("dist") <= col("edits")))
  }

  /** `(word, edits)` → the `cap` closest terms within `edits` (distance
    * asc, term asc; an exact hit rides along at distance 0). */
  private[search] def fuzzyTerms(spark: SparkSession, snap: Snapshot, keys: Seq[(String, Int)],
                                 prefixLength: Int, cap: Int, transpositions: Boolean)
      : Map[(String, Int), Array[String]] = {
    import spark.implicits._
    if (keys.isEmpty) Map.empty
    else groupTerms(
      editCandidates(spark, snap, keys, prefixLength, transpositions, 0, cap,
        Seq(col("term").asc))
        .select("word", "edits", "term").as[(String, Int, String)].collect()
        .map { case (w, e, t) => ((w, e), t) })
  }

  /** Per-query terms of whitespace-split texts: a word ending in `marker`
    * is a key (lowercased like the analyzer, marker dropped) rewritten by
    * ONE `expand` call for the whole query set; other words analyze. */
  private def expandMarked(snap: Snapshot, queries: Seq[RefQuery], marker: String)(
      expand: Seq[String] => Map[String, Array[String]]): Map[Int, Array[String]] = {
    val parsed: Seq[(Int, Array[String], Array[String])] = queries.map { q =>
      val ws = q.text.trim.split("\\s+").filter(_.nonEmpty)
      val (mw, lw) = ws.partition(w => w.length > 1 && w.endsWith(marker))
      (q.query_id,
        lw.flatMap(analyzerOf(snap).analyzeQuery),
        mw.map(w => w.dropRight(1).toLowerCase(java.util.Locale.ROOT)))
    }
    val byKey = expand(parsed.flatMap(_._3).distinct)
    parsed.map { case (qid, lits, ks) =>
      qid -> (lits ++ ks.flatMap(k => byKey.getOrElse(k, Array.empty[String])))
        .distinct.sorted
    }.toMap
  }

  /** Per-query analyzed terms with `~`-suffix fuzzy expansion: ALL fuzzy
    * words of the query set expand in ONE [[fuzzyTerms]] pass at
    * `maxEdits`. (Lucene walks a Levenshtein automaton over its in-memory
    * FST and keeps the highest-df expansions; a pruned distributed scan
    * with a closest-first cap is the Spark-native equivalent.) */
  def fuzzyExpandQueries(spark: SparkSession, snap: Snapshot, queries: Seq[RefQuery],
                         maxEdits: Int = 2, prefixLength: Int = 0,
                         maxExpansions: Int = 50,
                         transpositions: Boolean = false): Map[Int, Array[String]] = {
    require(maxEdits >= 0 && maxEdits <= 8, s"maxEdits must be in [0, 8]: $maxEdits")
    require(prefixLength >= 0, s"prefixLength must be >= 0: $prefixLength")
    requireWordChain(snap, "fuzzy expansion")
    require(maxExpansions > 0, s"maxExpansions must be positive: $maxExpansions")
    expandMarked(snap, queries, "~") { words =>
      fuzzyTerms(spark, snap, words.map(_ -> maxEdits), prefixLength, maxExpansions,
        transpositions).map { case ((w, _), ts) => w -> ts }
    }
  }

  /** Lucene `Fuzziness.AUTO` edit budget: 0 edits under 3 chars, 1 for
    * 3–5, 2 from 6 up (the AUTO:3,6 default). */
  def autoFuzzyEdits(word: String): Int =
    if (word.length < 3) 0 else if (word.length <= 5) 1 else 2

  /** match-query `fuzziness` expansion (the OpenSearch
    * `match: {query: ..., fuzziness: AUTO}` shape): EVERY analyzed term
    * of each query gets its own per-word edit budget — [[autoFuzzyEdits]]
    * for "AUTO", a flat 0–2 for "0"/"1"/"2" — and all budget>0 words
    * expand against the committed term dictionary in ONE [[fuzzyTerms]]
    * pass keyed by (word, budget). Budget-0 words pass through as exact
    * terms. `transpositions` defaults TRUE here — the Lucene match-query
    * default metric (Damerau, adjacent swap = 1 edit). */
  def matchFuzzyExpandQueries(spark: SparkSession, snap: Snapshot,
                              queries: Seq[RefQuery],
                              fuzziness: String = "AUTO",
                              prefixLength: Int = 0,
                              maxExpansions: Int = 50,
                              transpositions: Boolean = true): Map[Int, Array[String]] = {
    require(prefixLength >= 0, s"prefixLength must be >= 0: $prefixLength")
    require(maxExpansions > 0, s"maxExpansions must be positive: $maxExpansions")
    requireWordChain(snap, "match fuzziness")
    val budget: String => Int = fuzziness match {
      case "AUTO" => autoFuzzyEdits
      case "0" | "1" | "2" => val e = fuzziness.toInt; _ => e
      case other => throw new IllegalArgumentException(
        s"fuzziness must be AUTO or 0/1/2: '$other'")
    }
    val parsed = queries.map(q =>
      q.query_id -> analyzerOf(snap).analyzeQuery(q.text).distinct.map(t => (t, budget(t))))
    val byKey = fuzzyTerms(spark, snap, parsed.flatMap(_._2).filter(_._2 > 0),
      prefixLength, maxExpansions, transpositions)
    parsed.map { case (qid, ws) =>
      qid -> ws.flatMap { case (t, e) =>
        if (e == 0) Array(t) else byKey.getOrElse((t, e), Array.empty[String])
      }.distinct.sorted
    }.toMap
  }

  /** match query with `fuzziness`: [[matchFuzzyExpandQueries]] then the
    * plain OR engine over the expansion — scores stay bit-identical to
    * [[Golden.topKTerms]] over the same expanded term sets, the same
    * rewrite discipline as [[fuzzySearchSnapshot]]. */
  def matchFuzzySearchSnapshot(spark: SparkSession, snap: Snapshot,
                               queries: Seq[RefQuery], k: Int,
                               fuzziness: String = "AUTO",
                               prefixLength: Int = 0,
                               maxExpansions: Int = 50,
                               transpositions: Boolean = true,
                               filter: Option[org.apache.spark.sql.Column] = None): DataFrame =
    searchImpl(spark, snap,
      orPlans(matchFuzzyExpandQueries(spark, snap, queries, fuzziness, prefixLength,
        maxExpansions, transpositions)),
      k, filter)

  /** Spell-correction suggester — the OpenSearch `term` suggester /
    * Lucene DirectSpellChecker analog: for each input word, the committed
    * TERM DICTIONARY terms within `maxEdits` edit distance (plain
    * Levenshtein by default; `transpositions = true` switches to the
    * unrestricted Damerau–Levenshtein metric — the same two
    * ANSI-SQL-reproducible metrics [[fuzzySearch]] offers), ranked by
    * (distance asc, df desc, term asc) — closer first, then more popular
    * (the DirectSpellChecker ordering). Identity matches (distance 0) are
    * excluded: a dictionary word needs no correction. All words share
    * ONE [[editCandidates]] pass over termstats.
    * @return (word string, rank int, suggestion string, dist int, df long) */
  def suggest(spark: SparkSession, dir: String, words: Seq[String],
              maxEdits: Int = 2, prefixLength: Int = 1, topN: Int = 5,
              transpositions: Boolean = false): DataFrame =
    suggestSnapshot(spark, SnapshotCatalog.require(spark, dir), words, maxEdits,
      prefixLength, topN, transpositions)

  def suggestSnapshot(spark: SparkSession, snap: Snapshot, words: Seq[String],
                      maxEdits: Int = 2, prefixLength: Int = 1,
                      topN: Int = 5,
                      transpositions: Boolean = false): DataFrame = {
    require(maxEdits >= 1 && maxEdits <= 8, s"maxEdits must be in [1, 8]: $maxEdits")
    require(prefixLength >= 0, s"prefixLength must be >= 0: $prefixLength")
    require(topN > 0, s"topN must be positive: $topN")
    val lw = words.map(_.toLowerCase(java.util.Locale.ROOT)).filter(_.nonEmpty).distinct
    require(lw.nonEmpty, "need at least one non-empty word")
    editCandidates(spark, snap, lw.map(_ -> maxEdits), prefixLength, transpositions,
      1, topN, Seq(col("df").desc, col("term").asc))
      .select(col("word"), col("rank"), col("term").as("suggestion"),
        col("dist"), col("df"))
  }

  /** Pinned query (the OpenSearch `pinned` query): the given doc ids are
    * promoted to the TOP of every query's result in their given order —
    * but only when LIVE — followed by the organic BM25 top-k with the
    * pinned docs removed (no duplicates). Pinned hits carry a null score
    * (OpenSearch assigns them a synthetic sort position above any
    * relevance score; a null is the honest rendering), organic hits keep
    * their exact scores; ranks run 1..(pinned + k).
    *
    * Scale shape: the pinned id set is request-scale — one id-pruned
    * live docmap lookup ([[Tables.live]]);
    * organic hits fetch k + |pinned| so the page stays full after
    * removal.
    * @return (query_id int, rank int, doc_id string, score double,
    *          pinned boolean) */
  def pinnedSearch(spark: SparkSession, dir: String, queries: Seq[RefQuery],
                   pinnedIds: Seq[String], k: Int,
                   conjunctive: Boolean = false): DataFrame = {
    import spark.implicits._
    require(k > 0, s"k must be positive: $k")
    require(pinnedIds.nonEmpty, "pinnedSearch needs at least one pinned id")
    require(pinnedIds.distinct.size == pinnedIds.size,
      s"pinned ids must be distinct: ${pinnedIds.mkString(",")}")
    val snap = SnapshotCatalog.require(spark, dir)
    val live: Set[String] = Tables.live(spark, snap, Tables.docmap(spark, snap)
        .filter(col("doc_id").isin(pinnedIds: _*)).select(col("shard"), col("ord"), col("doc_id")))
      .select("doc_id").as[String].collect().toSet
    val pinnedLive = pinnedIds.filter(live) // given order, dead ids dropped
    // organic depth covers the worst case: every pinned doc also ranks
    val organic = searchSnapshot(spark, snap, queries, k + pinnedLive.size,
        conjunctive)
      .filter(!col("doc_id").isin(pinnedLive: _*))
    val pinnedDf = queries.map(_.query_id).flatMap(qid =>
      pinnedLive.zipWithIndex.map { case (id, i) => (qid, i + 1, id) })
      .toDF("query_id", "rank", "doc_id")
      .withColumn("score", lit(null).cast("double"))
      .withColumn("pinned", lit(true))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    val org = organic.drop("rank")
      .withColumn("r", row_number().over(w)).filter(col("r") <= k)
      .withColumn("rank", col("r") + lit(pinnedLive.size)).drop("r")
      .withColumn("pinned", lit(false))
      .select("query_id", "rank", "doc_id", "score", "pinned")
    pinnedDf.unionByName(org)
  }

  /** Phrase suggester (the OpenSearch `phrase` suggester — did-you-mean —
    * simplified to the deterministic term-by-term contract an ANSI-SQL
    * oracle can replay; the n-gram language-model scorer is the
    * documented divergence): each analyzed token either EXISTS in the
    * committed dictionary (kept verbatim — only unknown words are
    * corrected) or is replaced by its best [[suggest]] candidate under
    * the same (dist asc, df desc, term asc) rank at `maxEdits` /
    * `prefixLength`; an unknown token with no candidate is kept.
    * `collate_match` is the OpenSearch collate prune: does the corrected
    * phrase have at least one live CONJUNCTIVE match.
    *
    * Scale shape: corrections ride ONE broadcast termstats pass (the
    * [[suggest]] discipline, |unknown words| bounded by the query set);
    * collation is one [[matchedOrds]] pass for all suggestions together.
    * @return (query_id int, suggestion string, changed int,
    *          collate_match boolean) */
  def phraseSuggest(spark: SparkSession, dir: String, queries: Seq[RefQuery],
                    maxEdits: Int = 2, prefixLength: Int = 1): DataFrame =
    phraseSuggestSnapshot(spark, SnapshotCatalog.require(spark, dir), queries, maxEdits,
      prefixLength)

  def phraseSuggestSnapshot(spark: SparkSession, snap: Snapshot,
                            queries: Seq[RefQuery], maxEdits: Int = 2,
                            prefixLength: Int = 1): DataFrame = {
    import spark.implicits._
    require(queries.nonEmpty, "phraseSuggest needs at least one query")
    val qToks: Seq[(Int, Array[String])] = queries.map(q =>
      q.query_id -> analyzerOf(snap).analyzeQuery(q.text))
    val allWords = qToks.flatMap(_._2).distinct.toArray
    val known: Set[String] =
      if (allWords.isEmpty) Set.empty
      else termPruned(Tables.termstats(spark, snap.termstatsDir), allWords)
        .select("term").as[String].collect().toSet
    val unknown = allWords.filterNot(known)
    val best: Map[String, String] =
      if (unknown.isEmpty) Map.empty
      else suggestSnapshot(spark, snap, unknown.toSeq, maxEdits, prefixLength,
          topN = 1)
        .select("word", "suggestion").as[(String, String)].collect().toMap
    val corrected: Seq[(Int, Array[String], Int)] = qToks.map { case (qid, ts) =>
      val fixed = ts.map(t => if (known(t)) t else best.getOrElse(t, t))
      (qid, fixed, fixed.zip(ts).count { case (a, b) => a != b })
    }
    // collate: one conjunctive containment pass for every suggestion.
    // A query whose text analyzed to ZERO tokens is skipped here and
    // reported explicitly (empty suggestion, collate_match=false) — the
    // skip-and-log discipline — rather than feeding an empty term set
    // into the conjunctive pass, whose semantics it has no claim on.
    val collateQs = corrected.collect { case (qid, fixed, _) if fixed.nonEmpty =>
      RefQuery(qid, fixed.mkString(" ")) }
    val collated: Set[Int] =
      if (collateQs.isEmpty) Set.empty
      else matchedOrds(spark, snap, collateQs, conjunctive = true)
        .select("query_id").distinct().as[Int].collect().toSet
    corrected.map { case (qid, fixed, changed) =>
      (qid, fixed.mkString(" "), changed, fixed.nonEmpty && collated(qid))
    }.toDF("query_id", "suggestion", "changed", "collate_match")
  }

  /** Completion suggest (the OpenSearch completion suggester's
    * dictionary-backed analog — autocomplete): for each input prefix,
    * the top `topN` dictionary terms extending it, ranked by
    * (df desc, term asc) — popularity first, the completion suggester's
    * default weight ordering. One [[rankedTerms]] pass for the whole
    * prefix list; prefixes are lowercased like the analyzer.
    * An exact dictionary word IS its own completion (distance-0 rows are
    * kept — unlike [[suggest]], which only proposes corrections).
    * @return (prefix string, rank int, term string, df long) */
  def complete(spark: SparkSession, dir: String, prefixes: Seq[String],
               topN: Int = 10): DataFrame =
    completeSnapshot(spark, SnapshotCatalog.require(spark, dir), prefixes, topN)

  def completeSnapshot(spark: SparkSession, snap: Snapshot,
                       prefixes: Seq[String], topN: Int = 10): DataFrame = {
    import spark.implicits._
    require(topN > 0, s"topN must be positive: $topN")
    val lp = prefixes.map(_.toLowerCase(java.util.Locale.ROOT)).filter(_.nonEmpty).distinct
    require(lp.nonEmpty, "need at least one non-empty prefix")
    rankedTerms(spark, snap, lp.toDF("prefix"), Seq("prefix"),
      col("term").startsWith(col("prefix")), Seq(col("df").desc, col("term").asc), topN)
      .select("prefix", "rank", "term", "df")
  }

  /** More-like-this: find the docs most similar to each SOURCE document
    * (the OpenSearch `more_like_this` query). Like Lucene's MLT with no
    * stored term vectors, the source text is re-analyzed; its most
    * "interesting" terms — ranked by tf(in source) × idf(in corpus),
    * subject to `minTermFreq`/`minDocFreq` and capped at `maxQueryTerms`,
    * ties broken by term ascending — become an OR query, and the source
    * doc itself is excluded from the hits (ranks re-assigned after the
    * exclusion). Scores are the ordinary BM25 sums, bit-identical to
    * [[Golden.topKTerms]] over the same [[mltTerms]] selection.
    *
    * @param sources (query_id int, doc_id string, content string) — the
    *                docs to find neighbors of; query-scale (one MLT
    *                query per row), so the per-source term profile is
    *                driver-collected like the query sets everywhere else
    */
  def moreLikeThisSnapshot(spark: SparkSession, snap: Snapshot, sources: DataFrame,
                           k: Int, maxQueryTerms: Int = 25, minTermFreq: Int = 2,
                           minDocFreq: Int = 5): DataFrame = {
    import spark.implicits._
    val qTerms = mltTerms(spark, snap, sources, maxQueryTerms, minTermFreq, minDocFreq)
    val srcRows = sources.select(col("query_id").cast("int"), col("doc_id").cast("string"))
      .as[(Int, String)].collect().toSeq
    // duplicate query_ids would blend term profiles AND fan out the hit
    // join below (every hit duplicated, self-exclusion broken) — refuse
    require(srcRows.map(_._1).distinct.length == srcRows.length,
      s"sources must carry one row per query_id; duplicates: " +
        srcRows.groupBy(_._1).filter(_._2.length > 1).keys.toSeq.sorted.mkString(", "))
    val srcDoc = srcRows.toDF("query_id", "src_doc")
    // k+1 covers the worst case (source doc occupies one of the top slots)
    val hits = searchImpl(spark, snap, orPlans(qTerms), k + 1)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    hits.drop("rank")
      .join(broadcast(srcDoc), Seq("query_id"), "left")
      .filter(col("src_doc").isNull || col("doc_id") =!= col("src_doc"))
      .drop("src_doc")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"), col("score"))
  }

  /** The MLT term selection (shared with the golden path): per source
    * doc, terms with source-tf ≥ `minTermFreq` and corpus-df ≥
    * `minDocFreq`, ranked by tf × BM25-idf descending (term ascending on
    * ties), first `maxQueryTerms` kept, returned distinct-sorted. Sources
    * are query-scale, so the (source × distinct-term) profile collects to
    * the driver like every query-set structure. */
  def mltTerms(spark: SparkSession, snap: Snapshot, sources: DataFrame,
               maxQueryTerms: Int = 25, minTermFreq: Int = 2,
               minDocFreq: Int = 5): Map[Int, Array[String]] = {
    import spark.implicits._
    require(maxQueryTerms > 0 && minTermFreq > 0 && minDocFreq >= 0,
      "need maxQueryTerms > 0, minTermFreq > 0, minDocFreq >= 0")
    val tfRows: Array[(Int, String, Long)] = sources
      .select(col("query_id").cast("int"),
        explode(analyzerOf(snap).tokens(col("content"))).as("term"))
      .groupBy("query_id", "term").agg(count(lit(1)).as("tf"))
      .filter(col("tf") >= minTermFreq)
      .as[(Int, String, Long)].collect()
    val n = snap.stats.numDocs
    val terms = tfRows.map(_._2).distinct
    val dfMap: Map[String, Long] = dfFor(spark, snap, terms)
    tfRows.groupBy(_._1).map { case (qid, rows) =>
      qid -> rows.iterator
        .filter { case (_, t, _) => dfMap.getOrElse(t, 0L) >= minDocFreq }
        // getOrElse again: at minDocFreq = 0 an UNINDEXED source doc may
        // carry terms absent from termstats (df 0 — they select but
        // never match, same as Lucene)
        .map { case (_, t, tf) => (t, tf * Bm25.idf(dfMap.getOrElse(t, 0L), n)) }
        .toArray.sortBy { case (t, s) => (-s, t) }
        .take(maxQueryTerms).map(_._1).sorted
    }
  }

  /** Constant-score retrieval (the OpenSearch `constant_score` query):
    * filter context — every doc in the match set scores exactly `boost`,
    * no BM25 computed at all. Deterministic "_doc order" stand-in:
    * hits rank by doc_id ascending (a stable total order the SQL oracle
    * replays verbatim; Lucene's segment-ord order is
    * environment-dependent). Scale shape: the match set never touches
    * postings payloads beyond membership, and the rank window shuffles
    * only (query, doc) rows.
    * @return (query_id int, rank int, doc_id string, score double) */
  def constantScoreSearchSnapshot(spark: SparkSession, snap: Snapshot,
                                  queries: Seq[RefQuery], k: Int,
                                  boost: Double = 1.0,
                                  conjunctive: Boolean = false): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    docOrderTopK(matchedValues(spark, snap, queries, conjunctive, col("doc_id")), k, boost)
  }

  /** The filter-context rank of the constant-score queries: the first `k`
    * hits per query in doc_id order, each scoring `boost`. */
  private def docOrderTopK(hits: DataFrame, k: Int, boost: Double): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(col("doc_id").asc)
    hits.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .withColumn("score", lit(boost))
      .select("query_id", "rank", "doc_id", "score")
  }

  /** The OpenSearch `ids` query: match exactly the requested LIVE doc
    * identities — a term-level query on `_id` with no text and no
    * stats, constant score `boost` in filter context (doc-order rank,
    * the [[constantScoreSearchSnapshot]] contract). Unknown or tombstoned ids
    * simply don't match — never an error, per the API. An upserted
    * identity matches once, as its live generation (the
    * [[Tables.live]] rule over the docmap).
    *
    * Scale shape: the requested id set is request-scale by contract, so
    * it broadcasts and prunes the docmap scan; nothing collects
    * driver-side and the rank window shuffles only (query, doc) rows.
    * @param queries query_id → requested doc ids
    * @return (query_id int, rank int, doc_id string, score double) */
  def idsSearch(spark: SparkSession, dir: String,
                queries: Seq[(Int, Seq[String])], k: Int,
                boost: Double = 1.0): DataFrame =
    idsSearchSnapshot(spark, SnapshotCatalog.require(spark, dir), queries, k, boost)
  def idsSearchSnapshot(spark: SparkSession, snap: Snapshot,
                        queries: Seq[(Int, Seq[String])], k: Int,
                        boost: Double = 1.0): DataFrame = {
    import spark.implicits._
    require(k > 0, s"k must be positive: $k")
    require(queries.nonEmpty, "ids query needs at least one query")
    require(queries.map(_._1).distinct.size == queries.size,
      s"duplicate query_ids: ${queries.map(_._1)}")
    require(queries.forall(_._2.nonEmpty),
      s"empty id list for query_ids ${queries.filter(_._2.isEmpty).map(_._1)}")
    val req = queries.flatMap { case (qid, ids) => ids.distinct.map(qid -> _) }
      .toDF("query_id", "doc_id")
    val dm = Tables.live(spark, snap, Tables.docmap(spark, snap)
      .select(col("shard"), col("ord"), col("doc_id")))
    docOrderTopK(dm.join(broadcast(req), Seq("doc_id")), k, boost)
  }

  /** terms-lookup query (the OpenSearch `terms` query with a lookup
    * document: the filter's term list is fetched from another indexed
    * doc's analyzed field instead of being given inline). The lookup
    * doc's LIVE version resolves by the mget discipline (unique by the
    * staging invariant); its distinct analyzed tokens — read from the
    * staging archive at the resolved (shard, ord), content never
    * re-read — become the term set; the filter then matches every live
    * doc containing at least one of them, in filter context
    * (constant-score, doc-order rank — the [[constantScoreSearchSnapshot]]
    * contract). The lookup doc itself matches too, as in OpenSearch.
    *
    * `maxTerms` mirrors OpenSearch's `index.max_terms_count` (default
    * 65536): a lookup doc with more distinct terms is rejected loudly,
    * never silently truncated.
    *
    * Scale shape: the lookup side is request-scale (an id-pruned docmap
    * scan plus ONE shard-pruned staging row); the filter pass is the
    * standard term-pruned posting stream with the term set riding a
    * broadcast. A tokenless lookup doc matches nothing (empty result,
    * not an error).
    * @return (query_id int, rank int, doc_id string, score double) */
  def termsLookupSearch(spark: SparkSession, dir: String, queryId: Int,
                        lookupDocId: String, k: Int, boost: Double = 1.0,
                        maxTerms: Int = 65536): DataFrame = {
    import spark.implicits._
    require(k > 0, s"k must be positive: $k")
    require(maxTerms > 0, s"max_terms_count must be positive: $maxTerms")
    val snap = SnapshotCatalog.require(spark, dir)
    val addrs = Tables.live(spark, snap, Tables.docmap(spark, snap)
        .filter(col("doc_id") === lookupDocId)
        .select(col("shard"), col("ord")))
      .as[(Int, Long)].collect()
    require(addrs.nonEmpty,
      s"terms lookup doc not found or deleted: $lookupDocId")
    val (sh, o) = addrs.maxBy(identity) // live row unique; newest defensively
    val toks = Tables.staged(spark, dir)
      .filter(col("shard") === sh && col("ord") === o)
      .select(explode(col("tokens")).as("t")).distinct()
      .as[String].collect().sorted
    require(toks.length <= maxTerms,
      s"lookup doc has ${toks.length} distinct terms > max_terms_count $maxTerms")
    docOrderTopK(withDocmap(spark, snap, matchedOrdsTerms(spark, snap, Map(queryId -> toks),
      conjunctive = false), col("doc_id")), k, boost)
  }

  /** Scroll drain (the OpenSearch `scroll` API, fully consumed): the
    * ENTIRE match set of each query in one distributed job, ranked by
    * the exact BM25 order `(score desc, shard asc, ord asc)` — the
    * same `_shard_doc` tie key [[searchAfterSnapshot]] pages by, so this equals
    * the concatenation of every `search_after` page (EngineSpec pins
    * the equivalence against a real page loop) — with `page` assigned
    * as `(rank-1) / pageSize + 1`. Draining a scroll is the one
    * operation whose OUTPUT is the full match set, so the per-query
    * global rank window is the requested result, not an avoidable
    * shuffle; everything that moves is slim (query_id, shard, ord,
    * score) rows plus one docmap equi-join for doc_id.
    *
    * Snapshot pinning is the scroll-context contract: pass a pinned
    * [[Snapshot]] to [[scrollDrainSnapshot]] and concurrent deletes /
    * appends after the pin stay invisible, exactly like an OpenSearch
    * scroll context (ChaosSpec-style PIT discipline).
    * @return (query_id int, page int, rank int, doc_id string,
    *          score double) */
  def scrollDrain(spark: SparkSession, dir: String, queries: Seq[RefQuery],
                  pageSize: Int, conjunctive: Boolean = false): DataFrame =
    scrollDrainSnapshot(spark, SnapshotCatalog.require(spark, dir), queries, pageSize,
      conjunctive)

  def scrollDrainSnapshot(spark: SparkSession, snap: Snapshot,
                          queries: Seq[RefQuery], pageSize: Int,
                          conjunctive: Boolean = false): DataFrame = {
    import spark.implicits._
    require(pageSize > 0, s"scroll page size must be positive: $pageSize")
    val scored = scoredMatchSet(spark, snap, queries, conjunctive)
    // Global per-query rank WITHOUT a per-query window: a window
    // partitioned on query_id funnels each query's ENTIRE match set
    // through one task — the exact single-reducer sort a drain must not
    // have at 10^9-hit scale. Instead the classic scalable global rank:
    // a range-partitioned RDD sort on the full key (P parallel sorted
    // runs; the key (query_id, score, shard, ord) is unique per row, so
    // sampled boundaries can never split a tie), `zipWithIndex` for the
    // global position, and one |queries|-bounded min-index-per-query agg
    // to rebase positions into per-query ranks. All follow-up jobs reuse
    // the one materialized sort shuffle (skipped map stages), so the
    // posting decode and the sort run once. RDD is deliberate here —
    // zipWithIndex's partition-offset trick is exactly the per-partition
    // imperative logic the DataFrame API can't express without the
    // single-reducer window.
    val parts = math.max(1, 2 * math.max(1, spark.sparkContext.defaultParallelism))
    implicit val drainOrd: Ordering[(Int, Int, Long, Double)] =
      new Ordering[(Int, Int, Long, Double)] {
        def compare(a: (Int, Int, Long, Double), b: (Int, Int, Long, Double)): Int = {
          var c = java.lang.Integer.compare(a._1, b._1)            // query asc
          if (c == 0) c = java.lang.Double.compare(b._4, a._4)     // score desc
          if (c == 0) c = java.lang.Integer.compare(a._2, b._2)    // shard asc
          if (c == 0) c = java.lang.Long.compare(a._3, b._3)       // ord asc
          c
        }
      }
    val indexed = scored
      .select(col("query_id"), col("shard"), col("ord"), col("score"))
      .as[(Int, Int, Long, Double)]
      .rdd.sortBy(identity, ascending = true, numPartitions = parts)
      .zipWithIndex()
    val starts: Map[Int, Long] = indexed
      .map { case (t, i) => (t._1, i) }
      .reduceByKey(math.min).collect().toMap
    val startsB = spark.sparkContext.broadcast(starts)
    val pageSizeL = pageSize.toLong
    // rank and page stay LONG: the drain's whole point is 10^9+-hit
    // match sets, where an Int rank would silently wrap
    withDocmap(spark, snap, indexed.map { case ((qid, shard, o, score), i) =>
      val rank = i - startsB.value(qid) + 1L
      (qid, (rank - 1L) / pageSizeL + 1L, rank, shard, o, score)
    }.toDF("query_id", "page", "rank", "shard", "ord", "score"), col("doc_id"))
      .select("query_id", "page", "rank", "doc_id", "score")
  }

  /** Scroll page iterator (the client-facing shape: one page per call,
    * cursor threaded between calls). Each page is a [[searchAfterSnapshot]]
    * job against the SAME pinned snapshot; the driver only holds the
    * |queries|-bounded cursor map between pages, never page data. Stops
    * after `maxPages` or when every query's page comes back short.
    * Returns (page index, page DataFrame) pairs lazily — forcing the
    * stream runs the jobs.
    *
    * Each yielded page is PERSISTED before its cursor is read, so the
    * search job runs once per page (not once for the cursor and again
    * when the caller consumes it); advancing the stream unpersists the
    * page it just moved past — consume pages in order, as a scroll
    * client does. */
  def scrollPages(spark: SparkSession, snap: Snapshot, queries: Seq[RefQuery],
                  pageSize: Int, maxPages: Int = 1000,
                  conjunctive: Boolean = false): LazyList[(Int, DataFrame)] = {
    require(pageSize > 0 && maxPages > 0,
      s"need positive page size and page cap: $pageSize, $maxPages")
    import spark.implicits._
    def next(pageNo: Int, live: Seq[RefQuery],
             after: Map[Int, (Double, Int, Long)],
             prev: Option[DataFrame]): LazyList[(Int, DataFrame)] = {
      prev.foreach(_.unpersist(false)) // the caller has moved past it
      if (pageNo > maxPages || live.isEmpty) LazyList.empty
      else {
        val page = searchAfterSnapshot(spark, snap, live, pageSize, after)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // |queries|-bounded cursor collect: the last hit per query
        // (also materializes the persist — the one execution)
        val cursors: Map[Int, (Double, Int, Long, Long)] = page
          .groupBy("query_id")
          .agg(max_by(struct(col("score"), col("shard"), col("ord")),
            col("rank")).as("c"), count(lit(1)).as("n"))
          .select(col("query_id"), col("c.score"), col("c.shard"),
            col("c.ord"), col("n"))
          .as[(Int, Double, Int, Long, Long)].collect()
          .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
        val survivors = live.filter(q =>
          cursors.get(q.query_id).exists(_._4 == pageSize.toLong))
        val nextAfter = cursors.map { case (qid, (s, sh, o, _)) =>
          qid -> ((s, sh, o)) }
        (pageNo, page) #:: next(pageNo + 1, survivors, nextAfter, Some(page))
      }
    }
    next(1, queries, Map.empty, None)
  }

  /** Field collapsing (the OpenSearch `collapse` clause): the ranked hit
    * list with duplicates-by-field removed — for each query, each
    * distinct value of `collapseCol` is represented by its single
    * best-scoring live hit, and the survivors are re-ranked globally to
    * the top `k`. Like [[Aggs.topHitsSnapshot]] (whose scoring engine this shares),
    * WAND pruning cannot apply: a field value's best doc can score
    * arbitrarily low globally, so the full match set is scored exactly
    * with [[Golden.sumSorted]] ascending-term sums — bit-identical to
    * the scores [[search]] assigns the same docs. Ties break
    * (score desc, doc_id asc) at BOTH windows — the golden convention.
    *
    * Scale shape: one docmap equi-join ships (shard, ord, doc_id, key);
    * the per-(query, key) best-hit window shuffles the match set once on
    * (query_id, key) — after it, at most one row per key survives to the
    * global top-k window, the same slim final rank every retrieval mode
    * pays. A null/missing field value collapses as its own group, the
    * OpenSearch behavior for a missing keyword.
    * @return (query_id int, rank int, doc_id string,
    *          collapse_key string, score double) */
  def collapseSearchSnapshot(spark: SparkSession, snap: Snapshot,
                             queries: Seq[RefQuery], collapseCol: String,
                             k: Int, conjunctive: Boolean = false): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val scored = withDocmap(spark, snap, scoredMatchSet(spark, snap, queries, conjunctive),
      col("doc_id"), col(collapseCol).cast("string").as("collapse_key"))
    // per-(query, shard, key) best-1 pre-cut: a skewed collapse key (one
    // value dominating the corpus) otherwise lands its whole match set in
    // ONE key-window partition; after the pre-cut that window sees ≤ S
    // rows per key. The per-key best is unchanged (its shard's best).
    val wShardKey = Window.partitionBy(col("query_id"), col("shard"),
        col("collapse_key"))
      .orderBy(col("score").desc, col("doc_id").asc)
    val wKey = Window.partitionBy(col("query_id"), col("collapse_key"))
      .orderBy(col("score").desc, col("doc_id").asc)
    val wGlobal = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    scored
      .withColumn("pr", row_number().over(wShardKey)).filter(col("pr") === 1)
      .withColumn("r1", row_number().over(wKey)).filter(col("r1") === 1)
      .withColumn("rank", row_number().over(wGlobal))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "doc_id", "collapse_key", "score")
  }

  /** Function score (the OpenSearch `function_score` query with a
    * `field_value_factor` function): each hit's BM25 relevance is
    * combined with `factor × modifier(docmap field)` —
    * `boostMode = "multiply"` (the default) or `"sum"`. Because the
    * field factor varies per document, WAND's relevance-only upper
    * bounds cannot prune for the COMBINED order (a low-BM25 doc with a
    * large field value can win), so the full match set is scored exactly
    * ([[Golden.sumSorted]] ascending-term sums — the [[Aggs.topHitsSnapshot]] /
    * [[collapseSearchSnapshot]] engine) and combined in one Column expression.
    * Supported modifiers: `none`, `log1p` (ln(1+v), the OpenSearch
    * log1p), `sqrt`. Ties break (score desc, doc_id asc).
    *
    * Scale shape: one docmap equi-join ships (shard, ord, doc_id, v);
    * the final rank window shuffles exactly the quantity being ranked.
    * When the factor has a KNOWN global bound, multiplying WAND bounds
    * by it would restore pruning — left out deliberately: unbounded
    * fields (counters, sizes) are the common case.
    * @return (query_id int, rank int, doc_id string, score double) */
  def functionScoreSearchSnapshot(spark: SparkSession, snap: Snapshot,
                                  queries: Seq[RefQuery], k: Int,
                                  factorCol: String, factor: Double = 1.0,
                                  modifier: String = "log1p",
                                  boostMode: String = "multiply",
                                  conjunctive: Boolean = false): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val scored = withDocmap(spark, snap, scoredMatchSet(spark, snap, queries, conjunctive),
      col("doc_id"), col(factorCol).cast("double").as("fv"))
    // the pre-cut ranks the COMBINED order (valid for any per-row score)
    topKPerQuery(scored.withColumn("score",
        functionScoreCombine(col("score"), col("fv"), factor, modifier, boostMode)),
        k, Seq("query_id"), col("score").desc)
      .select("query_id", "rank", "doc_id", "score")
  }

  /** The ONE combine expression [[functionScoreSearchSnapshot]] and its golden
    * pin share — same Column tree, bit-identical doubles by
    * construction. */
  def functionScoreCombine(score: org.apache.spark.sql.Column,
                           fieldValue: org.apache.spark.sql.Column,
                           factor: Double, modifier: String,
                           boostMode: String): org.apache.spark.sql.Column = {
    val m = modifier match {
      case "none"  => fieldValue
      case "log1p" => log1p(fieldValue)
      case "sqrt"  => sqrt(fieldValue)
      case other   => throw new IllegalArgumentException(
        s"unknown field_value_factor modifier: $other (none|log1p|sqrt)")
    }
    val fvf = lit(factor) * m
    boostMode match {
      case "multiply" => score * fvf
      case "sum"      => score + fvf
      case other      => throw new IllegalArgumentException(
        s"unknown boost_mode: $other (multiply|sum)")
    }
  }

  /** The rank_feature score functions (the OpenSearch `rank_feature`
    * query's saturation/log/sigmoid, with Lucene FeatureField's
    * published formulas): saturation `x / (x + pivot)`, log
    * `ln(scaling + x)`, sigmoid `x^exp / (x^exp + pivot^exp)`. A null
    * or non-positive feature contributes 0 — the feature field stores
    * positive values only, and a missing feature never boosts (nor
    * excludes the doc from the text match). The ONE Column tree both
    * engines share — bit-identical goldens by construction. */
  def rankFeatureExpr(fv: Column, fn: String, boost: Double,
                      pivot: Double = 1.0, exponent: Double = 1.0,
                      scaling: Double = 1.0): Column = {
    require(boost >= 0.0, s"boost must be >= 0: $boost")
    require(pivot > 0.0, s"pivot must be positive: $pivot")
    require(exponent > 0.0, s"exponent must be positive: $exponent")
    require(scaling > 0.0, s"scaling_factor must be positive: $scaling")
    val s = fn match {
      case "saturation" => fv / (fv + lit(pivot))
      case "log"        => log(lit(scaling) + fv)
      case "sigmoid"    =>
        pow(fv, lit(exponent)) /
          (pow(fv, lit(exponent)) + lit(math.pow(pivot, exponent)))
      case other => throw new IllegalArgumentException(
        s"unknown rank_feature function: $other (saturation|log|sigmoid)")
    }
    when(fv.isNotNull && fv > 0.0, lit(boost) * s).otherwise(lit(0.0))
  }

  /** The distance_feature score (the OpenSearch `distance_feature` query
    * over a numeric/date field): `boost * pivot / (pivot + |x − origin|)`
    * — 1×boost at the origin, halving at pivot distance. Null features
    * contribute 0. */
  def distanceFeatureExpr(fv: Column, origin: Double, pivot: Double,
                          boost: Double): Column = {
    require(boost >= 0.0, s"boost must be >= 0: $boost")
    require(pivot > 0.0, s"pivot must be positive: $pivot")
    when(fv.isNotNull,
      lit(boost) * lit(pivot) / (lit(pivot) + abs(fv - lit(origin))))
      .otherwise(lit(0.0))
  }

  /** rank_feature riding a text query (the bool-should composition the
    * query exists for): `score = bm25 + rankFeatureExpr(feature)`.
    * Scale shape = [[functionScoreSearchSnapshot]]: one exact engine pass, a
    * docmap metadata join, pure codegen'd column math, per-shard pre-cut
    * before the global rank window.
    * @return (query_id int, rank int, doc_id string, score double) */
  def rankFeatureSearch(spark: SparkSession, dir: String,
                        queries: Seq[RefQuery], k: Int, featureCol: String,
                        fn: String, boost: Double = 1.0, pivot: Double = 1.0,
                        exponent: Double = 1.0, scaling: Double = 1.0,
                        conjunctive: Boolean = false): DataFrame =
    featureBoostSearchSnapshot(spark, SnapshotCatalog.require(spark, dir), queries, k,
      featureCol, fv => rankFeatureExpr(fv, fn, boost, pivot, exponent, scaling),
      conjunctive)

  /** distance_feature riding a text query — see [[distanceFeatureExpr]].
    * @return (query_id int, rank int, doc_id string, score double) */
  def distanceFeatureSearch(spark: SparkSession, dir: String,
                            queries: Seq[RefQuery], k: Int,
                            featureCol: String, origin: Double,
                            pivot: Double, boost: Double = 1.0,
                            conjunctive: Boolean = false): DataFrame =
    featureBoostSearchSnapshot(spark, SnapshotCatalog.require(spark, dir), queries, k,
      featureCol, fv => distanceFeatureExpr(fv, origin, pivot, boost), conjunctive)

  def featureBoostSearchSnapshot(spark: SparkSession, snap: Snapshot,
                                 queries: Seq[RefQuery], k: Int,
                                 featureCol: String,
                                 featureScore: Column => Column,
                                 conjunctive: Boolean = false): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val scored = withDocmap(spark, snap, scoredMatchSet(spark, snap, queries, conjunctive),
      col("doc_id"), col(featureCol).cast("double").as("fv"))
    topKPerQuery(scored.withColumn("score", col("score") + featureScore(col("fv"))),
        k, Seq("query_id"), col("score").desc)
      .select("query_id", "rank", "doc_id", "score")
  }

  /** [[featureBoostSearchSnapshot]] for SEVERAL feature functions at
    * once — e.g. comparing saturation/log/sigmoid variants of one
    * rank_feature — paying ONE engine pass for all of them. The scored
    * match set is computed once; each variant's boosted score is a
    * column of the same projection (an array-explode, not N plan
    * branches, so nothing re-scans even without exchange reuse); each
    * variant then ranks independently through the standard
    * per-(variant, query, shard) pre-cut + global window.
    * @return (fn string, query_id int, rank int, doc_id string,
    *          score double) */
  def featureBoostMultiSearchSnapshot(spark: SparkSession, snap: Snapshot,
                                      queries: Seq[RefQuery], k: Int,
                                      featureCol: String,
                                      variants: Seq[(String, Column => Column)],
                                      conjunctive: Boolean = false): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    require(variants.nonEmpty, "need at least one feature variant")
    require(variants.map(_._1).distinct.size == variants.size,
      s"variant names must be distinct: ${variants.map(_._1).mkString(", ")}")
    val stacked = withDocmap(spark, snap, scoredMatchSet(spark, snap, queries, conjunctive),
        col("doc_id"), col(featureCol).cast("double").as("fv"))
      .select(col("query_id"), col("shard"), col("doc_id"),
        explode(array(variants.map { case (name, f) =>
          struct(lit(name).as("fn"), (col("score") + f(col("fv"))).as("score"))
        }: _*)).as("v"))
      .select(col("v")("fn").as("fn"), col("query_id"), col("shard"),
        col("doc_id"), col("v")("score").as("score"))
    topKPerQuery(stacked, k, Seq("fn", "query_id"), col("score").desc)
      .select("fn", "query_id", "rank", "doc_id", "score")
  }

  /** Dis-max retrieval (the OpenSearch [[DisMaxQuery `dis_max`]]
    * compound): every sub-query is scored independently over its exact
    * full match set, then per document
    * `score = max + tieBreaker × (sum − max)` over the subs the doc
    * matches. Per-doc combine order matters for the last bits of the
    * tie-break sum, so both engines route it through the ONE
    * [[disMaxCombined]] (ascending-sub [[Golden.sumSorted]] fold) —
    * rank- and bit-identical to the golden twin by construction.
    *
    * WAND pruning deliberately does not apply: a per-sub relevance bound
    * does not bound the COMBINED order when tieBreaker > 0 (a doc
    * matching many weak subs can outrank one strong sub), so the match
    * set is scored exactly ([[Aggs.topHitsSnapshot]]' engine).
    *
    * Scale shape: ONE engine pass over the union of all sub terms (one
    * term-pruned segment scan, the same slim (query, shard, ord)
    * shuffle), the sub-combine a bounded-width agg (≤ |subs| rows per
    * doc), and the final rank window shuffles exactly what is ranked.
    * @return (query_id int, rank int, doc_id string, score double) */
  def disMaxSearchSnapshot(spark: SparkSession, snap: Snapshot,
                           queries: Seq[DisMaxQuery], k: Int,
                           tieBreaker: Double = 0.0): DataFrame = {
    import spark.implicits._
    require(k > 0, s"k must be positive: $k")
    require(tieBreaker >= 0.0 && tieBreaker <= 1.0,
      s"tie_breaker must be in [0, 1]: $tieBreaker")
    // each (query, sub) scores as its own synthetic query id through the
    // shared exact engine, then folds back to the real id
    val flat: Seq[(Int, Int, Int, String)] = queries.flatMap(q =>
      q.subs.zipWithIndex.map { case (text, si) => (q.query_id, si, text) })
      .zipWithIndex.map { case ((qid, si, text), sid) => (sid, qid, si, text) }
    val scored = scoredMatchSet(spark, snap,
      flat.map { case (sid, _, _, text) => RefQuery(sid, text) },
      conjunctive = false)
    val m = flat.map { case (sid, qid, si, _) => (sid, qid, si) }
      .toDF("synth_id", "qid", "sub")
    val combined = disMaxCombined(
      scored.withColumnRenamed("query_id", "synth_id")
        .join(broadcast(m), Seq("synth_id"))
        .withColumnRenamed("qid", "query_id"),
      Seq("query_id", "shard", "ord"), tieBreaker)
    // the pre-cut ranks the combined order (valid for any per-row score)
    topKPerQuery(withDocmap(spark, snap, combined, col("doc_id")), k, Seq("query_id"),
        col("score").desc)
      .select("query_id", "rank", "doc_id", "score")
  }

  /** The ONE per-doc dis-max fold both engines share: `df` carries one
    * row per (doc identity, sub) with int `sub` and double `score`;
    * groups by `groupCols` (which must pin the doc identity) and emits
    * `score = max + tieBreaker × (sum − max)` with the sum folded in
    * ascending-sub order ([[Golden.sumSorted]] over a fixed-width sub
    * rendering) — the identical Column tree on both sides makes the
    * doubles bit-identical by construction. */
  def disMaxCombined(df: DataFrame, groupCols: Seq[String],
                     tieBreaker: Double): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(max(col("score")).as("mx"),
        Golden.sumSorted(collect_list(struct(
          format_string("%09d", col("sub")).as("term"),
          col("score").as("contribution")))).as("sm"))
      .withColumn("score", col("mx") + lit(tieBreaker) * (col("sm") - col("mx")))
      .drop("mx", "sm")

  /** Boosting retrieval (the OpenSearch [[BoostingQuery `boosting`]]
    * compound): the `positive` query's exact full match set is scored
    * normally; hits that also match the `negative` query are DEMOTED —
    * score × negativeBoost — not excluded (the contrast with
    * `bool.must_not`, which this library already covers in
    * [[booleanSearch]]). Docs matching only the negative never enter the
    * match set. The negative side needs membership only, so it rides the
    * same engine pass machinery and joins back as a slim
    * (query, shard, ord) set; the demotion is one literal multiply, so
    * scores stay bit-identical to the golden twin through the shared
    * [[boostingCombine]].
    * @return (query_id int, rank int, doc_id string, score double) */
  def boostingSearchSnapshot(spark: SparkSession, snap: Snapshot,
                             queries: Seq[BoostingQuery], k: Int,
                             negativeBoost: Double = 0.5): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    require(negativeBoost >= 0.0 && negativeBoost < 1.0,
      s"negative_boost must be in [0, 1): $negativeBoost")
    val pos = scoredMatchSet(spark, snap,
      queries.map(q => RefQuery(q.query_id, q.positive)), conjunctive = false)
    // membership only — scores from this pass are discarded
    val neg = scoredMatchSet(spark, snap,
      queries.map(q => RefQuery(q.query_id, q.negative)), conjunctive = false)
      .select(col("query_id"), col("shard"), col("ord"), lit(true).as("neg"))
    // the pre-cut ranks the demoted order (valid for any per-row score)
    val demoted = pos.join(neg, Seq("query_id", "shard", "ord"), "left")
      .withColumn("score", boostingCombine(col("score"), col("neg"), negativeBoost))
    topKPerQuery(withDocmap(spark, snap, demoted, col("doc_id")), k, Seq("query_id"),
        col("score").desc)
      .select("query_id", "rank", "doc_id", "score")
  }

  /** The ONE boosting demotion both engines share — `neg` is a nullable
    * boolean membership flag (null = positive-only hit). */
  def boostingCombine(score: org.apache.spark.sql.Column,
                      neg: org.apache.spark.sql.Column,
                      negativeBoost: Double): org.apache.spark.sql.Column =
    when(coalesce(neg, lit(false)), score * lit(negativeBoost)).otherwise(score)

  /** The multi_match combination modes this library implements. */
  val MultiMatchModes: Set[String] = Set("best_fields", "most_fields",
    "cross_fields")

  /** multi_match (the OpenSearch query of the same name) across
    * per-FIELD indexes, one (snapshot, boost) pair per field. Each
    * document field is its own index; doc_id — sha256(repo, path,
    * commit) — is content-independent, so the same logical document
    * aligns across the field indexes. The one query text scores against
    * every field index, each field's BM25 scaled by its boost, and
    * per-doc field scores combine by `mode`:
    *  - `best_fields`: max + tieBreaker × (sum − max) — the dis_max
    *    fold, shared with the golden twin via [[disMaxCombined]]
    *  - `most_fields`: the ascending-field [[Golden.sumSorted]] sum
    *  - `cross_fields`: term-centric — each analyzed query term scores
    *    per field on its own, the dis_max fold blends a term's field
    *    scores, and per-term blends sum per doc
    *    ([[crossFieldsCombined]]; per-field df, not Lucene's blended df
    *    — see its note)
    *
    * `fuzziness`: OpenSearch multi_match's per-term fuzzy rewrite for
    * best_fields / most_fields — each query word expands against EACH
    * FIELD's own dictionary ([[matchFuzzyExpandQueries]], so a typo can
    * match different terms in title vs body), then that field's pass
    * scores the expansion. cross_fields rejects it loudly, as
    * OpenSearch's term-centric blending does.
    *
    * WAND pruning deliberately does not apply: a per-field relevance
    * bound does not bound the cross-field combined order (the dis_max
    * argument), so each field runs the exact match-set scorer.
    *
    * Scale shape: one term-pruned engine pass PER FIELD (fields are
    * few — 2-5 — each pass shuffles slim (query, shard, ord) triples
    * with tombstones subtracted at decode); the cross-field union
    * carries slim (query, doc_id, field, score) rows; the combine is a
    * bounded-width agg (≤ |fields| rows per doc); and a per-(query,
    * doc-hash-bucket) pre-cut bounds the global rank window to ≤ 64·k
    * rows per query — the bucket key is synthetic because the combine
    * erases the per-field shard spaces the other rankers pre-cut on.
    * @return (query_id int, rank int, doc_id string, score double) */
  def multiMatchSearchSnapshots(spark: SparkSession,
                                fields: Seq[(Snapshot, Double)],
                                queries: Seq[RefQuery], k: Int,
                                mode: String = "best_fields",
                                tieBreaker: Double = 0.0,
                                fuzziness: Option[String] = None,
                                fuzzyPrefixLength: Int = 0,
                                fuzzyMaxExpansions: Int = 50,
                                fuzzyTranspositions: Boolean = true): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    require(fields.nonEmpty, "multi_match needs at least one field index")
    require(MultiMatchModes(mode),
      s"unknown multi_match mode '$mode' (have: ${MultiMatchModes.mkString(", ")})")
    require(tieBreaker >= 0.0 && tieBreaker <= 1.0,
      s"tie_breaker must be in [0, 1]: $tieBreaker")
    require(fields.forall(_._2 > 0.0), "field boosts must be positive")
    require(fuzziness.isEmpty || mode != "cross_fields",
      "multi_match cross_fields does not support fuzziness (term-centric " +
        "blending has no per-field rewrite to blend)")
    // one query analysis for all fields: term-centric blending only makes
    // sense when every field analyzed the same way (the OpenSearch
    // cross_fields constraint, applied to the whole family here)
    require(fields.forall(_._1.analyzer == fields.head._1.analyzer),
      "multi_match fields must share one analysis chain: " +
        fields.map(f => s"'${f._1.analyzer}'").distinct.mkString(" vs "))
    val qAnalyzer = analyzerOf(fields.head._1)
    import spark.implicits._
    val combined = if (mode == "cross_fields") {
      // term-centric: each analyzed query term scores as its own
      // single-term pass per field; per (query, term, doc) the dis_max
      // fold blends the fields, per (query, doc) the per-term blends
      // sum. A query whose text analyzes to zero terms contributes no
      // synthetic queries and so (correctly) returns no rows.
      val flat = queries.flatMap(q =>
        Golden.queryTerms(q.text, qAnalyzer).zipWithIndex.map { case (t, ti) =>
          (q.query_id, ti, t) })
        .zipWithIndex.map { case ((qid, ti, t), sid) => (sid, qid, ti, t) }
      val m = flat.map { case (sid, qid, ti, _) => (sid, qid, ti) }
        .toDF("synth_id", "qid", "term_idx")
      val perField = fields.zipWithIndex.map { case ((snap, boost), fi) =>
        withDocmap(spark, snap, scoredMatchSet(spark, snap,
            flat.map { case (sid, _, _, t) => RefQuery(sid, t) }, conjunctive = false),
            col("doc_id"))
          .select(col("query_id").as("synth_id"), col("doc_id"),
            (col("score") * lit(boost)).as("score"), lit(fi).as("sub"))
      }
      val all = perField.reduce(_ unionByName _)
        .join(broadcast(m), Seq("synth_id"))
        .withColumnRenamed("qid", "query_id")
      crossFieldsCombined(all, Seq("query_id", "doc_id"), tieBreaker)
    } else {
      val perField = fields.zipWithIndex.map { case ((snap, boost), fi) =>
        val scored = fuzziness match {
          case None => scoredMatchSet(spark, snap, queries, conjunctive = false)
          case Some(f) => scoredMatchSetTerms(spark, snap,
            matchFuzzyExpandQueries(spark, snap, queries, f, fuzzyPrefixLength,
              fuzzyMaxExpansions, fuzzyTranspositions),
            conjunctive = false)
        }
        withDocmap(spark, snap, scored, col("doc_id"))
          .select(col("query_id"), col("doc_id"),
            (col("score") * lit(boost)).as("score"), lit(fi).as("sub"))
      }
      val all = perField.reduce(_ unionByName _)
      if (mode == "best_fields")
        disMaxCombined(all, Seq("query_id", "doc_id"), tieBreaker)
      else multiMatchSummed(all, Seq("query_id", "doc_id"))
    }
    topKByDocHash(combined, k).select("query_id", "rank", "doc_id", "score")
  }

  /** The most_fields per-doc fold both engines share: sum of per-field
    * contributions in ascending-field order via [[Golden.sumSorted]]
    * (a plain SUM's nondeterministic fold order would drift last bits
    * and break golden bit-identity). `df` carries int `sub` + double
    * `score`; `groupCols` must pin the doc identity. */
  def multiMatchSummed(df: DataFrame, groupCols: Seq[String]): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(Golden.sumSorted(collect_list(struct(
        format_string("%09d", col("sub")).as("term"),
        col("score").as("contribution")))).as("score"))

  /** The cross_fields per-doc fold both engines share: per (group,
    * term_idx) the dis_max fold blends the per-field scores (`sub` =
    * field index; tieBreaker as in best_fields, 0 = pure max), then per
    * group the per-term blends sum in ascending-term_idx order via
    * [[Golden.sumSorted]]. `df` carries int `term_idx`, int `sub`,
    * double `score`. Note the simplification vs Lucene's
    * BlendedTermQuery (documented divergence): each field's term
    * contribution uses that FIELD's own df/avgdl, not a blended df — the
    * per-field statistics the exact engine scores with, which an oracle
    * can replay from per-field staged tokens. */
  def crossFieldsCombined(df: DataFrame, groupCols: Seq[String],
                          tieBreaker: Double): DataFrame =
    multiMatchSummed(
      disMaxCombined(df, groupCols :+ "term_idx", tieBreaker)
        .withColumn("sub", col("term_idx")),
      groupCols)

  /** One posting block of a [[livePostings]] scan: doc ords decode
    * eagerly, tfs and dls on first use (an emitter that only needs ords
    * never pays for them). */
  private final class DecodedBlock(blk: SegBlock) {
    val ords: Array[Long] = Codec.decodeBlockDocs(blk)
    lazy val tfs: Array[Long] = Codec.decodeBlockTfs(blk)
    lazy val dls: Array[Long] = Codec.decodeBlockDls(blk)
  }

  /** Every LIVE posting of `terms` in the snapshot's committed segments —
    * the one posting decode of the full-match-set paths ([[termTfRows]],
    * [[synonymSearchSnapshot]], [[scoredMatchSetTerms]],
    * [[explainSnapshot]], [[matchedOrdsTerms]]). The segment scan is
    * term-pruned, tombstones are subtracted inside the decode task via the
    * shard's [[graft.index.DeleteMask]], and `emitFor(run)` is called once
    * per run; the function it returns is called once per surviving
    * posting with the posting's block and its index in that block.
    *
    * EXPLICIT decode fan-out (same trap searchImpl documents): the match
    * set explodes to one row per (query, live posting), but Spark sizes
    * the pruned scan's partitions by INPUT bytes — a few compressed row
    * groups — so without this the decode+explode stage (the entire cost of
    * a full-match-set aggregation) runs in a handful of tasks no matter
    * how many cores exist (measured flat 1→4 cores on the 1.2M-doc bench
    * index before the fix). Hash-repartitioning the slim compressed runs
    * is cheap relative to decode; keying by (term, shard, first ord)
    * spreads salted/appended runs of one term too. A user repartition
    * with an explicit count is exempt from AQE coalescing.
    *
    * `keepDeleted` skips the mask: [[explainSnapshot]] explains
    * tombstoned docs too. */
  private def livePostings[T: Encoder](spark: SparkSession, snap: Snapshot,
                                       terms: Array[String],
                                       keepDeleted: Boolean = false)(
      emitFor: SegRun => (DecodedBlock, Int) => IterableOnce[T]): Dataset[T] = {
    import spark.implicits._
    val delMask =
      if (keepDeleted) graft.index.DeleteMask.EmptyMask
      else graft.index.DeleteMask.forSnapshot(spark, snap)
    val fanParts = math.max(1, 2 * math.max(1, spark.sparkContext.defaultParallelism))
    termPruned(Tables.segments(spark, snap.segmentDirs), terms)
      .repartition(fanParts, col("term"), col("shard"), col("blocks")(0)("first"))
      .as[SegRun]
      .flatMap { run =>
        val emit = emitFor(run)
        val dels = delMask(run.shard)
        run.blocks.iterator.flatMap { b =>
          val blk = new DecodedBlock(b)
          blk.ords.indices.iterator
            .filter(i => dels.isEmpty ||
              java.util.Arrays.binarySearch(dels, blk.ords(i)) < 0)
            .flatMap(i => emit(blk, i))
        }
      }
  }

  /** Raw per-document term frequencies for `terms`: the snapshot's live
    * postings ([[livePostings]]) — the building block for
    * statistics-MERGING queries ([[combinedFieldsSearchSnapshots]]), which need
    * (doc, term, tf) rather than a per-field BM25 contribution.
    * @return (shard int, ord long, term string, tf long) */
  private def termTfRows(spark: SparkSession, snap: Snapshot,
                         terms: Array[String]): DataFrame = {
    import spark.implicits._
    livePostings(spark, snap, terms) { run =>
      (blk, i) => Iterator.single((run.shard, blk.ords(i), run.term, blk.tfs(i)))
    }.toDF("shard", "ord", "term", "tf")
  }

  /** combined_fields (the OpenSearch query of the same name): the
    * per-field statistics MERGE into one pseudo-field before a single
    * BM25 — the simplified BM25F Lucene's CombinedFieldQuery computes:
    *
    *   tf(t, d)  = Σ_f  w_f · tf_f(t, d)
    *   dl(d)     = Σ_f  w_f · dl_f(d)
    *   avgdl, N  = over the combined doc universe (live docs only)
    *   df(t)     = |{d : t appears in ANY field of d}|
    *   score     = Σ_t idf(df, N) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
    *
    * contributions summed in ascending term order ([[Golden.sumSorted]])
    * — so unlike [[multiMatchSearchSnapshots]] (which combines per-field SCORES),
    * a term's weight reflects its pooled occurrence count, the behavior
    * that makes combined_fields robust to terms split across fields.
    * Field weights must be ≥ 1 (the OpenSearch constraint; weights < 1
    * would need negative-tf semantics the pseudo-field doesn't define).
    *
    * Scale shape: one term-pruned posting decode PER FIELD emitting slim
    * (shard, ord, term, tf) rows joined to doc identity; the tf merge
    * and df count are partial-aggregable equi-shuffles on (doc, term);
    * the combined dl is one docmap pass per field (tombstones
    * anti-joined); stats collect exactly two scalars; and the rank
    * window rides the [[multiMatchSearchSnapshots]] synthetic-bucket pre-cut.
    * @return (query_id int, rank int, doc_id string, score double) */
  def combinedFieldsSearchSnapshots(spark: SparkSession,
                                    fields: Seq[(Snapshot, Double)],
                                    queries: Seq[RefQuery], k: Int,
                                    cdlCache: Boolean = true): DataFrame = {
    import spark.implicits._
    require(k > 0, s"k must be positive: $k")
    require(fields.nonEmpty, "combined_fields needs at least one field index")
    require(fields.forall(_._2 >= 1.0),
      "combined_fields field weights must be >= 1 (the OpenSearch constraint)")
    // combined_fields requires all fields share one analyzer (the
    // OpenSearch constraint — term-centric dl blending is meaningless
    // across differently-analyzed fields)
    require(fields.forall(_._1.analyzer == fields.head._1.analyzer),
      "combined_fields fields must share one analysis chain: " +
        fields.map(f => s"'${f._1.analyzer}'").distinct.mkString(" vs "))
    val qTerms: Map[Int, Array[String]] =
      queries.map(q => q.query_id ->
        Golden.queryTerms(q.text, analyzerOf(fields.head._1))).toMap
    val allTerms = qTerms.values.flatten.toArray.distinct.sorted
    // combined dl over the LIVE doc universe (delete-exact stats) — the
    // one whole-docmap aggregation of this query. OpenSearch pays the
    // equivalent at INDEX time (norms hold the weighted length), so the
    // artifact is staged next to the first field's index, keyed by the
    // exact (snapshot id, generation, tombstones, weight) descriptor of
    // every field: a repeat call with unchanged indexes reads the slim
    // staged (doc_id, cdl) rows and skips the docmap pass entirely,
    // while ANY lifecycle change (append/delete/compact/rollover) shifts
    // the descriptor and recomputes. `cdlCache = false` opts out (e.g.
    // read-only index roots).
    val (cdl, nDocs, avgdl) = combinedDlStaged(spark, fields, cdlCache)
    // weighted tf merge across fields
    val ctf = fields.map { case (snap, wf) =>
      withDocmap(spark, snap, termTfRows(spark, snap, allTerms), col("doc_id"))
        .select(col("doc_id"), col("term"), (col("tf") * lit(wf)).as("wtf"))
    }.reduce(_ unionByName _)
      .groupBy("doc_id", "term").agg(sum(col("wtf")).as("ctf"))
    // combined df: |query terms|-bounded collect, the termstats discipline
    val dfMap: Map[String, Long] = ctf.groupBy("term")
      .agg(count(lit(1)).as("df")).as[(String, Long)].collect().toMap
    val termQIdf = broadcast(qTerms.toSeq
      .flatMap { case (qid, ts) =>
        ts.map(t => (qid, t, Bm25.idf(dfMap.getOrElse(t, 0L), nDocs))) }
      .toDF("query_id", "term", "idf"))
    val contribution = col("idf") * (col("ctf") * lit(Bm25.K1 + 1.0) /
      (col("ctf") + lit(Bm25.K1) * (lit(1.0 - Bm25.B) +
        lit(Bm25.B) * col("cdl") / lit(avgdl))))
    val scored = ctf.join(termQIdf, Seq("term"))
      .join(cdl, Seq("doc_id"))
      .select(col("query_id"), col("doc_id"), col("term"),
        contribution.as("c"))
      .groupBy("query_id", "doc_id")
      .agg(Golden.sumSorted(
        collect_list(struct(col("term"), col("c")))).as("score"))
    topKByDocHash(scored, k).select("query_id", "rank", "doc_id", "score")
  }

  /** The combined-dl artifact of [[combinedFieldsSearchSnapshots]]:
    * per-doc Σ_f w_f·dl_f over live docs, plus its (N, avgdl) scalars.
    * Staged under `<first-field-root>/cdl_cache/<key>/` where the key
    * hashes the full field descriptor (per field: snapshot id, commit
    * timestamp, weight, tombstone dirs) — any lifecycle change
    * invalidates it. The descriptor is also written verbatim into the
    * staged `stats.json` and re-checked on read (a hash collision or a
    * half-written dir can never serve stale rows); N/avgdl ride the
    * same json (Double.toString round-trips exactly), so a cache hit
    * costs zero docmap IO and zero aggregation. */
  private def combinedDlStaged(spark: SparkSession,
                               fields: Seq[(Snapshot, Double)],
                               cache: Boolean): (DataFrame, Long, Double) = {
    val desc = fields.map { case (s, w) =>
      s"${s.id}:${s.timestampMs}:${java.lang.Double.toString(w)}:" +
        s.tombstoneDirs.sorted.mkString(",")
    }.mkString("|")
    val root = new org.apache.hadoop.fs.Path(fields.head._1.termstatsDir)
      .getParent.getParent
    val key = java.security.MessageDigest.getInstance("SHA-256")
      .digest(desc.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
    val cacheDir = new org.apache.hadoop.fs.Path(root, s"cdl_cache/$key")
    val statsPath = new org.apache.hadoop.fs.Path(cacheDir, "stats.json")
    val fs = cacheDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def readStaged(): Option[(DataFrame, Long, Double)] =
      if (!cache || !fs.exists(statsPath)) None
      else {
        val in = fs.open(statsPath)
        val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
                  finally in.close()
        // poor-man's flat json: desc + rows + n + avgdl lines, written by
        // us only. `rows` names the entry's own uniquely-named rows dir.
        val m = txt.linesIterator.map(_.split("\t", 2)).collect {
          case Array(k0, v) => k0 -> v }.toMap
        if (m.get("desc") != Some(desc)) None
        else Some((spark.read.parquet(new org.apache.hadoop.fs.Path(
            cacheDir, m.getOrElse("rows", "cdl.parquet")).toString),
          m("n").toLong, java.lang.Double.parseDouble(m("avgdl"))))
      }
    readStaged().getOrElse {
      val cdl = fields.map { case (snap, wf) =>
        Tables.live(spark, snap, Tables.docmap(spark, snap)
          .select(col("shard"), col("ord"), col("doc_id"), col("dl")))
          .select(col("doc_id"), (col("dl") * lit(wf)).as("wdl"))
      }.reduce(_ unionByName _)
        .groupBy("doc_id").agg(sum(col("wdl")).as("cdl"))
      if (!cache) {
        // two passes over cdl (stats scalar + the score join) — a docmap
        // scan each, cheaper than a persist lifecycle at any scale
        val r = cdl.agg(count(lit(1)), coalesce(avg(col("cdl")), lit(1.0))).head()
        val n = r.getLong(0)
        (cdl, n, if (n == 0) 1.0 else r.getDouble(1))
      } else {
        // each writer populates its OWN uniquely-named rows dir and only
        // then publishes it by (re)writing stats.json, which names the
        // dir — no writer ever deletes or overwrites a dir another
        // caller's returned DataFrame (or a concurrent reader that
        // already matched desc) may be listing. Concurrent cache-miss
        // writers each commit a complete entry; the last stats.json
        // wins and the loser's dir is an orphan bounded by the race
        // count. A writer crashing before stats.json leaves only an
        // unreferenced dir — the cache self-heals on the next call.
        val rowsName = s"cdl-${java.util.UUID.randomUUID}.parquet"
        val rowsDir = new org.apache.hadoop.fs.Path(cacheDir, rowsName)
        cdl.write.mode("overwrite").parquet(rowsDir.toString)
        val staged = spark.read.parquet(rowsDir.toString)
        val r = staged.agg(count(lit(1)), coalesce(avg(col("cdl")), lit(1.0))).head()
        val n = r.getLong(0)
        val avgdl = if (n == 0) 1.0 else r.getDouble(1)
        // stats.json LAST: its presence + matching desc is the commit
        // marker for the whole cache entry
        val out = fs.create(statsPath, true)
        try out.write(
          s"desc\t$desc\nrows\t$rowsName\nn\t$n\navgdl\t${java.lang.Double.toString(avgdl)}\n"
            .getBytes("UTF-8"))
        finally out.close()
        (staged, n, avgdl)
      }
    }
  }

  /** Score modes [[hasChildSearchSnapshot]] supports (the OpenSearch `has_child`
    * score_mode values; `none` scores every qualifying parent 1.0). */
  val HasChildScoreModes: Set[String] = Set("none", "min", "max", "sum", "avg")

  /** has_child query (the OpenSearch parent-join `has_child`): rank
    * PARENT documents by the children that match an inner full-text
    * query. Parents and children live in ONE index (the join-field
    * model); the relation is expressed as Catalyst columns over the
    * docmap's metadata — `childFilter` / `parentFilter` split the corpus
    * into the two roles (OpenSearch's join-field name) and
    * `childParentKey` / `parentKey` give each side's join key
    * (OpenSearch's routing parent id). Parent keys are expected unique
    * per parent (a duplicated key yields one output row per owning
    * parent, the join-field's own behavior for a duplicated id).
    *
    * Score modes: `none` → 1.0 per qualifying parent (OpenSearch's
    * constant-score default), `min`/`max`, `sum`/`avg` — the additive
    * folds sum child scores in ascending child-doc_id order via the ONE
    * shared [[hasChildCombined]], so the golden twin is bit-identical by
    * construction. `minChildren`/`maxChildren` bound the qualifying
    * match count exactly as the OpenSearch parameters.
    *
    * Scale shape: ONE engine pass scores the inner query's exact live
    * match set (tombstones subtracted at posting decode); children move
    * as slim (query_id, pkey, child_id, score) rows into a map-side
    * partial-aggregable groupBy; the parent resolve is an equi-join of
    * the per-parent aggregate (≤ |parents| × |queries| rows) against the
    * live parent docmap slice (bare docmap scans need the tombstone
    * anti-join, [[Tables.live]]); and a
    * per-(query, parent-hash-bucket) pre-cut bounds the global rank
    * window to ≤ 64k rows. No document-sized shuffle anywhere.
    * @return (query_id int, rank int, doc_id string [parent],
    *          score double, n_children long) */
  def hasChildSearchSnapshot(spark: SparkSession, snap: Snapshot,
                             queries: Seq[RefQuery], k: Int, scoreMode: String,
                             childFilter: Column, parentFilter: Column,
                             childParentKey: Column, parentKey: Column,
                             minChildren: Int = 1,
                             maxChildren: Int = Int.MaxValue,
                             conjunctive: Boolean = false): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    require(HasChildScoreModes(scoreMode),
      s"unknown has_child score_mode: $scoreMode (${HasChildScoreModes.mkString("|")})")
    require(minChildren >= 1 && maxChildren >= minChildren,
      s"need 1 <= min_children <= max_children: $minChildren..$maxChildren")
    // the child join keys on (shard, ord) — the unique physical address,
    // already live by construction (decode subtracts tombstones)
    val children = withDocmap(spark, snap, scoredMatchSet(spark, snap, queries, conjunctive),
        col("doc_id"), col("repo"), col("path"), col("commit"), col("lang"))
      .filter(childFilter)
      .select(col("query_id"), childParentKey.cast("string").as("pkey"),
        col("doc_id").as("child_id"), col("score"))
    val perParent = hasChildCombined(children, scoreMode)
      .filter(col("n_children").between(minChildren, maxChildren))
    val parents = Tables.live(spark, snap, Tables.docmap(spark, snap).filter(parentFilter))
      .select(parentKey.cast("string").as("pkey"), col("doc_id"))
    topKByDocHash(perParent.join(parents, Seq("pkey")), k)
      .select("query_id", "rank", "doc_id", "score", "n_children")
  }

  /** The per-parent child-score fold both engines share (has_child AND
    * the nested query — [[Nested]]). Input: slim (query_id, pkey,
    * child_id, score) child rows. `sum`/`avg` fold in ascending
    * child_id order via [[Golden.sumSorted]] (a plain SUM's
    * nondeterministic order would drift last bits and break golden
    * bit-identity); `avg` divides the deterministic sum by the exact
    * count; `none` is OpenSearch's constant 1.0.
    *
    * `innerHitsK > 0` additionally emits an `inner` column — the top-K
    * child hits per parent as an array of (child_id, inner_score)
    * structs ranked score desc / child_id asc (the engine's standard
    * tiebreak) — collected inside the SAME aggregation so inner_hits
    * never costs a second pass over the scored match set.
    * @return (query_id, pkey, score double, n_children long
    *          [, inner array&lt;struct&lt;child_id,inner_score&gt;&gt;]) */
  def hasChildCombined(children: DataFrame, scoreMode: String,
                       innerHitsK: Int = 0): DataFrame = {
    val g = children.groupBy(col("query_id"), col("pkey"))
    // BM25 scores are strictly positive, so ordering by (-score,
    // child_id) ranks score desc with the child_id asc tiebreak and the
    // negation can never hit the -0.0 vs 0.0 struct-comparison edge
    val innerAgg =
      if (innerHitsK <= 0) Nil
      else Seq(slice(array_sort(collect_list(struct(
        (lit(0.0) - col("score")).as("neg_score"),
        col("child_id"), col("score").as("inner_score")))),
        1, innerHitsK).as("inner_raw"))
    val innerOut =
      if (innerHitsK <= 0) Nil
      else Seq(transform(col("inner_raw"),
        e => struct(e("child_id").as("child_id"),
          e("inner_score").as("inner_score"))).as("inner"))
    val scored = scoreMode match {
      case "none" =>
        g.agg(count(lit(1)).as("n_children"), innerAgg: _*)
          .withColumn("score", lit(1.0))
      case "min" =>
        g.agg(min(col("score")).as("score"),
          (count(lit(1)).as("n_children") +: innerAgg): _*)
      case "max" =>
        g.agg(max(col("score")).as("score"),
          (count(lit(1)).as("n_children") +: innerAgg): _*)
      case _ =>
        g.agg(Golden.sumSorted(collect_list(struct(
            col("child_id").as("term"), col("score").as("contribution"))))
            .as("ssum"),
          (count(lit(1)).as("n_children") +: innerAgg): _*)
          .withColumn("score",
            if (scoreMode == "sum") col("ssum")
            else col("ssum") / col("n_children"))
    }
    scored.select(Seq(col("query_id"), col("pkey"), col("score"),
      col("n_children")) ++ innerOut: _*)
  }

  /** has_parent query (the OpenSearch parent-join `has_parent`): return
    * CHILD documents whose parent matches an inner full-text query.
    * Role/key columns as in [[hasChildSearchSnapshot]]. `score = true` gives
    * each child its parent's relevance score (OpenSearch `score`
    * parameter); `false` scores every qualifying child 1.0.
    *
    * Scale shape: the inner query scores parents in one engine pass
    * (slim rows); qualifying children are resolved by ONE equi-join of
    * the live child docmap slice against the (≤ |queries| × |parents|)
    * matched-parent side — the join output is the answer being returned,
    * nothing larger shuffles — then the per-(query, child-hash-bucket)
    * pre-cut bounds the global rank window.
    * @return (query_id int, rank int, doc_id string [child],
    *          score double, parent_id string) */
  def hasParentSearchSnapshot(spark: SparkSession, snap: Snapshot,
                              queries: Seq[RefQuery], k: Int,
                              parentFilter: Column, childFilter: Column,
                              parentKey: Column, childParentKey: Column,
                              score: Boolean = true,
                              conjunctive: Boolean = false): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val parents = withDocmap(spark, snap, scoredMatchSet(spark, snap, queries, conjunctive),
        col("doc_id"), col("repo"), col("path"), col("commit"), col("lang"))
      .filter(parentFilter)
      .select(col("query_id"), parentKey.cast("string").as("pkey"),
        col("doc_id").as("parent_id"), col("score").as("pscore"))
    val children = Tables.live(spark, snap, Tables.docmap(spark, snap).filter(childFilter))
      .select(childParentKey.cast("string").as("pkey"), col("doc_id"))
    val joined = parents.join(children, Seq("pkey"))
      .withColumn("score", if (score) col("pscore") else lit(1.0))
    topKByDocHash(joined, k).select("query_id", "rank", "doc_id", "score", "parent_id")
  }

  /** A query of synonym groups (the query-time side of an OpenSearch
    * `synonym`/`synonym_graph` token filter, scored with Lucene
    * SynonymQuery semantics): each group's member terms score as ONE
    * pseudo-term — per doc the member tfs SUM before BM25's tf
    * saturation, and the pseudo-term's df is the MAX member df. A doc
    * matching several spellings of one concept is therefore not rewarded
    * as if it matched several concepts, and a rare member never imports
    * its inflated idf into the group. Groups combine across the query
    * like ordinary terms (OR; `conjunctive` = every group must match). */
  case class SynonymQuery(query_id: Int, groups: Seq[Seq[String]]) {
    require(groups.nonEmpty, s"synonym query $query_id needs >= 1 group")
    require(groups.forall(_.nonEmpty),
      s"synonym query $query_id has an empty group")
  }

  /** Synonym-group retrieval over the committed index — semantics on
    * [[SynonymQuery]]. A group whose members all analyze away contributes
    * no clause (Lucene's behavior for an analyzer emitting no tokens);
    * a query left with zero groups returns no rows.
    *
    * Scale shape: ONE term-pruned segment scan over the union of all
    * member terms; the decode emits slim integer (query, group, doc, tf,
    * dl) rows because tfs must sum BEFORE saturation (contributions
    * can't); the member-sum and per-doc group fold are map-side-partial
    * aggs; ranking is the standard per-(query, shard) pre-cut + global
    * window. Blended dfs come from the termstats broadcast, never a
    * data-sized shuffle.
    * @return (query_id int, rank int, doc_id string, score double) */
  def synonymSearchSnapshot(spark: SparkSession, snap: Snapshot,
                            queries: Seq[SynonymQuery], k: Int,
                            conjunctive: Boolean = false): DataFrame = {
    import spark.implicits._
    require(k > 0, s"k must be positive: $k")
    require(snap.isComplete, s"snapshot ${snap.id} is not a complete index")
    // analyze members through the one query analyzer; drop groups that
    // analyze to nothing (documented above)
    val analyzed: Seq[(Int, Array[Array[String]])] = queries.map { q =>
      q.query_id -> q.groups
        .map(g => g.flatMap(w => Golden.queryTerms(w, analyzerOf(snap))).distinct.sorted.toArray)
        .filter(_.nonEmpty).toArray }
    val flat: Seq[(Int, Int, Array[String])] = analyzed.flatMap {
      case (qid, gs) => gs.zipWithIndex.map { case (g, gi) => (qid, gi, g) } }
    val termG: Map[String, Array[(Int, Int)]] =
      termQueries(flat.map { case (qid, gi, g) => (qid, gi) -> g })
    val allTerms = termG.keys.toArray
    val dfMap: Map[String, Long] = dfFor(spark, snap, allTerms)
    val dfg: Map[(Int, Int), Long] = flat.map { case (qid, gi, g) =>
      (qid, gi) -> g.map(t => dfMap.getOrElse(t, 0L)).max }.toMap
    val termGB = spark.sparkContext.broadcast(termG)
    val dfgB = spark.sparkContext.broadcast(dfg)
    val nL = snap.stats.numDocs
    val avgdlL = snap.stats.avgdl
    val raw = livePostings(spark, snap, allTerms) { run =>
      val tgs = termGB.value.getOrElse(run.term, Array.empty[(Int, Int)])
      (blk, i) => tgs.iterator.map { case (qid, gi) =>
        (qid, gi, run.shard, blk.ords(i), blk.tfs(i), blk.dls(i)) }
    }.toDF("query_id", "gid", "shard", "ord", "tf", "dl")
    // member tfs SUM before saturation; dl is per-doc (max = the value)
    val grouped = raw.groupBy("query_id", "gid", "shard", "ord")
      .agg(sum(col("tf")).as("tfg"), max(col("dl")).as("dl"))
      .as[(Int, Int, Int, Long, Long, Long)]
      .map { case (qid, gi, shard, ord, tfg, dl) =>
        (qid, gi, shard, ord,
          Bm25.idf(dfgB.value((qid, gi)), nL) * Bm25.tfNorm(tfg, dl, avgdlL))
      }.toDF("query_id", "gid", "shard", "ord", "contribution")
    val perDoc = grouped.groupBy("query_id", "shard", "ord")
      .agg(Golden.sumSorted(collect_list(struct(
          format_string("%09d", col("gid")).as("term"),
          col("contribution").as("contribution")))).as("score"),
        count(lit(1)).as("ng"))
    val kept =
      if (!conjunctive) perDoc.drop("ng")
      else {
        val qn = analyzed.map { case (qid, gs) => (qid, gs.length) }
          .toDF("query_id", "qg")
        perDoc.join(broadcast(qn), Seq("query_id"))
          .filter(col("ng") === col("qg")).drop("ng", "qg")
      }
    topKPerQuery(withDocmap(spark, snap, kept, col("doc_id")), k, Seq("query_id"),
        col("score").desc)
      .select("query_id", "rank", "doc_id", "score")
  }

  /** Exact BM25 scores over each query's FULL live match set as slim
    * (query_id, shard, ord, score) rows — the scoring engine of
    * [[Aggs.topHitsSnapshot]]. Every live posting of a query term is decoded and its
    * contribution computed from the CURRENT snapshot's delete-exact
    * (df, N, avgdl) — the same stats [[search]] scores with — then
    * per-doc contributions are summed in ascending term order via the
    * shared [[Golden.sumSorted]] (a plain SUM agg's nondeterministic
    * fold order would drift last bits run to run and break golden
    * bit-identity). A term absent from termstats (the documented
    * torn-append window) scores with df 0, the scorers' safe default. */
  private[search] def scoredMatchSet(spark: SparkSession, snap: Snapshot,
                             queries: Seq[RefQuery],
                             conjunctive: Boolean,
                             keepNt: Boolean = false): DataFrame =
    scoredMatchSetTerms(spark, snap,
      queries.map(q => q.query_id -> Golden.queryTerms(q.text, analyzerOf(snap))).toMap,
      conjunctive, keepNt)

  /** [[scoredMatchSet]] with each query given directly as its analyzed
    * term set — the entry point for rewrite-expanded callers (e.g.
    * multi_match with fuzziness, whose per-FIELD expansions depend on
    * each field's own dictionary). */
  private[search] def scoredMatchSetTerms(spark: SparkSession, snap: Snapshot,
                             qTerms: Map[Int, Array[String]],
                             conjunctive: Boolean,
                             keepNt: Boolean = false): DataFrame = {
    import spark.implicits._
    require(snap.isComplete, s"snapshot ${snap.id} is not a complete index")
    val allTerms = qTerms.values.flatten.toArray.distinct
    val termQB = spark.sparkContext.broadcast(termQueries(qTerms))
    val dfB = spark.sparkContext.broadcast(dfFor(spark, snap, allTerms))
    val nL = snap.stats.numDocs
    val avgdlL = snap.stats.avgdl
    val contribs = livePostings(spark, snap, allTerms) { run =>
      val qids = termQB.value.getOrElse(run.term, Array.emptyIntArray)
      val idf = Bm25.idf(dfB.value.getOrElse(run.term, 0L), nL)
      (blk, i) => {
        val c = idf * Bm25.tfNorm(blk.tfs(i), blk.dls(i), avgdlL)
        qids.iterator.map(q => (q, run.shard, blk.ords(i), run.term, c))
      }
    }.toDF("query_id", "shard", "ord", "term", "contribution")
    val grouped = contribs.groupBy("query_id", "shard", "ord")
      .agg(Golden.sumSorted(
          collect_list(struct(col("term"), col("contribution")))).as("score"),
        count(lit(1)).as("nt"))
    if (keepNt) grouped // caller consumes the distinct-matched-term count
    else if (!conjunctive) grouped.drop("nt")
    else allTermsMatched(spark, qTerms, grouped)
  }

  /** terms_set query (the OpenSearch `terms_set` query with
    * `minimum_should_match_field`): a doc matches when the COUNT of the
    * query's distinct analyzed terms it contains reaches the doc's OWN
    * threshold — a numeric docmap expression (OpenSearch reads it from an
    * indexed field) — and scores the BM25 sum over its present terms.
    * WAND's fixed `minShould` bound cannot prune a per-document
    * threshold, so the full match set is scored exactly (the
    * [[collapseSearchSnapshot]]/[[Aggs.topHitsSnapshot]] engine) and cut to the top `k` under
    * (score desc, doc_id asc).
    *
    * Scale shape: slim (query_id, shard, ord, score, nt) rows join the
    * docmap ONCE on its native key to pick up the threshold; only the
    * final rank window shuffles the (threshold-filtered) match set.
    * @return (query_id int, rank int, doc_id string, score double) */
  def termsSetSearchSnapshot(spark: SparkSession, snap: Snapshot,
                             queries: Seq[RefQuery], minMatchCol: String,
                             k: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val scored = withDocmap(spark, snap,
      scoredMatchSet(spark, snap, queries, conjunctive = false, keepNt = true),
      col("doc_id"), expr(minMatchCol).cast("long").as("required_matches"))
    // the top-k cut runs after the threshold filter
    topKPerQuery(scored.filter(col("nt") >= col("required_matches")), k, Seq("query_id"),
        col("score").desc)
      .select("query_id", "rank", "doc_id", "score")
  }

  /** Search-quality evaluation (the OpenSearch `_rank_eval` API): run
    * the base BM25 top-k against per-query relevance ratings and report
    * the metrics OpenSearch's evaluators compute — precision@k and
    * recall@k (relevant = rating ≥ `relevantThreshold`), MRR (reciprocal
    * rank of the first relevant hit, 0 when none), DCG@k
    * (Σ (2^rating − 1) / log2(rank + 1), unrated hits gain 0) and NDCG@k
    * (ideal DCG from the query's best `k` ratings; null when the query
    * has no positive ratings — OpenSearch reports 0, but a null is the
    * honest undefined). Queries with no retrieved docs report nulls for
    * precision and 0 MRR/DCG.
    *
    * `ratings`: (query_id int, doc_id string, rating int ≥ 0).
    *
    * Scale shape: hits are |queries|·k rows; ratings join them broadcast
    * (rating sets are human-curated, request-scale); every metric is one
    * groupBy over those slim rows — nothing data-sized moves.
    * @return (query_id int, retrieved long, relevant_retrieved long,
    *          precision double, recall double, mrr double, dcg double,
    *          ndcg double) */
  def rankEval(spark: SparkSession, dir: String, queries: Seq[RefQuery],
               ratings: DataFrame, k: Int,
               relevantThreshold: Int = 1,
               conjunctive: Boolean = false): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val snap = SnapshotCatalog.require(spark, dir)
    val hits = searchSnapshot(spark, snap, queries, k, conjunctive)
    val r = ratings.select(col("query_id"), col("doc_id"),
      col("rating").cast("long").as("rating"))
    val rated = hits.join(broadcast(r), Seq("query_id", "doc_id"), "left")
      .withColumn("rel",
        when(col("rating") >= relevantThreshold, 1L).otherwise(0L))
      .withColumn("gain",
        coalesce(pow(lit(2.0), col("rating").cast("double")) - 1.0, lit(0.0)))
    val perQ = rated.groupBy("query_id").agg(
      count(lit(1)).as("retrieved"),
      sum(col("rel")).as("relevant_retrieved"),
      min(when(col("rel") === 1L, col("rank"))).as("first_rel_rank"),
      sum(col("gain") / log2(col("rank").cast("double") + 1.0)).as("dcg"))
    // ideal DCG: the query's best k ratings in descending order
    val wr = Window.partitionBy(col("query_id"))
      .orderBy(col("rating").desc, col("doc_id").asc)
    val idcg = r.filter(col("rating") > 0L)
      .withColumn("irank", row_number().over(wr))
      .filter(col("irank") <= k)
      .groupBy("query_id")
      .agg(sum((pow(lit(2.0), col("rating").cast("double")) - 1.0) /
        log2(col("irank").cast("double") + 1.0)).as("idcg"))
    val totRel = r.filter(col("rating") >= relevantThreshold)
      .groupBy("query_id").agg(count(lit(1)).as("total_relevant"))
    perQuery(spark, queries, None, perQ, idcg, totRel)
      .select(col("query_id"),
        coalesce(col("retrieved"), lit(0L)).as("retrieved"),
        coalesce(col("relevant_retrieved"), lit(0L)).as("relevant_retrieved"),
        (col("relevant_retrieved").cast("double") / col("retrieved")).as("precision"),
        (col("relevant_retrieved").cast("double") / col("total_relevant")).as("recall"),
        coalesce(lit(1.0) / col("first_rel_rank"), lit(0.0)).as("mrr"),
        coalesce(col("dcg"), lit(0.0)).as("dcg"),
        (col("dcg") / col("idcg")).as("ndcg"))
  }

  /** Score explanation (the OpenSearch `_explain` API analog): the
    * per-term BM25 breakdown of given (query, doc) pairs — for every
    * query term PRESENT in the doc, one row with the raw ingredients
    * (tf, dl, df) and the derived idf / tf-norm / contribution, where
    * `sum(contribution)` over a (query, doc) group is BIT-IDENTICAL to
    * the score [[search]] and [[Golden.topK]] assign (same JVM
    * functions, and the ascending-term summation order is recoverable
    * from the rows). Docs are query-scale (you explain a handful of
    * hits): their (shard, ord) addresses broadcast, and the pruned
    * segment scan ships only the query terms' runs.
    * @return (query_id, doc_id, term, tf, dl, df, idf, tf_norm,
    *          contribution) */
  def explainSnapshot(spark: SparkSession, snap: Snapshot, queries: Seq[RefQuery],
                      docIds: Seq[String]): DataFrame = {
    import spark.implicits._
    require(snap.isComplete, s"snapshot ${snap.id} is not a complete index")
    val qTerms: Map[Int, Array[String]] =
      queries.map(q => q.query_id -> Golden.queryTerms(q.text, analyzerOf(snap))).toMap
    val allTerms = qTerms.values.flatten.toArray.distinct
    val dfMap: Map[String, Long] = dfFor(spark, snap, allTerms)
    // resolve the (query-scale) doc set to broadcast (shard, ord) -> id;
    // tombstoned docs resolve like live ones — explaining a deleted doc
    // is explicitly useful (why DID this match yesterday?)
    val target: Map[(Int, Long), String] = Tables.docmap(spark, snap)
      .filter(col("doc_id").isin(docIds: _*))
      .select(col("shard"), col("ord"), col("doc_id"))
      .as[(Int, Long, String)].collect()
      .map { case (s, o, id) => (s, o) -> id }.toMap
    val targetB = spark.sparkContext.broadcast(target)
    val termQB = spark.sparkContext.broadcast(termQueries(qTerms))
    val dfB = spark.sparkContext.broadcast(dfMap)
    val nL = snap.stats.numDocs
    val avgdlL = snap.stats.avgdl
    livePostings(spark, snap, allTerms, keepDeleted = true) { run =>
      val qids = termQB.value.getOrElse(run.term, Array.emptyIntArray)
      val target = targetB.value
      val df = dfB.value.getOrElse(run.term, 0L)
      val idf = Bm25.idf(df, nL)
      (blk, i) => target.get((run.shard, blk.ords(i))) match {
        case None => Iterator.empty
        case Some(id) =>
          val norm = Bm25.tfNorm(blk.tfs(i), blk.dls(i), avgdlL)
          qids.iterator.map(q =>
            (q, id, run.term, blk.tfs(i), blk.dls(i), df, idf, norm, idf * norm))
      }
    }.toDF("query_id", "doc_id", "term", "tf", "dl", "df",
      "idf", "tf_norm", "contribution")
  }

  /** Highlighting (the OpenSearch `highlight` fetch phase — the unified
    * highlighter's best-fragment selection, at the TOKEN level): run the
    * base BM25 top-k, then render one fragment per hit with every
    * query-term occurrence wrapped in `preTag`/`postTag`. Token-level is
    * the documented divergence from Lucene's raw-text character offsets
    * (the analyzer here lowercases and splits identifiers, so original
    * offsets don't survive it): fragments are the analyzed tokens
    * space-re-joined — exactly what an ANSI-SQL oracle can replay from
    * the staged (pos, term) rows.
    *
    * Fragment contract (deterministic): among the hit's matched
    * positions p, choose the one maximizing the number of matched
    * positions in `[p, p + fragSize)` — a window maximizing match count
    * always exists whose start IS a matched position (shifting a window
    * right onto its first match loses nothing) — tie → smallest p; the
    * fragment is the tokens in that window (clipped at doc end).
    *
    * Scale shape: hits are |queries|·k rows — resolved to (shard, ord)
    * via one docmap join and broadcast against the staging archive's
    * token rows (content never re-read, the [[termVectors]] discipline);
    * the fragment is chosen per row in one narrow pass. Works on indexes
    * built without positional postings (positions come from the staged
    * analyzer output).
    * @return (query_id int, rank int, doc_id string, score double,
    *          highlight string) */
  def highlightSearch(spark: SparkSession, dir: String, queries: Seq[RefQuery],
                      k: Int, fragSize: Int = 10,
                      preTag: String = "<em>", postTag: String = "</em>",
                      conjunctive: Boolean = false): DataFrame = {
    require(fragSize > 0, s"fragSize must be positive: $fragSize")
    val snap = SnapshotCatalog.require(spark, dir)
    val hits = searchSnapshot(spark, snap, queries, k, conjunctive)
    val qTermsB = spark.sparkContext.broadcast(
      queries.map(q => q.query_id -> Golden.queryTerms(q.text, analyzerOf(snap)).toSet).toMap)
    // hits are live by construction, but after an upsert (or delete +
    // re-append) a hit doc_id matches the DEAD docmap row too — without
    // the mask each such hit duplicates with a stale-token fragment
    val hitAddrs = liveHits(spark, snap, hits)
    val staged = Tables.staged(spark, dir)
      .select(col("shard"), col("ord"), col("tokens"))
    val fragSizeL = fragSize
    val preL = preTag
    val postL = postTag
    val hl = udf((ts: Seq[String], qid: Int) => {
      val qs = qTermsB.value.getOrElse(qid, Set.empty[String])
      if (ts == null || ts.isEmpty || qs.isEmpty) ""
      else {
        val ps = Array.newBuilder[Int]
        var i = 0
        while (i < ts.length) { if (qs(ts(i))) ps += i; i += 1 }
        val mp = ps.result()
        if (mp.isEmpty) ""
        else {
          // matched positions are ascending; per candidate start, the
          // window match count is a two-pointer range over mp
          var best = mp(0)
          var bestCnt = -1
          var lo = 0
          while (lo < mp.length) {
            val p = mp(lo)
            var hi = lo
            while (hi < mp.length && mp(hi) < p + fragSizeL) hi += 1
            if (hi - lo > bestCnt) { bestCnt = hi - lo; best = p }
            lo += 1
          }
          val end = math.min(best + fragSizeL, ts.length)
          val sb = new StringBuilder
          var j = best
          while (j < end) {
            if (j > best) sb.append(' ')
            if (qs(ts(j))) sb.append(preL).append(ts(j)).append(postL)
            else sb.append(ts(j))
            j += 1
          }
          sb.toString
        }
      }
    })
    Tables.onAddr(staged, broadcast(hitAddrs))
      .select(col("query_id"), col("rank"), col("doc_id"), col("score"),
        hl(col("tokens"), col("query_id")).as("highlight"))
  }

  /** Named queries (the OpenSearch `_name` clause marker +
    * `matched_queries` hit field): run the base BM25 top-k, then each hit
    * reports which NAMED clauses matched it — a clause is a match-query
    * text whose analyzed terms hit on ANY occurrence (the match query's
    * OR semantics). Names are returned name-ascending, comma-joined —
    * the deterministic rendering an ANSI-SQL oracle can replay.
    *
    * Scale shape: the [[highlightSearch]] discipline — |queries|·k hits
    * broadcast against the staging archive's token rows, presence checked
    * per row in one narrow pass; content never re-read.
    * @return (query_id int, rank int, doc_id string, score double,
    *          matched_queries string) */
  def namedQueriesSearch(spark: SparkSession, dir: String,
                         queries: Seq[RefQuery],
                         named: Map[String, String], k: Int,
                         conjunctive: Boolean = false): DataFrame = {
    require(named.nonEmpty, "namedQueriesSearch needs at least one named clause")
    val snap = SnapshotCatalog.require(spark, dir)
    val hits = searchSnapshot(spark, snap, queries, k, conjunctive)
    val clauses: Seq[(String, Set[String])] = named.toSeq.sortBy(_._1)
      .map { case (n, text) => (n, Golden.queryTerms(text, analyzerOf(snap)).toSet) }
    val clausesB = spark.sparkContext.broadcast(clauses)
    // mask dead docmap rows sharing a hit's doc_id (upsert / delete +
    // re-append) — the highlightSearch discipline
    val hitAddrs = liveHits(spark, snap, hits)
    val staged = Tables.staged(spark, dir)
      .select(col("shard"), col("ord"), col("tokens"))
    val mq = udf((ts: Seq[String]) => {
      val present = if (ts == null) Set.empty[String] else ts.toSet
      clausesB.value.iterator
        .filter { case (_, terms) => terms.exists(present) }
        .map(_._1).mkString(",")
    })
    Tables.onAddr(staged, broadcast(hitAddrs))
      .select(col("query_id"), col("rank"), col("doc_id"), col("score"),
        mq(col("tokens")).as("matched_queries"))
  }

  /** Term-vectors API (the OpenSearch `_termvectors` / `_mtermvectors`
    * analog): for each requested LIVE document, one row per distinct
    * term carrying the doc-local and corpus-wide statistics OpenSearch
    * returns — term frequency (`tf`), the ordered 0-based token
    * `positions` (comma-joined, the analyzer's own offsets), corpus doc
    * frequency (`df`) and corpus total term frequency (`ttf`), both
    * delete-exact from the snapshot's termstats. Token arrays come from
    * the staging archive via ONE equi-join on its native (shard, ord)
    * key — content is never re-read or re-tokenized, and the op works on
    * indexes built WITHOUT positional postings (positions here are the
    * staged analyzer output, not the posting payload). Requested ids
    * that are absent or tombstoned yield no rows (a deleted doc has no
    * term vectors), and an upserted identity reports its LIVE version.
    *
    * Scale shape: docs are request-scale (you inspect a handful), so
    * their live (shard, ord) addresses ([[Tables.live]]) broadcast on
    * the one long key; the only data-sized
    * scan is the staged-token join, pruned by that broadcast before the
    * explode. A term present in the doc but missing from termstats (the
    * documented torn-append window) reports df/ttf 0 rather than
    * failing, consistent with the scorers' safe default.
    * @return (doc_id string, term string, tf long, positions string,
    *          df long, ttf long) */
  def termVectors(spark: SparkSession, dir: String,
                  docIds: Seq[String]): DataFrame = {
    require(docIds.nonEmpty, "termVectors needs at least one doc id")
    val snap = SnapshotCatalog.require(spark, dir)
    require(snap.isComplete, s"snapshot ${snap.id} is not a complete index")
    val ids = docIds.distinct
    val target = Tables.live(spark, snap, Tables.docmap(spark, snap)
      .filter(col("doc_id").isin(ids: _*))
      .select(col("shard"), col("ord"), col("doc_id")))
    val staged = Tables.staged(spark, dir)
      .select(col("shard"), col("ord"), col("tokens"))
    val tv = Tables.onAddr(staged, broadcast(target))
      .select(col("doc_id"), posexplode(col("tokens")))
      .withColumnRenamed("col", "term")
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"),
        concat_ws(",",
          sort_array(collect_list(col("pos"))).cast("array<string>")).as("positions"))
    val ts = Tables.termstats(spark, snap.termstatsDir)
    tv.join(ts, Seq("term"), "left")
      .select(col("doc_id"), col("term"), col("tf"), col("positions"),
        coalesce(col("df"), lit(0L)).as("df"),
        coalesce(col("cf"), lit(0L)).as("ttf"))
  }

  /** Delete-by-query — the OpenSearch `_delete_by_query` API: tombstone
    * every LIVE document matching the query set (OR = contains any query
    * term, conjunctive = all of them), with the exact termstats
    * subtraction, shrunken global stats, and atomic snapshot commit of
    * [[graft.index.IndexBuilder.delete]] (golden/WAND bit-identity holds
    * across it like any other delete — the lifecycle specs pin that).
    *
    * Scale shape: the match set moves as slim (shard, ord) pairs (one
    * [[livePostings]] decode, as for every full-match-set op here),
    * deduplicated, then joined ONCE against the docmap on its native
    * (shard, ord) key to pick up the tombstone row columns. No scores
    * are computed — matching is containment, not ranking. */
  def deleteByQuery(spark: SparkSession, dir: String, queries: Seq[RefQuery],
                    conjunctive: Boolean = false,
                    cfg: graft.index.BuildConfig = graft.index.BuildConfig()): Snapshot =
    graft.index.IndexBuilder.deleteVictims(spark, dir, (parent, docmap) => {
      val m = matchedOrds(spark, parent, queries, conjunctive)
        .select(col("shard"), col("ord")).distinct()
      docmap.join(m, Seq("shard", "ord"))
    }, cfg)

  /** Update-by-query — the OpenSearch `_update_by_query` API restricted
    * to its metadata half: set docmap metadata columns (or append new tag
    * columns) on every LIVE document matching the query set, committed
    * atomically as a new snapshot generation. Matching is containment
    * (OR = any query term, conjunctive = all), like [[deleteByQuery]];
    * the update itself — column rules, immutable-column protection,
    * consolidation, lineage — is
    * [[graft.index.IndexBuilder.updateMetadata]]. Scores and ranks are
    * bit-identical across the commit (content and stats untouched); only
    * metadata-surface ops (filters, facets, stats/range/histogram aggs,
    * top_hits buckets) see the new values. */
  def updateByQuery(spark: SparkSession, dir: String, queries: Seq[RefQuery],
                    set: Map[String, org.apache.spark.sql.Column],
                    conjunctive: Boolean = false): Snapshot =
    graft.index.IndexBuilder.updateMetadata(spark, dir, (parent, live) => {
      val m = matchedOrds(spark, parent, queries, conjunctive)
        .select(col("shard"), col("ord")).distinct()
      live.join(m, Seq("shard", "ord"))
    }, set)

  /** The live match set of each query as slim (query_id, shard, ord)
    * triples — backs [[Aggs.facetCounts]], [[Aggs.matchCountsSnapshot]] and the
    * match-set aggregations, and [[deleteByQuery]] / [[updateByQuery]].
    * Tombstones are subtracted during posting decode ([[livePostings]]). */
  private[search] def matchedOrds(spark: SparkSession, snap: Snapshot,
                                  queries: Seq[RefQuery], conjunctive: Boolean): DataFrame =
    matchedOrdsTerms(spark, snap,
      queries.map(q => q.query_id -> Golden.queryTerms(q.text, analyzerOf(snap))).toMap,
      conjunctive)

  /** [[matchedOrds]] with each query given directly as its analyzed term
    * set — the entry point for callers whose terms never were text
    * (terms-lookup reads them from an indexed document). */
  private def matchedOrdsTerms(spark: SparkSession, snap: Snapshot,
                               qTerms: Map[Int, Array[String]],
                               conjunctive: Boolean): DataFrame = {
    import spark.implicits._
    require(snap.isComplete, s"snapshot ${snap.id} is not a complete index")
    val allTerms = qTerms.values.flatten.toArray.distinct
    val termQB = spark.sparkContext.broadcast(termQueries(qTerms))
    // one slim (query_id, shard, ord) row per LIVE posting of a queried
    // term (ords only — tfs/dls never decode); (term, shard, ord) is
    // unique across runs (salted runs split by ord range, append
    // generations own disjoint ord ranges), so in conjunctive mode the
    // per-(query, doc) row count IS the distinct matched-term count
    val matches = livePostings(spark, snap, allTerms) { run =>
      val qids = termQB.value.getOrElse(run.term, Array.emptyIntArray)
      (blk, i) => qids.iterator.map(q => (q, run.shard, blk.ords(i)))
    }.toDF("query_id", "shard", "ord")
    if (!conjunctive) matches.distinct()
    else allTermsMatched(spark, qTerms,
      matches.groupBy("query_id", "shard", "ord").agg(count(lit(1)).as("nt")))
  }

  /** Conjunctive mode of the two match-set builders: the (query, doc)
    * rows whose distinct matched-term count `nt` is the query's term
    * count. */
  private def allTermsMatched(spark: SparkSession, qTerms: Map[Int, Array[String]],
                              grouped: DataFrame): DataFrame = {
    import spark.implicits._
    val qn = qTerms.toSeq.map { case (qid, ts) => (qid, ts.length) }.toDF("query_id", "qt")
    grouped.join(broadcast(qn), Seq("query_id"))
      .filter(col("nt") === col("qt")).drop("nt", "qt")
  }

  /** term → the keys (query ids) carrying it, distinct and ascending: the
    * one term routing map of the match-set builders, the WAND fan-out
    * and the percolator. */
  private[search] def termQueries[Q: Ordering: scala.reflect.ClassTag](
      qTerms: Iterable[(Q, Array[String])]): Map[String, Array[Q]] =
    qTerms.toSeq.flatMap { case (q, ts) => ts.map(t => (t, q)) }
      .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).distinct.sorted.toArray }

  /** The docmap attach of the exact match-set paths: `frame` joined to
    * the docmap on its (shard, ord) address, carrying `cols` (the whole
    * docmap row when none are named). */
  private[search] def withDocmap(spark: SparkSession, snap: Snapshot, frame: DataFrame,
                                 cols: Column*): DataFrame = {
    val dm = Tables.docmap(spark, snap)
    Tables.onAddr(frame, if (cols.isEmpty) dm else dm.select(col("shard") +: col("ord") +: cols: _*))
  }

  /** The live (shard, ord) docmap rows of `hits`' doc ids, with the hit
    * columns: a hit's doc id also names the dead row an upsert or a delete
    * + re-append left behind. */
  private def liveHits(spark: SparkSession, snap: Snapshot, hits: DataFrame): DataFrame =
    Tables.live(spark, snap, Tables.docmap(spark, snap)
      .select(col("shard"), col("ord"), col("doc_id"))
      .join(broadcast(hits), Seq("doc_id")))

  /** [[matchedOrds]] with docmap `cols` attached. */
  private[search] def matchedValues(spark: SparkSession, snap: Snapshot,
                                    queries: Seq[RefQuery], conjunctive: Boolean,
                                    cols: Column*): DataFrame =
    withDocmap(spark, snap, matchedOrds(spark, snap, queries, conjunctive), cols: _*)

  /** The two-phase top-k cut: a `rank` column holding the first `k` rows
    * of each `by` group under `order`, doc_id asc last. The global top-k
    * lies within the union of the per-(by, shard) top-ks, so a per-shard
    * pre-cut first bounds each single-partition group window to ≤ S×k
    * rows instead of the full match set (the eager local-top-k bound). */
  private[search] def topKPerQuery(df: DataFrame, k: Int, by: Seq[String],
                                   order: Column*): DataFrame = {
    val ord = order :+ col("doc_id").asc
    df.withColumn("pr", row_number().over(
        Window.partitionBy((by :+ "shard").map(col): _*).orderBy(ord: _*)))
      .filter(col("pr") <= k).drop("pr")
      .withColumn("rank", row_number().over(Window.partitionBy(by.map(col): _*).orderBy(ord: _*)))
      .filter(col("rank") <= k)
  }

  /** [[topKPerQuery]] by score for frames whose shard space a per-doc
    * combine or a parent/child join erased: 64 synthetic shards hashed
    * from doc_id bound the global window to ≤ 64·k rows per query. */
  private[search] def topKByDocHash(df: DataFrame, k: Int): DataFrame =
    topKPerQuery(df.withColumn("shard", pmod(xxhash64(col("doc_id")), lit(64))), k,
      Seq("query_id"), col("score").desc)

  /** The query pad (API totality: every query_id gets a row): the query
    * spine, crossed with `grid` (percentile, probe, bucket or filter rows)
    * when given, left-joined to each of `aggs` on the columns it shares
    * with the frame built so far. */
  private[search] def perQuery(spark: SparkSession, queries: Seq[RefQuery],
                               grid: Option[DataFrame], aggs: DataFrame*): DataFrame = {
    import spark.implicits._
    val spine = queries.map(_.query_id).toDF("query_id")
    aggs.foldLeft(grid.fold(spine)(spine.crossJoin))((l, r) =>
      l.join(r, l.columns.intersect(r.columns).toSeq, "left"))
  }

  /** Per-query analyzed terms with `*`-prefix expansion against the
    * snapshot's term dictionary: ALL prefixes across the query set expand
    * in ONE [[prefixTerms]] pass, each capped at `maxExpansions` in
    * ascending term order. Prefixes are lowercased (the analyzer
    * lowercases terms); a prefix matching nothing contributes no terms. */
  def expandQueries(spark: SparkSession, snap: Snapshot, queries: Seq[RefQuery],
                    maxExpansions: Int = 1024): Map[Int, Array[String]] = {
    require(maxExpansions > 0, s"maxExpansions must be positive: $maxExpansions")
    requireWordChain(snap, "prefix expansion")
    expandMarked(snap, queries, "*")(prefixTerms(spark, snap, _, maxExpansions))
  }

  /** Time travel by snapshot id (Iceberg `VERSION AS OF`): query the index
    * exactly as it stood at that commit — appends, deletes, and compactions
    * made after it are invisible. Fails if the id was never committed or
    * has been expired ([[graft.table.SnapshotCatalog.expireSnapshots]]). */
  def searchAt(spark: SparkSession, dir: String, snapshotId: Long,
               queries: Seq[RefQuery], k: Int, conjunctive: Boolean = false,
               filter: Option[org.apache.spark.sql.Column] = None): DataFrame =
    searchSnapshot(spark, SnapshotCatalog.loadId(spark, dir, snapshotId),
      queries, k, conjunctive, filter)

  /** Phrase top-k over the positional index. `slop = 0` (default) is the
    * exact consecutive-sequence `match_phrase`; `slop > 0` is the
    * IN-ORDER proximity contract (Lucene `span_near(in_order = true)` /
    * the ordered core of `match_phrase` slop): a hit must contain
    * positions p₀ < p₁ < … < pₘ₋₁ of the phrase terms IN PHRASE ORDER
    * with (pₘ₋₁ − p₀) − (m − 1) ≤ slop — up to `slop` extra tokens
    * interleaved, no reordering (Lucene's transposed-phrase slop
    * accounting is the documented divergence; the in-order rule is what
    * an ANSI-SQL oracle can replay). The plan is the phrase's distinct
    * terms as must clauses plus a `SpanNear(tokens, slop)` acceptance,
    * which [[Spans.matches]] decides by a greedy minimal chain per start
    * position — picking the smallest next in-order position minimizes the
    * final span, so greedy is exact. Scoring is BM25 over the phrase's
    * distinct terms, golden-bit-identical. */
  def phraseSearch(spark: SparkSession, dir: String, queries: Seq[RefQuery],
                   k: Int,
                   filter: Option[org.apache.spark.sql.Column] = None,
                   slop: Int = 0): DataFrame =
    phraseSearchSnapshot(spark, SnapshotCatalog.require(spark, dir), queries, k, filter,
      slop)

  def phraseSearchSnapshot(spark: SparkSession, snap: Snapshot,
                           queries: Seq[RefQuery], k: Int,
                           filter: Option[org.apache.spark.sql.Column] = None,
                           slop: Int = 0): DataFrame = {
    require(snap.positions,
      s"phrase search requires a positional index (snapshot ${snap.id} was " +
        "built without BuildConfig.positions)")
    require(slop >= 0, s"slop must be >= 0: $slop")
    searchImpl(spark, snap, queries.map(q => q.query_id ->
      QueryPlan.phrase(analyzerOf(snap).analyzeQuery(q.text), slop)).toMap, k, filter)
  }

  /** Phrase-prefix top-k (the OpenSearch `match_phrase_prefix` query —
    * the search-as-you-type shape): the query's analyzed tokens form a
    * phrase whose LAST token is a PREFIX, expanded against the committed
    * term dictionary (capped at `maxExpansions` in ascending term order,
    * the deterministic MultiTermQuery rewrite [[prefixSearch]] uses); a
    * hit must contain the fixed tokens as a phrase (with the usual
    * in-order `slop` budget — see [[phraseSearch]]) followed by ANY
    * expanded term in the next slot. Scoring is the BM25 sum over the
    * phrase's distinct FIXED terms only — the expansion matches but never
    * scores (the documented divergence from Lucene's blended
    * MultiPhraseQuery weight; a term-level contract an ANSI-SQL oracle
    * can replay) — so scores stay bit-identical to
    * [[Golden.phrasePrefixTopK]] over the same expansion. A prefix
    * matching no dictionary term matches nothing (Lucene's
    * MatchNoDocsQuery rewrite). Requires a positional index and at least
    * one fixed token — a single-word prefix query is [[prefixSearch]].
    * @return (query_id int, rank int, doc_id string, score double) */
  def phrasePrefixSearch(spark: SparkSession, dir: String,
                         queries: Seq[RefQuery], k: Int,
                         maxExpansions: Int = 1024, slop: Int = 0,
                         filter: Option[org.apache.spark.sql.Column] = None): DataFrame =
    phrasePrefixSearchSnapshot(spark, SnapshotCatalog.require(spark, dir), queries, k,
      maxExpansions, slop, filter)

  def phrasePrefixSearchSnapshot(spark: SparkSession, snap: Snapshot,
                                 queries: Seq[RefQuery], k: Int,
                                 maxExpansions: Int = 1024, slop: Int = 0,
                                 filter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    require(snap.positions,
      s"phrase-prefix search requires a positional index (snapshot ${snap.id} " +
        "was built without BuildConfig.positions)")
    require(slop >= 0, s"slop must be >= 0: $slop")
    val (qFixed, qExp) = phrasePrefixExpand(spark, snap, queries, maxExpansions)
    searchImpl(spark, snap, qFixed.map { case (qid, fixed) =>
      qid -> QueryPlan.phrase(fixed, slop, Some(qExp(qid))) }, k, filter)
  }

  /** The shared expansion of [[phrasePrefixSearch]] and its golden twin:
    * per query, (fixed token sequence, dictionary expansion of the last
    * token). The last ANALYZED token is the prefix — `Tokenizer` runs
    * first, so `"matchPre"` prefixes on `pre`, exactly what gets indexed.
    * All prefixes expand in ONE [[prefixTerms]] pass, the rewrite
    * [[expandQueries]] uses. Requires every query to analyze to >= 2
    * tokens. */
  def phrasePrefixExpand(spark: SparkSession, snap: Snapshot,
                         queries: Seq[RefQuery], maxExpansions: Int = 1024):
      (Map[Int, Array[String]], Map[Int, Array[String]]) = {
    require(maxExpansions > 0, s"maxExpansions must be positive: $maxExpansions")
    val parsed: Seq[(Int, Array[String], String)] = queries.map { q =>
      val ts = analyzerOf(snap).analyzeQuery(q.text)
      require(ts.length >= 2,
        s"phrase-prefix needs >= 2 analyzed tokens (use prefixSearch for " +
          s"a single-word prefix): '${q.text}'")
      (q.query_id, ts.init, ts.last)
    }
    val byPrefix = prefixTerms(spark, snap, parsed.map(_._3), maxExpansions)
    (parsed.map { case (qid, fixed, _) => qid -> fixed }.toMap,
     parsed.map { case (qid, _, p) =>
       qid -> byPrefix.getOrElse(p, Array.empty[String]) }.toMap)
  }

  /** Span-query top-k (the OpenSearch/Lucene `span_*` family — see
    * [[SpanQuery]] for the AST and the oracle-replayable scoring
    * contract): each query is a span tree evaluated per candidate doc by
    * [[Spans.matches]] over decoded posting positions; candidates stream
    * from a disjunctive WAND over the tree's scoring terms, so block-max
    * pruning still applies (the span accept can only shrink the match
    * set, never raise a score above the bound). Requires a positional
    * index. Bit-identical to [[Golden.spanTopK]]: same AST evaluator,
    * same ascending-term summation.
    * @return (query_id int, rank int, doc_id string, score double) */
  def spanSearch(spark: SparkSession, dir: String,
                 queries: Seq[(Int, SpanQuery)], k: Int,
                 filter: Option[org.apache.spark.sql.Column] = None): DataFrame =
    spanSearchSnapshot(spark, SnapshotCatalog.require(spark, dir), queries, k, filter)

  def spanSearchSnapshot(spark: SparkSession, snap: Snapshot,
                         queries: Seq[(Int, SpanQuery)], k: Int,
                         filter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    require(snap.positions,
      s"span search requires a positional index (snapshot ${snap.id} was " +
        "built without BuildConfig.positions)")
    queries.foreach { case (qid, q) =>
      require(Spans.scoringTerms(q).nonEmpty,
        s"span query $qid has no scoring terms") }
    searchImpl(spark, snap, queries.map { case (qid, q) => qid -> QueryPlan.span(q) }.toMap,
      k, filter)
  }

  /** span_multi (the OpenSearch `span_multi` wrapper): rewrite a
    * multi-term pattern — `pars*` (prefix) or `sparc~` (fuzzy) — into a
    * [[SpanOr]] over its dictionary expansion, usable as a clause
    * anywhere a span query nests (Lucene's top_terms rewrite, which
    * also turns the wrapped query into a disjunction of concrete
    * terms). Scoring then follows the span family's one documented
    * contract — BM25 over the tree's distinct scoring terms, i.e. the
    * expanded terms a doc contains — a divergence from Lucene's blended
    * rewrite weights, the same one [[phrasePrefixSearch]] documents.
    *
    * The pattern is ONE word (whitespace is rejected), lowercased like
    * the analyzer and expanded by the same [[prefixTerms]] /
    * [[fuzzyTerms]] rewrite as the standalone prefix/fuzzy queries: one
    * pass against the term dictionary, deterministic first-
    * `maxExpansions`. A pattern matching nothing yields an empty
    * [[SpanOr]] — it produces no spans, so the enclosing clause matches
    * nothing (Lucene's behavior), and standalone use fails
    * [[spanSearch]]'s no-scoring-terms require loudly. */
  def spanMulti(spark: SparkSession, snap: Snapshot, pattern: String,
                maxExpansions: Int = 128, maxEdits: Int = 1): SpanQuery = {
    require(pattern.length > 1,
      s"span_multi pattern too short: '$pattern'")
    require(!pattern.exists(Character.isWhitespace),
      s"span_multi pattern must be one word: '$pattern'")
    require(maxExpansions > 0, s"maxExpansions must be positive: $maxExpansions")
    val word = pattern.dropRight(1).toLowerCase(java.util.Locale.ROOT)
    val expanded: Array[String] =
      if (pattern.endsWith("*")) {
        requireWordChain(snap, "prefix expansion")
        prefixTerms(spark, snap, Seq(word), maxExpansions).getOrElse(word, Array.empty)
      } else if (pattern.endsWith("~")) {
        require(maxEdits >= 0 && maxEdits <= 8, s"maxEdits must be in [0, 8]: $maxEdits")
        requireWordChain(snap, "fuzzy expansion")
        fuzzyTerms(spark, snap, Seq(word -> maxEdits), 0, maxExpansions, transpositions = false)
          .getOrElse((word, maxEdits), Array.empty)
      } else throw new IllegalArgumentException(
        s"span_multi pattern must end in * (prefix) or ~ (fuzzy): '$pattern'")
    SpanOr(expanded.distinct.sorted.toSeq.map(SpanTerm))
  }

  /** The secondary score of [[rescorePhrase]]: 0.0 when the doc does not
    * contain the phrase (within `slop`, [[Golden.chainMatch]]), else the
    * BM25 sum over the phrase's DISTINCT terms in ascending term order
    * (the engine-wide summation contract), tf/dl taken from the doc's
    * analyzed tokens, idf from termstats. */
  private def secondaryPhraseScore(ts: Seq[String], phrase: Seq[String],
                                   idf: String => Double, avgdl: Double,
                                   slop: Int): Double = {
    if (!Golden.chainMatch(ts.toIndexedSeq, phrase.toIndexedSeq, slop)) 0.0
    else {
      val dl = ts.length.toLong
      var acc = 0.0
      phrase.distinct.sorted.foreach { t =>
        var tf = 0L
        ts.foreach(x => if (x == t) tf += 1)
        if (tf > 0) acc += idf(t) * Bm25.tfNorm(tf, dl, avgdl)
      }
      acc
    }
  }

  /** Rescore (the OpenSearch `rescore` clause with a `match_phrase`
    * rescorer, `score_mode: total`): run the base BM25 query to depth
    * `window`, then re-rank ONLY those hits by
    * `queryWeight × base + rescoreWeight × secondary`, where the
    * secondary is the phrase score of the query's own analyzed token
    * sequence ([[secondaryPhraseScore]]; [[Golden.rescorePhraseTopK]]
    * computes the same sum independently) — 0 for window docs that don't
    * contain the phrase within `slop`, so they keep their weighted base
    * score (the OpenSearch behavior). Hits
    * below the window are never promoted — the defining property of
    * rescoring vs re-querying, and the reason it's cheap: proximity is
    * evaluated for |queries| × window docs, not the match set.
    *
    * Scale shape: the window rides a broadcast join against the docmap
    * (live-masked) and then against the staging archive's (shard, ord)
    * token rows — the same content-never-re-read discipline as
    * [[termVectors]], which also makes rescoring work on positionless
    * indexes. Nothing data-sized shuffles; the staged scan is the one
    * full pass, pruned to window rows by the broadcast hash join.
    * @return (query_id int, rank int, doc_id string, score double) */
  def rescorePhrase(spark: SparkSession, dir: String, queries: Seq[RefQuery],
                    k: Int, window: Int, slop: Int = 0,
                    queryWeight: Double = 1.0, rescoreWeight: Double = 1.0,
                    conjunctive: Boolean = false): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    require(window >= k, s"window ($window) must be >= k ($k)")
    require(slop >= 0, s"slop must be >= 0: $slop")
    val snap = SnapshotCatalog.require(spark, dir)
    val base = searchSnapshot(spark, snap, queries, window, conjunctive)
      .withColumnRenamed("score", "base_score").drop("rank")
    val phrases: Map[Int, Seq[String]] = queries.map(q =>
      q.query_id -> analyzerOf(snap).analyzeQuery(q.text).toSeq).toMap
    val allTerms = phrases.values.flatten.toArray.distinct
    val n = snap.stats.numDocs
    val avgdl = snap.stats.avgdl
    val dfMap: Map[String, Long] = dfFor(spark, snap, allTerms)
    val idfMap: Map[String, Double] =
      allTerms.map(t => t -> Bm25.idf(dfMap.getOrElse(t, 0L), n)).toMap
    val idfB = spark.sparkContext.broadcast(idfMap)
    val qpB = spark.sparkContext.broadcast(phrases)
    // live (shard, ord) of each window doc: base hits are live by
    // construction, but a superseded identity shares its doc_id with the
    // dead version's docmap row — anti-join those out before the token
    // join (slim distributed tombstone scan; nothing driver-resident)
    val win = liveHits(spark, snap, base)
    val slopL = slop
    val secU = udf((qid: Int, ts: Seq[String]) =>
      secondaryPhraseScore(ts, qpB.value(qid), idfB.value, avgdl, slopL))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    Tables.onAddr(Tables.staged(spark, dir).select(col("shard"), col("ord"), col("tokens")),
        broadcast(win))
      .withColumn("score",
        lit(queryWeight) * col("base_score") +
          lit(rescoreWeight) * secU(col("query_id"), col("tokens")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "doc_id", "score")
  }

  /** Encode a filtered search's ACCEPT SET as synthetic posting runs —
    * one [[Kernel.FilterTerm]] run per shard whose "postings" are the sorted
    * accepted ords (tf=1, dl=1, zero idf at query time, so it can never
    * contribute score). The runs then ride the SAME shuffle as real term
    * segments, which is the scale-honest transport: the accept set of an
    * unselective predicate is O(numDocs) and may not be broadcast or
    * collected — as compressed delta-varbyte runs it moves O(accepted/S)
    * per shard, executor-to-executor, exactly like posting data.
    *
    * Plan: docmap scan (predicate + column pruning pushed to parquet) →
    * one slim (shard, ord) exchange onto preimage keys (one shard per
    * partition, in-partition sort) → streaming per-shard block encode.
    * Appended generations' docmap parts each cover disjoint ord ranges,
    * so the in-partition sort restores one ascending ord stream per
    * shard. */
  private def filterRuns(spark: SparkSession, snap: Snapshot,
                         pred: org.apache.spark.sql.Column): org.apache.spark.sql.Dataset[SegRun] = {
    import spark.implicits._
    val avgdl = snap.stats.avgdl
    val keys = graft.plans.KeySpread.preimages(snap.numShards)
    Tables.docmap(spark, snap)
      .filter(pred)
      .select(col("shard"), col("ord"))
      .withColumn("hkey", element_at(typedLit(keys.toSeq), col("shard") + 1))
      .repartition(snap.numShards, col("hkey"))
      .sortWithinPartitions(col("shard"), col("ord"))
      .select(col("shard"), col("ord")).as[(Int, Long)]
      .mapPartitions { it =>
        val buf = it.buffered
        new Iterator[SegRun] {
          def hasNext: Boolean = buf.hasNext
          def next(): SegRun = {
            val shard = buf.head._1
            val ords = Array.newBuilder[Long]
            while (buf.hasNext && buf.head._1 == shard) ords += buf.next()._2
            val o = ords.result()
            val ones = Array.fill(o.length)(1L)
            val blocks = Codec.buildBlocks(o, ones, ones, avgdl).toSeq
            SegRun(shard, Kernel.FilterTerm, o.length.toLong, o.length.toLong, avgdl, blocks)
          }
        }
      }
  }

  /** Per-JVM df memo, keyed by the termstats dir's FILE-STATUS fingerprint
    * (file names + lengths + mtimes). Termstats dirs are versioned and
    * never overwritten in place, so a fingerprint identifies immutable
    * content — and when a test or a rebuilt per-query index reuses the
    * same PATH for a different corpus, the fingerprint changes and the
    * memo misses naturally. Stores df for every REQUESTED term (explicit
    * 0 for dictionary-absent ones), so a query battery's repeated
    * searches skip the per-search collect job once their terms are known.
    * Bounded: cleared wholesale past 64 distinct dirs (long test JVMs
    * build many small indexes). */
  private val dfMemo = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]]

  private def termstatsFingerprint(spark: SparkSession, dir: String): String = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sb = new java.lang.StringBuilder(dir)
    fs.listStatus(p).sortBy(_.getPath.getName).foreach { st =>
      sb.append('|').append(st.getPath.getName).append(':')
        .append(st.getLen).append(':').append(st.getModificationTime)
    }
    sb.toString
  }

  private def dfFor(spark: SparkSession, snap: Snapshot,
                    allTerms: Array[String]): Map[String, Long] = {
    import spark.implicits._
    val key = termstatsFingerprint(spark, snap.termstatsDir)
    if (dfMemo.size > 64) dfMemo.clear()
    val memo = dfMemo.computeIfAbsent(key,
      _ => new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long])
    val missing = allTerms.filterNot(memo.containsKey)
    if (missing.nonEmpty) {
      val got: Map[String, Long] = termPruned(
          Tables.termstats(spark, snap.termstatsDir), missing)
        .select("term", "df").as[(String, Long)].collect().toMap
      missing.foreach(t => memo.put(t, Long.box(got.getOrElse(t, 0L))))
    }
    allTerms.map(t => t -> memo.get(t).longValue()).toMap
  }

  /** Core fan-out shared by every WAND-served search: one [[QueryPlan]]
    * per query id, evaluated per (shard, query block) group by
    * [[Kernel.groupTopK]]. `from` is the pagination offset: every shard
    * fetches its local top-(from + k) — pruning bounds stay lossless
    * because the heap just grew — and the global windows keep ranks
    * (from, from + k]. `shardDocOrder` breaks score ties by (shard, ord)
    * instead of doc_id and returns those columns (search_after). */
  private def searchImpl(spark: SparkSession, snap: Snapshot,
                         plans: Map[Int, QueryPlan], k: Int,
                         filter: Option[org.apache.spark.sql.Column] = None,
                         from: Int = 0,
                         shardDocOrder: Boolean = false): DataFrame = {
    import spark.implicits._
    require(snap.isComplete, s"snapshot ${snap.id} is not a complete index")
    require(from >= 0, s"from must be >= 0: $from")
    val n = snap.stats.numDocs
    val avgdl = snap.stats.avgdl
    // routing terms: every term whose posting runs a query's tasks need,
    // match-only ones (must_not, span-only, phrase-prefix expansions)
    // included — they are scanned and routed, but never score
    val qRouting: Map[Int, Array[String]] = plans.map { case (q, p) => q -> p.routing }
    val allTerms = qRouting.values.flatten.toArray.distinct

    // global idf from committed termstats (term-pruned scan, tiny collect,
    // per-JVM memo — see dfFor), folded into the plans' weights before
    // they are broadcast. Defined for EVERY scoring term, not just those
    // present in termstats: in append()'s documented two-commit window a
    // term first introduced by the batch exists in segments while
    // termstats still reflects the parent — df falls back to 0 (the
    // parent's df for a new term), which is exactly the docstring's
    // "scores new terms with the parent's df" instead of a
    // NoSuchElementException inside the executor.
    val scoring = plans.valuesIterator.flatMap(p => (p.must ++ p.should).map(_.term))
      .toArray.distinct
    val dfMap: Map[String, Long] = dfFor(spark, snap, scoring)
    val plansB = spark.sparkContext.broadcast(
      plans.map { case (q, p) => q -> p.weighted(t => Bm25.idf(dfMap.getOrElse(t, 0L), n)) })

    val segs = termPruned(Tables.segments(spark, snap.segmentDirs), allTerms)

    // delete tombstones (if any) via per-shard sidecar files read INSIDE
    // the decode task (never driver-collected or broadcast); the per-JVM
    // cache makes the read once-per-executor — see DeleteMask
    val delMask = graft.index.DeleteMask.forSnapshot(spark, snap)

    // Fan-out = shards × query blocks, NOT just shards: with S shards and
    // C cores the old per-shard grouping capped parallelism at S and ran
    // every query serially inside each task (on a 1000-executor cluster
    // with S=64, 936 cores idle). Queries are split into B blocks and each
    // shard's (term-pruned, compressed) segment group is replicated to the
    // blocks that actually query its term — replication is bounded by B
    // and skipped entirely for terms only one block asks for. Keys go
    // through KeySpread preimages so the S·B groups spread EXACTLY evenly
    // over the shuffle partitions (plain hashing of 64 groups into
    // cores·2 partitions leaves 2-3x stragglers in every wave).
    val S = snap.numShards
    val cores = math.max(1, spark.sparkContext.defaultParallelism)
    val B = math.max(1, math.min(math.max(1, plans.size / 16),
      math.min(graft.plans.KeySpread.Mod / S, math.ceil(2.0 * cores / S).toInt)))
    val termBlocks: Map[String, Array[Int]] = termQueries(qRouting)
      .map { case (t, qs) => t -> qs.map(math.floorMod(_, B)).distinct.sorted }
    val termBlocksB = spark.sparkContext.broadcast(termBlocks)
    val keys = graft.plans.KeySpread.preimages(S * B)
    val keyToIdx: Map[Int, Int] = keys.zipWithIndex.toMap
    val keyToIdxB = spark.sparkContext.broadcast(keyToIdx)
    val bLocal = B
    val kFetch = from + k // per-shard fetch depth: page offset + page size

    val filteredLocal = filter.isDefined
    // per shard, its generation starts (Kernel.ordTies): in the
    // search_after order (shard, ord) every shard is one generation
    val starts: Option[Array[Array[Long]]] =
      if (shardDocOrder) Some(Array.fill(S)(Array.emptyLongArray))
      else snap.generationStarts.filter(_.forall(_.length == S))
        .map(gs => Array.tabulate(S)(s => gs.map(_(s)).toArray))
    // per-group shared-decode budget (see Kernel.DecodeBudget)
    val decodeCacheBytes =
      Kernel.decodeCacheMbBytes(spark.conf.getOption("spark.graft.decodeCacheMb"))
    // The fan-out key is attached NATIVELY (udf-lookup → explode →
    // element_at), never by round-tripping rows through SegRun objects:
    // the old typed flatMap deserialized every pruned run (one SegBlock
    // object + three byte-array copies per block) and immediately
    // re-encoded it for the exchange — a full decode+encode of all
    // shuffled segment bytes that existed only to attach an int. Rows now
    // flow scan → project/explode → exchange as UnsafeRows; the single
    // object materialization happens after the shuffle, inside the WAND
    // task that needs the objects anyway.
    val segCols = Seq("shard", "term", "count", "cf", "avgdl", "blocks")
    def keyedByBlocks(df: DataFrame, blocksOf: Column): DataFrame =
      df.withColumn("qb", explode(blocksOf))
        .withColumn("key", element_at(typedLit(keys.toSeq),
          col("shard") * bLocal + col("qb") + 1))
        .select(col("key"), struct(segCols.map(col): _*).as("seg"))
    val termBlocksUdf = udf((t: String) =>
      termBlocksB.value.getOrElse(t, Array.emptyIntArray))
    val keyed0 = keyedByBlocks(segs, termBlocksUdf(col("term")))
    // a filtered search's accept runs join the same keyed stream — every
    // query block of a shard needs its shard's accept set
    val keyed = filter match {
      case None => keyed0
      case Some(pred) => keyed0.unionByName(keyedByBlocks(
        filterRuns(spark, snap, pred).toDF(),
        typedLit((0 until bLocal).toArray)))
    }
    // EXPLICIT partition count (a user repartition is exempt from AQE
    // coalescing): AQE otherwise merges this — the single most expensive
    // stage of the query path — to a task count like 1.5× cores, wasting
    // a third of the cluster in the final wave. 2 waves of equal tasks
    // pack perfectly at any core count; the in-partition sort restores
    // contiguous key runs so groups stream one at a time, same as
    // groupByKey, without its AQE-owned exchange.
    val wandParts = math.max(1, math.min(S * bLocal, 2 * cores))
    val hits = keyed
      .repartition(wandParts, col("key")).sortWithinPartitions("key")
      .as[(Int, SegRun)]
      .mapPartitions { it =>
        val buf = it.buffered
        new Iterator[Iterator[ShardHit]] {
          def hasNext: Boolean = buf.hasNext
          def next(): Iterator[ShardHit] = {
            val key = buf.head._1
            val runs = Seq.newBuilder[SegRun]
            while (buf.hasNext && buf.head._1 == key) runs += buf.next()._2
            val idx = keyToIdxB.value(key)
            val shard = idx / bLocal
            val block = idx % bLocal
            Kernel.groupTopK(shard, runs.result(), delMask(shard),
              plansB.value.iterator.filter { case (qid, _) => math.floorMod(qid, bLocal) == block },
              kFetch, avgdl, filteredLocal, decodeCacheBytes, starts.map(_(shard)))
          }
        }.flatten
      }

    // prune to the global top-(from + k) per query BEFORE touching the
    // docmap: rank() (not row_number) keeps every boundary tie, so the
    // later doc_id tie-break cannot lose a rightful winner; only then are
    // the few surviving (shard, ord) pairs resolved to doc ids (a
    // broadcast of Q×(from+k) rows against the docmap, plus the ties at
    // each query's last score: at most from+k per shard and generation)
    val w1 = Window.partitionBy(col("query_id")).orderBy(col("score").desc)
    val pruned = hits.toDF()
      .withColumn("r", rank().over(w1)).filter(col("r") <= kFetch).drop("r")
    val resolved = Tables.onAddr(
      Tables.docmap(spark, snap).select(col("shard"), col("ord"), col("doc_id")),
      broadcast(pruned))
    if (shardDocOrder) {
      // search_after mode: ties order by the internal (shard, ord) key —
      // OpenSearch's recommended `_shard_doc` PIT tiebreaker — so the
      // cursor predicate each shard evaluated locally IS the global sort,
      // and rank is PAGE-relative (shard/ord come back as cursor columns)
      val w2 = Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("shard").asc, col("ord").asc)
      resolved.withColumn("rank", row_number().over(w2))
        .filter(col("rank") > from && col("rank") <= kFetch)
        .select(col("query_id"), col("rank"), col("doc_id"), col("score"),
          col("shard"), col("ord"))
    } else {
      val w2 = Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("doc_id").asc)
      resolved.withColumn("rank", row_number().over(w2))
        .filter(col("rank") > from && col("rank") <= kFetch)
        .select(col("query_id"), col("rank"), col("doc_id"), col("score"))
    }
  }
}
