package graft.search

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DoubleType, IntegerType, StringType, StructField, StructType}
import graft.analyze.AnalyzerConfig
import graft.corpus.RefQuery
import DocScan.DocQuery

/** The exact BM25 scorer — the "primary cluster" of the comparison pair
  * (reference discipline: primary = source of truth,
  * response_comparison.py:32-46). A brute-force pass over the raw corpus,
  * one document at a time ([[DocScan]]): analyze it, take `dl`, count its
  * (term, tf) pairs over the queries' sorted term dictionary and decide
  * which queries it is a hit of (phrase and phrase-prefix adjacency by
  * [[chainMatch]], spans by [[Spans.matches]], both on the token array);
  * one reduce of the per-partition sums gives N, Σdl and every df; each
  * partition then scores its hits and keeps its own top-k per query, and
  * one window over those cuts ranks the global top-k. tf is
  * document-local, so nothing shuffles before that window.
  *
  * Determinism contract shared with [[Wand]]: per-term contributions are
  * `(Bm25.idf × boost) × Bm25.tfNorm` (the same JVM functions; boost 1.0
  * unless caret-weighted), summed from 0.0 in ascending term order — so
  * golden and fast scores are bit-identical doubles. Equal scores rank by
  * doc_id ascending.
  */
object Golden {

  /** Tokenize a query exactly like documents (the index's analysis
    * chain — [[AnalyzerConfig]]); distinct sorted terms. */
  def queryTerms(text: String,
                 analyzer: AnalyzerConfig = AnalyzerConfig.default): Array[String] =
    analyzer.analyzeQuery(text).distinct.sorted

  /** Parse the `word^boost` query-string weight syntax (the Lucene/
    * OpenSearch caret operator): each whitespace word may carry a
    * trailing `^<positive number>`; the word part goes through the
    * document analyzer and every token it yields gets the word's boost
    * (default 1.0). Duplicate terms keep the MAX boost — consistent with
    * [[queryTerms]]' distinct rule, so `w^1 w` scores exactly like `w`.
    * Output is (term, boost) sorted ascending by term (the summation
    * order). A caret with a non-numeric tail is part of the word (and
    * dies in the analyzer), mirroring Lucene's lenient parse; boost 0 or
    * negative is rejected. */
  def queryTermsBoosted(text: String,
                        analyzer: AnalyzerConfig = AnalyzerConfig.default): Array[(String, Double)] = {
    val acc = scala.collection.mutable.Map.empty[String, Double]
    text.trim.split("\\s+").filter(_.nonEmpty).foreach { w =>
      val i = w.lastIndexOf('^')
      val parsed =
        if (i > 0 && i < w.length - 1)
          scala.util.Try(w.substring(i + 1).toDouble).toOption
            .map(b => (w.substring(0, i), b))
        else None
      val (wordPart, boost) = parsed.getOrElse((w, 1.0))
      require(boost > 0.0 && !boost.isInfinite,
        s"boost must be a positive finite number: '$w'")
      analyzer.analyzeQuery(wordPart).foreach { t =>
        acc(t) = math.max(acc.getOrElse(t, 0.0), boost)
      }
    }
    acc.toArray.sortBy(_._1)
  }

  /** Exact top-k for every query.
    *
    * Eager: the (tiny, |queries|·k-row) result is materialized before
    * returning, and nothing stays cached (see [[ranks]]).
    *
    * @param docs (doc_id: string, content: string)
    * @param conjunctive require EVERY query term in a hit (AND semantics);
    *                    default is BM25's usual OR
    * @param docFilter optional accepted-doc set (a DataFrame with a
    *                  `doc_id` column): hits are restricted to it, but
    *                  N/avgdl/df — and therefore scores — stay those of
    *                  the FULL corpus (Lucene filter-clause semantics,
    *                  mirrored by [[Wand]]'s `filter` parameter)
    * @return (query_id int, rank int, doc_id string, score double)
    */
  def topK(spark: SparkSession, docs: DataFrame, queries: Seq[RefQuery],
           k: Int, conjunctive: Boolean = false,
           docFilter: Option[DataFrame] = None, from: Int = 0,
           analyzer: AnalyzerConfig = AnalyzerConfig.default): DataFrame =
    topKTerms(spark, docs,
      queries.map(q => q.query_id -> queryTerms(q.text, analyzer)).toMap,
      k, conjunctive, docFilter, from, analyzer)

  /** Exact search_after counterpart of [[Wand.searchAfterSnapshot]]:
    * scores EVERY match, attaches the index-internal (shard, ord) sort
    * key from the docmap, reorders by the `_shard_doc` tie contract
    * (score desc, shard asc, ord asc), drops hits at or before each
    * query's cursor, and windows to the page. Brute force by design —
    * the source of truth the paged engine is compared against.
    *
    * @param docmap (doc_id, shard, ord) — the snapshot's committed docmap
    * @param after per-query (score, shard, ord) cursor, as [[Wand.searchAfterSnapshot]]
    * @return (query_id int, rank int [page-relative], doc_id string,
    *         score double, shard int, ord long) */
  def topKAfter(spark: SparkSession, docs: DataFrame, queries: Seq[RefQuery],
                k: Int, docmap: DataFrame,
                after: Map[Int, (Double, Int, Long)] = Map.empty,
                conjunctive: Boolean = false,
                analyzer: AnalyzerConfig = AnalyzerConfig.default): DataFrame = {
    import spark.implicits._
    val full = topK(spark, docs, queries, Int.MaxValue, conjunctive,
        analyzer = analyzer)
      .drop("rank")
      .join(docmap.select(col("doc_id"), col("shard"), col("ord")), "doc_id")
    val curs = after.toSeq.map { case (q, (s, sh, o)) => (q, s, sh, o) }
      .toDF("query_id", "c_score", "c_shard", "c_ord")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("shard").asc, col("ord").asc)
    full.join(broadcast(curs), Seq("query_id"), "left")
      .filter(col("c_score").isNull ||
        col("score") < col("c_score") ||
        (col("score") === col("c_score") &&
          (col("shard") > col("c_shard") ||
            (col("shard") === col("c_shard") && col("ord") > col("c_ord")))))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"), col("score"),
        col("shard"), col("ord"))
  }

  /** [[topK]] with each query given directly as its analyzed term set
    * (distinct, ascending) — the entry point for callers that expand
    * queries themselves (e.g. [[Wand.expandQueries]] prefix queries).
    * `from` mirrors [[Wand.search]]'s pagination offset: ranks
    * (from, from + k] with absolute rank numbers. */
  def topKTerms(spark: SparkSession, docs: DataFrame,
                qTerms: Map[Int, Array[String]], k: Int,
                conjunctive: Boolean = false,
                docFilter: Option[DataFrame] = None, from: Int = 0,
                analyzer: AnalyzerConfig = AnalyzerConfig.default): DataFrame =
    byQuery(spark, docs,
      qTerms.toSeq.map { case (qid, ts) => qid -> DocQuery(QueryPlan.terms(ts, conjunctive)) },
      k, from, docFilter, analyzer)

  /** Exact boosted top-k — the golden counterpart of
    * [[Wand.boostedSearchSnapshot]]: per-(query, term) weights multiply the
    * term's idf before the tf-norm product ((idf × boost) × tfNorm, the
    * shared association order), contributions summed ascending by term.
    * `qBoost` is [[queryTermsBoosted]] output per query. */
  def topKBoosted(spark: SparkSession, docs: DataFrame,
                  qBoost: Map[Int, Array[(String, Double)]], k: Int,
                  conjunctive: Boolean = false,
                  docFilter: Option[DataFrame] = None,
                  from: Int = 0,
                  analyzer: AnalyzerConfig = AnalyzerConfig.default): DataFrame =
    byQuery(spark, docs, qBoost.toSeq.map { case (qid, ts) =>
      qid -> DocQuery(QueryPlan.terms(ts.map(_._1), conjunctive, ts.toMap))
    }, k, from, docFilter, analyzer)

  /** Exact phrase top-k — the golden counterpart of
    * [[Wand.phraseSearchSnapshot]]: each query text is one phrase; a hit
    * must contain its tokens in order within `slop` (0 = consecutive),
    * checked by [[chainMatch]] over the full token array — the
    * brute-force source of truth the positional index is compared
    * against, independent of the engine's [[Spans]] path — and is scored
    * as the BM25 sum over the phrase's distinct terms. */
  def phraseTopK(spark: SparkSession, docs: DataFrame, queries: Seq[RefQuery],
                 k: Int, docFilter: Option[DataFrame] = None,
                 slop: Int = 0,
                 analyzer: AnalyzerConfig = AnalyzerConfig.default): DataFrame = {
    require(slop >= 0, s"slop must be >= 0: $slop")
    byQuery(spark, docs, queries.map { q =>
      val phrase = analyzer.analyzeQuery(q.text)
      q.query_id -> DocQuery(QueryPlan.terms(phrase.distinct.sorted), Some(chainTest(phrase, slop)))
    }, k, 0, docFilter, analyzer)
  }

  /** Greedy minimal in-order chain containment — the ONE phrase-match
    * predicate of the golden scorer, the percolator and the WAND
    * rescorer: positions p₀ < … < pₘ₋₁ of the slots in order with
    * (pₘ₋₁ − p₀) − (m − 1) ≤ slop. The slots are the phrase tokens, then,
    * when `last` is set (phrase-prefix), one more slot matched by any
    * term of `last`. From each start, picking the smallest next in-order
    * occurrence minimizes the final span, so greedy is exact (budget 0
    * forces consecutive — the plain match_phrase); the scan for slot j
    * stops at p₀ + j + slop, past which the budget is already spent, so a
    * start costs at most (slop + 1) probes per slot. */
  private[search] def chainMatch(ts: scala.collection.IndexedSeq[String],
                                 phrase: scala.collection.IndexedSeq[String],
                                 slop: Int, last: Option[Set[String]] = None): Boolean = {
    if (ts == null || phrase == null || phrase.isEmpty) false
    else {
      val m = phrase.length + (if (last.isDefined) 1 else 0)
      def fits(j: Int, t: String): Boolean =
        if (j < phrase.length) t == phrase(j) else last.get.contains(t)
      var found = false
      var i = 0
      while (!found && i < ts.length) {
        if (ts(i) == phrase(0)) {
          var curP = i
          var ok = true
          var j = 1
          while (ok && j < m) {
            // token j past i + j + slop already spends more than the
            // budget, whatever follows
            val limit = math.min(ts.length.toLong, i.toLong + j + slop + 1).toInt
            var q = curP + 1
            while (q < limit && !fits(j, ts(q))) q += 1
            if (q >= limit) ok = false
            else { curP = q; j += 1 }
          }
          found = ok && (curP - i) - (m - 1) <= slop
        }
        i += 1
      }
      found
    }
  }

  /** [[chainMatch]] of `phrase` as a [[DocScan]] token test. */
  private def chainTest(phrase: Array[String], slop: Int,
                        last: Option[Set[String]] = None): Array[String] => Boolean = {
    val ph = phrase.toIndexedSeq
    ts => chainMatch(ts, ph, slop, last)
  }

  /** Exact rescore — the golden counterpart of [[Wand.rescorePhrase]]
    * (the OpenSearch `rescore` clause with a `match_phrase` rescorer,
    * `score_mode: total`): the base BM25 top-`window` hits are re-ranked
    * by `queryWeight × base + rescoreWeight × secondary`, where the
    * secondary is the BM25 sum over the distinct terms of the query's own
    * analyzed token sequence for window docs that contain it as a phrase
    * (within `slop`), else 0 — they keep their weighted base score, the
    * OpenSearch behavior. Hits below the window are never promoted — the
    * defining property of rescoring vs re-querying.
    *
    * One scan runs both query sets: the base queries and, per query, its
    * phrase query. A phrase hit holds every base term, so it is a base
    * hit with the same score, and its phrase rank is at most its base
    * rank: the phrase top-`window` holds every window doc that matches.
    * @return (query_id int, rank int, doc_id string, score double) */
  def rescorePhraseTopK(spark: SparkSession, docs: DataFrame,
                        queries: Seq[RefQuery], k: Int, window: Int,
                        slop: Int = 0, queryWeight: Double = 1.0,
                        rescoreWeight: Double = 1.0,
                        conjunctive: Boolean = false,
                        analyzer: AnalyzerConfig = AnalyzerConfig.default): DataFrame = {
    import spark.implicits._
    require(k > 0, s"k must be positive: $k")
    require(window >= k, s"window ($window) must be >= k ($k)")
    require(slop >= 0, s"slop must be >= 0: $slop")
    val qs = queries.toIndexedSeq
    val phrases = qs.map(q => analyzer.analyzeQuery(q.text))
    val base = phrases.map(ph => DocQuery(QueryPlan.terms(ph.distinct.sorted, conjunctive)))
    val phrase = phrases.map(ph =>
      DocQuery(QueryPlan.terms(ph.distinct.sorted), Some(chainTest(ph, slop))))
    val rows = ranks(spark, docs, base ++ phrase, window, 0, None, analyzer)
    val secondary: Map[(Int, String), Double] =
      rows.collect { case (j, _, d, s) if j >= qs.length => (j - qs.length, d) -> s }.toMap
    val rescored = rows.toSeq.collect { case (j, _, d, s) if j < qs.length =>
      (qs(j).query_id, d, queryWeight * s + rescoreWeight * secondary.getOrElse((j, d), 0.0))
    }
    frame(spark, finishTopK(rescored.toDF("query_id", "doc_id", "score"), k))
  }

  /** Exact phrase-prefix top-k — the golden counterpart of
    * [[Wand.phrasePrefixSearchSnapshot]], over the SAME expansion
    * ([[Wand.phrasePrefixExpand]] is shared by both engines): a hit must
    * contain the fixed token sequence as an in-order phrase within the
    * `slop` budget, followed by ANY expanded term in the next slot
    * ([[chainMatch]] with the expansion as its last slot); scored as the
    * BM25 sum over the distinct FIXED terms only.
    * @param qFixed per-query fixed token sequence (phrase order)
    * @param qExp   per-query expansion of the last (prefix) token */
  def phrasePrefixTopK(spark: SparkSession, docs: DataFrame,
                       qFixed: Map[Int, Array[String]],
                       qExp: Map[Int, Array[String]], k: Int,
                       slop: Int = 0,
                       analyzer: AnalyzerConfig = AnalyzerConfig.default): DataFrame = {
    require(slop >= 0, s"slop must be >= 0: $slop")
    require(qFixed.values.forall(_.nonEmpty),
      "phrase-prefix needs at least one fixed token per query")
    byQuery(spark, docs, qFixed.toSeq.map { case (qid, ph) =>
      val exps = qExp.getOrElse(qid, Array.empty[String]).toSet
      qid -> DocQuery(QueryPlan.terms(ph.distinct.sorted), Some(chainTest(ph, slop, Some(exps))))
    }, k, 0, None, analyzer)
  }

  /** Ascending-term summation — bit-identical to the WAND engine's
    * summation order (the contract both engines share); [[Wand]]'s
    * full-match-set scorers use it for the same reason. */
  private[search] val sumSorted = udf((xs: Seq[org.apache.spark.sql.Row]) => {
    val sorted = xs.map(r => (r.getString(0), r.getDouble(1))).sortBy(_._1)
    var acc = 0.0
    sorted.foreach(acc += _._2)
    acc
  })

  /** Exact span-query top-k — the golden counterpart of
    * [[Wand.spanSearch]]: each query is a [[SpanQuery]] AST evaluated by
    * [[Spans.matches]] over per-term position lists built directly from
    * the document's token array (the brute-force source of truth the
    * positional index is compared against). A hit must produce at least
    * one span; it scores the BM25 sum over the tree's distinct scoring
    * terms PRESENT in the doc ([[Spans.scoringTerms]]), ascending term
    * order — see the scoring contract on [[SpanQuery]]. */
  def spanTopK(spark: SparkSession, docs: DataFrame,
               queries: Seq[(Int, SpanQuery)], k: Int,
               docFilter: Option[DataFrame] = None,
               analyzer: AnalyzerConfig = AnalyzerConfig.default): DataFrame = {
    require(queries.nonEmpty, "spanTopK needs at least one query")
    queries.foreach { case (qid, q) =>
      require(Spans.scoringTerms(q).nonEmpty,
        s"span query $qid has no scoring terms") }
    byQuery(spark, docs, queries.map { case (qid, q) => qid -> DocQuery(QueryPlan.span(q)) },
      k, 0, docFilter, analyzer)
  }

  /** Exact boolean (`must`/`should`/`must_not`) top-k — the golden
    * counterpart of [[Wand.booleanSearch]], Lucene `bool`-query semantics
    * (see [[BoolQuery]]): a hit contains every `must` term and no
    * `mustNot` term (with no `must` clause, at least one `should` term);
    * the score is the BM25 sum over the scoring terms present, summed in
    * ascending term order for bit-identity with the WAND engine.
    * `docFilter` keeps the Lucene filter-clause contract of [[topK]]. */
  def booleanTopK(spark: SparkSession, docs: DataFrame, queries: Seq[BoolQuery],
                  k: Int, docFilter: Option[DataFrame] = None,
                  analyzer: AnalyzerConfig = AnalyzerConfig.default): DataFrame =
    byQuery(spark, docs, queries.map(q => q.query_id -> DocQuery(QueryPlan.bool(q))),
      k, 0, docFilter, analyzer)

  /** [[ranks]] of `queries`, as a (query_id, rank, doc_id, score) frame. */
  private def byQuery(spark: SparkSession, docs: DataFrame, queries: Seq[(Int, DocQuery)],
                      k: Int, from: Int, docFilter: Option[DataFrame],
                      analyzer: AnalyzerConfig): DataFrame = {
    val qs = queries.toIndexedSeq
    frame(spark, ranks(spark, docs, qs.map(_._2), k, from, docFilter, analyzer)
      .map { case (j, r, d, s) => (qs(j)._1, r, d, s) })
  }

  /** The one golden pipeline. One narrow pass per partition analyzes
    * each document and runs [[DocScan.Scanner]] over it, keeping the
    * partition's [[DocScan.Stats]] and its hit documents (term counts
    * only, no tokens) cached; a fold of the statistics — no shuffle —
    * gives N, avgdl and every idf; each partition then keeps its own
    * top-(from + k) per query ([[DocScan.topScores]]) and [[finishTopK]]
    * ranks them. `docFilter`'s doc_ids are collected and broadcast as a
    * set, so no document moves to apply it; every doc still counts in
    * the statistics.
    * @return per query index, its ranks (from, from + k] as
    *         (query index, rank, doc_id, score) */
  private def ranks(spark: SparkSession, docs: DataFrame, queries: IndexedSeq[DocQuery],
                    k: Int, from: Int, docFilter: Option[DataFrame],
                    analyzer: AnalyzerConfig): Array[(Int, Int, String, Double)] = {
    val compiled = spark.sparkContext.broadcast(new DocScan.Compiled(queries))
    val dictSize = compiled.value.dict.length
    val accepted = docFilter.map(f => spark.sparkContext.broadcast(
      f.select(col("doc_id")).filter(col("doc_id").isNotNull).collect()
        .iterator.map(_.getString(0)).toSet))
    val parts = docs.select(col("doc_id"), col("content")).rdd.mapPartitions { it =>
      val scanner = new DocScan.Scanner(compiled.value)
      val stats = DocScan.Stats.empty(dictSize)
      val hits = Array.newBuilder[DocScan.Doc]
      it.foreach { r =>
        val docId = r.getString(0)
        val content = r.getString(1)
        val d = scanner.scan(docId,
          if (content == null) Array.empty[String] else analyzer.analyze(content),
          accepted.forall(_.value.contains(docId)))
        stats.add(d)
        if (d.hits.nonEmpty) hits += d
      }
      Iterator.single((stats, hits.result()))
    }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val stats = parts.map(_._1).fold(DocScan.Stats.empty(dictSize))(_ merge _)
      val idf = stats.idf
      val avgdl = stats.avgdl
      val n = math.min(from.toLong + k, Int.MaxValue.toLong).toInt
      val scored = parts.flatMap { case (_, ds) =>
        DocScan.topScores(compiled.value, ds.iterator, idf, avgdl, n)
          .map { case (j, d, s) => Row(j, d, s) }
      }
      finishTopK(spark.createDataFrame(scored, ScoredSchema), k, from)
    } finally {
      parts.unpersist(false)
      compiled.destroy()
      accepted.foreach(_.destroy())
    }
  }

  private val ScoredSchema = StructType(Seq(StructField("query_id", IntegerType, false),
    StructField("doc_id", StringType, true), StructField("score", DoubleType, false)))

  /** The window every golden result ends in: per query, ranks
    * (from, from + k] by (score desc, doc_id asc), collected. */
  private def finishTopK(scored: DataFrame, k: Int,
                         from: Int = 0): Array[(Int, Int, String, Double)] = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") > from && col("rank") <= from + k)
      .select(col("query_id"), col("rank"), col("doc_id"), col("score"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getString(2), r.getDouble(3)))
  }

  /** Collected ranks as a local DataFrame, ordered by (query_id, rank):
    * nothing stays persisted after a golden call returns. */
  private def frame(spark: SparkSession, rows: Array[(Int, Int, String, Double)]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.sortBy(r => (r._1, r._2)).toIndexedSeq
        .map(r => Row(r._1, r._2, r._3, r._4)), math.max(1, rows.length / 5000 + 1)),
      StructType(Seq(StructField("query_id", IntegerType, false),
        StructField("rank", IntegerType, false), StructField("doc_id", StringType, true),
        StructField("score", DoubleType, false))))
}
