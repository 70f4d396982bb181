package graft.search

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.analyze.AnalyzerConfig
import graft.corpus.RefQuery

/** The exact BM25 scorer — the "primary cluster" of the comparison pair
  * (reference discipline: primary = source of truth,
  * response_comparison.py:32-46). Pure declarative DataFrame plan over the
  * raw corpus: tokenize → per-(doc,term) tf → early semi-filter on the
  * (broadcast) query-term set → score → per-query top-k window.
  *
  * Determinism contract shared with [[Wand]]: per-term contributions are
  * `Bm25.idf * Bm25.tfNorm` (the same JVM functions), summed in ascending
  * term order — so golden and fast scores are bit-identical doubles.
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
    * returning. The method runs three actions over the tokenized corpus
    * (stats, df, score) and the tokenizer is the dominant cost — `toks`
    * is persisted across them and unpersisted before return, which needs
    * the final plan forced while the cache is alive.
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
                analyzer: AnalyzerConfig = AnalyzerConfig.default): DataFrame = {
    val toks = docs.select(col("doc_id"), analyzer.tokens(col("content")).as("tokens"))
      .withColumn("dl", size(col("tokens")).cast("long"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try topKOverToks(spark, toks, qTerms, k, conjunctive, docFilter = docFilter,
      from = from)
    finally toks.unpersist(false)
  }

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
                  analyzer: AnalyzerConfig = AnalyzerConfig.default): DataFrame = {
    import spark.implicits._
    val toks = docs.select(col("doc_id"), analyzer.tokens(col("content")).as("tokens"))
      .withColumn("dl", size(col("tokens")).cast("long"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val ctx = scoreCtx(spark, toks,
        qBoost.values.flatten.map(_._1).toArray.distinct)
      val qdf = qBoost.toSeq
        .flatMap { case (qid, ts) => ts.map { case (t, w) => (qid, t, w) } }
        .toDF("query_id", "term", "boost")
      val scored0 = ctx.tfq.join(broadcast(qdf), Seq("term"))
        .withColumn("c",
          ctx.contribBoost(col("term"), col("boost"), col("tf"), col("dl")))
        .groupBy("query_id", "doc_id")
        .agg(sumSorted(collect_list(struct(col("term"), col("c")))).as("score"),
          count(lit(1)).as("nt"))
      val scored1 =
        if (!conjunctive) scored0.drop("nt")
        else {
          val qn = qBoost.toSeq.map { case (qid, ts) => (qid, ts.length) }
            .toDF("query_id", "qt")
          scored0.join(broadcast(qn), Seq("query_id"))
            .filter(col("nt") === col("qt")).drop("nt", "qt")
        }
      val scored = docFilter.fold(scored1)(f =>
        scored1.join(f.select("doc_id"), Seq("doc_id"), "left_semi"))
      finishTopK(spark, scored, k, from)
    } finally toks.unpersist(false)
  }

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
    import spark.implicits._
    require(slop >= 0, s"slop must be >= 0: $slop")
    val toks = docs.select(col("doc_id"), analyzer.tokens(col("content")).as("tokens"))
      .withColumn("dl", size(col("tokens")).cast("long"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val slopL = slop
      val containsSeq = udf((ts: Seq[String], phrase: Seq[String]) =>
        chainMatch(ts, phrase, slopL))
      val qp = queries.map(q => (q.query_id, analyzer.analyzeQuery(q.text).toSeq))
        .toDF("query_id", "phrase")
      // |queries| is tiny: the broadcast product is one narrow pass over
      // the tokenized corpus per query, the honest exact baseline
      val matches = toks.crossJoin(broadcast(qp))
        .filter(containsSeq(col("tokens"), col("phrase")))
        .select("query_id", "doc_id")
      topKOverToks(spark, toks,
        queries.map(q => q.query_id -> queryTerms(q.text, analyzer)).toMap,
        k, conjunctive = false,
        matchFilter = Some(matches), docFilter = docFilter)
    } finally toks.unpersist(false)
  }

  /** Greedy minimal in-order chain containment — the ONE phrase-match
    * predicate both engines' rescorers share: positions p₀ < … < pₘ₋₁ of
    * the phrase tokens in order with (pₘ₋₁ − p₀) − (m − 1) ≤ slop. From
    * each start, picking the smallest next in-order occurrence minimizes
    * the final span, so greedy is exact (budget 0 forces consecutive —
    * the plain match_phrase). */
  private[search] def chainMatch(ts: Seq[String], phrase: Seq[String],
                                 slop: Int): Boolean = {
    if (ts == null || phrase == null || phrase.isEmpty) false
    else {
      val arr = ts.toArray
      val m = phrase.length
      var found = false
      var i = 0
      while (!found && i < arr.length) {
        if (arr(i) == phrase(0)) {
          var curP = i
          var ok = true
          var j = 1
          while (ok && j < m) {
            // token j past i + j + slop already spends more than the
            // budget, whatever follows
            val limit = math.min(arr.length.toLong, i.toLong + j + slop + 1).toInt
            var q = curP + 1
            while (q < limit && arr(q) != phrase(j)) q += 1
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

  /** The shared secondary scorer of [[rescorePhraseTopK]] and
    * [[Wand.rescorePhrase]] — ONE definition so the two engines are
    * bit-identical by construction: 0.0 when the doc does not contain the
    * phrase (within `slop`), else the BM25 sum over the phrase's DISTINCT
    * terms in ascending term order (the engine-wide summation contract),
    * tf/dl taken from the doc's analyzed tokens, idf supplied by the
    * caller (termstats on the engine side, exact toks-df on the golden
    * side — equal doubles on a committed index). */
  private[search] def secondaryPhraseScore(ts: Seq[String],
                                           phrase: Seq[String],
                                           idf: String => Double,
                                           avgdl: Double, slop: Int): Double = {
    if (!chainMatch(ts, phrase, slop)) 0.0
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

  /** Exact rescore — the golden counterpart of [[Wand.rescorePhrase]]
    * (the OpenSearch `rescore` clause with a `match_phrase` rescorer,
    * `score_mode: total`): the base BM25 top-`window` hits are re-ranked
    * by `queryWeight × base + rescoreWeight × secondary`, where the
    * secondary is the [[secondaryPhraseScore]] of the query's own
    * analyzed token sequence (0 for window docs that don't contain the
    * phrase — they keep their weighted base score, the OpenSearch
    * behavior). Hits below the window are never promoted — the defining
    * property of rescoring vs re-querying.
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
    val base = topK(spark, docs, queries, window, conjunctive,
        analyzer = analyzer)
      .withColumnRenamed("score", "base_score").drop("rank")
    val toks = docs.select(col("doc_id"), analyzer.tokens(col("content")).as("tokens"))
      .withColumn("dl", size(col("tokens")).cast("long"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val statsRow = toks.agg(count(lit(1)), coalesce(sum(col("dl")), lit(0L))).head()
      val n = statsRow.getLong(0)
      val avgdl = if (n == 0) 1.0 else statsRow.getLong(1).toDouble / n
      val phrases: Map[Int, Seq[String]] =
        queries.map(q => q.query_id -> analyzer.analyzeQuery(q.text).toSeq).toMap
      val allTerms = phrases.values.flatten.toArray.distinct
      val dfMap: Map[String, Long] = Wand.termPruned(
          toks.select(col("doc_id"), explode(col("tokens")).as("term")), allTerms)
        .groupBy("term").agg(count_distinct(col("doc_id")).as("df"))
        .as[(String, Long)].collect().toMap
      val idfMap: Map[String, Double] =
        allTerms.map(t => t -> Bm25.idf(dfMap.getOrElse(t, 0L), n)).toMap
      val idfB = spark.sparkContext.broadcast(idfMap)
      val qpB = spark.sparkContext.broadcast(phrases)
      val slopL = slop
      val secU = udf((qid: Int, ts: Seq[String]) =>
        secondaryPhraseScore(ts, qpB.value(qid), idfB.value, avgdl, slopL))
      val scored = toks.join(broadcast(base), Seq("doc_id"))
        .withColumn("score",
          lit(queryWeight) * col("base_score") +
            lit(rescoreWeight) * secU(col("query_id"), col("tokens")))
      finishTopK(spark, scored.select("query_id", "doc_id", "score"), k)
    } finally toks.unpersist(false)
  }

  /** Exact phrase-prefix top-k — the golden counterpart of
    * [[Wand.phrasePrefixSearchSnapshot]], over the SAME expansion
    * ([[Wand.phrasePrefixExpand]] is shared by both engines): a hit must
    * contain the fixed token sequence as an in-order phrase within the
    * `slop` budget, followed by ANY expanded term in the next slot
    * (checked by a brute-force greedy scan over the full token array —
    * greedy minimal chains are exact, see [[phraseTopK]]); scored as the
    * BM25 sum over the distinct FIXED terms only.
    * @param qFixed per-query fixed token sequence (phrase order)
    * @param qExp   per-query expansion of the last (prefix) token */
  def phrasePrefixTopK(spark: SparkSession, docs: DataFrame,
                       qFixed: Map[Int, Array[String]],
                       qExp: Map[Int, Array[String]], k: Int,
                       slop: Int = 0,
                       analyzer: AnalyzerConfig = AnalyzerConfig.default): DataFrame = {
    import spark.implicits._
    require(slop >= 0, s"slop must be >= 0: $slop")
    require(qFixed.values.forall(_.nonEmpty),
      "phrase-prefix needs at least one fixed token per query")
    val toks = docs.select(col("doc_id"), analyzer.tokens(col("content")).as("tokens"))
      .withColumn("dl", size(col("tokens")).cast("long"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val slopL = slop
      val containsPp = udf((ts: Seq[String], phrase: Seq[String], exps: Seq[String]) => {
        if (ts == null || phrase == null || phrase.isEmpty ||
            exps == null || exps.isEmpty) false
        else {
          // greedy minimal in-order chain per start (exact for any slop —
          // budget 0 forces consecutive), then the smallest expansion
          // occurrence after the chain end pays the same budget:
          // (expansion pos − start) − |fixed| ≤ slop
          val arr = ts.toArray
          val expSet = exps.toSet
          val m = phrase.length
          var found = false
          var i = 0
          while (!found && i < arr.length) {
            if (arr(i) == phrase(0)) {
              var curP = i
              var ok = true
              var j = 1
              while (ok && j < m) {
                var q = curP + 1
                while (q < arr.length && arr(q) != phrase(j)) q += 1
                if (q >= arr.length) ok = false
                else { curP = q; j += 1 }
              }
              if (ok) {
                var q = curP + 1
                while (q < arr.length && !expSet.contains(arr(q))) q += 1
                found = q < arr.length && (q - i) - m <= slopL
              }
            }
            i += 1
          }
          found
        }
      })
      val qp = qFixed.toSeq.map { case (qid, ph) =>
        (qid, ph.toSeq, qExp.getOrElse(qid, Array.empty[String]).toSeq)
      }.toDF("query_id", "phrase", "exps")
      val matches = toks.crossJoin(broadcast(qp))
        .filter(containsPp(col("tokens"), col("phrase"), col("exps")))
        .select("query_id", "doc_id")
      topKOverToks(spark, toks,
        qFixed.map { case (qid, ph) => qid -> ph.distinct.sorted },
        k, conjunctive = false, matchFilter = Some(matches))
    } finally toks.unpersist(false)
  }

  /** The shared scoring core every golden scorer composes — ONE
    * definition of the bit-identity-critical pieces: the per-(doc, term)
    * pruned tf table, the idf-broadcast per-term contribution, and the
    * ascending-term summation ([[sumSorted]]). */
  private case class ScoreCtx(n: Long, avgdl: Double, tfq: DataFrame,
                              contrib: org.apache.spark.sql.expressions.UserDefinedFunction,
                              /** boosted contribution — (idf × boost) ×
                                * tfNorm, the SAME association order the
                                * WAND engine uses (cursor idf is
                                * pre-multiplied by the boost), so boosted
                                * scores stay bit-identical too */
                              contribBoost: org.apache.spark.sql.expressions.UserDefinedFunction)

  /** Ascending-term summation — bit-identical to the WAND engine's
    * summation order (the contract both engines share; [[Wand]]'s
    * full-match-set scorer reuses it for the same reason). */
  private[search] val sumSorted = udf((xs: Seq[org.apache.spark.sql.Row]) => {
    val sorted = xs.map(r => (r.getString(0), r.getDouble(1))).sortBy(_._1)
    var acc = 0.0
    sorted.foreach(acc += _._2)
    acc
  })

  private def scoreCtx(spark: SparkSession, toks: DataFrame,
                       allTerms: Array[String],
                       persistTfq: Boolean = false): ScoreCtx = {
    import spark.implicits._
    // global stats — tiny agg, the two scalars every scorer needs
    val statsRow = toks.agg(count(lit(1)), coalesce(sum(col("dl")), lit(0L))).head()
    val n = statsRow.getLong(0)
    val avgdl = if (n == 0) 1.0 else statsRow.getLong(1).toDouble / n
    // filter BEFORE the tf aggregation: only query terms survive the
    // explode (isin below Wand.IsinMaxTerms, broadcast semi-join above it)
    val tfq0 = Wand.termPruned(
        toks.select(col("doc_id"), col("dl"), explode(col("tokens")).as("term")), allTerms)
      .groupBy("doc_id", "dl", "term")
      .agg(count(lit(1)).as("tf"))
    // persist BEFORE the df collect below so that action populates the
    // cache (multi-reference callers own the unpersist)
    val tfq = if (persistTfq)
      tfq0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else tfq0
    // exact global df per query term → driver-side idf map (|terms| is tiny)
    val dfMap: Map[String, Long] = tfq.groupBy("term").agg(count(lit(1)).as("df"))
      .as[(String, Long)].collect().toMap
    val idfMap: Map[String, Double] = dfMap.map { case (t, df) => t -> Bm25.idf(df, n) }
    val idfB = spark.sparkContext.broadcast(idfMap)
    val contrib = udf((term: String, tf: Long, dl: Long) =>
      idfB.value(term) * Bm25.tfNorm(tf, dl, avgdl))
    val contribBoost = udf((term: String, boost: Double, tf: Long, dl: Long) =>
      (idfB.value(term) * boost) * Bm25.tfNorm(tf, dl, avgdl))
    ScoreCtx(n, avgdl, tfq, contrib, contribBoost)
  }

  /** Per-(query, doc) BM25 sums over the scoring pairs `qdf`, plus the
    * matched-term count `nt` (tfq is unique per (doc, term) and qdf per
    * (query, term), so count(*) per group = matched distinct terms). */
  private def scoredOver(ctx: ScoreCtx, qdf: DataFrame): DataFrame =
    ctx.tfq.join(broadcast(qdf), Seq("term"))
      .withColumn("c", ctx.contrib(col("term"), col("tf"), col("dl")))
      .groupBy("query_id", "doc_id")
      .agg(sumSorted(collect_list(struct(col("term"), col("c")))).as("score"),
        count(lit(1)).as("nt"))

  private def topKOverToks(spark: SparkSession, toks: DataFrame,
                           qTerms: Map[Int, Array[String]], k: Int,
                           conjunctive: Boolean,
                           matchFilter: Option[DataFrame] = None,
                           docFilter: Option[DataFrame] = None,
                           from: Int = 0): DataFrame = {
    import spark.implicits._
    val ctx = scoreCtx(spark, toks, qTerms.values.flatten.toArray.distinct)
    val qdf = qTerms.toSeq.flatMap { case (qid, ts) => ts.map(t => (qid, t)) }
      .toDF("query_id", "term")
    // conjunctive keeps only docs matching the query's FULL term set
    // (a term with df=0 therefore empties its query, by construction)
    val scored0 = scoredOver(ctx, qdf)
    val scored1 =
      if (!conjunctive) scored0.drop("nt")
      else {
        val qn = qTerms.toSeq.map { case (qid, ts) => (qid, ts.length) }
          .toDF("query_id", "qt")
        scored0.join(broadcast(qn), Seq("query_id"))
          .filter(col("nt") === col("qt")).drop("nt", "qt")
      }
    // phrase (or any external) match set: a hit must also be in it. A
    // phrase match implies every term matches, so the scores are the full
    // per-term sums either way.
    val scored2 = matchFilter.fold(scored1)(m =>
      scored1.join(m, Seq("query_id", "doc_id"), "left_semi"))
    // doc-level filter: restrict candidates AFTER scoring, so stats and
    // per-doc scores are untouched (the filter never changes scores)
    val scored = docFilter.fold(scored2)(f =>
      scored2.join(f.select("doc_id"), Seq("doc_id"), "left_semi"))

    finishTopK(spark, scored, k, from)
  }

  /** Exact span-query top-k — the golden counterpart of
    * [[Wand.spanSearch]]: each query is a [[SpanQuery]] AST evaluated by
    * [[Spans.spans]] over per-term position lists built directly from the
    * document's token array (the brute-force source of truth the
    * positional index is compared against). A hit must produce at least
    * one span; it scores the BM25 sum over the tree's distinct scoring
    * terms PRESENT in the doc ([[Spans.scoringTerms]]), ascending term
    * order — see the scoring contract on [[SpanQuery]]. */
  def spanTopK(spark: SparkSession, docs: DataFrame,
               queries: Seq[(Int, SpanQuery)], k: Int,
               docFilter: Option[DataFrame] = None,
               analyzer: AnalyzerConfig = AnalyzerConfig.default): DataFrame = {
    import spark.implicits._
    require(queries.nonEmpty, "spanTopK needs at least one query")
    queries.foreach { case (qid, q) =>
      require(Spans.scoringTerms(q).nonEmpty,
        s"span query $qid has no scoring terms") }
    val toks = docs.select(col("doc_id"), analyzer.tokens(col("content")).as("tokens"))
      .withColumn("dl", size(col("tokens")).cast("long"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val qMapB = spark.sparkContext.broadcast(queries.toMap)
      val spanOk = udf((ts: Seq[String], qid: Int) => {
        val q = qMapB.value(qid)
        val need = Spans.allTerms(q).toSet
        val posMap = new scala.collection.mutable.HashMap[
          String, scala.collection.mutable.ArrayBuffer[Long]]()
        if (ts != null) {
          var i = 0
          while (i < ts.length) {
            val t = ts(i)
            if (need(t))
              posMap.getOrElseUpdate(t,
                new scala.collection.mutable.ArrayBuffer[Long]()) += i.toLong
            i += 1
          }
        }
        Spans.matches(q, t =>
          posMap.get(t).map(_.toArray).getOrElse(Array.emptyLongArray))
      })
      val qdf = queries.map(_._1).toDF("query_id")
      // |queries| is tiny: one narrow pass over the tokenized corpus per
      // query, the honest exact baseline (same shape as phraseTopK)
      val matches = toks.crossJoin(broadcast(qdf))
        .filter(spanOk(col("tokens"), col("query_id")))
        .select("query_id", "doc_id")
      topKOverToks(spark, toks,
        queries.map { case (qid, q) => qid -> Spans.scoringTerms(q) }.toMap,
        k, conjunctive = false,
        matchFilter = Some(matches), docFilter = docFilter)
    } finally toks.unpersist(false)
  }

  /** Shared tail of every golden scorer: per-query rank window, top-k cut,
    * then eager driver-side materialization. The (|queries|·k-row) result
    * is collected while the tokenized corpus is still cached and rebuilt
    * as a local DataFrame: nothing stays persisted after return (a
    * persisted result would leak one cache entry per call with no
    * unpersist path). */
  private def finishTopK(spark: SparkSession, scored: DataFrame, k: Int,
                         from: Int = 0): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    val out = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") > from && col("rank") <= from + k)
      .select(col("query_id"), col("rank"), col("doc_id"), col("score"))
    val rows = out.collect()
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, math.max(1, rows.length / 5000 + 1)),
      out.schema)
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
                  analyzer: AnalyzerConfig = AnalyzerConfig.default): DataFrame = {
    import spark.implicits._
    val toks = docs.select(col("doc_id"), analyzer.tokens(col("content")).as("tokens"))
      .withColumn("dl", size(col("tokens")).cast("long"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // mustNot terms ride the same pruned tf pass — they never score, but
      // the exclusion set is derived from the same (doc, term) rows.
      // tfq is persisted: the boolean path references it three times
      // (scoring, must-count, exclusion set)
      val ctx = scoreCtx(spark, toks,
        queries.flatMap(q => q.scoring ++ q.mustNot).distinct.toArray,
        persistTfq = true)
      val tfq = ctx.tfq
      try {
        val qdf = queries.flatMap(q => q.scoring.map(t => (q.query_id, t)))
          .toDF("query_id", "term")
        val scored0 = scoredOver(ctx, qdf).drop("nt")

        // must: matched-required-term count == |must| (queries with no
        // must clause require 0 and pass vacuously)
        val mustPairs = queries.flatMap(q => q.must.map(t => (q.query_id, t)))
        val scoredM =
          if (mustPairs.isEmpty) scored0
          else {
            val mm = tfq.join(broadcast(mustPairs.toDF("query_id", "term")), Seq("term"))
              .groupBy("query_id", "doc_id").agg(count(lit(1)).as("mm"))
            val nm = queries.map(q => (q.query_id, q.must.length)).toDF("query_id", "nm")
            scored0.join(broadcast(nm), Seq("query_id"))
              .join(mm, Seq("query_id", "doc_id"), "left")
              .filter(coalesce(col("mm"), lit(0L)) === col("nm"))
              .drop("mm", "nm")
          }

        // must_not: anti-join the per-query excluded-doc set
        val notPairs = queries.flatMap(q => q.mustNot.map(t => (q.query_id, t)))
        val scoredN =
          if (notPairs.isEmpty) scoredM
          else {
            val excl = tfq.join(broadcast(notPairs.toDF("query_id", "term")), Seq("term"))
              .select("query_id", "doc_id").distinct()
            scoredM.join(excl, Seq("query_id", "doc_id"), "left_anti")
          }

        // minimum_should_match: hits short of the per-query should-term
        // quota are dropped (scores untouched — the quota is a filter,
        // like OpenSearch's). Only queries with an EXPLICIT msm need the
        // recount: the pure-should default of 1 is structural (a doc with
        // zero scoring matches never enters tfq's join).
        val msmQueries = queries.filter(_.minShouldMatch > 0)
        val scoredQ =
          if (msmQueries.isEmpty) scoredN
          else {
            val shouldPairs = msmQueries.flatMap(q =>
              q.should.map(t => (q.query_id, t)))
            // quota rows exist ONLY for msm queries (left join): any
            // other query's hits pass untouched via the null-qmsm arm
            val qm = msmQueries.map(q => (q.query_id, q.effectiveMinShould))
              .toDF("query_id", "qmsm")
            val withQuota = scoredN.join(broadcast(qm), Seq("query_id"), "left")
            if (shouldPairs.isEmpty)
              withQuota.filter(col("qmsm").isNull || col("qmsm") <= 0).drop("qmsm")
            else {
              val sm = tfq
                .join(broadcast(shouldPairs.toDF("query_id", "term")), Seq("term"))
                .groupBy("query_id", "doc_id").agg(count(lit(1)).as("sm"))
              withQuota.join(sm, Seq("query_id", "doc_id"), "left")
                .filter(col("qmsm").isNull ||
                  coalesce(col("sm"), lit(0L)) >= col("qmsm"))
                .drop("sm", "qmsm")
            }
          }

        val scored = docFilter.fold(scoredQ)(f =>
          scoredQ.join(f.select("doc_id"), Seq("doc_id"), "left_semi"))
        finishTopK(spark, scored, k)
      } finally tfq.unpersist(false)
    } finally toks.unpersist(false)
  }
}
