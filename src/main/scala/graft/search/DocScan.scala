package graft.search

/** The per-document half of the golden exact scorer ([[Golden]]). Nothing
  * here touches Spark: [[Golden]] runs [[Scanner.scan]] over each document
  * of a partition and [[topScores]] over the scanned documents, and tests
  * call both on plain token arrays.
  *
  * A document is read once: its analyzed tokens give `dl`, the sparse
  * (term index, tf) pairs over the queries' sorted term dictionary, and
  * the queries it is a hit of. Because tf is document-local, the corpus
  * statistics (N, Σdl, every df) are a sum of per-document [[Stats]], and
  * a score needs nothing but the document and those sums.
  */
private[search] object DocScan {

  /** One golden query: `plan` (its `after` is not read) and an optional
    * match test over the document's analyzed tokens (the phrase and
    * phrase-prefix reference, [[Golden.chainMatch]]). A hit contains at
    * least one scoring term, every `must` term, at least `minShould` of
    * the `should` terms and no `mustNot` term, produces a span of `span`
    * ([[Spans.matches]] over the token positions) when set, and passes
    * `test`. */
  final case class DocQuery(plan: QueryPlan, test: Option[Array[String] => Boolean] = None)

  /** `queries` compiled against their term dictionary: every clause term,
    * distinct and ascending, so ascending dictionary index is ascending
    * term order — the summation order both engines share. */
  final class Compiled(val queries: IndexedSeq[DocQuery]) extends Serializable {
    val dict: Array[String] = queries.iterator.flatMap { q =>
      q.plan.must.iterator.map(_.term) ++ q.plan.should.iterator.map(_.term) ++ q.plan.mustNot
    }.toArray.distinct.sorted
    private val index = {
      val m = new java.util.HashMap[String, Integer](dict.length * 2)
      dict.indices.foreach(i => m.put(dict(i), i))
      m
    }
    /** Dictionary index of `t`, -1 when no query names it. */
    def indexOf(t: String): Int = { val i = index.get(t); if (i == null) -1 else i.intValue }

    private def idx(ts: Array[String]): Array[Int] = ts.map(indexOf).sorted
    val must: Array[Array[Int]] = queries.map(q => idx(q.plan.must.map(_.term))).toArray
    val should: Array[Array[Int]] = queries.map(q => idx(q.plan.should.map(_.term))).toArray
    val mustNot: Array[Array[Int]] = queries.map(q => idx(q.plan.mustNot)).toArray
    /** Per query: its scoring clauses as (dictionary index, weight),
      * ascending by index. */
    val scoring: Array[(Array[Int], Array[Double])] = queries.map { q =>
      val cs = (q.plan.must ++ q.plan.should).map(c => (indexOf(c.term), c.weight)).sortBy(_._1)
      (cs.map(_._1), cs.map(_._2))
    }.toArray
    /** Every term of every `span` tree. */
    val spanTerms: Set[String] = queries.iterator.flatMap(_.plan.span.iterator)
      .flatMap(Spans.allTerms).toSet
    /** Per dictionary index: the queries it is a scoring term of. */
    val scoredBy: Array[Array[Int]] = {
      val b = Array.fill(dict.length)(Array.newBuilder[Int])
      scoring.indices.foreach(j => scoring(j)._1.distinct.foreach(i => b(i) += j))
      b.map(_.result())
    }
  }

  /** One scanned document: `terms` are the dictionary indexes it holds
    * (ascending), `tfs` their counts, `hits` the queries it is a hit of. */
  final case class Doc(docId: String, dl: Long, terms: Array[Int], tfs: Array[Int],
                       hits: Array[Int])

  /** N, Σdl and the df of every dictionary term over a set of documents. */
  final class Stats(var n: Long, var sumDl: Long, val df: Array[Long]) extends Serializable {
    def add(d: Doc): Unit = {
      n += 1
      sumDl += d.dl
      d.terms.foreach(i => df(i) += 1)
    }
    def merge(o: Stats): Stats = {
      n += o.n
      sumDl += o.sumDl
      var i = 0
      while (i < df.length) { df(i) += o.df(i); i += 1 }
      this
    }
    def avgdl: Double = if (n == 0) 1.0 else sumDl.toDouble / n
    def idf: Array[Double] = df.map(Bm25.idf(_, n))
  }

  object Stats {
    def empty(dictSize: Int): Stats = new Stats(0L, 0L, new Array[Long](dictSize))
  }

  /** Scans documents against `c`; one per partition (it reuses scratch
    * arrays across documents). */
  final class Scanner(c: Compiled) {
    private val tf = new Array[Int](c.dict.length)
    private val seen = new Array[Int](c.queries.length)
    private var stamp = 0
    // the positions of `c.spanTerms` in the document `posOf` was built for
    private var posOf: Array[String] = null
    private var pos = Map.empty[String, Array[Long]]

    /** `accepted = false` (outside the caller's doc filter) still counts
      * the document's terms, for the statistics, but makes it no hit. */
    def scan(docId: String, tokens: Array[String], accepted: Boolean): Doc = {
      val held = Array.newBuilder[Int]
      var p = 0
      while (p < tokens.length) {
        val i = c.indexOf(tokens(p))
        if (i >= 0) {
          if (tf(i) == 0) held += i
          tf(i) += 1
        }
        p += 1
      }
      val terms = held.result()
      java.util.Arrays.sort(terms)
      val hits = Array.newBuilder[Int]
      if (accepted) {
        // candidates: the queries one of the held terms scores for
        stamp += 1
        terms.foreach(i => c.scoredBy(i).foreach { j =>
          if (seen(j) != stamp) {
            seen(j) = stamp
            if (qualifies(j, tokens)) hits += j
          }
        })
      }
      val d = Doc(docId, tokens.length.toLong, terms, terms.map(tf(_)), hits.result())
      terms.foreach(tf(_) = 0)
      d
    }

    private def qualifies(j: Int, tokens: Array[String]): Boolean =
      c.must(j).forall(tf(_) > 0) &&
        c.should(j).count(tf(_) > 0) >= c.queries(j).plan.minShould &&
        !c.mustNot(j).exists(tf(_) > 0) &&
        c.queries(j).plan.span.forall(Spans.matches(_, positions(tokens))) &&
        c.queries(j).test.forall(_(tokens))

    private def positions(tokens: Array[String]): String => Array[Long] = {
      if (posOf ne tokens) {
        val b = scala.collection.mutable.HashMap.empty[
          String, scala.collection.mutable.ArrayBuilder.ofLong]
        var i = 0
        while (i < tokens.length) {
          if (c.spanTerms(tokens(i)))
            b.getOrElseUpdate(tokens(i), new scala.collection.mutable.ArrayBuilder.ofLong) += i
          i += 1
        }
        pos = b.view.mapValues(_.result()).toMap
        posOf = tokens
      }
      t => pos.getOrElse(t, Array.emptyLongArray)
    }
  }

  /** Query `j`'s BM25 score of `d`: `(idf × weight) × tfNorm` per scoring
    * term it holds, summed from 0.0 in ascending term order. */
  def score(c: Compiled, j: Int, d: Doc, idf: Array[Double], avgdl: Double): Double = {
    val (ts, ws) = c.scoring(j)
    var acc = 0.0
    var i = 0
    while (i < ts.length) {
      val p = java.util.Arrays.binarySearch(d.terms, ts(i))
      if (p >= 0) acc += (idf(ts(i)) * ws(i)) * Bm25.tfNorm(d.tfs(p).toLong, d.dl, avgdl)
      i += 1
    }
    acc
  }

  /** The order of the golden ranking window among equal scores: doc_id
    * ascending, null first, in code point order — the UTF-8 byte order
    * Spark sorts strings in. */
  val DocIdTies: Ties[String] = Ties[String](_ => 0L, new Ordering[String] {
    def compare(a: String, b: String): Int =
      if (a == null || b == null) java.lang.Boolean.compare(a != null, b != null)
      else {
        var i = 0
        var r = 0
        while (r == 0 && i < a.length && i < b.length) {
          val x = a.codePointAt(i)
          r = Integer.compare(x, b.codePointAt(i))
          i += Character.charCount(x)
        }
        if (r != 0) r else Integer.compare(a.length - i, b.length - i)
      }
  })

  /** Per query, the top-`n` of `docs`' hits by (score desc, doc_id asc)
    * ([[TopScores]] under [[DocIdTies]]), as (query index, doc_id, score). */
  def topScores(c: Compiled, docs: Iterator[Doc], idf: Array[Double], avgdl: Double,
                n: Int): Iterator[(Int, String, Double)] = {
    val tops = new Array[TopScores[String]](c.queries.length)
    docs.foreach(d => d.hits.foreach { j =>
      if (tops(j) == null) tops(j) = new TopScores[String](n, Some(DocIdTies))
      tops(j).offer(score(c, j, d, idf, avgdl), d.docId)
    })
    tops.indices.iterator.filter(tops(_) != null)
      .flatMap(j => tops(j).result.iterator.map(h => (j, h._2, h._1)))
  }
}
