package graft.search

import graft.index.{Codec, SegBlock, SegRun}

/** One per-shard candidate hit (shard-local doc ordinal). */
case class ShardHit(query_id: Int, shard: Int, ord: Long, score: Double)

/** A known order among entries of equal score: entries of one `cls`
  * rank in `order`; entries of different classes are not comparable. */
private[search] final case class Ties[A](cls: A => Long, order: Ordering[A])

/** The per-shard cut of [[Kernel]] and the per-partition cut of
  * [[Golden]]: every entry that fewer than `k` others are known to rank
  * before. One entry ranks before another when its score is higher or,
  * at an equal score, when `ties` puts both in one class and orders it
  * first. So the cut is the top `k` plus, at the k-th score, per class
  * the first entries in `ties` order — at most `k` per class — and with
  * no `ties` every entry tied with the k-th score. A tie the cut keeps is
  * broken by the global window after it, which ranks by doc_id: golden
  * orders a partition's ties by doc_id itself (one class), while a
  * shard's ords follow doc_id only within one build generation (an
  * append numbers its docs after the shard's existing ords), so the
  * kernel's classes are generations. `floor` is the k-th best score so
  * far (−∞ while fewer than `k` entries; +∞ for `k <= 0`, which keeps
  * nothing) — the θ of WAND pruning, which stays lossless because an
  * entry tied with it can still be kept. */
private[search] final class TopScores[A](k: Int, ties: Option[Ties[A]] = None) {
  // lowest score at the head
  private val heap = scala.collection.mutable.PriorityQueue.empty[(Double, A)](
    new Ordering[(Double, A)] {
      def compare(a: (Double, A), b: (Double, A)): Int = java.lang.Double.compare(b._1, a._1)
    })
  // entries scored exactly `floor` that the heap has no room for
  private var tied = scala.collection.mutable.ArrayBuffer.empty[(Double, A)]
  // `tied` is thinned to the first `k` of each class past this size
  private var thinAt = math.min(Int.MaxValue.toLong, 2L * k + 16).toInt

  def full: Boolean = heap.size >= k
  def floor: Double =
    if (k <= 0) Double.PositiveInfinity
    else if (heap.size < k) Double.NegativeInfinity
    else heap.head._1

  def offer(score: Double, a: A): Unit =
    if (heap.size < k) heap.enqueue((score, a))
    else if (k > 0) {
      val f = heap.head._1
      if (score > f) {
        val out = heap.dequeue()
        heap.enqueue((score, a))
        val f2 = heap.head._1
        if (tied.nonEmpty && tied(0)._1 < f2) tied.clear()
        if (out._1 == f2) tied += out
      } else if (score == f) {
        tied += ((score, a))
        // an entry past the k-th of its class among `tied` alone is
        // already out, and later entries only add to those before it
        if (ties.isDefined && tied.length > thinAt) {
          tied = firstOfEachClass(tied, k)
          thinAt = math.max(thinAt, 2 * tied.length)
        }
      }
    }

  private def firstOfEachClass(es: scala.collection.mutable.ArrayBuffer[(Double, A)],
                               n: Int): scala.collection.mutable.ArrayBuffer[(Double, A)] = {
    val t = ties.get
    val order = Ordering.by[(Double, A), A](_._2)(t.order)
    es.groupBy(e => t.cls(e._2)).valuesIterator
      .flatMap(_.sorted(order).iterator.take(n))
      .to(scala.collection.mutable.ArrayBuffer)
  }

  /** Every kept entry, unordered. */
  def result: Array[(Double, A)] =
    if (tied.isEmpty || ties.isEmpty) (heap.iterator ++ tied.iterator).toArray[(Double, A)]
    else {
      // the heap holds the k best scores: entries above the floor are
      // kept, and the floor's entries share the room they leave
      val f = heap.head._1
      val (above, at) = (heap.iterator ++ tied.iterator).toArray[(Double, A)].partition(_._1 > f)
      above ++ firstOfEachClass(at.to(scala.collection.mutable.ArrayBuffer), k - above.length)
    }
}

/** One scoring clause of a [[QueryPlan]]: a term and its weight. */
private[search] final case class Weighted(term: String, weight: Double)

/** One query's retrieval plan — the one shape every WAND-served search
  * (OR, AND, bool, phrase, phrase-prefix, span, boosted, search_after)
  * is compiled into before it fans out, evaluated per shard by
  * [[Kernel.groupTopK]].
  *
  *   - `must` / `should` are the SCORING clauses. A hit contains every
  *     `must` term and at least `minShould` of the `should` terms; its
  *     score is the BM25 sum over the scoring terms it contains, in
  *     ascending term order. As built by the entry points a weight is
  *     the caret boost (1.0 when none); [[weighted]] multiplies in the
  *     term's idf before the plans are broadcast, so the plans that ship
  *     carry idf × boost (× 1.0 is exact, so unboosted scores keep their
  *     bits).
  *   - `mustNot` and `span` are MATCH-ONLY: a hit contains none of the
  *     `mustNot` terms and, when `span` is set, the span tree produces a
  *     span in it ([[Spans.matches]]). Their terms route but never score.
  *   - `after` is the search_after cursor (score, shard, ord) of the
  *     previous page's last hit.
  *
  * The golden scorer reads the term clauses of the same shape
  * ([[DocScan.DocQuery]]) and decides adjacency on its own.
  */
private[search] final case class QueryPlan(should: Array[Weighted] = Array.empty,
                                           must: Array[Weighted] = Array.empty,
                                           minShould: Int = 1,
                                           mustNot: Array[String] = Array.empty,
                                           span: Option[SpanQuery] = None,
                                           after: Option[(Double, Int, Long)] = None) {

  /** Every term whose posting runs this query's tasks need. */
  def routing: Array[String] =
    (must.iterator.map(_.term) ++ should.iterator.map(_.term) ++ mustNot.iterator ++
      span.iterator.flatMap(Spans.allTerms)).toArray.distinct

  /** This plan with every scoring weight multiplied by its term's idf —
    * the (idf × boost) association both engines score with. */
  def weighted(idf: String => Double): QueryPlan = {
    def w(cs: Array[Weighted]) = cs.map(c => Weighted(c.term, idf(c.term) * c.weight))
    copy(should = w(should), must = w(must))
  }
}

private[search] object QueryPlan {
  private def unit(ts: Array[String]) = ts.map(Weighted(_, 1.0))

  /** OR over `terms` (at least one present), or AND when `conjunctive`;
    * `boost` is the caret weight of each term. */
  def terms(terms: Array[String], conjunctive: Boolean = false,
            boost: String => Double = _ => 1.0): QueryPlan = {
    val ws = terms.map(t => Weighted(t, boost(t)))
    if (conjunctive) QueryPlan(must = ws, minShould = 0) else QueryPlan(should = ws)
  }

  /** The `bool` query's clauses (see [[BoolQuery]]). */
  def bool(q: BoolQuery): QueryPlan =
    QueryPlan(should = unit(q.should), must = unit(q.must),
      minShould = q.effectiveMinShould, mustNot = q.mustNot)

  /** A span tree: a disjunction over its scoring terms, accepted only
    * where the tree matches. */
  def span(q: SpanQuery): QueryPlan =
    QueryPlan(should = unit(Spans.scoringTerms(q)), span = Some(q))

  /** A phrase (tokens in order, `slop` extra tokens allowed): every
    * distinct phrase term is a must clause, adjacency is the
    * `SpanNear` acceptance. `expansion` (phrase-prefix) adds a last,
    * match-only slot: any one of its terms. */
  def phrase(tokens: Array[String], slop: Int,
             expansion: Option[Array[String]] = None): QueryPlan = {
    val slots = tokens.toSeq.map(SpanTerm) ++
      expansion.map(ts => SpanOr(ts.toSeq.map(SpanTerm)))
    QueryPlan(must = unit(tokens.distinct.sorted), minShould = 0,
      span = Some(SpanNear(slots, slop)))
  }
}

/** The per-shard scoring kernel of [[Wand]]: posting cursors, the
  * block-max WAND and boolean top-k loops, and [[groupTopK]], which runs
  * every [[QueryPlan]] of one fan-out group against that group's posting
  * runs. Nothing here touches Spark: the search path calls [[groupTopK]]
  * from its fan-out task, and tests call it on runs built straight from
  * [[Codec.buildBlocks]]. */
private[search] object Kernel {

  /** The reserved pseudo-term carrying a FILTERED search's accept set
    * through the segment shuffle (see `Wand.filterRuns`). NUL prefix — the
    * tokenizer can never emit it, so it cannot collide with a real term. */
  private[search] val FilterTerm = "\u0000accept"

  /** Per-(group, term) shared decode slots: every query in a fan-out group
    * that touches a term re-walks the same compressed blocks, and the
    * Zipf head terms are touched by MOST queries — decoding each block
    * once per GROUP instead of once per query removes the dominant
    * remaining query-phase cost (readVarLongs sat in 43% of execution
    * samples). Slots fill lazily under a per-group byte budget
    * ([[DecodeBudget]]); once the budget is spent, later blocks decode
    * per-cursor exactly as before — results are identical either way,
    * the cache only removes re-decode work. */
  private[search] final class TermDecoded(n: Int) {
    val docs = new Array[Array[Long]](n)
    val tfs = new Array[Array[Long]](n)
    val dls = new Array[Array[Long]](n)
  }

  /** Remaining shared-decode bytes for one fan-out group (single-threaded
    * within its task). Default 128 MB per group, `spark.graft.decodeCacheMb`
    * overrides: concurrent groups per executor are bounded by its task
    * slots, so the executor-level ceiling is slots × budget — size it with
    * executor memory in production. A block's arrays are cached only while
    * `remaining` still covers their bytes, so it never goes negative. */
  private[search] final class DecodeBudget(var remaining: Long)

  /** The per-group decode budget in bytes for a `spark.graft.decodeCacheMb`
    * setting: 128 MB when unset, 0 turns the shared decode off. A value
    * that is not a whole, non-negative number of MB (or overflows as
    * bytes) is rejected, naming the key and the value. */
  private[search] def decodeCacheMbBytes(setting: Option[String]): Long = {
    val mb = setting.fold(Option(128L))(_.trim.toLongOption)
      .filter(m => m >= 0L && m <= (Long.MaxValue >> 20))
    mb.getOrElse(throw new IllegalArgumentException(
      s"spark.graft.decodeCacheMb must be a non-negative whole number of MB, " +
        s"got '${setting.getOrElse("")}'")) << 20
  }

  /** Per-term posting cursor with lazy block decoding: advancing across
    * blocks never decodes skipped blocks (the compression win). Each block
    * arrives paired with its pruning NORM BOUND — the exact stored maxNorm
    * when the run was built at the snapshot's current avgdl, or the safe
    * (maxTf, minDl) impact bound for runs whose build-time avgdl has been
    * left behind by incremental appends (see [[graft.index.SegRun]]). */
  private[search] final class Cursor(val term: String, val idf: Double,
                             blocks: Array[SegBlock], bounds: Array[Double],
                             avgdl: Double,
                             td: TermDecoded = null,
                             budget: DecodeBudget = null) {
    /** Rank of this cursor's term in the ascending-term order of its query
      * (ties by construction index) — set by the topK entry points so the
      * evaluation can sum contributions in the bit-identical ascending-term
      * order WITHOUT allocating and sorting a (term, contribution) tuple
      * array per evaluated document. */
    var termRank: Int = 0
    private var bi = 0
    private var i = 0
    private var decoded = false
    private var docs: Array[Long] = null
    private var tfs: Array[Long] = null
    private var dls: Array[Long] = null
    private var posArr: Array[Array[Long]] = null // lazy, phrase mode only
    var curDoc: Long = Long.MaxValue
    val maxScore: Double = {
      var m = 0.0
      var bIdx = 0
      while (bIdx < bounds.length) {
        val v = idf * bounds(bIdx)
        if (v > m) m = v
        bIdx += 1
      }
      m
    }
    advanceInit()

    private def loadBlock(): Unit = {
      var d: Array[Long] = if (td != null) td.docs(bi) else null
      if (d == null) {
        d = Codec.decodeBlockDocs(blocks(bi))
        val bytes = d.length.toLong << 3
        if (td != null && budget.remaining >= bytes) {
          td.docs(bi) = d
          budget.remaining -= bytes
        }
      }
      docs = d
      // tfs/dls decode lazily on the first contribution from this block
      // (ensureTfDl): navigation (advanceTo/next/alignment) touches only
      // doc ords, and blocks entered for alignment but never scored skip
      // 2 of 3 array decodes
      tfs = null
      dls = null
      posArr = null
      i = 0
      decoded = true
      curDoc = docs(0)
    }

    private def ensureTfDl(): Unit = if (tfs == null) {
      var t: Array[Long] = if (td != null) td.tfs(bi) else null
      var l: Array[Long] = if (td != null) td.dls(bi) else null
      if (t == null || l == null) {
        t = Codec.decodeBlockTfs(blocks(bi))
        l = Codec.decodeBlockDls(blocks(bi))
        val bytes = t.length.toLong << 4
        if (td != null && budget.remaining >= bytes) {
          td.tfs(bi) = t
          td.dls(bi) = l
          budget.remaining -= bytes
        }
      }
      tfs = t
      dls = l
    }

    /** In-doc token positions of the CURRENT posting (phrase mode).
      * Decoded lazily per block — conjunctive pruning skips most blocks
      * before any phrase check touches them. */
    def positions: Array[Long] = {
      if (posArr == null) {
        ensureTfDl()
        posArr = Codec.decodeBlockPositions(blocks(bi), tfs)
      }
      posArr(i)
    }

    private def advanceInit(): Unit =
      if (blocks.nonEmpty) loadBlock() else curDoc = Long.MaxValue

    def exhausted: Boolean = curDoc == Long.MaxValue
    def blockMaxScore: Double = idf * bounds(bi)
    def blockLast: Long = blocks(bi).last

    def next(): Unit = {
      i += 1
      if (decoded && i < docs.length) curDoc = docs(i)
      else {
        bi += 1
        if (bi < blocks.length) loadBlock() else curDoc = Long.MaxValue
      }
    }

    /** Advance to the first doc ≥ target; skips whole blocks undecoded. */
    def advanceTo(target: Long): Unit = {
      if (curDoc >= target) return
      if (!(decoded && blocks(bi).last >= target)) {
        decoded = false
        while (bi < blocks.length && blocks(bi).last < target) bi += 1
        if (bi >= blocks.length) { curDoc = Long.MaxValue; return }
        loadBlock()
      }
      // invariant here: current block decoded and block.last >= target,
      // so a doc ≥ target exists within this block
      while (curDoc < target) { i += 1; curDoc = docs(i) }
    }

    def contribution: Double = {
      ensureTfDl()
      idf * Bm25.tfNorm(tfs(i), dls(i), avgdl)
    }
  }

  /** Assign ascending-term ranks (ties by array index) to a freshly built
    * cursor array — the stable by-term order the per-pivot evaluation used
    * to recreate by sorting a tuple array per document. */
  private def assignTermRanks(cursors: Array[Cursor]): Unit = {
    val idxs = cursors.indices.toArray
    val sorted = idxs.sortBy(i => (cursors(i).term, i))
    var r = 0
    while (r < sorted.length) { cursors(sorted(r)).termRank = r; r += 1 }
  }

  /** A shard's hits, best first: score desc, then ord asc (a stable
    * order for equal scores; which of them survive the cut is the global
    * window's call, by doc_id). */
  private def bestFirst(top: TopScores[Long]): Array[(Long, Double)] =
    top.result.sortWith((a, b) => a._1 > b._1 || (a._1 == b._1 && a._2 < b._2))
      .map(h => (h._2, h._1))

  private val NotDeleted: Long => Boolean = _ => false

  /** Block-max WAND over one shard's cursors; returns the (ord, score)
    * top-k and the hits tied with the k-th score that `ties` cannot rule
    * out ([[TopScores]]).
    * `deleted` is the shard's tombstone mask (Lucene live-docs style):
    * masked ords are skipped at evaluation time — before the heap — so the
    * top-k fills from surviving docs only. `accept` (null = all) is the
    * FILTERED-search hook: evaluated once per pivot candidate, and pivots
    * are non-decreasing (every cursor only moves forward and each
    * iteration ends with all cursors ≥ the pivot), so a forward-only
    * filter cursor can back it. Pruning stays lossless under both masks:
    * block bounds are upper bounds over a superset of the accepted live
    * docs.
    *
    * `after` (null = no cursor) is the search_after hook: a hit enters
    * the heap only when `after(score, ord)` holds — i.e. it ranks
    * strictly after the caller's page cursor. Pruning stays lossless:
    * the predicate only further restricts heap entry, and the heap floor
    * θ still lower-bounds every heap member's score, so any range
    * skipped by `ub < θ` contains no doc that could have qualified. */
  private[search] def wandTopK(cursorsIn: Array[Cursor], k: Int,
                               deleted: Long => Boolean = NotDeleted,
                               accept: Long => Boolean = null,
                               after: (Double, Long) => Boolean = null,
                               minMatch: Int = 1,
                               ties: Option[Ties[Long]] = None): Array[(Long, Double)] = {
    val top = new TopScores[Long](k, ties)
    // ascending-term ranks drive the evaluation's summation order (see
    // assignTermRanks) — the per-pivot tuple sort this replaces showed up
    // as a top allocation+TimSort site in the query-phase profile
    assignTermRanks(cursorsIn)
    val n0 = cursorsIn.length
    val rbuf = new Array[Int](n0)
    val cbuf = new Array[Double](n0)
    // live cursors kept in a compacted prefix cur[0, n): the old
    // filterNot-per-iteration allocated a fresh array every loop, and the
    // boxed Ordering sort TimSorted it — an unboxed insertion sort over
    // the (nearly sorted after each step) prefix does the same work
    // allocation-free
    val cur = new Array[Cursor](n0)
    var n = 0
    var i0 = 0
    while (i0 < n0) {
      if (!cursorsIn(i0).exhausted) { cur(n) = cursorsIn(i0); n += 1 }
      i0 += 1
    }
    // minimum_should_match quota: docs matching fewer than `needed`
    // cursors score nothing, and once fewer than `needed` live cursors
    // remain no future doc can qualify — the loop exit condition
    val needed = math.max(1, minMatch)

    while (n >= needed) {
      // insertion sort the live prefix by curDoc (unboxed)
      var a = 1
      while (a < n) {
        val c = cur(a)
        val d0 = c.curDoc
        var b = a - 1
        while (b >= 0 && cur(b).curDoc > d0) { cur(b + 1) = cur(b); b -= 1 }
        cur(b + 1) = c
        a += 1
      }
      // find pivot: first prefix whose Σ maxScore could still enter top-k
      val theta = top.floor
      var acc = 0.0
      var p = -1
      var i = 0
      while (p < 0 && i < n) {
        acc += cur(i).maxScore
        if (acc >= theta) p = i
        i += 1
      }
      if (p < 0) return bestFirst(top)
      val pivotDoc = cur(p).curDoc
      if (cur(0).curDoc == pivotDoc) {
        // cursors 0..j (j ≥ p) all sit on pivotDoc
        var j = p
        while (j + 1 < n && cur(j + 1).curDoc == pivotDoc) j += 1
        // block-max refinement: exact in-block upper bound for [pivotDoc, d]
        var ub = 0.0
        var d = Long.MaxValue
        var t = 0
        while (t <= j) {
          ub += cur(t).blockMaxScore
          if (cur(t).blockLast < d) d = cur(t).blockLast
          t += 1
        }
        if (j + 1 < n && cur(j + 1).curDoc - 1 < d)
          d = cur(j + 1).curDoc - 1
        if (top.full && ub < theta) {
          // whole range [pivotDoc, d] is dominated — skip it undecoded
          var s = 0
          while (s <= j) { cur(s).advanceTo(d + 1); s += 1 }
        } else if (j + 1 < needed || deleted(pivotDoc) ||
                   (accept != null && !accept(pivotDoc))) {
          // short of the minimum_should_match quota, tombstoned, or
          // filtered out: step every cursor off the pivot, score nothing
          var s = 0
          while (s <= j) { cur(s).next(); s += 1 }
        } else {
          // evaluate pivotDoc: sum contributions in ascending TERM order
          // (bit-identical to the golden scorer's summation order) — ranks
          // + two parallel buffers replace the per-doc tuple-array sort
          var s = 0
          while (s <= j) {
            val rv = cur(s).termRank
            val cv = cur(s).contribution
            var b = s - 1
            while (b >= 0 && rbuf(b) > rv) {
              rbuf(b + 1) = rbuf(b); cbuf(b + 1) = cbuf(b); b -= 1
            }
            rbuf(b + 1) = rv; cbuf(b + 1) = cv
            s += 1
          }
          var score = 0.0
          s = 0
          while (s <= j) { score += cbuf(s); s += 1 }
          if (after == null || after(score, pivotDoc)) top.offer(score, pivotDoc)
          s = 0
          while (s <= j) { cur(s).next(); s += 1 }
        }
      } else {
        // advance laggards to the pivot
        var s = 0
        while (s < n && cur(s).curDoc < pivotDoc) {
          cur(s).advanceTo(pivotDoc); s += 1
        }
      }
      // compact exhausted cursors out of the live prefix in place
      var w = 0
      var rIdx = 0
      while (rIdx < n) {
        if (!cur(rIdx).exhausted) { cur(w) = cur(rIdx); w += 1 }
        rIdx += 1
      }
      n = w
    }
    bestFirst(top)
  }

  /** Boolean (`must`/`should`/`must_not`) top-k over one shard — the
    * Lucene bool-query scorer; it cuts at the k-th score like
    * [[wandTopK]]. The must cursors drive a leapfrog
    * intersection (every hit contains all of them); should cursors are
    * advanced lazily onto each surviving candidate and add their
    * contribution when they sit on it; exclusion is handled by the caller
    * through `accept` (a forward-only not-cursor probe — candidates
    * arrive in strictly increasing ord order). Contributions of ALL
    * scoring terms present are summed in ascending TERM order, keeping
    * scores bit-identical to [[Golden.booleanTopK]].
    *
    * Block-max skip: when the heap is full and Σ must in-block bounds +
    * Σ should GLOBAL max bounds cannot beat the heap floor, the range up
    * to the nearest must-block boundary is skipped undecoded — lossless,
    * because the bound dominates every candidate in the range whatever
    * should terms it contains. The must-empty case is plain [[wandTopK]]
    * over the should cursors (the caller dispatches).
    *
    * A should-empty call is the AND / phrase plan of [[groupTopK]]: the
    * must cursors are built from distinct, ascending query terms, so the
    * rank-buffer summation runs in cursor-array order, and the skip bound
    * is Σ must in-block bounds alone (`shouldMaxTotal` is 0.0). `accept`
    * is then the span (phrase adjacency) and metadata-filter hook. */
  private[search] def booleanTopK(must: Array[Cursor], should: Array[Cursor], k: Int,
                                  deleted: Long => Boolean = NotDeleted,
                                  accept: Long => Boolean = null,
                                  after: (Double, Long) => Boolean = null,
                                  minShould: Int = 0,
                                  ties: Option[Ties[Long]] = None): Array[(Long, Double)] = {
    val top = new TopScores[Long](k, ties)
    if (must.isEmpty) return bestFirst(top)
    val shouldMaxTotal = { var s = 0.0; should.foreach(s += _.maxScore); s }
    // ascending-term ranks over must ++ should (ties keep must-first
    // insertion order — exactly what the old stable by-term tuple sort
    // produced); the evaluation below sums via the same rank-buffer
    // insertion used in wandTopK instead of allocating + sorting a tuple
    // array per candidate
    assignTermRanks(must ++ should)
    val nAll = must.length + should.length
    val rbuf = new Array[Int](nAll)
    val cbuf = new Array[Double](nAll)

    var done = false
    var target = 0L
    var i = 0
    while (i < must.length) {
      if (must(i).exhausted) done = true
      else if (must(i).curDoc > target) target = must(i).curDoc
      i += 1
    }
    while (!done) {
      // align every must cursor on target (advancing one can overshoot)
      var aligned = false
      while (!aligned && !done) {
        aligned = true
        var j = 0
        while (j < must.length && !done) {
          val c = must(j)
          if (c.curDoc < target) c.advanceTo(target)
          if (c.exhausted) done = true
          else if (c.curDoc > target) { target = c.curDoc; aligned = false }
          j += 1
        }
      }
      if (!done) {
        var skipped = false
        if (top.full) {
          var ub = shouldMaxTotal
          var d = Long.MaxValue
          i = 0
          while (i < must.length) {
            ub += must(i).blockMaxScore
            if (must(i).blockLast < d) d = must(i).blockLast
            i += 1
          }
          if (ub < top.floor) {
            skipped = true
            i = 0
            while (i < must.length && !done) {
              must(i).advanceTo(d + 1)
              if (must(i).exhausted) done = true
              i += 1
            }
          }
        }
        if (!skipped) {
          if (!deleted(target) && (accept == null || accept(target))) {
            var nc = 0
            def addContrib(c: Cursor): Unit = {
              val rv = c.termRank
              val cv = c.contribution
              var b = nc - 1
              while (b >= 0 && rbuf(b) > rv) {
                rbuf(b + 1) = rbuf(b); cbuf(b + 1) = cbuf(b); b -= 1
              }
              rbuf(b + 1) = rv; cbuf(b + 1) = cv
              nc += 1
            }
            i = 0
            while (i < must.length) { addContrib(must(i)); i += 1 }
            var shouldMatched = 0
            i = 0
            while (i < should.length) {
              val c = should(i)
              if (c.curDoc < target) c.advanceTo(target)
              if (!c.exhausted && c.curDoc == target) {
                addContrib(c)
                shouldMatched += 1
              }
              i += 1
            }
            // minimum_should_match: a doc short of the quota scores
            // nothing (pruning bounds stay lossless — dropping candidates
            // only shrinks the true result set, never the upper bounds)
            if (shouldMatched >= minShould) {
              var score = 0.0
              i = 0
              while (i < nc) { score += cbuf(i); i += 1 }
              if (after == null || after(score, target)) top.offer(score, target)
            }
          }
          i = 0
          while (i < must.length && !done) {
            must(i).next()
            if (must(i).exhausted) done = true
            i += 1
          }
        }
        if (!done) {
          target = 0L
          i = 0
          while (i < must.length) {
            if (must(i).curDoc > target) target = must(i).curDoc
            i += 1
          }
        }
      }
    }
    bestFirst(top)
  }

  private val NoHits = new Array[(Long, Double)](0)

  /** search_after's "ranks after (cs, csh, cord)" specialized to one
    * shard: a strictly lower score always qualifies; a tied score
    * qualifies by the (shard, ord) tiebreak, decided locally (csh/cord
    * are globals of the query's cursor). */
  private def afterOn(shard: Int, cursor: (Double, Int, Long)): (Double, Long) => Boolean = {
    val (cs, csh, cord) = cursor
    if (shard < csh) (sc: Double, _: Long) => sc < cs
    else if (shard == csh) (sc: Double, o: Long) => sc < cs || (sc == cs && o > cord)
    else (sc: Double, _: Long) => sc <= cs
  }

  /** The tie order of one shard's ords: within one build generation ord
    * order is doc_id order, so the classes are the generations. `starts`
    * holds the first ord of each generation after the first, ascending;
    * `None` when they are unknown, which keeps every boundary tie. */
  private[search] def ordTies(starts: Option[Array[Long]]): Option[Ties[Long]] =
    starts.map { s =>
      Ties[Long](ord => {
        var g = 0
        while (g < s.length && s(g) <= ord) g += 1
        g.toLong
      }, Ordering.Long)
    }

  /** Top-`k` of every plan in one fan-out group: `runs` are the group's
    * posting runs of `shard` (a filtered search's accept set arrives as
    * [[FilterTerm]] runs), `dels` the shard's sorted tombstoned ords,
    * `starts` its generation starts ([[ordTies]]).
    *
    * Per plan, `must` cursors run [[booleanTopK]] (a must term with no
    * postings in this shard means no doc here qualifies), else the
    * `should` cursors run [[wandTopK]]. Acceptance is filter ∧ must_not ∧
    * span, in that order, each a forward-only probe over cursors of its
    * own; `null` when none applies, so a plain OR/AND plan pays nothing
    * for it. */
  def groupTopK(shard: Int, runs: Seq[SegRun], dels: Array[Long],
                plans: Iterator[(Int, QueryPlan)], k: Int, avgdl: Double,
                filtered: Boolean, decodeCacheBytes: Long,
                starts: Option[Array[Long]]): Iterator[ShardHit] = {
    val ties = ordTies(starts)
    // a term may arrive as several salted/appended runs — concatenate
    // their disjoint-ord block lists (ordered by first ord) into one
    // cursor, pairing each block with its pruning bound: the stored exact
    // maxNorm while the run's build-time avgdl still equals the
    // snapshot's, else the (maxTf, minDl) impact bound, safe at any avgdl
    val (fRuns, tRuns) = runs.partition(_.term == FilterTerm)
    // shared-decode budget for this group (all queries, all terms)
    val budget = new DecodeBudget(decodeCacheBytes)
    // per-term parallel (blocks, bounds) arrays, which Cursor navigation
    // indexes constantly. The TermDecoded slots are shared by every cursor
    // over the term in this group — each block decodes once per group,
    // not once per query.
    val byTerm: Map[String, (Array[SegBlock], Array[Double], TermDecoded)] =
      tRuns.groupBy(_.term).map { case (t, rs) =>
        val pairs = rs.flatMap { r =>
          val exact = r.avgdl == avgdl
          r.blocks.map(b => (b,
            if (exact) b.maxNorm
            else Bm25.tfNorm(b.maxTf.toLong, b.minDl, avgdl)))
        }.sortBy(_._1.first)
        t -> (pairs.map(_._1).toArray, pairs.map(_._2).toArray,
          new TermDecoded(pairs.length))
      }
    // the shard's accept set (filtered search): bounds are never used for
    // pruning (idf 0), so the bounds array is all-zero. A fresh
    // forward-only cursor is built PER QUERY — each query's candidate
    // stream restarts from ord 0 — but the decoded accept blocks are
    // shared across all of them.
    val fBlocks: Array[SegBlock] = fRuns.flatMap(_.blocks).sortBy(_.first).toArray
    val fBounds: Array[Double] = new Array[Double](fBlocks.length)
    val fTd = new TermDecoded(fBlocks.length)
    val deleted: Long => Boolean =
      if (dels.isEmpty) NotDeleted
      else ord => java.util.Arrays.binarySearch(dels, ord) >= 0
    // one cursor per present term, built from the parallel
    // (blocks, bounds) arrays with the group-shared decode slots
    def cursor(t: String, weight: Double): Option[Cursor] =
      byTerm.get(t).map { case (bl, bo, td) =>
        new Cursor(t, weight, bl, bo, avgdl, td, budget) }
    def present(cs: Array[Weighted]): Array[Cursor] =
      cs.flatMap(c => cursor(c.term, c.weight))

    def accept(p: QueryPlan): Long => Boolean = {
      var acc: Long => Boolean = null
      def and(f: Long => Boolean): Unit =
        if (acc == null) acc = f
        else { val a = acc; acc = ord => a(ord) && f(ord) }
      if (filtered) {
        val fc = new Cursor(FilterTerm, 0.0, fBlocks, fBounds, avgdl, fTd, budget)
        and(ord => { fc.advanceTo(ord); !fc.exhausted && fc.curDoc == ord })
      }
      // must_not: idf-0 exclusion cursors over the terms present in this
      // shard (an absent term excludes nothing)
      val nots = p.mustNot.flatMap(t => cursor(t, 0.0))
      if (nots.nonEmpty) and { ord =>
        var ok = true
        var ci = 0
        while (ok && ci < nots.length) {
          val c = nots(ci)
          c.advanceTo(ord)
          ok = c.exhausted || c.curDoc != ord
          ci += 1
        }
        ok
      }
      // span: fresh idf-0 cursors over ALL tree terms, independent of the
      // scoring cursors' states — candidates arrive in non-decreasing ord
      // order under both kernels, so forward-only probes are safe
      p.span.foreach { sq =>
        val probes: Map[String, Cursor] =
          Spans.allTerms(sq).flatMap(t => cursor(t, 0.0).map(t -> _)).toMap
        and { ord =>
          Spans.matches(sq, t => probes.get(t) match {
            case Some(c) =>
              c.advanceTo(ord)
              if (!c.exhausted && c.curDoc == ord) c.positions else Array.emptyLongArray
            case None => Array.emptyLongArray
          })
        }
      }
      acc
    }

    def planTopK(p: QueryPlan): Array[(Long, Double)] = {
      val after = p.after.map(afterOn(shard, _)).orNull
      if (p.must.nonEmpty) {
        if (!p.must.forall(c => byTerm.contains(c.term))) NoHits
        else booleanTopK(present(p.must), present(p.should), k, deleted, accept(p), after,
          p.minShould, ties)
      } else {
        val should = present(p.should)
        if (should.isEmpty) NoHits
        else wandTopK(should, k, deleted, accept(p), after, p.minShould, ties)
      }
    }

    if (filtered && fBlocks.isEmpty) Iterator.empty
    else {
      // a flat buffer loop: an iterator chain per query was the
      // second-hottest site in the query-phase profile after wandTopK
      val out = new scala.collection.mutable.ArrayBuffer[ShardHit]()
      while (plans.hasNext) {
        val (qid, p) = plans.next()
        val res = planTopK(p)
        var i = 0
        while (i < res.length) {
          out += ShardHit(qid, shard, res(i)._1, res(i)._2)
          i += 1
        }
      }
      out.iterator
    }
  }
}
