package graft.search

/** Span-query AST — the OpenSearch/Lucene `span_*` family over the
  * positional index: `span_term`, `span_near` (in-order), `span_or`,
  * `span_first`, `span_not`, `span_containing`, `span_within`.
  *
  * A span is a half-open position interval `[start, end)` in a document's
  * analyzed token sequence. [[Spans.spans]] enumerates EVERY distinct
  * span an AST node produces from the document's per-term position lists
  * — exhaustive, not greedy-minimal, because the containing/within
  * combinators are NOT monotone in span length (a longer `span_near`
  * match can contain a `little` span that the minimal one misses), so
  * only the full enumeration composes exactly. Enumeration cost is
  * bounded by the slop budget: a partial chain whose accumulated gap
  * already exceeds `slop` is pruned, so per start position at most
  * `slop + 1` successors per clause are explored.
  *
  * Both engines evaluate matches through this one object — the golden
  * scorer from the raw token arrays ([[Golden.spanTopK]]) and the WAND
  * engine from decoded posting positions ([[Wand.spanSearch]]) — so the
  * match predicate is bit-identical by construction.
  *
  * Scoring contract (the term-level contract an ANSI-SQL oracle can
  * replay, same discipline as [[Wand.phrasePrefixSearch]]'s documented
  * divergence from Lucene's blended weights): a matching doc scores the
  * BM25 sum over the tree's distinct SCORING terms present in the doc,
  * summed in ascending term order. Scoring terms follow Lucene's weight
  * construction: `span_not` scores only its `include` subtree,
  * `span_containing` only `big`, `span_within` only `little`; the
  * excluded/context subtree still routes (its postings must be scanned
  * to evaluate the match) but never contributes score.
  */
sealed trait SpanQuery

/** A single term's occurrences: span `[p, p+1)` per position. */
case class SpanTerm(term: String) extends SpanQuery

/** In-order chain of sub-spans (Lucene `span_near`, `in_order: true`):
  * clause i+1 must start at or after clause i's end, and the total gap
  * `(chainEnd - chainStart) - Σ chosen sub-span widths` must be ≤ `slop`.
  * For term clauses this is exactly the sloppy-phrase budget
  * `(p_last - p_0) - (m - 1) ≤ slop` of [[Wand.phraseSearch]], whose
  * plan accepts through this node. */
case class SpanNear(clauses: Seq[SpanQuery], slop: Int) extends SpanQuery

/** Union of the clauses' spans (Lucene `span_or`). */
case class SpanOr(clauses: Seq[SpanQuery]) extends SpanQuery

/** Spans of `clause` ending at or before `end` (Lucene `span_first`:
  * the match must sit within the first `end` token positions). */
case class SpanFirst(clause: SpanQuery, end: Long) extends SpanQuery

/** Spans of `include` with NO `exclude` span overlapping the widened
  * window `[start - pre, end + post)` (Lucene `span_not` with
  * `pre`/`post` context guards). */
case class SpanNot(include: SpanQuery, exclude: SpanQuery,
                   pre: Int = 0, post: Int = 0) extends SpanQuery

/** Spans of `big` that fully contain at least one span of `little`
  * (Lucene `span_containing`). Scores `big`. */
case class SpanContaining(big: SpanQuery, little: SpanQuery) extends SpanQuery

/** Spans of `little` that sit fully inside at least one span of `big`
  * (Lucene `span_within`). Scores `little`. */
case class SpanWithin(big: SpanQuery, little: SpanQuery) extends SpanQuery

/** Unordered co-occurrence window (the OpenSearch `intervals` query's
  * `match` rule with `ordered: false`, and its `all_of` combinator's
  * unordered form): choose one span per clause, in ANY order; the
  * choice matches when its total internal gap — window width
  * `maxEnd - minStart` minus the chosen spans' summed widths — is
  * ≤ `slop` (`max_gaps` in the OpenSearch DSL). Overlapping choices
  * only shrink the gap (Lucene's plain UNORDERED source, which permits
  * overlap). The produced span is the enclosing `[minStart, maxEnd)`
  * window, so combinators nest exactly like the ordered family. */
case class SpanUnordered(clauses: Seq[SpanQuery], slop: Int) extends SpanQuery

/** Doc-level conjunction ([[SimpleQueryString]]'s AND): every clause
  * produces at least one span ANYWHERE in the doc — no window budget.
  * Produces the single enclosing envelope `[min start, max end)` rather
  * than the clause cross product (existence is the semantics; the
  * envelope keeps combinators composable without the O(∏ tf)
  * enumeration an unbounded [[SpanUnordered]] would pay). */
case class SpanAnd(clauses: Seq[SpanQuery]) extends SpanQuery

/** Doc-level negation guard ([[SimpleQueryString]]'s NOT): `include`'s
  * spans survive only when `exclude` produces NO span anywhere in the
  * doc — the bool query's `must_not`, expressed in the span algebra.
  * Scores `include` only; `exclude` routes but never scores. */
case class SpanDocNot(include: SpanQuery, exclude: SpanQuery) extends SpanQuery

object Spans {

  /** Every distinct term in the tree, distinct + ascending — the routing
    * set (all of them must reach the query's tasks). */
  def allTerms(q: SpanQuery): Array[String] = collect(q, scoringOnly = false)

  /** The tree's scoring terms, distinct + ascending — the BM25 summation
    * set (see the scoring contract in the trait doc). */
  def scoringTerms(q: SpanQuery): Array[String] = collect(q, scoringOnly = true)

  private def collect(q: SpanQuery, scoringOnly: Boolean): Array[String] = {
    val b = Array.newBuilder[String]
    def walk(s: SpanQuery): Unit = s match {
      case SpanTerm(t)          => b += t
      case SpanNear(cs, _)      => cs.foreach(walk)
      case SpanUnordered(cs, _) => cs.foreach(walk)
      case SpanAnd(cs)          => cs.foreach(walk)
      case SpanDocNot(inc, exc) => walk(inc); if (!scoringOnly) walk(exc)
      case SpanOr(cs)           => cs.foreach(walk)
      case SpanFirst(c, _)      => walk(c)
      case SpanNot(inc, exc, _, _) => walk(inc); if (!scoringOnly) walk(exc)
      case SpanContaining(big, little) =>
        walk(big); if (!scoringOnly) walk(little)
      case SpanWithin(big, little) =>
        if (!scoringOnly) walk(big); walk(little)
    }
    walk(q)
    b.result().distinct.sorted
  }

  /** All distinct spans of `q` in one document, sorted by (start, end).
    * `pos(term)` returns the term's ascending position list in the doc
    * (empty when absent). */
  def spans(q: SpanQuery, pos: String => Array[Long]): Array[(Long, Long)] = q match {
    case SpanTerm(t) =>
      pos(t).map(p => (p, p + 1L))
    case SpanOr(cs) =>
      canon(cs.iterator.flatMap(c => spans(c, pos).iterator).toArray)
    case SpanFirst(c, end) =>
      spans(c, pos).filter(_._2 <= end)
    case SpanNot(inc, exc, pre, post) =>
      val is = spans(inc, pos)
      if (is.isEmpty) is
      else {
        val es = spans(exc, pos)
        if (es.isEmpty) is
        else is.filter { case (st, en) =>
          !es.exists { case (es0, ee0) => ee0 > st - pre && es0 < en + post }
        }
      }
    case SpanContaining(big, little) =>
      val bs = spans(big, pos)
      if (bs.isEmpty) bs
      else {
        val ls = spans(little, pos)
        bs.filter { case (st, en) =>
          ls.exists { case (ls0, le0) => ls0 >= st && le0 <= en }
        }
      }
    case SpanWithin(big, little) =>
      val ls = spans(little, pos)
      if (ls.isEmpty) ls
      else {
        val bs = spans(big, pos)
        ls.filter { case (ls0, le0) =>
          bs.exists { case (st, en) => ls0 >= st && le0 <= en }
        }
      }
    case SpanNear(cs, slop) =>
      val clause = cs.map(c => spans(c, pos)).toArray
      if (clause.isEmpty || clause.exists(_.isEmpty)) Array.empty
      else {
        val out = Array.newBuilder[(Long, Long)]
        // exhaustive in-order chains, budget-pruned: gap accumulates as
        // (next.start - curEnd) and can only grow, so a partial chain
        // over budget never completes under it
        def rec(i: Int, st: Long, curEnd: Long, gap: Long): Unit = {
          if (i == clause.length) out += ((st, curEnd))
          else {
            val arr = clause(i)
            var j = 0
            var over = false
            // clause spans are canon'd (start-ascending), so once the
            // remaining budget is blown by s0 - curEnd every later span
            // blows it too — break instead of scanning the whole tf
            while (j < arr.length && !over) {
              val (s0, e0) = arr(j)
              if (s0 >= curEnd) {
                val g = gap + (s0 - curEnd)
                if (g <= slop) rec(i + 1, st, e0, g)
                else over = true
              }
              j += 1
            }
          }
        }
        val heads = clause(0)
        var h = 0
        while (h < heads.length) {
          rec(1, heads(h)._1, heads(h)._2, 0L)
          h += 1
        }
        canon(out.result())
      }
    case SpanAnd(cs) =>
      val clause = cs.map(c => spans(c, pos))
      if (clause.isEmpty || clause.exists(_.isEmpty)) Array.empty
      else {
        var minS = Long.MaxValue
        var maxE = Long.MinValue
        clause.foreach(_.foreach { case (s, e) =>
          if (s < minS) minS = s
          if (e > maxE) maxE = e
        })
        Array((minS, maxE))
      }
    case SpanDocNot(inc, exc) =>
      val is = spans(inc, pos)
      if (is.isEmpty) is
      else if (spans(exc, pos).nonEmpty) Array.empty
      else is
    case SpanUnordered(cs, slop) =>
      val clause = cs.map(c => spans(c, pos)).toArray
      if (clause.isEmpty || clause.exists(_.isEmpty)) Array.empty
      else {
        val out = Array.newBuilder[(Long, Long)]
        val m = clause.length
        // max width a clause can still contribute — the admissible
        // lower bound for pruning partial choices: a remaining span
        // can at best sit fully inside the current window and subtract
        // its full width from the gap
        val maxW = clause.map(_.iterator.map(s => s._2 - s._1).max)
        val sufMaxW = new Array[Long](m + 1)
        var i = m - 1
        while (i >= 0) { sufMaxW(i) = sufMaxW(i + 1) + maxW(i); i -= 1 }
        def rec(ci: Int, minS: Long, maxE: Long, sumW: Long): Unit = {
          if (ci == m) { if (maxE - minS - sumW <= slop) out += ((minS, maxE)) }
          else {
            val arr = clause(ci)
            var j = 0
            while (j < arr.length) {
              val (s0, e0) = arr(j)
              val nMinS = math.min(minS, s0)
              val nMaxE = math.max(maxE, e0)
              val nSumW = sumW + (e0 - s0)
              // best case: every later clause lands inside the window
              // at its own max width — if even that blows the budget,
              // no completion of this choice can match
              if (nMaxE - nMinS - nSumW - sufMaxW(ci + 1) <= slop)
                rec(ci + 1, nMinS, nMaxE, nSumW)
              j += 1
            }
          }
        }
        val heads = clause(0)
        var h = 0
        while (h < heads.length) {
          rec(1, heads(h)._1, heads(h)._2, heads(h)._2 - heads(h)._1)
          h += 1
        }
        canon(out.result())
      }
  }

  /** True iff `q` produces at least one span in the doc. A `span_near`
    * whose clauses are all width-1 spans (terms, or `span_or`s of them) —
    * every phrase — is decided without enumerating its spans, by
    * [[nearExists]]; anything else enumerates. */
  def matches(q: SpanQuery, pos: String => Array[Long]): Boolean = q match {
    case SpanNear(cs, slop) if cs.nonEmpty && cs.forall(unitWidth) =>
      nearExists(cs.iterator.map(c => unitPositions(c, pos)).toArray, slop)
    case _ => spans(q, pos).nonEmpty
  }

  private def unitWidth(q: SpanQuery): Boolean = q match {
    case SpanTerm(_) => true
    case SpanOr(cs)  => cs.forall(unitWidth)
    case _           => false
  }

  /** A width-1 clause's position lists, one per term (each ascending). */
  private def unitPositions(q: SpanQuery, pos: String => Array[Long]): Array[Array[Long]] =
    q match {
      case SpanTerm(t) => Array(pos(t))
      case SpanOr(cs)  => cs.iterator.flatMap(c => unitPositions(c, pos).iterator).toArray
      case _           => throw new IllegalArgumentException(s"not a width-1 span: $q")
    }

  /** Smallest position ≥ `from` over the lists, `Long.MaxValue` if none. */
  private def firstAtOrAfter(lists: Array[Array[Long]], from: Long): Long = {
    var best = Long.MaxValue
    var li = 0
    while (li < lists.length) {
      val ps = lists(li)
      var i = java.util.Arrays.binarySearch(ps, from)
      if (i < 0) i = -i - 1
      if (i < ps.length && ps(i) < best) best = ps(i)
      li += 1
    }
    best
  }

  /** Existence test for an in-order `span_near` over width-1 clauses
    * (`clauses(i)` = clause i's position lists): from each start of
    * clause 0, a greedy minimal chain takes the smallest next position at
    * or after the current end. With width-1 clauses that choice minimizes
    * both the gap spent so far and the end every later clause must
    * follow, so a start has a chain within `slop` iff its greedy chain is
    * within `slop` — O(m log tf) per start instead of the enumeration. */
  private[search] def nearExists(clauses: Array[Array[Array[Long]]], slop: Int): Boolean = {
    val m = clauses.length
    var found = false
    var hi = 0
    while (!found && hi < clauses(0).length) {
      val heads = clauses(0)(hi)
      var a = 0
      while (!found && a < heads.length) {
        var end = heads(a) + 1
        var gap = 0L
        var j = 1
        while (j < m && gap <= slop) {
          val nx = firstAtOrAfter(clauses(j), end)
          if (nx == Long.MaxValue) gap = Long.MaxValue
          else { gap += nx - end; end = nx + 1; j += 1 }
        }
        found = j == m && gap <= slop
        a += 1
      }
      hi += 1
    }
    found
  }

  private def canon(xs: Array[(Long, Long)]): Array[(Long, Long)] = {
    java.util.Arrays.sort(xs, (a: (Long, Long), b: (Long, Long)) => {
      val c = java.lang.Long.compare(a._1, b._1)
      if (c != 0) c else java.lang.Long.compare(a._2, b._2)
    })
    if (xs.length <= 1) xs
    else {
      val b = Array.newBuilder[(Long, Long)]
      var last: (Long, Long) = null
      var i = 0
      while (i < xs.length) {
        if (xs(i) != last) { b += xs(i); last = xs(i) }
        i += 1
      }
      b.result()
    }
  }
}
