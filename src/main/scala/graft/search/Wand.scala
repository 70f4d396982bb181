package graft.search

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.index.{Codec, SegBlock, SegRun}
import graft.corpus.RefQuery
import graft.table.{Snapshot, SnapshotCatalog}

/** One per-shard candidate hit (shard-local doc ordinal). */
case class ShardHit(query_id: Int, shard: Int, ord: Long, score: Double)

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

  /** The reserved pseudo-term carrying a FILTERED search's accept set
    * through the segment shuffle (see [[filterRuns]]). NUL prefix — the
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

  /** Worst-first ordering for the top-k heap: lower score is worse; on
    * ties the larger ord is worse (doc_id asc tie-break — ord order IS
    * doc_id order within a shard). */
  private val worstFirst: Ordering[(Double, Long)] = new Ordering[(Double, Long)] {
    def compare(a: (Double, Long), b: (Double, Long)): Int = {
      val c = java.lang.Double.compare(b._1, a._1)
      if (c != 0) c else java.lang.Long.compare(a._2, b._2)
    }
  }

  private val NotDeleted: Long => Boolean = _ => false

  /** Block-max WAND over one shard's cursors; returns (ord, score) top-k.
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
                               minMatch: Int = 1): Array[(Long, Double)] = {
    val heap = scala.collection.mutable.PriorityQueue.empty[(Double, Long)](worstFirst)
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
    def beatsWorst(score: Double, ord: Long): Boolean =
      heap.size < k || worstFirst.compare((score, ord), heap.head) < 0
    def drain(): Array[(Long, Double)] =
      heap.dequeueAll.reverse.map((h: (Double, Long)) => (h._2, h._1)).toArray
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
      val theta = if (heap.size < k) Double.NegativeInfinity else heap.head._1
      var acc = 0.0
      var p = -1
      var i = 0
      while (p < 0 && i < n) {
        acc += cur(i).maxScore
        if (acc >= theta) p = i
        i += 1
      }
      if (p < 0) return drain()
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
        if (heap.size == k && ub < theta) {
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
          if ((after == null || after(score, pivotDoc)) && beatsWorst(score, pivotDoc)) {
            if (heap.size == k) heap.dequeue()
            heap.enqueue((score, pivotDoc))
          }
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
    drain()
  }

  /** Boolean (`must`/`should`/`must_not`) top-k over one shard — the
    * Lucene bool-query scorer. The must cursors drive a leapfrog
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
    * A should-empty call is the AND / phrase path of [[searchImpl]]: the
    * must cursors are built from distinct, ascending query terms, so the
    * rank-buffer summation runs in cursor-array order, and the skip bound
    * is Σ must in-block bounds alone (`shouldMaxTotal` is 0.0). `accept`
    * is then the phrase-adjacency and metadata-filter hook. */
  private[search] def booleanTopK(must: Array[Cursor], should: Array[Cursor], k: Int,
                                  deleted: Long => Boolean = NotDeleted,
                                  accept: Long => Boolean = null,
                                  after: (Double, Long) => Boolean = null,
                                  minShould: Int = 0): Array[(Long, Double)] = {
    val heap = scala.collection.mutable.PriorityQueue.empty[(Double, Long)](worstFirst)
    def drain(): Array[(Long, Double)] =
      heap.dequeueAll.reverse.map((h: (Double, Long)) => (h._2, h._1)).toArray
    if (must.isEmpty) return drain()
    def beatsWorst(score: Double, ord: Long): Boolean =
      heap.size < k || worstFirst.compare((score, ord), heap.head) < 0
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
        if (heap.size == k) {
          var ub = shouldMaxTotal
          var d = Long.MaxValue
          i = 0
          while (i < must.length) {
            ub += must(i).blockMaxScore
            if (must(i).blockLast < d) d = must(i).blockLast
            i += 1
          }
          if (ub < heap.head._1) {
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
              if ((after == null || after(score, target)) && beatsWorst(score, target)) {
                if (heap.size == k) heap.dequeue()
                heap.enqueue((score, target))
              }
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
    drain()
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
    searchImpl(spark, snap,
      queries.map(q => q.query_id -> Golden.queryTerms(q.text, analyzerOf(snap))).toMap,
      k, if (conjunctive) ModeAnd else ModeOr, filter, from = from)

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
    val qb: Map[Int, Array[(String, Double)]] =
      queries.map(q => q.query_id -> Golden.queryTermsBoosted(q.text, analyzerOf(snap))).toMap
    searchImpl(spark, snap, qb.map { case (q, ts) => q -> ts.map(_._1) },
      k, if (conjunctive) ModeAnd else ModeOr, filter, from = from,
      qBoost = qb.map { case (q, ts) => q -> ts.toMap })
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
      queries.map(q => q.query_id -> Golden.queryTerms(q.text, analyzerOf(snap))).toMap,
      k, if (conjunctive) ModeAnd else ModeOr, filter,
      qAfter = after, shardDocOrder = true)

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
    val matched = matchedOrds(spark, snap, queries, conjunctive)
    val docmap = spark.read.parquet(snap.docmapDirs: _*)
      .select(col("shard"), col("ord"), col("doc_id"), col(sortCol).as("sort_key"))
    val keyOrd = if (ascending) col("sort_key").asc else col("sort_key").desc
    val local = Window.partitionBy(col("query_id"), col("shard"))
      .orderBy(keyOrd, col("doc_id").asc)
    val global = Window.partitionBy(col("query_id"))
      .orderBy(keyOrd, col("doc_id").asc)
    matched.join(docmap, Seq("shard", "ord"))
      .withColumn("r", row_number().over(local)).filter(col("r") <= k).drop("r")
      .withColumn("rank", row_number().over(global)).filter(col("rank") <= k)
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
    searchImpl(spark, snap,
      queries.map(q => q.query_id -> (q.scoring ++ q.mustNot).distinct.sorted).toMap,
      k, ModeBool, filter,
      qBool = queries.map(q => q.query_id -> q).toMap)

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
    searchImpl(spark, snap, expandQueries(spark, snap, queries, maxExpansions),
      k, ModeOr, filter)

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
      regexpExpandQueries(spark, snap, queries, maxExpansions), k, ModeOr, filter)

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
      fuzzyExpandQueries(spark, snap, queries, maxEdits, prefixLength,
        maxExpansions, transpositions),
      k, ModeOr, filter)

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
    survivors(spark.read.parquet(snap.termstatsDir).select("term", "df")
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
      matchFuzzyExpandQueries(spark, snap, queries, fuzziness, prefixLength,
        maxExpansions, transpositions),
      k, ModeOr, filter)

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
    * Scale shape: the pinned id set is request-scale — one docmap lookup
    * with a driver-side liveness mask (the [[termVectors]] discipline);
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
    val dead = graft.index.IndexBuilder.deadAddrs(spark, snap, pinnedIds)
    val live: Set[String] = spark.read.parquet(snap.docmapDirs: _*)
      .filter(col("doc_id").isin(pinnedIds: _*))
      .select(col("shard"), col("ord"), col("doc_id"))
      .as[(Int, Long, String)].collect()
      .filter { case (sh, o, _) => !dead((sh, o)) }
      .map(_._3).toSet
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
      else termPruned(spark.read.parquet(snap.termstatsDir), allWords)
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
    val hits = searchImpl(spark, snap, qTerms, k + 1, ModeOr)
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

  /** Facet (bucket) counts over each query's FULL match set — the
    * OpenSearch/Elasticsearch terms-aggregation analog (the flagship
    * aggregation of the system the reference tool compares). For every
    * query, counts the LIVE matching docs per distinct value of a docmap
    * metadata column (`repo`, `path`, `commit`, `lang`): OR mode counts
    * docs containing at least one query term, conjunctive mode docs
    * containing all of them.
    *
    * Scale shape: a facet is over the whole match set by definition, so
    * the posting lists of the queried terms are fully decoded — but the
    * shuffle moves only slim (query_id, shard, ord) triples (tombstones
    * are subtracted during decode via the broadcast mask, and non-queried
    * terms never leave the pruned scan); the facet column is attached by
    * one equi-join against the docmap and aggregated map-side. No scores,
    * no content, no posting payloads move.
    *
    * @return (query_id int, facet string, doc_count long) */
  def facetCounts(spark: SparkSession, dir: String, queries: Seq[RefQuery],
                  facetCol: String, conjunctive: Boolean = false): DataFrame =
    facetCountsSnapshot(spark, SnapshotCatalog.require(spark, dir), queries, facetCol,
      conjunctive)

  def facetCountsSnapshot(spark: SparkSession, snap: Snapshot, queries: Seq[RefQuery],
                          facetCol: String, conjunctive: Boolean = false): DataFrame = {
    val matched = matchedOrds(spark, snap, queries, conjunctive)
    val dm = spark.read.parquet(snap.docmapDirs: _*)
      .select(col("shard"), col("ord"), col(facetCol).as("facet"))
    matched.join(dm, Seq("shard", "ord"))
      .groupBy("query_id", "facet").agg(count(lit(1)).as("doc_count"))
  }

  /** Total-hit counts (the OpenSearch `_count` API): the number of LIVE
    * docs matching each query — at least one term in OR mode, every term
    * in conjunctive mode. Same slim-triple derivation as [[facetCounts]]
    * but with no docmap join at all; queries matching nothing are
    * included with doc_count 0 (API totality).
    * @return (query_id int, doc_count long) */
  def matchCountsSnapshot(spark: SparkSession, snap: Snapshot, queries: Seq[RefQuery],
                          conjunctive: Boolean = false): DataFrame = {
    import spark.implicits._
    val counts = matchedOrds(spark, snap, queries, conjunctive)
      .groupBy("query_id").agg(count(lit(1)).as("doc_count"))
    queries.map(_.query_id).toDF("query_id")
      .join(counts, Seq("query_id"), "left")
      .select(col("query_id"), coalesce(col("doc_count"), lit(0L)).as("doc_count"))
  }

  /** Stats aggregation (the OpenSearch `stats` aggregation analog):
    * count / min / max / sum / avg of a NUMERIC docmap column (e.g. `dl`)
    * over each query's FULL live match set. Same slim-triple derivation
    * as [[facetCounts]] — tombstones subtracted at decode, one equi-join
    * attaches the value column, and the five statistics reduce map-side.
    * Queries matching nothing are included with doc_count 0 and null
    * statistics (API totality).
    * @return (query_id int, doc_count long, min_v/max_v/sum_v/avg_v double) */
  def statsAggSnapshot(spark: SparkSession, snap: Snapshot, queries: Seq[RefQuery],
                       valueCol: String, conjunctive: Boolean = false): DataFrame = {
    import spark.implicits._
    val matched = matchedOrds(spark, snap, queries, conjunctive)
    val dm = spark.read.parquet(snap.docmapDirs: _*)
      .select(col("shard"), col("ord"), col(valueCol).cast("double").as("v"))
    val agg = matched.join(dm, Seq("shard", "ord"))
      .groupBy("query_id").agg(count(lit(1)).as("doc_count"),
        min(col("v")).as("min_v"), max(col("v")).as("max_v"),
        sum(col("v")).as("sum_v"), avg(col("v")).as("avg_v"))
    queries.map(_.query_id).toDF("query_id")
      .join(agg, Seq("query_id"), "left")
      .select(col("query_id"), coalesce(col("doc_count"), lit(0L)).as("doc_count"),
        col("min_v"), col("max_v"), col("sum_v"), col("avg_v"))
  }

  /** string_stats aggregation (the OpenSearch `string_stats` agg with
    * `show_distribution`'s underlying statistic) over a string field of
    * the matched docs: value count, min/max/avg length, and the Shannon
    * entropy (bits, log2) of the CHARACTER distribution across all
    * matched values — the low-diversity / machine-generated-text
    * signal. Null values are skipped (the missing-value default); a
    * zero-match query reports count 0 / null stats (API totality).
    *
    * Scale shape: two map-side-partial aggregations over the same slim
    * (query_id, value) rows — one per value for count/lengths, one over
    * exploded characters whose groups are (query × alphabet)-sized; the
    * entropy normalizer joins back broadcast-small. Nothing
    * document-sized shuffles. The p·log2(p) fold is written identically
    * to the SQL oracle's (per-char p against the per-query total) so
    * both engines round to the same 4 decimals.
    * @return (query_id int, doc_count long, min_length int,
    *          max_length int, avg_length double, entropy double) */
  def stringStatsAggSnapshot(spark: SparkSession, snap: Snapshot,
                             queries: Seq[RefQuery], fieldCol: String,
                             conjunctive: Boolean = false): DataFrame = {
    import spark.implicits._
    val matched = matchedOrds(spark, snap, queries, conjunctive)
    val dm = spark.read.parquet(snap.docmapDirs: _*)
      .select(col("shard"), col("ord"), col(fieldCol).cast("string").as("s"))
    val vals = matched.join(dm, Seq("shard", "ord"))
      .filter(col("s").isNotNull)
      .select(col("query_id"), col("s"))
    val lens = vals.groupBy("query_id").agg(count(lit(1)).as("doc_count"),
      min(length(col("s"))).as("min_length"),
      max(length(col("s"))).as("max_length"),
      avg(length(col("s"))).as("avg_length"))
    val chars = vals
      .select(col("query_id"), explode(split(col("s"), "")).as("c"))
      .filter(length(col("c")) > 0)
      .groupBy("query_id", "c").agg(count(lit(1)).cast("double").as("n"))
    val tot = chars.groupBy("query_id").agg(sum(col("n")).as("tot"))
    val ent = chars.join(broadcast(tot), Seq("query_id"))
      .withColumn("p", col("n") / col("tot"))
      .groupBy("query_id").agg((-sum(col("p") * log2(col("p")))).as("entropy"))
    queries.map(_.query_id).toDF("query_id")
      .join(lens, Seq("query_id"), "left")
      .join(ent, Seq("query_id"), "left")
      .select(col("query_id"), coalesce(col("doc_count"), lit(0L)).as("doc_count"),
        col("min_length"), col("max_length"), col("avg_length"), col("entropy"))
  }

  /** Percentiles aggregation (the OpenSearch `percentiles` aggregation):
    * linear-interpolation percentiles of a numeric docmap column over
    * each query's live match set, one row per (query, percentile).
    * OpenSearch computes a t-digest approximation; the DEFAULT here is the
    * EXACT quantile (Spark's `percentile`, the same interpolation DuckDB's
    * `quantile_cont` uses — oracle-replayable), and `approx = true` is the
    * 100-TB configuration: Spark's `percentile_approx` (Greenwald–Khanna,
    * bounded memory per group regardless of match-set size — what
    * OpenSearch itself does with its t-digest). EVERY (query, pct) pair is
    * present — zero-match queries report doc_count 0 with a null value
    * (API totality).
    * Scale shape: the match set joins the docmap on (shard, ord) and the
    * quantile is one agg over slim (query_id, v) pairs.
    * @return (query_id int, pct double, doc_count long, value double) */
  def percentilesAggSnapshot(spark: SparkSession, snap: Snapshot,
                             queries: Seq[RefQuery], valueCol: String,
                             pcts: Seq[Double],
                             conjunctive: Boolean = false,
                             approx: Boolean = false): DataFrame = {
    import spark.implicits._
    require(pcts.nonEmpty, "percentiles agg needs at least one percentile")
    require(pcts.forall(p => p >= 0.0 && p <= 1.0),
      s"percentiles must be in [0, 1]: ${pcts.mkString(",")}")
    val matched = matchedOrds(spark, snap, queries, conjunctive)
    val dm = spark.read.parquet(snap.docmapDirs: _*)
      .select(col("shard"), col("ord"), col(valueCol).cast("double").as("v"))
    val pctFn =
      if (approx) s"percentile_approx(v, array(${pcts.mkString(", ")}), 10000)"
      else s"percentile(v, array(${pcts.mkString(", ")}))"
    val agg = matched.join(dm, Seq("shard", "ord"))
      .groupBy("query_id")
      .agg(count(lit(1)).as("doc_count"),
        expr(pctFn).as("vals"))
      .select(col("query_id"), col("doc_count"), posexplode(col("vals")))
      .withColumnRenamed("pos", "pct_pos").withColumnRenamed("col", "value")
    val pctDf = pcts.zipWithIndex.map { case (p, i) => (i, p) }
      .toDF("pct_pos", "pct")
    queries.map(_.query_id).toDF("query_id").crossJoin(pctDf)
      .join(agg, Seq("query_id", "pct_pos"), "left")
      .select(col("query_id"), col("pct"),
        coalesce(col("doc_count"), lit(0L)).as("doc_count"), col("value"))
  }

  /** Boxplot aggregation (the OpenSearch `boxplot` aggregation): the
    * five-number summary of a numeric docmap column over each query's
    * live match set — min, q1, q2 (median), q3, max — plus the IQR
    * whiskers OpenSearch reports: `lower` / `upper` are the smallest /
    * largest ACTUAL datum inside `[q1 - 1.5·IQR, q3 + 1.5·IQR]`.
    * Quantiles are exact linear interpolation by default (DuckDB
    * `quantile_cont` parity — oracle-replayable); `approx = true` is
    * the 100-TB configuration (Greenwald–Khanna, bounded memory like
    * OpenSearch's own t-digest). Zero-match queries report doc_count 0
    * with null values (API totality).
    *
    * Scale shape: ONE docmap equi-join and two partial-aggregable
    * passes over slim (query_id, v) rows — the second pass computes the
    * whisker extrema under the broadcast-joined quantile bounds; the
    * match set never collects.
    * @return (query_id int, doc_count long, min double, q1 double,
    *          q2 double, q3 double, max double, lower double,
    *          upper double) */
  def boxplotAggSnapshot(spark: SparkSession, snap: Snapshot,
                         queries: Seq[RefQuery], valueCol: String,
                         conjunctive: Boolean = false,
                         approx: Boolean = false): DataFrame = {
    import spark.implicits._
    val matched = matchedOrds(spark, snap, queries, conjunctive)
    val dm = spark.read.parquet(snap.docmapDirs: _*)
      .select(col("shard"), col("ord"), col(valueCol).cast("double").as("v"))
    val pctFn =
      if (approx) "percentile_approx(v, array(0.25, 0.5, 0.75), 10000)"
      else "percentile(v, array(0.25, 0.5, 0.75))"
    val vals = matched.join(dm, Seq("shard", "ord"))
      .select(col("query_id"), col("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // both aggregates are |queries|-bounded — collect them (the Q×k
      // result-render discipline) so `vals` can unpersist before return.
      // Options on every stat: an all-null value column (nullable
      // metadata, or a non-numeric cast) must yield doc_count > 0 with
      // null stats, never a typed-collect task failure
      val qstats: Map[Int, (Long, Option[Double], Option[Double], Option[Seq[Double]])] =
        vals.groupBy("query_id")
          .agg(count(lit(1)).as("doc_count"),
            min(col("v")).as("min_v"), max(col("v")).as("max_v"),
            expr(pctFn).as("qs"))
          .as[(Int, Long, Option[Double], Option[Double], Option[Seq[Double]])]
          .collect()
          .map { case (q, n, mn, mx, qs) => q -> ((n, mn, mx, qs)) }.toMap
      // whiskers: extrema of the ACTUAL data within 1.5 IQR of the box
      // (only queries with a real box — all-null queries skip)
      val bounds = qstats.toSeq.collect { case (q, (_, _, _, Some(qs))) =>
        val iqr = qs(2) - qs(0)
        (q, qs(0) - 1.5 * iqr, qs(2) + 1.5 * iqr)
      }.toDF("query_id", "lo_b", "hi_b")
      val whisk: Map[Int, (Double, Double)] =
        vals.join(broadcast(bounds), Seq("query_id"))
          .filter(col("v") >= col("lo_b") && col("v") <= col("hi_b"))
          .groupBy("query_id")
          .agg(min(col("v")).as("lower"), max(col("v")).as("upper"))
          .as[(Int, Double, Double)].collect()
          .map { case (q, lo, hi) => q -> ((lo, hi)) }.toMap
      queries.map { q =>
        val qid = q.query_id
        qstats.get(qid) match {
          case Some((n, mn, mx, Some(qs))) =>
            val (lo, hi) = whisk.get(qid) match {
              case Some((l, h)) => (Some(l), Some(h))
              case None         => (mn, mx)
            }
            (qid, n, mn, Some(qs(0)), Some(qs(1)), Some(qs(2)), mx, lo, hi)
          case Some((n, _, _, None)) => // matched docs, all-null values
            (qid, n, None, None, None, None, None, None, None)
          case None =>
            (qid, 0L, None, None, None, None, None, None, None)
        }
      }.toDF("query_id", "doc_count", "min", "q1", "q2", "q3", "max",
        "lower", "upper")
    } finally vals.unpersist(false)
  }

  /** t_test aggregation (the OpenSearch `t_test` aggregation with two
    * filters over one field): Student's t statistic between the two
    * filtered sub-populations of each query's live match set —
    * `heteroscedastic` (Welch, the OpenSearch default) or
    * `homoscedastic` (pooled variance). Returns the t statistic and its
    * degrees of freedom (Welch–Satterthwaite under heteroscedastic)
    * rather than OpenSearch's p-value: the Student-t CDF has no ANSI-SQL
    * form for the oracle to replay, and t + df carry the same
    * information — the documented divergence. Either side with n < 2
    * (or both variances 0) yields null statistics. Null-value rule:
    * `n_a`/`n_b` count docs with a NON-NULL `valueCol` on each side —
    * the samples that actually enter the statistic — not raw filter
    * membership (a matched doc with a null value contributes to
    * neither count nor moment; the q156 oracle counts the same way).
    *
    * Scale shape: one docmap equi-join, then ONE partial-aggregable
    * groupBy computing both sides' (n, mean, variance) via conditional
    * aggregates — no second pass, nothing collects.
    * @return (query_id int, n_a long, n_b long, t_stat double,
    *          df double) */
  def tTestAggSnapshot(spark: SparkSession, snap: Snapshot,
                       queries: Seq[RefQuery], valueCol: String,
                       filterA: org.apache.spark.sql.Column,
                       filterB: org.apache.spark.sql.Column,
                       homoscedastic: Boolean = false,
                       conjunctive: Boolean = false): DataFrame = {
    import spark.implicits._
    val matched = matchedOrds(spark, snap, queries, conjunctive)
    val dm = spark.read.parquet(snap.docmapDirs: _*)
      .select(col("shard"), col("ord"), col(valueCol).cast("double").as("v"),
        filterA.as("in_a"), filterB.as("in_b"))
    val va = when(col("in_a"), col("v"))
    val vb = when(col("in_b"), col("v"))
    val agg = matched.join(dm, Seq("shard", "ord"))
      .groupBy("query_id")
      .agg(count(va).as("n_a"), count(vb).as("n_b"),
        avg(va).as("m_a"), avg(vb).as("m_b"),
        var_samp(va).as("s2_a"), var_samp(vb).as("s2_b"))
    val nA = col("n_a").cast("double")
    val nB = col("n_b").cast("double")
    val ok = col("n_a") >= 2 && col("n_b") >= 2 &&
      (col("s2_a") > 0 || col("s2_b") > 0)
    val (tStat, dof) =
      if (homoscedastic) {
        val sp2 = ((nA - 1) * col("s2_a") + (nB - 1) * col("s2_b")) /
          (nA + nB - 2)
        ((col("m_a") - col("m_b")) / sqrt(sp2 * (lit(1.0) / nA + lit(1.0) / nB)),
          nA + nB - 2)
      } else {
        val se2 = col("s2_a") / nA + col("s2_b") / nB
        ((col("m_a") - col("m_b")) / sqrt(se2),
          se2 * se2 / (col("s2_a") * col("s2_a") / (nA * nA * (nA - 1)) +
            col("s2_b") * col("s2_b") / (nB * nB * (nB - 1))))
      }
    queries.map(_.query_id).toDF("query_id")
      .join(agg, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"),
        when(ok, tStat).as("t_stat"),
        when(ok, dof).as("df"))
  }

  /** Weighted-average aggregation (the OpenSearch `weighted_avg` agg):
    * Σ(value × weight) / Σ(weight) over each query's live match set.
    * `valueCol`/`weightCol` are SQL expressions over docmap columns
    * (the [[matrixStatsAggSnapshot]] convention). Zero-match queries report
    * doc_count 0 with a null average (API totality); a zero total
    * weight yields null (0/0), OpenSearch's no-data answer.
    * Scale shape: one partial-aggregable groupBy over slim
    * (query_id, v, w) rows after the match set's docmap equi-join.
    * @return (query_id int, doc_count long, weighted_avg double) */
  def weightedAvgAggSnapshot(spark: SparkSession, snap: Snapshot,
                             queries: Seq[RefQuery], valueCol: String,
                             weightCol: String,
                             conjunctive: Boolean = false): DataFrame = {
    import spark.implicits._
    val matched = matchedOrds(spark, snap, queries, conjunctive)
    val dm = spark.read.parquet(snap.docmapDirs: _*)
      .select(col("shard"), col("ord"),
        expr(valueCol).cast("double").as("v"),
        expr(weightCol).cast("double").as("w"))
    val agg = matched.join(dm, Seq("shard", "ord"))
      .groupBy("query_id").agg(count(lit(1)).as("doc_count"),
        (sum(col("v") * col("w")) / sum(col("w"))).as("weighted_avg"))
    queries.map(_.query_id).toDF("query_id")
      .join(agg, Seq("query_id"), "left")
      .select(col("query_id"), coalesce(col("doc_count"), lit(0L)).as("doc_count"),
        col("weighted_avg"))
  }

  /** Median-absolute-deviation aggregation (the OpenSearch
    * `median_absolute_deviation` agg): median(|v − median(v)|) over each
    * query's live match set. OpenSearch approximates with a t-digest;
    * the DEFAULT here computes the EXACT linear-interpolation quantile
    * twice (the [[percentilesAggSnapshot]] stance), and `approx = true` is the
    * 100-TB configuration: both medians via `percentile_approx`
    * (bounded memory per group regardless of match-set size). Zero-match
    * queries report doc_count 0 with a null deviation.
    * Scale shape: two aggs over the same slim (query_id, v) rows — the
    * inner median broadcasts back (|queries| rows) for the deviation
    * pass; only the match-set values shuffle, twice.
    * @return (query_id int, doc_count long, mad double) */
  def madAggSnapshot(spark: SparkSession, snap: Snapshot,
                     queries: Seq[RefQuery], valueCol: String,
                     conjunctive: Boolean = false,
                     approx: Boolean = false): DataFrame = {
    import spark.implicits._
    val matched = matchedOrds(spark, snap, queries, conjunctive)
    val dm = spark.read.parquet(snap.docmapDirs: _*)
      .select(col("shard"), col("ord"), expr(valueCol).cast("double").as("v"))
    val vals = matched.join(dm, Seq("shard", "ord"))
      .select(col("query_id"), col("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val medFn =
      if (approx) "percentile_approx(v, 0.5, 10000)"
      else "percentile(v, 0.5)"
    val madFn =
      if (approx) "percentile_approx(abs(v - med), 0.5, 10000)"
      else "percentile(abs(v - med), 0.5)"
    try {
      val med = vals.groupBy("query_id")
        .agg(expr(medFn).as("med"))
      val agg = vals.join(broadcast(med), Seq("query_id"))
        .groupBy("query_id").agg(count(lit(1)).as("doc_count"),
          expr(madFn).as("mad"))
      val out = queries.map(_.query_id).toDF("query_id")
        .join(agg, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("doc_count"), lit(0L)).as("doc_count"), col("mad"))
      val rows = out.collect() // eager: vals must not leak a cache entry
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toIndexedSeq, 1), out.schema)
    } finally vals.unpersist(false)
  }

  /** Terms aggregation with a stats SUB-aggregation (the OpenSearch
    * nested-aggs pattern — `terms { aggs: { stats } }`): the top `size`
    * buckets of `facetCol` over each query's live match set, each bucket
    * carrying doc_count plus min/max/sum/avg of a numeric `valueCol`.
    * Bucket order is the terms-agg default: doc_count desc, key asc tie.
    * Scale shape: ONE partial-aggregable groupBy over slim
    * (query, facet, v) rows — the sub-aggregation rides the same shuffle
    * as the bucket counts — and the rank window shuffles only the
    * already-aggregated bucket rows (|queries| × |distinct facets|).
    * @return (query_id int, rank int, facet, doc_count long,
    *          min_v, max_v, sum_v, avg_v double) */
  def facetStatsAggSnapshot(spark: SparkSession, snap: Snapshot,
                            queries: Seq[RefQuery], facetCol: String,
                            valueCol: String, size: Int,
                            conjunctive: Boolean = false): DataFrame = {
    require(size > 0, s"size must be positive: $size")
    val matched = matchedOrds(spark, snap, queries, conjunctive)
    val dm = spark.read.parquet(snap.docmapDirs: _*)
      .select(col("shard"), col("ord"), col(facetCol).as("facet"),
        col(valueCol).cast("double").as("v"))
    val agg = matched.join(dm, Seq("shard", "ord"))
      .groupBy("query_id", "facet")
      .agg(count(lit(1)).as("doc_count"),
        min(col("v")).as("min_v"), max(col("v")).as("max_v"),
        sum(col("v")).as("sum_v"), avg(col("v")).as("avg_v"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("doc_count").desc, col("facet").asc)
    agg.withColumn("rank", row_number().over(w)).filter(col("rank") <= size)
      .select("query_id", "rank", "facet", "doc_count",
        "min_v", "max_v", "sum_v", "avg_v")
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
    val matched = matchedOrds(spark, snap, queries, conjunctive)
    val dm = spark.read.parquet(snap.docmapDirs: _*)
      .select(col("shard"), col("ord"), col("doc_id"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("doc_id").asc)
    matched.join(dm, Seq("shard", "ord"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .withColumn("score", lit(boost))
      .select("query_id", "rank", "doc_id", "score")
  }

  /** The OpenSearch `ids` query: match exactly the requested LIVE doc
    * identities — a term-level query on `_id` with no text and no
    * stats, constant score `boost` in filter context (doc-order rank,
    * the [[constantScoreSearchSnapshot]] contract). Unknown or tombstoned ids
    * simply don't match — never an error, per the API. An upserted
    * identity matches once, as its live generation (the
    * [[liveRows]]/termVectors liveness discipline over the docmap).
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
    val dm = liveRows(spark, snap, spark.read.parquet(snap.docmapDirs: _*)
      .select(col("shard"), col("ord"), col("doc_id")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("doc_id").asc)
    dm.join(broadcast(req), Seq("doc_id"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .withColumn("score", lit(boost))
      .select("query_id", "rank", "doc_id", "score")
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
    val addrs = liveRows(spark, snap,
      spark.read.parquet(snap.docmapDirs: _*)
        .filter(col("doc_id") === lookupDocId)
        .select(col("shard"), col("ord")))
      .as[(Int, Long)].collect()
    require(addrs.nonEmpty,
      s"terms lookup doc not found or deleted: $lookupDocId")
    val (sh, o) = addrs.maxBy(identity) // live row unique; newest defensively
    val toks = graft.index.IndexBuilder.stagedRows(spark, dir)
      .filter(col("shard") === sh && col("ord") === o)
      .select(explode(col("tokens")).as("t")).distinct()
      .as[String].collect().sorted
    require(toks.length <= maxTerms,
      s"lookup doc has ${toks.length} distinct terms > max_terms_count $maxTerms")
    val matched = matchedOrdsTerms(spark, snap, Map(queryId -> toks),
      conjunctive = false)
    val dm = spark.read.parquet(snap.docmapDirs: _*)
      .select(col("shard"), col("ord"), col("doc_id"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("doc_id").asc)
    matched.join(dm, Seq("shard", "ord"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .withColumn("score", lit(boost))
      .select("query_id", "rank", "doc_id", "score")
  }

  /** scripted_metric aggregation (the OpenSearch agg of the same name,
    * with Scala functions where OpenSearch takes Painless scripts): per
    * query, `mapFn` folds every matched live doc's docmap row into a
    * state, `combineFn` merges states WITHIN a (query, shard) — the
    * shard-local combine script — and `reduceFn` folds the per-shard
    * states (delivered in ascending-shard order) into the final result.
    * As in OpenSearch, `combineFn` must be commutative and associative
    * (doc order within a shard is unspecified); `reduceFn` sees a
    * deterministic shard order, so it may be order-sensitive.
    * A query with no matches produces no output row.
    *
    * Scale shape: the match set moves as slim (query, shard, ord)
    * triples; states combine shard-locally (|queries| × |shards| rows
    * cross the final exchange, never the match set); the docmap join is
    * the only data-sized input and it streams.
    * @return Dataset[(query_id, R)] */
  def scriptedMetricAgg[S, R](spark: SparkSession, dir: String,
      queries: Seq[RefQuery],
      mapFn: org.apache.spark.sql.Row => S,
      combineFn: (S, S) => S,
      reduceFn: Seq[S] => R,
      conjunctive: Boolean = false)(
      implicit es: org.apache.spark.sql.Encoder[S],
      er: org.apache.spark.sql.Encoder[R]): org.apache.spark.sql.Dataset[(Int, R)] = {
    import org.apache.spark.sql.Encoders
    val snap = SnapshotCatalog.require(spark, dir)
    val matched = matchedOrds(spark, snap, queries, conjunctive)
    val dm = spark.read.parquet(snap.docmapDirs: _*)
    val joined = matched.join(dm, Seq("shard", "ord"))
    val pairEnc = Encoders.tuple(Encoders.scalaInt, Encoders.scalaInt)
    val shardEnc = Encoders.tuple(Encoders.scalaInt, Encoders.scalaInt, es)
    val outEnc = Encoders.tuple(Encoders.scalaInt, er)
    val perShard = joined
      .groupByKey(r => (r.getAs[Int]("query_id"), r.getAs[Int]("shard")))(pairEnc)
      .mapGroups((key: (Int, Int), rows: Iterator[org.apache.spark.sql.Row]) =>
        (key._1, key._2, rows.map(mapFn).reduce(combineFn)))(shardEnc)
    perShard.groupByKey(_._1)(Encoders.scalaInt)
      .mapGroups((qid: Int, xs: Iterator[(Int, Int, S)]) =>
        (qid, reduceFn(xs.toSeq.sortBy(_._2).map(_._3))))(outEnc)
  }

  /** Extended stats aggregation (the OpenSearch `extended_stats` agg):
    * [[statsAggSnapshot]] plus sum-of-squares, population variance, and standard
    * deviation of a numeric docmap column over each query's live match
    * set. Exact (`var_pop`; OpenSearch computes the same naive population
    * moments). Zero-match queries report doc_count 0 with null moments
    * (API totality). One partial-aggregable pass over slim (query, v).
    * @return (query_id int, doc_count long, sum_v, sum_sq, avg_v,
    *          var_v, std_v double) */
  def extendedStatsAggSnapshot(spark: SparkSession, snap: Snapshot,
                               queries: Seq[RefQuery], valueCol: String,
                               conjunctive: Boolean = false): DataFrame = {
    import spark.implicits._
    val matched = matchedOrds(spark, snap, queries, conjunctive)
    val dm = spark.read.parquet(snap.docmapDirs: _*)
      .select(col("shard"), col("ord"), col(valueCol).cast("double").as("v"))
    val agg = matched.join(dm, Seq("shard", "ord"))
      .groupBy("query_id").agg(count(lit(1)).as("doc_count"),
        sum(col("v")).as("sum_v"), sum(col("v") * col("v")).as("sum_sq"),
        avg(col("v")).as("avg_v"), var_pop(col("v")).as("var_v"),
        stddev_pop(col("v")).as("std_v"))
    queries.map(_.query_id).toDF("query_id")
      .join(agg, Seq("query_id"), "left")
      .select(col("query_id"), coalesce(col("doc_count"), lit(0L)).as("doc_count"),
        col("sum_v"), col("sum_sq"), col("avg_v"), col("var_v"), col("std_v"))
  }

  /** Percentile-ranks aggregation (the OpenSearch `percentile_ranks`
    * agg): for each probe value, the percentage of match-set docs whose
    * `valueCol` is ≤ that value — the EXACT empirical CDF × 100
    * (OpenSearch interpolates a t-digest; the exact step CDF is this
    * library's documented stance, like [[percentilesAggSnapshot]]). EVERY
    * (query, value) pair is present; zero-match queries report
    * doc_count 0 with a null rank (API totality).
    * @return (query_id int, value double, doc_count long, pct_rank double) */
  def percentileRanksAggSnapshot(spark: SparkSession, snap: Snapshot,
                                 queries: Seq[RefQuery], valueCol: String,
                                 values: Seq[Double],
                                 conjunctive: Boolean = false): DataFrame = {
    import spark.implicits._
    require(values.nonEmpty, "percentile_ranks needs at least one value")
    val matched = matchedOrds(spark, snap, queries, conjunctive)
    val dm = spark.read.parquet(snap.docmapDirs: _*)
      .select(col("shard"), col("ord"), col(valueCol).cast("double").as("v"))
    val probeAggs = values.zipWithIndex.map { case (x, i) =>
      sum(when(col("v") <= lit(x), 1L).otherwise(0L)).as(s"le_$i") }
    val agg = matched.join(dm, Seq("shard", "ord"))
      .groupBy("query_id")
      .agg(count(lit(1)).as("doc_count"), probeAggs: _*)
    val probeDf = values.zipWithIndex.map { case (x, i) => (i, x) }
      .toDF("probe_pos", "value")
    val long = agg.select(col("query_id"), col("doc_count"),
      posexplode(array(values.indices.map(i => col(s"le_$i")): _*)))
      .withColumnRenamed("pos", "probe_pos").withColumnRenamed("col", "le")
    queries.map(_.query_id).toDF("query_id").crossJoin(probeDf)
      .join(long, Seq("query_id", "probe_pos"), "left")
      .select(col("query_id"), col("value"),
        coalesce(col("doc_count"), lit(0L)).as("doc_count"),
        (lit(100.0) * col("le") / col("doc_count")).as("pct_rank"))
  }

  /** Adjacency-matrix aggregation (the OpenSearch `adjacency_matrix`
    * agg): given NAMED filter queries, the doc count of every filter and
    * of every pairwise intersection, keyed `name` / `name1&name2` with
    * names in ascending order — exactly the OpenSearch bucket-key
    * contract. Scale shape: each filter's match set is the usual slim
    * (query, shard, ord) set; intersections come from ONE self-equi-join
    * on (shard, ord) (never all-pairs over docs — the join fans out only
    * where a doc matches ≥ 2 filters), and the output is |filters|² / 2
    * driver-tiny rows. Empty buckets are omitted, as OpenSearch omits
    * zero-doc buckets.
    * @return (key string, doc_count long) */
  def adjacencyMatrixAggSnapshot(spark: SparkSession, snap: Snapshot,
                                 filters: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    require(filters.nonEmpty, "adjacency_matrix needs at least one filter")
    require(filters.map(_._1).distinct.size == filters.size,
      s"duplicate filter names: ${filters.map(_._1).mkString(",")}")
    require(filters.forall(!_._1.contains("&")),
      "filter names must not contain '&' (the intersection key separator)")
    val matched = matchedOrds(spark, snap,
      filters.zipWithIndex.map { case ((_, text), i) => RefQuery(i, text) },
      conjunctive = false)
    val names = filters.map(_._1).zipWithIndex.map { case (n, i) => (i, n) }
    val n1 = names.toDF("qid_a", "name_a")
    val n2 = names.toDF("qid_b", "name_b")
    val a = matched.select(col("query_id").as("qid_a"), col("shard"), col("ord"))
    val b = matched.select(col("query_id").as("qid_b"), col("shard"), col("ord"))
    a.join(b, Seq("shard", "ord")).filter(col("qid_a") <= col("qid_b"))
      .groupBy("qid_a", "qid_b").agg(count(lit(1)).as("doc_count"))
      .join(broadcast(n1), Seq("qid_a")).join(broadcast(n2), Seq("qid_b"))
      .select(when(col("qid_a") === col("qid_b"), col("name_a"))
          .otherwise(when(col("name_a") <= col("name_b"),
              concat_ws("&", col("name_a"), col("name_b")))
            .otherwise(concat_ws("&", col("name_b"), col("name_a"))))
          .as("key"),
        col("doc_count"))
  }

  /** Composite aggregation (the OpenSearch `composite` agg — THE
    * scalable way to page through ALL buckets): buckets of `facetCol`
    * over each query's live match set in ascending-key order, resuming
    * strictly AFTER `afterKey` when given, `size` buckets per page. The
    * caller pages by feeding the last returned facet back as after_key —
    * each page is one bounded query, so a 10^9-bucket keyspace never
    * materializes at once. The after-key predicate is on the group key,
    * so Catalyst pushes it below the aggregation (buckets outside the
    * page are never aggregated past the partial stage).
    * @return (query_id int, facet, doc_count long) — ascending facet */
  def compositeAggSnapshot(spark: SparkSession, snap: Snapshot,
                           queries: Seq[RefQuery], facetCol: String,
                           size: Int, afterKey: Option[String] = None,
                           conjunctive: Boolean = false): DataFrame = {
    require(size > 0, s"size must be positive: $size")
    val matched = matchedOrds(spark, snap, queries, conjunctive)
    val dm0 = spark.read.parquet(snap.docmapDirs: _*)
      .select(col("shard"), col("ord"), col(facetCol).cast("string").as("facet"))
    val dm = afterKey.fold(dm0)(a => dm0.filter(col("facet") > lit(a)))
    val w = Window.partitionBy(col("query_id")).orderBy(col("facet").asc)
    matched.join(dm, Seq("shard", "ord"))
      .groupBy("query_id", "facet").agg(count(lit(1)).as("doc_count"))
      .withColumn("r", row_number().over(w)).filter(col("r") <= size).drop("r")
  }

  /** Rare-terms aggregation (the OpenSearch `rare_terms` agg): the
    * long-tail buckets of `facetCol` — doc_count ≤ `maxDocCount` — over
    * each query's live match set. OpenSearch approximates with a CuckooFilter;
    * this is the exact form (one partial-aggregable groupBy, then a
    * post-aggregation filter on the already-slim bucket rows).
    * @return (query_id int, facet, doc_count long) */
  def rareTermsAggSnapshot(spark: SparkSession, snap: Snapshot,
                           queries: Seq[RefQuery], facetCol: String,
                           maxDocCount: Long,
                           conjunctive: Boolean = false): DataFrame = {
    require(maxDocCount > 0, s"max_doc_count must be positive: $maxDocCount")
    val matched = matchedOrds(spark, snap, queries, conjunctive)
    val dm = spark.read.parquet(snap.docmapDirs: _*)
      .select(col("shard"), col("ord"), col(facetCol).as("facet"))
    matched.join(dm, Seq("shard", "ord"))
      .groupBy("query_id", "facet").agg(count(lit(1)).as("doc_count"))
      .filter(col("doc_count") <= maxDocCount)
  }

  /** Multi-terms aggregation (the OpenSearch `multi_terms` agg): buckets
    * keyed by a TUPLE of docmap columns, top `size` per query by
    * doc_count desc with the full key tuple as the ascending tie-break.
    * Same scale shape as [[facetStatsAggSnapshot]] — one partial-aggregable
    * groupBy over slim rows, the rank window over aggregated buckets.
    * @return (query_id int, rank int, <keyCols...>, doc_count long) */
  def multiTermsAggSnapshot(spark: SparkSession, snap: Snapshot,
                            queries: Seq[RefQuery], keyCols: Seq[String],
                            size: Int, conjunctive: Boolean = false): DataFrame = {
    require(keyCols.nonEmpty, "multi_terms needs at least one key column")
    require(size > 0, s"size must be positive: $size")
    val matched = matchedOrds(spark, snap, queries, conjunctive)
    val dm = spark.read.parquet(snap.docmapDirs: _*)
      .select(col("shard") +: col("ord") +: keyCols.map(col): _*)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("doc_count").desc +: keyCols.map(c => col(c).asc): _*)
    matched.join(dm, Seq("shard", "ord"))
      .groupBy(col("query_id") +: keyCols.map(col): _*)
      .agg(count(lit(1)).as("doc_count"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= size)
      .select(col("query_id") +: col("rank") +: keyCols.map(col) :+
        col("doc_count"): _*)
  }

  /** Derivative + cumulative_sum pipeline aggregations (the OpenSearch
    * `derivative` and `cumulative_sum` pipeline aggs riding a histogram
    * parent): the gap-filled buckets of [[histogramAggSnapshot]], each extended
    * with the first difference of doc_count vs the previous bucket (null
    * on each query's first bucket — OpenSearch omits the value there)
    * and the running doc_count total in ascending key order.
    *
    * Scale shape: pipeline aggs are POST-aggregation transforms. The
    * window runs over already-aggregated bucket rows — bounded by the
    * histogram's maxBuckets guard, never corpus-sized — so the
    * data-scale cost stays in the parent histogram's one
    * partial-aggregable shuffle, and the per-query bucket window adds
    * one exchange of the slim bucket rows only.
    * @return (query_id int, key double, doc_count long,
    *          derivative double|null, cumulative long) */
  def derivativeAggSnapshot(spark: SparkSession, snap: Snapshot,
                            queries: Seq[RefQuery], valueCol: String,
                            interval: Double, conjunctive: Boolean = false,
                            maxBuckets: Int = 65536): DataFrame = {
    val buckets = histogramAggSnapshot(spark, snap, queries, valueCol,
      interval, conjunctive, maxBuckets)
    val w = Window.partitionBy(col("query_id")).orderBy(col("key").asc)
    buckets
      .withColumn("derivative",
        (col("doc_count") - lag(col("doc_count"), 1).over(w)).cast("double"))
      .withColumn("cumulative", sum(col("doc_count"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** bucket_script pipeline aggregation (the OpenSearch `bucket_script`
    * agg): per histogram bucket, a caller-supplied expression over the
    * bucket's metric sub-aggregations — here `doc_count` and the SUM of
    * a second numeric column — with Scala Column math standing in for
    * Painless (the [[scriptedMetricAgg]] stance: same shape, typed and
    * codegen'd instead of interpreted). Gap-filled buckets carry
    * doc_count 0 and a null metric sum; whatever the script yields on
    * them (usually null) is returned as-is, OpenSearch's
    * skip-gap behavior.
    * Scale shape: the [[derivativeAggSnapshot]] discipline — one extra SUM in
    * the same partial-aggregable bucket pass, then driver-free column
    * math over maxBuckets-bounded rows.
    * @return (query_id int, key double, doc_count long, metric double,
    *          script double) */
  def bucketScriptAggSnapshot(spark: SparkSession, snap: Snapshot,
                              queries: Seq[RefQuery], valueCol: String,
                              interval: Double, metricCol: String,
                              script: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column,
                              conjunctive: Boolean = false,
                              maxBuckets: Int = 65536): DataFrame = {
    val buckets = histogramAggSnapshot(spark, snap, queries, valueCol,
      interval, conjunctive, maxBuckets)
    val matched = matchedOrds(spark, snap, queries, conjunctive)
    val dm = spark.read.parquet(snap.docmapDirs: _*)
      .select(col("shard"), col("ord"),
        (floor(col(valueCol).cast("double") / lit(interval)).cast("long")
          .cast("double") * lit(interval)).as("key"),
        col(metricCol).cast("double").as("mv"))
    val metric = matched.join(dm, Seq("shard", "ord"))
      .groupBy("query_id", "key").agg(sum(col("mv")).as("metric"))
    buckets.join(metric, Seq("query_id", "key"), "left")
      .withColumn("script", script(col("doc_count"), col("metric")))
      .select("query_id", "key", "doc_count", "metric", "script")
  }

  /** The normalize-method names [[normalizeAggSnapshot]] implements (the
    * OpenSearch `normalize` pipeline agg's method set minus softmax). */
  val NormalizeMethods: Set[String] =
    Set("percent_of_sum", "rescale_0_1", "z_score")

  /** normalize pipeline aggregation (the OpenSearch `normalize` agg):
    * each histogram bucket's doc_count rescaled against its own query's
    * bucket series — `percent_of_sum` (x/Σx), `rescale_0_1`
    * ((x−min)/(max−min); a constant series maps to 0, OpenSearch's
    * division guard), `z_score` ((x−μ)/σ with the POPULATION σ, null σ=0).
    * Scale shape: the [[derivativeAggSnapshot]] discipline — the pipeline window
    * runs over already-aggregated maxBuckets-bounded bucket rows.
    * @return (query_id int, key double, doc_count long,
    *          normalized double|null) */
  def normalizeAggSnapshot(spark: SparkSession, snap: Snapshot,
                           queries: Seq[RefQuery], valueCol: String,
                           interval: Double, method: String,
                           conjunctive: Boolean = false,
                           maxBuckets: Int = 65536): DataFrame = {
    require(NormalizeMethods(method),
      s"unknown normalize method '$method' (have: ${NormalizeMethods.mkString(", ")})")
    val buckets = histogramAggSnapshot(spark, snap, queries, valueCol,
      interval, conjunctive, maxBuckets)
    val w = Window.partitionBy(col("query_id"))
    val x = col("doc_count").cast("double")
    val normalized = method match {
      case "percent_of_sum" =>
        when(sum(x).over(w) > 0, x / sum(x).over(w))
      case "rescale_0_1" =>
        when(max(x).over(w) === min(x).over(w), lit(0.0))
          .otherwise((x - min(x).over(w)) / (max(x).over(w) - min(x).over(w)))
      case "z_score" =>
        when(stddev_pop(x).over(w) > 0,
          (x - avg(x).over(w)) / stddev_pop(x).over(w))
    }
    buckets.withColumn("normalized", normalized)
  }

  /** cumulative_cardinality pipeline aggregation (the OpenSearch agg of
    * the same name): for each histogram bucket, the number of DISTINCT
    * `field` values seen in buckets up to and including it — the
    * "new users per period accumulate" shape. Computed exactly and
    * scalably via first-appearance: each (query, value) pair reduces to
    * the FIRST bucket it occurs in (one slim partial-aggregable
    * groupBy), per-bucket first-appearance counts join the densified
    * bucket spine, and the running sum of first-appearances IS the
    * cumulative cardinality — no per-bucket distinct sets ever
    * materialize, no bucket-prefix re-scan.
    * @return (query_id int, key double, doc_count long,
    *          cumulative_cardinality long) */
  def cumulativeCardinalityAggSnapshot(spark: SparkSession, snap: Snapshot,
                                       queries: Seq[RefQuery], valueCol: String,
                                       interval: Double, field: String,
                                       conjunctive: Boolean = false,
                                       maxBuckets: Int = 65536): DataFrame = {
    val buckets = histogramAggSnapshot(spark, snap, queries, valueCol,
      interval, conjunctive, maxBuckets)
    val matched = matchedOrds(spark, snap, queries, conjunctive)
    val dm = spark.read.parquet(snap.docmapDirs: _*)
      .select(col("shard"), col("ord"),
        (floor(col(valueCol).cast("double") / lit(interval)).cast("long")
          .cast("double") * lit(interval)).as("key"),
        col(field).as("fv"))
    val firstSeen = matched.join(dm, Seq("shard", "ord"))
      .filter(col("fv").isNotNull) // a missing field never counts (OpenSearch)
      .groupBy("query_id", "fv").agg(min(col("key")).as("key"))
      .groupBy("query_id", "key").agg(count(lit(1)).as("new_values"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("key").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    buckets.join(firstSeen, Seq("query_id", "key"), "left")
      .withColumn("cumulative_cardinality",
        sum(coalesce(col("new_values"), lit(0L))).over(w))
      .select("query_id", "key", "doc_count", "cumulative_cardinality")
  }

  /** moving_fn pipeline aggregation (the OpenSearch `moving_fn` with
    * `MovingFunctions.unweightedAvg`, shift 0 — the moving-average
    * shape): over the histogram's key-ascending bucket series, each
    * bucket reports the average doc_count of the PREVIOUS `window`
    * buckets, current excluded — null while the window is empty (the
    * first bucket), partial averages while it fills, exactly
    * OpenSearch's sliding behavior. The window is positional over bucket
    * ordinals (the parent histogram densifies gaps to zero-count
    * buckets, so ordinals and key steps agree).
    *
    * Scale shape: identical to [[derivativeAggSnapshot]] — the pipeline window
    * runs over already-aggregated slim bucket rows, bounded by
    * maxBuckets; the data-scale cost stays in the parent histogram.
    * @return (query_id int, key double, doc_count long,
    *          moving_avg double|null) */
  def movingFnAggSnapshot(spark: SparkSession, snap: Snapshot,
                          queries: Seq[RefQuery], valueCol: String,
                          interval: Double, window: Int,
                          conjunctive: Boolean = false,
                          maxBuckets: Int = 65536): DataFrame = {
    require(window > 0, s"moving_fn window must be positive: $window")
    val buckets = histogramAggSnapshot(spark, snap, queries, valueCol,
      interval, conjunctive, maxBuckets)
    val w = Window.partitionBy(col("query_id")).orderBy(col("key").asc)
      .rowsBetween(-window.toLong, -1L)
    buckets.withColumn("moving_avg",
      avg(col("doc_count").cast("double")).over(w))
  }

  /** moving_percentiles pipeline aggregation (the OpenSearch agg of the
    * same name, shift 0): over the histogram's key-ascending bucket
    * series, each bucket reports the requested percentiles of the
    * PREVIOUS `window` buckets' doc_counts — current excluded, null
    * while the window is empty, partial windows while it fills, exactly
    * [[movingFnAggSnapshot]]'s sliding rule. Percentiles are exact with
    * linear interpolation (Spark `percentile` ≡ DuckDB `quantile_cont`)
    * rather than OpenSearch's TDigest sketch: each window holds at most
    * `window` values, so exactness costs nothing at any corpus scale.
    *
    * Scale shape: identical to [[movingFnAggSnapshot]] — positional
    * windows over already-aggregated slim bucket rows (bounded by
    * maxBuckets); the data-scale cost stays in the parent histogram.
    * @return (query_id int, key double, doc_count long, then one
    *         `p<NN>` double|null column per requested percent, in
    *         input order — 99.9 renders as p99_9) */
  def movingPercentilesAggSnapshot(spark: SparkSession, snap: Snapshot,
                                   queries: Seq[RefQuery], valueCol: String,
                                   interval: Double, window: Int,
                                   percents: Seq[Double],
                                   conjunctive: Boolean = false,
                                   maxBuckets: Int = 65536): DataFrame = {
    require(window > 0, s"moving_percentiles window must be positive: $window")
    require(percents.nonEmpty, "need at least one percent")
    require(percents.forall(p => p > 0.0 && p <= 100.0),
      s"percents must be in (0, 100]: $percents")
    require(percents.distinct.size == percents.size,
      s"duplicate percents: $percents")
    val buckets = histogramAggSnapshot(spark, snap, queries, valueCol,
      interval, conjunctive, maxBuckets)
    val w = Window.partitionBy(col("query_id")).orderBy(col("key").asc)
      .rowsBetween(-window.toLong, -1L)
    percents.foldLeft(buckets) { (df, p) =>
      val name =
        if (p == math.rint(p)) s"p${p.toLong}"
        else s"p${p.toString.replace('.', '_')}"
      df.withColumn(name,
        percentile(col("doc_count").cast("double"), lit(p / 100.0)).over(w))
    }
  }

  /** serial_diff pipeline aggregation (the OpenSearch `serial_diff` with
    * `lag`): each histogram bucket reports doc_count minus the doc_count
    * `lag` buckets earlier in key order — null while no bucket sits that
    * far back. Positional over the densified bucket series, like
    * [[movingFnAggSnapshot]].
    * @return (query_id int, key double, doc_count long,
    *          serial_diff double|null) */
  def serialDiffAggSnapshot(spark: SparkSession, snap: Snapshot,
                            queries: Seq[RefQuery], valueCol: String,
                            interval: Double, lagBuckets: Int,
                            conjunctive: Boolean = false,
                            maxBuckets: Int = 65536): DataFrame = {
    require(lagBuckets > 0, s"serial_diff lag must be positive: $lagBuckets")
    val buckets = histogramAggSnapshot(spark, snap, queries, valueCol,
      interval, conjunctive, maxBuckets)
    val w = Window.partitionBy(col("query_id")).orderBy(col("key").asc)
    buckets.withColumn("serial_diff",
      (col("doc_count") - lag(col("doc_count"), lagBuckets).over(w))
        .cast("double"))
  }

  /** bucket_selector + bucket_sort pipeline aggregations over a terms
    * parent with a metric sub-agg (the OpenSearch `bucket_selector` /
    * `bucket_sort` pipeline aggs): `facetCol` buckets of each query's
    * live match set carry doc_count and avg(`metricCol`); the selector
    * drops buckets with doc_count < `minDocCount`, then bucket_sort
    * re-ranks the SURVIVORS by the sub-agg metric (avg desc, facet asc
    * tie-break — not the terms agg's own doc_count order) and keeps the
    * top `size`.
    *
    * Scale shape: identical to [[facetStatsAggSnapshot]] — one partial-aggregable
    * groupBy over slim (query_id, facet, metric) rows; selector and sort
    * are post-aggregation transforms over the already-slim bucket rows.
    * @return (query_id int, rank int, facet string, doc_count long,
    *          avg_v double) */
  def bucketSortAggSnapshot(spark: SparkSession, snap: Snapshot,
                            queries: Seq[RefQuery], facetCol: String,
                            metricCol: String, minDocCount: Long, size: Int,
                            conjunctive: Boolean = false): DataFrame = {
    require(size > 0, s"size must be positive: $size")
    require(minDocCount >= 0, s"minDocCount must be >= 0: $minDocCount")
    val matched = matchedOrds(spark, snap, queries, conjunctive)
    val dm = spark.read.parquet(snap.docmapDirs: _*)
      .select(col("shard"), col("ord"),
        col(facetCol).cast("string").as("facet"),
        col(metricCol).cast("double").as("v"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("avg_v").desc, col("facet").asc)
    matched.join(dm, Seq("shard", "ord"))
      .groupBy("query_id", "facet")
      .agg(count(lit(1)).as("doc_count"), avg(col("v")).as("avg_v"))
      .filter(col("doc_count") >= lit(minDocCount)) // bucket_selector
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= size)
      .select(col("query_id"), col("rank"), col("facet"), col("doc_count"),
        col("avg_v"))
  }

  /** stats_bucket sibling pipeline aggregation (the OpenSearch
    * `stats_bucket` / `avg_bucket` / `max_bucket` family): min / max /
    * sum / avg of a terms parent's per-bucket doc_counts, one row per
    * query. Zero-match queries report no row (OpenSearch's null
    * stats_bucket on an empty parent).
    *
    * Scale shape: the second groupBy runs over bucket rows (one per
    * distinct facet value per query), which the terms parent already
    * reduced from corpus scale; the sibling agg's exchange is
    * negligible by construction.
    * @return (query_id int, bucket_count long, min_bucket long,
    *          max_bucket long, sum_bucket long, avg_bucket double) */
  def statsBucketAggSnapshot(spark: SparkSession, snap: Snapshot,
                             queries: Seq[RefQuery], facetCol: String,
                             conjunctive: Boolean = false): DataFrame = {
    val matched = matchedOrds(spark, snap, queries, conjunctive)
    val dm = spark.read.parquet(snap.docmapDirs: _*)
      .select(col("shard"), col("ord"), col(facetCol).as("facet"))
    matched.join(dm, Seq("shard", "ord"))
      .groupBy("query_id", "facet").agg(count(lit(1)).as("doc_count"))
      .groupBy("query_id")
      .agg(count(lit(1)).as("bucket_count"),
        min("doc_count").as("min_bucket"), max("doc_count").as("max_bucket"),
        sum("doc_count").as("sum_bucket"), avg("doc_count").as("avg_bucket"))
  }

  /** percentiles_bucket pipeline aggregation (the OpenSearch
    * `percentiles_bucket` sibling agg): exact linear-interpolation
    * percentiles of the terms buckets' doc_counts — the
    * [[statsBucketAggSnapshot]] input with the
    * [[percentilesAggSnapshot]] quantile contract (DuckDB
    * `quantile_cont`-replayable). EVERY (query, pct) pair is present;
    * a zero-match query reports bucket_count 0 with a null value (API
    * totality). Scale shape: the bucket fold is map-side partial and
    * its output is facet-cardinality-sized — the quantile runs over
    * bucket rows, never documents.
    * @return (query_id int, pct double, bucket_count long,
    *          value double) */
  def percentilesBucketAggSnapshot(spark: SparkSession, snap: Snapshot,
                                   queries: Seq[RefQuery], facetCol: String,
                                   pcts: Seq[Double],
                                   conjunctive: Boolean = false): DataFrame = {
    import spark.implicits._
    require(pcts.nonEmpty, "percentiles_bucket needs at least one percentile")
    require(pcts.forall(p => p >= 0.0 && p <= 1.0),
      s"percentiles must be in [0, 1]: ${pcts.mkString(",")}")
    val matched = matchedOrds(spark, snap, queries, conjunctive)
    val dm = spark.read.parquet(snap.docmapDirs: _*)
      .select(col("shard"), col("ord"), col(facetCol).as("facet"))
    val buckets = matched.join(dm, Seq("shard", "ord"))
      .groupBy("query_id", "facet").agg(count(lit(1)).as("doc_count"))
    val agg = buckets.groupBy("query_id")
      .agg(count(lit(1)).as("bucket_count"),
        expr(s"percentile(doc_count, array(${pcts.mkString(", ")}))").as("vals"))
      .select(col("query_id"), col("bucket_count"), posexplode(col("vals")))
      .withColumnRenamed("pos", "pct_pos").withColumnRenamed("col", "value")
    val pctDf = pcts.zipWithIndex.map { case (p, i) => (i, p) }
      .toDF("pct_pos", "pct")
    queries.map(_.query_id).toDF("query_id").crossJoin(pctDf)
      .join(agg, Seq("query_id", "pct_pos"), "left")
      .select(col("query_id"), col("pct"),
        coalesce(col("bucket_count"), lit(0L)).as("bucket_count"), col("value"))
  }

  /** Auto-interval histogram (the OpenSearch `auto_date_histogram` shape
    * on a numeric field): per query, pick the SMALLEST interval from the
    * 1-2-5 decade ladder (1, 2, 5, 10, 20, 50, …) whose densified bucket
    * count `floor(max/i) − floor(min/i) + 1` fits `targetBuckets`, then
    * bucket like [[histogramAggSnapshot]] (gap buckets filled with zero counts).
    * The chosen interval is returned per row — the API's
    * `interval` response field. Zero-match queries report no buckets.
    *
    * Scale shape: one slim min/max agg picks intervals (|queries| rows
    * collect — driver-trivial), one partial-aggregable groupBy counts
    * buckets; densification happens on ≤ |queries|·targetBuckets rows.
    * @return (query_id int, interval double, key double, doc_count long) */
  def autoHistogramAggSnapshot(spark: SparkSession, snap: Snapshot,
                               queries: Seq[RefQuery], valueCol: String,
                               targetBuckets: Int,
                               conjunctive: Boolean = false): DataFrame = {
    import spark.implicits._
    require(targetBuckets > 0,
      s"targetBuckets must be positive: $targetBuckets")
    val matched = matchedOrds(spark, snap, queries, conjunctive)
    val dm = spark.read.parquet(snap.docmapDirs: _*)
      .select(col("shard"), col("ord"), expr(valueCol).cast("double").as("v"))
    val vals = matched.join(dm, Seq("shard", "ord"))
      .select(col("query_id"), col("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val mm = vals.groupBy("query_id")
        .agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
        .as[(Int, Double, Double)].collect()
      // the 1-2-5 decade ladder, ascending; first fitting interval wins
      val ladder = (0 to 12).flatMap(k =>
        Seq(1.0, 2.0, 5.0).map(_ * math.pow(10.0, k.toDouble)))
      def bucketsAt(lo: Double, hi: Double, i: Double): Long =
        (math.floor(hi / i) - math.floor(lo / i)).toLong + 1L
      val chosen: Map[Int, Double] = mm.map { case (qid, lo, hi) =>
        qid -> ladder.find(i => bucketsAt(lo, hi, i) <= targetBuckets)
          .getOrElse(ladder.last)
      }.toMap
      // densified (query, bidx) frame, driver-built: <= |q| x target rows
      val frame = mm.flatMap { case (qid, lo, hi) =>
        val i = chosen(qid)
        (math.floor(lo / i).toLong to math.floor(hi / i).toLong)
          .map(b => (qid, i, b))
      }.toSeq.toDF("query_id", "interval", "bidx")
      val ivDf = chosen.toSeq.toDF("query_id", "iv")
      val counts = vals.join(broadcast(ivDf), Seq("query_id"))
        .withColumn("bidx", floor(col("v") / col("iv")).cast("long"))
        .groupBy("query_id", "bidx").agg(count(lit(1)).as("c"))
      // hint the NON-preserved side: a left-outer join can only build the
      // right side's hash relation, so broadcast(frame) (the preserved
      // side) was unusable — Spark logged a HintErrorLogger WARN and fell
      // back to a shuffle join. counts is bounded (post-agg, <= |q| x
      // buckets rows), so it is the correct broadcast side.
      frame.join(broadcast(counts), Seq("query_id", "bidx"), "left")
        .select(col("query_id"), col("interval"),
          (col("bidx") * col("interval")).as("key"),
          coalesce(col("c"), lit(0L)).as("doc_count"))
    } finally vals.unpersist(false)
  }

  /** top_metrics aggregation (the OpenSearch `top_metrics` agg): the
    * metric value of the top `size` docs per query ranked by a SORT
    * column (not relevance — `sort_value` desc or asc, doc_id asc
    * tiebreak). One metric expression, the common case.
    * Scale shape: the rank window shuffles the slim match set once;
    * metrics ride the same docmap join.
    * @return (query_id int, rank int, doc_id string, sort_value double,
    *          metric double) */
  def topMetricsAggSnapshot(spark: SparkSession, snap: Snapshot,
                            queries: Seq[RefQuery], sortCol: String,
                            metricCol: String, size: Int,
                            ascending: Boolean = false,
                            conjunctive: Boolean = false): DataFrame = {
    require(size > 0, s"top_metrics size must be positive: $size")
    val matched = matchedOrds(spark, snap, queries, conjunctive)
    val dm = spark.read.parquet(snap.docmapDirs: _*)
      .select(col("shard"), col("ord"), col("doc_id"),
        expr(sortCol).cast("double").as("sort_value"),
        expr(metricCol).cast("double").as("metric"))
    val ord = if (ascending) col("sort_value").asc else col("sort_value").desc
    // per-shard pre-cut before the global window (the samplerAggSnapshot shape):
    // the single-partition-per-query final rank sees ≤ S×size rows.
    // Docs whose sort expression is null are SKIPPED (the OpenSearch
    // top_metrics missing-field rule) — without the filter Spark's
    // nulls-first asc would hand them the top slots while desc buries
    // them, an asymmetry no caller wants
    val wShard = Window.partitionBy(col("query_id"), col("shard"))
      .orderBy(ord, col("doc_id").asc)
    val w = Window.partitionBy(col("query_id")).orderBy(ord, col("doc_id").asc)
    matched.join(dm, Seq("shard", "ord"))
      .filter(col("sort_value").isNotNull)
      .withColumn("pr", row_number().over(wShard)).filter(col("pr") <= size)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= size)
      .select("query_id", "rank", "doc_id", "sort_value", "metric")
  }

  /** max_bucket / min_bucket pipeline aggregation (the OpenSearch
    * `max_bucket` and `min_bucket` sibling aggs over a terms parent;
    * `isMax` picks which): the bucket(s) of `facetCol` whose doc_count is
    * the series maximum (minimum) — `keys` is the ascending comma-join
    * of the tied bucket keys (OpenSearch returns a keys ARRAY precisely
    * because ties happen), `value` the extreme count. Zero-match queries
    * report no row (no bucket series has no extreme).
    * Scale shape: the [[statsBucketAggSnapshot]] shuffle — one
    * partial-aggregable groupBy to bucket counts, then extremes over the
    * slim bucket rows.
    * @return (query_id int, keys string, value long) */
  def extremeBucketAggSnapshot(spark: SparkSession, snap: Snapshot,
                               queries: Seq[RefQuery], facetCol: String,
                               conjunctive: Boolean, isMax: Boolean): DataFrame = {
    val matched = matchedOrds(spark, snap, queries, conjunctive)
    val dm = spark.read.parquet(snap.docmapDirs: _*)
      .select(col("shard"), col("ord"), col(facetCol).cast("string").as("facet"))
    val buckets = matched.join(dm, Seq("shard", "ord"))
      .groupBy("query_id", "facet").agg(count(lit(1)).as("doc_count"))
    val ext = buckets.groupBy("query_id")
      .agg((if (isMax) max(col("doc_count")) else min(col("doc_count"))).as("value"))
    buckets.join(broadcast(ext), Seq("query_id"))
      .filter(col("doc_count") === col("value"))
      .groupBy("query_id", "value")
      .agg(concat_ws(",", sort_array(collect_list(col("facet")))).as("keys"))
      .select(col("query_id"), col("keys"), col("value"))
  }

  /** Filters aggregation with the other bucket (the OpenSearch `filters`
    * agg, `other_bucket: true`): each query's live match set is bucketed
    * by which NAMED filter (a term query over the same index) each doc
    * also matches; a doc matching several filters counts in each
    * (OpenSearch filters buckets overlap), and docs matching none land
    * in `_other_`. Every named bucket is reported for every query, count
    * 0 included — the reference API shape — and filter names must be
    * distinct and must not collide with the reserved `_other_`.
    *
    * Scale shape: ONE extra [[matchedOrds]] pass evaluates all named
    * filters together (the filter set shares the pruned segment scan);
    * buckets come from an equi-join of the two slim (shard, ord) match
    * sets, the other bucket from a left_anti on the same key — no
    * per-filter scans, no content re-read.
    * @return (query_id int, filter string, doc_count long) */
  def filtersAggSnapshot(spark: SparkSession, snap: Snapshot,
                         queries: Seq[RefQuery],
                         filters: Seq[(String, String)],
                         conjunctive: Boolean = false): DataFrame = {
    import spark.implicits._
    require(filters.nonEmpty, "filters agg needs at least one named filter")
    require(filters.map(_._1).distinct.length == filters.length,
      s"filter names must be distinct: ${filters.map(_._1).mkString(", ")}")
    require(!filters.exists(_._1 == "_other_"),
      "'_other_' is the reserved other-bucket name")
    val matched = matchedOrds(spark, snap, queries, conjunctive)
    val fq = filters.zipWithIndex.map { case ((_, text), i) => RefQuery(i, text) }
    val names = filters.map(_._1).zipWithIndex
      .map { case (nm, i) => (i, nm) }.toDF("fid", "filter")
    // filters evaluate disjunctively: a filter bucket holds docs carrying
    // ANY of the filter's terms (the reference's `filters` entries are
    // independent queries, each a match query here)
    val fMatched = matchedOrds(spark, snap, fq, conjunctive = false)
      .withColumnRenamed("query_id", "fid")
    val inBuckets = matched.join(fMatched, Seq("shard", "ord"))
      .groupBy("query_id", "fid").agg(count(lit(1)).as("doc_count"))
    // every (query, filter) bucket reported, count 0 included
    val qids = queries.map(_.query_id).toDF("query_id")
    val full = qids.crossJoin(broadcast(names))
      .join(inBuckets, Seq("query_id", "fid"), "left")
      .select(col("query_id"), col("filter"),
        coalesce(col("doc_count"), lit(0L)).as("doc_count"))
    val other = matched
      .join(fMatched.select("shard", "ord").distinct(),
        Seq("shard", "ord"), "left_anti")
      .groupBy("query_id").agg(count(lit(1)).as("doc_count"))
    val otherFull = qids.join(other, Seq("query_id"), "left")
      .select(col("query_id"), lit("_other_").as("filter"),
        coalesce(col("doc_count"), lit(0L)).as("doc_count"))
    full.unionByName(otherFull)
  }

  /** matrix_stats aggregation (the OpenSearch `matrix_stats` agg over two
    * numeric fields): per query, the joint second-moment statistics of
    * (`xCol`, `yCol`) over the live match set — count, means, sample
    * variances, sample covariance, and Pearson correlation. Exact
    * (OpenSearch computes the same moments; it merges per-shard partials
    * exactly as Spark's partial aggregation does). Single-doc match sets
    * report null variance/covariance/correlation (sample moments need
    * n >= 2) and zero-match queries report no row, both as OpenSearch.
    *
    * Scale shape: one partial-aggregable groupBy over slim
    * (query_id, x, y) rows — every moment is an algebraic aggregate, so
    * map-side combine reduces to one row per query per partition before
    * the exchange.
    *
    * `xCol`/`yCol` are SQL expressions over docmap columns (a bare
    * column name, or a runtime field like `length(path)` — the
    * OpenSearch runtime-mapping analog), cast to double.
    * @return (query_id int, doc_count long, mean_x, mean_y, var_x,
    *          var_y, covariance, correlation — all double) */
  def matrixStatsAggSnapshot(spark: SparkSession, snap: Snapshot,
                             queries: Seq[RefQuery], xCol: String,
                             yCol: String,
                             conjunctive: Boolean = false): DataFrame = {
    val matched = matchedOrds(spark, snap, queries, conjunctive)
    val dm = spark.read.parquet(snap.docmapDirs: _*)
      .select(col("shard"), col("ord"),
        expr(xCol).cast("double").as("x"), expr(yCol).cast("double").as("y"))
    matched.join(dm, Seq("shard", "ord"))
      .groupBy("query_id")
      .agg(count(lit(1)).as("doc_count"),
        avg(col("x")).as("mean_x"), avg(col("y")).as("mean_y"),
        var_samp(col("x")).as("var_x"), var_samp(col("y")).as("var_y"),
        covar_samp(col("x"), col("y")).as("covariance"),
        corr(col("x"), col("y")).as("correlation"))
  }

  /** Cardinality aggregation (the OpenSearch `cardinality` aggregation):
    * the number of DISTINCT values of a docmap column over each query's
    * live match set. The DEFAULT is exact (one distinct shuffle over slim
    * (query_id, value) pairs — oracle-replayable); `approx = true` is the
    * 100-TB configuration: `approx_count_distinct` (Spark's HLL++ — what
    * OpenSearch itself approximates with), which replaces the distinct
    * shuffle with a constant-size sketch per (query, partition). Zero-
    * match queries report 0 (API totality).
    * @return (query_id int, cardinality long) */
  def cardinalityAggSnapshot(spark: SparkSession, snap: Snapshot,
                             queries: Seq[RefQuery], colName: String,
                             conjunctive: Boolean = false,
                             approx: Boolean = false): DataFrame = {
    import spark.implicits._
    val matched = matchedOrds(spark, snap, queries, conjunctive)
    val dm = spark.read.parquet(snap.docmapDirs: _*)
      .select(col("shard"), col("ord"), col(colName).as("v"))
    val cardFn =
      if (approx) approx_count_distinct(col("v"))
      else count_distinct(col("v"))
    val agg = matched.join(dm, Seq("shard", "ord"))
      .groupBy("query_id").agg(cardFn.as("cardinality"))
    queries.map(_.query_id).toDF("query_id")
      .join(agg, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("cardinality"), lit(0L)).as("cardinality"))
  }

  /** Range aggregation (the OpenSearch `range` aggregation): live
    * match-set doc counts per half-open value bucket of a numeric docmap
    * column. `bounds` (strictly ascending) cut the line into
    * `bounds.size + 1` buckets — bucket 0 = (−∞, bounds(0)), bucket i =
    * [bounds(i−1), bounds(i)), last = [bounds(last), ∞) — from inclusive,
    * to exclusive, exactly the OpenSearch contract. EVERY (query, bucket)
    * pair is present, zero-filled (the cross product is |queries| ×
    * (|bounds|+1) — driver-tiny), with `lo`/`hi` null at the open ends.
    * @return (query_id int, bucket int, lo double, hi double, doc_count long) */
  def rangeCountsSnapshot(spark: SparkSession, snap: Snapshot, queries: Seq[RefQuery],
                          valueCol: String, bounds: Seq[Double],
                          conjunctive: Boolean = false): DataFrame = {
    import spark.implicits._
    require(bounds.nonEmpty && bounds.sliding(2).forall(p => p.size < 2 || p(0) < p(1)),
      s"bounds must be non-empty and strictly ascending: ${bounds.mkString(", ")}")
    val matched = matchedOrds(spark, snap, queries, conjunctive)
    val v = col(valueCol).cast("double")
    // bucket index = number of bounds ≤ v (a sum of codegen'd comparisons —
    // |bounds| is small by API design, like OpenSearch's ranges list)
    val bucketExpr = bounds.map(b => when(v >= lit(b), 1).otherwise(0))
      .reduce(_ + _)
    val dm = spark.read.parquet(snap.docmapDirs: _*)
      .select(col("shard"), col("ord"), bucketExpr.as("bucket"))
    val agg = matched.join(dm, Seq("shard", "ord"))
      .groupBy("query_id", "bucket").agg(count(lit(1)).as("doc_count"))
    val lows = (null.asInstanceOf[java.lang.Double] +: bounds.map(Double.box))
    val highs = (bounds.map(Double.box) :+ null.asInstanceOf[java.lang.Double])
    val bucketDf = lows.indices
      .map(i => (i, lows(i), highs(i))).toDF("bucket", "lo", "hi")
    queries.map(_.query_id).toDF("query_id").crossJoin(bucketDf)
      .join(agg, Seq("query_id", "bucket"), "left")
      .select(col("query_id"), col("bucket"), col("lo"), col("hi"),
        coalesce(col("doc_count"), lit(0L)).as("doc_count"))
  }

  /** Histogram aggregation (the OpenSearch `histogram` bucket agg with
    * its default `min_doc_count: 0`): live match-set doc counts per
    * fixed-width bucket of a numeric docmap column. A doc lands in the
    * bucket keyed `floor(v / interval) * interval` (the OpenSearch
    * bucket-key rule, correct for negative values too since floor
    * rounds toward −∞), and EVERY bucket between each query's min and
    * max occupied key is present zero-filled — the gap-filled shape
    * OpenSearch renders. A zero-match query has no occupied keys and so
    * reports no buckets (OpenSearch returns an empty buckets array).
    *
    * `maxBuckets` mirrors OpenSearch's `search.max_buckets` circuit
    * breaker (default 65536): a query whose value span would gap-fill
    * past it fails the job rather than exploding the output — the
    * check runs distributed (`raise_error` on the per-query span row),
    * no extra action. Scale shape is rangeCountsSnapshot's: the match set moves
    * as slim (query_id, shard, ord) triples, the docmap join ships only
    * (shard, ord, bucket-index), the count agg is map-side partial, and
    * the gap-fill explode is bounded by |queries| × maxBuckets.
    * @return (query_id int, key double, doc_count long), key ascending
    *         dense per query */
  def histogramAggSnapshot(spark: SparkSession, snap: Snapshot,
                           queries: Seq[RefQuery], valueCol: String,
                           interval: Double, conjunctive: Boolean = false,
                           maxBuckets: Int = 65536): DataFrame = {
    require(interval > 0.0 && !interval.isInfinite,
      s"interval must be a positive finite number: $interval")
    require(maxBuckets > 0, s"maxBuckets must be positive: $maxBuckets")
    val matched = matchedOrds(spark, snap, queries, conjunctive)
    val dm = spark.read.parquet(snap.docmapDirs: _*)
      .select(col("shard"), col("ord"),
        floor(col(valueCol).cast("double") / lit(interval)).cast("long").as("bidx"))
    val agg = matched.join(dm, Seq("shard", "ord"))
      .groupBy("query_id", "bidx").agg(count(lit(1)).as("doc_count"))
    val spans = agg.groupBy("query_id")
      .agg(min("bidx").as("lo_idx"), max("bidx").as("hi_idx"))
      .withColumn("lo_idx", when(
        col("hi_idx") - col("lo_idx") >= lit(maxBuckets.toLong),
        raise_error(concat(lit(s"histogram would gap-fill more than " +
          s"$maxBuckets buckets for query_id="), col("query_id"),
          lit("; raise the interval or maxBuckets")))
          .cast("long")).otherwise(col("lo_idx")))
    spans.select(col("query_id"),
        explode(sequence(col("lo_idx"), col("hi_idx"))).as("bidx"))
      .join(agg, Seq("query_id", "bidx"), "left")
      .select(col("query_id"),
        (col("bidx").cast("double") * lit(interval)).as("key"),
        coalesce(col("doc_count"), lit(0L)).as("doc_count"))
  }

  /** Top-hits aggregation (the OpenSearch `top_hits` metric inside a
    * `terms` bucket agg): for each query and each metadata bucket of the
    * live match set, the top `n` hits by full BM25 score. Unlike
    * [[search]], WAND pruning cannot apply — every bucket needs ITS best
    * docs, and a bucket's winners can score arbitrarily low globally —
    * so the full match set is scored EXACTLY: decoded per-term
    * contributions are summed in the engine-wide ascending-term order
    * ([[Golden.sumSorted]], the shared bit-identity-critical piece), so
    * scores are bit-identical to what [[search]]/[[Golden.topK]] assign
    * the same docs. Ties break (score desc, doc_id asc) — the golden
    * convention.
    *
    * Scale shape: contributions move as slim (query, shard, ord, term,
    * contribution) rows under the same explicit decode fan-out as every
    * full-match-set op here; the docmap join ships only (shard, ord,
    * doc_id, bucket); the per-(query, bucket) rank window shuffles
    * exactly the quantity being ranked.
    * @return (query_id int, facet string, rank int, doc_id string,
    *          score double) */
  def topHitsSnapshot(spark: SparkSession, snap: Snapshot,
                      queries: Seq[RefQuery], bucketCol: String, n: Int,
                      conjunctive: Boolean = false): DataFrame = {
    require(n > 0, s"top_hits size must be positive: $n")
    val scored = scoredMatchSet(spark, snap, queries, conjunctive)
    val dm = spark.read.parquet(snap.docmapDirs: _*)
      .select(col("shard"), col("ord"), col("doc_id"),
        col(bucketCol).cast("string").as("facet"))
    // per-(query, shard, facet) top-n pre-cut: one dominant facet value
    // otherwise collects its whole match set in ONE window partition;
    // after the pre-cut each facet window sees ≤ S×n rows
    val wShard = Window.partitionBy(col("query_id"), col("shard"), col("facet"))
      .orderBy(col("score").desc, col("doc_id").asc)
    val w = Window.partitionBy(col("query_id"), col("facet"))
      .orderBy(col("score").desc, col("doc_id").asc)
    scored.join(dm, Seq("shard", "ord"))
      .withColumn("pr", row_number().over(wShard)).filter(col("pr") <= n)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= n)
      .select("query_id", "facet", "rank", "doc_id", "score")
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
    val dm = spark.read.parquet(snap.docmapDirs: _*)
      .select(col("shard"), col("ord"), col("doc_id"))
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
    indexed.map { case ((qid, shard, o, score), i) =>
      val rank = i - startsB.value(qid) + 1L
      (qid, (rank - 1L) / pageSizeL + 1L, rank, shard, o, score)
    }.toDF("query_id", "page", "rank", "shard", "ord", "score")
      .join(dm, Seq("shard", "ord"))
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

  /** Sampler aggregation (the OpenSearch `sampler` bucket agg): the
    * sub-aggregation sees only the best-scoring `sampleSize` hits of the
    * match set, here a `terms` sub-agg over a docmap field. Deterministic
    * global contract (the documented divergence from OpenSearch's
    * per-shard `shard_size` cut, which depends on routing): the sample is
    * the global top-`sampleSize` under (score desc, doc_id asc) — exactly
    * the cut an ANSI-SQL oracle can replay. Scores are the exact
    * [[Golden.sumSorted]] sums (WAND pruning can't apply: the sample cut
    * needs the full match-set order, same as [[collapseSearchSnapshot]]).
    *
    * Scale shape: the match set moves as slim (query_id, shard, ord,
    * score) rows; ONE broadcast-able docmap equi-join attaches the field;
    * the rank window shuffles the match set once on query_id; the terms
    * agg then runs over ≤ |queries|·sampleSize rows — driver-trivial.
    * @return (query_id int, value string, doc_count long) */
  def samplerAggSnapshot(spark: SparkSession, snap: Snapshot,
                         queries: Seq[RefQuery], field: String,
                         sampleSize: Int,
                         conjunctive: Boolean = false): DataFrame =
    samplerImpl(spark, snap, queries, field, sampleSize, conjunctive,
      diversifyField = null, maxDocsPerValue = 0)

  /** Diversified sampler (the OpenSearch `diversified_sampler` bucket
    * agg): like [[samplerAggSnapshot]], but before the top-`sampleSize` cut at
    * most `maxDocsPerValue` docs per distinct `diversifyField` value
    * survive, kept in (score desc, doc_id asc) order — so one dominant
    * repo/author/host can't flood the sample. Null field values form
    * their own de-dup group (the OpenSearch missing-keyword behavior).
    * @return (query_id int, value string, doc_count long) */
  def diversifiedSamplerAggSnapshot(spark: SparkSession, snap: Snapshot,
                                    queries: Seq[RefQuery], field: String,
                                    sampleSize: Int, diversifyField: String,
                                    maxDocsPerValue: Int,
                                    conjunctive: Boolean = false): DataFrame = {
    require(maxDocsPerValue > 0,
      s"max_docs_per_value must be positive: $maxDocsPerValue")
    samplerImpl(spark, snap, queries, field, sampleSize, conjunctive,
      diversifyField, maxDocsPerValue)
  }

  private def samplerImpl(spark: SparkSession, snap: Snapshot,
                          queries: Seq[RefQuery], field: String,
                          sampleSize: Int, conjunctive: Boolean,
                          diversifyField: String,
                          maxDocsPerValue: Int): DataFrame = {
    require(sampleSize > 0, s"sampler size must be positive: $sampleSize")
    val scored = scoredMatchSet(spark, snap, queries, conjunctive)
    val dmCols = Seq(col("shard"), col("ord"), col("doc_id"),
      col(field).cast("string").as("value")) ++
      (if (diversifyField == null) Nil
       else Seq(col(diversifyField).cast("string").as("div_key")))
    val dm = spark.read.parquet(snap.docmapDirs: _*).select(dmCols: _*)
    val hits = scored.join(dm, Seq("shard", "ord"))
    val diversified =
      if (diversifyField == null) hits
      else {
        val wDiv = Window.partitionBy(col("query_id"), col("div_key"))
          .orderBy(col("score").desc, col("doc_id").asc)
        hits.withColumn("dr", row_number().over(wDiv))
          .filter(col("dr") <= maxDocsPerValue).drop("dr")
      }
    // two-phase cut: the global top-n per query is within the union of
    // per-(query, shard) top-ns, so the single-partition-per-query global
    // window sees ≤ S×n rows instead of the full match set — the shape
    // that survives a 100 TB match set
    val wShard = Window.partitionBy(col("query_id"), col("shard"))
      .orderBy(col("score").desc, col("doc_id").asc)
    val preCut = diversified.withColumn("pr", row_number().over(wShard))
      .filter(col("pr") <= sampleSize).drop("pr")
    val wSample = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    preCut.withColumn("sr", row_number().over(wSample))
      .filter(col("sr") <= sampleSize)
      .groupBy(col("query_id"), col("value"))
      .agg(count(lit(1)).as("doc_count"))
  }

  /** Field collapsing (the OpenSearch `collapse` clause): the ranked hit
    * list with duplicates-by-field removed — for each query, each
    * distinct value of `collapseCol` is represented by its single
    * best-scoring live hit, and the survivors are re-ranked globally to
    * the top `k`. Like [[topHitsSnapshot]] (whose scoring engine this shares),
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
    val scored = scoredMatchSet(spark, snap, queries, conjunctive)
    val dm = spark.read.parquet(snap.docmapDirs: _*)
      .select(col("shard"), col("ord"), col("doc_id"),
        col(collapseCol).cast("string").as("collapse_key"))
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
    scored.join(dm, Seq("shard", "ord"))
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
    * ([[Golden.sumSorted]] ascending-term sums — the [[topHitsSnapshot]] /
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
    val scored = scoredMatchSet(spark, snap, queries, conjunctive)
    val dm = spark.read.parquet(snap.docmapDirs: _*)
      .select(col("shard"), col("ord"), col("doc_id"),
        col(factorCol).cast("double").as("fv"))
    val combined = functionScoreCombine(col("score"), col("fv"),
      factor, modifier, boostMode)
    // per-shard pre-cut on the COMBINED order (valid for any per-row
    // score): the global window sees ≤ S×k rows, not the match set
    val wShard = Window.partitionBy(col("query_id"), col("shard"))
      .orderBy(col("score").desc, col("doc_id").asc)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    scored.join(dm, Seq("shard", "ord"))
      .withColumn("score", combined)
      .withColumn("pr", row_number().over(wShard)).filter(col("pr") <= k)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
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
    val scored = scoredMatchSet(spark, snap, queries, conjunctive)
    val dm = spark.read.parquet(snap.docmapDirs: _*)
      .select(col("shard"), col("ord"), col("doc_id"),
        col(featureCol).cast("double").as("fv"))
    val wShard = Window.partitionBy(col("query_id"), col("shard"))
      .orderBy(col("score").desc, col("doc_id").asc)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    scored.join(dm, Seq("shard", "ord"))
      .withColumn("score", col("score") + featureScore(col("fv")))
      .withColumn("pr", row_number().over(wShard)).filter(col("pr") <= k)
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
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
    val scored = scoredMatchSet(spark, snap, queries, conjunctive)
    val dm = spark.read.parquet(snap.docmapDirs: _*)
      .select(col("shard"), col("ord"), col("doc_id"),
        col(featureCol).cast("double").as("fv"))
    val stacked = scored.join(dm, Seq("shard", "ord"))
      .select(col("query_id"), col("shard"), col("doc_id"),
        explode(array(variants.map { case (name, f) =>
          struct(lit(name).as("fn"), (col("score") + f(col("fv"))).as("score"))
        }: _*)).as("v"))
      .select(col("v")("fn").as("fn"), col("query_id"), col("shard"),
        col("doc_id"), col("v")("score").as("score"))
    val wShard = Window.partitionBy(col("fn"), col("query_id"), col("shard"))
      .orderBy(col("score").desc, col("doc_id").asc)
    val w = Window.partitionBy(col("fn"), col("query_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    stacked
      .withColumn("pr", row_number().over(wShard)).filter(col("pr") <= k)
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
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
    * set is scored exactly ([[topHitsSnapshot]]' engine).
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
    val dm = spark.read.parquet(snap.docmapDirs: _*)
      .select(col("shard"), col("ord"), col("doc_id"))
    // per-shard pre-cut on the combined order (valid for any per-row
    // score): the global window sees ≤ S×k rows, not the match set
    val wShard = Window.partitionBy(col("query_id"), col("shard"))
      .orderBy(col("score").desc, col("doc_id").asc)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    combined.join(dm, Seq("shard", "ord"))
      .withColumn("pr", row_number().over(wShard)).filter(col("pr") <= k)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
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
    val dm = spark.read.parquet(snap.docmapDirs: _*)
      .select(col("shard"), col("ord"), col("doc_id"))
    // per-shard pre-cut on the demoted order (valid for any per-row
    // score): the global window sees ≤ S×k rows, not the match set
    val wShard = Window.partitionBy(col("query_id"), col("shard"))
      .orderBy(col("score").desc, col("doc_id").asc)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    pos.join(neg, Seq("query_id", "shard", "ord"), "left")
      .withColumn("score", boostingCombine(col("score"), col("neg"), negativeBoost))
      .join(dm, Seq("shard", "ord"))
      .withColumn("pr", row_number().over(wShard)).filter(col("pr") <= k)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
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
        val dm = spark.read.parquet(snap.docmapDirs: _*)
          .select(col("shard"), col("ord"), col("doc_id"))
        scoredMatchSet(spark, snap,
          flat.map { case (sid, _, _, t) => RefQuery(sid, t) },
          conjunctive = false)
          .join(dm, Seq("shard", "ord"))
          .select(col("query_id").as("synth_id"), col("doc_id"),
            (col("score") * lit(boost)).as("score"), lit(fi).as("sub"))
      }
      val all = perField.reduce(_ unionByName _)
        .join(broadcast(m), Seq("synth_id"))
        .withColumnRenamed("qid", "query_id")
      crossFieldsCombined(all, Seq("query_id", "doc_id"), tieBreaker)
    } else {
      val perField = fields.zipWithIndex.map { case ((snap, boost), fi) =>
        val dm = spark.read.parquet(snap.docmapDirs: _*)
          .select(col("shard"), col("ord"), col("doc_id"))
        val scored = fuzziness match {
          case None => scoredMatchSet(spark, snap, queries, conjunctive = false)
          case Some(f) => scoredMatchSetTerms(spark, snap,
            matchFuzzyExpandQueries(spark, snap, queries, f, fuzzyPrefixLength,
              fuzzyMaxExpansions, fuzzyTranspositions),
            conjunctive = false)
        }
        scored
          .join(dm, Seq("shard", "ord"))
          .select(col("query_id"), col("doc_id"),
            (col("score") * lit(boost)).as("score"), lit(fi).as("sub"))
      }
      val all = perField.reduce(_ unionByName _)
      if (mode == "best_fields")
        disMaxCombined(all, Seq("query_id", "doc_id"), tieBreaker)
      else multiMatchSummed(all, Seq("query_id", "doc_id"))
    }
    val wB = Window.partitionBy(col("query_id"), col("pb"))
      .orderBy(col("score").desc, col("doc_id").asc)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    combined.withColumn("pb", pmod(xxhash64(col("doc_id")), lit(64)))
      .withColumn("pr", row_number().over(wB)).filter(col("pr") <= k)
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("query_id", "rank", "doc_id", "score")
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
    termPruned(spark.read.parquet(snap.segmentDirs: _*), terms)
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
      val dm = spark.read.parquet(snap.docmapDirs: _*)
        .select(col("shard"), col("ord"), col("doc_id"))
      termTfRows(spark, snap, allTerms)
        .join(dm, Seq("shard", "ord"))
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
    val wB = Window.partitionBy(col("query_id"), col("pb"))
      .orderBy(col("score").desc, col("doc_id").asc)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    scored
      .withColumn("pb", pmod(xxhash64(col("doc_id")), lit(64)))
      .withColumn("pr", row_number().over(wB)).filter(col("pr") <= k)
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("query_id", "rank", "doc_id", "score")
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
        liveRows(spark, snap, spark.read.parquet(snap.docmapDirs: _*)
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
    * anti-join — the termVectors liveness discipline); and a
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
    val scored = scoredMatchSet(spark, snap, queries, conjunctive)
    val dmAll = spark.read.parquet(snap.docmapDirs: _*)
    // the child join keys on (shard, ord) — the unique physical address,
    // already live by construction (decode subtracts tombstones)
    val children = scored
      .join(dmAll.select(col("shard"), col("ord"), col("doc_id"), col("repo"),
        col("path"), col("commit"), col("lang")), Seq("shard", "ord"))
      .filter(childFilter)
      .select(col("query_id"), childParentKey.cast("string").as("pkey"),
        col("doc_id").as("child_id"), col("score"))
    val perParent = hasChildCombined(children, scoreMode)
      .filter(col("n_children").between(minChildren, maxChildren))
    val parents = liveRows(spark, snap, dmAll.filter(parentFilter))
      .select(parentKey.cast("string").as("pkey"), col("doc_id"))
    val joined = perParent.join(parents, Seq("pkey"))
    val wB = Window.partitionBy(col("query_id"), col("pb"))
      .orderBy(col("score").desc, col("doc_id").asc)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    joined.withColumn("pb", pmod(xxhash64(col("doc_id")), lit(64)))
      .withColumn("pr", row_number().over(wB)).filter(col("pr") <= k)
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
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
    val scored = scoredMatchSet(spark, snap, queries, conjunctive)
    val dmAll = spark.read.parquet(snap.docmapDirs: _*)
    val parents = scored
      .join(dmAll.select(col("shard"), col("ord"), col("doc_id"), col("repo"),
        col("path"), col("commit"), col("lang")), Seq("shard", "ord"))
      .filter(parentFilter)
      .select(col("query_id"), parentKey.cast("string").as("pkey"),
        col("doc_id").as("parent_id"), col("score").as("pscore"))
    val children = liveRows(spark, snap, dmAll.filter(childFilter))
      .select(childParentKey.cast("string").as("pkey"), col("doc_id"))
    val joined = parents.join(children, Seq("pkey"))
      .withColumn("score", if (score) col("pscore") else lit(1.0))
    val wB = Window.partitionBy(col("query_id"), col("pb"))
      .orderBy(col("score").desc, col("doc_id").asc)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    joined.withColumn("pb", pmod(xxhash64(col("doc_id")), lit(64)))
      .withColumn("pr", row_number().over(wB)).filter(col("pr") <= k)
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("query_id", "rank", "doc_id", "score", "parent_id")
  }

  /** Live rows of a bare docmap scan: subtract tombstones by physical
    * (shard, ord) address — the termVectors liveness discipline, shared
    * by every path that reads the docmap WITHOUT going through posting
    * decode (which masks deletes itself). */
  private[search] def liveRows(spark: SparkSession, snap: Snapshot,
                       dm: DataFrame): DataFrame =
    if (snap.tombstoneDirs.isEmpty) dm
    else dm.join(spark.read.parquet(snap.tombstoneDirs: _*)
      .select("shard", "ord"), Seq("shard", "ord"), "left_anti")

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
    val termG: Map[String, Array[(Int, Int)]] = flat
      .flatMap { case (qid, gi, g) => g.map(t => (t, (qid, gi))) }
      .groupBy(_._1)
      .map { case (t, xs) => t -> xs.map(_._2).distinct.sorted.toArray }
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
    val dm = spark.read.parquet(snap.docmapDirs: _*)
      .select(col("shard"), col("ord"), col("doc_id"))
    val wShard = Window.partitionBy(col("query_id"), col("shard"))
      .orderBy(col("score").desc, col("doc_id").asc)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    kept.join(dm, Seq("shard", "ord"))
      .withColumn("pr", row_number().over(wShard)).filter(col("pr") <= k)
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("query_id", "rank", "doc_id", "score")
  }

  /** Exact BM25 scores over each query's FULL live match set as slim
    * (query_id, shard, ord, score) rows — the scoring engine of
    * [[topHitsSnapshot]]. Every live posting of a query term is decoded and its
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
    val termQ: Map[String, Array[Int]] = qTerms.toSeq
      .flatMap { case (qid, ts) => ts.map(t => (t, qid)) }
      .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).distinct.sorted.toArray }
    val termQB = spark.sparkContext.broadcast(termQ)
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
    else {
      val qn = qTerms.toSeq.map { case (qid, ts) => (qid, ts.length) }
        .toDF("query_id", "qt")
      grouped.join(broadcast(qn), Seq("query_id"))
        .filter(col("nt") === col("qt")).drop("nt", "qt")
    }
  }

  /** terms_set query (the OpenSearch `terms_set` query with
    * `minimum_should_match_field`): a doc matches when the COUNT of the
    * query's distinct analyzed terms it contains reaches the doc's OWN
    * threshold — a numeric docmap expression (OpenSearch reads it from an
    * indexed field) — and scores the BM25 sum over its present terms.
    * WAND's fixed `minShould` bound cannot prune a per-document
    * threshold, so the full match set is scored exactly (the
    * [[collapseSearchSnapshot]]/[[topHitsSnapshot]] engine) and cut to the top `k` under
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
    val scored = scoredMatchSet(spark, snap, queries, conjunctive = false,
      keepNt = true)
    val dm = spark.read.parquet(snap.docmapDirs: _*)
      .select(col("shard"), col("ord"), col("doc_id"),
        expr(minMatchCol).cast("long").as("required_matches"))
    // per-shard pre-cut after the threshold filter: the global top-k is
    // within the union of per-(query, shard) top-ks, so the final
    // single-partition-per-query window sees ≤ S×k rows (100 TB shape)
    val wShard = Window.partitionBy(col("query_id"), col("shard"))
      .orderBy(col("score").desc, col("doc_id").asc)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    scored.join(dm, Seq("shard", "ord"))
      .filter(col("nt") >= col("required_matches"))
      .withColumn("pr", row_number().over(wShard)).filter(col("pr") <= k)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
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
    import spark.implicits._
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
    queries.map(_.query_id).toDF("query_id")
      .join(perQ, Seq("query_id"), "left")
      .join(idcg, Seq("query_id"), "left")
      .join(totRel, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("retrieved"), lit(0L)).as("retrieved"),
        coalesce(col("relevant_retrieved"), lit(0L)).as("relevant_retrieved"),
        (col("relevant_retrieved").cast("double") / col("retrieved")).as("precision"),
        (col("relevant_retrieved").cast("double") / col("total_relevant")).as("recall"),
        coalesce(lit(1.0) / col("first_rel_rank"), lit(0.0)).as("mrr"),
        coalesce(col("dcg"), lit(0.0)).as("dcg"),
        (col("dcg") / col("idcg")).as("ndcg"))
  }

  /** Significant-terms aggregation (the OpenSearch `significant_terms`
    * bucket agg with its default JLH heuristic): for each query, the
    * terms most over-represented in the match set ("foreground") relative
    * to the whole live corpus ("background"). A term's score is
    * (fgPct − bgPct) × (fgPct / bgPct) with fgPct = fg_df / |match set|
    * and bgPct = df / N; only positively significant terms
    * (fgPct > bgPct) with fg_df ≥ `minDocCount` survive, ranked
    * (score desc, term asc), top `size` per query.
    *
    * Foreground df is recomputed from the staged token arrays — the same
    * durable per-doc record delete's exact termstats subtraction uses —
    * so fg counts are exact at any append/delete depth; background df is
    * the snapshot's (already delete-exact) termstats.
    *
    * Scale shape: the match set moves as slim (query_id, shard, ord)
    * triples (tombstones subtracted at decode); ONE equi-join on the
    * staging's native (shard, ord) key prunes the data-sized token scan
    * to matched docs before the explode; the (query_id, term) agg is
    * map-side partial. Nothing document-sized shuffles except the
    * matched docs' distinct-term pairs — the quantity being counted.
    * @return (query_id int, rank int, term string, fg_df long,
    *          bg_df long, score double) */
  def significantTerms(spark: SparkSession, dir: String, queries: Seq[RefQuery],
                       size: Int, conjunctive: Boolean = false,
                       minDocCount: Long = 3L): DataFrame = {
    val snap = SnapshotCatalog.require(spark, dir)
    require(size > 0 && minDocCount >= 1, "need size > 0 and minDocCount >= 1")
    val matched = matchedOrds(spark, snap, queries, conjunctive)
    val fgSizes = matched.groupBy("query_id").agg(count(lit(1)).as("fg_n"))
    val staged = graft.index.IndexBuilder.stagedRows(spark, dir)
      .select(col("shard"), col("ord"), col("tokens"))
    val fg = staged.join(matched, Seq("shard", "ord"))
      .select(col("query_id"), explode(array_distinct(col("tokens"))).as("term"))
      .groupBy("query_id", "term").agg(count(lit(1)).as("fg_df"))
      .filter(col("fg_df") >= lit(minDocCount))
    jlhRanked(spark, snap, fg, fgSizes, size)
  }

  /** The JLH ranking of [[significantTerms]] and [[significantTextSnapshot]]:
    * foreground `(query_id, term, fg_df)` against termstats df and the
    * per-query foreground sizes `(query_id, fg_n)`. */
  private def jlhRanked(spark: SparkSession, snap: Snapshot, fg: DataFrame,
                        fgSizes: DataFrame, size: Int): DataFrame = {
    val bg = spark.read.parquet(snap.termstatsDir).select(col("term"), col("df"))
    val fgPct = col("fg_df").cast("double") / col("fg_n")
    val bgPct = col("df").cast("double") / lit(snap.stats.numDocs.toDouble)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("term").asc)
    fg.join(bg, Seq("term"))
      .join(broadcast(fgSizes), Seq("query_id"))
      .withColumn("score", (fgPct - bgPct) * (fgPct / bgPct))
      .filter(fgPct > bgPct)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= size)
      .select(col("query_id"), col("rank"), col("term"), col("fg_df"),
        col("df").as("bg_df"), col("score"))
  }

  /** significant_text aggregation (the OpenSearch `significant_text`
    * bucket agg): [[significantTerms]]' JLH ranking, but the foreground
    * counts come from RE-ANALYZING a free-text field at query time with
    * the snapshot's analysis chain — the agg needs no index-time
    * fielddata, so it runs over any string column a caller can join to
    * the match set (OpenSearch re-analyzes `_source`; here the caller
    * passes the source rows explicitly, Spark having no ambient
    * `_source` store). Background stats stay the index's termstats.
    *
    * `filterDuplicateText` is OpenSearch's copy-paste suppressor: when
    * set, byte-identical texts inside one query's foreground are
    * counted ONCE (the lowest doc_id keeps the copy; both fg_df and the
    * foreground size count the deduped set). Fidelity delta vs Lucene's
    * 6-gram DuplicateByteSequenceSpotter, which also prunes partial
    * overlaps and is sample-order-dependent: exact-text equality is the
    * deterministic, order-free reading — a distributed fold over an
    * order-dependent streaming spotter would not be reproducible across
    * partitionings, which this engine refuses on principle.
    *
    * Scale shape: the match set moves as slim (query_id, shard, ord)
    * triples; ONE docmap equi-join resolves ids and ONE equi-join on
    * doc_id prunes the text source to matched docs before any analysis;
    * the dedup window partitions by (query_id, text-hash) — duplicate
    * groups, never a global window; the (query_id, term) agg is
    * map-side partial. Analysis cost is per MATCHED doc only.
    * @param textSource (doc_id string, `textCol` string) rows; docs
    *                   absent from it simply contribute no terms
    * @return (query_id int, rank int, term string, fg_df long,
    *          bg_df long, score double) */
  def significantTextSnapshot(spark: SparkSession, snap: Snapshot,
                              queries: Seq[RefQuery], size: Int,
                              textSource: DataFrame, textCol: String = "text",
                              conjunctive: Boolean = false,
                              minDocCount: Long = 3L,
                              filterDuplicateText: Boolean = false): DataFrame = {
    require(size > 0 && minDocCount >= 1, "need size > 0 and minDocCount >= 1")
    val an = analyzerOf(snap)
    val matched = matchedOrds(spark, snap, queries, conjunctive)
    val dm = spark.read.parquet(snap.docmapDirs: _*)
      .select(col("shard"), col("ord"), col("doc_id"))
    val fg0 = matched.join(dm, Seq("shard", "ord"))
      .join(textSource.select(col("doc_id"), col(textCol).as("text")), Seq("doc_id"))
      .select(col("query_id"), col("doc_id"), col("text"))
    val fgDocs =
      if (!filterDuplicateText) fg0
      else {
        val w = Window.partitionBy(col("query_id"), sha2(col("text"), 256))
          .orderBy(col("doc_id"))
        fg0.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1).drop("rn")
      }
    val fgSizes = fgDocs.groupBy("query_id").agg(count(lit(1)).as("fg_n"))
    val fg = fgDocs
      .select(col("query_id"), explode(array_distinct(an.tokens(col("text")))).as("term"))
      .groupBy("query_id", "term").agg(count(lit(1)).as("fg_df"))
      .filter(col("fg_df") >= lit(minDocCount))
    jlhRanked(spark, snap, fg, fgSizes, size)
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
    val termQ: Map[String, Array[Int]] = qTerms.toSeq
      .flatMap { case (qid, ts) => ts.map(t => (t, qid)) }
      .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).distinct.sorted.toArray }
    val dfMap: Map[String, Long] = dfFor(spark, snap, allTerms)
    // resolve the (query-scale) doc set to broadcast (shard, ord) -> id;
    // tombstoned docs resolve like live ones — explaining a deleted doc
    // is explicitly useful (why DID this match yesterday?)
    val target: Map[(Int, Long), String] = spark.read.parquet(snap.docmapDirs: _*)
      .filter(col("doc_id").isin(docIds: _*))
      .select(col("shard"), col("ord"), col("doc_id"))
      .as[(Int, Long, String)].collect()
      .map { case (s, o, id) => (s, o) -> id }.toMap
    val targetB = spark.sparkContext.broadcast(target)
    val termQB = spark.sparkContext.broadcast(termQ)
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
    val dm = spark.read.parquet(snap.docmapDirs: _*)
      .select(col("shard"), col("ord"), col("doc_id"))
    // hits are live by construction, but after an upsert (or delete +
    // re-append) a hit doc_id matches the DEAD docmap row too — without
    // the mask each such hit duplicates with a stale-token fragment
    // (the termVectors liveness discipline, as an anti-join)
    val addr = liveRows(spark, snap, dm.join(broadcast(hits), Seq("doc_id")))
    val staged = graft.index.IndexBuilder.stagedRows(spark, dir)
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
    staged.join(broadcast(addr), Seq("shard", "ord"))
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
    val dm = spark.read.parquet(snap.docmapDirs: _*)
      .select(col("shard"), col("ord"), col("doc_id"))
    // mask dead docmap rows sharing a hit's doc_id (upsert / delete +
    // re-append) — the highlightSearch discipline
    val addr = liveRows(spark, snap, dm.join(broadcast(hits), Seq("doc_id")))
    val staged = graft.index.IndexBuilder.stagedRows(spark, dir)
      .select(col("shard"), col("ord"), col("tokens"))
    val mq = udf((ts: Seq[String]) => {
      val present = if (ts == null) Set.empty[String] else ts.toSet
      clausesB.value.iterator
        .filter { case (_, terms) => terms.exists(present) }
        .map(_._1).mkString(",")
    })
    staged.join(broadcast(addr), Seq("shard", "ord"))
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
    * their resolved (shard, ord) addresses broadcast after a driver-side
    * liveness filter against the tombstone mask; the only data-sized
    * scan is the staged-token join, pruned by that broadcast before the
    * explode. A term present in the doc but missing from termstats (the
    * documented torn-append window) reports df/ttf 0 rather than
    * failing, consistent with the scorers' safe default.
    * @return (doc_id string, term string, tf long, positions string,
    *          df long, ttf long) */
  def termVectors(spark: SparkSession, dir: String,
                  docIds: Seq[String]): DataFrame = {
    import spark.implicits._
    require(docIds.nonEmpty, "termVectors needs at least one doc id")
    val snap = SnapshotCatalog.require(spark, dir)
    require(snap.isComplete, s"snapshot ${snap.id} is not a complete index")
    val ids = docIds.distinct
    val dead = graft.index.IndexBuilder.deadAddrs(spark, snap, ids)
    val target = spark.read.parquet(snap.docmapDirs: _*)
      .filter(col("doc_id").isin(ids: _*))
      .select(col("shard"), col("ord"), col("doc_id"))
      .as[(Int, Long, String)].collect()
      .filter { case (sh, o, _) => !dead((sh, o)) }
    val tgt = target.toSeq.toDF("shard", "ord", "doc_id")
    val staged = graft.index.IndexBuilder.stagedRows(spark, dir)
      .select(col("shard"), col("ord"), col("tokens"))
    val tv = staged.join(broadcast(tgt), Seq("shard", "ord"))
      .select(col("doc_id"), posexplode(col("tokens")))
      .withColumnRenamed("col", "term")
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"),
        concat_ws(",",
          sort_array(collect_list(col("pos"))).cast("array<string>")).as("positions"))
    val ts = spark.read.parquet(snap.termstatsDir)
      .select(col("term"), col("df"), col("cf"))
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
    * triples — backs [[facetCounts]], [[matchCountsSnapshot]] and the
    * match-set aggregations, and [[deleteByQuery]] / [[updateByQuery]].
    * Tombstones are subtracted during posting decode ([[livePostings]]). */
  private def matchedOrds(spark: SparkSession, snap: Snapshot, queries: Seq[RefQuery],
                          conjunctive: Boolean): DataFrame =
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
    val termQ: Map[String, Array[Int]] = qTerms.toSeq
      .flatMap { case (qid, ts) => ts.map(t => (t, qid)) }
      .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).distinct.sorted.toArray }
    val termQB = spark.sparkContext.broadcast(termQ)
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
    else {
      val qn = qTerms.toSeq.map { case (qid, ts) => (qid, ts.length) }
        .toDF("query_id", "qt")
      matches.groupBy("query_id", "shard", "ord").agg(count(lit(1)).as("nt"))
        .join(broadcast(qn), Seq("query_id"))
        .filter(col("nt") === col("qt"))
        .select("query_id", "shard", "ord")
    }
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

  /** Phrase top-k: each query's text is ONE phrase (its tokens, in order,
    * via the same analyzer documents get). A hit must contain the exact
    * consecutive token sequence; hits are BM25-scored over the phrase's
    * distinct terms, so scores stay bit-identical to
    * [[Golden.phraseTopK]]. Requires a positional index
    * (`BuildConfig(positions = true)`). */
  /** Phrase top-k over the positional index. `slop = 0` (default) is the
    * exact consecutive-sequence `match_phrase`; `slop > 0` is the
    * IN-ORDER proximity contract (Lucene `span_near(in_order = true)` /
    * the ordered core of `match_phrase` slop): a hit must contain
    * positions p₀ < p₁ < … < pₘ₋₁ of the phrase terms IN PHRASE ORDER
    * with (pₘ₋₁ − p₀) − (m − 1) ≤ slop — up to `slop` extra tokens
    * interleaved, no reordering (Lucene's transposed-phrase slop
    * accounting is the documented divergence; the in-order rule is what
    * an ANSI-SQL oracle can replay). Matching is a greedy minimal chain
    * per start position — picking the smallest next in-order position
    * minimizes the final span, so greedy is exact. Scoring is unchanged
    * (BM25 over the phrase's distinct terms, golden-bit-identical). */
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
    searchImpl(spark, snap,
      queries.map(q => q.query_id -> Golden.queryTerms(q.text, analyzerOf(snap))).toMap,
      k, ModePhrase, filter,
      qPhrase = queries.map(q =>
        q.query_id -> analyzerOf(snap).analyzeQuery(q.text)).toMap,
      phraseSlop = slop)
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
    searchImpl(spark, snap,
      qFixed.map { case (qid, ts) => qid -> ts.distinct.sorted },
      k, ModePhrase, filter,
      qPhrase = qFixed,
      phraseSlop = slop,
      qPrefix = qExp)
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
    searchImpl(spark, snap,
      queries.map { case (qid, q) => qid -> Spans.allTerms(q) }.toMap,
      k, ModeSpan, filter,
      qSpan = queries.toMap)
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
    * Expansion shares [[expandQueries]] / [[fuzzyExpandQueries]] with
    * the standalone prefix/fuzzy queries: one pass against the term
    * dictionary, deterministic first-`maxExpansions`, collect bounded
    * by the pattern count. A pattern matching nothing yields an empty
    * [[SpanOr]] — it produces no spans, so the enclosing clause matches
    * nothing (Lucene's behavior), and standalone use fails
    * [[spanSearch]]'s no-scoring-terms require loudly. */
  def spanMulti(spark: SparkSession, snap: Snapshot, pattern: String,
                maxExpansions: Int = 128, maxEdits: Int = 1): SpanQuery = {
    require(pattern.length > 1,
      s"span_multi pattern too short: '$pattern'")
    val expanded: Array[String] =
      if (pattern.endsWith("*"))
        expandQueries(spark, snap, Seq(RefQuery(0, pattern)), maxExpansions)
          .getOrElse(0, Array.empty)
      else if (pattern.endsWith("~"))
        fuzzyExpandQueries(spark, snap, Seq(RefQuery(0, pattern)),
          maxEdits, maxExpansions = maxExpansions)
          .getOrElse(0, Array.empty)
      else throw new IllegalArgumentException(
        s"span_multi pattern must end in * (prefix) or ~ (fuzzy): '$pattern'")
    SpanOr(expanded.toSeq.map(SpanTerm))
  }

  /** Rescore (the OpenSearch `rescore` clause with a `match_phrase`
    * rescorer, `score_mode: total`): run the base BM25 query to depth
    * `window`, then re-rank ONLY those hits by
    * `queryWeight × base + rescoreWeight × secondary`, where the
    * secondary is the phrase score of the query's own analyzed token
    * sequence ([[Golden.secondaryPhraseScore]], shared with the golden
    * twin so the combined scores are bit-identical by construction) — 0
    * for window docs that don't contain the phrase within `slop`, so
    * they keep their weighted base score (the OpenSearch behavior). Hits
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
    val qPhrase: Map[Int, Seq[String]] = queries.map(q =>
      q.query_id -> analyzerOf(snap).analyzeQuery(q.text).toSeq).toMap
    val allTerms = qPhrase.values.flatten.toArray.distinct
    val n = snap.stats.numDocs
    val avgdl = snap.stats.avgdl
    val dfMap: Map[String, Long] = dfFor(spark, snap, allTerms)
    val idfMap: Map[String, Double] =
      allTerms.map(t => t -> Bm25.idf(dfMap.getOrElse(t, 0L), n)).toMap
    val idfB = spark.sparkContext.broadcast(idfMap)
    val qpB = spark.sparkContext.broadcast(qPhrase)
    // live (shard, ord) of each window doc: base hits are live by
    // construction, but a superseded identity shares its doc_id with the
    // dead version's docmap row — anti-join those out before the token
    // join (slim distributed tombstone scan; nothing driver-resident)
    val win = liveRows(spark, snap, spark.read.parquet(snap.docmapDirs: _*)
      .select(col("doc_id"), col("shard"), col("ord"))
      .join(broadcast(base), Seq("doc_id")))
    val slopL = slop
    val secU = udf((qid: Int, ts: Seq[String]) =>
      Golden.secondaryPhraseScore(ts, qpB.value(qid), idfB.value, avgdl, slopL))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    graft.index.IndexBuilder.stagedRows(spark, dir)
      .select(col("shard"), col("ord"), col("tokens"))
      .join(broadcast(win), Seq("shard", "ord"))
      .withColumn("score",
        lit(queryWeight) * col("base_score") +
          lit(rescoreWeight) * secU(col("query_id"), col("tokens")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "doc_id", "score")
  }

  /** Encode a filtered search's ACCEPT SET as synthetic posting runs —
    * one [[FilterTerm]] run per shard whose "postings" are the sorted
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
    spark.read.parquet(snap.docmapDirs: _*)
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
            SegRun(shard, FilterTerm, o.length.toLong, o.length.toLong, avgdl, blocks)
          }
        }
      }
  }

  private val ModeOr = 0
  private val ModeAnd = 1
  private val ModePhrase = 2
  private val ModeBool = 3
  private val ModeSpan = 4

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
          spark.read.parquet(snap.termstatsDir), missing)
        .select("term", "df").as[(String, Long)].collect().toMap
      missing.foreach(t => memo.put(t, Long.box(got.getOrElse(t, 0L))))
    }
    allTerms.map(t => t -> memo.get(t).longValue()).toMap
  }

  /** Core fan-out shared by every retrieval mode. `qTerms` carries each
    * query's ROUTING terms (every term whose posting runs the query's
    * tasks need — for boolean queries that includes `must_not`);
    * `qPhrase`/`qBool` carry the mode-specific per-query structure.
    * `from` is the pagination offset: every shard fetches its local
    * top-(from + k) — pruning bounds stay lossless because the heap just
    * grew — and the global windows keep ranks (from, from + k]. */
  private def searchImpl(spark: SparkSession, snap: Snapshot,
                         qTerms: Map[Int, Array[String]],
                         k: Int, mode: Int,
                         filter: Option[org.apache.spark.sql.Column] = None,
                         qPhrase: Map[Int, Array[String]] = Map.empty,
                         qBool: Map[Int, BoolQuery] = Map.empty,
                         from: Int = 0,
                         qAfter: Map[Int, (Double, Int, Long)] = Map.empty,
                         shardDocOrder: Boolean = false,
                         qBoost: Map[Int, Map[String, Double]] = Map.empty,
                         phraseSlop: Int = 0,
                         qPrefix: Map[Int, Array[String]] = Map.empty,
                         qSpan: Map[Int, SpanQuery] = Map.empty): DataFrame = {
    import spark.implicits._
    require(snap.isComplete, s"snapshot ${snap.id} is not a complete index")
    require(from >= 0, s"from must be >= 0: $from")
    val n = snap.stats.numDocs
    val avgdl = snap.stats.avgdl
    // qPrefix (phrase-prefix mode): per-query MATCH-ONLY expansion terms —
    // they must be scanned and routed like query terms (else their runs
    // never reach the task), but they never score (no cursor idf, no
    // entry in qTerms)
    val allTerms =
      (qTerms.values.flatten ++ qPrefix.values.flatten).toArray.distinct

    // global idf from committed termstats (term-pruned scan, tiny collect,
    // per-JVM memo — see dfFor). Defined for EVERY query term, not just
    // those present in termstats: in append()'s documented two-commit
    // window a term first introduced by the batch exists in segments while
    // termstats still reflects the parent — df falls back to 0 (the
    // parent's df for a new term), which is exactly the docstring's
    // "scores new terms with the parent's df" instead of a
    // NoSuchElementException inside the executor.
    val dfMap: Map[String, Long] = dfFor(spark, snap, allTerms)
    val idfMap: Map[String, Double] =
      allTerms.map(t => t -> Bm25.idf(dfMap.getOrElse(t, 0L), n)).toMap
    val idfB = spark.sparkContext.broadcast(idfMap)
    val qTermsB = spark.sparkContext.broadcast(qTerms)
    // per-(query, term) caret weights: a cursor's idf is pre-multiplied
    // by the boost, so contributions AND every WAND bound (maxScore,
    // blockMaxScore) scale together — pruning stays lossless for any
    // positive boost
    val qBoostB = spark.sparkContext.broadcast(qBoost)

    val segs = termPruned(spark.read.parquet(snap.segmentDirs: _*), allTerms)

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
    val B = math.max(1, math.min(math.max(1, qTerms.size / 16),
      math.min(graft.plans.KeySpread.Mod / S, math.ceil(2.0 * cores / S).toInt)))
    val termBlocks: Map[String, Array[Int]] =
      (qTerms.toSeq.flatMap { case (qid, ts) =>
        ts.map(t => (t, math.floorMod(qid, B))) } ++
       qPrefix.toSeq.flatMap { case (qid, ts) =>
        ts.map(t => (t, math.floorMod(qid, B))) })
      .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).distinct.sorted.toArray }
    val termBlocksB = spark.sparkContext.broadcast(termBlocks)
    val keys = graft.plans.KeySpread.preimages(S * B)
    val keyToIdx: Map[Int, Int] = keys.zipWithIndex.toMap
    val keyToIdxB = spark.sparkContext.broadcast(keyToIdx)
    val bLocal = B
    val modeLocal = mode
    val phraseSlopLocal = phraseSlop
    val kFetch = from + k // per-shard fetch depth: page offset + page size
    // phrase-order token sequences (NOT distinct/sorted — adjacency is
    // checked against this order); non-empty only in phrase mode.
    // qBool likewise carries clause structure only in boolean mode.
    val qPhraseB = spark.sparkContext.broadcast(qPhrase)
    val qPrefixB = spark.sparkContext.broadcast(qPrefix)
    val qBoolB = spark.sparkContext.broadcast(qBool)
    val qSpanB = spark.sparkContext.broadcast(qSpan)
    // search_after cursors: (score, shard, ord) of the previous page's
    // last hit under the global (score desc, shard asc, ord asc) order —
    // each shard evaluates "ranks after the cursor" LOCALLY (the _shard_doc
    // tiebreak is computable inside the shard, unlike a doc_id string),
    // so per-shard state stays exactly k whatever the page depth.
    val qAfterB = spark.sparkContext.broadcast(qAfter)

    val filteredLocal = filter.isDefined
    // per-group shared-decode budget (see DecodeBudget)
    val decodeCacheBytes = decodeCacheMbBytes(spark.conf.getOption("spark.graft.decodeCacheMb"))
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
            // a term may arrive as several salted/appended runs —
            // concatenate their disjoint-ord block lists (ordered by first
            // ord) into one cursor, pairing each block with its pruning
            // bound: the stored exact maxNorm while the run's build-time
            // avgdl still equals the snapshot's, else the (maxTf, minDl)
            // impact bound, safe at any avgdl
            val (fRuns, tRuns) = runs.result().partition(_.term == FilterTerm)
            // shared-decode budget for this group (all queries, all terms)
            val budget = new DecodeBudget(decodeCacheBytes)
            // per-term parallel (blocks, bounds) arrays: Cursor navigation
            // indexes them constantly, and the old IndexedSeq-of-tuples
            // (a Vector) charged an apply + tuple deref per access. The
            // TermDecoded slots are shared by every cursor over the term
            // in this group — each block decodes once per group, not once
            // per query.
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
            // the shard's accept set (filtered mode): bounds are never used
            // for pruning (idf 0), so the bounds array is all-zero. A fresh
            // forward-only cursor is built PER QUERY — each query's
            // candidate stream restarts from ord 0 — but the decoded
            // accept blocks are shared across all of them.
            val fBlocks: Array[SegBlock] =
              fRuns.flatMap(_.blocks).sortBy(_.first).toArray
            val fBounds: Array[Double] = new Array[Double](fBlocks.length)
            val fTd = new TermDecoded(fBlocks.length)
            val mkFilterAccept: () => (Long => Boolean) =
              if (!filteredLocal) () => null
              else () => {
                val fc = new Cursor(FilterTerm, 0.0, fBlocks, fBounds, avgdl,
                  fTd, budget)
                ord => { fc.advanceTo(ord); !fc.exhausted && fc.curDoc == ord }
              }
            val dels = delMask(shard)
            val deleted: Long => Boolean =
              if (dels.isEmpty) NotDeleted
              else ord => java.util.Arrays.binarySearch(dels, ord) >= 0
            // search_after: "ranks after (cs, csh, cord)" specialized to
            // THIS shard — strictly-lower score always qualifies; a tied
            // score qualifies by the (shard, ord) tiebreak, decided
            // locally (csh/cord are globals of the query's cursor)
            def mkAfter(qid: Int): (Double, Long) => Boolean =
              qAfterB.value.get(qid) match {
                case None => null
                case Some((cs, csh, cord)) =>
                  if (shard < csh) (sc: Double, _: Long) => sc < cs
                  else if (shard == csh)
                    (sc: Double, o: Long) => sc < cs || (sc == cs && o > cord)
                  else (sc: Double, _: Long) => sc <= cs
              }
            // one cursor per present term, built from the parallel
            // (blocks, bounds) arrays with the group-shared decode slots
            def mkCursor(t: String, idf: Double): Option[Cursor] =
              byTerm.get(t).map { case (bl, bo, td) =>
                new Cursor(t, idf, bl, bo, avgdl, td, budget) }
            if (filteredLocal && fBlocks.isEmpty) Iterator.empty
            else {
              // flat buffer loop instead of a filter→flatMap→map iterator
              // chain: the old nesting charged 3-4 iterator hops per
              // emitted hit and a fresh closure/iterator per query — the
              // second-hottest site in the query-phase profile after
              // wandTopK itself
              val out = new scala.collection.mutable.ArrayBuffer[ShardHit]()
              def emit(qid: Int, res: Array[(Long, Double)]): Unit = {
                var i = 0
                while (i < res.length) {
                  out += ShardHit(qid, shard, res(i)._1, res(i)._2)
                  i += 1
                }
              }
              val qit = qTermsB.value.iterator
              while (qit.hasNext) {
                val (qid, terms) = qit.next()
                if (math.floorMod(qid, bLocal) == block) {
                // terms are distinct+sorted (Golden.queryTerms), so the
                // cursor array is term-ascending — the summation order
                // wandTopK and booleanTopK keep (a should-empty booleanTopK
                // call is the AND / phrase path)
                if (modeLocal == ModeBool) {
                  val bq = qBoolB.value(qid)
                  // forward-only exclusion cursors over the must_not
                  // terms present in this shard (absent = excludes
                  // nothing); idf 0 — they never score
                  val notCursors = bq.mustNot.flatMap(t => mkCursor(t, 0.0))
                  val filterAcc = mkFilterAccept()
                  val notAccept: Long => Boolean =
                    if (notCursors.isEmpty) null
                    else ord => {
                      var ok = true
                      var ci = 0
                      while (ok && ci < notCursors.length) {
                        val c = notCursors(ci)
                        c.advanceTo(ord)
                        ok = c.exhausted || c.curDoc != ord
                        ci += 1
                      }
                      ok
                    }
                  val accept: Long => Boolean =
                    if (filterAcc == null) notAccept
                    else if (notAccept == null) filterAcc
                    else ord => filterAcc(ord) && notAccept(ord)
                  if (bq.must.nonEmpty) {
                    // a must term with no postings in THIS shard means no
                    // doc in the shard can qualify
                    if (bq.must.forall(byTerm.contains)) {
                      val mustCursors = bq.must.map(t => mkCursor(t, idfB.value(t)).get)
                      val shouldCursors = bq.should.flatMap(t =>
                        mkCursor(t, idfB.value(t)))
                      emit(qid, booleanTopK(mustCursors, shouldCursors, kFetch,
                        deleted, accept, mkAfter(qid), bq.effectiveMinShould))
                    }
                  } else {
                    val cursors = bq.should.flatMap(t => mkCursor(t, idfB.value(t)))
                    if (cursors.nonEmpty)
                      emit(qid, wandTopK(cursors, kFetch, deleted, accept,
                        mkAfter(qid), bq.effectiveMinShould))
                  }
                } else if (modeLocal == ModeSpan) {
                  // span mode: disjunctive WAND over the tree's SCORING
                  // terms (qTerms carries the routing superset — every
                  // tree term's runs reach this task); the span predicate
                  // gates acceptance via match-only forward probes, the
                  // same discipline as boolean mode's must_not cursors
                  val sq = qSpanB.value(qid)
                  val cursors = Spans.scoringTerms(sq).flatMap(t =>
                    mkCursor(t, idfB.value(t)))
                  if (cursors.nonEmpty) {
                    // fresh idf-0 cursors over ALL tree terms, independent
                    // of the scoring cursors' states: accept ords are
                    // non-decreasing under WAND, so forward-only is safe
                    val mCursors: Map[String, Cursor] =
                      Spans.allTerms(sq).flatMap(t =>
                        mkCursor(t, 0.0).map(c => t -> c)).toMap
                    val filterAcc = mkFilterAccept()
                    val spanOk: Long => Boolean = ord => {
                      val pos: String => Array[Long] = t => mCursors.get(t) match {
                        case Some(c) =>
                          c.advanceTo(ord)
                          if (!c.exhausted && c.curDoc == ord) c.positions
                          else Array.emptyLongArray
                        case None => Array.emptyLongArray
                      }
                      Spans.matches(sq, pos)
                    }
                    val accept: Long => Boolean =
                      if (filterAcc == null) spanOk
                      else ord => filterAcc(ord) && spanOk(ord)
                    emit(qid, wandTopK(cursors, kFetch, deleted, accept, mkAfter(qid)))
                  }
                } else if (modeLocal != ModeOr) {
                  // a query term with no postings in THIS shard means no
                  // doc in the shard can match all terms
                  // phrase-prefix mode: match-only cursors (idf 0 — they
                  // never score) over the last position's dictionary
                  // expansion; a query whose expansion has no postings in
                  // THIS shard can match nothing here (an empty expansion
                  // is Lucene's MatchNoDocsQuery rewrite)
                  val expCursors: Array[Cursor] =
                    qPrefixB.value.get(qid) match {
                      case None => null
                      case Some(exps) => exps.flatMap(t => mkCursor(t, 0.0))
                    }
                  if (terms.forall(byTerm.contains) &&
                      !(expCursors != null && expCursors.isEmpty)) {
                    val bs = qBoostB.value.getOrElse(qid, null)
                    val cursors = terms.map(t =>
                      mkCursor(t, idfB.value(t) *
                        (if (bs == null) 1.0 else bs.getOrElse(t, 1.0))).get)
                    val filterAcc = mkFilterAccept()
                    val accept: Long => Boolean =
                      if (modeLocal != ModePhrase) filterAcc
                      else {
                        val cur = terms.zip(cursors).toMap
                        val slots = qPhraseB.value(qid).map(cur)
                        val phraseOk: Long => Boolean = ord => {
                          // expansion slot (phrase-prefix mode): position
                          // arrays of the expanded terms present AT this
                          // doc — none present means no match whatever the
                          // fixed chain does
                          var expPos: Array[Array[Long]] = null
                          var expOk = true
                          if (expCursors != null) {
                            val b = Array.newBuilder[Array[Long]]
                            var ci = 0
                            while (ci < expCursors.length) {
                              val c = expCursors(ci)
                              c.advanceTo(ord)
                              if (!c.exhausted && c.curDoc == ord) b += c.positions
                              ci += 1
                            }
                            expPos = b.result()
                            expOk = expPos.nonEmpty
                          }
                          // any start position in slot 0 whose successors
                          // appear at +1, +2, ... in the later slots
                          // (slop = 0), or — slop > 0 — whose greedy
                          // minimal in-order chain spans within the slop
                          // budget (smallest next position minimizes the
                          // final span, so greedy is exact); with an
                          // expansion slot the phrase has fLen+1 positions,
                          // the last being the SMALLEST occurrence of any
                          // expanded term after the fixed chain's end
                          val fLen = slots.length
                          val p0 = slots(0).positions
                          var found = false
                          var a = 0
                          while (expOk && !found && a < p0.length) {
                            val start = p0(a)
                            var curP = start
                            var ok = true
                            if (phraseSlopLocal == 0) {
                              var j = 1
                              while (ok && j < fLen) {
                                ok = java.util.Arrays.binarySearch(
                                  slots(j).positions, start + j) >= 0
                                j += 1
                              }
                              if (ok) curP = start + fLen - 1
                            } else {
                              var j = 1
                              while (ok && j < fLen) {
                                val ps = slots(j).positions
                                var idx = java.util.Arrays.binarySearch(ps, curP + 1)
                                if (idx < 0) idx = -idx - 1
                                if (idx >= ps.length) ok = false
                                else { curP = ps(idx); j += 1 }
                              }
                            }
                            if (ok && expCursors != null) {
                              // budget: (expansion pos − start) − fLen ≤ slop
                              var best = Long.MaxValue
                              var ei = 0
                              while (ei < expPos.length) {
                                val ps = expPos(ei)
                                var idx = java.util.Arrays.binarySearch(ps, curP + 1)
                                if (idx < 0) idx = -idx - 1
                                if (idx < ps.length && ps(idx) < best) best = ps(idx)
                                ei += 1
                              }
                              ok = best != Long.MaxValue &&
                                (best - start) - fLen <= phraseSlopLocal
                            } else if (ok && phraseSlopLocal > 0) {
                              ok = (curP - start) - (fLen - 1) <= phraseSlopLocal
                            }
                            found = ok
                            a += 1
                          }
                          expOk && found
                        }
                        // filter check first: cheaper than position decode
                        if (filterAcc == null) ord => phraseOk(ord)
                        else ord => filterAcc(ord) && phraseOk(ord)
                      }
                    emit(qid, booleanTopK(cursors, Array.empty, kFetch, deleted,
                      accept, mkAfter(qid)))
                  }
                } else {
                  val bs = qBoostB.value.getOrElse(qid, null)
                  val cursors = terms.flatMap { t =>
                    mkCursor(t, idfB.value(t) *
                      (if (bs == null) 1.0 else bs.getOrElse(t, 1.0)))
                  }
                  if (cursors.nonEmpty)
                    emit(qid, wandTopK(cursors, kFetch, deleted, mkFilterAccept(),
                      mkAfter(qid)))
                }
                }
              }
              out.iterator
            }
          }
        }.flatten
      }

    // prune to the global top-(from + k) per query BEFORE touching the
    // docmap: rank() (not row_number) keeps every boundary tie, so the
    // later doc_id tie-break cannot lose a rightful winner; only then are
    // the few surviving (shard, ord) pairs resolved to doc ids (broadcast
    // of Q×(from+k) rows against the docmap — never S×Q×k)
    val w1 = Window.partitionBy(col("query_id")).orderBy(col("score").desc)
    val pruned = hits.toDF()
      .withColumn("r", rank().over(w1)).filter(col("r") <= kFetch).drop("r")
    val docmap = spark.read.parquet(snap.docmapDirs: _*)
      .select(col("shard"), col("ord"), col("doc_id"))
    val resolved = docmap.join(broadcast(pruned), Seq("shard", "ord"))
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
