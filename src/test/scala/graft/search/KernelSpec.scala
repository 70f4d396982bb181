package graft.search

import org.scalatest.funsuite.AnyFunSuite
import graft.index.{Codec, SegBlock, SegRun}

/** Seeded property pins for the per-shard top-k kernels and the golden
  * per-document scorer — no Spark. Cursors are built straight from
  * [[Codec.buildBlocks]] output and every kernel call is checked against a
  * brute-force exact scorer that sums `idf * tfNorm` in ascending term
  * order, ranks by (score desc, ord asc) and cuts at the k-th score,
  * keeping every hit tied with it: `(ord, score)` arrays must be equal,
  * scores bit for bit. Each case runs under three shared-decode budgets
  * (0, one block, unlimited), and the budget must never go negative. */
class KernelSpec extends AnyFunSuite {

  private val OneBlock = 24L * Codec.BlockSize // docs + tfs + dls of a full block

  /** One random shard: ascending term names, Zipf-like dfs, per-doc dls. */
  private final class Shard(rnd: java.util.SplittableRandom) {
    val numDocs: Int = 150 + rnd.nextInt(1350)
    val nTerms: Int = 2 + rnd.nextInt(5)
    val terms: Array[String] = Array.tabulate(nTerms)(i => s"t$i")
    // few distinct dls and small tfs: equal scores (ord tie-breaks) are common
    private val dlChoices = Array(8L, 16L, 24L, 40L, 96L)
    val dl: Array[Long] = Array.fill(numDocs)(dlChoices(rnd.nextInt(dlChoices.length)))
    val avgdl: Double = dl.sum.toDouble / numDocs
    // the Zipf rank of each term is shuffled, so the head term is not
    // always the first in term order
    private val zipfRank = shuffled(rnd, terms.indices.toArray)
    /** Per term: ascending ords and their tfs. */
    val postings: Array[(Array[Long], Array[Long])] = Array.tabulate(nTerms) { t =>
      val df = math.max(1, math.min(numDocs,
        (numDocs * 0.7 / math.pow(zipfRank(t) + 1.0, 1.1)).toInt + rnd.nextInt(8)))
      val ords = shuffled(rnd, Array.tabulate(numDocs)(_.toLong)).take(df).sorted
      val tfs = Array.fill(df)(if (rnd.nextInt(4) == 0) 2L + rnd.nextInt(5) else 1L)
      (ords, tfs)
    }
    val idf: Array[Double] = postings.map(p => Bm25.idf(p._1.length.toLong, numDocs.toLong))
    // some terms carry runs built at a stale avgdl: their pruning bound is
    // the (maxTf, minDl) impact bound, as after an incremental append
    private val stale = Array.fill(nTerms)(rnd.nextInt(3) == 0)
    val blocks: Array[Array[SegBlock]] = Array.tabulate(nTerms) { t =>
      val (ords, tfs) = postings(t)
      val buildAvgdl = if (stale(t)) avgdl * (0.5 + rnd.nextDouble()) else avgdl
      Codec.buildBlocks(ords, tfs, ords.map(o => dl(o.toInt)), buildAvgdl)
    }
    val bounds: Array[Array[Double]] = Array.tabulate(nTerms) { t =>
      blocks(t).map(b =>
        if (stale(t)) Bm25.tfNorm(b.maxTf.toLong, b.minDl, avgdl) else b.maxNorm)
    }
    /** tf of term `t` in every doc (0 = absent). */
    val tfOf: Array[Array[Long]] = Array.tabulate(nTerms) { t =>
      val a = new Array[Long](numDocs)
      val (ords, tfs) = postings(t)
      ords.indices.foreach(i => a(ords(i).toInt) = tfs(i))
      a
    }

    /** Exact score of `doc` over `ts` (term indexes), summed in ascending
      * term order — the golden scorer's summation. */
    def score(doc: Int, ts: Seq[Int]): Double = {
      var s = 0.0
      ts.sorted.foreach { t =>
        if (tfOf(t)(doc) > 0) s += idf(t) * Bm25.tfNorm(tfOf(t)(doc), dl(doc), avgdl)
      }
      s
    }
  }

  private def shuffled[A](rnd: java.util.SplittableRandom, xs: Array[A]): Array[A] = {
    val a = xs.clone()
    var i = a.length - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val x = a(i); a(i) = a(j); a(j) = x
      i -= 1
    }
    a
  }

  /** The first `k` of `ranked` (best first) and every entry tied with the
    * k-th score — the kernels' per-shard cut. */
  private def cutWithTies[A](ranked: Seq[(A, Double)], k: Int): Seq[(A, Double)] =
    if (ranked.length <= k) ranked
    else { val floor = ranked(k - 1)._2; ranked.takeWhile(_._2 >= floor) }

  /** Brute-force top-k over the docs `qualifies` admits. */
  private def bruteTopK(sh: Shard, k: Int, qualifies: Int => Boolean,
                        scoreTerms: Seq[Int], deleted: Long => Boolean,
                        accept: Long => Boolean,
                        after: (Double, Long) => Boolean): Seq[(Long, Double)] =
    cutWithTies((0 until sh.numDocs).iterator
      .filter(d => qualifies(d) && !deleted(d.toLong) &&
        (accept == null || accept(d.toLong)))
      .map(d => (d.toLong, sh.score(d, scoreTerms)))
      .filter { case (o, s) => after == null || after(s, o) }
      .toSeq.sortBy { case (o, s) => (-s, o) }, k)

  test("wandTopK and booleanTopK equal the brute-force exact scorer (seeded, 300 cases)") {
    val rnd = new java.util.SplittableRandom(20261018L)
    var nonEmpty = 0
    for (c <- 0 until 300) {
      val sh = new Shard(rnd)
      val all = sh.terms.indices
      val k = 1 + rnd.nextInt(20)
      // tombstones: none, a few, or a large share of the shard
      val delProb = Array(0.0, 0.02, 0.3)(rnd.nextInt(3))
      val dels = (0 until sh.numDocs).filter(_ => rnd.nextDouble() < delProb)
        .map(_.toLong).toArray
      val deleted: Long => Boolean = o => java.util.Arrays.binarySearch(dels, o) >= 0
      // accept: none, a stateless predicate, or a forward-only cursor over
      // an accept set (the filtered-search shape — it only works if the
      // kernel presents candidates in non-decreasing ord order)
      val acceptKind = rnd.nextInt(3)
      val salt = rnd.nextInt(5) + 2
      val acceptSet = (0 until sh.numDocs).filter(_ => rnd.nextInt(3) != 0).map(_.toLong).toArray
      val acceptPure: Long => Boolean = acceptKind match {
        case 0 => null
        case 1 => o => (o * 31 + salt) % 7 != 0
        case _ => o => java.util.Arrays.binarySearch(acceptSet, o) >= 0
      }
      // query shapes over the shard's terms
      val orTerms = shuffled(rnd, all.toArray).take(1 + rnd.nextInt(sh.nTerms))
      val minMatch = 1 + rnd.nextInt(orTerms.length)
      val andTerms = shuffled(rnd, all.toArray).take(1 + rnd.nextInt(sh.nTerms)).sorted
      val mixed = shuffled(rnd, all.toArray)
      val nMust = 1 + rnd.nextInt(sh.nTerms - 1)
      val must = mixed.take(nMust)
      val should = mixed.drop(nMust).take(rnd.nextInt(sh.nTerms - nMust + 1))
      val minShould = rnd.nextInt(should.length + 1)

      val orQualifies = (d: Int) => orTerms.count(t => sh.tfOf(t)(d) > 0) >= minMatch
      val andQualifies = (d: Int) => andTerms.forall(t => sh.tfOf(t)(d) > 0)
      val boolQualifies = (d: Int) => must.forall(t => sh.tfOf(t)(d) > 0) &&
        should.count(t => sh.tfOf(t)(d) > 0) >= minShould
      def want(qualifies: Int => Boolean, ts: Array[Int],
               after: (Double, Long) => Boolean): Seq[(Long, Double)] =
        bruteTopK(sh, k, qualifies, ts.toSeq, deleted, acceptPure, after)
      // search_after: none, or the cursor of a hit of the unpaged result
      // (ties at the cursor's score then split by ord)
      def pickAfter(page: Seq[(Long, Double)]): (Double, Long) => Boolean =
        if (page.isEmpty || rnd.nextInt(2) == 0) null
        else {
          val (co, cs) = page(rnd.nextInt(page.length))
          (s: Double, o: Long) => s < cs || (s == cs && o > co)
        }
      val orAfter = pickAfter(want(orQualifies, orTerms, null))
      val andAfter = pickAfter(want(andQualifies, andTerms, null))
      val boolAfter = pickAfter(want(boolQualifies, must ++ should, null))
      val orWant = want(orQualifies, orTerms, orAfter)
      val andWant = want(andQualifies, andTerms, andAfter)
      val boolWant = want(boolQualifies, must ++ should, boolAfter)
      if (orWant.nonEmpty || andWant.nonEmpty || boolWant.nonEmpty) nonEmpty += 1

      for (budgetBytes <- Seq(0L, OneBlock, Long.MaxValue)) {
        val budget = new Kernel.DecodeBudget(budgetBytes)
        // decode slots shared by every cursor over a term, as in one
        // fan-out group of the search path
        val tds = sh.blocks.map(b => new Kernel.TermDecoded(b.length))
        val acceptTd = {
          val ones = Array.fill(acceptSet.length)(1L)
          val bl = Codec.buildBlocks(acceptSet, ones, ones, sh.avgdl)
          (bl, new Kernel.TermDecoded(bl.length))
        }
        def cursor(t: Int): Kernel.Cursor =
          new Kernel.Cursor(sh.terms(t), sh.idf(t), sh.blocks(t), sh.bounds(t),
            sh.avgdl, tds(t), budget)
        def accept(): Long => Boolean =
          if (acceptKind < 2) acceptPure
          else {
            val (bl, td) = acceptTd
            val fc = new Kernel.Cursor(Kernel.FilterTerm, 0.0, bl, new Array[Double](bl.length),
              sh.avgdl, td, budget)
            o => { fc.advanceTo(o); !fc.exhausted && fc.curDoc == o }
          }
        val ctx = s"case $c budget $budgetBytes"

        val orGot = Kernel.wandTopK(orTerms.map(cursor), k, deleted, accept(), orAfter, minMatch)
        assert(orGot.toSeq == orWant, s"OR $ctx")
        assert(budget.remaining >= 0, s"OR $ctx overshot: ${budget.remaining}")

        val andGot = Kernel.booleanTopK(andTerms.map(cursor), Array.empty, k, deleted,
          accept(), andAfter)
        assert(andGot.toSeq == andWant, s"AND $ctx")
        assert(budget.remaining >= 0, s"AND $ctx overshot: ${budget.remaining}")

        val boolGot = Kernel.booleanTopK(must.map(cursor), should.map(cursor), k, deleted,
          accept(), boolAfter, minShould)
        assert(boolGot.toSeq == boolWant, s"bool $ctx")
        assert(budget.remaining >= 0, s"bool $ctx overshot: ${budget.remaining}")
      }
    }
    // the generator must actually produce hits, or the equalities above
    // pin nothing
    assert(nonEmpty > 250, s"only $nonEmpty of 300 cases had any hit")
  }

  /** One random positional shard: docs are token sequences over a small
    * vocabulary (so phrases and spans match often), and every posting
    * carries its positions, encoded through [[Codec.buildBlocks]]. A term
    * may arrive as two runs, one of them built at a stale avgdl, as after
    * an incremental append. */
  private final class PosShard(rnd: java.util.SplittableRandom) {
    val numDocs: Int = 60 + rnd.nextInt(340)
    val terms: Array[String] = Array.tabulate(3 + rnd.nextInt(4))(i => s"t$i")
    val docs: Array[Array[String]] = Array.fill(numDocs) {
      // Zipf-like token draw: low term indexes are frequent
      Array.fill(3 + rnd.nextInt(30)) {
        terms(math.min(terms.length - 1, (rnd.nextDouble() * rnd.nextDouble() * terms.length).toInt))
      }
    }
    val avgdl: Double = docs.map(_.length.toLong).sum.toDouble / numDocs
    val df: Map[String, Int] = terms.map(t => t -> docs.count(_.contains(t))).toMap
    def idf(t: String): Double = Bm25.idf(df(t).toLong, numDocs.toLong)
    def positions(d: Int, t: String): Array[Long] =
      docs(d).indices.filter(docs(d)(_) == t).map(_.toLong).toArray
    def tfNorm(d: Int, t: String): Double =
      Bm25.tfNorm(positions(d, t).length.toLong, docs(d).length.toLong, avgdl)

    val runs: Seq[SegRun] = terms.toSeq.flatMap { t =>
      val ords = (0 until numDocs).filter(d => docs(d).contains(t)).map(_.toLong).toArray
      val cut = if (ords.length > 1 && rnd.nextInt(3) == 0) 1 + rnd.nextInt(ords.length - 1)
                else ords.length
      Seq(ords.take(cut), ords.drop(cut)).filter(_.nonEmpty).map { os =>
        val runAvgdl = if (rnd.nextInt(3) == 0) avgdl * (0.5 + rnd.nextDouble()) else avgdl
        val ps = os.map(o => positions(o.toInt, t))
        val blocks = Codec.buildBlocks(os, ps.map(_.length.toLong),
          os.map(o => docs(o.toInt).length.toLong), runAvgdl, ps.map(Codec.encodePositions))
        SegRun(0, t, os.length.toLong, ps.map(_.length.toLong).sum, runAvgdl, blocks.toSeq)
      }
    }
  }

  test("groupTopK runs boosted, phrase, phrase-prefix, must_not and span plans " +
       "bit-identical to the brute-force scorer (seeded, 200 cases)") {
    val rnd = new java.util.SplittableRandom(20261019L)
    val boosts = Array(0.5, 1.0, 2.5, 3.0)
    val shard = 3
    var hits = 0
    var phraseHits = 0
    var spanHits = 0
    for (c <- 0 until 200) {
      val sh = new PosShard(rnd)
      val ts = sh.terms
      def pick(): String = ts(rnd.nextInt(ts.length))
      def subset(): Array[String] = ts.filter(_ => rnd.nextBoolean())
      val k = 1 + rnd.nextInt(12)
      val dels = (0 until sh.numDocs).filter(_ => rnd.nextInt(10) == 0).map(_.toLong).toArray
      val filtered = rnd.nextInt(3) == 0
      val acceptSet = (0 until sh.numDocs).filter(_ => rnd.nextInt(4) != 0).map(_.toLong).toArray
      val filterRun = if (!filtered || acceptSet.isEmpty) Seq.empty else {
        val ones = Array.fill(acceptSet.length)(1L)
        Seq(SegRun(0, Kernel.FilterTerm, acceptSet.length.toLong, acceptSet.length.toLong,
          sh.avgdl, Codec.buildBlocks(acceptSet, ones, ones, sh.avgdl).toSeq))
      }
      // a phrase of 2-4 tokens: a window of some doc (so it often
      // matches), sometimes one repeated term ("a a")
      def phraseTokens(): Array[String] =
        if (rnd.nextInt(4) == 0) { val t = pick(); Array.fill(2 + rnd.nextInt(2))(t) }
        else {
          val d = sh.docs(rnd.nextInt(sh.numDocs))
          val m = math.min(d.length, 2 + rnd.nextInt(3))
          d.slice(rnd.nextInt(d.length - m + 1), d.length).take(m)
        }
      // span trees whose excluded or context subtree routes but never scores
      def spanTree(): SpanQuery = {
        val near = SpanNear(Seq(SpanTerm(pick()), SpanOr(Seq(SpanTerm(pick()), SpanTerm(pick())))),
          rnd.nextInt(4))
        rnd.nextInt(3) match {
          case 0 => SpanNot(near, SpanTerm(pick()), rnd.nextInt(2), rnd.nextInt(2))
          case 1 => SpanContaining(near, SpanTerm(pick()))
          case _ => SpanWithin(near, SpanTerm(pick()))
        }
      }
      val boolMust = subset()
      val boolShould = ts.filterNot(boolMust.contains).filter(_ => rnd.nextBoolean())
      val boolNot = ts.filterNot(t => boolMust.contains(t) || boolShould.contains(t))
        .filter(_ => rnd.nextBoolean())
      val prefixFixed = phraseTokens().take(1 + rnd.nextInt(2))
      val prefixExp = if (rnd.nextInt(4) == 0) Array.empty[String] else subset()
      val orBoost = ts.map(t => t -> boosts(rnd.nextInt(boosts.length))).toMap
      val orTerms = subset()
      val andTerms = subset()
      val phrase = phraseTokens()
      val phraseSlop = rnd.nextInt(4)
      val tree = spanTree()
      // plans, and each one's independent match predicate over a doc's tokens
      val cases: Seq[(QueryPlan, Int => Boolean)] = Seq(
        QueryPlan.terms(orTerms, conjunctive = false, orBoost) -> (_ => true),
        QueryPlan.terms(andTerms, conjunctive = true, orBoost) -> (_ => true),
        QueryPlan.phrase(phrase, phraseSlop) ->
          (d => Golden.chainMatch(sh.docs(d), phrase, phraseSlop)),
        QueryPlan.phrase(prefixFixed, phraseSlop, Some(prefixExp)) ->
          (d => prefixExp.exists(e =>
            Golden.chainMatch(sh.docs(d), prefixFixed :+ e, phraseSlop))),
        (if (boolMust.isEmpty && boolShould.isEmpty) QueryPlan.terms(Array(pick()))
         else QueryPlan.bool(BoolQuery(0, boolMust, boolShould, boolNot,
           rnd.nextInt(boolShould.length + 1)))) -> (_ => true),
        QueryPlan.span(tree) ->
          (d => Spans.spans(tree, t => sh.positions(d, t)).nonEmpty)
      )
      // search_after on some plans: a cursor on a neighbouring shard, so
      // all three of the tie rules are exercised
      val plans = cases.map { case (p, _) =>
        val w = p.weighted(sh.idf)
        if (rnd.nextInt(3) != 0) w
        else w.copy(after = Some((rnd.nextInt(40) / 10.0, shard - 1 + rnd.nextInt(3),
          rnd.nextInt(sh.numDocs).toLong)))
      }

      val want: Seq[Seq[(Long, Double)]] = cases.zip(plans).map { case ((_, matches), p) =>
        val scoring = (p.must ++ p.should).sortBy(_.term)
        val ranked = (0 until sh.numDocs).filter { d =>
          val has = (t: String) => sh.docs(d).contains(t)
          p.must.forall(w => has(w.term)) &&
            p.should.count(w => has(w.term)) >= math.max(p.minShould,
              if (p.must.isEmpty) 1 else 0) &&
            !p.mustNot.exists(has) && matches(d) &&
            java.util.Arrays.binarySearch(dels, d.toLong) < 0 &&
            (!filtered || java.util.Arrays.binarySearch(acceptSet, d.toLong) >= 0)
        }.map { d =>
          var s = 0.0
          scoring.foreach(w => if (sh.docs(d).contains(w.term)) s += w.weight * sh.tfNorm(d, w.term))
          (d.toLong, s)
        }.filter { case (o, s) => p.after.forall { case (cs, csh, cord) =>
          s < cs || (s == cs && (shard > csh || (shard == csh && o > cord))) }
        }.sortBy { case (o, s) => (-s, o) }
        cutWithTies(ranked, k)
      }
      hits += want.count(_.nonEmpty)
      if (want(2).nonEmpty || want(3).nonEmpty) phraseHits += 1
      if (want(5).nonEmpty) spanHits += 1

      for (budgetBytes <- Seq(0L, OneBlock, Long.MaxValue)) {
        val got = Kernel.groupTopK(shard, sh.runs ++ filterRun, dels,
            plans.indices.iterator.map(i => i -> plans(i)), k, sh.avgdl, filtered, budgetBytes,
            None)
          .toSeq.groupBy(_.query_id)
        plans.indices.foreach { i =>
          val g = got.getOrElse(i, Seq.empty)
          assert(g.forall(_.shard == shard))
          assert(g.map(h => (h.ord, h.score)) == want(i),
            s"case $c plan $i budget $budgetBytes: ${plans(i)}")
        }
      }
    }
    // the generator must produce hits for the accept paths, or the
    // equalities above pin nothing
    assert(hits > 600, s"only $hits of 1200 plans had any hit")
    assert(phraseHits > 100, s"only $phraseHits of 200 cases had a phrase hit")
    assert(spanHits > 40, s"only $spanHits of 200 cases had a span hit")
  }

  test("the tie-keeping cut equals the brute-force cut (seeded, 2000 cases)") {
    val rnd = new java.util.SplittableRandom(20261022L)
    for (c <- 0 until 2000) {
      val k = rnd.nextInt(8)
      // few distinct scores, so ties at the k-th score are common
      val entries = Seq.fill(rnd.nextInt(40))((rnd.nextInt(6) / 2.0, rnd.nextLong()))
      val top = new TopScores[Long](k)
      entries.foreach { case (s, a) => top.offer(s, a) }
      val want = if (k == 0) Seq.empty else cutWithTies(entries.map(_.swap).sortBy(-_._2), k)
      assert(top.result.map(_.swap).toSet == want.toSet, s"case $c k $k")
      assert(top.floor == (if (k == 0) Double.PositiveInfinity
        else if (entries.length < k) Double.NegativeInfinity else want(k - 1)._2), s"case $c")
    }
  }

  test("the generation-bounded cut equals the brute-force cut (seeded, 2000 cases)") {
    val rnd = new java.util.SplittableRandom(20261023L)
    for (c <- 0 until 2000) {
      val k = rnd.nextInt(8)
      val n = rnd.nextInt(120)
      // distinct ords in random arrival order, few distinct scores, and
      // 0-3 generation starts among them
      val ords = shuffled(rnd, Array.tabulate(n)(_.toLong))
      val entries = ords.map(o => (rnd.nextInt(6) / 2.0, o))
      val starts = Array.fill(rnd.nextInt(4))(rnd.nextInt(120).toLong).sorted
      val ties = Kernel.ordTies(Some(starts)).get
      val top = new TopScores[Long](k, Some(ties))
      entries.foreach { case (s, o) => top.offer(s, o) }
      // kept: fewer than k entries score higher or tie it earlier in its generation
      val want = if (k == 0) Set.empty[(Double, Long)] else entries.filter { case (s, o) =>
        entries.count { case (s2, o2) =>
          s2 > s || (s2 == s && ties.cls(o2) == ties.cls(o) && o2 < o) } < k
      }.toSet
      assert(top.result.toSet == want, s"case $c k $k starts ${starts.toSeq}")
    }
  }

  test("a shard with thousands of tied docs in three generations ships at most k " +
       "per generation: the first k of each") {
    val n = 3000
    val ords = Array.tabulate(n)(i => i + 1L)
    val ones = Array.fill(n)(1L)
    val dls = Array.fill(n)(8L)
    val runs = Seq("t", "u").map(t =>
      SegRun(0, t, n.toLong, n.toLong, 8.0, Codec.buildBlocks(ords, ones, dls, 8.0).toSeq))
    val idf = Bm25.idf(n.toLong, n.toLong)
    val plans = Seq(QueryPlan.terms(Array("t")), QueryPlan.terms(Array("t", "u"), conjunctive = true))
      .map(_.weighted(_ => idf))
    val k = 10
    def shipped(starts: Option[Array[Long]]): Map[Int, Seq[Long]] =
      Kernel.groupTopK(0, runs, Array.emptyLongArray, plans.indices.iterator.map(i => i -> plans(i)),
          k, 8.0, filtered = false, decodeCacheBytes = Long.MaxValue, starts)
        .toSeq.groupBy(_.query_id).map { case (q, hs) =>
          assert(hs.map(_.score).distinct.length == 1)
          q -> hs.map(_.ord).sorted
        }
    val firsts = Seq(1L, 1001L, 2001L).flatMap(s => s until s + k)
    assert(shipped(Some(Array(1001L, 2001L))) == Map(0 -> firsts, 1 -> firsts))
    assert(shipped(Some(Array.emptyLongArray)) == Map(0 -> (1L to k), 1 -> (1L to k)))
    // unknown generations: every tie ships
    assert(shipped(None).values.map(_.length).toSeq == Seq(n, n))
  }

  test("the golden tie order is Spark's string order: UTF-8 bytes, null first " +
       "(seeded, 5000 pairs)") {
    val rnd = new java.util.SplittableRandom(20261024L)
    // ASCII, a BMP character above the surrogates, and a supplementary one
    val alphabet = Array("a", "b", "é", "～", "😀")
    def str(): String =
      if (rnd.nextInt(20) == 0) null
      else Seq.fill(rnd.nextInt(4))(alphabet(rnd.nextInt(alphabet.length))).mkString
    def utf8(a: String, b: String): Int =
      if (a == null || b == null) java.lang.Boolean.compare(a != null, b != null)
      else java.util.Arrays.compareUnsigned(a.getBytes("UTF-8"), b.getBytes("UTF-8"))
    for (c <- 0 until 5000) {
      val (a, b) = (str(), str())
      assert(Integer.signum(DocScan.DocIdTies.order.compare(a, b)) == Integer.signum(utf8(a, b)),
        s"case $c: '$a' vs '$b'")
    }
  }

  test("chainMatch equals brute-force enumeration of in-order position chains, " +
       "with and without a last any-of slot (seeded, 3000 cases)") {
    val rnd = new java.util.SplittableRandom(20261021L)
    val vocab = Array("a", "b", "c", "d")
    var matched = 0
    for (c <- 0 until 3000) {
      val doc = Array.fill(rnd.nextInt(15))(vocab(rnd.nextInt(vocab.length)))
      val phrase = Array.fill(1 + rnd.nextInt(3))(vocab(rnd.nextInt(vocab.length)))
      val last = if (rnd.nextBoolean()) None else Some(vocab.filter(_ => rnd.nextInt(3) == 0).toSet)
      val slop = rnd.nextInt(4)
      val slots: Seq[String => Boolean] =
        phrase.toSeq.map(p => (t: String) => t == p) ++ last.map(set => (t: String) => set(t))
      // every increasing position tuple whose tokens fill the slots in order
      def chain(j: Int, start: Int, prev: Int): Boolean =
        if (j == slots.length) (prev - start) - (slots.length - 1) <= slop
        else (prev + 1 until doc.length).exists(p =>
          slots(j)(doc(p)) && chain(j + 1, if (j == 0) p else start, p))
      val want = chain(0, -1, -1)
      assert(Golden.chainMatch(doc, phrase, slop, last) == want,
        s"case $c: ${doc.mkString(" ")} / ${phrase.mkString(" ")} + $last slop $slop")
      if (want) matched += 1
    }
    assert(matched > 500, s"only $matched of 3000 cases matched")
  }

  test("the golden per-document scorer equals the brute-force scorer bit for bit " +
       "on OR, AND, boosted and span queries (seeded, 200 cases)") {
    val rnd = new java.util.SplittableRandom(20261020L)
    val boosts = Array(0.5, 1.0, 2.5, 3.0)
    var hits = 0
    var spanHits = 0
    for (c <- 0 until 200) {
      val sh = new PosShard(rnd)
      def subset(): Array[String] = sh.terms.filter(_ => rnd.nextBoolean())
      val boost = sh.terms.map(t => t -> boosts(rnd.nextInt(boosts.length))).toMap
      val k = 1 + rnd.nextInt(12)
      def pick(): String = sh.terms(rnd.nextInt(sh.terms.length))
      val plans = IndexedSeq(QueryPlan.terms(subset()),
        QueryPlan.terms(subset(), conjunctive = true),
        QueryPlan.terms(subset(), conjunctive = rnd.nextBoolean(), boost),
        QueryPlan.span(SpanNot(SpanNear(Seq(SpanTerm(pick()),
          SpanOr(Seq(SpanTerm(pick()), SpanTerm(pick())))), rnd.nextInt(4)),
          SpanTerm(pick()), rnd.nextInt(2), rnd.nextInt(2))))
      val compiled = new DocScan.Compiled(plans.map(DocScan.DocQuery(_)))
      // the corpus split over 1-3 partitions, as the golden pass sees it
      val docId = (d: Int) => f"d$d%04d"
      val parts = (0 until sh.numDocs).groupBy(_ % (1 + rnd.nextInt(3))).values.toSeq.map { ds =>
        val scanner = new DocScan.Scanner(compiled)
        ds.map(d => scanner.scan(docId(d), sh.docs(d), accepted = true))
      }
      val stats = parts.map { ds =>
        val st = DocScan.Stats.empty(compiled.dict.length)
        ds.foreach(st.add)
        st
      }.reduce(_ merge _)
      assert(stats.n == sh.numDocs && stats.avgdl == sh.avgdl, s"case $c")
      val idf = stats.idf
      compiled.dict.indices.foreach(i => assert(idf(i) == sh.idf(compiled.dict(i))))
      val cut = parts.flatMap(ds => DocScan.topScores(compiled, ds.iterator, idf, stats.avgdl, k))
      plans.indices.foreach { j =>
        val p = plans(j).weighted(sh.idf)
        val scoring = (p.must ++ p.should).sortBy(_.term)
        val want: Map[String, Double] = (0 until sh.numDocs).filter { d =>
          val has = (t: String) => sh.docs(d).contains(t)
          scoring.exists(w => has(w.term)) && p.must.forall(w => has(w.term)) &&
            p.should.count(w => has(w.term)) >= p.minShould &&
            p.span.forall(q => Spans.spans(q, t => sh.positions(d, t)).nonEmpty)
        }.map { d =>
          var s = 0.0
          scoring.foreach(w => if (sh.docs(d).contains(w.term)) s += w.weight * sh.tfNorm(d, w.term))
          docId(d) -> s
        }.toMap
        val got = parts.flatten.filter(_.hits.contains(j))
          .map(d => d.docId -> DocScan.score(compiled, j, d, idf, stats.avgdl)).toMap
        assert(got == want, s"case $c plan $j: ${plans(j)}")
        // per-partition cuts, then the global (score desc, doc_id asc) window
        def top(xs: Seq[(String, Double)]) = xs.sortBy { case (d, s) => (-s, d) }.take(k)
        assert(top(cut.filter(_._1 == j).map(h => (h._2, h._3))) == top(want.toSeq),
          s"case $c plan $j top-$k")
        if (want.nonEmpty) hits += 1
        if (want.nonEmpty && plans(j).span.isDefined) spanHits += 1
      }
    }
    assert(hits > 400, s"only $hits of 800 plans had any hit")
    assert(spanHits > 0, s"only $spanHits of 200 span plans had any hit")
  }

  test("the kernel source has no Spark import") {
    // the WAND kernel and the golden per-document scorer alike
    Seq("Kernel.scala", "DocScan.scala").foreach { f =>
      val src = scala.io.Source.fromFile(s"src/main/scala/graft/search/$f", "UTF-8")
      try assert(!src.mkString.contains("org.apache.spark"), f)
      finally src.close()
    }
  }
}
