package graft.search

import org.scalatest.funsuite.AnyFunSuite
import graft.index.{Codec, SegBlock}

/** Seeded property pins for the per-shard top-k kernels — no Spark.
  * Cursors are built straight from [[Codec.buildBlocks]] output and every
  * kernel call is checked against a brute-force exact scorer that sums
  * `idf * tfNorm` in ascending term order and ranks by (score desc, ord
  * asc): `(ord, score)` arrays must be equal, scores bit for bit. Each case
  * runs under three shared-decode budgets (0, one block, unlimited), and
  * the budget must never go negative. */
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

  /** Brute-force top-k over the docs `qualifies` admits. */
  private def bruteTopK(sh: Shard, k: Int, qualifies: Int => Boolean,
                        scoreTerms: Seq[Int], deleted: Long => Boolean,
                        accept: Long => Boolean,
                        after: (Double, Long) => Boolean): Seq[(Long, Double)] =
    (0 until sh.numDocs).iterator
      .filter(d => qualifies(d) && !deleted(d.toLong) &&
        (accept == null || accept(d.toLong)))
      .map(d => (d.toLong, sh.score(d, scoreTerms)))
      .filter { case (o, s) => after == null || after(s, o) }
      .toSeq.sortBy { case (o, s) => (-s, o) }.take(k)

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
        val budget = new Wand.DecodeBudget(budgetBytes)
        // decode slots shared by every cursor over a term, as in one
        // fan-out group of the search path
        val tds = sh.blocks.map(b => new Wand.TermDecoded(b.length))
        val acceptTd = {
          val ones = Array.fill(acceptSet.length)(1L)
          val bl = Codec.buildBlocks(acceptSet, ones, ones, sh.avgdl)
          (bl, new Wand.TermDecoded(bl.length))
        }
        def cursor(t: Int): Wand.Cursor =
          new Wand.Cursor(sh.terms(t), sh.idf(t), sh.blocks(t), sh.bounds(t),
            sh.avgdl, tds(t), budget)
        def accept(): Long => Boolean =
          if (acceptKind < 2) acceptPure
          else {
            val (bl, td) = acceptTd
            val fc = new Wand.Cursor(Wand.FilterTerm, 0.0, bl, new Array[Double](bl.length),
              sh.avgdl, td, budget)
            o => { fc.advanceTo(o); !fc.exhausted && fc.curDoc == o }
          }
        val ctx = s"case $c budget $budgetBytes"

        val orGot = Wand.wandTopK(orTerms.map(cursor), k, deleted, accept(), orAfter, minMatch)
        assert(orGot.toSeq == orWant, s"OR $ctx")
        assert(budget.remaining >= 0, s"OR $ctx overshot: ${budget.remaining}")

        val andGot = Wand.booleanTopK(andTerms.map(cursor), Array.empty, k, deleted,
          accept(), andAfter)
        assert(andGot.toSeq == andWant, s"AND $ctx")
        assert(budget.remaining >= 0, s"AND $ctx overshot: ${budget.remaining}")

        val boolGot = Wand.booleanTopK(must.map(cursor), should.map(cursor), k, deleted,
          accept(), boolAfter, minShould)
        assert(boolGot.toSeq == boolWant, s"bool $ctx")
        assert(budget.remaining >= 0, s"bool $ctx overshot: ${budget.remaining}")
      }
    }
    // the generator must actually produce hits, or the equalities above
    // pin nothing
    assert(nonEmpty > 250, s"only $nonEmpty of 300 cases had any hit")
  }
}
