package graft.search

import org.scalatest.funsuite.AnyFunSuite

/** Pure pins for the span-AST evaluator — no Spark. Position lists are
  * built from a token string the way both engines see them. */
class SpansSpec extends AnyFunSuite {

  private def posOf(doc: String): String => Array[Long] = {
    val m = doc.split(" ").zipWithIndex.groupBy(_._1)
      .map { case (t, xs) => t -> xs.map(_._2.toLong) }
    t => m.getOrElse(t, Array.emptyLongArray)
  }

  private def spanSet(q: SpanQuery, doc: String): Set[(Long, Long)] =
    Spans.spans(q, posOf(doc)).toSet

  test("span_term enumerates every occurrence") {
    assert(spanSet(SpanTerm("a"), "a b a") == Set((0L, 1L), (2L, 3L)))
    assert(spanSet(SpanTerm("z"), "a b a") == Set.empty)
  }

  test("span_or unions and dedups") {
    assert(spanSet(SpanOr(Seq(SpanTerm("a"), SpanTerm("b"))), "a b a") ==
      Set((0L, 1L), (1L, 2L), (2L, 3L)))
    assert(spanSet(SpanOr(Seq(SpanTerm("a"), SpanTerm("a"))), "a") ==
      Set((0L, 1L)))
  }

  test("span_near: in-order chains within the slop budget, exhaustive") {
    val near0 = SpanNear(Seq(SpanTerm("a"), SpanTerm("b")), 0)
    assert(spanSet(near0, "a b") == Set((0L, 2L)))
    assert(spanSet(near0, "b a") == Set.empty) // in-order only
    assert(spanSet(near0, "a x b") == Set.empty)
    val near1 = SpanNear(Seq(SpanTerm("a"), SpanTerm("b")), 1)
    assert(spanSet(near1, "a x b") == Set((0L, 3L)))
    // exhaustive: BOTH chains from the same start survive (a greedy
    // minimal-end evaluator would drop (0,4) and break span_containing)
    val near2 = SpanNear(Seq(SpanTerm("a"), SpanTerm("b")), 2)
    assert(spanSet(near2, "a b x b") == Set((0L, 2L), (0L, 4L)))
    // 3-term chain pays both gaps from one budget
    val tri = SpanNear(Seq(SpanTerm("a"), SpanTerm("b"), SpanTerm("c")), 1)
    assert(spanSet(tri, "a b x c") == Set((0L, 4L)))
    assert(spanSet(tri, "a x b x c") == Set.empty)
  }

  test("span_first cuts on span end") {
    val f = SpanFirst(SpanOr(Seq(SpanTerm("a"), SpanTerm("g"))), 1)
    assert(spanSet(f, "a b") == Set((0L, 1L)))
    assert(spanSet(f, "b a") == Set.empty)
    assert(spanSet(f, "g b a") == Set((0L, 1L)))
    // end applies to the whole composed span
    val fn = SpanFirst(SpanNear(Seq(SpanTerm("a"), SpanTerm("b")), 0), 2)
    assert(spanSet(fn, "a b x") == Set((0L, 2L)))
    assert(spanSet(fn, "x a b") == Set.empty)
  }

  test("span_not excludes overlaps within the pre/post window") {
    val inc = SpanNear(Seq(SpanTerm("a"), SpanTerm("b")), 0)
    assert(spanSet(SpanNot(inc, SpanTerm("g")), "a b g") == Set((0L, 2L)))
    assert(spanSet(SpanNot(inc, SpanTerm("g"), post = 1), "a b g") == Set.empty)
    assert(spanSet(SpanNot(inc, SpanTerm("g"), pre = 1), "g a b") == Set.empty)
    assert(spanSet(SpanNot(inc, SpanTerm("g")), "g a b") == Set((1L, 3L)))
    assert(spanSet(SpanNot(inc, SpanTerm("a")), "a b") == Set.empty) // self-overlap
  }

  test("span_containing / span_within: containment both ways") {
    val big = SpanNear(Seq(SpanTerm("a"), SpanTerm("b")), 2)
    assert(spanSet(SpanContaining(big, SpanTerm("x")), "a x b") == Set((0L, 3L)))
    assert(spanSet(SpanContaining(big, SpanTerm("x")), "a b x") == Set.empty)
    // the exhaustive-enumeration regression: only the LONGER chain from
    // start 0 contains x
    assert(spanSet(SpanContaining(big, SpanTerm("x")), "a b x b") == Set((0L, 4L)))
    assert(spanSet(SpanWithin(big, SpanTerm("x")), "a x b") == Set((1L, 2L)))
    assert(spanSet(SpanWithin(big, SpanTerm("x")), "x a b") == Set.empty)
  }

  test("routing vs scoring term sets follow the weight-construction rule") {
    val q = SpanNot(
      SpanContaining(SpanNear(Seq(SpanTerm("b"), SpanTerm("a")), 1), SpanTerm("c")),
      SpanWithin(SpanTerm("d"), SpanTerm("e")), pre = 1)
    assert(Spans.allTerms(q).toSeq == Seq("a", "b", "c", "d", "e"))
    // span_not scores include only; span_containing scores big only;
    // (the exclude side's span_within would score e, but it never scores)
    assert(Spans.scoringTerms(q).toSeq == Seq("a", "b"))
    val w = SpanWithin(SpanTerm("big"), SpanTerm("little"))
    assert(Spans.scoringTerms(w).toSeq == Seq("little"))
  }

  test("span_unordered: window gap in either order, overlap shrinks the gap") {
    val u0 = SpanUnordered(Seq(SpanTerm("a"), SpanTerm("b")), 0)
    assert(spanSet(u0, "a b") == Set((0L, 2L)))
    assert(spanSet(u0, "b a") == Set((0L, 2L))) // order-free
    assert(spanSet(u0, "a x b") == Set.empty)   // gap 1 > 0
    val u1 = SpanUnordered(Seq(SpanTerm("a"), SpanTerm("b")), 1)
    assert(spanSet(u1, "b x a") == Set((0L, 3L)))
    // multiple choices enumerate exhaustively (both windows match)
    assert(spanSet(u1, "a b x a") == Set((0L, 2L), (1L, 4L)))
    // sub-span clauses: the ordered pair (a b) plus c, any arrangement
    val mixed = SpanUnordered(Seq(
      SpanNear(Seq(SpanTerm("a"), SpanTerm("b")), 0), SpanTerm("c")), 1)
    assert(spanSet(mixed, "c a b") == Set((0L, 3L)))
    assert(spanSet(mixed, "a b x c") == Set((0L, 4L)))
    assert(spanSet(mixed, "a b x x c") == Set.empty) // gap 2
    // overlap: a clause inside another's window goes gap-negative
    val nest = SpanUnordered(Seq(
      SpanNear(Seq(SpanTerm("a"), SpanTerm("b")), 1), SpanTerm("x")), 0)
    assert(spanSet(nest, "a x b") == Set((0L, 3L)))
  }

  test("span_and: doc-level conjunction produces the envelope") {
    val and = SpanAnd(Seq(SpanTerm("a"), SpanTerm("b")))
    assert(spanSet(and, "a x x x b") == Set((0L, 5L))) // no window budget
    assert(spanSet(and, "b x a") == Set((0L, 3L)))
    assert(spanSet(and, "a x a") == Set.empty) // b missing
    assert(Spans.scoringTerms(and).toSeq == Seq("a", "b"))
  }

  test("span_doc_not: any exclude occurrence anywhere kills the doc") {
    val q = SpanDocNot(SpanTerm("a"), SpanTerm("z"))
    assert(spanSet(q, "a b") == Set((0L, 1L)))
    assert(spanSet(q, "a x x x x z") == Set.empty) // distance irrelevant
    // exclude routes but never scores
    assert(Spans.allTerms(q).toSeq == Seq("a", "z"))
    assert(Spans.scoringTerms(q).toSeq == Seq("a"))
  }

  test("span_near over terms and term-ORs: the greedy existence test equals the enumeration (seeded)") {
    val rnd = new java.util.SplittableRandom(20261019L)
    var matched = 0
    for (c <- 0 until 3000) {
      val vocab = Array.tabulate(2 + rnd.nextInt(4))(i => s"w$i")
      val doc = Array.fill(1 + rnd.nextInt(30))(vocab(rnd.nextInt(vocab.length)))
      val pos = posOf(doc.mkString(" "))
      // 1-5 clauses, each a term or an OR of terms; terms repeat freely,
      // within a clause and across clauses
      val clauses = Seq.fill(1 + rnd.nextInt(5)) {
        if (rnd.nextInt(3) == 0)
          SpanOr(Seq.fill(rnd.nextInt(4))(SpanTerm(vocab(rnd.nextInt(vocab.length)))))
        else SpanTerm(vocab(rnd.nextInt(vocab.length)))
      }
      val q = SpanNear(clauses, rnd.nextInt(5))
      val want = Spans.spans(q, pos).nonEmpty
      assert(Spans.matches(q, pos) == want, s"case $c: $q over '${doc.mkString(" ")}'")
      if (want) matched += 1
    }
    // both outcomes must be common, or the equality pins little
    assert(matched > 600 && matched < 2400, s"$matched of 3000 matched")
  }
}
