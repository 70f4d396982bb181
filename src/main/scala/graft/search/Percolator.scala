package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reverse search — the OpenSearch `percolate` query: REGISTERED queries
  * are the small side, DOCUMENTS stream through, and each document comes
  * back tagged with every registered query it matches. This is the
  * monitoring/alerting shape of the system the reference tool compares
  * (store the alert queries, percolate each arriving document), and the
  * natural companion to the replayer pipeline: "which saved searches
  * does this response body hit?"
  *
  * Scale shape: ONE narrow map-side pass. The registered query set is
  * query-scale (like every query-set structure here), so its inverted
  * term→queries map rides to executors as a broadcast variable (shipped
  * once per executor, torrent-distributed — not per task) and is bounded
  * by [[Percolator.MaxRegistryEntries]]; each doc's
  * distinct tokens probe the map and tally per-query matched-term counts.
  * No shuffle, no join, no state — which also makes it a valid Structured
  * Streaming transform verbatim (stateless narrow ops pass through
  * `readStream` unchanged; PercolatorSpec pins batch ≡ streaming).
  * The alternative spelling — explode tokens, broadcast-join the query
  * terms, groupBy (doc, query) — shuffles one row per matched token and
  * is strictly worse at corpus scale.
  *
  * A Scala UDF is the right altitude here: counting map-probe hits per
  * query inside one array traversal has no codegen'd built-in spelling
  * that avoids the explode+shuffle above (the HOF alternative needs a
  * per-query aggregate inside the array — quadratic in |queries|).
  */
object Percolator {

  /** One numeric metadata clause of a registered query — the Lucene
    * `field:[min TO max]` range, half-open bounds via the inclusive
    * flags, `None` = unbounded on that side. A document whose field is
    * NULL (missing metadata) never matches a range on it, mirroring
    * OpenSearch range-query semantics for absent fields. */
  case class NumericRange(field: String,
                          min: Option[Double] = None,
                          max: Option[Double] = None,
                          minInclusive: Boolean = true,
                          maxInclusive: Boolean = true) {
    require(min.nonEmpty || max.nonEmpty, s"unbounded range on $field")
    require(min.forall(m => max.forall(x =>
      m < x || (m == x && minInclusive && maxInclusive))),
      s"empty range on $field: $this")
    def contains(v: Double): Boolean =
      min.forall(m => if (minInclusive) v >= m else v > m) &&
        max.forall(x => if (maxInclusive) v <= x else v < x)
  }

  object NumericRange {
    private val Syntax =
      """([A-Za-z_][A-Za-z0-9_]*):([\[{])\s*(\S+)\s+TO\s+(\S+)\s*([\]}])""".r

    /** Parse the Lucene range spelling: `dl:[40 TO 200]` (inclusive),
      * `dl:{40 TO 200}` (exclusive), `*` for an open side. Loud on
      * malformed input — a registry entry is configuration, not data,
      * so skip-and-log does not apply. */
    def parse(s: String): NumericRange = s.trim match {
      case Syntax(field, lb, lo, hi, rb) =>
        def side(v: String): Option[Double] =
          if (v == "*") None
          else Some(try v.toDouble catch {
            case _: NumberFormatException =>
              throw new IllegalArgumentException(
                s"non-numeric range bound '$v' in '$s'")
          })
        NumericRange(field, side(lo), side(hi),
          minInclusive = lb == "[", maxInclusive = rb == "]")
      case other => throw new IllegalArgumentException(
        s"malformed range clause '$other' (expected field:[lo TO hi])")
    }
  }

  /** A registered percolator query: term clauses (the inverted-map
    * probe) plus optional numeric metadata clauses plus optional PHRASE
    * clauses (match_phrase, slop 0: the words must appear contiguously,
    * in order, in the document's token stream), ALL of which must hold.
    * `terms` may be empty when `ranges` or `phrases` is not — a pure
    * metadata alert ("any doc with dl > 10000") or a pure phrase alert.
    * Each phrase is pre-analyzed words in order (analyze with the same
    * chain as the document tokens, like `terms`). */
  case class Registered(terms: Array[String] = Array.empty,
                        ranges: Seq[NumericRange] = Nil,
                        phrases: Seq[Seq[String]] = Nil) {
    require(terms.nonEmpty || ranges.nonEmpty || phrases.nonEmpty,
      "a registered query needs at least one term, range, or phrase clause")
    require(phrases.forall(_.size >= 2),
      "a phrase clause needs >= 2 words (use a term clause for one word)")
  }

  /** Hard bound on the registry's total (term, query) registration
    * entries. The inverted map is driver-built and executor-resident —
    * at ~40 bytes/entry the default caps it near 200 MB, comfortably
    * inside executor memory but far beyond any plausible saved-search
    * registry (OpenSearch percolator indexes rarely exceed 10^5 queries).
    * Beyond this, register the queries as an indexed table and use the
    * explode + broadcast-join spelling instead — the registry is no
    * longer "the small side". Read per call (not cached) so tests can
    * shrink it via `graft.percolator.maxEntries`. */
  def MaxRegistryEntries: Int =
    sys.props.get("graft.percolator.maxEntries").map(_.toInt)
      .getOrElse(5000000)

  /** Match every document against every registered query.
    *
    * @param docs any DataFrame (batch OR streaming) with an id column and
    *             a tokens column
    * @param idCol document identity column name
    * @param tokensCol array<string> of the document's analyzed tokens —
    *                  pass the SAME analyzer used for the query terms
    *                  (e.g. [[graft.analyze.Tokenizer.tokens]] or
    *                  [[graft.ops.TextOps.simpleTokens]])
    * @param qTerms registered queries: query_id → DISTINCT analyzed terms
    * @param conjunctive false = OR (≥1 query term present), true = AND
    *                    (every query term present)
    * @return (<idCol>, query_id int, matched_terms int) — one row per
    *         (document, matching query); matched_terms counts the
    *         DISTINCT query terms present in the document */
  def percolate(docs: DataFrame, idCol: String, tokensCol: Column,
                qTerms: Map[Int, Array[String]],
                conjunctive: Boolean = false): DataFrame = {
    require(qTerms.values.forall(_.nonEmpty), "every query needs >= 1 term")
    percolateRegistered(docs, idCol, tokensCol,
      qTerms.map { case (q, ts) => q -> Registered(ts) }, conjunctive)
  }

  /** [[percolate]] generalized to [[Registered]] queries carrying
    * optional numeric metadata clauses (`dl:[40 TO 200]`) and optional
    * match_phrase clauses: a query matches when its term condition
    * holds (every/any registered term present, vacuously true for a
    * term-less query) AND every range clause accepts the document's
    * field value AND every phrase appears contiguously in order in the
    * token stream. Same scale shape — ranges and phrases ride inside
    * the one broadcast, the referenced numeric columns are packed into
    * one array column, phrase words probe their own inverted map so the
    * O(dl) positional scan runs only for fully-word-covered candidates,
    * and the single map-side UDF pass stays shuffle-free and
    * streaming-valid. */
  def percolateRegistered(docs: DataFrame, idCol: String, tokensCol: Column,
                          queries: Map[Int, Registered],
                          conjunctive: Boolean = false): DataFrame = {
    require(queries.nonEmpty, "need at least one registered query")
    val nEntries = queries.valuesIterator
      .map(q => q.terms.distinct.length.toLong + q.ranges.size +
        q.phrases.flatten.distinct.size).sum
    require(nEntries <= MaxRegistryEntries,
      s"percolator registry has $nEntries (term, query) entries, above the " +
      s"executor-residency bound $MaxRegistryEntries — register the queries " +
      "as an indexed table and join instead")
    // inverted registration: term -> queries asking for it; query -> #terms
    // needed to match. Both are query-scale; broadcast (not closure-
    // captured) so a large registry ships once per executor, not per task.
    val termQ: Map[String, Array[Int]] =
      Wand.termQueries(queries.map { case (qid, q) => qid -> q.terms })
    val need: Map[Int, Int] = queries.map { case (q, r) =>
      q -> (if (r.terms.isEmpty) 0
            else if (conjunctive) r.terms.distinct.length else 1)
    }
    // phrase candidacy rides the same inverted-probe pass: a phrase can
    // only match when ALL its distinct words are present, so phrase
    // words register in their own word -> queries map and the O(dl)
    // positional scan runs only for fully-covered candidates
    val phraseTermQ: Map[String, Array[Int]] =
      Wand.termQueries(queries.map { case (qid, q) => qid -> q.phrases.flatten.toArray })
    val pneed: Map[Int, Int] =
      queries.map { case (q, r) => q -> r.phrases.flatten.distinct.size }
    val phrasesByQ: Map[Int, Array[Array[String]]] =
      queries.collect { case (q, r) if r.phrases.nonEmpty =>
        q -> r.phrases.map(_.toArray).toArray
      }
    // term-less, phrase-less queries are probed for EVERY document (no
    // word to hang them on in either map) — registry-scale, flat array
    val termless: Array[Int] =
      queries.collect { case (q, r) if r.terms.isEmpty && r.phrases.isEmpty => q }
        .toArray.sorted
    // the distinct numeric fields any range references, in one stable
    // order shared by the packed array column and the clause index
    val fields: Array[String] =
      queries.valuesIterator.flatMap(_.ranges.map(_.field)).toArray.distinct.sorted
    val rangesByQ: Map[Int, Array[(Int, NumericRange)]] =
      queries.collect { case (q, r) if r.ranges.nonEmpty =>
        q -> r.ranges.map(c => (fields.indexOf(c.field), c)).toArray
      }
    val regB = docs.sparkSession.sparkContext
      .broadcast((termQ, need, termless, rangesByQ, phraseTermQ, pneed, phrasesByQ))
    val matchU = udf { (toks: Seq[String], fv: Seq[java.lang.Double]) =>
      val (termQL, needL, termlessL, rangesL, pTermQL, pneedL, phrasesL) = regB.value
      def rangesOk(q: Int): Boolean = rangesL.get(q).forall(_.forall {
        case (fi, clause) =>
          val v = fv(fi)
          v != null && clause.contains(v.doubleValue())
      })
      // slop-0 phrase match ([[Golden.chainMatch]]); runs only for
      // candidates whose phrase words are ALL present, so the O(dl) cost
      // is rare
      lazy val toksI = if (toks == null) null else toks.toIndexedSeq
      def phrasesOk(q: Int): Boolean =
        phrasesL.get(q).forall(_.forall(p => Golden.chainMatch(toksI, p, 0)))
      val counts = scala.collection.mutable.HashMap.empty[Int, Int]
      val pcounts = scala.collection.mutable.HashMap.empty[Int, Int]
      val seen = scala.collection.mutable.HashSet.empty[String]
      if (toks != null) toks.foreach { t =>
        if (seen.add(t)) {
          termQL.get(t) match {
            case Some(qids) =>
              var i = 0
              while (i < qids.length) {
                counts.update(qids(i), counts.getOrElse(qids(i), 0) + 1)
                i += 1
              }
            case None => ()
          }
          pTermQL.get(t) match {
            case Some(qids) =>
              var i = 0
              while (i < qids.length) {
                pcounts.update(qids(i), pcounts.getOrElse(qids(i), 0) + 1)
                i += 1
              }
            case None => ()
          }
        }
      }
      termlessL.foreach(q => counts.getOrElseUpdate(q, 0))
      // a phrase-only query (no term clauses) becomes a candidate once
      // its phrase words are fully covered
      pcounts.foreach { case (q, c2) =>
        if (needL(q) == 0 && c2 == pneedL(q)) counts.getOrElseUpdate(q, 0)
      }
      counts.iterator
        .filter { case (q, c) => c >= needL(q) &&
          pcounts.getOrElse(q, 0) == pneedL(q) && rangesOk(q) && phrasesOk(q) }
        .map { case (q, c) => (q, c) }
        .toSeq.sortBy(_._1)
    }
    val packed =
      if (fields.isEmpty) array().cast("array<double>")
      else array(fields.toIndexedSeq.map(f => col(f).cast("double")): _*)
    docs.select(col(idCol), explode(matchU(tokensCol, packed)).as("m"))
      .select(col(idCol), col("m._1").as("query_id"),
        col("m._2").as("matched_terms"))
  }
}
