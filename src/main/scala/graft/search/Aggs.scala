package graft.search

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.corpus.RefQuery
import graft.table.{Snapshot, SnapshotCatalog, Tables}
import Wand.{analyzerOf, matchedOrds, matchedValues, perQuery, scoredMatchSet, topKPerQuery,
  withDocmap}

/** The aggregations (the OpenSearch `aggs` family) over each query's
  * exact live match set: bucket, metric and pipeline aggregations, top
  * hits and the samplers. None touches the WAND kernel: each reads the
  * slim (query_id, shard, ord) match set of [[Wand.matchedOrds]] (or the
  * exact scores of [[Wand.scoredMatchSet]]), attaches docmap columns with
  * [[Wand.withDocmap]] and reduces map-side; API-total aggregations pad
  * every query through [[Wand.perQuery]]. */
object Aggs {

  /** A count column a padded (query-absent) row reports as 0. */
  private def orZero(c: String): Column = coalesce(col(c), lit(0L)).as(c)

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
                          facetCol: String, conjunctive: Boolean = false): DataFrame =
    matchedValues(spark, snap, queries, conjunctive, col(facetCol).as("facet"))
      .groupBy("query_id", "facet").agg(count(lit(1)).as("doc_count"))

  /** Total-hit counts (the OpenSearch `_count` API): the number of LIVE
    * docs matching each query — at least one term in OR mode, every term
    * in conjunctive mode. Same slim-triple derivation as [[facetCounts]]
    * but with no docmap join at all; queries matching nothing are
    * included with doc_count 0 (API totality).
    * @return (query_id int, doc_count long) */
  def matchCountsSnapshot(spark: SparkSession, snap: Snapshot, queries: Seq[RefQuery],
                          conjunctive: Boolean = false): DataFrame = {
    val counts = matchedOrds(spark, snap, queries, conjunctive)
      .groupBy("query_id").agg(count(lit(1)).as("doc_count"))
    perQuery(spark, queries, None, counts).select(col("query_id"), orZero("doc_count"))
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
    val agg = matchedValues(spark, snap, queries, conjunctive, col(valueCol).cast("double").as("v"))
      .groupBy("query_id").agg(count(lit(1)).as("doc_count"),
        min(col("v")).as("min_v"), max(col("v")).as("max_v"),
        sum(col("v")).as("sum_v"), avg(col("v")).as("avg_v"))
    perQuery(spark, queries, None, agg).select(col("query_id"), orZero("doc_count"),
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
    val vals = matchedValues(spark, snap, queries, conjunctive,
        col(fieldCol).cast("string").as("s"))
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
    perQuery(spark, queries, None, lens, ent).select(col("query_id"), orZero("doc_count"),
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
    val pctFn =
      if (approx) s"percentile_approx(v, array(${pcts.mkString(", ")}), 10000)"
      else s"percentile(v, array(${pcts.mkString(", ")}))"
    val agg = matchedValues(spark, snap, queries, conjunctive, col(valueCol).cast("double").as("v"))
      .groupBy("query_id")
      .agg(count(lit(1)).as("doc_count"),
        expr(pctFn).as("vals"))
      .select(col("query_id"), col("doc_count"), posexplode(col("vals")))
      .withColumnRenamed("pos", "pct_pos").withColumnRenamed("col", "value")
    val pctDf = pcts.zipWithIndex.map { case (p, i) => (i, p) }
      .toDF("pct_pos", "pct")
    perQuery(spark, queries, Some(pctDf), agg)
      .select(col("query_id"), col("pct"), orZero("doc_count"), col("value"))
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
    val pctFn =
      if (approx) "percentile_approx(v, array(0.25, 0.5, 0.75), 10000)"
      else "percentile(v, array(0.25, 0.5, 0.75))"
    val vals = matchedValues(spark, snap, queries, conjunctive,
        col(valueCol).cast("double").as("v"))
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
    val va = when(col("in_a"), col("v"))
    val vb = when(col("in_b"), col("v"))
    val agg = matchedValues(spark, snap, queries, conjunctive,
        col(valueCol).cast("double").as("v"), filterA.as("in_a"), filterB.as("in_b"))
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
    perQuery(spark, queries, None, agg).select(col("query_id"), orZero("n_a"), orZero("n_b"),
      when(ok, tStat).as("t_stat"), when(ok, dof).as("df"))
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
    val agg = matchedValues(spark, snap, queries, conjunctive,
        expr(valueCol).cast("double").as("v"), expr(weightCol).cast("double").as("w"))
      .groupBy("query_id").agg(count(lit(1)).as("doc_count"),
        (sum(col("v") * col("w")) / sum(col("w"))).as("weighted_avg"))
    perQuery(spark, queries, None, agg)
      .select(col("query_id"), orZero("doc_count"), col("weighted_avg"))
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
    val vals = matchedValues(spark, snap, queries, conjunctive,
        expr(valueCol).cast("double").as("v"))
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
      val out = perQuery(spark, queries, None, agg)
        .select(col("query_id"), orZero("doc_count"), col("mad"))
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
    val agg = matchedValues(spark, snap, queries, conjunctive,
        col(facetCol).as("facet"), col(valueCol).cast("double").as("v"))
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
    val joined = matchedValues(spark, snap, queries, conjunctive)
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
    val agg = matchedValues(spark, snap, queries, conjunctive, col(valueCol).cast("double").as("v"))
      .groupBy("query_id").agg(count(lit(1)).as("doc_count"),
        sum(col("v")).as("sum_v"), sum(col("v") * col("v")).as("sum_sq"),
        avg(col("v")).as("avg_v"), var_pop(col("v")).as("var_v"),
        stddev_pop(col("v")).as("std_v"))
    perQuery(spark, queries, None, agg).select(col("query_id"), orZero("doc_count"),
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
    val probeAggs = values.zipWithIndex.map { case (x, i) =>
      sum(when(col("v") <= lit(x), 1L).otherwise(0L)).as(s"le_$i") }
    val agg = matchedValues(spark, snap, queries, conjunctive, col(valueCol).cast("double").as("v"))
      .groupBy("query_id")
      .agg(count(lit(1)).as("doc_count"), probeAggs: _*)
    val probeDf = values.zipWithIndex.map { case (x, i) => (i, x) }
      .toDF("probe_pos", "value")
    val long = agg.select(col("query_id"), col("doc_count"),
      posexplode(array(values.indices.map(i => col(s"le_$i")): _*)))
      .withColumnRenamed("pos", "probe_pos").withColumnRenamed("col", "le")
    perQuery(spark, queries, Some(probeDf), long).select(col("query_id"), col("value"),
      orZero("doc_count"), (lit(100.0) * col("le") / col("doc_count")).as("pct_rank"))
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
    val matched = matchedValues(spark, snap, queries, conjunctive,
      col(facetCol).cast("string").as("facet"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("facet").asc)
    afterKey.fold(matched)(a => matched.filter(col("facet") > lit(a)))
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
    facetCountsSnapshot(spark, snap, queries, facetCol, conjunctive)
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
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("doc_count").desc +: keyCols.map(c => col(c).asc): _*)
    matchedValues(spark, snap, queries, conjunctive, keyCols.map(col): _*)
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
    * Scale shape: the [[derivativeAggSnapshot]] discipline — the metric
    * SUM is one more partial-aggregable pass over the histogram's own
    * matched values (one match-set pass), then driver-free column math
    * over maxBuckets-bounded rows.
    * @return (query_id int, key double, doc_count long, metric double,
    *          script double) */
  def bucketScriptAggSnapshot(spark: SparkSession, snap: Snapshot,
                              queries: Seq[RefQuery], valueCol: String,
                              interval: Double, metricCol: String,
                              script: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column,
                              conjunctive: Boolean = false,
                              maxBuckets: Int = 65536): DataFrame = {
    val (vals, buckets) = histogram(spark, snap, queries, valueCol, interval, conjunctive,
      maxBuckets, col(metricCol).cast("double").as("mv"))
    val metric = vals.groupBy("query_id", "bidx").agg(sum(col("mv")).as("metric"))
    buckets.join(metric, Seq("query_id", "bidx"), "left")
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
    // ordered full frame: the window folds each query's buckets in key
    // order, so avg / stddev_pop are bit-stable across shuffle layouts
    val w = Window.partitionBy(col("query_id")).orderBy(col("key"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
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
    val (vals, buckets) = histogram(spark, snap, queries, valueCol, interval, conjunctive,
      maxBuckets, col(field).as("fv"))
    val firstSeen = vals
      .filter(col("fv").isNotNull) // a missing field never counts (OpenSearch)
      .groupBy("query_id", "fv").agg(min(col("bidx")).as("bidx"))
      .groupBy("query_id", "bidx").agg(count(lit(1)).as("new_values"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("key").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    buckets.join(firstSeen, Seq("query_id", "bidx"), "left")
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
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("avg_v").desc, col("facet").asc)
    matchedValues(spark, snap, queries, conjunctive,
        col(facetCol).cast("string").as("facet"), col(metricCol).cast("double").as("v"))
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
    facetCountsSnapshot(spark, snap, queries, facetCol, conjunctive)
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
    val agg = facetCountsSnapshot(spark, snap, queries, facetCol, conjunctive)
      .groupBy("query_id")
      .agg(count(lit(1)).as("bucket_count"),
        expr(s"percentile(doc_count, array(${pcts.mkString(", ")}))").as("vals"))
      .select(col("query_id"), col("bucket_count"), posexplode(col("vals")))
      .withColumnRenamed("pos", "pct_pos").withColumnRenamed("col", "value")
    val pctDf = pcts.zipWithIndex.map { case (p, i) => (i, p) }
      .toDF("pct_pos", "pct")
    perQuery(spark, queries, Some(pctDf), agg)
      .select(col("query_id"), col("pct"), orZero("bucket_count"), col("value"))
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
    val vals = matchedValues(spark, snap, queries, conjunctive,
        expr(valueCol).cast("double").as("v"))
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
    val matched = matchedValues(spark, snap, queries, conjunctive, col("doc_id"),
      expr(sortCol).cast("double").as("sort_value"), expr(metricCol).cast("double").as("metric"))
    // Docs whose sort expression is null are SKIPPED (the OpenSearch
    // top_metrics missing-field rule) — without the filter Spark's
    // nulls-first asc would hand them the top slots while desc buries
    // them, an asymmetry no caller wants
    topKPerQuery(matched.filter(col("sort_value").isNotNull), size, Seq("query_id"),
        if (ascending) col("sort_value").asc else col("sort_value").desc)
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
    val buckets = facetCountsSnapshot(spark, snap, queries, facetCol, conjunctive)
      .withColumn("facet", col("facet").cast("string"))
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
    * Scale shape: ONE extra [[Wand.matchedOrds]] pass evaluates all named
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
    val full = perQuery(spark, queries, Some(broadcast(names)), inBuckets)
      .select(col("query_id"), col("filter"), orZero("doc_count"))
    val other = matched
      .join(fMatched.select("shard", "ord").distinct(),
        Seq("shard", "ord"), "left_anti")
      .groupBy("query_id").agg(count(lit(1)).as("doc_count"))
    val otherFull = perQuery(spark, queries, None, other)
      .select(col("query_id"), lit("_other_").as("filter"), orZero("doc_count"))
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
    matchedValues(spark, snap, queries, conjunctive,
        expr(xCol).cast("double").as("x"), expr(yCol).cast("double").as("y"))
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
    val cardFn =
      if (approx) approx_count_distinct(col("v"))
      else count_distinct(col("v"))
    val agg = matchedValues(spark, snap, queries, conjunctive, col(colName).as("v"))
      .groupBy("query_id").agg(cardFn.as("cardinality"))
    perQuery(spark, queries, None, agg).select(col("query_id"), orZero("cardinality"))
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
    val v = col(valueCol).cast("double")
    // bucket index = number of bounds ≤ v (a sum of codegen'd comparisons —
    // |bounds| is small by API design, like OpenSearch's ranges list)
    val bucketExpr = bounds.map(b => when(v >= lit(b), 1).otherwise(0))
      .reduce(_ + _)
    val agg = matchedValues(spark, snap, queries, conjunctive, bucketExpr.as("bucket"))
      .groupBy("query_id", "bucket").agg(count(lit(1)).as("doc_count"))
    val lows = (null.asInstanceOf[java.lang.Double] +: bounds.map(Double.box))
    val highs = (bounds.map(Double.box) :+ null.asInstanceOf[java.lang.Double])
    val bucketDf = lows.indices
      .map(i => (i, lows(i), highs(i))).toDF("bucket", "lo", "hi")
    perQuery(spark, queries, Some(bucketDf), agg).select(col("query_id"), col("bucket"),
      col("lo"), col("hi"), orZero("doc_count"))
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
                           maxBuckets: Int = 65536): DataFrame =
    histogram(spark, snap, queries, valueCol, interval, conjunctive, maxBuckets)._2
      .select("query_id", "key", "doc_count")

  /** [[histogramAggSnapshot]] over ONE match-set pass whose values may
    * carry `extra` docmap columns for a pipeline metric.
    * @return the (shard, ord, query_id, bidx, extra…) values and their
    *         gap-filled (query_id, key, doc_count, bidx) buckets */
  private def histogram(spark: SparkSession, snap: Snapshot, queries: Seq[RefQuery],
                        valueCol: String, interval: Double, conjunctive: Boolean,
                        maxBuckets: Int, extra: Column*): (DataFrame, DataFrame) = {
    require(interval > 0.0 && !interval.isInfinite,
      s"interval must be a positive finite number: $interval")
    require(maxBuckets > 0, s"maxBuckets must be positive: $maxBuckets")
    val vals = matchedValues(spark, snap, queries, conjunctive,
      floor(col(valueCol).cast("double") / lit(interval)).cast("long").as("bidx") +: extra: _*)
    val agg = vals.groupBy("query_id", "bidx").agg(count(lit(1)).as("doc_count"))
    val spans = agg.groupBy("query_id")
      .agg(min("bidx").as("lo_idx"), max("bidx").as("hi_idx"))
      .withColumn("lo_idx", when(
        col("hi_idx") - col("lo_idx") >= lit(maxBuckets.toLong),
        raise_error(concat(lit(s"histogram would gap-fill more than " +
          s"$maxBuckets buckets for query_id="), col("query_id"),
          lit("; raise the interval or maxBuckets")))
          .cast("long")).otherwise(col("lo_idx")))
    (vals, spans.select(col("query_id"),
        explode(sequence(col("lo_idx"), col("hi_idx"))).as("bidx"))
      .join(agg, Seq("query_id", "bidx"), "left")
      .select(col("query_id"), (col("bidx").cast("double") * lit(interval)).as("key"),
        orZero("doc_count"), col("bidx")))
  }

  /** Top-hits aggregation (the OpenSearch `top_hits` metric inside a
    * `terms` bucket agg): for each query and each metadata bucket of the
    * live match set, the top `n` hits by full BM25 score. Unlike
    * [[Wand.search]], WAND pruning cannot apply — every bucket needs ITS best
    * docs, and a bucket's winners can score arbitrarily low globally —
    * so the full match set is scored EXACTLY: decoded per-term
    * contributions are summed in the engine-wide ascending-term order
    * ([[Golden.sumSorted]], the shared bit-identity-critical piece), so
    * scores are bit-identical to what [[Wand.search]]/[[Golden.topK]] assign
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
    val scored = withDocmap(spark, snap, scoredMatchSet(spark, snap, queries, conjunctive),
      col("doc_id"), col(bucketCol).cast("string").as("facet"))
    // per-(query, facet) top-n: the shard pre-cut keeps one dominant facet
    // value from collecting its whole match set in ONE window partition
    topKPerQuery(scored, n, Seq("query_id", "facet"), col("score").desc)
      .select("query_id", "facet", "rank", "doc_id", "score")
  }

  /** Sampler aggregation (the OpenSearch `sampler` bucket agg): the
    * sub-aggregation sees only the best-scoring `sampleSize` hits of the
    * match set, here a `terms` sub-agg over a docmap field. Deterministic
    * global contract (the documented divergence from OpenSearch's
    * per-shard `shard_size` cut, which depends on routing): the sample is
    * the global top-`sampleSize` under (score desc, doc_id asc) — exactly
    * the cut an ANSI-SQL oracle can replay. Scores are the exact
    * [[Golden.sumSorted]] sums (WAND pruning can't apply: the sample cut
    * needs the full match-set order, same as [[Wand.collapseSearchSnapshot]]).
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
    val hits = withDocmap(spark, snap, scoredMatchSet(spark, snap, queries, conjunctive),
      Seq(col("doc_id"), col(field).cast("string").as("value")) ++
        (if (diversifyField == null) Nil
         else Seq(col(diversifyField).cast("string").as("div_key"))): _*)
    val diversified =
      if (diversifyField == null) hits
      else {
        val wDiv = Window.partitionBy(col("query_id"), col("div_key"))
          .orderBy(col("score").desc, col("doc_id").asc)
        hits.withColumn("dr", row_number().over(wDiv))
          .filter(col("dr") <= maxDocsPerValue).drop("dr")
      }
    topKPerQuery(diversified, sampleSize, Seq("query_id"), col("score").desc)
      .groupBy(col("query_id"), col("value"))
      .agg(count(lit(1)).as("doc_count"))
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
    val staged = Tables.staged(spark, dir)
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
    val bg = Tables.termstats(spark, snap.termstatsDir).select(col("term"), col("df"))
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
    val fg0 = matchedValues(spark, snap, queries, conjunctive, col("doc_id"))
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
}
