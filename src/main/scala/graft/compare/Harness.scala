package graft.compare

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.corpus.RefQuery
import graft.search.{Golden, Wand}
import graft.table.{Snapshot, Tables}

/** The engine-vs-engine comparison harness — the reference's pairwise
  * response-diff discipline transplanted: golden exact scorer = "primary
  * cluster", block-max WAND = "shadow cluster", a full-outer join on
  * (query_id, rank) = the matched pair, and diff-kind labels generalizing
  * the reference's dictionary_item_added/removed & values_changed
  * taxonomy (README "Understanding the output") to ranked result lists.
  */
object Harness {

  /** Join golden and fast top-k; label each rank row.
    * kinds: identical | score_changed | doc_changed |
    *        rank_missing_in_fast (≙ dictionary_item_removed) |
    *        rank_only_in_fast   (≙ dictionary_item_added) */
  def compare(golden: DataFrame, fast: DataFrame, scoreEps: Double = 0.0): DataFrame = {
    val g = golden.select(col("query_id"), col("rank"),
      col("doc_id").as("golden_doc"), col("score").as("golden_score"))
    val f = fast.select(col("query_id"), col("rank"),
      col("doc_id").as("fast_doc"), col("score").as("fast_score"))
    g.join(f, Seq("query_id", "rank"), "full_outer")
      .withColumn("kind",
        when(col("fast_doc").isNull, lit("rank_missing_in_fast"))
          .when(col("golden_doc").isNull, lit("rank_only_in_fast"))
          .when(col("golden_doc") =!= col("fast_doc"), lit("doc_changed"))
          .when(abs(col("golden_score") - col("fast_score")) > scoreEps,
            lit("score_changed"))
          .otherwise(lit("identical")))
      .withColumn("identical", col("kind") === "identical")
  }

  /** Doc identities with NO row in the `live` docmap (see
    * [[Tables.live]]) — tombstoned and never re-indexed. Both harness
    * entry points mask THESE rather than raw tombstoned ids: after an
    * [[graft.index.IndexBuilder.upsert]] the old row is tombstoned but the
    * identity is live again under a new (shard, ord), and the golden side
    * must keep scoring it (with the new content the caller's corpus
    * carries). */
  private def deadIds(spark: SparkSession, snap: Snapshot,
                      live: => DataFrame): Option[DataFrame] =
    if (snap.tombstoneDirs.isEmpty) None
    else Some(Tables.tombstones(spark, snap.tombstoneDirs).select("doc_id").distinct()
      .join(live.select("doc_id"), Seq("doc_id"), "left_anti"))

  /** Run both engines over the same query set and compare. The golden side
    * applies the index builder's bad-row filter first — otherwise a corpus
    * with null/empty rows gives golden a different N/avgdl than the index
    * (the builder dead-letters those rows) and every score mismatches.
    * Tombstoned docs are likewise excluded from the golden corpus: the
    * index masks them at query time, so golden must score survivors only. */
  def replay(spark: SparkSession, snap: Snapshot, corpus: DataFrame,
             queries: Seq[RefQuery], k: Int, scoreEps: Double = 0.0): DataFrame = {
    val docs0 = corpus.filter(!graft.index.IndexBuilder.isBadRow)
      .select(graft.index.IndexBuilder.docIdCol.as("doc_id"), col("content"))
    val docs = deadIds(spark, snap,
        Tables.live(spark, snap, Tables.docmap(spark, snap)))
      .map(t => docs0.join(t, Seq("doc_id"), "left_anti")).getOrElse(docs0)
    // golden analyzes with the SNAPSHOT's chain — the harness must not
    // diverge from the index on the first stopword/stem
    val golden = Golden.topK(spark, docs, queries, k,
      analyzer = Wand.analyzerOf(snap))
    val fast = Wand.searchSnapshot(spark, snap, queries, k)
    compare(golden, fast, scoreEps)
  }

  /** A1/A2 analog over rank rows. */
  def correctness(cmp: DataFrame): CorrectnessStats = {
    val row = cmp.agg(count(lit(1)),
      coalesce(sum(when(col("identical"), 1L).otherwise(0L)), lit(0L)),
      coalesce(sum(when(col("golden_doc") === col("fast_doc"), 1L).otherwise(0L)), lit(0L))
    ).head()
    CorrectnessStats(row.getLong(0), row.getLong(1), row.getLong(2))
  }

  /** DiffReport-style text for rank mismatches (K3 analog). */
  def diffReportText(cmp: DataFrame, maxMismatches: Int = 50): String = {
    val c = correctness(cmp)
    val sb = new StringBuilder
    sb.append(f"${c.total} rank rows, ${c.identical} identical " +
      f"(${c.identicalRate * 100}%.2f%%), doc match ${c.statusMatchRate * 100}%.2f%%\n")
    cmp.filter(!col("identical")).orderBy("query_id", "rank")
      .limit(maxMismatches).collect().foreach { r =>
        sb.append(s"  q=${r.getAs[Any]("query_id")} rank=${r.getAs[Any]("rank")} " +
          s"kind=${r.getAs[String]("kind")} golden=${r.getAs[String]("golden_doc")}/" +
          s"${r.getAs[Any]("golden_score")} fast=${r.getAs[String]("fast_doc")}/" +
          s"${r.getAs[Any]("fast_score")}\n")
      }
    sb.toString
  }

  /** Per-row invariant vs the source table: every indexed document's
    * stored sha256(content) must equal a fresh sha256 over the source
    * (north rule / input_hint). Returns the violating rows (expect 0). */
  def shaViolations(spark: SparkSession, snap: Snapshot, corpus: DataFrame): DataFrame = {
    val docmap = Tables.live(spark, snap, Tables.docmap(spark, snap)
      .select(col("shard"), col("ord"), col("doc_id"), col("sha256")))
    // same bad-row filter as replay(): dead-lettered rows have no docmap
    // entry BY DESIGN — without the filter they'd surface as full-outer
    // rows with a null sha and be miscounted as violations. The docmap
    // side keeps LIVE rows only (tombstones are keyed by (shard, ord), so
    // an upserted identity's old row drops while its new row is checked);
    // the source side masks dead IDENTITIES only (their source rows are
    // deleted; an upserted identity stays and must match its live row).
    val src0 = corpus.filter(!graft.index.IndexBuilder.isBadRow)
      .select(graft.index.IndexBuilder.docIdCol.as("doc_id"),
        sha2(col("content"), 256).as("expected_sha"))
    val src = deadIds(spark, snap, docmap)
      .map(d => src0.join(d, Seq("doc_id"), "left_anti")).getOrElse(src0)
    docmap.join(src, Seq("doc_id"), "full_outer")
      .filter(col("sha256").isNull || col("expected_sha").isNull ||
        col("sha256") =!= col("expected_sha"))
  }
}
