package graft.search

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.corpus.RefQuery
import graft.table.{Snapshot, Tables}

/** The OpenSearch `nested` query + `inner_hits` — the nested-DOCUMENT
  * model (arrays of objects scored per nested object), the other half
  * of the join story next to has_child/has_parent (the join-FIELD
  * model, `Wand.hasChildSearchSnapshot`).
  *
  * Model: each nested object is indexed as its own row in the SAME
  * index as its parent — exactly Lucene's block-join layout, where
  * nested docs are real segment documents, so BM25 df/avgdl/N include
  * them (like Lucene). `nestedFilter` marks the hidden rows over the
  * docmap's metadata columns, `nestedParentKey` is the hidden parent
  * pointer each nested row carries, and `parentFilter` / `parentKey`
  * identify the visible parent docs (the has_child column convention;
  * reference model: OpenSearch nested field type + inner_hits).
  *
  * Semantics: the inner query scores NESTED rows only; each parent
  * folds its matching nested docs' scores by `scoreMode` (`avg` — the
  * OpenSearch nested default — `sum`/`min`/`max`/`none`) through the
  * ONE shared [[Wand.hasChildCombined]] fold (sum/avg fold in
  * ascending nested-doc order via Golden.sumSorted), so the golden
  * twin is bit-identical by construction. `inner_hits` attaches each
  * surviving parent's top `innerHitsK` nested hits, ranked score desc
  * / doc_id asc (the engine's standard tiebreak), exploded to one
  * output row per inner hit.
  *
  * Scale shape: ONE engine pass scores the inner query's live match
  * set (tombstones subtracted at posting decode); nested hits move as
  * slim (query_id, pkey, nested_id, score) rows; the per-parent fold
  * AND the per-parent inner-hits top-K are collected in the SAME
  * map-side-partial aggregation (inner_hits never costs a second
  * engine pass); the parent resolve is an equi-join against the live
  * parent docmap slice; and the per-(query, parent-hash-bucket)
  * pre-cut bounds the global rank window to ≤ 64k rows. The inner
  * arrays that survive to the explode belong to ≤ k parents per query
  * — nothing document-sized shuffles or windows globally.
  */
object Nested {

  /** @return (query_id int, rank int, doc_id string [parent],
    *          score double, n_nested long, inner_rank int,
    *          nested_id string, inner_score double) — one row per
    *          inner hit of each top-k parent */
  def searchSnapshot(spark: SparkSession, snap: Snapshot,
                     queries: Seq[RefQuery], k: Int, scoreMode: String,
                     nestedFilter: Column, parentFilter: Column,
                     nestedParentKey: Column, parentKey: Column,
                     innerHitsK: Int = 3,
                     conjunctive: Boolean = false): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    require(innerHitsK > 0, s"innerHitsK must be positive: $innerHitsK")
    require(Wand.HasChildScoreModes(scoreMode),
      s"unknown nested score_mode: $scoreMode " +
        s"(${Wand.HasChildScoreModes.mkString("|")})")
    val nested = Wand.withDocmap(spark, snap, Wand.scoredMatchSet(spark, snap, queries,
        conjunctive), col("doc_id"), col("repo"), col("path"), col("commit"), col("lang"))
      .filter(nestedFilter)
      .select(col("query_id"), nestedParentKey.cast("string").as("pkey"),
        col("doc_id").as("child_id"), col("score"))
    val perParent = Wand.hasChildCombined(nested, scoreMode, innerHitsK)
    val parents = Tables.live(spark, snap, Tables.docmap(spark, snap).filter(parentFilter))
      .select(parentKey.cast("string").as("pkey"), col("doc_id"))
    Wand.topKByDocHash(perParent.join(parents, Seq("pkey")), k)
      .select(col("query_id"), col("rank"), col("doc_id"), col("score"),
        col("n_children").as("n_nested"), posexplode(col("inner")))
      .select(col("query_id"), col("rank"), col("doc_id"), col("score"),
        col("n_nested"), (col("pos") + 1).cast("int").as("inner_rank"),
        col("col")("child_id").as("nested_id"),
        col("col")("inner_score").as("inner_score"))
  }
}
