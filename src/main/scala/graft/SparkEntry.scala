package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.ops.{Dedup, Geo, Multimodal, Similarity, TextOps}

/** Driver contract — one entry per implemented operator family
  * (SURVEY.md §2 + the training-data ops), each with a DuckDB oracle where
  * ANSI SQL can express it. Column names and row ORDER match the oracle
  * exactly; every floating-point output is rounded so cross-engine ulp
  * noise cannot flip a hash.
  */
object SparkEntry {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Scratch root for oracle stages and per-query engine indexes.
    * Overridable (`-Dgraft.scratch.root=…` or `GRAFT_SCRATCH_ROOT`) so the
    * library relocates; the default preserves this sandbox's layout. */
  private[graft] val ScratchRoot: String =
    sys.props.get("graft.scratch.root")
      .orElse(sys.env.get("GRAFT_SCRATCH_ROOT"))
      .getOrElse("/root/repo/target")

  /** Side-table staging area for oracles that cannot re-derive a hash- or
    * tokenizer-dependent intermediate in ANSI SQL: the query stages the
    * intermediate as parquet (keyed by the sf dir name so concurrent
    * sf0.1 bench runs never clobber the sf0.01 correctness stage) and the
    * oracle reads it back via read_parquet. The VERIFIED part — banding
    * joins, pair generation, scoring, ranking — is recomputed
    * independently by DuckDB from the staged values. */
  private[graft] def stageDir(d: String): String =
    s"$ScratchRoot/verify_stage/${new java.io.File(d).getName}"

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q20_term_df")(spark, "/root/testdata/sf0.001")

  // shared tokenization with exact SQL parity (TextOps.simpleTokens)
  private def docToks(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents").select(col("doc_id"),
      explode(TextOps.simpleTokens(col("text"))).as("term"))

  val bm25QueryTerms: Seq[String] = Seq("spark", "query", "join")

  /** The documents table reshaped as the engine's SourceFile corpus —
    * shared by every engine query. */
  private def engineCorpus(s: SparkSession, d: String): org.apache.spark.sql.Dataset[graft.corpus.SourceFile] =
    t(s, d, "documents").select(
      col("source").as("repo"),
      col("doc_id").cast("string").as("path"),
      lit("main").as("commit"),
      col("lang"),
      col("text").as("content"))
      .as(org.apache.spark.sql.Encoders.product[graft.corpus.SourceFile])

  /** The "title" field of the engine corpus for multi_match: content
    * truncated to its first 120 chars — a deterministic second field of
    * the SAME logical documents (doc_id is identity-based, so the title
    * and body indexes align on doc_id). The same derivation feeds the
    * title index build AND the oracle's staged tokens. */
  private def titleFieldCorpus(s: SparkSession, d: String): org.apache.spark.sql.Dataset[graft.corpus.SourceFile] =
    engineCorpus(s, d).toDF()
      .withColumn("content", substring(col("content"), 1, 120))
      .as(org.apache.spark.sql.Encoders.product[graft.corpus.SourceFile])

  /** Parent-join corpus for has_child/has_parent (q140/q141): the engine
    * corpus as CHILDREN plus one deterministic PARENT doc per
    * (doc_id % 64) group, all in ONE index (the OpenSearch join-field
    * model). Roles split on repo; a child's parent key is
    * 3000000000 + (path % 64), the parent's path — both derivable in
    * the oracle's SQL, while parent content only needs to be
    * deterministic (the oracle rescores from staged tokens). */
  private val PcGroups = 64
  private def parentChildCorpus(s: SparkSession, d: String): org.apache.spark.sql.Dataset[graft.corpus.SourceFile] = {
    import s.implicits._
    val parents = (0 until PcGroups).map { g =>
      graft.corpus.SourceFile("parent", (3000000000L + g).toString, "main",
        "txt", s"group g$g " + ("spark " * (1 + g % 3)) +
          ("query " * (g % 4)) + "join")
    }
    engineCorpus(s, d).toDF().unionByName(parents.toDS().toDF())
      .as(org.apache.spark.sql.Encoders.product[graft.corpus.SourceFile])
  }

  /** Nested-document corpus (q169): the engine corpus as PARENTS plus
    * 1–3 deterministic NESTED rows per parent — overlapping slices of
    * the parent's own text — in ONE index (Lucene's block-join layout:
    * nested docs are real index documents, so BM25 stats include them).
    * A nested row's path is 4000000000 + parent*4 + slot, so both its
    * role (path ≥ 4e9) and its parent pointer ((path − 4e9) ÷ 4) are
    * derivable in the oracle's SQL; its content is derivable too
    * (substring), but the oracle only needs the staged tokens. */
  private def nestedCorpus(s: SparkSession, d: String): org.apache.spark.sql.Dataset[graft.corpus.SourceFile] = {
    val base = engineCorpus(s, d).toDF()
    val nested = base
      .withColumn("slot", explode(sequence(lit(0),
        pmod(col("path").cast("long"), lit(3)).cast("int"))))
      .withColumn("content", expr("substring(content, slot * 90 + 1, 120)"))
      .withColumn("path", (lit(4000000000L) + col("path").cast("long") * 4 +
        col("slot")).cast("string"))
      .withColumn("repo", lit("nested"))
      .drop("slot")
    base.unionByName(nested)
      .as(org.apache.spark.sql.Encoders.product[graft.corpus.SourceFile])
  }

  /** q167's analysis chain: stopwords only (no stemmer), so the DuckDB
    * oracle can replay the ENTIRE chain independently — it applies the
    * stop filter to the BARE staged tokens, recomputes dl/avgdl over the
    * filtered universe, and re-derives every BM25 ingredient. "data" is
    * deliberately a content word: stopping it must visibly change df and
    * scores, not just strip glue words. The stem half of the chain is
    * pinned by PorterSpec (official vocabulary) + AnalyzerEngineSpec
    * (golden/WAND bit-identity on a stemmed index) and oracle-checked
    * end-to-end by q168's staged-stem replay. */
  private[graft] val StopChainWords: Seq[String] = Seq("a", "data", "the")

  /** q170's polygon ((lat, lon) vertices) — concave: the notch vertex
    * (40, -80) pulls inward, so part of the vertex bounding box is
    * OUTSIDE the polygon and the ray cast is load-bearing (GeoSpec pins
    * the same shape against brute force). Shared by the Spark entry and
    * the oracle-SQL generator so both engines replay identical edge
    * constants. */
  private[graft] val GeoPolygonVertices: Seq[(Double, Double)] = Seq(
    (50.0, -100.0), (60.0, -60.0), (30.0, -50.0), (40.0, -80.0), (20.0, -110.0))

  /** DuckDB rendering of [[graft.ops.Geo.pointInPolygon]] over
    * [[GeoPolygonVertices]]: the same even/odd crossing sum, one CASE
    * per non-horizontal edge, with the edge slopes precomputed on the
    * driver exactly like the Column version (identical double
    * literals → bit-identical arithmetic on both sides). */
  private def geoPolygonSql(lat: String, lon: String): String = {
    val edges = GeoPolygonVertices.zip(
      GeoPolygonVertices.tail :+ GeoPolygonVertices.head)
    val terms = edges.collect { case ((y1, x1), (y2, x2)) if y1 != y2 =>
      val dx = x2 - x1
      val dy = y2 - y1
      s"(CASE WHEN (($y1 > $lat) <> ($y2 > $lat)) AND " +
        s"$lon < $dx * ($lat - $y1) / $dy + $x1 THEN 1 ELSE 0 END)"
    }
    s"(${terms.mkString(" + ")}) % 2 = 1"
  }

  /** q174's corpus: the engine corpus plus 5 byte-identical clones
    * (new paths), so filter_duplicate_text is load-bearing (the SigText
    * fixture). */
  private def sigtextCorpus(s: SparkSession, d: String): org.apache.spark.sql.Dataset[graft.corpus.SourceFile] = {
    val base = engineCorpus(s, d)
    base.unionByName(base.toDF()
      .filter(col("path").cast("long") < 5)
      .withColumn("path", (col("path").cast("long") + lit(900000L)).cast("string"))
      .as(org.apache.spark.sql.Encoders.product[graft.corpus.SourceFile]))
  }

  /** Engine corpus with `lang` nulled on every fifth doc — the exists/
    * missing filter target (q150). Doc identity is (repo, path, commit),
    * so ids are unchanged vs the unmodified corpus; only the optional
    * metadata field goes missing, like an OpenSearch doc without the
    * field. */
  private def existsCorpus(s: SparkSession, d: String): org.apache.spark.sql.Dataset[graft.corpus.SourceFile] =
    engineCorpus(s, d).toDF()
      .withColumn("lang", when(col("path").cast("long") % 5 === 0,
        lit(null: String)).otherwise(col("lang")))
      .as(org.apache.spark.sql.Encoders.product[graft.corpus.SourceFile])

  /** One battery engine fixture: a corpus derivation plus the analysis
    * chain and positions flag of the index built over it. The tag names
    * the index directory AND keys the oracle-staging memo, so a query's
    * index and the stage its oracle rescores from always come from the
    * same corpus. */
  private[graft] final case class Fixture(tag: String,
      corpus: (SparkSession, String) => org.apache.spark.sql.Dataset[graft.corpus.SourceFile],
      analyzer: graft.analyze.AnalyzerConfig = graft.analyze.AnalyzerConfig.default,
      positions: Boolean = false)

  /** The fixture registry: every read-only index the battery queries. */
  private[graft] object Fx {
    val Base = Fixture("base", engineCorpus)
    val Pos = Fixture("pos", engineCorpus, positions = true)
    /** q73/q149's two indexes over disjoint halves of the corpus */
    val MultA = Fixture("multa",
      (s, d) => engineCorpus(s, d).filter(col("path").cast("long") % 2 === 0))
    val MultB = Fixture("multb",
      (s, d) => engineCorpus(s, d).filter(col("path").cast("long") % 2 =!= 0))
    val Title = Fixture("title", titleFieldCorpus)
    val PcJoin = Fixture("pcjoin", parentChildCorpus)
    val Exists = Fixture("exists", existsCorpus)
    val StopChain = Fixture("stopchain", engineCorpus,
      graft.analyze.AnalyzerConfig(stopwords = StopChainWords.toSet))
    val StemChain = Fixture("stemchain", engineCorpus,
      graft.analyze.AnalyzerConfig(stopwords = StopChainWords.toSet, stem = true))
    val Nested = Fixture("nested", nestedCorpus)
    val SigText = Fixture("sigtext", sigtextCorpus)
    val Sayt = Fixture("sayt", engineCorpus,
      graft.analyze.AnalyzerConfig(edgeNgram = Some((2, 8))))
    val Shingle = Fixture("shingle", engineCorpus,
      graft.analyze.AnalyzerConfig(shingles = Some((2, 2))))
    val all: Seq[Fixture] = Seq(Base, Pos, MultA, MultB, Title, PcJoin, Exists,
      StopChain, StemChain, Nested, SigText, Sayt, Shingle)
  }

  /** A built fixture index: its committed snapshot and its directory. */
  private[graft] final case class Built(snap: graft.table.Snapshot, dir: String)

  /** Read-only engine queries share ONE immutable index per (sf dir,
    * fixture) — built on first use in this JVM, reused after. Rationale
    * (round-3 verdict): ~75% of the bench battery wall-time was repeated
    * IDENTICAL SPIMI builds, so a 2× regression in an actual query path
    * moved the total ~3% — the bench could no longer detect what it
    * exists to detect. Build determinism is pinned by EngineSpec, so a
    * shared index is bit-identical to a fresh one. Lifecycle queries
    * (delete/compact, upsert, update-/delete-by-query, mget-after-delete,
    * and q50 whose measured work IS the fresh build) pass a `lifecycle`
    * name and get a fresh build in their own dir on every call. Keyed by
    * the sf-dir NAME (hashCode could collide across paths and silently
    * reuse a stale committed index — build() early-returns on a complete
    * snapshot); every build deletes its dir first, so a leftover index
    * from an older code version can never serve queries. */
  private val builtIdx =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Built]

  private[graft] def engineIndex(s: SparkSession, d: String, fx: Fixture,
                                 lifecycle: String = ""): Built = {
    val sf = new java.io.File(d).getName
    def build(tag: String): Built = {
      val dir = s"$ScratchRoot/tmp/engine-$tag-$sf"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      Built(graft.index.IndexBuilder.build(s, fx.corpus(s, d), dir,
        graft.index.BuildConfig(numShards = 8, commitEvery = 8,
          positions = fx.positions, analyzer = fx.analyzer)), dir)
    }
    if (lifecycle.nonEmpty) build(lifecycle)
    else builtIdx.computeIfAbsent((sf, fx.tag), _ => build(fx.tag))
  }

  /** Force-build every registry fixture for an sf dir — Bench calls this
    * BEFORE its timed battery so the one-off build cost lands in its own
    * reported number instead of inside whichever engine query happens to
    * run first. */
  private[graft] def prebuildSharedIndexes(s: SparkSession, d: String): Unit =
    Fx.all.foreach(engineIndex(s, d, _))

  /** Within-JVM staging dedup (the shared-index discipline): ~90 oracle
    * stages derive the IDENTICAL (sha_id, doc_id[, pos], term) /
    * (sha_id, doc_id[, lang, repo], dl) tables from one fixture's corpus
    * with the same fixed tokenizer. The first call per (sf, fixture,
    * flags) computes and writes normally and records its own output dirs;
    * later calls copy the parquet bytes (byte-identical by construction —
    * the derivation is deterministic). The toks table does not depend on
    * the docs columns, so it is memoized apart from them. JVM-local like
    * the shared indexes: nothing persists across runs. */
  private val stagedToks =
    new java.util.concurrent.ConcurrentHashMap[(String, String, Boolean), String]
  private val stagedDocs =
    new java.util.concurrent.ConcurrentHashMap[(String, String, Boolean, Boolean), String]

  private def copyStaged(src: String, dst: String): Unit =
    if (src != dst) {
      val df = new java.io.File(dst)
      org.apache.commons.io.FileUtils.deleteQuietly(df)
      org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(src), df)
    }

  /** Stage fixture `fx`'s tokenized corpus for query `q`'s oracle (see
    * [[stageCorpus]]), memoized per (sf, fixture, flags). */
  private[graft] def stage(s: SparkSession, d: String, fx: Fixture, q: String,
                           withLang: Boolean = false, withRepo: Boolean = false,
                           positions: Boolean = false): Unit = {
    val sf = new java.io.File(d).getName
    val toksDst = s"${stageDir(d)}/${q}_toks.parquet"
    val docsDst = s"${stageDir(d)}/${q}_docs.parquet"
    val tKey = (sf, fx.tag, positions)
    val dKey = (sf, fx.tag, withLang, withRepo)
    val tCached = stagedToks.get(tKey)
    val dCached = stagedDocs.get(dKey)
    if (tCached != null && dCached != null) {
      copyStaged(tCached, toksDst)
      copyStaged(dCached, docsDst)
    } else {
      stageCorpus(s, d, fx.corpus(s, d), q, withLang, withRepo, positions,
        toks = tCached == null)
      if (tCached != null) copyStaged(tCached, toksDst)
      else stagedToks.putIfAbsent(tKey, toksDst)
      stagedDocs.putIfAbsent(dKey, docsDst)
    }
  }

  /** Stage a tokenized corpus for an oracle: DuckDB re-derives BM25 /
    * match sets from raw `<q>_toks.parquet` (sha_id, doc_id[, pos], term)
    * and `<q>_docs.parquet` (sha_id, doc_id[, lang][, repo], dl) rows —
    * an independent check of the whole SPIMI build + compression + query
    * path. `positions` adds each token's position (phrase, span and
    * highlight oracles self-join on pos + 1). Both writes derive from the
    * same sha256 + tokenizer chain, which must run once, not per write
    * (hence the persist). Doc-level dl INCLUDES zero-token docs: the
    * engine's snap.stats counts every staged (non-bad) doc, while toks
    * only contains docs with >= 1 token — deriving the oracle's N/avgdl
    * from toks alone would drift idf/avgdl the moment a tokenless doc
    * appears. Unmemoized: batch corpora that are no fixture call it
    * directly. */
  private def stageCorpus(s: SparkSession, d: String,
                          corpus: org.apache.spark.sql.Dataset[graft.corpus.SourceFile],
                          q: String, withLang: Boolean = false,
                          withRepo: Boolean = false, positions: Boolean = false,
                          toks: Boolean = true): Unit = {
    val meta = (if (withLang) Seq(col("lang")) else Nil) ++
      (if (withRepo) Seq(col("repo")) else Nil)
    val stagedGood = corpus.toDF().filter(!graft.index.IndexBuilder.isBadRow)
      .select(Seq(graft.index.IndexBuilder.docIdCol.as("sha_id"),
        col("path").cast("long").as("doc_id")) ++ meta :+
        graft.analyze.Tokenizer.tokens(col("content")).as("tokens"): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (toks) {
        val terms =
          if (positions) stagedGood.select(col("sha_id"), col("doc_id"), posexplode(col("tokens")))
            .withColumnRenamed("col", "term")
          else stagedGood.select(col("sha_id"), col("doc_id"), explode(col("tokens")).as("term"))
        terms.write.mode("overwrite").parquet(s"${stageDir(d)}/${q}_toks.parquet")
      }
      stagedGood.select(Seq(col("sha_id"), col("doc_id")) ++ meta :+
          size(col("tokens")).cast("long").as("dl"): _*)
        .write.mode("overwrite").parquet(s"${stageDir(d)}/${q}_docs.parquet")
    } finally stagedGood.unpersist(false)
  }

  /** A snapshot's docmap as the engine `doc_id` → table id (`path`) map. */
  private def paths(s: SparkSession, snap: graft.table.Snapshot): DataFrame =
    graft.table.Tables.docmap(s, snap).select(col("doc_id"), col("path"))

  private val HitCols: Seq[org.apache.spark.sql.Column] =
    Seq(col("query_id"), col("rank"), col("doc_id"), col("score"))

  /** The battery's hit projection: `res`'s engine doc ids replaced by the
    * table's numeric ids (docmap `path`), `score` (when present) rounded
    * to 4 places, then the `cols` columns in `by` order. */
  private def hits(s: SparkSession, snap: graft.table.Snapshot, res: DataFrame,
                   cols: Seq[org.apache.spark.sql.Column] = HitCols,
                   by: Seq[String] = Seq("query_id", "rank")): DataFrame = {
    val mapped = res.join(paths(s, snap), "doc_id")
      .withColumn("doc_id", col("path").cast("long"))
    val rounded =
      if (res.columns.contains("score")) mapped.withColumn("score", round(col("score"), 4))
      else mapped
    rounded.select(cols: _*).orderBy(by.map(col): _*)
  }

  /** q55's deterministic vocabulary — a hand-set linear quality model
    * (positive: retrieval vocabulary; negative: noise markers). Staged to
    * parquet so the DuckDB oracle scores with the identical table. */
  val classifierWeights: Seq[(String, Double)] = Seq(
    "spark" -> 0.8, "query" -> 0.5, "join" -> 0.4, "data" -> 0.3,
    "the" -> 0.05, "error" -> -0.6, "todo" -> -0.8, "deprecated" -> -0.4)

  /** q46 augmentation tail: a 9-token phrase repeated 3× so duplicated
    * 5- AND 10-grams exist (overlapping 10-gram duplicates need the
    * phrase to repeat at least 3 times). Identical literal on both the
    * Spark and DuckDB sides. */
  private val RepTail: String =
    " lorem ipsum dolor sit amet consectetur adipiscing elit sed" * 3

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- aggregations over the TPC-H-ish tables (A1-A9 family) ----
    "q01_pricing_summary" -> ((s, d) => {
      t(s, d, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg("l_quantity"), 4).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),
    "q02_topk_orders_per_customer" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, d, "orders").withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("o_custkey"), col("rnk"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("price"))
        .orderBy("o_custkey", "rnk")
    }),
    "q03_revenue_by_nation" -> ((s, d) => {
      val li = t(s, d, "lineitem"); val o = t(s, d, "orders")
      val c = t(s, d, "customer"); val n = t(s, d, "nation")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy("n_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("n_name")
    }),
    "q04_value_percentiles" -> ((s, d) => {
      t(s, d, "events").filter(col("value") > 0)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          round(expr("percentile(value, 0.5)"), 4).as("p50"),
          round(expr("percentile(value, 0.9)"), 4).as("p90"),
          round(expr("percentile(value, 0.99)"), 4).as("p99"),
          round(avg("value"), 4).as("avg_value"))
        .orderBy("event_type")
    }),
    "q05_event_type_stats" -> ((s, d) => {
      t(s, d, "events").groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(avg("value"), 4).as("avg_value"),
          countDistinct("user_id").as("n_users"))
        .orderBy("event_type")
    }),
    "q06_customers_with_orders" -> ((s, d) => {
      val c = t(s, d, "customer"); val o = t(s, d, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
        .orderBy("c_mktsegment")
    }),
    "q07_customers_without_orders" -> ((s, d) => {
      val c = t(s, d, "customer"); val o = t(s, d, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
        .orderBy("c_mktsegment")
    }),
    "q08_value_histogram" -> ((s, d) => {
      t(s, d, "events")
        .groupBy(floor(col("value") / 10).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy("bucket")
    }),
    "q09_describe_quantity" -> ((s, d) => {
      t(s, d, "lineitem").agg(
        count(lit(1)).as("n"),
        round(avg("l_quantity"), 4).as("mean"),
        round(stddev_samp(col("l_quantity")), 4).as("std"),
        round(min(col("l_quantity")), 4).as("min_q"),
        round(max(col("l_quantity")), 4).as("max_q"))
    }),
    "q10_json_extract" -> ((s, d) => {
      t(s, d, "events")
        .withColumn("k_val", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy("event_type")
        .agg(round(avg("k_val"), 4).as("avg_k"), max("k_val").as("max_k"))
        .orderBy("event_type")
    }),
    "q11_status_match_rate" -> ((s, d) => {
      t(s, d, "orders").groupBy("o_orderpriority")
        .agg(round(avg(when(col("o_orderstatus") === "F", 1.0).otherwise(0.0)), 4).as("f_rate"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    }),
    "q12_delta_mean" -> ((s, d) => {
      t(s, d, "lineitem").groupBy("l_returnflag")
        .agg(round(avg(col("l_extendedprice") * (lit(1) - col("l_discount")) -
          col("l_extendedprice") * col("l_tax")), 4).as("net_mean"))
        .orderBy("l_returnflag")
    }),
    "q13_intersect_keys" -> ((s, d) => {
      t(s, d, "orders").select(col("o_custkey").as("k"))
        .intersect(t(s, d, "customer").select(col("c_custkey").as("k")))
        .agg(count(lit(1)).as("n"))
    }),

    // ---- text / dedup over documents ----
    "q20_term_df" -> ((s, d) => {
      t(s, d, "documents")
        .select(col("doc_id"), explode(array_distinct(TextOps.simpleTokens(col("text")))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("term").asc)
        .limit(50)
    }),
    "q21_bm25_topk" -> ((s, d) => {
      val toks = docToks(s, d)
      val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      val statsRow = dl.agg(count(lit(1)), sum("dl")).head()
      val n = statsRow.getLong(0)
      val avgdl = statsRow.getLong(1).toDouble / n
      val dfT = tf.filter(col("term").isin(bm25QueryTerms: _*))
        .groupBy("term").agg(count(lit(1)).as("df"))
      tf.filter(col("term").isin(bm25QueryTerms: _*))
        .join(dfT, "term").join(dl, "doc_id")
        .withColumn("contrib",
          log(lit(1.0) + (lit(n.toDouble) - col("df") + 0.5) / (col("df") + 0.5)) *
            (col("tf") * 2.2 / (col("tf") + lit(1.2) *
              (lit(0.25) + lit(0.75) * col("dl") / lit(avgdl)))))
        .groupBy("doc_id").agg(round(sum("contrib"), 4).as("score"))
        .orderBy(col("score").desc, col("doc_id").asc)
        .limit(10)
    }),
    "q22_quality_features" -> ((s, d) => {
      TextOps.qualityFeatures(t(s, d, "documents"), "text")
        .select("doc_id", "n_tokens", "punct_ratio", "stopword_ratio", "mean_token_len")
        .orderBy("doc_id")
    }),
    "q23_exact_dup_stats" -> ((s, d) =>
      Dedup.exactDupStats(t(s, d, "documents"), "text").orderBy("group_size")),
    "q24_token_stats" -> ((s, d) => {
      docToks(s, d).agg(count(lit(1)).as("n_tokens"),
        countDistinct("term").as("n_terms"),
        countDistinct("doc_id").as("n_docs"))
    }),
    "q25_ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccardPairs(t(s, d, "documents"), "doc_id", "text",
          n = 3, threshold = 0.5)
        .orderBy("id_a", "id_b")),
    "q26_cosine_topk" -> ((s, d) => {
      val e = t(s, d, "embeddings")
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("vec"))
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 5), "vec_id", "vec", 5)
        .orderBy("query_id", "rank")
    }),
    // filtered vector search: only label=1 rows are eligible neighbors
    // (a PRE-filter — top-k fills from the subset, never under-fills)
    "q128_filtered_cosine_topk" -> ((s, d) => {
      val e = t(s, d, "embeddings")
        .select(col("vec_id"), col("label"),
          transform(col("embedding"), x => x.cast("double")).as("vec"))
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 5), "vec_id",
          "vec", 5, filter = Some(col("label") === 1))
        .orderBy("query_id", "rank")
    }),
    "q27_bpe_token_count" -> ((s, d) => {
      t(s, d, "documents")
        .select(col("doc_id"), TextOps.approxBpeTokenCount(col("text")).as("bpe_tokens"))
        .orderBy("doc_id")
    }),

    // ---- hash-based ops, each with an independent DuckDB verification
    //      path: either the output is provably the exact answer (LSH
    //      recall 1 at the threshold → brute-force SQL oracle), or the
    //      hash values are staged and DuckDB recomputes the pair/ranking
    //      logic from them ----
    "q30_minhash_candidates" -> ((s, d) =>
      // candidates → EXACT-Jaccard verify at 0.5: with 32 bands × 2 rows,
      // P[miss | J ≥ 0.5] ≤ (1 − 0.25)^32 ≈ 1e-4 and this corpus has no
      // pairs in (0.15, 0.8), so the output equals the brute-force answer
      // — the oracle below recomputes that answer with no LSH at all
      // stagePath = the scale path: candidate pairs materialize as parquet
      // (never through the driver) and no cache entry survives the call
      Dedup.minhashNearDupPairs(t(s, d, "documents"), "doc_id", "text",
          shingleSize = 3, k = 64, bands = 32, threshold = 0.5,
          stagePath = s"${stageDir(d)}/q30_cands.parquet")
        .orderBy("id_a", "id_b")),
    "q31_simhash_pairs" -> ((s, d) => {
      val docs = t(s, d, "documents")
      // stage the simhash values: DuckDB recomputes ALL-PAIRS hamming from
      // them — verifying that pigeonhole banding found exactly the pairs
      // an exhaustive scan finds (banding is lossless for dist ≤ maxDist).
      // Tokenless docs are excluded exactly as simhashPairs excludes them,
      // so oracle and engine pair over the same document universe.
      docs.select(col("doc_id").as("id"),
          graft.ops.TextOps.simpleTokens(col("text")).as("toks"))
        .filter(col("toks").isNotNull && size(col("toks")) > 0)
        .select(col("id"), Dedup.simhashUdf(col("toks")).as("sh"))
        .write.mode("overwrite").parquet(s"${stageDir(d)}/q31_simhash.parquet")
      Dedup.simhashPairs(docs, "doc_id", "text", maxDist = 4)
        .orderBy("id_a", "id_b")
    }),
    "q32_lsh_cosine_topk" -> ((s, d) => {
      val e = t(s, d, "embeddings")
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("vec"))
      // stage the LSH candidate set: DuckDB re-ranks the SAME candidates
      // by exact cosine straight from the embeddings table — verifying
      // the cosine math, ranking, and k-cut independently (the bucketing
      // itself is hash-defined and pinned by OpsSpec recall tests)
      // the staged write doubles as the pipeline's materialization point:
      // pair generation runs ONCE (in parallel — no coalesce(1) collapsing
      // the final stage to one task) and the rerank reads the pairs back
      val queries = e.filter(col("vec_id") < 5)
      val staged = s"${stageDir(d)}/q32_cands.parquet"
      Similarity.lshCandidatePairs(e, queries, "vec_id", "vec", bits = 8, tables = 8)
        .write.mode("overwrite").parquet(staged)
      val cand = Similarity.lshAttachVectors(s.read.parquet(staged), e, queries, "vec_id", "vec")
      Similarity.rerankTopK(cand, 5).orderBy("query_id", "rank")
    }),
    "q36_ivf_cosine_topk" -> ((s, d) => {
      val e = t(s, d, "embeddings")
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("vec"))
      // IVF scale path: seeded driver-side k-means coarse quantizer,
      // single-list corpus assignment, nProbe query probing. Same oracle
      // discipline as q32 — stage the candidate set, DuckDB re-ranks the
      // SAME candidates by exact cosine from the embeddings table, so the
      // probe structure is the engine's and the ranking math is checked
      // independently
      val queries = e.filter(col("vec_id") < 5)
      val centroids = Similarity.ivfTrain(e, "vec_id", "vec", nLists = 16, seed = 42L)
      val staged = s"${stageDir(d)}/q36_cands.parquet"
      Similarity.ivfCandidatePairs(e, queries, "vec_id", "vec", centroids, nProbe = 4)
        .write.mode("overwrite").parquet(staged)
      val cand = Similarity.lshAttachVectors(s.read.parquet(staged), e, queries, "vec_id", "vec")
      Similarity.rerankTopK(cand, 5).orderBy("query_id", "rank")
    }),
    "q35_embedding_near_dups" -> ((s, d) => {
      val e = t(s, d, "embeddings")
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("vec"))
      // stage the LSH candidate pairs; DuckDB recomputes exact cosine for
      // the SAME pairs from the embeddings table and applies the same
      // threshold — verifying the cosine math and the verify-filter
      // independently of the (hash-defined, OpsSpec-pinned) bucketing
      // staged write = materialization point (same shape as q32): generate
      // slim pairs once in parallel, verify against the materialized rows
      val staged = s"${stageDir(d)}/q35_cands.parquet"
      Similarity.embeddingCandidatePairs(e, "vec_id", "vec", bits = 8, tables = 8)
        .write.mode("overwrite").parquet(staged)
      val cand = Similarity.embeddingAttachVectors(s.read.parquet(staged), e, "vec_id", "vec")
      cand.withColumn("cosine", Similarity.cosine(col("vec_a"), col("vec_b")))
        .filter(col("cosine") >= 0.15)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
        .orderBy("id_a", "id_b")
    }),
    "q33_langid" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), TextOps.detectLangUdf(col("text")).as("detected"))
        .groupBy("detected").agg(count(lit(1)).as("n"))
        .orderBy("detected")),
    "q34_fingerprint_dups" -> ((s, d) => {
      // fingerprint-equal pairs over documents UNION a layout-mangled copy
      // of each doc (ids offset by 100000): the rolling hash must be
      // layout-invariant, so every (id, id+100000) pair must surface. The
      // oracle independently finds pairs with EQUAL TOKEN SEQUENCES —
      // output equality verifies the hash groups exactly the truly
      // sequence-equal docs (layout-invariant, no collisions, no misses)
      val base = t(s, d, "documents").select(col("doc_id").as("id"), col("text"))
      val mangled = base.select((col("id") + 100000).as("id"),
        regexp_replace(col("text"), " ", " . ").as("text"))
      val fp = base.union(mangled)
        .select(col("id"), TextOps.fingerprint(col("text")).as("fp"))
      fp.select(col("fp"), col("id").as("id_a"))
        .join(fp.select(col("fp"), col("id").as("id_b")), Seq("fp"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b")
        .orderBy("id_a", "id_b")
    }),

    "q37_fingerprint_groups" -> ((s, d) => {
      // grouped form of q34 over the same mangled-union corpus: one row
      // per exact-sequence clique (rep + size) instead of quadratic pairs
      // — the shape production dedup should use. Oracle independently
      // groups by token-SEQUENCE equality.
      val base = t(s, d, "documents").select(col("doc_id").as("id"), col("text"))
      val mangled = base.select((col("id") + 100000).as("id"),
        regexp_replace(col("text"), " ", " . ").as("text"))
      TextOps.fingerprintDupGroups(base.union(mangled), "id", "text")
        .select(col("rep_id"), col("group_size"))
        .orderBy("rep_id")
    }),

    "q38_neardup_groups" -> ((s, d) => {
      // group formation: verified minhash near-dup pairs (q30's exact
      // answer) → alternating-star connected components → every doc
      // labeled with its group rep (min doc_id; singletons label
      // themselves). The verified pairs are STAGED; DuckDB recomputes
      // components from the same pairs via a recursive transitive
      // closure, so the distributed star alternation is checked against
      // an independent sequential algorithm.
      val staged = s"${stageDir(d)}/q38_pairs.parquet"
      Dedup.minhashNearDupPairs(t(s, d, "documents"), "doc_id", "text",
          shingleSize = 3, k = 64, bands = 32, threshold = 0.5)
        .select("id_a", "id_b")
        .write.mode("overwrite").parquet(staged)
      Dedup.nearDupGroups(t(s, d, "documents"), "doc_id", s.read.parquet(staged))
        .orderBy("id")
    }),

    "q39_clean_text" -> ((s, d) =>
      // wrap each doc in deterministic markup so the cleaner has real
      // work (tags, entities, entity-order trap, whitespace runs); the
      // oracle applies the identical wrapping and unescape order
      t(s, d, "documents")
        .select(col("doc_id"),
          TextOps.cleanText(concat(lit("<p class=\"x\"> "), col("text"),
            lit(" </p>&nbsp;&amp;lt;end&#39;"))).as("clean"))
        .orderBy("doc_id")),

    "q47_dedup_lines" -> ((s, d) => {
      // append boilerplate footer lines shared by EVERY doc plus one
      // per-doc-unique line: corpus-level line dedup must strip the shared
      // lines and keep base text + the unique line, preserving order. The
      // oracle recomputes the whole rule (distinct-doc line counts, ≥2
      // threshold, ordered reassembly) from scratch in SQL.
      val aug = t(s, d, "documents").select(col("doc_id"),
        concat(col("text"),
          lit("\ncopyright footer 2026\nnav home about contact\nunique "),
          col("doc_id").cast("string")).as("text2"))
      TextOps.dedupLines(aug, "doc_id", "text2", minDocs = 2)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    "q42_decontaminate" -> ((s, d) => {
      // benchmark set = every 97th doc; those docs (and any doc sharing
      // an 8-gram with them, e.g. exact/near dups) must be flagged
      val docs = t(s, d, "documents")
      TextOps.decontaminate(docs, "doc_id", "text",
          docs.filter(col("doc_id") % 97 === 0), "text", n = 8, minHits = 1)
        .orderBy("id")
    }),

    "q43_redact_pii" -> ((s, d) =>
      // inject deterministic synthetic PII (email, IPv4, phone) so the
      // redaction has real work; identical injection on the oracle side
      t(s, d, "documents")
        .select(col("doc_id"),
          TextOps.redactPii(concat(col("text"),
            lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com or 10.0."), (col("doc_id") % 256).cast("string"),
            lit(".7, tel 555-123-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0"))).as("redacted"))
        .orderBy("doc_id")),

    "q44_repetition_features" -> ((s, d) => {
      // append repeated footer lines (and a per-doc-varying block) so the
      // Gopher repetition stats are non-trivial; same wrapping in SQL
      val aug = t(s, d, "documents").select(col("doc_id"),
        concat(col("text"), lit("\nfooter line\nfooter line"),
          when(col("doc_id") % 3 === 0, lit("\nextra\nextra\nextra"))
            .otherwise(lit("\nunique tail"))).as("text2"))
      TextOps.repetitionFeatures(aug, "text2")
        .select("doc_id", "n_lines", "dup_line_frac", "dup_line_char_frac")
        .orderBy("doc_id")
    }),

    "q45_split_counts" -> ((s, d) => {
      // hash-defined op: stage (doc_id, bucket); DuckDB recomputes the
      // split rule and counts from the staged buckets
      val staged = s"${stageDir(d)}/q45_buckets.parquet"
      val a = TextOps.assignSplit(t(s, d, "documents"), "doc_id",
        valPct = 10, testPct = 10)
      a.select("doc_id", "bucket").write.mode("overwrite").parquet(staged)
      a.groupBy("split").agg(count(lit(1)).as("n")).orderBy("split")
    }),

    "q46_ngram_repetition" -> ((s, d) => {
      // append a 9-token phrase three times so duplicated 5/10-grams
      // exist (the phrase must repeat ≥3× for overlapping 10-gram dups);
      // identical augmentation on the oracle side
      val aug = t(s, d, "documents").select(col("doc_id"),
        concat(col("text"), lit(RepTail)).as("text2"))
      TextOps.ngramRepetitionFeatures(aug, "text2")
        .select("doc_id", "top2_frac", "top3_frac", "dup5_frac", "dup10_frac")
        .orderBy("doc_id")
    }),

    "q28_stratified_sample" -> ((s, d) => {
      // hash-defined op: stage (doc_id, bucket); DuckDB re-applies the
      // per-lang rate rule to the staged buckets and recounts
      val staged = s"${stageDir(d)}/q28_buckets.parquet"
      val r = TextOps.stratifiedSample(t(s, d, "documents"), "doc_id", "lang",
        Map("en" -> 0.25, "zh" -> 0.5), defaultRate = 1.0)
      r.select(col("doc_id"), col("bucket")).write.mode("overwrite").parquet(staged)
      r.filter(col("kept")).groupBy("lang").agg(count(lit(1)).as("n_kept"))
        .orderBy("lang")
    }),

    "q29_epoch_mix" -> ((s, d) => {
      // hash-defined op: stage every doc's bucket (the same xxhash64 rule
      // epochMix applies) so DuckDB recomputes each doc's copy count and
      // re-aggregates independently
      val docs = t(s, d, "documents")
      docs.select(col("doc_id"), TextOps.mixBucket("doc_id").as("bucket"))
        .write.mode("overwrite").parquet(s"${stageDir(d)}/q29_buckets.parquet")
      TextOps.epochMix(docs, "doc_id", "lang", Map("en" -> 2.25, "zh" -> 0.5))
        .groupBy("lang").agg(count(lit(1)).as("n_rows"),
          countDistinct(col("doc_id")).as("n_docs"))
        .orderBy("lang")
    }),

    "q56_chunk_docs" -> ((s, d) =>
      TextOps.chunkDocs(t(s, d, "documents"), "doc_id", "text",
        size = 200, overlap = 40).orderBy("doc_id", "chunk_id")),

    "q57_hashed_tfidf" -> ((s, d) => {
      // hash-defined op: stage the (term, idf, bucket) vocabulary; DuckDB
      // recomputes tf, the weighted bucket sums, and the float32 cast from
      // it; vector ASSEMBLY is verified through posexplode positions
      val docs = t(s, d, "documents")
      TextOps.tfidfVocab(docs, "doc_id", "text", dim = 64)
        .write.mode("overwrite").parquet(s"${stageDir(d)}/q57_vocab.parquet")
      val vocab = s.read.parquet(s"${stageDir(d)}/q57_vocab.parquet")
      TextOps.hashedTfidf(docs, "doc_id", "text", dim = 64, vocab = Some(vocab))
        .select(col("doc_id"), posexplode(col("vec")))
        .toDF("doc_id", "bucket", "w")
        .filter(col("w") =!= 0.0f)
        .select(col("doc_id"), col("bucket"),
          round(col("w").cast("double"), 6).as("w6"))
        .orderBy("doc_id", "bucket")
    }),

    "q55_classifier_score" -> ((s, d) => {
      import s.implicits._
      val w = classifierWeights.toDF("term", "weight")
      w.write.mode("overwrite").parquet(s"${stageDir(d)}/q55_weights.parquet")
      TextOps.classifierScore(t(s, d, "documents"), "doc_id", "text", w,
        bias = -0.1).orderBy("doc_id")
    }),

    "q48_gopher_quality" -> ((s, d) => {
      // append bullet/ellipsis/symbol lines (plus a per-doc variation) so
      // every Gopher rule input is non-trivial; identical wrapping in SQL
      val aug = t(s, d, "documents").select(col("doc_id"),
        concat(col("text"),
          lit("\n- bullet one\n  * indented bullet\nplain line\n" +
            "trailing thought...\n### sym # line"),
          when(col("doc_id") % 4 === 0, lit("\n- extra...\nthe have with"))
            .otherwise(lit("\nno extras here"))).as("text2"))
      TextOps.gopherQualityFeatures(aug, "text2")
        .select("doc_id", "n_words", "symbol_word_ratio", "bullet_line_frac",
          "ellipsis_line_frac", "alpha_word_frac", "req_stopword_hits")
        .orderBy("doc_id")
    }),

    "q49_pack_sequences" -> ((s, d) => {
      // hash-defined op (group assignment is xxhash64): stage (id, grp);
      // DuckDB recomputes token counts, the per-group running offset, and
      // the chunk spans from the staged groups
      val staged = s"${stageDir(d)}/q49_groups.parquet"
      val p = TextOps.packSequences(t(s, d, "documents"), "doc_id", "text",
        seqLen = 256, groups = 8)
      p.select(col("id"), col("grp")).write.mode("overwrite").parquet(staged)
      p.select(col("id").as("doc_id"), col("grp"), col("n_tokens"),
          col("start_off"), col("chunk_first"), col("chunk_last"))
        .orderBy("doc_id")
    }),

    // ---- multimodal plumbing ----
    "q40_media_features" -> ((s, d) => {
      import s.implicits._
      val media = Multimodal.synthesize(t(s, d, "documents"), "doc_id", "text")
        .as[graft.ops.MediaRecord]
      Multimodal.extractFeatures(s, media).toDF()
        .groupBy("kind")
        .agg(count(lit(1)).as("n"), sum("byte_len").as("total_bytes"))
        .orderBy("kind")
    }),
    "q41_frame_samples" -> ((s, d) => {
      import s.implicits._
      val media = Multimodal.synthesize(t(s, d, "documents"), "doc_id", "text")
        .as[graft.ops.MediaRecord]
      Multimodal.sampleFrames(s, media, everyMs = 500, maxFrames = 8).toDF()
        .groupBy("media_id").agg(count(lit(1)).as("n_frames"))
        .groupBy("n_frames").agg(count(lit(1)).as("n_media"))
        .orderBy("n_frames")
    }),
    // ---- REAL multi-frame decode (animated GIF via the JDK's imageio):
    //      synthesized per-doc GIFs decode frame-by-frame; the oracle
    //      recomputes frame counts AND each frame's dominant luminance
    //      bin from the generating formula alone — a silent regression to
    //      the duration-based fallback yields different counts and fails ----
    "q129_gif_frame_decode" -> ((s, d) => {
      val media = Multimodal.synthesizeGifs(s, t(s, d, "documents"), "doc_id")
      Multimodal.sampleFrames(s, media, everyMs = 500, maxFrames = 8).toDF()
        .select(col("media_id").as("doc_id"), col("frame_index"),
          col("decoder"), col("hist_sum"), col("top_bin"))
        .orderBy("doc_id", "frame_index")
    }),

    // ---- geo_distance query: hash-derived per-event coordinates
    //      (staged), spherical-cap bounding-box prefilter (plain range
    //      predicates — parquet-pushdown-able at scale), exact haversine
    //      refilter, nearest-first rank. The oracle recomputes distance,
    //      radius cut, and ranking from the staged coordinates with NO
    //      box — so a box that ever clipped a true match would fail.
    //      The 2^20 denominator makes every staged coordinate BINARY-
    //      exact (k·5·2⁻¹⁵ ± offset), so oracle-side re-aggregations
    //      (sums/averages in q132–q136) are exact and order-independent
    //      — no accumulation drift across engines, no round-half
    //      boundary flips (a binary fraction can never equal a .00005-
    //      class decimal boundary) ----
    "q131_geo_distance" -> ((s, d) => {
      val staged = s"${stageDir(d)}/q131_coords.parquet"
      t(s, d, "events").select(col("event_id"),
        (pmod(xxhash64(col("event_id"), lit(131)), lit(1048576)) / 1048576.0
          * 160.0 - 80.0).as("lat"),
        (pmod(xxhash64(col("event_id"), lit(132)), lit(1048576)) / 1048576.0
          * 360.0 - 180.0).as("lon"))
        .write.mode("overwrite").parquet(staged)
      Geo.geoDistance(s.read.parquet(staged), "lat", "lon", 40.0, -74.0, 1500.0)
        .select(col("event_id"), round(col("distance_km"), 3).as("distance_km"))
        .orderBy(col("distance_km"), col("event_id")).limit(50)
    }),

    // ---- geotile_grid aggregation: web-mercator tile buckets at zoom 3
    //      (pure built-in Column math — ln/tan/floor — so the whole
    //      bucketing stays in WholeStageCodegen; one map-side-combined
    //      groupBy, ≤ 4^zoom buckets). Oracle rebuilds the tile formula
    //      in SQL from the same staged coordinates ----
    "q132_geotile_grid" -> ((s, d) => {
      val staged = s"${stageDir(d)}/q132_coords.parquet"
      t(s, d, "events").select(col("event_id"), col("value"),
        (pmod(xxhash64(col("event_id"), lit(131)), lit(1048576)) / 1048576.0
          * 160.0 - 80.0).as("lat"),
        (pmod(xxhash64(col("event_id"), lit(132)), lit(1048576)) / 1048576.0
          * 360.0 - 180.0).as("lon"))
        .write.mode("overwrite").parquet(staged)
      Geo.geotileGrid(s.read.parquet(staged), "lat", "lon", zoom = 3,
        Seq(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value")))
        .orderBy("tile_x", "tile_y")
    }),

    // ---- geo_distance aggregation: concentric ring buckets around a
    //      centre — ring index is a sum of codegen'd comparisons, one
    //      tiny groupBy. Oracle rebuilds rings from staged coordinates ----
    "q133_geo_distance_rings" -> ((s, d) => {
      val staged = s"${stageDir(d)}/q133_coords.parquet"
      t(s, d, "events").select(col("event_id"), col("value"),
        (pmod(xxhash64(col("event_id"), lit(131)), lit(1048576)) / 1048576.0
          * 160.0 - 80.0).as("lat"),
        (pmod(xxhash64(col("event_id"), lit(132)), lit(1048576)) / 1048576.0
          * 360.0 - 180.0).as("lon"))
        .write.mode("overwrite").parquet(staged)
      Geo.geoDistanceRings(s.read.parquet(staged), "lat", "lon", 40.0, -74.0,
        edges = Seq(1000.0, 2500.0, 5000.0, 10000.0),
        Seq(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value")))
        .orderBy("ring")
    }),

    // ---- geo_bounding_box query, antimeridian-crossing box (left >
    //      right → the lon test is a disjunction). Plain range predicates
    //      — the whole filter is parquet-pushdown-able; oracle replays
    //      the same ranges in SQL ----
    "q134_geo_bounding_box" -> ((s, d) => {
      val staged = s"${stageDir(d)}/q134_coords.parquet"
      t(s, d, "events").select(col("event_id"),
        (pmod(xxhash64(col("event_id"), lit(131)), lit(1048576)) / 1048576.0
          * 160.0 - 80.0).as("lat"),
        (pmod(xxhash64(col("event_id"), lit(132)), lit(1048576)) / 1048576.0
          * 360.0 - 180.0).as("lon"))
        .write.mode("overwrite").parquet(staged)
      s.read.parquet(staged)
        .filter(Geo.inBoundingBox(col("lat"), col("lon"),
          top = 45.0, left = 160.0, bottom = -45.0, right = -160.0))
        .select(col("event_id"), round(col("lat"), 4).as("lat"),
          round(col("lon"), 4).as("lon"))
        .orderBy("event_id").limit(200)
    }),

    // ---- geohash_grid aggregation: slim (cx, cy) long shuffle keys,
    //      base-32 string encode AFTER the agg on ≤ 32^p bucket rows.
    //      The oracle rebuilds the full interleave + encode in SQL
    //      (generated from the same constants), and GeoSpec anchors the
    //      encode against published geohash examples ----
    "q135_geohash_grid" -> ((s, d) => {
      val staged = s"${stageDir(d)}/q135_coords.parquet"
      t(s, d, "events").select(col("event_id"), col("value"),
        (pmod(xxhash64(col("event_id"), lit(131)), lit(1048576)) / 1048576.0
          * 160.0 - 80.0).as("lat"),
        (pmod(xxhash64(col("event_id"), lit(132)), lit(1048576)) / 1048576.0
          * 360.0 - 180.0).as("lon"))
        .write.mode("overwrite").parquet(staged)
      Geo.geohashGrid(s.read.parquet(staged), "lat", "lon", precision = 2,
        Seq(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value")))
        .select("geohash", "n", "sum_value")
        .orderBy("geohash")
    }),

    // ---- geo_centroid + geo_bounds aggregations per event_type:
    //      seven plain avg/count/min/max aggregates in ONE map-side-
    //      combined pass (not a join of the two separate aggs) ----
    "q136_geo_centroid_bounds" -> ((s, d) => {
      val staged = s"${stageDir(d)}/q136_coords.parquet"
      t(s, d, "events").select(col("event_id"), col("event_type"),
        (pmod(xxhash64(col("event_id"), lit(131)), lit(1048576)) / 1048576.0
          * 160.0 - 80.0).as("lat"),
        (pmod(xxhash64(col("event_id"), lit(132)), lit(1048576)) / 1048576.0
          * 360.0 - 180.0).as("lon"))
        .write.mode("overwrite").parquet(staged)
      Geo.geoCentroidBounds(s.read.parquet(staged), "lat", "lon",
          Seq(col("event_type")))
        .select(col("event_type"), round(col("centroid_lat"), 4).as("centroid_lat"),
          round(col("centroid_lon"), 4).as("centroid_lon"), col("count"),
          round(col("top"), 4).as("top"), round(col("bottom"), 4).as("bottom"),
          round(col("left"), 4).as("lft"), round(col("right"), 4).as("rgt"))
        .orderBy("event_type")
    }),

    // ---- geo_polygon query: concave-pentagon containment — vertex
    //      bbox prefilter (plain pushdown-able ranges), then the exact
    //      planar ray cast (one fused-constant comparison per edge,
    //      all inside codegen). The oracle replays the SAME ray cast in
    //      SQL generated from the SAME edge constants with NO box, so a
    //      box that ever clipped a true interior point would fail; the
    //      binary-exact staged coordinates make the per-edge doubles
    //      bit-identical across engines ----
    "q170_geo_polygon" -> ((s, d) => {
      val staged = s"${stageDir(d)}/q170_coords.parquet"
      t(s, d, "events").select(col("event_id"),
        (pmod(xxhash64(col("event_id"), lit(131)), lit(1048576)) / 1048576.0
          * 160.0 - 80.0).as("lat"),
        (pmod(xxhash64(col("event_id"), lit(132)), lit(1048576)) / 1048576.0
          * 360.0 - 180.0).as("lon"))
        .write.mode("overwrite").parquet(staged)
      Geo.geoPolygon(s.read.parquet(staged), "lat", "lon", GeoPolygonVertices)
        .select(col("event_id"), round(col("lat"), 4).as("lat"),
          round(col("lon"), 4).as("lon"))
        .orderBy("event_id").limit(500)
    }),

    // ---- geo_shape: per-doc CONCAVE pentagon shapes (hashed center +
    //      anisotropic radii over a fixed offset pattern, 4th vertex
    //      inward), queried by a point and by envelopes under all four
    //      spatial relations. The oracle rebuilds every polygon from
    //      the staged exploded vertices and replays the ray casts,
    //      vertex-in-box folds and strict-orientation edge crossings in
    //      SQL with identical formulas. `disjoint` (the complement —
    //      most of the table) is capped at 800 rows on both sides ----
    "q177_geo_shape" -> ((s, d) => {
      val offsets = Seq((2.0, 0.0), (0.0, 2.0), (-2.0, 0.0), (0.1, 0.1), (0.0, -2.0))
      val shapes = t(s, d, "events").select(col("event_id"),
        (pmod(xxhash64(col("event_id"), lit(141)), lit(1048576)) / 1048576.0
          * 140.0 - 70.0).as("clat"),
        (pmod(xxhash64(col("event_id"), lit(142)), lit(1048576)) / 1048576.0
          * 340.0 - 170.0).as("clon"),
        (pmod(xxhash64(col("event_id"), lit(143)), lit(1048576)) / 1048576.0
          * 5.0 + 0.5).as("r1"),
        (pmod(xxhash64(col("event_id"), lit(144)), lit(1048576)) / 1048576.0
          * 5.0 + 0.5).as("r2"))
        .select(col("event_id"), array(offsets.map { case (dy, dx) =>
          struct((col("clat") + lit(dy) * col("r1")).as("lat"),
            (col("clon") + lit(dx) * col("r2")).as("lon")) }: _*).as("shape"))
      // the write-time discipline: shapes persist ONCE with flat bounds
      // columns; every relation then reads the stored table with the
      // coarse test pushed to the parquet scan (row-group pruning) —
      // derive-per-pass would recompute the shape table five times
      graft.ops.Geo.withShapeBounds(shapes, "shape")
        .write.mode("overwrite").parquet(s"${stageDir(d)}/q177_shapes_full.parquet")
      val stored = s.read.parquet(s"${stageDir(d)}/q177_shapes_full.parquet")
      stored.select(col("event_id"), posexplode(col("shape")))
        .select(col("event_id"), col("pos").as("vidx"),
          col("col")("lat").as("lat"), col("col")("lon").as("lon"))
        .write.mode("overwrite").parquet(s"${stageDir(d)}/q177_shapes.parquet")
      val bc = Some(("shape_top", "shape_left", "shape_bottom", "shape_right"))
      val env = graft.ops.Geo.QEnvelope(top = 30.0, left = -40.0,
        bottom = -10.0, right = 20.0)
      val small = graft.ops.Geo.QEnvelope(top = 0.6, left = -0.3,
        bottom = 0.4, right = 0.3)
      val point = graft.ops.Geo.QPoint(12.3456, -7.8912)
      val parts = Seq(
        "point" -> graft.ops.Geo.geoShape(stored, "shape", point, boundsCols = bc),
        "intersects" -> graft.ops.Geo.geoShape(stored, "shape", env, "intersects", bc),
        "disjoint" -> graft.ops.Geo.geoShape(stored, "shape", env, "disjoint", bc)
          .orderBy("event_id").limit(800),
        "within" -> graft.ops.Geo.geoShape(stored, "shape", env, "within", bc),
        "contains" -> graft.ops.Geo.geoShape(stored, "shape", small, "contains", bc))
      parts.map { case (fn, df) =>
        df.select(lit(fn).as("fn"), col("event_id")) }
        .reduce(_ unionByName _)
        .orderBy("fn", "event_id")
    }),

    // ---- multi_match best_fields: the one query text scored against a
    //      title index (first 120 chars, boost 2.0) AND the body index
    //      (boost 1.0), per-doc field scores combined by the dis_max
    //      fold (max + 0.3·(sum−max)). Per-field exact match sets are
    //      golden-pinned in EngineSpec; the oracle recomputes BOTH
    //      fields' BM25 from their own staged tokens (each field has its
    //      own N/avgdl/df) and replays the combine ----
    "q137_engine_multi_match" -> ((s, d) => {
      val snapT = engineIndex(s, d, Fx.Title).snap
      val snapB = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Title, "q137t")
      stage(s, d, Fx.Base, "q137b")
      val qs = Seq(graft.corpus.RefQuery(0, "spark query"),
        graft.corpus.RefQuery(1, "join filter"))
      val res = graft.search.Wand.multiMatchSearchSnapshots(s,
        Seq((snapT, 2.0), (snapB, 1.0)), qs, 10,
        mode = "best_fields", tieBreaker = 0.3)
      hits(s, snapB, res)
    }),

    // ---- multi_match best_fields WITH fuzziness: each typo word
    //      expands against EACH FIELD's own dictionary (title vs body
    //      differ — the title is a 120-char truncation), that field's
    //      pass scores its own expansion, then the dis_max combine. The
    //      oracle replays both per-field expansions via
    //      damerau_levenshtein window-ranks over each field's staged
    //      dictionary, both BM25 passes, and the combine ----
    "q179_engine_multi_match_fuzzy" -> ((s, d) => {
      val snapT = engineIndex(s, d, Fx.Title).snap
      val snapB = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Title, "q179t")
      stage(s, d, Fx.Base, "q179b")
      // spakr/qurey/jion: 1 edit (AUTO, 4-5 ch); filtre: 2 edits (6 ch)
      val qs = Seq(graft.corpus.RefQuery(0, "spakr qurey"),
        graft.corpus.RefQuery(1, "jion filtre"))
      val res = graft.search.Wand.multiMatchSearchSnapshots(s,
        Seq((snapT, 2.0), (snapB, 1.0)), qs, 10,
        mode = "best_fields", tieBreaker = 0.3,
        fuzziness = Some("AUTO"), fuzzyMaxExpansions = 8)
      hits(s, snapB, res)
    }),

    // ---- multi_match most_fields: same per-field passes, per-doc
    //      scores SUMMED across fields (rewards docs matching in many
    //      fields) ----
    "q138_engine_multi_match_most" -> ((s, d) => {
      val snapT = engineIndex(s, d, Fx.Title).snap
      val snapB = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Title, "q138t")
      stage(s, d, Fx.Base, "q138b")
      val qs = Seq(graft.corpus.RefQuery(0, "spark query"),
        graft.corpus.RefQuery(1, "join filter"))
      val res = graft.search.Wand.multiMatchSearchSnapshots(s,
        Seq((snapT, 2.0), (snapB, 1.0)), qs, 10, mode = "most_fields")
      hits(s, snapB, res)
    }),

    // ---- multi_match cross_fields: term-centric — each analyzed query
    //      term scores per field on its own, the dis_max fold blends a
    //      term's field scores (tie 0.3), per-term blends sum per doc.
    //      Per-field df (not Lucene's blended df — documented
    //      divergence), so the oracle replays each term's contribution
    //      from the two fields' own staged tokens ----
    "q139_engine_multi_match_cross" -> ((s, d) => {
      val snapT = engineIndex(s, d, Fx.Title).snap
      val snapB = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Title, "q139t")
      stage(s, d, Fx.Base, "q139b")
      val qs = Seq(graft.corpus.RefQuery(0, "spark query"),
        graft.corpus.RefQuery(1, "join filter"))
      val res = graft.search.Wand.multiMatchSearchSnapshots(s,
        Seq((snapT, 2.0), (snapB, 1.0)), qs, 10,
        mode = "cross_fields", tieBreaker = 0.3)
      hits(s, snapB, res)
    }),

    // ---- has_child (parent-join): rank PARENT docs by the sum of their
    //      matching children's BM25 scores; one index holds both roles
    //      (repo splits them), parent key = 3000000000 + path % 64 ----
    "q140_engine_has_child" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.PcJoin).snap
      stage(s, d, Fx.PcJoin, "q140")
      val qs = Seq(graft.corpus.RefQuery(0, "spark query"),
        graft.corpus.RefQuery(1, "join filter"))
      val childKey = (lit(3000000000L) +
        pmod(col("path").cast("long"), lit(PcGroups))).cast("string")
      val res = graft.search.Wand.hasChildSearchSnapshot(s, snap, qs, 10,
        "sum", col("repo") =!= "parent", col("repo") === "parent",
        childKey, col("path"))
      hits(s, snap, res, HitCols :+ col("n_children"))
    }),

    // ---- nested query + inner_hits (the nested-DOCUMENT model): rank
    //      PARENT docs by the avg of their matching nested rows' BM25
    //      scores, each carrying its top-3 inner hits; nested rows live
    //      in the SAME index (path >= 4e9 marks them; parent pointer =
    //      (path - 4e9) / 4), so BM25 stats include them like Lucene ----
    "q169_engine_nested" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Nested).snap
      stage(s, d, Fx.Nested, "q169")
      val qs = Seq(graft.corpus.RefQuery(0, "spark query"),
        graft.corpus.RefQuery(1, "join filter"))
      val pkeyOfNested = floor((col("path").cast("long") - lit(4000000000L))
        / lit(4L)).cast("long").cast("string")
      val res = graft.search.Nested.searchSnapshot(s, snap, qs, 10, "avg",
        col("repo") === "nested", col("repo") =!= "nested",
        pkeyOfNested, col("path"), innerHitsK = 3)
      val nestedPaths = paths(s, snap).toDF("nested_id", "nested_path")
      hits(s, snap, res.join(nestedPaths, "nested_id"),
        HitCols ++ Seq(col("n_nested"), col("inner_rank"),
          col("nested_path").cast("long").as("nested_doc"),
          round(col("inner_score"), 4).as("inner_score")),
        Seq("query_id", "rank", "inner_rank"))
    }),

    // ---- has_parent (parent-join): CHILD docs whose parent matches,
    //      each child carrying its parent's score (score=true) ----
    "q141_engine_has_parent" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.PcJoin).snap
      stage(s, d, Fx.PcJoin, "q141")
      val qs = Seq(graft.corpus.RefQuery(0, "spark query"),
        graft.corpus.RefQuery(1, "group join"))
      val childKey = (lit(3000000000L) +
        pmod(col("path").cast("long"), lit(PcGroups))).cast("string")
      val res = graft.search.Wand.hasParentSearchSnapshot(s, snap, qs, 10,
        col("repo") === "parent", col("repo") =!= "parent",
        col("path"), childKey)
      val parentPaths = paths(s, snap).toDF("parent_id", "parent_path")
      hits(s, snap, res.join(parentPaths, "parent_id"),
        HitCols :+ col("parent_path").cast("long").as("parent_doc"))
    }),

    // ---- synonym groups (Lucene SynonymQuery semantics): member tfs
    //      sum BEFORE BM25 saturation, group df = max member df — a doc
    //      matching several spellings of one concept scores once ----
    "q142_engine_synonyms" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Base, "q142")
      val sq = Seq(
        graft.search.Wand.SynonymQuery(0, Seq(Seq("spark", "sql"), Seq("join"))),
        graft.search.Wand.SynonymQuery(1, Seq(Seq("filter", "where"), Seq("query"))))
      val res = graft.search.Wand.synonymSearchSnapshot(s, snap, sq, 10)
      hits(s, snap, res)
    }),

    // ---- rank_feature (saturation / log / sigmoid, Lucene FeatureField
    //      formulas) riding the text query as a bool-should boost;
    //      feature = dl (the docmap's stored token count). The three
    //      variants share ONE engine pass (featureBoostMulti) — the
    //      round-4 verdict's batching item ----
    "q143_engine_rank_feature" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Base, "q143")
      val qs = Seq(graft.corpus.RefQuery(0, "spark query"),
        graft.corpus.RefQuery(1, "join filter"))
      val res = graft.search.Wand.featureBoostMultiSearchSnapshot(s, snap, qs, 10, "dl",
        Seq(
          "saturation" -> ((fv: org.apache.spark.sql.Column) =>
            graft.search.Wand.rankFeatureExpr(fv, "saturation", 2.0, pivot = 40.0)),
          "log" -> ((fv: org.apache.spark.sql.Column) =>
            graft.search.Wand.rankFeatureExpr(fv, "log", 1.5, scaling = 3.0)),
          "sigmoid" -> ((fv: org.apache.spark.sql.Column) =>
            graft.search.Wand.rankFeatureExpr(fv, "sigmoid", 2.0,
              pivot = 40.0, exponent = 2.0))))
      hits(s, snap, res, col("fn") +: HitCols, Seq("fn", "query_id", "rank"))
    }),

    // ---- distance_feature: boost decays with |feature − origin| ----
    "q144_engine_distance_feature" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Base, "q144")
      val qs = Seq(graft.corpus.RefQuery(0, "spark query"),
        graft.corpus.RefQuery(1, "join filter"))
      val res = graft.search.Wand.featureBoostSearchSnapshot(s, snap, qs, 10,
        "dl", fv => graft.search.Wand.distanceFeatureExpr(fv,
          origin = 60.0, pivot = 15.0, boost = 2.5))
      hits(s, snap, res)
    }),

    // ---- terms lookup: the filter's term list is read from doc 7's
    //      indexed tokens (constant-score filter context) ----
    "q145_engine_terms_lookup" -> ((s, d) => {
      val b = engineIndex(s, d, Fx.Base)
      stage(s, d, Fx.Base, "q145")
      val lid = paths(s, b.snap)
        .filter(col("path") === "7").select("doc_id").head().getString(0)
      hits(s, b.snap, graft.search.Wand.termsLookupSearch(s, b.dir, 0, lid, 10))
    }),

    // ---- scripted_metric: Scala map/combine/reduce where OpenSearch
    //      takes Painless — shard-local combine, ordered reduce ----
    "q146_engine_scripted_metric" -> ((s, d) => {
      import s.implicits._
      val idxDir = engineIndex(s, d, Fx.Base).dir
      stage(s, d, Fx.Base, "q146")
      val qs = Seq(graft.corpus.RefQuery(0, "spark query"),
        graft.corpus.RefQuery(1, "join filter"))
      graft.search.Aggs.scriptedMetricAgg[(Long, Long, Long), (Long, Long, Long)](
          s, idxDir, qs,
          r => (1L, r.getAs[Long]("dl"), r.getAs[Long]("dl")),
          (a, b) => (a._1 + b._1, a._2 + b._2, math.max(a._3, b._3)),
          xs => xs.reduce((a, b) => (a._1 + b._1, a._2 + b._2, math.max(a._3, b._3))))
        .map { case (qid, (c, sdl, mx)) => (qid, c, sdl, mx) }
        .toDF("query_id", "doc_count", "sum_dl", "max_dl")
        .orderBy("query_id")
    }),

    // ---- the _analyze API: the analyzer chain on one doc's text,
    //      token histogram — pins the driver-side tokenizer and the
    //      index's codegen Column tokenizer to each other THROUGH the
    //      oracle (both derive from the same chain; DuckDB arbitrates) ----
    "q147_engine_analyze" -> ((s, d) => {
      import s.implicits._
      stage(s, d, Fx.Base, "q147")
      val txt = t(s, d, "documents").filter(col("doc_id") === 7)
        .select(col("text")).head().getString(0)
      graft.analyze.Tokenizer.tokenize(txt).toSeq.toDF("token")
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy("token")
    }),

    // ---- the search engine itself: full SPIMI build + block-max WAND
    //      over the documents table (rank-identity vs the exact scorer is
    //      asserted in sbt test; the driver records a rows-only check) ----
    "q50_engine_topk" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Base, lifecycle = "idx").snap
      stage(s, d, Fx.Base, "q50")
      val qs = Seq(graft.corpus.RefQuery(0, "spark query join"),
        graft.corpus.RefQuery(1, "filter group sort"),
        graft.corpus.RefQuery(2, "stream batch window"))
      val res = graft.search.Wand.searchSnapshot(s, snap, qs, 10)
      hits(s, snap, res)
    }),

    // ---- configurable analysis chain, stopword filter (the OpenSearch
    //      `stop` token filter): the index is built with a stop chain and
    //      the DuckDB oracle replays the ENTIRE chain independently — it
    //      applies the stop set to the BARE staged tokens (both doc- and
    //      query-side), recomputes dl/avgdl/N over the filtered universe,
    //      and re-derives every BM25 ingredient. Nothing chain-related is
    //      taken on faith ----
    "q167_engine_stop_chain" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.StopChain).snap
      stage(s, d, Fx.StopChain, "q167")
      // each query carries a live stopword — the engine must drop it
      // query-side exactly like the oracle's NOT IN does
      val qs = Seq(graft.corpus.RefQuery(0, "the spark query join"),
        graft.corpus.RefQuery(1, "a filter group sort"),
        graft.corpus.RefQuery(2, "data stream batch window"))
      val res = graft.search.Wand.searchSnapshot(s, snap, qs, 10)
      hits(s, snap, res)
    }),

    // ---- full analysis chain, stop + porter_stem: Porter itself is
    //      pinned by PorterSpec against the official vocabulary; here the
    //      oracle replays everything DOWNSTREAM of the stemmer from a
    //      staged (term → stem) map — conflation ("query"/"queries" →
    //      one posting), df/dl/avgdl over stems, ranking — and the
    //      query-side chain output is hand-pinned in the SQL (the
    //      expected stems appear as literals, not engine output) ----
    "q168_engine_stem_chain" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.StemChain).snap
      stage(s, d, Fx.StemChain, "q168")
      val stemUdf = udf((t: String) => graft.analyze.Porter.stem(t))
      s.read.parquet(s"${stageDir(d)}/q168_toks.parquet")
        .select(col("term")).distinct()
        .withColumn("stem", stemUdf(col("term")))
        .write.mode("overwrite").parquet(s"${stageDir(d)}/q168_stems.parquet")
      // inflected query forms: they only match because both sides stem
      // ("queries" → queri ← "query")
      val qs = Seq(graft.corpus.RefQuery(0, "the queries joined"),
        graft.corpus.RefQuery(1, "sparked filtering groups"))
      val res = graft.search.Wand.searchSnapshot(s, snap, qs, 10)
      hits(s, snap, res)
    }),

    // ---- significant-terms aggregation (JLH): terms over-represented in
    //      each query's match set vs the whole corpus. fg counts come from
    //      the staged token arrays, bg from termstats; the oracle rebuilds
    //      both sides and the JLH scores from the raw staged tokens ----
    "q79_significant_terms" -> ((s, d) => {
      val idxDir = engineIndex(s, d, Fx.Base).dir
      stage(s, d, Fx.Base, "q79")
      val qs = Seq(graft.corpus.RefQuery(0, "spark"),
        graft.corpus.RefQuery(1, "filter group"))
      graft.search.Aggs.significantTerms(s, idxDir, qs, 10)
        .select(col("query_id"), col("rank"), col("term"), col("fg_df"),
          col("bg_df"), round(col("score"), 6).as("score"))
        .orderBy("query_id", "rank")
    }),

    // ---- hybrid retrieval (the OpenSearch hybrid query + rrf processor):
    //      lexical BM25 top-20 from the index fused with semantic cosine
    //      top-20 over the embeddings table by reciprocal-rank fusion.
    //      The oracle recomputes BOTH rankings from staged tokens / the
    //      raw embeddings AND the fusion — nothing is taken on faith ----
    "q78_hybrid_rrf" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Base, "q78")
      val qs = Seq(graft.corpus.RefQuery(0, "spark query join"),
        graft.corpus.RefQuery(1, "filter group sort"))
      val lex = graft.search.Wand.searchSnapshot(s, snap, qs, 20)
        .join(paths(s, snap), "doc_id")
        .select(col("query_id"), col("rank"), col("path").cast("long").as("doc_id"))
      val e = t(s, d, "embeddings")
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("vec"))
      val sem = Similarity.bruteForceTopK(e, e.filter(col("vec_id").isin(0, 1)),
          "vec_id", "vec", 20)
        .select(col("query_id"), col("rank"), col("neighbor_id").as("doc_id"))
      Similarity.rrfFuse(Seq(lex, sem), 10)
        .select(col("query_id"), col("rank"), col("doc_id"),
          round(col("rrf_score"), 6).as("rrf_score"))
        .orderBy("query_id", "rank")
    }),

    // ---- filtered retrieval: a metadata predicate (over docmap columns)
    //      restricts candidates while scores stay full-corpus (Lucene
    //      filter-clause semantics); the accept set travels the segment
    //      shuffle as synthetic zero-score posting runs. The oracle
    //      recomputes BM25 with FULL-corpus stats and a lang filter on the
    //      candidate set only ----
    "q54_engine_filtered" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Base).snap
      // dl rows carry lang so the oracle can filter CANDIDATES by lang
      // while stats/df stay full-corpus
      stage(s, d, Fx.Base, "q54", withLang = true)
      val qs = Seq(graft.corpus.RefQuery(0, "spark query join"),
        graft.corpus.RefQuery(1, "filter group sort"),
        graft.corpus.RefQuery(2, "stream batch window"))
      val res = graft.search.Wand.searchSnapshot(s, snap, qs, 10,
        filter = Some(col("lang") === "fr"))
      hits(s, snap, res)
    }),

    // ---- boolean retrieval (the Lucene/OpenSearch bool query:
    //      must / should / must_not) — the oracle enforces the clause
    //      algebra independently: required-term match counts, NOT EXISTS
    //      exclusion, and BM25 re-scoring over the scoring clauses only ----
    "q58_engine_boolean" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Base, "q58")
      // 'dup' is rare (~5% of docs), the rest common (~80%): the must
      // clause constrains hard, the must_not excludes most of the corpus,
      // and the should clauses shape the ranking — all three do real work
      val bqs = Seq(
        graft.search.BoolQuery.parse(0, "+dup spark query"),
        graft.search.BoolQuery.parse(1, "filter sort -dup"),
        graft.search.BoolQuery.parse(2, "+stream +batch -dup"))
      val res = graft.search.Wand.booleanSearchSnapshot(s, snap, bqs, 10)
      hits(s, snap, res)
    }),

    // ---- sloppy phrase (span_near in-order): up to `slop` extra tokens
    //      may interleave the phrase terms, no reordering; the oracle
    //      replays the 2-term budget rule as a positional pair join
    //      (0 < pos_b - pos_a <= 1 + slop) ----
    "q87_engine_phrase_slop" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Pos).snap
      stage(s, d, Fx.Pos, "q87", positions = true)
      val qs = Seq(graft.corpus.RefQuery(0, "spark query"),
        graft.corpus.RefQuery(1, "query join"),
        graft.corpus.RefQuery(2, "part filter"))
      val res = graft.search.Wand.phraseSearchSnapshot(s, snap, qs, 10, slop = 2)
      hits(s, snap, res)
    }),

    // ---- multi-get (the OpenSearch _mget API): requested identities
    //      resolve to found/live/metadata rows with API totality —
    //      deleted docs show their dead version with live=false, unknown
    //      ids a found=false null row. The oracle replays the rule over
    //      the staged metadata ----
    "q88_engine_mget" -> ((s, d) => {
      val corpus = engineCorpus(s, d)
      val idxDir = engineIndex(s, d, Fx.Base, lifecycle = "mget").dir
      corpus.toDF().filter(!graft.index.IndexBuilder.isBadRow)
        .select(graft.index.IndexBuilder.docIdCol.as("sha_id"),
          col("repo"), col("path"), col("commit"), col("lang"),
          sha2(col("content"), 256).as("sha256"),
          size(graft.analyze.Tokenizer.tokens(col("content"))).cast("long").as("dl"))
        .write.mode("overwrite").parquet(s"${stageDir(d)}/q88_docs.parquet")
      graft.index.IndexBuilder.delete(s, idxDir, col("path") === "0")
      val ids = corpus.toDF().filter(col("path").isin("0", "1", "2"))
        .select(graft.index.IndexBuilder.docIdCol)
        .collect().map(_.getString(0)).toSeq
      graft.index.IndexBuilder.mget(s, idxDir, ids :+ "nosuchid")
        .orderBy("doc_id")
    }),

    // ---- phrase-prefix (match_phrase_prefix, the search-as-you-type
    //      query): fixed tokens as a phrase, the last analyzed token a
    //      dictionary prefix expansion in the next slot; scored over the
    //      fixed terms only. The oracle replays the rule as a positional
    //      pair join with a LIKE 'prefix%' second slot ----
    "q90_engine_phrase_prefix" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Pos).snap
      stage(s, d, Fx.Pos, "q90", positions = true)
      val qs = Seq(graft.corpus.RefQuery(0, "spark que"),
        graft.corpus.RefQuery(1, "part fil"),
        graft.corpus.RefQuery(2, "filter jo"))
      val res = graft.search.Wand.phrasePrefixSearchSnapshot(s, snap, qs, 10)
      hits(s, snap, res)
    }),

    // ---- rescore (the OpenSearch rescore clause, match_phrase rescorer,
    //      score_mode total): base BM25 top-window re-ranked by
    //      qw×base + rw×secondary; for distinct-term queries the phrase
    //      secondary equals the base BM25 over the same terms, so the
    //      oracle replays combined = base × (1 + rw·[phrase-matches]) ----
    "q91_engine_rescore" -> ((s, d) => {
      val b = engineIndex(s, d, Fx.Base)
      stage(s, d, Fx.Base, "q91", positions = true)
      val qs = Seq(graft.corpus.RefQuery(0, "spark query"),
        graft.corpus.RefQuery(1, "part filter"))
      val res = graft.search.Wand.rescorePhrase(s, b.dir, qs, 10, 30,
        slop = 2, queryWeight = 1.0, rescoreWeight = 2.0)
      hits(s, b.snap, res)
    }),

    // ---- function_score (field_value_factor, log1p × multiply): BM25
    //      relevance × ln(1 + path-number) over the FULL match set (field
    //      factors defeat WAND's relevance-only bounds, so scoring is
    //      exact). The oracle replays the identical combine ----
    "q92_engine_function_score" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Base, "q92")
      val qs = Seq(graft.corpus.RefQuery(0, "spark query join"),
        graft.corpus.RefQuery(1, "filter group sort"))
      val res = graft.search.Wand.functionScoreSearchSnapshot(s, snap, qs, 10,
        "path", factor = 1.0, modifier = "log1p", boostMode = "multiply")
      hits(s, snap, res)
    }),

    // ---- completion suggest (autocomplete): top-5 dictionary terms per
    //      prefix by (df desc, term). The oracle recomputes df from the
    //      staged tokens and replays the rank ----
    "q93_engine_complete" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Base, "q93")
      graft.search.Wand.completeSnapshot(s, snap, Seq("que", "spa", "fil"), 5)
        .orderBy("prefix", "rank")
    }),

    // ---- wildcard retrieval (the OpenSearch wildcard query): each query
    //      text is ONE glob (* = any run, ? = one char) matched against
    //      ENTIRE dictionary terms, translated to an anchored regexp by
    //      the pure Wand.wildcardToRegex shared with the oracle builder,
    //      then capped + scored on the regexp path (q82 discipline) ----
    "q94_engine_wildcard" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Base, "q94")
      // maxExpansions=2 keeps the rewrite cap under test, like q82
      val qs = Seq(graft.corpus.RefQuery(0, "s?an*"),
        graft.corpus.RefQuery(1, "qu*ry"),
        graft.corpus.RefQuery(2, "zzz*nope"))
      val res = graft.search.Wand.wildcardSearchSnapshot(s, snap, qs, 10,
        maxExpansions = 2)
      hits(s, snap, res)
    }),

    // ---- dis_max (the OpenSearch dis_max compound): per-sub exact BM25 
    //      over each sub's match set, per-doc max + 0.3 × (sum − max).
    //      The oracle scores each (query, sub) independently from the
    //      staged tokens and replays the identical combine ----
    "q95_engine_dis_max" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Base, "q95")
      val qs = Seq(graft.search.DisMaxQuery(0, Seq("spark query", "join filter")),
        graft.search.DisMaxQuery(1, Seq("group sort", "part")))
      val res = graft.search.Wand.disMaxSearchSnapshot(s, snap, qs, 10,
        tieBreaker = 0.3)
      hits(s, snap, res)
    }),

    // ---- boosting (the OpenSearch boosting compound): the positive
    //      query's match set scored normally; hits also matching the
    //      negative query demoted ×0.4 (never excluded). The oracle
    //      recomputes positive BM25 and the negative membership set from
    //      the staged tokens ----
    "q96_engine_boosting" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Base, "q96")
      val qs = Seq(graft.search.BoostingQuery(0, "spark query", "join"),
        graft.search.BoostingQuery(1, "filter sort", "group"))
      val res = graft.search.Wand.boostingSearchSnapshot(s, snap, qs, 10,
        negativeBoost = 0.4)
      hits(s, snap, res)
    }),

    // ---- percentiles aggregation (the OpenSearch percentiles agg):
    //      exact linear-interpolation quantiles of a numeric docmap
    //      column over each query's match set. The oracle recomputes the
    //      match set from the staged tokens and replays quantile_cont
    //      (the same interpolation Spark's `percentile` uses) ----
    "q97_engine_percentiles" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Base, "q97")
      val qs = Seq(graft.corpus.RefQuery(0, "spark query"),
        graft.corpus.RefQuery(1, "filter group sort"))
      graft.search.Aggs.percentilesAggSnapshot(s, snap, qs, "path",
          Seq(0.25, 0.5, 0.75, 0.95))
        .select(col("query_id"), col("pct"), col("doc_count"),
          round(col("value"), 4).as("value"))
        .orderBy("query_id", "pct")
    }),

    // ---- nested aggs (terms bucket + stats sub-aggregation): top lang
    //      buckets of each query's match set, each with doc_count and
    //      min/max/sum/avg of the path number. The oracle recomputes the
    //      match set, the buckets, and the sub-stats from staged tokens ----
    "q98_engine_facet_stats" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Base, "q98", withLang = true)
      val qs = Seq(graft.corpus.RefQuery(0, "spark query"),
        graft.corpus.RefQuery(1, "filter group sort"))
      graft.search.Aggs.facetStatsAggSnapshot(s, snap, qs, "lang", "path", 3)
        .select(col("query_id"), col("rank"), col("facet"), col("doc_count"),
          round(col("min_v"), 4).as("min_v"), round(col("max_v"), 4).as("max_v"),
          round(col("sum_v"), 4).as("sum_v"), round(col("avg_v"), 4).as("avg_v"))
        .orderBy("query_id", "rank")
    }),

    // ---- constant_score (filter context): every match-set doc scores
    //      exactly the boost, ranked by doc_id asc (the deterministic
    //      _doc-order stand-in the oracle replays verbatim) ----
    "q99_engine_constant_score" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Base, "q99")
      val qs = Seq(graft.corpus.RefQuery(0, "spark query"),
        graft.corpus.RefQuery(1, "filter group"))
      val res = graft.search.Wand.constantScoreSearchSnapshot(s, snap, qs, 10,
        boost = 1.5)
      hits(s, snap, res)
    }),

    // ---- extended_stats aggregation: stats + sum-of-squares, population
    //      variance and stddev of dl over the match set. The oracle
    //      replays the moments with var_pop/stddev_pop ----
    "q100_engine_extended_stats" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Base, "q100")
      val qs = Seq(graft.corpus.RefQuery(0, "spark query"),
        graft.corpus.RefQuery(1, "filter group sort"))
      graft.search.Aggs.extendedStatsAggSnapshot(s, snap, qs, "dl")
        .select(col("query_id"), col("doc_count"),
          round(col("sum_v"), 4).as("sum_v"), round(col("sum_sq"), 4).as("sum_sq"),
          round(col("avg_v"), 4).as("avg_v"), round(col("var_v"), 4).as("var_v"),
          round(col("std_v"), 4).as("std_v"))
        .orderBy("query_id")
    }),

    // ---- percentile_ranks aggregation: the exact empirical CDF × 100 of
    //      dl at each probe value over the match set ----
    "q101_engine_percentile_ranks" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Base, "q101")
      val qs = Seq(graft.corpus.RefQuery(0, "spark query"),
        graft.corpus.RefQuery(1, "filter group sort"))
      graft.search.Aggs.percentileRanksAggSnapshot(s, snap, qs, "dl",
          Seq(100.0, 200.0, 300.0))
        .select(col("query_id"), col("value"), col("doc_count"),
          round(col("pct_rank"), 4).as("pct_rank"))
        .orderBy("query_id", "value")
    }),

    // ---- adjacency_matrix aggregation: per-filter and pairwise-
    //      intersection doc counts over named filters, keyed name /
    //      name1&name2 in ascending-name order ----
    "q102_engine_adjacency" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Base, "q102")
      graft.search.Aggs.adjacencyMatrixAggSnapshot(s, snap,
          Seq(("sq", "spark query"), ("fi", "filter"), ("gr", "group")))
        .orderBy("key")
    }),

    // ---- composite aggregation (bucket paging): the page of lang
    //      buckets strictly AFTER after_key 'go', ascending, size 2 —
    //      the scalable all-buckets pagination contract ----
    "q103_engine_composite" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Base, "q103", withLang = true)
      val qs = Seq(graft.corpus.RefQuery(0, "spark query"),
        graft.corpus.RefQuery(1, "filter group sort"))
      graft.search.Aggs.compositeAggSnapshot(s, snap, qs, "lang", 2,
          afterKey = Some("go"))
        .orderBy("query_id", "facet")
    }),

    // ---- rare_terms aggregation: the long-tail dl buckets
    //      (doc_count <= 2) of each query's match set ----
    "q104_engine_rare_terms" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Base, "q104")
      val qs = Seq(graft.corpus.RefQuery(0, "spark query"),
        graft.corpus.RefQuery(1, "filter group sort"))
      graft.search.Aggs.rareTermsAggSnapshot(s, snap, qs, "dl", 2L)
        .select(col("query_id"), col("facet").cast("long").as("facet"),
          col("doc_count"))
        .orderBy("query_id", "facet")
    }),

    // ---- multi_terms aggregation: top (lang, repo) tuple buckets per
    //      query by doc_count desc with ascending-tuple tie-break ----
    "q105_engine_multi_terms" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Base, "q105", withLang = true, withRepo = true)
      val qs = Seq(graft.corpus.RefQuery(0, "spark query"),
        graft.corpus.RefQuery(1, "filter group sort"))
      graft.search.Aggs.multiTermsAggSnapshot(s, snap, qs,
          Seq("lang", "repo"), 5)
        .orderBy("query_id", "rank")
    }),

    // ---- derivative + cumulative_sum pipeline aggs riding the q80
    //      histogram: first difference of doc_count vs the previous
    //      bucket (null on each query's first bucket) and the running
    //      total in key order. The oracle replays both windows over the
    //      recomputed gap-filled buckets ----
    "q106_engine_derivative" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Base, "q106")
      val qs = Seq(graft.corpus.RefQuery(0, "spark query join"),
        graft.corpus.RefQuery(1, "dup stream"),
        graft.corpus.RefQuery(2, "zzznosuchterm"))
      graft.search.Aggs.derivativeAggSnapshot(s, snap, qs, "dl", 40.0)
        .orderBy("query_id", "key")
    }),

    // ---- moving_fn pipeline agg (unweightedAvg, shift 0): each
    //      histogram bucket averages the PREVIOUS 3 buckets' doc_count
    //      (null first bucket, partial while filling). The oracle replays
    //      the positional window over the densified bucket series ----
    "q115_engine_moving_fn" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Base, "q115")
      val qs = Seq(graft.corpus.RefQuery(0, "spark query join"),
        graft.corpus.RefQuery(1, "dup stream"),
        graft.corpus.RefQuery(2, "zzznosuchterm"))
      graft.search.Aggs.movingFnAggSnapshot(s, snap, qs, "dl", 40.0, 3)
        .select(col("query_id"), col("key"), col("doc_count"),
          round(col("moving_avg"), 4).as("moving_avg"))
        .orderBy("query_id", "key")
    }),

    // ---- moving_percentiles pipeline agg (shift 0): p50/p90 of the
    //      PREVIOUS 4 buckets' doc_count (null first bucket, partial
    //      while filling); exact linear interpolation (percentile ≡
    //      quantile_cont), not a TDigest — windows hold ≤ 4 values. The
    //      oracle replays the windowed quantiles over the densified
    //      bucket series ----
    "q172_engine_moving_percentiles" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Base, "q172")
      val qs = Seq(graft.corpus.RefQuery(0, "spark query join"),
        graft.corpus.RefQuery(1, "dup stream"),
        graft.corpus.RefQuery(2, "zzznosuchterm"))
      graft.search.Aggs.movingPercentilesAggSnapshot(s, snap, qs, "dl", 40.0,
          window = 4, percents = Seq(50.0, 90.0))
        .select(col("query_id"), col("key"), col("doc_count"),
          round(col("p50"), 4).as("p50"), round(col("p90"), 4).as("p90"))
        .orderBy("query_id", "key")
    }),

    // ---- serial_diff pipeline agg (lag 2): doc_count minus the bucket
    //      two key-steps earlier, null while the lag is unfilled ----
    "q116_engine_serial_diff" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Base, "q116")
      val qs = Seq(graft.corpus.RefQuery(0, "spark query join"),
        graft.corpus.RefQuery(1, "dup stream"),
        graft.corpus.RefQuery(2, "zzznosuchterm"))
      graft.search.Aggs.serialDiffAggSnapshot(s, snap, qs, "dl", 40.0, 2)
        .orderBy("query_id", "key")
    }),

    // ---- named queries (_name + matched_queries): top-k hits each list
    //      the named clauses (match-query OR semantics) they satisfy,
    //      name-ascending comma-joined; empty string when none ----
    "q119_engine_matched_queries" -> ((s, d) => {
      val b = engineIndex(s, d, Fx.Base)
      stage(s, d, Fx.Base, "q119")
      val qs = Seq(graft.corpus.RefQuery(0, "spark query"),
        graft.corpus.RefQuery(1, "filter join"))
      val named = Map("has_data" -> "data", "has_group" -> "group sort",
        "never" -> "zzznosuchterm")
      val res = graft.search.Wand.namedQueriesSearch(s, b.dir, qs, named, 10)
      hits(s, b.snap, res, HitCols :+ col("matched_queries"))
    }),

    // ---- max_bucket / min_bucket pipeline aggs: the lang bucket(s)
    //      holding the extreme doc_count, tied keys comma-joined
    //      ascending (the OpenSearch keys array) ----
    "q120_engine_extreme_bucket" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Base, "q120", withLang = true)
      val qs = Seq(graft.corpus.RefQuery(0, "spark query"),
        graft.corpus.RefQuery(1, "dup stream"))
      val mx = graft.search.Aggs.extremeBucketAggSnapshot(s, snap, qs, "lang",
        conjunctive = false, isMax = true).withColumn("side", lit("max"))
      val mn = graft.search.Aggs.extremeBucketAggSnapshot(s, snap, qs, "lang",
        conjunctive = false, isMax = false).withColumn("side", lit("min"))
      mx.unionByName(mn)
        .select(col("query_id"), col("side"), col("keys"), col("value"))
        .orderBy("query_id", "side")
    }),

    // ---- terms_set query (minimum_should_match_field): a doc matches
    //      when it contains at least its OWN per-doc threshold
    //      (1 + path# mod 3) of the query's terms ----
    "q121_engine_terms_set" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Base, "q121")
      val qs = Seq(graft.corpus.RefQuery(0, "spark query join"),
        graft.corpus.RefQuery(1, "filter group sort"))
      val res = graft.search.Wand.termsSetSearchSnapshot(s, snap, qs,
        "1 + pmod(cast(path as bigint), 3)", 10)
      hits(s, snap, res)
    }),

    // ---- rank_eval API: precision/recall@k, MRR, DCG/NDCG@k against a
    //      deterministic rating set (rating = how many of {data, group}
    //      the doc contains). The oracle recomputes every metric from
    //      its own top-k and the same staged ratings ----
    "q122_engine_rank_eval" -> ((s, d) => {
      val corpus = engineCorpus(s, d)
      val idxDir = engineIndex(s, d, Fx.Base).dir
      stage(s, d, Fx.Base, "q122")
      val qs = Seq(graft.corpus.RefQuery(0, "spark query"),
        graft.corpus.RefQuery(1, "filter join"),
        graft.corpus.RefQuery(2, "zzznosuchterm"))
      val toksDf = corpus.toDF().filter(!graft.index.IndexBuilder.isBadRow)
        .select(graft.index.IndexBuilder.docIdCol.as("doc_id"),
          graft.analyze.Tokenizer.tokens(col("content")).as("ts"))
      val docRatings = toksDf.select(col("doc_id"),
        (array_contains(col("ts"), "data").cast("int") +
         array_contains(col("ts"), "group").cast("int")).as("rating"))
        .filter(col("rating") > 0)
      val qidDf = { import s.implicits._; qs.map(_.query_id).toDF("query_id") }
      val ratings = docRatings.crossJoin(qidDf)
      graft.search.Wand.rankEval(s, idxDir, qs, ratings, 10)
        .select(col("query_id"), col("retrieved"), col("relevant_retrieved"),
          round(col("precision"), 4).as("precision"),
          round(col("recall"), 4).as("recall"),
          round(col("mrr"), 4).as("mrr"),
          round(col("dcg"), 4).as("dcg"),
          round(col("ndcg"), 4).as("ndcg"))
        .orderBy("query_id")
    }),

    // ---- auto-interval histogram (auto_date_histogram shape): smallest
    //      1-2-5-ladder interval fitting <= 12 densified buckets, chosen
    //      per query; gap buckets zero-filled ----
    "q123_engine_auto_histogram" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Base, "q123")
      val qs = Seq(graft.corpus.RefQuery(0, "spark query join"),
        graft.corpus.RefQuery(1, "dup stream"))
      graft.search.Aggs.autoHistogramAggSnapshot(s, snap, qs, "dl", 12)
        .orderBy("query_id", "key")
    }),

    // ---- top_metrics agg: metric values of the top-5 docs by dl (not
    //      relevance), doc-id tiebreak ----
    "q124_engine_top_metrics" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Base, "q124")
      val qs = Seq(graft.corpus.RefQuery(0, "spark query"),
        graft.corpus.RefQuery(1, "filter group"))
      val res = graft.search.Aggs.topMetricsAggSnapshot(s, snap, qs,
        "dl", "cast(path as double)", 5)
      hits(s, snap, res, Seq(col("query_id"), col("rank"), col("doc_id"),
        col("sort_value"), col("metric")))
    }),

    // ---- index stats (_stats/_cat analog): the oracle-checkable core —
    //      docs, live docs, dictionary size, total postings — recomputed
    //      by DuckDB from the staged token rows ----
    "q125_engine_index_stats" -> ((s, d) => {
      val idxDir = engineIndex(s, d, Fx.Base).dir
      stage(s, d, Fx.Base, "q125")
      graft.index.IndexBuilder.indexStats(s, idxDir)
        .select(col("docs"), col("live_docs"), col("terms"), col("postings"))
    }),

    // ---- phrase suggester (did-you-mean): unknown tokens replaced by
    //      their best bounded-Levenshtein dictionary candidate
    //      (dist asc, df desc, term asc; prefix guard), known tokens kept;
    //      collate = corrected phrase has a live conjunctive match ----
    "q126_engine_phrase_suggest" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Base, "q126")
      val qs = Seq(graft.corpus.RefQuery(0, "sparc quary"),
        graft.corpus.RefQuery(1, "filtr join"),
        graft.corpus.RefQuery(2, "zzzzzzz query"))
      graft.search.Wand.phraseSuggestSnapshot(s, snap, qs)
        .orderBy("query_id")
    }),

    // ---- pinned query: docs 5 and 17 promoted (in that order, null
    //      score) above the organic BM25 hits, duplicates removed ----
    "q127_engine_pinned" -> ((s, d) => {
      val corpus = engineCorpus(s, d)
      val b = engineIndex(s, d, Fx.Base)
      stage(s, d, Fx.Base, "q127")
      val pinnedIds = corpus.toDF().filter(col("path").isin("5", "17"))
        .select(graft.index.IndexBuilder.docIdCol.as("id"), col("path"))
        .collect().sortBy(_.getString(1).toLong).map(_.getString(0)).toSeq
      val qs = Seq(graft.corpus.RefQuery(0, "spark query"),
        graft.corpus.RefQuery(1, "filter join"))
      val res = graft.search.Wand.pinnedSearch(s, b.dir, qs, pinnedIds, 8)
      hits(s, b.snap, res, HitCols :+ col("pinned"))
    }),

    // ---- weighted_avg agg: sum(dl × path#)/sum(path#) over the match
    //      set, API totality for zero-match queries ----
    "q117_engine_weighted_avg" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Base, "q117")
      val qs = Seq(graft.corpus.RefQuery(0, "spark query join"),
        graft.corpus.RefQuery(1, "dup stream"),
        graft.corpus.RefQuery(2, "zzznosuchterm"))
      graft.search.Aggs.weightedAvgAggSnapshot(s, snap, qs,
        "dl", "cast(path as double)")
        .select(col("query_id"), col("doc_count"),
          round(col("weighted_avg"), 4).as("weighted_avg"))
        .orderBy("query_id")
    }),

    // ---- median_absolute_deviation agg: exact
    //      median(|dl − median(dl)|) per match set (t-digest analog) ----
    "q118_engine_mad" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Base, "q118")
      val qs = Seq(graft.corpus.RefQuery(0, "spark query join"),
        graft.corpus.RefQuery(1, "dup stream"),
        graft.corpus.RefQuery(2, "zzznosuchterm"))
      graft.search.Aggs.madAggSnapshot(s, snap, qs, "dl")
        .select(col("query_id"), col("doc_count"),
          round(col("mad"), 4).as("mad"))
        .orderBy("query_id")
    }),

    // ---- bucket_selector + bucket_sort pipeline aggs over a terms
    //      parent: lang buckets with doc_count and avg(path number);
    //      buckets under the min count are dropped, survivors re-ranked
    //      by the sub-agg metric. The oracle replays selector and sort ----
    "q107_engine_bucket_sort" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Base, "q107", withLang = true)
      val qs = Seq(graft.corpus.RefQuery(0, "spark query"),
        graft.corpus.RefQuery(1, "filter group sort"))
      graft.search.Aggs.bucketSortAggSnapshot(s, snap, qs, "lang", "path",
          minDocCount = 5L, size = 3)
        .select(col("query_id"), col("rank"), col("facet"), col("doc_count"),
          round(col("avg_v"), 4).as("avg_v"))
        .orderBy("query_id", "rank")
    }),

    // ---- stats_bucket sibling pipeline agg: min/max/sum/avg of the
    //      lang terms buckets' doc_counts, one row per query; a no-hit
    //      query reports no row. The oracle nests the two group-bys ----
    "q108_engine_stats_bucket" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Base, "q108", withLang = true)
      val qs = Seq(graft.corpus.RefQuery(0, "spark query"),
        graft.corpus.RefQuery(1, "filter group sort"),
        graft.corpus.RefQuery(2, "zzznosuchterm"))
      graft.search.Aggs.statsBucketAggSnapshot(s, snap, qs, "lang")
        .select(col("query_id"), col("bucket_count"), col("min_bucket"),
          col("max_bucket"), col("sum_bucket"),
          round(col("avg_bucket"), 4).as("avg_bucket"))
        .orderBy("query_id")
    }),

    // ---- filters aggregation with the other bucket: the match set
    //      bucketed by which named term-filter each doc also matches
    //      (overlapping, zero counts reported) plus `_other_` for docs
    //      matching none. The oracle replays both match sets and the
    //      full (query, bucket) grid ----
    "q109_engine_filters" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Base, "q109")
      val qs = Seq(graft.corpus.RefQuery(0, "spark query join"),
        graft.corpus.RefQuery(1, "filter group sort"),
        graft.corpus.RefQuery(2, "zzznosuchterm"))
      graft.search.Aggs.filtersAggSnapshot(s, snap, qs,
          Seq("has_dup" -> "dup", "has_stream" -> "stream"))
        .orderBy("query_id", "filter")
    }),

    // ---- matrix_stats aggregation: joint second moments (means, sample
    //      variances, covariance, Pearson correlation) of dl and the
    //      path number over each query's match set. The oracle replays
    //      the same moments with var_samp/covar_samp/corr ----
    "q110_engine_matrix_stats" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Base, "q110")
      val qs = Seq(graft.corpus.RefQuery(0, "spark query"),
        graft.corpus.RefQuery(1, "filter group sort"))
      graft.search.Aggs.matrixStatsAggSnapshot(s, snap, qs, "dl", "path")
        .select(col("query_id"), col("doc_count"),
          round(col("mean_x"), 4).as("mean_x"),
          round(col("mean_y"), 4).as("mean_y"),
          round(col("var_x"), 4).as("var_x"),
          round(col("var_y"), 4).as("var_y"),
          round(col("covariance"), 4).as("covariance"),
          round(col("correlation"), 4).as("correlation"))
        .orderBy("query_id")
    }),

    // ---- span queries (the Lucene span_* family over the positional
    //      index): span_first+span_or, span_not with pre/post guards,
    //      span_containing and span_within over a span_near chain. The
    //      oracle replays each match set as positional joins over the
    //      staged (sha_id, pos, term) rows — span_near's two-term chain
    //      is the pair rule 0 < pos_b − pos_a ≤ slop + 1, containment a
    //      BETWEEN on the third position — then scores the BM25 sum over
    //      the tree's scoring terms present (span_not scores include
    //      only, containing big only, within little only) ----
    "q111_engine_span" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Pos).snap
      stage(s, d, Fx.Pos, "q111", positions = true)
      import graft.search._
      val qs: Seq[(Int, SpanQuery)] = Seq(
        0 -> SpanFirst(SpanOr(Seq(SpanTerm("data"), SpanTerm("spark"))), 3),
        1 -> SpanNot(SpanNear(Seq(SpanTerm("spark"), SpanTerm("query")), 2),
          SpanTerm("join"), pre = 1, post = 1),
        2 -> SpanContaining(SpanNear(Seq(SpanTerm("spark"), SpanTerm("join")), 4),
          SpanTerm("query")),
        3 -> SpanWithin(SpanNear(Seq(SpanTerm("spark"), SpanTerm("join")), 4),
          SpanTerm("query")))
      val res = Wand.spanSearchSnapshot(s, snap, qs, 10)
      hits(s, snap, res)
    }),

    // ---- span_multi: a prefix pattern as a span clause — expansion
    //      against the term dictionary rewrites to span_or (Lucene's
    //      top_terms rewrite); the oracle re-derives the expansion with
    //      LIKE + the same term-asc first-N cap, then replays the
    //      span_near pair rule and the scoring-terms BM25 sum ----
    "q148_engine_span_multi" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Pos).snap
      stage(s, d, Fx.Pos, "q148", positions = true)
      import graft.search._
      val pm = Wand.spanMulti(s, snap, "q*", maxExpansions = 8)
      val qs: Seq[(Int, SpanQuery)] = Seq(
        0 -> SpanNear(Seq(SpanTerm("spark"), pm), 3),
        1 -> pm)
      val res = Wand.spanSearchSnapshot(s, snap, qs, 10)
      hits(s, snap, res)
    }),

    // ---- indices_boost (the OpenSearch per-index boost clause): the
    //      q73 two-index layout with index 'a' boosted 2x and 'b' 0.5x —
    //      a constant positive multiplier never reorders WITHIN an index,
    //      so it applies after each index's own top-k and only the
    //      cross-index merge order changes (power-of-two factors keep
    //      the double arithmetic exact on both engines). The oracle
    //      recomputes per-half BM25, replays the per-index cut on the
    //      unboosted score, then merges on the boosted one ----
    "q149_engine_indices_boost" -> ((s, d) => {
      val dirA = engineIndex(s, d, Fx.MultA).dir
      val dirB = engineIndex(s, d, Fx.MultB).dir
      stage(s, d, Fx.MultA, "q149a")
      stage(s, d, Fx.MultB, "q149b")
      val qs = Seq(graft.corpus.RefQuery(0, "spark query join"),
        graft.corpus.RefQuery(1, "filter group sort"))
      graft.search.Wand.searchIndexes(s, Seq(dirA, dirB), qs, 10,
        boosts = Map(dirA -> 2.0, dirB -> 0.5))
        .select(col("query_id"), col("rank"),
          when(col("index").contains("multa"), lit("a")).otherwise(lit("b")).as("idx"),
          col("doc_id"), round(col("score"), 4).as("score"))
        .orderBy("query_id", "rank")
    }),

    // ---- exists / missing (the OpenSearch `exists` query and its
    //      must_not complement): every fifth doc is indexed WITHOUT a
    //      lang (null optional metadata is not a bad row); query 0
    //      filters to docs where lang exists, query 1 to docs where it
    //      is missing — same text, full-corpus stats on both (filter
    //      clauses never change scores). The oracle replays both
    //      predicates over the staged nullable lang column ----
    "q150_engine_exists" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Exists).snap
      stage(s, d, Fx.Exists, "q150", withLang = true)
      val text = "spark query join"
      val ex = graft.search.Wand.searchSnapshot(s, snap,
        Seq(graft.corpus.RefQuery(0, text)), 10,
        filter = Some(graft.search.Wand.fieldExists("lang")))
      val mi = graft.search.Wand.searchSnapshot(s, snap,
        Seq(graft.corpus.RefQuery(1, text)), 10,
        filter = Some(graft.search.Wand.fieldMissing("lang")))
      hits(s, snap, ex.unionByName(mi))
    }),

    // ---- ids query (the OpenSearch `ids` term-level query): match
    //      exactly the requested live identities, constant score, no
    //      text and no stats; an unknown id silently matches nothing.
    //      Requested ids derive from literal paths the same way on both
    //      sides (sha256 of the natural key on ours, a path IN-list over
    //      the staged rows on the oracle's) ----
    "q151_engine_ids" -> ((s, d) => {
      val corpus = engineCorpus(s, d)
      val snap = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Base, "q151")
      // request-scale by contract: 5 literal paths -> their sha ids
      val idOf = corpus.toDF().filter(col("path").cast("long").isin(10, 20, 30, 11, 21))
        .select(col("path").cast("long").as("p"),
          graft.index.IndexBuilder.docIdCol.as("id"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val qs = Seq(
        0 -> Seq(10L, 20L, 30L).flatMap(idOf.get),
        1 -> (Seq(11L, 21L).flatMap(idOf.get) :+ "nosuchid"))
      val res = graft.search.Wand.idsSearchSnapshot(s, snap, qs, 10, boost = 1.5)
      hits(s, snap, res)
    }),

    // ---- match_bool_prefix (search-as-you-type): the analyzed text's
    //      last token matches as a dictionary-expanded prefix, earlier
    //      tokens as plain terms, all OR-scored. Query 1's "groupSo"
    //      exercises the analyzer interplay: camelCase splits to
    //      (group, so) and only the LAST raw token becomes the prefix.
    //      The oracle re-derives the expansion with LIKE + the same
    //      ascending first-N cap and replays the OR BM25 ----
    "q152_engine_match_bool_prefix" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Base, "q152")
      val qs = Seq(graft.corpus.RefQuery(0, "spark qu"),
        graft.corpus.RefQuery(1, "filter groupSo"))
      val res = graft.search.Wand.matchBoolPrefixSnapshot(s, snap, qs, 10,
        maxExpansions = 6)
      hits(s, snap, res)
    }),

    // ---- intervals query (the OpenSearch `intervals` DSL): match
    //      rules (ordered / unordered with max_gaps), all_of / any_of
    //      combinators and the not_containing filter, each rewritten
    //      onto the one span algebra both engines share. The oracle
    //      replays every window rule as position self-joins over the
    //      staged (sha_id, pos, term) rows and sums the scoring-term
    //      BM25 exactly like the span oracle ----
    "q153_engine_intervals" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Pos).snap
      stage(s, d, Fx.Pos, "q153", positions = true)
      import graft.search._
      val qs: Seq[(Int, SpanQuery)] = Seq(
        0 -> Intervals.matchRule("spark query", 3, ordered = false),
        1 -> Intervals.allOf(Seq(
          Intervals.matchRule("merge sort", 2, ordered = true),
          Intervals.matchRule("filter", 0, ordered = false)), 5, ordered = false),
        2 -> Intervals.anyOf(Seq(
          Intervals.matchRule("hash join", 1, ordered = true),
          Intervals.matchRule("merge join", 1, ordered = true))),
        3 -> Intervals.notContaining(
          Intervals.matchRule("spark join", 4, ordered = true),
          Intervals.matchRule("query", 0, ordered = false)))
      val res = Wand.spanSearchSnapshot(s, snap, qs, 10)
      hits(s, snap, res)
    }),

    // ---- simple_query_string (the OpenSearch lenient user-facing
    //      query language): AND / OR / NOT / phrase / slop / prefix /
    //      groups, parsed onto the shared span algebra. The oracle
    //      replays each fixed query's boolean structure as position
    //      predicates (phrase adjacency, LIKE + first-N prefix
    //      expansion) and sums the scoring-term BM25 ----
    "q154_engine_simple_qs" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Pos).snap
      stage(s, d, Fx.Pos, "q154", positions = true)
      val texts = Seq(
        0 -> "spark + query",
        1 -> "\"merge sort\" | scan*",
        2 -> "filter + -join",
        3 -> "group sort")
      val res = graft.search.SimpleQueryString.searchSnapshot(s, snap, texts, 10,
        maxExpansions = 6)
      hits(s, snap, res)
    }),

    // ---- query_string (the OpenSearch URI-search q= language):
    //      fielded clauses (lang:en equality, dl:[40 TO 200] range)
    //      compile to ONE Catalyst filter riding the span engine's
    //      filter runs; the text core is the q154 simple_query_string
    //      grammar. The oracle replays both the predicates and the
    //      boolean/phrase/prefix structure over staged rows ----
    "q164_engine_query_string" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Pos).snap
      stage(s, d, Fx.Pos, "q164", withLang = true, positions = true)
      val texts = Seq(
        0 -> "lang:en spark + query",
        1 -> "dl:[40 TO 200] \"merge sort\" | scan*")
      val res = graft.search.QueryString.searchSnapshot(s, snap, texts, 10,
        allowedFields = Set("lang", "dl"), maxExpansions = 6)
      hits(s, snap, res)
    }),

    // ---- bucket_script pipeline agg: per dl-histogram bucket, the
    //      script metric_sum/doc_count (mean path-id per bucket) over
    //      the doc_count and sum(path-as-number) sub-aggs — Scala
    //      Column math in Painless's role. The oracle recomputes both
    //      sub-aggs and the division over its densified spine ----
    "q165_engine_bucket_script" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Base, "q165")
      val qs = Seq(graft.corpus.RefQuery(0, "spark query join"),
        graft.corpus.RefQuery(1, "dup stream"))
      graft.search.Aggs.bucketScriptAggSnapshot(s, snap, qs, "dl", 40.0,
          "path", (n, m) => m / n)
        .select(col("query_id"), col("key"), col("doc_count"),
          round(col("metric"), 4).as("metric"),
          round(col("script"), 6).as("script"))
        .orderBy("query_id", "key")
    }),

    // ---- normalize pipeline agg (the OpenSearch `normalize` agg):
    //      the q80 histogram's bucket series rescaled three ways —
    //      percent_of_sum, rescale_0_1, z-score (population σ) — one
    //      row per (query, bucket, method). The oracle recomputes all
    //      three from its own densified histogram ----
    "q162_engine_normalize" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Base, "q162")
      val qs = Seq(graft.corpus.RefQuery(0, "spark query join"),
        graft.corpus.RefQuery(1, "dup stream"))
      graft.search.Aggs.NormalizeMethods.toSeq.sorted.map { m =>
        graft.search.Aggs.normalizeAggSnapshot(s, snap, qs, "dl", 40.0, m)
          .withColumn("method", lit(m))
      }.reduce(_ unionByName _)
        .select(col("query_id"), col("method"), col("key"), col("doc_count"),
          round(col("normalized"), 6).as("normalized"))
        .orderBy("query_id", "method", "key")
    }),

    // ---- cumulative_cardinality pipeline agg: distinct langs seen in
    //      dl-histogram buckets up to each bucket, computed via
    //      first-appearance counts (no per-bucket distinct sets). The
    //      oracle recomputes with min-bucket-per-value + a running sum ----
    "q163_engine_cumulative_card" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Base, "q163", withLang = true)
      val qs = Seq(graft.corpus.RefQuery(0, "spark query join"),
        graft.corpus.RefQuery(1, "dup stream"))
      graft.search.Aggs.cumulativeCardinalityAggSnapshot(s, snap, qs, "dl",
          40.0, "lang")
        .orderBy("query_id", "key")
    }),

    // ---- date_histogram with calendar interval (the OpenSearch
    //      `date_histogram` agg, `calendar_interval: day`,
    //      min_doc_count 0): per (event_type, day) doc_count and
    //      sum(value), with EMPTY calendar days zero-filled across the
    //      data's [min, max] span — the bucket spine is generated with
    //      sequence(), no driver loop; the oracle replays with
    //      generate_series + date_trunc ----
    "q161_date_histogram" -> ((s, d) => {
      val ev = t(s, d, "events")
        .select(col("event_type"), to_date(col("ts")).as("day"), col("value"))
      val counts = ev.groupBy("event_type", "day")
        .agg(count(lit(1)).as("doc_count"),
          round(sum(col("value")), 4).as("sum_value"))
      val bounds = ev.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      val spine = bounds
        .select(explode(sequence(col("lo"), col("hi"),
          expr("interval 1 day"))).as("day"))
      val types = ev.select(col("event_type")).distinct()
      spine.crossJoin(types)
        .join(counts, Seq("event_type", "day"), "left")
        .select(col("event_type"), col("day").cast("string").as("day"),
          coalesce(col("doc_count"), lit(0L)).as("doc_count"),
          coalesce(col("sum_value"), lit(0.0)).as("sum_value"))
        .orderBy("event_type", "day")
    }),

    // ---- rate agg (the OpenSearch `rate` agg inside a date_histogram,
    //      `unit: hour`): each day bucket's doc_count and value sum
    //      rescaled to a per-hour rate — pure column math over the q161
    //      calendar buckets (compose-existing-ops, no new machinery);
    //      zero-filled days rate 0 like their counts ----
    "q166_event_rate" -> ((s, d) => {
      val ev = t(s, d, "events")
        .select(col("event_type"), to_date(col("ts")).as("day"), col("value"))
      val counts = ev.groupBy("event_type", "day")
        .agg(count(lit(1)).as("doc_count"), sum(col("value")).as("sv"))
      val bounds = ev.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      val spine = bounds.select(explode(sequence(col("lo"), col("hi"),
        expr("interval 1 day"))).as("day"))
      val types = ev.select(col("event_type")).distinct()
      spine.crossJoin(types)
        .join(counts, Seq("event_type", "day"), "left")
        .select(col("event_type"), col("day").cast("string").as("day"),
          round(coalesce(col("doc_count"), lit(0L)) / lit(24.0), 6).as("docs_per_hour"),
          round(round(coalesce(col("sv"), lit(0.0)), 4) / lit(24.0), 6).as("value_per_hour"))
        .orderBy("event_type", "day")
    }),

    // ---- index rollover (the OpenSearch ILM rollover + write/search
    //      alias pattern): three batches ingest under a max_docs policy
    //      — batch 1 builds gen 1, batch 2 appends to it, batch 3 finds
    //      it full and ROLLS to gen 2; the search alias then spans both
    //      generations and the query is the q73 multi-index merge (each
    //      generation scores with its own stats). Fresh lifecycle dirs
    //      every run — the measured work IS the rollover ----
    "q160_engine_rollover" -> ((s, d) => {
      val corpus = engineCorpus(s, d)
      val b0 = corpus.filter(col("path").cast("long") % 3 === 0)
      val b1 = corpus.filter(col("path").cast("long") % 3 === 1)
      val b2 = corpus.filter(col("path").cast("long") % 3 === 2)
      stageCorpus(s, d, b0.unionAll(b1)
        .as(org.apache.spark.sql.Encoders.product[graft.corpus.SourceFile]), "q160a")
      stageCorpus(s, d, b2, "q160b")
      val root = s"$ScratchRoot/tmp/rollover-${new java.io.File(d).getName}"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
      val cfg = graft.index.BuildConfig(numShards = 4, commitEvery = 4)
      val maxDocs = b0.count() + 1
      val r1 = graft.table.Rollover.ingest(s, root, "docs", b0, maxDocs, cfg)
      val r2 = graft.table.Rollover.ingest(s, root, "docs", b1, maxDocs, cfg)
      val r3 = graft.table.Rollover.ingest(s, root, "docs", b2, maxDocs, cfg)
      require(r1._2 && !r2._2 && r3._2 && r1._1 == r2._1 && r1._1 != r3._1,
        s"rollover policy mis-fired: $r1 $r2 $r3")
      val qs = Seq(graft.corpus.RefQuery(0, "spark query join"),
        graft.corpus.RefQuery(1, "filter group sort"))
      graft.search.Wand.searchAlias(s, root,
          graft.table.Rollover.searchAlias("docs"), qs, 10)
        .select(col("query_id"), col("rank"),
          when(col("index").contains("gen000001"), lit("a")).otherwise(lit("b")).as("idx"),
          col("doc_id"), round(col("score"), 4).as("score"))
        .orderBy("query_id", "rank")
    }),

    // ---- combined_fields (simplified BM25F): title (first-120-chars
    //      field, weight 2) and body merge their per-field tf and dl
    //      into ONE pseudo-field before a single BM25 — statistics
    //      merge, vs multi_match's per-field SCORE combine. The oracle
    //      rebuilds ctf/cdl/df/N/avgdl from the two staged token sets
    //      and replays the one formula ----
    "q159_engine_combined_fields" -> ((s, d) => {
      val snapT = engineIndex(s, d, Fx.Title).snap
      val snapB = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Title, "q159t")
      stage(s, d, Fx.Base, "q159b")
      val qs = Seq(graft.corpus.RefQuery(0, "spark query"),
        graft.corpus.RefQuery(1, "join filter"))
      val res = graft.search.Wand.combinedFieldsSearchSnapshots(s,
        Seq((snapB, 1.0), (snapT, 2.0)), qs, 10)
      hits(s, snapB, res)
    }),

    // ---- scroll (the OpenSearch scroll API, fully drained): the FULL
    //      match set in exact BM25 order with page assignment — rank r
    //      lands on page (r-1)/pageSize + 1. EngineSpec separately pins
    //      drain == the real search_after page loop and the PIT snapshot
    //      contract; the oracle replays the full ranked export.
    //      Tie order: the engine pages by (score desc, shard, ord) — the
    //      shard-local _shard_doc key search_after prunes on — so the
    //      docmap ADDRESS of each live doc is staged and the oracle
    //      orders by the same staged key (scoring itself is recomputed
    //      independently; only the arbitrary-but-pinned tie key is
    //      shared, the minhash-signature staging discipline) ----
    "q158_engine_scroll" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Base, "q158")
      graft.table.Tables.docmap(s, snap)
        .select(col("doc_id").as("sha_id"), col("shard"), col("ord"))
        .write.mode("overwrite").parquet(s"${stageDir(d)}/q158_addr.parquet")
      val qs = Seq(graft.corpus.RefQuery(0, "dup stream"),
        graft.corpus.RefQuery(1, "vector hash"))
      val res = graft.search.Wand.scrollDrainSnapshot(s, snap, qs, 25)
      hits(s, snap, res, Seq(col("query_id"), col("page"), col("rank"),
        col("doc_id"), col("score")))
    }),

    // ---- hybrid search with score normalization (the OpenSearch 2.x
    //      hybrid query + normalization processor, the score-preserving
    //      alternative to q78's RRF): BM25 and cosine lists min_max-
    //      normalized per query, combined as the 0.7/0.3 weighted
    //      arithmetic mean with absent-list docs contributing 0. The
    //      oracle recomputes both lists, both normalizations, and the
    //      mean ----
    "q157_hybrid_minmax" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Base, "q157")
      val qs = Seq(graft.corpus.RefQuery(0, "spark query join"),
        graft.corpus.RefQuery(1, "filter group sort"))
      val lex = graft.search.Wand.searchSnapshot(s, snap, qs, 20)
        .join(paths(s, snap), "doc_id")
        .select(col("query_id"), col("path").cast("long").as("doc_id"),
          col("score"))
      val e = t(s, d, "embeddings")
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("vec"))
      val sem = Similarity.bruteForceTopK(e, e.filter(col("vec_id").isin(0, 1)),
          "vec_id", "vec", 20)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("cosine").as("score"))
      Similarity.normalizedFuse(Seq((lex, 0.7), (sem, 0.3)), 10)
        .select(col("query_id"), col("rank"), col("doc_id"),
          round(col("hybrid_score"), 6).as("hybrid_score"))
        .orderBy("query_id", "rank")
    }),

    // ---- boxplot aggregation (the OpenSearch `boxplot` agg): exact
    //      five-number summary of dl over each query's match set plus
    //      the IQR whiskers (smallest/largest ACTUAL datum within
    //      1.5·IQR of the box). The oracle recomputes quantile_cont and
    //      the conditional extrema from the staged rows ----
    "q155_engine_boxplot" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Base, "q155")
      val qs = Seq(graft.corpus.RefQuery(0, "spark query join"),
        graft.corpus.RefQuery(1, "dup stream"),
        graft.corpus.RefQuery(2, "zzznosuchterm"))
      graft.search.Aggs.boxplotAggSnapshot(s, snap, qs, "dl")
        .select(col("query_id"), col("doc_count"),
          col("min").cast("long").as("min_dl"),
          round(col("q1"), 4).as("q1"), round(col("q2"), 4).as("q2"),
          round(col("q3"), 4).as("q3"),
          col("max").cast("long").as("max_dl"),
          col("lower").cast("long").as("lower_w"),
          col("upper").cast("long").as("upper_w"))
        .orderBy("query_id")
    }),

    // ---- t_test aggregation (the OpenSearch `t_test` agg, two filters
    //      over one field): Welch t statistic + Welch–Satterthwaite df
    //      between the en / non-en sub-populations of each match set,
    //      and the pooled (homoscedastic) variant for query 0. The
    //      oracle recomputes both from var_samp over the staged rows ----
    "q156_engine_t_test" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Base, "q156", withLang = true)
      val qs = Seq(graft.corpus.RefQuery(0, "spark query join"),
        graft.corpus.RefQuery(1, "dup stream"))
      val fA = col("lang") === "en"
      val fB = col("lang") =!= "en"
      val welch = graft.search.Aggs.tTestAggSnapshot(s, snap, qs, "dl", fA, fB)
        .withColumn("mode", lit("welch"))
      val pooled = graft.search.Aggs.tTestAggSnapshot(s, snap, qs.take(1), "dl",
        fA, fB, homoscedastic = true)
        .withColumn("mode", lit("pooled"))
      welch.unionByName(pooled)
        .select(col("query_id"), col("mode"), col("n_a"), col("n_b"),
          round(col("t_stat"), 4).as("t_stat"), round(col("df"), 4).as("df"))
        .orderBy("query_id", "mode")
    }),

    // ---- sampler aggregation (the OpenSearch sampler bucket agg):
    //      a terms sub-agg over only the top-`sampleSize` best-scoring
    //      hits (deterministic global cut, (score desc, sha) order —
    //      the documented divergence from per-shard sampling). The
    //      oracle replays the cut as a rank window over its own BM25
    //      scores ----
    "q112_engine_sampler" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Base, "q112", withLang = true)
      val qs = Seq(graft.corpus.RefQuery(0, "spark query"),
        graft.corpus.RefQuery(1, "filter join group"))
      graft.search.Aggs.samplerAggSnapshot(s, snap, qs, "lang", 30)
        .orderBy("query_id", "value")
    }),

    // ---- diversified_sampler: same cut, but at most max_docs_per_value
    //      docs per repo survive (in score order) BEFORE the sample cut,
    //      so one dominant repo can't flood the sample ----
    "q113_engine_div_sampler" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Base, "q113", withLang = true, withRepo = true)
      val qs = Seq(graft.corpus.RefQuery(0, "spark query"),
        graft.corpus.RefQuery(1, "filter join group"))
      graft.search.Aggs.diversifiedSamplerAggSnapshot(s, snap, qs, "lang", 30,
        "repo", 3)
        .orderBy("query_id", "value")
    }),

    // ---- highlighting (the OpenSearch highlight fetch phase, token-level
    //      unified-highlighter contract): top-k hits each carry the
    //      densest fragment window starting at a matched position, query
    //      terms wrapped in <em> tags. The oracle recomputes the top-k,
    //      the best window (count desc, start asc over matched starts)
    //      and the tagged string_agg from the staged positional rows ----
    "q114_engine_highlight" -> ((s, d) => {
      val b = engineIndex(s, d, Fx.Base)
      stage(s, d, Fx.Base, "q114", positions = true)
      val qs = Seq(graft.corpus.RefQuery(0, "spark query"),
        graft.corpus.RefQuery(1, "filter join"))
      val res = graft.search.Wand.highlightSearch(s, b.dir, qs, 10, fragSize = 8)
      hits(s, b.snap, res, HitCols :+ col("highlight"))
    }),

    // ---- field collapse (the OpenSearch collapse clause): ranked hits
    //      with duplicates-by-lang removed — best doc per lang, then a
    //      global re-rank. The oracle replays both windows over the
    //      staged tokens ----
    "q89_engine_collapse" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Base, "q89", withLang = true)
      val qs = Seq(graft.corpus.RefQuery(0, "spark query join"),
        graft.corpus.RefQuery(1, "filter group sort"))
      val res = graft.search.Wand.collapseSearchSnapshot(s, snap, qs, "lang", 3)
      hits(s, snap, res, Seq(col("query_id"), col("rank"), col("doc_id"),
        col("collapse_key"), col("score")))
    }),

    // ---- boosted retrieval (the Lucene/OpenSearch term^boost caret
    //      operator): per-term weights scale contributions and pruning
    //      bounds together; the oracle re-scores BM25 with the identical
    //      per-(query, term) multipliers ----
    "q86_engine_boosted" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Base, "q86")
      val qs = Seq(graft.corpus.RefQuery(0, "spark^2 query"),
        graft.corpus.RefQuery(1, "join^0.5 filter^4"))
      val res = graft.search.Wand.boostedSearchSnapshot(s, snap, qs, 10)
      hits(s, snap, res)
    }),

    // ---- minimum_should_match (the OpenSearch bool-query parameter): a
    //      hit must match at least N should terms — the quota FILTERS,
    //      never re-scores; a quota above |should| is satisfiable by no
    //      doc (query 2 returns zero rows). The oracle recounts should
    //      matches per hit and applies the identical quota ----
    "q84_engine_min_should_match" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Base, "q84")
      val bqs = Seq(
        graft.search.BoolQuery.of(0, must = "spark",
          should = "query join filter", mustNot = "", minShouldMatch = 2),
        graft.search.BoolQuery.of(1, must = "",
          should = "query join filter", mustNot = "", minShouldMatch = 2),
        graft.search.BoolQuery.of(2, must = "spark",
          should = "query join", mustNot = "", minShouldMatch = 3))
      val res = graft.search.Wand.booleanSearchSnapshot(s, snap, bqs, 10)
      hits(s, snap, res)
    }),

    // ---- prefix (wildcard) retrieval: '*'-suffixed words expand against
    //      the committed term dictionary, capped per prefix in ascending
    //      term order (Lucene MultiTermQuery rewrite); the oracle
    //      reproduces the expansion itself (LIKE + ORDER BY + LIMIT over
    //      the staged vocabulary) and re-scores the expanded OR query ----
    "q59_engine_prefix" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Base, "q59")
      // maxExpansions=4 on a 6-term 's' prefix: the cap itself is under
      // test (first 4 dictionary terms ascending — scan, slow, small,
      // sort — NOT the highest-df ones)
      val qs = Seq(graft.corpus.RefQuery(0, "s* query"),
        graft.corpus.RefQuery(1, "wind* hash"))
      val res = graft.search.Wand.prefixSearchSnapshot(s, snap, qs, 10, maxExpansions = 4)
      hits(s, snap, res)
    }),

    // ---- facet counts (the OpenSearch terms-aggregation analog): doc
    //      counts per metadata bucket over each query's FULL match set,
    //      derived from the compressed postings; the oracle recomputes
    //      the match sets and bucket counts from staged tokens ----
    "q60_engine_facets" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Base, "q60", withLang = true)
      val qs = Seq(graft.corpus.RefQuery(0, "spark query join"),
        graft.corpus.RefQuery(1, "filter group sort"),
        graft.corpus.RefQuery(2, "dup stream batch"))
      graft.search.Aggs.facetCountsSnapshot(s, snap, qs, "lang")
        .orderBy("query_id", "facet")
    }),

    // ---- hit highlighting (the OpenSearch plain-highlighter analog):
    //      snippet = fixed window around the first query-term occurrence
    //      in the source text; the oracle re-ranks AND re-extracts every
    //      snippet with position/substring over the raw table ----
    "q61_engine_highlight" -> ((s, d) => {
      import s.implicits._
      val corpus = engineCorpus(s, d)
      val snap = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Base, "q61")
      val qs = Seq(graft.corpus.RefQuery(0, "spark query join"),
        graft.corpus.RefQuery(1, "filter group sort"),
        graft.corpus.RefQuery(2, "stream batch window"))
      val res = graft.search.Wand.searchSnapshot(s, snap, qs, 10)
      val top = res.join(paths(s, snap), "doc_id").select("query_id", "rank", "doc_id", "path")
      val docsDf = corpus.toDF().filter(!graft.index.IndexBuilder.isBadRow)
        .select(graft.index.IndexBuilder.docIdCol.as("doc_id"), col("content"))
      val qTermsDf = qs.flatMap(q =>
        graft.search.Golden.queryTerms(q.text).map(t => (q.query_id, t)))
        .toDF("query_id", "term")
      TextOps.highlightSnippets(top, docsDf, qTermsDf, before = 20, width = 60)
        .select(col("query_id"), col("rank"),
          col("path").cast("long").as("doc_id"), col("snippet"))
        .orderBy("query_id", "rank")
    }),

    // ---- more-like-this (the OpenSearch more_like_this query): the
    //      source doc's tf×idf-ranked interesting terms become an OR
    //      query, source excluded; the oracle reproduces the SELECTION
    //      (window over tf×idf) and the BM25 ranking independently ----
    "q62_engine_more_like_this" -> ((s, d) => {
      val corpus = engineCorpus(s, d)
      val snap = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Base, "q62")
      // sources = docs 0/1/2 of the table; query_id doubles as the
      // source's numeric id so the oracle can exclude it by equality
      val sources = corpus.toDF().filter(col("path").isin("0", "1", "2"))
        .select(col("path").cast("int").as("query_id"),
          graft.index.IndexBuilder.docIdCol.as("doc_id"), col("content"))
      val res = graft.search.Wand.moreLikeThisSnapshot(s, snap, sources, 10,
        maxQueryTerms = 10, minTermFreq = 2, minDocFreq = 2)
      hits(s, snap, res)
    }),

    // ---- total-hit counts (the _count API): live docs matching each
    //      query in OR and match-all mode, straight from the postings;
    //      the oracle recounts the match sets from staged tokens ----
    "q63_engine_match_counts" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Base, "q63")
      val qs = Seq(graft.corpus.RefQuery(0, "spark query join"),
        graft.corpus.RefQuery(1, "dup stream"),
        graft.corpus.RefQuery(2, "filter sort group"))
      val or = graft.search.Aggs.matchCountsSnapshot(s, snap, qs)
        .withColumn("mode", lit("or"))
      val and = graft.search.Aggs.matchCountsSnapshot(s, snap, qs, conjunctive = true)
        .withColumn("mode", lit("and"))
      or.unionByName(and).select("query_id", "mode", "doc_count")
        .orderBy("query_id", "mode")
    }),

    // ---- paragraph-level corpus dedup (RefinedWeb's boilerplate rule
    //      one unit up from q47's line dedup): blank-line-separated
    //      paragraphs shared by >= 2 docs are stripped everywhere ----
    "q64_dedup_paragraphs" -> ((s, d) => {
      val aug = t(s, d, "documents").select(col("doc_id"),
        concat(col("text"),
          lit("\n\nshared footer paragraph\nsecond line of footer"),
          lit("\n\nunique tail "), col("doc_id").cast("string")).as("t"))
      TextOps.dedupParagraphs(aug, "doc_id", "t", minDocs = 2)
        .select(col("id").cast("long").as("doc_id"), col("clean"))
        .orderBy("doc_id")
    }),

    // ---- score explanation (the _explain API): per-term BM25 breakdown
    //      (tf, dl, df, idf, norm, contribution) for chosen (query, doc)
    //      pairs, read back from the compressed postings; the oracle
    //      recomputes every ingredient from staged tokens ----
    "q65_engine_explain" -> ((s, d) => {
      import s.implicits._
      val corpus = engineCorpus(s, d)
      val snap = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Base, "q65")
      val qs = Seq(graft.corpus.RefQuery(0, "spark query join"),
        graft.corpus.RefQuery(1, "filter group sort"),
        graft.corpus.RefQuery(2, "stream batch window"))
      val targets = corpus.toDF().filter(col("path").isin("0", "1", "2"))
        .select(graft.index.IndexBuilder.docIdCol.as("doc_id"),
          col("path").cast("long").as("num_id"))
      val ids = targets.select("doc_id").as[String].collect().toSeq
      graft.search.Wand.explainSnapshot(s, snap, qs, ids)
        .join(targets, "doc_id")
        .select(col("query_id"), col("num_id").as("doc_id"), col("term"),
          col("tf"), col("dl"), col("df"),
          round(col("idf"), 4).as("idf"),
          round(col("tf_norm"), 4).as("tf_norm"),
          round(col("contribution"), 4).as("contribution"))
        .orderBy("query_id", "doc_id", "term")
    }),

    // ---- fuzzy retrieval (the Lucene FuzzyQuery analog): `~`-suffixed
    //      words expand against the committed term dictionary by bounded
    //      PLAIN Levenshtein distance (no transpositions — deliberately
    //      the ANSI/DuckDB semantics so the oracle can reproduce the
    //      expansion with levenshtein()), capped per word in ascending
    //      (distance, term) order; the expanded OR query is re-scored
    //      independently by the oracle ----
    "q66_engine_fuzzy" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Base, "q66")
      // misspelled words: sparc→spark(1), strem→stream(1); sort~ also
      // catches part(2) — multi-term expansions at maxEdits=2
      val qs = Seq(graft.corpus.RefQuery(0, "sparc~ query"),
        graft.corpus.RefQuery(1, "strem~ batch"),
        graft.corpus.RefQuery(2, "sort~ merge"))
      val res = graft.search.Wand.fuzzySearchSnapshot(s, snap, qs, 10,
        maxEdits = 2, maxExpansions = 8)
      hits(s, snap, res)
    }),

    // ---- fuzzy match with TRANSPOSITIONS=TRUE (the Lucene FuzzyQuery
    //      DEFAULT — the one fidelity delta left open in round 3): an
    //      adjacent swap costs ONE edit under the unrestricted
    //      Damerau–Levenshtein metric. Every query below reaches its
    //      intended term ONLY via a transposition at maxEdits=1 (plain
    //      Levenshtein prices a swap at 2), so a silent regression to the
    //      plain metric changes the expansion and fails the oracle — which
    //      replays it independently with DuckDB's damerau_levenshtein ----
    "q130_engine_fuzzy_transpositions" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Base, "q130")
      // transposed misspellings: sprak→spark, qeury→query, osrt→sort —
      // all Damerau distance 1, all plain-Levenshtein distance 2
      val qs = Seq(graft.corpus.RefQuery(0, "sprak~ query"),
        graft.corpus.RefQuery(1, "qeury~ batch"),
        graft.corpus.RefQuery(2, "osrt~ merge"))
      val res = graft.search.Wand.fuzzySearchSnapshot(s, snap, qs, 10,
        maxEdits = 1, maxExpansions = 8, transpositions = true)
      hits(s, snap, res)
    }),

    // ---- match query with fuzziness: AUTO (no per-word ~ markup —
    //      EVERY term carries its own length-derived edit budget: 0
    //      under 3 chars, 1 for 3–5, 2 from 6; Damerau metric, the
    //      Lucene match default). One length-band dictionary pass for
    //      all budgets; the oracle replays each word's expansion via
    //      damerau_levenshtein with its own budget and cap ----
    "q173_engine_match_fuzziness" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Base, "q173")
      // socre (5 ch -> 1 edit), filtre (6 ch -> 2 edits), db (2 ch -> 0
      // edits, exact only), qery (4 ch -> 1 edit), shufle (6 -> 2)
      val qs = Seq(graft.corpus.RefQuery(0, "socre filtre"),
        graft.corpus.RefQuery(1, "db qery"),
        graft.corpus.RefQuery(2, "shufle zz"))
      val res = graft.search.Wand.matchFuzzySearchSnapshot(s, snap, qs, 10,
        fuzziness = "AUTO", maxExpansions = 8)
      hits(s, snap, res)
    }),

    // ---- significant_text: JLH significance over RUNTIME re-analysis
    //      of a free-text field (no index-time fielddata — the agg's
    //      defining trait), with OpenSearch's filter_duplicate_text as
    //      exact-text dedup. The corpus gains 5 byte-identical clones so
    //      the raw and dedup variants visibly diverge; the oracle
    //      recomputes match sets, the text dedup, fg/bg stats and JLH
    //      from the staged source rows — nothing taken on faith ----
    "q174_engine_significant_text" -> ((s, d) => {
      val corpus = Fx.SigText.corpus(s, d)
      val snap = engineIndex(s, d, Fx.SigText).snap
      stage(s, d, Fx.SigText, "q174")
      corpus.toDF().filter(!graft.index.IndexBuilder.isBadRow)
        .select(col("path").cast("long").as("doc_id"), col("content").as("text"))
        .write.mode("overwrite").parquet(s"${stageDir(d)}/q174_src.parquet")
      // the engine-side text source is keyed by the INDEX identity
      val src = corpus.toDF().filter(!graft.index.IndexBuilder.isBadRow)
        .select(graft.index.IndexBuilder.docIdCol.as("doc_id"),
          col("content").as("text"))
      val qs = Seq(graft.corpus.RefQuery(0, "spark"),
        graft.corpus.RefQuery(1, "filter group"))
      val raw = graft.search.Aggs.significantTextSnapshot(s, snap, qs, 10, src)
      val ded = graft.search.Aggs.significantTextSnapshot(s, snap, qs, 10, src,
        filterDuplicateText = true)
      raw.withColumn("fn", lit("raw"))
        .unionByName(ded.withColumn("fn", lit("dedup")))
        .select(col("fn"), col("query_id"), col("rank"), col("term"),
          col("fg_df"), col("bg_df"), round(col("score"), 6).as("score"))
        .orderBy("fn", "query_id", "rank")
    }),

    // ---- search_as_you_type (edge_ngram analysis chain): the index
    //      stores leading-edge grams 2..8 of every token; typed prefixes
    //      match the stored grams verbatim (the query chain strips the
    //      expansion). The oracle regenerates the FULL gram expansion
    //      from the bare staged tokens (generate_series + substr),
    //      recomputes gram dl/avgdl/N/df, and re-derives BM25 — the
    //      whole index-side chain is replayed independently ----
    "q175_engine_search_as_you_type" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Sayt).snap
      stage(s, d, Fx.Sayt, "q175")
      val qs = Seq(graft.corpus.RefQuery(0, "spar"),
        graft.corpus.RefQuery(1, "fil gro"),
        graft.corpus.RefQuery(2, "windo"))
      val res = graft.search.Wand.searchSnapshot(s, snap, qs, 10)
      hits(s, snap, res)
    }),

    // ---- shingle chain (the search_as_you_type `_2gram` subfield):
    //      both sides emit word bigrams, so a multi-word query matches
    //      only docs containing the contiguous pair — phrase semantics
    //      through plain BM25. The oracle rebuilds every bigram from
    //      POSITIONAL staged tokens (pos p joined to p+1), recomputes
    //      bigram dl/avgdl/N/df and BM25, and shingles the query in
    //      SQL as literals ----
    "q176_engine_shingle_2gram" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Shingle).snap
      stage(s, d, Fx.Shingle, "q176", positions = true)
      val qs = Seq(graft.corpus.RefQuery(0, "batch window"),
        graft.corpus.RefQuery(1, "group sort agg"))
      val res = graft.search.Wand.searchSnapshot(s, snap, qs, 10)
      hits(s, snap, res)
    }),

    // ---- stats + cardinality aggregations (the OpenSearch stats and
    //      cardinality aggregations) over each query's FULL live match
    //      set, straight from the compressed postings; the oracle
    //      recomputes match sets, the five statistics, and the distinct
    //      count from staged tokens. A no-hit query reports count 0 /
    //      null stats (API totality) ----
    "q67_engine_stats" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Base, "q67", withLang = true)
      val qs = Seq(graft.corpus.RefQuery(0, "spark query join"),
        graft.corpus.RefQuery(1, "dup stream"),
        graft.corpus.RefQuery(2, "zzznosuchterm"))
      val st = graft.search.Aggs.statsAggSnapshot(s, snap, qs, "dl")
      val cd = graft.search.Aggs.cardinalityAggSnapshot(s, snap, qs, "lang")
      st.join(cd, Seq("query_id"))
        .select(col("query_id"), col("doc_count"),
          col("min_v").cast("long").as("min_dl"),
          col("max_v").cast("long").as("max_dl"),
          col("sum_v").cast("long").as("sum_dl"),
          round(col("avg_v"), 4).as("avg_dl"),
          col("cardinality").as("n_langs"))
        .orderBy("query_id")
    }),

    // ---- range aggregation (the OpenSearch range aggregation): live
    //      match-set doc counts per half-open dl bucket (from inclusive,
    //      to exclusive), EVERY bucket present zero-filled incl. for the
    //      no-hit query; the oracle rebuilds the buckets with explicit
    //      predicates over staged doc lengths ----
    "q68_engine_range" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Base, "q68")
      val qs = Seq(graft.corpus.RefQuery(0, "spark query join"),
        graft.corpus.RefQuery(1, "dup"),
        graft.corpus.RefQuery(2, "zzznosuchterm"))
      graft.search.Aggs.rangeCountsSnapshot(s, snap, qs, "dl",
        Seq(40.0, 60.0, 80.0))
        .orderBy("query_id", "bucket")
    }),

    // ---- histogram aggregation (the OpenSearch histogram bucket agg,
    //      min_doc_count 0): match-set doc counts per fixed-width dl
    //      bucket keyed floor(dl/interval)*interval, gap-filled between
    //      each query's min and max occupied key; a no-hit query reports
    //      no buckets (OpenSearch's empty buckets array). The oracle
    //      rebuilds keys, counts, and the gap fill via generate_series ----
    "q80_engine_histogram" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Base, "q80")
      val qs = Seq(graft.corpus.RefQuery(0, "spark query join"),
        graft.corpus.RefQuery(1, "dup stream"),
        graft.corpus.RefQuery(2, "zzznosuchterm"))
      graft.search.Aggs.histogramAggSnapshot(s, snap, qs, "dl", 40.0)
        .orderBy("query_id", "key")
    }),

    // ---- term vectors (the OpenSearch _termvectors API): per-term doc
    //      statistics (tf, analyzer positions) plus delete-exact corpus
    //      stats (df, ttf) for requested docs, read from the staging
    //      archive and termstats — content never re-read. The oracle
    //      recomputes all four from positionally staged tokens ----
    "q81_engine_termvectors" -> ((s, d) => {
      val idxDir = engineIndex(s, d, Fx.Base).dir
      // positional staging (q53's shape): the oracle needs per-token pos
      stage(s, d, Fx.Base, "q81", positions = true)
      val ids = s.read.parquet(s"${stageDir(d)}/q81_docs.parquet")
        .filter(col("doc_id").isin(0L, 1L, 2L))
        .select("sha_id").collect().map(_.getString(0)).toSeq
      graft.search.Wand.termVectors(s, idxDir, ids)
        .orderBy("doc_id", "term")
    }),

    // ---- regexp retrieval (the OpenSearch regexp query): each query text
    //      is ONE fully-anchored regex expanded against the committed term
    //      dictionary (capped per pattern in ascending term order, Lucene
    //      MultiTermQuery rewrite) and run as an OR query; the oracle
    //      reproduces the expansion with regexp_full_match + ORDER BY +
    //      LIMIT over the staged vocabulary and re-scores the OR query ----
    "q82_engine_regexp" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Base, "q82")
      // maxExpansions=2 on a 3-term alternation: the cap itself is under
      // test (scan, slow survive; spark is cut)
      val qs = Seq(graft.corpus.RefQuery(0, "s(can|park|low)"),
        graft.corpus.RefQuery(1, "qu.ry|j.in"),
        graft.corpus.RefQuery(2, "zzz.*"))
      val res = graft.search.Wand.regexpSearchSnapshot(s, snap, qs, 10,
        maxExpansions = 2)
      hits(s, snap, res)
    }),

    // ---- top-hits aggregation (the OpenSearch top_hits metric inside a
    //      terms bucket agg): per (query, lang-bucket) top-2 of the FULL
    //      match set by exact BM25 — WAND pruning can't apply, a bucket's
    //      winners can score arbitrarily low globally. The oracle
    //      re-scores BM25 and re-ranks inside each lang partition ----
    "q83_engine_top_hits" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Base, "q83", withLang = true)
      val qs = Seq(graft.corpus.RefQuery(0, "spark query join"),
        graft.corpus.RefQuery(1, "filter group sort"))
      val res = graft.search.Aggs.topHitsSnapshot(s, snap, qs, "lang", 2)
      hits(s, snap, res, Seq(col("query_id"), col("facet"), col("rank"),
        col("doc_id"), col("score")), Seq("query_id", "facet", "rank"))
    }),

    // ---- update-by-query (the OpenSearch _update_by_query API, metadata
    //      half): matched live docs get lang retagged and a brand-new tag
    //      column, committed as a new docmap generation; non-matched rows
    //      keep their lang with a null tag. The oracle replays the rule
    //      (term containment -> CASE) over the staged corpus ----
    "q85_engine_update_by_query" -> ((s, d) => {
      val corpus = engineCorpus(s, d)
      val idxDir = engineIndex(s, d, Fx.Base, lifecycle = "ubq").dir
      // custom staging: the oracle needs doc_id on EVERY doc (zero-token
      // docs included), so the docs table carries it alongside lang
      val stagedGood = corpus.toDF().filter(!graft.index.IndexBuilder.isBadRow)
        .select(graft.index.IndexBuilder.docIdCol.as("sha_id"),
          col("path").cast("long").as("doc_id"), col("lang"),
          graft.analyze.Tokenizer.tokens(col("content")).as("tokens"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        stagedGood.select(col("sha_id"), col("doc_id"), explode(col("tokens")).as("term"))
          .write.mode("overwrite").parquet(s"${stageDir(d)}/q85_toks.parquet")
        stagedGood.select(col("sha_id"), col("doc_id"), col("lang"))
          .write.mode("overwrite").parquet(s"${stageDir(d)}/q85_docs.parquet")
      } finally stagedGood.unpersist(false)
      val qs = Seq(graft.corpus.RefQuery(0, "spark query"))
      val snapU = graft.search.Wand.updateByQuery(s, idxDir, qs,
        Map("lang" -> lit("retagged"), "tag" -> lit("hit")))
      graft.table.Tables.docmap(s, snapU)
        .select(col("path").cast("long").as("doc_id"), col("lang"), col("tag"))
        .orderBy("doc_id")
    }),

    // ---- from/size pagination (the OpenSearch deep-paging contract):
    //      ranks (from, from+k] with ABSOLUTE rank numbers, every shard
    //      fetching from+k candidates; the oracle re-scores BM25 and
    //      applies the identical rank window offset ----
    "q69_engine_page" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Base, "q69")
      val qs = Seq(graft.corpus.RefQuery(0, "spark query join"),
        graft.corpus.RefQuery(1, "filter group sort"))
      val res = graft.search.Wand.searchSnapshot(s, snap, qs, 10, from = 10)
      hits(s, snap, res)
    }),

    // ---- search_after cursor pagination (the scale-correct deep-paging
    //      contract — per-shard state stays k at ANY page depth, vs
    //      from/size's from+k): page 1 runs cursorless, its rank-k hits'
    //      (score, shard, ord) feed page 2 verbatim; ties order by the
    //      OpenSearch PIT `_shard_doc` key. The oracle re-scores BM25,
    //      re-ranks under (score desc, shard, ord) from the staged docmap,
    //      and takes absolute ranks 11..20 — which IS page 2 ----
    "q71_engine_search_after" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Base, "q71")
      graft.table.Tables.docmap(s, snap)
        .select(col("doc_id").as("sha_id"), col("shard"), col("ord"))
        .write.mode("overwrite").parquet(s"${stageDir(d)}/q71_docmap.parquet")
      val qs = Seq(graft.corpus.RefQuery(0, "spark query join"),
        graft.corpus.RefQuery(1, "filter group sort"))
      val p1 = graft.search.Wand.searchAfterSnapshot(s, snap, qs, 10)
      val cur = p1.filter(col("rank") === 10)
        .select(col("query_id"), col("score"), col("shard"), col("ord"))
        .collect()
        .map(r => r.getInt(0) -> ((r.getDouble(1), r.getInt(2), r.getLong(3))))
        .toMap
      graft.search.Wand.searchAfterSnapshot(s, snap, qs, 10, cur)
        .select(col("query_id"), col("rank"), col("doc_id"),
          round(col("score"), 4).as("score"))
        .orderBy("query_id", "rank")
    }),

    // ---- field-sorted retrieval (the OpenSearch `sort` clause): top-k of
    //      the FULL match set by doc length descending, doc_id ascending on
    //      the (frequent) dl ties; no-match query returns zero rows. The
    //      oracle rebuilds the match set and ordering from staged tokens ----
    "q72_engine_sort" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Base, "q72")
      val qs = Seq(graft.corpus.RefQuery(0, "spark query join"),
        graft.corpus.RefQuery(1, "dup"),
        graft.corpus.RefQuery(2, "zzznosuchterm"))
      graft.search.Wand.sortedSearchSnapshot(s, snap, qs, 10, "dl",
        ascending = false)
        .orderBy("query_id", "rank")
    }),

    // ---- multi-index search (the OpenSearch index-pattern / time-sliced
    //      production shape): two indexes over disjoint halves, each hit
    //      scored with ITS OWN index's stats (no cross-index df merge),
    //      per-index top-k merged under (score desc, index, doc_id). The
    //      oracle recomputes BM25 per half from separately staged tokens
    //      and replays the identical two-stage rank ----
    "q73_engine_multi_index" -> ((s, d) => {
      val dirs = Seq(engineIndex(s, d, Fx.MultA).dir, engineIndex(s, d, Fx.MultB).dir)
      stage(s, d, Fx.MultA, "q73a")
      stage(s, d, Fx.MultB, "q73b")
      val qs = Seq(graft.corpus.RefQuery(0, "spark query join"),
        graft.corpus.RefQuery(1, "filter group sort"))
      graft.search.Wand.searchIndexes(s, dirs, qs, 10)
        .select(col("query_id"), col("rank"),
          when(col("index").contains("multa"), lit("a")).otherwise(lit("b")).as("idx"),
          col("doc_id"), round(col("score"), 4).as("score"))
        .orderBy("query_id", "rank")
    }),

    // ---- spell-correction suggester (the `term` suggester /
    //      DirectSpellChecker analog): misspelled words expanded against
    //      the committed term dictionary, ranked (dist asc, df desc,
    //      term asc); the oracle recomputes the dictionary, df, and plain
    //      Levenshtein from staged tokens ----
    "q74_engine_suggest" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Base, "q74")
      graft.search.Wand.suggestSnapshot(s, snap, Seq("sparc", "qurey", "joni"),
        maxEdits = 2, prefixLength = 1, topN = 5)
        .orderBy("word", "rank")
    }),

    // ---- delete-by-query (the _delete_by_query API): tombstone every doc
    //      containing 'dup', then search — scores must reflect the EXACT
    //      post-delete stats (df subtraction, shrunken N and avgdl). The
    //      oracle recomputes BM25 from scratch over the survivor docs only ----
    "q76_engine_delete_by_query" -> ((s, d) => {
      val idxDir = engineIndex(s, d, Fx.Base, lifecycle = "dbq").dir
      stage(s, d, Fx.Base, "q76")
      graft.search.Wand.deleteByQuery(s, idxDir,
        Seq(graft.corpus.RefQuery(9, "dup")))
      val qs = Seq(graft.corpus.RefQuery(0, "spark query join"),
        graft.corpus.RefQuery(1, "filter group sort"))
      graft.search.Wand.search(s, idxDir, qs, 10)
        .select(col("query_id"), col("rank"), col("doc_id"),
          round(col("score"), 4).as("score"))
        .orderBy("query_id", "rank")
    }),

    // ---- upsert (index-on-existing-_id replace): 1/10 of the corpus
    //      re-arrives with changed content, 1/10 unchanged, plus new
    //      identities; post-upsert search must score the EFFECTIVE corpus
    //      (batch versions win) with exact post-upsert stats. The oracle
    //      composes the effective corpus ITSELF from separately staged
    //      original + batch token tables — an independent check of the
    //      victim selection, not just of the search ----
    "q77_engine_upsert" -> ((s, d) => {
      val corpus = engineCorpus(s, d)
      val idxDir = engineIndex(s, d, Fx.Base, lifecycle = "ups").dir
      val sf = org.apache.spark.sql.Encoders.product[graft.corpus.SourceFile]
      val bucket = pmod(col("path").cast("long"), lit(10))
      val changed = corpus.toDF().filter(bucket === 0)
        .withColumn("content", concat(col("content"),
          lit(" upsertmarker shuffle spark"))).as(sf)
      val unchanged = corpus.filter(bucket === 1)
      val fresh = corpus.toDF().filter(bucket === 2)
        .withColumn("path", (col("path").cast("long") + 1000000L).cast("string"))
        .withColumn("content", concat(lit("brand new document about spark shuffle join "),
          col("content"))).as(sf)
      val batch = changed.unionAll(unchanged).unionAll(fresh)
      stage(s, d, Fx.Base, "q77o")
      stageCorpus(s, d, batch, "q77b")
      graft.index.IndexBuilder.upsert(s, batch, idxDir)
      val qs = Seq(graft.corpus.RefQuery(0, "spark query join"),
        graft.corpus.RefQuery(1, "upsertmarker shuffle"))
      graft.search.Wand.search(s, idxDir, qs, 10)
        .select(col("query_id"), col("rank"), col("doc_id"),
          round(col("score"), 4).as("score"))
        .orderBy("query_id", "rank")
    }),

    // ---- percolator / reverse search (the monitoring shape: registered
    //      queries match arriving documents): one narrow map-side pass,
    //      no shuffle; both OR and AND semantics over the same registered
    //      set. The oracle rebuilds the match table with an explode+join ----
    "q75_percolate" -> ((s, d) => {
      val regs: Map[Int, Array[String]] = Map(
        0 -> Array("join", "query", "spark"),
        1 -> Array("data", "pipeline"),
        2 -> Array("zzznosuchterm"))
      val docsT = t(s, d, "documents")
      val toksCol = graft.ops.TextOps.simpleTokens(col("text"))
      val or = graft.search.Percolator.percolate(docsT, "doc_id", toksCol, regs)
        .withColumn("mode", lit("or"))
      val and = graft.search.Percolator.percolate(docsT, "doc_id", toksCol, regs,
        conjunctive = true).withColumn("mode", lit("and"))
      or.unionByName(and)
        .select(col("mode"), col("doc_id"), col("query_id"), col("matched_terms"))
        .orderBy("mode", "query_id", "doc_id")
    }),

    // ---- percolator with numeric range clauses (the alerting-registry
    //      reality: `n_chars:[200 TO 900]` alongside the terms, plus a
    //      term-less pure-metadata alert) — same one-pass no-shuffle
    //      shape, ranges ride inside the one broadcast. The oracle
    //      rebuilds the decision: term table join gated by each query's
    //      range predicate, term-less query = range rows alone ----
    "q171_percolate_ranges" -> ((s, d) => {
      import graft.search.Percolator._
      val regs: Map[Int, Registered] = Map(
        0 -> Registered(Array("join", "query", "spark"),
          Seq(NumericRange.parse("n_chars:[200 TO 900]"))),
        1 -> Registered(ranges = Seq(NumericRange.parse("n_chars:{900 TO *}"))),
        2 -> Registered(Array("data", "pipeline"),
          Seq(NumericRange.parse("n_chars:[* TO 200}"))))
      val docsT = t(s, d, "documents")
      val toksCol = graft.ops.TextOps.simpleTokens(col("text"))
      val or = percolateRegistered(docsT, "doc_id", toksCol, regs)
        .withColumn("mode", lit("or"))
      val and = percolateRegistered(docsT, "doc_id", toksCol, regs,
        conjunctive = true).withColumn("mode", lit("and"))
      or.unionByName(and)
        .select(col("mode"), col("doc_id"), col("query_id"), col("matched_terms"))
        .orderBy("mode", "query_id", "doc_id")
    }),

    // ---- percolator match_phrase clauses: registered alerts carrying
    //      contiguous in-order word sequences (slop 0), alone and
    //      combined with term and range clauses — same one-pass
    //      no-shuffle broadcast probe. The oracle rebuilds POSITIONAL
    //      tokens in SQL (split + ordinality + empty-filter), forms
    //      bigrams by the pos+1 self-join, and replays every clause
    //      combination ----
    "q178_percolate_phrases" -> ((s, d) => {
      import graft.search.Percolator._
      val regs: Map[Int, Registered] = Map(
        0 -> Registered(phrases = Seq(Seq("table", "hash"))),
        1 -> Registered(Array("spark"), phrases = Seq(Seq("merge", "group"))),
        2 -> Registered(phrases = Seq(Seq("part", "filter"),
          Seq("customer", "join"))),
        3 -> Registered(phrases = Seq(Seq("slow", "key")),
          ranges = Seq(NumericRange.parse("n_chars:[300 TO *]"))))
      val docsT = t(s, d, "documents")
      percolateRegistered(docsT, "doc_id",
        graft.ops.TextOps.simpleTokens(col("text")), regs)
        .select(col("doc_id"), col("query_id"), col("matched_terms"))
        .orderBy("query_id", "doc_id")
    }),

    // ---- string_stats: value count, min/max/avg length and the
    //      Shannon character entropy of the repo field over each match
    //      set; query 2 matches nothing (count 0 / null stats — API
    //      totality). The oracle recomputes match sets, lengths, the
    //      char distribution and the p·log2(p) fold from staged rows ----
    "q180_engine_string_stats" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Base, "q180", withRepo = true)
      val qs = Seq(graft.corpus.RefQuery(0, "spark query"),
        graft.corpus.RefQuery(1, "filter group sort"),
        graft.corpus.RefQuery(2, "zzznosuchterm"))
      graft.search.Aggs.stringStatsAggSnapshot(s, snap, qs, "repo")
        .select(col("query_id"), col("doc_count"),
          col("min_length"), col("max_length"),
          round(col("avg_length"), 4).as("avg_length"),
          round(col("entropy"), 4).as("entropy"))
        .orderBy("query_id")
    }),

    // ---- percentiles_bucket: exact sibling percentiles of the lang
    //      buckets' doc_counts (the stats_bucket input under the
    //      percentiles quantile contract); query 2 matches nothing and
    //      reports bucket_count 0 / null values (API totality). The
    //      oracle recomputes buckets and quantile_cont ----
    "q181_engine_percentiles_bucket" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Base, "q181", withLang = true)
      val qs = Seq(graft.corpus.RefQuery(0, "spark query"),
        graft.corpus.RefQuery(1, "filter group sort"),
        graft.corpus.RefQuery(2, "zzznosuchterm"))
      graft.search.Aggs.percentilesBucketAggSnapshot(s, snap, qs, "lang",
          Seq(0.25, 0.5, 0.75, 0.99))
        .select(col("query_id"), col("pct"), col("bucket_count"),
          round(col("value"), 4).as("value"))
        .orderBy("query_id", "pct")
    }),

    // ---- incremental near-dup dedup against a persistent signature
    //      index (the streaming-ingest shape): base corpus indexed once,
    //      a new batch screened with one bucket equi-join; the oracle
    //      recomputes signature agreement from the staged sigs, re-applies
    //      the threshold and the (est desc, id asc) best-match rule, and
    //      re-labels every batch doc ----
    "q70_incremental_dedup" -> ((s, d) => {
      val idxDir = s"$ScratchRoot/tmp/minhash-idx-${new java.io.File(d).getName}"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(idxDir))
      val docsT = t(s, d, "documents")
      val baseDf = docsT.filter(col("doc_id") % 3 =!= 0)
        .select(col("doc_id").cast("long").as("id"), col("text"))
      // batch = the held-out third, plus near-dup copies of indexed docs
      // (one appended token — well above the 0.5 threshold)
      val batch = docsT.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id").cast("long").as("id"), col("text"))
        .unionByName(docsT.filter(col("doc_id") % 30 === 1)
          .select((col("doc_id").cast("long") + 1000000L).as("id"),
            concat(col("text"), lit(" tail")).as("text")))
      graft.ops.Dedup.minhashIndexAppend(baseDf, "id", "text", idxDir)
      val labeled = graft.ops.Dedup.minhashScreenBatch(batch, "id", "text",
        idxDir, threshold = 0.5,
        stagePath = s"${stageDir(d)}/q70_cands.parquet")
      // stage every signature the decision used (index + batch) — the
      // oracle recomputes agreement, threshold, and best-match from them
      s.read.parquet(s"$idxDir/sigs")
        .unionByName(graft.ops.Dedup.minhashSigs(batch, "id", "text", 3, 64))
        .write.mode("overwrite").parquet(s"${stageDir(d)}/q70_sigs.parquet")
      // est is a count/64 — exactly 6 decimal digits, so round(6) is the
      // identity and cannot split hash-equality on rounding mode
      labeled.select(col("id"), col("dup_of"),
        round(col("est_jaccard"), 6).as("est_jaccard")).orderBy("id")
    }),

    // ---- index lifecycle: delete (tombstones) + compact, then query —
    //      the oracle re-scores BM25 over the staged SURVIVOR corpus, so a
    //      single stale posting, unpurged docmap row, or un-shrunk
    //      N/avgdl/df would hash-mismatch ----
    "q51_engine_delete_compact" -> ((s, d) => {
      val idxDir = engineIndex(s, d, Fx.Base, lifecycle = "del").dir
      graft.index.IndexBuilder.delete(s, idxDir, col("path").cast("long") % 7 === 0)
      val snap = graft.index.IndexBuilder.compact(s, idxDir)
      // stage survivor tokens + doc lengths (same discipline as q50; the
      // survivor filter re-applies the delete predicate on the RAW corpus,
      // so the engine's tombstone/compaction bookkeeping is never trusted)
      stageCorpus(s, d, engineCorpus(s, d).filter(col("path").cast("long") % 7 =!= 0), "q51")
      val qs = Seq(graft.corpus.RefQuery(0, "spark query join"),
        graft.corpus.RefQuery(1, "filter group sort"),
        graft.corpus.RefQuery(2, "stream batch window"))
      val res = graft.search.Wand.searchSnapshot(s, snap, qs, 10)
      hits(s, snap, res)
    }),

    // ---- conjunctive (match-ALL-terms) retrieval: leapfrog-intersection
    //      block-max top-k — the oracle recomputes conjunctive BM25 from
    //      staged tokens with a matched-term-count filter ----
    "q52_engine_conjunctive" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Base).snap
      stage(s, d, Fx.Base, "q52")
      // 'dup' appears in ~5% of docs, the other terms in ~80%: the
      // conjunction constrains hard (13-17 matches per query at sf0.01),
      // so a broken all-terms filter could not hide behind a top-10 that
      // happens to satisfy it anyway
      val qs = Seq(graft.corpus.RefQuery(0, "dup spark query"),
        graft.corpus.RefQuery(1, "dup filter sort"),
        graft.corpus.RefQuery(2, "dup stream batch"))
      val res = graft.search.Wand.searchSnapshot(s, snap, qs, 10, conjunctive = true)
      hits(s, snap, res)
    }),

    // ---- phrase retrieval over the positional index: consecutive-token
    //      matching from per-posting position payloads — the oracle finds
    //      phrase docs independently via a pos+1 self-join on staged
    //      (sha_id, doc_id, pos, term) rows and re-scores BM25 ----
    "q53_engine_phrase" -> ((s, d) => {
      val snap = engineIndex(s, d, Fx.Pos).snap
      stage(s, d, Fx.Pos, "q53", positions = true)
      // adjacent bigrams present at every sf (24-283 docs each)
      val qs = Seq(graft.corpus.RefQuery(0, "spark query"),
        graft.corpus.RefQuery(1, "query join"),
        graft.corpus.RefQuery(2, "part filter"))
      val res = graft.search.Wand.phraseSearchSnapshot(s, snap, qs, 10)
      hits(s, snap, res)
    })
  )

  /** q33's per-language score as SQL, generated from the SAME profiles the
    * UDF scores with: detectLang counts non-overlapping occurrences, which
    * is exactly length(t) - length(replace(t, gram, '')) summed per gram. */
  private def langScoreSql(lang: String): String =
    graft.ops.TextOps.langProfiles(lang)
      .map(g => s"(length(t) - length(replace(t, '$g', '')))")
      .mkString("(", " + ", ")::double / length(t)")

  /** DuckDB oracles at the driver's default sf dir (driver contract). */
  def oracleSql: Map[String, String] = oracleSqlFor("/root/testdata/sf0.01")

  /** DuckDB oracles. Names and row order match the Spark results exactly.
    * Hash-op stage paths derive from the SAME `stageDir` rule the Spark
    * queries use, so Verify + check_oracle pass at ANY sf dir — a
    * hardcoded sf0.01 path would silently compare other sfs against
    * stale stages. */
  def oracleSqlFor(sfDir: String): Map[String, String] = {
    val stage = stageDir(sfDir)
    // DuckDB rendering of Geo.geohashEncode at `p` chars over staged
    // (value, lat, lon) rows — generated from the same bit-layout
    // constants as the Column version, so the oracle replays the exact
    // interleave + base-32 encode (the encode itself is anchored against
    // published geohash examples in GeoSpec, independently of this SQL).
    def geohashGridSql(parquetGlob: String, p: Int): String = {
      val totalBits = 5 * p
      val lonBits = (totalBits + 1) / 2
      val latBits = totalBits / 2
      val cx = s"LEAST(${(1L << lonBits) - 1}, GREATEST(0, " +
        s"CAST(FLOOR((lon + 180.0) / 360.0 * ${1L << lonBits}) AS BIGINT)))"
      val cy = s"LEAST(${(1L << latBits) - 1}, GREATEST(0, " +
        s"CAST(FLOOR((lat + 90.0) / 180.0 * ${1L << latBits}) AS BIGINT)))"
      val terms = (0 until totalBits).map { i =>
        val (src, srcBit) =
          if (i % 2 == 0) ("cx", lonBits - 1 - i / 2)
          else ("cy", latBits - 1 - (i - 1) / 2)
        s"(($src >> $srcBit) & 1) * ${1L << (totalBits - 1 - i)}"
      }.mkString(" + ")
      val chars = (0 until p).map { k =>
        s"substr('${graft.ops.Geo.GeohashAlphabet}', " +
          s"CAST(((ih >> ${5 * (p - 1 - k)}) & 31) AS INTEGER) + 1, 1)"
      }.mkString(" || ")
      s"""WITH c AS (SELECT value, $cx AS cx, $cy AS cy
           FROM read_parquet('$parquetGlob')),
         i AS (SELECT value, $terms AS ih FROM c),
         g AS (SELECT value, $chars AS geohash FROM i)
         SELECT geohash, count(*) AS n, round(sum(value), 2) AS sum_value
         FROM g GROUP BY 1 ORDER BY 1"""
    }
    Map(
    "q33_langid" ->
      s"""WITH s AS (SELECT doc_id, ' ' || lower(text) || ' ' AS t FROM documents),
         sc AS (SELECT doc_id,
           ${langScoreSql("de")} AS de,
           ${langScoreSql("en")} AS en,
           ${langScoreSql("es")} AS es,
           ${langScoreSql("fr")} AS fr,
           ${langScoreSql("zh")} AS zh
         FROM s)
         SELECT detected, count(*) AS n FROM (
           SELECT CASE WHEN greatest(de, en, es, fr, zh) <= 0 THEN 'und'
             WHEN de = greatest(de, en, es, fr, zh) THEN 'de'
             WHEN en = greatest(de, en, es, fr, zh) THEN 'en'
             WHEN es = greatest(de, en, es, fr, zh) THEN 'es'
             WHEN fr = greatest(de, en, es, fr, zh) THEN 'fr'
             ELSE 'zh' END AS detected FROM sc)
         GROUP BY 1 ORDER BY 1""",
    "q50_engine_topk" ->
      s"""WITH toks AS (SELECT sha_id, doc_id, term
           FROM read_parquet('$stage/q50_toks.parquet/*.parquet')),
         tf AS (SELECT sha_id, min(doc_id) AS doc_id, term, count(*) AS tf
           FROM toks GROUP BY sha_id, term),
         dl AS (SELECT sha_id, dl
           FROM read_parquet('$stage/q50_docs.parquet/*.parquet')),
         stats AS (SELECT count(*) AS n, sum(dl)::double / count(*) AS avgdl FROM dl),
         q AS (SELECT * FROM (VALUES (0, 'spark'), (0, 'query'), (0, 'join'),
           (1, 'filter'), (1, 'group'), (1, 'sort'),
           (2, 'stream'), (2, 'batch'), (2, 'window')) v(query_id, term)),
         dfq AS (SELECT term, count(*) AS df FROM tf
           WHERE term IN (SELECT term FROM q) GROUP BY 1),
         scored AS (
           SELECT q.query_id, tf.sha_id, min(tf.doc_id) AS doc_id,
             sum(ln(1.0 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5)) *
                 (tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl))))) AS score
           FROM tf JOIN q ON q.term = tf.term
             JOIN dfq ON dfq.term = tf.term
             JOIN dl ON dl.sha_id = tf.sha_id
             CROSS JOIN stats
           GROUP BY 1, 2)
         SELECT query_id, rank, doc_id, round(score, 4) AS score FROM (
           SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, sha_id) AS rank
           FROM scored)
         WHERE rank <= 10 ORDER BY query_id, rank""",
    "q28_stratified_sample" ->
      s"""WITH b AS (SELECT doc_id, bucket
           FROM read_parquet('$stage/q28_buckets.parquet/*.parquet')),
         j AS (SELECT d.lang, b.bucket FROM documents d JOIN b USING (doc_id))
         SELECT lang, count(*) AS n_kept FROM j
         WHERE bucket < (CASE lang WHEN 'en' THEN 0.25 WHEN 'zh' THEN 0.5
           ELSE 1.0 END) * 1000000
         GROUP BY lang ORDER BY lang""",
    "q29_epoch_mix" ->
      s"""WITH b AS (SELECT doc_id, bucket
           FROM read_parquet('$stage/q29_buckets.parquet/*.parquet')),
         j AS (SELECT d.doc_id, d.lang, b.bucket,
             CASE d.lang WHEN 'en' THEN 2.25 WHEN 'zh' THEN 0.5 ELSE 1.0 END AS e
           FROM documents d JOIN b USING (doc_id)),
         c AS (SELECT doc_id, lang, CAST(floor(e) AS BIGINT)
             + CASE WHEN bucket < (e - floor(e)) * 1000000 THEN 1 ELSE 0 END AS copies
           FROM j)
         SELECT lang, CAST(sum(copies) AS BIGINT) AS n_rows,
           count(DISTINCT CASE WHEN copies > 0 THEN doc_id END) AS n_docs
         FROM c GROUP BY lang HAVING sum(copies) > 0 ORDER BY lang""",
    "q56_chunk_docs" ->
      """WITH n AS (SELECT doc_id, text,
           greatest(CAST(ceil((length(text) - 40) / 160.0) AS BIGINT), 1) AS n_chunks
           FROM documents),
         c AS (SELECT doc_id, unnest(range(n_chunks)) AS chunk_id, text FROM n)
         SELECT doc_id, CAST(chunk_id AS INTEGER) AS chunk_id,
           substr(text, CAST(chunk_id * 160 + 1 AS BIGINT), 200) AS chunk
         FROM c ORDER BY doc_id, chunk_id""",
    "q57_hashed_tfidf" ->
      s"""WITH m AS (SELECT term, idf, bucket
           FROM read_parquet('$stage/q57_vocab.parquet/*.parquet')),
         tok AS (SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
           FROM tok GROUP BY doc_id, term),
         e AS (SELECT tf.doc_id, m.bucket, sum(tf.tf * m.idf) AS w
           FROM tf JOIN m USING (term) GROUP BY tf.doc_id, m.bucket)
         SELECT doc_id, bucket, round(CAST(CAST(w AS REAL) AS DOUBLE), 6) AS w6
         FROM e WHERE CAST(w AS REAL) <> 0 ORDER BY doc_id, bucket""",
    "q55_classifier_score" ->
      s"""WITH w AS (SELECT term, weight
           FROM read_parquet('$stage/q55_weights.parquet/*.parquet')),
         toks AS (SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS l
           FROM documents),
         tok AS (SELECT doc_id, greatest(len(l), 1) AS n_toks, unnest(l) AS term
           FROM toks),
         zz AS (SELECT tok.doc_id, sum(w.weight / tok.n_toks) AS z
           FROM tok JOIN w USING (term) GROUP BY tok.doc_id)
         SELECT d.doc_id, round(1.0 / (1.0 + exp(-(coalesce(zz.z, 0) - 0.1))), 6) AS score
         FROM documents d LEFT JOIN zz USING (doc_id) ORDER BY doc_id""",
    "q48_gopher_quality" ->
      """WITH aug AS (SELECT doc_id,
           text || chr(10) || '- bullet one' || chr(10) || '  * indented bullet'
             || chr(10) || 'plain line' || chr(10) || 'trailing thought...'
             || chr(10) || '### sym # line'
             || CASE WHEN doc_id % 4 = 0
                  THEN chr(10) || '- extra...' || chr(10) || 'the have with'
                  ELSE chr(10) || 'no extras here' END AS t
           FROM documents),
         f AS (SELECT doc_id, t,
           list_filter(regexp_split_to_array(lower(t), '[^a-z0-9]+'), x -> x <> '') AS toks,
           list_filter(string_split(t, chr(10)), x -> trim(x) <> '') AS lines
           FROM aug)
         SELECT doc_id,
           len(toks)::bigint AS n_words,
           round(((length(t) - length(replace(t, '#', '')))
               + (length(t) - length(replace(t, '...', ''))) / 3)::double
             / greatest(len(toks), 1), 4) AS symbol_word_ratio,
           round(len(list_filter(lines, x -> regexp_matches(x, '^\s*[-*]')))::double
             / greatest(len(lines), 1), 4) AS bullet_line_frac,
           round(len(list_filter(lines, x -> regexp_matches(x, '\.\.\.\s*$')))::double
             / greatest(len(lines), 1), 4) AS ellipsis_line_frac,
           round(len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))::double
             / greatest(len(toks), 1), 4) AS alpha_word_frac,
           len(list_filter(['the','be','to','of','and','that','have','with'],
             x -> list_contains(toks, x)))::bigint AS req_stopword_hits
         FROM f ORDER BY doc_id""",
    "q49_pack_sequences" ->
      s"""WITH g AS (SELECT id, grp
           FROM read_parquet('$stage/q49_groups.parquet/*.parquet')),
         d AS (SELECT doc_id,
           len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
             x -> x <> ''))::bigint AS n_tokens
           FROM documents),
         j AS (SELECT g.id AS doc_id, g.grp, d.n_tokens
           FROM g JOIN d ON d.doc_id = g.id),
         o AS (SELECT doc_id, grp, n_tokens,
           coalesce(sum(n_tokens) OVER (PARTITION BY grp ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::bigint AS start_off
           FROM j)
         SELECT doc_id, grp, n_tokens, start_off,
           (start_off // 256)::bigint AS chunk_first,
           (CASE WHEN n_tokens > 0 THEN (start_off + n_tokens - 1) // 256
              ELSE start_off // 256 END)::bigint AS chunk_last
         FROM o ORDER BY doc_id""",
    "q54_engine_filtered" ->
      s"""WITH toks AS (SELECT sha_id, doc_id, term
           FROM read_parquet('$stage/q54_toks.parquet/*.parquet')),
         tf AS (SELECT sha_id, min(doc_id) AS doc_id, term, count(*) AS tf
           FROM toks GROUP BY sha_id, term),
         dl AS (SELECT sha_id, lang, dl
           FROM read_parquet('$stage/q54_docs.parquet/*.parquet')),
         stats AS (SELECT count(*) AS n, sum(dl)::double / count(*) AS avgdl FROM dl),
         q AS (SELECT * FROM (VALUES (0, 'spark'), (0, 'query'), (0, 'join'),
           (1, 'filter'), (1, 'group'), (1, 'sort'),
           (2, 'stream'), (2, 'batch'), (2, 'window')) v(query_id, term)),
         dfq AS (SELECT term, count(*) AS df FROM tf
           WHERE term IN (SELECT term FROM q) GROUP BY 1),
         scored AS (
           SELECT q.query_id, tf.sha_id, min(tf.doc_id) AS doc_id,
             sum(ln(1.0 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5)) *
                 (tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl))))) AS score
           FROM tf JOIN q ON q.term = tf.term
             JOIN dfq ON dfq.term = tf.term
             JOIN dl ON dl.sha_id = tf.sha_id
             CROSS JOIN stats
           WHERE dl.lang = 'fr'
           GROUP BY 1, 2)
         SELECT query_id, rank, doc_id, round(score, 4) AS score FROM (
           SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, sha_id) AS rank
           FROM scored)
         WHERE rank <= 10 ORDER BY query_id, rank""",
    "q51_engine_delete_compact" ->
      s"""WITH toks AS (SELECT sha_id, doc_id, term
           FROM read_parquet('$stage/q51_toks.parquet/*.parquet')),
         tf AS (SELECT sha_id, min(doc_id) AS doc_id, term, count(*) AS tf
           FROM toks GROUP BY sha_id, term),
         dl AS (SELECT sha_id, dl
           FROM read_parquet('$stage/q51_docs.parquet/*.parquet')),
         stats AS (SELECT count(*) AS n, sum(dl)::double / count(*) AS avgdl FROM dl),
         q AS (SELECT * FROM (VALUES (0, 'spark'), (0, 'query'), (0, 'join'),
           (1, 'filter'), (1, 'group'), (1, 'sort'),
           (2, 'stream'), (2, 'batch'), (2, 'window')) v(query_id, term)),
         dfq AS (SELECT term, count(*) AS df FROM tf
           WHERE term IN (SELECT term FROM q) GROUP BY 1),
         scored AS (
           SELECT q.query_id, tf.sha_id, min(tf.doc_id) AS doc_id,
             sum(ln(1.0 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5)) *
                 (tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl))))) AS score
           FROM tf JOIN q ON q.term = tf.term
             JOIN dfq ON dfq.term = tf.term
             JOIN dl ON dl.sha_id = tf.sha_id
             CROSS JOIN stats
           GROUP BY 1, 2)
         SELECT query_id, rank, doc_id, round(score, 4) AS score FROM (
           SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, sha_id) AS rank
           FROM scored)
         WHERE rank <= 10 ORDER BY query_id, rank""",
    "q52_engine_conjunctive" ->
      s"""WITH toks AS (SELECT sha_id, doc_id, term
           FROM read_parquet('$stage/q52_toks.parquet/*.parquet')),
         tf AS (SELECT sha_id, min(doc_id) AS doc_id, term, count(*) AS tf
           FROM toks GROUP BY sha_id, term),
         dl AS (SELECT sha_id, dl
           FROM read_parquet('$stage/q52_docs.parquet/*.parquet')),
         stats AS (SELECT count(*) AS n, sum(dl)::double / count(*) AS avgdl FROM dl),
         q AS (SELECT * FROM (VALUES (0, 'dup'), (0, 'spark'), (0, 'query'),
           (1, 'dup'), (1, 'filter'), (1, 'sort'),
           (2, 'dup'), (2, 'stream'), (2, 'batch')) v(query_id, term)),
         qn AS (SELECT query_id, count(*) AS nt FROM q GROUP BY 1),
         dfq AS (SELECT term, count(*) AS df FROM tf
           WHERE term IN (SELECT term FROM q) GROUP BY 1),
         scored AS (
           SELECT q.query_id, tf.sha_id, min(tf.doc_id) AS doc_id,
             count(*) AS matched,
             sum(ln(1.0 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5)) *
                 (tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl))))) AS score
           FROM tf JOIN q ON q.term = tf.term
             JOIN dfq ON dfq.term = tf.term
             JOIN dl ON dl.sha_id = tf.sha_id
             CROSS JOIN stats
           GROUP BY 1, 2)
         SELECT query_id, rank, doc_id, round(score, 4) AS score FROM (
           SELECT s.query_id, s.doc_id, s.score,
             row_number() OVER (PARTITION BY s.query_id ORDER BY s.score DESC, s.sha_id) AS rank
           FROM scored s JOIN qn ON qn.query_id = s.query_id
           WHERE s.matched = qn.nt)
         WHERE rank <= 10 ORDER BY query_id, rank""",
    "q58_engine_boolean" ->
      s"""WITH toks AS (SELECT sha_id, doc_id, term
           FROM read_parquet('$stage/q58_toks.parquet/*.parquet')),
         tf AS (SELECT sha_id, min(doc_id) AS doc_id, term, count(*) AS tf
           FROM toks GROUP BY sha_id, term),
         dl AS (SELECT sha_id, dl
           FROM read_parquet('$stage/q58_docs.parquet/*.parquet')),
         stats AS (SELECT count(*) AS n, sum(dl)::double / count(*) AS avgdl FROM dl),
         q AS (SELECT * FROM (VALUES
           (0, 'dup', 'm'), (0, 'spark', 's'), (0, 'query', 's'),
           (1, 'filter', 's'), (1, 'sort', 's'), (1, 'dup', 'n'),
           (2, 'stream', 'm'), (2, 'batch', 'm'), (2, 'dup', 'n')) v(query_id, term, role)),
         sq AS (SELECT query_id, term FROM q WHERE role IN ('m', 's')),
         dfq AS (SELECT term, count(*) AS df FROM tf
           WHERE term IN (SELECT term FROM sq) GROUP BY 1),
         scored AS (
           SELECT sq.query_id, tf.sha_id, min(tf.doc_id) AS doc_id,
             sum(ln(1.0 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5)) *
                 (tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl))))) AS score
           FROM tf JOIN sq ON sq.term = tf.term
             JOIN dfq ON dfq.term = tf.term
             JOIN dl ON dl.sha_id = tf.sha_id
             CROSS JOIN stats
           GROUP BY 1, 2),
         mn AS (SELECT query_id, count(*) AS nm FROM q WHERE role = 'm' GROUP BY 1),
         mm AS (SELECT q.query_id, tf.sha_id, count(*) AS matched
           FROM tf JOIN q ON q.term = tf.term AND q.role = 'm' GROUP BY 1, 2),
         qualified AS (
           SELECT s.query_id, s.sha_id, s.doc_id, s.score FROM scored s
           LEFT JOIN mn ON mn.query_id = s.query_id
           LEFT JOIN mm ON mm.query_id = s.query_id AND mm.sha_id = s.sha_id
           WHERE coalesce(mn.nm, 0) = coalesce(mm.matched, 0)
             AND NOT EXISTS (SELECT 1 FROM tf x
               JOIN q nq ON nq.term = x.term AND nq.role = 'n'
               WHERE nq.query_id = s.query_id AND x.sha_id = s.sha_id))
         SELECT query_id, rank, doc_id, round(score, 4) AS score FROM (
           SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, sha_id) AS rank
           FROM qualified)
         WHERE rank <= 10 ORDER BY query_id, rank""",
    "q87_engine_phrase_slop" ->
      s"""WITH toks AS (SELECT sha_id, doc_id, pos, term
           FROM read_parquet('$stage/q87_toks.parquet/*.parquet')),
         tf AS (SELECT sha_id, min(doc_id) AS doc_id, term, count(*) AS tf
           FROM toks GROUP BY sha_id, term),
         dl AS (SELECT sha_id, dl
           FROM read_parquet('$stage/q87_docs.parquet/*.parquet')),
         stats AS (SELECT count(*) AS n, sum(dl)::double / count(*) AS avgdl FROM dl),
         q AS (SELECT * FROM (VALUES (0, 'spark'), (0, 'query'),
           (1, 'query'), (1, 'join'),
           (2, 'part'), (2, 'filter')) v(query_id, term)),
         dfq AS (SELECT term, count(*) AS df FROM tf
           WHERE term IN (SELECT term FROM q) GROUP BY 1),
         ph AS (
           SELECT 0 AS query_id, a.sha_id FROM toks a
             JOIN toks b ON b.sha_id = a.sha_id
               AND b.pos > a.pos AND b.pos - a.pos <= 3
             WHERE a.term = 'spark' AND b.term = 'query'
           UNION
           SELECT 1 AS query_id, a.sha_id FROM toks a
             JOIN toks b ON b.sha_id = a.sha_id
               AND b.pos > a.pos AND b.pos - a.pos <= 3
             WHERE a.term = 'query' AND b.term = 'join'
           UNION
           SELECT 2 AS query_id, a.sha_id FROM toks a
             JOIN toks b ON b.sha_id = a.sha_id
               AND b.pos > a.pos AND b.pos - a.pos <= 3
             WHERE a.term = 'part' AND b.term = 'filter'),
         scored AS (
           SELECT q.query_id, tf.sha_id, min(tf.doc_id) AS doc_id,
             sum(ln(1.0 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5)) *
                 (tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl))))) AS score
           FROM tf JOIN q ON q.term = tf.term
             JOIN dfq ON dfq.term = tf.term
             JOIN dl ON dl.sha_id = tf.sha_id
             JOIN ph ON ph.query_id = q.query_id AND ph.sha_id = tf.sha_id
             CROSS JOIN stats
           GROUP BY 1, 2)
         SELECT query_id, rank, doc_id, round(score, 4) AS score FROM (
           SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, sha_id) AS rank
           FROM scored)
         WHERE rank <= 10 ORDER BY query_id, rank""",
    "q88_engine_mget" ->
      s"""WITH docs AS (SELECT *
           FROM read_parquet('$stage/q88_docs.parquet/*.parquet')),
         req AS (SELECT sha_id FROM docs WHERE path IN ('0', '1', '2')
           UNION ALL SELECT 'nosuchid')
         SELECT r.sha_id AS doc_id,
           d.sha_id IS NOT NULL AS found,
           CASE WHEN d.sha_id IS NULL THEN NULL ELSE d.path <> '0' END AS live,
           d.repo, d.path, d."commit", d.lang, d.sha256, d.dl
         FROM req r LEFT JOIN docs d ON d.sha_id = r.sha_id
         ORDER BY doc_id""",
    "q93_engine_complete" ->
      s"""WITH toks AS (SELECT sha_id, term
           FROM read_parquet('$stage/q93_toks.parquet/*.parquet')),
         dfx AS (SELECT term, count(DISTINCT sha_id) AS df FROM toks GROUP BY 1),
         p AS (SELECT * FROM (VALUES ('que'), ('spa'), ('fil')) v(prefix))
         SELECT prefix, rank, term, df FROM (
           SELECT p.prefix, d.term, d.df,
             row_number() OVER (PARTITION BY p.prefix
               ORDER BY d.df DESC, d.term) AS rank
           FROM p JOIN dfx d ON d.term LIKE p.prefix || '%')
         WHERE rank <= 5 ORDER BY prefix, rank""",
    "q92_engine_function_score" ->
      s"""WITH toks AS (SELECT sha_id, doc_id, term
           FROM read_parquet('$stage/q92_toks.parquet/*.parquet')),
         tf AS (SELECT sha_id, min(doc_id) AS doc_id, term, count(*) AS tf
           FROM toks GROUP BY sha_id, term),
         dl AS (SELECT sha_id, dl
           FROM read_parquet('$stage/q92_docs.parquet/*.parquet')),
         stats AS (SELECT count(*) AS n, sum(dl)::double / count(*) AS avgdl FROM dl),
         q AS (SELECT * FROM (VALUES (0, 'join'), (0, 'query'), (0, 'spark'),
           (1, 'filter'), (1, 'group'), (1, 'sort')) v(query_id, term)),
         dfq AS (SELECT term, count(*) AS df FROM tf
           WHERE term IN (SELECT term FROM q) GROUP BY 1),
         scored AS (
           SELECT q.query_id, tf.sha_id, min(tf.doc_id) AS doc_id,
             sum(ln(1.0 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5)) *
                 (tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl))))) AS score
           FROM tf JOIN q ON q.term = tf.term
             JOIN dfq ON dfq.term = tf.term
             JOIN dl ON dl.sha_id = tf.sha_id
             CROSS JOIN stats
           GROUP BY 1, 2),
         combined AS (
           SELECT query_id, sha_id, doc_id,
             score * (1.0 * ln(1.0 + doc_id::double)) AS score
           FROM scored)
         SELECT query_id, rank, doc_id, round(score, 4) AS score FROM (
           SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, sha_id) AS rank
           FROM combined)
         WHERE rank <= 10 ORDER BY query_id, rank""",
    "q91_engine_rescore" ->
      s"""WITH toks AS (SELECT sha_id, doc_id, pos, term
           FROM read_parquet('$stage/q91_toks.parquet/*.parquet')),
         tf AS (SELECT sha_id, min(doc_id) AS doc_id, term, count(*) AS tf
           FROM toks GROUP BY sha_id, term),
         dl AS (SELECT sha_id, dl
           FROM read_parquet('$stage/q91_docs.parquet/*.parquet')),
         stats AS (SELECT count(*) AS n, sum(dl)::double / count(*) AS avgdl FROM dl),
         q AS (SELECT * FROM (VALUES (0, 'query'), (0, 'spark'),
           (1, 'filter'), (1, 'part')) v(query_id, term)),
         dfq AS (SELECT term, count(*) AS df FROM tf
           WHERE term IN (SELECT term FROM q) GROUP BY 1),
         scored AS (
           SELECT q.query_id, tf.sha_id, min(tf.doc_id) AS doc_id,
             sum(ln(1.0 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5)) *
                 (tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl))))) AS score
           FROM tf JOIN q ON q.term = tf.term
             JOIN dfq ON dfq.term = tf.term
             JOIN dl ON dl.sha_id = tf.sha_id
             CROSS JOIN stats
           GROUP BY 1, 2),
         basewin AS (SELECT * FROM (
           SELECT query_id, sha_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id
               ORDER BY score DESC, sha_id) AS brank
           FROM scored) WHERE brank <= 30),
         ph AS (
           SELECT 0 AS query_id, a.sha_id FROM toks a
             JOIN toks b ON b.sha_id = a.sha_id
               AND b.pos > a.pos AND b.pos - a.pos <= 3
             WHERE a.term = 'spark' AND b.term = 'query'
           UNION
           SELECT 1 AS query_id, a.sha_id FROM toks a
             JOIN toks b ON b.sha_id = a.sha_id
               AND b.pos > a.pos AND b.pos - a.pos <= 3
             WHERE a.term = 'part' AND b.term = 'filter'),
         resc AS (
           SELECT w.query_id, w.sha_id, w.doc_id,
             w.score * (CASE WHEN p.sha_id IS NULL THEN 1.0 ELSE 3.0 END) AS score
           FROM basewin w LEFT JOIN ph p
             ON p.query_id = w.query_id AND p.sha_id = w.sha_id)
         SELECT query_id, rank, doc_id, round(score, 4) AS score FROM (
           SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id
               ORDER BY score DESC, sha_id) AS rank
           FROM resc)
         WHERE rank <= 10 ORDER BY query_id, rank""",
    "q90_engine_phrase_prefix" ->
      s"""WITH toks AS (SELECT sha_id, doc_id, pos, term
           FROM read_parquet('$stage/q90_toks.parquet/*.parquet')),
         tf AS (SELECT sha_id, min(doc_id) AS doc_id, term, count(*) AS tf
           FROM toks GROUP BY sha_id, term),
         dl AS (SELECT sha_id, dl
           FROM read_parquet('$stage/q90_docs.parquet/*.parquet')),
         stats AS (SELECT count(*) AS n, sum(dl)::double / count(*) AS avgdl FROM dl),
         q AS (SELECT * FROM (VALUES (0, 'spark'), (1, 'part'),
           (2, 'filter')) v(query_id, term)),
         dfq AS (SELECT term, count(*) AS df FROM tf
           WHERE term IN (SELECT term FROM q) GROUP BY 1),
         ph AS (
           SELECT 0 AS query_id, a.sha_id FROM toks a
             JOIN toks b ON b.sha_id = a.sha_id AND b.pos = a.pos + 1
             WHERE a.term = 'spark' AND b.term LIKE 'que%'
           UNION
           SELECT 1 AS query_id, a.sha_id FROM toks a
             JOIN toks b ON b.sha_id = a.sha_id AND b.pos = a.pos + 1
             WHERE a.term = 'part' AND b.term LIKE 'fil%'
           UNION
           SELECT 2 AS query_id, a.sha_id FROM toks a
             JOIN toks b ON b.sha_id = a.sha_id AND b.pos = a.pos + 1
             WHERE a.term = 'filter' AND b.term LIKE 'jo%'),
         scored AS (
           SELECT q.query_id, tf.sha_id, min(tf.doc_id) AS doc_id,
             sum(ln(1.0 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5)) *
                 (tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl))))) AS score
           FROM tf JOIN q ON q.term = tf.term
             JOIN dfq ON dfq.term = tf.term
             JOIN dl ON dl.sha_id = tf.sha_id
             JOIN ph ON ph.query_id = q.query_id AND ph.sha_id = tf.sha_id
             CROSS JOIN stats
           GROUP BY 1, 2)
         SELECT query_id, rank, doc_id, round(score, 4) AS score FROM (
           SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, sha_id) AS rank
           FROM scored)
         WHERE rank <= 10 ORDER BY query_id, rank""",
    "q89_engine_collapse" ->
      s"""WITH toks AS (SELECT sha_id, doc_id, term
           FROM read_parquet('$stage/q89_toks.parquet/*.parquet')),
         tf AS (SELECT sha_id, min(doc_id) AS doc_id, term, count(*) AS tf
           FROM toks GROUP BY sha_id, term),
         dl AS (SELECT sha_id, lang, dl
           FROM read_parquet('$stage/q89_docs.parquet/*.parquet')),
         stats AS (SELECT count(*) AS n, sum(dl)::double / count(*) AS avgdl FROM dl),
         q AS (SELECT * FROM (VALUES (0, 'join'), (0, 'query'), (0, 'spark'),
           (1, 'filter'), (1, 'group'), (1, 'sort')) v(query_id, term)),
         dfq AS (SELECT term, count(*) AS df FROM tf
           WHERE term IN (SELECT term FROM q) GROUP BY 1),
         scored AS (
           SELECT q.query_id, tf.sha_id, min(tf.doc_id) AS doc_id,
             sum(ln(1.0 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5)) *
                 (tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl))))) AS score
           FROM tf JOIN q ON q.term = tf.term
             JOIN dfq ON dfq.term = tf.term
             JOIN dl ON dl.sha_id = tf.sha_id
             CROSS JOIN stats
           GROUP BY 1, 2),
         best AS (SELECT * FROM (
           SELECT s.query_id, s.sha_id, s.doc_id, s.score,
             d.lang AS collapse_key,
             row_number() OVER (PARTITION BY s.query_id, d.lang
               ORDER BY s.score DESC, s.sha_id) AS r1
           FROM scored s JOIN dl d ON d.sha_id = s.sha_id) WHERE r1 = 1)
         SELECT query_id, rank, doc_id, collapse_key,
           round(score, 4) AS score FROM (
           SELECT query_id, doc_id, collapse_key, score,
             row_number() OVER (PARTITION BY query_id
               ORDER BY score DESC, sha_id) AS rank
           FROM best)
         WHERE rank <= 3 ORDER BY query_id, rank""",
    "q86_engine_boosted" ->
      s"""WITH toks AS (SELECT sha_id, doc_id, term
           FROM read_parquet('$stage/q86_toks.parquet/*.parquet')),
         tf AS (SELECT sha_id, min(doc_id) AS doc_id, term, count(*) AS tf
           FROM toks GROUP BY sha_id, term),
         dl AS (SELECT sha_id, dl
           FROM read_parquet('$stage/q86_docs.parquet/*.parquet')),
         stats AS (SELECT count(*) AS n, sum(dl)::double / count(*) AS avgdl FROM dl),
         q AS (SELECT * FROM (VALUES (0, 'spark', 2.0), (0, 'query', 1.0),
           (1, 'join', 0.5), (1, 'filter', 4.0)) v(query_id, term, boost)),
         dfq AS (SELECT term, count(*) AS df FROM tf
           WHERE term IN (SELECT term FROM q) GROUP BY 1),
         scored AS (
           SELECT q.query_id, tf.sha_id, min(tf.doc_id) AS doc_id,
             sum(q.boost * ln(1.0 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5)) *
                 (tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl))))) AS score
           FROM tf JOIN q ON q.term = tf.term
             JOIN dfq ON dfq.term = tf.term
             JOIN dl ON dl.sha_id = tf.sha_id
             CROSS JOIN stats
           GROUP BY 1, 2)
         SELECT query_id, rank, doc_id, round(score, 4) AS score FROM (
           SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, sha_id) AS rank
           FROM scored)
         WHERE rank <= 10 ORDER BY query_id, rank""",
    "q84_engine_min_should_match" ->
      s"""WITH toks AS (SELECT sha_id, doc_id, term
           FROM read_parquet('$stage/q84_toks.parquet/*.parquet')),
         tf AS (SELECT sha_id, min(doc_id) AS doc_id, term, count(*) AS tf
           FROM toks GROUP BY sha_id, term),
         dl AS (SELECT sha_id, dl
           FROM read_parquet('$stage/q84_docs.parquet/*.parquet')),
         stats AS (SELECT count(*) AS n, sum(dl)::double / count(*) AS avgdl FROM dl),
         q AS (SELECT * FROM (VALUES
           (0, 'spark', 'm'), (0, 'query', 's'), (0, 'join', 's'), (0, 'filter', 's'),
           (1, 'query', 's'), (1, 'join', 's'), (1, 'filter', 's'),
           (2, 'spark', 'm'), (2, 'query', 's'), (2, 'join', 's')) v(query_id, term, role)),
         qm AS (SELECT * FROM (VALUES (0, 2), (1, 2), (2, 3)) v(query_id, msm)),
         sq AS (SELECT query_id, term FROM q WHERE role IN ('m', 's')),
         dfq AS (SELECT term, count(*) AS df FROM tf
           WHERE term IN (SELECT term FROM sq) GROUP BY 1),
         scored AS (
           SELECT sq.query_id, tf.sha_id, min(tf.doc_id) AS doc_id,
             sum(ln(1.0 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5)) *
                 (tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl))))) AS score
           FROM tf JOIN sq ON sq.term = tf.term
             JOIN dfq ON dfq.term = tf.term
             JOIN dl ON dl.sha_id = tf.sha_id
             CROSS JOIN stats
           GROUP BY 1, 2),
         mn AS (SELECT query_id, count(*) AS nm FROM q WHERE role = 'm' GROUP BY 1),
         mm AS (SELECT q.query_id, tf.sha_id, count(*) AS matched
           FROM tf JOIN q ON q.term = tf.term AND q.role = 'm' GROUP BY 1, 2),
         sm AS (SELECT q.query_id, tf.sha_id, count(*) AS smatched
           FROM tf JOIN q ON q.term = tf.term AND q.role = 's' GROUP BY 1, 2),
         qualified AS (
           SELECT s.query_id, s.sha_id, s.doc_id, s.score FROM scored s
           JOIN qm ON qm.query_id = s.query_id
           LEFT JOIN mn ON mn.query_id = s.query_id
           LEFT JOIN mm ON mm.query_id = s.query_id AND mm.sha_id = s.sha_id
           LEFT JOIN sm ON sm.query_id = s.query_id AND sm.sha_id = s.sha_id
           WHERE coalesce(mn.nm, 0) = coalesce(mm.matched, 0)
             AND coalesce(sm.smatched, 0) >= qm.msm)
         SELECT query_id, rank, doc_id, round(score, 4) AS score FROM (
           SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, sha_id) AS rank
           FROM qualified)
         WHERE rank <= 10 ORDER BY query_id, rank""",
    "q59_engine_prefix" ->
      s"""WITH toks AS (SELECT sha_id, doc_id, term
           FROM read_parquet('$stage/q59_toks.parquet/*.parquet')),
         tf AS (SELECT sha_id, min(doc_id) AS doc_id, term, count(*) AS tf
           FROM toks GROUP BY sha_id, term),
         dl AS (SELECT sha_id, dl
           FROM read_parquet('$stage/q59_docs.parquet/*.parquet')),
         stats AS (SELECT count(*) AS n, sum(dl)::double / count(*) AS avgdl FROM dl),
         exp0 AS (SELECT term FROM (SELECT DISTINCT term FROM tf WHERE term LIKE 's%')
           ORDER BY term LIMIT 4),
         exp1 AS (SELECT term FROM (SELECT DISTINCT term FROM tf WHERE term LIKE 'wind%')
           ORDER BY term LIMIT 4),
         q AS (SELECT DISTINCT query_id, term FROM (
           SELECT 0 AS query_id, term FROM exp0
           UNION ALL SELECT 0 AS query_id, 'query' AS term
           UNION ALL SELECT 1 AS query_id, term FROM exp1
           UNION ALL SELECT 1 AS query_id, 'hash' AS term)),
         dfq AS (SELECT term, count(*) AS df FROM tf
           WHERE term IN (SELECT term FROM q) GROUP BY 1),
         scored AS (
           SELECT q.query_id, tf.sha_id, min(tf.doc_id) AS doc_id,
             sum(ln(1.0 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5)) *
                 (tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl))))) AS score
           FROM tf JOIN q ON q.term = tf.term
             JOIN dfq ON dfq.term = tf.term
             JOIN dl ON dl.sha_id = tf.sha_id
             CROSS JOIN stats
           GROUP BY 1, 2)
         SELECT query_id, rank, doc_id, round(score, 4) AS score FROM (
           SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, sha_id) AS rank
           FROM scored)
         WHERE rank <= 10 ORDER BY query_id, rank""",
    "q60_engine_facets" ->
      s"""WITH toks AS (SELECT sha_id, term
           FROM read_parquet('$stage/q60_toks.parquet/*.parquet')),
         docs AS (SELECT sha_id, lang
           FROM read_parquet('$stage/q60_docs.parquet/*.parquet')),
         q AS (SELECT * FROM (VALUES (0, 'join'), (0, 'query'), (0, 'spark'),
           (1, 'filter'), (1, 'group'), (1, 'sort'),
           (2, 'batch'), (2, 'dup'), (2, 'stream')) v(query_id, term)),
         m AS (SELECT DISTINCT q.query_id, toks.sha_id
           FROM toks JOIN q ON q.term = toks.term)
         SELECT m.query_id, docs.lang AS facet, count(*) AS doc_count
         FROM m JOIN docs ON docs.sha_id = m.sha_id
         GROUP BY 1, 2 ORDER BY query_id, facet""",
    "q61_engine_highlight" ->
      s"""WITH toks AS (SELECT sha_id, doc_id, term
           FROM read_parquet('$stage/q61_toks.parquet/*.parquet')),
         tf AS (SELECT sha_id, min(doc_id) AS doc_id, term, count(*) AS tf
           FROM toks GROUP BY sha_id, term),
         dl AS (SELECT sha_id, dl
           FROM read_parquet('$stage/q61_docs.parquet/*.parquet')),
         stats AS (SELECT count(*) AS n, sum(dl)::double / count(*) AS avgdl FROM dl),
         q AS (SELECT * FROM (VALUES (0, 'join'), (0, 'query'), (0, 'spark'),
           (1, 'filter'), (1, 'group'), (1, 'sort'),
           (2, 'batch'), (2, 'stream'), (2, 'window')) v(query_id, term)),
         dfq AS (SELECT term, count(*) AS df FROM tf
           WHERE term IN (SELECT term FROM q) GROUP BY 1),
         scored AS (
           SELECT q.query_id, tf.sha_id, min(tf.doc_id) AS doc_id,
             sum(ln(1.0 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5)) *
                 (tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl))))) AS score
           FROM tf JOIN q ON q.term = tf.term
             JOIN dfq ON dfq.term = tf.term
             JOIN dl ON dl.sha_id = tf.sha_id
             CROSS JOIN stats
           GROUP BY 1, 2),
         ranked AS (SELECT query_id, sha_id, doc_id, rank FROM (
           SELECT query_id, sha_id, doc_id,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, sha_id) AS rank
           FROM scored) WHERE rank <= 10),
         pos AS (SELECT r.query_id, r.sha_id,
             min(position(q.term IN lower(dt.text))) AS p0
           FROM ranked r JOIN q ON q.query_id = r.query_id
           JOIN documents dt ON dt.doc_id = r.doc_id
           WHERE position(q.term IN lower(dt.text)) > 0
           GROUP BY 1, 2)
         SELECT r.query_id, r.rank, r.doc_id,
           substring(dt.text, greatest(1, coalesce(p.p0, 1) - 20), 60) AS snippet
         FROM ranked r JOIN documents dt ON dt.doc_id = r.doc_id
         LEFT JOIN pos p ON p.query_id = r.query_id AND p.sha_id = r.sha_id
         ORDER BY r.query_id, r.rank""",
    "q62_engine_more_like_this" ->
      s"""WITH toks AS (SELECT sha_id, doc_id, term
           FROM read_parquet('$stage/q62_toks.parquet/*.parquet')),
         tf AS (SELECT sha_id, min(doc_id) AS doc_id, term, count(*) AS tf
           FROM toks GROUP BY sha_id, term),
         dl AS (SELECT sha_id, dl
           FROM read_parquet('$stage/q62_docs.parquet/*.parquet')),
         stats AS (SELECT count(*) AS n, sum(dl)::double / count(*) AS avgdl FROM dl),
         stf AS (SELECT t.doc_id::int AS query_id, t.term, count(*) AS tf
           FROM toks t WHERE t.doc_id IN (0, 1, 2) GROUP BY 1, 2
           HAVING count(*) >= 2),
         dfall AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         sel AS (SELECT query_id, term FROM (
             SELECT s.query_id, s.term,
               row_number() OVER (PARTITION BY s.query_id
                 ORDER BY s.tf * ln(1.0 + (stats.n - d.df + 0.5) / (d.df + 0.5)) DESC,
                   s.term) AS rn
             FROM stf s JOIN dfall d ON d.term = s.term CROSS JOIN stats
             WHERE d.df >= 2) WHERE rn <= 10),
         dfq AS (SELECT term, count(*) AS df FROM tf
           WHERE term IN (SELECT term FROM sel) GROUP BY 1),
         scored AS (
           SELECT q.query_id, tf.sha_id, min(tf.doc_id) AS doc_id,
             sum(ln(1.0 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5)) *
                 (tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl))))) AS score
           FROM tf JOIN sel q ON q.term = tf.term
             JOIN dfq ON dfq.term = tf.term
             JOIN dl ON dl.sha_id = tf.sha_id
             CROSS JOIN stats
           GROUP BY 1, 2)
         SELECT query_id, rank, doc_id, round(score, 4) AS score FROM (
           SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, sha_id) AS rank
           FROM scored WHERE doc_id <> query_id)
         WHERE rank <= 10 ORDER BY query_id, rank""",
    "q63_engine_match_counts" ->
      s"""WITH toks AS (SELECT DISTINCT sha_id, term
           FROM read_parquet('$stage/q63_toks.parquet/*.parquet')),
         q AS (SELECT * FROM (VALUES (0, 'join'), (0, 'query'), (0, 'spark'),
           (1, 'dup'), (1, 'stream'),
           (2, 'filter'), (2, 'group'), (2, 'sort')) v(query_id, term)),
         qn AS (SELECT query_id, count(*) AS nt FROM q GROUP BY 1),
         m AS (SELECT q.query_id, t.sha_id, count(*) AS matched
           FROM toks t JOIN q ON q.term = t.term GROUP BY 1, 2),
         orc AS (SELECT query_id, count(*) AS doc_count FROM m GROUP BY 1),
         andc AS (SELECT m.query_id, count(*) AS doc_count FROM m
           JOIN qn ON qn.query_id = m.query_id
           WHERE m.matched = qn.nt GROUP BY 1),
         allq AS (SELECT DISTINCT query_id FROM q)
         SELECT query_id, mode, doc_count FROM (
           SELECT a.query_id, 'and' AS mode,
             coalesce(andc.doc_count, 0) AS doc_count
           FROM allq a LEFT JOIN andc ON andc.query_id = a.query_id
           UNION ALL
           SELECT a.query_id, 'or' AS mode,
             coalesce(orc.doc_count, 0) AS doc_count
           FROM allq a LEFT JOIN orc ON orc.query_id = a.query_id)
         ORDER BY query_id, mode""",
    "q64_dedup_paragraphs" ->
      """WITH aug AS (
           SELECT doc_id, text || chr(10) || chr(10) || 'shared footer paragraph' ||
             chr(10) || 'second line of footer' || chr(10) || chr(10) ||
             'unique tail ' || doc_id AS t
           FROM documents),
         p AS (
           SELECT doc_id, unnest(regexp_split_to_array(t, '\n\n+')) AS unit,
                  unnest(range(len(regexp_split_to_array(t, '\n\n+')))) AS pos
           FROM aug),
         freq AS (
           SELECT unit FROM (SELECT DISTINCT unit, doc_id FROM p WHERE trim(unit) <> '')
           GROUP BY unit HAVING count(*) >= 2),
         kept AS (SELECT doc_id, pos, unit FROM p
           WHERE unit NOT IN (SELECT unit FROM freq)),
         agg AS (SELECT doc_id, string_agg(unit, chr(10) || chr(10) ORDER BY pos) AS clean
           FROM kept GROUP BY doc_id)
         SELECT d.doc_id, coalesce(a.clean, '') AS clean
         FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
         ORDER BY d.doc_id""",
    "q65_engine_explain" ->
      s"""WITH toks AS (SELECT sha_id, doc_id, term
           FROM read_parquet('$stage/q65_toks.parquet/*.parquet')),
         tf AS (SELECT sha_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
         dl AS (SELECT sha_id, dl
           FROM read_parquet('$stage/q65_docs.parquet/*.parquet')),
         stats AS (SELECT count(*) AS n, sum(dl)::double / count(*) AS avgdl FROM dl),
         q AS (SELECT * FROM (VALUES (0, 'join'), (0, 'query'), (0, 'spark'),
           (1, 'filter'), (1, 'group'), (1, 'sort'),
           (2, 'batch'), (2, 'stream'), (2, 'window')) v(query_id, term)),
         dfq AS (SELECT term, count(*) AS df FROM tf
           WHERE term IN (SELECT term FROM q) GROUP BY 1),
         tft AS (SELECT t.sha_id, t.doc_id, t.term, count(*) AS tf
           FROM toks t WHERE t.doc_id IN (0, 1, 2) GROUP BY 1, 2, 3)
         SELECT q.query_id, tft.doc_id, tft.term, tft.tf, dl.dl, dfq.df,
           round(ln(1.0 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5)), 4) AS idf,
           round(tft.tf * (1.2 + 1.0) /
             (tft.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl))), 4) AS tf_norm,
           round(ln(1.0 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5)) *
             (tft.tf * (1.2 + 1.0) /
              (tft.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl)))), 4) AS contribution
         FROM tft JOIN q ON q.term = tft.term
           JOIN dfq ON dfq.term = tft.term
           JOIN dl ON dl.sha_id = tft.sha_id
           CROSS JOIN stats
         ORDER BY q.query_id, tft.doc_id, tft.term""",
    "q66_engine_fuzzy" ->
      s"""WITH toks AS (SELECT sha_id, doc_id, term
           FROM read_parquet('$stage/q66_toks.parquet/*.parquet')),
         tf AS (SELECT sha_id, min(doc_id) AS doc_id, term, count(*) AS tf
           FROM toks GROUP BY sha_id, term),
         dl AS (SELECT sha_id, dl
           FROM read_parquet('$stage/q66_docs.parquet/*.parquet')),
         stats AS (SELECT count(*) AS n, sum(dl)::double / count(*) AS avgdl FROM dl),
         dict AS (SELECT DISTINCT term FROM tf),
         exp0 AS (SELECT term FROM dict WHERE levenshtein(term, 'sparc') <= 2
           ORDER BY levenshtein(term, 'sparc'), term LIMIT 8),
         exp1 AS (SELECT term FROM dict WHERE levenshtein(term, 'strem') <= 2
           ORDER BY levenshtein(term, 'strem'), term LIMIT 8),
         exp2 AS (SELECT term FROM dict WHERE levenshtein(term, 'sort') <= 2
           ORDER BY levenshtein(term, 'sort'), term LIMIT 8),
         q AS (SELECT DISTINCT query_id, term FROM (
           SELECT 0 AS query_id, term FROM exp0
           UNION ALL SELECT 0 AS query_id, 'query' AS term
           UNION ALL SELECT 1 AS query_id, term FROM exp1
           UNION ALL SELECT 1 AS query_id, 'batch' AS term
           UNION ALL SELECT 2 AS query_id, term FROM exp2
           UNION ALL SELECT 2 AS query_id, 'merge' AS term)),
         dfq AS (SELECT term, count(*) AS df FROM tf
           WHERE term IN (SELECT term FROM q) GROUP BY 1),
         scored AS (
           SELECT q.query_id, tf.sha_id, min(tf.doc_id) AS doc_id,
             sum(ln(1.0 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5)) *
                 (tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl))))) AS score
           FROM tf JOIN q ON q.term = tf.term
             JOIN dfq ON dfq.term = tf.term
             JOIN dl ON dl.sha_id = tf.sha_id
             CROSS JOIN stats
           GROUP BY 1, 2)
         SELECT query_id, rank, doc_id, round(score, 4) AS score FROM (
           SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, sha_id) AS rank
           FROM scored)
         WHERE rank <= 10 ORDER BY query_id, rank""",
    "q130_engine_fuzzy_transpositions" ->
      s"""WITH toks AS (SELECT sha_id, doc_id, term
           FROM read_parquet('$stage/q130_toks.parquet/*.parquet')),
         tf AS (SELECT sha_id, min(doc_id) AS doc_id, term, count(*) AS tf
           FROM toks GROUP BY sha_id, term),
         dl AS (SELECT sha_id, dl
           FROM read_parquet('$stage/q130_docs.parquet/*.parquet')),
         stats AS (SELECT count(*) AS n, sum(dl)::double / count(*) AS avgdl FROM dl),
         dict AS (SELECT DISTINCT term FROM tf),
         exp0 AS (SELECT term FROM dict WHERE damerau_levenshtein(term, 'sprak') <= 1
           ORDER BY damerau_levenshtein(term, 'sprak'), term LIMIT 8),
         exp1 AS (SELECT term FROM dict WHERE damerau_levenshtein(term, 'qeury') <= 1
           ORDER BY damerau_levenshtein(term, 'qeury'), term LIMIT 8),
         exp2 AS (SELECT term FROM dict WHERE damerau_levenshtein(term, 'osrt') <= 1
           ORDER BY damerau_levenshtein(term, 'osrt'), term LIMIT 8),
         q AS (SELECT DISTINCT query_id, term FROM (
           SELECT 0 AS query_id, term FROM exp0
           UNION ALL SELECT 0 AS query_id, 'query' AS term
           UNION ALL SELECT 1 AS query_id, term FROM exp1
           UNION ALL SELECT 1 AS query_id, 'batch' AS term
           UNION ALL SELECT 2 AS query_id, term FROM exp2
           UNION ALL SELECT 2 AS query_id, 'merge' AS term)),
         dfq AS (SELECT term, count(*) AS df FROM tf
           WHERE term IN (SELECT term FROM q) GROUP BY 1),
         scored AS (
           SELECT q.query_id, tf.sha_id, min(tf.doc_id) AS doc_id,
             sum(ln(1.0 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5)) *
                 (tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl))))) AS score
           FROM tf JOIN q ON q.term = tf.term
             JOIN dfq ON dfq.term = tf.term
             JOIN dl ON dl.sha_id = tf.sha_id
             CROSS JOIN stats
           GROUP BY 1, 2)
         SELECT query_id, rank, doc_id, round(score, 4) AS score FROM (
           SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, sha_id) AS rank
           FROM scored)
         WHERE rank <= 10 ORDER BY query_id, rank""",
    "q173_engine_match_fuzziness" ->
      s"""WITH toks AS (SELECT sha_id, doc_id, term
           FROM read_parquet('$stage/q173_toks.parquet/*.parquet')),
         tf AS (SELECT sha_id, min(doc_id) AS doc_id, term, count(*) AS tf
           FROM toks GROUP BY sha_id, term),
         dl AS (SELECT sha_id, dl
           FROM read_parquet('$stage/q173_docs.parquet/*.parquet')),
         stats AS (SELECT count(*) AS n, sum(dl)::double / count(*) AS avgdl FROM dl),
         dict AS (SELECT DISTINCT term FROM tf),
         e_socre AS (SELECT term FROM dict WHERE damerau_levenshtein(term, 'socre') <= 1
           ORDER BY damerau_levenshtein(term, 'socre'), term LIMIT 8),
         e_filtre AS (SELECT term FROM dict WHERE damerau_levenshtein(term, 'filtre') <= 2
           ORDER BY damerau_levenshtein(term, 'filtre'), term LIMIT 8),
         e_qery AS (SELECT term FROM dict WHERE damerau_levenshtein(term, 'qery') <= 1
           ORDER BY damerau_levenshtein(term, 'qery'), term LIMIT 8),
         e_shufle AS (SELECT term FROM dict WHERE damerau_levenshtein(term, 'shufle') <= 2
           ORDER BY damerau_levenshtein(term, 'shufle'), term LIMIT 8),
         q AS (SELECT DISTINCT query_id, term FROM (
           SELECT 0 AS query_id, term FROM e_socre
           UNION ALL SELECT 0, term FROM e_filtre
           UNION ALL SELECT 1, 'db'
           UNION ALL SELECT 1, term FROM e_qery
           UNION ALL SELECT 2, term FROM e_shufle
           UNION ALL SELECT 2, 'zz')),
         dfq AS (SELECT term, count(*) AS df FROM tf
           WHERE term IN (SELECT term FROM q) GROUP BY 1),
         scored AS (
           SELECT q.query_id, tf.sha_id, min(tf.doc_id) AS doc_id,
             sum(ln(1.0 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5)) *
                 (tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl))))) AS score
           FROM tf JOIN q ON q.term = tf.term
             JOIN dfq ON dfq.term = tf.term
             JOIN dl ON dl.sha_id = tf.sha_id
             CROSS JOIN stats
           GROUP BY 1, 2)
         SELECT query_id, rank, doc_id, round(score, 4) AS score FROM (
           SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, sha_id) AS rank
           FROM scored)
         WHERE rank <= 10 ORDER BY query_id, rank""",
    // significant_text: disjunctive match sets, the exact-text dedup
    // (min doc_id per (query, text) — recomputed from the staged RAW
    // source rows, not engine output), fg/bg document frequencies and
    // the JLH heuristic, for both the raw and dedup variants
    "q174_engine_significant_text" ->
      s"""WITH toks AS (SELECT doc_id, term
           FROM read_parquet('$stage/q174_toks.parquet/*.parquet')),
         dt AS (SELECT DISTINCT doc_id, term FROM toks),
         n AS (SELECT count(*) AS n
           FROM read_parquet('$stage/q174_docs.parquet/*.parquet')),
         src AS (SELECT doc_id, text
           FROM read_parquet('$stage/q174_src.parquet/*.parquet')),
         q AS (SELECT * FROM (VALUES (0, 'spark'), (1, 'filter'), (1, 'group'))
           v(query_id, term)),
         m AS (SELECT DISTINCT q.query_id, t.doc_id
           FROM dt t JOIN q ON q.term = t.term),
         md AS (SELECT m.query_id, min(m.doc_id) AS doc_id
           FROM m JOIN src USING (doc_id) GROUP BY m.query_id, src.text),
         bg AS (SELECT term, count(*) AS bg_df FROM dt GROUP BY 1),
         fgn_raw AS (SELECT query_id, count(*) AS fg_n FROM m GROUP BY 1),
         fgn_ded AS (SELECT query_id, count(*) AS fg_n FROM md GROUP BY 1),
         fg_raw AS (SELECT m.query_id, dt.term, count(*) AS fg_df
           FROM m JOIN dt USING (doc_id) GROUP BY 1, 2 HAVING count(*) >= 3),
         fg_ded AS (SELECT md.query_id, dt.term, count(*) AS fg_df
           FROM md JOIN dt USING (doc_id) GROUP BY 1, 2 HAVING count(*) >= 3),
         scored AS (
           SELECT 'raw' AS fn, f.query_id, f.term, f.fg_df, bg.bg_df,
             (f.fg_df::double / g.fg_n - bg.bg_df::double / n.n) *
             ((f.fg_df::double / g.fg_n) / (bg.bg_df::double / n.n)) AS score
           FROM fg_raw f JOIN bg USING (term) JOIN fgn_raw g USING (query_id)
             CROSS JOIN n
           WHERE f.fg_df::double / g.fg_n > bg.bg_df::double / n.n
           UNION ALL
           SELECT 'dedup', f.query_id, f.term, f.fg_df, bg.bg_df,
             (f.fg_df::double / g.fg_n - bg.bg_df::double / n.n) *
             ((f.fg_df::double / g.fg_n) / (bg.bg_df::double / n.n))
           FROM fg_ded f JOIN bg USING (term) JOIN fgn_ded g USING (query_id)
             CROSS JOIN n
           WHERE f.fg_df::double / g.fg_n > bg.bg_df::double / n.n)
         SELECT fn, query_id, rank, term, fg_df, bg_df,
           round(score, 6) AS score FROM (
           SELECT *, row_number() OVER (PARTITION BY fn, query_id
             ORDER BY score DESC, term) AS rank FROM scored)
         WHERE rank <= 10 ORDER BY fn, query_id, rank""",
    // search_as_you_type: the oracle regenerates the edge-gram expansion
    // (leading grams 2..8 per token occurrence) from the BARE staged
    // tokens, recomputes gram dl/avgdl/N/df over the expanded universe,
    // and re-derives BM25; the typed-prefix queries are literals (the
    // query chain strips the expansion)
    "q175_engine_search_as_you_type" ->
      s"""WITH toks AS (SELECT sha_id, doc_id, term
           FROM read_parquet('$stage/q175_toks.parquet/*.parquet')),
         g AS (SELECT sha_id, doc_id, substr(term, 1, gs.g) AS term
           FROM toks, generate_series(2, 8) gs(g)
           WHERE gs.g <= length(term)),
         docs AS (SELECT sha_id
           FROM read_parquet('$stage/q175_docs.parquet/*.parquet')),
         fdl AS (SELECT docs.sha_id, COALESCE(c.n, 0) AS dl FROM docs
           LEFT JOIN (SELECT sha_id, count(*) AS n FROM g GROUP BY 1) c
           USING (sha_id)),
         stats AS (SELECT count(*) AS n, sum(dl)::double / count(*) AS avgdl
           FROM fdl),
         tf AS (SELECT sha_id, min(doc_id) AS doc_id, term, count(*) AS tf
           FROM g GROUP BY sha_id, term),
         q AS (SELECT * FROM (VALUES (0, 'spar'), (1, 'fil'), (1, 'gro'),
             (2, 'windo')) v(query_id, term)),
         dfq AS (SELECT term, count(*) AS df FROM tf
           WHERE term IN (SELECT term FROM q) GROUP BY 1),
         scored AS (
           SELECT q.query_id, tf.sha_id, min(tf.doc_id) AS doc_id,
             sum(ln(1.0 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5)) *
                 (tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (fdl.dl / stats.avgdl))))) AS score
           FROM tf JOIN q ON q.term = tf.term
             JOIN dfq ON dfq.term = tf.term
             JOIN fdl ON fdl.sha_id = tf.sha_id
             CROSS JOIN stats
           GROUP BY 1, 2)
         SELECT query_id, rank, doc_id, round(score, 4) AS score FROM (
           SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, sha_id) AS rank
           FROM scored)
         WHERE rank <= 10 ORDER BY query_id, rank""",
    // shingle 2-gram chain: every bigram rebuilt from POSITIONAL staged
    // tokens (pos p joined to p+1), bigram dl/avgdl/N/df recomputed, the
    // query shingled in SQL as literals; BM25 re-derived over bigrams
    "q176_engine_shingle_2gram" ->
      s"""WITH toks AS (SELECT sha_id, doc_id, pos, term
           FROM read_parquet('$stage/q176_toks.parquet/*.parquet')),
         g AS (SELECT a.sha_id, a.doc_id, a.term || ' ' || b.term AS term
           FROM toks a JOIN toks b
             ON b.sha_id = a.sha_id AND b.pos = a.pos + 1),
         docs AS (SELECT sha_id
           FROM read_parquet('$stage/q176_docs.parquet/*.parquet')),
         fdl AS (SELECT docs.sha_id, COALESCE(c.n, 0) AS dl FROM docs
           LEFT JOIN (SELECT sha_id, count(*) AS n FROM g GROUP BY 1) c
           USING (sha_id)),
         stats AS (SELECT count(*) AS n, sum(dl)::double / count(*) AS avgdl
           FROM fdl),
         tf AS (SELECT sha_id, min(doc_id) AS doc_id, term, count(*) AS tf
           FROM g GROUP BY sha_id, term),
         q AS (SELECT * FROM (VALUES (0, 'batch window'), (1, 'group sort'),
             (1, 'sort agg')) v(query_id, term)),
         dfq AS (SELECT term, count(*) AS df FROM tf
           WHERE term IN (SELECT term FROM q) GROUP BY 1),
         scored AS (
           SELECT q.query_id, tf.sha_id, min(tf.doc_id) AS doc_id,
             sum(ln(1.0 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5)) *
                 (tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (fdl.dl / stats.avgdl))))) AS score
           FROM tf JOIN q ON q.term = tf.term
             JOIN dfq ON dfq.term = tf.term
             JOIN fdl ON fdl.sha_id = tf.sha_id
             CROSS JOIN stats
           GROUP BY 1, 2)
         SELECT query_id, rank, doc_id, round(score, 4) AS score FROM (
           SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, sha_id) AS rank
           FROM scored)
         WHERE rank <= 10 ORDER BY query_id, rank""",
    "q69_engine_page" ->
      s"""WITH toks AS (SELECT sha_id, doc_id, term
           FROM read_parquet('$stage/q69_toks.parquet/*.parquet')),
         tf AS (SELECT sha_id, min(doc_id) AS doc_id, term, count(*) AS tf
           FROM toks GROUP BY sha_id, term),
         dl AS (SELECT sha_id, dl
           FROM read_parquet('$stage/q69_docs.parquet/*.parquet')),
         stats AS (SELECT count(*) AS n, sum(dl)::double / count(*) AS avgdl FROM dl),
         q AS (SELECT * FROM (VALUES (0, 'join'), (0, 'query'), (0, 'spark'),
           (1, 'filter'), (1, 'group'), (1, 'sort')) v(query_id, term)),
         dfq AS (SELECT term, count(*) AS df FROM tf
           WHERE term IN (SELECT term FROM q) GROUP BY 1),
         scored AS (
           SELECT q.query_id, tf.sha_id, min(tf.doc_id) AS doc_id,
             sum(ln(1.0 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5)) *
                 (tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl))))) AS score
           FROM tf JOIN q ON q.term = tf.term
             JOIN dfq ON dfq.term = tf.term
             JOIN dl ON dl.sha_id = tf.sha_id
             CROSS JOIN stats
           GROUP BY 1, 2)
         SELECT query_id, rank, doc_id, round(score, 4) AS score FROM (
           SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, sha_id) AS rank
           FROM scored)
         WHERE rank > 10 AND rank <= 20 ORDER BY query_id, rank""",
    "q71_engine_search_after" ->
      s"""WITH toks AS (SELECT sha_id, doc_id, term
           FROM read_parquet('$stage/q71_toks.parquet/*.parquet')),
         tf AS (SELECT sha_id, term, count(*) AS tf
           FROM toks GROUP BY sha_id, term),
         dl AS (SELECT sha_id, dl
           FROM read_parquet('$stage/q71_docs.parquet/*.parquet')),
         stats AS (SELECT count(*) AS n, sum(dl)::double / count(*) AS avgdl FROM dl),
         q AS (SELECT * FROM (VALUES (0, 'join'), (0, 'query'), (0, 'spark'),
           (1, 'filter'), (1, 'group'), (1, 'sort')) v(query_id, term)),
         dfq AS (SELECT term, count(*) AS df FROM tf
           WHERE term IN (SELECT term FROM q) GROUP BY 1),
         scored AS (
           SELECT q.query_id, tf.sha_id,
             sum(ln(1.0 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5)) *
                 (tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl))))) AS score
           FROM tf JOIN q ON q.term = tf.term
             JOIN dfq ON dfq.term = tf.term
             JOIN dl ON dl.sha_id = tf.sha_id
             CROSS JOIN stats
           GROUP BY 1, 2),
         dm AS (SELECT sha_id, shard, ord
           FROM read_parquet('$stage/q71_docmap.parquet/*.parquet'))
         SELECT query_id, (rnk - 10) AS rank, doc_id, round(score, 4) AS score FROM (
           SELECT s.query_id, s.sha_id AS doc_id, s.score,
             row_number() OVER (PARTITION BY s.query_id
               ORDER BY s.score DESC, dm.shard, dm.ord) AS rnk
           FROM scored s JOIN dm ON dm.sha_id = s.sha_id)
         WHERE rnk > 10 AND rnk <= 20 ORDER BY query_id, rank""",
    "q72_engine_sort" ->
      s"""WITH toks AS (SELECT DISTINCT sha_id, term
           FROM read_parquet('$stage/q72_toks.parquet/*.parquet')),
         dl AS (SELECT sha_id, dl
           FROM read_parquet('$stage/q72_docs.parquet/*.parquet')),
         q AS (SELECT * FROM (VALUES (0, 'join'), (0, 'query'), (0, 'spark'),
           (1, 'dup'), (2, 'zzznosuchterm')) v(query_id, term)),
         m AS (SELECT DISTINCT q.query_id, t.sha_id
           FROM toks t JOIN q ON q.term = t.term)
         SELECT query_id, rank, doc_id, sort_key FROM (
           SELECT m.query_id, m.sha_id AS doc_id, dl.dl AS sort_key,
             row_number() OVER (PARTITION BY m.query_id
               ORDER BY dl.dl DESC, m.sha_id) AS rank
           FROM m JOIN dl ON dl.sha_id = m.sha_id)
         WHERE rank <= 10 ORDER BY query_id, rank""",
    "q73_engine_multi_index" ->
      s"""WITH toks AS (
           SELECT 'a' AS idx, sha_id, term
             FROM read_parquet('$stage/q73a_toks.parquet/*.parquet')
           UNION ALL
           SELECT 'b', sha_id, term
             FROM read_parquet('$stage/q73b_toks.parquet/*.parquet')),
         tf AS (SELECT idx, sha_id, term, count(*) AS tf
           FROM toks GROUP BY 1, 2, 3),
         dl AS (
           SELECT 'a' AS idx, sha_id, dl
             FROM read_parquet('$stage/q73a_docs.parquet/*.parquet')
           UNION ALL
           SELECT 'b', sha_id, dl
             FROM read_parquet('$stage/q73b_docs.parquet/*.parquet')),
         stats AS (SELECT idx, count(*) AS n, sum(dl)::double / count(*) AS avgdl
           FROM dl GROUP BY 1),
         q AS (SELECT * FROM (VALUES (0, 'join'), (0, 'query'), (0, 'spark'),
           (1, 'filter'), (1, 'group'), (1, 'sort')) v(query_id, term)),
         dfq AS (SELECT idx, term, count(*) AS df FROM tf
           WHERE term IN (SELECT term FROM q) GROUP BY 1, 2),
         scored AS (
           SELECT tf.idx, q.query_id, tf.sha_id,
             sum(ln(1.0 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5)) *
                 (tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl))))) AS score
           FROM tf JOIN q ON q.term = tf.term
             JOIN dfq ON dfq.term = tf.term AND dfq.idx = tf.idx
             JOIN dl ON dl.sha_id = tf.sha_id AND dl.idx = tf.idx
             JOIN stats ON stats.idx = tf.idx
           GROUP BY 1, 2, 3),
         peridx AS (SELECT idx, query_id, sha_id, score FROM (
           SELECT idx, query_id, sha_id, score,
             row_number() OVER (PARTITION BY idx, query_id
               ORDER BY score DESC, sha_id) AS rn
           FROM scored) WHERE rn <= 10)
         SELECT query_id, rank, idx, doc_id, round(score, 4) AS score FROM (
           SELECT query_id, idx, sha_id AS doc_id, score,
             row_number() OVER (PARTITION BY query_id
               ORDER BY score DESC, idx, sha_id) AS rank
           FROM peridx)
         WHERE rank <= 10 ORDER BY query_id, rank""",
    "q74_engine_suggest" ->
      s"""WITH toks AS (SELECT DISTINCT sha_id, term
           FROM read_parquet('$stage/q74_toks.parquet/*.parquet')),
         df AS (SELECT term, count(*) AS df FROM toks GROUP BY 1),
         w AS (SELECT * FROM (VALUES ('sparc'), ('qurey'), ('joni')) v(word)),
         cand AS (SELECT w.word, df.term AS suggestion,
             levenshtein(df.term, w.word) AS dist, df.df
           FROM w JOIN df ON abs(len(df.term) - len(w.word)) <= 2
             AND substr(df.term, 1, 1) = substr(w.word, 1, 1)
           WHERE levenshtein(df.term, w.word) BETWEEN 1 AND 2)
         SELECT word, rank, suggestion, dist, df FROM (
           SELECT word, suggestion, dist, df,
             row_number() OVER (PARTITION BY word
               ORDER BY dist, df DESC, suggestion) AS rank
           FROM cand)
         WHERE rank <= 5 ORDER BY word, rank""",
    "q76_engine_delete_by_query" ->
      s"""WITH toks0 AS (SELECT sha_id, term
           FROM read_parquet('$stage/q76_toks.parquet/*.parquet')),
         victims AS (SELECT DISTINCT sha_id FROM toks0 WHERE term = 'dup'),
         toks AS (SELECT * FROM toks0
           WHERE sha_id NOT IN (SELECT sha_id FROM victims)),
         tf AS (SELECT sha_id, term, count(*) AS tf
           FROM toks GROUP BY sha_id, term),
         dl AS (SELECT sha_id, dl
           FROM read_parquet('$stage/q76_docs.parquet/*.parquet')
           WHERE sha_id NOT IN (SELECT sha_id FROM victims)),
         stats AS (SELECT count(*) AS n, sum(dl)::double / count(*) AS avgdl FROM dl),
         q AS (SELECT * FROM (VALUES (0, 'join'), (0, 'query'), (0, 'spark'),
           (1, 'filter'), (1, 'group'), (1, 'sort')) v(query_id, term)),
         dfq AS (SELECT term, count(*) AS df FROM tf
           WHERE term IN (SELECT term FROM q) GROUP BY 1),
         scored AS (
           SELECT q.query_id, tf.sha_id,
             sum(ln(1.0 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5)) *
                 (tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl))))) AS score
           FROM tf JOIN q ON q.term = tf.term
             JOIN dfq ON dfq.term = tf.term
             JOIN dl ON dl.sha_id = tf.sha_id
             CROSS JOIN stats
           GROUP BY 1, 2)
         SELECT query_id, rank, doc_id, round(score, 4) AS score FROM (
           SELECT query_id, sha_id AS doc_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, sha_id) AS rank
           FROM scored)
         WHERE rank <= 10 ORDER BY query_id, rank""",
    "q77_engine_upsert" ->
      s"""WITH bdocs AS (SELECT sha_id, dl
           FROM read_parquet('$stage/q77b_docs.parquet/*.parquet')),
         btoks AS (SELECT sha_id, term
           FROM read_parquet('$stage/q77b_toks.parquet/*.parquet')),
         dl AS (SELECT * FROM bdocs UNION ALL
           SELECT sha_id, dl FROM read_parquet('$stage/q77o_docs.parquet/*.parquet')
           WHERE sha_id NOT IN (SELECT sha_id FROM bdocs)),
         toks AS (SELECT * FROM btoks UNION ALL
           SELECT sha_id, term FROM read_parquet('$stage/q77o_toks.parquet/*.parquet')
           WHERE sha_id NOT IN (SELECT sha_id FROM bdocs)),
         tf AS (SELECT sha_id, term, count(*) AS tf
           FROM toks GROUP BY sha_id, term),
         stats AS (SELECT count(*) AS n, sum(dl)::double / count(*) AS avgdl FROM dl),
         q AS (SELECT * FROM (VALUES (0, 'join'), (0, 'query'), (0, 'spark'),
           (1, 'shuffle'), (1, 'upsertmarker')) v(query_id, term)),
         dfq AS (SELECT term, count(*) AS df FROM tf
           WHERE term IN (SELECT term FROM q) GROUP BY 1),
         scored AS (
           SELECT q.query_id, tf.sha_id,
             sum(ln(1.0 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5)) *
                 (tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl))))) AS score
           FROM tf JOIN q ON q.term = tf.term
             JOIN dfq ON dfq.term = tf.term
             JOIN dl ON dl.sha_id = tf.sha_id
             CROSS JOIN stats
           GROUP BY 1, 2)
         SELECT query_id, rank, doc_id, round(score, 4) AS score FROM (
           SELECT query_id, sha_id AS doc_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, sha_id) AS rank
           FROM scored)
         WHERE rank <= 10 ORDER BY query_id, rank""",
    "q79_significant_terms" ->
      s"""WITH toks AS (SELECT DISTINCT sha_id, term
           FROM read_parquet('$stage/q79_toks.parquet/*.parquet')),
         n AS (SELECT count(*) AS n
           FROM read_parquet('$stage/q79_docs.parquet/*.parquet')),
         q AS (SELECT * FROM (VALUES (0, 'spark'), (1, 'filter'), (1, 'group'))
           v(query_id, term)),
         m AS (SELECT DISTINCT q.query_id, t.sha_id
           FROM toks t JOIN q ON q.term = t.term),
         fgn AS (SELECT query_id, count(*) AS fg_n FROM m GROUP BY 1),
         fg AS (SELECT m.query_id, t.term, count(*) AS fg_df
           FROM m JOIN toks t ON t.sha_id = m.sha_id
           GROUP BY 1, 2 HAVING count(*) >= 3),
         bg AS (SELECT term, count(*) AS bg_df FROM toks GROUP BY 1),
         scored AS (SELECT fg.query_id, fg.term, fg.fg_df, bg.bg_df,
             (fg.fg_df::double / fgn.fg_n - bg.bg_df::double / n.n) *
             ((fg.fg_df::double / fgn.fg_n) / (bg.bg_df::double / n.n)) AS score
           FROM fg JOIN bg USING (term) JOIN fgn USING (query_id) CROSS JOIN n
           WHERE fg.fg_df::double / fgn.fg_n > bg.bg_df::double / n.n)
         SELECT query_id, rank, term, fg_df, bg_df, round(score, 6) AS score FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY score DESC, term) AS rank FROM scored)
         WHERE rank <= 10 ORDER BY query_id, rank""",
    "q78_hybrid_rrf" ->
      s"""WITH toks AS (SELECT sha_id, doc_id, term
           FROM read_parquet('$stage/q78_toks.parquet/*.parquet')),
         ids AS (SELECT DISTINCT sha_id, doc_id FROM toks),
         tf AS (SELECT sha_id, term, count(*) AS tf
           FROM toks GROUP BY sha_id, term),
         dl AS (SELECT sha_id, dl
           FROM read_parquet('$stage/q78_docs.parquet/*.parquet')),
         stats AS (SELECT count(*) AS n, sum(dl)::double / count(*) AS avgdl FROM dl),
         q AS (SELECT * FROM (VALUES (0, 'join'), (0, 'query'), (0, 'spark'),
           (1, 'filter'), (1, 'group'), (1, 'sort')) v(query_id, term)),
         dfq AS (SELECT term, count(*) AS df FROM tf
           WHERE term IN (SELECT term FROM q) GROUP BY 1),
         scored AS (
           SELECT q.query_id, tf.sha_id,
             sum(ln(1.0 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5)) *
                 (tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl))))) AS score
           FROM tf JOIN q ON q.term = tf.term
             JOIN dfq ON dfq.term = tf.term
             JOIN dl ON dl.sha_id = tf.sha_id
             CROSS JOIN stats
           GROUP BY 1, 2),
         lex AS (SELECT query_id, doc_id, rank FROM (
           SELECT s.query_id, ids.doc_id,
             row_number() OVER (PARTITION BY s.query_id
               ORDER BY s.score DESC, s.sha_id) AS rank
           FROM scored s JOIN ids ON ids.sha_id = s.sha_id)
           WHERE rank <= 20),
         sem AS (SELECT query_id, doc_id, rank FROM (
           SELECT eq.vec_id AS query_id, ec.vec_id AS doc_id,
             row_number() OVER (PARTITION BY eq.vec_id
               ORDER BY list_cosine_similarity(eq.embedding::DOUBLE[], ec.embedding::DOUBLE[]) DESC,
                 ec.vec_id) AS rank
           FROM embeddings eq JOIN embeddings ec ON eq.vec_id <> ec.vec_id
           WHERE eq.vec_id IN (0, 1))
           WHERE rank <= 20),
         fused AS (SELECT query_id, doc_id, sum(1.0 / (60 + rank)) AS rrf
           FROM (SELECT * FROM lex UNION ALL SELECT * FROM sem)
           GROUP BY 1, 2)
         SELECT query_id, rank, doc_id, round(rrf, 6) AS rrf_score FROM (
           SELECT query_id, doc_id, rrf,
             row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rank
           FROM fused)
         WHERE rank <= 10 ORDER BY query_id, rank""",
    "q75_percolate" ->
      """WITH toks AS (SELECT DISTINCT doc_id, term FROM (
           SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
           FROM documents) WHERE term <> ''),
         q AS (SELECT * FROM (VALUES (0, 'join'), (0, 'query'), (0, 'spark'),
           (1, 'data'), (1, 'pipeline'), (2, 'zzznosuchterm')) v(query_id, term)),
         qn AS (SELECT query_id, count(*) AS n FROM q GROUP BY 1),
         m AS (SELECT t.doc_id, q.query_id, count(*) AS matched_terms
           FROM toks t JOIN q ON q.term = t.term GROUP BY 1, 2)
         SELECT 'or' AS mode, doc_id, query_id, matched_terms FROM m
         UNION ALL
         SELECT 'and', m.doc_id, m.query_id, m.matched_terms
           FROM m JOIN qn ON qn.query_id = m.query_id
           WHERE m.matched_terms = qn.n
         ORDER BY mode, query_id, doc_id""",
    "q171_percolate_ranges" ->
      """WITH toks AS (SELECT DISTINCT doc_id, term FROM (
           SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
           FROM documents) WHERE term <> ''),
         q AS (SELECT * FROM (VALUES (0, 'join'), (0, 'query'), (0, 'spark'),
           (2, 'data'), (2, 'pipeline')) v(query_id, term)),
         qn AS (SELECT query_id, count(*) AS n FROM q GROUP BY 1),
         rng AS (SELECT doc_id, 0 AS query_id FROM documents
             WHERE n_chars >= 200 AND n_chars <= 900
           UNION ALL SELECT doc_id, 1 FROM documents WHERE n_chars > 900
           UNION ALL SELECT doc_id, 2 FROM documents WHERE n_chars < 200),
         m AS (SELECT t.doc_id, q.query_id, count(*) AS matched_terms
           FROM toks t JOIN q ON q.term = t.term GROUP BY 1, 2),
         orm AS (SELECT m.doc_id, m.query_id, m.matched_terms FROM m
             JOIN rng ON rng.doc_id = m.doc_id AND rng.query_id = m.query_id
           UNION ALL SELECT doc_id, 1, 0 FROM rng WHERE query_id = 1),
         andm AS (SELECT o.doc_id, o.query_id, o.matched_terms FROM orm o
           LEFT JOIN qn ON qn.query_id = o.query_id
           WHERE qn.n IS NULL OR o.matched_terms = qn.n)
         SELECT 'or' AS mode, doc_id, query_id, matched_terms FROM orm
         UNION ALL
         SELECT 'and', doc_id, query_id, matched_terms FROM andm
         ORDER BY mode, query_id, doc_id""",
    // percolator phrases: positional tokens rebuilt in SQL (ordinality
    // via an indexed list_transform, empties filtered BEFORE positions
    // — the simpleTokens contract), bigrams by the pos+1 self-join,
    // each registered clause combination replayed independently
    "q178_percolate_phrases" ->
      """WITH t AS (SELECT doc_id,
           regexp_split_to_array(lower(text), '[^a-z0-9]+') AS arr FROM documents),
         raw AS (SELECT doc_id, u.term, u.i FROM (SELECT doc_id,
           unnest(list_transform(arr, (x, i) -> struct_pack(term := x, i := i))) AS u
           FROM t)),
         tok AS (SELECT doc_id,
             row_number() OVER (PARTITION BY doc_id ORDER BY i) AS pos, term
           FROM raw WHERE term <> ''),
         bg AS (SELECT DISTINCT a.doc_id, a.term || ' ' || b.term AS bigram
           FROM tok a JOIN tok b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1),
         p_th AS (SELECT doc_id FROM bg WHERE bigram = 'table hash'),
         p_mg AS (SELECT doc_id FROM bg WHERE bigram = 'merge group'),
         p_pf AS (SELECT doc_id FROM bg WHERE bigram = 'part filter'),
         p_cj AS (SELECT doc_id FROM bg WHERE bigram = 'customer join'),
         p_sk AS (SELECT doc_id FROM bg WHERE bigram = 'slow key'),
         has_spark AS (SELECT DISTINCT doc_id FROM tok WHERE term = 'spark')
         SELECT doc_id, query_id, matched_terms FROM (
           SELECT doc_id, 0 AS query_id, 0 AS matched_terms FROM p_th
           UNION ALL
           SELECT p.doc_id, 1, 1 FROM p_mg p JOIN has_spark USING (doc_id)
           UNION ALL
           SELECT p.doc_id, 2, 0 FROM p_pf p JOIN p_cj USING (doc_id)
           UNION ALL
           SELECT p.doc_id, 3, 0 FROM p_sk p JOIN documents d USING (doc_id)
             WHERE d.n_chars >= 300)
         ORDER BY query_id, doc_id""",
    // string_stats: lengths + Shannon character entropy recomputed from
    // the staged repo values with the identical per-char p·log2(p) fold
    "q180_engine_string_stats" ->
      s"""WITH toks AS (SELECT sha_id, doc_id, term
           FROM read_parquet('$stage/q180_toks.parquet/*.parquet')),
         docs AS (SELECT sha_id, repo
           FROM read_parquet('$stage/q180_docs.parquet/*.parquet')),
         q AS (SELECT * FROM (VALUES (0, 'spark'), (0, 'query'),
           (1, 'filter'), (1, 'group'), (1, 'sort'),
           (2, 'zzznosuchterm')) v(query_id, term)),
         sel AS (SELECT DISTINCT q.query_id, t.sha_id
           FROM toks t JOIN q ON q.term = t.term),
         vals AS (SELECT s.query_id, d.repo AS sv
           FROM sel s JOIN docs d USING (sha_id) WHERE d.repo IS NOT NULL),
         lens AS (SELECT query_id, count(*) AS doc_count,
             min(length(sv)) AS mnl, max(length(sv)) AS mxl,
             avg(length(sv)) AS avl
           FROM vals GROUP BY 1),
         chars AS (SELECT query_id,
             unnest(list_transform(range(1, length(sv) + 1),
               i -> substr(sv, i, 1))) AS c
           FROM vals),
         cn AS (SELECT query_id, c, count(*)::double AS n
           FROM chars GROUP BY 1, 2),
         tot AS (SELECT query_id, sum(n) AS tot FROM cn GROUP BY 1),
         ent AS (SELECT cn.query_id,
             -sum((n / tot) * log2(n / tot)) AS entropy
           FROM cn JOIN tot USING (query_id) GROUP BY 1),
         allq AS (SELECT DISTINCT query_id FROM q)
         SELECT a.query_id, coalesce(lens.doc_count, 0) AS doc_count,
           lens.mnl AS min_length, lens.mxl AS max_length,
           round(lens.avl, 4) AS avg_length,
           round(ent.entropy, 4) AS entropy
         FROM allq a LEFT JOIN lens ON lens.query_id = a.query_id
           LEFT JOIN ent ON ent.query_id = a.query_id
         ORDER BY a.query_id""",
    // percentiles_bucket: lang buckets recomputed, then quantile_cont
    // over the bucket doc_counts (the engine's exact percentile twin)
    "q181_engine_percentiles_bucket" ->
      s"""WITH toks AS (SELECT DISTINCT sha_id, term
           FROM read_parquet('$stage/q181_toks.parquet/*.parquet')),
         docs AS (SELECT sha_id, lang
           FROM read_parquet('$stage/q181_docs.parquet/*.parquet')),
         q AS (SELECT * FROM (VALUES (0, 'spark'), (0, 'query'),
           (1, 'filter'), (1, 'group'), (1, 'sort'),
           (2, 'zzznosuchterm')) v(query_id, term)),
         m AS (SELECT DISTINCT q.query_id, toks.sha_id
           FROM toks JOIN q ON q.term = toks.term),
         buckets AS (SELECT m.query_id, d.lang, count(*) AS doc_count
           FROM m JOIN docs d ON d.sha_id = m.sha_id GROUP BY 1, 2),
         agg AS (SELECT query_id, count(*) AS bucket_count,
             quantile_cont(doc_count::double, 0.25) AS v1,
             quantile_cont(doc_count::double, 0.5)  AS v2,
             quantile_cont(doc_count::double, 0.75) AS v3,
             quantile_cont(doc_count::double, 0.99) AS v4
           FROM buckets GROUP BY 1),
         allq AS (SELECT DISTINCT query_id FROM q),
         pcts AS (SELECT * FROM (VALUES (CAST(0.25 AS DOUBLE), 1),
           (CAST(0.5 AS DOUBLE), 2), (CAST(0.75 AS DOUBLE), 3),
           (CAST(0.99 AS DOUBLE), 4)) v(pct, pi))
         SELECT a.query_id, p.pct,
           coalesce(agg.bucket_count, 0) AS bucket_count,
           round(CASE p.pi WHEN 1 THEN agg.v1 WHEN 2 THEN agg.v2
             WHEN 3 THEN agg.v3 ELSE agg.v4 END, 4) AS value
         FROM allq a CROSS JOIN pcts p
           LEFT JOIN agg ON agg.query_id = a.query_id
         ORDER BY a.query_id, p.pct""",
    "q70_incremental_dedup" ->
      s"""WITH cand AS (SELECT id_a, id_b
           FROM read_parquet('$stage/q70_cands.parquet/*.parquet')),
         sigs AS (SELECT id, sig
           FROM read_parquet('$stage/q70_sigs.parquet/*.parquet')),
         est AS (SELECT c.id_a, c.id_b,
             len(list_filter(list_zip(sa.sig, sb.sig), x -> x[1] = x[2]))::double / 64 AS est
           FROM cand c JOIN sigs sa ON sa.id = c.id_a
             JOIN sigs sb ON sb.id = c.id_b),
         best AS (SELECT id_b AS id, id_a AS dup_of, est FROM (
             SELECT id_a, id_b, est,
               row_number() OVER (PARTITION BY id_b ORDER BY est DESC, id_a) AS rn
             FROM est WHERE est >= 0.5) WHERE rn = 1),
         batch AS (SELECT doc_id::bigint AS id FROM documents WHERE doc_id % 3 = 0
           UNION ALL
           SELECT doc_id::bigint + 1000000 FROM documents WHERE doc_id % 30 = 1)
         SELECT b.id, best.dup_of, round(best.est, 6) AS est_jaccard
         FROM batch b LEFT JOIN best ON best.id = b.id
         ORDER BY b.id""",
    "q67_engine_stats" ->
      s"""WITH toks AS (SELECT DISTINCT sha_id, term
           FROM read_parquet('$stage/q67_toks.parquet/*.parquet')),
         docs AS (SELECT sha_id, lang, dl
           FROM read_parquet('$stage/q67_docs.parquet/*.parquet')),
         q AS (SELECT * FROM (VALUES (0, 'join'), (0, 'query'), (0, 'spark'),
           (1, 'dup'), (1, 'stream'), (2, 'zzznosuchterm')) v(query_id, term)),
         m AS (SELECT DISTINCT q.query_id, toks.sha_id
           FROM toks JOIN q ON q.term = toks.term),
         agg AS (SELECT m.query_id, count(*) AS doc_count,
             min(d.dl) AS min_dl, max(d.dl) AS max_dl, sum(d.dl) AS sum_dl,
             avg(d.dl) AS avg_dl, count(DISTINCT d.lang) AS n_langs
           FROM m JOIN docs d ON d.sha_id = m.sha_id GROUP BY 1),
         allq AS (SELECT DISTINCT query_id FROM q)
         SELECT a.query_id, coalesce(agg.doc_count, 0) AS doc_count,
           CAST(agg.min_dl AS BIGINT) AS min_dl,
           CAST(agg.max_dl AS BIGINT) AS max_dl,
           CAST(agg.sum_dl AS BIGINT) AS sum_dl,
           round(agg.avg_dl, 4) AS avg_dl,
           coalesce(agg.n_langs, 0) AS n_langs
         FROM allq a LEFT JOIN agg ON agg.query_id = a.query_id
         ORDER BY a.query_id""",
    "q68_engine_range" ->
      s"""WITH toks AS (SELECT DISTINCT sha_id, term
           FROM read_parquet('$stage/q68_toks.parquet/*.parquet')),
         docs AS (SELECT sha_id, dl
           FROM read_parquet('$stage/q68_docs.parquet/*.parquet')),
         q AS (SELECT * FROM (VALUES (0, 'join'), (0, 'query'), (0, 'spark'),
           (1, 'dup'), (2, 'zzznosuchterm')) v(query_id, term)),
         b AS (SELECT * FROM (VALUES
           (0, CAST(NULL AS DOUBLE), 40.0), (1, 40.0, 60.0),
           (2, 60.0, 80.0), (3, 80.0, CAST(NULL AS DOUBLE))) v(bucket, lo, hi)),
         m AS (SELECT DISTINCT q.query_id, toks.sha_id
           FROM toks JOIN q ON q.term = toks.term),
         counted AS (SELECT m.query_id,
             CASE WHEN d.dl < 40 THEN 0 WHEN d.dl < 60 THEN 1
               WHEN d.dl < 80 THEN 2 ELSE 3 END AS bucket,
             count(*) AS doc_count
           FROM m JOIN docs d ON d.sha_id = m.sha_id GROUP BY 1, 2),
         allq AS (SELECT DISTINCT query_id FROM q)
         SELECT a.query_id, b.bucket, b.lo, b.hi,
           coalesce(c.doc_count, 0) AS doc_count
         FROM allq a CROSS JOIN b
         LEFT JOIN counted c ON c.query_id = a.query_id AND c.bucket = b.bucket
         ORDER BY a.query_id, b.bucket""",
    "q80_engine_histogram" ->
      s"""WITH toks AS (SELECT DISTINCT sha_id, term
           FROM read_parquet('$stage/q80_toks.parquet/*.parquet')),
         docs AS (SELECT sha_id, dl
           FROM read_parquet('$stage/q80_docs.parquet/*.parquet')),
         q AS (SELECT * FROM (VALUES (0, 'join'), (0, 'query'), (0, 'spark'),
           (1, 'dup'), (1, 'stream'), (2, 'zzznosuchterm')) v(query_id, term)),
         m AS (SELECT DISTINCT q.query_id, toks.sha_id
           FROM toks JOIN q ON q.term = toks.term),
         c AS (SELECT m.query_id,
             CAST(floor(d.dl / 40.0) AS BIGINT) AS bidx, count(*) AS doc_count
           FROM m JOIN docs d ON d.sha_id = m.sha_id GROUP BY 1, 2),
         spans AS (SELECT query_id, min(bidx) AS lo, max(bidx) AS hi
           FROM c GROUP BY 1),
         filled AS (SELECT query_id, unnest(generate_series(lo, hi)) AS bidx
           FROM spans)
         SELECT f.query_id, f.bidx * 40.0 AS "key",
           coalesce(c.doc_count, 0) AS doc_count
         FROM filled f LEFT JOIN c ON c.query_id = f.query_id AND c.bidx = f.bidx
         ORDER BY f.query_id, "key"""",
    "q81_engine_termvectors" ->
      s"""WITH toks AS (SELECT sha_id, doc_id, pos, term
           FROM read_parquet('$stage/q81_toks.parquet/*.parquet')),
         req AS (SELECT DISTINCT sha_id FROM toks WHERE doc_id IN (0, 1, 2)),
         tv AS (SELECT t.sha_id, t.term, count(*) AS tf,
             string_agg(CAST(t.pos AS VARCHAR), ',' ORDER BY t.pos) AS positions
           FROM toks t JOIN req r ON r.sha_id = t.sha_id GROUP BY 1, 2),
         stats AS (SELECT term, count(DISTINCT sha_id) AS df, count(*) AS ttf
           FROM toks GROUP BY 1)
         SELECT tv.sha_id AS doc_id, tv.term, tv.tf, tv.positions, s.df, s.ttf
         FROM tv JOIN stats s USING (term)
         ORDER BY doc_id, tv.term""",
    "q94_engine_wildcard" ->
      s"""WITH toks AS (SELECT sha_id, doc_id, term
           FROM read_parquet('$stage/q94_toks.parquet/*.parquet')),
         tf AS (SELECT sha_id, min(doc_id) AS doc_id, term, count(*) AS tf
           FROM toks GROUP BY sha_id, term),
         dl AS (SELECT sha_id, dl
           FROM read_parquet('$stage/q94_docs.parquet/*.parquet')),
         stats AS (SELECT count(*) AS n, sum(dl)::double / count(*) AS avgdl FROM dl),
         exp0 AS (SELECT term FROM (SELECT DISTINCT term FROM tf
             WHERE regexp_full_match(term, '${graft.search.Wand.wildcardToRegex("s?an*")}'))
           ORDER BY term LIMIT 2),
         exp1 AS (SELECT term FROM (SELECT DISTINCT term FROM tf
             WHERE regexp_full_match(term, '${graft.search.Wand.wildcardToRegex("qu*ry")}'))
           ORDER BY term LIMIT 2),
         q AS (SELECT DISTINCT query_id, term FROM (
           SELECT 0 AS query_id, term FROM exp0
           UNION ALL SELECT 1 AS query_id, term FROM exp1)),
         dfq AS (SELECT term, count(*) AS df FROM tf
           WHERE term IN (SELECT term FROM q) GROUP BY 1),
         scored AS (
           SELECT q.query_id, tf.sha_id, min(tf.doc_id) AS doc_id,
             sum(ln(1.0 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5)) *
                 (tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl))))) AS score
           FROM tf JOIN q ON q.term = tf.term
             JOIN dfq ON dfq.term = tf.term
             JOIN dl ON dl.sha_id = tf.sha_id
             CROSS JOIN stats
           GROUP BY 1, 2)
         SELECT query_id, rank, doc_id, round(score, 4) AS score FROM (
           SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, sha_id) AS rank
           FROM scored)
         WHERE rank <= 10 ORDER BY query_id, rank""",
    "q95_engine_dis_max" ->
      s"""WITH toks AS (SELECT sha_id, doc_id, term
           FROM read_parquet('$stage/q95_toks.parquet/*.parquet')),
         tf AS (SELECT sha_id, min(doc_id) AS doc_id, term, count(*) AS tf
           FROM toks GROUP BY sha_id, term),
         dl AS (SELECT sha_id, dl
           FROM read_parquet('$stage/q95_docs.parquet/*.parquet')),
         stats AS (SELECT count(*) AS n, sum(dl)::double / count(*) AS avgdl FROM dl),
         q AS (SELECT * FROM (VALUES (0, 0, 'spark'), (0, 0, 'query'),
           (0, 1, 'join'), (0, 1, 'filter'),
           (1, 0, 'group'), (1, 0, 'sort'), (1, 1, 'part')) v(query_id, sub, term)),
         dfq AS (SELECT term, count(*) AS df FROM tf
           WHERE term IN (SELECT term FROM q) GROUP BY 1),
         scored AS (
           SELECT q.query_id, q.sub, tf.sha_id, min(tf.doc_id) AS doc_id,
             sum(ln(1.0 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5)) *
                 (tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl))))) AS score
           FROM tf JOIN q ON q.term = tf.term
             JOIN dfq ON dfq.term = tf.term
             JOIN dl ON dl.sha_id = tf.sha_id
             CROSS JOIN stats
           GROUP BY 1, 2, 3),
         combined AS (
           SELECT query_id, sha_id, min(doc_id) AS doc_id,
             max(score) + 0.3 * (sum(score) - max(score)) AS score
           FROM scored GROUP BY 1, 2)
         SELECT query_id, rank, doc_id, round(score, 4) AS score FROM (
           SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, sha_id) AS rank
           FROM combined)
         WHERE rank <= 10 ORDER BY query_id, rank""",
    "q96_engine_boosting" ->
      s"""WITH toks AS (SELECT sha_id, doc_id, term
           FROM read_parquet('$stage/q96_toks.parquet/*.parquet')),
         tf AS (SELECT sha_id, min(doc_id) AS doc_id, term, count(*) AS tf
           FROM toks GROUP BY sha_id, term),
         dl AS (SELECT sha_id, dl
           FROM read_parquet('$stage/q96_docs.parquet/*.parquet')),
         stats AS (SELECT count(*) AS n, sum(dl)::double / count(*) AS avgdl FROM dl),
         q AS (SELECT * FROM (VALUES (0, 'spark'), (0, 'query'),
           (1, 'filter'), (1, 'sort')) v(query_id, term)),
         nq AS (SELECT * FROM (VALUES (0, 'join'), (1, 'group')) v(query_id, term)),
         dfq AS (SELECT term, count(*) AS df FROM tf
           WHERE term IN (SELECT term FROM q) GROUP BY 1),
         negset AS (SELECT DISTINCT nq.query_id, tf.sha_id
           FROM tf JOIN nq ON nq.term = tf.term),
         scored AS (
           SELECT q.query_id, tf.sha_id, min(tf.doc_id) AS doc_id,
             sum(ln(1.0 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5)) *
                 (tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl))))) AS score
           FROM tf JOIN q ON q.term = tf.term
             JOIN dfq ON dfq.term = tf.term
             JOIN dl ON dl.sha_id = tf.sha_id
             CROSS JOIN stats
           GROUP BY 1, 2),
         combined AS (
           SELECT s.query_id, s.sha_id, s.doc_id,
             s.score * (CASE WHEN n.sha_id IS NULL THEN 1.0 ELSE 0.4 END) AS score
           FROM scored s LEFT JOIN negset n
             ON n.query_id = s.query_id AND n.sha_id = s.sha_id)
         SELECT query_id, rank, doc_id, round(score, 4) AS score FROM (
           SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, sha_id) AS rank
           FROM combined)
         WHERE rank <= 10 ORDER BY query_id, rank""",
    "q97_engine_percentiles" ->
      s"""WITH toks AS (SELECT sha_id, doc_id, term
           FROM read_parquet('$stage/q97_toks.parquet/*.parquet')),
         tf AS (SELECT sha_id, min(doc_id) AS doc_id, term, count(*) AS tf
           FROM toks GROUP BY sha_id, term),
         q AS (SELECT * FROM (VALUES (0, 'spark'), (0, 'query'),
           (1, 'filter'), (1, 'group'), (1, 'sort')) v(query_id, term)),
         sel AS (SELECT DISTINCT q.query_id, tf.sha_id, tf.doc_id
           FROM tf JOIN q ON q.term = tf.term),
         agg AS (SELECT query_id, count(*) AS doc_count,
             quantile_cont(doc_id::double, 0.25) AS v1,
             quantile_cont(doc_id::double, 0.5)  AS v2,
             quantile_cont(doc_id::double, 0.75) AS v3,
             quantile_cont(doc_id::double, 0.95) AS v4
           FROM sel GROUP BY 1)
         SELECT query_id, pct, doc_count, round(value, 4) AS value FROM (
           SELECT query_id, CAST(0.25 AS DOUBLE) AS pct, doc_count, v1 AS value FROM agg
           UNION ALL SELECT query_id, CAST(0.5 AS DOUBLE), doc_count, v2 FROM agg
           UNION ALL SELECT query_id, CAST(0.75 AS DOUBLE), doc_count, v3 FROM agg
           UNION ALL SELECT query_id, CAST(0.95 AS DOUBLE), doc_count, v4 FROM agg)
         ORDER BY query_id, pct""",
    "q98_engine_facet_stats" ->
      s"""WITH toks AS (SELECT sha_id, doc_id, term
           FROM read_parquet('$stage/q98_toks.parquet/*.parquet')),
         tf AS (SELECT sha_id, min(doc_id) AS doc_id, term, count(*) AS tf
           FROM toks GROUP BY sha_id, term),
         docs AS (SELECT sha_id, lang
           FROM read_parquet('$stage/q98_docs.parquet/*.parquet')),
         q AS (SELECT * FROM (VALUES (0, 'spark'), (0, 'query'),
           (1, 'filter'), (1, 'group'), (1, 'sort')) v(query_id, term)),
         sel AS (SELECT DISTINCT q.query_id, tf.sha_id, tf.doc_id
           FROM tf JOIN q ON q.term = tf.term),
         agg AS (SELECT s.query_id, d.lang AS facet, count(*) AS doc_count,
             min(s.doc_id::double) AS min_v, max(s.doc_id::double) AS max_v,
             sum(s.doc_id::double) AS sum_v, avg(s.doc_id::double) AS avg_v
           FROM sel s JOIN docs d ON d.sha_id = s.sha_id
           GROUP BY 1, 2)
         SELECT query_id, rank, facet, doc_count,
             round(min_v, 4) AS min_v, round(max_v, 4) AS max_v,
             round(sum_v, 4) AS sum_v, round(avg_v, 4) AS avg_v FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY doc_count DESC, facet) AS rank
           FROM agg)
         WHERE rank <= 3 ORDER BY query_id, rank""",
    "q99_engine_constant_score" ->
      s"""WITH toks AS (SELECT sha_id, doc_id, term
           FROM read_parquet('$stage/q99_toks.parquet/*.parquet')),
         tf AS (SELECT sha_id, min(doc_id) AS doc_id, term, count(*) AS tf
           FROM toks GROUP BY sha_id, term),
         q AS (SELECT * FROM (VALUES (0, 'spark'), (0, 'query'),
           (1, 'filter'), (1, 'group')) v(query_id, term)),
         sel AS (SELECT DISTINCT q.query_id, tf.sha_id, tf.doc_id
           FROM tf JOIN q ON q.term = tf.term)
         SELECT query_id, rank, doc_id, CAST(1.5 AS DOUBLE) AS score FROM (
           SELECT query_id, doc_id,
             row_number() OVER (PARTITION BY query_id ORDER BY sha_id) AS rank
           FROM sel)
         WHERE rank <= 10 ORDER BY query_id, rank""",
    "q100_engine_extended_stats" ->
      s"""WITH toks AS (SELECT sha_id, doc_id, term
           FROM read_parquet('$stage/q100_toks.parquet/*.parquet')),
         tf AS (SELECT sha_id, min(doc_id) AS doc_id, term, count(*) AS tf
           FROM toks GROUP BY sha_id, term),
         docs AS (SELECT sha_id, dl
           FROM read_parquet('$stage/q100_docs.parquet/*.parquet')),
         q AS (SELECT * FROM (VALUES (0, 'spark'), (0, 'query'),
           (1, 'filter'), (1, 'group'), (1, 'sort')) v(query_id, term)),
         sel AS (SELECT DISTINCT q.query_id, tf.sha_id
           FROM tf JOIN q ON q.term = tf.term)
         SELECT s.query_id, count(*) AS doc_count,
             round(sum(d.dl::double), 4) AS sum_v,
             round(sum(d.dl::double * d.dl::double), 4) AS sum_sq,
             round(avg(d.dl::double), 4) AS avg_v,
             round(var_pop(d.dl::double), 4) AS var_v,
             round(stddev_pop(d.dl::double), 4) AS std_v
         FROM sel s JOIN docs d ON d.sha_id = s.sha_id
         GROUP BY 1 ORDER BY query_id""",
    "q101_engine_percentile_ranks" ->
      s"""WITH toks AS (SELECT sha_id, doc_id, term
           FROM read_parquet('$stage/q101_toks.parquet/*.parquet')),
         tf AS (SELECT sha_id, min(doc_id) AS doc_id, term, count(*) AS tf
           FROM toks GROUP BY sha_id, term),
         docs AS (SELECT sha_id, dl
           FROM read_parquet('$stage/q101_docs.parquet/*.parquet')),
         q AS (SELECT * FROM (VALUES (0, 'spark'), (0, 'query'),
           (1, 'filter'), (1, 'group'), (1, 'sort')) v(query_id, term)),
         probes AS (SELECT * FROM (VALUES (CAST(100 AS DOUBLE)),
           (CAST(200 AS DOUBLE)), (CAST(300 AS DOUBLE))) v(value)),
         sel AS (SELECT DISTINCT q.query_id, tf.sha_id
           FROM tf JOIN q ON q.term = tf.term)
         SELECT s.query_id, p.value, count(*) AS doc_count,
             round(CAST(100 AS DOUBLE) * sum(CASE WHEN d.dl::double <= p.value
               THEN 1 ELSE 0 END) / count(*), 4) AS pct_rank
         FROM sel s JOIN docs d ON d.sha_id = s.sha_id CROSS JOIN probes p
         GROUP BY 1, 2 ORDER BY query_id, value""",
    "q102_engine_adjacency" ->
      s"""WITH toks AS (SELECT sha_id, doc_id, term
           FROM read_parquet('$stage/q102_toks.parquet/*.parquet')),
         tf AS (SELECT sha_id, min(doc_id) AS doc_id, term, count(*) AS tf
           FROM toks GROUP BY sha_id, term),
         f AS (SELECT * FROM (VALUES ('sq', 'spark'), ('sq', 'query'),
           ('fi', 'filter'), ('gr', 'group')) v(name, term)),
         sel AS (SELECT DISTINCT f.name, tf.sha_id
           FROM tf JOIN f ON f.term = tf.term),
         pairs AS (SELECT a.name AS n1, b.name AS n2, count(*) AS doc_count
           FROM sel a JOIN sel b ON a.sha_id = b.sha_id AND a.name <= b.name
           GROUP BY 1, 2)
         SELECT CASE WHEN n1 = n2 THEN n1 ELSE n1 || '&' || n2 END AS key,
             doc_count
         FROM pairs ORDER BY key""",
    "q103_engine_composite" ->
      s"""WITH toks AS (SELECT sha_id, doc_id, term
           FROM read_parquet('$stage/q103_toks.parquet/*.parquet')),
         tf AS (SELECT sha_id, min(doc_id) AS doc_id, term, count(*) AS tf
           FROM toks GROUP BY sha_id, term),
         docs AS (SELECT sha_id, lang
           FROM read_parquet('$stage/q103_docs.parquet/*.parquet')),
         q AS (SELECT * FROM (VALUES (0, 'spark'), (0, 'query'),
           (1, 'filter'), (1, 'group'), (1, 'sort')) v(query_id, term)),
         sel AS (SELECT DISTINCT q.query_id, tf.sha_id
           FROM tf JOIN q ON q.term = tf.term),
         agg AS (SELECT s.query_id, d.lang AS facet, count(*) AS doc_count
           FROM sel s JOIN docs d ON d.sha_id = s.sha_id
           WHERE d.lang > 'go' GROUP BY 1, 2)
         SELECT query_id, facet, doc_count FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY facet) AS r FROM agg)
         WHERE r <= 2 ORDER BY query_id, facet""",
    "q104_engine_rare_terms" ->
      s"""WITH toks AS (SELECT sha_id, doc_id, term
           FROM read_parquet('$stage/q104_toks.parquet/*.parquet')),
         tf AS (SELECT sha_id, min(doc_id) AS doc_id, term, count(*) AS tf
           FROM toks GROUP BY sha_id, term),
         docs AS (SELECT sha_id, dl
           FROM read_parquet('$stage/q104_docs.parquet/*.parquet')),
         q AS (SELECT * FROM (VALUES (0, 'spark'), (0, 'query'),
           (1, 'filter'), (1, 'group'), (1, 'sort')) v(query_id, term)),
         sel AS (SELECT DISTINCT q.query_id, tf.sha_id
           FROM tf JOIN q ON q.term = tf.term)
         SELECT s.query_id, d.dl AS facet, count(*) AS doc_count
         FROM sel s JOIN docs d ON d.sha_id = s.sha_id
         GROUP BY 1, 2 HAVING count(*) <= 2
         ORDER BY query_id, facet""",
    "q105_engine_multi_terms" ->
      s"""WITH toks AS (SELECT sha_id, doc_id, term
           FROM read_parquet('$stage/q105_toks.parquet/*.parquet')),
         tf AS (SELECT sha_id, min(doc_id) AS doc_id, term, count(*) AS tf
           FROM toks GROUP BY sha_id, term),
         docs AS (SELECT sha_id, lang, repo
           FROM read_parquet('$stage/q105_docs.parquet/*.parquet')),
         q AS (SELECT * FROM (VALUES (0, 'spark'), (0, 'query'),
           (1, 'filter'), (1, 'group'), (1, 'sort')) v(query_id, term)),
         sel AS (SELECT DISTINCT q.query_id, tf.sha_id
           FROM tf JOIN q ON q.term = tf.term),
         agg AS (SELECT s.query_id, d.lang, d.repo, count(*) AS doc_count
           FROM sel s JOIN docs d ON d.sha_id = s.sha_id
           GROUP BY 1, 2, 3)
         SELECT query_id, rank, lang, repo, doc_count FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY doc_count DESC, lang, repo) AS rank FROM agg)
         WHERE rank <= 5 ORDER BY query_id, rank""",
    "q106_engine_derivative" ->
      s"""WITH toks AS (SELECT DISTINCT sha_id, term
           FROM read_parquet('$stage/q106_toks.parquet/*.parquet')),
         docs AS (SELECT sha_id, dl
           FROM read_parquet('$stage/q106_docs.parquet/*.parquet')),
         q AS (SELECT * FROM (VALUES (0, 'join'), (0, 'query'), (0, 'spark'),
           (1, 'dup'), (1, 'stream'), (2, 'zzznosuchterm')) v(query_id, term)),
         m AS (SELECT DISTINCT q.query_id, toks.sha_id
           FROM toks JOIN q ON q.term = toks.term),
         c AS (SELECT m.query_id,
             CAST(floor(d.dl / 40.0) AS BIGINT) AS bidx, count(*) AS doc_count
           FROM m JOIN docs d ON d.sha_id = m.sha_id GROUP BY 1, 2),
         spans AS (SELECT query_id, min(bidx) AS lo, max(bidx) AS hi
           FROM c GROUP BY 1),
         filled AS (SELECT query_id, unnest(generate_series(lo, hi)) AS bidx
           FROM spans),
         buckets AS (SELECT f.query_id, f.bidx * 40.0 AS "key",
             coalesce(c.doc_count, 0) AS doc_count
           FROM filled f LEFT JOIN c ON c.query_id = f.query_id AND c.bidx = f.bidx)
         SELECT query_id, "key", doc_count,
           CAST(doc_count - lag(doc_count) OVER w AS DOUBLE) AS derivative,
           CAST(sum(doc_count) OVER (PARTITION BY query_id ORDER BY "key"
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cumulative
         FROM buckets
         WINDOW w AS (PARTITION BY query_id ORDER BY "key")
         ORDER BY query_id, "key"""",
    "q115_engine_moving_fn" ->
      s"""WITH toks AS (SELECT DISTINCT sha_id, term
           FROM read_parquet('$stage/q115_toks.parquet/*.parquet')),
         docs AS (SELECT sha_id, dl
           FROM read_parquet('$stage/q115_docs.parquet/*.parquet')),
         q AS (SELECT * FROM (VALUES (0, 'join'), (0, 'query'), (0, 'spark'),
           (1, 'dup'), (1, 'stream'), (2, 'zzznosuchterm')) v(query_id, term)),
         m AS (SELECT DISTINCT q.query_id, toks.sha_id
           FROM toks JOIN q ON q.term = toks.term),
         c AS (SELECT m.query_id,
             CAST(floor(d.dl / 40.0) AS BIGINT) AS bidx, count(*) AS doc_count
           FROM m JOIN docs d ON d.sha_id = m.sha_id GROUP BY 1, 2),
         spans AS (SELECT query_id, min(bidx) AS lo, max(bidx) AS hi
           FROM c GROUP BY 1),
         filled AS (SELECT query_id, unnest(generate_series(lo, hi)) AS bidx
           FROM spans),
         buckets AS (SELECT f.query_id, f.bidx * 40.0 AS "key",
             coalesce(c.doc_count, 0) AS doc_count
           FROM filled f LEFT JOIN c ON c.query_id = f.query_id AND c.bidx = f.bidx)
         SELECT query_id, "key", doc_count,
           round(avg(CAST(doc_count AS DOUBLE)) OVER (
             PARTITION BY query_id ORDER BY "key"
             ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING), 4) AS moving_avg
         FROM buckets
         ORDER BY query_id, "key"""",
    "q172_engine_moving_percentiles" ->
      s"""WITH toks AS (SELECT DISTINCT sha_id, term
           FROM read_parquet('$stage/q172_toks.parquet/*.parquet')),
         docs AS (SELECT sha_id, dl
           FROM read_parquet('$stage/q172_docs.parquet/*.parquet')),
         q AS (SELECT * FROM (VALUES (0, 'join'), (0, 'query'), (0, 'spark'),
           (1, 'dup'), (1, 'stream'), (2, 'zzznosuchterm')) v(query_id, term)),
         m AS (SELECT DISTINCT q.query_id, toks.sha_id
           FROM toks JOIN q ON q.term = toks.term),
         c AS (SELECT m.query_id,
             CAST(floor(d.dl / 40.0) AS BIGINT) AS bidx, count(*) AS doc_count
           FROM m JOIN docs d ON d.sha_id = m.sha_id GROUP BY 1, 2),
         spans AS (SELECT query_id, min(bidx) AS lo, max(bidx) AS hi
           FROM c GROUP BY 1),
         filled AS (SELECT query_id, unnest(generate_series(lo, hi)) AS bidx
           FROM spans),
         buckets AS (SELECT f.query_id, f.bidx * 40.0 AS "key",
             coalesce(c.doc_count, 0) AS doc_count
           FROM filled f LEFT JOIN c ON c.query_id = f.query_id AND c.bidx = f.bidx)
         SELECT query_id, "key", doc_count,
           round(quantile_cont(CAST(doc_count AS DOUBLE), 0.5) OVER (
             PARTITION BY query_id ORDER BY "key"
             ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING), 4) AS p50,
           round(quantile_cont(CAST(doc_count AS DOUBLE), 0.9) OVER (
             PARTITION BY query_id ORDER BY "key"
             ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING), 4) AS p90
         FROM buckets
         ORDER BY query_id, "key"""",
    "q119_engine_matched_queries" ->
      s"""WITH toks AS (SELECT sha_id, doc_id, term
           FROM read_parquet('$stage/q119_toks.parquet/*.parquet')),
         tf AS (SELECT sha_id, min(doc_id) AS doc_id, term, count(*) AS tf
           FROM toks GROUP BY sha_id, term),
         dl AS (SELECT sha_id, dl
           FROM read_parquet('$stage/q119_docs.parquet/*.parquet')),
         stats AS (SELECT count(*) AS n, sum(dl)::double / count(*) AS avgdl FROM dl),
         q AS (SELECT * FROM (VALUES (0, 'query'), (0, 'spark'),
           (1, 'filter'), (1, 'join')) v(query_id, term)),
         dfq AS (SELECT term, count(*) AS df FROM tf
           WHERE term IN (SELECT term FROM q) GROUP BY 1),
         scored AS (
           SELECT q.query_id, tf.sha_id, min(tf.doc_id) AS doc_id,
             sum(ln(1.0 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5)) *
                 (tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl))))) AS score
           FROM tf JOIN q ON q.term = tf.term
             JOIN dfq ON dfq.term = tf.term
             JOIN dl ON dl.sha_id = tf.sha_id
             CROSS JOIN stats
           GROUP BY 1, 2),
         hits AS (SELECT query_id, sha_id, doc_id, score, rank FROM (
           SELECT query_id, sha_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, sha_id) AS rank
           FROM scored) WHERE rank <= 10),
         names AS (SELECT * FROM (VALUES ('has_data', 'data'),
           ('has_group', 'group'), ('has_group', 'sort'),
           ('never', 'zzznosuchterm')) v(name, term)),
         nm AS (SELECT DISTINCT h.query_id, h.sha_id, n.name
           FROM hits h
             JOIN tf t ON t.sha_id = h.sha_id
             JOIN names n ON n.term = t.term),
         mqs AS (SELECT query_id, sha_id,
             string_agg(name, ',' ORDER BY name) AS matched_queries
           FROM nm GROUP BY 1, 2)
         SELECT h.query_id, h.rank, h.doc_id, round(h.score, 4) AS score,
           coalesce(m.matched_queries, '') AS matched_queries
         FROM hits h LEFT JOIN mqs m
           ON m.query_id = h.query_id AND m.sha_id = h.sha_id
         ORDER BY h.query_id, h.rank""",
    "q120_engine_extreme_bucket" ->
      s"""WITH toks AS (SELECT DISTINCT sha_id, term
           FROM read_parquet('$stage/q120_toks.parquet/*.parquet')),
         docs AS (SELECT sha_id, lang
           FROM read_parquet('$stage/q120_docs.parquet/*.parquet')),
         q AS (SELECT * FROM (VALUES (0, 'query'), (0, 'spark'),
           (1, 'dup'), (1, 'stream')) v(query_id, term)),
         m AS (SELECT DISTINCT q.query_id, toks.sha_id
           FROM toks JOIN q ON q.term = toks.term),
         buckets AS (SELECT m.query_id, d.lang AS facet, count(*) AS doc_count
           FROM m JOIN docs d ON d.sha_id = m.sha_id GROUP BY 1, 2),
         mx AS (SELECT query_id, max(doc_count) AS value FROM buckets GROUP BY 1),
         mn AS (SELECT query_id, min(doc_count) AS value FROM buckets GROUP BY 1)
         SELECT query_id, side, keys, value FROM (
           SELECT b.query_id, 'max' AS side,
             string_agg(b.facet, ',' ORDER BY b.facet) AS keys,
             CAST(x.value AS BIGINT) AS value
           FROM buckets b JOIN mx x
             ON x.query_id = b.query_id AND b.doc_count = x.value
           GROUP BY b.query_id, x.value
           UNION ALL
           SELECT b.query_id, 'min' AS side,
             string_agg(b.facet, ',' ORDER BY b.facet) AS keys,
             CAST(x.value AS BIGINT) AS value
           FROM buckets b JOIN mn x
             ON x.query_id = b.query_id AND b.doc_count = x.value
           GROUP BY b.query_id, x.value)
         ORDER BY query_id, side""",
    "q127_engine_pinned" ->
      s"""WITH toks AS (SELECT sha_id, doc_id, term
           FROM read_parquet('$stage/q127_toks.parquet/*.parquet')),
         tf AS (SELECT sha_id, min(doc_id) AS doc_id, term, count(*) AS tf
           FROM toks GROUP BY sha_id, term),
         ids AS (SELECT sha_id, min(doc_id) AS doc_id FROM toks GROUP BY 1),
         dl AS (SELECT sha_id, dl
           FROM read_parquet('$stage/q127_docs.parquet/*.parquet')),
         stats AS (SELECT count(*) AS n, sum(dl)::double / count(*) AS avgdl FROM dl),
         q AS (SELECT * FROM (VALUES (0, 'query'), (0, 'spark'),
           (1, 'filter'), (1, 'join')) v(query_id, term)),
         ql AS (SELECT DISTINCT query_id FROM q),
         dfq AS (SELECT term, count(*) AS df FROM tf
           WHERE term IN (SELECT term FROM q) GROUP BY 1),
         scored AS (
           SELECT q.query_id, tf.sha_id, min(tf.doc_id) AS doc_id,
             sum(ln(1.0 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5)) *
                 (tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl))))) AS score
           FROM tf JOIN q ON q.term = tf.term
             JOIN dfq ON dfq.term = tf.term
             JOIN dl ON dl.sha_id = tf.sha_id
             CROSS JOIN stats
           GROUP BY 1, 2),
         pin AS (SELECT * FROM (VALUES (1, 5), (2, 17)) v(prank, pdoc)),
         pinned_rows AS (SELECT ql.query_id, p.prank AS rank,
             CAST(p.pdoc AS BIGINT) AS doc_id, CAST(NULL AS DOUBLE) AS score,
             TRUE AS pinned
           FROM ql CROSS JOIN pin p),
         organic AS (SELECT query_id,
             CAST(2 + row_number() OVER (PARTITION BY query_id
               ORDER BY score DESC, sha_id) AS INT) AS rank,
             doc_id, round(score, 4) AS score, FALSE AS pinned
           FROM scored
           WHERE sha_id NOT IN (SELECT sha_id FROM ids WHERE doc_id IN (5, 17)))
         SELECT query_id, rank, doc_id, score, pinned FROM (
           SELECT * FROM pinned_rows
           UNION ALL SELECT * FROM organic WHERE rank <= 10)
         ORDER BY query_id, rank""",
    "q126_engine_phrase_suggest" ->
      s"""WITH tk AS (SELECT sha_id, term
           FROM read_parquet('$stage/q126_toks.parquet/*.parquet')),
         tf AS (SELECT DISTINCT sha_id, term FROM tk),
         dict AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         qt AS (SELECT * FROM (VALUES (0, 0, 'sparc'), (0, 1, 'quary'),
           (1, 0, 'filtr'), (1, 1, 'join'),
           (2, 0, 'zzzzzzz'), (2, 1, 'query')) v(query_id, pos, word)),
         kn AS (SELECT q.query_id, q.pos, q.word,
             CASE WHEN d.term IS NOT NULL THEN 1 ELSE 0 END AS known
           FROM qt q LEFT JOIN dict d ON d.term = q.word),
         uw AS (SELECT DISTINCT word FROM kn WHERE known = 0),
         cand AS (SELECT u.word, d.term, levenshtein(d.term, u.word) AS dist, d.df
           FROM uw u JOIN dict d
             ON length(d.term) BETWEEN length(u.word) - 2 AND length(u.word) + 2
             AND substr(d.term, 1, 1) = substr(u.word, 1, 1)
           WHERE levenshtein(d.term, u.word) BETWEEN 1 AND 2),
         best AS (SELECT word, term FROM (
           SELECT word, term,
             row_number() OVER (PARTITION BY word
               ORDER BY dist, df DESC, term) AS rn
           FROM cand) WHERE rn = 1),
         corr AS (SELECT k.query_id, k.pos, k.word,
             CASE WHEN k.known = 1 THEN k.word
               ELSE coalesce(b.term, k.word) END AS fixed
           FROM kn k LEFT JOIN best b ON b.word = k.word),
         sugg AS (SELECT query_id,
             string_agg(fixed, ' ' ORDER BY pos) AS suggestion,
             CAST(sum(CASE WHEN fixed <> word THEN 1 ELSE 0 END) AS INT) AS changed
           FROM corr GROUP BY 1),
         cterms AS (SELECT DISTINCT query_id, fixed AS term FROM corr),
         need AS (SELECT query_id, count(*) AS n FROM cterms GROUP BY 1),
         hitk AS (SELECT c.query_id, t.sha_id, count(DISTINCT t.term) AS k
           FROM cterms c JOIN tf t ON t.term = c.term GROUP BY 1, 2),
         coll AS (SELECT h.query_id,
             max(CASE WHEN h.k = n.n THEN 1 ELSE 0 END) AS cm
           FROM hitk h JOIN need n ON n.query_id = h.query_id GROUP BY 1)
         SELECT s.query_id, s.suggestion, s.changed,
           coalesce(coll.cm, 0) = 1 AS collate_match
         FROM sugg s LEFT JOIN coll ON coll.query_id = s.query_id
         ORDER BY s.query_id""",
    "q125_engine_index_stats" ->
      s"""WITH toks AS (SELECT DISTINCT sha_id, term
           FROM read_parquet('$stage/q125_toks.parquet/*.parquet')),
         docs AS (SELECT sha_id
           FROM read_parquet('$stage/q125_docs.parquet/*.parquet'))
         SELECT (SELECT count(*) FROM docs) AS docs,
           (SELECT count(*) FROM docs) AS live_docs,
           (SELECT count(DISTINCT term) FROM toks) AS terms,
           (SELECT count(*) FROM toks) AS postings""",
    "q123_engine_auto_histogram" ->
      s"""WITH toks AS (SELECT DISTINCT sha_id, term
           FROM read_parquet('$stage/q123_toks.parquet/*.parquet')),
         docs AS (SELECT sha_id, dl
           FROM read_parquet('$stage/q123_docs.parquet/*.parquet')),
         q AS (SELECT * FROM (VALUES (0, 'join'), (0, 'query'), (0, 'spark'),
           (1, 'dup'), (1, 'stream')) v(query_id, term)),
         m AS (SELECT DISTINCT q.query_id, toks.sha_id
           FROM toks JOIN q ON q.term = toks.term),
         vals AS (SELECT m.query_id, d.dl::double AS v
           FROM m JOIN docs d ON d.sha_id = m.sha_id),
         mm AS (SELECT query_id, min(v) AS lo, max(v) AS hi
           FROM vals GROUP BY 1),
         ladder AS (SELECT unnest([1.0, 2.0, 5.0, 10.0, 20.0, 50.0, 100.0,
           200.0, 500.0, 1000.0, 2000.0, 5000.0, 10000.0]) AS i),
         choice AS (SELECT query_id, min(i) AS interval FROM mm JOIN ladder
           ON floor(hi / i) - floor(lo / i) + 1 <= 12 GROUP BY 1),
         frame AS (SELECT mm.query_id, c.interval,
             unnest(generate_series(CAST(floor(mm.lo / c.interval) AS BIGINT),
               CAST(floor(mm.hi / c.interval) AS BIGINT))) AS bidx
           FROM mm JOIN choice c USING (query_id)),
         counts AS (SELECT v.query_id,
             CAST(floor(v.v / c.interval) AS BIGINT) AS bidx, count(*) AS c
           FROM vals v JOIN choice c USING (query_id) GROUP BY 1, 2)
         SELECT f.query_id, f.interval, f.bidx * f.interval AS "key",
           CAST(coalesce(ct.c, 0) AS BIGINT) AS doc_count
         FROM frame f LEFT JOIN counts ct
           ON ct.query_id = f.query_id AND ct.bidx = f.bidx
         ORDER BY f.query_id, "key"""",
    "q124_engine_top_metrics" ->
      s"""WITH tk AS (SELECT sha_id, doc_id, term
           FROM read_parquet('$stage/q124_toks.parquet/*.parquet')),
         toks AS (SELECT DISTINCT sha_id, term FROM tk),
         ids AS (SELECT sha_id, min(doc_id) AS doc_id FROM tk GROUP BY 1),
         docs AS (SELECT sha_id, dl
           FROM read_parquet('$stage/q124_docs.parquet/*.parquet')),
         q AS (SELECT * FROM (VALUES (0, 'query'), (0, 'spark'),
           (1, 'filter'), (1, 'group')) v(query_id, term)),
         m AS (SELECT DISTINCT q.query_id, toks.sha_id
           FROM toks JOIN q ON q.term = toks.term),
         ranked AS (SELECT m.query_id, i.doc_id,
             d.dl::double AS sort_value, i.doc_id::double AS metric,
             row_number() OVER (PARTITION BY m.query_id
               ORDER BY d.dl DESC, m.sha_id) AS rank
           FROM m JOIN docs d ON d.sha_id = m.sha_id
             JOIN ids i ON i.sha_id = m.sha_id)
         SELECT query_id, rank, doc_id, sort_value, metric
         FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""",
    "q121_engine_terms_set" ->
      s"""WITH toks AS (SELECT sha_id, doc_id, term
           FROM read_parquet('$stage/q121_toks.parquet/*.parquet')),
         tf AS (SELECT sha_id, min(doc_id) AS doc_id, term, count(*) AS tf
           FROM toks GROUP BY sha_id, term),
         dl AS (SELECT sha_id, dl
           FROM read_parquet('$stage/q121_docs.parquet/*.parquet')),
         stats AS (SELECT count(*) AS n, sum(dl)::double / count(*) AS avgdl FROM dl),
         q AS (SELECT * FROM (VALUES (0, 'join'), (0, 'query'), (0, 'spark'),
           (1, 'filter'), (1, 'group'), (1, 'sort')) v(query_id, term)),
         dfq AS (SELECT term, count(*) AS df FROM tf
           WHERE term IN (SELECT term FROM q) GROUP BY 1),
         scored AS (
           SELECT q.query_id, tf.sha_id, min(tf.doc_id) AS doc_id,
             count(*) AS nt,
             sum(ln(1.0 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5)) *
                 (tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl))))) AS score
           FROM tf JOIN q ON q.term = tf.term
             JOIN dfq ON dfq.term = tf.term
             JOIN dl ON dl.sha_id = tf.sha_id
             CROSS JOIN stats
           GROUP BY 1, 2)
         SELECT query_id, rank, doc_id, round(score, 4) AS score FROM (
           SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, sha_id) AS rank
           FROM scored WHERE nt >= 1 + (doc_id % 3))
         WHERE rank <= 10 ORDER BY query_id, rank""",
    "q122_engine_rank_eval" ->
      s"""WITH toks AS (SELECT sha_id, doc_id, term
           FROM read_parquet('$stage/q122_toks.parquet/*.parquet')),
         tf AS (SELECT sha_id, min(doc_id) AS doc_id, term, count(*) AS tf
           FROM toks GROUP BY sha_id, term),
         dl AS (SELECT sha_id, dl
           FROM read_parquet('$stage/q122_docs.parquet/*.parquet')),
         stats AS (SELECT count(*) AS n, sum(dl)::double / count(*) AS avgdl FROM dl),
         q AS (SELECT * FROM (VALUES (0, 'query'), (0, 'spark'),
           (1, 'filter'), (1, 'join'), (2, 'zzznosuchterm')) v(query_id, term)),
         ql AS (SELECT DISTINCT query_id FROM q),
         dfq AS (SELECT term, count(*) AS df FROM tf
           WHERE term IN (SELECT term FROM q) GROUP BY 1),
         scored AS (
           SELECT q.query_id, tf.sha_id,
             sum(ln(1.0 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5)) *
                 (tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl))))) AS score
           FROM tf JOIN q ON q.term = tf.term
             JOIN dfq ON dfq.term = tf.term
             JOIN dl ON dl.sha_id = tf.sha_id
             CROSS JOIN stats
           GROUP BY 1, 2),
         hits AS (SELECT query_id, sha_id, rank FROM (
           SELECT query_id, sha_id,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, sha_id) AS rank
           FROM scored) WHERE rank <= 10),
         rd AS (SELECT sha_id, count(DISTINCT term) AS rating FROM tf
           WHERE term IN ('data', 'group') GROUP BY 1),
         rated AS (SELECT h.query_id, h.rank,
             CASE WHEN r.rating >= 1 THEN 1 ELSE 0 END AS rel,
             coalesce(pow(2.0, r.rating) - 1.0, 0.0) AS gain
           FROM hits h LEFT JOIN rd r ON r.sha_id = h.sha_id),
         perq AS (SELECT query_id, count(*) AS retrieved,
             sum(rel) AS relevant_retrieved,
             min(CASE WHEN rel = 1 THEN rank END) AS first_rel_rank,
             sum(gain / log2(rank + 1.0)) AS dcg
           FROM rated GROUP BY 1),
         idcg AS (SELECT query_id,
             sum((pow(2.0, rating) - 1.0) / log2(irank + 1.0)) AS idcg
           FROM (SELECT ql.query_id, r.rating,
               row_number() OVER (PARTITION BY ql.query_id
                 ORDER BY r.rating DESC, r.sha_id) AS irank
             FROM ql CROSS JOIN rd r WHERE r.rating > 0)
           WHERE irank <= 10 GROUP BY 1),
         totrel AS (SELECT ql.query_id, count(*) AS total_relevant
           FROM ql CROSS JOIN rd r WHERE r.rating >= 1 GROUP BY 1)
         SELECT ql.query_id,
           CAST(coalesce(p.retrieved, 0) AS BIGINT) AS retrieved,
           CAST(coalesce(p.relevant_retrieved, 0) AS BIGINT) AS relevant_retrieved,
           round(p.relevant_retrieved / CAST(p.retrieved AS DOUBLE), 4) AS precision,
           round(p.relevant_retrieved / CAST(t.total_relevant AS DOUBLE), 4) AS recall,
           round(coalesce(1.0 / p.first_rel_rank, 0.0), 4) AS mrr,
           round(coalesce(p.dcg, 0.0), 4) AS dcg,
           round(p.dcg / i.idcg, 4) AS ndcg
         FROM ql LEFT JOIN perq p USING (query_id)
           LEFT JOIN idcg i USING (query_id)
           LEFT JOIN totrel t USING (query_id)
         ORDER BY ql.query_id""",
    "q117_engine_weighted_avg" ->
      s"""WITH tk AS (SELECT sha_id, doc_id, term
           FROM read_parquet('$stage/q117_toks.parquet/*.parquet')),
         toks AS (SELECT DISTINCT sha_id, term FROM tk),
         ids AS (SELECT sha_id, min(doc_id) AS doc_id FROM tk GROUP BY 1),
         docs AS (SELECT sha_id, dl
           FROM read_parquet('$stage/q117_docs.parquet/*.parquet')),
         q AS (SELECT * FROM (VALUES (0, 'join'), (0, 'query'), (0, 'spark'),
           (1, 'dup'), (1, 'stream'), (2, 'zzznosuchterm')) v(query_id, term)),
         m AS (SELECT DISTINCT q.query_id, toks.sha_id
           FROM toks JOIN q ON q.term = toks.term),
         vals AS (SELECT m.query_id, d.dl::double AS v, i.doc_id::double AS w
           FROM m JOIN docs d ON d.sha_id = m.sha_id
             JOIN ids i ON i.sha_id = m.sha_id),
         agg AS (SELECT query_id, count(*) AS doc_count,
             sum(v * w) / sum(w) AS wa FROM vals GROUP BY 1),
         ql AS (SELECT DISTINCT query_id FROM q)
         SELECT ql.query_id,
           CAST(coalesce(agg.doc_count, 0) AS BIGINT) AS doc_count,
           round(agg.wa, 4) AS weighted_avg
         FROM ql LEFT JOIN agg USING (query_id) ORDER BY ql.query_id""",
    "q118_engine_mad" ->
      s"""WITH tk AS (SELECT sha_id, doc_id, term
           FROM read_parquet('$stage/q118_toks.parquet/*.parquet')),
         toks AS (SELECT DISTINCT sha_id, term FROM tk),
         docs AS (SELECT sha_id, dl
           FROM read_parquet('$stage/q118_docs.parquet/*.parquet')),
         q AS (SELECT * FROM (VALUES (0, 'join'), (0, 'query'), (0, 'spark'),
           (1, 'dup'), (1, 'stream'), (2, 'zzznosuchterm')) v(query_id, term)),
         m AS (SELECT DISTINCT q.query_id, toks.sha_id
           FROM toks JOIN q ON q.term = toks.term),
         vals AS (SELECT m.query_id, d.dl::double AS v
           FROM m JOIN docs d ON d.sha_id = m.sha_id),
         med AS (SELECT query_id, quantile_cont(v, 0.5) AS med
           FROM vals GROUP BY 1),
         agg AS (SELECT v.query_id, count(*) AS doc_count,
             round(quantile_cont(abs(v.v - med.med), 0.5), 4) AS mad
           FROM vals v JOIN med ON med.query_id = v.query_id GROUP BY 1),
         ql AS (SELECT DISTINCT query_id FROM q)
         SELECT ql.query_id,
           CAST(coalesce(agg.doc_count, 0) AS BIGINT) AS doc_count, agg.mad
         FROM ql LEFT JOIN agg USING (query_id) ORDER BY ql.query_id""",
    "q116_engine_serial_diff" ->
      s"""WITH toks AS (SELECT DISTINCT sha_id, term
           FROM read_parquet('$stage/q116_toks.parquet/*.parquet')),
         docs AS (SELECT sha_id, dl
           FROM read_parquet('$stage/q116_docs.parquet/*.parquet')),
         q AS (SELECT * FROM (VALUES (0, 'join'), (0, 'query'), (0, 'spark'),
           (1, 'dup'), (1, 'stream'), (2, 'zzznosuchterm')) v(query_id, term)),
         m AS (SELECT DISTINCT q.query_id, toks.sha_id
           FROM toks JOIN q ON q.term = toks.term),
         c AS (SELECT m.query_id,
             CAST(floor(d.dl / 40.0) AS BIGINT) AS bidx, count(*) AS doc_count
           FROM m JOIN docs d ON d.sha_id = m.sha_id GROUP BY 1, 2),
         spans AS (SELECT query_id, min(bidx) AS lo, max(bidx) AS hi
           FROM c GROUP BY 1),
         filled AS (SELECT query_id, unnest(generate_series(lo, hi)) AS bidx
           FROM spans),
         buckets AS (SELECT f.query_id, f.bidx * 40.0 AS "key",
             coalesce(c.doc_count, 0) AS doc_count
           FROM filled f LEFT JOIN c ON c.query_id = f.query_id AND c.bidx = f.bidx)
         SELECT query_id, "key", doc_count,
           CAST(doc_count - lag(doc_count, 2) OVER (
             PARTITION BY query_id ORDER BY "key") AS DOUBLE) AS serial_diff
         FROM buckets
         ORDER BY query_id, "key"""",
    "q107_engine_bucket_sort" ->
      s"""WITH toks AS (SELECT sha_id, doc_id, term
           FROM read_parquet('$stage/q107_toks.parquet/*.parquet')),
         tf AS (SELECT sha_id, min(doc_id) AS doc_id, term, count(*) AS tf
           FROM toks GROUP BY sha_id, term),
         docs AS (SELECT sha_id, lang
           FROM read_parquet('$stage/q107_docs.parquet/*.parquet')),
         q AS (SELECT * FROM (VALUES (0, 'spark'), (0, 'query'),
           (1, 'filter'), (1, 'group'), (1, 'sort')) v(query_id, term)),
         sel AS (SELECT DISTINCT q.query_id, tf.sha_id, tf.doc_id
           FROM tf JOIN q ON q.term = tf.term),
         agg AS (SELECT s.query_id, d.lang AS facet, count(*) AS doc_count,
             avg(s.doc_id::double) AS avg_v
           FROM sel s JOIN docs d ON d.sha_id = s.sha_id
           GROUP BY 1, 2
           HAVING count(*) >= 5)
         SELECT query_id, rank, facet, doc_count, round(avg_v, 4) AS avg_v
         FROM (SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY avg_v DESC, facet) AS rank FROM agg)
         WHERE rank <= 3 ORDER BY query_id, rank""",
    "q108_engine_stats_bucket" ->
      s"""WITH toks AS (SELECT DISTINCT sha_id, term
           FROM read_parquet('$stage/q108_toks.parquet/*.parquet')),
         docs AS (SELECT sha_id, lang
           FROM read_parquet('$stage/q108_docs.parquet/*.parquet')),
         q AS (SELECT * FROM (VALUES (0, 'spark'), (0, 'query'),
           (1, 'filter'), (1, 'group'), (1, 'sort'),
           (2, 'zzznosuchterm')) v(query_id, term)),
         m AS (SELECT DISTINCT q.query_id, toks.sha_id
           FROM toks JOIN q ON q.term = toks.term),
         buckets AS (SELECT m.query_id, d.lang, count(*) AS doc_count
           FROM m JOIN docs d ON d.sha_id = m.sha_id GROUP BY 1, 2)
         SELECT query_id, count(*) AS bucket_count,
           CAST(min(doc_count) AS BIGINT) AS min_bucket,
           CAST(max(doc_count) AS BIGINT) AS max_bucket,
           CAST(sum(doc_count) AS BIGINT) AS sum_bucket,
           round(avg(doc_count), 4) AS avg_bucket
         FROM buckets GROUP BY query_id ORDER BY query_id""",
    "q109_engine_filters" ->
      s"""WITH toks AS (SELECT DISTINCT sha_id, term
           FROM read_parquet('$stage/q109_toks.parquet/*.parquet')),
         q AS (SELECT * FROM (VALUES (0, 'join'), (0, 'query'), (0, 'spark'),
           (1, 'filter'), (1, 'group'), (1, 'sort'),
           (2, 'zzznosuchterm')) v(query_id, term)),
         f AS (SELECT * FROM (VALUES ('has_dup', 'dup'),
           ('has_stream', 'stream')) v(name, term)),
         sel AS (SELECT DISTINCT q.query_id, toks.sha_id
           FROM toks JOIN q ON q.term = toks.term),
         fsel AS (SELECT DISTINCT f.name, toks.sha_id
           FROM toks JOIN f ON f.term = toks.term),
         qid AS (SELECT DISTINCT query_id FROM q),
         named AS (SELECT s.query_id, fs.name AS filter, count(*) AS doc_count
           FROM sel s JOIN fsel fs ON fs.sha_id = s.sha_id GROUP BY 1, 2),
         grid AS (SELECT qid.query_id, n.name AS filter
           FROM qid CROSS JOIN (SELECT DISTINCT name FROM f) n),
         named_full AS (SELECT g.query_id, g.filter,
             coalesce(nm.doc_count, 0) AS doc_count
           FROM grid g LEFT JOIN named nm
             ON nm.query_id = g.query_id AND nm.filter = g.filter),
         other_cnt AS (SELECT s.query_id, count(*) AS doc_count FROM sel s
           WHERE NOT EXISTS (SELECT 1 FROM fsel fs WHERE fs.sha_id = s.sha_id)
           GROUP BY 1),
         other_full AS (SELECT qid.query_id, '_other_' AS filter,
             coalesce(o.doc_count, 0) AS doc_count
           FROM qid LEFT JOIN other_cnt o ON o.query_id = qid.query_id)
         SELECT * FROM named_full UNION ALL SELECT * FROM other_full
         ORDER BY query_id, filter""",
    "q110_engine_matrix_stats" ->
      s"""WITH toks AS (SELECT sha_id, doc_id, term
           FROM read_parquet('$stage/q110_toks.parquet/*.parquet')),
         tf AS (SELECT sha_id, min(doc_id) AS doc_id, term, count(*) AS tf
           FROM toks GROUP BY sha_id, term),
         docs AS (SELECT sha_id, dl
           FROM read_parquet('$stage/q110_docs.parquet/*.parquet')),
         q AS (SELECT * FROM (VALUES (0, 'spark'), (0, 'query'),
           (1, 'filter'), (1, 'group'), (1, 'sort')) v(query_id, term)),
         sel AS (SELECT DISTINCT q.query_id, tf.sha_id, tf.doc_id
           FROM tf JOIN q ON q.term = tf.term)
         SELECT s.query_id, count(*) AS doc_count,
           round(avg(d.dl::double), 4) AS mean_x,
           round(avg(s.doc_id::double), 4) AS mean_y,
           round(var_samp(d.dl::double), 4) AS var_x,
           round(var_samp(s.doc_id::double), 4) AS var_y,
           round(covar_samp(d.dl::double, s.doc_id::double), 4) AS covariance,
           round(corr(d.dl::double, s.doc_id::double), 4) AS correlation
         FROM sel s JOIN docs d ON d.sha_id = s.sha_id
         GROUP BY s.query_id ORDER BY s.query_id""",
    "q111_engine_span" ->
      s"""WITH toks AS (SELECT sha_id, doc_id, pos, term
           FROM read_parquet('$stage/q111_toks.parquet/*.parquet')),
         tf AS (SELECT sha_id, min(doc_id) AS doc_id, term, count(*) AS tf
           FROM toks GROUP BY sha_id, term),
         dl AS (SELECT sha_id, dl
           FROM read_parquet('$stage/q111_docs.parquet/*.parquet')),
         stats AS (SELECT count(*) AS n, sum(dl)::double / count(*) AS avgdl FROM dl),
         q AS (SELECT * FROM (VALUES (0, 'data'), (0, 'spark'),
           (1, 'query'), (1, 'spark'),
           (2, 'join'), (2, 'spark'),
           (3, 'query')) v(query_id, term)),
         dfq AS (SELECT term, count(*) AS df FROM tf
           WHERE term IN (SELECT term FROM q) GROUP BY 1),
         ph AS (
           SELECT DISTINCT 0 AS query_id, sha_id FROM toks
             WHERE term IN ('data', 'spark') AND pos + 1 <= 3
           UNION
           SELECT DISTINCT 1 AS query_id, a.sha_id FROM toks a
             JOIN toks b ON b.sha_id = a.sha_id
               AND b.pos > a.pos AND b.pos - a.pos <= 3
             WHERE a.term = 'spark' AND b.term = 'query'
               AND NOT EXISTS (SELECT 1 FROM toks c
                 WHERE c.sha_id = a.sha_id AND c.term = 'join'
                   AND c.pos BETWEEN a.pos - 1 AND b.pos + 1)
           UNION
           SELECT DISTINCT 2 AS query_id, a.sha_id FROM toks a
             JOIN toks b ON b.sha_id = a.sha_id
               AND b.pos > a.pos AND b.pos - a.pos <= 5
             JOIN toks c ON c.sha_id = a.sha_id
               AND c.pos BETWEEN a.pos AND b.pos
             WHERE a.term = 'spark' AND b.term = 'join' AND c.term = 'query'
           UNION
           SELECT DISTINCT 3 AS query_id, a.sha_id FROM toks a
             JOIN toks b ON b.sha_id = a.sha_id
               AND b.pos > a.pos AND b.pos - a.pos <= 5
             JOIN toks c ON c.sha_id = a.sha_id
               AND c.pos BETWEEN a.pos AND b.pos
             WHERE a.term = 'spark' AND b.term = 'join' AND c.term = 'query'),
         scored AS (
           SELECT q.query_id, tf.sha_id, min(tf.doc_id) AS doc_id,
             sum(ln(1.0 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5)) *
                 (tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl))))) AS score
           FROM tf JOIN q ON q.term = tf.term
             JOIN dfq ON dfq.term = tf.term
             JOIN dl ON dl.sha_id = tf.sha_id
             JOIN ph ON ph.query_id = q.query_id AND ph.sha_id = tf.sha_id
             CROSS JOIN stats
           GROUP BY 1, 2)
         SELECT query_id, rank, doc_id, round(score, 4) AS score FROM (
           SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, sha_id) AS rank
           FROM scored)
         WHERE rank <= 10 ORDER BY query_id, rank""",
    "q114_engine_highlight" ->
      s"""WITH toks AS (SELECT sha_id, doc_id, pos, term
           FROM read_parquet('$stage/q114_toks.parquet/*.parquet')),
         tf AS (SELECT sha_id, min(doc_id) AS doc_id, term, count(*) AS tf
           FROM toks GROUP BY sha_id, term),
         dl AS (SELECT sha_id, dl
           FROM read_parquet('$stage/q114_docs.parquet/*.parquet')),
         stats AS (SELECT count(*) AS n, sum(dl)::double / count(*) AS avgdl FROM dl),
         q AS (SELECT * FROM (VALUES (0, 'query'), (0, 'spark'),
           (1, 'filter'), (1, 'join')) v(query_id, term)),
         dfq AS (SELECT term, count(*) AS df FROM tf
           WHERE term IN (SELECT term FROM q) GROUP BY 1),
         scored AS (
           SELECT q.query_id, tf.sha_id, min(tf.doc_id) AS doc_id,
             sum(ln(1.0 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5)) *
                 (tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl))))) AS score
           FROM tf JOIN q ON q.term = tf.term
             JOIN dfq ON dfq.term = tf.term
             JOIN dl ON dl.sha_id = tf.sha_id
             CROSS JOIN stats
           GROUP BY 1, 2),
         hits AS (SELECT query_id, sha_id, doc_id, score, rank FROM (
           SELECT query_id, sha_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, sha_id) AS rank
           FROM scored) WHERE rank <= 10),
         mp AS (SELECT h.query_id, h.sha_id, t.pos
           FROM hits h
             JOIN q ON q.query_id = h.query_id
             JOIN toks t ON t.sha_id = h.sha_id AND t.term = q.term),
         best AS (SELECT query_id, sha_id, p FROM (
           SELECT a.query_id, a.sha_id, a.pos AS p, count(*) AS cnt,
             row_number() OVER (PARTITION BY a.query_id, a.sha_id
               ORDER BY count(*) DESC, a.pos ASC) AS rn
           FROM mp a JOIN mp b ON b.query_id = a.query_id
             AND b.sha_id = a.sha_id
             AND b.pos >= a.pos AND b.pos < a.pos + 8
           GROUP BY a.query_id, a.sha_id, a.pos) WHERE rn = 1),
         frag AS (
           SELECT b.query_id, b.sha_id,
             string_agg(CASE WHEN mq.term IS NOT NULL
                 THEN '<em>' || t.term || '</em>' ELSE t.term END,
               ' ' ORDER BY t.pos) AS highlight
           FROM best b
             JOIN toks t ON t.sha_id = b.sha_id
               AND t.pos >= b.p AND t.pos < b.p + 8
             LEFT JOIN q mq ON mq.query_id = b.query_id AND mq.term = t.term
           GROUP BY 1, 2)
         SELECT h.query_id, h.rank, h.doc_id, round(h.score, 4) AS score,
           f.highlight
         FROM hits h JOIN frag f
           ON f.query_id = h.query_id AND f.sha_id = h.sha_id
         ORDER BY h.query_id, h.rank""",
    "q112_engine_sampler" ->
      s"""WITH toks AS (SELECT sha_id, doc_id, term
           FROM read_parquet('$stage/q112_toks.parquet/*.parquet')),
         tf AS (SELECT sha_id, min(doc_id) AS doc_id, term, count(*) AS tf
           FROM toks GROUP BY sha_id, term),
         dl AS (SELECT sha_id, lang, dl
           FROM read_parquet('$stage/q112_docs.parquet/*.parquet')),
         stats AS (SELECT count(*) AS n, sum(dl)::double / count(*) AS avgdl FROM dl),
         q AS (SELECT * FROM (VALUES (0, 'spark'), (0, 'query'),
           (1, 'filter'), (1, 'join'), (1, 'group')) v(query_id, term)),
         dfq AS (SELECT term, count(*) AS df FROM tf
           WHERE term IN (SELECT term FROM q) GROUP BY 1),
         scored AS (
           SELECT q.query_id, tf.sha_id,
             sum(ln(1.0 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5)) *
                 (tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl))))) AS score
           FROM tf JOIN q ON q.term = tf.term
             JOIN dfq ON dfq.term = tf.term
             JOIN dl ON dl.sha_id = tf.sha_id
             CROSS JOIN stats
           GROUP BY 1, 2),
         sample AS (SELECT query_id, sha_id FROM (
           SELECT query_id, sha_id,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, sha_id) AS sr
           FROM scored) WHERE sr <= 30)
         SELECT s.query_id, d.lang AS value, count(*) AS doc_count
         FROM sample s JOIN dl d ON d.sha_id = s.sha_id
         GROUP BY 1, 2 ORDER BY s.query_id, value""",
    "q113_engine_div_sampler" ->
      s"""WITH toks AS (SELECT sha_id, doc_id, term
           FROM read_parquet('$stage/q113_toks.parquet/*.parquet')),
         tf AS (SELECT sha_id, min(doc_id) AS doc_id, term, count(*) AS tf
           FROM toks GROUP BY sha_id, term),
         dl AS (SELECT sha_id, lang, repo, dl
           FROM read_parquet('$stage/q113_docs.parquet/*.parquet')),
         stats AS (SELECT count(*) AS n, sum(dl)::double / count(*) AS avgdl FROM dl),
         q AS (SELECT * FROM (VALUES (0, 'spark'), (0, 'query'),
           (1, 'filter'), (1, 'join'), (1, 'group')) v(query_id, term)),
         dfq AS (SELECT term, count(*) AS df FROM tf
           WHERE term IN (SELECT term FROM q) GROUP BY 1),
         scored AS (
           SELECT q.query_id, tf.sha_id,
             sum(ln(1.0 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5)) *
                 (tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl))))) AS score
           FROM tf JOIN q ON q.term = tf.term
             JOIN dfq ON dfq.term = tf.term
             JOIN dl ON dl.sha_id = tf.sha_id
             CROSS JOIN stats
           GROUP BY 1, 2),
         capped AS (SELECT query_id, sha_id, score FROM (
           SELECT s.query_id, s.sha_id, s.score,
             row_number() OVER (PARTITION BY s.query_id, d.repo
               ORDER BY s.score DESC, s.sha_id) AS dr
           FROM scored s JOIN dl d ON d.sha_id = s.sha_id) WHERE dr <= 3),
         sample AS (SELECT query_id, sha_id FROM (
           SELECT query_id, sha_id,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, sha_id) AS sr
           FROM capped) WHERE sr <= 30)
         SELECT s.query_id, d.lang AS value, count(*) AS doc_count
         FROM sample s JOIN dl d ON d.sha_id = s.sha_id
         GROUP BY 1, 2 ORDER BY s.query_id, value""",
    "q82_engine_regexp" ->
      s"""WITH toks AS (SELECT sha_id, doc_id, term
           FROM read_parquet('$stage/q82_toks.parquet/*.parquet')),
         tf AS (SELECT sha_id, min(doc_id) AS doc_id, term, count(*) AS tf
           FROM toks GROUP BY sha_id, term),
         dl AS (SELECT sha_id, dl
           FROM read_parquet('$stage/q82_docs.parquet/*.parquet')),
         stats AS (SELECT count(*) AS n, sum(dl)::double / count(*) AS avgdl FROM dl),
         exp0 AS (SELECT term FROM (SELECT DISTINCT term FROM tf
             WHERE regexp_full_match(term, 's(can|park|low)'))
           ORDER BY term LIMIT 2),
         exp1 AS (SELECT term FROM (SELECT DISTINCT term FROM tf
             WHERE regexp_full_match(term, 'qu.ry|j.in'))
           ORDER BY term LIMIT 2),
         q AS (SELECT DISTINCT query_id, term FROM (
           SELECT 0 AS query_id, term FROM exp0
           UNION ALL SELECT 1 AS query_id, term FROM exp1)),
         dfq AS (SELECT term, count(*) AS df FROM tf
           WHERE term IN (SELECT term FROM q) GROUP BY 1),
         scored AS (
           SELECT q.query_id, tf.sha_id, min(tf.doc_id) AS doc_id,
             sum(ln(1.0 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5)) *
                 (tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl))))) AS score
           FROM tf JOIN q ON q.term = tf.term
             JOIN dfq ON dfq.term = tf.term
             JOIN dl ON dl.sha_id = tf.sha_id
             CROSS JOIN stats
           GROUP BY 1, 2)
         SELECT query_id, rank, doc_id, round(score, 4) AS score FROM (
           SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, sha_id) AS rank
           FROM scored)
         WHERE rank <= 10 ORDER BY query_id, rank""",
    "q83_engine_top_hits" ->
      s"""WITH toks AS (SELECT sha_id, doc_id, term
           FROM read_parquet('$stage/q83_toks.parquet/*.parquet')),
         tf AS (SELECT sha_id, min(doc_id) AS doc_id, term, count(*) AS tf
           FROM toks GROUP BY sha_id, term),
         dl AS (SELECT sha_id, lang, dl
           FROM read_parquet('$stage/q83_docs.parquet/*.parquet')),
         stats AS (SELECT count(*) AS n, sum(dl)::double / count(*) AS avgdl FROM dl),
         q AS (SELECT * FROM (VALUES (0, 'join'), (0, 'query'), (0, 'spark'),
           (1, 'filter'), (1, 'group'), (1, 'sort')) v(query_id, term)),
         dfq AS (SELECT term, count(*) AS df FROM tf
           WHERE term IN (SELECT term FROM q) GROUP BY 1),
         scored AS (
           SELECT q.query_id, tf.sha_id, min(tf.doc_id) AS doc_id,
             sum(ln(1.0 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5)) *
                 (tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl))))) AS score
           FROM tf JOIN q ON q.term = tf.term
             JOIN dfq ON dfq.term = tf.term
             JOIN dl ON dl.sha_id = tf.sha_id
             CROSS JOIN stats
           GROUP BY 1, 2)
         SELECT query_id, facet, rank, doc_id, round(score, 4) AS score FROM (
           SELECT s.query_id, d.lang AS facet, s.doc_id, s.score,
             row_number() OVER (PARTITION BY s.query_id, d.lang
               ORDER BY s.score DESC, s.sha_id) AS rank
           FROM scored s JOIN dl d ON d.sha_id = s.sha_id)
         WHERE rank <= 2 ORDER BY query_id, facet, rank""",
    "q85_engine_update_by_query" ->
      s"""WITH docs AS (SELECT sha_id, doc_id, lang
           FROM read_parquet('$stage/q85_docs.parquet/*.parquet')),
         m AS (SELECT DISTINCT sha_id
           FROM read_parquet('$stage/q85_toks.parquet/*.parquet')
           WHERE term IN ('spark', 'query'))
         SELECT d.doc_id,
           CASE WHEN m.sha_id IS NOT NULL THEN 'retagged' ELSE d.lang END AS lang,
           CASE WHEN m.sha_id IS NOT NULL THEN 'hit' ELSE NULL END AS tag
         FROM docs d LEFT JOIN m ON m.sha_id = d.sha_id
         ORDER BY d.doc_id""",
    "q53_engine_phrase" ->
      s"""WITH toks AS (SELECT sha_id, doc_id, pos, term
           FROM read_parquet('$stage/q53_toks.parquet/*.parquet')),
         tf AS (SELECT sha_id, min(doc_id) AS doc_id, term, count(*) AS tf
           FROM toks GROUP BY sha_id, term),
         dl AS (SELECT sha_id, dl
           FROM read_parquet('$stage/q53_docs.parquet/*.parquet')),
         stats AS (SELECT count(*) AS n, sum(dl)::double / count(*) AS avgdl FROM dl),
         q AS (SELECT * FROM (VALUES (0, 'spark'), (0, 'query'),
           (1, 'query'), (1, 'join'),
           (2, 'part'), (2, 'filter')) v(query_id, term)),
         dfq AS (SELECT term, count(*) AS df FROM tf
           WHERE term IN (SELECT term FROM q) GROUP BY 1),
         ph AS (
           SELECT 0 AS query_id, a.sha_id FROM toks a
             JOIN toks b ON b.sha_id = a.sha_id AND b.pos = a.pos + 1
             WHERE a.term = 'spark' AND b.term = 'query'
           UNION
           SELECT 1 AS query_id, a.sha_id FROM toks a
             JOIN toks b ON b.sha_id = a.sha_id AND b.pos = a.pos + 1
             WHERE a.term = 'query' AND b.term = 'join'
           UNION
           SELECT 2 AS query_id, a.sha_id FROM toks a
             JOIN toks b ON b.sha_id = a.sha_id AND b.pos = a.pos + 1
             WHERE a.term = 'part' AND b.term = 'filter'),
         scored AS (
           SELECT q.query_id, tf.sha_id, min(tf.doc_id) AS doc_id,
             sum(ln(1.0 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5)) *
                 (tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl))))) AS score
           FROM tf JOIN q ON q.term = tf.term
             JOIN dfq ON dfq.term = tf.term
             JOIN dl ON dl.sha_id = tf.sha_id
             JOIN ph ON ph.query_id = q.query_id AND ph.sha_id = tf.sha_id
             CROSS JOIN stats
           GROUP BY 1, 2)
         SELECT query_id, rank, doc_id, round(score, 4) AS score FROM (
           SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, sha_id) AS rank
           FROM scored)
         WHERE rank <= 10 ORDER BY query_id, rank""",
    "q47_dedup_lines" ->
      """WITH aug AS (
           SELECT doc_id, text || chr(10) || 'copyright footer 2026' || chr(10) ||
             'nav home about contact' || chr(10) || 'unique ' || doc_id AS t
           FROM documents),
         l AS (
           SELECT doc_id, unnest(string_split(t, chr(10))) AS line,
                  unnest(range(len(string_split(t, chr(10))))) AS pos
           FROM aug),
         freq AS (
           SELECT line FROM (SELECT DISTINCT line, doc_id FROM l WHERE trim(line) <> '')
           GROUP BY line HAVING count(*) >= 2),
         kept AS (SELECT doc_id, pos, line FROM l
           WHERE line NOT IN (SELECT line FROM freq)),
         agg AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean
           FROM kept GROUP BY 1)
         SELECT d.doc_id, coalesce(a.clean, '') AS clean
         FROM documents d LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""",
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity), 2) AS sum_qty,
         round(sum(l_extendedprice), 2) AS sum_base_price,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
         round(avg(l_quantity), 4) AS avg_qty,
         count(*) AS count_order
         FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""",
    "q02_topk_orders_per_customer" ->
      """SELECT o_custkey, rnk, o_orderkey, price FROM (
           SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price,
             row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk
           FROM orders) WHERE rnk <= 3 ORDER BY o_custkey, rnk""",
    "q03_revenue_by_nation" ->
      """SELECT n_name,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
         count(*) AS n_items
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY 1 ORDER BY 1""",
    "q04_value_percentiles" ->
      """SELECT event_type, count(*) AS n,
         round(quantile_cont(value, 0.5), 4) AS p50,
         round(quantile_cont(value, 0.9), 4) AS p90,
         round(quantile_cont(value, 0.99), 4) AS p99,
         round(avg(value), 4) AS avg_value
         FROM events WHERE value > 0 GROUP BY 1 ORDER BY 1""",
    "q05_event_type_stats" ->
      """SELECT event_type, count(*) AS n, round(avg(value), 4) AS avg_value,
         count(DISTINCT user_id) AS n_users
         FROM events GROUP BY 1 ORDER BY 1""",
    "q06_customers_with_orders" ->
      """SELECT c_mktsegment, count(*) AS n FROM customer c
         WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
         GROUP BY 1 ORDER BY 1""",
    "q07_customers_without_orders" ->
      """SELECT c_mktsegment, count(*) AS n FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
         GROUP BY 1 ORDER BY 1""",
    "q08_value_histogram" ->
      """SELECT cast(floor(value / 10) AS bigint) AS bucket, count(*) AS n
         FROM events GROUP BY 1 ORDER BY 1""",
    "q09_describe_quantity" ->
      """SELECT count(*) AS n, round(avg(l_quantity), 4) AS mean,
         round(stddev_samp(l_quantity), 4) AS std,
         round(min(l_quantity), 4) AS min_q, round(max(l_quantity), 4) AS max_q
         FROM lineitem""",
    "q10_json_extract" ->
      """SELECT event_type,
         round(avg(cast(json_extract_string(props, '$.k') AS integer)), 4) AS avg_k,
         max(cast(json_extract_string(props, '$.k') AS integer)) AS max_k
         FROM events GROUP BY 1 ORDER BY 1""",
    "q11_status_match_rate" ->
      """SELECT o_orderpriority,
         round(avg(CASE WHEN o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END), 4) AS f_rate,
         count(*) AS n
         FROM orders GROUP BY 1 ORDER BY 1""",
    "q12_delta_mean" ->
      """SELECT l_returnflag,
         round(avg(l_extendedprice * (1 - l_discount) - l_extendedprice * l_tax), 4) AS net_mean
         FROM lineitem GROUP BY 1 ORDER BY 1""",
    "q13_intersect_keys" ->
      """SELECT count(*) AS n FROM
         (SELECT o_custkey AS k FROM orders INTERSECT SELECT c_custkey AS k FROM customer)""",
    "q20_term_df" ->
      """SELECT term, count(*) AS df FROM (
           SELECT DISTINCT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
           FROM documents) WHERE term <> ''
         GROUP BY term ORDER BY df DESC, term LIMIT 50""",
    "q21_bm25_topk" ->
      """WITH toks AS (
           SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM toks WHERE term <> '' GROUP BY 1, 2),
         dl AS (SELECT doc_id, count(*) AS dl FROM toks WHERE term <> '' GROUP BY 1),
         stats AS (SELECT count(*) AS n, sum(dl)::double / count(*) AS avgdl FROM dl),
         dfq AS (SELECT term, count(*) AS df FROM tf WHERE term IN ('spark','query','join') GROUP BY 1)
         SELECT tf.doc_id, round(sum(
             ln(1.0 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5)) *
             (tf.tf * 2.2 / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)))
           ), 4) AS score
         FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
         GROUP BY tf.doc_id ORDER BY score DESC, tf.doc_id LIMIT 10""",
    "q22_quality_features" ->
      """SELECT doc_id,
         len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS n_tokens,
         round((length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')))::double
           / greatest(length(text), 1), 4) AS punct_ratio,
         round(len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
             x -> x IN ('the','a','an','and','or','of','in','on','to','is','are','was','for','with','as','at','by','it')))::double
           / greatest(len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')), 1), 4) AS stopword_ratio,
         round(coalesce(list_sum(list_transform(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> ''), x -> length(x))), 0)::double
           / greatest(len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')), 1), 4) AS mean_token_len
         FROM documents ORDER BY doc_id""",
    "q23_exact_dup_stats" ->
      """SELECT group_size, count(*) AS n_groups FROM (
           SELECT sha256(text) AS h, count(*) AS group_size FROM documents GROUP BY 1)
         GROUP BY 1 ORDER BY 1""",
    "q24_token_stats" ->
      """SELECT count(*) AS n_tokens, count(DISTINCT term) AS n_terms,
         count(DISTINCT doc_id) AS n_docs FROM (
           SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
           FROM documents) WHERE term <> ''""",
    "q25_ngram_jaccard" ->
      """WITH toks AS (
           SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS l
           FROM documents),
         grams AS (
           SELECT DISTINCT doc_id AS id, unnest(list_transform(range(len(l) - 2),
             i -> l[i + 1] || ' ' || l[i + 2] || ' ' || l[i + 3])) AS gram
           FROM toks WHERE len(l) >= 3),
         sizes AS (SELECT id, count(*) AS sz FROM grams GROUP BY 1),
         inter AS (
           SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
           FROM grams a JOIN grams b ON a.gram = b.gram AND a.id < b.id
           GROUP BY 1, 2)
         SELECT id_a, id_b,
           round(i::double / (sa.sz + sb.sz - i), 4) AS jaccard
         FROM inter JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
         WHERE i::double / (sa.sz + sb.sz - i) >= 0.5
         ORDER BY id_a, id_b""",
    "q30_minhash_candidates" ->
      """WITH toks AS (
           SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS l
           FROM documents),
         grams AS (
           SELECT DISTINCT doc_id AS id, unnest(list_transform(range(len(l) - 2),
             i -> l[i + 1] || ' ' || l[i + 2] || ' ' || l[i + 3])) AS gram
           FROM toks WHERE len(l) >= 3),
         sizes AS (SELECT id, count(*) AS sz FROM grams GROUP BY 1),
         inter AS (
           SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
           FROM grams a JOIN grams b ON a.gram = b.gram AND a.id < b.id
           GROUP BY 1, 2)
         SELECT id_a, id_b,
           round(i::double / (sa.sz + sb.sz - i), 4) AS jaccard
         FROM inter JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
         WHERE i::double / (sa.sz + sb.sz - i) >= 0.5
         ORDER BY id_a, id_b""",
    "q31_simhash_pairs" ->
      s"""SELECT a.id AS id_a, b.id AS id_b,
           CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
         FROM read_parquet('$stage/q31_simhash.parquet/*.parquet') a
         JOIN read_parquet('$stage/q31_simhash.parquet/*.parquet') b
           ON a.id < b.id
         WHERE bit_count(xor(a.sh, b.sh)) <= 4
         ORDER BY id_a, id_b""",
    "q32_lsh_cosine_topk" ->
      s"""SELECT query_id, rank, neighbor_id, cosine FROM (
           SELECT c.query_id, c.neighbor_id,
             round(list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]), 6) AS cosine,
             row_number() OVER (PARTITION BY c.query_id
               ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]) DESC, c.neighbor_id) AS rank
           FROM read_parquet('$stage/q32_cands.parquet/*.parquet') c
           JOIN embeddings q ON q.vec_id = c.query_id
           JOIN embeddings n ON n.vec_id = c.neighbor_id)
         WHERE rank <= 5 ORDER BY query_id, rank""",
    "q36_ivf_cosine_topk" ->
      s"""SELECT query_id, rank, neighbor_id, cosine FROM (
           SELECT c.query_id, c.neighbor_id,
             round(list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]), 6) AS cosine,
             row_number() OVER (PARTITION BY c.query_id
               ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]) DESC, c.neighbor_id) AS rank
           FROM read_parquet('$stage/q36_cands.parquet/*.parquet') c
           JOIN embeddings q ON q.vec_id = c.query_id
           JOIN embeddings n ON n.vec_id = c.neighbor_id)
         WHERE rank <= 5 ORDER BY query_id, rank""",
    "q35_embedding_near_dups" ->
      s"""SELECT c.id_a, c.id_b,
           round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
         FROM read_parquet('$stage/q35_cands.parquet/*.parquet') c
         JOIN embeddings a ON a.vec_id = c.id_a
         JOIN embeddings b ON b.vec_id = c.id_b
         WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.15
         ORDER BY c.id_a, c.id_b""",
    "q34_fingerprint_dups" ->
      """WITH uni AS (
           SELECT doc_id AS id, text FROM documents
           UNION ALL
           SELECT doc_id + 100000 AS id, replace(text, ' ', ' . ') AS text FROM documents),
         toks AS (
           SELECT id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS l
           FROM uni)
         SELECT a.id AS id_a, b.id AS id_b
         FROM toks a JOIN toks b ON a.id < b.id AND a.l = b.l
         ORDER BY id_a, id_b""",
    "q37_fingerprint_groups" ->
      """WITH uni AS (
           SELECT doc_id AS id, text FROM documents
           UNION ALL
           SELECT doc_id + 100000 AS id, replace(text, ' ', ' . ') AS text FROM documents),
         toks AS (
           SELECT id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS l
           FROM uni)
         SELECT CAST(min(id) AS BIGINT) AS rep_id, CAST(count(*) AS BIGINT) AS group_size
         FROM toks GROUP BY l HAVING count(*) >= 2 ORDER BY rep_id""",
    "q38_neardup_groups" ->
      s"""WITH RECURSIVE pairs AS (
           SELECT id_a, id_b FROM read_parquet('$stage/q38_pairs.parquet/*.parquet')),
         edges AS (
           SELECT id_a AS u, id_b AS v FROM pairs
           UNION SELECT id_b AS u, id_a AS v FROM pairs),
         reach(u, v) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
         SELECT u AS id, min(v) AS component FROM reach GROUP BY u ORDER BY id""",
    "q39_clean_text" ->
      """SELECT doc_id, trim(regexp_replace(nfc_normalize(
           replace(replace(replace(replace(replace(replace(
             regexp_replace('<p class="x"> ' || text || ' </p>&nbsp;&amp;lt;end&#39;',
               '<[^>]*>', ' ', 'g'),
           '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', chr(39)),
           '&nbsp;', ' '), '&amp;', '&')),
           '\s+', ' ', 'g')) AS clean
         FROM documents ORDER BY doc_id""",
    "q42_decontaminate" ->
      """WITH toks AS (
           SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS l
           FROM documents),
         grams AS (
           SELECT DISTINCT doc_id AS id, unnest(list_transform(range(len(l) - 7),
             i -> array_to_string(l[i + 1:i + 8], ' '))) AS gram
           FROM toks WHERE len(l) >= 8),
         bg AS (SELECT DISTINCT gram FROM grams WHERE id % 97 = 0)
         SELECT id, CAST(count(*) AS BIGINT) AS gram_hits
         FROM grams JOIN bg USING (gram)
         GROUP BY id HAVING count(*) >= 1 ORDER BY id""",
    "q43_redact_pii" ->
      """SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(
           text || ' contact user' || doc_id || '@example.com or 10.0.' ||
             (doc_id % 256) || '.7, tel 555-123-' ||
             lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
           '\b\d[\d\- ]{7,}\d\b', '<PHONE>', 'g') AS redacted
         FROM documents ORDER BY doc_id""",
    "q44_repetition_features" ->
      """WITH aug AS (
           SELECT doc_id, text || chr(10) || 'footer line' || chr(10) || 'footer line' ||
             CASE WHEN doc_id % 3 = 0
               THEN chr(10) || 'extra' || chr(10) || 'extra' || chr(10) || 'extra'
               ELSE chr(10) || 'unique tail' END AS t
           FROM documents),
         ln AS (SELECT doc_id, list_filter(string_split(t, chr(10)), x -> length(x) > 0) AS l FROM aug)
         SELECT doc_id, CAST(len(l) AS BIGINT) AS n_lines,
           round((len(l) - len(list_distinct(l)))::double / greatest(len(l), 1), 4) AS dup_line_frac,
           round(CAST(coalesce(list_sum(list_transform(
               list_filter(l, x -> len(list_filter(l, y -> y = x)) > 1),
               x -> length(x))), 0) AS DOUBLE) /
             greatest(CAST(coalesce(list_sum(list_transform(l, x -> length(x))), 0) AS DOUBLE), 1), 4) AS dup_line_char_frac
         FROM ln ORDER BY doc_id""",
    "q45_split_counts" ->
      s"""SELECT CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val'
             ELSE 'test' END AS split, CAST(count(*) AS BIGINT) AS n
         FROM read_parquet('$stage/q45_buckets.parquet/*.parquet')
         GROUP BY 1 ORDER BY 1""",
    "q46_ngram_repetition" ->
      s"""WITH aug AS (
           SELECT doc_id, text || '$RepTail' AS t2 FROM documents),
         toks AS (
           SELECT doc_id, list_filter(regexp_split_to_array(lower(t2), '[^a-z0-9]+'), x -> x <> '') AS l
           FROM aug),
         base AS (
           SELECT doc_id, greatest(CAST(coalesce(list_sum(list_transform(l, x -> length(x))), 0) AS BIGINT)
             + greatest(len(l) - 1, 0), 1) AS total
           FROM toks),
         g2 AS (SELECT doc_id, unnest(list_transform(range(len(l) - 1),
             i -> array_to_string(l[i + 1:i + 2], ' '))) AS g
           FROM toks WHERE len(l) >= 2),
         g3 AS (SELECT doc_id, unnest(list_transform(range(len(l) - 2),
             i -> array_to_string(l[i + 1:i + 3], ' '))) AS g
           FROM toks WHERE len(l) >= 3),
         g5 AS (SELECT doc_id, unnest(list_transform(range(len(l) - 4),
             i -> array_to_string(l[i + 1:i + 5], ' '))) AS g
           FROM toks WHERE len(l) >= 5),
         g10 AS (SELECT doc_id, unnest(list_transform(range(len(l) - 9),
             i -> array_to_string(l[i + 1:i + 10], ' '))) AS g
           FROM toks WHERE len(l) >= 10),
         c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2),
         c3 AS (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2),
         c5 AS (SELECT doc_id, g, count(*) AS c FROM g5 GROUP BY 1, 2),
         c10 AS (SELECT doc_id, g, count(*) AS c FROM g10 GROUP BY 1, 2),
         t2 AS (SELECT doc_id, c * length(g) AS cov FROM (
             SELECT doc_id, g, c, row_number() OVER (
               PARTITION BY doc_id ORDER BY c DESC, g ASC) AS rn FROM c2)
           WHERE rn = 1),
         t3 AS (SELECT doc_id, c * length(g) AS cov FROM (
             SELECT doc_id, g, c, row_number() OVER (
               PARTITION BY doc_id ORDER BY c DESC, g ASC) AS rn FROM c3)
           WHERE rn = 1),
         d5 AS (SELECT doc_id, sum(c * length(g)) AS cov FROM c5 WHERE c >= 2 GROUP BY 1),
         d10 AS (SELECT doc_id, sum(c * length(g)) AS cov FROM c10 WHERE c >= 2 GROUP BY 1)
         SELECT b.doc_id,
           round(least(CAST(1.0 AS DOUBLE), coalesce(t2.cov, 0)::double / b.total), 4) AS top2_frac,
           round(least(CAST(1.0 AS DOUBLE), coalesce(t3.cov, 0)::double / b.total), 4) AS top3_frac,
           round(least(CAST(1.0 AS DOUBLE), coalesce(d5.cov, 0)::double / b.total), 4) AS dup5_frac,
           round(least(CAST(1.0 AS DOUBLE), coalesce(d10.cov, 0)::double / b.total), 4) AS dup10_frac
         FROM base b
         LEFT JOIN t2 USING (doc_id) LEFT JOIN t3 USING (doc_id)
         LEFT JOIN d5 USING (doc_id) LEFT JOIN d10 USING (doc_id)
         ORDER BY doc_id""",
    "q26_cosine_topk" ->
      """SELECT query_id, rank, neighbor_id, cosine FROM (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) AS cosine,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC, c.vec_id) AS rank
           FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
           WHERE q.vec_id < 5)
         WHERE rank <= 5 ORDER BY query_id, rank""",
    "q128_filtered_cosine_topk" ->
      """SELECT query_id, rank, neighbor_id, cosine FROM (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) AS cosine,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC, c.vec_id) AS rank
           FROM embeddings q JOIN embeddings c
             ON q.vec_id <> c.vec_id AND c.label = 1
           WHERE q.vec_id < 5)
         WHERE rank <= 5 ORDER BY query_id, rank""",
    "q27_bpe_token_count" ->
      """SELECT doc_id,
         CAST(coalesce(list_sum(list_transform(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> ''),
           x -> cast(ceil(length(x) / 4.0) AS bigint))), 0)
         + length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS BIGINT) AS bpe_tokens
         FROM documents ORDER BY doc_id""",
    "q40_media_features" ->
      """SELECT CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         count(*) AS n, CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes
         FROM documents GROUP BY 1 ORDER BY 1""",
    "q41_frame_samples" ->
      """SELECT n_frames, count(*) AS n_media FROM (
           SELECT least(8, (length(text) * 10) // 500) AS n_frames FROM documents)
         WHERE n_frames > 0 GROUP BY 1 ORDER BY 1""",
    "q129_gif_frame_decode" ->
      """SELECT d.doc_id, CAST(f.frame_index AS INT) AS frame_index,
           'frames' AS decoder, CAST(64 AS BIGINT) AS hist_sum,
           CAST(((d.doc_id * 31 + f.frame_index * 8) % 256) // 16 AS INT) AS top_bin
         FROM documents d
         JOIN (SELECT unnest(range(5)) AS frame_index) f
           ON f.frame_index <= d.doc_id % 5
         ORDER BY doc_id, frame_index""",
    "q131_geo_distance" ->
      s"""WITH d AS (SELECT event_id,
           2 * 6371.0088 * ASIN(SQRT(
             POW(SIN(RADIANS(40.0 - lat) / 2), 2) +
             COS(RADIANS(lat)) * COS(RADIANS(40.0)) *
             POW(SIN(RADIANS(-74.0 - lon) / 2), 2))) AS dist
         FROM read_parquet('$stage/q131_coords.parquet/*.parquet'))
         SELECT event_id, round(dist, 3) AS distance_km FROM d
         WHERE dist <= 1500.0
         ORDER BY distance_km, event_id LIMIT 50""",
    "q132_geotile_grid" ->
      s"""WITH t AS (SELECT value,
           LEAST(7, GREATEST(0, CAST(FLOOR((lon + 180.0) / 360.0 * 8) AS BIGINT))) AS tile_x,
           LEAST(7, GREATEST(0, CAST(FLOOR(
             (1.0 - LN(TAN(RADIANS(lat)) + 1.0 / COS(RADIANS(lat))) / PI())
             / 2.0 * 8) AS BIGINT))) AS tile_y
         FROM read_parquet('$stage/q132_coords.parquet/*.parquet'))
         SELECT tile_x, tile_y, count(*) AS n, round(sum(value), 2) AS sum_value
         FROM t GROUP BY 1, 2 ORDER BY 1, 2""",
    "q133_geo_distance_rings" ->
      s"""WITH d AS (SELECT value,
           2 * 6371.0088 * ASIN(SQRT(
             POW(SIN(RADIANS(40.0 - lat) / 2), 2) +
             COS(RADIANS(lat)) * COS(RADIANS(40.0)) *
             POW(SIN(RADIANS(-74.0 - lon) / 2), 2))) AS dist
         FROM read_parquet('$stage/q133_coords.parquet/*.parquet')),
         r AS (SELECT value,
           CAST(dist >= 1000.0 AS BIGINT) + CAST(dist >= 2500.0 AS BIGINT) +
           CAST(dist >= 5000.0 AS BIGINT) + CAST(dist >= 10000.0 AS BIGINT) AS ring
         FROM d)
         SELECT ring, count(*) AS n, round(sum(value), 2) AS sum_value
         FROM r GROUP BY 1 ORDER BY 1""",
    "q134_geo_bounding_box" ->
      s"""SELECT event_id, round(lat, 4) AS lat, round(lon, 4) AS lon
         FROM read_parquet('$stage/q134_coords.parquet/*.parquet')
         WHERE lat <= 45.0 AND lat >= -45.0
           AND (lon >= 160.0 OR lon <= -160.0)
         ORDER BY event_id LIMIT 200""",
    "q135_geohash_grid" ->
      geohashGridSql(s"$stage/q135_coords.parquet/*.parquet", p = 2),
    "q136_geo_centroid_bounds" ->
      s"""SELECT event_type,
           round(avg(lat), 4) AS centroid_lat, round(avg(lon), 4) AS centroid_lon,
           count(*) AS count,
           round(max(lat), 4) AS top, round(min(lat), 4) AS bottom,
           round(min(lon), 4) AS lft, round(max(lon), 4) AS rgt
         FROM read_parquet('$stage/q136_coords.parquet/*.parquet')
         GROUP BY 1 ORDER BY 1""",
    "q170_geo_polygon" ->
      s"""SELECT event_id, round(lat, 4) AS lat, round(lon, 4) AS lon
         FROM read_parquet('$stage/q170_coords.parquet/*.parquet')
         WHERE ${geoPolygonSql("lat", "lon")}
         ORDER BY event_id LIMIT 500""",
    // geo_shape: polygons rebuilt from the staged exploded vertices
    // (edges via the (vidx+1) % 5 self-join); ray casts for the query
    // point and all 8 envelope corners in ONE grouped pass, vertex-in-
    // box folds, and the strict-orientation crossing test against each
    // envelope side — formula-identical to Geo.properCross
    "q177_geo_shape" ->
      s"""WITH v AS (SELECT event_id, vidx, lat, lon
           FROM read_parquet('$stage/q177_shapes.parquet/*.parquet')),
         e AS (SELECT a.event_id, a.lat AS y1, a.lon AS x1, b.lat AS y2, b.lon AS x2
           FROM v a JOIN v b ON b.event_id = a.event_id AND b.vidx = (a.vidx + 1) % 5),
         pts AS (SELECT * FROM (VALUES
           ('pq', 12.3456, -7.8912),
           ('c1', 30.0, -40.0), ('c2', 30.0, 20.0),
           ('c3', -10.0, -40.0), ('c4', -10.0, 20.0),
           ('s1', 0.6, -0.3), ('s2', 0.6, 0.3),
           ('s3', 0.4, -0.3), ('s4', 0.4, 0.3)) t(pid, py, px)),
         inside AS (SELECT e.event_id, pts.pid,
             (sum(CASE WHEN y1 <> y2 AND ((y1 > py) <> (y2 > py))
                  AND px < (x2 - x1) * (py - y1) / (y2 - y1) + x1
                  THEN 1 ELSE 0 END) % 2) = 1 AS ins
           FROM e CROSS JOIN pts GROUP BY 1, 2),
         vin AS (SELECT event_id,
             bool_or(lat <= 30.0 AND lat >= -10.0 AND lon >= -40.0 AND lon <= 20.0) AS any_in,
             bool_and(lat <= 30.0 AND lat >= -10.0 AND lon >= -40.0 AND lon <= 20.0) AS all_in
           FROM v GROUP BY 1),
         sides AS (SELECT * FROM (VALUES
           (30.0, -40.0, 30.0, 20.0), (-10.0, -40.0, -10.0, 20.0),
           (-10.0, -40.0, 30.0, -40.0), (-10.0, 20.0, 30.0, 20.0)) t(cy1, cx1, cy2, cx2)),
         sides_s AS (SELECT * FROM (VALUES
           (0.6, -0.3, 0.6, 0.3), (0.4, -0.3, 0.4, 0.3),
           (0.4, -0.3, 0.6, -0.3), (0.4, 0.3, 0.6, 0.3)) t(cy1, cx1, cy2, cx2)),
         xs AS (SELECT e.event_id, bool_or(
             ((x2 - x1) * (cy1 - y1) - (y2 - y1) * (cx1 - x1)) *
             ((x2 - x1) * (cy2 - y1) - (y2 - y1) * (cx2 - x1)) < 0
             AND ((cx2 - cx1) * (y1 - cy1) - (cy2 - cy1) * (x1 - cx1)) *
                 ((cx2 - cx1) * (y2 - cy1) - (cy2 - cy1) * (x2 - cx1)) < 0) AS cross_any
           FROM e CROSS JOIN sides GROUP BY 1),
         xss AS (SELECT e.event_id, bool_or(
             ((x2 - x1) * (cy1 - y1) - (y2 - y1) * (cx1 - x1)) *
             ((x2 - x1) * (cy2 - y1) - (y2 - y1) * (cx2 - x1)) < 0
             AND ((cx2 - cx1) * (y1 - cy1) - (cy2 - cy1) * (x1 - cx1)) *
                 ((cx2 - cx1) * (y2 - cy1) - (cy2 - cy1) * (x2 - cx1)) < 0) AS cross_any
           FROM e CROSS JOIN sides_s GROUP BY 1),
         agg AS (SELECT event_id,
             bool_or(ins) FILTER (WHERE pid = 'pq') AS p_in,
             bool_or(ins) FILTER (WHERE pid IN ('c1','c2','c3','c4')) AS any_c,
             bool_and(ins) FILTER (WHERE pid IN ('s1','s2','s3','s4')) AS all_s
           FROM inside GROUP BY 1),
         rel AS (SELECT a.event_id,
             (v.any_in OR a.any_c OR x.cross_any) AS inter,
             v.all_in AS wthn,
             (a.all_s AND NOT xx.cross_any) AS cont,
             a.p_in
           FROM agg a JOIN vin v USING (event_id) JOIN xs x USING (event_id)
             JOIN xss xx USING (event_id))
         SELECT fn, event_id FROM (
           SELECT 'point' AS fn, event_id FROM rel WHERE p_in
           UNION ALL SELECT 'intersects', event_id FROM rel WHERE inter
           UNION ALL (SELECT 'disjoint', event_id FROM rel WHERE NOT inter
             ORDER BY event_id LIMIT 800)
           UNION ALL SELECT 'within', event_id FROM rel WHERE wthn
           UNION ALL SELECT 'contains', event_id FROM rel WHERE cont)
         ORDER BY fn, event_id""",
    "q137_engine_multi_match" ->
      multiMatchSql(stage, "q137",
        "max(score) + 0.3 * (sum(score) - max(score))"),
    // multi_match fuzziness: per-field expansion (closest-first window
    // rank, cap 8 — the engine's (dist asc, term asc) LIMIT discipline)
    // over each field's own staged dictionary, per-field BM25, dis_max
    "q179_engine_multi_match_fuzzy" ->
      s"""WITH qw AS (SELECT * FROM (VALUES (0, 'spakr', 1), (0, 'qurey', 1),
           (1, 'jion', 1), (1, 'filtre', 2)) v(query_id, word, budget)),
         tft AS (SELECT sha_id, min(doc_id) AS doc_id, term, count(*) AS tf
           FROM read_parquet('$stage/q179t_toks.parquet/*.parquet')
           GROUP BY sha_id, term),
         dlt AS (SELECT sha_id, dl
           FROM read_parquet('$stage/q179t_docs.parquet/*.parquet')),
         statst AS (SELECT count(*) AS n, sum(dl)::double / count(*) AS avgdl FROM dlt),
         dict_t AS (SELECT DISTINCT term FROM tft),
         et AS (SELECT DISTINCT query_id, term FROM (
             SELECT qw.query_id, d.term,
               row_number() OVER (PARTITION BY qw.query_id, qw.word
                 ORDER BY damerau_levenshtein(d.term, qw.word), d.term) AS rn
             FROM qw CROSS JOIN dict_t d
             WHERE damerau_levenshtein(d.term, qw.word) <= qw.budget)
           WHERE rn <= 8),
         dfqt AS (SELECT term, count(*) AS df FROM tft
           WHERE term IN (SELECT term FROM et) GROUP BY 1),
         scoredt AS (SELECT et.query_id, tft.sha_id, min(tft.doc_id) AS doc_id,
             2.0 * sum(ln(1.0 + (statst.n - dfqt.df + 0.5) / (dfqt.df + 0.5)) *
               (tft.tf * (1.2 + 1.0) / (tft.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dlt.dl / statst.avgdl))))) AS score
           FROM tft JOIN et ON et.term = tft.term
             JOIN dfqt ON dfqt.term = tft.term
             JOIN dlt ON dlt.sha_id = tft.sha_id
             CROSS JOIN statst
           GROUP BY 1, 2),
         tfb AS (SELECT sha_id, min(doc_id) AS doc_id, term, count(*) AS tf
           FROM read_parquet('$stage/q179b_toks.parquet/*.parquet')
           GROUP BY sha_id, term),
         dlb AS (SELECT sha_id, dl
           FROM read_parquet('$stage/q179b_docs.parquet/*.parquet')),
         statsb AS (SELECT count(*) AS n, sum(dl)::double / count(*) AS avgdl FROM dlb),
         dict_b AS (SELECT DISTINCT term FROM tfb),
         eb AS (SELECT DISTINCT query_id, term FROM (
             SELECT qw.query_id, d.term,
               row_number() OVER (PARTITION BY qw.query_id, qw.word
                 ORDER BY damerau_levenshtein(d.term, qw.word), d.term) AS rn
             FROM qw CROSS JOIN dict_b d
             WHERE damerau_levenshtein(d.term, qw.word) <= qw.budget)
           WHERE rn <= 8),
         dfqb AS (SELECT term, count(*) AS df FROM tfb
           WHERE term IN (SELECT term FROM eb) GROUP BY 1),
         scoredb AS (SELECT eb.query_id, tfb.sha_id, min(tfb.doc_id) AS doc_id,
             1.0 * sum(ln(1.0 + (statsb.n - dfqb.df + 0.5) / (dfqb.df + 0.5)) *
               (tfb.tf * (1.2 + 1.0) / (tfb.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dlb.dl / statsb.avgdl))))) AS score
           FROM tfb JOIN eb ON eb.term = tfb.term
             JOIN dfqb ON dfqb.term = tfb.term
             JOIN dlb ON dlb.sha_id = tfb.sha_id
             CROSS JOIN statsb
           GROUP BY 1, 2),
         u AS (SELECT * FROM scoredt UNION ALL SELECT * FROM scoredb),
         combined AS (SELECT query_id, sha_id, min(doc_id) AS doc_id,
             max(score) + 0.3 * (sum(score) - max(score)) AS score
           FROM u GROUP BY 1, 2)
         SELECT query_id, rank, doc_id, round(score, 4) AS score FROM (
           SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, sha_id) AS rank
           FROM combined)
         WHERE rank <= 10 ORDER BY query_id, rank""",
    "q138_engine_multi_match_most" ->
      multiMatchSql(stage, "q138", "sum(score)"),
    "q139_engine_multi_match_cross" ->
      s"""WITH ti AS (SELECT * FROM (VALUES (0, 0, 'spark'), (0, 1, 'query'),
           (1, 0, 'join'), (1, 1, 'filter')) v(query_id, term_idx, term)),
         tft AS (SELECT sha_id, min(doc_id) AS doc_id, term, count(*) AS tf
           FROM read_parquet('$stage/q139t_toks.parquet/*.parquet')
           GROUP BY sha_id, term),
         dlt AS (SELECT sha_id, dl
           FROM read_parquet('$stage/q139t_docs.parquet/*.parquet')),
         statst AS (SELECT count(*) AS n, sum(dl)::double / count(*) AS avgdl FROM dlt),
         dft AS (SELECT term, count(*) AS df FROM tft
           WHERE term IN (SELECT term FROM ti) GROUP BY 1),
         st AS (SELECT ti.query_id, ti.term_idx, tft.sha_id, tft.doc_id,
             2.0 * ln(1.0 + (statst.n - dft.df + 0.5) / (dft.df + 0.5)) *
               (tft.tf * (1.2 + 1.0) / (tft.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dlt.dl / statst.avgdl)))) AS score
           FROM tft JOIN ti ON ti.term = tft.term
             JOIN dft ON dft.term = tft.term
             JOIN dlt ON dlt.sha_id = tft.sha_id
             CROSS JOIN statst),
         tfb AS (SELECT sha_id, min(doc_id) AS doc_id, term, count(*) AS tf
           FROM read_parquet('$stage/q139b_toks.parquet/*.parquet')
           GROUP BY sha_id, term),
         dlb AS (SELECT sha_id, dl
           FROM read_parquet('$stage/q139b_docs.parquet/*.parquet')),
         statsb AS (SELECT count(*) AS n, sum(dl)::double / count(*) AS avgdl FROM dlb),
         dfb AS (SELECT term, count(*) AS df FROM tfb
           WHERE term IN (SELECT term FROM ti) GROUP BY 1),
         sb AS (SELECT ti.query_id, ti.term_idx, tfb.sha_id, tfb.doc_id,
             1.0 * ln(1.0 + (statsb.n - dfb.df + 0.5) / (dfb.df + 0.5)) *
               (tfb.tf * (1.2 + 1.0) / (tfb.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dlb.dl / statsb.avgdl)))) AS score
           FROM tfb JOIN ti ON ti.term = tfb.term
             JOIN dfb ON dfb.term = tfb.term
             JOIN dlb ON dlb.sha_id = tfb.sha_id
             CROSS JOIN statsb),
         u AS (SELECT * FROM st UNION ALL SELECT * FROM sb),
         blended AS (SELECT query_id, term_idx, sha_id, min(doc_id) AS doc_id,
             max(score) + 0.3 * (sum(score) - max(score)) AS score
           FROM u GROUP BY 1, 2, 3),
         combined AS (SELECT query_id, sha_id, min(doc_id) AS doc_id,
             sum(score) AS score
           FROM blended GROUP BY 1, 2)
         SELECT query_id, rank, doc_id, round(score, 4) AS score FROM (
           SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, sha_id) AS rank
           FROM combined)
         WHERE rank <= 10 ORDER BY query_id, rank""",
    "q140_engine_has_child" ->
      s"""WITH ti AS (SELECT * FROM (VALUES (0, 'spark'), (0, 'query'),
           (1, 'join'), (1, 'filter')) v(query_id, term)),
         tf AS (SELECT sha_id, min(doc_id) AS doc_id, term, count(*) AS tf
           FROM read_parquet('$stage/q140_toks.parquet/*.parquet')
           GROUP BY sha_id, term),
         dla AS (SELECT sha_id, doc_id, dl
           FROM read_parquet('$stage/q140_docs.parquet/*.parquet')),
         stats AS (SELECT count(*) AS n, sum(dl)::double / count(*) AS avgdl FROM dla),
         dfm AS (SELECT term, count(*) AS df FROM tf
           WHERE term IN (SELECT term FROM ti) GROUP BY 1),
         contrib AS (SELECT ti.query_id, tf.sha_id, tf.doc_id,
             ln(1.0 + (stats.n - dfm.df + 0.5) / (dfm.df + 0.5)) *
               (tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dla.dl / stats.avgdl)))) AS score
           FROM tf JOIN ti ON ti.term = tf.term
             JOIN dfm ON dfm.term = tf.term
             JOIN dla ON dla.sha_id = tf.sha_id
             CROSS JOIN stats),
         docscore AS (SELECT query_id, sha_id, min(doc_id) AS doc_id,
             sum(score) AS score FROM contrib GROUP BY 1, 2),
         perparent AS (SELECT query_id,
             3000000000 + (doc_id % ${PcGroups}) AS pkey,
             sum(score) AS score, count(*) AS n_children
           FROM docscore WHERE doc_id < 3000000000 GROUP BY 1, 2),
         parents AS (SELECT doc_id, sha_id FROM dla WHERE doc_id >= 3000000000)
         SELECT query_id, rank, doc_id, round(score, 4) AS score,
           CAST(n_children AS BIGINT) AS n_children FROM (
           SELECT p.query_id, par.doc_id, p.score, p.n_children,
             row_number() OVER (PARTITION BY p.query_id
               ORDER BY p.score DESC, par.sha_id) AS rank
           FROM perparent p JOIN parents par ON par.doc_id = p.pkey)
         WHERE rank <= 10 ORDER BY query_id, rank""",
    // nested + inner_hits: full replay — BM25 over the WHOLE index
    // (nested rows are real docs, stats include them), match set
    // restricted to nested rows, avg fold per parent, parent ranking,
    // and the per-parent inner-hits top-3 ranking
    "q169_engine_nested" ->
      s"""WITH ti AS (SELECT * FROM (VALUES (0, 'spark'), (0, 'query'),
           (1, 'join'), (1, 'filter')) v(query_id, term)),
         tf AS (SELECT sha_id, min(doc_id) AS doc_id, term, count(*) AS tf
           FROM read_parquet('$stage/q169_toks.parquet/*.parquet')
           GROUP BY sha_id, term),
         dla AS (SELECT sha_id, doc_id, dl
           FROM read_parquet('$stage/q169_docs.parquet/*.parquet')),
         stats AS (SELECT count(*) AS n, sum(dl)::double / count(*) AS avgdl FROM dla),
         dfm AS (SELECT term, count(*) AS df FROM tf
           WHERE term IN (SELECT term FROM ti) GROUP BY 1),
         contrib AS (SELECT ti.query_id, tf.sha_id, tf.doc_id,
             ln(1.0 + (stats.n - dfm.df + 0.5) / (dfm.df + 0.5)) *
               (tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dla.dl / stats.avgdl)))) AS score
           FROM tf JOIN ti ON ti.term = tf.term
             JOIN dfm ON dfm.term = tf.term
             JOIN dla ON dla.sha_id = tf.sha_id
             CROSS JOIN stats),
         docscore AS (SELECT query_id, sha_id, min(doc_id) AS doc_id,
             sum(score) AS score FROM contrib GROUP BY 1, 2),
         nmatch AS (SELECT query_id, sha_id, doc_id, score,
             (doc_id - 4000000000) // 4 AS pkey
           FROM docscore WHERE doc_id >= 4000000000),
         perparent AS (SELECT query_id, pkey, sum(score) / count(*) AS score,
             count(*) AS n_nested FROM nmatch GROUP BY 1, 2),
         parents AS (SELECT doc_id, sha_id FROM dla WHERE doc_id < 4000000000),
         ranked AS (SELECT p.query_id, par.doc_id, p.score, p.n_nested, p.pkey,
             row_number() OVER (PARTITION BY p.query_id
               ORDER BY p.score DESC, par.sha_id) AS rank
           FROM perparent p JOIN parents par ON par.doc_id = p.pkey),
         ih AS (SELECT query_id, pkey, doc_id AS nested_doc, score AS inner_score,
             row_number() OVER (PARTITION BY query_id, pkey
               ORDER BY score DESC, sha_id) AS inner_rank
           FROM nmatch)
         SELECT r.query_id, CAST(r.rank AS INTEGER) AS rank, r.doc_id,
           round(r.score, 4) AS score, CAST(r.n_nested AS BIGINT) AS n_nested,
           CAST(i.inner_rank AS INTEGER) AS inner_rank, i.nested_doc,
           round(i.inner_score, 4) AS inner_score
         FROM ranked r JOIN ih i ON i.query_id = r.query_id AND i.pkey = r.pkey
         WHERE r.rank <= 10 AND i.inner_rank <= 3
         ORDER BY r.query_id, r.rank, i.inner_rank""",
    "q141_engine_has_parent" ->
      s"""WITH ti AS (SELECT * FROM (VALUES (0, 'spark'), (0, 'query'),
           (1, 'group'), (1, 'join')) v(query_id, term)),
         tf AS (SELECT sha_id, min(doc_id) AS doc_id, term, count(*) AS tf
           FROM read_parquet('$stage/q141_toks.parquet/*.parquet')
           GROUP BY sha_id, term),
         dla AS (SELECT sha_id, doc_id, dl
           FROM read_parquet('$stage/q141_docs.parquet/*.parquet')),
         stats AS (SELECT count(*) AS n, sum(dl)::double / count(*) AS avgdl FROM dla),
         dfm AS (SELECT term, count(*) AS df FROM tf
           WHERE term IN (SELECT term FROM ti) GROUP BY 1),
         contrib AS (SELECT ti.query_id, tf.sha_id, tf.doc_id,
             ln(1.0 + (stats.n - dfm.df + 0.5) / (dfm.df + 0.5)) *
               (tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dla.dl / stats.avgdl)))) AS score
           FROM tf JOIN ti ON ti.term = tf.term
             JOIN dfm ON dfm.term = tf.term
             JOIN dla ON dla.sha_id = tf.sha_id
             CROSS JOIN stats),
         docscore AS (SELECT query_id, sha_id, min(doc_id) AS doc_id,
             sum(score) AS score FROM contrib GROUP BY 1, 2),
         parentscore AS (SELECT query_id, doc_id AS pkey, score
           FROM docscore WHERE doc_id >= 3000000000),
         childrows AS (SELECT doc_id, sha_id,
             3000000000 + (doc_id % ${PcGroups}) AS pkey
           FROM dla WHERE doc_id < 3000000000)
         SELECT query_id, rank, doc_id, round(score, 4) AS score, parent_doc FROM (
           SELECT p.query_id, c.doc_id, p.score, p.pkey AS parent_doc,
             row_number() OVER (PARTITION BY p.query_id
               ORDER BY p.score DESC, c.sha_id) AS rank
           FROM parentscore p JOIN childrows c ON c.pkey = p.pkey)
         WHERE rank <= 10 ORDER BY query_id, rank""",
    "q142_engine_synonyms" ->
      s"""WITH gi AS (SELECT * FROM (VALUES (0, 0, 'spark'), (0, 0, 'sql'),
           (0, 1, 'join'), (1, 0, 'filter'), (1, 0, 'where'),
           (1, 1, 'query')) v(query_id, gid, term)),
         tf AS (SELECT sha_id, min(doc_id) AS doc_id, term, count(*) AS tf
           FROM read_parquet('$stage/q142_toks.parquet/*.parquet')
           GROUP BY sha_id, term),
         dla AS (SELECT sha_id, doc_id, dl
           FROM read_parquet('$stage/q142_docs.parquet/*.parquet')),
         stats AS (SELECT count(*) AS n, sum(dl)::double / count(*) AS avgdl FROM dla),
         dfm AS (SELECT term, count(*) AS df FROM tf
           WHERE term IN (SELECT term FROM gi) GROUP BY 1),
         dfg AS (SELECT gi.query_id, gi.gid, max(dfm.df) AS dfg
           FROM gi JOIN dfm ON dfm.term = gi.term GROUP BY 1, 2),
         tfg AS (SELECT gi.query_id, gi.gid, tf.sha_id,
             min(tf.doc_id) AS doc_id, sum(tf.tf) AS tfg
           FROM tf JOIN gi ON gi.term = tf.term GROUP BY 1, 2, 3),
         contrib AS (SELECT t.query_id, t.gid, t.sha_id, t.doc_id,
             ln(1.0 + (stats.n - d.dfg + 0.5) / (d.dfg + 0.5)) *
               (t.tfg * (1.2 + 1.0) / (t.tfg + 1.2 * (1.0 - 0.75 + 0.75 * (dla.dl / stats.avgdl)))) AS score
           FROM tfg t JOIN dfg d ON d.query_id = t.query_id AND d.gid = t.gid
             JOIN dla ON dla.sha_id = t.sha_id
             CROSS JOIN stats),
         docscore AS (SELECT query_id, sha_id, min(doc_id) AS doc_id,
             sum(score) AS score FROM contrib GROUP BY 1, 2)
         SELECT query_id, rank, doc_id, round(score, 4) AS score FROM (
           SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id
               ORDER BY score DESC, sha_id) AS rank
           FROM docscore)
         WHERE rank <= 10 ORDER BY query_id, rank""",
    "q143_engine_rank_feature" ->
      s"""WITH ti AS (SELECT * FROM (VALUES (0, 'spark'), (0, 'query'),
           (1, 'join'), (1, 'filter')) v(query_id, term)),
         tf AS (SELECT sha_id, min(doc_id) AS doc_id, term, count(*) AS tf
           FROM read_parquet('$stage/q143_toks.parquet/*.parquet')
           GROUP BY sha_id, term),
         dla AS (SELECT sha_id, doc_id, dl
           FROM read_parquet('$stage/q143_docs.parquet/*.parquet')),
         stats AS (SELECT count(*) AS n, sum(dl)::double / count(*) AS avgdl FROM dla),
         dfm AS (SELECT term, count(*) AS df FROM tf
           WHERE term IN (SELECT term FROM ti) GROUP BY 1),
         contrib AS (SELECT ti.query_id, tf.sha_id, tf.doc_id,
             ln(1.0 + (stats.n - dfm.df + 0.5) / (dfm.df + 0.5)) *
               (tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dla.dl / stats.avgdl)))) AS score
           FROM tf JOIN ti ON ti.term = tf.term
             JOIN dfm ON dfm.term = tf.term
             JOIN dla ON dla.sha_id = tf.sha_id
             CROSS JOIN stats),
         docscore AS (SELECT query_id, sha_id, min(doc_id) AS doc_id,
             sum(score) AS score FROM contrib GROUP BY 1, 2),
         wfv AS (SELECT d.query_id, d.sha_id, d.doc_id, d.score,
             dla.dl::double AS fv
           FROM docscore d JOIN dla ON dla.sha_id = d.sha_id),
         boosted AS (
           SELECT 'saturation' AS fn, query_id, sha_id, doc_id,
               score + (CASE WHEN fv > 0 THEN 2.0 * (fv / (fv + 40.0)) ELSE 0.0 END) AS score
             FROM wfv
           UNION ALL
           SELECT 'log', query_id, sha_id, doc_id,
               score + (CASE WHEN fv > 0 THEN 1.5 * ln(3.0 + fv) ELSE 0.0 END)
             FROM wfv
           UNION ALL
           SELECT 'sigmoid', query_id, sha_id, doc_id,
               score + (CASE WHEN fv > 0 THEN 2.0 * (power(fv, 2.0) / (power(fv, 2.0) + 1600.0)) ELSE 0.0 END)
             FROM wfv)
         SELECT fn, query_id, rank, doc_id, round(score, 4) AS score FROM (
           SELECT fn, query_id, doc_id, score,
             row_number() OVER (PARTITION BY fn, query_id
               ORDER BY score DESC, sha_id) AS rank
           FROM boosted)
         WHERE rank <= 10 ORDER BY fn, query_id, rank""",
    "q144_engine_distance_feature" ->
      s"""WITH ti AS (SELECT * FROM (VALUES (0, 'spark'), (0, 'query'),
           (1, 'join'), (1, 'filter')) v(query_id, term)),
         tf AS (SELECT sha_id, min(doc_id) AS doc_id, term, count(*) AS tf
           FROM read_parquet('$stage/q144_toks.parquet/*.parquet')
           GROUP BY sha_id, term),
         dla AS (SELECT sha_id, doc_id, dl
           FROM read_parquet('$stage/q144_docs.parquet/*.parquet')),
         stats AS (SELECT count(*) AS n, sum(dl)::double / count(*) AS avgdl FROM dla),
         dfm AS (SELECT term, count(*) AS df FROM tf
           WHERE term IN (SELECT term FROM ti) GROUP BY 1),
         contrib AS (SELECT ti.query_id, tf.sha_id, tf.doc_id,
             ln(1.0 + (stats.n - dfm.df + 0.5) / (dfm.df + 0.5)) *
               (tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dla.dl / stats.avgdl)))) AS score
           FROM tf JOIN ti ON ti.term = tf.term
             JOIN dfm ON dfm.term = tf.term
             JOIN dla ON dla.sha_id = tf.sha_id
             CROSS JOIN stats),
         docscore AS (SELECT query_id, sha_id, min(doc_id) AS doc_id,
             sum(score) AS score FROM contrib GROUP BY 1, 2),
         boosted AS (SELECT d.query_id, d.sha_id, d.doc_id,
             d.score + 2.5 * 15.0 / (15.0 + abs(dla.dl::double - 60.0)) AS score
           FROM docscore d JOIN dla ON dla.sha_id = d.sha_id)
         SELECT query_id, rank, doc_id, round(score, 4) AS score FROM (
           SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id
               ORDER BY score DESC, sha_id) AS rank
           FROM boosted)
         WHERE rank <= 10 ORDER BY query_id, rank""",
    "q145_engine_terms_lookup" ->
      s"""WITH lt AS (SELECT DISTINCT term
           FROM read_parquet('$stage/q145_toks.parquet/*.parquet')
           WHERE doc_id = 7),
         m AS (SELECT sha_id, min(doc_id) AS doc_id
           FROM read_parquet('$stage/q145_toks.parquet/*.parquet')
           WHERE term IN (SELECT term FROM lt) GROUP BY sha_id)
         SELECT 0 AS query_id, rank, doc_id, 1.0 AS score FROM (
           SELECT doc_id, row_number() OVER (ORDER BY sha_id) AS rank FROM m)
         WHERE rank <= 10 ORDER BY rank""",
    "q146_engine_scripted_metric" ->
      s"""WITH ti AS (SELECT * FROM (VALUES (0, 'spark'), (0, 'query'),
           (1, 'join'), (1, 'filter')) v(query_id, term)),
         matched AS (SELECT DISTINCT ti.query_id, t.sha_id
           FROM read_parquet('$stage/q146_toks.parquet/*.parquet') t
           JOIN ti ON ti.term = t.term),
         dla AS (SELECT sha_id, dl
           FROM read_parquet('$stage/q146_docs.parquet/*.parquet'))
         SELECT m.query_id, CAST(count(*) AS BIGINT) AS doc_count,
           CAST(sum(dla.dl) AS BIGINT) AS sum_dl,
           CAST(max(dla.dl) AS BIGINT) AS max_dl
         FROM matched m JOIN dla ON dla.sha_id = m.sha_id
         GROUP BY 1 ORDER BY 1""",
    "q147_engine_analyze" ->
      s"""SELECT term AS token, CAST(count(*) AS BIGINT) AS n
         FROM read_parquet('$stage/q147_toks.parquet/*.parquet')
         WHERE doc_id = 7 GROUP BY 1 ORDER BY 1""",
    // full independent replay of the stopword analysis chain: stop filter
    // applied to the BARE staged tokens on BOTH the doc and the query
    // side, dl/avgdl/N recomputed over the filtered universe, BM25
    // re-derived from scratch
    "q167_engine_stop_chain" ->
      s"""WITH stop(term) AS (VALUES ('a'), ('data'), ('the')),
         toks AS (SELECT sha_id, doc_id, term
           FROM read_parquet('$stage/q167_toks.parquet/*.parquet')
           WHERE term NOT IN (SELECT term FROM stop)),
         docs AS (SELECT sha_id
           FROM read_parquet('$stage/q167_docs.parquet/*.parquet')),
         fdl AS (SELECT docs.sha_id, COALESCE(c.n, 0) AS dl FROM docs
           LEFT JOIN (SELECT sha_id, count(*) AS n FROM toks GROUP BY 1) c
           USING (sha_id)),
         stats AS (SELECT count(*) AS n, sum(dl)::double / count(*) AS avgdl
           FROM fdl),
         tf AS (SELECT sha_id, min(doc_id) AS doc_id, term, count(*) AS tf
           FROM toks GROUP BY sha_id, term),
         q AS (SELECT * FROM (VALUES (0, 'the'), (0, 'spark'), (0, 'query'),
             (0, 'join'),
             (1, 'a'), (1, 'filter'), (1, 'group'), (1, 'sort'),
             (2, 'data'), (2, 'stream'), (2, 'batch'), (2, 'window'))
           v(query_id, term)
           WHERE term NOT IN (SELECT term FROM stop)),
         dfq AS (SELECT term, count(*) AS df FROM tf
           WHERE term IN (SELECT term FROM q) GROUP BY 1),
         scored AS (
           SELECT q.query_id, tf.sha_id, min(tf.doc_id) AS doc_id,
             sum(ln(1.0 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5)) *
                 (tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (fdl.dl / stats.avgdl))))) AS score
           FROM tf JOIN q ON q.term = tf.term
             JOIN dfq ON dfq.term = tf.term
             JOIN fdl ON fdl.sha_id = tf.sha_id
             CROSS JOIN stats
           GROUP BY 1, 2)
         SELECT query_id, rank, doc_id, round(score, 4) AS score FROM (
           SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, sha_id) AS rank
           FROM scored)
         WHERE rank <= 10 ORDER BY query_id, rank""",
    // stop + porter_stem chain: doc-side stems come from the staged
    // (term → stem) map (Porter itself is pinned by PorterSpec against
    // the official vocabulary); the query-side chain output is
    // hand-pinned as SQL literals (queries/query → queri, joined → join,
    // sparked → spark, filtering → filter, groups → group); everything
    // downstream — conflation, df/dl/avgdl over stems, BM25, ranking —
    // is recomputed here
    "q168_engine_stem_chain" ->
      s"""WITH stop(term) AS (VALUES ('a'), ('data'), ('the')),
         stems AS (SELECT term, stem
           FROM read_parquet('$stage/q168_stems.parquet/*.parquet')),
         toks AS (SELECT t.sha_id, t.doc_id, s.stem AS term
           FROM read_parquet('$stage/q168_toks.parquet/*.parquet') t
           JOIN stems s USING (term)
           WHERE t.term NOT IN (SELECT term FROM stop)),
         docs AS (SELECT sha_id
           FROM read_parquet('$stage/q168_docs.parquet/*.parquet')),
         fdl AS (SELECT docs.sha_id, COALESCE(c.n, 0) AS dl FROM docs
           LEFT JOIN (SELECT sha_id, count(*) AS n FROM toks GROUP BY 1) c
           USING (sha_id)),
         stats AS (SELECT count(*) AS n, sum(dl)::double / count(*) AS avgdl
           FROM fdl),
         tf AS (SELECT sha_id, min(doc_id) AS doc_id, term, count(*) AS tf
           FROM toks GROUP BY sha_id, term),
         q AS (SELECT * FROM (VALUES (0, 'queri'), (0, 'join'),
             (1, 'spark'), (1, 'filter'), (1, 'group')) v(query_id, term)),
         dfq AS (SELECT term, count(*) AS df FROM tf
           WHERE term IN (SELECT term FROM q) GROUP BY 1),
         scored AS (
           SELECT q.query_id, tf.sha_id, min(tf.doc_id) AS doc_id,
             sum(ln(1.0 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5)) *
                 (tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (fdl.dl / stats.avgdl))))) AS score
           FROM tf JOIN q ON q.term = tf.term
             JOIN dfq ON dfq.term = tf.term
             JOIN fdl ON fdl.sha_id = tf.sha_id
             CROSS JOIN stats
           GROUP BY 1, 2)
         SELECT query_id, rank, doc_id, round(score, 4) AS score FROM (
           SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, sha_id) AS rank
           FROM scored)
         WHERE rank <= 10 ORDER BY query_id, rank""",
    "q148_engine_span_multi" ->
      s"""WITH toks AS (SELECT sha_id, doc_id, pos, term
           FROM read_parquet('$stage/q148_toks.parquet/*.parquet')),
         tf AS (SELECT sha_id, min(doc_id) AS doc_id, term, count(*) AS tf
           FROM toks GROUP BY sha_id, term),
         dl AS (SELECT sha_id, dl
           FROM read_parquet('$stage/q148_docs.parquet/*.parquet')),
         stats AS (SELECT count(*) AS n, sum(dl)::double / count(*) AS avgdl FROM dl),
         exp AS (SELECT term FROM (SELECT DISTINCT term FROM toks
           WHERE term LIKE 'q%') ORDER BY term LIMIT 8),
         q AS (SELECT 0 AS query_id, 'spark' AS term
           UNION ALL SELECT 0, term FROM exp
           UNION ALL SELECT 1, term FROM exp),
         dfq AS (SELECT term, count(*) AS df FROM tf
           WHERE term IN (SELECT term FROM q) GROUP BY 1),
         ph AS (
           SELECT DISTINCT 0 AS query_id, a.sha_id FROM toks a
             JOIN toks b ON b.sha_id = a.sha_id
               AND b.pos > a.pos AND b.pos - a.pos <= 4
             WHERE a.term = 'spark' AND b.term IN (SELECT term FROM exp)
           UNION
           SELECT DISTINCT 1 AS query_id, sha_id FROM toks
             WHERE term IN (SELECT term FROM exp)),
         scored AS (
           SELECT q.query_id, tf.sha_id, min(tf.doc_id) AS doc_id,
             sum(ln(1.0 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5)) *
                 (tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl))))) AS score
           FROM tf JOIN q ON q.term = tf.term
             JOIN dfq ON dfq.term = tf.term
             JOIN dl ON dl.sha_id = tf.sha_id
             JOIN ph ON ph.query_id = q.query_id AND ph.sha_id = tf.sha_id
             CROSS JOIN stats
           GROUP BY 1, 2)
         SELECT query_id, rank, doc_id, round(score, 4) AS score FROM (
           SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, sha_id) AS rank
           FROM scored)
         WHERE rank <= 10 ORDER BY query_id, rank""",
    "q149_engine_indices_boost" ->
      s"""WITH toks AS (
           SELECT 'a' AS idx, sha_id, term
             FROM read_parquet('$stage/q149a_toks.parquet/*.parquet')
           UNION ALL
           SELECT 'b', sha_id, term
             FROM read_parquet('$stage/q149b_toks.parquet/*.parquet')),
         tf AS (SELECT idx, sha_id, term, count(*) AS tf
           FROM toks GROUP BY 1, 2, 3),
         dl AS (
           SELECT 'a' AS idx, sha_id, dl
             FROM read_parquet('$stage/q149a_docs.parquet/*.parquet')
           UNION ALL
           SELECT 'b', sha_id, dl
             FROM read_parquet('$stage/q149b_docs.parquet/*.parquet')),
         stats AS (SELECT idx, count(*) AS n, sum(dl)::double / count(*) AS avgdl
           FROM dl GROUP BY 1),
         q AS (SELECT * FROM (VALUES (0, 'join'), (0, 'query'), (0, 'spark'),
           (1, 'filter'), (1, 'group'), (1, 'sort')) v(query_id, term)),
         dfq AS (SELECT idx, term, count(*) AS df FROM tf
           WHERE term IN (SELECT term FROM q) GROUP BY 1, 2),
         scored AS (
           SELECT tf.idx, q.query_id, tf.sha_id,
             sum(ln(1.0 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5)) *
                 (tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl))))) AS score
           FROM tf JOIN q ON q.term = tf.term
             JOIN dfq ON dfq.term = tf.term AND dfq.idx = tf.idx
             JOIN dl ON dl.sha_id = tf.sha_id AND dl.idx = tf.idx
             JOIN stats ON stats.idx = tf.idx
           GROUP BY 1, 2, 3),
         -- per-index cut on the UNBOOSTED score (the boost applies after
         -- each index's own top-k; a positive constant preserves the set)
         peridx AS (SELECT idx, query_id, sha_id,
             score * (CASE idx WHEN 'a' THEN 2.0 ELSE 0.5 END) AS score
           FROM (
           SELECT idx, query_id, sha_id, score,
             row_number() OVER (PARTITION BY idx, query_id
               ORDER BY score DESC, sha_id) AS rn
           FROM scored) WHERE rn <= 10)
         SELECT query_id, rank, idx, doc_id, round(score, 4) AS score FROM (
           SELECT query_id, idx, sha_id AS doc_id, score,
             row_number() OVER (PARTITION BY query_id
               ORDER BY score DESC, idx, sha_id) AS rank
           FROM peridx)
         WHERE rank <= 10 ORDER BY query_id, rank""",
    "q150_engine_exists" ->
      s"""WITH toks AS (SELECT sha_id, doc_id, term
           FROM read_parquet('$stage/q150_toks.parquet/*.parquet')),
         tf AS (SELECT sha_id, min(doc_id) AS doc_id, term, count(*) AS tf
           FROM toks GROUP BY sha_id, term),
         dl AS (SELECT sha_id, lang, dl
           FROM read_parquet('$stage/q150_docs.parquet/*.parquet')),
         stats AS (SELECT count(*) AS n, sum(dl)::double / count(*) AS avgdl FROM dl),
         q AS (SELECT * FROM (VALUES (0, 'spark'), (0, 'query'), (0, 'join'),
           (1, 'spark'), (1, 'query'), (1, 'join')) v(query_id, term)),
         dfq AS (SELECT term, count(*) AS df FROM tf
           WHERE term IN (SELECT term FROM q) GROUP BY 1),
         scored AS (
           SELECT q.query_id, tf.sha_id, min(tf.doc_id) AS doc_id,
             sum(ln(1.0 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5)) *
                 (tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl))))) AS score
           FROM tf JOIN q ON q.term = tf.term
             JOIN dfq ON dfq.term = tf.term
             JOIN dl ON dl.sha_id = tf.sha_id
             CROSS JOIN stats
           WHERE (q.query_id = 0 AND dl.lang IS NOT NULL)
              OR (q.query_id = 1 AND dl.lang IS NULL)
           GROUP BY 1, 2)
         SELECT query_id, rank, doc_id, round(score, 4) AS score FROM (
           SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, sha_id) AS rank
           FROM scored)
         WHERE rank <= 10 ORDER BY query_id, rank""",
    "q151_engine_ids" ->
      s"""WITH dl AS (SELECT sha_id, doc_id
           FROM read_parquet('$stage/q151_docs.parquet/*.parquet')),
         req AS (SELECT * FROM (VALUES (0, 10), (0, 20), (0, 30),
           (1, 11), (1, 21)) v(query_id, p))
         SELECT query_id, rank, doc_id, CAST(1.5 AS DOUBLE) AS score FROM (
           SELECT req.query_id, dl.doc_id,
             row_number() OVER (PARTITION BY req.query_id
               ORDER BY dl.sha_id) AS rank
           FROM req JOIN dl ON dl.doc_id = req.p)
         WHERE rank <= 10 ORDER BY query_id, rank""",
    "q152_engine_match_bool_prefix" ->
      s"""WITH toks AS (SELECT sha_id, doc_id, term
           FROM read_parquet('$stage/q152_toks.parquet/*.parquet')),
         tf AS (SELECT sha_id, min(doc_id) AS doc_id, term, count(*) AS tf
           FROM toks GROUP BY sha_id, term),
         dl AS (SELECT sha_id, dl
           FROM read_parquet('$stage/q152_docs.parquet/*.parquet')),
         stats AS (SELECT count(*) AS n, sum(dl)::double / count(*) AS avgdl FROM dl),
         exp0 AS (SELECT term FROM (SELECT DISTINCT term FROM tf WHERE term LIKE 'qu%')
           ORDER BY term LIMIT 6),
         exp1 AS (SELECT term FROM (SELECT DISTINCT term FROM tf WHERE term LIKE 'so%')
           ORDER BY term LIMIT 6),
         q AS (SELECT DISTINCT query_id, term FROM (
           SELECT 0 AS query_id, term FROM exp0
           UNION ALL SELECT 0 AS query_id, 'spark' AS term
           UNION ALL SELECT 1 AS query_id, term FROM exp1
           UNION ALL SELECT 1 AS query_id, 'filter' AS term
           UNION ALL SELECT 1 AS query_id, 'group' AS term)),
         dfq AS (SELECT term, count(*) AS df FROM tf
           WHERE term IN (SELECT term FROM q) GROUP BY 1),
         scored AS (
           SELECT q.query_id, tf.sha_id, min(tf.doc_id) AS doc_id,
             sum(ln(1.0 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5)) *
                 (tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl))))) AS score
           FROM tf JOIN q ON q.term = tf.term
             JOIN dfq ON dfq.term = tf.term
             JOIN dl ON dl.sha_id = tf.sha_id
             CROSS JOIN stats
           GROUP BY 1, 2)
         SELECT query_id, rank, doc_id, round(score, 4) AS score FROM (
           SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, sha_id) AS rank
           FROM scored)
         WHERE rank <= 10 ORDER BY query_id, rank""",
    "q153_engine_intervals" ->
      s"""WITH toks AS (SELECT sha_id, doc_id, pos, term
           FROM read_parquet('$stage/q153_toks.parquet/*.parquet')),
         tf AS (SELECT sha_id, min(doc_id) AS doc_id, term, count(*) AS tf
           FROM toks GROUP BY sha_id, term),
         dl AS (SELECT sha_id, dl
           FROM read_parquet('$stage/q153_docs.parquet/*.parquet')),
         stats AS (SELECT count(*) AS n, sum(dl)::double / count(*) AS avgdl FROM dl),
         q AS (SELECT * FROM (VALUES (0, 'query'), (0, 'spark'),
           (1, 'filter'), (1, 'merge'), (1, 'sort'),
           (2, 'hash'), (2, 'join'), (2, 'merge'),
           (3, 'join'), (3, 'spark')) v(query_id, term)),
         dfq AS (SELECT term, count(*) AS df FROM tf
           WHERE term IN (SELECT term FROM q) GROUP BY 1),
         ph AS (
           -- q0: match(spark query, max_gaps=3, unordered): either
           -- order, window gap = |diff| - 1 <= 3
           SELECT DISTINCT 0 AS query_id, a.sha_id FROM toks a
             JOIN toks b ON b.sha_id = a.sha_id
               AND abs(b.pos - a.pos) - 1 <= 3
             WHERE a.term = 'spark' AND b.term = 'query'
           UNION
           -- q1: all_of(unordered, max_gaps=5) of the ordered pair
           -- (merge sort | gaps<=2) and the term filter: combined
           -- window width minus summed sub-widths <= 5
           SELECT DISTINCT 1 AS query_id, a.sha_id FROM toks a
             JOIN toks b ON b.sha_id = a.sha_id
               AND b.pos > a.pos AND b.pos - a.pos - 1 <= 2
             JOIN toks c ON c.sha_id = a.sha_id
             WHERE a.term = 'merge' AND b.term = 'sort' AND c.term = 'filter'
               AND greatest(b.pos + 1, c.pos + 1) - least(a.pos, c.pos)
                   - (b.pos + 1 - a.pos) - 1 <= 5
           UNION
           -- q2: any_of of two ordered adjacent-ish pairs (gaps<=1)
           SELECT DISTINCT 2 AS query_id, a.sha_id FROM toks a
             JOIN toks b ON b.sha_id = a.sha_id
               AND b.pos > a.pos AND b.pos - a.pos - 1 <= 1
             WHERE (a.term = 'hash' OR a.term = 'merge') AND b.term = 'join'
           UNION
           -- q3: not_containing: an ordered (spark join | gaps<=4)
           -- window with no query term inside it
           SELECT DISTINCT 3 AS query_id, a.sha_id FROM toks a
             JOIN toks b ON b.sha_id = a.sha_id
               AND b.pos > a.pos AND b.pos - a.pos - 1 <= 4
             WHERE a.term = 'spark' AND b.term = 'join'
               AND NOT EXISTS (SELECT 1 FROM toks c
                 WHERE c.sha_id = a.sha_id AND c.term = 'query'
                   AND c.pos BETWEEN a.pos AND b.pos)),
         scored AS (
           SELECT q.query_id, tf.sha_id, min(tf.doc_id) AS doc_id,
             sum(ln(1.0 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5)) *
                 (tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl))))) AS score
           FROM tf JOIN q ON q.term = tf.term
             JOIN dfq ON dfq.term = tf.term
             JOIN dl ON dl.sha_id = tf.sha_id
             JOIN ph ON ph.query_id = q.query_id AND ph.sha_id = tf.sha_id
             CROSS JOIN stats
           GROUP BY 1, 2)
         SELECT query_id, rank, doc_id, round(score, 4) AS score FROM (
           SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, sha_id) AS rank
           FROM scored)
         WHERE rank <= 10 ORDER BY query_id, rank""",
    "q154_engine_simple_qs" ->
      s"""WITH toks AS (SELECT sha_id, doc_id, pos, term
           FROM read_parquet('$stage/q154_toks.parquet/*.parquet')),
         tf AS (SELECT sha_id, min(doc_id) AS doc_id, term, count(*) AS tf
           FROM toks GROUP BY sha_id, term),
         dl AS (SELECT sha_id, dl
           FROM read_parquet('$stage/q154_docs.parquet/*.parquet')),
         stats AS (SELECT count(*) AS n, sum(dl)::double / count(*) AS avgdl FROM dl),
         -- scan* expanded against the dictionary: first 6 ascending
         exp1 AS (SELECT term FROM (SELECT DISTINCT term FROM tf
           WHERE term LIKE 'scan%') ORDER BY term LIMIT 6),
         q AS (SELECT DISTINCT query_id, term FROM (
           SELECT 0 AS query_id, 'spark' AS term
           UNION ALL SELECT 0, 'query'
           UNION ALL SELECT 1, 'merge'
           UNION ALL SELECT 1, 'sort'
           UNION ALL SELECT 1, term FROM exp1
           UNION ALL SELECT 2, 'filter'
           UNION ALL SELECT 3, 'group'
           UNION ALL SELECT 3, 'sort')),
         dfq AS (SELECT term, count(*) AS df FROM tf
           WHERE term IN (SELECT term FROM q) GROUP BY 1),
         ph AS (
           -- q0: spark AND query
           SELECT DISTINCT 0 AS query_id, a.sha_id FROM tf a
             JOIN tf b ON b.sha_id = a.sha_id
             WHERE a.term = 'spark' AND b.term = 'query'
           UNION
           -- q1: adjacent "merge sort" OR any scan* expansion present
           SELECT DISTINCT 1 AS query_id, a.sha_id FROM toks a
             JOIN toks b ON b.sha_id = a.sha_id AND b.pos = a.pos + 1
             WHERE a.term = 'merge' AND b.term = 'sort'
           UNION
           SELECT DISTINCT 1 AS query_id, sha_id FROM tf
             WHERE term IN (SELECT term FROM exp1)
           UNION
           -- q2: filter AND NOT join (doc-level exclusion)
           SELECT DISTINCT 2 AS query_id, a.sha_id FROM tf a
             WHERE a.term = 'filter' AND NOT EXISTS (SELECT 1 FROM tf j
               WHERE j.sha_id = a.sha_id AND j.term = 'join')
           UNION
           -- q3: group OR sort (default operator)
           SELECT DISTINCT 3 AS query_id, sha_id FROM tf
             WHERE term IN ('group', 'sort')),
         scored AS (
           SELECT q.query_id, tf.sha_id, min(tf.doc_id) AS doc_id,
             sum(ln(1.0 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5)) *
                 (tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl))))) AS score
           FROM tf JOIN q ON q.term = tf.term
             JOIN dfq ON dfq.term = tf.term
             JOIN dl ON dl.sha_id = tf.sha_id
             JOIN ph ON ph.query_id = q.query_id AND ph.sha_id = tf.sha_id
             CROSS JOIN stats
           GROUP BY 1, 2)
         SELECT query_id, rank, doc_id, round(score, 4) AS score FROM (
           SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, sha_id) AS rank
           FROM scored)
         WHERE rank <= 10 ORDER BY query_id, rank""",
    "q155_engine_boxplot" ->
      s"""WITH toks AS (SELECT DISTINCT sha_id, term
           FROM read_parquet('$stage/q155_toks.parquet/*.parquet')),
         docs AS (SELECT sha_id, dl
           FROM read_parquet('$stage/q155_docs.parquet/*.parquet')),
         q AS (SELECT * FROM (VALUES (0, 'join'), (0, 'query'), (0, 'spark'),
           (1, 'dup'), (1, 'stream'), (2, 'zzznosuchterm')) v(query_id, term)),
         m AS (SELECT DISTINCT q.query_id, toks.sha_id
           FROM toks JOIN q ON q.term = toks.term),
         sel AS (SELECT m.query_id, d.dl::double AS v
           FROM m JOIN docs d ON d.sha_id = m.sha_id),
         agg AS (SELECT query_id, count(*) AS n,
             min(v) AS mn, max(v) AS mx,
             quantile_cont(v, 0.25) AS q1, quantile_cont(v, 0.5) AS q2,
             quantile_cont(v, 0.75) AS q3
           FROM sel GROUP BY 1),
         wh AS (SELECT s.query_id, min(s.v) AS lo, max(s.v) AS hi
           FROM sel s JOIN agg a ON a.query_id = s.query_id
           WHERE s.v >= a.q1 - 1.5 * (a.q3 - a.q1)
             AND s.v <= a.q3 + 1.5 * (a.q3 - a.q1)
           GROUP BY 1),
         allq AS (SELECT DISTINCT query_id FROM q)
         SELECT allq.query_id, coalesce(agg.n, 0) AS doc_count,
           CAST(agg.mn AS BIGINT) AS min_dl,
           round(agg.q1, 4) AS q1, round(agg.q2, 4) AS q2,
           round(agg.q3, 4) AS q3,
           CAST(agg.mx AS BIGINT) AS max_dl,
           CAST(wh.lo AS BIGINT) AS lower_w,
           CAST(wh.hi AS BIGINT) AS upper_w
         FROM allq LEFT JOIN agg ON agg.query_id = allq.query_id
           LEFT JOIN wh ON wh.query_id = allq.query_id
         ORDER BY allq.query_id""",
    "q156_engine_t_test" ->
      s"""WITH toks AS (SELECT DISTINCT sha_id, term
           FROM read_parquet('$stage/q156_toks.parquet/*.parquet')),
         docs AS (SELECT sha_id, lang, dl
           FROM read_parquet('$stage/q156_docs.parquet/*.parquet')),
         q AS (SELECT * FROM (VALUES (0, 'join'), (0, 'query'), (0, 'spark'),
           (1, 'dup'), (1, 'stream')) v(query_id, term)),
         m AS (SELECT DISTINCT q.query_id, toks.sha_id
           FROM toks JOIN q ON q.term = toks.term),
         sel AS (SELECT m.query_id, d.dl::double AS v, d.lang = 'en' AS in_a
           FROM m JOIN docs d ON d.sha_id = m.sha_id),
         sides AS (SELECT query_id,
             count(CASE WHEN in_a THEN v END) AS n_a,
             count(CASE WHEN NOT in_a THEN v END) AS n_b,
             avg(CASE WHEN in_a THEN v END) AS m_a,
             avg(CASE WHEN NOT in_a THEN v END) AS m_b,
             var_samp(CASE WHEN in_a THEN v END) AS s2_a,
             var_samp(CASE WHEN NOT in_a THEN v END) AS s2_b
           FROM sel GROUP BY 1),
         welch AS (SELECT query_id, 'welch' AS mode, n_a, n_b,
             (m_a - m_b) / sqrt(s2_a / n_a + s2_b / n_b) AS t_stat,
             pow(s2_a / n_a + s2_b / n_b, 2) /
               (s2_a * s2_a / (n_a::double * n_a * (n_a - 1)) +
                s2_b * s2_b / (n_b::double * n_b * (n_b - 1))) AS df
           FROM sides),
         pooled AS (SELECT query_id, 'pooled' AS mode, n_a, n_b,
             (m_a - m_b) / sqrt(((n_a - 1) * s2_a + (n_b - 1) * s2_b)
               / (n_a + n_b - 2) * (1.0 / n_a + 1.0 / n_b)) AS t_stat,
             (n_a + n_b - 2)::double AS df
           FROM sides WHERE query_id = 0)
         SELECT query_id, mode, n_a, n_b, round(t_stat, 4) AS t_stat,
           round(df, 4) AS df
         FROM (SELECT * FROM welch UNION ALL SELECT * FROM pooled)
         ORDER BY query_id, mode""",
    "q157_hybrid_minmax" ->
      s"""WITH toks AS (SELECT sha_id, doc_id, term
           FROM read_parquet('$stage/q157_toks.parquet/*.parquet')),
         ids AS (SELECT DISTINCT sha_id, doc_id FROM toks),
         tf AS (SELECT sha_id, term, count(*) AS tf
           FROM toks GROUP BY sha_id, term),
         dl AS (SELECT sha_id, dl
           FROM read_parquet('$stage/q157_docs.parquet/*.parquet')),
         stats AS (SELECT count(*) AS n, sum(dl)::double / count(*) AS avgdl FROM dl),
         q AS (SELECT * FROM (VALUES (0, 'join'), (0, 'query'), (0, 'spark'),
           (1, 'filter'), (1, 'group'), (1, 'sort')) v(query_id, term)),
         dfq AS (SELECT term, count(*) AS df FROM tf
           WHERE term IN (SELECT term FROM q) GROUP BY 1),
         scored AS (
           SELECT q.query_id, tf.sha_id,
             sum(ln(1.0 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5)) *
                 (tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl))))) AS score
           FROM tf JOIN q ON q.term = tf.term
             JOIN dfq ON dfq.term = tf.term
             JOIN dl ON dl.sha_id = tf.sha_id
             CROSS JOIN stats
           GROUP BY 1, 2),
         lex AS (SELECT query_id, doc_id, score FROM (
           SELECT s.query_id, ids.doc_id, s.score,
             row_number() OVER (PARTITION BY s.query_id
               ORDER BY s.score DESC, s.sha_id) AS rank
           FROM scored s JOIN ids ON ids.sha_id = s.sha_id)
           WHERE rank <= 20),
         sem AS (SELECT query_id, doc_id, score FROM (
           SELECT eq.vec_id AS query_id, ec.vec_id AS doc_id,
             round(list_cosine_similarity(eq.embedding::DOUBLE[], ec.embedding::DOUBLE[]), 6) AS score,
             row_number() OVER (PARTITION BY eq.vec_id
               ORDER BY list_cosine_similarity(eq.embedding::DOUBLE[], ec.embedding::DOUBLE[]) DESC,
                 ec.vec_id) AS rank
           FROM embeddings eq JOIN embeddings ec ON eq.vec_id <> ec.vec_id
           WHERE eq.vec_id IN (0, 1))
           WHERE rank <= 20),
         nlex AS (SELECT query_id, doc_id,
             CASE WHEN max(score) OVER (PARTITION BY query_id)
                     = min(score) OVER (PARTITION BY query_id) THEN 1.0
               ELSE (score - min(score) OVER (PARTITION BY query_id)) /
                 (max(score) OVER (PARTITION BY query_id)
                  - min(score) OVER (PARTITION BY query_id)) END AS ns
           FROM lex),
         nsem AS (SELECT query_id, doc_id,
             CASE WHEN max(score) OVER (PARTITION BY query_id)
                     = min(score) OVER (PARTITION BY query_id) THEN 1.0
               ELSE (score - min(score) OVER (PARTITION BY query_id)) /
                 (max(score) OVER (PARTITION BY query_id)
                  - min(score) OVER (PARTITION BY query_id)) END AS ns
           FROM sem),
         fused AS (SELECT query_id, doc_id, sum(ws) / 1.0 AS hybrid
           FROM (SELECT query_id, doc_id, ns * 0.7 AS ws FROM nlex
             UNION ALL SELECT query_id, doc_id, ns * 0.3 AS ws FROM nsem)
           GROUP BY 1, 2)
         SELECT query_id, rank, doc_id, round(hybrid, 6) AS hybrid_score FROM (
           SELECT query_id, doc_id, hybrid,
             row_number() OVER (PARTITION BY query_id ORDER BY hybrid DESC, doc_id) AS rank
           FROM fused)
         WHERE rank <= 10 ORDER BY query_id, rank""",
    "q158_engine_scroll" ->
      s"""WITH toks AS (SELECT sha_id, doc_id, term
           FROM read_parquet('$stage/q158_toks.parquet/*.parquet')),
         tf AS (SELECT sha_id, min(doc_id) AS doc_id, term, count(*) AS tf
           FROM toks GROUP BY sha_id, term),
         dl AS (SELECT sha_id, dl
           FROM read_parquet('$stage/q158_docs.parquet/*.parquet')),
         addr AS (SELECT sha_id, shard, ord
           FROM read_parquet('$stage/q158_addr.parquet/*.parquet')),
         stats AS (SELECT count(*) AS n, sum(dl)::double / count(*) AS avgdl FROM dl),
         q AS (SELECT * FROM (VALUES (0, 'dup'), (0, 'stream'),
           (1, 'vector'), (1, 'hash')) v(query_id, term)),
         dfq AS (SELECT term, count(*) AS df FROM tf
           WHERE term IN (SELECT term FROM q) GROUP BY 1),
         scored AS (
           SELECT q.query_id, tf.sha_id, min(tf.doc_id) AS doc_id,
             sum(ln(1.0 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5)) *
                 (tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl))))) AS score
           FROM tf JOIN q ON q.term = tf.term
             JOIN dfq ON dfq.term = tf.term
             JOIN dl ON dl.sha_id = tf.sha_id
             CROSS JOIN stats
           GROUP BY 1, 2)
         SELECT query_id, (rank - 1) // 25 + 1 AS page, rank,
           doc_id, round(score, 4) AS score FROM (
           SELECT s.query_id, s.doc_id, s.score,
             row_number() OVER (PARTITION BY s.query_id
               ORDER BY s.score DESC, a.shard, a.ord) AS rank
           FROM scored s JOIN addr a ON a.sha_id = s.sha_id)
         ORDER BY query_id, rank""",
    "q159_engine_combined_fields" ->
      s"""WITH qt AS (SELECT * FROM (VALUES (0, 'spark'), (0, 'query'),
           (1, 'join'), (1, 'filter')) v(query_id, term)),
         tft AS (SELECT sha_id, term, count(*) AS tf
           FROM read_parquet('$stage/q159t_toks.parquet/*.parquet')
           GROUP BY sha_id, term),
         tfb AS (SELECT sha_id, min(doc_id) AS doc_id, term, count(*) AS tf
           FROM read_parquet('$stage/q159b_toks.parquet/*.parquet')
           GROUP BY sha_id, term),
         ids AS (SELECT sha_id, min(doc_id) AS doc_id
           FROM read_parquet('$stage/q159b_toks.parquet/*.parquet') GROUP BY 1),
         dlt AS (SELECT sha_id, dl
           FROM read_parquet('$stage/q159t_docs.parquet/*.parquet')),
         dlb AS (SELECT sha_id, dl
           FROM read_parquet('$stage/q159b_docs.parquet/*.parquet')),
         ctf AS (SELECT sha_id, term, sum(wtf) AS ctf FROM (
             SELECT sha_id, term, 2.0 * tf AS wtf FROM tft
             UNION ALL SELECT sha_id, term, 1.0 * tf FROM tfb)
           GROUP BY 1, 2),
         cdl AS (SELECT sha_id, sum(wdl) AS cdl FROM (
             SELECT sha_id, 2.0 * dl AS wdl FROM dlt
             UNION ALL SELECT sha_id, 1.0 * dl FROM dlb)
           GROUP BY 1),
         stats AS (SELECT count(*) AS n, avg(cdl) AS avgdl FROM cdl),
         dfc AS (SELECT term, count(*) AS df FROM ctf
           WHERE term IN (SELECT term FROM qt) GROUP BY 1),
         scored AS (
           SELECT qt.query_id, ctf.sha_id, min(ids.doc_id) AS doc_id,
             sum(ln(1.0 + (stats.n - dfc.df + 0.5) / (dfc.df + 0.5)) *
                 (ctf.ctf * (1.2 + 1.0) / (ctf.ctf + 1.2 * (1.0 - 0.75 + 0.75 * (cdl.cdl / stats.avgdl))))) AS score
           FROM ctf JOIN qt ON qt.term = ctf.term
             JOIN dfc ON dfc.term = ctf.term
             JOIN cdl ON cdl.sha_id = ctf.sha_id
             JOIN ids ON ids.sha_id = ctf.sha_id
             CROSS JOIN stats
           GROUP BY 1, 2)
         SELECT query_id, rank, doc_id, round(score, 4) AS score FROM (
           SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, sha_id) AS rank
           FROM scored)
         WHERE rank <= 10 ORDER BY query_id, rank""",
    "q160_engine_rollover" ->
      s"""WITH toks AS (
           SELECT 'a' AS idx, sha_id, term
             FROM read_parquet('$stage/q160a_toks.parquet/*.parquet')
           UNION ALL
           SELECT 'b', sha_id, term
             FROM read_parquet('$stage/q160b_toks.parquet/*.parquet')),
         tf AS (SELECT idx, sha_id, term, count(*) AS tf
           FROM toks GROUP BY 1, 2, 3),
         dl AS (
           SELECT 'a' AS idx, sha_id, dl
             FROM read_parquet('$stage/q160a_docs.parquet/*.parquet')
           UNION ALL
           SELECT 'b', sha_id, dl
             FROM read_parquet('$stage/q160b_docs.parquet/*.parquet')),
         stats AS (SELECT idx, count(*) AS n, sum(dl)::double / count(*) AS avgdl
           FROM dl GROUP BY 1),
         q AS (SELECT * FROM (VALUES (0, 'join'), (0, 'query'), (0, 'spark'),
           (1, 'filter'), (1, 'group'), (1, 'sort')) v(query_id, term)),
         dfq AS (SELECT idx, term, count(*) AS df FROM tf
           WHERE term IN (SELECT term FROM q) GROUP BY 1, 2),
         scored AS (
           SELECT tf.idx, q.query_id, tf.sha_id,
             sum(ln(1.0 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5)) *
                 (tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl))))) AS score
           FROM tf JOIN q ON q.term = tf.term
             JOIN dfq ON dfq.term = tf.term AND dfq.idx = tf.idx
             JOIN dl ON dl.sha_id = tf.sha_id AND dl.idx = tf.idx
             JOIN stats ON stats.idx = tf.idx
           GROUP BY 1, 2, 3),
         peridx AS (SELECT idx, query_id, sha_id, score FROM (
           SELECT idx, query_id, sha_id, score,
             row_number() OVER (PARTITION BY idx, query_id
               ORDER BY score DESC, sha_id) AS rn
           FROM scored) WHERE rn <= 10)
         SELECT query_id, rank, idx, doc_id, round(score, 4) AS score FROM (
           SELECT query_id, idx, sha_id AS doc_id, score,
             row_number() OVER (PARTITION BY query_id
               ORDER BY score DESC, idx, sha_id) AS rank
           FROM peridx)
         WHERE rank <= 10 ORDER BY query_id, rank""",
    "q161_date_histogram" ->
      """WITH ev AS (SELECT event_type, CAST(ts AS DATE) AS day, value
           FROM events),
         bounds AS (SELECT min(day) AS lo, max(day) AS hi FROM ev),
         spine AS (SELECT CAST(unnest(generate_series(lo, hi,
             INTERVAL 1 DAY)) AS DATE) AS day FROM bounds),
         types AS (SELECT DISTINCT event_type FROM ev),
         counts AS (SELECT event_type, day, count(*) AS doc_count,
             round(sum(value), 4) AS sum_value
           FROM ev GROUP BY 1, 2)
         SELECT t.event_type, CAST(s.day AS VARCHAR) AS day,
           coalesce(c.doc_count, 0) AS doc_count,
           coalesce(c.sum_value, 0.0) AS sum_value
         FROM spine s CROSS JOIN types t
           LEFT JOIN counts c ON c.event_type = t.event_type AND c.day = s.day
         ORDER BY t.event_type, s.day""",
    "q165_engine_bucket_script" ->
      s"""WITH toks AS (SELECT DISTINCT sha_id, term
           FROM read_parquet('$stage/q165_toks.parquet/*.parquet')),
         ids AS (SELECT sha_id, min(doc_id) AS doc_id
           FROM read_parquet('$stage/q165_toks.parquet/*.parquet') GROUP BY 1),
         docs AS (SELECT sha_id, dl
           FROM read_parquet('$stage/q165_docs.parquet/*.parquet')),
         q AS (SELECT * FROM (VALUES (0, 'join'), (0, 'query'), (0, 'spark'),
           (1, 'dup'), (1, 'stream')) v(query_id, term)),
         m AS (SELECT DISTINCT q.query_id, toks.sha_id
           FROM toks JOIN q ON q.term = toks.term),
         c AS (SELECT m.query_id,
             CAST(floor(d.dl / 40.0) AS BIGINT) AS bidx,
             count(*) AS doc_count,
             sum(ids.doc_id::double) AS metric
           FROM m JOIN docs d ON d.sha_id = m.sha_id
             JOIN ids ON ids.sha_id = m.sha_id
           GROUP BY 1, 2),
         spans AS (SELECT query_id, min(bidx) AS lo, max(bidx) AS hi
           FROM c GROUP BY 1),
         filled AS (SELECT s.query_id, u.bidx,
             coalesce(c.doc_count, 0) AS doc_count, c.metric
           FROM spans s
             CROSS JOIN LATERAL (SELECT unnest(generate_series(s.lo, s.hi)) AS bidx) u
             LEFT JOIN c ON c.query_id = s.query_id AND c.bidx = u.bidx)
         SELECT query_id, bidx * 40.0 AS "key", doc_count,
           round(metric, 4) AS metric,
           round(metric / doc_count, 6) AS script
         FROM filled ORDER BY query_id, "key"""",
    "q166_event_rate" ->
      """WITH ev AS (SELECT event_type, CAST(ts AS DATE) AS day, value
           FROM events),
         bounds AS (SELECT min(day) AS lo, max(day) AS hi FROM ev),
         spine AS (SELECT CAST(unnest(generate_series(lo, hi,
             INTERVAL 1 DAY)) AS DATE) AS day FROM bounds),
         types AS (SELECT DISTINCT event_type FROM ev),
         counts AS (SELECT event_type, day, count(*) AS doc_count,
             sum(value) AS sv
           FROM ev GROUP BY 1, 2)
         SELECT t.event_type, CAST(s.day AS VARCHAR) AS day,
           round(coalesce(c.doc_count, 0) / 24.0, 6) AS docs_per_hour,
           round(round(coalesce(c.sv, 0.0), 4) / 24.0, 6) AS value_per_hour
         FROM spine s CROSS JOIN types t
           LEFT JOIN counts c ON c.event_type = t.event_type AND c.day = s.day
         ORDER BY t.event_type, s.day""",
    "q162_engine_normalize" ->
      s"""WITH toks AS (SELECT DISTINCT sha_id, term
           FROM read_parquet('$stage/q162_toks.parquet/*.parquet')),
         docs AS (SELECT sha_id, dl
           FROM read_parquet('$stage/q162_docs.parquet/*.parquet')),
         q AS (SELECT * FROM (VALUES (0, 'join'), (0, 'query'), (0, 'spark'),
           (1, 'dup'), (1, 'stream')) v(query_id, term)),
         m AS (SELECT DISTINCT q.query_id, toks.sha_id
           FROM toks JOIN q ON q.term = toks.term),
         c AS (SELECT m.query_id,
             CAST(floor(d.dl / 40.0) AS BIGINT) AS bidx, count(*) AS doc_count
           FROM m JOIN docs d ON d.sha_id = m.sha_id GROUP BY 1, 2),
         spans AS (SELECT query_id, min(bidx) AS lo, max(bidx) AS hi
           FROM c GROUP BY 1),
         filled AS (SELECT s.query_id, u.bidx,
             coalesce(c.doc_count, 0) AS doc_count
           FROM spans s
             CROSS JOIN LATERAL (SELECT unnest(generate_series(s.lo, s.hi)) AS bidx) u
             LEFT JOIN c ON c.query_id = s.query_id AND c.bidx = u.bidx),
         st AS (SELECT query_id, sum(doc_count)::double AS total,
             min(doc_count)::double AS mn, max(doc_count)::double AS mx,
             avg(doc_count::double) AS mu,
             stddev_pop(doc_count::double) AS sigma
           FROM filled GROUP BY 1),
         nm AS (
           SELECT f.query_id, 'percent_of_sum' AS method, f.bidx, f.doc_count,
             CASE WHEN st.total > 0 THEN f.doc_count / st.total END AS normalized
           FROM filled f JOIN st ON st.query_id = f.query_id
           UNION ALL
           SELECT f.query_id, 'rescale_0_1', f.bidx, f.doc_count,
             CASE WHEN st.mx = st.mn THEN 0.0
               ELSE (f.doc_count - st.mn) / (st.mx - st.mn) END
           FROM filled f JOIN st ON st.query_id = f.query_id
           UNION ALL
           SELECT f.query_id, 'z_score', f.bidx, f.doc_count,
             CASE WHEN st.sigma > 0 THEN (f.doc_count - st.mu) / st.sigma END
           FROM filled f JOIN st ON st.query_id = f.query_id)
         SELECT query_id, method, bidx * 40.0 AS "key", doc_count,
           round(normalized, 6) AS normalized
         FROM nm ORDER BY query_id, method, "key"""",
    "q163_engine_cumulative_card" ->
      s"""WITH toks AS (SELECT DISTINCT sha_id, term
           FROM read_parquet('$stage/q163_toks.parquet/*.parquet')),
         docs AS (SELECT sha_id, lang, dl
           FROM read_parquet('$stage/q163_docs.parquet/*.parquet')),
         q AS (SELECT * FROM (VALUES (0, 'join'), (0, 'query'), (0, 'spark'),
           (1, 'dup'), (1, 'stream')) v(query_id, term)),
         m AS (SELECT DISTINCT q.query_id, toks.sha_id
           FROM toks JOIN q ON q.term = toks.term),
         c AS (SELECT m.query_id,
             CAST(floor(d.dl / 40.0) AS BIGINT) AS bidx, count(*) AS doc_count
           FROM m JOIN docs d ON d.sha_id = m.sha_id GROUP BY 1, 2),
         spans AS (SELECT query_id, min(bidx) AS lo, max(bidx) AS hi
           FROM c GROUP BY 1),
         filled AS (SELECT s.query_id, u.bidx,
             coalesce(c.doc_count, 0) AS doc_count
           FROM spans s
             CROSS JOIN LATERAL (SELECT unnest(generate_series(s.lo, s.hi)) AS bidx) u
             LEFT JOIN c ON c.query_id = s.query_id AND c.bidx = u.bidx),
         fs AS (SELECT query_id, bidx, count(*) AS new_values FROM (
             SELECT m.query_id, d.lang,
               min(CAST(floor(d.dl / 40.0) AS BIGINT)) AS bidx
             FROM m JOIN docs d ON d.sha_id = m.sha_id
             WHERE d.lang IS NOT NULL
             GROUP BY 1, 2)
           GROUP BY 1, 2)
         SELECT f.query_id, f.bidx * 40.0 AS "key", f.doc_count,
           CAST(sum(coalesce(fs.new_values, 0)) OVER (PARTITION BY f.query_id
             ORDER BY f.bidx ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cumulative_cardinality
         FROM filled f LEFT JOIN fs ON fs.query_id = f.query_id AND fs.bidx = f.bidx
         ORDER BY f.query_id, "key"""",
    "q164_engine_query_string" ->
      s"""WITH toks AS (SELECT sha_id, doc_id, pos, term
           FROM read_parquet('$stage/q164_toks.parquet/*.parquet')),
         tf AS (SELECT sha_id, min(doc_id) AS doc_id, term, count(*) AS tf
           FROM toks GROUP BY sha_id, term),
         dl AS (SELECT sha_id, lang, dl
           FROM read_parquet('$stage/q164_docs.parquet/*.parquet')),
         stats AS (SELECT count(*) AS n, sum(dl)::double / count(*) AS avgdl FROM dl),
         exp1 AS (SELECT term FROM (SELECT DISTINCT term FROM tf
           WHERE term LIKE 'scan%') ORDER BY term LIMIT 6),
         q AS (SELECT DISTINCT query_id, term FROM (
           SELECT 0 AS query_id, 'spark' AS term
           UNION ALL SELECT 0, 'query'
           UNION ALL SELECT 1, 'merge'
           UNION ALL SELECT 1, 'sort'
           UNION ALL SELECT 1, term FROM exp1)),
         dfq AS (SELECT term, count(*) AS df FROM tf
           WHERE term IN (SELECT term FROM q) GROUP BY 1),
         ph AS (
           -- q0: spark AND query, filtered lang = 'en'
           SELECT DISTINCT 0 AS query_id, a.sha_id FROM tf a
             JOIN tf b ON b.sha_id = a.sha_id
             JOIN dl d ON d.sha_id = a.sha_id
             WHERE a.term = 'spark' AND b.term = 'query' AND d.lang = 'en'
           UNION
           -- q1: (adjacent "merge sort" OR any scan*), filtered dl range
           SELECT DISTINCT 1 AS query_id, x.sha_id FROM (
             SELECT a.sha_id FROM toks a
               JOIN toks b ON b.sha_id = a.sha_id AND b.pos = a.pos + 1
               WHERE a.term = 'merge' AND b.term = 'sort'
             UNION
             SELECT sha_id FROM tf WHERE term IN (SELECT term FROM exp1)) x
             JOIN dl d ON d.sha_id = x.sha_id
             WHERE d.dl >= 40 AND d.dl <= 200),
         scored AS (
           SELECT q.query_id, tf.sha_id, min(tf.doc_id) AS doc_id,
             sum(ln(1.0 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5)) *
                 (tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / stats.avgdl))))) AS score
           FROM tf JOIN q ON q.term = tf.term
             JOIN dfq ON dfq.term = tf.term
             JOIN dl ON dl.sha_id = tf.sha_id
             JOIN ph ON ph.query_id = q.query_id AND ph.sha_id = tf.sha_id
             CROSS JOIN stats
           GROUP BY 1, 2)
         SELECT query_id, rank, doc_id, round(score, 4) AS score FROM (
           SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, sha_id) AS rank
           FROM scored)
         WHERE rank <= 10 ORDER BY query_id, rank"""
    )
  }

  /** DuckDB oracle for multi_match: BM25 recomputed per FIELD from that
    * field's own staged tokens (each field carries its own N/avgdl/df —
    * the per-index stats the engine scores with), title contributions
    * ×2.0 / body ×1.0, then the per-doc cross-field combine and rank.
    * `combineExpr` is the per-(query_id, sha_id) fold over the unioned
    * field scores. */
  private def multiMatchSql(stage: String, q: String,
                            combineExpr: String): String =
    s"""WITH qt AS (SELECT * FROM (VALUES (0, 'spark'), (0, 'query'),
         (1, 'join'), (1, 'filter')) v(query_id, term)),
       tft AS (SELECT sha_id, min(doc_id) AS doc_id, term, count(*) AS tf
         FROM read_parquet('$stage/${q}t_toks.parquet/*.parquet')
         GROUP BY sha_id, term),
       dlt AS (SELECT sha_id, dl
         FROM read_parquet('$stage/${q}t_docs.parquet/*.parquet')),
       statst AS (SELECT count(*) AS n, sum(dl)::double / count(*) AS avgdl FROM dlt),
       dfqt AS (SELECT term, count(*) AS df FROM tft
         WHERE term IN (SELECT term FROM qt) GROUP BY 1),
       scoredt AS (SELECT qt.query_id, tft.sha_id, min(tft.doc_id) AS doc_id,
           2.0 * sum(ln(1.0 + (statst.n - dfqt.df + 0.5) / (dfqt.df + 0.5)) *
             (tft.tf * (1.2 + 1.0) / (tft.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dlt.dl / statst.avgdl))))) AS score
         FROM tft JOIN qt ON qt.term = tft.term
           JOIN dfqt ON dfqt.term = tft.term
           JOIN dlt ON dlt.sha_id = tft.sha_id
           CROSS JOIN statst
         GROUP BY 1, 2),
       tfb AS (SELECT sha_id, min(doc_id) AS doc_id, term, count(*) AS tf
         FROM read_parquet('$stage/${q}b_toks.parquet/*.parquet')
         GROUP BY sha_id, term),
       dlb AS (SELECT sha_id, dl
         FROM read_parquet('$stage/${q}b_docs.parquet/*.parquet')),
       statsb AS (SELECT count(*) AS n, sum(dl)::double / count(*) AS avgdl FROM dlb),
       dfqb AS (SELECT term, count(*) AS df FROM tfb
         WHERE term IN (SELECT term FROM qt) GROUP BY 1),
       scoredb AS (SELECT qt.query_id, tfb.sha_id, min(tfb.doc_id) AS doc_id,
           1.0 * sum(ln(1.0 + (statsb.n - dfqb.df + 0.5) / (dfqb.df + 0.5)) *
             (tfb.tf * (1.2 + 1.0) / (tfb.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dlb.dl / statsb.avgdl))))) AS score
         FROM tfb JOIN qt ON qt.term = tfb.term
           JOIN dfqb ON dfqb.term = tfb.term
           JOIN dlb ON dlb.sha_id = tfb.sha_id
           CROSS JOIN statsb
         GROUP BY 1, 2),
       u AS (SELECT * FROM scoredt UNION ALL SELECT * FROM scoredb),
       combined AS (SELECT query_id, sha_id, min(doc_id) AS doc_id,
           $combineExpr AS score
         FROM u GROUP BY 1, 2)
       SELECT query_id, rank, doc_id, round(score, 4) AS score FROM (
         SELECT query_id, doc_id, score,
           row_number() OVER (PARTITION BY query_id ORDER BY score DESC, sha_id) AS rank
         FROM combined)
       WHERE rank <= 10 ORDER BY query_id, rank"""
}
