package graft.search

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.analyze.AnalyzerConfig
import graft.corpus.CorpusGen
import graft.index.{BuildConfig, IndexBuilder}

/** Cross-analyzer golden/WAND identity: an index built with a configured
  * analysis chain (stopwords + Porter) must stay rank- AND bit-identical
  * to the exact scorer analyzing with the SAME chain, across build,
  * append (sticky chain), and phrase queries (positions assigned after
  * the stop filter). */
class AnalyzerEngineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val chain = AnalyzerConfig(
    stopwords = Set("def", "val", "import", "return", "the"),
    stem = true)

  private def docsOf(corpus: org.apache.spark.sql.Dataset[graft.corpus.SourceFile]) =
    corpus.toDF().filter(!IndexBuilder.isBadRow)
      .select(IndexBuilder.docIdCol.as("doc_id"), col("content"))

  private def assertIdentical(golden: org.apache.spark.sql.DataFrame,
                              fast: org.apache.spark.sql.DataFrame): Unit = {
    val g = golden.withColumnRenamed("doc_id", "g_doc").withColumnRenamed("score", "g_score")
    val f = fast.select("query_id", "rank", "doc_id", "score")
      .withColumnRenamed("doc_id", "f_doc").withColumnRenamed("score", "f_score")
    val cmp = g.join(f, Seq("query_id", "rank"), "full_outer")
    assert(cmp.filter($"g_doc".isNull || $"f_doc".isNull ||
      $"g_doc" =!= $"f_doc" || $"g_score" =!= $"f_score").count() == 0)
    assert(g.count() > 0)
  }

  test("stemmed+stopworded index: golden and WAND bit-identical; manifest sticky") {
    val dir = TestSpark.tempDir("graft-analyzer-idx")
    val all = CorpusGen.corpus(spark, 700L, seed = 55L).cache()
    val base = all.filter(pmod(xxhash64($"path"), lit(2)) === 0)
    val extra = all.filter(pmod(xxhash64($"path"), lit(2)) === 1)
    // queries carry stopwords and inflected forms so the chain matters
    val queries = Seq(
      graft.corpus.RefQuery(0, "the query joining"),
      graft.corpus.RefQuery(1, "partitions streamed"),
      graft.corpus.RefQuery(2, "def filter sorted"))

    val snap = IndexBuilder.build(spark, base, dir,
      BuildConfig(numShards = 4, commitEvery = 2, heavyThreshold = 200,
        saltBuckets = 4, positions = true, analyzer = chain))
    assert(snap.analyzer == chain.spec) // recorded in the manifest
    assert(Wand.analyzerOf(snap) == chain)

    // the chain actually changed the index: a stopword is absent from
    // the dictionary, a stem is present
    val dict = spark.read.parquet(snap.termstatsDir).select("term")
    assert(dict.filter($"term" === "def").isEmpty)

    assertIdentical(
      Golden.topK(spark, docsOf(base), queries, 5, analyzer = chain),
      Wand.searchSnapshot(spark, snap, queries, 5))

    // harness replay picks the chain up from the snapshot by itself
    val cmp = graft.compare.Harness.replay(spark, snap, base.toDF(), queries, 5)
    val stats = graft.compare.Harness.correctness(cmp)
    assert(stats.total > 0 && stats.identical == stats.total)

    // append follows the SNAPSHOT's chain (cfg.analyzer deliberately
    // default here), stays bit-identical over the union
    val snap2 = IndexBuilder.append(spark, extra, dir)
    assert(snap2.analyzer == chain.spec)
    assertIdentical(
      Golden.topK(spark, docsOf(all), queries, 5, analyzer = chain),
      Wand.searchSnapshot(spark, snap2, queries, 5))

    // a conflicting re-build request is rejected loudly, not silently
    // re-analyzed
    intercept[IllegalArgumentException] {
      IndexBuilder.build(spark, base, dir,
        BuildConfig(numShards = 4, analyzer = AnalyzerConfig(stem = true)))
    }
    all.unpersist()
  }

  test("phrase across a dropped stopword matches (post-filter positions)") {
    val dir = TestSpark.tempDir("graft-analyzer-phrase")
    import spark.implicits._
    val chain2 = AnalyzerConfig(stopwords = Set("the"), stem = true)
    val rows = Seq(
      graft.corpus.SourceFile("r", "a.txt", "c1", "txt",
        "spark the query runs connecting the batches nightly"),
      graft.corpus.SourceFile("r", "b.txt", "c1", "txt",
        "query spark disconnected batch run stream"),
      graft.corpus.SourceFile("r", "c.txt", "c1", "txt",
        "filler words only nothing relevant here at all"))
    val corpus = rows.toDS()
    val snap = IndexBuilder.build(spark, corpus, dir,
      BuildConfig(numShards = 2, commitEvery = 2, positions = true,
        analyzer = chain2))
    // "spark the query": the stopword vanishes, spark/queri become
    // ADJACENT post-filter positions — the phrase must hit doc a only
    val hits = Wand.phraseSearchSnapshot(spark, snap,
      Seq(graft.corpus.RefQuery(0, "spark the query")), 5)
    val dm = spark.read.parquet(snap.docmapDirs: _*).select("doc_id", "path")
    val paths = hits.join(dm, "doc_id").select("path").as[String].collect().toSet
    assert(paths == Set("a.txt"))
    // golden twin agrees bit-identically under the same chain
    assertIdentical(
      Golden.phraseTopK(spark, docsOf(corpus),
        Seq(graft.corpus.RefQuery(0, "spark the query")), 5, analyzer = chain2),
      hits)
    // inflection conflation: "connects batching" finds doc a via stems
    val hits2 = Wand.searchSnapshot(spark, snap,
      Seq(graft.corpus.RefQuery(0, "connects batching")), 5, conjunctive = true)
    val paths2 = hits2.join(dm, "doc_id").select("path").as[String].collect().toSet
    assert(paths2 == Set("a.txt"))
  }

  test("edge_ngram index: typed prefixes match, golden/WAND bit-identical") {
    val dir = TestSpark.tempDir("graft-analyzer-edge")
    import spark.implicits._
    val gramChain = AnalyzerConfig(edgeNgram = Some((2, 8)))
    val corpus = CorpusGen.corpus(spark, 400L, seed = 77L)
    val snap = IndexBuilder.build(spark, corpus, dir,
      BuildConfig(numShards = 4, commitEvery = 2, positions = true,
        analyzer = gramChain))
    assert(snap.analyzer == "edge=2,8")
    // dictionary holds grams, not words: "pa" and "par" both present
    val dict = spark.read.parquet(snap.termstatsDir).select("term")
    assert(!dict.filter($"term" === "pa").isEmpty)
    assert(!dict.filter($"term" === "par").isEmpty)
    // search-as-you-type: the query chain does NOT gram-expand — a
    // typed prefix is matched verbatim against the stored grams, and
    // the exact scorer (full chain docs, query chain queries) agrees
    // bit-identically
    val queries = Seq(
      graft.corpus.RefQuery(0, "pars quer"), // two typed prefixes
      graft.corpus.RefQuery(1, "filt"),
      graft.corpus.RefQuery(2, "zzqx"))      // matches nothing
    assertIdentical(
      Golden.topK(spark, docsOf(corpus), queries, 5, analyzer = gramChain),
      Wand.searchSnapshot(spark, snap, queries, 5))
    // a prefix's df covers every word continuing it: df(pa) >= df(pars)
    import org.apache.spark.sql.Row
    val df = spark.read.parquet(snap.termstatsDir)
      .filter($"term".isin("pa", "pars")).select("term", "df")
      .collect().map { case Row(t: String, d: Long) => t -> d }.toMap
    assert(df("pa") >= df("pars"))
    // rewrite paths analyze LITERAL query words with the QUERY chain
    // too (review fix): a fuzzy query's non-~ word stays one term, not
    // its gram expansion, matching what searchSnapshot would emit
    val fexp = Wand.fuzzyExpandQueries(spark, snap,
      Seq(graft.corpus.RefQuery(0, "pars scor~")), maxEdits = 1,
      maxExpansions = 20)
    assert(fexp(0).contains("pars") && !fexp(0).contains("pa"))
    assert(fexp(0).contains("score")) // one plain edit away, a stored gram
    // simple_query_string fuzzy on a gram index: the fuzzy keys are
    // built with the SAME query chain the lexer analyzes with (review
    // fix) — the clause expands instead of silently matching nothing
    val sq = graft.search.SimpleQueryString.searchSnapshot(spark, snap,
      Seq(0 -> "scor~1"), 5)
    assert(sq.count() > 0)
  }

  test("shingle index: multi-word queries match as word-grams, bit-identical") {
    val dir = TestSpark.tempDir("graft-analyzer-shingle")
    import spark.implicits._
    val shChain = AnalyzerConfig(shingles = Some((2, 2)))
    val corpus = CorpusGen.corpus(spark, 400L, seed = 78L)
    val snap = IndexBuilder.build(spark, corpus, dir,
      BuildConfig(numShards = 4, commitEvery = 2, analyzer = shChain))
    assert(snap.analyzer == "shingle=2,2")
    // both sides shingle: a two-word query becomes ONE bigram term, so
    // only docs containing the contiguous pair match (phrase-through-
    // BM25); golden twin analyzes identically on both sides
    val queries = Seq(
      graft.corpus.RefQuery(0, "def parse"),
      graft.corpus.RefQuery(1, "import query stream"))
    assertIdentical(
      Golden.topK(spark, docsOf(corpus), queries, 5, analyzer = shChain),
      Wand.searchSnapshot(spark, snap, queries, 5))
    // the dictionary's terms are space-joined bigrams
    val someTerm = spark.read.parquet(snap.termstatsDir)
      .select("term").as[String].head()
    assert(someTerm.contains(" "))
    // rewrite queries are REJECTED loudly on a shingle chain (review
    // fix): per-word analysis can never form a word-gram, so fuzzy /
    // prefix / simple_query_string would silently return nothing — the
    // engine refuses instead of lying with an empty result
    intercept[IllegalArgumentException] {
      Wand.fuzzyExpandQueries(spark, snap,
        Seq(graft.corpus.RefQuery(0, "def~")), maxEdits = 1)
    }
    intercept[IllegalArgumentException] {
      Wand.matchFuzzyExpandQueries(spark, snap,
        Seq(graft.corpus.RefQuery(0, "def")))
    }
    intercept[IllegalArgumentException] {
      Wand.expandQueries(spark, snap, Seq(graft.corpus.RefQuery(0, "de*")))
    }
    intercept[IllegalArgumentException] {
      graft.search.SimpleQueryString.searchSnapshot(spark, snap,
        Seq(0 -> "def parse"), 5)
    }
  }
}
