package graft.search

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.corpus.CorpusGen
import graft.index.{BuildConfig, IndexBuilder}

/** The golden end-to-end comparison — the reference's signature discipline
  * (test_response_comparison.py:100-116 writ large): exact scorer
  * ("primary") vs block-max WAND over the compressed index ("shadow"),
  * asserting rank-identical doc_ids and bit-identical scores, plus the
  * per-row sha256(content) invariant vs the source table. */
class EngineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val numDocs = 1200L
  val k = 10
  lazy val corpus = CorpusGen.corpus(spark, numDocs, seed = 42L).cache()
  lazy val queries = CorpusGen.queries(12, seed = 42L)
  lazy val indexDir = TestSpark.tempDir("graft-index")
  lazy val snap = IndexBuilder.build(spark, corpus, indexDir,
    BuildConfig(numShards = 8, commitEvery = 3, heavyThreshold = 200, saltBuckets = 4))

  private lazy val docs = corpus.select(
    IndexBuilder.docIdCol.as("doc_id"), $"content")

  test("term pruning: isin below the threshold, broadcast semi-join above it") {
    val df = Seq(("a", 1), ("b", 2)).toDF("term", "x")
    val small = Wand.termPruned(df, Array("a"))
    // a local relation folds the In predicate into the scan — assert
    // shape by absence of a join rather than a Filter node
    assert(!small.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    assert(small.as[(String, Int)].collect().toSet == Set(("a", 1)))
    // a replay-scale term set (> IsinMaxTerms) must plan a broadcast
    // semi-join over the scan, not a multi-10k-literal In expression
    val bigTerms = (0 to Wand.IsinMaxTerms).map(i => s"t$i").toArray :+ "a"
    val big = Wand.termPruned(df, bigTerms)
    assert(big.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    assert(big.as[(String, Int)].collect().toSet == Set(("a", 1)))
  }

  test("20k-term replay takes the semi-join pruning path, result-identical") {
    // unit: against the REAL dictionary, the semi-join branch selects the
    // same termstats rows as a literal isin over the same 20k+ terms
    val ts = spark.read.parquet(snap.termstatsDir).select("term")
    val someReal = ts.orderBy("term").limit(40).as[String].collect()
    // alpha-only filler terms: the code tokenizer splits letter-digit
    // boundaries, which would collapse "zzzmissing00001"-style fillers
    // into one shared term and shrink the distinct union below the switch
    def alpha(i: Int): String = "zzzmissing" + i.toString.map(c => ('a' + (c - '0')).toChar)
    val replayTerms = someReal ++ (0 until 20001).map(alpha)
    assert(replayTerms.length > Wand.IsinMaxTerms)
    val viaSemi = Wand.termPruned(ts, replayTerms).as[String].collect().sorted
    val viaIsin = ts.filter(col("term").isin(replayTerms.toSeq: _*))
      .as[String].collect().sorted
    assert(viaSemi.length == someReal.length)
    assert(viaSemi.sameElements(viaIsin))
    // end-to-end: a replay whose distinct-term UNION crosses IsinMaxTerms
    // routes every pruning scan through the semi-join branch; the shared
    // queries' hits must be identical to the plain (isin-path) replay,
    // and the unknown-term filler queries contribute zero rows
    val baseQs = queries.take(3)
    val filler = (0 until 20001).map(i =>
      graft.corpus.RefQuery(100000 + i, alpha(i)))
    val bigRes = Wand.searchSnapshot(spark, snap, baseQs ++ filler, k).cache()
    assert(bigRes.filter($"query_id" >= 100000).count() == 0)
    val gotBig = bigRes.filter($"query_id" < 100000)
      .select("query_id", "rank", "doc_id", "score")
      .as[(Int, Int, String, Double)].collect().toSet
    bigRes.unpersist()
    val gotSmall = Wand.searchSnapshot(spark, snap, baseQs, k)
      .select("query_id", "rank", "doc_id", "score")
      .as[(Int, Int, String, Double)].collect().toSet
    assert(gotBig == gotSmall)
  }

  test("index builds completely with lineage for every shard") {
    assert(snap.isComplete)
    assert(snap.completedShards.sorted == (0 until 8))
    val lineage = spark.read.parquet(snap.lineageDirs: _*)
    val shards = lineage.filter($"shard" >= 0).select("shard").as[Int].collect().sorted
    assert(shards.toSeq == (0 until 8))
    // every shard indexed docs and postings, in nonzero build time
    val bad = lineage.filter($"shard" >= 0)
      .filter($"doc_count" <= 0 || $"postings_count" <= 0 || $"build_ms" < 0)
    assert(bad.count() == 0)
    // lineage doc counts sum to the corpus size; staging skipped nothing
    val total = lineage.filter($"shard" >= 0).agg(sum($"doc_count")).head().getLong(0)
    assert(total == numDocs)
    assert(lineage.filter($"shard" === -1).head().getAs[Long]("skipped_rows") == 0L)
  }

  test("per-row content sha256 equality vs the source table") {
    val docmap = spark.read.parquet(snap.docmapDirs: _*)
    val src = corpus.select(IndexBuilder.docIdCol.as("doc_id"),
      sha2($"content", 256).as("expected_sha"))
    val joined = docmap.join(src, Seq("doc_id"), "full_outer")
    assert(joined.filter($"sha256".isNull || $"expected_sha".isNull).count() == 0)
    assert(joined.filter($"sha256" =!= $"expected_sha").count() == 0)
  }

  test("WAND top-k is rank-identical to the exact golden scorer, scores bit-identical") {
    val golden = Golden.topK(spark, docs, queries, k)
      .withColumnRenamed("doc_id", "g_doc").withColumnRenamed("score", "g_score")
    val fast = Wand.searchSnapshot(spark, snap, queries, k)
      .withColumnRenamed("doc_id", "f_doc").withColumnRenamed("score", "f_score")
    val cmp = golden.join(fast, Seq("query_id", "rank"), "full_outer").cache()
    val total = cmp.count()
    assert(total > 0)
    val missing = cmp.filter($"g_doc".isNull || $"f_doc".isNull)
    assert(missing.count() == 0, s"rank rows present on one side only:\n${missing.collect().mkString("\n")}")
    val docMismatch = cmp.filter($"g_doc" =!= $"f_doc")
    assert(docMismatch.count() == 0,
      s"doc mismatches:\n${docMismatch.orderBy($"query_id", $"rank").collect().take(20).mkString("\n")}")
    val scoreMismatch = cmp.filter($"g_score" =!= $"f_score") // exact, not epsilon
    assert(scoreMismatch.count() == 0,
      s"score mismatches:\n${scoreMismatch.collect().take(20).mkString("\n")}")
  }

  test("every query returns k results (corpus is larger than k)") {
    val fast = Wand.searchSnapshot(spark, snap, queries, k)
    val counts = fast.groupBy("query_id").count().as[(Int, Long)].collect().toMap
    queries.foreach { q =>
      assert(counts.getOrElse(q.query_id, 0L) == k, s"query ${q.query_id}: ${counts.get(q.query_id)}")
    }
  }

  test("hit resolve: the docmap join broadcasts one long key, not (shard, ord)") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.types.LongType
    object Plans extends AdaptiveSparkPlanHelper
    val fast = Wand.searchSnapshot(spark, snap, queries, k)
    assert(fast.count() == queries.length * k)
    val ids = fast.select("doc_id").as[String].collect().distinct.take(3).toSeq
    // the search, and two ops that resolve hits or ids against the staged
    // tokens: every (shard, ord) join is on `addr`; other joins (doc_id,
    // term) have one key of their own
    Seq("search" -> fast,
        "highlightSearch" -> Wand.highlightSearch(spark, indexDir, queries, k),
        "termVectors" -> Wand.termVectors(spark, indexDir, ids)).foreach { case (op, df) =>
      assert(df.count() > 0, op)
      val keys = Plans.collect(df.queryExecution.executedPlan) {
        case j: BroadcastHashJoinExec => (j.leftKeys ++ j.rightKeys).map(_.dataType)
      }
      assert(keys.contains(Seq(LongType, LongType)), s"$op: $keys")
      assert(keys.forall(_.size == 2), s"$op: $keys")
      if (op == "search") assert(keys.forall(_ == Seq(LongType, LongType)), keys)
    }
  }

  test("query-block fan-out (B > 1) stays rank- and score-identical") {
    // S=2 shards on a local[4] session forces B = ceil(2*4/2) = 4 query
    // blocks — queries split across tasks, segments replicated per block —
    // and the merged result must still match the exact scorer
    val dir2 = TestSpark.tempDir("graft-index-b")
    val snap2 = IndexBuilder.build(spark, corpus, dir2,
      BuildConfig(numShards = 2, commitEvery = 2, heavyThreshold = 200, saltBuckets = 4))
    val golden = Golden.topK(spark, docs, queries, k)
      .withColumnRenamed("doc_id", "g_doc").withColumnRenamed("score", "g_score")
    val fast = Wand.searchSnapshot(spark, snap2, queries, k)
      .withColumnRenamed("doc_id", "f_doc").withColumnRenamed("score", "f_score")
    val cmp = golden.join(fast, Seq("query_id", "rank"), "full_outer")
    assert(cmp.filter($"g_doc".isNull || $"f_doc".isNull ||
      $"g_doc" =!= $"f_doc" || $"g_score" =!= $"f_score").count() == 0)
  }

  test("bad rows: dead-lettered, zero sha violations, replay stays identical") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // the same corpus plus two rows the builder must dead-letter
    val badRows = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row("bad-repo", "bad/null.scala", "c0", "scala", null),
        Row("bad-repo", "bad/empty.scala", "c0", "scala", ""))),
      StructType(Seq("repo", "path", "commit", "lang", "content")
        .map(f => StructField(f, StringType, nullable = true))))
    val dirty = corpus.toDF().unionByName(badRows)
    val dirDirty = TestSpark.tempDir("graft-index-dirty")
    val snapDirty = IndexBuilder.build(spark, dirty.as[graft.corpus.SourceFile], dirDirty,
      BuildConfig(numShards = 4, commitEvery = 4, heavyThreshold = 200, saltBuckets = 4))
    // skip-and-log: both bad rows counted in staging lineage, none indexed
    val lineage = spark.read.parquet(snapDirty.lineageDirs: _*)
    assert(lineage.filter($"shard" === -1).head().getAs[Long]("skipped_rows") == 2L)
    // the sha invariant holds over the dirty corpus — dead-lettered rows
    // must NOT surface as violations
    assert(graft.compare.Harness.shaViolations(spark, snapDirty, dirty).count() == 0)
    // golden (bad-row-filtered) vs WAND over the dirty corpus: identical
    val cmp = graft.compare.Harness.replay(spark, snapDirty, dirty, queries, k)
    assert(cmp.count() > 0 && cmp.filter(!$"identical").count() == 0)
  }

  test("incremental append: rank- and bit-identical after global stats shift") {
    val dirA = TestSpark.tempDir("graft-append")
    val all = CorpusGen.corpus(spark, 1200L, seed = 21L).cache()
    // split by content length so the appended half drives avgdl UP — the
    // direction in which a stored maxNorm (built at the old avgdl)
    // UNDER-estimates true contributions and unpatched pruning would be
    // unsafe; the per-run avgdl tag + (maxTf, minDl) impact fallback is
    // what this test exercises
    val cut = all.agg(avg(length($"content"))).head().getDouble(0)
    val base = all.filter(length($"content") < cut)
    val extra = all.filter(length($"content") >= cut)
    val snapBase = IndexBuilder.build(spark, base, dirA,
      BuildConfig(numShards = 4, commitEvery = 4, heavyThreshold = 200, saltBuckets = 4))
    val snapApp = IndexBuilder.append(spark, extra, dirA)
    assert(snapApp.isComplete && snapApp.stats.numDocs == 1200)
    assert(snapApp.stats.avgdl > snapBase.stats.avgdl) // stats really shifted
    // ordinals stay unique per shard across the append
    val dm = spark.read.parquet(snapApp.docmapDirs: _*)
    assert(dm.count() == 1200)
    assert(dm.groupBy("shard", "ord").count().filter($"count" > 1).count() == 0)
    // golden over the UNION corpus vs WAND over the appended snapshot:
    // rank-identical, scores bit-identical
    val docsAll = all.select(IndexBuilder.docIdCol.as("doc_id"), $"content")
    val golden = Golden.topK(spark, docsAll, queries, k)
      .withColumnRenamed("doc_id", "g_doc").withColumnRenamed("score", "g_score")
    val fast = Wand.searchSnapshot(spark, snapApp, queries, k)
      .withColumnRenamed("doc_id", "f_doc").withColumnRenamed("score", "f_score")
    val cmp = golden.join(fast, Seq("query_id", "rank"), "full_outer")
    assert(cmp.filter($"g_doc".isNull || $"f_doc".isNull ||
      $"g_doc" =!= $"f_doc" || $"g_score" =!= $"f_score").count() == 0)
    // sha invariant holds over the union
    assert(graft.compare.Harness.shaViolations(spark, snapApp, all.toDF()).count() == 0)
    // at-least-once idempotency: re-appending the same batch is a no-op
    val again = IndexBuilder.append(spark, extra, dirA)
    assert(again.id == snapApp.id && again.stats.numDocs == 1200)
  }

  test("append chain: three appends deep stays rank- and bit-identical") {
    val dirC = TestSpark.tempDir("graft-append-chain")
    val all = CorpusGen.corpus(spark, 1000L, seed = 33L).cache()
    // four deterministic slices; each append shifts global stats again,
    // leaving runs built at FOUR different avgdl values in one snapshot
    val parts = (0 until 4).map(i =>
      all.filter(pmod(xxhash64($"path"), lit(4)) === i))
    var snap = IndexBuilder.build(spark, parts(0), dirC,
      BuildConfig(numShards = 4, commitEvery = 4, heavyThreshold = 200, saltBuckets = 4))
    parts.drop(1).foreach { p => snap = IndexBuilder.append(spark, p, dirC) }
    assert(snap.isComplete && snap.stats.numDocs == 1000)
    val docsAll = all.select(IndexBuilder.docIdCol.as("doc_id"), $"content")
    val golden = Golden.topK(spark, docsAll, queries, k)
      .withColumnRenamed("doc_id", "g_doc").withColumnRenamed("score", "g_score")
    val fast = Wand.searchSnapshot(spark, snap, queries, k)
      .withColumnRenamed("doc_id", "f_doc").withColumnRenamed("score", "f_score")
    val cmp = golden.join(fast, Seq("query_id", "rank"), "full_outer")
    assert(cmp.filter($"g_doc".isNull || $"f_doc".isNull ||
      $"g_doc" =!= $"f_doc" || $"g_score" =!= $"f_score").count() == 0)
  }

  test("score ties across an append: WAND returns golden's doc_id tie-break") {
    // 60 docs with identical content all score the same; an append numbers
    // its docs after each shard's existing ords, so ord order is doc_id
    // order only within each generation, and the per-shard cut must not
    // break the tie by ord
    def files(from: Int, until: Int) = (from until until).map(i =>
      graft.corpus.SourceFile("ties", f"f$i%03d.txt", "main", "txt", "alpha beta gamma")).toDS()
    val qs = Seq(graft.corpus.RefQuery(0, "alpha"))
    val golden = Golden.topK(spark,
        files(0, 60).select(IndexBuilder.docIdCol.as("doc_id"), $"content"), qs, k)
      .select("rank", "doc_id", "score").as[(Int, String, Double)].collect().sortBy(_._1)
    assert(golden.length == k && golden.map(_._3).distinct.length == 1)
    for (shards <- Seq(1, 4)) {
      val dir = TestSpark.tempDir("graft-ties")
      IndexBuilder.build(spark, files(0, 30), dir,
        BuildConfig(numShards = shards, commitEvery = 4, heavyThreshold = 200, saltBuckets = 4))
      val snapT = IndexBuilder.append(spark, files(30, 60), dir)
      val fast = Wand.searchSnapshot(spark, snapT, qs, k)
        .select("rank", "doc_id", "score").as[(Int, String, Double)].collect().sortBy(_._1)
      assert(fast.toSeq == golden.toSeq, s"$shards shard(s)")
    }
  }

  test("thousands of score ties over two appends and a compaction: " +
       "WAND returns golden's pages") {
    def files(from: Int, until: Int) = (from until until).map(i =>
      graft.corpus.SourceFile("ties", f"g$i%04d.txt", "main", "txt", "alpha beta gamma")).toDS()
    val qs = Seq(graft.corpus.RefQuery(0, "alpha"), graft.corpus.RefQuery(1, "alpha gamma"))
    val all = files(0, 3000).select(IndexBuilder.docIdCol.as("doc_id"), $"content")
    val dir = TestSpark.tempDir("graft-ties-gen")
    val cfg = BuildConfig(numShards = 4, commitEvery = 4, heavyThreshold = 200, saltBuckets = 4)
    assert(IndexBuilder.build(spark, files(0, 1500), dir, cfg).generationStarts == Some(Nil))
    IndexBuilder.append(spark, files(1500, 2500), dir)
    val snapA = IndexBuilder.append(spark, files(2500, 3000), dir)
    // each append starts every shard's ords after the ones before it
    val starts = graft.table.SnapshotCatalog.require(spark, dir).generationStarts.get
    assert(starts.length == 2 && starts.forall(_.length == 4))
    assert((0 until 4).forall(s => starts(0)(s) > 1L && starts(1)(s) > starts(0)(s)))
    val snapC = IndexBuilder.compact(spark, dir)
    assert(snapC.generationStarts == Some(starts))
    for (from <- Seq(0, 10)) {
      val golden = Golden.topK(spark, all, qs, k, from = from)
        .select("query_id", "rank", "doc_id", "score").as[(Int, Int, String, Double)]
        .collect().sorted.toSeq
      assert(golden.length == 2 * k)
      for (s <- Seq(snapA, snapC)) {
        val fast = Wand.searchSnapshot(spark, s, qs, k, from = from)
          .select("query_id", "rank", "doc_id", "score").as[(Int, Int, String, Double)]
          .collect().sorted.toSeq
        assert(fast == golden, s"snapshot ${s.id} from $from")
      }
    }
  }

  test("delete: tombstoned docs vanish, survivors stay rank- and bit-identical") {
    val dirD = TestSpark.tempDir("graft-delete")
    val all = CorpusGen.corpus(spark, 1000L, seed = 55L).cache()
    val snap0 = IndexBuilder.build(spark, all, dirD,
      BuildConfig(numShards = 4, commitEvery = 4, heavyThreshold = 200, saltBuckets = 4))
    val pred = pmod(xxhash64($"path"), lit(5)) === 0
    val snapD = IndexBuilder.delete(spark, dirD, pred)
    val nVictims = all.filter(pred).count()
    assert(nVictims > 0 && snapD.id == snap0.id + 1)
    assert(snapD.stats.numDocs == 1000 - nVictims)
    assert(snapD.tombstoneDirs.size == 1)
    // avgdl really shifted (delete must update global stats, not just mask)
    assert(snapD.stats.avgdl != snap0.stats.avgdl)
    // replay (which masks tombstones on the golden side): every rank row
    // identical, scores bit-identical — idf/avgdl updated consistently
    val cmp = graft.compare.Harness.replay(spark, snapD, all.toDF(), queries, k)
    assert(cmp.count() > 0 && cmp.filter(!$"identical").count() == 0)
    // no tombstoned doc surfaces in any result
    val deletedIds = all.filter(pred).select(IndexBuilder.docIdCol.as("doc_id"))
    val fast = Wand.searchSnapshot(spark, snapD, queries, k)
    assert(fast.join(deletedIds, Seq("doc_id"), "left_semi").count() == 0)
    // sha invariant holds with both sides tombstone-masked
    assert(graft.compare.Harness.shaViolations(spark, snapD, all.toDF()).count() == 0)
    // idempotent: re-deleting the same predicate is a no-op commit-wise
    val again = IndexBuilder.delete(spark, dirD, pred)
    assert(again.id == snapD.id && again.stats == snapD.stats)
  }

  test("phrase suggest: a tokenless query collates false; mixed sets keep working") {
    val common = spark.read.parquet(snap.termstatsDir)
      .orderBy($"df".desc, $"term".asc).select("term").as[String].head()
    val out = Wand.phraseSuggestSnapshot(spark, snap, Seq(
        graft.corpus.RefQuery(0, "$$$ ???"), // analyzes to zero tokens
        graft.corpus.RefQuery(1, common)))
      .select("query_id", "suggestion", "changed", "collate_match")
      .as[(Int, String, Int, Boolean)].collect().sortBy(_._1)
    assert(out(0) == ((0, "", 0, false))) // skip-and-report, not a crash
    assert(out(1)._2 == common && out(1)._4)
    // ALL-tokenless input degrades the same way instead of erroring
    val all = Wand.phraseSuggestSnapshot(spark, snap,
      Seq(graft.corpus.RefQuery(7, "!!!")))
      .as[(Int, String, Int, Boolean)].collect()
    assert(all.toSeq == Seq((7, "", 0, false)))
  }

  test("delete mask rides per-shard sidecars: multi-generation heavy churn stays bit-identical") {
    val dirM = TestSpark.tempDir("graft-delmask-churn")
    val all = CorpusGen.corpus(spark, 1000L, seed = 77L).cache()
    IndexBuilder.build(spark, all, dirM,
      BuildConfig(numShards = 4, commitEvery = 4, heavyThreshold = 200, saltBuckets = 4))
    // three delete generations totalling ~60% of the corpus — the
    // heavy-churn regime the old driver-broadcast mask choked on
    val snapD = (0 to 2).map { b =>
      IndexBuilder.delete(spark, dirM, pmod(xxhash64($"path"), lit(5)) === b)
    }.last
    assert(snapD.tombstoneDirs.size == 3)
    // every generation committed a cumulative sidecar dir; the current one
    // holds per-shard files and NO query path collects the mask
    assert(snapD.delmaskDir.nonEmpty)
    val fs = new org.apache.hadoop.fs.Path(snapD.delmaskDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(new org.apache.hadoop.fs.Path(snapD.delmaskDir))
      .map(_.getPath.getName).filter(_.endsWith(".del"))
    assert(files.nonEmpty)
    // sidecar content == tombstone rows, shard by shard
    val m = graft.index.DeleteMask.forSnapshot(spark, snapD)
    val want = spark.read.parquet(snapD.tombstoneDirs: _*)
      .select($"shard", $"ord").as[(Int, Long)].collect()
      .groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).sorted }
    (0 until 4).foreach { s =>
      assert(java.util.Arrays.equals(m(s), want.getOrElse(s, Array.empty[Long])))
    }
    val nDeleted = want.valuesIterator.map(_.length.toLong).sum
    assert(nDeleted > 500, s"churn too light to exercise the mask: $nDeleted")
    // golden vs WAND: rank-identical, scores bit-identical over the 40%
    // survivors; sha invariant holds
    val cmp = graft.compare.Harness.replay(spark, snapD, all.toDF(), queries, k)
    assert(cmp.count() > 0 && cmp.filter(!$"identical").count() == 0)
    assert(graft.compare.Harness.shaViolations(spark, snapD, all.toDF()).count() == 0)
    // indexStats counts the mask without materializing it
    val st = IndexBuilder.indexStats(spark, dirM).head()
    assert(st.getAs[Long]("deleted_docs") == nDeleted)
    assert(st.getAs[Long]("live_docs") == 1000L - nDeleted)
    all.unpersist()
  }

  test("highlight and named queries render the LIVE version after an upsert") {
    val dirL = TestSpark.tempDir("graft-live-fetch")
    val all = CorpusGen.corpus(spark, 400L, seed = 13L).cache()
    IndexBuilder.build(spark, all, dirL, BuildConfig(numShards = 4, commitEvery = 4))
    val sf = org.apache.spark.sql.Encoders.product[graft.corpus.SourceFile]
    // upsert 1/5 of the corpus with changed content: each changed identity
    // now has a dead and a live docmap row sharing its doc_id
    val changed = all.toDF().filter(pmod(xxhash64($"path"), lit(5)) === 0)
      .withColumn("content", concat($"content", lit(" livemarker"))).as(sf)
    val nChanged = changed.count()
    assert(nChanged > 0)
    IndexBuilder.upsert(spark, changed, dirL)
    val qs = Seq(graft.corpus.RefQuery(0, "livemarker"))
    // without the tombstone mask each hit would duplicate — one row
    // rendered from the STALE token array (which lacks the marker)
    val hl = Wand.highlightSearch(spark, dirL, qs, 50).cache()
    assert(hl.count() == math.min(50L, nChanged))
    assert(hl.groupBy($"query_id", $"rank").count().filter($"count" > 1).count() == 0)
    assert(hl.filter(!$"highlight".contains("<em>livemarker</em>")).count() == 0)
    val nq = Wand.namedQueriesSearch(spark, dirL, qs,
      Map("m" -> "livemarker"), 50).cache()
    assert(nq.count() == math.min(50L, nChanged))
    assert(nq.groupBy($"query_id", $"rank").count().filter($"count" > 1).count() == 0)
    assert(nq.filter($"matched_queries" =!= "m").count() == 0)
    hl.unpersist(); nq.unpersist(); all.unpersist()
  }

  test("delete-by-query: exactly the matching docs vanish, identity holds after") {
    val dirQ = TestSpark.tempDir("graft-dbq")
    val all = CorpusGen.corpus(spark, 1000L, seed = 91L).cache()
    val snap0 = IndexBuilder.build(spark, all, dirQ,
      BuildConfig(numShards = 4, commitEvery = 4))
    // a mid-frequency dictionary term (re-analyzing it is idempotent)
    val term = spark.read.parquet(snap0.termstatsDir)
      .filter($"df".between(20, 200) && $"term".rlike("^[a-z]+$"))
      .orderBy($"df".desc, $"term".asc).select("term").as[String].head()
    val allDocs = all.select(IndexBuilder.docIdCol.as("doc_id"), $"content")
    val isVictim = array_contains(graft.analyze.Tokenizer.tokens($"content"), term)
    val nVictims = allDocs.filter(isVictim).count()
    assert(nVictims > 0)
    val snapD = Wand.deleteByQuery(spark, dirQ, Seq(graft.corpus.RefQuery(0, term)))
    // exactly the matching docs were tombstoned; global stats shrank exactly
    assert(snapD.id == snap0.id + 1)
    assert(snapD.stats.numDocs == 1000 - nVictims)
    // the deleted term now matches NOTHING (every doc containing it is gone)
    assert(Wand.searchSnapshot(spark, snapD,
      Seq(graft.corpus.RefQuery(0, term)), k).count() == 0)
    // survivors stay rank- and bit-identical vs the exact scorer over the
    // survivor corpus (replay masks tombstones on the golden side)
    val cmp = graft.compare.Harness.replay(spark, snapD, all.toDF(), queries, k)
    assert(cmp.count() > 0 && cmp.filter(!$"identical").count() == 0)
    // idempotent: nothing left matches, so a re-delete is a no-op commit
    val again = Wand.deleteByQuery(spark, dirQ, Seq(graft.corpus.RefQuery(0, term)))
    assert(again.id == snapD.id && again.stats == snapD.stats)
    // conjunctive mode deletes the INTERSECTION only: two frequent terms
    val t2 = spark.read.parquet(snapD.termstatsDir)
      .filter($"df".between(20, 400) && $"term".rlike("^[a-z]+$") && $"term" =!= term)
      .orderBy($"df".desc, $"term".asc).select("term").as[String].head(2).toSeq
    val liveDocs = allDocs.filter(!isVictim)
    val bothPred = t2.map(t =>
      array_contains(graft.analyze.Tokenizer.tokens($"content"), t)).reduce(_ && _)
    val nBoth = liveDocs.filter(bothPred).count()
    val snapC = Wand.deleteByQuery(spark, dirQ,
      Seq(graft.corpus.RefQuery(1, t2.mkString(" "))), conjunctive = true)
    assert(snapC.stats.numDocs == snapD.stats.numDocs - nBoth)
  }

  test("term vectors: tf/positions/df/ttf corpus-identical, live-only after delete") {
    val dirT = TestSpark.tempDir("graft-tvec")
    val all = CorpusGen.corpus(spark, 400L, seed = 57L).cache()
    IndexBuilder.build(spark, all, dirT, BuildConfig(numShards = 4, commitEvery = 4))
    val reqIds = all.toDF().limit(3)
      .select(IndexBuilder.docIdCol).as[String].collect().toSeq
    val got = Wand.termVectors(spark, dirT, reqIds ++ Seq("nosuchdoc"))
      .as[(String, String, Long, String, Long, Long)].collect()
    // independent recount straight off the tokenized corpus
    val toks = all.toDF().select(IndexBuilder.docIdCol.as("doc_id"),
      posexplode(graft.analyze.Tokenizer.tokens($"content")))
      .withColumnRenamed("col", "term").cache()
    val expTf = toks.filter($"doc_id".isin(reqIds: _*))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"),
        concat_ws(",", sort_array(collect_list($"pos")).cast("array<string>")).as("p"))
      .as[(String, String, Long, String)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    val expDf = toks.groupBy("term")
      .agg(count_distinct($"doc_id").as("df"), count(lit(1)).as("ttf"))
      .as[(String, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got.map(r => (r._1, r._2)).toSet == expTf.keySet)
    got.foreach { case (id, term, tf, pos, df, ttf) =>
      val (eTf, ePos) = expTf((id, term))
      val (eDf, eTtf) = expDf(term)
      assert(tf == eTf && pos == ePos && df == eDf && ttf == eTtf,
        s"term vector ($id, $term): got ($tf, $pos, $df, $ttf), want ($eTf, $ePos, $eDf, $eTtf)")
    }
    // delete the first requested doc: it must vanish from the output and
    // the survivors' df/ttf must shrink to the post-delete termstats
    IndexBuilder.delete(spark, dirT, col("doc_id") === reqIds.head)
    val after = Wand.termVectors(spark, dirT, reqIds)
      .as[(String, String, Long, String, Long, Long)].collect()
    assert(!after.exists(_._1 == reqIds.head))
    val deadToks = toks.filter($"doc_id" === reqIds.head)
      .select("term").distinct().as[String].collect().toSet
    after.foreach { case (id, term, _, _, df, _) =>
      val (eDf, _) = expDf(term)
      val want = if (deadToks(term)) eDf - 1 else eDf
      assert(df == want, s"post-delete df for ($id, $term): got $df, want $want")
    }
    toks.unpersist(); all.unpersist()
  }

  test("update_by_query: live-only metadata update, scores untouched, history intact") {
    val dirU = TestSpark.tempDir("graft-ubq")
    val all = CorpusGen.corpus(spark, 400L, seed = 77L).cache()
    val snap0 = IndexBuilder.build(spark, all, dirU,
      BuildConfig(numShards = 4, commitEvery = 4))
    // pick a mid-frequency term deterministically: head words like
    // 'parse' appear in EVERY doc of this corpus, which would make the
    // "not everything was updated" assertions vacuous
    val term = all.toDF()
      .select(explode(array_distinct(graft.analyze.Tokenizer.tokens($"content"))).as("t"))
      .groupBy("t").agg(count(lit(1)).as("df"))
      .filter($"df" > 20 && $"df" < 200)
      .orderBy("t").limit(1).as[(String, Long)].collect().head._1
    val qs = Seq(graft.corpus.RefQuery(0, term))
    // expected match set straight from the corpus
    val expHit = all.toDF()
      .filter(array_contains(graft.analyze.Tokenizer.tokens($"content"), term))
      .select(IndexBuilder.docIdCol.as("doc_id")).as[String].collect().toSet
    assert(expHit.nonEmpty && expHit.size < 400)
    // delete one matching doc first: dead rows must NOT be updated. The
    // pre-update baseline is captured AFTER the delete (a delete
    // legitimately changes df/N/avgdl and therefore scores; the update
    // must not)
    val deadId = expHit.head
    IndexBuilder.delete(spark, dirU, col("doc_id") === deadId)
    val pre = Wand.search(spark, dirU, qs, 5)
      .select("query_id", "rank", "doc_id", "score")
      .as[(Int, Int, String, Double)].collect().sortBy(r => (r._1, r._2))
    val snap1 = Wand.updateByQuery(spark, dirU, qs,
      Map("lang" -> lit("retagged"), "tag" -> lit("hit")))
    assert(snap1.id > snap0.id && snap1.docmapDirs.size == 1)
    val dm = spark.read.parquet(snap1.docmapDirs: _*)
      .select($"doc_id", $"lang", $"tag").cache()
    // every LIVE matched doc got both values; the deleted one kept its lang
    val updated = dm.filter($"lang" === "retagged")
      .select("doc_id").as[String].collect().toSet
    assert(updated == expHit - deadId)
    assert(dm.filter($"doc_id" === deadId && $"lang" === "retagged").count() == 0)
    // non-matched rows: lang untouched, tag null
    assert(dm.filter($"tag".isNull).filter($"lang" === "retagged").count() == 0)
    assert(dm.filter($"tag" === "hit").count() == (expHit - deadId).size)
    // ranks and scores are bit-identical across the update commit
    val post = Wand.search(spark, dirU, qs, 5)
      .select("query_id", "rank", "doc_id", "score")
      .as[(Int, Int, String, Double)].collect().sortBy(r => (r._1, r._2))
    assert(post.toSeq == pre.toSeq, s"drift across update: $post vs $pre")
    // the metadata filter path sees the NEW values
    val filt = Wand.search(spark, dirU, qs, 400,
      filter = Some(col("lang") === "retagged"))
    assert(filt.select("doc_id").as[String].collect().toSet == expHit - deadId)
    // time travel: the pre-update snapshot still reads the old docmap
    val dm0 = spark.read.parquet(snap0.docmapDirs: _*)
    assert(dm0.filter($"lang" === "retagged").count() == 0)
    // immutable columns are rejected; empty set is rejected
    intercept[IllegalArgumentException] {
      Wand.updateByQuery(spark, dirU, qs, Map("dl" -> lit(0L)))
    }
    intercept[IllegalArgumentException] {
      Wand.updateByQuery(spark, dirU, qs, Map.empty)
    }
    // zero matches: parent returned unchanged, no new commit
    val snapN = Wand.updateByQuery(spark, dirU,
      Seq(graft.corpus.RefQuery(1, "zzznosuchterm")), Map("lang" -> lit("x")))
    assert(snapN.id == snap1.id)
    // top_metrics skips docs whose sort expression is null (the OpenSearch
    // missing-field rule): tag the match set with a numeric column, then
    // sort a BROADER query by it ascending — nulls-first must not hand the
    // untagged docs the top slots
    val snap2 = Wand.updateByQuery(spark, dirU, qs, Map("sortv" -> lit(2.5)))
    val common = spark.read.parquet(snap0.termstatsDir)
      .orderBy($"df".desc, $"term".asc).select("term").as[String].head()
    val broad = Seq(graft.corpus.RefQuery(0, s"$common $term"))
    val tm = Aggs.topMetricsAggSnapshot(spark, snap2, broad, "sortv", "dl", 10,
      ascending = true).cache()
    assert(tm.count() > 0 && tm.filter($"sort_value".isNull).count() == 0)
    assert(tm.filter($"sort_value" =!= 2.5).count() == 0)
    tm.unpersist(); dm.unpersist(); all.unpersist()
  }

  test("upsert: changed replaced, unchanged skipped, new added, deleted resurrected") {
    val dirU = TestSpark.tempDir("graft-upsert")
    val all = CorpusGen.corpus(spark, 800L, seed = 31L).cache()
    IndexBuilder.build(spark, all, dirU, BuildConfig(numShards = 4, commitEvery = 4))
    val bucket = pmod(xxhash64($"path"), lit(10))
    val sf = org.apache.spark.sql.Encoders.product[graft.corpus.SourceFile]
    // 1/10 of the corpus changed (a token no original doc contains),
    // 1/10 re-sent unchanged, plus brand-new identities
    val changed = all.toDF().filter(bucket === 0)
      .withColumn("content", concat($"content", lit(" upsertmarker"))).as(sf)
    val unchanged = all.filter(bucket === 1)
    val fresh = CorpusGen.corpus(spark, 50L, seed = 83L).toDF()
      .withColumn("path", concat(lit("new/"), $"path")).as(sf)
    val batch = changed.unionAll(unchanged).unionAll(fresh)
    val (nChanged, nNew) = (changed.count(), fresh.count())
    assert(nChanged > 0 && nNew > 0)
    val snapU = IndexBuilder.upsert(spark, batch, dirU)
    // net docs: +new only (changed are replace-in-place, unchanged skipped)
    assert(snapU.stats.numDocs == 800 + nNew)
    // the marker token matches exactly the changed docs — and ONLY their
    // new versions (old postings masked by the tombstones)
    assert(Wand.searchSnapshot(spark, snapU,
      Seq(graft.corpus.RefQuery(0, "upsertmarker")), 1000).count() == nChanged)
    // identity + sha invariant vs the UPDATED corpus view
    val updated = all.toDF().filter(bucket =!= 0).as(sf)
      .unionAll(changed).unionAll(fresh)
    val cmp = graft.compare.Harness.replay(spark, snapU, updated.toDF(), queries, k)
    assert(cmp.count() > 0 && cmp.filter(!$"identical").count() == 0)
    assert(graft.compare.Harness.shaViolations(spark, snapU, updated.toDF()).count() == 0)
    // idempotent: re-upserting the same batch is a no-op commit
    val again = IndexBuilder.upsert(spark, batch, dirU)
    assert(again.id == snapU.id && again.stats == snapU.stats)
    // resurrection: delete one fresh doc, upsert it back (plain append
    // would refuse — its anti-join sees the tombstoned docmap row)
    val vic = fresh.select("path").as[String].head()
    val snapD = IndexBuilder.delete(spark, dirU, col("path") === vic)
    assert(snapD.stats.numDocs == snapU.stats.numDocs - 1)
    val snapA = IndexBuilder.append(spark, fresh.filter($"path" === vic), dirU)
    assert(snapA.stats.numDocs == snapD.stats.numDocs) // append refuses
    val snapR = IndexBuilder.upsert(spark, fresh.filter($"path" === vic), dirU)
    assert(snapR.stats.numDocs == snapU.stats.numDocs)
    val cmp2 = graft.compare.Harness.replay(spark, snapR, updated.toDF(), queries, k)
    assert(cmp2.filter(!$"identical").count() == 0)
    assert(graft.compare.Harness.shaViolations(spark, snapR, updated.toDF()).count() == 0)
  }

  test("significant terms: JLH vs direct corpus recount, delete-exact") {
    val dirS = TestSpark.tempDir("graft-sigterms")
    val all = CorpusGen.corpus(spark, 600L, seed = 53L).cache()
    IndexBuilder.build(spark, all, dirS, BuildConfig(numShards = 4, commitEvery = 4))
    val term = spark.read.parquet(
        graft.table.SnapshotCatalog.load(spark, dirS).get.termstatsDir)
      .filter($"df".between(30, 300) && $"term".rlike("^[a-z]+$"))
      .orderBy($"df".desc, $"term".asc).select("term").as[String].head()
    val qs = Seq(graft.corpus.RefQuery(0, term))

    // independent recount straight off the tokenized corpus
    def direct(corpusDs: org.apache.spark.sql.Dataset[graft.corpus.SourceFile]) = {
      val toks = corpusDs.toDF()
        .select(IndexBuilder.docIdCol.as("doc_id"),
          array_distinct(graft.analyze.Tokenizer.tokens($"content")).as("ts"))
        .cache()
      val n = toks.count()
      val m = toks.filter(array_contains($"ts", term))
      val fgN = m.count()
      val fg = m.select(explode($"ts").as("t")).groupBy("t")
        .agg(count(lit(1)).as("fg_df")).filter($"fg_df" >= 3)
      val bg = toks.select(explode($"ts").as("t")).groupBy("t")
        .agg(count(lit(1)).as("bg_df"))
      val fgPct = $"fg_df".cast("double") / lit(fgN)
      val bgPct = $"bg_df".cast("double") / lit(n.toDouble)
      val out = fg.join(bg, "t")
        .withColumn("score", (fgPct - bgPct) * (fgPct / bgPct))
        .filter(fgPct > bgPct)
        .orderBy($"score".desc, $"t".asc).limit(10)
        .select($"t", $"fg_df", $"bg_df", $"score")
        .as[(String, Long, Long, Double)].collect().toSeq
      toks.unpersist(false)
      out
    }

    def engine() = Aggs.significantTerms(spark, dirS, qs, 10)
      .orderBy("rank").select($"term", $"fg_df", $"bg_df", $"score")
      .as[(String, Long, Long, Double)].collect().toSeq

    val e0 = engine()
    assert(e0.nonEmpty && e0.map(_._1).contains(term))
    assert(e0 == direct(all))
    // delete a slice (dl is a docmap column); fg (staged ∖ tombstones)
    // AND bg (delete-exact termstats) must both reflect survivors exactly
    val snapD = IndexBuilder.delete(spark, dirS, pmod($"dl", lit(7)) === 0)
    assert(snapD.stats.numDocs < 600)
    val survivors = all.toDF()
      .filter(pmod(size(graft.analyze.Tokenizer.tokens($"content")), lit(7)) =!= 0)
      .as(org.apache.spark.sql.Encoders.product[graft.corpus.SourceFile])
    assert(survivors.count() == snapD.stats.numDocs)
    assert(engine() == direct(survivors))
  }

  test("reindex: reshard + add positions, live-only, compaction-safe, bit-identical") {
    val sf = org.apache.spark.sql.Encoders.product[graft.corpus.SourceFile]
    val dirA = TestSpark.tempDir("graft-reidx-src")
    val all = CorpusGen.corpus(spark, 900L, seed = 61L).cache()
    IndexBuilder.build(spark, all, dirA, BuildConfig(numShards = 4, commitEvery = 4))
    // churn the source: append, upsert (replaces content), delete
    val extra = CorpusGen.corpus(spark, 80L, seed = 62L).toDF()
      .withColumn("path", concat(lit("x/"), $"path")).as(sf)
    IndexBuilder.append(spark, extra, dirA)
    val changed = all.toDF().filter(pmod(xxhash64($"path"), lit(9)) === 3)
      .withColumn("content", concat($"content", lit(" reshardmarker"))).as(sf)
    IndexBuilder.upsert(spark, changed, dirA)
    val snapA = IndexBuilder.delete(spark, dirA, pmod($"dl", lit(5)) === 0)
    // the expected live corpus, derived independently of the index
    val effective = all.toDF().filter(pmod(xxhash64($"path"), lit(9)) =!= 3).as(sf)
      .unionAll(changed).unionAll(extra)
    val expected = effective.toDF()
      .filter(pmod(size(graft.analyze.Tokenizer.tokens($"content")), lit(5)) =!= 0)
      .as(sf).cache()
    assert(expected.count() == snapA.stats.numDocs)

    // reshard 4 → 8 and turn positions on, from staged tokens alone
    val dirB = TestSpark.tempDir("graft-reidx-dst")
    val snapB = IndexBuilder.reindex(spark, dirA, dirB,
      BuildConfig(numShards = 8, commitEvery = 8, positions = true))
    assert(snapB.numShards == 8 && snapB.positions && snapB.stats == snapA.stats)
    def hits(snap: graft.table.Snapshot) =
      Wand.searchSnapshot(spark, snap, queries, k).orderBy("query_id", "rank")
        .as[(Int, Int, String, Double)].collect().toSeq
    assert(hits(snapB) == hits(snapA) && hits(snapB).nonEmpty)
    val cmp = graft.compare.Harness.replay(spark, snapB, expected.toDF(), queries, k)
    assert(cmp.count() > 0 && cmp.filter(!$"identical").count() == 0)
    assert(graft.compare.Harness.shaViolations(spark, snapB, expected.toDF()).count() == 0)
    // the destination is phrase-searchable now (source was positionless)
    val phrase = Seq(graft.corpus.RefQuery(0,
      graft.analyze.Tokenizer.tokenize(CorpusGen.contentFor(2L, 61L))
        .slice(3, 6).mkString(" ")))
    val pg = Golden.phraseTopK(spark,
      expected.toDF().select(IndexBuilder.docIdCol.as("doc_id"), $"content"), phrase, k)
      .as[(Int, Int, String, Double)].collect().toSeq
    val pf = Wand.phraseSearchSnapshot(spark, snapB, phrase, k)
      .as[(Int, Int, String, Double)].collect().toSeq
    assert(pf == pg)
    // compaction purges tombstones AND docmap rows but keeps every staged
    // row — reindex must still lift ONLY live docs afterwards
    val snapAC = IndexBuilder.compact(spark, dirA)
    val dirC = TestSpark.tempDir("graft-reidx-dst2")
    val snapC = IndexBuilder.reindex(spark, dirA, dirC,
      BuildConfig(numShards = 4, commitEvery = 4))
    assert(snapC.stats == snapAC.stats && hits(snapC) == hits(snapA))
  }

  test("compact: one segment generation, tombstones purged, bit-identical") {
    val dirK = TestSpark.tempDir("graft-compact")
    val all = CorpusGen.corpus(spark, 1000L, seed = 77L).cache()
    // three generations (build + two appends) at three avgdls, then a delete
    val parts = (0 until 3).map(i => all.filter(pmod(xxhash64($"path"), lit(3)) === i))
    var snap = IndexBuilder.build(spark, parts(0), dirK,
      BuildConfig(numShards = 4, commitEvery = 4, heavyThreshold = 200, saltBuckets = 4))
    parts.drop(1).foreach(p => snap = IndexBuilder.append(spark, p, dirK))
    val delPred = pmod(xxhash64($"doc_id"), lit(4)) === 1
    val allId = all.withColumn("doc_id", IndexBuilder.docIdCol).cache()
    snap = IndexBuilder.delete(spark, dirK, delPred)
    assert(snap.segmentDirs.size == 3 && snap.tombstoneDirs.nonEmpty)
    val before = Wand.searchSnapshot(spark, snap, queries, k)
      .orderBy("query_id", "rank").collect().toSeq
    val snapC = IndexBuilder.compact(spark, dirK)
    // structure collapsed, mask cleared, stats untouched
    assert(snapC.segmentDirs.size == 1 && snapC.docmapDirs.size == 1)
    assert(snapC.tombstoneDirs.isEmpty && snapC.stats == snap.stats)
    // results bit-identical across the compaction
    val after = Wand.searchSnapshot(spark, snapC, queries, k)
      .orderBy("query_id", "rank").collect().toSeq
    assert(before == after)
    // compacted termstats (re-derived from purged segments) == the
    // delete-updated termstats they must agree with
    val tsD = spark.read.parquet(snap.termstatsDir)
      .withColumnRenamed("df", "df0").withColumnRenamed("cf", "cf0")
    val tsC = spark.read.parquet(snapC.termstatsDir)
    assert(tsD.join(tsC, Seq("term"), "full_outer")
      .filter($"df".isNull || $"df0".isNull || $"df" =!= $"df0" || $"cf" =!= $"cf0")
      .count() == 0)
    // docmap holds exactly the survivors; deleted postings physically gone
    val survivorsDf = allId.filter(!delPred).drop("doc_id")
    val dm = spark.read.parquet(snapC.docmapDirs: _*)
    assert(dm.count() == survivorsDf.count())
    assert(dm.join(allId.filter(delPred).select("doc_id"),
      Seq("doc_id"), "left_semi").count() == 0)
    // golden over the surviving corpus still bit-identical (no mask left)
    val cmp = graft.compare.Harness.replay(spark, snapC, survivorsDf, queries, k)
    assert(cmp.count() > 0 && cmp.filter(!$"identical").count() == 0)
    // the lifecycle continues: an append AFTER compaction extends the
    // compacted generation and stays identical vs golden over the union
    val fresh = CorpusGen.corpus(spark, 200L, seed = 78L)
      .withColumn("repo", concat(lit("fresh-"), $"repo")).as[graft.corpus.SourceFile]
    val snapA = IndexBuilder.append(spark, fresh, dirK)
    val union = survivorsDf.unionByName(fresh.toDF())
    val cmp2 = graft.compare.Harness.replay(spark, snapA, union, queries, k)
    assert(cmp2.count() > 0 && cmp2.filter(!$"identical").count() == 0)
  }

  test("torn append after a delete: repair finalize subtracts tombstoned stats") {
    val dirT = TestSpark.tempDir("graft-torn-delete")
    val all = CorpusGen.corpus(spark, 800L, seed = 91L).cache()
    val cut = all.agg(avg(length($"content"))).head().getDouble(0)
    val base = all.filter(length($"content") < cut)
    val extra = all.filter(length($"content") >= cut)
    IndexBuilder.build(spark, base, dirT,
      BuildConfig(numShards = 4, commitEvery = 4, heavyThreshold = 200, saltBuckets = 4))
    val delPred = pmod(xxhash64($"path"), lit(7)) === 0
    IndexBuilder.delete(spark, dirT, delPred)
    // kill between the segments commit and finalize: complete snapshot,
    // stale (delete-generation) termstats — the documented torn window
    intercept[RuntimeException] {
      IndexBuilder.append(spark, extra, dirT,
        BuildConfig(numShards = 4, failBeforeFinalize = true))
    }
    // at-least-once redelivery dedupes to zero and must REPAIR: the
    // recovery finalize re-derives termstats from segments that still
    // hold the tombstoned postings, so it has to subtract their (df, cf)
    val repaired = IndexBuilder.append(spark, extra, dirT)
    assert(repaired.isComplete)
    val cmp = graft.compare.Harness.replay(spark, repaired, all.toDF(), queries, k)
    assert(cmp.count() > 0 && cmp.filter(!$"identical").count() == 0)
  }

  test("delete inside the torn-append window repairs termstats first") {
    val dirD = TestSpark.tempDir("graft-torn-delete-first")
    val all = CorpusGen.corpus(spark, 800L, seed = 47L).cache()
    val cut = all.agg(avg(length($"content"))).head().getDouble(0)
    val base = all.filter(length($"content") < cut)
    val extra = all.filter(length($"content") >= cut)
    IndexBuilder.build(spark, base, dirD,
      BuildConfig(numShards = 4, commitEvery = 4, heavyThreshold = 200, saltBuckets = 4))
    intercept[RuntimeException] {
      IndexBuilder.append(spark, extra, dirD,
        BuildConfig(numShards = 4, failBeforeFinalize = true))
    }
    // delete lands INSIDE the torn window: subtracting from the stale
    // termstats and committing it under a fresh d{id} tag would make
    // termstatsFresh true and mask the tear forever (new-batch terms stuck
    // at df = 0). The fix finalizes forward first, then deletes.
    val delPred = pmod(xxhash64($"path"), lit(5)) === 0
    val snapDel = IndexBuilder.delete(spark, dirD, delPred)
    assert(snapDel.isComplete)
    val live = all.filter(!(pmod(xxhash64($"path"), lit(5)) === 0))
    val cmp = graft.compare.Harness.replay(spark, snapDel, live.toDF(), queries, k)
    assert(cmp.count() > 0 && cmp.filter(!$"identical").count() == 0)
  }

  test("ordinals are never reused across a delete+compact+append cycle") {
    val dirO = TestSpark.tempDir("graft-ord-reuse")
    val all = CorpusGen.corpus(spark, 800L, seed = 37L).cache()
    val inA = pmod(xxhash64($"path"), lit(2)) === 0
    IndexBuilder.build(spark, all.filter(inA), dirO,
      BuildConfig(numShards = 4, commitEvery = 4, heavyThreshold = 200, saltBuckets = 4))
    // delete ~3/4 of the base (shard-max ords included), purge via compact
    val p1 = pmod(xxhash64($"path"), lit(4)) < 3
    IndexBuilder.delete(spark, dirO, p1)
    IndexBuilder.compact(spark, dirO)
    // the append's ord base must come from the staging ARCHIVE, not the
    // (purged) live docmap — otherwise the freed shard maxima are re-issued
    val snapApp = IndexBuilder.append(spark, all.filter(!inA), dirO)
    assert(snapApp.isComplete)
    val fs = new org.apache.hadoop.fs.Path(dirO)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stagings = fs.listStatus(new org.apache.hadoop.fs.Path(dirO))
      .map(_.getPath).filter(_.getName.startsWith("staging")).map(_.toString)
    val stagedOrds = stagings.map(p =>
        spark.read.parquet(p).select($"shard", $"ord"))
      .reduce(_ unionByName _)
    assert(stagedOrds.groupBy("shard", "ord").count().filter($"count" > 1).count() == 0,
      "a (shard, ord) pair was assigned twice across the index history")
    // a second delete recomputes term deltas by (shard, ord) semi-join —
    // with reuse it would double-subtract; identity over the live set pins it
    val p2 = pmod(xxhash64($"commit"), lit(5)) === 0
    val snapDel2 = IndexBuilder.delete(spark, dirO, p2)
    val live = all.filter((inA && !p1 && !p2) || (!inA && !p2))
    val cmp = graft.compare.Harness.replay(spark, snapDel2, live.toDF(), queries, k)
    assert(cmp.count() > 0 && cmp.filter(!$"identical").count() == 0)
  }

  test("conjunctive mode: golden and WAND identical; every hit has ALL query terms") {
    val golden = Golden.topK(spark, docs, queries, k, conjunctive = true)
      .withColumnRenamed("doc_id", "g_doc").withColumnRenamed("score", "g_score")
    val fast = Wand.searchSnapshot(spark, snap, queries, k, conjunctive = true)
      .withColumnRenamed("doc_id", "f_doc").withColumnRenamed("score", "f_score").cache()
    val cmp = golden.join(fast, Seq("query_id", "rank"), "full_outer").cache()
    assert(cmp.count() > 0, "conjunctive returned nothing for every query")
    assert(cmp.filter($"g_doc".isNull || $"f_doc".isNull ||
      $"g_doc" =!= $"f_doc" || $"g_score" =!= $"f_score").count() == 0)
    // AND semantics: every hit contains every one of its query's terms
    val qt = queries.flatMap(q => Golden.queryTerms(q.text).map(t => (q.query_id, t)))
      .toDF("query_id", "term")
    val docTerms = docs.select($"doc_id",
      explode(array_distinct(graft.analyze.Tokenizer.tokens($"content"))).as("term"))
      .withColumn("has", lit(1))
    val missingTerm = fast.select($"query_id", $"f_doc".as("doc_id"))
      .join(qt, Seq("query_id"))
      .join(docTerms, Seq("doc_id", "term"), "left")
      .filter($"has".isNull)
    assert(missingTerm.count() == 0,
      s"hits missing a required term:\n${missingTerm.collect().take(10).mkString("\n")}")
    // the constraint is real on this corpus: Zipf queries carry rare terms,
    // so the conjunction must return strictly fewer rows than OR-mode top-k
    val disjRows = Wand.searchSnapshot(spark, snap, queries, k).count()
    assert(fast.count() < disjRows,
      s"conjunctive (${fast.count()}) did not constrain vs disjunctive ($disjRows)")
  }

  test("filtered search: predicate restricts hits, scores stay full-corpus, golden-identical") {
    val pred = col("lang") === "scala" // 25% of the round-robin corpus
    val accepted = corpus.filter(pred).select(IndexBuilder.docIdCol.as("doc_id")).cache()
    // OR mode: golden (docFilter) vs WAND (filter runs) — rank + bit-identical
    val golden = Golden.topK(spark, docs, queries, k, docFilter = Some(accepted.toDF()))
      .withColumnRenamed("doc_id", "g_doc").withColumnRenamed("score", "g_score")
    val fast = Wand.searchSnapshot(spark, snap, queries, k, filter = Some(pred)).cache()
    val fastR = fast
      .withColumnRenamed("doc_id", "f_doc").withColumnRenamed("score", "f_score")
    val cmp = golden.join(fastR, Seq("query_id", "rank"), "full_outer").cache()
    assert(cmp.count() > 0)
    assert(cmp.filter($"g_doc".isNull || $"f_doc".isNull ||
      $"g_doc" =!= $"f_doc" || $"g_score" =!= $"f_score").count() == 0)
    // every hit satisfies the predicate
    assert(fast.join(accepted, Seq("doc_id"), "left_anti").count() == 0)
    // Lucene filter semantics: a (query, doc) hit present in BOTH the
    // filtered and unfiltered result carries the SAME score — the filter
    // restricts candidates, it never rescores
    val unfiltered = Wand.searchSnapshot(spark, snap, queries, k)
      .select($"query_id", $"doc_id", $"score".as("u_score"))
    assert(fast.join(unfiltered, Seq("query_id", "doc_id"))
      .filter($"score" =!= $"u_score").count() == 0)
    // and the filter is REAL: some unfiltered winner was excluded
    assert(unfiltered.select($"query_id", $"doc_id")
      .join(fast, Seq("query_id", "doc_id"), "left_anti").count() > 0)
    // conjunctive + filter composes, identical vs golden
    val gAnd = Golden.topK(spark, docs, queries, k, conjunctive = true,
        docFilter = Some(accepted.toDF()))
      .withColumnRenamed("doc_id", "g_doc").withColumnRenamed("score", "g_score")
    val fAnd = Wand.searchSnapshot(spark, snap, queries, k, conjunctive = true,
        filter = Some(pred))
      .withColumnRenamed("doc_id", "f_doc").withColumnRenamed("score", "f_score")
    val cmpAnd = gAnd.join(fAnd, Seq("query_id", "rank"), "full_outer")
    assert(cmpAnd.filter($"g_doc".isNull || $"f_doc".isNull ||
      $"g_doc" =!= $"f_doc" || $"g_score" =!= $"f_score").count() == 0)
    // a predicate matching nothing returns nothing (no crash, no hits)
    assert(Wand.searchSnapshot(spark, snap, queries, k,
      filter = Some(col("lang") === "cobol")).count() == 0)
  }

  test("exists/missing: null metadata indexes normally and partitions the match set") {
    // ~20% of docs lose their lang — null optional metadata is NOT a bad
    // row (doc identity is (repo, path, commit)); exists/missing filter on
    // non-null-ness, OpenSearch `exists` semantics
    val nulled = corpus.toDF()
      .withColumn("lang", when(abs(xxhash64($"path")) % 5 === 0,
        lit(null: String)).otherwise($"lang"))
      .as[graft.corpus.SourceFile]
    val dirE = TestSpark.tempDir("graft-exists")
    val snapE = IndexBuilder.build(spark, nulled, dirE,
      BuildConfig(numShards = 4, commitEvery = 4))
    val fq = queries.take(4)
    val deep = numDocs.toInt * 2 // full depth: the partition check needs every match
    val ex = Wand.searchSnapshot(spark, snapE, fq, deep,
      filter = Some(Wand.fieldExists("lang"))).cache()
    val mi = Wand.searchSnapshot(spark, snapE, fq, deep,
      filter = Some(Wand.fieldMissing("lang"))).cache()
    val all = Wand.searchSnapshot(spark, snapE, fq, deep).cache()
    // both sides are non-trivial
    assert(ex.count() > 0 && mi.count() > 0)
    // every exists-hit has a lang; every missing-hit has none
    val dm = spark.read.parquet(snapE.docmapDirs: _*).select($"doc_id", $"lang")
    assert(ex.join(dm, "doc_id").filter($"lang".isNull).count() == 0)
    assert(mi.join(dm, "doc_id").filter($"lang".isNotNull).count() == 0)
    // exists ∪ missing partitions the unfiltered match set, scores intact
    // (filter clauses never rescore)
    val union = ex.select($"query_id", $"doc_id", $"score")
      .unionByName(mi.select($"query_id", $"doc_id", $"score"))
    val cmp = union.join(all.select($"query_id", $"doc_id", $"score".as("a_score")),
      Seq("query_id", "doc_id"), "full_outer")
    assert(cmp.filter($"score".isNull || $"a_score".isNull ||
      $"score" =!= $"a_score").count() == 0,
      "exists ∪ missing must equal the unfiltered match set with identical scores")
    assert(ex.join(mi.select($"query_id", $"doc_id"),
      Seq("query_id", "doc_id"), "inner").count() == 0, "sides must be disjoint")
    ex.unpersist(false); mi.unpersist(false); all.unpersist(false)
  }

  test("ids query: live identities match at constant score, tombstoned ones vanish") {
    val dirI = TestSpark.tempDir("graft-ids")
    IndexBuilder.build(spark, corpus, dirI, BuildConfig(numShards = 4, commitEvery = 4))
    val someIds = corpus.select(IndexBuilder.docIdCol.as("id"))
      .orderBy($"id").limit(5).as[String].collect().toSeq
    val got = Wand.idsSearch(spark, dirI,
      Seq(0 -> someIds, 1 -> Seq(someIds.head, "nosuchid")), 10, boost = 2.0)
    // every requested live id matches exactly once, in doc_id order, at boost
    assert(got.filter($"query_id" === 0).count() == 5)
    assert(got.filter($"query_id" === 0).orderBy($"rank")
      .select($"doc_id").as[String].collect().toSeq == someIds.sorted)
    assert(got.filter($"query_id" === 1).count() == 1, "unknown id must not match")
    assert(got.filter($"score" =!= 2.0).count() == 0)
    // tombstone one requested id: it must vanish from the match set
    IndexBuilder.delete(spark, dirI, col("doc_id") === someIds(2))
    val after = Wand.idsSearch(spark, dirI, Seq(0 -> someIds), 10)
    assert(after.count() == 4)
    assert(after.filter($"doc_id" === someIds(2)).count() == 0,
      "tombstoned id must not match the ids query")
    intercept[IllegalArgumentException] {
      Wand.idsSearch(spark, dirI, Seq(0 -> Seq.empty[String]), 10)
    }
    intercept[IllegalArgumentException] {
      Wand.idsSearch(spark, dirI, Seq(0 -> someIds, 0 -> someIds), 10)
    }
  }

  test("match_bool_prefix: last analyzed token prefixes, equals the explicit rewrite") {
    val qs = Seq(graft.corpus.RefQuery(0, "spark qu"),
      graft.corpus.RefQuery(1, "filter groupSo")) // camelCase → (group, so), so* prefixes
    val got = Wand.matchBoolPrefixSnapshot(spark, snap, qs, k, maxExpansions = 6)
      .withColumnRenamed("doc_id", "g_doc").withColumnRenamed("score", "g_score")
    val rew = Seq(graft.corpus.RefQuery(0, "spark qu*"),
      graft.corpus.RefQuery(1, "filter group so*"))
    val exp = Wand.prefixSearchSnapshot(spark, snap, rew, k, maxExpansions = 6)
      .withColumnRenamed("doc_id", "e_doc").withColumnRenamed("score", "e_score")
    val cmp = got.join(exp, Seq("query_id", "rank"), "full_outer")
    assert(cmp.count() > 0)
    assert(cmp.filter($"g_doc".isNull || $"e_doc".isNull ||
      $"g_doc" =!= $"e_doc" || $"g_score" =!= $"e_score").count() == 0,
      "match_bool_prefix must equal prefixSearch over the star-rewritten text")
    intercept[IllegalArgumentException] {
      Wand.matchBoolPrefixSnapshot(spark, snap,
        Seq(graft.corpus.RefQuery(9, "@@@ !!")), k)
    }
  }

  test("sloppy phrase (span_near in-order): slop budget pinned on a hand corpus") {
    val hand = Seq(
      ("r", "s0", "c", "scala", "alpha beta"),
      ("r", "s1", "c", "scala", "alpha pad beta"),          // span 2 → slop 1
      ("r", "s2", "c", "scala", "alpha pad pad beta"),      // slop 2
      ("r", "s3", "c", "scala", "beta alpha"),              // reversed: never
      ("r", "s4", "c", "scala", "alpha pad pad pad beta"),  // slop 3
      ("r", "s5", "c", "scala", "alpha pad beta gap gamma") // 3-term slop 2
    ).toDF("repo", "path", "commit", "lang", "content").as[graft.corpus.SourceFile]
    val dirS = TestSpark.tempDir("graft-phrase-slop")
    IndexBuilder.build(spark, hand, dirS,
      BuildConfig(numShards = 2, commitEvery = 2, positions = true))
    val handDocs = hand.select(IndexBuilder.docIdCol.as("doc_id"), $"content")
    val idFor = hand.toDF().withColumn("doc_id", IndexBuilder.docIdCol)
      .select($"path", $"doc_id").as[(String, String)].collect().toMap
    def hits(text: String, slop: Int): Set[String] =
      Wand.phraseSearch(spark, dirS, Seq(graft.corpus.RefQuery(0, text)), 10,
        slop = slop).select("doc_id").as[String].collect().toSet
    assert(hits("alpha beta", 0) == Set(idFor("s0")))
    assert(hits("alpha beta", 1) == Set(idFor("s0"), idFor("s1"), idFor("s5")))
    assert(hits("alpha beta", 2) == Set(idFor("s0"), idFor("s1"), idFor("s2"), idFor("s5")))
    assert(hits("alpha beta", 3) ==
      Set(idFor("s0"), idFor("s1"), idFor("s2"), idFor("s4"), idFor("s5")))
    // in-order: the reversed doc never matches at any slop
    assert(!hits("alpha beta", 10).contains(idFor("s3")))
    // 3-term chain pays both gaps from one budget
    assert(hits("alpha beta gamma", 1) == Set.empty[String])
    assert(hits("alpha beta gamma", 2) == Set(idFor("s5")))
    // golden agrees bitwise at every slop
    Seq(0, 1, 2, 3).foreach { sl =>
      val qs = Seq(graft.corpus.RefQuery(0, "alpha beta"))
      val g = Golden.phraseTopK(spark, handDocs, qs, 10, slop = sl)
        .withColumnRenamed("doc_id", "g_doc").withColumnRenamed("score", "g_score")
      val f = Wand.phraseSearch(spark, dirS, qs, 10, slop = sl)
        .withColumnRenamed("doc_id", "f_doc").withColumnRenamed("score", "f_score")
      val cmp = g.join(f, Seq("query_id", "rank"), "full_outer")
      assert(cmp.filter($"g_doc".isNull || $"f_doc".isNull ||
        $"g_doc" =!= $"f_doc" || $"g_score" =!= $"f_score").count() == 0, s"slop $sl")
    }
    intercept[IllegalArgumentException] {
      Wand.phraseSearch(spark, dirS, Seq(graft.corpus.RefQuery(0, "alpha beta")),
        10, slop = -1)
    }
  }

  test("phrase-prefix (match_phrase_prefix): expansion slot pinned on a hand corpus") {
    val hand = Seq(
      ("r", "p0", "c", "scala", "alpha beta"),
      ("r", "p1", "c", "scala", "alpha betamax"),
      ("r", "p2", "c", "scala", "alpha pad beta"),     // needs slop 1
      ("r", "p3", "c", "scala", "beta alpha"),         // reversed: never
      ("r", "p4", "c", "scala", "alpha gamma"),        // no expansion term
      ("r", "p5", "c", "scala", "betamax alpha beta"), // match not at 0
      ("r", "p6", "c", "scala", "alpha beta gamma")    // 3-slot target
    ).toDF("repo", "path", "commit", "lang", "content").as[graft.corpus.SourceFile]
    val dirP = TestSpark.tempDir("graft-phrase-prefix")
    IndexBuilder.build(spark, hand, dirP,
      BuildConfig(numShards = 2, commitEvery = 2, positions = true))
    val idFor = hand.toDF().withColumn("doc_id", IndexBuilder.docIdCol)
      .select($"path", $"doc_id").as[(String, String)].collect().toMap
    def hits(text: String, slop: Int = 0): Set[String] =
      Wand.phrasePrefixSearch(spark, dirP, Seq(graft.corpus.RefQuery(0, text)),
        10, slop = slop).select("doc_id").as[String].collect().toSet
    // "bet" expands to {beta, betamax}: consecutive matches only at slop 0
    assert(hits("alpha bet") ==
      Set(idFor("p0"), idFor("p1"), idFor("p5"), idFor("p6")))
    assert(hits("alpha bet", 1) ==
      Set(idFor("p0"), idFor("p1"), idFor("p2"), idFor("p5"), idFor("p6")))
    // reversed order never matches; no-expansion-term doc never matches
    assert(!hits("alpha bet", 10).contains(idFor("p3")))
    assert(!hits("alpha bet", 10).contains(idFor("p4")))
    // 3 slots: two fixed + prefix
    assert(hits("alpha beta gam") == Set(idFor("p6")))
    // a prefix matching no dictionary term matches nothing
    assert(hits("alpha zzz") == Set.empty[String])
    // scores are the fixed-terms-only BM25 — bit-identical to golden over
    // the shared expansion (golden pin on a generated positional index)
    val corpusP = CorpusGen.corpus(spark, 400L, seed = 17L).cache()
    val dirG = TestSpark.tempDir("graft-pp-gen")
    val snapG = IndexBuilder.build(spark, corpusP, dirG,
      BuildConfig(numShards = 4, commitEvery = 4, positions = true))
    val docsG = corpusP.select(IndexBuilder.docIdCol.as("doc_id"), $"content")
    val qs = Seq(graft.corpus.RefQuery(0, "spark que"),
      graft.corpus.RefQuery(1, "query jo"), graft.corpus.RefQuery(2, "part fil"))
    Seq(0, 2).foreach { sl =>
      val (qf, qe) = Wand.phrasePrefixExpand(spark, snapG, qs)
      val g = Golden.phrasePrefixTopK(spark, docsG, qf, qe, k, slop = sl)
        .withColumnRenamed("doc_id", "g_doc").withColumnRenamed("score", "g_score")
      val f = Wand.phrasePrefixSearch(spark, dirG, qs, k, slop = sl)
        .withColumnRenamed("doc_id", "f_doc").withColumnRenamed("score", "f_score")
      val cmp = g.join(f, Seq("query_id", "rank"), "full_outer")
      assert(cmp.filter($"g_doc".isNull || $"f_doc".isNull ||
        $"g_doc" =!= $"f_doc" || $"g_score" =!= $"f_score").count() == 0, s"slop $sl")
      assert(f.count() > 0, s"slop $sl found no hits — test corpus too thin")
    }
    corpusP.unpersist()
    // single analyzed token: use prefixSearch instead
    intercept[IllegalArgumentException] {
      Wand.phrasePrefixSearch(spark, dirP, Seq(graft.corpus.RefQuery(0, "alpha")), 10)
    }
    // positionless index refuses
    intercept[IllegalArgumentException] {
      Wand.phrasePrefixSearchSnapshot(spark, snap,
        Seq(graft.corpus.RefQuery(0, "alpha bet")), 10)
    }
  }

  test("rescore: phrase proximity re-ranks the base window, golden-identical") {
    snap // force the shared index (rescore reads its staging archive)
    // a query guaranteed to phrase-match at least one doc: two consecutive
    // analyzed tokens lifted from a real document
    val sample = docs.orderBy($"doc_id").limit(1).select("content").as[String].head()
    val ts = graft.analyze.Tokenizer.tokenize(sample)
    assert(ts.length >= 2)
    val handQ = graft.corpus.RefQuery(77, s"${ts(0)} ${ts(1)}")
    val qs = queries.take(3) :+ handQ
    val window = 50
    val got = Wand.rescorePhrase(spark, indexDir, qs, k, window,
      slop = 1, queryWeight = 1.0, rescoreWeight = 2.0).cache()
    val exp = Golden.rescorePhraseTopK(spark, docs, qs, k, window,
      slop = 1, queryWeight = 1.0, rescoreWeight = 2.0)
    val cmp = exp.withColumnRenamed("doc_id", "g_doc")
      .withColumnRenamed("score", "g_score")
      .join(got.withColumnRenamed("doc_id", "f_doc")
        .withColumnRenamed("score", "f_score"),
        Seq("query_id", "rank"), "full_outer").cache()
    assert(cmp.count() > 0)
    assert(cmp.filter($"g_doc".isNull || $"f_doc".isNull ||
      $"g_doc" =!= $"f_doc" || $"g_score" =!= $"f_score").count() == 0)
    // the secondary actually engaged: some hit scores above its weighted
    // base (i.e. the phrase bonus is nonzero for at least one window doc)
    val base = Wand.search(spark, indexDir, qs, window)
      .withColumnRenamed("score", "base_score").drop("rank")
    assert(got.join(base, Seq("query_id", "doc_id"))
      .filter($"score" > $"base_score" + 1e-12).count() > 0)
    // rescoreWeight = 0 degenerates to the base ranking exactly
    val noop = Wand.rescorePhrase(spark, indexDir, qs, k, window,
      slop = 1, queryWeight = 1.0, rescoreWeight = 0.0)
    val baseK = Wand.search(spark, indexDir, qs, k)
    val cmp0 = baseK.withColumnRenamed("doc_id", "b_doc")
      .withColumnRenamed("score", "b_score")
      .join(noop.withColumnRenamed("doc_id", "n_doc")
        .withColumnRenamed("score", "n_score"),
        Seq("query_id", "rank"), "full_outer")
    assert(cmp0.filter($"b_doc".isNull || $"n_doc".isNull ||
      $"b_doc" =!= $"n_doc" || $"b_score" =!= $"n_score").count() == 0)
    intercept[IllegalArgumentException] {
      Wand.rescorePhrase(spark, indexDir, qs, k, k - 1)
    }
  }

  test("function_score: field_value_factor over the full match set, golden-identical") {
    val fq = queries.take(2) :+ graft.corpus.RefQuery(993, "zzznosuchterm")
    val got = Wand.functionScoreSearchSnapshot(spark, snap, fq, k, "dl",
      factor = 1.0, modifier = "log1p", boostMode = "multiply").cache()
    val full = Golden.topK(spark, docs, fq, numDocs.toInt)
    val meta = corpus.select(IndexBuilder.docIdCol.as("doc_id"),
      size(graft.analyze.Tokenizer.tokens($"content")).cast("double").as("fv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"score".desc, $"doc_id".asc)
    def pin(factor: Double, modifier: String, boostMode: String): Unit = {
      val g = Wand.functionScoreSearchSnapshot(spark, snap, fq, k, "dl",
        factor, modifier, boostMode)
      val exp = full.join(meta, "doc_id")
        .withColumn("score",
          Wand.functionScoreCombine($"score", $"fv", factor, modifier, boostMode))
        .withColumn("rank", row_number().over(w)).filter($"rank" <= k)
        .select($"query_id", $"rank", $"doc_id", $"score")
      val cmp = exp.withColumnRenamed("doc_id", "g_doc")
        .withColumnRenamed("score", "g_score")
        .join(g.withColumnRenamed("doc_id", "f_doc")
          .withColumnRenamed("score", "f_score"),
          Seq("query_id", "rank"), "full_outer")
      assert(cmp.filter($"g_doc".isNull || $"f_doc".isNull ||
        $"g_doc" =!= $"f_doc" || $"g_score" =!= $"f_score").count() == 0,
        s"($factor, $modifier, $boostMode)")
    }
    pin(1.0, "log1p", "multiply")
    pin(2.5, "sqrt", "sum")
    pin(1.0, "none", "multiply")
    // the field factor actually reorders: got differs from plain BM25 rank
    val plain = Wand.searchSnapshot(spark, snap, fq, k)
    assert(got.select("query_id", "rank", "doc_id").except(
      plain.select("query_id", "rank", "doc_id")).count() > 0)
    assert(got.filter($"query_id" === 993).count() == 0)
    intercept[IllegalArgumentException] {
      Wand.functionScoreSearchSnapshot(spark, snap, fq, k, "dl",
        modifier = "cube")
    }
    intercept[IllegalArgumentException] {
      Wand.functionScoreSearchSnapshot(spark, snap, fq, k, "dl",
        boostMode = "avg")
    }
  }

  test("rank_feature / distance_feature: feature boosts, golden-identical") {
    assert(snap.isComplete) // force the shared lazy build: the dir-based
    // API below loads the committed snapshot from indexDir
    val fq = queries.take(2) :+ graft.corpus.RefQuery(991, "zzznosuchterm")
    val full = Golden.topK(spark, docs, fq, numDocs.toInt)
    val meta = corpus.select(IndexBuilder.docIdCol.as("doc_id"),
      size(graft.analyze.Tokenizer.tokens($"content")).cast("double").as("fv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"score".desc, $"doc_id".asc)
    def pin(expr: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
            got: org.apache.spark.sql.DataFrame, tag: String): Unit = {
      val exp = full.join(meta, "doc_id")
        .withColumn("score", $"score" + expr($"fv"))
        .withColumn("rank", row_number().over(w)).filter($"rank" <= k)
        .select($"query_id", $"rank", $"doc_id", $"score")
      val cmp = exp.withColumnRenamed("doc_id", "g_doc")
        .withColumnRenamed("score", "g_score")
        .join(got.withColumnRenamed("doc_id", "f_doc")
          .withColumnRenamed("score", "f_score"),
          Seq("query_id", "rank"), "full_outer")
      assert(cmp.filter($"g_doc".isNull || $"f_doc".isNull ||
        $"g_doc" =!= $"f_doc" || $"g_score" =!= $"f_score").count() == 0, tag)
    }
    pin(fv => Wand.rankFeatureExpr(fv, "saturation", 2.0, pivot = 40.0),
      Wand.rankFeatureSearch(spark, indexDir, fq, k, "dl", "saturation",
        boost = 2.0, pivot = 40.0), "saturation")
    pin(fv => Wand.rankFeatureExpr(fv, "log", 1.5, scaling = 3.0),
      Wand.rankFeatureSearch(spark, indexDir, fq, k, "dl", "log",
        boost = 1.5, scaling = 3.0), "log")
    pin(fv => Wand.rankFeatureExpr(fv, "sigmoid", 2.0, pivot = 40.0,
        exponent = 2.0),
      Wand.rankFeatureSearch(spark, indexDir, fq, k, "dl", "sigmoid",
        boost = 2.0, pivot = 40.0, exponent = 2.0), "sigmoid")
    pin(fv => Wand.distanceFeatureExpr(fv, origin = 60.0, pivot = 15.0,
        boost = 2.5),
      Wand.distanceFeatureSearch(spark, indexDir, fq, k, "dl",
        origin = 60.0, pivot = 15.0, boost = 2.5), "distance")
    // the boost actually reorders vs plain BM25, and a no-hit query
    // stays empty (feature boosts never create matches)
    val gotSat = Wand.rankFeatureSearch(spark, indexDir, fq, k, "dl",
      "saturation", boost = 2.0, pivot = 40.0)
    val plain = Wand.searchSnapshot(spark, snap, fq, k)
    assert(gotSat.select("query_id", "rank", "doc_id").except(
      plain.select("query_id", "rank", "doc_id")).count() > 0)
    assert(gotSat.filter($"query_id" === 991).count() == 0)
    intercept[IllegalArgumentException] {
      Wand.rankFeatureSearch(spark, indexDir, fq, k, "dl", "linear")
    }
    intercept[IllegalArgumentException] {
      Wand.rankFeatureSearch(spark, indexDir, fq, k, "dl", "saturation",
        pivot = 0.0)
    }
    intercept[IllegalArgumentException] {
      Wand.distanceFeatureSearch(spark, indexDir, fq, k, "dl",
        origin = 60.0, pivot = -1.0)
    }
    // the batched multi-variant pass is row-identical to N single calls
    val variants: Seq[(String, org.apache.spark.sql.Column => org.apache.spark.sql.Column)] = Seq(
      "saturation" -> (fv => Wand.rankFeatureExpr(fv, "saturation", 2.0, pivot = 40.0)),
      "log" -> (fv => Wand.rankFeatureExpr(fv, "log", 1.5, scaling = 3.0)),
      "distance" -> (fv => Wand.distanceFeatureExpr(fv, origin = 60.0,
        pivot = 15.0, boost = 2.5)))
    val multi = Wand.featureBoostMultiSearchSnapshot(spark, snap, fq, k,
      "dl", variants)
      .select("fn", "query_id", "rank", "doc_id", "score")
      .as[(String, Int, Int, String, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3, r._4, r._5))
        .sortBy(r => (r._1, r._2))).toMap
    def single(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "doc_id", "score")
        .as[(Int, Int, String, Double)].collect().sortBy(r => (r._1, r._2))
    assert(multi("saturation").sameElements(single(
      Wand.rankFeatureSearch(spark, indexDir, fq, k, "dl", "saturation",
        boost = 2.0, pivot = 40.0))), "multi:saturation")
    assert(multi("log").sameElements(single(
      Wand.rankFeatureSearch(spark, indexDir, fq, k, "dl", "log",
        boost = 1.5, scaling = 3.0))), "multi:log")
    assert(multi("distance").sameElements(single(
      Wand.distanceFeatureSearch(spark, indexDir, fq, k, "dl",
        origin = 60.0, pivot = 15.0, boost = 2.5))), "multi:distance")
    intercept[IllegalArgumentException] {
      Wand.featureBoostMultiSearchSnapshot(spark, snap, fq, k, "dl",
        variants.take(1) ++ variants.take(1))
    }
  }

  test("terms lookup: filter terms fetched from an indexed doc") {
    assert(snap.isComplete) // dir-based API loads from indexDir
    val lookupId = docs.orderBy($"doc_id").select($"doc_id").as[String].head()
    // driver golden: docs sharing >= 1 distinct analyzed token with the
    // lookup doc, constant score, doc-order rank
    val toksById = docs.as[(String, String)].collect().map { case (id, c) =>
      (id, graft.analyze.Tokenizer.tokenize(c).toSet) }.toMap
    val lt = toksById(lookupId)
    val expIds = toksById.filter { case (_, ts) => ts.exists(lt) }
      .keys.toSeq.sorted.take(k)
    val got = Wand.termsLookupSearch(spark, indexDir, 3, lookupId, k,
      boost = 2.0).orderBy("rank")
    assert(got.select($"doc_id").as[String].collect().toSeq == expIds)
    assert(got.select($"score").as[Double].collect().forall(_ == 2.0))
    assert(got.select($"query_id").distinct().as[Int].head() == 3)
    intercept[IllegalArgumentException] {
      Wand.termsLookupSearch(spark, indexDir, 0, "zzz-no-such-doc", k)
    }
    // an over-budget lookup doc is rejected, never silently truncated
    intercept[IllegalArgumentException] {
      Wand.termsLookupSearch(spark, indexDir, 0, lookupId, k, maxTerms = 3)
    }
  }

  test("scripted_metric: map/combine/reduce over matched docmap rows") {
    assert(snap.isComplete)
    val fq = queries.take(2) :+ graft.corpus.RefQuery(995, "zzznosuchterm")
    val got = Aggs.scriptedMetricAgg[(Long, Long, Long), (Long, Long, Long)](
        spark, indexDir, fq,
        r => (1L, r.getAs[Long]("dl"), r.getAs[Long]("dl")),
        (a, b) => (a._1 + b._1, a._2 + b._2, math.max(a._3, b._3)),
        xs => xs.reduce((a, b) => (a._1 + b._1, a._2 + b._2, math.max(a._3, b._3))))
      .map { case (qid, (c, s, mx)) => (qid, c, s, mx) }
      .toDF("query_id", "c", "s", "mx")
    // reference: the identical metric as a plain DataFrame aggregation
    // over the exact match set
    val full = Golden.topK(spark, docs, fq, numDocs.toInt)
    val meta = corpus.select(IndexBuilder.docIdCol.as("doc_id"),
      size(graft.analyze.Tokenizer.tokens($"content")).cast("long").as("dl"))
    val exp = full.join(meta, "doc_id").groupBy("query_id")
      .agg(count(lit(1)).as("e_c"), sum($"dl").as("e_s"), max($"dl").as("e_mx"))
    val cmp = exp.join(got, Seq("query_id"), "full_outer")
    assert(cmp.filter($"e_c".isNull || $"c".isNull || $"e_c" =!= $"c" ||
      $"e_s" =!= $"s" || $"e_mx" =!= $"mx").count() == 0)
    // the no-match query produces no row (OpenSearch returns the reduce
    // of an empty state list; absence is this library's explicit analog)
    assert(got.filter($"query_id" === 995).count() == 0)
  }

  test("constant_score: filter context, boost score, doc-order rank") {
    val cq = queries.take(2) :+ graft.corpus.RefQuery(993, "zzznosuchterm")
    val got = Wand.constantScoreSearchSnapshot(spark, snap, cq, k, boost = 2.5)
      .cache()
    // every score IS the boost; rank is doc_id-ascending over the match set
    assert(got.filter($"score" =!= 2.5).count() == 0)
    val full = Golden.topK(spark, docs, cq, numDocs.toInt)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"doc_id".asc)
    val exp = full.select($"query_id", $"doc_id")
      .withColumn("rank", row_number().over(w)).filter($"rank" <= k)
    val cmp = exp.withColumnRenamed("doc_id", "g_doc")
      .join(got, Seq("query_id", "rank"), "full_outer")
    assert(cmp.filter($"g_doc".isNull || $"doc_id".isNull ||
      $"g_doc" =!= $"doc_id").count() == 0)
    assert(got.filter($"query_id" === 993).count() == 0)
    got.unpersist()
  }

  test("extended_stats: moments over the match set, golden-identical") {
    val eq = queries.take(2) :+ graft.corpus.RefQuery(993, "zzznosuchterm")
    val got = Aggs.extendedStatsAggSnapshot(spark, snap, eq, "dl").cache()
    val full = Golden.topK(spark, docs, eq, numDocs.toInt)
    val meta = corpus.select(IndexBuilder.docIdCol.as("doc_id"),
      size(graft.analyze.Tokenizer.tokens($"content")).cast("double").as("v"))
    val exp = full.join(meta, "doc_id").groupBy($"query_id")
      .agg(count(lit(1)).as("g_n"), sum($"v").as("g_sum"),
        sum($"v" * $"v").as("g_sq"), avg($"v").as("g_avg"),
        var_pop($"v").as("g_var"), stddev_pop($"v").as("g_std"))
    val cmp = exp.join(got, Seq("query_id"), "inner")
    assert(cmp.count() == 2)
    assert(cmp.filter($"g_n" =!= $"doc_count" ||
      abs($"g_sum" - $"sum_v") > 1e-6 || abs($"g_sq" - $"sum_sq") > 1e-3 ||
      abs($"g_avg" - $"avg_v") > 1e-9 || abs($"g_var" - $"var_v") > 1e-6 ||
      abs($"g_std" - $"std_v") > 1e-6).count() == 0)
    // API totality: the zero-match query reports 0 with null moments
    val zm = got.filter($"query_id" === 993)
    assert(zm.count() == 1)
    assert(zm.filter($"doc_count" =!= 0L || $"sum_v".isNotNull).count() == 0)
    got.unpersist()
  }

  test("percentile_ranks: exact CDF at each probe, golden-identical") {
    val rq = queries.take(2) :+ graft.corpus.RefQuery(993, "zzznosuchterm")
    val probes = Seq(120.0, 250.0)
    val got = Aggs.percentileRanksAggSnapshot(spark, snap, rq, "dl", probes)
      .cache()
    val full = Golden.topK(spark, docs, rq, numDocs.toInt)
    val meta = corpus.select(IndexBuilder.docIdCol.as("doc_id"),
      size(graft.analyze.Tokenizer.tokens($"content")).cast("double").as("v"))
    val probeDf = probes.toDF("value")
    val exp = full.join(meta, "doc_id").crossJoin(probeDf)
      .groupBy($"query_id", $"value")
      .agg(count(lit(1)).as("g_n"),
        (lit(100.0) * sum(when($"v" <= $"value", 1L).otherwise(0L)) /
          count(lit(1))).as("g_r"))
    val cmp = exp.join(got, Seq("query_id", "value"), "inner")
    assert(cmp.count() == 4)
    assert(cmp.filter($"g_n" =!= $"doc_count" ||
      abs($"g_r" - $"pct_rank") > 1e-9).count() == 0)
    // ranks are monotone in the probe and within [0, 100]
    assert(got.filter($"pct_rank" < 0 || $"pct_rank" > 100).count() == 0)
    val zm = got.filter($"query_id" === 993)
    assert(zm.count() == probes.size)
    assert(zm.filter($"doc_count" =!= 0L || $"pct_rank".isNotNull).count() == 0)
    got.unpersist()
    intercept[IllegalArgumentException] {
      Aggs.percentileRanksAggSnapshot(spark, snap, rq, "dl", Seq.empty)
    }
  }

  test("adjacency_matrix: per-filter and pairwise intersection counts") {
    val filters = Seq(("a", queries(0).text), ("b", queries(1).text),
      ("z", "zzznosuchterm"))
    val got = Aggs.adjacencyMatrixAggSnapshot(spark, snap, filters).cache()
    // golden: match sets from the exact scorer, intersections by doc_id
    val fa = Golden.topK(spark, docs, Seq(graft.corpus.RefQuery(0, queries(0).text)),
      numDocs.toInt).select($"doc_id").as[String].collect().toSet
    val fb = Golden.topK(spark, docs, Seq(graft.corpus.RefQuery(0, queries(1).text)),
      numDocs.toInt).select($"doc_id").as[String].collect().toSet
    val gotMap = got.as[(String, Long)].collect().toMap
    assert(gotMap("a") == fa.size)
    assert(gotMap("b") == fb.size)
    assert(gotMap("a&b") == (fa intersect fb).size)
    // zero-doc buckets are omitted, as OpenSearch omits them
    assert(!gotMap.contains("z") && !gotMap.contains("a&z") &&
      !gotMap.contains("b&z"))
    got.unpersist()
    intercept[IllegalArgumentException] {
      Aggs.adjacencyMatrixAggSnapshot(spark, snap, Seq(("a", "x"), ("a", "y")))
    }
    intercept[IllegalArgumentException] {
      Aggs.adjacencyMatrixAggSnapshot(spark, snap, Seq(("a&b", "x")))
    }
  }

  test("composite agg: ascending-key bucket pages chain to full coverage") {
    val cq = queries.take(2)
    // full bucket truth from the golden match set
    val full = Golden.topK(spark, docs, cq, numDocs.toInt)
    val meta = corpus.select(IndexBuilder.docIdCol.as("doc_id"), $"lang")
    val truth = full.join(meta, "doc_id").groupBy($"query_id", $"lang".as("facet"))
      .agg(count(lit(1)).as("doc_count"))
      .as[(Int, String, Long)].collect().toSet
    // page each query independently (after_key is per request) with
    // size 2 until exhausted; the pages must tile the truth exactly
    var seen = Set.empty[(Int, String, Long)]
    cq.foreach { q =>
      var after: Option[String] = None
      var pages = 0
      var done = false
      while (!done) {
        val page = Aggs.compositeAggSnapshot(spark, snap, Seq(q), "lang", 2,
          after).as[(Int, String, Long)].collect()
        if (page.isEmpty) done = true
        else {
          assert(page.length <= 2)
          // ascending key order, never overlapping the pages before it
          assert(page.map(_._2).sorted.sameElements(page.map(_._2)))
          assert(seen.intersect(page.toSet).isEmpty)
          seen ++= page.toSet
          after = Some(page.map(_._2).max)
          pages += 1
          assert(pages < 50, "composite paging did not terminate")
        }
      }
    }
    assert(seen == truth)
    intercept[IllegalArgumentException] {
      Aggs.compositeAggSnapshot(spark, snap, cq, "lang", 0)
    }
  }

  test("rare_terms: long-tail buckets only, golden-identical") {
    val rq = queries.take(2)
    val maxDc = 3L
    val got = Aggs.rareTermsAggSnapshot(spark, snap, rq, "dl", maxDc)
      .select($"query_id", $"facet".cast("long").as("facet"), $"doc_count")
      .as[(Int, Long, Long)].collect().toSet
    val full = Golden.topK(spark, docs, rq, numDocs.toInt)
    val meta = corpus.select(IndexBuilder.docIdCol.as("doc_id"),
      size(graft.analyze.Tokenizer.tokens($"content")).cast("long").as("dlv"))
    val exp = full.join(meta, "doc_id").groupBy($"query_id", $"dlv")
      .agg(count(lit(1)).as("doc_count")).filter($"doc_count" <= maxDc)
      .as[(Int, Long, Long)].collect().toSet
    assert(got == exp)
    assert(got.nonEmpty, "fixture has no rare dl buckets — raise maxDocCount")
    assert(got.forall(_._3 <= maxDc))
  }

  test("multi_terms: tuple buckets ranked by count then key") {
    val mq = queries.take(2)
    val got = Aggs.multiTermsAggSnapshot(spark, snap, mq, Seq("lang", "repo"), 4)
    val full = Golden.topK(spark, docs, mq, numDocs.toInt)
    val meta = corpus.select(IndexBuilder.docIdCol.as("doc_id"), $"lang", $"repo")
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"query_id")
      .orderBy($"doc_count".desc, $"lang".asc, $"repo".asc)
    val exp = full.join(meta, "doc_id").groupBy($"query_id", $"lang", $"repo")
      .agg(count(lit(1)).as("doc_count"))
      .withColumn("rank", row_number().over(w)).filter($"rank" <= 4)
      .select($"query_id", $"rank", $"lang", $"repo", $"doc_count")
    val cmp = exp.withColumnRenamed("lang", "g_l").withColumnRenamed("repo", "g_r")
      .withColumnRenamed("doc_count", "g_n")
      .join(got, Seq("query_id", "rank"), "full_outer")
    assert(cmp.filter($"g_l".isNull || $"lang".isNull || $"g_l" =!= $"lang" ||
      $"g_r" =!= $"repo" || $"g_n" =!= $"doc_count").count() == 0)
    intercept[IllegalArgumentException] {
      Aggs.multiTermsAggSnapshot(spark, snap, mq, Seq.empty, 4)
    }
  }

  test("facet stats: terms bucket + stats sub-agg, golden-identical") {
    val fq = queries.take(2) :+ graft.corpus.RefQuery(993, "zzznosuchterm")
    val topN = 3
    val got = Aggs.facetStatsAggSnapshot(spark, snap, fq, "lang", "dl", topN)
      .cache()
    val full = Golden.topK(spark, docs, fq, numDocs.toInt)
    val meta = corpus.select(IndexBuilder.docIdCol.as("doc_id"), $"lang",
      size(graft.analyze.Tokenizer.tokens($"content")).cast("double").as("v"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"doc_count".desc, $"facet".asc)
    val exp = full.join(meta, "doc_id")
      .groupBy($"query_id", $"lang".as("facet"))
      .agg(count(lit(1)).as("doc_count"),
        min($"v").as("min_v"), max($"v").as("max_v"),
        sum($"v").as("sum_v"), avg($"v").as("avg_v"))
      .withColumn("rank", row_number().over(w)).filter($"rank" <= topN)
      .select($"query_id", $"rank", $"facet", $"doc_count",
        $"min_v", $"max_v", $"sum_v", $"avg_v")
    val cmp = exp.withColumnRenamed("facet", "g_f")
      .withColumnRenamed("doc_count", "g_n").withColumnRenamed("min_v", "g_min")
      .withColumnRenamed("max_v", "g_max").withColumnRenamed("avg_v", "g_avg")
      .withColumnRenamed("sum_v", "g_sum")
      .join(got, Seq("query_id", "rank"), "full_outer")
    // sums fold in shuffle order → compare to 1e-9, the rest exactly
    assert(cmp.filter($"g_f".isNull || $"facet".isNull ||
      $"g_f" =!= $"facet" || $"g_n" =!= $"doc_count" ||
      $"g_min" =!= $"min_v" || $"g_max" =!= $"max_v" ||
      abs($"g_sum" - $"sum_v") > 1e-9 ||
      abs($"g_avg" - $"avg_v") > 1e-9).count() == 0)
    // zero-match query contributes no buckets
    assert(got.filter($"query_id" === 993).count() == 0)
    got.unpersist()
    intercept[IllegalArgumentException] {
      Aggs.facetStatsAggSnapshot(spark, snap, fq, "lang", "dl", 0)
    }
  }

  test("percentiles agg: exact quantiles over the match set, golden-identical") {
    val pq = queries.take(2) :+ graft.corpus.RefQuery(993, "zzznosuchterm")
    val pcts = Seq(0.25, 0.5, 0.9)
    val got = Aggs.percentilesAggSnapshot(spark, snap, pq, "dl", pcts).cache()
    // golden: the exact scorer's match set (score > 0 ⟺ any term matches),
    // the same `percentile` function over the same doubles
    val full = Golden.topK(spark, docs, pq, numDocs.toInt)
    val meta = corpus.select(IndexBuilder.docIdCol.as("doc_id"),
      size(graft.analyze.Tokenizer.tokens($"content")).cast("double").as("v"))
    val agg = full.join(meta, "doc_id").groupBy($"query_id")
      .agg(count(lit(1)).as("doc_count"),
        expr("percentile(v, array(0.25, 0.5, 0.9))").as("vals"))
      .select($"query_id", $"doc_count", posexplode($"vals"))
      .withColumnRenamed("pos", "pct_pos").withColumnRenamed("col", "value")
    val pctDf = pcts.zipWithIndex.map { case (p, i) => (i, p) }.toDF("pct_pos", "pct")
    val exp = pq.map(_.query_id).toDF("query_id").crossJoin(pctDf)
      .join(agg, Seq("query_id", "pct_pos"), "left")
      .select($"query_id", $"pct", coalesce($"doc_count", lit(0L)).as("doc_count"),
        $"value")
    val cmp = exp.withColumnRenamed("doc_count", "g_n")
      .withColumnRenamed("value", "g_v")
      .join(got.withColumnRenamed("doc_count", "f_n")
        .withColumnRenamed("value", "f_v"), Seq("query_id", "pct"), "full_outer")
    assert(cmp.count() == pq.size * pcts.size)
    assert(cmp.filter($"g_n" =!= $"f_n" ||
      coalesce($"g_v", lit(-1d)) =!= coalesce($"f_v", lit(-1d))).count() == 0)
    // zero-match totality: every pct row present, doc_count 0, null value
    val zm = got.filter($"query_id" === 993)
    assert(zm.count() == pcts.size)
    assert(zm.filter($"doc_count" =!= 0L || $"value".isNotNull).count() == 0)
    got.unpersist()
    intercept[IllegalArgumentException] {
      Aggs.percentilesAggSnapshot(spark, snap, pq, "dl", Seq(1.5))
    }
    intercept[IllegalArgumentException] {
      Aggs.percentilesAggSnapshot(spark, snap, pq, "dl", Seq.empty)
    }
  }

  test("approx agg variants (the 100-TB flags) run and track the exact path") {
    val pq = queries.take(2)
    val pcts = Seq(0.25, 0.5, 0.9)
    // percentiles: Greenwald–Khanna at accuracy 10000 returns an actual
    // data value whose rank error is ≤ n/10000 — on this corpus that is
    // an adjacent element, so values stay within max(1, 5%) of exact
    val ex = Aggs.percentilesAggSnapshot(spark, snap, pq, "dl", pcts)
      .withColumnRenamed("doc_count", "e_n").withColumnRenamed("value", "e_v")
    val ap = Aggs.percentilesAggSnapshot(spark, snap, pq, "dl", pcts,
        approx = true)
      .withColumnRenamed("doc_count", "a_n").withColumnRenamed("value", "a_v")
    val cmp = ex.join(ap, Seq("query_id", "pct"), "full_outer").cache()
    assert(cmp.count() == pq.size * pcts.size)
    assert(cmp.filter($"e_n" =!= $"a_n").count() == 0)
    assert(cmp.filter(abs($"a_v" - $"e_v") >
      greatest(lit(1.0), lit(0.05) * abs($"e_v"))).count() == 0)
    cmp.unpersist()
    // cardinality: HLL++ at the default rsd is near-exact at small counts
    val exC = Aggs.cardinalityAggSnapshot(spark, snap, pq, "lang")
      .as[(Int, Long)].collect().toMap
    val apC = Aggs.cardinalityAggSnapshot(spark, snap, pq, "lang",
      approx = true).as[(Int, Long)].collect().toMap
    pq.foreach { q =>
      val e = exC(q.query_id); val a = apC(q.query_id)
      assert(math.abs(a - e) <= math.max(1L, (0.1 * e).toLong),
        s"cardinality q${q.query_id}: approx $a vs exact $e")
    }
    // MAD: both medians approximate; counts exact, value within max(1, 10%)
    val exM = Aggs.madAggSnapshot(spark, snap, pq, "dl")
      .as[(Int, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val apM = Aggs.madAggSnapshot(spark, snap, pq, "dl", approx = true)
      .as[(Int, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    pq.foreach { q =>
      val (en, ev) = exM(q.query_id); val (an, av) = apM(q.query_id)
      assert(an == en, s"MAD doc_count q${q.query_id}")
      assert(math.abs(av - ev) <= math.max(1.0, 0.1 * math.abs(ev)),
        s"MAD q${q.query_id}: approx $av vs exact $ev")
    }
  }

  test("dis_max: max + tie_breaker over per-sub exact match sets, golden-identical") {
    val dq = Seq(
      DisMaxQuery(0, Seq(queries(0).text, queries(1).text)),
      DisMaxQuery(1, Seq(queries(2).text, queries(3).text, "zzznosuchterm")),
      DisMaxQuery(993, Seq("zzznosuchterm")))
    val flat = dq.flatMap(q => q.subs.zipWithIndex.map { case (t, si) =>
      (q.query_id, si, t) }).zipWithIndex
      .map { case ((qid, si, t), sid) => (sid, qid, si, t) }
    val full = Golden.topK(spark, docs,
      flat.map { case (sid, _, _, t) => graft.corpus.RefQuery(sid, t) },
      numDocs.toInt)
    val m = flat.map { case (sid, qid, si, _) => (sid, qid, si) }
      .toDF("synth_id", "qid", "sub")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"score".desc, $"doc_id".asc)
    def pin(tie: Double): Unit = {
      val got = Wand.disMaxSearchSnapshot(spark, snap, dq, k, tie)
      val exp = Wand.disMaxCombined(
        full.drop("rank").withColumnRenamed("query_id", "synth_id")
          .join(m, Seq("synth_id")).withColumnRenamed("qid", "query_id"),
        Seq("query_id", "doc_id"), tie)
        .withColumn("rank", row_number().over(w)).filter($"rank" <= k)
        .select($"query_id", $"rank", $"doc_id", $"score")
      val cmp = exp.withColumnRenamed("doc_id", "g_doc")
        .withColumnRenamed("score", "g_score")
        .join(got.withColumnRenamed("doc_id", "f_doc")
          .withColumnRenamed("score", "f_score"),
          Seq("query_id", "rank"), "full_outer")
      assert(cmp.filter($"g_doc".isNull || $"f_doc".isNull ||
        $"g_doc" =!= $"f_doc" || $"g_score" =!= $"f_score").count() == 0,
        s"tie_breaker=$tie")
    }
    pin(0.0)
    pin(0.7)
    // a no-match query returns nothing; the combine never invents hits
    assert(Wand.disMaxSearchSnapshot(spark, snap, dq, k).filter($"query_id" === 993)
      .count() == 0)
    // tie_breaker > 0 actually changes the order vs pure max somewhere
    val gotMax = Wand.disMaxSearchSnapshot(spark, snap, dq.take(2), k, 0.0)
    val gotTie = Wand.disMaxSearchSnapshot(spark, snap, dq.take(2), k, 0.7)
    assert(gotTie.select("query_id", "rank", "doc_id")
      .except(gotMax.select("query_id", "rank", "doc_id")).count() > 0)
    intercept[IllegalArgumentException] {
      Wand.disMaxSearchSnapshot(spark, snap, dq, k, tieBreaker = 1.5)
    }
    intercept[IllegalArgumentException] { DisMaxQuery(7, Seq.empty) }
  }

  test("multi_match: per-field indexes, best/most/cross_fields golden-identical") {
    // a second "field" of the same documents: content truncated to 120
    // chars (deterministic derivation; doc_id is identity-based, so the
    // two field indexes align on doc_id)
    val titleCorpus = corpus.toDF()
      .withColumn("content", substring($"content", 1, 120))
      .as(org.apache.spark.sql.Encoders.product[graft.corpus.SourceFile])
    val snapT = IndexBuilder.build(spark, titleCorpus,
      TestSpark.tempDir("graft-mm-title"),
      BuildConfig(numShards = 4, commitEvery = 3))
    val docsT = titleCorpus.select(IndexBuilder.docIdCol.as("doc_id"), $"content")
    val qs = queries.take(4)
    val fields = Seq((snapT, 2.0), (snap, 1.0))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"score".desc, $"doc_id".asc)
    // golden twin: full-match-set exact scoring per field, boosts applied
    // the same way, combined through the SAME shared folds
    val union = Golden.topK(spark, docsT, qs, numDocs.toInt)
      .select($"query_id", $"doc_id", ($"score" * lit(2.0)).as("score"),
        lit(0).as("sub"))
      .unionByName(Golden.topK(spark, docs, qs, numDocs.toInt)
        .select($"query_id", $"doc_id", ($"score" * lit(1.0)).as("score"),
          lit(1).as("sub")))
    def pin(mode: String, tie: Double): Unit = {
      val got = Wand.multiMatchSearchSnapshots(spark, fields, qs, k, mode, tie)
      val comb =
        if (mode == "best_fields")
          Wand.disMaxCombined(union, Seq("query_id", "doc_id"), tie)
        else Wand.multiMatchSummed(union, Seq("query_id", "doc_id"))
      val exp = comb.withColumn("rank", row_number().over(w))
        .filter($"rank" <= k).select($"query_id", $"rank", $"doc_id", $"score")
      val cmp = exp.withColumnRenamed("doc_id", "g_doc")
        .withColumnRenamed("score", "g_score")
        .join(got.withColumnRenamed("doc_id", "f_doc")
          .withColumnRenamed("score", "f_score"),
          Seq("query_id", "rank"), "full_outer")
      assert(cmp.filter($"g_doc".isNull || $"f_doc".isNull ||
        $"g_doc" =!= $"f_doc" || $"g_score" =!= $"f_score").count() == 0,
        s"mode=$mode tie=$tie")
    }
    pin("best_fields", 0.0)
    pin("best_fields", 0.3)
    pin("most_fields", 0.0)
    // cross_fields twin: per-TERM single-term golden passes per field,
    // blended through the same shared crossFieldsCombined fold
    val flatT = qs.flatMap(q => Golden.queryTerms(q.text).zipWithIndex
      .map { case (t, ti) => (q.query_id, ti, t) })
      .zipWithIndex.map { case ((qid, ti, t), sid) => (sid, qid, ti, t) }
    val mT = flatT.map { case (sid, qid, ti, _) => (sid, qid, ti) }
      .toDF("synth_id", "qid", "term_idx")
    val termQs = flatT.map { case (sid, _, _, t) =>
      graft.corpus.RefQuery(sid, t) }
    val unionT = Golden.topK(spark, docsT, termQs, numDocs.toInt)
      .select($"query_id".as("synth_id"), $"doc_id",
        ($"score" * lit(2.0)).as("score"), lit(0).as("sub"))
      .unionByName(Golden.topK(spark, docs, termQs, numDocs.toInt)
        .select($"query_id".as("synth_id"), $"doc_id",
          ($"score" * lit(1.0)).as("score"), lit(1).as("sub")))
      .join(mT, Seq("synth_id")).withColumnRenamed("qid", "query_id")
    for (tie <- Seq(0.0, 0.3)) {
      val got = Wand.multiMatchSearchSnapshots(spark, fields, qs, k,
        "cross_fields", tie)
      val exp = Wand.crossFieldsCombined(unionT, Seq("query_id", "doc_id"), tie)
        .withColumn("rank", row_number().over(w))
        .filter($"rank" <= k).select($"query_id", $"rank", $"doc_id", $"score")
      val cmp = exp.withColumnRenamed("doc_id", "g_doc")
        .withColumnRenamed("score", "g_score")
        .join(got.withColumnRenamed("doc_id", "f_doc")
          .withColumnRenamed("score", "f_score"),
          Seq("query_id", "rank"), "full_outer")
      assert(cmp.filter($"g_doc".isNull || $"f_doc".isNull ||
        $"g_doc" =!= $"f_doc" || $"g_score" =!= $"f_score").count() == 0,
        s"cross_fields tie=$tie")
    }
    // fuzziness: each query word expands against EACH FIELD's own
    // dictionary, then that field's exact pass scores the expansion —
    // golden twin composes per-field topKTerms over the same expansions
    // through the same shared folds
    val tq = Seq(graft.corpus.RefQuery(0, "socre filtre"))
    val expT = Wand.matchFuzzyExpandQueries(spark, snapT, tq)
    val expB = Wand.matchFuzzyExpandQueries(spark, snap, tq)
    assert(expT(0).nonEmpty && expB(0).nonEmpty)
    val unionF = Golden.topKTerms(spark, docsT, expT, numDocs.toInt)
      .select($"query_id", $"doc_id", ($"score" * lit(2.0)).as("score"),
        lit(0).as("sub"))
      .unionByName(Golden.topKTerms(spark, docs, expB, numDocs.toInt)
        .select($"query_id", $"doc_id", ($"score" * lit(1.0)).as("score"),
          lit(1).as("sub")))
    val gotF = Wand.multiMatchSearchSnapshots(spark, fields, tq, k,
      "best_fields", 0.3, fuzziness = Some("AUTO"))
    val expF = Wand.disMaxCombined(unionF, Seq("query_id", "doc_id"), 0.3)
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= k).select($"query_id", $"rank", $"doc_id", $"score")
    val cmpF = expF.withColumnRenamed("doc_id", "g_doc")
      .withColumnRenamed("score", "g_score")
      .join(gotF.withColumnRenamed("doc_id", "f_doc")
        .withColumnRenamed("score", "f_score"),
        Seq("query_id", "rank"), "full_outer")
    assert(cmpF.filter($"g_doc".isNull || $"f_doc".isNull ||
      $"g_doc" =!= $"f_doc" || $"g_score" =!= $"f_score").count() == 0)
    // unknown modes and bad params are rejected, not silently defaulted
    intercept[IllegalArgumentException] {
      Wand.multiMatchSearchSnapshots(spark, fields, qs, k, "phrase_fields")
    }
    intercept[IllegalArgumentException] {
      Wand.multiMatchSearchSnapshots(spark, fields, qs, k, tieBreaker = 1.5)
    }
    intercept[IllegalArgumentException] { // cross_fields has no fuzzy rewrite
      Wand.multiMatchSearchSnapshots(spark, fields, qs, k, "cross_fields",
        fuzziness = Some("AUTO"))
    }
  }

  test("has_child / has_parent: parent-join over one index, golden-identical") {
    // join-field corpus: the shared 1200-doc corpus as children plus one
    // parent doc per (path % 8) group, all in ONE index; roles split on
    // repo, keys derived from path (parents' paths sit in a disjoint
    // 3e9+ range)
    val groups = 8
    val parentRows = (0 until groups).map { g =>
      graft.corpus.SourceFile("parent", (3000000000L + g).toString, "main",
        "txt", s"group g$g " + ("spark " * (1 + g % 3)) +
          ("query " * (g % 4)) + "join")
    }
    val pcCorpus = corpus.toDF().unionByName(parentRows.toDS().toDF())
      .as(org.apache.spark.sql.Encoders.product[graft.corpus.SourceFile])
    val dir = TestSpark.tempDir("graft-pc")
    val snapPC = IndexBuilder.build(spark, pcCorpus, dir,
      BuildConfig(numShards = 4, commitEvery = 4))
    val docsAll = pcCorpus.select(IndexBuilder.docIdCol.as("doc_id"), $"content")
    val meta = pcCorpus.select(IndexBuilder.docIdCol.as("doc_id"), $"repo", $"path")
    val qs = Seq(graft.corpus.RefQuery(0, "spark query"),
      graft.corpus.RefQuery(1, "group join"))
    val childF = col("repo") =!= "parent"
    val parentF = col("repo") === "parent"
    // corpus paths are not numeric — group children by a deterministic
    // hash of path instead (the key is any Catalyst expression)
    val childKey = (lit(3000000000L) + pmod(xxhash64(col("path")), lit(groups.toLong)))
      .cast("string")
    val parentKey = col("path")
    val nAll = numDocs.toInt + groups
    val full = Golden.topK(spark, docsAll, qs, nAll).join(meta, "doc_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"score".desc, $"doc_id".asc)
    def assertSame(got: org.apache.spark.sql.DataFrame,
                   exp: org.apache.spark.sql.DataFrame, tag: String): Unit = {
      val cols = got.columns
      val cmp = exp.select(cols.toIndexedSeq.map(c => col(c).as(s"g_$c")): _*)
        .withColumnRenamed("g_query_id", "query_id")
        .withColumnRenamed("g_rank", "rank")
        .join(got, Seq("query_id", "rank"), "full_outer")
      val bad = cols.filterNot(Seq("query_id", "rank").contains)
        .map(c => col(s"g_$c").isNull || col(c).isNull || col(s"g_$c") =!= col(c))
        .reduce(_ || _)
      assert(cmp.filter(bad).count() == 0, tag)
    }
    // golden children: exact full-corpus scores restricted to child rows,
    // keyed to their parent, folded through the ONE shared combine
    val goldenChildren = full.filter(childF)
      .select($"query_id", childKey.as("pkey"), $"doc_id".as("child_id"), $"score")
    val goldenParents = meta.filter(parentF)
      .select(parentKey.cast("string").as("pkey"), $"doc_id")
    for (mode <- Seq("none", "min", "max", "sum", "avg")) {
      val got = Wand.hasChildSearchSnapshot(spark, snapPC, qs, k, mode,
        childF, parentF, childKey, parentKey)
      val exp = Wand.hasChildCombined(goldenChildren, mode)
        .join(goldenParents, Seq("pkey"))
        .withColumn("rank", row_number().over(w)).filter($"rank" <= k)
        .select($"query_id", $"rank", $"doc_id", $"score", $"n_children")
      assertSame(got, exp, s"has_child mode=$mode")
    }
    // min_children/max_children partition the qualifying parents exactly
    // (uncapped windows so the count algebra is not truncated by k), and
    // the min_children slice stays golden-identical
    val baseAll = Wand.hasChildSearchSnapshot(spark, snapPC, qs, nAll, "sum",
      childF, parentF, childKey, parentKey)
    val loSlice = Wand.hasChildSearchSnapshot(spark, snapPC, qs, nAll, "sum",
      childF, parentF, childKey, parentKey, minChildren = 1, maxChildren = 119)
    val hiSlice = Wand.hasChildSearchSnapshot(spark, snapPC, qs, nAll, "sum",
      childF, parentF, childKey, parentKey, minChildren = 120)
    assert(loSlice.count() + hiSlice.count() == baseAll.count())
    val expMin = Wand.hasChildCombined(goldenChildren, "sum")
      .filter($"n_children" >= 120)
      .join(goldenParents, Seq("pkey"))
      .withColumn("rank", row_number().over(w)).filter($"rank" <= nAll)
      .select($"query_id", $"rank", $"doc_id", $"score", $"n_children")
    assertSame(hiSlice, expMin, "has_child min_children")
    // has_parent: children inherit the matching parent's score
    // (score=true) or constant 1.0 (false)
    val goldenMatchedParents = full.filter(parentF)
      .select($"query_id", parentKey.cast("string").as("pkey"),
        $"doc_id".as("parent_id"), $"score".as("pscore"))
    val goldenChildRows = meta.filter(childF)
      .select(childKey.as("pkey"), $"doc_id")
    for (sc <- Seq(true, false)) {
      val got = Wand.hasParentSearchSnapshot(spark, snapPC, qs, k,
        parentF, childF, parentKey, childKey, score = sc)
      val exp = goldenMatchedParents.join(goldenChildRows, Seq("pkey"))
        .withColumn("score", if (sc) $"pscore" else lit(1.0))
        .withColumn("rank", row_number().over(w)).filter($"rank" <= k)
        .select($"query_id", $"rank", $"doc_id", $"score", $"parent_id")
      assertSame(got, exp, s"has_parent score=$sc")
    }
    // a deleted parent disappears from has_child results (the docmap-scan
    // liveness discipline), and its children stop qualifying in has_parent
    val g0 = "3000000000"
    val delId = meta.filter(parentF && col("path") === g0)
      .select("doc_id").as[String].head()
    assert(baseAll.filter($"doc_id" === delId).count() > 0) // present before
    IndexBuilder.delete(spark, dir, parentF && col("path") === g0)
    val snapD = graft.table.SnapshotCatalog.load(spark, dir).get
    val afterC = Wand.hasChildSearchSnapshot(spark, snapD, qs, nAll, "sum",
      childF, parentF, childKey, parentKey)
    assert(afterC.filter($"doc_id" === delId).count() == 0)
    val afterP = Wand.hasParentSearchSnapshot(spark, snapD, qs, nAll,
      parentF, childF, parentKey, childKey)
    assert(afterP.filter($"parent_id" === delId).count() == 0)
    // upsert-liveness: re-upserting a parent (same identity, new content)
    // tombstones the old row and re-adds the id at a fresh ord — the
    // docmap then holds TWO rows for that doc_id, and without the
    // liveness mask each would join (the highlightSearch bug class).
    // Exactly one output row per (query, upserted parent) must survive.
    val g1 = (3000000001L).toString
    val up = Seq(graft.corpus.SourceFile("parent", g1, "main", "txt",
      "group g1 spark spark query join refreshed")).toDS()
    IndexBuilder.upsert(spark, up, dir)
    val snapU = graft.table.SnapshotCatalog.load(spark, dir).get
    val upId = meta.filter(parentF && col("path") === g1)
      .select("doc_id").as[String].head()
    val afterU = Wand.hasChildSearchSnapshot(spark, snapU, qs, nAll, "sum",
      childF, parentF, childKey, parentKey)
    assert(afterU.filter($"doc_id" === upId).groupBy($"query_id")
      .agg(count(lit(1)).as("n")).filter($"n" > 1).count() == 0)
    assert(afterU.filter($"doc_id" === upId).count() > 0)
    val afterUP = Wand.hasParentSearchSnapshot(spark, snapU, qs, nAll,
      parentF, childF, parentKey, childKey)
    // each child of the upserted parent appears once per query, not twice
    assert(afterUP.filter($"parent_id" === upId)
      .groupBy($"query_id", $"doc_id").agg(count(lit(1)).as("n"))
      .filter($"n" > 1).count() == 0)
    // bad params rejected, not silently defaulted
    intercept[IllegalArgumentException] {
      Wand.hasChildSearchSnapshot(spark, snapPC, qs, k, "mean",
        childF, parentF, childKey, parentKey)
    }
    intercept[IllegalArgumentException] {
      Wand.hasChildSearchSnapshot(spark, snapPC, qs, k, "sum",
        childF, parentF, childKey, parentKey, minChildren = 0)
    }
  }

  test("synonym groups: sum-tf / max-df blending, golden-identical") {
    import graft.analyze.Tokenizer
    val sq = Seq(
      Wand.SynonymQuery(0, Seq(Seq("spark", "sql"), Seq("join"))),
      Wand.SynonymQuery(1, Seq(Seq("filter", "where"), Seq("query"))))
    // driver-side golden over the same analyzer chain: tokenize each doc,
    // sum member tfs per group BEFORE saturation, df = max member df,
    // fold groups in ascending-gid order (the engines' shared order)
    val rows = docs.as[(String, String)].collect()
      .map { case (id, content) => (id, Tokenizer.tokenize(content)) }
    val n = snap.stats.numDocs
    val avgdl = snap.stats.avgdl
    val dfm = collection.mutable.HashMap.empty[String, Long]
    rows.foreach { case (_, ts) =>
      ts.distinct.foreach(t => dfm(t) = dfm.getOrElse(t, 0L) + 1) }
    def golden(conj: Boolean): Seq[(Int, String, Double)] =
      sq.flatMap { q =>
        val groups = q.groups
          .map(g => g.flatMap(w => Golden.queryTerms(w)).distinct.sorted)
          .filter(_.nonEmpty)
        rows.flatMap { case (id, ts) =>
          val tfmap = ts.groupBy(identity).map { case (t, xs) =>
            t -> xs.length.toLong }
          var s = 0.0
          var matched = 0
          groups.foreach { g =>
            val tfg = g.map(t => tfmap.getOrElse(t, 0L)).sum
            if (tfg > 0) {
              matched += 1
              val dfg = g.map(t => dfm.getOrElse(t, 0L)).max
              s += Bm25.idf(dfg, n) * Bm25.tfNorm(tfg, ts.length.toLong, avgdl)
            }
          }
          if (matched > 0 && (!conj || matched == groups.length))
            Some((q.query_id, id, s))
          else None
        }
      }
    for (conj <- Seq(false, true)) {
      val exp = golden(conj).groupBy(_._1).toSeq.flatMap { case (qid, xs) =>
        xs.sortBy { case (_, id, s) => (-s, id) }.take(k).zipWithIndex
          .map { case ((_, id, s), i) => (qid, i + 1, id, s) }
      }.toDF("query_id", "rank", "doc_id", "score")
      val got = Wand.synonymSearchSnapshot(spark, snap, sq, k, conj)
      val cmp = exp.withColumnRenamed("doc_id", "g_doc")
        .withColumnRenamed("score", "g_score")
        .join(got.withColumnRenamed("doc_id", "f_doc")
          .withColumnRenamed("score", "f_score"),
          Seq("query_id", "rank"), "full_outer")
      assert(cmp.filter($"g_doc".isNull || $"f_doc".isNull ||
        $"g_doc" =!= $"f_doc" || $"g_score" =!= $"f_score").count() == 0,
        s"synonym conj=$conj")
    }
    // a group of one term degrades to the plain term query (tf sum and
    // max df are the member's own), so ranks match the standard engine
    val single = Seq(Wand.SynonymQuery(7, Seq(Seq("spark"))))
    val gotS = Wand.synonymSearchSnapshot(spark, snap, single, k)
      .select($"rank", $"doc_id", $"score")
    val ref = Wand.searchSnapshot(spark, snap,
      Seq(graft.corpus.RefQuery(7, "spark")), k)
      .select($"rank", $"doc_id", $"score")
    assert(gotS.except(ref).count() == 0 && ref.except(gotS).count() == 0)
    // empty groups rejected; fully-analyzed-away groups are dropped
    intercept[IllegalArgumentException] {
      Wand.SynonymQuery(9, Seq(Seq("spark"), Seq.empty))
    }
    intercept[IllegalArgumentException] { Wand.SynonymQuery(9, Seq.empty) }
  }

  test("boosting: negative match demotes (never excludes), golden-identical") {
    val bq = Seq(
      BoostingQuery(0, queries(0).text, queries(1).text),
      BoostingQuery(1, queries(2).text, "zzznosuchterm"),
      BoostingQuery(993, "zzznosuchterm", queries(0).text))
    val nb = 0.4
    val got = Wand.boostingSearchSnapshot(spark, snap, bq, k, nb).cache()
    val pos = Golden.topK(spark, docs,
      bq.map(q => graft.corpus.RefQuery(q.query_id, q.positive)), numDocs.toInt)
      .drop("rank")
    val neg = Golden.topK(spark, docs,
      bq.map(q => graft.corpus.RefQuery(q.query_id, q.negative)), numDocs.toInt)
      .select($"query_id", $"doc_id", lit(true).as("neg"))
    // the fixture must actually exercise the demotion path
    assert(pos.join(neg, Seq("query_id", "doc_id")).count() > 0,
      "no positive∩negative overlap — fixture queries too disjoint")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"score".desc, $"doc_id".asc)
    val exp = pos.join(neg, Seq("query_id", "doc_id"), "left")
      .withColumn("score", Wand.boostingCombine($"score", $"neg", nb))
      .withColumn("rank", row_number().over(w)).filter($"rank" <= k)
      .select($"query_id", $"rank", $"doc_id", $"score")
    val cmp = exp.withColumnRenamed("doc_id", "g_doc")
      .withColumnRenamed("score", "g_score")
      .join(got.withColumnRenamed("doc_id", "f_doc")
        .withColumnRenamed("score", "f_score"),
        Seq("query_id", "rank"), "full_outer")
    assert(cmp.filter($"g_doc".isNull || $"f_doc".isNull ||
      $"g_doc" =!= $"f_doc" || $"g_score" =!= $"f_score").count() == 0)
    // demotion reorders vs plain BM25 (same positive text)
    val plain = Wand.searchSnapshot(spark, snap,
      Seq(graft.corpus.RefQuery(0, bq(0).positive)), k)
    assert(got.filter($"query_id" === 0).select("rank", "doc_id")
      .except(plain.select("rank", "doc_id")).count() > 0)
    // positive-only match set: negative never adds docs
    assert(got.filter($"query_id" === 993).count() == 0)
    got.unpersist()
    intercept[IllegalArgumentException] {
      Wand.boostingSearchSnapshot(spark, snap, bq, k, negativeBoost = 1.0)
    }
  }

  test("mget: found/live/missing totality, upsert shows the live version") {
    val dirM = TestSpark.tempDir("graft-mget")
    val all = CorpusGen.corpus(spark, 200L, seed = 91L).cache()
    IndexBuilder.build(spark, all, dirM, BuildConfig(numShards = 2, commitEvery = 2))
    val ids = all.toDF().limit(3)
      .select(IndexBuilder.docIdCol.as("id"), sha2($"content", 256).as("sha"))
      .as[(String, String)].collect()
    IndexBuilder.delete(spark, dirM, col("doc_id") === ids(0)._1)
    val sf = org.apache.spark.sql.Encoders.product[graft.corpus.SourceFile]
    val changed = all.toDF().withColumn("id", IndexBuilder.docIdCol)
      .filter($"id" === ids(1)._1).drop("id")
      .withColumn("content", concat($"content", lit(" mgetmarker"))).as(sf)
    IndexBuilder.upsert(spark, changed, dirM)
    val got = IndexBuilder.mget(spark, dirM, ids.map(_._1).toSeq :+ "missingid")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got.size == 4) // totality: one row per requested id
    val dead = got(ids(0)._1)
    assert(dead.getBoolean(1) && !dead.getBoolean(2)) // found, not live
    assert(dead.getString(7) == ids(0)._2)            // dead version's sha shown
    val upserted = got(ids(1)._1)
    assert(upserted.getBoolean(1) && upserted.getBoolean(2))
    assert(upserted.getString(7) != ids(1)._2,
      "upserted identity must show the LIVE (new) version's content sha")
    val plain = got(ids(2)._1)
    assert(plain.getBoolean(1) && plain.getBoolean(2)
      && plain.getString(7) == ids(2)._2)
    val missing = got("missingid")
    assert(!missing.getBoolean(1) && missing.isNullAt(2) && missing.isNullAt(7))
    intercept[IllegalArgumentException] { IndexBuilder.mget(spark, dirM, Nil) }
    all.unpersist()
  }

  test("filtered phrase search composes filter and adjacency") {
    val hand = Seq(
      ("r", "p0", "c", "scala", "alpha beta gamma"),
      ("r", "p1", "c", "py", "alpha beta delta"), // phrase hit, filtered out
      ("r", "p2", "c", "scala", "beta alpha"),    // lang hit, no phrase
      ("r", "p3", "c", "scala", "zzz alpha beta")
    ).toDF("repo", "path", "commit", "lang", "content").as[graft.corpus.SourceFile]
    val dirF = TestSpark.tempDir("graft-phrase-filter")
    IndexBuilder.build(spark, hand, dirF,
      BuildConfig(numShards = 2, commitEvery = 2, positions = true))
    val idFor = hand.toDF().withColumn("doc_id", IndexBuilder.docIdCol)
      .select($"path", $"doc_id").as[(String, String)].collect().toMap
    val qs = Seq(graft.corpus.RefQuery(0, "alpha beta"))
    val got = Wand.phraseSearch(spark, dirF, qs, 10,
      filter = Some($"lang" === "scala"))
    assert(got.select("doc_id").as[String].collect().toSet ==
      Set(idFor("p0"), idFor("p3")))
    // golden with the same doc filter agrees bit-identically
    val handDocs = hand.select(IndexBuilder.docIdCol.as("doc_id"), $"content")
    val acc = hand.filter($"lang" === "scala")
      .select(IndexBuilder.docIdCol.as("doc_id")).toDF()
    val g = Golden.phraseTopK(spark, handDocs, qs, 10, docFilter = Some(acc))
      .withColumnRenamed("doc_id", "g_doc").withColumnRenamed("score", "g_score")
    val f = got.withColumnRenamed("doc_id", "f_doc").withColumnRenamed("score", "f_score")
    val cmp = g.join(f, Seq("query_id", "rank"), "full_outer")
    assert(cmp.filter($"g_doc".isNull || $"f_doc".isNull ||
      $"g_doc" =!= $"f_doc" || $"g_score" =!= $"f_score").count() == 0)
  }

  test("phrase search: adjacency semantics pinned on a hand corpus") {
    val hand = Seq(
      ("r", "p0", "c", "scala", "alpha beta gamma delta"),
      ("r", "p1", "c", "scala", "alpha gamma beta delta"), // terms, wrong order
      ("r", "p2", "c", "scala", "zzz alpha beta"),
      ("r", "p3", "c", "scala", "beta alpha"),             // reversed
      ("r", "p4", "c", "scala", "alpha beta alpha beta")
    ).toDF("repo", "path", "commit", "lang", "content").as[graft.corpus.SourceFile]
    val dirH = TestSpark.tempDir("graft-phrase-hand")
    IndexBuilder.build(spark, hand, dirH,
      BuildConfig(numShards = 2, commitEvery = 2, positions = true))
    val handDocs = hand.select(IndexBuilder.docIdCol.as("doc_id"), $"content")
    val idFor = hand.toDF().withColumn("doc_id", IndexBuilder.docIdCol)
      .select($"path", $"doc_id").as[(String, String)].collect().toMap
    def hits(text: String): Set[String] =
      Wand.phraseSearch(spark, dirH, Seq(graft.corpus.RefQuery(0, text)), 10)
        .select("doc_id").as[String].collect().toSet
    assert(hits("alpha beta") == Set(idFor("p0"), idFor("p2"), idFor("p4")))
    assert(hits("beta alpha beta") == Set(idFor("p4"))) // duplicate-term phrase
    assert(hits("gamma delta") == Set(idFor("p0")))
    assert(hits("alpha delta") == Set.empty[String])    // both terms, never adjacent
    // golden agrees on every phrase (rank + bit-identical)
    Seq("alpha beta", "beta alpha beta", "gamma delta", "alpha delta").foreach { p =>
      val qs = Seq(graft.corpus.RefQuery(0, p))
      val g = Golden.phraseTopK(spark, handDocs, qs, 10)
        .withColumnRenamed("doc_id", "g_doc").withColumnRenamed("score", "g_score")
      val f = Wand.phraseSearch(spark, dirH, qs, 10)
        .withColumnRenamed("doc_id", "f_doc").withColumnRenamed("score", "f_score")
      val cmp = g.join(f, Seq("query_id", "rank"), "full_outer")
      assert(cmp.filter($"g_doc".isNull || $"f_doc".isNull ||
        $"g_doc" =!= $"f_doc" || $"g_score" =!= $"f_score").count() == 0, s"phrase '$p'")
    }
  }

  test("phrase search on the seeded corpus: golden-identical, survives delete+compact") {
    val dirP = TestSpark.tempDir("graft-phrase")
    IndexBuilder.build(spark, corpus, dirP,
      BuildConfig(numShards = 4, commitEvery = 4, heavyThreshold = 200,
        saltBuckets = 4, positions = true))
    // phrases lifted from real documents, so every query has >= 1 hit
    val phrases = Seq(0L, 7L, 123L).zipWithIndex.map { case (idx, qid) =>
      val ts = graft.analyze.Tokenizer.tokenize(CorpusGen.contentFor(idx, 42L))
      graft.corpus.RefQuery(qid, ts.slice(3, 6).mkString(" "))
    }
    val golden = Golden.phraseTopK(spark, docs, phrases, k)
      .withColumnRenamed("doc_id", "g_doc").withColumnRenamed("score", "g_score")
    val fast = Wand.phraseSearch(spark, dirP, phrases, k) // via dir: flag round-trips JSON
      .withColumnRenamed("doc_id", "f_doc").withColumnRenamed("score", "f_score").cache()
    assert(fast.count() >= phrases.size) // each phrase finds at least its source doc
    val cmp = golden.join(fast, Seq("query_id", "rank"), "full_outer")
    assert(cmp.filter($"g_doc".isNull || $"f_doc".isNull ||
      $"g_doc" =!= $"f_doc" || $"g_score" =!= $"f_score").count() == 0)
    // positions survive the delete + compact lifecycle
    val pred = pmod(xxhash64($"path"), lit(4)) === 0
    IndexBuilder.delete(spark, dirP, pred)
    val snapC = IndexBuilder.compact(spark, dirP)
    assert(snapC.positions && snapC.tombstoneDirs.isEmpty)
    val survivors = corpus.filter(!pred)
      .select(IndexBuilder.docIdCol.as("doc_id"), $"content")
    val golden2 = Golden.phraseTopK(spark, survivors, phrases, k)
      .withColumnRenamed("doc_id", "g_doc").withColumnRenamed("score", "g_score")
    val fast2 = Wand.phraseSearchSnapshot(spark, snapC, phrases, k)
      .withColumnRenamed("doc_id", "f_doc").withColumnRenamed("score", "f_score")
    val cmp2 = golden2.join(fast2, Seq("query_id", "rank"), "full_outer")
    assert(cmp2.filter($"g_doc".isNull || $"f_doc".isNull ||
      $"g_doc" =!= $"f_doc" || $"g_score" =!= $"f_score").count() == 0)
  }

  test("phrase search on a positionless index fails fast") {
    val e = intercept[IllegalArgumentException] {
      Wand.phraseSearchSnapshot(spark, snap, queries, k)
    }
    assert(e.getMessage.contains("positions"))
  }

  test("boolean query parser: clause prefixes, analyzer normalization, dedup") {
    val q = BoolQuery.parse(7, "+index  query -merge +parseBuf query")
    assert(q.query_id == 7)
    // camelCase words analyze into their split tokens, all in the clause
    assert(q.must.toSeq == Seq("buf", "index", "parse"))
    assert(q.should.toSeq == Seq("query")) // repeated should word dedups
    assert(q.mustNot.toSeq == Seq("merge"))
    assert(q.scoring.toSeq == Seq("buf", "index", "parse", "query"))
    // a should term already required by must scores once: should drops it
    val q2 = BoolQuery.parse(8, "+index index token")
    assert(q2.must.toSeq == Seq("index") && q2.should.toSeq == Seq("token"))
    // pure negation is rejected (unbounded match set)
    intercept[IllegalArgumentException] { BoolQuery.parse(9, "-index") }
  }

  test("boolean search (must/should/must_not): golden-identical, semantics enforced") {
    val bqs = Seq(
      BoolQuery.parse(0, "+index query -merge"),
      BoolQuery.parse(1, "parse token -def"),
      BoolQuery.parse(2, "+sort +hash score"),
      BoolQuery.parse(3, "block cursor"))
    val golden = Golden.booleanTopK(spark, docs, bqs, k)
      .withColumnRenamed("doc_id", "g_doc").withColumnRenamed("score", "g_score")
    val fast = Wand.booleanSearchSnapshot(spark, snap, bqs, k).cache()
    val fastR = fast
      .withColumnRenamed("doc_id", "f_doc").withColumnRenamed("score", "f_score")
    val cmp = golden.join(fastR, Seq("query_id", "rank"), "full_outer").cache()
    assert(cmp.count() > 0)
    assert(cmp.filter($"g_doc".isNull || $"f_doc".isNull ||
      $"g_doc" =!= $"f_doc" || $"g_score" =!= $"f_score").count() == 0)
    // every query produced hits (the clauses are satisfiable on this corpus)
    assert(fast.select("query_id").distinct().count() == bqs.size)
    // clause semantics against the raw corpus: every hit carries all of
    // its query's must terms and none of its mustNot terms
    val docTerms = docs.select($"doc_id",
      explode(array_distinct(graft.analyze.Tokenizer.tokens($"content"))).as("term"))
      .withColumn("has", lit(1))
    val mustPairs = bqs.flatMap(q => q.must.map(t => (q.query_id, t)))
      .toDF("query_id", "term")
    val missingMust = fast.select($"query_id", $"doc_id")
      .join(mustPairs, Seq("query_id"))
      .join(docTerms, Seq("doc_id", "term"), "left")
      .filter($"has".isNull)
    assert(missingMust.count() == 0,
      s"hits missing a must term:\n${missingMust.collect().take(10).mkString("\n")}")
    val notPairs = bqs.flatMap(q => q.mustNot.map(t => (q.query_id, t)))
      .toDF("query_id", "term")
    val hasExcluded = fast.select($"query_id", $"doc_id")
      .join(notPairs, Seq("query_id"))
      .join(docTerms, Seq("doc_id", "term"), "left_semi")
    assert(hasExcluded.count() == 0,
      s"hits containing an excluded term: ${hasExcluded.count()}")
    // the exclusion is REAL: without -merge, query 0 ranks differently
    val noNot = Seq(BoolQuery.parse(0, "+index query"))
    val unexcluded = Wand.booleanSearchSnapshot(spark, snap, noNot, k)
    assert(unexcluded.select("doc_id")
      .join(fast.filter($"query_id" === 0).select("doc_id"), Seq("doc_id"), "left_anti")
      .count() > 0, "-merge excluded no top-k doc; weak test corpus")
    // degenerate equivalences: should-only == OR mode, must-only == AND mode
    val orRef = Wand.searchSnapshot(spark, snap, Seq(graft.corpus.RefQuery(3, "block cursor")), k)
    val cmpOr = fastR.filter($"query_id" === 3)
      .join(orRef.withColumnRenamed("doc_id", "o_doc").withColumnRenamed("score", "o_score"),
        Seq("query_id", "rank"), "full_outer")
    assert(cmpOr.filter($"f_doc".isNull || $"o_doc".isNull ||
      $"f_doc" =!= $"o_doc" || $"f_score" =!= $"o_score").count() == 0)
    val andBool = Wand.booleanSearchSnapshot(spark, snap,
      Seq(BoolQuery.parse(2, "+sort +hash")), k)
      .withColumnRenamed("doc_id", "f_doc").withColumnRenamed("score", "f_score")
    val andRef = Wand.searchSnapshot(spark, snap,
      Seq(graft.corpus.RefQuery(2, "sort hash")), k, conjunctive = true)
      .withColumnRenamed("doc_id", "o_doc").withColumnRenamed("score", "o_score")
    val cmpAnd = andBool.join(andRef, Seq("query_id", "rank"), "full_outer")
    assert(cmpAnd.filter($"f_doc".isNull || $"o_doc".isNull ||
      $"f_doc" =!= $"o_doc" || $"f_score" =!= $"o_score").count() == 0)
  }

  test("boosted search: caret parse, golden-identical, boost 1 equals plain") {
    // parser: analyzer splitting, max-combining, default 1.0
    val p = Golden.queryTermsBoosted("parseBuf^2 query parse^0.5 query")
    assert(p.toSeq == Seq(("buf", 2.0), ("parse", 2.0), ("query", 1.0)))
    intercept[IllegalArgumentException] { Golden.queryTermsBoosted("a^0") }
    intercept[IllegalArgumentException] { Golden.queryTermsBoosted("a^-1.5") }
    val qs = Seq(graft.corpus.RefQuery(0, "parse^3 query"),
      graft.corpus.RefQuery(1, "index^0.25 token^2"))
    val qb = qs.map(q => q.query_id -> Golden.queryTermsBoosted(q.text)).toMap
    val golden = Golden.topKBoosted(spark, docs, qb, k)
      .withColumnRenamed("doc_id", "g_doc").withColumnRenamed("score", "g_score")
    val fast = Wand.boostedSearchSnapshot(spark, snap, qs, k).cache()
    val cmp = golden.join(
      fast.withColumnRenamed("doc_id", "f_doc").withColumnRenamed("score", "f_score"),
      Seq("query_id", "rank"), "full_outer").cache()
    assert(cmp.count() > 0)
    assert(cmp.filter($"g_doc".isNull || $"f_doc".isNull ||
      $"g_doc" =!= $"f_doc" || $"g_score" =!= $"f_score").count() == 0)
    // a caret-free query through the boosted path is bit-identical to
    // the plain path
    val plain = Wand.searchSnapshot(spark, snap, queries.take(2), k)
      .select("query_id", "rank", "doc_id", "score")
      .as[(Int, Int, String, Double)].collect().sortBy(r => (r._1, r._2))
    val viaBoost = Wand.boostedSearchSnapshot(spark, snap, queries.take(2), k)
      .select("query_id", "rank", "doc_id", "score")
      .as[(Int, Int, String, Double)].collect().sortBy(r => (r._1, r._2))
    assert(plain.toSeq == viaBoost.toSeq)
    // the boost is load-bearing: scores differ from the unboosted text
    val unb = Wand.searchSnapshot(spark, snap,
      Seq(graft.corpus.RefQuery(0, "parse query")), k)
      .select("score").as[Double].collect().toSet
    val bst = fast.filter($"query_id" === 0)
      .select("score").as[Double].collect().toSet
    assert(bst.nonEmpty && bst != unb)
  }

  test("minimum_should_match: quota enforced in both modes, golden-identical") {
    // must + should with a 2-of-3 quota, and a pure-should 2-of-3 quota
    val bqs = Seq(
      BoolQuery.of(0, must = "index", should = "parse query token",
        mustNot = "", minShouldMatch = 2),
      BoolQuery.of(1, must = "", should = "parse query token",
        mustNot = "", minShouldMatch = 2),
      // quota above |should|: satisfiable by no doc
      BoolQuery.of(2, must = "index", should = "parse query",
        mustNot = "", minShouldMatch = 3))
    val golden = Golden.booleanTopK(spark, docs, bqs, k)
      .withColumnRenamed("doc_id", "g_doc").withColumnRenamed("score", "g_score")
    val fast = Wand.booleanSearchSnapshot(spark, snap, bqs, k).cache()
    val cmp = golden.join(
      fast.withColumnRenamed("doc_id", "f_doc").withColumnRenamed("score", "f_score"),
      Seq("query_id", "rank"), "full_outer").cache()
    assert(cmp.count() > 0)
    assert(cmp.filter($"g_doc".isNull || $"f_doc".isNull ||
      $"g_doc" =!= $"f_doc" || $"g_score" =!= $"f_score").count() == 0)
    assert(fast.filter($"query_id" === 0).count() > 0)
    assert(fast.filter($"query_id" === 1).count() > 0)
    assert(fast.filter($"query_id" === 2).count() == 0)
    // quota semantics against the raw corpus: every hit matches >= 2 of
    // its query's should terms
    val shouldPairs = bqs.take(2).flatMap(q => q.should.map(t => (q.query_id, t)))
      .toDF("query_id", "term")
    val docTerms = docs.select($"doc_id",
      explode(array_distinct(graft.analyze.Tokenizer.tokens($"content"))).as("term"))
    val counts = fast.select($"query_id", $"doc_id")
      .join(shouldPairs, Seq("query_id"))
      .join(docTerms, Seq("doc_id", "term"), "left_semi")
      .groupBy("query_id", "doc_id").agg(count(lit(1)).as("sm"))
    assert(fast.filter($"query_id" <= 1).select("query_id", "doc_id")
      .join(counts, Seq("query_id", "doc_id"), "left")
      .filter(coalesce($"sm", lit(0L)) < 2).count() == 0)
    // the quota FILTERS, never re-scores: a hit satisfying the quota
    // scores identically with and without it
    val noQuota = Wand.booleanSearchSnapshot(spark, snap,
      Seq(bqs.head.copy(minShouldMatch = 0)), k * 4)
    val rescored = fast.filter($"query_id" === 0)
      .select($"doc_id", $"score".as("q_score"))
      .join(noQuota.select($"doc_id", $"score"), Seq("doc_id"))
      .filter($"q_score" =!= $"score")
    assert(rescored.count() == 0)
    intercept[IllegalArgumentException] {
      BoolQuery.of(9, "a", "b", "", minShouldMatch = -1)
    }
  }

  test("boolean search composes with a metadata filter") {
    val bqs = Seq(BoolQuery.parse(0, "+index query -merge"))
    val pred = col("lang") === "scala"
    val accepted = corpus.filter(pred).select(IndexBuilder.docIdCol.as("doc_id"))
    val golden = Golden.booleanTopK(spark, docs, bqs, k, docFilter = Some(accepted.toDF()))
      .withColumnRenamed("doc_id", "g_doc").withColumnRenamed("score", "g_score")
    val fast = Wand.booleanSearchSnapshot(spark, snap, bqs, k, filter = Some(pred)).cache()
    val cmp = golden.join(
      fast.withColumnRenamed("doc_id", "f_doc").withColumnRenamed("score", "f_score"),
      Seq("query_id", "rank"), "full_outer")
    assert(fast.count() > 0)
    assert(cmp.filter($"g_doc".isNull || $"f_doc".isNull ||
      $"g_doc" =!= $"f_doc" || $"g_score" =!= $"f_score").count() == 0)
    assert(fast.join(accepted, Seq("doc_id"), "left_anti").count() == 0)
  }

  test("prefix search: dictionary expansion, deterministic cap, golden-identical") {
    val qs = Seq(graft.corpus.RefQuery(0, "pars* query"),
      graft.corpus.RefQuery(1, "zzznothing* index"))
    val exp = Wand.expandQueries(spark, snap, qs, maxExpansions = 25)
    // the cap keeps the FIRST 25 matching dictionary terms in term order
    val allPars = spark.read.parquet(snap.termstatsDir)
      .filter($"term".startsWith("pars")).select("term").as[String].collect().sorted
    assert(allPars.length > 25, "corpus has too few pars* terms to exercise the cap")
    assert(exp(0).filter(_.startsWith("pars")).toSeq == allPars.take(25).toSeq)
    assert(exp(0).contains("query"))
    // a prefix matching nothing contributes nothing; literals survive
    assert(exp(1).toSeq == Seq("index"))
    val golden = Golden.topKTerms(spark, docs, exp, k)
      .withColumnRenamed("doc_id", "g_doc").withColumnRenamed("score", "g_score")
    val fast = Wand.prefixSearchSnapshot(spark, snap, qs, k, maxExpansions = 25).cache()
    assert(fast.filter($"query_id" === 0).count() == k)
    val cmp = golden.join(
      fast.withColumnRenamed("doc_id", "f_doc").withColumnRenamed("score", "f_score"),
      Seq("query_id", "rank"), "full_outer")
    assert(cmp.filter($"g_doc".isNull || $"f_doc".isNull ||
      $"g_doc" =!= $"f_doc" || $"g_score" =!= $"f_score").count() == 0)
    // uncapped expansion scores MORE terms -> the capped result differs
    // somewhere in the corpus-wide match set (prefix weight is real)
    val expFull = Wand.expandQueries(spark, snap, qs.take(1))
    assert(expFull(0).length > exp(0).length)
  }

  test("facet counts over the full match set: OR and AND modes, corpus-identical") {
    val fq = queries.take(4)
    val qt = fq.flatMap(q => Golden.queryTerms(q.text).map(t => (q.query_id, t)))
      .toDF("query_id", "term")
    val docTerms = corpus.select($"lang", IndexBuilder.docIdCol.as("doc_id"),
      explode(array_distinct(graft.analyze.Tokenizer.tokens($"content"))).as("term"))
    // OR: docs containing ANY query term, counted per lang
    val got = Aggs.facetCountsSnapshot(spark, snap, fq, "lang")
    val expOr = docTerms.join(qt, Seq("term"))
      .select("query_id", "doc_id", "lang").distinct()
      .groupBy("query_id", "lang").agg(count(lit(1)).as("exp_count"))
    val cmp = got.join(expOr,
      got("query_id") === expOr("query_id") && got("facet") === expOr("lang"),
      "full_outer")
    assert(got.count() > 0)
    assert(cmp.filter($"doc_count".isNull || $"exp_count".isNull ||
      $"doc_count" =!= $"exp_count").count() == 0)
    // AND: docs containing ALL query terms
    val gotAnd = Aggs.facetCountsSnapshot(spark, snap, fq, "lang", conjunctive = true)
    val qn = fq.map(q => (q.query_id, Golden.queryTerms(q.text).length))
      .toDF("query_id", "qt")
    val expAnd = docTerms.join(qt, Seq("term"))
      .select("query_id", "doc_id", "lang", "term").distinct()
      .groupBy("query_id", "doc_id", "lang").agg(count(lit(1)).as("nt"))
      .join(broadcast(qn), Seq("query_id")).filter($"nt" === $"qt")
      .groupBy("query_id", "lang").agg(count(lit(1)).as("exp_count"))
    val cmpAnd = gotAnd.join(expAnd,
      gotAnd("query_id") === expAnd("query_id") && gotAnd("facet") === expAnd("lang"),
      "full_outer")
    assert(cmpAnd.filter($"doc_count".isNull || $"exp_count".isNull ||
      $"doc_count" =!= $"exp_count").count() == 0)
    // AND is a real constraint on this corpus
    val orTotal = got.agg(sum($"doc_count")).head().getLong(0)
    val andTotal = gotAnd.agg(coalesce(sum($"doc_count"), lit(0L))).head().getLong(0)
    assert(andTotal < orTotal)
  }

  test("facet counts exclude tombstoned docs after a delete") {
    val hand = Seq(
      ("r", "p0", "c", "scala", "zebra alpha"),
      ("r", "p1", "c", "py", "zebra beta"),
      ("r", "p2", "c", "scala", "zebra gamma"),
      ("r", "p3", "c", "py", "unrelated words")
    ).toDF("repo", "path", "commit", "lang", "content").as[graft.corpus.SourceFile]
    val dirF = TestSpark.tempDir("graft-facet-del")
    IndexBuilder.build(spark, hand, dirF, BuildConfig(numShards = 2, commitEvery = 2))
    val qs = Seq(graft.corpus.RefQuery(0, "zebra"))
    val before = Aggs.facetCounts(spark, dirF, qs, "lang")
      .as[(Int, String, Long)].collect().toSet
    assert(before == Set((0, "scala", 2L), (0, "py", 1L)))
    IndexBuilder.delete(spark, dirF, col("path") === "p0")
    val after = Aggs.facetCounts(spark, dirF, qs, "lang")
      .as[(Int, String, Long)].collect().toSet
    assert(after == Set((0, "scala", 1L), (0, "py", 1L)))
  }

  test("more-like-this: capped tf-idf term selection, source excluded, golden-identical") {
    val byIdx = corpus.toDF().withColumn("doc_id", IndexBuilder.docIdCol)
    val srcDf = byIdx
      .filter($"path".contains("File_000000.") || $"path".contains("File_000007."))
      .withColumn("query_id",
        when($"path".contains("File_000000."), lit(0)).otherwise(lit(1)))
      .select("query_id", "doc_id", "content")
    val srcIds = srcDf.select("query_id", "doc_id").as[(Int, String)].collect().toMap
    assert(srcIds.size == 2)
    val maxQ = 10
    val qTerms = Wand.mltTerms(spark, snap, srcDf, maxQ, minTermFreq = 2, minDocFreq = 2)
    // selection honors the cap and both frequency floors
    val srcToks: Map[Int, Map[String, Int]] = srcDf
      .select($"query_id", explode(graft.analyze.Tokenizer.tokens($"content")).as("term"))
      .as[(Int, String)].collect().groupBy(_._1)
      .map { case (q, xs) => q -> xs.groupBy(_._2).map { case (t, ys) => t -> ys.length } }
    val corpusDf: Map[String, Long] = docs
      .select($"doc_id", explode(array_distinct(graft.analyze.Tokenizer.tokens($"content"))).as("term"))
      .groupBy("term").count().as[(String, Long)].collect().toMap
    qTerms.foreach { case (qid, ts) =>
      assert(ts.nonEmpty && ts.length <= maxQ, s"query $qid selected ${ts.length} terms")
      ts.foreach { t =>
        assert(srcToks(qid)(t) >= 2, s"term '$t' has source tf ${srcToks(qid).get(t)}")
        assert(corpusDf(t) >= 2, s"term '$t' has corpus df ${corpusDf.get(t)}")
      }
    }
    val fast = Wand.moreLikeThisSnapshot(spark, snap, srcDf, k,
      maxQueryTerms = maxQ, minTermFreq = 2, minDocFreq = 2).cache()
    // the source doc never appears in its own neighbor list
    assert(fast.count() == 2L * k)
    fast.select("query_id", "doc_id").as[(Int, String)].collect().foreach {
      case (qid, doc) => assert(doc != srcIds(qid), s"query $qid returned its source")
    }
    // golden over the same selection, source excluded, re-ranked: identical
    val goldenRaw = Golden.topKTerms(spark, docs, qTerms, k + 1)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"score".desc, $"doc_id".asc)
    val srcIdDf = srcIds.toSeq.toDF("query_id", "src_doc")
    val golden = goldenRaw.drop("rank")
      .join(broadcast(srcIdDf), Seq("query_id"))
      .filter($"doc_id" =!= $"src_doc").drop("src_doc")
      .withColumn("rank", row_number().over(w)).filter($"rank" <= k)
      .withColumnRenamed("doc_id", "g_doc").withColumnRenamed("score", "g_score")
    val cmp = golden.join(
      fast.withColumnRenamed("doc_id", "f_doc").withColumnRenamed("score", "f_score"),
      Seq("query_id", "rank"), "full_outer")
    assert(cmp.filter($"g_doc".isNull || $"f_doc".isNull ||
      $"g_doc" =!= $"f_doc" || $"g_score" =!= $"f_score").count() == 0)
  }

  test("match counts: OR/AND totals corpus-identical; zero-match query included") {
    val fq = queries.take(3) :+ graft.corpus.RefQuery(99, "zzznosuchterm")
    val qt = fq.flatMap(q => Golden.queryTerms(q.text).map(t => (q.query_id, t)))
      .toDF("query_id", "term")
    val docTerms = docs.select($"doc_id",
      explode(array_distinct(graft.analyze.Tokenizer.tokens($"content"))).as("term"))
    val gotOr = Aggs.matchCountsSnapshot(spark, snap, fq)
      .as[(Int, Long)].collect().toMap
    val expOr = docTerms.join(qt, Seq("term")).select("query_id", "doc_id").distinct()
      .groupBy("query_id").count().as[(Int, Long)].collect().toMap
    fq.foreach { q =>
      assert(gotOr(q.query_id) == expOr.getOrElse(q.query_id, 0L),
        s"OR count for query ${q.query_id}")
    }
    assert(gotOr(99) == 0L) // totality: the no-hit query reports 0
    val gotAnd = Aggs.matchCountsSnapshot(spark, snap, fq, conjunctive = true)
      .as[(Int, Long)].collect().toMap
    val qn = fq.map(q => (q.query_id, Golden.queryTerms(q.text).length))
      .toDF("query_id", "qt")
    val expAnd = docTerms.join(qt, Seq("term"))
      .groupBy("query_id", "doc_id").agg(count(lit(1)).as("nt"))
      .join(broadcast(qn), Seq("query_id")).filter($"nt" === $"qt")
      .groupBy("query_id").count().as[(Int, Long)].collect().toMap
    fq.foreach { q =>
      assert(gotAnd(q.query_id) == expAnd.getOrElse(q.query_id, 0L),
        s"AND count for query ${q.query_id}")
    }
    assert(gotAnd.values.sum < gotOr.values.sum)
  }

  test("describe: deep index stats match direct recounts") {
    assert(snap.isComplete) // force the shared fixture (scoped-run safety)
    val row = graft.table.SnapshotCatalog.describe(spark, indexDir).head()
    assert(row.getAs[Long]("id") == snap.id)
    assert(row.getAs[Long]("num_docs") == numDocs)
    assert(row.getAs[Long]("tombstones") == 0L)
    assert(row.getAs[Int]("num_shards") == 8)
    assert(row.getAs[Int]("generations") == snap.segmentDirs.size)
    assert(!row.getAs[Boolean]("positions"))
    val ts = spark.read.parquet(snap.termstatsDir)
    assert(row.getAs[Long]("num_terms") == ts.count())
    assert(row.getAs[Long]("total_postings") ==
      ts.agg(sum($"df")).head().getLong(0))
    // total term occurrences == total tokens (every token is an occurrence)
    assert(row.getAs[Long]("total_occurrences") ==
      docs.agg(sum(size(graft.analyze.Tokenizer.tokens($"content")))).head().getLong(0))
  }

  test("explain: per-term contributions reassemble the search score bit-identically") {
    val fq = queries.take(3)
    val hits = Wand.searchSnapshot(spark, snap, fq, 3).cache()
    val ids = hits.select("doc_id").distinct().as[String].collect().toSeq
    val ex = Wand.explainSnapshot(spark, snap, fq, ids).cache()
    // ascending-term re-summation per (query, doc) == the engine's score
    val rows = ex.select("query_id", "doc_id", "term", "contribution")
      .as[(Int, String, String, Double)].collect()
    val reassembled: Map[(Int, String), Double] = rows
      .groupBy(r => (r._1, r._2))
      .map { case (k, xs) =>
        k -> xs.sortBy(_._3).foldLeft(0.0)((acc, r) => acc + r._4)
      }
    val scores = hits.select("query_id", "doc_id", "score")
      .as[(Int, String, Double)].collect()
    assert(scores.nonEmpty)
    scores.foreach { case (qid, doc, score) =>
      val got = reassembled.getOrElse((qid, doc), Double.NaN)
      assert(got == score, s"explain sum $got != score $score for ($qid, $doc)")
    }
    // ingredients are self-consistent: contribution == idf * tf_norm
    assert(ex.filter($"contribution" =!= $"idf" * $"tf_norm").count() == 0)
    // df matches termstats for every explained term
    val ts = spark.read.parquet(snap.termstatsDir).select($"term", $"df".as("ts_df"))
    assert(ex.join(ts, Seq("term")).filter($"df" =!= $"ts_df").count() == 0)
    // only terms PRESENT in the doc are explained (tf >= 1)
    assert(ex.filter($"tf" < 1).count() == 0)
  }

  test("termstats df matches a direct recount") {
    val expectDf = docs
      .select($"doc_id", explode(graft.analyze.Tokenizer.tokens($"content")).as("term"))
      .distinct().groupBy("term").count()
    val ts = spark.read.parquet(snap.termstatsDir)
    val diff = ts.join(expectDf, Seq("term"), "full_outer")
      .filter($"df".isNull || $"count".isNull || $"df" =!= $"count")
    assert(diff.count() == 0)
  }

  test("from/size pagination: pages tile the full ordering, golden-identical") {
    val fq = queries.take(4)
    val pageK = 5
    // full top-15 is the reference ordering
    val full = Wand.searchSnapshot(spark, snap, fq, 15)
      .as[(Int, Int, String, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    // pages (0,5], (5,10], (10,15] tile it exactly, ranks absolute
    (0 until 3).foreach { p =>
      val page = Wand.searchSnapshot(spark, snap, fq, pageK, from = p * pageK)
        .as[(Int, Int, String, Double)].collect()
      assert(page.nonEmpty, s"page $p empty")
      page.foreach { case (qid, rank, doc, score) =>
        assert(rank > p * pageK && rank <= (p + 1) * pageK, s"rank $rank on page $p")
        assert(full((qid, rank)) == ((doc, score)),
          s"page $p rank $rank differs from the full ordering")
      }
    }
    // golden pages bit-identically too (shared from semantics)
    val gp = Golden.topK(spark, docs, fq, pageK, from = pageK)
      .withColumnRenamed("doc_id", "g_doc").withColumnRenamed("score", "g_score")
    val fp = Wand.searchSnapshot(spark, snap, fq, pageK, from = pageK)
      .withColumnRenamed("doc_id", "f_doc").withColumnRenamed("score", "f_score")
    val cmp = gp.join(fp, Seq("query_id", "rank"), "full_outer")
    assert(cmp.filter($"g_doc".isNull || $"f_doc".isNull ||
      $"g_doc" =!= $"f_doc" || $"g_score" =!= $"f_score").count() == 0)
    // a page beyond the match set is empty, not an error
    val far = Wand.searchSnapshot(spark, snap,
      Seq(graft.corpus.RefQuery(0, "zzznosuchterm")), pageK, from = 10)
    assert(far.count() == 0)
  }

  /** Independent plain-Levenshtein reference (full DP, no cutoff) — the
    * test's own definition, so boundedLevenshtein is pinned against a
    * second implementation, not itself. */
  private def refLev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length) {
      val cost = if (a(i - 1) == b(j - 1)) 0 else 1
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + cost)
    }
    d(a.length)(b.length)
  }

  test("boundedLevenshtein: plain edit distance (no transpositions), bound cutoff") {
    // transposition costs 2 — matches DuckDB/ANSI levenshtein, NOT
    // Lucene's transpositions=true default (documented divergence)
    assert(Wand.boundedLevenshtein("abc", "acb", 2) == 2)
    assert(Wand.boundedLevenshtein("spark", "sparc", 2) == 1)
    assert(Wand.boundedLevenshtein("", "abc", 3) == 3)
    assert(Wand.boundedLevenshtein("same", "same", 0) == 0)
    // beyond the bound: bound + 1, never the exact distance
    assert(Wand.boundedLevenshtein("abcdef", "zzzzzz", 2) == 3)
    assert(Wand.boundedLevenshtein("short", "muchlongerword", 2) == 3)
    // fuzz vs the independent reference on random short strings
    val rnd = new scala.util.Random(7)
    def word() = Array.fill(rnd.nextInt(8))(('a' + rnd.nextInt(4)).toChar).mkString
    (1 to 300).foreach { _ =>
      val (a, b) = (word(), word())
      val exact = refLev(a, b)
      (0 to 3).foreach { bound =>
        val got = Wand.boundedLevenshtein(a, b, bound)
        if (exact <= bound) assert(got == exact, s"($a, $b) bound=$bound")
        else assert(got == bound + 1, s"($a, $b) bound=$bound exact=$exact got=$got")
      }
    }
  }

  test("boundedDamerauLevenshtein: unrestricted DL, DuckDB-pinned, bound cutoff") {
    // battery computed by DuckDB's damerau_levenshtein() — the exact
    // function the q130 oracle replays — so the metric is pinned against
    // the independent implementation, not against itself. CA→ABC = 2 is
    // the unrestricted/OSA discriminator (OSA says 3): a transposed pair
    // may be edited again under Lowrance–Wagner, and DuckDB agrees.
    val battery = Seq(
      ("sprak", "spark", 1), ("qeury", "query", 1), ("osrt", "sort", 1),
      ("CA", "ABC", 2), ("ab", "ba", 1), ("abcd", "acbd", 1),
      ("kitten", "sitting", 3), ("flaw", "lawn", 2), ("teh", "the", 1),
      ("", "abc", 3), ("xy", "", 2), ("same", "same", 0),
      ("banana", "abanan", 2), ("tokne", "token", 1), ("strem", "stream", 1),
      ("mereg", "merge", 1), ("transpose", "trnaspose", 1), ("ba", "ab", 1),
      ("abc", "ca", 2), ("aabb", "bbaa", 3))
    battery.foreach { case (a, b, d) =>
      assert(Wand.boundedDamerauLevenshtein(a, b, 9) == d, s"($a, $b)")
      // below the bound: bound + 1, never the exact distance
      (0 until d).foreach { bd =>
        assert(Wand.boundedDamerauLevenshtein(a, b, bd) == bd + 1,
          s"($a, $b) bound=$bd")
      }
    }
    // metric properties vs plain Levenshtein on random short strings:
    // DL ≤ L ≤ 2·DL (each transposition replaces at most 2 plain edits),
    // symmetric, and 0 iff equal
    val rnd = new scala.util.Random(11)
    def word() = Array.fill(rnd.nextInt(8))(('a' + rnd.nextInt(4)).toChar).mkString
    (1 to 300).foreach { _ =>
      val (a, b) = (word(), word())
      val dl = Wand.boundedDamerauLevenshtein(a, b, 16)
      val l = Wand.boundedLevenshtein(a, b, 16)
      assert(dl <= l && l <= 2 * dl, s"($a, $b) dl=$dl lev=$l")
      assert(Wand.boundedDamerauLevenshtein(b, a, 16) == dl, s"($a, $b) symmetry")
      assert((dl == 0) == (a == b), s"($a, $b) identity")
    }
  }

  test("fuzzy transpositions=true (the Lucene FuzzyQuery default), golden-identical") {
    // 'aprse' is 'parse' with its first pair swapped: Damerau distance 1,
    // plain Levenshtein 2 — at maxEdits=1 only the transpositions metric
    // reaches the term
    val tq = Seq(graft.corpus.RefQuery(0, "aprse~ query"))
    val plainExp = Wand.fuzzyExpandQueries(spark, snap, tq, maxEdits = 1,
      maxExpansions = 50)
    assert(!plainExp(0).contains("parse"))
    val dlExp = Wand.fuzzyExpandQueries(spark, snap, tq, maxEdits = 1,
      maxExpansions = 50, transpositions = true)
    assert(dlExp(0).contains("parse"))
    // expansion == every dictionary term within Damerau distance 1, via
    // the DuckDB-pinned metric over the full dictionary
    val dict = spark.read.parquet(snap.termstatsDir)
      .select("term").as[String].collect()
    val expect = dict.filter(t => Wand.boundedDamerauLevenshtein(t, "aprse", 1) <= 1)
    assert(dlExp(0).toSet == (expect :+ "query").toSet)
    // golden over the same expansion: rank-identical, scores bit-identical
    val golden = Golden.topKTerms(spark, docs, dlExp, k)
      .withColumnRenamed("doc_id", "g_doc").withColumnRenamed("score", "g_score")
    val fast = Wand.fuzzySearchSnapshot(spark, snap, tq, k, maxEdits = 1,
      maxExpansions = 50, transpositions = true)
    val cmp = golden.join(
      fast.withColumnRenamed("doc_id", "f_doc").withColumnRenamed("score", "f_score"),
      Seq("query_id", "rank"), "full_outer")
    assert(cmp.filter($"g_doc".isNull || $"f_doc".isNull ||
      $"g_doc" =!= $"f_doc" || $"g_score" =!= $"f_score").count() == 0)
    // the term suggester takes the same flag (prefixLength=0: the
    // transposition is at the word's FIRST pair)
    val sugg = Wand.suggestSnapshot(spark, snap, Seq("aprse"), maxEdits = 1,
      prefixLength = 0, topN = 5, transpositions = true)
      .select("suggestion", "dist").as[(String, Int)].collect()
    assert(sugg.contains(("parse", 1)))
    val suggPlain = Wand.suggestSnapshot(spark, snap, Seq("aprse"), maxEdits = 1,
      prefixLength = 0, topN = 5)
      .select("suggestion").as[String].collect()
    assert(!suggPlain.contains("parse"))
  }

  test("match fuzziness: AUTO per-word budgets, one-pass expansion, golden-identical") {
    // AUTO brackets (Lucene 3,6 defaults)
    assert(Wand.autoFuzzyEdits("ab") == 0 && Wand.autoFuzzyEdits("abc") == 1 &&
      Wand.autoFuzzyEdits("abcde") == 1 && Wand.autoFuzzyEdits("abcdef") == 2)
    // socre: 5 ch -> 1 edit (transposed "score"); filtre: 6 ch ->
    // 2 edits (transposed "filter"); db: 2 ch -> exact
    val mq = Seq(graft.corpus.RefQuery(0, "socre filtre db"))
    val exp = Wand.matchFuzzyExpandQueries(spark, snap, mq, maxExpansions = 1000)
    val dict = spark.read.parquet(snap.termstatsDir)
      .select("term").as[String].collect()
    val expect = (dict.filter(t => Wand.boundedDamerauLevenshtein(t, "socre", 1) <= 1) ++
      dict.filter(t => Wand.boundedDamerauLevenshtein(t, "filtre", 2) <= 2) ++
      Array("db")).distinct.sorted
    assert(exp(0).sameElements(expect))
    assert(exp(0).contains("score") && exp(0).contains("filter"))
    // a flat budget ignores word length; the 0-budget word passes
    // through even when absent from the dictionary
    val flat0 = Wand.matchFuzzyExpandQueries(spark, snap,
      Seq(graft.corpus.RefQuery(0, "socre zzqx")), fuzziness = "0")
    assert(flat0(0).sameElements(Array("socre", "zzqx").sorted))
    // golden over the same expansion: rank- and bit-identical scores
    val golden = Golden.topKTerms(spark, docs, exp, k)
      .withColumnRenamed("doc_id", "g_doc").withColumnRenamed("score", "g_score")
    val fast = Wand.matchFuzzySearchSnapshot(spark, snap, mq, k,
      maxExpansions = 1000)
    val cmp = golden.join(
      fast.withColumnRenamed("doc_id", "f_doc").withColumnRenamed("score", "f_score"),
      Seq("query_id", "rank"), "full_outer")
    assert(cmp.filter($"g_doc".isNull || $"f_doc".isNull ||
      $"g_doc" =!= $"f_doc" || $"g_score" =!= $"f_score").count() == 0)
    // per-word cap is closest-first: with cap 1, socre keeps only its
    // distance-0-or-nearest term (ties term-asc), not an arbitrary one
    val capped = Wand.matchFuzzyExpandQueries(spark, snap,
      Seq(graft.corpus.RefQuery(0, "socre")), maxExpansions = 1)
    val nearest = dict.filter(t => Wand.boundedDamerauLevenshtein(t, "socre", 1) <= 1)
      .map(t => (Wand.boundedDamerauLevenshtein(t, "socre", 1), t)).sorted.head._2
    assert(capped(0).sameElements(Array(nearest)))
    intercept[IllegalArgumentException] {
      Wand.matchFuzzyExpandQueries(spark, snap, mq, fuzziness = "3")
    }
  }

  test("fuzzy search: edit-distance expansion, deterministic cap, golden-identical") {
    val qs = Seq(graft.corpus.RefQuery(0, "pars~ query"),
      graft.corpus.RefQuery(1, "zzznothing~ index"))
    val dict = spark.read.parquet(snap.termstatsDir)
      .select("term").as[String].collect()
    // expansion == every dictionary term within distance 1, via the
    // test's independent reference distance
    val expect0 = dict.filter(t => refLev(t, "pars") <= 1).sorted
    assert(expect0.nonEmpty, "corpus has no terms near 'pars'")
    val exp = Wand.fuzzyExpandQueries(spark, snap, qs, maxEdits = 1,
      maxExpansions = 50)
    assert(exp(0).toSet == (expect0 :+ "query").toSet)
    // a word matching nothing contributes nothing; literals survive
    assert(exp(1).toSeq == Seq("index"))
    // the cap keeps the FIRST N in (distance asc, term asc) order
    val capped = Wand.fuzzyExpandQueries(spark, snap, qs.take(1), maxEdits = 1,
      maxExpansions = 2)
    val byDist = dict.map(t => (refLev(t, "pars"), t))
      .filter(_._1 <= 1).sorted.take(2).map(_._2)
    assert(capped(0).filterNot(_ == "query").toSeq == byDist.toSeq.sorted)
    // prefixLength constrains candidates to the shared prefix
    val pref = Wand.fuzzyExpandQueries(spark, snap, qs.take(1), maxEdits = 1,
      prefixLength = 4, maxExpansions = 50)
    assert(pref(0).filterNot(_ == "query").forall(_.startsWith("pars")))
    // golden over the same expansion: rank-identical, scores bit-identical
    val golden = Golden.topKTerms(spark, docs, exp, k)
      .withColumnRenamed("doc_id", "g_doc").withColumnRenamed("score", "g_score")
    val fast = Wand.fuzzySearchSnapshot(spark, snap, qs, k, maxEdits = 1,
      maxExpansions = 50).cache()
    assert(fast.filter($"query_id" === 0).count() == k)
    val cmp = golden.join(
      fast.withColumnRenamed("doc_id", "f_doc").withColumnRenamed("score", "f_score"),
      Seq("query_id", "rank"), "full_outer")
    assert(cmp.filter($"g_doc".isNull || $"f_doc".isNull ||
      $"g_doc" =!= $"f_doc" || $"g_score" =!= $"f_score").count() == 0)
  }

  test("top_hits: per-bucket top-n, scores bit-identical to golden") {
    val fq = queries.take(2) :+ graft.corpus.RefQuery(991, "zzznosuchterm")
    val n = 3
    val got = Aggs.topHitsSnapshot(spark, snap, fq, "lang", n).cache()
    // golden FULL ranking (k = corpus size), bucketed independently here
    val full = Golden.topK(spark, docs, fq, numDocs.toInt)
    val meta = corpus.select(IndexBuilder.docIdCol.as("doc_id"), $"lang".as("facet"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id", $"facet").orderBy($"score".desc, $"doc_id".asc)
    val exp = full.join(meta, "doc_id")
      .withColumn("r", row_number().over(w)).filter($"r" <= n)
      .select($"query_id", $"facet", $"r".as("rank"), $"doc_id", $"score")
    val cmp = exp.withColumnRenamed("doc_id", "g_doc")
      .withColumnRenamed("score", "g_score")
      .join(got.withColumnRenamed("doc_id", "f_doc")
        .withColumnRenamed("score", "f_score"),
        Seq("query_id", "facet", "rank"), "full_outer").cache()
    assert(cmp.count() > 0)
    assert(cmp.filter($"g_doc".isNull || $"f_doc".isNull ||
      $"g_doc" =!= $"f_doc" || $"g_score" =!= $"f_score").count() == 0)
    // every bucket with at least n matches reports exactly n hits
    assert(got.filter($"query_id" === 991).count() == 0)
    intercept[IllegalArgumentException] {
      Aggs.topHitsSnapshot(spark, snap, fq, "lang", 0)
    }
  }

  test("collapse: one best hit per field value, global re-rank, golden-identical") {
    val fq = queries.take(2) :+ graft.corpus.RefQuery(992, "zzznosuchterm")
    val k = 4
    val got = Wand.collapseSearchSnapshot(spark, snap, fq, "lang", k).cache()
    // golden: FULL ranking, then the same two windows
    val full = Golden.topK(spark, docs, fq, numDocs.toInt)
    val meta = corpus.select(IndexBuilder.docIdCol.as("doc_id"),
      $"lang".as("collapse_key"))
    val wKey = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id", $"collapse_key")
      .orderBy($"score".desc, $"doc_id".asc)
    val wG = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"score".desc, $"doc_id".asc)
    val exp = full.join(meta, "doc_id")
      .withColumn("r1", row_number().over(wKey)).filter($"r1" === 1)
      .withColumn("rank", row_number().over(wG)).filter($"rank" <= k)
      .select($"query_id", $"rank", $"doc_id", $"collapse_key", $"score")
    val cmp = exp.withColumnRenamed("doc_id", "g_doc")
      .withColumnRenamed("score", "g_score")
      .withColumnRenamed("collapse_key", "g_key")
      .join(got.withColumnRenamed("doc_id", "f_doc")
        .withColumnRenamed("score", "f_score")
        .withColumnRenamed("collapse_key", "f_key"),
        Seq("query_id", "rank"), "full_outer").cache()
    assert(cmp.count() > 0)
    assert(cmp.filter($"g_doc".isNull || $"f_doc".isNull ||
      $"g_doc" =!= $"f_doc" || $"g_key" =!= $"f_key" ||
      $"g_score" =!= $"f_score").count() == 0)
    // collapse contract: at most one hit per key per query
    assert(got.groupBy($"query_id", $"collapse_key").count()
      .filter($"count" > 1).count() == 0)
    assert(got.filter($"query_id" === 992).count() == 0)
    intercept[IllegalArgumentException] {
      Wand.collapseSearchSnapshot(spark, snap, fq, "lang", 0)
    }
  }

  test("regexp search: anchored dictionary expansion, deterministic cap, golden-identical") {
    val qs = Seq(graft.corpus.RefQuery(0, "parse[a-z]{4}"),
      graft.corpus.RefQuery(1, "zzz.*"))
    val dict = spark.read.parquet(snap.termstatsDir)
      .select("term").as[String].collect()
    val expect0 = dict.filter(_.matches("parse[a-z]{4}")).sorted
    assert(expect0.nonEmpty, "corpus has no terms matching parse[a-z]{4}")
    val exp = Wand.regexpExpandQueries(spark, snap, qs)
    assert(exp(0).toSeq == expect0.toSeq)
    assert(exp(1).isEmpty) // no dictionary term starts with zzz
    // FULL anchoring: a pattern matching only a strict substring of terms
    // expands to nothing (Lucene regexp contract)
    val sub = Wand.regexpExpandQueries(spark, snap,
      Seq(graft.corpus.RefQuery(7, "arse")))
    assert(sub(7).isEmpty)
    // the cap keeps the FIRST N in ascending term order
    val capped = Wand.regexpExpandQueries(spark, snap, qs.take(1), maxExpansions = 3)
    assert(capped(0).toSeq == expect0.take(3).toSeq)
    // golden over the same expansion: rank-identical, scores bit-identical
    val golden = Golden.topKTerms(spark, docs, exp, k)
      .withColumnRenamed("doc_id", "g_doc").withColumnRenamed("score", "g_score")
    val fast = Wand.regexpSearchSnapshot(spark, snap, qs, k).cache()
    assert(fast.filter($"query_id" === 0).count() > 0)
    assert(fast.filter($"query_id" === 1).count() == 0)
    val cmp = golden.join(
      fast.withColumnRenamed("doc_id", "f_doc").withColumnRenamed("score", "f_score"),
      Seq("query_id", "rank"), "full_outer")
    assert(cmp.filter($"g_doc".isNull || $"f_doc".isNull ||
      $"g_doc" =!= $"f_doc" || $"g_score" =!= $"f_score").count() == 0)
    // bad syntax fails fast on the driver, before any job runs
    intercept[java.util.regex.PatternSyntaxException] {
      Wand.regexpExpandQueries(spark, snap, Seq(graft.corpus.RefQuery(9, "([")))
    }
  }

  test("wildcard search: glob translation, dictionary expansion, golden-identical") {
    // pure translation: * / ? / escapes / literal metacharacters
    assert(Wand.wildcardToRegex("sc*n") == "sc.*n")
    assert(Wand.wildcardToRegex("qu?ry") == "qu.ry")
    assert(Wand.wildcardToRegex("a.b") == "a\\.b")   // '.' is literal in glob
    assert(Wand.wildcardToRegex("a\\*b") == "a\\*b") // escaped '*' is literal
    assert(Wand.wildcardToRegex("a\\") == "a\\\\")   // trailing bare backslash
    val qs = Seq(graft.corpus.RefQuery(0, "parse*"),
      graft.corpus.RefQuery(1, "p?rse*"),
      graft.corpus.RefQuery(2, "zzz*nope"))
    val dict = spark.read.parquet(snap.termstatsDir)
      .select("term").as[String].collect()
    val expect0 = dict.filter(_.matches("parse.*")).sorted
    val expect1 = dict.filter(_.matches("p.rse.*")).sorted
    assert(expect0.nonEmpty && expect1.length >= expect0.length)
    val exp = Wand.regexpExpandQueries(spark, snap,
      qs.map(q => q.copy(text = Wand.wildcardToRegex(q.text))))
    assert(exp(0).toSeq == expect0.toSeq && exp(1).toSeq == expect1.toSeq)
    assert(exp(2).isEmpty)
    // a mid-pattern '*' is NOT a prefix query: whole-term anchoring holds
    val mid = Wand.regexpExpandQueries(spark, snap,
      Seq(graft.corpus.RefQuery(7, Wand.wildcardToRegex("*arse"))))
    assert(mid(7).toSeq == dict.filter(_.matches(".*arse")).sorted.toSeq)
    // golden over the same expansion: rank-identical, scores bit-identical
    val golden = Golden.topKTerms(spark, docs, exp, k)
      .withColumnRenamed("doc_id", "g_doc").withColumnRenamed("score", "g_score")
    val fast = Wand.wildcardSearchSnapshot(spark, snap, qs, k).cache()
    assert(fast.filter($"query_id" === 0).count() > 0)
    assert(fast.filter($"query_id" === 2).count() == 0)
    val cmp = golden.join(
      fast.withColumnRenamed("doc_id", "f_doc").withColumnRenamed("score", "f_score"),
      Seq("query_id", "rank"), "full_outer")
    assert(cmp.filter($"g_doc".isNull || $"f_doc".isNull ||
      $"g_doc" =!= $"f_doc" || $"g_score" =!= $"f_score").count() == 0)
  }

  test("stats and cardinality aggregations match corpus recounts; zero-match totality") {
    val fq = queries.take(3) :+ graft.corpus.RefQuery(99, "zzznosuchterm")
    val qt = fq.flatMap(q => Golden.queryTerms(q.text).map(t => (q.query_id, t)))
      .toDF("query_id", "term")
    val docMeta = corpus.select(IndexBuilder.docIdCol.as("doc_id"), $"lang",
      size(graft.analyze.Tokenizer.tokens($"content")).cast("long").as("dl"))
    val docTerms = docs.select($"doc_id",
      explode(array_distinct(graft.analyze.Tokenizer.tokens($"content"))).as("term"))
    val matchMeta = docTerms.join(qt, Seq("term"))
      .select("query_id", "doc_id").distinct()
      .join(docMeta, Seq("doc_id"))
    val expStats = matchMeta.groupBy("query_id")
      .agg(count(lit(1)).as("e_n"), min($"dl".cast("double")).as("e_min"),
        max($"dl".cast("double")).as("e_max"),
        sum($"dl".cast("double")).as("e_sum"), avg($"dl").as("e_avg"))
      .as[(Int, Long, Double, Double, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5, r._6)).toMap
    val got = Aggs.statsAggSnapshot(spark, snap, fq, "dl").cache()
    assert(got.count() == fq.size) // totality: every query has a row
    got.collect().foreach { r =>
      val qid = r.getInt(0)
      expStats.get(qid) match {
        case Some((n, mn, mx, sm, av)) =>
          assert(r.getLong(1) == n && r.getDouble(2) == mn && r.getDouble(3) == mx
            && r.getDouble(4) == sm && r.getDouble(5) == av, s"stats for query $qid: $r")
        case None =>
          assert(r.getLong(1) == 0L && r.isNullAt(2) && r.isNullAt(5),
            s"zero-match query $qid must report count 0, null stats: $r")
      }
    }
    // cardinality: distinct langs over the match set, 0 for no-hit queries
    val expCard = matchMeta.groupBy("query_id")
      .agg(count_distinct($"lang").as("c")).as[(Int, Long)].collect().toMap
    val gotCard = Aggs.cardinalityAggSnapshot(spark, snap, fq, "lang")
      .as[(Int, Long)].collect().toMap
    fq.foreach { q =>
      assert(gotCard(q.query_id) == expCard.getOrElse(q.query_id, 0L),
        s"cardinality for query ${q.query_id}")
    }
    // string_stats over the non-null langs: count, lengths, char entropy
    val langs: Map[Int, Seq[String]] = matchMeta.filter($"lang".isNotNull)
      .select("query_id", "lang").as[(Int, String)].collect().toSeq
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2) }
    val gotStr = Aggs.stringStatsAggSnapshot(spark, snap, fq, "lang").collect()
    assert(gotStr.length == fq.size)
    gotStr.foreach { r =>
      val qid = r.getInt(0)
      langs.get(qid) match {
        case Some(vs) =>
          val chars = vs.flatMap(_.toSeq)
          val ent = chars.groupBy(identity).values.map { cs =>
            val p = cs.size.toDouble / chars.size
            -p * math.log(p) / math.log(2.0)
          }.sum
          assert(r.getLong(1) == vs.size && r.getInt(2) == vs.map(_.length).min &&
            r.getInt(3) == vs.map(_.length).max &&
            math.abs(r.getDouble(4) - vs.map(_.length).sum.toDouble / vs.size) < 1e-9 &&
            math.abs(r.getDouble(5) - ent) < 1e-9, s"string_stats for query $qid: $r")
        case None =>
          assert(r.getLong(1) == 0L && (2 to 5).forall(r.isNullAt),
            s"zero-match query $qid must report count 0, null stats: $r")
      }
    }
    // percentiles_bucket: linear-interpolation percentiles of the
    // per-lang bucket counts; every (query, pct) row present
    val pcts = Seq(0.0, 0.5, 0.9)
    val bucketCounts: Map[Int, Seq[Long]] = matchMeta.groupBy("query_id", "lang").count()
      .select("query_id", "count").as[(Int, Long)].collect().toSeq
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).sorted }
    val gotPb = Aggs.percentilesBucketAggSnapshot(spark, snap, fq, "lang", pcts).collect()
    assert(gotPb.length == fq.size * pcts.size)
    gotPb.foreach { r =>
      val (qid, p) = (r.getInt(0), r.getDouble(1))
      bucketCounts.get(qid) match {
        case Some(xs) =>
          val pos = p * (xs.size - 1)
          val (lo, hi) = (xs(pos.toInt), xs(math.ceil(pos).toInt))
          assert(r.getLong(2) == xs.size &&
            math.abs(r.getDouble(3) - (lo + (pos - pos.toInt) * (hi - lo))) < 1e-9,
            s"percentiles_bucket for query $qid at $p: $r")
        case None =>
          assert(r.getLong(2) == 0L && r.isNullAt(3),
            s"zero-match query $qid must report bucket_count 0, null value: $r")
      }
    }
    assert(gotPb.filter(_.getInt(0) == 99).map(_.getDouble(1)).toSeq.sorted == pcts)
  }

  test("range aggregation: half-open buckets, zero-filled, corpus-identical") {
    val fq = queries.take(2)
    val bounds = Seq(150.0, 250.0)
    val got = Aggs.rangeCountsSnapshot(spark, snap, fq, "dl", bounds).cache()
    // totality: |queries| x (|bounds|+1) rows, every bucket present
    assert(got.count() == fq.size * (bounds.size + 1))
    // independent recount with explicit half-open predicates
    val qt = fq.flatMap(q => Golden.queryTerms(q.text).map(t => (q.query_id, t)))
      .toDF("query_id", "term")
    val docMeta = corpus.select(IndexBuilder.docIdCol.as("doc_id"),
      size(graft.analyze.Tokenizer.tokens($"content")).cast("double").as("dl"))
    val matched = docs.select($"doc_id",
        explode(array_distinct(graft.analyze.Tokenizer.tokens($"content"))).as("term"))
      .join(qt, Seq("term")).select("query_id", "doc_id").distinct()
      .join(docMeta, Seq("doc_id"))
    val exp = matched.withColumn("bucket",
        when($"dl" < 150.0, 0).when($"dl" < 250.0, 1).otherwise(2))
      .groupBy("query_id", "bucket").agg(count(lit(1)).as("e_count"))
      .as[(Int, Int, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    got.select("query_id", "bucket", "doc_count").as[(Int, Int, Long)].collect()
      .foreach { case (qid, b, n) =>
        assert(n == exp.getOrElse((qid, b), 0L), s"bucket ($qid, $b)")
      }
    // bucket bound labels: (null,150) [150,250) [250,null)
    val labels = got.filter($"query_id" === fq.head.query_id)
      .orderBy("bucket").select("lo", "hi")
      .collect().map(r => (Option(r.get(0)), Option(r.get(1)))).toSeq
    assert(labels == Seq((None, Some(150.0)), (Some(150.0), Some(250.0)),
      (Some(250.0), None)))
    // non-ascending bounds are rejected
    intercept[IllegalArgumentException] {
      Aggs.rangeCountsSnapshot(spark, snap, fq, "dl", Seq(5.0, 5.0))
    }
  }

  test("histogram aggregation: floor-keyed, gap-filled, corpus-identical") {
    val fq = queries.take(2) :+ graft.corpus.RefQuery(990, "zzznosuchterm")
    val interval = 40.0
    val got = Aggs.histogramAggSnapshot(spark, snap, fq, "dl", interval).cache()
    // independent recount: bucket key = floor(dl / interval) * interval
    val qt = fq.flatMap(q => Golden.queryTerms(q.text).map(t => (q.query_id, t)))
      .toDF("query_id", "term")
    val docMeta = corpus.select(IndexBuilder.docIdCol.as("doc_id"),
      size(graft.analyze.Tokenizer.tokens($"content")).cast("double").as("dl"))
    val matched = docs.select($"doc_id",
        explode(array_distinct(graft.analyze.Tokenizer.tokens($"content"))).as("term"))
      .join(qt, Seq("term")).select("query_id", "doc_id").distinct()
      .join(docMeta, Seq("doc_id"))
    val exp = matched
      .withColumn("key", floor($"dl" / interval) * interval)
      .groupBy("query_id", "key").agg(count(lit(1)).as("e_count"))
      .as[(Int, Double, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val gotRows = got.select("query_id", "key", "doc_count")
      .as[(Int, Double, Long)].collect()
    gotRows.foreach { case (qid, k, n) =>
      assert(n == exp.getOrElse((qid, k), 0L), s"bucket ($qid, $k)")
    }
    // every occupied bucket is present, and the keys per query form a
    // dense gap-filled sequence from min to max occupied key
    exp.foreach { case ((qid, k), _) =>
      assert(gotRows.exists(r => r._1 == qid && r._2 == k), s"missing ($qid, $k)")
    }
    fq.take(2).foreach { q =>
      val ks = gotRows.filter(_._1 == q.query_id).map(_._2).sorted
      assert(ks.nonEmpty)
      ks.sliding(2).foreach { p =>
        if (p.size == 2) assert(p(1) - p(0) == interval, s"gap in ${q.query_id}")
      }
    }
    // zero-match query: no buckets (OpenSearch's empty buckets array)
    assert(!gotRows.exists(_._1 == 990))
    // bucket-explosion circuit breaker fails the job, not the driver
    intercept[Exception] {
      Aggs.histogramAggSnapshot(spark, snap, fq.take(1), "dl", 0.001,
        maxBuckets = 4).collect()
    }
    intercept[IllegalArgumentException] {
      Aggs.histogramAggSnapshot(spark, snap, fq, "dl", 0.0)
    }
  }

  /** (query_id, rank) full-outer join; every column must agree exactly —
    * scores bitwise (both engines sum identical doubles). */
  private def assertPagesIdentical(fast: org.apache.spark.sql.DataFrame,
                                   golden: org.apache.spark.sql.DataFrame,
                                   tag: String): Unit = {
    val f = fast.select($"query_id", $"rank", $"doc_id".as("f_doc"),
      $"score".as("f_score"), $"shard".as("f_shard"), $"ord".as("f_ord"))
    val g = golden.select($"query_id", $"rank", $"doc_id".as("g_doc"),
      $"score".as("g_score"), $"shard".as("g_shard"), $"ord".as("g_ord"))
    val cmp = f.join(g, Seq("query_id", "rank"), "full_outer").cache()
    try {
      val bad = cmp.filter($"f_doc".isNull || $"g_doc".isNull ||
        $"f_doc" =!= $"g_doc" || $"f_score" =!= $"g_score" ||
        $"f_shard" =!= $"g_shard" || $"f_ord" =!= $"g_ord")
      assert(bad.count() == 0,
        s"$tag:\n${bad.orderBy($"query_id", $"rank").collect().take(20).mkString("\n")}")
    } finally cmp.unpersist(false)
  }

  test("search_after pages are exact vs the golden shard-doc ordering") {
    val docmap = spark.read.parquet(snap.docmapDirs: _*)
    val p1 = Wand.searchAfterSnapshot(spark, snap, queries, k).cache()
    assertPagesIdentical(p1, Golden.topKAfter(spark, docs, queries, k, docmap),
      "page 1")
    // cursor = each query's rank-k hit, verbatim from the output columns
    val cur = p1.filter($"rank" === k)
      .select($"query_id", $"score", $"shard", $"ord")
      .as[(Int, Double, Int, Long)].collect()
      .map { case (q, s, sh, o) => q -> (s, sh, o) }.toMap
    assert(cur.nonEmpty)
    val qs2 = queries.filter(q => cur.contains(q.query_id))
    val p2 = Wand.searchAfterSnapshot(spark, snap, qs2, k, cur).cache()
    assertPagesIdentical(p2, Golden.topKAfter(spark, docs, qs2, k, docmap, cur),
      "page 2")
    // pages never overlap, and page-2 scores sit at or below page-1's floor
    val overlap = p1.select($"query_id", $"doc_id")
      .join(p2.select($"query_id", $"doc_id"), Seq("query_id", "doc_id"))
    assert(overlap.count() == 0)
    val floor = p1.filter($"rank" === k)
      .select($"query_id", $"score".as("floor"))
    assert(p2.join(floor, "query_id").filter($"score" > $"floor").count() == 0)
    p1.unpersist(false); p2.unpersist(false)
  }

  test("search_after: conjunctive mode pages exactly, and a pinned snapshot " +
       "pages consistently across a concurrent append (PIT)") {
    val dirP = TestSpark.tempDir("graft-search-after-pit")
    val parts = corpus.randomSplit(Array(0.7, 0.3), seed = 11L)
    val snap0 = IndexBuilder.build(spark, parts(0).as[graft.corpus.SourceFile],
      dirP, BuildConfig(numShards = 4, commitEvery = 4))
    val docs0 = parts(0).select(IndexBuilder.docIdCol.as("doc_id"), $"content")
    val dm0 = spark.read.parquet(snap0.docmapDirs: _*)
    // conjunctive page 1 + page 2 against the golden counterpart
    val fq = queries.take(6)
    val p1 = Wand.searchAfterSnapshot(spark, snap0, fq, 5, conjunctive = true).cache()
    assertPagesIdentical(p1,
      Golden.topKAfter(spark, docs0, fq, 5, dm0, conjunctive = true), "AND page 1")
    val cur = p1.filter($"rank" === 5)
      .select($"query_id", $"score", $"shard", $"ord")
      .as[(Int, Double, Int, Long)].collect()
      .map { case (q, s, sh, o) => q -> (s, sh, o) }.toMap
    assert(cur.nonEmpty)
    val fq2 = fq.filter(q => cur.contains(q.query_id))
    // append lands BETWEEN the two pages — paging against the PINNED
    // snapshot must not see it (the PIT contract); CURRENT moves on
    IndexBuilder.append(spark, parts(1).as[graft.corpus.SourceFile], dirP)
    val p2 = Wand.searchAfterSnapshot(spark, snap0, fq2, 5, cur, conjunctive = true)
    assertPagesIdentical(p2,
      Golden.topKAfter(spark, docs0, fq2, 5, dm0, cur, conjunctive = true),
      "AND page 2 after concurrent append")
    // no overlap between the pages of the pinned snapshot
    assert(p1.select($"query_id", $"doc_id")
      .join(p2.select($"query_id", $"doc_id"), Seq("query_id", "doc_id"))
      .count() == 0)
    p1.unpersist(false)
  }

  test("search_after _shard_doc tie-break is exact on a tie-heavy corpus") {
    // 48 docs but only 4 distinct contents: identical docs score
    // IDENTICALLY, so almost every page boundary falls inside a tie run —
    // the cursor must resume mid-tie by (shard, ord) alone
    val dirSA = TestSpark.tempDir("graft-search-after-ties")
    val base = CorpusGen.corpus(spark, 4, seed = 7L).collect()
    val dup = (0 until 48).map(i => base(i % 4).copy(path = s"dup/p$i.scala"))
    val corpusT = spark.createDataset(dup)
    val snapT = IndexBuilder.build(spark, corpusT, dirSA,
      BuildConfig(numShards = 4, commitEvery = 4))
    val docsT = corpusT.select(IndexBuilder.docIdCol.as("doc_id"), $"content")
    val dm = spark.read.parquet(snapT.docmapDirs: _*)
    // keep queries with >= 4 pages of matches
    val all = CorpusGen.queries(8, seed = 7L)
    val deep = Golden.topKAfter(spark, docsT, all, Int.MaxValue, dm)
      .groupBy("query_id").count().filter($"count" >= 12)
      .select("query_id").as[Int].collect().toSet
    assert(deep.nonEmpty)
    var qs = all.filter(q => deep.contains(q.query_id))
    var cur = Map.empty[Int, (Double, Int, Long)]
    val pageK = 3
    (0 until 4).foreach { page =>
      val pg = Wand.searchAfterSnapshot(spark, snapT, qs, pageK, cur).cache()
      assertPagesIdentical(pg,
        Golden.topKAfter(spark, docsT, qs, pageK, dm, cur), s"tie page $page")
      cur = pg.filter($"rank" === pageK)
        .select($"query_id", $"score", $"shard", $"ord")
        .as[(Int, Double, Int, Long)].collect()
        .map { case (q, s, sh, o) => q -> (s, sh, o) }.toMap
      pg.unpersist(false)
      qs = qs.filter(q => cur.contains(q.query_id))
      assert(qs.nonEmpty, s"all queries exhausted after page $page")
    }
  }

  test("suggest: dictionary corrections ranked by (dist, df desc, term)") {
    // corrupt an inner char of a real frequent term (first char intact —
    // prefixLength = 1 pruning must still find it)
    val (term0, _) = spark.read.parquet(snap.termstatsDir)
      .select($"term", $"df").as[(String, Long)]
      .filter(length($"term") >= 5).orderBy($"df".desc, $"term".asc).head()
    val word = term0.updated(2, if (term0(2) == 'x') 'y' else 'x')
    val got = Wand.suggestSnapshot(spark, snap, Seq(word),
      maxEdits = 2, prefixLength = 1, topN = 5).cache()
    assert(got.filter($"suggestion" === term0).count() == 1,
      s"original term '$term0' missing from suggestions for '$word'")
    // independent recompute with Spark's own levenshtein (same unit-cost
    // metric, different implementation)
    val wExp = org.apache.spark.sql.expressions.Window
      .partitionBy($"word").orderBy($"dist".asc, $"df".desc, $"suggestion".asc)
    val exp = spark.read.parquet(snap.termstatsDir).select($"term", $"df")
      .withColumn("word", lit(word))
      .filter(length($"term").between(word.length - 2, word.length + 2) &&
        substring($"term", 1, 1) === lit(word.substring(0, 1)))
      .withColumn("dist", levenshtein($"term", $"word"))
      .filter($"dist" >= 1 && $"dist" <= 2)
      .withColumnRenamed("term", "suggestion")
      .withColumn("rank", row_number().over(wExp)).filter($"rank" <= 5)
      .select($"word", $"rank", $"suggestion".as("e_sug"),
        $"dist".cast("int").as("e_dist"), $"df".as("e_df"))
    val cmp = got.join(exp, Seq("word", "rank"), "full_outer")
    val bad = cmp.filter($"suggestion".isNull || $"e_sug".isNull ||
      $"suggestion" =!= $"e_sug" || $"dist" =!= $"e_dist" || $"df" =!= $"e_df")
    assert(bad.count() == 0, s"suggest:\n${bad.collect().mkString("\n")}")
    got.unpersist(false)
  }

  test("complete: dictionary autocompletions ranked by (df desc, term)") {
    // a real prefix: first 3 chars of a frequent term
    val (term0, _) = spark.read.parquet(snap.termstatsDir)
      .select($"term", $"df").as[(String, Long)]
      .filter(length($"term") >= 5).orderBy($"df".desc, $"term".asc).head()
    val pfx = term0.substring(0, 3)
    val got = Wand.completeSnapshot(spark, snap, Seq(pfx, "zzzznope"), 5).cache()
    // the source term itself completes (distance-0 rows kept)
    assert(got.filter($"term" === term0).count() == 1)
    assert(got.filter($"prefix" === "zzzznope").count() == 0)
    // independent recompute straight off termstats
    val wExp = org.apache.spark.sql.expressions.Window
      .partitionBy($"prefix").orderBy($"df".desc, $"term".asc)
    val exp = spark.read.parquet(snap.termstatsDir).select($"term", $"df")
      .filter($"term".startsWith(pfx)).withColumn("prefix", lit(pfx))
      .withColumn("rank", row_number().over(wExp)).filter($"rank" <= 5)
      .select($"prefix", $"rank", $"term".as("e_term"), $"df".as("e_df"))
    val cmp = got.join(exp, Seq("prefix", "rank"), "full_outer")
    assert(cmp.filter($"term".isNull || $"e_term".isNull ||
      $"term" =!= $"e_term" || $"df" =!= $"e_df").count() == 0)
    got.unpersist(false)
    intercept[IllegalArgumentException] {
      Wand.completeSnapshot(spark, snap, Seq(""), 5)
    }
    intercept[IllegalArgumentException] {
      Wand.completeSnapshot(spark, snap, Seq(pfx), 0)
    }
  }

  test("multi-index search: per-index stats, merged ranks, overlap = two hits") {
    // two indexes over disjoint halves, plus ONE doc indexed in both
    val dirA = TestSpark.tempDir("graft-multi-a")
    val dirB = TestSpark.tempDir("graft-multi-b")
    val halfA = corpus.filter(abs(xxhash64($"path")) % 2 === 0)
    val shared = halfA.limit(1) // definitely in A; unioned into B below
    val halfB = corpus.filter(abs(xxhash64($"path")) % 2 === 1)
      .unionByName(shared).as[graft.corpus.SourceFile]
    IndexBuilder.build(spark, halfA, dirA, BuildConfig(numShards = 4, commitEvery = 4))
    IndexBuilder.build(spark, halfB, dirB, BuildConfig(numShards = 4, commitEvery = 4))
    val fq = queries.take(4)
    val got = Wand.searchIndexes(spark, Seq(dirA, dirB), fq, k).cache()
    // golden: per-index exact top-k with THAT index's stats, merged the same way
    def gold(half: org.apache.spark.sql.Dataset[graft.corpus.SourceFile], d: String) =
      Golden.topK(spark,
        half.select(IndexBuilder.docIdCol.as("doc_id"), $"content"), fq, k)
        .withColumn("index", lit(d))
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"query_id")
      .orderBy($"score".desc, $"index".asc, $"doc_id".asc)
    val exp = gold(halfA, dirA).unionByName(gold(halfB, dirB))
      .drop("rank").withColumn("rank", row_number().over(w)).filter($"rank" <= k)
      .select($"query_id", $"rank", $"index".as("e_index"),
        $"doc_id".as("e_doc"), $"score".as("e_score"))
    val cmp = got.select($"query_id", $"rank", $"index".as("f_index"),
        $"doc_id".as("f_doc"), $"score".as("f_score"))
      .join(exp, Seq("query_id", "rank"), "full_outer")
    val bad = cmp.filter($"f_doc".isNull || $"e_doc".isNull ||
      $"f_doc" =!= $"e_doc" || $"f_score" =!= $"e_score" || $"f_index" =!= $"e_index")
    assert(bad.count() == 0,
      s"multi-index:\n${bad.orderBy($"query_id", $"rank").collect().take(20).mkString("\n")}")
    // overlap is NOT deduped: query the dual-indexed doc's own tokens at
    // full depth — it matches in both indexes, so it must hit exactly twice
    val sharedRow = shared.select(IndexBuilder.docIdCol.as("id"), $"content")
      .as[(String, String)].head()
    val ownQ = Seq(graft.corpus.RefQuery(7777,
      graft.analyze.Tokenizer.tokenize(sharedRow._2).take(4).mkString(" ")))
    val deepGot = Wand.searchIndexes(spark, Seq(dirA, dirB), ownQ, numDocs.toInt * 2)
    assert(deepGot.filter($"doc_id" === sharedRow._1).count() == 2,
      "expected the dual-indexed doc to hit once per index")
    got.unpersist(false)

    // ---- indices_boost: constant per-index multiplier, applied after each
    //      index's own top-k; within-index order must be unchanged and the
    //      merged order must equal a manual re-merge of the boosted hits ----
    val boosts = Map(dirA -> 2.5, dirB -> 0.5)
    val boosted = Wand.searchIndexes(spark, Seq(dirA, dirB), fq, k,
      boosts = boosts).cache()
    val wB = org.apache.spark.sql.expressions.Window.partitionBy($"query_id")
      .orderBy($"score".desc, $"index".asc, $"doc_id".asc)
    val expB = gold(halfA, dirA).withColumn("score", $"score" * 2.5)
      .unionByName(gold(halfB, dirB).withColumn("score", $"score" * 0.5))
      .drop("rank").withColumn("rank", row_number().over(wB)).filter($"rank" <= k)
      .select($"query_id", $"rank", $"index".as("e_index"),
        $"doc_id".as("e_doc"), $"score".as("e_score"))
    val cmpB = boosted.select($"query_id", $"rank", $"index".as("f_index"),
        $"doc_id".as("f_doc"), $"score".as("f_score"))
      .join(expB, Seq("query_id", "rank"), "full_outer")
    val badB = cmpB.filter($"f_doc".isNull || $"e_doc".isNull ||
      $"f_doc" =!= $"e_doc" || $"f_score" =!= $"e_score" || $"f_index" =!= $"e_index")
    assert(badB.count() == 0,
      s"indices_boost:\n${badB.orderBy($"query_id", $"rank").collect().take(20).mkString("\n")}")
    // within-index relative order is invariant under a positive constant:
    // the boosted run's per-index doc sequence equals the unboosted run's
    val seqOf = (df: org.apache.spark.sql.DataFrame) => df
      .orderBy($"query_id", $"rank")
      .select($"query_id", $"index", $"doc_id").as[(Int, String, String)]
      .collect().groupBy(t => (t._1, t._2))
      .view.mapValues(_.map(_._3).toSeq).toMap
    val gSeq = seqOf(got)
    for (((qid, idx), ds) <- seqOf(boosted)) {
      val base = gSeq.getOrElse((qid, idx), Seq.empty)
      // boosting reshuffles the cross-index interleave, so each side's
      // surviving docs must appear in their original within-index order
      val keep = base.filter(ds.contains)
      assert(ds.filter(keep.contains) == keep.filter(ds.contains),
        s"within-index order changed for q$qid $idx: $ds vs $base")
    }
    boosted.unpersist(false)
    intercept[IllegalArgumentException] {
      Wand.searchIndexes(spark, Seq(dirA, dirB), fq, k,
        boosts = Map("/no/such/dir" -> 2.0))
    }
    intercept[IllegalArgumentException] {
      Wand.searchIndexes(spark, Seq(dirA, dirB), fq, k, boosts = Map(dirA -> 0.0))
    }
  }

  test("field-sorted retrieval matches a brute-force recomputation") {
    val fq = queries.take(4)
    val qdf = fq.flatMap(q => Golden.queryTerms(q.text).map(t => (q.query_id, t)))
      .toDF("query_id", "term")
    val docTerms = docs.select($"doc_id",
        explode(graft.analyze.Tokenizer.tokens($"content")).as("term")).distinct()
    val dl = docs.select($"doc_id",
      size(graft.analyze.Tokenizer.tokens($"content")).cast("long").as("dl"))
    val matched = docTerms.join(qdf, "term").select("query_id", "doc_id").distinct()
    def expect(asc: Boolean) = {
      val o = if (asc) $"dl".asc else $"dl".desc
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"query_id").orderBy(o, $"doc_id".asc)
      matched.join(dl, "doc_id")
        .withColumn("rank", row_number().over(w)).filter($"rank" <= k)
        .select($"query_id", $"rank", $"doc_id".as("e_doc"), $"dl".as("e_key"))
    }
    Seq(true, false).foreach { asc =>
      val got = Wand.sortedSearchSnapshot(spark, snap, fq, k, "dl", ascending = asc)
        .select($"query_id", $"rank", $"doc_id".as("f_doc"), $"sort_key".as("f_key"))
      val cmp = got.join(expect(asc), Seq("query_id", "rank"), "full_outer")
      val bad = cmp.filter($"f_doc".isNull || $"e_doc".isNull ||
        $"f_doc" =!= $"e_doc" || $"f_key" =!= $"e_key")
      assert(bad.count() == 0,
        s"asc=$asc:\n${bad.orderBy($"query_id", $"rank").collect().take(20).mkString("\n")}")
    }
    // conjunctive mode restricts the match set to all-terms docs
    val andGot = Wand.sortedSearchSnapshot(spark, snap, fq, k, "dl",
      ascending = true, conjunctive = true)
    val qn = fq.map(q => (q.query_id, Golden.queryTerms(q.text).length))
      .toDF("query_id", "qt")
    val andMatched = docTerms.join(qdf, Seq("term"))
      .groupBy("query_id", "doc_id").agg(count(lit(1)).as("nt"))
      .join(broadcast(qn), Seq("query_id")).filter($"nt" === $"qt")
      .select("query_id", "doc_id")
    val wAnd = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"dl".asc, $"doc_id".asc)
    val andExp = andMatched.join(dl, "doc_id")
      .withColumn("rank", row_number().over(wAnd)).filter($"rank" <= k)
      .select($"query_id", $"rank", $"doc_id".as("e_doc"), $"dl".as("e_key"))
    val andBad = andGot.select($"query_id", $"rank", $"doc_id".as("f_doc"),
        $"sort_key".as("f_key"))
      .join(andExp, Seq("query_id", "rank"), "full_outer")
      .filter($"f_doc".isNull || $"e_doc".isNull ||
        $"f_doc" =!= $"e_doc" || $"f_key" =!= $"e_key")
    assert(andBad.count() == 0,
      s"conjunctive:\n${andBad.collect().take(20).mkString("\n")}")
  }

  test("derivative + cumulative_sum ride the histogram buckets exactly") {
    val dq = queries.take(2) :+ graft.corpus.RefQuery(995, "zzznosuchterm")
    val interval = 20.0
    val got = Aggs.derivativeAggSnapshot(spark, snap, dq, "dl", interval)
      .cache()
    try {
      // bucket columns are the histogram's, untouched
      val hist = Aggs.histogramAggSnapshot(spark, snap, dq, "dl", interval)
        .withColumnRenamed("doc_count", "h_count")
      val joined = got.join(hist, Seq("query_id", "key"), "full_outer")
      assert(joined.filter($"doc_count".isNull || $"h_count".isNull ||
        $"doc_count" =!= $"h_count").count() == 0)
      // per query in key order: derivative is the first difference (null
      // on the first bucket), cumulative the running total
      val rows = got.orderBy($"query_id", $"key")
        .select($"query_id", $"doc_count", $"derivative", $"cumulative")
        .collect()
      var prev: Option[(Int, Long, Long)] = None // (qid, count, cum)
      rows.foreach { r =>
        val (qid, dc) = (r.getInt(0), r.getLong(1))
        val cum = r.getLong(3)
        prev match {
          case Some((pq, pc, pcum)) if pq == qid =>
            assert(!r.isNullAt(2) && r.getDouble(2) == (dc - pc).toDouble)
            assert(cum == pcum + dc)
          case _ =>
            assert(r.isNullAt(2), "first bucket must have null derivative")
            assert(cum == dc)
        }
        prev = Some((qid, dc, cum))
      }
      assert(rows.nonEmpty)
      // the no-hit query has no buckets at all
      assert(got.filter($"query_id" === 995).count() == 0)
    } finally got.unpersist()
  }

  test("bucket_selector + bucket_sort: avg-metric order over surviving buckets") {
    val bq = queries.take(2)
    val minDc = 2L
    val topN = 2
    val got = Aggs.bucketSortAggSnapshot(spark, snap, bq, "lang", "dl",
      minDc, topN)
    val full = Golden.topK(spark, docs, bq, numDocs.toInt)
    val meta = corpus.select(IndexBuilder.docIdCol.as("doc_id"), $"lang",
      size(graft.analyze.Tokenizer.tokens($"content")).cast("double").as("dlv"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"query_id")
      .orderBy($"avg_v".desc, $"lang".asc)
    val exp = full.join(meta, "doc_id").groupBy($"query_id", $"lang")
      .agg(count(lit(1)).as("doc_count"), avg($"dlv").as("avg_v"))
      .filter($"doc_count" >= minDc)
      .withColumn("rank", row_number().over(w)).filter($"rank" <= topN)
      .select($"query_id", $"rank", $"lang".as("e_facet"),
        $"doc_count".as("e_count"), $"avg_v".as("e_avg"))
    val cmp = got.join(exp, Seq("query_id", "rank"), "full_outer")
    val bad = cmp.filter($"facet".isNull || $"e_facet".isNull ||
      $"facet" =!= $"e_facet" || $"doc_count" =!= $"e_count" ||
      abs($"avg_v" - $"e_avg") > 1e-9)
    assert(bad.count() == 0,
      bad.collect().take(10).mkString("\n"))
    assert(got.count() > 0)
    intercept[IllegalArgumentException] {
      Aggs.bucketSortAggSnapshot(spark, snap, bq, "lang", "dl", 1L, 0)
    }
  }

  test("stats_bucket: sibling stats of the terms buckets, golden-identical") {
    val sq = queries.take(2) :+ graft.corpus.RefQuery(996, "zzznosuchterm")
    val got = Aggs.statsBucketAggSnapshot(spark, snap, sq, "lang")
    val full = Golden.topK(spark, docs, sq, numDocs.toInt)
    val meta = corpus.select(IndexBuilder.docIdCol.as("doc_id"), $"lang")
    val exp = full.join(meta, "doc_id").groupBy($"query_id", $"lang")
      .agg(count(lit(1)).as("doc_count"))
      .groupBy($"query_id")
      .agg(count(lit(1)).as("e_bc"), min($"doc_count").as("e_min"),
        max($"doc_count").as("e_max"), sum($"doc_count").as("e_sum"),
        avg($"doc_count").as("e_avg"))
    val cmp = got.join(exp, Seq("query_id"), "full_outer")
    val bad = cmp.filter($"bucket_count".isNull || $"e_bc".isNull ||
      $"bucket_count" =!= $"e_bc" || $"min_bucket" =!= $"e_min" ||
      $"max_bucket" =!= $"e_max" || $"sum_bucket" =!= $"e_sum" ||
      abs($"avg_bucket" - $"e_avg") > 1e-12)
    assert(bad.count() == 0, bad.collect().take(10).mkString("\n"))
    // the zero-match query reports no row (OpenSearch's null stats_bucket)
    assert(got.filter($"query_id" === 996).count() == 0)
  }

  test("filters agg: overlapping named buckets plus the other bucket") {
    val fq = queries.take(2) :+ graft.corpus.RefQuery(997, "zzznosuchterm")
    val filters = Seq("has_dup" -> "dup", "has_stream" -> "stream")
    val got = Aggs.filtersAggSnapshot(spark, snap, fq, filters).cache()
    try {
      val full = Golden.topK(spark, docs, fq, numDocs.toInt)
        .select($"query_id", $"doc_id")
      val filterSets: Map[String, Set[String]] = filters.map { case (nm, text) =>
        nm -> Golden.topK(spark, docs,
            Seq(graft.corpus.RefQuery(0, text)), numDocs.toInt)
          .select($"doc_id").as[String].collect().toSet
      }.toMap
      val base: Map[Int, Set[String]] = full.as[(Int, String)].collect()
        .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
      val gotMap = got.as[(Int, String, Long)].collect()
        .map { case (q, f, c) => (q, f) -> c }.toMap
      // every (query, bucket) pair is present — zero counts included
      assert(gotMap.size == fq.length * (filters.length + 1))
      fq.foreach { q =>
        val b = base.getOrElse(q.query_id, Set.empty)
        filters.foreach { case (nm, _) =>
          assert(gotMap((q.query_id, nm)) == (b intersect filterSets(nm)).size,
            s"bucket $nm of query ${q.query_id}")
        }
        val anyFilter = filterSets.values.reduce(_ union _)
        assert(gotMap((q.query_id, "_other_")) == (b diff anyFilter).size,
          s"other bucket of query ${q.query_id}")
      }
      // at least one overlap scenario is exercised by the fixture
      assert(gotMap.exists { case ((_, f), c) => f != "_other_" && c > 0 })
    } finally got.unpersist()
    intercept[IllegalArgumentException] {
      Aggs.filtersAggSnapshot(spark, snap, fq, Seq.empty)
    }
    intercept[IllegalArgumentException] {
      Aggs.filtersAggSnapshot(spark, snap, fq,
        Seq("a" -> "dup", "a" -> "stream"))
    }
    intercept[IllegalArgumentException] {
      Aggs.filtersAggSnapshot(spark, snap, fq, Seq("_other_" -> "dup"))
    }
  }

  test("matrix_stats: joint moments of two runtime fields over the match set") {
    val mq = queries.take(2) :+ graft.corpus.RefQuery(998, "zzznosuchterm")
    val got = Aggs.matrixStatsAggSnapshot(spark, snap, mq, "dl", "length(path)")
      .cache()
    try {
      val full = Golden.topK(spark, docs, mq, numDocs.toInt)
      val meta = corpus.select(IndexBuilder.docIdCol.as("doc_id"),
        size(graft.analyze.Tokenizer.tokens($"content")).cast("double").as("x"),
        length($"path").cast("double").as("y"))
      val exp = full.join(meta, "doc_id").groupBy($"query_id")
        .agg(count(lit(1)).as("e_n"), avg($"x").as("e_mx"), avg($"y").as("e_my"),
          var_samp($"x").as("e_vx"), var_samp($"y").as("e_vy"),
          covar_samp($"x", $"y").as("e_cov"), corr($"x", $"y").as("e_corr"))
      val cmp = got.join(exp, Seq("query_id"), "full_outer")
      val bad = cmp.filter($"doc_count".isNull || $"e_n".isNull ||
        $"doc_count" =!= $"e_n" ||
        abs($"mean_x" - $"e_mx") > 1e-9 || abs($"mean_y" - $"e_my") > 1e-9 ||
        abs($"var_x" - $"e_vx") > 1e-6 || abs($"var_y" - $"e_vy") > 1e-6 ||
        abs($"covariance" - $"e_cov") > 1e-6 ||
        abs($"correlation" - $"e_corr") > 1e-9)
      assert(bad.count() == 0, bad.collect().take(10).mkString("\n"))
      assert(got.count() == 2) // the zero-match query reports no row
      // correlation is a real signal on this fixture, not a degenerate 0/1
      val corrs = got.select($"correlation").as[Double].collect()
      assert(corrs.forall(c => !c.isNaN && math.abs(c) < 1.0))
    } finally got.unpersist()
  }

  test("span queries: combinators pinned on a hand corpus, golden bit-identical") {
    val hand = Seq(
      ("r", "s0", "c", "scala", "alpha beta gamma"),
      ("r", "s1", "c", "scala", "gamma alpha beta"),
      ("r", "s2", "c", "scala", "alpha pad beta"),
      ("r", "s3", "c", "scala", "beta alpha"),
      ("r", "s4", "c", "scala", "pad pad alpha beta"),
      ("r", "s5", "c", "scala", "alpha beta pad gamma"),
      ("r", "s6", "c", "scala", "alpha gap beta gamma delta"),
      ("r", "s7", "c", "scala", "alpha beta pad beta") // exhaustive-chain pin
    ).toDF("repo", "path", "commit", "lang", "content").as[graft.corpus.SourceFile]
    val dirS = TestSpark.tempDir("graft-span")
    IndexBuilder.build(spark, hand, dirS,
      BuildConfig(numShards = 2, commitEvery = 2, positions = true))
    val handDocs = hand.select(IndexBuilder.docIdCol.as("doc_id"), $"content")
    val idFor = hand.toDF().withColumn("doc_id", IndexBuilder.docIdCol)
      .select($"path", $"doc_id").as[(String, String)].collect().toMap
    def hits(q: SpanQuery): Set[String] =
      Wand.spanSearch(spark, dirS, Seq(0 -> q), 10)
        .select("doc_id").as[String].collect().toSet
    def paths(ps: String*): Set[String] = ps.map(idFor).toSet

    // span_first(span_or(alpha, gamma), 1): alpha or gamma at position 0
    assert(hits(SpanFirst(SpanOr(Seq(SpanTerm("alpha"), SpanTerm("gamma"))), 1)) ==
      paths("s0", "s1", "s2", "s5", "s6", "s7"))
    // span_not: adjacent "alpha beta" with no gamma in the +/-1 window
    val adj = SpanNear(Seq(SpanTerm("alpha"), SpanTerm("beta")), 0)
    assert(hits(SpanNot(adj, SpanTerm("gamma"), pre = 1, post = 1)) ==
      paths("s4", "s5", "s7"))
    // without the pre/post guards, s0's trailing and s1's leading gamma
    // no longer exclude (they touch but don't overlap the bare span)
    assert(hits(SpanNot(adj, SpanTerm("gamma"))) ==
      paths("s0", "s1", "s4", "s5", "s7"))
    // span_containing: an alpha..gamma chain (gap <= 2) holding a beta
    val bigAG = SpanNear(Seq(SpanTerm("alpha"), SpanTerm("gamma")), 2)
    assert(hits(SpanContaining(bigAG, SpanTerm("beta"))) == paths("s0", "s5", "s6"))
    // span_within matches the same docs but scores only the little term
    assert(hits(SpanWithin(bigAG, SpanTerm("beta"))) == paths("s0", "s5", "s6"))
    // exhaustive enumeration: s7's pad sits only in the LONGER chain
    // (s2's pad is interleaved, so any evaluator finds it; s7 is the pin)
    assert(hits(SpanContaining(SpanNear(Seq(SpanTerm("alpha"), SpanTerm("beta")), 2),
      SpanTerm("pad"))) == paths("s2", "s7"))

    // golden agrees bitwise on every combinator, hand corpus
    val spanQs: Seq[(Int, SpanQuery)] = Seq(
      0 -> SpanFirst(SpanOr(Seq(SpanTerm("alpha"), SpanTerm("gamma"))), 1),
      1 -> SpanNot(adj, SpanTerm("gamma"), pre = 1, post = 1),
      2 -> SpanContaining(bigAG, SpanTerm("beta")),
      3 -> SpanWithin(bigAG, SpanTerm("beta")),
      4 -> SpanNear(Seq(SpanTerm("alpha"), SpanTerm("beta"), SpanTerm("gamma")), 2))
    val g = Golden.spanTopK(spark, handDocs, spanQs, 10)
      .withColumnRenamed("doc_id", "g_doc").withColumnRenamed("score", "g_score")
    val f = Wand.spanSearch(spark, dirS, spanQs, 10)
      .withColumnRenamed("doc_id", "f_doc").withColumnRenamed("score", "f_score")
    val cmp = g.join(f, Seq("query_id", "rank"), "full_outer")
    assert(cmp.filter($"g_doc".isNull || $"f_doc".isNull ||
      $"g_doc" =!= $"f_doc" || $"g_score" =!= $"f_score").count() == 0)

    // a query whose scoring terms are absent everywhere returns no rows
    assert(hits(SpanFirst(SpanTerm("zzznosuchterm"), 5)) == Set.empty[String])
    // positionless index refuses span search
    intercept[IllegalArgumentException] {
      Wand.spanSearchSnapshot(spark, snap, Seq(0 -> SpanTerm("alpha")), 10)
    }
    // a span query with no scoring terms is rejected up front
    intercept[IllegalArgumentException] {
      Golden.spanTopK(spark, handDocs,
        Seq(0 -> SpanNot(SpanOr(Seq.empty), SpanTerm("c"))), 10)
    }
  }

  test("sampler / diversified_sampler: sub-agg over the deterministic top-score sample") {
    val qs = queries.take(3)
    val n = 50
    val meta = corpus.select(IndexBuilder.docIdCol.as("doc_id"), $"lang", $"repo")
    // golden sample: full exact scores in the (score desc, doc_id asc)
    // order — Golden.topK's rank IS the sample cut order
    val full = Golden.topK(spark, docs, qs, numDocs.toInt).cache()
    try {
      val got = Aggs.samplerAggSnapshot(spark, snap, qs, "lang", n)
      val exp = full.filter($"rank" <= n).join(meta, "doc_id")
        .groupBy($"query_id", $"lang".as("value")).agg(count(lit(1)).as("e_cnt"))
      val cmp = got.join(exp, Seq("query_id", "value"), "full_outer")
      assert(cmp.filter($"doc_count".isNull || $"e_cnt".isNull ||
        $"doc_count" =!= $"e_cnt").count() == 0)
      // sample sizes top out at n per query
      val sizes = got.groupBy($"query_id").agg(sum($"doc_count").as("s"))
        .select($"s").as[Long].collect()
      assert(sizes.nonEmpty && sizes.forall(_ <= n))

      // diversified: at most 2 docs per repo survive BEFORE the cut
      val maxPer = 2
      val gotD = Aggs.diversifiedSamplerAggSnapshot(spark, snap, qs, "lang", n,
        "repo", maxPer)
      val wDiv = org.apache.spark.sql.expressions.Window
        .partitionBy($"query_id", $"repo").orderBy($"score".desc, $"doc_id".asc)
      val wS = org.apache.spark.sql.expressions.Window
        .partitionBy($"query_id").orderBy($"score".desc, $"doc_id".asc)
      val expD = full.join(meta, "doc_id")
        .withColumn("dr", row_number().over(wDiv)).filter($"dr" <= maxPer)
        .withColumn("sr", row_number().over(wS)).filter($"sr" <= n)
        .groupBy($"query_id", $"lang".as("value")).agg(count(lit(1)).as("e_cnt"))
      val cmpD = gotD.join(expD, Seq("query_id", "value"), "full_outer")
      assert(cmpD.filter($"doc_count".isNull || $"e_cnt".isNull ||
        $"doc_count" =!= $"e_cnt").count() == 0)
      intercept[IllegalArgumentException] {
        Aggs.diversifiedSamplerAggSnapshot(spark, snap, qs, "lang", n, "repo", 0)
      }
      intercept[IllegalArgumentException] {
        Aggs.samplerAggSnapshot(spark, snap, qs, "lang", 0)
      }
    } finally full.unpersist()
  }

  test("moving_fn / serial_diff: positional pipeline windows over the histogram") {
    val qs = queries.take(2)
    val gotM = Aggs.movingFnAggSnapshot(spark, snap, qs, "dl", 25.0, 3)
      .select($"query_id", $"key", $"doc_count", $"moving_avg")
      .as[(Int, Double, Long, Option[Double])].collect()
      .groupBy(_._1).map { case (q, xs) => q -> xs.sortBy(_._2) }
    assert(gotM.nonEmpty)
    gotM.foreach { case (_, xs) =>
      xs.indices.foreach { i =>
        val wnd = xs.slice(math.max(0, i - 3), i).map(_._3.toDouble)
        val exp = if (wnd.isEmpty) None else Some(wnd.sum / wnd.length)
        assert(xs(i)._4 == exp, s"bucket $i of ${xs.length}")
      }
    }
    val gotS = Aggs.serialDiffAggSnapshot(spark, snap, qs, "dl", 25.0, 2)
      .select($"query_id", $"key", $"doc_count", $"serial_diff")
      .as[(Int, Double, Long, Option[Double])].collect()
      .groupBy(_._1).map { case (q, xs) => q -> xs.sortBy(_._2) }
    gotS.foreach { case (_, xs) =>
      xs.indices.foreach { i =>
        val exp = if (i < 2) None else Some((xs(i)._3 - xs(i - 2)._3).toDouble)
        assert(xs(i)._4 == exp, s"bucket $i of ${xs.length}")
      }
    }
    intercept[IllegalArgumentException] {
      Aggs.movingFnAggSnapshot(spark, snap, qs, "dl", 25.0, 0)
    }
    intercept[IllegalArgumentException] {
      Aggs.serialDiffAggSnapshot(spark, snap, qs, "dl", 25.0, 0)
    }
  }

  test("weighted_avg / median_absolute_deviation over the match set") {
    val qs = queries.take(2) :+ graft.corpus.RefQuery(997, "zzznosuchterm")
    val full = Golden.topK(spark, docs, qs, numDocs.toInt)
    val meta = corpus.select(IndexBuilder.docIdCol.as("doc_id"),
      size(graft.analyze.Tokenizer.tokens($"content")).cast("double").as("v"),
      length($"path").cast("double").as("w"))
    val matchVals = full.join(meta, "doc_id")
      .select($"query_id", $"v", $"w")
      .as[(Int, Double, Double)].collect().groupBy(_._1)

    val gotW = Aggs.weightedAvgAggSnapshot(spark, snap, qs, "dl", "length(path)")
      .select($"query_id", $"doc_count", $"weighted_avg")
      .as[(Int, Long, Option[Double])].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(gotW(997) == ((0L, None))) // totality: zero-match row present
    matchVals.foreach { case (qid, xs) =>
      val exp = xs.map(x => x._2 * x._3).sum / xs.map(_._3).sum
      assert(gotW(qid)._1 == xs.length)
      assert(math.abs(gotW(qid)._2.get - exp) < 1e-9, s"query $qid")
    }

    def medianOf(a: Array[Double]): Double = { // linear interpolation
      val s = a.sorted
      val r = 0.5 * (s.length - 1)
      val lo = r.toInt
      if (lo == r) s(lo) else s(lo) + (r - lo) * (s(lo + 1) - s(lo))
    }
    val gotM = Aggs.madAggSnapshot(spark, snap, qs, "dl")
      .select($"query_id", $"doc_count", $"mad")
      .as[(Int, Long, Option[Double])].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(gotM(997) == ((0L, None)))
    matchVals.foreach { case (qid, xs) =>
      val vs = xs.map(_._2)
      val m = medianOf(vs)
      val exp = medianOf(vs.map(x => math.abs(x - m)))
      assert(gotM(qid)._1 == vs.length)
      assert(math.abs(gotM(qid)._2.get - exp) < 1e-9, s"query $qid")
    }
  }

  test("terms_set: per-doc threshold filters the match set, scores unchanged") {
    val qs = Seq(graft.corpus.RefQuery(0, "def import return"))
    // constant threshold 2: docs holding >= 2 distinct query terms
    val got = Wand.termsSetSearchSnapshot(spark, snap, qs, "2", 40)
      .select($"doc_id", $"score").as[(String, Double)].collect().toMap
    val qset = Set("def", "import", "return")
    val cnt = udf((ts: Seq[String]) => ts.toSet.count(qset))
    val eligible = corpus
      .select(IndexBuilder.docIdCol.as("doc_id"),
        cnt(graft.analyze.Tokenizer.tokens($"content")).as("nt"))
      .filter($"nt" >= 2).select("doc_id").as[String].collect().toSet
    assert(got.keySet.subsetOf(eligible))
    // scores are the plain disjunctive BM25 sums for the same docs
    val golden = Golden.topK(spark, docs, qs, numDocs.toInt)
      .select($"doc_id", $"score").as[(String, Double)].collect().toMap
    got.foreach { case (id, s) => assert(golden(id) == s, id) }
    // the top-40 cut only contains eligible docs and fills from them
    val fullEligibleTop = golden.view.filterKeys(eligible).toSeq
      .sortBy { case (id, s) => (-s, id) }.take(40).map(_._1).toSet
    assert(got.keySet == fullEligibleTop)
  }

  test("rank_eval: precision/recall/MRR/DCG/NDCG recomputed driver-side") {
    val qs = queries.take(2) :+ graft.corpus.RefQuery(996, "zzznosuchterm")
    val ratingBase = corpus.select(IndexBuilder.docIdCol.as("doc_id"),
      (array_contains(graft.analyze.Tokenizer.tokens($"content"), "parse")
        .cast("int") * 2).as("rating")).filter($"rating" > 0)
    val ratings = ratingBase.crossJoin(qs.map(_.query_id).toDF("query_id"))
    val k = 10
    val got = Wand.rankEval(spark, indexDir, qs, ratings, k)
      .collect().map(r => r.getInt(0) -> r).toMap

    val rMap = ratingBase.select($"doc_id", $"rating")
      .as[(String, Int)].collect().toMap
    val hits = Wand.searchSnapshot(spark, snap, qs, k)
      .select($"query_id", $"rank", $"doc_id")
      .as[(Int, Int, String)].collect().groupBy(_._1)
    val totalRel = rMap.size
    val idealK = rMap.toSeq.sortBy { case (id, r) => (-r, id) }.take(k)
    val idcg = idealK.zipWithIndex.map { case ((_, r), i) =>
      (math.pow(2.0, r) - 1.0) / (math.log(i + 2.0) / math.log(2.0)) }.sum
    qs.map(_.query_id).foreach { qid =>
      val row = got(qid)
      val hs = hits.getOrElse(qid, Array.empty).sortBy(_._2)
      val rel = hs.count(h => rMap.getOrElse(h._3, 0) >= 1)
      assert(row.getLong(1) == hs.length)
      assert(row.getLong(2) == rel)
      if (hs.nonEmpty) {
        assert(math.abs(row.getDouble(3) - rel.toDouble / hs.length) < 1e-9)
        assert(math.abs(row.getDouble(4) - rel.toDouble / totalRel) < 1e-9)
        val firstRel = hs.find(h => rMap.getOrElse(h._3, 0) >= 1).map(_._2)
        val mrr = firstRel.map(1.0 / _).getOrElse(0.0)
        assert(math.abs(row.getDouble(5) - mrr) < 1e-9)
        val dcg = hs.map { h =>
          (math.pow(2.0, rMap.getOrElse(h._3, 0).toDouble) - 1.0) /
            (math.log(h._2 + 1.0) / math.log(2.0)) }.map(identity[Double]).sum
        assert(math.abs(row.getDouble(6) - dcg) < 1e-9)
        assert(math.abs(row.getDouble(7) - dcg / idcg) < 1e-9)
      } else {
        assert(row.isNullAt(3) && row.getDouble(5) == 0.0 && row.getDouble(6) == 0.0)
      }
    }
  }

  test("index stats: docs/live/terms/postings across delete and append") {
    val hand = Seq(
      ("r", "x0", "c", "scala", "alpha beta"),
      ("r", "x1", "c", "scala", "alpha gamma alpha"),
      ("r", "x2", "c", "scala", "beta"),
      ("r", "x3", "c", "scala", "delta alpha")
    ).toDF("repo", "path", "commit", "lang", "content").as[graft.corpus.SourceFile]
    val dirX = TestSpark.tempDir("graft-idxstats")
    IndexBuilder.build(spark, hand, dirX, BuildConfig(numShards = 2, commitEvery = 2))
    val s1 = IndexBuilder.indexStats(spark, dirX).head()
    assert(s1.getAs[Long]("docs") == 4L && s1.getAs[Long]("live_docs") == 4L)
    assert(s1.getAs[Long]("deleted_docs") == 0L)
    assert(s1.getAs[Long]("terms") == 4L)   // alpha beta gamma delta
    assert(s1.getAs[Long]("postings") == 7L) // distinct (doc, term) pairs
    assert(s1.getAs[Int]("generations") == 1 && !s1.getAs[Boolean]("positional"))
    IndexBuilder.delete(spark, dirX, $"path" === "x2")
    val s2 = IndexBuilder.indexStats(spark, dirX).head()
    assert(s2.getAs[Long]("docs") == 4L && s2.getAs[Long]("live_docs") == 3L)
    assert(s2.getAs[Long]("deleted_docs") == 1L)
    // termstats is delete-exact: beta survives only via x0
    assert(s2.getAs[Long]("terms") == 4L && s2.getAs[Long]("postings") == 6L)
    val extra = Seq(("r", "x4", "c", "scala", "epsilon alpha"))
      .toDF("repo", "path", "commit", "lang", "content").as[graft.corpus.SourceFile]
    IndexBuilder.append(spark, extra, dirX)
    val s3 = IndexBuilder.indexStats(spark, dirX).head()
    assert(s3.getAs[Long]("docs") == 5L && s3.getAs[Long]("live_docs") == 4L)
    assert(s3.getAs[Long]("terms") == 5L && s3.getAs[Long]("postings") == 8L)
    assert(s3.getAs[Int]("generations") == 2)
  }

  test("highlighting: best-fragment selection pinned on a hand corpus") {
    val hand = Seq(
      ("r", "h0", "c", "scala", "alpha pad pad alpha beta pad"), // densest window wins
      ("r", "h1", "c", "scala", "beta pad alpha"),               // window spans both
      ("r", "h2", "c", "scala", "alpha pad beta pad alpha"),     // tie -> smallest start
      ("r", "h3", "c", "scala", "pad alpha")                     // clipped at doc end
    ).toDF("repo", "path", "commit", "lang", "content").as[graft.corpus.SourceFile]
    val dirH = TestSpark.tempDir("graft-highlight")
    IndexBuilder.build(spark, hand, dirH,
      BuildConfig(numShards = 2, commitEvery = 2)) // no positions needed
    val idFor = hand.toDF().withColumn("doc_id", IndexBuilder.docIdCol)
      .select($"doc_id", $"path").as[(String, String)].collect().toMap
    val res = Wand.highlightSearch(spark, dirH,
      Seq(graft.corpus.RefQuery(0, "alpha beta")), 10, fragSize = 3)
      .select($"doc_id", $"highlight").as[(String, String)].collect()
      .map { case (id, h) => idFor(id) -> h }.toMap
    assert(res("h0") == "<em>alpha</em> <em>beta</em> pad")
    assert(res("h1") == "<em>beta</em> pad <em>alpha</em>")
    assert(res("h2") == "<em>alpha</em> pad <em>beta</em>")
    assert(res("h3") == "<em>alpha</em>")
    // custom tags, and ranks/scores pass through from the base search
    val custom = Wand.highlightSearch(spark, dirH,
      Seq(graft.corpus.RefQuery(0, "beta")), 10, fragSize = 2,
      preTag = "[", postTag = "]")
    val base = Wand.search(spark, dirH, Seq(graft.corpus.RefQuery(0, "beta")), 10)
    val cmp = custom.drop("highlight").join(base,
      Seq("query_id", "rank", "doc_id", "score"), "full_outer")
    assert(cmp.count() == base.count())
    assert(custom.filter($"highlight".contains("[beta]")).count() == custom.count())
    intercept[IllegalArgumentException] {
      Wand.highlightSearch(spark, dirH,
        Seq(graft.corpus.RefQuery(0, "beta")), 10, fragSize = 0)
    }
  }

  test("span queries on the seeded corpus: golden-identical at realistic df") {
    val dirSp = TestSpark.tempDir("graft-span-seeded")
    IndexBuilder.build(spark, corpus, dirSp,
      BuildConfig(numShards = 4, commitEvery = 4, heavyThreshold = 200,
        saltBuckets = 4, positions = true))
    // span trees over real vocabulary, incl. stop-word-like heads whose
    // salted runs must concatenate into one positional cursor
    val qs: Seq[(Int, SpanQuery)] = Seq(
      0 -> SpanFirst(SpanOr(Seq(SpanTerm("def"), SpanTerm("import"))), 3),
      1 -> SpanNear(Seq(SpanTerm("def"), SpanOr(Seq(SpanTerm("parse"),
        SpanTerm("index")))), 4),
      2 -> SpanNot(SpanNear(Seq(SpanTerm("val"), SpanTerm("match")), 6),
        SpanTerm("import"), pre = 2, post = 2),
      3 -> SpanContaining(SpanNear(Seq(SpanTerm("def"), SpanTerm("return")), 8),
        SpanTerm("if")),
      4 -> SpanWithin(SpanNear(Seq(SpanTerm("class"), SpanTerm("extends")), 6),
        SpanTerm("object")))
    val g = Golden.spanTopK(spark, docs, qs, k)
      .withColumnRenamed("doc_id", "g_doc").withColumnRenamed("score", "g_score")
    val f = Wand.spanSearch(spark, dirSp, qs, k)
      .withColumnRenamed("doc_id", "f_doc").withColumnRenamed("score", "f_score")
      .cache()
    try {
      assert(f.count() > 0) // the fixture's vocabulary makes these non-degenerate
      val cmp = g.join(f, Seq("query_id", "rank"), "full_outer")
      assert(cmp.filter($"g_doc".isNull || $"f_doc".isNull ||
        $"g_doc" =!= $"f_doc" || $"g_score" =!= $"f_score").count() == 0)
    } finally f.unpersist()
  }

  test("span_multi: prefix/fuzzy rewrite to span_or, golden-identical") {
    val dirSp = TestSpark.tempDir("graft-span-multi")
    IndexBuilder.build(spark, corpus, dirSp,
      BuildConfig(numShards = 4, commitEvery = 4, positions = true))
    val snapSp = graft.table.SnapshotCatalog.load(spark, dirSp).get
    val pm = Wand.spanMulti(spark, snapSp, "par*", maxExpansions = 16)
    pm match {
      case SpanOr(cs) =>
        assert(cs.nonEmpty && cs.forall {
          case SpanTerm(t) => t.startsWith("par")
          case _           => false
        })
      case other => fail(s"expected SpanOr, got $other")
    }
    val fz = Wand.spanMulti(spark, snapSp, "imprt~") // 1 edit from "import"
    fz match {
      case SpanOr(cs) => assert(cs.contains(SpanTerm("import")))
      case other      => fail(s"expected SpanOr, got $other")
    }
    // the desugared trees run through the one span contract — both
    // engines evaluate the SAME SpanOr, so results pin the expansion
    // plus the integration, bit-identically
    val qs: Seq[(Int, SpanQuery)] = Seq(
      0 -> SpanNear(Seq(SpanTerm("def"), pm), 4),
      1 -> pm,
      2 -> SpanFirst(fz, 5))
    val g = Golden.spanTopK(spark, docs, qs, k)
      .withColumnRenamed("doc_id", "g_doc").withColumnRenamed("score", "g_score")
    val f = Wand.spanSearchSnapshot(spark, snapSp, qs, k)
      .withColumnRenamed("doc_id", "f_doc").withColumnRenamed("score", "f_score")
      .cache()
    try {
      assert(f.count() > 0)
      val cmp = g.join(f, Seq("query_id", "rank"), "full_outer")
      assert(cmp.filter($"g_doc".isNull || $"f_doc".isNull ||
        $"g_doc" =!= $"f_doc" || $"g_score" =!= $"f_score").count() == 0)
    } finally f.unpersist()
    // bad patterns rejected; a no-match pattern is an empty SpanOr that
    // fails spanSearch's no-scoring-terms require when standalone
    intercept[IllegalArgumentException] { Wand.spanMulti(spark, snapSp, "x") }
    intercept[IllegalArgumentException] {
      Wand.spanMulti(spark, snapSp, "nosuffix")
    }
    // one word only: an unmarked word must not join the expansion
    intercept[IllegalArgumentException] {
      Wand.spanMulti(spark, snapSp, "class pars*")
    }
    val none = Wand.spanMulti(spark, snapSp, "zzzqqqvv*")
    assert(none == SpanOr(Seq.empty))
    intercept[IllegalArgumentException] {
      Wand.spanSearchSnapshot(spark, snapSp, Seq(9 -> none), k)
    }
  }

  test("intervals query: unordered window pinned on a hand corpus, golden bit-identical") {
    val hand = Seq(
      ("r", "i0", "c", "scala", "alpha beta"),             // adjacent, in order
      ("r", "i1", "c", "scala", "beta alpha"),             // adjacent, reversed
      ("r", "i2", "c", "scala", "beta pad alpha"),         // reversed, gap 1
      ("r", "i3", "c", "scala", "alpha pad pad beta"),     // gap 2
      ("r", "i4", "c", "scala", "alpha gamma"),            // beta missing
      ("r", "i5", "c", "scala", "alpha beta gamma pad delta"), // all_of target
      ("r", "i6", "c", "scala", "gamma alpha pad beta"),   // pair+term window
      ("r", "i7", "c", "scala", "alpha beta pad gamma beta"), // per-interval exclusion pin
      ("r", "i8", "c", "scala", "alpha gamma beta")        // only window holds gamma
    ).toDF("repo", "path", "commit", "lang", "content").as[graft.corpus.SourceFile]
    val dirI = TestSpark.tempDir("graft-intervals")
    IndexBuilder.build(spark, hand, dirI,
      BuildConfig(numShards = 2, commitEvery = 2, positions = true))
    val handDocs = hand.select(IndexBuilder.docIdCol.as("doc_id"), $"content")
    val idFor = hand.toDF().withColumn("doc_id", IndexBuilder.docIdCol)
      .select($"path", $"doc_id").as[(String, String)].collect().toMap
    def hits(q: SpanQuery): Set[String] =
      Wand.spanSearch(spark, dirI, Seq(0 -> q), 10)
        .select("doc_id").as[String].collect().toSet
    def paths(ps: String*): Set[String] = ps.map(idFor).toSet

    // match(unordered, max_gaps=0): adjacency in EITHER order
    assert(hits(Intervals.matchRule("alpha beta", 0, ordered = false)) ==
      paths("i0", "i1", "i5", "i7"))
    // max_gaps=1 admits the reversed one-gap windows (i2, i6) and i8
    assert(hits(Intervals.matchRule("alpha beta", 1, ordered = false)) ==
      paths("i0", "i1", "i2", "i5", "i6", "i7", "i8"))
    // ordered keeps the SpanNear in-order contract (i1/i2 drop out)
    assert(hits(Intervals.matchRule("alpha beta", 1, ordered = true)) ==
      paths("i0", "i5", "i6", "i7", "i8"))
    // all_of(unordered): the (alpha beta) ordered pair plus a gamma,
    // combined window gap <= 1 — gamma adjacent after the pair (i5),
    // inside the pair window (i8), or one gap out (i6, i7)
    val pairAB = Intervals.matchRule("alpha beta", 1, ordered = true)
    assert(hits(Intervals.allOf(Seq(pairAB, Intervals.matchRule("gamma", 0,
      ordered = false)), 1, ordered = false)) == paths("i5", "i6", "i7", "i8"))
    // any_of is the span_or union
    assert(hits(Intervals.anyOf(Seq(Intervals.matchRule("gamma", 0, false),
      Intervals.matchRule("delta", 0, false)))) ==
      paths("i4", "i5", "i6", "i7", "i8"))
    // not_containing: unordered (alpha ... beta | gaps<=3) windows with
    // no gamma strictly inside — i8's ONLY window holds its gamma and is
    // excluded; i7's tight leading window survives even though its wide
    // alpha..second-beta window holds a gamma (per-interval, not
    // per-doc, exclusion), and i5's gamma AT the window end is outside
    // the half-open span
    assert(hits(Intervals.notContaining(
      Intervals.matchRule("alpha beta", 3, ordered = false),
      Intervals.matchRule("gamma", 0, false))) ==
      paths("i0", "i1", "i2", "i3", "i5", "i6", "i7"))
    // overlap only shrinks the gap: nested sub-rules sharing a term
    // position still match at max_gaps=0
    assert(hits(Intervals.allOf(Seq(Intervals.matchRule("alpha", 0, false),
      Intervals.matchRule("alpha beta", 0, false)), 0, ordered = false)) ==
      paths("i0", "i1", "i5", "i7"))

    // golden agrees bitwise on the rewritten trees
    val intQs: Seq[(Int, SpanQuery)] = Seq(
      0 -> Intervals.matchRule("alpha beta", 1, ordered = false),
      1 -> Intervals.allOf(Seq(pairAB,
        Intervals.matchRule("gamma", 0, false)), 1, ordered = false),
      2 -> Intervals.anyOf(Seq(Intervals.matchRule("gamma", 0, false),
        Intervals.matchRule("delta", 0, false))),
      3 -> Intervals.notContaining(
        Intervals.matchRule("alpha beta", 3, ordered = false),
        Intervals.matchRule("gamma", 0, false)))
    val g = Golden.spanTopK(spark, handDocs, intQs, 10)
      .withColumnRenamed("doc_id", "g_doc").withColumnRenamed("score", "g_score")
    val f = Wand.spanSearch(spark, dirI, intQs, 10)
      .withColumnRenamed("doc_id", "f_doc").withColumnRenamed("score", "f_score")
    val cmp = g.join(f, Seq("query_id", "rank"), "full_outer")
    assert(cmp.filter($"g_doc".isNull || $"f_doc".isNull ||
      $"g_doc" =!= $"f_doc" || $"g_score" =!= $"f_score").count() == 0)

    // a rule that analyzes to nothing is rejected loudly
    intercept[IllegalArgumentException] {
      Intervals.matchRule("   ", 0, ordered = false)
    }
  }

  test("simple_query_string: lenient parse, golden-identical on the seeded corpus") {
    val dirQ = TestSpark.tempDir("graft-sqs")
    IndexBuilder.build(spark, corpus, dirQ,
      BuildConfig(numShards = 4, commitEvery = 4, positions = true))
    val snapQ = graft.table.SnapshotCatalog.load(spark, dirQ).get
    val texts = Seq(
      0 -> "def + parse",                    // AND
      1 -> "\"val match\"~3 | par*",        // sloppy phrase OR prefix
      2 -> "import + -\"def main\"",        // AND NOT phrase
      3 -> "class extends",                  // default OR
      4 -> "(def | val) + (parse | index)") // grouped conjunction
    // parse once; golden evaluates the SAME trees — parser + engine
    // integration pinned bit-identically
    val parsed: Seq[(Int, SpanQuery)] = texts.flatMap { case (qid, t) =>
      SimpleQueryString.parse(spark, snapQ, t, maxExpansions = 16).map(qid -> _)
    }
    assert(parsed.size == texts.size)
    val g = Golden.spanTopK(spark, docs, parsed, k)
      .withColumnRenamed("doc_id", "g_doc").withColumnRenamed("score", "g_score")
    val f = SimpleQueryString.searchSnapshot(spark, snapQ, texts, k,
      maxExpansions = 16)
      .withColumnRenamed("doc_id", "f_doc").withColumnRenamed("score", "f_score")
      .cache()
    try {
      assert(f.count() > 0)
      val cmp = g.join(f, Seq("query_id", "rank"), "full_outer")
      assert(cmp.filter($"g_doc".isNull || $"f_doc".isNull ||
        $"g_doc" =!= $"f_doc" || $"g_score" =!= $"f_score").count() == 0)
    } finally f.unpersist()
    // default_operator=and tightens the match set (or keeps it equal)
    val orHits = SimpleQueryString.searchSnapshot(spark, snapQ,
      Seq(0 -> "def parse"), k).count()
    val andHits = SimpleQueryString.searchSnapshot(spark, snapQ,
      Seq(0 -> "def parse"), k, defaultAnd = true).count()
    assert(andHits <= orHits && orHits > 0)
    // a query that parses to nothing scoring returns no rows, not an error
    assert(SimpleQueryString.searchSnapshot(spark, snapQ,
      Seq(0 -> "-def", 1 -> "", 2 -> "zzqx*"), k).count() == 0)
    // one word at two edit budgets in one text: each leaf is that
    // budget's own fuzzy expansion and cap, not the other's
    val fz = Seq(1, 2).map(e => Wand.fuzzyExpandQueries(spark, snapQ,
      Seq(graft.corpus.RefQuery(0, "sor~")), maxEdits = e, maxExpansions = 16)(0))
    assert(fz(0).nonEmpty && fz(1).length > fz(0).length)
    assert(SimpleQueryString.parse(spark, snapQ, "sor~1 | sor~2", maxExpansions = 16) ==
      Some(SpanOr(fz.map(e => SpanOr(e.toSeq.map(SpanTerm))))))
  }

  test("combined_fields: merged BM25F statistics match a two-field recount") {
    // title field = first 120 chars of content, same doc identity
    val titleCorpus = corpus.toDF()
      .withColumn("content", substring($"content", 1, 120))
      .as(org.apache.spark.sql.Encoders.product[graft.corpus.SourceFile])
    val dirT = TestSpark.tempDir("graft-cf-title")
    IndexBuilder.build(spark, titleCorpus, dirT,
      BuildConfig(numShards = 4, commitEvery = 4))
    val snapT = graft.table.SnapshotCatalog.load(spark, dirT).get
    val cq = queries.take(2)
    val k2 = 10
    val got = Wand.combinedFieldsSearchSnapshots(spark,
      Seq((snap, 1.0), (snapT, 2.0)), cq, k2).cache()
    try {
      // recount: weighted tf/dl merge, combined df, one BM25 over the
      // pseudo-field — the exact definition, from raw token arrays
      def fieldRows(c: org.apache.spark.sql.DataFrame, wf: Double) = {
        val toks = c.select(IndexBuilder.docIdCol.as("doc_id"),
          graft.analyze.Tokenizer.tokens($"content").as("toks"))
        (toks.select($"doc_id", explode($"toks").as("term"))
          .groupBy("doc_id", "term").agg((count(lit(1)) * wf).as("wtf")),
         toks.select($"doc_id", (size($"toks") * wf).as("wdl")))
      }
      val (tfB, dlB) = fieldRows(corpus.toDF(), 1.0)
      val (tfT, dlT) = fieldRows(titleCorpus.toDF(), 2.0)
      val ctf = tfB.unionByName(tfT).groupBy("doc_id", "term")
        .agg(sum($"wtf").as("ctf"))
      val cdl = dlB.unionByName(dlT).groupBy("doc_id")
        .agg(sum($"wdl").as("cdl"))
      val st = cdl.agg(count(lit(1)), avg($"cdl")).head()
      val (n, avgdl) = (st.getLong(0), st.getDouble(1))
      assert(n == numDocs)
      val dfm = ctf.groupBy("term").agg(count(lit(1)).as("df"))
      val qt = cq.flatMap(q => Golden.queryTerms(q.text).map(t => (q.query_id, t)))
        .toDF("query_id", "term")
      val contrib = log(lit(1.0) + (lit(n.toDouble) - $"df" + 0.5) / ($"df" + 0.5)) *
        ($"ctf" * lit(Bm25.K1 + 1.0) /
          ($"ctf" + lit(Bm25.K1) * (lit(1.0 - Bm25.B) + lit(Bm25.B) * $"cdl" / lit(avgdl))))
      val w = org.apache.spark.sql.expressions.Window.partitionBy($"query_id")
        .orderBy($"e_score".desc, $"doc_id".asc)
      val exp = ctf.join(qt, Seq("term")).join(dfm, Seq("term"))
        .join(cdl, Seq("doc_id"))
        .select($"query_id", $"doc_id", contrib.as("c"))
        .groupBy("query_id", "doc_id").agg(sum($"c").as("e_score"))
        .withColumn("e_rank", row_number().over(w)).filter($"e_rank" <= k2)
      val cmp = got.join(exp,
        got("query_id") === exp("query_id") && got("rank") === exp("e_rank"),
        "full_outer")
      assert(cmp.filter(got("doc_id").isNull || exp("doc_id").isNull ||
        got("doc_id") =!= exp("doc_id") ||
        abs(got("score") - exp("e_score")) > lit(1e-9)).count() == 0)
      assert(got.count() == cq.size * k2)
      // pooled tf really drives the ranking: a doc whose term sits in the
      // title counts it 1 + 2 times (title weight) in ONE tf, visible as
      // score > the body-only BM25 for the same doc set
    } finally got.unpersist()
    // the OpenSearch weight constraint is enforced
    intercept[IllegalArgumentException] {
      Wand.combinedFieldsSearchSnapshots(spark, Seq((snap, 0.5)), cq, 5)
    }
  }

  test("combined_fields: staged cdl artifact — hit serves identical rows, lifecycle invalidates") {
    // fresh indexes (the delete below must not taint the shared snap)
    val small = corpus.limit(300)
    val titleCorpus = small.toDF()
      .withColumn("content", substring($"content", 1, 120))
      .as(org.apache.spark.sql.Encoders.product[graft.corpus.SourceFile])
    val dirB = TestSpark.tempDir("graft-cdl-body")
    val dirT = TestSpark.tempDir("graft-cdl-title")
    IndexBuilder.build(spark, small, dirB, BuildConfig(numShards = 4, commitEvery = 4))
    IndexBuilder.build(spark, titleCorpus, dirT, BuildConfig(numShards = 4, commitEvery = 4))
    val sB = graft.table.SnapshotCatalog.load(spark, dirB).get
    val sT = graft.table.SnapshotCatalog.load(spark, dirT).get
    val cq = queries.take(2)
    def run(c: Boolean) = Wand.combinedFieldsSearchSnapshots(spark,
      Seq((sB, 1.0), (sT, 2.0)), cq, 10, cdlCache = c)
      .select("query_id", "rank", "doc_id", "score")
      .as[(Int, Int, String, Double)].collect().sortBy(r => (r._1, r._2))
    val uncached = run(c = false)
    val first = run(c = true)
    // artifact staged under the FIRST field's root, commit-marked
    val cacheRoot = new java.io.File(dirB, "cdl_cache")
    assert(cacheRoot.isDirectory && cacheRoot.listFiles().nonEmpty)
    val entry = cacheRoot.listFiles().head
    assert(new java.io.File(entry, "stats.json").isFile)
    val statsMtime = new java.io.File(entry, "stats.json").lastModified()
    // a hit serves BIT-identical rows without re-staging
    val second = run(c = true)
    assert(first.sameElements(uncached) && second.sameElements(first))
    assert(new java.io.File(entry, "stats.json").lastModified() == statsMtime)
    // a delete shifts the descriptor: fresh key, fresh rows, never a
    // stale serve (the doc deleted from both fields must vanish)
    val victim = first.head._3
    IndexBuilder.delete(spark, dirB, col("doc_id") === victim)
    IndexBuilder.delete(spark, dirT, col("doc_id") === victim)
    val sB2 = graft.table.SnapshotCatalog.load(spark, dirB).get
    val sT2 = graft.table.SnapshotCatalog.load(spark, dirT).get
    val after = Wand.combinedFieldsSearchSnapshots(spark,
      Seq((sB2, 1.0), (sT2, 2.0)), cq, 10)
      .select("doc_id").as[String].collect()
    assert(!after.contains(victim))
    assert(cacheRoot.listFiles().length == 2, "lifecycle change must mint a new cache key")
  }

  test("scroll: drain equals the search_after page loop; pinned snapshot survives deletes") {
    val sq = queries.take(2)
    // page size chosen so the loop really pages (>1 page per query) but
    // stays a handful of sequential jobs — the equivalence is exact at
    // any size, and a 7-row page over this corpus costs ~90 jobs
    val pageSize = 150
    val drain = Wand.scrollDrainSnapshot(spark, snap, sq, pageSize).cache()
    try {
      // page loop: same snapshot, page-relative ranks re-based globally
      val pages = Wand.scrollPages(spark, snap, sq, pageSize, maxPages = 1000)
        .map { case (pageNo, df) =>
          df.select($"query_id", lit(pageNo).as("page"),
            ($"rank" + (pageNo - 1) * pageSize).as("rank"), $"doc_id", $"score")
        }.toList
      assert(pages.nonEmpty)
      val looped = pages.reduce(_ unionAll _)
      val cmp = drain.withColumnRenamed("doc_id", "d_doc")
        .withColumnRenamed("score", "d_score").withColumnRenamed("page", "d_page")
        .join(looped, Seq("query_id", "rank"), "full_outer")
      assert(cmp.filter($"d_doc".isNull || $"doc_id".isNull ||
        $"d_doc" =!= $"doc_id" || $"d_score" =!= $"score" ||
        $"d_page" =!= $"page").count() == 0)
      // page numbering: rank r sits on page (r-1)/pageSize + 1
      assert(drain.filter($"page" =!= (($"rank" - 1) / pageSize).cast("int") + 1)
        .count() == 0)
      // the match set is larger than one page (the loop actually paged)
      assert(pages.size > 1)
    } finally drain.unpersist()
    // PIT pinning: a scroll opened before a delete keeps seeing the
    // deleted docs (the OpenSearch scroll-context contract)
    val dirP = TestSpark.tempDir("graft-scroll-pit")
    IndexBuilder.build(spark, corpus, dirP,
      BuildConfig(numShards = 4, commitEvery = 4))
    val pinned = graft.table.SnapshotCatalog.load(spark, dirP).get
    val before = Wand.scrollDrainSnapshot(spark, pinned, sq, pageSize).cache()
    try {
      val nBefore = before.count()
      val victim = before.select("doc_id").as[String].first()
      IndexBuilder.delete(spark, dirP, $"doc_id" === victim)
      // pinned snapshot: unchanged; fresh load: one doc gone
      assert(Wand.scrollDrainSnapshot(spark, pinned, sq, pageSize).count() == nBefore)
      val after = Wand.scrollDrain(spark, dirP, sq, pageSize)
      assert(after.count() < nBefore)
      assert(after.filter($"doc_id" === victim).count() == 0)
    } finally before.unpersist()
  }

  test("boxplot: five-number summary + IQR whiskers match a corpus recount") {
    val fq = queries.take(2) :+ graft.corpus.RefQuery(97, "zzznosuchterm")
    val qt = fq.flatMap(q => Golden.queryTerms(q.text).map(t => (q.query_id, t)))
      .toDF("query_id", "term")
    val docMeta = corpus.select(IndexBuilder.docIdCol.as("doc_id"),
      size(graft.analyze.Tokenizer.tokens($"content")).cast("double").as("dl"))
    val matchVals = docs.select($"doc_id",
        explode(array_distinct(graft.analyze.Tokenizer.tokens($"content"))).as("term"))
      .join(qt, Seq("term")).select("query_id", "doc_id").distinct()
      .join(docMeta, Seq("doc_id"))
    val exp = matchVals.groupBy("query_id")
      .agg(count(lit(1)).as("n"), min($"dl").as("mn"), max($"dl").as("mx"),
        expr("percentile(dl, array(0.25, 0.5, 0.75))").as("qs"))
      .as[(Int, Long, Double, Double, Seq[Double])].collect()
      .map(r => r._1 -> r).toMap
    val expWhisk = matchVals.join(
        matchVals.groupBy("query_id")
          .agg(expr("percentile(dl, 0.25)").as("q1"),
            expr("percentile(dl, 0.75)").as("q3")), Seq("query_id"))
      .filter($"dl" >= $"q1" - ($"q3" - $"q1") * 1.5 &&
        $"dl" <= $"q3" + ($"q3" - $"q1") * 1.5)
      .groupBy("query_id").agg(min($"dl").as("lo"), max($"dl").as("hi"))
      .as[(Int, Double, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val got = Aggs.boxplotAggSnapshot(spark, snap, fq, "dl").cache()
    try {
      assert(got.count() == fq.size) // totality
      got.collect().foreach { r =>
        val qid = r.getInt(0)
        exp.get(qid) match {
          case Some((_, n, mn, mx, qs)) =>
            val (lo, hi) = expWhisk(qid)
            assert(r.getLong(1) == n && r.getDouble(2) == mn &&
              r.getDouble(3) == qs(0) && r.getDouble(4) == qs(1) &&
              r.getDouble(5) == qs(2) && r.getDouble(6) == mx &&
              r.getDouble(7) == lo && r.getDouble(8) == hi,
              s"boxplot for query $qid: $r")
          case None =>
            assert(r.getLong(1) == 0L && r.isNullAt(2) && r.isNullAt(8),
              s"zero-match boxplot row must be null: $r")
        }
      }
    } finally got.unpersist()
    // the approximate path runs and keeps min/max/count exact
    val ap = Aggs.boxplotAggSnapshot(spark, snap, fq.take(1), "dl", approx = true)
      .collect().head
    val (_, n0, mn0, mx0, _) = exp(fq.head.query_id)
    assert(ap.getLong(1) == n0 && ap.getDouble(2) == mn0 && ap.getDouble(6) == mx0)
  }

  test("t_test: Welch and pooled statistics match a direct recount") {
    val fq = queries.take(2) :+ graft.corpus.RefQuery(98, "zzznosuchterm")
    val fA = $"lang" === "scala"
    val fB = $"lang" =!= "scala"
    val qt = fq.flatMap(q => Golden.queryTerms(q.text).map(t => (q.query_id, t)))
      .toDF("query_id", "term")
    val docMeta = corpus.select(IndexBuilder.docIdCol.as("doc_id"), $"lang",
      size(graft.analyze.Tokenizer.tokens($"content")).cast("double").as("dl"))
    val mv = docs.select($"doc_id",
        explode(array_distinct(graft.analyze.Tokenizer.tokens($"content"))).as("term"))
      .join(qt, Seq("term")).select("query_id", "doc_id").distinct()
      .join(docMeta, Seq("doc_id"))
    val sides = mv.groupBy("query_id").agg(
        count(when(fA, 1)).as("na"), count(when(fB, 1)).as("nb"),
        avg(when(fA, $"dl")).as("ma"), avg(when(fB, $"dl")).as("mb"),
        var_samp(when(fA, $"dl")).as("va"), var_samp(when(fB, $"dl")).as("vb"))
      .as[(Int, Long, Long, Double, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    val welch = Aggs.tTestAggSnapshot(spark, snap, fq, "dl", fA, fB).cache()
    try {
      assert(welch.count() == fq.size)
      welch.collect().foreach { r =>
        val qid = r.getInt(0)
        sides.get(qid) match {
          case Some((_, na, nb, ma, mb, va, vb)) =>
            val t = (ma - mb) / math.sqrt(va / na + vb / nb)
            val se2 = va / na + vb / nb
            val df = se2 * se2 / (va * va / (na.toDouble * na * (na - 1)) +
              vb * vb / (nb.toDouble * nb * (nb - 1)))
            assert(r.getLong(1) == na && r.getLong(2) == nb)
            assert(math.abs(r.getDouble(3) - t) < 1e-9 &&
              math.abs(r.getDouble(4) - df) < 1e-6, s"welch for $qid: $r vs $t/$df")
          case None =>
            assert(r.getLong(1) == 0L && r.isNullAt(3) && r.isNullAt(4))
        }
      }
    } finally welch.unpersist()
    val pooled = Aggs.tTestAggSnapshot(spark, snap, fq.take(1), "dl", fA, fB,
      homoscedastic = true).collect().head
    val (_, na, nb, ma, mb, va, vb) = sides(fq.head.query_id)
    val sp2 = ((na - 1) * va + (nb - 1) * vb) / (na + nb - 2).toDouble
    val tp = (ma - mb) / math.sqrt(sp2 * (1.0 / na + 1.0 / nb))
    assert(math.abs(pooled.getDouble(3) - tp) < 1e-9 &&
      pooled.getDouble(4) == (na + nb - 2).toDouble)
  }

  test("query_string: fielded filters ride the span filter, golden-identical") {
    val dirQ = TestSpark.tempDir("graft-qstring")
    IndexBuilder.build(spark, corpus, dirQ,
      BuildConfig(numShards = 4, commitEvery = 4, positions = true))
    val snapQ = graft.table.SnapshotCatalog.load(spark, dirQ).get
    val allowed = Set("lang", "dl")
    val texts = Seq(
      0 -> "lang:scala def + parse",
      1 -> "dl:[100 TO 300] \"val match\"~3 | import",
      2 -> "lang:py dl:{150 TO *} class extends")
    val got = graft.search.QueryString.searchSnapshot(spark, snapQ, texts, k,
      allowed).cache()
    try {
      assert(got.count() > 0)
      // golden twin: the SAME parsed trees with the predicate as a
      // docFilter over the raw corpus — bit-identical by construction
      val preds = Seq(
        0 -> ($"lang" === "scala"),
        1 -> ($"dl".cast("double") >= 100 && $"dl".cast("double") <= 300),
        2 -> ($"lang" === "py" && $"dl".cast("double") > 150))
      val sqsTexts = Seq(0 -> "def + parse",
        1 -> "\"val match\"~3 | import", 2 -> "class extends")
      val meta = corpus.toDF()
        .withColumn("dl", size(graft.analyze.Tokenizer.tokens($"content")))
      for (((qid, pred), (_, text)) <- preds.zip(sqsTexts)) {
        val accepted = meta.filter(pred)
          .select(IndexBuilder.docIdCol.as("doc_id"))
        val tree = SimpleQueryString.parse(spark, snapQ, text).get
        val g = Golden.spanTopK(spark, docs, Seq(qid -> tree), k,
          docFilter = Some(accepted))
          .withColumnRenamed("doc_id", "g_doc").withColumnRenamed("score", "g_score")
        val f = got.filter($"query_id" === qid)
          .withColumnRenamed("doc_id", "f_doc").withColumnRenamed("score", "f_score")
        val cmp = g.join(f, Seq("query_id", "rank"), "full_outer")
        assert(cmp.filter($"g_doc".isNull || $"f_doc".isNull ||
          $"g_doc" =!= $"f_doc" || $"g_score" =!= $"f_score").count() == 0,
          s"query_string $qid mismatch vs golden")
      }
    } finally got.unpersist()
    // an all-filter query (no ranked text left) is rejected loudly
    intercept[IllegalArgumentException] {
      graft.search.QueryString.searchSnapshot(spark, snapQ,
        Seq(0 -> "lang:scala dl:[1 TO 2]"), k, allowed)
    }
    // unknown fields too
    intercept[IllegalArgumentException] {
      graft.search.QueryString.searchSnapshot(spark, snapQ,
        Seq(0 -> "bogus:x def"), k, allowed)
    }
  }

  test("normalize + cumulative_cardinality pipeline aggs match corpus recounts") {
    val fq = queries.take(2)
    val interval = 40.0
    val qt = fq.flatMap(q => Golden.queryTerms(q.text).map(t => (q.query_id, t)))
      .toDF("query_id", "term")
    val docMeta = corpus.select(IndexBuilder.docIdCol.as("doc_id"), $"lang",
      floor(size(graft.analyze.Tokenizer.tokens($"content"))
        .cast("double") / interval).cast("long").as("bidx"))
    val mv = docs.select($"doc_id",
        explode(array_distinct(graft.analyze.Tokenizer.tokens($"content"))).as("term"))
      .join(qt, Seq("term")).select("query_id", "doc_id").distinct()
      .join(docMeta, Seq("doc_id")).cache()
    try {
      // expected bucket counts over the DENSIFIED span (driver-side fold:
      // bucket count is tiny by construction)
      val counts: Map[(Int, Long), Long] = mv.groupBy("query_id", "bidx")
        .agg(count(lit(1)).as("n")).as[(Int, Long, Long)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
      val spans: Map[Int, (Long, Long)] = counts.keys.groupBy(_._1)
        .map { case (q, ks) => q -> (ks.map(_._2).min, ks.map(_._2).max) }
      def series(q: Int): Seq[(Double, Long)] = {
        val (lo, hi) = spans(q)
        (lo to hi).map(b => (b * interval, counts.getOrElse((q, b), 0L)))
      }
      // percent_of_sum
      val ps = Aggs.normalizeAggSnapshot(spark, snap, fq, "dl", interval,
        "percent_of_sum").as[(Int, Double, Long, Option[Double])].collect()
        .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
      fq.foreach { q =>
        val s = series(q.query_id)
        val total = s.map(_._2).sum.toDouble
        s.foreach { case (k, n) =>
          val (gotN, gotV) = ps((q.query_id, k))
          assert(gotN == n && math.abs(gotV.get - n / total) < 1e-12,
            s"percent_of_sum q=${q.query_id} k=$k")
        }
      }
      // z_score with the population sigma
      val zs = Aggs.normalizeAggSnapshot(spark, snap, fq, "dl", interval,
        "z_score").as[(Int, Double, Long, Option[Double])].collect()
        .map(r => (r._1, r._2) -> r._4).toMap
      fq.foreach { q =>
        val s = series(q.query_id).map(_._2.toDouble)
        val mu = s.sum / s.size
        val sigma = math.sqrt(s.map(x => (x - mu) * (x - mu)).sum / s.size)
        series(q.query_id).foreach { case (k, n) =>
          assert(math.abs(zs((q.query_id, k)).get - (n - mu) / sigma) < 1e-9,
            s"z_score q=${q.query_id} k=$k")
        }
      }
      // ... and bit-identical whatever the shuffle layout: the window
      // folds each query's buckets in key order, not arrival order
      val partitions0 = spark.conf.get("spark.sql.shuffle.partitions")
      def zBits(partitions: Int): Map[(Int, Double), Option[Long]] = {
        spark.conf.set("spark.sql.shuffle.partitions", partitions.toString)
        Aggs.normalizeAggSnapshot(spark, snap, fq, "dl", interval, "z_score")
          .as[(Int, Double, Long, Option[Double])].collect()
          .map(r => (r._1, r._2) -> r._4.map(java.lang.Double.doubleToRawLongBits)).toMap
      }
      try assert(zBits(1) == zBits(7), "z_score bits depend on the shuffle layout")
      finally spark.conf.set("spark.sql.shuffle.partitions", partitions0)
      intercept[IllegalArgumentException] {
        Aggs.normalizeAggSnapshot(spark, snap, fq, "dl", interval, "softmax")
      }
      // cumulative_cardinality: distinct langs seen up to each bucket
      val firsts: Map[Int, Seq[(Long, Long)]] = mv
        .groupBy("query_id", "lang").agg(min($"bidx").as("b"))
        .groupBy("query_id", "b").agg(count(lit(1)).as("nv"))
        .as[(Int, Long, Long)].collect().groupBy(_._1)
        .map { case (q, xs) => q -> xs.map(r => (r._2, r._3)).toSeq }
      val cc = Aggs.cumulativeCardinalityAggSnapshot(spark, snap, fq, "dl",
        interval, "lang").as[(Int, Double, Long, Long)].collect()
        .map(r => (r._1, r._2) -> r._4).toMap
      fq.foreach { q =>
        var cum = 0L
        val fm = firsts(q.query_id).toMap
        val (lo, hi) = spans(q.query_id)
        (lo to hi).foreach { b =>
          cum += fm.getOrElse(b, 0L)
          assert(cc((q.query_id, b * interval)) == cum,
            s"cumulative_cardinality q=${q.query_id} b=$b")
        }
        // the last bucket's cumulative equals the total distinct langs
        assert(cum == mv.filter($"query_id" === q.query_id)
          .select("lang").distinct().count())
      }
      // bucket_script: the supplied column math runs per bucket over
      // (doc_count, sum(metric)) — recounted for every non-gap bucket
      val metaDl = corpus.select(IndexBuilder.docIdCol.as("doc_id"),
        size(graft.analyze.Tokenizer.tokens($"content")).cast("long").as("dlv"))
      val expBs: Map[(Int, Long), (Long, Double)] = mv.join(metaDl, Seq("doc_id"))
        .groupBy("query_id", "bidx")
        .agg(count(lit(1)).as("n"), sum($"dlv".cast("double")).as("s"))
        .as[(Int, Long, Long, Double)].collect()
        .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
      val gotBs = Aggs.bucketScriptAggSnapshot(spark, snap, fq, "dl", interval,
        "dl", (n, m) => m / n)
        .as[(Int, Double, Long, Option[Double], Option[Double])].collect()
      gotBs.foreach { case (qid, key, n, m, s) =>
        expBs.get((qid, (key / interval).toLong)) match {
          case Some((en, es)) =>
            assert(n == en && m.contains(es) && s.contains(es / en),
              s"bucket_script q=$qid key=$key")
          case None => // gap bucket: zero count, null metric and script
            assert(n == 0L && m.isEmpty && s.isEmpty, s"gap q=$qid key=$key")
        }
      }
    } finally mv.unpersist()
  }

  test("intervals on the seeded corpus: golden-identical at realistic df") {
    val dirIv = TestSpark.tempDir("graft-intervals-seeded")
    IndexBuilder.build(spark, corpus, dirIv,
      BuildConfig(numShards = 4, commitEvery = 4, heavyThreshold = 200,
        saltBuckets = 4, positions = true))
    val qs: Seq[(Int, SpanQuery)] = Seq(
      0 -> Intervals.matchRule("def parse", 5, ordered = false),
      1 -> Intervals.allOf(Seq(Intervals.matchRule("val match", 4, ordered = true),
        Intervals.matchRule("import", 0, false)), 8, ordered = false),
      2 -> Intervals.anyOf(Seq(Intervals.matchRule("class extends", 2, ordered = true),
        Intervals.matchRule("object extends", 2, ordered = true))),
      3 -> Intervals.notContaining(Intervals.matchRule("def return", 6,
        ordered = false), Intervals.matchRule("if", 0, false)))
    val g = Golden.spanTopK(spark, docs, qs, k)
      .withColumnRenamed("doc_id", "g_doc").withColumnRenamed("score", "g_score")
    val f = Wand.spanSearch(spark, dirIv, qs, k)
      .withColumnRenamed("doc_id", "f_doc").withColumnRenamed("score", "f_score")
      .cache()
    try {
      assert(f.count() > 0)
      val cmp = g.join(f, Seq("query_id", "rank"), "full_outer")
      assert(cmp.filter($"g_doc".isNull || $"f_doc".isNull ||
        $"g_doc" =!= $"f_doc" || $"g_score" =!= $"f_score").count() == 0)
    } finally f.unpersist()
  }
}
