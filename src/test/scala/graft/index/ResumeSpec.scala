package graft.index

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.corpus.CorpusGen
import graft.table.SnapshotCatalog

/** Kill/resume: a build killed mid-way resumes from the last committed
  * snapshot and converges to exactly the index a never-killed build
  * produces (north rule: "a killed job resumes from the last committed
  * Iceberg snapshot checkpoint"). */
class ResumeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val cfgBase = BuildConfig(numShards = 6, commitEvery = 2, heavyThreshold = 200, saltBuckets = 4)

  test("numShards <= 0 auto-sizes from the corpus; re-entry adopts the staged count") {
    assert(IndexBuilder.autoShards(0L) == 16)
    assert(IndexBuilder.autoShards(1200L) == 16)
    assert(IndexBuilder.autoShards(1200000L) == 64)       // bench scale
    assert(IndexBuilder.autoShards(32768L * 4096) == 4096) // cap
    assert(IndexBuilder.autoShards(Long.MaxValue / 2) == 4096)
    val corpus = CorpusGen.corpus(spark, 200L, seed = 13L).cache()
    val dir = TestSpark.tempDir("graft-auto-shards")
    val snap = IndexBuilder.build(spark, corpus, dir,
      BuildConfig(numShards = 0, commitEvery = 8, heavyThreshold = 200))
    assert(snap.isComplete && snap.numShards == 16)
    // auto re-entry must adopt the staged layout, not re-derive and clash
    val again = IndexBuilder.build(spark, corpus, dir,
      BuildConfig(numShards = 0, commitEvery = 8, heavyThreshold = 200))
    assert(again.numShards == 16 && again.id == snap.id)
  }

  test("killed build resumes from CURRENT and matches an unkilled build") {
    val corpus = CorpusGen.corpus(spark, 600L, seed = 7L).cache()
    val dirA = TestSpark.tempDir("graft-resume-a") // killed + resumed
    val dirB = TestSpark.tempDir("graft-resume-b") // straight through

    val killed = intercept[RuntimeException] {
      IndexBuilder.build(spark, corpus, dirA, cfgBase.copy(failAfterGroups = 1))
    }
    assert(killed.getMessage.contains("simulated kill"))
    val partial = SnapshotCatalog.load(spark, dirA).get
    assert(partial.completedShards.size == 2) // one committed group survived
    assert(!partial.isComplete)

    // resume (same args) — must skip the committed group and finish
    val snapA = IndexBuilder.build(spark, corpus, dirA, cfgBase)
    assert(snapA.isComplete)
    assert(snapA.completedShards.sorted == (0 until 6))

    val snapB = IndexBuilder.build(spark, corpus, dirB, cfgBase)

    // identical segment content term-for-term, block-for-block
    def canon(dirs: Seq[String]) = spark.read.parquet(dirs: _*)
      .select($"shard", $"term", $"count", $"cf",
        to_json(col("blocks")).as("blocks_json"))
      .orderBy("shard", "term")
      .collect().map(_.toSeq).toSeq
    assert(canon(snapA.segmentDirs) == canon(snapB.segmentDirs))

    // identical docmaps and termstats
    def canonDm(dirs: Seq[String]) = spark.read.parquet(dirs: _*)
      .orderBy("shard", "ord").collect().map(_.toSeq).toSeq
    assert(canonDm(snapA.docmapDirs) == canonDm(snapB.docmapDirs))
    def canonTs(d: String) = spark.read.parquet(d).orderBy("term").collect().map(_.toSeq).toSeq
    assert(canonTs(snapA.termstatsDir) == canonTs(snapB.termstatsDir))

    // lineage covers every shard exactly once across snapshots
    val lin = spark.read.parquet(snapA.lineageDirs: _*).filter($"shard" >= 0)
    assert(lin.groupBy("shard").count().filter($"count" =!= 1).count() == 0)
    assert(lin.select("shard").as[Int].collect().sorted.toSeq == (0 until 6))
  }

  test("snapshot ids are monotone and CURRENT points at the last") {
    val corpus = CorpusGen.corpus(spark, 200L, seed = 9L)
    val dir = TestSpark.tempDir("graft-snap")
    val snap = IndexBuilder.build(spark, corpus, dir,
      BuildConfig(numShards = 4, commitEvery = 2))
    assert(snap.isComplete)
    val cur = SnapshotCatalog.load(spark, dir).get
    assert(cur.id == snap.id)
    // chain walks back to staging snapshot 0
    var s = cur
    while (s.parentId >= 0) s = SnapshotCatalog.loadId(spark, dir, s.parentId)
    assert(s.id == 0 && s.stagingDone)
  }

  test("require on a directory with no committed snapshot names the directory") {
    val empty = TestSpark.tempDir("graft-nosnap")
    for (dir <- Seq(empty, s"$empty/never-built")) {
      val e = intercept[IllegalStateException](SnapshotCatalog.require(spark, dir))
      assert(e.getMessage == s"no committed snapshot at $dir")
    }
    // the (spark, dir) entry points open through it
    val e = intercept[IllegalStateException] {
      graft.search.Wand.search(spark, empty, CorpusGen.queries(1, 1L), 5)
    }
    assert(e.getMessage.contains(empty))
  }

  test("a missing CURRENT pointer recovers from the highest committed manifest") {
    val corpus = CorpusGen.corpus(spark, 300L, seed = 11L).cache()
    val dir = TestSpark.tempDir("graft-nocur")
    intercept[RuntimeException] {
      IndexBuilder.build(spark, corpus, dir, cfgBase.copy(failAfterGroups = 1))
    }
    val before = SnapshotCatalog.load(spark, dir).get
    // simulate a crash inside a non-atomic pointer flip: CURRENT is gone
    // but the immutable manifests survive
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(SnapshotCatalog.currentPath(dir)), false)
    val recovered = SnapshotCatalog.load(spark, dir).get
    assert(recovered.id == before.id)
    assert(recovered.completedShards == before.completedShards)
    // and the resumed build still skips the committed group and finishes
    val snap = IndexBuilder.build(spark, corpus, dir, cfgBase)
    assert(snap.isComplete)
    assert(snap.completedShards.sorted == (0 until 6))
  }

  test("dead-letter rows are counted, not silently dropped") {
    import spark.implicits._
    val good = CorpusGen.corpus(spark, 50L, seed = 3L)
    val bad = Seq(
      graft.corpus.SourceFile(null, "p", "c", "scala", "content here"),
      graft.corpus.SourceFile("r", "p", "c", "scala", ""),
      graft.corpus.SourceFile("r", "p2", "c", "scala", null)).toDS()
    val dir = TestSpark.tempDir("graft-dead")
    IndexBuilder.build(spark, good.union(bad), dir, BuildConfig(numShards = 2, commitEvery = 2))
    val lin0 = spark.read.parquet(s"$dir/lineage/g0").filter($"shard" === -1).head()
    assert(lin0.getAs[Long]("skipped_rows") == 3L)
  }

  test("torn append window: new-term queries survive; zero-dedupe redelivery repairs") {
    import graft.corpus.{RefQuery, SourceFile}
    val dir = TestSpark.tempDir("graft-torn")
    val base = CorpusGen.corpus(spark, 300L, seed = 17L).cache()
    val cfg = BuildConfig(numShards = 4, commitEvery = 4, heavyThreshold = 200, saltBuckets = 4)
    IndexBuilder.build(spark, base, dir, cfg)
    val batch = Seq(
      SourceFile("r-new", "p1", "c1", "scala", "zyzzyqua marker content tokens here"),
      SourceFile("r-new", "p2", "c1", "scala", "another doc with zyzzyqua inside")).toDS()
    // crash in the documented two-commit window: segments+docmap+stats
    // committed, termstats still the parent's
    intercept[RuntimeException] {
      IndexBuilder.append(spark, batch, dir, cfg.copy(failBeforeFinalize = true))
    }
    val torn = SnapshotCatalog.load(spark, dir).get
    assert(torn.isComplete) // queryable — but termstats lag one commit
    assert(torn.termstatsDir != s"$dir/termstats/g${torn.id}")
    // a reader in the window querying a term FIRST INTRODUCED by the batch
    // scores it with the parent's df (0 → idf(0, n)) — never a crash
    val inWindow = graft.search.Wand.searchSnapshot(spark, torn,
      Seq(RefQuery(0, "zyzzyqua")), 5)
    assert(inWindow.count() == 2)
    // at-least-once redelivery: the batch dedupes to ZERO staged rows,
    // which must detect the torn state and run the missing finalize
    // instead of returning the parent unchanged
    val repaired = IndexBuilder.append(spark, batch, dir, cfg)
    assert(repaired.id == torn.id + 1)
    assert(repaired.termstatsDir == s"$dir/termstats/g${repaired.id}")
    // after repair: golden over the union corpus vs WAND — bit-identical
    val all = base.union(batch)
    val qs = Seq(RefQuery(0, "zyzzyqua"), RefQuery(1, "def import index"))
    val golden = graft.search.Golden.topK(spark,
        all.select(IndexBuilder.docIdCol.as("doc_id"), $"content"), qs, 5)
      .withColumnRenamed("doc_id", "g_doc").withColumnRenamed("score", "g_score")
    val fast = graft.search.Wand.searchSnapshot(spark, repaired, qs, 5)
      .withColumnRenamed("doc_id", "f_doc").withColumnRenamed("score", "f_score")
    val cmp = golden.join(fast, Seq("query_id", "rank"), "full_outer")
    assert(cmp.filter($"g_doc".isNull || $"f_doc".isNull ||
      $"g_doc" =!= $"f_doc" || $"g_score" =!= $"f_score").count() == 0)
  }

  test("within-batch duplicate identities are dropped and counted in lineage") {
    import graft.corpus.SourceFile
    val dir = TestSpark.tempDir("graft-batchdup")
    val base = CorpusGen.corpus(spark, 200L, seed = 19L)
    val cfg = BuildConfig(numShards = 4, commitEvery = 4)
    IndexBuilder.build(spark, base, dir, cfg)
    val one = SourceFile("rr", "pp", "cc", "scala", "some brand new content words")
    // a redelivery landing INSIDE one micro-batch: three rows, one identity
    val batch = Seq(one, one, one.copy(content = "different content same identity")).toDS()
    val snap = IndexBuilder.append(spark, batch, dir, cfg)
    assert(snap.stats.numDocs == 201) // exactly one row of the identity landed
    val dm = spark.read.parquet(snap.docmapDirs: _*)
    assert(dm.filter($"repo" === "rr").count() == 1)
    assert(dm.groupBy("shard", "ord").count().filter($"count" > 1).count() == 0)
    // the two dropped copies are counted in the shard=-2 lineage row
    val lin = spark.read.parquet(snap.lineageDirs: _*)
    assert(lin.filter($"shard" === -2).agg(sum("skipped_rows")).head().getLong(0) == 2L)
  }
}
