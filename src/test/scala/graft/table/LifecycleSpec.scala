package graft.table

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.corpus.CorpusGen
import graft.index.{BuildConfig, IndexBuilder}
import graft.search.Wand

/** Snapshot lifecycle beyond build/resume: queryable history, time-travel
  * reads, and expiration with orphan-dir GC (the Iceberg maintenance
  * surface re-expressed over the self-built catalog). */
class LifecycleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("history, time travel, and expiration with orphan GC") {
    val dir = TestSpark.tempDir("graft-lifecycle")
    val all = CorpusGen.corpus(spark, 800L, seed = 91L).cache()
    val base = all.filter(pmod(xxhash64($"path"), lit(2)) === 0)
    val extra = all.filter(pmod(xxhash64($"path"), lit(2)) === 1)
    val queries = CorpusGen.queries(6, seed = 91L)

    val snapBase = IndexBuilder.build(spark, base, dir,
      BuildConfig(numShards = 4, commitEvery = 2, heavyThreshold = 200, saltBuckets = 4))
    val preAppend = Wand.searchSnapshot(spark, snapBase, queries, 5)
      .orderBy("query_id", "rank").collect().toSeq
    Thread.sleep(10) // separate commit timestamps for the as-of check
    val snapApp = IndexBuilder.append(spark, extra, dir)
    assert(snapApp.isComplete && snapApp.stats.numDocs == 800)

    // history: every committed manifest, lineage intact, current = max id
    val hist = SnapshotCatalog.history(spark, dir).orderBy("id").collect()
    assert(hist.length == SnapshotCatalog.listIds(spark, dir).length)
    assert(hist.last.getLong(0) == snapApp.id)
    val parentOf = hist.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(parentOf(snapApp.id) != -1L) // append chains off the base lineage
    // walking parent pointers from current reaches the root
    var cur = snapApp.id
    var hops = 0
    while (parentOf(cur) != -1L && hops < 100) { cur = parentOf(cur); hops += 1 }
    assert(parentOf(cur) == -1L)

    // time travel by id: the pre-append result set, bit-identical
    val travelled = Wand.searchAt(spark, dir, snapBase.id, queries, 5)
      .orderBy("query_id", "rank").collect().toSeq
    assert(travelled == preAppend)
    // time travel by timestamp resolves the same snapshot
    assert(SnapshotCatalog.resolveAsOf(spark, dir, snapBase.timestampMs).get.id == snapBase.id)
    assert(SnapshotCatalog.resolveAsOf(spark, dir, System.currentTimeMillis()).get.id == snapApp.id)
    assert(SnapshotCatalog.resolveAsOf(spark, dir, 0L).isEmpty)

    // expire all but the current snapshot
    val postAppend = Wand.search(spark, dir, queries, 5)
      .orderBy("query_id", "rank").collect().toSeq
    val r = SnapshotCatalog.expireSnapshots(spark, dir, retainLast = 1)
    assert(r.expiredIds.contains(snapBase.id))
    assert(r.deletedDirs.contains(snapBase.termstatsDir)) // superseded stats GC'd
    // nothing the current snapshot references was touched
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    (snapApp.segmentDirs ++ snapApp.docmapDirs ++ Seq(snapApp.termstatsDir)).foreach(d =>
      assert(fs.exists(new org.apache.hadoop.fs.Path(d)), s"GC deleted live dir $d"))
    // current stays byte-identically queryable; the expired id does not
    val postExpire = Wand.search(spark, dir, queries, 5)
      .orderBy("query_id", "rank").collect().toSeq
    assert(postExpire == postAppend)
    assertThrows[Exception](Wand.searchAt(spark, dir, snapBase.id, queries, 5))
    // idempotent: nothing left to expire
    assert(SnapshotCatalog.expireSnapshots(spark, dir, 1).expiredIds.isEmpty)
  }

  test("expire counts distinct states, not manifests (append halves are plumbing)") {
    val dir = TestSpark.tempDir("graft-expire-states")
    val all = CorpusGen.corpus(spark, 600L, seed = 23L).cache()
    val parts = (0 until 3).map(i => all.filter(pmod(xxhash64($"path"), lit(3)) === i))
    val queries = CorpusGen.queries(4, seed = 23L)
    val s0 = IndexBuilder.build(spark, parts(0), dir,
      BuildConfig(numShards = 4, commitEvery = 2, heavyThreshold = 200, saltBuckets = 4))
    val s1 = IndexBuilder.append(spark, parts(1), dir)
    val s2 = IndexBuilder.append(spark, parts(2), dir)
    // "keep the newest 2 states" = both append-FINAL states stay
    // time-travelable; the base state and all plumbing below expire
    val r = SnapshotCatalog.expireSnapshots(spark, dir, retainLast = 2)
    assert(r.expiredIds.contains(s0.id))
    assert(!r.expiredIds.contains(s1.id) && !r.expiredIds.contains(s2.id))
    assert(Wand.searchAt(spark, dir, s1.id, queries, 5).count() > 0)
    assert(Wand.searchAt(spark, dir, s2.id, queries, 5).count() > 0)
  }

  test("rollback: past state under a fresh id; writers continue collision-free") {
    val dir = TestSpark.tempDir("graft-rollback")
    val all = CorpusGen.corpus(spark, 600L, seed = 17L).cache()
    val parts = (0 until 3).map(i => all.filter(pmod(xxhash64($"path"), lit(3)) === i))
    val queries = CorpusGen.queries(6, seed = 17L)
    val snapBase = IndexBuilder.build(spark, parts(0), dir,
      BuildConfig(numShards = 4, commitEvery = 4, heavyThreshold = 200, saltBuckets = 4))
    val baseRes = Wand.search(spark, dir, queries, 5)
      .orderBy("query_id", "rank").collect().toSeq
    val snapApp = IndexBuilder.append(spark, parts(1), dir)

    val rb = SnapshotCatalog.rollback(spark, dir, snapBase.id)
    // fresh monotone id, lineage records where we rolled back FROM,
    // and the state is the base state bit-for-bit
    assert(rb.id > snapApp.id && rb.parentId == snapApp.id)
    assert(rb.stats == snapBase.stats && rb.segmentDirs == snapBase.segmentDirs)
    val rolled = Wand.search(spark, dir, queries, 5)
      .orderBy("query_id", "rank").collect().toSeq
    assert(rolled == baseRes)
    // the abandoned append stays time-travelable
    assert(Wand.searchAt(spark, dir, snapApp.id, queries, 5).count() > 0)

    // a NEW append off the rolled-back state gets fresh ids/dirs and
    // stays rank- and bit-identical vs golden over base ∪ parts(2)
    val snap2 = IndexBuilder.append(spark, parts(2), dir)
    assert(snap2.id > rb.id && snap2.isComplete) // stage+finalize commits chain off rb
    assert(snap2.stats.numDocs == snapBase.stats.numDocs +
      parts(2).select(IndexBuilder.docIdCol).distinct().count())
    val docs = parts(0).unionByName(parts(2))
      .select(IndexBuilder.docIdCol.as("doc_id"), $"content")
    val golden = graft.search.Golden.topK(spark, docs, queries, 5)
      .withColumnRenamed("doc_id", "g_doc").withColumnRenamed("score", "g_score")
    val fast = Wand.search(spark, dir, queries, 5)
      .withColumnRenamed("doc_id", "f_doc").withColumnRenamed("score", "f_score")
    val cmp = golden.join(fast, Seq("query_id", "rank"), "full_outer")
    assert(cmp.filter($"g_doc".isNull || $"f_doc".isNull ||
      $"g_doc" =!= $"f_doc" || $"g_score" =!= $"f_score").count() == 0)
    // rolling back to the current snapshot is a no-op
    assert(SnapshotCatalog.rollback(spark, dir, snap2.id).id == snap2.id)
  }

  test("changes: doc-level changelog across append, delete, and compact") {
    val dir = TestSpark.tempDir("graft-changes")
    val all = CorpusGen.corpus(spark, 600L, seed = 77L).cache()
    val base = all.filter(pmod(xxhash64($"path"), lit(2)) === 0)
    val extra = all.filter(pmod(xxhash64($"path"), lit(2)) === 1)
    def ids(ds: org.apache.spark.sql.Dataset[graft.corpus.SourceFile]): Set[String] =
      ds.toDF().select(IndexBuilder.docIdCol).as[String].collect().toSet

    val s0 = IndexBuilder.build(spark, base, dir,
      BuildConfig(numShards = 4, commitEvery = 2))
    val s1 = IndexBuilder.append(spark, extra, dir)
    // append: every extra doc added, nothing deleted
    val c01 = SnapshotCatalog.changes(spark, dir, s0.id, s1.id)
      .select("change", "doc_id").as[(String, String)].collect()
    assert(c01.filter(_._1 == "added").map(_._2).toSet == ids(extra))
    assert(!c01.exists(_._1 == "deleted"))

    // delete: victims appear as deleted, nothing added
    val pred = pmod(xxhash64($"commit"), lit(3)) === 0
    val s2 = IndexBuilder.delete(spark, dir, pred)
    val c12 = SnapshotCatalog.changes(spark, dir, s1.id, s2.id)
      .select("change", "doc_id").as[(String, String)].collect()
    assert(c12.filter(_._1 == "deleted").map(_._2).toSet == ids(all.filter(pred)))
    assert(!c12.exists(_._1 == "added"))

    // compact rewrites every dir but the LIVE SET is unchanged: empty log
    val s3 = IndexBuilder.compact(spark, dir)
    assert(SnapshotCatalog.changes(spark, dir, s2.id, s3.id).count() == 0)
    // span across all three lifecycle moves composes correctly
    val c03 = SnapshotCatalog.changes(spark, dir, s0.id, s3.id)
      .select("change", "doc_id").as[(String, String)].collect()
    val expAdded = ids(extra.filter(!pred))
    val expDeleted = ids(base.filter(pred))
    assert(c03.filter(_._1 == "added").map(_._2).toSet == expAdded)
    assert(c03.filter(_._1 == "deleted").map(_._2).toSet == expDeleted)
    // reversed span is the inverse (the rollback consumer's view)
    val c30 = SnapshotCatalog.changes(spark, dir, s3.id, s0.id)
      .select("change", "doc_id").as[(String, String)].collect()
    assert(c30.filter(_._1 == "added").map(_._2).toSet == expDeleted)
    assert(c30.filter(_._1 == "deleted").map(_._2).toSet == expAdded)
    // metadata rides along on the added side
    val metas = SnapshotCatalog.changes(spark, dir, s0.id, s1.id)
      .filter($"change" === "added").select("repo", "path", "commit", "lang")
    assert(metas.filter($"repo".isNull || $"path".isNull).count() == 0)
  }

  test("an update's tag column: set on updated docs, null on appended ones, " +
    "through append, compact and delete; a manifest without the column list still opens") {
    val dir = TestSpark.tempDir("graft-tag-schema")
    val all = CorpusGen.corpus(spark, 600L, seed = 53L).cache()
    val base = all.filter(pmod(xxhash64($"path"), lit(2)) === 0)
    val extra = all.filter(pmod(xxhash64($"path"), lit(2)) === 1)
    val toks = graft.analyze.Tokenizer.tokens($"content")
    val term = all.toDF().select(explode(array_distinct(toks)).as("t"))
      .groupBy("t").agg(count(lit(1)).as("df"))
      .filter($"df" > 20 && $"df" < 200).orderBy("t").select("t").as[String].head()
    val qs = Seq(graft.corpus.RefQuery(0, term))
    def matching(ds: org.apache.spark.sql.Dataset[graft.corpus.SourceFile]): Set[String] =
      ds.toDF().filter(array_contains(toks, term))
        .select(IndexBuilder.docIdCol).as[String].collect().toSet
    val tagged = matching(base)
    val appended = matching(extra)
    assert(tagged.nonEmpty && appended.nonEmpty)

    IndexBuilder.build(spark, base, dir, BuildConfig(numShards = 4, commitEvery = 2))
    // the docmap filter and the tag facet both read the tag column
    def check(snap: Snapshot, step: String): Unit = {
      val liveIds = Tables.live(spark, snap, Tables.docmap(spark, snap))
        .select("doc_id").as[String].collect().toSet
      val hit = Wand.searchSnapshot(spark, snap, qs, 1000, filter = Some($"tag" === "hit"))
        .select("doc_id").as[String].collect().toSet
      assert(hit == (tagged & liveIds), step)
      val facet = graft.search.Aggs.facetCountsSnapshot(spark, snap, qs, "tag")
        .select("facet", "doc_count").as[(Option[String], Long)].collect().toMap
      assert(facet == Map(Some("hit") -> (tagged & liveIds).size.toLong,
        None -> (appended & liveIds).size.toLong).filter(_._2 > 0), step)
    }
    val sUpd = Wand.updateByQuery(spark, dir, qs, Map("tag" -> lit("hit")))
    assert(sUpd.docmapAdded.contains(Seq("tag" -> "STRING")))
    check(sUpd, "update")
    val sApp = IndexBuilder.append(spark, extra, dir)
    assert(sApp.docmapAdded == sUpd.docmapAdded && sApp.docmapDirs.size == 2)
    check(sApp, "append")
    check(IndexBuilder.compact(spark, dir), "compact")
    val sDel = IndexBuilder.delete(spark, dir, pmod(xxhash64($"commit"), lit(3)) === 0)
    assert(sDel.tombstoneDirs.nonEmpty)
    check(sDel, "delete")

    // a manifest written before the field: loads with None, the docmap
    // read infers the schema, and search and the tag filter still work
    val before = Wand.searchSnapshot(spark, sDel, qs, 20).collect().toSeq
    val manifest = new org.apache.hadoop.fs.Path(
      f"${SnapshotCatalog.snapshotsDir(dir)}/v${sDel.id}%05d.json")
    val fs = manifest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val json = { val in = fs.open(manifest)
      try new com.fasterxml.jackson.databind.ObjectMapper().readTree(in) finally in.close() }
    json.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode].remove("docmapAdded")
    val out = fs.create(manifest, true) // rewrites the checksum file too
    try out.write(json.toPrettyString.getBytes("UTF-8")) finally out.close()
    val old = SnapshotCatalog.require(spark, dir)
    assert(old.id == sDel.id && old.docmapAdded.isEmpty)
    assert(Wand.searchSnapshot(spark, old, qs, 20).collect().toSeq == before)
    check(old, "manifest without docmapAdded")
    all.unpersist()
  }

  test("aliases: atomic repoint, multi-target reads, the blue/green reindex swap") {
    val root = TestSpark.tempDir("graft-alias-root")
    val dirBlue = s"$root/idx-blue"
    val dirGreen = s"$root/idx-green"
    val dirOther = s"$root/idx-other"
    val all = CorpusGen.corpus(spark, 600L, seed = 33L).cache()
    val half = all.filter(pmod(xxhash64($"path"), lit(2)) === 0)
    val other = all.filter(pmod(xxhash64($"path"), lit(2)) === 1)
    val queries = CorpusGen.queries(5, seed = 33L)
    IndexBuilder.build(spark, half, dirBlue,
      BuildConfig(numShards = 2, commitEvery = 2))
    IndexBuilder.build(spark, other, dirOther,
      BuildConfig(numShards = 2, commitEvery = 2))

    // an alias can't dangle, can't be malformed
    intercept[IllegalArgumentException] {
      Aliases.set(spark, root, "serving", Seq(s"$root/nope"))
    }
    intercept[IllegalArgumentException] {
      Aliases.set(spark, root, "bad/name", Seq(dirBlue))
    }
    assert(Aliases.resolve(spark, root, "serving").isEmpty)
    intercept[IllegalStateException] {
      Wand.searchAlias(spark, root, "serving", queries, 5)
    }

    // point at blue: alias reads are exactly the direct-index reads
    Aliases.set(spark, root, "serving", Seq(dirBlue))
    assert(Aliases.resolve(spark, root, "serving").contains(Seq(dirBlue)))
    val viaAlias = Wand.searchAlias(spark, root, "serving", queries, 5)
      .select("query_id", "rank", "doc_id", "score")
      .orderBy("query_id", "rank").collect().toSeq
    val direct = Wand.searchIndexes(spark, Seq(dirBlue), queries, 5)
      .select("query_id", "rank", "doc_id", "score")
      .orderBy("query_id", "rank").collect().toSeq
    assert(viaAlias == direct && viaAlias.nonEmpty)

    // blue/green: reindex blue to a new shard count, swap, identical hits
    // (reindex preserves content; scores are snapshot-stat-identical)
    IndexBuilder.reindex(spark, dirBlue, dirGreen,
      BuildConfig(numShards = 4, commitEvery = 4))
    Aliases.set(spark, root, "serving", Seq(dirGreen))
    assert(Aliases.resolve(spark, root, "serving").contains(Seq(dirGreen)))
    val afterSwap = Wand.searchAlias(spark, root, "serving", queries, 5)
      .select("query_id", "rank", "doc_id", "score")
      .orderBy("query_id", "rank").collect().toSeq
    assert(afterSwap.map(r => (r.getInt(0), r.getInt(1), r.getString(2), r.getDouble(3)))
      == viaAlias.map(r => (r.getInt(0), r.getInt(1), r.getString(2), r.getDouble(3))))

    // multi-target alias = the time-sliced read pattern
    Aliases.set(spark, root, "all", Seq(dirGreen, dirOther))
    val multi = Wand.searchAlias(spark, root, "all", queries, 5)
    assert(multi.select("index").distinct().count() == 2)
    val multiDirect = Wand.searchIndexes(spark, Seq(dirGreen, dirOther), queries, 5)
    assert(multi.orderBy("query_id", "rank").collect().toSeq
      == multiDirect.orderBy("query_id", "rank").collect().toSeq)

    // listing and removal; stray tmp residue never surfaces
    val listed = Aliases.list(spark, root).as[(String, String)].collect().toSet
    assert(listed == Set(("serving", dirGreen), ("all", dirGreen), ("all", dirOther)))
    assert(Aliases.remove(spark, root, "all"))
    assert(!Aliases.remove(spark, root, "all"))
    assert(Aliases.resolve(spark, root, "all").isEmpty)
    assert(Aliases.list(spark, root).count() == 1)
    all.unpersist()
  }

  test("rollover: generations fill to max_docs, aliases track, family searchable") {
    val root = TestSpark.tempDir("graft-rollover")
    val all = CorpusGen.corpus(spark, 600L, seed = 77L).cache()
    val batches = (0 until 4).map(b =>
      all.filter(pmod(xxhash64($"path"), lit(4)) === b))
    val sizes = batches.map(_.count())
    val queries = CorpusGen.queries(4, seed = 77L)
    val cfg = BuildConfig(numShards = 2, commitEvery = 2)

    // max_docs = one-batch-and-a-bit: batch 1 builds gen 1; batch 2
    // appends (gen 1 below the bar); batch 3 finds gen 1 full and ROLLS;
    // batch 4 appends to gen 2
    val maxDocs = sizes(0) + sizes(1) / 2
    val r1 = Rollover.ingest(spark, root, "logs", batches(0), maxDocs, cfg)
    val r2 = Rollover.ingest(spark, root, "logs", batches(1), maxDocs, cfg)
    val r3 = Rollover.ingest(spark, root, "logs", batches(2), maxDocs, cfg)
    val r4 = Rollover.ingest(spark, root, "logs", batches(3), maxDocs, cfg)
    assert(r1._2 && !r2._2 && r3._2 && !r4._2)
    assert(r1._1 == r2._1 && r3._1 == r4._1 && r1._1 != r3._1)
    val gens = Rollover.generations(spark, root, "logs")
    assert(gens == Seq(r1._1, r3._1))
    assert(Rollover.writeTarget(spark, root, "logs").contains(r3._1))

    // the full generation holds batches 1+2 (it may EXCEED max_docs by
    // at most the batch that filled it), the new one 3+4
    val n1 = SnapshotCatalog.load(spark, gens(0)).get.stats.numDocs
    val n2 = SnapshotCatalog.load(spark, gens(1)).get.stats.numDocs
    assert(n1 == sizes(0) + sizes(1) && n2 == sizes(2) + sizes(3))
    assert(n1 + n2 == 600L)

    // search alias spans the family: every ingested doc is reachable
    // exactly once (matchCountsSnapshot over a term present everywhere)
    val hits = Wand.searchAlias(spark, root, Rollover.searchAlias("logs"),
      queries, 600)
    assert(hits.select("query_id", "doc_id").distinct().count() == hits.count())
    val perIdx = hits.select("index").distinct().count()
    assert(perIdx == 2) // both generations contribute
    // a doc indexed in gen 1 and one in gen 2 are both retrievable
    val union = gens.map(g => spark.read.parquet(
        SnapshotCatalog.load(spark, g).get.docmapDirs: _*)
      .select("doc_id")).reduce(_ unionAll _)
    assert(union.distinct().count() == 600L)

    // torn-roll repair: simulate a crash BETWEEN the two alias writes of
    // a roll (search alias already grew, write alias still on the old
    // generation) — the next ingest must land in the newest generation
    // and move the write alias, not resurrect the full one
    Aliases.set(spark, root, Rollover.writeAlias("logs"), Seq(gens(0)))
    val extra = CorpusGen.corpus(spark, 40L, seed = 78L)
      .withColumn("path", concat(lit("torn/"), $"path"))
      .as(org.apache.spark.sql.Encoders.product[graft.corpus.SourceFile])
    val r5 = Rollover.ingest(spark, root, "logs", extra, n2 + 100, cfg)
    assert(!r5._2 && r5._1 == gens(1))
    assert(Rollover.writeTarget(spark, root, "logs").contains(gens(1)))
    assert(SnapshotCatalog.load(spark, gens(1)).get.stats.numDocs == n2 + 40)

    // orphan adoption: a roll that crashed AFTER its build committed but
    // BEFORE any alias write (gen 3 exists on disk, aliases ignorant) —
    // the next ingest must adopt it and land its batch there, never
    // re-"build" over it (which would silently drop the batch)
    val orphan = s"$root/logs-gen000003"
    val batchA = CorpusGen.corpus(spark, 30L, seed = 80L)
      .withColumn("path", concat(lit("orphA/"), $"path"))
      .as(org.apache.spark.sql.Encoders.product[graft.corpus.SourceFile])
    IndexBuilder.build(spark, batchA, orphan, cfg) // the crashed roll
    val batchB = CorpusGen.corpus(spark, 40L, seed = 81L)
      .withColumn("path", concat(lit("orphB/"), $"path"))
      .as(org.apache.spark.sql.Encoders.product[graft.corpus.SourceFile])
    val r6 = Rollover.ingest(spark, root, "logs", batchB, 100000L, cfg)
    assert(!r6._2 && r6._1 == orphan)
    assert(Rollover.generations(spark, root, "logs").size == 3)
    assert(Rollover.writeTarget(spark, root, "logs").contains(orphan))
    // BOTH the crashed roll's docs and the new batch's docs are live
    assert(SnapshotCatalog.load(spark, orphan).get.stats.numDocs == 70L)
    all.unpersist()
  }

  test("rollover: the FIRST generation's crash-after-commit window is adopted too") {
    // the very first ingest crashed between gen 1's build commit and the
    // alias writes: gen000001 is committed but alias-invisible. The next
    // ingest (a different batch) must adopt it and APPEND — falling into
    // the build branch would hit build's resume no-op and silently
    // swallow the incoming batch's documents.
    val root = TestSpark.tempDir("graft-rollover-gen1")
    val cfg = BuildConfig(numShards = 2, commitEvery = 2)
    val batchA = CorpusGen.corpus(spark, 30L, seed = 84L)
    IndexBuilder.build(spark, batchA, s"$root/logs-gen000001", cfg) // crashed first roll
    assert(Rollover.generations(spark, root, "logs").isEmpty) // aliases ignorant
    val batchB = CorpusGen.corpus(spark, 40L, seed = 85L)
      .withColumn("path", concat(lit("g1b/"), $"path"))
      .as(org.apache.spark.sql.Encoders.product[graft.corpus.SourceFile])
    val r = Rollover.ingest(spark, root, "logs", batchB, 100000L, cfg)
    assert(!r._2 && r._1 == s"$root/logs-gen000001")
    assert(Rollover.generations(spark, root, "logs") == Seq(r._1))
    assert(Rollover.writeTarget(spark, root, "logs").contains(r._1))
    // no document lost on either side of the crash window
    assert(SnapshotCatalog.load(spark, r._1).get.stats.numDocs == 70L)
  }
}
