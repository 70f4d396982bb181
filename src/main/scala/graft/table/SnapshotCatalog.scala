package graft.table

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import com.fasterxml.jackson.databind.{ObjectMapper, JsonNode}
import scala.jdk.CollectionConverters._

/** Global corpus statistics pinned at snapshot time so resumed builds and
  * both query engines score with identical avgdl. */
case class CorpusStats(numDocs: Long, totalTokens: Long) {
  def avgdl: Double = if (numDocs == 0) 1.0 else totalTokens.toDouble / numDocs
}

/** One committed index snapshot. Monotonically numbered like the
  * reference's versioned `comparisons_NNN` tables
  * (reference: sqlite.py:152-159); `parentId` gives the lineage chain.
  * A killed build resumes from the `CURRENT` snapshot: shards in
  * `completedShards` are never rebuilt. */
case class Snapshot(id: Long,
                    parentId: Long, // -1 = none
                    numShards: Int,
                    completedShards: Seq[Int],
                    segmentDirs: Seq[String],
                    docmapDirs: Seq[String],
                    lineageDirs: Seq[String],
                    termstatsDir: String, // empty until final commit
                    stagingDone: Boolean,
                    stats: CorpusStats,
                    timestampMs: Long,
                    /** parquet dirs of (shard, ord, doc_id) delete tombstones;
                      * queries mask them, compaction purges them (Lucene's
                      * live-docs discipline). Empty on pre-delete manifests. */
                    tombstoneDirs: Seq[String] = Nil,
                    /** segments carry per-posting position payloads (phrase
                      * queries). Sticky: set at stage time, followed by every
                      * append/compact generation. */
                    positions: Boolean = false,
                    /** per-shard sorted-ord delete-mask sidecars (cumulative
                      * over every tombstone generation), read INSIDE decode
                      * tasks — see [[graft.index.DeleteMask]]. Empty when no
                      * tombstones, and on pre-sidecar manifests (migrated
                      * lazily). */
                    delmaskDir: String = "",
                    /** analysis-chain spec ([[graft.analyze.AnalyzerConfig.spec]];
                      * "" = the default code tokenizer alone). Sticky like
                      * `positions`: set at stage time, followed by every
                      * append/compact/reindex generation, applied to query
                      * text by both engines. */
                    analyzer: String = "",
                    /** per generation after the first (each append), the
                      * first ord it numbered in each shard: ords follow
                      * doc_id order within a generation, which bounds the
                      * score ties a shard ships ([[graft.search.Kernel.ordTies]]).
                      * Kept by compaction and deletes (ords never change).
                      * `None` on manifests written before this field. */
                    generationStarts: Option[Seq[Seq[Long]]] = None,
                    /** (name, DDL type) of the docmap columns updates added
                      * beyond [[Tables.DocmapSchema]], in write order; every
                      * later generation carries them on, so the docmap
                      * reader declares its whole schema. `None` on manifests
                      * written before this field (the docmap read infers). */
                    docmapAdded: Option[Seq[(String, String)]] = None) {
  def isComplete: Boolean = completedShards.size == numShards && termstatsDir.nonEmpty
}

/** Self-built snapshot/manifest layer over parquet: Iceberg *semantics*
  * (atomic commit via rename, monotone snapshot ids, resume-from-snapshot,
  * lineage) without the Iceberg jar (absent from this environment —
  * SURVEY.md §1.4). Metadata lives in `<dir>/snapshots/vNNNNN.json`; the
  * `CURRENT` pointer is committed by atomic rename, the same durability
  * move the reference makes with per-table versioning, minus the
  * per-row-commit anti-pattern (reference: sqlite.py:188-190).
  */
object SnapshotCatalog {

  private val mapper = new ObjectMapper()

  def snapshotsDir(dir: String) = s"$dir/snapshots"
  def currentPath(dir: String) = s"$dir/snapshots/CURRENT"

  private def fs(spark: SparkSession, p: String): FileSystem =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def toJson(s: Snapshot): String = {
    val o = mapper.createObjectNode()
    o.put("id", s.id); o.put("parentId", s.parentId)
    o.put("numShards", s.numShards)
    val cs = o.putArray("completedShards"); s.completedShards.foreach(cs.add)
    val sd = o.putArray("segmentDirs"); s.segmentDirs.foreach(sd.add)
    val dd = o.putArray("docmapDirs"); s.docmapDirs.foreach(dd.add)
    val ld = o.putArray("lineageDirs"); s.lineageDirs.foreach(ld.add)
    val td = o.putArray("tombstoneDirs"); s.tombstoneDirs.foreach(td.add)
    o.put("termstatsDir", s.termstatsDir)
    o.put("delmaskDir", s.delmaskDir)
    o.put("analyzer", s.analyzer)
    o.put("stagingDone", s.stagingDone)
    o.put("positions", s.positions)
    val st = o.putObject("stats")
    st.put("numDocs", s.stats.numDocs); st.put("totalTokens", s.stats.totalTokens)
    o.put("timestampMs", s.timestampMs)
    s.generationStarts.foreach { gs =>
      val ga = o.putArray("generationStarts")
      gs.foreach { g => val a = ga.addArray(); g.foreach(x => a.add(x)) }
    }
    s.docmapAdded.foreach { cs =>
      val ca = o.putArray("docmapAdded")
      cs.foreach { case (name, ddl) => ca.addObject().put("name", name).put("type", ddl) }
    }
    o.toPrettyString
  }

  private def fromJson(j: String): Snapshot = {
    val n: JsonNode = mapper.readTree(j)
    // absent-field tolerant: manifests written before a field existed
    // (e.g. tombstoneDirs) must keep loading
    def arr(f: String): Seq[String] = Option(n.get(f))
      .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Nil)
    Snapshot(
      id = n.get("id").asLong(),
      parentId = n.get("parentId").asLong(),
      numShards = n.get("numShards").asInt(),
      completedShards = n.get("completedShards").elements().asScala.map(_.asInt()).toSeq,
      segmentDirs = arr("segmentDirs"),
      docmapDirs = arr("docmapDirs"),
      lineageDirs = arr("lineageDirs"),
      termstatsDir = n.get("termstatsDir").asText(),
      stagingDone = n.get("stagingDone").asBoolean(),
      stats = CorpusStats(n.get("stats").get("numDocs").asLong(),
                          n.get("stats").get("totalTokens").asLong()),
      timestampMs = n.get("timestampMs").asLong(),
      tombstoneDirs = arr("tombstoneDirs"),
      positions = Option(n.get("positions")).exists(_.asBoolean()),
      delmaskDir = Option(n.get("delmaskDir")).map(_.asText()).getOrElse(""),
      analyzer = Option(n.get("analyzer")).map(_.asText()).getOrElse(""),
      generationStarts = Option(n.get("generationStarts")).map(_.elements().asScala
        .map(_.elements().asScala.map(_.asLong()).toSeq).toSeq),
      docmapAdded = Option(n.get("docmapAdded")).map(_.elements().asScala
        .map(c => c.get("name").asText() -> c.get("type").asText()).toSeq))
  }

  /** Read the CURRENT snapshot. If the CURRENT pointer is absent but
    * committed vNNNNN.json manifests exist (a crash inside an old
    * non-atomic flip, or a deleted pointer), recover from the highest
    * committed id — manifests are immutable once written, so the max id IS
    * the last durable commit and a resumed build loses nothing. */
  def load(spark: SparkSession, dir: String): Option[Snapshot] = {
    val f = fs(spark, dir)
    val cur = new Path(currentPath(dir))
    if (f.exists(cur)) {
      val id = readString(f, cur).trim.toLong
      Some(loadId(spark, dir, id))
    } else {
      val sd = new Path(snapshotsDir(dir))
      if (!f.exists(sd)) None
      else {
        val ids = f.listStatus(sd).map(_.getPath.getName)
          .collect { case VersionFile(id) => id.toLong }
        if (ids.isEmpty) None else Some(loadId(spark, dir, ids.max))
      }
    }
  }

  /** [[load]], failing when `dir` holds no committed snapshot — the one way
    * every `(spark, dir)` entry point opens its index. */
  def require(spark: SparkSession, dir: String): Snapshot =
    load(spark, dir).getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $dir"))

  private val VersionFile = "v(\\d{5,})\\.json".r

  def loadId(spark: SparkSession, dir: String, id: Long): Snapshot = {
    val f = fs(spark, dir)
    fromJson(readString(f, new Path(f"${snapshotsDir(dir)}/v$id%05d.json")))
  }

  /** Atomically commit a snapshot: write the (immutable) vNNNNN.json, then
    * flip CURRENT via write-temp + OVERWRITING atomic rename (FileContext)
    * — no delete-then-rename window in which a crash leaves no pointer.
    * If the filesystem has no FileContext implementation, fall back to
    * delete+rename; `load` recovers from max(vNNNNN.json) in that window. */
  def commit(spark: SparkSession, dir: String, snap: Snapshot): Unit = {
    val f = fs(spark, dir)
    f.mkdirs(new Path(snapshotsDir(dir)))
    writeString(f, new Path(f"${snapshotsDir(dir)}/v${snap.id}%05d.json"), toJson(snap))
    val tmp = new Path(s"${currentPath(dir)}.tmp-${snap.id}")
    writeString(f, tmp, snap.id.toString)
    val cur = new Path(currentPath(dir))
    try {
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        cur.toUri, spark.sparkContext.hadoopConfiguration)
      fc.rename(tmp, cur, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } catch {
      case _: UnsupportedOperationException | _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
        if (f.exists(cur)) f.delete(cur, false)
        if (!f.rename(tmp, cur))
          throw new java.io.IOException(s"atomic CURRENT flip failed for snapshot ${snap.id}")
    }
  }

  /** All committed snapshot ids under `dir`, ascending. Manifests are
    * immutable once written, so this is the full durable history. */
  def listIds(spark: SparkSession, dir: String): Seq[Long] = {
    val f = fs(spark, dir)
    val sd = new Path(snapshotsDir(dir))
    if (!f.exists(sd)) Nil
    else f.listStatus(sd).map(_.getPath.getName)
      .collect { case VersionFile(id) => id.toLong }.sorted.toSeq
  }

  /** Queryable snapshot history — the Iceberg `.snapshots` metadata-table
    * analog: one row per committed manifest, lineage via `parent_id`.
    * Manifests are one small JSON each, so this is driver-side by
    * construction (metadata scale, never data scale). */
  def history(spark: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    listIds(spark, dir).map { id =>
      val s = loadId(spark, dir, id)
      (s.id, s.parentId, s.timestampMs, s.stats.numDocs, s.stats.totalTokens,
        s.numShards, s.isComplete, s.positions, s.tombstoneDirs.nonEmpty)
    }.toDF("id", "parent_id", "timestamp_ms", "num_docs", "total_tokens",
      "num_shards", "complete", "positions", "has_tombstones")
  }

  /** Deep stats of ONE complete snapshot — the `_cat/indices` analog
    * (and Iceberg's summary metadata): live docs, tombstones, vocabulary
    * size, total postings/occurrences, generations, layout flags. The
    * termstats aggregate is a tiny column-pruned scan; the tombstone
    * count reads only the mask dirs. Defaults to the CURRENT snapshot.
    * @return one row (id, timestamp_ms, num_docs, tombstones, num_shards,
    *         generations, num_terms, total_postings, total_occurrences,
    *         avgdl, positions) */
  def describe(spark: SparkSession, dir: String,
               snapshotId: Long = -1L): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val s =
      if (snapshotId < 0) require(spark, dir) else loadId(spark, dir, snapshotId)
    Predef.require(s.isComplete, s"snapshot ${s.id} is not a complete index")
    val tsRow = Tables.termstats(spark, s.termstatsDir)
      .agg(count(lit(1)), coalesce(sum(col("df")), lit(0L)),
        coalesce(sum(col("cf")), lit(0L))).head()
    val tomb =
      if (s.tombstoneDirs.isEmpty) 0L
      else Tables.tombstones(spark, s.tombstoneDirs).count()
    // stats are already net of deletes (delete commits shrunk N/avgdl);
    // tombstones only report the masked rows compaction would purge
    Seq((s.id, s.timestampMs, s.stats.numDocs, tomb, s.numShards,
      s.segmentDirs.size, tsRow.getLong(0), tsRow.getLong(1), tsRow.getLong(2),
      s.stats.avgdl, s.positions))
      .toDF("id", "timestamp_ms", "num_docs", "tombstones", "num_shards",
        "generations", "num_terms", "total_postings", "total_occurrences",
        "avgdl", "positions")
  }

  /** The document-level CHANGELOG between two committed snapshots — the
    * Iceberg incremental-read / changelog-table analog, the primitive an
    * incremental downstream pipeline consumes ("process only what changed
    * since the snapshot I last saw"). Returns one row per changed doc:
    * `change` = "added" (live in `toId`, not live in `fromId`) or
    * "deleted" (live in `fromId`, not live in `toId`).
    *
    * Derivation is from the LIVE SETS (docmap minus tombstones) of both
    * snapshots, so it is total over every lifecycle move — append,
    * delete, compact (which rewrites dirs but not the live set, so it
    * changes nothing), rollback (whose changelog is the inverse of the
    * rolled-back span), and dedup-dropped rows (never in any live set).
    * Scale shape: two column-pruned docmap scans and one doc_id-keyed
    * full-outer join — a changelog is data-sized by definition; when the
    * snapshots are close the join's inputs are whatever the two states
    * actually hold, never more.
    * @return (change string, doc_id string, repo, path, commit, lang) —
    *         metadata from the side the doc exists on */
  def changes(spark: SparkSession, dir: String, fromId: Long,
              toId: Long): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val metaCols = Seq("doc_id", "repo", "path", "commit", "lang")
    def live(id: Long): org.apache.spark.sql.DataFrame = {
      val s = loadId(spark, dir, id)
      Predef.require(s.isComplete, s"snapshot $id is not a complete index")
      Tables.live(spark, s, Tables.docmap(spark, s)
        .select(Seq(col("shard"), col("ord")) ++ metaCols.map(col): _*))
        .select(metaCols.map(col): _*)
    }
    val a = live(fromId)
    val b = live(toId)
    val added = b.join(a.select("doc_id"), Seq("doc_id"), "left_anti")
      .withColumn("change", lit("added"))
    val deleted = a.join(b.select("doc_id"), Seq("doc_id"), "left_anti")
      .withColumn("change", lit("deleted"))
    added.unionByName(deleted)
      .select(col("change") +: metaCols.map(col): _*)
  }

  /** Latest COMPLETE snapshot committed at or before `asOfMs` — Iceberg
    * `TIMESTAMP AS OF` time travel. Commit timestamps are monotone along
    * the lineage chain (each child commits after its parent), so the max
    * qualifying id is the as-of state; pass it to
    * [[graft.search.Wand.searchSnapshot]] to query that state. */
  def resolveAsOf(spark: SparkSession, dir: String, asOfMs: Long): Option[Snapshot] =
    listIds(spark, dir).reverseIterator
      .map(loadId(spark, dir, _))
      .find(s => s.isComplete && s.timestampMs <= asOfMs)

  /** Roll the table back to the state of snapshot `toId` (Iceberg
    * rollback semantics): a NEW manifest is committed whose data state is
    * copied verbatim from the target and whose `parentId` is the
    * snapshot being rolled back FROM — so lineage records the rollback
    * instead of erasing it, and the new id is `max(existing) + 1`, which
    * keeps every `parent.id + 1` id the writers derive collision-free
    * against the abandoned later manifests (a bare CURRENT-pointer flip
    * would not). The abandoned snapshots stay time-travelable until
    * [[expireSnapshots]] drops them. */
  def rollback(spark: SparkSession, dir: String, toId: Long): Snapshot = {
    val target = loadId(spark, dir, toId)
    Predef.require(target.isComplete, s"rollback target $toId is not a complete snapshot")
    val cur = require(spark, dir)
    if (cur.id == toId) return cur
    val newId = listIds(spark, dir).max + 1
    val snap = target.copy(id = newId, parentId = cur.id,
      timestampMs = System.currentTimeMillis())
    commit(spark, dir, snap)
    snap
  }

  /** What [[expireSnapshots]] did: which manifests were dropped and which
    * newly-unreferenced data directories were deleted. */
  case class ExpireResult(expiredIds: Seq[Long], deletedDirs: Seq[String])

  /** Expire all but the newest `retainLast` COMPLETE snapshots (the
    * CURRENT one is always retained): drop their manifests and
    * garbage-collect every data directory no retained snapshot references
    * — Iceberg's `expireSnapshots` + orphan-file cleanup in one step.
    *
    * `retainLast` counts DISTINCT QUERYABLE STATES, not raw manifests:
    * build staging/group commits (incomplete) and the first half of a
    * two-commit append (complete but still pointing at its parent's
    * termstats) are lineage plumbing, so "keep the newest 2" keeps the
    * newest 2 states a user operation produced. Everything newer than the
    * cutoff (plumbing included) is retained with them — an intermediate
    * manifest inside a retained span is part of that span's durable
    * lineage.
    *
    * Safety comes from the reference model being manifest-closed: a
    * snapshot's manifest lists EVERY directory it reads (segments, docmap,
    * lineage, termstats, tombstones), and appends/compactions share parent
    * directories by listing them again in the child manifest. So
    * refs(expired) \ refs(retained) is exactly the garbage set — a shared
    * generation directory stays alive as long as any retained snapshot
    * lists it. Time travel to an expired id fails (its manifest is gone);
    * every retained snapshot remains byte-identically queryable. */
  def expireSnapshots(spark: SparkSession, dir: String, retainLast: Int): ExpireResult = {
    Predef.require(retainLast >= 1, "must retain at least one snapshot")
    val ids = listIds(spark, dir)
    val currentId = load(spark, dir).map(_.id)
    val byId: Map[Long, Snapshot] = ids.map(id => id -> loadId(spark, dir, id)).toMap
    // a distinct state is complete AND carries its own termstats — the
    // first half of a two-commit append reuses the parent's and is
    // plumbing. A parent already expired counts as "own" (can't compare).
    def distinctState(s: Snapshot): Boolean = s.isComplete &&
      (s.parentId < 0 || !byId.contains(s.parentId) ||
        byId(s.parentId).termstatsDir != s.termstatsDir)
    val stateIds = ids.filter(id => distinctState(byId(id)))
    // cutoff = the oldest of the newest-N states; nothing newer expires.
    // With < N states nothing expires at all.
    val cutoff = stateIds.takeRight(retainLast).headOption.getOrElse(Long.MinValue)
    val retained = (ids.filter(_ >= cutoff) ++ currentId).distinct
    val expired = ids.filterNot(retained.contains)
    if (expired.isEmpty) return ExpireResult(Nil, Nil)
    def refs(id: Long): Set[String] = {
      val s = byId(id)
      (s.segmentDirs ++ s.docmapDirs ++ s.lineageDirs ++ s.tombstoneDirs ++
        (if (s.delmaskDir.nonEmpty) Seq(s.delmaskDir) else Nil) ++
        (if (s.termstatsDir.nonEmpty) Seq(s.termstatsDir) else Nil)).toSet
    }
    val live = retained.map(refs).foldLeft(Set.empty[String])(_ ++ _)
    val dead = (expired.map(refs).foldLeft(Set.empty[String])(_ ++ _) -- live)
      .toSeq.sorted
    val f = fs(spark, dir)
    dead.foreach(d => f.delete(new Path(d), true))
    expired.foreach(id => f.delete(new Path(f"${snapshotsDir(dir)}/v$id%05d.json"), false))
    ExpireResult(expired, dead)
  }

  private def readString(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  private def writeString(f: FileSystem, p: Path, s: String): Unit = {
    val out = f.create(p, true)
    try out.write(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }
}
