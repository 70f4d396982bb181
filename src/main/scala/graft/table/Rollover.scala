package graft.table

import org.apache.spark.sql.{Dataset, SparkSession}

/** ILM-style index rollover (the OpenSearch rollover API + write/search
  * alias pattern): an index NAME is a family of generation indexes
  * `<name>-gen000001, -gen000002, …` under one root. The `<name>-write`
  * alias always points at the single newest generation; `<name>-search`
  * spans every generation, so [[graft.search.Wand.searchAlias]] queries
  * the whole family with its per-index-stats multi-index merge.
  *
  * Rollover policy (OpenSearch's, evaluated lazily like its rollover
  * API call): a batch goes to the current write generation UNLESS that
  * generation already holds ≥ `maxDocsPerGen` live docs — then a new
  * generation is BUILT from the batch and both aliases move/grow. The
  * generation that satisfied the condition stays full and searchable
  * forever (append-only history); batches are never split, so a
  * generation may exceed the threshold by at most one batch — exactly
  * the `max_docs` condition's documented behavior.
  *
  * Why this matters at 10^12 files: a single ever-growing index keeps
  * paying compaction over the whole corpus; generations bound every
  * maintenance operation (compact, expire, delete-churn masks) to one
  * generation's size, and the search alias parallelizes trivially
  * across them. Crash safety is inherited: each generation is its own
  * snapshot lineage ([[SnapshotCatalog]]), the build/append inside a
  * generation resumes from its last commit, and alias writes are the
  * atomic single-file updates [[Aliases]] already makes.
  */
object Rollover {

  def writeAlias(name: String): String = s"$name-write"
  def searchAlias(name: String): String = s"$name-search"

  private def genDir(root: String, name: String, gen: Int): String =
    f"$root/$name-gen$gen%06d"

  /** All committed generations, oldest first (empty before first ingest). */
  def generations(spark: SparkSession, root: String, name: String): Seq[String] =
    Aliases.resolve(spark, root, searchAlias(name)).getOrElse(Seq.empty)

  /** The generation new batches currently land in. */
  def writeTarget(spark: SparkSession, root: String, name: String): Option[String] =
    Aliases.resolve(spark, root, writeAlias(name)).map(_.head)

  /** Ingest one batch under the rollover policy. Returns the generation
    * dir the batch landed in and whether this ingest ROLLED to a new
    * generation. A batch that dedupes to nothing still "lands" (the
    * append is the idempotent no-op [[graft.index.IndexBuilder.append]]
    * already defines) but never triggers a roll.
    *
    * Crash contract: a roll that crashed AFTER its build committed is
    * adopted by the next ingest (see below) — no documents lost. A roll
    * that crashed MID-build left an incomplete generation whose staging
    * belongs to the crashed batch; the caller must RE-DELIVER that
    * batch (the at-least-once redelivery contract every ingest path
    * here shares — [[graft.index.IndexBuilder.build]]'s resume then
    * completes it exactly; re-deliveries of already-admitted rows
    * dedupe away). */
  def ingest(spark: SparkSession, root: String, name: String,
             batch: Dataset[graft.corpus.SourceFile], maxDocsPerGen: Long,
             cfg: graft.index.BuildConfig = graft.index.BuildConfig()): (String, Boolean) = {
    require(maxDocsPerGen > 0, s"maxDocsPerGen must be positive: $maxDocsPerGen")
    val gens0 = generations(spark, root, name)
    // adopt an ORPHANED generation first: a crash between a roll's
    // build commit and its search-alias write leaves gen N+1 fully
    // committed but alias-invisible. Without adoption the next ingest
    // would re-"build" the same dir, and build's resume discipline
    // (correctly) returns the committed snapshot untouched — silently
    // dropping THIS batch's documents. Adoption makes the crashed
    // roll's docs visible and lets this batch proceed normally. The
    // check runs for generation 1 too (gens0 empty): the very first
    // ingest's crash-after-commit window is the same hazard, and
    // without adoption the NEXT batch would fall into the build branch
    // and be swallowed by build's resume no-op.
    val orphanDir = genDir(root, name, gens0.size + 1)
    val gens =
      if (SnapshotCatalog.load(spark, orphanDir).exists(_.isComplete)) {
        val g = gens0 :+ orphanDir
        Aliases.set(spark, root, searchAlias(name), g)
        Aliases.set(spark, root, writeAlias(name), Seq(orphanDir))
        g
      } else gens0
    if (gens.isEmpty) {
      val dir = genDir(root, name, 1)
      graft.index.IndexBuilder.build(spark, batch, dir, cfg)
      Aliases.set(spark, root, writeAlias(name), Seq(dir))
      Aliases.set(spark, root, searchAlias(name), Seq(dir))
      (dir, true)
    } else {
      val cur = gens.last
      val curSnap = SnapshotCatalog.require(spark, cur)
      if (curSnap.stats.numDocs >= maxDocsPerGen) {
        val dir = genDir(root, name, gens.size + 1)
        graft.index.IndexBuilder.build(spark, batch, dir, cfg)
        // search alias grows first, then the write alias moves. Crash
        // windows: before the first set → the committed generation is
        // adopted by the next ingest (above); between the two sets →
        // the append path repairs the write alias (below)
        Aliases.set(spark, root, searchAlias(name), gens :+ dir)
        Aliases.set(spark, root, writeAlias(name), Seq(dir))
        (dir, true)
      } else {
        // repair the torn-roll window (search alias grew, write-alias
        // move crashed): the write alias must name the newest generation
        if (!writeTarget(spark, root, name).contains(cur))
          Aliases.set(spark, root, writeAlias(name), Seq(cur))
        graft.index.IndexBuilder.append(spark, batch, cur, cfg)
        (cur, false)
      }
    }
  }
}
