package graft.index

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.corpus.SourceFile
import graft.table.{CorpusStats, Snapshot, SnapshotCatalog, Tables}

/** One aggregated term-frequency row (post doc-ordinal assignment). `pos`
  * is the posting's delta-varbyte-encoded in-doc positions — encoded at
  * emission so the assembly shuffle ships compressed bytes, not Long
  * arrays; empty when the build is positionless. */
case class TfRow(shard: Int, term: String, salt: Int, ord: Long, dl: Long,
                 tf: Long, pos: Array[Byte] = Array.emptyByteArray)

/** One compressed block of a posting list ([[Codec]] encodes and decodes
  * it; it is also the block type persisted inside [[SegRun]]).
  * `first`/`last` are doc ords (shard-local); `maxNorm` is the exact max
  * BM25 tf-norm over the block AT THE BUILD-TIME avgdl. `(maxTf, minDl)`
  * are the block's impact summary: `tfNorm(maxTf, minDl, avgdl')`
  * upper-bounds every in-block contribution for ANY avgdl' (tfNorm is
  * increasing in tf, decreasing in dl) — the safe pruning bound after an
  * incremental append shifts the global stats away from the avgdl
  * `maxNorm` was computed with. `dls` carries per-posting doc lengths so
  * scoring is self-contained — no shard-wide norms lookup at query time.
  *
  * `pos` is the OPTIONAL positional payload (Lucene's proximity data):
  * the concatenation, in posting order, of each posting's
  * delta-varbyte-encoded in-document token positions — the posting's tf
  * is its position count, so decoding needs no offset table. Empty when
  * the index was built without positions. */
case class SegBlock(first: Long, last: Long, n: Int, maxTf: Int,
                    maxNorm: Double, minDl: Long, docs: Array[Byte],
                    tfs: Array[Byte], dls: Array[Byte],
                    pos: Array[Byte] = Array.emptyByteArray)

/** A (possibly salted) run of blocks for one term in one shard. `avgdl`
  * is the global average doc length the runs' `maxNorm` bounds were built
  * against — after an incremental append shifts the snapshot's stats, the
  * query side detects the mismatch and falls back to the blocks' exact
  * (maxTf, minDl) impact bound, which is safe at any avgdl. */
case class SegRun(shard: Int, term: String, count: Long, cf: Long,
                  avgdl: Double, blocks: Seq[SegBlock])

/** Per-shard build lineage (north rule: "every index segment carries
  * per-partition lineage rows (input files, sha256 of content, postings
  * count, build time)"); `skipped_rows` keeps the reference's skip-and-log
  * contract (reference: log_file_loader.py:136-139). */
case class LineageRow(snapshot_id: Long, shard: Int, input_files: Seq[String],
                      content_sha256: String, doc_count: Long,
                      postings_count: Long, build_ms: Long, skipped_rows: Long)

case class BuildConfig(
    /** document shards; <= 0 derives the count from the corpus size at
      * build start (see [[IndexBuilder.autoShards]]) — the shard count
      * must scale with the corpus, and a fixed default silently stops
      * scaling past the size it was tuned for */
    numShards: Int = 32,
    /** shards per snapshot commit — the resume granularity */
    commitEvery: Int = 8,
    /** a term is "heavy" in a group when it has more than this many
      * postings; heavy terms get ord-range salting in the assembly shuffle */
    heavyThreshold: Long = 50000,
    /** number of ord-range salt buckets for heavy terms */
    saltBuckets: Int = 16,
    /** skip the dead-letter scan for inputs known to contain no malformed
      * rows (e.g. generated corpora) — drops two jobs from staging */
    trustedInput: Boolean = false,
    /** test hook: throw after this many group commits (simulated kill) */
    failAfterGroups: Int = Int.MaxValue,
    /** test hook: in append(), throw between the segments commit and the
      * termstats finalize — the documented two-commit torn window */
    failBeforeFinalize: Boolean = false,
    /** store per-posting in-document token positions (Lucene proximity
      * data) — required for phrase queries ([[graft.search.Wand.phraseSearch]]).
      * Sticky per index: the flag is recorded in the snapshot at stage
      * time, and appends/compactions follow the SNAPSHOT's flag, never
      * this one, so one index never mixes positional and positionless
      * generations. */
    positions: Boolean = false,
    /** analysis chain (tokenizer + stop/stem filters,
      * [[graft.analyze.AnalyzerConfig]]). Sticky per index exactly like
      * `positions`: recorded in the snapshot at stage time; appends,
      * compactions and reindexes follow the SNAPSHOT's chain, never
      * this one — one index never mixes analyzers, and both query
      * engines analyze query text with the snapshot's chain. */
    analyzer: graft.analyze.AnalyzerConfig = graft.analyze.AnalyzerConfig.default)

/** Spark-native SPIMI-style inverted-index builder.
  *
  * Architecture (designed for 10^12 files / 1000 executors, tested small):
  *
  *  - **Document-sharded index** (`shard = xxhash64(doc_id) mod S`): each
  *    shard holds complete posting lists for its documents, so query-time
  *    WAND fans out one task per shard and merges tiny top-k lists — no
  *    per-query term-side shuffle. Doc sharding also makes the *build*
  *    shuffle key uniform, unlike term partitioning which is Zipf-skewed.
  *  - **Stage once, scan pruned**: one full pass over the corpus tokenizes,
  *    hashes and writes a shard-partitioned staging table; every later
  *    stage reads only its shards via partition pruning, so a resumed
  *    build never re-reads completed shards' input.
  *  - **SPIMI runs via sort-based shuffle**: tf rows are repartitioned on
  *    `(shard, term, salt)` and sorted within partitions on
  *    `(shard, term, salt, ord)`; a streaming `mapPartitions` then emits
  *    compressed block runs with O(block) memory — Spark's sort-shuffle IS
  *    the SPIMI run-sort, and its (shard, term, salt) key space balances
  *    across any core count. Salted sub-runs are stored as separate
  *    segment rows; the query side concatenates their disjoint-ord blocks
  *    when building cursors, so no merge shuffle ever runs.
  *  - **Skew**: stop-word-like terms (`def`, `import`, ...) are detected
  *    per group (`df > heavyThreshold`) and their assembly key is salted
  *    with the ord-range bucket, bounding any single reducer group while
  *    keeping each salted sub-run a contiguous, independently-blockable
  *    ord range (north rule's salted term-hash repartitioning).
  *  - **Resume**: shards are built in groups of `commitEvery`; each group
  *    commit atomically appends segment/docmap/lineage dirs to a new
  *    snapshot. A killed job restarted with the same args skips all
  *    completed shards (see `ResumeSpec`).
  */
object IndexBuilder {

  /** Heavy-term detection samples 1-in-N staged docs (deterministic,
    * doc_id-hash based). Salting is a load-balancing hint, so a sampled
    * estimate is safe — exact global termstats are derived from the
    * committed segments at finalize time. */
  private val HeavySampleOneIn = 50

  /** Per-term accumulator for the positional tf pass: running tf plus the
    * delta-varbyte position stream (prev tracks the last written position
    * so gaps encode in one pass). */
  private final class PosAcc {
    var tf = 0
    var prev = 0L
    val out = new java.io.ByteArrayOutputStream(8)
  }

  def stagingDir(dir: String) = s"$dir/staging"
  def deadletterDir(dir: String) = s"$dir/deadletter"

  /** Document identity: sha256 over the natural key (repo, path, commit),
    * newline-joined (newlines cannot occur in those fields). The single
    * definition both the builder and any verifier must use. */
  def docIdCol: org.apache.spark.sql.Column =
    sha2(concat_ws("\n", col("repo"), col("path"), col("commit")), 256)

  /** Exactly-balanced shuffle-key column for the S shard groups (see
    * [[graft.plans.KeySpread]]): 1:1 with `shard`, so windows/repartitions
    * keyed by it group identically but spread evenly over any power-of-two
    * partition count. */
  private def spreadKey(numShards: Int): org.apache.spark.sql.Column =
    element_at(typedLit(graft.plans.KeySpread.preimages(numShards).toSeq),
      col("shard") + 1)

  /** Phase timing to stderr when spark.graft.timing=true. Prints wall plus
    * process user/sys CPU deltas: this host's documented kernel-time
    * storms inflate wall and sys arbitrarily, so user-CPU is the only
    * storm-robust way to compare two implementations of a phase. */
  private def timed[T](spark: SparkSession, label: String)(f: => T): T = {
    val on = spark.conf.getOption("spark.graft.timing").contains("true")
    val (u0, s0) = if (on) cpuSecs() else (0.0, 0.0)
    val t0 = System.nanoTime()
    val r = f
    if (on) {
      val (u1, s1) = cpuSecs()
      System.err.println(f"[graft-timing] $label%-24s ${(System.nanoTime() - t0) / 1e9}%8.1fs " +
        f"user=${u1 - u0}%7.1fs sys=${s1 - s0}%7.1fs")
    }
    r
  }

  /** (user, sys) CPU seconds of this process, from /proc/self/stat
    * (utime, stime: fields 14 and 15, in USER_HZ = 100 ticks per second);
    * (0, 0) where the file is unreadable. */
  private[graft] def cpuSecs(): (Double, Double) = try {
    val s = java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/self/stat"))
    val a = s.substring(s.lastIndexOf(')') + 2).split(" ")
    (a(11).toLong / 100.0, a(12).toLong / 100.0)
  } catch { case _: Throwable => (0.0, 0.0) }

  /** The builder's skip-and-log predicate over the raw corpus schema;
    * public so the comparison harness scores golden over the SAME row set
    * the index was built from. */
  def isBadRow = col("repo").isNull || col("path").isNull ||
    col("commit").isNull || col("content").isNull || (length(col("content")) === 0)

  /** Stage the corpus: tokenize once, compute doc identity + sha256 +
    * shard + the shard-local doc ORDINAL, write shard-partitioned parquet.
    * Returns snapshot 0.
    *
    * Ordinals are assigned HERE, not per build group: the staging shuffle
    * already co-locates each shard in exactly one partition (preimage
    * keys), so `row_number` over that same partitioning is a local sort —
    * no additional exchange. Baking `ord` into the staged rows means the
    * posting pass never joins back to a docmap: at 1.2M docs the removed
    * SHUFFLE_HASH join was re-exchanging every token array across the
    * cluster purely to pick up the ordinal — the single largest avoidable
    * data movement of the build (and it grows linearly at 10^12 files). */
  private def stage(spark: SparkSession, corpus: Dataset[SourceFile],
                    dir: String, cfg: BuildConfig): Snapshot = {
    val withSha = corpus.filter(!isBadRow)
      .withColumn("doc_id", docIdCol)
      .withColumn("sha256", sha2(col("content"), 256))
    // Duplicate doc identities in the source corpus would each take an
    // ord (duplicate docmap rows, doubled postings, broken golden/WAND
    // identity). Detection is DEFERRED to stageRows' post-write check on
    // the slim staged doc_id column: an up-front count_distinct agg here
    // cost a whole extra pass over the SOURCE — which column pruning
    // cannot shrink when the corpus is an opaque typed Dataset (e.g. a
    // generated or mapPartitions-derived corpus regenerates every row).
    // The no-duplicate case (the overwhelmingly common one) now stages
    // in a single source pass; duplicates trigger one rewrite inside
    // stageRows with the same deterministic min-sha survivor.
    // Which side of the corpus co-location shuffle tokenizes is
    // scale-adaptive: the reduce side runs at numShards parallelism (one
    // shard per partition for the contiguous file layout), the map side at
    // input parallelism. When shards >= available cores (the 100-TB shape
    // — autoShards grows with the corpus), tokenize AFTER the exchange:
    // it ships one content string per row instead of the token array
    // (UnsafeRow string arrays cost ~8 B/element on top of the bytes —
    // ~2× the content for the default chain, far more for
    // edge_ngram/shingle chains), same single tokenize pass. When shards
    // < cores (small indexes), tokenizing reduce-side would throttle the
    // most expensive per-row work to the shard count — keep it map-side.
    val tokExpr =
      graft.analyze.AnalyzerConfig.validate(cfg.analyzer).tokens(col("content"))
    val late = spark.sparkContext.defaultParallelism <= cfg.numShards
    val good =
      if (late) withSha
        .select("doc_id", "repo", "path", "commit", "lang", "sha256", "content")
      else withSha
        .withColumn("tokens", tokExpr)
        .withColumn("dl", size(col("tokens")).cast("long"))
        .select("doc_id", "repo", "path", "commit", "lang", "sha256", "dl", "tokens")
    // dead-letter: keep the skip-and-log contract — dropped rows are
    // counted and persisted, never silently lost (ST5).
    val skipped = if (cfg.trustedInput) 0L else {
      val bad = corpus.filter(isBadRow)
      timed(spark, "stage:deadletter") {
        bad.write.mode(SaveMode.Overwrite).parquet(deadletterDir(dir))
      }
      Tables.deadletter(spark, deadletterDir(dir)).count()
    }
    stageRows(spark, good, dir, cfg, skipped, cfg.analyzer.spec,
      checkDups = true,
      lateTokens = if (late) Some(tokExpr) else None)
  }

  /** The staging tail shared by [[stage]] (tokenized source rows) and
    * [[reindex]] (live rows lifted from another index's staging archive):
    * assign the shard under THIS config's count, run the corpus
    * co-location shuffle, assign ordinals, write the shard-partitioned
    * staging table, and commit snapshot 0. `rows` must be unique per
    * doc_id and carry (doc_id, repo, path, commit, lang, sha256, dl,
    * tokens). */
  private def stageRows(spark: SparkSession, rows: DataFrame, dir: String,
                        cfg: BuildConfig,
                        skipped: Long, analyzerSpec: String,
                        checkDups: Boolean = false,
                        lateTokens: Option[org.apache.spark.sql.Column] = None): Snapshot = {
    // THE corpus shuffle: co-locate each shard before the partitioned write,
    // so every shard is one contiguous file set (without this, partitionBy
    // writes inputPartitions × shards small files — fatal at scale). The
    // shuffle key goes through KeySpread preimages: plain hash of S shard
    // ids into S partitions leaves ~1/e of them empty and some with 3
    // shards (3x stragglers in the write wave); preimage keys place
    // exactly one shard per partition. The ord window reuses that
    // partitioning (ClusteredDistribution is already satisfied), so its
    // only cost is the in-partition sort by doc_id.
    //
    // `lateTokens` (stage()'s path): rows carry `content` instead of
    // `tokens`/`dl`, and the analysis chain runs AFTER the exchange + ord
    // window, in the projection feeding the parquet writer — the shuffle
    // and the window sort move the (smaller) content string, never the
    // token array. reindex()'s rows have only tokens (content is never
    // re-read), so it stays on the pre-tokenized path.
    def writeStaging(r: DataFrame): Unit = {
      val payload = if (lateTokens.isDefined) Seq("content") else Seq("dl", "tokens")
      val good = r
        .withColumn("shard", pmod(xxhash64(col("doc_id")), lit(cfg.numShards)).cast("int"))
        .select("shard" +: "doc_id" +: "repo" +: "path" +: "commit" +: "lang" +:
          "sha256" +: payload map col: _*)
      val w = Window.partitionBy(col("hkey")).orderBy(col("doc_id"))
      val ordered = good.withColumn("hkey", spreadKey(cfg.numShards))
        .repartition(cfg.numShards, col("hkey"))
        .withColumn("ord", row_number().over(w).cast("long"))
        .drop("hkey")
      val toked = lateTokens match {
        case Some(tokExpr) => ordered
          .withColumn("tokens", tokExpr)
          .withColumn("dl", size(col("tokens")).cast("long"))
          .drop("content")
        case None => ordered
      }
      toked
        .select("shard", "doc_id", "repo", "path", "commit", "lang", "sha256",
          "dl", "tokens", "ord")
        .write.mode(SaveMode.Overwrite).partitionBy("shard").parquet(stagingDir(dir))
    }
    timed(spark, "stage:write") { writeStaging(rows) }
    // duplicate-identity check on the STAGED doc_id column — one slim
    // column scan of already-written parquet instead of an extra full
    // pass over the source (see stage()). Duplicates are rare; when they
    // exist, re-stage with the deterministic min-content-sha survivor
    // per identity (identical final staging to deduping up front: ords
    // are assigned by the same window over the same surviving row set).
    // ONE slim scan answers both the duplicate-identity check and the
    // corpus stats (count, Σdl) — the old separate dup-check + stats aggs
    // each launched their own job over the same staged columns. Only a
    // rewrite (rare) re-runs the stats agg over the deduped staging.
    val firstAgg = timed(spark, "stage:stats") {
      Tables.staging(spark, stagingDir(dir)).agg(count(lit(1)),
        (if (checkDups) count_distinct(col("doc_id")) else count(lit(1))),
        coalesce(sum(col("dl")), lit(0L))).head()
    }
    val dupRows = if (checkDups) firstAgg.getLong(0) - firstAgg.getLong(1) else 0L
    val statsRow =
      if (dupRows == 0) firstAgg
      else {
        timed(spark, "stage:dedup-rewrite") {
          val deduped = rows.withColumn("rn", row_number().over(
              Window.partitionBy(col("doc_id")).orderBy(col("sha256"))))
            .filter(col("rn") === 1).drop("rn")
          writeStaging(deduped)
        }
        Tables.staging(spark, stagingDir(dir))
          .agg(count(lit(1)), count(lit(1)),
            coalesce(sum(col("dl")), lit(0L))).head()
      }
    val stats = CorpusStats(statsRow.getLong(0), statsRow.getLong(2))
    // NO stage-time termstats pass: exact global (df, cf) are derived at
    // finalize time from the committed segments' slim (term, count, cf)
    // columns — a column-pruned agg over rows ~|vocab|·|shards|, instead
    // of a full second pass over every token array. Build-time salting
    // needs only approximate heavy-hitter detection, which each group
    // takes from a deterministic 1-in-N doc sample (see buildGroup).
    val snap0 = Snapshot(id = 0L, parentId = -1L, numShards = cfg.numShards,
      completedShards = Nil, segmentDirs = Nil, docmapDirs = Nil,
      lineageDirs = Nil, termstatsDir = "", stagingDone = true, stats = stats,
      timestampMs = System.currentTimeMillis(), positions = cfg.positions,
      analyzer = analyzerSpec, generationStarts = Some(Nil), docmapAdded = Some(Nil))
    // skip-and-log lineage for the staging phase itself: shard -1 = dead-
    // lettered rows, shard -2 = duplicate identities dropped (stageBatch's
    // convention)
    val lin0 = s"$dir/lineage/g0"
    import spark.implicits._
    Seq(LineageRow(0L, -1, Seq(stagingDir(dir)), "", stats.numDocs, 0L, 0L, skipped),
        LineageRow(0L, -2, Seq(stagingDir(dir)), "", 0L, 0L, 0L, dupRows))
      .toDS().write.mode(SaveMode.Overwrite).parquet(lin0)
    val withLin = snap0.copy(lineageDirs = Seq(lin0))
    SnapshotCatalog.commit(spark, dir, withLin)
    withLin
  }

  /** Build one group of shards and commit the next snapshot. `stagingPath`
    * defaults to the full-build staging table; incremental appends point it
    * at their own batch staging (same schema, ord-offset rows). */
  private def buildGroup(spark: SparkSession, dir: String, parent: Snapshot,
                         group: Seq[Int], cfg: BuildConfig,
                         stagingPathIn: String = ""): Snapshot = {
    import spark.implicits._
    val t0 = System.nanoTime()
    val snapId = parent.id + 1
    val gTag = s"g$snapId"
    val avgdl = parent.stats.avgdl
    val stagingPath = if (stagingPathIn.isEmpty) stagingDir(dir) else stagingPathIn

    val staged = Tables.staging(spark, stagingPath)
      .filter(col("shard").isin(group.map(Integer.valueOf): _*)) // partition-pruned scan
    // The docmap is a pure COLUMN PROJECTION of staging (ord was assigned
    // at stage time): no window, no join, no exchange — parquet column
    // pruning never touches the token arrays. It runs CONCURRENTLY with
    // the heavy-detect → segments chain below (separate scheduler thread;
    // both only read staging), so this narrow write hides entirely under
    // the posting build instead of serializing in front of it.
    val docmapDir = s"$dir/docmap/$gTag"
    val docmapFut = scala.concurrent.Future {
      timed(spark, "group:docmap") {
        staged.select(Tables.DocmapSchema.fieldNames.toIndexedSeq.map(col): _*)
          .write.mode(SaveMode.Overwrite).parquet(docmapDir)
      }
    }(scala.concurrent.ExecutionContext.global)

    // heavy-hitter detection for assembly salting: a deterministic 1-in-N
    // doc-id-hash sample of THIS group's staged docs, df scaled back up.
    // Salting is a load-balancing hint — a sampled estimate is safe (a
    // missed borderline term just skips salting; correctness never
    // depends on it) and deterministic, so killed/resumed builds salt
    // identically. Exact termstats come later, from the segments.
    // Detected FIRST (the collect is eager) so the tf flatMap below can
    // emit each row's salt directly — the old post-flatMap saltUdf
    // projection paid a full extra encode/decode pass over every tf row
    // (UTF8String→String per term) purely to attach one int.
    val heavy: Set[String] = timed(spark, "group:heavy-detect") {
      val groupDocs = parent.stats.numDocs.toDouble * group.size / cfg.numShards
      // a term's df within the group is bounded by the group's doc count:
      // when that bound cannot exceed heavyThreshold, no term can qualify
      // — skip the detection job outright (small builds pay a whole
      // scan+agg+collect for a provably empty set otherwise)
      if (groupDocs <= cfg.heavyThreshold) Set.empty[String]
      else {
        val oneIn = math.max(1, math.min(HeavySampleOneIn,
          (groupDocs / 20000).toInt)) // keep >= ~20k sampled docs
        // sample hash is SALTED apart from the shard hash: both key off
        // doc_id, and pmod(h, oneIn)=0 ∧ pmod(h, numShards)=s is unsolvable
        // for some shards whenever gcd(oneIn, numShards) > 1 — e.g. oneIn=50
        // with 64 shards would sample NOTHING from every odd shard (their
        // heavy terms would silently escape salting) and oversample the rest
        staged.filter(pmod(xxhash64(col("doc_id"), lit("heavy-sample")), lit(oneIn)) === 0)
          .select(explode(array_distinct(col("tokens"))).as("term"))
          .groupBy("term").agg(count(lit(1)).as("df"))
          .filter(col("df") * oneIn > cfg.heavyThreshold)
          .select("term").as[String].collect().toSet
      }
    }
    val heavyB = spark.sparkContext.broadcast(heavy)
    // ord-range salt keeps each salted sub-run a contiguous ord range
    val docsPerShard = math.max(1L, parent.stats.numDocs / cfg.numShards)
    val saltSpan = math.max(1L, docsPerShard / cfg.saltBuckets)

    // Term frequencies are counted PER DOCUMENT inside a narrow flatMap —
    // no explode + re-aggregation shuffle: the (term, doc) key never needs
    // to cross partitions because it is entirely local to the document
    // row, and ord rides in from the staged row itself. The salt is
    // computed here too (broadcast heavy set + ord-range formula), so the
    // rows go straight into the assembly repartition.
    val withPositions = parent.positions
    val tfSalted: Dataset[TfRow] = staged
      .select(col("shard"), col("ord"), col("dl"), col("tokens"))
      .as[(Int, Long, Long, Seq[String])]
      .flatMap { case (shard, ord, dl, toks) =>
        val hv = heavyB.value
        def saltOf(t: String): Int =
          if (hv.contains(t)) (ord / saltSpan).toInt else 0
        if (withPositions) {
          // one ordered pass: per-term tf + delta-varbyte positions,
          // encoded HERE so the assembly shuffle ships compressed bytes
          val m = new java.util.LinkedHashMap[String, PosAcc]()
          var p = 0L
          toks.foreach { t =>
            var acc = m.get(t)
            if (acc == null) { acc = new PosAcc; m.put(t, acc) }
            acc.tf += 1
            Codec.writeVarLong(p - acc.prev, acc.out)
            acc.prev = p
            p += 1
          }
          val out = new Array[TfRow](m.size)
          var i = 0
          val it = m.entrySet().iterator()
          while (it.hasNext) {
            val e = it.next()
            out(i) = TfRow(shard, e.getKey, saltOf(e.getKey), ord, dl,
              e.getValue.tf.toLong, e.getValue.out.toByteArray)
            i += 1
          }
          out
        } else {
          val m = new java.util.HashMap[String, Int]()
          toks.foreach(t => m.merge(t, 1, (a, b) => a + b))
          val out = new Array[TfRow](m.size)
          var i = 0
          val it = m.entrySet().iterator()
          while (it.hasNext) {
            val e = it.next()
            out(i) = TfRow(shard, e.getKey, saltOf(e.getKey), ord, dl,
              e.getValue.toLong)
            i += 1
          }
          out
        }
      }
    // size the assembly shuffle by DATA, not core count: tf-row volume is
    // ~totalTokens·(distinct ratio), and a partition sort that overflows
    // execution memory spills — measured 5x wall-clock on this stage the
    // moment partitions crossed ~10^7 rows. ~2M tf rows per partition
    // sorts entirely in memory at any core count; the shuffle-partition
    // floor keeps small builds at full parallelism.
    val groupTokens = parent.stats.totalTokens.toDouble * group.size / cfg.numShards
    val parts = math.min(32768L, math.max(
      spark.sessionState.conf.numShufflePartitions.toLong,
      (groupTokens / 3e6).toLong + 1)).toInt
    // THE SPIMI shuffle: salted term-hash repartition + in-partition sort →
    // streaming block-run build (heavy terms split across reducers by
    // salt). The (shard, term, salt) key space is high-cardinality, so the
    // shuffle balances across any core count. Runs are written AS-IS,
    // in-partition sorted by (shard, term): a term may own several salted
    // runs (rows); the query side concatenates their disjoint-ord blocks
    // when building cursors, which removes the merge SHUFFLE from the
    // build entirely — merging compressed runs is O(#runs), reading them
    // is already distributed, so paying a full exchange to pre-merge was
    // pure overhead. Row-group term clustering (for query pushdown) is
    // preserved because rows stay sorted by term within each partition.
    val segDir = s"$dir/segments/$gTag"
    timed(spark, "group:segments") {
      tfSalted
        .repartition(parts, col("shard"), col("term"), col("salt"))
        .sortWithinPartitions("shard", "term", "salt", "ord")
        .mapPartitions(it => streamRuns(it, avgdl, withPositions))
        .toDF()
        // no dictionary pages for segments: every column is either a
        // unique-per-row value (term — one run per (shard, term, salt))
        // or an incompressible blob, so the writer's dictionary probing
        // (a hash lookup per binary value — a measured ~8% of build CPU)
        // buys nothing. Query-side row-group pruning reads min/max STATS,
        // which plain encoding keeps; sizes are unchanged.
        .write.option("parquet.enable.dictionary", "false")
        .mode(SaveMode.Overwrite).parquet(segDir)
    }

    // lineage reads the docmap — join the concurrent write before using it
    // (it normally finished long ago, under the segments stage)
    scala.concurrent.Await.result(docmapFut, scala.concurrent.duration.Duration.Inf)

    // lineage per shard: input files, order-independent sha256 rollup,
    // postings count, build time. postings_count reads only the (shard,
    // count) columns of the segments just written (blobs pruned).
    val segStats = Tables.segments(spark, Seq(segDir)).select("shard", "count")
      .groupBy("shard").agg(sum(col("count")).as("postings_count"))
    val buildMs = (System.nanoTime() - t0) / 1000000
    val files = staged.inputFiles
    val filesByShard = group.map(s => s -> files.filter(_.contains(s"shard=$s/")).toSeq).toMap
    val filesUdf = udf((s: Int) => filesByShard.getOrElse(s, Nil))
    // order-independent content fingerprint: bit_xor of 60-bit sha prefixes
    // (distributed partial agg — never materializes a shard's shas)
    val lineage = Tables.docmap(spark, Seq(docmapDir), Some(Nil))
      .withColumn("sha_long", expr("cast(conv(substring(sha256, 1, 15), 16, 10) as bigint)"))
      .groupBy("shard")
      .agg(count(lit(1)).as("doc_count"), expr("bit_xor(sha_long)").as("sha_xor"))
      .join(segStats, Seq("shard"), "left")
      .select(lit(snapId).as("snapshot_id"), col("shard"),
        filesUdf(col("shard")).as("input_files"),
        lpad(lower(hex(col("sha_xor"))), 16, "0").as("content_sha256"), col("doc_count"),
        coalesce(col("postings_count"), lit(0L)).as("postings_count"),
        lit(buildMs).as("build_ms"), lit(0L).as("skipped_rows"))
    val linDir = s"$dir/lineage/$gTag"
    timed(spark, "group:lineage") { lineage.write.mode(SaveMode.Overwrite).parquet(linDir) }

    val snap = parent.copy(id = snapId, parentId = parent.id,
      completedShards = parent.completedShards ++ group,
      segmentDirs = parent.segmentDirs :+ segDir,
      docmapDirs = parent.docmapDirs :+ docmapDir,
      lineageDirs = parent.lineageDirs :+ linDir,
      timestampMs = System.currentTimeMillis())
    SnapshotCatalog.commit(spark, dir, snap)
    snap
  }

  /** Streaming SPIMI run builder: input sorted by (shard, term, salt, ord);
    * emits block runs holding at most one partial block in memory. When
    * `positions` is set, each posting's pre-encoded position payload rides
    * into the block blob. */
  private def streamRuns(it: Iterator[TfRow], avgdl: Double,
                         positions: Boolean): Iterator[SegRun] = {
    new Iterator[SegRun] {
      private val buf = it.buffered
      def hasNext: Boolean = buf.hasNext
      def next(): SegRun = {
        val head = buf.head
        val (shard, term, salt) = (head.shard, head.term, head.salt)
        val blocks = Seq.newBuilder[SegBlock]
        val ords = new Array[Long](Codec.BlockSize)
        val tfs = new Array[Long](Codec.BlockSize)
        val dls = new Array[Long](Codec.BlockSize)
        val poss = if (positions) new Array[Array[Byte]](Codec.BlockSize) else null
        var n = 0; var count = 0L; var cf = 0L
        def flush(): Unit = if (n > 0) {
          val bs = Codec.buildBlocks(
            java.util.Arrays.copyOf(ords, n),
            java.util.Arrays.copyOf(tfs, n),
            java.util.Arrays.copyOf(dls, n), avgdl,
            if (poss == null) null else java.util.Arrays.copyOf(poss, n))
          blocks ++= bs
          n = 0
        }
        while (buf.hasNext && buf.head.shard == shard &&
               buf.head.term == term && buf.head.salt == salt) {
          val r = buf.next()
          ords(n) = r.ord; tfs(n) = r.tf; dls(n) = r.dl
          if (poss != null) poss(n) = r.pos
          n += 1
          count += 1; cf += r.tf
          if (n == Codec.BlockSize) flush()
        }
        flush()
        SegRun(shard, term, count, cf, avgdl, blocks.result())
      }
    }
  }

  /** Finalize: exact global termstats from the committed segments' slim
    * (term, count, cf) columns — blobs pruned, rows ~|vocab|·|runs|. df is
    * the number of docs holding the term (salted runs partition a term's
    * postings, so Σ count over runs is exact), cf the total occurrences.
    * When the snapshot carries delete tombstones, the tombstoned rows'
    * per-term (df, cf) — recomputed exactly from their staged token arrays
    * — are subtracted, so finalize never resurrects deleted postings'
    * stats. */
  private def finalize(spark: SparkSession, dir: String, parent: Snapshot,
                       cfg: BuildConfig): Snapshot = {
    // versioned, never overwritten in place: an appended index re-derives
    // termstats while readers may still be scanning the previous dir
    val tsDir = s"$dir/termstats/g${parent.id + 1}"
    timed(spark, "finalize:termstats") {
      val fromSegs = Tables.segments(spark, parent.segmentDirs)
        .groupBy("term").agg(sum(col("count")).as("df"), sum(col("cf")).as("cf"))
      val stats =
        if (parent.tombstoneDirs.isEmpty) fromSegs
        else {
          val d = termDeltas(spark, dir, Tables.tombstones(spark, parent.tombstoneDirs))
          fromSegs.join(d, Seq("term"), "left")
            .select(col("term"),
              (col("df") - coalesce(col("df_d"), lit(0L))).as("df"),
              (col("cf") - coalesce(col("cf_d"), lit(0L))).as("cf"))
            .filter(col("df") > 0)
        }
      // hash-repartition + in-partition sort (NOT repartitionByRange,
      // whose boundary sampling recomputes the agg): query-time pruning
      // needs term-clustered ROW GROUPS, which the local sort gives
      stats
        .repartition(math.max(1, cfg.numShards / 8), col("term"))
        .sortWithinPartitions("term")
        .write.mode(SaveMode.Overwrite).parquet(tsDir)
    }
    val snap = parent.copy(id = parent.id + 1, parentId = parent.id,
      termstatsDir = tsDir, timestampMs = System.currentTimeMillis())
    SnapshotCatalog.commit(spark, dir, snap)
    snap
  }

  /** True when `snap`'s termstats were committed by its own finalizing
    * commit (full-build/append finalize `g{id}`, delete `d{id}`, compact
    * `c{id}`) — false in the documented torn-append window, where a
    * complete snapshot still points at an ancestor's termstats. */
  private def termstatsFresh(dir: String, snap: Snapshot): Boolean =
    Seq("g", "d", "c").exists(p => snap.termstatsDir == s"$dir/termstats/$p${snap.id}")

  /** Exact per-term (df_d, cf_d) of the given index rows, recomputed from
    * their staged token arrays. Victims are keyed by (shard, ord) — unique
    * across the index's whole history (append ords extend, never reuse),
    * unlike doc_id, which can legitimately reappear in a later append's
    * staging after a delete + compact cycle. */
  private def termDeltas(spark: SparkSession, dir: String,
                         victims: DataFrame): DataFrame =
    Tables.staged(spark, dir).select(col("shard"), col("ord"), col("tokens"))
      .join(victims.select("shard", "ord"), Seq("shard", "ord"), "left_semi")
      .select(col("shard"), col("ord"), explode(col("tokens")).as("term"))
      .groupBy("term", "shard", "ord").agg(count(lit(1)).as("tf"))
      .groupBy("term").agg(count(lit(1)).as("df_d"), sum(col("tf")).as("cf_d"))

  /** Build (or resume) the index at `dir`. Idempotent: completed shards
    * recorded in the CURRENT snapshot are never rebuilt; a build killed
    * between the last group and finalize resumes straight into finalize. */
  /** Shard count derived from corpus size: the next power of two of
    * numDocs / 32768, clamped to [16, 4096] (KeySpread.Mod bounds the
    * preimage key space). ~32k docs/shard keeps one shard's posting build
    * comfortably inside a single task while the shards × query-block WAND
    * fan-out still saturates a large cluster. At the 4096 cap per-shard
    * size grows linearly with the corpus — raise KeySpread.Mod in step if
    * an index beyond ~10^8.5 docs needs more shards. */
  def autoShards(numDocs: Long): Int = {
    val clamped = math.min(4096L, math.max(16L, numDocs / 32768L)).toInt
    if (Integer.bitCount(clamped) == 1) clamped
    else Integer.highestOneBit(clamped) * 2
  }

  def build(spark: SparkSession, corpus: Dataset[SourceFile], dir: String,
            cfg: BuildConfig = BuildConfig()): Snapshot = {
    val loaded = SnapshotCatalog.load(spark, dir)
    val cfg1 =
      if (cfg.numShards > 0) cfg
      else cfg.copy(numShards = loaded match {
        // resuming: the shard count is baked into the staged layout
        case Some(s) if s.stagingDone => s.numShards
        // raw count (bad rows included) — sizing needs magnitude, not
        // exactness, and parquet sources answer it from footer metadata
        case _ => autoShards(corpus.count())
      })
    val snap = loaded match {
      case Some(s) if s.stagingDone =>
        require(s.numShards == cfg1.numShards,
          s"index at $dir has ${s.numShards} shards; asked for ${cfg1.numShards}")
        require(s.analyzer == cfg1.analyzer.spec,
          s"index at $dir was staged with analyzer '${s.analyzer}'; " +
            s"asked for '${cfg1.analyzer.spec}' (the chain is sticky — reindex " +
            "from source content to change it)")
        s
      case _ => stage(spark, corpus, dir, cfg1)
    }
    driveGroups(spark, dir, snap, cfg1)
  }

  /** Run the resumable shard-group loop from a staged snapshot to a
    * complete one — shared by [[build]] and [[reindex]]. */
  private def driveGroups(spark: SparkSession, dir: String, staged: Snapshot,
                          cfg: BuildConfig): Snapshot = {
    var snap = staged
    if (snap.isComplete) return snap
    val remaining = (0 until cfg.numShards).filterNot(snap.completedShards.toSet)
    var commits = 0
    remaining.grouped(cfg.commitEvery).foreach { group =>
      if (commits >= cfg.failAfterGroups)
        throw new RuntimeException(s"simulated kill after $commits group commits")
      snap = buildGroup(spark, dir, snap, group, cfg)
      commits += 1
    }
    if (snap.termstatsDir.isEmpty) snap = finalize(spark, dir, snap, cfg)
    assert(snap.isComplete, s"build finished but snapshot ${snap.id} incomplete")
    snap
  }

  /** Reindex the LIVE corpus of a committed index into a brand-new index
    * at `dstDir` under a different layout — the OpenSearch `_reindex` /
    * `_split` / `_shrink` family: change the shard count as the corpus
    * outgrows it, or turn positions on to make an existing index
    * phrase-searchable. No source content is re-read or re-tokenized:
    * rows are lifted from the source's staging archive (the durable
    * per-doc token record) with tombstoned rows masked on the native
    * (shard, ord) key, then re-sharded, re-ordinaled, and built through
    * the exact pipeline `build` runs — so the destination is a normal
    * first-generation index (snapshot history starts fresh; resume,
    * append, delete, compact all apply).
    *
    * Scores are preserved bit-for-bit: BM25 depends only on
    * (tf, dl, df, N, avgdl), all of which survive the reshard —
    * EngineSpec pins rank- and score-identity between source and
    * destination. Resumable like build: a killed reindex re-run picks up
    * from the destination's last committed snapshot (the staging pass is
    * idempotent; `cfg.numShards <= 0` re-derives the same auto count
    * from the destination's staged layout on resume). */
  def reindex(spark: SparkSession, srcDir: String, dstDir: String,
              cfg: BuildConfig = BuildConfig()): Snapshot = {
    require(srcDir != dstDir, "reindex needs a fresh destination dir")
    val src = SnapshotCatalog.require(spark, srcDir)
    require(src.isComplete,
      s"reindex requires a complete source index (snapshot ${src.id} is not)")
    val loaded = SnapshotCatalog.load(spark, dstDir)
    val cfg1 =
      if (cfg.numShards > 0) cfg
      else cfg.copy(numShards = loaded match {
        case Some(s) if s.stagingDone => s.numShards
        case _ => autoShards(src.stats.numDocs)
      })
    val snap0 = loaded match {
      case Some(s) if s.stagingDone =>
        require(s.numShards == cfg1.numShards,
          s"index at $dstDir has ${s.numShards} shards; asked for ${cfg1.numShards}")
        s
      case _ =>
        // live = staging ⋉ (docmap ∖ tombstones) on the native (shard,
        // ord) key. The docmap — not the tombstone set — is the liveness
        // truth: compaction purges deleted docs from the docmap and
        // CLEARS the tombstones, while the staging archive keeps every
        // row ever staged, so an anti-join against tombstones alone
        // would resurrect pre-compaction deletes.
        val liveMap = Tables.live(spark, src,
          Tables.docmap(spark, src).select("shard", "ord"))
        val live = Tables.staged(spark, srcDir)
          .join(liveMap, Seq("shard", "ord"), "left_semi")
        // the destination inherits the SOURCE's analyzer chain: reindex
        // lifts already-analyzed tokens (content is never re-read), so
        // changing the chain here is impossible — reject a conflicting
        // request loudly rather than recording a spec the tokens don't obey
        require(cfg1.analyzer.isDefault || cfg1.analyzer.spec == src.analyzer,
          s"reindex cannot change the analyzer chain (source has " +
            s"'${src.analyzer}', asked for '${cfg1.analyzer.spec}'): " +
            "rebuild from source content instead")
        stageRows(spark,
          live.select("doc_id", "repo", "path", "commit", "lang", "sha256",
            "dl", "tokens"),
          dstDir, cfg1, skipped = 0L, analyzerSpec = src.analyzer)
    }
    driveGroups(spark, dstDir, snap0, cfg1)
  }

  /** Stage one append batch: same enrichment as the full-build staging,
    * plus (a) a left-anti join against the existing docmap so re-delivered
    * rows (at-least-once streaming) and duplicate identities are dropped,
    * and (b) per-shard ord OFFSETS so appended ordinals extend each
    * shard's existing contiguous range — the disjointness the query side's
    * concat-of-runs merge depends on.
    * @return (stagingPath, batch stats over staged rows, staging lineage
    *         dirs, the batch's first ord in each shard) */
  private def stageBatch(spark: SparkSession, corpus: Dataset[SourceFile],
                         dir: String, batchTag: String, parent: Snapshot,
                         cfg: BuildConfig,
                         liveOnly: Boolean): (String, CorpusStats, Seq[String], Seq[Long]) = {
    import spark.implicits._
    val stagingPath = s"$dir/staging_$batchTag"
    // anti-join key set: plain append dedupes against EVERY identity ever
    // committed (tombstoned or not — at-least-once idempotency); the
    // upsert path dedupes against LIVE identities only, so a tombstoned
    // identity can be re-indexed under a fresh (shard, ord)
    val docmapAll = Tables.docmap(spark, parent)
    val existingIds =
      (if (liveOnly) Tables.live(spark, parent, docmapAll) else docmapAll).select("doc_id")
    val withId = corpus.filter(!isBadRow).withColumn("doc_id", docIdCol)
    // WITHIN-batch dedup: the docmap anti-join only drops identities that
    // are already COMMITTED — an at-least-once redelivery landing inside
    // the same micro-batch would give each copy its own ord in the same
    // shard (doubled postings, golden/WAND identity broken). One
    // column-pruned agg (content never read — doc_id hashes only the
    // natural key) counts the drops for the skip-and-log lineage. The
    // survivor is picked DETERMINISTICALLY (min content sha per identity):
    // dropDuplicates keeps whichever row a task saw first, so two runs of
    // the same batch could index different content for a conflicted
    // identity — breaking byte-identical re-runs.
    val idRow = withId.agg(count(lit(1)), count_distinct(col("doc_id"))).head()
    val dupRows = idRow.getLong(0) - idRow.getLong(1)
    val withSha = withId.withColumn("sha256", sha2(col("content"), 256))
    val deduped =
      if (dupRows == 0) withSha
      else withSha.withColumn("rn", row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("sha256"))))
        .filter(col("rn") === 1).drop("rn")
    // sticky analyzer: the batch is analyzed with the PARENT snapshot's
    // chain (cfg.analyzer is ignored here, like cfg.positions). Which
    // side of the co-location exchange tokenizes is scale-adaptive,
    // same rule and rationale as stage().
    val batchTokExpr =
      graft.analyze.AnalyzerConfig.parse(parent.analyzer).tokens(col("content"))
    val late = spark.sparkContext.defaultParallelism <= cfg.numShards
    val keyed = deduped
      .join(existingIds, Seq("doc_id"), "left_anti")
      .withColumn("shard", pmod(xxhash64(col("doc_id")), lit(cfg.numShards)).cast("int"))
    val good =
      if (late) keyed
        .select("shard", "doc_id", "repo", "path", "commit", "lang", "sha256", "content")
      else keyed
        .withColumn("tokens", batchTokExpr)
        .withColumn("dl", size(col("tokens")).cast("long"))
        .select("shard", "doc_id", "repo", "path", "commit", "lang", "sha256", "dl", "tokens")
    // per-shard ord base: max ordinal EVER ASSIGNED, from the staging
    // archive — NOT the live docmap. Compaction purges deleted docs'
    // docmap rows, so a docmap-derived base would re-issue their ordinals
    // and break the (shard, ord)-unique-across-history invariant that
    // termDeltas' semi-join and the tombstone masks key on. The staging
    // dirs are the durable record of every assignment (never GC'd — see
    // Tables.stagingDirs); the agg is column-pruned to (shard, ord). A
    // crashed attempt of THIS batch may already have staged rows —
    // including them just leaves a harmless ord gap.
    val offsets: Map[Int, Long] = Tables.stagingDirs(spark, dir)
      .map(p => Tables.staging(spark, p).select(col("shard"), col("ord")))
      .reduceOption(_ unionByName _)
      .getOrElse(docmapAll)
      .groupBy("shard").agg(max("ord").as("m")).as[(Int, Long)].collect().toMap
    val offB = spark.sparkContext.broadcast(offsets)
    val offUdf = udf((s: Int) => offB.value.getOrElse(s, 0L))
    timed(spark, "append:stage") {
      val w = Window.partitionBy(col("hkey")).orderBy(col("doc_id"))
      val ordered = good.withColumn("hkey", spreadKey(cfg.numShards))
        .repartition(cfg.numShards, col("hkey"))
        .withColumn("ord", row_number().over(w).cast("long") + offUdf(col("shard")))
        .drop("hkey")
      val toked =
        if (late) ordered
          .withColumn("tokens", batchTokExpr)
          .withColumn("dl", size(col("tokens")).cast("long"))
          .drop("content")
        else ordered
      toked
        .select("shard", "doc_id", "repo", "path", "commit", "lang", "sha256",
          "dl", "tokens", "ord")
        .write.mode(SaveMode.Overwrite).partitionBy("shard").parquet(stagingPath)
    }
    val skipped = if (cfg.trustedInput) 0L else {
      val bad = corpus.filter(isBadRow)
      val dl = s"$dir/deadletter_$batchTag"
      timed(spark, "append:deadletter") {
        bad.write.mode(SaveMode.Overwrite).parquet(dl)
      }
      Tables.deadletter(spark, dl).count()
    }
    // a batch that dedupes to NOTHING (at-least-once re-delivery) writes
    // an empty dir, which the declared schema reads as zero rows
    val staged = Tables.staging(spark, stagingPath)
    val st = staged.agg(count(lit(1)), coalesce(sum(col("dl")), lit(0L))).head()
    val batchStats = CorpusStats(st.getLong(0), st.getLong(1))
    val lin = s"$dir/lineage/$batchTag-stage"
    // shard -1 = the batch staging itself (dead-lettered rows); shard -2 =
    // within-batch duplicate identities dropped before ord assignment
    Seq(LineageRow(parent.id + 1, -1, Seq(stagingPath), "", batchStats.numDocs,
          0L, 0L, skipped),
        LineageRow(parent.id + 1, -2, Seq(stagingPath), "", 0L, 0L, 0L, dupRows))
      .toDS().write.mode(SaveMode.Overwrite).parquet(lin)
    (stagingPath, batchStats, Seq(lin),
      (0 until cfg.numShards).map(s => offsets.getOrElse(s, 0L) + 1L))
  }

  /** Incrementally append a document batch to a complete index — the
    * streaming-ingest path (ST1/ST4 applied to the engine: one
    * snapshot-atomic commit per micro-batch, resume = the snapshot log).
    *
    * Exactness: appended postings are built with the UPDATED global
    * avgdl, and every segment run records the avgdl its block maxima were
    * computed against; the query side uses the exact stored bound only
    * while the run's avgdl still equals the snapshot's, falling back to
    * the per-block (maxTf, minDl) impact bound otherwise — pruning stays
    * lossless at any append depth, so WAND remains rank- and
    * bit-identical to the golden scorer over the unioned corpus
    * (pinned in EngineSpec).
    *
    * Idempotent under at-least-once delivery: rows whose doc identity is
    * already in the docmap are dropped by the staging anti-join; a batch
    * that dedupes to nothing returns the parent snapshot unchanged.
    *
    * Visibility: the batch lands in two commits — segments + docmap +
    * updated stats first (termstats momentarily those of the parent),
    * then the refreshed termstats. Both are complete, queryable
    * snapshots; a reader in the window between them scores new terms
    * with the parent's df. */
  def append(spark: SparkSession, batch: Dataset[SourceFile], dir: String,
             cfgIn: BuildConfig = BuildConfig()): Snapshot =
    appendImpl(spark, batch, dir, cfgIn, liveOnly = false)

  private def appendImpl(spark: SparkSession, batch: Dataset[SourceFile],
                         dir: String, cfgIn: BuildConfig,
                         liveOnly: Boolean): Snapshot = {
    val parent = SnapshotCatalog.require(spark, dir)
    require(parent.isComplete,
      s"append requires a complete base index (snapshot ${parent.id} is not)")
    val cfg = cfgIn.copy(numShards = parent.numShards)
    val batchTag = s"a${parent.id + 1}"
    val (stagingPath, batchStats, stageLin, starts) =
      stageBatch(spark, batch, dir, batchTag, parent, cfg, liveOnly)
    if (batchStats.numDocs == 0) {
      // All dupes / dead-lettered. Before returning, repair a TORN append:
      // a crash between buildGroup's commit and finalize's leaves a
      // complete snapshot whose termstats still belong to its parent
      // (invariant: a finalized snapshot with id X has termstats g{X}).
      // The re-delivered batch dedupes to zero here, so without this check
      // the finalize that would refresh termstats never runs — new terms
      // keep scoring with df=0 and surviving terms with stale df forever.
      // Repair = run finalize forward: commits snapshot parent.id+1 with
      // freshly derived termstats (ids stay monotonic).
      if (!termstatsFresh(dir, parent))
        return finalize(spark, dir, parent, cfg)
      return parent
    }
    val newStats = CorpusStats(parent.stats.numDocs + batchStats.numDocs,
      parent.stats.totalTokens + batchStats.totalTokens)
    // synthetic parent: cleared completedShards so the one all-shard build
    // group re-marks every shard; updated stats so the batch's block
    // maxima are computed at the NEW global avgdl
    val synthetic = parent.copy(completedShards = Nil, stats = newStats,
      lineageDirs = parent.lineageDirs ++ stageLin,
      generationStarts = parent.generationStarts.map(_ :+ starts))
    val built = buildGroup(spark, dir, synthetic, 0 until cfg.numShards, cfg,
      stagingPath)
    if (cfg.failBeforeFinalize)
      throw new RuntimeException("simulated kill before finalize")
    finalize(spark, dir, built, cfg)
  }

  /** Upsert a document batch — the OpenSearch index-on-existing-`_id`
    * (replace) semantics the plain [[append]] deliberately refuses:
    *
    *  - an identity (repo, path, commit) arriving with CHANGED content has
    *    its live row tombstoned (exact termstats subtraction, same as
    *    [[delete]]) and the new version appended under a fresh
    *    (shard, ord);
    *  - an identity arriving with IDENTICAL content is skipped
    *    (idempotent under at-least-once re-delivery, like append);
    *  - a brand-new identity is appended;
    *  - a previously DELETED identity is resurrected (append's anti-join
    *    covers every identity ever committed; upsert's covers live rows
    *    only).
    *
    * Lands in two snapshot commits (tombstones first, then the append's
    * own commit discipline); both are complete, queryable states — a
    * reader between them sees the corpus without the changed docs, the
    * same visibility contract as append's two-commit window. Crash-safe
    * at any point: a re-run's victim selection finds the old versions
    * already tombstoned (no-op delete) and the append half either dedupes
    * to zero (torn-state repair runs) or lands the new versions.
    *
    * The within-batch survivor for a conflicted identity is the min
    * content sha (stageBatch's deterministic rule); victim selection uses
    * the SAME survivor, so the version compared against the live row is
    * exactly the version that will be indexed.
    *
    * Scale shape: victim selection is one broadcast-sized projection of
    * the batch (doc_id, sha) joined against the docmap on its native
    * doc_id; no token arrays move until the append's staging pass. */
  def upsert(spark: SparkSession, batch: Dataset[SourceFile], dir: String,
             cfgIn: BuildConfig = BuildConfig()): Snapshot = {
    val parent = SnapshotCatalog.require(spark, dir)
    require(parent.isComplete,
      s"upsert requires a complete base index (snapshot ${parent.id} is not)")
    val cfg = cfgIn.copy(numShards = parent.numShards)
    val changedKeys = batch.filter(!isBadRow)
      .select(docIdCol.as("doc_id"), sha2(col("content"), 256).as("sha_new"))
      .groupBy("doc_id").agg(min("sha_new").as("sha_new"))
    deleteVictims(spark, dir, (_, docmap) =>
      docmap.join(changedKeys, Seq("doc_id"))
        .filter(col("sha256") =!= col("sha_new")), cfg)
    appendImpl(spark, batch, dir, cfg, liveOnly = true)
  }

  /** Delete documents matching `predicate` (over docmap columns: repo,
    * path, commit, lang, sha256, dl, doc_id) — Lucene's live-docs
    * discipline on a snapshot table: one atomic commit appends a
    * (shard, ord, doc_id) tombstone dir, subtracts the victims' exact
    * per-term (df, cf) from termstats (recomputed from their staged token
    * arrays), and shrinks the global stats, so BOTH engines keep scoring
    * the surviving corpus with identical idf/avgdl. Postings stay on disk
    * and are masked at query time until [[compact]] purges them.
    *
    * Stored block maxNorm bounds were computed at the pre-delete avgdl;
    * the query side's per-run avgdl tag detects the shift and falls back
    * to the (maxTf, minDl) impact bound — pruning stays lossless.
    *
    * Contract notes: deleting a doc does NOT free its identity for plain
    * [[append]] until a compaction drops it from the docmap (the append
    * anti-join sees docmap rows, tombstoned or not); [[upsert]] CAN
    * resurrect it (its anti-join covers live rows only). Idempotent: rows
    * already tombstoned are never double-subtracted; a predicate matching
    * nothing new returns the parent snapshot unchanged. */
  def delete(spark: SparkSession, dir: String,
             predicate: org.apache.spark.sql.Column,
             cfgIn: BuildConfig = BuildConfig()): Snapshot =
    deleteVictims(spark, dir,
      (_, docmap) => docmap.filter(predicate), cfgIn)

  /** [[delete]] core with the victim selection abstracted: `selectVictims`
    * receives the (torn-repair-finalized) parent snapshot and its docmap
    * and returns the rows to tombstone — any subset of docmap rows (extra
    * columns are dropped; already-tombstoned rows are re-filtered here).
    * Backs both the metadata-predicate [[delete]] and the search-driven
    * [[graft.search.Wand.deleteByQuery]]. */
  private[graft] def deleteVictims(spark: SparkSession, dir: String,
      selectVictims: (Snapshot, org.apache.spark.sql.DataFrame) => org.apache.spark.sql.DataFrame,
      cfgIn: BuildConfig = BuildConfig()): Snapshot = {
    val parent0 = SnapshotCatalog.require(spark, dir)
    require(parent0.isComplete,
      s"delete requires a complete index (snapshot ${parent0.id} is not)")
    val cfg = cfgIn.copy(numShards = parent0.numShards)
    // repair a TORN append FIRST (same rule as append's zero-dedupe path):
    // subtracting victims from the STALE parent termstats would commit the
    // result under a fresh d{id} tag, making termstatsFresh true and
    // permanently masking the torn state — new-batch terms would keep
    // df=0 forever. Finalizing forward re-derives exact stats, then the
    // delete applies on top.
    val parent =
      if (termstatsFresh(dir, parent0)) parent0
      else finalize(spark, dir, parent0, cfg)
    val newId = parent.id + 1
    val victims = Tables.live(spark, parent,
      selectVictims(parent, Tables.docmap(spark, parent))
        .select(Tables.TombstoneSchema.fieldNames.toIndexedSeq.map(col): _*))
    // one pass decides emptiness AND the stats delta (dl rides in docmap,
    // so no staging scan is needed for the global stats)
    val tsDir = s"$dir/tombstones/d$newId"
    timed(spark, "delete:tombstones") {
      victims.write.mode(SaveMode.Overwrite).parquet(tsDir)
    }
    val written = Tables.tombstones(spark, Seq(tsDir))
    val aggRow = written.agg(count(lit(1)), coalesce(sum(col("dl")), lit(0L))).head()
    val (nVictims, dlVictims) = (aggRow.getLong(0), aggRow.getLong(1))
    if (nVictims == 0) {
      if (!termstatsFresh(dir, parent)) return finalize(spark, dir, parent, cfg)
      return parent
    }
    // cumulative per-shard delete-mask sidecars, read inside decode tasks
    // (never driver-collected) — see DeleteMask
    val dmaskDir = s"$dir/delmask/d$newId"
    timed(spark, "delete:delmask") {
      DeleteMask.write(spark, dmaskDir, parent.tombstoneDirs :+ tsDir,
        cfg.numShards)
    }
    // exact termstats update: subtract the victims' per-term (df, cf)
    val statsDir = s"$dir/termstats/d$newId"
    timed(spark, "delete:termstats") {
      val d = termDeltas(spark, dir, written)
      Tables.termstats(spark, parent.termstatsDir)
        .join(d, Seq("term"), "left")
        .select(col("term"),
          (col("df") - coalesce(col("df_d"), lit(0L))).as("df"),
          (col("cf") - coalesce(col("cf_d"), lit(0L))).as("cf"))
        .filter(col("df") > 0)
        .repartition(math.max(1, cfg.numShards / 8), col("term"))
        .sortWithinPartitions("term")
        .write.mode(SaveMode.Overwrite).parquet(statsDir)
    }
    // skip-and-log lineage: shard -4 records the delete batch size
    import spark.implicits._
    val linDir = s"$dir/lineage/d$newId"
    Seq(LineageRow(newId, -4, Seq(tsDir), "", nVictims, 0L, 0L, 0L))
      .toDS().write.mode(SaveMode.Overwrite).parquet(linDir)
    val snap = parent.copy(id = newId, parentId = parent.id,
      termstatsDir = statsDir,
      tombstoneDirs = parent.tombstoneDirs :+ tsDir,
      delmaskDir = dmaskDir,
      lineageDirs = parent.lineageDirs :+ linDir,
      stats = CorpusStats(parent.stats.numDocs - nVictims,
        parent.stats.totalTokens - dlVictims),
      timestampMs = System.currentTimeMillis())
    SnapshotCatalog.commit(spark, dir, snap)
    snap
  }

  /** Multi-get (the OpenSearch `_mget` API): resolve requested document
    * identities to their CURRENT indexed state, with API totality — one
    * output row per requested id, `found = false` (null everything) for
    * unknown ids, `live = false` for tombstoned docs (the row shows the
    * dead version's metadata — useful for "why did this disappear"), and
    * the LIVE version's metadata for upserted identities (the live row
    * is unique by the staging invariant; among dead versions the
    * highest (shard, ord) — the newest — is shown). Requests are
    * request-scale by contract (you fetch a handful of ids), so the
    * docmap scan is id-pruned and the result collects driver-side, the
    * same discipline as explain/termVectors. The index stores analyzed
    * tokens, never raw `_source` — so mget returns the metadata row
    * (incl. the content sha256 for source verification), not content.
    * @return (doc_id, found boolean, live boolean?, repo?, path?,
    *          commit?, lang?, sha256?, dl?) — `?` columns null when not
    *          found */
  def mget(spark: SparkSession, dir: String, docIds: Seq[String]): DataFrame = {
    import spark.implicits._
    require(docIds.nonEmpty, "mget needs at least one doc id")
    val snap = SnapshotCatalog.require(spark, dir)
    val ids = docIds.distinct
    val rows = Tables.docmap(spark, snap)
      .filter(col("doc_id").isin(ids: _*))
      .select("doc_id", "shard", "ord", "repo", "path", "commit", "lang",
        "sha256", "dl")
      .collect()
    // the request-scale rows go back as a local relation: no job at all
    // when nothing is tombstoned
    val liveAddrs = Tables.live(spark, snap,
        rows.toSeq.map(r => (r.getInt(1), r.getLong(2))).toDF("shard", "ord"))
      .as[(Int, Long)].collect().toSet
    val byId = rows.groupBy(_.getString(0))
    val none9 = (None: Option[Boolean], None: Option[String],
      None: Option[String], None: Option[String], None: Option[String],
      None: Option[String], None: Option[Long])
    val out = ids.sorted.map { id =>
      byId.get(id) match {
        case None =>
          (id, false, none9._1, none9._2, none9._3, none9._4, none9._5,
            none9._6, none9._7)
        case Some(rs) =>
          val live = rs.filter(r => liveAddrs((r.getInt(1), r.getLong(2))))
          val r = (if (live.nonEmpty) live else rs)
            .maxBy(x => (x.getInt(1), x.getLong(2)))
          (id, true, Some(live.nonEmpty), Option(r.getString(3)),
            Option(r.getString(4)), Option(r.getString(5)),
            Option(r.getString(6)), Option(r.getString(7)),
            Some(r.getLong(8)))
      }
    }
    out.toDF("doc_id", "found", "live", "repo", "path", "commit", "lang",
      "sha256", "dl")
  }

  /** Metadata update (the lifecycle half of OpenSearch's
    * `_update_by_query`): set docmap METADATA columns for selected live
    * docs and commit the result as a new snapshot generation. Content,
    * postings, termstats, and global stats are untouched — scores and
    * ranks are bit-identical across the commit; only the metadata surface
    * (filtered retrieval, facets, stats/range/histogram aggs, top_hits
    * buckets) sees the new values, and time travel to an earlier snapshot
    * sees the old ones.
    *
    * `set` maps column name → new-value expression, evaluated against the
    * ORIGINAL row (all updates in one pass see pre-update values — no
    * left-to-right chaining). Identity-bearing and scoring-bearing
    * columns (shard, ord, doc_id, repo, path, commit, sha256, dl) are
    * rejected: doc_id is sha256(repo, path, commit) and dl feeds BM25, so
    * rewriting any of them would desync the staging archive or the
    * scorers. A `set` key NOT in the docmap schema is appended as a new
    * column (null outside the match set) — the tag-by-query workflow.
    *
    * `selectTargets` receives (parent, live docmap rows) and returns the
    * rows to update ((shard, ord) is what's used); tombstoned rows are
    * masked before it runs. The whole docmap (every generation) is
    * consolidated into ONE new `docmap/u{id}` dir — a slim
    * metadata-column scan+write, no content or token movement — and the
    * commit is atomic via the snapshot manifest. The new snapshot keeps
    * the parent's termstats pointer (stats are unchanged); the next
    * append/delete re-finalizes from segments as usual, which is
    * idempotent on these unchanged stats.
    * @return the committed snapshot (parent unchanged if nothing matched) */
  def updateMetadata(spark: SparkSession, dir: String,
      selectTargets: (Snapshot, org.apache.spark.sql.DataFrame) => org.apache.spark.sql.DataFrame,
      set: Map[String, org.apache.spark.sql.Column]): Snapshot = {
    val parent = SnapshotCatalog.require(spark, dir)
    require(parent.isComplete,
      s"update requires a complete index (snapshot ${parent.id} is not)")
    require(set.nonEmpty, "update: empty set clause")
    val protectedCols =
      Set("shard", "ord", "doc_id", "repo", "path", "commit", "sha256", "dl")
    val bad = set.keySet.intersect(protectedCols)
    require(bad.isEmpty,
      s"update: identity/scoring columns are immutable: ${bad.mkString(", ")}")
    val newId = parent.id + 1
    val docmapAll = Tables.docmap(spark, parent)
    val targets = selectTargets(parent, Tables.live(spark, parent, docmapAll))
      .select(col("shard"), col("ord")).distinct()
    val nTargets = targets.count()
    if (nTargets == 0) return parent
    val marked = docmapAll.join(targets.withColumn("upd", lit(true)),
      Seq("shard", "ord"), "left")
    // one select, original values on the right of every when: updates
    // never see each other
    val existing = docmapAll.columns.map { c =>
      set.get(c).fold(col(c))(v => when(col("upd"), v).otherwise(col(c)).as(c))
    }
    val added = set.keys.filterNot(docmapAll.columns.contains).toSeq.sorted
      .map(c => when(col("upd"), set(c)).otherwise(lit(null)).as(c))
    val updated = marked.select((existing ++ added).toIndexedSeq: _*)
    val dmDir = s"$dir/docmap/u$newId"
    timed(spark, "update:docmap") {
      updated.write.mode(SaveMode.Overwrite).parquet(dmDir)
    }
    // skip-and-log lineage: shard -5 records the update batch size
    import spark.implicits._
    val linDir = s"$dir/lineage/u$newId"
    Seq(LineageRow(newId, -5, Seq(dmDir), "", nTargets, 0L, 0L, 0L))
      .toDS().write.mode(SaveMode.Overwrite).parquet(linDir)
    val snap = parent.copy(id = newId, parentId = parent.id,
      docmapDirs = Seq(dmDir), docmapAdded = Some(Tables.addedColumns(updated)),
      lineageDirs = parent.lineageDirs :+ linDir,
      timestampMs = System.currentTimeMillis())
    SnapshotCatalog.commit(spark, dir, snap)
    snap
  }

  /** Index statistics (the OpenSearch `_stats` / `_cat/indices` analog):
    * one row describing the CURRENT committed snapshot — total docs ever
    * committed to the docmap, live docs (tombstones subtracted), deleted
    * docs, committed dictionary size (`terms`), total postings (Σ df,
    * delete-exact like every termstats consumer), snapshot id, shard
    * count, generation depth (docmap dirs — one per full build / append /
    * compaction), live corpus stats (numDocs, avgdl), and the positional
    * flag. docs/live/terms/postings are independently recomputable from
    * the staged token rows — the oracle-checkable core.
    * @return one row: (snapshot_id long, num_shards int, generations int,
    *         docs long, live_docs long, deleted_docs long, terms long,
    *         postings long, avgdl double, positional boolean) */
  def indexStats(spark: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val snap = SnapshotCatalog.require(spark, dir)
    require(snap.isComplete, s"snapshot ${snap.id} is not a complete index")
    val docs = Tables.docmap(spark, snap).count()
    // tombstone generations are disjoint by construction (deleteVictims
    // anti-joins already-dead rows), so the distributed count IS the mask
    // size — no driver-side materialization
    val deleted =
      if (snap.tombstoneDirs.isEmpty) 0L
      else Tables.tombstones(spark, snap.tombstoneDirs).count()
    val ts = Tables.termstats(spark, snap.termstatsDir)
      .agg(count(lit(1)).as("terms"), sum(col("df")).as("postings"))
      .as[(Long, Long)].head()
    Seq((snap.id, snap.numShards, snap.docmapDirs.size, docs, docs - deleted,
      deleted, ts._1, ts._2, snap.stats.avgdl, snap.positions))
      .toDF("snapshot_id", "num_shards", "generations", "docs", "live_docs",
        "deleted_docs", "terms", "postings", "avgdl", "positional")
  }

  /** Compact the CURRENT snapshot: merge every segment generation (full
    * build + appends, salted and unsalted runs) into ONE segment dir whose
    * blocks are rebuilt at the snapshot's current avgdl, purge tombstoned
    * postings and docmap rows, and re-derive termstats from the compacted
    * segments — one atomic commit, after which exact stored maxNorm
    * pruning bounds apply everywhere again and the tombstone mask is
    * empty. Scores are untouched (they depend only on tf/dl/df/avgdl, all
    * preserved), so query results stay bit-identical across a compaction.
    *
    * The rewrite decodes existing posting blocks instead of re-tokenizing
    * the corpus: one data-sized (shard, term, salt) shuffle — the same
    * SPIMI assembly shape as the build, minus staging. Ordinals are
    * preserved (never re-assigned), so doc_id↔ord stays stable and
    * appended batches' disjoint ord ranges keep concatenating. */
  def compact(spark: SparkSession, dir: String,
              cfgIn: BuildConfig = BuildConfig()): Snapshot = {
    import spark.implicits._
    val parent = SnapshotCatalog.require(spark, dir)
    require(parent.isComplete,
      s"compact requires a complete index (snapshot ${parent.id} is not)")
    val cfg = cfgIn.copy(numShards = parent.numShards)
    val newId = parent.id + 1
    val tag = s"c$newId"
    val avgdl = parent.stats.avgdl
    val t0 = System.nanoTime()
    val delMask = DeleteMask.forSnapshot(spark, parent)

    // salting hint from committed termstats (exact df, slim scan); the
    // ord-range salt formula matches buildGroup's so sub-runs stay
    // contiguous, disjoint ord ranges
    val heavy: Set[String] = Tables.termstats(spark, parent.termstatsDir)
      .filter(col("df") > cfg.heavyThreshold).select("term").as[String]
      .collect().toSet
    val heavyB = spark.sparkContext.broadcast(heavy)
    val docsPerShard = math.max(1L, parent.stats.numDocs / cfg.numShards)
    val saltSpan = math.max(1L, docsPerShard / cfg.saltBuckets)

    // decode committed runs → live tf rows (tombstones dropped here — the
    // only pass that touches posting data)
    val keepPositions = parent.positions
    val tf: Dataset[TfRow] = Tables.segments(spark, parent.segmentDirs)
      .as[SegRun].mapPartitions { runs =>
        runs.flatMap { r =>
          val dels = delMask(r.shard)
          val salted = heavyB.value.contains(r.term)
          r.blocks.iterator.flatMap { b =>
            val ords = Codec.decodeBlockDocs(b)
            val tfs = Codec.decodeBlockTfs(b)
            val dls = Codec.decodeBlockDls(b)
            // re-encoded per posting so surviving payloads transfer
            // verbatim into the compacted blocks (positions are doc-local:
            // deletes/ord preservation never change them)
            val poss = if (keepPositions) Codec.decodeBlockPositions(b, tfs) else null
            (0 until b.n).iterator
              .filter(i => dels.isEmpty ||
                java.util.Arrays.binarySearch(dels, ords(i)) < 0)
              .map { i =>
                val salt = if (salted) (ords(i) / saltSpan).toInt else 0
                TfRow(r.shard, r.term, salt, ords(i), dls(i), tfs(i),
                  if (poss == null) Array.emptyByteArray
                  else Codec.encodePositions(poss(i)))
              }
          }
        }
      }

    // assembly sized by total postings (slim termstats agg), same
    // memory-bounded-sort rule as the build
    val postings = Tables.termstats(spark, parent.termstatsDir)
      .agg(coalesce(sum(col("df")), lit(0L))).head().getLong(0)
    val parts = math.min(32768L, math.max(
      spark.sessionState.conf.numShufflePartitions.toLong,
      postings / 2000000L + 1)).toInt
    val segDir = s"$dir/segments/$tag"
    timed(spark, "compact:segments") {
      tf.repartition(parts, col("shard"), col("term"), col("salt"))
        .sortWithinPartitions("shard", "term", "salt", "ord")
        .mapPartitions(it => streamRuns(it, avgdl, keepPositions))
        .toDF()
        // same no-dictionary rationale as buildGroup's segment write
        .write.option("parquet.enable.dictionary", "false")
        .mode(SaveMode.Overwrite).parquet(segDir)
    }

    // live docmap: tombstoned rows purged, ords preserved
    val dmDir = s"$dir/docmap/$tag"
    timed(spark, "compact:docmap") {
      Tables.live(spark, parent, Tables.docmap(spark, parent))
        .write.mode(SaveMode.Overwrite).parquet(dmDir)
    }

    // termstats re-derived from the compacted segments (tombstones are
    // already purged, so the plain slim agg is exact — and must equal the
    // delete-updated stats, a cross-check the spec pins)
    val tsDir = s"$dir/termstats/$tag"
    timed(spark, "compact:termstats") {
      Tables.segments(spark, Seq(segDir))
        .groupBy("term").agg(sum(col("count")).as("df"), sum(col("cf")).as("cf"))
        .repartition(math.max(1, cfg.numShards / 8), col("term"))
        .sortWithinPartitions("term")
        .write.mode(SaveMode.Overwrite).parquet(tsDir)
    }

    // per-shard lineage over the compacted layout
    val buildMs = (System.nanoTime() - t0) / 1000000
    val segStats = Tables.segments(spark, Seq(segDir)).select("shard", "count")
      .groupBy("shard").agg(sum(col("count")).as("postings_count"))
    val linDir = s"$dir/lineage/$tag"
    timed(spark, "compact:lineage") {
      Tables.docmap(spark, Seq(dmDir), parent.docmapAdded)
        .withColumn("sha_long", expr("cast(conv(substring(sha256, 1, 15), 16, 10) as bigint)"))
        .groupBy("shard")
        .agg(count(lit(1)).as("doc_count"), expr("bit_xor(sha_long)").as("sha_xor"))
        .join(segStats, Seq("shard"), "left")
        .select(lit(newId).as("snapshot_id"), col("shard"),
          typedLit(parent.segmentDirs).as("input_files"),
          lpad(lower(hex(col("sha_xor"))), 16, "0").as("content_sha256"),
          col("doc_count"),
          coalesce(col("postings_count"), lit(0L)).as("postings_count"),
          lit(buildMs).as("build_ms"), lit(0L).as("skipped_rows"))
        .write.mode(SaveMode.Overwrite).parquet(linDir)
    }

    val snap = parent.copy(id = newId, parentId = parent.id,
      completedShards = 0 until cfg.numShards,
      segmentDirs = Seq(segDir), docmapDirs = Seq(dmDir),
      lineageDirs = parent.lineageDirs :+ linDir,
      termstatsDir = tsDir, tombstoneDirs = Nil, delmaskDir = "",
      timestampMs = System.currentTimeMillis())
    SnapshotCatalog.commit(spark, dir, snap)
    snap
  }
}
