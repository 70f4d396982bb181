package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.compare.{Reports, Triples}

/** spark-submit-able entry points mirroring the reference CLI
  * (cli.py:29-80: `stream`, `stream-report`, `dump-to-sqlite`,
  * `available-reports`), wired file → parse → compare → report →
  * versioned sink.
  *
  * Usage (class graft.Cli via spark-submit):
  *   compare <triplesFile> <outDir>     batch: compare + versioned parquet
  *                                      + JSON-lines + console summary
  *   stream <inDir> <outDir> <ckptDir>  follow a directory of triple files,
  *                                      one versioned table per micro-batch
  *   dump <jsonl> <outDir>              re-ingest exported comparison JSON
  *                                      lines into the next versioned table
  *   report <outDir> [--export diff=<file>] [--export perf=<dir>]
  *                                      reports over the LATEST version;
  *                                      --export writes the DiffReport
  *                                      text file / PerformanceReport CSV
  *                                      (reference: cli.py stream_report
  *                                      --export-reports)
  *   available-reports                  list report names
  *   search <indexDir> <k> <words...>   BM25 top-k against a committed
  *                                      index; +/-  boolean, * prefix,
  *                                      ~ fuzzy, plain words OR-mode
  *   query <indexDir> <k> [--and] <text...>  simple_query_string (AND/OR/
  *                                      NOT, "phrase"~slop, prefix*,
  *                                      groups) on a positional index;
  *                                      --and = default_operator AND
  *   history <indexDir>                 snapshot history of an index
  *   stats <indexDir> [snapshotId]      deep index stats (_cat/indices analog)
  *   changes <indexDir> <from> <to>     doc-level changelog between snapshots
  *                                      (the Iceberg .snapshots analog)
  *   analyze <text...>                  _analyze: show analyzer output
  *   complete <indexDir> <n> <prefixes...>  completion suggester: top-n
  *                                      dictionary terms per prefix by df
  *   suggest <indexDir> <words...>      term suggester: per-word dictionary
  *                                      corrections (dist asc, df desc)
  *   suggest-phrase <indexDir> <words...>  phrase suggester (did-you-mean)
  *                                      + collate_match
  *   alias set <root> <name> <dirs...>  create/atomically repoint an alias
  *   alias rm <root> <name>             drop an alias (indexes untouched)
  *   alias list <root>                  _cat/aliases analog
  *   expire <indexDir> <retainLast>     expire old snapshots + GC orphaned
  *                                      data dirs (keeps the newest N)
  *   rollback <indexDir> <snapshotId>   roll the index back to a past
  *                                      snapshot's state (fresh commit)
  *
  * `stream` accepts the same --export flags; exports are written from the
  * latest versioned table when the streaming query terminates (the
  * reference exports when its stdin stream finishes).
  */
object Cli {

  /** `--export diff=<file> --export perf=<dir>` → Map(diff -> file, ...). */
  private[graft] def parseExports(rest: List[String]): Map[String, String] =
    rest.grouped(2).map {
      case List("--export", kv) if kv.count(_ == '=') >= 1 =>
        val Array(k, v) = kv.split("=", 2)
        require(k == "diff" || k == "perf", s"unknown report: $k (diff|perf)")
        k -> v
      case other => sys.error(s"bad export args: ${other.mkString(" ")}")
    }.toMap

  /** Write the requested exports from the LATEST versioned table (K3/K4
    * reachable from the CLI — the reference README's primary workflow). */
  private[graft] def runExports(spark: SparkSession, out: String,
                                exports: Map[String, String]): Unit =
    if (exports.nonEmpty) {
      val latest = Reports.latestVersion(spark, out).getOrElse {
        System.err.println(s"no comparisons_NNN tables under $out to export from")
        return
      }
      val flat = spark.read.parquet(f"$out/comparisons_$latest%03d")
      exports.get("diff").foreach { f =>
        java.nio.file.Files.writeString(java.nio.file.Paths.get(f),
          Reports.diffReportTextFlat(flat))
        println(s"DiffReport was exported to $f")
      }
      exports.get("perf").foreach { d =>
        Reports.exportPerformanceCsvFlat(flat, d)
        println(s"PerformanceReport was exported to $d")
      }
    }

  /** The `search` command's query dispatch — one CLI surface over the
    * whole retrieval family, keyed by query-string markers (the
    * OpenSearch query_string-lite discipline): any `+word`/`-word` →
    * boolean must/must_not; any `word*` → prefix wildcard; any `word~` →
    * fuzzy; plain words → OR-mode BM25. Returns (rank, score, repo,
    * path, doc_id) resolved against the docmap, rank ascending. */
  private[graft] def runSearch(spark: SparkSession, indexDir: String,
                               k: Int, words: Seq[String]): org.apache.spark.sql.DataFrame = {
    require(k > 0 && words.nonEmpty, "need k > 0 and a non-empty query")
    val text = words.mkString(" ")
    val q = Seq(graft.corpus.RefQuery(0, text))
    val hits =
      if (words.exists(w => w.length > 1 && (w.startsWith("+") || w.startsWith("-"))))
        graft.search.Wand.booleanSearch(spark, indexDir,
          Seq(graft.search.BoolQuery.parse(0, text)), k)
      else if (words.exists(w => w.length > 1 && w.endsWith("*")))
        graft.search.Wand.prefixSearch(spark, indexDir, q, k)
      else if (words.exists(w => w.length > 1 && w.endsWith("~")))
        graft.search.Wand.fuzzySearch(spark, indexDir, q, k)
      else graft.search.Wand.search(spark, indexDir, q, k)
    resolveHits(spark, indexDir, hits)
  }

  /** Resolve engine hits against the docmap into the CLI's display
    * shape — shared by every hit-returning command. */
  private def resolveHits(spark: SparkSession, indexDir: String,
                          hits: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val snap = graft.table.SnapshotCatalog.require(spark, indexDir)
    val dm = graft.table.Tables.docmap(spark, snap)
      .select(col("doc_id"), col("repo"), col("path"))
    hits.join(dm, "doc_id")
      .select(col("rank"), col("score"), col("repo"), col("path"), col("doc_id"))
      .orderBy("rank")
  }

  /** The `query` command: the full [[graft.search.SimpleQueryString]]
    * language (`+` AND, `|` OR, `-` NOT, `"phrase"~slop`, `prefix*`,
    * groups) against a POSITIONAL index, lenient like the OpenSearch
    * query — syntax errors never throw, an all-negative or empty query
    * returns no rows. `defaultAnd` is the `default_operator` flag. */
  private[graft] def runQuery(spark: SparkSession, indexDir: String,
                              k: Int, text: String,
                              defaultAnd: Boolean = false): org.apache.spark.sql.DataFrame = {
    require(k > 0, s"k must be positive: $k")
    resolveHits(spark, indexDir,
      graft.search.SimpleQueryString.search(spark, indexDir,
        Seq(0 -> text), k, defaultAnd))
  }

  private def session(): SparkSession = {
    val s = SparkSession.builder()
      .appName("graft-cli")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "compare" :: in :: out :: Nil =>
      val spark = session()
      // cached across the raw count and the parse (two actions over the
      // same files — without the cache the input is read twice)
      val lines = spark.read.textFile(in).persist()
      val total = lines.count()
      val cmp = Triples.compare(Triples.parse(spark, lines)).persist()
      val parsed = cmp.count()
      lines.unpersist(false) // cmp is materialized; the raw text is done
      if (total != parsed) // the skip-and-log contract (ST5)
        System.err.println(s"[graft] dropped ${total - parsed} malformed of $total lines")
      val version = Reports.dumpVersioned(cmp, out)
      Triples.toJsonLines(cmp).write.mode("overwrite").text(s"$out/comparisons_jsonl")
      println(Reports.formatSummary(Reports.correctness(cmp), Reports.performance(cmp)))
      println(s"wrote comparisons_$version and comparisons_jsonl under $out")
      spark.stop()

    case "stream" :: in :: out :: ckpt :: rest =>
      val spark = session()
      val exports = parseExports(rest)
      val q = graft.streaming.StreamingCompare.runFileStream(spark, in, out, ckpt)
      println(s"streaming $in -> $out (Ctrl-C to stop)")
      try q.awaitTermination()
      finally runExports(spark, out, exports) // at stream finish (ST3)

    // dump-to-sqlite analog (cli.py:60-66): re-read exported comparison
    // JSON lines and dump them as the next versioned results table
    case "dump" :: in :: out :: Nil =>
      val spark = session()
      val lines = spark.read.textFile(in).persist() // see compare
      val total = lines.count()
      val cmp = Triples.fromJsonLines(spark, lines).persist()
      val parsed = cmp.count()
      lines.unpersist(false)
      if (total != parsed)
        System.err.println(s"[graft] dropped ${total - parsed} malformed of $total lines")
      val version = Reports.dumpVersioned(cmp, out)
      println(s"wrote $parsed comparisons to comparisons_$version under $out")
      spark.stop()

    case "report" :: out :: rest =>
      val spark = session()
      val exports = parseExports(rest)
      val latest = Reports.latestVersion(spark, out).getOrElse {
        System.err.println(s"no comparisons_NNN tables under $out"); sys.exit(2)
      }
      val flat = spark.read.parquet(f"$out/comparisons_$latest%03d")
      println(s"report over comparisons_$latest (${flat.count()} rows)")
      println(Reports.formatSummary(Reports.correctnessFlat(flat), Reports.performanceFlat(flat)))
      runExports(spark, out, exports)
      spark.stop()

    case "available-reports" :: Nil =>
      println("DiffReport            correctness summary + per-mismatch unified diff")
      println("PerformanceReport     latency percentiles per cluster (+ CSV export)")

    // BM25 retrieval against a committed index: plain words → OR;
    // +word/-word → boolean; word* → prefix; word~ → fuzzy
    case "search" :: indexDir :: k :: qWords
        if k.toIntOption.exists(_ > 0) && qWords.nonEmpty =>
      val spark = session()
      runSearch(spark, indexDir, k.toInt, qWords).show(k.toInt, false)
      spark.stop()

    // simple_query_string over a positional index; --and flips the
    // default operator (OpenSearch default_operator: AND)
    case "query" :: indexDir :: k :: rest
        if k.toIntOption.exists(_ > 0) && rest.filterNot(_ == "--and").nonEmpty =>
      val spark = session()
      val defaultAnd = rest.contains("--and")
      val text = rest.filterNot(_ == "--and").mkString(" ")
      runQuery(spark, indexDir, k.toInt, text, defaultAnd).show(k.toInt, false)
      spark.stop()

    // index-lifecycle maintenance over the snapshot catalog
    case "history" :: indexDir :: Nil =>
      val spark = session()
      graft.table.SnapshotCatalog.history(spark, indexDir)
        .orderBy("id").show(10000, false)
      spark.stop()

    case "stats" :: indexDir :: rest if rest.size <= 1 &&
        rest.forall(_.toLongOption.exists(_ >= 0)) =>
      val spark = session()
      graft.table.SnapshotCatalog.describe(spark, indexDir,
        rest.headOption.map(_.toLong).getOrElse(-1L)).show(false)
      spark.stop()

    case "changes" :: indexDir :: from :: to :: Nil
        if from.toLongOption.exists(_ >= 0) && to.toLongOption.exists(_ >= 0) =>
      val spark = session()
      graft.table.SnapshotCatalog.changes(spark, indexDir, from.toLong, to.toLong)
        .orderBy("change", "doc_id").show(10000, false)
      spark.stop()

    // the _analyze API: show what an analysis chain does to text.
    // `--chain <spec>` selects a configured chain (AnalyzerConfig.spec
    // form, e.g. 'stop=a,the;stem=porter'); default = bare tokenizer.
    case "analyze" :: "--chain" :: spec :: words if words.nonEmpty =>
      graft.analyze.AnalyzerConfig.parse(spec).analyze(words.mkString(" "))
        .zipWithIndex.foreach { case (t, i) => println(f"$i%4d  $t") }
    case "analyze" :: words if words.nonEmpty =>
      graft.analyze.Tokenizer.tokenize(words.mkString(" "))
        .zipWithIndex.foreach { case (t, i) => println(f"$i%4d  $t") }

    // completion suggester: dictionary autocompletions by popularity
    case "complete" :: indexDir :: n :: prefixes
        if n.toIntOption.exists(_ > 0) && prefixes.nonEmpty =>
      val spark = session()
      graft.search.Wand.complete(spark, indexDir, prefixes, n.toInt)
        .orderBy("prefix", "rank").show(10000, false)
      spark.stop()

    // suggesters: `suggest` = per-word term corrections (dist, df rank);
    // `suggest-phrase` = did-you-mean over the whole phrase + collation
    case "suggest" :: indexDir :: words if words.nonEmpty =>
      val spark = session()
      graft.search.Wand.suggest(spark, indexDir, words)
        .orderBy("word", "rank").show(10000, false)
      spark.stop()

    case "suggest-phrase" :: indexDir :: words if words.nonEmpty =>
      val spark = session()
      graft.search.Wand.phraseSuggest(spark, indexDir,
        Seq(graft.corpus.RefQuery(0, words.mkString(" "))))
        .select("suggestion", "changed", "collate_match").show(false)
      spark.stop()

    // alias maintenance (the _aliases API): atomic repoint + listing.
    // `search` accepts an alias via alias:<root>/<name> — see below.
    case "alias" :: "set" :: root :: name :: targets if targets.nonEmpty =>
      val spark = session()
      graft.table.Aliases.set(spark, root, name, targets)
      println(s"alias '$name' -> ${targets.mkString(", ")}")
      spark.stop()

    case "alias" :: "rm" :: root :: name :: Nil =>
      val spark = session()
      val removed = graft.table.Aliases.remove(spark, root, name)
      println(if (removed) s"alias '$name' removed" else s"no such alias: $name")
      spark.stop()

    case "alias" :: "list" :: root :: Nil =>
      val spark = session()
      graft.table.Aliases.list(spark, root).orderBy("alias", "target").show(10000, false)
      spark.stop()

    case "expire" :: indexDir :: retain :: Nil if retain.toIntOption.exists(_ >= 1) =>
      val spark = session()
      val r = graft.table.SnapshotCatalog.expireSnapshots(spark, indexDir, retain.toInt)
      println(s"expired ${r.expiredIds.size} snapshots" +
        (if (r.expiredIds.nonEmpty) s" (${r.expiredIds.mkString(", ")})" else "") +
        s"; deleted ${r.deletedDirs.size} data dirs")
      spark.stop()

    case "rollback" :: indexDir :: id :: Nil if id.toLongOption.isDefined =>
      val spark = session()
      val snap = graft.table.SnapshotCatalog.rollback(spark, indexDir, id.toLong)
      println(s"rolled back to the state of snapshot $id as new snapshot ${snap.id}")
      spark.stop()

    case other =>
      System.err.println(s"unknown command: ${other.mkString(" ")}")
      System.err.println("usage: compare <in> <out> | stream <in> <out> <ckpt> [exports] | " +
        "dump <jsonl> <out> | report <out> [exports] | available-reports | " +
        "search <indexDir> <k> <words...> | " +
        "history <indexDir> | stats <indexDir> [id] | " +
        "analyze <text...> | complete <indexDir> <n> <prefixes...> | " +
        "alias set <root> <name> <dirs...> | alias rm <root> <name> | " +
        "alias list <root> | " +
        "changes <indexDir> <from> <to> | " +
        "expire <indexDir> <retainLast> | rollback <indexDir> <id>\n" +
        "  exports: [--export diff=<file>] [--export perf=<csvdir>]")
      sys.exit(2)
  }
}
