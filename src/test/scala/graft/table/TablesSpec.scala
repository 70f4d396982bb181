package graft.table

import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkJobs, TestSpark}
import graft.corpus.CorpusGen
import graft.index.{BuildConfig, IndexBuilder}
import graft.search.Wand

/** The snapshot tables have one reader each ([[Tables]]), which declares
  * its schema: no read runs a schema-inference job, and no code outside
  * `graft.table` reads a table directory itself. */
class TablesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val corpus = CorpusGen.corpus(spark, 400L, seed = 5L).cache()
  private val cfg =
    BuildConfig(numShards = 4, commitEvery = 2, heavyThreshold = 200, saltBuckets = 4)

  test("a small build runs 26 Spark jobs") {
    corpus.count() // generating the corpus is not the build's work
    val c = SparkJobs.count(spark) {
      IndexBuilder.build(spark, corpus, TestSpark.tempDir("graft-jobs-build"), cfg)
    }
    assert(c.value.isComplete)
    assert(c.jobs == 26, s"${c.jobs} jobs")
  }

  test("a cold-memo search and its collect run at most 6 Spark jobs") {
    val snap = IndexBuilder.build(spark, corpus, TestSpark.tempDir("graft-jobs-search"), cfg)
    val queries = CorpusGen.queries(4, seed = 5L)
    val c = SparkJobs.count(spark)(Wand.searchSnapshot(spark, snap, queries, 10).collect())
    assert(c.value.nonEmpty)
    assert(c.jobs <= 6, s"${c.jobs} jobs")
  }

  /** The read calls in `src` whose path argument names a snapshot table. */
  private def tableReads(src: String): Seq[String] = {
    val call = """read\.(parquet|schema)\(""".r
    val table = ("segmentDirs|docmapDirs|tombstoneDirs|lineageDirs|termstatsDir|" +
      "stagingDir|stagingPath|deadletterDir|segDir|docmapDir|dmDir|tsDir").r
    // the text of the call's argument list, and of `.parquet(...)` after
    // a `read.schema(...)`
    def args(from: Int): (String, Int) = {
      var depth = 1
      var i = from
      while (i < src.length && depth > 0) {
        if (src(i) == '(') depth += 1 else if (src(i) == ')') depth -= 1
        i += 1
      }
      (src.substring(from, i), i)
    }
    call.findAllMatchIn(src).map { m =>
      val (a, end) = args(m.end)
      if (m.group(1) == "parquet") a
      else {
        val p = src.indexOf("parquet(", end)
        a + (if (p < 0) "" else args(p + "parquet(".length)._1)
      }
    }.filter(a => table.findFirstIn(a).isDefined).toSeq
  }

  test("no code outside graft.table reads a snapshot table directory") {
    assert(tableReads("spark.read.parquet(snap.docmapDirs: _*)").nonEmpty)
    assert(tableReads("spark.read.schema(s)\n  .parquet(stagingPath)").nonEmpty)
    assert(tableReads("spark.read.parquet(s\"$out/comparisons_001\")").isEmpty)
    val root = java.nio.file.Paths.get("src/main/scala")
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 20)
    val offenders = files.filterNot(_.toString.contains("/graft/table/")).flatMap { f =>
      tableReads(new String(java.nio.file.Files.readAllBytes(f), "UTF-8")).map(a => s"$f: $a")
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
