package graft.search

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.TestSpark
import graft.corpus.CorpusGen
import graft.index.{BuildConfig, IndexBuilder}

/** The nested query + inner_hits (the OpenSearch nested-DOCUMENT
  * model): golden-identical parent ranking across every score_mode,
  * inner hits ranked independently of the engine's array fold, and the
  * docmap liveness discipline after deletes. */
class NestedSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val numDocs = 600L
  val k = 10
  val innerK = 3

  // nested corpus: each parent doc carries 1-3 nested rows (overlapping
  // slices of its own text). Paths are arbitrary strings here, so the
  // hidden parent pointer is carried IN the nested row's path
  // ("N::<parent-path>::<slot>") and recovered with a split expression —
  // the key is any Catalyst expression, like has_child's.
  lazy val corpus = CorpusGen.corpus(spark, numDocs, seed = 77L).cache()
  lazy val nestedCorpus = {
    val base = corpus.toDF()
    val nested = base
      .withColumn("slot", explode(sequence(lit(0),
        pmod(xxhash64($"path"), lit(3L)).cast("int"))))
      .withColumn("content", expr("substring(content, slot * 50 + 1, 100)"))
      .withColumn("path", concat(lit("N::"), $"path", lit("::"), $"slot"))
      .withColumn("repo", lit("nested"))
      .drop("slot")
    base.unionByName(nested)
      .as(org.apache.spark.sql.Encoders.product[graft.corpus.SourceFile])
  }
  lazy val dir = TestSpark.tempDir("graft-nested")
  lazy val snap = IndexBuilder.build(spark, nestedCorpus, dir,
    BuildConfig(numShards = 4, commitEvery = 4))

  val nestedF = col("repo") === "nested"
  val parentF = col("repo") =!= "nested"
  val nestedKey = element_at(split(col("path"), "::"), 2)
  val parentKey = col("path")

  lazy val qs = Seq(graft.corpus.RefQuery(0, "spark query"),
    graft.corpus.RefQuery(1, "filter join group"))

  // exact full-corpus scores (nested rows are real index docs — stats
  // include them), restricted to nested rows, keyed to their parent
  lazy val docsAll = nestedCorpus.select(
    IndexBuilder.docIdCol.as("doc_id"), $"content")
  lazy val meta = nestedCorpus.select(
    IndexBuilder.docIdCol.as("doc_id"), $"repo", $"path")
  lazy val nAll = nestedCorpus.count().toInt
  lazy val full = Golden.topK(spark, docsAll, qs, nAll).join(meta, "doc_id")
    .cache()
  lazy val goldenNested = full.filter(nestedF)
    .select($"query_id", nestedKey.as("pkey"), $"doc_id".as("child_id"),
      $"score")
  lazy val goldenParents = meta.filter(parentF)
    .select(parentKey.cast("string").as("pkey"), $"doc_id")

  private def assertSame(got: org.apache.spark.sql.DataFrame,
                         exp: org.apache.spark.sql.DataFrame,
                         keys: Seq[String], tag: String): Unit = {
    val cols = got.columns
    val cmp = keys.foldLeft(exp.select(cols.toIndexedSeq.map(c => col(c).as(s"g_$c")): _*)) {
        (df, kc) => df.withColumnRenamed(s"g_$kc", kc)
      }.join(got, keys, "full_outer")
    val bad = cols.filterNot(keys.contains)
      .map(c => col(s"g_$c").isNull || col(c).isNull || col(s"g_$c") =!= col(c))
      .reduce(_ || _)
    assert(cmp.filter(bad).count() == 0, tag)
  }

  test("nested: golden-identical parents + independently ranked inner hits") {
    val w = Window.partitionBy($"query_id")
      .orderBy($"score".desc, $"doc_id".asc)
    // inner-hits expectation ranked by a WINDOW over the raw golden
    // nested scores — independent of the engine's array_sort/slice fold
    val wInner = Window.partitionBy($"query_id", $"pkey")
      .orderBy($"score".desc, $"child_id".asc)
    val expInner = goldenNested
      .withColumn("inner_rank", row_number().over(wInner))
      .filter($"inner_rank" <= innerK)
      .select($"query_id", $"pkey", $"inner_rank".cast("int").as("inner_rank"),
        $"child_id".as("nested_id"), $"score".as("inner_score"))
    for (mode <- Seq("avg", "sum", "min", "max", "none")) {
      val got = Nested.searchSnapshot(spark, snap, qs, k, mode,
        nestedF, parentF, nestedKey, parentKey, innerHitsK = innerK)
      val expParents = Wand.hasChildCombined(goldenNested, mode)
        .join(goldenParents, Seq("pkey"))
        .withColumn("rank", row_number().over(w)).filter($"rank" <= k)
      val exp = expParents.join(expInner, Seq("query_id", "pkey"))
        .select($"query_id", $"rank", $"doc_id", $"score",
          $"n_children".as("n_nested"), $"inner_rank", $"nested_id",
          $"inner_score")
      assertSame(got, exp, Seq("query_id", "rank", "inner_rank"),
        s"nested mode=$mode")
    }
  }

  test("nested: inner hit count = min(n_nested, innerHitsK); big K returns all") {
    val got = Nested.searchSnapshot(spark, snap, qs, k, "avg",
      nestedF, parentF, nestedKey, parentKey, innerHitsK = 1000)
    val perParent = got.groupBy($"query_id", $"rank")
      .agg(max($"n_nested").as("n"), count(lit(1)).as("hits"),
        max($"inner_rank").as("maxr"))
    assert(perParent.filter($"n" =!= $"hits" || $"maxr" =!= $"n").count() == 0)
    // and inner scores are exactly the golden per-doc scores
    val joined = got.join(
      goldenNested.select($"query_id", $"child_id".as("nested_id"),
        $"score".as("g_score")), Seq("query_id", "nested_id"))
    assert(joined.filter($"inner_score" =!= $"g_score").count() == 0)
    assert(joined.count() == got.count())
  }

  test("nested: deletes mask parents and shrink folds (liveness)") {
    val dirD = TestSpark.tempDir("graft-nested-del")
    val snapD0 = IndexBuilder.build(spark, nestedCorpus, dirD,
      BuildConfig(numShards = 4, commitEvery = 4))
    val before = Nested.searchSnapshot(spark, snapD0, qs, nAll, "sum",
      nestedF, parentF, nestedKey, parentKey, innerHitsK = 1000)
      .select($"query_id", $"doc_id", $"n_nested", $"nested_id").cache()
    // pick the #1 parent of query 0 and one of its nested rows
    val victimParent = before.filter($"query_id" === 0)
      .join(meta.select($"doc_id", $"path"), "doc_id")
      .orderBy($"n_nested".desc).select($"path").as[String].head()
    val victimNested = before.filter($"query_id" === 0)
      .join(meta.select($"doc_id", $"path"), "doc_id")
      .filter($"path" === victimParent)
      .join(meta.select($"doc_id".as("nested_id"), $"path".as("npath")),
        "nested_id")
      .select($"npath").as[String].head()
    val nBefore = before.filter($"query_id" === 0)
      .join(meta.select($"doc_id", $"path"), "doc_id")
      .filter($"path" === victimParent)
      .select($"n_nested").as[Long].head()
    // delete one NESTED row: the parent's fold must shrink by exactly 1
    IndexBuilder.delete(spark, dirD, col("path") === victimNested)
    val snapD1 = graft.table.SnapshotCatalog.load(spark, dirD).get
    val mid = Nested.searchSnapshot(spark, snapD1, qs, nAll, "sum",
      nestedF, parentF, nestedKey, parentKey, innerHitsK = 1000)
      .join(meta.select($"doc_id", $"path"), "doc_id")
    val nAfter = mid.filter($"query_id" === 0 && $"path" === victimParent)
      .select($"n_nested").as[Long].head()
    assert(nAfter == nBefore - 1, s"fold must shrink: $nBefore -> $nAfter")
    assert(mid.filter($"nested_id".isin(
      meta.filter($"path" === victimNested).select("doc_id")
        .as[String].collect().toIndexedSeq: _*)).count() == 0)
    // delete the PARENT row: it must vanish from results entirely
    IndexBuilder.delete(spark, dirD, col("path") === victimParent)
    val snapD2 = graft.table.SnapshotCatalog.load(spark, dirD).get
    val after = Nested.searchSnapshot(spark, snapD2, qs, nAll, "sum",
      nestedF, parentF, nestedKey, parentKey, innerHitsK = 1000)
      .join(meta.select($"doc_id", $"path"), "doc_id")
    assert(after.filter($"path" === victimParent).count() == 0)
    before.unpersist()
  }

  test("nested: bad score_mode and non-positive K rejected") {
    intercept[IllegalArgumentException] {
      Nested.searchSnapshot(spark, snap, qs, k, "mean",
        nestedF, parentF, nestedKey, parentKey)
    }
    intercept[IllegalArgumentException] {
      Nested.searchSnapshot(spark, snap, qs, 0, "avg",
        nestedF, parentF, nestedKey, parentKey)
    }
    intercept[IllegalArgumentException] {
      Nested.searchSnapshot(spark, snap, qs, k, "avg",
        nestedF, parentF, nestedKey, parentKey, innerHitsK = 0)
    }
  }
}
