package graft.table

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The one reader of each snapshot table. Each declares the schema its
  * writer uses, the way an Iceberg table keeps its schema in metadata:
  * no read here works a schema out again from the parquet footers (one
  * Spark job per read), except the docmap of a manifest written before
  * [[Snapshot.docmapAdded]] existed. The module also owns the one
  * liveness rule ([[live]]) and the one (shard, ord) join key
  * ([[withAddr]]).
  *
  * | table      | columns                                         | writer |
  * |------------|-------------------------------------------------|--------|
  * | segments   | [[graft.index.SegRun]]                          | build group, compact |
  * | docmap     | [[DocmapSchema]] + the snapshot's added columns | build group, update, compact |
  * | termstats  | (term, df, cf)                                  | finalize, delete, compact |
  * | tombstones | (shard, ord, doc_id, dl)                        | delete |
  * | staging    | [[StagedSchema]], partitioned by shard          | stage, append batch |
  * | deadletter | [[graft.corpus.SourceFile]]                     | stage, append batch |
  */
object Tables {

  private val SegmentSchema: StructType = Encoders.product[graft.index.SegRun].schema

  /** The docmap's core columns; [[graft.index.IndexBuilder.updateMetadata]]
    * may add more, recorded in [[Snapshot.docmapAdded]]. */
  val DocmapSchema: StructType = StructType(Seq(
    StructField("shard", IntegerType), StructField("ord", LongType),
    StructField("doc_id", StringType), StructField("repo", StringType),
    StructField("path", StringType), StructField("commit", StringType),
    StructField("lang", StringType), StructField("sha256", StringType),
    StructField("dl", LongType)))

  private val TermstatsSchema: StructType = StructType(Seq(
    StructField("term", StringType), StructField("df", LongType),
    StructField("cf", LongType)))

  val TombstoneSchema: StructType = StructType(Seq(
    StructField("shard", IntegerType), StructField("ord", LongType),
    StructField("doc_id", StringType), StructField("dl", LongType)))

  /** The staged-row schema; `shard` is the partition column. Declared, so
    * an empty staging dir (a batch that dedupes to nothing) reads too. */
  private val StagedSchema: StructType = StructType(Seq(
    StructField("doc_id", StringType), StructField("repo", StringType),
    StructField("path", StringType), StructField("commit", StringType),
    StructField("lang", StringType), StructField("sha256", StringType),
    StructField("dl", LongType), StructField("tokens", ArrayType(StringType)),
    StructField("ord", LongType), StructField("shard", IntegerType)))

  private val SourceSchema: StructType = Encoders.product[graft.corpus.SourceFile].schema

  private def read(spark: SparkSession, schema: StructType, dirs: Seq[String]): DataFrame =
    spark.read.schema(schema).parquet(dirs: _*)

  def segments(spark: SparkSession, dirs: Seq[String]): DataFrame =
    read(spark, SegmentSchema, dirs)

  /** The snapshot's docmap: every generation, core plus added columns (null
    * in a generation written before the column was added). */
  def docmap(spark: SparkSession, snap: Snapshot): DataFrame =
    docmap(spark, snap.docmapDirs, snap.docmapAdded)

  /** Docmap `dirs` with `added` columns; `None` (a manifest older than the
    * field) infers the schema. */
  def docmap(spark: SparkSession, dirs: Seq[String],
             added: Option[Seq[(String, String)]]): DataFrame = added match {
    case Some(cols) => read(spark, StructType(DocmapSchema.fields ++
      cols.map { case (n, t) => StructField(n, DataType.fromDDL(t)) }), dirs)
    case None => spark.read.parquet(dirs: _*)
  }

  /** `(name, DDL type)` of the columns `df` carries beyond the docmap core. */
  def addedColumns(df: DataFrame): Seq[(String, String)] =
    df.schema.fields.toSeq.filterNot(f => DocmapSchema.fieldNames.contains(f.name))
      .map(f => f.name -> f.dataType.sql)

  def termstats(spark: SparkSession, dir: String): DataFrame =
    read(spark, TermstatsSchema, Seq(dir))

  def tombstones(spark: SparkSession, dirs: Seq[String]): DataFrame =
    read(spark, TombstoneSchema, dirs)

  /** One staging root (the full build's or one append batch's). */
  def staging(spark: SparkSession, path: String): DataFrame =
    read(spark, StagedSchema, Seq(path))

  /** Every staged row of the index at `dir` (full build + all appended
    * batches) — the durable per-doc token record that term deltas,
    * reindex and the token-reading search ops recompute from. One read per
    * staging root, unioned: each root is independently shard-partitioned,
    * and multi-root partition discovery rejects "conflicting directory
    * structures". Includes tombstoned and superseded rows — callers mask
    * them with [[live]]. */
  def staged(spark: SparkSession, dir: String): DataFrame =
    stagingDirs(spark, dir).map(staging(spark, _)).reduceOption(_ unionByName _)
      .getOrElse(throw new IllegalStateException(s"no staging dirs under $dir"))

  /** All staging roots under the index: the full-build staging plus one per
    * appended batch. Never GC'd by compaction. */
  def stagingDirs(spark: SparkSession, dir: String): Seq[String] = {
    val base = new Path(dir)
    val f = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(base)) Nil
    else f.listStatus(base).map(_.getPath).collect {
      case p if p.getName == "staging" || p.getName.startsWith("staging_") => p.toString
    }.toSeq
  }

  def deadletter(spark: SparkSession, path: String): DataFrame =
    read(spark, SourceSchema, Seq(path))

  /** The one liveness rule: the rows of `frame` (which carries shard and
    * ord) whose document `snap` has not tombstoned. Posting decode masks
    * deletes itself ([[graft.index.DeleteMask]]); every docmap or staging
    * read that must see live documents only goes through here. */
  def live(spark: SparkSession, snap: Snapshot, frame: DataFrame): DataFrame =
    if (snap.tombstoneDirs.isEmpty) frame
    else withAddr(frame)
      .join(withAddr(tombstones(spark, snap.tombstoneDirs)).select("addr"), Seq("addr"),
        "left_anti")
      .drop("addr")

  /** Ords per shard in one [[withAddr]] key. */
  private val OrdsPerShard = 1L << 32

  /** `df` with `addr` = shard × 2^32 + ord: the one long key for (shard,
    * ord) joins. A broadcast hash join on one long key builds a map sized
    * by its rows; on the two columns it builds a byte map on a whole
    * memory page (32 MB at a 4 GB heap), which the executor keeps until
    * the broadcast is cleaned. An ord past 2^32 fails the query rather
    * than alias another shard's address. */
  private def withAddr(df: DataFrame): DataFrame =
    df.withColumn("addr",
      when(col("ord") < OrdsPerShard, col("shard").cast("long") * OrdsPerShard + col("ord"))
        .otherwise(raise_error(lit(s"ord past $OrdsPerShard in one shard"))))

  /** `left` joined to `right` on [[withAddr]]: the columns of a join
    * `using (shard, ord)` — shard, ord, then the rest of each side. Wrap
    * `right` in `broadcast` to broadcast it. */
  def onAddr(left: DataFrame, right: DataFrame): DataFrame = {
    val joined = withAddr(left)
      .join(withAddr(right).drop("shard", "ord"), Seq("addr")).drop("addr")
    val rest = joined.columns.toSeq.filterNot(c => c == "shard" || c == "ord")
    joined.select((Seq("shard", "ord") ++ rest).map(c => col(s"`$c`")): _*)
  }
}
