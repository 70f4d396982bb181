package graft.index

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Distributed delete-tombstone mask: per-shard sorted-ord sidecar files,
  * written once at delete-commit time and read lazily INSIDE the task
  * that decodes the shard's postings — never collected to the driver,
  * never broadcast.
  *
  * Why not the Lucene-style driver-resident bitset (round 3's shape):
  * on a 1000-executor cluster with heavy delete churn the union of all
  * shards' tombstones routes through one driver `collect()` and is
  * re-broadcast on EVERY query — a driver-memory and driver-bandwidth
  * bottleneck proportional to total deletes, paid even by tasks that
  * touch one shard. The sidecar inverts that: each shard's mask is an
  * independent delta+varbyte file (the [[Codec]] posting discipline),
  * a task reads only its own shard's file, and a per-JVM cache makes the
  * read once-per-executor, not once-per-task.
  *
  * Layout: `<delmaskDir>/shard-NNNNN.del` = 8-byte big-endian count,
  * then varbyte delta-gaps of the ascending tombstoned ords (base 0).
  * Shards with no tombstones have no file. A delmask dir is cumulative
  * (ALL generations' tombstones) and immutable once its snapshot
  * manifest commits — which is what makes the JVM-wide cache safe.
  */
object DeleteMask {

  /** Hadoop `Configuration` is not `java.io.Serializable`; this wrapper
    * ships it inside task closures via its own writable form (the
    * standard pattern Spark itself uses for per-task filesystem access).
    */
  final class SerializableConf(@transient var value: Configuration)
      extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject()
      value.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      value = new Configuration(false)
      value.readFields(in)
    }
  }

  /** Task-side accessor: `mask(shard)` is the shard's sorted tombstoned
    * ords (empty when none). Serializable — capture it in the decode
    * closure instead of broadcasting a collected map. */
  sealed trait ShardMask extends Serializable {
    def apply(shard: Int): Array[Long]
    /** True iff NO shard has tombstones (lets hot loops skip the probe). */
    def isEmpty: Boolean
  }

  case object EmptyMask extends ShardMask {
    def apply(shard: Int): Array[Long] = Array.emptyLongArray
    val isEmpty: Boolean = true
  }

  final case class SidecarMask(dir: String, confW: SerializableConf)
      extends ShardMask {
    def apply(shard: Int): Array[Long] = cached(confW.value, dir, shard)
    val isEmpty: Boolean = false
  }

  // (delmaskDir, shard) -> decoded ords. Dirs are immutable once
  // committed, so entries never invalidate; the crude full clear bounds
  // memory across many test/lifecycle generations in one JVM.
  private val cache = new ConcurrentHashMap[(String, Int), Array[Long]]()
  private val CacheMaxEntries = 4096

  private def cached(conf: Configuration, dir: String, shard: Int): Array[Long] = {
    if (cache.size() > CacheMaxEntries) cache.clear()
    cache.computeIfAbsent((dir, shard), _ => readShard(conf, dir, shard))
  }

  private def shardPath(dir: String, shard: Int): Path =
    new Path(f"$dir%s/shard-$shard%05d.del")

  private def readShard(conf: Configuration, dir: String, shard: Int): Array[Long] = {
    val p = shardPath(dir, shard)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) Array.emptyLongArray
    else {
      val in = fs.open(p)
      val bytes = try in.readAllBytes() finally in.close()
      val n = java.nio.ByteBuffer.wrap(bytes, 0, 8).getLong
      require(n >= 0 && n <= Int.MaxValue, s"corrupt delmask header: $n")
      Codec.decodeDeltas(java.util.Arrays.copyOfRange(bytes, 8, bytes.length),
        n.toInt, 0L)
    }
  }

  private def writeShard(conf: Configuration, dir: String, shard: Int,
                         ords: Array[Long]): Unit = {
    val p = shardPath(dir, shard)
    val fs = p.getFileSystem(conf)
    val out = fs.create(p, true)
    try {
      val hdr = java.nio.ByteBuffer.allocate(8).putLong(ords.length.toLong).array()
      out.write(hdr)
      out.write(Codec.encodeDeltas(ords, 0L))
    } finally out.close()
  }

  /** Write the cumulative sidecar dir for `tombstoneDirs` (all
    * generations). One slim (shard, ord) exchange onto KeySpread preimage
    * keys — shard i lands alone in partition i — then each partition
    * streams its ascending ords straight into one file. Idempotent:
    * reruns overwrite; the dir is unreachable until the snapshot manifest
    * naming it commits. */
  def write(spark: SparkSession, delmaskDir: String,
            tombstoneDirs: Seq[String], numShards: Int): Unit = {
    import spark.implicits._
    require(tombstoneDirs.nonEmpty, "delmask write needs tombstone dirs")
    val confW = new SerializableConf(spark.sparkContext.hadoopConfiguration)
    val keys = graft.plans.KeySpread.preimages(numShards)
    val dirL = delmaskDir
    val root = new Path(delmaskDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(root, true)
    fs.mkdirs(root)
    graft.table.Tables.tombstones(spark, tombstoneDirs)
      .select(col("shard"), col("ord"))
      .withColumn("hkey", element_at(typedLit(keys.toSeq), col("shard") + 1))
      .repartition(numShards, col("hkey"))
      .sortWithinPartitions(col("shard"), col("ord"))
      .select(col("shard"), col("ord")).as[(Int, Long)]
      .foreachPartition { (it: Iterator[(Int, Long)]) =>
        val buf = it.buffered
        while (buf.hasNext) {
          val shard = buf.head._1
          val b = Array.newBuilder[Long]
          var prev = Long.MinValue // generations are disjoint; dedupe is belt-and-braces
          while (buf.hasNext && buf.head._1 == shard) {
            val o = buf.next()._2
            if (o != prev) b += o
            prev = o
          }
          writeShard(confW.value, dirL, shard, b.result())
        }
      }
  }

  /** The snapshot's mask. Snapshots committed by this version carry
    * `delmaskDir`; an older manifest with tombstones but no sidecars is
    * migrated once (distributed, marker-guarded) into a hidden `_mask`
    * subdir of its newest tombstone dir — underscore paths are invisible
    * to the parquet reads over that dir, and GC of the tombstone dir
    * reclaims the migration with it. */
  def forSnapshot(spark: SparkSession, snap: graft.table.Snapshot): ShardMask =
    if (snap.tombstoneDirs.isEmpty) EmptyMask
    else {
      val d =
        if (snap.delmaskDir.nonEmpty) snap.delmaskDir
        else migrate(spark, snap)
      SidecarMask(d, new SerializableConf(spark.sparkContext.hadoopConfiguration))
    }

  private def migrate(spark: SparkSession, snap: graft.table.Snapshot): String = {
    val d = s"${snap.tombstoneDirs.last}/_mask"
    val done = new Path(s"$d/_DONE")
    val fs = done.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(done)) {
      write(spark, d, snap.tombstoneDirs, snap.numShards)
      fs.create(done, true).close()
    }
    d
  }
}
