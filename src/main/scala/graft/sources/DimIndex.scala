package graft.sources

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions.broadcast
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.etl.SiriSnapshotEtl

/** The dimension keys a writer knows to be stored in the star at
  * `outDir`: the reference's ObjectsMaker cache (process_snapshot.py:51)
  * as an explicit value handed to each batch, never a hidden memo.
  * [[graft.streaming.SnapshotStream.start]] holds one for the life of its
  * query; [[SnapshotStorage.writeTables]]`(r, outDir)` builds one per call.
  *
  * Per dimension it holds the stored surrogate ids, sorted primitive
  * longs (8 B a key: ~0.8 MB for the ~100k keys of a benchmark star,
  * ~1.7 MB a day of ride-stops at 500 visits a minute), and the
  * dimension's files it has accounted for: read, or written by its own
  * appends. Surrogates are `xxhash64` of the natural key, so "is this key
  * stored" is a membership test on a `Long`.
  */
private[graft] final class DimIndex(spark: SparkSession, val outDir: String) {

  /** Only ever touched under the dimension's lock. */
  private final class Entry {
    var ids: Array[Long] = Array.emptyLongArray
    var files: Set[String] = Set.empty
  }

  private val entries = SiriSnapshotEtl.dims.map(d => d.table -> new Entry).toMap

  /** Get-or-create for one dimension: append the rows of `rows` whose id
    * is among `batchIds` and not stored, and return those ids (sorted).
    * A dimension with no new keys writes nothing.
    *
    * Under the dimension's lock it first lists the directory and reads
    * the ids of only the files it has neither read nor written: those of
    * another writer, or of an append that failed part-way. After its own
    * append succeeds it records the files the append created (the listing
    * difference across it) and the ids it appended, without reading them
    * back. Writers in other JVMs take no lock: one appending during this
    * append's window is not seen, and may store a key twice. */
  def append(d: SiriSnapshotEtl.Dim, rows: DataFrame, batchIds: Array[Long]): Array[Long] = {
    val dir = new Path(outDir, d.table)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val e = entries(d.table)
    DimIndex.lock(fs.makeQualified(dir).toString).synchronized {
      val listed = dataFiles(fs, dir)
      val unread = listed -- e.files
      if (unread.nonEmpty) {
        e.ids = DimIndex.union(e.ids, spark.read.schema(StructType(Seq(StructField(d.id, LongType))))
          .parquet(unread.toSeq: _*).as(Encoders.scalaLong).collect())
        e.files ++= unread
      }
      val fresh = DimIndex.union(Array.emptyLongArray,
        batchIds.filter(id => java.util.Arrays.binarySearch(e.ids, id) < 0))
      if (fresh.nonEmpty) {
        import spark.implicits._
        val ids = fresh.toSeq.toDF("id")
        rows.join(broadcast(ids), rows(d.id) === ids("id"), "left_semi")
          .write.mode(SaveMode.Append).parquet(dir.toString)
        e.files ++= dataFiles(fs, dir) -- listed
        e.ids = DimIndex.union(e.ids, fresh)
      }
      fresh
    }
  }

  /** The data files directly under `dir`, skipping what Spark skips. */
  private def dataFiles(fs: FileSystem, dir: Path): Set[String] =
    try fs.listStatus(dir).iterator
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
      .map(_.getPath.toString).toSet
    catch { case _: FileNotFoundException => Set.empty }
}

private[graft] object DimIndex {

  /** One lock per dimension table, so writers in one JVM append to it
    * one at a time: concurrent appends to one directory share its
    * `_temporary` dir, which the first job to commit deletes under the
    * others, and two racing get-or-creates would both append a key. */
  private val locks = new ConcurrentHashMap[String, AnyRef]()

  private def lock(table: String): AnyRef = locks.computeIfAbsent(table, _ => new AnyRef)

  /** `sorted` (sorted, distinct) merged with `more` (any order): sorted, distinct. */
  private def union(sorted: Array[Long], more: Array[Long]): Array[Long] = {
    val b = more.clone()
    java.util.Arrays.sort(b)
    val out = new Array[Long](sorted.length + b.length)
    var i = 0
    var j = 0
    var n = 0
    while (i < sorted.length || j < b.length) {
      val next =
        if (j == b.length || (i < sorted.length && sorted(i) <= b(j))) { i += 1; sorted(i - 1) }
        else { j += 1; b(j - 1) }
      if (n == 0 || out(n - 1) != next) { out(n) = next; n += 1 }
    }
    if (n == out.length) out else java.util.Arrays.copyOf(out, n)
  }
}
