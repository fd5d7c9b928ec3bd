package graft.sources

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Encoders, Row, SaveMode, SparkSession}
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

  /** Only ever written under the dimension's lock. */
  private final class Entry {
    // read without the lock by `lacksAny`; only ever replaced, never mutated
    @volatile var ids: Array[Long] = Array.emptyLongArray
    var files: Set[String] = Set.empty
  }

  private val entries = SiriSnapshotEtl.dims.map(d => d.table -> new Entry).toMap

  /** Whether the id of some of `sighted` (keys-pass rows, as [[append]]
    * takes them) is not among the ids held for `d`. The ids held only grow
    * and are all stored, so `false` is final: [[append]] would write
    * nothing. */
  def lacksAny(d: SiriSnapshotEtl.Dim, sighted: Seq[Row]): Boolean =
    unheld(entries(d.table).ids, sighted).nonEmpty

  /** The rows of `sighted` whose id `ids` (sorted) lacks. */
  private def unheld(ids: Array[Long], sighted: Seq[Row]): Seq[Row] =
    sighted.filter(r => java.util.Arrays.binarySearch(ids, r.getAs[Long]("id")) < 0)

  /** Get-or-create for one dimension: of `sighted`, the batch's rows of
    * `d` from the collected keys pass ([[SiriSnapshotEtl.keys]]; `schema`
    * is theirs, [[SiriSnapshotEtl.keysSchema]]), append as one file the
    * rows whose id is not stored, and return those ids (sorted). The rows are a local relation
    * through [[SiriSnapshotEtl.dimTable]], so the append reads no visits.
    * A dimension with no new keys writes nothing.
    *
    * Under the dimension's lock it first lists the directory and reads
    * the ids of only the files it has neither read nor written: those of
    * another writer, or of an append that failed part-way. After its own
    * append succeeds it records the files the append created (the listing
    * difference across it) and the ids it appended, without reading them
    * back. Writers in other JVMs take no lock: one appending during this
    * append's window is not seen, and may store a key twice. */
  def append(d: SiriSnapshotEtl.Dim, sighted: Seq[Row], schema: StructType): Array[Long] = {
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
      val rows = unheld(e.ids, sighted)
      val fresh = DimIndex.union(Array.emptyLongArray, rows.map(_.getAs[Long]("id")).toArray)
      if (fresh.nonEmpty) {
        SiriSnapshotEtl.dimTable(spark.createDataFrame(rows.asJava, schema), d).coalesce(1)
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
