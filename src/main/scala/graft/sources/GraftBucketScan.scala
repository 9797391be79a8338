package graft.sources

import java.{util => ju}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.Expressions
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning}
import org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader
import org.apache.spark.sql.types.{DataType, IntegerType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.lake.{LakeTable, Snapshot, TableSpec}

/** One live file of a bucketed snapshot, as the executor-side reader needs
  * it: absolute path, the commit-log-relative identity DV sidecars key on,
  * the write-id parsed from the `_v=<id>/` dir (the merge tiebreak), the
  * log/tombstone flags, and the file's DV sidecar parquet files (listed on
  * the driver at plan time so executors never touch the filesystem for
  * metadata). */
case class BucketFileDesc(abs: String, rel: String, writeId: Long,
    log: Boolean, tombstone: Boolean, dvFiles: Array[String])

/** Latest-wins merge parameters for serving un-compacted MoR buckets:
  * ordinals of the record key and precombine column within the file-read
  * schema, plus their types (key must be hashable, precombine orderable —
  * the scan builder guarantees both before routing here). */
case class BucketMergeSpec(keyOrd: Int, keyType: DataType,
    pcOrd: Int, pcType: DataType)

/** DSv2 batch scan for hash-BUCKETED graft tables that reports
  * `KeyGroupedPartitioning` on the stored `_bucket` column — the half of
  * Spark's storage-partitioned join (SPJ) the source must supply. With
  * `spark.sql.sources.v2.bucketing.enabled=true` (plus
  * `spark.sql.requireAllClusterKeysForCoPartition=false`, since the
  * partition key `[_bucket]` is a subset of the join keys), a join of two
  * same-bucketed tables whose keys include `_bucket` plans with ZERO
  * shuffle on either side: each task reads bucket i of both tables and
  * joins in place — at 100 TB, the difference between a fact-fact join
  * that moves both tables over the network and one that moves nothing.
  *
  * One input partition per bucket id (ALL `buckets` ids, including empty
  * ones, so two tables always expose identical partition-value sets and
  * co-partitioning never falls back). Rows are read with Spark's own
  * vectorized parquet reader (row mode); the bucket id itself is not in
  * the data files (it is the dir layout) and is appended as a constant
  * partition value per reader — the same mechanism Spark's file source
  * uses.
  *
  * Row-level changes do NOT forfeit the SPJ (a production bucketed fact
  * table keeps its zero-shuffle join after a delete or an un-compacted
  * upsert):
  *  - deletion vectors are applied inside the partition reader — the DV
  *    sidecar's `(file, pos)` pairs for the bucket's files are loaded once
  *    per referenced sidecar dir and the reader skips those row positions
  *    while streaming (sidecar size ∝ deleted rows);
  *  - MoR logs are merged per bucket inside the reader: base rows without
  *    a log/tombstone entry stream through untouched, contested keys get
  *    the same latest-wins `(precombine, writeId)` resolution and
  *    tombstone filtering as the realtime DataFrame merge
  *    ([[graft.lake.LakeTable.realtime]]), using an in-task hash map
  *    sized by the BUCKET'S log volume — churn-bounded, the same
  *    assumption Hudi's log merge makes, and 1/numBuckets of it at that.
  * Only shallow-clone / converted-in-place snapshots (foreign base dirs)
  * and column-mapped tables still fall back to the general V1 path.
  */
class GraftBucketScan private[graft] (table: LakeTable, snap: Snapshot, numBuckets: Int,
    filesByBucket: Map[Int, Seq[BucketFileDesc]], required: StructType,
    fileSchema: StructType, outIdx: Array[Int], merge: Option[BucketMergeSpec])
  extends Scan with Batch with SupportsReportPartitioning
  with SupportsReportStatistics {

  override def readSchema(): StructType = required

  /** Commit-log table + ANALYZE column stats (see [[GraftScanStats]]) —
    * bucketed fact tables feed the CBO the same way the general file
    * scan does, so a bucketed multi-fact join still reorders onto the
    * selective dimension. */
  override def estimateStatistics(): Statistics =
    GraftScanStats.estimate(table, snap)

  override def toBatch: Batch = this

  override def outputPartitioning(): Partitioning =
    new KeyGroupedPartitioning(Array(Expressions.identity(TableSpec.BUCKET_COL)), numBuckets)

  override def planInputPartitions(): Array[InputPartition] =
    (0 until numBuckets).map { b =>
      GraftBucketInputPartition(b,
        filesByBucket.getOrElse(b, Seq.empty).toArray)
    }.toArray

  override def createReaderFactory(): PartitionReaderFactory =
    GraftBucketReaderFactory(fileSchema, required, outIdx, merge)
}

case class GraftBucketInputPartition(bucket: Int, files: Array[BucketFileDesc])
  extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = InternalRow(bucket)
}

case class GraftBucketReaderFactory(fileSchema: StructType, required: StructType,
    outIdx: Array[Int], merge: Option[BucketMergeSpec])
  extends PartitionReaderFactory {

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val gp = p.asInstanceOf[GraftBucketInputPartition]
    merge match {
      case Some(m) => new BucketMergeReader(gp, fileSchema, outIdx, m)
      case None => new BucketPlainReader(gp, fileSchema, outIdx)
    }
  }
}

/** Streams one parquet file at a time through Spark's vectorized reader
  * (row mode), skipping deletion-vector'd row positions. CORRECTED rebase
  * modes (the simple constructor's defaults) are exact for graft-written
  * files, which are always modern proleptic parquet. Position counting is
  * exact because the reader is unfiltered — every physical row surfaces,
  * in file order, matching the `_metadata.row_index` identity the DV
  * sidecars were keyed on at write. */
private final class VectorizedFileRows(defaultCols: ju.List[String],
    appendBucket: Option[(StructType, InternalRow)]) extends AutoCloseable {
  private var r: VectorizedParquetRecordReader = _
  private var dels: ju.HashSet[java.lang.Long] = _
  private var pos = -1L

  def open(path: String, deleted: ju.HashSet[java.lang.Long],
      cols: ju.List[String] = defaultCols): Unit = {
    close()
    val rd = new VectorizedParquetRecordReader(false, 4096)
    rd.initialize(path, cols)
    // the bucket id is dir metadata, not file data: append it as the
    // constant partition value (Spark file-source mechanism)
    appendBucket.foreach { case (st, pv) => rd.initBatch(st, pv) }
    r = rd
    dels = deleted
    pos = -1L
  }

  def hasOpenFile: Boolean = r != null

  def next(): Boolean = {
    while (r.nextKeyValue()) {
      pos += 1
      if (dels == null || !dels.contains(pos)) return true
    }
    false
  }

  def get(): InternalRow = r.getCurrentValue.asInstanceOf[InternalRow]

  override def close(): Unit = {
    if (r != null) { r.close(); r = null }
  }
}

/** Per-reader cache of DV sidecar contents: each referenced sidecar dir is
  * read ONCE per task (many files of a bucket share the dir their delete
  * commit wrote) and bucketed by file identity. Sidecar size ∝ deleted
  * rows, so the in-task maps stay small even on huge tables. */
private final class DvLookup {
  private val cache =
    mutable.HashMap.empty[String, ju.HashMap[String, ju.HashSet[java.lang.Long]]]

  def deleted(f: BucketFileDesc): ju.HashSet[java.lang.Long] =
    deleted(f.rel, f.dvFiles)

  def deleted(rel: String, dvFiles: Array[String]): ju.HashSet[java.lang.Long] =
    if (dvFiles.isEmpty) null
    else cache.getOrElseUpdate(dvFiles.mkString("\n"), loadAll(dvFiles)).get(rel)

  private def loadAll(files: Array[String]): ju.HashMap[String, ju.HashSet[java.lang.Long]] = {
    val out = new ju.HashMap[String, ju.HashSet[java.lang.Long]]()
    val cur = new VectorizedFileRows(ju.List.of("file", "pos"), None)
    try {
      files.foreach { p =>
        cur.open(p, null)
        while (cur.next()) {
          val row = cur.get()
          out.computeIfAbsent(row.getUTF8String(0).toString,
            _ => new ju.HashSet[java.lang.Long]()).add(row.getLong(1))
          ()
        }
      }
    } finally cur.close()
    out
  }
}

/** Plain bucket reader (no MoR logs): identity emission of the file-read
  * columns (+ the constant bucket id when requested), with DV positions
  * skipped in-stream. */
private final class BucketPlainReader(gp: GraftBucketInputPartition,
    fileSchema: StructType, outIdx: Array[Int])
  extends PartitionReader[InternalRow] {

  private val wantBucket = outIdx.nonEmpty && outIdx.last == -1
  private val files = gp.files.iterator
  private val dv = new DvLookup
  private val cursor = new VectorizedFileRows(
    fileSchema.fieldNames.toSeq.asJava,
    if (wantBucket)
      Some((StructType(Seq(StructField(TableSpec.BUCKET_COL, IntegerType))),
        InternalRow(gp.bucket)))
    else None)
  private var row: InternalRow = _

  override def next(): Boolean = {
    while (true) {
      if (!cursor.hasOpenFile) {
        if (!files.hasNext) return false
        val f = files.next()
        cursor.open(f.abs, dv.deleted(f))
      }
      if (cursor.next()) { row = cursor.get(); return true }
      cursor.close()
    }
    false
  }

  override def get(): InternalRow = row

  override def close(): Unit = cursor.close()
}

/** Surviving row for one contested key during the in-reader MoR merge. */
private final class BucketWinner(var pc: Any, var writeId: Long, var row: InternalRow)

/** MoR bucket reader: serves the same state as the realtime DataFrame merge
  * ([[graft.lake.LakeTable.realtime]]) for ONE bucket, entirely in-task:
  *
  *  1. tombstone logs → max tombstone write-id per key (`tombV`);
  *  2. data logs → latest-wins candidates (`winners`), tombstone-filtered
  *     on ingest (a row with `writeId <= tombV(key)` is dead on arrival —
  *     the same `WRITE_ID > TOMB_V` predicate the DataFrame path applies
  *     BEFORE its dedup, so a killed row can never mask a survivor);
  *  3. base files stream: keys outside the contested set (log ∪ tombstone
  *     keys) emit immediately with zero buffering; contested base rows
  *     join the winner resolution instead;
  *  4. the surviving winners emit last.
  *
  * Memory ∝ the bucket's log volume (churn-bounded — and 1/numBuckets of
  * the table's total churn), never the base data. Ties on precombine
  * resolve by write-id, matching `dedupLatest`'s
  * `max_by(struct(precombine, _v))`. */
private final class BucketMergeReader(gp: GraftBucketInputPartition,
    fileSchema: StructType, outIdx: Array[Int], m: BucketMergeSpec)
  extends PartitionReader[InternalRow] {

  private val cols: ju.List[String] = fileSchema.fieldNames.toSeq.asJava
  private val fileTypes: Array[DataType] = fileSchema.fields.map(_.dataType)
  private val out = new GenericInternalRow(outIdx.length)
  private val bucketVal: Any = Integer.valueOf(gp.bucket)

  private val tombV = new ju.HashMap[Any, java.lang.Long]()
  private val winners = new ju.HashMap[Any, BucketWinner]()
  private val contested = new ju.HashSet[Any]()

  private val dv = new DvLookup
  private val cursor = new VectorizedFileRows(cols, None)
  private var initialized = false
  private var baseFiles: Iterator[BucketFileDesc] = _
  private var curWriteId = 0L
  private var winnerIter: ju.Iterator[BucketWinner] = _

  /** Key as a map-hashable value. The scan builder restricts key types to
    * integral/string, whose boxed/UTF8String forms hash and compare by
    * value. The raw UTF8String may point into the column vector's reused
    * buffer — [[copyKey]] before storing, never for a transient probe. */
  private def keyOf(row: InternalRow): Any =
    if (row.isNullAt(m.keyOrd)) null else row.get(m.keyOrd, m.keyType)

  private def copyKey(k: Any): Any = k match {
    case s: UTF8String => s.clone()
    case v => v
  }

  /** Null-first total order — struct ordering treats null as smallest, so
    * a null precombine loses to any real one (matching `max_by`). */
  private def cmp(a: Any, b: Any): Int =
    if (a == null && b == null) 0
    else if (a == null) -1
    else if (b == null) 1
    else a.asInstanceOf[Comparable[Any]].compareTo(b)

  /** Latest-wins offer of a contested row (log or contested base). */
  private def offer(row: InternalRow, writeId: Long): Unit = {
    val k = keyOf(row)
    val tv = tombV.get(k)
    if (tv != null && writeId <= tv) return // killed by a newer tombstone
    val existing = winners.get(k)
    if (existing == null) {
      val copied = row.copy() // deep copy: the source row's buffer is reused
      winners.put(copyKey(k),
        new BucketWinner(copied.get(m.pcOrd, m.pcType), writeId, copied))
    } else {
      val c = cmp(row.get(m.pcOrd, m.pcType), existing.pc)
      if (c > 0 || (c == 0 && writeId > existing.writeId)) {
        val copied = row.copy()
        existing.pc = copied.get(m.pcOrd, m.pcType)
        existing.writeId = writeId
        existing.row = copied
      }
    }
  }

  /** Drain tombstone + data-log files and fix the contested key set —
    * tombstones FIRST and completely, so every later offer sees the final
    * `tombV` (a tombstone retro-kills lower-write-id rows regardless of
    * file order). */
  private def init(): Unit = {
    val (logFiles, bases) = gp.files.partition(_.log)
    val (tombFiles, dataLogs) = logFiles.partition(_.tombstone)
    tombFiles.foreach { f =>
      cursor.open(f.abs, dv.deleted(f))
      while (cursor.next()) {
        val k = copyKey(keyOf(cursor.get()))
        val prev = tombV.get(k)
        if (prev == null || f.writeId > prev) tombV.put(k, f.writeId)
        contested.add(k)
        ()
      }
    }
    dataLogs.foreach { f =>
      cursor.open(f.abs, dv.deleted(f))
      while (cursor.next()) {
        val row = cursor.get()
        val k = keyOf(row)
        if (!contested.contains(k)) { contested.add(copyKey(k)); () }
        offer(row, f.writeId)
      }
    }
    cursor.close()
    baseFiles = bases.iterator
    initialized = true
  }

  private def fill(row: InternalRow): Unit = {
    var i = 0
    while (i < outIdx.length) {
      val src = outIdx(i)
      out.update(i, if (src < 0) bucketVal else row.get(src, fileTypes(src)))
      i += 1
    }
  }

  override def next(): Boolean = {
    if (!initialized) init()
    while (winnerIter == null) {
      if (!cursor.hasOpenFile) {
        if (!baseFiles.hasNext) {
          winnerIter = winners.values().iterator()
        } else {
          val f = baseFiles.next()
          cursor.open(f.abs, dv.deleted(f))
          curWriteId = f.writeId
        }
      } else if (!cursor.next()) {
        cursor.close()
      } else {
        val row = cursor.get()
        if (contested.contains(keyOf(row))) offer(row, curWriteId)
        else { fill(row); return true }
      }
    }
    if (winnerIter.hasNext) { fill(winnerIter.next().row); true }
    else false
  }

  override def get(): InternalRow = out

  override def close(): Unit = cursor.close()
}
