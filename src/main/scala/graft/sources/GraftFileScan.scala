package graft.sources

import java.{util => ju}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{DataType, StructType}

import graft.lake.{FileAction, LakeTable, Snapshot}

/** One live data file as the executor-side reader needs it: absolute path,
  * the commit-log-relative identity DV sidecars key on, the typed
  * partition-column constant (null when the table is unpartitioned), the
  * file's DV sidecar parquet files (listed on the driver at plan time),
  * and — for additively evolved tables — which of the scan's file columns
  * are physically present in THIS file (`null` = all of them, the common
  * case; a file older than an added column surfaces nulls for it).
  * `narrow`: for type-WIDENED tables, the physical type each file column
  * has in THIS file (`null` = all match the declared schema); the reader
  * reads at the narrow type and up-converts per value. */
case class ScanFileDesc(abs: String, rel: String, partVal: Any,
    dvFiles: Array[String], present: Array[Boolean] = null,
    narrow: Array[DataType] = null)

/** General DSv2 batch scan for graft CoW snapshots — the default catalog
  * read path when no merge is needed (un-bucketed tables, or projections
  * the bucket scan can't serve). Files are read with Spark's vectorized
  * parquet reader, deletion-vector'd positions skipped in-stream, columns
  * projected explicitly, and dir-derived columns (the partition column or
  * `_bucket`) appended as per-file constants — the same mechanics as
  * [[GraftBucketScan]] without the bucket contract.
  *
  * Being a REAL v2 Batch (not a `V1Scan`) is load-bearing for planning:
  * Spark wraps `V1Scan` in `V1ScanWrapper` during early scan push-down,
  * which hides `SupportsReportStatistics` from
  * `DataSourceV2ScanRelation.computeStats` — so a V1-served table can
  * never feed row counts or ANALYZE column stats (NDV / null counts) to
  * the cost-based optimizer. This scan reports them directly, which is
  * what lets a multi-fact join reorder onto the selective dimension
  * first. File-level skipping for pushed filters happens at plan time in
  * the scan builder (commit-log stats), and every filter is re-applied by
  * Spark above the scan, so partial pruning is always sound.
  *
  * Two more planning hooks the V1 path could never offer:
  *
  *  - '''Runtime (dynamic) file pruning''' — `SupportsRuntimeFiltering`
  *    on the record key, the partition column and every declared stats
  *    column: when Spark's dynamic-pruning subquery delivers the join
  *    side's values (the lake analog of dynamic partition pruning), the
  *    scan re-prunes its file list against commit-log stats BEFORE any
  *    task launches — a star join touches only the fact files that can
  *    contain the dimension's keys.
  *  - '''Limit push-down''' — a bare `LIMIT n` (no residual filters)
  *    plans a file PREFIX whose commit-log row counts already cover `n`
  *    and each task stops after `n` emitted rows; `SELECT * FROM t LIMIT
  *    10` opens one file, not the table. Partial push-down: Spark keeps
  *    the global limit above.
  *
  * Input partitions are files bin-packed to `maxPartitionBytes` using the
  * commit log's byte stats — no filesystem listing at plan time beyond DV
  * sidecar dirs. */
class GraftFileScan private[graft] (table: LakeTable, snap: Snapshot,
    files: Seq[(FileAction, ScanFileDesc)], required: StructType,
    fileSchema: StructType, outIdx: Array[Int], maxBytes: Long,
    limit: Option[Int], filterCols: Array[String],
    absentFill: Array[Any] = null)
  extends Scan with Batch with SupportsReportStatistics
  with SupportsRuntimeFiltering {

  private var current: Seq[(FileAction, ScanFileDesc)] = files

  override def readSchema(): StructType = required

  override def toBatch: Batch = this

  override def estimateStatistics(): Statistics =
    GraftScanStats.estimate(table, snap)

  override def filterAttributes(): Array[NamedReference] =
    filterCols.map(Expressions.column)

  override def filter(filters: Array[Filter]): Unit = {
    try {
      val kept = table.pruneByFilters(current.map(_._1), filters.toSeq, snap.shape)
        .map(_.path).toSet
      current = current.filter { case (a, _) => kept.contains(a.path) }
    } catch { case scala.util.control.NonFatal(_) => () }
  }

  override def planInputPartitions(): Array[InputPartition] = {
    // bare-LIMIT prefix: stop adding files once the commit-log live-row
    // counts (physical minus DV'd) already cover the limit — only offered
    // by the builder when no filter could reject rows above the scan
    val chosen: Seq[(FileAction, ScanFileDesc)] = limit match {
      case None => current
      case Some(n) =>
        val out = Seq.newBuilder[(FileAction, ScanFileDesc)]
        var acc = 0L
        val it = current.iterator
        while (acc < n && it.hasNext) {
          val fa = it.next()
          acc += math.max(0L, fa._1.rows - fa._1.dvRows)
          out += fa
        }
        out.result()
    }
    val groups = Seq.newBuilder[Array[ScanFileDesc]]
    val cur = Seq.newBuilder[ScanFileDesc]
    var curN = 0
    var acc = 0L
    chosen.foreach { case (a, d) =>
      val b = if (a.bytes > 0) a.bytes else maxBytes
      if (curN > 0 && acc + b > maxBytes) {
        groups += cur.result().toArray; cur.clear(); curN = 0; acc = 0L
      }
      cur += d; curN += 1; acc += b
    }
    if (curN > 0) groups += cur.result().toArray
    groups.result().map(g => GraftFileInputPartition(g): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    GraftFileReaderFactory(fileSchema, outIdx, limit, absentFill)
}

object GraftFileScan {
  /** `outIdx` sentinel: emit the file's partition/`_bucket` constant. */
  val PART_CONST: Int = -1
  /** `outIdx` sentinel: emit the file's `_file_name`. */
  val FILE_NAME_CONST: Int = -2
}

case class GraftFileInputPartition(files: Array[ScanFileDesc]) extends InputPartition

case class GraftFileReaderFactory(fileSchema: StructType, outIdx: Array[Int],
    limit: Option[Int], absentFill: Array[Any] = null)
  extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new GraftFileReader(p.asInstanceOf[GraftFileInputPartition], fileSchema,
      outIdx, limit.map(_.toLong).getOrElse(Long.MaxValue), absentFill)
}

/** Streams the partition's files through the vectorized reader, skipping
  * DV'd positions and projecting `outIdx` (−1 = this file's partition
  * constant, −2 = this file's `_file_name`) into the output row. Emits at
  * most `rowCap` rows (the pushed per-partition limit). */
private final class GraftFileReader(gp: GraftFileInputPartition,
    fileSchema: StructType, outIdx: Array[Int], rowCap: Long,
    absentFill: Array[Any] = null)
  extends PartitionReader[InternalRow] {

  private val cols: ju.List[String] = fileSchema.fieldNames.toSeq.asJava
  private val fileTypes: Array[DataType] = fileSchema.fields.map(_.dataType)
  private val out = new GenericInternalRow(outIdx.length)
  private val files = gp.files.iterator
  private val dv = new DvLookup
  private val cursor = new VectorizedFileRows(cols, None)
  private var partVal: Any = _
  private var fileName: Any = _
  private var emitted = 0L
  /** fileSchema index → position in THIS file's read list, −1 = absent
    * (emit null). Identity when the file carries every column. */
  private var srcPos: Array[Int] = Array.tabulate(fileSchema.length)(identity)
  private val identityPos = srcPos
  /** Per-column type to READ at for the current file (type widening: a
    * pre-widen file stores the narrow physical type) + the up-converter
    * into the declared type (null = identity). */
  private var readTypes: Array[DataType] = fileTypes
  private var convs: Array[Any => Any] = _

  /** Value-level widening converters (mirrors LakeTable.widens). */
  private def setFileTypes(narrow: Array[DataType]): Unit = {
    if (narrow == null) { readTypes = fileTypes; convs = null; return }
    readTypes = narrow
    convs = new Array[Any => Any](fileTypes.length)
    var i = 0
    while (i < fileTypes.length) {
      import org.apache.spark.sql.types._
      convs(i) = (narrow(i), fileTypes(i)) match {
        case (a, b) if a == b => null
        case (ByteType, ShortType) => v => java.lang.Short.valueOf(v.asInstanceOf[Byte])
        case (ByteType, IntegerType) => v => Integer.valueOf(v.asInstanceOf[Byte].toInt)
        case (ByteType | ShortType, IntegerType) => v => Integer.valueOf(v.asInstanceOf[Number].intValue)
        case (ByteType | ShortType | IntegerType, LongType) =>
          v => java.lang.Long.valueOf(v.asInstanceOf[Number].longValue)
        case (ByteType | ShortType | IntegerType | FloatType, DoubleType) =>
          v => java.lang.Double.valueOf(v.asInstanceOf[Number].doubleValue)
        case (_: DecimalType, t: DecimalType) =>
          // scale increase only (the widens() gate) — setScale is exact
          v => Decimal(v.asInstanceOf[Decimal].toJavaBigDecimal
            .setScale(t.scale), t.precision, t.scale)
        case (ByteType | ShortType | IntegerType | LongType, t: DecimalType) =>
          v => Decimal(java.math.BigDecimal.valueOf(v.asInstanceOf[Number].longValue)
            .setScale(t.scale), t.precision, t.scale)
        case (a, b) => throw new IllegalStateException(
          s"no widening from ${a.simpleString} to ${b.simpleString}")
      }
      i += 1
    }
  }

  private def fill(row: InternalRow): Unit = {
    var i = 0
    while (i < outIdx.length) {
      val src = outIdx(i)
      out.update(i,
        if (src == GraftFileScan.PART_CONST) partVal
        else if (src == GraftFileScan.FILE_NAME_CONST) fileName
        else {
          val p = srcPos(src)
          // physically-absent column: the existence default (null when none)
          if (p < 0) { if (absentFill == null) null else absentFill(src) }
          else {
            val v = row.get(p, readTypes(src))
            if (v == null || convs == null || convs(src) == null) v else convs(src)(v)
          }
        })
      i += 1
    }
  }

  override def next(): Boolean = {
    if (emitted >= rowCap) return false
    while (true) {
      if (!cursor.hasOpenFile) {
        if (!files.hasNext) return false
        val f = files.next()
        partVal = f.partVal
        // the V1 path's `_file_name` shape: the bare file name segment
        fileName = org.apache.spark.unsafe.types.UTF8String.fromString(
          f.abs.substring(f.abs.lastIndexOf('/') + 1))
        setFileTypes(f.narrow)
        if (f.present == null) {
          srcPos = identityPos
          cursor.open(f.abs, dv.deleted(f.rel, f.dvFiles))
        } else {
          // additive evolution: read only the columns this file has, emit
          // nulls for the rest
          val names = fileSchema.fieldNames
          val subset = new ju.ArrayList[String](names.length)
          srcPos = new Array[Int](names.length)
          var j = 0
          var k = 0
          while (j < names.length) {
            if (f.present(j)) { subset.add(names(j)); srcPos(j) = k; k += 1 }
            else srcPos(j) = -1
            j += 1
          }
          cursor.open(f.abs, dv.deleted(f.rel, f.dvFiles), subset)
        }
      }
      if (cursor.next()) { fill(cursor.get()); emitted += 1; return true }
      cursor.close()
    }
    false
  }

  override def get(): InternalRow = out

  override def close(): Unit = cursor.close()
}
