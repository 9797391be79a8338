package graft.sql

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, And, AttributeReference, EqualTo, Expression, In, InSet, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import scala.util.control.NonFatal

import graft.lake.{FileAction, LakeTable, Snapshot}
import graft.sources.{GraftCatalogTable, GraftRelation}

/** Answer `count(*)`, `count(col)`, `min`/`max` and `sum` over a graft
  * table from commit-log stats — zero data files opened (Delta's
  * metadata-only query idea). At 100 TB this turns a full-table scan into
  * one driver-side metadata read.
  *
  * The rule rewrites an ungrouped aggregate to a `LocalRelation` when:
  *   - the scan is a plain snapshot read (no incremental/CDF window, no
  *     `_ro`/`_rt` view override), optionally time-traveled;
  *   - nothing between the aggregate and the scan but aliases/projections
  *     of the scan's own attributes (resolved by exprId, so a renaming
  *     projection bails out rather than answering for the wrong column)
  *     and partition-column `=`/`IN` filters;
  *   - every aggregate is bare and non-distinct with no FILTER clause,
  *     `min`/`max` over a type whose rendered footer form round-trips
  *     exactly (integral, float/double via Java's reversible toString,
  *     string, date, timestamp — graft writes files with parquet's default
  *     untruncated footer statistics), `sum` over integral or decimal;
  *   - [[answer]] finds the metadata exact for the resolved snapshot.
  *
  * Escape hatch: `spark.graft.metadataCount.enabled=false`.
  */
object GraftMetadataOnlyCount extends Rule[LogicalPlan] {

  /** One aggregate the commit log may answer. */
  private[graft] sealed trait Want
  private[graft] case object WantCount extends Want
  private[graft] case class WantExtreme(name: String, dt: DataType, isMin: Boolean) extends Want
  /** `SUM(col)` from stored per-file sums; `resultDt` is Spark's Sum
    * result type (LongType for integral input, widened decimal for
    * decimal input) so the answered value matches the plan's type. */
  private[graft] case class WantSum(name: String, resultDt: DataType) extends Want
  /** `COUNT(col)` — non-null count from the same stored per-file pairs. */
  private[graft] case class WantNonNull(name: String) extends Want

  /** The shapes [[answer]] can ever take, decided from types alone so a
    * translator stops before it resolves a snapshot. */
  private[graft] object Want {
    // every round-tripping type parses "0"
    def extreme(name: String, dt: DataType, isMin: Boolean): Option[Want] =
      parse("0", dt).map(_ => WantExtreme(name, dt, isMin))
    def sum(name: String, resultDt: DataType): Option[Want] = resultDt match {
      case LongType | _: DecimalType => Some(WantSum(name, resultDt))
      case _ => None // float/double sums are order-dependent, never stored
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val spark = SparkSession.active
    if (!spark.conf.get("spark.graft.metadataCount.enabled", "true").toBoolean) return plan
    plan.transformUp {
      case agg @ Aggregate(Nil, aggs, child, _) if aggs.nonEmpty =>
        (for {
          (path, resolveAsOf, relOut, allowed) <- scanTarget(child)
          wants <- traverse(aggs)(classify(_, relOut))
          s <- snapshotOf(spark, path, resolveAsOf)
          rows <- answer(s, wants, None, allowed)
        } yield LocalRelation(agg.output, rows.map(InternalRow.fromSeq)))
          .getOrElse(agg)
    }
  }

  /** Decompose a filter condition into "partition attribute ∈ literal set"
    * — EqualTo / IN / InSet on ONE attribute, AND-composed. Values are
    * rendered to the stored partitionValue string form (exact for string
    * and integral types only). Anything else → None (rule bails). */
  private def partitionPredicate(cond: Expression,
      relOut: Seq[AttributeReference]): Option[(String, Set[String])] = {
    def lit2s(l: Literal): Option[String] = l match {
      case Literal(null, _) => None // = NULL matches nothing; bail
      case Literal(v: UTF8String, StringType) => Some(v.toString)
      case Literal(v, ByteType | ShortType | IntegerType | LongType) => Some(v.toString)
      case _ => None
    }
    def nameOf(a: AttributeReference): Option[String] =
      relOut.find(_.exprId == a.exprId).map(_.name)
    cond match {
      case EqualTo(a: AttributeReference, l: Literal) =>
        for { n <- nameOf(a); s <- lit2s(l) } yield (n, Set(s))
      case EqualTo(l: Literal, a: AttributeReference) =>
        for { n <- nameOf(a); s <- lit2s(l) } yield (n, Set(s))
      case In(a: AttributeReference, ls) if ls.forall(_.isInstanceOf[Literal]) =>
        for {
          n <- nameOf(a)
          ss <- traverse(ls)(l => lit2s(l.asInstanceOf[Literal]))
        } yield (n, ss.toSet)
      case InSet(a: AttributeReference, vs) =>
        nameOf(a).map(n => (n, vs.filter(_ != null).map {
          case u: UTF8String => u.toString
          case v => v.toString
        }.toSet))
      case And(x, y) =>
        for {
          (nx, vx) <- partitionPredicate(x, relOut)
          (ny, vy) <- partitionPredicate(y, relOut)
          if nx == ny
        } yield (nx, vx.intersect(vy))
      case _ => None
    }
  }

  private def traverse[A, B](xs: Seq[A])(f: A => Option[B]): Option[Seq[B]] = {
    val out = xs.map(f)
    if (out.forall(_.isDefined)) Some(out.map(_.get)) else None
  }

  private def classify(e: NamedExpression,
      relOut: Seq[AttributeReference]): Option[Want] = {
    val ae = e match {
      case Alias(a: AggregateExpression, _) => Some(a)
      case a: AggregateExpression => Some(a)
      case _ => None
    }
    def scanned(a: AttributeReference) = relOut.find(_.exprId == a.exprId)
    ae.flatMap {
      case AggregateExpression(Count(children), Complete, false, None, _)
          if children.forall { case Literal(v, _) => v != null; case _ => false } =>
        Some(WantCount)
      case AggregateExpression(Count(Seq(a: AttributeReference)), Complete, false, None, _) =>
        scanned(a).map(r => WantNonNull(r.name))
      case AggregateExpression(Min(a: AttributeReference), Complete, false, None, _) =>
        scanned(a).flatMap(r => Want.extreme(r.name, r.dataType, isMin = true))
      case AggregateExpression(Max(a: AttributeReference), Complete, false, None, _) =>
        scanned(a).flatMap(r => Want.extreme(r.name, r.dataType, isMin = false))
      case AggregateExpression(s @ Sum(a: AttributeReference, _), Complete, false, None, _) =>
        scanned(a).flatMap(r => Want.sum(r.name, s.dataType))
      case _ => None
    }
  }

  /** The aggregate's child must bottom out in a plain graft snapshot scan
    * through row-count-preserving nodes only; scan attributes are tracked
    * by exprId so projection renames cannot mislabel a column. The time
    * travel version is resolved LAZILY (a function of the loaded table) so
    * `timestampAsOf` reads answer for the right snapshot. */
  private def scanTarget(p: LogicalPlan): Option[(String,
      LakeTable => Option[Long], Seq[AttributeReference],
      Option[(String, Set[String])])] =
    p match {
      case SubqueryAlias(_, c) => scanTarget(c)
      case Project(_, c) => scanTarget(c)
      // a partition-predicate Filter keeps the plan answerable: the
      // metadata restricts to the allowed partitionValues (validated
      // against the table's partition column inside `answer`)
      case Filter(cond, c) =>
        scanTarget(c).flatMap { case (path, r, out, prev) =>
          partitionPredicate(cond, out).flatMap { case (name, vals) =>
            prev match {
              case None => Some((path, r, out, Some((name, vals))))
              case Some((pn, pv)) if pn == name =>
                Some((path, r, out, Some((name, pv.intersect(vals)))))
              case _ => None
            }
          }
        }
      case lr @ LogicalRelation(rel: GraftRelation, _, _, _, _)
          if !rel.parameters.contains("incremental.since") &&
            !rel.parameters.contains("changes.since") &&
            rel.parameters.getOrElse("view", "snapshot").equalsIgnoreCase("snapshot") =>
        val resolve: LakeTable => Option[Long] = t =>
          rel.parameters.get("versionAsOf").map(_.toLong)
            .orElse(rel.parameters.get("timestampAsOf")
              .map(s => t.versionAt(LakeTable.parseUserTimestamp(s))))
        Some((rel.path, resolve,
          lr.output.collect { case a: AttributeReference => a }, None))
      case r: DataSourceV2Relation =>
        r.table match {
          case t: GraftCatalogTable =>
            Some((t.path, _ => t.asOf,
              r.output.collect { case a: AttributeReference => a }, None))
          case _ => None
        }
      case _ => None
    }

  private def snapshotOf(spark: SparkSession, path: String,
      resolveAsOf: LakeTable => Option[Long]): Option[Snapshot] =
    try {
      val t = LakeTable.load(spark, path)
      Some(t.snapshot(resolveAsOf(t)))
    } catch { case NonFatal(_) => None }

  /** The one metadata answer behind this rule, the DSv2 push-down
    * ([[graft.sources.GraftScanBuilder]]) and the BM25 corpus scalars
    * ([[graft.ext.TextIndex]]): every wanted aggregate of snapshot `s`
    * from its live files' recorded facts — row and DV row counts, footer
    * min/max, stored sums — with zero data files opened. One row per
    * group: ungrouped = one row of `wants`; `byPartition` = one row per
    * stored partition value (the typed group value first, in stored-value
    * order); `allowed` keeps only the files of the named column's listed
    * partition values. None = metadata is not exact, scan instead. The
    * gates:
    *   - any live MoR log file refuses everything (log rows over-count
    *     contested keys; tombstones are log files);
    *   - min/max, sum and count(col) also refuse any deletion vector (the
    *     killed rows stay in the file's stats and sums);
    *   - min/max need non-sentinel stats for the column on every file in
    *     scope, sum/count(col) stored sums for its physical name;
    *   - partition values are read (grouped or partition-filtered
    *     answers only) when the column is `s.spec`'s partition column and
    *     no live file is from an older partition era, whose stored value
    *     belongs to a different column. */
  private[graft] def answer(s: Snapshot, wants: Seq[Want], byPartition: Option[StructField],
      allowed: Option[(String, Set[String])]): Option[Seq[Seq[Any]]] =
    try {
      val live = s.live
      val partCol = byPartition.map(_.name).orElse(allowed.map(_._1))
      if (live.exists(_.log) ||
          wants.exists(_ != WantCount) && live.exists(a => a.dv.isDefined || a.dvRows > 0) ||
          partCol.exists(c => !s.spec.partition.exists(_.equalsIgnoreCase(c)) ||
            LakeTable.mixedPartitionEras(live, s.spec))) return None
      val pv: FileAction => String = _.partitionValue.getOrElse(NULL_PARTITION)
      val inScope = allowed.fold(live) { case (_, vs) => live.filter(a => vs.contains(pv(a))) }
      val groups: Option[Seq[(Seq[Any], Seq[FileAction])]] = byPartition match {
        case None => Some(Seq((Nil, inScope)))
        case Some(f) =>
          traverse(inScope.groupBy(pv).toSeq.sortBy(_._1)) { case (v, files) =>
            partitionKey(v, f.dataType).map(k => (Seq(k), files))
          }
      }
      groups.flatMap(traverse(_) { case (key, files) =>
        traverse(wants)(aggregate(s, _, files)).map(key ++ _)
      })
    } catch { case NonFatal(_) => None }

  /** One aggregate over the files of one group, in Spark's internal form
    * (the value may legally be null: min/max/sum over zero rows). */
  private def aggregate(s: Snapshot, want: Want, files: Seq[FileAction]): Option[Any] =
    want match {
      case WantCount => Some(files.map(a => a.rows - a.dvRows).sum)
      case WantExtreme(name, dt, isMin) =>
        traverse(files) { a =>
          val mm =
            if (name.equalsIgnoreCase(s.spec.key)) Some((a.minKey, a.maxKey))
            else a.colStats.collectFirst { case (c, st) if c.equalsIgnoreCase(name) => st }
          // sentinel whole-range stats ("", "￿") mean "unknown" — an
          // actual empty-string minimum is indistinguishable, so both are
          // treated as unknown
          mm.filter { case (lo, hi) => lo.nonEmpty && hi != "￿" }
            .flatMap { case (lo, hi) => parse(if (isMin) lo else hi, dt) }
        }.map { vs =>
          if (vs.isEmpty) null
          else vs.reduce((a, b) => if (isMin == lessThan(a, b)) a else b)
        }
      case WantSum(name, resultDt) => storedSums(s, name, files).flatMap(renderSum(_, resultDt))
      case WantNonNull(name) => storedSums(s, name, files).map(_.map(_._2).sum)
    }

  /** The (sum, non-null count) pairs every file stored for a column —
    * files store PHYSICAL names (column mapping), callers pass LOGICAL. */
  private def storedSums(s: Snapshot, name: String,
      files: Seq[FileAction]): Option[Seq[(String, Long)]] = {
    val phys = s.spec.physical(name)
    traverse(files)(_.colSums.collectFirst { case (c, sv) if c.equalsIgnoreCase(phys) => sv })
  }

  /** Fold stored per-file sums into Spark's internal value for the Sum
    * result type: Long for integral input (bail rather than reproduce
    * overflow wrap), Decimal for decimal input, NULL over zero non-null
    * rows (the SQL answer). */
  private def renderSum(pairs: Seq[(String, Long)], resultDt: DataType): Option[Any] = {
    if (pairs.forall(_._2 == 0L)) return Some(null)
    val total = pairs.filter(_._2 > 0)
      .map(p => new java.math.BigDecimal(p._1)).reduce(_ add _)
    resultDt match {
      case LongType =>
        try Some(total.longValueExact())
        catch { case _: ArithmeticException => None }
      case d: DecimalType =>
        val v = org.apache.spark.sql.types.Decimal(total)
        if (v.changePrecision(d.precision, d.scale)) Some(v) else None
      case _ => None
    }
  }

  private val NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"

  /** Partition column types whose stored value string round-trips exactly. */
  private[graft] def groupable(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | StringType => true
    case _ => false
  }

  /** A stored partition value in Spark's internal form (the null
    * partition sentinel → null). */
  private def partitionKey(pv: String, dt: DataType): Option[Any] =
    if (!groupable(dt)) None else if (pv == NULL_PARTITION) Some(null) else parse(pv, dt)

  /** Parse a FooterStats-rendered value back to Spark's internal form —
    * only for types where the string round-trip is exact. */
  private def parse(s: String, dt: DataType): Option[Any] = dt match {
    case LongType => s.toLongOption
    case IntegerType => s.toIntOption
    case ShortType => s.toShortOption
    case ByteType => s.toByteOption
    case DoubleType => s.toDoubleOption
    case FloatType => s.toFloatOption
    case StringType => Some(UTF8String.fromString(s))
    case DateType => s.toIntOption // parquet DATE = int32 days, Spark internal too
    case TimestampType => s.toLongOption // int64 micros on both sides
    case TimestampNTZType => s.toLongOption // ditto (Spark 4 reads no-tz parquet as NTZ)
    case _ => None
  }

  private def lessThan(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Long, y: Long) => x < y
    case (x: Int, y: Int) => x < y
    case (x: Short, y: Short) => x < y
    case (x: Byte, y: Byte) => x < y
    case (x: Double, y: Double) => x < y
    case (x: Float, y: Float) => x < y
    case (x: UTF8String, y: UTF8String) => x.compareTo(y) < 0
    case _ => false
  }
}
