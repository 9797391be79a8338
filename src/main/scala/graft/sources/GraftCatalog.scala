package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsOverwrite, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{AlwaysTrue, BaseRelation, Filter, InsertableRelation, TableScan}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.lake.{CommitLog, IdentityDef, LakeTable, Snapshot, TableSpec}

/** DSv2 `TableCatalog` for graft tables (SURVEY.md §7.4): register with
  *
  * {{{
  * spark.conf: spark.sql.catalog.graft = graft.sources.GraftCatalog
  *             spark.sql.catalog.graft.warehouse = /path/to/warehouse
  * CREATE TABLE graft.db.t (pk_id BIGINT, updated_at BIGINT, v STRING)
  *   USING graft OPTIONS (key 'pk_id', precombine 'updated_at')
  * CREATE TABLE graft.db.ext USING graft LOCATION '/existing/table'
  * SELECT * FROM graft.db.t VERSION AS OF 2
  * SHOW CREATE TABLE graft.db.t; SHOW TABLES IN graft.db
  * }}}
  *
  * — the catalog surface the reference drives through Spark SQL on
  * Hudi/Delta (`/root/reference/README.md:297-343,1176-1188`). Managed
  * tables live under `<warehouse>/<ns…>/<name>`; `LOCATION` tables are
  * external pointers (a one-line marker file records the location, the data
  * stays put; DROP removes only the pointer). Reads and writes delegate to
  * [[graft.lake.LakeTable]] through the DSv2 V1 fallback shims
  * ([[V1Scan]]/[[V1Write]], the same bridge Delta uses), so catalog queries
  * get the identical pruned/stats-driven scans and contested-key upserts as
  * the programmatic API — nothing is duplicated for the catalog path.
  */
object GraftCatalog {
  /** Parse an `identity.<col>` option value: the standard-SQL
    * `START WITH s INCREMENT BY k` clause (either part optional, any
    * order), or empty for the defaults (1, 1). */
  private[sources] def parseIdentityDef(v: String): IdentityDef = {
    val s = v.trim
    if (s.isEmpty) return IdentityDef()
    val startR = "(?i)START\\s+WITH\\s+(-?\\d+)".r
    val stepR = "(?i)INCREMENT\\s+BY\\s+(-?\\d+)".r
    val start = startR.findFirstMatchIn(s).map(_.group(1).toLong)
    val step = stepR.findFirstMatchIn(s).map(_.group(1).toLong)
    require(start.isDefined || step.isDefined,
      s"cannot parse identity definition '$v' — " +
        "expected 'START WITH <n> INCREMENT BY <n>' (either part optional)")
    IdentityDef(start.getOrElse(1L), step.getOrElse(1L))
  }
}

class GraftCatalog extends TableCatalog with SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.FunctionCatalog {

  private var catalogName: String = "graft"
  private var warehouse: String = _

  private def spark: SparkSession = SparkSession.active
  private def hconf = spark.sessionState.newHadoopConf()

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      new Path(spark.sessionState.conf.warehousePath, "graft_catalog").toString)
    // the advertised default namespace must exist from the start — `USE
    // graft; SHOW TABLES` is the first thing every catalog user runs
    val dflt = new Path((warehouse +: defaultNamespace().toSeq).mkString("/"))
    dflt.getFileSystem(hconf).mkdirs(dflt)
    ()
  }

  override def name(): String = catalogName

  private def tableDir(ident: Identifier): Path =
    new Path((warehouse +: ident.namespace.toSeq :+ ident.name).mkString("/"))

  private def externalMarker(ident: Identifier): Path =
    new Path(tableDir(ident), "_graft_external")

  /** The LakeTable path for an identifier: the table dir itself (managed)
    * or the location recorded in the external marker. */
  private def resolvePath(ident: Identifier): Option[String] = {
    val dir = tableDir(ident)
    val fs = dir.getFileSystem(hconf)
    if (fs.exists(externalMarker(ident))) {
      val in = fs.open(externalMarker(ident))
      try Some(new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8").trim)
      finally in.close()
    } else if (CommitLog.latestVersion(dir.toString, hconf).isDefined) Some(dir.toString)
    else None
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val nsDir = new Path((warehouse +: namespace.toSeq).mkString("/"))
    val fs = nsDir.getFileSystem(hconf)
    if (!fs.exists(nsDir)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(nsDir).filter(_.isDirectory).map(_.getPath.getName)
      .filter(n => resolvePath(Identifier.of(namespace, n)).isDefined)
      .map(Identifier.of(namespace, _))
  }

  override def tableExists(ident: Identifier): Boolean = resolvePath(ident).isDefined

  override def loadTable(ident: Identifier): Table =
    resolvePath(ident) match {
      case Some(p) => GraftCatalogTable(ident, p, asOf = None)
      case None => throw new NoSuchTableException(ident)
    }

  /** `VERSION AS OF <v>` time travel. */
  override def loadTable(ident: Identifier, version: String): Table =
    resolvePath(ident) match {
      case Some(p) => GraftCatalogTable(ident, p, asOf = Some(version.toLong))
      case None => throw new NoSuchTableException(ident)
    }

  /** `TIMESTAMP AS OF <ts>` time travel — Spark hands epoch MICROseconds;
    * resolve to the newest commit at-or-before that instant. */
  override def loadTable(ident: Identifier, timestamp: Long): Table =
    resolvePath(ident) match {
      case Some(p) =>
        val v = LakeTable.load(spark, p).versionAt(timestamp / 1000L)
        GraftCatalogTable(ident, p, asOf = Some(v))
      case None => throw new NoSuchTableException(ident)
    }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val props = properties.asScala
    def opt(k: String): Option[String] =
      props.get(k).orElse(props.get(TableCatalog.OPTION_PREFIX + k))
    val location = props.get(TableCatalog.PROP_LOCATION)
    val fs = tableDir(ident).getFileSystem(hconf)

    location match {
      case Some(loc) if CommitLog.latestVersion(loc, hconf).isDefined =>
        // external pointer to an existing graft table — schema comes from
        // its commit log, the DDL schema (if any) is ignored like Delta does
        val out = fs.create(externalMarker(ident), false)
        try out.write(loc.getBytes("UTF-8")) finally out.close()
        GraftCatalogTable(ident, loc, asOf = None)
      case other =>
        val key = opt("key").getOrElse(throw new IllegalArgumentException(
          s"CREATE TABLE $ident USING graft needs OPTIONS (key '…', precombine '…')"))
        val precombine = opt("precombine").getOrElse(throw new IllegalArgumentException(
          s"CREATE TABLE $ident USING graft needs OPTIONS (key '…', precombine '…')"))
        val partCol = partitions.toSeq match {
          case Seq() => opt("partition")
          case Seq(t) if t.name == "identity" => Some(t.references.head.fieldNames.head)
          case other2 => throw new UnsupportedOperationException(
            s"graft supports a single identity PARTITIONED BY column, got ${other2.mkString(",")}")
        }
        val spec = TableSpec(key, precombine, partition = partCol,
          mor = opt("mor").exists(_.toBoolean) ||
            opt("type").exists(_.equalsIgnoreCase("MERGE_ON_READ")),
          bloomBitsPerKey = opt("bloomBitsPerKey").map(_.toInt).getOrElse(0),
          statsColumns = opt("statsColumns")
            .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Seq.empty),
          bloomColumns = opt("bloomColumns")
            .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Seq.empty),
          writeSortColumns = opt("writeSortColumns")
            .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Seq.empty),
          sumColumns = opt("sumColumns")
            .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Seq.empty),
          buckets = opt("buckets").map(_.toInt).getOrElse(0),
          // GENERATED ALWAYS AS via namespaced options:
          //   OPTIONS ('generated.event_date' = 'to_date(…)')
          generated = props.collect {
            case (k, v) if k.startsWith("generated.") =>
              k.stripPrefix("generated.") -> v
            case (k, v) if k.startsWith(TableCatalog.OPTION_PREFIX + "generated.") =>
              k.stripPrefix(TableCatalog.OPTION_PREFIX + "generated.") -> v
          }.toMap,
          // GENERATED ALWAYS AS IDENTITY via namespaced options:
          //   OPTIONS ('identity.row_id' = 'START WITH 1 INCREMENT BY 1')
          // (empty value = the defaults, START WITH 1 INCREMENT BY 1)
          identity = props.collect {
            case (k, v) if k.startsWith("identity.") =>
              k.stripPrefix("identity.") -> GraftCatalog.parseIdentityDef(v)
            case (k, v) if k.startsWith(TableCatalog.OPTION_PREFIX + "identity.") =>
              k.stripPrefix(TableCatalog.OPTION_PREFIX + "identity.") ->
                GraftCatalog.parseIdentityDef(v)
          }.toMap,
          // column DEFAULTs: OPTIONS ('default.status' = "'open'")
          defaults = props.collect {
            case (k, v) if k.startsWith("default.") =>
              k.stripPrefix("default.") -> v
            case (k, v) if k.startsWith(TableCatalog.OPTION_PREFIX + "default.") =>
              k.stripPrefix(TableCatalog.OPTION_PREFIX + "default.") -> v
          }.toMap)
        val path = other.getOrElse(tableDir(ident).toString)
        val empty = spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        LakeTable.create(spark, path, spec, empty)
        if (other.isDefined) {
          val out = fs.create(externalMarker(ident), false)
          try out.write(other.get.getBytes("UTF-8")) finally out.close()
        }
        GraftCatalogTable(ident, path, asOf = None)
    }
  }

  /** `ALTER TABLE … ADD COLUMNS` → an additive schema-evolution commit;
    * `RENAME COLUMN` / `DROP COLUMN` → metadata-only column-mapping
    * commits (no data rewrite — see [[graft.lake.LakeTable.renameColumn]]).
    * Other changes are rejected. */
  override def capabilities(): util.Set[
      org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    util.EnumSet.of(org.apache.spark.sql.connector.catalog
      .TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val path = resolvePath(ident).getOrElse(throw new NoSuchTableException(ident))
    val t = LakeTable.load(spark, path)
    // ADD COLUMNS, optionally with DEFAULTs (both write-side and
    // existence semantics — see LakeTable.addColumns)
    val added = changes.collect {
      case a: TableChange.AddColumn if a.fieldNames.length == 1 =>
        (StructField(a.fieldNames.head, a.dataType, nullable = true),
          Option(a.defaultValue()).flatMap(d => Option(d.getSql)))
    }
    if (added.nonEmpty) t.addColumns(added.map(_._1),
      added.collect { case (f, Some(sql)) => f.name -> sql }.toMap)
    changes.foreach {
      case _: TableChange.AddColumn => () // handled above (batched)
      case r: TableChange.RenameColumn if r.fieldNames.length == 1 =>
        t.renameColumn(r.fieldNames.head, r.newName)
      case d: TableChange.DeleteColumn if d.fieldNames.length == 1 =>
        t.dropColumn(d.fieldNames.head)
      case u: TableChange.UpdateColumnType if u.fieldNames.length == 1 =>
        // Delta type widening: metadata-only, old files up-convert on read
        t.widenColumn(u.fieldNames.head, u.newDataType)
      case other => throw new UnsupportedOperationException(
        s"graft supports ALTER TABLE ADD COLUMNS / RENAME COLUMN / DROP COLUMN / " +
          s"ALTER COLUMN … TYPE (widening), got $other")
    }
    GraftCatalogTable(ident, path, asOf = None)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = tableDir(ident)
    val fs = dir.getFileSystem(hconf)
    if (resolvePath(ident).isEmpty) false
    else fs.delete(dir, true) // external: removes only the pointer dir
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (resolvePath(oldIdent).isEmpty) throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    val fs = tableDir(oldIdent).getFileSystem(hconf)
    fs.mkdirs(tableDir(newIdent).getParent)
    if (!fs.rename(tableDir(oldIdent), tableDir(newIdent)))
      throw new IllegalStateException(s"rename $oldIdent -> $newIdent failed")
  }

  override def invalidateTable(ident: Identifier): Unit = ()

  // ---- namespaces ------------------------------------------------------

  override def defaultNamespace(): Array[String] = Array("default")

  /** FunctionCatalog: graft's native functions as catalog-qualified SQL
    * functions (see [[GraftV2Functions]]). They live in every existing
    * namespace (Iceberg's `system`-style convention, without forcing a
    * reserved namespace): `SELECT cat.default.dot_product(a, b)`. */
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespaceExists(namespace))
      GraftV2Functions.names.map(Identifier.of(namespace, _)).toArray
    else throw new NoSuchNamespaceException(namespace)

  override def loadFunction(ident: Identifier):
      org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    GraftV2Functions.load(ident.name).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident))

  override def listNamespaces(): Array[Array[String]] = {
    val root = new Path(warehouse)
    val fs = root.getFileSystem(hconf)
    if (!fs.exists(root)) Array.empty
    else fs.listStatus(root).filter(_.isDirectory).map(s => Array(s.getPath.getName))
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty
    else throw new NoSuchNamespaceException(namespace)

  override def namespaceExists(namespace: Array[String]): Boolean = {
    val dir = new Path((warehouse +: namespace.toSeq).mkString("/"))
    dir.getFileSystem(hconf).exists(dir)
  }

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    Map.empty[String, String].asJava
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    val dir = new Path((warehouse +: namespace.toSeq).mkString("/"))
    dir.getFileSystem(hconf).mkdirs(dir)
    ()
  }

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("ALTER NAMESPACE is not supported")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val dir = new Path((warehouse +: namespace.toSeq).mkString("/"))
    val fs = dir.getFileSystem(hconf)
    if (!fs.exists(dir)) false
    else if (!cascade && fs.listStatus(dir).nonEmpty)
      throw new IllegalStateException(s"namespace ${namespace.mkString(".")} is not empty")
    else fs.delete(dir, true)
  }
}

/** A graft table surfaced through the DSv2 catalog. Schema = Hudi-shaped
  * meta columns + the declared data schema from the commit log (time-travel
  * loads report the schema as of that version). */
case class GraftCatalogTable(ident: Identifier, path: String, asOf: Option[Long])
    extends Table with SupportsRead with SupportsWrite with SupportsDelete {

  private def spark: SparkSession = SparkSession.active
  @transient private lazy val lake: LakeTable = LakeTable.load(spark, path)

  override def name(): String = ident.toString

  override def schema(): StructType =
    StructType(LakeTable.META_COLS.map(StructField(_, StringType)) ++
      lake.schemaAt(asOf).fields)

  override def partitioning(): Array[Transform] =
    lake.specAt(asOf).partition.map(p => Expressions.identity(p)).toArray

  override def properties(): util.Map[String, String] = {
    val spec = lake.spec
    (Map(
      TableCatalog.PROP_PROVIDER -> "graft",
      TableCatalog.PROP_LOCATION -> path,
      "key" -> spec.key,
      "precombine" -> spec.precombine,
      "type" -> (if (spec.mor) "merge_on_read" else "copy_on_write")) ++
      spec.partition.map("partition" -> _) ++
      spec.generated.map { case (c, e) => s"generated.$c" -> e } ++
      spec.identity.map { case (c, d) =>
        s"identity.$c" -> s"START WITH ${d.start} INCREMENT BY ${d.step}"
      } ++
      spec.defaults.map { case (c, e) => s"default.$c" -> e }).asJava
  }

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.ACCEPT_ANY_SCHEMA)

  /** SQL `DELETE FROM graft.db.t WHERE …` → the stats-pruned touched-file
    * rewrite. Only filters we can translate are accepted (canDeleteWhere),
    * so unsupported conditions fail at analysis, never silently delete. */
  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    filters.forall(f => GraftRelation.toColumnStatic(f).isDefined)

  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    val cond = filters.flatMap(GraftRelation.toColumnStatic)
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    lake.delete(cond)
    ()
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(path, asOf, schema())

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftWriteBuilder(path)
}

/** Column pruning + best-effort filter pushdown into the LakeTable scan via
  * the V1 fallback (Spark re-applies every filter on top, so partial
  * conversion is safe — same contract as [[GraftRelation]]). */
class GraftScanBuilder(path: String, asOf: Option[Long], fullSchema: StructType)
    extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  private var required: StructType = fullSchema
  private var filters: Array[Filter] = Array.empty
  private var limit: Option[Int] = None
  private var aggAnswer: Option[(StructType, Seq[Seq[Any]])] = None
  // one state of the table behind the aggregate answer and whichever scan
  // is built, resolved on first use
  private lazy val table: LakeTable = LakeTable.load(SparkSession.active, path)
  private lazy val snap: Snapshot = table.snapshot(asOf)

  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  override def pushFilters(fs: Array[Filter]): Array[Filter] = {
    filters = fs
    fs // all residual: Spark re-evaluates everything above the scan
  }

  override def pushedFilters(): Array[Filter] =
    filters.filter(f => GraftRelation.toColumnStatic(f).isDefined)

  /** Bare-LIMIT push-down (partial — Spark keeps the global limit): only
    * accepted with no pushed filters, since a residual filter rejecting
    * rows above the scan would starve the limit of candidates. The v2
    * file scan turns it into a commit-log row-count file prefix + a
    * per-task emission cap. */
  override def pushLimit(n: Int): Boolean =
    if (filters.nonEmpty) false
    else { limit = Some(n); true }

  /** DSv2 aggregate push-down: unfiltered `COUNT(*)`, `COUNT(col)`,
    * `MIN`/`MAX` and `SUM` — ungrouped, or `GROUP BY` the table's
    * PARTITION column — collapse to commit-log metadata rows (one per
    * group), zero data files opened, on ANY session (the optimizer-rule
    * variant, [[graft.sql.GraftMetadataOnlyCount]], needs GraftExtensions;
    * this is the pure-DSv2 route). A thin translator onto the rule's
    * [[graft.sql.GraftMetadataOnlyCount.answer]]: each aggregate is
    * classified from the schema first, so a shape metadata can never
    * answer (an expression argument such as `sum(CAST(x AS BIGINT))`, a
    * float sum, a non-partition-typed group column) returns before the
    * snapshot is resolved; the answer's exactness gates decide the rest.
    * Spark asks `supportCompletePushDown` and then `pushAggregation` of
    * the same aggregation; both fold the one lazily resolved snapshot, so
    * the second lists nothing. Complete push-down: Spark
    * consumes the rows directly, no re-aggregation — `SELECT p, count(*),
    * max(x) FROM t GROUP BY p` on a 100 TB table is a pure driver-metadata
    * answer. */
  override def supportCompletePushDown(agg: Aggregation): Boolean =
    tryAnswer(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean = {
    aggAnswer = tryAnswer(agg)
    aggAnswer.isDefined
  }

  private def tryAnswer(agg: Aggregation): Option[(StructType, Seq[Seq[Any]])] = {
    import org.apache.spark.sql.connector.expressions.aggregate._
    import org.apache.spark.sql.types.{ByteType, DecimalType, IntegerType, LongType, ShortType}
    import graft.sql.GraftMetadataOnlyCount.{answer, groupable, Want, WantCount, WantNonNull}
    if (filters.nonEmpty || limit.isDefined) return None
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[StructField] =
      e match {
        case nr: org.apache.spark.sql.connector.expressions.NamedReference
            if nr.fieldNames.length == 1 =>
          fullSchema.fields.find(_.name == nr.fieldNames.head)
        case _ => None
      }
    val groupBy: Option[Option[StructField]] = agg.groupByExpressions().toSeq match {
      case Seq() => Some(None)
      case Seq(g) => colOf(g).filter(f => groupable(f.dataType)).map(Some(_))
      case _ => None
    }
    def extreme(f: StructField, fn: String, isMin: Boolean): Option[(StructField, Want)] =
      Want.extreme(f.name, f.dataType, isMin).map((StructField(s"$fn(${f.name})", f.dataType), _))
    // (output field, metadata aggregate) per aggregate, from types alone
    val classified: Seq[Option[(StructField, Want)]] = agg.aggregateExpressions().toSeq.map {
      case _: CountStar => Some((StructField("count(*)", LongType, nullable = false), WantCount))
      case m: Min => colOf(m.column).flatMap(extreme(_, "min", isMin = true))
      case m: Max => colOf(m.column).flatMap(extreme(_, "max", isMin = false))
      // result types mirror Spark's Sum resolution (integral → LongType,
      // decimal → widened decimal) so complete push-down type-checks
      case sm: Sum if !sm.isDistinct => colOf(sm.column).flatMap { f =>
        val resultDt = f.dataType match {
          case ByteType | ShortType | IntegerType | LongType => LongType
          case d: DecimalType => DecimalType(math.min(38, d.precision + 10), d.scale)
          case other => other
        }
        Want.sum(f.name, resultDt).map((StructField(s"sum(${f.name})", resultDt), _))
      }
      case ct: Count if !ct.isDistinct => colOf(ct.column).map(f =>
        (StructField(s"count(${f.name})", LongType, nullable = false), WantNonNull(f.name)))
      case _ => None
    }
    for {
      part <- groupBy
      pairs <- if (classified.nonEmpty && classified.forall(_.isDefined)) Some(classified.flatten)
               else None
      rows <- try answer(snap, pairs.map(_._2), part, None)
              catch { case scala.util.control.NonFatal(_) => None }
    } yield (StructType(part.toSeq ++ pairs.map(_._1)), rows)
  }

  /** Route to the SPJ-capable bucket Batch scan when the snapshot is plain
    * enough for it to be exact; then the general v2 file scan (CoW, no
    * merge — keeps statistics visible through push-down, see
    * [[GraftFileScan]]); anything else takes the V1 path. */
  override def build(): Scan = {
    aggAnswer match {
      case Some((schema, values)) => new GraftMetaAggScan(schema, values)
      case None => bucketScan().orElse(fileScan()).getOrElse(v1Scan())
    }
  }

  /** General v2 batch scan for merge-free snapshots: CoW files (+ DVs),
    * explicit projection, partition/_bucket/_file_name constants from the
    * layout, plan-time file skipping for the pushed filters, and
    * additively evolved schemas (per-file column presence from the commit
    * log; older files surface nulls for later columns). Falls back to V1
    * for MoR logs, foreign bases (clone/convert), column mapping, or
    * empty projections. */
  private def fileScan(): Option[Scan] =
    try {
      val spark = SparkSession.active
      val t = table
      val spec = snap.spec
      if (spec.columnMap.nonEmpty) return None
      if (required.isEmpty) return None
      val live0 = snap.live
      if (live0.isEmpty || live0.exists(a => a.log || a.base.isDefined)) return None
      // partition-evolution era guard: the dir-constant logic below
      // assumes every file's stored partitionValue belongs to the CURRENT
      // partition column — mixed eras read through V1 (era-grouped scans)
      if (LakeTable.mixedPartitionEras(live0, spec)) return None
      val live = t.pruneByFilters(live0, filters.toSeq, snap.shape)
      val dataSchema = snap.schema
      val constCol: Option[String] =
        spec.partition.orElse(
          if (spec.buckets > 0) Some(TableSpec.BUCKET_COL) else None)
      val metaReadable =
        LakeTable.META_COLS.filterNot(_ == "_file_name").toSet
      val dataFields = dataSchema.fieldNames.toSet
      val fileCols: Seq[String] = required.fieldNames.toSeq
        .filterNot(n => constCol.contains(n) || n == "_file_name")
      if (!fileCols.forall(n => metaReadable.contains(n) || dataFields.contains(n)))
        return None
      // typed per-file constant for the dir-derived column
      val constType = constCol.map(c => dataSchema(c).dataType)
      def constOf(v: String): Option[Any] = constType.flatMap {
        case org.apache.spark.sql.types.IntegerType =>
          v.toIntOption.map(Integer.valueOf)
        case org.apache.spark.sql.types.LongType =>
          v.toLongOption.map(java.lang.Long.valueOf)
        case StringType => Some(org.apache.spark.unsafe.types.UTF8String.fromString(v))
        case _ => None
      }
      val conf = spark.sessionState.newHadoopConf()
      val dvLists = scala.collection.mutable.HashMap.empty[String, Array[String]]
      def dvFilesOf(d: String): Array[String] = dvLists.getOrElseUpdate(d, {
        val root = if (d.startsWith("/")) d else s"${t.dataDir}/$d"
        val p = new Path(root)
        p.getFileSystem(conf).listStatus(p).map(_.getPath)
          .filter(_.getName.endsWith(".parquet")).map(_.toString).sorted
      })
      // schema evolution: files older than an added column carry a subset
      // of today's columns, files older than a TYPE WIDENING carry the
      // narrow physical type — both known per file from the commit log
      // (the file's write-id dir names its commit), no footer opened. Meta
      // columns predate every evolution; only data columns can change.
      val evolved = snap.history.map(_.schemaJson).distinct.size > 1
      val declaredTypes: Array[org.apache.spark.sql.types.DataType] =
        fileCols.map(n =>
          if (metaReadable.contains(n) && !dataFields.contains(n)) StringType
          else dataSchema(n).dataType).toArray
      val descs = live.map { a =>
        val pv: Any = constCol match {
          case None => null
          case Some(_) => a.partitionValue.flatMap(constOf).orNull
        }
        if (constCol.isDefined && pv == null && a.partitionValue.isDefined)
          return None // unconvertible partition value type
        if (constCol.isDefined && a.partitionValue.isEmpty)
          return None // layout missing the dir value
        val (present, narrow): (Array[Boolean], Array[org.apache.spark.sql.types.DataType]) =
          if (!evolved) (null, null)
          else t.fileSchemaOf(a) match {
            case None => return None // no write-id dir: not a v2 candidate
            case Some(fs) =>
              val fsTypes = fs.fields.map(f => f.name -> f.dataType).toMap
              val p = fileCols.map(n =>
                metaReadable.contains(n) || fsTypes.contains(n)).toArray
              val nr = fileCols.zipWithIndex.map { case (n, i) =>
                fsTypes.getOrElse(n, declaredTypes(i))
              }.toArray
              (if (p.forall(identity)) null else p,
                if (nr.sameElements(declaredTypes)) null else nr)
          }
        // only lossless widenings are convertible — anything else (a
        // re-added column whose old files carry an incompatible type)
        // falls back to the V1 path
        if (narrow != null && narrow.indices.exists(i =>
          narrow(i) != declaredTypes(i) &&
            !graft.lake.LakeTable.widens(narrow(i), declaredTypes(i))))
          return None
        ScanFileDesc(s"${t.dataDir}/${a.path}", a.path, pv,
          a.dv.map(dvFilesOf).getOrElse(Array.empty), present, narrow)
      }
      val maxBytes = spark.sessionState.conf.filesMaxPartitionBytes
      val fileSchema = StructType(fileCols.map(n =>
        if (metaReadable.contains(n) && !dataFields.contains(n))
          StructField(n, StringType)
        else dataSchema(n)))
      val fOrd = fileCols.zipWithIndex.toMap
      val outIdx = required.fieldNames.map(n =>
        if (constCol.contains(n)) GraftFileScan.PART_CONST
        else if (n == "_file_name") GraftFileScan.FILE_NAME_CONST
        else fOrd(n))
      // runtime (dynamic) pruning attributes: the partition column (the
      // classic DPP case) plus declared stats columns (an explicit
      // data-skipping opt-in) — NOT the record key: declaring it would
      // bolt runtime-filter subquery machinery onto every keyed equi-join,
      // whose planning overhead swamps the benefit outside genuinely
      // selective star joins. RESTRICTED to the scan's own output (Spark
      // resolves these refs against the pruned projection and errors on
      // absent names).
      val requiredNames = required.fieldNames.toSet
      val filterCols = (spec.partition.toSeq ++ spec.statsColumns)
        .distinct.filter(requiredNames.contains).toArray
      // existence defaults: evaluate each frozen constant ONCE at plan
      // time into its Catalyst value; the reader emits it wherever a file
      // physically lacks the column (present-flag miss)
      val absentFill: Array[Any] = {
        val ed = spec.existenceDefaults
        if (ed.isEmpty) null
        else {
          val arr = new Array[Any](fileCols.length)
          var any = false
          fileCols.zipWithIndex.foreach { case (n, i) =>
            ed.get(n).foreach { e =>
              val ext = spark.range(1)
                .select(org.apache.spark.sql.functions.expr(e)
                  .cast(dataSchema(n).dataType)).head().get(0)
              arr(i) = org.apache.spark.sql.catalyst.CatalystTypeConverters
                .convertToCatalyst(ext)
              any = true
            }
          }
          if (any) arr else null
        }
      }
      Some(new GraftFileScan(t, snap, live.zip(descs), required, fileSchema,
        outIdx, maxBytes, limit, filterCols, absentFill))
    } catch { case scala.util.control.NonFatal(_) => None }

  private def bucketScan(): Option[Scan] =
    try {
      val t = table
      val spec = snap.spec
      // IsNotNull-only filter sets (the join planner's null-guard artifacts)
      // are fine: every filter was returned as residual from pushFilters, so
      // Spark re-evaluates them above the scan; anything more selective goes
      // to the V1 path to keep commit-log file skipping
      val onlyNullGuards = filters.forall(_.isInstanceOf[org.apache.spark.sql.sources.IsNotNull])
      if (spec.buckets <= 0 || !onlyNullGuards || spec.columnMap.nonEmpty) return None
      // schema evolution (added columns / widened types): the bucket
      // readers read files at one fixed schema — serve evolved snapshots
      // through the V1 path, which handles per-file schemas
      if (snap.history.map(_.schemaJson).distinct.size > 1) return None
      val dataSchema = snap.schema
      val dataFields = dataSchema.fieldNames.toSet
      if (required.isEmpty || !required.fieldNames.forall(dataFields.contains)) return None
      val live = snap.live
      // foreign base dirs (shallow clone / convert-in-place) keep the
      // general path; MoR logs and deletion vectors are served IN the
      // bucket readers (per-bucket merge / position skipping), so
      // row-level changes no longer forfeit the storage-partitioned join
      if (live.exists(_.base.isDefined)) return None
      val anyLog = live.exists(_.log)
      val order = dataSchema.fieldNames.zipWithIndex.toMap
      val keyType = dataSchema(spec.key).dataType
      val pcType = dataSchema(spec.precombine).dataType
      if (anyLog && !(GraftScanBuilder.hashableKey(keyType) &&
        GraftScanBuilder.orderablePc(pcType))) return None
      // columns physically read from the files: the merge needs key +
      // precombine even when unprojected; `_bucket` is dir layout, never
      // file data. Always schema order (the reader emits file order).
      val fileNames: Seq[String] =
        if (anyLog)
          (required.fieldNames.toSeq ++ Seq(spec.key, spec.precombine))
            .distinct.filter(_ != TableSpec.BUCKET_COL).sortBy(order)
        else required.fieldNames.toSeq.filter(_ != TableSpec.BUCKET_COL)
      if (!anyLog) {
        // the plain reader's emission is identity (zero projection) —
        // required must be a schema-order subsequence
        val idx = required.fieldNames.map(order)
        if (!idx.sameElements(idx.sorted)) return None
      }
      val fileSchema = StructType(fileNames.map(n => dataSchema(n)))
      val fOrd = fileNames.zipWithIndex.toMap
      val outIdx = required.fieldNames.map(n =>
        if (n == TableSpec.BUCKET_COL) -1 else fOrd(n))
      val merge =
        if (anyLog)
          Some(BucketMergeSpec(fOrd(spec.key), keyType, fOrd(spec.precombine), pcType))
        else None
      // per-file descriptors: write-id from the `_v=` dir (the merge
      // tiebreak), DV sidecar dirs listed HERE on the driver so executors
      // never do filesystem metadata work
      val conf = SparkSession.active.sessionState.newHadoopConf()
      val dvLists = scala.collection.mutable.HashMap.empty[String, Array[String]]
      def dvFilesOf(d: String): Array[String] = dvLists.getOrElseUpdate(d, {
        val root = if (d.startsWith("/")) d else s"${t.dataDir}/$d"
        val p = new Path(root)
        p.getFileSystem(conf).listStatus(p).map(_.getPath)
          .filter(_.getName.endsWith(".parquet")).map(_.toString).sorted
      })
      val descs = live.map { a =>
        val b = a.partitionValue.flatMap(_.toIntOption)
        val head = a.path.takeWhile(_ != '/')
        val wid = // `_v=<writeId>/…` — the same dir readFiles parses by name
          if (head.startsWith("_v=")) head.drop(3).toLongOption else None
        (b, wid, a)
      }
      if (descs.exists { case (b, wid, _) =>
        b.isEmpty || wid.isEmpty || b.get < 0 || b.get >= spec.buckets }) return None
      val byBucket = descs.groupBy(_._1.get).map { case (b, as) =>
        b -> as.map { case (_, wid, a) =>
          BucketFileDesc(s"${t.dataDir}/${a.path}", a.path, wid.get, a.log,
            a.tombstone, a.dv.map(dvFilesOf).getOrElse(Array.empty))
        }
      }
      Some(new GraftBucketScan(t, snap, spec.buckets, byBucket, required,
        fileSchema, outIdx, merge))
    } catch { case scala.util.control.NonFatal(_) => None }

  private def v1Scan(): Scan = new V1Scan
      with org.apache.spark.sql.connector.read.SupportsReportStatistics {
    override def readSchema(): StructType = required

    /** Commit-log table stats (bytes + rows + ANALYZE column stats) so
      * catalog-table joins get auto-broadcast and CBO planning. NOTE:
      * Spark's push-down wraps a `V1Scan` in `V1ScanWrapper`, which hides
      * this interface from the optimizer — the general v2
      * [[GraftFileScan]] is the path that actually feeds the CBO; this
      * report covers direct consumers of the un-pushed relation. */
    override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
      GraftScanStats.estimate(table, snap)

    override def toV1TableScan[T <: BaseRelation with TableScan](ctx: SQLContext): T =
      new BaseRelation with TableScan {
        override def sqlContext: SQLContext = ctx
        override def schema: StructType = required
        override def buildScan(): RDD[Row] = {
          // pushed filters prune whole files from commit-log stats before
          // the scan plans (same data-skipping path as the V1 relation)
          val t = LakeTable.load(ctx.sparkSession, path)
          var df =
            if (filters.nonEmpty) t.readWhere(filters.toIndexedSeq, asOf) else t.read(asOf)
          filters.flatMap(GraftRelation.toColumnStatic).foreach(c => df = df.filter(c))
          df.select(required.fieldNames.map(col).toIndexedSeq: _*).rdd
        }
      }.asInstanceOf[T]
  }
}

object GraftScanBuilder {
  import org.apache.spark.sql.types._

  /** Key types the in-reader MoR merge can hash: boxed integrals and
    * UTF8String hash/compare by value (a byte[]-backed BinaryType would
    * not). Matches the `exact` set the stats pruner trusts. */
  private[sources] def hashableKey(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType | StringType => true
    case _ => false
  }

  /** Precombine types whose boxed forms are [[java.lang.Comparable]] with
    * the same order as Spark's struct ordering — the latest-wins compare
    * runs on raw reader values. */
  private[sources] def orderablePc(t: DataType): Boolean = t match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
         FloatType | DoubleType | StringType | DateType |
         TimestampType | TimestampNTZType => true
    case _ => false
  }
}

/** INSERT INTO → keyed upsert; INSERT OVERWRITE / TRUNCATE → full load —
  * the same LakeTable writes the V1 `format("graft")` path runs. */
class GraftWriteBuilder(path: String)
    extends WriteBuilder with SupportsTruncate with SupportsOverwrite {

  private var overwriteAll = false

  override def truncate(): WriteBuilder = { overwriteAll = true; this }

  override def overwrite(filters: Array[Filter]): WriteBuilder = filters match {
    case Array(AlwaysTrue()) | Array() => truncate()
    case other => throw new UnsupportedOperationException(
      s"graft supports only full INSERT OVERWRITE, got ${other.mkString(",")}")
  }

  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation = new InsertableRelation {
      override def insert(data: DataFrame, overwrite: Boolean): Unit = {
        val table = LakeTable.load(data.sparkSession, path)
        val declared = table.schema
        val metaSet = LakeTable.META_COLS.toSet
        // ACCEPT_ANY_SCHEMA: align the incoming frame ourselves — by name
        // when the names match the data schema (meta columns dropped if
        // present), by position otherwise (e.g. INSERT … VALUES)
        val noMeta = data.drop(LakeTable.META_COLS.filter(data.columns.contains): _*)
        val aligned =
          if (declared.fieldNames.toSet == noMeta.columns.toSet)
            noMeta.select(declared.fieldNames.map(col).toIndexedSeq: _*)
          else if (noMeta.columns.length == declared.length)
            noMeta.toDF(declared.fieldNames.toIndexedSeq: _*)
          else throw new IllegalArgumentException(
            s"cannot align INSERT columns ${noMeta.columns.mkString(",")} " +
              s"to table schema ${declared.fieldNames.mkString(",")}")
        if (overwriteAll || overwrite) { table.overwrite(aligned); () }
        else { table.upsert(aligned); () }
      }
    }
  }
}

/** Shared v2 statistics report for graft scans: table bytes + row count
  * from the commit log (auto-broadcast planning) plus, when the table has
  * been ANALYZEd, per-column NDV/null-count stats — Spark's
  * `transformV2Stats` folds them into catalyst attribute stats, which is
  * what lets the CBO estimate join cardinalities and reorder multi-fact
  * joins. All driver-side commit-log metadata — no file footer is
  * opened. */
object GraftScanStats {
  /** Statistics of snapshot `s` of table `t` — the snapshot the scan reads. */
  private[graft] def estimate(table: => LakeTable,
      snapshot: => Snapshot): org.apache.spark.sql.connector.read.Statistics = {
    val ts: Option[(LakeTable, Snapshot)] =
      try Some((table, snapshot)) catch { case scala.util.control.NonFatal(_) => None }
    val est: Option[(Long, Long)] =
      try ts.map { case (t, s) => (t.sizeAt(s), s.live.map(a => a.rows - a.dvRows).sum) }
      catch { case scala.util.control.NonFatal(_) => None }
    val colStats: java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
      val m = new java.util.HashMap[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
      try ts.flatMap { case (t, s) => t.tableStatsAt(s) }.foreach { ts =>
        ts.cols.foreach { case (name, cs) =>
          m.put(Expressions.column(name),
            new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
              override def distinctCount(): java.util.OptionalLong =
                java.util.OptionalLong.of(cs.ndv)
              override def nullCount(): java.util.OptionalLong =
                java.util.OptionalLong.of(cs.nulls)
            })
        }
      } catch { case scala.util.control.NonFatal(_) => () }
      m
    }
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        est.map(e => java.util.OptionalLong.of(e._1)).getOrElse(java.util.OptionalLong.empty())
      override def numRows(): java.util.OptionalLong =
        est.map(e => java.util.OptionalLong.of(e._2)).getOrElse(java.util.OptionalLong.empty())
      override def columnStats(): java.util.Map[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = colStats
    }
  }
}

/** Tiny scan carrying a completely pushed-down aggregate answered from
  * commit-log metadata ([[GraftScanBuilder.pushAggregation]]) — the
  * executed plan reads these InternalRows (one per group; ungrouped = one
  * row) instead of the table. */
class GraftMetaAggScan(schema: StructType, rows: Seq[Seq[Any]])
  extends org.apache.spark.sql.connector.read.Scan
  with org.apache.spark.sql.connector.read.Batch {
  override def readSchema(): StructType = schema
  override def toBatch: org.apache.spark.sql.connector.read.Batch = this
  override def planInputPartitions():
      Array[org.apache.spark.sql.connector.read.InputPartition] =
    Array(GraftMetaAggPartition(rows))
  override def createReaderFactory():
      org.apache.spark.sql.connector.read.PartitionReaderFactory =
    GraftMetaAggReaderFactory()
}

case class GraftMetaAggPartition(rows: Seq[Seq[Any]])
  extends org.apache.spark.sql.connector.read.InputPartition

case class GraftMetaAggReaderFactory()
  extends org.apache.spark.sql.connector.read.PartitionReaderFactory {
  override def createReader(p: org.apache.spark.sql.connector.read.InputPartition):
      org.apache.spark.sql.connector.read.PartitionReader[
        org.apache.spark.sql.catalyst.InternalRow] =
    new org.apache.spark.sql.connector.read.PartitionReader[
        org.apache.spark.sql.catalyst.InternalRow] {
      private val it = p.asInstanceOf[GraftMetaAggPartition].rows.iterator
      private var cur: Seq[Any] = _
      override def next(): Boolean = if (it.hasNext) { cur = it.next(); true } else false
      override def get(): org.apache.spark.sql.catalyst.InternalRow =
        org.apache.spark.sql.catalyst.InternalRow.fromSeq(cur)
      override def close(): Unit = ()
    }
}
