package graft.sql

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{BooleanType, DataType, LongType, StringType, StructType}

import graft.lake.LakeTable

/** Maintenance SQL for graft tables — the Delta statements operators run
  * (`/root/reference/README.md:1240` shows the workflow these serve):
  *
  * {{{
  * OPTIMIZE tbl                       -- small-file concatenation (+ MoR log fold)
  * OPTIMIZE tbl ZORDER BY (a, b)      -- multi-dimensional clustering
  * VACUUM tbl                         -- default 168h retention, like Delta
  * VACUUM tbl RETAIN 24 HOURS
  * REORG TABLE tbl APPLY (PURGE)      -- materialize deletion vectors
  * DESCRIBE HISTORY tbl
  * }}}
  *
  * The target is a session-catalog table name or a quoted path
  * (`'/path/to/table'` or Delta-style ``graft.`/path/to/table` ``).
  * Injected ahead of Spark's parser; everything else delegates. (Like
  * Delta, `DESCRIBE HISTORY x` shadows `DESCRIBE` of a table literally
  * named `history`.)
  */
class GraftSqlParser(session: SparkSession, delegate: ParserInterface)
    extends ParserInterface {
  import GraftSqlParser._

  /** Whether the target is a graft table: quoted paths and ``graft.`path` ``
    * always are (`Some(true)`); a catalog identifier is checked against its
    * declared provider, so `DESCRIBE DETAIL some_delta_table` or `OPTIMIZE
    * hive_tbl` (provider absent) falls through to the delegate chain
    * instead of being intercepted with a graft error. `None` = the
    * identifier doesn't resolve at parse time. */
  private def graftTarget(target: String): Option[Boolean] = {
    val t = target.trim
    if (t.startsWith("'") || t.toLowerCase.startsWith("graft.`")) Some(true)
    else scala.util.Try {
      val ident = delegate.parseTableIdentifier(t)
      session.sessionState.catalog.getTableMetadata(ident)
        .provider.exists(_.equalsIgnoreCase("graft"))
    }.toOption
  }

  /** Claim the statement when the target is graft's; delegate when it is
    * provably another provider's; when unresolvable, let the delegate try
    * first (another extension may claim it) and fall back to the graft
    * command, whose execution reports the clear "no such table" error
    * rather than a bare parse error. */
  private def claimOr(sqlText: String, target: String)(cmd: => LogicalPlan): LogicalPlan =
    graftTarget(target) match {
      case Some(true)  => cmd
      case Some(false) => delegate.parsePlan(sqlText)
      case None        => scala.util.Try(delegate.parsePlan(sqlText)).getOrElse(cmd)
    }

  override def parsePlan(sqlText: String): LogicalPlan = sqlText match {
    case OPTIMIZE_RE(target, where, zcols, inc) => claimOr(sqlText, target) {
      GraftOptimizeCommand(target.trim,
        Option(zcols).map(_.split(",").map(stripIdent).toSeq).getOrElse(Seq.empty),
        Option(where).map(_.trim), incremental = inc != null)
    }
    case VACUUM_RE(target, hours, dry) => claimOr(sqlText, target) {
      GraftVacuumCommand(target.trim,
        Option(hours).map(_.toDouble).getOrElse(DEFAULT_RETAIN_HOURS),
        dryRun = dry != null)
    }
    case HISTORY_RE(target) => claimOr(sqlText, target) {
      GraftDescribeHistoryCommand(target.trim)
    }
    case DETAIL_RE(target) => claimOr(sqlText, target) {
      GraftDescribeDetailCommand(target.trim)
    }
    case RESTORE_RE(target, v) => claimOr(sqlText, target) {
      GraftRestoreCommand(target.trim, Left(v.toLong))
    }
    case RESTORE_TS_RE(target, ts) => claimOr(sqlText, target) {
      GraftRestoreCommand(target.trim, Right(ts))
    }
    case SHOW_PARTS_RE(target) => claimOr(sqlText, target) {
      GraftShowPartitionsCommand(target.trim)
    }
    // claim by the SOURCE's provider (the target doesn't exist yet)
    case CLONE_RE(target, kind, source, v, loc) => claimOr(sqlText, source) {
      GraftCloneCommand(target.trim, source.trim,
        Option(v).map(_.toLong), Option(loc),
        deep = kind.equalsIgnoreCase("DEEP"))
    }
    case ANALYZE_RE(target, cols) => claimOr(sqlText, target) {
      GraftAnalyzeCommand(target.trim,
        Option(cols).map(_.split(",").map(stripIdent).toSeq).getOrElse(Seq.empty))
    }
    case SET_PROPS_RE(target, kvs) => claimOr(sqlText, target) {
      GraftSetPropertiesCommand(target.trim, parseProps(kvs))
    }
    case UNSET_PROPS_RE(target, keys) => claimOr(sqlText, target) {
      GraftUnsetPropertiesCommand(target.trim,
        keys.split(",").map(_.trim.stripPrefix("'").stripSuffix("'")).toSeq)
    }
    case SHOW_PROPS_RE(target) => claimOr(sqlText, target) {
      GraftShowPropertiesCommand(target.trim)
    }
    case ADD_CONSTRAINT_RE(target, name, check) => claimOr(sqlText, target) {
      GraftAddConstraintCommand(target.trim, name, check.trim)
    }
    case DROP_CONSTRAINT_RE(target, name) => claimOr(sqlText, target) {
      GraftDropConstraintCommand(target.trim, name)
    }
    case COPY_INTO_RE(target, src, pat) => claimOr(sqlText, target) {
      GraftCopyIntoCommand(target.trim, src, Option(pat))
    }
    case GENERATE_RE(mode, target) => claimOr(sqlText, target) {
      GraftGenerateManifestCommand(target.trim, mode = mode.toLowerCase)
    }
    case CREATE_MV_RE(target, query) => claimOr(sqlText, target) {
      GraftCreateMaterializedViewCommand(target.trim, query.trim)
    }
    case REFRESH_MV_RE(target, ifStale) => claimOr(sqlText, target) {
      GraftRefreshMaterializedViewCommand(target.trim, ifStale = ifStale != null)
    }
    case DROP_MV_RE(target) => claimOr(sqlText, target) {
      GraftDropMaterializedViewCommand(target.trim)
    }
    case DESC_MV_RE(target) => claimOr(sqlText, target) {
      GraftDescribeMaterializedViewCommand(target.trim)
    }
    case REORG_RE(target) => claimOr(sqlText, target) {
      GraftReorgPurgeCommand(target.trim)
    }
    case CREATE_BLOOM_RE(target, cols) => claimOr(sqlText, target) {
      GraftBloomIndexCommand(target.trim,
        cols.split(",").map(stripIdent).toSeq, drop = false)
    }
    case DROP_BLOOM_RE(target) => claimOr(sqlText, target) {
      GraftBloomIndexCommand(target.trim, Seq.empty, drop = true)
    }
    case FSCK_RE(target, dry) => claimOr(sqlText, target) {
      GraftFsckCommand(target.trim, dry != null)
    }
    case SET_PART_RE(target, colName) => claimOr(sqlText, target) {
      GraftChangePartitionCommand(target.trim, Some(stripIdent(colName)))
    }
    case DROP_PART_RE(target) => claimOr(sqlText, target) {
      GraftChangePartitionCommand(target.trim, None)
    }
    case _ => delegate.parsePlan(sqlText)
  }

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
}

object GraftSqlParser {
  /** Delta's default VACUUM retention. */
  val DEFAULT_RETAIN_HOURS: Double = 168.0

  private val TGT = """((?:'[^']+')|(?:graft\.`[^`]+`)|(?:[\w.]+))"""
  private[sql] val OPTIMIZE_RE =
    (s"""(?is)\\s*OPTIMIZE\\s+$TGT\\s*(?:WHERE\\s+(.+?))?\\s*""" +
      """(?:ZORDER\s+BY\s*\(([^)]+)\)(\s+INCREMENTAL)?)?\s*;?\s*""").r
  private[sql] val VACUUM_RE =
    (s"""(?is)\\s*VACUUM\\s+$TGT\\s*(?:RETAIN\\s+(\\d+(?:\\.\\d+)?)\\s+HOURS?)?""" +
      """\s*(DRY\s+RUN)?\s*;?\s*""").r
  private[sql] val HISTORY_RE =
    (s"""(?is)\\s*DESC(?:RIBE)?\\s+HISTORY\\s+$TGT\\s*;?\\s*""").r
  private[sql] val DETAIL_RE =
    (s"""(?is)\\s*DESC(?:RIBE)?\\s+DETAIL\\s+$TGT\\s*;?\\s*""").r
  private[sql] val RESTORE_RE =
    (s"""(?is)\\s*RESTORE\\s+(?:TABLE\\s+)?$TGT\\s+TO\\s+VERSION\\s+AS\\s+OF\\s+(\\d+)\\s*;?\\s*""").r
  private[sql] val RESTORE_TS_RE =
    (s"""(?is)\\s*RESTORE\\s+(?:TABLE\\s+)?$TGT\\s+TO\\s+TIMESTAMP\\s+AS\\s+OF\\s+'([^']+)'\\s*;?\\s*""").r
  private[sql] val SHOW_PARTS_RE =
    (s"""(?is)\\s*SHOW\\s+PARTITIONS\\s+$TGT\\s*;?\\s*""").r
  private[sql] val CLONE_RE =
    (s"""(?is)\\s*CREATE\\s+TABLE\\s+$TGT\\s+(SHALLOW|DEEP)\\s+CLONE\\s+$TGT""" +
      """(?:\s+VERSION\s+AS\s+OF\s+(\d+))?(?:\s+LOCATION\s+'([^']+)')?\s*;?\s*""").r
  private[sql] val SET_PROPS_RE =
    (s"""(?is)\\s*ALTER\\s+TABLE\\s+$TGT\\s+SET\\s+TBLPROPERTIES\\s*""" +
      """\(([^)]+)\)\s*;?\s*""").r

  /** `'k' = 'v', k2 = 'v2'` → map (quotes on either side optional). */
  private[sql] def parseProps(kvs: String): Map[String, String] =
    kvs.split(",").map { kv =>
      val Array(k, v) = kv.split("=", 2).map(_.trim.stripPrefix("'").stripSuffix("'"))
      k -> v
    }.toMap

  private[sql] val UNSET_PROPS_RE =
    (s"""(?is)\\s*ALTER\\s+TABLE\\s+$TGT\\s+UNSET\\s+TBLPROPERTIES\\s*""" +
      """\(([^)]+)\)\s*;?\s*""").r
  private[sql] val SHOW_PROPS_RE =
    (s"""(?is)\\s*SHOW\\s+TBLPROPERTIES\\s+$TGT\\s*;?\\s*""").r
  private[sql] val ANALYZE_RE =
    (s"""(?is)\\s*ANALYZE\\s+TABLE\\s+$TGT\\s+COMPUTE\\s+STATISTICS""" +
      """(?:\s+FOR\s+(?:ALL\s+COLUMNS|COLUMNS\s+([^;]+)))?\s*;?\s*""").r
  private[sql] val ADD_CONSTRAINT_RE =
    (s"""(?is)\\s*ALTER\\s+TABLE\\s+$TGT\\s+ADD\\s+CONSTRAINT\\s+(\\w+)""" +
      """\s+CHECK\s*\((.+)\)\s*;?\s*""").r
  private[sql] val DROP_CONSTRAINT_RE =
    (s"""(?is)\\s*ALTER\\s+TABLE\\s+$TGT\\s+DROP\\s+CONSTRAINT\\s+(\\w+)\\s*;?\\s*""").r
  private[sql] val COPY_INTO_RE =
    (s"""(?is)\\s*COPY\\s+INTO\\s+$TGT\\s+FROM\\s+'([^']+)'""" +
      """(?:\s+FILEFORMAT\s*=\s*PARQUET)?(?:\s+PATTERN\s*=\s*'([^']+)')?\s*;?\s*""").r
  private[sql] val GENERATE_RE =
    (s"""(?is)\\s*GENERATE\\s+(symlink_format_manifest|delta_log|iceberg_metadata)\\s+FOR\\s+TABLE\\s+$TGT\\s*;?\\s*""").r
  private[sql] val CREATE_MV_RE =
    (s"""(?is)\\s*CREATE\\s+MATERIALIZED\\s+VIEW\\s+$TGT\\s+AS\\s+(.+?)\\s*;?\\s*""").r
  private[sql] val REFRESH_MV_RE =
    (s"""(?is)\\s*REFRESH\\s+MATERIALIZED\\s+VIEW\\s+$TGT(\\s+IF\\s+STALE)?\\s*;?\\s*""").r
  private[sql] val DROP_MV_RE =
    (s"""(?is)\\s*DROP\\s+MATERIALIZED\\s+VIEW\\s+$TGT\\s*;?\\s*""").r
  private[sql] val DESC_MV_RE =
    (s"""(?is)\\s*DESC(?:RIBE)?\\s+MATERIALIZED\\s+VIEW\\s+$TGT\\s*;?\\s*""").r

  private[sql] val REORG_RE =
    (s"""(?is)\\s*REORG\\s+TABLE\\s+$TGT\\s+APPLY\\s*\\(\\s*PURGE\\s*\\)\\s*;?\\s*""").r

  private[sql] val CREATE_BLOOM_RE =
    (s"""(?is)\\s*CREATE\\s+BLOOMFILTER\\s+INDEX\\s+ON\\s+(?:TABLE\\s+)?$TGT""" +
      """\s+FOR\s+COLUMNS\s*\(([^)]+)\)\s*;?\s*""").r
  private[sql] val DROP_BLOOM_RE =
    (s"""(?is)\\s*DROP\\s+BLOOMFILTER\\s+INDEX\\s+ON\\s+(?:TABLE\\s+)?$TGT\\s*;?\\s*""").r
  private[sql] val FSCK_RE =
    (s"""(?is)\\s*FSCK\\s+REPAIR\\s+TABLE\\s+$TGT(\\s+DRY\\s+RUN)?\\s*;?\\s*""").r
  private[sql] val SET_PART_RE =
    (s"""(?is)\\s*ALTER\\s+TABLE\\s+$TGT\\s+SET\\s+PARTITION\\s+FIELD\\s+(`?\\w+`?)\\s*;?\\s*""").r
  private[sql] val DROP_PART_RE =
    (s"""(?is)\\s*ALTER\\s+TABLE\\s+$TGT\\s+DROP\\s+PARTITION\\s+FIELD\\s*;?\\s*""").r

  private def stripIdent(s: String): String =
    s.trim.stripPrefix("`").stripSuffix("`")

  /** Resolve the statement target to a table path: quoted path, Delta-style
    * ``graft.`path` ``, or a session-catalog `USING graft` table. */
  /** The literal path of a quoted target (`'<dir>'` or ``graft.`<dir>` ``);
    * None for catalog identifiers. */
  private[sql] def rawPath(target: String): Option[String] =
    if (target.startsWith("'")) Some(target.stripPrefix("'").stripSuffix("'"))
    else if (target.toLowerCase.startsWith("graft.`"))
      Some(target.substring("graft.`".length).stripSuffix("`"))
    else None

  def resolveTable(spark: SparkSession, target: String): LakeTable = {
    val path =
      if (target.startsWith("'")) target.stripPrefix("'").stripSuffix("'")
      else if (target.toLowerCase.startsWith("graft.`"))
        target.substring("graft.`".length).stripSuffix("`")
      else {
        val ident = spark.sessionState.sqlParser.parseTableIdentifier(target)
        val meta = spark.sessionState.catalog.getTableMetadata(ident)
        require(meta.provider.exists(_.equalsIgnoreCase("graft")),
          s"$target is not a graft table (provider=${meta.provider.getOrElse("?")})")
        new Path(meta.location).toString
      }
    LakeTable.load(spark, new Path(path).toString)
  }
}

case class GraftOptimizeCommand(target: String, zorderCols: Seq[String],
    where: Option[String] = None, incremental: Boolean = false)
    extends LeafRunnableCommand {

  /** Delta-style partition predicate for `OPTIMIZE t WHERE …`: equality or
    * IN on the table's partition column only (the same restriction Delta
    * documents) — evaluated against commit-log partitionValue strings, so
    * scoping is pure metadata. */
  private def partitionPredicate(t: graft.lake.LakeTable): Option[String => Boolean] =
    where.map { w =>
      val part = t.spec.partition.getOrElse(throw new IllegalArgumentException(
        s"OPTIMIZE … WHERE needs a partitioned table ($target is unpartitioned)"))
      def lit(s: String): String = s.trim.stripPrefix("'").stripSuffix("'")
      val Eq = ("""(?is)\s*`?(\w+)`?\s*=\s*('[^']*'|[\w.-]+)\s*""").r
      val In = ("""(?is)\s*`?(\w+)`?\s+IN\s*\(([^)]+)\)\s*""").r
      w match {
        case Eq(c, v) if c.equalsIgnoreCase(part) =>
          val want = lit(v); pv => pv == want
        case In(c, vs) if c.equalsIgnoreCase(part) =>
          val want = vs.split(",").map(lit).toSet; pv => want.contains(pv)
        case other => throw new IllegalArgumentException(
          s"OPTIMIZE … WHERE supports `$part = <value>` or `$part IN (…)` " +
            s"on the partition column only, got: $other")
      }
    }

  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftSqlParser.resolveTable(spark, target)
    // optimize() itself folds a MoR table's outstanding logs via compact()
    if (zorderCols.nonEmpty) {
      require(where.isEmpty, "OPTIMIZE … WHERE cannot combine with ZORDER BY")
      // INCREMENTAL = liquid-clustering style: only files added since the
      // last zorder re-cluster (cost ∝ new data, never ∝ table size)
      t.zorder(zorderCols, incremental = incremental)
    } else {
      require(!incremental, "INCREMENTAL applies to ZORDER BY only")
      t.optimize(partitionFilter = partitionPredicate(t))
    }
    Seq.empty
  }
}

case class GraftVacuumCommand(target: String, retainHours: Double,
    dryRun: Boolean = false)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    if (dryRun) Seq(AttributeReference("path", StringType)()) else Seq.empty

  override def run(spark: SparkSession): Seq[Row] = {
    val doomed = GraftSqlParser.resolveTable(spark, target)
      .vacuum(retainHours = Some(retainHours), dryRun = dryRun)
    if (dryRun) doomed.sorted.map(Row(_)) else Seq.empty
  }
}

/** Delta `COPY INTO t FROM 'dir' [FILEFORMAT = PARQUET] [PATTERN = 'glob']`
  * analog: file-granular idempotent parquet ingestion
  * ([[graft.lake.LakeTable.copyInto]]). Returns one row per file loaded by
  * THIS statement (rerun → zero rows, nothing committed). */
case class GraftCopyIntoCommand(target: String, sourceDir: String,
    pattern: Option[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("file_loaded", StringType)())

  override def run(spark: SparkSession): Seq[Row] =
    GraftSqlParser.resolveTable(spark, target)
      .copyInto(sourceDir, pattern).sorted.map(Row(_))
}

/** Delta `GENERATE symlink_format_manifest FOR TABLE t` analog
  * ([[graft.lake.LakeTable.generateManifest]]): one row per partition
  * manifest written. */
/** `CREATE MATERIALIZED VIEW '<dir>' AS SELECT … [WHERE pred] GROUP BY …`:
  * analyze the definition, extract the maintainable (base, dims, aggs,
  * joins, filter) shape ([[GraftMvShape]] — the mirror of the rewrite
  * matcher, so anything accepted here the rewrite can serve), build the
  * view with its initial full state, and register it for automatic query
  * rewrite. The FROM may be any reference that resolves to a graft
  * snapshot (temp view over `format("graft")`, DSv2 catalog table), a
  * left-deep inner equi-join star over one, or a snowflake chain
  * (parent-first); a WHERE defines a FILTERED view. */
case class GraftCreateMaterializedViewCommand(target: String, query: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("path", StringType)())

  override def run(spark: SparkSession): Seq[Row] = {
    val mvPath = GraftSqlParser.rawPath(target).getOrElse(
      throw new IllegalArgumentException(
        "CREATE MATERIALIZED VIEW target must be a path: '<dir>' or graft.`<dir>`"))
    val analyzed = spark.sessionState.executePlan(
      spark.sessionState.sqlParser.parsePlan(query)).analyzed
    GraftMvShape.extract(analyzed) match {
      case Left(err) => throw new IllegalArgumentException(
        s"materialized view definition is not incrementally maintainable: $err")
      case Right((basePath, dims, aggs, join, filterSql, dimExprs)) =>
        // create() validates the join-key naming contract (every key in
        // exactly one schema, chains parent-first) BEFORE any state write;
        // surface its message under the same banner as extract errors so
        // SQL users get one consistent error path
        try graft.lake.MaterializedView.create(spark, mvPath,
          LakeTable.load(spark, basePath), dims, aggs, join, filterSql, dimExprs)
        catch {
          case e: IllegalArgumentException => throw new IllegalArgumentException(
            s"materialized view definition is not incrementally maintainable: " +
              e.getMessage.stripPrefix("requirement failed: "))
        }
        GraftMvRewrite.register(mvPath)
        Seq(Row(mvPath))
    }
  }
}

/** `REFRESH MATERIALIZED VIEW '<dir>' [IF STALE]`: bring the view up to
  * date with the base table (cost ∝ churn) and re-register it for rewrite.
  * `IF STALE` is the alerting/serving form: it checks the maintenance
  * cursors against every member table's latest commit first (commit-log
  * metadata only — same check `mv_freshness()` surfaces per table) and
  * refreshes only when some member moved, returning `was_stale` so an
  * operator pipeline can alert on views found stale. One statement thus
  * takes a stale view back to "the rewrite serves it" with a guaranteed
  * no-op when nothing changed.
  *
  * The check-then-act race (a member commit landing between a staleness
  * probe and the command's return) is closed by a probe-act-RECHECK loop:
  * a fresh verdict must be CONFIRMED by a second probe, and every refresh
  * is followed by one, so a mid-command commit is caught by the next
  * probe instead of silently surviving with `was_stale = false`. The
  * loop is bounded; under a pathological commit storm the final report
  * is conservative — `was_stale = true`, view fresh as of its last
  * refresh. */
case class GraftRefreshMaterializedViewCommand(target: String,
    ifStale: Boolean = false) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    if (ifStale)
      Seq(AttributeReference("last_refreshed_version", LongType)(),
        AttributeReference("was_stale", BooleanType)())
    else Seq(AttributeReference("last_refreshed_version", LongType)())

  override def run(spark: SparkSession): Seq[Row] = {
    val mvPath = GraftSqlParser.rawPath(target).getOrElse(
      throw new IllegalArgumentException(
        "REFRESH MATERIALIZED VIEW target must be a path: '<dir>' or graft.`<dir>`"))
    val mv0 = graft.lake.MaterializedView.load(spark, mvPath)
    if (ifStale) {
      val meta = mv0.meta
      def staleNow(): Boolean = {
        val (cf, cds) = mv0.refreshedVersions
        cf < LakeTable.load(spark, meta.basePath).latestVersion ||
          meta.joins.zip(cds).exists { case (j, c) =>
            c < LakeTable.load(spark, j.dimPath).latestVersion }
      }
      var wasStale = false
      var rounds = 0
      var done = false
      while (!done && rounds < 5) {
        rounds += 1
        val st = staleNow()
        if (rounds == 1) GraftRefreshMaterializedViewCommand.afterProbe()
        if (st) { mv0.refresh(); wasStale = true }
        else if (rounds > 1) done = true // fresh CONFIRMED by a re-probe
        else done = !staleNow() // first fresh verdict: confirm once
      }
      GraftMvRewrite.register(mvPath)
      Seq(Row(mv0.lastRefreshedVersion, wasStale))
    } else {
      val mv = mv0.refresh()
      GraftMvRewrite.register(mvPath)
      Seq(Row(mv.lastRefreshedVersion))
    }
  }
}

object GraftRefreshMaterializedViewCommand {
  /** Test seam: invoked once, right after the FIRST staleness probe of an
    * `IF STALE` run — lets a spec land a racing commit deterministically
    * inside the probe→act window the recheck loop exists to close. */
  @volatile private[graft] var afterProbe: () => Unit = () => ()
}

/** `DROP MATERIALIZED VIEW '<dir>'`: unregister from the rewrite and
  * delete the view's state. The base table is untouched. */
case class GraftDropMaterializedViewCommand(target: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("path", StringType)())

  override def run(spark: SparkSession): Seq[Row] = {
    val mvPath = GraftSqlParser.rawPath(target).getOrElse(
      throw new IllegalArgumentException(
        "DROP MATERIALIZED VIEW target must be a path: '<dir>' or graft.`<dir>`"))
    GraftMvRewrite.unregister(mvPath)
    // loading first gives the clear "no such view" error for a bad path
    graft.lake.MaterializedView.load(spark, mvPath)
    val p = new Path(mvPath)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    Seq(Row(mvPath))
  }
}

/** `DESC[RIBE] MATERIALIZED VIEW '<dir>'`: one (property, value) row per
  * definition element plus live freshness — the operator-facing summary
  * (what does this view maintain, over which tables, is it current)
  * without reading any data file: meta JSON + commit-log metadata only. */
case class GraftDescribeMaterializedViewCommand(target: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("property", StringType)(),
      AttributeReference("value", StringType)())

  override def run(spark: SparkSession): Seq[Row] = {
    val mvPath = GraftSqlParser.rawPath(target).getOrElse(
      throw new IllegalArgumentException(
        "DESCRIBE MATERIALIZED VIEW target must be a path: '<dir>' or graft.`<dir>`"))
    val mv = graft.lake.MaterializedView.load(spark, mvPath)
    val meta = mv.meta
    val (cf, cds) = mv.refreshedVersions
    val members =
      (meta.basePath, "base", cf) +: meta.joins.zip(cds).zipWithIndex.map {
        case ((j, c), i) => (j.dimPath, s"dim$i", c) }
    val memberTables = members.map { case (p, role, cur) =>
      (p, role, cur, LakeTable.load(spark, p)) }
    val freshness = memberTables.map { case (p, role, cur, t) =>
      (p, role, cur, t.latestVersion) }
    // the schema-evolution contract surface: definition references a
    // member rename/drop broke (refresh fails with the same list)
    val broken = graft.lake.MaterializedView.brokenReferences(spark, meta,
      memberTables.head._4.schema, memberTables.tail.map(_._4.schema))
    // the type-widening half of the same contract: state columns the next
    // refresh will widen in place to follow a member column's widening
    val widenings = graft.lake.MaterializedView.stateTypeChanges(spark, meta,
      mv.state.schema, memberTables.head._4.schema,
      memberTables.tail.map(_._4.schema))
    val rows =
      Seq(Row("path", mvPath), Row("base_path", meta.basePath)) ++
      meta.joins.map(j =>
        Row("join", s"'${j.dimPath}'" + (if (j.outer) " LEFT" else "") +
          " ON " + j.keyPairs
          .map { case (fk, dk) => s"$fk = $dk" }.mkString(" AND "))) ++
      meta.dims.map(d => meta.dimExprs.get(d) match {
        case Some(t) => Row("dim", s"$d := $t")
        case None => Row("dim", d)
      }) ++
      meta.aggs.map(a => Row("agg", s"${a.name} := ${a.kind}(${a.input})")) ++
      meta.filter.map(f => Row("filter", f)).toSeq ++
      freshness.map { case (_, role, cur, latest) =>
        Row(s"cursor.$role", s"$cur of $latest") } ++
      broken.map(x => Row("broken_reference", x)) ++
      widenings.map { case (c, have, want) =>
        Row("type_widening",
          s"state column $c ${have.simpleString} -> ${want.simpleString} " +
            "on next refresh") } ++
      Seq(
        Row("fresh", freshness.forall { case (_, _, c, l) => c >= l }.toString),
        // `fresh` is honest CURSOR currency; `servable` is the rewrite's
        // actual gate — a cursor behind by only physical-only commits
        // (compaction/zorder/metadata) still serves by metadata proof
        Row("servable", {
          val latest = freshness.map(f => f._1 -> f._4).toMap
          mv.servableFresh(meta, latest).toString
        }),
        Row("state_version", mv.state.latestVersion.toString),
        Row("registered_for_rewrite",
          GraftMvRewrite.registered.contains(mvPath).toString))
    rows
  }
}

case class GraftGenerateManifestCommand(target: String,
    mode: String = "symlink_format_manifest") extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("partition", StringType)())

  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftSqlParser.resolveTable(spark, target)
    mode match {
      case "delta_log" => Seq(Row(t.generateDeltaLog()))
      case "iceberg_metadata" => Seq(Row(t.generateIcebergMetadata()))
      case _ => t.generateManifest().map(Row(_))
    }
  }
}

/** Delta `REORG TABLE t APPLY (PURGE)` analog
  * ([[graft.lake.LakeTable.reorgPurge]]): materialize deletion vectors by
  * rewriting only the DV'd files. */
case class GraftReorgPurgeCommand(target: String)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    GraftSqlParser.resolveTable(spark, target).reorgPurge()
    Seq.empty
  }
}

/** `RESTORE TABLE t TO VERSION AS OF n | TO TIMESTAMP AS OF 'ts'` — the
  * timestamp resolves like time travel (newest commit at-or-before). */
case class GraftRestoreCommand(target: String, to: Either[Long, String])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftSqlParser.resolveTable(spark, target)
    val v = to match {
      case Left(version) => version
      case Right(ts) => t.versionAt(graft.lake.LakeTable.parseUserTimestamp(ts))
    }
    t.restore(v)
    Seq.empty
  }
}

/** Delta `DESCRIBE DETAIL` analog: one row of table-level metadata. */
case class GraftDescribeDetailCommand(target: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("format", StringType)(),
    AttributeReference("location", StringType)(),
    AttributeReference("table_type", StringType)(),
    AttributeReference("key", StringType)(),
    AttributeReference("precombine", StringType)(),
    AttributeReference("partition_column", StringType)(),
    AttributeReference("num_files", LongType)(),
    AttributeReference("num_rows", LongType)(),
    AttributeReference("size_bytes", LongType)(),
    AttributeReference("latest_version", LongType)(),
    AttributeReference("constraints", StringType)(),
    AttributeReference("stats_columns", StringType)())

  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftSqlParser.resolveTable(spark, target)
    // every column from one state of the table
    val s = t.snapshot()
    val spec = s.spec
    val cons = spec.constraints.toSeq.sortBy(_._1)
      .map { case (n, sql) => s"$n CHECK ($sql)" }.mkString("; ")
    Seq(Row("graft", t.path, if (spec.mor) "merge-on-read" else "copy-on-write",
      spec.key, spec.precombine, spec.partition.orNull,
      s.live.size.toLong, s.live.map(a => a.rows - a.dvRows).sum, t.sizeAt(s), s.version,
      if (cons.isEmpty) null else cons,
      if (spec.statsColumns.isEmpty) null else spec.statsColumns.mkString(",")))
  }
}

/** `CREATE TABLE t (SHALLOW|DEEP) CLONE s [VERSION AS OF n] [LOCATION
  * 'p']` — metadata-only fork (shallow, [[graft.lake.LakeTable.cloneTo]])
  * or fully independent copy (deep,
  * [[graft.lake.LakeTable.deepCloneTo]]). A catalog-name target needs
  * LOCATION; a quoted-path target is its own location and skips catalog
  * registration. */
case class GraftCloneCommand(target: String, source: String,
    version: Option[Long], location: Option[String], deep: Boolean = false)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val src = GraftSqlParser.resolveTable(spark, source)
    def isPath(t: String) = t.startsWith("'") || t.toLowerCase.startsWith("graft.`")
    val tgtPath = location.getOrElse {
      require(isPath(target),
        s"CREATE TABLE $target CLONE: a table-name target needs LOCATION '<path>'")
      if (target.startsWith("'")) target.stripPrefix("'").stripSuffix("'")
      else target.substring("graft.`".length).stripSuffix("`")
    }
    if (deep) src.deepCloneTo(new Path(tgtPath).toString, version)
    else src.cloneTo(new Path(tgtPath).toString, version)
    if (!isPath(target))
      spark.sql(s"CREATE TABLE $target USING graft LOCATION '$tgtPath'")
    Seq.empty
  }
}

/** `ANALYZE TABLE t COMPUTE STATISTICS [FOR COLUMNS a, b | FOR ALL
  * COLUMNS]` → [[graft.lake.LakeTable.analyze]]: NDV + null counts into
  * the commit log, feeding CBO join estimation through DSv2 statistics. */
case class GraftAnalyzeCommand(target: String, columns: Seq[String])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    GraftSqlParser.resolveTable(spark, target).analyze(columns)
    Seq.empty
  }
}

/** `ALTER TABLE t SET TBLPROPERTIES('autoCompactFiles'='8', …)` →
  * [[graft.lake.LakeTable.setProperties]] (mutable spec knobs only). */
case class GraftSetPropertiesCommand(target: String, props: Map[String, String])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    GraftSqlParser.resolveTable(spark, target).setProperties(props)
    Seq.empty
  }
}

/** `ALTER TABLE t UNSET TBLPROPERTIES ('k', …)`: reset each mutable spec
  * knob to its default (lists clear, thresholds drop to 0) — unknown keys
  * fail loudly, exactly like SET. */
case class GraftUnsetPropertiesCommand(target: String, keys: Seq[String])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val defaults = Map(
      "autocompactfiles" -> "0", "autocompactlogs" -> "0",
      "bloombitsperkey" -> "0", "statscolumns" -> "",
      "bloomcolumns" -> "", "writesortcolumns" -> "")
    val resets = keys.map { k =>
      defaults.get(k.toLowerCase) match {
        case Some(d) => k -> d
        case None => throw new IllegalArgumentException(
          s"unknown graft table property '$k' (unsettable: ${defaults.keys.mkString(", ")})")
      }
    }.toMap
    GraftSqlParser.resolveTable(spark, target).setProperties(resets)
    Seq.empty
  }
}

/** `SHOW TBLPROPERTIES t`: one (key, value) row per spec property —
  * identity metadata included read-only, list knobs comma-joined. */
case class GraftShowPropertiesCommand(target: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("key", StringType)(),
    AttributeReference("value", StringType)())

  override def run(spark: SparkSession): Seq[Row] = {
    val sp = GraftSqlParser.resolveTable(spark, target).spec
    Seq(
      "key" -> sp.key,
      "precombine" -> sp.precombine,
      "partition" -> sp.partition.getOrElse(""),
      "mor" -> sp.mor.toString,
      "buckets" -> sp.buckets.toString,
      "bloomBitsPerKey" -> sp.bloomBitsPerKey.toString,
      "autoCompactFiles" -> sp.autoCompactFiles.toString,
      "autoCompactLogs" -> sp.autoCompactLogs.toString,
      "statsColumns" -> sp.statsColumns.mkString(","),
      "sumColumns" -> sp.sumColumns.mkString(","),
      "bloomColumns" -> sp.bloomColumns.mkString(","),
      "writeSortColumns" -> sp.writeSortColumns.mkString(",")
    ).map { case (k, v) => Row(k, v) }
  }
}

case class GraftAddConstraintCommand(target: String, name: String, check: String)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    GraftSqlParser.resolveTable(spark, target).addConstraint(name, check)
    Seq.empty
  }
}

case class GraftDropConstraintCommand(target: String, name: String)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    GraftSqlParser.resolveTable(spark, target).dropConstraint(name)
    Seq.empty
  }
}

/** Delta-parity `CREATE BLOOMFILTER INDEX ON TABLE t FOR COLUMNS (c1,…)` /
  * `DROP BLOOMFILTER INDEX ON TABLE t`: declare (union with existing) or
  * clear the table's [[graft.lake.TableSpec.bloomColumns]] — a
  * metadata-only commit; sidecars appear with subsequent writes/rewrites,
  * earlier files fail open. */
case class GraftBloomIndexCommand(target: String, cols: Seq[String], drop: Boolean)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftSqlParser.resolveTable(spark, target)
    val next =
      if (drop) Seq.empty
      else (t.spec.bloomColumns ++ cols).distinct
    t.setProperties(Map("bloomColumns" -> next.mkString(",")))
    Seq.empty
  }
}

/** Delta-parity `FSCK REPAIR TABLE t [DRY RUN]`: drop commit-log
  * references to physically missing files (lost storage objects, lost DV
  * sidecars) so the table reads again; DRY RUN only reports. One row per
  * dropped reference. */
case class GraftFsckCommand(target: String, dryRun: Boolean)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("removed_file", StringType)())

  override def run(spark: SparkSession): Seq[Row] =
    GraftSqlParser.resolveTable(spark, target).repair(dryRun).map(Row(_))
}

/** Iceberg-style partition evolution: `ALTER TABLE t SET PARTITION FIELD c`
  * / `ALTER TABLE t DROP PARTITION FIELD` →
  * [[graft.lake.LakeTable.changePartition]] — a metadata-only commit; files
  * keep their own era's layout, new writes use the new column. */
case class GraftChangePartitionCommand(target: String, partition: Option[String])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    GraftSqlParser.resolveTable(spark, target).changePartition(partition)
    Seq.empty
  }
}

/** `SHOW PARTITIONS` answered from commit-log metadata (per-file
  * partitionValue stats) — no data file is opened. Output rows use Spark's
  * `col=value` partition-spec shape. */
case class GraftShowPartitionsCommand(target: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("partition", StringType)())

  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftSqlParser.resolveTable(spark, target)
    val p = t.spec.partition.getOrElse(
      throw new UnsupportedOperationException(s"$target is not partitioned"))
    t.partitionValues.map(v => Row(s"$p=$v"))
  }
}

case class GraftDescribeHistoryCommand(target: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType)(),
    AttributeReference("commit_time", StringType)(),
    AttributeReference("operation", StringType)(),
    AttributeReference("n_added_files", LongType)(),
    AttributeReference("n_removed_files", LongType)(),
    AttributeReference("n_added_rows", LongType)())

  override def run(spark: SparkSession): Seq[Row] =
    GraftSqlParser.resolveTable(spark, target).history.collect().toSeq
}
