package graft.sql

import scala.util.Try

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.UnresolvedTableValuedFunction
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

import graft.lake.LakeTable

/** SQL table-valued-function surface for the change data feed — the Delta
  * `table_changes` parity piece (the reference's Delta workflow reads CDF
  * in SQL; graft's [[LakeTable.changes]] was API-only before this):
  *
  * {{{
  * SELECT * FROM table_changes('events', 2)          -- (v2, latest]
  * SELECT * FROM table_changes('events', 2, 5)       -- (v2, v5]
  * SELECT * FROM table_changes('/path/to/table', 0)  -- by path
  * SELECT * FROM table_changes('t', TIMESTAMP '2026-01-01 00:00:00')
  * }}}
  *
  * [[GraftExtensions]] registers the function in the session's TABLE
  * function registry (`injectTableFunction`), so Spark's own
  * `ResolveFunctions` resolves it like a builtin TVF — the builder returns
  * the analyzed plan of `LakeTable.changes(since, end)`. Version bounds
  * follow the `changes` API: the window is `(since, end]`. A timestamp
  * argument resolves through [[LakeTable.versionAt]] (the newest commit
  * at-or-before it), like `TIMESTAMP AS OF`.
  *
  * The rewrite happens at analysis time on the driver; the resulting plan
  * is the ordinary distributed CDF read (cost ∝ window churn, never table
  * size), composable with any surrounding SQL — joins, filters and
  * aggregates over the feed all plan through Catalyst as usual.
  */
object GraftTableChanges {

  val NAME = "table_changes"
  /** Delta's path-addressed twin: the first argument is ALWAYS a table
    * path, never a catalog name. */
  val BY_PATH_NAME = "table_changes_by_path"

  /** TVF builder: literal args → the CDF read's analyzed plan. Argument
    * errors throw eagerly with the offending statement shape — the function
    * is registry-claimed, so there is no later resolver to defer to. */
  def plan(session: SparkSession, args: Seq[Expression],
      byPath: Boolean = false): LogicalPlan = {
    def fail(why: String): Nothing = throw new IllegalArgumentException(
      s"table_changes(table, since[, end]): $why " +
        s"(got ${args.map(_.sql).mkString("(", ", ", ")")})")
    val (tableArg, sinceArg, endArg) = args match {
      case Seq(t, s) => (t, s, None)
      case Seq(t, s, e) => (t, s, Some(e))
      case _ => fail("takes 2 or 3 arguments")
    }
    val name = stringArg(tableArg).getOrElse(
      fail("the first argument must be a table name or path string literal"))
    val table = loadGraft(session, name, byPath).getOrElse(
      fail(s"'$name' is not a graft table"))
    val since = versionArg(table, sinceArg).getOrElse(
      fail("`since` must be a version number or timestamp literal"))
    val end = endArg.map(e => versionArg(table, e).getOrElse(
      fail("`end` must be a version number or timestamp literal")))
    table.changes(since, end).queryExecution.analyzed
  }

  private def stringArg(e: Expression): Option[String] = e match {
    case Literal(s: UTF8String, StringType) => Some(s.toString)
    case _ => None
  }

  /** Resolve a TVF table argument (name or path string literal). */
  private[sql] def resolveArg(session: SparkSession,
      e: Expression): Option[LakeTable] =
    stringArg(e).flatMap(loadGraft(session, _, byPath = false))

  /** A version bound: integer literal = version number; timestamp or
    * timestamp-shaped string literal = the newest version at-or-before it
    * (`TIMESTAMP AS OF` semantics via [[LakeTable.versionAt]]). */
  private[sql] def versionArg(t: LakeTable, e: Expression): Option[Long] = e match {
    case Literal(v: Int, IntegerType) => Some(v.toLong)
    case Literal(v: Long, LongType) => Some(v)
    case Literal(micros: Long, TimestampType) => Some(t.versionAt(micros / 1000L))
    case Literal(s: UTF8String, StringType) =>
      val txt = s.toString
      Try(txt.toLong).toOption.orElse(
        Try(java.sql.Timestamp.valueOf(txt).getTime).toOption.map(t.versionAt))
    case _ => None
  }

  /** The target resolves only when it IS a graft table: a path-shaped
    * string (or any string via the by-path function) loads directly, a
    * bare identifier goes through the session catalog's provider check. */
  private def loadGraft(session: SparkSession, name: String,
      byPath: Boolean): Option[LakeTable] = {
    val target = if (byPath || name.contains("/")) s"'$name'" else name
    Try(GraftSqlParser.resolveTable(session, target)).toOption
  }
}

/** Iceberg-style metadata TVFs (`t.files` / `t.history` re-expressed as
  * table functions, composable with arbitrary SQL):
  *
  * {{{
  * SELECT * FROM table_files('t')              -- live files at HEAD
  * SELECT * FROM table_files('t', 3)           -- live files at version 3
  * SELECT sum(bytes) FROM table_files('/path/to/t')
  * SELECT * FROM table_history('t')            -- one row per commit
  * }}}
  *
  * Both answer from commit-log METADATA on the driver (a LocalRelation —
  * zero data files opened at any table size), then plan like any relation. */
object GraftMetadataTvfs {

  val FILES_NAME = "table_files"
  val HISTORY_NAME = "table_history"

  def filesPlan(session: SparkSession, args: Seq[Expression]): LogicalPlan = {
    def fail(why: String): Nothing = throw new IllegalArgumentException(
      s"table_files(table[, version]): $why")
    val (tableArg, asOfArg) = args match {
      case Seq(t) => (t, None)
      case Seq(t, v) => (t, Some(v))
      case _ => fail("takes 1 or 2 arguments")
    }
    val t = GraftTableChanges.resolveArg(session, tableArg).getOrElse(
      fail("the first argument must name a graft table"))
    val asOf = asOfArg.map(e => GraftTableChanges.versionArg(t, e).getOrElse(
      fail("`version` must be a version number or timestamp literal")))
    import session.implicits._
    t.liveFiles(asOf).map(a =>
        (a.path, a.log, a.tombstone, a.rows, a.dvRows, a.bytes,
          a.partitionValue.orNull, a.minKey, a.maxKey, a.dv.orNull))
      .toDF("path", "is_log", "is_tombstone", "rows", "dv_rows", "bytes",
        "partition_value", "min_key", "max_key", "dv")
      .queryExecution.analyzed
  }

  def historyPlan(session: SparkSession, args: Seq[Expression]): LogicalPlan = {
    def fail(why: String): Nothing = throw new IllegalArgumentException(
      s"table_history(table): $why")
    val t = args match {
      case Seq(a) => GraftTableChanges.resolveArg(session, a).getOrElse(
        fail("the argument must name a graft table"))
      case _ => fail("takes exactly 1 argument")
    }
    t.history.queryExecution.analyzed
  }

  val PARTITIONS_NAME = "table_partitions"

  /** Iceberg `t.partitions`: one row per live partition with file/row/byte
    * rollups — commit-log metadata only, zero data files opened. */
  def partitionsPlan(session: SparkSession, args: Seq[Expression]): LogicalPlan = {
    def fail(why: String): Nothing = throw new IllegalArgumentException(
      s"table_partitions(table[, version]): $why")
    val (tableArg, asOfArg) = args match {
      case Seq(t) => (t, None)
      case Seq(t, v) => (t, Some(v))
      case _ => fail("takes 1 or 2 arguments")
    }
    val t = GraftTableChanges.resolveArg(session, tableArg).getOrElse(
      fail("the first argument must name a graft table"))
    val asOf = asOfArg.map(e => GraftTableChanges.versionArg(t, e).getOrElse(
      fail("`version` must be a version number or timestamp literal")))
    import session.implicits._
    // era-aware: after a partition evolution each file's stored value
    // belongs to the column IT was written under — report (column, value)
    // pairs so mixed-era rollups never conflate two columns' values
    t.liveFiles(asOf)
      .groupBy(a => (LakeTable.partitionColOf(a).orNull, a.partitionValue.orNull))
      .map { case ((pc, pv), as) =>
        (pc, pv, as.size.toLong, as.count(_.log).toLong,
          as.map(a => a.rows - a.dvRows).sum, as.map(_.bytes).sum)
      }.toSeq
      .toDF("partition_column", "partition_value", "n_files", "n_log_files", "rows", "bytes")
      .queryExecution.analyzed
  }
}

/** SQL serving surface for the persisted indexes ([[graft.ext.TextIndex]]
  * / [[graft.ext.VectorIndex]]) — search becomes a composable relation:
  *
  * {{{
  * SELECT * FROM text_search('/idx/text', 'join window dup', 20)
  * SELECT * FROM vector_search('/idx/vec', 'query_view', 5)        -- flat ADC
  * SELECT * FROM vector_search('/idx/vec', 'query_view', 5, 2, 4)  -- 2 probe lists, rerank 4
  * }}}
  *
  * `text_search` takes the index path, the query terms as ONE
  * whitespace-separated string, and top-k; the plan is the probe-pruned
  * exact-integer BM25 read (only the query terms' bucket partitions
  * open). `vector_search` takes the index path, a query-vector relation
  * (temp view / catalog table name, or a parquet path — rows must carry
  * `vec_id` + `embedding`), top-k, and optional nProbe / rerank; with
  * nProbe > 0 on a list-partitioned index only the probed lists' files
  * open. Both rewrite at analysis time into ordinary distributed plans —
  * joins/filters/aggregates over the results compose through Catalyst. */
object GraftIndexTvfs {

  val TEXT_NAME = "text_search"
  val VECTOR_NAME = "vector_search"

  private def stringArg(e: Expression): Option[String] = e match {
    case Literal(s: UTF8String, StringType) => Some(s.toString)
    case _ => None
  }
  private def intArg(e: Expression): Option[Int] = e match {
    case Literal(v: Int, IntegerType) => Some(v)
    case Literal(v: Long, LongType) => Some(v.toInt)
    case _ => None
  }

  def textPlan(session: SparkSession, args: Seq[Expression]): LogicalPlan = {
    def fail(why: String): Nothing = throw new IllegalArgumentException(
      s"text_search(index_path, terms[, k]): $why " +
        s"(got ${args.map(_.sql).mkString("(", ", ", ")")})")
    val (pathArg, termsArg, kArg) = args match {
      case Seq(p, t) => (p, t, None)
      case Seq(p, t, k) => (p, t, Some(k))
      case _ => fail("takes 2 or 3 arguments")
    }
    val path = stringArg(pathArg).getOrElse(
      fail("the first argument must be the index path string literal"))
    val terms = stringArg(termsArg).map(_.trim.split("\\s+").toSeq)
      .filter(_.nonEmpty).getOrElse(
        fail("`terms` must be a non-empty whitespace-separated string literal"))
    val k = kArg.map(intArg(_).getOrElse(fail("`k` must be an integer literal")))
      .getOrElse(10)
    graft.ext.TextIndex.load(session, path).search(terms, k)
      .queryExecution.analyzed
  }

  def vectorPlan(session: SparkSession, args: Seq[Expression]): LogicalPlan = {
    def fail(why: String): Nothing = throw new IllegalArgumentException(
      s"vector_search(index_path, queries, k[, nProbe[, rerank]]): $why " +
        s"(got ${args.map(_.sql).mkString("(", ", ", ")")})")
    val (pathArg, qArg, rest) = args match {
      case Seq(p, q, r @ _*) if r.size <= 3 => (p, q, r)
      case _ => fail("takes 2 to 5 arguments")
    }
    val path = stringArg(pathArg).getOrElse(
      fail("the first argument must be the index path string literal"))
    val qRef = stringArg(qArg).getOrElse(
      fail("`queries` must be a table/view name or parquet path string literal"))
    val ints = rest.map(e => intArg(e).getOrElse(
      fail("k / nProbe / rerank must be integer literals")))
    val k = ints.headOption.getOrElse(10)
    val nProbe = ints.lift(1).getOrElse(0)
    val rerank = ints.lift(2).getOrElse(0)
    val queries = Try(session.table(qRef)).getOrElse {
      Try(session.read.parquet(qRef)).getOrElse(
        fail(s"'$qRef' is neither a table/view nor a readable parquet path"))
    }
    graft.ext.VectorIndex.load(session, path)
      .search(queries, k, rerank = rerank, nProbe = nProbe)
      .queryExecution.analyzed
  }
}

/** SQL serving surface for [[graft.lake.MaterializedView]] state — the
  * rewrite serves views transparently, but inspecting one directly
  * (operational debugging, freshness checks, ad-hoc rollups) needs an
  * addressable relation:
  *
  * {{{
  * SELECT * FROM mv('/path/to/view')                    -- finalized view
  * SELECT * FROM mv('/path/to/view', 'region')          -- rollup to a dim subset
  * SELECT * FROM mv('/path/to/view', '')                -- global rollup (no dims)
  * SELECT * FROM mv('/path/to/view', 3)                 -- as of state version 3
  * }}}
  *
  * The plan is the view's finalized state read (tombstones filtered,
  * sums/avgs/sketches finalized) — a few thousand pre-aggregated rows at
  * any base-table size, composable with arbitrary surrounding SQL. The
  * optional second argument re-aggregates to a COARSER comma-separated
  * dim subset via the stored partials, exactly like the rewrite's rollup
  * path ('' = the global aggregate). */
object GraftMvTvf {

  val NAME = "mv"
  /** Freshness inspection: one row per member table (fact + each join
    * dim) with the maintenance cursor the state reflects vs the table's
    * latest commit — `SELECT * FROM mv_freshness('<dir>')`. `fresh` on
    * every row ⟺ the rewrite would serve this view right now. Commit-log
    * metadata only; zero data files opened. */
  val FRESHNESS_NAME = "mv_freshness"

  def freshnessPlan(session: SparkSession, args: Seq[Expression]): LogicalPlan = {
    def fail(why: String): Nothing = throw new IllegalArgumentException(
      s"mv_freshness(view_path): $why")
    val path = args match {
      case Seq(Literal(s: UTF8String, StringType)) => s.toString
      case _ => fail("takes exactly 1 string-literal argument")
    }
    val mv = Try(graft.lake.MaterializedView.load(session, path)).getOrElse(
      fail(s"no materialized view at '$path'"))
    val meta = mv.meta
    val (cf, cds) = mv.refreshedVersions
    import session.implicits._
    val rows =
      (meta.basePath, "fact", cf,
        graft.lake.LakeTable.load(session, meta.basePath).latestVersion) +:
      meta.joins.zip(cds).zipWithIndex.map { case ((j, c), i) =>
        (j.dimPath, s"dim$i", c,
          graft.lake.LakeTable.load(session, j.dimPath).latestVersion)
      }
    rows.map { case (p, role, cur, latest) => (p, role, cur, latest, cur >= latest) }
      .toDF("table_path", "role", "cursor_version", "latest_version", "fresh")
      .queryExecution.analyzed
  }

  def plan(session: SparkSession, args: Seq[Expression]): LogicalPlan = {
    def fail(why: String): Nothing = throw new IllegalArgumentException(
      s"mv(view_path[, rollup_dims]): $why " +
        s"(got ${args.map(_.sql).mkString("(", ", ", ")")})")
    def stringArg(e: Expression): Option[String] = e match {
      case Literal(s: UTF8String, StringType) => Some(s.toString)
      case _ => None
    }
    val (pathArg, rollArg) = args match {
      case Seq(p) => (p, None)
      case Seq(p, r) => (p, Some(r))
      case _ => fail("takes 1 or 2 arguments")
    }
    val path = stringArg(pathArg).getOrElse(
      fail("the first argument must be the view path string literal"))
    val mv = Try(graft.lake.MaterializedView.load(session, path)).getOrElse(
      fail(s"no materialized view at '$path'"))
    def intArg(e: Expression): Option[Long] = e match {
      case Literal(v: Int, IntegerType) => Some(v.toLong)
      case Literal(v: Long, LongType) => Some(v)
      case _ => None
    }
    // second argument by TYPE: an integer time-travels the state table
    // (the view exactly as refresh/state-version N left it); a string is
    // the rollup dim list
    val df = rollArg match {
      case None => mv.read()
      case Some(r) if intArg(r).isDefined => mv.read(intArg(r))
      case Some(r) =>
        val dims = stringArg(r).getOrElse(
          fail("the second argument must be a state version integer or a " +
            "comma-separated rollup-dims string literal"))
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        mv.readRollup(dims)
    }
    df.queryExecution.analyzed
  }
}

/** Standalone-resolution twin of the registry entries, for sessions built
  * WITHOUT GraftExtensions (the driver's Verify session): apply this rule to
  * a parsed plan and the graft TVF nodes resolve exactly as the registered
  * functions would. Non-matching nodes pass through untouched. */
case class ResolveGraftTableChanges(session: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    case u: UnresolvedTableValuedFunction
        if u.name.length == 1 && u.name.head.equalsIgnoreCase(GraftTableChanges.NAME) =>
      GraftTableChanges.plan(session, u.functionArgs)
    case u: UnresolvedTableValuedFunction
        if u.name.length == 1 &&
          u.name.head.equalsIgnoreCase(GraftTableChanges.BY_PATH_NAME) =>
      GraftTableChanges.plan(session, u.functionArgs, byPath = true)
    case u: UnresolvedTableValuedFunction
        if u.name.length == 1 &&
          u.name.head.equalsIgnoreCase(GraftMetadataTvfs.FILES_NAME) =>
      GraftMetadataTvfs.filesPlan(session, u.functionArgs)
    case u: UnresolvedTableValuedFunction
        if u.name.length == 1 &&
          u.name.head.equalsIgnoreCase(GraftMetadataTvfs.HISTORY_NAME) =>
      GraftMetadataTvfs.historyPlan(session, u.functionArgs)
    case u: UnresolvedTableValuedFunction
        if u.name.length == 1 &&
          u.name.head.equalsIgnoreCase(GraftMetadataTvfs.PARTITIONS_NAME) =>
      GraftMetadataTvfs.partitionsPlan(session, u.functionArgs)
    case u: UnresolvedTableValuedFunction
        if u.name.length == 1 &&
          u.name.head.equalsIgnoreCase(GraftIndexTvfs.TEXT_NAME) =>
      GraftIndexTvfs.textPlan(session, u.functionArgs)
    case u: UnresolvedTableValuedFunction
        if u.name.length == 1 &&
          u.name.head.equalsIgnoreCase(GraftIndexTvfs.VECTOR_NAME) =>
      GraftIndexTvfs.vectorPlan(session, u.functionArgs)
    case u: UnresolvedTableValuedFunction
        if u.name.length == 1 && u.name.head.equalsIgnoreCase(GraftMvTvf.NAME) =>
      GraftMvTvf.plan(session, u.functionArgs)
    case u: UnresolvedTableValuedFunction
        if u.name.length == 1 &&
          u.name.head.equalsIgnoreCase(GraftMvTvf.FRESHNESS_NAME) =>
      GraftMvTvf.freshnessPlan(session, u.functionArgs)
  }
}
