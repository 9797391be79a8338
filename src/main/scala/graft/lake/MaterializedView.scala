package graft.lake

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ArrayNode
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One aggregate of a materialized view: `kind` ∈ count | sum | avg | min |
  * max | hll over `input` — a base/dim-table column, `"*"` (count only),
  * or a deterministic ROW-LOCAL SQL expression over the joined row
  * (`l_extendedprice * (1 - l_discount)`, the TPC-H revenue shape): a
  * row-local input commutes with the signed delta exactly like a filter
  * or an expression dim, so the aggregate maintains incrementally
  * unchanged — each maintenance projection carries the expression's
  * REFERENCES and evaluates it per contribution row.
  * `name` is the output column. `hll` is an incrementally-maintained
  * APPROXIMATE COUNT(DISTINCT input): the state stores a mergeable
  * Datasketches HLL sketch per group (additions union in; removals ride
  * the min/max group-recompute path, since a sketch cannot retract), and
  * the view finalizes to the rounded estimate. Below the sketch's exact
  * regime (≲ 512 distinct values per group at the default lgK=12) the
  * estimate IS the exact distinct count. */
case class MvAgg(name: String, kind: String, input: String) {
  require(Set("count", "sum", "avg", "min", "max", "hll").contains(kind), s"unknown agg kind $kind")
  require(kind == "count" || input != "*", s"$kind requires a column input")
}

/** Incrementally-maintained aggregate over a [[LakeTable]] — the
  * materialized-view pattern a 100 TB pipeline needs: the base table takes
  * continuous upserts/deletes, and `refresh()` brings the aggregate up to
  * date at a cost proportional to the CHURN since the last refresh, never
  * to the base table size.
  *
  * How: [[LakeTable.windowDelta]] yields the rows of window-added live
  * files (`plus`) and window-removed files (`minus`); copy-on-write
  * rewrites put carried-over rows in both sides, so they cancel under any
  * linear aggregate. One hash-aggregate over `plus ∪ minus` (signed)
  * computes per-group deltas; the deltas merge into the stored state by
  * key. Groups whose row count reaches zero are deleted. MoR base and dim
  * tables maintain the same way — their windowDelta diffs the two MERGED
  * (`_rt`-consistent) snapshots restricted to the window's touched keys,
  * so a view over a streaming MoR ingest table never needs a compaction
  * to stay fresh.
  *
  *   - count / sum / avg: pure delta merge — never touches the base table.
  *     Use exact input types (integers, DECIMAL) for bit-exact maintenance;
  *     floating-point sums would drift under cancellation.
  *   - min / max: delta-merged (`least`/`greatest`) for groups that saw
  *     only additions; a group that LOST rows may have lost its extremum,
  *     so exactly those groups are re-aggregated from the base snapshot.
  *     The repair scan is FILE-pruned from the affected groups' dim
  *     values (one row per removal-touched group — already a bounded
  *     set): fact-resident dims push into the snapshot read as `IN`
  *     filters directly, and DIM-TABLE-resident dims (a star view grouped
  *     on `n_name`) chase their values down the join chain to fact join
  *     keys first — so commit-log stats/bloom/bucket skipping opens only
  *     the affected groups' files on both shapes. EXPRESSION dims over a
  *     monotonic fact-column transform (`day := date_trunc('DAY', ts)`)
  *     prune via the transform itself: a file whose source stat range
  *     maps under g outside the affected bucket range is skipped. Only
  *     when a group's derived key set explodes past the cap (it touches
  *     most of the fact anyway) does the repair fall back to the full
  *     snapshot.
  *   - hll (approximate count-distinct): the per-group Datasketches HLL
  *     sketch unions in each window's added values; removal-touched
  *     groups re-sketch via the same recompute path (and the same file
  *     pruning) as min/max. The 100 TB shape: distinct-user/distinct-
  *     document counts maintained at churn cost, with a fixed-size
  *     mergeable state per group instead of a distinct-values set.
  *
  * State is itself a [[LakeTable]] (keyed on the null-safe dim tuple, so
  * refreshes are versioned, time-travelable, and stats-pruned like any
  * other table). The refresh window must lie within the base table's
  * vacuum retention — same constraint as any incremental/CDF consumer.
  */
class MaterializedView private (val spark: SparkSession, val path: String) {
  import MaterializedView._

  private def conf: Configuration = spark.sessionState.newHadoopConf()

  def meta: MvMeta = readMeta(path, conf)

  /** The backing state table (internal columns; use [[read]] for results). */
  def state: LakeTable = LakeTable.load(spark, new Path(path, "state").toString)

  /** The maintenance cursor, read from the state table's commit at
    * `vState` (the per-component `txn` watermarks a refresh records
    * ATOMICALLY with its data — see [[refresh]]); the meta JSON holds
    * the create-time values and a display mirror. Takes the
    * already-loaded meta and state version so the maintenance hot path
    * (per-micro-batch streaming refreshes) pays ONE meta read and ONE
    * commit-log resolution per attempt, not three of each. Returns
    * (fact version, one dim version per join). */
  private def cursorOf(st: LakeTable, m: MvMeta, vState: Long): (Long, Seq[Long]) = {
    val txn = CommitLog.read(st.path, vState,
      spark.sessionState.newHadoopConf()).txn
    (txn.getOrElse(CURSOR_APP, m.lastVersion),
      m.joins.zipWithIndex.map { case (j, i) =>
        txn.getOrElse(dimCursorApp(i), j.dimVersion) })
  }

  /** Both maintenance-cursor components in ONE state resolution —
    * prefer this in hot paths (e.g. the rewrite freshness gate) over
    * calling the per-component getters separately. */
  def refreshedVersions: (Long, Seq[Long]) = {
    val st = state
    cursorOf(st, meta, st.latestVersion)
  }

  def lastRefreshedVersion: Long = refreshedVersions._1

  /** The rewrite's freshness predicate: the state serves exactly when
    * every member cursor is at the member's latest version — or behind it
    * by only PHYSICAL-ONLY commits (compaction / zorder / optimize / pure
    * metadata), whose row delta is empty by metadata proof
    * ([[CommitWindow.physicalOnly]]). A view must keep serving through
    * its members' maintenance cadence without waiting for a refresh: at
    * production scale, reorganization is continuous and a gate on exact
    * version equality would blind every registered view most of the time.
    * `latestOf` is the caller's memoized latest-version resolver (the
    * rewrite resolves each member once per invocation). Cost on the miss
    * path: one commit-log read of the cursor-to-latest window. */
  private[graft] def servableFresh(m: MvMeta,
      latestOf: String => Long): Boolean = {
    val (cf, cds) = refreshedVersions
    def ok(p: String, c: Long): Boolean = {
      val l = latestOf(p)
      c == l ||
        (c < l && LakeTable.load(spark, p).window(c, Some(l)).physicalOnly)
    }
    ok(m.basePath, cf) &&
      m.joins.zip(cds).forall { case (j, c) => ok(j.dimPath, c) }
  }

  /** For a star-join view: the dim versions the state reflects, one per
    * join in definition order. */
  def dimRefreshedVersions: Seq[Long] = refreshedVersions._2

  /** Single-join convenience over [[dimRefreshedVersions]]. */
  def dimRefreshedVersion: Option[Long] = dimRefreshedVersions.headOption

  /** Finalized view: dims + one column per declared aggregate. Sums and
    * averages over a group whose inputs are all NULL finalize to NULL,
    * matching SQL aggregate semantics (the stored delta is 0-based).
    * Dead groups (every row removed) persist as `GRP_N ≤ 0` tombstone
    * rows — retained so a refresh is ONE commit — and are filtered here.
    * `asOf` time-travels the STATE table: the view exactly as some past
    * refresh left it (the state is an ordinary versioned lake table, so
    * every refresh is a pinnable snapshot — "what did the dashboard show
    * at refresh N" is one read, never a base-table replay). */
  def read(asOf: Option[Long] = None): DataFrame = readDerived(asOf, Nil)

  /** [[read]] plus DERIVED columns computed from the declared aggs'
    * internal state — every sum/avg stores the running sum AND the
    * non-null input count, so a view that declared only `sum(x)` serves
    * `avg(x)` (sum ÷ cnt, finalized exactly like a declared avg) and
    * `count(x)` (the cnt), a view that declared only `avg(x)` serves
    * `sum(x)` (the stored sum), and EVERY view serves `count(*)` from
    * [[GRP_N]]. Used by the rewrite's derived serving
    * ([[MaterializedView.MvDerived]]). */
  private[graft] def readDerived(asOf: Option[Long],
      derived: Seq[MvDerived]): DataFrame = {
    val m = meta
    val cols = m.dims.map(col) ++ m.aggs.map {
      case MvAgg(n, "sum", _) => when(col(cntCol(n)) > 0, col(sumCol(n))).as(n)
      case MvAgg(n, "avg", _) =>
        when(col(cntCol(n)) > 0, col(sumCol(n)).cast(DoubleType) / col(cntCol(n))).as(n)
      case MvAgg(n, "hll", _) =>
        // estimate of the stored sketch; an all-null-input group (null
        // sketch) finalizes to 0, matching COUNT(DISTINCT) over no values
        coalesce(hll_sketch_estimate(col(hllCol(n))), lit(0L)).as(n)
      case MvAgg(n, _, _) => col(n)
    } ++ derived.map {
      case MvDerived(out, "avg", s) =>
        when(col(cntCol(s)) > 0, col(sumCol(s)).cast(DoubleType) / col(cntCol(s))).as(out)
      case MvDerived(out, "sum", s) =>
        when(col(cntCol(s)) > 0, col(sumCol(s))).as(out)
      case MvDerived(out, "cnt", s) => col(cntCol(s)).cast(LongType).as(out)
      case MvDerived(out, _, _) => col(GRP_N).cast(LongType).as(out) // star
    }
    state.read(asOf).filter(col(GRP_N) > 0).select(cols: _*)
  }

  /** Finalized view re-aggregated to a COARSER dim subset — the rollup
    * half of MV rewrite: a view grouped on {a,b} answers `GROUP BY a`
    * because count/sum re-aggregate by summing the stored partials,
    * min/max by min/max of the group extrema, and avg from the stored
    * sum+count pair — never touching the base table. `preFilters`
    * (dim-only predicates, resolved by name against the state table)
    * apply BEFORE re-aggregation so a predicate on a rolled-away dim
    * still works. Empty `rollDims` = global aggregate (count finalizes
    * to 0 over an empty state, matching SQL `count(*)` over no rows). */
  private[graft] def readRollup(rollDims: Seq[String],
      preFilters: Seq[Column] = Nil): DataFrame = {
    val m = meta
    require(rollDims.forall(d => m.dims.exists(_.equalsIgnoreCase(d))),
      s"rollup dims [${rollDims.mkString(",")}] must be a subset of view dims " +
        s"[${m.dims.mkString(",")}]")
    readRollupExprs(rollDims.map(d => (d, col(d))), preFilters)
  }

  /** [[readRollup]] grouping on arbitrary DIM-DERIVED expressions — the
    * rewrite's derived-grouping serving path (`GROUP BY date_trunc(
    * 'MONTH', day)` over a day-grained view, `GROUP BY f(dim)` for any
    * row-local f): a function of a dim is constant within each stored
    * group, so re-aggregating the partials under `f(dim)` equals
    * aggregating the base under `f(dim)` exactly. Callers guarantee each
    * expression references only state dim columns. */
  private[graft] def readRollupExprs(roll: Seq[(String, Column)],
      preFilters: Seq[Column] = Nil,
      derived: Seq[MvDerived] = Nil,
      derivedAggExprs: Seq[(String, Column)] = Nil,
      joinBack: DataFrame => DataFrame = identity): DataFrame = {
    // `joinBack` re-joins the live state rows to dim tables BEFORE the
    // re-aggregation (the rewrite's drill-across serving): re-aggregation
    // is a homomorphism and the join multiplies each state row exactly as
    // it multiplies that group's base rows, so every aggregate below —
    // including the derived ones and DISTINCT counts — reproduces the
    // joined query exactly. preFilters apply after it (= above the join,
    // where the query's own residual predicates sat).
    val m = meta
    val stSchema = state.schema
    val st = preFilters.foldLeft(
      joinBack(state.read().filter(col(GRP_N) > 0)))((acc, c) => acc.filter(c))
    val derivedCols: Seq[Column] = derived.map {
      // from a sum/avg agg's stored partials, re-aggregated
      case MvDerived(out, "avg", s) => // Σsum / Σcnt
        when(sum(col(cntCol(s))) > 0,
          sum(col(sumCol(s))).cast(DoubleType) / sum(col(cntCol(s)))).as(out)
      case MvDerived(out, "sum", s) => // Σsum, in the stored sum's type
        when(sum(col(cntCol(s))) > 0,
          sum(col(sumCol(s))).cast(stSchema(sumCol(s)).dataType)).as(out)
      case MvDerived(out, "cnt", s) => // Σcnt = count of non-null inputs
        coalesce(sum(col(cntCol(s))), lit(0L)).cast(LongType).as(out)
      case MvDerived(out, _, _) => // star: Σ GRP_N = count(*)
        coalesce(sum(col(GRP_N)), lit(0L)).cast(LongType).as(out)
    } ++ derivedAggExprs.map { case (out, c) =>
      // duplication-insensitive aggregates computed over the state's live
      // group rows (post join-back): count(DISTINCT …) — exact, the state
      // holds one row per dim tuple — and min/max over joined-back dim
      // attributes (the join multiplies rows, which extrema ignore).
      // NULL semantics match the query's: Count skips any-NULL tuples,
      // extrema skip NULLs, on both sides. Built by the rewrite.
      c.as(out)
    }
    val aggCols: Seq[Column] = m.aggs.map {
      case MvAgg(n, "count", _) => coalesce(sum(col(n)), lit(0L)).cast(LongType).as(n)
      case MvAgg(n, "sum", _) =>
        // cast the re-sum back to the stored (= original query) sum type;
        // validity from the non-null input count, as in read()
        when(sum(col(cntCol(n))) > 0,
          sum(col(sumCol(n))).cast(stSchema(sumCol(n)).dataType)).as(n)
      case MvAgg(n, "avg", _) =>
        when(sum(col(cntCol(n))) > 0,
          sum(col(sumCol(n))).cast(DoubleType) / sum(col(cntCol(n)))).as(n)
      case MvAgg(n, "min", _) => min(col(n)).as(n)
      case MvAgg(n, "max", _) => max(col(n)).as(n)
      case MvAgg(n, "hll", _) =>
        // sketches are mergeable: union the group sketches, then estimate
        coalesce(hll_sketch_estimate(hll_union_agg(col(hllCol(n)))), lit(0L)).as(n)
    }
    val all = aggCols ++ derivedCols
    st.groupBy(roll.map { case (n, c) => c.as(n) }: _*)
      .agg(all.head, all.tail: _*)
  }

  /** Bring the view up to date with the base table's latest version (and,
    * for a star-join view, the dim table's).
    *
    * Join maintenance is the signed multiset identity
    * `Δ(F ⋈ D) = ΔF ⋈ D_old + F_new ⋈ ΔD`: fact churn joins against the
    * dim AS OF the last refresh (cost ∝ fact churn — the fact table is
    * never scanned), and dim churn joins the current fact snapshot
    * against only the CHANGED dim rows (cost ∝ the changed keys'
    * matching fact rows; the fact scan is key-restricted by the join,
    * so stats/bloom pruning applies). Carried-over rows of a CoW
    * rewrite appear in both plus and minus and cancel after the join
    * exactly as they do without one.
    *
    * Concurrency: a refresh is a read-compute-write transaction, made
    * safe by refresh-level OCC. The maintenance cursor lives in the
    * state table's commit `txn` map — atomic with the data it
    * describes — the old state is read PINNED at the observed state
    * version, and the single output commit is claimed at exactly
    * observed+1 ([[LakeTable.upsertPinned]]). A racing refresh that
    * lands first makes this one's claim fail; it then re-reads the
    * (advanced) cursor and recomputes — usually finding nothing left to
    * do. Dead groups are retained as `GRP_N ≤ 0` tombstone rows
    * (filtered by [[read]]) precisely so the whole refresh is ONE
    * commit: a separate delete could interleave with a racer. */
  def refresh(): MaterializedView = {
    val vBefore = state.latestVersion
    var attempt = 0
    var done = false
    while (!done) {
      try done = refreshOnce()
      catch {
        case _: CommitConflictException =>
          attempt += 1
          if (attempt >= 10) throw new java.util.ConcurrentModificationException(
            s"materialized view at $path: gave up after $attempt conflicting refreshes")
          Thread.sleep(scala.util.Random.between(5L, 50L * attempt))
      }
    }
    // self-pruning cadence: every AUTO_PRUNE_EVERY state commits, one
    // bounded state scan checks the tombstone count and prunes past the
    // threshold — a long-lived streaming view under death/rebirth churn
    // keeps its state row count bounded without a caller remembering
    // [[pruneDeadGroups]]. OCC-safe like the manual call (its own commit;
    // a racing refresh pinned pre-prune just retries). Gated on the state
    // version having ADVANCED during this call (ours or a racer's): a
    // no-op refresh (streaming caller, no base churn) while the version
    // sits at a cadence multiple must not re-pay the tombstone count.
    val st = state
    val stv = st.latestVersion
    if (stv > vBefore && stv % AUTO_PRUNE_EVERY == 0 && stv > 0) {
      val dead = st.read().filter(col(GRP_N) <= 0).count()
      if (dead >= AUTO_PRUNE_MIN_DEAD) st.delete(col(GRP_N) <= 0)
    }
    this
  }

  /** Delete the dead-group tombstone rows (`GRP_N ≤ 0`) from the state
    * table — periodic maintenance for long-lived views over high-churn
    * dims, where without it one permanent row per ever-dead group
    * accumulates (every read filters them; every refresh's pinned
    * old-state read joins against them). Returns the number of rows
    * pruned.
    *
    * Safe against racing refreshes: the prune is its own OCC commit, so
    * a refresh pinned at the pre-prune version fails its claim and
    * retries; the retry's old-state read finds the row ABSENT, which the
    * merge arithmetic treats identically to a tombstone — both coalesce
    * to the zeroed baseline, and the `oLive` guard already masks dead
    * extrema/sketches — so rebirth behaves the same with or without the
    * row (pinned by the MaterializedViewSpec prune case). */
  def pruneDeadGroups(): Long = {
    val st = state
    val dead = st.read().filter(col(GRP_N) <= 0).count()
    if (dead > 0) st.delete(col(GRP_N) <= 0)
    dead
  }

  /** One optimistic refresh attempt: true = up to date (applied here or
    * nothing to do); throws [[CommitConflictException]] when a racer
    * committed to the state table after this attempt's snapshot read. */
  private def refreshOnce(): Boolean = {
    val m = meta
    val st = state
    // every member is read at ONE snapshot: the version this refresh
    // brings the view up to, with that version's schema
    val base = LakeTable.load(spark, m.basePath)
    val baseS = base.snapshot()
    val upTo = baseS.version
    val dimTables = m.joins.map(j => LakeTable.load(spark, j.dimPath))
    val dimSs = dimTables.map(_.snapshot())
    val dimUpTos = dimSs.map(_.version)
    locally {
      val v0 = st.latestVersion
      val (l0, dv0) = cursorOf(st, m, v0)
      if (upTo <= l0 && dimUpTos.zip(dv0).forall { case (u, v) => u <= v })
        return true
    }
    val dims = m.dims

    // SCHEMA-EVOLUTION pre-flight (see [[brokenReferences]]): a member
    // table that renamed/dropped a referenced column fails refresh HERE,
    // with the broken references named — never an opaque AnalysisException
    // from deep inside the maintenance plan. Additive evolution passes.
    val broken = brokenReferences(spark, m, baseS.schema, dimSs.map(_.schema))
    if (broken.nonEmpty) throw new IllegalStateException(
      s"materialized view at $path: broken column reference(s) after member " +
        s"schema evolution — ${broken.mkString("; ")}. Restore the column(s) " +
        "(rename back / addColumns) or drop and recreate the view; DESCRIBE " +
        "MATERIALIZED VIEW shows the same broken_reference rows")

    // TYPE-WIDENING pre-flight (the contract's other half — see
    // [[stateTypeChanges]]): a member column widened under a dim / sum /
    // avg / min / max keeps its name, so [[brokenReferences]] cannot see
    // it, but the state column stays too narrow and the maintenance
    // arithmetic below casts deltas to the STORED type — a silent
    // wraparound, not an error. Lossless widenings are applied to the
    // state IN PLACE (a metadata-only [[LakeTable.widenColumn]] commit,
    // the same contract the table layer gives its own readers); anything
    // else fails with the change named. Runs BEFORE the vState pin so
    // the widen commits never self-conflict this refresh's OCC claim.
    stateTypeChanges(spark, m, st.schema, baseS.schema, dimSs.map(_.schema))
      .foreach { case (c, have, want) =>
        if (LakeTable.widens(have, want)) {
          // a RACING refresh may have applied the same widening between
          // our schema read and this call — widenColumn refuses a no-op
          // (widens(t, t) = false), so swallow exactly that case
          try { st.widenColumn(c, want); () }
          catch {
            case _: IllegalArgumentException
                if st.schema(c).dataType == want => ()
          }
        } else throw new IllegalStateException(
          s"materialized view at $path: state column $c of type " +
            s"${have.simpleString} cannot follow a member type change to " +
            s"${want.simpleString} (not a lossless widening); drop and " +
            "recreate the view")
      }

    val stS = st.snapshot()
    val vState = stS.version
    val (lastV, dimVs) = cursorOf(st, m, vState)
    // every member's pending window, from the listing its snapshot made
    val baseW = baseS.window(lastV)
    val dimWs = m.joins.indices.map(i => dimSs(i).window(dimVs(i)))
    val stSchema = stS.schema
    def stType(c: String): DataType = stSchema(c).dataType
    // schema-aware bare-input classification (see [[inCol]]): a known
    // member column name is bare even when not a plain identifier
    val memberCols: Set[String] =
      (baseS.schema.fieldNames ++ dimSs.flatMap(_.schema.fieldNames)).toSet
    def inE(in: String): Column = inCol(in, memberCols)
    // an EXPRESSION agg input rides as its references, like the filter
    val inputs = m.aggs.flatMap(a =>
      if (a.input == "*") Nil
      else if (isBareInput(a.input) || memberCols.contains(a.input)) Seq(a.input)
      else filterRefNames(spark, a.input)).distinct
    // a filtered view's predicate references must ride every projection so
    // the filter can apply to the (joined) delta rows; an expression dim
    // rides as its REFERENCES (the expression itself is computed per
    // contribution row, after the join)
    val filterRefs = m.filter.toSeq.flatMap(f => filterRefNames(spark, f))
    val exprRefs = m.dimExprs.values.toSeq.flatMap(t => filterRefNames(spark, t))
    val bareDims = dims.filterNot(m.dimExprs.contains)
    val need = (bareDims ++ exprRefs ++ inputs ++ filterRefs).distinct
    // PHYSICAL-IDENTITY continuity (the other half of the contract): a
    // referenced column that was DROPPED AND RE-ADDED — or renamed away
    // and replaced by a new column of the same name — passes the name
    // check above but carries a FRESH column-mapping physical id, and its
    // pre-cursor values are gone for good (re-added columns read as
    // NULL). The stored state still reflects the old values, so no
    // incremental window can reconcile them; refuse cleanly instead of
    // silently diverging from recompute. A pure rename-away-and-back
    // keeps its physical id and passes.
    locally {
      val keyCols = m.joins.flatMap(j => j.factKeys ++ j.dimKeys)
      val contCols = (need ++ keyCols).distinct
      val discontinuous = (baseW +: dimWs).flatMap { w =>
        contCols.filter { c =>
          w.end.shape.schema.fieldNames.contains(c) &&
          w.start.shape.schema.fieldNames.contains(c) &&
          w.start.shape.spec.physical(c) != w.end.shape.spec.physical(c)
        }
      }.distinct
      if (discontinuous.nonEmpty) throw new IllegalStateException(
        s"materialized view at $path: referenced column(s) " +
          s"${discontinuous.mkString(", ")} were dropped (or renamed away) " +
          "and re-created since the last refresh — the pre-existing values " +
          "are unrecoverable, so the incremental state cannot be maintained " +
          "across the gap; drop and recreate the view")
    }
    // PHYSICAL-ONLY pending windows (the production reorg cadence): every
    // stale member's window carried rows unchanged — compaction, zorder,
    // optimize, pure table metadata — so the delta is empty by METADATA
    // PROOF (CommitWindow.physicalOnly). Publish a pure cursor bump (a
    // zero-action state commit advancing the txn watermarks) and skip plan
    // construction entirely: a registered view must cost zero jobs and
    // zero file reads to ride out its members' maintenance. Runs AFTER the
    // pre-flights above so schema contract violations still refuse here.
    if ((upTo <= lastV || baseW.physicalOnly) &&
        m.joins.indices.forall(i => dimUpTos(i) <= dimVs(i) || dimWs(i).physicalOnly)) {
      st.bumpTxn(vState, Map(CURSOR_APP -> upTo) ++
        m.joins.indices.map(i => dimCursorApp(i) -> dimUpTos(i)))
      val stNow = state
      val (cf, cds) = cursorOf(stNow, m, stNow.latestVersion)
      val covered = cf >= upTo &&
        cds.zip(dimUpTos).forall { case (c, u) => c >= u }
      if (covered) writeMeta(path, m.copy(lastVersion = cf,
        joins = m.joins.zip(cds).map { case (j, c) => j.copy(dimVersion = c) }),
        conf)
      return covered
    }

    val split =
      if (m.joins.isEmpty) None
      else Some(sideSplitN(baseS.schema, dimSs.map(_.schema), need, m.joins))
    // per-join home of the LEFT key (-1 = fact, j = dim j) — revalidated
    // on every refresh so a base-table schema evolution that makes a join
    // key ambiguous fails with the constraint's own message, not an
    // opaque AnalysisException from a bare column reference
    lazy val homes = keyHomes(baseS.schema, dimSs.map(_.schema), m.joins)
    // the current joined snapshot projections (min/max repair source, and
    // the F_new side of dim-churn terms): each table carries its resident
    // need columns plus every join key HOMED on it (snowflake chain keys
    // live on a dim, not the fact)
    def fProj = (m.joins.indices.filter(homes(_) == -1).flatMap(m.joins(_).factKeys)
      ++ split.get._1).distinct.map(col)
    def dProj(i: Int) = ((m.joins(i).dimKeys ++
      m.joins.indices.filter(homes(_) == i).flatMap(m.joins(_).factKeys))
      ++ split.get._2(i)).distinct.map(col)
    // an arm joins with its declared type; `forceInner` is the ΔD term of
    // an OUTER arm, whose JOINED-content change is inner-join linear (the
    // null-extension change is the separate transition term below)
    def joinDim(acc: DataFrame, i: Int, df: DataFrame,
        forceInner: Boolean = false): DataFrame =
      acc.join(df, m.joins(i).keyPairs
          .map { case (fk, dk) => col(fk) === col(dk) }.reduce(_ && _),
        if (m.joins(i).outer && !forceInner) "left_outer" else "inner")
    def dAt(i: Int, v: Long) = dimTables(i).read(Some(v)).select(dProj(i): _*)
    // fold order for the ΔD_i term: the chain ancestors of i first (a
    // snowflake key can only be joined once its home table is in the
    // accumulator), then the DELTA, then everything else — so the small
    // churn side restricts the row flow as early as the topology allows
    // (for a pure star the delta joins first, exactly the old plan)
    def foldOrder(i: Int): Seq[Int] = {
      val anc = scala.collection.mutable.ArrayBuffer.empty[Int]
      var h = homes(i)
      while (h >= 0) { anc += h; h = homes(h) }
      val first = anc.sorted.toSeq :+ i
      first ++ m.joins.indices.filterNot(first.contains)
    }
    // chase a RESTRICTED slice of dim t's rows down to the fact: project
    // the slice's dim-key tuples, and for each of the arm's left keys
    // either emit a fact filter (parent = fact) or recurse into the parent
    // dim restricted to that key column's values. Every emitted
    // `(factColumn, values)` is a per-column SUPERSET of the affected
    // rows' keys — sound for file pruning; the caller's exact semi-join
    // bounds the ROWS. A branch that explodes past the cap (a huge slice —
    // pruning would not pay) or surfaces a null key is dropped (Nil).
    // Shared by the min/max/hll repair AND the LEFT-outer transition term
    // (both need dim-resident values walked to fact-homed join keys).
    def chaseRows(t: Int, restricted: DataFrame,
        depth: Int): Seq[(String, Array[Any])] = {
      if (depth > m.joins.size) return Nil
      val dks = m.joins(t).dimKeys
      val tuples = restricted.select(dks.map(col): _*).distinct()
        .limit(REPAIR_KEY_CAP + 1).collect()
      if (tuples.length > REPAIR_KEY_CAP) return Nil
      m.joins(t).factKeys.zipWithIndex.flatMap { case (fk, j) =>
        val next = tuples.map(_.get(j)).distinct
        if (next.contains(null)) Nil
        else if (homes(t) == -1) Seq((fk, next))
        else {
          val p = homes(t)
          chaseRows(p, dimTables(p)
            .readWhere(Seq(org.apache.spark.sql.sources.In(fk, next)),
              Some(dimUpTos(p)))
            .filter(col(fk).isin(next: _*)), depth + 1)
        }
      }
    }
    // Deltas stay GROSS per rewritten file: carried rows contribute
    // cancelling ±1 pairs that the single signed aggregate absorbs in
    // one pass. Round 13 tried row-level netting here (exceptAll both
    // ways on the projected columns, guarded by a removals check) — the
    // interleaved control measured it a LOSS: b12 1.39× slower at sf0.1
    // and a WORSE 10× exponent (1.47×/0.17 vs 1.27×/0.11), because the
    // netting shuffles are themselves corpus-proportional on
    // rewrite-heavy windows while the signed aggregate already cancels
    // carried pairs for free. The case netting was really for — windows
    // that moved ONLY bytes — is handled upstream by metadata proof
    // (CommitWindow.physicalOnly: empty delta, cursor-bump refresh,
    // no repair), which costs nothing at any scale.
    val contrib: DataFrame = {
      if (m.joins.isEmpty) {
        val (plus, minus) = base.windowDelta(baseW)
        val proj = need.map(col)
        plus.select(proj: _*).withColumn(SGN, lit(1L))
          .unionByName(minus.select(proj: _*).withColumn(SGN, lit(-1L)))
      } else {
        // telescoping signed sum over the join tree (star or snowflake —
        // the identity is topology-independent for inner equi-joins):
        //   Δ(F⋈D1⋈…⋈Dn) = ΔF ⋈ D1_old ⋈ … ⋈ Dn_old
        //     + Σ_i F_new ⋈ D1_new…D(i-1)_new ⋈ ΔD_i ⋈ D(i+1)_old…Dn_old
        // Each term is churn-bounded on its Δ side; unchanged tables
        // contribute no term at all.
        val outCols = (need :+ SGN).map(col)
        val terms = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
        if (upTo > lastV) {
          val (plusF, minusF) = base.windowDelta(baseW)
          val fDelta = plusF.select(fProj: _*).withColumn(SGN, lit(1L))
            .unionByName(minusF.select(fProj: _*).withColumn(SGN, lit(-1L)))
          terms += m.joins.indices.foldLeft(fDelta)(
            (acc, i) => joinDim(acc, i, dAt(i, dimVs(i))))
        }
        lazy val fNew = base.read(Some(upTo)).select(fProj: _*)
        m.joins.indices.foreach { i =>
          if (dimUpTos(i) > dimVs(i)) {
            val (plusD0, minusD0) = dimTables(i).windowDelta(dimWs(i))
            val plusD = plusD0.select(dProj(i): _*)
            val minusD = minusD0.select(dProj(i): _*)
            val dDelta = plusD.withColumn(SGN, lit(1L))
              .unionByName(minusD.withColumn(SGN, lit(-1L)))
            terms += foldOrder(i).foldLeft(fNew) { (acc, jx) =>
              joinDim(acc, jx,
                if (jx == i) dDelta
                else dAt(jx, if (jx < i) dimUpTos(jx) else dimVs(jx)),
                forceInner = jx == i)
            }
            if (m.joins(i).outer) {
              // NULL-EXTENSION transition term: left-join content is the
              // inner join PLUS null-extended rows for fact keys with NO
              // dim match, and null-extension is not linear in D — a key
              // whose match count crosses 0 flips its fact rows between
              // the two forms. Exactly the window's TOUCHED key tuples
              // can flip: keys that gained their first row retract their
              // null-extended rows (sign −1), keys that lost their last
              // row grow them (sign +1). Touched keys ∝ dim churn; the
              // old/new existence probes are key-restricted dim scans.
              val dks = m.joins(i).dimKeys.map(col)
              // NETTED touched keys. windowDelta is gross-per-rewritten-
              // file (plus = window-added files' rows ⊆ snapshot(upTo),
              // minus = window-removed files' rows ⊆ snapshot(since)), so
              // a key appearing on BOTH sides verifiably existed at both
              // versions — its existence cannot have flipped and it needs
              // no probe. Netting shrinks touched from "every row of every
              // rewritten file" (which at production file sizes trips the
              // key cap on ANY churn and falls back to full probes) to the
              // true key churn; a move-only window nets to EMPTY and the
              // transition skips the probes entirely (round-13 scale
              // harness finding — b15's exponent at 10x corpus).
              val pKeys = plusD.select(dks: _*)
              val mKeys = minusD.select(dks: _*)
              val touched = pKeys.except(mKeys).unionByName(mKeys.except(pKeys))
              val keySchema = touched.schema
              def localDf(rows: Seq[org.apache.spark.sql.Row]): DataFrame = {
                val list = new java.util.ArrayList[org.apache.spark.sql.Row](rows.size)
                rows.foreach(r => { list.add(r); () })
                spark.createDataFrame(list, keySchema)
              }
              // the existence probes need the dim AT both versions
              // restricted to the touched keys — the touched tuples are
              // churn-bounded, so collect them (capped) and push them as
              // per-column IN file filters through readWhere: each probe
              // opens only the touched keys' dim files instead of the full
              // snapshot (the semi-join keeps tuple exactness — the INs
              // are per-column supersets). Over the cap the probes fall
              // back to full key-restricted scans, as everywhere.
              val touchedTuples = touched.limit(REPAIR_KEY_CAP + 1).collect()
              val capped = touchedTuples.length > REPAIR_KEY_CAP
              val touchedFilters: Seq[org.apache.spark.sql.sources.Filter] =
                if (capped) Nil
                else m.joins(i).dimKeys.zipWithIndex.flatMap { case (dk, j) =>
                  val vs = touchedTuples.map(_.get(j)).distinct
                  if (vs.contains(null)) None
                  else Some(org.apache.spark.sql.sources.In(dk, vs))
                }
              def probe(v: Long) = {
                val sD = dimTables(i).snapshot(Some(v))
                lastNullExtDimScan = Some((sD.live.size,
                  math.max(dimTables(i).pruneByFilters(sD.live, touchedFilters, sD.shape).size,
                    lastNullExtDimScan.map(_._2).getOrElse(0))))
                dimTables(i).readWhere(touchedFilters, Some(v)).select(dks: _*).distinct()
                  .join(if (capped) touched else localDf(touchedTuples.toSeq),
                    m.joins(i).dimKeys, "left_semi")
              }
              val dimSchema = dimSs(i).schema
              val anc = foldOrder(i).takeWhile(_ != i)
              def record(liveN: Int, openedN: Int): Unit =
                // the seam keeps the WIDER of the sides since its last
                // reset (gained and lost both record)
                lastNullExtScan = Some((liveN,
                  math.max(openedN, lastNullExtScan.map(_._2).getOrElse(0))))
              // one transition term: the fact slice `source` folds the
              // arm's ancestors first (a snowflake left key lives on a
              // parent dim), restricts the flow to the flipping key
              // tuples, folds every OTHER arm, and stands in NULLs for
              // this dim's carried columns
              def nullExtTerm(source: DataFrame, keysRef: DataFrame,
                  sign: Long): DataFrame = {
                val pre = anc.foldLeft(source)((acc, jx) => joinDim(acc, jx,
                  dAt(jx, if (jx < i) dimUpTos(jx) else dimVs(jx))))
                val restricted = pre.join(keysRef, m.joins(i).keyPairs
                  .map { case (fk, dk) => col(fk) === col(dk) }.reduce(_ && _),
                  "left_semi")
                val folded = foldOrder(i).filterNot(anc.contains)
                  .filterNot(_ == i)
                  .foldLeft(restricted)((acc, jx) => joinDim(acc, jx,
                    dAt(jx, if (jx < i) dimUpTos(jx) else dimVs(jx))))
                split.get._2(i).foldLeft(folded)((acc, c) =>
                  acc.withColumn(c, lit(null).cast(dimSchema(c).dataType)))
                  .withColumn(SGN, lit(sign))
              }
              if (touchedTuples.isEmpty) {
                // the netting proved no key's existence can flip: the
                // common physical-churn/segment-move refresh — no probes,
                // no transition terms, zero files on either side
                record(baseW.end.live.size, 0)
                lastNullExtDimScan = Some((
                  dimWs(i).end.live.size,
                  lastNullExtDimScan.map(_._2).getOrElse(0)))
              } else if (!capped) {
                // the flip sets are computed DRIVER-side from the two
                // bounded probes — the transition terms then semi-join
                // LOCAL relations (broadcast-sized by construction), so
                // the main maintenance job never re-runs the probes or
                // their diff. Bounded-key pushdown: the flipping tuples
                // (≤ cap — usually a handful of key births/deaths, often
                // ZERO) become per-column IN file filters on the fact
                // read, so the term opens only the flipped keys' files —
                // and no files at all on the common no-flip refresh —
                // instead of scanning the snapshot. Arm keys homed on the
                // FACT push directly; keys homed on a PARENT dim
                // (snowflake-ancestored outer arm — an optional
                // chain-tail dim) first restrict the parent to the
                // flipped values and chase its rows UP the chain to
                // fact-homed keys via [[chaseRows]] — each hop a bounded
                // probe, so the derived fact INs stay churn-bounded. The
                // tuple semi-join keeps exactness (the INs are per-column
                // supersets). A null-key chained hop or a blown chase cap
                // falls back to the full snapshot, as everywhere.
                // key tuples diff by VALUE: binary (Array[Byte]) and other
                // array-typed key columns compare by reference in a raw
                // Row.toSeq set, which would treat every touched key as
                // both gained and lost — correct (the opposite-sign terms
                // cancel) but it forces the full min/max/hll recompute
                // path on every refresh with binary keys. Wrap arrays in
                // ArraySeq for the diff; the original Rows are kept for
                // the local-relation build (createDataFrame needs raw
                // Array[Byte] back for BinaryType columns).
                def normV(v: Any): Any = v match {
                  case b: Array[Byte] =>
                    scala.collection.immutable.ArraySeq.unsafeWrapArray(b)
                  case a: Array[_] => scala.collection.immutable.ArraySeq
                    .unsafeWrapArray(a.map(normV))
                  case o => o
                }
                def keyed(rows: Array[org.apache.spark.sql.Row])
                    : Map[Seq[Any], org.apache.spark.sql.Row] =
                  rows.map(r => r.toSeq.map(normV) -> r).toMap
                val oldT = keyed(probe(dimVs(i)).collect())
                val newT = keyed(probe(dimUpTos(i)).collect())
                def term(flips: Iterable[org.apache.spark.sql.Row],
                    sign: Long): DataFrame = {
                  val tuples = flips.toSeq
                  val source =
                    if (tuples.isEmpty) {
                      // nothing flipped (the common refresh): the term is
                      // provably empty — no fact files at all
                      record(baseW.end.live.size, 0)
                      fNew.where(lit(false))
                    } else {
                      // per-column value projections of the flipped tuples
                      // (a null key value drops that column's filter)
                      val perCol: Seq[(String, Array[Any])] =
                        m.joins(i).factKeys.zipWithIndex.flatMap { case (fk, j) =>
                          val vs = tuples.map(_.get(j)).distinct.toArray
                          if (vs.contains(null)) None else Some((fk, vs))
                        }
                      val factFilters: Seq[org.apache.spark.sql.sources.Filter] =
                        if (anc.isEmpty)
                          perCol.map { case (fk, vs) =>
                            org.apache.spark.sql.sources.In(fk, vs) }
                        else {
                          val p = homes(i)
                          val restricted = perCol.foldLeft(
                            dimTables(p).readWhere(perCol.map { case (fk, vs) =>
                              org.apache.spark.sql.sources.In(fk, vs) },
                              Some(dimUpTos(p)))) {
                            case (df, (fk, vs)) => df.filter(col(fk).isin(vs: _*))
                          }
                          chaseRows(p, restricted, 0).map {
                            case (fc, ks) => org.apache.spark.sql.sources.In(fc, ks)
                          }
                        }
                      if (anc.nonEmpty && factFilters.isEmpty) fNew // chase capped out
                      else {
                        val live = baseW.end.live
                        record(live.size,
                          base.pruneByFilters(live, factFilters, baseW.end.shape).size)
                        base.readWhere(factFilters, Some(upTo)).select(fProj: _*)
                      }
                    }
                  nullExtTerm(source, localDf(tuples), sign)
                }
                terms += term((newT -- oldT.keySet).values, -1L) // 0→1: nulls retract
                terms += term((oldT -- newT.keySet).values, 1L) // 1→0: nulls appear
              } else {
                // over the cap: unpruned probes, the diff as an exceptAll
                // on the live plans, and a full-snapshot term — a churn
                // wave touching more keys than the cap re-touches most
                // fact files anyway
                val oldKeys = probe(dimVs(i))
                val newKeys = probe(dimUpTos(i))
                terms += nullExtTerm(fNew, newKeys.exceptAll(oldKeys), -1L)
                terms += nullExtTerm(fNew, oldKeys.exceptAll(newKeys), 1L)
              }
            }
          }
        }
        terms.map(_.select(outCols: _*)).reduce(_ unionByName _)
      }
    }
    // a filtered view maintains σ_p(F⋈D…): the predicate commutes with the
    // signed delta (deterministic, row-local), so filtering the joined
    // contribution rows maintains exactly the filtered aggregate — and an
    // expression dim commutes identically, computed per contribution row
    val contribX = m.dimExprs.foldLeft(contrib) { case (df, (n, t)) =>
      df.withColumn(n, expr(t)) }
    val contribF = m.filter.map(f => contribX.filter(expr(f))).getOrElse(contribX)

    // one signed hash-aggregate computes every per-group delta at once.
    // `expr(in)` resolves a bare column name to the same attribute
    // `col(in)` would, and evaluates an expression input per
    // contribution row (its references ride every projection above)
    val sgn = col(SGN)
    val deltaAggs: Seq[Column] =
      Seq(sum(sgn).as(DN), max(when(sgn === -1, 1).otherwise(0)).as(HASM)) ++
        m.aggs.flatMap {
          case MvAgg(n, "count", in) =>
            val c = if (in == "*") sum(sgn) else sum(when(inE(in).isNotNull, sgn).otherwise(0L))
            Seq(c.as(dCol(n)))
          case MvAgg(n, "sum", in) => Seq(
            sum(when(sgn === 1, inE(in)).otherwise(-inE(in))).as(dCol(sumCol(n))),
            sum(when(inE(in).isNotNull, sgn).otherwise(0L)).as(dCol(cntCol(n))))
          case MvAgg(n, "avg", in) => Seq(
            sum(when(sgn === 1, inE(in)).otherwise(-inE(in))).as(dCol(sumCol(n))),
            sum(when(inE(in).isNotNull, sgn).otherwise(0L)).as(dCol(cntCol(n))))
          case MvAgg(n, "min", in) => Seq(min(when(sgn === 1, inE(in))).as(pCol(n)))
          case MvAgg(n, "max", in) => Seq(max(when(sgn === 1, inE(in))).as(pCol(n)))
          case MvAgg(n, "hll", in) =>
            // sketch of the window's ADDED values only — removals route the
            // group through the recompute path below (sketches can't retract)
            Seq(hll_sketch_agg(when(sgn === 1, inE(in))).as(pCol(n)))
        }
    val delta = contribF.groupBy(dims.map(col): _*)
      .agg(deltaAggs.head, deltaAggs.tail: _*)
      .withColumn(MVKEY, mvKeyCol(dims))

    val internalCols = stateValueCols(m.aggs)
    // the OLD state pinned at the observed version — a racer's commit
    // after this point can change neither what we read nor what we
    // publish (the pinned claim fails instead)
    val old = st.read(Some(vState)).select((MVKEY +: internalCols).map(col): _*)
    val merged = delta.as("d").join(old.as("o"), Seq(MVKEY), "left")

    def d(c: String) = col(s"d.$c")
    def o(c: String) = col(s"o.$c")
    // both sides 0-coalesced: a window can contribute only-NULL inputs for
    // an agg (null delta) without erasing the stored value. A DEAD stored
    // row's linear values are exactly 0 (everything cancelled on the way
    // down), so rebirth arithmetic continues from the zeroed baseline.
    def plusOld(name: String, deltaName: String): Column =
      (coalesce(o(name), lit(0)) + coalesce(d(deltaName), lit(0))).cast(stType(name)).as(name)

    // a dead row's stored extremum is stale — rebirth must not inherit it
    def oLive(name: String): Column = when(o(GRP_N) > 0, o(name))

    val newN = (coalesce(o(GRP_N), lit(0L)) + d(DN)).cast(LongType)
    val valueCols: Seq[Column] = m.aggs.flatMap {
      case MvAgg(n, "count", _) => Seq(plusOld(n, dCol(n)))
      case MvAgg(n, "sum", _) =>
        Seq(plusOld(sumCol(n), dCol(sumCol(n))), plusOld(cntCol(n), dCol(cntCol(n))))
      case MvAgg(n, "avg", _) =>
        Seq(plusOld(sumCol(n), dCol(sumCol(n))), plusOld(cntCol(n), dCol(cntCol(n))))
      case MvAgg(n, "min", _) =>
        // sound only for groups with no removals; removal groups get
        // re-aggregated below and this placeholder is overridden
        Seq(when(d(HASM) === 0, least(oLive(n), d(pCol(n)))).cast(stType(n)).as(n))
      case MvAgg(n, "max", _) =>
        Seq(when(d(HASM) === 0, greatest(oLive(n), d(pCol(n)))).cast(stType(n)).as(n))
      case MvAgg(n, "hll", _) =>
        // additions-only groups union the window sketch into the stored
        // one (either side absent → the other); removal groups get the
        // null placeholder and are re-sketched below. oLive: a reborn
        // group must not inherit the dead row's stale sketch.
        val sc = hllCol(n)
        Seq(when(d(HASM) === 0,
          when(oLive(sc).isNull, d(pCol(n)))
            .when(d(pCol(n)).isNull, oLive(sc))
            .otherwise(hll_union(oLive(sc), d(pCol(n))))).as(sc))
    }
    val newRows = merged.select(
      (dims.map(x => d(x).as(x)) :+ col(MVKEY) :+ newN.as(GRP_N)) ++
        valueCols :+ d(HASM).as(HASM): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // non-retractable aggregates: min/max (a removal may take the
      // extremum) and hll (a sketch cannot forget a value)
      val nonLin = m.aggs.filter(a => Set("min", "max", "hll").contains(a.kind))
      def storedName(a: MvAgg): String = if (a.kind == "hll") hllCol(a.name) else a.name
      // LIVE groups that lost rows may have lost their extremum (or
      // sketched a removed value): re-aggregate exactly those groups from
      // the snapshot. Their dim tuples are collected (bounded: one row per
      // removal-touched group, capped) BOTH to skip the snapshot scan
      // entirely on pure-addition windows and to derive IN filters on
      // FACT columns — pushed through [[LakeTable.readWhere]] so
      // commit-log stats/partition/bucket skipping opens only the affected
      // groups' files. A fact-resident dim filters directly on itself; a
      // DIM-TABLE-resident dim (the star/snowflake `GROUP BY n_name`
      // shape) chases its affected values down the join chain to a
      // fact-homed join key — each hop a bounded collect over a dim table
      // restricted to the previous hop's values, so the derived fact-key
      // IN list stays churn-bounded. Over a cap, or for null values, that
      // dim's filter is dropped (pruning is an optimization; the MVKEY
      // semi-join below is what bounds the re-aggregate's ROWS).
      val affected =
        if (nonLin.isEmpty) Array.empty[org.apache.spark.sql.Row]
        else newRows.filter(col(GRP_N) > 0 && col(HASM) > 0)
          .select(dims.map(col): _*).distinct().limit(REPAIR_IN_CAP + 1).collect()
      val patched =
        if (nonLin.isEmpty || affected.isEmpty) newRows.drop(HASM)
        else {
          val reKeys = newRows.filter(col(GRP_N) > 0 && col(HASM) > 0).select(MVKEY)
          val reAggs = nonLin.map {
            case MvAgg(n, "min", in) => min(inE(in)).as(reCol(n))
            case MvAgg(n, "hll", in) => hll_sketch_agg(inE(in)).as(reCol(n))
            case MvAgg(n, _, in) => max(inE(in)).as(reCol(n))
          }
          // walk one dim-resident column's affected values down to the
          // fact: restrict dim t on (colName IN values), project the
          // key(s) that join t to its parent, repeat until the parent is
          // the fact itself. A COMPOSITE hop emits one filter per key
          // column — the per-column projection of the matching key
          // tuples, each individually a SUPERSET of the affected rows,
          // so conjoining them for file pruning is sound (documented
          // superset semantics; the MVKEY semi-join bounds the rows).
          // A branch that explodes past the cap (a huge group — pruning
          // would not help) or surfaces a null key is dropped (see
          // [[chaseRows]] above, shared with the transition term).
          def chaseToFact(t0: Int, col0: String,
              vals0: Array[Any]): Seq[(String, Array[Any])] =
            chaseRows(t0, dimTables(t0)
              .readWhere(Seq(org.apache.spark.sql.sources.In(col0, vals0)),
                Some(dimUpTos(t0)))
              .filter(col(col0).isin(vals0: _*)), 0)
          def dimHome(c: String): Option[Int] =
            dimTables.indices.find(i => dimSs(i).schema.fieldNames.contains(c))
          val inFilters: Seq[org.apache.spark.sql.sources.Filter] =
            if (affected.length > REPAIR_IN_CAP) Nil
            else dims.zipWithIndex.flatMap { case (d, ix) =>
              val vs = affected.map(_.get(ix)).distinct
              if (vs.contains(null)) Nil
              else if (baseS.schema.fieldNames.contains(d))
                Seq(org.apache.spark.sql.sources.In(d, vs))
              else m.dimExprs.get(d) match {
                case None => dimHome(d).map(t => chaseToFact(t, d, vs).map {
                    case (fc, ks) => org.apache.spark.sql.sources.In(fc, ks)
                  }).getOrElse(Nil)
                case Some(text) =>
                  // DIM-side expression dim (`day := date_trunc('DAY',
                  // c_since)`): invert the affected buckets to dim rows by
                  // EVALUATING the expression over the dim snapshot (the
                  // scan itself is file-pruned via the monotonic transform
                  // when it applies), then chase those rows' keys to the
                  // fact exactly like a bare dim-resident column.
                  // Fact-side expression dims are handled by exprPrune.
                  filterRefNames(spark, text) match {
                    case Seq(src) if dimHome(src).isDefined =>
                      val t = dimHome(src).get
                      val pruner = monotonicBucketPruner(
                        spark, dimTables(t), text, vs)
                        .getOrElse(identity[Seq[FileAction]] _)
                      chaseRows(t, dimTables(t)
                        .readWherePruned(Nil, pruner, Some(dimUpTos(t)))
                        .filter(expr(text).isin(vs: _*)), 0).map {
                        case (fc, ks) => org.apache.spark.sql.sources.In(fc, ks)
                      }
                    case _ => Nil
                  }
              }
            }
          // EXPRESSION dims over a monotonic fact-column transform prune
          // files the same way hidden partitioning does (see
          // [[monotonicBucketPruner]]); multiple expr dims compose (each
          // pruner keeps a superset of its dim's affected files)
          val exprPrune: Seq[FileAction] => Seq[FileAction] =
            if (affected.length > REPAIR_IN_CAP) identity
            else dims.zipWithIndex.foldLeft(
              identity[Seq[FileAction]] _) { case (acc, (d, ix)) =>
              m.dimExprs.get(d).flatMap(text => monotonicBucketPruner(
                  spark, base, text, affected.map(_.get(ix)).distinct)) match {
                case None => acc
                case Some(f) => acts => f(acc(acts))
              }
            }
          val live = baseW.end.live
          lastRepairScan = Some((live.size,
            exprPrune(base.pruneByFilters(live, inFilters, baseW.end.shape)).size))
          val snapBase = base.readWherePruned(inFilters, exprPrune, Some(upTo))
          val snapJoined =
            if (m.joins.isEmpty) snapBase
            else m.joins.indices.foldLeft(snapBase.select(fProj: _*))(
              (acc, i) => joinDim(acc, i, dAt(i, dimUpTos(i))))
          val snap = m.filter.map(f => snapJoined.filter(expr(f))).getOrElse(snapJoined)
          val snapX = m.dimExprs.foldLeft(snap) { case (df, (n, t)) =>
            df.withColumn(n, expr(t)) }
          val re = snapX.withColumn(MVKEY, mvKeyCol(dims))
            .join(reKeys, Seq(MVKEY), "left_semi")
            .groupBy(MVKEY).agg(reAggs.head, reAggs.tail: _*)
          val keep = newRows.columns.filterNot(c =>
            c == HASM || nonLin.exists(storedName(_) == c))
          newRows.join(re, Seq(MVKEY), "left")
            .select(keep.map(col) ++ nonLin.map(a =>
              coalesce(col(reCol(a.name)), col(storedName(a)))
                .cast(stType(storedName(a))).as(storedName(a))): _*)
        }

      // ONE commit: touched groups (live AND dead tombstones) upserted,
      // pinned at the observed state version, with the new cursor
      // components in the commit's txn map — data and cursor can never
      // disagree, and the commit no-ops only when a racer already
      // covered EVERY component.
      //
      // The rows are MATERIALIZED (eager localCheckpoint) before the
      // publish: `patched` carries the whole contrib lineage — window
      // reads, the telescoping join terms, the signed aggregate, the
      // old-state join, the repair subtree — and the state upsert runs
      // THREE executions over it (prune aggregate, touched-file probe,
      // write). With only a persist, each execution re-pays Catalyst
      // analysis of that tree; the round-14 profile showed the publish
      // phase driver-bound (job time ≪ phase wall, the e17 finding —
      // guide §3.3 "planning time itself can become the bottleneck",
      // §5 localCheckpoint). The checkpoint runs the (cached) plan once;
      // the publish then plans against a leaf. Fault-tolerance note: a
      // lost block fails this refresh attempt, which is safe — refresh
      // is an idempotent OCC transaction and simply re-runs.
      val patchedM = patched.withColumn(MVVER, lit(upTo)).localCheckpoint(true)
      try {
        st.upsertPinned(patchedM, vState,
          txnMany = Map(CURSOR_APP -> upTo) ++
            m.joins.indices.map(i => dimCursorApp(i) -> dimUpTos(i)))
      } finally {
        // free the checkpoint's blocks now (state churn is small, but a
        // long-lived streaming view refreshes thousands of times — see
        // Bpe.freeCheckpoint for the accumulation failure mode)
        patchedM.queryExecution.analyzed.collect {
          case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
        }.foreach(_.unpersist(false))
      }
    } finally {
      newRows.unpersist(blocking = false)
      ()
    }
    // Done ONLY if the now-recorded cursor covers this attempt's windows
    // component-wise — a racer can have advanced one table's component
    // past ours while never applying another's window; returning false
    // re-runs from the racer's cursor and applies what is missing.
    val stNow = state
    val (cf, cds) = cursorOf(stNow, m, stNow.latestVersion)
    val covered = cf >= upTo &&
      cds.zip(dimUpTos).forall { case (c, u) => c >= u }
    if (covered) {
      // display mirror only — the authoritative cursor is in the state commit
      writeMeta(path, m.copy(lastVersion = cf,
        joins = m.joins.zip(cds).map { case (j, c) => j.copy(dimVersion = c) }),
        conf)
    }
    covered
  }
}

object MaterializedView {
  private val mapper = new ObjectMapper()

  private[lake] val MVKEY = "_mv_key"
  private[lake] val MVVER = "_mv_ver"
  private[graft] val GRP_N = "_grp_n"

  /** Extremum/sketch repair pushes at most this many affected-group dim
    * tuples into the snapshot scan as IN filters; beyond it the repair
    * falls back to the unpruned scan (a huge removal wave re-touches most
    * files anyway, and a driver-side IN list must stay bounded). */
  private val REPAIR_IN_CAP = 256

  /** Cap on a fact-key IN list DERIVED from dim-resident view dims (the
    * chase through the join chain): larger than [[REPAIR_IN_CAP]] because
    * one dim value legitimately fans out to many fact keys (a nation's
    * customers), while the list must stay a driver-side filter. Past it,
    * that dim's filter is dropped — the group touches so much of the fact
    * that file pruning would not pay for the probe. */
  private val REPAIR_KEY_CAP = 8192

  /** Diagnostic seam for the repair-scan pruning (total live files,
    * files actually scanned by the LAST repair this JVM ran) — read by
    * MaterializedViewSpec to pin that clustered dims shrink the repair. */
  @volatile private[graft] var lastRepairScan: Option[(Int, Int)] = None

  /** Same seam for the LEFT-join null-extension transition term: (total
    * live fact files, files the LAST key-pushed transition read opened) —
    * pins that key births/deaths open only the flipped keys' files, and
    * ZERO files when nothing flipped. */
  @volatile private[graft] var lastNullExtScan: Option[(Int, Int)] = None

  /** Seam for the null-extension EXISTENCE PROBES (the outer dim read at
    * its old and new versions): (total live dim files, files the widest
    * touched-key-pushed probe opened since the last reset) — pins that a
    * churned outer arm's probes open only the touched keys' dim files,
    * never the full dim snapshot. */
  @volatile private[graft] var lastNullExtDimScan: Option[(Int, Int)] = None

  /** Expression-dim repair pruning: when an expression dim is a MONOTONIC
    * transform of a single fact column (`day := date_trunc('DAY', ts)` —
    * [[GeneratedCols.monotonicSource]], the same gate hidden partitioning
    * trusts), a file whose `src` stat range maps under g to a bucket
    * interval DISJOINT from the affected buckets cannot hold an
    * affected-group row. Returns a file-level pruner, or None when any
    * piece doesn't hold (non-monotonic, multi-source, unparseable,
    * non-numeric-backed types) — pruning is an optimization, bailing is
    * always sound. Fully driver-side: the expression is resolved ONCE
    * against a one-attribute relation and evaluated per distinct stat
    * value, no Spark jobs. */
  private def monotonicBucketPruner(spark: SparkSession, base: LakeTable,
      text: String, values: Seq[Any]): Option[Seq[FileAction] => Seq[FileAction]] = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Literal}
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
    if (values.isEmpty || values.contains(null)) return None
    val src = GeneratedCols.monotonicSource(spark, text).getOrElse(return None)
    val sh = base.snapshot().shape
    val srcField = sh.schema.fields
      .find(_.name.equalsIgnoreCase(src)).getOrElse(return None)
    val gExpr =
      try {
        val parsed = spark.sessionState.sqlParser.parseExpression(text)
        val attr = AttributeReference(srcField.name, srcField.dataType)()
        spark.sessionState.executePlan(
          Project(Seq(Alias(parsed, "g")()), LocalRelation(attr))).analyzed match {
          case p: Project => p.projectList.head match {
            case al: Alias => al.child
            case other => other
          }
          case _ => return None
        }
      } catch { case scala.util.control.NonFatal(_) => return None }
    if (!gExpr.deterministic) return None
    // total order over INTERNAL values — numeric-backed types only
    // (timestamp = micros Long, date = days Int, plain numerics)
    def num(v: Any): Option[java.math.BigDecimal] = v match {
      case null => None
      case n: java.lang.Number =>
        // NaN/Infinity dim values have no BigDecimal form — bail to the
        // unpruned repair rather than throw NumberFormatException
        try Some(new java.math.BigDecimal(n.toString))
        catch { case _: NumberFormatException => None }
      case d: org.apache.spark.sql.types.Decimal => Some(d.toJavaBigDecimal)
      case _ => None
    }
    val vNums = values.map(v => num(
      org.apache.spark.sql.catalyst.CatalystTypeConverters.convertToCatalyst(v)))
    if (vNums.exists(_.isEmpty)) return None
    val lo = vNums.flatten.min
    val hi = vNums.flatten.max
    // typed parse of a stored src stat string (FooterStats renders the
    // numeric-backed physical values as plain numbers)
    def statVal(s: String): Option[Any] =
      if (s.isEmpty || s == "￿") None
      else srcField.dataType match {
        case TimestampType | org.apache.spark.sql.types.TimestampNTZType |
            LongType => s.toLongOption
        case DateType | IntegerType => s.toIntOption
        case org.apache.spark.sql.types.ShortType => s.toShortOption
        case DoubleType => s.toDoubleOption
        case org.apache.spark.sql.types.FloatType => s.toFloatOption
        case _ => None
      }
    val memo = scala.collection.mutable.HashMap.empty[Any, Option[java.math.BigDecimal]]
    def gOf(statV: Any): Option[java.math.BigDecimal] =
      memo.getOrElseUpdate(statV,
        try num(gExpr.transform {
          case _: AttributeReference => Literal(statV, srcField.dataType)
        }.eval(null))
        catch { case scala.util.control.NonFatal(_) => None })
    Some(acts => acts.filter { a =>
      base.statRange(a, src, sh.spec.key) match {
        case None => true
        case Some((mnS, mxS)) =>
          (for {
            mnV <- statVal(mnS); mxV <- statVal(mxS)
            gLo <- gOf(mnV); gHi <- gOf(mxV)
            // monotone g: the file's buckets lie in [g(min), g(max)] —
            // skip iff that interval misses the affected bucket range
          } yield !(gHi.compareTo(lo) < 0 || gLo.compareTo(hi) > 0))
            .getOrElse(true)
      }
    })
  }

  /** Dead-group self-pruning cadence: every 16th state commit checks the
    * tombstone count (one bounded state scan) and prunes once at least 64
    * have accumulated — so a streaming view's state stays bounded without
    * manual [[MaterializedView.pruneDeadGroups]] calls, while low-churn
    * views never pay a needless delete commit. */
  private val AUTO_PRUNE_EVERY = 16L
  private val AUTO_PRUNE_MIN_DEAD = 64L

  /** One DERIVED column of a state read — serving an aggregate the view
    * never declared from what the state already stores: `kind` ∈
    *   avg  — src sum/avg agg's  sum ÷ cnt
    *   sum  — src avg agg's stored running sum
    *   cnt  — src sum/avg agg's non-null input count
    *   star — the group's live row count [[GRP_N]] (= count(*); src unused)
    * Built by the rewrite ([[graft.sql.GraftMvRewrite]]); `out` is the
    * synthetic output column name. */
  private[graft] case class MvDerived(out: String, kind: String, src: String)

  /** Is an agg input a BARE column reference (or `*`), as opposed to a
    * row-local SQL expression? Plain identifiers are columns; anything
    * with operators/calls/quoting is an expression, validated at create
    * and stored in its analyzed rendering (the `dimExprs` treatment).
    * Schema-aware call sites should ALSO treat a known column name as
    * bare even when it is not a plain identifier (see [[inCol]]) — a
    * legacy view over a column literally named `a-b` must never have its
    * input parsed as subtraction. */
  private[lake] def isBareInput(in: String): Boolean =
    in == "*" || in.matches("[A-Za-z_][A-Za-z0-9_]*")

  /** The Column evaluating an agg input (never `*`) against a plan whose
    * resolvable column names `known` answers: bare inputs — including a
    * bare input whose name is NOT a plain identifier (hyphens, spaces),
    * which `expr` would silently mis-parse as arithmetic — resolve as a
    * backtick-quoted attribute; everything else parses as the stored
    * row-local expression. */
  private def inCol(in: String, known: String => Boolean): Column =
    if (isBareInput(in) || known(in)) col("`" + in.replace("`", "``") + "`")
    else expr(in)

  /** Unresolved attribute names a view-filter predicate references —
    * these must ride every maintenance projection. */
  private[lake] def filterRefNames(spark: SparkSession, f: String): Seq[String] =
    spark.sessionState.sqlParser.parseExpression(f).collect {
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => u.name
    }.distinct

  /** Definition references that no longer resolve in the member schemas —
    * the MV SCHEMA-EVOLUTION CONTRACT surface. Additive evolution (a base
    * or dim GAINING a column) is harmless and never listed: the view
    * simply doesn't reference it. RENAMING or DROPPING a column a dim /
    * agg input / filter / join key references BREAKS the view:
    * [[MaterializedView.refresh]] fails with these references named (a
    * clean contract error, not an opaque mid-plan AnalysisException) and
    * `DESCRIBE MATERIALIZED VIEW` surfaces them as `broken_reference`
    * rows. The rewrite stays safe for free — any schema change commits a
    * new member version, so a broken view is also STALE and never
    * serves; restoring the column (rename back / addColumns) or
    * recreating the view repairs it. */
  private[graft] def brokenReferences(spark: SparkSession, m: MvMeta,
      factSchema: StructType, dimSchemas: Seq[StructType]): Seq[String] = {
    val all = factSchema +: dimSchemas
    def missing(c: String): Boolean = !all.exists(_.fieldNames.contains(c))
    def exprRefs(t: String): Seq[String] =
      try filterRefNames(spark, t)
      catch { case scala.util.control.NonFatal(_) => Nil }
    val b = Seq.newBuilder[String]
    m.dims.foreach { d =>
      m.dimExprs.get(d) match {
        case None => if (missing(d)) b += s"dim $d"
        case Some(t) => exprRefs(t).filter(missing)
          .foreach(c => b += s"dim $d references $c")
      }
    }
    m.aggs.foreach { a =>
      val in = a.input
      if (in != "*") {
        if (!missing(in)) () // resolves as a (possibly non-identifier) column
        else if (isBareInput(in)) b += s"agg ${a.name} input $in"
        else exprRefs(in).filter(missing)
          .foreach(c => b += s"agg ${a.name} references $c")
      }
    }
    m.filter.foreach(f => exprRefs(f).filter(missing)
      .foreach(c => b += s"filter references $c"))
    m.joins.zipWithIndex.foreach { case (j, i) =>
      (j.factKeys ++ j.dimKeys).filter(missing)
        .foreach(c => b += s"join $i key $c")
    }
    b.result().distinct
  }

  /** Expected-vs-stored STATE column types under the CURRENT member
    * schemas — the TYPE-WIDENING half of the schema-evolution contract.
    * A member column widened in place ([[LakeTable.widenColumn]]:
    * int→bigint, float→double, decimal growth) under a dim / sum / avg /
    * min / max keeps its name, so [[brokenReferences]] cannot see the
    * change — but the state column's narrower type can no longer hold
    * new values, and the maintenance arithmetic casts every delta to the
    * STORED type (a silent wraparound under non-ANSI, not an error).
    * Each returned entry is `(state column, stored type, expected
    * type)`, where the expected type is what a full recompute under the
    * current member schemas would produce — resolved schema-only against
    * an empty relation, no Spark job. `refresh` applies lossless
    * widenings to the state in place and refuses anything else with the
    * change named; `DESCRIBE MATERIALIZED VIEW` surfaces pending entries
    * as `type_widening` rows. count / hll / the internal counters are
    * input-type-free (long / binary sketch) and never appear. A widened
    * hll INPUT needs no state change either: integral sketch updates
    * hash through the long path, so a value sketched as int and the same
    * value as bigint land identically. */
  private[graft] def stateTypeChanges(spark: SparkSession, m: MvMeta,
      stateSchema: StructType, factSchema: StructType,
      dimSchemas: Seq[StructType]): Seq[(String, DataType, DataType)] = {
    val joinedFields = (factSchema.fields ++ dimSchemas.flatMap(_.fields))
      .foldLeft(Vector.empty[StructField])((acc, f) =>
        if (acc.exists(_.name == f.name)) acc else acc :+ f)
    val probe = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(joinedFields))
    val memberCols = joinedFields.map(_.name).toSet
    def inE(in: String): Column = inCol(in, memberCols)
    def rowType(c: Column): Option[DataType] =
      try Some(probe.select(c).schema.head.dataType)
      catch { case scala.util.control.NonFatal(_) => None }
    def aggType(c: Column): Option[DataType] =
      try Some(probe.agg(c).schema.head.dataType)
      catch { case scala.util.control.NonFatal(_) => None }
    val want = Seq.newBuilder[(String, Option[DataType])]
    m.dims.foreach { d =>
      m.dimExprs.get(d) match {
        case None =>
          want += ((d, joinedFields.find(_.name.equalsIgnoreCase(d)).map(_.dataType)))
        case Some(t) => want += ((d, rowType(expr(t))))
      }
    }
    m.aggs.foreach {
      case MvAgg(n, "sum" | "avg", in) =>
        // mirror of [[fullState]]'s stored running sum
        want += ((sumCol(n), aggType(coalesce(sum(inE(in)), lit(0)))))
      case MvAgg(n, "min", in) => want += ((n, aggType(min(inE(in)))))
      case MvAgg(n, "max", in) => want += ((n, aggType(max(inE(in)))))
      case _ => () // count → long, hll → binary: input-type-free
    }
    want.result().flatMap {
      case (name, Some(w)) if stateSchema.fieldNames.contains(name) &&
          stateSchema(name).dataType != w =>
        Some((name, stateSchema(name).dataType, w))
      case _ => None
    }
  }

  /** Home table of each join's LEFT keys: -1 = the fact table, j = dim j.
    * Validates the bare-name join contract — every join key must live in
    * EXACTLY one of the n+1 schemas (so `col(key)` stays unambiguous
    * under any fold order, and stays so if a table evolves), a dim key
    * only on its own dim, and a left key on the fact or an EARLIER dim
    * (star arms hang off the fact; snowflake arms chain parent-first).
    * A COMPOSITE join's left keys must all live on the SAME table — one
    * arm has one parent. */
  private[lake] def keyHomes(factSchema: StructType, dimSchemas: Seq[StructType],
      joins: Seq[MvJoin]): Seq[Int] = {
    val all = factSchema +: dimSchemas
    def owners(c: String): Seq[Int] =
      all.indices.filter(i => all(i).fieldNames.contains(c))
    joins.zipWithIndex.map { case (j, i) =>
      j.keyPairs.foreach { case (fk, dk) =>
        require(fk != dk,
          s"join keys must have distinct names (got $fk on both sides) — " +
            "alias one side so bare-name join columns stay unambiguous")
      }
      j.dimKeys.foreach { dkName =>
        val dk = owners(dkName)
        require(dk == Seq(i + 1),
          s"dimKey $dkName must be a column of its OWN dim table only " +
            s"(resolves in ${dk.size} of the joined tables)")
      }
      val fkHomes = j.factKeys.map { fkName =>
        val fk = owners(fkName)
        require(fk.size == 1,
          s"join key $fkName must resolve in exactly one joined table " +
            s"(resolves in ${fk.size}) — rename the colliding column(s)")
        require(fk.head <= i,
          s"join key $fkName lives on dim ${fk.head - 1}, which joins AFTER " +
            s"join $i — order snowflake arms parent-first")
        fk.head - 1
      }
      require(fkHomes.distinct.size == 1,
        s"composite join keys ${j.factKeys.mkString(", ")} must all live on " +
          s"the same table (found homes ${fkHomes.distinct.mkString(", ")})")
      require(fkHomes.head < 0 || !joins(fkHomes.head).outer,
        s"join $i keys off LEFT-join arm ${fkHomes.head} — outer arms must " +
          "be leaves (a child arm would have to join the parent's " +
          "null-extended rows, and the per-arm signed transition algebra " +
          "no longer telescopes). Workaround for an all-optional chain " +
          "(fact LEFT a LEFT b): denormalize — pre-join b's columns onto " +
          "a (one LEFT arm carrying both tables' attributes), or declare " +
          "b's attributes as columns of a")
      fkHomes.head
    }
  }

  /** txn appIds carrying the maintenance-cursor components on every
    * refresh commit of the state table — one watermark for the fact
    * window, one per star-join dim (see [[MaterializedView.refresh]]). */
  private val CURSOR_APP = "graft.mv.cursor"
  private def dimCursorApp(i: Int) = s"graft.mv.cursor.dim$i"
  private val SGN = "_sgn"
  // agg output names are required to be plain identifiers (no leading `_`),
  // so the `_`-prefixed internal names below can never collide with
  // `dCol`/`pCol`/`reCol` of a user agg
  private val DN = "_d0"
  private val HASM = "_hasm"
  private def dCol(n: String) = s"_d_$n"
  private def pCol(n: String) = s"_p_$n"
  private def reCol(n: String) = s"_re_$n"
  // the stored-partial naming scheme — private[graft]: the grouping-sets
  // rewrite ([[graft.sql.GraftMvRewrite]]) re-aggregates raw partials
  // through the query's own Expand, so it addresses them by name
  private[graft] def sumCol(n: String) = s"${n}__sum"
  private[graft] def cntCol(n: String) = s"${n}__cnt"
  private def hllCol(n: String) = s"${n}__hll"

  /** Null-safe, collision-free dim-tuple key: each dim base64-encoded (no
    * `,` in the alphabet) with a `v`/`n` null marker, comma-joined — so no
    * concatenation of values can alias another tuple. */
  private def mvKeyCol(dims: Seq[String]): Column =
    concat_ws(",",
      dims.map(d =>
        coalesce(concat(lit("v"), base64(col(d).cast(StringType).cast(BinaryType))),
          lit("n"))): _*)

  /** Internal stored columns for the declared aggregates (plus [[GRP_N]]). */
  private def stateValueCols(aggs: Seq[MvAgg]): Seq[String] =
    GRP_N +: aggs.flatMap {
      case MvAgg(n, "sum", _) => Seq(sumCol(n), cntCol(n))
      case MvAgg(n, "avg", _) => Seq(sumCol(n), cntCol(n))
      case MvAgg(n, "hll", _) => Seq(hllCol(n))
      case a => Seq(a.name)
    }

  private def fullState(base: DataFrame, dims: Seq[String], aggs: Seq[MvAgg],
      version: Long): DataFrame = {
    val known = base.columns.toSet
    def inE(in: String): Column = inCol(in, known)
    val exprs: Seq[Column] = count(lit(1)).as(GRP_N) +: aggs.flatMap {
      case MvAgg(n, "count", in) =>
        Seq((if (in == "*") count(lit(1)) else count(inE(in))).as(n))
      case MvAgg(n, "sum", in) =>
        Seq(coalesce(sum(inE(in)), lit(0)).as(sumCol(n)), count(inE(in)).as(cntCol(n)))
      case MvAgg(n, "avg", in) =>
        Seq(coalesce(sum(inE(in)), lit(0)).as(sumCol(n)), count(inE(in)).as(cntCol(n)))
      case MvAgg(n, "min", in) => Seq(min(inE(in)).as(n))
      case MvAgg(n, "max", in) => Seq(max(inE(in)).as(n))
      case MvAgg(n, "hll", in) => Seq(hll_sketch_agg(inE(in)).as(hllCol(n)))
    }
    base.groupBy(dims.map(col): _*).agg(exprs.head, exprs.tail: _*)
      .withColumn(MVKEY, mvKeyCol(dims))
      .withColumn(MVVER, lit(version))
  }

  /** One star-join arm of a view: the fact (base) table equi-joins the
    * dim lake table at `dimPath` on `factKeys(i) = dimKeys(i)` for every i
    * — COMPOSITE equi-join keys model surrogate-less dims joined on a
    * multi-column natural key (e.g. `(custkey, nationkey)`). All left keys
    * of one arm must live on the SAME table (the fact, or one earlier dim
    * for a snowflake chain). `outer` makes the arm a LEFT OUTER join —
    * fact rows without a dim match stay, null-extended (the optional-dim
    * shape); an outer arm must be a LEAF (no later arm may key off its
    * columns — an inner child would drop exactly the null-extended rows,
    * and the signed algebra would no longer telescope per arm).
    * `dimVersion` is the dim version the stored state reflects — pinned
    * at create, advanced by every refresh (an incremental-maintenance
    * cursor, exactly like `lastVersion` for the fact side). */
  case class MvJoin(dimPath: String, factKeys: Seq[String], dimKeys: Seq[String],
      dimVersion: Long = 0L, outer: Boolean = false) {
    require(factKeys.nonEmpty && factKeys.size == dimKeys.size,
      s"join on $dimPath needs 1+ key pairs with equal arity " +
        s"(got ${factKeys.size} left keys, ${dimKeys.size} dim keys)")
    /** The key pairs in definition order. */
    def keyPairs: Seq[(String, String)] = factKeys.zip(dimKeys)
  }
  object MvJoin {
    /** Single-column compatibility constructors. */
    def apply(dimPath: String, factKey: String, dimKey: String): MvJoin =
      MvJoin(dimPath, Seq(factKey), Seq(dimKey), 0L)
    def apply(dimPath: String, factKey: String, dimKey: String,
        dimVersion: Long): MvJoin =
      MvJoin(dimPath, Seq(factKey), Seq(dimKey), dimVersion)
  }

  /** `filter` is an optional deterministic row predicate (SQL text over
    * the joined row) — the view maintains `σ_filter(F ⋈ D…)` GROUP BY
    * dims, the shape real deployments slice on (one tenant, one status,
    * recent partitions). Stored in its ANALYZED rendering so the rewrite
    * can match query predicates canonically.
    *
    * `dimExprs` maps a dim NAME to a deterministic row-local SQL
    * expression over the joined row (`day → date_trunc('DAY', ts)`) —
    * an EXPRESSION dim, the `GROUP BY date_trunc(…)` shape every
    * time-bucketed dashboard uses. A deterministic row-local expression
    * commutes with the signed delta exactly like the filter does: each
    * maintenance projection computes it per contribution row, so the
    * aggregate maintains incrementally unchanged. Dims absent from the
    * map are bare columns. Stored in analyzed rendering, matched
    * canonically by the rewrite. */
  case class MvMeta(basePath: String, dims: Seq[String], aggs: Seq[MvAgg],
      lastVersion: Long, joins: Seq[MvJoin] = Seq.empty,
      filter: Option[String] = None,
      dimExprs: Map[String, String] = Map.empty)

  /** Assign each needed output column to the fact or exactly one dim,
    * rejecting names present in more than one table (the view definition
    * must be unambiguous). Returns (fact columns, per-dim columns). */
  private def sideSplitN(factSchema: StructType, dimSchemas: Seq[StructType],
      need: Seq[String], joins: Seq[MvJoin]): (Seq[String], Seq[Seq[String]]) = {
    need.foreach { c =>
      val hits = (factSchema +: dimSchemas).count(_.fieldNames.contains(c))
      require(hits > 0, s"view column $c is in neither the fact nor any dim schema")
      require(hits == 1, s"view column $c is ambiguous (present in $hits tables)")
    }
    (need.filter(factSchema.fieldNames.contains),
      dimSchemas.map(ds => need.filter(ds.fieldNames.contains)))
  }

  private def metaFile(path: String) = new Path(path, "_graft_mv.json")

  private def writeMeta(path: String, m: MvMeta, conf: Configuration): Unit = {
    val root = mapper.createObjectNode()
    root.put("basePath", m.basePath)
    val dn = root.putArray("dims"); m.dims.foreach(dn.add)
    val an = root.putArray("aggs")
    m.aggs.foreach { a =>
      val n = an.addObject(); n.put("name", a.name); n.put("kind", a.kind); n.put("input", a.input)
    }
    root.put("lastVersion", m.lastVersion)
    m.filter.foreach(root.put("filter", _))
    if (m.dimExprs.nonEmpty) {
      val de = root.putObject("dimExprs")
      m.dimExprs.foreach { case (n, t) => de.put(n, t) }
    }
    if (m.joins.nonEmpty) {
      val ja = root.putArray("joins")
      m.joins.foreach { j =>
        val n = ja.addObject()
        n.put("dimPath", j.dimPath)
        val fks = n.putArray("factKeys"); j.factKeys.foreach(fks.add)
        val dks = n.putArray("dimKeys"); j.dimKeys.foreach(dks.add)
        n.put("dimVersion", j.dimVersion)
        if (j.outer) n.put("outer", true)
      }
    }
    val target = metaFile(path)
    val fs = target.getFileSystem(conf)
    fs.mkdirs(target.getParent)
    val tmp = new Path(path, s".mv-${java.util.UUID.randomUUID()}.json.tmp")
    val out = fs.create(tmp, true)
    out.write(mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
    out.close()
    fs.delete(target, false)
    if (!fs.rename(tmp, target)) throw new java.io.IOException(s"cannot publish $target")
  }

  private def readMeta(path: String, conf: Configuration): MvMeta = {
    val p = metaFile(path)
    val fs = p.getFileSystem(conf)
    // writeMeta publishes via delete-then-rename (rename alone cannot
    // overwrite here, and a FileContext-atomic rename would orphan the
    // ChecksumFileSystem's .crc sidecar), so a concurrent reader can land
    // in the sub-ms gap where the meta is absent. Bounded retry: the gap
    // is two local renames, never a deletion of the view — a meta still
    // missing after the retries is a genuinely dropped view.
    var in: org.apache.hadoop.fs.FSDataInputStream = null
    var tries = 0
    while (in == null) {
      try in = fs.open(p)
      catch {
        case e: java.io.FileNotFoundException =>
          tries += 1
          if (tries > 50) throw e
          Thread.sleep(10)
      }
    }
    val root = try mapper.readTree(in) finally in.close()
    val dims = scala.collection.mutable.ArrayBuffer.empty[String]
    root.get("dims").asInstanceOf[ArrayNode].forEach(x => dims += x.asText)
    val aggs = scala.collection.mutable.ArrayBuffer.empty[MvAgg]
    root.get("aggs").asInstanceOf[ArrayNode].forEach { n =>
      aggs += MvAgg(n.get("name").asText, n.get("kind").asText, n.get("input").asText)
    }
    val joins = scala.collection.mutable.ArrayBuffer.empty[MvJoin]
    if (root.hasNonNull("joins"))
      root.get("joins").asInstanceOf[ArrayNode].forEach { n =>
        joins +=
          (if (n.hasNonNull("factKeys")) {
            val fks = scala.collection.mutable.ArrayBuffer.empty[String]
            n.get("factKeys").asInstanceOf[ArrayNode].forEach(x => fks += x.asText)
            val dks = scala.collection.mutable.ArrayBuffer.empty[String]
            n.get("dimKeys").asInstanceOf[ArrayNode].forEach(x => dks += x.asText)
            MvJoin(n.get("dimPath").asText, fks.toSeq, dks.toSeq,
              n.get("dimVersion").asLong,
              n.hasNonNull("outer") && n.get("outer").asBoolean)
          } else // pre-composite metas carry singular factKey/dimKey
            MvJoin(n.get("dimPath").asText, n.get("factKey").asText,
              n.get("dimKey").asText, n.get("dimVersion").asLong))
      }
    val dimExprs = scala.collection.mutable.Map.empty[String, String]
    if (root.hasNonNull("dimExprs"))
      root.get("dimExprs").fields().forEachRemaining(e =>
        dimExprs += e.getKey -> e.getValue.asText)
    MvMeta(root.get("basePath").asText, dims.toSeq, aggs.toSeq,
      root.get("lastVersion").asLong, joins.toSeq,
      if (root.hasNonNull("filter")) Some(root.get("filter").asText) else None,
      dimExprs.toMap)
  }

  /** Define + fully compute the view at the base table's current version.
    * With `joins`, the view aggregates `base ⋈ D1 ⋈ … ⋈ Dn` (inner
    * equi-joins; each join's left key lives on the fact OR an earlier
    * dim — so both stars and snowflake chains like fact→customer→nation
    * maintain incrementally; order chained arms parent-first). Dims and
    * agg inputs may come from any table. With `filter`, the view
    * aggregates only rows satisfying the (deterministic, subquery-free)
    * predicate — maintained by filtering each signed delta term.
    * `refresh()` keeps the state current under churn on ALL tables. */
  def create(spark: SparkSession, path: String, base: LakeTable,
      dims: Seq[String], aggs: Seq[MvAgg],
      joins: Seq[MvJoin] = Seq.empty,
      filter: Option[String] = None,
      dimExprs: Map[String, String] = Map.empty): MaterializedView = {
    require(dims.nonEmpty, "at least one dim")
    // VIEW-OVER-VIEW is refused at create, cleanly: a materialized view's
    // STATE table is recognizable by its internal _mv_key column. Its
    // rows are group PARTIALS — sum/cnt pairs, sketches, dead-group
    // tombstones (GRP_N ≤ 0) that a plain scan must filter — and its
    // commits move on every parent refresh, so a child view's cursors
    // would track maintenance traffic, not data. The composition a user
    // wants (coarser dims over the same base) is already served: define
    // the view over the SAME base with the coarser dims, or just query
    // the base — rollup serving answers from the finer view's state.
    def refuseState(t: LakeTable, role: String): Unit =
      require(!t.schema.fieldNames.contains(MVKEY),
        s"$role table at ${t.path} is a materialized view's state table " +
          "(it carries the internal _mv_key column); views over views are " +
          "not supported — define the view over the parent's BASE table " +
          "instead (a coarser-dim query is served from the parent's state " +
          "by the rollup rewrite automatically)")
    refuseState(base, "base")
    val names = dims ++ aggs.map(_.name)
    require(names.distinct.size == names.size, "dim/agg output names must be unique")
    aggs.foreach(a => require(a.name.matches("[A-Za-z][A-Za-z0-9_]*"),
      s"agg name ${a.name} must be a plain identifier (internal columns are _-prefixed)"))
    dimExprs.keys.foreach { n =>
      require(dims.contains(n), s"dimExprs key $n is not a declared dim")
      require(n.matches("[A-Za-z][A-Za-z0-9_]*"),
        s"expression-dim name $n must be a plain identifier")
      require(!base.schema.fieldNames.exists(_.equalsIgnoreCase(n)),
        s"expression-dim name $n collides with a base-table column — pick a fresh name")
    }
    val conf = spark.sessionState.newHadoopConf()
    val v = base.latestVersion
    val filterRefs = filter.toSeq.flatMap(f => filterRefNames(spark, f))
    val exprRefs = dimExprs.values.toSeq.flatMap(t => filterRefNames(spark, t))
    val bareDims = dims.filterNot(dimExprs.contains)
    val dimTables = joins.map(j => LakeTable.load(spark, j.dimPath))
    dimTables.foreach(refuseState(_, "dim"))
    // schema-aware bare-input classification (see [[inCol]]): a member
    // column name is a bare input even when not a plain identifier
    val memberCols: Set[String] =
      (base.schema.fieldNames ++ dimTables.flatMap(_.schema.fieldNames)).toSet
    val need = (bareDims ++ exprRefs ++
      aggs.flatMap(a =>
        if (a.input == "*") Nil
        else if (isBareInput(a.input) || memberCols.contains(a.input)) Seq(a.input)
        else filterRefNames(spark, a.input)) ++ filterRefs).distinct
    val (snapJoined, pinned) =
      if (joins.isEmpty) (base.read(Some(v)), Seq.empty[MvJoin])
      else {
        dimExprs.keys.foreach(n => require(
          !dimTables.exists(_.schema.fieldNames.exists(_.equalsIgnoreCase(n))),
          s"expression-dim name $n collides with a dim-table column — pick a fresh name"))
        val homes = keyHomes(base.schema, dimTables.map(_.schema), joins)
        val (factCols, dimColsN) =
          sideSplitN(base.schema, dimTables.map(_.schema), need, joins)
        val dvs = dimTables.map(_.latestVersion)
        val start = base.read(Some(v)).select(
          (joins.indices.filter(homes(_) == -1).flatMap(joins(_).factKeys)
            ++ factCols).distinct.map(col): _*)
        val joined = joins.indices.foldLeft(start) { (acc, i) =>
          acc.join(dimTables(i).read(Some(dvs(i)))
              .select(((joins(i).dimKeys ++
                joins.indices.filter(homes(_) == i).flatMap(joins(_).factKeys))
                ++ dimColsN(i)).distinct.map(col): _*),
            joins(i).keyPairs.map { case (fk, dk) => col(fk) === col(dk) }
              .reduce(_ && _),
            if (joins(i).outer) "left_outer" else "inner")
        }
        (joined, joins.zip(dvs).map { case (j, dv) => j.copy(dimVersion = dv) })
    }
    // validate the filter against the joined row and pin its ANALYZED
    // rendering — the canonical text the rewrite matches query predicates
    // against, and what every refresh re-parses
    val storedFilter = filter.map { f =>
      val cond = snapJoined.filter(expr(f)).queryExecution.analyzed.collectFirst {
        case flt: org.apache.spark.sql.catalyst.plans.logical.Filter => flt.condition
      }.getOrElse(throw new IllegalArgumentException(s"cannot analyze view filter: $f"))
      require(cond.deterministic, s"view filter must be deterministic: $f")
      require(!cond.exists(_.isInstanceOf[
          org.apache.spark.sql.catalyst.expressions.SubqueryExpression]),
        s"view filter must not contain a subquery: $f")
      cond.transform {
        case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
          a.withQualifier(Seq.empty)
      }.sql
    }
    // validate a row-local expression (an expression dim or an expression
    // agg input) against the joined row and pin its ANALYZED rendering
    // (same treatment as the filter): deterministic, subquery-free,
    // aggregate-free — row-local, so it commutes with the signed delta
    def analyzedRowLocal(what: String, t: String): String = {
      // match the analyzed ROOT only: a row-local select analyzes to a
      // Project; an aggregate input analyzes to an Aggregate root (which
      // a descend-into-children collect would mistake for one of the
      // join's own projections below it)
      val e = snapJoined.select(expr(t).as("_x")).queryExecution.analyzed match {
        case p: org.apache.spark.sql.catalyst.plans.logical.Project =>
          p.projectList.head match {
            case al: org.apache.spark.sql.catalyst.expressions.Alias => al.child
            case other => other
          }
        case _: org.apache.spark.sql.catalyst.plans.logical.Aggregate =>
          throw new IllegalArgumentException(
            s"$what must be row-local (no aggregates): $t")
        case _ => throw new IllegalArgumentException(
          s"cannot analyze $what: $t")
      }
      require(e.deterministic, s"$what must be deterministic: $t")
      require(!e.exists(_.isInstanceOf[
          org.apache.spark.sql.catalyst.expressions.SubqueryExpression]),
        s"$what must not contain a subquery: $t")
      require(!e.exists(_.isInstanceOf[org.apache.spark.sql.catalyst
          .expressions.aggregate.AggregateExpression]),
        s"$what must be row-local (no aggregates): $t")
      e.transform {
        case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
          a.withQualifier(Seq.empty)
      }.sql
    }
    val storedDimExprs: Map[String, String] = dimExprs.map { case (n, t) =>
      n -> analyzedRowLocal(s"expression dim $n", t)
    }
    // EXPRESSION agg inputs get the same pinning (bare columns unchanged)
    val storedAggs: Seq[MvAgg] = aggs.map { a =>
      if (isBareInput(a.input) || memberCols.contains(a.input)) a
      else a.copy(input = analyzedRowLocal(s"aggregate input of ${a.name}", a.input))
    }
    val snap = storedFilter.map(f => snapJoined.filter(expr(f))).getOrElse(snapJoined)
    val snapE = storedDimExprs.foldLeft(snap) { case (df, (n, t)) =>
      df.withColumn(n, expr(t)) }
    val st = fullState(snapE, dims, storedAggs, v)
    // every refresh lands ~1 small state file; post-commit auto-compaction
    // folds them so a CONTINUOUSLY maintained view (streaming ingestion,
    // thousands of refreshes) keeps a bounded file count. The cursor
    // survives compaction — txn watermarks are cumulative across commits.
    LakeTable.create(spark, new Path(path, "state").toString,
      TableSpec(MVKEY, MVVER, autoCompactFiles = 16), st)
    writeMeta(path, MvMeta(base.path, dims, storedAggs, v, pinned, storedFilter,
      storedDimExprs), conf)
    new MaterializedView(spark, path)
  }

  def load(spark: SparkSession, path: String): MaterializedView = {
    val conf = spark.sessionState.newHadoopConf()
    require(metaFile(path).getFileSystem(conf).exists(metaFile(path)), s"no MV at $path")
    new MaterializedView(spark, path)
  }
}
