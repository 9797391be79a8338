package graft.lake

import org.apache.spark.sql.types.{DataType, StructType}

/** A table's spec and declared data schema (without meta columns) at one
  * version: everything [[LakeTable]]'s read helpers need to plan a scan,
  * resolved once and passed by value. */
private[graft] final case class Shape(spec: TableSpec, schema: StructType) {

  /** Record identity: (key, partition) when partitioned — Hudi's
    * non-global-index semantics, where the same key in two partitions is
    * two records. Used consistently by batch dedup, upsert contested
    * splits, realtime merge, and compaction, so a partition-value change
    * behaves identically on every path (new record; the old row stays). */
  def idCols: Seq[String] = spec.key +: spec.partition.toSeq

  /** [[idCols]] for joins, with the partition column replaced by its
    * null-safe copy ([[LakeTable.PID]]). */
  def joinIdCols: Seq[String] = spec.key +: spec.partition.map(_ => LakeTable.PID).toSeq
}

private[graft] object Shape {
  def of(c: Commit): Shape =
    Shape(c.spec, DataType.fromJson(c.schemaJson).asInstanceOf[StructType])
}

/** The commits of one table in the version window `(since, upTo]`, read
  * from ONE listing of the log: the window ends at snapshot `end`
  * (`upTo` = its version) and starts at the state `end` resolves for
  * `since` from the same listing. The change feed (`incremental`,
  * `changes`), view maintenance (`windowDelta`, MV freshness and cursor
  * bumps) and the capped stream source all resolve their window here
  * instead of re-listing the log for every question they ask of it.
  * Commit bodies come through [[CommitLog.read]]'s cache; the live file
  * sets at both ends share one checkpoint listing and are resolved only
  * when asked for, so a one-commit window costs the same at any log
  * length.
  *
  * This is also the only code that reads operation names as proofs
  * ([[physicalOnly]], [[keyPreserving]]). */
final class CommitWindow private[lake] (private[lake] val end: Snapshot, val since: Long) {
  val upTo: Long = end.version
  /** The table at `since`. */
  private[lake] val start = end.at(since)

  /** Commits in `(since, upTo]`, oldest first. */
  lazy val commits: Seq[Commit] = end.commitsSince(since)

  /** Commit time of `since`; None when `since` is not a version (e.g. -1). */
  lazy val sinceTime: Option[String] = Option.when(end.has(since))(start.commit.commitTime)

  lazy val added: Seq[FileAction] = commits.flatMap(_.add)

  /** Files live at `since` that a window commit removed (rewrote or dropped). */
  lazy val removedLive: Seq[FileAction] = {
    val gone = commits.flatMap(_.remove).toSet
    start.live.filter(a => gone.contains(a.path))
  }

  /** Is every commit a physical reorganization or pure table metadata
    * ([[CommitWindow.physicalOps]])? Such a window's true row delta is
    * EMPTY by construction, so consumers answer it without reading a data
    * file: at a production compaction cadence, change feeds and views must
    * not pay even a netting shuffle for windows that moved only bytes. */
  def physicalOnly: Boolean =
    commits.nonEmpty && commits.forall(c => CommitWindow.physicalOps(c.operation))

  /** Can no record identity have disappeared in the window? An upsert
    * rewrites a touched file's FULL row set (contested keys keep their
    * winner, the rest pass through) and MoR upserts only append; physical
    * reorgs carry rows unchanged. Ops that CAN drop an identity (delete,
    * overwrite*, restore, fsck, reorg, update — an update may move the
    * partition value, which is part of the record identity) break it. */
  def keyPreserving: Boolean =
    commits.forall(c => c.operation == "upsert" || CommitWindow.physicalOps(c.operation))
}

object CommitWindow {

  /** Commit operations that rewrite files while carrying every row
    * unchanged — the merged table content before and after is identical.
    * Kept deliberately narrow: `restore`/`fsck`/`reorg` also remove files
    * but CHANGE visible content, so they must never appear here. The
    * second set is ops that touch no data file at all (pure table
    * metadata); both leave a window's true row delta empty. */
  private val physicalOps =
    Set("compact", "optimize", "zorder", "zorder_incremental",
      "analyze", "savepoint", "release_savepoint", "setProperties")
}
