package graft.lake

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.types.StructType

/** One state of a table, resolved from ONE listing of its log: the
  * version, its commit, the live file set and the [[Shape]]. A write
  * attempt reads the table only through one snapshot and claims exactly
  * `version + 1`, so a commit that lands while the attempt runs makes
  * the claim fail instead of being written over; a read plans from one.
  * The live set (latest checkpoint + commit tail) is resolved on first
  * use, with at most one checkpoint listing shared by every state
  * resolved from the same listing ([[at]]). Version < 0 is "before v0":
  * no live files and v0's shape, the same clamp time travel applies. */
private[graft] final class Snapshot private (tablePath: String, conf: Configuration,
    versions: Seq[Long], checkpoints: () => Seq[Long], val version: Long) {

  lazy val commit: Commit = CommitLog.read(tablePath, math.max(0L, version), conf)
  lazy val shape: Shape = Shape.of(commit)
  def spec: TableSpec = shape.spec
  def schema: StructType = shape.schema

  lazy val live: Seq[FileAction] =
    CommitLog.liveFiles(tablePath, versions, checkpoints(), Some(version), conf)

  /** Commits in `(since, version]`, oldest first. */
  def commitsSince(since: Long): Seq[Commit] =
    versions.filter(v => v > since && v <= version).map(CommitLog.read(tablePath, _, conf))

  /** Commits 0..version, oldest first. */
  lazy val history: Seq[Commit] = commitsSince(-1L)

  /** Is `v` a version in the log? */
  def has(v: Long): Boolean = versions.contains(v)

  /** The state at version `v` (no later than this one), from the same listings. */
  def at(v: Long): Snapshot =
    new Snapshot(tablePath, conf, versions, checkpoints, math.min(v, version))

  /** The commit window `(since, version]`. */
  def window(since: Long): CommitWindow = new CommitWindow(this, since)
}

object Snapshot {

  /** The state as of `asOf` (latest when None, clamped to the latest). */
  private[lake] def of(tablePath: String, conf: Configuration, asOf: Option[Long]): Snapshot = {
    val versions = CommitLog.listVersions(tablePath, conf)
    lazy val checkpoints = CommitLog.listCheckpoints(tablePath, conf)
    val last = versions.lastOption.getOrElse(-1L)
    new Snapshot(tablePath, conf, versions, () => checkpoints,
      asOf.fold(last)(v => math.min(v, last)))
  }
}
