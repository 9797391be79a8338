package graft

import graft.lake.{CommitLog, LogOps}

/** The commit-log work a block does on the driver: the difference of two
  * [[CommitLog.logOps]] snapshots taken around it (listings of the version
  * and checkpoint dirs, commit reads). The counters are process-wide, so
  * measure only on a quiet session. */
object LogOpsProbe {
  def ops(body: => Unit): LogOps = {
    val before = CommitLog.logOps
    body
    CommitLog.logOps - before
  }
}
