package graft.sources

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.lake.LakeTable

/** Streaming READ of a graft table — the Delta streaming-source / Hudi
  * streaming-read capability:
  *
  * {{{
  * spark.readStream.format("graft").load(path)        // full history tail
  * spark.readStream.format("graft")
  *   .option("startingVersion", "3").load(path)       // CDC tail from v3
  * }}}
  *
  * Offsets are commit VERSIONS: each micro-batch is
  * `LakeTable.incremental(start, end]` — the new inserts and post-images of
  * updates those commits wrote, latest-wins deduped, reading ONLY the files
  * those commits added (never a full-table scan after the first batch).
  * That is the property that makes a lake table a usable stream at 100 TB:
  * batch cost scales with commit churn, not table size. Exactly-once comes
  * from Structured Streaming's offset log replaying the same (start, end]
  * version window on recovery; version windows are deterministic.
  *
  * `startingVersion` (default -1 = include everything from version 0, like
  * Delta's full-snapshot-then-tail default; `latest` = only commits after
  * stream start) bounds the first batch. `startingTimestamp` (epoch millis
  * or ISO/SQL string) is the Delta analog resolved against the commit
  * timeline: every commit stamped at-or-after the instant is included.
  * When both are given, `startingVersion` wins.
  *
  * `changes=true` (alias `readChangeFeed`, Delta's streaming CDF): each
  * batch is `LakeTable.changes(start, end]` instead — rows carry
  * `_change_type` ∈ insert / update_postimage / delete, delete rows with
  * the key (and partition) and null data columns. Same churn-bounded cost.
  */
class GraftStreamSource(ctx: SQLContext, path: String,
    parameters: Map[String, String],
    metadataPath: Option[String] = None) extends Source {

  private def table: LakeTable = LakeTable.load(ctx.sparkSession, path)

  private val changeFeed: Boolean =
    parameters.get("changes").exists(_.toBoolean) ||
      parameters.get("readChangeFeed").exists(_.toBoolean)

  private val startingVersion: Long =
    parameters.get("startingVersion").map {
      case v if v.equalsIgnoreCase("latest") => table.latestVersion
      case v => v.toLong
    }.orElse(parameters.get("startingTimestamp").map { raw =>
      // Delta's startingTimestamp: include every commit stamped AT or
      // AFTER the instant. The offset window is exclusive at the start,
      // so resolve to the newest commit strictly BEFORE it (−1 = none:
      // the whole history qualifies). Accepts epoch millis or an ISO/SQL
      // timestamp string, like TIMESTAMP AS OF.
      val ms = LakeTable.parseUserTimestamp(raw)
      table.commits
        .filter(c => LakeTable.commitTimeMillis(c.commitTime) < ms)
        .map(_.version).maxOption.getOrElse(-1L)
    }).getOrElse(-1L)

  /** Admission control (Delta's maxFilesPerTrigger / Hudi read limits):
    * bound each micro-batch to at most this many newly-added files /
    * commit versions. Essential when a stream starts from version 0 of a
    * large table — the backfill arrives as bounded batches instead of one
    * giant first batch. At least one commit is always admitted, so an
    * oversized single commit still makes progress. */
  private val maxFilesPerTrigger = parameters.get("maxFilesPerTrigger").map(_.toLong)
  private val maxVersionsPerTrigger = parameters.get("maxVersionsPerTrigger").map(_.toLong)
  // Delta's maxBytesPerTrigger (soft cap): commit-log byte stats, no listing
  private val maxBytesPerTrigger = parameters.get("maxBytesPerTrigger").map(_.toLong)
  private val capped = maxFilesPerTrigger.isDefined || maxVersionsPerTrigger.isDefined ||
    maxBytesPerTrigger.isDefined

  /** Highest version offered to the engine so far. With a trigger cap this
    * is REAL source state: after a restart Spark only replays the last
    * UNcommitted batch, so an in-memory value would reset below the
    * committed offset and re-deliver processed versions. Persisted under
    * the query's source-metadata dir (the FileStreamSource pattern) — tiny,
    * one number, rewritten per advance; uncapped sources are stateless
    * (getOffset = latest) and skip persistence entirely. */
  private var lastOffered: Long = {
    val persisted = if (capped) watermarkFile.flatMap(readWatermark) else None
    math.max(startingVersion, persisted.getOrElse(Long.MinValue))
  }

  private def watermarkFile: Option[org.apache.hadoop.fs.Path] =
    metadataPath.map(m => new org.apache.hadoop.fs.Path(m, "graft-offered"))

  private def readWatermark(p: org.apache.hadoop.fs.Path): Option[Long] = {
    val fs = p.getFileSystem(ctx.sparkSession.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), "UTF-8").trim.toLong)
      catch { case scala.util.control.NonFatal(_) => None }
      finally in.close()
    }
  }

  private def writeWatermark(v: Long): Unit = watermarkFile.foreach { p =>
    val fs = p.getFileSystem(ctx.sparkSession.sessionState.newHadoopConf())
    fs.mkdirs(p.getParent)
    val tmp = new org.apache.hadoop.fs.Path(p.getParent, s".${p.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(v.toString.getBytes("UTF-8")) finally out.close()
    // local rename replaces atomically (POSIX); where it refuses an
    // existing target (HDFS), fall back to delete+rename — a crash in that
    // tiny window degrades to the missing-watermark path, never corrupts
    if (!fs.rename(tmp, p)) {
      fs.delete(p, false)
      fs.rename(tmp, p)
    }
    ()
  }

  override val schema: StructType = GraftStreamSource.schemaFor(ctx, path, changeFeed)

  override def getOffset: Option[Offset] = synchronized {
    val from = lastOffered
    val window = table.window(from, None)
    val latest = window.upTo
    if (latest < 0 || latest <= from)
      // nothing beyond what we've offered; before ANY offer, report no
      // data (None) rather than a zero-width offset that would trigger a
      // phantom empty batch 0
      return if (from <= startingVersion) None else Some(LongOffset(from))
    val end =
      if (!capped) latest
      else {
        // cumulative (files, versions, bytes) only grow, so the admitted
        // commits are the longest prefix under every cap — or the first
        // commit alone when it exceeds one
        val totals = window.commits.scanLeft((0L, 0L, 0L)) { case ((f, n, b), c) =>
          (f + c.add.size, n + 1, b + c.add.map(_.bytes).sum) }.tail
        val admitted = window.commits.zip(totals).takeWhile { case (_, (f, n, b)) =>
          !(maxFilesPerTrigger.exists(f > _) || maxVersionsPerTrigger.exists(n > _) ||
            maxBytesPerTrigger.exists(b > _)) }
        admitted.lastOption.map(_._1).getOrElse(window.commits.head).version
      }
    lastOffered = end
    if (capped) writeWatermark(end)
    Some(LongOffset(end))
  }

  /** Rows committed in version window `(start, end]`. */
  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val s = start.map(_.json.toLong).getOrElse(startingVersion)
    val e = end.json.toLong
    // recovery: never re-offer an already-committed window
    synchronized {
      if (e > lastOffered) { lastOffered = e; if (capped) writeWatermark(e) }
    }
    val raw = if (changeFeed) table.changes(s, Some(e)) else table.incremental(s, Some(e))
    // pin declared column order (changes() appends _change_type; delete
    // rows carry nulls for the data columns)
    val df = raw.select(schema.fieldNames.map(org.apache.spark.sql.functions.col).toSeq: _*)
    // V1 Source contract: the returned frame must be a streaming plan
    org.apache.spark.sql.GraftExpressionBridge.internalCreateStreamingDataFrame(
      ctx.sparkSession, df.queryExecution.toRdd, df.schema)
  }

  override def stop(): Unit = ()
}

object GraftStreamSource {
  def schemaFor(ctx: SQLContext, path: String, changeFeed: Boolean = false): StructType = {
    val t = LakeTable.load(ctx.sparkSession, path)
    val base = StructType(LakeTable.META_COLS.map(StructField(_, StringType)) ++ t.schema.fields)
    if (changeFeed) StructType(base.fields :+ StructField("_change_type", StringType)) else base
  }
}
