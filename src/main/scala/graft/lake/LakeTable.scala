package graft.lake

import java.time.format.DateTimeFormatter
import java.time.{ZoneOffset, ZonedDateTime}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Encoders, GraftExpressionBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{Cast, InSet, Literal, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** A graft lake table: Parquet data files + a JSON commit log, providing the
  * reference's Hudi/Delta capabilities (SURVEY.md §2.1, §2.8) on stock Spark:
  *
  *   - keyed upsert with precombine latest-wins (Hudi CoW,
  *     `/root/reference/README.md:448-461`) — copy-on-write file rewrite
  *   - merge-on-read: updates land in log files; `readOptimized` (`_ro`)
  *     serves base files only, `realtime` (`_rt`) merges on read
  *     (`/root/reference/README.md:605-607,918-920`)
  *   - DELETE events are tombstones, never applied
  *     (`/root/reference/README.md:529,1148`) unless `applyDeletes`
  *   - versioned commits, time travel, compaction, vacuum
  *     (`/root/reference/README.md:1230-1240`)
  *   - Hudi-shaped meta columns `_commit_time/_commit_seqno/_record_key/
  *     _partition_path/_file_name` (`/root/reference/README.md:299-303`)
  *
  * Scale posture: all data movement is DataFrame ops (Catalyst-planned,
  * shuffle-aware); driver code touches only file *metadata*. Upserts prune
  * candidate files by partition value and key min/max from the log before any
  * scan, then narrow to files actually containing incoming keys via a
  * semi-join — only those are rewritten.
  */
class LakeTable private (val spark: SparkSession, val path: String) {
  import LakeTable._

  private def conf: Configuration = spark.sessionState.newHadoopConf()
  private[graft] val dataDir = new Path(path, "data").toString

  // ---- log access ------------------------------------------------------

  def commits: Seq[Commit] = snapshot().history

  def latestVersion: Long = snapshot().version

  /** The table as of `asOf` (latest when None) from one log listing — see
    * [[Snapshot]]. Every write attempt and every snapshot read resolves
    * exactly one. */
  private[graft] def snapshot(asOf: Option[Long] = None): Snapshot =
    Snapshot.of(path, conf, asOf)

  /** Version whose snapshot was current at `epochMillis` (Delta
    * `TIMESTAMP AS OF` semantics): the newest commit at-or-before the
    * instant. Commit times are UTC-millisecond, strictly monotonic. */
  def versionAt(epochMillis: Long): Long = {
    val cs = commits
    val at = cs.filter(c => LakeTable.commitTimeMillis(c.commitTime) <= epochMillis)
    require(at.nonEmpty,
      s"timestamp $epochMillis predates the table's first commit " +
        s"(${cs.headOption.map(_.commitTime).getOrElse("none")})")
    at.map(_.version).max
  }

  /** Total on-disk bytes of the live snapshot, from commit-log metadata —
    * the table-size statistic Catalyst's join planner consumes (a small dim
    * table under `spark.sql.autoBroadcastJoinThreshold` then broadcasts
    * without a hint). Files recorded before byte stats existed fall back to
    * one driver-side file-status call each; DV'd files are discounted by
    * the killed-row fraction so a mostly-deleted file doesn't block a
    * broadcast. */
  def sizeBytes(asOf: Option[Long] = None): Long = sizeAt(snapshot(asOf))

  /** [[sizeBytes]] of a resolved snapshot. */
  private[graft] def sizeAt(s: Snapshot): Long = {
    val fs = new Path(path).getFileSystem(conf)
    s.live.map { a =>
      val physical =
        if (a.bytes > 0) a.bytes
        else try fs.getFileStatus(new Path(s"${a.base.getOrElse(dataDir)}/${a.path}")).getLen
        catch { case scala.util.control.NonFatal(_) => 0L }
      if (a.dvRows > 0 && a.rows > 0)
        (physical * ((a.rows - a.dvRows).toDouble / a.rows)).toLong
      else physical
    }.sum
  }

  def spec: TableSpec = snapshot().spec

  /** Declared data schema (without meta columns). */
  def schema: StructType = snapshot().schema

  /** Schema as of a version — time travel reads use the schema that was
    * declared THEN (like Delta), so pre-evolution snapshots keep their
    * original shape. */
  def schemaAt(asOf: Option[Long]): StructType = snapshot(asOf).schema

  /** Spec as of a version (column mapping travels with the schema). */
  private[graft] def specAt(asOf: Option[Long]): TableSpec = snapshot(asOf).spec

  /** Checkpoint-aware: latest checkpoint + commit tail, not a full replay. */
  private[graft] def liveFiles(asOf: Option[Long]): Seq[FileAction] = snapshot(asOf).live

  /** The commit window `(since, upTo]` (`upTo` = latest when None), from
    * one listing of the log — see [[CommitWindow]]. */
  private[graft] def window(since: Long, upTo: Option[Long]): CommitWindow =
    snapshot(upTo).window(since)

  /** Identity JOINS need a null-safe partition id: SQL `=` never matches a
    * NULL partition value, so a using-column join on the raw partition
    * column would treat every null-partition row as brand-new. Both sides
    * get a sentinel-coalesced copy ([[PID]]), join on it, drop it after.
    * (groupBy — dedupLatest — is already null-safe and keeps using the raw
    * columns.) */
  private def withJoinIds(df: DataFrame, sh: Shape): DataFrame = sh.spec.partition match {
    case Some(p) => df.withColumn(PID,
      coalesce(col(p).cast(StringType), lit("__HIVE_DEFAULT_PARTITION__")))
    case None => df
  }

  // ---- reads -----------------------------------------------------------

  /** Snapshot read: CoW latest state; for MoR this is the `_rt` view
    * (matches `spark.read.format("hudi")` snapshot semantics, S2). */
  def read(asOf: Option[Long] = None): DataFrame = readAt(snapshot(asOf))

  private def readAt(s: Snapshot): DataFrame =
    if (s.spec.mor) realtimePruned(s)
    else readOrdered(s.live, s.shape)

  /** Snapshot read with file-level DATA SKIPPING for the pushed filters:
    * files whose commit-log stat ranges (record key, declared
    * `statsColumns`, partition value) cannot satisfy the filters are
    * dropped before the scan is even planned. MoR with outstanding logs
    * prunes its BASE files the same way and merges them against ALL log
    * files ([[realtimePruned]]) — log files are churn-sized, and a
    * pruned base file cannot hold a filter-matching key, so the
    * latest-wins merge of the survivors is unchanged for every matching
    * row. Like the CoW path, candidate files contribute non-matching
    * rows — callers re-apply their predicate. */
  def readWhere(filters: Seq[org.apache.spark.sql.sources.Filter],
      asOf: Option[Long] = None): DataFrame =
    readWherePruned(filters, identity, asOf)

  /** [[readWhere]] with an additional caller-supplied file-level pruner,
    * applied to the base/CoW actions AFTER the stats/bucket/bloom pass
    * (MoR log files are never pruned). The caller owns the pruner's
    * soundness: it must only drop files that cannot contribute a row the
    * caller needs — used by [[MaterializedView]]'s expression-dim repair
    * (monotonic bucket-transform skipping the built-in filters cannot
    * express). */
  private[lake] def readWherePruned(
      filters: Seq[org.apache.spark.sql.sources.Filter],
      extra: Seq[FileAction] => Seq[FileAction],
      asOf: Option[Long] = None): DataFrame = {
    val s = snapshot(asOf)
    if (s.live.exists(_.log)) realtimePruned(s, filters, extra)
    else readOrdered(extra(pruneByFilters(s.live, filters, s.shape)), s.shape)
  }

  /** [[skipByStats]] + [[bucketSkip]] + [[bloomSkip]] for the DSv2 scan
    * builder: plan-time file pruning from commit-log stats, the bucket
    * layout, and bloom sidecars against the pushed V1 filters. */
  private[graft] def pruneByFilters(actions: Seq[FileAction],
      filters: Seq[org.apache.spark.sql.sources.Filter], sh: Shape): Seq[FileAction] =
    bloomSkip(bucketSkip(skipByStats(actions, filters, sh), filters, sh), filters, sh)

  /** Bucket-index pruning (the Hudi bucket-index READ half): on a
    * bucketed table an equality/IN filter on the record key pins the only
    * bucket(s) matching rows can inhabit — `pmod(murmur3(key), buckets)`
    * is the write-side layout rule, so it is evaluated here on the
    * literal, driver-side, with the same Murmur3 seed Spark's `hash()`
    * uses. A point lookup then opens 1/buckets of the table even when
    * every file's key RANGE covers the probe (random keys — exactly where
    * min/max stats prune nothing). Files not written under the current
    * bucket layout (foreign/converted bases, no `_bucket=` dir) are
    * always kept; an unevaluable literal (type mismatch) keeps the file —
    * skipping is only ever an optimization, never a semantics change. */
  private def bucketSkip(actions: Seq[FileAction],
      filters: Seq[org.apache.spark.sql.sources.Filter], sh: Shape): Seq[FileAction] = {
    import org.apache.spark.sql.sources._
    val spec = sh.spec
    if (spec.buckets <= 0 || actions.isEmpty || filters.isEmpty) return actions
    val keyType = sh.schema.fields.find(_.name.equalsIgnoreCase(spec.key))
      .map(_.dataType).getOrElse(return actions)
    def bucketOf(v: Any): Option[Int] = scala.util.Try {
      val lit = org.apache.spark.sql.catalyst.expressions.Literal.create(v, keyType)
      val h = new org.apache.spark.sql.catalyst.expressions.Murmur3Hash(Seq(lit))
        .eval(null).asInstanceOf[Int]
      ((h % spec.buckets) + spec.buckets) % spec.buckets
    }.toOption
    def conjuncts(f: Filter): Seq[Filter] = f match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    // each key-equality conjunct independently pins an allowed-bucket set;
    // rows must satisfy ALL conjuncts, so the sets intersect
    val pins = filters.flatMap(conjuncts).flatMap {
      case EqualTo(c, v) if c.equalsIgnoreCase(spec.key) && v != null =>
        bucketOf(v).map(Set(_))
      case EqualNullSafe(c, v) if c.equalsIgnoreCase(spec.key) && v != null =>
        bucketOf(v).map(Set(_))
      case In(c, vs) if c.equalsIgnoreCase(spec.key) && vs != null && vs.nonEmpty =>
        val bs = vs.toSeq.filter(_ != null).map(bucketOf)
        if (bs.forall(_.isDefined)) Some(bs.flatten.toSet) else None
      case _ => None
    }
    if (pins.isEmpty) return actions
    val allowed = pins.reduce(_ intersect _)
    actions.filter { a =>
      if (!partitionColOf(a).contains(TableSpec.BUCKET_COL)) true
      else a.partitionValue.flatMap(_.toIntOption).forall(allowed.contains)
    }
  }

  /** The schema a file was WRITTEN with (its commit's declared schema) —
    * after a type widening this is narrower than today's; None when the
    * path carries no write-id dir (foreign base). */
  private[graft] def fileSchemaOf(a: FileAction): Option[StructType] = {
    val head = a.path.takeWhile(_ != '/')
    if (!head.startsWith(s"$WRITE_ID=")) return None
    head.drop(WRITE_ID.length + 1).toLongOption.map { wid =>
      val v = wid / LakeTable.WRITE_SLOTS
      DataType.fromJson(CommitLog.read(path, v, conf).schemaJson).asInstanceOf[StructType]
    }
  }

  /** A file's recorded (min, max) stat strings for `c`: key-range for the
    * record key, the file's own partition value for its partition-era
    * column, declared statsColumns otherwise. None = no stats recorded;
    * sentinel bounds ("" / "￿") pass through — callers must treat them
    * as unknown, exactly like [[skipByStats]] does. The partition-value
    * range is era-aware: the stored value belongs to the column this FILE
    * was partitioned under (which, after changePartition, may not be the
    * spec's), so old-era files prune on their own column and never
    * mis-prune on the current one. */
  private[lake] def statRange(a: FileAction, c: String, key: String): Option[(String, String)] =
    if (c.equalsIgnoreCase(key)) Some((a.minKey, a.maxKey))
    else if (partitionColOf(a).exists(_.equalsIgnoreCase(c))) a.partitionValue.map(p => (p, p))
    else a.colStats.find(_._1.equalsIgnoreCase(c)).map(_._2)

  /** Conservative file-level skipping: top-level AND conjuncts only;
    * unknown filter shapes, missing/sentinel stats, non-numeric non-ASCII
    * comparisons all KEEP the file (never wrong, only less pruning). */
  private def skipByStats(actions: Seq[FileAction],
      filters: Seq[org.apache.spark.sql.sources.Filter], sh: Shape): Seq[FileAction] = {
    import org.apache.spark.sql.sources._
    if (filters.isEmpty || actions.isEmpty) return actions
    val spec = sh.spec
    def conjuncts(f: Filter): Seq[Filter] = f match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    val cj0 = filters.flatMap(conjuncts)
    // hidden partitioning: filters on a generated partition column's SOURCE
    // column prune through the (monotonic) transform — pure additions to
    // the conjunction, so this can only skip more, never change results
    val cj = cj0 ++ (for {
      p <- spec.partition.toSeq
      gen <- spec.generated.find(_._1.equalsIgnoreCase(p)).map(_._2).toSeq
      src <- GeneratedCols.monotonicSource(spark, gen).toSeq
      d <- GeneratedCols.derive(spark, p, gen, src, cj0)
    } yield d)
    val declared = sh.schema
    val keyName = spec.key
    // numeric-comparable stat columns: plain numerics, plus date/timestamp
    // — their INT64-micros / INT32-days footer stats render as plain
    // numbers (see FooterStats + the TIMESTAMP_MICROS writer setting), so
    // time-RANGE filters (the dominant 100 TB scan pattern) file-prune
    // exactly like numeric ranges. Micros fit a Double exactly (< 2^53
    // until year ~2255); legacy INT96-written files carry sentinel stats
    // and fall through to keep, never mis-prune.
    def numericCol(c: String): Boolean =
      declared.fields.find(_.name.equalsIgnoreCase(c)).exists(_.dataType match {
        case _: NumericType | DateType | TimestampType | TimestampNTZType => true
        case _ => false
      })
    def toD(v: Any): Option[Double] = {
      import org.apache.spark.sql.catalyst.util.DateTimeUtils
      v match {
        case n: java.lang.Number => Some(n.doubleValue)
        // temporal filter values, in BOTH external forms Spark pushes
        // (java.sql.* and, under datetime.java8API, java.time.*) —
        // normalized with Spark's OWN converters to the stats' internal
        // unit (micros / epoch days), so the compare is exactly the
        // engine's
        case t: java.sql.Timestamp => Some(DateTimeUtils.fromJavaTimestamp(t).toDouble)
        case i: java.time.Instant => Some(DateTimeUtils.instantToMicros(i).toDouble)
        case d: java.sql.Date => Some(DateTimeUtils.fromJavaDate(d).toDouble)
        case d: java.time.LocalDate => Some(DateTimeUtils.localDateToDays(d).toDouble)
        case dt: java.time.LocalDateTime =>
          Some(DateTimeUtils.localDateTimeToMicros(dt).toDouble)
        case _ => None
      }
    }
    def ascii(x: String): Boolean = x.forall(_ < 0x80)
    // compare a stored stat bound against the literal; None = can't decide.
    // Numeric-comparable columns try the numeric compare first; when the
    // STAT isn't a plain number (a date/timestamp PARTITION value is its
    // hive-dir string, and hidden partitioning derives String filter
    // values for it) both sides fall back to the ASCII string compare —
    // the pre-temporal behavior for exactly those pairs.
    def cmpStat(c: String, stat: String, v: Any): Option[Int] = {
      if (stat.isEmpty || stat == "￿") return None // sentinel bound
      val statNum =
        if (numericCol(c)) scala.util.Try(stat.toDouble).toOption else None
      (statNum, toD(v)) match {
        case (Some(s), Some(d)) => Some(s.compare(d))
        case (Some(_), None) => None // numeric stat, unintelligible value
        case _ => v match {
          case str: String if ascii(stat) && ascii(str) => Some(stat.compareTo(str))
          case _ => None
        }
      }
    }
    def covers(a: FileAction, c: String, v: Any): Boolean =
      statRange(a, c, keyName).forall { case (mn, mx) =>
        cmpStat(c, mn, v).forall(_ <= 0) && cmpStat(c, mx, v).forall(_ >= 0)
      }
    // IN-list pruning precompute: for a numeric-comparable column whose
    // values ALL convert, sort the values once and decide each file by a
    // binary range probe — O(F·logV) instead of O(F·V) per-value compares
    // (REPAIR/transition-derived IN lists legitimately carry thousands of
    // keys; the per-value loop over many files was the other half of the
    // measured driver stall)
    val sortedIn: Map[Filter, Array[Double]] = cj.flatMap {
      case f @ In(c, vs) if vs != null && vs.nonEmpty && numericCol(c) =>
        val ds = vs.flatMap(v => toD(v))
        if (ds.length == vs.length) Some((f: Filter) -> ds.sorted.toArray)
        else None
      case _ => None
    }.toMap
    def parseStat(stat: String): Option[Double] =
      if (stat == null || stat.isEmpty || stat == "￿") None
      else scala.util.Try(stat.toDouble).toOption
    def keep(a: FileAction, f: Filter): Boolean = f match {
      case EqualTo(c, v) => covers(a, c, v)
      case In(c, vs) if sortedIn.contains(f) =>
        // any value within [mn, mx]? binary search for the first value
        // >= mn; undecidable bounds keep the file, like cmpStat
        statRange(a, c, keyName).forall { case (mnS, mxS) =>
          (parseStat(mnS), parseStat(mxS)) match {
            case (Some(mn), Some(mx)) =>
              val ds = sortedIn(f)
              val ix = {
                var lo = 0; var hi = ds.length
                while (lo < hi) {
                  val mid = (lo + hi) >>> 1
                  if (ds(mid) < mn) lo = mid + 1 else hi = mid
                }
                lo
              }
              ix < ds.length && ds(ix) <= mx
            case _ => true
          }
        }
      case In(c, vs) => vs.isEmpty || vs.exists(v => covers(a, c, v))
      case GreaterThan(c, v) =>
        statRange(a, c, keyName).forall { case (_, mx) => cmpStat(c, mx, v).forall(_ > 0) }
      case GreaterThanOrEqual(c, v) =>
        statRange(a, c, keyName).forall { case (_, mx) => cmpStat(c, mx, v).forall(_ >= 0) }
      case LessThan(c, v) =>
        statRange(a, c, keyName).forall { case (mn, _) => cmpStat(c, mn, v).forall(_ < 0) }
      case LessThanOrEqual(c, v) =>
        statRange(a, c, keyName).forall { case (mn, _) => cmpStat(c, mn, v).forall(_ <= 0) }
      case _ => true
    }
    actions.filter(a => cj.forall(f => keep(a, f)))
  }

  /** MoR `_ro`: base files only — stale until compaction (S9/J3). */
  def readOptimized(asOf: Option[Long] = None): DataFrame = {
    val s = snapshot(asOf)
    readOrdered(s.live.filterNot(_.log), s.shape)
  }

  /** MoR `_rt`: base ∪ logs with latest-wins merge at read (J3).
    *
    * Only keys that appear in log files are contested — base rows without a
    * log entry pass through UNSHUFFLED (anti-join against the small log-key
    * set, which Spark broadcasts), and the dedup shuffle carries just the
    * contested rows. Read cost scales with log size, not table size: at
    * 100 TB that is the difference between a merge and a full re-shuffle. */
  def realtime(asOf: Option[Long] = None): DataFrame = realtimePruned(snapshot(asOf))

  /** [[realtime]] with BASE-file pruning against `baseFilters`
    * (stats/bucket/bloom skipping; log files are never pruned — they are
    * churn-sized and a log row may supersede a pruned base row's key).
    * Sound for callers that re-apply their predicate on the merged rows:
    * pruning only drops base files that cannot contain a matching key,
    * and the latest-wins merge of the remaining files is unchanged for
    * every surviving key. */
  private def realtimePruned(s: Snapshot,
      baseFilters: Seq[org.apache.spark.sql.sources.Filter] = Nil,
      extra: Seq[FileAction] => Seq[FileAction] = identity): DataFrame = {
    val sh = s.shape
    val (logActions, baseActions0) = s.live.partition(_.log)
    val baseActions = extra(
      if (baseFilters.isEmpty) baseActions0
      else pruneByFilters(baseActions0, baseFilters, sh))
    if (logActions.isEmpty)
      return readOrdered(baseActions, sh)
    val (tombActions, dataLogs) = logActions.partition(_.tombstone)
    val base = withJoinIds(readFiles(baseActions, sh, keepWriteId = true), sh)
    val logs = withJoinIds(readFiles(dataLogs, sh, keepWriteId = true), sh)
    val tombs = tombMax(tombActions, sh)
    // tombstoned keys are contested too: their base rows must enter the
    // merge so the tombstone filter can kill them
    val logKeys = contestedLogKeys(logs, tombs, sh)
    val passThrough = base.join(logKeys, sh.joinIdCols, "left_anti")
    val contested = applyTombstones(
      base.join(logKeys, sh.joinIdCols, "left_semi").unionByName(logs), tombs, sh)
    val merged = dedupLatest(contested, sh.idCols, sh.spec.precombine, col(WRITE_ID))
      .unionByName(passThrough)
      .drop(WRITE_ID, PID)
    ordered(merged, sh)
  }

  /** Existence probe: the DISTINCT values of `keys`' `spec.key` column
    * already present in the snapshot, in the table's key type (the
    * primitive behind incremental cross-snapshot dedup: "which of these
    * fingerprints has the corpus already seen?"). Key-only semantics: on
    * partitioned tables a key reports existing in ANY partition.
    *
    * Eager and collected on the driver: the batch's [[KeySummary]] prunes
    * the candidate files (key range and bloom sidecars, exactly as
    * `upsert` does) and one job collects the batch keys found in them
    * ([[presentKeys]]), so the answer is a local frame bounded by the
    * summary and its cost scales with the batch and its matching files,
    * never the table. Two cases keep the lazy distributed probe: a batch
    * past the summary's cap, and a MoR snapshot with live logs, which
    * probes through the merged realtime read (a tombstoned key must NOT
    * report as existing). */
  def containsKeys(keys: DataFrame): DataFrame = {
    val s = snapshot()
    val k = keys.select(col(s.spec.key))
    presentKeys(s, k).fold(probeKeys(s, k))(_.ids)
  }

  /** [[containsKeys]] on `s` as a lazy distributed probe: the key-only
    * frame `k`'s distinct keys semi-joined with the candidate rows. */
  private def probeKeys(s: Snapshot, k: DataFrame): DataFrame = {
    val key = s.spec.key
    k.filter(col(key).isNotNull).distinct()
      .join(candidateRows(s, k).select(col(key)), Seq(key), "left_semi")
  }

  /** The keys of the key-only frame `k` present in `s`, as a bounded
    * [[KeySummary]] of their own: `k`'s summary prunes the candidate
    * files once, and one job collects the summary keys found in them,
    * each task returning its own set (as [[rewriteTouched]] collects
    * touched paths; no shuffle, no join). None where the answer cannot
    * be bounded on the driver: `k`'s summary is wide, or `s` has live
    * MoR logs, whose merge decides presence. */
  private def presentKeys(s: Snapshot, k: DataFrame): Option[KeySummary] =
    if (s.live.exists(_.log)) None
    else {
      val ks = keyShape(k, s.shape)
      val inKeys = keySummary(k, ks)
      inKeys.keys.map { rows =>
        val cands = pruneCandidates(s, inKeys)
        val found = inKeys.semi(readFiles(cands, s.shape).select(ks.joinIdCols.map(col): _*))
        // a subset of the summary's keys, so the set is never wide
        val present =
          if (cands.isEmpty) Array.empty[Row]
          else boundedDistinct(found, math.max(rows.length, 1)).get
        new KeySummary(ks, spark.createDataFrame(java.util.Arrays.asList(present: _*),
          found.schema), Some(present))
      }
    }

  /** Pruned candidate read for a key set: the rows of files that MIGHT
    * hold one of `keys` (same partition/key-range/bloom pruning as the
    * upsert detection scan), so cost ∝ batch and its matching files, never
    * the table. Candidate files can contribute non-matching rows — callers
    * filter/join on the key themselves. MoR with live logs reads through
    * the merged realtime view (a tombstoned key must not surface). */
  def readForKeys(keys: DataFrame): DataFrame = {
    val s = snapshot()
    candidateRows(s, keys.select(col(s.spec.key)))
  }

  /** Rows of the files that might hold a key of the key-only frame `k`. */
  private def candidateRows(s: Snapshot, k: DataFrame): DataFrame =
    if (s.live.exists(_.log)) realtimePruned(s)
    else readOrdered(pruneCandidates(s, keySummary(k, keyShape(k, s.shape))), s.shape)

  /** Max tombstone write-id per record identity — the one scan of the
    * (churn-bounded) tombstone files a read needs; both its consumers (the
    * contested-key union and the kill filter) reference the same subplan,
    * which Spark collapses via exchange reuse. */
  private def tombMax(tombActions: Seq[FileAction], sh: Shape): Option[DataFrame] =
    if (tombActions.isEmpty) None
    else Some(withJoinIds(readFiles(tombActions, sh, keepWriteId = true), sh)
      .groupBy(sh.joinIdCols.map(col): _*).agg(max(col(WRITE_ID)).as(TOMB_V)))

  /** Kill rows superseded by a newer tombstone: a keyed MoR delete lands as
    * a tombstone log row ([[FileAction.tombstone]]) that deletes whatever
    * was live at its commit — any same-key row with a LOWER write-id; a
    * later upsert (higher write-id) reinserts the key. `df` must carry the
    * join ids and [[WRITE_ID]]. */
  private def applyTombstones(df: DataFrame, tombs: Option[DataFrame], sh: Shape): DataFrame =
    tombs.fold(df) { t =>
      df.join(t, sh.joinIdCols, "left")
        .filter(col(TOMB_V).isNull || col(WRITE_ID) > col(TOMB_V))
        .drop(TOMB_V)
    }

  /** Contested identities of a MoR read: every data-log key plus every
    * tombstoned key (their base rows must enter the merge to be killed). */
  private def contestedLogKeys(logs: DataFrame, tombs: Option[DataFrame], sh: Shape): DataFrame = {
    val lk = logs.select(sh.joinIdCols.map(col): _*)
    tombs.fold(lk)(t => lk.unionByName(t.select(sh.joinIdCols.map(col): _*))).distinct()
  }

  private def ordered(df: DataFrame, sh: Shape): DataFrame =
    df.select(META_COLS.map(col) ++ sh.schema.fieldNames.map(col): _*)

  private def readOrdered(actions: Seq[FileAction], sh: Shape): DataFrame =
    ordered(readFiles(actions, sh), sh)

  /** Read a set of live files as one pruned, partition-aware scan. The
    * data schema is passed EXPLICITLY (no footer inference): files written
    * before an additive schema evolution simply surface nulls for the new
    * columns, and read planning skips footer merging entirely.
    *
    * Files live in the table's own `data/` dir except for shallow-clone /
    * converted-in-place references ([[FileAction.base]]); each distinct base
    * becomes its own scan (so `_v=`/partition dirs still parse against the
    * right root) and the scans union. `relFile = true` attaches the
    * `_rel_file` column — the action-path-compatible identity
    * [[rewriteTouched]] and [[deleteVectors]] key on — computed correctly
    * per group. */
  private def readFiles(actions: Seq[FileAction], sh: Shape, keepWriteId: Boolean = false,
      relFile: Boolean = false, keepPos: Boolean = false): DataFrame = {
    val dataSchema = sh.schema
    if (actions.isEmpty) {
      val full = StructType(META_SCHEMA.fields ++ dataSchema.fields ++
        (if (keepWriteId) Seq(StructField(WRITE_ID, LongType)) else Nil) ++
        (if (relFile) Seq(StructField(REL_FILE, StringType)) else Nil) ++
        (if (keepPos) Seq(StructField(DV_POS, LongType)) else Nil))
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], full)
    }
    // full read schema: meta cols + data cols; partition col (if any) and
    // the write-id dir col are matched by name against the dir structure.
    // Data fields are requested under their PHYSICAL names (column
    // mapping) and aliased back to logical after the scan.
    val cmap = sh.spec.columnMap
    val readSchema = StructType(
      META_SCHEMA.fields.filterNot(_.name == "_file_name") ++
        dataSchema.fields.map(f => f.copy(name = cmap.getOrElse(f.name, f.name))) ++
        Seq(StructField(WRITE_ID, LongType)))
    // one scan per (base root, layout, dv-ness); `needIdent` attaches the
    // per-row (file, position) identity deletion vectors are keyed on
    def scanGroup(base: Option[String], acts: Seq[FileAction], needIdent: Boolean): DataFrame = {
      val dir = base.getOrElse(dataDir)
      val paths = acts.map(a => s"$dir/${a.path}")
      val graftLayout = base.isEmpty || acts.forall(_.path.startsWith(s"$WRITE_ID="))
      var df =
        if (graftLayout)
          spark.read.option("basePath", dir).schema(readSchema).parquet(paths: _*)
        else
          // converted-in-place foreign parquet: flat files, nothing to parse
          // from dirs — write-id 0 (pre-history) and the file name as the
          // rel identity (unique: convert sources are a single flat dir)
          spark.read.schema(readSchema).parquet(paths: _*)
            .withColumn(WRITE_ID, coalesce(col(WRITE_ID), lit(0L)))
      if (needIdent)
        df = df.withColumn(DV_POS, col("_metadata").getField("row_index"))
      // input_file_name() is URI-ENCODED (space → %20) while FileAction
      // paths come from FileSystem listings (literal) — decode before any
      // compare, or partition values with URI-special chars silently break
      // touched-file detection, DV anti-joins, and file-restricted scans.
      // '+' is literal in a URI path but form-decoding would turn it into
      // a space, so mask it first.
      def uriDecode(c: Column): Column = url_decode(replace(c, lit("+"), lit("%2B")))
      df = df.withColumn("_file_name",
        uriDecode(element_at(split(input_file_name(), "/"), -1)))
      val rel =
        if (graftLayout) substring_index(uriDecode(input_file_name()), "/data/", -1)
        else uriDecode(element_at(split(input_file_name(), "/"), -1))
      if (relFile || needIdent) df.withColumn(REL_FILE, rel) else df
    }
    // existence defaults: rows in files that PREDATE an added-with-DEFAULT
    // column read the frozen constant instead of null. "Absent" is known
    // per file from its commit's schema (no footers); files carrying the
    // column — genuine nulls included — are untouched. Zero overhead when
    // no existence default is declared (every absent-set is empty).
    val exDefaults: Map[String, String] = {
      val ed = sh.spec.existenceDefaults
      if (ed.isEmpty) Map.empty
      else ed.filter { case (c, _) => dataSchema.fieldNames.contains(c) }
    }
    def absentOf(a: FileAction): Set[String] =
      if (exDefaults.isEmpty) Set.empty
      else fileSchemaOf(a) match {
        case Some(fs) => exDefaults.keySet -- fs.fieldNames.toSet
        case None => Set.empty // foreign base: refused at add time
      }
    // fill on the PHYSICAL-named scan output (aliasing to logical happens
    // after the union)
    def fillAbsent(df: DataFrame, absent: Set[String]): DataFrame =
      absent.foldLeft(df)((acc, c) =>
        acc.withColumn(cmap.getOrElse(c, c),
          expr(exDefaults(c)).cast(dataSchema(c).dataType)))
    // one scan per (base, absent-set, PARTITION ERA): after a partition
    // evolution, files written under different partition columns have
    // different dir structures, and Spark's partition discovery requires a
    // uniform layout per read — each era scans separately and the scans
    // union. Every column still resolves for every era: a file's own era
    // column comes from its dirs, every other column from its data.
    val parts = actions.groupBy(a => (a.base, absentOf(a), partitionColOf(a))).toSeq
      .sortBy { case ((base, abs, era), _) =>
        (base.getOrElse(""), abs.toSeq.sorted.mkString(","), era.getOrElse("")) }
      .flatMap { case ((base, absent, _), acts) =>
        val (dvd, plain) = acts.partition(_.dv.isDefined)
        val plainDf =
          if (plain.isEmpty) None
          else {
            val df = fillAbsent(scanGroup(base, plain, needIdent = keepPos), absent)
            Some(if (keepPos && !relFile) df.drop(REL_FILE) else df)
          }
        val dvdDf =
          if (dvd.isEmpty) None
          else {
            // anti-join each row's (file, position) against the union of the
            // referenced DV sidecars: deleted positions vanish at scan time.
            // Only the DV'd files pay; sidecar size ∝ deleted rows, so AQE
            // broadcasts it in the common case.
            val df = scanGroup(base, dvd, needIdent = true)
            val dirs = dvd.flatMap(_.dv).distinct.map(dvRoot)
            val dvRows = spark.read.schema(DV_SCHEMA).parquet(dirs: _*)
            val alive = fillAbsent(df.join(dvRows,
              df(REL_FILE) === dvRows("file") && df(DV_POS) === dvRows("pos"),
              "left_anti"), absent)
            val dropRel = if (relFile) alive else alive.drop(REL_FILE)
            Some(if (keepPos) dropRel else dropRel.drop(DV_POS))
          }
        plainDf.toSeq ++ dvdDf.toSeq
      }
    val joined = parts.reduce(_.unionByName(_))
    val out =
      if (cmap.isEmpty) joined
      else {
        val rev = cmap.map(_.swap)
        joined.select(joined.columns.toSeq.map(c =>
          rev.get(c).map(l => col(c).as(l)).getOrElse(col(c))): _*)
      }
    if (!keepWriteId) out.drop(WRITE_ID) else out
  }

  /** Resolve a [[FileAction.dv]] reference: absolute across-table paths
    * pass through, relative ones live under this table's data dir. */
  private def dvRoot(d: String): String =
    if (d.startsWith("/")) d else s"$dataDir/$d"

  // ---- writes ----------------------------------------------------------

  /** The copy-on-write rewrite every row-level write shares ([[delete]],
    * [[update]], [[overwriteWhere]], CoW upsert, CoW [[deleteKeys]]): a
    * file is TOUCHED when `detect` keeps any of its rows. Detection scans
    * `candidates` with their `_rel_file` identity and is column-pruned to
    * what `detect` reads (a `cond` filter, or the keyed semi-join of the
    * batch's [[KeySummary]], a literal-set filter for a small batch);
    * one job with no shuffle collects the touched paths — each
    * task returns its own set, so the result is bounded by the candidate
    * file count, and the driver dedups the sets. The rewrite then re-scans
    * ONLY the touched files, restricting the scan's file list rather than
    * filtering on a literal `isin(touched)` — scan cost ∝ touched data
    * and the plan stays O(1) in the touched-file count. Returns the
    * touched paths (the commit's `remove` set) and every row of those
    * files, for the caller's own row transform; None when no file is
    * touched. `keepWriteId` keeps the write-id column on both scans. */
  private def rewriteTouched(s: Snapshot, candidates: Seq[FileAction],
      detect: DataFrame => DataFrame,
      keepWriteId: Boolean = false): Option[(Seq[String], DataFrame)] = {
    val sh = s.shape
    val touched = detect(readFiles(candidates, sh, keepWriteId, relFile = true))
      .select(REL_FILE).as(Encoders.STRING)
      .mapPartitions(_.toSet.iterator)(Encoders.STRING)
      .collect().distinct.toSeq
    if (touched.isEmpty) None
    else {
      val touchedSet = touched.toSet
      Some((touched, readFiles(candidates.filter(a => touchedSet.contains(a.path)), sh,
        keepWriteId)))
    }
  }

  /** Full load (S6/S8/S10): precombine-dedup, stamp meta, replace content.
    * `mergeSchema` allows additive evolution (new columns widen the table;
    * Delta's mergeSchema analog). */
  def overwrite(df: DataFrame, mergeSchema: Boolean = false,
      txn: Option[(String, Long)] = None): LakeTable = retrying { s =>
    val (withIds, idHighs) = stampIdentity(s, df, freshForAll = true)
    val (conformed, evolved) = conform(s, withIds, mergeSchema)
    writeCommit(s, "overwrite", removeAll = true, newSchema = evolved, txn = txn,
      identityHigh = idHighs) { (writeId, commitTime) =>
      val batch = stampMeta(s, dedupBatch(s, conformed), commitTime)
      Seq(writeFiles(s, batch, writeId, log = false))
    }
  }

  /** Delta `replaceWhere`: atomically replace exactly the rows matching
    * `cond` with `df` — ONE commit rewrites the touched files' non-matching
    * rows and adds the new data, so readers never see a half-swapped state.
    * Every incoming row must satisfy `cond` (Delta's constraint): the op is
    * a range/partition swap, not a disguised upsert. Only the files
    * holding a matching row are rewritten ([[rewriteTouched]]).
    *
    * Keyed-uniqueness contract: a record key must not move ACROSS the
    * predicate boundary — an incoming key that also has a non-matching row
    * elsewhere would duplicate the record (replaceWhere swaps a region,
    * like Delta's; use upsert to move keys). Violations against the
    * touched files' surviving rows are detected and fail loudly; rows in
    * completely untouched files are the caller's contract (checking them
    * would need the full-table scan this operation exists to avoid). */
  def overwriteWhere(df: DataFrame, cond: Column,
      txn: Option[(String, Long)] = None): LakeTable = retrying { s0 =>
    val s = foldedLogs(s0)
    val (withIds, idHighs) = stampIdentity(s, df, freshForAll = true)
    val (conformed, _) = conform(s, withIds, mergeSchema = false)
    require(conformed.filter(!coalesce(cond, lit(false))).isEmpty,
      "replaceWhere: every incoming row must match the predicate")
    val sh = s.shape
    writeCommit(s, "overwriteWhere", txn = txn, identityHigh = idHighs) { (writeId, commitTime) =>
      val touched = rewriteTouched(s, s.live, _.filter(cond))
      val batch = stampMeta(s, dedupBatch(s, conformed), commitTime)
      val kept = touched.toSeq.map { case (_, all) =>
        // surviving rows of touched files (cond NULL = survives, like DELETE)
        val rows = all.filter(!coalesce(cond, lit(false))).drop("_file_name")
        // keyed-uniqueness guard (see scaladoc): an incoming key surviving
        // outside the predicate in a touched file would duplicate
        val dup = withJoinIds(rows, sh)
          .join(withJoinIds(batch, sh).select(sh.joinIdCols.map(col): _*).distinct(),
            sh.joinIdCols, "left_semi")
        require(dup.isEmpty,
          "replaceWhere: an incoming record key also has rows NOT matching " +
            "the predicate — a key may not move across the replace boundary")
        writeFiles(s, rows, writeId + 1, log = false)
      }
      Seq(writeFiles(s, batch, writeId, log = false)
        .copy(remove = touched.toSeq.flatMap(_._1))) ++ kept
    }
  }

  /** Dynamic partition overwrite (Spark `partitionOverwriteMode=dynamic`):
    * replace exactly the partitions present in `df`, leave the rest alone.
    * File selection is pure commit-log METADATA (per-file partitionValue) —
    * no detection scan, so the swap costs one write of the incoming data
    * regardless of table size: the partition-load pattern at 100 TB. */
  def overwritePartitions(df: DataFrame,
      txn: Option[(String, Long)] = None): LakeTable = {
    val s = snapshot()
    val p0 = s.spec.partition.getOrElse(throw new IllegalArgumentException(
      "dynamic partition overwrite needs a partitioned table"))
    // partition-evolution era guard: an old-era file interleaves current
    // partition values WITHIN the file, so per-file metadata selection
    // would drop innocent rows — route through row-level replaceWhere
    // (same swap semantics, detection-scan cost) until compact() migrates
    if (mixedPartitionEras(s.live, s.spec)) {
      val pvals = df.select(col(p0).cast(StringType)).distinct()
        .collect().map(r => Option(r.getString(0))).toSeq
      val (nulls, vals) = pvals.partition(_.isEmpty)
      var cond = if (vals.nonEmpty) col(p0).cast(StringType).isin(vals.flatten: _*)
        else lit(false)
      if (nulls.nonEmpty) cond = cond || col(p0).isNull
      return overwriteWhere(df, cond, txn)
    }
    overwritePartitionsUniform(df, txn)
  }

  private def overwritePartitionsUniform(df: DataFrame,
      txn: Option[(String, Long)]): LakeTable = retrying { s =>
    val p = s.spec.partition.getOrElse(throw new IllegalArgumentException(
      "dynamic partition overwrite needs a partitioned table"))
    val (withIds, idHighs) = stampIdentity(s, df, freshForAll = true)
    val (conformed, _) = conform(s, withIds, mergeSchema = false)
    val parts = conformed.select(col(p).cast(StringType)).distinct()
      .collect().map(r => Option(r.getString(0))
        .getOrElse("__HIVE_DEFAULT_PARTITION__")).toSet
    writeCommit(s, "overwritePartitions", txn = txn,
      identityHigh = idHighs) { (writeId, commitTime) =>
      // MoR log files carry partitionValue too — a replaced partition's
      // outstanding logs go with it
      val touched = s.live.filter(_.partitionValue.exists(parts.contains)).map(_.path)
      val batch = stampMeta(s, dedupBatch(s, conformed), commitTime)
      Seq(writeFiles(s, batch, writeId, log = false).copy(remove = touched))
    }
  }

  /** Live partition values — `SHOW PARTITIONS` from commit-log metadata
    * alone for every file written under the current partition column.
    * After a partition evolution, OLD-ERA files store the current column
    * as plain data, so their values come from a column-pruned distinct
    * scan over just those files — cost ∝ unmigrated data, shrinking to
    * zero as compaction/churn moves the table forward, never ∝ table
    * size. */
  def partitionValues: Seq[String] = {
    val s = snapshot()
    val p = s.spec.partition.getOrElse(
      throw new IllegalArgumentException(s"table at $path is not partitioned"))
    val (cur, old) = s.live.partition(a => partitionColOf(a) == s.spec.partition)
    val fromMeta = cur.flatMap(_.partitionValue)
    val fromScan =
      if (old.isEmpty) Seq.empty
      else readFiles(old, s.shape).select(col(p).cast(StringType)).distinct()
        .collect().toSeq.flatMap(r => Option(r.getString(0)))
    (fromMeta ++ fromScan).distinct.sorted
  }

  /** Keyed upsert (S7/S9/J2). CoW: rewrite only files holding incoming keys.
    * MoR: new keys → base files, existing keys → log files (which is why a
    * brand-new key surfaces in `_ro` immediately — README.md:993-1012).
    *
    * Batch-materialization shape: the batch is NOT pre-deduped into its
    * own shuffle+persist. Its dedup-INVARIANT facts come from ONE
    * [[KeySummary]] per attempt — one job that brings the distinct record
    * identities to the driver when there are few enough of them
    * ([[LakeTable.KEY_SUMMARY_CAP]] on a table with key blooms,
    * [[LakeTable.KEY_SET_LITERAL_CAP]] otherwise). The key min/max, the
    * partition set and the bloom probes are derived from it on the
    * driver, and touched-file detection and the CoW contested split
    * filter on a literal set of it, so no step shuffles to re-derive the
    * key set (a batch past `KEY_SET_LITERAL_CAP` keys joins the
    * distributed distinct frame instead). Every latest-wins aggregate
    * folds the within-batch dedup: the CoW contested
    * split orders batch rows by the same full-row hash the standalone
    * dedup used (nested under the batch-beats-base rank, so every
    * cross-group comparison is decided before the hash is consulted —
    * winner identical), and the MoR path dedups where its tagged batch is
    * persisted anyway. The raw batch is persisted for the commit's
    * duration UNLESS it is scan-shaped (projections/filters/unions over
    * file scans): those recompute per consumer, column-pruned to what each
    * consumer needs — the key summary re-reads the key columns only
    * (guide §5: cache only when recompute costs more). */
  def upsert(df: DataFrame, mergeSchema: Boolean = false,
      txn: Option[(String, Long)] = None,
      copyFiles: Seq[String] = Seq.empty): LakeTable =
    retrying(upsertAt(_, df, mergeSchema, txn, copyFiles))

  /** Upsert pinned at `expectedVersion` with NO internal rebase: if any
    * other commit landed after the caller observed `expectedVersion`, the
    * version claim fails and [[CommitConflictException]] propagates — the
    * caller re-reads and recomputes (refresh-level OCC; see
    * [[MaterializedView.refresh]]). CoW only. */
  private[lake] def upsertPinned(df: DataFrame, expectedVersion: Long,
      txnMany: Map[String, Long] = Map.empty): LakeTable = {
    val s = snapshot(Some(expectedVersion))
    require(!s.spec.mor, "upsertPinned is a CoW primitive")
    upsertAt(s, df, txnMany = txnMany)
  }

  /** One upsert attempt on snapshot `s`. */
  private def upsertAt(s: Snapshot, df: DataFrame, mergeSchema: Boolean = false,
      txn: Option[(String, Long)] = None, copyFiles: Seq[String] = Seq.empty,
      txnMany: Map[String, Long] = Map.empty): LakeTable = {
    val (withIds, idHighs) = stampIdentity(s, df, freshForAll = false)
    val (conformed, evolved) = conform(s, withIds, mergeSchema)
    persistUnlessCheap(checkedKeys(s, conformed)) { incoming =>
      if (s.spec.mor) upsertMor(s, incoming, evolved, txn, copyFiles, idHighs)
      else upsertCow(s, incoming, evolved, txn, copyFiles, idHighs, txnMany)
    }
  }

  /** Insert-if-absent: commit the rows of `df` whose key is absent from
    * the table and return the distinct keys of `df` that were present,
    * as [[containsKeys]] answers them (key-only, in the table's key type).
    * One attempt on one [[Snapshot]] `s`: the batch's [[KeySummary]] is
    * built once and prunes once, one job collects the present keys
    * ([[presentKeys]]), and the absent rows take the CoW upsert's
    * all-insert path (stamp, within-batch latest-wins dedup, write) at
    * `s.version + 1` — no touched-file detection and no rewrite, since no
    * live row shares their key. A conflicting commit reruns the whole
    * attempt, probe included, so a key another writer committed meanwhile
    * is found present. The commit is an `upsert`, as the upsert of the
    * absent rows would be. A batch past the summary's cap, a snapshot
    * with live MoR logs and a table with identity columns take the
    * general path on the same snapshot: the distributed probe, then the
    * upsert of the absent rows. */
  private[graft] def insertAbsent(df: DataFrame): DataFrame = retrying { s =>
    val key = s.spec.key
    def general(): DataFrame = {
      val present = probeKeys(s, df.select(col(key)))
      upsertAt(s, df.join(present, Seq(key), "left_anti"))
      present
    }
    if (s.spec.identity.nonEmpty) general()
    else persistUnlessCheap(checkedKeys(s, conform(s, df)._1)) { incoming =>
      presentKeys(s, incoming.select(col(key))) match {
        case None => general()
        case Some(present) =>
          writeCommit(s, "upsert") { (writeId, commitTime) =>
            val absent = present.anti(incoming)
            val winner = dedupLatest(stampMeta(s, absent, commitTime), s.shape.idCols,
              s.spec.precombine, xxhash64(absent.columns.toSeq.map(col): _*))
            Seq(writeFiles(s, winner, writeId, log = false))
          }
          present.ids
      }
    }
  }

  /** Run `f` on `df` persisted for its duration, unless `df` is
    * scan-shaped ([[isCheapRescan]]): a batch every step of a write reads
    * is computed once, a scan is re-read column-pruned by each step. */
  private def persistUnlessCheap[T](df: DataFrame)(f: DataFrame => T): T =
    if (isCheapRescan(df)) f(df)
    else {
      val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try f(p) finally { p.unpersist(blocking = false); () }
    }

  private def upsertCow(s: Snapshot, incoming: DataFrame, evolved: Option[StructType],
      txn: Option[(String, Long)], copyFiles: Seq[String], idHighs: Map[String, Long],
      txnMany: Map[String, Long]): LakeTable = {
    val sh = s.shape
    // the batch's distinct record identities: pruning, touched-file
    // detection and the contested split below all read this one summary
    val inKeys = keySummary(incoming, sh)
    val candidates = pruneCandidates(s, inKeys)
    // data columns of the batch, captured BEFORE stampMeta adds the meta
    // columns: the folded within-batch dedup hashes exactly these, so it
    // picks the same winner the old standalone dedupBatch did
    val batchHash = xxhash64(incoming.columns.toSeq.map(col): _*)
    writeCommit(s, "upsert", newSchema = evolved, txn = txn,
      copyFiles = copyFiles, identityHigh = idHighs, txnMany = txnMany) { (writeId, commitTime) =>
      val inStamped = stampMeta(s, incoming, commitTime).withColumn(RANK, lit(Long.MaxValue))
      val touched =
        if (candidates.isEmpty) None
        else rewriteTouched(s, candidates,
          df => inKeys.semi(withJoinIds(df, sh)), keepWriteId = true)
      val winner = touched match {
        case None =>
          // all inserts: the within-batch dedup runs standalone — greatest
          // (precombine, full-row hash), the same winner the old pre-dedup
          // chose
          dedupLatest(inStamped, sh.idCols, sh.spec.precombine, batchHash)
        case Some((_, affected)) =>
          // contested split: rows rewritten only because they share a FILE
          // with a touched key pass through without entering the dedup
          // shuffle; only rows whose KEY is in the batch contest with it.
          // The within-batch dedup folds into this same aggregate: batch
          // rows all carry RANK = MaxValue, so among themselves the
          // (precombine, RANK, hash) ordering falls to the full-row hash —
          // exactly the standalone dedup's choice — while batch-vs-base is
          // decided on (precombine, RANK) before the hash is consulted.
          // One shuffle instead of two, and no persisted intermediate.
          // allowMissingColumns: under additive schema evolution the old
          // rows take nulls for the new columns.
          val rewriteIds = withJoinIds(affected.withColumn(RANK, col(WRITE_ID))
            .drop(WRITE_ID, "_file_name"), sh)
          val passThrough = inKeys.anti(rewriteIds)
          val contested = inKeys.semi(rewriteIds)
            .unionByName(withJoinIds(inStamped, sh), allowMissingColumns = true)
          dedupLatest(contested, sh.idCols, sh.spec.precombine,
            struct(col(RANK), batchHash))
            .unionByName(passThrough, allowMissingColumns = true)
            .drop(PID)
      }
      Seq(writeFiles(s, winner.drop(RANK), writeId, log = false)
        .copy(remove = touched.toSeq.flatMap(_._1)))
    }
  }

  private def upsertMor(s: Snapshot, incoming: DataFrame, evolved: Option[StructType],
      txn: Option[(String, Long)], copyFiles: Seq[String],
      idHighs: Map[String, Long]): LakeTable = {
    val sh = s.shape
    writeCommit(s, "upsert", newSchema = evolved, txn = txn,
      copyFiles = copyFiles, identityHigh = idHighs) { (writeId, commitTime) =>
      // within-batch dedup happens HERE (the incoming frame is raw): its
      // shuffle runs once, inside the tagged frame's persist below — the
      // pruning/existing-key probes above and below need only
      // dedup-invariant key facts
      val stamped = stampMeta(s, dedupBatch(s, incoming), commitTime)
      if (s.live.isEmpty) Seq(writeFiles(s, stamped, writeId, log = false))
      else {
        // key-membership split in ONE pass: left-join a membership flag over
        // a column-pruned scan of live keys, cache the tagged batch, filter
        // twice (anti+semi joins would scan the live key column twice).
        // The scan covers only stats-candidate files: a key outside every
        // file's [min,max] range cannot be existing.
        val candidates = pruneCandidates(s, keySummary(incoming, sh))
        val existingKeys = withJoinIds(readFiles(candidates, sh), sh)
          .select(sh.joinIdCols.map(col): _*).distinct()
          .withColumn("_graft_exists", lit(true))
        val tagged = withJoinIds(stamped, sh).join(existingKeys, sh.joinIdCols, "left")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val newRows = tagged.filter(col("_graft_exists").isNull)
            .drop("_graft_exists", PID)
          val updates = tagged.filter(col("_graft_exists") === true)
            .drop("_graft_exists", PID)
          Seq(
            writeFiles(s, newRows, writeId, log = false),
            writeFiles(s, updates, writeId + 1, log = true)
          ).filter(_.add.nonEmpty)
        } finally {
          tagged.unpersist(blocking = false)
          ()
        }
      }
    }
  }

  /** Delta `COPY INTO` analog: file-granular idempotent ingestion from a
    * parquet directory. Every commit that loads files records them
    * ([[graft.lake.Commit.copyFiles]]); re-running the same COPY INTO
    * skips everything already recorded and commits nothing — load a
    * landing directory on a schedule and each file's rows enter exactly
    * once. New files load through the normal keyed upsert (graft tables
    * are keyed, so the blind-append of Delta's COPY INTO would break the
    * key invariant; latest-wins also makes a rare double-load under
    * concurrent COPY INTOs benign). `pattern` is a glob on the path
    * relative to `sourceDir` (Delta's PATTERN). Extra source columns are
    * dropped; missing table columns fail the load.
    *
    * Returns the files THIS call loaded (empty = everything was already
    * in). Scale: listing + set-diff are driver metadata ∝ directory size;
    * the data path is one upsert over only the new files' rows. */
  def copyInto(sourceDir: String, pattern: Option[String] = None): Seq[String] = {
    val src = new Path(sourceDir)
    val fsys = src.getFileSystem(conf)
    val srcRoot = fsys.makeQualified(src).toString.stripSuffix("/")
    val listed = {
      val it = fsys.listFiles(src, true)
      val b = Seq.newBuilder[String]
      while (it.hasNext) {
        val st = it.next()
        if (st.isFile) b += fsys.makeQualified(st.getPath).toString
      }
      b.result()
    }
    val rx = pattern.map { g =>
      java.util.regex.Pattern.compile(
        "\\Q" + g.replace("*", "\\E[^/]*\\Q").replace("?", "\\E.\\Q") + "\\E")
    }
    def rel(f: String): String = f.stripPrefix(srcRoot).stripPrefix("/")
    val eligible = listed
      .filter(f => f.endsWith(".parquet") && !rel(f).startsWith("_"))
      .filter(f => rx.forall(_.matcher(rel(f)).matches))
    val s = snapshot()
    val loaded = s.history.iterator.flatMap(_.copyFiles).toSet
    val fresh = eligible.filterNot(loaded.contains).sorted
    if (fresh.nonEmpty) {
      val incoming = spark.read.parquet(fresh: _*)
        .select(s.schema.fieldNames.map(col): _*)
      upsert(incoming, copyFiles = fresh)
    }
    fresh
  }

  /** MERGE with delete application (Delta `WHEN MATCHED AND ... DELETE`
    * extension; the reference never applies deletes — opt-in only). */
  def merge(source: DataFrame, applyDeletes: Boolean = false,
      deleteCond: Column = col("source_metadata.is_deleted")): LakeTable = {
    upsert(source)
    if (applyDeletes) delete(deleteCond) else this
  }

  /** Rewrite files dropping rows matching `cond` (row-level delete). Only
    * rows where `cond` is definitively TRUE are dropped — a NULL-evaluating
    * condition (e.g. a null flag after additive schema evolution) keeps the
    * row, matching Delta DELETE semantics. */
  def delete(cond: Column): LakeTable = retrying { s0 =>
    // MoR with outstanding logs: a touched LOG file's surviving rows would
    // be rewritten as BASE rows next to the old base rows for the same
    // keys (duplicates), and untouched logs would lose precombine-tie
    // priority to the rewrite's newer write-id. Folding the logs first
    // (same guard optimize() uses) makes the rewrite well-defined.
    val s = foldedLogs(s0)
    writeCommit(s, "delete") { (writeId, _) =>
      rewriteTouched(s, s.live, _.filter(cond)).toSeq.map { case (touched, rows) =>
        val kept = rows.filter(!coalesce(cond, lit(false))).drop("_file_name")
        writeFiles(s, kept, writeId, log = false).copy(remove = touched)
      }
    }
  }

  /** Row-level delete via DELETION VECTORS (Delta DV analog): instead of
    * rewriting every touched file, record the matched rows' `(file,
    * position)` pairs in a parquet sidecar and re-add the same data files
    * with the DV attached — the rows vanish from every read path at scan
    * time. Cost is O(matched rows + touched file metadata) regardless of
    * file sizes: deleting 100 rows spread over 100 × 1 GB files writes a
    * few KB instead of rewriting 100 GB. A later delete on an already-DV'd
    * file writes a merged sidecar; upsert/compact/optimize rewrites
    * materialize the DV away (their scans never see deleted rows, and the
    * fresh files carry no `dv`). Commit shape is remove+re-add of the same
    * path, so incremental/CDF/materialized-view consumers observe the
    * change like any rewrite. A file whose every row is deleted is simply
    * removed. CoW only — MoR deletes are tombstone log rows already. */
  def deleteVectors(cond: Column): LakeTable = retrying { s =>
    require(!s.spec.mor, "MoR deletes land as tombstone logs; deletion vectors are the CoW analog")
    val sh = s.shape
    writeCommit(s, "delete") { (writeId, _) =>
      val dvRel = s"$DV_DIR/${WRITE_ID}=$writeId"
      // detection scans DV-filtered rows: already-deleted positions can't
      // re-match, so the new sidecar unions cleanly with the old ones
      val matched = readFiles(s.live, sh, relFile = true, keepPos = true)
        .filter(cond)
        .select(col(REL_FILE).as("file"), col(DV_POS).as("pos"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val touched = matched.select("file").distinct()
          .collect().map(_.getString(0)).toSeq
        if (touched.isEmpty) Seq.empty
        else {
          val touchedSet = touched.toSet
          val touchedActs = s.live.filter(a => touchedSet.contains(a.path))
          // prior DV rows of the touched files move into the new sidecar
          // (untouched DV'd files keep referencing their old dirs)
          val oldDirs = touchedActs.flatMap(_.dv).distinct.map(dvRoot)
          val carried =
            if (oldDirs.isEmpty) matched.limit(0)
            else {
              import spark.implicits._
              spark.read.schema(DV_SCHEMA).parquet(oldDirs: _*)
                .join(touched.toDF("file"), Seq("file"), "left_semi")
            }
          val all = matched.unionByName(carried)
          all.write.mode("errorifexists").parquet(s"$dataDir/$dvRel")
          val counts = all.groupBy("file").agg(count(lit(1)).as("c"))
            .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
          // fully-deleted files are dropped outright instead of re-added
          val adds = touchedActs
            .filter(a => counts.getOrElse(a.path, 0L) < a.rows)
            .map(a => a.copy(dv = Some(dvRel), dvRows = counts.getOrElse(a.path, 0L)))
          Seq(WriteResult(adds, touched))
        }
      } finally {
        matched.unpersist(blocking = false)
        ()
      }
    }
  }

  /** Delta `REORG TABLE … APPLY (PURGE)` analog: physically rewrite ONLY
    * the files carrying deletion vectors, materializing the soft deletes
    * into clean files (fresh footer/bloom/sum stats, no `dv` reference) —
    * after which `vacuum` can reclaim the old files AND the sidecars, and
    * DV-restricted paths (storage-partitioned-join fast path, deep-clone
    * byte-copy, symlink manifests) light up again. Untouched files are
    * never rewritten or even opened: cost ∝ DV'd data, not table size —
    * the reason this exists next to [[compact]] (which rewrites
    * everything). Commit shape is remove+add per purged file, so
    * incremental/CDF consumers observe a rewrite, not a row change. */
  def reorgPurge(): LakeTable = retrying { s =>
    val dvd = s.live.filter(_.dv.isDefined)
    if (dvd.isEmpty) return this
    writeCommit(s, "reorg") { (writeId, _) =>
      // readFiles applies the DVs at scan time: what it returns IS the
      // purged content; meta columns ride along so rows keep their
      // original commit identity
      val rows = readFiles(dvd, s.shape).drop("_file_name")
      Seq(writeFiles(s, rows, writeId, log = false).copy(remove = dvd.map(_.path)))
    }
  }

  /** Row-level UPDATE (Delta `UPDATE t SET … WHERE …`): rewrite only the
    * files holding rows where `cond` is definitively true
    * ([[rewriteTouched]]), applying `assigns` to those rows and passing
    * every other row of the touched files through unchanged; rows with a
    * NULL-evaluating condition are left untouched. */
  def update(cond: Column, assigns: Map[String, Column]): LakeTable = retrying { s0 =>
    val declared = s0.schema
    assigns.keys.foreach { n =>
      require(declared.fieldNames.exists(_.equalsIgnoreCase(n)), s"no column $n")
      require(!n.equalsIgnoreCase(s0.spec.key), s"cannot UPDATE the record key '$n'")
      // a partition change is a record move under (key, partition) identity
      // — and would leave _partition_path stale; route it through
      // delete + insert instead
      require(!s0.spec.partition.exists(_.equalsIgnoreCase(n)),
        s"cannot UPDATE the partition column '$n'")
      require(!s0.spec.identity.keys.exists(_.equalsIgnoreCase(n)),
        s"column '$n' is GENERATED ALWAYS AS IDENTITY and cannot be updated")
    }
    val s = foldedLogs(s0)
    writeCommit(s, "update") { (writeId, commitTime) =>
      rewriteTouched(s, s.live, _.filter(cond)).toSeq.map { case (touched, base) =>
        val hit = coalesce(cond, lit(false))
        // ONE projection against the PRE-update row: the condition and
        // every assignment RHS see original values (standard UPDATE
        // semantics — `SET a = b, b = a` swaps; sequential withColumn
        // would let later assignments observe earlier ones). Updated rows
        // are restamped so incremental/changes/streaming consumers see
        // this commit's post-images.
        val outCols = base.columns.filterNot(_ == "_file_name").map { c =>
          assigns.find(_._1.equalsIgnoreCase(c)) match {
            case Some((_, v)) =>
              when(hit, v.cast(declared(c).dataType)).otherwise(col(c)).as(c)
            case None if c == "_commit_time" =>
              when(hit, lit(commitTime)).otherwise(col(c)).as(c)
            case None if c == "_commit_seqno" =>
              when(hit, concat_ws("_", lit(commitTime),
                spark_partition_id().cast(StringType),
                monotonically_increasing_id().cast(StringType))).otherwise(col(c)).as(c)
            case None => col(c)
          }
        }
        val rewritten = base.select(outCols.toSeq: _*)
        // CHECK constraints see the post-image of the updated rows
        checkConstraints(s, rewritten.filter(hit))
        writeFiles(s, rewritten, writeId, log = false).copy(remove = touched)
      }
    }
  }

  /** Record identity of a caller-supplied key frame: (key, partition) when
    * the table is partitioned AND the frame carries the partition column —
    * then only the matched partition's row dies; a bare key set keeps the
    * historical global semantics (the key dies in every partition), as a
    * shape whose identity has no partition. */
  private def keyShape(keys: DataFrame, sh: Shape): Shape =
    if (sh.spec.partition.exists(keys.columns.contains)) sh
    else sh.copy(spec = sh.spec.copy(partition = None))

  /** Row-level delete by KEY SET (the `WHEN MATCHED … THEN DELETE` MERGE
    * path): prune candidate files from the key set's [[KeySummary]],
    * narrow to files actually holding a doomed key through its semi-join,
    * rewrite only those through its anti-join — a literal-set filter for a
    * small key set, a distributed join past [[LakeTable.KEY_SET_LITERAL_CAP]]. */
  def deleteKeys(keys: DataFrame): LakeTable = retrying { s =>
    val sh = s.shape
    // keeping the raw partition column in the identity also lets
    // pruneCandidates partition-prune (see keyShape for the semantics)
    val ks = keyShape(keys, sh)
    persistUnlessCheap(keys.select(ks.idCols.map(col): _*)) { k =>
      val doomed = keySummary(k, ks)
      if (sh.spec.mor) deleteKeysMor(s, ks, doomed)
      else writeCommit(s, "delete") { (writeId, _) =>
        rewriteTouched(s, pruneCandidates(s, doomed),
            df => doomed.semi(withJoinIds(df, ks))).toSeq.map {
          case (touched, rows) =>
            val kept = doomed.anti(withJoinIds(rows, ks))
              .drop(PID)
              .drop("_file_name")
            writeFiles(s, kept, writeId, log = false).copy(remove = touched)
        }
      }
    }
  }

  /** MoR keyed delete: write TOMBSTONE log rows (key/partition real, data
    * columns null, [[FileAction.tombstone]] flagged) instead of folding the
    * logs and rewriting base files — the deletion-vector idea. Cost is
    * O(deleted keys) regardless of table size; `_rt` filters tombstoned
    * rows at read ([[applyTombstones]]), `_ro` stays stale until
    * compaction folds the tombstones away — ordinary MoR staleness. */
  private def deleteKeysMor(s: Snapshot, ks: Shape, doomedKeys: KeySummary): LakeTable = {
    val sh = s.shape
    writeCommit(s, "delete") { (writeId, commitTime) =>
      // tombstone only keys that exist (stray keys would bloat the logs);
      // the existence probe is a key-column-pruned scan of stats-candidates.
      // The probe must see the full identity: a bare key set still needs
      // the live rows' partition values on the tombstone rows.
      val candidates = pruneCandidates(s, doomedKeys)
      val existing = doomedKeys.semi(withJoinIds(readFiles(candidates, sh), sh))
        .select(sh.idCols.map(col): _*).distinct()
      val row = sh.schema.fields.map { f =>
        if (sh.idCols.exists(_.equalsIgnoreCase(f.name))) col(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }
      val doomed = stampMeta(s, existing.select(row.toSeq: _*), commitTime)
      Seq(writeFiles(s, doomed, writeId + 1, log = true, tombstone = true))
        .filter(_.add.nonEmpty)
    }
  }

  /** Contested-key merged rewrite set (same shape as realtime()): only keys
    * present in a log file — or duplicated across base rows (bulk-insert
    * legacy) — need the dedup shuffle; every other base row passes through
    * untouched. Contested-key detection is a key-column-only aggregate
    * (column-pruned scan, map-side partial agg), so rewrite cost scales
    * with the log/dup volume, not the table size — at 100 TB the
    * difference between folding a day's updates and re-shuffling the
    * whole table. */
  private def mergedRewrite(live: Seq[FileAction], sh: Shape): DataFrame = {
    val (logActions, baseActions) = live.partition(_.log)
    val (tombActions, dataLogs) = logActions.partition(_.tombstone)
    val base = withJoinIds(readFiles(baseActions, sh, keepWriteId = true), sh)
    val logs = withJoinIds(readFiles(dataLogs, sh, keepWriteId = true), sh)
    val tombs = tombMax(tombActions, sh)
    val logKeys = contestedLogKeys(logs, tombs, sh)
    val dupBaseKeys = base.groupBy(sh.joinIdCols.map(col): _*).count()
      .filter(col("count") > 1).select(sh.joinIdCols.map(col): _*)
    val contestedKeys = logKeys.union(dupBaseKeys).distinct()
    val passThrough = base.join(contestedKeys, sh.joinIdCols, "left_anti")
    val contested = applyTombstones(
      base.unionByName(logs).join(contestedKeys, sh.joinIdCols, "left_semi"), tombs, sh)
    dedupLatest(contested, sh.idCols, sh.spec.precombine, col(WRITE_ID))
      .unionByName(passThrough)
      .drop(WRITE_ID, "_file_name", PID)
  }

  /** Fold MoR logs (or fragmented CoW files) into fresh base files (M2).
    * Afterwards `_ro ≡ _rt`. Preserves per-row meta columns.
    *
    * @param clusterByKey range-partition + sort the rewrite by record key
    *   (Hudi clustering / Delta OPTIMIZE ZORDER analog for the 1-D case):
    *   files get tight, near-disjoint key ranges, so the commit-log min/max
    *   stats prune far more files on later upserts and point lookups. */
  def compact(clusterByKey: Boolean = false, targetFiles: Int = 0): LakeTable =
    retrying(compactAt(_, clusterByKey, targetFiles))

  private def compactAt(s: Snapshot, clusterByKey: Boolean = false,
      targetFiles: Int = 0): LakeTable =
    writeCommit(s, "compact") { (writeId, _) =>
      val rt = mergedRewrite(s.live, s.shape)
      val key = col(s.spec.key)
      val clustered =
        if (clusterByKey && targetFiles > 0)
          rt.repartitionByRange(targetFiles, key).sortWithinPartitions(key)
        else if (clusterByKey) rt.repartitionByRange(key).sortWithinPartitions(key)
        else rt
      Seq(writeFiles(s, clustered, writeId, log = false)
        .copy(remove = s.live.map(_.path)))
    }

  /** `s`, or on MoR with outstanding logs the table after [[compact]]ing
    * them in a commit of their own (see [[delete]] for why). A conflict
    * on either commit reruns the caller's whole attempt. */
  private def foldedLogs(s: Snapshot): Snapshot =
    if (s.spec.mor && s.live.exists(_.log)) { compactAt(s); snapshot() } else s

  /** Multi-dimensional clustering rewrite — Delta `OPTIMIZE ZORDER BY`
    * analog for 2-3 numeric columns: each dimension is bucketed into
    * `2^bitsPerDim` uniform buckets (bounds from one column-pruned min/max
    * job), bucket bits are interleaved into a Z-value (pure codegen'd
    * shift/mask expressions), and the table is range-partitioned + sorted
    * by it. Files then cover small HYPER-RECTANGLES of the dimension
    * space, so parquet row-group stats prune scans filtered on ANY of the
    * clustered columns — the property a 100 TB table needs when queries
    * filter on more than the record key. */
  def zorder(cols: Seq[String], targetFiles: Int = 0, bitsPerDim: Int = 8,
      incremental: Boolean = false): LakeTable = retrying { s =>
    require(cols.size >= 2 && cols.size <= 3, "zorder needs 2-3 columns (1-D: compact(clusterByKey))")
    cols.foreach(c => require(s.schema.fieldNames.contains(c), s"no column $c"))
    // incremental (liquid-clustering style): re-cluster ONLY files that no
    // prior zorder produced — cost ∝ data added since the last clustering,
    // never ∝ table size. Already-clustered files keep their tight
    // hyper-rectangles (and their row-group stats keep pruning); the new
    // batch gets its own. A file's provenance is its write-id's commit
    // operation — pure commit-log metadata.
    val live =
      if (!incremental) s.live
      else {
        require(!s.live.exists(_.log),
          "incremental zorder needs MoR logs folded first (run compact())")
        val opOf: Map[Long, String] = s.history.map(c => c.version -> c.operation).toMap
        s.live.filterNot { a =>
          val head = a.path.takeWhile(_ != '/')
          head.startsWith(s"$WRITE_ID=") &&
            head.drop(WRITE_ID.length + 1).toLongOption
              .map(_ / LakeTable.WRITE_SLOTS)
              .exists(v => opOf.get(v).exists(_.startsWith("zorder")))
        }
      }
    if (incremental && live.isEmpty) return this // nothing new to cluster
    writeCommit(s, if (incremental) "zorder_incremental" else "zorder") { (writeId, _) =>
      val rt = mergedRewrite(live, s.shape)
      val aggExprs = cols.flatMap(c =>
        Seq(min(col(c)).cast("double"), max(col(c)).cast("double")))
      val bounds = rt.agg(aggExprs.head, aggExprs.tail: _*).collect()(0)
      val n = 1 << bitsPerDim
      val buckets = cols.zipWithIndex.map { case (c, i) =>
        if (bounds.isNullAt(2 * i) || bounds.getDouble(2 * i) == bounds.getDouble(2 * i + 1))
          lit(0L)
        else
          // explicit null branch: least() SKIPS nulls, so a bare
          // least(width_bucket(null,…), n) would land nulls in the TOP
          // bucket instead of the bottom one
          when(col(c).isNull, lit(0L)).otherwise(
            least(width_bucket(col(c).cast("double"),
              lit(bounds.getDouble(2 * i)), lit(bounds.getDouble(2 * i + 1)), lit(n)),
              lit(n.toLong)) - 1L)
      }
      val z = (0 until bitsPerDim).flatMap { b =>
        buckets.zipWithIndex.map { case (bucket, d) =>
          shiftleft(shiftright(bucket, b).bitwiseAND(lit(1L)), b * cols.size + d)
        }
      }.reduce(_ + _)
      val zc = "_graft_z"
      val tagged = rt.withColumn(zc, z)
      val clustered =
        (if (targetFiles > 0) tagged.repartitionByRange(targetFiles, col(zc))
         else tagged.repartitionByRange(col(zc)))
          .sortWithinPartitions(col(zc))
          .drop(zc)
      Seq(writeFiles(s, clustered, writeId, log = false)
        .copy(remove = live.map(_.path)))
    }
  }

  /** Delta-style OPTIMIZE (`/root/reference/README.md:1240`: "concatenate
    * small files"): rewrite only base files smaller than `smallFileBytes`
    * into consolidated files, leaving right-sized files untouched (compact
    * rewrites everything). MoR log files are left to `compact`. */
  def optimize(smallFileBytes: Long = 64L * 1024 * 1024,
      partitionFilter: Option[String => Boolean] = None): LakeTable = retrying { s =>
    // MoR with outstanding logs: rewriting base files would give them a
    // newer write-id than the logs and flip precombine-TIE resolution at
    // read (log must beat base for equal precombine) — compact instead,
    // which folds the logs and reaches the same small-file goal.
    if (s.spec.mor && s.live.exists(_.log)) {
      require(partitionFilter.isEmpty,
        "partition-scoped OPTIMIZE needs the MoR logs folded first (run compact())")
      return compactAt(s)
    }
    val fs = new Path(dataDir).getFileSystem(conf)
    // external references (shallow clone / convert) are not concatenation
    // candidates — compact() is the op that absorbs them into own files.
    // A partition filter (Delta `OPTIMIZE t WHERE part = …`) scopes the
    // concatenation to matching partitions — commit-log metadata only,
    // nothing outside the named partitions is listed or rewritten.
    val small = s.live.filterNot(_.log).filter(_.base.isEmpty)
      // era guard: a partition-scoped OPTIMIZE matches files against the
      // CURRENT partition column — an old-era file's stored value belongs
      // to a different column, so it never matches (compact() migrates it)
      .filter(a => partitionFilter.forall(f =>
        partitionColOf(a) == s.spec.partition && a.partitionValue.exists(f)))
      .filter { a =>
        fs.getFileStatus(new Path(s"$dataDir/${a.path}")).getLen < smallFileBytes
      }
    if (small.size < 2) return this // nothing to concatenate
    writeCommit(s, "optimize") { (writeId, _) =>
      val rows = readFiles(small, s.shape).drop("_file_name")
        .coalesce(math.max(1, small.size / 8))
      Seq(writeFiles(s, rows, writeId, log = false)
        .copy(remove = small.map(_.path)))
    }
  }

  /** Hudi-style incremental query: the rows written by commits in
    * `(sinceVersion, asOf]` — new inserts and the post-image of updates —
    * latest-wins deduped. The pull reads only the files those commits
    * added (no full-table scan), which is the whole point of incremental
    * consumption at scale. */
  def incremental(sinceVersion: Long, asOf: Option[Long] = None): DataFrame =
    postImages(window(sinceVersion, asOf))

  private def postImages(w: CommitWindow): DataFrame = {
    val sh = w.end.shape
    // PHYSICAL-ONLY window (a compaction/zorder landing as its own
    // streaming micro-batch): every added file carries only pre-existing
    // rows, so the post-image set is empty by metadata proof. Without
    // this, a tailing stream READS the whole rewritten table per
    // compaction and then filters every row back out by commit time —
    // cost ∝ table size, exactly what the churn-bounded contract above
    // forbids at 100 TB. Mixed windows (catch-up spans) keep the
    // commit-time filter path: their genuine post-images may live only
    // inside the rewrite's files.
    if (w.physicalOnly) return readOrdered(Nil, sh)
    // a file added then removed by a later included commit has been
    // rewritten — its surviving rows live in the newer file. Tombstone
    // files carry no post-images (MoR deletes are not surfaced, like
    // Hudi's incremental view) but LIVE tombstones must still suppress
    // post-images of rows they killed.
    val live = w.end.live
    val livePaths = live.map(_.path).toSet
    val files = w.added.filter(a => livePaths.contains(a.path) && !a.tombstone)
    val df = withJoinIds(readFiles(files, sh, keepWriteId = true), sh)
    val alive = applyTombstones(df, tombMax(live.filter(_.tombstone), sh), sh).drop(PID)
    val deduped = dedupLatest(alive, sh.idCols, sh.spec.precombine, col(WRITE_ID)).drop(WRITE_ID)
    // rewritten files carry old rows too — keep only rows stamped by the
    // included commits
    val recent = w.sinceTime.fold(deduped)(ct => deduped.filter(col("_commit_time") > ct))
    ordered(recent, sh)
  }

  /** Delta change-data-feed-style read: every change in `(since, asOf]`
    * tagged with `_change_type` ∈ insert / update_postimage / delete.
    * Post-images come from [[incremental]] (reads only the window's added
    * files). Insert-vs-update discrimination and delete detection also read
    * ONLY window-touched files — no snapshot-wide key scan — because
    * changing a key always leaves a trace in the window's own file actions:
    *
    *   - CoW update / delete / overwrite rewrites the key's containing
    *     file, so a pre-existing changed key appears in a REMOVED file
    *     that was live at `since`;
    *   - MoR update appends the key to an ADDED log file (and MoR routes
    *     only already-existing keys to logs — a key both log-written and
    *     freshly base-inserted inside the window is the insert-then-update
    *     case, excluded by its `_commit_time` stamp);
    *   - a pre-existing changed key still alive at `asOf` must live in a
    *     file some window commit added (rewrite chains stay in-window),
    *     so "absent from the window's added live files" ⇒ deleted.
    *
    * Cost therefore scales with window churn, not table size — the property
    * that matters when tailing a 100 TB table. Delete rows carry the key
    * and null data columns, like Delta's CDF delete rows.
    *
    * `includePreimages` (Delta CDF parity) additionally emits an
    * `update_preimage` row per updated key: its values AT `since` (the
    * window-initial state — `changes` is net-change over the window, so
    * one pre/post pair per key, not one per intermediate commit). CoW
    * only, and still ∝ churn: preimages are rows of the window-REMOVED
    * files, which a CoW update necessarily rewrote. */
  def changes(since: Long, asOf: Option[Long] = None,
      includePreimages: Boolean = false): DataFrame = {
    val w = window(since, asOf)
    val sh = w.end.shape
    val post = postImages(w)
    // physical-only window: no inserts, no updates, no deletes — empty
    // by metadata proof, skipping the rewritten/now key scans entirely
    // (a compaction otherwise costs two full reads here: the removed
    // files AND the added files, to prove no change)
    if (w.physicalOnly) return post.withColumn("_change_type", lit("")).filter(lit(false))
    val joinIds = sh.joinIdCols.map(col)
    // record identity is (key, partition), same as every write path — a
    // null-safe PID join id plus the raw columns (delete rows carry both)
    def ids(df: DataFrame): DataFrame =
      withJoinIds(df, sh).select((sh.idCols ++ sh.spec.partition.map(_ => PID)).map(col): _*)
    val rewrittenRows = readFiles(w.removedLive, w.start.shape)
    val rewrittenKeys = ids(rewrittenRows)
    val logKeys = {
      val fresh = readFiles(w.added.filterNot(_.log), sh)
        .filter(w.sinceTime.map(ct => col("_commit_time") > ct).getOrElse(lit(true)))
      ids(readFiles(w.added.filter(_.log), sh))
        .join(ids(fresh).select(joinIds: _*), sh.joinIdCols, "left_anti")
    }
    val preIds = rewrittenKeys.unionByName(logKeys).distinct()
    val tagged = withJoinIds(post, sh)
      .join(preIds.select(joinIds: _*).distinct()
        .withColumn("_pre", lit(true)), sh.joinIdCols, "left")
      .withColumn("_change_type",
        when(col("_pre").isNotNull, "update_postimage").otherwise("insert"))
      .drop("_pre", PID)
    // delete detection, skipped by METADATA PROOF when the window is
    // key-preserving ([[CommitWindow.keyPreserving]]): such a window has
    // zero deletes without reading the window's added files at all — on
    // an unclustered-churn upsert that skips a table-sized key scan +
    // distinct + anti-join (guide §1.1 first-principles: don't compute
    // what is provably empty). Every other window takes the full
    // scan-based path below.
    val deleted =
      if (w.keyPreserving)
        preIds.select(sh.idCols.map(col): _*).filter(lit(false))
          .withColumn("_change_type", lit("delete"))
      else {
        val liveNow = w.end.live
        val liveNowPaths = liveNow.map(_.path).toSet
        // "still alive at asOf": rows of the window's added live files minus
        // tombstone files, with tombstone-killed rows filtered — a key whose
        // only window trace is its tombstone is NOT alive
        val nowIds = applyTombstones(
            withJoinIds(readFiles(
              w.added.filter(a => liveNowPaths.contains(a.path) && !a.tombstone),
              sh, keepWriteId = true), sh),
            tombMax(liveNow.filter(_.tombstone), sh), sh)
          .select(joinIds: _*).distinct()
        preIds.join(nowIds, sh.joinIdCols, "left_anti")
          .select(sh.idCols.map(col): _*).distinct()
          .withColumn("_change_type", lit("delete"))
      }
    val base = tagged.unionByName(deleted, allowMissingColumns = true)
    if (!includePreimages) base
    else {
      require(!sh.spec.mor,
        "update_preimage needs a CoW table: a MoR update leaves the old " +
          "value in an un-removed base file — compact() first")
      // updated = has a postimage AND existed before. NOT preIds ∩ nowIds:
      // a CoW rewrite carries unchanged rows into the new file, so they sit
      // in both preIds (removed file) and nowIds (added file) without being
      // updates — only the commit-time-filtered post rows are real changes.
      val updatedIds = withJoinIds(post, sh).select(joinIds: _*)
        .distinct()
        .join(preIds.select(joinIds: _*).distinct(), sh.joinIdCols, "left_semi")
      val preimages = withJoinIds(rewrittenRows, sh)
        .join(updatedIds.select(joinIds: _*).distinct(), sh.joinIdCols, "left_semi")
        .withColumn("_change_type", lit("update_preimage"))
        .drop(PID)
      base.unionByName(preimages, allowMissingColumns = true)
    }
  }

  /** Pure metadata commit: advance idempotent-transaction watermarks
    * (`txnMany`) without touching a single data file. [[MaterializedView]]
    * publishes its refresh cursor this way when every member's pending
    * window is [[CommitWindow.physicalOnly]] — the delta is empty by
    * metadata proof, so the refresh costs zero Spark jobs and zero file
    * reads. OCC-pinned like any state publish; the multi-watermark no-op
    * rule in [[writeCommit]] applies unchanged. */
  private[lake] def bumpTxn(expectedVersion: Long,
      txnMany: Map[String, Long]): LakeTable =
    writeCommit(snapshot(Some(expectedVersion)), "cursor_bump",
      txnMany = txnMany) { (_, _) => Seq.empty }

  /** Net row delta of a CoW table over the window `(since, upTo]`, as two
    * DataFrames: `plus` = rows of files ADDED in the window and still live
    * at `upTo`, `minus` = rows of files live at `since` and REMOVED by a
    * window commit.
    *
    * A copy-on-write rewrite carries every surviving row of the old file
    * into the new one, so rewritten-but-unchanged rows appear in BOTH sides
    * and cancel under any linear aggregate — `Σf(plus) − Σf(minus)` is
    * exactly the table's aggregate change, with NO key-level diff and cost
    * proportional to window churn, not table size. This is the engine of
    * [[MaterializedView.refresh]]. Both sides read with the `upTo` schema,
    * so mid-window additive evolution surfaces nulls instead of breaking.
    * A [[CommitWindow.physicalOnly]] window answers with empty frames
    * without reading a single data file.
    *
    * MoR tables route through [[windowDeltaMor]]: log rows supersede base
    * rows without removing their file, which breaks the file-level
    * cancellation — the MoR delta instead diffs the two MERGED snapshots
    * restricted to the window's touched record identities. */
  private[graft] def windowDelta(w: CommitWindow): (DataFrame, DataFrame) = {
    val sh = w.end.shape
    if (w.physicalOnly || (w.added.isEmpty && w.removedLive.isEmpty)) {
      val empty = readFiles(Nil, sh)
      (empty, empty)
    } else if (sh.spec.mor) windowDeltaMor(w)
    else {
      val liveUp = w.end.live.map(_.path).toSet
      (readFiles(w.added.filter(a => liveUp.contains(a.path) && !a.log && !a.tombstone), sh),
        readFiles(w.removedLive, sh))
    }
  }

  /** MoR net row delta over `(since, upTo]`, as (plus, minus) rows of the
    * MERGED realtime view — so an MV over a streaming MoR ingest table
    * maintains without compacting first, `_rt`-consistent by construction.
    *
    * An identity's merged row can differ between the two snapshots only if
    * a window commit touched it: rows of window-ADDED files (base adds,
    * data-log upserts, tombstone keys) or of window-REMOVED files
    * (CoW-style rewrites on a compacted MoR table drop rows with no log
    * trace). With K = those identities,
    * `plus = realtime(upTo) ⋉ K`, `minus = realtime(since) ⋉ K` — every
    * untouched identity cancels by omission, so the delta is exact for
    * upserts, deletes (tombstones), re-inserts, and compactions alike.
    *
    * Cost ∝ churn, not table size: K comes from reading only the window's
    * touched files, and both snapshot reads prune their BASE files against
    * K's (bounded) key set via stats/bloom/bucket skipping — log files are
    * churn-sized already. A compaction inside the window touches every
    * key (its rewrite carries all rows), degrading to two full merged
    * scans whose carried rows cancel — the same cost CoW pays for a
    * full-rewrite window. */
  private def windowDeltaMor(w: CommitWindow): (DataFrame, DataFrame) = {
    val sh = w.end.shape
    val touchedActs = (w.added ++ w.removedLive).groupBy(_.path).map(_._2.head).toSeq
    // recomputed per side (window files are churn-sized); not cached — a
    // lazily-consumed delta must not leak a persisted plan
    val touchedKeys = withJoinIds(readFiles(touchedActs, sh), sh)
      .select(sh.joinIdCols.map(col): _*).distinct()
    // bounded key collect (an optimization seam only — the semi-join
    // below is what bounds the ROWS): within the cap, both snapshot
    // reads stats/bloom/bucket-skip base files against the key set
    val keyOnly = readFiles(touchedActs, sh).select(col(sh.spec.key))
    val baseFilters = boundedDistinct(keyOnly, LakeTable.MOR_DELTA_KEY_CAP) match {
      case Some(rows) if !rows.exists(_.isNullAt(0)) =>
        Seq(org.apache.spark.sql.sources.In(sh.spec.key, rows.map(_.get(0))))
      case _ => Nil
    }
    def side(at: Snapshot): DataFrame =
      withJoinIds(realtimePruned(at, baseFilters), sh)
        .join(touchedKeys, sh.joinIdCols, "left_semi")
        .drop(PID)
    (side(w.end), side(w.start))
  }

  /** Delta `GENERATE symlink_format_manifest` analog: write text manifests
    * under `_symlink_format_manifest/` listing the snapshot's absolute data
    * file paths — one `manifest` per partition directory (unpartitioned:
    * one at the root), so manifest-reading engines (Trino/Presto/Athena
    * symlink tables) can query the exact committed snapshot without
    * understanding the graft log. Refuses MoR logs and deletion vectors
    * (a path list cannot express read-time merges — the same restriction
    * Delta documents for DV tables): compact first. Regenerates from
    * scratch each call (stale partition manifests are removed). Returns
    * the manifest-relative partition dirs written. */
  def generateManifest(): Seq[String] = {
    val live = liveFiles(None)
    require(!live.exists(_.log),
      "manifest generation needs a compacted table: MoR logs cannot be " +
        "expressed as a path list — run compact() first")
    require(live.forall(_.dv.isEmpty),
      "manifest generation cannot express deletion vectors — compact() first")
    val fsys = new Path(path).getFileSystem(conf)
    val manifestRoot = new Path(path, "_symlink_format_manifest")
    if (fsys.exists(manifestRoot)) fsys.delete(manifestRoot, true)
    // era-aware dir naming: each file's manifest entry sits under the
    // partition dir it was PHYSICALLY written with (after a partition
    // evolution, old-era files keep their own column's dirs — external
    // engines read the same layout the filesystem shows)
    val groups = live.groupBy { a =>
      (if (spec.partition.isDefined) partitionColOf(a) else None)
        .flatMap(c => a.partitionValue.map(v => s"$c=$v")).getOrElse("")
    }
    groups.toSeq.sortBy(_._1).map { case (rel, acts) =>
      val dir = if (rel.isEmpty) manifestRoot else new Path(manifestRoot, rel)
      fsys.mkdirs(dir)
      val body = acts.map { a =>
        val base = a.base.getOrElse(dataDir)
        fsys.makeQualified(new Path(s"$base/${a.path}")).toString
      }.sorted.mkString("", "\n", "\n")
      val out = fsys.create(new Path(dir, "manifest"), true)
      out.write(body.getBytes("UTF-8"))
      out.close()
      rel
    }
  }

  /** Delta Lake PROTOCOL interop export: write a `_delta_log/` snapshot
    * (version 00000000000000000000.json, newline-delimited actions —
    * protocol v1/v2, metaData with the Spark schema JSON Delta itself
    * uses as `schemaString`, one `add` per live file with relative
    * URI-encoded path + partitionValues + size) so ANY Delta reader
    * (delta-rs, DuckDB's delta extension, Spark with delta jars, Trino)
    * can query the committed snapshot in place — no copy, the same
    * parquet files. The export is a static snapshot (regenerated per
    * call), the complement of the symlink manifest for engines that speak
    * Delta rather than Hive symlink tables.
    *
    * Same expressibility refusals as the manifest (MoR logs, DVs —
    * compact first), plus: column mapping (files store physical names the
    * exported logical schema would not match), shallow-clone/convert
    * references (Delta add paths must resolve under THIS table root; deep
    * clone first), and mixed partition eras (one declared
    * partitionColumns list cannot describe two layouts — compact
    * migrates). Deterministic apart from file modification times: the
    * table id derives from the path, createdTime from commit 0. Returns
    * the log file path. */
  def generateDeltaLog(): String = {
    val live = liveFiles(None)
    require(!live.exists(_.log),
      "delta-log export needs a compacted table (MoR logs) — run compact() first")
    require(live.forall(_.dv.isEmpty),
      "delta-log export cannot express deletion vectors — compact() or reorgPurge() first")
    require(spec.columnMap.isEmpty,
      "delta-log export of a column-mapped table would mismatch physical names")
    require(live.forall(_.base.isEmpty),
      "delta-log export needs self-contained files (shallow clone/convert) — compact() first")
    require(!mixedPartitionEras(live, spec),
      "delta-log export needs a single partition layout — compact() after partition evolution")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def obj() = mapper.createObjectNode()
    val fsys = new Path(path).getFileSystem(conf)
    // batch one listing per parent dir for (size, modificationTime)
    val statCache = scala.collection.mutable.HashMap.empty[String, Map[String, (Long, Long)]]
    def statOf(rel: String): (Long, Long) = {
      val abs = new Path(s"$dataDir/$rel")
      val dir = abs.getParent.toString
      statCache.getOrElseUpdate(dir, {
        fsys.listStatus(abs.getParent)
          .map(s => s.getPath.getName -> (s.getLen, s.getModificationTime)).toMap
      }).getOrElse(abs.getName, (0L, 0L))
    }
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    val protocol = obj()
    protocol.putObject("protocol").put("minReaderVersion", 1).put("minWriterVersion", 2)
    lines += mapper.writeValueAsString(protocol)
    val meta = obj()
    val md = meta.putObject("metaData")
    md.put("id", java.util.UUID.nameUUIDFromBytes(path.getBytes("UTF-8")).toString)
    md.putObject("format").put("provider", "parquet").putObject("options")
    md.put("schemaString", schema.json)
    val pcols = md.putArray("partitionColumns")
    spec.partition.foreach(pcols.add)
    md.putObject("configuration")
    md.put("createdTime",
      java.time.LocalDateTime.parse(CommitLog.read(path, 0L, conf).commitTime,
        LakeTable.TIME_FMT).toInstant(java.time.ZoneOffset.UTC).toEpochMilli)
    lines += mapper.writeValueAsString(meta)
    live.sortBy(_.path).foreach { a =>
      val add = obj()
      val n = add.putObject("add")
      val rel = s"data/${a.path}"
      n.put("path", new java.net.URI(null, null, rel, null).toASCIIString)
      val pv = n.putObject("partitionValues")
      spec.partition.foreach { p =>
        a.partitionValue match {
          case Some("__HIVE_DEFAULT_PARTITION__") | None => pv.putNull(p)
          case Some(v) => pv.put(p, v)
        }
      }
      val (len, mod) = statOf(a.path)
      n.put("size", if (a.bytes > 0) a.bytes else len)
      n.put("modificationTime", mod)
      n.put("dataChange", true)
      lines += mapper.writeValueAsString(add)
    }
    val logDir = new Path(path, "_delta_log")
    fsys.mkdirs(logDir)
    // sweep any previous export: a stale higher version would shadow ours
    fsys.listStatus(logDir).filter(_.getPath.getName.endsWith(".json"))
      .foreach(s => fsys.delete(s.getPath, false))
    val target = new Path(logDir, f"${0L}%020d.json")
    val out = fsys.create(target, true)
    out.write(lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    out.close()
    target.toString
  }

  /** Iceberg-protocol snapshot export — `metadata/v1.metadata.json` +
    * manifest-list/manifest avro per the PUBLIC Iceberg v1 spec, so any
    * Iceberg reader queries the committed snapshot in place (the UniForm
    * idea; [[graft.lake.IcebergExport]] for the format details). SQL:
    * `GENERATE iceberg_metadata FOR TABLE t`. Returns the metadata.json
    * path. Refusals mirror [[generateDeltaLog]] (MoR logs, DVs, column
    * mapping, external file references, mixed partition eras). */
  def generateIcebergMetadata(): String = IcebergExport.write(this, conf)

  /** Physically delete files not live in the `retainVersions` most recent
    * versions (M1) — or, when `retainHours` is set, not live in any version
    * committed within that many hours of the latest commit (Delta's
    * `RETAIN n HOURS` knob, the retention operators actually set). Time
    * travel before the horizon stops working — same trade as Delta VACUUM
    * (`/root/reference/README.md:1240`). `dryRun` (Delta `VACUUM … DRY
    * RUN`) enumerates without deleting. Returns the table-relative paths
    * deleted (or, dry, WOULD be deleted) — driver metadata + one listing,
    * the same work the destructive pass does. */
  /** Hudi savepoint analog: pin version `v` against vacuum — its
    * snapshot's files survive cleaning regardless of the retention
    * window, so `read(Some(v))` / `restore(v)` keep working for as long
    * as the pin exists. Metadata-only commit; the pin set rides the
    * commit log denormalized (like `txn`), OCC-safe. */
  def savepoint(v: Long): LakeTable = retrying { s =>
    require(v >= 0 && v <= s.version, s"no version $v to savepoint")
    val cur = s.commit.savepoints
    if (cur.contains(v)) return this
    writeCommit(s, "savepoint", savepoints = Some((cur :+ v).sorted)) { (_, _) => Seq.empty }
  }

  /** Drop a savepoint pin: the version's files become reclaimable the
    * moment they leave the normal retention window. */
  def releaseSavepoint(v: Long): LakeTable = retrying { s =>
    val cur = s.commit.savepoints
    require(cur.contains(v), s"no savepoint at version $v")
    writeCommit(s, "release_savepoint",
      savepoints = Some(cur.filterNot(_ == v))) { (_, _) => Seq.empty }
  }

  /** Currently pinned versions. */
  def savepoints: Seq[Long] = snapshot().commit.savepoints

  def vacuum(retainVersions: Int = 1, retainHours: Option[Double] = None,
      orphanGraceHours: Double = 1.0, dryRun: Boolean = false): Seq[String] = {
    val s = snapshot()
    val latest = s.version
    val horizon = retainHours match {
      case Some(h) =>
        // commit times are fixed-width UTC "yyyyMMddHHmmssSSS": lexicographic
        // order == chronological, so the cutoff is a string compare
        val cs = s.history
        val latestTime = java.time.LocalDateTime.parse(
          cs.map(_.commitTime).max, LakeTable.TIME_FMT)
        val cutoff = latestTime.minusNanos((h * 3600e9).toLong).format(LakeTable.TIME_FMT)
        cs.filter(_.commitTime >= cutoff).map(_.version)
          .minOption.map(v => math.min(v, latest)).getOrElse(latest)
      case None => math.max(0L, latest - (retainVersions - 1))
    }
    // savepointed snapshots survive regardless of the retention window
    val pinned = s.commit.savepoints.filter(v => v >= 0 && v < horizon)
    val retained = ((horizon to latest) ++ pinned).map(v => s.at(v).live)
    val keep: Set[String] = retained.flatten.map(_.path).toSet
    // DV sidecar dirs referenced by any retained snapshot must survive;
    // relative refs only (absolute ones belong to another table)
    val keepDv: Set[String] =
      retained.flatten.flatMap(_.dv).filterNot(_.startsWith("/")).toSet
    // files some commit once referenced: superseded data, safe to drop the
    // moment they leave the retained window. A file NO commit ever added is
    // an attempt dir — possibly a CONCURRENT writer's in-flight files, so
    // it only goes once it is older than the orphan grace (multi-writer
    // safety; the same reason Delta vacuums with a retention check).
    val allAdds = s.history.flatMap(_.add)
    val everAdded: Set[String] =
      allAdds.filter(_.base.isEmpty).map(_.path).toSet
    val everDv: Set[String] =
      allAdds.flatMap(_.dv).filterNot(_.startsWith("/")).toSet
    val orphanCutoff = System.currentTimeMillis() - (orphanGraceHours * 3600e3).toLong
    val fs = new Path(dataDir).getFileSystem(conf)
    val root = new Path(dataDir)
    val doomed = scala.collection.mutable.ArrayBuffer.empty[String]
    def drop(p: Path, rel: String): Unit = {
      doomed += rel
      if (!dryRun) { fs.delete(p, false); () }
    }
    if (fs.exists(root)) {
      val it = fs.listFiles(root, true)
      while (it.hasNext) {
        val f = it.next()
        // LAST occurrence, matching substring_index(input_file_name(),
        // "/data/", -1) in detection — a table path containing "/data/"
        // must not shift the relative path
        val rel = f.getPath.toString.split("/data/").last
        def stale = f.getModificationTime < orphanCutoff
        // DV sidecars first (they are .parquet too): swept per DIR — a
        // referenced dir survives whole, a superseded one goes the moment
        // it leaves the window, an unknown one waits out the orphan grace
        if (rel.startsWith(s"$DV_DIR/")) {
          val dvDir = rel.split("/").take(2).mkString("/")
          if (!keepDv.contains(dvDir) && (everDv.contains(dvDir) || stale))
            drop(f.getPath, rel)
        }
        else if (f.getPath.getName.endsWith(".parquet") && !keep.contains(rel)) {
          if (everAdded.contains(rel) || stale) drop(f.getPath, rel)
        }
        // bloom sidecar goes with its data file (same in-flight guard);
        // column sidecars (`<rel>.<col>.bf`) strip their column segment
        else if (rel.startsWith(".blooms/")) {
          val raw = rel.stripPrefix(".blooms/").stripSuffix(".bf")
          val cut = raw.lastIndexOf(".parquet")
          val dataRel = if (cut >= 0) raw.substring(0, cut + ".parquet".length) else raw
          if (!keep.contains(dataRel) && (everAdded.contains(dataRel) || stale))
            drop(f.getPath, rel)
        }
        // write-id claim markers of dirs that no longer exist
        else if (rel.startsWith(".claims/")) {
          val dir = rel.stripPrefix(".claims/")
          if (!fs.exists(new Path(s"$dataDir/$dir")) && stale)
            drop(f.getPath, rel)
        }
      }
    }
    doomed.toSeq
  }

  /** Delta `FSCK REPAIR TABLE` analog: drop commit-log references to live
    * files whose PHYSICAL data is missing on storage (external deletion,
    * partial restore, lost bucket object) so the table reads again —
    * losing exactly the missing rows instead of failing every query. A
    * file whose DELETION-VECTOR sidecar is gone is dropped too: serving
    * it without the DV would resurrect deleted rows, strictly worse than
    * honest absence. Existence checks batch ONE `listStatus` per parent
    * dir (never one RPC per file), so the repair costs ∝ directory
    * count. `dryRun` reports without committing. Returns the dropped
    * references. History is untouched — time travel to versions whose
    * files still exist keeps working. */
  def repair(dryRun: Boolean = false): Seq[String] = retrying { s =>
    val dirCache = scala.collection.mutable.HashMap.empty[String, Set[String]]
    def names(dir: Path): Set[String] = dirCache.getOrElseUpdate(dir.toString, {
      val f = dir.getFileSystem(conf)
      if (!f.exists(dir)) Set.empty
      else f.listStatus(dir).map(_.getPath.getName).toSet
    })
    def present(abs: Path): Boolean = names(abs.getParent).contains(abs.getName)
    def dvIntact(a: FileAction): Boolean = a.dv.forall { d =>
      names(new Path(dvRoot(d))).exists(_.endsWith(".parquet"))
    }
    val missing = s.live.filter(a =>
      !present(new Path(s"${a.base.getOrElse(dataDir)}/${a.path}")) || !dvIntact(a))
    if (missing.nonEmpty && !dryRun)
      writeCommit(s, "fsck") { (_, _) =>
        Seq(WriteResult(Seq.empty, missing.map(_.path)))
      }
    missing.map(_.path)
  }

  /** Shallow clone (Delta `CREATE TABLE … SHALLOW CLONE` analog): a new
    * table at `targetPath` whose bootstrap commit REFERENCES this table's
    * live files — zero data copied, metadata-only, O(file count). Writes to
    * the clone diverge copy-on-write: touched source files are rewritten
    * INTO THE CLONE's own data dir, the source is never modified. The
    * clone's history starts at this table's current version so its write
    * ids stay above every referenced file's (the dedup tiebreak ordering).
    *
    * Caveat (same as Delta's): VACUUM on the SOURCE can remove files a
    * clone still references — clones are for experiments/short-lived forks,
    * or compact() the clone to make it self-contained. */
  def cloneTo(targetPath: String, asOf: Option[Long] = None): LakeTable = {
    require(CommitLog.latestVersion(targetPath, conf).isEmpty,
      s"table exists at $targetPath")
    CommitLog.invalidateTable(targetPath)
    // a source file that is itself external (clone of a clone / of a
    // converted table) keeps its own base
    val s = snapshot(asOf)
    val refs = s.live.map(a => a.copy(
      base = a.base.orElse(Some(dataDir)),
      // DV refs cross the table boundary too: absolutize relative ones
      dv = a.dv.map(dvRoot)))
    val bootVersion = asOf.getOrElse(s.version)
    CommitLog.write(targetPath,
      Commit(bootVersion, LakeTable.commitTimeNow(), "clone",
        s.schema.json, spec, refs, Seq.empty,
        // identity never restarts on a clone: carry the source's marks
        identityHigh = CommitLog.read(path, bootVersion, conf).identityHigh), conf)
    new LakeTable(spark, targetPath)
  }

  /** Delta `CREATE TABLE t DEEP CLONE s` analog: a fully independent copy
    * of the snapshot — unlike [[cloneTo]] (shallow), vacuuming or dropping
    * the source can never break a deep clone.
    *
    * Fast path: byte-level file copies distributed over the executors (an
    * IO-bound distcp, no decode/encode — compression, clustering, Z-order
    * and bucket layout survive exactly), with every commit-log stat
    * (key ranges, column stats, row/byte counts, partition values, bloom
    * sidecars) carried over verbatim — at 100 TB nothing is recomputed.
    * The copy is only provably sound when every live file carries the
    * snapshot schema and no DV is outstanding (the clone's single-commit
    * log cannot express per-file schemas or cross-table DV refs), so
    * evolved/DV'd/foreign-based snapshots fall back to a REWRITE
    * materialization (`read(asOf)` + bulk create) — always correct, costs
    * one decode/encode pass, and collapses MoR logs and DVs into clean
    * base files as a side effect. */
  def deepCloneTo(targetPath: String, asOf: Option[Long] = None): LakeTable = {
    require(CommitLog.latestVersion(targetPath, conf).isEmpty,
      s"table exists at $targetPath")
    CommitLog.invalidateTable(targetPath)
    val s = snapshot(asOf)
    val snapSchema = s.schema
    val snapSpec = s.spec
    val uniform = s.live.forall(a =>
      a.base.isEmpty && a.dv.isEmpty && a.path.startsWith(s"$WRITE_ID=")) && {
      val versions = s.live.map(_.path.takeWhile(_ != '/').drop(WRITE_ID.length + 1))
        .flatMap(_.toLongOption).map(_ / LakeTable.WRITE_SLOTS).distinct
      versions.map(v => CommitLog.read(path, v, conf).schemaJson).distinct
        .forall(_ == snapSchema.json)
    }
    if (!uniform) {
      // rewrite materialization: bulk create from the merged snapshot
      // (logs folded, DVs applied, logical column names restored; a
      // bucketed spec hands partition=None back — create re-derives it)
      val clean = snapSpec.copy(columnMap = Map.empty,
        partition = if (snapSpec.buckets > 0) None else snapSpec.partition)
      // read() prepends META_COLS; create() stamps its own — drop them here
      // or the clone's committed schema would carry duplicates
      val snap = read(asOf)
      val data = snap.select(
        snap.columns.filterNot(LakeTable.META_COLS.contains).map(col): _*)
      // identity fidelity: the materialized rows KEEP their assigned ids
      // (and the source's high-water marks), they are not re-drawn
      return LakeTable.create(spark, targetPath, clean, data, bulkInsert = true,
        presetIdentityHigh =
          CommitLog.read(path, asOf.getOrElse(s.version), conf).identityHigh)
    }
    val version = 0L
    val wid = version * LakeTable.WRITE_SLOTS
    val widDir = s"$WRITE_ID=$wid"
    // new leaf names carry a per-file ordinal: two source write dirs may
    // hold identically-named part files, and the copies share one dir
    val copies = s.live.zipWithIndex.map { case (a, i) =>
      val relNoV = a.path.dropWhile(_ != '/').drop(1)
      val (dirs, leaf) = relNoV.lastIndexOf('/') match {
        case -1 => ("", relNoV)
        case cut => (relNoV.substring(0, cut + 1), relNoV.substring(cut + 1))
      }
      (a, s"$dataDir/${a.path}", s"$widDir/${dirs}c$i-$leaf")
    }
    val sconf = new org.apache.spark.util.SerializableConfiguration(conf)
    val tgtData = s"$targetPath/data"
    val bloomSrcs = copies.map { case (a, src, _) =>
      s"$dataDir/.blooms/${a.path}.bf"
    }
    spark.sparkContext
      .parallelize(copies.map { case (_, s, d) => (s, d) }.zip(bloomSrcs),
        math.max(1, math.min(copies.size, 32)))
      .foreach { case ((src, dstRel), bloomSrc) =>
        val c = sconf.value
        val srcP = new Path(src)
        val fs = srcP.getFileSystem(c)
        val dstP = new Path(s"$tgtData/$dstRel")
        org.apache.hadoop.fs.FileUtil.copy(fs, srcP,
          dstP.getFileSystem(c), dstP, false, c)
        val bp = new Path(bloomSrc)
        if (fs.exists(bp)) {
          val bDst = new Path(s"$tgtData/.blooms/$dstRel.bf")
          org.apache.hadoop.fs.FileUtil.copy(fs, bp,
            bDst.getFileSystem(c), bDst, false, c)
        }
      }
    val adds = copies.map { case (a, _, dstRel) =>
      a.copy(path = dstRel, base = None)
    }
    CommitLog.write(targetPath,
      Commit(version, LakeTable.commitTimeNow(), "deepClone",
        snapSchema.json, snapSpec, adds, Seq.empty,
        identityHigh = CommitLog.read(path, asOf.getOrElse(s.version), conf).identityHigh),
      conf)
    new LakeTable(spark, targetPath)
  }

  /** Delta `DESCRIBE HISTORY` analog: one row per commit, newest first. */
  def history: DataFrame = {
    import spark.implicits._
    commits.sortBy(-_.version).map { c =>
      (c.version, c.commitTime, c.operation,
        c.add.size.toLong, c.remove.size.toLong, c.add.map(_.rows).sum)
    }.toDF("version", "commit_time", "operation",
      "n_added_files", "n_removed_files", "n_added_rows")
  }

  /** Delta `RESTORE TABLE … TO VERSION AS OF v` analog: a new commit whose
    * live set (and schema) is exactly version `v`'s — no data is copied,
    * the old files are re-referenced (they must not have been vacuumed).
    * History is preserved: the restore is itself a commit, and time travel
    * to the versions in between still works.
    *
    * Limitation: because restore re-references rows with their ORIGINAL
    * commit times, `incremental`/`changes`/streaming consumers do NOT see
    * the restore as row changes (its rows predate the window) — after a
    * restore, downstream consumers should re-sync from a snapshot, as with
    * Delta's RESTORE + CDF. */
  def restore(v: Long): LakeTable = retrying { s =>
    require(v >= 0 && v <= s.version, s"no version $v to restore")
    val old = s.at(v)
    val target = old.live
    val targetPaths = target.map(_.path).toSet
    val current = s.live.map(_.path).toSet
    // restoring across a partition evolution also restores the partition
    // SPEC — the restored files carry that era's layout, and new writes
    // should land beside them, not under a layout the snapshot predates
    val restoredSpec =
      if (old.spec.partition != s.spec.partition)
        Some(s.spec.copy(partition = old.spec.partition))
      else None
    writeCommit(s, "restore", newSchema = Some(old.schema),
      newSpec = restoredSpec) { (_, _) =>
      Seq(WriteResult(
        add = target.filterNot(a => current.contains(a.path)),
        remove = (current -- targetPaths).toSeq))
    }
  }

  /** Additive schema evolution WITHOUT data (the `ALTER TABLE ADD COLUMNS`
    * path): a schema-only commit widens the declared schema; existing files
    * simply surface nulls for the new columns at read (readFiles plans with
    * the declared schema, no footer merging). A re-added name whose
    * physical field was used before (dropped or renamed away) gets a FRESH
    * physical mapping, so old on-disk values never resurface. */
  def addColumns(fields: Seq[StructField]): LakeTable =
    addColumns(fields, Map.empty)

  /** `ALTER TABLE … ADD COLUMNS` with optional per-column DEFAULTs — the
    * Delta existence-default semantics: a default given HERE applies in
    * BOTH directions, still without rewriting a byte:
    *
    *   - rows in files that PREDATE the column read the default instead
    *     of null (the "existence default", frozen at add time — the read
    *     paths know per file, from its commit's schema, whether the
    *     column is physically present);
    *   - later writes that OMIT the column stamp it ([[TableSpec.defaults]]);
    *   - a genuine NULL written after the add STAYS null — only
    *     physically-absent columns fill.
    *
    * The expression must fold to a constant (validated here). Tables with
    * foreign-base files (shallow clones of converted tables, convert-in-
    * place) refuse: those files' physical columns aren't described by a
    * commit schema, so "absent" would be a guess. */
  def addColumns(fields: Seq[StructField],
      defaults: Map[String, String]): LakeTable = retrying { s =>
    val declared = s.schema
    val dup = fields.map(_.name).filter(n => declared.fieldNames.exists(_.equalsIgnoreCase(n)))
    require(dup.isEmpty, s"columns already exist: ${dup.mkString(",")}")
    defaults.keys.foreach { c =>
      require(fields.exists(_.name.equalsIgnoreCase(c)),
        s"DEFAULT given for '$c', which is not among the added columns")
    }
    if (defaults.nonEmpty) {
      require(s.live.forall(_.base.isEmpty),
        "existence defaults need per-file commit schemas; this table has " +
          "foreign-base files (clone/convert) whose columns are undeclared")
      // the default must be a constant: evaluate it once now, loudly
      defaults.foreach { case (c, e) =>
        val dt = fields.find(_.name.equalsIgnoreCase(c)).get.dataType
        spark.range(1).select(expr(e).cast(dt)).head()
      }
    }
    val used = usedPhysicalNames(s)
    val remap = fields.flatMap { f =>
      if (!used.contains(f.name)) None
      else {
        var i = 1
        while (used.contains(s"${f.name}_$i")) i += 1
        Some(f.name -> s"${f.name}_$i")
      }
    }.toMap
    val newSpec0 =
      if (remap.isEmpty && defaults.isEmpty) None
      else Some(s.spec.copy(
        columnMap = s.spec.columnMap ++ remap,
        defaults = s.spec.defaults ++ defaults,
        existenceDefaults = s.spec.existenceDefaults ++ defaults))
    writeCommit(s, "evolve",
      newSchema = Some(StructType(declared.fields ++ fields.map(_.copy(nullable = true)))),
      newSpec = newSpec0) {
      (_, _) => Seq.empty
    }
  }

  /** Every PHYSICAL parquet field name any version of this table ever
    * wrote or declared — the collision set for fresh-name assignment. */
  private def usedPhysicalNames(s: Snapshot): Set[String] =
    s.history.flatMap { c =>
      val fields = DataType.fromJson(c.schemaJson).asInstanceOf[StructType].fieldNames
      fields.map(f => c.spec.columnMap.getOrElse(f, f)) ++ c.spec.columnMap.values
    }.toSet

  /** Guard for metadata-only column ops: the key/precombine/partition
    * columns anchor file layout, footer stats, and bloom sidecars; a
    * statsColumns entry anchors data-skipping metadata; a CHECK constraint
    * references columns by name in SQL text. All would silently break
    * under a rename, so they are rejected (Delta blocks these the same
    * way). */
  private def requireMappable(spec: TableSpec, n: String, op: String): Unit = {
    require(!n.equalsIgnoreCase(spec.key) && !n.equalsIgnoreCase(spec.precombine),
      s"cannot $op the key/precombine column '$n'")
    require(!spec.partition.exists(_.equalsIgnoreCase(n)),
      s"cannot $op the partition column '$n'")
    require(!spec.statsColumns.exists(_.equalsIgnoreCase(n)),
      s"cannot $op data-skipping stats column '$n'")
    require(!spec.sumColumns.exists(_.equalsIgnoreCase(n)),
      s"cannot $op sum-stats column '$n'")
    require(!spec.constraints.exists(_._2.toLowerCase.contains(n.toLowerCase)),
      s"cannot $op '$n': referenced by a CHECK constraint")
    require(!spec.identity.keys.exists(_.equalsIgnoreCase(n)),
      s"cannot $op identity column '$n'")
    require(!spec.defaults.keys.exists(_.equalsIgnoreCase(n)),
      s"cannot $op column '$n': it carries a DEFAULT — drop the default first")
  }

  /** `ALTER TABLE … RENAME COLUMN old TO new` — METADATA-ONLY (Delta
    * column-mapping analog): the declared schema renames the field and the
    * column map pins the new logical name to the column's original
    * physical field, so not a byte of data moves. Time travel before the
    * rename still surfaces the old name. */
  def renameColumn(oldName: String, newName: String): LakeTable = retrying { s =>
    val declared = s.schema
    require(declared.fieldNames.contains(oldName), s"no column '$oldName'")
    require(!declared.fieldNames.exists(_.equalsIgnoreCase(newName)),
      s"column '$newName' already exists")
    requireMappable(s.spec, oldName, "rename")
    val phys = s.spec.physical(oldName)
    val renamed = StructType(declared.fields.map(f =>
      if (f.name == oldName) f.copy(name = newName) else f))
    writeCommit(s, "rename_column", newSchema = Some(renamed),
      newSpec = Some(s.spec.copy(columnMap = s.spec.columnMap - oldName + (newName -> phys)))) {
      (_, _) => Seq.empty
    }
  }

  /** `ALTER TABLE … DROP COLUMN` — METADATA-ONLY: the field leaves the
    * declared schema and the map; the physical data stays on disk,
    * unreferenced (and time-travelable), exactly like Delta's drop under
    * column mapping. Re-adding the same name later maps to a fresh
    * physical field ([[addColumns]]), never the dropped data. */
  def dropColumn(name: String): LakeTable = retrying { s =>
    val declared = s.schema
    require(declared.fieldNames.contains(name), s"no column '$name'")
    require(declared.fields.length > 1, "cannot drop the last column")
    requireMappable(s.spec, name, "drop")
    writeCommit(s, "drop_column",
      newSchema = Some(StructType(declared.fields.filterNot(_.name == name))),
      newSpec = Some(s.spec.copy(columnMap = s.spec.columnMap - name))) {
      (_, _) => Seq.empty
    }
  }

  /** Delta TYPE WIDENING analog (`ALTER TABLE … ALTER COLUMN c TYPE t`):
    * a METADATA-ONLY commit widens the declared type — no file is
    * rewritten, ever. Sound because Spark 4's parquet reader up-converts
    * narrower physical types to the requested read schema natively
    * (int32→long, float→double, decimal re-scale), so old files keep
    * their narrow encoding while reads and new writes use the wide type;
    * per-file stats (key ranges, colStats strings, DECIMAL(38) colSums)
    * are representation-independent and stay valid.
    *
    * Allowed: integral up-chain (byte→short→int→long), float→double,
    * decimal with non-decreasing scale AND integer capacity, integral→
    * decimal with enough integer digits — exactly the value-preserving
    * set; anything lossy (narrowing, long→double, →string) refuses.
    * The record key of a BUCKETED table refuses: `hash(5)` ≠ `hash(5L)`
    * in Spark's Murmur3, so widening would silently re-bucket new writes
    * away from existing rows. */
  def widenColumn(name: String, to: DataType): LakeTable = retrying { s =>
    val declared = s.schema
    require(declared.fieldNames.contains(name), s"no column '$name'")
    require(!s.spec.identity.keys.exists(_.equalsIgnoreCase(name)),
      s"cannot widen identity column '$name'")
    require(s.spec.buckets == 0 || !name.equalsIgnoreCase(s.spec.key),
      "cannot widen the record key of a bucketed table: the bucket hash is type-dependent")
    val from = declared(name).dataType
    require(LakeTable.widens(from, to),
      s"ALTER COLUMN $name TYPE: ${from.simpleString} -> ${to.simpleString} is not a lossless widening")
    writeCommit(s, "widen_column",
      newSchema = Some(StructType(declared.fields.map(f =>
        if (f.name == name) f.copy(dataType = to) else f)))) { (_, _) => Seq.empty }
  }

  /** Hive-sync analog (S12/S13): register snapshot views in the session
    * catalog — `<name>` for CoW, `<name>_ro`/`<name>_rt` for MoR. */
  def registerViews(name: String): LakeTable = {
    if (spec.mor) {
      readOptimized().createOrReplaceTempView(name + "_ro")
      realtime().createOrReplaceTempView(name + "_rt")
    } else read().createOrReplaceTempView(name)
    this
  }

  // ---- internals -------------------------------------------------------

  /** Reorder/validate an incoming batch against the declared schema.
    * Extra columns: rejected unless `mergeSchema`, in which case they are
    * appended to the declared schema (additive evolution only — drops and
    * type changes are not supported). Returns the conformed batch and the
    * widened schema when evolution happened. */
  private def conform(s: Snapshot, df0: DataFrame,
      mergeSchema: Boolean = false): (DataFrame, Option[StructType]) = {
    val spec = s.spec
    // bucketed tables: (re)stamp the stored bucket id from the key — always
    // recomputed, so a caller-supplied value can never mis-place a row.
    // Hash at the DECLARED key type: Murmur3(Int) != Murmur3(Long), and
    // read-side bucketSkip evaluates the probe literal at the declared
    // type, so a narrower-typed incoming key (Scala Int into a BIGINT
    // column) must be cast BEFORE hashing or write layout and read-time
    // bucket pruning disagree — silent missing rows on point lookups.
    val dfB =
      if (spec.buckets > 0) {
        val keyExpr = s.schema.fields.find(_.name.equalsIgnoreCase(spec.key))
          .map(f => col(spec.key).cast(f.dataType)).getOrElse(col(spec.key))
        df0.withColumn(TableSpec.BUCKET_COL,
          pmod(hash(keyExpr), lit(spec.buckets)))
      } else df0
    // generated columns: stamp when omitted, validate when supplied
    val dfG = GeneratedCols(dfB, spec.generated)
    // column DEFAULTs: an OMITTED column takes its default expression; a
    // supplied one (nulls included) passes through untouched
    val df = spec.defaults.foldLeft(dfG) { case (acc, (c, e)) =>
      if (acc.columns.exists(_.equalsIgnoreCase(c))) acc
      else acc.withColumn(c, expr(e))
    }
    val declared = s.schema
    val have = df.columns.toSet
    val missing = declared.fieldNames.filterNot(have)
    require(missing.isEmpty, s"incoming batch missing columns: ${missing.mkString(",")}")
    val extras = df.schema.fields.filterNot(f => declared.fieldNames.contains(f.name))
    val out =
      if (extras.isEmpty)
        (df.select(declared.fields.map(f => col(f.name).cast(f.dataType).as(f.name)).toSeq: _*), None)
      else if (!mergeSchema)
        throw new IllegalArgumentException(
          s"incoming batch has columns not in the table schema: " +
            s"${extras.map(_.name).mkString(",")}; pass mergeSchema=true to evolve additively")
      else {
        // a dropped/renamed-away column's physical name must not be
        // silently reused — the old on-disk values would resurface. The
        // addColumns path assigns a fresh physical mapping instead.
        val retired = usedPhysicalNames(s) -- declared.fieldNames.map(spec.physical)
        extras.foreach(f => require(!retired.contains(f.name),
          s"column '${f.name}' was dropped or renamed away; re-add it via addColumns"))
        val widened = StructType(declared.fields ++ extras)
        (df.select(widened.fields.map(f => col(f.name).cast(f.dataType).as(f.name)).toSeq: _*),
          Some(widened))
      }
    checkConstraints(s, out._1)
    out
  }

  /** Enforce every CHECK constraint over an incoming batch in ONE aggregate
    * pass (SQL CHECK semantics: NULL passes, only definitively-FALSE rows
    * violate). Violations name the constraint, like Delta's error. */
  private def checkConstraints(s: Snapshot, df: DataFrame): Unit = {
    val cons = s.spec.constraints
    if (cons.isEmpty) return
    val names = cons.keys.toSeq
    val aggs = names.map { n =>
      max(when(!coalesce(expr(cons(n)), lit(true)), lit(1)).otherwise(lit(0))).as(n)
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val violated = names.zipWithIndex
      .filter { case (_, i) => !row.isNullAt(i) && row.getInt(i) == 1 }.map(_._1)
    if (violated.nonEmpty) throw new IllegalArgumentException(
      "CHECK constraint violated by the incoming batch: " +
        violated.map(n => s"$n CHECK (${cons(n)})").mkString("; "))
  }

  /** Next-unallocated high-water mark of one identity column: the latest
    * commit's denormalized mark, or `start - step` before any allocation. */
  private def identityHighOf(s: Snapshot, c: String): Long =
    s.commit.identityHigh.getOrElse(c, {
      val d = s.spec.identity(c); d.start - d.step
    })

  /** Stamp every GENERATED ALWAYS AS IDENTITY column onto an incoming
    * batch and return the updated high-water marks to commit.
    *
    * Semantics (Delta MERGE parity, re-expressed for a keyed table):
    * identity is 1:1 with the RECORD KEY — an upsert's existing keys keep
    * their current ids (`freshForAll = false`; MERGE UPDATE never touches
    * the column), new keys draw the next ones (MERGE INSERT). Overwrite
    * paths (`freshForAll = true`) re-id every incoming key: the replaced
    * rows are gone and ids are never reused, exactly like a Delta
    * overwrite of an identity table. A supplied identity column is
    * rejected (ALWAYS), except all-null — SQL `INSERT` paths materialize
    * omitted columns as nulls — which is treated as absent.
    *
    * Determinism: new keys are ranked by md5(key) via the two-phase
    * 256-bucket plan (bucket counts → driver prefix offsets → per-bucket
    * window ≈ 1/256th of the batch each; no global window), and
    * `id = high + step · (rank+1)`. The order is content-defined, so
    * reruns of the same batch against the same snapshot allocate
    * identically — and a DuckDB oracle can replay the whole assignment.
    *
    * Scale shape: the existing-key lookup reads only pruned candidate
    * files (partition/key-range/bloom — the upsert's own detection scan),
    * so cost follows the batch and its matching files, never the table.
    * MoR snapshots with live logs look up through the realtime merge (a
    * tombstoned key must re-draw, not resurrect its old id). */
  private def stampIdentity(s: Snapshot, df0: DataFrame,
      freshForAll: Boolean): (DataFrame, Map[String, Long]) = {
    val ids = s.spec.identity
    if (ids.isEmpty) return (df0, Map.empty)
    // ALWAYS: a caller-supplied identity column must be absent or all-null
    val supplied = df0.columns.filter(c => ids.keys.exists(_.equalsIgnoreCase(c)))
    val df = if (supplied.isEmpty) df0 else {
      val aggs = supplied.map(c => max(when(col(c).isNotNull, 1).otherwise(0)).as(c))
      val row = df0.agg(aggs.head, aggs.tail.toSeq: _*).head()
      supplied.zipWithIndex.foreach { case (c, i) =>
        require(row.isNullAt(i) || row.getInt(i) == 0,
          s"column '$c' is GENERATED ALWAYS AS IDENTITY and cannot be supplied")
      }
      df0.drop(supplied.toSeq: _*)
    }
    val key = s.spec.key
    val keys = df.select(col(key)).filter(col(key).isNotNull).distinct()
    val live = if (freshForAll) Seq.empty else s.live
    val existing =
      if (live.isEmpty) None
      else {
        val uniq = candidateRows(s, df.select(col(key)))
          .select((key +: ids.keys.toSeq).map(col): _*)
          .join(keys, Seq(key), "left_semi")
          .groupBy(key)
          .agg(ids.keys.toSeq.map(c => max(col(c)).as(c)).head,
            ids.keys.toSeq.map(c => max(col(c)).as(c)).tail: _*)
        Some(uniq)
      }
    val newKeys = existing.fold(keys)(e =>
      keys.join(e.select(key), Seq(key), "left_anti"))
    // two-phase deterministic rank of the new keys (md5-of-key order)
    val tagged = newKeys
      .withColumn("_idh", md5(col(key).cast("string")))
      .withColumn("_idb", conv(substring(col("_idh"), 1, 2), 16, 10).cast("int"))
    val perBucket = tagged.groupBy("_idb").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    val total = perBucket.values.sum
    val offsets = (0 until 256).scanLeft(0L)((acc, b) => acc + perBucket.getOrElse(b, 0L))
    val offsetOf = typedLit((0 until 256).map(b => b -> offsets(b)).toMap)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("_idb").orderBy(col("_idh").asc, col(key).asc)
    val ranked = tagged.withColumn("_idr",
      row_number().over(w).cast("long") - 1L + element_at(offsetOf, col("_idb")))
      .drop("_idh", "_idb")
    val highs = ids.map { case (c, _) => c -> identityHighOf(s, c) }
    val newIds = ids.foldLeft(ranked) { case (acc, (c, d)) =>
      acc.withColumn(c, lit(highs(c)) + lit(d.step) * (col("_idr") + 1L))
    }.drop("_idr")
    val mapping = existing.fold(newIds)(_.unionByName(newIds))
    val out = df.join(mapping, Seq(key), "left")
    (out, ids.map { case (c, d) => c -> (highs(c) + d.step * total) })
  }

  /** Delta `ALTER TABLE … ADD CONSTRAINT name CHECK (sql)`: existing rows
    * must already satisfy the expression; every later write re-validates
    * its batch. Metadata-only commit. */
  def addConstraint(name: String, sql: String): LakeTable = retrying { s =>
    require(!s.spec.constraints.keys.exists(_.equalsIgnoreCase(name)),
      s"constraint $name already exists")
    val bad = readAt(s).filter(!coalesce(expr(sql), lit(true))).limit(1).count()
    require(bad == 0, s"existing rows violate CHECK ($sql) — constraint not added")
    writeCommit(s, "addConstraint",
      newSpec = Some(s.spec.copy(constraints = s.spec.constraints + (name -> sql)))) {
      (_, _) => Seq.empty
    }
  }

  /** `ANALYZE TABLE … COMPUTE STATISTICS FOR COLUMNS …`: one
    * partial-aggregated pass over the snapshot computes the exact row
    * count plus per-column NDV (HLL++, like Spark's own ANALYZE) and null
    * counts, committed as a metadata-only `analyze` commit (OCC-safe).
    * Surfaced through DSv2 statistics so Catalyst's CBO estimates join
    * cardinalities — the input multi-fact join reordering needs. Default
    * = every data column; the pass is one job regardless of column count. */
  def analyze(columns: Seq[String] = Seq.empty): TableStats = retrying { s =>
    val names = if (columns.nonEmpty) columns else s.schema.fieldNames.toSeq
    names.foreach { n =>
      require(s.schema.fieldNames.exists(_.equalsIgnoreCase(n)),
        s"ANALYZE: no such column '$n'")
    }
    val aggs = names.flatMap { n =>
      Seq(approx_count_distinct(col(n)).as(s"ndv_$n"),
        coalesce(sum(when(col(n).isNull, 1L).otherwise(0L)), lit(0L)).as(s"nulls_$n"))
    }
    val row = readAt(s).agg(count(lit(1)).as("rows"), aggs: _*).head()
    val cols = names.zipWithIndex.map { case (n, i) =>
      n -> ColumnStatValues(row.getLong(1 + 2 * i), row.getLong(2 + 2 * i))
    }.toMap
    val ts = TableStats(row.getLong(0), cols)
    writeCommit(s, "analyze", tableStats = Some(ts)) { (_, _) => Seq.empty }
    ts
  }

  /** Newest `ANALYZE` stats at-or-before `asOf` (latest by default):
    * walk the commit tail backwards — reads are memoized, so this is a
    * handful of cached lookups, not a log replay. */
  def tableStats(asOf: Option[Long] = None): Option[TableStats] = tableStatsAt(snapshot(asOf))

  /** [[tableStats]] of a resolved snapshot. */
  private[graft] def tableStatsAt(s: Snapshot): Option[TableStats] =
    (s.version to 0L by -1L).iterator.flatMap(v => s.at(v).commit.tableStats).nextOption()

  /** `ALTER TABLE … SET TBLPROPERTIES` — edit the MUTABLE TableSpec knobs
    * with a metadata-only commit (OCC-safe): auto-maintenance thresholds,
    * bloom sizing, stats columns. Identity properties (key, precombine,
    * partition, buckets, mor) define the table's layout and are rejected.
    * Unknown properties are rejected loudly — a typo must not silently
    * no-op a maintenance policy. */
  def setProperties(props: Map[String, String]): LakeTable = retrying { s =>
    val next = props.foldLeft(s.spec) { case (sp, (k, v)) =>
      k.toLowerCase match {
        case "autocompactfiles" => sp.copy(autoCompactFiles = v.toInt)
        case "autocompactlogs" => sp.copy(autoCompactLogs = v.toInt)
        case "bloombitsperkey" => sp.copy(bloomBitsPerKey = v.toInt)
        case "statscolumns" => sp.copy(statsColumns =
          v.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        case "bloomcolumns" => sp.copy(bloomColumns =
          v.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        case "writesortcolumns" => sp.copy(writeSortColumns =
          v.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        case "key" | "precombine" | "partition" | "buckets" | "mor" =>
          throw new UnsupportedOperationException(
            s"table property '$k' is identity metadata and cannot be altered")
        case other => throw new IllegalArgumentException(
          s"unknown graft table property '$other' (settable: autoCompactFiles, " +
            "autoCompactLogs, bloomBitsPerKey, statsColumns, bloomColumns, " +
            "writeSortColumns)")
      }
    }
    writeCommit(s, "setProperties", newSpec = Some(next)) { (_, _) => Seq.empty }
  }

  /** Drop a named CHECK constraint (metadata-only commit). */
  def dropConstraint(name: String): LakeTable = retrying { s =>
    require(s.spec.constraints.keys.exists(_.equalsIgnoreCase(name)), s"no constraint $name")
    writeCommit(s, "dropConstraint",
      newSpec = Some(s.spec.copy(
        constraints = s.spec.constraints.filterNot(_._1.equalsIgnoreCase(name))))) {
      (_, _) => Seq.empty
    }
  }

  /** Iceberg-style PARTITION EVOLUTION: change the table's partition
    * column in a METADATA-ONLY commit — zero data files touched at any
    * table size (re-laying out a 100 TB table is exactly the rewrite this
    * exists to avoid). Files keep the physical layout of their own ERA:
    * the column a file was partitioned by is self-described by its dir
    * path ([[partitionColOf]]), stored in dirs for that era and as plain
    * data for every other, so a mixed-era table still reads every column
    * for every row — scans group per era ([[readFiles]]) and union.
    *
    * Era discipline: every `partitionValue` metadata shortcut (file
    * skipping, dynamic partition overwrite, SHOW PARTITIONS, metadata-only
    * aggregates, the v2 scan's dir-constant) is era-guarded — old-era
    * files stop qualifying for current-column shortcuts until a full
    * rewrite (compact()/zorder()) migrates them forward, Iceberg's exact
    * contract: correctness immediately, layout benefits as data churns.
    *
    * Record identity follows the SPEC: after evolution, upserts key on
    * (key, new partition column) — the values exist on every row
    * regardless of era. Refused while MoR log/tombstone files are
    * outstanding (a tombstone row carries only key + its OWN era's
    * partition value, so it could not kill base rows under the new
    * identity) — compact() first. Bucketed tables refuse (buckets ARE
    * the layout). */
  def changePartition(newPartition: Option[String]): LakeTable = retrying { s =>
    val spec = s.spec
    require(spec.buckets == 0,
      "a bucketed table's layout is its buckets — cannot re-partition")
    require(newPartition.map(_.toLowerCase) != spec.partition.map(_.toLowerCase),
      s"table is already partitioned ${spec.partition.fold("flat")(p => s"by $p")}")
    val resolved = newPartition.map { p0 =>
      val f = s.schema.fields.find(_.name.equalsIgnoreCase(p0)).getOrElse(
        throw new IllegalArgumentException(s"no column $p0 to partition by"))
      require(spec.physical(f.name) == f.name,
        s"cannot partition by renamed (column-mapped) column ${f.name}: " +
          "dir names must match the stored physical name")
      require(!(f.dataType.isInstanceOf[ArrayType] || f.dataType.isInstanceOf[MapType]
          || f.dataType.isInstanceOf[StructType] || f.dataType == BinaryType),
        s"cannot partition by ${f.name}: ${f.dataType.simpleString} has no dir encoding")
      f.name
    }
    require(!s.live.exists(_.log),
      "partition evolution with outstanding MoR log/tombstone files would " +
        "orphan their era's record identity — run compact() first")
    writeCommit(s, "changePartitioning",
      newSpec = Some(spec.copy(partition = resolved))) { (_, _) => Seq.empty }
  }

  /** A4 precombine dedup inside one batch: greatest precombine wins; ties
    * broken by a deterministic row hash so re-runs are stable. NULL record
    * keys fail loudly (Hudi errors too) — the group-by would otherwise
    * silently collapse all null-key rows into one. */
  private def dedupBatch(s: Snapshot, df: DataFrame): DataFrame =
    dedupLatest(checkedKeys(s, df), s.shape.idCols, s.spec.precombine,
      xxhash64(df.columns.map(col): _*))

  /** The loud null-record-key guard from [[dedupBatch]], standalone: the
    * upsert paths apply it to the RAW batch (the within-batch dedup is
    * folded downstream, but a null key must still fail on every path). */
  private def checkedKeys(s: Snapshot, df: DataFrame): DataFrame =
    df.filter(assert_true(col(s.spec.key).isNotNull,
      lit(s"null record key '${s.spec.key}' in incoming batch")).isNull)

  /** Is this batch plan scan-shaped — projections/filters/unions over
    * leaves, no shuffle/join/aggregate? Re-evaluating such a plan per
    * consumer is deterministic and usually CHEAPER than materializing it:
    * each consumer's evaluation column-prunes the source scan to what that
    * consumer needs (the upsert's key-only probes re-read one column), so
    * the upsert paths skip the commit-duration persist for these batches
    * (guide §5 — cache only when recompute costs more than the memory
    * pressure). Anything shuffled/joined/aggregated (or identity-stamped —
    * that plan carries windows) persists exactly as before. */
  private def isCheapRescan(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    df.queryExecution.optimizedPlan.find {
      case _: LeafNode => false
      case _: Project | _: Filter | _: Union | _: SubqueryAlias => false
      case _ => true
    }.isEmpty
  }

  private def stampMeta(s: Snapshot, df: DataFrame, commitTime: String): DataFrame = {
    val partPath = s.spec.partition.map(p => col(p).cast(StringType)).getOrElse(lit(""))
    df.withColumn("_commit_time", lit(commitTime))
      .withColumn("_commit_seqno",
        concat_ws("_", lit(commitTime), spark_partition_id().cast(StringType),
          monotonically_increasing_id().cast(StringType)))
      .withColumn("_record_key", col(s.spec.key).cast(StringType))
      .withColumn("_partition_path", partPath)
  }

  /** A keyed batch's distinct record identities (`sh.joinIdCols`), derived
    * once per write attempt and shared by every step that needs them:
    * candidate pruning, touched-file detection and the contested split.
    * Nothing runs until a step asks; then ONE job
    * ([[LakeTable.boundedDistinct]]) brings at most
    * [[LakeTable.KEY_SUMMARY_CAP]] identities to the driver on a table
    * with key blooms, [[LakeTable.KEY_SET_LITERAL_CAP]] on one without. Up
    * to `KEY_SET_LITERAL_CAP` of them, [[semi]]/[[anti]] filter on a
    * literal set of them, which runs inside the scan with no shuffle and
    * no extra job (a broadcast local relation would cost one: Spark
    * collects a broadcast side with a job, in every execution that uses
    * it); past that they join the distributed distinct frame. Past its
    * cap the summary is WIDE: `keys` is None. `ids` holds exactly the join
    * ids, in the table's types. */
  private final class KeySummary(val sh: Shape, val ids: DataFrame,
      known: Option[Array[Row]] = None) {
    /** `known`: identities already collected on the driver (`ids` is then
      * their local frame), so deriving the summary runs no job. */
    lazy val keys: Option[Array[Row]] = known.orElse(boundedDistinct(ids,
      if (sh.spec.bloomBitsPerKey > 0) LakeTable.KEY_SUMMARY_CAP else LakeTable.KEY_SET_LITERAL_CAP))
    // a literal set matches exactly what the equi-join matches only where
    // SQL equality is value equality: not for float/double (joins
    // normalize -0.0 and NaN), binary or collated strings — those keep the
    // join even when the summary is bounded
    private def plainEquality(dt: DataType): Boolean = dt match {
      // StringType itself is the default UTF8_BINARY collation
      case ByteType | ShortType | IntegerType | LongType | BooleanType | DateType |
           TimestampType | TimestampNTZType | StringType | _: DecimalType => true
      case _ => false
    }
    private lazy val member: Option[Column] = keys match {
      case Some(rows) if rows.length <= LakeTable.KEY_SET_LITERAL_CAP &&
          ids.schema.forall(f => plainEquality(f.dataType)) =>
        // one identity column as itself, (key, PID) as a struct; a null
        // key matches nothing in a join, so it joins no set either
        val single = ids.schema.size == 1
        val (id, dt) =
          if (single) (col(ids.columns.head), ids.schema.head.dataType)
          else (struct(ids.columns.toSeq.map(col): _*), ids.schema)
        val toCatalyst = CatalystTypeConverters.createToCatalystConverter(dt)
        val set = rows.iterator.filter(!_.isNullAt(0))
          .map(r => toCatalyst(if (single) r.get(0) else r)).toSet[Any]
        Some(GraftExpressionBridge.column(InSet(GraftExpressionBridge.expression(id), set)))
      case _ => None
    }
    private lazy val frame = ids.distinct()
    def semi(df: DataFrame): DataFrame =
      member.fold(df.join(frame, sh.joinIdCols, "left_semi"))(df.filter)
    def anti(df: DataFrame): DataFrame = member.fold(
      df.join(frame, sh.joinIdCols, "left_anti"))(m => df.filter(!coalesce(m, lit(false))))
  }

  /** The [[KeySummary]] of `df`'s identities under `sh`. A caller's key
    * frame may carry narrower identity types than the table (an INT key
    * set for a BIGINT key): they are cast to the table's types first, as a
    * join against the table's rows would coerce them. */
  private def keySummary(df: DataFrame, sh: Shape): KeySummary = {
    val typed = df.select(sh.idCols.map(c => col(c).cast(sh.schema(c).dataType).as(c)): _*)
    new KeySummary(sh, withJoinIds(typed, sh).select(sh.joinIdCols.map(col): _*))
  }

  /** Stats-based candidate pruning before touched-file detection:
    * partition-value equality, key-range overlap and the key-bloom
    * sidecars, all decided from the batch's [[KeySummary]]. Ranges are
    * compared in key space and only for exactly-formattable types
    * (numeric/string) — skipping a prune is always safe, applying a wrong
    * one never is. A bounded summary derives every fact on the driver; a
    * wide one runs the partition and min/max aggregates over its key rows
    * and skips the bloom probe (churn that wide touches most files). */
  private def pruneCandidates(s: Snapshot, keys: KeySummary): Seq[FileAction] = {
    val (live, spec, schema) = (s.live, s.spec, s.schema)
    if (live.isEmpty) return live
    val keyType = schema(spec.key).dataType
    val exact = Set[DataType](ByteType, ShortType, IntegerType, LongType, StringType)
    // non-null key values of a bounded summary (a null key matches nothing)
    val local = keys.keys.map(_.iterator.map(_.get(0)).filter(_ != null).toSeq)

    var cands = live
    // partition pruning (skipped when the identity is key-only, e.g. a
    // bare deleteKeys key set); PID is the partition value cast to string
    // with null as the Hive default partition, as stored per file
    keys.sh.spec.partition.foreach { p =>
      if (exact.contains(schema(p).dataType)) {
        val inParts = keys.keys match {
          case Some(rows) => rows.iterator.map(_.getString(1)).toSet
          case None => keys.ids.select(PID).distinct().collect().map(_.getString(0)).toSet
        }
        // era guard: only a file written under the CURRENT partition
        // column may be pruned by its stored value — an old-era file
        // (post partition evolution) can hold any current-column value
        cands = cands.filter(a =>
          partitionColOf(a) != spec.partition || a.partitionValue.forall(inParts.contains))
      }
    }
    // key-range pruning: (min, max) of the keys cast to string, in Spark's
    // UTF-8 byte order (the order of the parquet footer stats), and of the
    // keys as doubles for numeric key types — the double min/max is never
    // computed for string keys (the cast would throw under ANSI mode)
    if (exact.contains(keyType)) {
      val numeric = keyType != StringType
      val range: Option[(UTF8String, UTF8String, Double, Double)] = local match {
        case Some(ks) if ks.nonEmpty =>
          val strs = ks.map(k => UTF8String.fromString(k.toString))
          val ds = if (numeric) ks.map(_.asInstanceOf[Number].doubleValue) else Seq(0.0)
          val dOrd = Ordering.Double.TotalOrdering
          Some((strs.min, strs.max, ds.min(dOrd), ds.max(dOrd)))
        case Some(_) => None
        case None =>
          val k = col(spec.key)
          val aggCols = Seq(min(k.cast(StringType)), max(k.cast(StringType))) ++
            (if (numeric) Seq(min(k.cast("double")), max(k.cast("double"))) else Nil)
          val r = keys.ids.agg(aggCols.head, aggCols.tail: _*).collect()(0)
          if (r.isNullAt(0)) None
          else Some((UTF8String.fromString(r.getString(0)), UTF8String.fromString(r.getString(1)),
            if (numeric) r.getDouble(2) else 0.0, if (numeric) r.getDouble(3) else 0.0))
      }
      range match {
        case Some((lo, hi, dlo, dhi)) =>
          cands = cands.filter { a =>
            // sentinel/unparseable stats → keep the file (never prune wrongly)
            if (a.minKey.isEmpty || a.maxKey == "￿") true
            else if (numeric && a.numericKey)
              try a.minKey.toDouble <= dhi && a.maxKey.toDouble >= dlo
              catch { case _: NumberFormatException => true }
            else UTF8String.fromString(a.minKey).compareTo(hi) <= 0 &&
              UTF8String.fromString(a.maxKey).compareTo(lo) >= 0
          }
        case None => cands = Seq.empty // empty batch touches nothing
      }
    }
    // bloom pruning — the stage that still prunes when key RANGES overlap
    // (random churn): probe each surviving candidate's sidecar bloom with
    // the batch's keys in their cast-to-string form; a missing sidecar
    // keeps its file (never prune wrongly)
    if (spec.bloomBitsPerKey > 0 && cands.nonEmpty) local.foreach { ks =>
      val tz = Option(spark.sessionState.conf.sessionLocalTimeZone)
      val probes = ks.map(k => Cast(Literal.create(k, keyType), StringType, tz).eval().toString)
        .distinct.toArray
      val hit = bloomSurvivors(cands.map(_.path), ".bf", probes)
      cands = cands.filter(a => hit.contains(a.path))
    }
    lastPrunedCandidates = cands.size
    cands
  }

  /** Distributed bloom-sidecar probe: the subset of `rels` whose sidecar
    * at `<rel><suffix>` might contain ANY probe value (absent/torn
    * sidecar = kept — pruning may be suboptimal, never wrong). One tiny
    * job of ≤64 tasks reading a few KB each — never a data-file open. */
  private def bloomSurvivors(rels: Seq[String], suffix: String,
      probes: Array[String]): Set[String] = {
    val bKeys = spark.sparkContext.broadcast(probes)
    // Configuration is not serializable — ship its entries and rebuild
    // in-task (executors need the session's fs credentials/impls)
    val confEntries = {
      val it = conf.iterator(); val buf = Seq.newBuilder[(String, String)]
      while (it.hasNext) { val e = it.next(); buf += ((e.getKey, e.getValue)) }
      buf.result()
    }
    val bConf = spark.sparkContext.broadcast(confEntries)
    val dd = dataDir
    spark.sparkContext
      .parallelize(rels, math.max(1, math.min(rels.size, 64)))
      .mapPartitions { it =>
        val c = new org.apache.hadoop.conf.Configuration(false)
        bConf.value.foreach { case (k, v) => c.set(k, v) }
        val fs = new Path(dd).getFileSystem(c)
        it.filter { rel =>
          KeyBloom.readOpt(fs, new Path(s"$dd/.blooms/$rel$suffix")) match {
            case Some(bloom) => bKeys.value.exists(bloom.mightContainString)
            case None => true // absent/torn sidecar: fail open, keep the file
          }
        }
      }.collect().toSet
  }

  /** Bloom-COLUMN file skipping for scans ([[TableSpec.bloomColumns]]):
    * point-lookup conjuncts (`=`, `<=>`, `IN` up to the probe cap) on a
    * bloom-indexed column probe each candidate file's per-column sidecar
    * and drop definite misses before the scan is planned — the non-key
    * equality analog of stats skipping. Only string and integral literals
    * probe (their canonical cast-to-string forms are unambiguous);
    * anything else keeps its files. External/base files never probe
    * (their sidecars live elsewhere — fail-open). */
  private[graft] def bloomSkip(actions: Seq[FileAction],
      filters: Seq[org.apache.spark.sql.sources.Filter], sh: Shape): Seq[FileAction] = {
    import org.apache.spark.sql.sources._
    val spec = sh.spec
    if (spec.bloomColumns.isEmpty || actions.isEmpty || filters.isEmpty) return actions
    def conjuncts(f: Filter): Seq[Filter] = f match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    def canon(v: Any): Option[String] = v match {
      case s: String => Some(s)
      case _: java.lang.Byte | _: java.lang.Short | _: java.lang.Integer |
           _: java.lang.Long => Some(v.toString)
      case _ => None
    }
    def bloomColOf(c: String): Option[String] =
      spec.bloomColumns.find(_.equalsIgnoreCase(c)).map(spec.physical)
    var out = actions
    conjuncts(filters.reduce(And)).foreach {
      case EqualTo(c, v) => for (p <- bloomColOf(c); s <- canon(v)) {
        out = probeColumn(out, p, Array(s))
      }
      case EqualNullSafe(c, v) if v != null =>
        for (p <- bloomColOf(c); s <- canon(v)) {
          out = probeColumn(out, p, Array(s))
        }
      case In(c, vs) if vs.nonEmpty && vs.length <= LakeTable.KEY_SUMMARY_CAP =>
        for (p <- bloomColOf(c)) {
          val canons = vs.toSeq.map(canon)
          // a null/unconvertible member makes the probe unsound — skip
          if (canons.forall(_.isDefined))
            out = probeColumn(out, p, canons.flatten.toArray)
        }
      case _ => ()
    }
    out
  }

  private def probeColumn(actions: Seq[FileAction], phys: String,
      probes: Array[String]): Seq[FileAction] = {
    if (actions.isEmpty) return actions
    val (own, foreign) = actions.partition(_.base.isEmpty)
    if (own.isEmpty) return actions
    val hit = bloomSurvivors(own.map(_.path), s".$phys.bf", probes)
    own.filter(a => hit.contains(a.path)) ++ foreign
  }

  /** Candidate-file count after the latest pruneCandidates pass — test
    * observability for the stats/bloom pruning stages. */
  private[graft] var lastPrunedCandidates: Int = -1

  /** Commit one optimistic-concurrency ATTEMPT. The rule: an attempt
    * reads the table through ONE [[Snapshot]] `s` — everything it decided
    * was decided on `s` — and claims exactly version `s.version + 1`. `body`
    * writes the data files (they land before the commit JSON does) and
    * returns per-write add/remove bundles; then the version file is claimed
    * atomically. Any commit that landed after `s`, even while `body` ran,
    * already holds that version, so the claim fails with
    * [[CommitConflictException]]: this attempt's data files are dropped and
    * [[retrying]] reruns the whole attempt on a fresh snapshot (full
    * serializability: the outcome equals the ops running serially in commit
    * order). A caller that pins its own read version passes
    * `snapshot(Some(v))` and lets the conflict propagate.
    *
    * `body` receives the attempt's base WRITE-ID (not the version): ids
    * are `version * WRITE_SLOTS + 2*nonce` (+1 for log files), so ids stay
    * monotone in version (the dedup tiebreak) while concurrent attempts at
    * the SAME version write disjoint `_v=` directories instead of clobbering
    * each other's in-flight files.
    *
    * `txn` is the idempotent-transaction guard (Delta txnAppId/txnVersion):
    * when the table has already recorded `appId` at a version >= the given
    * one, the write is a no-op — checked INSIDE the attempt, so a replayed
    * batch racing its duplicate is also suppressed on rebase. */
  private def writeCommit(s: Snapshot, operation: String, removeAll: Boolean = false,
      newSchema: Option[StructType] = None, txn: Option[(String, Long)] = None,
      newSpec: Option[TableSpec] = None,
      tableStats: Option[TableStats] = None,
      copyFiles: Seq[String] = Seq.empty,
      identityHigh: Map[String, Long] = Map.empty,
      savepoints: Option[Seq[Long]] = None,
      txnMany: Map[String, Long] = Map.empty)(
      body: (Long, String) => Seq[WriteResult]): LakeTable = {
    if (s.version < 0) throw new IllegalStateException("use LakeTable.create")
    val lc = s.commit
    val version = s.version + 1
    // multi-watermark idempotence: skip only when EVERY component is
    // already covered (a commit that would advance any one still lands)
    if (txnMany.nonEmpty &&
      txnMany.forall { case (app, v) =>
        lc.txn.get(app).exists(_ >= v) }) return this
    txn.foreach { case (app, v) =>
      if (lc.txn.get(app).exists(_ >= v)) return this
    }
    val commitTime = LakeTable.commitTimeNow()
    val writeId = freshWriteId(version)
    val results = body(writeId, commitTime)
    val prevLive = if (removeAll) s.live.map(_.path) else Seq.empty
    val c = Commit(version, commitTime, operation,
      newSchema.map(_.json).getOrElse(lc.schemaJson), newSpec.getOrElse(lc.spec),
      results.flatMap(_.add), (prevLive ++ results.flatMap(_.remove)).distinct,
      lc.txn ++ txn.toMap ++ txnMany, tableStats, copyFiles,
      identityHigh = lc.identityHigh ++ identityHigh,
      savepoints = savepoints.getOrElse(lc.savepoints))
    try CommitLog.write(path, c, conf)
    catch {
      case conflict: CommitConflictException =>
        // lost the race: drop ONLY the dirs this attempt itself created —
        // i.e. its own write-id dirs (ids in this version's slot range).
        // An attempt can also RE-ADD pre-existing files (restore re-lists
        // an old version's files, clone bodies carry external bases):
        // those are committed data and must never be touched.
        val fsys = new Path(dataDir).getFileSystem(conf)
        Seq(writeId, writeId + 1).foreach { id =>
          scala.util.Try(fsys.delete(new Path(s"$dataDir/${WRITE_ID}=$id"), true))
          scala.util.Try(fsys.delete(new Path(s"$dataDir/$DV_DIR/${WRITE_ID}=$id"), true))
          scala.util.Try(fsys.delete(claimFile(id), false))
        }
        throw conflict
    }
    // the live set after this commit: the snapshot's plus its own actions
    lazy val liveAfter = CommitLog.replay(s.live, Seq(c))
    CommitLog.maybeCheckpoint(path, version, conf)(liveAfter)
    maybeAutoCompact(c.spec, operation, liveAfter)
    this
  }

  /** Data-write operations that may trigger auto-maintenance — maintenance
    * and metadata commits never re-trigger it (no recursion, no churn). */
  private val AUTO_COMPACT_TRIGGERS = Set(
    "upsert", "delete", "update", "overwrite", "overwriteWhere",
    "overwritePartitions")

  /** Post-commit auto-maintenance ([[TableSpec.autoCompactFiles]] /
    * [[TableSpec.autoCompactLogs]]): when a data write pushes the live
    * file count (or MoR outstanding-log count) over its threshold, fold /
    * concatenate immediately. Best-effort by design: the triggering write
    * has already committed, so a maintenance failure (e.g. OCC retries
    * exhausted under heavy concurrency) must never surface as a write
    * failure — the next write simply re-triggers. Compaction itself runs
    * through the normal retrying OCC path, so concurrent writers stay
    * correct: a loser rebases onto the compacted snapshot. */
  private def maybeAutoCompact(s: TableSpec, operation: String,
      live: => Seq[FileAction]): Unit = {
    if ((s.autoCompactFiles <= 0 && s.autoCompactLogs <= 0) ||
      !AUTO_COMPACT_TRIGGERS.contains(operation)) return
    try {
      val logs = live.count(_.log)
      val overFiles = s.autoCompactFiles > 0 && live.size > s.autoCompactFiles
      val overLogs = s.autoCompactLogs > 0 && logs > s.autoCompactLogs
      if (overLogs || (overFiles && logs > 0)) { compact(); () }
      else if (overFiles) { optimize(); () }
    } catch { case scala.util.control.NonFatal(_) => () }
  }

  private def claimFile(id: Long): Path = new Path(s"$dataDir/.claims/${WRITE_ID}=$id")

  /** Allocate this attempt's unique base write-id for `version` (even
    * nonce; `+1` is reserved for the commit's log files). The id is CLAIMED
    * atomically via a marker file (hard-link-exclusive on local paths, like
    * the commit publish), so two concurrent attempts can never share a
    * `_v=` directory even if they draw the same nonce — an exists-probe
    * alone would be check-then-act. */
  private def freshWriteId(version: Long): Long = {
    val fsys = new Path(dataDir).getFileSystem(conf)
    var tries = 0
    while (tries < 32) {
      val nonce = scala.util.Random.between(0L, WRITE_SLOTS / 2 - 1)
      val id = version * WRITE_SLOTS + nonce * 2
      val free = !fsys.exists(new Path(s"$dataDir/${WRITE_ID}=$id")) &&
        !fsys.exists(new Path(s"$dataDir/${WRITE_ID}=${id + 1}"))
      if (free && CommitLog.claimMarker(fsys, claimFile(id))) return id
      tries += 1
    }
    throw new IllegalStateException(s"could not allocate a write id for version $version")
  }

  /** Highest idempotent-transaction version recorded for `appId`
    * (Delta `txnAppId`/`txnVersion` analog) — None when never written. */
  def txnVersion(appId: String): Option[Long] = snapshot().commit.txn.get(appId)

  /** Run one write attempt `f` on a fresh [[Snapshot]], rerunning it on
    * commit conflict, so N racing writers serialize as N successive
    * versions. Bounded —
    * sustained contention past the cap surfaces as
    * ConcurrentModificationException with the last conflict as cause. */
  private def retrying[T](f: Snapshot => T): T = {
    var attempt = 0
    while (true) {
      try return f(snapshot())
      catch {
        case c: CommitConflictException =>
          attempt += 1
          if (attempt >= LakeTable.MAX_COMMIT_RETRIES)
            throw new java.util.ConcurrentModificationException(
              s"gave up after $attempt conflicting commit attempts at $path: ${c.getMessage}")
          // jittered backoff so N racers don't re-collide in lockstep
          Thread.sleep(scala.util.Random.between(5L, 50L * attempt))
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Write a batch under `data/_v=<writeId>/`, partitioned per spec, and
    * collect per-file stats for the log via a key-column-only scan.
    * Writes unconditionally — a pre-write `isEmpty` would execute the whole
    * upstream pipeline (dedup shuffle included) a second time; an empty
    * batch just yields zero stat rows and no adds. */
  private def writeFiles(s: Snapshot, batch0: DataFrame, writeId: Long, log: Boolean,
      tombstone: Boolean = false): WriteResult = {
    val spec = s.spec
    // column mapping: batches arrive with LOGICAL names; files store
    // PHYSICAL names (stable since each column's creation), so every file
    // of the table stays uniform across renames
    val batch =
      if (spec.columnMap.isEmpty) batch0
      else batch0.select(batch0.columns.toSeq.map(c =>
        spec.columnMap.get(c).map(p => col(c).as(p)).getOrElse(col(c))): _*)
    val target = s"$dataDir/${WRITE_ID}=$writeId"
    // the attempt's write-id dir is freshly allocated (freshWriteId probes
    // existence), so nothing to clear; an attempt that dies before its
    // commit JSON lands leaves an orphan dir that vacuum() sweeps
    // write-side clustering: range-partition + sort by the declared
    // writeSortColumns (physical names; only those present in this batch
    // — tombstone/log writes carry subsets) so per-file ranges come out
    // tight and non-overlapping without any later OPTIMIZE pass
    val sortCols = spec.writeSortColumns.map(spec.physical)
      .filter(c => batch.columns.exists(_.equalsIgnoreCase(c)))
    // NOTE (round-13 optimization audit): a write fan-out was tried here —
    // repartition small batches (optimizer size estimate ≤ 512 MB) to
    // ceil(bytes / 1 MB) tasks so narrow-input writes fill the cores. It
    // measured a LOSS on the interleaved A/B (b1 1.42× slower): the
    // narrow-input case is input-SPLIT-bound (parquet row groups), so the
    // fused scan→encode pipeline already overlaps decode with encode,
    // while the added exchange pays a full shuffle of the wide rows; every
    // other write arrives pre-shuffled from its join/aggregate and needs
    // no help. Kept fused — OPTIMIZATION_r13.md "write fan-out".
    val shuffled = (spec.partition, sortCols) match {
      case (Some(p), Nil) => batch.repartition(col(p))
      case (Some(p), sc) =>
        val keys = col(p) +: sc.map(col)
        batch.repartitionByRange(keys: _*).sortWithinPartitions(keys: _*)
      case (None, Nil) => batch
      case (None, sc) =>
        batch.repartitionByRange(sc.map(col): _*)
          .sortWithinPartitions(sc.map(col): _*)
    }
    val writer = shuffled.write.mode("errorifexists")
    spec.partition match {
      case Some(p) => writer.partitionBy(p).parquet(target)
      case None => writer.parquet(target)
    }
    val keyType = s.schema(spec.key).dataType
    val numericKey = keyType match {
      case _: NumericType => true
      case _ => false
    }
    val fs = new Path(target).getFileSystem(conf)
    val files = {
      val out = scala.collection.mutable.ArrayBuffer.empty[(Path, Long)]
      val it = fs.listFiles(new Path(target), true)
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) out += ((f.getPath, f.getLen))
      }
      out.toSeq
    }
    if (files.isEmpty) return WriteResult(Seq.empty, Seq.empty)
    // per-file stats from parquet FOOTERS — driver-side metadata reads, no
    // executor job, instead of re-scanning everything just written
    val adds = files.map { case (f, len) =>
      // LAST occurrence — see vacuum(); keeps rel paths consistent with
      // the executor-side substring_index detection
      val rel = f.toString.split("/data/").last
      val partVal = spec.partition.flatMap { p =>
        rel.split("/").find(_.startsWith(p + "="))
          // Hive-style unescape, NOT URLDecoder: dir names are Hive-escaped
          // (%XX only) and a literal '+' in a partition value must survive
          .map(s => LakeTable.unescapePathName(s.substring(p.length + 1)))
      }
      val statCols = spec.key +: spec.statsColumns.filterNot(_.equalsIgnoreCase(spec.key))
      val (rows, stats) = FooterStats.fileStats(f, conf, statCols)
      val (mn, mx) = stats(spec.key)
      FileAction(rel, log, rows, mn, mx, numericKey, partVal, tombstone = tombstone,
        colStats = stats - spec.key, bytes = len)
    }
    // a fully-empty batch still emits one 0-row part file — don't log it
    val kept0 = adds.filter(_.rows > 0)
    // the sidecar passes re-read the files with the schema just written:
    // a read without one would first run a footer-merge job to infer it
    val kept =
      if (log || kept0.isEmpty) kept0
      else writeSums(spec, target, batch.schema, kept0)
    if ((spec.bloomBitsPerKey > 0 || spec.bloomColumns.nonEmpty) && kept.nonEmpty)
      writeBlooms(spec, target, batch.schema, kept)
    WriteResult(kept, Seq.empty)
  }

  /** Per-file (exact sum, non-null count) for the declared `sumColumns`:
    * ONE aggregation job over the just-written files (cache-hot), emitting
    * one row per file — parquet footers carry min/max/nullCount but never
    * sums, so this is the only way to get them without a later full scan.
    * Sums accumulate in DECIMAL(38,s): exact, order-independent, and
    * practically un-overflowable, so per-file partials re-add to the true
    * total at any scale. Float/double columns are skipped — their sums are
    * order-dependent, so a metadata answer could differ from a scan. */
  private def writeSums(spec: TableSpec, target: String, written: StructType,
      adds: Seq[FileAction]): Seq[FileAction] = {
    val sumCols = spec.sumColumns.map(spec.physical)
      .filterNot(c => spec.partition.contains(c))
    if (sumCols.isEmpty) return adds
    val src = spark.read.schema(written).parquet(target)
    val typed = sumCols.flatMap { c =>
      src.schema.fields.find(_.name.equalsIgnoreCase(c)).flatMap(f => f.dataType match {
        case _: ByteType | _: ShortType | _: IntegerType | _: LongType =>
          Some((f.name, DecimalType(38, 0)))
        case d: DecimalType => Some((f.name, DecimalType(38, d.scale)))
        case _ => None // float/double: order-dependent sums — never stored
      })
    }
    if (typed.isEmpty) return adds
    val aggs = typed.flatMap { case (c, dt) =>
      Seq(sum(col(c).cast(dt)).as(s"_sum_$c"), count(col(c)).as(s"_nn_$c"))
    }
    val perFile = src
      .groupBy(input_file_name().as("_f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect() // bounded: one row per just-written file
      .map { r =>
        val rel = LakeTable.decodeFileUri(r.getString(0)).split("/data/").last
        val sums = typed.map { case (c, _) =>
          val d = r.getAs[java.math.BigDecimal](s"_sum_$c")
          val nn = r.getAs[Long](s"_nn_$c")
          c -> (if (d == null) "0" else d.stripTrailingZeros.toPlainString, nn)
        }.toMap
        rel -> sums
      }.toMap
    adds.map(a => a.copy(colSums = perFile.getOrElse(a.path, Map.empty)))
  }

  /** Build bloom sidecars for the just-written files in ONE job (Hudi
    * bloom-index analog, see [[KeyBloom]]): the key bloom (when
    * `bloomBitsPerKey` > 0, sidecar `<rel>.bf`) plus one per declared
    * [[TableSpec.bloomColumns]] entry (sidecar `<rel>.<physical>.bf`), all
    * accumulated from one scan of the new files (`schema` = the schema
    * they were written with), partial blooms OR-merged per file. */
  private def writeBlooms(spec: TableSpec, target: String, schema: StructType,
      adds: Seq[FileAction]): Unit = {
    val bpk = if (spec.bloomBitsPerKey > 0) spec.bloomBitsPerKey else 10
    val rowsByRel = adds.map(a => (a.path, a.rows)).toMap
    // (physical select column, sidecar suffix)
    val bloomCols: Seq[(String, String)] =
      (if (spec.bloomBitsPerKey > 0) Seq(spec.physical(spec.key) -> ".bf") else Seq.empty) ++
        spec.bloomColumns.map(spec.physical).map(p => p -> s".$p.bf")
    if (bloomCols.isEmpty) return
    val n = bloomCols.size
    val written = spark.read.schema(schema).parquet(target)
    // a log/tombstone batch carries only a column subset — index what exists
    val present = bloomCols.zipWithIndex
      .filter { case ((p, _), _) => written.columns.exists(_.equalsIgnoreCase(p)) }
    if (present.isEmpty) return
    val sel = input_file_name().as("_f") +:
      present.map { case ((p, _), i) => col(p).cast(StringType).as(s"_c$i") }
    val partials = written.select(sel: _*)
      .rdd.mapPartitions { it =>
        val acc = scala.collection.mutable.HashMap
          .empty[(String, Int), org.apache.spark.util.sketch.BloomFilter]
        it.foreach { r =>
          val rel = LakeTable.decodeFileUri(r.getString(0)).split("/data/").last
          rowsByRel.get(rel).foreach { rows =>
            var j = 0
            while (j < r.length - 1) {
              val b = acc.getOrElseUpdate((rel, j), KeyBloom.create(rows, bpk))
              if (!r.isNullAt(j + 1)) b.putString(r.getString(j + 1))
              j += 1
            }
          }
        }
        acc.iterator
      }
      .reduceByKey((a, b) => { a.mergeInPlace(b); a })
      .collect()
    val fs = new Path(dataDir).getFileSystem(conf)
    val suffixes = present.map { case ((_, s), _) => s }
    partials.foreach { case ((rel, j), bloom) =>
      KeyBloom.write(fs, new Path(s"$dataDir/.blooms/$rel${suffixes(j)}"), bloom)
    }
  }
}

object LakeTable {
  /** The hive-style dir column a file was physically WRITTEN under, parsed
    * from its own path (`_v=N/<col>=<val>/part-*.parquet`) — the file's
    * PARTITION ERA. After [[changePartition]] eras differ per file; the
    * layout is self-describing, so evolution needed no commit-log change.
    * None = flat layout (unpartitioned era) or a foreign/converted base.
    * Returns the PHYSICAL dir name (`_bucket` for bucketed files). */
  private[graft] def partitionColOf(a: FileAction): Option[String] = {
    val segs = a.path.split("/")
    if (segs.length >= 3 && segs(0).startsWith(s"$WRITE_ID=")) {
      val d = segs(1)
      val i = d.indexOf('=')
      if (i > 0) Some(LakeTable.unescapePathName(d.substring(0, i))) else None
    } else None
  }

  /** The dir column files of spec `sp` are written under: the partition
    * column, or `_bucket` for bucketed tables. */
  private def expectedDirCol(sp: TableSpec): Option[String] =
    if (sp.buckets > 0) Some(TableSpec.BUCKET_COL) else sp.partition

  /** True when any live file predates the current partitioning layout —
    * possible only after [[changePartition]], until a full rewrite
    * (compact()/zorder()) migrates every row forward. Every metadata
    * shortcut keyed on `partitionValue` must refuse mixed-era snapshots:
    * an old-era file's stored value belongs to a DIFFERENT column. */
  private[graft] def mixedPartitionEras(live: Seq[FileAction], sp: TableSpec): Boolean = {
    val want = expectedDirCol(sp)
    live.exists(a => partitionColOf(a) != want)
  }

  private[lake] val WRITE_ID = "_v"
  private[lake] val PID = "_graft_pid"
  private[lake] val RANK = "_graft_rank"

  /** Value-preserving type widenings ([[LakeTable.widenColumn]]): every
    * value of `from` maps to exactly itself in `to`. */
  private[graft] def widens(from: DataType, to: DataType): Boolean = (from, to) match {
    case (a, b) if a == b => false
    // byte/short/int → double is exact too (53-bit mantissa ⊇ 32-bit int);
    // long → double is NOT (Delta's matrix draws the same line)
    case (ByteType, ShortType | IntegerType | LongType | DoubleType) => true
    case (ShortType, IntegerType | LongType | DoubleType) => true
    case (IntegerType, LongType | DoubleType) => true
    case (FloatType, DoubleType) => true
    case (f: DecimalType, t: DecimalType) =>
      t.scale >= f.scale && t.precision - t.scale >= f.precision - f.scale
    // integral → decimal with room for every value of the source type
    case (ByteType, t: DecimalType) => t.precision - t.scale >= 3
    case (ShortType, t: DecimalType) => t.precision - t.scale >= 5
    case (IntegerType, t: DecimalType) => t.precision - t.scale >= 10
    case (LongType, t: DecimalType) => t.precision - t.scale >= 19
    case _ => false
  }
  /** Per-scan file identity matching FileAction.path (see readFiles). */
  private[lake] val REL_FILE = "_rel_file"
  /** Decode an input_file_name() URI to the literal path form FileAction
    * paths use (listing-derived). URI.getPath decodes %XX but keeps a
    * literal '+' — unlike form-decoding — matching path semantics. */
  private[lake] def decodeFileUri(s: String): String =
    try new java.net.URI(s).getPath
    catch { case _: java.net.URISyntaxException => s }
  /** Hive `unescapePathName`: decode the %XX escapes partition-dir names
    * use, leaving every other char (notably '+') alone — URLDecoder's
    * form-decoding would corrupt a literal '+' into a space. */
  private[lake] def unescapePathName(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        try { sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar); i += 3 }
        catch { case _: NumberFormatException => sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }
  /** Max tombstone write-id per key during tombstone application. */
  private[lake] val TOMB_V = "_graft_tomb_v"
  /** Deletion-vector sidecar area under `data/` (`_dv/_v=<writeId>/`). */
  private[lake] val DV_DIR = "_dv"
  /** Per-row parquet position (`_metadata.row_index`) during DV work. */
  private[lake] val DV_POS = "_dv_pos"
  /** DV sidecar schema: excluded (file, position) pairs. */
  private[lake] val DV_SCHEMA = StructType(Seq(
    StructField("file", StringType), StructField("pos", LongType)))
  /** Write-id slots per commit version: an attempt's base files take
    * `version*WRITE_SLOTS + 2*nonce`, its log files `+1`. The wide slot
    * space lets concurrent attempts at the same version (optimistic
    * writers) draw disjoint `_v=` directories; ids stay monotone in
    * version, which the precombine-tie dedup relies on. */
  private[lake] val WRITE_SLOTS = 1L << 20

  /** [[LakeTable.windowDelta]] MoR path: collect at most this many touched
    * record keys driver-side to stats/bloom/bucket-prune the two snapshot
    * reads' base files; past it the reads stay unpruned (the semi-join
    * still bounds the rows — a window touching this many keys rewrote a
    * large fraction of the table anyway). */
  private val MOR_DELTA_KEY_CAP = 8192
  /** Op-level rebase attempts before surfacing ConcurrentModificationException. */
  private[lake] val MAX_COMMIT_RETRIES = 10
  /** Most distinct record identities a keyed write's [[KeySummary]] holds
    * on the driver for a table with key blooms (and the most values a
    * bloom-column `IN` probes): the bloom probe needs the batch's keys.
    * Past it the batch is wide: detection joins the distributed key frame
    * and the key-bloom probe is skipped — churn that wide touches most
    * files regardless, and the probe set would not stay cheap to ship. */
  private[graft] val KEY_SUMMARY_CAP = 200000
  /** Most identities a [[KeySummary]] filters on as a literal set (a
    * larger bounded summary joins its distributed frame), and the summary
    * cap of a table without key blooms, where a larger summary would buy
    * only the key min/max that one aggregate gives as cheaply. Measured on
    * a CoW table of 1M BIGINT keys in 8 files (local[4]): against the
    * join, the literal set costs the same at 3k and 10k keys, and an
    * upsert 0.8 s more at 30k, 4.3 s more at 100k and 8.5 s more at 200k;
    * the summary itself takes 0.11 s at 10k keys and 0.46 s at 200k. */
  private[graft] val KEY_SET_LITERAL_CAP = 10000

  /** The distinct rows of `df` when there are at most `cap` of them, else
    * None — in ONE job: each partition collects a set and stops reading
    * once the set passes `cap` (reporting None), and the sets are unioned,
    * any union past `cap` collapsing to None. The driver receives at most
    * [[KEY_SUMMARY_CAP]] rows (or `cap`, if larger): it unions the
    * partition sets itself when that many partitions times `cap` stays
    * within it, and otherwise one executor task unions them first (one
    * more stage in the same job). A set travels as one [[rowBlob]], so
    * the shuffle ships and sizes it as a single array. */
  private[graft] def boundedDistinct(df: DataFrame, cap: Int): Option[Array[Row]] = {
    val schema = df.schema
    val width = schema.size
    val toRow = CatalystTypeConverters.createToScalaConverter(schema)
    val merge = (a: Option[Array[Byte]], b: Option[Array[Byte]]) =>
      for (x <- a; y <- b; u <- distinctBlob(blobRows(x, width) ++ blobRows(y, width), cap))
        yield u
    val sets = df.queryExecution.toRdd.mapPartitions { it =>
      val unsafe = UnsafeProjection.create(schema)
      Iterator(distinctBlob(it.map(unsafe(_).copy()), cap))
    }
    sets.treeAggregate(Option(Array.emptyByteArray), merge, merge, depth = 1,
      finalAggregateOnExecutor = sets.getNumPartitions.toLong * cap > KEY_SUMMARY_CAP)
      .map(blobRows(_, width).map(toRow(_).asInstanceOf[Row]).toArray)
  }

  /** The distinct rows of `rows` as a [[rowBlob]], or None past `cap`. */
  private def distinctBlob(rows: Iterator[UnsafeRow], cap: Int): Option[Array[Byte]] = {
    val seen = scala.collection.mutable.HashSet.empty[UnsafeRow]
    while (rows.hasNext && seen.size <= cap) seen += rows.next()
    if (seen.size > cap) None else rowBlob(seen)
  }

  /** Binary rows packed as (size, bytes) records into one array, or None
    * when they do not fit one array. */
  private def rowBlob(rows: Iterable[UnsafeRow]): Option[Array[Byte]] = {
    val total = rows.iterator.map(4L + _.getSizeInBytes).sum
    if (total > Int.MaxValue - 16) None
    else {
      val out = new Array[Byte](total.toInt)
      var off = Platform.BYTE_ARRAY_OFFSET.toLong
      rows.foreach { r =>
        Platform.putInt(out, off, r.getSizeInBytes)
        r.writeToMemory(out, off + 4)
        off += 4 + r.getSizeInBytes
      }
      Some(out)
    }
  }

  /** The rows of a [[rowBlob]], as views into it. */
  private def blobRows(blob: Array[Byte], width: Int): Iterator[UnsafeRow] =
    new Iterator[UnsafeRow] {
      private var off = Platform.BYTE_ARRAY_OFFSET.toLong
      private val end = off + blob.length
      def hasNext: Boolean = off < end
      def next(): UnsafeRow = {
        val size = Platform.getInt(blob, off)
        val r = new UnsafeRow(width)
        r.pointTo(blob, off + 4, size)
        off += 4 + size
        r
      }
    }

  val META_COLS: Seq[String] =
    Seq("_commit_time", "_commit_seqno", "_record_key", "_partition_path", "_file_name")
  private val META_SCHEMA = StructType(META_COLS.map(StructField(_, StringType)))

  private[lake] case class WriteResult(add: Seq[FileAction], remove: Seq[String])

  private val TIME_FMT = DateTimeFormatter.ofPattern("yyyyMMddHHmmssSSS")
  private val lastTime = new java.util.concurrent.atomic.AtomicLong(0)

  /** Hudi-shaped commit id, strictly monotonic even within one millisecond. */
  /** Parse a commit-log timeline timestamp back to UTC epoch millis. */
  def commitTimeMillis(commitTime: String): Long =
    java.time.LocalDateTime.parse(commitTime, TIME_FMT)
      .toInstant(ZoneOffset.UTC).toEpochMilli

  /** Accepts either epoch millis or an ISO/SQL timestamp string (UTC). */
  def parseUserTimestamp(s: String): Long =
    s.toLongOption.getOrElse {
      val t = s.trim.replace(' ', 'T')
      try java.time.LocalDateTime.parse(t).toInstant(ZoneOffset.UTC).toEpochMilli
      catch {
        case _: java.time.format.DateTimeParseException =>
          java.time.Instant.parse(if (t.endsWith("Z")) t else t + "Z").toEpochMilli
      }
    }

  private[lake] def commitTimeNow(): String = {
    val now = System.currentTimeMillis()
    val t = lastTime.updateAndGet(prev => math.max(prev + 1, now))
    ZonedDateTime.ofInstant(java.time.Instant.ofEpochMilli(t), ZoneOffset.UTC).format(TIME_FMT)
  }

  /** Latest-wins per key: greatest (precombine, tiebreak) survives (A4/J3).
    * Implemented as `max_by` over a (precombine, tiebreak) ordering struct:
    * a hash aggregate with map-side partial aggregation — one shuffle of
    * one row per key, no per-key sort (a row_number window would
    * shuffle+sort every row; at 100 TB that difference is the job). */
  def dedupLatest(df: DataFrame, key: String, precombine: String, tiebreak: Column): DataFrame =
    dedupLatest(df, Seq(key), precombine, tiebreak)

  def dedupLatest(df: DataFrame, keys: Seq[String], precombine: String,
      tiebreak: Column): DataFrame = {
    val cols = df.columns
    df.groupBy(keys.map(col): _*)
      .agg(max_by(struct(cols.map(col).toSeq: _*),
        struct(col(precombine), tiebreak)).as(RANK + "_row"))
      .select(col(RANK + "_row.*"))
  }

  /** Create a new table at `path` with `df` as version 0.
    *
    * @param bulkInsert skip the precombine dedup, matching Hudi's INSERT /
    *   BULK_INSERT operations (`hoodie.combine.before.insert=false` is the
    *   Hudi default for inserts — `/root/reference/README.md:276-290` runs
    *   INSERT for the full load). Input rows pass through verbatim; with
    *   duplicate keys the snapshot shows duplicates until an upsert or
    *   compaction collapses them, exactly like Hudi. Default keeps the
    *   dedup (unique-key base invariant). */
  def create(spark: SparkSession, path: String, spec0: TableSpec, df0: DataFrame,
      bulkInsert: Boolean = false,
      presetIdentityHigh: Map[String, Long] = Map.empty): LakeTable = {
    val conf = spark.sessionState.newHadoopConf()
    require(CommitLog.latestVersion(path, conf).isEmpty, s"table exists at $path")
    CommitLog.invalidateTable(path) // a dropped table may have lived here
    // hash-bucketed layout: the bucket id is a STORED column laid out as the
    // table's (hive-style) partition dirs, so every partition-aware path
    // (pruning, dynamic overwrite, SHOW PARTITIONS) works unchanged and the
    // DSv2 scan can report KeyGroupedPartitioning for shuffle-free joins
    val (spec, dfB) =
      if (spec0.buckets > 0) {
        require(spec0.partition.isEmpty,
          "buckets and partition are mutually exclusive (buckets ARE the layout)")
        (spec0.copy(partition = Some(TableSpec.BUCKET_COL)),
          df0.withColumn(TableSpec.BUCKET_COL,
            pmod(hash(col(spec0.key)), lit(spec0.buckets))))
      } else (spec0, df0)
    val dfG = GeneratedCols(dfB, spec.generated)
    // DEFAULT columns omitted at create are stamped so the declared
    // schema carries them from version 0
    val df = spec.defaults.foldLeft(dfG) { case (acc, (c, e)) =>
      if (acc.columns.exists(_.equalsIgnoreCase(c))) acc
      else acc.withColumn(c, expr(e))
    }
    spec.defaults.keys.foreach { c =>
      require(!spec.generated.keys.exists(_.equalsIgnoreCase(c)) &&
        !spec.identity.keys.exists(_.equalsIgnoreCase(c)),
        s"default column '$c' cannot also be generated or identity")
    }
    spec.partition.foreach(p => require(df.columns.contains(p), s"missing partition col $p"))
    require(df.columns.contains(spec.key) && df.columns.contains(spec.precombine),
      s"key/precombine not in schema")
    spec.identity.keys.foreach { c =>
      require(!c.equalsIgnoreCase(spec.key) && !c.equalsIgnoreCase(spec.precombine) &&
        !spec.partition.exists(_.equalsIgnoreCase(c)) &&
        !spec.generated.keys.exists(_.equalsIgnoreCase(c)),
        s"identity column '$c' cannot also be the key/precombine/partition/generated column")
    }
    val t = new LakeTable(spark, path)
    // bootstrap commit 0 by hand (writeCommit requires an existing schema)
    val version = 0L
    val commitTime = commitTimeNow()
    val boot0 = Commit(version, commitTime, "create", df.schema.json, spec, Seq.empty, Seq.empty)
    CommitLog.write(path, boot0, conf)
    // identity columns stamp AFTER the provisional boot (stampIdentity reads
    // spec through the log); the final commit 0 carries the widened schema
    // and the allocated high-water marks. presetIdentityHigh: the rows
    // already carry authoritative ids (deep-clone materialization).
    val s = t.snapshot()
    val (dfI, idHighs) =
      if (presetIdentityHigh.nonEmpty) (df, presetIdentityHigh)
      else t.stampIdentity(s, df, freshForAll = true)
    val boot = boot0.copy(schemaJson = dfI.schema.json, identityHigh = idHighs)
    val batch = t.stampMeta(s, if (bulkInsert) dfI else t.dedupBatch(s, dfI), commitTime)
    val res = t.writeFiles(s, batch, t.freshWriteId(version), log = false)
    // amend: rewrite commit 0 with the files (single-writer, pre-publish)
    val fs = CommitLog.logDir(path).getFileSystem(conf)
    fs.delete(new Path(CommitLog.logDir(path), f"$version%020d.json"), false)
    CommitLog.invalidate(path, version) // the one place a commit file is replaced
    CommitLog.write(path, boot.copy(add = res.add), conf)
    t
  }

  /** Convert a plain parquet directory into a graft table IN PLACE (Delta
    * `CONVERT TO DELTA` / Hudi bootstrap analog): no data is rewritten —
    * the bootstrap commit references the existing files (with footer-derived
    * key stats for pruning), and the commit log lands in `<dir>/_graft_log`.
    * Later writes rewrite touched files into the table's own `data/` dir;
    * the originals are simply de-referenced (never deleted — they remain
    * the user's files). Flat, non-partitioned sources only; rows in
    * converted files carry null meta columns until first rewritten. */
  def convert(spark: SparkSession, dir: String, spec: TableSpec): LakeTable = {
    val conf = spark.sessionState.newHadoopConf()
    require(spec.partition.isEmpty, "convert supports flat, non-partitioned sources")
    require(!spec.mor, "convert bootstraps a CoW table")
    require(spec.identity.isEmpty,
      "convert cannot declare identity columns — the existing files were never stamped")
    require(CommitLog.latestVersion(dir, conf).isEmpty, s"table exists at $dir")
    CommitLog.invalidateTable(dir)
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    val files = fs.listStatus(root).toSeq
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map(st => (st.getPath, st.getLen))
    require(files.nonEmpty, s"no parquet files to convert at $dir")
    val schema = spark.read.parquet(dir).schema
    require(schema.fieldNames.contains(spec.key) &&
      schema.fieldNames.contains(spec.precombine), "key/precombine not in schema")
    val numericKey = schema(spec.key).dataType.isInstanceOf[NumericType]
    val baseDir = fs.makeQualified(root).toUri.getPath
    val adds = files.map { case (f, len) =>
      val (rows, mn, mx) = FooterStats.keyStats(f, conf, spec.key)
      FileAction(f.getName, log = false, rows, mn, mx, numericKey,
        partitionValue = None, base = Some(baseDir), bytes = len)
    }
    CommitLog.write(dir,
      Commit(0L, commitTimeNow(), "convert", schema.json, spec, adds, Seq.empty), conf)
    new LakeTable(spark, dir)
  }

  /** Open an existing table. */
  def load(spark: SparkSession, path: String): LakeTable = {
    require(CommitLog.latestVersion(path, spark.sessionState.newHadoopConf()).isDefined,
      s"no graft table at $path")
    new LakeTable(spark, path)
  }
}
