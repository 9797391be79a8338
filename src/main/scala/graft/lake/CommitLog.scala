package graft.lake

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

/** One data file registered by a commit. Paths are relative to the table's
  * `data/` dir (`_v=<version>/[<part>=<val>/]part-*.parquet`).
  *
  * Stats (`rows`, `minKey`, `maxKey`, `partitionValue`) feed engine-side file
  * pruning before a scan is even planned — the analog of the min/max file
  * stats Hudi/Delta keep in their logs (`/root/reference/README.md:1235-1236`).
  * Key stats are stored as strings plus a numeric flag so pruning compares in
  * key space, not lexicographically.
  */
case class FileAction(
    path: String,
    log: Boolean,
    rows: Long,
    minKey: String,
    maxKey: String,
    numericKey: Boolean,
    partitionValue: Option[String],
    /** Absolute directory the file lives under when it is NOT this table's
      * own `data/` dir: a shallow clone references the source table's data
      * dir, a converted-in-place table references the original parquet dir.
      * `None` (the overwhelmingly common case) = this table's `data/`. */
    base: Option[String] = None,
    /** MoR tombstone log: the file's rows are DELETE markers (key/partition
      * only, data columns null) — a keyed delete lands as one of these
      * instead of forcing a log fold, the deletion-vector idea. A tombstone
      * kills every same-key row with a lower write-id; compaction folds
      * tombstones away. Only ever true when `log` is true. */
    tombstone: Boolean = false,
    /** Per-column (min, max) for the table's declared `statsColumns` —
      * data-skipping metadata beyond the record key, so scans filtered on
      * any stat'd column prune whole files from the commit log before
      * planning. Rendered in the same string forms as the key stats. */
    colStats: Map[String, (String, String)] = Map.empty,
    /** Deletion-vector sidecar for this file: a parquet dir of
      * `(file, pos)` row positions to EXCLUDE at read — Delta's DV idea,
      * so a CoW row-level delete costs O(matched rows), not a rewrite of
      * every touched file. Relative to the owning table's `data/` dir, or
      * absolute (leading `/`) when referenced across tables (clones).
      * A DV delete re-adds the same data path with a new `dv`, so every
      * incremental/CDF/window-delta consumer sees a remove+add pair. */
    dv: Option[String] = None,
    /** Rows excluded by `dv` (`rows` stays the file's physical count). */
    dvRows: Long = 0L,
    /** On-disk file length — captured from the filesystem status at write
      * time (no extra RPC: the listing that discovers the file carries it).
      * Feeds table-size statistics to Catalyst so small lake tables
      * auto-broadcast in joins. 0 = unknown (pre-stats commits). */
    bytes: Long = 0L,
    /** Per-column (exact sum, non-null count) for the table's declared
      * `sumColumns` — SUM/COUNT(col) data-skipping metadata beyond
      * min/max, so unfiltered SUM/AVG aggregates answer from the commit
      * log without opening a data file. Sums are rendered as plain
      * decimal strings (integral and decimal columns only — the types
      * whose sums are exact and addition-order-independent, unlike
      * floats). Collected by a one-pass executor job over just-written
      * files (parquet footers carry min/max/nullCount but never sums). */
    colSums: Map[String, (String, Long)] = Map.empty)

/** Table-level column statistics from `ANALYZE TABLE` — NDV + null count
  * per analyzed column plus the snapshot row count, persisted on the
  * analyze commit and surfaced through DSv2 `SupportsReportStatistics`
  * so Catalyst's cost-based optimizer can estimate join cardinalities
  * (and hence reorder multi-fact joins). `rows` is the exact live-row
  * count at analyze time; `ndv` is HLL++-estimated (Spark's own ANALYZE
  * does the same). */
case class ColumnStatValues(ndv: Long, nulls: Long)
case class TableStats(rows: Long, cols: Map[String, ColumnStatValues])

/** A committed version of the table: files added/removed plus metadata.
  * `commitTime` uses Hudi's timeline shape `yyyyMMddHHmmssSSS`
  * (`/root/reference/README.md:352`).
  *
  * `txn` is the table's cumulative idempotent-transaction watermark map
  * (Delta's `txnAppId`/`txnVersion` analog): for each application id, the
  * highest transaction version already applied. Carried denormalized on
  * every commit so the latest commit alone answers "was this batch already
  * written?" — the exactly-once guard for streaming `foreachBatch` replays. */
case class Commit(
    version: Long,
    commitTime: String,
    operation: String,
    schemaJson: String,
    spec: TableSpec,
    add: Seq[FileAction],
    remove: Seq[String],
    txn: Map[String, Long] = Map.empty,
    /** Set only on `analyze` commits; readers walk back to the newest
      * commit carrying stats ([[graft.lake.LakeTable.tableStats]]). */
    tableStats: Option[TableStats] = None,
    /** Set only on `copy_into` commits: the source files this commit
      * loaded. The union over history is COPY INTO's already-loaded set
      * (Delta's file-dedup ledger analog) — per-commit, never
      * denormalized, so commit size tracks its own load. */
    copyFiles: Seq[String] = Seq.empty,
    /** Cumulative identity high-water marks: for each
      * [[TableSpec.identity]] column, the highest (per `step` direction:
      * latest) value ever allocated. Denormalized on every commit like
      * `txn`, so the latest commit alone answers "what id comes next" —
      * ids are never reused, even across delete/overwrite. */
    identityHigh: Map[String, Long] = Map.empty,
    /** Versions pinned against vacuum (Hudi savepoint analog): every
      * pinned version's snapshot files survive cleaning regardless of the
      * retention window, so time travel / restore to it always works.
      * Denormalized cumulative like `txn`. */
    savepoints: Seq[Long] = Seq.empty)

/** Another writer claimed this commit version first. Callers rebase: re-read
  * the snapshot, recompute, retry at the next version ([[graft.lake.LakeTable]]
  * does this automatically, bounded, for every table mutation). */
class CommitConflictException(val tablePath: String, val version: Long)
  extends RuntimeException(
    s"commit $version at $tablePath was claimed by a concurrent writer")

/** JSON commit log under `<table>/_graft_log/`, the engine's analog of
  * Delta's `_delta_log` (`/root/reference/README.md:1232-1237`) and Hudi's
  * `.hoodie` timeline. Driver-side metadata only. Multi-writer safe via
  * optimistic concurrency: version files are claimed atomically (see
  * [[CommitLog.publish]]) and a losing writer rebases — the Delta commit
  * protocol. Uses Jackson from Spark's classpath — no extra deps.
  */
object CommitLog {
  private val mapper = new ObjectMapper()

  def logDir(tablePath: String) = new Path(tablePath, "_graft_log")

  private def fs(p: Path, conf: Configuration): FileSystem = p.getFileSystem(conf)

  private def fileFor(tablePath: String, version: Long): Path =
    new Path(logDir(tablePath), f"$version%020d.json")

  // ---- log-op counters ---------------------------------------------------
  // Always on and process-wide: every log-dir listing and commit read bumps
  // one counter, so the driver-side log cost of any operation is the
  // difference of two [[logOps]] snapshots taken around it.
  private val versionListings = new AtomicLong
  private val checkpointListings = new AtomicLong
  private val commitHits = new AtomicLong
  private val commitMisses = new AtomicLong

  private[graft] def logOps: LogOps = LogOps(versionListings.get, checkpointListings.get,
    commitHits.get, commitMisses.get)

  def listVersions(tablePath: String, conf: Configuration): Seq[Long] = {
    versionListings.incrementAndGet()
    val dir = logDir(tablePath)
    val f = fs(dir, conf)
    if (!f.exists(dir)) Seq.empty
    else
      f.listStatus(dir).toSeq
        .map(_.getPath.getName)
        .filter(n => n.endsWith(".json") && !n.endsWith(".checkpoint.json"))
        .map(_.stripSuffix(".json").toLong)
        .sorted
  }

  def latestVersion(tablePath: String, conf: Configuration): Option[Long] =
    listVersions(tablePath, conf).lastOption

  def write(tablePath: String, c: Commit, conf: Configuration): Unit = {
    val root = mapper.createObjectNode()
    root.put("version", c.version)
    root.put("commitTime", c.commitTime)
    root.put("operation", c.operation)
    root.put("schema", c.schemaJson)
    val spec = root.putObject("spec")
    spec.put("key", c.spec.key)
    spec.put("precombine", c.spec.precombine)
    c.spec.partition.foreach(spec.put("partition", _))
    spec.put("mor", c.spec.mor)
    if (c.spec.bloomBitsPerKey > 0) spec.put("bloomBitsPerKey", c.spec.bloomBitsPerKey)
    if (c.spec.buckets > 0) spec.put("buckets", c.spec.buckets)
    if (c.spec.autoCompactFiles > 0) spec.put("autoCompactFiles", c.spec.autoCompactFiles)
    if (c.spec.autoCompactLogs > 0) spec.put("autoCompactLogs", c.spec.autoCompactLogs)
    if (c.spec.constraints.nonEmpty) {
      val cons = spec.putObject("constraints")
      c.spec.constraints.foreach { case (name, sql) => cons.put(name, sql) }
    }
    if (c.spec.statsColumns.nonEmpty) {
      val sc = spec.putArray("statsColumns")
      c.spec.statsColumns.foreach(sc.add)
    }
    if (c.spec.sumColumns.nonEmpty) {
      val sc = spec.putArray("sumColumns")
      c.spec.sumColumns.foreach(sc.add)
    }
    if (c.spec.bloomColumns.nonEmpty) {
      val bc = spec.putArray("bloomColumns")
      c.spec.bloomColumns.foreach(bc.add)
    }
    if (c.spec.writeSortColumns.nonEmpty) {
      val ws = spec.putArray("writeSortColumns")
      c.spec.writeSortColumns.foreach(ws.add)
    }
    if (c.spec.columnMap.nonEmpty) {
      val cm = spec.putObject("columnMap")
      c.spec.columnMap.foreach { case (l, p) => cm.put(l, p) }
    }
    if (c.spec.generated.nonEmpty) {
      val g = spec.putObject("generated")
      c.spec.generated.foreach { case (n, e) => g.put(n, e) }
    }
    if (c.spec.identity.nonEmpty) {
      val idn = spec.putObject("identity")
      c.spec.identity.foreach { case (n, d) =>
        val e = idn.putObject(n); e.put("start", d.start); e.put("step", d.step)
      }
    }
    if (c.spec.defaults.nonEmpty) {
      val df = spec.putObject("defaults")
      c.spec.defaults.foreach { case (n, e) => df.put(n, e) }
    }
    if (c.spec.existenceDefaults.nonEmpty) {
      val ed = spec.putObject("existenceDefaults")
      c.spec.existenceDefaults.foreach { case (n, e) => ed.put(n, e) }
    }
    val adds = root.putArray("add")
    c.add.foreach { a =>
      val n = adds.addObject()
      n.put("path", a.path); n.put("log", a.log); n.put("rows", a.rows)
      n.put("minKey", a.minKey); n.put("maxKey", a.maxKey)
      n.put("numericKey", a.numericKey)
      a.partitionValue.foreach(n.put("partitionValue", _))
      a.base.foreach(n.put("base", _))
      if (a.tombstone) n.put("tombstone", true)
      a.dv.foreach(n.put("dv", _))
      if (a.dvRows != 0) n.put("dvRows", a.dvRows)
      if (a.bytes != 0) n.put("bytes", a.bytes)
      if (a.colStats.nonEmpty) {
        val cs = n.putObject("colStats")
        a.colStats.foreach { case (c, mm) =>
          val e = cs.putObject(c); e.put("min", mm._1); e.put("max", mm._2)
        }
      }
      writeColSums(n, a)
    }
    val rm = root.putArray("remove")
    c.remove.foreach(rm.add)
    if (c.txn.nonEmpty) {
      val tx = root.putObject("txn")
      c.txn.foreach { case (app, v) => tx.put(app, v) }
    }
    c.tableStats.foreach { ts =>
      val n = root.putObject("tableStats")
      n.put("rows", ts.rows)
      val cols = n.putObject("cols")
      ts.cols.foreach { case (name, cs) =>
        val e = cols.putObject(name); e.put("ndv", cs.ndv); e.put("nulls", cs.nulls)
      }
    }
    if (c.copyFiles.nonEmpty) {
      val cf = root.putArray("copyFiles")
      c.copyFiles.foreach(cf.add)
    }
    if (c.identityHigh.nonEmpty) {
      val ih = root.putObject("identityHigh")
      c.identityHigh.foreach { case (n, v) => ih.put(n, v) }
    }
    if (c.savepoints.nonEmpty) {
      val sp = root.putArray("savepoints")
      c.savepoints.foreach(sp.add)
    }

    val target = fileFor(tablePath, c.version)
    val f = fs(target, conf)
    f.mkdirs(logDir(tablePath))
    // write-then-rename so a reader never sees a torn commit file
    val tmp = new Path(logDir(tablePath), s".${c.version}-${java.util.UUID.randomUUID()}.json.tmp")
    val out = f.create(tmp, true)
    out.write(mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
    out.close()
    publish(f, tmp, target, tablePath, c.version)
  }

  /** Publish the staged commit file: the commit is live the instant the
    * final name appears, and exactly ONE writer may claim a version — the
    * loser gets [[CommitConflictException]] and rebases. On local paths the
    * claim is a POSIX hard link (`link(2)` fails `EEXIST` atomically — the
    * local analog of HDFS's atomic no-overwrite rename; a bare local
    * `rename` would silently overwrite the winner). Elsewhere it is
    * exists+rename: atomic on HDFS, while object stores need an external
    * commit coordinator — the same caveat Delta documents for S3. */
  private def publish(f: FileSystem, tmp: Path, target: Path,
      tablePath: String, version: Long): Unit = {
    def conflict(): Nothing = {
      f.delete(tmp, false)
      throw new CommitConflictException(tablePath, version)
    }
    val scheme = Option(f.makeQualified(target).toUri.getScheme)
    if (scheme.forall(_ == "file")) {
      val src = java.nio.file.Paths.get(f.makeQualified(tmp).toUri.getPath)
      val dst = java.nio.file.Paths.get(f.makeQualified(target).toUri.getPath)
      try java.nio.file.Files.createLink(dst, src)
      catch { case _: java.nio.file.FileAlreadyExistsException => conflict() }
      f.delete(tmp, false)
      ()
    } else {
      if (f.exists(target)) conflict()
      if (!f.rename(tmp, target)) conflict()
    }
  }

  /** Atomically create an empty marker file: true iff THIS caller created
    * it. Local paths use NIO `createFile` (O_EXCL); others best-effort
    * exists+create-no-overwrite (atomic on HDFS). Used to claim write-id
    * directories so concurrent attempts never share one. */
  private[lake] def claimMarker(f: FileSystem, marker: Path): Boolean =
    try {
      f.mkdirs(marker.getParent)
      val q = f.makeQualified(marker)
      if (Option(q.toUri.getScheme).forall(_ == "file")) {
        try {
          java.nio.file.Files.createFile(java.nio.file.Paths.get(q.toUri.getPath))
          true
        } catch { case _: java.nio.file.FileAlreadyExistsException => false }
      } else {
        if (f.exists(marker)) false
        else { val out = f.create(marker, false); out.close(); true }
      }
    } catch { case scala.util.control.NonFatal(_) => false }

  // commit files are immutable once renamed into place, so reads are safe
  // to memoize — spec/schema accessors hit the latest commit many times per
  // operation, and on object stores every uncached read is a network call.
  // (create() deletes and rewrites commit 0 pre-publish — it invalidates.)
  private val readCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, Commit](64, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, Commit]): Boolean =
        size() > 256
    })

  private[lake] def invalidate(tablePath: String, version: Long): Unit = {
    readCache.remove(s"$tablePath#$version")
    ()
  }

  /** Drop every cached commit for a table — a new table created at a
    * previously-used path (DROP + CREATE) must not see the old log. */
  private[lake] def invalidateTable(tablePath: String): Unit = {
    readCache.synchronized {
      val it = readCache.keySet().iterator()
      while (it.hasNext) if (it.next().startsWith(tablePath + "#")) it.remove()
    }
    invalidateCheckpoints(tablePath)
  }

  def read(tablePath: String, version: Long, conf: Configuration): Commit = {
    val key = s"$tablePath#$version"
    val cached = readCache.get(key)
    if (cached != null) { commitHits.incrementAndGet(); return cached }
    commitMisses.incrementAndGet()
    val p = fileFor(tablePath, version)
    val in = fs(p, conf).open(p)
    val root = try mapper.readTree(in) finally in.close()
    val c = parse(root)
    readCache.put(key, c)
    c
  }

  private def readColStats(n: JsonNode): Map[String, (String, String)] = {
    if (!n.hasNonNull("colStats")) return Map.empty
    val m = scala.collection.mutable.LinkedHashMap.empty[String, (String, String)]
    val it = n.get("colStats").asInstanceOf[ObjectNode].fields()
    while (it.hasNext) {
      val e = it.next()
      m(e.getKey) = (e.getValue.get("min").asText, e.getValue.get("max").asText)
    }
    m.toMap
  }

  private def writeColSums(n: ObjectNode, a: FileAction): Unit =
    if (a.colSums.nonEmpty) {
      val cs = n.putObject("colSums")
      a.colSums.foreach { case (c, sv) =>
        val e = cs.putObject(c); e.put("sum", sv._1); e.put("nonNull", sv._2)
      }
    }

  private def readColSums(n: JsonNode): Map[String, (String, Long)] = {
    if (!n.hasNonNull("colSums")) return Map.empty
    val m = scala.collection.mutable.LinkedHashMap.empty[String, (String, Long)]
    val it = n.get("colSums").asInstanceOf[ObjectNode].fields()
    while (it.hasNext) {
      val e = it.next()
      m(e.getKey) = (e.getValue.get("sum").asText, e.getValue.get("nonNull").asLong)
    }
    m.toMap
  }

  private def parse(root: JsonNode): Commit = {
    def optText(n: JsonNode, field: String): Option[String] =
      if (n.hasNonNull(field)) Some(n.get(field).asText) else None
    val specN = root.get("spec")
    val spec = TableSpec(
      key = specN.get("key").asText,
      precombine = specN.get("precombine").asText,
      partition = optText(specN, "partition"),
      mor = specN.get("mor").asBoolean,
      bloomBitsPerKey =
        if (specN.hasNonNull("bloomBitsPerKey")) specN.get("bloomBitsPerKey").asInt else 0,
      buckets = if (specN.hasNonNull("buckets")) specN.get("buckets").asInt else 0,
      autoCompactFiles =
        if (specN.hasNonNull("autoCompactFiles")) specN.get("autoCompactFiles").asInt else 0,
      autoCompactLogs =
        if (specN.hasNonNull("autoCompactLogs")) specN.get("autoCompactLogs").asInt else 0,
      constraints = {
        val m = scala.collection.mutable.LinkedHashMap.empty[String, String]
        if (specN.hasNonNull("constraints")) {
          val it = specN.get("constraints").asInstanceOf[ObjectNode].fields()
          while (it.hasNext) { val e = it.next(); m(e.getKey) = e.getValue.asText }
        }
        m.toMap
      },
      statsColumns = {
        val b = ArrayBuffer.empty[String]
        if (specN.hasNonNull("statsColumns"))
          specN.get("statsColumns").asInstanceOf[ArrayNode].forEach(x => b += x.asText)
        b.toSeq
      },
      sumColumns = {
        val b = ArrayBuffer.empty[String]
        if (specN.hasNonNull("sumColumns"))
          specN.get("sumColumns").asInstanceOf[ArrayNode].forEach(x => b += x.asText)
        b.toSeq
      },
      bloomColumns = {
        val b = ArrayBuffer.empty[String]
        if (specN.hasNonNull("bloomColumns"))
          specN.get("bloomColumns").asInstanceOf[ArrayNode].forEach(x => b += x.asText)
        b.toSeq
      },
      writeSortColumns = {
        val b = ArrayBuffer.empty[String]
        if (specN.hasNonNull("writeSortColumns"))
          specN.get("writeSortColumns").asInstanceOf[ArrayNode].forEach(x => b += x.asText)
        b.toSeq
      },
      columnMap = {
        val m = scala.collection.mutable.LinkedHashMap.empty[String, String]
        if (specN.hasNonNull("columnMap")) {
          val it = specN.get("columnMap").asInstanceOf[ObjectNode].fields()
          while (it.hasNext) { val e = it.next(); m(e.getKey) = e.getValue.asText }
        }
        m.toMap
      },
      generated = {
        val m = scala.collection.mutable.LinkedHashMap.empty[String, String]
        if (specN.hasNonNull("generated")) {
          val it = specN.get("generated").asInstanceOf[ObjectNode].fields()
          while (it.hasNext) { val e = it.next(); m(e.getKey) = e.getValue.asText }
        }
        m.toMap
      },
      identity = {
        val m = scala.collection.mutable.LinkedHashMap.empty[String, IdentityDef]
        if (specN.hasNonNull("identity")) {
          val it = specN.get("identity").asInstanceOf[ObjectNode].fields()
          while (it.hasNext) {
            val e = it.next()
            m(e.getKey) = IdentityDef(
              e.getValue.get("start").asLong, e.getValue.get("step").asLong)
          }
        }
        m.toMap
      },
      defaults = {
        val m = scala.collection.mutable.LinkedHashMap.empty[String, String]
        if (specN.hasNonNull("defaults")) {
          val it = specN.get("defaults").asInstanceOf[ObjectNode].fields()
          while (it.hasNext) { val e = it.next(); m(e.getKey) = e.getValue.asText }
        }
        m.toMap
      },
      existenceDefaults = {
        val m = scala.collection.mutable.LinkedHashMap.empty[String, String]
        if (specN.hasNonNull("existenceDefaults")) {
          val it = specN.get("existenceDefaults").asInstanceOf[ObjectNode].fields()
          while (it.hasNext) { val e = it.next(); m(e.getKey) = e.getValue.asText }
        }
        m.toMap
      })
    val adds = ArrayBuffer.empty[FileAction]
    root.get("add").asInstanceOf[ArrayNode].forEach { n =>
      adds += FileAction(
        n.get("path").asText, n.get("log").asBoolean, n.get("rows").asLong,
        n.get("minKey").asText, n.get("maxKey").asText,
        n.get("numericKey").asBoolean, optText(n, "partitionValue"),
        optText(n, "base"),
        n.hasNonNull("tombstone") && n.get("tombstone").asBoolean,
        readColStats(n),
        optText(n, "dv"),
        if (n.hasNonNull("dvRows")) n.get("dvRows").asLong else 0L,
        if (n.hasNonNull("bytes")) n.get("bytes").asLong else 0L,
        colSums = readColSums(n))
    }
    val removes = ArrayBuffer.empty[String]
    root.get("remove").asInstanceOf[ArrayNode].forEach(n => removes += n.asText)
    val txn = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    if (root.hasNonNull("txn")) {
      val it = root.get("txn").asInstanceOf[ObjectNode].fields()
      while (it.hasNext) { val e = it.next(); txn(e.getKey) = e.getValue.asLong }
    }
    val tableStats =
      if (!root.hasNonNull("tableStats")) None
      else {
        val n = root.get("tableStats")
        val cols = scala.collection.mutable.LinkedHashMap.empty[String, ColumnStatValues]
        val it = n.get("cols").asInstanceOf[ObjectNode].fields()
        while (it.hasNext) {
          val e = it.next()
          cols(e.getKey) = ColumnStatValues(
            e.getValue.get("ndv").asLong, e.getValue.get("nulls").asLong)
        }
        Some(TableStats(n.get("rows").asLong, cols.toMap))
      }
    Commit(
      version = root.get("version").asLong,
      commitTime = root.get("commitTime").asText,
      operation = root.get("operation").asText,
      schemaJson = root.get("schema").asText,
      spec = spec,
      add = adds.toSeq,
      remove = removes.toSeq,
      txn = txn.toMap,
      tableStats = tableStats,
      copyFiles = {
        val b = ArrayBuffer.empty[String]
        if (root.hasNonNull("copyFiles"))
          root.get("copyFiles").asInstanceOf[ArrayNode].forEach(x => b += x.asText)
        b.toSeq
      },
      identityHigh = {
        val m = scala.collection.mutable.LinkedHashMap.empty[String, Long]
        if (root.hasNonNull("identityHigh")) {
          val it = root.get("identityHigh").asInstanceOf[ObjectNode].fields()
          while (it.hasNext) { val e = it.next(); m(e.getKey) = e.getValue.asLong }
        }
        m.toMap
      },
      savepoints = {
        val b = ArrayBuffer.empty[Long]
        if (root.hasNonNull("savepoints"))
          root.get("savepoints").asInstanceOf[ArrayNode].forEach(x => b += x.asLong)
        b.toSeq
      })
  }

  /** Replay commits 0..version: the live file set (adds minus later
    * removes). Within a commit, removes apply FIRST: a deletion-vector
    * commit lists the same path in both (remove the old action, re-add it
    * with the new DV) so change consumers see the pre/post pair. */
  def snapshotFiles(commits: Seq[Commit]): Seq[FileAction] =
    replay(Seq.empty, commits.sortBy(_.version))

  /** `live` with `commits` applied in order, removes first within each. */
  private[lake] def replay(live: Seq[FileAction], commits: Seq[Commit]): Seq[FileAction] = {
    val out = scala.collection.mutable.LinkedHashMap.empty[String, FileAction]
    live.foreach(a => out(a.path) = a)
    commits.foreach { c =>
      c.remove.foreach(out.remove)
      c.add.foreach(a => out(a.path) = a)
    }
    out.values.toSeq
  }

  // ---- checkpoints -----------------------------------------------------
  // Every CHECKPOINT_INTERVAL commits a consolidated live-file list lands
  // next to the log (the Delta `checkpoint` pattern): snapshot resolution
  // reads one checkpoint + the commit tail instead of every commit since
  // version 0 — O(1) driver metadata work regardless of table age.
  //
  // Checkpoints are COLUMNAR (one parquet dir per checkpoint — the Delta
  // checkpoint.parquet analog) whenever a SparkSession is active at write
  // time: at millions of live files a JSON checkpoint funnels the whole
  // file list through driver-side Jackson on every snapshot resolution,
  // while parquet parses columnar and compressed. The JSON form remains
  // the session-less WRITE fallback; reads of either form are session-less
  // and conf-based (parquet goes straight through parquet-hadoop, see
  // [[readParquetCheckpoint]]); immutable once published, so reads
  // memoize ([[ckptCache]]).

  val CHECKPOINT_INTERVAL = 10

  private def checkpointFile(tablePath: String, version: Long): Path =
    new Path(logDir(tablePath), f"$version%020d.checkpoint.json")

  private def checkpointParquetDir(tablePath: String, version: Long): Path =
    new Path(logDir(tablePath), f"$version%020d.checkpoint.parquet")

  def listCheckpoints(tablePath: String, conf: Configuration): Seq[Long] = {
    checkpointListings.incrementAndGet()
    val dir = logDir(tablePath)
    val f = fs(dir, conf)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq.map(_.getPath.getName)
      .collect {
        case n if n.endsWith(".checkpoint.json") && !n.startsWith(".") =>
          n.stripSuffix(".checkpoint.json").toLong
        case n if n.endsWith(".checkpoint.parquet") && !n.startsWith(".") =>
          n.stripSuffix(".checkpoint.parquet").toLong
      }.distinct.sorted
  }

  def writeCheckpoint(tablePath: String, version: Long, files: Seq[FileAction],
      conf: Configuration): Unit = {
    val root = mapper.createObjectNode()
    root.put("version", version)
    val arr = root.putArray("files")
    files.foreach { a =>
      val n = arr.addObject()
      n.put("path", a.path); n.put("log", a.log); n.put("rows", a.rows)
      n.put("minKey", a.minKey); n.put("maxKey", a.maxKey)
      n.put("numericKey", a.numericKey)
      a.partitionValue.foreach(n.put("partitionValue", _))
      a.base.foreach(n.put("base", _))
      if (a.tombstone) n.put("tombstone", true)
      a.dv.foreach(n.put("dv", _))
      if (a.dvRows != 0) n.put("dvRows", a.dvRows)
      if (a.bytes != 0) n.put("bytes", a.bytes)
      if (a.colStats.nonEmpty) {
        val cs = n.putObject("colStats")
        a.colStats.foreach { case (c, mm) =>
          val e = cs.putObject(c); e.put("min", mm._1); e.put("max", mm._2)
        }
      }
      writeColSums(n, a)
    }
    val target = checkpointFile(tablePath, version)
    val f = fs(target, conf)
    val tmp = new Path(logDir(tablePath), s".$version.checkpoint.tmp")
    val out = f.create(tmp, true)
    out.write(mapper.writeValueAsBytes(root))
    out.close()
    f.delete(target, false)
    f.rename(tmp, target)
  }

  /** Columnar checkpoint write: the live-file list as one parquet dir
    * (write-then-rename — a reader never sees a torn checkpoint). Row
    * order is preserved through an explicit `idx` column so the resolved
    * snapshot's file order is identical to the JSON form's. */
  private[graft] def writeParquetCheckpoint(tablePath: String, version: Long,
      files: Seq[FileAction], conf: Configuration,
      ss: org.apache.spark.sql.SparkSession): Unit = {
    import ss.implicits._
    val rows = files.zipWithIndex.map { case (a, i) =>
      CheckpointRow(i.toLong, a.path, a.log, a.rows, a.minKey, a.maxKey,
        a.numericKey, a.partitionValue, a.base, a.tombstone, a.colStats,
        a.dv, a.dvRows, a.bytes, a.colSums)
    }
    val target = checkpointParquetDir(tablePath, version)
    val f = fs(target, conf)
    val tmp = new Path(logDir(tablePath), s".$version.checkpoint.parquet.tmp")
    f.delete(tmp, true)
    rows.toDS().coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    f.delete(target, true)
    f.rename(tmp, target)
    ()
  }

  // checkpoints are immutable once renamed into place — memoize reads (a
  // snapshot resolution otherwise re-parses the checkpoint every call)
  private val ckptCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, Seq[FileAction]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Seq[FileAction]]): Boolean = size() > 64
    })

  private[lake] def invalidateCheckpoints(tablePath: String): Unit =
    ckptCache.synchronized {
      val it = ckptCache.keySet().iterator()
      while (it.hasNext) if (it.next().startsWith(tablePath + "#")) it.remove()
    }

  def readCheckpoint(tablePath: String, version: Long, conf: Configuration): Seq[FileAction] = {
    val key = s"$tablePath#$version"
    val cached = ckptCache.get(key)
    if (cached != null) return cached
    val pq = checkpointParquetDir(tablePath, version)
    val files =
      if (fs(pq, conf).exists(pq)) readParquetCheckpoint(pq, conf)
      else readJsonCheckpoint(tablePath, version, conf)
    ckptCache.put(key, files)
    files
  }

  /** Conf-based columnar checkpoint read, straight through parquet-hadoop —
    * no SparkSession required (both checkpoint forms stay readable from
    * session-less code), the passed Configuration is honored (a filesystem
    * configured only through it works), and resolving a snapshot never
    * schedules a Spark job for what is driver-side metadata. */
  private def readParquetCheckpoint(dir: Path, conf: Configuration): Seq[FileAction] = {
    import org.apache.parquet.example.data.Group
    import org.apache.parquet.hadoop.ParquetReader
    import org.apache.parquet.hadoop.example.GroupReadSupport

    def has(g: Group, field: String): Boolean =
      g.getType.containsField(field) && g.getFieldRepetitionCount(field) > 0
    def optStr(g: Group, field: String): Option[String] =
      if (has(g, field)) Some(g.getString(field, 0)) else None
    def lng(g: Group, field: String): Long = if (has(g, field)) g.getLong(field, 0) else 0L
    def bool(g: Group, field: String): Boolean = has(g, field) && g.getBoolean(field, 0)
    // map<string, struct<_1, _2>> — tolerate BOTH parquet MAP layouts: the
    // modern one names the repeated group `key_value`, the legacy Spark
    // layout (spark.sql.parquet.writeLegacyFormat=true at checkpoint-write
    // time) names it `map`. Without this, one legacy-conf checkpoint write
    // makes every later snapshot resolution throw, wedging the table.
    def tupleMap[V](g: Group, field: String, second: Group => V): Map[String, (String, V)] =
      if (!has(g, field)) Map.empty
      else {
        val m = g.getGroup(field, 0)
        val kvField =
          if (m.getType.containsField("key_value")) "key_value"
          else if (m.getType.containsField("map")) "map"
          else throw new IllegalStateException(
            s"checkpoint MAP field '$field' uses an unrecognized parquet " +
              "layout: the repeated group must be named 'key_value' " +
              "(standard) or 'map' (legacy Spark writeLegacyFormat); got " +
              m.getType.toString.replaceAll("\\s+", " "))
        (0 until m.getFieldRepetitionCount(kvField)).map { i =>
          val kv = m.getGroup(kvField, i)
          val v = kv.getGroup("value", 0)
          kv.getString("key", 0) -> (v.getString("_1", 0), second(v))
        }.toMap
      }

    val f = fs(dir, conf)
    val parts = f.listStatus(dir).toSeq.map(_.getPath)
      .filter(p => p.getName.endsWith(".parquet") && !p.getName.startsWith("."))
      .sortBy(_.getName)
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, FileAction)]
    parts.foreach { part =>
      val reader = ParquetReader
        .builder[Group](new GroupReadSupport(), part).withConf(conf).build()
      try {
        var g = reader.read()
        while (g != null) {
          rows += ((lng(g, "idx"), FileAction(
            g.getString("path", 0), bool(g, "log"), lng(g, "rows"),
            g.getString("minKey", 0), g.getString("maxKey", 0),
            bool(g, "numericKey"), optStr(g, "partitionValue"), optStr(g, "base"),
            bool(g, "tombstone"), tupleMap(g, "colStats", _.getString("_2", 0)),
            optStr(g, "dv"), lng(g, "dvRows"), lng(g, "bytes"),
            colSums = tupleMap(g, "colSums", _.getLong("_2", 0)))))
          g = reader.read()
        }
      } finally reader.close()
    }
    rows.sortBy(_._1).map(_._2).toSeq
  }

  private def readJsonCheckpoint(tablePath: String, version: Long,
      conf: Configuration): Seq[FileAction] = {
    val p = checkpointFile(tablePath, version)
    val in = fs(p, conf).open(p)
    val root = try mapper.readTree(in) finally in.close()
    val files = ArrayBuffer.empty[FileAction]
    root.get("files").asInstanceOf[ArrayNode].forEach { n =>
      files += FileAction(
        n.get("path").asText, n.get("log").asBoolean, n.get("rows").asLong,
        n.get("minKey").asText, n.get("maxKey").asText, n.get("numericKey").asBoolean,
        if (n.hasNonNull("partitionValue")) Some(n.get("partitionValue").asText) else None,
        if (n.hasNonNull("base")) Some(n.get("base").asText) else None,
        n.hasNonNull("tombstone") && n.get("tombstone").asBoolean,
        readColStats(n),
        if (n.hasNonNull("dv")) Some(n.get("dv").asText) else None,
        if (n.hasNonNull("dvRows")) n.get("dvRows").asLong else 0L,
        if (n.hasNonNull("bytes")) n.get("bytes").asLong else 0L,
        colSums = readColSums(n))
    }
    files.toSeq
  }

  /** Live files at `asOf` (or latest): latest checkpoint ≤ asOf + commit
    * tail replay. */
  def liveFiles(tablePath: String, asOf: Option[Long], conf: Configuration): Seq[FileAction] =
    liveFiles(tablePath, listVersions(tablePath, conf), listCheckpoints(tablePath, conf), asOf, conf)

  /** [[liveFiles]] over the caller's own version and checkpoint listings,
    * so one pair of listings can resolve several versions. */
  def liveFiles(tablePath: String, versions: Seq[Long], checkpoints: Seq[Long],
      asOf: Option[Long], conf: Configuration): Seq[FileAction] = {
    if (versions.isEmpty) return Seq.empty
    val target = asOf.map(v => math.min(v, versions.last)).getOrElse(versions.last)
    val cp = checkpoints.filter(_ <= target).lastOption
    val base = cp.map(readCheckpoint(tablePath, _, conf)).getOrElse(Seq.empty)
    replay(base, versions.filter(v => v > cp.getOrElse(-1L) && v <= target)
      .map(read(tablePath, _, conf)))
  }

  /** Write a checkpoint of `live` (the live set at `version`, resolved
    * only when one is due) when the version hits the interval — columnar
    * (parquet) when a SparkSession is active, JSON otherwise (and for the
    * empty-file-list edge, where a parquet dir would carry no schema). */
  def maybeCheckpoint(tablePath: String, version: Long, conf: Configuration)(
      live: => Seq[FileAction]): Unit =
    if (version > 0 && version % CHECKPOINT_INTERVAL == 0) {
      val files = live
      org.apache.spark.sql.SparkSession.getActiveSession match {
        case Some(ss) if files.nonEmpty =>
          writeParquetCheckpoint(tablePath, version, files, conf, ss)
        case _ => writeCheckpoint(tablePath, version, files, conf)
      }
    }
}

/** One live file inside a columnar checkpoint — [[FileAction]] plus the
  * original position (`idx`), so the resolved file order is stable across
  * the JSON and parquet forms. Tuple-valued maps encode as
  * `map<string, struct<_1, _2>>`. */
private[lake] case class CheckpointRow(
    idx: Long, path: String, log: Boolean, rows: Long, minKey: String,
    maxKey: String, numericKey: Boolean, partitionValue: Option[String],
    base: Option[String], tombstone: Boolean,
    colStats: Map[String, (String, String)],
    dv: Option[String], dvRows: Long, bytes: Long,
    colSums: Map[String, (String, Long)])

/** A snapshot of [[CommitLog]]'s log-op counters: log-dir listings for
  * versions and for checkpoints, and commit reads split into read-cache
  * hits and misses (a miss parses the commit file). Subtract two
  * snapshots to get the work done in between. */
private[graft] case class LogOps(versionListings: Long, checkpointListings: Long,
    commitHits: Long, commitMisses: Long) {
  def commitReads: Long = commitHits + commitMisses

  def -(o: LogOps): LogOps = LogOps(versionListings - o.versionListings,
    checkpointListings - o.checkpointListings, commitHits - o.commitHits,
    commitMisses - o.commitMisses)
}
