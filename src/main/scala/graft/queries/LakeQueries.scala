package graft.queries

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cdc.{Envelope, Normalize}
import graft.lake.{IdentityDef, LakeTable, TableSpec}

/** Lakehouse operator coverage (SURVEY.md §2.1/§2.8) driven through
  * LakeTable and verified against DuckDB by re-expressing the table's final
  * state as pure SQL over the same inputs. Each query materializes its table
  * under a fresh temp dir, so runs are deterministic and rerunnable.
  */
object LakeQueries {
  import Tables._

  private def freshDir(name: String): String = {
    val p = Paths.get(System.getProperty("java.io.tmpdir"), "graft_lake_q", name)
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    Files.createDirectories(p.getParent)
    p.toString
  }

  /** orders-derived CDC source: bump every 7th order (newer precombine),
    * add brand-new keys for every 13th. */
  private def ordersSource(s: SparkSession, d: String): DataFrame = {
    val o = t(s, d, "orders")
    val updates = o.filter(col("o_orderkey") % 7 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1.0)
      .withColumn("o_orderdate", col("o_orderdate") + expr("INTERVAL 1 DAY"))
      .withColumn("o_orderstatus", lit("U"))
    val inserts = o.filter(col("o_orderkey") % 13 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
      .withColumn("o_orderstatus", lit("N"))
    updates.unionByName(inserts)
  }

  private val ordersSourceSql =
    """SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus, o_totalprice + 1.0 AS o_totalprice,
      |       o_orderdate + INTERVAL 1 DAY AS o_orderdate, o_orderpriority
      |FROM orders WHERE o_orderkey % 7 = 0
      |UNION ALL
      |SELECT o_orderkey + 10000000, o_custkey, 'N', o_totalprice, o_orderdate, o_orderpriority
      |FROM orders WHERE o_orderkey % 13 = 0""".stripMargin

  /** Final-state projection used by the orders scenarios (epoch seconds for
    * hash-stable timestamp compare). */
  private def proj(df: DataFrame): DataFrame = df
    .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_totalprice"), unix_timestamp(col("o_orderdate")).as("od_epoch"))
    .orderBy("o_orderkey")

  private val mergedSql =
    s"""WITH src AS ($ordersSourceSql)
       |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, CAST(epoch(o_orderdate) AS BIGINT) AS od_epoch FROM src
       |UNION ALL
       |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, CAST(epoch(o_orderdate) AS BIGINT)
       |FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
       |ORDER BY o_orderkey""".stripMargin

  private def ordersSpec = TableSpec("o_orderkey", "o_orderdate")

  val defs: Map[String, ((SparkSession, String) => DataFrame, String)] = Map(

    // S6/S7/J2: CoW create + upsert; final state == SQL merge of src over base.
    "q20_lake_cow_upsert" -> ((
      (s: SparkSession, d: String) => {
        val path = freshDir(s"cow_${d.replaceAll("[^a-z0-9.]", "_")}")
        val tbl = LakeTable.create(s, path, ordersSpec, t(s, d, "orders"))
        tbl.upsert(ordersSource(s, d))
        proj(tbl.read())
      },
      mergedSql)),

    // S9/J3: MoR `_rt` merges log files on the fly — same merged state.
    "q21_lake_mor_rt" -> ((
      (s: SparkSession, d: String) => {
        val path = freshDir(s"mor_rt_${d.replaceAll("[^a-z0-9.]", "_")}")
        val tbl = LakeTable.create(s, path, ordersSpec.copy(mor = true), t(s, d, "orders"))
        tbl.upsert(ordersSource(s, d))
        proj(tbl.realtime())
      },
      mergedSql)),

    // S9: MoR `_ro` stays stale for updates but new keys reach base files.
    "q22_lake_mor_ro" -> ((
      (s: SparkSession, d: String) => {
        val path = freshDir(s"mor_ro_${d.replaceAll("[^a-z0-9.]", "_")}")
        val tbl = LakeTable.create(s, path, ordersSpec.copy(mor = true), t(s, d, "orders"))
        tbl.upsert(ordersSource(s, d))
        proj(tbl.readOptimized())
      },
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, CAST(epoch(o_orderdate) AS BIGINT) AS od_epoch FROM orders
        |UNION ALL
        |SELECT o_orderkey + 10000000, o_custkey, 'N', o_totalprice, CAST(epoch(o_orderdate) AS BIGINT)
        |FROM orders WHERE o_orderkey % 13 = 0
        |ORDER BY o_orderkey""".stripMargin)),

    // M2: compaction folds logs into base — `_ro` now equals the merged state.
    "q23_lake_compact" -> ((
      (s: SparkSession, d: String) => {
        val path = freshDir(s"compact_${d.replaceAll("[^a-z0-9.]", "_")}")
        val tbl = LakeTable.create(s, path, ordersSpec.copy(mor = true), t(s, d, "orders"))
        tbl.upsert(ordersSource(s, d)).compact()
        proj(tbl.readOptimized())
      },
      mergedSql)),

    // M3: time travel — version 0 is the pre-upsert snapshot.
    "q24_lake_timetravel" -> ((
      (s: SparkSession, d: String) => {
        val path = freshDir(s"tt_${d.replaceAll("[^a-z0-9.]", "_")}")
        val tbl = LakeTable.create(s, path, ordersSpec, t(s, d, "orders"))
        tbl.upsert(ordersSource(s, d))
        proj(tbl.read(Some(0)))
      },
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, CAST(epoch(o_orderdate) AS BIGINT) AS od_epoch
        |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // Row-level delete (applyDeletes extension): drop all 'U' rows post-merge.
    "q25_lake_delete" -> ((
      (s: SparkSession, d: String) => {
        val path = freshDir(s"del_${d.replaceAll("[^a-z0-9.]", "_")}")
        val tbl = LakeTable.create(s, path, ordersSpec, t(s, d, "orders"))
        tbl.upsert(ordersSource(s, d)).delete(col("o_orderstatus") === "U")
        proj(tbl.read())
      },
      s"""WITH src AS ($ordersSourceSql),
         |merged AS (
         |  SELECT * FROM src
         |  UNION ALL
         |  SELECT * FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src))
         |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, CAST(epoch(o_orderdate) AS BIGINT) AS od_epoch
         |FROM merged WHERE o_orderstatus <> 'U' ORDER BY o_orderkey""".stripMargin)),

    // Generalized MERGE (S11 ext): WHEN MATCHED AND is_deleted THEN DELETE /
    // WHEN MATCHED THEN UPDATE SET * / WHEN NOT MATCHED AND NOT is_deleted
    // THEN INSERT * — first-match-wins clauses through GraftMerge (the same
    // engine the SQL MERGE INTO extension runs).
    "q29_merge_delete" -> ((
      (s: SparkSession, d: String) => {
        val path = freshDir(s"mergedel_${d.replaceAll("[^a-z0-9.]", "_")}")
        val tbl = LakeTable.create(s, path, ordersSpec, t(s, d, "orders"))
        val o = t(s, d, "orders")
        val updates = o.filter(col("o_orderkey") % 7 === 0 && col("o_orderkey") % 11 =!= 0)
          .withColumn("o_totalprice", col("o_totalprice") + 1.0)
          .withColumn("o_orderdate", col("o_orderdate") + expr("INTERVAL 1 DAY"))
          .withColumn("o_orderstatus", lit("U"))
          .withColumn("is_deleted", lit(false))
        val dels = o.filter(col("o_orderkey") % 11 === 0)
          .withColumn("is_deleted", lit(true))
        val inserts = o.filter(col("o_orderkey") % 13 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
          .withColumn("o_orderstatus", lit("N"))
          .withColumn("is_deleted", lit(false))
        val src = updates.unionByName(dels).unionByName(inserts)
        val tgt = tbl.read()
        graft.sql.GraftMerge.execute(tbl, src, tgt,
          src("o_orderkey") === tgt("o_orderkey"),
          matched = Seq(
            graft.sql.GraftMerge.Delete(Some(src("is_deleted"))),
            graft.sql.GraftMerge.UpdateAll(None)),
          notMatched = Seq(graft.sql.GraftMerge.InsertAll(Some(!src("is_deleted")))))
        proj(LakeTable.load(s, path).read())
      },
      """WITH upd AS (
        |  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
        |         o_totalprice + 1.0 AS o_totalprice,
        |         o_orderdate + INTERVAL 1 DAY AS o_orderdate
        |  FROM orders WHERE o_orderkey % 7 = 0 AND o_orderkey % 11 <> 0),
        |ins AS (
        |  SELECT o_orderkey + 10000000 AS o_orderkey, o_custkey,
        |         'N' AS o_orderstatus, o_totalprice, o_orderdate
        |  FROM orders WHERE o_orderkey % 13 = 0)
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |       CAST(epoch(o_orderdate) AS BIGINT) AS od_epoch
        |FROM orders WHERE o_orderkey % 11 <> 0 AND o_orderkey % 7 <> 0
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |       CAST(epoch(o_orderdate) AS BIGINT) FROM upd
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |       CAST(epoch(o_orderdate) AS BIGINT) FROM ins
        |ORDER BY o_orderkey""".stripMargin)),

    // Sync-to-source MERGE: WHEN NOT MATCHED BY SOURCE (Delta's clause)
    // archives target rows the source no longer carries — conditional
    // DELETE plus a catch-all target-side UPDATE, alongside the normal
    // matched/unmatched clauses.
    "q68_merge_sync" -> ((
      (s: SparkSession, d: String) => {
        val path = freshDir(s"mergesync_${d.replaceAll("[^a-z0-9.]", "_")}")
        val tbl = LakeTable.create(s, path, ordersSpec, t(s, d, "orders"))
        val src = t(s, d, "orders").filter(col("o_orderkey") % 3 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 1.0)
          .withColumn("o_orderdate", col("o_orderdate") + expr("INTERVAL 1 DAY"))
          .withColumn("o_orderstatus", lit("U"))
        val tgt = tbl.read()
        graft.sql.GraftMerge.execute(tbl, src, tgt,
          src("o_orderkey") === tgt("o_orderkey"),
          matched = Seq(graft.sql.GraftMerge.UpdateAll(None)),
          notMatched = Seq(graft.sql.GraftMerge.InsertAll(None)),
          notMatchedBySource = Seq(
            graft.sql.GraftMerge.Delete(Some(tgt("o_orderkey") % 5 === 0)),
            graft.sql.GraftMerge.UpdateSet(None,
              Seq("o_orderstatus" -> lit("X")))))
        proj(LakeTable.load(s, path).read())
      },
      """SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
        |       o_totalprice + 1.0 AS o_totalprice,
        |       CAST(epoch(o_orderdate + INTERVAL 1 DAY) AS BIGINT) AS od_epoch
        |FROM orders WHERE o_orderkey % 3 = 0
        |UNION ALL
        |SELECT o_orderkey, o_custkey, 'X', o_totalprice,
        |       CAST(epoch(o_orderdate) AS BIGINT)
        |FROM orders WHERE o_orderkey % 3 <> 0 AND o_orderkey % 5 <> 0
        |ORDER BY o_orderkey""".stripMargin)),

    // Row-level UPDATE (Delta UPDATE ... SET ... WHERE): touched-file
    // rewrite applying assignments only to definitively-matching rows.
    "q66_row_update" -> ((
      (s: SparkSession, d: String) => {
        val path = freshDir(s"update_${d.replaceAll("[^a-z0-9.]", "_")}")
        val tbl = LakeTable.create(s, path, ordersSpec, t(s, d, "orders"))
        tbl.update(col("o_orderkey") % 9 === 0, Map(
          "o_orderstatus" -> lit("X"),
          "o_totalprice" -> (col("o_totalprice") * 2.0)))
        proj(tbl.read())
      },
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 9 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
        |  CASE WHEN o_orderkey % 9 = 0 THEN o_totalprice * 2.0 ELSE o_totalprice END AS o_totalprice,
        |  CAST(epoch(o_orderdate) AS BIGINT) AS od_epoch
        |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // Precombine competition on real duplicates: events keyed by user_id,
    // precombine ts_us; create from 1st half, upsert 2nd → global latest.
    "q26_lake_upsert_latest" -> ((
      (s: SparkSession, d: String) => {
        val path = freshDir(s"latest_${d.replaceAll("[^a-z0-9.]", "_")}")
        val ev = events(s, d).select("event_id", "user_id", "event_type", "value", "ts_us")
        val n = ev.agg(max("event_id")).head().getLong(0) / 2
        val tbl = LakeTable.create(s, path, TableSpec("user_id", "ts_us"),
          ev.filter(col("event_id") <= n))
        tbl.upsert(ev.filter(col("event_id") > n))
        tbl.read().select("user_id", "event_id", "event_type", "ts_us").orderBy("user_id")
      },
      """SELECT user_id, event_id, event_type, epoch_ns(ts)//1000 AS ts_us
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin)),

    // Hudi-style incremental pull: only the rows committed by the upsert.
    "q28_lake_incremental" -> ((
      (s: SparkSession, d: String) => {
        val path = freshDir(s"inc_${d.replaceAll("[^a-z0-9.]", "_")}")
        val tbl = LakeTable.create(s, path, ordersSpec, t(s, d, "orders"))
        tbl.upsert(ordersSource(s, d))
        proj(tbl.incremental(sinceVersion = 0))
      },
      s"""WITH src AS ($ordersSourceSql)
         |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
         |  CAST(epoch(o_orderdate) AS BIGINT) AS od_epoch
         |FROM src ORDER BY o_orderkey""".stripMargin)),

    // Keystone: the reference's full CDC scenario; oracle is the golden
    // 5-row state embedded in the README (README.md:469-573).
    "q27_cdc_golden" -> ((
      (s: SparkSession, d: String) => {
        val path = freshDir("cdc_golden")
        graft.core.GraftSession.ensure(s)
        val tbl = LakeTable.create(s, path,
          TableSpec("pk_id", "updated_at", Some("created_at")),
          Normalize.ingest(Envelope.backfill(s)))
        tbl.upsert(Normalize.ingest(Envelope.cdc(s)))
        tbl.read()
          .select(col("pk_id"), col("name"), col("value"),
            col("source_metadata.change_type").as("change_type"),
            col("source_metadata.is_deleted").as("is_deleted"),
            col("updated_at"), col("created_at"))
          .orderBy("pk_id")
      },
      """SELECT * FROM (VALUES
        |  (1, 'apple',    10,  'INSERT',        false, 1673496078, 1673496078),
        |  (2, 'samsung',  201, 'UPDATE-INSERT', false, 1673496646, 1673496078),
        |  (3, 'dell',     30,  'DELETE',        true,  1673496078, 1673496078),
        |  (4, 'motorola', 40,  'INSERT',        false, 1673496080, 1673496080),
        |  (5, 'htc',      50,  'INSERT',        false, 1673496638, 1673496638)
        |) AS t(pk_id, name, value, change_type, is_deleted, updated_at, created_at)
        |ORDER BY pk_id""".stripMargin)),

    // Dynamic partition overwrite: replace exactly the partitions present
    // in the incoming frame (here 1-URGENT, thinned to every 3rd key with
    // doubled price); every other partition untouched. File selection is
    // commit-log metadata only — the partition-load pattern at scale.
    "q72_partition_overwrite" -> ((
      (s: SparkSession, d: String) => {
        val path = freshDir(s"dpo_${d.replaceAll("[^a-z0-9.]", "_")}")
        val spec = TableSpec("o_orderkey", "o_orderdate", partition = Some("o_orderpriority"))
        val tbl = LakeTable.create(s, path, spec, t(s, d, "orders"))
        val repl = t(s, d, "orders")
          .filter(col("o_orderpriority") === "1-URGENT" && col("o_orderkey") % 3 === 0)
          .withColumn("o_totalprice", col("o_totalprice") * 2.0)
        tbl.overwritePartitions(repl)
        tbl.read()
          .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
          .orderBy("o_orderkey")
      },
      """SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
        |WHERE o_orderpriority <> '1-URGENT'
        |UNION ALL
        |SELECT o_orderkey, o_orderpriority, o_totalprice * 2.0 FROM orders
        |WHERE o_orderpriority = '1-URGENT' AND o_orderkey % 3 = 0
        |ORDER BY o_orderkey""".stripMargin)),

    // Hidden partitioning via generated columns (Delta GENERATED ALWAYS
    // AS): the table partitions on event_date = to_date(timestamp_micros(
    // ts_us)), which no writer ever supplies; a scan filtered on the RAW
    // timestamp prunes whole date partitions through the monotonic
    // transform — at 100 TB a 10-day window opens 1/3 of the files without
    // the query naming a single partition value. The require()s pin that
    // the pruning actually happened (exactly the 10 in-window partitions).
    "q109_hidden_partitioning" -> ((
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThanOrEqual}
        val path = freshDir(s"gen_${d.replaceAll("[^a-z0-9.]", "_")}")
        val spec = TableSpec("event_id", "ts_us", partition = Some("event_date"),
          generated = Map("event_date" -> "to_date(timestamp_micros(ts_us))"))
        val tbl = LakeTable.create(s, path, spec,
          events(s, d).select("event_id", "user_id", "event_type", "ts_us"))
        val lo = 1704844800000000L // 2024-01-10T00:00:00Z in µs
        val hi = 1705708799999999L // 2024-01-19T23:59:59.999999Z
        val fs = Seq(GreaterThanOrEqual("ts_us", lo), LessThanOrEqual("ts_us", hi))
        val snap = tbl.snapshot()
        val all = snap.live
        val kept = tbl.pruneByFilters(all, fs, snap.shape)
        require(kept.size < all.size, "hidden partitioning must prune files")
        val parts = kept.flatMap(_.partitionValue).distinct.sorted
        require(parts.size == 10 && parts.head == "2024-01-10" &&
          parts.last == "2024-01-19", s"transform pruning kept $parts")
        tbl.readWhere(fs)
          .filter(col("ts_us") >= lo && col("ts_us") <= hi)
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("ts_us"), col("event_date"))
          .orderBy("event_id")
      },
      """SELECT event_id, user_id, event_type, epoch_ns(ts)//1000 AS ts_us,
        |  CAST(ts AS DATE) AS event_date
        |FROM events
        |WHERE epoch_ns(ts)//1000 >= 1704844800000000
        |  AND epoch_ns(ts)//1000 <= 1705708799999999
        |ORDER BY event_id""".stripMargin)),

    // GENERATED ALWAYS AS IDENTITY: engine-assigned per-key surrogate ids.
    // Deterministic allocation (md5-of-key order within each batch's new
    // keys, two-phase 256-bucket rank — no global window) lets DuckDB
    // replay the exact assignment: batch 1 draws 1..n1, the upsert's
    // existing keys KEEP their ids while its new keys continue n1+1.. —
    // Delta MERGE UPDATE/INSERT identity parity, hash-exact.
    "q114_identity_columns" -> ((
      (s: SparkSession, d: String) => {
        val path = freshDir(s"ident_${d.replaceAll("[^a-z0-9.]", "_")}")
        val spec = ordersSpec.copy(identity = Map("row_id" -> IdentityDef()))
        val tbl = LakeTable.create(s, path, spec,
          t(s, d, "orders").filter(col("o_orderkey") % 3 === 0))
        // churn: update half the existing keys, insert the %3==1 cohort
        tbl.upsert(t(s, d, "orders")
          .filter(col("o_orderkey") % 6 === 0 || col("o_orderkey") % 3 === 1)
          .withColumn("o_orderstatus", lit("U")))
        tbl.read().select("o_orderkey", "row_id", "o_orderstatus")
          .orderBy("o_orderkey")
      },
      """WITH b1 AS (SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey % 3 = 0),
        |r1 AS (SELECT o_orderkey, ROW_NUMBER() OVER (
        |    ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey) AS row_id FROM b1),
        |b2 AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 3 = 1),
        |r2 AS (SELECT o_orderkey, (SELECT COUNT(*) FROM b1) + ROW_NUMBER() OVER (
        |    ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey) AS row_id FROM b2)
        |SELECT r1.o_orderkey AS o_orderkey, r1.row_id AS row_id,
        |  CASE WHEN r1.o_orderkey % 6 = 0 THEN 'U' ELSE b1.o_orderstatus END AS o_orderstatus
        |FROM r1 JOIN b1 ON r1.o_orderkey = b1.o_orderkey
        |UNION ALL
        |SELECT o_orderkey, row_id, 'U' FROM r2
        |ORDER BY o_orderkey""".stripMargin)),

    // Delta replaceWhere: atomically swap the rows matching a row-level
    // predicate (not a partition boundary) for the incoming frame — rows
    // matching the predicate but absent from the frame are gone.
    "q73_replace_where" -> ((
      (s: SparkSession, d: String) => {
        val path = freshDir(s"rw_${d.replaceAll("[^a-z0-9.]", "_")}")
        val tbl = LakeTable.create(s, path, ordersSpec, t(s, d, "orders"))
        val repl = t(s, d, "orders")
          .filter(col("o_orderkey") % 5 === 0 && col("o_orderkey") % 10 =!= 0)
          .withColumn("o_orderstatus", lit("R"))
          .withColumn("o_totalprice", col("o_totalprice") / 2.0)
        tbl.overwriteWhere(repl, col("o_orderkey") % 5 === 0)
        proj(tbl.read())
      },
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |       CAST(epoch(o_orderdate) AS BIGINT) AS od_epoch
        |FROM orders WHERE o_orderkey % 5 <> 0
        |UNION ALL
        |SELECT o_orderkey, o_custkey, 'R', o_totalprice / 2.0,
        |       CAST(epoch(o_orderdate) AS BIGINT)
        |FROM orders WHERE o_orderkey % 5 = 0 AND o_orderkey % 10 <> 0
        |ORDER BY o_orderkey""".stripMargin)),

    // Shallow clone: metadata-only fork; writes diverge copy-on-write. The
    // clone gets the CDC churn, the source must stay at the base state —
    // the oracle is the merged state (clone) which also proves the fork
    // carried the full source snapshot without copying a byte.
    "q75_shallow_clone" -> ((
      (s: SparkSession, d: String) => {
        val srcPath = freshDir(s"clone_src_${d.replaceAll("[^a-z0-9.]", "_")}")
        val clonePath = freshDir(s"clone_tgt_${d.replaceAll("[^a-z0-9.]", "_")}")
        val src = LakeTable.create(s, srcPath, ordersSpec, t(s, d, "orders"))
        val clone = src.cloneTo(clonePath)
        clone.upsert(ordersSource(s, d))
        // divergence check folded in: the source must still be pristine
        require(src.read().count() == t(s, d, "orders").count(),
          "clone write leaked into the source")
        proj(clone.read())
      },
      mergedSql)),

    // MoR tombstone delete (deletion-vector analog): the keyed delete
    // lands as tombstone log rows — no log fold, no base rewrite — and the
    // `_rt` read filters them out. The require proves compaction did NOT
    // run: tombstone files are still live at read time.
    "q77_mor_tombstone_delete" -> ((
      (s: SparkSession, d: String) => {
        val path = freshDir(s"tomb_${d.replaceAll("[^a-z0-9.]", "_")}")
        val tbl = LakeTable.create(s, path, ordersSpec.copy(mor = true), t(s, d, "orders"))
        tbl.upsert(ordersSource(s, d))
        tbl.deleteKeys(
          t(s, d, "orders").filter(col("o_orderkey") % 11 === 0).select("o_orderkey"))
        require(tbl.commits.flatMap(_.add).exists(_.tombstone),
          "delete must land as tombstones, not a fold")
        proj(tbl.read())
      },
      s"""WITH src AS ($ordersSourceSql),
         |merged AS (
         |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, CAST(epoch(o_orderdate) AS BIGINT) AS od_epoch FROM src
         |  UNION ALL
         |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, CAST(epoch(o_orderdate) AS BIGINT)
         |  FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src))
         |SELECT * FROM merged
         |WHERE o_orderkey NOT IN (SELECT o_orderkey FROM orders WHERE o_orderkey % 11 = 0)
         |ORDER BY o_orderkey""".stripMargin)),

    // Column mapping: RENAME + DROP COLUMN are schema-only commits (zero
    // files touched — the requires prove it), old files read under the new
    // logical names, and a post-rename upsert round-trips through the
    // stable physical field names.
    "q84_column_mapping" -> ((
      (s: SparkSession, d: String) => {
        val path = freshDir(s"cmap_${d.replaceAll("[^a-z0-9.]", "_")}")
        val tbl = LakeTable.create(s, path, ordersSpec, t(s, d, "orders"))
        tbl.renameColumn("o_totalprice", "price")
        tbl.dropColumn("o_orderpriority")
        require(tbl.commits.filter(c => c.version == 1 || c.version == 2)
          .forall(c => c.add.isEmpty && c.remove.isEmpty),
          "rename/drop must be metadata-only commits")
        tbl.upsert(ordersSource(s, d)
          .withColumnRenamed("o_totalprice", "price").drop("o_orderpriority"))
        tbl.read()
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            col("price"), unix_timestamp(col("o_orderdate")).as("od_epoch"))
          .orderBy("o_orderkey")
      },
      s"""WITH src AS ($ordersSourceSql)
         |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice AS price,
         |       CAST(epoch(o_orderdate) AS BIGINT) AS od_epoch FROM src
         |UNION ALL
         |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, CAST(epoch(o_orderdate) AS BIGINT)
         |FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
         |ORDER BY o_orderkey""".stripMargin)),

    // Deletion vectors: two successive row-level deletes land as positional
    // sidecars — the require proves NO data file was rewritten (every
    // post-create add is a re-add of an existing path with a DV attached) —
    // and the snapshot equals the filtered base.
    "q83_deletion_vectors" -> ((
      (s: SparkSession, d: String) => {
        val path = freshDir(s"dv_${d.replaceAll("[^a-z0-9.]", "_")}")
        val tbl = LakeTable.create(s, path, ordersSpec,
          t(s, d, "orders").repartitionByRange(8, col("o_orderkey")), bulkInsert = true)
        val dataFiles = tbl.commits.flatMap(_.add).map(_.path).toSet
        tbl.deleteVectors(col("o_orderkey") % 7 === 0)
        tbl.deleteVectors(col("o_totalprice") > 400000.0)
        require(tbl.commits.filter(_.version > 0).flatMap(_.add)
          .forall(a => a.dv.isDefined && dataFiles.contains(a.path)),
          "DV deletes must not write new data files")
        proj(tbl.read())
      },
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |       CAST(epoch(o_orderdate) AS BIGINT) AS od_epoch
        |FROM orders
        |WHERE NOT (o_orderkey % 7 = 0) AND NOT (o_totalprice > 400000.0)
        |ORDER BY o_orderkey""".stripMargin)),

    // REORG APPLY (PURGE): q83's DV churn, then the purge materializes the
    // soft deletes into clean files — only DV'd files rewrite (require),
    // no DV survives, old files vacuum away, and the content is untouched.
    "q121_reorg_purge" -> ((
      (s: SparkSession, d: String) => {
        val path = freshDir(s"reorg_${d.replaceAll("[^a-z0-9.]", "_")}")
        val tbl = LakeTable.create(s, path, ordersSpec,
          t(s, d, "orders").repartitionByRange(8, col("o_orderkey")), bulkInsert = true)
        // confine the delete to the low key range so only SOME of the 8
        // range-partitioned files take a DV — the purge must leave the
        // clean ones untouched
        val mx = t(s, d, "orders").agg(max("o_orderkey")).head().getLong(0)
        tbl.deleteVectors(col("o_orderkey") % 7 === 0 && col("o_orderkey") <= mx / 8)
        val dvd = tbl.liveFiles(None).filter(_.dv.isDefined).map(_.path).toSet
        val clean = tbl.liveFiles(None).filterNot(_.dv.isDefined).map(_.path).toSet
        require(dvd.nonEmpty && clean.nonEmpty, "need both DV'd and clean files")
        tbl.reorgPurge()
        val after = tbl.liveFiles(None)
        require(after.forall(_.dv.isEmpty), "no DV survives the purge")
        require(clean.subsetOf(after.map(_.path).toSet) &&
          after.map(_.path).toSet.intersect(dvd).isEmpty,
          "exactly the DV'd files must have been rewritten")
        tbl.vacuum(retainVersions = 1)
        proj(LakeTable.load(s, path).read())
      },
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |       CAST(epoch(o_orderdate) AS BIGINT) AS od_epoch
        |FROM orders
        |WHERE NOT (o_orderkey % 7 = 0
        |           AND o_orderkey <= (SELECT MAX(o_orderkey) // 8 FROM orders))
        |ORDER BY o_orderkey""".stripMargin)),

    // Existence defaults: ADD COLUMN … DEFAULT makes pre-add rows read
    // the frozen constant (no rewrite), later explicit values — nulls
    // included — win, and a later omitted column takes the write default.
    // All three populations in one readback, hash-exact.
    "q123_existence_default" -> ((
      (s: SparkSession, d: String) => {
        val path = freshDir(s"ed_${d.replaceAll("[^a-z0-9.]", "_")}")
        val tbl = LakeTable.create(s, path, ordersSpec,
          t(s, d, "orders").filter(col("o_orderkey") % 2 === 0))
        tbl.addColumns(
          Seq(org.apache.spark.sql.types.StructField("priority_score",
            org.apache.spark.sql.types.LongType)),
          defaults = Map("priority_score" -> "5"))
        // explicit values on new keys
        tbl.upsert(t(s, d, "orders").filter(col("o_orderkey") % 4 === 1)
          .withColumn("priority_score", (col("o_orderkey") % 10).cast("long")))
        // explicit NULLs on other new keys — preserved, never defaulted
        tbl.upsert(t(s, d, "orders").filter(col("o_orderkey") % 4 === 3)
          .withColumn("priority_score", lit(null).cast("long")))
        tbl.read().select("o_orderkey", "priority_score").orderBy("o_orderkey")
      },
      """SELECT o_orderkey, CAST(5 AS BIGINT) AS priority_score
        |FROM orders WHERE o_orderkey % 2 = 0
        |UNION ALL
        |SELECT o_orderkey, CAST(o_orderkey % 10 AS BIGINT)
        |FROM orders WHERE o_orderkey % 4 = 1
        |UNION ALL
        |SELECT o_orderkey, CAST(NULL AS BIGINT)
        |FROM orders WHERE o_orderkey % 4 = 3
        |ORDER BY o_orderkey""".stripMargin)),

    // Partition evolution (Iceberg parity): the table starts partitioned
    // by o_orderstatus, evolves to o_orderpriority in a METADATA-ONLY
    // commit, then takes (a) an upsert whose updates hit OLD-era rows and
    // whose inserts land under the NEW layout, and (b) a dynamic partition
    // overwrite of one NEW-column partition — which must route row-level,
    // because old-era files interleave priorities within files. The final
    // readback exercises era-grouped scans end to end; the oracle replays
    // the same state in pure SQL.
    "q124_partition_evolution" -> ((
      (s: SparkSession, d: String) => {
        val path = freshDir(s"pevo_${d.replaceAll("[^a-z0-9.]", "_")}")
        val tbl = LakeTable.create(s, path,
          ordersSpec.copy(partition = Some("o_orderstatus")),
          t(s, d, "orders").filter(col("o_orderkey") % 2 === 0))
        tbl.changePartition(Some("o_orderpriority"))
        val o = t(s, d, "orders")
        val updates = o.filter(col("o_orderkey") % 6 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 1.0)
          .withColumn("o_orderdate", col("o_orderdate") + expr("INTERVAL 1 DAY"))
          .withColumn("o_orderstatus", lit("U"))
        val inserts = o.filter(col("o_orderkey") % 2 === 1 && col("o_orderkey") % 5 === 0)
        LakeTable.load(s, path).upsert(updates.unionByName(inserts))
        val repl = o.filter(col("o_orderkey") % 97 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 20000000L)
          .withColumn("o_orderpriority", lit("1-URGENT"))
        LakeTable.load(s, path).overwritePartitions(repl)
        proj(LakeTable.load(s, path).read())
      },
      """WITH merged AS (
        |  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
        |         o_totalprice + 1.0 AS o_totalprice,
        |         o_orderdate + INTERVAL 1 DAY AS o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 6 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |         o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 2 = 0 AND o_orderkey % 6 <> 0
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |         o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 2 = 1 AND o_orderkey % 5 = 0
        |)
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |       CAST(epoch(o_orderdate) AS BIGINT) AS od_epoch
        |FROM merged WHERE o_orderpriority <> '1-URGENT'
        |UNION ALL
        |SELECT o_orderkey + 20000000, o_custkey, o_orderstatus, o_totalprice,
        |       CAST(epoch(o_orderdate) AS BIGINT)
        |FROM orders WHERE o_orderkey % 97 = 0
        |ORDER BY o_orderkey""".stripMargin)),

    // FSCK repair: storage loses every file of one partition (simulated
    // external deletion); repair drops exactly the dead references and
    // the table serves the survivors — the oracle is simply the other
    // partitions' rows.
    "q127_fsck_repair" -> ((
      (s: SparkSession, d: String) => {
        val path = freshDir(s"fsck_${d.replaceAll("[^a-z0-9.]", "_")}")
        val tbl = LakeTable.create(s, path,
          ordersSpec.copy(partition = Some("o_orderstatus")), t(s, d, "orders"))
        val conf = s.sessionState.newHadoopConf()
        tbl.liveFiles(None).filter(_.partitionValue.contains("F")).foreach { a =>
          val p = new org.apache.hadoop.fs.Path(s"$path/data/${a.path}")
          p.getFileSystem(conf).delete(p, false)
        }
        LakeTable.load(s, path).repair()
        proj(LakeTable.load(s, path).read())
      },
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |       CAST(epoch(o_orderdate) AS BIGINT) AS od_epoch
        |FROM orders WHERE o_orderstatus <> 'F'
        |ORDER BY o_orderkey""".stripMargin)),

    // Bloom column index: a point lookup on a NON-key high-cardinality
    // column (o_custkey — every file's min/max covers the whole domain,
    // so stats prune nothing) must prune files via the per-column bloom
    // sidecars before planning; the require pins that the index actually
    // bit. Result is the plain relational answer, hash-exact.
    "q128_bloom_index" -> ((
      (s: SparkSession, d: String) => {
        val path = freshDir(s"bloomix_${d.replaceAll("[^a-z0-9.]", "_")}")
        val tbl = LakeTable.create(s, path,
          ordersSpec.copy(bloomColumns = Seq("o_custkey")),
          t(s, d, "orders").repartition(16), bulkInsert = true)
        val ck = tbl.read().filter(col("o_orderkey") === 32L)
          .select("o_custkey").head().getLong(0)
        val snap = tbl.snapshot()
        val live = snap.live
        val kept = tbl.pruneByFilters(live,
          Seq(org.apache.spark.sql.sources.EqualTo("o_custkey", ck)), snap.shape)
        require(kept.size < live.size,
          s"bloom index must prune files (kept ${kept.size}/${live.size})")
        proj(tbl.readWhere(Seq(org.apache.spark.sql.sources.EqualTo("o_custkey", ck)))
          .filter(col("o_custkey") === ck))
      },
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |       CAST(epoch(o_orderdate) AS BIGINT) AS od_epoch
        |FROM orders
        |WHERE o_custkey = (SELECT o_custkey FROM orders WHERE o_orderkey = 32)
        |ORDER BY o_orderkey""".stripMargin)),

    // Bucket-index point lookup (Hudi bucket-index read analog): on a
    // bucketed table a key-equality probe computes pmod(murmur3(key),
    // buckets) driver-side and opens ONLY that bucket's files — 1/buckets
    // of the table even though every file's key RANGE covers the probe
    // (sequential keys partitioned by hash: min/max stats prune nothing).
    // The requires pin the pruning; the oracle replays the lookup.
    "q135_bucket_point_lookup" -> ((
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.sources.{EqualTo, In}
        val path = freshDir(s"bktpt_${d.replaceAll("[^a-z0-9.]", "_")}")
        val tbl = LakeTable.create(s, path,
          TableSpec("o_orderkey", "o_orderdate", buckets = 8),
          t(s, d, "orders"))
        val snap = tbl.snapshot()
        val live = snap.live
        val kept = tbl.pruneByFilters(live, Seq(EqualTo("o_orderkey", 32L)), snap.shape)
        require(kept.flatMap(_.partitionValue).distinct.size <= 1 &&
          kept.size < live.size,
          s"point lookup must open one bucket (kept ${kept.size}/${live.size})")
        val probe = Array[Any](32L, 33L, 70L, 71L)
        val keptIn = tbl.pruneByFilters(live, Seq(In("o_orderkey", probe)), snap.shape)
        require(keptIn.flatMap(_.partitionValue).distinct.size <= probe.length &&
          keptIn.size < live.size,
          s"IN probe must stay within its buckets (kept ${keptIn.size}/${live.size})")
        proj(tbl.readWhere(Seq(In("o_orderkey", probe)))
          .filter(col("o_orderkey").isin(32L, 33L, 70L, 71L)))
      },
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |       CAST(epoch(o_orderdate) AS BIGINT) AS od_epoch
        |FROM orders WHERE o_orderkey IN (32, 33, 70, 71)
        |ORDER BY o_orderkey""".stripMargin)),

    // Dynamic partition pruning through a graft scan: the V1 read is a
    // genuine partitioned parquet scan, so a fact⋈dim join on the fact's
    // partition column prunes fact PARTITIONS at runtime from the dim
    // side's filter — Catalyst's own PartitionPruning rule, no graft
    // code in the loop. The require pins the DynamicPruningExpression in
    // the fact scan; the oracle replays the join.
    "q138_dpp_join" -> ((
      (s: SparkSession, d: String) => {
        val path = freshDir(s"dpp_${d.replaceAll("[^a-z0-9.]", "_")}")
        val tbl = LakeTable.create(s, path,
          ordersSpec.copy(partition = Some("o_orderstatus")),
          t(s, d, "orders"))
        // the dim must be FILE-backed: an in-memory dim's filter constant-
        // folds into its LocalRelation, leaving no selective predicate for
        // the DPP rule to recognize (exactly as in production, where dims
        // are tables)
        val dimPath = freshDir(s"dppdim_${d.replaceAll("[^a-z0-9.]", "_")}")
        s.createDataFrame(Seq(("O", "open"), ("F", "finished"),
          ("P", "pending"))).toDF("o_orderstatus", "status_name")
          .write.mode("overwrite").parquet(dimPath)
        val dim = s.read.parquet(dimPath)
        val joined = tbl.read()
          .join(dim.filter(col("status_name") === "finished"), "o_orderstatus")
          .select(col("o_orderkey"), col("o_orderstatus"), col("status_name"))
        val opt = joined.queryExecution.optimizedPlan
        val dpp = opt.exists(_.expressions.exists(_.exists(
          _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.DynamicPruningSubquery])))
        require(dpp,
          s"optimizer must insert a dynamic partition pruning subquery:\n$opt")
        joined.orderBy("o_orderkey")
      },
      """SELECT o_orderkey, o_orderstatus, 'finished' AS status_name
        |FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY o_orderkey""".stripMargin)),

    // Delta-protocol export: write `_delta_log` for the snapshot, then
    // read the table back THROUGH the exported log alone (parse actions,
    // scan the add paths, attach partitionValues) — what any external
    // Delta reader would do. The oracle is the plain expected state, so a
    // hash match proves the log describes the exact snapshot.
    "q131_delta_export" -> ((
      (s: SparkSession, d: String) => {
        val path = freshDir(s"dexp_${d.replaceAll("[^a-z0-9.]", "_")}")
        val tbl = LakeTable.create(s, path,
          ordersSpec.copy(partition = Some("o_orderstatus")),
          t(s, d, "orders").filter(col("o_orderkey") % 2 === 0))
        tbl.upsert(t(s, d, "orders").filter(col("o_orderkey") % 2 === 1))
        LakeTable.load(s, path).generateDeltaLog()
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        val src = scala.io.Source.fromFile(
          s"$path/_delta_log/00000000000000000000.json")
        val actions = try src.getLines().toList.map(mapper.readTree) finally src.close()
        val md = actions.flatMap(a => Option(a.get("metaData"))).head
        val schema = org.apache.spark.sql.types.DataType
          .fromJson(md.get("schemaString").asText)
          .asInstanceOf[org.apache.spark.sql.types.StructType]
        val dataCols = schema.fields.filterNot(_.name == "o_orderstatus")
        val frames = actions.flatMap(a => Option(a.get("add"))).map { add =>
          val rel = java.net.URLDecoder.decode(add.get("path").asText, "UTF-8")
          val pv = add.get("partitionValues").get("o_orderstatus")
          s.read.schema(org.apache.spark.sql.types.StructType(dataCols))
            .parquet(s"$path/$rel")
            .withColumn("o_orderstatus",
              lit(if (pv == null || pv.isNull) null else pv.asText))
        }
        proj(frames.reduce(_.unionByName(_)))
      },
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |       CAST(epoch(o_orderdate) AS BIGINT) AS od_epoch
        |FROM orders
        |ORDER BY o_orderkey""".stripMargin)),

    // Iceberg-protocol export: write metadata/v1.metadata.json + manifest
    // avro chain, then read the table back THROUGH the exported metadata
    // alone (json → manifest list avro → manifest avro → data files +
    // partition records) — the walk any Iceberg reader does. The oracle
    // is the plain expected state, so a hash match proves the metadata
    // describes the exact snapshot.
    "q139_iceberg_export" -> ((
      (s: SparkSession, d: String) => {
        val path = freshDir(s"iexp_${d.replaceAll("[^a-z0-9.]", "_")}")
        val tbl = LakeTable.create(s, path,
          ordersSpec.copy(partition = Some("o_orderstatus")),
          t(s, d, "orders").filter(col("o_orderkey") % 2 === 0))
        tbl.upsert(t(s, d, "orders").filter(col("o_orderkey") % 2 === 1))
        LakeTable.load(s, path).generateIcebergMetadata()
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        val meta = mapper.readTree(
          new java.io.File(s"$path/metadata/v1.metadata.json"))
        require(meta.get("format-version").asInt == 1)
        val snapId = meta.get("current-snapshot-id").asLong
        val listPath = meta.get("snapshots").get(0).get("manifest-list").asText
        require(meta.get("snapshots").get(0).get("snapshot-id").asLong == snapId)
        val manifests = graft.sources.AvroSource.read(s, listPath)
          .select("manifest_path").collect().map(_.getString(0))
        val schemaIt = meta.get("schema").get("fields").elements()
        val names = Seq.newBuilder[String]
        while (schemaIt.hasNext) names += schemaIt.next().get("name").asText
        val dataCols = names.result().filterNot(_ == "o_orderstatus")
        val frames = manifests.toSeq.flatMap { m =>
          graft.sources.AvroSource.read(s, m)
            .select(col("data_file.file_path"),
              col("data_file.partition.o_orderstatus"))
            .collect().map { e =>
              s.read.parquet(e.getString(0))
                .select(dataCols.map(col): _*)
                .withColumn("o_orderstatus", lit(e.getString(1)))
            }
        }
        proj(frames.reduce(_.unionByName(_)))
      },
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |       CAST(epoch(o_orderdate) AS BIGINT) AS od_epoch
        |FROM orders
        |ORDER BY o_orderkey""".stripMargin)),

    // Automatic MV rewrite: an aggregate over the base table whose shape a
    // registered FRESH materialized view maintains is answered from the
    // view's state — no Aggregate, no base scan in the plan (the require
    // pins both). The view went stale under churn and was refresh()ed
    // first, so the rewrite serves post-churn numbers; the oracle is the
    // plain aggregate over the final base state.
    "q140_mv_rewrite" -> ((
      (s: SparkSession, d: String) => {
        import graft.lake.{MaterializedView, MvAgg}
        val path = freshDir(s"mvrw_${d.replaceAll("[^a-z0-9.]", "_")}")
        val tbl = LakeTable.create(s, path, ordersSpec,
          t(s, d, "orders").filter(col("o_orderkey") % 2 === 0))
        val mvPath = freshDir(s"mvrw_mv_${d.replaceAll("[^a-z0-9.]", "_")}")
        MaterializedView.create(s, mvPath, tbl, Seq("o_orderstatus"),
          Seq(MvAgg("n", "count", "*"), MvAgg("s", "sum", "o_custkey"),
            MvAgg("a", "avg", "o_custkey")))
        tbl.upsert(t(s, d, "orders").filter(col("o_orderkey") % 2 === 1))
        MaterializedView.load(s, mvPath).refresh()
        graft.sql.GraftMvRewrite.register(mvPath)
        try {
          val q = s.read.format("graft").load(path).groupBy("o_orderstatus")
            .agg(count(lit(1)).as("n"), sum("o_custkey").as("s"),
              avg("o_custkey").as("a"))
          val rewritten = graft.sql.GraftMvRewrite(q.queryExecution.analyzed)
          require(!rewritten.exists(
            _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Aggregate]),
            s"MV rewrite must replace the aggregate:\n$rewritten")
          val readsState = rewritten.collect {
            case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
          }.exists(_.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.exists(_.toString.contains("/state/"))
            case _ => false
          })
          require(readsState, "rewritten plan must read the MV state table")
          org.apache.spark.sql.GraftExpressionBridge.ofRows(s, rewritten)
            .orderBy("o_orderstatus")
        } finally graft.sql.GraftMvRewrite.unregister(mvPath)
      },
      """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(o_custkey) AS BIGINT) AS s,
        |       CAST(SUM(o_custkey) AS DOUBLE) / COUNT(o_custkey) AS a
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin)),

    // Star-join incremental MV: the view aggregates fact ⋈ dim (orders ⋈
    // customer on o_custkey = c_custkey) grouped by a DIM attribute, and
    // one refresh absorbs churn on BOTH tables — fact inserts/updates/
    // deletes via `ΔF ⋈ D_old` (fact never scanned) and dim segment moves
    // + deletes via `F_new ⋈ ΔD` (only changed dim keys reach the join).
    // The oracle recomputes the aggregate over the final joined state in
    // DuckDB (latest-wins replay of both tables' churn), so any error in
    // the signed-delta join algebra — a group move counted once instead
    // of minus-old/plus-new, a lost extremum, an undead group — breaks
    // the hash.
    "q150_mv_join" -> ((
      (s: SparkSession, d: String) => {
        import graft.lake.{MaterializedView, MvAgg}
        import graft.lake.MaterializedView.MvJoin
        val tag = d.replaceAll("[^a-z0-9.]", "_")
        val fp = freshDir(s"mvj_f_$tag"); val dp = freshDir(s"mvj_d_$tag")
        val mp = freshDir(s"mvj_mv_$tag")
        val fact = LakeTable.create(s, fp, ordersSpec,
          t(s, d, "orders").filter(col("o_orderkey") % 3 =!= 0))
        val dim = LakeTable.create(s, dp, TableSpec("c_custkey", "cver"),
          t(s, d, "customer").withColumn("cver", lit(0L)))
        MaterializedView.create(s, mp, fact, Seq("c_mktsegment"),
          Seq(MvAgg("n", "count", "*"), MvAgg("s", "sum", "o_custkey"),
            MvAgg("a", "avg", "o_custkey"), MvAgg("mx", "max", "o_totalprice"),
            MvAgg("mn", "min", "c_acctbal")),
          Seq(MvJoin(dp, "o_custkey", "c_custkey")))
        // fact churn: the missing third arrives, every 7th reprices a day
        // later (newer precombine wins), every 11th key is deleted
        fact.upsert(t(s, d, "orders").filter(col("o_orderkey") % 3 === 0)
          .unionByName(t(s, d, "orders").filter(col("o_orderkey") % 7 === 0)
            .withColumn("o_totalprice", col("o_totalprice") + 1.0)
            .withColumn("o_orderdate", col("o_orderdate") + expr("INTERVAL 1 DAY"))))
        fact.delete(col("o_orderkey") % 11 === 0)
        // dim churn: every 5th customer switches segment (its orders MOVE
        // groups), every 17th is deleted (its orders drop out entirely)
        dim.upsert(t(s, d, "customer").filter(col("c_custkey") % 5 === 0)
          .withColumn("c_mktsegment", lit("MOVED")).withColumn("cver", lit(1L)))
        dim.delete(col("c_custkey") % 17 === 0)
        val mv = MaterializedView.load(s, mp).refresh()
        require(mv.lastRefreshedVersion ==
            LakeTable.load(s, fp).latestVersion &&
          mv.dimRefreshedVersion.contains(LakeTable.load(s, dp).latestVersion),
          "one refresh must advance BOTH maintenance cursors")
        mv.read().orderBy("c_mktsegment")
      },
      """WITH cand AS (
        |  SELECT * FROM orders WHERE o_orderkey % 3 <> 0
        |  UNION ALL
        |  SELECT * FROM orders WHERE o_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice + 1.0,
        |         o_orderdate + INTERVAL 1 DAY, o_orderpriority
        |  FROM orders WHERE o_orderkey % 7 = 0),
        |fact AS (SELECT * FROM (
        |    SELECT *, ROW_NUMBER() OVER (
        |      PARTITION BY o_orderkey ORDER BY o_orderdate DESC) AS rn
        |    FROM cand) WHERE rn = 1 AND o_orderkey % 11 <> 0),
        |dim AS (SELECT c_custkey,
        |    CASE WHEN c_custkey % 5 = 0 THEN 'MOVED' ELSE c_mktsegment END AS c_mktsegment,
        |    c_acctbal
        |  FROM customer WHERE c_custkey % 17 <> 0)
        |SELECT d.c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(f.o_custkey) AS BIGINT) AS s,
        |       CAST(SUM(f.o_custkey) AS DOUBLE) / COUNT(f.o_custkey) AS a,
        |       MAX(f.o_totalprice) AS mx, MIN(d.c_acctbal) AS mn
        |FROM fact f JOIN dim d ON f.o_custkey = d.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Incremental APPROXIMATE COUNT(DISTINCT) materialized view: the state
    // stores one mergeable Datasketches HLL sketch per group; additions
    // union in at churn cost, removal-touched groups re-sketch (bounded by
    // churn groups, like min/max repair). The custkey cap keeps every
    // group inside the sketch's exact coupon regime (< 512 distinct), so
    // the estimate deterministically EQUALS COUNT(DISTINCT) and DuckDB
    // oracles it exactly — at larger cardinalities the same maintenance
    // yields the sketch estimate (pinned incremental ≡ recompute in
    // MaterializedViewSpec).
    "q155_mv_hll" -> ((
      (s: SparkSession, d: String) => {
        import graft.lake.{MaterializedView, MvAgg}
        val tag = d.replaceAll("[^a-z0-9.]", "_")
        val path = freshDir(s"mvhll_$tag")
        val mp = freshDir(s"mvhll_mv_$tag")
        val capped = t(s, d, "orders").filter(col("o_custkey") <= 397)
        val tbl = LakeTable.create(s, path, ordersSpec,
          capped.filter(col("o_orderkey") % 2 === 0))
        MaterializedView.create(s, mp, tbl, Seq("o_orderstatus"), Seq(
          MvAgg("n", "count", "*"),
          MvAgg("du", "hll", "o_custkey")))
        // additions only (pure sketch-union refresh) ...
        tbl.upsert(capped.filter(col("o_orderkey") % 2 === 1))
        MaterializedView.load(s, mp).refresh()
        // ... then deletions (removal groups re-sketch from the snapshot)
        tbl.delete(col("o_orderkey") % 5 === 0)
        val mv = MaterializedView.load(s, mp).refresh()
        require(mv.lastRefreshedVersion == LakeTable.load(s, path).latestVersion,
          "refresh must reach the final base version")
        mv.read().orderBy("o_orderstatus")
      },
      """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS du
        |FROM orders WHERE o_custkey <= 397 AND o_orderkey % 5 <> 0
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // FILTERED materialized view: the view maintains σ_pred(orders) GROUP
    // BY status for pred = urgent-priority only — the slice real
    // deployments pin (one tenant, one class). Churn crosses the
    // predicate boundary in BOTH directions (every 7th order flips
    // priority with a newer precombine) plus deletes that can take a
    // slice group's max, so the signed delta must filter correctly and
    // the extremum repair must re-aggregate the FILTERED snapshot. The
    // require pins that a query whose WHERE matches the view's predicate
    // is served from state (conjunct-matched implication).
    "q156_filtered_mv" -> ((
      (s: SparkSession, d: String) => {
        import graft.lake.{MaterializedView, MvAgg}
        val tag = d.replaceAll("[^a-z0-9.]", "_")
        val path = freshDir(s"mvf_$tag"); val mp = freshDir(s"mvf_mv_$tag")
        val tbl = LakeTable.create(s, path, ordersSpec,
          t(s, d, "orders").filter(col("o_orderkey") % 2 === 0))
        MaterializedView.create(s, mp, tbl, Seq("o_orderstatus"),
          Seq(MvAgg("n", "count", "*"), MvAgg("su", "sum", "o_custkey"),
            MvAgg("mx", "max", "o_totalprice")),
          filter = Some("o_orderpriority = '1-URGENT'"))
        tbl.upsert(t(s, d, "orders").filter(col("o_orderkey") % 2 === 1)
          .unionByName(t(s, d, "orders").filter(col("o_orderkey") % 7 === 0)
            .withColumn("o_orderpriority",
              when(col("o_orderpriority") === "1-URGENT", "3-MEDIUM")
                .otherwise("1-URGENT"))
            .withColumn("o_orderdate", col("o_orderdate") + expr("INTERVAL 1 DAY"))))
        tbl.delete(col("o_orderkey") % 5 === 0)
        val mv = MaterializedView.load(s, mp).refresh()
        require(mv.lastRefreshedVersion == LakeTable.load(s, path).latestVersion,
          "refresh must reach the final base version")
        graft.sql.GraftMvRewrite.register(mp)
        try {
          val q = s.read.format("graft").load(path)
            .filter(col("o_orderpriority") === "1-URGENT")
            .groupBy("o_orderstatus")
            .agg(count(lit(1)).as("n"), sum("o_custkey").as("su"),
              max("o_totalprice").as("mx"))
          val rewritten = graft.sql.GraftMvRewrite(q.queryExecution.analyzed)
          require(!rewritten.exists(
            _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Aggregate]),
            s"a WHERE-matching query must be served by the filtered view:\n$rewritten")
          // and the UNFILTERED aggregate must NOT be served
          val bare = s.read.format("graft").load(path).groupBy("o_orderstatus")
            .agg(count(lit(1)).as("n"))
          require(graft.sql.GraftMvRewrite(bare.queryExecution.analyzed).exists(
            _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Aggregate]),
            "the filtered view must never serve the unfiltered aggregate")
        } finally graft.sql.GraftMvRewrite.unregister(mp)
        mv.read().orderBy("o_orderstatus")
      },
      """WITH cand AS (
        |  SELECT * FROM orders WHERE o_orderkey % 2 = 0
        |  UNION ALL
        |  SELECT * FROM orders WHERE o_orderkey % 2 = 1
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |         o_orderdate + INTERVAL 1 DAY,
        |         CASE WHEN o_orderpriority = '1-URGENT' THEN '3-MEDIUM'
        |              ELSE '1-URGENT' END
        |  FROM orders WHERE o_orderkey % 7 = 0),
        |fact AS (SELECT * FROM (
        |    SELECT *, ROW_NUMBER() OVER (
        |      PARTITION BY o_orderkey ORDER BY o_orderdate DESC) AS rn
        |    FROM cand) WHERE rn = 1 AND o_orderkey % 5 <> 0)
        |SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(o_custkey) AS BIGINT) AS su, MAX(o_totalprice) AS mx
        |FROM fact WHERE o_orderpriority = '1-URGENT'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // SNOWFLAKE materialized view: orders ⋈ customer ⋈ nation where the
    // second join key (c_nationkey) lives on the CUSTOMER dim, not the
    // fact — the dim-of-dim chain every star schema grows. One refresh
    // absorbs churn on all three levels: fact updates/deletes, customers
    // MOVING between nations (their orders change groups), a nation
    // rename (a whole group re-labels) and a nation delete (its
    // customers' orders leave the join). The oracle replays all three
    // tables' churn in DuckDB over the final joined state.
    "q157_snowflake_mv" -> ((
      (s: SparkSession, d: String) => {
        import graft.lake.{MaterializedView, MvAgg}
        import graft.lake.MaterializedView.MvJoin
        val tag = d.replaceAll("[^a-z0-9.]", "_")
        val fp = freshDir(s"mvsf_f_$tag"); val cp = freshDir(s"mvsf_c_$tag")
        val np = freshDir(s"mvsf_n_$tag"); val mp = freshDir(s"mvsf_mv_$tag")
        val fact = LakeTable.create(s, fp, ordersSpec,
          t(s, d, "orders").filter(col("o_orderkey") % 3 =!= 0))
        val cust = LakeTable.create(s, cp, TableSpec("c_custkey", "cver"),
          t(s, d, "customer").withColumn("cver", lit(0L)))
        val nat = LakeTable.create(s, np, TableSpec("n_nationkey", "nver"),
          t(s, d, "nation").withColumn("nver", lit(0L)))
        MaterializedView.create(s, mp, fact, Seq("n_name"),
          Seq(MvAgg("n", "count", "*"), MvAgg("su", "sum", "o_custkey"),
            MvAgg("mx", "max", "o_totalprice")),
          Seq(MvJoin(cp, "o_custkey", "c_custkey"),
            MvJoin(np, "c_nationkey", "n_nationkey")))
        // fact churn: missing third arrives, every 7th reprices a day
        // later (newer precombine wins), every 11th key deleted
        fact.upsert(t(s, d, "orders").filter(col("o_orderkey") % 3 === 0)
          .unionByName(t(s, d, "orders").filter(col("o_orderkey") % 7 === 0)
            .withColumn("o_totalprice", col("o_totalprice") + 1.0)
            .withColumn("o_orderdate", col("o_orderdate") + expr("INTERVAL 1 DAY"))))
        fact.delete(col("o_orderkey") % 11 === 0)
        // mid-chain churn: every 5th customer moves to the next nation,
        // every 17th is deleted
        cust.upsert(t(s, d, "customer").filter(col("c_custkey") % 5 === 0)
          .withColumn("c_nationkey", (col("c_nationkey") + 1) % 25)
          .withColumn("cver", lit(1L)))
        cust.delete(col("c_custkey") % 17 === 0)
        // chain-tail churn: nation 3 renamed (group re-label), 7 deleted
        nat.upsert(t(s, d, "nation").filter(col("n_nationkey") === 3)
          .withColumn("n_name", lit("RENAMED")).withColumn("nver", lit(1L)))
        nat.delete(col("n_nationkey") === 7)
        val mv = MaterializedView.load(s, mp).refresh()
        require(mv.lastRefreshedVersion == LakeTable.load(s, fp).latestVersion &&
          mv.dimRefreshedVersions == Seq(
            LakeTable.load(s, cp).latestVersion,
            LakeTable.load(s, np).latestVersion),
          "one refresh must advance all three maintenance cursors")
        mv.read().orderBy("n_name")
      },
      """WITH cand AS (
        |  SELECT * FROM orders WHERE o_orderkey % 3 <> 0
        |  UNION ALL
        |  SELECT * FROM orders WHERE o_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice + 1.0,
        |         o_orderdate + INTERVAL 1 DAY, o_orderpriority
        |  FROM orders WHERE o_orderkey % 7 = 0),
        |fact AS (SELECT * FROM (
        |    SELECT *, ROW_NUMBER() OVER (
        |      PARTITION BY o_orderkey ORDER BY o_orderdate DESC) AS rn
        |    FROM cand) WHERE rn = 1 AND o_orderkey % 11 <> 0),
        |cust AS (SELECT c_custkey,
        |    CASE WHEN c_custkey % 5 = 0 THEN (c_nationkey + 1) % 25
        |         ELSE c_nationkey END AS c_nationkey
        |  FROM customer WHERE c_custkey % 17 <> 0),
        |nat AS (SELECT n_nationkey,
        |    CASE WHEN n_nationkey = 3 THEN 'RENAMED' ELSE n_name END AS n_name
        |  FROM nation WHERE n_nationkey <> 7)
        |SELECT nt.n_name, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(f.o_custkey) AS BIGINT) AS su, MAX(f.o_totalprice) AS mx
        |FROM fact f
        |JOIN cust c ON f.o_custkey = c.c_custkey
        |JOIN nat nt ON c.c_nationkey = nt.n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // FILTERED DEPTH-3 SNOWFLAKE materialized view — the two round-7
    // extensions composed: σ_urgent(orders ⋈ customer ⋈ nation ⋈ region)
    // GROUP BY region name, where both chain keys (c_nationkey,
    // n_regionkey) live on dims. One refresh absorbs churn at every
    // level: fact rows crossing the filter + deletes, customers moving
    // nations, a nation moving regions, a region rename and a region
    // DELETE (everything under it leaves the join). Every signed term is
    // filtered, chain-folded parent-first, and churn-bounded on its Δ
    // side; the oracle replays all four tables in DuckDB.
    "q158_filtered_snowflake_mv" -> ((
      (s: SparkSession, d: String) => {
        import graft.lake.{MaterializedView, MvAgg}
        import graft.lake.MaterializedView.MvJoin
        val tag = d.replaceAll("[^a-z0-9.]", "_")
        val fp = freshDir(s"mvd_f_$tag"); val cp = freshDir(s"mvd_c_$tag")
        val np = freshDir(s"mvd_n_$tag"); val rp = freshDir(s"mvd_r_$tag")
        val mp = freshDir(s"mvd_mv_$tag")
        val fact = LakeTable.create(s, fp, ordersSpec,
          t(s, d, "orders").filter(col("o_orderkey") % 3 =!= 0))
        val cust = LakeTable.create(s, cp, TableSpec("c_custkey", "cver"),
          t(s, d, "customer").withColumn("cver", lit(0L)))
        val nat = LakeTable.create(s, np, TableSpec("n_nationkey", "nver"),
          t(s, d, "nation").withColumn("nver", lit(0L)))
        val reg = LakeTable.create(s, rp, TableSpec("r_regionkey", "rver"),
          t(s, d, "region").withColumn("rver", lit(0L)))
        MaterializedView.create(s, mp, fact, Seq("r_name"),
          Seq(MvAgg("n", "count", "*"), MvAgg("su", "sum", "o_custkey"),
            MvAgg("mx", "max", "o_totalprice")),
          Seq(MvJoin(cp, "o_custkey", "c_custkey"),
            MvJoin(np, "c_nationkey", "n_nationkey"),
            MvJoin(rp, "n_regionkey", "r_regionkey")),
          filter = Some("o_orderpriority = '1-URGENT'"))
        fact.upsert(t(s, d, "orders").filter(col("o_orderkey") % 3 === 0)
          .unionByName(t(s, d, "orders").filter(col("o_orderkey") % 7 === 0)
            .withColumn("o_orderpriority",
              when(col("o_orderpriority") === "1-URGENT", "3-MEDIUM")
                .otherwise("1-URGENT"))
            .withColumn("o_orderdate", col("o_orderdate") + expr("INTERVAL 1 DAY"))))
        fact.delete(col("o_orderkey") % 11 === 0)
        cust.upsert(t(s, d, "customer").filter(col("c_custkey") % 5 === 0)
          .withColumn("c_nationkey", (col("c_nationkey") + 1) % 25)
          .withColumn("cver", lit(1L)))
        cust.delete(col("c_custkey") % 17 === 0)
        nat.upsert(t(s, d, "nation").filter(col("n_nationkey") === 3)
          .withColumn("n_regionkey", (col("n_regionkey") + 1) % 5)
          .withColumn("nver", lit(1L)))
        nat.delete(col("n_nationkey") === 7)
        reg.upsert(t(s, d, "region").filter(col("r_regionkey") === 1)
          .withColumn("r_name", lit("RENAMED")).withColumn("rver", lit(1L)))
        reg.delete(col("r_regionkey") === 4)
        val mv = MaterializedView.load(s, mp).refresh()
        require(mv.lastRefreshedVersion == LakeTable.load(s, fp).latestVersion &&
          mv.dimRefreshedVersions == Seq(cp, np, rp).map(p =>
            LakeTable.load(s, p).latestVersion),
          "one refresh must advance all four maintenance cursors")
        mv.read().orderBy("r_name")
      },
      """WITH cand AS (
        |  SELECT * FROM orders WHERE o_orderkey % 3 <> 0
        |  UNION ALL
        |  SELECT * FROM orders WHERE o_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |         o_orderdate + INTERVAL 1 DAY,
        |         CASE WHEN o_orderpriority = '1-URGENT' THEN '3-MEDIUM'
        |              ELSE '1-URGENT' END
        |  FROM orders WHERE o_orderkey % 7 = 0),
        |fact AS (SELECT * FROM (
        |    SELECT *, ROW_NUMBER() OVER (
        |      PARTITION BY o_orderkey ORDER BY o_orderdate DESC) AS rn
        |    FROM cand) WHERE rn = 1 AND o_orderkey % 11 <> 0),
        |cust AS (SELECT c_custkey,
        |    CASE WHEN c_custkey % 5 = 0 THEN (c_nationkey + 1) % 25
        |         ELSE c_nationkey END AS c_nationkey
        |  FROM customer WHERE c_custkey % 17 <> 0),
        |nat AS (SELECT n_nationkey,
        |    CASE WHEN n_nationkey = 3 THEN (n_regionkey + 1) % 5
        |         ELSE n_regionkey END AS n_regionkey
        |  FROM nation WHERE n_nationkey <> 7),
        |reg AS (SELECT r_regionkey,
        |    CASE WHEN r_regionkey = 1 THEN 'RENAMED' ELSE r_name END AS r_name
        |  FROM region WHERE r_regionkey <> 4)
        |SELECT rg.r_name, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(f.o_custkey) AS BIGINT) AS su, MAX(f.o_totalprice) AS mx
        |FROM fact f
        |JOIN cust c ON f.o_custkey = c.c_custkey
        |JOIN nat nt ON c.c_nationkey = nt.n_nationkey
        |JOIN reg rg ON nt.n_regionkey = rg.r_regionkey
        |WHERE f.o_orderpriority = '1-URGENT'
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // EXPRESSION-DIM materialized view — the time-bucketed dashboard
    // shape: GROUP BY date_trunc('MONTH', o_orderdate), o_orderstatus. A
    // deterministic row-local expression commutes with the signed delta
    // exactly like a filter, so the bucket column maintains incrementally
    // through upsert/reprice/delete churn (a repriced order that moves
    // BUCKETS cancels out of the old month and lands in the new one). The
    // oracle replays the churn and re-buckets from scratch in DuckDB.
    "q159_expr_dim_mv" -> ((
      (s: SparkSession, d: String) => {
        import graft.lake.{MaterializedView, MvAgg}
        val tag = d.replaceAll("[^a-z0-9.]", "_")
        val fp = freshDir(s"mvx_f_$tag"); val mp = freshDir(s"mvx_mv_$tag")
        val fact = LakeTable.create(s, fp, ordersSpec,
          t(s, d, "orders").filter(col("o_orderkey") % 3 =!= 0))
        MaterializedView.create(s, mp, fact, Seq("omonth", "o_orderstatus"),
          Seq(MvAgg("n", "count", "*"), MvAgg("su", "sum", "o_custkey"),
            MvAgg("mx", "max", "o_totalprice")),
          dimExprs = Map("omonth" -> "date_trunc('MONTH', o_orderdate)"))
        // churn: missing third arrives; every 7th reprices 40 days later
        // (newer precombine wins AND the row moves months); every 11th
        // key deleted (its month/status group shrinks or dies)
        fact.upsert(t(s, d, "orders").filter(col("o_orderkey") % 3 === 0)
          .unionByName(t(s, d, "orders").filter(col("o_orderkey") % 7 === 0)
            .withColumn("o_totalprice", col("o_totalprice") + 1.0)
            .withColumn("o_orderdate", col("o_orderdate") + expr("INTERVAL 40 DAY"))))
        fact.delete(col("o_orderkey") % 11 === 0)
        val mv = MaterializedView.load(s, mp).refresh()
        require(mv.lastRefreshedVersion == LakeTable.load(s, fp).latestVersion,
          "refresh must reach the base head")
        // epoch-quantized month bucket, the repo-wide oracle convention
        // for timestamp outputs (parquet INT64-utc vs DuckDB naive)
        mv.read().select(unix_micros(col("omonth")).as("omonth_us"),
            col("o_orderstatus"), col("n"), col("su"), col("mx"))
          .orderBy("omonth_us", "o_orderstatus")
      },
      """WITH cand AS (
        |  SELECT * FROM orders WHERE o_orderkey % 3 <> 0
        |  UNION ALL
        |  SELECT * FROM orders WHERE o_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice + 1.0,
        |         o_orderdate + INTERVAL 40 DAY, o_orderpriority
        |  FROM orders WHERE o_orderkey % 7 = 0),
        |fact AS (SELECT * FROM (
        |    SELECT *, ROW_NUMBER() OVER (
        |      PARTITION BY o_orderkey ORDER BY o_orderdate DESC) AS rn
        |    FROM cand) WHERE rn = 1 AND o_orderkey % 11 <> 0)
        |SELECT CAST(epoch_us(date_trunc('month', o_orderdate)) AS BIGINT) AS omonth_us,
        |       o_orderstatus,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(o_custkey) AS BIGINT) AS su, MAX(o_totalprice) AS mx
        |FROM fact GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Materialized view over a MoR BASE table — the streaming-ingest
    // shape: upserts land as log files, deletes as tombstones, and the
    // view refreshes WITHOUT a compaction (the MoR windowDelta diffs the
    // merged `_rt` snapshots restricted to the window's touched keys).
    // The require pins that logs are still outstanding when the refresh
    // runs, so the log/tombstone fold is what's exercised.
    "q160_mor_base_mv" -> ((
      (s: SparkSession, d: String) => {
        import graft.lake.{MaterializedView, MvAgg}
        val tag = d.replaceAll("[^a-z0-9.]", "_")
        val fp = freshDir(s"mvm_f_$tag"); val mp = freshDir(s"mvm_mv_$tag")
        val fact = LakeTable.create(s, fp, ordersSpec.copy(mor = true),
          t(s, d, "orders").filter(col("o_orderkey") % 3 =!= 0))
        MaterializedView.create(s, mp, fact, Seq("o_orderstatus"),
          Seq(MvAgg("n", "count", "*"), MvAgg("su", "sum", "o_custkey"),
            MvAgg("mn", "min", "o_totalprice"), MvAgg("mx", "max", "o_totalprice")))
        fact.upsert(t(s, d, "orders").filter(col("o_orderkey") % 3 === 0)
          .unionByName(t(s, d, "orders").filter(col("o_orderkey") % 7 === 0)
            .withColumn("o_totalprice", col("o_totalprice") + 1.0)
            .withColumn("o_orderdate", col("o_orderdate") + expr("INTERVAL 1 DAY"))))
        fact.deleteKeys(t(s, d, "orders").filter(col("o_orderkey") % 11 === 0)
          .select("o_orderkey"))
        require(LakeTable.load(s, fp).liveFiles(None).exists(_.log),
          "the churn must still be un-compacted MoR logs at refresh time")
        val mv = MaterializedView.load(s, mp).refresh()
        require(mv.lastRefreshedVersion == LakeTable.load(s, fp).latestVersion,
          "refresh must reach the base head")
        mv.read().orderBy("o_orderstatus")
      },
      """WITH cand AS (
        |  SELECT * FROM orders WHERE o_orderkey % 3 <> 0
        |  UNION ALL
        |  SELECT * FROM orders WHERE o_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice + 1.0,
        |         o_orderdate + INTERVAL 1 DAY, o_orderpriority
        |  FROM orders WHERE o_orderkey % 7 = 0),
        |fact AS (SELECT * FROM (
        |    SELECT *, ROW_NUMBER() OVER (
        |      PARTITION BY o_orderkey ORDER BY o_orderdate DESC) AS rn
        |    FROM cand) WHERE rn = 1 AND o_orderkey % 11 <> 0)
        |SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(o_custkey) AS BIGINT) AS su,
        |       MIN(o_totalprice) AS mn, MAX(o_totalprice) AS mx
        |FROM fact GROUP BY 1 ORDER BY 1""".stripMargin)),

    // COMPOSITE-KEY star materialized view: the dim joins the fact on TWO
    // columns (o_custkey, o_orderstatus) = (d_custkey, d_status) — the
    // surrogate-less natural-key dim real star schemas grow. The dim is
    // deterministically derived (customer × the three order statuses) so
    // DuckDB can rebuild it. One refresh absorbs fact churn
    // (arrivals/reprices/deletes) AND dim churn on BOTH key columns'
    // groups (segment moves, per-status deletes); the max agg routes
    // removal-touched groups through the repair, whose file pruning
    // chases the dim-resident d_seg values across the composite join via
    // per-column fact-key IN lists (a documented superset).
    "q161_composite_key_mv" -> ((
      (s: SparkSession, d: String) => {
        import graft.lake.{MaterializedView, MvAgg}
        import graft.lake.MaterializedView.MvJoin
        val tag = d.replaceAll("[^a-z0-9.]", "_")
        val fp = freshDir(s"mvck_f_$tag"); val dp = freshDir(s"mvck_d_$tag")
        val mp = freshDir(s"mvck_mv_$tag")
        val fact = LakeTable.create(s, fp, ordersSpec,
          t(s, d, "orders").filter(col("o_orderkey") % 3 =!= 0))
        def dimRows = t(s, d, "customer")
          .select(col("c_custkey").as("d_custkey"), col("c_mktsegment").as("d_seg"))
          .withColumn("d_status", explode(array(lit("O"), lit("F"), lit("P"))))
          .withColumn("d_id", col("d_custkey") * 4 +
            when(col("d_status") === "O", 0)
              .when(col("d_status") === "F", 1).otherwise(2))
          .withColumn("dver", lit(0L))
        val dim = LakeTable.create(s, dp, TableSpec("d_id", "dver"), dimRows)
        MaterializedView.create(s, mp, fact, Seq("d_seg"),
          Seq(MvAgg("n", "count", "*"), MvAgg("su", "sum", "o_custkey"),
            MvAgg("mx", "max", "o_totalprice")),
          Seq(MvJoin(dp, Seq("o_custkey", "o_orderstatus"),
            Seq("d_custkey", "d_status"), 0L)))
        // fact churn: missing third arrives, every 7th reprices a day
        // later (newer precombine wins), every 11th key deleted
        fact.upsert(t(s, d, "orders").filter(col("o_orderkey") % 3 === 0)
          .unionByName(t(s, d, "orders").filter(col("o_orderkey") % 7 === 0)
            .withColumn("o_totalprice", col("o_totalprice") + 1.0)
            .withColumn("o_orderdate", col("o_orderdate") + expr("INTERVAL 1 DAY"))))
        fact.delete(col("o_orderkey") % 11 === 0)
        // dim churn touching BOTH key columns' groups: every 5th
        // customer's 'O' row moves segment, every 17th's 'F' row deleted
        dim.upsert(dimRows
          .filter(col("d_custkey") % 5 === 0 && col("d_status") === "O")
          .withColumn("d_seg", lit("MOVED")).withColumn("dver", lit(1L)))
        dim.delete(col("d_custkey") % 17 === 0 && col("d_status") === "F")
        val mv = MaterializedView.load(s, mp).refresh()
        require(mv.lastRefreshedVersion == LakeTable.load(s, fp).latestVersion &&
          mv.dimRefreshedVersions == Seq(LakeTable.load(s, dp).latestVersion),
          "one refresh must advance both maintenance cursors")
        mv.read().orderBy("d_seg")
      },
      """WITH cand AS (
        |  SELECT * FROM orders WHERE o_orderkey % 3 <> 0
        |  UNION ALL
        |  SELECT * FROM orders WHERE o_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice + 1.0,
        |         o_orderdate + INTERVAL 1 DAY, o_orderpriority
        |  FROM orders WHERE o_orderkey % 7 = 0),
        |fact AS (SELECT * FROM (
        |    SELECT *, ROW_NUMBER() OVER (
        |      PARTITION BY o_orderkey ORDER BY o_orderdate DESC) AS rn
        |    FROM cand) WHERE rn = 1 AND o_orderkey % 11 <> 0),
        |dim AS (
        |  SELECT c.c_custkey AS d_custkey, st.s AS d_status,
        |         CASE WHEN c.c_custkey % 5 = 0 AND st.s = 'O' THEN 'MOVED'
        |              ELSE c.c_mktsegment END AS d_seg
        |  FROM customer c, (VALUES ('O'), ('F'), ('P')) st(s)
        |  WHERE NOT (c.c_custkey % 17 = 0 AND st.s = 'F'))
        |SELECT dm.d_seg, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(f.o_custkey) AS BIGINT) AS su, MAX(f.o_totalprice) AS mx
        |FROM fact f
        |JOIN dim dm ON f.o_custkey = dm.d_custkey
        |           AND f.o_orderstatus = dm.d_status
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // LEFT-OUTER-join materialized view — the optional-dim shape: fact
    // rows without a dim match stay, null-extended into a NULL group, and
    // null-extension is NOT linear in the dim, so the maintenance adds a
    // transition term: exactly the churn window's touched join keys can
    // flip between joined and null-extended form (first row gained →
    // null rows retract; last row lost → null rows appear). The dim is
    // customers missing a deterministic quarter; churn births keys
    // (their orders leave the NULL group), kills keys (orders re-enter
    // it), moves segments, and churns the fact — the DuckDB oracle
    // replays everything over a final LEFT JOIN.
    "q163_left_join_mv" -> ((
      (s: SparkSession, d: String) => {
        import graft.lake.{MaterializedView, MvAgg}
        import graft.lake.MaterializedView.MvJoin
        val tag = d.replaceAll("[^a-z0-9.]", "_")
        val fp = freshDir(s"mvlj_f_$tag"); val dp = freshDir(s"mvlj_d_$tag")
        val mp = freshDir(s"mvlj_mv_$tag")
        val fact = LakeTable.create(s, fp, ordersSpec,
          t(s, d, "orders").filter(col("o_orderkey") % 3 =!= 0))
        def dimRows = t(s, d, "customer")
          .select(col("c_custkey").as("dck"), col("c_mktsegment").as("d_seg"))
          .withColumn("dver", lit(0L))
        val dim = LakeTable.create(s, dp, TableSpec("dck", "dver"),
          dimRows.filter(col("dck") % 4 =!= 0))
        MaterializedView.create(s, mp, fact, Seq("d_seg"),
          Seq(MvAgg("n", "count", "*"), MvAgg("su", "sum", "o_custkey"),
            MvAgg("mx", "max", "o_totalprice")),
          Seq(MvJoin(dp, Seq("o_custkey"), Seq("dck"), 0L, outer = true)))
        // fact churn: missing third arrives, every 7th reprices, every
        // 11th key deleted
        fact.upsert(t(s, d, "orders").filter(col("o_orderkey") % 3 === 0)
          .unionByName(t(s, d, "orders").filter(col("o_orderkey") % 7 === 0)
            .withColumn("o_totalprice", col("o_totalprice") + 1.0)
            .withColumn("o_orderdate", col("o_orderdate") + expr("INTERVAL 1 DAY"))))
        fact.delete(col("o_orderkey") % 11 === 0)
        // dim churn: segment moves on surviving initial keys, key BIRTHS
        // (every 8th custkey — a subset of the missing quarter), key
        // DEATHS (every 9th)
        dim.upsert(dimRows
          .filter(col("dck") % 4 =!= 0 && col("dck") % 5 === 0)
          .withColumn("d_seg", lit("MOVED")).withColumn("dver", lit(1L)))
        dim.upsert(dimRows.filter(col("dck") % 8 === 0))
        dim.delete(col("dck") % 9 === 0)
        val mv = MaterializedView.load(s, mp).refresh()
        require(mv.lastRefreshedVersion == LakeTable.load(s, fp).latestVersion &&
          mv.dimRefreshedVersions == Seq(LakeTable.load(s, dp).latestVersion),
          "one refresh must advance both maintenance cursors")
        mv.read().orderBy(col("d_seg").asc_nulls_first)
      },
      """WITH cand AS (
        |  SELECT * FROM orders WHERE o_orderkey % 3 <> 0
        |  UNION ALL
        |  SELECT * FROM orders WHERE o_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice + 1.0,
        |         o_orderdate + INTERVAL 1 DAY, o_orderpriority
        |  FROM orders WHERE o_orderkey % 7 = 0),
        |fact AS (SELECT * FROM (
        |    SELECT *, ROW_NUMBER() OVER (
        |      PARTITION BY o_orderkey ORDER BY o_orderdate DESC) AS rn
        |    FROM cand) WHERE rn = 1 AND o_orderkey % 11 <> 0),
        |dim AS (
        |  SELECT c_custkey AS dck,
        |         CASE WHEN c_custkey % 4 <> 0 AND c_custkey % 5 = 0
        |              THEN 'MOVED' ELSE c_mktsegment END AS d_seg
        |  FROM customer
        |  WHERE (c_custkey % 4 <> 0 OR c_custkey % 8 = 0)
        |    AND c_custkey % 9 <> 0)
        |SELECT dm.d_seg, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(f.o_custkey) AS BIGINT) AS su, MAX(f.o_totalprice) AS mx
        |FROM fact f
        |LEFT JOIN dim dm ON f.o_custkey = dm.dck
        |GROUP BY 1 ORDER BY 1 NULLS FIRST""".stripMargin)),

    // The round-9 MV features COMPOSED, driven purely through the SQL
    // lifecycle: a FILTERED view over a COMPOSITE-key LEFT join —
    // σ_urgent(orders ⟕ dim ON (custkey, status) = (dck, dst)) GROUP BY
    // d_seg — created via CREATE MATERIALIZED VIEW (the command's
    // matchers must peel the outer composite condition), churned on both
    // tables with key births/deaths on the two-column key, refreshed via
    // REFRESH ... IF STALE. DuckDB replays the final LEFT JOIN slice
    // incl. the NULL group.
    "q164_filtered_outer_composite_mv" -> ((
      (s: SparkSession, d: String) => {
        import graft.lake.MaterializedView
        val tag = d.replaceAll("[^a-z0-9.]", "_")
        val fp = freshDir(s"mvfoc_f_$tag"); val dp = freshDir(s"mvfoc_d_$tag")
        val mp = freshDir(s"mvfoc_mv_$tag") + "/mv"
        val fact = LakeTable.create(s, fp, ordersSpec,
          t(s, d, "orders").filter(col("o_orderkey") % 3 =!= 0))
        def dimRows = t(s, d, "customer")
          .select(col("c_custkey").as("dck"), col("c_mktsegment").as("d_seg"))
          .withColumn("dst", explode(array(lit("O"), lit("F"), lit("P"))))
          .withColumn("d_id", col("dck") * 4 +
            when(col("dst") === "O", 0).when(col("dst") === "F", 1).otherwise(2))
          .withColumn("dver", lit(0L))
        val dim = LakeTable.create(s, dp, TableSpec("d_id", "dver"),
          dimRows.filter(col("dck") % 4 =!= 0))
        s.read.format("graft").load(fp).createOrReplaceTempView("mvfoc_f")
        s.read.format("graft").load(dp).createOrReplaceTempView("mvfoc_d")
        graft.sql.GraftCreateMaterializedViewCommand(s"'$mp'",
          """SELECT d_seg, count(1) AS n, sum(o_custkey) AS su,
            |       max(o_totalprice) AS mx
            |FROM mvfoc_f LEFT JOIN mvfoc_d
            |  ON o_custkey = dck AND o_orderstatus = dst
            |WHERE o_orderpriority = '1-URGENT'
            |GROUP BY d_seg""".stripMargin).run(s)
        try {
          // fact churn: arrivals, priority flips across the filter, deletes
          fact.upsert(t(s, d, "orders").filter(col("o_orderkey") % 3 === 0)
            .unionByName(t(s, d, "orders").filter(col("o_orderkey") % 7 === 0)
              .withColumn("o_orderpriority",
                when(col("o_orderpriority") === "1-URGENT", "3-MEDIUM")
                  .otherwise("1-URGENT"))
              .withColumn("o_orderdate", col("o_orderdate") + expr("INTERVAL 1 DAY"))))
          fact.delete(col("o_orderkey") % 11 === 0)
          // dim churn on the composite key: births (every 8th custkey's
          // three rows), deaths (every 9th's 'F' row only — a PARTIAL
          // death that must NOT null-extend the other statuses), moves
          dim.upsert(dimRows.filter(col("dck") % 8 === 0))
          dim.delete(col("dck") % 9 === 0 && col("dst") === "F")
          dim.upsert(dimRows
            .filter(col("dck") % 4 =!= 0 && col("dck") % 5 === 0 && col("dst") === "O")
            .withColumn("d_seg", lit("MOVED")).withColumn("dver", lit(1L)))
          val r = graft.sql.GraftRefreshMaterializedViewCommand(s"'$mp'",
            ifStale = true).run(s).head
          require(r.getBoolean(1), "the churned view must report was_stale")
          val mv = MaterializedView.load(s, mp)
          require(mv.lastRefreshedVersion == LakeTable.load(s, fp).latestVersion &&
            mv.dimRefreshedVersions == Seq(LakeTable.load(s, dp).latestVersion),
            "IF STALE must advance both maintenance cursors")
          mv.read().orderBy(col("d_seg").asc_nulls_first)
        } finally graft.sql.GraftMvRewrite.unregister(mp)
      },
      """WITH cand AS (
        |  SELECT * FROM orders WHERE o_orderkey % 3 <> 0
        |  UNION ALL
        |  SELECT * FROM orders WHERE o_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |         o_orderdate + INTERVAL 1 DAY,
        |         CASE WHEN o_orderpriority = '1-URGENT' THEN '3-MEDIUM'
        |              ELSE '1-URGENT' END
        |  FROM orders WHERE o_orderkey % 7 = 0),
        |fact AS (SELECT * FROM (
        |    SELECT *, ROW_NUMBER() OVER (
        |      PARTITION BY o_orderkey ORDER BY o_orderdate DESC) AS rn
        |    FROM cand) WHERE rn = 1 AND o_orderkey % 11 <> 0),
        |dim AS (
        |  SELECT c.c_custkey AS dck, st.s AS dst,
        |         CASE WHEN c.c_custkey % 4 <> 0 AND c.c_custkey % 5 = 0
        |                   AND st.s = 'O'
        |              THEN 'MOVED' ELSE c.c_mktsegment END AS d_seg
        |  FROM customer c, (VALUES ('O'), ('F'), ('P')) st(s)
        |  WHERE (c.c_custkey % 4 <> 0 OR c.c_custkey % 8 = 0)
        |    AND NOT (c.c_custkey % 9 = 0 AND st.s = 'F'))
        |SELECT dm.d_seg, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(f.o_custkey) AS BIGINT) AS su, MAX(f.o_totalprice) AS mx
        |FROM fact f
        |LEFT JOIN dim dm ON f.o_custkey = dm.dck AND f.o_orderstatus = dm.dst
        |WHERE f.o_orderpriority = '1-URGENT'
        |GROUP BY 1 ORDER BY 1 NULLS FIRST""".stripMargin)),

    // SNOWFLAKE-ANCESTORED LEFT-outer MV — the optional chain-tail dim:
    // orders ⋈ customer (inner) LEFT nation, the nation key homed on the
    // CUSTOMER dim. The transition term must chase flipped nation keys
    // through the customer chain to fact keys (round-10 pruning path);
    // churn covers nation births/deaths/renames, customer nation-moves +
    // deletes, and fact arrivals/reprices/deletes — all absorbed by one
    // refresh. DuckDB replays the final three-table chain incl. the NULL
    // group.
    "q165_chained_outer_mv" -> ((
      (s: SparkSession, d: String) => {
        import graft.lake.{MaterializedView, MvAgg}
        import graft.lake.MaterializedView.MvJoin
        val tag = d.replaceAll("[^a-z0-9.]", "_")
        val fp = freshDir(s"mvco_f_$tag"); val cp = freshDir(s"mvco_c_$tag")
        val np = freshDir(s"mvco_n_$tag"); val mp = freshDir(s"mvco_mv_$tag")
        val fact = LakeTable.create(s, fp, ordersSpec,
          t(s, d, "orders").filter(col("o_orderkey") % 3 =!= 0))
        def custRows = t(s, d, "customer")
          .select(col("c_custkey"), col("c_nationkey")).withColumn("cver", lit(0L))
        val cust = LakeTable.create(s, cp, TableSpec("c_custkey", "cver"), custRows)
        def natRows = t(s, d, "nation")
          .select(col("n_nationkey"), col("n_name")).withColumn("nver", lit(0L))
        // every 4th nation missing: its customers' orders null-extend
        val nat = LakeTable.create(s, np, TableSpec("n_nationkey", "nver"),
          natRows.filter(col("n_nationkey") % 4 =!= 0))
        MaterializedView.create(s, mp, fact, Seq("n_name"),
          Seq(MvAgg("n", "count", "*"), MvAgg("su", "sum", "o_custkey"),
            MvAgg("mx", "max", "o_totalprice")),
          Seq(MvJoin(cp, Seq("o_custkey"), Seq("c_custkey"), 0L),
            MvJoin(np, Seq("c_nationkey"), Seq("n_nationkey"), 0L, outer = true)))
        // fact churn: missing third arrives, every 7th reprices, every
        // 11th key deleted
        fact.upsert(t(s, d, "orders").filter(col("o_orderkey") % 3 === 0)
          .unionByName(t(s, d, "orders").filter(col("o_orderkey") % 7 === 0)
            .withColumn("o_totalprice", col("o_totalprice") + 1.0)
            .withColumn("o_orderdate", col("o_orderdate") + expr("INTERVAL 1 DAY"))))
        fact.delete(col("o_orderkey") % 11 === 0)
        // parent-dim churn: every 5th customer moves nation (chain change
        // without a flip), every 13th deleted
        cust.upsert(custRows.filter(col("c_custkey") % 5 === 0)
          .withColumn("c_nationkey", (col("c_nationkey") + 1) % 25)
          .withColumn("cver", lit(1L)))
        cust.delete(col("c_custkey") % 13 === 0)
        // chain-tail churn: key BIRTHS (every 8th — a subset of the
        // missing quarter), a DEATH, a no-flip rename
        nat.upsert(natRows.filter(col("n_nationkey") % 8 === 0))
        nat.delete(col("n_nationkey") === 9)
        nat.upsert(natRows.filter(col("n_nationkey") === 10)
          .withColumn("n_name", lit("RENAMED")).withColumn("nver", lit(1L)))
        val mv = MaterializedView.load(s, mp).refresh()
        require(mv.lastRefreshedVersion == LakeTable.load(s, fp).latestVersion &&
          mv.dimRefreshedVersions == Seq(LakeTable.load(s, cp).latestVersion,
            LakeTable.load(s, np).latestVersion),
          "one refresh must advance all three maintenance cursors")
        mv.read().orderBy(col("n_name").asc_nulls_first)
      },
      """WITH cand AS (
        |  SELECT * FROM orders WHERE o_orderkey % 3 <> 0
        |  UNION ALL
        |  SELECT * FROM orders WHERE o_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice + 1.0,
        |         o_orderdate + INTERVAL 1 DAY, o_orderpriority
        |  FROM orders WHERE o_orderkey % 7 = 0),
        |fact AS (SELECT * FROM (
        |    SELECT *, ROW_NUMBER() OVER (
        |      PARTITION BY o_orderkey ORDER BY o_orderdate DESC) AS rn
        |    FROM cand) WHERE rn = 1 AND o_orderkey % 11 <> 0),
        |cust AS (
        |  SELECT c_custkey,
        |         CASE WHEN c_custkey % 5 = 0 THEN (c_nationkey + 1) % 25
        |              ELSE c_nationkey END AS c_nationkey
        |  FROM customer WHERE c_custkey % 13 <> 0),
        |nat AS (
        |  SELECT n_nationkey,
        |         CASE WHEN n_nationkey = 10 THEN 'RENAMED' ELSE n_name END AS n_name
        |  FROM nation
        |  WHERE (n_nationkey % 4 <> 0 OR n_nationkey % 8 = 0)
        |    AND n_nationkey <> 9)
        |SELECT nt.n_name, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(f.o_custkey) AS BIGINT) AS su, MAX(f.o_totalprice) AS mx
        |FROM fact f
        |JOIN cust c ON f.o_custkey = c.c_custkey
        |LEFT JOIN nat nt ON c.c_nationkey = nt.n_nationkey
        |GROUP BY 1 ORDER BY 1 NULLS FIRST""".stripMargin)),

    // DERIVED-serving MV rewrite: the query asks for aggregates the view
    // never declared, and the rewrite derives every one from the stored
    // state — avg(x) from a sum's internal sum+count pair, arithmetic
    // over aggregates (sum/count ratio, max−min spread) rebuilt over the
    // served columns, and count(DISTINCT dim) as a distinct count of the
    // state's live group rows — all on the ROLLUP path (the query groups
    // on one of the view's two dims). The require pins that the served
    // plan reads ONLY the state table; DuckDB recomputes everything from
    // the raw rows.
    "q162_mv_rewrite_derived" -> ((
      (s: SparkSession, d: String) => {
        import graft.lake.{MaterializedView, MvAgg}
        val tag = d.replaceAll("[^a-z0-9.]", "_")
        val path = freshDir(s"mvdrv_$tag"); val mvPath = freshDir(s"mvdrv_mv_$tag")
        val tbl = LakeTable.create(s, path, ordersSpec,
          t(s, d, "orders").filter(col("o_orderkey") % 2 === 0))
        MaterializedView.create(s, mvPath, tbl,
          Seq("o_orderstatus", "o_orderpriority"),
          Seq(MvAgg("n", "count", "*"), MvAgg("su", "sum", "o_custkey"),
            MvAgg("mn", "min", "o_totalprice"), MvAgg("mx", "max", "o_totalprice")))
        tbl.upsert(t(s, d, "orders").filter(col("o_orderkey") % 2 === 1))
        MaterializedView.load(s, mvPath).refresh()
        graft.sql.GraftMvRewrite.register(mvPath)
        try {
          val q = s.read.format("graft").load(path).groupBy("o_orderstatus")
            .agg(count(lit(1)).as("n"),
              avg("o_custkey").as("a"),
              count(col("o_custkey")).as("co"), // derived from su's cnt (r10)
              (sum("o_custkey") / count(lit(1))).as("ratio"),
              (max("o_totalprice") - min("o_totalprice")).as("spread"),
              countDistinct("o_orderpriority").as("dp"))
          val rewritten = graft.sql.GraftMvRewrite(q.queryExecution.analyzed)
          val readsBase = rewritten.collect {
            case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
          }.exists(_.relation match {
            case g: graft.sources.GraftRelation => g.path.contains(path)
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.exists(_.toString.contains(path))
            case _ => false
          })
          require(!readsBase,
            s"derived serving must read only the MV state:\n$rewritten")
          org.apache.spark.sql.GraftExpressionBridge.ofRows(s, rewritten)
            .orderBy("o_orderstatus")
        } finally graft.sql.GraftMvRewrite.unregister(mvPath)
      },
      """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(o_custkey) AS DOUBLE) / COUNT(o_custkey) AS a,
        |       CAST(COUNT(o_custkey) AS BIGINT) AS co,
        |       CAST(SUM(o_custkey) AS DOUBLE) / COUNT(*) AS ratio,
        |       MAX(o_totalprice) - MIN(o_totalprice) AS spread,
        |       CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS dp
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin)),

    // EXPRESSION-INPUT aggregate MV — the TPC-H revenue shape: the view
    // declares ONE aggregate over a row-local expression of the row
    // (sum(o_custkey * (o_orderkey % 5 + 1)), integer-exact so the
    // signed-delta maintenance is bit-exact), takes churn, and then the
    // rewrite serves sum/avg/count of the SAME expression plus count(*)
    // from the state alone — avg and count derive from the sum's internal
    // sum+count pair, count(*) from the state's group row counts. The
    // require pins that the served plan never reads the base.
    "q166_mv_expr_agg" -> ((
      (s: SparkSession, d: String) => {
        import graft.lake.{MaterializedView, MvAgg}
        val tag = d.replaceAll("[^a-z0-9.]", "_")
        val path = freshDir(s"mvexp_$tag"); val mvPath = freshDir(s"mvexp_mv_$tag")
        val tbl = LakeTable.create(s, path, ordersSpec,
          t(s, d, "orders").filter(col("o_orderkey") % 2 === 0))
        MaterializedView.create(s, mvPath, tbl,
          Seq("o_orderstatus", "o_orderpriority"),
          Seq(MvAgg("rev", "sum", "o_custkey * (o_orderkey % 5 + 1)")))
        tbl.upsert(t(s, d, "orders").filter(col("o_orderkey") % 2 === 1))
        tbl.delete(col("o_orderkey") % 13 === 0)
        MaterializedView.load(s, mvPath).refresh()
        graft.sql.GraftMvRewrite.register(mvPath)
        try {
          val e = expr("o_custkey * (o_orderkey % 5 + 1)")
          val q = s.read.format("graft").load(path).groupBy("o_orderstatus")
            .agg(sum(e).as("rev"), avg(e).as("av"), count(e).as("cx"),
              count(lit(1)).as("n"))
          val rewritten = graft.sql.GraftMvRewrite(q.queryExecution.analyzed)
          val readsBase = rewritten.collect {
            case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
          }.exists(_.relation match {
            case g: graft.sources.GraftRelation => g.path.contains(path)
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.exists(_.toString.contains(path))
            case _ => false
          })
          require(!readsBase,
            s"expression-agg serving must read only the MV state:\n$rewritten")
          org.apache.spark.sql.GraftExpressionBridge.ofRows(s, rewritten)
            .orderBy("o_orderstatus")
        } finally graft.sql.GraftMvRewrite.unregister(mvPath)
      },
      """WITH fact AS (
        |  SELECT * FROM orders WHERE o_orderkey % 13 <> 0)
        |SELECT o_orderstatus,
        |       CAST(SUM(o_custkey * (o_orderkey % 5 + 1)) AS BIGINT) AS rev,
        |       CAST(SUM(o_custkey * (o_orderkey % 5 + 1)) AS DOUBLE)
        |         / COUNT(o_custkey * (o_orderkey % 5 + 1)) AS av,
        |       CAST(COUNT(o_custkey * (o_orderkey % 5 + 1)) AS BIGINT) AS cx,
        |       CAST(COUNT(*) AS BIGINT) AS n
        |FROM fact GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin)),

    // JOIN-BACK (drill-across) MV serving: the view is JOIN-FREE, grouped
    // on the join key (one partial row per customer) with a single
    // decimal-exact expression sum; the query joins orders to the
    // customer dim and groups by a CUSTOMER attribute the view never
    // held. The rewrite re-joins the state's partials to the dim read
    // LIVE and re-aggregates — count(*) derives from the group row
    // counts, the revenue sum re-sums the partials, and count(DISTINCT
    // custkey) is duplication-insensitive — so a post-refresh DIM churn
    // (segment moves) needs NO view refresh to serve fresh numbers. The
    // require pins that the served plan never reads the fact.
    "q167_mv_joinback" -> ((
      (s: SparkSession, d: String) => {
        import graft.lake.{MaterializedView, MvAgg}
        val tag = d.replaceAll("[^a-z0-9.]", "_")
        val fp = freshDir(s"mvjb_f_$tag"); val cp = freshDir(s"mvjb_c_$tag")
        val mp = freshDir(s"mvjb_mv_$tag")
        val fact = LakeTable.create(s, fp, ordersSpec,
          t(s, d, "orders").filter(col("o_orderkey") % 2 === 0))
        val cust = LakeTable.create(s, cp, TableSpec("c_custkey", "cver"),
          t(s, d, "customer").select(col("c_custkey"), col("c_mktsegment"))
            .withColumn("cver", lit(0L)))
        MaterializedView.create(s, mp, fact, Seq("o_custkey"),
          Seq(MvAgg("rev", "sum", "CAST(o_totalprice AS DECIMAL(18,2))")))
        fact.upsert(t(s, d, "orders").filter(col("o_orderkey") % 2 === 1))
        fact.delete(col("o_orderkey") % 13 === 0)
        MaterializedView.load(s, mp).refresh()
        // dim churn AFTER the refresh: join-back reads the dim live, so
        // the rewrite must keep serving and reflect the moves
        cust.upsert(t(s, d, "customer").filter(col("c_custkey") % 5 === 0)
          .select(col("c_custkey"), col("c_mktsegment"))
          .withColumn("c_mktsegment", lit("MOVED")).withColumn("cver", lit(1L)))
        graft.sql.GraftMvRewrite.register(mp)
        try {
          val e = expr("CAST(o_totalprice AS DECIMAL(18,2))")
          val q = s.read.format("graft").load(fp)
            .join(s.read.format("graft").load(cp),
              col("o_custkey") === col("c_custkey"))
            .groupBy("c_mktsegment")
            .agg(count(lit(1)).as("n"), sum(e).cast("double").as("rev"),
              countDistinct("o_custkey").as("dk"))
          val rewritten = graft.sql.GraftMvRewrite(q.queryExecution.analyzed)
          val readsFact = rewritten.collect {
            case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
          }.exists(_.relation match {
            case g: graft.sources.GraftRelation => g.path.contains(fp)
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.exists(_.toString.contains(fp))
            case _ => false
          })
          require(!readsFact,
            s"join-back serving must read only the MV state and the dim:\n$rewritten")
          org.apache.spark.sql.GraftExpressionBridge.ofRows(s, rewritten)
            .orderBy("c_mktsegment")
        } finally graft.sql.GraftMvRewrite.unregister(mp)
      },
      """WITH fact AS (
        |  SELECT * FROM orders WHERE o_orderkey % 13 <> 0),
        |cust AS (
        |  SELECT c_custkey,
        |         CASE WHEN c_custkey % 5 = 0 THEN 'MOVED'
        |              ELSE c_mktsegment END AS c_mktsegment
        |  FROM customer)
        |SELECT c.c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev,
        |       CAST(COUNT(DISTINCT f.o_custkey) AS BIGINT) AS dk
        |FROM fact f JOIN cust c ON f.o_custkey = c.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // PARTIAL-STAR join-back — the summary-table + dimension-drill shape:
    // the view covers orders ⋈ customer grouped on the customer's NATION
    // key; the query adds a nation arm and groups by nation NAME. The
    // view's arm is a sub-multiset of the query's, so the rewrite serves
    // by joining the state's partials to the nation table read LIVE —
    // the served plan reads NEITHER the fact NOR the customer dim (both
    // folded into the state), and a post-refresh nation rename needs no
    // view refresh. avg derives from the sum's internal pair on the way.
    "q168_mv_partial_star" -> ((
      (s: SparkSession, d: String) => {
        import graft.lake.{MaterializedView, MvAgg}
        import graft.lake.MaterializedView.MvJoin
        val tag = d.replaceAll("[^a-z0-9.]", "_")
        val fp = freshDir(s"mvps_f_$tag"); val cp = freshDir(s"mvps_c_$tag")
        val np = freshDir(s"mvps_n_$tag"); val mp = freshDir(s"mvps_mv_$tag")
        val fact = LakeTable.create(s, fp, ordersSpec,
          t(s, d, "orders").filter(col("o_orderkey") % 2 === 0))
        val cust = LakeTable.create(s, cp, TableSpec("c_custkey", "cver"),
          t(s, d, "customer").select(col("c_custkey"), col("c_nationkey"))
            .withColumn("cver", lit(0L)))
        val nat = LakeTable.create(s, np, TableSpec("n_nationkey", "nver"),
          t(s, d, "nation").select(col("n_nationkey"), col("n_name"),
            col("n_regionkey")).withColumn("nver", lit(0L)))
        MaterializedView.create(s, mp, fact, Seq("c_nationkey"),
          Seq(MvAgg("n", "count", "*"), MvAgg("su", "sum", "o_custkey")),
          Seq(MvJoin(cp, Seq("o_custkey"), Seq("c_custkey"), 0L)))
        // fact + member-dim churn, absorbed by one refresh
        fact.upsert(t(s, d, "orders").filter(col("o_orderkey") % 2 === 1))
        fact.delete(col("o_orderkey") % 13 === 0)
        cust.upsert(t(s, d, "customer").filter(col("c_custkey") % 5 === 0)
          .select(col("c_custkey"), col("c_nationkey"))
          .withColumn("c_nationkey", (col("c_nationkey") + 1) % 25)
          .withColumn("cver", lit(1L)))
        MaterializedView.load(s, mp).refresh()
        // EXTRA-arm churn after the refresh: the drill dim is read live
        nat.upsert(t(s, d, "nation").filter(col("n_nationkey") === 10)
          .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
          .withColumn("n_name", lit("RENAMED")).withColumn("nver", lit(1L)))
        graft.sql.GraftMvRewrite.register(mp)
        try {
          // dk: count(DISTINCT view-dim) under join-back; de: count
          // (DISTINCT expr-over-drill-attrs); mr: drill-attr extremum —
          // all duplication-insensitive, re-derived over the state's
          // group rows post join-back
          val q = s.read.format("graft").load(fp)
            .join(s.read.format("graft").load(cp),
              col("o_custkey") === col("c_custkey"))
            .join(s.read.format("graft").load(np),
              col("c_nationkey") === col("n_nationkey"))
            .groupBy("n_name")
            .agg(count(lit(1)).as("n"), sum("o_custkey").as("su"),
              avg("o_custkey").as("av"),
              countDistinct(col("c_nationkey")).as("dk"),
              countDistinct(concat(col("n_name"), col("n_regionkey"))).as("de"),
              min(col("n_regionkey")).as("mr"),
              // weighted drill sum: Σ n_regionkey·GRP_N over the state
              sum(col("n_regionkey")).as("sr"))
          val rewritten = graft.sql.GraftMvRewrite(q.queryExecution.analyzed)
          val readsFolded = rewritten.collect {
            case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
          }.exists(_.relation match {
            case g: graft.sources.GraftRelation =>
              g.path.contains(fp) || g.path.contains(cp)
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.exists(p =>
                p.toString.contains(fp) || p.toString.contains(cp))
            case _ => false
          })
          require(!readsFolded,
            s"partial-star serving must read only the state and the drill dim:\n$rewritten")
          org.apache.spark.sql.GraftExpressionBridge.ofRows(s, rewritten)
            .orderBy("n_name")
        } finally graft.sql.GraftMvRewrite.unregister(mp)
      },
      """WITH fact AS (
        |  SELECT * FROM orders WHERE o_orderkey % 13 <> 0),
        |cust AS (
        |  SELECT c_custkey,
        |         CASE WHEN c_custkey % 5 = 0 THEN (c_nationkey + 1) % 25
        |              ELSE c_nationkey END AS c_nationkey
        |  FROM customer),
        |nat AS (
        |  SELECT n_nationkey, n_regionkey,
        |         CASE WHEN n_nationkey = 10 THEN 'RENAMED' ELSE n_name END AS n_name
        |  FROM nation)
        |SELECT nt.n_name, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(f.o_custkey) AS BIGINT) AS su,
        |       CAST(SUM(f.o_custkey) AS DOUBLE) / COUNT(f.o_custkey) AS av,
        |       CAST(COUNT(DISTINCT c.c_nationkey) AS BIGINT) AS dk,
        |       CAST(COUNT(DISTINCT CONCAT(nt.n_name, nt.n_regionkey)) AS BIGINT) AS de,
        |       CAST(MIN(nt.n_regionkey) AS BIGINT) AS mr,
        |       CAST(SUM(nt.n_regionkey) AS BIGINT) AS sr
        |FROM fact f
        |JOIN cust c ON f.o_custkey = c.c_custkey
        |JOIN nat nt ON c.c_nationkey = nt.n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // The REAL TPC-H revenue MV, end-to-end through SQL: CREATE
    // MATERIALIZED VIEW with the decimal expression aggregate
    // sum(px * (1 - disc)) plus a decimal avg, churn (upsert + delete),
    // REFRESH … IF STALE through the SQL command, and the q01-shaped
    // query SERVED from state — the require pins that the served plan
    // never reads the lineitem base, and an in-process require compares
    // the served DECIMALS bit-exactly against direct recompute (the
    // oracle cross-checks the double renderings against DuckDB). avg is
    // expressed as sum/count arithmetic (a decimal avg's finalized type
    // can never match the state's double finalization — the rewrite
    // correctly bails on it — while the sum and count DERIVE from the
    // declared avg's internal pair).
    "q169_mv_revenue_sql" -> ((
      (s: SparkSession, d: String) => {
        val tag = d.replaceAll("[^a-z0-9.]", "_")
        val path = freshDir(s"mvrev_$tag"); val mvPath = freshDir(s"mvrev_mv_$tag")
        // (l_orderkey, l_linenumber) is NOT unique in the corpus — key
        // each row by a per-order row_number (≤ 13 lines/order) so the
        // upsert lifecycle never dedups real rows; the window is
        // per-order, so the evens/odds churn batches can never collide
        def li(pred: org.apache.spark.sql.Column) = t(s, d, "lineitem")
          .filter(pred).select(
            col("l_orderkey"), col("l_returnflag"), col("l_linestatus"),
            dec2(col("l_quantity")).as("qty"),
            dec2(col("l_extendedprice")).as("px"),
            dec2(col("l_discount")).as("disc"))
          .withColumn("lk", col("l_orderkey") * 100 +
            row_number().over(org.apache.spark.sql.expressions.Window
              .partitionBy("l_orderkey")
              .orderBy("l_returnflag", "l_linestatus", "qty", "px", "disc")))
          .withColumn("ver", lit(0L))
        val tbl = LakeTable.create(s, path, TableSpec("lk", "ver"),
          li(col("l_orderkey") % 2 === 0))
        val view = s"liv_rev_$tag".replace(".", "_")
        s.read.format("graft").load(path).createOrReplaceTempView(view)
        graft.sql.GraftCreateMaterializedViewCommand(s"'$mvPath'",
          s"""SELECT l_returnflag, l_linestatus,
             |       sum(qty) AS sum_qty,
             |       sum(px * (1 - disc)) AS revenue,
             |       avg(disc) AS avg_disc,
             |       count(1) AS n
             |FROM $view GROUP BY l_returnflag, l_linestatus""".stripMargin).run(s)
        try {
          tbl.upsert(li(col("l_orderkey") % 2 === 1))
          tbl.delete(col("l_orderkey") % 13 === 0)
          graft.sql.GraftRefreshMaterializedViewCommand(s"'$mvPath'",
            ifStale = true).run(s)
          def agged(df: DataFrame): DataFrame = df
            .groupBy("l_returnflag", "l_linestatus")
            .agg(sum(col("qty")).as("sum_qty"),
              sum(expr("px * (1 - disc)")).as("revenue"),
              (sum(col("disc")).cast("double") / count(col("disc")))
                .as("avg_disc"),
              count(lit(1)).as("n"))
          val q = agged(s.read.format("graft").load(path))
          val rewritten = graft.sql.GraftMvRewrite(q.queryExecution.analyzed)
          val readsBase = rewritten.collect {
            case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
          }.exists(_.relation match {
            case g: graft.sources.GraftRelation => g.path.contains(path)
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.exists(_.toString.contains(path))
            case _ => false
          })
          require(!readsBase,
            s"the revenue query must serve from the MV state:\n$rewritten")
          val served = org.apache.spark.sql.GraftExpressionBridge.ofRows(s, rewritten)
          // bit-exact DECIMAL equality vs direct recompute of the churned
          // table — the maintained decimal state IS the recomputation
          val direct = agged(LakeTable.load(s, path).read())
          require(served.collect().map(_.toSeq).toSet ==
            direct.collect().map(_.toSeq).toSet,
            "served decimal revenue must equal direct recompute bit-exactly")
          served.select(col("l_returnflag"), col("l_linestatus"),
            col("sum_qty").cast("double").as("sum_qty"),
            col("revenue").cast("double").as("revenue"),
            col("avg_disc"), col("n"))
            .orderBy("l_returnflag", "l_linestatus")
        } finally {
          graft.sql.GraftMvRewrite.unregister(mvPath)
          s.catalog.dropTempView(view)
          ()
        }
      },
      """WITH li AS (
        |  SELECT l_returnflag, l_linestatus,
        |         CAST(l_quantity AS DECIMAL(18,2)) AS qty,
        |         CAST(l_extendedprice AS DECIMAL(18,2)) AS px,
        |         CAST(l_discount AS DECIMAL(18,2)) AS disc
        |  FROM lineitem WHERE l_orderkey % 13 <> 0)
        |SELECT l_returnflag, l_linestatus,
        |       CAST(SUM(qty) AS DOUBLE) AS sum_qty,
        |       CAST(SUM(px * (1 - disc)) AS DOUBLE) AS revenue,
        |       CAST(SUM(disc) AS DOUBLE) / COUNT(disc) AS avg_disc,
        |       CAST(COUNT(*) AS BIGINT) AS n
        |FROM li GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Join-back NAME-SHADOWING oracle: fact and dim deliberately share
    // the column name `seg` (the fact's is o_orderpriority, the dim's is
    // c_mktsegment). One query groups on the DIM's seg — provenance
    // resolution serves it from the view's partials joined back to the
    // live dim (require: no fact scan); the sibling groups on the FACT's
    // seg — NOT a view dim, and the same-named drill column must NOT
    // capture it (require: the fact IS scanned). Both halves must be
    // value-correct either way.
    "q170_mv_shadow_joinback" -> ((
      (s: SparkSession, d: String) => {
        import graft.lake.{MaterializedView, MvAgg}
        val tag = d.replaceAll("[^a-z0-9.]", "_")
        val fp = freshDir(s"mvsh_f_$tag"); val cp = freshDir(s"mvsh_c_$tag")
        val mp = freshDir(s"mvsh_mv_$tag")
        def ords(pred: org.apache.spark.sql.Column) = t(s, d, "orders").filter(pred)
          .withColumn("seg", col("o_orderpriority"))
        val fact = LakeTable.create(s, fp, ordersSpec,
          ords(col("o_orderkey") % 2 === 0))
        val cust = LakeTable.create(s, cp, TableSpec("c_custkey", "cver"),
          t(s, d, "customer").select(col("c_custkey"),
            col("c_mktsegment").as("seg")).withColumn("cver", lit(0L)))
        MaterializedView.create(s, mp, fact, Seq("o_custkey"),
          Seq(MvAgg("rev", "sum", "CAST(o_totalprice AS DECIMAL(18,2))"),
            MvAgg("n", "count", "*")))
        fact.upsert(ords(col("o_orderkey") % 2 === 1))
        fact.delete(col("o_orderkey") % 13 === 0)
        MaterializedView.load(s, mp).refresh()
        // dim churn after the refresh: join-back reads the dim live
        cust.upsert(t(s, d, "customer").filter(col("c_custkey") % 7 === 0)
          .select(col("c_custkey"), lit("MOVED").as("seg"))
          .withColumn("cver", lit(1L)))
        graft.sql.GraftMvRewrite.register(mp)
        try {
          val f = s.read.format("graft").load(fp)
          val c = s.read.format("graft").load(cp)
          def readsFact(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
              : Boolean = p.collect {
            case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
          }.exists(_.relation match {
            case g: graft.sources.GraftRelation => g.path.contains(fp)
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.exists(_.toString.contains(fp))
            case _ => false
          })
          def half(grp: org.apache.spark.sql.Column): DataFrame = f
            .join(c, f("o_custkey") === c("c_custkey"))
            .groupBy(grp)
            .agg(count(lit(1)).as("n"),
              sum(expr("CAST(o_totalprice AS DECIMAL(18,2))"))
                .cast("double").as("rev"))
          val rwDim = graft.sql.GraftMvRewrite(
            half(c("seg")).queryExecution.analyzed)
          require(!readsFact(rwDim),
            s"the DIM's seg must serve from state + live dim:\n$rwDim")
          val rwFact = graft.sql.GraftMvRewrite(
            half(f("seg")).queryExecution.analyzed)
          require(readsFact(rwFact),
            s"the FACT's seg must NOT be captured by the drill dim:\n$rwFact")
          val dimHalf = org.apache.spark.sql.GraftExpressionBridge
            .ofRows(s, rwDim).withColumn("src", lit("dim"))
          val factHalf = org.apache.spark.sql.GraftExpressionBridge
            .ofRows(s, rwFact).withColumn("src", lit("fact"))
          dimHalf.unionByName(factHalf)
            .select(col("src"), col("seg"), col("n"), col("rev"))
            .orderBy("src", "seg")
        } finally graft.sql.GraftMvRewrite.unregister(mp)
      },
      """WITH f AS (
        |  SELECT o_custkey, CAST(o_totalprice AS DECIMAL(18,2)) AS rev0,
        |         o_orderpriority AS seg
        |  FROM orders WHERE o_orderkey % 13 <> 0),
        |c AS (
        |  SELECT c_custkey,
        |         CASE WHEN c_custkey % 7 = 0 THEN 'MOVED'
        |              ELSE c_mktsegment END AS seg
        |  FROM customer)
        |SELECT * FROM (
        |  SELECT 'dim' AS src, c.seg, CAST(COUNT(*) AS BIGINT) AS n,
        |         CAST(SUM(f.rev0) AS DOUBLE) AS rev
        |  FROM f JOIN c ON f.o_custkey = c.c_custkey GROUP BY 2
        |  UNION ALL
        |  SELECT 'fact' AS src, f.seg, CAST(COUNT(*) AS BIGINT) AS n,
        |         CAST(SUM(f.rev0) AS DOUBLE) AS rev
        |  FROM f JOIN c ON f.o_custkey = c.c_custkey GROUP BY 2)
        |ORDER BY src, seg""".stripMargin)),

    // Join-back through the SQL LIFECYCLE, with shadowing: the view is
    // composed via CREATE MATERIALIZED VIEW … FROM fact JOIN cust (a SQL
    // join view carrying the dim attribute c_nationkey as a view dim),
    // churned on both members, refreshed via REFRESH … IF STALE, and
    // then a drill-across query joins a THIRD table (nation) whose `seg`
    // column deliberately shadows a fact column of the same name.
    // Grouping on NATION's seg must serve via the extra-arm join-back
    // (require: neither the fact nor the covered cust arm is scanned —
    // state partials ⋈ live nation only); grouping on the FACT's seg
    // must NOT be captured by the drill dim (require: the fact IS
    // scanned). Proves the provenance contract round-trips
    // parser → MvMeta → rewrite, not just the API-created views of
    // q167/q168/q170.
    "q171_mv_sql_joinback" -> ((
      (s: SparkSession, d: String) => {
        val tag = d.replaceAll("[^a-z0-9.]", "_")
        val fp = freshDir(s"mvsj_f_$tag"); val cp = freshDir(s"mvsj_c_$tag")
        val np = freshDir(s"mvsj_n_$tag")
        val mp = freshDir(s"mvsj_mv_$tag") + "/mv"
        def ords(pred: org.apache.spark.sql.Column) = t(s, d, "orders")
          .filter(pred).withColumn("seg", col("o_orderpriority"))
        val fact = LakeTable.create(s, fp, ordersSpec,
          ords(col("o_orderkey") % 2 === 0))
        val cust = LakeTable.create(s, cp, TableSpec("c_custkey", "cver"),
          t(s, d, "customer").select(col("c_custkey"), col("c_nationkey"))
            .withColumn("cver", lit(0L)))
        val nat = LakeTable.create(s, np, TableSpec("n_nationkey", "nver"),
          t(s, d, "nation").select(col("n_nationkey"),
            col("n_name").as("seg")).withColumn("nver", lit(0L)))
        val fv = s"mvsj_f_v_$tag".replace(".", "_")
        val cv = s"mvsj_c_v_$tag".replace(".", "_")
        s.read.format("graft").load(fp).createOrReplaceTempView(fv)
        s.read.format("graft").load(cp).createOrReplaceTempView(cv)
        graft.sql.GraftCreateMaterializedViewCommand(s"'$mp'",
          s"""SELECT c_nationkey, count(1) AS n, sum(o_custkey) AS su
             |FROM $fv JOIN $cv ON o_custkey = c_custkey
             |GROUP BY c_nationkey""".stripMargin).run(s)
        try {
          fact.upsert(ords(col("o_orderkey") % 2 === 1))
          fact.delete(col("o_orderkey") % 13 === 0)
          cust.upsert(t(s, d, "customer").filter(col("c_custkey") % 5 === 0)
            .select(col("c_custkey"),
              ((col("c_nationkey") + 1) % 25).as("c_nationkey"))
            .withColumn("cver", lit(1L)))
          graft.sql.GraftRefreshMaterializedViewCommand(s"'$mp'",
            ifStale = true).run(s)
          // drill-dim churn AFTER the refresh: join-back reads it live
          nat.upsert(t(s, d, "nation").filter(col("n_nationkey") === 10)
            .select(col("n_nationkey"), lit("RENAMED").as("seg"))
            .withColumn("nver", lit(1L)))
          val f = s.read.format("graft").load(fp)
          val c = s.read.format("graft").load(cp)
          val n = s.read.format("graft").load(np)
          def readsAny(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
              paths: Seq[String]): Boolean = p.collect {
            case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
          }.exists(_.relation match {
            case g: graft.sources.GraftRelation =>
              paths.exists(g.path.contains)
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.exists(rp =>
                paths.exists(rp.toString.contains))
            case _ => false
          })
          def half(grp: org.apache.spark.sql.Column): DataFrame = f
            .join(c, f("o_custkey") === c("c_custkey"))
            .join(n, c("c_nationkey") === n("n_nationkey"))
            .groupBy(grp)
            .agg(count(lit(1)).as("n"), sum("o_custkey").as("su"))
          val rwDim = graft.sql.GraftMvRewrite(
            half(n("seg")).queryExecution.analyzed)
          require(!readsAny(rwDim, Seq(fp, cp)),
            s"the drill on NATION's seg must serve from state + live nation:\n$rwDim")
          val rwFact = graft.sql.GraftMvRewrite(
            half(f("seg")).queryExecution.analyzed)
          require(readsAny(rwFact, Seq(fp)),
            s"the FACT's seg must NOT be captured by the drill dim:\n$rwFact")
          val dimHalf = org.apache.spark.sql.GraftExpressionBridge
            .ofRows(s, rwDim).withColumn("src", lit("dim"))
          val factHalf = org.apache.spark.sql.GraftExpressionBridge
            .ofRows(s, rwFact).withColumn("src", lit("fact"))
          dimHalf.unionByName(factHalf)
            .select(col("src"), col("seg"), col("n"), col("su"))
            .orderBy("src", "seg")
        } finally {
          graft.sql.GraftMvRewrite.unregister(mp)
          s.catalog.dropTempView(fv); s.catalog.dropTempView(cv)
          ()
        }
      },
      """WITH f AS (
        |  SELECT o_custkey, o_orderpriority AS seg
        |  FROM orders WHERE o_orderkey % 13 <> 0),
        |c AS (
        |  SELECT c_custkey,
        |         CASE WHEN c_custkey % 5 = 0 THEN (c_nationkey + 1) % 25
        |              ELSE c_nationkey END AS c_nationkey
        |  FROM customer),
        |nt AS (
        |  SELECT n_nationkey,
        |         CASE WHEN n_nationkey = 10 THEN 'RENAMED' ELSE n_name END AS seg
        |  FROM nation)
        |SELECT * FROM (
        |  SELECT 'dim' AS src, nt.seg, CAST(COUNT(*) AS BIGINT) AS n,
        |         CAST(SUM(f.o_custkey) AS BIGINT) AS su
        |  FROM f JOIN c ON f.o_custkey = c.c_custkey
        |         JOIN nt ON c.c_nationkey = nt.n_nationkey
        |  GROUP BY 2
        |  UNION ALL
        |  SELECT 'fact' AS src, f.seg, CAST(COUNT(*) AS BIGINT) AS n,
        |         CAST(SUM(f.o_custkey) AS BIGINT) AS su
        |  FROM f JOIN c ON f.o_custkey = c.c_custkey
        |         JOIN nt ON c.c_nationkey = nt.n_nationkey
        |  GROUP BY 2)
        |ORDER BY src, seg""".stripMargin)),

    // TYPE-WIDENING through the MV lifecycle: the base's `amt` column is
    // created INT under sum/min/max/avg state, widened in place to
    // BIGINT (the table layer's metadata-only ALTER), then churned with
    // values only the wide type can hold (> Int.MaxValue). The refresh's
    // type pre-flight widens the min/max state columns to match (the
    // running sum is long already), so the extrema absorb the wide
    // values instead of silently wrapping through the old cast-to-state
    // arithmetic — and the rewrite still serves the q-shape afterwards
    // (require: no base scan), hash-checked against DuckDB.
    "q172_mv_widen_refresh" -> ((
      (s: SparkSession, d: String) => {
        import graft.lake.{MaterializedView, MvAgg}
        val tag = d.replaceAll("[^a-z0-9.]", "_")
        val fp = freshDir(s"mvwd_f_$tag"); val mp = freshDir(s"mvwd_mv_$tag")
        def ords = t(s, d, "orders")
        val tbl = LakeTable.create(s, fp, ordersSpec,
          ords.withColumn("amt", col("o_custkey").cast("int")))
        MaterializedView.create(s, mp, tbl, Seq("o_orderstatus"),
          Seq(MvAgg("n", "count", "*"), MvAgg("s", "sum", "amt"),
            MvAgg("mn", "min", "amt"), MvAgg("mx", "max", "amt"),
            MvAgg("av", "avg", "amt")))
        tbl.widenColumn("amt", org.apache.spark.sql.types.LongType)
        tbl.upsert(ords
          .withColumn("o_orderkey", col("o_orderkey") + 100000000L)
          .withColumn("amt", col("o_custkey") + 3000000000L))
        MaterializedView.load(s, mp).refresh()
        graft.sql.GraftMvRewrite.register(mp)
        try {
          val q = s.read.format("graft").load(fp).groupBy("o_orderstatus")
            .agg(count(lit(1)).as("n"), sum("amt").as("s"),
              min("amt").as("mn"), max("amt").as("mx"), avg("amt").as("av"))
          val rewritten = graft.sql.GraftMvRewrite(q.queryExecution.analyzed)
          require(!rewritten.exists(
            _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Aggregate]),
            s"the widened view must still serve from state:\n$rewritten")
          org.apache.spark.sql.GraftExpressionBridge.ofRows(s, rewritten)
            .orderBy("o_orderstatus")
        } finally graft.sql.GraftMvRewrite.unregister(mp)
      },
      """WITH t AS (
        |  SELECT o_orderstatus, CAST(o_custkey AS BIGINT) AS amt FROM orders
        |  UNION ALL
        |  SELECT o_orderstatus, o_custkey + 3000000000 AS amt FROM orders)
        |SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(amt) AS BIGINT) AS s,
        |       CAST(MIN(amt) AS BIGINT) AS mn,
        |       CAST(MAX(amt) AS BIGINT) AS mx,
        |       CAST(SUM(amt) AS DOUBLE) / COUNT(amt) AS av
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin)),

    // NO-AGGREGATE grouping served from MV state: `GROUP BY dims` with
    // no aggregate calls (the SELECT DISTINCT shape after the optimizer's
    // Distinct→Aggregate replacement) is a free projection of the state's
    // live group rows. The EXACT half (both view dims) must serve with no
    // re-aggregation at all; the ROLLUP half (a dim subset) re-distincts
    // the state's group rows — both require: the base is never scanned.
    // Dead groups (all rows deleted) must drop out like the query's own
    // DISTINCT would — the churn deletes every row of one status.
    "q173_mv_noagg_grouping" -> ((
      (s: SparkSession, d: String) => {
        import graft.lake.{MaterializedView, MvAgg}
        val tag = d.replaceAll("[^a-z0-9.]", "_")
        val fp = freshDir(s"mvng_f_$tag"); val mp = freshDir(s"mvng_mv_$tag")
        val tbl = LakeTable.create(s, fp, ordersSpec,
          t(s, d, "orders").filter(col("o_orderkey") % 2 === 0))
        MaterializedView.create(s, mp, tbl,
          Seq("o_orderstatus", "o_orderpriority"),
          Seq(MvAgg("n", "count", "*")))
        tbl.upsert(t(s, d, "orders").filter(col("o_orderkey") % 2 === 1))
        tbl.delete(col("o_orderstatus") === "P") // a whole status dies
        MaterializedView.load(s, mp).refresh()
        graft.sql.GraftMvRewrite.register(mp)
        val v = s"mvng_v_$tag".replace(".", "_")
        s.read.format("graft").load(fp).createOrReplaceTempView(v)
        try {
          def readsBase(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
              : Boolean = p.collect {
            case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
          }.exists(_.relation match {
            case g: graft.sources.GraftRelation => g.path.contains(fp)
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.exists(_.toString.contains(fp))
            case _ => false
          })
          val exact = graft.sql.GraftMvRewrite(s.sql(
            s"SELECT o_orderstatus, o_orderpriority FROM $v " +
              "GROUP BY o_orderstatus, o_orderpriority")
            .queryExecution.analyzed)
          require(!readsBase(exact) && !exact.exists(
            _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Aggregate]),
            s"exact no-agg grouping must serve the state's dim rows directly:\n$exact")
          val roll = graft.sql.GraftMvRewrite(s.sql(
            s"SELECT o_orderstatus FROM $v GROUP BY o_orderstatus")
            .queryExecution.analyzed)
          require(!readsBase(roll),
            s"rollup no-agg grouping must re-distinct the state, not the base:\n$roll")
          val exactDf = org.apache.spark.sql.GraftExpressionBridge.ofRows(s, exact)
            .withColumn("src", lit("exact"))
          val rollDf = org.apache.spark.sql.GraftExpressionBridge.ofRows(s, roll)
            .withColumn("o_orderpriority", lit(null).cast("string"))
            .withColumn("src", lit("roll"))
          exactDf.unionByName(rollDf)
            .select(col("src"), col("o_orderstatus"), col("o_orderpriority"))
            .orderBy("src", "o_orderstatus", "o_orderpriority")
        } finally {
          graft.sql.GraftMvRewrite.unregister(mp)
          s.catalog.dropTempView(v)
          ()
        }
      },
      """WITH live AS (SELECT * FROM orders WHERE o_orderstatus <> 'P')
        |SELECT * FROM (
        |  SELECT 'exact' AS src, o_orderstatus, o_orderpriority
        |  FROM live GROUP BY o_orderstatus, o_orderpriority
        |  UNION ALL
        |  SELECT 'roll' AS src, o_orderstatus, CAST(NULL AS VARCHAR)
        |    AS o_orderpriority
        |  FROM live GROUP BY o_orderstatus)
        |ORDER BY 1, 2, 3""".stripMargin)),

    // GROUPING-SETS serving: GROUP BY CUBE over the churned viewed base
    // re-executes the query's own Expand over the state's group rows —
    // count/sum/min re-derive from stored partials, avg from the
    // sum+count pair, grouping() flags ride the reused spark_grouping_id
    // — with the require pinning that the base is never scanned. At scale
    // this is the Expand multiplication moved from |fact|·|sets| rows to
    // |groups|·|sets|.
    "q174_mv_grouping_sets" -> ((
      (s: SparkSession, d: String) => {
        import graft.lake.{MaterializedView, MvAgg}
        val tag = d.replaceAll("[^a-z0-9.]", "_")
        val fp = freshDir(s"mvgs_f_$tag"); val mp = freshDir(s"mvgs_mv_$tag")
        val tbl = LakeTable.create(s, fp, ordersSpec,
          t(s, d, "orders").filter(col("o_orderkey") % 2 === 0))
        MaterializedView.create(s, mp, tbl,
          Seq("o_orderstatus", "o_orderpriority"),
          Seq(MvAgg("n", "count", "*"), MvAgg("s", "sum", "o_custkey"),
            MvAgg("mn", "min", "o_custkey"), MvAgg("av", "avg", "o_custkey")))
        tbl.upsert(t(s, d, "orders").filter(col("o_orderkey") % 2 === 1))
        tbl.delete(col("o_orderkey") % 13 === 0)
        MaterializedView.load(s, mp).refresh()
        graft.sql.GraftMvRewrite.register(mp)
        val v = s"mvgs_v_$tag".replace(".", "_")
        s.read.format("graft").load(fp).createOrReplaceTempView(v)
        try {
          val q = s.sql(
            s"""SELECT o_orderstatus AS st, o_orderpriority AS pri,
               |       CAST(grouping(o_orderstatus) AS INT) AS gs,
               |       CAST(grouping(o_orderpriority) AS INT) AS gp,
               |       count(1) AS n, sum(o_custkey) AS s,
               |       min(o_custkey) AS mn, avg(o_custkey) AS av,
               |       sum(o_custkey) / count(1) AS ratio
               |FROM $v
               |GROUP BY CUBE(o_orderstatus, o_orderpriority)""".stripMargin)
          val rewritten = graft.sql.GraftMvRewrite(q.queryExecution.analyzed)
          val readsBase = rewritten.collect {
            case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
          }.exists(_.relation match {
            case g: graft.sources.GraftRelation => g.path.contains(fp)
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.exists(_.toString.contains(fp))
            case _ => false
          })
          require(!readsBase,
            s"the CUBE must serve from the state's group rows:\n$rewritten")
          org.apache.spark.sql.GraftExpressionBridge.ofRows(s, rewritten)
            .orderBy("gs", "gp", "st", "pri")
        } finally {
          graft.sql.GraftMvRewrite.unregister(mp)
          s.catalog.dropTempView(v)
          ()
        }
      },
      """WITH t AS (SELECT * FROM orders WHERE o_orderkey % 13 <> 0)
        |SELECT o_orderstatus AS st, o_orderpriority AS pri,
        |       CAST(GROUPING(o_orderstatus) AS INT) AS gs,
        |       CAST(GROUPING(o_orderpriority) AS INT) AS gp,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(o_custkey) AS BIGINT) AS s,
        |       CAST(MIN(o_custkey) AS BIGINT) AS mn,
        |       CAST(SUM(o_custkey) AS DOUBLE) / COUNT(o_custkey) AS av,
        |       CAST(SUM(o_custkey) AS DOUBLE) / COUNT(*) AS ratio
        |FROM t GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY gs, gp, st, pri""".stripMargin)),

    // GROUPING SETS x JOIN-BACK (round 13): the ROLLUP groups on a DIM
    // attribute the view does not hold — the view covers only the fact,
    // so the drill arm joins the state's live group rows against the
    // customer table read live, then the query's own Expand re-executes
    // over the joined rows. Serves: stored-partial aggs (count*/sum/min
    // over fact columns), GRP_N-weighted count over an arm column,
    // arm-column extremum, and count(DISTINCT arm column). The require
    // pins that the FACT is never scanned while the dim is read live
    // (post-refresh dim churn must surface in the answer).
    "q175_mv_gs_joinback" -> ((
      (s: SparkSession, d: String) => {
        import graft.lake.{MaterializedView, MvAgg}
        val tag = d.replaceAll("[^a-z0-9.]", "_")
        val fp = freshDir(s"mvgsj_f_$tag"); val cp = freshDir(s"mvgsj_c_$tag")
        val mp = freshDir(s"mvgsj_mv_$tag")
        val fact = LakeTable.create(s, fp, ordersSpec,
          t(s, d, "orders").filter(col("o_orderkey") % 2 === 0))
        val cust = LakeTable.create(s, cp, TableSpec("c_custkey", "cver"),
          t(s, d, "customer").withColumn("cver", lit(0L)))
        MaterializedView.create(s, mp, fact,
          Seq("o_orderstatus", "o_custkey"),
          Seq(MvAgg("n", "count", "*"), MvAgg("su", "sum", "o_custkey"),
            MvAgg("mn", "min", "o_custkey")))
        fact.upsert(t(s, d, "orders").filter(col("o_orderkey") % 2 === 1))
        fact.delete(col("o_orderkey") % 13 === 0)
        MaterializedView.load(s, mp).refresh()
        // dim churn AFTER the refresh: the view has no cust cursor — the
        // drill reads the dim live, so the moves must appear
        cust.upsert(t(s, d, "customer").filter(col("c_custkey") % 5 === 0)
          .withColumn("c_mktsegment", lit("MOVED"))
          .withColumn("cver", lit(1L)))
        graft.sql.GraftMvRewrite.register(mp)
        val fv = s"mvgsj_f_v_$tag".replace(".", "_")
        val cv = s"mvgsj_c_v_$tag".replace(".", "_")
        s.read.format("graft").load(fp).createOrReplaceTempView(fv)
        s.read.format("graft").load(cp).createOrReplaceTempView(cv)
        try {
          val q = s.sql(
            s"""SELECT c_mktsegment AS seg, o_orderstatus AS st,
               |       CAST(grouping(c_mktsegment) AS INT) AS gseg,
               |       CAST(grouping(o_orderstatus) AS INT) AS gst,
               |       count(1) AS n, sum(o_custkey) AS su,
               |       min(o_custkey) AS mn, count(c_name) AS cn,
               |       max(c_name) AS mxn,
               |       count(DISTINCT c_nationkey) AS dn
               |FROM $fv JOIN $cv ON o_custkey = c_custkey
               |GROUP BY ROLLUP(c_mktsegment, o_orderstatus)""".stripMargin)
          val rewritten = graft.sql.GraftMvRewrite(q.queryExecution.analyzed)
          def reads(path: String): Boolean = rewritten.collect {
            case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
          }.exists(_.relation match {
            case g: graft.sources.GraftRelation => g.path.contains(path)
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.exists(_.toString.contains(path))
            case _ => false
          })
          require(!reads(fp),
            s"the drill-across ROLLUP must never scan the fact:\n$rewritten")
          require(reads(cp),
            s"the drill dim must be read LIVE through the join-back:\n$rewritten")
          org.apache.spark.sql.GraftExpressionBridge.ofRows(s, rewritten)
            .orderBy("gseg", "gst", "seg", "st")
        } finally {
          graft.sql.GraftMvRewrite.unregister(mp)
          s.catalog.dropTempView(fv)
          s.catalog.dropTempView(cv)
          ()
        }
      },
      """WITH f AS (SELECT * FROM orders WHERE o_orderkey % 13 <> 0),
        |     c AS (SELECT c_custkey, c_name, c_nationkey,
        |                  CASE WHEN c_custkey % 5 = 0 THEN 'MOVED'
        |                       ELSE c_mktsegment END AS c_mktsegment
        |           FROM customer)
        |SELECT c_mktsegment AS seg, o_orderstatus AS st,
        |       CAST(GROUPING(c_mktsegment) AS INT) AS gseg,
        |       CAST(GROUPING(o_orderstatus) AS INT) AS gst,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(o_custkey) AS BIGINT) AS su,
        |       CAST(MIN(o_custkey) AS BIGINT) AS mn,
        |       CAST(COUNT(c_name) AS BIGINT) AS cn, MAX(c_name) AS mxn,
        |       CAST(COUNT(DISTINCT c_nationkey) AS BIGINT) AS dn
        |FROM f JOIN c ON o_custkey = c_custkey
        |GROUP BY ROLLUP(c_mktsegment, o_orderstatus)
        |ORDER BY gseg, gst, seg, st""".stripMargin)),

    // Streaming ingestion + continuous MV maintenance: the odd half of
    // orders streams in via foreachBatch micro-batches, each upserting
    // the base and refresh()ing the view — so the aggregate tracks the
    // stream batch-by-batch at churn cost. The require pins that the view
    // caught the final base version; the oracle is the aggregate over the
    // complete final state.
    "q141_stream_mv" -> ((
      (s: SparkSession, d: String) => {
        import graft.lake.{MaterializedView, MvAgg}
        graft.core.GraftSession.ensure(s)
        val tag = d.replaceAll("[^a-z0-9.]", "_")
        val path = freshDir(s"smv_base_$tag")
        val mvPath = freshDir(s"smv_mv_$tag")
        val land = freshDir(s"smv_land_$tag")
        val ck = freshDir(s"smv_ck_$tag")
        val tbl = LakeTable.create(s, path, ordersSpec,
          t(s, d, "orders").filter(col("o_orderkey") % 2 === 0))
        MaterializedView.create(s, mvPath, tbl, Seq("o_orderstatus"),
          Seq(MvAgg("n", "count", "*"), MvAgg("s", "sum", "o_custkey")))
        t(s, d, "orders").filter(col("o_orderkey") % 2 === 1)
          .repartition(5).write.mode("overwrite").parquet(land)
        val schema = s.read.parquet(land).schema
        graft.streaming.CdcStream.ingestWithViews(s, tbl, land, schema, ck,
          Some(Seq(mvPath)))
        val mv = MaterializedView.load(s, mvPath)
        require(mv.lastRefreshedVersion == LakeTable.load(s, path).latestVersion,
          "the view must track the stream to the final base version")
        mv.read().select(col("o_orderstatus"), col("n"), col("s"))
          .orderBy("o_orderstatus")
      },
      """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(o_custkey) AS BIGINT) AS s
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin)),

    // q141 driven PURELY through the SQL lifecycle: the view comes from
    // CREATE MATERIALIZED VIEW (the command registers it for rewrite; run
    // directly — Verify sessions lack the parser extension, q85 pattern)
    // and the streaming ingest names NO view paths — each micro-batch
    // auto-discovers registered views over its base table and refreshes
    // them. Requires pin (a) the view tracked the stream to the final
    // base version without ever being listed and (b) the post-stream
    // aggregate rewrites to the view's state table (no Aggregate node).
    "q145_stream_mv_sql" -> ((
      (s: SparkSession, d: String) => {
        graft.core.GraftSession.ensure(s)
        val tag = d.replaceAll("[^a-z0-9.]", "_")
        val path = freshDir(s"smvs_base_$tag")
        val mvPath = freshDir(s"smvs_mv_$tag") + "/mv"
        val land = freshDir(s"smvs_land_$tag")
        val ck = freshDir(s"smvs_ck_$tag")
        val tbl = LakeTable.create(s, path, ordersSpec,
          t(s, d, "orders").filter(col("o_orderkey") % 2 === 0))
        s.read.format("graft").load(path).createOrReplaceTempView("smvs_base_v")
        graft.sql.GraftCreateMaterializedViewCommand(s"'$mvPath'",
          """SELECT o_orderstatus, count(1) AS n, sum(o_custkey) AS s
            |FROM smvs_base_v GROUP BY o_orderstatus""".stripMargin).run(s)
        try {
          t(s, d, "orders").filter(col("o_orderkey") % 2 === 1)
            .repartition(5).write.mode("overwrite").parquet(land)
          val schema = s.read.parquet(land).schema
          graft.streaming.CdcStream.ingestWithViews(s, tbl, land, schema, ck)
          val mv = graft.lake.MaterializedView.load(s, mvPath)
          require(mv.lastRefreshedVersion == LakeTable.load(s, path).latestVersion,
            "the SQL-registered view must track the stream with no explicit list")
          val q = s.read.format("graft").load(path).groupBy("o_orderstatus")
            .agg(count(lit(1)).as("n"), sum("o_custkey").as("s"))
          val rewritten = graft.sql.GraftMvRewrite(q.queryExecution.analyzed)
          require(!rewritten.exists(
            _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Aggregate]),
            "the post-stream aggregate must rewrite to the view state")
          org.apache.spark.sql.GraftExpressionBridge.ofRows(s, rewritten)
            .orderBy("o_orderstatus")
        } finally {
          graft.sql.GraftMvRewrite.unregister(mvPath)
          s.catalog.dropTempView("smvs_base_v")
          ()
        }
      },
      """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(o_custkey) AS BIGINT) AS s
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin)),

    // Write-side clustering: with writeSortColumns the very first write
    // lays files out as non-overlapping o_totalprice ranges, so a range
    // scan prunes from commit-log stats alone — no OPTIMIZE ever ran.
    // The require pins that pruning actually bit.
    "q132_write_clustered" -> ((
      (s: SparkSession, d: String) => {
        val path = freshDir(s"wsort_${d.replaceAll("[^a-z0-9.]", "_")}")
        val knobs = Seq(
          "spark.sql.adaptive.advisoryPartitionSizeInBytes",
          "spark.sql.adaptive.coalescePartitions.minPartitionSize")
        val prev = knobs.map(k => k -> s.conf.getOption(k))
        // small enough that even sf0.001 (~1.5k rows) splits into several
        // range files — the require below needs >1 file to mean anything
        knobs.foreach(s.conf.set(_, "8192"))
        val tbl = try LakeTable.create(s, path,
          ordersSpec.copy(statsColumns = Seq("o_totalprice"),
            writeSortColumns = Seq("o_totalprice")),
          t(s, d, "orders"), bulkInsert = true)
        finally prev.foreach { case (k, v) =>
          v.fold(s.conf.unset(k))(s.conf.set(k, _)) }
        val snap = tbl.snapshot()
        val live = snap.live
        val filt = Seq(org.apache.spark.sql.sources.And(
          org.apache.spark.sql.sources.GreaterThan("o_totalprice", 100000.0),
          org.apache.spark.sql.sources.LessThan("o_totalprice", 120000.0)))
        val kept = tbl.pruneByFilters(live, filt, snap.shape)
        require(kept.size < live.size,
          s"write clustering must prune a range scan (kept ${kept.size}/${live.size})")
        proj(tbl.readWhere(filt)
          .filter(col("o_totalprice") > 100000.0 && col("o_totalprice") < 120000.0))
      },
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |       CAST(epoch(o_orderdate) AS BIGINT) AS od_epoch
        |FROM orders
        |WHERE o_totalprice > 100000.0 AND o_totalprice < 120000.0
        |ORDER BY o_orderkey""".stripMargin)),

    // Savepoints: v0 stays time-travelable THROUGH a retention-1 vacuum
    // because the pin holds its files; the query reads the pinned snapshot
    // after churn + vacuum, so the oracle is simply the original content.
    "q122_savepoint" -> ((
      (s: SparkSession, d: String) => {
        val path = freshDir(s"sp_${d.replaceAll("[^a-z0-9.]", "_")}")
        val tbl = LakeTable.create(s, path, ordersSpec,
          t(s, d, "orders").filter(col("o_orderkey") % 2 === 0))
        tbl.savepoint(0L)
        tbl.overwrite(t(s, d, "orders").filter(col("o_orderkey") % 2 === 1)
          .withColumn("o_orderstatus", lit("X")))
        tbl.vacuum(retainVersions = 1)
        require(tbl.savepoints == Seq(0L), "pin must survive churn + vacuum")
        proj(LakeTable.load(s, path).read(Some(0L)))
      },
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |       CAST(epoch(o_orderdate) AS BIGINT) AS od_epoch
        |FROM orders WHERE o_orderkey % 2 = 0
        |ORDER BY o_orderkey""".stripMargin)),

    // Incremental materialized view: the aggregate is maintained from the
    // base table's window delta (cost ∝ churn), then must equal a
    // from-scratch GROUP BY over the final state. Prices are held as exact
    // cent integers so sums are drift-free and avg is an exact-int ratio
    // (bit-identical doubles on both engines). The delete kills every row
    // of one (status, priority) group — group death — and random keys —
    // min/max loss, exercising the removal-group re-aggregation path.
    "q80_incremental_mv" -> ((
      (s: SparkSession, d: String) => {
        import graft.lake.{MaterializedView, MvAgg}
        val bp = freshDir(s"mv_base_${d.replaceAll("[^a-z0-9.]", "_")}")
        val mp = freshDir(s"mv_view_${d.replaceAll("[^a-z0-9.]", "_")}")
        def cents(df: DataFrame): DataFrame =
          df.withColumn("price_cents", round(col("o_totalprice") * 100).cast("long"))
        val tbl = LakeTable.create(s, bp, ordersSpec, cents(t(s, d, "orders")))
        val mv = MaterializedView.create(s, mp, tbl,
          Seq("o_orderstatus", "o_orderpriority"),
          Seq(MvAgg("n", "count", "*"), MvAgg("sum_cents", "sum", "price_cents"),
            MvAgg("avg_cents", "avg", "price_cents"),
            MvAgg("min_cents", "min", "price_cents"), MvAgg("max_cents", "max", "price_cents")))
        tbl.upsert(cents(ordersSource(s, d)))
        tbl.delete(col("o_orderkey") % 11 === 0 ||
          (col("o_orderstatus") === "N" && col("o_orderpriority") === "1-URGENT"))
        mv.refresh()
        mv.read().orderBy("o_orderstatus", "o_orderpriority")
      },
      s"""WITH src AS ($ordersSourceSql),
         |merged AS (
         |  SELECT o_orderkey, o_orderstatus, o_orderpriority,
         |         CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents FROM src
         |  UNION ALL
         |  SELECT o_orderkey, o_orderstatus, o_orderpriority,
         |         CAST(round(o_totalprice * 100) AS BIGINT)
         |  FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)),
         |f AS (SELECT * FROM merged
         |  WHERE NOT (o_orderkey % 11 = 0
         |             OR (o_orderstatus = 'N' AND o_orderpriority = '1-URGENT')))
         |SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
         |  CAST(SUM(price_cents) AS BIGINT) AS sum_cents,
         |  CAST(SUM(price_cents) AS DOUBLE) / COUNT(price_cents) AS avg_cents,
         |  MIN(price_cents) AS min_cents, MAX(price_cents) AS max_cents
         |FROM f GROUP BY 1, 2
         |ORDER BY o_orderstatus, o_orderpriority""".stripMargin)),

    // Metadata-only count(*): after a DV delete, the aggregate collapses to
    // the commit log's (rows - dvRows) sum — the require proves the rewrite
    // produced a LocalRelation (zero data files opened). The rule is applied
    // explicitly so the proof holds on any session; sessions built with
    // GraftExtensions get it from the injected optimizer rule.
    "q85_meta_count" -> ((
      (s: SparkSession, d: String) => {
        val path = freshDir(s"metacount_${d.replaceAll("[^a-z0-9.]", "_")}")
        val tbl = LakeTable.create(s, path, ordersSpec, t(s, d, "orders"))
        tbl.deleteVectors(col("o_orderkey") % 5 === 0)
        val agg = s.read.format("graft").load(path)
          .groupBy().count().select(col("count").as("n"))
        val rewritten = graft.sql.GraftMetadataOnlyCount(agg.queryExecution.analyzed)
        require(rewritten.collectLeaves().forall(
          _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]),
          "count(*) must collapse to commit-log metadata (LocalRelation)")
        org.apache.spark.sql.GraftExpressionBridge.ofRows(s, rewritten)
      },
      "SELECT CAST(count(*) AS BIGINT) AS n FROM orders WHERE NOT (o_orderkey % 5 = 0)")),

    // Partition-FILTERED metadata-only aggregate: WHERE on the partition
    // column (equality / IN) restricts the commit-log stats to the allowed
    // partitions — count/min/max still collapse to a LocalRelation, zero
    // data files opened (the everyday "how many rows landed today" query).
    "q104_meta_filtered_agg" -> ((
      (s: SparkSession, d: String) => {
        val path = freshDir(s"metafilt_${d.replaceAll("[^a-z0-9.]", "_")}")
        LakeTable.create(s, path,
          TableSpec("o_orderkey", "o_orderdate", partition = Some("o_orderstatus")),
          t(s, d, "orders"))
        val agg = s.read.format("graft").load(path)
          .filter(col("o_orderstatus") === "F")
          .agg(count(lit(1)).as("n"),
            min(col("o_orderkey")).as("mn"), max(col("o_orderkey")).as("mx"))
        val rewritten = graft.sql.GraftMetadataOnlyCount(agg.queryExecution.analyzed)
        require(rewritten.collectLeaves().forall(
          _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]),
          "partition-filtered aggregate must collapse to commit-log metadata")
        org.apache.spark.sql.GraftExpressionBridge.ofRows(s, rewritten)
      },
      """SELECT CAST(count(*) AS BIGINT) AS n, MIN(o_orderkey) AS mn,
        |       MAX(o_orderkey) AS mx
        |FROM orders WHERE o_orderstatus = 'F'""".stripMargin)),

    // Metadata-only MIN/MAX: on a DV-free snapshot, extremes of the key and
    // of declared stats columns fold from per-file footer stats — the
    // require proves the whole aggregate collapsed to a LocalRelation even
    // after a churn upsert (new files carry fresh stats). Date extremes are
    // epochized ABOVE the aggregate so the rewrite still sees bare min/max.
    "q87_meta_minmax" -> ((
      (s: SparkSession, d: String) => {
        val path = freshDir(s"metamm_${d.replaceAll("[^a-z0-9.]", "_")}")
        val spec = ordersSpec.copy(statsColumns = Seq("o_totalprice", "o_orderdate"))
        val tbl = LakeTable.create(s, path, spec, t(s, d, "orders"))
        tbl.upsert(ordersSource(s, d))
        val agg = s.read.format("graft").load(path).agg(
            count(lit(1)).as("n"),
            min(col("o_orderkey")).as("min_k"), max(col("o_orderkey")).as("max_k"),
            min(col("o_totalprice")).as("min_price"), max(col("o_totalprice")).as("max_price"),
            min(col("o_orderdate")).as("min_od"), max(col("o_orderdate")).as("max_od"))
          .select(col("n"), col("min_k"), col("max_k"), col("min_price"), col("max_price"),
            unix_timestamp(col("min_od")).as("min_od_epoch"),
            unix_timestamp(col("max_od")).as("max_od_epoch"))
        val rewritten = graft.sql.GraftMetadataOnlyCount(agg.queryExecution.analyzed)
        require(rewritten.collectLeaves().forall(
          _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]),
          "count/min/max must collapse to commit-log footer stats (LocalRelation)")
        org.apache.spark.sql.GraftExpressionBridge.ofRows(s, rewritten)
      },
      s"""WITH src AS ($ordersSourceSql),
         |merged AS (
         |  SELECT o_orderkey, o_totalprice, o_orderdate FROM src
         |  UNION ALL
         |  SELECT o_orderkey, o_totalprice, o_orderdate
         |  FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src))
         |SELECT CAST(count(*) AS BIGINT) AS n,
         |  MIN(o_orderkey) AS min_k, MAX(o_orderkey) AS max_k,
         |  MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price,
         |  CAST(epoch(MIN(o_orderdate)) AS BIGINT) AS min_od_epoch,
         |  CAST(epoch(MAX(o_orderdate)) AS BIGINT) AS max_od_epoch
         |FROM merged""".stripMargin)),

    // Storage-partitioned join: two hash-bucketed tables join with ZERO
    // shuffle (the requires prove it against the physical plan) — the scans
    // report KeyGroupedPartitioning on the stored _bucket column and Spark
    // co-locates bucket i of both sides in one task. The oracle is the
    // plain relational join (same key => same bucket, so the _bucket
    // equality is semantically free).
    "q90_bucket_join" -> ((
      (s: SparkSession, d: String) => {
        val pa = freshDir(s"bkt_a_${d.replaceAll("[^a-z0-9.]", "_")}")
        val pb = freshDir(s"bkt_b_${d.replaceAll("[^a-z0-9.]", "_")}")
        val spec = graft.lake.TableSpec("o_orderkey", "o_orderdate", buckets = 8)
        LakeTable.create(s, pa, spec, t(s, d, "orders"))
        LakeTable.create(s, pb, spec, t(s, d, "orders")
          .filter(col("o_orderkey") % 2 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 10.0))
        val cat = "graft_q90"
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", freshDir("bkt_wh"))
        val saved = Seq(
          "spark.sql.sources.v2.bucketing.enabled" -> s.conf.getOption("spark.sql.sources.v2.bucketing.enabled"),
          "spark.sql.requireAllClusterKeysForCoPartition" -> s.conf.getOption("spark.sql.requireAllClusterKeysForCoPartition"),
          "spark.sql.autoBroadcastJoinThreshold" -> s.conf.getOption("spark.sql.autoBroadcastJoinThreshold"))
        s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
        s.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try {
          s.sql(s"DROP TABLE IF EXISTS $cat.default.q90_a")
          s.sql(s"DROP TABLE IF EXISTS $cat.default.q90_b")
          s.sql(s"CREATE TABLE $cat.default.q90_a USING graft LOCATION '$pa'")
          s.sql(s"CREATE TABLE $cat.default.q90_b USING graft LOCATION '$pb'")
          // no ORDER BY here: the plan must show the bare join (a sort would
          // add its own legitimate range exchange); rows are sorted below
          val joined = s.sql(
            s"""SELECT a.o_orderkey, a.o_totalprice AS price_a, b.o_totalprice AS price_b
               |FROM $cat.default.q90_a a JOIN $cat.default.q90_b b
               |ON a.o_orderkey = b.o_orderkey AND a._bucket = b._bucket""".stripMargin)
          val plan = joined.queryExecution.executedPlan match {
            case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
              a.executedPlan
            case p => p
          }
          val nShuffles = plan.collect {
            case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
          }.size
          require(nShuffles == 0,
            s"storage-partitioned join must plan zero shuffles, got $nShuffles:\n$plan")
          // materialize distributed (a parquet write under the SPJ confs)
          // before they are restored below — never through the driver
          val out = freshDir(s"bkt_out_${d.replaceAll("[^a-z0-9.]", "_")}")
          joined.write.mode("overwrite").parquet(out)
          s.read.parquet(out).orderBy("o_orderkey")
        } finally saved.foreach {
          case (k, Some(v)) => s.conf.set(k, v)
          case (k, None) => s.conf.unset(k)
        }
      },
      """SELECT a.o_orderkey, a.o_totalprice AS price_a,
        |       b.o_totalprice + 10.0 AS price_b
        |FROM orders a JOIN orders b ON a.o_orderkey = b.o_orderkey
        |WHERE b.o_orderkey % 2 = 0
        |ORDER BY a.o_orderkey""".stripMargin)),

    // SQL CDF: the Delta `table_changes('t', since)` TVF over the change
    // feed — v1 deletes every 9th key (sparing future updates), v2 upserts
    // the churn, and the whole (0, latest] window reads back in one SQL
    // statement: post-images tagged insert/update, the deleted keys as
    // null-data delete rows. The TVF resolves through the same rule
    // GraftExtensions injects; Verify sessions lack extensions, so the
    // rule is applied to the parsed plan explicitly (q85 pattern).
    "q92_table_changes" -> ((
      (s: SparkSession, d: String) => {
        val path = freshDir(s"tvf_${d.replaceAll("[^a-z0-9.]", "_")}")
        val tbl = LakeTable.create(s, path, ordersSpec, t(s, d, "orders"))
        tbl.delete(col("o_orderkey") % 9 === 0 && col("o_orderkey") % 7 =!= 0)
        tbl.upsert(ordersSource(s, d))
        val plan = s.sessionState.sqlParser.parsePlan(
          s"""SELECT o_orderkey, o_orderstatus, o_totalprice,
             |       _change_type AS change_type
             |FROM table_changes('$path', 0)
             |ORDER BY change_type, o_orderkey""".stripMargin)
        org.apache.spark.sql.GraftExpressionBridge.ofRows(s,
          graft.sql.ResolveGraftTableChanges(s)(plan))
      },
      """SELECT o_orderkey, o_orderstatus, o_totalprice, change_type FROM (
        |  SELECT o_orderkey, 'U' AS o_orderstatus,
        |         o_totalprice + 1.0 AS o_totalprice,
        |         'update_postimage' AS change_type
        |  FROM orders WHERE o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, 'N', o_totalprice, 'insert'
        |  FROM orders WHERE o_orderkey % 13 = 0
        |  UNION ALL
        |  SELECT o_orderkey, CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE), 'delete'
        |  FROM orders WHERE o_orderkey % 9 = 0 AND o_orderkey % 7 <> 0)
        |ORDER BY change_type, o_orderkey""".stripMargin)),

    // Incremental cross-snapshot exact dedup: a persisted fingerprint index
    // (graft table keyed on content md5, bloom sidecars) seeded from the
    // even-doc_id half of the corpus; a new batch of odd docs + planted
    // copies of indexed docs + planted within-batch dups dedups against it.
    // Index-hits and within-batch later copies drop, and the survivors
    // commit to the index in the same write that probed it (one snapshot,
    // no detection scan); cost ∝ batch via the pruned probe, never index
    // size.
    "q98_incremental_dedup" -> ((
      (s: SparkSession, d: String) => {
        val dir = freshDir(s"incdedup_${d.replaceAll("[^a-z0-9.]", "_")}")
        val docs = t(s, d, "documents").select("doc_id", "text")
        val seed = graft.ext.Dedup.copyCounts(docs.filter(col("doc_id") % 2 === 0))
          .select(col("fingerprint"), col("keep_id").cast("long").as("doc_id"))
        val index = LakeTable.create(s, dir,
          TableSpec("fingerprint", "doc_id", bloomBitsPerKey = 10), seed)
        val batch = docs.filter(col("doc_id") % 2 === 1)
          .unionByName(docs.filter(col("doc_id") % 10 === 0)
            .withColumn("doc_id", col("doc_id") + 900000L))
          .unionByName(docs.filter(col("doc_id") % 14 === 1)
            .withColumn("doc_id", col("doc_id") + 800000L))
        graft.ext.Dedup.incrementalDedup(index, batch)
          .select("doc_id", "fingerprint").orderBy("doc_id")
      },
      raw"""WITH fp AS (SELECT doc_id,
        |    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fingerprint
        |  FROM documents),
        |idx AS (SELECT DISTINCT fingerprint FROM fp WHERE doc_id % 2 = 0),
        |batch AS (
        |  SELECT doc_id, fingerprint FROM fp WHERE doc_id % 2 = 1
        |  UNION ALL
        |  SELECT doc_id + 900000, fingerprint FROM fp WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 800000, fingerprint FROM fp WHERE doc_id % 14 = 1),
        |first AS (SELECT fingerprint, MIN(doc_id) AS doc_id
        |  FROM batch GROUP BY fingerprint)
        |SELECT doc_id, fingerprint FROM first
        |WHERE fingerprint NOT IN (SELECT fingerprint FROM idx)
        |ORDER BY doc_id""".stripMargin)),

    // Incremental cross-snapshot NEAR-dup dedup: a persisted MinHash-LSH
    // index (graft table of banded signature rows) seeded from the even
    // half of the corpus; the batch = odd docs + near-copies of indexed
    // docs (one appended token) + exact within-batch copies. Estimated
    // Jaccard (equal signature components / 64) >= 48/64 drops a doc
    // against any indexed or earlier batch doc. Engine-portable md5
    // signatures -> DuckDB replays candidates AND refinement bit-for-bit.
    "q99_incremental_near_dedup" -> ((
      (s: SparkSession, d: String) => {
        val dir = freshDir(s"neardedup_${d.replaceAll("[^a-z0-9.]", "_")}")
        val docs = t(s, d, "documents").select("doc_id", "text")
        val even = docs.filter(col("doc_id") % 2 === 0)
        val index = LakeTable.create(s, dir, TableSpec("bk", "doc_id"),
          graft.ext.Dedup.nearDupIndexRows(even,
            seededHash = graft.ext.Dedup.portableSeededHash))
        val batch = docs.filter(col("doc_id") % 2 === 1)
          .unionByName(even.filter(col("doc_id") % 10 === 0)
            .withColumn("doc_id", col("doc_id") + 900000L)
            .withColumn("text", concat(col("text"), lit(" xyzzy"))))
          .unionByName(docs.filter(col("doc_id") % 14 === 1)
            .withColumn("doc_id", col("doc_id") + 800000L))
        graft.ext.Dedup.incrementalNearDedup(index, batch, minEqual = 48,
            seededHash = graft.ext.Dedup.portableSeededHash)
          .select("doc_id").orderBy("doc_id")
      },
      raw"""WITH corpus AS (
        |  SELECT 'i' AS src, doc_id AS id, text FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT 'b', doc_id, text FROM documents WHERE doc_id % 2 = 1
        |  UNION ALL
        |  SELECT 'b', doc_id + 900000, text || ' xyzzy' FROM documents
        |  WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT 'b', doc_id + 800000, text FROM documents WHERE doc_id % 14 = 1),
        |sh AS (SELECT src, id,
        |    list_distinct(list_transform(generate_series(1, greatest(len(tk) - 2, 1)),
        |      i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))) AS sh
        |  FROM (SELECT src, id, regexp_split_to_array(trim(text), '\s+') AS tk
        |        FROM corpus)),
        |ex AS (SELECT src, id, UNNEST(sh) AS s FROM sh),
        |sig AS (SELECT src, id, sd.seed,
        |    MIN(('0x' || substr(md5(CAST(sd.seed AS VARCHAR) || ':' || ex.s), 1, 15))::BIGINT) AS h
        |  FROM ex CROSS JOIN (SELECT UNNEST(range(0, 64)) AS seed) sd
        |  GROUP BY src, id, sd.seed),
        |bnd AS (SELECT src, id, seed // 4 AS band,
        |    CAST(seed // 4 AS VARCHAR) || ':' ||
        |      string_agg(CAST(h AS VARCHAR), ',' ORDER BY seed) AS bkey
        |  FROM sig GROUP BY src, id, seed // 4),
        |icand AS (SELECT DISTINCT b.id AS bid, i.id AS iid
        |  FROM bnd b JOIN bnd i ON b.bkey = i.bkey
        |  WHERE b.src = 'b' AND i.src = 'i'),
        |idrop AS (SELECT DISTINCT c.bid AS id FROM icand c
        |  JOIN sig sb ON sb.src = 'b' AND sb.id = c.bid
        |  JOIN sig si ON si.src = 'i' AND si.id = c.iid AND si.seed = sb.seed
        |  GROUP BY c.bid, c.iid
        |  HAVING SUM(CASE WHEN sb.h = si.h THEN 1 ELSE 0 END) >= 48),
        |bcand AS (SELECT DISTINCT a.id AS aid, b.id AS bid
        |  FROM bnd a JOIN bnd b ON a.bkey = b.bkey AND a.id < b.id
        |  WHERE a.src = 'b' AND b.src = 'b'),
        |bdrop AS (SELECT DISTINCT c.bid AS id FROM bcand c
        |  JOIN sig sa ON sa.src = 'b' AND sa.id = c.aid
        |  JOIN sig sb ON sb.src = 'b' AND sb.id = c.bid AND sb.seed = sa.seed
        |  GROUP BY c.aid, c.bid
        |  HAVING SUM(CASE WHEN sa.h = sb.h THEN 1 ELSE 0 END) >= 48)
        |SELECT id AS doc_id FROM corpus WHERE src = 'b'
        |  AND id NOT IN (SELECT id FROM idrop)
        |  AND id NOT IN (SELECT id FROM bdrop)
        |ORDER BY doc_id""".stripMargin)),

    // Partition-grouped metadata-only aggregate: GROUP BY the partition
    // column with count/min/max answered ENTIRELY from commit-log
    // metadata via DSv2 complete aggregate push-down — the require
    // asserts zero data files are opened (plan reads GraftMetaAggScan).
    "q103_meta_group_agg" -> ((
      (s: SparkSession, d: String) => {
        val dir = freshDir(s"metagrp_${d.replaceAll("[^a-z0-9.]", "_")}")
        LakeTable.create(s, dir,
          TableSpec("o_orderkey", "o_orderdate", partition = Some("o_orderstatus")),
          t(s, d, "orders"))
        s.conf.set("spark.sql.catalog.gmeta", "graft.sources.GraftCatalog")
        s.conf.set("spark.sql.catalog.gmeta.warehouse",
          freshDir(s"metagrp_wh_${d.replaceAll("[^a-z0-9.]", "_")}"))
        s.sql("DROP TABLE IF EXISTS gmeta.default.om")
        s.sql(s"CREATE TABLE gmeta.default.om USING graft LOCATION '$dir'")
        val df = s.sql(
          """SELECT o_orderstatus, count(*) AS n, min(o_orderkey) AS mn,
            |       max(o_orderkey) AS mx
            |FROM gmeta.default.om GROUP BY o_orderstatus
            |ORDER BY o_orderstatus""".stripMargin)
        require(df.queryExecution.optimizedPlan.collect {
          case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
            r.scan
        }.exists(_.isInstanceOf[graft.sources.GraftMetaAggScan]),
          "partition-grouped aggregate must be answered from commit-log metadata")
        df
      },
      """SELECT o_orderstatus, COUNT(*) AS n, MIN(o_orderkey) AS mn,
        |       MAX(o_orderkey) AS mx
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // Metadata-only SUM/AVG building block, DSv2 route: per-file EXACT
    // (sum, nonNull) pairs for declared `sumColumns` land in the commit
    // log at write time (parquet footers carry min/max but never sums),
    // so unfiltered SUM(col)/COUNT(col) — grouped by the partition column
    // — answer with ZERO data files opened, composed across a create AND
    // an upsert commit. Restricted to integral/decimal columns, whose
    // sums are exact and addition-order-independent; the require proves
    // the whole grouped aggregate collapsed to commit-log metadata.
    "q110_meta_sum" -> ((
      (s: SparkSession, d: String) => {
        val dir = freshDir(s"metasum_${d.replaceAll("[^a-z0-9.]", "_")}")
        val price = col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 2))
        // partition by o_orderpriority: stable under the CDC churn, so the
        // upsert is a pure (key, partition)-identity update/insert mix
        val tbl = LakeTable.create(s, dir,
          TableSpec("o_orderkey", "o_orderdate", partition = Some("o_orderpriority"),
            sumColumns = Seq("o_price", "o_custkey")),
          t(s, d, "orders").withColumn("o_price", price))
        tbl.upsert(ordersSource(s, d).withColumn("o_price", price))
        s.conf.set("spark.sql.catalog.gsum", "graft.sources.GraftCatalog")
        s.conf.set("spark.sql.catalog.gsum.warehouse",
          freshDir(s"metasum_wh_${d.replaceAll("[^a-z0-9.]", "_")}"))
        s.sql("DROP TABLE IF EXISTS gsum.default.osum")
        s.sql(s"CREATE TABLE gsum.default.osum USING graft LOCATION '$dir'")
        val df = s.sql(
          """SELECT o_orderpriority, n, CAST(sum_price AS DOUBLE) AS sum_price,
            |       sum_cust, n_cust FROM (
            |  SELECT o_orderpriority, count(*) AS n, sum(o_price) AS sum_price,
            |         sum(o_custkey) AS sum_cust, count(o_custkey) AS n_cust
            |  FROM gsum.default.osum GROUP BY o_orderpriority)
            |ORDER BY o_orderpriority""".stripMargin)
        require(df.queryExecution.optimizedPlan.collect {
          case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
            r.scan
        }.exists(_.isInstanceOf[graft.sources.GraftMetaAggScan]),
          "grouped SUM/COUNT must be answered from commit-log metadata")
        df
      },
      s"""WITH src AS ($ordersSourceSql),
         |merged AS (
         |  SELECT o_orderkey, o_custkey, o_orderpriority, o_totalprice FROM src
         |  UNION ALL
         |  SELECT o_orderkey, o_custkey, o_orderpriority, o_totalprice
         |  FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src))
         |SELECT o_orderpriority, COUNT(*) AS n,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
         |  CAST(SUM(o_custkey) AS BIGINT) AS sum_cust,
         |  CAST(COUNT(o_custkey) AS BIGINT) AS n_cust
         |FROM merged GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // Metadata-only SUM, optimizer-rule route with a PARTITION filter:
    // WHERE on the partition column restricts the stored per-file sums to
    // the allowed partitions — SUM/COUNT(col) still collapse to a
    // LocalRelation on any session (rule applied explicitly; zero files).
    "q111_meta_sum_filtered" -> ((
      (s: SparkSession, d: String) => {
        val dir = freshDir(s"metasumf_${d.replaceAll("[^a-z0-9.]", "_")}")
        val price = col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 2))
        LakeTable.create(s, dir,
          TableSpec("o_orderkey", "o_orderdate", partition = Some("o_orderstatus"),
            sumColumns = Seq("o_price", "o_custkey")),
          t(s, d, "orders").withColumn("o_price", price))
        val agg = s.read.format("graft").load(dir)
          .filter(col("o_orderstatus").isin("F", "O"))
          .agg(sum(col("o_price")).as("sp"), sum(col("o_custkey")).as("sum_cust"),
            count(col("o_custkey")).as("n_cust"))
        val rewritten = graft.sql.GraftMetadataOnlyCount(agg.queryExecution.analyzed)
        require(rewritten.collectLeaves().forall(
          _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]),
          "partition-filtered SUM must collapse to commit-log metadata")
        org.apache.spark.sql.GraftExpressionBridge.ofRows(s, rewritten)
          .select(col("sp").cast("double").as("sum_price"),
            col("sum_cust"), col("n_cust"))
      },
      """SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |       CAST(SUM(o_custkey) AS BIGINT) AS sum_cust,
        |       CAST(COUNT(o_custkey) AS BIGINT) AS n_cust
        |FROM orders WHERE o_orderstatus IN ('F', 'O')""".stripMargin)),

    // CDF with preimages (Delta parity): same churn as q92, but the feed
    // also carries update_preimage rows — each updated key's values AT the
    // window start, read from the window-REMOVED files (cost ∝ churn).
    // Rewritten-but-unchanged keys must NOT emit preimages.
    "q101_cdf_preimages" -> ((
      (s: SparkSession, d: String) => {
        val path = freshDir(s"cdfpre_${d.replaceAll("[^a-z0-9.]", "_")}")
        val tbl = LakeTable.create(s, path, ordersSpec, t(s, d, "orders"))
        tbl.delete(col("o_orderkey") % 9 === 0 && col("o_orderkey") % 7 =!= 0)
        tbl.upsert(ordersSource(s, d))
        LakeTable.load(s, path).changes(0, includePreimages = true)
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
            col("_change_type").as("change_type"))
          .orderBy("change_type", "o_orderkey")
      },
      """SELECT o_orderkey, o_orderstatus, o_totalprice, change_type FROM (
        |  SELECT o_orderkey, 'U' AS o_orderstatus,
        |         o_totalprice + 1.0 AS o_totalprice,
        |         'update_postimage' AS change_type
        |  FROM orders WHERE o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, o_totalprice, 'update_preimage'
        |  FROM orders WHERE o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, 'N', o_totalprice, 'insert'
        |  FROM orders WHERE o_orderkey % 13 = 0
        |  UNION ALL
        |  SELECT o_orderkey, CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE), 'delete'
        |  FROM orders WHERE o_orderkey % 9 = 0 AND o_orderkey % 7 <> 0)
        |ORDER BY change_type, o_orderkey""".stripMargin)),

    // COPY INTO: file-granular idempotent ingestion from a landing dir —
    // two parquet batches load exactly once (second copyInto proves the
    // no-op), keyed latest-wins reconciles the seeded overlap.
    "q100_copy_into" -> ((
      (s: SparkSession, d: String) => {
        val dir = freshDir(s"copyinto_${d.replaceAll("[^a-z0-9.]", "_")}")
        val land = freshDir(s"copyland_${d.replaceAll("[^a-z0-9.]", "_")}")
        val o = t(s, d, "orders")
        o.filter(col("o_orderkey") % 2 === 0)
          .write.mode("overwrite").parquet(s"$land/even")
        o.filter(col("o_orderkey") % 2 === 1)
          .write.mode("overwrite").parquet(s"$land/odd")
        val tbl = LakeTable.create(s, dir, ordersSpec,
          o.filter(col("o_orderkey") % 13 === 0))
        require(tbl.copyInto(land).nonEmpty, "first COPY INTO must load files")
        require(tbl.copyInto(land).isEmpty, "rerun COPY INTO must be a no-op")
        proj(LakeTable.load(s, dir).read())
      },
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  CAST(epoch(o_orderdate) AS BIGINT) AS od_epoch
        |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // Convert-in-place: plain parquet dir -> graft table without rewriting
    // a byte, then a keyed upsert over the converted files (touched
    // originals de-referenced, survivors pass through).
    "q76_convert_in_place" -> ((
      (s: SparkSession, d: String) => {
        val dir = freshDir(s"convert_${d.replaceAll("[^a-z0-9.]", "_")}")
        t(s, d, "orders").repartition(4).write.mode("overwrite").parquet(dir)
        val tbl = LakeTable.convert(s, dir, ordersSpec)
        tbl.upsert(ordersSource(s, d))
        proj(tbl.read())
      },
      mergedSql))
  )
}
