package graft.perfbench

import java.io.File

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.cdc.Normalize
import graft.ext.{Bpe, Dedup, Similarity, TextAnalysis, VectorIndex}
import graft.lake.{CommitLog, LakeTable, MaterializedView, MvAgg, TableSpec}
import graft.sources.AvroSource

/** Output checks of one run. A failed check is printed at once and counts
  * against the run. */
final class Checks {
  var attempted = 0L
  var failed = 0L
  def apply(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; System.err.println(s"CHECK FAILED: $what") }
  }
}

/** Per-run state shared by the workloads. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long) {
  val checks = new Checks
  def conf: Configuration = spark.sessionState.newHadoopConf()
  /** Bytes landed for the program to read, measured phase only. */
  var landedBytes = 0L
  /** Change events (or documents) committed by apply operations. */
  var appliedRows = 0L
  def landed(b: Long): Unit = if (tracer.measuring) landedBytes += b
  def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()
}

/** Commit-log side of the ledger, read from outside the program after each
  * commit: only in traced runs, and always between timed operations. */
final class LakeProbe(ctx: Ctx) {
  val logMs = ArrayBuffer.empty[Double]
  var versions = 0L
  var checkpoints = 0L
  /** per commit: (kind, files added, files removed, bytes added, rows added, live files before) */
  val commits = ArrayBuffer.empty[(String, Long, Long, Long, Long, Long)]
  /** live (log files, log bytes) of the last probed MoR snapshot */
  var morLog = (0L, 0L)
  val morLogAtRead = ArrayBuffer.empty[(Long, Long)]
  private val seen = mutable.HashMap.empty[String, (Long, Long)] // path -> (last version, live files)

  def afterCommit(path: String, kind: String): Unit = if (ctx.tracer.traced) {
    ctx.tracer.span("instr", "log") {
      val conf = ctx.conf
      val t0 = System.nanoTime()
      val vs = CommitLog.listVersions(path, conf)
      val live = CommitLog.liveFiles(path, None, conf)
      logMs += (System.nanoTime() - t0) / 1e6
      versions = vs.size
      checkpoints = CommitLog.listCheckpoints(path, conf).size
      val (lastV, liveBefore) = seen.getOrElse(path, (vs.max, live.size.toLong))
      if (ctx.tracer.measuring) vs.filter(_ > lastV).sorted.foreach { v =>
        val c = CommitLog.read(path, v, conf)
        commits += ((kind, c.add.size.toLong, c.remove.size.toLong, c.add.map(_.bytes).sum,
          c.add.map(_.rows).sum, liveBefore))
      }
      seen(path) = (vs.max, live.size.toLong)
      val logs = live.filter(_.log)
      morLog = (logs.size.toLong, logs.map(_.bytes).sum)
    }
  }

  def beforeRead(): Unit = if (ctx.tracer.traced && ctx.tracer.measuring) morLogAtRead += morLog
}

/** A closed-loop workload: `setup` builds everything in a fresh directory
  * (it is run several times per run; the last one is kept), `cycle` runs
  * one iteration of timed operations, `finish` runs the end-of-run output
  * checks. */
trait Workload {
  def setup(dir: String): Unit
  def cycle(i: Int): Unit
  def finish(): Unit
  /** Table paths whose commits count toward write amplification. */
  def tables: Seq[String]
  /** Extra per-layer values this workload measures. */
  def layer: Map[String, Double] = Map.empty
  /** Operation kinds that run once every n cycles, by kind: their cost is
    * amortized over n cycles in the end-to-end figures. */
  def periodic: Map[String, Int] = Map.empty
}

object Workloads {
  def apply(name: String, ctx: Ctx, probe: LakeProbe): Workload = name match {
    case "cow_merge" => new CowMerge(ctx, probe)
    case "mor_serve" => new MorServe(ctx, probe)
    case "feed_consume" => new FeedConsume(ctx, probe)
    case "doc_curate" => new DocCurate(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** Shared CDC landing for the two write-path workloads. */
abstract class CdcWorkload(ctx: Ctx, probe: LakeProbe) extends Workload {
  val spark: SparkSession = ctx.spark
  def keys: Int
  def batchSize: Int
  def mix: Mix
  def recentBias: Double
  def backfillFiles: Int = 4
  def batchFiles: Int = 2

  var gen: CdcGen = _
  var path: String = _
  var landing: String = _
  var batchNo = 0
  val decodeMs = ArrayBuffer.empty[Double]
  val events = ArrayBuffer.empty[Long]
  val landedPerBatch = ArrayBuffer.empty[Long]

  def tables: Seq[String] = Seq(path)

  def startSetup(dir: String): String = {
    gen = new CdcGen(ctx.seed, recentBias)
    path = s"$dir/table"
    landing = s"$dir/landing"
    batchNo = 0
    val bf = s"$landing/backfill"
    CdcGen.land(bf, gen.backfill(keys), backfillFiles, backfill = true, gen)
    bf
  }

  /** Land the next batch; returns (dir, events). */
  def landBatch(): (String, Seq[Rec]) = {
    batchNo += 1
    val d = f"$landing/batch_$batchNo%05d"
    val recs = gen.batch(batchSize, mix)
    val bytes = CdcGen.land(d, recs, batchFiles, backfill = false, gen)
    ctx.landed(bytes)
    if (ctx.tracer.measuring) { events += recs.size; landedPerBatch += bytes }
    (d, recs)
  }

  /** Traced runs time the landing read + normalize on its own, outside
    * the apply span (the apply itself reads the files again). */
  def decodeProbe(d: String, normalize: DataFrame => DataFrame): Unit =
    if (ctx.tracer.traced && ctx.tracer.measuring) ctx.tracer.span("instr", "cdc.decode") {
      val t0 = System.nanoTime()
      ctx.noop(normalize(AvroSource.read(spark, d)))
      decodeMs += (System.nanoTime() - t0) / 1e6
    }

  override def layer: Map[String, Double] = {
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    Map("cdc.decode_ms" -> mean(decodeMs.toSeq),
      "cdc.events" -> mean(events.map(_.toDouble).toSeq),
      "cdc.landed_bytes" -> mean(landedPerBatch.map(_.toDouble).toSeq))
  }
}

/** The Delta notebook path at scale: the reference's dedup-subquery MERGE
  * over landed Avro batches into an unpartitioned copy-on-write table, and
  * three light snapshot aggregates after each commit. */
final class CowMerge(ctx: Ctx, probe: LakeProbe) extends CdcWorkload(ctx, probe) {
  val keys = 10000
  val batchSize = 500
  val mix = Mix(updates = 0.70, inserts = 0.15, deletes = 0.10, dups = 0.05)
  val recentBias = 0.8

  val Merge: String =
    """MERGE INTO delta_table target USING (
      |  SELECT latest_changes.* FROM temp latest_changes
      |  INNER JOIN (
      |    SELECT pk_id, max(updated_at) AS MaxDate
      |    FROM temp
      |    GROUP BY pk_id
      |  ) cm
      |  ON latest_changes.pk_id = cm.pk_id AND latest_changes.updated_at = cm.MaxDate
      |) source
      |ON source.pk_id == target.pk_id
      |WHEN MATCHED AND source.source_metadata.is_deleted THEN DELETE
      |WHEN MATCHED THEN UPDATE SET *
      |WHEN NOT MATCHED AND NOT source.source_metadata.is_deleted THEN INSERT *""".stripMargin

  def setup(dir: String): Unit = {
    val bf = startSetup(dir)
    LakeTable.create(spark, path, TableSpec("pk_id", "updated_at"),
      Normalize.flatten(AvroSource.read(spark, bf)))
    spark.sql("DROP TABLE IF EXISTS delta_table")
    spark.sql(s"CREATE TABLE delta_table USING graft LOCATION '$path'")
    probe.afterCommit(path, "apply")
  }

  def cycle(i: Int): Unit = {
    val (d, recs) = landBatch()
    decodeProbe(d, Normalize.flatten)
    val t = ctx.tracer
    t.span("apply", "merge") {
      val src = t.call("avro.read")(AvroSource.read(spark, d))
      t.call("normalize.flatten")(Normalize.flatten(src)).createOrReplaceTempView("temp")
      t.call("sql.merge")(spark.sql(Merge))
    }
    if (t.measuring) ctx.appliedRows += recs.size
    probe.afterCommit(path, "apply")
    val live = gen.liveRows.toSeq
    val expect = (live.size.toLong, live.map(_.value.toLong).sum)
    val got = t.span("read", "snapshot_agg") {
      spark.sql("SELECT count(*) AS n, sum(CAST(value AS BIGINT)) AS s FROM delta_table")
        .collect().head
    }
    ctx.checks((got.getLong(0), got.getLong(1)) == expect,
      s"cow_merge batch $batchNo snapshot (count, sum) = (${got.get(0)}, ${got.get(1)}), model $expect")
    val byName = t.span("read", "group_by_name") {
      spark.sql("SELECT name, count(*) FROM delta_table GROUP BY name").collect()
    }.map(r => r.getString(0) -> r.getLong(1)).toMap
    val wantByName = live.groupBy(_.name).map { case (k, v) => k -> v.size.toLong }
    ctx.checks(byName == wantByName, s"cow_merge batch $batchNo counts by name differ from the model")
    val latest = t.span("read", "latest_update") {
      spark.sql("SELECT max(CAST(updated_at AS BIGINT)) FROM delta_table").collect().head.getLong(0)
    }
    ctx.checks(latest == live.map(_.updated).max,
      s"cow_merge batch $batchNo max(updated_at) $latest, model ${live.map(_.updated).max}")
  }

  def finish(): Unit = {
    val got = spark.sql(
      "SELECT pk_id, name, value, CAST(updated_at AS BIGINT) FROM delta_table").collect()
      .map(r => r.getInt(0) -> (r.getString(1), r.getInt(2), r.getLong(3))).toMap
    val want = gen.liveRows.map(r => r.pk -> (r.name, r.value, r.updated)).toMap
    val diff = (got.keySet ++ want.keySet).count(k => got.get(k) != want.get(k))
    ctx.checks(diff == 0, s"cow_merge final state: $diff keys differ from the model " +
      s"(${got.size} rows, model ${want.size})")
  }
}

/** The Hudi merge-on-read notebook path: DataFrame upserts that keep the
  * reference's tombstone rows, a fixed read mix through the `_rt`/`_ro`
  * views and `VERSION AS OF`, and compaction every 5 delta commits. */
final class MorServe(ctx: Ctx, probe: LakeProbe) extends CdcWorkload(ctx, probe) {
  val keys = 5000
  val batchSize = 250
  val mix = Mix(updates = 0.70, inserts = 0.15, deletes = 0.10, dups = 0.05)
  val recentBias = 0.0
  val CompactEvery = 5
  /** delta commits landed in set-up: with the warm-up cycle's, 4 deltas
    * precede the loop, so the first measured cycle reads through 5 commits'
    * log files and then compacts */
  val PrefillCommits = 3
  override def periodic: Map[String, Int] = Map("compact" -> CompactEvery)

  var table: LakeTable = _
  var deltaCommits = 0
  /** model rows at the last compaction: what `_ro` serves */
  var roRows: Map[Int, Rec] = Map.empty
  /** version -> (row count, value sum), tombstone rows included */
  val versionAgg = mutable.HashMap.empty[Long, (Long, Long)]
  private var rnd: java.util.Random = _

  private def aggAll(rows: Iterable[Rec]): (Long, Long) =
    (rows.size.toLong, rows.map(_.value.toLong).sum)

  private def agg(rows: Iterable[Rec]): (Long, Long) = {
    val l = rows.filterNot(_.deleted)
    (l.size.toLong, l.map(_.value.toLong).sum)
  }

  private def register(): Unit = ctx.tracer.call("lake.registerViews")(table.registerViews("hudi_mor"))

  def setup(dir: String): Unit = {
    val bf = startSetup(dir)
    rnd = new java.util.Random(ctx.seed ^ 0x5eedL)
    table = LakeTable.create(spark, path,
      TableSpec("pk_id", "updated_at").copy(mor = true),
      Normalize.ingest(AvroSource.read(spark, bf)))
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("DROP TABLE IF EXISTS graft.db.hudi_mor")
    spark.sql(s"CREATE TABLE graft.db.hudi_mor USING graft LOCATION '$path'")
    deltaCommits = 0
    roRows = gen.rows.toMap
    versionAgg.clear()
    versionAgg(table.latestVersion) = aggAll(gen.rows.values)
    register()
    probe.afterCommit(path, "apply")
    (1 to PrefillCommits).foreach(_ => applyBatch())
  }

  def cycle(i: Int): Unit = {
    val recs = applyBatch()
    reads(recs)
    if (deltaCommits >= CompactEvery) {
      val t = ctx.tracer
      t.span("compact", "compact") {
        t.call("lake.compact")(table.compact())
        register()
      }
      probe.afterCommit(path, "compact")
      versionAgg(table.latestVersion) = aggAll(gen.rows.values)
      roRows = gen.rows.toMap
      deltaCommits = 0
    }
  }

  private def applyBatch(): Seq[Rec] = {
    val t = ctx.tracer
    val (d, recs) = landBatch()
    decodeProbe(d, Normalize.ingest)
    t.span("apply", "upsert") {
      val src = t.call("avro.read")(AvroSource.read(spark, d))
      val norm = t.call("normalize.ingest")(Normalize.ingest(src))
      t.call("lake.upsert")(table.upsert(norm))
      register()
    }
    if (t.measuring) ctx.appliedRows += recs.size
    probe.afterCommit(path, "apply")
    versionAgg(table.latestVersion) = aggAll(gen.rows.values)
    // keys new to the table land in base files, so `_ro` serves them at
    // once; updates and tombstones of existing keys wait in log files
    roRows ++= recs.filter(_.changeType == "INSERT").map(r => r.pk -> gen.rows(r.pk))
    deltaCommits += 1
    recs
  }

  private def aggOf(sql: String): (Long, Long) = {
    val r = spark.sql(sql).collect().head
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  private def rowOf(sql: String): Option[(String, Int, Long, Boolean)] =
    spark.sql(sql).collect().headOption.map(r =>
      (r.getString(0), r.getInt(1), r.getLong(2), r.getBoolean(3)))

  private def reads(recs: Seq[Rec]): Unit = {
    val t = ctx.tracer
    val aggSql = "SELECT count(*), sum(CAST(value AS BIGINT)) FROM %s " +
      "WHERE NOT source_metadata.is_deleted"
    val pointSql = "SELECT name, value, updated_at, source_metadata.is_deleted FROM %s " +
      "WHERE pk_id = %d"
    def expectRow(m: collection.Map[Int, Rec], k: Int) =
      m.get(k).map(r => (r.name, r.value, r.updated, r.deleted))
    val hot = recs(rnd.nextInt(recs.size)).pk
    val cold = gen.someLiveKey()
    val versions = versionAgg.keys.toSeq.sorted
    val tt = versions(rnd.nextInt(versions.size))

    probe.beforeRead()
    val rt = t.span("read", "rt_agg")(aggOf(aggSql.format("hudi_mor_rt")))
    ctx.checks(rt == agg(gen.rows.values), s"mor_serve _rt aggregate $rt, model ${agg(gen.rows.values)}")
    probe.beforeRead()
    val ro = t.span("read", "ro_agg")(aggOf(aggSql.format("hudi_mor_ro")))
    ctx.checks(ro == agg(roRows.values), s"mor_serve _ro aggregate $ro, model ${agg(roRows.values)}")
    probe.beforeRead()
    val p1 = t.span("read", "rt_point")(rowOf(pointSql.format("hudi_mor_rt", hot)))
    ctx.checks(p1 == expectRow(gen.rows, hot), s"mor_serve _rt pk_id=$hot got $p1, model ${expectRow(gen.rows, hot)}")
    probe.beforeRead()
    val p2 = t.span("read", "ro_point")(rowOf(pointSql.format("hudi_mor_ro", cold)))
    ctx.checks(p2 == expectRow(roRows, cold), s"mor_serve _ro pk_id=$cold got $p2, model ${expectRow(roRows, cold)}")
    probe.beforeRead()
    // top-level columns only: the catalog scan does not honour nested
    // column pruning, so a filter on source_metadata.is_deleted fails there
    val tv = t.span("read", "version_as_of")(aggOf(
      s"SELECT count(*), sum(CAST(value AS BIGINT)) FROM graft.db.hudi_mor VERSION AS OF $tt"))
    ctx.checks(tv == versionAgg(tt), s"mor_serve VERSION AS OF $tt aggregate $tv, model ${versionAgg(tt)}")
  }

  def finish(): Unit = {
    def state(view: String) = spark.sql(
      s"SELECT pk_id, name, value, updated_at, source_metadata.is_deleted FROM $view").collect()
      .map(r => r.getInt(0) -> (r.getString(1), r.getInt(2), r.getLong(3), r.getBoolean(4))).toMap
    def model(m: collection.Map[Int, Rec]) =
      m.map { case (k, r) => k -> (r.name, r.value, r.updated, r.deleted) }.toMap
    Seq(("hudi_mor_rt", model(gen.rows)), ("hudi_mor_ro", model(roRows))).foreach { case (v, want) =>
      val got = state(v)
      val diff = (got.keySet ++ want.keySet).count(k => got.get(k) != want.get(k))
      ctx.checks(diff == 0, s"mor_serve final $v: $diff keys differ from the model")
    }
  }

  override def layer: Map[String, Double] = {
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    super.layer ++ Map(
      "mor.log_files" -> mean(probe.morLogAtRead.map(_._1.toDouble).toSeq),
      "mor.log_bytes" -> mean(probe.morLogAtRead.map(_._2.toDouble).toSeq))
  }
}

/** Incremental consumers of a keyed fact table: per cycle, two tiny seeded
  * commits on the fact (price updates, order moves between customers, new
  * orders), then one poll by the consumers: change-feed reads over the
  * last commit through `changes()` and over the poll's commits through
  * `table_changes`, the refresh of a star-join materialized view and
  * snapshot aggregates. */
final class FeedConsume(ctx: Ctx, probe: LakeProbe) extends Workload {
  val spark: SparkSession = ctx.spark
  val Orders = 10000L
  val Customers = 1000L
  val BatchUpdates = 90
  val BatchInserts = 10
  /** fact commits landed between two polls of the consumers; the poll's
    * `table_changes` window covers all of them */
  val CommitsPerPoll = 2
  /** snapshot reads per poll: a single 0.3 s read is too short to time alone */
  val SnapshotReads = 5

  var fact: LakeTable = _
  var dim: LakeTable = _
  var mvDir: String = _
  var landing: String = _
  var rnd: java.util.Random = _
  var nextKey = 0L
  var batchNo = 0
  /** fact version -> (inserted keys, updated keys) of the commit */
  val commitKeys = mutable.HashMap.empty[Long, (Set[Long], Set[Long])]
  val cdfRows = ArrayBuffer.empty[Long]
  def tables: Seq[String] = Seq(fact.path)

  def setup(d: String): Unit = {
    landing = s"$d/landing"
    rnd = new java.util.Random(ctx.seed)
    batchNo = 0
    commitKeys.clear()
    Fixtures.orders(spark, ctx.seed, Orders, Customers).repartition(8)
      .write.parquet(s"$landing/orders")
    Fixtures.customers(spark, ctx.seed, Customers).repartition(2)
      .write.parquet(s"$landing/customer")
    fact = LakeTable.create(spark, s"$d/fact",
      TableSpec("o_orderkey", "o_orderdate", statsColumns = Seq("o_custkey")),
      spark.read.parquet(s"$landing/orders"))
    dim = LakeTable.create(spark, s"$d/dim", TableSpec("c_custkey", "cver"),
      spark.read.parquet(s"$landing/customer").withColumn("cver", lit(0L)))
    nextKey = Orders
    spark.sql("DROP TABLE IF EXISTS orders_feed")
    spark.sql(s"CREATE TABLE orders_feed USING graft LOCATION '${fact.path}'")
    probe.afterCommit(fact.path, "apply")
    // each cycle refreshes the view over one commit
    mvDir = MaterializedView.create(spark, s"$d/mv_star", fact, Seq("c_mktsegment"),
      Seq(MvAgg("n", "count", "*"), MvAgg("s", "sum", "o_custkey")),
      Seq(MaterializedView.MvJoin(dim.path, "o_custkey", "c_custkey"))).path
  }

  /** Land and commit one tiny fact batch: price updates (a tenth of them
    * moving to another customer) plus new orders. */
  private def factBatch(): Unit = {
    batchNo += 1
    val upd = Array.fill(BatchUpdates)((rnd.nextDouble() * nextKey).toLong).distinct
    val ins = (0 until BatchInserts).map(_ => { nextKey += 1; nextKey - 1 })
    val moves = upd.map(k => k -> (rnd.nextDouble() < 0.1, (rnd.nextDouble() * Customers).toLong)).toMap
    val bump = batchNo.toLong
    val updRows = fact.read().filter(col("o_orderkey").isin(upd.toIndexedSeq: _*))
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
        "o_orderpriority").collect()
    val rows = updRows.map { r =>
      val k = r.getLong(0)
      val (move, c) = moves(k)
      Row(k, if (move) c else r.getLong(1), r.getString(2), r.getDouble(3) + 1.0,
        new java.sql.Timestamp(r.getTimestamp(4).getTime + 86400000L), r.getString(5))
    } ++ ins.map(k => Row(k, (rnd.nextDouble() * Customers).toLong, "O", 1000.0 + bump,
      new java.sql.Timestamp(1000L * (694224000L + 86400L * (k % 2400))), "1-PRIO"))
    val schema = spark.read.parquet(s"$landing/orders").schema
    val d = f"$landing/fact_$batchNo%05d"
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toIndexedSeq, 1), schema)
      .write.parquet(d)
    ctx.landed(dirBytes(d))
    val t = ctx.tracer
    t.span("apply", "fact_upsert") {
      t.call("lake.upsert")(fact.upsert(spark.read.parquet(d)))
    }
    if (t.measuring) ctx.appliedRows += rows.length
    commitKeys(fact.latestVersion) = (ins.toSet, updRows.map(_.getLong(0)).toSet)
    probe.afterCommit(fact.path, "apply")
  }

  private def dirBytes(d: String): Long =
    Option(new File(d).listFiles()).toSeq.flatten.filter(_.getName.endsWith(".parquet"))
      .map(_.length()).sum

  /** Expected (key, change type) of the window (since, upTo]. */
  private def expectedChanges(since: Long, upTo: Long): Set[(Long, String)] = {
    val w = (since + 1 to upTo).flatMap(commitKeys.get)
    val ins = w.flatMap(_._1).toSet
    val upd = w.flatMap(_._2).toSet -- ins
    ins.map(_ -> "insert") ++ upd.map(_ -> "update_postimage")
  }

  private def feedKeys(rows: Array[Row]): Set[(Long, String)] =
    rows.map(r => (r.getAs[Long]("o_orderkey"), r.getAs[String]("_change_type"))).toSet

  def cycle(i: Int): Unit = {
    val t = ctx.tracer
    (1 to CommitsPerPoll).foreach(_ => factBatch())
    val v = fact.latestVersion
    val sql0 = v - CommitsPerPoll
    val short = t.span("changes", "changes_short")(fact.changes(v - 1).collect())
    ctx.checks(feedKeys(short) == expectedChanges(v - 1, v), s"feed_consume changes($v-1) keys")
    val sql = t.span("changes", "table_changes") {
      spark.sql(s"SELECT * FROM table_changes('orders_feed', $sql0)").collect()
    }
    ctx.checks(feedKeys(sql) == expectedChanges(sql0, v), s"feed_consume table_changes($sql0) keys")
    if (t.measuring) cdfRows ++= Seq(short.length.toLong, sql.length.toLong)
    t.span("refresh", "refresh_star")(MaterializedView.load(spark, mvDir).refresh())
    // the consumers' own snapshot read: every order ever inserted is live
    (1 to SnapshotReads).foreach { _ =>
      val byStatus = t.span("read", "snapshot_by_status") {
        spark.sql("SELECT o_orderstatus, count(*) FROM orders_feed GROUP BY o_orderstatus").collect()
      }
      val n = byStatus.map(_.getLong(1)).sum
      ctx.checks(n == nextKey, s"feed_consume snapshot count $n, want $nextKey")
    }
  }

  def finish(): Unit = {
    // the long window's feed against the diff of its two snapshots
    val v = fact.latestVersion
    val since = v - CommitsPerPoll
    val cols = Seq("o_orderkey", "o_custkey", "o_totalprice")
    val before = fact.read(Some(since)).select(cols.map(c => col(c).as("b_" + c)): _*)
    val after = fact.read(Some(v)).select(cols.map(col): _*)
    val diff = after.join(before, col("o_orderkey") === col("b_o_orderkey"), "full_outer")
      .select(
        coalesce(col("o_orderkey"), col("b_o_orderkey")).as("k"),
        when(col("b_o_orderkey").isNull, "insert").when(col("o_orderkey").isNull, "delete")
          .when(col("o_custkey") =!= col("b_o_custkey") ||
            col("o_totalprice") =!= col("b_o_totalprice"), "update_postimage").as("t"))
      .filter(col("t").isNotNull).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val feed = feedKeys(fact.changes(since).collect())
    ctx.checks(feed == diff, s"feed_consume changes($since) vs snapshot diff: " +
      s"${(feed -- diff).size} extra, ${(diff -- feed).size} missing")
    // the view against a recompute over the current snapshots
    val f = fact.read().select("o_custkey")
    val dm = dim.read().select("c_custkey", "c_mktsegment")
    def rows(df: DataFrame) = df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val star = rows(f.join(dm, col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment").agg(count(lit(1)), sum("o_custkey")))
    val mv = rows(MaterializedView.load(spark, mvDir).read()
      .select(col("c_mktsegment"), col("n").cast("long"), col("s").cast("long")))
    ctx.checks(mv == star, "feed_consume star MV vs recompute")
  }

  override def layer: Map[String, Double] = {
    val changeOps = ctx.tracer.ops.count(_.kind == "changes")
    Map("cdf.rows_out" -> (if (changeOps == 0) 0.0 else cdfRows.sum.toDouble / changeOps))
  }
}

/** The LLM-data operators over a multi-file document corpus. A pass runs
  * the curation operators (minhash and prefix-filtered Jaccard near-dup
  * pairs, BPE training; kind `curate`), the incremental dedups of new
  * landed batches against the fingerprint index (kind `apply`, each commits)
  * and an IVF-PQ vector search (kind `read`). */
final class DocCurate(ctx: Ctx) extends Workload {
  val spark: SparkSession = ctx.spark
  val Docs = 300
  val BatchDocs = 60
  /** landed batches deduplicated per pass, each its own commit */
  val BatchesPerPass = 2
  val Vectors = 500
  val Dim = 32
  val Threshold = 0.6

  var dir: String = _
  var docs: DataFrame = _
  var corpusText: IndexedSeq[String] = _
  var index: LakeTable = _
  var vix: VectorIndex = _
  var vectors: DataFrame = _
  var passNo = 0
  var nextDoc = 0L
  /** fingerprints in the index, as last read back */
  var indexed: Set[String] = Set.empty
  /** the last pass's (minhash, prefix-Jaccard) pairs and IVF queries */
  var last: (Array[Row], Array[Row], DataFrame) = _
  def tables: Seq[String] = Seq(index.path)

  def setup(d: String): Unit = {
    import spark.implicits._
    dir = d
    passNo = 0
    val gen = Fixtures.documents(ctx.seed, Docs)
    corpusText = gen.map(_._2)
    nextDoc = Docs.toLong
    // the multi-file copy every operator reads
    gen.toDF("doc_id", "text").repartition(8).write.parquet(s"$d/documents")
    docs = spark.read.parquet(s"$d/documents")
    val even = docs.filter(col("doc_id") % 2 === 0)
    index = LakeTable.create(spark, s"$d/fp_index",
      TableSpec("fingerprint", "doc_id", bloomBitsPerKey = 10),
      Dedup.copyCounts(even).select(col("fingerprint"), col("keep_id").cast("long").as("doc_id")))
    Fixtures.embeddings(ctx.seed, Vectors, Dim).map { case (i, v) => (i, v.toSeq) }
      .toDF("vec_id", "embedding").repartition(4).write.parquet(s"$d/embeddings")
    vectors = spark.read.parquet(s"$d/embeddings")
    vix = VectorIndex.build(spark, s"$d/vix", vectors, numLists = 8)
    indexed = index.read().select("fingerprint").as[String].collect().toSet
  }

  def cycle(i: Int): Unit = {
    import spark.implicits._
    val t = ctx.tracer
    passNo += 1
    val bdirs = (1 to BatchesPerPass).map { j =>
      val b = (passNo - 1) * BatchesPerPass + j
      val bdir = f"$dir/landing/batch_$b%05d"
      Fixtures.documents(ctx.seed * 31 + b, BatchDocs, nextDoc, corpusText)
        .toDF("doc_id", "text").coalesce(1).write.parquet(bdir)
      nextDoc += BatchDocs
      ctx.landed(Option(new File(bdir).listFiles()).toSeq.flatten
        .filter(_.getName.endsWith(".parquet")).map(_.length()).sum)
      bdir
    }

    val mh = t.span("curate", "minhash") {
      t.call("ext.minhash")(Dedup.minhashPairs(docs, Threshold, 64, 16, k = 4).collect())
    }
    val pj = t.span("curate", "prefix_jaccard") {
      t.call("ext.prefix_jaccard")(
        Dedup.ngramJaccardPairs(docs, Threshold, k = 4, prefixFilter = true).collect())
    }
    // expected survivors of the incremental dedups, before they commit
    val before = indexed
    val expect = spark.read.parquet(bdirs: _*).select(TextAnalysis.fingerprint(col("text")).as("fp"))
      .as[String].collect().toSet -- before
    bdirs.foreach { bdir =>
      val batch = spark.read.parquet(bdir)
      t.span("apply", "inc_dedup") {
        t.call("ext.inc_dedup")(Dedup.incrementalDedup(index, batch, commit = true))
      }
      if (t.measuring) ctx.appliedRows += BatchDocs
    }
    val bpe = t.span("curate", "bpe") {
      t.call("ext.bpe")(Bpe.trainWithStats(docs.filter(col("doc_id") < 100), numMerges = 32))
    }
    val queries = vectors.filter(col("vec_id") < 4)
    val ivf = t.span("read", "ivf_pq") {
      t.call("ext.ivf_pq")(vix.search(queries, k = 5, rerank = 4, nProbe = 2).collect())
    }

    // invariants on every pass
    val after = index.read().select("fingerprint").as[String].collect().toSet
    indexed = after
    ctx.checks(after == before ++ expect,
      s"doc_curate pass $passNo: index gained ${(after -- before).size} fingerprints, expected ${expect.size}")
    ctx.checks(bpe._1.pairs.size == 32, s"doc_curate BPE made ${bpe._1.pairs.size} merges, want 32")
    ctx.checks(ivf.nonEmpty && mh.nonEmpty, "doc_curate empty results")
    last = (mh, pj, queries)
  }

  private def shingles(s: String, k: Int): Set[String] = {
    val w = s.trim.split("\\s+")
    if (w.length < k) Set(w.mkString(" ")) else w.sliding(k).map(_.mkString(" ")).toSet
  }

  private def jaccard(a: Int, b: Int): Double = {
    val (x, y) = (shingles(corpusText(a), 4), shingles(corpusText(b), 4))
    (x & y).size.toDouble / (x | y).size
  }

  /** Plain recomputations on the last pass's results, at the end of the run. */
  private def deepChecks(mh: Array[Row], pj: Array[Row], queries: DataFrame): Unit = {
    def pairs(rs: Array[Row]) = rs.map(r => (r.getAs[Long]("id_a").toInt, r.getAs[Long]("id_b").toInt))
    val bad = (pairs(mh) ++ pairs(pj)).filter { case (a, b) => jaccard(a, b) < Threshold - 1e-9 }
    ctx.checks(bad.isEmpty, s"doc_curate near-dup pairs below Jaccard $Threshold: ${bad.take(5).toSeq}")
    ctx.checks(pairs(mh).toSet.subsetOf(pairs(pj).toSet),
      "doc_curate minhash pairs not all in the exact prefix-filtered set")
    // every list probed and the whole corpus reranked: exact top-k
    val all = vix.search(queries, k = 5, rerank = Vectors, nProbe = 8).collect()
    val brute = Similarity.bruteForceTopK(vectors, queries, k = 5).collect()
    def nn(rs: Array[Row]) = rs.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    ctx.checks(nn(all) == nn(brute), s"doc_curate IVF full probe ${nn(all)} != brute force ${nn(brute)}")
  }

  def finish(): Unit = {
    val (mh, pj, queries) = last
    deepChecks(mh, pj, queries)
  }
}
