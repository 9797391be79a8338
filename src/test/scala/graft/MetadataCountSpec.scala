package graft

import java.nio.file.Files

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{LakeTable, TableSpec}

/** Metadata-only `count(*)`: unfiltered counts over graft tables collapse
  * to the commit log's row stats (zero data files opened) — and, just as
  * important, the rewrite REFUSES every case where metadata is not exact.
  */
class MetadataCountSpec extends AnyFunSuite {

  /** Extensions-enabled session (same SparkContext as the shared one). */
  lazy val spark: SparkSession = {
    SparkTestSession.spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = graft.core.GraftSession.tune(
      SparkSession.builder().master("local[4]").appName("graft-metacount-test"), 4)
      .withExtensions(new graft.sql.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  import spark.implicits._

  private def mk(tag: String, mor: Boolean = false): LakeTable = {
    val path = Files.createTempDirectory(s"graft_mc_$tag").toString
    val df = (1L to 1000L).map(i => (i, 1L, s"v$i")).toDF("k", "ts", "v")
    LakeTable.create(spark, path, TableSpec("k", "ts", mor = mor), df)
  }

  private def isMetadataOnly(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectLeaves().forall(_.isInstanceOf[LocalRelation])

  test("partition-equality filters keep aggregates metadata-only; others refuse") {
    val path = Files.createTempDirectory("graft_mc_part").toString
    val t = LakeTable.create(spark, path, TableSpec("k", "ts", partition = Some("p")),
      (1L to 300L).map(i => (i, 1L, s"v$i", s"g${i % 3}")).toDF("k", "ts", "v", "p"))
    def q(where: String) = spark.read.format("graft").load(t.path)
      .filter(where).agg(count(lit(1)).as("n"), min("k").as("mn"), max("k").as("mx"))
    // p = 'g0' -> rows 3,6,...,300
    val eq = q("p = 'g0'")
    assert(isMetadataOnly(eq), eq.queryExecution.optimizedPlan.toString)
    assert(eq.collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))) ==
      Seq((100L, 3L, 300L)))
    // IN over two partitions
    val in = q("p IN ('g1', 'g2')")
    assert(isMetadataOnly(in))
    assert(in.collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))) ==
      Seq((200L, 1L, 299L)))
    // a non-existent partition: count 0, NULL extremes — still metadata
    val none = q("p = 'nope'")
    assert(isMetadataOnly(none))
    val r0 = none.collect().head
    assert(r0.getLong(0) == 0L && r0.isNullAt(1) && r0.isNullAt(2))
    // a non-partition filter must refuse the rewrite (and stay correct)
    val nonPart = q("v = 'v3'")
    assert(!isMetadataOnly(nonPart))
    assert(nonPart.collect().head.getLong(0) == 1L)
    // a range predicate on the partition column also refuses (only = / IN)
    val range = q("p > 'g0'")
    assert(!isMetadataOnly(range))
    assert(range.collect().head.getLong(0) == 200L)
  }

  test("unfiltered count(*) collapses to metadata and stays correct") {
    val t = mk("cow")
    val df = spark.read.format("graft").load(t.path).groupBy().count()
    assert(isMetadataOnly(df), df.queryExecution.optimizedPlan.toString)
    assert(df.collect().head.getLong(0) == 1000L)
  }

  test("DV deletes and upserts keep the metadata count exact") {
    val t = mk("dv")
    t.deleteVectors(col("k") <= 100L)
    t.upsert(Seq((2000L, 2L, "new")).toDF("k", "ts", "v"))
    val df = spark.read.format("graft").load(t.path).groupBy().count()
    assert(isMetadataOnly(df))
    assert(df.collect().head.getLong(0) == 901L)
  }

  test("a filter disables the rewrite but not the answer") {
    val t = mk("filtered")
    val df = spark.read.format("graft").load(t.path).filter($"k" > 500L).groupBy().count()
    assert(!isMetadataOnly(df), "filtered counts must scan")
    assert(df.collect().head.getLong(0) == 500L)
  }

  test("live MoR log files disable the rewrite (metadata over-counts)") {
    val t = mk("mor", mor = true)
    t.upsert(Seq((1L, 2L, "updated")).toDF("k", "ts", "v")) // lands in a log file
    val df = spark.read.format("graft").load(t.path).groupBy().count()
    assert(!isMetadataOnly(df), "MoR tables with live logs must scan")
    assert(df.collect().head.getLong(0) == 1000L)
    // compaction folds the logs away - metadata becomes exact again
    t.compact()
    val df2 = spark.read.format("graft").load(t.path).groupBy().count()
    assert(isMetadataOnly(df2))
    assert(df2.collect().head.getLong(0) == 1000L)
  }

  test("catalog tables get the rewrite through SQL, honoring time travel") {
    val t = mk("cat")
    t.upsert((1001L to 1500L).map(i => (i, 1L, s"v$i")).toDF("k", "ts", "v"))
    val cat = "graft_mc_cat"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse",
      Files.createTempDirectory("graft_mc_wh").toString)
    try {
      spark.sql(s"CREATE TABLE $cat.default.mc USING graft LOCATION '${t.path}'")
      val df = spark.sql(s"SELECT count(*) FROM $cat.default.mc")
      assert(isMetadataOnly(df), df.queryExecution.optimizedPlan.toString)
      assert(df.collect().head.getLong(0) == 1500L)
      val tt = spark.sql(s"SELECT count(*) FROM $cat.default.mc VERSION AS OF 0")
      assert(isMetadataOnly(tt))
      assert(tt.collect().head.getLong(0) == 1000L)
    } finally spark.sql(s"DROP TABLE IF EXISTS $cat.default.mc")
  }

  test("min/max over key and stats columns collapse to footer stats") {
    val path = Files.createTempDirectory("graft_mc_mm").toString
    val df = (1L to 1000L).map(i => (i, 1L, (i * 7 % 997).toDouble, s"s$i"))
      .toDF("k", "ts", "score", "v")
    val t = LakeTable.create(spark, path,
      TableSpec("k", "ts", statsColumns = Seq("score")), df)
    val agg = spark.read.format("graft").load(t.path)
      .agg(min($"k").as("mn"), max($"k").as("mx"),
        min($"score").as("smn"), max($"score").as("smx"), count(lit(1)).as("n"))
    assert(isMetadataOnly(agg), agg.queryExecution.optimizedPlan.toString)
    val r = agg.collect().head
    assert(r.getLong(0) == 1L && r.getLong(1) == 1000L)
    assert(r.getDouble(2) == 0.0 && r.getDouble(3) == 996.0)
    assert(r.getLong(4) == 1000L)
    // a column without declared stats must scan
    val noStats = spark.read.format("graft").load(t.path).agg(max($"v"))
    assert(!isMetadataOnly(noStats))
    assert(noStats.collect().head.getString(0) == "s999") // lexicographic max
  }

  test("deletion vectors disable min/max (extremal row may be dead) but not count") {
    val t = mk("mm_dv")
    t.deleteVectors(col("k") > 900L)
    val mm = spark.read.format("graft").load(t.path).agg(max($"k"))
    assert(!isMetadataOnly(mm), "DV'd snapshots must scan for extremes")
    assert(mm.collect().head.getLong(0) == 900L)
    val cnt = spark.read.format("graft").load(t.path).groupBy().count()
    assert(isMetadataOnly(cnt))
    assert(cnt.collect().head.getLong(0) == 900L)
  }

  test("a renaming projection cannot mislabel the column (exprId resolution)") {
    val t = mk("alias")
    // k renamed to ts, ts renamed to k: name-based stats lookup would
    // answer from the wrong column; exprId tracking must bail to a scan
    val swapped = spark.read.format("graft").load(t.path)
      .select($"k".as("ts2"), $"ts".as("k"))
      .agg(max($"k").as("mx"))
    assert(!isMetadataOnly(swapped), "aliased columns must not use stats")
    assert(swapped.collect().head.getLong(0) == 1L) // real ts values are all 1
  }

  test("SUM/COUNT(col) answer from stored per-file sums and refuse when inexact") {
    val path = Files.createTempDirectory("graft_mc_sum").toString
    val df = (1L to 1000L)
      .map(i => (i, 1L, if (i % 5 == 0) None else Some(i % 97), i.toDouble))
      .toDF("k", "ts", "x", "f")
      .withColumn("d", col("k").cast("decimal(10,2)"))
    val t = LakeTable.create(spark, path,
      TableSpec("k", "ts", sumColumns = Seq("x", "d", "f")), df)
    val expectedX = (1L to 1000L).filter(_ % 5 != 0).map(_ % 97).sum
    val agg = spark.read.format("graft").load(t.path)
      .agg(sum($"x").as("sx"), count($"x").as("nx"), sum($"d").as("sd"))
    assert(isMetadataOnly(agg), agg.queryExecution.optimizedPlan.toString)
    val r = agg.collect().head
    assert(r.getLong(0) == expectedX && r.getLong(1) == 800L)
    assert(r.getDecimal(2) == new java.math.BigDecimal("500500.00"))
    // an upsert's new files carry fresh sums - still metadata-only
    t.upsert(Seq((2000L, 2L, Some(50L), 1.0)).toDF("k", "ts", "x", "f")
      .withColumn("d", col("k").cast("decimal(10,2)")))
    val agg2 = spark.read.format("graft").load(t.path).agg(sum($"x").as("sx"))
    assert(isMetadataOnly(agg2))
    assert(agg2.collect().head.getLong(0) == expectedX + 50L)
    // a double column NEVER stores sums (order-dependent): scan, same answer
    val fsum = spark.read.format("graft").load(t.path).agg(sum($"f").as("sf"))
    assert(!isMetadataOnly(fsum), "float sums must come from a scan")
    // a column outside sumColumns scans too
    val ksum = spark.read.format("graft").load(t.path).agg(sum($"k").as("sk"))
    assert(!isMetadataOnly(ksum))
    assert(ksum.collect().head.getLong(0) == (1L to 1000L).sum + 2000L)
    // deletion vectors make stored sums stale - refuse, stay correct
    t.deleteVectors(col("k") <= 100L)
    val dv = spark.read.format("graft").load(t.path).agg(sum($"x").as("sx"))
    assert(!isMetadataOnly(dv), "DV'd snapshots must scan for sums")
    val expectedDv = (101L to 1000L).filter(_ % 5 != 0).map(_ % 97).sum + 50L
    assert(dv.collect().head.getLong(0) == expectedDv)
  }

  test("live MoR logs disable metadata sums; compaction restores them") {
    val path = Files.createTempDirectory("graft_mc_summor").toString
    val df = (1L to 100L).map(i => (i, 1L, i * 2)).toDF("k", "ts", "x")
    val t = LakeTable.create(spark, path,
      TableSpec("k", "ts", mor = true, sumColumns = Seq("x")), df)
    t.upsert(Seq((1L, 2L, 1000L)).toDF("k", "ts", "x")) // log file
    val logged = spark.read.format("graft").load(t.path).agg(sum($"x").as("sx"))
    assert(!isMetadataOnly(logged), "MoR logs must disable metadata sums")
    assert(logged.collect().head.getLong(0) == (2L to 100L).map(_ * 2).sum + 1000L)
    t.compact()
    val compacted = spark.read.format("graft").load(t.path).agg(sum($"x").as("sx"))
    assert(isMetadataOnly(compacted))
    assert(compacted.collect().head.getLong(0) == (2L to 100L).map(_ * 2).sum + 1000L)
  }

  test("an empty table answers min/max/sum from metadata with the SQL answer") {
    val path = Files.createTempDirectory("graft_mc_empty").toString
    val t = LakeTable.create(spark, path, TableSpec("k", "ts", sumColumns = Seq("x")),
      (1L to 50L).map(i => (i, 1L, i * 3)).toDF("k", "ts", "x"))
    t.delete(lit(true))
    assert(t.snapshot().live.isEmpty)
    def q = spark.read.format("graft").load(path)
      .agg(count(lit(1)), min($"k"), max($"k"), sum($"x"), count($"x"))
    val meta = q
    assert(isMetadataOnly(meta), meta.queryExecution.optimizedPlan.toString)
    val got = meta.collect().head
    assert(got.getLong(0) == 0L && got.isNullAt(1) && got.isNullAt(2) && got.isNullAt(3) &&
      got.getLong(4) == 0L)
    spark.conf.set("spark.graft.metadataCount.enabled", "false")
    try {
      val scanned = q
      assert(!isMetadataOnly(scanned))
      assert(scanned.collect().head == got)
    } finally spark.conf.set("spark.graft.metadataCount.enabled", "true")
  }

  test("ungrouped aggregates stay metadata-exact across partition eras; partition filters refuse") {
    val path = Files.createTempDirectory("graft_mc_eras").toString
    val t = LakeTable.create(spark, path,
      TableSpec("k", "ts", partition = Some("region"), sumColumns = Seq("v")),
      (1L to 40L).map(i => (i, 1L, if (i <= 20) "emea" else "apac", s"c${i % 4}", i * 10))
        .toDF("k", "ts", "region", "cat", "v"))
    t.changePartition(Some("cat"))
    def q = spark.read.format("graft").load(path)
      .agg(count(lit(1)), min($"k"), max($"k"), sum($"v"), count($"v"))
    val meta = q
    assert(isMetadataOnly(meta), meta.queryExecution.optimizedPlan.toString)
    val got = meta.collect().head
    assert(got == Row(40L, 1L, 40L, (1L to 40L).map(_ * 10).sum, 40L))
    spark.conf.set("spark.graft.metadataCount.enabled", "false")
    try assert(q.collect().head == got)
    finally spark.conf.set("spark.graft.metadataCount.enabled", "true")
    // an old-era file's stored partition value belongs to `region`, not
    // to today's partition column: filters on either column scan
    Seq("cat = 'c1'" -> 10L, "region = 'emea'" -> 20L).foreach { case (where, n) =>
      val f = spark.read.format("graft").load(path).filter(where).agg(count(lit(1)))
      assert(!isMetadataOnly(f), where)
      assert(f.collect().head.getLong(0) == n, where)
    }
  }

  test("the optimizer resolves one snapshot per metadata answer") {
    val path = Files.createTempDirectory("graft_mc_ops").toString
    LakeTable.create(spark, path,
      TableSpec("id", "ts", partition = Some("p"), sumColumns = Seq("ts")),
      (1L to 300L).map(i => (i, i % 7, s"g${i % 3}")).toDF("id", "ts", "p"))
    val cat = "graft_mc_ops"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse",
      Files.createTempDirectory("graft_mc_ops_wh").toString)
    spark.sql(s"CREATE TABLE $cat.default.ops USING graft LOCATION '$path'")
    /** Version listings of the optimizer phase alone (the query is analyzed first). */
    def optimized(sql: String): (Long, org.apache.spark.sql.DataFrame) = {
      val df = spark.sql(sql)
      df.queryExecution.analyzed
      (LogOpsProbe.ops(df.queryExecution.optimizedPlan).versionListings, df)
    }
    def metaAggScan(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r.scan
      }.exists(_.isInstanceOf[graft.sources.GraftMetaAggScan])
    val flat = s"SELECT count(*), min(id), max(id), sum(ts), count(ts) FROM $cat.default.ops"
    val expected = Row(300L, 1L, 300L, (1L to 300L).map(_ % 7).sum, 300L)
    try {
      val (ruleOn, a) = optimized(flat)
      assert(ruleOn <= 2, s"rule on: $ruleOn version listings")
      assert(isMetadataOnly(a) && a.collect().head == expected)
      spark.conf.set("spark.graft.metadataCount.enabled", "false")
      val (ruleOff, b) = optimized(flat)
      assert(ruleOff <= 3, s"rule off: $ruleOff version listings")
      assert(metaAggScan(b) && b.collect().head == expected)
      val (grouped, c) = optimized(
        s"SELECT p, count(*), min(id), max(id), sum(ts) FROM $cat.default.ops GROUP BY p")
      assert(grouped <= 3, s"grouped, rule off: $grouped version listings")
      assert(metaAggScan(c))
      val byP = (1L to 300L).groupBy(i => s"g${i % 3}")
      assert(c.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet == byP.map { case (p, is) =>
        (p, is.size.toLong, is.min, is.max, is.map(_ % 7).sum)
      }.toSet)
    } finally {
      spark.conf.set("spark.graft.metadataCount.enabled", "true")
      spark.sql(s"DROP TABLE IF EXISTS $cat.default.ops")
    }
  }

  test("DESCRIBE DETAIL answers every column from one snapshot") {
    val t = mk("detail")
    t.deleteVectors(col("k") <= 10L)
    t.upsert(Seq((2000L, 2L, "new")).toDF("k", "ts", "v"))
    var detail: Row = null
    val c = LogOpsProbe.ops { detail = spark.sql(s"DESCRIBE DETAIL '${t.path}'").collect().head }
    assert(c.versionListings <= 2, s"DESCRIBE DETAIL: $c")
    val s = t.snapshot()
    assert(detail.getAs[Long]("num_files") == s.live.size.toLong)
    assert(detail.getAs[Long]("num_rows") == 991L)
    assert(detail.getAs[Long]("size_bytes") == t.sizeBytes())
    assert(detail.getAs[Long]("latest_version") == s.version)
  }

  test("the escape hatch restores the scanning plan") {
    val t = mk("hatch")
    spark.conf.set("spark.graft.metadataCount.enabled", "false")
    try {
      val df = spark.read.format("graft").load(t.path).groupBy().count()
      assert(!isMetadataOnly(df))
      assert(df.collect().head.getLong(0) == 1000L)
    } finally spark.conf.set("spark.graft.metadataCount.enabled", "true")
  }
}
