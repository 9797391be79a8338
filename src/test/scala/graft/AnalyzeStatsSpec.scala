package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{LakeTable, TableSpec}

/** `ANALYZE TABLE` column statistics: NDV + null counts land in the commit
  * log and flow through DSv2 `SupportsReportStatistics.columnStats` into
  * Catalyst attribute stats — which is what the cost-based optimizer needs
  * to estimate join cardinalities and REORDER a multi-fact join. The
  * 100 TB story: joining the selective dimension first shrinks the
  * intermediate from |fact| rows to a few percent of it before the second
  * join ever runs. */
class AnalyzeStatsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    SparkTestSession.spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = graft.core.GraftSession.tune(
      SparkSession.builder().master("local[4]").appName("graft-analyze-test"), 4)
      .withExtensions(new graft.sql.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  import spark.implicits._

  test("analyze records row count, NDV and null counts in the commit log") {
    val path = Files.createTempDirectory("graft_analyze").toString
    val df = (1L to 1000L).map(i =>
        (i, i % 10, if (i % 4 == 0) null else s"v${i % 25}", 1L))
      .toDF("id", "grp", "v", "ts")
    val tbl = LakeTable.create(spark, path, TableSpec("id", "ts"), df)
    assert(tbl.tableStats().isEmpty, "no stats before ANALYZE")
    val ts = tbl.analyze()
    assert(ts.rows == 1000)
    assert(ts.cols("id").nulls == 0 && ts.cols("v").nulls == 250)
    // HLL++ NDV: exact at tiny cardinalities, ~5% rsd at larger ones
    assert(ts.cols("grp").ndv == 10)
    assert(math.abs(ts.cols("id").ndv - 1000) <= 50,
      s"id ndv ${ts.cols("id").ndv} too far from 1000")
    // persisted: a fresh load sees them, and they survive later commits
    tbl.upsert(Seq((2000L, 0L, "x", 2L)).toDF("id", "grp", "v", "ts"))
    val reloaded = LakeTable.load(spark, path).tableStats()
    assert(reloaded.exists(_.cols("grp").ndv == 10))
  }

  test("ANALYZE TABLE SQL statement targets graft tables, FOR COLUMNS subset") {
    val path = Files.createTempDirectory("graft_analyze_sql").toString
    val tbl = LakeTable.create(spark, path, TableSpec("id", "ts"),
      (1L to 100L).map(i => (i, i % 5, 1L)).toDF("id", "grp", "ts"))
    spark.sql(s"ANALYZE TABLE graft.`$path` COMPUTE STATISTICS FOR COLUMNS id, grp")
    val ts = LakeTable.load(spark, path).tableStats()
    assert(ts.exists(s => s.cols.keySet == Set("id", "grp") && s.cols("grp").ndv == 5))
    spark.sql(s"ANALYZE TABLE graft.`$path` COMPUTE STATISTICS FOR ALL COLUMNS")
    assert(LakeTable.load(spark, path).tableStats().exists(_.cols.contains("ts")))
  }

  test("SELECT * (with _file_name) stays on the v2 file scan") {
    val path = Files.createTempDirectory("graft_star").toString
    LakeTable.create(spark, path, TableSpec("id", "ts"),
      (1L to 100L).map(i => (i, 1L, s"v$i")).toDF("id", "ts", "v"))
    val cat = "gstar"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse",
      Files.createTempDirectory("graft_star_wh").toString)
    spark.sql(s"DROP TABLE IF EXISTS $cat.default.star")
    spark.sql(s"CREATE TABLE $cat.default.star USING graft LOCATION '$path'")
    val df = spark.sql(s"SELECT * FROM $cat.default.star")
    val scans = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r.scan
    }
    assert(scans.exists(_.isInstanceOf[graft.sources.GraftFileScan]),
      s"SELECT * must plan through the v2 file scan, got ${scans.map(_.getClass)}")
    val rows = df.collect()
    assert(rows.length == 100)
    assert(rows.forall(_.getAs[String]("_file_name").endsWith(".parquet")),
      "_file_name must carry the bare file-name segment")
    assert(rows.forall(_.getAs[String]("_record_key").nonEmpty))
  }

  test("additively evolved tables stay on the v2 scan; old files surface nulls") {
    val path = Files.createTempDirectory("graft_evo").toString
    val tbl = LakeTable.create(spark, path, TableSpec("id", "ts"),
      (1L to 50L).map(i => (i, 1L, s"v$i")).toDF("id", "ts", "v"))
    tbl.addColumns(Seq(org.apache.spark.sql.types.StructField("extra",
      org.apache.spark.sql.types.LongType)))
    tbl.upsert(Seq((100L, 2L, "new", 7L)).toDF("id", "ts", "v", "extra"))
    val cat = "gevo"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse",
      Files.createTempDirectory("graft_evo_wh").toString)
    spark.sql(s"DROP TABLE IF EXISTS $cat.default.evo")
    spark.sql(s"CREATE TABLE $cat.default.evo USING graft LOCATION '$path'")
    val df = spark.sql(s"SELECT id, v, extra FROM $cat.default.evo")
    val scans = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r.scan
    }
    assert(scans.exists(_.isInstanceOf[graft.sources.GraftFileScan]),
      s"evolved snapshot must stay on the v2 scan, got ${scans.map(_.getClass)}")
    val rows = df.collect()
    assert(rows.length == 51)
    assert(rows.filter(_.getLong(0) <= 50L).forall(_.isNullAt(2)),
      "pre-evolution rows must surface null for the added column")
    assert(rows.find(_.getLong(0) == 100L).exists(_.getLong(2) == 7L))
  }

  test("bare LIMIT plans a commit-log row-count file prefix") {
    val path = Files.createTempDirectory("graft_limit").toString
    LakeTable.create(spark, path, TableSpec("id", "ts"),
      (1L to 400L).map(i => (i, 1L, s"v$i")).toDF("id", "ts", "v").repartition(8))
    val cat = "glim"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse",
      Files.createTempDirectory("graft_limit_wh").toString)
    spark.sql(s"DROP TABLE IF EXISTS $cat.default.lim")
    spark.sql(s"CREATE TABLE $cat.default.lim USING graft LOCATION '$path'")
    val df = spark.sql(s"SELECT id, v FROM $cat.default.lim LIMIT 5")
    val scan = df.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan
    }.get.asInstanceOf[graft.sources.GraftFileScan]
    val nFiles = scan.planInputPartitions()
      .map(_.asInstanceOf[graft.sources.GraftFileInputPartition].files.length).sum
    assert(nFiles == 1, s"LIMIT 5 over ~50-row files must open ONE file, got $nFiles")
    assert(df.collect().length == 5)
    // a filtered limit must NOT push (the filter rejects rows above the scan)
    val filtered = spark.sql(
      s"SELECT id FROM $cat.default.lim WHERE v = 'v399' LIMIT 5")
    assert(filtered.collect().map(_.getLong(0)).toSeq == Seq(399L))
  }

  test("runtime filtering re-prunes the file list from commit-log stats") {
    val path = Files.createTempDirectory("graft_rtf").toString
    val spec = TableSpec("id", "ts", partition = Some("p"))
    LakeTable.create(spark, path, spec,
      (1L to 300L).map(i => (i, 1L, s"p${i % 6}")).toDF("id", "ts", "p"))
    val cat = "grtf"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse",
      Files.createTempDirectory("graft_rtf_wh").toString)
    spark.sql(s"DROP TABLE IF EXISTS $cat.default.fact_rtf")
    spark.sql(s"CREATE TABLE $cat.default.fact_rtf USING graft LOCATION '$path'")
    val df = spark.sql(s"SELECT id, p FROM $cat.default.fact_rtf")
    val scan = df.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan
    }.get.asInstanceOf[graft.sources.GraftFileScan]
    assert(scan.filterAttributes().map(_.describe()).toSet == Set("p"))
    val before = scan.planInputPartitions()
      .map(_.asInstanceOf[graft.sources.GraftFileInputPartition].files.length).sum
    // the dynamic-pruning delivery path: Spark hands the dim side's values
    // as an In filter; the scan re-prunes against commit-log stats
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("p", Array("p1"))))
    val after = scan.planInputPartitions()
      .map(_.asInstanceOf[graft.sources.GraftFileInputPartition].files.length).sum
    assert(after < before && after > 0,
      s"runtime In-filter must shrink the file list: $before -> $after")
    // and a real DPP-shaped join stays correct end to end
    val dim = Seq(("p1", "keep")).toDF("p", "tag")
    dim.createOrReplaceTempView("rtf_dim")
    val joined = spark.sql(
      s"""SELECT count(*) AS n FROM $cat.default.fact_rtf f
         |JOIN rtf_dim d ON f.p = d.p""".stripMargin)
    assert(joined.head().getLong(0) == 50L)
  }

  test("DSv2 aggregate push-down answers count/min/max from the commit log") {
    val path = Files.createTempDirectory("graft_aggpd").toString
    val tbl = LakeTable.create(spark, path, TableSpec("id", "ts"),
      (1L to 200L).map(i => (i, 1L, s"v$i")).toDF("id", "ts", "v"))
    val cat = "gagg"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse",
      Files.createTempDirectory("graft_aggpd_wh").toString)
    spark.sql(s"DROP TABLE IF EXISTS $cat.default.agg")
    spark.sql(s"CREATE TABLE $cat.default.agg USING graft LOCATION '$path'")
    // isolate the pure-DSv2 route from the injected optimizer rule
    spark.conf.set("spark.graft.metadataCount.enabled", "false")
    try {
      val df = spark.sql(
        s"SELECT count(*) AS n, min(id) AS mn, max(id) AS mx FROM $cat.default.agg")
      val scans = df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r.scan
      }
      assert(scans.exists(_.isInstanceOf[graft.sources.GraftMetaAggScan]),
        s"the aggregate must push to a metadata scan, got ${scans.map(_.getClass)}")
      assert(df.collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))) ==
        Seq((200L, 1L, 200L)))
      // row-level changes: count stays metadata-exact (rows − dvRows);
      // extremes are no longer answerable and fall back to a real scan
      tbl.deleteVectors(col("id") > 150L)
      spark.sql(s"REFRESH TABLE $cat.default.agg")
      val counted = spark.sql(s"SELECT count(*) AS n FROM $cat.default.agg")
      assert(counted.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r.scan
      }.exists(_.isInstanceOf[graft.sources.GraftMetaAggScan]))
      assert(counted.head().getLong(0) == 150L)
      val mm = spark.sql(s"SELECT max(id) AS mx FROM $cat.default.agg")
      assert(!mm.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r.scan
      }.exists(_.isInstanceOf[graft.sources.GraftMetaAggScan]),
        "a DV'd extreme must NOT claim metadata exactness")
      assert(mm.head().getLong(0) == 150L)
    } finally spark.conf.unset("spark.graft.metadataCount.enabled")
  }

  test("GROUP BY partition column answers count/min/max from commit-log metadata") {
    val path = Files.createTempDirectory("graft_aggpd_grp").toString
    val tbl = LakeTable.create(spark, path,
      TableSpec("id", "ts", partition = Some("p")),
      (1L to 300L).map(i => (i, 1L, s"v$i", s"g${i % 3}"))
        .toDF("id", "ts", "v", "p"))
    val cat = "gagg2"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse",
      Files.createTempDirectory("graft_aggpd_grp_wh").toString)
    spark.sql(s"DROP TABLE IF EXISTS $cat.default.gagg")
    spark.sql(s"CREATE TABLE $cat.default.gagg USING graft LOCATION '$path'")
    spark.conf.set("spark.graft.metadataCount.enabled", "false")
    try {
      def metaScans(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.optimizedPlan.collect {
          case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r.scan
        }.filter(_.isInstanceOf[graft.sources.GraftMetaAggScan])
      val df = spark.sql(
        s"""SELECT p, count(*) AS n, min(id) AS mn, max(id) AS mx
           |FROM $cat.default.gagg GROUP BY p ORDER BY p""".stripMargin)
      assert(metaScans(df).nonEmpty,
        "GROUP BY partition must push to the metadata scan")
      val got = df.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      // g0 = {3,6,...,300}: 100 rows, min 3, max 300; g1 = {1,...,298};
      // g2 = {2,...,299}
      assert(got.toSeq == Seq(("g0", 100L, 3L, 300L), ("g1", 100L, 1L, 298L),
        ("g2", 100L, 2L, 299L)))
      // a non-partition group column must NOT claim the metadata scan
      val byV = spark.sql(
        s"SELECT v, count(*) AS n FROM $cat.default.gagg GROUP BY v")
      assert(metaScans(byV).isEmpty)
      assert(byV.count() == 300)
      // DVs: grouped count stays exact (rows − dvRows per partition),
      // grouped extremes fall back to a real scan
      tbl.deleteVectors(col("id") > 290L)
      spark.sql(s"REFRESH TABLE $cat.default.gagg")
      val counted = spark.sql(
        s"SELECT p, count(*) AS n FROM $cat.default.gagg GROUP BY p ORDER BY p")
      assert(metaScans(counted).nonEmpty)
      assert(counted.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
        Seq(("g0", 96L), ("g1", 97L), ("g2", 97L)))
      val mm = spark.sql(
        s"SELECT p, max(id) AS mx FROM $cat.default.gagg GROUP BY p ORDER BY p")
      assert(metaScans(mm).isEmpty, "DV'd grouped extreme must not claim exactness")
      assert(mm.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
        Seq(("g0", 288L), ("g1", 289L), ("g2", 290L)))
    } finally spark.conf.unset("spark.graft.metadataCount.enabled")
  }

  test("a time-travel GROUP BY answers from that version's partition column") {
    val path = Files.createTempDirectory("graft_aggpd_tt").toString
    val tbl = LakeTable.create(spark, path, TableSpec("id", "ts", partition = Some("p")),
      (1L to 60L).map(i => (i, 1L, s"g${i % 3}", s"h${i % 2}")).toDF("id", "ts", "p", "q"))
    tbl.changePartition(Some("q"))
    val cat = "gaggtt"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse",
      Files.createTempDirectory("graft_aggpd_tt_wh").toString)
    spark.sql(s"DROP TABLE IF EXISTS $cat.default.tt")
    spark.sql(s"CREATE TABLE $cat.default.tt USING graft LOCATION '$path'")
    spark.conf.set("spark.graft.metadataCount.enabled", "false")
    try {
      // at version 0 the table was partitioned by p: q is a data column
      val got = spark.sql(
        s"SELECT q, count(*) FROM $cat.default.tt VERSION AS OF 0 GROUP BY q")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      val expected = tbl.read(Some(0L)).groupBy("q").count()
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(expected == Set(("h0", 30L), ("h1", 30L)))
      assert(got == expected)
      def partitioning(asOf: Option[Long]): Seq[String] =
        graft.sources.GraftCatalogTable(
          org.apache.spark.sql.connector.catalog.Identifier.of(Array("default"), "tt"), path, asOf)
          .partitioning().toSeq.flatMap(_.references().map(_.fieldNames().mkString(".")))
      assert(partitioning(Some(0L)) == Seq("p") && partitioning(None) == Seq("q"))
    } finally {
      spark.conf.unset("spark.graft.metadataCount.enabled")
      spark.sql(s"DROP TABLE IF EXISTS $cat.default.tt")
    }
  }

  test("a time-travel catalog scan reports its own version's statistics") {
    val path = Files.createTempDirectory("graft_tt_stats").toString
    val tbl = LakeTable.create(spark, path, TableSpec("id", "ts"),
      (1L to 50L).map(i => (i, 1L, s"v$i")).toDF("id", "ts", "v"))
    tbl.upsert((51L to 250L).map(i => (i, 1L, s"v$i")).toDF("id", "ts", "v"))
    val cat = "gttstats"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse",
      Files.createTempDirectory("graft_tt_stats_wh").toString)
    spark.sql(s"DROP TABLE IF EXISTS $cat.default.st")
    spark.sql(s"CREATE TABLE $cat.default.st USING graft LOCATION '$path'")
    def stats(version: String) = spark.sql(s"SELECT id, v FROM $cat.default.st $version")
      .queryExecution.optimizedPlan.collectFirst {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r.scan
      }.get.asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
      .estimateStatistics()
    val v0 = stats("VERSION AS OF 0")
    assert(v0.numRows().getAsLong == 50L)
    assert(v0.sizeInBytes().getAsLong == tbl.sizeBytes(Some(0L)))
    assert(stats("").numRows().getAsLong == 250L)
    spark.sql(s"DROP TABLE IF EXISTS $cat.default.st")
  }

  test("a DSv2 aggregate metadata can never answer resolves no snapshot") {
    val path = Files.createTempDirectory("graft_aggpd_cast").toString
    LakeTable.create(spark, path, TableSpec("id", "ts", sumColumns = Seq("x")),
      (1L to 100L).map(i => (i, 1L, i.toInt)).toDF("id", "ts", "x"))
    val schema = graft.sources.GraftCatalogTable(
      org.apache.spark.sql.connector.catalog.Identifier.of(Array("default"), "c"), path, None)
      .schema()
    import org.apache.spark.sql.connector.expressions.{Cast => V2Cast, Expressions}
    import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation,
      CountStar, Sum => V2Sum}
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val agg = new Aggregation(Array[AggregateFunc](new CountStar(),
      new V2Sum(new V2Cast(Expressions.column("x"), IntegerType, LongType), false)), Array.empty)
    val builder = new graft.sources.GraftScanBuilder(path, None, schema)
    val c = LogOpsProbe.ops {
      assert(!builder.supportCompletePushDown(agg))
      assert(!builder.pushAggregation(agg))
    }
    assert(c.versionListings == 0 && c.commitReads == 0, s"$c")
    val cat = "gaggcast"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse",
      Files.createTempDirectory("graft_aggpd_cast_wh").toString)
    spark.sql(s"DROP TABLE IF EXISTS $cat.default.c")
    spark.sql(s"CREATE TABLE $cat.default.c USING graft LOCATION '$path'")
    spark.conf.set("spark.graft.metadataCount.enabled", "false")
    try {
      val r = spark.sql(s"SELECT count(*), sum(CAST(x AS BIGINT)) FROM $cat.default.c").head()
      assert(r.getLong(0) == 100L && r.getLong(1) == 5050L)
    } finally {
      spark.conf.unset("spark.graft.metadataCount.enabled")
      spark.sql(s"DROP TABLE IF EXISTS $cat.default.c")
    }
  }

  /** Leaf table names under the FIRST (deepest) join of the optimized plan. */
  private def bottomJoinTables(df: org.apache.spark.sql.DataFrame): Set[String] = {
    val joins = df.queryExecution.optimizedPlan.collect { case j: Join => j }
    val bottom = joins.last // collect is pre-order; last = deepest
    bottom.output.map(_.name).toSet
  }

  test("a 3-table join reorders to the selective dimension under ANALYZE stats") {
    val cat = "ga"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse",
      Files.createTempDirectory("graft_analyze_wh").toString)
    def create(name: String, df: org.apache.spark.sql.DataFrame): LakeTable = {
      val path = Files.createTempDirectory(s"graft_cbo_$name").toString
      val t = LakeTable.create(spark, path, TableSpec("id", "ts"), df)
      spark.sql(s"DROP TABLE IF EXISTS $cat.default.$name")
      spark.sql(s"CREATE TABLE $cat.default.$name USING graft LOCATION '$path'")
      t
    }
    // fact: every k_m matches medium (FK), only 5% of k_s match small
    val fact = create("fact", (1L to 20000L).map(i =>
      (i, i % 2000, i % 1000, s"f$i", 1L)).toDF("id", "k_m", "k_s", "f_tag", "ts"))
    val medium = create("medium", (0L until 2000L).map(i =>
      (i, s"m$i", 1L)).toDF("id", "m_tag", "ts"))
    val small = create("small", (0L until 50L).map(i =>
      (i, s"s$i", 1L)).toDF("id", "s_tag", "ts"))

    val sql =
      s"""SELECT f.f_tag, m.m_tag, s.s_tag
         |FROM $cat.default.fact f
         |JOIN $cat.default.medium m ON f.k_m = m.id
         |JOIN $cat.default.small s ON f.k_s = s.id""".stripMargin
    val saved = Seq("spark.sql.cbo.enabled", "spark.sql.cbo.joinReorder.enabled")
      .map(k => k -> spark.conf.getOption(k))
    try {
      // CBO off: the written order (fact JOIN medium first) stands
      spark.conf.set("spark.sql.cbo.enabled", "false")
      val before = bottomJoinTables(spark.sql(sql))
      assert(before.contains("m_tag") && !before.contains("s_tag"),
        s"without CBO the written join order must stand, bottom=$before")

      spark.conf.set("spark.sql.cbo.enabled", "true")
      spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
      Seq(fact, medium, small).foreach(_.analyze())
      spark.sql(s"REFRESH TABLE $cat.default.fact")
      spark.sql(s"REFRESH TABLE $cat.default.medium")
      spark.sql(s"REFRESH TABLE $cat.default.small")

      // with stats: |fact ⋈ small| ≈ 1000 rows vs |fact ⋈ medium| =
      // 20000 — the selective dimension must join first
      val df = spark.sql(sql)
      val after = bottomJoinTables(df)
      assert(after.contains("s_tag") && !after.contains("m_tag"),
        s"under CBO + ANALYZE the selective join must run first, bottom=$after")
      // and the ANALYZE column stats (NDV ≈ 50 on small.id) must be what
      // the optimizer saw, not just row counts
      val smallScan = df.queryExecution.optimizedPlan.collectFirst {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
            if r.output.exists(_.name == "s_tag") => r
      }.get
      val idNdv = smallScan.stats.attributeStats.collectFirst {
        case (a, cs) if a.name == "id" => cs.distinctCount.get.toLong
      }.get
      assert(math.abs(idNdv - 50L) <= 5, s"small.id NDV $idNdv must be ~50")
      // same answer either way: 20000 · (50/1000) matches, 1 medium each
      assert(df.count() == 1000L)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
