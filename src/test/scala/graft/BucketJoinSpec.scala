package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{LakeTable, TableSpec}

/** Storage-partitioned join over hash-bucketed graft tables: two tables
  * bucketed the same way join with ZERO shuffle on either side (the scans
  * report KeyGroupedPartitioning on the stored `_bucket` column). The
  * 100 TB story: a fact-fact join that moves nothing over the network.
  */
class BucketJoinSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    SparkTestSession.spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = graft.core.GraftSession.tune(
      SparkSession.builder().master("local[4]").appName("graft-bucket-test"), 4)
      .withExtensions(new graft.sql.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  import spark.implicits._

  private val NB = 8

  private def mk(tag: String, rows: Seq[(Long, Long, String)]): LakeTable = {
    val path = Files.createTempDirectory(s"graft_bkt_$tag").toString
    LakeTable.create(spark, path,
      TableSpec("k", "ts", buckets = NB), rows.toDF("k", "ts", "v"))
  }

  private def shuffles(df: org.apache.spark.sql.DataFrame): Int = {
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    plan.collect { case s: ShuffleExchangeExec => s }.size
  }

  test("bucketed create lays out one dir per bucket and stores the bucket id") {
    val t = mk("layout", (1L to 1000L).map(i => (i, 1L, s"v$i")))
    val parts = t.commits.flatMap(_.add).flatMap(_.partitionValue).distinct
    assert(parts.nonEmpty && parts.forall(p => p.toInt >= 0 && p.toInt < NB))
    val read = t.read()
    assert(read.columns.contains("_bucket"))
    // stored bucket ids match the stamp formula
    assert(read.filter(col("_bucket") =!= pmod(hash(col("k")), lit(NB))).isEmpty)
    assert(read.count() == 1000)
  }

  test("two same-bucketed tables join with zero shuffles (SPJ)") {
    val a = mk("spj_a", (1L to 2000L).map(i => (i, 1L, s"a$i")))
    val b = mk("spj_b", (500L to 2500L).map(i => (i, 1L, s"b$i")))
    val cat = "graft_bkt_cat"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse",
      Files.createTempDirectory("graft_bkt_wh").toString)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    // partition keys ([_bucket]) are a subset of the join keys ([k, _bucket]);
    // co-partitioning on the subset is what SPJ exploits
    spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      spark.sql(s"CREATE TABLE $cat.default.bkt_a USING graft LOCATION '${a.path}'")
      spark.sql(s"CREATE TABLE $cat.default.bkt_b USING graft LOCATION '${b.path}'")
      val joined = spark.sql(
        s"""SELECT a.k, a.v AS av, b.v AS bv
           |FROM $cat.default.bkt_a a JOIN $cat.default.bkt_b b
           |ON a.k = b.k AND a._bucket = b._bucket""".stripMargin)
      assert(joined.count() == 1501, "join result must be correct")
      assert(shuffles(joined) == 0,
        s"SPJ must plan zero shuffles, got:\n${joined.queryExecution.executedPlan}")
      // sanity: the same join WITHOUT the v2 bucketing flag still works
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
      val replanned = spark.sql(
        s"""SELECT a.k, a.v AS av, b.v AS bv
           |FROM $cat.default.bkt_a a JOIN $cat.default.bkt_b b
           |ON a.k = b.k AND a._bucket = b._bucket""".stripMargin)
      assert(replanned.count() == 1501)
      assert(shuffles(replanned) > 0, "without the flag the join shuffles as usual")
    } finally {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql(s"DROP TABLE IF EXISTS $cat.default.bkt_a")
      spark.sql(s"DROP TABLE IF EXISTS $cat.default.bkt_b")
    }
  }

  test("keyed aggregation over a bucketed table plans without a shuffle") {
    val t = mk("agg", (1L to 3000L).map(i => (i % 400, i, s"v$i")))
    val cat = "graft_bkt_cat3"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse",
      Files.createTempDirectory("graft_bkt_wh3").toString)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    try {
      spark.sql(s"CREATE TABLE $cat.default.bkt_g USING graft LOCATION '${t.path}'")
      // group keys ⊇ partition keys ([_bucket]) → partial+final agg fuse in
      // place, no exchange: keyed rollups over 100 TB without moving data
      val agg = spark.sql(
        s"SELECT k, _bucket, count(*) AS n, max(ts) AS mx FROM $cat.default.bkt_g GROUP BY k, _bucket")
      assert(agg.count() == 400)
      assert(shuffles(agg) == 0,
        s"bucket-clustered aggregation must not shuffle:\n${agg.queryExecution.executedPlan}")
    } finally {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
      spark.sql(s"DROP TABLE IF EXISTS $cat.default.bkt_g")
    }
  }

  test("narrower-typed upsert keys hash at the declared type (bucket pruning stays correct)") {
    import org.apache.spark.sql.sources.EqualTo
    // table declared with BIGINT key; upsert arrives with an INT key column.
    // Murmur3(Int) != Murmur3(Long) for the same value, so the stamp must
    // cast to the declared type BEFORE hashing or read-side bucketSkip
    // (which hashes the probe literal at the declared type) silently
    // prunes the file holding the row.
    val t = mk("narrow", (1L to 200L).map(i => (i, 1L, s"v$i")))
    t.upsert(Seq((9001, 2L, "narrow-new"), (7, 2L, "narrow-upd"))
      .toDF("k", "ts", "v")) // k is Int here, declared BIGINT
    // probe through the pushed-filter path that exercises bucketSkip
    def lookup(k: Long): Set[String] =
      t.readWhere(Seq(EqualTo("k", k))).filter(col("k") === k)
        .select("v").collect().map(_.getString(0)).toSet
    assert(lookup(9001L) == Set("narrow-new"),
      "row inserted with a narrower-typed key must survive bucket pruning")
    assert(lookup(7L) == Set("narrow-upd"))
    // stored bucket ids agree with the declared-type hash formula
    val read = t.read()
    assert(read.filter(col("_bucket") =!=
      pmod(hash(col("k").cast("bigint")), lit(NB))).isEmpty)
  }

  test("upserts restamp buckets and keep the SPJ path correct") {
    val t = mk("upsert", (1L to 500L).map(i => (i, 1L, s"v$i")))
    t.upsert(Seq((10L, 2L, "updated"), (9999L, 1L, "new")).toDF("k", "ts", "v"))
    val read = t.read()
    assert(read.count() == 501)
    assert(read.filter(col("_bucket") =!= pmod(hash(col("k")), lit(NB))).isEmpty,
      "post-upsert rows carry correct bucket ids")
    assert(read.filter("k = 10").select("v").head().getString(0) == "updated")
  }

  test("SPJ survives deletion vectors: zero shuffles, DV'd rows absent") {
    val a = mk("dv_a", (1L to 1200L).map(i => (i, 1L, s"a$i")))
    val b = mk("dv_b", (1L to 1200L).map(i => (i, 1L, s"b$i")))
    a.deleteVectors(col("k") % 10 === 0) // 120 rows vanish via sidecar, no rewrite
    assert(a.commits.flatMap(_.add).exists(_.dv.isDefined), "DV sidecar must be live")
    val cat = "graft_bkt_dv"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse",
      Files.createTempDirectory("graft_bkt_dv_wh").toString)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      spark.sql(s"CREATE TABLE $cat.default.dv_a USING graft LOCATION '${a.path}'")
      spark.sql(s"CREATE TABLE $cat.default.dv_b USING graft LOCATION '${b.path}'")
      val joined = spark.sql(
        s"""SELECT a.k, a.v AS av, b.v AS bv
           |FROM $cat.default.dv_a a JOIN $cat.default.dv_b b
           |ON a.k = b.k AND a._bucket = b._bucket""".stripMargin)
      assert(joined.count() == 1080, "deleted positions must be skipped in-reader")
      assert(joined.filter(col("k") % 10 === 0).isEmpty)
      assert(shuffles(joined) == 0,
        s"SPJ must survive a DV delete, got:\n${joined.queryExecution.executedPlan}")
    } finally {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql(s"DROP TABLE IF EXISTS $cat.default.dv_a")
      spark.sql(s"DROP TABLE IF EXISTS $cat.default.dv_b")
    }
  }

  test("SPJ survives un-compacted MoR logs: zero shuffles, latest-wins in-reader") {
    import spark.implicits._
    def mkMor(tag: String, rows: Seq[(Long, Long, String)]): LakeTable = {
      val path = Files.createTempDirectory(s"graft_bkt_$tag").toString
      LakeTable.create(spark, path,
        TableSpec("k", "ts", mor = true, buckets = NB), rows.toDF("k", "ts", "v"))
    }
    val a = mkMor("mor_a", (1L to 1000L).map(i => (i, 1L, s"a$i")))
    val b = mkMor("mor_b", (1L to 1000L).map(i => (i, 1L, s"b$i")))
    // un-compacted churn on a: updates land as logs, a delete as tombstones,
    // a stale (lower-precombine) update must LOSE to the live base row
    a.upsert(Seq((10L, 5L, "updated10"), (20L, 5L, "updated20"), (5000L, 1L, "new"))
      .toDF("k", "ts", "v"))
    a.upsert(Seq((10L, 3L, "stale10")).toDF("k", "ts", "v")) // loses: ts 3 < 5
    a.deleteKeys(Seq(30L, 40L).toDF("k"))
    val live = a.commits.flatMap(_.add) // cumulative adds; just assert logs exist
    assert(live.exists(f => f.log && !f.tombstone) && live.exists(_.tombstone),
      "un-compacted data logs AND tombstones must be present")
    // oracle: the realtime DataFrame merge over the same snapshot
    val expected = a.read().select("k", "ts", "v").collect().map(_.toSeq).toSet
    val cat = "graft_bkt_mor"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse",
      Files.createTempDirectory("graft_bkt_mor_wh").toString)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      spark.sql(s"CREATE TABLE $cat.default.mor_a USING graft LOCATION '${a.path}'")
      spark.sql(s"CREATE TABLE $cat.default.mor_b USING graft LOCATION '${b.path}'")
      // the merged bucket read alone matches the realtime DataFrame merge
      val got = spark.sql(s"SELECT k, ts, v FROM $cat.default.mor_a")
        .collect().map(_.toSeq).toSet
      assert(got == expected, "in-reader merge must equal the realtime merge")
      val one = spark.sql(s"SELECT v FROM $cat.default.mor_a WHERE k = 10")
      assert(one.collect().map(_.getString(0)).toSeq == Seq("updated10"))
      val joined = spark.sql(
        s"""SELECT a.k, a.v AS av, b.v AS bv
           |FROM $cat.default.mor_a a JOIN $cat.default.mor_b b
           |ON a.k = b.k AND a._bucket = b._bucket""".stripMargin)
      // 1000 base keys - 2 tombstoned; key 5000 is new on a only
      assert(joined.count() == 998)
      assert(joined.filter(col("k").isin(30L, 40L)).isEmpty, "tombstoned keys dead")
      assert(shuffles(joined) == 0,
        s"SPJ must survive MoR logs, got:\n${joined.queryExecution.executedPlan}")
    } finally {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql(s"DROP TABLE IF EXISTS $cat.default.mor_a")
      spark.sql(s"DROP TABLE IF EXISTS $cat.default.mor_b")
    }
  }

  test("bucket fast path falls back when meta columns or filters are needed") {
    val t = mk("fallback", (1L to 300L).map(i => (i, 1L, s"v$i")))
    val cat = "graft_bkt_cat2"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse",
      Files.createTempDirectory("graft_bkt_wh2").toString)
    try {
      spark.sql(s"CREATE TABLE $cat.default.bkt_f USING graft LOCATION '${t.path}'")
      // meta column request → V1 path, still correct
      val meta = spark.sql(s"SELECT _commit_time, k FROM $cat.default.bkt_f")
      assert(meta.count() == 300 && meta.filter(col("_commit_time").isNull).isEmpty)
      // filtered read → V1 path with data skipping, still correct
      val filtered = spark.sql(s"SELECT k, v FROM $cat.default.bkt_f WHERE k <= 50")
      assert(filtered.count() == 50)
    } finally spark.sql(s"DROP TABLE IF EXISTS $cat.default.bkt_f")
  }

  test("bucket-index pruning: key equality opens exactly one bucket") {
    import org.apache.spark.sql.sources.EqualTo
    val t = mk("prune", (1L to 2000L).map(i => (i, 1L, s"v$i")))
    val live = t.liveFiles(None)
    val expect = ((org.apache.spark.sql.catalyst.expressions.Murmur3Hash(
      Seq(org.apache.spark.sql.catalyst.expressions.Literal(77L)), 42)
      .eval(null).asInstanceOf[Int] % NB) + NB) % NB
    val kept = t.pruneByFilters(live, Seq(EqualTo("k", 77L)), t.snapshot().shape)
    assert(kept.nonEmpty && kept.size < live.size)
    assert(kept.flatMap(_.partitionValue).distinct == Seq(expect.toString))
    // pruned read returns exactly the probed row
    val row = t.readWhere(Seq(EqualTo("k", 77L))).filter(col("k") === 77L)
      .select("v").collect().map(_.getString(0)).toSeq
    assert(row == Seq("v77"))
  }

  test("bucket-index pruning: IN pins its buckets, conjuncts intersect") {
    import org.apache.spark.sql.sources.{And, EqualTo, In}
    val t = mk("prune_in", (1L to 2000L).map(i => (i, 1L, s"v$i")))
    val live = t.liveFiles(None)
    val keptIn = t.pruneByFilters(live, Seq(In("k", Array[Any](5L, 6L, 7L))), t.snapshot().shape)
    assert(keptIn.nonEmpty && keptIn.flatMap(_.partitionValue).distinct.size <= 3)
    val all = t.readWhere(Seq(In("k", Array[Any](5L, 6L, 7L))))
      .filter(col("k").isin(5L, 6L, 7L)).count()
    assert(all == 3)
    // contradictory equalities intersect to disjoint buckets → empty when
    // the two keys happen to hash apart (5L and 6L do at NB=8)
    val both = t.pruneByFilters(live,
      Seq(And(EqualTo("k", 5L), EqualTo("k", 6L))), t.snapshot().shape)
    val b5 = t.pruneByFilters(live, Seq(EqualTo("k", 5L)), t.snapshot().shape)
      .flatMap(_.partitionValue).toSet
    val b6 = t.pruneByFilters(live, Seq(EqualTo("k", 6L)), t.snapshot().shape)
      .flatMap(_.partitionValue).toSet
    if ((b5 & b6).isEmpty) assert(both.isEmpty)
  }

  test("bucket-index pruning fails open: type mismatch and non-key filters") {
    import org.apache.spark.sql.sources.EqualTo
    val t = mk("prune_safe", (1L to 500L).map(i => (i, 1L, s"v$i")))
    val live = t.liveFiles(None)
    // a string literal cannot hash as the long key — every file kept
    assert(t.pruneByFilters(live, Seq(EqualTo("k", "77")), t.snapshot().shape).size == live.size)
    // non-key equality never bucket-prunes (file ranges may still skip,
    // but v spans every file here)
    assert(t.pruneByFilters(live, Seq(EqualTo("v", "v77")), t.snapshot().shape).size == live.size)
  }
}
