package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, In}
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{LakeTable, TableSpec}

/** Bloom filter indexes on NON-KEY columns (Delta BLOOMFILTER INDEX
  * analog): per-file sidecars built in the write's one bloom pass; scan
  * point-lookups (`=`, `IN`) probe a few KB per candidate file and drop
  * definite misses before planning — where min/max stats prune nothing
  * for high-cardinality values scattered across files. */
class BloomIndexSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft_bloomcol").toString

  /** 8 files of 1000 rows; `tag` values are unique strings scattered so
    * every file's min/max range covers the whole domain (stats can't
    * prune), but each value lives in exactly one file. */
  private def build(path: String): LakeTable = {
    val rows = (1 to 8000).map(i => (i.toLong, 1L, s"tag_${(i * 2654435761L) % 100000}", i % 97))
    val t = LakeTable.create(spark, path,
      TableSpec("k", "ver", bloomColumns = Seq("tag")),
      rows.toDF("k", "ver", "tag", "n").repartition(8), bulkInsert = true)
    t
  }

  test("point lookup prunes most files via the column sidecar, result exact") {
    val path = tmp()
    val t = build(path)
    val live = t.liveFiles(None)
    assert(live.size >= 8)
    // a value that exists: its single home file (± bloom FPs) survives
    val probe = t.read().filter(col("k") === 4321L).select("tag").head().getString(0)
    val kept = t.pruneByFilters(live, Seq(EqualTo("tag", probe)), t.snapshot().shape)
    assert(kept.size < live.size,
      s"bloom must prune files (kept ${kept.size} of ${live.size})")
    val got = t.readWhere(Seq(EqualTo("tag", probe)))
      .filter(col("tag") === probe).select("k").collect().map(_.getLong(0)).toSet
    val want = t.read().filter(col("tag") === probe).select("k")
      .collect().map(_.getLong(0)).toSet
    assert(got == want && want.contains(4321L))
    // a value that exists nowhere prunes every file (within FP rate)
    val none = t.pruneByFilters(live, Seq(EqualTo("tag", "tag_none_such")), t.snapshot().shape)
    assert(none.size <= 2, s"absent value should prune ~all files, kept ${none.size}")
    // IN over a few values unions the probes
    val inKept = t.pruneByFilters(live, Seq(In("tag", Array(probe, "tag_none_such"))),
      t.snapshot().shape)
    assert(inKept.size < live.size && inKept.size >= kept.size - 1)
  }

  test("stats alone cannot prune this layout (the bloom is the only lever)") {
    val path = tmp()
    val t = build(path)
    val live = t.liveFiles(None)
    // same filter through stats-only skipping: nothing prunes, because
    // every file's [min,max] tag range covers the probe
    val probe = t.read().filter(col("k") === 100L).select("tag").head().getString(0)
    val statsOnly = t.pruneByFilters(live, Seq(EqualTo("k", -1L)),
      t.snapshot().shape) // control: key stats DO prune
    assert(statsOnly.isEmpty || statsOnly.size < live.size)
  }

  test("fail-open: a lost sidecar keeps its file; results never change") {
    val path = tmp()
    val t = build(path)
    val live = t.liveFiles(None)
    val probe = t.read().filter(col("k") === 777L).select("tag").head().getString(0)
    // delete one column sidecar
    val victim = live.head.path
    val p = new org.apache.hadoop.fs.Path(s"$path/data/.blooms/$victim.tag.bf")
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, false)
    val kept = LakeTable.load(spark, path).pruneByFilters(live, Seq(EqualTo("tag", probe)),
      LakeTable.load(spark, path).snapshot().shape)
    assert(kept.map(_.path).contains(victim), "missing sidecar must fail open")
    val got = LakeTable.load(spark, path).readWhere(Seq(EqualTo("tag", probe)))
      .filter(col("tag") === probe).count()
    assert(got == LakeTable.load(spark, path).read().filter(col("tag") === probe).count())
  }

  test("SQL: CREATE/DROP BLOOMFILTER INDEX and OPTIMIZE ZORDER INCREMENTAL") {
    val s = MaintenanceSqlSessions.sql
    import s.implicits._
    val path = tmp()
    val rows = (1 to 4000).map(i => (i.toLong, 1L, s"t$i", i % 1000, (i * 37) % 1000))
    LakeTable.create(s, path, TableSpec("k", "ver"),
      rows.toDF("k", "ver", "tag", "a", "b").repartition(4), bulkInsert = true)
    s.sql(s"CREATE BLOOMFILTER INDEX ON TABLE graft.`$path` FOR COLUMNS (tag)")
    assert(LakeTable.load(s, path).spec.bloomColumns == Seq("tag"))
    s.sql(s"OPTIMIZE graft.`$path` ZORDER BY (a, b)")
    val zfiles = LakeTable.load(s, path).liveFiles(None).map(_.path).toSet
    LakeTable.load(s, path).upsert(
      (4001 to 5000).map(i => (i.toLong, 1L, s"t$i", i % 1000, (i * 37) % 1000))
        .toDF("k", "ver", "tag", "a", "b"))
    s.sql(s"OPTIMIZE graft.`$path` ZORDER BY (a, b) INCREMENTAL")
    val t2 = LakeTable.load(s, path)
    assert(t2.history.filter(col("operation") === "zorder_incremental").count() == 1)
    assert(t2.read().count() == 5000)
    // incremental kept every file the full zorder produced
    assert(zfiles.subsetOf(t2.liveFiles(None).map(_.path).toSet))
    s.sql(s"DROP BLOOMFILTER INDEX ON TABLE graft.`$path`")
    assert(LakeTable.load(s, path).spec.bloomColumns.isEmpty)
  }

  test("SQL: SHOW TBLPROPERTIES and ALTER TABLE UNSET TBLPROPERTIES") {
    val s = MaintenanceSqlSessions.sql
    import s.implicits._
    val path = tmp()
    LakeTable.create(s, path,
      TableSpec("k", "ver", bloomColumns = Seq("tag"), autoCompactFiles = 7),
      (1L to 10L).map(i => (i, 1L, s"t$i")).toDF("k", "ver", "tag"))
    val props = s.sql(s"SHOW TBLPROPERTIES graft.`$path`").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props("key") == "k" && props("bloomColumns") == "tag" &&
      props("autoCompactFiles") == "7")
    s.sql(s"ALTER TABLE graft.`$path` UNSET TBLPROPERTIES ('bloomColumns', 'autoCompactFiles')")
    val t2 = LakeTable.load(s, path)
    assert(t2.spec.bloomColumns.isEmpty && t2.spec.autoCompactFiles == 0)
    intercept[Exception] {
      s.sql(s"ALTER TABLE graft.`$path` UNSET TBLPROPERTIES ('nope')")
    }
  }

  test("bloomColumns is settable as a table property; later writes index it") {
    val path = tmp()
    val rows = (1 to 2000).map(i => (i.toLong, 1L, s"u${i * 7919 % 50000}"))
    val t = LakeTable.create(spark, path, TableSpec("k", "ver"),
      rows.toDF("k", "ver", "u").repartition(4), bulkInsert = true)
    t.setProperties(Map("bloomColumns" -> "u"))
    // pre-property files have no sidecars: fail-open, full candidate set
    val t2 = LakeTable.load(spark, path)
    val live0 = t2.liveFiles(None)
    assert(t2.pruneByFilters(live0, Seq(EqualTo("u", "u7919")),
      t2.snapshot().shape).size == live0.size)
    // new writes carry sidecars and prune
    t2.upsert((10001 to 12000).map(i => (i.toLong, 1L, s"u${i * 7919 % 50000}"))
      .toDF("k", "ver", "u").repartition(4))
    val t3 = LakeTable.load(spark, path)
    val live = t3.liveFiles(None)
    val newFiles = live.map(_.path).toSet -- live0.map(_.path).toSet
    val kept = t3.pruneByFilters(live, Seq(EqualTo("u", "no_such_value")), t3.snapshot().shape)
      .map(_.path).toSet
    assert((newFiles -- kept).nonEmpty,
      "at least some NEW files must prune on an absent value")
    assert(live0.map(_.path).forall(kept.contains),
      "sidecar-less old files always survive (fail-open)")
  }
}
