package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.EqualTo
import org.apache.spark.sql.types.{StringType, StructField}
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{LakeTable, TableSpec}
import graft.sql.GraftMetadataOnlyCount

/** Iceberg-style PARTITION EVOLUTION: `changePartition` is a metadata-only
  * commit — files keep their own era's physical layout (self-described by
  * their dir paths), new writes use the new column, every read/write path
  * is era-aware, and a full rewrite (compact) migrates the layout forward.
  */
class PartitionEvolutionSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft_pevo").toString

  /** Live row count per stored partition value, as the metadata answer to
    * `SELECT <partition>, count(*) … GROUP BY <partition>`; None when
    * metadata cannot answer it exactly (or the table is unpartitioned). */
  private def partitionRowCounts(t: LakeTable): Option[Map[String, Long]] = {
    val s = t.snapshot()
    s.spec.partition
      .flatMap(p => GraftMetadataOnlyCount.answer(s, Seq(GraftMetadataOnlyCount.WantCount),
        Some(StructField(p, StringType)), None))
      .map(_.map(r => r(0).toString -> r(1).asInstanceOf[Long]).toMap)
  }

  /** 40 rows, two candidate partition columns `region` and `cat`. */
  private def seed = (1L to 40L)
    .map(i => (i, 1L, if (i <= 20) "emea" else "apac", s"c${i % 4}", i * 10))
    .toDF("k", "ver", "region", "cat", "v")

  test("evolution is metadata-only and reads stay exact across eras") {
    val path = tmp()
    val t = LakeTable.create(spark, path,
      TableSpec("k", "ver", partition = Some("region")), seed)
    val before = t.liveFiles(None).map(_.path).toSet
    t.changePartition(Some("cat"))
    val t2 = LakeTable.load(spark, path)
    assert(t2.spec.partition.contains("cat"))
    assert(t2.liveFiles(None).map(_.path).toSet == before,
      "partition evolution must not touch a single data file")
    // full content survives, including the OLD partition column's values
    // (old era: from dirs) and the new column (old era: from data)
    val out = t2.read()
    assert(out.count() == 40)
    assert(out.filter(col("region") === "emea").count() == 20)
    assert(out.select(sum("v")).head().getLong(0) == (1L to 40L).map(_ * 10).sum)

    // a new write lands under the NEW column's dirs; the old column
    // becomes stored data in the new files
    t2.upsert(Seq((41L, 1L, "amer", "c1", 410L)).toDF("k", "ver", "region", "cat", "v"))
    val t3 = LakeTable.load(spark, path)
    val newFiles = t3.liveFiles(None).map(_.path).filterNot(before)
    assert(newFiles.nonEmpty && newFiles.forall(_.contains("cat=")),
      s"post-evolution files must be cat-partitioned: $newFiles")
    assert(t3.read().filter(col("k") === 41L).select("region").head().getString(0) == "amer")
  }

  test("upserts update rows in BOTH eras; identity follows the spec") {
    val path = tmp()
    val t = LakeTable.create(spark, path,
      TableSpec("k", "ver", partition = Some("region")), seed)
    t.changePartition(Some("cat"))
    val t2 = LakeTable.load(spark, path)
    // update an old-era row (k=5) and insert a new one in one batch
    t2.upsert(Seq((5L, 2L, "emea", "c1", -5L), (42L, 1L, "apac", "c2", 420L))
      .toDF("k", "ver", "region", "cat", "v"))
    val out = LakeTable.load(spark, path).read()
    assert(out.count() == 41)
    assert(out.filter(col("k") === 5L).select("v").head().getLong(0) == -5L)
    assert(out.filter(col("k") === 42L).select("v").head().getLong(0) == 420L)
  }

  test("file skipping prunes each file on its OWN era's column") {
    val path = tmp()
    val t = LakeTable.create(spark, path,
      TableSpec("k", "ver", partition = Some("region")), seed)
    t.changePartition(Some("cat"))
    val t2 = LakeTable.load(spark, path)
    t2.upsert(Seq((50L, 1L, "amer", "c9", 500L)).toDF("k", "ver", "region", "cat", "v"))
    val t3 = LakeTable.load(spark, path)
    val live = t3.liveFiles(None)
    // filter on the NEW column: old-era files are NOT pruned (their rows
    // can hold any cat value) but new-era files prune by their dirs
    val onCat = t3.pruneByFilters(live, Seq(EqualTo("cat", "c9")), t3.snapshot().shape)
    assert(onCat.map(_.path).exists(_.contains("region=")),
      "old-era files must survive a new-column filter")
    assert(onCat.filter(_.path.contains("cat=")).forall(_.path.contains("cat=c9")))
    // filter on the OLD column: old-era files still prune by their dirs
    val onRegion = t3.pruneByFilters(live, Seq(EqualTo("region", "emea")), t3.snapshot().shape)
    assert(onRegion.filter(_.path.contains("region="))
      .forall(_.path.contains("region=emea")))
    // correctness of the actual filtered reads (readWhere skips files;
    // the residual row filter is the engine's caller contract)
    assert(t3.readWhere(Seq(EqualTo("cat", "c9")))
      .filter(col("cat") === "c9").count() == 1)
    assert(t3.readWhere(Seq(EqualTo("region", "emea")))
      .filter(col("region") === "emea").count() == 20)
  }

  test("SHOW PARTITIONS is complete across eras (metadata + old-era scan)") {
    val path = tmp()
    val t = LakeTable.create(spark, path,
      TableSpec("k", "ver", partition = Some("region")), seed)
    t.changePartition(Some("cat"))
    val t2 = LakeTable.load(spark, path)
    t2.upsert(Seq((60L, 1L, "amer", "c8", 600L)).toDF("k", "ver", "region", "cat", "v"))
    // c0..c3 live only inside old-era files (as data); c8 from new-era dirs
    assert(LakeTable.load(spark, path).partitionValues ==
      Seq("c0", "c1", "c2", "c3", "c8"))
  }

  test("dynamic partition overwrite routes row-level under mixed eras") {
    val path = tmp()
    val t = LakeTable.create(spark, path,
      TableSpec("k", "ver", partition = Some("region")), seed)
    t.changePartition(Some("cat"))
    // replace partition cat=c1 (keys 1,5,…,37 — all inside old-era files)
    val repl = Seq((101L, 1L, "emea", "c1", 1010L)).toDF("k", "ver", "region", "cat", "v")
    LakeTable.load(spark, path).overwritePartitions(repl)
    val out = LakeTable.load(spark, path).read()
    assert(out.filter(col("cat") === "c1").count() == 1, "c1 must be fully replaced")
    assert(out.filter(col("cat") === "c1").select("k").head().getLong(0) == 101L)
    // every other partition's rows are untouched
    assert(out.count() == 31) // 40 - 10 (old c1 rows) + 1
    assert(out.select(sum("v")).head().getLong(0) ==
      (1L to 40L).filterNot(i => i % 4 == 1).map(_ * 10).sum + 1010L)
  }

  test("metadata partition aggregates refuse mixed eras; compact migrates") {
    val path = tmp()
    val t = LakeTable.create(spark, path,
      TableSpec("k", "ver", partition = Some("region")), seed)
    assert(partitionRowCounts(t).isDefined)
    t.changePartition(Some("cat"))
    val t2 = LakeTable.load(spark, path)
    assert(partitionRowCounts(t2).isEmpty,
      "mixed eras must disable grouped metadata answers")
    t2.compact()
    val t3 = LakeTable.load(spark, path)
    assert(t3.liveFiles(None).forall(_.path.contains("cat=")),
      "compact must migrate every file to the current layout")
    val counts = partitionRowCounts(t3)
    assert(counts.isDefined && counts.get == Map(
      "c0" -> 10L, "c1" -> 10L, "c2" -> 10L, "c3" -> 10L))
    // the old partition column's values survived the migration intact
    assert(t3.read().filter(col("region") === "emea").count() == 20)
  }

  test("unpartitioned → partitioned → unpartitioned round trip") {
    val path = tmp()
    val t = LakeTable.create(spark, path, TableSpec("k", "ver"), seed)
    t.changePartition(Some("region"))
    val t2 = LakeTable.load(spark, path)
    t2.upsert(Seq((70L, 1L, "amer", "c0", 700L)).toDF("k", "ver", "region", "cat", "v"))
    assert(LakeTable.load(spark, path).read().count() == 41)
    assert(LakeTable.load(spark, path).partitionValues.contains("amer"))
    LakeTable.load(spark, path).changePartition(None)
    val t3 = LakeTable.load(spark, path)
    t3.upsert(Seq((71L, 1L, "emea", "c0", 710L)).toDF("k", "ver", "region", "cat", "v"))
    val out = LakeTable.load(spark, path).read()
    assert(out.count() == 42)
    assert(out.filter(col("k").isin(70L, 71L)).count() == 2)
  }

  test("time travel before the evolution serves the old snapshot exactly") {
    val path = tmp()
    val t = LakeTable.create(spark, path,
      TableSpec("k", "ver", partition = Some("region")), seed)
    t.changePartition(Some("cat"))
    LakeTable.load(spark, path)
      .upsert(Seq((80L, 1L, "amer", "c0", 800L)).toDF("k", "ver", "region", "cat", "v"))
    val t2 = LakeTable.load(spark, path)
    assert(t2.read(Some(0L)).count() == 40)
    assert(t2.specAt(Some(0L)).partition.contains("region"))
  }

  test("restore across an evolution also restores the partition spec") {
    val path = tmp()
    val t = LakeTable.create(spark, path,
      TableSpec("k", "ver", partition = Some("region")), seed)
    t.changePartition(Some("cat"))
    LakeTable.load(spark, path)
      .upsert(Seq((90L, 1L, "amer", "c0", 900L)).toDF("k", "ver", "region", "cat", "v"))
    LakeTable.load(spark, path).restore(0L)
    val t2 = LakeTable.load(spark, path)
    assert(t2.spec.partition.contains("region"),
      "restore to a pre-evolution version must restore its partition column")
    assert(t2.read().count() == 40)
    // new writes land under the RESTORED layout
    t2.upsert(Seq((91L, 1L, "amer", "c0", 910L)).toDF("k", "ver", "region", "cat", "v"))
    val newFiles = LakeTable.load(spark, path).liveFiles(None)
      .filter(_.path.contains("region=amer"))
    assert(newFiles.nonEmpty)
  }

  test("refusals: bucketed, MoR logs outstanding, unknown/compound columns") {
    val path = tmp()
    val b = LakeTable.create(spark, tmp(),
      TableSpec("k", "ver", buckets = 4), seed.drop("region", "cat"))
    intercept[IllegalArgumentException] { b.changePartition(Some("v")) }

    val m = LakeTable.create(spark, path,
      TableSpec("k", "ver", partition = Some("region"), mor = true), seed)
    m.upsert(Seq((1L, 2L, "emea", "c1", -1L)).toDF("k", "ver", "region", "cat", "v"))
    assert(LakeTable.load(spark, path).liveFiles(None).exists(_.log))
    intercept[IllegalArgumentException] {
      LakeTable.load(spark, path).changePartition(Some("cat"))
    }
    // after compact the same evolution is accepted
    LakeTable.load(spark, path).compact()
    LakeTable.load(spark, path).changePartition(Some("cat"))
    assert(LakeTable.load(spark, path).spec.partition.contains("cat"))

    val f = LakeTable.create(spark, tmp(), TableSpec("k", "ver"), seed)
    intercept[IllegalArgumentException] { f.changePartition(Some("nope")) }
    intercept[IllegalArgumentException] { f.changePartition(None) } // already flat
  }

  test("SQL: ALTER TABLE … SET/DROP PARTITION FIELD") {
    val s = MaintenanceSqlSessions.sql
    import s.implicits._
    val path = tmp()
    LakeTable.create(s, path, TableSpec("k", "ver"),
      (1L to 10L).map(i => (i, 1L, s"g${i % 2}")).toDF("k", "ver", "g"))
    s.sql(s"ALTER TABLE graft.`$path` SET PARTITION FIELD g")
    assert(LakeTable.load(s, path).spec.partition.contains("g"))
    LakeTable.load(s, path)
      .upsert(Seq((11L, 1L, "g1")).toDF("k", "ver", "g"))
    assert(s.sql(s"SHOW PARTITIONS graft.`$path`").collect()
      .map(_.getString(0)).sorted.toSeq == Seq("g=g0", "g=g1"))
    s.sql(s"ALTER TABLE graft.`$path` DROP PARTITION FIELD")
    assert(LakeTable.load(s, path).spec.partition.isEmpty)
    assert(LakeTable.load(s, path).read().count() == 11)
  }
}

/** One extensions-enabled session shared by SQL-route evolution tests. */
object MaintenanceSqlSessions {
  lazy val sql: SparkSession = {
    SparkTestSession.spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = graft.core.GraftSession.tune(
      SparkSession.builder().master("local[4]").appName("graft-pevo-sql"), 4)
      .withExtensions(new graft.sql.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
