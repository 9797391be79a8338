package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{LakeTable, MaterializedView, MvAgg, TableSpec}

/** Deletion vectors: row-level CoW deletes as positional sidecars — no data
  * file rewrite — with every read path (snapshot, time travel, CDF,
  * incremental, MV window delta) and every lifecycle interaction (merge of
  * successive DVs, rewrite materialization, full-file drop, vacuum)
  * agreeing with the rewrite-based delete semantics.
  */
class DeletionVectorSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  def tmp(): String = Files.createTempDirectory("graft_dv").toString

  private def base(n: Int): DataFrame =
    spark.range(n.toLong).select(
      col("id").as("k"), lit(0L).as("ver"),
      (col("id") % 10).cast("string").as("grp"),
      (col("id") * 3).as("val"))

  private def mk(n: Int = 1000, files: Int = 4): (String, LakeTable) = {
    val p = tmp()
    val t = LakeTable.create(spark, p, TableSpec("k", "ver"),
      base(n).repartitionByRange(files, col("k")), bulkInsert = true)
    (p, t)
  }

  private def keys(df: DataFrame): Set[Long] =
    df.select("k").collect().map(_.getLong(0)).toSet

  test("REORG APPLY (PURGE) rewrites only DV'd files; clean files stay put") {
    val (_, t) = mk()
    // DVs land on the files holding k%10==3; the range layout puts every
    // k<250 in file 0 — delete only there so some files stay clean
    t.deleteVectors(col("k") < 100 && col("k") % 10 === 3)
    val dvd = t.liveFiles(None).filter(_.dv.isDefined).map(_.path).toSet
    val clean = t.liveFiles(None).filterNot(_.dv.isDefined).map(_.path).toSet
    assert(dvd.nonEmpty && clean.nonEmpty, "need both DV'd and clean files")
    val expect = keys(t.read())
    t.reorgPurge()
    val after = t.liveFiles(None)
    assert(after.forall(_.dv.isEmpty), "no DV survives a purge")
    assert(clean.subsetOf(after.map(_.path).toSet), "clean files must not be rewritten")
    assert(after.map(_.path).toSet.intersect(dvd).isEmpty, "DV'd files must be replaced")
    assert(keys(t.read()) == expect, "content identical before/after purge")
    // row counts in the log now reflect the purge exactly
    assert(after.map(a => a.rows - a.dvRows).sum == expect.size)
    // idempotent: nothing left to purge, no new commit
    val v = t.latestVersion
    t.reorgPurge()
    assert(t.latestVersion == v)
  }

  test("DV delete removes rows without rewriting any data file") {
    val (_, t) = mk()
    val filesBefore = t.commits.flatMap(_.add).map(_.path).toSet
    t.deleteVectors(col("k") % 10 === 3)
    assert(keys(t.read()) == (0L until 1000L).filterNot(_ % 10 == 3).toSet)
    val c = t.commits.last
    assert(c.add.nonEmpty && c.add.forall(a => a.dv.isDefined && filesBefore.contains(a.path)),
      "the commit must re-add the SAME paths with a DV — no new data files")
    assert(c.add.map(_.dvRows).sum == 100)
  }

  test("successive DV deletes merge; counts accumulate") {
    val (_, t) = mk()
    t.deleteVectors(col("k") < 100)
    t.deleteVectors(col("k") >= 100 && col("k") < 150)
    assert(keys(t.read()) == (150L until 1000L).toSet)
    // the second commit's touched files carry BOTH delete sets
    val dvTotal = t.commits.flatMap(c => c.add).groupBy(_.path)
      .map { case (_, as) => as.maxBy(_.dvRows).dvRows }.sum
    assert(t.read().count() == 850)
    assert(dvTotal >= 150, s"merged sidecars must cover both deletes, got $dvTotal")
  }

  test("a fully-deleted file is dropped, not re-added") {
    val (_, t) = mk(1000, 4)
    // range-partitioned by k: k < 250 is exactly the first file
    val before = t.snapshot().live.size
    t.deleteVectors(col("k") < 250)
    val after = t.snapshot().live
    assert(after.size < before, "the all-deleted file must leave the live set")
    assert(after.map(a => a.rows - a.dvRows).sum == 750,
      "metadata row count must net out the DV")
    assert(keys(t.read()) == (250L until 1000L).toSet)
  }

  test("DV delete equals rewrite delete; time travel sees pre-delete state") {
    val (pA, a) = mk(); val (pB, b) = mk()
    val cond = col("val") % 7 === 0 && col("k") > 500
    val vBefore = a.latestVersion
    a.deleteVectors(cond)
    b.delete(cond)
    assert(keys(a.read()) == keys(b.read()))
    assert(keys(a.read(Some(vBefore))) == (0L until 1000L).toSet, "time travel pre-DV")
  }

  test("upsert after DV rewrites touched files clean and keeps DV semantics") {
    val (_, t) = mk()
    t.deleteVectors(col("k") % 10 === 3)
    val up = base(1000).filter(col("k") % 100 === 1)
      .withColumn("ver", lit(1L)).withColumn("val", col("val") + 100000)
    t.upsert(up)
    val got = t.read().select("k", "val").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(!got.keySet.exists(_ % 10 == 3), "DV'd rows must not resurrect on rewrite")
    assert(got(101L) == 100303L && got(1L) == 100003L)
    // deleted-but-untouched keys stay gone; untouched rows keep old values
    assert(got(2L) == 6L)
  }

  test("changes() reports DV deletes as delete rows") {
    val (_, t) = mk(200, 2)
    val since = t.latestVersion
    t.deleteVectors(col("k") === 7 || col("k") === 150)
    val ch = t.changes(since).collect()
    val dels = ch.filter(_.getAs[String]("_change_type") == "delete").map(_.getAs[Long]("k")).toSet
    assert(dels == Set(7L, 150L))
    assert(!ch.exists(_.getAs[String]("_change_type") == "insert"))
  }

  test("materialized view refresh absorbs a DV delete via the window delta") {
    val (_, t) = mk()
    val mp = tmp()
    val mv = MaterializedView.create(spark, mp, t, Seq("grp"),
      Seq(MvAgg("n", "count", "*"), MvAgg("sum_val", "sum", "val")))
    t.deleteVectors(col("k") % 10 === 4) // kills group "4" entirely
    mv.refresh()
    val got = mv.read().collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val want = t.read().groupBy("grp").agg(count(lit(1)).as("n"), sum("val").as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want)
    assert(!got.exists(_._1 == "4"), "group 4 must die with its rows")
  }

  test("compaction materializes DVs away") {
    val (_, t) = mk()
    t.deleteVectors(col("k") % 3 === 0)
    t.compact()
    val live = t.commits.sortBy(_.version).foldLeft(Map.empty[String, graft.lake.FileAction]) {
      (m, c) => (m -- c.remove) ++ c.add.map(a => a.path -> a)
    }
    assert(live.values.forall(_.dv.isEmpty), "compacted files must carry no DV")
    assert(keys(t.read()) == (0L until 1000L).filterNot(_ % 3 == 0).toSet)
  }

  test("vacuum keeps referenced DV sidecars and sweeps superseded ones") {
    val (p, t) = mk()
    t.deleteVectors(col("k") < 10)
    val dvDirs = () => {
      val d = new java.io.File(s"$p/data/_dv")
      if (d.exists()) d.listFiles().map(_.getName).toSet else Set.empty[String]
    }
    assert(dvDirs().nonEmpty)
    t.vacuum(retainVersions = 1, orphanGraceHours = 0.0)
    assert(dvDirs().nonEmpty, "a live DV must survive vacuum")
    assert(keys(t.read()) == (10L until 1000L).toSet)
    // rewrite everything → DV unreferenced → swept
    t.compact()
    t.vacuum(retainVersions = 1, orphanGraceHours = 0.0)
    val left = dvDirs()
    val hasParquet = left.exists(d =>
      Option(new java.io.File(s"$p/data/_dv/$d").listFiles())
        .exists(_.exists(_.getName.endsWith(".parquet"))))
    assert(!hasParquet, s"superseded DV parquet must be swept, left: $left")
    assert(keys(t.read()) == (10L until 1000L).toSet)
  }

  test("DV on a shallow clone's referenced files stays clone-local") {
    val (_, src) = mk()
    val cp = tmp()
    val clone = src.cloneTo(cp)
    clone.deleteVectors(col("k") % 2 === 0)
    assert(keys(clone.read()) == (1L until 1000L by 2).toSet)
    assert(keys(src.read()) == (0L until 1000L).toSet, "source must be untouched")
    // and cloning a DV'd table carries the exclusions across
    val cp2 = tmp()
    val clone2 = clone.cloneTo(cp2)
    assert(keys(clone2.read()) == (1L until 1000L by 2).toSet)
  }

  test("incremental() after a DV delete surfaces no stale post-images") {
    val (_, t) = mk(200, 2)
    val since = t.latestVersion
    t.deleteVectors(col("k") < 50)
    val inc = t.incremental(since)
    assert(inc.count() == 0, "a pure delete window has no post-images")
  }
}
