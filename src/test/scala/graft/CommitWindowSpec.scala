package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.LogOpsProbe.ops
import graft.lake.{CommitLog, LakeTable, LogOps, TableSpec}

/** [[graft.lake.CommitWindow]]: a version window resolved from one listing
  * of the commit log. Pins the log cost of the change-feed and view-delta
  * reads, and of snapshot reads and writes, through CommitLog's log-op
  * counters, and checks that each kind of window (physical-only,
  * key-preserving, mixed) reads back as exactly the difference of its two
  * snapshots. */
class CommitWindowSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private def mkTable(name: String, mor: Boolean = false): LakeTable = {
    val path = Files.createTempDirectory(s"graft_window_$name").toString
    LakeTable.create(spark, path, TableSpec("id", "ts", mor = mor),
      (1 to 8).map(i => (i, i * 10, 100L)).toDF("id", "v", "ts"))
  }

  /** One upsert commit: updates an existing key and inserts a new one. */
  private def bump(t: LakeTable, i: Int): Unit = {
    t.upsert(Seq((i % 8 + 1, 1000 + i, 200L + i), (100 + i, i, 200L + i)).toDF("id", "v", "ts"))
    ()
  }

  /** Log cost of `changes`, `incremental` and `windowDelta` over the last
    * commit, each run to completion. */
  private def lastCommitCosts(t: LakeTable): Seq[(String, LogOps)] = {
    val since = t.latestVersion - 1
    Seq(
      "changes" -> ops(t.changes(since).collect()),
      "incremental" -> ops(t.incremental(since).collect()),
      "windowDelta" -> ops {
        val (plus, minus) = t.windowDelta(t.window(since, None))
        plus.collect(); minus.collect()
      })
  }

  /** Log cost of each write op and of a time-travel read, with the
    * number of commits each made. Every op runs on a fresh table holding
    * one outstanding upsert (on MoR, a log file), so no op lands on a
    * checkpoint version. */
  private def opCosts(mor: Boolean): Seq[(String, LogOps, Long)] = {
    val kind = if (mor) "mor" else "cow"
    // each input prepares its op off the counters and returns the op
    val inputs: Seq[(String, LakeTable => () => Unit)] = Seq(
      "upsert" -> (t => () => bump(t, 2)),
      "delete" -> (t => () => { t.delete(col("id") === 3); () }),
      "update" -> (t => () => { t.update(col("id") === 4, Map("v" -> lit(44))); () }),
      "deleteKeys" -> (t => () => { t.deleteKeys(Seq(5).toDF("id")); () }),
      "compact" -> (t => () => { t.compact(); () }),
      "read(Some(v))" -> { t =>
        val v = t.latestVersion - 1
        () => { t.read(Some(v)).collect(); () }
      })
    inputs.map { case (name, prepare) =>
      val t = mkTable(s"op_$kind", mor)
      bump(t, 1)
      val op = prepare(t)
      val v = t.latestVersion
      val c = ops(op())
      (s"$kind $name", c, t.latestVersion - v)
    }
  }

  test("each read lists the log once and each write once per commit") {
    val t = mkTable("listings")
    (1 to 3).foreach(bump(t, _))
    lastCommitCosts(t).foreach { case (name, c) =>
      assert(c.versionListings == 1, s"$name: $c")
      assert(c.checkpointListings <= 1, s"$name: $c")
    }
    val m = mkTable("listings_mor", mor = true)
    (1 to 3).foreach(bump(m, _))
    val since = m.latestVersion - 1
    val morDelta = ops {
      val (plus, minus) = m.windowDelta(m.window(since, None))
      plus.collect(); minus.collect()
    }
    assert(morDelta.versionListings == 1, s"MoR windowDelta: $morDelta")
    assert(morDelta.checkpointListings <= 1, s"MoR windowDelta: $morDelta")
    (opCosts(mor = false) ++ opCosts(mor = true)).foreach { case (name, c, commits) =>
      val allowed = math.max(1L, commits)
      assert(c.versionListings <= allowed, s"$name ($commits commits): $c")
      assert(c.checkpointListings <= allowed, s"$name ($commits commits): $c")
    }
  }

  test("a one-commit window reads as many commits at v12 as at v32") {
    val t = mkTable("length")
    (1 to 12).foreach(bump(t, _))
    val at12 = lastCommitCosts(t).map { case (n, c) => n -> c.commitReads }
    (13 to 32).foreach(bump(t, _))
    assert(t.latestVersion == 32)
    assert(CommitLog.listCheckpoints(t.path, spark.sessionState.newHadoopConf()) ==
      Seq(10L, 20L, 30L))
    val at32 = lastCommitCosts(t).map { case (n, c) => n -> c.commitReads }
    assert(at12 == at32, s"commit reads at v12 $at12, at v32 $at32")
  }

  private val dataCols = Seq("id", "v", "ts").map(col)

  private def rows(df: DataFrame): Set[(Int, Int, Long)] =
    df.select(dataCols: _*).as[(Int, Int, Long)].collect().toSet

  /** `changes`, `incremental` and `windowDelta` over `(since, upTo]`
    * against the plain diff of `read(since)` and `read(upTo)`. */
  private def checkAgainstSnapshots(t: LakeTable, since: Long, upTo: Long): Unit = {
    val before = rows(t.read(Some(since))).map(r => r._1 -> r).toMap
    val after = rows(t.read(Some(upTo))).map(r => r._1 -> r).toMap
    val inserted = (after.keySet -- before.keySet).map(after)
    val updated = (after.keySet & before.keySet).filter(k => after(k) != before(k)).map(after)
    val deleted = before.keySet -- after.keySet
    val ch = t.changes(since, Some(upTo))
    def ofType(tpe: String): DataFrame = ch.filter(col("_change_type") === tpe)
    assert(rows(ofType("insert")) == inserted)
    assert(rows(ofType("update_postimage")) == updated)
    assert(ofType("delete").select("id").as[Int].collect().toSet == deleted)
    assert(rows(t.incremental(since, Some(upTo))) == inserted ++ updated)
    // a net delta: plus ⊎ read(since) == minus ⊎ read(upTo) as multisets
    val (plus, minus) = t.windowDelta(t.window(since, Some(upTo)))
    val lhs = plus.select(dataCols: _*).unionByName(t.read(Some(since)).select(dataCols: _*))
    val rhs = minus.select(dataCols: _*).unionByName(t.read(Some(upTo)).select(dataCols: _*))
    assert(lhs.exceptAll(rhs).isEmpty && rhs.exceptAll(lhs).isEmpty)
  }

  test("physical-only, key-preserving and mixed windows equal the diff of their snapshots") {
    val t = mkTable("kinds")
    bump(t, 1)
    val v1 = t.latestVersion
    t.compact()
    val physical = t.window(v1, None)
    assert(physical.physicalOnly && physical.keyPreserving)
    checkAgainstSnapshots(t, v1, t.latestVersion)

    val v2 = t.latestVersion
    bump(t, 2); bump(t, 3)
    val upserts = t.window(v2, None)
    assert(!upserts.physicalOnly && upserts.keyPreserving)
    checkAgainstSnapshots(t, v2, t.latestVersion)

    val v4 = t.latestVersion
    t.upsert(Seq((5, 555, 300L), (50, 5, 300L)).toDF("id", "v", "ts"))
    t.delete(col("id") === 2)
    t.update(col("id") === 6, Map("v" -> lit(666)))
    val mixed = t.window(v4, None)
    assert(!mixed.physicalOnly && !mixed.keyPreserving)
    checkAgainstSnapshots(t, v4, t.latestVersion)
  }
}
