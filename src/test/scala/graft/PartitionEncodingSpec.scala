package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{LakeTable, TableSpec}

/** Partition values with URI-special characters (space, '%', '+', '#'):
  * `input_file_name()` returns URI-ENCODED paths while commit-log file
  * actions store the literal listing form — every scan-side file identity
  * must decode before comparing, or touched-file detection silently misses
  * whole partitions (an upsert would DUPLICATE every updated key there).
  * Regression for the space-partition duplicate found via o_orderpriority
  * ("4-NOT SPECIFIED").
  */
class PartitionEncodingSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  /** 30 keys spread over partitions whose names URI-encode differently
    * than they list ('%' is additionally Hive-escaped in the dir name). */
  private val parts = Seq("plain", "has space", "pct%v", "plus+v", "hash#v")

  private def mk(tag: String, mor: Boolean = false): LakeTable = {
    val path = Files.createTempDirectory(s"graft_penc_$tag").toString
    val df = (1L to 30L).map(i => (i, 1L, s"v$i", parts((i % 5).toInt)))
      .toDF("k", "ts", "v", "p")
    LakeTable.create(spark, path, TableSpec("k", "ts", partition = Some("p"), mor = mor), df)
  }

  test("CoW upsert into special-char partitions neither duplicates nor misses keys") {
    val t = mk("cow")
    // update every key in place (same partition, newer precombine)
    t.upsert((1L to 30L).map(i => (i, 2L, s"u$i", parts((i % 5).toInt)))
      .toDF("k", "ts", "v", "p"))
    val rows = t.read().select("k", "v").as[(Long, String)].collect().toSeq
    assert(rows.size == 30, s"expected 30 rows, got ${rows.size} (duplicate or lost keys)")
    assert(rows.forall { case (k, v) => v == s"u$k" }, "every key must show the update")
  }

  test("row-level delete inside a special-char partition") {
    val t = mk("del")
    t.delete(col("p") === "has space" && col("k") <= 10L)
    val remaining = t.read().select("k", "p").as[(Long, String)].collect().toSeq
    assert(!remaining.exists { case (k, p) => p == "has space" && k <= 10L })
    assert(remaining.size == 30 - (1L to 10L).count(i => i % 5 == 1))
    // update, replaceWhere and keyed delete find their touched files in the
    // same partition through the same decoded file identity: a missed file
    // would lose the update, duplicate the replaced key, or keep the key
    val sp = col("p") === "has space"
    t.update(sp && col("k") === 11L, Map("v" -> lit("upd")))
    t.overwriteWhere(Seq((16L, 2L, "ow", "has space")).toDF("k", "ts", "v", "p"),
      sp && col("k") === 16L)
    t.deleteKeys(Seq((21L, "has space")).toDF("k", "p"))
    val rows = t.read().select("k", "v").as[(Long, String)].collect().toSeq
    assert(rows.size == remaining.size - 1, s"duplicate or lost keys: ${rows.sorted}")
    assert(rows.map(_._1).distinct.size == rows.size)
    val byKey = rows.toMap
    assert(byKey(11L) == "upd" && byKey(16L) == "ow" && !byKey.contains(21L))
    assert(byKey(26L) == "v26" && byKey(12L) == "v12")
  }

  test("deletion vectors anti-join correctly across encoded partition paths") {
    val t = mk("dv")
    t.deleteVectors(col("k") % 3 === 0)
    val keys = t.read().select("k").as[Long].collect().toSet
    assert(keys == (1L to 30L).filter(_ % 3 != 0).toSet)
  }

  test("MoR upsert + compact round-trips special-char partitions") {
    val t = mk("mor", mor = true)
    t.upsert((1L to 30L).filter(_ % 2 == 0).map(i => (i, 2L, s"u$i", parts((i % 5).toInt)))
      .toDF("k", "ts", "v", "p"))
    val rt = t.realtime().select("k", "v").as[(Long, String)].collect().toSeq
    assert(rt.size == 30)
    assert(rt.forall { case (k, v) => v == (if (k % 2 == 0) s"u$k" else s"v$k") })
    t.compact()
    val ro = t.readOptimized().select("k", "v").as[(Long, String)].collect().toSeq
    assert(ro.sorted == rt.sorted)
  }
}
