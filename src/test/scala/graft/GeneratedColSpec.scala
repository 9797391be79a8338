package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{GeneratedCols, LakeTable, TableSpec}

/** Generated columns (GENERATED ALWAYS AS) + hidden partitioning: stamping,
  * validation, and partition pruning through monotonic transforms. */
class GeneratedColSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def tmp(): String = Files.createTempDirectory("graft_gen").toString

  /** 40 rows over 4 days, µs timestamps. */
  private def batch(ids: Range): DataFrame = {
    import spark.implicits._
    val day = 86400L * 1000000L
    val t0 = 1704067200000000L // 2024-01-01 UTC
    ids.map(i => (i.toLong, i.toLong, t0 + (i % 4) * day + i * 1000000L))
      .toDF("pk_id", "updated_at", "ts_us")
  }

  private val genSpec = TableSpec("pk_id", "updated_at",
    partition = Some("event_date"),
    generated = Map("event_date" -> "to_date(timestamp_micros(ts_us))"))

  test("generated partition column stamps on create and on writes that omit it") {
    val t = LakeTable.create(spark, tmp(), genSpec, batch(0 until 40))
    val out = t.read()
    assert(out.columns.contains("event_date"))
    assert(out.filter(col("event_date") =!= expr("to_date(timestamp_micros(ts_us))"))
      .isEmpty, "stamped values must equal the generation expression")
    assert(t.partitionValues == Seq("2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04"))
    // an upsert WITHOUT the generated column stamps it too
    t.upsert(batch(40 until 44))
    assert(t.read().count() == 44)
    assert(t.partitionValues.size == 4)
    // a supplied CORRECT value passes; a divergent one fails loudly
    t.upsert(batch(44 until 45).withColumn("event_date",
      expr("to_date(timestamp_micros(ts_us))")))
    assert(t.read().count() == 45)
    val bad = batch(45 until 46).withColumn("event_date", expr("DATE'1999-12-31'"))
    val e = intercept[IllegalArgumentException] { t.upsert(bad) }
    assert(e.getMessage.contains("GENERATED ALWAYS AS"))
  }

  test("source-column filters prune partitions through the transform") {
    import org.apache.spark.sql.sources._
    val t = LakeTable.create(spark, tmp(), genSpec, batch(0 until 40))
    val all = t.liveFiles(None)
    assert(all.size >= 4, "expect at least one file per partition")
    val day = 86400L * 1000000L
    val t0 = 1704067200000000L
    // ts range covering only days 2 and 3 → partitions 01-02, 01-03 kept
    // (a strict `< t0+3d` would conservatively keep 01-04: `s < v` only
    // implies `g(s) <= g(v)` — so bound with the last in-range microsecond)
    val fs = Seq[Filter](
      GreaterThanOrEqual("ts_us", t0 + 1 * day),
      LessThanOrEqual("ts_us", t0 + 3 * day - 1))
    val kept = t.pruneByFilters(all, fs, t.snapshot().shape)
    val parts = kept.flatMap(_.partitionValue).distinct.sorted
    assert(parts == Seq("2024-01-02", "2024-01-03"),
      s"transform pruning kept $parts")
    // equality on the source column prunes to a single partition
    val one = t.pruneByFilters(all, Seq(EqualTo("ts_us", t0 + 2 * day)), t.snapshot().shape)
    assert(one.flatMap(_.partitionValue).distinct == Seq("2024-01-03"))
    // end-to-end: the pruned read returns exactly the in-range rows
    val rows = t.readWhere(fs).select("pk_id").collect().map(_.getLong(0)).toSet
    val expect = (0 until 40).filter(i => i % 4 == 1 || i % 4 == 2).map(_.toLong).toSet
    assert(rows == expect, "pruning must never change results")
  }

  test("monotonicSource recognizes safe transforms only") {
    def src(e: String) = GeneratedCols.monotonicSource(spark, e)
    assert(src("to_date(timestamp_micros(ts_us))").contains("ts_us"))
    assert(src("date_trunc('month', timestamp_micros(ts_us))").contains("ts_us"))
    assert(src("year(timestamp_micros(ts_us))").contains("ts_us"))
    assert(src("date_format(timestamp_micros(ts_us), 'yyyy-MM')").contains("ts_us"))
    assert(src("ts_us div 86400000000").contains("ts_us"))
    assert(src("CAST(ts_us AS STRING)").isEmpty, "lexicographic numbers are NOT monotone")
    assert(src("month(timestamp_micros(ts_us))").isEmpty, "month wraps yearly")
    assert(src("date_format(timestamp_micros(ts_us), 'MM-dd')").isEmpty)
    assert(src("ts_us div -2").isEmpty, "negative divisor flips order")
    assert(src("a + b").isEmpty, "two source columns never qualify")
    assert(src("abs(ts_us)").isEmpty, "unlisted functions are refused")
  }

  test("catalog DDL declares generated columns via namespaced options") {
    spark.conf.set("spark.sql.catalog.graft_gen", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_gen.warehouse",
      Files.createTempDirectory("graft_gen_wh").toString)
    spark.sql(
      """CREATE TABLE graft_gen.db.ev (
        |  pk_id BIGINT, updated_at BIGINT, ts_us BIGINT, event_date DATE)
        |USING graft PARTITIONED BY (event_date)
        |OPTIONS (key 'pk_id', precombine 'updated_at',
        |  'generated.event_date' 'to_date(timestamp_micros(ts_us))')""".stripMargin)
    val props = spark.sql("SHOW TBLPROPERTIES graft_gen.db.ev")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("generated.event_date")
      .contains("to_date(timestamp_micros(ts_us))"))
    // INSERT without correct generated values fails; API write stamps
    spark.sql("INSERT INTO graft_gen.db.ev SELECT 1L, 1L, 1704067200000000L, " +
      "to_date(timestamp_micros(1704067200000000L))")
    val got = spark.sql("SELECT event_date FROM graft_gen.db.ev").head().getDate(0)
    assert(got.toString == "2024-01-01")
    val e = intercept[Exception] {
      spark.sql("INSERT INTO graft_gen.db.ev SELECT 2L, 1L, 1704067200000000L, DATE'1999-01-01'")
    }
    assert(e.getMessage.contains("GENERATED ALWAYS AS") ||
      e.getCause != null && e.getCause.getMessage.contains("GENERATED ALWAYS AS"))
    spark.sql("DROP TABLE graft_gen.db.ev")
  }

  test("non-monotonic or absent generation expressions never mis-prune") {
    import org.apache.spark.sql.sources._
    // generated but NOT monotonic: pruning must keep everything for source
    // filters (and still answer correctly)
    val s = TableSpec("pk_id", "updated_at", partition = Some("mclass"),
      generated = Map("mclass" -> "month(timestamp_micros(ts_us))"))
    val t = LakeTable.create(spark, tmp(), s, batch(0 until 8))
    val all = t.liveFiles(None)
    val kept = t.pruneByFilters(all, Seq(GreaterThanOrEqual("ts_us", 0L)), t.snapshot().shape)
    assert(kept.size == all.size, "unrecognized transform must not prune")
  }
}
