package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.lake.{LakeTable, TableSpec}

/** The one plan dumper. Names are captured in the order given, each to
  * `<outDir>/<name>_<suffix>.txt`:
  *   - the write-path captures on a b2-shaped CoW table (the bench's
  *     driver-fixture lineitem, keyed by `lkey`, and b2's `liSource`):
  *     `b2_cow_upsert`, `b8_changes` (the CDF read after it),
  *     `b2_cow_overwrite_where`, `b2_cow_delete`, `b2_cow_update` and
  *     `b2_cow_delete_keys`. Every execution the operation runs is
  *     captured via a QueryExecutionListener, executed plans numbered,
  *     and the table's row count and row digest after it are printed;
  *   - any other name is a declared query (`SparkEntry.queries`), dumped
  *     as its `.explain("formatted")` — the plans/r13 evidence artifacts.
  * Without a name list, every write-path capture runs.
  * Usage: runMain graft.tools.UpsertPlanDump <sfDir> <outDir> <suffix> [n1,n2,...] */
object UpsertPlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix) = args.take(3)
    val spark = graft.core.GraftSession.local("upsert-plan-dump", 8)
    Files.createDirectories(Paths.get(outDir))
    def write(name: String, text: String): Unit =
      Files.write(Paths.get(outDir, s"${name}_$suffix.txt"), text.getBytes("UTF-8"))
    val plans = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
        plans += s"== $funcName ==\n" + qe.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        ()
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    def capture(name: String)(body: => Unit): Unit = {
      plans.clear()
      spark.listenerManager.register(listener)
      body
      // QueryExecutionListener callbacks are async — give the bus a moment
      Thread.sleep(1500)
      spark.listenerManager.unregister(listener)
      write(name, plans.zipWithIndex.map { case (p, i) => s"---- execution $i ----\n$p" }
        .mkString("\n"))
      println(s"wrote ${name}_$suffix.txt (${plans.size} executions)")
    }

    val fx = graft.Bench.Fixtures.driver(spark, sfDir)
    // each op hits a disjoint 1% of the orders, selected by key alone, so
    // overwriteWhere's incoming keys never cross its predicate
    def slice(r: Int) = expr(s"(lkey DIV 10) % 100 = $r")
    lazy val t = LakeTable.create(spark, Files.createTempDirectory("upd_work").toString + "/cow",
      TableSpec("lkey", "l_shipdate"), fx.li, bulkInsert = true)
    val writePath: Seq[(String, () => Any)] = Seq(
      "b2_cow_upsert" -> (() => t.upsert(fx.liSource)),
      "b8_changes" -> (() =>
        t.changes(0).write.mode("overwrite").format("noop").save()),
      "b2_cow_overwrite_where" -> (() => t.overwriteWhere(fx.li.filter(slice(3))
        .withColumn("l_extendedprice", col("l_extendedprice") + 2.0), slice(3))),
      "b2_cow_delete" -> (() => t.delete(slice(5))),
      "b2_cow_update" -> (() => t.update(slice(7), Map("l_quantity" -> (col("l_quantity") + 1)))),
      "b2_cow_delete_keys" -> (() => t.deleteKeys(fx.li.filter(slice(9)).select("lkey"))))

    val names = args.lift(3).fold(writePath.map(_._1))(_.split(",").toSeq.filter(_.nonEmpty))
    names.foreach { n =>
      writePath.find(_._1 == n) match {
        case Some((_, op)) =>
          t // created outside the capture
          capture(n)(op())
          // content check across builds: row count and an order-free row
          // hash of the table after the op (meta columns vary per run), read
          // in a session of its own so no later capture's listener sees it
          val data = LakeTable.load(spark.newSession(), t.path).read()
            .drop(LakeTable.META_COLS: _*)
          val r = data.agg(count(lit(1)),
            sum(xxhash64(data.columns.toSeq.map(col): _*).cast("decimal(38,0)"))).head()
          println(s"$n table rows=${r.get(0)} digest=${r.get(1)}")
        case None =>
          val df = graft.SparkEntry.queries(n)(spark, sfDir)
          write(n, df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode))
          println(s"wrote ${n}_$suffix.txt")
      }
    }
    spark.stop()
  }
}
