package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The bench registry's fixtures. Every churn batch an entry applies must
  * select rows under both protocols (a predicate that matches nothing makes
  * the entry time an empty write, as b2/b3 did through round 12), and the
  * scale protocol's 1× and R× runs must apply the same logical change. */
class BenchSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"
  lazy val root: String = Files.createTempDirectory("graft_bench_fix").toString
  lazy val driver: Bench.Fixtures = Bench.Fixtures.driver(spark, sf)
  lazy val rep1: Bench.Fixtures = Bench.Fixtures.scale(spark, sf, root, 1)
  lazy val rep2: Bench.Fixtures = Bench.Fixtures.scale(spark, sf, root, 2)

  private def batches(fx: Bench.Fixtures): Seq[(String, DataFrame)] = Seq(
    "b2 liSource" -> fx.liSource,
    "b7 batch" -> fx.b7Batch,
    "b12 fact batch" -> fx.b12FactBatch,
    "b12 dim batch" -> fx.b12DimBatch,
    "b13 fact batch" -> fx.b13FactBatch,
    "b15 dim moves" -> fx.b15DimMoves,
    "b15 dim births" -> fx.b15DimBirths,
    "b15 dim deaths" -> fx.customer.filter(fx.b15DimDeaths))

  test("every churn batch selects rows under the driver and the scale fixtures") {
    for {
      (set, fx) <- Seq("driver" -> driver, "scale rep 2" -> rep2)
      (batch, df) <- batches(fx)
    } assert(!df.isEmpty, s"$set: $batch selects no row")
  }

  test("scale fixtures replicate the tables; the band-0 source is the same at every rep") {
    val n = driver.li.count()
    assert(rep1.li.count() == n && rep2.li.count() == 2 * n)
    assert(rep2.orders.count() == 2 * driver.orders.count())
    assert(rep2.customer.count() == 2 * driver.customer.count())
    assert(rep2.docs.count() == 2 * driver.docs.count())
    def sameMultiset(a: DataFrame, b: DataFrame): Boolean =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    assert(sameMultiset(rep1.liSource, rep2.liSource), "rep 2 applies a different change")
    assert(sameMultiset(driver.liSource, rep1.liSource), "rep 1 differs from the raw tables")
  }
}
