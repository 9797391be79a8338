package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.{TextAnalysis, TextIndex}

/** Persisted incremental inverted index: build-once postings on lake
  * tables, incremental adds and replacements, probe-pruned exact-integer
  * BM25 equal to the direct corpus-scan scoring. */
class TextIndexSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private def docs: DataFrame = spark.read.parquet(s"$sf/documents.parquet")
  private def tmp(): String = Files.createTempDirectory("graft_tix").toString

  private val terms = Seq("join", "window", "dup")

  private def rows(df: DataFrame) =
    df.orderBy(col("bm25_score").desc, col("doc_id").asc).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  test("indexed search ≡ direct corpus-scan BM25, and the scan is bucket-pruned") {
    val path = tmp()
    val ix = TextIndex.build(spark, path, docs)
    val (pruned, total) = ix.prunedFileCounts(terms)
    assert(pruned > 0 && pruned < total,
      s"term-bucket pruning must skip files: opened $pruned of $total")
    assert(rows(ix.search(terms, topK = 20)) ==
      rows(TextAnalysis.bm25(docs, terms, topK = 20)))
    // reload serves identically (the index is pure table state)
    assert(rows(TextIndex.load(spark, path).search(terms, topK = 20)) ==
      rows(TextAnalysis.bm25(docs, terms, topK = 20)))
  }

  test("incremental add: build on half, add the rest ≡ full-corpus scoring") {
    val path = tmp()
    val ix = TextIndex.build(spark, path, docs.filter(col("doc_id") % 2 === 0))
    ix.add(docs.filter(col("doc_id") % 2 === 1))
    assert(rows(ix.search(terms, topK = 20)) ==
      rows(TextAnalysis.bm25(docs, terms, topK = 20)))
  }

  test("lake maintenance composes: optimized postings serve identical, still-pruned results") {
    val path = tmp()
    val ix = TextIndex.build(spark, path, docs.filter(col("doc_id") % 2 === 0))
    ix.add(docs.filter(col("doc_id") % 2 === 1)) // second wave → more files
    val before = rows(ix.search(terms, topK = 20))
    val pt = graft.lake.LakeTable.load(spark, s"$path/postings")
    val filesBefore = pt.liveFiles(None).size
    pt.optimize()
    assert(pt.liveFiles(None).size < filesBefore,
      "optimize must concatenate the add's small files")
    assert(rows(TextIndex.load(spark, path).search(terms, topK = 20)) == before,
      "search must be unchanged by compaction")
    val (p, tot) = ix.prunedFileCounts(terms)
    assert(p > 0 && p < tot, s"bucket pruning must survive compaction: $p/$tot")
  }

  test("concurrent adds of disjoint batches both land — no counter state to lose") {
    import java.util.concurrent.{CountDownLatch, Executors}
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val path = tmp()
    TextIndex.build(spark, path, docs.filter(col("doc_id") < 100))
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val start = new CountDownLatch(1)
    val futs = Seq(0, 1).map { par =>
      Future {
        start.await()
        TextIndex.load(spark, path).add(
          docs.filter(col("doc_id") >= 100 && col("doc_id") < 200 &&
            col("doc_id") % 2 === par))
      }
    }
    start.countDown()
    Await.result(Future.sequence(futs), 600.seconds)
    pool.shutdown()
    val full = docs.filter(col("doc_id") < 200)
    assert(rows(TextIndex.load(spark, path).search(terms, topK = 20)) ==
      rows(TextAnalysis.bm25(full, terms, topK = 20)),
      "after racing disjoint adds the index must equal a fresh full build")
  }

  test("replacement: re-added doc ≡ fresh build over the updated corpus") {
    val path = tmp()
    val ix = TextIndex.build(spark, path, docs)
    // rewrite one doc entirely: terms vanish, length changes, and one
    // query term gets a heavy tf — every replacement path fires
    val victim = docs.select(min("doc_id")).head().getLong(0)
    val newText = "join join join window brand new words"
    val updated = Seq((victim, newText)).toDF("doc_id", "text")
    ix.add(updated)
    val corpus2 = docs.filter(col("doc_id") =!= victim)
      .select("doc_id", "text").unionByName(updated)
    assert(rows(ix.search(terms, topK = 20)) ==
      rows(TextAnalysis.bm25(corpus2, terms, topK = 20)),
      "index after replacement must equal a fresh build over the new corpus")
    // the BM25 corpus scalars still come from commit-log metadata (the
    // exactness gate survives the replacement's delete + upsert rewrites)
    val dt = graft.lake.LakeTable.load(spark, s"$path/docs")
    assert(graft.sql.GraftMetadataOnlyCount.answer(dt.snapshot(),
      Seq(graft.sql.GraftMetadataOnlyCount.WantSum("dl", org.apache.spark.sql.types.LongType)),
      None, None).isDefined,
      "docs-table dl sums must stay metadata-exact after replacement")
    // vanished terms truly left the postings
    val old = docs.filter(col("doc_id") === victim).select("text").head().getString(0)
    val goneTerm = old.trim.split("\\s+").find(t => !newText.contains(t))
    goneTerm.foreach { t =>
      val hit = graft.lake.LakeTable.load(spark, s"$path/postings").read()
        .filter(col("doc_id") === victim && col("term") === t)
      assert(hit.isEmpty, s"posting ($t, $victim) must be deleted")
    }
  }
}
