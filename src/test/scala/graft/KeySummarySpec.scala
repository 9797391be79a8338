package graft

import java.nio.file.Files

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{FileAction, LakeTable, TableSpec}

/** The keyed write's key summary: one bounded driver-side set of the
  * batch's record identities drives candidate pruning, touched-file
  * detection and the contested split. Its prune decisions must equal the
  * distributed aggregate's (Spark's own orderings), a batch past the cap
  * must write exactly what the same change split under the cap writes, and
  * a small CoW upsert and an incremental dedup batch stay inside their
  * Spark-job budgets. */
class KeySummarySpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft_keysum").toString

  /** Files whose recorded key range overlaps the batch's, with the batch's
    * (min, max) from a Spark aggregate — the cast-to-string compare in
    * UTF-8 byte order, numeric keys as doubles. */
  private def overlapping(live: Seq[FileAction], batch: DataFrame,
      numeric: Boolean): Seq[FileAction] = {
    val k = col("k").cast(if (numeric) "double" else "string")
    val r = batch.agg(min(k), max(k)).head()
    live.filter { a =>
      if (numeric) a.minKey.toDouble <= r.getDouble(1) && a.maxKey.toDouble >= r.getDouble(0)
      else UTF8String.fromString(a.minKey).compareTo(UTF8String.fromString(r.getString(1))) <= 0 &&
        UTF8String.fromString(a.maxKey).compareTo(UTF8String.fromString(r.getString(0))) >= 0
    }
  }

  private def rows(t: LakeTable, cols: String*): Set[Seq[Any]] =
    t.read().select(cols.map(col): _*).collect().map(_.toSeq).toSet

  test("summary pruning equals the aggregate's: UTF-8 string order, Long keys, null partition") {
    // string keys whose UTF-16 and UTF-8 orders differ: U+FF61 sorts after
    // U+1F600 (a surrogate pair) in UTF-16 but before it in UTF-8, the
    // order of Spark's min/max and of the parquet stats; U+E000 lies
    // between them in UTF-16 only
    val st = LakeTable.create(spark, tmp(), TableSpec("k", "ver"),
      Seq(("a", 1L), ("b", 1L)).toDF("k", "ver").coalesce(1))
    Seq("\uE000", "\uFF61", "\uD83D\uDE00")
      .foreach(k => st.upsert(Seq((k, 1L)).toDF("k", "ver")))
    val sBatch = Seq(("\uFF61", 2L), ("\uD83D\uDE00", 2L)).toDF("k", "ver")
    val sWant = overlapping(st.liveFiles(None), sBatch, numeric = false)
    assert(sWant.nonEmpty && sWant.size < st.liveFiles(None).size)
    st.upsert(sBatch)
    assert(st.lastPrunedCandidates == sWant.size)
    assert(st.read().count() == 5)
    assert(rows(st, "k", "ver") == Set(Seq("a", 1L), Seq("b", 1L), Seq("\uE000", 1L),
      Seq("\uFF61", 2L), Seq("\uD83D\uDE00", 2L)))

    // Long keys over four range files; the batch spans the middle two
    val lt = LakeTable.create(spark, tmp(), TableSpec("k", "ver"),
      spark.range(0, 400, 1, 4).select(col("id").as("k"), lit(1L).as("ver")),
      bulkInsert = true)
    val lBatch = Seq((150L, 2L), (260L, 2L), (1000L, 2L)).toDF("k", "ver")
    val lWant = overlapping(lt.liveFiles(None), lBatch, numeric = true)
    assert(lWant.size == 3)
    lt.upsert(lBatch)
    assert(lt.lastPrunedCandidates == lWant.size)
    assert(lt.read().count() == 401)
    assert(lt.read().filter(col("ver") === 2L).count() == 3)

    // partitioned, with a null partition value: only the batch's
    // partitions (null as the Hive default partition) stay candidates
    val pt = LakeTable.create(spark, tmp(), TableSpec("k", "ver", partition = Some("p")),
      Seq((1L, 1L, "x"), (3L, 1L, "y"), (3L, 1L, null), (4L, 1L, "x"))
        .toDF("k", "ver", "p"))
    val pBatch = Seq((3L, 2L, null), (4L, 2L, "x")).toDF("k", "ver", "p")
    val parts = Set("__HIVE_DEFAULT_PARTITION__", "x")
    val pWant = overlapping(pt.liveFiles(None), pBatch, numeric = true)
      .filter(_.partitionValue.forall(parts.contains))
    assert(pWant.nonEmpty && pWant.size < pt.liveFiles(None).size)
    pt.upsert(pBatch)
    assert(pt.lastPrunedCandidates == pWant.size)
    assert(rows(pt, "k", "ver", "p") ==
      Set(Seq(1L, 1L, "x"), Seq(3L, 1L, "y"), Seq(3L, 2L, null), Seq(4L, 2L, "x")))
  }

  test("the bounded distinct set is exact under the cap and None past it, the driver's share bounded") {
    val starts = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { starts.add(j); () }
    }
    def keys(df: DataFrame, cap: Int) = LakeTable.boundedDistinct(df, cap).map(_.map(_.getLong(0)).toSet)
    // the tasks of each call's last stage: the ones whose results reach the driver
    def driverTasks(body: => Unit): Seq[Int] = {
      starts.clear()
      spark.sparkContext.addSparkListener(l)
      try {
        body
        var last = -1
        while (starts.size != last) { last = starts.size; Thread.sleep(300) }
      } finally spark.sparkContext.removeSparkListener(l)
      starts.toArray(Array.empty[SparkListenerJobStart]).toSeq
        .map(_.stageInfos.maxBy(_.stageId).numTasks)
    }
    // duplicates across 3 partitions: 3 x cap fits the driver's share, so
    // the driver unions the 3 sets itself
    val dup = spark.range(0, 3000, 1, 3).select((col("id") % 1000).as("k"))
    assert(driverTasks {
      assert(keys(dup, 1000) == Some((0L until 1000L).toSet))
      assert(keys(dup, 999).isEmpty)
    } == Seq(3, 3))
    // 40 partitions of 200 distinct keys each, every partition under the
    // cap and only their union past it: 40 x cap passes the driver's share,
    // so one executor task unions the sets and only its result is shipped
    val many = spark.range(0, 8000, 1, 40).select(col("id").as("k"))
    val cap = LakeTable.KEY_SUMMARY_CAP / 40 + 1
    assert(driverTasks {
      assert(keys(many, 8000) == Some((0L until 8000L).toSet))
      assert(keys(many, cap).isEmpty)
    } == Seq(1, 1))
  }

  test("a narrower key frame is cast to the table's key type (bloom-indexed BIGINT key)") {
    val t = LakeTable.create(spark, tmp(), TableSpec("k", "ver", bloomBitsPerKey = 10),
      spark.range(0, 40, 1, 2).select(col("id").as("k"), lit(1L).as("ver")), bulkInsert = true)
    assert(t.containsKeys(Seq(15, 99).toDF("k")).select(col("k").cast("long")).as[Long]
      .collect().toSet == Set(15L))
    t.deleteKeys(Seq(15).toDF("k"))
    assert(t.read().count() == 39 && t.read().filter(col("k") === 15L).isEmpty)
    // (key, partition) frame: the identity set is a struct of the table's types
    val pt = LakeTable.create(spark, tmp(),
      TableSpec("k", "ver", partition = Some("p"), bloomBitsPerKey = 10),
      Seq((1L, 1L, "x"), (2L, 1L, "x"), (2L, 1L, "y")).toDF("k", "ver", "p"))
    pt.deleteKeys(Seq((2, "x")).toDF("k", "p"))
    assert(rows(pt, "k", "p") == Set(Seq(1L, "x"), Seq(2L, "y")))
  }

  test("a batch past the literal-set cap writes what the change split under it writes") {
    val cap = LakeTable.KEY_SET_LITERAL_CAP
    // without key blooms the summary caps at `cap` and goes wide past it;
    // with them it stays bounded and joins its distributed frame
    def base(bloom: Int): LakeTable = LakeTable.create(spark, tmp(),
      TableSpec("k", "ver", bloomBitsPerKey = bloom),
      spark.range(0, 4000, 1, 4).select(col("id").as("k"), lit(1L).as("ver")),
      bulkInsert = true)
    // updates in the first and third range files, then fresh keys up to cap + 1
    val updates = Seq(10L, 20L, 2010L)
    val change = spark.range(0, cap + 1 - updates.size)
      .select((col("id") + 1000000L).as("k"), lit(2L).as("ver"))
      .union(updates.toDF("k").withColumn("ver", lit(2L)))
    // the base files holding an updated key, as (path -> key range)
    def homes(t: LakeTable): Map[String, (String, String)] = t.liveFiles(None)
      .filter(a => updates.exists(k => a.minKey.toLong <= k && k <= a.maxKey.toLong))
      .map(a => a.path -> (a.minKey, a.maxKey)).toMap
    val split = base(0)
    val splitHomes = homes(split)
    assert(splitHomes.size == 2)
    split.upsert(change.filter(col("k") < 1000000L + cap / 2 && col("k") =!= 2010L))
    split.upsert(change.filter(col("k") >= 1000000L + cap / 2 || col("k") === 2010L))
    assert(split.commits.takeRight(2).flatMap(_.remove).toSet == splitHomes.keySet)
    val s = split.read().select("k", "ver")
    assert(s.count() == 4000 + cap + 1 - updates.size)
    Seq(0, 10).foreach { bloom =>
      val whole = base(bloom)
      val wholeHomes = homes(whole)
      whole.upsert(change)
      val w = whole.read().select("k", "ver")
      assert(w.exceptAll(s).isEmpty && s.exceptAll(w).isEmpty, s"bloomBitsPerKey=$bloom")
      // the same two base files are removed, in one commit or across two
      assert(whole.commits.last.remove.toSet == wholeHomes.keySet)
      assert(wholeHomes.values.toSet == splitHomes.values.toSet)
    }
  }

  /** The Spark jobs `body` starts, counted once the listener bus settles. */
  private def jobsOf(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      var last = -1
      while (n.get() != last) { last = n.get(); Thread.sleep(300) }
    } finally spark.sparkContext.removeSparkListener(l)
    n.get()
  }

  test("a small CoW upsert runs at most 4 Spark jobs") {
    val t = LakeTable.create(spark, tmp(), TableSpec("k", "ver"),
      spark.range(0, 100, 1, 2).select(col("id").as("k"), lit(1L).as("ver"), col("id").as("v")),
      bulkInsert = true)
    val batch = Seq((5L, 2L, -5L), (60L, 2L, -60L), (500L, 2L, -500L)).toDF("k", "ver", "v")
    val n = jobsOf(t.upsert(batch))
    assert(n <= 4, s"a 3-row CoW upsert must run at most 4 jobs, ran $n")
    assert(t.read().count() == 101)
    assert(t.read().filter(col("ver") === 2L).select("k", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == Set((5L, -5L), (60L, -60L), (500L, -500L)))
  }

  test("an incremental dedup batch probes and inserts in at most 9 Spark jobs, one version each") {
    import graft.ext.Dedup
    // a fingerprint index over the even half of 40 documents, unpartitioned
    // and partitioned by a generated shard column, whose write pays one
    // more exchange: writeFiles repartitions the rows by the partition
    val indexed = (0 until 40).filter(_ % 2 == 0).map(i => (i.toLong, s"document $i"))
      .toDF("doc_id", "text")
    val seed = Dedup.copyCounts(indexed)
      .select(col("fingerprint"), col("keep_id").cast("long").as("doc_id"))
    val specs = Seq(TableSpec("fingerprint", "doc_id", bloomBitsPerKey = 10) -> 9,
      TableSpec("fingerprint", "doc_id", partition = Some("shard"), bloomBitsPerKey = 10,
        generated = Map("shard" -> "substring(fingerprint, 1, 1)")) -> 10)
    specs.foreach { case (spec, budget) =>
      val index = LakeTable.create(spark, tmp(), spec, seed)
      // each batch: two new contents, a within-batch copy of one of them,
      // an indexed document and document 5, new in batch 0 only; read from
      // a landed file as a real batch is
      val survivors = Seq(0, 1).map { b =>
        val dir = tmp() + "/batch"
        Seq((1000L * b + 1, s"fresh $b one"), (1000L * b + 2, s"fresh $b two"),
          (1000L * b + 3, s"fresh $b one"), (1000L * b + 4, "document 4"),
          (1000L * b + 5, "document 5")).toDF("doc_id", "text").coalesce(1).write.parquet(dir)
        val (batch, v) = (spark.read.parquet(dir), index.latestVersion)
        var out: DataFrame = null
        val n = jobsOf { out = Dedup.incrementalDedup(index, batch) }
        assert(n <= budget, s"${spec.partition}: batch $b ran $n jobs, want at most $budget")
        assert(index.latestVersion == v + 1, s"${spec.partition}: batch $b committed " +
          s"${index.latestVersion - v} versions")
        out.select("doc_id").as[Long].collect().toSet
      }
      assert(survivors == Seq(Set(1L, 2L, 5L), Set(1001L, 1002L)), s"${spec.partition}")
      val fps = index.read().select("fingerprint")
      assert(fps.count() == 25 && fps.distinct().count() == 25, s"${spec.partition}")
    }
  }
}
