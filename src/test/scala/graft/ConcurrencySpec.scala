package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors}

import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit, udf, when}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.Dedup
import graft.lake.{Commit, CommitConflictException, CommitLog, LakeTable, TableSpec}

/** Optimistic concurrency: version claims are exclusive, losing writers
  * rebase and rerun, and idempotent-transaction stamps make replayed
  * batches no-ops (the multi-writer + exactly-once story: Delta's commit
  * protocol and txnAppId/txnVersion, Hudi's OCC).
  */
class ConcurrencySpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  def seedTable(tag: String): String = {
    import spark.implicits._
    val path = Files.createTempDirectory(s"graft_occ_$tag").toString
    LakeTable.create(spark, path, TableSpec("k", "ts", None),
      Seq((0L, 0L, "seed")).toDF("k", "ts", "v"))
    path
  }

  test("a commit version can be claimed exactly once") {
    val path = Files.createTempDirectory("graft_occ_claim").toString
    val conf = spark.sessionState.newHadoopConf()
    val schema = new StructType().add("k", "long").add("ts", "long")
    val boot = Commit(0L, "20260101000000000", "create", schema.json,
      TableSpec("k", "ts", None), Seq.empty, Seq.empty)
    CommitLog.write(path, boot, conf)
    val e = intercept[CommitConflictException] {
      CommitLog.write(path, boot.copy(operation = "other"), conf)
    }
    assert(e.version == 0L)
    // the loser's staged tmp must not linger next to the log
    val logDir = CommitLog.logDir(path)
    val fs = logDir.getFileSystem(conf)
    val leftovers = fs.listStatus(logDir).map(_.getPath.getName).filter(_.endsWith(".tmp"))
    assert(leftovers.isEmpty, s"staged tmp files not cleaned: ${leftovers.mkString(",")}")
  }

  test("racing upserts all land: serialized versions, no lost updates") {
    import spark.implicits._
    val path = seedTable("race")
    val writers = 4
    val perWriter = 2
    val pool = Executors.newFixedThreadPool(writers)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val start = new CountDownLatch(1)
    val futs = (0 until writers).map { w =>
      Future {
        start.await()
        val t = LakeTable.load(spark, path) // separate handle per writer
        (0 until perWriter).foreach { i =>
          t.upsert(Seq((1000L * (w + 1) + i, 1L, s"w$w-$i")).toDF("k", "ts", "v"))
        }
      }
    }
    start.countDown()
    Await.result(Future.sequence(futs), 600.seconds)
    pool.shutdown()
    val t = LakeTable.load(spark, path)
    val keys = t.read().select("k").as[Long].collect().toSet
    assert(keys.size == 1 + writers * perWriter, "every writer's rows must survive")
    assert(t.latestVersion == writers * perWriter.toLong,
      "each upsert claims its own version — fully serialized")
    // every version parses and the live set is consistent
    assert(t.commits.size == writers * perWriter + 1)
  }

  // Writer A's batch filter runs writer B's whole upsert the first time a
  // job evaluates it, so B commits while A's attempt is between reading
  // the table and claiming its version. A must notice, rerun on B's state
  // and win on precombine — never rewrite the files it read before B.
  Seq(false, true).foreach { mor =>
    test(s"a commit landing mid-attempt reruns the attempt (${if (mor) "MoR" else "CoW"})") {
      import spark.implicits._
      val path = Files.createTempDirectory(s"graft_occ_midattempt_$mor").toString
      LakeTable.create(spark, path, TableSpec("k", "ts", None, mor = mor),
        (0L until 20L).map(k => (k, 0L, "seed")).toDF("k", "ts", "v"))
      RaceHook.arm { () =>
        LakeTable.load(spark, path)
          .upsert(Seq((5L, 1L, "B"), (100L, 1L, "B")).toDF("k", "ts", "v"))
        ()
      }
      // from a range, not a local Seq: the optimizer evaluates a filter over
      // local rows itself, which would fire the hook before any job runs
      val race = udf((_: Long) => RaceHook.fire()).asNondeterministic()
      val batchA = spark.range(2)
        .select(when(col("id") === 0, 5L).otherwise(100L).as("k"),
          lit(2L).as("ts"), lit("A").as("v"))
        .filter(race(col("k")))
      val a = LakeTable.load(spark, path)
      a.upsert(batchA)
      assert(RaceHook.ran(), "writer B never ran")
      val rows = a.read().select("k", "ts", "v").as[(Long, Long, String)].collect()
      assert(rows.length == 21, s"rows: ${rows.sorted.mkString(",")}")
      assert(rows.map(_._1).distinct.length == rows.length, "duplicate keys")
      assert(rows.filter(r => r._1 == 5L || r._1 == 100L).map(r => r._1 -> r._2).toMap ==
        Map(5L -> 2L, 100L -> 2L))
    }
  }

  // Writer A's dedup batch runs writer B's whole incremental dedup the
  // first time a job evaluates it, so B indexes the shared content while
  // A's attempt is between probing the index and committing. A must rerun
  // its probe on B's commit: the content survives for B only, and the
  // index keeps B's id.
  test("racing incremental dedups keep shared content once, for the writer that committed it") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_occ_dedup").toString
    LakeTable.create(spark, dir, TableSpec("fingerprint", "doc_id", bloomBitsPerKey = 10),
      Dedup.copyCounts(Seq((1L, "seed document")).toDF("doc_id", "text"))
        .select(col("fingerprint"), col("keep_id").cast("long").as("doc_id")))
    val shared = "content both writers land"
    @volatile var survivorsB = Set.empty[Long]
    RaceHook.arm(() => {
      survivorsB = Dedup.incrementalDedup(LakeTable.load(spark, dir),
          Seq((10L, shared)).toDF("doc_id", "text"))
        .select("doc_id").as[Long].collect().toSet
      ()
    }, until = () => LakeTable.load(spark, dir).latestVersion >= 1)
    val race = udf((_: Long) => RaceHook.fire()).asNondeterministic()
    val batchA = spark.range(2)
      .select((col("id") + 20L).as("doc_id"),
        when(col("id") === 0, shared).otherwise("content only A lands").as("text"))
      .filter(race(col("doc_id")))
    val survivorsA = Dedup.incrementalDedup(LakeTable.load(spark, dir), batchA)
      .select("doc_id").as[Long].collect().toSet
    assert(RaceHook.ran(), "writer B never ran")
    assert(survivorsB == Set(10L))
    assert(survivorsA == Set(21L), s"A's survivors: $survivorsA")
    val index = LakeTable.load(spark, dir).read()
    assert(index.select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 10L, 21L))
    assert(index.select("fingerprint").distinct().count() == 3)
  }

  test("a restore losing a race never deletes historical files") {
    import spark.implicits._
    val path = seedTable("restore_race")
    val t = LakeTable.load(spark, path)
    (1 to 3).foreach(i => t.upsert(Seq((i.toLong, 1L, s"v$i")).toDF("k", "ts", "v")))
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val start = new CountDownLatch(1)
    // restore re-ADDS old files; if it loses the commit race, the conflict
    // cleanup must not touch those historical dirs (only its own write-id)
    val restorer = Future { start.await(); LakeTable.load(spark, path).restore(1) }
    val writer = Future {
      start.await()
      val w = LakeTable.load(spark, path)
      (10 to 14).foreach(i => w.upsert(Seq((i.toLong, 1L, s"w$i")).toDF("k", "ts", "v")))
    }
    start.countDown()
    Await.result(Future.sequence(Seq(restorer, writer)), 600.seconds)
    pool.shutdown()
    val t2 = LakeTable.load(spark, path)
    // every historical version must still be fully readable — a deleted
    // committed file would surface as FileNotFound here
    (0L to t2.latestVersion).foreach { v =>
      assert(t2.read(Some(v)).count() >= 0, s"version $v unreadable")
    }
  }

  test("vacuum spares young orphan attempt dirs (in-flight writers), sweeps stale ones") {
    import spark.implicits._
    val path = seedTable("vac_orphan")
    val t = LakeTable.load(spark, path)
    t.upsert(Seq((5L, 1L, "x")).toDF("k", "ts", "v")) // creates superseded files
    // simulate a concurrent writer's in-flight (uncommitted) attempt dir
    val orphanDir = new java.io.File(s"$path/data/_v=999999999")
    orphanDir.mkdirs()
    val orphan = new java.io.File(orphanDir, "part-inflight.parquet")
    java.nio.file.Files.write(orphan.toPath, Array[Byte](1, 2, 3))
    t.vacuum(retainVersions = 1) // default 1h orphan grace
    assert(orphan.exists, "a YOUNG never-committed file must survive vacuum " +
      "(it may be a concurrent writer's in-flight attempt)")
    Thread.sleep(20) // put the orphan's mtime safely behind a zero grace
    t.vacuum(retainVersions = 1, orphanGraceHours = 0.0)
    assert(!orphan.exists, "past the grace period the orphan is swept")
    // superseded (ever-committed) files still go immediately
    val all = t.commits.flatMap(_.add).map(_.path).toSet
    val live = t.read().count()
    assert(live == 2)
    assert(all.nonEmpty)
  }

  test("idempotent txn: replayed batch is a no-op, newer version applies") {
    import spark.implicits._
    val path = seedTable("txn")
    val t = LakeTable.load(spark, path)
    t.upsert(Seq((1L, 1L, "a")).toDF("k", "ts", "v"), txn = Some("app" -> 1L))
    val v1 = t.latestVersion
    assert(t.txnVersion("app").contains(1L))
    // exact replay (crash-before-checkpoint rerun): suppressed
    t.upsert(Seq((1L, 1L, "a-replay")).toDF("k", "ts", "v"), txn = Some("app" -> 1L))
    assert(t.latestVersion == v1, "same (appId, version) must not commit twice")
    assert(t.read().filter("k = 1").select("v").as[String].head() == "a")
    // stale version (late duplicate): suppressed too
    t.upsert(Seq((9L, 1L, "stale")).toDF("k", "ts", "v"), txn = Some("app" -> 0L))
    assert(t.latestVersion == v1)
    // the next batch applies, and an unrelated app is independent
    t.upsert(Seq((2L, 1L, "b")).toDF("k", "ts", "v"), txn = Some("app" -> 2L))
    t.upsert(Seq((3L, 1L, "c")).toDF("k", "ts", "v"), txn = Some("other" -> 1L))
    assert(t.latestVersion == v1 + 2)
    assert(t.txnVersion("app").contains(2L))
    assert(t.txnVersion("other").contains(1L))
  }

  test("streaming sink replay of a micro-batch id is a no-op") {
    import spark.implicits._
    val path = seedTable("sink")
    val params = Map("path" -> path, "key" -> "k", "precombine" -> "ts",
      "checkpointLocation" -> s"$path/_ckpt")
    val sink = new graft.sources.GraftDataSource()
      .createSink(spark.sqlContext, params, Nil, OutputMode.Append())
    val t = LakeTable.load(spark, path)
    val v0 = t.latestVersion
    sink.addBatch(0, Seq((10L, 1L, "x")).toDF("k", "ts", "v"))
    assert(t.latestVersion == v0 + 1)
    sink.addBatch(0, Seq((10L, 1L, "x-replay")).toDF("k", "ts", "v")) // restart replay
    assert(t.latestVersion == v0 + 1, "replayed batch 0 must not re-commit")
    sink.addBatch(1, Seq((11L, 1L, "y")).toDF("k", "ts", "v"))
    assert(t.latestVersion == v0 + 2)
    assert(t.read().filter("k = 10").select("v").as[String].head() == "x")
  }
}

/** The racing writer for ConcurrencySpec's mid-attempt tests: the first
  * [[fire]] (from inside a Spark task) runs the armed writer on a thread
  * of its own and waits for it to end, or only until `landed` holds — a
  * writer that persists a frame must not finish inside the task whose job
  * is building another persisted frame (its unpersist would wait for that
  * build's lock). */
object RaceHook {
  private val fired = new java.util.concurrent.atomic.AtomicBoolean(true)
  @volatile private var writer: () => Unit = () => ()
  @volatile private var landed: () => Boolean = () => false
  @volatile private var thread: Option[Thread] = None
  @volatile private var failure: Option[Throwable] = None

  def arm(w: () => Unit, until: () => Boolean = () => false): Unit = {
    writer = w; landed = until; thread = None; failure = None; fired.set(false)
  }

  def fire(): Boolean = {
    if (fired.compareAndSet(false, true)) {
      val t = new Thread(() =>
        try writer() catch { case e: Throwable => failure = Some(e) })
      thread = Some(t)
      t.start()
      while (t.isAlive && failure.isEmpty && !landed()) t.join(50)
    }
    true
  }

  /** Did the armed writer run to completion? Waits for it and rethrows its
    * failure. */
  def ran(): Boolean = {
    thread.foreach(_.join(600000))
    failure.foreach(e => throw e)
    fired.get && thread.forall(!_.isAlive)
  }
}
