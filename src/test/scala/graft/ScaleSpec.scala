package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.Skew
import graft.lake.{CommitLog, LakeTable, TableSpec}

/** Scale-machinery tests: commit-log checkpointing and salted joins. */
class ScaleSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  test("checkpoint written every 10 commits; snapshots and time travel stay correct") {
    val path = Files.createTempDirectory("graft_ckpt").toString
    val t = LakeTable.create(spark, path, TableSpec("k", "pc"),
      Seq((1, 1L, "a"), (2, 1L, "b")).toDF("k", "pc", "payload"))
    (1 to 12).foreach { i =>
      t.upsert(Seq((1, i + 1L, s"v$i"), (100 + i, 1L, s"new$i")).toDF("k", "pc", "payload"))
    }
    val conf = spark.sessionState.newHadoopConf()
    assert(CommitLog.listCheckpoints(path, conf) == Seq(10L),
      "one checkpoint at version 10")
    // latest state resolves through checkpoint + tail
    val latest = t.read().select("k", "payload").collect().map(r => (r.getInt(0), r.getString(1))).toMap
    assert(latest(1) == "v12" && latest.size == 14)
    // time travel before the checkpoint replays the prefix
    assert(t.read(Some(3)).count() == 5)
    // checkpointed live set == full replay live set
    val viaCp = CommitLog.liveFiles(path, None, conf).map(_.path).toSet
    val full = CommitLog.snapshotFiles(t.commits).map(_.path).toSet
    assert(viaCp == full)
  }

  test("columnar checkpoint: parquet form, JSON-prefix truncation, 10k-file round-trip") {
    val path = Files.createTempDirectory("graft_ckpt_pq").toString
    val t = LakeTable.create(spark, path, TableSpec("k", "pc"),
      Seq((1, 1L, "a"), (2, 1L, "b")).toDF("k", "pc", "payload"))
    (1 to 12).foreach { i =>
      t.upsert(Seq((1, i + 1L, s"v$i"), (100 + i, 1L, s"new$i")).toDF("k", "pc", "payload"))
    }
    val log = new java.io.File(path, "_graft_log")
    assert(new java.io.File(log, "00000000000000000010.checkpoint.parquet").isDirectory,
      "checkpoints must be columnar (parquet) when a SparkSession is active")
    // Delta-style log truncation: once the checkpoint exists, the JSON
    // commits BEFORE it are not consulted for latest-snapshot resolution —
    // delete them and the table still reads (one parquet + a 2-commit tail)
    (0 to 9).foreach { v =>
      assert(new java.io.File(log, f"$v%020d.json").delete())
    }
    val latest = LakeTable.load(spark, path).read().select("k", "payload")
      .collect().map(r => (r.getInt(0), r.getString(1))).toMap
    assert(latest(1) == "v12" && latest.size == 14)

    // every FileAction field survives a columnar round-trip at 10k files
    val conf = spark.sessionState.newHadoopConf()
    val dir2 = Files.createTempDirectory("graft_ckpt_rt").toString
    val synthetic = (0 until 10000).map { i =>
      graft.lake.FileAction(
        path = s"_v=7/part-$i.parquet", log = i % 17 == 0, rows = i.toLong,
        minKey = i.toString, maxKey = (i + 1).toString, numericKey = true,
        partitionValue = if (i % 3 == 0) Some(s"p${i % 5}") else None,
        base = if (i % 999 == 0) Some("/elsewhere") else None,
        tombstone = i % 2000 == 0,
        colStats = Map("c" -> ((s"a$i", s"b$i"))),
        dv = if (i % 100 == 0) Some(s"dv/$i") else None, dvRows = i % 4,
        bytes = 123L + i, colSums = Map("s" -> ((i.toString, i.toLong))))
    }
    CommitLog.writeParquetCheckpoint(dir2, 20L, synthetic, conf, spark)
    assert(CommitLog.listCheckpoints(dir2, conf) == Seq(20L))
    assert(CommitLog.readCheckpoint(dir2, 20L, conf) == synthetic,
      "columnar checkpoint must round-trip every field and preserve order")
  }

  test("concurrent-writer guard: duplicate commit version is rejected") {
    val path = Files.createTempDirectory("graft_cc").toString
    LakeTable.create(spark, path, TableSpec("k", "pc"),
      Seq((1, 1L, "a")).toDF("k", "pc", "payload"))
    val conf = spark.sessionState.newHadoopConf()
    val c0 = CommitLog.read(path, 0L, conf)
    val e = intercept[graft.lake.CommitConflictException] {
      CommitLog.write(path, c0, conf) // same version again
    }
    assert(e.version == 0L)
  }

  test("incremental query returns exactly the rows committed after a version") {
    val path = Files.createTempDirectory("graft_inc").toString
    val t = LakeTable.create(spark, path, TableSpec("k", "pc"),
      Seq((1, 1L, "a"), (2, 1L, "b"), (3, 1L, "c")).toDF("k", "pc", "payload"))
    t.upsert(Seq((2, 2L, "b2"), (4, 1L, "d")).toDF("k", "pc", "payload")) // v1
    t.upsert(Seq((5, 1L, "e"), (1, 3L, "a3")).toDF("k", "pc", "payload")) // v2
    def inc(since: Long, asOf: Option[Long] = None): Set[(Int, String)] =
      t.incremental(since, asOf).select("k", "payload").collect()
        .map(r => (r.getInt(0), r.getString(1))).toSet
    assert(inc(0) == Set((2, "b2"), (4, "d"), (5, "e"), (1, "a3")), "all changes since create")
    assert(inc(1) == Set((5, "e"), (1, "a3")), "only v2's changes")
    assert(inc(0, Some(1)) == Set((2, "b2"), (4, "d")), "bounded incremental window")
    assert(inc(2).isEmpty, "nothing after the latest version")
  }

  test("clustered compaction yields near-disjoint per-file key ranges") {
    val path = Files.createTempDirectory("graft_cluster").toString
    val rnd = new scala.util.Random(11)
    val rows = (1 to 20000).map(i => (rnd.nextInt(1000000), i.toLong, s"v$i"))
    val t = LakeTable.create(spark, path, TableSpec("k", "pc"), rows.toDF("k", "pc", "payload"))
    t.compact(clusterByKey = true, targetFiles = 6)
    val conf = spark.sessionState.newHadoopConf()
    val files = CommitLog.liveFiles(path, None, conf)
      .map(a => (a.minKey.toDouble, a.maxKey.toDouble)).sortBy(_._1)
    assert(files.size > 1, "expect multiple files to check ranges")
    files.sliding(2).foreach {
      case Seq((_, hi1), (lo2, _)) => assert(hi1 <= lo2, s"overlapping ranges: $files")
      case _ =>
    }
  }

  test("partitioned upsert rewrites only the touched partition's files") {
    val path = Files.createTempDirectory("graft_prune").toString
    val base = (1 to 3000).map(i => (i, 1L, i % 3, s"v$i")).toDF("k", "pc", "part", "payload")
    val t = LakeTable.create(spark, path, TableSpec("k", "pc", partition = Some("part")), base)
    // every op below hits keys that all live in partition 0
    def rewritesOnlyPart0(op: String): Unit = {
      val c = t.commits.last
      assert(c.operation == op)
      assert(c.remove.nonEmpty, s"$op removed no file")
      assert(c.remove.forall(_.contains("part=0")),
        s"$op may rewrite only partition 0 files, got ${c.remove}")
    }
    t.upsert(Seq((3, 2L, 0, "x"), (6, 2L, 0, "y")).toDF("k", "pc", "part", "payload"))
    rewritesOnlyPart0("upsert")
    t.delete(col("k") === 9)
    rewritesOnlyPart0("delete")
    t.update(col("k") === 12, Map("payload" -> lit("u")))
    rewritesOnlyPart0("update")
    t.deleteKeys(Seq(15).toDF("k"))
    rewritesOnlyPart0("delete")
    t.overwriteWhere(Seq((18, 2L, 0, "w")).toDF("k", "pc", "part", "payload"), col("k") === 18)
    rewritesOnlyPart0("overwriteWhere")
    val got = t.read().select("k", "payload").as[(Int, String)].collect().toMap
    assert(got.size == 2998 && t.read().count() == 2998)
    assert(!got.contains(9) && !got.contains(15))
    assert(Seq(3 -> "x", 6 -> "y", 12 -> "u", 18 -> "w", 21 -> "v21").forall {
      case (k, v) => got(k) == v })
  }

  test("optimize concatenates small files without changing contents") {
    val path = Files.createTempDirectory("graft_opt").toString
    val t = LakeTable.create(spark, path, TableSpec("k", "pc"),
      (1 to 100).map(i => (i, 1L, s"v$i")).toDF("k", "pc", "payload"))
    // several small commits → many tiny files
    (1 to 5).foreach { c =>
      t.upsert(Seq((1000 + c, 1L, s"n$c")).toDF("k", "pc", "payload"))
    }
    val conf = spark.sessionState.newHadoopConf()
    val before = CommitLog.liveFiles(path, None, conf).size
    val content = t.read().select("k", "payload").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    t.optimize(smallFileBytes = 10L * 1024 * 1024)
    val after = CommitLog.liveFiles(path, None, conf).size
    assert(after < before, s"expected fewer files, got $before -> $after")
    val content2 = t.read().select("k", "payload").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    assert(content2 == content)
  }

  test("zorder clustering tightens per-file ranges on BOTH dimensions") {
    val path = Files.createTempDirectory("graft_zorder").toString
    val rnd = new scala.util.Random(7)
    // two independent uniform dimensions — 1-D clustering can never
    // localize both; z-order localizes each to ~sqrt(files) divisions
    val rows = (1 to 40000).map(i =>
      (i, 1L, rnd.nextInt(1000000), rnd.nextInt(1000000)))
    val t = LakeTable.create(spark, path, TableSpec("k", "pc"),
      rows.toDF("k", "pc", "a", "b"), bulkInsert = true)
    val content = t.read().select("k", "a").collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    t.zorder(Seq("a", "b"), targetFiles = 16)
    assert(t.read().select("k", "a").collect().map(r => (r.getInt(0), r.getInt(1))).toSet
      == content, "zorder must not change contents")

    val conf = spark.sessionState.newHadoopConf()
    val dataDir = new org.apache.hadoop.fs.Path(path, "data").toString
    val files = CommitLog.liveFiles(path, None, conf)
    assert(files.size > 4, s"want several files, got ${files.size}")
    def avgWidth(c: String): Double = {
      val widths = files.map { f =>
        val (_, mn, mx) = graft.lake.FooterStats.keyStats(
          new org.apache.hadoop.fs.Path(s"$dataDir/${f.path}"), conf, c)
        (mx.toDouble - mn.toDouble) / 1000000.0
      }
      widths.sum / widths.size
    }
    val (wa, wb) = (avgWidth("a"), avgWidth("b"))
    assert(wa < 0.5 && wb < 0.5,
      s"z-order should localize both dims (~0.25 ideal at 16 files), got a=$wa b=$wb")
  }

  test("writeSortColumns clusters every write: tight ranges, pruning from day 1") {
    val path = Files.createTempDirectory("graft_wsort").toString
    val rnd = new scala.util.Random(13)
    val rows = (1 to 40000).map(i => (i, 1L, rnd.nextInt(1000000)))
    // AQE (correctly) coalesces a tiny batch to one file — shrink its
    // advisory size so the range write fans out like a real-sized batch
    val knobs = Seq(
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize")
    val prev = knobs.map(k => k -> spark.conf.getOption(k))
    knobs.foreach(spark.conf.set(_, "32768"))
    val t = try LakeTable.create(spark, path,
      TableSpec("k", "pc", statsColumns = Seq("a"), writeSortColumns = Seq("a")),
      rows.toDF("k", "pc", "a"), bulkInsert = true)
    finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    val live = t.liveFiles(None)
    assert(live.size >= 4, s"want several files, got ${live.size}")
    // per-file [min,max] of `a` must be (near-)non-overlapping: the sum of
    // widths ≈ the domain, not files × domain
    val widths = live.map { f =>
      val (mn, mx) = f.colStats("a")
      mx.toDouble - mn.toDouble
    }
    assert(widths.sum < 1.3e6,
      s"range-clustered files must tile the domain, total width ${widths.sum}")
    // a range filter prunes most files via commit-log stats alone
    val kept = t.pruneByFilters(live,
      Seq(org.apache.spark.sql.sources.And(
        org.apache.spark.sql.sources.GreaterThan("a", 400000),
        org.apache.spark.sql.sources.LessThan("a", 420000))), t.snapshot().shape)
    assert(kept.size * 4 <= live.size,
      s"day-1 pruning must skip most files (kept ${kept.size}/${live.size})")
    // content unchanged, and a later upsert stays clustered too
    assert(t.read().count() == 40000)
    t.upsert((40001 to 42000).map(i => (i, 1L, rnd.nextInt(1000000)))
      .toDF("k", "pc", "a"))
    assert(LakeTable.load(spark, path).read().count() == 42000)
  }

  test("incremental zorder re-clusters ONLY files added since the last zorder") {
    val path = Files.createTempDirectory("graft_zinc").toString
    val rnd = new scala.util.Random(11)
    val base = (1 to 20000).map(i => (i, 1L, rnd.nextInt(1000000), rnd.nextInt(1000000)))
    val t = LakeTable.create(spark, path, TableSpec("k", "pc"),
      base.toDF("k", "pc", "a", "b"), bulkInsert = true)
    t.zorder(Seq("a", "b"), targetFiles = 8)
    val clustered = LakeTable.load(spark, path).liveFiles(None).map(_.path).toSet
    // fresh unclustered appends
    val extra = (20001 to 24000).map(i => (i, 1L, rnd.nextInt(1000000), rnd.nextInt(1000000)))
    LakeTable.load(spark, path).upsert(extra.toDF("k", "pc", "a", "b"))
    val t2 = LakeTable.load(spark, path)
    val newFiles = t2.liveFiles(None).map(_.path).toSet -- clustered
    assert(newFiles.nonEmpty)
    val content = t2.read().select("k", "a").collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSet
    t2.zorder(Seq("a", "b"), targetFiles = 4, incremental = true)
    val t3 = LakeTable.load(spark, path)
    val after = t3.liveFiles(None).map(_.path).toSet
    assert(clustered.subsetOf(after),
      "incremental zorder must not touch already-clustered files")
    assert((newFiles & after).isEmpty,
      "incremental zorder must rewrite every unclustered file")
    assert(t3.read().select("k", "a").collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSet == content,
      "incremental zorder must not change contents")
    // a second incremental run with nothing new is a commit-free no-op
    val v = t3.latestVersion
    t3.zorder(Seq("a", "b"), incremental = true)
    assert(LakeTable.load(spark, path).latestVersion == v)
  }

  test("upsert touching hundreds of files rewrites them correctly (join-based selection)") {
    val path = Files.createTempDirectory("graft_many").toString
    val base = (1 to 30000).map(i => (i, 1L, s"v$i")).toDF("k", "pc", "payload")
      .repartition(250)
    val t = LakeTable.create(spark, path, TableSpec("k", "pc"), base, bulkInsert = true)
    val conf = spark.sessionState.newHadoopConf()
    assert(CommitLog.liveFiles(path, None, conf).size >= 200, "setup: want many base files")
    // one key per ~50 — hash-scattered across most of the 250 files
    t.upsert((1 to 30000 by 50).map(i => (i, 2L, s"u$i")).toDF("k", "pc", "payload"))
    val up = t.commits.find(_.operation == "upsert").get
    assert(up.remove.size >= 150, s"expected hundreds of touched files, got ${up.remove.size}")
    val state = t.read().select("k", "pc", "payload").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getString(2))).toSet
    assert(state.size == 30000)
    (1 to 30000).foreach { i =>
      val expected = if (i % 50 == 1) (i, 2L, s"u$i") else (i, 1L, s"v$i")
      if (i % 5000 == 1 || i % 50 == 1) assert(state.contains(expected), s"row $i wrong")
    }
  }

  test("bloom index prunes candidate files when key ranges fully overlap") {
    // round-robin layout: every file's [min,max] key range spans the whole
    // table, so range stats keep ALL files as upsert candidates — exactly
    // the random-churn shape where only blooms can prune
    def interleaved = (0 until 8000).map(i => (i.toLong, 1L, s"v$i"))
      .toDF("k", "pc", "payload").repartition(8)
    val sparse = Seq((17L, 2L, "u17"), (4242L, 2L, "u4242"), (7999L, 2L, "u7999"))
      .toDF("k", "pc", "payload")

    val ctrlPath = Files.createTempDirectory("graft_nobloom").toString
    val ctrl = LakeTable.create(spark, ctrlPath, TableSpec("k", "pc"), interleaved,
      bulkInsert = true)
    ctrl.upsert(sparse)
    assert(ctrl.lastPrunedCandidates == 8,
      s"control: range stats alone must keep all 8 files, got ${ctrl.lastPrunedCandidates}")

    val path = Files.createTempDirectory("graft_bloom").toString
    val t = LakeTable.create(spark, path,
      TableSpec("k", "pc", bloomBitsPerKey = 10), interleaved, bulkInsert = true)
    t.upsert(sparse)
    assert(t.lastPrunedCandidates <= 4,
      s"blooms must cut the 8 overlapping candidates to ~3, got ${t.lastPrunedCandidates}")
    val got = t.read().filter(col("pc") === 2L).select("k", "payload").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((17L, "u17"), (4242L, "u4242"), (7999L, "u7999")))
    assert(t.read().count() == 8000, "upsert correctness unchanged by bloom pruning")
    // vacuum (which also drops dead sidecars) leaves the table readable
    t.vacuum(retainVersions = 1)
    assert(t.read().count() == 8000)
  }

  test("salted join equals plain join on skewed data") {
    val probe = (1 to 20000).map(i => (if (i % 10 == 0) 1 else i % 500, s"p$i")).toDF("k", "pv")
    val build = (1 to 500).map(i => (i, s"b$i")).toDF("k", "bv")
    val plain = probe.join(build, Seq("k")).select("k", "pv", "bv").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSet
    val salted = Skew.saltedJoin(probe, build, "k", salt = 8).select("k", "pv", "bv")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSet
    assert(salted == plain)
    val hist = Skew.keyHistogram(probe, "k", 1).collect().head
    assert(hist.getInt(0) == 1, "hot key detected")
  }
}
