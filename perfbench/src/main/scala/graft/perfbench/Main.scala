package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.SparkSession

import graft.lake.CommitLog

/** One benchmark run: one workload, one seed, one JVM.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> --out <file>
  * }}}
  *
  * Sets the workload up in a fresh directory and runs one warm-up cycle
  * (together `setup_s`), then runs its closed loop with one client until
  * `--seconds` have passed, the last cycle has committed and every
  * periodic operation has run once, runs the end-of-run output checks and
  * writes one JSON
  * object to `--out`. The traced run also registers the ledger
  * listeners and probes the commit log between operations; the listener
  * bus is drained only after the loop.
  */
object Main {
  val Kinds = Seq("apply", "read", "compact", "changes", "refresh", "curate")
  val ExtOps = Seq("minhash", "prefix_jaccard", "inc_dedup", "bpe", "ivf_pq")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = new File(opts("work")).getAbsolutePath
    val slots = Runtime.getRuntime.availableProcessors()

    val spark = graft.core.GraftSession.tune(
      SparkSession.builder().master(s"local[$slots]").appName(s"perfbench-$workload"), slots)
      .withExtensions(new graft.sql.GraftExtensions)
      .config("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", s"$work/warehouse")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.scheduler.listenerbus.eventqueue.capacity", "200000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val tracer = new Tracer(spark, traced)
    val jobs = new JobLedger
    val plans = new PlanLedger
    if (traced) {
      spark.sparkContext.addSparkListener(jobs)
      spark.listenerManager.register(plans)
    }
    val ctx = new Ctx(spark, tracer, seed)
    val probe = new LakeProbe(ctx)
    val w = Workloads(workload, ctx, probe)

    // Set-up runs in a cold JVM; one warm-up cycle then runs on its state,
    // which the loop measures: JIT compiles the operations' paths, Spark
    // generates their code and the table's log and read caches fill. Both
    // count in setup_s.
    val jvmToSetupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val s0 = System.nanoTime()
    w.setup(s"$work/setup")
    val w0 = System.nanoTime()
    w.cycle(0)
    val w1 = System.nanoTime()
    val setupOnlyS = (w0 - s0) / 1e9
    val warmupS = (w1 - w0) / 1e9

    val versionsAtStart = w.tables.map(p => p -> CommitLog.latestVersion(p, ctx.conf).getOrElse(-1L)).toMap
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage())
    val gc0 = gcBeans.map(_.getCollectionTime).sum
    val fs0 = fsStats()
    val cpu0 = hostCpu()

    tracer.measuring = true
    val cycleSecs = mutable.ArrayBuffer.empty[Double]
    val loopStart = System.nanoTime()
    var i = 1
    var error: Option[Throwable] = None
    // a periodic operation must run at least once, or the figures that
    // amortize it would silently leave it out
    def periodicDone = w.periodic.keys.forall(k => tracer.ops.exists(_.kind == k))
    while (error.isEmpty && ((System.nanoTime() - loopStart) / 1e9 < seconds || !periodicDone)) {
      val first = tracer.spans.size
      try w.cycle(i)
      catch { case e: Throwable => error = Some(e) }
      // a cycle's time is the sum of its timed operations: landing the
      // inputs and checking the outputs are not the program's work
      if (error.isEmpty) cycleSecs += tracer.spans.iterator.drop(first)
        .filter(s => s.parent < 0 && Kinds.contains(s.kind) && !w.periodic.contains(s.kind))
        .map(_.seconds).sum
      i += 1
    }
    tracer.measuring = false
    val loopSecs = (System.nanoTime() - loopStart) / 1e9
    val gcMs = gcBeans.map(_.getCollectionTime).sum - gc0
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    val fs1 = fsStats()
    val cpu1 = hostCpu()

    error.foreach { e =>
      System.err.println(s"OPERATION FAILED in cycle ${i - 1}: $e")
      e.printStackTrace()
    }
    val f0 = System.nanoTime()
    if (error.isEmpty) {
      w.periodic.keys.foreach(k =>
        ctx.checks(tracer.ops.exists(_.kind == k), s"no $k operation ran in the measured loop"))
      try w.finish()
      catch { case e: Throwable => ctx.checks(false, s"end-of-run check threw $e"); e.printStackTrace() }
    }

    val finishS = (System.nanoTime() - f0) / 1e9

    // bytes the measured phase committed to the workload's tables, per
    // commit: (operation, bytes added)
    val commits = w.tables.flatMap { p =>
      val from = versionsAtStart.getOrElse(p, -1L)
      CommitLog.listVersions(p, ctx.conf).filter(_ > from).map { v =>
        val c = CommitLog.read(p, v, ctx.conf)
        (c.operation, c.add.map(_.bytes).sum)
      }
    }

    val ops = tracer.ops.filter(s => Kinds.contains(s.kind))
    def secs(kind: String) = ops.filter(_.kind == kind).map(_.seconds)
    val applies = secs("apply")
    val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
    e2e("setup_s") = (setupOnlyS + warmupS, "s")
    e2e("apply_p50_s") = (Stats.median(applies), "s")
    e2e("apply_rows_per_s") = (if (applies.isEmpty) 0.0 else ctx.appliedRows / applies.sum, "1/s")
    // Reads depend on the compaction phase (how many log files are
    // outstanding); the reads issued before the loop's first periodic
    // operation are at the same phases in every run, so only they make
    // the read figures.
    val firstPeriodic = ops.find(s => w.periodic.contains(s.kind)).map(_.id).getOrElse(Int.MaxValue)
    val reads = ops.filter(s => s.kind == "read" && s.id < firstPeriodic)
    // reads of different types differ by 10x, so a pooled median would
    // jump between types: the figure is the mean of each type's median
    val readTypes = reads.groupBy(_.name).values.map(ss => Stats.median(ss.map(_.seconds))).toSeq
    // printed on the report line, not gated: one run times too few reads
    // for a steady figure, and cycle_s carries their cost
    val readP50 = Stats.mean(readTypes)
    // A cycle's cost is each operation type's median times how often it
    // runs per cycle, so cycles before and after a compaction weigh alike;
    // a periodic operation (compaction every n cycles) counts 1/n of its
    // median, so the figures do not depend on how many periods one run
    // happens to complete. Write amplification is amortized the same way.
    val nCycles = math.max(1, cycleSecs.size).toDouble
    e2e("cycle_s") = (ops.groupBy(s => (s.kind, s.name)).map { case ((kind, name), ss) =>
      val perCycle = w.periodic.get(kind).map(1.0 / _).getOrElse(ss.size / nCycles)
      val timed = if (kind == "read") reads.filter(_.name == name) else ss
      Stats.median(timed.map(_.seconds)) * perCycle
    }.sum, "s")
    // (a periodic kind is named after the commit operation it writes)
    val steadyBytes = commits.filterNot(c => w.periodic.contains(c._1)).map(_._2).sum / nCycles
    val periodicBytes = w.periodic.map { case (op, n) =>
      Stats.median(commits.filter(_._1 == op).map(_._2.toDouble)) / n }.sum
    e2e("write_amp") = (if (ctx.landedBytes == 0) 0.0
      else (steadyBytes + periodicBytes) / (ctx.landedBytes / nCycles), "ratio")

    // workload-specific end-to-end figures, printed beside the gated set
    val report = mutable.LinkedHashMap.empty[String, Any]
    def tail(name: String, xs: Seq[Double]): Unit = {
      val (v, p) = Stats.tail(xs)
      report(name) = v
      report(name + "_pct") = p
      report(name + "_n") = xs.size
    }
    report("workload") = workload
    report("seed") = seed
    report("trace") = traced
    report("jvm_to_setup_s") = jvmToSetupS
    report("setup_only_s") = setupOnlyS
    report("warmup_cycle_s") = warmupS
    report("landed_bytes_per_cycle") = ctx.landedBytes / nCycles
    report("read_p50_s") = readP50
    tail("apply_tail_s", applies)
    tail("read_tail_s", secs("read"))
    if (workload == "mor_serve") report("compact_s") = Stats.median(secs("compact"))
    if (workload == "feed_consume") {
      report("changes_p50_s") = Stats.median(secs("changes"))
      tail("changes_tail_s", secs("changes"))
      report("refresh_p50_s") = Stats.median(secs("refresh"))
    }
    if (workload == "doc_curate") {
      report("curate_s") = Stats.median(cycleSecs.toSeq)
    }
    Kinds.foreach { k =>
      if (secs(k).nonEmpty) report(s"${k}_all_s") = secs(k).map(Stats.round).mkString("[", ",", "]")
    }
    report("cycles") = cycleSecs.size
    report("loop_s") = loopSecs
    report("finish_s") = finishS
    // CPU time the hypervisor gave to other guests during the loop: the
    // usual cause of a run that is slow everywhere at once
    val cpuTicks = cpu1._1 - cpu0._1
    report("host_steal_frac") = if (cpuTicks <= 0) 0.0 else (cpu1._2 - cpu0._2).toDouble / cpuTicks
    val attempted = ops.size.toLong + ctx.checks.attempted
    val failed = ctx.checks.failed + (if (error.isDefined) 1 else 0)
    report("failed_frac") = failed.toDouble / math.max(1L, attempted)

    val layer = mutable.LinkedHashMap.empty[String, Double]
    if (traced) {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      Ledger.attributePlans(tracer, jobs, plans)
      layer ++= Ledger.perKind(tracer, jobs, slots, Kinds)
      def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
      val nOps = math.max(1, ops.size).toDouble
      layer("log_ms") = mean(probe.logMs.toSeq)
      layer("log.versions") = probe.versions.toDouble
      layer("fs.bytes_read") = (fs1._1 - fs0._1) / nOps
      layer("fs.bytes_written") = (fs1._2 - fs0._2) / nOps
      val applyCommits = probe.commits.filter(_._1 == "apply")
      val compactCommits = probe.commits.filter(_._1 == "compact")
      layer("lake.files_added") = mean(applyCommits.map(_._2.toDouble).toSeq)
      layer("lake.files_removed") = mean(applyCommits.map(_._3.toDouble).toSeq)
      layer("lake.bytes_added") = mean(applyCommits.map(_._4.toDouble).toSeq)
      layer("lake.touched_files_frac") =
        mean(applyCommits.map(c => if (c._6 == 0) 0.0 else c._3.toDouble / c._6).toSeq)
      layer("lake.rows_rewritten_per_change") =
        if (ctx.appliedRows == 0) 0.0 else applyCommits.map(_._5).sum.toDouble / ctx.appliedRows
      // every workload reports every ledger key: the ones only some
      // workloads measure start at 0 and `w.layer` fills them in
      layer("mor.log_files") = 0.0
      layer("mor.log_bytes") = 0.0
      layer("compact.bytes_rewritten") = mean(compactCommits.map(_._4.toDouble).toSeq)
      layer("cdf.rows_out") = 0.0
      val changes = ops.filter(_.kind == "changes")
      val cdfIn = changes.map(s => Ledger.opCounters(tracer, jobs, s)("input_rows")).sum
      val refreshes = ops.filter(_.kind == "refresh")
      val refreshCounters = refreshes.map(s => Ledger.opCounters(tracer, jobs, s))
      layer("mv.jobs_per_refresh") = mean(refreshCounters.map(_("jobs").toDouble))
      layer("mv.input_rows_per_refresh") = mean(refreshCounters.map(_("input_rows").toDouble))
      layer("cdc.decode_ms") = 0.0
      layer("cdc.events") = 0.0
      layer("cdc.landed_bytes") = 0.0
      ExtOps.foreach { o =>
        layer(s"ext.${o}_ms") = mean(tracer.spans.filter(s => s.measured && s.name == s"ext.$o")
          .map(_.ms).toSeq)
      }
      layer("jvm.gc_ms") = gcMs.toDouble
      layer("jvm.heap_peak_mb") = heapPeakMb
      layer ++= w.layer
      val rowsOut = layer("cdf.rows_out") * changes.size
      layer("cdf.input_rows_per_row_out") = if (rowsOut == 0) 0.0 else cdfIn / rowsOut
      // the traced run's own end-to-end figures: traced minus untraced is
      // the tracing overhead
      layer("trace.apply_p50_s") = e2e("apply_p50_s")._1
      layer("trace.read_p50_s") = readP50
      layer("trace.cycle_s") = e2e("cycle_s")._1
      writeLedger(new File(work, "ledger.json"), tracer, jobs, probe, ops)
    } else {
      report("jvm.gc_ms") = gcMs
      report("jvm.heap_peak_mb") = heapPeakMb
    }

    val metrics =
      if (traced) layer.map { case (k, v) => k -> (v, unitOf(k)) }
      else e2e
    val correct = failed == 0
    val json = new StringBuilder
    json ++= s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {"""
    json ++= metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${Stats.num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    json ++= "}, \"report\": {"
    json ++= report.map { case (k, v) =>
      val s = v match {
        case d: Double => Stats.num(d)
        case b: Boolean => b.toString
        case n: Int => n.toString
        case n: Long => n.toString
        case s: String if s.startsWith("[") => s
        case s => "\"" + s + "\""
      }
      s""""$k": $s"""
    }.mkString(", ")
    json ++= "}}"
    val out = new File(opts("out"))
    java.nio.file.Files.writeString(out.toPath, json.toString)
    spark.stop()
  }

  def unitOf(k: String): String =
    if (k.endsWith("_ms")) "ms"
    else if (k.endsWith("_s")) "s"
    else if (k.contains("bytes")) "bytes"
    else if (k.endsWith("_mb")) "MB"
    else if (k.endsWith("slot_util") || k.endsWith("_frac") || k.contains("_per_")) "ratio"
    else "count"

  /** (bytes read, bytes written) of Hadoop's `file` scheme, executors
    * included (local mode shares the JVM). The local file system counts
    * no read or write operations, so only bytes are reported. */
  private def fsStats(): (Long, Long) = {
    val st = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    (st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum)
  }

  /** (all CPU ticks, steal ticks) from /proc/stat; zeros where it is absent. */
  private def hostCpu(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
      (f.sum, if (f.length > 7) f(7) else 0L)
    } catch { case scala.util.control.NonFatal(_) => (0L, 0L) }

  /** Per-operation counters of a traced run, for the repeatability check. */
  private def writeLedger(f: File, tracer: Tracer, jobs: JobLedger, probe: LakeProbe,
      ops: Seq[Span]): Unit = {
    val lines = ops.zipWithIndex.map { case (op, i) =>
      val c = Ledger.opCounters(tracer, jobs, op)
      val fields = (Seq("i" -> i.toString, "kind" -> ("\"" + op.kind + "\""),
        "name" -> ("\"" + op.name + "\"")) ++ c.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString })
      fields.map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")
    }
    val commits = probe.commits.zipWithIndex.map { case ((kind, fa, fr, ba, ra, _), i) =>
      s"""{"i": $i, "kind": "$kind", "files_added": $fa, "files_removed": $fr, "bytes_added": $ba, "rows_added": $ra}"""
    }
    java.nio.file.Files.writeString(f.toPath,
      s"""{"ops": [${lines.mkString(",\n")}],
         |"commits": [${commits.mkString(",\n")}],
         |"log": {"versions": ${probe.versions}, "checkpoints": ${probe.checkpoints}}}""".stripMargin)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The highest percentile with at least ten samples above it, and that
    * percentile; with ten samples or fewer there is none and the maximum
    * is reported with percentile 100. */
  def tail(xs: Seq[Double]): (Double, Double) =
    if (xs.isEmpty) (0.0, 0.0)
    else {
      val s = xs.sorted
      val n = s.size
      if (n <= 10) (s.last, 100.0)
      else (s(n - 11), 100.0 * (n - 10) / n)
    }

  def round(x: Double): String = f"$x%.4f"

  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "0" else java.math.BigDecimal.valueOf(x).toPlainString
}
