package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One-off scale demonstration for BPE training (BASELINE.md evidence,
  * not a bench entry): train a REAL vocabulary (default 1000 merges) on
  * the sf corpus under the driver's JVM settings and report wall time and
  * Spark jobs per merge for
  *
  *   - the batched certificate path ([[graft.ext.Bpe.trainWithStats]]) at
  *     the full merge count, and
  *   - the naive one-merge-at-a-time recount control
  *     ([[graft.ext.Bpe.trainRecount]]) at a small control count (its
  *     per-merge cost is constant-ish, so jobs/merge extrapolates),
  *
  * plus a bit-exactness check of the overlapping merge prefix. The point
  * at 30k+ merges on 100 TB: the batched path amortizes scheduler
  * round-trips to ≪1 job per merge while staying certificate-exact.
  *
  * Usage: runMain graft.tools.BpeScale [merges] [controlMerges] [mode]
  * (SPARK_GRAFT_SF_DIR selects the corpus, like Bench.) mode `words`
  * trains on the raw text; the synthetic corpus has only 31 distinct
  * words, so whitespace-word BPE EXHAUSTS at 93 merges — mode `phrases`
  * (default) trains on word 3-grams ("batch_part_spark"), the same
  * corpus re-tokenized to a thousands-deep merge supply, so the batched
  * path can be demonstrated at a real vocabulary scale.
  */
object BpeScale {

  def main(args: Array[String]): Unit = {
    val merges = args.headOption.map(_.toInt).getOrElse(1000)
    val controlMerges = args.lift(1).map(_.toInt).getOrElse(24)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = graft.core.GraftSession.tune(
      SparkSession.builder().master(s"local[$cpus]").appName("graft-bpe-scale"),
      cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD", org.apache.logging.log4j.Level.ERROR)

    val mode = args.lift(2).getOrElse("phrases")
    val raw = spark.read.parquet(s"$sfDir/documents.parquet").select("text")
    val docs =
      if (mode == "words") raw
      else raw.select(expr(
        """CASE WHEN size(split(text, ' ')) < 3 THEN text ELSE
          |  concat_ws(' ', transform(sequence(0, size(split(text, ' ')) - 3),
          |    i -> concat_ws('_', slice(split(text, ' '), i + 1, 3))))
          |END""".stripMargin).as("text"))

    val ((batched, stats), wallB, jobsB) =
      graft.Bench.timedJobs(spark)(graft.ext.Bpe.trainWithStats(docs, numMerges = merges))
    val (control, wallC, jobsC) =
      graft.Bench.timedJobs(spark)(graft.ext.Bpe.trainRecount(docs, numMerges = controlMerges))
    val prefix = control.pairs.take(controlMerges)
      .zip(batched.pairs.take(controlMerges)).takeWhile { case (a, b) => a == b }.size
    require(prefix == math.min(controlMerges, batched.pairs.size),
      s"batched merges must equal the sequential control bit-for-bit " +
        s"(matched $prefix of $controlMerges)")

    println(f"""{"tool":"bpe_scale","sf_dir":"$sfDir","merges":${batched.pairs.size},""" +
      f""""wall_sec":$wallB%.1f,"jobs":$jobsB,"jobs_per_merge":${jobsB.toDouble / batched.pairs.size}%.3f,""" +
      f""""control_merges":${control.pairs.size},"control_wall_sec":$wallC%.1f,""" +
      f""""control_jobs":$jobsC,"control_jobs_per_merge":${jobsC.toDouble / control.pairs.size}%.2f,""" +
      f""""rounds":${stats.size},"prefix_exact":$prefix}""")
  }
}
