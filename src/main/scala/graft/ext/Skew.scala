package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew mitigation. Default posture is AQE (`spark.sql.adaptive.
  * skewJoin.enabled`, on via GraftSession) which splits oversized shuffle
  * partitions at runtime; `saltedJoin` is the explicit fallback for joins
  * AQE can't fix — e.g. one pathological key that dwarfs a whole partition
  * on a non-sort-merge plan.
  */
object Skew {

  /** Salted inner equi-join: the probe (large, skewed) side gets a
    * deterministic salt in [0, salt); the build side is replicated `salt`
    * ways, so one hot key spreads over `salt` reducers. Result is exactly
    * `probe.join(build, keys)` — salting only reshapes the shuffle. */
  def saltedJoin(probe: DataFrame, build: DataFrame, key: String, salt: Int,
      joinType: String = "inner"): DataFrame = {
    require(salt > 0)
    val saltedProbe = probe.withColumn("_graft_salt",
      pmod(xxhash64(struct(probe.columns.map(col).toSeq: _*)), lit(salt)).cast("int"))
    val replicated = build.withColumn("_graft_salt",
      explode(sequence(lit(0), lit(salt - 1))))
    saltedProbe.join(replicated, Seq(key, "_graft_salt"), joinType)
      .drop("_graft_salt")
  }

  /** Top skewed keys by frequency — the diagnostic to decide salting. */
  def keyHistogram(df: DataFrame, key: String, topN: Int = 20): DataFrame =
    df.groupBy(col(key)).agg(count(lit(1)).as("n")).orderBy(col("n").desc).limit(topN)
}
