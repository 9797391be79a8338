package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorOps.{cosinePre, dot, normSq, toDoubleVec}
import graft.lake.{LakeTable, TableSpec}

/** PERSISTED product-quantization ANN index — the "index once, append
  * incrementally, search many" serving shape a 100 TB embedding corpus
  * needs (FAISS's IVF-PQ lifecycle, re-expressed on the lake layer):
  *
  *   - `build` trains the codebooks once (deterministic md5 sample, or
  *     Lloyd-refined) and materializes TWO lake tables under the index
  *     path: `codebooks` (m·ks codeword rows, the coarse-list centroids
  *     when `numLists > 0`, and a meta row) and `codes` (one row per
  *     vector: its m packed code bytes and, for exact rerank, the
  *     original embedding). Both inherit lake semantics: ACID commits,
  *     time travel, OCC.
  *   - `numLists > 0` adds an IVF coarse quantizer and PARTITIONS the
  *     codes table by list id (`cid` hive dirs): a probe-limited search
  *     reads only its `nProbe` lists' FILES — commit-log partition
  *     pruning, the persisted analog of [[Similarity.ivfPqTopK]]'s list
  *     pruning, so per-query-batch scan cost is nProbe/numLists of the
  *     codes table instead of all of it.
  *   - `add` encodes NEW vectors with the FROZEN codebooks (a pure
  *     codegen'd argmin over literal centroids — zero shuffle, no
  *     retraining, cost ∝ batch) and keyed-upserts them into `codes`;
  *     re-adding a vec_id replaces its row, so the index never holds two
  *     codes for one vector. On a list-partitioned index a re-added
  *     vector whose embedding moved lists is a record MOVE: the stale
  *     row is deleted from its old list first (partition-scoped keyed
  *     delete over pruned candidate files only).
  *   - `search` is [[Similarity.pqSearch]] over the codes table: ADC
  *     lookup scoring reads m bytes per candidate; optional exact rerank
  *     rescores only the shortlist from the stored embeddings. With
  *     `nProbe > 0` on a list-partitioned index, each query scores only
  *     candidates in its own probe lists (per-query IVF semantics) and
  *     the scan opens only the probed lists' files.
  *
  * Everything is deterministic: reloading from disk reproduces bit-equal
  * codebooks and centroids (doubles survive parquet exactly), and search
  * results equal an in-memory [[Similarity.pqSearch]] over the same
  * state. */
object VectorIndex {

  private val META_KEY = -1L
  /** Coarse-list centroid rows live at `CENT_BASE + cid` in the codebooks
    * table, far above any `j·ks + c` codeword key. */
  private val CENT_BASE = 1000000L

  /** Train codebooks on `corpus` and persist codebooks + codes under
    * `path`. Parameters mirror [[Similarity.pqIndex]]; `numLists > 0`
    * additionally trains an IVF coarse quantizer (deterministic md5
    * sample, list ids 0..numLists-1 in md5 order) and lays the codes
    * table out partitioned by list id. */
  def build(spark: SparkSession, path: String, corpus: DataFrame,
      m: Int = 8, ks: Int = 16, seed: Long = 42L, trainIters: Int = 0,
      vecCol: String = "embedding", idCol: String = "vec_id",
      numLists: Int = 0): VectorIndex = {
    val idx = Similarity.pqIndex(corpus, m, ks, seed, vecCol, idCol, trainIters)
    import spark.implicits._
    val cents: Array[Seq[Double]] =
      if (numLists <= 0) Array.empty
      else Similarity.sampleCentroids(
        corpus.select(col(idCol).as("neighbor_id"), toDoubleVec(col(vecCol)).as("cv")),
        numLists, seed).map(_._2)
    val meta = (META_KEY, 1L,
      Seq(m.toDouble, ks.toDouble, idx.sub.toDouble, cents.length.toDouble))
    val rows = meta +:
      ((for (j <- 0 until m; cI <- 0 until ks) yield
        ((j * ks + cI).toLong, 1L, idx.codewords(j)(cI))) ++
        cents.zipWithIndex.map { case (v, i) => (CENT_BASE + i, 1L, v) }).toSeq
    LakeTable.create(spark, s"$path/codebooks", TableSpec("cb_key", "ver"),
      rows.toDF("cb_key", "ver", "codeword"))
    val encoded = corpus
      .select(col(idCol).cast("long").as("vec_id"), col(vecCol).as("embedding"))
      .withColumn("ver", lit(1L))
    val withCodes = attachCodes(encoded, idx.codewords, idx.cnormLut, idx.sub, ks,
      centEntries(cents))
    val spec =
      if (cents.nonEmpty) TableSpec("vec_id", "ver", partition = Some("cid"))
      else TableSpec("vec_id", "ver")
    LakeTable.create(spark, s"$path/codes", spec, withCodes)
    load(spark, path)
  }

  /** Reopen a persisted index: one bounded read of the codebooks table
    * (m·ks + numLists + 1 rows — driver metadata, like IVF centroids). */
  def load(spark: SparkSession, path: String): VectorIndex = {
    val cb = LakeTable.load(spark, s"$path/codebooks").read()
      .select("cb_key", "codeword").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val meta = cb(META_KEY)
    val (m, ks) = (meta(0).toInt, meta(1).toInt)
    val sub = meta(2).toInt
    val numLists = if (meta.length > 3) meta(3).toInt else 0
    val codewords = Array.tabulate(m)(j =>
      Array.tabulate(ks)(cI => cb((j * ks + cI).toLong)))
    val cents = Array.tabulate(numLists)(i => cb(CENT_BASE + i))
    new VectorIndex(spark, path, m, ks, sub, codewords,
      Similarity.pqNormLut(codewords, m, ks), cents)
  }

  private[ext] def centEntries(cents: Array[Seq[Double]]): Array[(Any, Seq[Double])] =
    cents.zipWithIndex.map { case (v, i) => (i.asInstanceOf[Any], v) }

  private[ext] def attachCodes(batch: DataFrame,
      codewords: Array[Array[Seq[Double]]], cnormLut: Seq[Double],
      sub: Int, ks: Int,
      cents: Array[(Any, Seq[Double])] = Array.empty): DataFrame = {
    import graft.functions.Int8Ops
    val coded = batch.withColumn("cv", toDoubleVec(col("embedding")))
      .withColumn("codes",
        Int8Ops.pack(graft.functions.PqOps.encode(col("cv"), codewords, cnormLut, ks, sub)))
    val out =
      if (cents.isEmpty) coded
      else coded.withColumn("cid",
        Similarity.nearestLists(cents)(col("cv"), normSq(col("cv")), 1)
          .getItem(0).getField("cid").cast("int"))
    out.drop("cv")
  }
}

class VectorIndex private[ext] (spark: SparkSession, val path: String,
    val m: Int, val ks: Int, val sub: Int,
    val codewords: Array[Array[Seq[Double]]], val cnormLut: Seq[Double],
    val centroids: Array[Seq[Double]] = Array.empty) {

  private def codesTable: LakeTable = LakeTable.load(spark, s"$path/codes")
  private def cents: Array[(Any, Seq[Double])] = VectorIndex.centEntries(centroids)

  /** Encode `batch` with the frozen codebooks and keyed-upsert into the
    * codes table — incremental, no retraining, cost ∝ batch size. `ver`
    * orders replacements of a re-added vec_id (defaults to a bump over
    * the current max so the new code wins). */
  def add(batch: DataFrame, vecCol: String = "embedding",
      idCol: String = "vec_id"): VectorIndex = {
    val t = codesTable
    // commit-log-metadata version, not a data scan (cost ∝ batch contract;
    // +2 clears the build stamp ver=1 at commit 0 — see TextIndex.add,
    // including the caveat that same-KEY racing adds tie on ver and
    // resolve by precombine tiebreak; racing adds are ordered only for
    // disjoint keys)
    val nextVer = t.latestVersion + 2L
    val encoded = batch
      .select(col(idCol).cast("long").as("vec_id"), col(vecCol).as("embedding"))
      .withColumn("ver", lit(nextVer))
    val withCodes =
      VectorIndex.attachCodes(encoded, codewords, cnormLut, sub, ks, cents)
    if (centroids.nonEmpty) {
      // list-partitioned identity is (vec_id, cid): a re-added vector whose
      // embedding moved lists would otherwise leave its stale code in the
      // old list — delete it there first (probe reads only pruned candidate
      // files, delete rewrites only touched ones: cost ∝ batch)
      val cur = t.readForKeys(withCodes.select(col("vec_id")))
        .select(col("vec_id"), col("cid").as("_old_cid"))
      val movers = cur.join(withCodes.select(col("vec_id"), col("cid")), Seq("vec_id"))
        .filter(col("_old_cid") =!= col("cid"))
        .select(col("vec_id"), col("_old_cid").as("cid"))
      if (!movers.isEmpty) { t.deleteKeys(movers); () }
    }
    t.upsert(withCodes)
    this
  }

  /** Fold the codes table's accumulated add-files into consolidated
    * per-list files. A pure physical rewrite under OCC: a compaction
    * racing an `add` serializes through commit retries with both landing,
    * and the hive list layout is preserved, so probe pruning keeps
    * working afterwards (pinned by q149 and VectorIndexSpec). */
  def compact(): VectorIndex = { codesTable.compact(); this }

  /** ADC top-k over the persisted codes (see [[Similarity.pqSearch]]);
    * `rerank > 0` exact-rescores the shortlist from the stored
    * embeddings. On a list-partitioned index, `nProbe > 0` scores each
    * query only against its `nProbe` nearest lists AND prunes the scan to
    * the probed lists' files (commit-log partition pruning — the
    * persisted IVF path). */
  def search(queries: DataFrame, k: Int, rerank: Int = 0,
      vecCol: String = "embedding", idCol: String = "vec_id",
      nProbe: Int = 0): DataFrame = {
    val q0 = queries.select(col(idCol).cast("long").as("vec_id"),
      col(vecCol).as("embedding"))
    if (centroids.nonEmpty && nProbe > 0 && nProbe < centroids.length)
      return prunedSearch(q0, k, rerank, nProbe)
    val state = codesTable.read().select("vec_id", "embedding", "codes")
    val encoded = state.select(col("vec_id").as("neighbor_id"), col("codes"))
    val corpus = state.select(col("vec_id"), col("embedding"))
    Similarity.pqSearch(
      Similarity.PqIndex(m, ks, sub, codewords, cnormLut, encoded),
      corpus, q0, k, rerank)
  }

  /** Distinct coarse lists probed by a query batch — bounded by numLists,
    * never by the corpus (one tiny job over the queries). */
  private def probeCidSet(q0: DataFrame, nProbe: Int): Seq[Int] = q0
    .select(toDoubleVec(col("embedding")).as("qv"))
    .withColumn("qn", normSq(col("qv")))
    .withColumn("_p", explode(Similarity.nearestLists(cents)(col("qv"), col("qn"), nProbe)))
    .select(col("_p").getField("cid").cast("int").as("cid"))
    .distinct().collect().map(_.getInt(0)).toSeq.sorted

  private def probeFilter(cids: Seq[Int]): Seq[org.apache.spark.sql.sources.Filter] =
    Seq(org.apache.spark.sql.sources.In("cid", cids.map(_.asInstanceOf[Any]).toArray))

  /** (files opened after probe pruning, total live files) for a query
    * batch — the observable half of the partition-pruning contract. */
  def prunedFileCounts(queries: DataFrame, nProbe: Int,
      vecCol: String = "embedding", idCol: String = "vec_id"): (Int, Int) = {
    require(centroids.nonEmpty, "prunedFileCounts: index built without numLists")
    val q0 = queries.select(col(idCol).cast("long").as("vec_id"),
      col(vecCol).as("embedding"))
    val t = codesTable
    val s = t.snapshot()
    (t.pruneByFilters(s.live, probeFilter(probeCidSet(q0, nProbe)), s.shape).length,
      s.live.length)
  }

  /** The persisted IVF-PQ search: per-query probe lists (codegen'd argmax
    * over literal centroids), file-pruned scan of only the probed lists,
    * ADC scoring, optional exact rerank from the stored embeddings. */
  private def prunedSearch(q0: DataFrame, k: Int, rerank: Int,
      nProbe: Int): DataFrame = {
    import graft.functions.Int8Ops
    val q = q0.select(col("vec_id").as("query_id"),
        toDoubleVec(col("embedding")).as("qv"))
      .withColumn("qn", normSq(col("qv")))
    // native LUT expression (codebook as a reference object — constant
    // codegen size, bit-identical to the dot(slice(...)) chain; see PqLut)
    val probes = q.withColumn("lut",
        graft.functions.PqOps.lut(col("qv"), codewords, ks, sub))
      .withColumn("_p",
        explode(Similarity.nearestLists(cents)(col("qv"), col("qn"), nProbe)))
      .withColumn("cid", col("_p").getField("cid").cast("int"))
      .drop("_p")
    // the union of probe lists over the batch (≤ numLists) prunes the scan:
    // only those hive partitions' files are ever opened
    val cids = probeCidSet(q0, nProbe)
    val state = codesTable.readWhere(probeFilter(cids))
      .select(col("vec_id").as("neighbor_id"), col("embedding"), col("codes"),
        col("cid"))
    // candidate-side code norm hoisted above the join: once per candidate,
    // not once per (query × candidate) pair
    val cnLit = array(cnormLut.map(lit): _*)
    val stateN = state.withColumn("cn_adc", Int8Ops.adc(col("codes"), cnLit, ks))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("neighbor_id").asc)
    // per-query IVF semantics: candidates come only from the query's OWN
    // probe lists (join on cid), never from a list another query probed
    val scored = stateN.join(broadcast(probes.select("query_id", "qn", "lut", "cid")),
        Seq("cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score",
        Int8Ops.adc(col("codes"), col("lut"), ks) /
          (sqrt(col("qn")) * sqrt(col("cn_adc"))))
      .withColumn("rank", row_number().over(w))
    if (rerank <= 0)
      scored.filter(col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "score")
    else {
      val shortlist = scored.filter(col("rank") <= rerank * k)
        .select("query_id", "neighbor_id")
      val cvn = state.select(col("neighbor_id"), toDoubleVec(col("embedding")).as("cv"))
        .withColumn("cn", normSq(col("cv")))
      val exact = shortlist.join(cvn, Seq("neighbor_id"))
        .join(broadcast(q.select("query_id", "qv", "qn")), Seq("query_id"))
        .withColumn("score", cosinePre(dot(col("qv"), col("cv")), col("qn"), col("cn")))
      exact.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "score")
    }
  }
}
