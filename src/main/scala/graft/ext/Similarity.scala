package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorOps._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Brute force is the exactness baseline: broadcast the (small) query set
  * against the corpus — one pass, no corpus shuffle, O(Q·N) dot products in
  * codegen. The scale path is hyperplane LSH with multi-probe: bucket the
  * corpus once (reusable across queries), join queries to their bucket and
  * its Hamming-1 neighbors, refine exactly.
  */
object Similarity {

  /** Exact top-k cosine neighbors for each query vector. Deterministic
    * tiebreak on neighbor id.
    *
    * Scale note: the final per-query top-k is NOT a full-shuffle sort —
    * Spark's rank-limit pushdown inserts a partial `WindowGroupLimit`
    * before the exchange, so every map partition forwards at most k rows
    * per query and the per-query reducer sees ≤ k × partitions rows, not
    * the corpus (asserted in ExtSpec). */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame =
    cosineTopK(corpus, queries, k, vecCol, idCol, exclude = None)

  /** Shared exact-cosine scoring pipeline: broadcast queries, native dot,
    * optional (query_id, neighbor_id) exclusion pairs anti-joined BEFORE
    * the partial top-k rank. */
  private def cosineTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      vecCol: String, idCol: String, exclude: Option[DataFrame]): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), toDoubleVec(col(vecCol)).as("cv"))
      .withColumn("cn", normSq(col("cv")))
    val q = queries.select(col(idCol).as("query_id"), toDoubleVec(col(vecCol)).as("qv"))
      .withColumn("qn", normSq(col("qv")))
    val candidates = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
    val kept = exclude.fold(candidates)(pos =>
      candidates.join(broadcast(pos), Seq("query_id", "neighbor_id"), "left_anti"))
    val scored = kept
      .withColumn("score", cosinePre(dot(col("qv"), col("cv")), col("qn"), col("cn")))
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "score")
  }

  /** Hard-negative mining — the contrastive-training data-prep
    * primitive: for each query, the k most-similar corpus items that are
    * NOT its known positives (the aligned pairs a retrieval/embedding
    * trainer already has). "Closest non-positive" is exactly the
    * hard-negative definition (in-batch negatives are easy; the ones a
    * model confuses live just below the positive band).
    *
    * `positives` is a (query_id, pos_id) pair table. Exclusion happens
    * BEFORE the rank, so the k returned are the top k of the remaining
    * corpus, and the query itself is never a negative. Scale shape =
    * [[bruteForceTopK]] (broadcast queries, partial WindowGroupLimit —
    * never a corpus shuffle) plus one broadcast anti-join on the pair
    * table; swap in the IVF/PQ candidates for the billion-scale path. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame,
      positives: DataFrame, k: Int,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame =
    cosineTopK(corpus, queries, k, vecCol, idCol,
      exclude = Some(positives.select(col("query_id"), col("pos_id").as("neighbor_id"))))

  /** Scalar-quantized (int8) top-k: the memory-bandwidth scale path.
    *
    * One metadata-light corpus pass finds the global max |x|; every vector
    * then quantizes to signed bytes with the shared scale `127/maxAbs` and
    * packs into a `binary` column — 4× smaller than float32, 8× than
    * float64, which at 100 TB is the difference between an index that fits
    * in cluster memory and one that doesn't. Scoring is an integer
    * multiply-add over packed bytes (native codegen'd [[graft.functions.DotInt8]],
    * no FP in the hot loop); the emitted score is the quantized cosine
    * `dotInt / sqrt(qn·cn)` — integer-exact inputs, correctly-rounded
    * sqrt/divide, so results are bit-reproducible across engines.
    * Recall vs the float brute force is asserted in ExtSpec. */
  def quantizedTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    // the shared scale must cover BOTH sides: a query component above the
    // corpus max would quantize past 127 and the byte cast would WRAP
    // (silent sign flip) — so take the max |x| over corpus ∪ queries
    val absMax = (c: org.apache.spark.sql.DataFrame) => {
      val r = c.select(max(expr(
        s"aggregate(transform($vecCol, x -> abs(cast(x as double))), 0D, (a, x) -> greatest(a, x))"))
        .cast("double")).head()
      if (r.isNullAt(0)) 0.0 else r.getDouble(0) // empty frame -> no contribution
    }
    val maxAbs = math.max(absMax(corpus), absMax(queries))
    require(maxAbs > 0.0 && !maxAbs.isNaN,
      s"quantizedTopK: embeddings are all-zero or NaN (max |x| = $maxAbs)")
    val scale = 127.0 / maxAbs
    def quantize(c: Column): Column =
      graft.functions.Int8Ops.pack(
        transform(toDoubleVec(c), x => round(x * lit(scale)).cast("int")))
    val c = corpus.select(col(idCol).as("neighbor_id"), quantize(col(vecCol)).as("cb"))
      .withColumn("cn", graft.functions.Int8Ops.dotInt8(col("cb"), col("cb")))
    val q = queries.select(col(idCol).as("query_id"), quantize(col(vecCol)).as("qb"))
      .withColumn("qn", graft.functions.Int8Ops.dotInt8(col("qb"), col("qb")))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("score",
        graft.functions.Int8Ops.dotInt8(col("qb"), col("cb")).cast("double") /
          sqrt((col("qn") * col("cn")).cast("double")))
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "score")
  }

  /** IVF (inverted-file) ANN: the corpus is coarse-quantized onto
    * `numLists` centroid lists (centroids drawn deterministically from the
    * corpus itself); a query exact-scores only the `nProbe` lists nearest
    * its own vector. The one-time assignment pass is the index build —
    * at scale it's written once and reused across query batches; recall
    * rises with nProbe (nProbe = numLists degenerates to brute force). */
  /** Deterministic coarse-quantizer sample: top-`numLists` corpus vectors
    * by seeded md5 (engine-portable — the DuckDB oracle reproduces the
    * selection). `c0` must carry (neighbor_id, cv). */
  private[ext] def sampleCentroids(c0: DataFrame, numLists: Int,
      seed: Long): Array[(Any, Seq[Double])] = c0
    .select(col("neighbor_id").as("cid"), col("cv").as("centroid"))
    .orderBy(md5(concat(col("cid").cast("string"), lit(":" + seed))).asc, col("cid").asc)
    .limit(numLists)
    .collect().map(r => (r.get(0), r.getSeq[Double](1)))

  /** Fixed-order mean fold for Lloyd training, executed ON THE EXECUTORS:
    * per-group (sum, count) partials keyed by shuffle partition id are
    * gathered per group, sorted by pid, and folded SEQUENTIALLY via the
    * `aggregate` higher-order function — the exact IEEE op sequence of a
    * driver-side pid-ordered fold (FP addition is non-associative; a plain
    * avg() would merge shuffle blocks in arrival order), without ever
    * collecting ∝ partitions rows to the driver. The per-group partial
    * list is bounded by the input partition count, and what reaches the
    * driver is one row per GROUP (lists×dim — true metadata), not
    * lists×dim×partitions: at 100 TB partition counts that is the
    * difference between kilobytes and tens of millions of rows.
    * `grouped` must carry the key columns plus `x`. */
  private[graft] def pinnedMeans(grouped: DataFrame,
      keys: Seq[String]): Array[org.apache.spark.sql.Row] = grouped
    .groupBy((keys.map(col) :+ spark_partition_id().as("pid")): _*)
    .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
    .groupBy(keys.map(col): _*)
    .agg(sort_array(collect_list(struct(col("pid"), col("s"), col("n")))).as("ps"))
    .select((keys.map(col) :+
      (aggregate(col("ps"), lit(0.0d), (a, p) => a + p.getField("s")) /
        aggregate(col("ps"), lit(0L), (a, p) => a + p.getField("n")).cast("double"))
        .as("mean")): _*)
    .collect()

  /** Array of the n nearest (neg_sim, cid) structs over the given
    * centroid set; ascending sort on the negated cosine = sim desc with
    * cid-asc tiebreak, matching the window ordering it replaces (same
    * IEEE op sequence: driver-side norm fold ≡ the sequential normSq
    * fold). A pure codegen'd literal-chain expression — zero shuffle. */
  private[ext] def nearestLists(cents: Array[(Any, Seq[Double])])(
      vec: Column, rowNormSq: Column, n: Int): Column = {
    val rowNorm = sqrt(rowNormSq)
    val entries = cents.map { case (cid, v) =>
      var acc = 0.0d
      v.foreach(x => acc += x * x)
      val cLit = array(v.map(lit).toSeq: _*)
      struct((-(dot(vec, cLit) / (rowNorm * lit(math.sqrt(acc))))).as("neg_sim"),
        lit(cid).as("cid"))
    }
    slice(sort_array(array(entries.toSeq: _*)), 1, n)
  }

  /** Deterministic coarse clustering: each vector's nearest of
    * `numClusters` md5-sampled centroids (cosine argmax, cid-asc
    * tiebreak) — the engine-portable assignment IVF and SemDeDup share,
    * exposed as the curation primitive behind cluster-balanced sampling.
    * Returns (idCol, cid). One bounded driver sample (≤ numClusters
    * rows), then a pure codegen'd literal-centroid argmax — zero
    * shuffle. */
  def clusterAssign(corpus: DataFrame, numClusters: Int = 16, seed: Long = 42L,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val c0 = corpus.select(col(idCol).as("neighbor_id"), toDoubleVec(col(vecCol)).as("cv"))
    val cents = sampleCentroids(c0, numClusters, seed)
    c0.withColumn("nsq", normSq(col("cv")))
      .withColumn("_nl", nearestLists(cents)(col("cv"), col("nsq"), 1))
      .select(col("neighbor_id").as(idCol),
        element_at(col("_nl"), 1).getField("cid").as("cid"))
  }

  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      numLists: Int = 16, nProbe: Int = 4, seed: Long = 42L,
      vecCol: String = "embedding", idCol: String = "vec_id",
      trainIters: Int = 0): DataFrame = {
    val c0 = corpus.select(col(idCol).as("neighbor_id"), toDoubleVec(col(vecCol)).as("cv"))
      .withColumn("cn", normSq(col("cv")))
    // deterministic centroid sample; the centroid set is tiny and
    // driver-materialized, so list assignment is a pure codegen'd
    // expression chain over literal centroid arrays — zero shuffle,
    // embarrassingly parallel, which is what an index build over 100 TB
    // needs (the previous formulation ran a row_number window over
    // corpus × centroids: a full corpus shuffle+sort to pick an argmax).
    val centRows: Array[(Any, Seq[Double])] = sampleCentroids(c0, numLists, seed)
    if (centRows.isEmpty)
      return queries.select(col(idCol).as("query_id"))
        .withColumn("neighbor_id", col("query_id"))
        .withColumn("rank", lit(1)).withColumn("score", lit(0.0d)).limit(0)

    // Optional Lloyd (k-means) refinement of the coarse quantizer — tighter
    // lists raise recall at the same nProbe. Per round: the same codegen'd
    // argmin assignment (zero shuffle) + an element-wise mean via
    // posexplode; the explode is narrow and the groupBy partial-aggregates,
    // so the shuffle carries only lists × dim × partitions rows. Trained
    // centroids are synthetic means, so list ids become indices (the
    // default trainIters = 0 keeps the md5-sampled corpus vectors — the
    // configuration the q39 DuckDB oracle reproduces).
    val centroids: Array[(Any, Seq[Double])] =
      if (trainIters <= 0) centRows
      else {
        var cents: Array[Seq[Double]] = centRows.map(_._2)
        for (_ <- 1 to trainIters) {
          val labeled = cents.zipWithIndex.map { case (v, i) => (i.asInstanceOf[Any], v) }
          // per-(list, dim, PARTITION) partial sums, folded in fixed
          // partition order INSIDE the executors ([[pinnedMeans]] — same
          // IEEE op sequence as a driver fold, but only lists×dim rows
          // ever reach the driver)
          val folded = pinnedMeans(
            c0.withColumn("cid",
                nearestLists(labeled)(col("cv"), col("cn"), 1).getItem(0).getField("cid"))
              .select(col("cid"), posexplode(col("cv")).as(Seq("pos", "x"))),
            Seq("cid", "pos"))
          val means = folded
            .groupBy(_.getInt(0))
            .map { case (cid, rows) =>
              cid -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
            }
          // a list that attracted no rows keeps its previous centroid
          cents = cents.zipWithIndex.map { case (old, i) => means.getOrElse(i, old) }
        }
        cents.zipWithIndex.map { case (v, i) => (i.asInstanceOf[Any], v) }
      }

    val assigned = c0.withColumn("cid",
      nearestLists(centroids)(col("cv"), col("cn"), 1).getItem(0).getField("cid"))
    val probes = queries
      .select(col(idCol).as("query_id"), toDoubleVec(col(vecCol)).as("qv"))
      .withColumn("qn", normSq(col("qv")))
      .withColumn("_probe", explode(nearestLists(centroids)(col("qv"), col("qn"), nProbe)))
      .withColumn("cid", col("_probe").getField("cid"))
      .drop("_probe")
    val scored = assigned.join(broadcast(probes), Seq("cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", cosinePre(dot(col("qv"), col("cv")), col("qn"), col("cn")))
    scored.withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("score").desc, col("neighbor_id").asc)))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "score")
  }

  /** Product-quantized (PQ) ANN: each vector is compressed to `m` one-byte
    * codes — dimension split into `m` subspaces, each sub-vector snapped to
    * the nearest of `ks` codewords — and candidates are scored by ADC
    * (asymmetric distance computation): the query precomputes an m×ks
    * lookup table of exact sub-dot-products, and scoring a candidate is m
    * table lookups and adds over its code bytes
    * ([[graft.functions.AdcScore]], codegen'd). At 100 TB the scan reads
    * `m` bytes per vector instead of `dim·8` — here 64 B vs 512 B — the
    * memory-compression step that makes an exhaustive rerank feasible;
    * compose with [[ivfTopK]]'s list pruning for IVF-PQ.
    *
    * Codewords are drawn deterministically from the corpus (the same
    * md5-ordered sample the IVF oracle reproduces), sub-sliced per
    * subspace: no training pass, engine-portable, so the whole search is
    * fully oracled. Every FP reduction is order-pinned (sequential fold
    * over subspace elements; ascending-subspace ADC accumulation), so
    * scores are bit-reproducible across engines.
    *
    * Scores are quantized cosine: adcDot / (‖q‖ · ‖v̂‖) with ‖v̂‖² looked
    * up from the same code bytes via a codeword-norm table. Recall vs the
    * float brute force is asserted in ExtSpec. */
  /** The persistent half of [[pqTopK]]: codebooks + the encoded corpus.
    * Build once, reuse across query batches (`encoded` is safe to cache or
    * write out — it is just (id, codes) rows, m bytes of code per vector). */
  case class PqIndex(m: Int, ks: Int, sub: Int,
      codewords: Array[Array[Seq[Double]]], cnormLut: Seq[Double],
      encoded: DataFrame)

  /** SemDeDup-style semantic deduplication: cluster the corpus with the
    * deterministic md5-sampled coarse quantizer (the q39 oracle-portable
    * assignment — a pure codegen'd argmax over literal centroids, zero
    * shuffle), then inside each cluster drop every vector whose cosine to
    * an EARLIER member (id order — first occurrence owns, the same
    * convention as span dedup) exceeds `threshold`. Returns the kept
    * `(vec_id, cid)` rows.
    *
    * The scale story is the SemDeDup paper's: near-duplicate pairs are
    * only sought WITHIN a cluster, so the pairwise work is
    * Σ cluster_size² instead of corpus² — one hash shuffle on the cluster
    * id co-locates each cluster, and everything before it is map-side.
    * Every FP reduction is order-pinned (sequential dot folds), so the
    * keep set is bit-reproducible and DuckDB-replayable. */
  def semanticDedup(corpus: DataFrame, numClusters: Int = 16,
      threshold: Double = 0.99, seed: Long = 42L,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val c0 = corpus.select(col(idCol).as("vec_id"), toDoubleVec(col(vecCol)).as("cv"))
      .withColumn("cn", normSq(col("cv")))
    val cents = sampleCentroids(
      c0.select(col("vec_id").as("neighbor_id"), col("cv")), numClusters, seed)
    require(cents.nonEmpty, "semanticDedup: empty corpus")
    val assigned = c0.withColumn("cid",
      nearestLists(cents)(col("cv"), col("cn"), 1).getItem(0).getField("cid"))
    val earlier = assigned.select(col("cid"), col("vec_id").as("b_id"),
      col("cv").as("b_cv"), col("cn").as("b_cn"))
    val dropped = assigned.join(earlier, Seq("cid"))
      .filter(col("b_id") < col("vec_id"))
      .filter(cosinePre(dot(col("cv"), col("b_cv")), col("cn"), col("b_cn")) >
        lit(threshold))
      .select("vec_id").distinct()
    assigned.join(dropped, Seq("vec_id"), "left_anti").select("vec_id", "cid")
  }

  /** Squared-distance argmin code of subspace `j` of `v` against the
    * codebook: `argmin_c ‖s − c‖²` via the `‖c‖² − 2·s·c` expansion (the
    * `‖s‖²` term is constant per row). A pure codegen'd literal-chain
    * expression — zero shuffle, the same shape [[nearestLists]] uses. */
  private[graft] def pqCode(codewords: Array[Array[Seq[Double]]], cnormLut: Seq[Double],
      sub: Int, ks: Int)(v: Column, j: Int): Column = {
    val s = slice(v, j * sub + 1, sub)
    array_min(array((0 until ks).map { cI =>
      val cw = codewords(j)(cI)
      struct((lit(cnormLut(j * ks + cI)) - lit(2.0d) * dot(s, array(cw.map(lit): _*)))
        .as("d"), lit(cI).as("i"))
    }: _*)).getField("i")
  }

  private[graft] def pqNormLut(codewords: Array[Array[Seq[Double]]], m: Int,
      ks: Int): Seq[Double] =
    for (j <- 0 until m; c <- 0 until ks) yield {
      var acc = 0.0d
      codewords(j)(c).foreach(y => acc += y * y)
      acc
    }

  /** Per-subspace Lloyd refinement of PQ codebooks — the training pass that
    * turns the md5-sampled seed codewords into centroids of what they
    * actually encode. One round is one distributed job for ALL m subspaces:
    * the codegen'd argmin assigns every subspace's code map-side (zero
    * shuffle), a narrow posexplode keys each element by (subspace, code,
    * offset), and the groupBy partial-aggregates so the shuffle carries
    * only m·ks·sub·partitions rows. Means are folded in fixed partition
    * order inside the executors ([[pinnedMeans]] — shuffle-block arrival
    * order must not leak into FP low-order bits), and only m·ks·sub mean
    * rows reach the driver. A codeword that attracted no sub-vectors keeps
    * its previous value. */
  private def lloydCodewords(c0: DataFrame, m: Int, ks: Int, sub: Int,
      init: Array[Array[Seq[Double]]], iters: Int): Array[Array[Seq[Double]]] = {
    var cws = init
    for (_ <- 1 to iters) {
      val lut = pqNormLut(cws, m, ks)
      val codes = graft.functions.PqOps.encode(col("cv"), cws, lut, ks, sub)
      val folded = pinnedMeans(
        c0.select(codes.as("codes"), posexplode(col("cv")).as(Seq("pos", "x")))
          .withColumn("j", (col("pos") / lit(sub)).cast("int"))
          .withColumn("rel", col("pos") % lit(sub))
          .withColumn("code", element_at(col("codes"), col("j") + 1)),
        Seq("j", "code", "rel"))
      val means = folded
        .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getDouble(3))
        .toMap
      cws = Array.tabulate(m)(j => Array.tabulate(ks) { c =>
        if (means.contains((j, c, 0))) Seq.tabulate(sub)(rel => means((j, c, rel)))
        else cws(j)(c)
      })
    }
    cws
  }

  /** Build the PQ index for a corpus: deterministic md5-sampled codebooks,
    * zero-shuffle literal-chain encoding (see [[pqTopK]]). `trainIters > 0`
    * adds per-subspace Lloyd refinement ([[lloydCodewords]]) — tighter
    * codebooks, higher raw-ADC recall at the same m/ks; the default 0 keeps
    * the engine-portable sampled codebooks the q88 oracle reproduces. */
  def pqIndex(corpus: DataFrame, m: Int = 8, ks: Int = 16, seed: Long = 42L,
      vecCol: String = "embedding", idCol: String = "vec_id",
      trainIters: Int = 0): PqIndex = {
    import graft.functions.Int8Ops
    val dim = corpus.select(size(col(vecCol))).head().getInt(0)
    require(dim % m == 0, s"pqIndex: dim $dim not divisible into $m subspaces")
    val sub = dim / m
    val c0 = corpus.select(col(idCol).as("neighbor_id"), toDoubleVec(col(vecCol)).as("cv"))
    val sampled: Array[Seq[Double]] = c0
      .orderBy(md5(concat(col("neighbor_id").cast("string"), lit(":" + seed))).asc,
        col("neighbor_id").asc)
      .limit(ks).collect().map(_.getSeq[Double](1))
    require(sampled.length == ks, s"pqIndex: corpus smaller than ks=$ks")
    val seeded: Array[Array[Seq[Double]]] =
      Array.tabulate(m)(j => sampled.map(_.slice(j * sub, j * sub + sub)))
    val codewords =
      if (trainIters <= 0) seeded
      else lloydCodewords(c0, m, ks, sub, seeded, trainIters)
    val cnormLut = pqNormLut(codewords, m, ks)
    // native all-subspace encode (codebook as a reference object — constant
    // codegen size; bit-identical to the pqCode literal chain, see PqEncode)
    val encoded = c0.withColumn("codes",
      Int8Ops.pack(graft.functions.PqOps.encode(col("cv"), codewords, cnormLut, ks, sub)))
      .select("neighbor_id", "codes")
    PqIndex(m, ks, sub, codewords, cnormLut, encoded)
  }

  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      m: Int = 8, ks: Int = 16, seed: Long = 42L, rerank: Int = 0,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame =
    pqSearch(pqIndex(corpus, m, ks, seed, vecCol, idCol), corpus, queries, k, rerank,
      vecCol, idCol)

  /** ADC search over a prebuilt [[PqIndex]] — the per-query-batch cost at
    * scale: scan m code bytes per candidate, no per-dimension FP.
    * `corpus` is only consulted when `rerank > 0` (exact rescoring of the
    * shortlist). */
  def pqSearch(index: PqIndex, corpus: DataFrame, queries: DataFrame, k: Int,
      rerank: Int = 0,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    import graft.functions.Int8Ops
    val PqIndex(m, ks, sub, codewords, cnormLut, encoded) = index
    val c0 = corpus.select(col(idCol).as("neighbor_id"), toDoubleVec(col(vecCol)).as("cv"))

    // query side: exact sub-dot LUT (m×ks flattened, subspace-major) — a
    // native expression carrying the codebook as a reference object
    // (constant generated-code size; bit-identical to the literal-chain
    // dot(slice(...)) expansion, see PqLut)
    val q = queries.select(col(idCol).as("query_id"), toDoubleVec(col(vecCol)).as("qv"))
      .withColumn("qn", normSq(col("qv")))
      .withColumn("lut", graft.functions.PqOps.lut(col("qv"), codewords, ks, sub))
      .select("query_id", "qn", "lut")

    // candidate-side code norm: per CANDIDATE, hoisted above the join so it
    // is computed once per corpus row, not once per (query × candidate) pair
    val cnLit = array(cnormLut.map(lit): _*)
    val enc = encoded.withColumn("cn_adc", Int8Ops.adc(col("codes"), cnLit, ks))
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("neighbor_id").asc)
    val scored = enc.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("score",
        Int8Ops.adc(col("codes"), col("lut"), ks) /
          (sqrt(col("qn")) * sqrt(col("cn_adc"))))
      .withColumn("rank", row_number().over(w))
    if (rerank <= 0)
      scored.filter(col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "score")
    else {
      // production PQ shape: the compressed scan produces a rerank·k
      // shortlist per query, then only those candidates are exact-scored
      // against the full vectors — the expensive FP work touches
      // Q·rerank·k rows, never the corpus
      val shortlist = scored.filter(col("rank") <= rerank * k)
        .select("query_id", "neighbor_id")
      val qv = queries.select(col(idCol).as("query_id"), toDoubleVec(col(vecCol)).as("qv"))
        .withColumn("qn", normSq(col("qv")))
      val cvn = c0.withColumn("cn", normSq(col("cv")))
      val exact = shortlist.join(cvn, Seq("neighbor_id")).join(broadcast(qv), Seq("query_id"))
        .withColumn("score", cosinePre(dot(col("qv"), col("cv")), col("qn"), col("cn")))
      exact.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "score")
    }
  }

  /** IVF-PQ: the full production ANN architecture — coarse lists prune the
    * candidate set (only `nProbe` of `numLists` lists are touched per
    * query) and PQ codes compress what remains (m bytes scanned per
    * candidate, ADC lookup scoring), with an optional exact rerank of the
    * shortlist. At 100 TB: the scan touches nProbe/numLists of the corpus
    * and reads 8 bytes per touched vector instead of 512 — the two
    * reductions compose multiplicatively. Both quantizers are the
    * deterministic md5 sample, so results are reproducible run to run. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      numLists: Int = 16, nProbe: Int = 4, m: Int = 8, ks: Int = 16,
      seed: Long = 42L, rerank: Int = 0,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    import graft.functions.Int8Ops
    val c0 = corpus.select(col(idCol).as("neighbor_id"), toDoubleVec(col(vecCol)).as("cv"))
      .withColumn("cn", normSq(col("cv")))
    val cents = sampleCentroids(c0, numLists, seed)
    require(cents.nonEmpty, "ivfPqTopK: empty corpus")
    val index = pqIndex(corpus, m, ks, seed, vecCol, idCol)
    val sub = index.sub

    // one corpus pass builds BOTH halves of the index: the list id (coarse
    // argmax, literal chain) and the PQ code bytes — zero shuffle
    val assigned = index.encoded
      .join(c0, Seq("neighbor_id"))
      .withColumn("cid", nearestLists(cents)(col("cv"), col("cn"), 1)
        .getItem(0).getField("cid"))
      .select("neighbor_id", "cid", "codes")

    val probes = queries
      .select(col(idCol).as("query_id"), toDoubleVec(col(vecCol)).as("qv"))
      .withColumn("qn", normSq(col("qv")))
      .withColumn("lut", graft.functions.PqOps.lut(col("qv"), index.codewords, ks, sub))
      .withColumn("_probe", explode(nearestLists(cents)(col("qv"), col("qn"), nProbe)))
      .withColumn("cid", col("_probe").getField("cid"))
      .select("query_id", "qn", "lut", "cid")

    val cnLit = array(index.cnormLut.map(lit): _*)
    val assignedN = assigned.withColumn("cn_adc", Int8Ops.adc(col("codes"), cnLit, ks))
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("neighbor_id").asc)
    val scored = assignedN.join(broadcast(probes), Seq("cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score",
        Int8Ops.adc(col("codes"), col("lut"), ks) /
          (sqrt(col("qn")) * sqrt(col("cn_adc"))))
      .withColumn("rank", row_number().over(w))
    if (rerank <= 0)
      scored.filter(col("rank") <= k).select("query_id", "neighbor_id", "rank", "score")
    else {
      val shortlist = scored.filter(col("rank") <= rerank * k)
        .select("query_id", "neighbor_id")
      val qv = queries.select(col(idCol).as("query_id"), toDoubleVec(col(vecCol)).as("qv"))
        .withColumn("qn", normSq(col("qv")))
      val exact = shortlist.join(c0, Seq("neighbor_id")).join(broadcast(qv), Seq("query_id"))
        .withColumn("score", cosinePre(dot(col("qv"), col("cv")), col("qn"), col("cn")))
      exact.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "score")
    }
  }

  /** Multi-table LSH ANN: `numTables` independent hyperplane signatures;
    * a query probes, per table, its own bucket plus every Hamming-1 bucket,
    * then exact-refines candidates and takes top-k. More tables → higher
    * recall at the cost of `numTables`× the bucketed index size — the
    * standard memory/recall trade; on random (near-orthogonal) data recall
    * needs several tables, on clustered real embeddings fewer. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      numPlanes: Int = 8, numTables: Int = 12, seed: Long = 42L,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val dim = corpus.select(size(col(vecCol))).head().getInt(0)
    val tables = (0 until numTables).map(t => randomPlanes(numPlanes, dim, seed + t))

    val c0 = corpus.select(col(idCol).as("neighbor_id"), toDoubleVec(col(vecCol)).as("cv"))
      .withColumn("cn", normSq(col("cv")))
    // corpus indexed once per table: (table, bucket) exploded
    val c = c0.withColumn("tb", explode(array(tables.zipWithIndex.map { case (p, t) =>
        struct(lit(t).as("t"), hyperplaneSignature(col("cv"), p).as("bucket"))
      }: _*)))
      .select(col("neighbor_id"), col("cv"), col("cn"), col("tb.t"), col("tb.bucket"))

    val q0 = queries.select(col(idCol).as("query_id"), toDoubleVec(col(vecCol)).as("qv"))
      .withColumn("qn", normSq(col("qv")))
    // per table: one signature, then own bucket + Hamming-1 probes (flip 0
    // keeps the bucket, flip 1<<i moves to the neighbour across plane i)
    val q = q0.withColumn("tb", explode(array(tables.zipWithIndex.map { case (p, t) =>
        struct(lit(t).as("t"), hyperplaneSignature(col("qv"), p).as("sig"))
      }: _*)))
      .withColumn("flip", explode(array(
        (0L +: (0 until numPlanes).map(1L << _)).map(lit): _*)))
      .select(col("query_id"), col("qv"), col("qn"), col("tb.t"),
        col("tb.sig").bitwiseXOR(col("flip")).as("bucket"))

    val scored = c.join(broadcast(q), Seq("t", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .groupBy("query_id", "neighbor_id")
      .agg(first("qv").as("qv"), first("qn").as("qn"),
        first("cv").as("cv"), first("cn").as("cn"))
      .withColumn("score", cosinePre(dot(col("qv"), col("cv")), col("qn"), col("cn")))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("score").desc, col("neighbor_id").asc)))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "score")
  }
}
