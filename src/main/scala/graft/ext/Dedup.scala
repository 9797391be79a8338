package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication for large text corpora — the operations a 100 TB
  * training-data pipeline runs before anything else. Scale shape for every
  * variant: map-side signature computation (codegen'd expressions), one
  * shuffle on the signature/bucket key, pair refinement joined only within
  * buckets — never an all-pairs cross join.
  */
object Dedup {

  // ---- exact ----------------------------------------------------------

  /** Exact dedup: keep the smallest id per normalized-content fingerprint.
    * One hash-shuffle; survivors keep their full row. */
  def exact(df: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val w = Window.partitionBy("_fp").orderBy(col(idCol).asc)
    df.withColumn("_fp", TextAnalysis.fingerprint(col(textCol)))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_fp", "_rn")
  }

  /** Count of copies per distinct content (diagnostics / weighting). */
  def copyCounts(df: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    df.groupBy(TextAnalysis.fingerprint(col(textCol)).as("fingerprint"))
      .agg(count(lit(1)).as("n_copies"), min(col(idCol)).as("keep_id"))

  /** Incremental cross-snapshot exact dedup: survivors of a NEW `batch`
    * against a persisted fingerprint index (a graft table keyed on the
    * content fingerprint) — the production shape of exact dedup, where
    * each day's crawl dedups against everything ever ingested without
    * re-reading the corpus.
    *
    * Within-batch duplicates keep the smallest id; batch rows whose
    * fingerprint the index already contains drop. `commit = true` then
    * inserts the survivors' (fingerprint, id) into the index so the next
    * batch probes an up-to-date corpus memory — the index is the only
    * state, and it grows by distinct content, not by corpus reads. The
    * probe and the insert read ONE index snapshot and commit the next
    * version (a conflicting commit reruns both), so two writers racing on
    * the same new content never both keep it.
    *
    * Scale shape: one hash agg over the batch, then the index's pruned
    * probe — the batch's key summary (one job), key-range + bloom-sidecar
    * pruning and one job collecting the batch keys found in the candidate
    * index files, cost ∝ batch and its candidate files, never index size
    * ([[graft.lake.LakeTable.containsKeys]]). `commit = true` probes and
    * inserts in one write that writes the absent rows with no detection
    * scan and no rewrite. The returned frame, the batch rows minus the
    * present fingerprints (an anti-join with that driver-side set),
    * carries the batch's columns plus `fingerprint`. */
  def incrementalDedup(index: graft.lake.LakeTable, batch: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      commit: Boolean = true): DataFrame = {
    val spec = index.spec
    val key = spec.key
    val fp = batch.withColumn("fingerprint", TextAnalysis.fingerprint(col(textCol)))
    val firstIds = fp.groupBy("fingerprint").agg(min(col(idCol)).as(idCol))
    val inBatch = fp.join(firstIds, Seq("fingerprint", idCol), "left_semi")
    val seen =
      if (commit) index.insertAbsent(inBatch.select(col("fingerprint").as(key),
        col(idCol).cast("long").as(spec.precombine)))
      else index.containsKeys(fp.select(col("fingerprint").as(key)))
    inBatch.join(seen.withColumnRenamed(key, "fingerprint"), Seq("fingerprint"), "left_anti")
  }

  // ---- shingles -------------------------------------------------------

  /** Distinct word k-shingles per document (native expression — see
    * [[graft.functions.WordShingles]]). */
  def shingles(text: Column, k: Int = 3): Column =
    graft.functions.WordShingles.shingles(text, k)

  /** Builtin-only formulation, kept as the semantic spec of [[shingles]]
    * (interpreted; cross-checked in ExtSpec). `try_element_at`: past-end
    * probes must yield null for concat_ws to skip (plain element_at throws
    * under ANSI mode on shorter-than-k docs). */
  def shinglesHof(text: Column, k: Int = 3): Column = {
    val toks = TextAnalysis.tokens(text)
    val idxs = sequence(lit(1), greatest(size(toks) - (k - 1), lit(1)))
    array_distinct(transform(idxs, i => concat_ws(" ",
      (0 until k).map(off => try_element_at(toks, i + off)): _*)))
  }

  // ---- n-gram Jaccard -------------------------------------------------

  /** Near-dup pairs by exact n-gram Jaccard ≥ threshold. Returns
    * (id_a, id_b, jaccard) with id_a < id_b.
    *
    * Default plan: inverted index on ALL shingles (explode → join on
    * shingle → per-pair overlap count), cost Σ posting-list² — exact and
    * simple, but a corpus-common shingle ("in the of") contributes a
    * quadratic posting list.
    *
    * `prefixFilter = true` switches to the PPJoin/SSJoin prefix-filtering
    * plan (Chaudhuri et al. ICDE'06, Xiao et al. WWW'08): order every
    * document's shingles by a GLOBAL canonical order (ascending document
    * frequency, ties by value — rarest first), index only each document's
    * PREFIX of `|sh| − ⌈t·|sh|⌉ + 1` shingles, and join prefixes under
    * the length filter `t·|a| ≤ |b| ∧ t·|b| ≤ |a|`. Guarantee: a pair at
    * Jaccard ≥ t shares ≥ ⌈t·max(|a|,|b|)⌉ shingles, so its prefixes
    * must intersect — zero false negatives; candidates then verify with
    * an EXACT `array_intersect` overlap. At corpus scale this turns the
    * quadratic head-token posting lists into rare-token lists (a
    * same-length pair is only generated by its (1−t) rarest shingles),
    * at the cost of one extra shuffle to learn document frequencies. */
  def ngramJaccardPairs(df: DataFrame, threshold: Double, k: Int = 3,
      textCol: String = "text", idCol: String = "doc_id",
      prefixFilter: Boolean = false): DataFrame = {
    val docs = df.select(col(idCol).as("id"), shingles(col(textCol), k).as("sh"))
      .withColumn("n_sh", size(col("sh")))
    if (prefixFilter) {
      val cand = prefixCandidates(docs, threshold)
      val exact = cand
        .join(docs.select(col("id").as("id_a"), col("sh").as("sh_a"),
          col("n_sh").as("na")), Seq("id_a"))
        .join(docs.select(col("id").as("id_b"), col("sh").as("sh_b"),
          col("n_sh").as("nb")), Seq("id_b"))
        .withColumn("common", size(array_intersect(col("sh_a"), col("sh_b"))))
      exact
        .withColumn("jaccard",
          col("common").cast("double") / (col("na") + col("nb") - col("common")).cast("double"))
        .filter(col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    } else {
      val inv = docs.select(col("id"), col("n_sh"), explode(col("sh")).as("s"))
      val pairs = inv.as("a").join(inv.as("b"),
          col("a.s") === col("b.s") && col("a.id") < col("b.id"))
        .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
          col("a.n_sh").as("na"), col("b.n_sh").as("nb"))
        .agg(count(lit(1)).as("common"))
      pairs
        .withColumn("jaccard",
          col("common").cast("double") / (col("na") + col("nb") - col("common")).cast("double"))
        .filter(col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    }
  }

  /** PPJoin candidate pairs (see [[ngramJaccardPairs]]): distinct
    * (id_a, id_b) whose frequency-ordered PREFIXES share a shingle under
    * the length filter. `docs` must carry (id, sh, n_sh). Exposed for the
    * candidate-count assertion in ExtSpec — the whole point of prefix
    * filtering is that this set is far smaller than the full inverted
    * index's pair set. */
  private[graft] def prefixCandidates(docs: DataFrame, threshold: Double): DataFrame = {
    val toks = docs.select(col("id"), col("n_sh"), explode(col("sh")).as("s"))
    val dfreq = toks.groupBy("s").agg(count(lit(1)).as("dfreq"))
    // canonical global order: rarest shingle first, ties by value — both
    // sides sort identically, the prefix-filter precondition
    val ordered = toks.join(dfreq, Seq("s"))
      .groupBy("id", "n_sh")
      .agg(sort_array(collect_list(struct(col("dfreq"), col("s")))).as("ordered"))
    val prefix = ordered
      .withColumn("pref_len",
        (col("n_sh") - ceil(col("n_sh") * lit(threshold)) + lit(1)).cast("int"))
      .select(col("id"), col("n_sh"),
        explode(slice(transform(col("ordered"), x => x.getField("s")),
          lit(1), col("pref_len"))).as("s"))
    prefix.as("a").join(prefix.as("b"),
        col("a.s") === col("b.s") && col("a.id") < col("b.id") &&
          col("b.n_sh").cast("double") >= col("a.n_sh") * lit(threshold) &&
          col("a.n_sh").cast("double") >= col("b.n_sh") * lit(threshold))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** EXACT edit-distance-≤1 similarity join via deletion neighborhoods
    * (the FastSS/SymSpell scheme): two strings with unit-cost edit
    * distance ≤ 1 MUST share a member of their deletion neighborhoods
    * ({s} ∪ {s minus one char}) — equality shares s itself, a
    * substitution at i shares both-minus-i, an insert/delete shares the
    * shorter string — so candidates come from one hash join on variant
    * strings and only they pay the `levenshtein` verify. Cost is
    * Σ string-length index entries and the collided pairs, never |L|·|R|
    * — the record-linkage / near-identical-key dedup primitive at corpus
    * scale. Returns (id_a, id_b, dist ∈ {0,1}) distinct pairs. */
  def editDistanceJoin(left: DataFrame, right: DataFrame,
      textCol: String = "name", leftId: String = "id_a",
      rightId: String = "id_b"): DataFrame = {
    def variants(c: Column): Column = array_union(
      array(c),
      transform(sequence(lit(1), length(c)),
        i => concat(c.substr(lit(1), i - 1), c.substr(i + 1, length(c) - i))))
    val l = left.select(col(leftId), col(textCol).as("_ta"))
      .withColumn("_v", explode(variants(col("_ta"))))
    val r = right.select(col(rightId), col(textCol).as("_tb"))
      .withColumn("_v", explode(variants(col("_tb"))))
    l.join(r, Seq("_v"))
      .select(col(leftId), col(rightId), col("_ta"), col("_tb")).distinct()
      .withColumn("dist", levenshtein(col("_ta"), col("_tb")))
      .filter(col("dist") <= 1)
      .select(leftId, rightId, "dist")
  }

  /** Cross-corpus CONTAMINATION check — the train/eval hygiene step of a
    * training-data pipeline: for every eval document, the share of its
    * k-shingles that appear anywhere in the training corpus (containment,
    * not Jaccard — a tiny eval doc fully quoted inside a big train doc
    * must score 1.0). Inverted-index join on DISTINCT train shingles, so
    * cost is eval-shingles × matches, never train×eval; the train side
    * collapses to one row per shingle (map-side partial distinct) no
    * matter how large the corpus. Returns (id, contamination) for eval
    * docs with any overlap ≥ threshold. */
  def contamination(train: DataFrame, eval0: DataFrame, threshold: Double = 0.8,
      k: Int = 3, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val trainSh = train.select(explode(shingles(col(textCol), k)).as("s")).distinct()
    val evalSh = eval0
      .select(col(idCol).as("id"), explode(shingles(col(textCol), k)).as("s"))
    val total = evalSh.groupBy("id").agg(count(lit(1)).as("n_total"))
    val hit = evalSh.join(trainSh, Seq("s"), "left_semi")
      .groupBy("id").agg(count(lit(1)).as("n_hit"))
    total.join(hit, Seq("id"), "left")
      .withColumn("contamination",
        coalesce(col("n_hit"), lit(0L)).cast("double") / col("n_total").cast("double"))
      .filter(col("contamination") >= threshold)
      .select(col("id").as(idCol), col("contamination"))
  }

  // ---- duplicate clustering -------------------------------------------

  /** Connected components over a near-dup pair graph: every id that appears
    * in a pair is labeled with the MINIMUM id reachable through pairs — the
    * "one canonical doc per duplicate cluster" step that turns pairwise
    * similarity output into a keep/drop decision. Iterative min-label
    * propagation: each round joins current labels across edges and keeps
    * the per-node minimum (hash joins + partial-agg min, no windows), and
    * stops when a round changes nothing. Duplicate clusters are shallow
    * (LSH emits near-cliques), so rounds ≈ cluster diameter, not corpus
    * size; every round is one narrow (id, label) shuffle. */
  def components(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
      maxIters: Int = 20): DataFrame = {
    val half = pairs.select(col(idA).as("src"), col(idB).as("dst"))
    val edges = half.union(half.select(col("dst"), col("src")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = edges.select(col("src").as("id"), col("src").as("label")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var converged = false
      var iter = 0
      while (!converged && iter < maxIters) {
        // min label among self and all neighbors
        val viaEdges = edges.join(labels, edges("dst") === labels("id"))
          .select(edges("src").as("id"), col("label"))
        val hopped = labels.union(viaEdges)
          .groupBy("id").agg(min(col("label")).as("label"))
        // pointer jump (label ← label's label): halves chain distance each
        // round, so convergence is O(log diameter) — a simple hop-only
        // propagation moves one step per round and long chains would hit
        // maxIters
        val l2 = hopped.select(col("id").as("j_id"), col("label").as("j_label"))
        // localCheckpoint truncates lineage — the hop + self-join doubles
        // the logical plan every round, and without truncation planning
        // cost (not data) becomes the bottleneck after ~10 rounds
        val next = hopped.join(l2, hopped("label") === l2("j_id"), "left")
          .select(hopped("id"),
            least(hopped("label"), coalesce(col("j_label"), hopped("label"))).as("label"))
          .localCheckpoint(true)
        val changed = next.join(labels.withColumnRenamed("label", "old"), Seq("id"))
          .filter(col("label") < col("old")).limit(1).count()
        labels.unpersist(blocking = false)
        labels = next
        converged = changed == 0
        iter += 1
      }
      require(converged,
        s"components did not converge in $maxIters rounds — raise maxIters")
      labels.select(col("id"), col("label").as("cluster_id"))
    } finally {
      edges.unpersist(blocking = false)
      ()
    }
  }

  /** Duplicate-cluster retention — the keep/drop decision that follows
    * near-dup detection in a training pipeline: each duplicate cluster
    * keeps exactly ONE representative, the member with the highest
    * `score` (quality, length, recency — caller's choice; ties broken by
    * smallest id), and docs in no pair are singleton clusters that always
    * survive. Returns one row per input doc — the input columns plus
    * `cluster_id`, `score`, and a `kept` boolean — so callers can filter
    * the keep set or audit the drop set. (Reference pipeline context:
    * README.md:1213-1224 keeps the latest row per key; this is the fuzzy
    * analog where "same key" is a near-dup cluster and "latest" is an
    * arbitrary quality score.)
    *
    * Scale shape: [[components]] labels only the PAIRED docs (cost ∝ the
    * pair graph, O(log diameter) rounds); the corpus then takes one keyed
    * left join against those labels (duplicate clusters are normally a few
    * percent of the corpus — AQE broadcasts the label table when small)
    * and one hash-shuffle window whose partitions are individual clusters
    * (singletons hash-spread by their own id) — never a global sort, never
    * an all-pairs stage.
    */
  def keepBestPerCluster(df: DataFrame, pairs: DataFrame, score: Column,
      idCol: String = "doc_id", idA: String = "id_a", idB: String = "id_b",
      maxIters: Int = 20): DataFrame = {
    // cluster_id/score/kept are the OUTPUT columns and _score/_cc_* are
    // internal — a caller column with any of those names would be silently
    // dropped or overwritten (an unqualified drop("id") here once ate a
    // caller's unrelated "id" column), so reject the collision loudly
    Seq("cluster_id", "score", "kept", "_score", "_cc_id", "_cc_label")
      .foreach(c => require(!df.columns.exists(_.equalsIgnoreCase(c)),
        s"keepBestPerCluster: input already has a '$c' column — rename it " +
          "(cluster_id/score/kept are outputs; _-prefixed names are internal)"))
    val labels = components(pairs, idA, idB, maxIters)
      .select(col("id").as("_cc_id"), col("cluster_id").as("_cc_label"))
    val labeled = df
      .withColumn("_score", score)
      .join(labels, df(idCol) === labels("_cc_id"), "left")
      .withColumn("cluster_id", coalesce(col("_cc_label"), col(idCol)))
      .drop("_cc_id", "_cc_label")
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("_score").desc, col(idCol).asc)
    labeled
      .withColumn("kept", row_number().over(w) === 1)
      .withColumnRenamed("_score", "score")
  }

  // ---- MinHash + LSH --------------------------------------------------

  /** MinHash signature over a (precomputed) shingle-array column: per seed,
    * the minimum xxhash64 over the doc's shingles. NOTE: higher-order
    * functions evaluate interpreted (outside whole-stage codegen) — fine
    * for per-pair refinement, but signature *computation* over a corpus
    * should use [[minhashSignatures]] (explode + codegen'd hash + partial
    * agg) instead. */
  def minhashSignature(shinglesCol: Column, numHashes: Int): Column =
    array((0 until numHashes).map { seed =>
      array_min(transform(shinglesCol, s => xxhash64(lit(seed), s)))
    }: _*)

  /** Corpus-scale MinHash signatures: explode shingles to rows, compute the
    * seeded hashes as plain codegen'd columns, aggregate per-doc minimums
    * map-side. One narrow shuffle of (id, 64 longs). `seededHash` defaults
    * to xxhash64 (fastest); pass [[portableSeededHash]] when another engine
    * must replay the signatures bit-for-bit. */
  def minhashSignatures(df: DataFrame, numHashes: Int, k: Int,
      textCol: String, idCol: String,
      seededHash: (Column, Column) => Column = (seed, s) => xxhash64(seed, s)): DataFrame = {
    val exploded = df
      .select(col(idCol).as("id"), explode(shingles(col(textCol), k)).as("s"))
    val mins = (0 until numHashes).map(seed =>
      min(seededHash(lit(seed), col("s"))).as(s"h$seed"))
    exploded.groupBy("id")
      .agg(mins.head, mins.tail: _*)
      .select(col("id"), array((0 until numHashes).map(i => col(s"h$i")): _*).as("sig"))
  }

  /** Engine-portable seeded shingle hash: 60-bit integer from the first 15
    * hex chars of `md5(seed + ":" + shingle)` — any engine with md5
    * recomputes it exactly (the seeded sibling of [[portableTokenHash]]). */
  def portableSeededHash(seed: Column, s: Column): Column =
    conv(substring(md5(concat_ws(":", seed, s)), 1, 15), 16, 10).cast("long")

  /** Banded index rows for a persisted MinHash-LSH near-dup index: one row
    * per (doc, band) carrying the record key `bk` = `bkey + ":" + id`, the
    * bucket key `bkey` = `band + ":" + the band's signature values joined`
    * (value concatenation, NOT a second hash — any engine replays it by
    * string equality), the doc id, and the full signature. */
  def nearDupIndexRows(df: DataFrame, numHashes: Int = 64, bands: Int = 16,
      k: Int = 3, textCol: String = "text", idCol: String = "doc_id",
      seededHash: (Column, Column) => Column = (seed, s) => xxhash64(seed, s)): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    minhashSignatures(df, numHashes, k, textCol, idCol, seededHash)
      .select(col("id"), col("sig"), explode(array((0 until bands).map(b =>
        concat_ws(":", lit(b), array_join(
          transform(slice(col("sig"), b * r + 1, r), _.cast("string")), ","))): _*))
        .as("bkey"))
      .select(concat_ws(":", col("bkey"), col("id")).as("bk"),
        col("bkey"), col("id").cast("long").as("doc_id"), col("sig"))
  }

  /** Incremental cross-snapshot NEAR-dup dedup: survivors of a new `batch`
    * against a persisted MinHash-LSH index (a graft table of
    * [[nearDupIndexRows]], keyed on `bk`) — the production shape of fuzzy
    * dedup, where each crawl increment dedups against every signature ever
    * admitted without re-reading corpus text.
    *
    * A batch doc drops when its estimated Jaccard — the fraction of equal
    * signature components, `eq/numHashes` — reaches `minEqual/numHashes`
    * against ANY indexed doc, or against any EARLIER batch doc
    * (first-occurrence-owns, the same rule as [[graft.ext.Similarity
    * .semanticDedup]]). `commit = true` upserts the survivors' band rows so
    * the index is the only cross-batch state.
    *
    * Scale shape: signature build is the one corpus-∝ pass (codegen'd
    * hashes, map-side min agg); the probe joins band buckets — the index
    * side moves only (bkey, id, sig) rows, ~1% of corpus bytes (the point
    * of signatures: text never moves); refinement is per candidate pair.
    * Estimated Jaccard (not exact) is deliberate: it needs no shingle
    * storage and is the standard at-scale practice (Gopher/RefinedWeb). */
  def incrementalNearDedup(index: graft.lake.LakeTable, batch: DataFrame,
      numHashes: Int = 64, bands: Int = 16, k: Int = 3, minEqual: Int = 58,
      textCol: String = "text", idCol: String = "doc_id",
      seededHash: (Column, Column) => Column = (seed, s) => xxhash64(seed, s),
      commit: Boolean = true): DataFrame = {
    // banded rows feed the index probe, the self-join (twice) and the
    // commit — persist for the duration of THIS function's jobs, then
    // release (round 5 leaked this persist: the returned frame is lazy, so
    // nothing ever unpersisted it and CacheManager entries accumulated per
    // call). The drop set is pinned via an eager localCheckpoint — block
    // storage the ContextCleaner reclaims on GC, not a CacheManager entry —
    // so the returned survivors frame references no persisted state at all.
    val rows = nearDupIndexRows(batch, numHashes, bands, k, textCol, idCol,
      seededHash).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      def eqCount(a: Column, b: Column): Column =
        aggregate(zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), _ + _)
      val idxRows = index.read().select(col("bkey"), col("doc_id").as("_iid"),
        col("sig").as("_isig"))
      val idxDrops = rows.join(idxRows, Seq("bkey"))
        .select(col("doc_id"), col("_iid"), col("sig"), col("_isig")).distinct()
        .filter(eqCount(col("sig"), col("_isig")) >= minEqual)
        .select("doc_id").distinct()
      val batchDrops = rows.as("a").join(rows.as("b"),
          col("a.bkey") === col("b.bkey") && col("a.doc_id") < col("b.doc_id"))
        .select(col("b.doc_id").as("doc_id"), col("a.sig").as("_sa"),
          col("b.sig").as("_sb")).distinct()
        .filter(eqCount(col("_sa"), col("_sb")) >= minEqual)
        .select("doc_id").distinct()
      val drops = idxDrops.unionByName(batchDrops).distinct().localCheckpoint()
      if (commit)
        index.upsert(rows.join(drops, Seq("doc_id"), "left_anti")
          .select("bk", "bkey", "doc_id", "sig"))
      batch.join(
        drops.select(col("doc_id").cast(batch.schema(idCol).dataType).as(idCol)),
        Seq(idCol), "left_anti")
    } finally rows.unpersist(blocking = false)
  }

  /** LSH banding: split the signature into `bands` bands and hash each —
    * docs sharing any band-hash become candidates. One shuffle on
    * (band_idx, band_hash). */
  def minhashCandidates(df: DataFrame, numHashes: Int, bands: Int, k: Int = 3,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val sig = minhashSignatures(df, numHashes, k, textCol, idCol)
    val banded = sig.select(col("id"), explode(
      array((0 until bands).map(b =>
        struct(lit(b).as("band"), xxhash64(slice(col("sig"), b * r + 1, r)).as("bh"))): _*)).as("bb"))
      .select(col("id"), col("bb.band"), col("bb.bh"))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** Full MinHash-LSH near-dup detection: LSH candidates refined with the
    * exact Jaccard over shingle sets. */
  def minhashPairs(df: DataFrame, threshold: Double, numHashes: Int = 64,
      bands: Int = 16, k: Int = 3,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val cand = minhashCandidates(df, numHashes, bands, k, textCol, idCol)
    // shingle arrays feed both sides of the refine join. NOT persisted: the
    // function returns a lazy frame, so a persist here could only be
    // released by the caller (the round-5 leak — CacheManager entries
    // accumulated per invocation); shingles are a native codegen'd
    // expression, so recomputing them on the second join side is a scan,
    // not the interpreted HOF the old cache was guarding against
    val docs = df.select(col(idCol).as("id"), shingles(col(textCol), k).as("sh"))
    cand
      .join(docs.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(docs.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  // ---- SimHash --------------------------------------------------------

  /** Engine-portable 60-bit token hash: the first 15 hex chars of md5,
    * parsed as an integer. Slower than xxhash64 (the default) but exactly
    * reproducible in any engine with md5 — used by the oracled q34 so the
    * DuckDB oracle can recompute the same signatures. */
  def portableTokenHash(t: Column): Column =
    conv(substring(md5(t), 1, 15), 16, 10).cast("long")

  /** SimHash (default 64-bit): weighted-majority per bit position over token
    * hashes, computed with nested higher-order functions (fold over tokens
    * of a ±1 bit-vector sum, then pack the sign bits). Bit positions are a
    * literal mask array because `shiftleft` only takes a static count. */
  def simhash(text: Column, bits: Int = 64,
      tokenHash: Column => Column = xxhash64(_)): Column = {
    val masks = array((0 until bits).map(i => lit(1L << i)): _*)
    val hashes = transform(TextAnalysis.tokens(text), tkn => tokenHash(tkn))
    val zeros = array_repeat(lit(0), bits)
    val counts = aggregate(hashes, zeros, (acc, h) =>
      zip_with(acc, masks, (c, m) => c + when(h.bitwiseAND(m) =!= 0L, 1).otherwise(-1)))
    aggregate(zip_with(counts, masks, (c, m) => when(c > 0, m).otherwise(0L)),
      lit(0L), (acc, v) => acc.bitwiseOR(v))
  }

  /** SimHash near-dup pairs: candidates share one of four bits/4-wide
    * chunks (any pair within Hamming distance 3 must agree on ≥1 chunk),
    * refined by exact Hamming distance. */
  def simhashPairs(df: DataFrame, maxHamming: Int = 3,
      textCol: String = "text", idCol: String = "doc_id", bits: Int = 64,
      tokenHash: Column => Column = xxhash64(_)): DataFrame = {
    require(bits % 4 == 0, "bits must split into 4 chunks")
    val cw = bits / 4 // chunk width
    // NOT persisted (the round-5 leak): both sides of the candidate
    // self-join below shuffle the SAME chunked frame on (chunk, ch), so
    // ReuseExchange materializes the signature computation once; a persist
    // on a lazily-returned frame can never be unpersisted by this function
    val sigs = df.select(col(idCol).as("id"),
        simhash(col(textCol), bits, tokenHash).as("sig"))
    val chunked = sigs.select(col("id"), col("sig"), explode(
      array((0 until 4).map(c => struct(lit(c).as("chunk"),
        shiftrightunsigned(col("sig"), c * cw).bitwiseAND((1L << cw) - 1).as("ch"))): _*)).as("cc"))
      .select(col("id"), col("sig"), col("cc.chunk"), col("cc.ch"))
    chunked.as("a").join(chunked.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.ch") === col("b.ch") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  // ---- embedding near-dup --------------------------------------------

  /** Embedding-cosine near-dup pairs via hyperplane LSH bucketing + exact
    * refine (see Similarity for the ANN search variant). */
  def embeddingPairs(df: DataFrame, threshold: Double, numPlanes: Int = 12,
      seed: Long = 42L, vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    import graft.functions.VectorOps._
    val dim = df.select(size(col(vecCol))).head().getInt(0)
    val planes = randomPlanes(numPlanes, dim, seed)
    val sigs = df.select(col(idCol).as("id"), toDoubleVec(col(vecCol)).as("v"))
      .withColumn("bucket", hyperplaneSignature(col("v"), planes))
      .withColumn("nsq", normSq(col("v")))
    sigs.as("a").join(sigs.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .withColumn("cosine",
        cosinePre(dot(col("a.v"), col("b.v")), col("a.nsq"), col("b.nsq")))
      .filter(col("cosine") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("cosine"))
  }

  // ---- span-level dedup ------------------------------------------------

  /** SPAN-level exact dedup — C4's "remove any three-sentence span seen
    * before" / MassiveText's repeated-passage removal, on word windows:
    * every occurrence of a `spanWords`-word sliding window that is NOT the
    * corpus-wide first occurrence (lexicographic (doc, position)) has its
    * word positions blanked, and the surviving words are re-joined into the
    * cleaned text. Whole-doc dedup (exact/minhash) misses a boilerplate
    * paragraph pasted into a thousand otherwise-distinct pages; this is the
    * operator that catches it.
    *
    * Scale shape: explode = one row per word position (the inherent cost of
    * span analysis); spans travel as 16-byte md5 digests, not 100-byte
    * strings; ownership is ONE `min(...) over (partition by span)` window —
    * a single corpus pass and a single exchange (the groupBy+re-join
    * alternative recomputed the whole explode+md5 pass on its probe side;
    * round-13 measured the window 2.5× faster). The deliberate TRADEOFF:
    * a window partition gets no map-side partial aggregation and AQE does
    * not split skewed window partitions, so a corpus-hot span (boilerplate
    * pasted into millions of docs) ships every occurrence — ~40-byte rows —
    * to one reducer, which spills but serializes that task. If a profile
    * shows a hot span dominating at production scale, switch ownership back
    * to `groupBy(span).agg(min)` + re-join over a persisted span frame
    * (partial agg + AQE-splittable join, at the cost of materializing the
    * exploded spans once). Coverage and reconstruction are keyed
    * (doc, position) hash shuffles — no cartesian joins, no driver state.
    *
    * @return one row per input doc: (idCol, n_words, n_kept, text_dedup) —
    *         `text_dedup` is empty when every span was owned elsewhere. */
  def spanDedup(df: DataFrame, spanWords: Int = 15,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // (doc, pos) -> one sortable scalar so first-occurrence is a plain MIN
    // (engine-portable: the oracle computes the same arithmetic); positions
    // are bounded by doc length << 2^20
    val ord = lit(1L << 20)
    val base = df.select(col(idCol).as("id"), split(trim(col(textCol)), "\\s+").as("w"))
    // span digests travel as 16-byte binary (unhex(md5)) — half the
    // hex-string shuffle bytes; ownership is a MIN window over the digest,
    // not a groupBy + re-join: the re-join recomputed the whole
    // explode+md5 corpus pass on its probe side AND shuffled the spans a
    // second time (round-13 plan audit: two identical corpus-scale map
    // stages per evaluation). One pass, one exchange, same min.
    val spans = base
      .select(col("id"), posexplode(when(size(col("w")) >= spanWords,
        expr(s"transform(sequence(0, size(w) - $spanWords), " +
          s"i -> unhex(md5(concat_ws(' ', slice(w, i + 1, $spanWords)))))")).otherwise(array())))
      .toDF("id", "pos", "span")
    val own = min(col("id") * ord + col("pos"))
      .over(Window.partitionBy("span"))
    val dups = spans.withColumn("own", own)
      .filter(col("id") * ord + col("pos") =!= col("own"))
      .select("id", "pos")
    val covered = dups
      .select(col("id"), explode(sequence(col("pos"), col("pos") + lit(spanWords - 1))).as("p"))
      .distinct()
    val words = base.select(col("id"), posexplode(col("w"))).toDF("id", "p", "word")
    val kept = words.join(covered, Seq("id", "p"), "left_anti")
      .groupBy("id").agg(count(lit(1)).as("n_kept"),
        concat_ws(" ",
          expr("transform(array_sort(collect_list(struct(p, word))), x -> x.word)"))
          .as("text_dedup"))
    base.select(col("id"), size(col("w")).cast("long").as("n_words"))
      .join(kept, Seq("id"), "left")
      .select(col("id").as(idCol), col("n_words"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"))
  }
}
