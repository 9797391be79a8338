package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}

import graft.lake.{LakeTable, TableSpec}

/** PERSISTED incremental inverted text index — the text-retrieval mirror of
  * [[VectorIndex]]'s "index once, append incrementally, serve many" shape,
  * built for exact-integer BM25 serving over a 100 TB corpus:
  *
  *   - `build` materializes TWO lake tables under the index path:
  *     `postings` (one row per (term, doc): tf + doc length, keyed
  *     `term U+0001 doc_id` and laid out as one hive partition per TERM
  *     HASH BUCKET) and `docs` (per-doc length + distinct-term list — the
  *     reverse map a replacement needs, with `sumColumns = dl` so the
  *     corpus token total rides the commit log). Both inherit lake
  *     semantics: ACID commits, time travel, OCC.
  *   - `add` upserts new documents at cost ∝ batch tokens. A RE-ADDED
  *     doc_id is a replacement: its vanished terms' postings die first via
  *     a partition-scoped keyed delete (the old term set comes from a
  *     key-pruned `docs` lookup, each doomed posting's bucket is derived
  *     from its term — no scan of the postings table), so the index always
  *     equals a fresh build over the current corpus (spec-pinned). There
  *     is NO maintained counter state: the BM25 corpus scalars derive from
  *     the docs table itself, so concurrent adds to disjoint doc sets
  *     serialize through ordinary lake OCC with nothing to lose.
  *   - `search` is the q137 exact-fixed-point BM25 (bit-replayable in any
  *     engine — no FP in scoring): the scan opens ONLY the query terms'
  *     hash-bucket partitions (commit-log partition pruning, ≤ |terms| of
  *     [[TextIndex.BUCKETS]] buckets), df comes from the probed postings
  *     themselves (a term's postings all live in its bucket), and N /
  *     total-tokens come from the docs table's commit-log METADATA (live
  *     row count + the declared `dl` sum column — zero files opened) —
  *     per-query cost is the query terms' posting lists, never the corpus.
  */
object TextIndex {

  /** Term-hash partitions of the postings table. Probe cost per query is
    * ≤ |terms|/BUCKETS of the table's files; more buckets = sharper
    * pruning at more (small) files. */
  val BUCKETS = 64

  private val SEP = "\u0001"

  /** The bucket of a term — MUST match [[bucketCol]]'s layout rule.
    * Spark's `xxhash64` (seed 42) evaluated driver-side on the literal,
    * the same trick the lake layer's bucket pruning uses. */
  private[ext] def bucketOf(term: String): Int = {
    val h = new org.apache.spark.sql.catalyst.expressions.XxHash64(
      Seq(org.apache.spark.sql.catalyst.expressions.Literal.create(term, StringType)))
      .eval(null).asInstanceOf[Long]
    (((h % BUCKETS) + BUCKETS) % BUCKETS).toInt
  }

  private def bucketCol(term: org.apache.spark.sql.Column) =
    pmod(xxhash64(term), lit(BUCKETS.toLong)).cast("int")

  /** (postings, docs) batch halves for a tokenized document set. */
  private def indexRows(docs: DataFrame, ver: Long, textCol: String,
      keyCol: String): (DataFrame, DataFrame) = {
    val toks = docs
      .select(col(keyCol).cast("long").as("doc_id"),
        TextAnalysis.tokens(col(textCol)).as("_toks"))
      .withColumn("dl", size(col("_toks")).cast("long"))
    val postings = toks
      .select(col("doc_id"), col("dl"), explode(col("_toks")).as("term"))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
      .withColumn("ver", lit(ver))
      .withColumn("pkey", concat_ws(SEP, col("term"), col("doc_id")))
      .withColumn("bkt", bucketCol(col("term")))
    val docRows = toks
      .select(col("doc_id"), col("dl"), array_distinct(col("_toks")).as("terms"))
      .withColumn("ver", lit(ver))
    (postings, docRows)
  }

  /** Index `corpus` under `path`. `keyCol` must be unique per document. */
  def build(spark: SparkSession, path: String, corpus: DataFrame,
      textCol: String = "text", keyCol: String = "doc_id"): TextIndex = {
    val (postings, docRows) = indexRows(corpus, 1L, textCol, keyCol)
    LakeTable.create(spark, s"$path/postings",
      TableSpec("pkey", "ver", partition = Some("bkt")), postings)
    LakeTable.create(spark, s"$path/docs",
      TableSpec("doc_id", "ver", sumColumns = Seq("dl")), docRows)
    new TextIndex(spark, path)
  }

  def load(spark: SparkSession, path: String): TextIndex =
    new TextIndex(spark, path)
}

class TextIndex private[ext] (spark: SparkSession, val path: String) {
  import TextIndex._

  private def postingsTable: LakeTable = LakeTable.load(spark, s"$path/postings")
  private def docsTable: LakeTable = LakeTable.load(spark, s"$path/docs")

  /** The two BM25 corpus scalars (doc count, total tokens) as the
    * metadata answer to `count(*), sum(dl)` over one snapshot of the docs
    * table ([[graft.sql.GraftMetadataOnlyCount.answer]]: live row counts +
    * the declared `dl` sum column, zero data files opened). Falls back to
    * one bounded aggregate scan when metadata is not exact, e.g. a live
    * file predates the sum column. */
  private def corpusScalars: (Long, Long) = {
    import graft.sql.GraftMetadataOnlyCount.{answer, WantCount, WantSum}
    val dt = docsTable
    answer(dt.snapshot(), Seq(WantCount, WantSum("dl", LongType)), None, None) match {
      case Some(Seq(Seq(n: Long, tot))) => (n, Option(tot).fold(0L)(_.asInstanceOf[Long]))
      case _ =>
        val r = dt.read()
          .agg(count(lit(1)).cast("long"), coalesce(sum(col("dl")), lit(0L))).head()
        (r.getLong(0), r.getLong(1))
    }
  }

  /** Add (or replace) documents — cost ∝ batch tokens plus the replaced
    * docs' posting lists, never the index. `keyCol` must be unique within
    * the batch. */
  def add(batch: DataFrame, textCol: String = "text",
      keyCol: String = "doc_id"): TextIndex = {
    val dt = docsTable
    val pt = postingsTable
    // replacement-ordering version from commit-log METADATA, not a data
    // scan (the documented contract is cost ∝ batch, never the index).
    // latestVersion+2 clears the build stamp (ver=1 at commit 0) and every
    // prior add's stamp (each add commits ≥1 version, so the bound rises
    // strictly between SERIALIZED calls). Two adds racing on the SAME key
    // from the same observed version stamp the same ver, so which one's
    // row serves is the precombine tiebreak, i.e. unspecified — racing
    // adds are safe for DISJOINT keys (the spec's race case); same-key
    // replacement order needs caller-side serialization.
    val nextVer = dt.latestVersion + 2L
    val (postings, docRows0) = indexRows(batch, nextVer, textCol, keyCol)
    val docRows = docRows0
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // replacements: the old term set comes from a key-pruned docs lookup;
      // postings of terms the new text no longer contains die
      // partition-scoped (bucket derived per doomed term — no scan)
      val old = dt.readForKeys(docRows.select(col("doc_id")))
        .select(col("doc_id"), col("terms").as("_old_terms"))
      val vanished = docRows.select(col("doc_id"), col("terms"))
        .join(old, Seq("doc_id"))
        .select(col("doc_id"),
          explode(array_except(col("_old_terms"), col("terms"))).as("term"))
        .select(concat_ws(SEP, col("term"), col("doc_id")).as("pkey"),
          bucketCol(col("term")).as("bkt"))
      if (!vanished.isEmpty) { pt.deleteKeys(vanished); () }
      pt.upsert(postings)
      dt.upsert(docRows)
      this
    } finally {
      docRows.unpersist(blocking = false)
      ()
    }
  }

  private def bucketFilter(terms: Seq[String]): Seq[org.apache.spark.sql.sources.Filter] =
    Seq(org.apache.spark.sql.sources.In("bkt",
      terms.map(bucketOf).distinct.sorted.map(_.asInstanceOf[Any]).toArray))

  /** (files opened after term-bucket pruning, total live postings files)
    * — the observable half of the partition-pruning contract. */
  def prunedFileCounts(terms: Seq[String]): (Int, Int) = {
    val pt = postingsTable
    val s = pt.snapshot()
    (pt.pruneByFilters(s.live, bucketFilter(terms), s.shape).length, s.live.length)
  }

  /** Exact-integer BM25 top-k over the persisted postings — the same
    * fixed-point formula as [[TextAnalysis.bm25]] (k1=6/5, b=3/4
    * multiplied out over avgdl; one DECIMAL(38,0) integral divide per
    * (doc, term)), so the ranking replays bit-for-bit in any engine. The
    * scan opens only the query terms' bucket partitions; df is counted
    * from the probed postings (a term's postings all live in its bucket);
    * N and total tokens come from the docs table's commit-log metadata
    * ([[corpusScalars]] — zero data files opened). */
  def search(terms: Seq[String], topK: Int = 10): DataFrame = {
    require(terms.nonEmpty, "search needs at least one query term")
    require(topK > 0, "topK must be positive")
    val (nDocs, totTok) = corpusScalars
    val post = postingsTable.readWhere(bucketFilter(terms))
      .filter(col("term").isin(terms: _*))
      .select(col("term"), col("doc_id"), col("tf").as("_tf"), col("dl").as("_dl"))
    val dfreq = post.groupBy("term").agg(count(lit(1)).cast("long").as("_df"))
    val dec = "DECIMAL(38,0)"
    post.join(broadcast(dfreq), "term")
      .withColumn("_score", expr(
        s"""CAST(CAST((2 * ${nDocs}L - 2 * _df + 1) AS $dec) * _tf * 22
           |  * ${totTok}L * 1000000 div
           |  (CAST((2 * _df + 1) AS $dec) *
           |   (CAST(10 AS $dec) * ${totTok}L * _tf
           |    + CAST(3 AS $dec) * ${totTok}L
           |    + CAST(9 AS $dec) * _dl * ${nDocs}L)) AS BIGINT)""".stripMargin))
      .groupBy("doc_id").agg(sum(col("_score")).as("bm25_score"),
        count(lit(1)).as("n_terms_hit"))
      .orderBy(col("bm25_score").desc, col("doc_id").asc).limit(topK)
  }
}
