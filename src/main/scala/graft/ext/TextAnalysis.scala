package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-corpus analysis for training-data pipelines: token counting, quality
  * scoring, language ID, document fingerprinting. All pure builtin-function
  * columns (whole-stage-codegen'd; no UDFs) so they scan at parquet speed
  * and scale linearly with executors — no shuffle anywhere in this module.
  */
object TextAnalysis {

  /** Whitespace normalization used before hashing/fingerprinting. */
  def normalize(text: Column): Column =
    lower(trim(regexp_replace(text, "\\s+", " ")))

  /** MD5 content fingerprint over normalized text (exact-dup key). */
  def fingerprint(text: Column): Column = md5(normalize(text))

  /** Rolling document fingerprint over word tokens: a sequential
    * hash-chaining fold `h = xxhash64(h, token)` — order-sensitive unlike a
    * bag-of-words hash (and overflow-free under ANSI mode, where `h*31+x`
    * would error). */
  def rollingHash(text: Column): Column =
    aggregate(tokens(text), lit(0L), (acc, tkn) => xxhash64(acc, tkn))

  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Whitespace token count. */
  def wsTokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword-boundary count: word chunks plus standalone
    * punctuation, the usual pre-tokenizer regex shape. */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("\\w+|[^\\w\\s]"), lit(0)))

  val stopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "this", "for", "on", "with", "as", "at", "by", "be")

  def stopwordCount(text: Column): Column =
    graft.functions.TokenSetCount.tokenSetCount(text, stopwords)

  /** Builtin-only spec of [[stopwordCount]] (interpreted lambda per token;
    * cross-checked in ExtSpec). */
  def stopwordCountHof(text: Column): Column = {
    val sw = array(stopwords.map(lit): _*)
    size(filter(tokens(text), tkn => array_contains(sw, tkn)))
  }

  def punctCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[.,!?;:'\"()\\[\\]-]", ""))

  /** Deterministic quality score in [0,1]: length saturation × stopword
    * presence × punctuation sanity. Heuristic, but reproducible to the bit
    * (pure double arithmetic, no reductions). */
  def qualityScore(text: Column): Column = {
    val nTok = wsTokenCount(text).cast("double")
    val lenScore = least(lit(1.0d), nTok / lit(50.0d))
    val stopRatio = stopwordCount(text).cast("double") / greatest(nTok, lit(1.0d))
    val stopScore = least(lit(1.0d), stopRatio * lit(5.0d))
    val punctRatio = punctCount(text).cast("double") / greatest(length(text).cast("double"), lit(1.0d))
    lenScore * (lit(0.5d) + lit(0.5d) * stopScore) * (lit(1.0d) - least(lit(1.0d), punctRatio * lit(2.0d)))
  }

  /** n-gram-profile language ID: score text against per-language marker
    * sets (function words + characteristic digraphs), pick the argmax with
    * a fixed tiebreak order. Heuristic (SURVEY.md §7.1 ext). */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it", "with"),
    "es" -> Seq("el", "la", "de", "que", "los", "las", "una", "por", "como"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf"),
    "fr" -> Seq("le", "la", "les", "des", "est", "une", "dans", "pour", "que"))

  def langScores(text: Column): Seq[(String, Column)] =
    langMarkers.toSeq.sortBy(_._1).map { case (lang, markers) =>
      lang -> graft.functions.TokenSetCount.tokenSetCount(text, markers, lowercase = true)
    }

  def langId(text: Column): Column = {
    val scores = langScores(text)
    // argmax with deterministic tiebreak: alphabetical language order wins
    val best = scores.reduceLeft[(String, Column)] { case ((l1, s1), (l2, s2)) =>
      (l1, when(s2 > s1, s2).otherwise(s1))
    }
    scores.reverse.foldLeft(lit("und")) { case (acc, (lang, s)) =>
      when(s === best._2 && best._2 > 0, lit(lang)).otherwise(acc)
    }
  }

  /** PII-style redaction pass: emails, long digit runs (phone/account
    * numbers), and IPv4s replaced with typed placeholders — the masking
    * step a training-data pipeline runs before tokenization. Pure
    * regexp_replace chain (codegen'd, no shuffle). */
  def redact(text: Column): Column = {
    val email = regexp_replace(text, "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    val ip = regexp_replace(email, "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b", "<IP>")
    regexp_replace(ip, "\\d{7,}", "<NUM>")
  }

  /** All stats in ONE pass over a corpus: a single codegen'd
    * [[graft.functions.TextStats]] expression tokenizes each document once
    * and emits every stat as a struct, then a second projection unpacks the
    * fields. Catalyst keeps the two projections separate (the struct is
    * non-cheap and referenced 7×, so CollapseProject won't duplicate it),
    * and whole-stage codegen's subexpression elimination guards the rest —
    * ~7 redundant per-row tokenizations gone vs the column-per-stat spec. */
  def stats(df: DataFrame, textCol: String = "text"): DataFrame = {
    val st = graft.functions.TextStats.textStats(col(textCol))
    val fields = Seq("ws_tokens", "bpe_tokens", "n_stopwords", "n_punct",
      "quality", "fingerprint", "lang_guess")
    df.withColumn("_tstats", st)
      .select(col("*") +: fields.map(f => col("_tstats").getField(f).as(f)): _*)
      .drop("_tstats")
  }

  /** Gopher-style repetition and quality signals (Rae et al. 2021 §A1.1's
    * repetition filters, re-expressed relationally): per document,
    *
    *   - `dup_word_frac`  = 1 − distinct words / words
    *   - `dup_2gram_frac` = 1 − distinct word-2-grams / 2-grams
    *   - `top_word_frac`  = occurrences of the most frequent word / words
    *   - `alpha_word_frac`= words containing an alphabetic char / words
    *   - `mean_word_len`  = non-whitespace chars / words
    *   - `gopher_keep`    = the composite keep/drop decision
    *
    * Every ratio is a quotient of exact integers (bit-stable across
    * engines). Distinct-counting runs as array expressions per row;
    * only the top-word mode needs an explode + two hash aggregates —
    * rows ∝ corpus token count, the same shape as word-frequency stats,
    * so it scales like any token-level aggregation. */
  def repetitionStats(df: DataFrame, textCol: String = "text",
      keyCol: String = "doc_id"): DataFrame = {
    val w = tokens(col(textCol))
    // null-safe `get` (not `element_at`, which throws out-of-bounds under
    // ANSI): a single-word doc yields one degenerate "2-gram" = the word,
    // mirroring the concat_ws(NULL-skipping) oracle shape
    val grams2 = transform(
      sequence(lit(0), greatest(size(w) - 2, lit(0))),
      j => concat_ws(" ", get(w, j), get(w, j + 1)))
    val base = df.withColumn("_w", w)
      .withColumn("n_words", size(col("_w")).cast("long"))
      .withColumn("n_distinct_words", size(array_distinct(col("_w"))).cast("long"))
      .withColumn("_g", grams2)
      .withColumn("n_2grams", size(col("_g")).cast("long"))
      .withColumn("n_distinct_2grams", size(array_distinct(col("_g"))).cast("long"))
      .withColumn("n_alpha_words",
        size(filter(col("_w"), x => x.rlike("[A-Za-z]"))).cast("long"))
      .withColumn("n_chars",
        length(regexp_replace(trim(col(textCol)), "\\s+", "")).cast("long"))
      .drop("_w", "_g")
    val topWord = base.select(col(keyCol), explode(tokens(col(textCol))).as("_word"))
      .groupBy(keyCol, "_word").agg(count(lit(1)).as("_c"))
      .groupBy(keyCol).agg(max(col("_c")).as("top_word_n"))
    val nw = col("n_words").cast("double")
    base.join(topWord, Seq(keyCol), "left")
      .withColumn("dup_word_frac", lit(1.0) - col("n_distinct_words") / nw)
      .withColumn("dup_2gram_frac", lit(1.0) - col("n_distinct_2grams") / col("n_2grams").cast("double"))
      .withColumn("top_word_frac", col("top_word_n") / nw)
      .withColumn("alpha_word_frac", col("n_alpha_words") / nw)
      .withColumn("mean_word_len", col("n_chars") / nw)
      .withColumn("gopher_keep",
        col("n_words").between(10, 100000) &&
          col("mean_word_len").between(2.0, 12.0) &&
          col("alpha_word_frac") >= 0.8 &&
          col("dup_2gram_frac") <= 0.3 &&
          col("top_word_frac") <= 0.25)
  }

  /** C4-style page cleaning (Raffel et al. 2020 §2.2, public heuristics):
    * line-level — keep only lines that end in terminal punctuation, have
    * ≥ 5 words, and don't mention "javascript"; page-level — flag pages
    * containing "lorem ipsum" or a curly brace, count sentences, and emit
    * the composite `c4_keep` (≥ 1 surviving line, ≥ 3 sentences, no page
    * flags) plus the cleaned text (surviving lines re-joined). All per-row
    * array expressions — no shuffle at any corpus size. The C4 pipeline's
    * remaining step, three-sentence-span dedup across pages, is
    * [[Dedup.spanDedup]]. */
  def c4Rules(df: DataFrame, textCol: String = "text"): DataFrame = {
    val lines = split(col(textCol), "\n")
    val keptLines = filter(lines, l =>
      trim(l).rlike("[.!?\"]$") &&
        size(split(trim(l), "\\s+")) >= 5 &&
        !lower(l).contains("javascript"))
    df.withColumn("n_lines", size(lines).cast("long"))
      .withColumn("_kept", keptLines)
      .withColumn("n_kept_lines", size(col("_kept")).cast("long"))
      .withColumn("n_sentences",
        (size(split(col(textCol), "[.!?]")) - 1).cast("long"))
      .withColumn("has_lorem", lower(col(textCol)).contains("lorem ipsum"))
      .withColumn("has_brace", col(textCol).contains("{"))
      .withColumn("c4_keep",
        col("n_kept_lines") >= 1 && col("n_sentences") >= 3 &&
          !col("has_lorem") && !col("has_brace"))
      .withColumn("clean_text", concat_ws("\n", col("_kept")))
      .drop("_kept")
  }

  /** Corpus n-gram typicality: how "known" each document's word n-grams
    * are against the whole corpus — the LM-free quality signal behind
    * "this page is boilerplate/templated" (high mass of very common
    * n-grams) and "this page is line noise" (n-grams nobody else uses).
    * Per doc, all-integer: `n_ngrams` (occurrences), `n_known`
    * (occurrences whose corpus count ≥ `minCount`), `gram_mass` (sum of
    * corpus counts over the doc's occurrences). Docs shorter than `n`
    * words score zeros.
    *
    * Scale shape: one explode to (doc, gram) rows (∝ corpus tokens —
    * inherent), one hash agg for the corpus counts, one hash join back,
    * one per-doc re-agg. No driver materialization, no windows; the
    * count table is reused via exchange reuse, never recomputed. */
  def typicality(df: DataFrame, n: Int = 2, minCount: Long = 3,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(n >= 1, "typicality needs n >= 1")
    val grams = df
      .withColumn("_w", split(trim(lower(col(textCol))), "\\s+"))
      .select(col(idCol), explode(expr(
        s"CASE WHEN size(_w) < $n THEN array() ELSE " +
          s"transform(sequence(0, size(_w) - $n), " +
          s"i -> array_join(slice(_w, i + 1, $n), ' ')) END")).as("g"))
    val counts = grams.groupBy("g").agg(count(lit(1)).as("c"))
    val perDoc = grams.join(counts, Seq("g"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_ngrams"),
        sum(when(col("c") >= minCount, 1L).otherwise(0L)).as("n_known"),
        sum("c").as("gram_mass"))
    df.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_ngrams"), lit(0L)).as("n_ngrams"),
        coalesce(col("n_known"), lit(0L)).as("n_known"),
        coalesce(col("gram_mass"), lit(0L)).as("gram_mass"))
  }

  /** CCNet-style n-gram LM quality scoring with Stupid Backoff (Brants et
    * al. 2007): train trigram/bigram/unigram counts on `model`, score each
    * `df` document per token at the longest matching order, backing off
    * with a 0.4 penalty per unmatched order. Fluent in-domain text scores
    * high; line noise and out-of-domain text score low — the distributed
    * analog of the Wikipedia-perplexity filter in CCNet.
    *
    * All arithmetic is FIXED-POINT INTEGER: a position's score is the
    * relative frequency scaled to millionths and floor-divided
    * (`count*1000000 div ctxCount`), with backoff factors 0.4 → ×400000
    * and 0.16 → ×160000. No floating point anywhere, so results are
    * bit-identical across engines, partitionings and plans — which also
    * makes the whole pipeline DuckDB-oracle-able. Tokens before position 2
    * score at their longest AVAILABLE order penalty-free (position 0 =
    * unigram, position 1 = bigram first).
    *
    * Output per doc: `n_pos` (scored positions), `hits3/hits2/hits1`
    * (positions matched at each order), `n_oov` (unigram misses, score 0),
    * `sb_milli` (sum of position scores in millionths).
    *
    * Scale shape: three hash aggs over the exploded model corpus build the
    * count tables once (∝ model tokens); scoring is one posexplode of the
    * scored corpus and five hash joins on gram strings (tri, ctx-bigram,
    * bigram, ctx-unigram, unigram) + one broadcast of the 1-row total —
    * cost ∝ scored tokens, no windows, no driver materialization. Small
    * models broadcast automatically via AQE; corpus-sized models shuffle
    * on the gram key like any dimension join. */
  def stupidBackoff(model: DataFrame, df: DataFrame,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    def words(d: DataFrame): DataFrame =
      d.withColumn("_w", split(trim(lower(col(textCol))), "\\s+"))
    def gramCounts(d: DataFrame, n: Int, gCol: String, cCol: String): DataFrame =
      d.select(explode(expr(
          s"CASE WHEN size(_w) < $n THEN array() ELSE " +
            s"transform(sequence(0, size(_w) - $n), " +
            s"i -> array_join(slice(_w, i + 1, $n), ' ')) END")).as(gCol))
        .groupBy(gCol).agg(count(lit(1)).as(cCol))

    val mw = words(model)
    val uc = gramCounts(mw, 1, "_g1", "_c1")
    val bc = gramCounts(mw, 2, "_g2", "_c2")
    val tc = gramCounts(mw, 3, "_g3", "_c3")
    val tot = mw.select(explode(col("_w")).as("_t"))
      .agg(count(lit(1)).as("_n")).withColumn("_k", lit(1))

    val pos = words(df).select(col(idCol),
        posexplode(col("_w")).as(Seq("_p", "_w0")),
        col("_w"))
      .withColumn("_w1", when(col("_p") >= 1, expr("element_at(_w, _p)")))
      .withColumn("_w2", when(col("_p") >= 2, expr("element_at(_w, _p - 1)")))
      .withColumn("_k", lit(1))
      .select(col(idCol), col("_p"), col("_w0"), col("_w1"), col("_w2"),
        col("_k"),
        when(col("_w2").isNotNull,
          concat_ws(" ", col("_w2"), col("_w1"), col("_w0"))).as("_g3"),
        when(col("_w2").isNotNull,
          concat_ws(" ", col("_w2"), col("_w1"))).as("_gctx"),
        when(col("_w1").isNotNull,
          concat_ws(" ", col("_w1"), col("_w0"))).as("_g2"))

    val joined = pos
      .join(tc, Seq("_g3"), "left")
      .join(bc.withColumnRenamed("_g2", "_gctx").withColumnRenamed("_c2", "_cctx"),
        Seq("_gctx"), "left")
      .join(bc, Seq("_g2"), "left")
      .join(uc.withColumnRenamed("_g1", "_w1").withColumnRenamed("_c1", "_cu1"),
        Seq("_w1"), "left")
      .join(uc.withColumnRenamed("_g1", "_w0"), Seq("_w0"), "left")
      .join(broadcast(tot), Seq("_k"))

    val s = expr(
      """CASE
        |  WHEN _c3 IS NOT NULL THEN _c3 * 1000000L div _cctx
        |  WHEN _c2 IS NOT NULL AND _p >= 2 THEN _c2 * 400000L div _cu1
        |  WHEN _c2 IS NOT NULL THEN _c2 * 1000000L div _cu1
        |  WHEN _c1 IS NOT NULL THEN
        |    (CASE WHEN _p >= 2 THEN _c1 * 160000L
        |          WHEN _p = 1 THEN _c1 * 400000L
        |          ELSE _c1 * 1000000L END) div _n
        |  ELSE 0L END""".stripMargin)

    joined
      .withColumn("_s", s)
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_pos"),
        sum(when(col("_c3").isNotNull, 1L).otherwise(0L)).as("hits3"),
        sum(when(col("_c3").isNull && col("_c2").isNotNull, 1L).otherwise(0L))
          .as("hits2"),
        sum(when(col("_c3").isNull && col("_c2").isNull && col("_c1").isNotNull,
          1L).otherwise(0L)).as("hits1"),
        sum(when(col("_c1").isNull, 1L).otherwise(0L)).as("n_oov"),
        sum(col("_s")).as("sb_milli"))
  }

  /** RAG-style sliding-window chunking: split each document into
    * fixed-size token windows (`chunkTokens` wide, overlapping by
    * `overlap`) with stable, reproducible chunk identities — the indexing
    * step that feeds retrieval pipelines. Chunk 0 starts at token 0;
    * successive chunks start every `chunkTokens - overlap` tokens; the
    * last chunk is the first one whose window reaches the end of the
    * document (a doc of `<= chunkTokens` tokens is exactly one chunk).
    *
    * Output per chunk: the parent id, `chunk_id` (0-based), `n_tokens`
    * (whole doc), `chunk_start`/`chunk_len` (token offsets), `chunk_text`,
    * and `chunk_hash` (md5 of the chunk text — the retrieval-unit
    * fingerprint, also the chunk-level exact-dedup key).
    *
    * Scale shape: tokenize once per row, one `posexplode` over the chunk
    * starts (output ∝ corpus tokens × (1 + overlap/stride) — inherent),
    * zero shuffles; chunk ids derive from (doc, offset), never from any
    * global counter, so the op is embarrassingly parallel at any scale. */
  def chunk(df: DataFrame, chunkTokens: Int = 64, overlap: Int = 16,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(chunkTokens >= 1, "chunk needs chunkTokens >= 1")
    require(overlap >= 0 && overlap < chunkTokens,
      "chunk needs 0 <= overlap < chunkTokens")
    val stride = chunkTokens - overlap
    df.withColumn("_w", tokens(col(textCol)))
      .withColumn("_n", size(col("_w")).cast("long"))
      .withColumn("_nc", expr(
        s"CASE WHEN _n <= $chunkTokens THEN 1L " +
          s"ELSE (_n - $chunkTokens + ${stride - 1}) div $stride + 1L END"))
      .select(col(idCol), col("_w"), col("_n"),
        posexplode(expr(s"sequence(0L, (_nc - 1) * $stride, $stride)"))
          .as(Seq("chunk_id", "chunk_start")))
      .select(col(idCol),
        col("chunk_id").cast("long").as("chunk_id"),
        col("_n").as("n_tokens"),
        col("chunk_start"),
        least(lit(chunkTokens.toLong), col("_n") - col("chunk_start"))
          .as("chunk_len"),
        array_join(slice(col("_w"), col("chunk_start").cast("int") + 1,
          lit(chunkTokens)), " ").as("chunk_text"))
      .withColumn("chunk_hash", md5(col("chunk_text")))
  }

  /** Feature-hashed text embedding (the hashing trick, Weinberger et al.
    * 2009): each token lands in `pmod(h, dim)` with sign ±1 from the next
    * hash bit, summed per document — a fixed-width, vocabulary-free,
    * all-integer embedding that any engine with md5 replays bit-for-bit
    * ([[Dedup.portableSeededHash]] buckets). Returns sparse rows
    * `(id, bucket, weight)` — only touched buckets appear (cancelled-out
    * buckets appear with weight 0: the row set is the set of hashed-into
    * buckets, a deterministic function of the text alone).
    *
    * Scale shape: one explode to token rows, one (id, bucket) hash agg —
    * map-side partial combine absorbs repeated tokens, the shuffle carries
    * at most `dim` rows per document. No windows, no driver state. */
  def hashedEmbedding(df: DataFrame, dim: Int = 256,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(dim >= 1, "hashedEmbedding needs dim >= 1")
    df.select(col(idCol), explode(tokens(col(textCol))).as("_tok"))
      .withColumn("_h", Dedup.portableSeededHash(lit(0), col("_tok")))
      .select(col(idCol), (col("_h") % dim).as("bucket"),
        when(expr(s"(_h div $dim) % 2") === 0, 1L).otherwise(-1L).as("_sign"))
      .groupBy(col(idCol), col("bucket"))
      .agg(sum(col("_sign")).as("weight"))
  }

  /** Dense companion of [[hashedEmbedding]]: one `Array[Long]` of length
    * `dim` per document (untouched buckets 0), ready for the
    * [[Similarity]] ANN family. Built from the sparse rows with a
    * map-from-entries gather — still one shuffle, rows ∝ touched buckets. */
  def hashedEmbeddingDense(df: DataFrame, dim: Int = 256,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    hashedEmbedding(df, dim, textCol, idCol)
      .groupBy(col(idCol))
      .agg(map_from_entries(collect_list(struct(col("bucket"), col("weight"))))
        .as("_m"))
      .select(col(idCol), expr(
        s"transform(sequence(0, ${dim - 1}), i -> coalesce(_m[CAST(i AS BIGINT)], 0L))")
        .as("embedding"))

  /** Count-min-sketch heavy hitters (Cormode & Muthukrishnan 2005) with an
    * exact companion: build a `depth × width` CMS over corpus word
    * frequencies, then report the exact top-`k` words alongside their
    * sketch estimates and the one-sided CMS guarantee (`cms_est >=
    * exact_c`, always true — collisions only overcount). The sketch rows
    * are md5-portable ([[Dedup.portableSeededHash]]), so another engine
    * replays the estimates bit-for-bit, collisions included.
    *
    * Scale shape: the sketch is `depth` hash aggs over the token rows
    * (map-side combine; the shuffled sketch is at most depth×width rows
    * TOTAL, independent of corpus size — that is the point of a CMS), the
    * exact top-k is one hash agg + top-k, and the estimate lookup joins k×
    * depth probe rows against the fixed-size sketch. At 100 TB the sketch
    * is still depth×width rows; only the linear token scan grows. */
  def heavyHitters(df: DataFrame, k: Int = 20, depth: Int = 4,
      width: Int = 1024, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(depth >= 1 && width >= 1 && k >= 1,
      "heavyHitters needs k >= 1, depth >= 1, width >= 1")
    // sketch + estimation delegate to the Sketch primitive (one CMS
    // implementation; q154 exercises its estimate-only serving path);
    // this query ADDS the exact top-k anchor and the bound column
    val toks = df.select(explode(tokens(col(textCol))).as("tok"))
    val cms = Sketch.cmsBuild(df, depth, width, textCol)
    val topK = toks.groupBy("tok").agg(count(lit(1)).as("exact_c"))
      .orderBy(col("exact_c").desc, col("tok").asc).limit(k)
    Sketch.cmsEstimates(cms, topK.select("tok"))
      .join(topK, Seq("tok"))
      .select(col("tok"), col("exact_c"), col("est").as("cms_est"),
        (col("est") >= col("exact_c")).as("bound_ok"))
  }

  /** Seed-labeled quality classifier — the fastText/CCNet quality-filter
    * role (GPT-3 trained a classifier on WebText-vs-crawl; CCNet on
    * Wikipedia-vs-CommonCrawl), re-expressed as an exact-integer average
    * token posterior so the whole model AND its scores replay bit-for-bit
    * in any engine with md5:
    *
    *   - train: hashed-unigram class counts over `buckets` md5 buckets
    *     (vocabulary-free, fixed memory) from the `isPos`/`isNeg` seed
    *     rows; per-bucket weight = Laplace posterior
    *     `(pos+1)·scale div (pos+neg+2)` — integer division, no floats;
    *   - score: EVERY doc's mean weight over its tokens (exact integer
    *     mean; unseen buckets take the scale/2 prior). High = looks like
    *     the positive seed; the classic corpus-filter threshold knob.
    *
    * Scale shape: one explode + one hash agg build a ≤`buckets`-row
    * weight table; scoring is a broadcast join + per-doc agg — two
    * corpus-proportional passes, nothing ∝ vocabulary, no driver
    * collect. */
  def seedClassifier(df: DataFrame, isPos: Column, isNeg: Column,
      idCol: String = "doc_id", textCol: String = "text",
      buckets: Int = 1024, scale: Long = 1000000L): DataFrame = {
    require(buckets > 0 && scale > 0, "buckets and scale must be positive")
    val toks = df.select(col(idCol).as("_id"),
        coalesce(isPos.cast("boolean"), lit(false)).as("_p"),
        coalesce(isNeg.cast("boolean"), lit(false)).as("_n"),
        explode(split(trim(lower(col(textCol))), "\\s+")).as("_tok"))
      .filter(length(col("_tok")) > 0)
      .withColumn("_b", pmod(
        conv(substring(md5(col("_tok")), 1, 15), 16, 10).cast("long"),
        lit(buckets.toLong)))
    val w = toks.filter(col("_p") || col("_n")).groupBy("_b").agg(
        sum(when(col("_p"), 1L).otherwise(0L)).as("_cp"),
        sum(when(col("_n"), 1L).otherwise(0L)).as("_cn"))
      .withColumn("_w", expr(s"((_cp + 1) * $scale) div (_cp + _cn + 2)"))
      .select("_b", "_w")
    toks.join(broadcast(w), Seq("_b"), "left")
      .withColumn("_w", coalesce(col("_w"), lit(scale / 2)))
      .groupBy("_id")
      .agg(count(lit(1)).as("n_toks"), expr("sum(_w) div count(1)").as("quality_score"))
      .withColumnRenamed("_id", idCol)
  }

  /** Column-per-stat spec of [[stats]] (each stat re-derives its own
    * tokenization; cross-checked against the native single-pass expression
    * in TextStatsSpec). */
  def statsSpec(df: DataFrame, textCol: String = "text"): DataFrame = {
    val c = col(textCol)
    df.withColumn("ws_tokens", wsTokenCount(c))
      .withColumn("bpe_tokens", bpeTokenCount(c))
      .withColumn("n_stopwords", stopwordCount(c))
      .withColumn("n_punct", punctCount(c))
      .withColumn("quality", qualityScore(c))
      .withColumn("fingerprint", fingerprint(c))
      .withColumn("lang_guess", langId(c))
  }

  /** BM25 ranked retrieval (Robertson–Spärck Jones, the Okapi scorer) as
    * EXACT fixed-point integer arithmetic, so scores — and therefore the
    * ranking — replay bit-for-bit on any engine. Parameters are pinned to
    * the rationals k1 = 6/5, b = 3/4 (the textbook defaults), and the
    * usual `ln((N−df+½)/(df+½)+…)` idf is traded for the raw rarity ratio
    * `(2N−2df+1)/(2df+1)` — the same log→ratio trade [[Sampling]]'s DSIR
    * scorer documents (a log would force non-portable libm calls; the
    * ratio preserves the rarity ORDER, which is what the ranking needs).
    * Multiplying out with avgdl = totTok/N:
    *
    * {{{
    * score(d, t) = (2N − 2df + 1) · tf · 22 · totTok · 10^6
    *             ÷ (2df + 1) · (10 · totTok · tf + 3 · totTok + 9 · dl · N)
    * }}}
    *
    * evaluated in DECIMAL(38,0) with one integral divide per (doc, term) —
    * every product stays far below 38 digits for any realistic corpus —
    * and per-doc scores are exact integer SUMS (no FP summation-order
    * hazard). Higher tf raises the score with diminishing returns, longer
    * docs are penalized, rarer terms weigh more: the BM25 shape, exactly.
    *
    * Scale shape: tokenize once per doc (dl is map-side), the explode is
    * filtered to the query terms BEFORE the (doc, term) hash agg — so the
    * only corpus-proportional shuffle carries query-term postings, not the
    * corpus; df and the two corpus scalars (N, totTok) are tiny aggregates;
    * top-k is TakeOrdered, never a global sort. */
  def bm25(df: DataFrame, terms: Seq[String], topK: Int = 10,
      textCol: String = "text", keyCol: String = "doc_id"): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    require(topK > 0, "topK must be positive")
    val toks = df.select(col(keyCol), tokens(col(textCol)).as("_toks"))
      .withColumn("_dl", size(col("_toks")).cast("long"))
    // two bounded corpus scalars (one 1-row aggregate)
    val Array(nDocs, totTok) = toks
      .agg(count(lit(1)).cast("long"), sum(col("_dl")))
      .head().toSeq.map(_.asInstanceOf[Long]).toArray
    val tf = toks
      .select(col(keyCol), col("_dl"), explode(col("_toks")).as("_term"))
      .filter(col("_term").isin(terms: _*))
      .groupBy(col(keyCol), col("_dl"), col("_term"))
      .agg(count(lit(1)).as("_tf"))
    val dfreq = tf.groupBy("_term")
      .agg(count(lit(1)).cast("long").as("_df"))
    val dec = "DECIMAL(38,0)"
    val scored = tf.join(broadcast(dfreq), "_term")
      .withColumn("_score", expr(
        s"""CAST(CAST((2 * ${nDocs}L - 2 * _df + 1) AS $dec) * _tf * 22
           |  * ${totTok}L * 1000000 div
           |  (CAST((2 * _df + 1) AS $dec) *
           |   (CAST(10 AS $dec) * ${totTok}L * _tf
           |    + CAST(3 AS $dec) * ${totTok}L
           |    + CAST(9 AS $dec) * _dl * ${nDocs}L)) AS BIGINT)""".stripMargin))
      .groupBy(keyCol).agg(sum(col("_score")).as("bm25_score"),
        count(lit(1)).as("n_terms_hit"))
    scored.orderBy(col("bm25_score").desc, col(keyCol).asc).limit(topK)
  }
}
