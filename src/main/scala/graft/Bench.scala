package graft

import java.nio.file.{Files, Paths}
import java.util.Comparator

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Similarity, TextAnalysis}
import graft.lake.{LakeTable, TableSpec}

/** Benchmark main: one entry registry, run under one of two protocols.
  *
  * Driver protocol (the default): every entry, in registry order, on the
  * raw tables of SPARK_GRAFT_SF_DIR — the BASELINE.md headline set
  * (lakehouse write/read/maintenance paths) plus the heavy extension
  * pipelines. Output: ONE JSON line per the driver contract.
  *
  * Scale protocol (SPARK_GRAFT_SCALE_REP=R): the write/maintenance
  * entries ([[ScaleEntries]]) on R× key-shifted replicas of the tables
  * (see [[Fixtures.scale]]) with the churn held CONSTANT IN ABSOLUTE
  * TERMS, so tools/bench_scale.sh's 1× vs R× exponent separates ∝-churn
  * costs (must stay ~flat as the corpus grows) from ∝-corpus costs (must
  * grow ~linearly). Expected shapes (BASELINE.md's scale blocks):
  *   - b1_full_load, e7_span_dedup: ∝ corpus — exponent ≈ 1.
  *   - b2/b8/b7/b12/b13/b15: ∝ churn — far sublinear (exponent ≈ 0)
  *     when the path prunes correctly; a linear reading is a real scale
  *     bug no single-SF run can see.
  *   - e17_bpe_train: the word-frequency pass is ∝ corpus but the 32
  *     certified merge rounds are ∝ distinct words (replication adds
  *     none) — expected strongly sublinear.
  * Output: the same JSON line with `"metric":"scale_total"` and `"rep":R`.
  *
  * Query-shaped entries materialize through the noop sink (count() would
  * let Catalyst prune the measured work away) and report the median of 3
  * timed runs after one warm-up. Write-shaped entries run once against
  * fresh temp dirs (cold each time, like production) and record the Spark
  * jobs they ran as `<prefix>_jobs` meta.
  *
  * SPARK_GRAFT_BENCH_ONLY=name[,name…] (exact entry names) runs a subset,
  * plus the entries whose tables it reads. Per-stage times and call sites
  * come from Spark's event log:
  * GRAFT_EXTRA_JVM='-Dspark.eventLog.enabled=true -Dspark.eventLog.dir=<dir>'.
  */
object Bench {

  private def freshDir(name: String): String = {
    val p = Paths.get(System.getProperty("java.io.tmpdir"), "graft_bench", name)
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[java.nio.file.Path]()).forEach(f => Files.delete(f))
    Files.createDirectories(p.getParent)
    p.toString
  }

  private def time[A](body: => A): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  private def noop(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  /** Median of `n` timed materializations after one warm-up. */
  private def median(df: => DataFrame, n: Int = 3): Double = {
    noop(df)
    val ts = Seq.fill(n)(time(noop(df))).sorted
    ts(n / 2)
  }

  private final class JobCounter extends SparkListener {
    val jobs = new java.util.concurrent.atomic.AtomicLong(0)
    override def onJobStart(s: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
  }

  /** `body`'s value, wall seconds and the Spark jobs it started — plan-shape
    * evidence next to a wall time (same jobs → host noise; more jobs → a
    * real plan regression). The listener bus is asynchronous, so the count
    * is read once it has gone quiet, after the clock stopped: the drain
    * never inflates the measured time. */
  private[graft] def timedJobs[A](spark: SparkSession)(body: => A): (A, Double, Long) = {
    val c = new JobCounter
    spark.sparkContext.addSparkListener(c)
    val t0 = System.nanoTime()
    val r = body
    val t = (System.nanoTime() - t0) / 1e9
    var last = -1L
    while (c.jobs.get() != last) { last = c.jobs.get(); Thread.sleep(200) }
    spark.sparkContext.removeSparkListener(c)
    (r, t, last)
  }

  private val meta = scala.collection.mutable.LinkedHashMap.empty[String, Long]

  /** The tables the entries read and churn: `table` serves lineitem (with
    * its synthetic record key `lkey`), orders, customer and documents;
    * `bands` maps each key column shifted per replica to its band width
    * (none: one replica); `rep` replicas also scale a clustered layout's
    * target file count. The churn batches below are each entry's one
    * definition, shared by both protocols. */
  private[graft] final case class Fixtures(
      table: String => DataFrame, bands: Map[String, Long], rep: Int) {
    def li: DataFrame = table("lineitem")
    def orders: DataFrame = table("orders")
    def customer: DataFrame = table("customer")
    def docs: DataFrame = table("documents")

    /** `cond` restricted to replica 0's band of key `c`, so every replica
      * count applies the identical logical change; `cond` itself when `c`
      * is not replicated (the driver plans carry no extra filter). */
    def band0(c: String)(cond: Column): Column =
      bands.get(c).fold(cond)(b => col(c) < b && cond)

    /** Key `c` as it was before its replica shift. */
    def unshifted(c: String): Column = bands.get(c).fold(col(c))(col(c) % _)

    /** b2/b3's CDC source: bump 10% of rows (newer precombine) + 2% new
      * keys. The churn keys on the ORDERKEY half of lkey (`lkey DIV 10`):
      * l_linenumber is 1..7, so `lkey % 10` is never 0 — the original
      * `lkey % 10 === 0` / `% 50 === 0` predicates selected ZERO rows and
      * b2/b3 timed an EMPTY upsert through round 12 (measurement bug found
      * in the round-13 audit; pre-fix numbers kept in OPTIMIZATION_r13.md). */
    def liSource: DataFrame = {
      val base = li
      base.filter(band0("lkey")(expr("(lkey DIV 10) % 10 = 0")))
        .withColumn("l_extendedprice", col("l_extendedprice") + 1.0)
        .withColumn("l_shipdate", col("l_shipdate") + expr("INTERVAL 1 DAY"))
        .unionByName(base.filter(band0("lkey")(expr("(lkey DIV 10) % 50 = 0")))
          .withColumn("lkey", col("lkey") + 100000000L))
    }

    /** b7: the recent-keys range of lineitem repriced a day later. */
    def b7Batch: DataFrame = li.filter(col("lkey") < 30000)
      .withColumn("l_extendedprice", col("l_extendedprice") + 1.0)
      .withColumn("l_shipdate", col("l_shipdate") + expr("INTERVAL 1 DAY"))

    /** b12: 1% of orders repriced a day later. */
    def b12FactBatch: DataFrame =
      orders.filter(band0("o_orderkey")(col("o_orderkey") % 100 === 0))
        .withColumn("o_totalprice", col("o_totalprice") + 1.0)
        .withColumn("o_orderdate", col("o_orderdate") + expr("INTERVAL 1 DAY"))

    /** b12: 0.5% of customers re-segmented. */
    def b12DimBatch: DataFrame =
      customer.filter(band0("c_custkey")(col("c_custkey") % 200 === 0))
        .withColumn("c_mktsegment", lit("MOVED")).withColumn("cver", lit(1L))

    /** b13: a 1% pure-addition batch (new order keys, new custkeys). */
    def b13FactBatch: DataFrame =
      orders.filter(band0("o_orderkey")(col("o_orderkey") % 100 === 0))
        .withColumn("o_orderkey", col("o_orderkey") + 100000000L)
        .withColumn("o_custkey", col("o_custkey") + 10000000L)

    /** b15: ~0.5% no-flip segment moves of present customers. */
    def b15DimMoves: DataFrame = customer.filter(band0("c_custkey")(
        col("c_custkey") % 4 =!= 0 && col("c_custkey") % 200 === 2))
      .withColumn("c_mktsegment", lit("MOVED")).withColumn("cver", lit(1L))

    /** b15: a few dozen births from the missing quarter of customers. */
    def b15DimBirths: DataFrame =
      customer.filter(band0("c_custkey")(col("c_custkey") % 400 === 0))
        .withColumn("cver", lit(0L))

    /** b15: the customers that die (a delete predicate). */
    def b15DimDeaths: Column = band0("c_custkey")(col("c_custkey") % 300 === 7)
  }

  private[graft] object Fixtures {
    // replica key bands: shifts keep every replica's keys (and the churn
    // batches' synthetic new keys, which add ≤ 1e8 within replica 0's
    // band) disjoint across replicas
    private val Bands = Map(
      "lkey" -> 1000000000L,       // lineitem (max ~6e7 + 1e8 new)
      "o_orderkey" -> 1000000000L, // orders (max ~6e5 + 1e8 new)
      "o_custkey" -> 100000000L,   // shifted with c_custkey (max 15e3 + 1e7 new)
      "c_custkey" -> 100000000L,
      "doc_id" -> 10000000L)       // documents (max 5e3)

    /** The raw tables of `sfDir`, read afresh on every use. NOTE (round-13
      * audit): the synthetic lineitem has duplicate (l_orderkey,
      * l_linenumber) pairs (sf0.1: 456,861 distinct lkeys in 600,000 rows),
      * so lkey is NOT unique — bulkInsert preserves the duplicates (Hudi
      * INSERT semantics) and keyed upserts resolve the contested keys
      * latest-wins, which is the semantics being measured. */
    def driver(spark: SparkSession, sfDir: String): Fixtures = Fixtures({ name =>
      val t = spark.read.parquet(s"$sfDir/$name.parquet")
      if (name == "lineitem") t.withColumn("lkey", col("l_orderkey") * 10 + col("l_linenumber"))
      else t
    }, Map.empty, 1)

    /** `rep` replicas of each driver table under shifted key bands (the
      * e13/e14 corpus-replication technique), written once under
      * `root/rep<rep>` and reused. They are KEY-ORDERED
      * (`repartitionByRange(key).sortWithinPartitions(key)`, 32·rep
      * partitions): the layout a naturally-loaded table has (TPC-H data is
      * orderkey-ordered; production event streams are time/key-local), and
      * the one that makes file-level key stats meaningful at any scale. */
    def scale(spark: SparkSession, sfDir: String, root: String, rep: Int): Fixtures = {
      val raw = driver(spark, sfDir)
      val tables = Seq("lineitem" -> "lkey", "orders" -> "o_orderkey",
          "customer" -> "c_custkey", "documents" -> "doc_id").map { case (name, key) =>
        val out = s"$root/rep$rep/$name.parquet"
        if (!Files.exists(Paths.get(out, "_SUCCESS"))) {
          val t = raw.table(name)
          Bands.filter { case (c, _) => t.columns.contains(c) }
            .foldLeft(t.crossJoin(spark.range(rep.toLong).toDF("__rep"))) {
              case (acc, (c, band)) => acc.withColumn(c, col(c) + col("__rep") * band)
            }.drop("__rep")
            .repartitionByRange(32 * rep, col(key)).sortWithinPartitions(key)
            .write.mode("overwrite").parquet(out)
        }
        name -> spark.read.parquet(out)
      }
      Fixtures(tables.toMap, Bands, rep)
    }
  }

  /** A registry entry: `run` measures `name` in seconds; `needs` names the
    * earlier entries whose tables it reads, which run first even when not
    * asked for. */
  private final case class Entry(name: String, needs: Seq[String], run: () => Double)

  private def entry(name: String, needs: String*)(run: => Double): Entry =
    Entry(name, needs, () => run)

  /** The scale protocol's default subset. */
  private val ScaleEntries = Set("b1_full_load", "b2_cdc_upsert", "b8_changes",
    "b7_pruned_upsert", "e7_span_dedup", "e17_bpe_train", "b12_mv_join_refresh",
    "b13_mv_hll_refresh", "b15_outer_mv_refresh")

  /** Every entry, in the order the driver protocol times them (the
    * single-JVM methodology times entries in a fixed warm-up sequence). */
  private def registry(spark: SparkSession, sfDir: String, fx: Fixtures): Seq[Entry] = {
    def tbl(name: String) = spark.read.parquet(s"$sfDir/$name.parquet")
    def events = {
      val ev = tbl("events")
      ev.withColumn("ts_us", graft.queries.Tables.tsMicrosOf(ev.schema("ts").dataType))
        .select("event_id", "user_id", "event_type", "value", "ts_us")
    }
    def timedWithJobs(prefix: String)(body: => Any): Double = {
      val (_, t, jobs) = timedJobs(spark)(body)
      meta(s"${prefix}_jobs") = jobs
      t
    }
    val liSpec = TableSpec("lkey", "l_shipdate")
    var cow: LakeTable = null
    var mor: LakeTable = null
    var vix: graft.ext.VectorIndex = null
    lazy val vixQueries = tbl("embeddings").filter(col("vec_id") < 2)
    lazy val b13Dir = freshDir("b13_base")

    Seq(
      // B1: full-load ingest — CoW create from lineitem. bulkInsert matches
      // the reference's full load, which runs the Hudi INSERT operation
      // (no combine-before-insert) — README.md:276-290.
      entry("b1_full_load") {
        val cowPath = freshDir("b1_cow")
        val t = timedWithJobs("b1") {
          LakeTable.create(spark, cowPath, liSpec, fx.li, bulkInsert = true)
        }
        cow = LakeTable.load(spark, cowPath)
        t
      },

      // B2: CDC upsert into the CoW table. On key-ordered replicas the
      // band-0 churn keys fall in ~1/R of the files — the rewrite (and its
      // probe) must ride the key stats, not the table size.
      entry("b2_cdc_upsert", "b1_full_load") {
        timedWithJobs("b2") { cow.upsert(fx.liSource) }
      },

      // B3: MoR upsert + realtime read.
      entry("b3_mor_upsert_rt") {
        val morPath = freshDir("b3_mor")
        LakeTable.create(spark, morPath, liSpec.copy(mor = true), fx.li)
        mor = LakeTable.load(spark, morPath)
        timedWithJobs("b3") { mor.upsert(fx.liSource); noop(mor.realtime()) }
      },

      // B4: dedup-to-latest, the J1 groupwise-max join shape (README.md:1217-1221).
      entry("b4_dedup_latest")(median {
        val ev = events
        val mx = ev.groupBy(col("user_id").as("m_uid")).agg(max("ts_us").as("mx"))
        ev.join(mx, col("user_id") === col("m_uid") && col("ts_us") === col("mx"))
          .drop("m_uid", "mx")
      }),

      // B5: snapshot scan + aggregate over the merged CoW table.
      entry("b5_snapshot_agg", "b2_cdc_upsert")(median {
        cow.read().groupBy("l_returnflag", "l_linestatus")
          .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n"))
      }),

      // B6: compaction (MoR logs folded into base).
      entry("b6_compact", "b3_mor_upsert_rt") { timedWithJobs("b6") { mor.compact() } },

      // B8: change-data-feed read of the B2 churn window — cost must track
      // the churn (window-touched files), not the table size.
      entry("b8_changes", "b2_cdc_upsert")(median { cow.changes(0) }),

      // B7: range-localized upsert on a key-clustered table — the common
      // production shape (recent keys churn). Stats pruning should confine
      // the rewrite to the files covering the touched key range. targetFiles
      // scales with the replicas: production clusters to a constant FILE
      // SIZE, so the file count (not the file size) grows with data.
      entry("b7_pruned_upsert") {
        val clusteredPath = freshDir("b7_clustered")
        LakeTable.create(spark, clusteredPath, liSpec, fx.li, bulkInsert = true)
        val clustered = LakeTable.load(spark, clusteredPath)
        clustered.compact(clusterByKey = true, targetFiles = 32 * fx.rep)
        timedWithJobs("b7") { clustered.upsert(fx.b7Batch) }
      },

      // B9: storage-partitioned join — two same-bucketed copies of lineitem
      // join on (key, _bucket) with ZERO shuffle on either side (contrast
      // with r2_join_agg, the shuffling fact-fact join). Setup (bucketed
      // creates) is untimed: at scale the bucketed layout is written once
      // and every subsequent join rides it.
      entry("b9_bucket_join") {
        val bktSpec = liSpec.copy(buckets = 32)
        val bktA = freshDir("b9_a"); val bktB = freshDir("b9_b")
        LakeTable.create(spark, bktA, bktSpec, fx.li, bulkInsert = true)
        LakeTable.create(spark, bktB, bktSpec,
          fx.li.withColumn("l_extendedprice", col("l_extendedprice") * 2.0), bulkInsert = true)
        spark.conf.set("spark.sql.catalog.gb", "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.gb.warehouse", freshDir("b9_wh"))
        spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
        spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
        spark.sql(s"CREATE TABLE gb.default.b9a USING graft LOCATION '$bktA'")
        spark.sql(s"CREATE TABLE gb.default.b9b USING graft LOCATION '$bktB'")
        // median-of-5: b9 is the shortest multi-stage query in the set and
        // has historically been the most GC/JIT-noise-prone entry (r3
        // verdict); two extra repetitions stabilize the median without
        // changing what is measured
        val t = median(
          spark.sql(
            """SELECT a.lkey, a.l_extendedprice AS pa, b.l_extendedprice AS pb
              |FROM gb.default.b9a a JOIN gb.default.b9b b
              |ON a.lkey = b.lkey AND a._bucket = b._bucket""".stripMargin),
          n = 5)
        spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
        t
      },

      // E1: MinHash-LSH dedup on the bounded documents subset.
      entry("e1_minhash_dedup")(median {
        val docs = fx.docs.filter(col("doc_id") < 2000)
        Dedup.minhashPairs(docs, threshold = 0.6, numHashes = 64, bands = 16, k = 4)
      }),

      // E2: brute-force cosine top-k over all embeddings.
      entry("e2_cosine_topk")(median {
        val emb = tbl("embeddings")
        Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), k = 5)
      }),

      // E5: int8-quantized top-k — same shape as E2 with packed-byte integer
      // scoring; at equal wall-clock the quantized path is processing 8×
      // less vector data (the number to compare against e2).
      entry("e5_quantized_ann")(median {
        val emb = tbl("embeddings")
        Similarity.quantizedTopK(emb, emb.filter(col("vec_id") < 10), k = 5)
      }),

      // E6: PQ/ADC top-k with exact rerank — the compressed-scan ANN path;
      // compare against e2 (same answer shape, 8-byte codes instead of
      // 512-byte vectors in the scan). The index is built ONCE and cached
      // (untimed setup): at scale it is written out and every query batch
      // rides it — the timed cost is the ADC scan + shortlist rerank.
      entry("e6_pq_ann") {
        val emb = tbl("embeddings")
        val idx0 = Similarity.pqIndex(emb)
        val idx = idx0.copy(encoded = idx0.encoded.cache())
        idx.encoded.count() // materialize the index before timing
        val t = median {
          Similarity.pqSearch(idx, emb, emb.filter(col("vec_id") < 10), k = 5, rerank = 4)
        }
        idx.encoded.unpersist()
        t
      },

      // E13/E14: persisted IVF-PQ search over ONE list-partitioned lake
      // index (build untimed, long-lived state at scale). e13 probes 2/16
      // lists per query (the small-batch serving shape) — only the probed
      // partitions' files open (require-pinned) and per query only its own
      // lists' candidates score; e14 is the SAME index and query batch
      // scanned in full (nProbe=0 → flat ADC over every file) — the pair
      // isolates what coarse pruning buys at equal storage and recall
      // shape. The corpus is the embeddings table replicated 192× under
      // shifted ids (deterministic — at the bench SF the raw table is so
      // small that per-job fixed costs would swamp the scan the pruning
      // removes; the pruning factor itself is size-independent).
      entry("e13_ivf_pruned_ann") {
        val vixCorpus = tbl("embeddings")
          .crossJoin(spark.range(192).toDF("rep"))
          .withColumn("vec_id", col("vec_id") + col("rep") * 1000000L)
          .drop("rep")
        vix = graft.ext.VectorIndex.build(spark, freshDir("e13_vix"), vixCorpus, numLists = 16)
        val (p, tot) = vix.prunedFileCounts(vixQueries, nProbe = 2)
        require(p > 0 && p < tot, s"probe pruning must skip files: $p/$tot")
        median { vix.search(vixQueries, k = 5, rerank = 4, nProbe = 2) }
      },
      entry("e14_vix_full_adc", "e13_ivf_pruned_ann")(median {
        vix.search(vixQueries, k = 5, rerank = 4)
      }),

      // E3: full text-stats pass over documents.
      entry("e3_text_stats")(median(TextAnalysis.stats(fx.docs))),

      // E7: span-level dedup over the full documents table — explode-heavy
      // (one row per word position), all keyed shuffles; the C4-pipeline
      // op whose cost tracks corpus token count.
      entry("e7_span_dedup")(median(Dedup.spanDedup(fx.docs))),

      // E8: Stupid-Backoff LM quality scoring (the CCNet-style filter):
      // three n-gram count tables trained on the even half, every doc
      // scored per token at its longest matching order — fixed-point
      // integer arithmetic, five gram joins, cost ∝ scored tokens.
      entry("e8_lm_quality")(median {
        val docs = fx.docs
        TextAnalysis.stupidBackoff(docs.filter(col("doc_id") % 2 === 0), docs)
      }),

      // E9: incremental-dedup probe — a new batch against the persisted
      // fingerprint index (index build untimed: it is long-lived state at
      // scale; the recurring cost is the probe). Timed: within-batch dedup
      // + the eager containsKeys probe (key summary, pruning, one job
      // collecting the present keys) + anti-join with that driver-side
      // set, cost ∝ batch.
      entry("e9_inc_dedup") {
        val docs = fx.docs.select("doc_id", "text")
        val even = docs.filter(col("doc_id") % 2 === 0)
        val seed = Dedup.copyCounts(even)
          .select(col("fingerprint"), col("keep_id").cast("long").as("doc_id"))
        val idx = LakeTable.create(spark, freshDir("e9_idx"),
          TableSpec("fingerprint", "doc_id", bloomBitsPerKey = 10), seed)
        val batch = docs.filter(col("doc_id") % 2 === 1)
          .unionByName(even.filter(col("doc_id") % 10 === 0)
            .withColumn("doc_id", col("doc_id") + 900000L))
        median { Dedup.incrementalDedup(idx, batch, commit = false) }
      },

      // E4: as-of join, purchases to latest prior click per user.
      entry("e4_asof_join")(median {
        val ev = events
        val purchase = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("purchase_id"), col("ts_us"))
        val click = ev.filter(col("event_type") === "click")
          .groupBy("user_id", "ts_us").agg(max(col("event_id")).as("click_id"))
        graft.ext.AsOfJoin.asof(purchase, click, "user_id", "ts_us", "ts_us")
      }),

      // E10: banded range join — the no-equi-key inequality join that would
      // nested-loop naively; bins keep it a hash join at any scale.
      entry("e10_band_join")(median {
        val ev = events
        val errs = ev.filter(col("event_type") === "error")
          .select(col("event_id").as("error_id"), col("ts_us").as("e_ts"))
        val purch = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"), col("ts_us").as("p_ts"))
        graft.ext.RangeJoin.bandJoin(errs, "e_ts", purch, "p_ts",
            lower = 1L, upper = 30L * 60 * 1000000 + 1)
          .groupBy("error_id").agg(count(lit(1)).as("n"))
      }),

      // E11: exact-Jaccard near-dup pairs via PPJoin prefix filtering — the
      // exact-answer complement of e1's minhash on the same doc subset and
      // threshold: candidate pairs come only from each doc's rarest
      // (frequency-ordered prefix) shingles, then verify exactly.
      entry("e11_prefix_jaccard")(median {
        val docs = fx.docs.filter(col("doc_id") < 2000)
        Dedup.ngramJaccardPairs(docs, threshold = 0.6, k = 4, prefixFilter = true)
      }),

      // B10: bloom-indexed point lookup — the non-key equality path. The
      // table is built once (untimed, like e6's index build); the timed
      // work is sidecar probing + scanning only the surviving files.
      entry("b10_bloom_lookup") {
        val dir = freshDir("b10_bloom")
        val t = LakeTable.create(spark, dir,
          TableSpec("o_orderkey", "o_orderdate", bloomColumns = Seq("o_custkey")),
          fx.orders.repartition(32), bulkInsert = true)
        val ck = t.read().filter(col("o_orderkey") === 32L)
          .select("o_custkey").head().getLong(0)
        median {
          t.readWhere(Seq(org.apache.spark.sql.sources.EqualTo("o_custkey", ck)))
            .filter(col("o_custkey") === ck)
        }
      },

      // E12: BM25 ranked retrieval — exact-integer scoring; the explode is
      // filtered to the 3 query terms before any shuffle.
      entry("e12_bm25")(median {
        TextAnalysis.bm25(fx.docs, terms = Seq("join", "window", "dup"), topK = 20)
      }),

      // E15: the SAME ranked retrieval served from the persisted inverted
      // index (build untimed — long-lived state at scale): the scan opens
      // only the 3 query terms' bucket partitions (require-pinned) and
      // reads pre-counted (term, doc, tf, dl) postings instead of
      // re-tokenizing the corpus — e12 is the per-query full-scan control.
      entry("e15_text_index") {
        val ix = graft.ext.TextIndex.build(spark, freshDir("e15_tix"), fx.docs)
        val qterms = Seq("join", "window", "dup")
        val (p, tot) = ix.prunedFileCounts(qterms)
        require(p > 0 && p < tot, s"term-bucket pruning must skip files: $p/$tot")
        median { ix.search(qterms, topK = 20) }
      },

      // E16: unigram-LM tokenizer encode over the full documents table —
      // training untimed (artifact lifecycle, like the index builds); the
      // timed work is the per-word native integer Viterbi inside whole-stage
      // codegen, cost ∝ corpus tokens (the recurring encode cost of every
      // training-data pipeline).
      entry("e16_unigram_encode") {
        val docs = fx.docs
        val vocab = graft.ext.Unigram.train(docs.filter(col("doc_id") < 1000),
          vocabSize = 400, seedSize = 1500, maxPieceLen = 4, emIters = 2)
        median {
          docs.select(col("doc_id"),
            size(graft.ext.Unigram.encode(vocab, col("text"))).as("n"))
        }
      },

      // E17: batched BPE tokenizer training — merges accepted in
      // certificate-verified speculative batches (a CONSTANT ~6 Spark jobs
      // per batch instead of 3+ scheduler round-trips per merge — the
      // difference between 32 merges and a real 30k vocabulary being
      // schedulable at all). Timed: the word-frequency pass + 32 certified
      // merges on the q91 training corpus (doc_id < 1000 — tokenizers
      // train on a bounded sample; the corpus-∝ piece is the one
      // word-frequency aggregate), every replica of it at scale.
      entry("e17_bpe_train") {
        val docs = fx.docs.filter(fx.unshifted("doc_id") < 1000)
        var st: (graft.ext.Bpe.Merges, Seq[graft.ext.Bpe.RoundStat]) = null
        val t = timedWithJobs("e17") {
          st = graft.ext.Bpe.trainWithStats(docs, numMerges = 32)
        }
        meta("e17_merges") = st._1.pairs.size.toLong
        t
      },

      // B11: automatic MV rewrite — the aggregate is answered from the MV
      // state table (build untimed, like e6's index); the timed work is the
      // rewrite + a scan of a few pre-aggregated rows, vs r2's full
      // scan + shuffle shape.
      entry("b11_mv_rewrite") {
        val dir = freshDir("b11_mv_base")
        val base = LakeTable.create(spark, dir,
          TableSpec("o_orderkey", "o_orderdate"), fx.orders)
        val mvDir = freshDir("b11_mv")
        graft.lake.MaterializedView.create(spark, mvDir, base, Seq("o_orderstatus"),
          Seq(graft.lake.MvAgg("n", "count", "*"),
            graft.lake.MvAgg("s", "sum", "o_custkey")))
        graft.sql.GraftMvRewrite.register(mvDir)
        try median {
          val q = spark.read.format("graft").load(dir).groupBy("o_orderstatus")
            .agg(count(lit(1)).as("n"), sum("o_custkey").as("s"))
          val plan = graft.sql.GraftMvRewrite(q.queryExecution.analyzed)
          require(!plan.exists(
            _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Aggregate]))
          org.apache.spark.sql.GraftExpressionBridge.ofRows(spark, plan)
        } finally graft.sql.GraftMvRewrite.unregister(mvDir)
      },

      // B12: star-join MV incremental refresh — churn on BOTH tables
      // absorbed in one refresh via ΔF⋈D_old + F_new⋈ΔD. The fact-churn
      // half joins only the window delta against the dim; the dim-churn
      // half key-restricts the fact snapshot to the changed dim keys. r2 is
      // the recompute-shaped control (full join + aggregate).
      entry("b12_mv_join_refresh") {
        val fDir = freshDir("b12_f"); val dDir = freshDir("b12_d")
        val fact = LakeTable.create(spark, fDir,
          TableSpec("o_orderkey", "o_orderdate"), fx.orders)
        val dim = LakeTable.create(spark, dDir, TableSpec("c_custkey", "cver"),
          fx.customer.withColumn("cver", lit(0L)))
        val mvDir = freshDir("b12_mv")
        graft.lake.MaterializedView.create(spark, mvDir, fact, Seq("c_mktsegment"),
          Seq(graft.lake.MvAgg("n", "count", "*"),
            graft.lake.MvAgg("s", "sum", "o_custkey")),
          Seq(graft.lake.MaterializedView.MvJoin(dDir, "o_custkey", "c_custkey")))
        fact.upsert(fx.b12FactBatch)
        dim.upsert(fx.b12DimBatch)
        timedWithJobs("b12") {
          graft.lake.MaterializedView.load(spark, mvDir).refresh()
        }
      },

      // B13/B14: incremental distinct-count maintenance vs recompute. B13
      // times one hll-MV refresh absorbing a 1% pure-addition batch:
      // windowDelta reads only the appended file, the per-group sketches
      // union in — cost ∝ churn + state commit. B14 is the recompute
      // control on the SAME final table: full COUNT(DISTINCT) groupBy
      // (expand + vocabulary-sized shuffle). At this SF the refresh is
      // commit-overhead bound; at 100 TB the control is a full scan whose
      // shuffle carries every distinct (group, custkey) pair, while the
      // refresh stays ∝ the batch.
      entry("b13_mv_hll_refresh") {
        val base = LakeTable.create(spark, b13Dir,
          TableSpec("o_orderkey", "o_orderdate"), fx.orders)
        val mvDir = freshDir("b13_mv")
        graft.lake.MaterializedView.create(spark, mvDir, base, Seq("o_orderstatus"),
          Seq(graft.lake.MvAgg("n", "count", "*"),
            graft.lake.MvAgg("du", "hll", "o_custkey")))
        base.upsert(fx.b13FactBatch)
        timedWithJobs("b13") {
          graft.lake.MaterializedView.load(spark, mvDir).refresh()
        }
      },
      entry("b14_distinct_recompute", "b13_mv_hll_refresh")(median {
        spark.read.format("graft").load(b13Dir).groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), countDistinct(col("o_custkey")).as("du"))
      }),

      // B15: LEFT-OUTER MV refresh — dim churn WITH key flips on a
      // custkey-CLUSTERED fact (the q163 shape). The null-extension
      // transition term must never scan the fact snapshot: flipped keys
      // (births from the missing quarter, deaths) push as IN file filters
      // into the clustered fact, no-flip segment moves ride the inner ΔD
      // term, and the existence probes open only the touched keys' dim
      // files. A pruning regression here (the round-10 transition/probe
      // pushdowns) shows up directly as this entry's time.
      entry("b15_outer_mv_refresh") {
        val fDir = freshDir("b15_f"); val dDir = freshDir("b15_d")
        val fact = LakeTable.create(spark, fDir,
          TableSpec("o_orderkey", "o_orderdate",
            statsColumns = Seq("o_custkey"), writeSortColumns = Seq("o_custkey")),
          fx.orders, bulkInsert = true)
        // a quarter of the customers missing: their orders null-extend
        val dim = LakeTable.create(spark, dDir, TableSpec("c_custkey", "cver"),
          fx.customer.filter(col("c_custkey") % 4 =!= 0)
            .withColumn("cver", lit(0L)))
        val mvDir = freshDir("b15_mv")
        graft.lake.MaterializedView.create(spark, mvDir, fact, Seq("c_mktsegment"),
          Seq(graft.lake.MvAgg("n", "count", "*"),
            graft.lake.MvAgg("s", "sum", "o_custkey")),
          Seq(graft.lake.MaterializedView.MvJoin(dDir, Seq("o_custkey"),
            Seq("c_custkey"), 0L, outer = true)))
        dim.upsert(fx.b15DimMoves)
        dim.upsert(fx.b15DimBirths)
        dim.delete(fx.b15DimDeaths)
        timedWithJobs("b15") {
          graft.lake.MaterializedView.load(spark, mvDir).refresh()
        }
      },

      // R1: TPC-H Q1 shape from the relational set.
      entry("r1_pricing_summary")(median(
        graft.queries.Relational.defs("q01_pricing_summary")._1(spark, sfDir))),

      // R2: join + aggregate.
      entry("r2_join_agg")(median(
        graft.queries.Relational.defs("q03_join_agg")._1(spark, sfDir))))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = graft.core.GraftSession.tune(
      SparkSession.builder().master(s"local[$cpus]").appName("graft-bench"), cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // known-benign warning sources, silenced so the bench tail is signal:
    // BPE eagerly frees SUPERSEDED localCheckpoints (their lineage
    // truncation is the point — they are never recomputed), and
    // CacheManager re-cache notices from persist-reuse inside retries
    Seq("org.apache.spark.rdd.MapPartitionsRDD",
        "org.apache.spark.sql.execution.CacheManager").foreach(l =>
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        l, org.apache.logging.log4j.Level.ERROR))

    val rep = sys.env.get("SPARK_GRAFT_SCALE_REP").map(_.toInt)
    val fx = rep.fold(Fixtures.driver(spark, sfDir)) { r =>
      // production's layout invariant is constant FILE SIZE (count grows
      // with data); at sandbox SFs the AQE 64MB advisory would coalesce
      // every write to ~1 file and make file-granular stats pruning
      // structurally unobservable. 40k rows/file is the sandbox stand-in
      // for the ~128MB production target — applied identically at every
      // replica count, it gives every table a data-proportional file count.
      spark.conf.set("spark.sql.files.maxRecordsPerFile", "40000")
      val f = Fixtures.scale(spark, sfDir,
        sys.env.getOrElse("SPARK_GRAFT_SCALE_FIX", "/tmp/graft_scale_fix"), r)
      meta("li_rows") = f.li.count()
      meta("orders_rows") = f.orders.count()
      meta("doc_rows") = f.docs.count()
      f
    }
    val entries = registry(spark, sfDir, fx)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
      .getOrElse(if (rep.isEmpty) Set.empty[String] else ScaleEntries)
    val unknown = only -- entries.map(_.name)
    require(unknown.isEmpty, s"no bench entry named ${unknown.mkString(", ")}")
    // `needs` point to earlier entries, so one backward pass closes the subset
    val chosen =
      if (only.isEmpty) entries.map(_.name).toSet
      else entries.foldRight(only)((e, s) => if (s(e.name)) s ++ e.needs else s)

    // warm the JVM/codegen paths before the first timed write (BASELINE.md
    // protocol: warm JVM)
    fx.li.limit(10000).write.mode("overwrite").format("noop").save()
    val results = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    entries.filter(e => chosen(e.name)).foreach(e => results(e.name) = e.run())

    val qs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val ms = meta.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.values.sum
    val (metric, repField) = rep.fold(("total", ""))(r => ("scale_total", s""""rep":$r,"""))
    println(f"""{"metric":"$metric","value":$total%.3f,"unit":"sec",$repField"queries":$qs,"meta":$ms,"sf":"$sfDir"}""")
    spark.stop()
  }
}
