package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cross-corpus decontamination (round-3 addition, SURVEY.md §2c) —
  * the training-data operation the single-corpus dedup family cannot
  * express: remove (or flag) training documents that leak content from
  * a held-out benchmark/eval corpus, so a model is not trained on its
  * own test set.
  *
  * Scale design: both operators reduce the BENCHMARK side to a distinct
  * key set (content hashes or n-grams) before touching the training
  * corpus. Benchmarks are small relative to 100 TB of training data, so
  * AQE broadcasts the reduced key set and the training side is never
  * shuffled — the whole check runs at scan speed; only the per-doc
  * match aggregation in [[ngramReport]] shuffles (combiner-friendly,
  * keyed by doc).
  */
object Decontaminate {

  /** Exact decontamination: drop training docs whose normalized content
    * hash ([[Dedup.normalized]] → md5) appears in the benchmark. Returns
    * (doc_id, content_hash) of the SURVIVING training docs — one
    * anti-join on the distinct benchmark hash set. */
  def exactClean(train: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    def hashed(df: DataFrame): DataFrame =
      df.select(col(idCol).as("doc_id"),
        md5(Dedup.normalized(col(textCol))).as("content_hash"))
    hashed(train).join(hashed(benchmark).select("content_hash").distinct(),
      Seq("content_hash"), "left_anti")
      .select(col("doc_id"), col("content_hash"))
  }

  /** N-gram overlap report: for every training doc, how many of its
    * distinct word n-grams also occur anywhere in the benchmark, and
    * whether that crosses the contamination threshold. Partial overlap
    * catches quoted/excerpted leakage that exact hashing misses.
    * Output: (doc_id, n_shared_ngrams, contaminated 0/1). */
  def ngramReport(train: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int = 8,
      minShared: Long = 1L): DataFrame = {
    val benchGrams = Dedup.shingles(benchmark, idCol, textCol, n)
      .select(col("s")).distinct()
    val shared = Dedup.shingles(train, idCol, textCol, n)
      .join(benchGrams, "s")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared_ngrams"))
    train.select(col(idCol).cast("long").as("doc_id"))
      .join(shared, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared_ngrams"), lit(0L)).as("n_shared_ngrams"))
      .withColumn("contaminated",
        (col("n_shared_ngrams") >= minShared).cast("int"))
  }

  /** Cross-corpus NEAR-duplicate report — fuzzy decontamination: MinHash
    * LSH between the training and benchmark corpora (banded md5
    * signatures, bucket join ACROSS corpora only, exact-Jaccard verify
    * of candidates), catching lightly-edited benchmark leakage that
    * both [[exactClean]] and fixed-n-gram overlap miss. Same scale
    * contract as [[Dedup.minhashLsh]]: O(n·bands) bucket join, capped
    * buckets, no all-pairs anywhere. Output: (train_id, bench_id,
    * jaccard) for pairs with Jaccard ≥ τ. */
  def nearDupReport(train: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, tau: Double,
      minhashK: Int = 16, bands: Int = 4,
      maxBucket: Long = Dedup.DefaultMaxBucket): DataFrame = {
    val setsT = Dedup.shingleSets(train, idCol, textCol)
    val setsB = Dedup.shingleSets(benchmark, idCol, textCol)
    nearDupPairs(Dedup.exploded(setsT),
      Dedup.bandedBuckets(setsT, minhashK, bands),
      Dedup.exploded(setsB), Dedup.bandedBuckets(setsB, minhashK, bands),
      tau, maxBucket)
  }

  /** [[nearDupReport]]'s core over pre-derived relations: per-side
    * (doc_id, s) shingles and (doc_id, band, bh) bucket keys — the
    * seam that lets [[Dedup.incrementalCleanIndexed]] probe a
    * PERSISTED corpus index instead of recomputing signatures. Caps
    * apply per side here, exactly as the from-raw form. */
  private[operators] def nearDupPairs(shT: DataFrame, bucketsT: DataFrame,
      shB: DataFrame, bucketsB: DataFrame, tau: Double,
      maxBucket: Long): DataFrame = {
    def capped(b: DataFrame): DataFrame =
      Skew.capBuckets(b, Seq(col("band"), col("bh")), maxBucket)
    val candidates = capped(bucketsT).as("a")
      .join(capped(bucketsB).as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh"))
      .select(col("a.doc_id").as("train_id"), col("b.doc_id").as("bench_id"))
      .distinct()
    val sizesT = shT.groupBy(col("doc_id")).agg(count(lit(1)).as("n_a"))
    val sizesB = shB.groupBy(col("doc_id")).agg(count(lit(1)).as("n_b"))
    val inter = candidates
      .join(shT.as("sa"), col("train_id") === col("sa.doc_id"))
      .join(shB.as("sb"),
        col("bench_id") === col("sb.doc_id") && col("sa.s") === col("sb.s"))
      .groupBy(col("train_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizesT.select(col("doc_id").as("train_id"), col("n_a")), "train_id")
      .join(sizesB.select(col("doc_id").as("bench_id"), col("n_b")), "bench_id")
      .withColumn("jaccard", col("n_inter").cast("double") /
        (col("n_a") + col("n_b") - col("n_inter")))
      .filter(col("jaccard") >= tau)
      .select(col("train_id"), col("bench_id"), col("jaccard"))
  }

  /** EXACT decontamination via a broadcast Bloom prefilter (round-4,
    * §2d) — [[exactClean]]'s semantics on a 100 TB training side:
    * the benchmark's hash set is folded DISTRIBUTEDLY into one
    * serialized Bloom filter (Spark's own runtime-filter aggregate,
    * surfaced as `bloom_agg`), broadcast as a single row, and probed
    * by a codegen'd `bloom_contains` filter at scan speed. Only the
    * bloom-POSITIVE sliver (true matches + fpp) enters the exact
    * anti-join verify, so the training corpus is never shuffled and
    * the result is EXACTLY [[exactClean]]'s — a Bloom filter has no
    * false negatives, and its false positives are re-checked exactly.
    *
    * `estItems`/`numBits` size the filter: fpp ≈ 0.6185^(numBits/
    * items); the default 8 MiB filter holds ~4M benchmark docs at
    * ≲1% fpp — benchmark corpora are small by construction.
    *
    * The benchmark hash set is scanned TWICE (once folded into the
    * Bloom filter, once as the exact anti-join side of the verify
    * branch) — deliberate: the benchmark is the small corpus, and a
    * second scan of it is far cheaper than caching it or giving up
    * the scan-speed prefilter on the 100 TB training side. An empty
    * benchmark makes `bloom_agg` evaluate to NULL; the probe is
    * COALESCE'd to FALSE (nothing to be contained in), so the
    * NOT-maybe branch keeps every training row — same as
    * [[exactClean]] against an empty hash set. */
  def bloomClean(train: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String,
      estItems: Long = 4L * 1000 * 1000,
      numBits: Long = 64L * 1024 * 1024): DataFrame = {
    val spark = train.sparkSession
    graft.functions.GraftFunctions.register(spark)
    def hashed(df: DataFrame): DataFrame =
      df.select(col(idCol).as("doc_id"),
        md5(Dedup.normalized(col(textCol))).as("content_hash"))
    // might_contain requires the filter as a constant/scalar subquery,
    // so the composition is SQL over temp views. View names are unique
    // per invocation (concurrent bloomCleans on one session must not
    // clobber each other) and dropped right after spark.sql — analysis
    // is eager, so the resolved plan no longer needs the catalog
    // entries. Caller column names never reach the SQL text — they are
    // bound by hashed() above.
    val tag = bloomInvocation.getAndIncrement()
    val trainView = s"graft_bloom_train_$tag"
    val benchView = s"graft_bloom_bench_$tag"
    hashed(train).createOrReplaceTempView(trainView)
    hashed(benchmark).select("content_hash").distinct()
      .createOrReplaceTempView(benchView)
    try spark.sql(s"""
      WITH flagged AS (
        SELECT doc_id, content_hash,
          COALESCE(bloom_contains(
            (SELECT bloom_agg(xxhash64(content_hash), ${estItems}L,
                              ${numBits}L)
             FROM $benchView),
            xxhash64(content_hash)), FALSE) AS maybe
        FROM $trainView)
      SELECT doc_id, content_hash FROM flagged WHERE NOT maybe
      UNION ALL
      SELECT f.doc_id, f.content_hash FROM flagged f
      WHERE f.maybe AND NOT EXISTS (
        SELECT 1 FROM $benchView b
        WHERE b.content_hash = f.content_hash)""")
    finally {
      spark.catalog.dropTempView(trainView)
      spark.catalog.dropTempView(benchView)
    }
  }

  /** Per-invocation tag for [[bloomClean]]'s temp views. */
  private val bloomInvocation = new java.util.concurrent.atomic.AtomicLong(0L)

  /** The filtering form of [[ngramReport]]: training rows that share
    * fewer than `minShared` n-grams with the benchmark, unchanged. */
  def ngramClean(train: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int = 8,
      minShared: Long = 1L): DataFrame = {
    val contaminated = ngramReport(train, benchmark, idCol, textCol, n,
      minShared)
      .filter(col("contaminated") === 1)
      .select(col("doc_id").as(idCol))
    train.join(contaminated, Seq(idCol), "left_anti")
  }
}
