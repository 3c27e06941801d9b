package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.sources.TxLog

/** Generic deduplication operators (SURVEY.md §2.5) over ANY document
  * table — callers name the id/text columns; the oracle-checked
  * `graft.queries.DedupQueries` bindings apply these to the testdata.
  *
  * Scale design:
  *  - exact: one hash-partitioned groupBy on the content hash.
  *  - n-gram Jaccard: O(n·shingles) explode + equi-join on the shingle
  *    key instead of the O(n²) compare; stop-shingle buckets are capped
  *    ([[Skew.capBuckets]]).
  *  - MinHash-LSH: per-document values stay in the document's row —
  *    the shingle set ([[shingleSets]]), its codegen'd md5 signature
  *    (`minhash_md5`) and band keys are one narrow projection; the band
  *    hash is the only shuffle key of candidate generation (oversized
  *    buckets capped), and candidates verify by intersecting the two
  *    documents' sets. No shingle row is ever shuffled.
  *  - SimHash: codegen'd 64-bit signature + banded hamming candidates.
  *  - embedding: exact all-pairs for verification; banded hyperplane
  *    LSH ([[Similarity.dedupEmbeddingLsh]]) is the production path.
  *
  * Per-row contract: document ids are unique. A repeated id is not
  * merged into one document — each row is its own document.
  */
object Dedup {

  /** Whitespace-normalized lowercase content. */
  def normalized(text: Column): Column =
    lower(regexp_replace(trim(text), "\\s+", " "))

  /** Exact dedup: normalize → md5 → groupBy(hash); keeper = min(id).
    * Output: (content_hash, n_docs, keeper_id). */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), md5(normalized(col(textCol)))
        .as("content_hash"))
      .groupBy(col("content_hash"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keeper_id"))

  /** Each document's distinct word-n-gram shingle set, in first-seen
    * order: (doc_id, sh array<string>). Null text and documents with
    * fewer than `n` words emit no row, so every set is non-empty. Typed
    * flatMap — compiled sliding window, ~3× faster than the interpreted
    * higher-order-function path. */
  def shingleSets(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // tokenizing and md5-signing the sets are the expensive per-row
    // work of the whole dedup family; spread a single-split input over
    // the cores first (no-op at real scan parallelism — Skew.spread)
    Skew.spread(
      docs
        .select(col(idCol).cast("long").as("doc_id"),
          col(textCol).as("text"))
        .filter(col("text").isNotNull), // real feeds have nulls; skip, don't NPE
      col("doc_id"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        // same tokenization as split(lower(trim(text)), ' ') with
        // trailing empties kept (limit -1)
        val w = text.trim.toLowerCase.split(" ", -1)
        if (w.length < n) Iterator.empty
        else Iterator.single((id, w.sliding(n).map(_.mkString(" "))
          .toArray.distinct))
      }
      .toDF("doc_id", "sh")
  }

  /** Distinct word-n-gram shingles per document: (doc_id, s) — the
    * [[shingleSets]] exploded, one row per shingle. */
  def shingles(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame =
    exploded(shingleSets(docs, idCol, textCol, n))

  /** A (doc_id, sh) set relation as (doc_id, s) shingle rows. */
  private[graft] def exploded(sets: DataFrame): DataFrame =
    sets.select(col("doc_id"), explode(col("sh")).as("s"))

  /** Default stop-shingle/band-bucket cap: far above any real similarity
    * bucket, small enough that one degenerate key can't produce an
    * O(b²) candidate explosion (1000² pairs ≈ 1M rows, one task's work). */
  val DefaultMaxBucket = 1000L

  /** Exact pairwise Jaccard ≥ τ via shingle self-join. Output:
    * (id_a, id_b, n_inter, n_a, n_b, jaccard).
    *
    * Shingles shared by more than `maxBucket` documents are treated as
    * stop-shingles and removed from the similarity universe (sizes AND
    * intersections — Jaccard stays exact over the reduced universe, the
    * standard guard: a bucket that common carries no similarity signal
    * and would otherwise explode into O(b²) join rows). */
  def ngramJaccard(docs: DataFrame, idCol: String, textCol: String,
      tau: Double, maxBucket: Long = DefaultMaxBucket): DataFrame = {
    // The shingle set feeds several plan branches. Deliberately NOT
    // persisted: regenerating it is a narrow scan + compiled flatMap
    // (runs at scan speed), while caching the shingle explosion at
    // 100 TB means spilling a multi-TB intermediate to disk AND holding
    // blocks for the session lifetime (nothing can unpersist a lazy
    // result). Measured at sf0.1: recompute is no slower steady-state.
    val sh = Skew.capBuckets(shingles(docs, idCol, textCol),
      Seq(col("s")), maxBucket)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = sh.as("a")
      .join(sh.as("b"), col("a.s") === col("b.s") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.select(col("doc_id").as("id_a"), col("n").as("n_a")), "id_a")
      .join(sizes.select(col("doc_id").as("id_b"), col("n").as("n_b")), "id_b")
      .withColumn("jaccard", col("n_inter").cast("double") /
        (col("n_a") + col("n_b") - col("n_inter")))
      .filter(col("jaccard") >= tau)
      .select(col("id_a"), col("id_b"), col("n_inter"), col("n_a"),
        col("n_b"), col("jaccard"))
  }

  /** Banded MinHash bucket keys for a [[shingleSets]] relation, one
    * narrow projection: the codegen'd `minhash_md5` signature →
    * per-band bucket hash, stacked to (doc_id, band, bh). A band key
    * is md5 over its signature values as 16-char lowercase hex, exactly
    * `md5(concat(min(substring(md5(concat('i:', s)), 1, 16)), …))` over
    * the exploded shingles. Shared by [[minhashLsh]] (self-join dedup)
    * and [[Decontaminate.nearDupReport]] (cross-corpus join); callers
    * apply their own bucket cap. */
  private[graft] def bandedBuckets(sets: DataFrame, minhashK: Int,
      bands: Int): DataFrame = {
    GraftFunctions.register(sets.sparkSession)
    val rowsPerBand = minhashK / bands
    val sig = sets.select(col("doc_id"),
      call_function("minhash_md5", col("sh"), lit(minhashK)).as("sig"))
    val bandCols = (0 until bands).map { b =>
      val rows = (0 until rowsPerBand).map(r =>
        lpad(lower(hex(col("sig").getItem(b * rowsPerBand + r))), 16, "0"))
      md5(concat(rows: _*)).as(s"band$b")
    }
    sig.select(col("doc_id") +: bandCols: _*)
      .select(col("doc_id"), expr(
        s"""stack($bands, ${(0 until bands)
          .map(b => s"$b, band$b").mkString(", ")}) as (band, bh)"""))
  }

  /** MinHash-LSH near-dup pairs: md5-based MinHash signatures, banded
    * bucket keys ([[bandedBuckets]]), bucket equi-join for candidates,
    * exact-Jaccard verification of candidates only. Output:
    * (id_a, id_b, jaccard).
    *
    * Band buckets larger than `maxBucket` are dropped before the
    * candidate join ([[Skew.capBuckets]]): a bucket that size is a
    * degenerate band (near-constant signature), and its O(b²) pairs
    * would dominate the whole job at scale. */
  def minhashLsh(docs: DataFrame, idCol: String, textCol: String,
      tau: Double, minhashK: Int = 16, bands: Int = 4,
      maxBucket: Long = DefaultMaxBucket): DataFrame =
    // not persisted — same recompute-beats-cache tradeoff as ngramJaccard
    minhashLshSets(shingleSets(docs, idCol, textCol), tau, minhashK,
      bands, maxBucket)

  /** [[minhashLsh]] over an already-derived (possibly checkpointed)
    * [[shingleSets]] relation — lets [[incrementalCleanIndexed]] reuse
    * ONE materialized set relation across the cross-corpus and
    * in-batch stages. */
  private[graft] def minhashLshSets(sets: DataFrame,
      tau: Double, minhashK: Int, bands: Int,
      maxBucket: Long): DataFrame = {
    val exploded = Skew.capBuckets(bandedBuckets(sets, minhashK, bands),
      Seq(col("band"), col("bh")), maxBucket)
    val candidates = exploded.as("a")
      .join(exploded.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    // Verify ONLY the candidates by intersecting their shingle sets —
    // not the all-pairs Jaccard, which is exactly the O(n²)-ish work LSH
    // exists to avoid. The candidate set is data-dependent (near-dup
    // density), so no forced broadcast: AQE broadcasts it when its
    // runtime size genuinely fits, falls back to shuffle join otherwise.
    def side(x: String): DataFrame =
      sets.select(col("doc_id").as(s"id_$x"), col("sh").as(s"sh_$x"))
    candidates.join(side("a"), "id_a").join(side("b"), "id_b")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).as("n_inter"),
        size(col("sh_a")).as("n_a"), size(col("sh_b")).as("n_b"))
      .withColumn("jaccard", col("n_inter").cast("double") /
        (col("n_a") + col("n_b") - col("n_inter")))
      .filter(col("jaccard") >= tau)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Incremental (batch-vs-corpus) dedup — the daily-ingest shape
    * (round-7): dedup an ARRIVING batch against an existing corpus and
    * against itself, without any corpus-wide recompute. The corpus
    * contributes only its content-hash set (one narrow scan +
    * map-side-combined aggregation) and its banded MinHash bucket keys
    * (one narrow projection) — in production, the persisted dedup index
    * a corpus store maintains; nothing corpus-sized is ever re-clustered,
    * re-paired, or shuffled against itself. Batch-sized work is the
    * only quadratic-risk surface, and it runs under the same capped
    * bucket joins as [[minhashLsh]].
    *
    * A batch row survives only if it passes ALL stages (stages are
    * independent — no keeper re-election across them):
    *  1. exact-vs-corpus: content hash present in the corpus → drop;
    *  2. exact-within-batch: keep the min id per batch content hash;
    *  3. near-vs-corpus: MinHash-LSH candidates ACROSS corpora only
    *     ([[Decontaminate.nearDupReport]]), exact-Jaccard ≥ τ → drop;
    *  4. near-within-batch: [[minhashLsh]] pairs → [[components]] →
    *     drop every non-min member.
    * Deterministic (md5 MinHash) and fully SQL-replayable — the
    * driver's DuckDB oracle replays all four stages. Output: the
    * surviving batch rows, original columns unchanged. */
  def incrementalClean(corpus: DataFrame, batch: DataFrame,
      idCol: String, textCol: String, tau: Double,
      minhashK: Int = 16, bands: Int = 4,
      maxBucket: Long = DefaultMaxBucket): DataFrame =
    incrementalCleanIndexed(
      buildIndex(corpus, idCol, textCol, minhashK, bands),
      batch, idCol, textCol, tau, maxBucket)

  /** The persisted form of a standing corpus' dedup structures: the
    * distinct content-hash set (exact stage), the (doc_id, s) shingle
    * relation (Jaccard verification), and the (doc_id, band, bh)
    * MinHash bucket keys (candidate generation), together with the
    * MinHash parameters they were derived under — a persisted index
    * probed with mismatched (minhashK, bands) would silently match
    * nothing, so the parameters travel WITH the relations and
    * [[incrementalCleanIndexed]] takes them from here, never from the
    * caller. In production these three are parquet tables a corpus
    * store maintains alongside the data — [[buildIndex]] derives them
    * (two scans, one map-side-combined aggregation),
    * [[saveIndex]]/[[loadIndex]] persist them bucketed by their join
    * keys, and [[incrementalCleanIndexed]] probes them so DAILY INGEST
    * never pays a corpus-sized recomputation. The shingle relation is
    * the big one (≈ tokens); that is inherent to exact-Jaccard
    * verification and shuffles only where candidate doc ids land. */
  final case class DedupIndex(
      hashes: DataFrame, shingles: DataFrame, buckets: DataFrame,
      minhashK: Int, bands: Int)

  /** Derive a [[DedupIndex]] from a corpus. [[saveIndex]] it to make
    * batch ingest truly corpus-recompute-free across sessions. */
  def buildIndex(corpus: DataFrame, idCol: String, textCol: String,
      minhashK: Int = 16, bands: Int = 4): DedupIndex = {
    val sets = shingleSets(corpus, idCol, textCol)
    DedupIndex(
      hashes = corpus.select(md5(normalized(col(textCol))).as("content_hash"))
        .distinct(),
      shingles = exploded(sets),
      buckets = bandedBuckets(sets, minhashK, bands),
      minhashK = minhashK, bands = bands)
  }

  /** Index table names/specs under a (prefix, path): each relation is a
    * parquet table BUCKETED by its probe-join key, so
    * [[incrementalCleanIndexed]] reads the corpus side pre-partitioned
    * — only the (batch-sized) probe side shuffles. */
  private val IndexTables: Seq[(String, String, Seq[String])] = Seq(
    // (name, schema DDL, bucket/sort keys)
    ("hashes", "content_hash STRING", Seq("content_hash")),
    ("shingles", "doc_id BIGINT, s STRING", Seq("doc_id")),
    ("buckets", "doc_id BIGINT, band INT, bh STRING", Seq("band", "bh")))

  /** Persist a [[DedupIndex]] as bucketed parquet tables
    * `<prefix>_{hashes,shingles,buckets}` rooted at `path`
    * ([[graft.sources.BucketedTables]]), plus a one-row `meta` parquet
    * recording (minhashK, bands, nBuckets). Bucket metadata lives in
    * the session catalog; [[loadIndex]] re-registers it idempotently
    * in any later session from the same (prefix, path), so the
    * bucketing survives restarts. */
  def saveIndex(index: DedupIndex, prefix: String, path: String,
      nBuckets: Int = 64): Unit = {
    val s = index.hashes.sparkSession
    val frames = Map("hashes" -> index.hashes,
      "shingles" -> index.shingles, "buckets" -> index.buckets)
    IndexTables.foreach { case (name, _, keys) =>
      graft.sources.BucketedTables.save(
        frames(name), s"${prefix}_$name", s"$path/$name", keys, nBuckets)
    }
    import s.implicits._
    Seq((index.minhashK, index.bands, nBuckets))
      .toDF("minhash_k", "bands", "n_buckets")
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Load a [[saveIndex]]-persisted index. Re-issues the bucketed
    * external-table DDL if this session doesn't know the tables yet
    * (bucket METADATA is catalog state; the parquet files are the
    * durable part), then reads the MinHash parameters from the meta
    * table — so a probe can never run with parameters the index wasn't
    * built under. */
  def loadIndex(s: org.apache.spark.sql.SparkSession, prefix: String,
      path: String): DedupIndex = {
    val meta = s.read.parquet(s"$path/meta").head()
    val nBuckets = meta.getAs[Int]("n_buckets")
    val loaded = IndexTables.map { case (name, schema, keys) =>
      name -> graft.sources.BucketedTables.load(
        s, s"${prefix}_$name", s"$path/$name", schema, keys, nBuckets)
    }.toMap
    DedupIndex(
      hashes = loaded("hashes"),
      shingles = loaded("shingles"),
      buckets = loaded("buckets"),
      minhashK = meta.getAs[Int]("minhash_k"),
      bands = meta.getAs[Int]("bands"))
  }

  /** The exact stage of [[incrementalCleanIndexed]]: the batch rows
    * whose content hash is corpus-unknown, deduplicated within the
    * batch (min id per hash). Exposed private[graft] so the plan
    * audit can pin the bucketed-corpus-scan property on the stage
    * plan itself — inside the operator the stage materializes behind
    * a checkpoint, which hides the scan from the RESULT plan but not
    * from execution. */
  private[graft] def exactSurvivors(index: DedupIndex, batch: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    Seq("_graft_h", "_graft_rn").foreach(c =>
      require(!batch.columns.contains(c),
        s"input column $c collides with incrementalClean internals; rename it first"))
    val byHash = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_graft_h")).orderBy(col(idCol).asc)
    batch
      .withColumn("_graft_h", md5(normalized(col(textCol))))
      .join(index.hashes.select(col("content_hash").as("_graft_h")),
        Seq("_graft_h"), "left_anti")
      .withColumn("_graft_rn", row_number().over(byHash))
      .filter(col("_graft_rn") === 1)
      .drop("_graft_h", "_graft_rn")
  }

  /** [[incrementalClean]] against a prebuilt (typically persisted)
    * [[DedupIndex]] — the ingest-cost-is-batch-sized form. MinHash
    * parameters come from the index itself ([[DedupIndex]]). */
  def incrementalCleanIndexed(index: DedupIndex, batch: DataFrame,
      idCol: String, textCol: String, tau: Double,
      maxBucket: Long = DefaultMaxBucket): DataFrame = {
    // the exact-stage survivors feed FOUR consumers (their shingle sets,
    // the in-batch LSH, and both final anti-joins) — without a
    // checkpoint each consumer re-runs the anti-join against the
    // corpus hash relation, the one corpus-sized input of this stage.
    // Batch-sized by the incremental contract; the blocks ride the
    // result plan, so the caller's [[release]] frees them once
    // consumed. (The plan audit inspects [[exactSurvivors]] directly —
    // the checkpoint hides the bucketed corpus scan from the result
    // plan, not from execution.)
    val exactSurv =
      exactSurvivors(index, batch, idCol, textCol).localCheckpoint(true)
    // the batch's shingle sets, materialized once for both near stages
    val setsBatch =
      shingleSets(exactSurv, idCol, textCol).localCheckpoint(true)
    val crossLosers = Decontaminate
      .nearDupPairs(exploded(setsBatch),
        bandedBuckets(setsBatch, index.minhashK, index.bands),
        index.shingles, index.buckets, tau, maxBucket)
      .select(col("train_id").as(idCol)).distinct()
    val comp = components(
      minhashLshSets(setsBatch, tau, index.minhashK,
        index.bands, maxBucket), "id_a", "id_b")
    val selfLosers = comp.filter(col("node") =!= col("component"))
      .select(col("node").as(idCol))
      .localCheckpoint(true)
    release(comp)
    exactSurv
      .join(crossLosers, Seq(idCol), "left_anti")
      .join(selfLosers, Seq(idCol), "left_anti")
  }

  /** The cached block sets backing a `localCheckpoint`ed DataFrame (the
    * `LogicalRDD` leaves survive projections and joins). */
  private def checkpointRdds(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd }

  /** Release the executor storage pinned by every `localCheckpoint` in
    * the DataFrame's plan (no-op on plans without one). Checkpoint
    * blocks are NOT freed promptly when the DataFrame goes out of
    * scope — the `ContextCleaner` only unpersists them at some later
    * GC — so long-lived sessions that call [[components]] /
    * [[dropNearDuplicates]] repeatedly should release results once
    * consumed. After release the DataFrame is NOT recomputable (the
    * checkpoint truncated its lineage). */
  def release(df: DataFrame): Unit =
    checkpointRdds(df).foreach(_.unpersist(blocking = false))

  /** Connected components over an undirected near-dup pair list —
    * the step that turns pairwise similarity into dedup decisions
    * (one keeper per component). Iterative min-label propagation with
    * path halving: every node adopts the smallest label among itself,
    * its neighbors, and its current label's label until a fixpoint —
    * the pointer jump makes convergence O(log diameter) rounds, so
    * even chain-shaped components (pathological for plain neighbor
    * propagation) stay cheap.
    * Each round is one shuffle join + aggregate; lineage is truncated
    * per round (`localCheckpoint`) so the plan stays flat over
    * iterations, and each superseded round's checkpoint blocks are
    * unpersisted as soon as the next round is materialized — only the
    * RETURNED labels stay cached (call [[release]] once consumed; a
    * long-lived session otherwise accumulates one block set per call
    * until GC + ContextCleaner get to them). Output: (node, component)
    * where component = smallest reachable node id (id type preserved
    * from `pairs` — any ordered type works); only nodes that appear in
    * a pair are emitted (singletons are trivially their own keeper).
    * Throws if the graph has not converged within `maxIter` rounds — a
    * silently partial clustering would keep duplicate docs with no
    * signal.
    *
    * `onRound` (round index, labels changed) observer is for scale
    * diagnostics — when set, convergence is detected by a count of the
    * changed labels (the number the observer needs) instead of the
    * slightly cheaper `isEmpty` probe; semantics are identical.
    *
    * `TxLog.checkpointed` materializes the symmetrized edges once
    * (`components-edges`) and its budget picks the path: held on the
    * driver with integral ids and no `onRound`, a union-find over
    * primitive arrays ([[HeldEdges]], `int` parents) returns held
    * labels with no further job; otherwise the rounds above run.
    *
    * Its Spark jobs are labelled `dedup:components-{edges,round}`
    * ([[graft.JobLabels]]). */
  def components(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 25,
      onRound: Option[(Int, Long) => Unit] = None): DataFrame = {
    // symmetrize in ONE pass: union(edges, edges.swapped) would
    // evaluate the whole (expensive — LSH bucket join + Jaccard
    // verify) pair pipeline TWICE, once per union branch; exploding
    // each pair into both directions keeps a single evaluation
    // (measured: the pair pipeline dominates the first checkpoint)
    val session = pairs.sparkSession
    // every job this operator launches is labelled dedup:components-*
    def labelled[A](phase: String)(f: => A): A =
      graft.JobLabels.described(session, "dedup", s"components-$phase")(f)
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
    val undirected = labelled("edges") {
      TxLog.checkpointed(edges
        .select(explode(array(
          struct(col("src"), col("dst")),
          struct(col("dst").as("src"), col("src").as("dst")))).as("_e"))
        .select(col("_e.src").as("src"), col("_e.dst").as("dst"))
        .distinct(), "components-edges")
    }
    // DRIVER path over held integral edges: min-root union-find
    // computes exactly min reachable id, with no job instead of O(log
    // diameter) rounds of ~5 jobs each
    if (onRound.isEmpty) HeldEdges.of(undirected) match {
      case None =>
      case Some(g) =>
        val parent = Array.range(0, g.nodes.length)
        @annotation.tailrec def find(x: Int): Int =
          if (parent(x) == x) x
          else { parent(x) = parent(parent(x)); find(parent(x)) } // halving
        g.src.indices.foreach { k =>
          val ra = find(g.src(k)); val rb = find(g.dst(k))
          // the smaller index (= id) stays the root: roots are minima
          if (ra < rb) parent(rb) = ra
          else if (rb < ra) parent(ra) = rb
        }
        val idType = undirected.schema.head.dataType
        return g.perNode(undirected, idType, "component", idType)((r, i) =>
          HeldEdges.setId(r, 1, idType, g.nodes(find(i))))
    }
    var labels = labelled("round") {
      undirected.select(col("src").as("node")).distinct()
        .withColumn("component", col("node"))
        .localCheckpoint(true)
    }
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val neighborMin = undirected
        .join(labels, undirected("dst") === labels("node"))
        .groupBy(undirected("src").as("n"))
        .agg(min(col("component")).as("neighbor_min"))
      // carry the previous label through the select so convergence is
      // one filter-count on the checkpointed result, not another join
      val withNeighbor = labels
        .join(neighborMin, labels("node") === neighborMin("n"), "left")
        .select(labels("node"),
          least(labels("component"),
            coalesce(col("neighbor_min"), labels("component")))
            .as("component"),
          labels("component").as("_old"))
      // pointer jump (path halving): additionally adopt the CURRENT
      // label of your label — labels(x) ≤ x invariantly, so this only
      // lowers — which collapses chain-shaped components in O(log
      // diameter) rounds where neighbor-min alone pays one round per
      // hop (measured on the sf1 stress: 17 rounds → 7). The join is
      // against the node-sized labels table, much smaller than the
      // edge join above.
      val jump = labels
        .select(col("node").as("_jn"), col("component").as("_jc"))
      val updated = labelled("round") {
        withNeighbor
          .join(jump, withNeighbor("component") === col("_jn"), "left")
          .select(withNeighbor("node"),
            least(withNeighbor("component"),
              coalesce(col("_jc"), withNeighbor("component")))
              .as("component"),
            col("_old"))
          .localCheckpoint(true)
      }
      val changedDf = updated.filter(col("component") =!= col("_old"))
      converged = onRound match {
        case Some(cb) =>
          val changed = labelled("round")(changedDf.count())
          cb(i, changed); changed == 0L
        case None => labelled("round")(changedDf.isEmpty)
      }
      // `updated` is materialized — the previous round's blocks are dead
      release(labels)
      labels = updated.drop("_old")
      i += 1
    }
    TxLog.releaseCheckpoint(undirected)
    if (!converged)
      throw new IllegalStateException(
        s"components did not converge within $maxIter rounds " +
          "(component diameter too large) — raise maxIter")
    labels
  }

  /** End-to-end near-dup removal — the one-call curation API: MinHash
    * LSH pairs → connected components → drop every doc that is not its
    * component's keeper (min id). Exact duplicates are near-dups at any
    * τ ≤ 1, so this subsumes exact dedup for non-trivial τ. Returns the
    * surviving rows of `docs` unchanged. Ids must be numeric — the
    * shingle pipeline normalizes them to long ([[shingles]]); string
    * ids need a numeric surrogate first.
    *
    * Storage: the full component labels are released before returning;
    * only the id-only loser set stays checkpointed (it must survive the
    * caller's lazy anti-join). [[release]] the returned DataFrame once
    * consumed to free that too. */
  def dropNearDuplicates(docs: DataFrame, idCol: String, textCol: String,
      tau: Double, minhashK: Int = 16, bands: Int = 4,
      maxBucket: Long = DefaultMaxBucket): DataFrame = {
    val comp = components(
      minhashLsh(docs, idCol, textCol, tau, minhashK, bands, maxBucket),
      "id_a", "id_b")
    val losers = comp
      .filter(col("node") =!= col("component"))
      .select(col("node").as(idCol))
      .localCheckpoint(true)
    release(comp)
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** SimHash near-dup pairs: codegen'd 64-bit signature, 4×16-bit
    * blocks, candidates agree on ≥1 block, verified hamming ≤ max.
    * Output: (id_a, id_b, hamming). */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 6): DataFrame = {
    GraftFunctions.register(docs.sparkSession)
    val sigs = docs
      .select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .select(col("doc_id"),
        expr("simhash64(split(lower(trim(text)), ' '))").as("sig"))
    val blocks = sigs.select(col("doc_id"), col("sig"),
      expr("""stack(4,
        0, CAST(sig & 65535 AS BIGINT),
        1, CAST((sig >> 16) & 65535 AS BIGINT),
        2, CAST((sig >> 32) & 65535 AS BIGINT),
        3, CAST((sig >> 48) & 65535 AS BIGINT)) as (blk, bval)"""))
    blocks.as("a")
      .join(blocks.as("b"),
        col("a.blk") === col("b.blk") && col("a.bval") === col("b.bval") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        expr("hamming64(a.sig, b.sig)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }
}
