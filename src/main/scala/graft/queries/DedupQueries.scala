package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Dedup, Similarity}

/** Deduplication family (SURVEY.md §2.5) — the LLM-training-data dedup
  * operators on `documents`/`embeddings`. Scale design:
  *
  *  - exact: one hash-partitioned groupBy on the content hash (map-side
  *    partial agg) — the only shuffle.
  *  - n-gram Jaccard: O(n·shingles) explode + equi-join on the shingle
  *    key instead of the O(n²) all-pairs compare; oversized buckets
  *    (stop-shingle skew) are the thing to salt/cap.
  *  - MinHash-LSH: signature and band keys are computed in each
  *    document's row; at 100 TB the band hash is the only shuffle key
  *    and candidates verify by intersecting the two shingle sets.
  *  - SimHash: per-row 64-bit signature via a codegen'd native
  *    expression, then banded hamming candidate pairs.
  *  - embedding cosine: exact all-pairs at verification scale; the
  *    production path is the LSH-bucketed ANN (§2.6 #35).
  */
object DedupQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")

  /** #29 dedup_exact — [[Dedup.exact]] on `documents`. */
  def dedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(docs(s, dir), "doc_id", "text")

  /** #30 dedup_ngram_jaccard — [[Dedup.ngramJaccard]] at τ=0.5. */
  def dedupNgramJaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccard(docs(s, dir), "doc_id", "text", 0.5)

  val MinhashK = 16
  val Bands = 4 // 4 bands × 4 rows

  /** #31 dedup_minhash_lsh — [[Dedup.minhashLsh]]; md5-based so the
    * DuckDB oracle computes identical signatures. */
  def dedupMinhashLsh(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashLsh(docs(s, dir), "doc_id", "text", 0.5, MinhashK, Bands)

  /** #32 dedup_simhash (rows-only) — [[Dedup.simhashPairs]], hamming ≤ 6. */
  def dedupSimhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(docs(s, dir), "doc_id", "text", maxHamming = 6)

  /** #33 dedup_embedding — [[Similarity.embeddingPairs]] at cos ≥ 0.4;
    * all-pairs verification baseline (production: dedup_embedding_lsh). */
  def dedupEmbedding(s: SparkSession, dir: String): DataFrame =
    Similarity.embeddingPairs(
      Tables(s, dir, "embeddings"), "vec_id", "embedding", 0.4)

  /** dedup_clusters — [[Dedup.components]] over the MinHash-LSH pair
    * list: pairwise similarity → connected components → one keeper
    * (the min id) per near-dup cluster. */
  def dedupClusters(s: SparkSession, dir: String): DataFrame =
    Dedup.components(dedupMinhashLsh(s, dir), "id_a", "id_b")

  /** dedup_dropdups — [[Dedup.dropNearDuplicates]] end-to-end at
    * τ=0.5: the corpus with every non-keeper near-dup removed. */
  def dedupDropdups(s: SparkSession, dir: String): DataFrame =
    Dedup.dropNearDuplicates(docs(s, dir), "doc_id", "text", 0.5)
      .select(col("doc_id"), col("lang"), col("n_chars"))

  /** dedup_keep_best — quality-aware canonical selection (round 6):
    * per near-dup cluster keep the HIGHEST-quality document (ties →
    * min doc_id) instead of [[dedupDropdups]]' min-id keeper — the
    * curation rule that keeps the cleanest copy of syndicated
    * boilerplate. Docs in no pair are their own singleton cluster and
    * keep themselves. One extra node-sized join + WindowGroupLimit
    * rank over [[dedupClusters]]' labels — the cluster step dominates;
    * selection is marginal. Output: (doc_id, component,
    * quality_score) of the keepers. */
  def dedupKeepBest(s: SparkSession, dir: String): DataFrame = {
    val comp = dedupClusters(s, dir)
      .withColumnRenamed("node", "doc_id")
    val quality = graft.operators.TextOps
      .qualityScore(docs(s, dir), "doc_id", "text")
      .select(col("doc_id"), col("quality_score"))
    val withComp = quality.join(comp, Seq("doc_id"), "left")
      .withColumn("component", coalesce(col("component"), col("doc_id")))
    val best = org.apache.spark.sql.expressions.Window
      .partitionBy(col("component"))
      .orderBy(col("quality_score").desc, col("doc_id").asc)
    withComp.withColumn("_rn", row_number().over(best))
      .filter(col("_rn") === 1)
      .select(col("doc_id"), col("component"), col("quality_score"))
  }

  /** dedup_incremental — [[Dedup.incrementalClean]] (round-7): the
    * daily-ingest shape. Corpus = docs with id % 5 ≠ 0, batch = the
    * rest; a batch doc survives only if it is exact- AND near-unique
    * vs the corpus and within the batch. */
  def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    Dedup.incrementalClean(
      d.filter(col("doc_id") % 5 =!= 0),
      d.filter(col("doc_id") % 5 === 0),
      "doc_id", "text", 0.5, MinhashK, Bands)
      .select(col("doc_id"), col("lang"), col("n_chars"))
  }

  /** dedup_paragraph — [[graft.operators.Paragraph.dedupParagraphs]]
    * (round-8): repeated-span/boilerplate removal INSIDE documents,
    * the pass whole-doc dedup cannot express. The synthetic corpus has
    * no blank lines, so the binding segments on the literal " the "
    * (which the token stream actually contains) and treats a segment
    * shared by more than 2 distinct docs as boilerplate. */
  def dedupParagraph(s: SparkSession, dir: String): DataFrame =
    graft.operators.Paragraph.dedupParagraphs(
      docs(s, dir), "doc_id", "text", maxDf = 2, splitRegex = " the ")

  /** dedup_paragraph_incr — [[graft.operators.Paragraph
    * .cleanAgainstIndex]]: the daily-ingest form of boilerplate
    * removal. Corpus (doc_id % 5 ≠ 0, the dedup_incremental split)
    * contributes only its paragraph-df index; the arriving batch is
    * rewritten dropping corpus-known boilerplate (df > 2). */
  def dedupParagraphIncr(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    graft.operators.Paragraph.cleanAgainstIndex(
      graft.operators.Paragraph.buildParagraphIndex(
        d.filter(col("doc_id") % 5 =!= 0), "doc_id", "text",
        splitRegex = " the "),
      d.filter(col("doc_id") % 5 === 0), "doc_id", "text", maxDf = 2)
  }

  /** dedup_exact_substring — [[graft.operators.ExactSubstr.dedupSpans]]
    * (round-12): Lee et al. 2021's ExactSubstr analog — repeated
    * ≥8-token spans removed from all but their first occurrence,
    * regardless of paragraph structure. */
  def dedupExactSubstring(s: SparkSession, dir: String): DataFrame =
    graft.operators.ExactSubstr.dedupSpans(docs(s, dir), "doc_id", "text",
      k = 8)

  /** dedup_substr_incr — [[graft.operators.ExactSubstr
    * .cleanAgainstIndex]]: the daily-ingest form of repeated-span
    * removal. Corpus (doc_id % 5 ≠ 0, the dedup_incremental split)
    * contributes only its 8-byte window-hash fingerprint; the
    * arriving batch is rewritten removing every ≥8-token span the
    * corpus already contains. */
  def dedupSubstrIncr(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    graft.operators.ExactSubstr.cleanAgainstIndex(
      graft.operators.ExactSubstr.buildSubstrIndex(
        d.filter(col("doc_id") % 5 =!= 0), "doc_id", "text", k = 8),
      d.filter(col("doc_id") % 5 === 0), "doc_id", "text")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_substr_incr" -> dedupSubstrIncr,
    "dedup_exact_substring" -> dedupExactSubstring,
    "dedup_paragraph_incr" -> dedupParagraphIncr,
    "dedup_paragraph" -> dedupParagraph,
    "dedup_incremental" -> dedupIncremental,
    "dedup_dropdups" -> dedupDropdups,
    "dedup_clusters" -> dedupClusters,
    "dedup_keep_best" -> dedupKeepBest,
    "dedup_exact" -> dedupExact,
    "dedup_ngram_jaccard" -> dedupNgramJaccard,
    "dedup_minhash_lsh" -> dedupMinhashLsh,
    "dedup_simhash" -> dedupSimhash,
    "dedup_embedding" -> dedupEmbedding)

  private val shinglesCte = """
      words AS (
        SELECT doc_id, string_split(lower(trim(text)), ' ') AS w
        FROM documents),
      sh AS (
        SELECT DISTINCT doc_id,
          w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
        FROM words, LATERAL (SELECT unnest(range(1, len(w) - 1)) AS i)
        WHERE len(w) >= 3)"""

  /** Exact-Jaccard CTE chain over a shingle relation `src`. */
  private def jacCtes(src: String): String = s"""
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM $src GROUP BY doc_id),
      inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
        FROM $src a JOIN $src b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      jac AS (
        SELECT id_a, id_b, n_inter, sa.n AS n_a, sb.n AS n_b,
          CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) AS jaccard
        FROM inter
        JOIN sizes sa ON id_a = sa.doc_id
        JOIN sizes sb ON id_b = sb.doc_id)"""

  // minhash verification runs over the UNCAPPED shingle set, matching
  // Dedup.minhashLsh (only band buckets are capped there)
  private val shingleSql = s"$shinglesCte,\n${jacCtes("sh")}"

  /** The full MinHash-LSH pair pipeline as a reusable CTE chain
    * (shingles → md5 minhash signatures → banded buckets → candidate
    * join → exact-Jaccard verify), ending in `mh_pairs`. Shared by the
    * dedup_minhash_lsh and dedup_clusters oracles. */
  private val minhashCtes: String = s"""$shingleSql,
      sig AS (
        SELECT doc_id,
          ${(0 until MinhashK).map(k =>
            s"MIN(substr(md5('$k:' || s), 1, 16)) AS h$k").mkString(",\n          ")}
        FROM sh GROUP BY doc_id),
      banded AS (
        SELECT doc_id,
          ${(0 until Bands).map { b =>
            val rows = (0 until MinhashK / Bands)
              .map(r => s"h${b * (MinhashK / Bands) + r}").mkString(" || ")
            s"md5($rows) AS band$b"
          }.mkString(",\n          ")}
        FROM sig),
      exploded AS (
        ${(0 until Bands).map(b =>
          s"SELECT doc_id, $b AS band, band$b AS bh FROM banded")
          .mkString("\n        UNION ALL\n        ")}),
      explodedc AS (
        SELECT * FROM exploded QUALIFY COUNT(*) OVER (PARTITION BY band, bh)
          <= ${Dedup.DefaultMaxBucket}),
      candidates AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM explodedc a
        JOIN explodedc b ON a.band = b.band AND a.bh = b.bh
          AND a.doc_id < b.doc_id),
      mh_pairs AS (
        SELECT c.id_a, c.id_b, j.jaccard
        FROM candidates c
        JOIN jac j ON c.id_a = j.id_a AND c.id_b = j.id_b
        WHERE j.jaccard >= 0.5)"""

  /** DuckDB replay of [[Dedup.simhashPairs]]: the shared FNV/SimHash
    * CTEs ([[TextQueries.fnvSimhashCtes]]) produce each doc's 64-bit
    * signature; 4×16-bit block buckets generate candidates and
    * bit_count(xor) is the hamming verify — bit-identical to the
    * codegen'd simhash64/hamming64 expressions. */
  private val simhashOracle: String = s"""
      WITH ${TextQueries.fnvSimhashCtes},
      blocks AS (
        SELECT doc_id, sig, blk,
          CAST((s // (2::HUGEINT ^ (16 * blk))::HUGEINT) % 65536 AS BIGINT)
            AS bval
        FROM sim, LATERAL (SELECT unnest(range(0, 4)) AS blk)),
      cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
          CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
        FROM blocks a
        JOIN blocks b ON a.blk = b.blk AND a.bval = b.bval
          AND a.doc_id < b.doc_id)
      SELECT id_a, id_b, hamming FROM cand WHERE hamming <= 6"""

  /** Shingle → md5-MinHash signature → capped band-bucket CTE chain
    * over source CTE `src` (exposing doc_id, text), names suffixed
    * `_$tag` — the per-side building block of the incremental oracle
    * (engine caps each corpus side's buckets independently). */
  private def mhSideCtes(src: String, tag: String): String = {
    val sigCols = (0 until MinhashK).map(k =>
      s"MIN(substr(md5('$k:' || s), 1, 16)) AS h$k").mkString(",\n          ")
    val bandCols = (0 until Bands).map { b =>
      val rows = (0 until MinhashK / Bands)
        .map(r => s"h${b * (MinhashK / Bands) + r}").mkString(" || ")
      s"md5($rows) AS band$b"
    }.mkString(",\n          ")
    val unions = (0 until Bands).map(b =>
      s"SELECT doc_id, $b AS band, band$b AS bh FROM banded_$tag")
      .mkString("\n        UNION ALL\n        ")
    s"""
      words_$tag AS (
        SELECT doc_id, string_split(lower(trim(text)), ' ') AS w
        FROM $src),
      sh_$tag AS (
        SELECT DISTINCT doc_id,
          w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
        FROM words_$tag, LATERAL (SELECT unnest(range(1, len(w) - 1)) AS i)
        WHERE len(w) >= 3),
      sizes_$tag AS (
        SELECT doc_id, COUNT(*) AS n FROM sh_$tag GROUP BY doc_id),
      sig_$tag AS (
        SELECT doc_id,
          $sigCols
        FROM sh_$tag GROUP BY doc_id),
      banded_$tag AS (
        SELECT doc_id,
          $bandCols
        FROM sig_$tag),
      exploded_$tag AS (
        $unions),
      cap_$tag AS (
        SELECT * FROM exploded_$tag
        QUALIFY COUNT(*) OVER (PARTITION BY band, bh)
          <= ${Dedup.DefaultMaxBucket})"""
  }

  private val incrementalOracle: String = s"""
      WITH RECURSIVE
      corpus AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
      bh0 AS (
        SELECT doc_id, lang, n_chars, text,
          md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS h
        FROM documents WHERE doc_id % 5 = 0),
      ch AS (
        SELECT DISTINCT
          md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS h
        FROM corpus),
      ex AS (
        SELECT doc_id, lang, n_chars, text FROM bh0
        WHERE h NOT IN (SELECT h FROM ch)
        QUALIFY row_number() OVER (PARTITION BY h ORDER BY doc_id ASC) = 1),
      ${mhSideCtes("ex", "b")},
      ${mhSideCtes("corpus", "c")},
      crosscand AS (
        SELECT DISTINCT a.doc_id AS id_b, b.doc_id AS id_c
        FROM cap_b a JOIN cap_c b ON a.band = b.band AND a.bh = b.bh),
      crossinter AS (
        SELECT id_b, id_c, COUNT(*) AS ni
        FROM crosscand
        JOIN sh_b sa ON id_b = sa.doc_id
        JOIN sh_c sc ON id_c = sc.doc_id AND sa.s = sc.s
        GROUP BY 1, 2),
      crossdrop AS (
        SELECT DISTINCT id_b AS doc_id
        FROM crossinter
        JOIN sizes_b zb ON id_b = zb.doc_id
        JOIN sizes_c zc ON id_c = zc.doc_id
        WHERE CAST(ni AS DOUBLE) / (zb.n + zc.n - ni) >= 0.5),
      selfcand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM cap_b a JOIN cap_b b ON a.band = b.band AND a.bh = b.bh
          AND a.doc_id < b.doc_id),
      selfinter AS (
        SELECT id_a, id_b, COUNT(*) AS ni
        FROM selfcand
        JOIN sh_b sa ON id_a = sa.doc_id
        JOIN sh_b sb ON id_b = sb.doc_id AND sa.s = sb.s
        GROUP BY 1, 2),
      mh_pairs AS (
        SELECT id_a, id_b FROM selfinter
        JOIN sizes_b za ON id_a = za.doc_id
        JOIN sizes_b zb ON id_b = zb.doc_id
        WHERE CAST(ni AS DOUBLE) / (za.n + zb.n - ni) >= 0.5),
      edges AS (
        SELECT id_a AS src, id_b AS dst FROM mh_pairs
        UNION
        SELECT id_b, id_a FROM mh_pairs),
      nodes AS (SELECT DISTINCT src AS node FROM edges),
      reach AS (
        SELECT node, node AS r FROM nodes
        UNION
        SELECT reach.node, e.dst FROM reach JOIN edges e ON reach.r = e.src),
      comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node)
      SELECT doc_id, lang, n_chars FROM ex
      WHERE doc_id NOT IN (SELECT doc_id FROM crossdrop)
        AND doc_id NOT IN (SELECT node FROM comp WHERE node <> component)"""

  // the engine groups windows by a 128-bit identity (xxhash64 under
  // two seeds, 16-byte shuffle key); the oracle groups by the window
  // STRING — identical up to 128-bit collisions, negligible even at
  // the 100 TB target (~1e-12 expected at 1e13 windows)
  private val exactSubstrOracle: String = {
    val k = 8
    val joins = (0 until k).map(j => s"w[i+$j]").mkString(" || ' ' || ")
    s"""
      WITH words AS (
        SELECT doc_id,
          string_split(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')),
            ' ') AS w
        FROM documents),
      toks AS (
        SELECT doc_id, i - 1 AS pos, w[i] AS tok
        FROM words, LATERAL (SELECT unnest(range(1, len(w) + 1)) AS i)
        WHERE w[i] <> ''),
      sh AS (
        SELECT doc_id, i - 1 AS pos, $joins AS s
        FROM words, LATERAL (SELECT unnest(range(1, len(w) - $k + 2)) AS i)
        WHERE len(w) >= $k),
      occ AS (
        SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY s) AS cnt,
          row_number() OVER (PARTITION BY s ORDER BY doc_id, pos) AS rn
        FROM sh),
      dup AS (SELECT doc_id, pos FROM occ WHERE cnt >= 2 AND rn > 1),
      cover AS (
        SELECT DISTINCT doc_id, pos + j AS cpos
        FROM dup, LATERAL (SELECT unnest(range(0, $k)) AS j)),
      flag AS (
        SELECT t.doc_id, t.pos, t.tok, (c.cpos IS NOT NULL) AS rm
        FROM toks t LEFT JOIN cover c
          ON t.doc_id = c.doc_id AND t.pos = c.cpos),
      agg AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
          CAST(SUM(CASE WHEN rm THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
          COALESCE(string_agg(CASE WHEN NOT rm THEN tok END, ' '
            ORDER BY pos), '') AS text_clean
        FROM flag GROUP BY 1)
      SELECT d.doc_id,
        COALESCE(a.n_tokens, 0) AS n_tokens,
        COALESCE(a.n_removed, 0) AS n_removed,
        COALESCE(a.text_clean, '') AS text_clean
      FROM documents d LEFT JOIN agg a USING (doc_id)"""
  }

  private val substrIncrOracle: String = {
    val k = 8
    val joins = (0 until k).map(j => s"w[i+$j]").mkString(" || ' ' || ")
    s"""
      WITH cwords AS (
        SELECT doc_id,
          string_split(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')),
            ' ') AS w
        FROM documents WHERE doc_id % 5 <> 0),
      cidx AS (
        SELECT DISTINCT $joins AS s
        FROM cwords, LATERAL (SELECT unnest(range(1, len(w) - $k + 2)) AS i)
        WHERE len(w) >= $k),
      bwords AS (
        SELECT doc_id,
          string_split(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')),
            ' ') AS w
        FROM documents WHERE doc_id % 5 = 0),
      btoks AS (
        SELECT doc_id, i - 1 AS pos, w[i] AS tok
        FROM bwords, LATERAL (SELECT unnest(range(1, len(w) + 1)) AS i)
        WHERE w[i] <> ''),
      bsh AS (
        SELECT doc_id, i - 1 AS pos, $joins AS s
        FROM bwords, LATERAL (SELECT unnest(range(1, len(w) - $k + 2)) AS i)
        WHERE len(w) >= $k),
      dup AS (
        SELECT doc_id, pos FROM bsh WHERE s IN (SELECT s FROM cidx)),
      cover AS (
        SELECT DISTINCT doc_id, pos + j AS cpos
        FROM dup, LATERAL (SELECT unnest(range(0, $k)) AS j)),
      flag AS (
        SELECT t.doc_id, t.pos, t.tok, (c.cpos IS NOT NULL) AS rm
        FROM btoks t LEFT JOIN cover c
          ON t.doc_id = c.doc_id AND t.pos = c.cpos),
      agg AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
          CAST(SUM(CASE WHEN rm THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
          COALESCE(string_agg(CASE WHEN NOT rm THEN tok END, ' '
            ORDER BY pos), '') AS text_clean
        FROM flag GROUP BY 1)
      SELECT d.doc_id,
        COALESCE(a.n_tokens, 0) AS n_tokens,
        COALESCE(a.n_removed, 0) AS n_removed,
        COALESCE(a.text_clean, '') AS text_clean
      FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) d
      LEFT JOIN agg a USING (doc_id)"""
  }

  val oracleSql: Map[String, String] = Map(
    "dedup_substr_incr" -> substrIncrOracle,
    "dedup_exact_substring" -> exactSubstrOracle,
    "dedup_paragraph_incr" -> """
      WITH cp AS (
        SELECT doc_id,
          lower(regexp_replace(trim(parts[i]), '\s+', ' ', 'g')) AS para
        FROM (SELECT doc_id, string_split(text, ' the ') AS parts
              FROM documents WHERE doc_id % 5 <> 0) t,
             LATERAL (SELECT unnest(generate_series(1, len(parts))) AS i) r),
      cdf AS (
        SELECT md5(para) AS ph,
          CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        FROM cp WHERE para <> '' GROUP BY 1),
      bp AS (
        SELECT doc_id, i AS pos,
          lower(regexp_replace(trim(parts[i]), '\s+', ' ', 'g')) AS para
        FROM (SELECT doc_id, string_split(text, ' the ') AS parts
              FROM documents WHERE doc_id % 5 = 0) t,
             LATERAL (SELECT unnest(generate_series(1, len(parts))) AS i) r),
      j AS (
        SELECT bp.doc_id, bp.pos, bp.para,
          (cdf.df IS NULL OR cdf.df <= 2) AS keep
        FROM bp LEFT JOIN cdf ON md5(bp.para) = cdf.ph
        WHERE bp.para <> ''),
      agg AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_paragraphs,
          CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT)
            AS n_dropped,
          COALESCE(string_agg(CASE WHEN keep THEN para END,
            chr(10) || chr(10) ORDER BY pos), '') AS text_clean
        FROM j GROUP BY 1)
      SELECT d.doc_id,
        COALESCE(a.n_paragraphs, 0) AS n_paragraphs,
        COALESCE(a.n_dropped, 0) AS n_dropped,
        COALESCE(a.text_clean, '') AS text_clean
      FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) d
      LEFT JOIN agg a USING (doc_id)""",
    "dedup_paragraph" -> """
      WITH p AS (
        SELECT doc_id, i AS pos,
          lower(regexp_replace(trim(parts[i]), '\s+', ' ', 'g')) AS para
        FROM (SELECT doc_id, string_split(text, ' the ') AS parts
              FROM documents) t,
             LATERAL (SELECT unnest(generate_series(1, len(parts))) AS i) r),
      np AS (SELECT * FROM p WHERE para <> ''),
      pdf AS (
        SELECT para, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        FROM np GROUP BY 1),
      j AS (
        SELECT np.doc_id, np.pos, np.para, (pdf.df <= 2) AS keep
        FROM np JOIN pdf USING (para)),
      agg AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_paragraphs,
          CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT)
            AS n_dropped,
          COALESCE(string_agg(CASE WHEN keep THEN para END,
            chr(10) || chr(10) ORDER BY pos), '') AS text_clean
        FROM j GROUP BY 1)
      SELECT d.doc_id,
        COALESCE(a.n_paragraphs, 0) AS n_paragraphs,
        COALESCE(a.n_dropped, 0) AS n_dropped,
        COALESCE(a.text_clean, '') AS text_clean
      FROM documents d LEFT JOIN agg a USING (doc_id)""",
    "dedup_incremental" -> incrementalOracle,
    "dedup_simhash" -> simhashOracle,
    "dedup_exact" -> """
      SELECT content_hash, COUNT(*) AS n_docs, MIN(doc_id) AS keeper_id
      FROM (SELECT doc_id,
              md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
                AS content_hash
            FROM documents)
      GROUP BY content_hash""",
    // mirrors Dedup.ngramJaccard's stop-shingle cap (Skew.capBuckets):
    // shingles shared by more than DefaultMaxBucket docs leave the
    // similarity universe in BOTH engines
    "dedup_ngram_jaccard" -> s"""
      WITH $shinglesCte,
      shc AS (
        SELECT * FROM sh QUALIFY COUNT(*) OVER (PARTITION BY s)
          <= ${Dedup.DefaultMaxBucket}),
      ${jacCtes("shc")}
      SELECT id_a, id_b, n_inter, n_a, n_b, jaccard
      FROM jac WHERE jaccard >= 0.5""",
    "dedup_minhash_lsh" -> s"""
      WITH $minhashCtes
      SELECT id_a, id_b, jaccard FROM mh_pairs""",
    "dedup_dropdups" -> s"""
      WITH RECURSIVE $minhashCtes,
      edges AS (
        SELECT id_a AS src, id_b AS dst FROM mh_pairs
        UNION
        SELECT id_b, id_a FROM mh_pairs),
      nodes AS (SELECT DISTINCT src AS node FROM edges),
      reach AS (
        SELECT node, node AS r FROM nodes
        UNION
        SELECT reach.node, e.dst FROM reach JOIN edges e ON reach.r = e.src),
      comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node)
      SELECT d.doc_id, d.lang, d.n_chars FROM documents d
      WHERE d.doc_id NOT IN
        (SELECT node FROM comp WHERE node <> component)""",
    "dedup_clusters" -> s"""
      WITH RECURSIVE $minhashCtes,
      edges AS (
        SELECT id_a AS src, id_b AS dst FROM mh_pairs
        UNION
        SELECT id_b, id_a FROM mh_pairs),
      nodes AS (SELECT DISTINCT src AS node FROM edges),
      reach AS (
        SELECT node, node AS r FROM nodes
        UNION
        SELECT reach.node, e.dst FROM reach JOIN edges e ON reach.r = e.src)
      SELECT node, MIN(r) AS component FROM reach GROUP BY node""",
    "dedup_keep_best" -> s"""
      WITH RECURSIVE $minhashCtes,
      edges AS (
        SELECT id_a AS src, id_b AS dst FROM mh_pairs
        UNION
        SELECT id_b, id_a FROM mh_pairs),
      nodes AS (SELECT DISTINCT src AS node FROM edges),
      reach AS (
        SELECT node, node AS r FROM nodes
        UNION
        SELECT reach.node, e.dst FROM reach JOIN edges e ON reach.r = e.src),
      comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node),
      q AS (SELECT doc_id, quality_score
            FROM (${TextQueries.oracleSql("text_quality_score")}) tq)
      SELECT q.doc_id, COALESCE(c.component, q.doc_id) AS component,
        q.quality_score
      FROM q LEFT JOIN comp c ON q.doc_id = c.node
      QUALIFY row_number() OVER (
        PARTITION BY COALESCE(c.component, q.doc_id)
        ORDER BY q.quality_score DESC, q.doc_id ASC) = 1""",
    "dedup_embedding" -> """
      WITH v AS (
        SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings),
      n AS (
        SELECT vec_id, e,
          list_reduce(list_transform(e, x -> x * x), (x, y) -> x + y) AS nn
        FROM v)
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        list_reduce(list_transform(range(1, 65), i -> a.e[i] * b.e[i]),
          (x, y) -> x + y) / (sqrt(a.nn) * sqrt(b.nn)) AS cosine
      FROM n a JOIN n b ON a.vec_id < b.vec_id
      WHERE list_reduce(list_transform(range(1, 65), i -> a.e[i] * b.e[i]),
          (x, y) -> x + y) / (sqrt(a.nn) * sqrt(b.nn)) >= 0.4""")
}
