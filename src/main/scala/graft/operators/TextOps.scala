package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Generic text-analysis operators (SURVEY.md §2.7) over ANY document
  * table — callers name the id/text columns; the oracle-checked
  * `graft.queries.TextQueries` bindings apply these to the testdata.
  * Every operator except topTerms is a narrow projection (no shuffle):
  * at 100 TB they run at scan speed inside whole-stage codegen.
  * Per-row contract: document ids are unique — each row is scored as
  * its own document, a repeated id is not merged.
  */
object TextOps {

  val BpeishToken = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  val stopwords: Seq[String] =
    Seq("the", "a", "and", "of", "to", "in", "is", "on", "for", "with")

  private def prepared(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame =
    docs.select(col(idCol).as("doc_id"), col(textCol).as("text"))

  private def tokens: Column = split(lower(trim(col("text"))), " ")

  /** Greedy longest-match subword token count of `text` against a
    * fixed vocabulary ([[graft.functions.BpeCount]] — a codegen'd trie
    * walk; the session must have [[GraftFunctions.register]]ed). Plug
    * this into [[Pack.sequences]]' caller-supplied token column or
    * [[Chunk]] budgets when whitespace counts (1.3–2× off a real BPE)
    * are not good enough. */
  def vocabTokens(text: Column, vocab: Seq[String]): Column = {
    require(vocab.nonEmpty, "vocabulary must be non-empty")
    call_function("bpe_count", lower(trim(text)), typedLit(vocab))
  }

  /** Token counts (whitespace + BPE-ish regex), char length, average
    * word length, punctuation ratio. `bpeVocab`, when set, adds
    * `n_tokens_vocab` — the greedy longest-match count against that
    * vocabulary ([[vocabTokens]]); the default output is unchanged. */
  def stats(docs: DataFrame, idCol: String, textCol: String,
      bpeVocab: Option[Seq[String]] = None): DataFrame = {
    val base = prepared(docs, idCol, textCol)
      .withColumn("char_len", length(col("text")))
      .withColumn("n_tokens_ws", size(tokens))
      .withColumn("n_tokens_bpe", regexp_count(col("text"), lit(BpeishToken)))
      .withColumn("alpha_chars",
        length(regexp_replace(col("text"), "[^A-Za-z]", "")))
      .withColumn("punct_chars",
        length(regexp_replace(col("text"), "[A-Za-z0-9\\s]", "")))
    val common = Seq(
      col("doc_id"), col("char_len"), col("n_tokens_ws"),
      col("n_tokens_bpe"),
      (col("alpha_chars").cast("double") / col("n_tokens_ws"))
        .as("avg_word_len"),
      (col("punct_chars").cast("double") / col("char_len"))
        .as("punct_ratio"))
    bpeVocab match {
      case None => base.select(common: _*)
      case Some(v) =>
        GraftFunctions.register(docs.sparkSession)
        // still one narrow projection — the vocab count is just one
        // more codegen'd column
        base.select(common :+
          vocabTokens(col("text"), v).as("n_tokens_vocab"): _*)
    }
  }

  /** Composite 0-1 quality score from four indicator features with
    * banded thresholds. */
  def qualityScore(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val stopArray = stopwords.map(w => s"'$w'").mkString("(", ", ", ")")
    prepared(docs, idCol, textCol)
      .withColumn("char_len", length(col("text")))
      .withColumn("n_tokens", size(tokens))
      .withColumn("n_stop", expr(
        s"size(filter(split(lower(trim(text)), ' '), t -> t IN $stopArray))"))
      .withColumn("punct_chars",
        length(regexp_replace(col("text"), "[A-Za-z0-9\\s]", "")))
      .withColumn("alpha_chars",
        length(regexp_replace(col("text"), "[^A-Za-z]", "")))
      .withColumn("stop_ratio",
        col("n_stop").cast("double") / col("n_tokens"))
      .withColumn("punct_ratio",
        col("punct_chars").cast("double") / col("char_len"))
      .withColumn("avg_word_len",
        col("alpha_chars").cast("double") / col("n_tokens"))
      .withColumn("len_ok",
        when(col("char_len").between(100, 5000), 1).otherwise(0))
      .withColumn("punct_ok", when(col("punct_ratio") <= 0.1, 1).otherwise(0))
      .withColumn("stop_ok",
        when(col("stop_ratio").between(0.02, 0.6), 1).otherwise(0))
      .withColumn("wordlen_ok",
        when(col("avg_word_len").between(3.0, 8.0), 1).otherwise(0))
      .withColumn("quality_score",
        (col("len_ok") * 0.3 + col("punct_ok") * 0.2 +
          col("stop_ok") * 0.3 + col("wordlen_ok") * 0.2))
      .withColumn("quality_band",
        when(col("quality_score") >= 0.8, "high")
          .when(col("quality_score") >= 0.5, "medium")
          .otherwise("low"))
      .select(col("doc_id"), col("char_len"), col("n_tokens"),
        col("stop_ratio"), col("punct_ratio"), col("avg_word_len"),
        col("quality_score"), col("quality_band"))
  }

  /** Marker-hit language ID: argmax over per-language stopword profiles
    * with a deterministic tie-break; narrow scan, K literal profiles. */
  def langId(docs: DataFrame, idCol: String, textCol: String,
      markers: Map[String, Seq[String]],
      passthrough: Seq[(String, String)] = Seq.empty): DataFrame = {
    val hitCols = markers.toSeq.sortBy(_._1).map { case (lang, words) =>
      val arr = words.map(w => s"'$w'").mkString("(", ", ", ")")
      expr(s"size(filter(split(lower(trim($textCol)), ' '), t -> t IN $arr))")
        .as(s"hits_$lang")
    }
    val keepCols = passthrough.map { case (c, alias) => col(c).as(alias) }
    val withHits = docs.select(
      (col(idCol).as("doc_id") +: keepCols) ++ hitCols: _*)
    val langs = markers.keys.toSeq.sorted
    val best = langs.map(l => col(s"hits_$l")).reduce(greatest(_, _))
    val predicted = langs.foldRight(lit("unknown")) { (l, acc) =>
      when(col(s"hits_$l") === best && best > 0, lit(l)).otherwise(acc)
    }
    withHits.withColumn("predicted_lang", predicted)
  }

  /** Winnowing fingerprints + full-document SimHash via the native
    * codegen'd expressions. */
  def fingerprint(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, window: Int = 4): DataFrame = {
    GraftFunctions.register(docs.sparkSession)
    prepared(docs, idCol, textCol)
      .select(col("doc_id"),
        expr(s"winnow(lower(trim(text)), $k, $window)").as("fingerprints"),
        expr("simhash64(split(lower(trim(text)), ' '))").as("simhash"))
      .select(col("doc_id"), col("fingerprints"),
        size(col("fingerprints")).as("n_fingerprints"), col("simhash"))
  }

  /** Scalar fingerprint summary — the driver/oracle-friendly shape of
    * [[fingerprint]]: the array collapses to its size and an
    * order-independent XOR combine, so every output column is a sortable
    * scalar and the whole row is expressible in ANSI-ish SQL (FNV-1a is
    * integer arithmetic; see TextQueries' DuckDB oracle). */
  def fingerprintSummary(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, window: Int = 4): DataFrame =
    fingerprint(docs, idCol, textCol, k, window)
      .select(col("doc_id"), col("n_fingerprints"),
        expr("aggregate(fingerprints, 0L, (acc, x) -> acc ^ x)").as("fp_xor"),
        col("simhash"))

  /** Repetition signals (round-3 addition, §2c) — the within-document
    * duplication measures a Gopher-style quality filter needs: token
    * diversity and the dominance of the most frequent token/bigram.
    * Boilerplate, scraped navigation, and generation loops all show up
    * as low distinct_ratio or high top-fraction. One narrow projection:
    * the codegen'd `repetition_stats` kernel counts each document's
    * unigrams (non-empty tokens) and bigrams (every adjacent token
    * pair) inside its row. A document with null text or no non-empty
    * token emits no row. Output: (doc_id, n_tokens, n_distinct,
    * distinct_ratio, top_token_tf, top_token_frac, n_bigrams,
    * top_bigram_tf, top_bigram_frac). */
  def repetition(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame =
    withRepetition(docs, idCol, textCol).drop("text")

  /** `prepared` rows with [[repetition]]'s signals, dropping the rows
    * that have none; `text` stays available to the caller's
    * projection. */
  private def withRepetition(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    GraftFunctions.register(docs.sparkSession)
    def r(field: String): Column = col(s"_rep.$field")
    prepared(docs, idCol, textCol)
      // a text has a non-empty token iff it is not null and not all
      // spaces — exactly the rows whose repetition_stats is non-null.
      // Filtering on the kernel's result instead would evaluate it
      // twice: the optimizer pushes the predicate below the projection
      // with the kernel call substituted in.
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), col("text"),
        call_function("repetition_stats", tokens).as("_rep"))
      .select(col("doc_id"), col("text"),
        r("n_tokens").as("n_tokens"), r("n_distinct").as("n_distinct"),
        (r("n_distinct").cast("double") / r("n_tokens"))
          .as("distinct_ratio"),
        r("top_token_tf").as("top_token_tf"),
        (r("top_token_tf").cast("double") / r("n_tokens"))
          .as("top_token_frac"),
        r("n_bigrams").as("n_bigrams"),
        r("top_bigram_tf").as("top_bigram_tf"),
        (r("top_bigram_tf").cast("double") /
          greatest(r("n_bigrams"), lit(1L))).as("top_bigram_frac"))
  }

  /** Gopher-style keep/drop decision (round-3 addition, §2c) — the
    * published rule family (Rae et al. 2021, "Scaling Language Models",
    * Appendix A1.1): token-count window, mean-word-length window,
    * token-diversity floor, and repetition ceilings, each a named flag
    * so the drop reason is auditable. Output: (doc_id, signals…, keep
    * 0/1, drop_reasons — ';'-joined failed-rule names, '' when kept).
    * One narrow projection: [[repetition]]'s signals and the mean word
    * length come from the same row. */
  def gopherFilter(docs: DataFrame, idCol: String, textCol: String,
      minTokens: Long = 30L, maxTokens: Long = 50000L,
      minDistinctRatio: Double = 0.2, maxTopTokenFrac: Double = 0.2,
      maxTopBigramFrac: Double = 0.2,
      minAvgWordLen: Double = 3.0, maxAvgWordLen: Double = 10.0)
      : DataFrame = {
    val flags = Seq(
      ("n_tokens", col("n_tokens").between(minTokens, maxTokens)),
      ("avg_word_len",
        col("avg_word_len").between(minAvgWordLen, maxAvgWordLen)),
      ("distinct_ratio", col("distinct_ratio") >= minDistinctRatio),
      ("top_token_frac", col("top_token_frac") <= maxTopTokenFrac),
      ("top_bigram_frac", col("top_bigram_frac") <= maxTopBigramFrac))
    val reasons = concat(flags.map { case (name, ok) =>
      when(!ok, s"$name;").otherwise("")
    }: _*)
    withRepetition(docs, idCol, textCol)
      .select(col("doc_id"), col("n_tokens"),
        (length(regexp_replace(col("text"), "[^A-Za-z]", "")).cast("double") /
          size(tokens)).as("avg_word_len"),
        col("distinct_ratio"), col("top_token_frac"),
        col("top_bigram_frac"))
      .withColumn("keep",
        flags.map(_._2).reduce(_ && _).cast("int"))
      .withColumn("drop_reasons", reasons)
  }

  /** Per-document top-k terms by frequency with corpus document
    * frequency attached (the tf/df half of tf-idf; idf's log is left to
    * the caller — libm rounding differs across engines). */
  def topTerms(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = prepared(docs, idCol, textCol)
      .select(col("doc_id"), explode(tokens).as("term"))
      .filter(col("term") =!= "")
    val tf = terms.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    // document frequency derives from tf's (doc, term) rows — already
    // distinct per doc — so the exploded term list is aggregated ONCE
    // and the tf exchange is reused (no second countDistinct pass over
    // the explosion, which is the expensive input at corpus scale)
    val df = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tf").desc, col("term").asc)
    tf.join(df, "term")
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"))
  }

  /** Unicode-script character classes for [[scriptProfile]]: BMP code
    * point ranges, spelled per-engine in the oracle (Java `\uXXXX`
    * here, RE2 `\x{XXXX}` in DuckDB) but denoting the SAME sets. */
  val scriptRanges: Seq[(String, String)] = Seq(
    "latin" -> "A-Za-z",
    "digit" -> "0-9",
    "cyrillic" -> "\u0400-\u04FF",
    "greek" -> "\u0370-\u03FF",
    "cjk" -> "\u3040-\u30FF\u4E00-\u9FFF",
    "arabic" -> "\u0600-\u06FF")

  /** Per-doc script composition (round-9): how many characters of each
    * writing system a document carries, plus the dominant script — the
    * multilingual curation signal language-ID marker words cannot give
    * (a doc can be 90% CJK with English marker words sprinkled in, and
    * #38 would call it English). One narrow scan-speed projection:
    * per-script counts are `length(regexp_replace(text, [^class], ''))`
    * over fixed BMP ranges (exact integers → hash-checkable), dominant
    * is a deterministic max with the declaration-order tie-break.
    * Contract: BMP scripts only — supplementary-plane text (emoji)
    * counts toward no class and shows up as `char_len − Σ counts`. */
  def scriptProfile(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val base = prepared(docs, idCol, textCol)
      .withColumn("char_len", length(col("text")))
    val counted = scriptRanges.foldLeft(base) { case (d, (name, cls)) =>
      d.withColumn(s"n_$name",
        length(regexp_replace(col("text"), s"[^$cls]", "")).cast("long"))
    }
    // deterministic argmax: first script in declaration order whose
    // count is >= every other's (all-zero docs resolve to 'latin')
    val names = scriptRanges.map(_._1)
    val dominant = names.init.foldRight(lit(names.last): Column) {
      case (name, rest) =>
        val isMax = names.filterNot(_ == name)
          .map(o => col(s"n_$name") >= col(s"n_$o")).reduce(_ && _)
        when(isMax, name).otherwise(rest)
    }
    counted.select(
      Seq(col("doc_id"), col("char_len").cast("long").as("char_len")) ++
        names.map(n => col(s"n_$n")) :+
        dominant.as("dominant_script"): _*)
  }
}
