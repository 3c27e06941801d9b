package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.TxLog

/** Corpus-trained naive-Bayes document classifier (round-9): the
  * fastText-style quality-classifier curation signal (Joulin et al.
  * 2016; the "train a cheap classifier on weak labels, score the
  * whole corpus" step of e.g. the LLaMA/GPT-3 data pipelines) as a
  * fully distributed, exact, DuckDB-replayable operator — the
  * [[LmScore]] recipe applied to supervised scoring.
  *
  * Model: add-one-smoothed multinomial NB over whitespace tokens.
  *   P(c)    = (D_c + 1) / (D + 2)            (smoothed doc prior)
  *   P(w|c)  = (C(w,c) + 1) / (T_c + V)       (smoothed token prob)
  * Doc log-score per class = ln P(c) + Σ ln P(w|c) over the doc's
  * token INSTANCES (repeats count each time); tokens OUTSIDE the
  * training vocabulary contribute each class's exact smoothing floor
  * ln(1 / (T_c + V)) — never a null, never a skipped token, so a
  * stream of never-seen text still scores deterministically (the
  * class with less token mass wins OOV ties, plus the prior).
  * pred = argmax on the
  * 6-dp-rounded scores (ties → positive), so the decision is
  * cross-engine deterministic.
  *
  * The model is a standing structure like the dedup/PQ indices:
  * [[train]] once per corpus refresh, [[score]] any relation or
  * micro-batch against it forever ([[saveModel]]/[[loadModel]]
  * persist it — counts bucketed by the token probe key).
  *
  * Scale (the canonical distributed count-model shape):
  *  - per-token per-class counts are ONE map-side-combined
  *    aggregation on the token key (class splits are conditional
  *    sums, not a (token, class) key — the relation stays
  *    vocabulary-sized);
  *  - the model scalars (T_pos, T_neg, V, D_pos, D) are a ONE-ROW
  *    broadcast;
  *  - scoring joins the token-instance relation to the vocabulary
  *    counts (co-partitioned shuffle on the token key) and
  *    aggregates per doc — nothing wider than the instance relation
  *    ever shuffles, and there is no driver-side model state, so the
  *    same plan trains on 100 TB of weak labels.
  */
object NaiveBayes {

  /** counts: (t, c_pos, c_neg) vocabulary relation; scalars: ONE row
    * (t_pos, t_neg, v, d_pos, d). */
  final case class NbModel(counts: DataFrame, scalars: DataFrame)

  private def tokens(docs: DataFrame, idCol: String, textCol: String,
      extra: Seq[org.apache.spark.sql.Column] = Nil): DataFrame =
    docs.select(Seq(col(idCol).cast("long").as("doc_id"),
      split(lower(trim(col(textCol))), " ").as("w")) ++ extra: _*)

  /** Train an [[NbModel]] on `labelCol` (boolean weak labels). */
  def train(docs: DataFrame, idCol: String, textCol: String,
      labelCol: String): NbModel =
    trainFromBase(tokens(docs, idCol, textCol,
      Seq(col(labelCol).cast("boolean").as("label"))))

  /** Train from a prepared (doc_id, w, label) token relation. */
  private def trainFromBase(base: DataFrame): NbModel = {
    val inst = base.select(col("label"), explode(col("w")).as("t"))
    val counts = inst.groupBy(col("t")).agg(
      sum(when(col("label"), 1L).otherwise(0L)).as("c_pos"),
      sum(when(col("label"), 0L).otherwise(1L)).as("c_neg"))
    val scalars = counts.agg(
        sum(col("c_pos")).as("t_pos"), sum(col("c_neg")).as("t_neg"),
        count(lit(1)).as("v"))
      .crossJoin(base.agg(
        sum(when(col("label"), 1L).otherwise(0L)).as("d_pos"),
        count(lit(1)).as("d")))
    NbModel(counts, scalars)
  }

  /** Score any (id, text[, label]) relation against a prebuilt model.
    * Output: (doc_id[, label 0/1], n_tokens, lp_pos, lp_neg, pred 0/1)
    * — lp_* are the full per-class log-scores at 6 dp. `labelCol`,
    * when present, passes the weak label through for evaluation. */
  def score(model: NbModel, docs: DataFrame, idCol: String,
      textCol: String, labelCol: Option[String] = None): DataFrame =
    scoreFromBase(model, tokens(docs, idCol, textCol,
      labelCol.toSeq.map(c => col(c))), labelCol)

  /** Score from a prepared (doc_id, w[, label]) token relation. */
  private def scoreFromBase(model: NbModel, base: DataFrame,
      labelCol: Option[String]): DataFrame = {
    val labelOut = labelCol.toSeq.map(c =>
      col(c).cast("boolean").cast("long").as("label"))
    // OOV tokens left-join to null counts -> coalesce to 0 keeps the
    // add-one smoothing exact for never-seen vocabulary
    val scored = base.select(col("doc_id"), explode(col("w")).as("t"))
      .join(model.counts, Seq("t"), "left")
      .crossJoin(broadcast(model.scalars))
      .groupBy(col("doc_id"))
      .agg(
        sum(log((coalesce(col("c_pos"), lit(0L)) + lit(1L)).cast("double") /
          (col("t_pos") + col("v")).cast("double"))).as("_lp_pos"),
        sum(log((coalesce(col("c_neg"), lit(0L)) + lit(1L)).cast("double") /
          (col("t_neg") + col("v")).cast("double"))).as("_lp_neg"))
    base.select(Seq(col("doc_id"), size(col("w")).as("n_tokens")) ++
        labelCol.toSeq.map(c => col(c)): _*)
      .join(scored, Seq("doc_id"), "left")
      .crossJoin(broadcast(model.scalars))
      .select(Seq(col("doc_id")) ++ labelOut ++ Seq(
        col("n_tokens"),
        round(log((col("d_pos") + lit(1L)).cast("double") /
          (col("d") + lit(2L)).cast("double")) + col("_lp_pos"), 6)
          .as("lp_pos"),
        round(log((col("d") - col("d_pos") + lit(1L)).cast("double") /
          (col("d") + lit(2L)).cast("double")) + col("_lp_neg"), 6)
          .as("lp_neg")): _*)
      .withColumn("pred",
        when(col("lp_pos") >= col("lp_neg"), 1L).otherwise(0L))
  }

  /** Train on `labelCol` and score the SAME docs (the one-shot form;
    * column contract unchanged from round-9's first landing).
    * Output: (doc_id, label 0/1, n_tokens, lp_pos, lp_neg, pred).
    *
    * `TxLog.checkpointed` materializes the tokenized instances ONCE
    * (`nb-tokens`) for training counts, model scalars AND scoring —
    * not 7 document scans (round-9 plan audit). Its budget picks the
    * form: held on the driver, or an executor checkpoint the caller
    * frees with [[graft.operators.Dedup.release]] once the result is
    * consumed (Verify does). Results are bit-identical either way. */
  def trainScore(docs: DataFrame, idCol: String, textCol: String,
      labelCol: String): DataFrame = {
    val base = tokens(docs, idCol, textCol,
      Seq(col(labelCol).cast("boolean").as("label")))
    val shared = TxLog.checkpointed(base, "nb-tokens")
    val m = trainFromBase(shared)
    scoreFromBase(m, shared, Some("label"))
      .select(col("doc_id"), col("label"), col("n_tokens"),
        col("lp_pos"), col("lp_neg"), col("pred"))
  }

  /** Persist an [[NbModel]]: the vocabulary counts as a parquet table
    * bucketed by the token probe key ([[graft.sources.BucketedTables]]),
    * the scalar row beside it — build on corpus refresh, score batches
    * and streams from it forever. */
  def saveModel(model: NbModel, prefix: String, path: String,
      nBuckets: Int = 64): Unit = {
    graft.sources.BucketedTables.save(model.counts, s"${prefix}_counts",
      s"$path/counts", Seq("t"), nBuckets)
    model.scalars.write.mode("overwrite").parquet(s"$path/scalars")
    val s = model.counts.sparkSession
    import s.implicits._
    Seq(nBuckets).toDF("n_buckets")
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Load a [[saveModel]]-persisted model (idempotent bucketed-DDL
    * re-registration). */
  def loadModel(s: org.apache.spark.sql.SparkSession, prefix: String,
      path: String): NbModel = {
    val meta = s.read.parquet(s"$path/meta").head()
    NbModel(
      counts = graft.sources.BucketedTables.load(s, s"${prefix}_counts",
        s"$path/counts", "t STRING, c_pos BIGINT, c_neg BIGINT",
        Seq("t"), meta.getAs[Int]("n_buckets")),
      scalars = s.read.parquet(s"$path/scalars"))
  }
}
