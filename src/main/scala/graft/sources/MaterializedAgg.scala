package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods

/** Incremental maintenance of a materialized GROUP BY aggregate over
  * a logged table — the lakehouse "incremental materialized view":
  * instead of recomputing `SELECT keys, COUNT(*), SUM(c)… GROUP BY
  * keys` over 100 TB on every downstream read, the aggregate is kept
  * as its OWN logged table and folded forward from the source's
  * row-level change feed, so a refresh costs the DELTA (the span's
  * changed files), never the corpus. The reference recomputes such
  * summaries per call — its quality/ETL reports re-aggregate the
  * whole driver-local dataset every time (data_quality.py:152-305's
  * per-check loops, etl_manager.py's transform passes); this is the
  * standing, restart-safe form a 100 TB deployment needs.
  *
  * Classic incremental view maintenance, split by aggregate class:
  *  - **Distributive (COUNT, SUM)**: every feed row carries a sign
  *    (+1 insert, −1 delete); per-key signed sums ARE the delta, and
  *    the new state is `old + delta`. A key whose count reaches zero
  *    leaves the view.
  *  - **Non-distributive under retraction (MIN, MAX)**: inserts merge
  *    incrementally (`least(old_min, min(inserted))` — exact, also
  *    under nulls, because least/greatest skip them); a DELETE on a
  *    key may retract the current extreme, so such "dirty" keys are
  *    recomputed from the source snapshot at the span's end version,
  *    pruned to the dirty keys by a semi-join. Without MIN/MAX
  *    columns the source is NEVER rescanned.
  *
  * Contract: `n_rows` = COUNT(*); `sum_<c>` = `COALESCE(SUM(c), 0)`
  * (null-coalesced so it folds with `old + delta` without tracking
  * per-column non-null counts); `min_<c>`/`max_<c>` = plain MIN/MAX
  * (null when the key holds no non-null value). `avgs` columns
  * maintain the two distributive states `sum_<c>`/`cnt_<c>`
  * (non-null count, itself a signed fold) and derive `avg_<c>` =
  * `sum/cnt` (null when cnt = 0 — true AVG semantics under nulls,
  * exact because the division happens once over exact folded sums).
  * `others` maps output names to ARBITRARY SQL aggregate expressions
  * (COUNT(DISTINCT …), STDDEV, …) — the third IVM class: nothing
  * folds, so EVERY touched key recomputes from the span-end source
  * snapshot (stats-pruned to the touched-key envelope); the cost is
  * per-touched-key, never per-corpus, and net-zero suppression turns
  * off (a value swap can move COUNT DISTINCT). Sum columns should be
  * exact types (integral/decimal) — a float sum folded incrementally
  * drifts from a recompute by ordering, the same reason the oracle
  * queries sum cents.
  *
  * The view's SOURCE WATERMARK (the last source version folded in)
  * rides the view's own log as a txn marker under [[WatermarkApp]] —
  * restart-safe and transactional with the data it stamps, exactly
  * like the streaming sinks' (appId, batchId) markers. Refresh is
  * idempotent: replaying a span the marker already covers is a no-op
  * inside [[TxLog.applyChanges]].
  *
  * Writes go through [[TxLog.applyChanges]], so a refresh rewrites
  * ONLY the view files holding touched keys (stats-pruned,
  * copy-on-write) — at scale a trickle of source changes costs a
  * trickle of view I/O.
  */
object MaterializedAgg {

  /** View definition file inside the view directory (underscore
    * prefix: invisible to Spark file listings and spared by
    * [[TxLog.vacuum]]). */
  val MetaFile = "_graft_mv.json"

  /** Txn appId under which the view's source watermark is recorded
    * in the view's own log. */
  val WatermarkApp = "_graft_mv_src"

  /** A materialized view's definition: the source table directory
    * and the aggregate shape. `avgs` maintains `sum_<c>`/`cnt_<c>`
    * (both distributive) and derives `avg_<c>`; `others` maps an
    * output column name to an ARBITRARY SQL aggregate expression
    * (COUNT(DISTINCT …), STDDEV, collect-style aggregates) —
    * maintained by touched-key recompute, never folded. Older meta
    * files lack both fields and parse with the defaults. */
  case class MvSpec(source: String, keys: Seq[String], sums: Seq[String],
      mins: Seq[String], maxs: Seq[String],
      avgs: Seq[String] = Nil, others: Map[String, String] = Map.empty)

  private implicit val fmts: Formats = DefaultFormats

  private def metaPath(mvDir: String) = new Path(mvDir, MetaFile)

  private def writeMeta(spark: SparkSession, mvDir: String,
      spec: MvSpec): Unit = {
    val p = metaPath(mvDir)
    val f = p.getFileSystem(spark.sessionState.newHadoopConf())
    val j = ("source" -> spec.source) ~ ("keys" -> spec.keys) ~
      ("sums" -> spec.sums) ~ ("mins" -> spec.mins) ~
      ("maxs" -> spec.maxs) ~ ("avgs" -> spec.avgs) ~
      ("others" -> spec.others)
    val out = f.create(p, true)
    try out.write(JsonMethods.compact(JsonMethods.render(j)).getBytes(UTF_8))
    finally out.close()
  }

  /** The view's definition, as written by [[create]]. */
  def readMeta(spark: SparkSession, mvDir: String): MvSpec = {
    val p = metaPath(mvDir)
    val f = p.getFileSystem(spark.sessionState.newHadoopConf())
    require(f.exists(p),
      s"MaterializedAgg: no $MetaFile under $mvDir — not a " +
        "materialized view (create one with MaterializedAgg.create)")
    val in = f.open(p)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    JsonMethods.parse(txt).extract[MvSpec]
  }

  /** The full aggregate — used once at [[create]], per dirty key
    * under retraction, and by tests as the recompute oracle. */
  def aggregate(df: DataFrame, keys: Seq[String], sums: Seq[String],
      mins: Seq[String], maxs: Seq[String],
      avgs: Seq[String] = Nil,
      others: Map[String, String] = Map.empty): DataFrame = {
    val sumCols = (sums ++ avgs).distinct
    val aggs: Seq[Column] =
      count(lit(1)).as("n_rows") +:
        (sumCols.map(c => coalesce(sum(col(c)), lit(0).cast(sumType(df, c)))
          .as(s"sum_$c")) ++
          avgs.map(c => count(col(c)).as(s"cnt_$c")) ++
          mins.map(c => min(col(c)).as(s"min_$c")) ++
          maxs.map(c => max(col(c)).as(s"max_$c")) ++
          others.toSeq.sortBy(_._1).map { case (n, e) => expr(e).as(n) })
    val base = df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
    // AVG derives from the two distributive states — null when the
    // key holds no non-null value (the SQL answer), exact because the
    // division happens once over exact folded sums, never averaged
    // averages
    avgs.foldLeft(base)((d, c) => d.withColumn(s"avg_$c",
      when(col(s"cnt_$c") > 0L,
        col(s"sum_$c").cast("double") / col(s"cnt_$c"))))
  }

  /** The type SUM(c) widens to — needed to coalesce with a same-typed
    * zero (sum: int→long, decimal(p,s)→decimal(p+10,s)). */
  private def sumType(df: DataFrame, c: String): DataType =
    df.select(sum(col(c)).as("_s")).schema.head.dataType

  /** Materialize the view: one full aggregate over the source's
    * CURRENT snapshot, committed (with the watermark marker) as
    * version 0 of the view's own logged table. Returns the source
    * version the view reflects. */
  def create(spark: SparkSession, sourceDir: String, mvDir: String,
      keys: Seq[String], sums: Seq[String] = Nil,
      mins: Seq[String] = Nil, maxs: Seq[String] = Nil,
      avgs: Seq[String] = Nil,
      others: Map[String, String] = Map.empty): Long = {
    require(keys.nonEmpty, "MaterializedAgg: at least one key column")
    require(sums.nonEmpty || mins.nonEmpty || maxs.nonEmpty ||
      avgs.nonEmpty || others.nonEmpty,
      "MaterializedAgg: at least one aggregate column " +
        "(sums/mins/maxs/avgs/others)")
    require(!TxLog.isLogged(spark, mvDir),
      s"MaterializedAgg: $mvDir already holds a logged table")
    val reservedClash = others.keys.filter(n =>
      n == "n_rows" || keys.contains(n) ||
        Seq("sum_", "cnt_", "avg_", "min_", "max_").exists(n.startsWith))
    require(reservedClash.isEmpty,
      s"MaterializedAgg: `others` name(s) ${reservedClash.mkString(", ")} " +
        "collide with generated columns")
    val srcVersion = TxLog.snapshot(spark, sourceDir).version
    val src = TxLog.read(spark, sourceDir, Some(srcVersion))
    val missing = (keys ++ sums ++ mins ++ maxs ++ avgs).distinct
      .filterNot(src.columns.contains)
    require(missing.isEmpty,
      s"MaterializedAgg: source lacks column(s) ${missing.mkString(", ")}")
    val agg = aggregate(src, keys, sums, mins, maxs, avgs, others)
    TxLog.commitOverwrite(spark, mvDir, agg, statsCols = keys,
      txn = Some((WatermarkApp, srcVersion)))
    writeMeta(spark, mvDir,
      MvSpec(sourceDir, keys, sums, mins, maxs, avgs, others))
    srcVersion
  }

  /** The source version the view currently reflects. */
  def watermark(spark: SparkSession, mvDir: String): Long =
    TxLog.snapshot(spark, mvDir).txns.getOrElse(WatermarkApp,
      throw new IllegalStateException(
        s"MaterializedAgg: $mvDir carries no $WatermarkApp marker — " +
          "not a materialized view"))

  /** Fold the source changes since the watermark into the view.
    * Reads the change feed for (watermark, head], computes per-key
    * deltas, and applies them copy-on-write through
    * [[TxLog.applyChanges]] — touched view files only. Returns the
    * new watermark (= the source head folded in). No-op when the
    * view is current. */
  def refresh(spark: SparkSession, mvDir: String,
      mor: Boolean = false): Long = {
    val spec = readMeta(spark, mvDir)
    val w = watermark(spark, mvDir)
    val head = TxLog.snapshot(spark, spec.source).version
    if (head <= w) return w
    val feed = TxLog.changeFeed(spark, spec.source, w, Some(head))
    applyFeed(spark, mvDir, spec, feed, endVersion = head, mor = mor)
    head
  }

  /** Streaming form: attach the view to a `readChangeFeed` stream of
    * its source — each micro-batch folds its feed slice through the
    * same delta path as [[refresh]]. Start the feed ABOVE the
    * watermark (`.option("startingVersion", watermark + 1)`) so the
    * initial load the view already aggregated is not double-counted.
    * Idempotence: each slice commits under (WatermarkApp, slice's max
    * `_commit_version`) — an engine-replayed micro-batch re-presents
    * the same span and skips, and the watermark keeps advancing so a
    * later batch [[refresh]] stays consistent with the stream. */
  def mvApplySink(feed: DataFrame, mvDir: String, checkpointDir: String,
      mor: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(feed.columns.contains("_change_type") &&
      feed.columns.contains("_commit_version"),
      "MaterializedAgg: mvApplySink needs a change feed " +
        "(.option(\"readChangeFeed\", true))")
    feed.writeStream.outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val sp = batch.sparkSession
        val spec = readMeta(sp, mvDir)
        val end = batch.agg(max(col("_commit_version"))).head()
        if (!end.isNullAt(0))
          applyFeed(sp, mvDir, spec, batch, endVersion = end.getLong(0),
            mor = mor)
        ()
      }.start()
  }

  /** Fold one change-feed span into the view (shared by [[refresh]]
    * and [[mvApplySink]]). `endVersion` is the span's last source
    * version: it stamps the watermark marker and pins the snapshot
    * dirty keys recompute from. */
  private[graft] def applyFeed(spark: SparkSession, mvDir: String, spec: MvSpec,
      feed: DataFrame, endVersion: Long, mor: Boolean = false): Unit = {
    // The deltas are touched-key-sized but their LINEAGE is the
    // span's row-level diff (one union + diff-aggregate pipeline per
    // DML commit), and directivesFor reads them more than once —
    // materialize them ONCE with lineage truncated (TxLog.checkpointed;
    // PLANS.md round 14 records a 30× recompute on a scattered-delete
    // trickle before caching, and with a plain persist every action still
    // re-planned the span-sized tree). The directives need no
    // checkpoint of their own: applyChanges / applyChangesMor
    // materialize their input once before any action.
    val touched = TxLog.described(spark, "mv-deltas-materialize") {
      TxLog.checkpointed(touchedDeltas(spec, feed), "mv-deltas")
    }
    try {
      val directives = directivesFor(spark, mvDir, spec, touched, endVersion)
      // mor = true retires replaced/dead view rows through deletion
      // vectors (TxLog.applyChangesMor) instead of rewriting the
      // touched view files whole — the write-amplification trade a
      // scattered-key trickle against a LARGE view wants; compact
      // folds the vectors away on schedule
      if (mor)
        TxLog.applyChangesMor(spark, mvDir, directives, spec.keys,
          "_mv_del", statsCols = spec.keys,
          txn = Some((WatermarkApp, endVersion)))
      else
        TxLog.applyChanges(spark, mvDir, directives, spec.keys,
          "_mv_del", statsCols = spec.keys,
          txn = Some((WatermarkApp, endVersion)))
    } finally TxLog.releaseCheckpoint(touched)
    ()
  }

  /** One pass over the feed span: per-key signed count/sum deltas,
    * insert-side min/max, and the retraction flag — every key whose
    * state the span may have changed. A net-zero key (e.g. a value
    * swap between two rows of one key) produces no row — and no
    * view-file rewrite; with MIN/MAX configured a retraction is never
    * net-zero-safe (the extreme may have moved), hence `_retract`
    * keeps the key. */
  private[graft] def touchedDeltas(spec: MvSpec, feed: DataFrame)
      : DataFrame = {
    val ins = col("_change_type") === "insert"
    val recomputeAll = spec.others.nonEmpty
    val needRecompute =
      spec.mins.nonEmpty || spec.maxs.nonEmpty || recomputeAll
    val sumCols = (spec.sums ++ spec.avgs).distinct
    val sumT = feed.select(sumCols.map(c =>
      sum(col(c)).as(s"_t_$c")): _*).schema
      .fields.map(f => f.name.stripPrefix("_t_") -> f.dataType).toMap
    val deltaAggs: Seq[Column] =
      sum(when(ins, 1L).otherwise(-1L)).as("_d_n") +:
        (sumCols.map(c => coalesce(
          sum(when(ins, col(c)).otherwise(-col(c))),
          lit(0).cast(sumT(c))).as(s"_d_sum_$c")) ++
          spec.avgs.map(c => sum(when(col(c).isNotNull,
            when(ins, 1L).otherwise(-1L)).otherwise(0L))
            .as(s"_d_cnt_$c")) ++
          spec.mins.map(c => min(when(ins, col(c))).as(s"_i_min_$c")) ++
          spec.maxs.map(c => max(when(ins, col(c))).as(s"_i_max_$c")) :+
          max(when(ins, 0).otherwise(1)).as("_retract"))
    val grouped = feed.groupBy(spec.keys.map(col): _*)
      .agg(deltaAggs.head, deltaAggs.tail: _*)
    // with an `others` aggregate, ANY change to a key can move an
    // arbitrary aggregate (a duplicate value's delete leaves COUNT
    // DISTINCT alone, a last copy's delete doesn't — only a recompute
    // can tell), so net-zero filtering is off and every touched key
    // stays
    if (recomputeAll) grouped
    else grouped.filter(
      (col("_d_n") =!= 0L) +:
        (sumCols.map(c => col(s"_d_sum_$c") =!= lit(0)) ++
          spec.avgs.map(c => col(s"_d_cnt_$c") =!= 0L) ++
          (if (needRecompute) Seq(col("_retract") === 1) else Nil))
          reduce (_ || _))
  }

  /** The `mv-envelope` aggregate of [[directivesFor]] over the delta
    * relation `touched`: each key column's touched envelope (`_lo_k`,
    * `_hi_k`) and retracted envelope (`_rlo_k`, `_rhi_k`). */
  private[graft] def envelope(touched: DataFrame, keys: Seq[String])
      : DataFrame = {
    val envAggs = keys.flatMap(k => Seq(
      min(col(k)).as(s"_lo_$k"), max(col(k)).as(s"_hi_$k"),
      min(when(col("_retract") === 1, col(k))).as(s"_rlo_$k"),
      max(when(col("_retract") === 1, col(k))).as(s"_rhi_$k")))
    touched.agg(envAggs.head, envAggs.tail: _*)
  }

  /** The per-key directive relation one feed span folds into the view
    * (exposed separately so its plan can be audited). `touched` is
    * [[touchedDeltas]]' output — persisted by [[applyFeed]], since
    * several actions consume it. */
  private[graft] def directivesFor(spark: SparkSession, mvDir: String,
      spec: MvSpec, touched: DataFrame, endVersion: Long): DataFrame = {
    val mvSchema = DataType.fromJson(TxLog.snapshot(spark, mvDir)
      .schemaJson).asInstanceOf[StructType]
    val mvType = mvSchema.fields.map(f => f.name -> f.dataType).toMap
    val keys = spec.keys
    val recomputeAll = spec.others.nonEmpty
    val recomputeRetract = spec.mins.nonEmpty || spec.maxs.nonEmpty
    val needRecompute = recomputeAll || recomputeRetract

    // One pass over the (touched-key-sized) delta relation — a driver
    // fold when it is held: the touched-key envelope and the
    // retracted-key envelope. They stats-prune the two big reads
    // below — a trickle refresh against a large view (or a MIN/MAX
    // recompute against a 100 TB source) plans only the files whose
    // recorded key range intersects the span, the same pruning
    // applyChanges uses for its write side. Conservative: a key
    // column with no usable bounds (all-null in the span, or no
    // recorded stats) falls back to the full read.
    val env = TxLog.described(spark, "mv-envelope") {
      TxLog.foldedHead(envelope(touched, keys))
    }
    val touchedBounds = TxLog.envelopeIntervals(env, keys)
    val retractBounds = TxLog.envelopeIntervals(env, keys, "_rlo_", "_rhi_")
    // with `others`, every touched key must recompute (arbitrary
    // aggregates don't fold); the recompute scan is then bounded by
    // the full touched envelope instead of the retracted one
    val dirty =
      if (recomputeAll) lit(true)
      else if (recomputeRetract) col("_retract") === 1
      else lit(false)
    val dirtyBounds = if (recomputeAll) touchedBounds else retractBounds

    def mvAligned(d: DataFrame): DataFrame =
      d.select((keys.map(col) ++ mvSchema.fieldNames.filterNot(keys.contains)
        .map(c => col(c).cast(mvType(c)).as(c))) :+ col("_mv_del"): _*)

    // the per-dirty-key recompute from the source snapshot at the
    // span's END version, pruned to the dirty keys; a dirty key with
    // no surviving source rows leaves the view
    def recomputed(dirtyKeys: DataFrame): DataFrame = {
      val srcAt =
        if (dirtyBounds.size == keys.size)
          TxLog.readPrunedAll(spark, spec.source, dirtyBounds,
            Some(endVersion))
        else TxLog.read(spark, spec.source, Some(endVersion))
      val rec = aggregate(
        srcAt.join(dirtyKeys, keys, "left_semi"),
        keys, spec.sums, spec.mins, spec.maxs, spec.avgs, spec.others)
      dirtyKeys.join(rec, keys, "left")
        .withColumn("_mv_del", col("n_rows").isNull)
        .withColumn("n_rows", coalesce(col("n_rows"), lit(0L)))
    }

    // under `others`, EVERY touched key recomputes (arbitrary
    // aggregates don't fold) — the view's old state is never an
    // input, so the view is not even read; the fold leg below would
    // be empty by construction AND lacks the `others` columns
    if (recomputeAll)
      return mvAligned(recomputed(touched.select(keys.map(col): _*)))

    val mv =
      if (touchedBounds.size == keys.size)
        TxLog.readPrunedAll(spark, mvDir, touchedBounds)
      else TxLog.read(spark, mvDir)

    // CLEAN keys (insert-only when MIN/MAX is configured; every key
    // otherwise): new state = old + delta, folded in one equi right
    // join against the (small) delta relation
    val sumCols = (spec.sums ++ spec.avgs).distinct
    val clean0 = mv.join(touched.filter(!dirty), keys, "right")
      .select((keys.map(col) :+
        (coalesce(col("n_rows"), lit(0L)) + col("_d_n")).as("n_rows")) ++
        sumCols.map(c => (coalesce(col(s"sum_$c"),
          lit(0).cast(mvType(s"sum_$c"))) + col(s"_d_sum_$c"))
          .as(s"sum_$c")) ++
        spec.avgs.map(c => (coalesce(col(s"cnt_$c"), lit(0L)) +
          col(s"_d_cnt_$c")).as(s"cnt_$c")) ++
        spec.mins.map(c =>
          least(col(s"min_$c"), col(s"_i_min_$c")).as(s"min_$c")) ++
        spec.maxs.map(c =>
          greatest(col(s"max_$c"), col(s"_i_max_$c")).as(s"max_$c")): _*)
    val clean = spec.avgs.foldLeft(clean0)((d, c) =>
      d.withColumn(s"avg_$c", when(col(s"cnt_$c") > 0L,
        col(s"sum_$c").cast("double") / col(s"cnt_$c"))))
      .withColumn("_mv_del", col("n_rows") === 0L)

    // DIRTY keys (a delete may have retracted a MIN/MAX extreme):
    // recompute, pruned to the retracted keys' envelope
    if (!needRecompute) mvAligned(clean)
    else mvAligned(clean).unionByName(
      mvAligned(recomputed(touched.filter(dirty).select(keys.map(col): _*))))
  }
}
