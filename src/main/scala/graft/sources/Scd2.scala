package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Held
import org.apache.spark.sql.types.{DataType, StructType}
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods

/** SCD TYPE 2 maintained from a logged table's change feed — the
  * `APPLY CHANGES … STORED AS SCD TYPE 2` shape: where
  * [[TxLog.applyChanges]] keeps a follower at the source's CURRENT
  * row state (type 1 — updates overwrite), this keeps the follower's
  * full ROW HISTORY: every version a key ever held is a row with a
  * `[valid_from, valid_to)` validity interval in source-commit
  * versions, the open interval marked `is_current`. The reference's
  * SCD2 surface (etl_manager.py's merge path + the scd2/scd2Snapshot
  * operators, Medallion.scala:97) covers the QUERY form over an
  * already-versioned relation; this is the LOG-NATIVE form — history
  * is derived continuously from the transaction log's own row-level
  * change feed, so "what did this customer row say last March" needs
  * no upstream cooperation at all.
  *
  * Maintenance is incremental and keyed like [[MaterializedAgg]]:
  *  - the source's change feed for (watermark, head] nets into at
  *    most one DIRECTIVE per (key, version) — an upsert (the
  *    version's post-image; an update's delete+insert pair at one
  *    version collapses to it) or a delete;
  *  - per key, directives ordered by version become history
  *    segments in ONE window over the directive relation (cardinality
  *    = changed rows, never the corpus): each upsert opens a segment
  *    at its version, closed by the key's NEXT directive (delete or
  *    upsert) or left open/current;
  *  - the key's standing current row closes at the key's first
  *    directive version — read stats-pruned to the directive keys'
  *    envelope, so a trickle of source changes opens a trickle of
  *    history files;
  *  - the batch lands through [[TxLog.applyChanges]] keyed on
  *    (keys…, valid_from) — each history segment is uniquely keyed,
  *    so closing a current row rewrites only the files holding it and
  *    CLOSED history is never touched. One commit per span, exactly
  *    once under the (appId, batchId)-style watermark marker.
  *
  * A key deleted at v and re-inserted at v' > v simply has no segment
  * covering [v, v'); an upsert whose payload equals the standing row
  * still opens a new segment IF the source commit actually changed
  * the row — but a commit that left the row identical produces no
  * feed row and therefore NO spurious version, whether it rewrote the
  * row's file or retired the row under a deletion vector and wrote
  * its image anew (the feed nets each commit's retired rows against
  * its added rows; net-zero rows vanish — stricter than a naive
  * sequence-number SCD2 which versions every touch).
  *
  * Out-of-order protection: a directive at or before a touched key's
  * latest recorded `valid_from` refuses loudly (history is
  * append-forward per key; the feed path can never trip this because
  * feed versions strictly exceed the watermark, but the raw
  * [[applyDirectives]] form could be fed a stale batch).
  */
object Scd2 {

  /** Definition file inside the history directory (underscore
    * prefix: invisible to listings, spared by [[TxLog.vacuum]]). */
  val MetaFile = "_graft_scd2.json"

  /** Txn appId carrying the source watermark in the history table's
    * own log. */
  val WatermarkApp = "_graft_scd2_src"

  val ValidFrom = "valid_from"
  val ValidTo = "valid_to"
  val IsCurrent = "is_current"

  /** An SCD2 history table's definition: source table directory and
    * business-key columns. */
  case class Scd2Spec(source: String, keys: Seq[String])

  private implicit val fmts: Formats = DefaultFormats

  private def metaPath(scdDir: String) = new Path(scdDir, MetaFile)

  private def writeMeta(spark: SparkSession, scdDir: String,
      spec: Scd2Spec): Unit = {
    val p = metaPath(scdDir)
    val f = p.getFileSystem(spark.sessionState.newHadoopConf())
    val j = ("source" -> spec.source) ~ ("keys" -> spec.keys)
    val out = f.create(p, true)
    try out.write(JsonMethods.compact(JsonMethods.render(j)).getBytes(UTF_8))
    finally out.close()
  }

  /** The history table's definition, as written by [[create]]. */
  def readMeta(spark: SparkSession, scdDir: String): Scd2Spec = {
    val p = metaPath(scdDir)
    val f = p.getFileSystem(spark.sessionState.newHadoopConf())
    require(f.exists(p),
      s"Scd2: no $MetaFile under $scdDir — not an SCD2 history table " +
        "(create one with Scd2.create)")
    val in = f.open(p)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    JsonMethods.parse(txt).extract[Scd2Spec]
  }

  /** Materialize the history table: the source's CURRENT snapshot
    * becomes the initial current segment of every key (`valid_from` =
    * the source version, `valid_to` null, `is_current` true),
    * committed as version 0 of the history's own logged table with
    * the watermark marker. The source must be unique on `keys` —
    * SCD2 tracks one row per key. Returns the source version the
    * history starts at. */
  def create(spark: SparkSession, sourceDir: String, scdDir: String,
      keys: Seq[String]): Long = {
    require(keys.nonEmpty, "Scd2: at least one key column")
    require(!TxLog.isLogged(spark, scdDir),
      s"Scd2: $scdDir already holds a logged table")
    val srcVersion = TxLog.snapshot(spark, sourceDir).version
    val src = TxLog.read(spark, sourceDir, Some(srcVersion))
    val missing = keys.filterNot(src.columns.contains)
    require(missing.isEmpty,
      s"Scd2: source lacks key column(s) ${missing.mkString(", ")}")
    val clash = src.columns
      .filter(Seq(ValidFrom, ValidTo, IsCurrent).contains)
    require(clash.isEmpty,
      s"Scd2: source column(s) ${clash.mkString(", ")} collide with " +
        "the generated history columns")
    val dup = src.groupBy(keys.map(col): _*)
      .count().filter(col("count") > 1).limit(1).count()
    require(dup == 0,
      s"Scd2: source is not unique on (${keys.mkString(", ")}) — " +
        "SCD2 tracks one row per key")
    val init = src
      .withColumn(ValidFrom, lit(srcVersion))
      .withColumn(ValidTo, lit(null).cast("long"))
      .withColumn(IsCurrent, lit(true))
    TxLog.commitOverwrite(spark, scdDir, init,
      statsCols = keys :+ ValidFrom,
      txn = Some((WatermarkApp, srcVersion)))
    writeMeta(spark, scdDir, Scd2Spec(sourceDir, keys))
    srcVersion
  }

  /** The source version the history currently reflects. */
  def watermark(spark: SparkSession, scdDir: String): Long =
    TxLog.snapshot(spark, scdDir).txns.getOrElse(WatermarkApp,
      throw new IllegalStateException(
        s"Scd2: $scdDir carries no $WatermarkApp marker — " +
          "not an SCD2 history table"))

  /** Fold the source changes since the watermark into the history.
    * Reads the change feed for (watermark, head], nets it to per-
    * (key, version) directives, and lands the new/closed segments
    * copy-on-write. Returns the new watermark. No-op when current. */
  def refresh(spark: SparkSession, scdDir: String,
      mor: Boolean = false): Long = {
    val spec = readMeta(spark, scdDir)
    val w = watermark(spark, scdDir)
    val head = TxLog.snapshot(spark, spec.source).version
    if (head <= w) return w
    // the feed is consumed TWICE downstream (feedDirectives' upsert
    // and delete branches) and its lineage is the span's diff legs —
    // one union + diff-aggregate pipeline PER DML COMMIT. Materialize
    // it once with lineage truncated (TxLog.checkpointed): a persist
    // alone left every downstream action re-planning the whole span
    // tree, which dominated the refresh on multi-commit spans
    // (guide §5 reuse + §3.3 plan-size truncation)
    val feed = TxLog.described(spark, "scd2-feed-materialize") {
      TxLog.checkpointed(TxLog.changeFeed(spark, spec.source, w,
        Some(head)), "scd2-feed")
    }
    try applyDirectives(spark, scdDir, feedDirectives(spec, feed),
      "_scd2_del", "_scd2_seq", txn = Some((WatermarkApp, head)),
      mor = mor)
    finally TxLog.releaseCheckpoint(feed)
    head
  }

  /** Streaming form: attach the history to a `readChangeFeed` stream
    * of its source (start ABOVE the watermark —
    * `.option("startingVersion", watermark + 1)`). Each micro-batch
    * folds its slice through the same directive path as [[refresh]];
    * a replayed slice re-presents the same (marker, max version) and
    * skips inside [[TxLog.applyChanges]]. */
  def scd2ApplySink(feed: DataFrame, scdDir: String,
      checkpointDir: String, mor: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(feed.columns.contains("_change_type") &&
      feed.columns.contains("_commit_version"),
      "Scd2: scd2ApplySink needs a change feed " +
        "(.option(\"readChangeFeed\", true))")
    feed.writeStream.outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val sp = batch.sparkSession
        val spec = readMeta(sp, scdDir)
        val end = batch.agg(max(col("_commit_version"))).head()
        if (!end.isNullAt(0))
          applyDirectives(sp, scdDir, feedDirectives(spec, batch),
            "_scd2_del", "_scd2_seq",
            txn = Some((WatermarkApp, end.getLong(0))), mor = mor)
        ()
      }.start()
  }

  /** Net a change-feed span to at most ONE directive per (key,
    * version): an insert row at (k, v) is the version's post-image —
    * an upsert directive (an UPDATE's delete+insert pair at one
    * version collapses to it); a delete row with no co-versioned
    * insert is a delete directive (null payload). One map-side
    * distinct + one anti-join, both keyed (key, version)-sized. */
  private[graft] def feedDirectives(spec: Scd2Spec, feed: DataFrame)
      : DataFrame = {
    val payload = feed.columns
      .filterNot(Seq("_change_type", "_commit_version").contains).toSeq
    val ins = col("_change_type") === "insert"
    val ups = feed.filter(ins)
      .select(payload.map(col) :+ col("_commit_version").as("_scd2_seq"): _*)
      .withColumn("_scd2_del", lit(false))
    val payloadT = feed.schema.fields
      .map(f => f.name -> f.dataType).toMap
    val dels = feed.filter(!ins)
      .select(spec.keys.map(col) :+
        col("_commit_version").as("_scd2_seq"): _*)
      .distinct()
      .join(ups.select((spec.keys :+ "_scd2_seq").map(col): _*),
        spec.keys :+ "_scd2_seq", "left_anti")
      .select(payload.map(c =>
        if (spec.keys.contains(c)) col(c)
        else lit(null).cast(payloadT(c)).as(c)) :+
        col("_scd2_seq"): _*)
      .withColumn("_scd2_del", lit(true))
    ups.unionByName(dels)
  }

  /** Apply a batch of keyed, sequenced change directives to the
    * history: `changes` carries the source's columns plus boolean
    * `deleteCol` and integral `seqCol` (for the feed path, the source
    * commit version). At most one directive per (key, seq) —
    * ambiguity refuses like [[TxLog.applyChanges]]; a directive at or before
    * a touched key's latest recorded `valid_from` refuses
    * (out-of-order). A null seq sorts before every version: next to
    * a valued directive of its key it is superseded and writes no
    * segment; a key with only null-seq directives refuses. Checks run
    * in order: an empty batch only advances the txn marker, then the
    * duplicate refusal, the null-seq one, then the out-of-order one.
    * Cost shape: one window + two per-key aggregates over the
    * DIRECTIVE relation (the `scd2-envelope` guard action and the
    * firsts), one stats-pruned read of the touched keys'
    * history sliver, and one [[TxLog.applyChanges]] commit keyed
    * (keys…, valid_from) that rewrites only files holding a touched
    * key's current segment — or, with `mor = true`, retires the
    * closed segments through DELETION VECTORS
    * ([[TxLog.applyChangesMor]]) so a scattered trickle against a
    * deep history writes vector pairs + new segments, never
    * touched-file bytes. */
  def applyDirectives(spark: SparkSession, scdDir: String,
      changes: DataFrame, deleteCol: String, seqCol: String,
      txn: Option[(String, Long)] = None, mor: Boolean = false): Long = {
    val spec = readMeta(spark, scdDir)
    val snap = TxLog.snapshot(spark, scdDir)
    // idempotent replay short-circuit before any staging work (the
    // applyChanges below would catch it too, but only after planning
    // the directive relation)
    for ((app, b) <- txn)
      if (snap.txns.get(app).exists(_ >= b)) return snap.version
    val schema =
      DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]
    val scdT = schema.fields.map(f => f.name -> f.dataType).toMap
    val payload = schema.fieldNames
      .filterNot(Seq(ValidFrom, ValidTo, IsCurrent).contains).toSeq
    val missing = payload.filterNot(changes.columns.contains) ++
      Seq(deleteCol, seqCol).filterNot(changes.columns.contains)
    require(missing.isEmpty,
      s"Scd2: directives lack column(s) ${missing.mkString(", ")}")
    val keys = spec.keys

    // directive-sized, consumed by the per-key summary, the window
    // segments, the per-key firsts and the apply batch — materialize
    // once, lineage truncated
    val d = TxLog.described(spark, "scd2-directives-materialize") {
      TxLog.checkpointed(changes.select(payload.map(c =>
        col(c).cast(scdT(c)).as(c)) ++ Seq(
        col(seqCol).cast("long").as("_scd2_seq"),
        col(deleteCol).cast("boolean").as("_scd2_del")): _*),
        "scd2-directives")
    }
    try {
      // ONE fold over a per-key aggregate answers all the guards
      // before any history work — on the driver when the directives
      // are held, as one action otherwise
      val summary = TxLog.described(spark, "scd2-envelope") {
        TxLog.foldedHead(envelope(d, keys))
      }
      // a span that nets to zero directives (compaction-only source
      // commits, net-zero rewrites) must still advance the watermark
      // marker — metadata-only — or every later refresh re-reads the
      // same span; skip the history scan outright
      if (summary.getLong(0) == 0L)
        return txn.fold(snap.version)(
          TxLog.commitTxnAdvance(spark, scdDir, _))
      require(summary.getLong(1) == 0L,
        s"Scd2: duplicate directive for one (${keys.mkString(", ")}, " +
          "seq) — at most one change per key per sequence value")
      require(summary.isNullAt(2), {
        val k = summary.getStruct(2)
        s"Scd2: key (${keys.zipWithIndex.map { case (c, i) =>
          s"$c=${k.get(i)}" }.mkString(", ")}) has only null-seq " +
          "directives — no version to open or close a segment at"
      })
      val bounds = TxLog.envelopeIntervals(summary, keys)
      // per key, version order decides the segments in one window
      // over the DIRECTIVE relation: each upsert opens a segment,
      // closed by the key's next directive (delete or upsert). A
      // null-seq directive sorts first and its key also holds a valued
      // one (refused above otherwise), which supersedes it before any
      // version — it opens no segment
      val w = Window.partitionBy(keys.map(col): _*)
        .orderBy(col("_scd2_seq"))
      val ordered = d.withColumn("_scd2_next", lead("_scd2_seq", 1).over(w))
      val segments = ordered
        .filter(!col("_scd2_del") && col("_scd2_seq").isNotNull)
        .select(payload.map(col) ++ Seq(
          col("_scd2_seq").as(ValidFrom),
          col("_scd2_next").as(ValidTo),
          col("_scd2_next").isNull.as(IsCurrent)): _*)
      // each key's first directive version closes its standing
      // current segment (held when the directives are)
      val firsts = Held.folded(firstSeqs(d, keys))
      // the touched keys' history sliver: consumed by the stale
      // check and the closure batch — touched-key-sized
      val hist = TxLog.checkpointed(
        (if (bounds.size == keys.size)
          TxLog.readPrunedAll(spark, scdDir, bounds)
        else TxLog.read(spark, scdDir))
          .join(firsts, keys, "inner"), "scd2-history")
      try {
        // append-forward guard over the touched keys' WHOLE history
        // sliver (current and closed): a directive at or before any
        // recorded valid_from would silently rewrite history
        val stale = TxLog.described(spark, "scd2-stale-check") {
          staleRows(hist, keys)
        }
        require(stale.isEmpty, {
          val r = stale.head
          s"Scd2: out-of-order directive — key (${keys.zipWithIndex
            .map { case (k, i) => s"$k=${r.get(i)}" }.mkString(", ")}) " +
            s"already holds a segment from version ${r.get(keys.size)} " +
            s">= directive seq ${r.get(keys.size + 1)}; history is " +
            "append-forward per key"
        })
        val closures = hist.filter(col(IsCurrent))
          .select(payload.map(col) ++ Seq(
            col(ValidFrom),
            col("_scd2_first").as(ValidTo),
            lit(false).as(IsCurrent)): _*)

        val batch = closures.unionByName(segments)
          .withColumn("_scd2_batch_del", lit(false))
        if (mor)
          TxLog.applyChangesMor(spark, scdDir, batch,
            keys :+ ValidFrom, "_scd2_batch_del",
            statsCols = keys :+ ValidFrom, txn = txn)
        else
          TxLog.applyChanges(spark, scdDir, batch,
            keys :+ ValidFrom, "_scd2_batch_del",
            statsCols = keys :+ ValidFrom, txn = txn)
      } finally TxLog.releaseCheckpoint(hist)
    } finally TxLog.releaseCheckpoint(d)
  }

  /** The guards of [[applyDirectives]] over its directive relation
    * `d`, one row: the key count (a span that nets to zero
    * directives), the duplicate-(key, seq) count — a key is ambiguous
    * iff it holds more directives than distinct seq values, with a
    * null-seq group counting as one more distinct value
    * (countDistinct skips nulls) — the least key whose directives are
    * ALL null-seq (no version to open a segment at), and the key
    * envelope (`_lo_k`, `_hi_k`) that prunes the history read. */
  private[graft] def envelope(d: DataFrame, keys: Seq[String]): DataFrame =
    d.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("_scd2_n"),
        countDistinct(col("_scd2_seq")).as("_scd2_nseq"),
        max(col("_scd2_seq").isNull.cast("long")).as("_scd2_nullseq"))
      .agg(count(lit(1)).as("_scd2_keys"),
        (count(when(col("_scd2_n") >
          col("_scd2_nseq") + col("_scd2_nullseq"), 1)).as("_scd2_dups")
          +: min(when(col("_scd2_nseq") === 0L,
            struct(keys.map(col): _*))).as("_scd2_nullkey")
          +: keys.flatMap(k =>
            Seq(min(col(k)).as(s"_lo_$k"), max(col(k)).as(s"_hi_$k")))): _*)

  /** Each directive key's least seq (`_scd2_first`). */
  private[graft] def firstSeqs(d: DataFrame, keys: Seq[String]): DataFrame =
    d.groupBy(keys.map(col): _*).agg(min(col("_scd2_seq")).as("_scd2_first"))

  /** At most one history row of the touched keys' sliver `hist` that
    * opens at or after its key's first directive — `(keys…,
    * valid_from, first)`; a driver filter when `hist` is held. */
  private[graft] def staleRows(hist: DataFrame, keys: Seq[String])
      : Seq[Row] = {
    val q = hist.filter(col("_scd2_first") <= col(ValidFrom))
      .select((keys.map(col) :+ col(ValidFrom) :+ col("_scd2_first")): _*)
      .limit(1)
    TxLog.foldedRows(q)
  }

  /** The current row state — the type-1 view of the history. */
  def current(spark: SparkSession, scdDir: String): DataFrame =
    TxLog.read(spark, scdDir).filter(col(IsCurrent))

  /** [[snapshotAt]] by WALL CLOCK: resolves the instant through the
    * SOURCE's in-commit-timestamp axis ([[TxLog.versionAt]] — the
    * version live at `ts`) and reads the history as of it. "What did
    * this table say last March" as one call. */
  def snapshotAtTime(spark: SparkSession, scdDir: String, ts: Long)
      : DataFrame = {
    val spec = readMeta(spark, scdDir)
    snapshotAt(spark, scdDir, TxLog.versionAt(spark, spec.source, ts))
  }

  /** The row state as of source version `atSeq`: segments whose
    * `[valid_from, valid_to)` interval covers it. Prunes on the
    * logged `valid_from` stats — a deep-history table opens only
    * files whose recorded range reaches back to `atSeq`. Refuses
    * `atSeq` beyond the history's watermark: open segments cover any
    * future version, so an unfolded span would silently answer with
    * watermark-time rows labeled as source@atSeq — refresh first. */
  def snapshotAt(spark: SparkSession, scdDir: String, atSeq: Long)
      : DataFrame = {
    val w = watermark(spark, scdDir)
    require(atSeq <= w,
      s"Scd2: snapshotAt($atSeq) is beyond the history's watermark " +
        s"$w — the span ($w, $atSeq] has not been folded; refresh " +
        "first (snapshotAt(v) == source@v only holds up to the " +
        "watermark)")
    TxLog.readPrunedAll(spark, scdDir,
      Seq((ValidFrom, Long.MinValue, atSeq)))
      .filter(col(ValidFrom) <= atSeq &&
        (col(ValidTo).isNull || col(ValidTo) > atSeq))
  }
}
