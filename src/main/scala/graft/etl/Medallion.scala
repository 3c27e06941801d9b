package graft.etl

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.lineage.LineageTracker
import graft.quality.{DataZone, QualityValidator, Report, Rule}

/** Medallion ETL (SURVEY.md §2.3) — distributed re-expression of the
  * reference's HealthcareETLManager (etl_manager.py). Zone datasets
  * are logged tables ([[graft.sources.TxLog]]) instead of in-memory
  * dict lists; every load type is one log commit:
  *
  *  - FULL        → overwrite           (etl_manager.py:452-453)
  *  - APPEND      → append              (etl_manager.py:454-455)
  *  - MERGE       → keyed upsert, TxLog.merge
  *                                      (etl_manager.py:456-467)
  *  - INCREMENTAL → insert-only-new via left-anti join, then append
  *                                      (etl_manager.py:468-475)
  *
  * At 100 TB: MERGE/INCREMENTAL shuffle once on the merge key (AQE
  * handles skew); the delta side broadcasts when small. No driver-side
  * id sets — the reference's `existing_ids` dict becomes a join.
  */
object LoadType extends Enumeration {
  val Full, Append, Merge, Incremental = Value
}

object Transforms {

  /** Sentinel strings treated as NULL — etl_manager.py:561. */
  val nullSentinels: Seq[String] =
    Seq("", "NULL", "null", "N/A", "n/a", "NA", "None", "none")

  /** Date formats tried in order — etl_manager.py:511 (same order, so
    * ambiguous strings resolve identically to the reference). */
  val dateFormats: Seq[String] =
    Seq("yyyy-MM-dd", "MM/dd/yyyy", "dd/MM/yyyy", "yyyyMMdd")

  private def stringCols(df: DataFrame): Seq[String] =
    df.schema.fields.filter(_.dataType == StringType).map(_.name).toSeq

  /** trim_strings — every string column (etl_manager.py:539-549). */
  def trimStrings(df: DataFrame): DataFrame =
    stringCols(df).foldLeft(df)((d, c) => d.withColumn(c, trim(col(c))))

  /** null_handling — sentinel strings → NULL (etl_manager.py:551-563). */
  def nullHandling(df: DataFrame): DataFrame =
    stringCols(df).foldLeft(df) { (d, c) =>
      d.withColumn(c,
        when(col(c).isin(nullSentinels: _*), lit(null).cast(StringType))
          .otherwise(col(c)))
    }

  /** uppercase_codes — upper+trim on code columns (etl_manager.py:524-537). */
  def uppercaseCodes(df: DataFrame, codeCols: Seq[String]): DataFrame =
    codeCols.filter(df.columns.contains).foldLeft(df)((d, c) =>
      d.withColumn(c, upper(trim(col(c)))))

  /** standardize_dates — first-matching-format parse of string dates to
    * ISO (etl_manager.py:498-522). try_to_date is null-on-mismatch, like
    * the reference's swallowed ValueError. */
  def standardizeDates(df: DataFrame, dateCols: Seq[String]): DataFrame =
    dateCols.filter(df.columns.contains).foldLeft(df) { (d, c) =>
      d.withColumn(c,
        coalesce(dateFormats.map(f =>
          try_to_timestamp(col(c), lit(f)).cast("date")): _*))
    }

  /** deduplicate — keep one row per key; "first wins" made deterministic
    * with an explicit tie-break ordering (etl_manager.py:482-496 keeps
    * input order, which does not exist distributed). */
  def deduplicate(df: DataFrame, key: Seq[Column], tieBreak: Seq[Column])
      : DataFrame = {
    val w = Window.partitionBy(key: _*).orderBy(tieBreak: _*)
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
  }

  /** add_metadata — processing audit columns (etl_manager.py:565-576). */
  def addMetadata(df: DataFrame): DataFrame =
    df.withColumn("_processed_at", current_timestamp())
      .withColumn("_version", lit(1))

  /** SCD type-2 versioning: given every observed version of a key
    * (one row per (key, change time)), derive the validity intervals —
    * `valid_from` = the version time, `valid_to` = the next version's
    * time (NULL while open), `is_current` on the open row. ONE window
    * shuffle on the key; re-running over history ∪ new versions is the
    * idempotent distributed SCD2 merge (no row-by-row upserts).
    * `ts` must be a total order per key — add a unique low-order
    * component if change times can tie. */
  def scd2(versions: DataFrame, key: Seq[Column], ts: Column): DataFrame = {
    val w = Window.partitionBy(key: _*).orderBy(ts.asc)
    versions
      .withColumn("valid_from", ts)
      .withColumn("valid_to", lead(ts, 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
  }

  /** CDC changelog apply (round-4, §2d): collapse an ordered change
    * stream (op ∈ I/U/D) to the final table snapshot — the read side
    * of a CDC ingest. The LATEST change per key wins; a latest 'D'
    * removes the key entirely. `ordering` must be a strict total order
    * of changes within a key (change time + a unique tie-break) — it is
    * applied DESCENDING to rank newest first. One shuffle on the key;
    * the rank-1 filter gets WindowGroupLimit, so each task retains one
    * row per key — the 100 TB changelog-compaction shape. */
  def cdcApply(changes: DataFrame, key: Seq[Column],
      ordering: Seq[Column], op: Column): DataFrame = {
    val w = Window.partitionBy(key: _*).orderBy(ordering.map(_.desc): _*)
    changes.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
      .filter(op =!= "D")
  }

  /** Time-travel read over a [[scd2]] table (round-4, §2d): the rows
    * valid at instant `asOf` (valid_from ≤ asOf < valid_to, open
    * current interval included). A narrow filter — and the reason to
    * range-partition SCD2 storage by valid_from: the scan prunes to
    * intervals opened before `asOf`. */
  def scd2Snapshot(versions: DataFrame, asOf: Column): DataFrame =
    versions.filter(col("valid_from") <= asOf &&
      (col("valid_to").isNull || col("valid_to") > asOf))

  /** SCD2 merge: fold a batch of new versions into an existing
    * versioned table (both in [[scd2]] output shape minus the derived
    * columns) and re-derive the intervals. Bit-identical redeliveries
    * collapse, making the merge idempotent. A redelivery that reuses a
    * (key, ts) with a DIFFERENT payload violates the [[scd2]] total
    * order contract (two versions at one instant have no defined
    * interval order) — give corrections a fresh change time. */
  def scd2Merge(existing: DataFrame, incoming: DataFrame,
      key: Seq[Column], ts: Column): DataFrame = {
    val cols = existing.columns.filterNot(
      Set("valid_from", "valid_to", "is_current")).toSeq
    val base = existing.select(cols.map(col): _*)
    val merged = base.unionByName(incoming.select(cols.map(col): _*))
      .dropDuplicates(cols)
    scd2(merged, key, ts)
  }
}

/** Job outcome + audit record — the reference `ETLJob.to_dict` carries
  * start/end/duration (etl_manager.py:94-116); `startedAtMs`/
  * `completedAtMs` are epoch millis stamped by [[MedallionPipeline
  * .runJob]], `durationMs` their difference. */
final case class JobResult(
    jobId: String, status: String, recordsRead: Long, recordsWritten: Long,
    recordsQuarantined: Long, qualityReport: Option[Report],
    errorMessage: Option[String] = None,
    startedAtMs: Long = 0L, completedAtMs: Long = 0L, durationMs: Long = 0L)

/** Medallion pipeline with quality-gated promotion. Every zone
  * dataset is a logged table ([[graft.sources.TxLog]]): snapshot-
  * isolated reads, optimistic multi-writer commits, time travel, and
  * exactly-once [[ingestStream]] (each micro-batch commits with a
  * (jobId, batchId) txn marker, so a replayed batch is skipped instead
  * of duplicating bronze rows). A zone directory without a log is
  * outside data: [[read]] reads it as parquet, and the first write
  * registers its files as log version 0 in place.
  *
  * @param root     warehouse directory; each zone is `root/<zone>/<dataset>`
  * @param lineage  when present, every job records a plan-derived
  *                 transformation step into the tracker
  *                 (etl_manager.py:313-320 `_track_lineage`)
  * @param useTxLog must be true (the default): plain-parquet zones
  *                 are gone, and `false` is refused
  * @param txStatsCols columns whose per-file min/max every write
  *                 records in its commit (stats-in-log), powering
  *                 [[readPruned]] file skipping. Columns a given
  *                 dataset lacks are skipped for that write.
  */
class MedallionPipeline(spark: SparkSession, root: String,
    lineage: Option[LineageTracker] = None,
    useTxLog: Boolean = true,
    txStatsCols: Seq[String] = Nil) {

  import graft.sources.TxLog

  require(useTxLog, "MedallionPipeline: plain-parquet zones are gone — " +
    "every zone dataset is a logged table; useTxLog = false is refused")

  private def logged(zone: DataZone.Value, dataset: String): Boolean =
    TxLog.isLogged(spark, path(zone, dataset))

  /** Named transform registry — etl_manager.py:162-205's
    * TransformSpec/register_transform. The six standard transforms come
    * pre-registered; jobs can reference transforms by name
    * (`runJobNamed`) or pass functions directly (`runJob`). */
  private val transformRegistry =
    scala.collection.mutable.LinkedHashMap[String, DataFrame => DataFrame](
      "deduplicate_by_id" -> (df =>
        if (df.columns.contains("id"))
          Transforms.deduplicate(df, Seq(org.apache.spark.sql.functions.col("id")),
            df.columns.sorted.map(org.apache.spark.sql.functions.col).toSeq)
        else df),
      "standardize_dates" -> (df => Transforms.standardizeDates(df,
        Seq("date", "created_at", "updated_at", "birth_date",
          "admission_date", "discharge_date"))),
      "uppercase_codes" -> (df => Transforms.uppercaseCodes(df,
        Seq("diagnosis_code", "procedure_code", "icd10_code", "cpt_code",
          "ndc_code", "loinc_code", "code", "lang"))),
      "trim_strings" -> Transforms.trimStrings,
      "null_handling" -> Transforms.nullHandling,
      "add_metadata" -> Transforms.addMetadata)

  def registerTransform(name: String)(fn: DataFrame => DataFrame): Unit =
    transformRegistry(name) = fn

  def registeredTransforms: Seq[String] = transformRegistry.keys.toSeq

  def transform(name: String): DataFrame => DataFrame =
    transformRegistry.getOrElse(name,
      throw new IllegalArgumentException(s"Unknown transform: $name"))

  /** run_job with reference-style named transforms. */
  def runJobNamed(
      jobId: String, dataset: String,
      sourceZone: DataZone.Value, targetZone: DataZone.Value,
      loadType: LoadType.Value, transformNames: Seq[String],
      rules: Seq[Rule] = Seq.empty,
      key: Seq[String] = Seq("id")): JobResult =
    runJob(jobId, dataset, sourceZone, targetZone, loadType,
      transformNames.map(transform), rules, key)

  def path(zone: DataZone.Value, dataset: String): String =
    s"$root/${zone.toString.toLowerCase}/$dataset"

  def exists(zone: DataZone.Value, dataset: String): Boolean =
    logged(zone, dataset) || Files.exists(Paths.get(path(zone, dataset)))

  def read(zone: DataZone.Value, dataset: String): DataFrame =
    if (logged(zone, dataset)) TxLog.read(spark, path(zone, dataset))
    else spark.read.parquet(path(zone, dataset))

  /** Time travel: the dataset as of log `version`. */
  def readAsOf(zone: DataZone.Value, dataset: String,
      version: Long): DataFrame =
    TxLog.read(spark, requireLogged(zone, dataset, "readAsOf"),
      Some(version))

  /** Time travel by TIMESTAMP: the dataset as it
    * stood at wall-clock `ts` millis — the latest version committed
    * at-or-before that time ([[TxLog.versionAt]]). */
  def readAt(zone: DataZone.Value, dataset: String, ts: Long): DataFrame =
    TxLog.readAt(spark, requireLogged(zone, dataset, "readAt"), ts)

  /** The log version live at wall-clock `ts` — for
    * pinning a version-keyed consumer ([[changesSince]], [[restore]])
    * to a point in time. */
  def versionAt(zone: DataZone.Value, dataset: String, ts: Long): Long =
    TxLog.versionAt(spark, requireLogged(zone, dataset, "versionAt"), ts)

  /** Commit history: one row per version. */
  def history(zone: DataZone.Value, dataset: String): DataFrame =
    TxLog.history(spark, requireLogged(zone, dataset, "history"))

  private def requireLogged(zone: DataZone.Value, dataset: String,
      what: String): String = {
    require(logged(zone, dataset), s"$what needs a TxLog-backed dataset")
    path(zone, dataset)
  }

  /** Undo to a prior version — a NEW commit, no data
    * copy, history preserved; refuses past [[vacuumTable]]'s retention. */
  def restore(zone: DataZone.Value, dataset: String, version: Long): Long =
    TxLog.restore(spark, requireLogged(zone, dataset, "restore"), version)

  /** [[restore]] by wall-clock time ([[TxLog.restoreAt]]) — undo to
    * the version live at `ts`. */
  def restoreAt(zone: DataZone.Value, dataset: String, ts: Long): Long =
    TxLog.restoreAt(spark, requireLogged(zone, dataset, "restoreAt"), ts)

  /** Rows appended after `sinceVersion` — the
    * delta-sized incremental read for downstream re-processing. */
  def changesSince(zone: DataZone.Value, dataset: String,
      sinceVersion: Long): DataFrame =
    TxLog.changesSince(spark,
      requireLogged(zone, dataset, "changesSince"), sinceVersion)

  /** Add a CHECK constraint to a logged dataset
    * ([[TxLog.addCheckConstraint]]): existing rows validate first,
    * then every later write through any path refuses batches that
    * violate it, naming the constraint. */
  def addConstraint(zone: DataZone.Value, dataset: String,
      name: String, exprStr: String): Long =
    TxLog.addCheckConstraint(spark,
      requireLogged(zone, dataset, "addConstraint"), name, exprStr)

  /** Drop a CHECK constraint by name ([[TxLog.dropCheckConstraint]]). */
  def dropConstraint(zone: DataZone.Value, dataset: String,
      name: String): Long =
    TxLog.dropCheckConstraint(spark,
      requireLogged(zone, dataset, "dropConstraint"), name)

  /** Metadata-first COUNT of a logged dataset ([[TxLog.countWhere]]):
    * excluded files contribute zero, fully-contained null-free files
    * count from the log, only the boundary sliver scans. Empty
    * `preds` = the table's row count with no scan at all. */
  def countRows(zone: DataZone.Value, dataset: String,
      preds: Seq[(String, Any, Any)] = Nil): Long =
    TxLog.countWhere(spark,
      requireLogged(zone, dataset, "countRows"), preds)

  /** Row-level change feed after `sinceVersion` —
    * [[TxLog.changeFeed]]: the insert/delete row diff that lets a
    * downstream copy follow this dataset THROUGH deletes, updates
    * and merges, where [[changesSince]] refuses. */
  def changeFeed(zone: DataZone.Value, dataset: String,
      sinceVersion: Long): DataFrame =
    TxLog.changeFeed(spark,
      requireLogged(zone, dataset, "changeFeed"), sinceVersion)

  /** The [[txStatsCols]] a write of `df` records. */
  private def statsOf(df: DataFrame): Seq[String] =
    txStatsCols.filter(df.columns.contains)

  private def statsColsOf(zone: DataZone.Value, dataset: String)
      : Seq[String] =
    statsOf(read(zone, dataset))

  /** Row-level DELETE on a logged dataset: rows
    * where `pred` is TRUE are removed by rewriting only the files
    * that hold them ([[TxLog.delete]] — copy-on-write, stats-pruned).
    * Returns the committed version (unchanged if nothing matched).
    * `mor = true` switches to merge-on-read ([[TxLog.deleteMor]] —
    * deletion vectors): no file is rewritten, cost scales with the
    * matched rows; schedule [[compactTable]] to materialize. */
  def deleteWhere(zone: DataZone.Value, dataset: String,
      pred: Column, mor: Boolean = false): Long =
    if (mor)
      TxLog.deleteMor(spark, requireLogged(zone, dataset, "deleteWhere"),
        pred)
    else
      TxLog.delete(spark, requireLogged(zone, dataset, "deleteWhere"),
        pred, statsColsOf(zone, dataset))

  /** Row-level UPDATE on a logged dataset: rows
    * where `pred` is TRUE get each `set` expression; only the files
    * holding matched rows are rewritten ([[TxLog.update]]). With
    * `mor = true`, nothing is rewritten: old positions join the
    * deletion vector and updated images append
    * ([[TxLog.updateMor]]). */
  def updateWhere(zone: DataZone.Value, dataset: String, pred: Column,
      set: Map[String, Column], mor: Boolean = false): Long =
    if (mor)
      TxLog.updateMor(spark, requireLogged(zone, dataset, "updateWhere"),
        pred, set, statsColsOf(zone, dataset))
    else
      TxLog.update(spark, requireLogged(zone, dataset, "updateWhere"),
        pred, set, statsColsOf(zone, dataset))

  /** MERGE INTO a logged dataset: source rows
    * replace target rows sharing `keyCols`, unmatched source rows
    * insert — one commit, only key-matching files rewritten
    * ([[TxLog.merge]]: `applyChanges` with no deletes; a source with
    * duplicate keys is refused, an empty one commits nothing). What a
    * logged [[LoadType.Merge]] write does, with the dataset's stats
    * columns. */
  def mergeInto(zone: DataZone.Value, dataset: String,
      source: DataFrame, keyCols: Seq[String]): Long =
    TxLog.merge(spark, requireLogged(zone, dataset, "mergeInto"),
      source, keyCols, statsColsOf(zone, dataset))

  /** RENAME COLUMN on a logged dataset — one
    * KB-sized metadata commit, no data file touched
    * ([[TxLog.renameColumn]]). */
  def renameColumn(zone: DataZone.Value, dataset: String,
      oldName: String, newName: String): Long =
    TxLog.renameColumn(spark,
      requireLogged(zone, dataset, "renameColumn"), oldName, newName)

  /** DROP COLUMN on a logged dataset — metadata
    * commit; old files keep the bytes, reads never see them, and the
    * name's physical column is retired against resurrection
    * ([[TxLog.dropColumn]]). */
  def dropColumn(zone: DataZone.Value, dataset: String,
      name: String): Long =
    TxLog.dropColumn(spark,
      requireLogged(zone, dataset, "dropColumn"), name)

  /** Zero-copy SHALLOW CLONE of a logged dataset into another dataset
    * of the same zone ([[TxLog.clone]]) — the instant experiment copy;
    * evolve it independently, [[compactTable]] it to self-contain. */
  def cloneTable(zone: DataZone.Value, dataset: String,
      toDataset: String, asOf: Option[Long] = None): Long =
    TxLog.clone(spark, requireLogged(zone, dataset, "cloneTable"),
      path(zone, toDataset), asOf)

  /** Run the compact-when-needed maintenance policy on a logged
    * dataset ([[TxLog.maintain]]): compacts only under small-file or
    * deletion-vector pressure, no-ops (from metadata alone) on a
    * healthy table. */
  def maintainTable(zone: DataZone.Value, dataset: String,
      maxFiles: Int = 64, maxDvFraction: Double = 0.10,
      targetFiles: Int = 16): TxLog.Maintenance =
    TxLog.maintain(spark, requireLogged(zone, dataset, "maintainTable"),
      maxFiles, maxDvFraction, targetFiles,
      statsColsOf(zone, dataset))

  /** One-row operational detail of a logged dataset
    * ([[TxLog.describeDetail]]): live/deleted rows, vacuum debt,
    * feature state, required reader generation. */
  def describeTable(zone: DataZone.Value, dataset: String): DataFrame =
    TxLog.describeDetail(spark,
      requireLogged(zone, dataset, "describeTable"))

  /** The files [[vacuumTable]] WOULD reap, touching nothing
    * ([[TxLog.vacuumDryRun]]) — audit before deleting history. */
  def vacuumDryRunTable(zone: DataZone.Value, dataset: String,
      retainVersions: Int = 0, minAgeMs: Long = 0L): Seq[String] =
    TxLog.vacuumDryRun(spark,
      requireLogged(zone, dataset, "vacuumDryRunTable"),
      retainVersions, minAgeMs)

  /** Reap data files no retained version references.
    * Returns files deleted. Time travel / restore older than the
    * retained span dies with the files. */
  def vacuumTable(zone: DataZone.Value, dataset: String,
      retainVersions: Int = 0, minAgeMs: Long = 0L): Int =
    TxLog.vacuum(spark, requireLogged(zone, dataset, "vacuumTable"),
      retainVersions, minAgeMs)

  /** Drop commit files below the latest eligible checkpoint. Returns
    * log files removed. */
  def truncateHistory(zone: DataZone.Value, dataset: String,
      retainVersions: Int = 0): Int =
    TxLog.truncateLog(spark,
      requireLogged(zone, dataset, "truncateHistory"), retainVersions)

  /** EXACTLY-ONCE incremental zone promotion — the
    * bronze→silver micro-batch pattern without a streaming runtime:
    * transform ONLY the rows the source zone gained since this job's
    * last run ([[TxLog.changesSince]]), then gate + append them to the
    * target zone with txn marker `(jobId, sourceHeadVersion)`.
    *
    * The watermark IS that txn marker: the last-applied source version
    * is recovered from the TARGET zone's own log
    * (`TxLog.snapshot(target).txns(jobId)`), the durable fact the
    * append commit already records — there is no driver-local side
    * state to lose. A crash anywhere leaves the log either without the
    * commit (rerun replays the same span) or with it (rerun sees the
    * marker and promotes nothing), even when the SOURCE gains new
    * commits between the crash and the rerun — the rerun's delta then
    * starts at the marker's version, never before it. Per-run
    * quarantine is keyed `<jobId>_v<head>` (the [[ingestStream]]
    * per-batch convention), so a later run never overwrites an earlier
    * run's quarantined rows. A source overwrite inside the span
    * surfaces as the changesSince refusal — re-seed with a full
    * [[runJob]]. Returns a no-op completed JobResult when the source
    * has no new commits. */
  def runIncrementalJob(
      jobId: String, dataset: String,
      sourceZone: DataZone.Value, targetZone: DataZone.Value,
      transforms: Seq[DataFrame => DataFrame] = Seq.empty,
      rules: Seq[Rule] = Seq.empty,
      key: Seq[String] = Seq("id")): JobResult = {
    val srcDir = requireLogged(sourceZone, dataset, "runIncrementalJob")
    val head = TxLog.snapshot(spark, srcDir).version
    val tgtDir = path(targetZone, dataset)
    val last =
      if (TxLog.isLogged(spark, tgtDir))
        TxLog.snapshot(spark, tgtDir).txns.getOrElse(jobId, -1L)
      else -1L
    if (head <= last)
      return JobResult(jobId, "completed", 0L, 0L, 0L, None)
    val delta = TxLog.changesSince(spark, srcDir, last, Some(head))
    gateAndWrite(s"${jobId}_v$head", dataset, delta, targetZone,
      LoadType.Append, transforms, rules, key,
      enableQuarantine = true, txn = Some((jobId, head)))
  }

  /** Stats-pruned read: only files whose logged [min, max] range
    * (recorded when [[txStatsCols]] covers the column) can satisfy
    * `colName BETWEEN lo AND hi` reach the scan planner — Delta's data
    * skipping. Conservative: files without stats are kept, and a
    * directory without a log reads whole. Callers still apply the
    * predicate. */
  def readPruned(zone: DataZone.Value, dataset: String, colName: String,
      lo: Any, hi: Any): DataFrame =
    readPrunedAll(zone, dataset, Seq((colName, lo, hi)))

  /** [[readPruned]] for a CONJUNCTION of intervals — `date BETWEEN …
    * AND region = …` prunes on both columns (an equality is the
    * degenerate interval `(col, v, v)`). */
  def readPrunedAll(zone: DataZone.Value, dataset: String,
      preds: Seq[(String, Any, Any)]): DataFrame =
    if (logged(zone, dataset))
      TxLog.readPrunedAll(spark, path(zone, dataset), preds)
    else read(zone, dataset)

  /** MIGRATION: a directory without a log (outside data, or written
    * before zones were logged) is registered as log version 0 IN
    * PLACE before the first write commits. Without this, an Append/
    * Incremental would claim v0 with only the batch's files: reads
    * would drop every pre-existing row and vacuum would delete the
    * historical files as non-live. Returns whether the dataset is
    * logged now. */
  private def adopt(target: String): Boolean = {
    if (!TxLog.isLogged(spark, target) && Files.exists(Paths.get(target)))
      TxLog.convertInPlace(spark, target,
        statsOf(spark.read.parquet(target)))
    TxLog.isLogged(spark, target)
  }

  /** Distributed _write_to_zone (etl_manager.py:441-475). `key` is the
    * upsert identity for MERGE/INCREMENTAL (reference: the `id` field).
    *
    * Every branch lands as one log commit; `txn` carries an
    * idempotence marker through to the commit, making a replayed
    * streaming batch a no-op ([[ingestStream]]). MERGE into an
    * existing dataset is [[TxLog.merge]]: only files holding an
    * incoming key are rewritten, untouched files survive by path, and
    * the commit is a `merge` the change feed (and so Scd2 /
    * MaterializedAgg followers) can read. `df` must then carry the
    * dataset's schema and be unique on `key` — duplicate incoming keys
    * are refused (Delta's multiple-matches contract).
    */
  def write(zone: DataZone.Value, dataset: String, df: DataFrame,
      loadType: LoadType.Value, key: Seq[String] = Seq("id"),
      txn: Option[(String, Long)] = None): Unit = {
    val target = path(zone, dataset)
    val existed = adopt(target)
    loadType match {
      case LoadType.Full =>
        TxLog.commitOverwrite(spark, target, df, statsOf(df))
      case LoadType.Append =>
        TxLog.commitAppend(spark, target, df, txn, statsOf(df))
      case _ if !existed =>
        TxLog.commitOverwrite(spark, target, df, statsOf(df))
      case LoadType.Merge =>
        TxLog.merge(spark, target, df, key, statsOf(df), txn)
      case LoadType.Incremental =>
        val existingKeys = read(zone, dataset).select(key.map(col): _*)
        val newRows = df.join(existingKeys, key, "left_anti")
        TxLog.commitAppend(spark, target, newRows, txn, statsOf(newRows))
    }
  }

  /** Bucketed zone write: pre-shuffles once on the bucket key so every
    * later equi-join/aggregation on that key is shuffle-free (Spark
    * reads the bucket layout from the catalog). The 100 TB pattern for
    * fact tables joined repeatedly on the same key. Registered as
    * `<zone>_<dataset>` in the session catalog (parquet under the
    * warehouse dir). */
  def writeBucketed(zone: DataZone.Value, dataset: String, df: DataFrame,
      bucketCols: Seq[String], numBuckets: Int): String = {
    val tableName = s"${zone.toString.toLowerCase}_$dataset"
    spark.sql(s"DROP TABLE IF EXISTS $tableName")
    // an orphaned location (table dir left by a previous session whose
    // in-memory catalog is gone) blocks CREATE TABLE — clear it
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    val loc = new org.apache.hadoop.fs.Path(s"$warehouse/$tableName")
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    df.write.mode(SaveMode.Overwrite)
      .format("parquet")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .saveAsTable(tableName)
    tableName
  }

  def readTable(tableName: String): DataFrame = spark.table(tableName)

  /** Small-file compaction: rewrite a zone dataset into
    * `ceil(rows / rowsPerFile)` files. Streaming appends and
    * incremental loads accrete small files that tax the scan planner
    * (one task per file, footer reads dominate); periodic compaction is
    * the standard lakehouse maintenance job. One remove+add commit:
    * concurrent appends commute (rebase), and readers mid-scan keep
    * their snapshot's files. Returns the file count after
    * compaction. */
  def compact(zone: DataZone.Value, dataset: String,
      rowsPerFile: Long): Int = {
    val dir = requireLogged(zone, dataset, "compact")
    val df = read(zone, dataset)
    val nFiles = math.max(1, math.ceil(
      df.count().toDouble / rowsPerFile).toInt)
    TxLog.compact(spark, dir, nFiles, statsOf(df))
    nFiles
  }

  /** Key-partitioned zone write: one directory per partition value, so
    * any filter on the partition column prunes whole directories at
    * planning time — the 100 TB layout for time-partitioned facts
    * (a day's query reads a day's files, not the table). Combine with
    * [[writeBucketed]] semantics by partitioning on the coarse
    * time/tenant key and joining on the fine key. A new dataset is
    * created partitioned through the txlog writer; an existing one
    * with the same partition columns is overwritten as a new version
    * (history kept). Any other layout is refused: the log fixes a
    * table's layout at registration. */
  def writePartitioned(zone: DataZone.Value, dataset: String, df: DataFrame,
      partitionCols: Seq[String]): Unit = {
    val target = path(zone, dataset)
    if (!adopt(target))
      df.write.format("txlog").partitionBy(partitionCols: _*)
        .option("statsCols", statsOf(df).mkString(",")).save(target)
    else {
      val layout = TxLog.snapshot(spark, target).partitionCols
      require(layout == partitionCols,
        s"writePartitioned: $target is a logged table partitioned by " +
          s"[${layout.mkString(", ")}]; refusing to re-lay it out by " +
          s"[${partitionCols.mkString(", ")}]")
      TxLog.commitOverwrite(spark, target, df, statsOf(df))
    }
  }

  /** Record the job's plan-derived lineage (etl_manager.py:313-320):
    * the target asset plus a transformation step whose inputs come from
    * the DataFrame's own Catalyst plan. Returns the step id so the
    * enclosing pipeline run can reference it. */
  private def trackLineage(jobId: String, dataset: String, df: DataFrame,
      targetZone: DataZone.Value): Option[String] =
    lineage.map { lt =>
      val out = lt.registerAsset(dataset, targetZone.toString.toLowerCase,
        location = path(targetZone, dataset))
      // bronze-bound jobs are cleansing, later zones transform —
      // etl_manager.py:427-430
      val kind =
        if (targetZone == DataZone.Bronze) "cleanse" else "transform"
      lt.recordDataFrame(jobId, kind, df, out.assetId).stepId
    }

  /** run_job (etl_manager.py:206-356): read source zone → transforms →
    * quality gate vs target zone → quarantine failed rows (or hard-fail
    * the job when quarantine is disabled) → write with the requested
    * load type.
    *
    * Gate semantics follow the reference (etl_manager.py:278-306): the
    * split/fail branch triggers only when the report is NOT promotion
    * eligible; an eligible report writes every transformed row. With
    * `enableQuarantine = false` an ineligible report aborts the job —
    * `status = "failed"`, nothing written, target zone untouched.
    * Reference-parity corner: an ineligible report whose rules all
    * individually passed (gate failed on a dimension mean / overall
    * score) has an EMPTY quarantine set, so with quarantine enabled
    * every row still writes and status stays "completed" — exactly the
    * reference's behavior; callers enforcing the gate outcome should
    * check `qualityReport.promotionEligible` (or disable quarantine to
    * make the gate hard). */
  def runJob(
      jobId: String,
      dataset: String,
      sourceZone: DataZone.Value,
      targetZone: DataZone.Value,
      loadType: LoadType.Value,
      transforms: Seq[DataFrame => DataFrame] = Seq.empty,
      rules: Seq[Rule] = Seq.empty,
      key: Seq[String] = Seq("id"),
      enableQuarantine: Boolean = true): JobResult =
    gateAndWrite(jobId, dataset, read(sourceZone, dataset), targetZone,
      loadType, transforms, rules, key, enableQuarantine)

  /** The gate-and-write core shared by [[runJob]] (zone source) and
    * [[ingestStream]] (micro-batch source): transforms → quality gate
    * vs target zone → quarantine or hard-fail → write. Brackets the
    * work in a lineage pipeline run (lineage_tracker.py pipeline runs;
    * the reference's jobs feed runs the same way) and stamps
    * start/end/duration on the result. */
  private def gateAndWrite(
      jobId: String,
      dataset: String,
      source: DataFrame,
      targetZone: DataZone.Value,
      loadType: LoadType.Value,
      transforms: Seq[DataFrame => DataFrame],
      rules: Seq[Rule],
      key: Seq[String],
      enableQuarantine: Boolean,
      txn: Option[(String, Long)] = None): JobResult = {
    val startedAt = System.currentTimeMillis()
    val runId = lineage.map(_.startPipelineRun(jobId))
    var stepIds = Seq.empty[String]
    def finish(r: JobResult): JobResult = {
      val completedAt = System.currentTimeMillis()
      for (lt <- lineage; id <- runId)
        lt.completePipelineRun(id, stepIds,
          if (r.status == "completed") "completed" else "failed")
      r.copy(startedAtMs = startedAt, completedAtMs = completedAt,
        durationMs = completedAt - startedAt)
    }

    val recordsRead = source.count()
    val transformed = transforms.foldLeft(source)((d, t) => t(d))

    if (rules.isEmpty) {
      // count BEFORE writing: with source zone == target zone the write
      // replaces the very files this plan reads
      val nOut = transformed.count()
      stepIds ++= trackLineage(jobId, dataset, transformed, targetZone)
      write(targetZone, dataset, transformed, loadType, key, txn)
      return finish(JobResult(jobId, "completed", recordsRead, nOut, 0L, None))
    }

    val validator = new QualityValidator(dataset, rules)
    val report = validator.validate(transformed, targetZone)
    if (!report.promotionEligible && !enableQuarantine) {
      // reference hard-fail path (etl_manager.py:298-306): gate failed
      // and quarantine disabled → FAILED, no write at all
      return finish(JobResult(jobId, "failed", recordsRead, 0L, 0L,
        Some(report),
        Some(f"Quality gate failed: score=${report.overallScore}%.2f")))
    }
    val (clean, quarantined) =
      if (report.promotionEligible) (transformed, transformed.limit(0))
      else validator.split(transformed, targetZone, report)
    val nQuarantined = quarantined.count()
    if (nQuarantined > 0) {
      // quarantine audit stamp — etl_manager.py:371-392
      quarantined
        .withColumn("_quarantine_time", current_timestamp())
        .withColumn("_quarantine_reason",
          lit(report.overallStatus.toString.toLowerCase))
        .withColumn("_quality_score", lit(report.overallScore))
        .write.mode(SaveMode.Overwrite)
        .parquet(s"$root/quarantine/$jobId/$dataset")
    }
    val nClean = clean.count() // before the write replaces source files
    stepIds ++= trackLineage(jobId, dataset, clean, targetZone)
    write(targetZone, dataset, clean, loadType, key, txn)
    finish(JobResult(jobId, "completed", recordsRead, nClean,
      nQuarantined, Some(report)))
  }

  def quarantined(jobId: String, dataset: String): DataFrame =
    spark.read.parquet(s"$root/quarantine/$jobId/$dataset")

  /** Streaming ingestion into the Bronze zone — the reference's
    * ingestion story (etl_manager.py:206-356) in streaming form: every
    * micro-batch runs the SAME gate-and-write core as a batch job
    * (transforms → quality gate vs Bronze → quarantine split → APPEND),
    * so batch and streaming ingest of the same rows land identically.
    * Per-batch artifacts (quarantine dirs, lineage runs) are keyed
    * `<jobId>_b<batchId>`.
    *
    * Delivery is EXACTLY-ONCE: foreachBatch + the stream checkpoint
    * replay a failed batch, and each batch's bronze append commits
    * with txn marker `(jobId, batchId)`, so a replayed batch is
    * recognized by the log and skipped before any work (and even a
    * race between two replays of the same batch collapses inside
    * [[graft.sources.TxLog.commitAppend]]'s commit loop). Quarantine
    * dirs are keyed `<jobId>_b<batchId>` + overwrite-mode, hence
    * replay-idempotent. Small files accrete per batch; schedule
    * [[compact]] as maintenance. */
  def ingestStream(stream: DataFrame, jobId: String, dataset: String,
      transforms: Seq[DataFrame => DataFrame] = Seq.empty,
      rules: Seq[Rule] = Seq.empty,
      key: Seq[String] = Seq("id"),
      checkpointDir: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    gatedAppendStream(stream, jobId, dataset, DataZone.Bronze, transforms,
      rules, key, checkpointDir)

  /** The exactly-once gate-and-append sink of [[ingestStream]] and
    * [[promoteStream]]: each micro-batch runs [[gateAndWrite]] into
    * `targetZone` under txn marker `(jobId, batchId)`, and a batch the
    * target's log already records is skipped before any work. */
  private def gatedAppendStream(stream: DataFrame, jobId: String,
      dataset: String, targetZone: DataZone.Value,
      transforms: Seq[DataFrame => DataFrame], rules: Seq[Rule],
      key: Seq[String], checkpointDir: Option[String])
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val writer = stream.writeStream.outputMode("append")
    val withCp =
      checkpointDir.fold(writer)(d => writer.option("checkpointLocation", d))
    withCp.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val tgtDir = path(targetZone, dataset)
      val replayed = TxLog.isLogged(spark, tgtDir) &&
        TxLog.snapshot(spark, tgtDir).txns.get(jobId).exists(_ >= batchId)
      if (!replayed)
        gateAndWrite(s"${jobId}_b$batchId", dataset, batch, targetZone,
          LoadType.Append, transforms, rules, key, enableQuarantine = true,
          txn = Some((jobId, batchId)))
      ()
    }.start()
  }

  /** A txlog stream over the logged dataset `srcDir`, read by every
    * stream method below: the admission caps bound catch-up batches
    * (a catch-up after downtime, or the initial load of a large
    * source, drains in budget-bounded micro-batches instead of one
    * giant batch), and `opts` are the method's own source options. */
  private def txlogStream(srcDir: String, maxFilesPerTrigger: Option[Long],
      maxRowsPerTrigger: Option[Long], maxBytesPerTrigger: Option[Long],
      opts: (String, String)*): DataFrame = {
    val caps = Seq("maxFilesPerTrigger" -> maxFilesPerTrigger,
      "maxRowsPerTrigger" -> maxRowsPerTrigger,
      "maxBytesPerTrigger" -> maxBytesPerTrigger)
      .collect { case (k, Some(n)) => k -> n.toString }
    spark.readStream.format("txlog").options((caps ++ opts).toMap)
      .load(srcDir)
  }

  /** CONTINUOUS zone promotion — the streaming form
    * of [[runIncrementalJob]]: the source zone's logged table becomes a
    * Structured Streaming source ([[graft.sources.TxLogStreamProvider]]
    * — offsets ARE log versions), and every micro-batch runs the same
    * gate-and-write core into the target zone. Where runIncrementalJob
    * must be SCHEDULED, this runs until stopped and picks up each
    * source commit as it lands.
    *
    * Delivery is exactly-once end to end: the stream checkpoint replays
    * an uncommitted span after restart, and the target append's txn
    * marker `(jobId, batchId)` makes the replayed batch a recognized
    * no-op before any work — the [[ingestStream]] contract, pointed at
    * an arbitrary zone pair; the admission caps slice a catch-up
    * without affecting it (the marker recognizes each replayed slice
    * independently). Quarantine/lineage are keyed
    * `<jobId>_b<batchId>` per batch. A source OVERWRITE fails the
    * stream (its retractions are not expressible as additions);
    * re-seed with a full [[runJob]] and a fresh checkpoint.
    * `skipChangeCommits` / `ignoreDeletes` opt an appends-only
    * promotion into surviving upstream DML (corrections are NOT
    * promoted — pair with followStream when the target must mirror
    * them). */
  def promoteStream(jobId: String, dataset: String,
      sourceZone: DataZone.Value, targetZone: DataZone.Value,
      transforms: Seq[DataFrame => DataFrame] = Seq.empty,
      rules: Seq[Rule] = Seq.empty,
      key: Seq[String] = Seq("id"),
      checkpointDir: Option[String] = None,
      maxFilesPerTrigger: Option[Long] = None,
      maxRowsPerTrigger: Option[Long] = None,
      maxBytesPerTrigger: Option[Long] = None,
      skipChangeCommits: Boolean = false,
      ignoreDeletes: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val srcDir = requireLogged(sourceZone, dataset, "promoteStream")
    val flags = Seq("skipChangeCommits" -> skipChangeCommits,
      "ignoreDeletes" -> ignoreDeletes).collect { case (k, true) => k -> "true" }
    gatedAppendStream(txlogStream(srcDir, maxFilesPerTrigger,
        maxRowsPerTrigger, maxBytesPerTrigger, flags: _*),
      jobId, dataset, targetZone, transforms, rules, key, checkpointDir)
  }

  /** CONTINUOUS follower (the CDC mirror `promoteStream` cannot be):
    * where promoteStream consumes APPENDS and fails on upstream DML,
    * this follows the source THROUGH deletes, updates and merges —
    * the target zone's copy tracks the source's row-level state via
    * the change-feed stream + [[TxLog.changeFeedApplySink]]
    * (exactly-once, keyed, first batch creates the follower). The
    * derived-corpus maintenance pattern (re-embed/re-score mirrors)
    * as one call. Admission caps bound catch-up batches like
    * promoteStream's. */
  def followStream(jobId: String, dataset: String,
      sourceZone: DataZone.Value, targetZone: DataZone.Value,
      key: Seq[String] = Seq("id"),
      checkpointDir: Option[String] = None,
      maxFilesPerTrigger: Option[Long] = None,
      maxRowsPerTrigger: Option[Long] = None,
      maxBytesPerTrigger: Option[Long] = None,
      mor: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val srcDir = requireLogged(sourceZone, dataset, "followStream")
    TxLog.changeFeedApplySink(txlogStream(srcDir, maxFilesPerTrigger,
        maxRowsPerTrigger, maxBytesPerTrigger, "readChangeFeed" -> "true"),
      path(targetZone, dataset), key, jobId,
      checkpointDir.getOrElse(
        s"${path(targetZone, dataset)}/_graft_ckpt_$jobId"),
      // the follower may not exist yet (first batch creates it) —
      // derive the stats columns from the source's identical schema
      statsColsOf(sourceZone, dataset), mor = mor)
  }

  /** A DERIVED follower: maintain `transform(source row)` per key as
    * its own logged dataset, fed by the source's live change feed —
    * the continuous form of "re-embed / re-score / re-chunk only the
    * delta". `transform` runs on each micro-batch's net upserts
    * (delete directives propagate by key), must preserve the key
    * columns, and may fan one source row out to SEVERAL derived rows
    * when `group = true` (chunking — an upsert then replaces the
    * key's whole derived group, so stale chunks vanish with their
    * source row). A key whose transform output is empty is treated
    * as deleted downstream. Restart-safe under the checkpoint +
    * (appId, batchId) markers like [[followStream]]. */
  def followDerived(jobId: String, dataset: String,
      sourceZone: DataZone.Value, targetZone: DataZone.Value,
      derivedDataset: String,
      transform: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame,
      key: Seq[String] = Seq("id"),
      group: Boolean = false,
      statsCols: Seq[String] = Nil,
      checkpointDir: Option[String] = None,
      maxFilesPerTrigger: Option[Long] = None,
      maxRowsPerTrigger: Option[Long] = None,
      maxBytesPerTrigger: Option[Long] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val srcDir = requireLogged(sourceZone, dataset, "followDerived")
    val tgtDir = path(targetZone, derivedDataset)
    TxLog.changeFeedApplySink(txlogStream(srcDir, maxFilesPerTrigger,
        maxRowsPerTrigger, maxBytesPerTrigger, "readChangeFeed" -> "true"),
      tgtDir, key, jobId,
      checkpointDir.getOrElse(s"$tgtDir/_graft_ckpt_$jobId"),
      statsCols, transform = Some(transform), group = group)
  }

  /** Attach an incrementally maintained AGGREGATE view of a logged
    * dataset to its live change feed
    * ([[graft.sources.MaterializedAgg]]): the view materializes into
    * `targetZone/mvDataset` on first call (one full aggregate at the
    * current source version), then every micro-batch folds the CDC
    * slice as per-key deltas — the continuous, restart-safe form of
    * "keep the summary current" that [[followStream]] provides for
    * row-level copies. Admission caps bound each slice like any txlog
    * stream. On restart the engine's checkpoint resumes the feed and
    * the view's watermark marker skips replayed slices. */
  def followAggregate(jobId: String, dataset: String,
      sourceZone: DataZone.Value, targetZone: DataZone.Value,
      mvDataset: String, keys: Seq[String],
      sums: Seq[String] = Nil, mins: Seq[String] = Nil,
      maxs: Seq[String] = Nil,
      avgs: Seq[String] = Nil,
      others: Map[String, String] = Map.empty,
      checkpointDir: Option[String] = None,
      maxFilesPerTrigger: Option[Long] = None,
      maxRowsPerTrigger: Option[Long] = None,
      maxBytesPerTrigger: Option[Long] = None,
      mor: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val srcDir = requireLogged(sourceZone, dataset, "followAggregate")
    val mvDir = path(targetZone, mvDataset)
    val w =
      if (!TxLog.isLogged(spark, mvDir))
        graft.sources.MaterializedAgg.create(spark, srcDir, mvDir,
          keys, sums, mins, maxs, avgs, others)
      else graft.sources.MaterializedAgg.watermark(spark, mvDir)
    // the view already aggregated everything up to its watermark —
    // start the feed just above it (ignored by an established
    // checkpoint, which resumes from its own offsets)
    graft.sources.MaterializedAgg.mvApplySink(txlogStream(srcDir,
        maxFilesPerTrigger, maxRowsPerTrigger, maxBytesPerTrigger,
        "readChangeFeed" -> "true", "startingVersion" -> (w + 1).toString),
      mvDir, checkpointDir.getOrElse(s"$mvDir/_graft_ckpt_$jobId"), mor = mor)
  }

  /** Attach an SCD TYPE 2 history ([[graft.sources.Scd2]]) of a
    * logged dataset to its live change feed — the `APPLY CHANGES …
    * STORED AS SCD TYPE 2` form of [[followStream]]: where the plain
    * follower keeps the source's CURRENT rows (type 1), this keeps
    * every version a key ever held as a `[valid_from, valid_to)`
    * segment in source-commit versions, maintained incrementally
    * from the CDC slices. First call materializes the history at the
    * source's current version; each micro-batch folds its slice's
    * netted per-(key, version) directives; a restart resumes from
    * the checkpoint with the history's own watermark marker skipping
    * replayed slices. */
  def followScd2(jobId: String, dataset: String,
      sourceZone: DataZone.Value, targetZone: DataZone.Value,
      scdDataset: String, keys: Seq[String],
      checkpointDir: Option[String] = None,
      maxFilesPerTrigger: Option[Long] = None,
      maxRowsPerTrigger: Option[Long] = None,
      maxBytesPerTrigger: Option[Long] = None,
      mor: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val srcDir = requireLogged(sourceZone, dataset, "followScd2")
    val scdDir = path(targetZone, scdDataset)
    val w =
      if (!TxLog.isLogged(spark, scdDir))
        graft.sources.Scd2.create(spark, srcDir, scdDir, keys)
      else graft.sources.Scd2.watermark(spark, scdDir)
    graft.sources.Scd2.scd2ApplySink(txlogStream(srcDir,
        maxFilesPerTrigger, maxRowsPerTrigger, maxBytesPerTrigger,
        "readChangeFeed" -> "true", "startingVersion" -> (w + 1).toString),
      scdDir, checkpointDir.getOrElse(s"$scdDir/_graft_ckpt_$jobId"),
      mor = mor)
  }

  /** promote_zone (etl_manager.py:597-629) — FULL load to the next zone
    * with the target zone's quality gate. */
  def promoteZone(dataset: String, from: DataZone.Value, to: DataZone.Value,
      rules: Seq[Rule] = Seq.empty, key: Seq[String] = Seq("id")): JobResult =
    runJob(s"promote_${dataset}_${from}_$to", dataset, from, to,
      LoadType.Full, Seq.empty, rules, key)
}
