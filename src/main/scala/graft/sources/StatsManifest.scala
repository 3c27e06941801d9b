package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-file min/max data skipping over plain-parquet zones (round-9) —
  * the one slice of the Delta/Iceberg gap (SURVEY §6) buildable in
  * this container: at write time a manifest records (file, rows,
  * per-column min/max); at read time the file LIST is pruned against a
  * predicate interval before the scan is planned, so a selective query
  * opens the few files whose range intersects instead of every footer
  * in the dataset — Delta's `stats`/Iceberg's manifest-entry skipping,
  * emulated at the directory layer. Partition-directory pruning
  * (writePartitioned) handles the coarse key; this handles the SORTED
  * or range-written fine column inside each directory.
  *
  * Layout: the manifest is a tiny parquet relation written INSIDE the
  * dataset directory under `_graft_manifest` — Spark's file index
  * ignores `_`-prefixed paths, so plain `spark.read.parquet(dataset)`
  * is untouched, and the manifest travels with the directory through
  * [[graft.etl.MedallionPipeline]]'s atomic-rename `replace` swap (the
  * third swap seam: a real table format replaces write+prune with its
  * transaction log).
  *
  * Stats collection is one distributed scan of the freshly written
  * files (`input_file_name` groupBy — map-side combined, one row per
  * file out), the same cost class as Delta's write-time stats. Min/max
  * are stored as canonical strings + the column's dtype; pruning
  * parses them back with the dtype's own ordering (numerics as
  * BigDecimal, date/timestamp/string by UTF-8 bytes — Spark's
  * cast-to-string forms are order-preserving for these types, except
  * timestamps, rendered in the session zone: probe bounds on them
  * widen by the full zone-offset span first, see [[canonicalBound]]).
  *
  * Safety: pruning is CONSERVATIVE — a data file missing from the
  * manifest (e.g. appended after the last [[write]]) is always kept, a
  * file with null stats (all-null column) is always kept, and a
  * missing/unreadable manifest degrades to the full unpruned read. So
  * a stale manifest can only cost performance, never rows. */
object StatsManifest {

  val ManifestDir = "_graft_manifest"

  private def fs(spark: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Compute and write the manifest for `dataPath` over `statsCols`.
    * One row per (file, column): rows, min/max as canonical strings,
    * dtype tag. Overwrites any previous manifest. */
  /** Long-form stats relation for one scan: (file, n_rows, col_name,
    * dtype, min_s, max_s) — one distributed input_file_name groupBy. */
  private def statsLong(df: DataFrame, statsCols: Seq[String],
      where: String): DataFrame = {
    val dtypes = df.schema.fields.map(f => f.name -> f.dataType).toMap
    statsCols.foreach(c => require(dtypes.contains(c),
      s"StatsManifest: no column '$c' in $where"))
    df.select(input_file_name().as("_file") +: statsCols.map(col): _*)
      .groupBy(col("_file"))
      .agg(count(lit(1)).as("_rows"),
        statsCols.flatMap(c => Seq(
          min(col(c)).cast("string").as(s"_min_$c"),
          max(col(c)).cast("string").as(s"_max_$c"))): _*)
      .select(col("_file").as("file"),
        col("_rows").as("n_rows"),
        explode(array(statsCols.map(c => struct(
          lit(c).as("col_name"),
          lit(dtypes(c).catalogString).as("dtype"),
          col(s"_min_$c").as("min_s"),
          col(s"_max_$c").as("max_s"))): _*)).as("s"))
      .select(col("file"), col("n_rows"), col("s.col_name"),
        col("s.dtype"), col("s.min_s"), col("s.max_s"))
  }

  def write(spark: SparkSession, dataPath: String,
      statsCols: Seq[String]): Unit = {
    require(statsCols.nonEmpty, "statsCols must be non-empty")
    statsLong(spark.read.parquet(dataPath), statsCols, dataPath)
      .coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(s"$dataPath/$ManifestDir")
  }

  /** INCREMENTAL manifest refresh (the 100 TB form): stat ONLY data
    * files the manifest doesn't cover yet (appends since the last
    * write), drop rows for files that no longer exist (compaction),
    * keep everything else untouched — a refresh after appending a
    * day's partition scans that day, not the dataset.
    *
    * Nothing manifest-sized rides through the driver: kept rows are a
    * left-semi join of the old manifest against the file listing,
    * missing files a left-anti join the other way, and the new
    * manifest is kept ∪ freshly-stat'ed written distributed. Only the
    * directory LISTING (inherent to a directory-layer manifest — a
    * table format's log is the real fix at 10⁷ files) and the
    * APPEND-DELTA file names (needed as concrete read paths) touch
    * the driver. The rewrite stages beside the manifest and swaps via
    * rename because the new manifest's plan reads the old one; a
    * crash in the window leaves no manifest → [[prunedRead]] degrades
    * to the full unpruned read, never wrong rows. Falls back to a
    * full [[write]] when no manifest exists. Returns the number of
    * files freshly stat'ed. */
  def update(spark: SparkSession, dataPath: String,
      statsCols: Seq[String]): Int = {
    require(statsCols.nonEmpty, "statsCols must be non-empty")
    val mp = manifestPath(dataPath)
    val all = dataFiles(spark, dataPath)
    if (!fs(spark, mp).exists(mp)) {
      write(spark, dataPath, statsCols)
      return all.size
    }
    import spark.implicits._
    val allDf = spark.createDataset(all).toDF("file")
    val existing = spark.read.parquet(mp.toString)
    val missing = allDf
      .join(existing.select(col("file")), Seq("file"), "left_anti")
      .as[String].collect().sorted.toSeq // append-delta-sized: the new files
    val anyDropped = !existing.select(col("file"))
      .join(allDf, Seq("file"), "left_anti").isEmpty
    if (missing.isEmpty && !anyDropped) return 0
    val kept = existing.join(allDf, Seq("file"), "left_semi")
    val fresh =
      if (missing.isEmpty) kept.limit(0)
      else statsLong(
        spark.read.schema(spark.read.parquet(dataPath).schema)
          .option("basePath", dataPath).parquet(missing: _*),
        statsCols, dataPath)
    val tmp = new org.apache.hadoop.fs.Path(s"${mp.toString}__tmp")
    kept.unionByName(fresh).coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(tmp.toString)
    val f = fs(spark, mp)
    f.delete(mp, true)
    if (!f.rename(tmp, mp))
      throw new IllegalStateException(
        s"StatsManifest.update: swap failed, staged manifest at $tmp")
    missing.size
  }

  private def manifestPath(dataPath: String) =
    new org.apache.hadoop.fs.Path(s"$dataPath/$ManifestDir")

  /** The dataset's data files (parquet parts, `_`/`.` paths excluded)
    * as fully-qualified URI strings — the same form
    * `input_file_name()` records, so manifest and listing join. */
  private def dataFiles(spark: SparkSession, dataPath: String)
      : Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(dataPath)
    val f = fs(spark, p)
    val out = Seq.newBuilder[String]
    val it = f.listFiles(p, true) // recursive: partitioned layouts
    val base = p.toUri.getPath
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile) {
        val rel = st.getPath.toUri.getPath.stripPrefix(base)
        // drop hidden segments anywhere under the root (_graft_manifest
        // parts, _SUCCESS, .crc files)
        if (!rel.split('/').exists(s =>
            s.startsWith("_") || s.startsWith(".")))
          out += st.getPath.toUri.toString
      }
    }
    out.result()
  }

  /** Compare two canonical cast-to-string stat values under the
    * column dtype's ordering. Shared by intersection (pruning) and
    * containment ([[TxLog.countWhere]]'s metadata-only counting). */
  private[sources] def cmpStat(dtype: String, a: String, b: String): Int = {
    val numeric = Set("tinyint", "smallint", "int", "bigint", "float",
      "double").contains(dtype) || dtype.startsWith("decimal")
    if (numeric) {
      // float/double stats (and probe bounds) may be non-finite —
      // "NaN"/"Infinity"/"-Infinity" in canonical cast-to-string form.
      // Order them the way Spark's own min/max ordering does
      // (-Inf < finite < Inf < NaN), so interval pruning over files
      // CONTAINING non-finite values stays exact instead of crashing
      // in BigDecimal.
      def rank(s: String): Int = s match {
        case "NaN" => 2
        case "Infinity" => 1
        case "-Infinity" => -1
        case _ => 0
      }
      val (ra, rb) = (rank(a), rank(b))
      if (ra != 0 || rb != 0) Integer.compare(ra, rb)
      else BigDecimal(a).compare(BigDecimal(b))
    }
    // string/date/timestamp cast-to-string forms, in Spark's own string
    // order (UTF-8 bytes): UTF-16 `String.compareTo` sorts an astral
    // character (a surrogate pair) below U+E000-U+FFFF and would prune
    // files holding matches
    else org.apache.spark.unsafe.types.UTF8String.fromString(a)
      .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))
  }

  /** True when a [min_s, max_s] file range can intersect [lo, hi] under
    * the column's dtype ordering; null stats keep the file, and a
    * missing bound (None) excludes nothing. Shared
    * with [[TxLog.countWhere]]'s exclusion judge. */
  private[sources] def intersects(dtype: String, minS: String, maxS: String,
      lo: Option[String], hi: Option[String]): Boolean = {
    if (minS == null || maxS == null) return true
    !(lo.exists(cmpStat(dtype, maxS, _) < 0) ||
      hi.exists(cmpStat(dtype, minS, _) > 0))
  }

  /** How far [[canonicalBound]] moves a `timestamp` bound outward:
    * 36 h, the full span of `java.time.ZoneOffset`'s ±18:00 range.
    * Timestamp stats are session-zone LOCAL strings ordered by bytes —
    * wrong across a daylight-saving fall-back (the repeated hour renders
    * two instants alike, and later instants below earlier ones) and
    * between stats written under one zone and probed under another.
    * A local rendering is its instant plus an offset within ±18 h, so
    * a bound widened by 36 h before rendering compares soundly against
    * stats rendered in any zone. */
  private val TimestampSlackMicros = 36L * 3600 * 1000 * 1000

  /** Canonicalize one probe bound through the SAME cast chain the stats
    * took, `Cast(Cast(Literal(v), dtype), StringType)` in the session
    * time zone, evaluated ON THE DRIVER against the empty row — no
    * Spark job. A `timestamp` bound first moves outward (down for the
    * lower bound, up for the `upper` one) by [[TimestampSlackMicros]];
    * `timestamp_ntz` stats are zone-free and are not widened. None
    * when `v` does not cast to `dtype` (a null result or a refused
    * cast), or when the widened timestamp leaves the four-digit-year
    * form: such a bound constrains nothing. Shared by every stats
    * pruner (this manifest, [[TxLog.prunedSnapshotFiles]],
    * [[TxLog.countWhere]]) so bound handling can never diverge. */
  private[sources] def canonicalBound(spark: SparkSession, dtype: String,
      v: Any, upper: Boolean): Option[String] = {
    val dt = DataType.fromDDL(dtype)
    castBound(spark, dt, v).flatMap(renderBound(spark, dt, _, upper))
  }

  /** Both bounds of an interval through [[canonicalBound]], refusing
    * a bound that does not cast (callers that must judge containment
    * cannot treat it as unbounded); a timestamp side that widens past
    * the four-digit years comes back None, unbounded. */
  private[sources] def canonicalBounds(spark: SparkSession, dtype: String,
      lo: Any, hi: Any): (Option[String], Option[String]) = {
    val dt = DataType.fromDDL(dtype)
    (castBound(spark, dt, lo), castBound(spark, dt, hi)) match {
      case (Some(l), Some(h)) => (renderBound(spark, dt, l, upper = false),
        renderBound(spark, dt, h, upper = true))
      case _ => throw new IllegalArgumentException(
        s"stats pruning: bounds ($lo, $hi) do not cast to $dtype")
    }
  }

  private def sessionTz(spark: SparkSession) =
    Some(spark.sessionState.conf.sessionLocalTimeZone)

  /** `v` cast to `dt` (Catalyst's internal form) in the session zone;
    * None for a null result or a refused cast. */
  private def castBound(spark: SparkSession, dt: DataType, v: Any)
      : Option[Any] =
    scala.util.Try(Cast(Literal(v), dt, sessionTz(spark))
      .eval(InternalRow.empty)).toOption.flatMap(Option(_))

  /** The stats' string form of a cast bound, widened outward first
    * when `dt` is `timestamp`. */
  private def renderBound(spark: SparkSession, dt: DataType, c: Any,
      upper: Boolean): Option[String] = {
    def render(x: Any) = Cast(Literal(x, dt), StringType, sessionTz(spark))
      .eval(InternalRow.empty).toString
    if (dt != TimestampType) Some(render(c))
    else {
      val micros = c.asInstanceOf[Long]
      val s = render(if (upper) micros + TimestampSlackMicros
        else micros - TimestampSlackMicros)
      // a year past 9999 renders as "+10000-…", which would sort below
      // every four-digit year
      if (s.length > 4 && s.take(4).forall(_.isDigit) && s(4) == '-') Some(s)
      else None
    }
  }

  /** Compound skipping over the manifest: `files` restricted to those
    * whose ranges can satisfy EVERY `(col, lo, hi)` — one manifest
    * read for the whole conjunction, each predicate independently
    * conservative (files the manifest doesn't cover for that column
    * pass it). */
  private def pruneAgainstManifest(spark: SparkSession, dataPath: String,
      files: Seq[String], preds: Seq[(String, Any, Any)]): Seq[String] = {
    val mp = manifestPath(dataPath)
    if (!fs(spark, mp).exists(mp) || preds.isEmpty) return files
    val entries = spark.read.parquet(mp.toString)
      .filter(col("col_name").isin(preds.map(_._1): _*))
      .select("col_name", "file", "dtype", "min_s", "max_s")
      .collect()
    preds.foldLeft(files) { case (kept, (c, lo, hi)) =>
      val forCol = entries.filter(_.getString(0) == c)
      if (forCol.isEmpty) kept
      else {
        val dtype = forCol.head.getString(2)
        val (loS, hiS) = canonicalBounds(spark, dtype, lo, hi)
        val known = forCol.map(r => r.getString(1) ->
          intersects(dtype, r.getString(3), r.getString(4), loS, hiS))
          .toMap
        kept.filter(f => known.getOrElse(f, true))
      }
    }
  }

  /** Manifest-pruned read: the dataset restricted to files whose
    * [min, max] can satisfy `colName BETWEEN lo AND hi`. The predicate
    * itself is NOT applied — callers filter as usual (and parquet
    * row-group pushdown still applies inside the kept files); this
    * only shrinks the file list the scan plans over. Degrades to the
    * full read when no manifest exists. */
  def prunedRead(spark: SparkSession, dataPath: String, colName: String,
      lo: Any, hi: Any): DataFrame =
    prunedReadAll(spark, dataPath, Seq((colName, lo, hi)))

  /** [[prunedRead]] for a conjunction: only files whose ranges can
    * satisfy every `(col, lo, hi)` reach the scan planner. */
  def prunedReadAll(spark: SparkSession, dataPath: String,
      preds: Seq[(String, Any, Any)]): DataFrame = {
    val kept = pruneAgainstManifest(spark, dataPath,
      dataFiles(spark, dataPath), preds)
    if (kept.isEmpty)
      spark.read.parquet(dataPath).filter(lit(false)) // schema-preserving
    else
      spark.read.schema(spark.read.parquet(dataPath).schema)
        // basePath keeps directory-partition columns resolvable when
        // the dataset is also writePartitioned
        .option("basePath", dataPath)
        .parquet(kept: _*)
  }
}
