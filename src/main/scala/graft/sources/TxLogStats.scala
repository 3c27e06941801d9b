package graft.sources

import org.apache.spark.sql.catalyst.catalog.{CatalogColumnStat,
  CatalogStatistics}
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.types.{BooleanType, ByteType, DataType,
  DateType, DecimalType, DoubleType, FloatType, IntegerType, LongType,
  ShortType, StructType, TimestampType}

import graft.functions.Kmv
import graft.sources.TxLog.{ColStats, TxSnapshot}

/** Cost-based-optimizer statistics from COMMIT METADATA — zero scans,
  * zero ANALYZE.
  *
  * [[TxFileIndex]] already puts exact `sizeInBytes` in front of the
  * join planner, which fixes broadcast DECISIONS; join ORDERING under
  * `spark.sql.cbo.enabled` additionally wants `rowCount` and
  * per-column statistics, which Spark normally only has after an
  * `ANALYZE TABLE … COMPUTE STATISTICS FOR COLUMNS` pass — a full
  * scan that goes stale on the next commit. The log already holds
  * everything needed, exact and always current: per-file row counts,
  * per-column min/max and null counts. This object folds them into a
  * [[CatalogStatistics]] that [[GraftTxLogReadRule]] attaches to the
  * read plan's `LogicalRelation`, so a multi-join SQL query over
  * logged tables reorders from REAL cardinalities at any table size.
  *
  * Per-column detail (estimate-grade by design, like every CBO stat):
  *  - min/max: aggregated interval hull over the per-file stats —
  *    emitted for plain NUMERIC types only (their canonical stat
  *    strings parse back under `CatalogColumnStat.fromExternalString`
  *    for every stats version; date/timestamp/string forms differ by
  *    version, and a wrong parse would fail the whole query for an
  *    optimization — not worth it);
  *  - nullCount: exact sum when every live file records the column;
  *  - distinctCount (INTEGRAL columns): `min(rowCount, max − min + 1)`
  *    — the range bound. An upper-bound NDV is the honest metadata-
  *    only estimate and exactly what join-cardinality estimation
  *    divides by; dense keys (ids, dates-as-ints, enums) make it
  *    tight, sparse keys degrade toward rowCount = the uniform
  *    assumption CBO uses anyway.
  *
  * Deletion vectors: counts subtract the per-file `dvRows` (rows a
  * vector hides never reach the plan); bounds stay as written —
  * intervals can only widen under deletion, which keeps estimates
  * conservative. */
private[graft] object TxLogStats {

  private def longOf(s: String): Option[Long] =
    try Some(s.toLong) catch { case _: NumberFormatException => None }

  /** One column's catalog stat from the per-file hulls. `rows` is the
    * table's LIVE row count (the distinct-count cap).
    *
    * distinctCount — two estimators, best wins:
    *  - the per-file KMV sketches merged (union, trim to the smallest
    *    recorded k, k-th-minimum estimate): a REAL NDV for any atomic
    *    type — strings (doc ids, categories) and dates included, and
    *    a sparse integral key no longer inflates to its range;
    *  - the integral range bound `max − min + 1` as an upper CAP on
    *    the sketch (the sketch is an estimate, the range is a proof).
    *
    * min/max — numeric hulls as before, plus DATE / TIMESTAMP /
    * BOOLEAN: their canonical cast-to-string stat forms parse under
    * the catalog's `fromExternalString` for the CURRENT stats
    * version, and the candidate is VALIDATED through the engine's own
    * parser ([[PlanBridge.colStatParses]]) before being emitted — a
    * refused form degrades to no-hull, never a failed query.
    * (Timestamp strings were written in the writer's session zone;
    * a different reader zone shifts the hull by hours — estimate-
    * grade, like every CBO stat.) Strings stay hull-less: Spark's own
    * column stats define no string min/max encoding. */
  private def colStat(dt: DataType, rows: Long,
      perFile: Seq[ColStats]): Option[CatalogColumnStat] = {
    if (perFile.isEmpty) return None
    val dtype = perFile.head.dtype
    val nulls: Option[BigInt] =
      if (perFile.exists(_.nulls.isEmpty)) None
      else Some(BigInt(perFile.flatMap(_.nulls).sum))
    val numeric = dt match {
      case ByteType | ShortType | IntegerType | LongType |
           FloatType | DoubleType => true
      case _: DecimalType => true
      case _ => false
    }
    val ordered = numeric || (dt match {
      case DateType | TimestampType | BooleanType => true
      case _ => false
    })
    val (mn, mx) =
      if (!ordered || perFile.exists(f => f.min.isEmpty || f.max.isEmpty))
        (None, None)
      else (perFile.flatMap(_.min)
          .reduceOption((a, b) =>
            if (StatsManifest.cmpStat(dtype, a, b) <= 0) a else b),
        perFile.flatMap(_.max)
          .reduceOption((a, b) =>
            if (StatsManifest.cmpStat(dtype, a, b) >= 0) a else b))
    val integral = dt match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    val nonNull = math.max(0L, rows - nulls.map(_.toLong).getOrElse(0L))
    val rangeBound: Option[Long] =
      if (!integral) None
      else for {
        lo <- mn.flatMap(longOf); hi <- mx.flatMap(longOf)
      } yield math.max(1L, hi - lo + 1L)
    val sketch: Option[Long] =
      if (perFile.exists(_.kmv.isEmpty)) None
      else scala.util.Try {
        val decoded = perFile.flatMap(_.kmv).map(TxLog.kmvDecode)
        val kEff = decoded.map(_._1).min
        val merged = decoded.flatMap(_._2).distinct
          .sortBy(Kmv.uns).take(kEff).toArray
        math.max(1L, math.round(Kmv.estimate(merged, kEff)))
      }.toOption
    val ndv: Option[BigInt] = (sketch, rangeBound) match {
      case (Some(s), rb) =>
        Some(BigInt(math.min(nonNull, rb.fold(s)(math.min(_, s)))
          .max(1L)))
      case (None, Some(rb)) =>
        Some(BigInt(math.max(1L, math.min(nonNull, rb))))
      case _ => None
    }
    if (nulls.isEmpty && mn.isEmpty && ndv.isEmpty) None
    else {
      val cs = CatalogColumnStat(distinctCount = ndv, min = mn,
        max = mx, nullCount = nulls)
      if (PlanBridge.colStatParses(dt, cs)) Some(cs)
      else {
        // the hull strings refused to parse — keep the counts, drop
        // the bounds (counts alone always round-trip)
        val counted = cs.copy(min = None, max = None)
        if (PlanBridge.colStatParses(dt, counted)) Some(counted)
        else None
      }
    }
  }

  /** The snapshot's catalog statistics. `physNames = true` keys the
    * column stats by PHYSICAL parquet name (what the [[TxFileIndex]]
    * relation's output carries); `false` keys by logical name (the
    * [[TxLogV1Relation]] presentation). Returns None when any live
    * file misses its byte size — a too-small sizeInBytes could
    * wrongly broadcast a huge table, so absence reports nothing. */
  def catalogStats(snap: TxSnapshot,
      physNames: Boolean): Option[CatalogStatistics] = {
    if (snap.files.isEmpty) return None
    val bytes = liveBytes(snap).getOrElse(return None)
    val rows = snap.files.map(f => math.max(0L, f.rows - f.dvRows)).sum
    val schema =
      DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]
    val cols = schema.fields.flatMap { fl =>
      val phys = snap.phys(fl.name)
      // a column only gets stats when EVERY live file records it —
      // a partial hull is not a hull
      val perFile = snap.files.map(_.stats.get(phys))
      if (perFile.exists(_.isEmpty)) None
      else colStat(fl.dataType, rows, perFile.map(_.get)).map { cs =>
        (if (physNames) phys else fl.name) -> cs
      }
    }.toMap
    Some(CatalogStatistics(sizeInBytes = BigInt(math.max(1L, bytes)),
      rowCount = Some(BigInt(rows)), colStats = cols))
  }

  /** The ONE DV-scaled live-byte formula — shared by [[catalogStats]]
    * and `TxLogV1Relation.sizeInBytes` so the two presentations can
    * never silently diverge on a future tweak. Each file's recorded
    * bytes are scaled by its live-row share ((rows − dvRows)/rows —
    * rows a vector hides never reach the plan), clamped to ≥1 per
    * file. None when ANY live file misses its recorded byte size: a
    * partial sum is a too-small guess that could wrongly broadcast a
    * huge table, so absence reports nothing and the caller degrades
    * to its conservative default. */
  def liveBytes(snap: TxSnapshot): Option[Long] = {
    if (snap.files.exists(_.bytes.isEmpty)) None
    else Some(snap.files.map { f =>
      val b = f.bytes.get
      if (f.dvRows > 0L && f.rows > 0L)
        math.max(1L, (b.toDouble * math.max(0L, f.rows - f.dvRows) /
          f.rows).toLong)
      else b
    }.sum)
  }
}
