package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.types._

/** The ordering and bound handling behind every per-file stats
  * judgement of a logged table ([[TxLog.prunedSnapshotFiles]],
  * [[TxLog.countWhere]], [[TxFileIndex]], [[TxLogStats]]). A file's
  * min/max are recorded in the log as canonical cast-to-string values
  * plus the column's dtype; [[cmpStat]] compares them under the
  * dtype's own ordering (numerics as BigDecimal with Spark's
  * non-finite order, date/timestamp/string by UTF-8 bytes — Spark's
  * cast-to-string forms are order-preserving for these types, except
  * timestamps, rendered in the session zone: probe bounds on them
  * widen by the full zone-offset span first, see [[canonicalBound]]).
  * [[intersects]] is the conservative interval test: null stats or a
  * missing bound keep the file, so stats can only cost performance,
  * never rows. */
object StatsManifest {

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
    * pruner ([[TxLog.prunedSnapshotFiles]], [[TxLog.countWhere]]) so
    * bound handling can never diverge. */
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
}
