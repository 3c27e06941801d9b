package graft.sources

import java.util

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Row, SQLContext, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead,
  SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder,
  SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo,
  SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** BATCH access to a logged table through the DataSource API —
  * `spark.read.format("txlog").load(dir)` and SQL over a registered
  * table (`CREATE TABLE t USING txlog OPTIONS (path '…')`), the Delta
  * `spark.read.format("delta")` analog that opens logged tables to
  * SQL/BI/third-party consumers that cannot call the Scala API.
  *
  * Design: a DataSourceV2 [[org.apache.spark.sql.connector.catalog
  * .TableProvider]] (mixed into [[TxLogStreamProvider]], so ONE
  * registered "txlog" short name serves batch = V2 and streaming =
  * the existing v1 source, Spark's documented fallback) whose scan
  * does the two things the log can answer better than any generic
  * source:
  *
  *  - '''Snapshot isolation''': the table pins the log version at
  *    resolution time; concurrent commits cannot tear the scan.
  *    `option("versionAsOf", v)` / `option("timestampAsOf", ms)` are
  *    the Delta time-travel duals (the timestamp resolves through the
  *    in-commit-timestamp axis, [[TxLog.versionAt]]).
  *  - '''Stats-in-log file pruning''' ([[SupportsPushDownFilters]]):
  *    pushed conjuncts become per-column intervals and files whose
  *    recorded [min, max] cannot intersect are dropped at PLANNING
  *    time through the same core [[TxLog.readPrunedAll]] uses
  *    ([[TxLog.prunedSnapshotFiles]]) — driver-side, metadata-only,
  *    no footer reads. Pruning is file-granular (not row-exact), so
  *    every filter is also returned as residual and Spark re-applies
  *    it post-scan; parquet row-group pushdown still applies inside
  *    kept files.
  *
  * Column pruning ([[SupportsPushDownRequiredColumns]]) narrows the
  * projected schema before the scan. Execution rides [[V1Scan]]: the
  * pruned snapshot reads through [[TxLog.readSnapshot]], so deletion
  * vectors subtract and column mapping projects exactly as the Scala
  * API does — one read path, no drift. At 100 TB the pruning is the
  * point: a `WHERE k BETWEEN …` probe plans the intersecting sliver
  * of a 10⁶-file table from one driver pass over commit metadata.
  */
private[graft] object TxLogBatch {

  /** The file names the most recent batch scan actually planned —
    * test instrumentation for pinning pruning parity with
    * [[TxLog.readPrunedAll]] (plan-audit, not product surface). */
  private[graft] val lastScan =
    new java.util.concurrent.atomic.AtomicReference[Seq[String]](Nil)

  /** The V1 relations' one scan body: prune files from the pinned
    * snapshot, read through the one true read path
    * ([[TxLog.readSnapshot]]: vectors subtract, mapping projects),
    * re-apply the pushed intervals, project `columns`. The re-apply
    * sits INSIDE the inner plan because the relation boundary hides
    * the engine's post-scan filter from the inner parquet read —
    * without it the kept files would scan whole, with it parquet
    * row-group/page skipping applies. Safe to weaken (>=/<= supersets
    * of strict bounds): the engine still evaluates every original
    * filter row-exactly above. Null membership is exact per row, so
    * those re-apply verbatim. */
  private[sources] def scanRdd(spark: SparkSession, dir: String,
      snap: TxLog.TxSnapshot,
      preds: Seq[(String, Option[Any], Option[Any])],
      nullPreds: Seq[(String, Boolean)], columns: Seq[String]): RDD[Row] = {
    val kept = TxLog.prunedSnapshotFiles(spark, snap, preds, nullPreds)
    lastScan.set(kept.map(_.path))
    val df = TxLog.readSnapshot(spark, dir, snap.copy(files = kept))
    val cond = (preds.flatMap { case (c, lo, hi) =>
      lo.map(v => col(c) >= lit(v)).toSeq ++
        hi.map(v => col(c) <= lit(v)).toSeq
    } ++ nullPreds.map { case (c, wantNull) =>
      if (wantNull) col(c).isNull else col(c).isNotNull
    }).reduceOption(_ && _)
    val filtered = cond.fold(df)(df.filter)
    filtered.select(columns.map(col): _*)
      .queryExecution.toRdd.asInstanceOf[RDD[Row]]
  }

  private[graft] def tableDir(options: Map[String, String]): String =
    options.get("path").getOrElse(throw new IllegalArgumentException(
      "txlog batch source needs a table directory: .load(<dir>) or " +
        "OPTIONS (path '<dir>')"))

  /** Resolve (dir, pinned version, logical schema, time-travel flag)
    * for a table reference: versionAsOf > timestampAsOf > head. */
  private[graft] def resolve(spark: SparkSession,
      options: Map[String, String])
      : (String, Long, StructType, Boolean) = {
    val (d, v, schema, pinned, _) = resolveWithSnap(spark, options)
    (d, v, schema, pinned)
  }

  /** [[resolve]] plus the resolved snapshot itself, so callers that
    * also need log state beyond the schema (the catalog's
    * default-metadata decoration) avoid a further full log replay. */
  private[graft] def resolveWithSnap(spark: SparkSession,
      options: Map[String, String])
      : (String, Long, StructType, Boolean, Option[TxLog.TxSnapshot]) = {
    val d = tableDir(options)
    // a missing log resolves to a PLACEHOLDER (version -1, empty
    // schema): DataFrameWriter probes the provider before its v1
    // fallback, so table resolution must not refuse a dir a write is
    // about to CREATE — the scan builder refuses reads instead
    if (!TxLog.isLogged(spark, d))
      return (d, -1L, new StructType(), false, None)
    def opt(name: String): Option[String] =
      options.collectFirst { case (k, v)
        if k.equalsIgnoreCase(name) => v }
    require(opt("versionAsOf").isEmpty || opt("timestampAsOf").isEmpty,
      "txlog batch source: versionAsOf and timestampAsOf are " +
        "mutually exclusive")
    val travel = opt("versionAsOf").map(_.toLong)
      .orElse(opt("timestampAsOf").map(ts =>
        TxLog.versionAt(spark, d, ts.toLong)))
    // plain resolution replays the log ONCE (head == snapshot at
    // head); only a pinned version needs the targeted replay
    val snap = travel match {
      case None => TxLog.snapshot(spark, d)
      case Some(v) => TxLog.snapshot(spark, d, Some(v))
    }
    (d, snap.version,
      DataType.fromJson(snap.schemaJson).asInstanceOf[StructType],
      travel.isDefined, Some(snap))
  }

  /** Natural ordering over the literal types Spark pushes in v1
    * filters — used to take the [min, max] HULL of an `In` list or
    * of an `Or`'s legs. Conservative: an unknown/mixed type yields
    * no ordering and therefore no pruning (never a wrong exclusion).
    * Comparing NUMBERS through BigDecimal (not strings) matters: the
    * stats layer canonicalizes per-dtype, but the hull is taken over
    * the raw literals BEFORE canonicalization. */
  private def cmpLit(a: Any, b: Any): Option[Int] = (a, b) match {
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) =>
      Some(x.compareTo(y))
    case (x: Number, y: Number) =>
      // NaN/Infinity have no BigDecimal form — degrade to no pruning
      // (None) rather than crash the scan on a pushed non-finite
      // literal (e.g. In(d, [..., NaN]) or Or(d>1.0, d>Infinity)).
      (scala.util.Try(new java.math.BigDecimal(x.toString)).toOption,
        scala.util.Try(new java.math.BigDecimal(y.toString)).toOption)
        match {
          case (Some(bx), Some(by)) => Some(bx.compareTo(by))
          case _ => None
        }
    case (x: String, y: String) => Some(x.compareTo(y))
    case (x: java.sql.Timestamp, y: java.sql.Timestamp) =>
      Some(x.compareTo(y))
    case (x: java.sql.Date, y: java.sql.Date) => Some(x.compareTo(y))
    case (x: java.time.Instant, y: java.time.Instant) =>
      Some(x.compareTo(y))
    case (x: java.time.LocalDate, y: java.time.LocalDate) =>
      Some(x.compareTo(y))
    case (x: Boolean, y: Boolean) => Some(x.compareTo(y))
    case _ => None
  }

  private def minMax(vs: Seq[Any]): Option[(Any, Any)] =
    vs.foldLeft(Option(vs.head -> vs.head)) {
      case (None, _) => None
      case (Some((lo, hi)), v) =>
        (cmpLit(v, lo), cmpLit(v, hi)) match {
          case (Some(cl), Some(ch)) =>
            Some((if (cl < 0) v else lo, if (ch > 0) v else hi))
          case _ => None // unordered/mixed literals: give up the hull
        }
    }

  /** The smallest string no `p`-prefixed string can reach: `p` with
    * its last char bumped (dropping trailing U+FFFF chars first).
    * None when every char is U+FFFF — then the prefix has no upper
    * bound and only the lower bound prunes. */
  private def prefixSuccessor(p: String): Option[String] = {
    val trimmed = p.reverse.dropWhile(_ == Char.MaxValue).reverse
    if (trimmed.isEmpty) None
    else Some(trimmed.init + (trimmed.last + 1).toChar)
  }

  /** Pushed conjuncts → per-column intervals for file pruning. Only
    * shapes the min/max stats can decide; everything else is left to
    * the post-scan filter (which re-applies ALL filters anyway), so
    * every mapping here may be a conservative SUPERSET of the
    * predicate:
    *  - `In(a, vs)` → the [min, max] hull of its values;
    *  - `Or(l, r)` → for each column BOTH legs constrain, the hull
    *    of the two legs' intervals (a column one leg leaves free
    *    cannot prune — the other leg admits any value);
    *  - `StringStartsWith(a, p)` → `[p, successor(p))` as `<= hull`
    *    (file granularity keeps the closed bound sound). */
  private[graft] def intervals(filters: Seq[Filter])
      : Seq[(String, Option[Any], Option[Any])] =
    filters.flatMap {
      case EqualTo(a, v) if v != null => Seq((a, Some(v), Some(v)))
      case EqualNullSafe(a, v) if v != null => Seq((a, Some(v), Some(v)))
      case GreaterThan(a, v) if v != null => Seq((a, Some(v), None))
      case GreaterThanOrEqual(a, v) if v != null => Seq((a, Some(v), None))
      case LessThan(a, v) if v != null => Seq((a, None, Some(v)))
      case LessThanOrEqual(a, v) if v != null => Seq((a, None, Some(v)))
      case In(a, vs) =>
        val nn = vs.toSeq.filter(_ != null)
        if (nn.isEmpty) Nil
        else minMax(nn).map { case (lo, hi) =>
          (a, Some(lo), Some(hi))
        }.toSeq
      case StringStartsWith(a, p) if p != null && p.nonEmpty =>
        Seq((a, Some(p), prefixSuccessor(p)))
      case And(l, r) => intervals(Seq(l)) ++ intervals(Seq(r))
      case Or(l, r) =>
        // each leg's conjuncts first MERGE per column (a leg like
        // `k >= 10 AND k < 20` is the single interval [10, 20]):
        // conjunction tightens — lo = max of the leg's lower bounds,
        // hi = min of its upper bounds; then the Or takes the HULL
        // across the two merged legs for every column BOTH constrain
        // (a column one leg leaves free cannot prune)
        def tighter(a: Any, b: Any, takeMax: Boolean): Option[Any] =
          cmpLit(a, b).map(c =>
            if ((c > 0) == takeMax) a else b)
        def mergeLeg(ts: Seq[(String, Option[Any], Option[Any])])
            : Map[String, (Option[Any], Option[Any])] =
          ts.groupBy(_._1).flatMap { case (c, rows) =>
            val los = rows.flatMap(_._2)
            val his = rows.flatMap(_._3)
            val lo = los.foldLeft(Option.empty[Any]) {
              case (None, v) => Some(v)
              case (Some(a), v) => tighter(a, v, takeMax = true)
            }
            val hi = his.foldLeft(Option.empty[Any]) {
              case (None, v) => Some(v)
              case (Some(a), v) => tighter(a, v, takeMax = false)
            }
            // an unorderable pair degrades that side to unbounded
            // inside the leg — conservative; the column survives iff
            // any side remains
            if (los.nonEmpty && lo.isEmpty && his.nonEmpty && hi.isEmpty)
              Nil
            else Seq(c -> (lo, hi))
          }
        val (ml, mr) = (mergeLeg(intervals(Seq(l))),
          mergeLeg(intervals(Seq(r))))
        (ml.keySet intersect mr.keySet).toSeq.sorted.flatMap { c =>
          val ((lo1, hi1), (lo2, hi2)) = (ml(c), mr(c))
          val lo = for (a <- lo1; b <- lo2; m <- tighter(a, b,
            takeMax = false)) yield m
          val hi = for (a <- hi1; b <- hi2; m <- tighter(a, b,
            takeMax = true)) yield m
          if (lo.isEmpty && hi.isEmpty) Nil else Seq((c, lo, hi))
        }
      case _ => Nil
    }

  /** Null-membership conjuncts the per-file NULL COUNTS can decide:
    * `(col, wantNull)` — IsNull prunes files recording zero nulls,
    * IsNotNull prunes files recording nulls == rows (all-null).
    * And recurses; Or/Not are left to the residual filter. */
  private[graft] def nullPreds(filters: Seq[Filter])
      : Seq[(String, Boolean)] =
    filters.flatMap {
      case IsNull(a) => Seq((a, true))
      case IsNotNull(a) => Seq((a, false))
      case And(l, r) => nullPreds(Seq(l)) ++ nullPreds(Seq(r))
      case _ => Nil
    }

  /** A filter contributes to pruning iff it yields an interval or a
    * null-membership conjunct. */
  private[graft] def prunable(f: Filter): Boolean =
    intervals(Seq(f)).nonEmpty || nullPreds(Seq(f)).nonEmpty
}

/** The resolved batch table: schema + version pinned at resolution.
  * `pinned` marks a versionAsOf/timestampAsOf reference — read-only
  * by definition (writes go to the head, never into history). A
  * placeholder (asOf < 0, the dir is not logged yet) declares NO
  * capabilities so DataFrameWriter falls back to the v1 save path,
  * which creates the table under every SaveMode. */
private[graft] class TxLogBatchTable(val dir: String, val asOf: Long,
    tableSchema: StructType, val pinned: Boolean,
    writableCreate: Boolean = false,
    v1Catalog: Option[
      org.apache.spark.sql.catalyst.catalog.CatalogTable] = None,
    // the snapshot RESOLUTION already replayed (when the builder had
    // it) — the read-rule reuses it instead of a second log replay
    val resolvedSnap: Option[TxLog.TxSnapshot] = None)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.graft.V1FallbackBridge {

  override def name(): String = s"txlog:$dir@v$asOf"

  /** `writeStream.format("txlog").toTable("t")` support (the
    * DeltaTableV2 shape): the table declares no STREAMING_WRITE
    * capability, so DataStreamWriter consults this v1 fallback and
    * routes the query through the registered [[TxLogStreamSource]]
    * sink — the SAME exactly-once commit path as
    * `writeStream.format("txlog").start(dir)` (txn markers, admission
    * control, checkpoint contract all identical). A catalog-loaded
    * table hands back its REAL registered identity (carrying the
    * identifier any later resolution keys on), a path-loaded one a
    * synthesized external-table shell. */
  override def v1Table
      : org.apache.spark.sql.catalyst.catalog.CatalogTable = {
    import org.apache.spark.sql.catalyst.catalog.{CatalogStorageFormat,
      CatalogTable, CatalogTableType}
    v1Catalog.map(ct => ct.copy(provider = Some("txlog"),
      storage = ct.storage.copy(
        properties = ct.storage.properties + ("path" -> dir))))
      .getOrElse {
        val p = new org.apache.hadoop.fs.Path(dir)
        CatalogTable(
          identifier = org.apache.spark.sql.catalyst.TableIdentifier(
            p.getName),
          tableType = CatalogTableType.EXTERNAL,
          storage = CatalogStorageFormat.empty.copy(
            locationUri = Some(p.toUri),
            properties = Map("path" -> dir)),
          schema = tableSchema,
          provider = Some("txlog"))
      }
  }

  /** SQL `DELETE FROM t WHERE …` in ANY session (no extensions
    * needed): Spark hands the translatable conjuncts here and the
    * delete rides the same copy-on-write commit as
    * [[TxLog.delete]]. Sessions with [[graft.functions
    * .GraftExtensions]] installed intercept earlier with the raw
    * condition (arbitrary expressions); this path is the fallback
    * contract for plain sessions. An empty filter array is Spark's
    * TRUNCATE. */
  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(!pinned,
      s"txlog: cannot DELETE from $dir pinned at version $asOf " +
        "(time-travel reads are immutable history)")
    val cond = filters.map(TxLogSql.filterColumn)
      .reduceOption(_ && _).getOrElse(lit(true))
    TxLog.delete(SparkSession.active, dir, cond)
    ()
  }

  override def schema(): StructType = tableSchema

  override def capabilities(): util.Set[TableCapability] =
    if (asOf >= 0L)
      util.EnumSet.of(TableCapability.BATCH_READ,
        TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
        TableCapability.TRUNCATE)
    else if (writableCreate)
      // the CATALOG path's creation placeholder (CTAS / INSERT into a
      // declared-but-unwritten table): the exec writes through the V1
      // bridge, which creates the log. The PROVIDER path's placeholder
      // stays capability-less so DataFrameWriter falls back to the v1
      // save (every SaveMode + partitionBy honored there).
      util.EnumSet.of(TableCapability.BATCH_WRITE,
        TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)
    else util.Collections.emptySet()

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = {
    require(asOf >= 0L,
      s"txlog batch source: no transaction log under $dir")
    new TxLogBatchScanBuilder(dir, asOf, tableSchema)
  }

  /** SQL `INSERT INTO` / `INSERT OVERWRITE` and `df.write` in
    * Append/Overwrite modes, bridged to [[TxLog.commitAppend]] /
    * [[TxLog.commitOverwrite]] via [[V1Write]] — the same commit
    * machinery as the Scala API, so identity/generated/default/CHECK
    * enforcement applies identically. `statsCols` rides as a write
    * option. */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(!pinned,
      s"txlog: cannot write to $dir pinned at version $asOf " +
        "(versionAsOf/timestampAsOf reads are immutable history) — " +
        "write to the table without time-travel options")
    val statsCols = Option(info.options.get("statsCols"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)
    val replaceWhere = Option(info.options.get("replaceWhere"))
    new WriteBuilder with SupportsTruncate {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation
            : org.apache.spark.sql.sources.InsertableRelation =
          (data: org.apache.spark.sql.DataFrame, ow: Boolean) => {
            val spark = data.sparkSession
            if (overwrite || ow) replaceWhere match {
              case Some(cond) =>
                // Delta's partial overwrite: replace ONLY the
                // predicate's slice, atomically, batch validated
                // against the predicate
                TxLog.replaceWhere(spark, dir, data,
                  org.apache.spark.sql.functions.expr(cond),
                  statsCols = statsCols)
                ()
              case None =>
                TxLog.commitOverwrite(spark, dir, data,
                  statsCols = statsCols)
                ()
            } else {
              require(replaceWhere.isEmpty,
                "txlog: replaceWhere requires mode(\"overwrite\")")
              TxLog.commitAppend(spark, dir, data,
                statsCols = statsCols)
              ()
            }
          }
      }
    }
  }
}

private[graft] class TxLogBatchScanBuilder(dir: String, asOf: Long,
    tableSchema: StructType) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = tableSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(TxLogBatch.prunable)
    // pruning is file-granular: every filter stays residual so Spark
    // re-applies it row-exactly post-scan
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit = {
    required = requiredSchema
    ()
  }

  override def build(): Scan =
    new TxLogBatchScan(dir, asOf, required,
      TxLogBatch.intervals(pushed.toSeq),
      TxLogBatch.nullPreds(pushed.toSeq), pushed)
}

private[graft] class TxLogBatchScan(dir: String, asOf: Long,
    required: StructType,
    preds: Seq[(String, Option[Any], Option[Any])],
    nullPreds: Seq[(String, Boolean)],
    pushed: Array[Filter]) extends V1Scan {

  override def readSchema(): StructType = required

  override def description(): String =
    s"txlog $dir@v$asOf pushed=[${pushed.mkString(", ")}]"

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T =
    new TxLogBatchRelation(context, dir, asOf, required, preds,
      nullPreds)
      .asInstanceOf[T]
}

/** The stats-bearing V1 presentation of a snapshot the
  * [[TxFileIndex]] REFUSES (missing byte sizes, partition values not
  * recoverable from stats). Why it exists: the DSv2 fallback wraps
  * [[TxLogBatchScan]] in Spark's `V1ScanWrapper` at the LOGICAL
  * level, and the wrapper forwards no statistics — so such a logged
  * dim would present `defaultSizeInBytes` and a 100 TB fact joined
  * against it would plan a sort-merge, paying the probe side's full
  * shuffle write before AQE could convert. [[GraftTxLogReadRule]]
  * swaps the v2 relation for a `LogicalRelation` over THIS relation
  * instead: `sizeInBytes` is the live files' recorded bytes scaled by
  * each file's live-row share ((rows − dvRows)/rows — the vector
  * hides rows the read will subtract).
  *
  * [[PrunedFilteredScan]] (not bare TableScan) keeps the other two
  * scan-time legs: pushed filters run the SAME stats-in-log file
  * pruning as every read path, and column pruning narrows the
  * projection. Any recorded byte size missing → degrade to the
  * engine default (a too-small guess could wrongly broadcast a huge
  * table); the data path is unconditionally correct either way. */
private[graft] class TxLogV1Relation(ctx: SQLContext, dir: String,
    snap: TxLog.TxSnapshot, tableSchema: StructType)
    extends BaseRelation with PrunedFilteredScan {

  override def sqlContext: SQLContext = ctx

  override def schema: StructType = tableSchema

  override def needConversion: Boolean = false

  override def sizeInBytes: Long =
    // the one shared DV-scaled formula (TxLogStats.liveBytes) — this
    // and catalogStats must agree or the planner would see two
    // different sizes for the same snapshot
    TxLogStats.liveBytes(snap).getOrElse(super.sizeInBytes)

  override def buildScan(requiredColumns: Array[String],
      filters: Array[Filter]): RDD[Row] = {
    val pushed = filters.filter(TxLogBatch.prunable).toSeq
    TxLogBatch.scanRdd(ctx.sparkSession, dir, snap,
      TxLogBatch.intervals(pushed), TxLogBatch.nullPreds(pushed),
      requiredColumns.toSeq)
  }
}

/** Execution leg of the DSv2 scan: the pinned snapshot through
  * [[TxLogBatch.scanRdd]]. */
private[graft] class TxLogBatchRelation(ctx: SQLContext, dir: String,
    asOf: Long, required: StructType,
    preds: Seq[(String, Option[Any], Option[Any])],
    nullPreds: Seq[(String, Boolean)])
    extends BaseRelation with TableScan {

  override def sqlContext: SQLContext = ctx

  override def schema: StructType = required

  // the inner plan already produces InternalRow — hand it to the
  // engine as-is (the V1 contract for needConversion = false) instead
  // of paying InternalRow→Row→InternalRow on every row of the scan
  override def needConversion: Boolean = false

  override def buildScan(): RDD[Row] = {
    val spark = ctx.sparkSession
    TxLogBatch.scanRdd(spark, dir, TxLog.snapshot(spark, dir, Some(asOf)),
      preds, nullPreds, required.fieldNames.toSeq)
  }
}
