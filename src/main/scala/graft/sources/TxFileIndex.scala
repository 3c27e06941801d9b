package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias,
  AttributeReference, BoundReference, Cast, Expression, Literal,
  NamedExpression, Predicate, And => CAnd}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project,
  Union}
import org.apache.spark.sql.execution.datasources.{DataSourceStrategy,
  FileIndex, HadoopFsRelation, LogicalRelation,
  PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.types.{DataType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.TxLog.{TxFile, TxSnapshot}

/** Log-backed [[FileIndex]] — the planner-visible face of a txlog
  * snapshot (the Delta `TahoeLogFileIndex` shape, re-derived for this
  * log format; the reference has no storage layer at all — its
  * "tables" are driver-local `list[dict]`s, e.g. etl_manager.py:37).
  *
  * Why this exists: the batch "txlog" DataSource is a DSv2 table
  * whose scan falls back to a [[org.apache.spark.sql.connector.read
  * .V1Scan]], and Spark's `V1ScanWrapper` does not forward
  * `SupportsReportStatistics` — so every logged table used to present
  * `defaultSizeInBytes` (Long.MaxValue) to the join planner: a 10 MB
  * logged dimension joined to a large fact never planned a static
  * broadcast, and never triggered dynamic partition pruning. AQE
  * converts SMJ→BHJ at runtime, but only after the probe side's
  * shuffle map write is already paid — at 100 TB that is a full
  * extra pass over the fact.
  *
  * Presenting the snapshot as a `FileIndex` inside a
  * `HadoopFsRelation` fixes the whole class at once, because this is
  * the path the engine optimizes best:
  *
  *  - `sizeInBytes` is the EXACT post-replay byte sum from the log
  *    (per-file `bytes` is commit metadata) → static broadcast
  *    planning with no filesystem listing, at any file count;
  *  - `listFiles` applies the SAME stats-in-log data skipping as
  *    [[TxLog.readPrunedAll]] to the scan's pushed data filters —
  *    file-level pruning now rides EVERY filtered read, Scala or SQL;
  *  - partitioned registrations present a real `PartitionSpec`
  *    recovered from per-file stats (a partition value is constant
  *    per file, so min = max = the value — convertInPlace records
  *    exactly this), which turns on native partition pruning AND
  *    dynamic partition pruning (`FileSourceScanExec` evaluates DPP
  *    subquery results against these partition values at runtime —
  *    runtime file skipping from commit metadata alone);
  *  - the scan itself is Spark's vectorized parquet reader fused
  *    into whole-stage codegen (the V1 fallback's `RowDataSourceScan`
  *    boundary is gone).
  *
  * Eligibility (checked by [[TxFileIndex.build]]): every live file
  * must carry recorded `bytes`; a partitioned table additionally
  * needs every partition value exactly recoverable from stats (min =
  * max with zero nulls, or the all-null / empty-file degenerate).
  * Ineligible snapshots keep the V1 read path. Deletion vectors do
  * not make a snapshot ineligible: [[TxFileRelation.planFor]]
  * subtracts them in the scan ([[TxLog.liveScans]]). Column mapping
  * is fine: the index serves PHYSICAL parquet names and
  * [[TxFileRelation]] projects back to logical ones.
  *
  * Immutability: the index answers for ONE snapshot (dir, version,
  * file list) — concurrent commits cannot tear a scan, and equality
  * is by that identity so plan caching works across identical reads.
  */
private[graft] final class TxFileIndex(
    spark: SparkSession,
    val dir: String,
    snap: TxSnapshot,
    partitions: Seq[(InternalRow, Seq[TxFile])],
    override val partitionSchema: StructType) extends FileIndex {

  private val hadoopConf = spark.sparkContext.hadoopConfiguration

  private def qualify(rel: String): Path = {
    val p = new Path(TxLog.resolveData(dir, rel))
    p.getFileSystem(hadoopConf).makeQualified(p)
  }

  private def status(f: TxFile): FileStatus =
    new FileStatus(f.bytes.getOrElse(0L), false, 1, 128L * 1024 * 1024,
      0L, qualify(f.path))

  override def rootPaths: Seq[Path] = {
    val p = new Path(dir)
    Seq(p.getFileSystem(hadoopConf).makeQualified(p))
  }

  /** Data-filter file skipping: pushed filters arrive as Catalyst
    * expressions over PHYSICAL column names; translate to the v1
    * algebra, take interval hulls with the SAME machinery as the V1
    * scan ([[TxLogBatch.intervals]]), map names back to logical (the
    * pruner re-applies the mapping), and prune per partition group.
    * Untranslatable filters simply don't prune (conservative). */
  private def prune(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[(InternalRow, Seq[TxFile])] = {
    // only conjuncts an interpreted predicate can actually evaluate
    // over a partition-values row: subquery expressions (IN (SELECT
    // …)) and other non-deterministic/unevaluable shapes prune
    // nothing here (conservative — the engine applies them row-
    // exactly; DPP delivers the subquery-driven file skipping)
    val evaluable = partitionFilters.filter(e => e.deterministic &&
      e.find(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions
        .PlanExpression[_]]).isEmpty)
    val kept =
      if (evaluable.isEmpty || partitionSchema.isEmpty) partitions
      else {
        // the WHOLE bind+eval sits inside the Try: an unexpected
        // attribute in a partition filter (the require below) must
        // degrade to "no pruning" like any other unevaluable shape,
        // not fail the query — pruning here is an optimization, the
        // engine re-applies every filter row-exactly
        scala.util.Try {
          val bound = evaluable.reduce(CAnd(_, _)).transform {
            case a: AttributeReference =>
              val i = partitionSchema.fieldNames.indexWhere(
                _.equalsIgnoreCase(a.name))
              require(i >= 0,
                s"txlog file index: unknown partition column ${a.name}")
              BoundReference(i, partitionSchema.fields(i).dataType,
                nullable = true)
          }
          val pred = Predicate.createInterpreted(bound)
          pred.initialize(0)
          partitions.filter(p => pred.eval(p._1))
        }.getOrElse(partitions) // unevaluable → keep all (sound)
      }
    val physToLogical =
      snap.mapping.map(_.swap).withDefault(identity[String])
    val v1 = dataFilters.flatMap(e =>
      org.apache.spark.sql.graft.PlanBridge.translateFilter(e))
      .filter(TxLogBatch.prunable(_))
    val preds = TxLogBatch.intervals(v1)
      .map { case (c, lo, hi) => (physToLogical(c), lo, hi) }
    val nulls = TxLogBatch.nullPreds(v1)
      .map { case (c, w) => (physToLogical(c), w) }
    if (preds.isEmpty && nulls.isEmpty) kept
    else kept.map { case (values, files) =>
      (values, TxLog.prunedSnapshotFiles(spark,
        snap.copy(files = files), preds, nulls))
    }.filter(_._2.nonEmpty)
  }

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val pruned = prune(partitionFilters, dataFilters)
    TxLogBatch.lastScan.set(pruned.flatMap(_._2.map(_.path)))
    pruned.map { case (values, files) =>
      PartitionDirectory(values, files.map(status).toArray)
    }
  }

  /** PLAN-TIME restriction (the PrepareDeltaScan shape): the same
    * pruning [[listFiles]] applies at execution, hoisted into a new
    * index so the LOGICAL stats the join planner reads reflect the
    * filter — a narrow slice of a big logged table can then plan a
    * static broadcast. Conjuncts split by reference: partition-only
    * ones prune partitions, data-only ones prune by log stats; mixed
    * or untranslatable conjuncts prune nothing (conservative, the
    * engine re-applies every filter row-exactly). Returns None when
    * nothing shrank — the caller keeps the original plan, which also
    * makes the optimizer-rule fixpoint trivially stable. */
  def restrict(conjuncts: Seq[Expression]): Option[TxFileIndex] = {
    val deterministic = conjuncts.filter(_.deterministic)
    val pNames = partitionSchema.fieldNames.map(_.toLowerCase).toSet
    val (pf, rest) = deterministic.partition(c =>
      c.references.nonEmpty &&
        c.references.forall(a => pNames.contains(a.name.toLowerCase)))
    val kept = prune(pf, rest)
    val keptFiles = kept.flatMap(_._2)
    if (keptFiles.map(_.path).toSet == snap.files.map(_.path).toSet)
      None
    else Some(new TxFileIndex(spark, dir,
      snap.copy(files = keptFiles.sortBy(_.path)), kept,
      partitionSchema))
  }

  override def inputFiles: Array[String] =
    snap.files.map(f => qualify(f.path).toString).toArray

  override def refresh(): Unit = () // a snapshot is immutable

  override def sizeInBytes: Long =
    // dv-scaled (the shared formula): files may carry standing
    // deletion vectors on this presentation now — the planner must
    // see LIVE bytes, or a half-deleted dim would refuse to broadcast
    TxLogStats.liveBytes(snap).getOrElse(snap.files.flatMap(_.bytes).sum)

  /** The (possibly restricted) snapshot's CBO statistics, keyed by
    * the physical names this relation serves — what the read rule
    * attaches and [[GraftTxLogStatsRule]] refreshes on restriction. */
  private[graft] def catalogStats
      : Option[org.apache.spark.sql.catalyst.catalog.CatalogStatistics] =
    TxLogStats.catalogStats(snap, physNames = true)

  /** Identity for plan/cache equality: same table dir, same log
    * version, same (possibly restricted) live-file set. */
  private val identityKey: (String, Long, Seq[String]) =
    (dir, snap.version, snap.files.map(_.path))

  override def equals(other: Any): Boolean = other match {
    case o: TxFileIndex => identityKey == o.identityKey
    case _ => false
  }

  override def hashCode(): Int = identityKey.hashCode()
}

private[graft] object TxFileIndex {

  /** Recover a partition value from its canonical cast-to-string
    * stat form (exact for every stats dtype: the forms round-trip
    * through `CAST(s AS t)`). Returns the INTERNAL representation
    * (what a `PartitionSpec` row holds), or None on a parse failure
    * (→ the table falls back to the V1 path). */
  private def castVal(s: String, dt: DataType, tz: String): Option[Any] = {
    val v = Cast(Literal(UTF8String.fromString(s), StringType), dt,
      Option(tz), ansiEnabled = false).eval()
    if (v == null) None else Some(v)
  }

  /** The file-index presentation of a snapshot, or None when the
    * snapshot needs the V1 plan (no files, missing byte sizes,
    * partition values not exactly recoverable). The index lists files
    * only: a bare index over vectored files would resurrect their
    * deleted rows, so every read goes through
    * [[TxFileRelation.planFor]], which subtracts them. */
  def build(spark: SparkSession, dir: String,
      snap: TxSnapshot): Option[TxFileIndex] = {
    if (snap.files.isEmpty || snap.files.exists(_.bytes.isEmpty))
      return None
    val schema =
      DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]
    if (snap.partitionCols.isEmpty)
      return Some(new TxFileIndex(spark, dir, snap,
        Seq((InternalRow.empty, snap.files)), new StructType()))
    // partitioned: every live file must be single-valued on every
    // partition column, with the value recoverable from stats.
    // Registration-time (hive-layout) files are by construction;
    // post-registration flat appends qualify only when the writer
    // kept partition values file-pure.
    val tz = spark.sessionState.conf.sessionLocalTimeZone
    // MAPPING-AWARE resolution: partitionCols holds registration-time
    // PHYSICAL names (never renamed). Resolve each entry
    // PHYSICAL-FIRST — the logical column whose parquet name IS the
    // entry — and only then as a current logical name. Order matters:
    // with no renames the two agree, but a rename sequence that
    // reuses a former partition column's name (partition col b→c,
    // then a→b) would bind the logical-first lookup to the WRONG
    // column (the renamed a, not the registered b). Either way the
    // served name stays PHYSICAL (= the nested `key=value/` dirs and
    // the per-file stat keys). Unresolvable → V1 fallback.
    val pFields = snap.partitionCols.map { c =>
      val f = schema.fields.find(fl => snap.phys(fl.name) == c)
        .orElse(schema.fields.find(_.name == c))
        .getOrElse(return None)
      (snap.phys(f.name), f)
    }
    val pSchema = StructType(pFields.map { case (pc, f) =>
      f.copy(name = pc) })
    val tuples: Seq[Option[Seq[Any]]] = snap.files.map { f =>
      val vs = pFields.map { case (pc, fl) =>
        f.stats.get(pc) match {
          case _ if f.rows == 0L => Some(null)
          case Some(st) if st.nulls.contains(f.rows) => Some(null)
          case Some(st) if st.min.isDefined && st.min == st.max &&
              st.nulls.contains(0L) =>
            castVal(st.min.get, fl.dataType, tz)
          case _ => None
        }
      }
      if (vs.exists(_.isEmpty)) None else Some(vs.map(_.get))
    }
    if (tuples.exists(_.isEmpty)) return None
    val grouped = snap.files.zip(tuples.map(_.get))
      .groupBy(_._2)
      .toSeq
      .sortBy(_._1.map(String.valueOf).mkString("\u0000"))
      .map { case (vals, fs) =>
        (InternalRow.fromSeq(vals), fs.map(_._1)) }
    Some(new TxFileIndex(spark, dir, snap, grouped, pSchema))
  }
}

/** Assembles the LOGICAL read plan over a [[TxFileIndex]]:
  * `Project(logical names, LogicalRelation(HadoopFsRelation(index)))`.
  * The relation serves PHYSICAL parquet names (data columns first,
  * partition columns appended — Spark's `HadoopFsRelation` contract);
  * the projection restores logical names and declared column order,
  * so callers see exactly the table schema. Deletion vectors subtract
  * in the scan through [[TxLog.liveScans]]: a row filter under its
  * bound, an anti-joined second `TxFileIndex` leg past it. */
private[graft] object TxFileRelation {

  def planFor(spark: SparkSession, dir: String,
      snap: TxSnapshot): Option[LogicalPlan] = {
    val schema =
      DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]
    val phys = TxLog.physSchema(schema, snap.mapping)
    TxFileIndex.build(spark, dir, snap).map { whole =>
      // nullability RELAXES at the relation (what DataSource's own
      // resolveRelation does via asNullable): an evolved column may
      // be absent from pre-evolution files, where the reader fills
      // NULL — a non-nullable read schema would make the vectorized
      // reader refuse the file instead
      def relaxed(s: StructType): StructType =
        StructType(s.fields.map(_.copy(nullable = true)))
      val dataSchema = relaxed(StructType(phys.fields.filterNot(f =>
        whole.partitionSchema.fieldNames.contains(f.name))))
      // a leg over a subset (the dv-antijoin split) is an index of its
      // own: same layout, so it builds whenever the whole snapshot did
      def scan(files: Seq[TxFile]): DataFrame = {
        val idx =
          if (files.size == snap.files.size) whole
          else TxFileIndex.build(spark, dir, snap.copy(files = files)).get
        PlanBridge.fromPlan(spark, LogicalRelation(HadoopFsRelation(idx,
          relaxed(idx.partitionSchema), dataSchema, None,
          new ParquetFileFormat, Map.empty[String, String])(
          spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession])))
      }
      val legs = TxLog.liveScans(spark, dir, snap, scan).map { leg =>
        val p = leg.queryExecution.analyzed
        val byPhys = p.output.map(a => a.name -> a).toMap
        val proj: Seq[NamedExpression] = schema.fields.toSeq.map { fl =>
          val a = byPhys(snap.phys(fl.name))
          if (a.name == fl.name) a else Alias(a, fl.name)()
        }
        if (proj == p.output) p else Project(proj, p)
      }
      if (legs.size == 1) legs.head else Union(legs)
    }
  }
}
