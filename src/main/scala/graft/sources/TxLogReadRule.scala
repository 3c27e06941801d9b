package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.catalog.CatalogStatistics
import org.apache.spark.sql.catalyst.expressions.{Alias, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{DeleteFromTable,
  Filter => LFilter, LogicalPlan, MergeIntoTable, Project, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

/** Post-hoc resolution rule: logged-table READS resolve to the
  * [[TxFileIndex]] plan instead of the DSv2 V1-fallback scan.
  *
  * Why a rule: the "txlog" DSv2 table's scan is a `V1Scan`, and
  * Spark's `V1ScanWrapper` does not forward
  * `SupportsReportStatistics` — a v2-resolved logged table therefore
  * presents `defaultSizeInBytes` to the join planner no matter what
  * the scan knows, so a small logged dimension never plans a static
  * broadcast and a partitioned one never gets dynamic partition
  * pruning (AQE converts at runtime, after the probe side's shuffle
  * write is paid). Swapping the relation for
  * `LogicalRelation(HadoopFsRelation(TxFileIndex))` at resolution
  * puts the log's exact byte counts and partition values in front of
  * the planner — same rows, the plan you'd want at 100×.
  *
  * Scope: READ positions only. Row-level DML statements keep their
  * v2 target (the [[GraftTxLogSqlRule]] DML lowering and Spark's
  * `SupportsDelete` path both match on the v2 relation), and
  * v2 write commands hold their target out-of-children so a
  * transform never touches it. Subquery plans are rewritten too —
  * an `IN (SELECT …)` over a logged dim becomes a join against the
  * indexed read. Snapshots with deletion vectors stay on the index
  * (the vectors subtract in its scan, [[TxLog.liveScans]]); only
  * snapshots it refuses structurally (missing bytes, unrecoverable
  * partition values) get the V1 [[TxLogV1Relation]]. */
class GraftTxLogReadRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    // DML targets are CHILDREN of their statement nodes; the DML
    // lowering rule (registered before this one) must keep seeing
    // the raw v2 relation there, and its own command nodes carry
    // already-lowered plans out of reach of this transform.
    case d: DeleteFromTable => d
    case u: UpdateTable => u
    case m: MergeIntoTable => m
    case _ =>
      plan.transformUpWithSubqueries {
        case r: DataSourceV2Relation => rewrite(r).getOrElse(r)
      }
  }

  private def rewrite(r: DataSourceV2Relation): Option[LogicalPlan] =
    r.table match {
      case t: TxLogBatchTable if t.asOf >= 0L =>
        // reuse the snapshot resolution already replayed — one log
        // read per table reference, not two
        val snap = t.resolvedSnap.filter(_.version == t.asOf)
          .getOrElse(TxLog.snapshot(spark, t.dir, Some(t.asOf)))
        // attach the table identity + LOG-DERIVED statistics to every
        // table relation. The identity keeps `spark.catalog
        // .refreshTable` working (it does `lr.catalogTable.get` on
        // catalog-resolved plans); the stats REPLACE any stale
        // ANALYZE'd catalog copy with exact commit-metadata values
        // (rowCount + per-column hulls), which is what
        // `spark.sql.cbo.enabled` join reordering reads — see
        // [[TxLogStats]]. Each TxFileIndex leg carries its own files'
        // stats under PHYSICAL names; the V1 relation serves logical
        // ones. A vector relation in the plan is not the table.
        def withTable(lr: LogicalRelation,
            stats: Option[CatalogStatistics]): LogicalRelation =
          lr.copy(catalogTable = Some(t.v1Table.copy(stats = stats)))
        val inner: Option[LogicalPlan] =
          TxFileRelation.planFor(spark, t.dir, snap).map(_.transform {
            case lr: LogicalRelation => lr.relation match {
              case h: HadoopFsRelation => h.location match {
                case idx: TxFileIndex => withTable(lr, idx.catalogStats)
                case _ => lr
              }
              case _ => lr
            }
          }).orElse {
            // snapshots the index REFUSES (structurally) get the
            // stats-bearing V1 relation instead of the stat-less
            // V1ScanWrapper
            if (snap.files.isEmpty) None
            else {
              val schema = org.apache.spark.sql.types.DataType
                .fromJson(snap.schemaJson)
                .asInstanceOf[org.apache.spark.sql.types.StructType]
              Some(withTable(LogicalRelation(new TxLogV1Relation(
                spark.sqlContext, t.dir, snap, schema)),
                TxLogStats.catalogStats(snap, physNames = false)))
            }
          }
        inner.map { inner =>
          val byName = inner.output.map(a => a.name -> a).toMap
          // preserve the analyzed relation's attribute identities:
          // everything above references the v2 output's ExprIds
          Project(r.output.map { o =>
            Alias(byName(o.name), o.name)(exprId = o.exprId,
              qualifier = o.qualifier,
              explicitMetadata = Some(o.metadata))
          }, inner)
        }
      case _ => None
    }
}

/** Optimizer rule (the PrepareDeltaScan shape): a `Filter` directly
  * over a [[TxFileIndex]]-backed relation swaps in the RESTRICTED
  * index, so the LOGICAL statistics the join planner reads reflect
  * the filter's file pruning — `big_logged_table WHERE day = X` then
  * joins as the megabytes it scans, not the terabytes it belongs to,
  * and plans a static broadcast where the unrestricted size would
  * force a sort-merge. Execution already pruned identically inside
  * `listFiles`; this rule only HOISTS that knowledge to plan time.
  * The filter itself stays in place (pruning is file-granular — the
  * engine still evaluates every predicate row-exactly), and
  * `restrict` returns None when nothing shrinks, which keeps the
  * optimizer fixpoint trivially stable. */
class GraftTxLogStatsRule(spark: SparkSession) extends Rule[LogicalPlan]
    with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ LFilter(cond, lr: LogicalRelation) =>
      lr.relation match {
        case hfs: HadoopFsRelation =>
          hfs.location match {
            // gate on size: a relation already under the broadcast
            // threshold broadcasts as-is — restriction cannot flip
            // any planning decision, so don't pay the driver pruning
            // pass (writer-internal plans optimize MANY small reads)
            case idx: TxFileIndex
                if conf.autoBroadcastJoinThreshold < 0 ||
                  idx.sizeInBytes > conf.autoBroadcastJoinThreshold =>
              idx.restrict(splitConjunctivePredicates(cond)) match {
                case Some(restricted) =>
                  val rel = HadoopFsRelation(restricted,
                    hfs.partitionSchema, hfs.dataSchema, hfs.bucketSpec,
                    hfs.fileFormat, hfs.options)(
                    spark.asInstanceOf[
                      org.apache.spark.sql.classic.SparkSession])
                  // the attached catalog stats must TRACK the
                  // restriction — a stale unrestricted rowCount would
                  // override the shrunken relation in computeStats
                  f.copy(child = lr.copy(relation = rel,
                    catalogTable = lr.catalogTable.map(
                      _.copy(stats = restricted.catalogStats))))
                case None => f
              }
            case _ => f
          }
        case _ => f
      }
  }
}
