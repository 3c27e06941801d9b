package org.apache.spark.sql.graft

import scala.collection.mutable

import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference,
  BindReferences, Expression, GenericInternalRow, IntegerLiteral,
  InterpretedMutableProjection,
  InterpretedUnsafeProjection, JoinedRow, NamedExpression, PlanExpression,
  Predicate, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression,
  DeclarativeAggregate}
import org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter,
  GlobalLimit, LocalLimit, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSession}
import org.apache.spark.SparkConf
import org.apache.spark.internal.config.MAX_RESULT_SIZE
import org.apache.spark.rdd.LocalRDDCheckpointData
import org.apache.spark.util.RpcUtils
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType

/** Driver-held relations: the one job that materializes a local
  * checkpoint also returns its rows while they fit a byte budget
  * (Shark's partial DAG execution: decide the plan from statistics
  * gathered while materializing), and projections, filters and
  * declarative aggregates over held relations evaluate on the driver
  * with Catalyst's own expressions — no Spark job. The `private[sql]`
  * pieces (`Dataset.ofRows`, the checkpoint's `LogicalRDD`) are why
  * this lives in Spark's package. */
object Held {

  /** What materializing one relation measured: its total row bytes,
    * and its rows when every partition stayed within its share of the
    * budget and the total within the budget. */
  final case class Measured(bytes: Long, rows: Option[Seq[InternalRow]])

  /** Materialize `df` with ONE job — the job Spark's eager
    * `localCheckpoint` runs, under the same SQL execution — whose
    * tasks cache their partition and count its rows' bytes, returning
    * the rows themselves while the partition is within `budget /
    * partitions`; `budget` is first capped at what the driver accepts
    * ([[acceptable]]). When every partition fit and the total is
    * within a positive budget, the result is a `LocalRelation` over those
    * rows and the cached blocks are freed; otherwise the cached RDD
    * becomes the local checkpoint Spark's eager `localCheckpoint`
    * returns (same storage level, same `LogicalRDD`), its lineage
    * truncated without another job. The RDD is marked for
    * checkpointing only after the job, so a held result never depends
    * on its blocks surviving. */
  def checkpoint(df: DataFrame, requested: Long): (DataFrame, Measured) = {
    val ds = df.asInstanceOf[ClassicDataset[Row]]
    val qe = ds.queryExecution
    val budget =
      math.min(requested, acceptable(df.sparkSession.sparkContext.getConf))
    SQLExecution.withNewExecutionId(qe, Some("localCheckpoint")) {
      val rdd = qe.executedPlan.execute().map(_.copy())
      rdd.persist(LocalRDDCheckpointData.DEFAULT_STORAGE_LEVEL)
      val share = budget / math.max(1, rdd.getNumPartitions)
      val schema = df.schema
      val parts = rdd.sparkContext.runJob(rdd, (it: Iterator[InternalRow]) => {
        lazy val unsafe = UnsafeProjection.create(schema)
        var bytes = 0L
        var kept = mutable.ArrayBuffer.empty[InternalRow]
        it.foreach { r =>
          val u = r match {
            case u: UnsafeRow => u
            case o => unsafe(o).copy()
          }
          bytes += u.getSizeInBytes
          if (kept != null) { if (bytes <= share) kept += u else kept = null }
        }
        (bytes, Option(kept).map(_.toArray))
      })
      val bytes = parts.map(_._1).sum
      if (budget > 0L && bytes <= budget && parts.forall(_._2.isDefined)) {
        rdd.unpersist(blocking = false)
        val rows = parts.toSeq.flatMap(_._2.get)
        (ofRows(df, LocalRelation(ds.logicalPlan.output, rows)),
          Measured(bytes, Some(rows)))
      } else {
        rdd.localCheckpoint()
        rdd.checkpointData.foreach(_.checkpoint())
        (ofRows(df, LogicalRDD.fromDataset(rdd, ds, ds.isStreaming)),
          Measured(bytes, None))
      }
    }
  }

  /** The most bytes of rows the driver can take back from one
    * materializing job and ship out again: half of
    * `spark.driver.maxResultSize` (the job's task results carry the
    * rows; a non-positive size is unlimited) and half of
    * `spark.rpc.message.maxSize` (a held relation's scan partitions
    * travel inside task messages). Past either, Spark would abort the
    * job or its consumer's tasks instead of falling back. */
  def acceptable(conf: SparkConf): Long = {
    val results = conf.get(MAX_RESULT_SIZE)
    math.min(if (results > 0L) results / 2 else Long.MaxValue,
      RpcUtils.maxMessageSizeBytes(conf).toLong / 2)
  }

  /** Whether `df` is a driver-held relation. */
  def isHeld(df: DataFrame): Boolean = rows(df).isDefined

  /** A driver-held relation's rows, uncopied; None if not held. */
  def rows(df: DataFrame): Option[Seq[InternalRow]] =
    df.queryExecution.analyzed match {
      case l: LocalRelation => Some(l.data)
      case _ => None
    }

  /** A driver-held relation of `schema` over `rows`. */
  def relation(like: DataFrame, schema: StructType,
      rows: Seq[InternalRow]): DataFrame =
    ofRows(like, LocalRelation(DataTypeUtils.toAttributes(schema), rows))

  /** `df`'s rows computed on the driver, or None when some leaf of its
    * optimized plan is not held or some node is not a projection,
    * filter, limit or aggregate of declarative functions. */
  def fold(df: DataFrame): Option[Seq[Row]] =
    evalHeld(df).map { rows =>
      val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
      rows.map(r => toRow(r).asInstanceOf[Row])
    }

  /** `df` as a driver-held relation with fresh attributes when
    * [[fold]] can compute it; `df` itself otherwise. */
  def folded(df: DataFrame): DataFrame =
    evalHeld(df).fold(df)(relation(df, df.schema, _))

  /** [[eval]] of `df`'s optimized plan — optimized only when every
    * relation under its analyzed plan is held. */
  private def evalHeld(df: DataFrame): Option[Seq[InternalRow]] =
    if (!df.queryExecution.analyzed.collectLeaves()
        .forall(_.isInstanceOf[LocalRelation])) None
    else eval(df.queryExecution.optimizedPlan)

  private def ofRows(like: DataFrame, plan: LogicalPlan): DataFrame =
    ClassicDataset.ofRows(like.sparkSession.asInstanceOf[ClassicSession], plan)

  private def bind(es: Seq[Expression], in: Seq[Attribute]) =
    BindReferences.bindReferences(es, in)

  private def evaluable(p: LogicalPlan): Boolean =
    p.expressions.forall(e => e.deterministic &&
      !e.exists(_.isInstanceOf[PlanExpression[_]]))

  private def eval(p: LogicalPlan): Option[Seq[InternalRow]] = p match {
    case l: LocalRelation => Some(l.data)
    case _ if !evaluable(p) => None
    case Project(list, child) => eval(child).map { rows =>
      val proj = InterpretedUnsafeProjection.createProjection(
        bind(list, child.output))
      rows.map(r => proj(r).copy())
    }
    case Filter(cond, child) => eval(child).map { rows =>
      val pred = Predicate.createInterpreted(bind(Seq(cond), child.output).head)
      rows.filter(pred.eval)
    }
    case GlobalLimit(IntegerLiteral(n), child) => eval(child).map(_.take(n))
    case LocalLimit(IntegerLiteral(n), child) => eval(child).map(_.take(n))
    case a: Aggregate => aggregate(a)
    case _ => None
  }

  /** One aggregate node the way Spark's planner runs it: grouping keys
    * normalized (`NormalizeFloatingNumbers`: NaN and -0.0 group as
    * one, nulls form one group), each declarative function's
    * initial, update and evaluate expressions, a distinct function
    * fed each normalized child value once per group. */
  private def aggregate(a: Aggregate): Option[Seq[InternalRow]] = {
    val aggs = a.aggregateExpressions.flatMap(_.collect {
      case ae: AggregateExpression => ae
    }).groupBy(_.canonicalized).values.map(_.head).toSeq
    if (!aggs.forall(_.aggregateFunction.isInstanceOf[DeclarativeAggregate]))
      return None
    eval(a.child).map { rows =>
      val in = a.child.output
      val fns = aggs.map(_.aggregateFunction.asInstanceOf[DeclarativeAggregate])
      val key = InterpretedUnsafeProjection.createProjection(
        bind(a.groupingExpressions.map(NormalizeFloatingNumbers.normalize), in))
      val filters = aggs.map(_.filter.map(f =>
        Predicate.createInterpreted(bind(Seq(f), in).head)))
      val distinctOf = aggs.map(ae => Option.when(ae.isDistinct)(
        InterpretedUnsafeProjection.createProjection(bind(
          ae.aggregateFunction.children.map(NormalizeFloatingNumbers.normalize),
          in))))
      val updates = fns.map(f => InterpretedMutableProjection.createProjection(
        bind(f.updateExpressions, f.aggBufferAttributes ++ in)))
      final class Group {
        val buffers: Seq[InternalRow] = fns.map { f =>
          val init = InterpretedMutableProjection.createProjection(f.initialValues)
          init.target(new GenericInternalRow(f.aggBufferAttributes.size))
          init(InternalRow.empty)
        }
        val seen: Seq[mutable.HashSet[UnsafeRow]] =
          aggs.map(_ => mutable.HashSet.empty[UnsafeRow])
      }
      val groups = mutable.LinkedHashMap.empty[UnsafeRow, Group]
      if (a.groupingExpressions.isEmpty)
        groups(key(InternalRow.empty).copy()) = new Group
      rows.foreach { r =>
        val g = groups.getOrElseUpdate(key(r).copy(), new Group)
        aggs.indices.foreach { i =>
          if (filters(i).forall(_.eval(r)) && distinctOf(i).forall(p =>
              g.seen(i).add(p(r).copy()))) {
            updates(i).target(g.buffers(i))
            updates(i)(new JoinedRow(g.buffers(i), r))
          }
        }
      }
      val groupAttrs = a.groupingExpressions.zipWithIndex.map { case (e, i) =>
        AttributeReference(s"_g$i", e.dataType, e.nullable)() }
      val aggAttrs = aggs.map(_.resultAttribute)
      val result = InterpretedUnsafeProjection.createProjection(bind(
        a.aggregateExpressions.map(_.transformDown {
          case ae: AggregateExpression =>
            aggAttrs(aggs.indexWhere(_.canonicalized == ae.canonicalized))
          case e if !e.foldable &&
              a.groupingExpressions.exists(_.semanticEquals(e)) =>
            groupAttrs(a.groupingExpressions.indexWhere(_.semanticEquals(e)))
        }.asInstanceOf[NamedExpression]), groupAttrs ++ aggAttrs))
      val evals = fns.map(f => InterpretedMutableProjection.createProjection(
        bind(Seq(f.evaluateExpression), f.aggBufferAttributes)))
      groups.toSeq.map { case (k, g) =>
        val values = new GenericInternalRow(fns.indices.map(i =>
          evals(i)(g.buffers(i)).get(0, aggAttrs(i).dataType)).toArray[Any])
        result(new JoinedRow(k, values)).copy()
      }
    }
  }
}
