package org.apache.spark.sql.graft

import java.util.UUID

import scala.collection.mutable

import org.apache.spark.internal.io.FileCommitProtocol
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Attribute,
  AttributeReference, BindReferences, GenericInternalRow, JoinedRow,
  MutableProjection, NamedExpression, SpecificInternalRow,
  UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.aggregate.{
  AggregateExpression, DeclarativeAggregate, TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{FileFormatWriter,
  WriteJobStatsTracker, WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat

/** Parquet writes that aggregate per-file statistics INSIDE the write
  * tasks — Delta's `DeltaJobStatisticsTracker` shape. The caller's
  * aggregate columns are resolved against the written columns, and
  * every write task folds each row into the aggregation state of the
  * file that row lands in: declarative aggregates (min, max, sum)
  * through their own codegen'd update expressions, typed imperative
  * ones (the KMV sketch) through their own update/eval. The stats of a
  * file are therefore exactly what `groupBy(file).agg(aggs)` would
  * compute over it, without reading the file back.
  *
  * Partition columns are not in the rows a partitioned writer emits;
  * each file's rows are joined with the partition values the writer
  * announced (`newPartition`) before its `newFile`, so aggregates over
  * partition columns see the values the rows were written under. */
object StatsWrite {

  /** A written file's row count and the aggregate values over its rows
    * (a Row named by the aggregate aliases; `null` when `rows` is 0). */
  final case class FileStats(rows: Long, stats: Row)

  /** Write `df` as parquet under `path` (`partitionBy(partCols)` when
    * non-empty; the directory must not exist) and return every written
    * file's [[FileStats]], keyed by its path relative to `path`
    * (`key=value/…/part-…` segments as they sit on disk). `options`
    * are parquet writer options, e.g. `maxRecordsPerFile`. */
  def parquet(df: DataFrame, path: String, partCols: Seq[String],
      options: Map[String, String], aggs: Seq[Column])
      : Map[String, FileStats] = {
    val spark = df.sparkSession.asInstanceOf[ClassicSession]
    val qe = df.queryExecution
    val output = qe.optimizedPlan.output
    val partAttrs = partCols.map(c => output.find(_.name == c).getOrElse(
      throw new IllegalArgumentException(
        s"StatsWrite: no column '$c' to partition by")))
    require(partAttrs.size < output.size,
      "StatsWrite: cannot use all columns as partition columns")
    // the aggregates resolve against a relation with the written
    // columns as its output (not against `df`'s whole plan); each task
    // feeds them (data columns, partition columns) in the writer's order
    val aggExprs =
      if (aggs.isEmpty) Nil
      else PlanBridge.fromPlan(spark, LocalRelation(output)).groupBy()
        .agg(aggs.head, aggs.tail: _*).queryExecution.analyzed
        .collectFirst { case a: Aggregate => a.aggregateExpressions }.get
    val tracker = new Tracker(aggExprs,
      output.filterNot(partAttrs.contains) ++ partAttrs, partCols.size + 1)
    val opts = options + ("path" -> path)
    SQLExecution.withNewExecutionId(qe, Some("stats write")) {
      FileFormatWriter.write(
        sparkSession = spark,
        plan = qe.executedPlan,
        fileFormat = new ParquetFileFormat,
        committer = FileCommitProtocol.instantiate(
          spark.sessionState.conf.fileCommitProtocolClass,
          jobId = UUID.randomUUID().toString, outputPath = path),
        outputSpec = FileFormatWriter.OutputSpec(path, Map.empty, output),
        hadoopConf = spark.sessionState.newHadoopConfWithOptions(opts),
        partitionColumns = partAttrs,
        bucketSpec = None,
        statsTrackers = Seq(tracker),
        options = opts)
    }
    tracker.files
  }

  private final case class TaskFiles(files: Seq[(String, FileStats)])
      extends WriteTaskStats

  /** Driver side: ships the resolved aggregates to the tasks and keeps
    * what the committed tasks report. */
  private final class Tracker(aggExprs: Seq[NamedExpression],
      input: Seq[Attribute], depth: Int) extends WriteJobStatsTracker {
    @transient var files: Map[String, FileStats] = Map.empty
    override def newTaskInstance(): WriteTaskStatsTracker =
      new TaskTracker(aggExprs, input, depth)
    override def processStats(stats: Seq[WriteTaskStats],
        jobCommitTime: Long): Unit =
      files = stats.flatMap { case t: TaskFiles => t.files }.toMap
  }

  private final class TaskTracker(aggExprs: Seq[NamedExpression],
      input: Seq[Attribute], depth: Int) extends WriteTaskStatsTracker {
    private val fns = aggExprs.flatMap(_.collect {
      case ae: AggregateExpression =>
        require(!ae.isDistinct && ae.filter.isEmpty,
          s"StatsWrite: unsupported aggregate $ae")
        ae.aggregateFunction
    }).distinct
    private val declarative = fns.collect { case d: DeclarativeAggregate => d }
    private val typed = fns.collect { case t: TypedImperativeAggregate[_] => t }
    require(declarative.size + typed.size == fns.size,
      s"StatsWrite: unsupported aggregate in ${aggExprs.mkString(", ")}")
    private val bufferAttrs = declarative.flatMap(_.aggBufferAttributes)
    private val initial =
      MutableProjection.create(declarative.flatMap(_.initialValues), Nil)
    private val update = MutableProjection.create(
      declarative.flatMap(_.updateExpressions), bufferAttrs ++ input)
    private val boundTyped = typed.map(t =>
      BindReferences.bindReference(t, input)
        .asInstanceOf[TypedImperativeAggregate[Any]]).toArray
    private val typedAttrs =
      typed.map(t => AttributeReference("typed", t.dataType)())
    private val typedSlot = typed.zip(typedAttrs).toMap[Any, Attribute]
    private val result = UnsafeProjection.create(
      aggExprs.map(_.transform {
        case ae: AggregateExpression => ae.aggregateFunction match {
          case d: DeclarativeAggregate => d.evaluateExpression
          case t => typedSlot(t)
        }
      }), bufferAttrs ++ typedAttrs)
    private val toRow = CatalystTypeConverters.createToScalaConverter(
      DataTypeUtils.fromAttributes(aggExprs.map(_.toAttribute)))

    private final class FileState(val partValues: InternalRow) {
      var rows = 0L
      val buffer = new SpecificInternalRow(bufferAttrs.map(_.dataType))
      initial.target(buffer).apply(InternalRow.empty)
      val typedBuffers: Array[Any] =
        boundTyped.map(_.createAggregationBuffer(): Any)
    }

    private val open = mutable.LinkedHashMap.empty[String, FileState]
    private var partValues: InternalRow = InternalRow.empty
    private var curPath: String = _
    private var cur: FileState = _
    private val statsInput = new JoinedRow
    private val updateInput = new JoinedRow

    override def newPartition(values: InternalRow): Unit =
      partValues = values.copy()
    override def newFile(filePath: String): Unit =
      open(filePath) = new FileState(partValues)
    override def closeFile(filePath: String): Unit = ()

    override def newRow(filePath: String, row: InternalRow): Unit = {
      if (filePath ne curPath) { cur = open(filePath); curPath = filePath }
      cur.rows += 1
      if (fns.nonEmpty) {
        statsInput(row, cur.partValues)
        update.target(cur.buffer).apply(updateInput(cur.buffer, statsInput))
        var i = 0
        while (i < boundTyped.length) {
          cur.typedBuffers(i) =
            boundTyped(i).update(cur.typedBuffers(i), statsInput)
          i += 1
        }
      }
    }

    private def statsOf(s: FileState): Row = {
      val typedValues = new GenericInternalRow(boundTyped.indices
        .map(i => boundTyped(i).eval(s.typedBuffers(i))).toArray)
      toRow(result(new JoinedRow(s.buffer, typedValues))).asInstanceOf[Row]
    }

    override def getFinalStats(taskCommitTime: Long): WriteTaskStats =
      TaskFiles(open.toSeq.map { case (p, s) =>
        p.split('/').takeRight(depth).mkString("/") ->
          FileStats(s.rows, if (s.rows == 0L) null else statsOf(s))
      })
  }
}
