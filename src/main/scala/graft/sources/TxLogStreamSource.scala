package graft.sources

import org.apache.spark.sql.execution.streaming.{Offset => V1Offset, Sink, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SQLContext, SparkSession}

/** Structured-Streaming SOURCE over a [[TxLog]] table — the Delta
  * streaming-source analog that completes the incremental story:
  * [[TxLog.changesSince]] is the batch pull, this is the continuous
  * push. `spark.readStream.format("txlog").load(dir)` turns a logged
  * table into an unbounded stream of its APPENDS; offsets ARE log
  * versions, so a micro-batch is exactly the span
  * `(lastCommittedVersion, head]` and replay after restart re-reads
  * precisely the uncommitted span (pair with a sink txn marker —
  * [[graft.etl.MedallionPipeline.promoteStream]] — for exactly-once
  * end to end). Reference analog: the ETL manager's incremental load
  * path (etl_manager.py:206 run_job + LoadType.INCREMENTAL), which a
  * user must SCHEDULE; this is its continuous form.
  *
  * ADMISSION CONTROL (Delta's maxFilesPerTrigger shape):
  * `.option("maxFilesPerTrigger", n)` / `.option("maxRowsPerTrigger",
  * n)` / `.option("maxBytesPerTrigger", n)` bound how much of a
  * backlog one micro-batch admits — without
  * them, the first trigger after seeding (or any catch-up after
  * downtime) would process the ENTIRE backlog as one batch, which at
  * 100 TB is one giant batch or nothing. The byte budget reads
  * per-file sizes recorded in the log at commit time (TxFile.bytes);
  * a commit from before byte recording has unknown size and is
  * admitted alone (conservative), never counted as free. The source implements
  * `SupportsAdmissionControl` (the same design Delta's source uses on
  * a v1 `Source`): the engine hands `latestOffset` the START offset
  * from its own offset log, and the source walks commit METADATA from
  * there, admitting whole commits until the next would exceed either
  * budget (always ≥ 1 commit, so a single oversized commit still
  * makes progress; both caps may be combined — the tighter one
  * binds). No side-channel frontier state exists, so restarts and
  * crash recovery inherit the engine's own offset-log guarantees.
  * `SupportsTriggerAvailableNow` pins the end bound at query start,
  * so `Trigger.AvailableNow` drains the whole backlog in bounded
  * batches and THEN terminates — a plain v1 getOffset wrapper would
  * snapshot ONE capped offset and stop a budget short. The reference
  * analog stays batch-bounded by construction
  * (etl_manager.py:468-475); this keeps the continuous form bounded
  * too.
  *
  * Contracts inherited from [[TxLog.changedFiles]]: compactions inside
  * a span contribute nothing (rewrites, not new rows — and cost zero
  * admission budget); an overwrite inside a span fails the stream (not
  * expressible as additions — same as Delta's source without
  * ignoreChanges); a truncated/vacuumed span, or a clone-v0 carrying
  * deletion vectors, refuses with the re-seed message. Delta's two
  * documented escape hatches exist for appends-only consumers:
  * `.option("ignoreDeletes", true)` skips DELETE commits wholesale
  * (nothing duplicates or resurrects — a CoW delete's adds are
  * rewrites of already-streamed rows, a MoR delete's are re-registered
  * files under a vector), `.option("skipChangeCommits", true)`
  * additionally skips UPDATE / row-rewriting MERGE / mid-span
  * OVERWRITE commits — the stream then silently misses those commits'
  * changes, the option's documented contract. Skipped commits cost
  * zero admission budget. Both flags refuse under `readChangeFeed`
  * (the feed already expresses DML as row-level diffs). A dv-FREE
  * clone streams fine: its absolute v0 entries resolve through the
  * same [[TxLog.readSnapshotTagged]] reader `changesSince` uses. Cost
  * per micro-batch: log metadata + a scan of only the delta files.
  */
class TxLogStreamProvider extends StreamSourceProvider
  with StreamSinkProvider with DataSourceRegister
  with org.apache.spark.sql.connector.catalog.TableProvider
  with org.apache.spark.sql.sources.CreatableRelationProvider {

  override def shortName(): String = "txlog"

  /** `df.write.format("txlog").mode(…).save(dir)` — the batch WRITE
    * dual of the TableProvider read: Append → [[TxLog.commitAppend]],
    * Overwrite → [[TxLog.commitOverwrite]], ErrorIfExists refuses on
    * a logged table, Ignore no-ops on one. `.option("statsCols",
    * "a,b")` records per-file min/max for those columns (the
    * stats-in-log pruning metadata). All table contracts apply
    * exactly as through the Scala API — identity/generated columns,
    * CHECK constraints, schema checks — because this IS that API. */
  override def createRelation(sqlContext: SQLContext,
      mode: org.apache.spark.sql.SaveMode,
      parameters: Map[String, String],
      data: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.sources.BaseRelation = {
    import org.apache.spark.sql.SaveMode
    val spark = sqlContext.sparkSession
    val d = dir(parameters)
    val statsCols = parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase("statsCols") => v
    }.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)
    val logged = TxLog.isLogged(spark, d)
    // DataFrameWriter's contract for ErrorIfExists/Ignore keys on
    // "data already exists at the path", not on "is a logged table":
    // an existing PLAIN dataset must refuse / no-op too — silently
    // converting-and-overwriting someone's parquet dir under the
    // default SaveMode would destroy it
    def hasData: Boolean = logged || {
      val p = new org.apache.hadoop.fs.Path(d)
      val f = p.getFileSystem(spark.sessionState.newHadoopConf())
      f.exists(p) && f.listStatus(p).exists { st =>
        val n = st.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      }
    }
    // `.partitionBy(...)` arrives JSON-encoded under the v1 writer's
    // reserved option key. HONORED on table creation — the batch
    // writes Spark's own key=value layout and registers it in place
    // (the same machinery CONVERT uses: path-recovered values,
    // partition stats, generation-5 readers) — and REFUSED on an
    // existing logged table, mirroring the streaming sink: the
    // physical layout is fixed at registration; later batches prune
    // by per-file stats, not directories. Round-15 shipped the read
    // side of partitioned layouts; before this, the create path
    // silently DROPPED the clause and produced a flat table.
    val partCols: Seq[String] = parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase("__partition_columns") => v
    }.map { js =>
      org.json4s.jackson.JsonMethods.parse(js)
        .children.map(_.values.toString)
    }.getOrElse(Nil)
    if (partCols.nonEmpty) {
      // SaveMode.Ignore keeps its contract even on the partitionBy
      // create path: existing data (logged or plain) → silent no-op,
      // never a refusal.
      if (mode == SaveMode.Ignore && hasData)
        return new org.apache.spark.sql.sources.BaseRelation {
          override def sqlContext: SQLContext = sqlContext0
          override def schema: StructType = data.schema
        }
      require(!logged,
        s"txlog: partitionBy cannot apply to the existing logged " +
          s"table at $d — the layout is fixed at registration; the " +
          "log prunes by per-file column stats instead (statsCols)")
      require(!hasData,
        s"txlog: partitionBy table creation needs an empty target, " +
          s"but $d already holds data (convertInPlace adopts an " +
          "existing layout without rewriting)")
      // Append tolerates a pre-existing EMPTY directory
      data.write.mode(SaveMode.Append)
        .partitionBy(partCols: _*).parquet(d)
      TxLog.convertInPlace(spark, d, statsCols = statsCols)
      return new org.apache.spark.sql.sources.BaseRelation {
        override def sqlContext: SQLContext = sqlContext0
        override def schema: StructType = data.schema
      }
    }
    mode match {
      case SaveMode.Append =>
        TxLog.commitAppend(spark, d, data, statsCols = statsCols)
      case SaveMode.Overwrite =>
        TxLog.commitOverwrite(spark, d, data, statsCols = statsCols)
      case SaveMode.ErrorIfExists if hasData =>
        throw new IllegalArgumentException(
          s"txlog: data already exists at $d (SaveMode.ErrorIfExists)" +
            (if (logged) " — it is a logged table" else
              " — a plain dataset; convertInPlace adopts it without " +
                "rewriting"))
      case SaveMode.ErrorIfExists =>
        TxLog.commitOverwrite(spark, d, data, statsCols = statsCols)
      case SaveMode.Ignore if hasData => ()
      case SaveMode.Ignore =>
        TxLog.commitOverwrite(spark, d, data, statsCols = statsCols)
    }
    new org.apache.spark.sql.sources.BaseRelation {
      override def sqlContext: SQLContext = sqlContext0
      override def schema: StructType = data.schema
    }
  }

  private def sqlContext0: SQLContext =
    SparkSession.active.sqlContext

  // ---- BATCH access (DataSourceV2 TableProvider) --------------------
  // `spark.read.format("txlog").load(dir)` resolves through here (the
  // table pins schema + version and prunes files on pushed filters —
  // [[TxLogBatch]]); `readStream`/`writeStream` fall back to the v1
  // stream source/sink above because the table declares BATCH_READ
  // only (Spark's documented mixed-provider behavior).

  // external metadata accepted so `CREATE TABLE … USING txlog AS
  // SELECT …` passes catalog validation (the v1 CTAS command hands
  // the query's schema here, then writes through createRelation).
  // The LOG stays the source of truth: a logged dir ignores whatever
  // schema the catalog stored (it may be stale across renames /
  // widening); only an unlogged dir (creation in flight) adopts the
  // provided shape for its placeholder.
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap)
      : StructType = {
    import scala.jdk.CollectionConverters._
    TxLogBatch.resolve(SparkSession.active, options.asScala.toMap)._3
  }

  override def getTable(schema: StructType,
      partitioning: Array[org.apache.spark.sql.connector.expressions.Transform],
      properties: java.util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.Table = {
    import scala.jdk.CollectionConverters._
    // NB: DataFrameWriter probes this with its partitionBy transforms
    // BEFORE deciding v1 fallback — partitioning is handled (honored
    // or refused) downstream: createRelation for the save path, the
    // catalog's createTable for SQL DDL
    val (d, v, tschema, pinned, snap) = TxLogBatch.resolveWithSnap(
      SparkSession.active, properties.asScala.toMap)
    val effective = if (v < 0 && schema.nonEmpty) schema else tschema
    new TxLogBatchTable(d, v, effective, pinned, resolvedSnap = snap)
  }

  private def dir(parameters: Map[String, String]): String =
    parameters.get("path").orElse(parameters.get("load")).getOrElse(
      throw new IllegalArgumentException(
        "txlog source needs a table directory: .load(<dir>) or " +
          ".option(\"path\", <dir>)"))

  private def cap(parameters: Map[String, String], name: String)
      : Option[Long] =
    parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase(name) => v.toLong
    }.map { n =>
      require(n > 0, s"txlog source: $name must be positive, got $n")
      n
    }

  private def flag(parameters: Map[String, String], name: String): Boolean =
    parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase(name) => v.toBoolean
    }.getOrElse(false)

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val d = dir(parameters)
    require(TxLog.isLogged(sqlContext.sparkSession, d),
      s"txlog source: no transaction log under $d — create the table " +
        "first (commitOverwrite / a logged MedallionPipeline write)")
    val table = DataType.fromJson(TxLog.snapshot(sqlContext.sparkSession, d)
      .schemaJson).asInstanceOf[StructType]
    val out =
      if (flag(parameters, "readChangeFeed")) TxLogSource.cdcSchema(table)
      else table
    ("txlog", schema.getOrElse(out))
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val cdc = flag(parameters, "readChangeFeed")
    val skipChanges = flag(parameters, "skipChangeCommits")
    val ignoreDels = flag(parameters, "ignoreDeletes")
    require(!(cdc && (skipChanges || ignoreDels)),
      "txlog source: skipChangeCommits/ignoreDeletes apply to the " +
        "plain source only — the change feed already expresses DML")
    new TxLogSource(sqlContext.sparkSession, dir(parameters),
      cap(parameters, "maxFilesPerTrigger"),
      cap(parameters, "maxRowsPerTrigger"),
      maxBytes = cap(parameters, "maxBytesPerTrigger"),
      cdc = cdc,
      startingVersion = parameters.collectFirst {
        case (k, v) if k.equalsIgnoreCase("startingVersion") => v
      },
      startingTimestamp = parameters.collectFirst {
        case (k, v) if k.equalsIgnoreCase("startingTimestamp") => v.toLong
      },
      skipChangeCommits = skipChanges,
      ignoreDeletes = ignoreDels)
  }

  /** `.writeStream.format("txlog")`: the native logged SINK — each
    * micro-batch commits under an (appId, batchId) txn marker, so
    * at-least-once replays land exactly once without the caller
    * writing a foreachBatch body. Append mode commits appends;
    * Complete mode overwrites the table each batch (replays
    * recognized through the same marker). `appId` defaults to the
    * query's checkpoint location — stable across restarts, distinct
    * across queries — and may be set explicitly when several
    * checkpoints should share one idempotence scope. `statsCols`
    * (comma-separated) records per-file min/max for pruning. */
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: OutputMode): Sink = {
    val d = dir(parameters)
    require(partitionColumns.isEmpty,
      "txlog sink does not partitionBy: the log prunes by per-file " +
        "column stats instead (statsCols)")
    require(outputMode == OutputMode.Append() ||
      outputMode == OutputMode.Complete(),
      s"txlog sink supports Append and Complete output modes, got $outputMode")
    // an explicit appId is used verbatim; a checkpoint-derived one is
    // CANONICALIZED (resolved, scheme-qualified URI) first — the same
    // logical checkpoint spelled differently across restarts
    // (relative vs absolute, scheme-qualified after a config change)
    // must not mint a fresh idempotence scope, or a replayed
    // uncommitted batch would commit twice
    val explicitApp = parameters.get("appId")
    val rawCp = parameters.get("checkpointLocation")
    val appId = explicitApp
      .orElse(rawCp.map { c =>
        val p = new org.apache.hadoop.fs.Path(c)
        val fc = p.getFileSystem(
          sqlContext.sparkSession.sessionState.newHadoopConf())
        p.makeQualified(fc.getUri, fc.getWorkingDirectory).toUri.toString
      }).getOrElse(
        throw new IllegalArgumentException(
          "txlog sink needs an idempotence scope: set " +
            ".option(\"checkpointLocation\", …) (usual) or an explicit " +
            ".option(\"appId\", …)"))
    val statsCols = parameters.get("statsCols")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)
    // upgrade bridge: streams created before appId canonicalization
    // recorded markers under the RAW checkpoint string — a replayed
    // batch must be recognized under EITHER spelling, or the one
    // crash-replay the marker exists for would double-commit exactly
    // once across the upgrade
    val legacy = (if (explicitApp.isEmpty) rawCp.toSeq else Nil)
      .filterNot(_ == appId)
    new TxLogSink(sqlContext.sparkSession, d, appId, statsCols, outputMode,
      mergeSchema = flag(parameters, "mergeSchema"),
      legacyAppIds = legacy)
  }
}

/** The v1 streaming SINK over a [[TxLog]] table: addBatch = one
  * txn-marked commit. The micro-batch Dataset arrives
  * streaming-planned (batch writes refuse on it), so it is re-rooted
  * on the batch RDD first — the ForeachBatchSink recipe
  * ([[PlanBridge.asBatch]]). CHECK constraints gate every batch like
  * any other write path; a violating batch fails the QUERY loudly
  * with nothing staged. */
class TxLogSink(spark: SparkSession, dir: String, appId: String,
    statsCols: Seq[String], outputMode: OutputMode,
    mergeSchema: Boolean = false,
    legacyAppIds: Seq[String] = Nil) extends Sink {

  // Highest batchId marked under a LEGACY scope spelling (raw
  // checkpoint string, pre-canonicalization). A one-time upgrade
  // concern: legacy markers can only have been written by runs that
  // predate canonicalization and cannot appear once this sink commits
  // under the canonical scope — so the log is consulted ONCE, at the
  // first batch, not per micro-batch (a permanent per-batch snapshot
  // for brand-new streams that never had legacy markers).
  private lazy val legacyReplayedThrough: Long =
    if (legacyAppIds.isEmpty || !TxLog.isLogged(spark, dir)) Long.MinValue
    else {
      val txns = TxLog.snapshot(spark, dir).txns
      legacyAppIds.flatMap(txns.get).foldLeft(Long.MinValue)(math.max)
    }

  override def addBatch(batchId: Long, data: Dataset[Row]): Unit = {
    // a batch already marked under a legacy scope spelling is a
    // replay — skip before committing under the canonical one
    if (batchId <= legacyReplayedThrough) return
    val batch = PlanBridge.asBatch(data.toDF())
    if (outputMode == OutputMode.Complete())
      TxLog.commitOverwrite(spark, dir, batch, statsCols,
        txn = Some((appId, batchId)))
    else
      TxLog.commitAppend(spark, dir, batch, Some((appId, batchId)),
        statsCols, mergeSchema = mergeSchema)
    ()
  }

  override def toString: String = s"TxLogSink[$dir]"
}

object TxLogSource {
  /** The change-feed schema: the table's columns plus the CDC stamp
    * pair (Delta's readChangeFeed shape). */
  def cdcSchema(table: StructType): StructType =
    StructType(table.fields ++ Seq(
      StructField("_change_type", StringType, nullable = false),
      StructField("_commit_version", LongType, nullable = false)))
}

class TxLogSource(spark: SparkSession, dir: String,
    maxFiles: Option[Long], maxRows: Option[Long],
    maxBytes: Option[Long] = None,
    cdc: Boolean = false,
    startingVersion: Option[String] = None,
    startingTimestamp: Option[Long] = None,
    skipChangeCommits: Boolean = false,
    ignoreDeletes: Boolean = false)
  extends Source
  with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  import org.apache.spark.sql.connector.read.streaming.{Offset => ConnOffset, ReadLimit}

  /** Construction-time snapshot: the stream's schema contract is
    * pinned HERE (Delta's rule — a query reads under its start
    * schema; restart adopts evolution). `mapping0` keeps the
    * query-start logical→physical mapping, which stays valid across
    * later renames because DDL never touches physical columns. */
  private val snap0 = TxLog.snapshot(spark, dir)
  private val tableSchema: StructType =
    DataType.fromJson(snap0.schemaJson).asInstanceOf[StructType]
  private val mapping0: Map[String, String] = snap0.mapping

  override val schema: StructType =
    if (cdc) TxLogSource.cdcSchema(tableSchema) else tableSchema

  private def version(o: AnyRef): Long = o match {
    case l: LongOffset => l.offset
    case s: SerializedOffset => LongOffset(s).offset
    case c: ConnOffset => c.json.trim.toLong
  }

  /** Where a FRESH query begins (Delta's startingVersion /
    * startingTimestamp): −1 = full initial load (default);
    * `startingVersion=latest` tails only commits after query start;
    * a number includes THAT version's additions onward; a timestamp
    * resolves to the earliest commit at-or-after it. Resolved once at
    * source construction; restarts ignore it (the engine's offset log
    * wins, same as Delta). At 100 TB this is what lets a new consumer
    * skip the table-sized initial load. */
  private val since0: Long = (startingVersion, startingTimestamp) match {
    case (Some(_), Some(_)) => throw new IllegalArgumentException(
      "txlog source: startingVersion and startingTimestamp are " +
        "mutually exclusive")
    case (Some(v), _) if v.equalsIgnoreCase("latest") =>
      TxLog.snapshot(spark, dir).version
    case (Some(v), _) =>
      val n = v.toLong
      require(n >= 0, s"txlog source: startingVersion must be >= 0 " +
        s"or 'latest', got $n")
      n - 1
    case (_, Some(ts)) => TxLog.versionAtOrAfter(spark, dir, ts) - 1
    case _ => -1L
  }

  /** The (files, rows, bytes) stream-cost of each commit, parsed
    * once — log metadata, never data. bytes = None when the commit
    * predates byte recording (treated as over-budget, never free). */
  private val costCache =
    scala.collection.mutable.Map.empty[Long, (Long, Long, Option[Long])]
  private def costOf(v: Long): (Long, Long, Option[Long]) =
    costCache.getOrElseUpdate(v, TxLog.commitAddCost(spark, dir, v,
      skipChangeCommits, ignoreDeletes))

  /** Fixed end bound under Trigger.AvailableNow: the head at query
    * start. The engine keeps calling [[latestOffset]] until the
    * returned offset reaches it, so a capped backlog drains in
    * several bounded batches and THEN the query terminates — the
    * semantics a one-shot v1 getOffset wrapper cannot give (it
    * snapshots one capped offset and stops a budget short). */
  @volatile private var availableEnd: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableEnd = Some(TxLog.snapshot(spark, dir).version)

  override def getDefaultReadLimit: ReadLimit = {
    val limits = (maxFiles.map(n => ReadLimit.maxFiles(n.toInt)) ++
      maxRows.map(n => ReadLimit.maxRows(n)) ++
      maxBytes.map(n => ReadLimit.maxBytes(n))).toArray
    limits.length match {
      case 0 => ReadLimit.allAvailable()
      case 1 => limits(0)
      case _ => ReadLimit.compositeLimit(limits)
    }
  }

  /** The next offset to expose, measured from the ENGINE-provided
    * start (its own offset log — no side-channel frontier state to
    * persist or recover): the head, or — under admission control —
    * the furthest version whose cumulative (files, rows) cost from
    * `start` fits both budgets (≥ 1 commit always, for progress on
    * oversized commits). One driver pass over log metadata either
    * way. Compactions cost zero (their adds are rewrites the span
    * skips), so maintenance never stalls data behind the cap. */
  override def latestOffset(start: ConnOffset, limit: ReadLimit)
      : ConnOffset = {
    val since = Option(start).map(o => version(o)).getOrElse(since0)
    val headNow = TxLog.snapshot(spark, dir).version
    val head = availableEnd.fold(headNow)(math.min(headNow, _))
    val next =
      if (maxFiles.isEmpty && maxRows.isEmpty && maxBytes.isEmpty) head
      else if (since >= head) head
      else {
        var v = since
        var files = 0L
        var rows = 0L
        var bytes = 0L
        // once a commit of UNKNOWN byte size (predating byte
        // recording) is admitted under a byte budget, the spend so
        // far is unknowable — stop granting budget-costing commits
        // outright rather than poisoning the accumulator with a
        // sentinel (which would co-admit under budgets above it and
        // stall zero-cost commits under budgets below it)
        var unknownSpend = false
        var granting = true
        while (granting && v < head) {
          val (cf, cr, cb) = costOf(v + 1)
          // skipped/compact/empty commits cost zero in every
          // dimension — admitting them never consumes budget, even
          // after an unknown-size commit
          val zeroCost = cf == 0L && cr == 0L && cb.contains(0L)
          // a commit predating byte recording has unknown size: under
          // a byte budget it never "fits" (conservative, like null
          // column bounds) — the >= 1 rule below still admits it
          // alone, so old-log backlogs drain one commit per trigger
          val fits = !unknownSpend &&
            maxFiles.forall(files + cf <= _) &&
            maxRows.forall(rows + cr <= _) &&
            maxBytes.forall(b => cb.exists(c => bytes + c <= b))
          if (fits || zeroCost || v == since) { // >= 1 commit per trigger
            v += 1; files += cf; rows += cr
            bytes += cb.getOrElse(0L)
            if (cb.isEmpty && maxBytes.nonEmpty) unknownSpend = true
          } else granting = false
        }
        v
      }
    LongOffset(math.max(next, since))
  }

  override def reportLatestOffset(): ConnOffset =
    LongOffset(TxLog.snapshot(spark, dir).version)

  /** Legacy uncapped path — with [[SupportsTriggerAvailableNow]]
    * mixed in, the engine drives this source through
    * [[latestOffset]]; getOffset remains only for the Source
    * contract and reports the raw head. */
  override def getOffset: Option[V1Offset] =
    Some(LongOffset(TxLog.snapshot(spark, dir).version))

  override def getBatch(start: Option[V1Offset], end: V1Offset): DataFrame = {
    val since = start.map(o => version(o)).getOrElse(since0)
    val until = version(end)
    if (cdc) {
      // CHANGE-FEED mode (Delta's readChangeFeed): the span's
      // row-level diff, stamped (_change_type, _commit_version) — a
      // downstream copy follows the table THROUGH deletes, updates
      // and merges, which the plain source refuses. The feed plan
      // composes joins over file relations, so it rides behind one
      // streaming LogicalRDD leaf instead of per-relation marks.
      if (until <= since) PlanBridge.emptyStreamingBatch(spark, schema)
      else {
        val feed = TxLog.changeFeed(spark, dir, since, Some(until))
        // mid-stream DDL changes the feed's column set/names; the
        // engine would kill the query on an opaque batch-schema
        // assertion — refuse with Delta's actionable contract instead.
        // Compare (name, type) pairs only: nullability/metadata vary
        // legitimately between the declared schema and a feed plan
        def shape(st: StructType) =
          st.fields.map(f => (f.name, f.dataType)).toSeq
        if (shape(feed.schema) != shape(schema))
          throw new IllegalStateException(
            s"TxLog CDC stream on $dir: table schema changed " +
              s"mid-stream (query started with ${schema.simpleString}, " +
              s"the feed now produces ${feed.schema.simpleString}); " +
              "restart the query to adopt the new schema")
        PlanBridge.asStreamingRdd(spark, feed)
      }
    } else if (until <= since) {
      // startingVersion=latest re-resolves since0 to the CURRENT head
      // at every source construction; a crash between offset-WAL
      // write and commit, plus table commits while the query is down,
      // restarts with getBatch(None, oldEnd) where since0 > oldEnd —
      // an empty batch, not a changedFiles refusal loop (the CDC
      // branch has the same guard)
      PlanBridge.emptyStreamingBatch(spark, schema)
    } else {
      val (added, untilSnap) =
        TxLog.changedFilesDetail(spark, dir, since, Some(until),
          skipChangeCommits, ignoreDeletes)
      if (added.isEmpty) PlanBridge.emptyStreamingBatch(spark, tableSchema)
      else {
        // SCHEMA STABILITY (Delta's rule): the batch is read under the
        // QUERY-START schema and mapping, not the span's — so a
        // mid-stream RENAME flows (the physical column is unchanged;
        // rows keep arriving under the names the query started with),
        // an ADDED column is simply not projected until a restart
        // adopts it, and a replayed pre-widening span after restart
        // reads absent columns as nulls. A DROPPED query-start column
        // is unrecoverable — its physical name lands in `retired` —
        // and refuses with the restart contract instead of silently
        // nulling the column or dying on the engine's batch-schema
        // assertion.
        val retired = untilSnap.retired.toSet
        val dropped = tableSchema.fieldNames.filter(f =>
          retired.contains(mapping0.getOrElse(f, f)))
        if (dropped.nonEmpty)
          throw new IllegalStateException(
            s"TxLog stream on $dir: column(s) ${dropped.mkString(", ")} " +
              "the query started with were dropped mid-stream; restart " +
              "the query to adopt the new schema")
        PlanBridge.asStreamingBatch(spark,
          TxLog.readSnapshotTagged(spark, dir, untilSnap.copy(
            files = added, schemaJson = tableSchema.json,
            mapping = mapping0)).drop(TxLog.TagFile, TxLog.TagIdx))
      }
    }
  }

  override def stop(): Unit = ()

  override def toString: String = s"TxLogSource[$dir]"
}
