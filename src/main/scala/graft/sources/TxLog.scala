package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{Held, PlanBridge, StatsWrite}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods

/** A file-level transaction log over plain-parquet datasets — the
  * multi-writer / snapshot-isolation / time-travel slice of the
  * Delta-Iceberg gap (SURVEY §6), emulated with the same primitives
  * Delta uses on HDFS: an ordered log of JSON commit files under
  * `_graft_log/`, each claimed with an atomic create-if-absent, each
  * listing the data files the commit adds and removes (the public
  * protocol shape: delta-io/delta PROTOCOL.md; no Delta code or
  * artifact is used — none exists in this offline container).
  *
  * Semantics:
  *  - **Snapshot isolation**: a read resolves the file list from one
  *    log version; writers never mutate committed files (overwrite =
  *    new files + logical remove), so a long scan is never torn by a
  *    concurrent write and a crashed write leaves no partial state.
  *  - **Optimistic concurrency**: the next version number is claimed
  *    by `fs.create(…, overwrite = false)`; a loser re-reads the log
  *    and REBASES. Appends commute with anything (retry at the next
  *    version). A commit that removes files (compact) conflicts iff a
  *    concurrent commit already removed one of them
  *    (`ConcurrentModificationException`); an overwrite re-targets
  *    whatever files the fresh head holds (write-serializable
  *    last-replace-wins, Delta's default isolation for replaces).
  *    A metadata commit (properties, constraints, defaults, identity,
  *    generated columns, txn markers) re-runs its checks against the
  *    fresh head and recomputes its full new value from it; one that
  *    validated the table's rows refuses when a concurrent commit
  *    added files, and schema DDL refuses on any lost claim.
  *  - **Idempotent txn markers**: a commit may carry (appId, batchId);
  *    a batchId ≤ the last recorded for that appId is silently skipped
  *    — exactly-once sinks for Structured Streaming's replayed
  *    micro-batches ([[exactlyOnceSink]],
  *    `MedallionPipeline.ingestStream`).
  *  - **Time travel**: [[read]] with `asOf = Some(v)` replays the log
  *    to version v; files stay on disk until [[vacuum]].
  *  - **Checkpoints**: every [[CheckpointInterval]] commits the full
  *    replayed state is written beside the log, so snapshot resolution
  *    is O(recent commits), and commits older than a checkpoint may be
  *    truncated.
  *
  * At 100 TB the log holds file METADATA only (path + row count): a
  * commit is one tiny JSON write regardless of data size, snapshot
  * resolution reads the latest checkpoint plus a handful of commits,
  * and the data files themselves are immutable parquet — the same
  * scaling story as Delta's log, minus multi-cluster commit services
  * (create-if-absent is the single-filesystem primitive; S3-style
  * stores need a coordinating service, documented as the swap seam).
  *
  * Logged datasets must be read through [[read]] — a plain
  * `spark.read.parquet(dir)` would see removed-but-unvacuumed files.
  */
object TxLog {

  val LogDir = "_graft_log"

  /** Materialize a bounded, multiply-consumed relation ONCE with its
    * lineage TRUNCATED. The DML surfaces drive several actions over
    * their directive/source relations; `.persist()` alone makes
    * re-EXECUTION cheap but every action still re-PLANS the full
    * analyzed tree — for a change-feed span (one diff pipeline per DML
    * commit, referenced by several branches) that tree reaches
    * hundreds of exchanges and the per-action planning cost dwarfs
    * the data (guide §3.3: materialize to truncate very large plans).
    *
    * ONE job — the eager local checkpoint's — materializes and
    * measures the relation ([[Held.checkpoint]]); the size decides its
    * form:
    *  - within a positive budget of bytes it is DRIVER-HELD: a
    *    `LocalRelation` over the rows that job returned, its cached
    *    blocks freed at once. Joins against it can broadcast as
    *    planned, with no adaptive re-plan (the keyed applies' probes
    *    and anti-joins do), and projections, filters and declarative
    *    aggregates over it run on the driver with no job
    *    ([[foldedHead]], [[Held.folded]]); lost executor blocks cannot
    *    touch it;
    *  - past the budget it is the eager local checkpoint it always
    *    was: one flat `LogicalRDD` whose blocks live on the executors
    *    until [[releaseCheckpoint]]. Its lineage is gone, so a lost
    *    block (a dead executor, an evicted or unpersisted RDD) fails
    *    every later consumer with Spark's "checkpoint block not found"
    *    error — the verb throws before it commits, it never reads
    *    wrong rows.
    *
    * The budget is [[HeldBudget]], capped at what the driver accepts
    * back from one job and ships out in task messages: half of
    * `spark.driver.maxResultSize` and of `spark.rpc.message.maxSize`
    * ([[Held.acceptable]]) — a relation past either stays distributed
    * rather than failing the job. One INFO line per call on
    * `graft.sources.TxLog` names the form: `txlog materialize <label>:
    * driver rows=<n> bytes=<b>` or `distributed bytes=<b>`. */
  private[graft] def checkpointed(df: DataFrame, label: String): DataFrame = {
    val (frame, m) = Held.checkpoint(df, HeldBudget.value)
    m.rows match {
      case Some(rows) => log.info(
        s"txlog materialize $label: driver rows=${rows.size} bytes=${m.bytes}")
      case None =>
        log.info(s"txlog materialize $label: distributed bytes=${m.bytes}")
    }
    frame
  }

  /** The bytes one [[checkpointed]] relation may hold on the driver,
    * before the driver's own caps ([[Held.acceptable]]).
    * `Scd2.refresh` holds the most at once — its feed, its directives,
    * the history sliver and the apply source — and four relations at
    * this budget fit in an eighth of the heap. Consumers may copy a
    * held relation again (its scan's rows, a broadcast's hash
    * relation, a folded key set), so the footprint can reach a few
    * such eighths at the bound. A zero budget holds
    * nothing; tests of the distributed form scope one with
    * `HeldBudget.withValue(0L) { … }`. */
  private[graft] val HeldBudget =
    new scala.util.DynamicVariable[Long](Runtime.getRuntime.maxMemory / 32)

  /** Free the executor storage behind one frame [[checkpointed]]
    * returned: exactly the RDD at its root — never another checkpoint
    * it was built from, which may still have live consumers. After
    * release the frame is not recomputable — call only once every
    * consumer is done. A driver-held frame has no storage to free. */
  private[graft] def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.unpersist(blocking = false)
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => ()
      case p => throw new IllegalArgumentException(
        s"TxLog: releaseCheckpoint needs a frame returned by checkpointed, " +
          s"got a ${p.nodeName} plan")
    }

  /** The first row of `df` — a projection, filter or declarative
    * aggregate over [[checkpointed]] relations — computed on the
    * driver with no job when they are held, and by `df.head()`
    * otherwise. */
  private[graft] def foldedHead(df: DataFrame): Row =
    Held.fold(df).map(_.head).getOrElse(df.head())

  /** Every row of `df`, as [[foldedHead]]: on the driver when the
    * relations under it are held, by `df.collect()` otherwise. */
  private[graft] def foldedRows(df: DataFrame): Seq[Row] =
    Held.fold(df).getOrElse(df.collect().toSeq)

  /** Label the Spark jobs `f` launches `txlog:label` (guide §1.5) so
    * profilers and the UI attribute commit-machinery phases
    * ([[graft.JobLabels]]). */
  private[graft] def described[A](spark: SparkSession, label: String)
      (f: => A): A =
    graft.JobLabels.described(spark, "txlog", label)(f)

  /** Write a full-state checkpoint every this-many commits. */
  val CheckpointInterval = 10
  /** Minimum age before [[vacuum]] may collect an orphaned dot-tmp
    * claim file from the log dir — protects an in-flight writer's
    * temp from a default (minAgeMs = 0) vacuum. */
  val TmpAgeFloorMs: Long = 10L * 60 * 1000

  private val MaxAttempts = 20

  /** The highest log-format feature generation this reader
    * understands (Delta's protocol/minReaderVersion shape): 1 = base
    * log, 2 = deletion vectors + absolute file paths (shallow
    * clone), 3 = column mapping, 4 = identity + generated columns,
    * 5 = path-partitioned registration (hive-layout entries whose
    * partition values live in the file path — an older reader would
    * read those columns as silent NULLs). A commit that first USES a
    * feature
    * records the required generation; [[snapshot]] refuses a table
    * whose recorded requirement exceeds this reader — because an
    * OLDER reader would not refuse: it would parse the commit, drop
    * the fields it doesn't know, and silently read deleted rows as
    * live (dv), resolve absolute paths wrongly (clone), project
    * stale names (mapping), or append ungenerated/colliding ids
    * (identity). A loud version error is the only safe
    * failure mode for forward compatibility. */
  val CurrentReader = 5

  /** Per-column stats a commit may record for a data file: the
    * column's catalog dtype plus min/max as Spark's canonical
    * cast-to-string forms (order-preserving for numerics, strings,
    * dates, timestamps — the [[StatsManifest]] encoding). `None`
    * min/max = all-null column → pruning keeps the file. `nulls` is
    * the column's null count (Delta's nullCount): it makes
    * fully-contained files countable from METADATA in [[countWhere]]
    * (min/max ignore nulls, so rows-in-range ≠ file rows when nulls
    * exist). `None` on commits written before it was recorded —
    * consumers must treat that as unknown, not zero. */
  final case class ColStats(dtype: String, min: Option[String],
      max: Option[String], nulls: Option[Long] = None,
      kmv: Option[String] = None)

  /** One live data file in a snapshot: `path` relative to the dataset
    * dir, plus its row count and optional per-column min/max — all
    * commit-time metadata, so `history`, row-count queries, and
    * [[readPruned]] file skipping never touch the data (Delta's
    * stats-in-log). Commits written before stats existed parse with
    * an empty map (json4s applies the default).
    *
    * `dv` is the file's DELETION VECTOR (Delta's merge-on-read DML):
    * the dir-relative path of a parquet relation of `(file,
    * row_index)` pairs under `_graft_dv/` naming the rows of this
    * file that are logically deleted — the data file itself is
    * byte-identical, reads subtract the vector, [[compact]]
    * materializes it away. `dvRows` counts this file's deleted rows,
    * so `rows - dvRows` is its live count. Several file entries may
    * share one vector relation (a single DML commit writes ONE), and
    * a superseded vector may still carry stale pairs for files whose
    * entry moved on — harmless, the read subtracts by (file, row)
    * identity. Plain files parse with `dv = None` (json4s default).
    *
    * `bytes` is the file's on-disk size, recorded at commit time
    * since round 13 — what stream admission's `maxBytesPerTrigger`
    * budgets against. Entries from older commits parse as `None`;
    * consumers must treat the absence CONSERVATIVELY (like null
    * bounds in [[ColStats]]), never as zero. */
  final case class TxFile(path: String, rows: Long,
      stats: Map[String, ColStats] = Map.empty,
      dv: Option[String] = None, dvRows: Long = 0L,
      bytes: Option[Long] = None)

  /** An IDENTITY column's definition (Delta's `GENERATED … AS
    * IDENTITY`): values generate from `start` by `step` (non-zero;
    * negative counts down); `high` is the generation HIGH WATERMARK —
    * the farthest-from-start value ever committed (None until the
    * first generated/observed value). Generated values are unique
    * and move strictly past the watermark but MAY HAVE GAPS (the
    * Delta contract): each append assigns per-task blocks off the
    * monotonic task id — one pass, no shuffle, no driver loop — and
    * the new watermark is read back from the staged files' own
    * min/max stats (commit metadata, zero extra scans). `always =
    * true` refuses caller-supplied values (GENERATED ALWAYS).
    * DOCUMENTED DIVERGENCE from Delta: an ALL-NULL identity column
    * reads as OMISSION and generates, even for GENERATED ALWAYS —
    * SQL `INSERT (cols…)` arrives with omitted columns engine-filled
    * as NULL, indistinguishable from an explicit NULL column at the
    * commit layer (both the SQL bridge and the Scala API hand the
    * writer a plain DataFrame), so the engine resolves the ambiguity
    * toward the everyday INSERT shape; Delta refuses explicit NULLs.
    * Any batch carrying a REAL value keeps the strict contracts
    * (ALWAYS refuses; BY DEFAULT refuses mixed NULLs);
    * `false` is GENERATED BY DEFAULT — explicit values flow and the
    * watermark absorbs them when they land beyond it. */
  final case class IdentitySpec(start: Long, step: Long,
      high: Option[Long] = None, always: Boolean = true) {
    require(step != 0L, "TxLog: identity step must be non-zero")
    /** The next value generation starts from. */
    def nextBase: Long = high.map(_ + step).getOrElse(start)
    /** Fold an observed committed value into the watermark. */
    def absorb(v: Long): IdentitySpec =
      copy(high = Some(high.fold(v)(h =>
        if (step > 0) math.max(h, v) else math.min(h, v))))
  }

  /** The resolved state of the table at `version`: live files, the
    * schema (Spark StructType JSON), the latest batchId committed
    * per streaming appId, and the active CHECK constraints
    * (name → SQL expression).
    *
    * `mapping` is Delta-style COLUMN MAPPING (LOGICAL name →
    * PHYSICAL parquet column): empty = identity (the pre-mapping
    * fast path — zero read/write overhead). [[renameColumn]] /
    * [[dropColumn]] only ever edit this map and the logical schema —
    * the physical columns inside data files NEVER change, so DDL is
    * a KB commit at any table size. `retired` lists physical names
    * that still exist inside live data files but belong to no
    * logical column (dropped, or freed by a rename) — a later
    * re-add of that logical name must take a FRESH physical name or
    * the old files' values would silently resurrect. */
  final case class TxSnapshot(version: Long, schemaJson: String,
      files: Seq[TxFile], txns: Map[String, Long],
      constraints: Map[String, String] = Map.empty,
      mapping: Map[String, String] = Map.empty,
      retired: Seq[String] = Nil,
      minReader: Int = 1,
      identity: Map[String, IdentitySpec] = Map.empty,
      generated: Map[String, String] = Map.empty,
      partitionCols: Seq[String] = Nil,
      defaults: Map[String, String] = Map.empty,
      properties: Map[String, String] = Map.empty) {
    /** The physical parquet name of a logical column. */
    def phys(logical: String): String = mapping.getOrElse(logical, logical)
    /** Physical names no new column may claim. */
    def reservedPhys: Set[String] = mapping.values.toSet ++ retired
  }

  /** The table-metadata fields one commit records, each optional:
    * `None` leaves the field as the previous version had it, `Some`
    * (an empty map too) replaces it whole — replay is last-write-wins
    * per field, except `minReader`, which only ever rises. A
    * checkpoint records the same fields for the whole snapshot (only
    * the non-empty ones). [[Meta.fields]] is the one renderer and
    * [[Meta.parse]] the one parser, for commits and checkpoints
    * alike. */
  private[graft] final case class Meta(
      schemaJson: Option[String] = None,
      mapping: Option[Map[String, String]] = None,
      retired: Option[Seq[String]] = None,
      minReader: Option[Int] = None,
      constraints: Option[Map[String, String]] = None,
      identity: Option[Map[String, IdentitySpec]] = None,
      generated: Option[Map[String, String]] = None,
      partitionCols: Option[Seq[String]] = None,
      defaults: Option[Map[String, String]] = None,
      properties: Option[Map[String, String]] = None) {
    /** The set fields as JSON, in `order` (commits and checkpoints
      * each keep the field order they have always been written in). */
    def fields(order: Seq[String]): List[JField] = {
      val set = Map[String, Option[JValue]](
        "schemaJson" -> schemaJson.map(JString(_)),
        "mapping" -> mapping.map(m => m: JValue),
        "retired" -> retired.map(r => r: JValue),
        "minReader" -> minReader.map(m => m: JValue),
        "constraints" -> constraints.map(m => m: JValue),
        "identity" -> identity.map(identityJson),
        "generated" -> generated.map(m => m: JValue),
        "partitionCols" -> partitionCols.map(p => p: JValue),
        "defaults" -> defaults.map(m => m: JValue),
        "properties" -> properties.map(m => m: JValue))
      order.flatMap(k => set(k).map(JField(k, _))).toList
    }
  }

  private[graft] object Meta {
    val CommitOrder = Seq("schemaJson", "minReader", "mapping", "retired",
      "constraints", "identity", "generated", "partitionCols", "defaults",
      "properties")
    /** A checkpoint writes its schema ahead of the file list itself. */
    val CheckpointOrder = Seq("constraints", "mapping", "retired",
      "identity", "generated", "partitionCols", "defaults", "properties",
      "minReader")

    /** The schema plus every non-empty field of `s` (what a checkpoint
      * records). */
    def of(s: TxSnapshot): Meta =
      Meta(Some(s.schemaJson), Some(s.mapping).filter(_.nonEmpty),
        Some(s.retired).filter(_.nonEmpty), Some(s.minReader).filter(_ > 1),
        Some(s.constraints).filter(_.nonEmpty),
        Some(s.identity).filter(_.nonEmpty),
        Some(s.generated).filter(_.nonEmpty),
        Some(s.partitionCols).filter(_.nonEmpty),
        Some(s.defaults).filter(_.nonEmpty),
        Some(s.properties).filter(_.nonEmpty))

    def parse(j: JValue): Meta = {
      // json4s extracts an ABSENT map field as Some(empty map): match
      // on presence, or every commit would reset the field
      def opt[A: Manifest](k: String): Option[A] = j \ k match {
        case JNothing => None
        case jv => Some(jv.extract[A])
      }
      Meta(opt[String]("schemaJson"), opt[Map[String, String]]("mapping"),
        opt[Seq[String]]("retired"), opt[Int]("minReader"),
        opt[Map[String, String]]("constraints"),
        opt[Map[String, IdentitySpec]]("identity"),
        opt[Map[String, String]]("generated"),
        opt[Seq[String]]("partitionCols"),
        opt[Map[String, String]]("defaults"),
        opt[Map[String, String]]("properties"))
    }
  }

  private implicit val formats: Formats = DefaultFormats

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def logPath(dir: String) = new Path(dir, LogDir)

  /** Resolve a file-entry path against the dataset dir. Entries are
    * normally dir-relative; a SHALLOW CLONE registers the source's
    * files by ABSOLUTE path (zero copy), which resolve as themselves. */
  private[graft] def resolveData(dir: String, p: String): String =
    if (p.startsWith("/") || p.contains("://")) p else s"$dir/$p"

  private def resolvePath(dir: String, p: String): Path = {
    val pp = new Path(p)
    if (pp.isAbsolute) pp else new Path(dir, p)
  }

  /** The bare file name of an entry path (what `_metadata.file_name`
    * and deletion vectors key by — names are UUID-unique). */
  private def nameOf(p: String): String = p.split('/').last

  /** THE "were vacuumed" refusal: every reader of older entries (the
    * span readers, [[restore]], both clones) checks its data files and
    * deletion vectors here before planning a scan, so a reaped file
    * refuses with a clear contract instead of a scan-time
    * path-not-found. Bare root entries are looked up in ONE listing of
    * `dir`, taken on first need and shared by every check on this
    * instance; only nested or absolute entries (vectors, hive layouts,
    * clone references) ask the filesystem one by one. */
  private final class Presence(spark: SparkSession, dir: String) {
    private val f = fs(spark, new Path(dir))
    private lazy val root = f.listStatus(new Path(dir))
      .filter(_.isFile).map(_.getPath.getName).toSet
    private def gone(paths: Seq[String]): Seq[String] =
      paths.distinct.filterNot(p =>
        if (p.contains("/")) f.exists(resolvePath(dir, p)) else root(p))

    /** Refuse `what` (e.g. "cannot restore to 3") when a file of
      * `files` or a vector of `vectors` is gone; `after` follows the
      * count and the first names. */
    def check(files: Seq[String], vectors: Seq[String], what: String,
        after: String = ""): Unit = {
      val (gf, gv) = (gone(files), gone(vectors))
      require(gf.isEmpty && gv.isEmpty, s"TxLog: $what — " +
        Seq(gf -> "data file(s)", gv -> "deletion vector(s)")
          .collect { case (g, kind) if g.nonEmpty => s"${g.size} $kind" }
          .mkString(" and ") +
        s" were vacuumed (first: ${(gf ++ gv).take(2).mkString(", ")})$after")
    }
  }

  /** The identity [[readSnapshotTagged]] emits as TagFile for this
    * snapshot's files: base name for flat tables, dir-relative path
    * for path-partitioned registrations (base names may repeat
    * across partition dirs there). Every TagFile consumer matches
    * through this, so the two can never drift. */
  private[graft] def fileKey(snap: TxSnapshot, f: TxFile): String =
    if (snap.partitionCols.isEmpty) nameOf(f.path) else f.path

  private def versionFile(dir: String, v: Long) =
    new Path(logPath(dir), f"$v%020d.json")

  private def checkpointFile(dir: String, v: Long) =
    new Path(logPath(dir), f"$v%020d.checkpoint.json")

  private val CommitName = """(\d{20})\.json""".r
  private val CheckpointName = """(\d{20})\.checkpoint\.json""".r

  /** (commit versions, checkpoint versions), each sorted ascending. */
  private def listLog(spark: SparkSession, dir: String)
      : (Seq[Long], Seq[Long]) = {
    val lp = logPath(dir)
    val f = fs(spark, lp)
    if (!f.exists(lp)) return (Nil, Nil)
    val names = f.listStatus(lp).filter(_.isFile).map(_.getPath.getName)
    val commits = names.collect { case CommitName(v) => v.toLong }
    val cps = names.collect { case CheckpointName(v) => v.toLong }
    (commits.sorted.toSeq, cps.sorted.toSeq)
  }

  def isLogged(spark: SparkSession, dir: String): Boolean =
    listLog(spark, dir)._1.nonEmpty

  private def readText(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  /** Atomic claim of one log slot: create-if-absent (the Delta-on-HDFS
    * commit primitive). False = another writer owns this version.
    *
    * On HDFS `create(…, overwrite = false)` is an atomic namenode op.
    * Hadoop's LOCAL filesystem, however, implements it as
    * check-then-act (exists? then open) — two same-JVM writers can both
    * pass the check and the second SILENTLY truncates the first's
    * commit, losing it. For `file:` URIs claim with O_EXCL
    * (`CREATE_NEW`) through java.nio instead, which is atomic at the
    * syscall level. */
  private def tryWrite(f: FileSystem, p: Path, content: String): Boolean = {
    if (f.exists(p)) return false
    if (f.getUri.getScheme == "file") {
      // two-step claim: write the FULL content to a dot-tmp sibling
      // (invisible to listLog's name filter), then hard-link it into
      // place — link(2) is atomic AND the target appears with its
      // complete content, so a concurrent reader (a live streaming
      // source polling the log) can never observe a half-written
      // commit. A bare CREATE_NEW write makes the file visible EMPTY
      // first — observed as a "No content to map" parse failure under
      // concurrent stream polling.
      val local = java.nio.file.Paths.get(p.toUri.getPath)
      java.nio.file.Files.createDirectories(local.getParent)
      val tmp = local.resolveSibling(
        s".${local.getFileName}.${UUID.randomUUID.toString.take(8)}.tmp")
      java.nio.file.Files.write(tmp, content.getBytes(UTF_8),
        java.nio.file.StandardOpenOption.CREATE_NEW)
      try {
        java.nio.file.Files.createLink(local, tmp)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        case _: UnsupportedOperationException |
            _: java.nio.file.FileSystemException =>
          // mount without hard-link support (some NFS/FUSE/exFAT):
          // fall back to the O_EXCL claim — still an atomic
          // create-if-absent, accepting the brief empty-then-content
          // visibility window the link path exists to avoid
          try {
            java.nio.file.Files.write(local, content.getBytes(UTF_8),
              java.nio.file.StandardOpenOption.CREATE_NEW)
            true
          } catch {
            case _: java.nio.file.FileAlreadyExistsException => false
          }
      } finally {
        java.nio.file.Files.deleteIfExists(tmp)
        ()
      }
    } else try {
      val out = f.create(p, false)
      try out.write(content.getBytes(UTF_8)) finally out.close()
      true
    } catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
      case e: java.io.IOException if f.exists(p) => false
    }
  }

  /** Sketch size for the per-file KMV distinct-count stats recorded
    * alongside min/max: k = 64 → ±1/√(k−1) ≈ 13% NDV error, 512 B of
    * longs per column per file in the log. The k travels INSIDE each
    * encoded sketch, so a future size change merges correctly against
    * history (merging always trims to the smallest k present). */
  private[graft] val KmvStatsK = 64

  /** kmv stat payload: base64(4-byte big-endian k, then the sketch's
    * longs in unsigned order). */
  private[graft] def kmvEncode(k: Int, hs: Array[Long]): String = {
    val bb = java.nio.ByteBuffer.allocate(4 + 8 * hs.length)
    bb.putInt(k)
    hs.foreach(bb.putLong)
    java.util.Base64.getEncoder.encodeToString(bb.array())
  }

  private[graft] def kmvDecode(s: String): (Int, Array[Long]) = {
    val bb = java.nio.ByteBuffer.wrap(
      java.util.Base64.getDecoder.decode(s))
    val k = bb.getInt
    val n = bb.remaining() / 8
    val hs = new Array[Long](n)
    var i = 0
    while (i < n) { hs(i) = bb.getLong; i += 1 }
    (k, hs)
  }

  /** Whether a column's values feed the KMV sketch: atomic types only
    * (xxhash64 refuses maps; nested hulls are meaningless anyway). */
  private def kmvEligible(dtype: String): Boolean =
    !dtype.startsWith("array<") && !dtype.startsWith("map<") &&
      !dtype.startsWith("struct<")

  /** One stats-collection projection per column: min/max in the
    * canonical cast-to-string form, the null count, and (atomic
    * columns) a KMV distinct-count sketch over `xxhash64(col)` —
    * shared by [[stageData]] (evaluated per file inside the write
    * tasks) and [[convertInPlace]] (a scan of files it did not write)
    * so the recorded stats can never diverge between the two. The sketch
    * is what gives CBO a real NDV for ANY column type (strings —
    * document ids, categories — included; the old range bound only
    * ever covered dense integral keys); [[TxLogStats]] merges the
    * per-file sketches at snapshot load, so restriction re-estimates
    * from exactly the surviving files. */
  private[graft] def statAggExprs(statsCols: Seq[String],
      dtypes: Map[String, String] = Map.empty)
      : Seq[org.apache.spark.sql.Column] =
    statsCols.flatMap { c =>
      val base = Seq(
        min(col(c)).cast("string").as(s"_min_$c"),
        max(col(c)).cast("string").as(s"_max_$c"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"_nulls_$c"))
      if (!dtypes.get(c).forall(kmvEligible)) base
      else {
        import org.apache.spark.sql.catalyst.expressions.{If, IsNull,
          Literal, XxHash64}
        val e = PlanBridge.expression(col(c))
        // null inputs must not count as a distinct value: the agg
        // skips null children, xxhash64 itself never returns null
        val hashed = If(IsNull(e), Literal(null, LongType),
          new XxHash64(Seq(e)))
        base :+ PlanBridge.column(
          graft.functions.KmvSketchAgg(hashed,
            Literal(KmvStatsK)).toAggregateExpression())
          .as(s"_kmv_$c")
      }
    }

  private[graft] def statsOfRow(r: Row, statsCols: Seq[String],
      dtypes: Map[String, String]): Map[String, ColStats] =
    statsCols.map { c =>
      val kmv =
        if (!kmvEligible(dtypes(c))) None
        else scala.util.Try(
          r.getAs[scala.collection.Seq[Long]](s"_kmv_$c"))
          .toOption.filter(_ != null)
          .map(hs => kmvEncode(KmvStatsK, hs.toArray))
      c -> ColStats(dtypes(c),
        Option(r.getAs[String](s"_min_$c")),
        Option(r.getAs[String](s"_max_$c")),
        Some(r.getAs[Long](s"_nulls_$c")),
        kmv = kmv)
    }.toMap

  private def filesJson(files: Seq[TxFile]): JValue =
    files.map { a =>
      val base = ("path" -> a.path) ~ ("rows" -> a.rows)
      val withStats =
        if (a.stats.isEmpty) base
        else base ~ ("stats" -> JObject(a.stats.toList.sortBy(_._1).map {
          case (c, st) => JField(c,
            ("dtype" -> st.dtype) ~ ("min" -> st.min) ~
              ("max" -> st.max) ~ ("nulls" -> st.nulls) ~
              ("kmv" -> st.kmv))
        }))
      val withDv = a.dv.fold(withStats)(d =>
        withStats ~ ("dv" -> d) ~ ("dvRows" -> a.dvRows))
      a.bytes.fold(withDv)(b => withDv ~ ("bytes" -> b))
    }

  private def renderCommit(v: Long, op: String, added: Seq[TxFile],
      removed: Seq[String], meta: Meta, txn: Option[(String, Long)],
      txnsMulti: Seq[(String, Long)] = Nil,
      ts: Long = System.currentTimeMillis()): String = {
    val files: JObject = ("version" -> v) ~ ("op" -> op) ~ ("ts" -> ts) ~
      ("add" -> filesJson(added)) ~ ("remove" -> removed)
    val base = JObject(files.obj ++ meta.fields(Meta.CommitOrder))
    val withTxn = txn.fold(base) { case (app, b) =>
      base ~ ("txn" -> (("appId" -> app) ~ ("batchId" -> b)))
    }
    // COPY INTO's per-source-file idempotency markers: one commit may
    // record MANY (appId, batchId) pairs (sorted for determinism)
    val withMulti =
      if (txnsMulti.isEmpty) withTxn
      else withTxn ~ ("txnMulti" -> txnsMulti.sortBy(_._1).map {
        case (app, b) => ("appId" -> app) ~ ("batchId" -> b)
      })
    JsonMethods.compact(JsonMethods.render(withMulti))
  }

  /** Mutable replay state (driver-side; file-count sized). */
  private final class State {
    var schemaJson: String = ""
    val files = scala.collection.mutable.LinkedHashMap[String, TxFile]()
    val txns = scala.collection.mutable.Map[String, Long]()
    var constraints = Map.empty[String, String]
    var mapping = Map.empty[String, String]
    var retired = Seq.empty[String]
    var minReader = 1
    var identity = Map.empty[String, IdentitySpec]
    var generated = Map.empty[String, String]
    var partitionCols = Seq.empty[String]
    var defaults = Map.empty[String, String]
    var properties = Map.empty[String, String]
    def toSnapshot(v: Long): TxSnapshot =
      TxSnapshot(v, schemaJson, files.values.toSeq.sortBy(_.path),
        txns.toMap, constraints, mapping, retired, minReader, identity,
        generated, partitionCols, defaults, properties)
  }

  /** JSON form of an identity map (sorted for determinism); `high`
    * omits when None, like every other optional log field. */
  private def identityJson(m: Map[String, IdentitySpec]): JObject =
    JObject(m.toList.sortBy(_._1).map { case (k, s) =>
      val base: JObject = ("start" -> s.start) ~ ("step" -> s.step) ~
        ("always" -> s.always)
      JField(k, s.high.fold(base)(h => base ~ ("high" -> h)))
    })

  private def applyCommit(st: State, j: JValue): Unit = {
    (j \ "remove").extract[Seq[String]].foreach(st.files.remove)
    (j \ "add").extract[Seq[TxFile]].foreach(a => st.files(a.path) = a)
    val m = Meta.parse(j)
    m.schemaJson.foreach(st.schemaJson = _)
    m.mapping.foreach(st.mapping = _)
    m.retired.foreach(st.retired = _)
    m.minReader.foreach(r => st.minReader = math.max(st.minReader, r))
    m.constraints.foreach(st.constraints = _)
    m.identity.foreach(st.identity = _)
    m.generated.foreach(st.generated = _)
    m.partitionCols.foreach(st.partitionCols = _)
    m.defaults.foreach(st.defaults = _)
    m.properties.foreach(st.properties = _)
    // `copyintosz:` markers are byte-LENGTH fingerprints, NOT
    // monotonic batch ids — a source file can SHRINK, and max-replay
    // would pin the old larger length forever: upToDate's equality
    // check then never matches again and every COPY INTO rerun
    // re-ingests the file (duplicate rows), while the rebase
    // dup-guard's size comparison reads the stale max too. Replay
    // them last-write-wins (commits apply in version order, so the
    // latest commit's recorded length wins — exactly the fingerprint
    // semantics). Everything else keeps the monotonic-max replay
    // (streaming batch ids; `copyinto:` mtimes gate by `>=`).
    def recordTxn(app: String, b: Long): Unit =
      if (app.startsWith("copyintosz:")) st.txns(app) = b
      else st.txns(app) = math.max(b, st.txns.getOrElse(app, Long.MinValue))
    for {
      app <- (j \ "txn" \ "appId").extractOpt[String]
      b <- (j \ "txn" \ "batchId").extractOpt[Long]
    } recordTxn(app, b)
    (j \ "txnMulti") match {
      case JNothing => ()
      case jv => jv.extract[Seq[JObject]].foreach { o =>
        for {
          app <- (o \ "appId").extractOpt[String]
          b <- (o \ "batchId").extractOpt[Long]
        } recordTxn(app, b)
      }
    }
  }

  /** Resolve the table state at `asOf` (default: head): latest
    * checkpoint ≤ target + the commits after it. Fails if the needed
    * log span was truncated. */
  def snapshot(spark: SparkSession, dir: String,
      asOf: Option[Long] = None): TxSnapshot = {
    val (commits, cps) = listLog(spark, dir)
    require(commits.nonEmpty, s"TxLog: no transaction log under $dir/$LogDir")
    val head = commits.max
    val target = asOf.getOrElse(head)
    require(target >= 0 && target <= head,
      s"TxLog: version $target out of range [0, $head]")
    val f = fs(spark, logPath(dir))
    val cp = cps.filter(_ <= target).lastOption
    val st = new State
    cp.foreach { v =>
      // a checkpoint is one commit's metadata fields plus the full
      // file list and txn markers
      val j = JsonMethods.parse(readText(f, checkpointFile(dir, v)))
      applyCommit(st, j)
      (j \ "files").extract[Seq[TxFile]].foreach(a => st.files(a.path) = a)
      (j \ "txns").extract[Map[String, Long]].foreach { case (k, b) =>
        st.txns(k) = b
      }
    }
    val needed = (cp.getOrElse(-1L) + 1) to target
    val present = commits.toSet
    val missing = needed.filterNot(present)
    require(missing.isEmpty,
      s"TxLog: commits ${missing.take(3).mkString(",")}… truncated below " +
        s"any checkpoint ≤ $target")
    needed.foreach { v =>
      applyCommit(st, JsonMethods.parse(readText(f, versionFile(dir, v))))
    }
    require(st.minReader <= CurrentReader,
      s"TxLog: table at $dir requires log-format generation " +
        s"${st.minReader}, this reader supports $CurrentReader — " +
        "upgrade the library before reading (refusing is the only " +
        "safe behavior: ignoring unknown features would silently " +
        "corrupt the read)")
    st.toSnapshot(target)
  }

  private def writeCheckpoint(spark: SparkSession, dir: String,
      v: Long): Unit = {
    val snap = snapshot(spark, dir, Some(v))
    val j = JObject(JField("version", v) ::
      JField("schemaJson", snap.schemaJson) ::
      JField("files", filesJson(snap.files)) ::
      JField("txns", JObject(snap.txns.toList.sortBy(_._1)
        .map { case (k, b) => JField(k, JLong(b)) })) ::
      Meta.of(snap).fields(Meta.CheckpointOrder))
    val p = checkpointFile(dir, v)
    val f = fs(spark, p)
    val content = JsonMethods.compact(JsonMethods.render(j)).getBytes(UTF_8)
    // deterministic content: overwrite is safe if two writers race
    // here — but the file must never be VISIBLE half-written (a live
    // streaming source polls snapshot() concurrently and would parse
    // an empty checkpoint), so land it with write-to-dot-tmp + atomic
    // rename on local filesystems
    if (f.getUri.getScheme == "file") {
      val local = java.nio.file.Paths.get(p.toUri.getPath)
      java.nio.file.Files.createDirectories(local.getParent)
      val tmp = local.resolveSibling(
        s".${local.getFileName}.${UUID.randomUUID.toString.take(8)}.tmp")
      java.nio.file.Files.write(tmp, content)
      java.nio.file.Files.move(tmp, local,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      ()
    } else {
      val out = f.create(p, true)
      try out.write(content) finally out.close()
    }
  }

  /** Write `df`'s data into the dataset dir as immutable uniquely-named
    * parquet files WITHOUT touching the log: stage, move into place.
    * Each file's row count and `statsCols` stats (min/max — the
    * [[readPruned]] skipping metadata — null count and KMV sketch; a
    * partition-pure write adds the partition columns) are
    * collected by the write tasks while they write it, so staging is
    * one pass over the batch and the new files are never re-read. The
    * files are invisible until a commit references them. */
  private[graft] def stageData(spark: SparkSession, dir: String,
      df: DataFrame, statsCols: Seq[String] = Nil,
      mapping: Map[String, String] = Map.empty,
      partCols: Seq[String] = Nil,
      sortWithinPhys: Seq[Column] = Nil,
      maxRecordsPerFile: Option[Long] = None,
      valueTasks: Map[String, Int] = Map.empty): (Seq[TxFile], String) = {
    // validate BEFORE the expensive distributed write: a statsCols
    // typo must not cost a full staged copy of the batch (LOGICAL
    // names — the caller's view)
    val logicalDtypes = df.schema.fields
      .map(fl => fl.name -> fl.dataType.catalogString).toMap
    statsCols.foreach(c => require(logicalDtypes.contains(c),
      s"TxLog: no column '$c' to stat in commit of $dir"))
    // the recorded table schema is the LOGICAL one; files are written
    // (and stats keyed) under PHYSICAL names — rename/drop then never
    // touch data
    val logicalJson = df.schema.json
    val physDf =
      if (mapping.isEmpty) df
      else df.select(df.schema.fields.map(fl =>
        col(fl.name).as(mapping.getOrElse(fl.name, fl.name))).toSeq: _*)
    val dtypes = physDf.schema.fields
      .map(fl => fl.name -> fl.dataType.catalogString).toMap
    val stageDir = new Path(dir, s"_graft_stage_${UUID.randomUUID()}")
    val f = fs(spark, stageDir)
    // partition-PURE staging only when the batch carries every
    // partition column (a schema-mismatched batch refuses downstream
    // as usual — never here, where the error would name staging).
    // Resolution is MAPPING-AWARE and PHYSICAL-FIRST: `partCols`
    // holds registration-time PHYSICAL names (never renamed). An
    // entry that IS some batch column's physical name resolves to
    // itself; only otherwise is it tried as a current logical name.
    // Physical-first matters under rename chains that reuse a former
    // partition column's name (b→c then a→b): logical-first would
    // stage by the renamed a instead of the registered b, silently
    // impurifying the layout. Unresolvable entries degrade to flat
    // staging (correct, just un-pruned until OPTIMIZE), never an
    // error here.
    val physOfBatch = df.columns.map(l => mapping.getOrElse(l, l)).toSet
    val physParts0 = partCols.map(c =>
      if (physOfBatch.contains(c)) c
      else if (df.columns.contains(c)) mapping.getOrElse(c, c)
      else c)
    val physParts =
      if (physParts0.forall(physOfBatch.contains)) physParts0 else Nil
    // a partitioned file always records its partition columns' stats:
    // the file index recovers each file's partition values from them
    // (a file without them would drop the table's partition filters)
    val physStats =
      (statsCols.map(c => mapping.getOrElse(c, c)) ++ physParts).distinct
    try {
      val added =
        if (physParts.isEmpty)
          writeStaged(spark, dir, physDf, physStats, dtypes, stageDir, f,
            Nil, None)
        else stageBodyPartitioned(spark, dir, physDf, physStats, stageDir,
          f, dtypes, physParts, sortWithinPhys, maxRecordsPerFile,
          valueTasks)
      (added, logicalJson)
    } catch { case e: Throwable =>
      // a failed stage (write error, rename race)
      // must not leak the staged copy: vacuum never touches `_` dirs
      f.delete(stageDir, true)
      throw e
    }
  }

  /** Write one batch into `stageDir` and move its files into the
    * dataset dir under fresh names (partition dirs kept). The write
    * tasks themselves count each file's rows and evaluate
    * [[statAggExprs]] over them as they write ([[StatsWrite]]), so the
    * staged data is never read back. A file with no rows (a flat write
    * of an empty batch still emits one) registers with empty stats. */
  private def writeStaged(spark: SparkSession, dir: String, df: DataFrame,
      statsCols: Seq[String], dtypes: Map[String, String], stageDir: Path,
      f: FileSystem, partCols: Seq[String],
      maxRecordsPerFile: Option[Long]): Seq[TxFile] = {
    val written = described(spark, "stage-write") {
      StatsWrite.parquet(df, stageDir.toString, partCols,
        maxRecordsPerFile.map(n => "maxRecordsPerFile" -> n.toString).toMap,
        statAggExprs(statsCols, dtypes))
    }
    // relative paths exactly as they sit on disk ('%' in a partition
    // value is the escaped "%25" in both listing and writer paths)
    val stageAbs = f.makeQualified(stageDir).toString
    val parts = {
      val out = scala.collection.mutable.ArrayBuffer.empty[
        (String, org.apache.hadoop.fs.FileStatus)]
      val it = f.listFiles(stageDir, true)
      while (it.hasNext) {
        val st = it.next()
        if (st.isFile && st.getPath.getName.startsWith("part-")) {
          val abs = f.makeQualified(st.getPath).toString
          require(abs.startsWith(stageAbs + "/"),
            s"TxLog: staged file $abs escapes the stage dir")
          out += abs.drop(stageAbs.length + 1) -> st
        }
      }
      out.sortBy(_._1).toSeq
    }
    val uuid = UUID.randomUUID().toString.take(8)
    val added = parts.zipWithIndex.map { case ((rel, st), i) =>
      val file = written.getOrElse(rel, throw new IllegalStateException(
        s"TxLog: staged file ${st.getPath} was not reported by its " +
          "write task — refusing to register it without stats"))
      val partDir = rel.split('/').dropRight(1).mkString("/")
      val name = f"$uuid-p$i%05d.parquet"
      val relOut = if (partDir.isEmpty) name else s"$partDir/$name"
      val target = new Path(dir, relOut)
      if (partDir.nonEmpty) f.mkdirs(target.getParent)
      if (!f.rename(st.getPath, target))
        throw new IllegalStateException(
          s"TxLog: staging move failed for ${st.getPath}")
      val stats =
        if (file.rows == 0L) Map.empty[String, ColStats]
        else statsOfRow(file.stats, statsCols, dtypes)
      TxFile(relOut, file.rows, stats, bytes = Some(st.getLen))
    }
    f.delete(stageDir, true)
    added
  }

  /** The U+0001-joined canonical (cast-to-string) form of a row's
    * partition values — the key [[stageBodyPartitioned]]'s per-value
    * fan-out maps look up. Mirrors the per-file stat strings, so a
    * map built from commit metadata binds the same rows. */
  private def valueKeyExpr(partCols: Seq[String]): Column =
    concat_ws("\u0001", partCols.map(c =>
      coalesce(col(c).cast("string"), lit("\u0000null"))): _*)

  /** Partition-PURE staging for PARTITIONED tables (round-18): the
    * batch writes `partitionBy(partCols)` into the stage dir — every
    * staged file holds exactly ONE partition-value tuple — and the
    * files register under their dir-relative `key=value/…` paths,
    * the same nested form [[convertInPlace]] adopts (readers,
    * deletion vectors and the change feed already key those by
    * relative path). Why: a flat append mixing partition values
    * records min ≠ max on the partition columns, which silently
    * demotes the WHOLE table off the [[TxFileIndex]] partitioned
    * presentation — losing static+dynamic partition pruning for
    * every read after the first mixed append. With purity, the
    * per-file stats keep min = max = the value and the planner
    * presentation survives appends.
    *
    * Shape: one `repartition(partCols)` shuffle puts each value in
    * one task, so a V-value batch stages ~V files (per-value sizing
    * is OPTIMIZE's job, as with any small-file pattern). Base names
    * may repeat across partition dirs within one stage (same task
    * number, different dir), so [[writeStaged]] keys files by their
    * dir-relative path. */
  private def stageBodyPartitioned(spark: SparkSession, dir: String,
      df: DataFrame, statsCols: Seq[String], stageDir: Path,
      f: FileSystem, dtypes: Map[String, String],
      partCols: Seq[String],
      sortWithinPhys: Seq[Column] = Nil,
      maxRecordsPerFile: Option[Long] = None,
      valueTasks: Map[String, Int] = Map.empty): Seq[TxFile] = {
    // `sortWithinPhys` (physical-name expressions) clusters rows
    // inside each partition's task before the write — the purify-
    // compaction leg of OPTIMIZE … ZORDER BY: per-file min/max
    // envelopes tighten on the clustering key WITHIN each partition
    // value. `maxRecordsPerFile` bounds file size so one giant
    // partition value splits into several (still partition-pure)
    // files instead of a single monolith.
    //
    // WRITE PARALLELISM: repartition(partCols) puts each value in ONE
    // task — correct and minimal-file-count, but a skewed ingest
    // batch (one 500 GB partition value) then writes on one core.
    // Three fan-out forms, most explicit wins:
    //  1. `valueTasks` (caller-supplied, per-value task counts keyed
    //     by [[valueKeyExpr]] strings — purify derives it from the
    //     scoped files' RECORDED BYTES, zero extra passes);
    //  2. `spark.graft.write.tasksPerValue = n` — a constant n-way
    //     salt per value (the session knob);
    //  3. otherwise the auto-salt histogram: ONE narrow
    //     count per partition value over the batch, then each value
    //     gets ceil(its rows / the mean value's rows) tasks — a 90/10
    //     skewed batch fans its hot value out and leaves cold values
    //     single-file, with nothing configured. Costs one extra pass
    //     over the batch, so it only runs when the batch's PLAN-TIME
    //     size estimate clears `spark.graft.write.autoSaltMinBytes`
    //     (default 256 MiB — plan statistics are free; a batch below
    //     it writes fast enough on one core per value that the
    //     histogram pass would cost more than the skew).
    // All forms stay partition-PURE — the salt never crosses values;
    // per-value sizing remains OPTIMIZE's job for ingest, and purify
    // folds extra files away.
    val tasksPerValue = spark.conf
      .get("spark.graft.write.tasksPerValue", "1").toInt
    require(tasksPerValue >= 1,
      "TxLog: spark.graft.write.tasksPerValue must be >= 1")
    // the salted forms pin the shuffle partition count: an
    // AQE-coalesced tiny shuffle would merge the salt slices back
    // into one task, silently defeating the requested parallelism —
    // the caller asked for write spread, so the advisory-size
    // coalesce must not apply.
    //
    // The salt hashes only HASHABLE columns: Spark's hash() rejects
    // MapType (anywhere in the type tree), so a map-bearing table
    // must not fail at analysis just because write spread was asked
    // for. No hashable non-partition column at all → fall back to
    // spark_partition_id() (deterministic given the incoming
    // partitioning; still partition-PURE — the salt never crosses
    // values). Caveat (documented): fully DUPLICATE rows hash to one
    // salt bucket by construction — content-identical skew keeps its
    // single writer; only value-skew with distinct rows fans out.
    lazy val saltCols = {
      def hashable(dt: DataType): Boolean = dt match {
        case _: org.apache.spark.sql.types.MapType => false
        case s: StructType => s.fields.forall(f => hashable(f.dataType))
        case a: org.apache.spark.sql.types.ArrayType =>
          hashable(a.elementType)
        case _ => true
      }
      df.schema.fields.filter(f => hashable(f.dataType)).map(_.name)
    }
    lazy val saltBase: Column =
      if (saltCols.isEmpty) spark_partition_id()
      else hash(saltCols.map(col).toSeq: _*)
    val maxFan = spark.sessionState.conf.numShufflePartitions
    // auto-salt histogram: rows per partition value, one narrow agg
    // (map-side combined) — each value's fan-out is its share of the
    // mean, so only genuinely hot values split
    def histTasks(): Map[String, Int] =
      scala.util.Try {
        val counts = df.groupBy(valueKeyExpr(partCols).as("__vk"))
          .agg(count(lit(1)).as("__n")).collect()
          .map(r => r.getString(0) -> r.getLong(1))
        if (counts.isEmpty || counts.length > 10000) Map.empty[String, Int]
        else {
          val mean = math.max(1.0,
            counts.map(_._2).sum.toDouble / counts.length)
          counts.collect { case (k, n) if n > mean * 1.5 =>
            k -> math.min(maxFan,
              math.ceil(n.toDouble / mean).toInt)
          }.toMap
        }
      }.getOrElse(Map.empty)
    // PER-VALUE fan-out (valueTasks / auto-salt): every mapped value
    // gets its own DENSE task-id range (offset + salt-in-[0,n)), and
    // the shuffle partition count is CHOSEN so Spark's own
    // HashPartitioning (pmod(murmur3(pid), P) — replicated on the
    // driver for int keys) is INJECTIVE over those ids: two task ids
    // landing in one reducer would merge their output into a single
    // double-size file, silently breaking the byte-sizing contract
    // purify derives the map from. Unmapped values ride a separate id
    // range hashed by value (collisions there only merge SMALL
    // values — harmless, even helpful). The search is a driver loop
    // over candidate P; on the rare failure it degrades to plain
    // hashing (a stray 2× file, never wrong data).
    def murmurPid(v: Int, p: Int): Int = {
      val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(v, 42)
      val m = h % p
      if (m < 0) m + p else m
    }
    def choosePartitions(hot: Range, cold: Range): Int = {
      def ok(p: Int): Boolean = {
        val buckets = hot.map(murmurPid(_, p))
        buckets.distinct.size == buckets.size && {
          val hs = buckets.toSet
          cold.forall(v => !hs.contains(murmurPid(v, p)))
        }
      }
      val limit = math.max(maxFan, 16 * (hot.size + cold.size) + 64)
      var p = math.max(hot.size + 1, maxFan)
      while (p < limit && !ok(p)) p += 1
      if (ok(p)) p else maxFan
    }
    def mapPid(tasks: Map[String, Int]): (Column, Int) = {
      val keys = tasks.keys.toSeq.sorted
      val offsets = keys.scanLeft(0)((acc, k) => acc + tasks(k)).init
      val offMap = keys.zip(offsets).toMap
      val total = tasks.values.sum
      val p = choosePartitions(0 until total,
        total until total + maxFan)
      val key = valueKeyExpr(partCols)
      val off = element_at(typedLit(offMap), key)
      val n = element_at(typedLit(tasks), key)
      val pid = when(off.isNotNull, off + pmod(saltBase, n))
        .otherwise(lit(total) +
          pmod(hash(partCols.map(col).toSeq: _*), lit(maxFan)))
      (pid.cast("int"), p)
    }
    lazy val bigEnough = {
      val minBytes = spark.conf
        .get("spark.graft.write.autoSaltMinBytes", "268435456").toLong
      scala.util.Try(df.queryExecution.optimizedPlan.stats.sizeInBytes)
        .toOption.exists(_ >= BigInt(minBytes))
    }
    def pidShuffle(tasks: Map[String, Int]): DataFrame = {
      // dense-pid form: the pid ALONE is the shuffle key (it already
      // embeds the partition value), P chosen injective over the
      // mapped ids
      val (pid, p) = mapPid(tasks)
      df.repartition(p, pid)
    }
    val shuffled =
      if (sortWithinPhys.nonEmpty)
        // SORTED stage (zordered purify): a hash salt would scatter
        // the sorted run and void the stat envelopes — but ONE task
        // per value serializes a giant partition's rewrite. RANGE
        // partition on (partition value, clustering key) instead:
        // each range task holds a CONTIGUOUS sorted slice of one (or
        // two adjacent) values, so per-file envelopes stay tight,
        // files stay partition-pure (partitionBy splits by value at
        // write), and a giant zordered partition rewrites in
        // parallel. maxRecordsPerFile still cuts the sorted stream
        // into bounded consecutive chunks within each task.
        df.repartitionByRange(maxFan,
          partCols.map(col) ++ sortWithinPhys: _*)
      else if (valueTasks.exists(_._2 > 1)) pidShuffle(valueTasks)
      else if (tasksPerValue > 1)
        // constant tasksPerValue: throughput knob, not a sizing
        // contract — value+salt hashing is fine
        df.repartition(maxFan, partCols.map(col) :+
          pmod(saltBase, lit(tasksPerValue)): _*)
      else {
        val h =
          if (valueTasks.isEmpty && bigEnough) histTasks()
          else Map.empty[String, Int]
        if (h.exists(_._2 > 1)) pidShuffle(h)
        else df.repartition(partCols.map(col): _*)
      }
    val laid =
      if (sortWithinPhys.isEmpty) shuffled
      else shuffled.sortWithinPartitions(
        partCols.map(col) ++ sortWithinPhys: _*)
    writeStaged(spark, dir, laid, statsCols, dtypes, stageDir, f, partCols,
      maxRecordsPerFile)
  }

  private def schemaKey(schemaJson: String): Seq[(String, DataType)] =
    DataType.fromJson(schemaJson).asInstanceOf[StructType]
      .fields.map(f => (f.name, f.dataType)).toSeq

  /** The optimistic-commit loop over already-staged files. Exposed
    * private[graft] so tests can interleave writers deterministically.
    * `removeAll = true` → overwrite semantics (re-resolves the remove
    * set against the fresh head on every attempt); explicit `remove` →
    * compact semantics (conflicts if a concurrent commit removed any).
    * `staged` names, dir-relative, what the caller wrote for this
    * commit alone (data files, vector relation dirs): every exit that
    * does not commit — a replayed `txn`, a conflict, a throw — deletes
    * exactly those. [[restore]] re-registers existing files and stages
    * none.
    *
    * `meta` gives the commit's table-metadata fields ([[Meta]]). It is
    * evaluated against the fresh head on every attempt (an empty
    * snapshot when the commit creates the table), so a metadata verb —
    * a commit with no files — re-runs its checks there and returns
    * the new full value computed from that head: a lost claim rebases
    * the change instead of writing a stale map over the winner's, and
    * a check that no longer holds refuses it (by throwing). Data
    * commits pass constant fields. */
  private[graft] def commitStaged(spark: SparkSession, dir: String,
      op: String, added: Seq[TxFile], remove: Seq[String],
      removeAll: Boolean, schemaJson: String,
      txn: Option[(String, Long)],
      mergeSchema: Boolean = false,
      staged: Seq[String],
      expectDv: Map[String, Option[String]] = Map.empty,
      freshPhys: Map[String, String] = Map.empty,
      stagedFields: Option[Set[String]] = None,
      meta: TxSnapshot => Meta = _ => Meta(),
      expectIdentity: Map[String, Option[Long]] = Map.empty,
      conflictIfAdded: Option[Seq[TxFile] => Seq[String]] = None,
      txnsMulti: Seq[(String, Long)] = Nil): Long = {
    def abortCleanup(): Unit = {
      val d = fs(spark, new Path(dir))
      staged.foreach(p => d.delete(new Path(dir, p), true))
    }
    val f = fs(spark, logPath(dir))
    var landed = false
    try {
    // test-only interleave point: lets a suite commit CONCURRENT work
    // deterministically between a DML's read phase and its claim
    // (cleared before it runs, so the hook's own commits never
    // recurse). Production cost: one thread-local read.
    locally {
      val h = testBeforeClaim.get()
      if (h.isDefined) { testBeforeClaim.set(None); h.get.apply() }
    }
    var attempt = 0
    while (true) {
      val base =
        if (isLogged(spark, dir)) Some(snapshot(spark, dir)) else None
      val replayed = base.filter(bs => txn.exists { case (app, b) =>
        bs.txns.get(app).exists(_ >= b) })
      if (replayed.isDefined) { // replayed batch: no-op
        abortCleanup()
        return replayed.get.version
      }
      // COPY INTO marker conflict: a CONCURRENT commit already
      // recorded one of this batch's source files — committing would
      // duplicate its rows. Refuse loudly; a rerun re-filters against
      // the fresh markers and picks up only the remainder. (Checked
      // against the fresh head on every rebase attempt.)
      for (bs <- base if txnsMulti.nonEmpty) {
        // `copyintosz:` markers carry byte LENGTHS (an equality
        // fingerprint, not a monotonic batch id) — they never gate by
        // `>=`. A `copyinto:` marker whose mtime did not advance is
        // still a LEGITIMATE re-ingest when both sides' size markers
        // prove the bytes changed (same-tick rewrite); only an
        // identical (mtime, length) pair is a true concurrent copy.
        val mine = txnsMulti.toMap
        def sz(app: String): String =
          "copyintosz:" + app.stripPrefix("copyinto:")
        val dup = txnsMulti.collect {
          case (app, b) if !app.startsWith("copyintosz:") &&
              bs.txns.get(app).exists(_ >= b) &&
              !(app.startsWith("copyinto:") &&
                (for { m <- mine.get(sz(app)); h <- bs.txns.get(sz(app)) }
                  yield m != h).getOrElse(false)) => app
        }
        if (dup.nonEmpty) {
          throw new java.util.ConcurrentModificationException(
            "TxLog: source file(s) already copied by a concurrent " +
              s"commit: ${dup.take(3).mkString(", ")} — rerun COPY " +
              "INTO to ingest the remainder")
        }
      }
      // write-serializable read-predicate guard (Delta's
      // ConcurrentAppendException): a predicate-driven rewrite read
      // the table at some version — files ADDED since whose stats
      // intersect that predicate mean the serial order
      // (append -> this op) would have changed this op's outcome;
      // committing anyway silently un-deletes / co-mingles the racer's
      // rows. Checked against the fresh head on every rebase attempt.
      for (fn <- conflictIfAdded; bs <- base) {
        val hit = fn(bs.files)
        if (hit.nonEmpty) {
          throw new java.util.ConcurrentModificationException(
            "TxLog: file(s) intersecting this operation's read " +
              "predicate were added by a concurrent commit: " +
              hit.take(3).mkString(", ") + " — re-read and retry")
        }
      }
      // an append must fit the table schema; with mergeSchema it may
      // WIDEN it (new columns append; shared names must keep their
      // type — Delta's mergeSchema contract), recomputed against the
      // fresh head on every rebase attempt
      var evolvedSchema: Option[String] = None
      var evolvedMapping: Option[Map[String, String]] = None
      if (op == "append") base.foreach { bs =>
        if (schemaKey(bs.schemaJson) != schemaKey(schemaJson)) {
          if (!mergeSchema) {
            throw new IllegalArgumentException(
              s"TxLog: append schema does not match table schema at $dir" +
                " (pass mergeSchema = true to widen)")
          }
          val baseT = DataType.fromJson(bs.schemaJson)
            .asInstanceOf[StructType]
          val newT = DataType.fromJson(schemaJson).asInstanceOf[StructType]
          val baseM = baseT.fields.map(fl => fl.name -> fl.dataType).toMap
          val conflicts = newT.fields.filter(fl =>
            baseM.get(fl.name).exists(_ != fl.dataType))
          if (conflicts.nonEmpty) {
            throw new IllegalArgumentException(
              s"TxLog: mergeSchema cannot change column types: " +
                conflicts.map(_.name).mkString(", "))
          }
          val newFields = newT.fields.filterNot(fl => baseM.contains(fl.name))
          // column-mapping safety across the stage→commit window: a
          // field that is new NOW but existed when the caller STAGED
          // means a concurrent DROP — our files carry its old
          // physical column, and widening it back would resurrect
          // the dropped data in every old file. Conflict, don't merge.
          stagedFields.foreach { sf =>
            val dropped = newFields.filter(fl => sf.contains(fl.name))
            if (dropped.nonEmpty) {
              throw new java.util.ConcurrentModificationException(
                s"TxLog: column(s) ${dropped.map(_.name).mkString(", ")} " +
                  "dropped by a concurrent commit")
            }
          }
          // a new field whose physical name the head has since
          // reserved (concurrent rename/drop) cannot land as staged
          val reserved = bs.reservedPhys
          val clash = newFields.filter { fl =>
            val phys = freshPhys.getOrElse(fl.name, fl.name)
            reserved.contains(phys) && !freshPhys.contains(fl.name)
          }
          if (clash.nonEmpty) {
            throw new java.util.ConcurrentModificationException(
              s"TxLog: physical name(s) ${clash.map(_.name).mkString(", ")} " +
                "reserved by a concurrent schema change")
          }
          val widened = StructType(baseT.fields ++ newFields)
          evolvedSchema = Some(widened.json)
          val addMap = newFields.flatMap(fl =>
            freshPhys.get(fl.name).map(fl.name -> _)).toMap
          if (addMap.nonEmpty || bs.mapping.nonEmpty)
            evolvedMapping = Some(bs.mapping ++ addMap)
        }
      }
      val removeNow =
        if (removeAll) base.map(_.files.map(_.path)).getOrElse(Nil)
        else remove
      if (!removeAll && remove.nonEmpty) {
        val live = base.map(_.files.map(_.path).toSet).getOrElse(Set.empty)
        val gone = remove.filterNot(live)
        if (gone.nonEmpty) {
          throw new java.util.ConcurrentModificationException(
            s"TxLog: files removed by a concurrent commit: " +
              gone.take(3).mkString(", "))
        }
      }
      // merge-on-read DML re-adds the SAME path, so path liveness
      // alone cannot see a concurrent vector change on a touched
      // file — a lost-update window CoW never has (its removes fail
      // the liveness check). The caller pins the vector pointer it
      // computed from; a head whose pointer moved conflicts.
      if (expectDv.nonEmpty) {
        val cur = base.map(_.files.map(fl => fl.path -> fl.dv).toMap)
          .getOrElse(Map.empty)
        val moved = expectDv.collect {
          case (p, d) if cur.get(p).exists(_ != d) => p
        }
        if (moved.nonEmpty) {
          throw new java.util.ConcurrentModificationException(
            s"TxLog: deletion vector changed by a concurrent commit " +
              s"on: ${moved.take(3).mkString(", ")}")
        }
      }
      // identity watermark race: the caller BAKED generated values
      // into the staged files off the watermark it read — if a
      // concurrent commit moved it, those values may collide with
      // the other writer's. Conflict loudly (the caller re-reads,
      // re-generates and retries); a plain metadata rebase cannot
      // repair data already written.
      if (expectIdentity.nonEmpty) {
        val cur = base.map(_.identity).getOrElse(Map.empty)
        // a column not yet declared at the head compares as an empty
        // watermark — a concurrent DECLARATION with generated values
        // lands as Some(high) and still conflicts
        val moved = expectIdentity.collect {
          case (c, h) if cur.get(c).flatMap(_.high) != h => c
        }
        if (moved.nonEmpty) {
          throw new java.util.ConcurrentModificationException(
            s"TxLog: identity watermark for ${moved.mkString(", ")} " +
              "moved by a concurrent commit — regenerate and retry")
        }
      }
      val v = base.map(_.version + 1).getOrElse(0L)
      val m = meta(base.getOrElse(TxSnapshot(-1L, schemaJson, Nil, Map.empty)))
      // schema is recorded when it (re)defines the table; appends
      // inherit, except a widening merge which records the new union
      val schemaOut =
        if (removeAll || base.isEmpty) Some(schemaJson)
        else m.schemaJson.orElse(evolvedSchema)
      // declaring/advancing identity or generated columns requires
      // generation 4 readers
      val mrOut =
        if (m.identity.exists(_.nonEmpty) || m.generated.exists(_.nonEmpty))
          Some(math.max(4, m.minReader.getOrElse(1)))
        else m.minReader
      // column-mapping state rides the commit when `meta` set it
      // (rename/drop/restore/overwrite-reset) or a widening merge
      // assigned fresh physical names
      val out = m.copy(schemaJson = schemaOut, minReader = mrOut,
        mapping = m.mapping.orElse(evolvedMapping),
        retired = m.retired.orElse(evolvedMapping.map(_ =>
          base.map(_.retired).getOrElse(Nil))))
      if (tryWrite(f, versionFile(dir, v),
          renderCommit(v, op, added, removeNow, out, txn, txnsMulti,
            ts = nextCommitTs(f, dir, v)))) {
        landed = true
        if (v > 0 && v % CheckpointInterval == 0)
          writeCheckpoint(spark, dir, v)
        return v
      }
      attempt += 1 // lost the slot: rebase on the new head and retry
      if (attempt >= MaxAttempts)
        throw new java.io.IOException(
          s"TxLog: gave up after $MaxAttempts contended commit attempts")
    }
    throw new IllegalStateException("unreachable")
    } catch { case e: Throwable if !landed => abortCleanup(); throw e }
  }

  /** Register a pre-existing PLAIN-parquet dataset's files in a new
    * log IN PLACE (Delta's CONVERT TO DELTA): list the data files,
    * stat rows (and `statsCols` min/max) in one scan, commit them as
    * version 0 — no data is rewritten, and from then on logged
    * commits/vacuum treat the historical files as live table state.
    * The missing-migration failure mode this prevents: claiming v0
    * with only a new batch's files would make logged reads drop the
    * pre-existing rows and vacuum DELETE them as non-live. No-op
    * (returns current head) if the dir is already logged. Flat and
    * hive-partitioned (key=value) layouts both register: nested files
    * register by their dir-relative path, the partition columns are
    * recorded with the table (generation-5 readers) and their values
    * as per-file stats, so partition predicates prune from the log. */
  def convertInPlace(spark: SparkSession, dir: String,
      statsCols: Seq[String] = Nil): Long = {
    if (isLogged(spark, dir)) return snapshot(spark, dir).version
    val root = new Path(dir)
    val f = fs(spark, root)
    // enumerate the WHOLE tree: a flat dataset registers its
    // top-level files; a hive-partitioned (key=value) layout
    // registers every nested file by its dir-relative path, with the
    // partition values recovered at read time from the path
    // (generation-5 readers) and recorded as per-file stats so
    // partition predicates prune from the log
    val rootAbs = f.makeQualified(root).toString
    def relOfAbs(abs: String): String = {
      require(abs.startsWith(rootAbs + "/"),
        s"TxLog: $abs escapes the dataset root $rootAbs")
      abs.drop(rootAbs.length + 1)
    }
    def relOf(p: Path): String = relOfAbs(f.makeQualified(p).toString)
    // the LISTING is the only step whose cost scales with layout
    // shape rather than data size: one driver-side recursive iterator
    // over a 10⁶-file hive tree on object storage is hours. Past a
    // top-level-directory threshold the walk DISTRIBUTES — one task
    // per partition directory (the Delta CONVERT design); below it
    // the single driver iterator is cheaper than a job launch.
    val all = scala.collection.mutable.ArrayBuffer
      .empty[(String, Long)] // (relative path, bytes)
    val top = f.listStatus(root)
    val subdirs = top.filter(_.isDirectory).map(_.getPath)
      .filterNot { p =>
        p.getName.startsWith("_") || p.getName.startsWith(".") }
    if (subdirs.length <= ConvertListDirsThreshold) {
      val it = f.listFiles(root, true)
      while (it.hasNext) {
        val st = it.next()
        val rel = relOf(st.getPath)
        val segs = rel.split('/')
        val hidden = segs.exists(sg =>
          sg.startsWith("_") || sg.startsWith("."))
        if (st.isFile && !hidden) all += ((rel, st.getLen))
      }
    } else {
      // root-level files still list on the driver (one page)
      top.filter(_.isFile).foreach { st =>
        val n = st.getPath.getName
        if (!n.startsWith("_") && !n.startsWith("."))
          all += ((relOf(st.getPath), st.getLen))
      }
      val hconf = spark.sessionState.newHadoopConf()
      val confMap = {
        val it = hconf.iterator()
        val b = scala.collection.mutable.ArrayBuffer
          .empty[(String, String)]
        while (it.hasNext) { val e = it.next(); b += ((e.getKey, e.getValue)) }
        b.toSeq
      }
      val dirStrs = subdirs.map(d => f.makeQualified(d).toString).toSeq
      val listed = described(spark, "convert-list") {
        spark.sparkContext
          .parallelize(dirStrs, math.min(dirStrs.length, 256))
          .flatMap { d =>
            val conf = new org.apache.hadoop.conf.Configuration(false)
            confMap.foreach { case (k, v) => conf.set(k, v) }
            val p = new Path(d)
            val fsx = p.getFileSystem(conf)
            val out = scala.collection.mutable.ArrayBuffer
              .empty[(String, Long)] // (absolute path, bytes)
            val it = fsx.listFiles(p, true)
            while (it.hasNext) {
              val st = it.next()
              if (st.isFile)
                out += ((fsx.makeQualified(st.getPath).toString,
                  st.getLen))
            }
            out
          }.collect()
      }
      listed.foreach { case (abs, len) =>
        val rel = relOfAbs(abs)
        val hidden = rel.split('/').exists(sg =>
          sg.startsWith("_") || sg.startsWith("."))
        if (!hidden) all += ((rel, len))
      }
    }
    val dataFiles = all.map(_._1).sorted.toSeq
    val lenOf = all.toMap
    require(dataFiles.nonEmpty, s"TxLog: nothing to convert under $dir")
    // partition column sequence from the directory segments — must be
    // CONSISTENT across every file (a mixed flat/partitioned or
    // ragged layout cannot be registered faithfully)
    def partsOf(rel: String): Seq[String] =
      rel.split('/').dropRight(1).toSeq.map { sg =>
        val i = sg.indexOf('=')
        require(i > 0,
          s"TxLog: $dir nests data under non-hive directory '$sg' — " +
            "only key=value layouts register in place; rewrite flat " +
            "first")
        sg.take(i)
      }
    val pcols = partsOf(dataFiles.head)
    val ragged = dataFiles.filter(p => partsOf(p) != pcols)
    require(ragged.isEmpty,
      s"TxLog: inconsistent partition layout under $dir (" +
        s"${ragged.take(2).mkString(", ")}…) — every file must sit " +
        s"under the same ${pcols.mkString("/")} structure")
    // base names may repeat across partition dirs (Spark's own
    // partitionBy writes do) — a registered table therefore keys its
    // files by dir-relative PATH, not base name ([[fileKey]]), and
    // the stats scan below matches files by their last
    // pcols.size + 1 path segments (URI-decoded: input_file_name
    // percent-escapes what the directory listing returns raw)
    val df = spark.read.parquet(dir)
    val dtypes = df.schema.fields
      .map(fl => fl.name -> fl.dataType.catalogString).toMap
    statsCols.foreach(c => require(dtypes.contains(c),
      s"TxLog: no column '$c' to stat in convert of $dir"))
    pcols.foreach(c => require(dtypes.contains(c),
      s"TxLog: partition dir '$c=' is not a column of $dir"))
    // one scan stats data AND partition columns (a partition value is
    // constant per file, so its min = max = the path value)
    val statAll = (statsCols ++ pcols).distinct
    val depth = pcols.size + 1
    def relKey(fullPath: String): String = {
      val path = try new java.net.URI(fullPath).getPath
      catch { case _: java.net.URISyntaxException => fullPath }
      path.split('/').takeRight(depth).mkString("/")
    }
    val byName = df.groupBy(input_file_name().as("f"))
      .agg(count(lit(1)).as("n"), statAggExprs(statAll, dtypes): _*)
      .collect()
      .map { r =>
        relKey(r.getString(0)) ->
          (r.getLong(1), statsOfRow(r, statAll, dtypes))
      }.toMap
    val added = dataFiles.map { p =>
      // same contract as staging: a file absent from the stats scan
      // must be a GENUINE empty (0-row parquet), corroborated by a
      // direct count — silently registering rows = 0 would map a live
      // file to an all-NULL partition value and mis-prune its rows
      val (rows, stats) =
        byName.get(p).getOrElse {
          val n = spark.read.schema(df.schema)
            .parquet(s"$dir/$p").count()
          if (n != 0L) throw new IllegalStateException(
            s"TxLog: convert of $dir: file $p holds $n rows but " +
              "matched no stats row (relKey drift) — refusing to " +
              "register it with empty stats")
          (0L, Map.empty[String, ColStats])
        }
      TxFile(p, rows, stats, bytes = lenOf.get(p))
    }.toSeq
    // claim version 0 directly (NOT via commitStaged: its contention
    // cleanup deletes `added`, which here are the REAL data files). A
    // lost claim means another writer logged the dir first — theirs is
    // the table now.
    val lf = fs(spark, logPath(dir))
    if (tryWrite(lf, versionFile(dir, 0L),
        renderCommit(0L, "overwrite", added, Nil,
          Meta(Some(df.schema.json),
            minReader = Some(5).filter(_ => pcols.nonEmpty),
            partitionCols = Some(pcols).filter(_.nonEmpty)), None)))
      0L
    else snapshot(spark, dir).version
  }

  /** Transactionally replace the table contents with `df`. Creates the
    * table (version 0) if no log exists. May change the schema.
    * `statsCols` records per-file min/max in the commit for
    * [[readPruned]] file skipping. */
  def commitOverwrite(spark: SparkSession, dir: String,
      df: DataFrame, statsCols: Seq[String] = Nil,
      txn: Option[(String, Long)] = None,
      identity: Map[String, IdentitySpec] = Map.empty,
      generated: Map[String, String] = Map.empty,
      defaults: Map[String, String] = Map.empty,
      columnOrder: Option[Seq[String]] = None): Long = {
    // fast path: skip staging entirely for an already-seen batch
    // (Complete-mode streaming sinks replay overwrites too)
    val snap0 = if (isLogged(spark, dir)) Some(snapshot(spark, dir)) else None
    for (s0 <- snap0; (app, b) <- txn)
      if (s0.txns.get(app).exists(_ >= b)) return s0.version
    // `identity` DECLARES identity columns with the new table
    // definition (Delta's create-time form); a standing declaration
    // carries through an overwrite with its watermark intact (an
    // overwrite replaces ROWS — generated ids never recycle).
    // Redeclaring a standing identity column is refused: watermark
    // semantics would be ambiguous — dropIdentity first.
    val standing = snap0.map(_.identity).getOrElse(Map.empty)
    val redeclared = identity.keys.filter(standing.contains)
    require(redeclared.isEmpty,
      s"TxLog: column(s) ${redeclared.mkString(", ")} already carry " +
        "an identity declaration — dropIdentity first")
    val idMap = standing ++ identity
    // `generated` DECLARES expression-generated columns with the new
    // table definition; standing declarations carry like identity.
    // A declared column ABSENT from df is computed here (the
    // expression defines it); present columns validate.
    val standingGen = snap0.map(_.generated).getOrElse(Map.empty)
    val regen = generated.keys.filter(standingGen.contains)
    require(regen.isEmpty,
      s"TxLog: column(s) ${regen.mkString(", ")} already carry a " +
        "generation expression — dropGenerated first")
    val genMap = standingGen ++ generated
    generated.foreach { case (c, e) =>
      validateGeneratedDecl(spark, df.columns.toSet ++ generated.keys,
        c, e, genMap - c, idMap.keySet)
    }
    // `defaults` declares creation-time column DEFAULTs; standing
    // declarations carry. A declared column absent from df fills here
    val standingDef = snap0.map(_.defaults).getOrElse(Map.empty)
    val defMap = standingDef ++ defaults
    defaults.foreach { case (c, e) =>
      require(!genMap.contains(c) && !idMap.contains(c),
        s"TxLog: '$c' cannot carry a DEFAULT and a generation rule")
      val refs = exprRefs(spark, e)
      require(refs.isEmpty,
        s"TxLog: DEFAULT for '$c' references column(s) " +
          s"${refs.mkString(", ")} — defaults must be literal-foldable")
    }
    val dfDef =
      if (defMap.isEmpty) df else applyDefaultCols(df, defMap, None)
    // one probe job covers every writer-defined column the batch
    // carries (defaults only ADD columns, so counts taken here hold
    // for the generated step's output too)
    val probe = supplyProbe(dfDef, genMap, idMap)
    val dfGen =
      if (genMap.isEmpty) dfDef
      else applyGeneratedCols(dfDef, genMap, None, probe)
    val (dfId0, expectId) =
      if (idMap.isEmpty) (dfGen, Map.empty[String, Option[Long]])
      else applyIdentityCols(dfGen, idMap, probe)
    // `columnOrder` pins the committed schema's column order (the
    // catalog's inline-spec create: writer-defined identity/generated
    // columns land wherever the user DECLARED them, not appended)
    val dfId = columnOrder.fold(dfId0) { order =>
      require(order.sorted == dfId0.columns.toSeq.sorted,
        s"TxLog: columnOrder ${order.mkString(",")} must name exactly " +
          s"the written columns ${dfId0.columns.mkString(",")}")
      dfId0.select(order.map(col): _*)
    }
    val checked = enforceConstraints(spark, dir, dfId)
    val (added, schemaJson) =
      stageData(spark, dir, dfId, (statsCols ++ idMap.keys).distinct,
        // partitionCols survive an overwrite (only registration sets
        // them), so the replacement data stays partition-pure too
        partCols = snap0.map(_.partitionCols).getOrElse(Nil))
    // an overwrite REDEFINES the table: the new files are written
    // under identity physical names, so any column mapping (and its
    // retired-name reservations) resets with the schema
    commitStaged(spark, dir, "overwrite", added, Nil, removeAll = true,
      schemaJson, txn, staged = added.map(_.path),
      meta = { head =>
        pinConstraints(checked, head)
        Meta(mapping = Some(Map.empty), retired = Some(Nil),
          identity = Option.when(idMap.nonEmpty)(
            identityAfter(idMap, added, c => c)),
          generated = Some(genMap).filter(_.nonEmpty),
          defaults = Some(defMap).filter(_.nonEmpty))
      },
      expectIdentity = expectId)
  }

  /** Transactionally append `df`. Schema must match the table's —
    * or, with `mergeSchema = true`, may WIDEN it: new columns join
    * the table schema (older files read them as null), shared names
    * must keep their type (Delta's mergeSchema contract). `txn =
    * Some((appId, batchId))` makes the append idempotent: a batchId
    * already recorded for appId is skipped (replay-safe). */
  def commitAppend(spark: SparkSession, dir: String, df: DataFrame,
      txn: Option[(String, Long)] = None,
      statsCols: Seq[String] = Nil,
      mergeSchema: Boolean = false,
      txnsMulti: Seq[(String, Long)] = Nil): Long = {
    val snap0 = if (isLogged(spark, dir)) Some(snapshot(spark, dir)) else None
    // fast path: skip staging entirely for an already-seen batch
    for (s0 <- snap0; (app, b) <- txn)
      if (s0.txns.get(app).exists(_ >= b)) return s0.version
    // generated + identity columns: compute/validate what the batch
    // omits/supplies, align the filled frame back to the table's
    // column order (the append schema check is order-sensitive)
    val idMap = snap0.map(_.identity).getOrElse(Map.empty)
    val genMap = snap0.map(_.generated).getOrElse(Map.empty)
    val defMap = snap0.map(_.defaults).getOrElse(Map.empty)
    val declared0 = snap0.map(s0 => DataType.fromJson(s0.schemaJson)
      .asInstanceOf[StructType])
    val dfDef =
      if (defMap.isEmpty) df
      else applyDefaultCols(df, defMap, declared0)
    val probe = supplyProbe(dfDef, genMap, idMap)
    val dfGen =
      if (genMap.isEmpty) dfDef
      else applyGeneratedCols(dfDef, genMap, declared0, probe)
    val (dfFilled, expectId) =
      if (idMap.isEmpty) (dfGen, Map.empty[String, Option[Long]])
      else applyIdentityCols(dfGen, idMap, probe)
    val dfId = snap0 match {
      case Some(s0)
        if idMap.nonEmpty || genMap.nonEmpty || defMap.nonEmpty =>
        val order = DataType.fromJson(s0.schemaJson)
          .asInstanceOf[StructType].fieldNames
          .filter(dfFilled.columns.contains) ++
          dfFilled.columns.filterNot(
            DataType.fromJson(s0.schemaJson).asInstanceOf[StructType]
              .fieldNames.contains)
        dfFilled.select(order.map(col).toSeq: _*)
      case _ => dfFilled
    }
    val checked = enforceConstraints(spark, dir, dfId)
    // stage under the table's column mapping; brand-new columns
    // (mergeSchema) claim their own name unless a dropped/renamed
    // column retired it — then a FRESH physical name, or old files'
    // orphaned data would resurrect into the re-added column
    val mapping = snap0.map(_.mapping).getOrElse(Map.empty)
    val baseFields = snap0.map(s0 => DataType.fromJson(s0.schemaJson)
      .asInstanceOf[StructType].fieldNames.toSet)
    val reserved = snap0.map(_.reservedPhys).getOrElse(Set.empty)
    val freshPhys = baseFields match {
      case None => Map.empty[String, String]
      case Some(bf) => dfId.schema.fieldNames
        .filterNot(bf).filter(reserved.contains)
        .map(n => n -> s"${n}_${UUID.randomUUID().toString.take(8)}")
        .toMap
    }
    // stats continuity: every append ALSO records min/max for the
    // columns the table already tracks, even when this writer passed
    // no statsCols — otherwise one stats-less append (a) degrades
    // file pruning forever and (b) turns the write-serializable
    // conflict guard maximally conservative, refusing EVERY concurrent
    // predicate DML against the fresh file (spurious-refusal livelock
    // on a busy table)
    val statsAll = snap0.map(s0 =>
      inheritStatsFor(dfId, s0.files, statsCols, s0))
      .getOrElse(statsCols)
    val (added, schemaJson) =
      stageData(spark, dir, dfId, (statsAll ++ idMap.keys).distinct,
        mapping ++ freshPhys,
        // partition-PURE staging keeps the planner's partitioned
        // presentation (static+dynamic pruning) alive across appends
        partCols = snap0.map(_.partitionCols).getOrElse(Nil))
    commitStaged(spark, dir, "append", added, Nil, removeAll = false,
      schemaJson, txn, mergeSchema, staged = added.map(_.path),
      freshPhys = freshPhys, stagedFields = baseFields,
      meta = { head =>
        pinConstraints(checked, head)
        Meta(identity = Option.when(idMap.nonEmpty)(
          identityAfter(idMap, added,
            c => (mapping ++ freshPhys).getOrElse(c, c))))
      },
      expectIdentity = expectId,
      txnsMulti = txnsMulti)
  }

  /** [[copyInto]]'s outcome: how many source files loaded / were
    * already ingested, the row count landed, and the commit version
    * (unchanged head when nothing was fresh). */
  final case class CopyIntoResult(filesLoaded: Long, filesSkipped: Long,
      rowsInserted: Long, version: Long)

  /** COPY INTO (Delta's idempotent batch file ingest): append the
    * source files matching `src`/`pattern` to a logged table,
    * recording each ingested file as (`copyinto:<path>` → mtime,
    * `copyintosz:<path>` → length) markers in the SAME commit — so a
    * RERUN of the statement skips everything already loaded and
    * picks up only new files. Retry-safe ingest without a streaming
    * checkpoint: the marker set and the rows are one atomic commit,
    * so a crashed run never half-counts a file. A source file
    * REWRITTEN since its ingest loads again — detected by mtime
    * advance OR byte-length change, so a rewrite inside the same
    * filesystem timestamp tick (coarse-mtime stores) still
    * re-ingests when its size moved; `force` reloads every match
    * (Delta's force copy option — duplicates by design). Concurrent
    * COPY INTO over intersecting file sets cannot double-load: the
    * commit refuses when a fresh marker already exists at the head
    * (rerun ingests the remainder). Markers from before the length
    * field compare by mtime alone (never a spurious reload).
    *
    * CSV/JSON parse under the table's declared column types
    * (writer-defined identity/generated columns excluded — they
    * generate at append); parquet reads natively and casts by name.
    * Source columns outside the table schema refuse loudly; table
    * columns ABSENT from the source fill with their declared DEFAULT
    * when one exists, else typed NULL (the Delta COPY INTO shape) —
    * a missing NON-nullable column without a default refuses with a
    * COPY INTO error naming it, not the append-schema error.
    *
    * Scale: the listing is one driver glob (metadata-sized), the read
    * is a plain distributed scan of ONLY the fresh files, and the
    * marker state is KB per file in the log — the same shape as the
    * streaming sink's txn markers. */
  def copyInto(spark: SparkSession, dir: String, src: String,
      format: String = "parquet", pattern: Option[String] = None,
      options: Map[String, String] = Map.empty,
      force: Boolean = false): CopyIntoResult = {
    require(isLogged(spark, dir),
      s"TxLog: COPY INTO target $dir is not a logged txlog table")
    val snap = snapshot(spark, dir)
    val schema = DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]
    val glob = new org.apache.hadoop.fs.Path(src, pattern.getOrElse("*"))
    val fsys = glob.getFileSystem(spark.sessionState.newHadoopConf())
    val listed = Option(fsys.globStatus(glob)).getOrElse(Array.empty)
      .filter(st => st.isFile && {
        val n = st.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      })
      .map(st => (st.getPath.toString, st.getModificationTime,
        st.getLen))
      .sortBy(_._1).toSeq
    def upToDate(p: String, mt: Long, len: Long): Boolean =
      snap.txns.get(s"copyinto:$p").exists(_ >= mt) &&
        snap.txns.get(s"copyintosz:$p").forall(_ == len)
    val fresh =
      if (force) listed
      else listed.filterNot { case (p, mt, len) => upToDate(p, mt, len) }
    if (fresh.isEmpty)
      return CopyIntoResult(0L, listed.length.toLong, 0L, snap.version)
    val readSchema = StructType(schema.fields.filterNot(f =>
      snap.identity.contains(f.name) || snap.generated.contains(f.name)))
    // CSV with an explicit schema maps POSITIONALLY — a source file
    // carrying extra columns (e.g. the table's writer-defined
    // identity column) would silently shift every value one slot.
    // With a header, enforceSchema=false makes Spark VALIDATE the
    // header names against the schema instead (loud mismatch);
    // headerless CSV is positional by definition and stays so.
    val opts =
      if (format.equalsIgnoreCase("csv") &&
          options.get("header").exists(_.equalsIgnoreCase("true")) &&
          !options.contains("enforceSchema"))
        options + ("enforceSchema" -> "false")
      else options
    val reader = spark.read.format(format).options(opts)
    val df0 =
      if (format.equalsIgnoreCase("parquet")) reader.load(fresh.map(_._1): _*)
      else reader.schema(readSchema).load(fresh.map(_._1): _*)
    val extra = df0.columns.filterNot(schema.fieldNames.contains)
    require(extra.isEmpty,
      s"TxLog: COPY INTO source column(s) ${extra.mkString(", ")} are " +
        s"not columns of $dir")
    // absent table columns fill with their declared DEFAULT (else
    // typed NULL); identity/generated stay excluded — they generate
    // at append. A missing NON-nullable column without a default
    // refuses HERE, by name — the generic append-schema error advises
    // mergeSchema, which the COPY INTO SQL surface cannot express.
    val missingHard = schema.fields.filterNot(f =>
      df0.columns.contains(f.name) || snap.identity.contains(f.name) ||
        snap.generated.contains(f.name) || f.nullable ||
        snap.defaults.contains(f.name))
    require(missingHard.isEmpty,
      s"TxLog: COPY INTO source is missing non-nullable column(s) " +
        s"${missingHard.map(_.name).mkString(", ")} of $dir " +
        "(no declared default to fill them)")
    val casted = df0.select(schema.fields.toSeq
      .filter(f => df0.columns.contains(f.name) ||
        (!snap.identity.contains(f.name) &&
          !snap.generated.contains(f.name)))
      .map { f =>
        if (df0.columns.contains(f.name))
          col(f.name).cast(f.dataType).as(f.name)
        else snap.defaults.get(f.name)
          .map(d => expr(d).cast(f.dataType).as(f.name))
          .getOrElse(lit(null).cast(f.dataType).as(f.name))
      }: _*)
    // markers only for files not already recorded at this
    // (mtime, length): a FORCE reload of an already-marked unchanged
    // file re-appends its rows but must not re-commit the marker
    // (the dup check would read it as a concurrent copy); genuinely
    // new/updated files mark as usual
    val markers = fresh.collect {
      case (p, mt, len) if !upToDate(p, mt, len) =>
        Seq((s"copyinto:$p", mt), (s"copyintosz:$p", len))
    }.flatten
    val v = commitAppend(spark, dir, casted, txnsMulti = markers)
    val prev = snapshot(spark, dir, Some(v - 1)).files.map(_.path).toSet
    val rows = snapshot(spark, dir, Some(v)).files
      .filterNot(f => prev.contains(f.path)).map(_.rows).sum
    CopyIntoResult(fresh.length.toLong,
      (listed.length - fresh.length).toLong, rows, v)
  }

  /** Rewrite the current live files into `targetFiles` files (small-file
    * compaction) as one commit: remove exactly the files read, add the
    * rewrite. Concurrent appends commute (their files survive the
    * rebase); a concurrent commit that removed one of the same files
    * raises ConcurrentModificationException.
    *
    * `zorderBy` makes this the OPTIMIZE-with-clustering maintenance
    * form (Delta's `OPTIMIZE … ZORDER BY`): the rewrite is laid out
    * by the clustering key before the write, so each new file covers
    * a tight min/max envelope on the key column(s) and
    * [[readPruned]]'s stats-in-log skipping improves after
    * maintenance — the same data, the same commit shape, better
    * pruning. One column range-partitions + sorts on it; two columns
    * interleave through [[graft.operators.ZOrder.layoutByZ]] (Morton
    * order — files get tight boxes in BOTH dimensions, so predicates
    * on EITHER column prune). Clustering columns are always recorded
    * in the per-file stats (unioned into `statsCols`) — an OPTIMIZE
    * whose layout the reader can't see would be maintenance theater.
    * Cost: one range-partitioned shuffle of the LIVE data (the same
    * cost every compaction already pays) — log metadata stays
    * KB-sized regardless of table size. */
  def compact(spark: SparkSession, dir: String, targetFiles: Int,
      statsCols: Seq[String] = Nil,
      zorderBy: Seq[String] = Nil,
      where: Option[org.apache.spark.sql.Column] = None,
      purify: Boolean = false): Long = {
    val snap = snapshot(spark, dir)
    // `where` is Delta's `OPTIMIZE … WHERE`: compact ONLY the files
    // whose recorded stats can intersect the predicate (whole files —
    // file granularity is the unit of maintenance). On a 100 TB
    // table this turns "optimize yesterday's ingest" from a corpus
    // rewrite into a partition-sized one.
    val scope = where match {
      case None => snap.files
      case Some(pred) => predicatePrune(spark, snap, pred)(snap.files)
    }
    // a scoped OPTIMIZE whose predicate matches no files is a no-op —
    // never an empty commit. (An UNscoped compact always rewrites:
    // it is an explicit relayout command, and a single-file rewrite
    // still has work to do — folding vectors, flattening a
    // registered partition layout, applying zorder.)
    if (where.isDefined && scope.isEmpty) return snap.version
    val base = readSnapshot(spark, dir, snap.copy(files = scope))
    // PURIFY mode (`OPTIMIZE` that keeps the planner presentation):
    // on a partitioned table, the flat rewrite below merges files
    // ACROSS partition values — min ≠ max on the partition columns,
    // so routine maintenance used to silently demote the table off
    // the [[TxFileIndex]] partitioned presentation, costing every
    // later read its static AND dynamic partition pruning. Purify
    // compacts WITHIN partition values instead: the rewrite stages
    // through the same partition-pure form as appends
    // ([[stageBodyPartitioned]]), `targetFiles` becomes a
    // max-records-per-file bound (total live rows / targetFiles) so
    // one giant partition splits into several pure files, and
    // `zorderBy` clusters rows inside each partition (single column:
    // plain sort; multi: Morton interleave) — per-file stat
    // envelopes tighten on the key without ever mixing partition
    // values. The FLAT form stays the default: it is the
    // clone-enabling contract (one file set, no layout) and the
    // right shape for unpartitioned tables, where purify degrades to
    // it harmlessly.
    val doPurify = purify && snap.partitionCols.nonEmpty
    val df =
      if (doPurify) base
      else zorderBy match {
        case Nil => base.repartition(targetFiles)
        case Seq(c) =>
          base.repartitionByRange(targetFiles, col(c))
            .sortWithinPartitions(col(c))
        case more =>
          // N-column Morton layout; narrower bit budgets for wider keys
          // so the interleave still fits a long
          graft.operators.ZOrder
            .layoutByZN(base, more.map(col), targetFiles,
              bits = math.min(16, 63 / more.size))
            .drop("zv")
      }
    val sortPhys =
      if (!doPurify) Nil
      else zorderBy match {
        case Nil => Nil
        case Seq(c) => Seq(col(snap.phys(c)))
        case more => Seq(graft.operators.ZOrder.zValueN(
          more.map(c => col(snap.phys(c))),
          bits = math.min(16, 63 / more.size)))
      }
    // PURIFY file sizing — BYTES, not rows (the Delta binpack shape):
    // the implied byte target is scope live bytes / targetFiles, and
    // each partition value gets round(its live bytes / target) write
    // tasks via the staged per-value fan-out — a partition of
    // 10×-wider rows splits into 10× more files of the SAME byte
    // size, where the old global rows bound made its files 10×
    // bigger. Per-file live bytes are dv-scaled commit metadata
    // (zero extra passes). Falls back to the rows bound when any
    // scoped file lacks recorded bytes or a recoverable value
    // (legacy entries; repairing a previously-flattened layout).
    def liveB(f2: TxFile): Option[Long] = f2.bytes.map { b =>
      if (f2.dvRows > 0L && f2.rows > 0L)
        math.max(1L, (b.toDouble *
          math.max(0L, f2.rows - f2.dvRows) / f2.rows).toLong)
      else b
    }
    // the same canonical key [[valueKeyExpr]] computes per row
    def valueKeyOf(f2: TxFile): Option[String] = {
      val parts = snap.partitionCols.map { pc =>
        f2.stats.get(pc) match {
          case _ if f2.rows == 0L => Some("\u0000null")
          case Some(st) if st.nulls.contains(f2.rows) =>
            Some("\u0000null")
          case Some(st) if st.min.isDefined && st.min == st.max &&
              st.nulls.contains(0L) => st.min
          case _ => None
        }
      }
      if (parts.exists(_.isEmpty)) None
      else Some(parts.map(_.get).mkString("\u0001"))
    }
    // ZORDER purify keeps the ROWS-bound form (maxRecordsPerFile over
    // the range-partitioned sorted stage — stageBodyPartitioned
    // repartitionByRange's the clustering key, so parallel tasks still
    // produce consecutive, tight-envelope chunks): the per-value hash
    // salt of the byte path would scatter the sorted run across tasks
    // — every file's min/max envelope then spans the whole key range
    // and the clustering buys nothing. (Byte-sizing a zordered purify
    // would need per-value range bucketing on the key — a quantile
    // pass; rows stay the honest proxy there.)
    val (valueTasks, maxRec) =
      if (!doPurify || sortPhys.nonEmpty) (Map.empty[String, Int],
        if (!doPurify) None
        else {
          val live = scope.map(f => math.max(0L, f.rows - f.dvRows)).sum
          Some(math.max(1L, math.ceil(
            live.toDouble / math.max(1, targetFiles)).toLong))
        })
      else {
        val keyed = scope.map(f2 => (valueKeyOf(f2), liveB(f2)))
        if (scope.nonEmpty &&
            keyed.forall(t => t._1.isDefined && t._2.isDefined)) {
          val total = keyed.flatMap(_._2).sum
          val target = math.max(1L, total / math.max(1, targetFiles))
          // n_v ≤ round(total/target) = targetFiles by construction —
          // the dense-pid shuffle sizes its OWN partition count, so
          // no numShufflePartitions cap applies here
          val m = keyed.groupBy(_._1.get).map { case (k, fs) =>
            val b = fs.flatMap(_._2).sum
            k -> math.max(1, math.round(b.toDouble / target).toInt)
          }
          (m, None)
        } else {
          val live = scope.map(f => math.max(0L, f.rows - f.dvRows)).sum
          (Map.empty[String, Int], Some(math.max(1L,
            math.ceil(live.toDouble / math.max(1, targetFiles)).toLong)))
        }
      }
    // carry the scoped files' skip-stats through the rewrite (plus
    // whatever the caller asked for) — an OPTIMIZE that silently
    // dropped the table's pruning metadata would degrade every later
    // readPruned
    val (added, schemaJson) =
      stageData(spark, dir, df,
        inheritStats(scope, (statsCols ++ zorderBy).distinct, snap),
        snap.mapping,
        partCols = if (doPurify) snap.partitionCols else Nil,
        sortWithinPhys = sortPhys, maxRecordsPerFile = maxRec,
        valueTasks = valueTasks)
    // a compaction reads its whole scope — pin every scoped vector
    // pointer, or a concurrent merge-on-read DML (same paths stay
    // live) would be silently materialized away
    commitStaged(spark, dir, "compact", added, scope.map(_.path),
      removeAll = false, schemaJson, None, staged = added.map(_.path),
      expectDv = scope.map(f => f.path -> f.dv).toMap)
  }

  // ---- CHECK constraints -------------------------------------------

  /** Add a table-level CHECK constraint (Delta's `ALTER TABLE … ADD
    * CONSTRAINT`): `exprStr` is a SQL boolean expression over the
    * table's columns; SQL CHECK semantics — a row violates only when
    * the expression is FALSE (null passes). EXISTING rows are
    * validated first (one scan; refused loudly if any violate —
    * Delta's contract), then the full constraint map is recorded in
    * the log as its own commit, so constraints time-travel, survive
    * checkpoints, and bind every later writer. Every subsequent
    * append / overwrite / update / merge validates its batch (one
    * batch-sized scan) and refuses naming the violated constraint —
    * nothing is staged or committed on refusal. */
  def addCheckConstraint(spark: SparkSession, dir: String,
      name: String, exprStr: String): Long = {
    require(name.nonEmpty, "TxLog: constraint needs a name")
    val snap = snapshot(spark, dir)
    val bad = readSnapshot(spark, dir, snap)
      .filter(expr(exprStr).eqNullSafe(false)).limit(1).count()
    require(bad == 0,
      s"TxLog: cannot add constraint '$name' ($exprStr) — existing " +
        "rows violate it")
    commitMeta(spark, dir, "constraints", snap, rowsChecked = true)(head =>
      Meta(constraints = Some(head.constraints + (name -> exprStr))))
  }

  /** Drop a CHECK constraint by name (unknown names refuse — a typo'd
    * drop that silently "succeeds" leaves the constraint enforcing). */
  def dropCheckConstraint(spark: SparkSession, dir: String,
      name: String): Long = {
    commitMeta(spark, dir, "constraints", snapshot(spark, dir)) { head =>
      require(head.constraints.contains(name),
        s"TxLog: no constraint '$name' on $dir " +
          s"(active: ${head.constraints.keys.toSeq.sorted.mkString(", ")})")
      Meta(constraints = Some(head.constraints - name))
    }
  }

  /** Validate `df` against the table's active constraints — ONE scan
    * for the happy path (any-violation check); only on refusal does a
    * second pass name the culprit. No-op on unlogged dirs and
    * constraint-free tables. Returns the constraints it checked, for
    * the writer's commit to pin with [[pinConstraints]]. */
  private def enforceConstraints(spark: SparkSession, dir: String,
      df: DataFrame): Map[String, String] = {
    if (!isLogged(spark, dir)) return Map.empty
    val cs = snapshot(spark, dir).constraints
    if (cs.isEmpty) return cs
    val anyBad = cs.values.map(e => expr(e).eqNullSafe(false))
      .reduce(_ || _)
    if (df.filter(anyBad).limit(1).count() == 0) return cs
    val culprit = cs.toSeq.sortBy(_._1).find { case (_, e) =>
      df.filter(expr(e).eqNullSafe(false)).limit(1).count() > 0
    }.map(_._1).getOrElse(cs.keys.head)
    throw new IllegalArgumentException(
      s"TxLog: CHECK constraint '$culprit' (${cs(culprit)}) violated " +
        s"by the batch — nothing was written to $dir")
  }

  /** The claim-time half of [[enforceConstraints]], run inside a data
    * commit's `meta` against the fresh head: a constraint the head
    * holds that is not in `checked` (added or redefined while the
    * batch staged) refuses with ConcurrentModificationException, so
    * rows validated under the older set never land under the newer
    * one. A dropped constraint or any other metadata change passes. */
  private def pinConstraints(checked: Map[String, String],
      head: TxSnapshot): Unit = {
    val fresh = head.constraints.filterNot { case (n, e) =>
      checked.get(n).contains(e) }
    if (fresh.nonEmpty)
      throw new java.util.ConcurrentModificationException(
        s"TxLog: CHECK constraint(s) ${fresh.keys.toSeq.sorted.mkString(", ")} " +
          "added by a concurrent commit after the batch was validated " +
          "— re-run the write")
  }

  /** A metadata commit — no file moves — through [[commitStaged]]:
    * `next` re-runs the verb's checks against the head and returns the
    * new full value computed from it, on every attempt. A lost claim
    * therefore rebases the change; a check that no longer holds
    * refuses it. `rowsChecked`: the verb validated the rows of `read`,
    * so any file added since refuses with
    * ConcurrentModificationException rather than land unchecked. */
  private def commitMeta(spark: SparkSession, dir: String, op: String,
      read: TxSnapshot, rowsChecked: Boolean = false,
      txn: Option[(String, Long)] = None)(next: TxSnapshot => Meta): Long = {
    val seen = read.files.map(_.path).toSet
    commitStaged(spark, dir, op, Nil, Nil, removeAll = false,
      read.schemaJson, txn, staged = Nil, meta = next,
      conflictIfAdded = Option.when(rowsChecked)(
        (files: Seq[TxFile]) => files.map(_.path).filterNot(seen)))
  }

  // ---- identity columns --------------------------------------------

  /** Declare an EXISTING bigint column as an IDENTITY column
    * (`ALTER TABLE … GENERATED { ALWAYS | BY DEFAULT } AS IDENTITY`):
    * from now on, batches that OMIT the column get values generated
    * from the high watermark, which seeds here from the column's
    * CURRENT extrema — answered from per-file stats where they
    * cover ([[minMax]] — a stats-covered table seeds without data
    * I/O). One KB metadata commit; requires generation-4 readers.
    * Delta only allows identity at CREATE; declaring on live data is
    * this form's convenience — [[commitOverwrite]]'s `identity`
    * parameter is the creation-time dual. */
  def setIdentity(spark: SparkSession, dir: String, name: String,
      start: Long = 1L, step: Long = 1L, always: Boolean = true): Long = {
    def check(head: TxSnapshot): Unit = {
      val schema = DataType.fromJson(head.schemaJson).asInstanceOf[StructType]
      require(schema.fieldNames.contains(name),
        s"TxLog: identity column '$name' is not a table column")
      require(schema(name).dataType ==
        org.apache.spark.sql.types.LongType,
        s"TxLog: identity column '$name' must be BIGINT, is " +
          schema(name).dataType.simpleString)
      require(!head.identity.contains(name),
        s"TxLog: '$name' is already an identity column — dropIdentity " +
          "first to redeclare")
      require(!head.generated.contains(name),
        s"TxLog: '$name' is expression-generated — a column cannot be " +
          "both identity and generated")
      require(!head.defaults.contains(name),
        s"TxLog: '$name' carries a DEFAULT — a column cannot be both " +
          "identity and defaulted")
    }
    val snap = snapshot(spark, dir)
    check(snap)
    val mm = minMax(spark, dir, Seq(name), Some(snap.version)).head()
    val hi =
      if (step > 0) Option(mm.getAs[Any](s"max_$name"))
      else Option(mm.getAs[Any](s"min_$name"))
    val spec = IdentitySpec(start, step, hi.map(_.asInstanceOf[Long]), always)
    commitMeta(spark, dir, "identity", snap, rowsChecked = true) { head =>
      check(head)
      Meta(identity = Some(head.identity + (name -> spec)))
    }
  }

  /** Remove a column's identity property (the data column stays). */
  def dropIdentity(spark: SparkSession, dir: String,
      name: String): Long = {
    commitMeta(spark, dir, "identity", snapshot(spark, dir)) { head =>
      require(head.identity.contains(name),
        s"TxLog: '$name' is not an identity column")
      Meta(identity = Some(head.identity - name))
    }
  }

  /** Recompute every identity watermark from the LIVE data (Delta's
    * `SYNC IDENTITY`) — the repair after GENERATED BY DEFAULT writes
    * landed explicit values through a path that didn't record stats
    * for the column. Extrema come from [[minMax]] (metadata-only
    * where stats cover) and ABSORB into the standing watermark
    * (never backwards — deleted rows don't free their ids). */
  def syncIdentity(spark: SparkSession, dir: String): Long = {
    val snap = snapshot(spark, dir)
    require(snap.identity.nonEmpty,
      s"TxLog: no identity columns declared on $dir")
    val cols = snap.identity.keys.toSeq.sorted
    val mm = minMax(spark, dir, cols, Some(snap.version)).head()
    val observed = snap.identity.flatMap { case (c, s) =>
      Option(mm.getAs[Any](if (s.step > 0) s"max_$c" else s"min_$c"))
        .map(v => c -> v.asInstanceOf[Long])
    }
    // the head's watermarks absorb what the read observed: a racer's
    // ids stay issued
    commitMeta(spark, dir, "identity", snap)(head =>
      Meta(identity = Some(head.identity.map { case (c, s) =>
        c -> observed.get(c).fold(s)(s.absorb)
      })))
  }

  /** Metadata-only commit advancing a txn marker: the "this span was
    * read and netted to NOTHING" stamp. Without it a follower whose
    * feed span holds only compaction / no-op commits would never move
    * its watermark and re-read the same span on every refresh forever
    * (correct results, unbounded repeated work). No files move; lost
    * claims re-check the marker and skip if a racer advanced it. */
  private[graft] def commitTxnAdvance(spark: SparkSession, dir: String,
      txn: (String, Long)): Long =
    commitMeta(spark, dir, "txn", snapshot(spark, dir), txn = Some(txn))(
      _ => Meta())

  // ---- column DEFAULT values ----------------------------------------

  /** Declare a column DEFAULT (Delta's `ALTER TABLE … ALTER COLUMN …
    * SET DEFAULT expr`): a batch that OMITS the column gets it filled
    * with the (literal-foldable) expression at write; a batch that
    * SUPPLIES it — including NULLs — flows untouched (SQL DEFAULT
    * semantics: it applies only when the column is absent). Purely a
    * WRITER feature: data files always carry the column, so no reader
    * generation bump. The expression must not reference columns
    * (Delta's foldability rule) and must cast to the column's type. */
  def setDefault(spark: SparkSession, dir: String, name: String,
      exprStr: String): Long =
    commitMeta(spark, dir, "defaults", snapshot(spark, dir)) { head =>
      val schema = DataType.fromJson(head.schemaJson).asInstanceOf[StructType]
      require(schema.fieldNames.contains(name),
        s"TxLog: default column '$name' is not a table column")
      require(!head.identity.contains(name),
        s"TxLog: '$name' is an identity column — its values generate")
      require(!head.generated.contains(name),
        s"TxLog: '$name' is expression-generated — its values compute")
      val refs = exprRefs(spark, exprStr)
      require(refs.isEmpty,
        s"TxLog: DEFAULT for '$name' references column(s) " +
          s"${refs.mkString(", ")} — defaults must be literal-foldable " +
          "(use a GENERATED column for derived values)")
      // the expression must evaluate and cast to the declared type
      val probe = spark.range(1)
        .select(expr(exprStr).cast(schema(name).dataType)).head()
      val _ = probe // any failure above refuses the declaration
      Meta(defaults = Some(head.defaults + (name -> exprStr)))
    }

  /** Remove a column's DEFAULT (the column stays). */
  def dropDefault(spark: SparkSession, dir: String,
      name: String): Long =
    commitMeta(spark, dir, "defaults", snapshot(spark, dir)) { head =>
      require(head.defaults.contains(name),
        s"TxLog: '$name' carries no DEFAULT")
      Meta(defaults = Some(head.defaults - name))
    }

  /** Set (upsert) table PROPERTIES — Delta's `ALTER TABLE … SET
    * TBLPROPERTIES`: free-form (key → value) metadata carried in the
    * log (NOT the session catalog), so `SHOW TBLPROPERTIES` answers
    * from the snapshot and time travel shows historical values. One
    * KB-sized commit; full-map replay like constraints/defaults.
    * Keys must be non-empty; values are arbitrary strings. */
  def setTblProperties(spark: SparkSession, dir: String,
      props: Map[String, String]): Long = {
    require(props.nonEmpty, "TxLog: SET TBLPROPERTIES needs at least " +
      "one key = value pair")
    require(props.keys.forall(_.trim.nonEmpty),
      "TxLog: TBLPROPERTIES keys must be non-empty")
    commitMeta(spark, dir, "properties", snapshot(spark, dir))(head =>
      Meta(properties = Some(head.properties ++ props)))
  }

  /** Remove table properties by key (Delta's `UNSET TBLPROPERTIES`).
    * Unknown keys refuse loudly — a typo'd unset that silently
    * no-ops leaves the caller believing the property is gone. */
  def unsetTblProperties(spark: SparkSession, dir: String,
      keys: Seq[String]): Long = {
    require(keys.nonEmpty, "TxLog: UNSET TBLPROPERTIES needs keys")
    commitMeta(spark, dir, "properties", snapshot(spark, dir)) { head =>
      val missing = keys.filterNot(head.properties.contains)
      require(missing.isEmpty,
        s"TxLog: table $dir has no propert${
          if (missing.size == 1) "y" else "ies"} ${missing.mkString(", ")}")
      Meta(properties = Some(head.properties -- keys))
    }
  }

  /** Fill declared DEFAULTs for columns the batch omits (supplied
    * columns flow untouched — SQL DEFAULT semantics). */
  private def applyDefaultCols(df: DataFrame,
      defaults: Map[String, String],
      declared: Option[StructType]): DataFrame =
    defaults.toSeq.sortBy(_._1).foldLeft(df) { case (out, (c, e)) =>
      if (out.columns.contains(c)) out
      else {
        val target = declared.flatMap(_.fields.find(_.name == c))
        out.withColumn(c,
          target.fold(expr(e))(fl => expr(e).cast(fl.dataType)))
      }
    }

  // ---- generated columns -------------------------------------------

  private def validateGeneratedDecl(spark: SparkSession,
      fields: Set[String], name: String,
      e: String, gens: Map[String, String],
      idents: Set[String]): Unit = {
    require(fields.contains(name),
      s"TxLog: generated column '$name' is not a table column")
    require(!gens.contains(name),
      s"TxLog: '$name' already carries a generation expression — " +
        "dropGenerated first to redeclare")
    require(!idents.contains(name),
      s"TxLog: '$name' is an identity column — a column cannot be " +
        "both identity and expression-generated")
    val refs = exprRefs(spark, e)
    val unknown = refs.filterNot(fields.contains)
    require(unknown.isEmpty,
      s"TxLog: generated column '$name' references unknown " +
        s"column(s): ${unknown.mkString(", ")}")
    require(!refs.contains(name),
      s"TxLog: generated column '$name' cannot reference itself")
    val layered = refs.filter(c => gens.contains(c) || idents.contains(c))
    require(layered.isEmpty,
      s"TxLog: generated column '$name' references generated/identity " +
        s"column(s) ${layered.mkString(", ")} — generation must derive " +
        "from plain data columns (the Delta contract)")
  }

  /** Declare an EXISTING column as GENERATED ALWAYS AS (`exprStr`)
    * (Delta's generated columns): from now on, batches that OMIT the
    * column get it computed from the expression; batches that SUPPLY
    * it are validated row-by-row against it (null-safe equality — the
    * Delta write contract) and refused on divergence; UPDATE refuses
    * to SET it directly and recomputes it when a referenced source
    * column changes. Declaring on live data validates the standing
    * rows first (one scan, like adding a CHECK constraint); the
    * declaration itself is a KB metadata commit requiring
    * generation-4 readers. [[commitOverwrite]]'s `generated`
    * parameter is the creation-time dual (there the expression
    * DEFINES the column). */
  def setGenerated(spark: SparkSession, dir: String, name: String,
      exprStr: String): Long = {
    def check(head: TxSnapshot): Unit = {
      val schema = DataType.fromJson(head.schemaJson).asInstanceOf[StructType]
      validateGeneratedDecl(spark, schema.fieldNames.toSet, name,
        exprStr, head.generated, head.identity.keySet)
      require(!head.defaults.contains(name),
        s"TxLog: '$name' carries a DEFAULT — dropDefault first " +
          "(a column cannot be both defaulted and generated)")
    }
    val snap = snapshot(spark, dir)
    check(snap)
    val bad = readSnapshot(spark, dir, snap)
      .filter(!(col(name) <=> expr(exprStr))).limit(1).count()
    require(bad == 0L,
      s"TxLog: cannot declare '$name' GENERATED AS ($exprStr) — " +
        "existing rows diverge from the expression")
    commitMeta(spark, dir, "generated", snap, rowsChecked = true) { head =>
      check(head)
      Meta(generated = Some(head.generated + (name -> exprStr)))
    }
  }

  /** Remove a column's generation expression (the column stays). */
  def dropGenerated(spark: SparkSession, dir: String,
      name: String): Long =
    commitMeta(spark, dir, "generated", snapshot(spark, dir)) { head =>
      require(head.generated.contains(name),
        s"TxLog: '$name' is not a generated column")
      Meta(generated = Some(head.generated - name))
    }

  /** Apply generated-column semantics to a write batch: an ABSENT
    * generated column is COMPUTED here from its expression (cast to
    * the declared type when the table already defines one — at
    * creation the expression's own type defines the column); a
    * PRESENT column is VALIDATED — every row must equal the
    * expression null-safely, refused otherwise (the Delta write
    * contract; computing is one projection, validating is one
    * LIMIT-1 probe per supplied column). */
  /** ONE job answering, for every writer-defined column the batch
    * carries, "did the caller supply anything?" and "are there
    * NULLs?" — (non-null count, total count) per column. The
    * apply*Cols helpers previously probed with per-column
    * filter-counts, executing an expensive source plan once or twice
    * per spec'd column before staging. */
  private def supplyCounts(df: DataFrame,
      cols: Seq[String]): Map[String, (Long, Long)] =
    if (cols.isEmpty) Map.empty
    else {
      val aggs = cols.map(c => count(col(c)))
      val row = df.agg(count(lit(1)), aggs: _*).head()
      val tot = row.getLong(0)
      cols.zipWithIndex.map { case (c, i) =>
        c -> ((row.getLong(i + 1), tot))
      }.toMap
    }

  /** The supply probe for one commit: every generated or identity
    * column the batch carries. */
  private def supplyProbe(df: DataFrame, genMap: Map[String, String],
      idMap: Map[String, IdentitySpec]): Map[String, (Long, Long)] =
    supplyCounts(df, (genMap.keys ++ idMap.keys)
      .filter(df.columns.contains).toSeq.distinct)

  private def applyGeneratedCols(df: DataFrame,
      gens: Map[String, String],
      declared: Option[StructType],
      counts: Map[String, (Long, Long)]): DataFrame = {
    var out = df
    gens.toSeq.sortBy(_._1).foreach { case (c, e) =>
      def compute(base: DataFrame): DataFrame = {
        val target = declared.flatMap(_.fields.find(_.name == c))
        base.withColumn(c,
          target.fold(expr(e))(fl => expr(e).cast(fl.dataType)))
      }
      if (df.columns.contains(c)) {
        // SQL INSERT with a column list fills an omitted generated
        // column with NULLs — if NOTHING real was supplied, compute
        // instead of failing the divergence check (a genuinely
        // supplied column still validates value-for-value)
        if (counts(c)._1 == 0L) out = compute(out.drop(c))
        else enforceGeneratedOn(df, c, e)
      } else out = compute(out)
    }
    out
  }

  /** Validate one supplied generated column against its expression. */
  private def enforceGeneratedOn(df: DataFrame, c: String,
      e: String): Unit = {
    val bad = df.filter(!(col(c) <=> expr(e))).limit(1).count()
    require(bad == 0L,
      s"TxLog: generated column '$c' = ($e) — supplied values diverge " +
        "from the expression; omit the column (it generates) or " +
        "supply matching values")
  }

  /** Validate every generated column a relation supplies (the keyed-
    * rewrite paths: merge/applyChanges sources carry the full table
    * schema, so generated columns are always present there). */
  private def enforceGenerated(snap: TxSnapshot, df: DataFrame): Unit =
    snap.generated.toSeq.sortBy(_._1).foreach { case (c, e) =>
      if (df.columns.contains(c)) enforceGeneratedOn(df, c, e)
    }

  /** Apply identity semantics to a write batch: GENERATED ALWAYS
    * columns must be ABSENT (values generate here off the watermark
    * — per-task blocks of the monotonic task id: one pass, no
    * shuffle, gaps allowed per the Delta contract); BY DEFAULT
    * columns flow when present (NULLs refused — identity implies NOT
    * NULL). Returns the filled frame and the watermark each
    * generation assumed, which [[commitStaged]] re-checks at claim
    * time (a concurrent bump means our baked values could collide —
    * conflict, regenerate). */
  private def applyIdentityCols(df: DataFrame,
      idMap: Map[String, IdentitySpec],
      counts: Map[String, (Long, Long)])
      : (DataFrame, Map[String, Option[Long]]) = {
    var out = df
    idMap.toSeq.sortBy(_._1).foreach { case (c, spec) =>
      def gen = lit(spec.nextBase) +
        lit(spec.step) * monotonically_increasing_id()
      if (df.columns.contains(c)) {
        // SQL INSERT with a column list arrives with the omitted
        // identity column PRESENT but engine-filled with NULLs —
        // indistinguishable from omission at this layer. An ALL-NULL
        // column therefore reads as omission and generates (both
        // ALWAYS and BY DEFAULT — Delta's omission semantics). Any
        // real value keeps the standing contracts: ALWAYS refuses,
        // BY DEFAULT absorbs values but refuses a MIXED batch's
        // NULLs (identity is conceptually NOT NULL; a half-supplied
        // batch is a caller bug, not an engine fill).
        val (nonNull, tot) = counts(c)
        if (nonNull == 0L) {
          out = out.drop(c).withColumn(c, gen)
        } else {
          require(!spec.always,
            s"TxLog: '$c' is GENERATED ALWAYS AS IDENTITY — writes " +
              "must not supply it (declare BY DEFAULT to allow " +
              "explicit values)")
          require(nonNull == tot,
            s"TxLog: identity column '$c' cannot take NULL values " +
              "in a batch that also supplies values")
        }
      } else {
        out = out.withColumn(c, gen)
      }
    }
    (out, idMap.map { case (c, s) => c -> s.high })
  }

  /** The identity map AFTER a staged write: each watermark absorbs
    * the staged files' recorded extrema for its column — commit
    * metadata, no extra scan (the caller forced the column into
    * `statsCols`). Absorbing both bounds keeps BY-DEFAULT explicit
    * values in range regardless of step sign. */
  private def identityAfter(idMap: Map[String, IdentitySpec],
      added: Seq[TxFile], phys: String => String)
      : Map[String, IdentitySpec] =
    idMap.map { case (c, s) =>
      val vals = added.flatMap(_.stats.get(phys(c)))
        .flatMap(st => st.min.toSeq ++ st.max.toSeq).map(_.toLong)
      c -> vals.foldLeft(s)((acc, v) => acc.absorb(v))
    }

  /** Refuse keyed-rewrite DML on tables with a GENERATED ALWAYS
    * identity column: those paths re-stage matched rows from the
    * CALLER's relation, which must then carry the generated values —
    * the contract ALWAYS forbids. BY DEFAULT identity flows. */
  private def refuseAlwaysIdentity(snap: TxSnapshot, op: String): Unit = {
    val always = snap.identity.collect {
      case (c, s) if s.always => c
    }
    require(always.isEmpty,
      s"TxLog: $op on a table with GENERATED ALWAYS identity " +
        s"column(s) ${always.mkString(", ")} — the source relation " +
        "would have to supply generated values; route inserts " +
        "through commitAppend, or declare the column BY DEFAULT")
  }

  // ---- shallow clone -----------------------------------------------

  /** SHALLOW CLONE (Delta's `CREATE TABLE … SHALLOW CLONE src`): a new
    * logged table whose version 0 registers the SOURCE snapshot's
    * files (and deletion vectors) by ABSOLUTE path — no byte of data
    * is copied, so cloning a 100 TB table costs one KB metadata
    * commit. The clone then evolves INDEPENDENTLY: its appends, DML
    * and compactions write into its own dir (new entries are
    * dir-relative as usual) and remove source files only LOGICALLY
    * (from the clone's file list — [[vacuum]] on the clone never
    * deletes a file outside its own dir, because reaping is keyed by
    * the clone-root listing). Schema, column mapping, retired names
    * and CHECK constraints carry over; txn markers do NOT (the clone
    * is a new sink). The documented Delta caveat applies equally:
    * VACUUM on the SOURCE can reap files the clone still references —
    * retain source history while clones live, or [[compact]] the
    * clone to make it self-contained. `asOf` clones a historical
    * version (time-travel clone). */
  def clone(spark: SparkSession, sourceDir: String, targetDir: String,
      asOf: Option[Long] = None): Long = {
    require(!isLogged(spark, targetDir),
      s"TxLog: clone target $targetDir is already a logged table")
    val snap = snapshot(spark, sourceDir, asOf)
    require(snap.partitionCols.isEmpty ||
      snap.files.forall(!_.path.contains('/')),
      s"TxLog: $sourceDir still references path-partitioned files — " +
        "their values live in paths relative to THAT dir and cannot " +
        "be re-anchored; compact first (flattens the layout), then " +
        "clone")
    val abs = new java.io.File(sourceDir).getAbsolutePath
    // like restore: a snapshot whose files were already vacuumed
    // cannot be cloned — refuse NOW, not as a scan-time path error
    // on the clone's first read
    new Presence(spark, sourceDir).check(snap.files.map(_.path),
      snap.files.flatMap(_.dv), s"cannot clone $sourceDir@${snap.version}")
    val entries = snap.files.map(f => f.copy(
      path = resolveData(abs, f.path),
      dv = f.dv.map(d => resolveData(abs, d))))
    // claim version 0 DIRECTLY (like convertInPlace), with the source's
    // CHECK constraints riding in the same commit. Two bugs a
    // commitStaged clone had: (a) its contention rebase would silently
    // CLOBBER a table created concurrently at the target (logically
    // removing its files) instead of refusing; (b) constraints landed
    // as a SECOND commit, so a writer slipping between v0 and v1 could
    // append data the source's constraints would have refused.
    val lf = fs(spark, logPath(targetDir))
    if (!tryWrite(lf, versionFile(targetDir, 0L),
        renderCommit(0L, "clone", entries, Nil,
          cloneMeta(snap, Some(math.max(2, snap.minReader))), None)))
      throw new java.util.ConcurrentModificationException(
        s"TxLog: clone target $targetDir was concurrently created — " +
          "refusing to clobber it")
    0L
  }

  /** A clone's v0 metadata: `snap`'s non-empty fields, its mapping and
    * retired names even when empty, no partition columns (a clone
    * holds flat files only); txn markers stay behind. */
  private def cloneMeta(snap: TxSnapshot, minReader: Option[Int]): Meta =
    Meta.of(snap).copy(mapping = Some(snap.mapping),
      retired = Some(snap.retired), minReader = minReader,
      partitionCols = None)

  /** DEEP CLONE (Delta's `CREATE TABLE … CLONE src`): like [[clone]]
    * but SELF-CONTAINED — every referenced data file (and deletion
    * vector) is COPIED into the target directory by a distributed
    * copy job (one task per file, the DistCp shape) and registered
    * dir-relative, so vacuuming, truncating or outright deleting the
    * source can never break the clone (the shallow form's documented
    * caveat). Schema, per-file stats, column mapping, retired names
    * and CHECK constraints carry over unchanged; txn markers do not.
    * A clone-of-clone chain flattens: absolute references copy like
    * any other file, so the deep clone of a shallow clone detaches
    * from BOTH ancestors. Cost: the data copy itself (definitional),
    * parallelized one-file-per-task across the cluster; the commit
    * is one metadata write. The copy lands before the log claim, so
    * a concurrent creation of the target refuses AFTER copying —
    * the copied files are then unreferenced by the winner's log and
    * its vacuum reaps them. */
  def deepClone(spark: SparkSession, sourceDir: String,
      targetDir: String, asOf: Option[Long] = None): Long = {
    require(!isLogged(spark, targetDir),
      s"TxLog: clone target $targetDir is already a logged table")
    val snap = snapshot(spark, sourceDir, asOf)
    // the copy flattens to base names, which would strip the
    // path-encoded partition values of a hive-layout registration
    require(snap.partitionCols.isEmpty ||
      snap.files.forall(!_.path.contains('/')),
      s"TxLog: $sourceDir still references path-partitioned files — " +
        "the flat copy would lose their path-encoded values; compact " +
        "first (materializes them as data), then clone")
    val fsrc = fs(spark, new Path(sourceDir))
    // qualify through the Hadoop filesystem (never java.io.File):
    // source and target may live on any configured store
    val abs = fsrc.makeQualified(new Path(sourceDir)).toString
    new Presence(spark, sourceDir).check(snap.files.map(_.path),
      snap.files.flatMap(_.dv), s"cannot clone $sourceDir@${snap.version}")
    val all = snap.files.map(_.path) ++ snap.files.flatMap(_.dv)
    val names = all.map(nameOf)
    require(names.distinct.size == names.size,
      "TxLog: deep clone source references files with colliding " +
        "base names (clone-of-clone chain?) — compact it first")
    val ftgt = fs(spark, new Path(targetDir))
    val tgtAbs = ftgt.makeQualified(new Path(targetDir)).toString
    ftgt.mkdirs(new Path(tgtAbs))
    val pairs = all.map(p =>
      (resolvePath(abs, p).toString, nameOf(p)))
    if (pairs.nonEmpty) {
      val slices = math.max(1, math.min(pairs.size,
        spark.sparkContext.defaultParallelism))
      // the session's filesystem config must travel with the tasks —
      // a fresh Configuration() would drop credentials / s3a / abfs
      // settings and break any non-default store
      val bconf = spark.sparkContext.broadcast(
        new org.apache.spark.util.SerializableConfiguration(
          spark.sparkContext.hadoopConfiguration))
      spark.sparkContext.parallelize(pairs, slices).foreach {
        case (srcP, name) =>
          val conf = bconf.value.value
          val sp = new Path(srcP)
          val tp = new Path(s"$tgtAbs/$name")
          org.apache.hadoop.fs.FileUtil.copy(sp.getFileSystem(conf),
            sp, tp.getFileSystem(conf), tp, false, true, conf)
          ()
      }
    }
    val entries = snap.files.map(f => f.copy(
      path = nameOf(f.path), dv = f.dv.map(nameOf)))
    val lf = fs(spark, logPath(targetDir))
    if (!tryWrite(lf, versionFile(targetDir, 0L),
        renderCommit(0L, "clone", entries, Nil, cloneMeta(snap, Seq(
          if (entries.exists(_.dv.isDefined)) 2 else 1,
          if (snap.mapping.nonEmpty || snap.retired.nonEmpty) 3 else 1,
          if (snap.identity.nonEmpty || snap.generated.nonEmpty) 4 else 1)
          .max match { case 1 => None; case m => Some(m) }), None)))
      throw new java.util.ConcurrentModificationException(
        s"TxLog: clone target $targetDir was concurrently created — " +
          "refusing to clobber it")
    0L
  }

  /** DESCRIBE DETAIL (the Delta shape): ONE row of table-level
    * operational facts, answered from log metadata plus one root
    * listing for bytes — version, file/row/deleted-row counts, bytes
    * on disk vs live bytes referenced, feature state (vectors,
    * mapping, constraints, required reader generation). What an
    * operator checks before deciding to [[maintain]], [[vacuum]] or
    * upgrade. */
  def describeDetail(spark: SparkSession, dir: String): DataFrame = {
    val snap = snapshot(spark, dir)
    val f = fs(spark, new Path(dir))
    val liveBytes = snap.files.map(a =>
      try f.getFileStatus(resolvePath(dir, a.path)).getLen
      catch { case _: java.io.FileNotFoundException => 0L }).sum
    // top-level data files plus (for registered hive layouts) the
    // nested key=value tree — same scope vacuum reaps over
    val top = f.listStatus(new Path(dir)).filter { st =>
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
    val onDisk = top.filter(_.isFile).map(_.getLen).sum +
      top.filter(st => st.isDirectory && st.getPath.getName.contains('='))
        .map { d0 =>
          val it = f.listFiles(d0.getPath, true)
          var b = 0L
          while (it.hasNext) {
            val st = it.next()
            if (st.isFile && !st.getPath.getName.startsWith("_") &&
              !st.getPath.getName.startsWith(".")) b += st.getLen
          }
          b
        }.sum
    val schema = StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("num_files", LongType, nullable = false),
      StructField("num_rows", LongType, nullable = false),
      StructField("num_deleted_rows", LongType, nullable = false),
      StructField("live_bytes", LongType, nullable = false),
      StructField("bytes_in_dir", LongType, nullable = false),
      StructField("num_dv_files", LongType, nullable = false),
      StructField("num_constraints", LongType, nullable = false),
      StructField("column_mapping", org.apache.spark.sql.types
        .BooleanType, nullable = false),
      StructField("min_reader", LongType, nullable = false)))
    spark.createDataFrame(java.util.Collections.singletonList(Row(
      snap.version, snap.files.size.toLong,
      snap.files.map(a => a.rows - a.dvRows).sum,
      snap.files.map(_.dvRows).sum,
      liveBytes, onDisk,
      snap.files.flatMap(_.dv).distinct.size.toLong,
      snap.constraints.size.toLong,
      snap.mapping.nonEmpty,
      snap.minReader.toLong)), schema)
  }

  // ---- maintenance policy ------------------------------------------

  /** What [[maintain]] decided and did. */
  final case class Maintenance(compacted: Boolean, reason: String,
      version: Long)

  /** The OPTIMIZE-when-needed policy (Delta's auto-compaction shape):
    * compact IFF the table accumulated debt — more than `maxFiles`
    * live files (small-file pressure from streaming/incremental
    * appends) or deletion vectors covering more than `maxDvFraction`
    * of the logged rows (merge-on-read read overhead) — otherwise do
    * NOTHING (no empty commits, no needless rewrite of a healthy
    * table). Both triggers are answered from log METADATA alone; the
    * compaction itself is the one data-sized cost and only runs when
    * the policy fires. Vacuum is deliberately NOT bundled: deleting
    * history is a retention decision, not a performance one. Schedule
    * this after ingest batches; at 100 TB the no-op path costs one
    * snapshot resolution. */
  def maintain(spark: SparkSession, dir: String,
      maxFiles: Int = 64, maxDvFraction: Double = 0.10,
      targetFiles: Int = 16, statsCols: Seq[String] = Nil,
      zorderBy: Seq[String] = Nil): Maintenance = {
    require(maxFiles > 0 && targetFiles > 0,
      "maintain thresholds must be positive")
    val snap = snapshot(spark, dir)
    val rows = snap.files.map(_.rows).sum
    val dvRows = snap.files.map(_.dvRows).sum
    val tooManyFiles = snap.files.size > maxFiles
    val dvHeavy = rows > 0 &&
      dvRows.toDouble / rows.toDouble > maxDvFraction
    if (!tooManyFiles && !dvHeavy)
      Maintenance(compacted = false,
        s"healthy: ${snap.files.size} files, $dvRows/$rows dv rows",
        snap.version)
    else {
      val why =
        (if (tooManyFiles) Seq(s"${snap.files.size} files > $maxFiles")
         else Nil) ++
          (if (dvHeavy) Seq(f"dv ${dvRows.toDouble / rows}%.2f > " +
            f"$maxDvFraction%.2f") else Nil)
      // AUTOMATED maintenance must never demote the table: purify
      // keeps a partitioned table on its planner presentation (and
      // still folds vectors away — the rewrite reads through the
      // vector-subtracting path); on unpartitioned tables purify
      // degrades to the flat rewrite. The explicit flat form stays
      // available through compact() directly.
      val v = compact(spark, dir, targetFiles, statsCols, zorderBy,
        purify = true)
      Maintenance(compacted = true, why.mkString("; "), v)
    }
  }

  // ---- Column mapping DDL (rename / drop without rewrite) ----------

  /** The unresolved column names a SQL expression references — used
    * to refuse DDL that would orphan a CHECK constraint. */
  private def exprRefs(spark: SparkSession, exprStr: String): Set[String] =
    spark.sessionState.sqlParser.parseExpression(exprStr).collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        a.name
    }.toSet

  /** One metadata-only DDL commit: new logical schema + full mapping
    * and retired list, computed from `snap`. Schema DDL never rebases:
    * a claim that finds any commit after `snap` refuses. */
  private def commitSchemaChange(spark: SparkSession, dir: String,
      op: String, snap: TxSnapshot, schemaJson: String,
      mapping: Map[String, String], retired: Seq[String],
      minReader: Int = 3): Long =
    commitMeta(spark, dir, op, snap) { head =>
      if (head.version != snap.version)
        throw new java.util.ConcurrentModificationException(
          s"TxLog: concurrent commit while altering schema of $dir — retry")
      Meta(Some(schemaJson), Some(mapping), Some(retired), Some(minReader))
    }

  /** ADD COLUMN without touching a single data file (Delta's
    * `ALTER TABLE … ADD COLUMN`): the logical schema widens in ONE
    * KB-sized metadata commit — files written before the change
    * simply lack the physical column and read as NULL (Spark's
    * missing-column semantics), so at 100 TB this costs the same as
    * at 100 KB. The new column is always NULLABLE (only a value-free
    * widen is metadata-only). If the chosen name's physical form is
    * RESERVED (a dropped/renamed predecessor — its old data must
    * never resurrect), the column gets a fresh physical name through
    * the standing column-mapping machinery; otherwise the commit
    * stays readable by generation-1 readers. Also reachable through
    * SQL `ALTER TABLE t ADD COLUMN c TYPE` ([[GraftCatalog]]). */
  def addColumn(spark: SparkSession, dir: String, name: String,
      dtypeDdl: String): Long = {
    val snap = snapshot(spark, dir)
    val schema = DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]
    require(!schema.fieldNames.contains(name),
      s"TxLog: column '$name' already exists in $dir")
    require(name != TagFile && name != TagIdx && name != "_graft_upd",
      s"TxLog: '$name' is a reserved internal name")
    val dt = DataType.fromDDL(dtypeDdl)
    val fresh =
      if (snap.reservedPhys.contains(name))
        Map(name -> s"${name}_${UUID.randomUUID().toString.take(8)}")
      else Map.empty[String, String]
    val newSchema = StructType(schema.fields :+
      StructField(name, dt, nullable = true))
    val newMapping = snap.mapping ++ fresh
    commitSchemaChange(spark, dir, "add-column", snap, newSchema.json,
      newMapping, snap.retired,
      minReader = if (newMapping.nonEmpty) 3 else 1)
  }

  /** RENAME COLUMN without touching a single data file (Delta's
    * column-mapping rename): the logical schema and the logical→
    * physical mapping change in ONE KB-sized metadata commit — the
    * physical parquet column keeps its name forever, so at 100 TB
    * this costs the same as at 100 KB. The old logical name's
    * physical stays reserved: a later column named `oldName` gets a
    * fresh physical name instead of resurrecting old data. Refuses
    * when a CHECK constraint references the column (Delta's rule —
    * drop the constraint first), when `oldName` is absent, or when
    * `newName` already exists. Time travel is schema-faithful:
    * reads at pre-rename versions show the old name. */
  def renameColumn(spark: SparkSession, dir: String,
      oldName: String, newName: String): Long = {
    val snap = snapshot(spark, dir)
    val schema = DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]
    require(schema.fieldNames.contains(oldName),
      s"TxLog: no column '$oldName' to rename in $dir")
    require(!schema.fieldNames.contains(newName),
      s"TxLog: column '$newName' already exists in $dir")
    val bound = snap.constraints.filter { case (_, e) =>
      exprRefs(spark, e).contains(oldName) }
    require(bound.isEmpty,
      s"TxLog: CHECK constraint(s) ${bound.keys.mkString(", ")} " +
        s"reference '$oldName' — drop them before renaming")
    require(!snap.identity.contains(oldName),
      s"TxLog: '$oldName' is an identity column — dropIdentity " +
        "before renaming")
    require(!snap.generated.contains(oldName),
      s"TxLog: '$oldName' is a generated column — dropGenerated " +
        "before renaming")
    require(!snap.defaults.contains(oldName),
      s"TxLog: '$oldName' carries a DEFAULT — dropDefault " +
        "before renaming")
    val genBound = snap.generated.filter { case (_, e) =>
      exprRefs(spark, e).contains(oldName) }
    require(genBound.isEmpty,
      s"TxLog: generated column(s) ${genBound.keys.mkString(", ")} " +
        s"reference '$oldName' — dropGenerated before renaming")
    val newSchema = StructType(schema.fields.map(fl =>
      if (fl.name == oldName) fl.copy(name = newName) else fl))
    val newMapping = (snap.mapping - oldName) +
      (newName -> snap.phys(oldName))
    commitSchemaChange(spark, dir, "rename", snap, newSchema.json,
      newMapping, snap.retired)
  }

  /** DROP COLUMN without touching a single data file: the column
    * leaves the logical schema and its physical name joins the
    * RETIRED list (still present inside old files, claimable by no
    * future column — re-adding the name via mergeSchema gets a fresh
    * physical, so the dropped values can never resurrect). Refuses
    * when a CHECK constraint references the column or when it is the
    * table's last column. */
  def dropColumn(spark: SparkSession, dir: String, name: String): Long = {
    val snap = snapshot(spark, dir)
    val schema = DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]
    require(schema.fieldNames.contains(name),
      s"TxLog: no column '$name' to drop in $dir")
    require(schema.fields.length > 1,
      s"TxLog: cannot drop the last column of $dir")
    val bound = snap.constraints.filter { case (_, e) =>
      exprRefs(spark, e).contains(name) }
    require(bound.isEmpty,
      s"TxLog: CHECK constraint(s) ${bound.keys.mkString(", ")} " +
        s"reference '$name' — drop them before dropping the column")
    require(!snap.identity.contains(name),
      s"TxLog: '$name' is an identity column — dropIdentity " +
        "before dropping it")
    require(!snap.generated.contains(name),
      s"TxLog: '$name' is a generated column — dropGenerated " +
        "before dropping it")
    require(!snap.defaults.contains(name),
      s"TxLog: '$name' carries a DEFAULT — dropDefault " +
        "before dropping it")
    val genBound = snap.generated.filter { case (_, e) =>
      exprRefs(spark, e).contains(name) }
    require(genBound.isEmpty,
      s"TxLog: generated column(s) ${genBound.keys.mkString(", ")} " +
        s"reference '$name' — dropGenerated before dropping the column")
    val newSchema = StructType(schema.fields.filterNot(_.name == name))
    val newMapping = snap.mapping - name
    val newRetired = (snap.retired :+ snap.phys(name)).distinct
    commitSchemaChange(spark, dir, "drop", snap, newSchema.json,
      newMapping, newRetired)
  }

  // ---- Row-level mutations -----------------------------------------
  //
  // The Delta DML surface (DELETE / UPDATE / MERGE INTO) on the same
  // commit protocol. Every verb is locate → build rows → stage:
  // [[locatePredicate]] or [[locateKeyed]] find the files that
  // actually hold affected rows (stats-in-log pruning first, then an
  // exact match probe), the verb builds what replaces them, and
  // [[stageTouched]] either rewrites ONLY those files (copy-on-write)
  // or retires the rows through a deletion vector (merge-on-read) in
  // one commit — untouched files survive by path. Isolation is
  // write-serializable (Delta's default): a concurrent commit that
  // removed or re-vectored a touched file, or added one the read
  // could have matched, conflicts (ConcurrentModificationException →
  // the caller retries on the new snapshot).

  /** The stats-decidable part of a DML predicate, as data-source
    * filters: the predicate is ANALYZED against the table schema (the
    * DSL builds lazy column nodes), constant-folded (so `lit(50)`
    * against a long column is the long 50, not a cast) and
    * prefix-`LIKE`s become `startsWith`; then each top-level conjunct
    * goes through the same translation the scan pushdown uses
    * (`PlanBridge.translateFilter`). A conjunct that does not
    * translate (casts on the COLUMN side, column-vs-column, UDFs)
    * contributes nothing — the scan stays exact, skipping is only ever
    * an optimization. */
  private def skippingFilters(spark: SparkSession, schema: StructType,
      pred: Column): Seq[org.apache.spark.sql.sources.Filter] = {
    import org.apache.spark.sql.catalyst.expressions.{And, Expression}
    import org.apache.spark.sql.catalyst.optimizer.{ConstantFolding,
      LikeSimplification}
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    val analyzed = spark.createDataFrame(
        java.util.Collections.emptyList[Row](), schema)
      .filter(pred).queryExecution.analyzed
    LikeSimplification(ConstantFolding(analyzed)).collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        conjuncts(f.condition)
    }.getOrElse(Nil).flatMap(PlanBridge.translateFilter(_))
  }

  /** Per-column [lo, hi] constraints implied by a predicate: the
    * intervals [[TxLogBatch.intervals]] derives from its
    * [[skippingFilters]], one (Option[lo], Option[hi]) per column with
    * None = unbounded on that side. */
  private[graft] def skippingBounds(spark: SparkSession,
      schema: StructType, pred: Column)
      : Map[String, (Option[Any], Option[Any])] =
    TxLogBatch.intervals(skippingFilters(spark, schema, pred))
      .groupBy(_._1).map { case (c, cs) =>
        // any single constraint on a column is a NECESSARY condition,
        // so one lo and one hi from the set is sound
        c -> ((cs.flatMap(_._2).headOption, cs.flatMap(_._3).headOption))
      }

  /** The file filter of a DML predicate: any file list restricted to
    * the files whose recorded stats can satisfy `pred` — its
    * [[skippingFilters]]' intervals (`IN` and `OR` hulls, prefix
    * `LIKE`s included) and null predicates, through
    * [[prunedSnapshotFiles]]. */
  private[graft] def predicatePrune(spark: SparkSession, snap: TxSnapshot,
      pred: Column): Seq[TxFile] => Seq[TxFile] = {
    val filters = skippingFilters(spark,
      DataType.fromJson(snap.schemaJson).asInstanceOf[StructType], pred)
    val (intervals, nulls) =
      (TxLogBatch.intervals(filters), TxLogBatch.nullPreds(filters))
    files => prunedSnapshotFiles(spark, snap.copy(files = files),
      intervals, nulls)
  }

  /** A DML read's guard against concurrent adds: given the head's
    * files at claim time, the paths of those the read of `snap` did
    * not see and that `prune` keeps — a file that could hold a row the
    * read would have matched. Driver-side, metadata-only. */
  private def addedGuard(snap: TxSnapshot,
      prune: Seq[TxFile] => Seq[TxFile]): Seq[TxFile] => Seq[String] = {
    val seen = snap.files.map(_.path).toSet
    files => prune(files.filterNot(f => seen(f.path))).map(_.path)
  }

  /** What a DML verb's locate step found, handed to [[stageTouched]]:
    * `touched` each file key holding a live matched row → its count of
    * such rows ([[mergeInto]] finds its files without counting and
    * passes none), `keepFiles` those files' entries, and `guard` the
    * read's `conflictIfAdded` check. */
  private final case class Located(snap: TxSnapshot,
      touched: Map[String, Long], keepFiles: Seq[TxFile],
      guard: Seq[TxFile] => Seq[String]) {
    /** The touched files' live rows. */
    def live(spark: SparkSession, dir: String): DataFrame =
      readSnapshot(spark, dir, snap.copy(files = keepFiles))
    /** [[live]] tagged with each row's (`TagFile`, `TagIdx`) position. */
    def tagged(spark: SparkSession, dir: String): DataFrame =
      readSnapshotTagged(spark, dir, snap.copy(files = keepFiles))
  }

  /** The locate step of every predicate DML ([[delete]],
    * [[replaceWhere]], [[update]], [[deleteMor]], [[updateMor]]) — the
    * twin of [[locateKeyed]]: stats-prune `snap`'s files by the
    * predicate ([[predicatePrune]]), then ONE labelled `touched-probe`
    * over the candidates' LIVE rows (the tagged read subtracts
    * standing vectors, so already-deleted rows touch nothing) counts
    * the matches per file — exact, file-count-sized on the driver. The
    * guard ([[addedGuard]]) names the files the read missed whose
    * recorded stats can satisfy the predicate (files without stats
    * stay conservatively conflicting). */
  private def locatePredicate(spark: SparkSession, dir: String,
      snap: TxSnapshot, pred: Column): Located = {
    val prune = predicatePrune(spark, snap, pred)
    val cands = prune(snap.files)
    val touched =
      if (cands.isEmpty) Map.empty[String, Long]
      else described(spark, "touched-probe") {
        rowsPerFile(readSnapshotTagged(spark, dir, snap.copy(files = cands))
          .filter(pred))
      }
    Located(snap, touched,
      snap.files.filter(f => touched.contains(fileKey(snap, f))),
      addedGuard(snap, prune))
  }

  /** Inherit skip-stats across a rewrite: the union of columns any
    * rewritten file recorded, plus what the caller asked for — an
    * OPTIMIZE/DML that silently dropped the table's pruning metadata
    * would degrade every later readPruned. */
  private def inheritStats(files: Seq[TxFile],
      statsCols: Seq[String],
      snap: TxSnapshot): Seq[String] = {
    // file stats are keyed by PHYSICAL name; stageData wants LOGICAL.
    // Stats of dropped columns (physical name with no logical owner)
    // cannot be carried forward — their column is gone from the view.
    val reverse = snap.mapping.map(_.swap)
    val logical = DataType.fromJson(snap.schemaJson)
      .asInstanceOf[StructType].fieldNames.toSet
    val fromFiles = files.flatMap(_.stats.keys)
      .map(p => reverse.getOrElse(p, p)).filter(logical)
    (statsCols ++ fromFiles).distinct
  }

  /** [[inheritStats]] restricted to columns the BATCH carries — a
    * narrower mergeSchema append must not fail stageData's
    * column-exists check over a tracked column it legitimately omits
    * (the table reads it as NULL; its stats resume on batches that
    * carry it). Caller-passed statsCols stay unfiltered: naming a
    * column the batch lacks is a caller bug and should stay loud. */
  private def inheritStatsFor(df: DataFrame, files: Seq[TxFile],
      statsCols: Seq[String], snap: TxSnapshot): Seq[String] = {
    val present = df.columns.toSet
    (statsCols ++ inheritStats(files, Nil, snap).filter(present)).distinct
  }

  /** The ONE stage-and-commit step of every DML verb: the verb located
    * `at` and built its rows; this step writes them and commits `op`.
    *  - copy-on-write (`retire` None): `rows` are the touched files'
    *    rewritten contents plus any new rows, and the commit swaps the
    *    touched files for them;
    *  - merge-on-read (`retire` the verb's matched rows from
    *    [[Located.tagged]], which has already subtracted standing
    *    vectors, so a repeated key never double-counts): ONE
    *    vector relation (`stage-dv`) holds their positions merged with
    *    the touched files' standing vectors, the touched entries re-add
    *    pointing at it (generation-2 readers), and `rows` holds only
    *    the new rows (update images, inserts).
    * Both pin the touched files' vector pointers and refuse files a
    * concurrent commit added inside the read (`at.guard`). `identity`:
    * the verb stages caller-supplied rows, so the identity columns are
    * statted and their watermark advances under a pin. `checked`: the
    * constraints the verb validated its new rows against; the commit
    * pins them ([[pinConstraints]]). No touched file
    * and no staged row commits no data (a supplied `txn` still advances,
    * metadata-only); every file and vector staged here is deleted on
    * any exit that does not commit. Logs one INFO line: the op, the
    * path taken, the touched files and matched rows. */
  private def stageTouched(spark: SparkSession, dir: String, at: Located,
      op: String, rows: Option[DataFrame], retire: Option[DataFrame],
      statsCols: Seq[String], txn: Option[(String, Long)],
      identity: Boolean,
      checked: Option[Map[String, String]] = None): Long = {
    val Located(snap, touched, keepFiles, guard) = at
    if (keepFiles.isEmpty && rows.isEmpty)
      return txn.fold(snap.version)(commitTxnAdvance(spark, dir, _))
    val byKey = keepFiles.map(f => fileKey(snap, f) -> f).sortBy(_._1)
    val dvPath = retire.filter(_ => keepFiles.nonEmpty)
      .map(_ => s"$DvDir/${UUID.randomUUID().toString.take(12)}")
    log.info(s"txlog $dir@v${snap.version}: $op " +
      s"${if (dvPath.isDefined) "vectors" else "rewrite"} " +
      s"files=${keepFiles.size} matched=" +
      (if (touched.isEmpty && keepFiles.nonEmpty) "?" else touched.values.sum))
    val added = try {
      for (p <- dvPath; matched <- retire) {
        val keys = byKey.map(_._1)
        val pairs = matched.select(col(TagFile).as("file"),
          col(TagIdx).as("row_index"))
        val oldDvs = byKey.flatMap(_._2.dv).distinct
        val merged =
          if (oldDvs.isEmpty) pairs
          else pairs.unionByName(
            spark.read.parquet(oldDvs.map(resolveData(dir, _)): _*)
              .filter(col("file").isInCollection(keys)))
        // metadata-known output size → file count; one file until
        // vectors grow to millions of pairs
        val total = touched.values.sum + keepFiles.map(_.dvRows).sum
        described(spark, "stage-dv") {
          merged.repartition(math.min(32L, total / DvBroadcastRows + 1).toInt)
            .write.parquet(s"$dir/$p")
        }
      }
      rows.fold(Seq.empty[TxFile])(stageData(spark, dir, _,
        (inheritStats(keepFiles, statsCols, snap) ++
          (if (identity) snap.identity.keys else Nil)).distinct,
        snap.mapping, partCols = snap.partitionCols)._1)
    } catch { case e: Throwable =>
      dvPath.foreach(p => fs(spark, new Path(dir)).delete(new Path(dir, p), true))
      throw e
    }
    if (keepFiles.isEmpty && added.forall(_.rows == 0L)) {
      // an empty insert set over untouched files: nothing to commit
      val d = fs(spark, new Path(dir))
      added.foreach(a => d.delete(new Path(dir, a.path), true))
      return txn.fold(snap.version)(commitTxnAdvance(spark, dir, _))
    }
    val entries = dvPath.toSeq.flatMap(p => byKey.map { case (k, f) =>
      f.copy(dv = Some(p), dvRows = f.dvRows + touched(k)) })
    commitStaged(spark, dir, op, entries ++ added, keepFiles.map(_.path),
      removeAll = false, snap.schemaJson, txn,
      staged = dvPath.toSeq ++ added.map(_.path),
      expectDv = keepFiles.map(f => f.path -> f.dv).toMap,
      meta = { head =>
        checked.foreach(pinConstraints(_, head))
        Meta(minReader = dvPath.map(_ => 2),
          identity = Option.when(identity && snap.identity.nonEmpty)(
            identityAfter(snap.identity, added, snap.phys)))
      },
      expectIdentity =
        if (identity) snap.identity.map { case (c, s) => c -> s.high }
        else Map.empty,
      conflictIfAdded = Some(guard))
  }

  /** Row-level DELETE (Delta's `DELETE FROM t WHERE …`): remove the
    * rows where `pred` is TRUE (null- and false-rows survive, SQL
    * semantics) by rewriting only the files that hold matching rows.
    * Nothing matched commits nothing. */
  def delete(spark: SparkSession, dir: String,
      pred: org.apache.spark.sql.Column,
      statsCols: Seq[String] = Nil): Long = {
    val at = locatePredicate(spark, dir, snapshot(spark, dir), pred)
    stageTouched(spark, dir, at, "delete",
      Option.when(at.keepFiles.nonEmpty)(
        at.live(spark, dir).filter(!pred.eqNullSafe(true))),
      retire = None, statsCols, None, identity = false)
  }

  /** Atomic partial overwrite (Delta's `replaceWhere`): ONE commit
    * that deletes every row matching `pred` and inserts `df` in its
    * place — the idempotent re-load of a partition/date slice. Every
    * incoming row must satisfy `pred` (Delta's constraint), validated
    * BEFORE anything stages. Cost: the files actually holding
    * matching rows rewrite, plus the new batch stages.
    * Also reachable through the DataSource:
    * `df.write.format("txlog").mode("overwrite")
    * .option("replaceWhere", "<sql>")`. */
  def replaceWhere(spark: SparkSession, dir: String, df: DataFrame,
      pred: org.apache.spark.sql.Column,
      statsCols: Seq[String] = Nil): Long = {
    val snap = snapshot(spark, dir)
    refuseAlwaysIdentity(snap, "replaceWhere")
    val schema = DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]
    val srcTypes = df.schema.fields.map(fl => fl.name -> fl.dataType).toMap
    val missing = schema.fields.filterNot(fl =>
      srcTypes.get(fl.name).contains(fl.dataType))
    require(missing.isEmpty,
      s"TxLog: replaceWhere batch must carry the table schema; " +
        s"missing or mistyped: ${missing.map(_.name).mkString(", ")}")
    val src = df.select(schema.fieldNames.map(col).toSeq: _*)
    val outside = src.filter(!pred.eqNullSafe(true)).limit(1).count()
    require(outside == 0L,
      "TxLog: replaceWhere batch contains row(s) NOT matching the " +
        "predicate — the replaced slice must contain its replacement")
    val checked = enforceConstraints(spark, dir, src)
    enforceGenerated(snap, src)
    // nothing matched still stages: the batch inserts into an empty slice
    val at = locatePredicate(spark, dir, snap, pred)
    stageTouched(spark, dir, at, "merge", Some(
      if (at.keepFiles.isEmpty) src
      else at.live(spark, dir).filter(!pred.eqNullSafe(true))
        .unionByName(src)),
      retire = None, statsCols, None, identity = true, Some(checked))
  }

  /** Refuse assignments (an UPDATE's SET map, a MERGE clause's
    * SET/INSERT values) naming an unknown or generated column — or,
    * unless `identityOk`, an identity column (Delta's contracts).
    * `verb` names the clause in the refusal. */
  private def checkAssignments(snap: TxSnapshot, schema: StructType,
      set: Map[String, Column], verb: String,
      identityOk: Boolean = false): Unit = {
    val unknown = set.keys.filterNot(schema.fieldNames.contains)
    require(unknown.isEmpty,
      s"TxLog: $verb sets unknown column(s): ${unknown.mkString(", ")}")
    val ident =
      if (identityOk) Nil else set.keys.filter(snap.identity.contains)
    require(ident.isEmpty,
      s"TxLog: $verb cannot set identity column(s) " +
        s"${ident.mkString(", ")} (Delta's identity contract)")
    val gen = set.keys.filter(snap.generated.contains)
    require(gen.isEmpty,
      s"TxLog: $verb cannot set generated column(s) " +
        s"${gen.mkString(", ")} directly — update their source " +
        "columns and the expression recomputes")
  }

  /** Row-level UPDATE (Delta's `UPDATE t SET … WHERE …`): rows where
    * `pred` is TRUE get each `set` expression ([[updatedImage]]) in a
    * rewrite of the files holding them; all other rows and all
    * untouched files survive byte-identical. */
  def update(spark: SparkSession, dir: String,
      pred: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column],
      statsCols: Seq[String] = Nil): Long = {
    val snap = snapshot(spark, dir)
    val schema = DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]
    // the rewrite threads its row marker as a column — a table column
    // by that name would be silently clobbered and then dropped (same
    // reserved-name contract as TagFile/TagIdx)
    require(!schema.fieldNames.contains("_graft_upd"),
      "TxLog: table columns collide with reserved name _graft_upd")
    checkAssignments(snap, schema, set, "UPDATE")
    val at = locatePredicate(spark, dir, snap, pred)
    val rewritten = Option.when(at.keepFiles.nonEmpty)(updatedImage(spark,
      snap, schema, at.live(spark, dir)
        .withColumn("_graft_upd", pred.eqNullSafe(true)),
      set, Some("_graft_upd")))
    stageTouched(spark, dir, at, "update", rewritten, retire = None,
      statsCols, None, identity = false,
      rewritten.map(enforceConstraints(spark, dir, _)))
  }

  /** The UPDATE image of `rows`: each `set` value (cast back to its
    * column's declared type — an UPDATE never mutates the schema) and
    * each generated column reading a set column (recomputed from the
    * updated values, the Delta contract) replace the old value — on
    * every row, or with `marker` only where that boolean column holds
    * (the marker is dropped from the result). Shared by [[update]]
    * (marker: the predicate, evaluated on the OLD values) and
    * [[updateMor]] (every matched row is updated). */
  private def updatedImage(spark: SparkSession, snap: TxSnapshot,
      schema: StructType, rows: DataFrame, set: Map[String, Column],
      marker: Option[String]): DataFrame = {
    val regen = snap.generated.filter { case (_, e) =>
      exprRefs(spark, e).exists(set.contains) }
    def image(c: String, e: Column): Column = {
      val v = e.cast(schema(c).dataType)
      marker.fold(v)(m => when(col(m), v).otherwise(col(c))).as(c)
    }
    val updated = rows.select((schema.fieldNames.map(c =>
      set.get(c).fold(col(c))(image(c, _))) ++ marker.map(col)).toSeq: _*)
    regen.toSeq.sortBy(_._1).foldLeft(updated) { case (d, (c, e)) =>
      d.withColumn(c, image(c, expr(e)))
    }.drop(marker.toSeq: _*)
  }

  // ---- merge-on-read DML (deletion vectors) ------------------------

  /** Where a table's deletion vectors live (dir-relative). */
  val DvDir = "_graft_dv"

  /** Rows per file key of a tagged relation (`TagFile` column). Each
    * task counts its own rows per file and the driver sums the
    * (partition, file) counts: one job and no shuffle, where a
    * `groupBy` count runs a map stage and a result stage. */
  private def rowsPerFile(tagged: DataFrame): Map[String, Long] = {
    import org.apache.spark.sql.Encoders
    tagged.select(col(TagFile)).as(Encoders.STRING)
      .mapPartitions { files =>
        val n = scala.collection.mutable.HashMap.empty[String, Long]
        files.foreach(f => n(f) = n.getOrElse(f, 0L) + 1L)
        n.iterator
      }(Encoders.tuple(Encoders.STRING, Encoders.scalaLong))
      .collect().groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** Merge-on-read DELETE (Delta's deletion-vector delete): [[delete]]'s
    * semantics, but the matched rows' positions join a deletion vector
    * SUBTRACTED on read and no data file is rewritten — delete cost
    * scales with the MATCHED ROWS, not the size of the files holding
    * them (a point delete in a 1 GB file writes one vector pair, not
    * the file). Stats stay as written (upper bounds: pruning stays
    * conservative, [[countWhere]] scans vectored files). [[compact]]
    * materializes vectors away; [[vacuum]] collects superseded ones. */
  def deleteMor(spark: SparkSession, dir: String,
      pred: org.apache.spark.sql.Column): Long = {
    val at = locatePredicate(spark, dir, snapshot(spark, dir), pred)
    stageTouched(spark, dir, at, "delete-dv", rows = None,
      retire = Some(at.tagged(spark, dir).filter(pred)), Nil, None,
      identity = false)
  }

  /** Merge-on-read UPDATE (Delta's DV update shape): the matched rows'
    * positions join the touched files' deletion vectors and their
    * UPDATED images append as new files. Write cost scales with the
    * matched rows (vector pairs + images), not the touched files'
    * size. CHECK constraints validate the images before staging. */
  def updateMor(spark: SparkSession, dir: String,
      pred: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column],
      statsCols: Seq[String] = Nil): Long = {
    val snap = snapshot(spark, dir)
    val schema = DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]
    checkAssignments(snap, schema, set, "UPDATE")
    val at = locatePredicate(spark, dir, snap, pred)
    val matched = at.tagged(spark, dir).filter(pred).cache()
    try {
      val updated = Option.when(at.keepFiles.nonEmpty)(
        updatedImage(spark, snap, schema, matched, set, None))
      stageTouched(spark, dir, at, "update-dv", updated, Some(matched),
        statsCols, None, identity = false,
        updated.map(enforceConstraints(spark, dir, _)))
    } finally matched.unpersist()
  }

  /** MERGE INTO (upsert): [[applyChanges]] with no deletes. For each
    * source row, the target rows with the same `keyCols` are REPLACED
    * by it (when-matched update-all); source rows matching nothing
    * are INSERTED (when-not-matched insert-all) — Delta's canonical
    * merge. The source must carry the table's schema and be unique on
    * the keys (two source rows claiming one target row is ambiguous —
    * refused, Delta's multiple-matches error). A table that is itself
    * NOT unique on the keys collapses on merge: every target row
    * matching a source key is replaced by that ONE source row
    * (primary-key upsert semantics). Only files holding matched keys
    * are rewritten and inserts ride in the same staged write: ONE
    * `merge` commit. */
  def merge(spark: SparkSession, dir: String, source: DataFrame,
      keyCols: Seq[String], statsCols: Seq[String] = Nil,
      txn: Option[(String, Long)] = None): Long =
    applyCowChanges(spark, dir, source.withColumn(MergeNoDelete, lit(false)),
      keyCols, MergeNoDelete, statsCols, txn, group = false, op = "merge")

  /** CDC APPLY (the Delta-DLT `APPLY CHANGES INTO` shape): one
    * copy-on-write commit applying a batch of keyed change directives.
    * `changes` carries the table columns plus boolean `deleteCol`: a
    * matched target key is REPLACED (flag false) or DROPPED (flag
    * true); an unmatched flag-false row inserts; an unmatched delete
    * is a no-op (the row is already gone — the at-least-once replay
    * case). At most one directive per key (ambiguity refused);
    * `txn` gives exactly-once under streaming replay.
    *
    * Cost shape ([[locateKeyed]]): only files actually holding a
    * directive key rewrite, survivors anti-join on the
    * (directive-sized) key relation. CHECK constraints validate the
    * INSERTED rows only (survivors were already valid). */
  def applyChanges(spark: SparkSession, dir: String, changes: DataFrame,
      keyCols: Seq[String], deleteCol: String,
      statsCols: Seq[String] = Nil,
      txn: Option[(String, Long)] = None): Long =
    applyCowChanges(spark, dir, changes, keyCols, deleteCol, statsCols,
      txn, group = false, op = "applyChanges")

  // ---- general MERGE (arbitrary ON, clause lists) ------------------

  /** One WHEN clause of [[mergeInto]]. Conditions and values are
    * Columns over the two sides of the merge, referenced through the
    * fixed aliases `t` (target) and `s` (source) — `col("t.k") ===
    * col("s.k")`; bare names resolve when unambiguous. */
  sealed trait MergeClause
  /** WHEN MATCHED [AND cond] THEN UPDATE SET — `set` maps target
    * column names to value expressions (cast to the column's declared
    * type). */
  final case class MergeMatchedUpdate(set: Map[String, Column],
      cond: Option[Column] = None) extends MergeClause
  /** WHEN MATCHED [AND cond] THEN DELETE. */
  final case class MergeMatchedDelete(cond: Option[Column] = None)
      extends MergeClause
  /** WHEN NOT MATCHED [AND cond] THEN INSERT — `values` must cover
    * every target column that is neither GENERATED (recomputed) nor
    * DEFAULTed (filled); identity columns take the values given
    * (BY DEFAULT only — ALWAYS tables refuse keyed-rewrite DML). */
  final case class MergeInsert(values: Map[String, Column],
      cond: Option[Column] = None) extends MergeClause
  /** WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE SET — the
    * condition and values may reference TARGET columns only. */
  final case class MergeNotMatchedBySourceUpdate(
      set: Map[String, Column], cond: Option[Column] = None)
      extends MergeClause
  /** WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE. */
  final case class MergeNotMatchedBySourceDelete(
      cond: Option[Column] = None) extends MergeClause

  /** Top-level directory count above which [[convertInPlace]] lists
    * the tree in a distributed job instead of one driver iterator. */
  private val ConvertListDirsThreshold = 64

  /** TEST-ONLY deterministic interleave hook — see commitStaged. */
  private[graft] val testBeforeClaim =
    new ThreadLocal[Option[() => Unit]] {
      override def initialValue(): Option[() => Unit] = None
    }

  private val MergeAct = "__graft_act"
  /** [[merge]]'s constant-false delete flag over its source. */
  private val MergeNoDelete = "__graft_del"
  private val MergeNv = "__graft_nv_"

  /** Equality conjuncts `t.c = <source-only expr>` of a merge ON
    * condition — the stats-prunable shape. Bare names count only when
    * they name exactly one side. */
  private def mergeEqPairs(cond: Column, schema: StructType,
      srcCols: Set[String]): Seq[(String, Column)] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{And => CAnd,
      EqualTo => CEq, Expression}
    val tcols = schema.fieldNames.map(c => c.toLowerCase -> c).toMap
    val scolsL = srcCols.map(_.toLowerCase)
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case CAnd(l, r) => conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    def asTargetCol(e: Expression): Option[String] = e match {
      case a: UnresolvedAttribute => a.nameParts.toList match {
        case q :: c :: Nil if q.equalsIgnoreCase("t") =>
          tcols.get(c.toLowerCase)
        case c :: Nil if !scolsL.contains(c.toLowerCase) =>
          tcols.get(c.toLowerCase)
        case _ => None
      }
      case _ => None
    }
    def sourceOnly(e: Expression): Boolean = {
      val attrs = e.collect { case a: UnresolvedAttribute => a }
      attrs.nonEmpty && attrs.forall(_.nameParts.toList match {
        case q :: _ :: Nil => q.equalsIgnoreCase("s")
        case c :: Nil => scolsL.contains(c.toLowerCase) &&
          !tcols.contains(c.toLowerCase)
        case _ => false
      })
    }
    conjuncts(PlanBridge.expression(cond)).flatMap {
      case CEq(l, r) =>
        asTargetCol(l).filter(_ => sourceOnly(r))
          .map(c => (c, PlanBridge.column(r))).orElse(
            asTargetCol(r).filter(_ => sourceOnly(l))
              .map(c => (c, PlanBridge.column(l)))).toSeq
      case _ => Nil
    }
  }

  /** General row-level MERGE (Delta's full `MERGE INTO` statement —
    * the SQL rule lowers to this, and it is the Scala API for merges
    * the keyed [[merge]] cannot express): an arbitrary ON condition
    * joins `source` against the table; WHEN MATCHED clauses update or
    * delete the matching target rows, WHEN NOT MATCHED clauses insert
    * unmatched SOURCE rows, WHEN NOT MATCHED BY SOURCE clauses update
    * or delete unmatched TARGET rows. Clauses of a family apply
    * first-match-wins in declaration order; a row firing no clause
    * survives unchanged. A target row matching MORE than one source
    * row refuses when any MATCHED clause exists (the Delta
    * cardinality contract — attributing the update would be
    * ambiguous). All in ONE commit: copy-on-write of exactly the
    * files holding rows that change; untouched files survive by path.
    *
    * Scale: candidate files prune by the source's envelope on every
    * `t.c = <source expr>` equality conjunct of ON (one tiny agg over
    * the source, driver-side interval check from commit metadata) —
    * an ON with no such conjunct scans every file (unavoidable: any
    * row could match). The source relation is joined, never
    * collected; NOT MATCHED BY SOURCE forces a full-candidate scan by
    * definition. Reference analog: the ETL manager's UPSERT load type
    * (etl_manager.py:240-259) generalized to the full SQL statement
    * shape. */
  def mergeInto(spark: SparkSession, dir: String, source: DataFrame,
      cond: Column, clauses: Seq[MergeClause],
      statsCols: Seq[String] = Nil, op: String = "merge"): Long = {
    require(clauses.nonEmpty, "TxLog: mergeInto needs at least one WHEN clause")
    val snap = snapshot(spark, dir)
    // ALWAYS identity only forbids what would SUPPLY generated values:
    // an INSERT clause (new rows need ids the caller cannot mint).
    // UPDATE clauses cannot assign identity (checkSet refuses) and
    // re-staged matched/NMBS rows keep the TARGET's own ids, so
    // update/delete-only merges — including the subquery-DML
    // lowerings — are safe on ALWAYS tables.
    if (clauses.exists(_.isInstanceOf[MergeInsert]))
      refuseAlwaysIdentity(snap, op)
    val schema = DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]
    val fieldType = schema.fields.map(fl => fl.name -> fl.dataType).toMap
    require(!source.columns.contains(MergeAct) &&
      !source.columns.exists(_.startsWith(MergeNv)),
      s"TxLog: source columns collide with reserved names $MergeAct/$MergeNv*")

    val matched = clauses.collect {
      case c: MergeMatchedUpdate => c: MergeClause
      case c: MergeMatchedDelete => c: MergeClause
    }
    val inserts = clauses.collect { case c: MergeInsert => c }
    val nmbs = clauses.collect {
      case c: MergeNotMatchedBySourceUpdate => c: MergeClause
      case c: MergeNotMatchedBySourceDelete => c: MergeClause
    }

    matched.foreach {
      case MergeMatchedUpdate(set, _) =>
        checkAssignments(snap, schema, set, "merge UPDATE")
      case _ => ()
    }
    nmbs.foreach {
      case MergeNotMatchedBySourceUpdate(set, _) =>
        checkAssignments(snap, schema, set, "merge UPDATE")
      case _ => ()
    }
    inserts.foreach { ins =>
      // INSERT values may name identity columns (BY DEFAULT)
      checkAssignments(snap, schema, ins.values, "merge INSERT",
        identityOk = true)
      val missing = schema.fieldNames.filterNot(c =>
        ins.values.contains(c) || snap.generated.contains(c) ||
          snap.defaults.contains(c))
      require(missing.isEmpty,
        s"TxLog: merge INSERT must provide column(s) " +
          s"${missing.mkString(", ")} (or declare a DEFAULT; " +
          "identity values must be explicit in MERGE)")
    }

    // the source feeds up to five actions below (envelope agg,
    // cardinality stats, NMBS probe, firing pairs, inserts) —
    // materialize it once with lineage truncated (Delta's
    // materialize-source precedent)
    val srcData = checkpointed(source, "merge-source")
    try {
    // candidate files: the source envelope on every `t.c = s-expr`
    // equality conjunct prunes from commit metadata — unless NOT
    // MATCHED BY SOURCE is present, which reads every row by meaning
    val eqPairs = mergeEqPairs(cond, schema, source.columns.toSet)
    val prune: Seq[TxFile] => Seq[TxFile] =
      if (nmbs.nonEmpty || eqPairs.isEmpty)
        // the merge READS every row (no prunable envelope, or NOT
        // MATCHED BY SOURCE) — any concurrently-added file conflicts
        identity
      else {
        val aggs = eqPairs.zipWithIndex.flatMap { case ((_, e), i) =>
          Seq(min(e).as(s"_lo$i"), max(e).as(s"_hi$i")) }
        val row = foldedHead(srcData.alias("s").agg(aggs.head, aggs.tail: _*))
        val preds = eqPairs.zipWithIndex.flatMap { case ((c, _), i) =>
          val (lo, hi) = (row.get(2 * i), row.get(2 * i + 1))
          if (lo == null || hi == null) Nil
          else Seq((c, Option[Any](lo), Option[Any](hi)))
        }
        files => prunedSnapshotFiles(spark, snap.copy(files = files), preds)
      }
    val cands = prune(snap.files)

    def orConds(cs: Seq[Option[Column]]): Column =
      cs.map(_.getOrElse(lit(true))).reduceOption(_ || _)
        .getOrElse(lit(false))
    // first-match-wins action index: fold right so earlier clauses win
    def firstFire(cs: Seq[Option[Column]]): Column =
      cs.zipWithIndex.foldRight(lit(-1): Column) { case ((c, i), rest) =>
        when(c.getOrElse(lit(true)), lit(i)).otherwise(rest)
      }

    val srcMarked = srcData.alias("s")
    val tgtCands = readSnapshotTagged(spark, dir,
      snap.copy(files = cands)).alias("t")

    val matchedConds = matched.map {
      case MergeMatchedUpdate(_, c) => c
      case MergeMatchedDelete(c) => c
      case _ => None
    }
    val anyMatchedFires = orConds(matchedConds)

    // ---- pass 1: touched files + cardinality, aggregate-sized ------
    val (touchedMatch, multiMatch): (Seq[String], Long) =
      if (matched.isEmpty || cands.isEmpty) (Nil, 0L)
      else {
        val stats = tgtCands.join(srcMarked, cond, "inner")
          .groupBy(col(TagFile), col(TagIdx))
          .agg(count(lit(1)).as("__m"),
            max(when(anyMatchedFires, 1).otherwise(0)).as("__f"))
        val multi = stats.filter(col("__m") > 1 && col("__f") === 1)
          .limit(1).count()
        val files =
          if (multi > 0) Nil
          else stats.filter(col("__f") === 1).select(TagFile)
            .distinct().collect().map(_.getString(0)).toSeq
        (files, multi)
      }
    require(multiMatch == 0L,
      "TxLog: merge source has multiple rows matching one target row " +
        "where a MATCHED clause applies — ambiguous, refused " +
        "(the Delta cardinality contract)")

    val nmbsConds = nmbs.map {
      case MergeNotMatchedBySourceUpdate(_, c) => c
      case MergeNotMatchedBySourceDelete(c) => c
      case _ => None
    }
    val touchedNmbs: Seq[String] =
      if (nmbs.isEmpty || cands.isEmpty) Nil
      else tgtCands.join(srcMarked, cond, "left_anti")
        .filter(orConds(nmbsConds))
        .select(TagFile).distinct().collect().map(_.getString(0)).toSeq

    val touched = (touchedMatch ++ touchedNmbs).distinct.sorted
    val tSet = touched.toSet
    val keepFiles = snap.files.filter(f => tSet.contains(fileKey(snap, f)))

    // ---- pass 2: firing pairs -> per-row new values ----------------
    // cardinality holds, so firing pairs are UNIQUE per target row --
    // the left join below can never multiply survivors
    val matchedAct = firstFire(matchedConds)
    val tgtKeep = readSnapshotTagged(spark, dir,
      snap.copy(files = keepFiles)).alias("t")
    val pairCols = Seq(col(TagFile), col(TagIdx),
      matchedAct.as(MergeAct)) ++ schema.fields.map { fl =>
      matched.zipWithIndex.foldLeft(col("t." + fl.name)) {
        case (acc, (MergeMatchedUpdate(set, _), i))
            if set.contains(fl.name) =>
          when(matchedAct === i, set(fl.name).cast(fl.dataType))
            .otherwise(acc)
        case (acc, _) => acc
      }.as(MergeNv + fl.name)
    }
    // When NOT MATCHED BY SOURCE clauses exist, the NMBS chain must be
    // gated on true matched-ness, not on a firing MATCHED pair: a
    // target row that matches the source but fires no MATCHED clause
    // must still be exempt from NMBS. Include non-firing pairs with
    // act = -1 (a no-op carrying the original values); the cardinality
    // gate above guarantees a target row with a firing pair has
    // exactly one pair, and multi-match rows are ALL non-firing with
    // identical projected values, so the per-row dedupe is value-safe.
    val needMatchFlag = nmbs.nonEmpty
    val pairs =
      if ((matched.isEmpty && !needMatchFlag) || keepFiles.isEmpty) None
      else {
        val joined = tgtKeep.join(srcMarked, cond, "inner")
        val scoped =
          if (needMatchFlag) joined else joined.filter(anyMatchedFires)
        val sel = scoped.select(pairCols: _*)
        Some(if (needMatchFlag) sel.dropDuplicates(TagFile, TagIdx)
             else sel)
      }

    val deleteActs = matched.zipWithIndex.collect {
      case (MergeMatchedDelete(_), i) => i }.toSet
    val nmbsDeleteActs = nmbs.zipWithIndex.collect {
      case (MergeNotMatchedBySourceDelete(_), i) => i }.toSet
    val nmbsAct = firstFire(nmbsConds)

    def notIn(c: Column, acts: Set[Int]): Column =
      if (acts.isEmpty) lit(true)
      else !c.isInCollection(acts.toSeq)

    val survivors: Option[DataFrame] =
      if (keepFiles.isEmpty) None
      else {
        val base = pairs match {
          case Some(p) =>
            tgtKeep.join(p, Seq(TagFile, TagIdx), "left_outer")
          case None => tgtKeep.withColumn(MergeAct,
            lit(null).cast("int"))
        }
        // matched rows take their precomputed values; unmatched rows
        // run the NOT-MATCHED-BY-SOURCE chain (target columns only)
        val withNmbs = base.withColumn("__graft_nact",
          when(col(MergeAct).isNotNull, lit(-1)).otherwise(nmbsAct))
        val kept = withNmbs.filter(
          (col(MergeAct).isNull || notIn(col(MergeAct), deleteActs)) &&
            notIn(col("__graft_nact"), nmbsDeleteActs))
        val projected = kept.select(schema.fields.map { fl =>
          val nmbsVal = nmbs.zipWithIndex.foldLeft(col("t." + fl.name)) {
            case (acc, (MergeNotMatchedBySourceUpdate(set, _), i))
                if set.contains(fl.name) =>
              when(col("__graft_nact") === i,
                set(fl.name).cast(fl.dataType)).otherwise(acc)
            case (acc, _) => acc
          }
          (pairs match {
            case Some(_) =>
              when(col(MergeAct).isNotNull, col(MergeNv + fl.name))
                .otherwise(nmbsVal)
            case None => nmbsVal
          }).as(fl.name)
        } :+ (coalesce(col(MergeAct), lit(-1)) >= 0 ||
          col("__graft_nact") >= 0).as("__graft_updated"): _*)
        // generated columns recompute on every row an UPDATE touched
        val regen = snap.generated.toSeq.sortBy(_._1)
          .foldLeft(projected) { case (d, (c, g)) =>
            d.withColumn(c, when(col("__graft_updated"),
              expr(g).cast(fieldType(c))).otherwise(col(c)))
          }
        Some(regen.drop("__graft_updated"))
      }

    // ---- inserts: source rows matching NO target row ---------------
    val insertRows: Option[DataFrame] =
      if (inserts.isEmpty) None
      else {
        val insertConds = inserts.map(_.cond)
        val unmatchedSrc = srcMarked.join(tgtCands, cond, "left_anti")
          .withColumn(MergeAct, firstFire(insertConds))
          .filter(col(MergeAct) >= 0)
        val projected = unmatchedSrc.select(schema.fields.map { fl =>
          inserts.zipWithIndex.foldLeft(
            snap.defaults.get(fl.name).map(d => expr(d))
              .getOrElse(lit(null)).cast(fl.dataType)) {
            case (acc, (ins, i)) if ins.values.contains(fl.name) =>
              when(col(MergeAct) === i,
                ins.values(fl.name).cast(fl.dataType)).otherwise(acc)
            case (acc, _) => acc
          }.as(fl.name)
        }: _*)
        val withGen = snap.generated.toSeq.sortBy(_._1)
          .foldLeft(projected) { case (d, (c, g)) =>
            d.withColumn(c, expr(g).cast(fieldType(c)))
          }
        Some(withGen)
      }

    val stagedDf = (survivors, insertRows) match {
      case (Some(a), Some(b)) => Some(a.unionByName(b))
      case (a, b) => a.orElse(b)
    }
    stageTouched(spark, dir,
      Located(snap, Map.empty, keepFiles, addedGuard(snap, prune)), op,
      stagedDf, retire = None, statsCols, None, identity = true,
      stagedDf.map(enforceConstraints(spark, dir, _)))
    } finally releaseCheckpoint(srcData)
  }

  /** [[applyChanges]] with GROUP semantics: the target may hold — and
    * a directive batch may insert — SEVERAL rows per key, and an
    * upsert replaces the key's whole row GROUP (the survivors
    * anti-join already removes every target row of a directive key;
    * this form merely lifts the one-directive-per-key guard). The
    * shape a derived follower needs when one source row fans out to
    * N derived rows (chunks of a document, signatures of an
    * embedding): re-derive the group, apply — stale members vanish
    * with the group. Still refused: a key carrying BOTH delete and
    * insert directives (ambiguous — is the group dead or replaced?). */
  def applyGroupChanges(spark: SparkSession, dir: String,
      changes: DataFrame, keyCols: Seq[String], deleteCol: String,
      statsCols: Seq[String] = Nil,
      txn: Option[(String, Long)] = None): Long =
    applyCowChanges(spark, dir, changes, keyCols, deleteCol, statsCols,
      txn, group = true, op = "applyChanges")

  /** What [[locateKeyed]] found for one keyed apply, handed to its
    * staging body: `at` the files holding a live row of a directive
    * key (guarded by the key envelope), `srcKeys` the distinct
    * directive keys, and `inserts` the flag-false directives projected
    * to the table schema (`nIns` of them). */
  private final case class KeyedApply(at: Located, srcKeys: DataFrame,
      inserts: DataFrame, nIns: Long, checked: Map[String, String])

  /** The locate step of every keyed apply ([[merge]], [[applyChanges]],
    * [[applyGroupChanges]], [[applyChangesMor]]): validate `changes`
    * (table schema + `deleteCol`; refusals name `op`), materialize it
    * once, answer empty-batch / ambiguity / insert count / key
    * envelope with ONE `apply-shape` aggregate, check the inserts
    * against generated columns and CHECK constraints, stats-prune the
    * candidates by the envelope and find the files holding a directive
    * key with ONE `apply-touched-probe`. `stage` writes and commits
    * (with `guard`); the directives are released when it returns. A
    * replayed `txn` returns the current version; an empty batch
    * commits nothing but still advances a supplied marker. */
  private def locateKeyed(spark: SparkSession, dir: String,
      changes: DataFrame, keyCols: Seq[String], deleteCol: String,
      op: String, txn: Option[(String, Long)], group: Boolean)
      (stage: KeyedApply => Long): Long = {
    require(keyCols.nonEmpty, s"TxLog: $op needs at least one key column")
    val snap = snapshot(spark, dir)
    refuseAlwaysIdentity(snap, op)
    // a replayed (appId, batchId) short-circuits before any staging
    // work — the streaming-sink contract
    for ((app, b) <- txn)
      if (snap.txns.get(app).exists(_ >= b)) return snap.version
    val schema = DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]
    require(changes.columns.contains(deleteCol),
      s"TxLog: $op needs the delete flag column '$deleteCol'")
    val srcTypes = changes.schema.fields
      .map(fl => fl.name -> fl.dataType).toMap
    val missing = schema.fields.filterNot(fl =>
      srcTypes.get(fl.name).contains(fl.dataType))
    require(missing.isEmpty,
      s"TxLog: $op source must carry the table schema; " +
        s"missing or mistyped: ${missing.map(_.name).mkString(", ")}")
    keyCols.foreach(k => require(schema.fieldNames.contains(k),
      s"TxLog: $op key '$k' is not a table column"))
    // the directive relation feeds every action below (shape, checks,
    // probe, staging) — materialized ONCE with lineage truncated
    // ([[checkpointed]]): a persist alone leaves every action
    // re-planning the caller's whole directive tree (for Scd2: the
    // span's change-feed diff legs + the history closures — hundreds
    // of plan nodes per action). Touched-key-sized by the keyed-apply
    // contract, so materializing is bounded (guide §5) — and usually
    // small enough to hold on the driver.
    val src = checkpointed(changes.select((schema.fieldNames.map(col) :+
      col(deleteCol).cast("boolean").as(deleteCol)).toSeq: _*),
      "apply-source")
    try {
      // ONE directive-sized pass answers every metadata question:
      // empty batch, the per-key ambiguity guard, the insert count
      // (merge-on-read partitions its image staging by it) and the key
      // envelope that stats-prunes candidates and guards the commit —
      // a driver fold when the directives are held
      val shape = described(spark, "apply-shape") {
        foldedHead(applyShape(src, keyCols, deleteCol))
      }
      // an empty directive batch (e.g. a compaction-only feed span) is
      // a no-op for the DATA — but a supplied marker still advances
      // (metadata-only), or the caller's watermark would never move
      // past the span and every later refresh would re-read it
      if (shape.getAs[Long]("_graft_nkeys") == 0L)
        return txn.fold(snap.version)(commitTxnAdvance(spark, dir, _))
      if (group)
        // several inserts per key are the point; a key that is BOTH
        // deleted and inserted in one batch is still ambiguous
        require(shape.getAs[Long]("_graft_maxforms") <= 1L,
          "TxLog: applyGroupChanges has both delete and insert " +
            "directives for one key (ambiguous, refused) — a replaced " +
            "group needs only its insert rows")
      else
        require(shape.getAs[Long]("_graft_maxn") <= 1L,
          s"TxLog: $op has several directives for one key " +
            "(ambiguous, refused) — collapse to the last change per key first")
      // validating just the INSERTS suffices: survivor rows were
      // already valid under the standing constraints
      val inserts = src.filter(!col(deleteCol))
        .select(schema.fieldNames.map(col).toSeq: _*)
      enforceGenerated(snap, inserts)
      val checked = enforceConstraints(spark, dir, inserts)
      val keyIntervals = envelopeIntervals(shape, keyCols)
        .map { case (k, lo, hi) => (k, Option(lo), Option(hi)) }
      val cands = prunedSnapshotFiles(spark, snap, keyIntervals)
      // held directives hold their distinct keys too: a local relation
      // with exact stats, so the probe and the survivors' anti-join
      // plan it as a broadcast up front when it is within the join
      // threshold — no shuffle of the directive side, no adaptive
      // re-plan
      val srcKeys =
        Held.folded(src.select(keyCols.map(col): _*).distinct())
      val touched =
        if (cands.isEmpty) Map.empty[String, Long]
        else described(spark, "apply-touched-probe") {
          rowsPerFile(readSnapshotTagged(spark, dir, snap.copy(files = cands))
            .select((col(TagFile) +: keyCols.map(col)).toSeq: _*)
            .join(srcKeys, keyCols, "left_semi"))
        }
      // files a concurrent commit added inside the key envelope could
      // hold a directive key: committing would duplicate the key or
      // resurrect a deleted row
      stage(KeyedApply(Located(snap, touched,
        snap.files.filter(f => touched.contains(fileKey(snap, f))),
        addedGuard(snap, files => prunedSnapshotFiles(spark,
          snap.copy(files = files), keyIntervals))),
        srcKeys, inserts, shape.getAs[Long]("_graft_nins"), checked))
    } finally releaseCheckpoint(src)
  }

  /** The `apply-shape` aggregate of [[locateKeyed]] over its
    * directive relation `src`: key count, most directives and forms
    * (delete, insert) of one key, insert count, and each key column's
    * envelope (`_lo_k`, `_hi_k`). */
  private[graft] def applyShape(src: DataFrame, keyCols: Seq[String],
      deleteCol: String): DataFrame = {
    val aggs = Seq(count(lit(1)).as("_graft_nkeys"),
      max(col("_graft_n")).as("_graft_maxn"),
      max(col("_graft_forms")).as("_graft_maxforms"),
      sum(col("_graft_ins")).as("_graft_nins")) ++
      keyCols.flatMap(k =>
        Seq(min(col(k)).as(s"_lo_$k"), max(col(k)).as(s"_hi_$k")))
    // a key's forms: delete and/or insert — two maxes, where a
    // countDistinct would plan a second aggregation round
    def has(c: Column) = coalesce(max(c.cast("long")), lit(0L))
    src.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("_graft_n"),
        (has(col(deleteCol)) + has(!col(deleteCol))).as("_graft_forms"),
        sum(when(col(deleteCol), 0L).otherwise(1L)).as("_graft_ins"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** The copy-on-write body of [[merge]] / [[applyChanges]] /
    * [[applyGroupChanges]]: the touched files rewrite without their
    * directive keys' rows, plus the inserts — ONE `merge` commit. */
  private def applyCowChanges(spark: SparkSession, dir: String,
      changes: DataFrame, keyCols: Seq[String], deleteCol: String,
      statsCols: Seq[String], txn: Option[(String, Long)],
      group: Boolean, op: String): Long =
    locateKeyed(spark, dir, changes, keyCols, deleteCol, op, txn,
        group) { k =>
      val rows =
        if (k.at.keepFiles.isEmpty) Option.when(k.nIns > 0L)(k.inserts)
        else Some(k.at.live(spark, dir).join(k.srcKeys, keyCols, "left_anti")
          .unionByName(k.inserts))
      stageTouched(spark, dir, k.at, "merge",
        if (Held.isHeld(k.srcKeys)) rows.map(packed(spark, _, k.at.keepFiles))
        else rows,
        retire = None, statsCols, txn, identity = true, Some(k.checked))
    }

  /** A keyed rewrite over held directives, packed into the files the
    * distributed plan writes. There the survivors' anti-join shuffles,
    * and adaptive execution coalesces the shuffle into partitions of
    * the advisory size (at most the shuffle partitions); the broadcast
    * anti-join that held keys within the join threshold plan keeps the
    * scan's layout instead — about one partition
    * per touched file, plus the held inserts' partitions — so each
    * rewrite would add files. `rows` coalesces (no shuffle) to the
    * touched files' recorded bytes over the advisory size; it stays as
    * it is when some touched file has no recorded size. */
  private def packed(spark: SparkSession, rows: DataFrame,
      touched: Seq[TxFile]): DataFrame =
    if (touched.exists(_.bytes.isEmpty)) rows
    else {
      val conf = spark.sessionState.conf
      val parts = touched.flatMap(_.bytes).sum /
        conf.getConf(org.apache.spark.sql.internal.SQLConf
          .ADVISORY_PARTITION_SIZE_IN_BYTES) + 1
      rows.coalesce(math.min(parts, conf.numShufflePartitions.toLong).toInt)
    }

  /** Merge-on-read CDC APPLY: same directive semantics as
    * [[applyChanges]], but matched target rows retire through a
    * DELETION VECTOR and the replacement images and inserts append as
    * new files — one `update-dv` commit, write cost ∝ matched rows
    * rather than touched-file bytes (the follower trickle case).
    * [[compact]] folds the vectors away. A batch that matches nothing
    * commits as an insert-only `merge` (no vector, no minReader bump). */
  def applyChangesMor(spark: SparkSession, dir: String, changes: DataFrame,
      keyCols: Seq[String], deleteCol: String,
      statsCols: Seq[String] = Nil,
      txn: Option[(String, Long)] = None): Long =
    locateKeyed(spark, dir, changes, keyCols, deleteCol, "applyChangesMor",
        txn, group = false) { k =>
      // image staging is partitioned by the insert count — a
      // 1k-directive follower batch must write one image file, not one
      // per shuffle partition, or continuous trickle batches become
      // small-files debt
      val imageParts = math.min(32L, k.nIns / ImageFileRows + 1).toInt
      stageTouched(spark, dir, k.at,
        if (k.at.keepFiles.isEmpty) "merge" else "update-dv",
        Option.when(k.nIns > 0L)(k.inserts.repartition(imageParts)),
        Some(k.at.tagged(spark, dir).join(k.srcKeys, keyCols, "left_semi")),
        statsCols, txn, identity = true, Some(k.checked))
    }

  /** Exactly-once CDC-APPLY sink: materialize a FOLLOWER table from a
    * change-feed stream (`readStream.format("txlog")
    * .option("readChangeFeed", true)`) in ONE call — the derived-copy
    * pattern (re-embed/re-score tables, downstream mirrors) that
    * otherwise needs a hand-written foreachBatch. Each micro-batch
    * collapses to its net directive per key — the LAST leg in
    * (_commit_version, insert-over-delete) order wins, so a
    * same-version delete+insert pair (an update's images) nets to the
    * post-image — then lands through [[applyChanges]] under the
    * (appId, batchId) txn marker. The first batch CREATES the
    * follower (the feed's initial load is insert-only). `mor = true`
    * routes established-table batches through [[applyChangesMor]] —
    * matched keys retire into a deletion vector instead of rewriting
    * each touched file, the write-amplification fix for a follower
    * applying scattered-key trickle updates at scale (schedule
    * [[compact]] on the follower to fold vectors away). */
  def changeFeedApplySink(feed: DataFrame, dir: String,
      keyCols: Seq[String], appId: String, checkpointDir: String,
      statsCols: Seq[String] = Nil, mor: Boolean = false,
      transform: Option[DataFrame => DataFrame] = None,
      group: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(!(mor && group),
      "TxLog: group-semantics followers are copy-on-write only " +
        "(a replaced group has no per-row position identity for a " +
        "deletion vector to retire)")
    require(transform.isDefined || !group,
      "TxLog: group = true only makes sense with a transform " +
        "(a verbatim feed is one row per key)")
    feed.writeStream.outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val sp = batch.sparkSession
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(keyCols.map(col): _*)
          .orderBy(col("_commit_version").desc,
            when(col("_change_type") === "insert", 1).otherwise(0).desc)
        val last = batch.withColumn("_graft_rn", row_number().over(w))
          .filter(col("_graft_rn") === 1)
        val srcRaw = last
          .withColumn("_graft_del", col("_change_type") === "delete")
          .drop("_change_type", "_commit_version", "_graft_rn")
        // a DERIVED follower maintains f(source row) per key: f runs
        // on the batch's net upserts only (delete directives carry
        // only their keys forward, reshaped to f's schema), so the
        // expensive derivation — an embedding, a chunking, an index
        // signature — costs the DELTA, never the corpus. A key whose
        // derivation comes back EMPTY (f dropped the row/group)
        // becomes a delete: its stale derived rows must not outlive
        // the source row that produced them.
        val src = transform match {
          case None => srcRaw
          case Some(f) =>
            val ups = f(srcRaw.filter(!col("_graft_del"))
              .drop("_graft_del"))
            keyCols.foreach(k => require(ups.columns.contains(k),
              s"TxLog: derived follower transform must preserve key " +
                s"column '$k'"))
            val upKeys = srcRaw.filter(!col("_graft_del"))
              .select(keyCols.map(col): _*).distinct()
            val vanished = upKeys.join(
              ups.select(keyCols.map(col): _*).distinct(),
              keyCols, "left_anti")
            val delKeys = srcRaw.filter(col("_graft_del"))
              .select(keyCols.map(col): _*).distinct()
              .unionByName(vanished)
            val dels = delKeys.select(ups.schema.fields.map(fl =>
              if (keyCols.contains(fl.name)) col(fl.name)
              else lit(null).cast(fl.dataType).as(fl.name)).toSeq: _*)
            ups.withColumn("_graft_del", lit(false))
              .unionByName(dels.withColumn("_graft_del", lit(true)))
        }
        if (!isLogged(sp, dir)) {
          // a CREATING batch: on the FIRST batch of a fresh
          // checkpoint an uncapped feed read can span the source's
          // whole DML history, so a key whose net state in the span
          // is 'deleted' legitimately yields a delete directive — its
          // net state in a table being created is simply absence, so
          // drop it. On a LATER batch (batchId > 0) deletes into a
          // missing table mean the follower vanished under an
          // established checkpoint — refuse rather than silently
          // recreate a partial table
          require(batchId == 0L ||
            src.filter(col("_graft_del")).isEmpty,
            s"TxLog: change-feed apply into $dir found DELETE " +
              "directives while creating the follower — the target " +
              "table is missing for an established feed; restore it " +
              "or restart the follower from a fresh checkpoint")
          val inserts = src.filter(!col("_graft_del")).drop("_graft_del")
          commitOverwrite(sp, dir, inserts, statsCols,
            txn = Some((appId, batchId)))
        } else if (mor)
          applyChangesMor(sp, dir, src, keyCols, "_graft_del", statsCols,
            txn = Some((appId, batchId)))
        else if (group)
          applyGroupChanges(sp, dir, src, keyCols, "_graft_del",
            statsCols, txn = Some((appId, batchId)))
        else
          applyChanges(sp, dir, src, keyCols, "_graft_del", statsCols,
            txn = Some((appId, batchId)))
        ()
      }.start()
  }

  /** Name of the hidden column carrying `_metadata.file_name` in
    * tagged reads; collision with a real column is refused. */
  private[graft] val TagFile = "__graft_file"
  private[graft] val TagIdx = "__graft_ridx"

  /** Summed `dvRows` up to which a scan subtracts its vectors as a
    * row filter over broadcast per-file arrays ([[DvIndex]], ≈ 32 MB
    * of longs at the bound); past it the scan anti-joins the vector
    * relation ([[liveScans]]). Also sizes [[stageTouched]]'s vector file count. */
  private val DvBroadcastRows = 4L * 1000 * 1000

  /** Target rows per staged image file in [[applyChangesMor]] — the
    * insert relation repartitions to `ceil(inserts / this)` (capped
    * at 32) so a trickle follower batch writes ONE image file. */
  private val ImageFileRows = 4L * 1000 * 1000

  /** The logical schema with every field renamed to its physical
    * parquet column (identity when the mapping is empty). */
  private[graft] def physSchema(schema: StructType,
      mapping: Map[String, String]): StructType =
    if (mapping.isEmpty) schema
    else StructType(schema.fields.map(fl =>
      fl.copy(name = mapping.getOrElse(fl.name, fl.name))))

  /** Percent-decode a fragment of `_metadata.file_path` back to the
    * RAW on-disk name (what directory listings — and therefore the
    * log — record). `url_decode` alone would also turn a literal '+'
    * into a space (form-encoding semantics); URI path encoding leaves
    * '+' untouched, so pre-escape it and the decode restores it. */
  private def pathDecode(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    url_decode(regexp_replace(c, "\\+", "%2B"))

  /** The value of a path-encoded (hive-layout) partition column,
    * recovered from `_metadata.file_path` — one codegen'd expression,
    * no extra scan. TWO decode layers stack on the raw segment: the
    * scanner URI-encodes the on-disk name ([[pathDecode]] undoes
    * that), and the on-disk name itself is HIVE-escaped (partitionBy
    * percent-escapes ':', '/', '%', '=', '#', control chars … in the
    * dir name — `ExternalCatalogUtils.escapePathName` semantics), so
    * a second percent-decode recovers the true value. Hive does not
    * escape '+', so the same plus-preserving decode applies (a bare
    * `url_decode` would corrupt it to a space). Without the second
    * layer a value like `00:00:00` read back as `00%3A00%3A00` —
    * pruning right (stats recorded the true value at registration)
    * but every returned row wrong/NULL. The null sentinel applies
    * before any decode. */
  private def pathPartValue(m: Column, physName: String,
      dt: DataType): org.apache.spark.sql.Column = {
    val seg = regexp_extract(m.getField("file_path"),
      "/" + java.util.regex.Pattern.quote(physName) + "=([^/]+)/", 1)
    when(seg === "" || seg === "__HIVE_DEFAULT_PARTITION__",
      lit(null)).otherwise(pathDecode(pathDecode(seg))).cast(dt)
  }

  /** The vector key ([[fileKey]]) of each scanned row's file, from the
    * scan's own `_metadata`: the base name for files at the table
    * root, the decoded dir-relative path for files `depth` partition
    * dirs below it. The relative path is the file's LAST depth+1
    * segments — anchored from the right, so URI-scheme normalization
    * differences between the driver's view of `dir` and the
    * scanner's `_metadata.file_path` can never shift it. */
  private def fileKeyExpr(m: Column, depth: Int): Column =
    if (depth == 0) m.getField("file_name")
    else pathDecode(regexp_extract(m.getField("file_path"),
      "/((?:[^/]+/){" + depth + "}[^/]+)$", 1))

  /** How many partition dirs an entry sits below the table root:
    * nested (hive-layout, [[convertInPlace]]) entries of a
    * path-partitioned table sit one per partition column, every other
    * entry at the root. */
  private def keyDepth(snap: TxSnapshot, f: TxFile): Int =
    if (snap.partitionCols.isEmpty || !f.path.contains('/')) 0
    else snap.partitionCols.size

  /** A scan's parquet `_metadata` struct, resolved as the scan's
    * metadata column — never by name, which a data column called
    * `_metadata` would shadow. */
  private def fileMeta(scan: DataFrame): Column =
    scan.metadataColumn("_metadata")

  private lazy val log =
    org.slf4j.LoggerFactory.getLogger(getClass.getName.stripSuffix("$"))

  /** The ONE deletion-vector subtraction of a logged scan. Both scan
    * leaves call it — [[TxFileRelation.planFor]]'s [[TxFileIndex]]
    * relation and [[readSnapshotTagged]]'s explicit-path read — so
    * the filter-vs-anti-join choice exists only here, keyed on the
    * summed `dvRows` of `snap` (commit metadata: no vector is read to
    * decide). `scan(files)` reads `files` as ONE file relation that
    * still exposes the parquet `_metadata` struct; the result is the
    * live legs, each still exposing it, for the caller to project
    * and union:
    *  - no vectors: one scan;
    *  - at most [[DvBroadcastRows]] deleted rows (`dv-filter`): one
    *    scan under `NOT dv_deleted(_metadata.file_path,
    *    _metadata.row_index)` against the cached [[DvIndex]] arrays —
    *    no join, no exchange, the filter fused into the scan's
    *    codegen span;
    *  - past it (`dv-antijoin`): the clean files scan join-free, and
    *    the vectored files' scan (one per [[keyDepth]]) left-anti-
    *    joins the vector relation on ([[fileKeyExpr]], `row_index`).
    * Both forms apply the same pairs: a (file, row) pair from ANY
    * vector relation the vectored files reference deletes that row
    * of that file. One INFO line per plan names the strategy. */
  private[sources] def liveScans(spark: SparkSession, dir: String,
      snap: TxSnapshot, scan: Seq[TxFile] => DataFrame): Seq[DataFrame] = {
    val (dvFiles, clean) = snap.files.partition(_.dv.isDefined)
    if (dvFiles.isEmpty) return Seq(scan(snap.files))
    val dvRows = dvFiles.map(_.dvRows).sum
    val asFilter = dvRows <= DvBroadcastRows
    log.info(s"txlog $dir@v${snap.version}: " +
      s"${if (asFilter) "dv-filter" else "dv-antijoin"} " +
      s"vectoredFiles=${dvFiles.size} deletedRows=$dvRows")
    if (asFilter) {
      val dv = DvIndex.broadcastFor(spark, dir, snap, dvFiles)
      val all = scan(snap.files)
      val m = fileMeta(all)
      Seq(all.filter(!PlanBridge.column(DvDeleted(
        PlanBridge.expression(m.getField("file_path")),
        PlanBridge.expression(m.getField("row_index")), dv))))
    } else {
      val vectors = spark.read.parquet(dvFiles.flatMap(_.dv).distinct
        .map(p => resolveData(dir, p)): _*)
      val vectored = dvFiles.groupBy(keyDepth(snap, _)).toSeq
        .sortBy(_._1).map { case (depth, fs) =>
          val leg = scan(fs)
          val m = fileMeta(leg)
          val keyed = leg.withColumn(TagFile, fileKeyExpr(m, depth))
            .withColumn(TagIdx, m.getField("row_index"))
          keyed.join(vectors, keyed(TagFile) === vectors("file") &&
            keyed(TagIdx) === vectors("row_index"), "left_anti")
            .drop(TagFile, TagIdx)
        }
      (if (clean.isEmpty) Nil else Seq(scan(clean))) ++ vectored
    }
  }

  /** Snapshot read with physical row identity: the table columns
    * under their LOGICAL names plus `(TagFile, TagIdx)` = (the file's
    * vector key, the row's position in the file) from the parquet
    * `_metadata` struct — what deletion vectors address — with the
    * snapshot's vectors already subtracted ([[liveScans]]). Scans
    * under PHYSICAL column names. Nested (hive-layout) entries read
    * WITHOUT the partition columns and recover them from the file
    * path; root entries — every post-registration write — carry them
    * as ordinary data. One scan per layout.
    *
    * The ONE explicit-path reader: DML probes, change-feed images,
    * [[changesSince]], the streaming source and [[readSnapshot]]'s
    * fallback all pass it a snapshot — an entry without a vector reads
    * as it sits on disk, and the snapshot's schema and mapping are the
    * names the rows come out under (the streaming source passes its
    * query-start schema). Untagged callers drop the two tags. */
  private[sources] def readSnapshotTagged(spark: SparkSession, dir: String,
      snap: TxSnapshot): DataFrame = {
    val schema = DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]
    require(!schema.fieldNames.contains(TagFile) &&
      !schema.fieldNames.contains(TagIdx),
      s"TxLog: table columns collide with reserved names $TagFile/$TagIdx")
    if (snap.files.isEmpty)
      return spark.createDataFrame(java.util.Collections.emptyList[Row](),
        StructType(schema.fields ++ Seq(
          StructField(TagFile, StringType, nullable = true),
          StructField(TagIdx, LongType, nullable = true))))
    val physS = physSchema(schema, snap.mapping)
    snap.files.groupBy(keyDepth(snap, _)).toSeq.sortBy(-_._1).flatMap {
      case (depth, files) =>
        val inject = if (depth == 0) Nil else snap.partitionCols
        val readS = StructType(physS.fields.filterNot(f =>
          inject.contains(f.name)))
        def scan(fs: Seq[TxFile]): DataFrame = spark.read.schema(readS)
          .parquet(fs.map(f => resolveData(dir, f.path)): _*)
        liveScans(spark, dir, snap.copy(files = files), scan).map { live =>
          val m = fileMeta(live)
          inject.foldLeft(live)((d, pp) =>
            d.withColumn(pp, pathPartValue(m, pp, physS(pp).dataType)))
            .select(schema.fields.map(fl =>
              col(snap.phys(fl.name)).as(fl.name)).toSeq ++
              Seq(fileKeyExpr(m, depth).as(TagFile),
                m.getField("row_index").as(TagIdx)): _*)
        }
    }.reduce(_.unionByName(_))
  }

  private[graft] def readSnapshot(spark: SparkSession, dir: String,
      snap: TxSnapshot): DataFrame =
    // the planner-visible presentation first: exact sizeInBytes for
    // static broadcast planning, stats-in-log file skipping at scan
    // time, native (dynamic) partition pruning, vectorized parquet
    // under whole-stage codegen, vectors subtracted in the scan
    // ([[liveScans]]). The index refuses only structurally (no files,
    // missing bytes, unrecoverable partition values); those snapshots
    // read their explicit paths instead.
    TxFileRelation.planFor(spark, dir, snap)
      .map(PlanBridge.fromPlan(spark, _))
      .getOrElse(readSnapshotTagged(spark, dir, snap).drop(TagFile, TagIdx))

  /** Snapshot-isolated read at `asOf` (default: head). The file list
    * and schema come from one log version — concurrent commits cannot
    * tear the scan. */
  def read(spark: SparkSession, dir: String,
      asOf: Option[Long] = None): DataFrame =
    readSnapshot(spark, dir, snapshot(spark, dir, asOf))

  /** Stats-in-log data skipping: the snapshot restricted to files
    * whose recorded [min, max] for `colName` can intersect [lo, hi] —
    * answered from commit METADATA alone, no footer reads (the Delta
    * `stats` recipe). Conservative: a file without stats for the column
    * (older commit, different writer) is always kept, and when NO
    * live file has them this is exactly [[read]]. The predicate is
    * NOT applied — callers filter as usual, and parquet row-group
    * pushdown still applies inside kept files. At 10⁶ files this
    * turns a selective scan's planning input from the dataset into
    * the intersecting sliver, resolved in one driver pass over the
    * snapshot list. */
  def readPruned(spark: SparkSession, dir: String, colName: String,
      lo: Any, hi: Any, asOf: Option[Long] = None): DataFrame =
    readPrunedAll(spark, dir, Seq((colName, lo, hi)), asOf)

  /** Compound data skipping (Delta's conjunction shape): a file is
    * kept only when EVERY `(col, lo, hi)` interval can intersect its
    * recorded range — `date BETWEEN … AND region = …` prunes on BOTH
    * columns, not whichever one the caller picked. Each predicate is
    * independently conservative (a file without stats for that column
    * passes it); an empty `preds` is exactly [[read]]. An equality is
    * the degenerate interval `(col, v, v)`. */
  def readPrunedAll(spark: SparkSession, dir: String,
      preds: Seq[(String, Any, Any)], asOf: Option[Long] = None)
      : DataFrame = {
    val snap = snapshot(spark, dir, asOf)
    val kept = prunedSnapshotFiles(spark, snap,
      preds.map { case (c, lo, hi) => (c, Option(lo), Option(hi)) })
    readSnapshot(spark, dir, snap.copy(files = kept))
  }

  /** THE stats-interval file filter — the only code that skips
    * [[TxFile]]s by their recorded ranges: the snapshot's files
    * restricted to those whose range can intersect every `(col, lo,
    * hi)` interval (logical column names; a missing side is unbounded,
    * so `col >= lo` is `(c, Some(lo), None)`) and pass every null
    * predicate. Driver-side, metadata-only, no Spark job: each bound
    * canonicalizes through [[StatsManifest.canonicalBound]], and a
    * bound that does not cast constrains nothing (pruning only ever
    * skips, so keeping every file stays correct). Callers derive their
    * intervals three ways:
    *  - predicate callers ([[locatePredicate]] for the five predicate
    *    DML verbs and their conflict guard, `compact(where)`) through
    *    [[predicatePrune]], from the same `TxLogBatch.intervals` and
    *    `nullPreds` translation the scan pushdown uses;
    *  - keyed callers ([[locateKeyed]] and its guard, the Scd2 and
    *    MaterializedAgg follower reads) from an envelope row through
    *    [[envelopeIntervals]];
    *  - reads ([[readPrunedAll]], `mergeInto`'s source envelope) and
    *    pushdown ([[TxFileIndex]], [[TxLogBatch]]) from
    *    `TxLogBatch.intervals`-shaped intervals. */
  private[graft] def prunedSnapshotFiles(spark: SparkSession,
      snap: TxSnapshot, preds: Seq[(String, Option[Any], Option[Any])],
      nullPreds: Seq[(String, Boolean)] = Nil): Seq[TxFile] = {
    val ranged = preds.foldLeft(snap.files) { case (files, (c0, lo, hi)) =>
      val c = snap.phys(c0) // stats are keyed by physical name
      files.flatMap(_.stats.get(c)).headOption.map(_.dtype) match {
        case None => files // no live file carries stats for this column
        case Some(dt) =>
          // canonicalize each present side through the same cast the
          // stats took; an absent or uncastable side never excludes
          def canon(v: Option[Any], upper: Boolean): Option[String] =
            v.flatMap(StatsManifest.canonicalBound(spark, dt, _, upper))
          val (loS, hiS) = (canon(lo, upper = false), canon(hi, upper = true))
          files.filter(f => f.stats.get(c).forall { st =>
            (st.min.orNull, st.max.orNull) match {
              case (null, _) | (_, null) => true // conservative
              case (mn, mx) =>
                loS.forall(l => StatsManifest.cmpStat(st.dtype, mx, l) >= 0) &&
                  hiS.forall(h => StatsManifest.cmpStat(st.dtype, mn, h) <= 0)
            }
          })
      }
    }
    // null-membership pruning from recorded per-file null counts:
    // `IS NULL` drops files recording ZERO nulls; `IS NOT NULL` drops
    // all-null files. Both stay sound under deletion vectors: a
    // vector removes rows, which can neither add a null to a
    // zero-null file nor add a value to an all-null one.
    nullPreds.foldLeft(ranged) { case (files, (c0, wantNull)) =>
      val c = snap.phys(c0)
      files.filter(f => f.stats.get(c).forall { st =>
        if (wantNull) !st.nulls.contains(0L)
        else {
          val allNull = st.nulls.contains(f.rows) ||
            (st.min.isEmpty && st.max.isEmpty && st.nulls.exists(_ > 0))
          !allNull
        }
      })
    }
  }

  /** The `(key, lo, hi)` intervals an envelope row carries in its
    * `<lo><k>` / `<hi><k>` fields (the `_lo_<k>` / `_hi_<k>` of
    * [[locateKeyed]]'s `apply-shape` row by default), for the keys
    * with both bounds non-null — an all-null key has no envelope and
    * prunes nothing. Callers that read pruned only when EVERY key is
    * bounded compare the size against `keys`. */
  private[graft] def envelopeIntervals(env: Row, keys: Seq[String],
      lo: String = "_lo_", hi: String = "_hi_"): Seq[(String, Any, Any)] =
    keys.flatMap { k =>
      (Option(env.getAs[Any](lo + k)), Option(env.getAs[Any](hi + k))) match {
        case (Some(l), Some(h)) => Some((k, l, h))
        case _ => None
      }
    }

  /** Metadata-first COUNT (the Delta metadata-only-aggregate shape):
    * the exact number of rows satisfying every `(col, lo, hi)`
    * interval, scanning as little as possible. Per file, from the
    * log alone: a file whose recorded range cannot intersect some
    * interval contributes ZERO; a file FULLY CONTAINED in every
    * interval with zero recorded nulls on every probed column
    * contributes its logged row count; only the boundary sliver —
    * files straddling an interval edge, carrying nulls, or missing
    * stats — is actually scanned, with the predicate applied. Empty
    * `preds` is the table's row count straight from the log (no scan
    * at all — the `SELECT COUNT(*)` that costs one metadata read at
    * any table size). */
  def countWhere(spark: SparkSession, dir: String,
      preds: Seq[(String, Any, Any)] = Nil,
      asOf: Option[Long] = None): Long =
    countWhereDetailed(spark, dir, preds, asOf)._1

  /** [[countWhere]] plus the names of the files it had to scan —
    * exposed private[graft] so tests can pin the metadata-only
    * claim, not just the answer. */
  private[graft] def countWhereDetailed(spark: SparkSession, dir: String,
      preds: Seq[(String, Any, Any)], asOf: Option[Long])
      : (Long, Seq[String]) = {
    val snap = snapshot(spark, dir, asOf)
    // rows − dvRows is EXACT per file (the vector's pair count is
    // commit-time metadata), so COUNT(*) stays a pure metadata read
    // even after merge-on-read DML
    if (preds.isEmpty)
      return (snap.files.map(f => f.rows - f.dvRows).sum, Nil)
    val schema = DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]
    val fields = schema.fields.map(f => f.name -> f.dataType).toMap
    preds.foreach { case (c, _, _) => require(fields.contains(c),
      s"TxLog: countWhere on unknown column '$c'") }
    val bounds = preds.map { case (c, lo, hi) =>
      val dt = fields(c).catalogString
      val (loS, hiS) = StatsManifest.canonicalBounds(spark, dt, lo, hi)
      (snap.phys(c), dt, loS, hiS) // stats are keyed by physical name
    }
    sealed trait Verdict
    case object Excluded extends Verdict
    case object Contained extends Verdict
    case object Boundary extends Verdict
    def judge(f: TxFile): Verdict = {
      // a deletion vector makes the logged row count an OVERcount and
      // the stats upper bounds: exclusion stays sound (removing rows
      // can't add values), but a "contained" file must scan
      var contained = f.dv.isEmpty
      bounds.foreach { case (c, dt, loS, hiS) =>
        f.stats.get(c) match {
          case Some(st) if st.min.isDefined && st.max.isDefined =>
            if (!StatsManifest.intersects(dt, st.min.get, st.max.get,
                loS, hiS))
              return Excluded
            // widened timestamp bounds only ever exclude: a timestamp
            // file is never counted as contained, it scans
            if (!(dt != "timestamp" &&
                loS.exists(StatsManifest.cmpStat(dt, st.min.get, _) >= 0) &&
                hiS.exists(StatsManifest.cmpStat(dt, st.max.get, _) <= 0) &&
                st.nulls.contains(0L)))
              contained = false
          case Some(st) if st.min.isEmpty && st.max.isEmpty =>
            // all-null column: no row satisfies a range predicate
            return Excluded
          case _ => contained = false // no stats: must scan
        }
      }
      if (contained) Contained else Boundary
    }
    val verdicts = snap.files.map(f => f -> judge(f))
    val metaCount = verdicts
      .collect { case (f, Contained) => f.rows }.sum
    val toScan = verdicts.collect { case (f, Boundary) => f }
    val scanned =
      if (toScan.isEmpty) 0L
      else {
        val pred = preds.map { case (c, lo, hi) =>
          col(c).between(lit(lo).cast(fields(c)), lit(hi).cast(fields(c)))
        }.reduce(_ && _)
        readSnapshot(spark, dir, snap.copy(files = toScan))
          .filter(pred).count()
      }
    (metaCount + scanned, toScan.map(_.path))
  }

  /** Metadata-first MIN/MAX (the other Delta metadata-only aggregate
    * beside [[countWhere]], the OptimizeMetadataOnlyQuery shape):
    * exact per-column extrema of the live rows, reading as little
    * data as possible. A file with recorded stats and no deletion
    * vector contributes its logged min/max — per-file stats are exact
    * extrema computed from the data at write time, so folding them
    * across files IS the global answer, zero data I/O at any table
    * size. Only files whose logged extrema cannot be trusted are
    * scanned, column-pruned, in ONE pass: a deletion vector may have
    * removed the extremal row (the logged bound becomes an
    * overstatement — sound for pruning, unsound for an answer), and
    * missing stats say nothing. All-null columns contribute nothing
    * (SQL MIN/MAX ignore nulls); a column null in every live row
    * yields null — the SQL answer. Returns one row with
    * `min_c`/`max_c` per requested column in the column's own type.
    * [[compact]] folds vectors away and refreshes stats, restoring
    * the pure-metadata path after merge-on-read DML. */
  def minMax(spark: SparkSession, dir: String, cols: Seq[String],
      asOf: Option[Long] = None): DataFrame =
    minMaxDetailed(spark, dir, cols, asOf)._1

  /** [[minMax]] plus the names of the files it had to scan — exposed
    * private[graft] so tests pin the metadata-only claim, not just
    * the answer (mirrors [[countWhereDetailed]]). */
  private[graft] def minMaxDetailed(spark: SparkSession, dir: String,
      cols: Seq[String], asOf: Option[Long])
      : (DataFrame, Seq[String]) = {
    require(cols.nonEmpty, "TxLog: minMax needs at least one column")
    val snap = snapshot(spark, dir, asOf)
    val schema = DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]
    val fields = schema.fields.map(f => f.name -> f.dataType).toMap
    cols.foreach(c => require(fields.contains(c),
      s"TxLog: minMax on unknown column '$c'"))
    val dtypes = cols.map(c => c -> fields(c).catalogString).toMap
    // stats cover a column when both bounds are recorded, or when the
    // recorded state is "all null" (min and max both absent) — the
    // file then contributes nothing, which is exact. Timestamp stats
    // never cover: they are session-zone local strings, whose order
    // and parse-back are ambiguous across a daylight-saving fall-back
    val zoned = cols.filter(c => dtypes(c) == "timestamp").toSet
    def covered(f: TxFile, c: String): Boolean = !zoned(c) &&
      f.stats.get(snap.phys(c)).exists(st =>
        (st.min.isDefined && st.max.isDefined) ||
          (st.min.isEmpty && st.max.isEmpty))
    val (meta, toScan) = snap.files.partition(f =>
      f.dv.isEmpty && cols.forall(c => covered(f, c)))
    def better(dt: String, takeMin: Boolean)(a: String, b: String) =
      if ((StatsManifest.cmpStat(dt, a, b) <= 0) == takeMin) a else b
    val metaBounds: Map[String, (Option[String], Option[String])] =
      cols.map { c =>
        val sts = meta.flatMap(_.stats.get(snap.phys(c)))
        c -> (sts.flatMap(_.min)
            .reduceOption(better(dtypes(c), takeMin = true)),
          sts.flatMap(_.max)
            .reduceOption(better(dtypes(c), takeMin = false)))
      }.toMap
    // one column-pruned pass over the sliver; extrema come back in
    // the SAME canonical cast-to-string forms the stats use, so the
    // two sources fold under one comparator. A timestamp column scans
    // every file and keeps its extrema as values, never as strings.
    val scanned: Option[Row] =
      if (toScan.isEmpty) None
      else Some(readSnapshot(spark, dir, snap.copy(files = toScan))
        .select(cols.flatMap { c =>
          def str(e: org.apache.spark.sql.Column) =
            if (zoned(c)) e else e.cast("string")
          Seq(str(min(col(c))).as(s"_min_$c"), str(max(col(c))).as(s"_max_$c"))
        }: _*).head())
    val out = cols.flatMap { c =>
      def ext(takeMin: Boolean) = if (takeMin) s"_min_$c" else s"_max_$c"
      def pick(takeMin: Boolean): Any =
        if (zoned(c)) scanned.map(_.getAs[Any](ext(takeMin))).orNull
        else (Seq(if (takeMin) metaBounds(c)._1 else metaBounds(c)._2) ++
            scanned.map(r => Option(r.getAs[String](ext(takeMin)))))
          .flatten.reduceOption(better(dtypes(c), takeMin)).orNull
      Seq(lit(pick(takeMin = true)).cast(fields(c)).as(s"min_$c"),
        lit(pick(takeMin = false)).cast(fields(c)).as(s"max_$c"))
    }
    (spark.range(1).select(out: _*), toScan.map(_.path))
  }

  /** Incremental consumption: the rows ADDED by commits in
    * `(sinceVersion, untilVersion]` — the Delta-streaming-source /
    * CDC-read shape that lets downstream work (re-embed, re-dedup,
    * re-score) process only what arrived instead of the table. A
    * consumer remembers the version it read through ([[snapshot]]
    * `.version`) and passes it back as `sinceVersion`; `-1` reads
    * from the table's creation.
    *
    * Append commits contribute their added files; compactions
    * contribute NOTHING (their additions are rewrites of removed
    * rows, not new data); an overwrite inside the span throws — its
    * retractions are not expressible as additions (same contract as
    * Delta's streaming source without ignoreChanges) — except the
    * table-creating commit when reading from `-1`, which is the
    * initial load. Cost: log metadata + a scan of ONLY the delta
    * files.
    *
    * The refusal has Delta's two documented escape hatches for
    * appends-only consumers that accept missing corrections:
    * `ignoreDeletes` skips DELETE commits entirely (a CoW delete's
    * adds are rewrites of surviving, already-consumed rows — like a
    * compaction — and a MoR delete adds nothing, so skipping the
    * commit neither duplicates nor resurrects); `skipChangeCommits`
    * additionally skips UPDATE / row-rewriting MERGE / mid-span
    * OVERWRITE commits wholesale — the consumer then silently misses
    * the changed rows, which is the option's documented contract.
    * Without either flag ONE DML commit on a curated table would
    * permanently brick every appends-only downstream. */
  def changesSince(spark: SparkSession, dir: String, sinceVersion: Long,
      untilVersion: Option[Long] = None,
      skipChangeCommits: Boolean = false,
      ignoreDeletes: Boolean = false): DataFrame = {
    val (added, snap) = changedFilesDetail(spark, dir, sinceVersion,
      untilVersion, skipChangeCommits, ignoreDeletes)
    readSnapshotTagged(spark, dir, snap.copy(files = added))
      .drop(TagFile, TagIdx)
  }

  /** The ONE policy predicate behind `skipChangeCommits` /
    * `ignoreDeletes`: does this commit get skipped WHOLESALE from an
    * appends-only span? Shared by [[changedFiles]] (what the span
    * emits) and [[commitAddCost]] (what admission budgets) — the two
    * MUST agree, or a zero-budget commit could emit rows past the cap
    * (or a skipped one stall a capped stream a whole trigger).
    * Insert-only merges (no removes) and the v0 table-creating
    * overwrite are never skipped — they are the initial load and
    * plain additions. */
  private def dmlSkipped(op: String, v: Long, removesNonEmpty: Boolean,
      skipChangeCommits: Boolean, ignoreDeletes: Boolean): Boolean =
    (Seq("delete", "delete-dv").contains(op) &&
      (skipChangeCommits || ignoreDeletes)) ||
    (skipChangeCommits && Seq("update", "update-dv").contains(op)) ||
    (skipChangeCommits && op == "overwrite" && v > 0) ||
    (skipChangeCommits && op == "merge" && removesNonEmpty)

  /** The core of [[changesSince]], shared with the streaming source
    * ([[TxLogStreamProvider]]): the files the commits in
    * `(sinceVersion, untilVersion]` ADDED, plus the span-end schema —
    * with every refusal (truncated span, overwrite inside the span,
    * vacuumed delta files) applied here so both consumption forms get
    * identical contracts. */
  def changedFiles(spark: SparkSession, dir: String, sinceVersion: Long,
      untilVersion: Option[Long] = None,
      skipChangeCommits: Boolean = false,
      ignoreDeletes: Boolean = false)
      : (Seq[TxFile], StructType, Map[String, String]) = {
    val (added, snap) = changedFilesDetail(spark, dir, sinceVersion,
      untilVersion, skipChangeCommits, ignoreDeletes)
    (added,
      DataType.fromJson(snap.schemaJson).asInstanceOf[StructType],
      snap.mapping)
  }

  /** [[changedFiles]] plus the resolved until-snapshot itself — the
    * streaming source needs `retired` for its dropped-column guard,
    * and re-replaying the log for it would double the per-trigger
    * driver cost. */
  private[sources] def changedFilesDetail(spark: SparkSession,
      dir: String, sinceVersion: Long,
      untilVersion: Option[Long] = None,
      skipChangeCommits: Boolean = false,
      ignoreDeletes: Boolean = false): (Seq[TxFile], TxSnapshot) = {
    val (until, commits) = commitSpan(spark, dir, sinceVersion,
      untilVersion, "incremental read")
    val added = commits.flatMap { case (v, j) =>
      val adds = (j \ "add").extract[Seq[TxFile]]
      val removes = (j \ "remove").extract[Seq[String]]
      (j \ "op").extract[String] match {
        // a commit that moves no file (metadata, txn marker) adds no rows
        case _ if adds.isEmpty && removes.isEmpty => Nil
        case "append" => adds
        case "compact" => Nil // rewrites, not new rows
        case "overwrite" | "clone" if v == 0 && sinceVersion < 0 =>
          // initial load — but a CLONE's v0 may register the source's
          // files WITH their deletion vectors, and reading those files
          // raw would resurrect source-deleted rows as live inserts.
          // Same contract as a dv commit inside the span: a vector
          // removes rows, so the delta is not expressible as
          // additions — refuse and re-seed from the snapshot.
          val withDv = adds.count(_.dv.isDefined)
          require(withDv == 0,
            s"TxLog: commit $v registers $withDv file(s) with deletion " +
              "vectors (a vector removes rows) — the span's delta is " +
              "not expressible as additions; re-read the full snapshot")
          adds
        case "merge" if removes.isEmpty =>
          // an insert-only merge removed nothing: its adds ARE the
          // delta; a merge that rewrote files falls through to refuse
          adds
        case op if dmlSkipped(op, v, removes.nonEmpty,
            skipChangeCommits, ignoreDeletes) =>
          // skipped wholesale (the ONE policy predicate admission
          // control also budgets by): a CoW delete's adds are
          // rewrites of surviving rows the consumer already has, a
          // MoR delete's re-register files under a vector — emitting
          // either would duplicate, skipping loses only the change,
          // exactly what the flag opts into. Insert-only merges and
          // the v0 initial load matched ABOVE and still flow
          Nil
        case op => throw new IllegalArgumentException(
          s"TxLog: commit $v is '$op' — the span's delta is not " +
            "expressible as additions; re-read the full snapshot, " +
            "stream with readChangeFeed, or opt in to skipping DML " +
            "commits (skipChangeCommits / ignoreDeletes)")
      }
    }
    // an appended file later compacted away AND vacuumed is gone from
    // disk even though its commit survives — refuse with the same
    // clear contract as log truncation
    if (added.nonEmpty)
      new Presence(spark, dir).check(added.map(_.path), Nil,
        s"delta of ($sinceVersion, $until]", "; incremental read from " +
          "this version is no longer possible; re-read the full snapshot")
    (added, snapshot(spark, dir, Some(until)))
  }

  /** The span step of both span readers ([[changedFilesDetail]],
    * [[changeFeed]]): the resolved until (default: the head) and every
    * commit of `(sinceVersion, until]` parsed, in version order.
    * Refuses an until past the head, a since past the until, and a
    * span whose commits were truncated — naming `reader` as what is no
    * longer possible. */
  private def commitSpan(spark: SparkSession, dir: String,
      sinceVersion: Long, untilVersion: Option[Long], reader: String)
      : (Long, Seq[(Long, JValue)]) = {
    val (commits, _) = listLog(spark, dir)
    require(commits.nonEmpty, s"TxLog: no transaction log under $dir/$LogDir")
    val head = commits.max
    val until = untilVersion.getOrElse(head)
    require(until <= head, s"TxLog: until $until beyond head $head")
    require(sinceVersion <= until,
      s"TxLog: since $sinceVersion beyond until $until")
    val span = (sinceVersion + 1) to until
    val missing = span.filterNot(commits.toSet)
    require(missing.isEmpty,
      s"TxLog: commits ${missing.take(3).mkString(",")}… truncated; " +
        s"$reader from this version is no longer possible")
    val f = fs(spark, logPath(dir))
    (until,
      span.map(v => v -> JsonMethods.parse(readText(f, versionFile(dir, v)))))
  }

  /** The (files, rows, bytes) a commit's stream-visible additions
    * cost — answered from log metadata only; what the streaming
    * source's admission control budgets against. Compactions cost
    * zero (their adds are rewrites [[changedFiles]] skips, so
    * admitting them against the cap would stall real data behind
    * maintenance). `bytes` is `None` when any added entry predates
    * byte recording — the byte budget must then treat the commit
    * CONSERVATIVELY (assume over-budget), never as free. */
  private[sources] def commitAddCost(spark: SparkSession, dir: String,
      v: Long, skipChangeCommits: Boolean = false,
      ignoreDeletes: Boolean = false): (Long, Long, Option[Long]) = {
    val f = fs(spark, logPath(dir))
    val j = JsonMethods.parse(readText(f, versionFile(dir, v)))
    val op = (j \ "op").extract[String]
    val skipped = op == "compact" ||
      dmlSkipped(op, v, (j \ "remove").extract[Seq[String]].nonEmpty,
        skipChangeCommits, ignoreDeletes)
    if (skipped) (0L, 0L, Some(0L)) // no stream rows — budget-free
    else {
      val adds = (j \ "add").extract[Seq[TxFile]]
      val bytes =
        if (adds.forall(_.bytes.isDefined)) Some(adds.flatMap(_.bytes).sum)
        else None
      (adds.size.toLong, adds.map(_.rows).sum, bytes)
    }
  }

  // ---- time travel by timestamp ------------------------------------

  /** IN-COMMIT timestamp for the commit being written (Delta 3.x's
    * inCommitTimestamps): `max(clock, ts(v−1) + 1)` — recorded inside
    * the commit json so the time-travel axis survives file copies,
    * backups, and mtime-less object stores, and is strictly
    * increasing at the WRITE side (two same-millisecond commits get
    * distinct timestamps). The previous commit's file may predate
    * timestamp recording (fall back to its mtime) or be truncated
    * away (v0 of the available history — fall back to the clock). */
  private def nextCommitTs(f: FileSystem, dir: String, v: Long): Long = {
    val now = System.currentTimeMillis()
    if (v == 0) now
    else try {
      val pf = versionFile(dir, v - 1)
      val prev = (JsonMethods.parse(readText(f, pf)) \ "ts")
        .extractOpt[Long]
        .getOrElse(f.getFileStatus(pf).getModificationTime)
      math.max(now, prev + 1)
    } catch { case _: java.io.IOException => now }
  }

  /** Every present commit's (version, timestamp): the RECORDED
    * in-commit timestamp when the commit carries one, the commit
    * file's modification time for commits that predate timestamp
    * recording, with Delta's monotonicity adjustment
    * (`ts(v) = max(t(v), ts(v−1) + 1)`) over the merged axis — a
    * clock that jumped backwards between commits (or a copied log
    * whose mtimes scrambled around recorded timestamps) must not make
    * a later version resolve before an earlier one. Driver-side, one
    * small json read per commit. */
  private def commitTimestamps(spark: SparkSession, dir: String)
      : Seq[(Long, Long)] = {
    val (commits, _) = listLog(spark, dir)
    require(commits.nonEmpty, s"TxLog: no transaction log under $dir/$LogDir")
    val f = fs(spark, logPath(dir))
    var prev = Long.MinValue
    commits.map { v =>
      val p = versionFile(dir, v)
      val t = (JsonMethods.parse(readText(f, p)) \ "ts").extractOpt[Long]
        .getOrElse(f.getFileStatus(p).getModificationTime)
      val adj = if (prev == Long.MinValue) t else math.max(t, prev + 1)
      prev = adj
      (v, adj)
    }
  }

  /** TIMESTAMP AS OF resolution (Delta's rule): the latest version
    * whose commit timestamp is ≤ `ts`. Operators think in times ("the
    * table as of yesterday 18:00"); this maps a time onto the version
    * axis every other time-travel entry point ([[read]], [[clone]],
    * [[restore]]) already speaks. Refuses a `ts` before the first
    * AVAILABLE commit — which is also the [[truncateLog]] parity:
    * once old commit files are dropped their timestamps are gone, so
    * times in that range refuse exactly like the versions do. */
  def versionAt(spark: SparkSession, dir: String, ts: Long): Long = {
    val tss = commitTimestamps(spark, dir)
    val (v0, t0) = tss.head
    require(ts >= t0,
      s"TxLog: timestamp $ts is before the first available commit " +
        s"(version $v0 at $t0) of $dir" +
        (if (v0 > 0) " — older history was truncated" else ""))
    tss.takeWhile(_._2 <= ts).last._1
  }

  /** Snapshot-isolated read of the table as of wall-clock `ts`
    * (Delta's `TIMESTAMP AS OF`): [[versionAt]] then [[read]]. */
  def readAt(spark: SparkSession, dir: String, ts: Long): DataFrame =
    read(spark, dir, Some(versionAt(spark, dir, ts)))

  /** The dual of [[versionAt]]: the EARLIEST version committed
    * at-or-after `ts` — what a streaming consumer's
    * `startingTimestamp` resolves through (Delta's rule). Refuses a
    * `ts` beyond the last commit (nothing starts there — use
    * `startingVersion=latest` to tail only new commits). */
  def versionAtOrAfter(spark: SparkSession, dir: String, ts: Long): Long = {
    val tss = commitTimestamps(spark, dir)
    tss.find(_._2 >= ts).map(_._1).getOrElse(
      throw new IllegalArgumentException(
        s"TxLog: no commit of $dir at or after timestamp $ts (last is " +
          s"${tss.last._2}) — use startingVersion=latest to consume " +
          "only future commits"))
  }

  /** [[clone]] of the table as it stood at wall-clock `ts`. */
  def cloneAt(spark: SparkSession, sourceDir: String, targetDir: String,
      ts: Long): Long =
    clone(spark, sourceDir, targetDir,
      Some(versionAt(spark, sourceDir, ts)))

  /** Resolve a wall-clock window to the commit span `(since, until]`
    * the batch feed readers consume: commits whose (monotonicity-
    * adjusted) timestamp falls in `[sinceTs, untilTs]` — `sinceTs`
    * resolves through [[versionAtOrAfter]] (Delta's startingTimestamp
    * rule, same as the stream), `untilTs` through [[versionAt]]
    * (at-or-before; None = head). A window that starts after the last
    * commit, or ends before the first, refuses with the same
    * truncation-aware messages as the version forms. */
  private def timeSpan(spark: SparkSession, dir: String, sinceTs: Long,
      untilTs: Option[Long]): (Long, Option[Long]) = {
    val since = versionAtOrAfter(spark, dir, sinceTs) - 1
    val until = untilTs.map(versionAt(spark, dir, _))
    // an empty window resolves to since == until (the first commit
    // at-or-after the start lies beyond the end) — refuse loudly
    // rather than return a vacuously empty feed for what is almost
    // certainly a caller mistake
    until.foreach(u => require(since < u,
      s"TxLog: time window [$sinceTs, ${untilTs.get}] contains no " +
        s"commits of $dir"))
    (since, until)
  }

  /** [[changesSince]] bounded by wall-clock timestamps instead of
    * versions (Delta's `table_changes(…, startingTimestamp,
    * endingTimestamp)` shape): the rows ADDED by commits whose
    * timestamp is in `[sinceTs, untilTs]`. Same refusal contracts,
    * including truncation. */
  def changesSinceTimestamp(spark: SparkSession, dir: String,
      sinceTs: Long, untilTs: Option[Long] = None,
      skipChangeCommits: Boolean = false,
      ignoreDeletes: Boolean = false): DataFrame = {
    val (since, until) = timeSpan(spark, dir, sinceTs, untilTs)
    changesSince(spark, dir, since, until, skipChangeCommits,
      ignoreDeletes)
  }

  /** [[changeFeed]] bounded by wall-clock timestamps instead of
    * versions: the row-level diff of commits whose timestamp is in
    * `[sinceTs, untilTs]`. */
  def changeFeedByTimestamp(spark: SparkSession, dir: String,
      sinceTs: Long, untilTs: Option[Long] = None): DataFrame = {
    val (since, until) = timeSpan(spark, dir, sinceTs, untilTs)
    changeFeed(spark, dir, since, until)
  }

  /** Row-level CHANGE DATA FEED over `(sinceVersion, untilVersion]`
    * (the Delta CDF shape, computed post-hoc from the log): one row
    * per changed row, stamped `_change_type` (`insert` / `delete`)
    * and `_commit_version`, such that applying the feed in version
    * order — delete pre-rows, add insert-rows, multiset semantics —
    * transforms snapshot(since) into snapshot(until). This is what
    * lets a downstream copy follow a table THROUGH deletes, updates
    * and merges, which [[changesSince]] (additions only) refuses.
    *
    * Each commit's rows follow from what it did to FILES, never from
    * its op name, so a rewrite and a deletion-vector commit with the
    * same effect give the same rows:
    *  - a commit that moves no file, and a compaction, give nothing;
    *  - an overwrite or clone gives its rows as inserts at version 0
    *    (the initial load, read from `-1`) and refuses mid-span — its
    *    retraction is the whole prior table, not a delta;
    *  - every other commit: `retired` = the rows live at v−1 and no
    *    longer live at v in the files it touched (all live rows of a
    *    removed file; the fresh vector positions of a file it re-adds
    *    under a new vector), `added` = the live rows of its new
    *    entries. It emits `retired ∖ added` as deletes and `added ∖
    *    retired` as inserts (multisets): an UPDATE's pre/post pair is
    *    one delete + one insert, a row it left as it was gives none.
    * Cost: log metadata + scans of only the touched and added files;
    * one delta-sized diff aggregate per commit whose log entries show
    * both sides non-empty (a delete-only or insert-only commit pays no
    * shuffle); the v−1 file state is replayed ONCE, at the first
    * commit that removes a file, and advanced incrementally across the
    * span. Like [[changesSince]], refuses when a needed file or vector
    * was vacuumed. */
  def changeFeed(spark: SparkSession, dir: String, sinceVersion: Long,
      untilVersion: Option[Long] = None): DataFrame = {
    val (until, commits) = commitSpan(spark, dir, sinceVersion,
      untilVersion, "change feed")
    val untilSnap = snapshot(spark, dir, Some(until))
    val present = new Presence(spark, dir)
    // live rows of `entries` under the span-end schema: an entry's
    // vector subtracts, an entry without one reads as it sits on disk
    def rows(v: Long, entries: Seq[TxFile]): DataFrame =
      readSnapshotTagged(spark, dir, untilSnap.copy(version = v,
        files = entries))
    def stamp(df: DataFrame, tpe: String, v: Long): DataFrame =
      df.withColumn("_change_type", lit(tpe))
        .withColumn("_commit_version", lit(v))
    // v−1 file state, maintained INCREMENTALLY: seeded by ONE snapshot
    // at the first commit that removes a file, then advanced per
    // commit through the same applyCommit replay the snapshot reader
    // uses — a DML-heavy span costs one log replay, not one per commit
    var prevState: State = null
    def prevFiles(v: Long): Map[String, TxFile] = {
      if (prevState == null) {
        prevState = new State
        if (v > 0)
          snapshot(spark, dir, Some(v - 1)).files
            .foreach(fl => prevState.files(fl.path) = fl)
      }
      prevState.files.toMap
    }
    val legs = commits.flatMap { case (v, j) =>
      val adds = (j \ "add").extract[Seq[TxFile]]
      val removes = (j \ "remove").extract[Seq[String]]
      val op = (j \ "op").extract[String]
      val out: Seq[DataFrame] =
        if ((adds.isEmpty && removes.isEmpty) || op == "compact") Nil
        else {
          require(v == 0 || (op != "overwrite" && op != "clone"),
            s"TxLog: commit $v is '$op' — its retraction is the whole " +
              "prior table, not a delta; re-read the full snapshot")
          val prev = if (removes.isEmpty) Map.empty[String, TxFile]
            else prevFiles(v)
          val (reAdded, fresh) = adds.partition(a => prev.contains(a.path))
          val kept = reAdded.map(_.path).toSet
          val whole = removes.filterNot(kept)
            .map(p => prev.getOrElse(p, TxFile(p, 0L)))
          def dvAt(p: String) = prev.get(p).flatMap(_.dv)
          val revectored =
            reAdded.filter(a => a.dv.isDefined && a.dv != dvAt(a.path))
          val oldDvs = revectored.flatMap(a => dvAt(a.path))
          present.check((whole ++ revectored ++ fresh).map(_.path),
            (whole ++ revectored ++ fresh).flatMap(_.dv) ++ oldDvs,
            s"commit $v's entries", "; change feed from this version " +
              "is no longer possible; re-read the full snapshot")
          // a re-added file's retired rows are the positions its new
          // vector covers beyond its v−1 vector: a pair-identity diff
          // of two deleted-rows-sized relations, semi-joined onto the
          // file's raw rows
          val fromVectors = Option.when(revectored.nonEmpty) {
            val keys = revectored.map(fileKey(untilSnap, _))
            def pairs(ps: Seq[String]): DataFrame = spark.read
              .parquet(ps.distinct.map(resolveData(dir, _)): _*)
              .filter(col("file").isInCollection(keys))
            val newer = pairs(revectored.flatMap(_.dv))
            val gone =
              if (oldDvs.isEmpty) newer else newer.except(pairs(oldDvs))
            val raw = rows(v, revectored.map(_.copy(dv = None)))
            raw.join(broadcast(gone), raw(TagFile) === gone("file") &&
              raw(TagIdx) === gone("row_index"), "left_semi")
          }
          val retired =
            (Option.when(whole.nonEmpty)(rows(v - 1, whole)) ++ fromVectors)
              .map(_.drop(TagFile, TagIdx)).reduceOption(_.unionByName(_))
          val added = Option.when(fresh.nonEmpty)(
            rows(v, fresh).drop(TagFile, TagIdx))
          (retired, added) match {
            case (Some(pre), Some(post)) =>
              // both diff directions in ONE pass: tagging pre +1 /
              // post −1 and aggregating once yields exceptAll's two
              // multisets — positive excess are pre-only copies
              // (deletes), negative excess post-only copies (inserts) —
              // at one scan of each side and one aggregate shuffle;
              // grouping semantics (null-safe equality, NaN/-0.0
              // normalization) match exceptAll's, which lowers to the
              // same Aggregate
              val cols = pre.columns.toSeq
              val diff = pre.withColumn("_graft_w", lit(1L))
                .unionByName(post.withColumn("_graft_w", lit(-1L)))
                .groupBy(cols.map(col): _*)
                .agg(sum(col("_graft_w")).as("_graft_d"))
                .filter(col("_graft_d") =!= 0L)
              Seq(diff
                .select(cols.map(col) :+
                  when(col("_graft_d") > 0, lit("delete"))
                    .otherwise(lit("insert")).as("_change_type") :+
                  abs(col("_graft_d")).cast("int").as("_graft_copies"): _*)
                .withColumn("_graft_rep",
                  explode(array_repeat(lit(true), col("_graft_copies"))))
                .drop("_graft_copies", "_graft_rep")
                .withColumn("_commit_version", lit(v)))
            case (pre, post) =>
              pre.map(stamp(_, "delete", v)).toSeq ++
                post.map(stamp(_, "insert", v))
          }
        }
      if (prevState != null) applyCommit(prevState, j)
      out
    }
    legs.reduceOption(_.unionByName(_)).getOrElse {
      val schema =
        DataType.fromJson(untilSnap.schemaJson).asInstanceOf[StructType]
      val empty = spark.createDataFrame(
        java.util.Collections.emptyList[Row](), schema)
      stamp(empty, "insert", until).limit(0)
    }
  }

  /** Restore the table to the state of `version` as a NEW commit
    * (Delta's RESTORE): re-register that snapshot's files as the
    * current state — no data is copied, history is preserved (the
    * restore is itself an overwrite commit; the undone versions stay
    * addressable). Fails loudly if any of the target version's files
    * were already vacuumed — like Delta, restore cannot reach past
    * [[vacuum]]'s retention. */
  def restore(spark: SparkSession, dir: String, version: Long): Long = {
    val snap = snapshot(spark, dir, Some(version))
    new Presence(spark, dir).check(snap.files.map(_.path),
      snap.files.flatMap(_.dv), s"cannot restore to $version")
    // metadata replay is full-state last-write-wins, so the restore
    // commit must CARRY the target snapshot's identity / generated /
    // defaults / constraints explicitly (possibly-empty maps RESET) —
    // otherwise restoring past an addColumn+setGenerated would leave
    // a generation expression for a column absent from the restored
    // schema, and every later append would compute the phantom column
    // and fail the schema check. One exception stays monotonic: an
    // identity column present in BOTH states keeps the HIGHER
    // watermark (ids issued after the target version must never be
    // re-minted — restore removes their rows, not their issuance).
    val head = snapshot(spark, dir)
    val identityBack = snap.identity.map { case (c, s) =>
      val headHigh = head.identity.get(c).flatMap(_.high)
      c -> s.copy(high = (s.high.toSeq ++ headHigh.toSeq)
        .reduceOption((a: Long, b: Long) => math.max(a, b)))
    }
    commitStaged(spark, dir, "overwrite", snap.files, Nil,
      removeAll = true, snap.schemaJson, None, staged = Nil,
      meta = _ => Meta(mapping = Some(snap.mapping),
        retired = Some(snap.retired), identity = Some(identityBack),
        generated = Some(snap.generated), defaults = Some(snap.defaults),
        constraints = Some(snap.constraints)),
      // a concurrent append advancing a watermark between the head
      // read above and the claim must conflict (the carried high
      // would silently regress below the racer's issued ids)
      expectIdentity = head.identity.map { case (c, s) => c -> s.high })
  }

  /** [[restore]] by TIMESTAMP (Delta's `RESTORE … TIMESTAMP AS OF`):
    * the table as it stood at `ts`, re-registered as a new commit —
    * the timestamp dual [[cloneAt]]/[[readAt]] already have. */
  def restoreAt(spark: SparkSession, dir: String, ts: Long): Long =
    restore(spark, dir, versionAt(spark, dir, ts))

  /** The commit history as a relation: one row per version with the
    * op, file/row deltas, and any txn marker — answered purely from
    * log metadata (no data scan). */
  def history(spark: SparkSession, dir: String): DataFrame = {
    val (commits, _) = listLog(spark, dir)
    require(commits.nonEmpty, s"TxLog: no transaction log under $dir/$LogDir")
    val f = fs(spark, logPath(dir))
    val tsOf = commitTimestamps(spark, dir).toMap
    val rows = commits.map { v =>
      val j = JsonMethods.parse(readText(f, versionFile(dir, v)))
      val added = (j \ "add").extract[Seq[TxFile]]
      Row(v, tsOf(v), (j \ "op").extract[String],
        added.size, (j \ "remove").extract[Seq[String]].size,
        added.map(_.rows).sum,
        (j \ "txn" \ "appId").extractOpt[String].orNull,
        (j \ "txn" \ "batchId").extractOpt[Long]
          .map(Long.box).orNull)
    }
    val schema = StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("timestamp", LongType, nullable = false),
      StructField("op", StringType, nullable = false),
      StructField("n_added", org.apache.spark.sql.types.IntegerType,
        nullable = false),
      StructField("n_removed", org.apache.spark.sql.types.IntegerType,
        nullable = false),
      StructField("rows_added", LongType, nullable = false),
      StructField("app_id", StringType, nullable = true),
      StructField("batch_id", LongType, nullable = true)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** Delete data files referenced by NO version in
    * [head − retainVersions, head] and older than `minAgeMs` (the age
    * guard keeps just-staged files of in-flight commits safe; size it
    * above the longest expected commit latency in production). Time
    * travel older than the retained span dies with the files. Returns
    * the number of files deleted. */
  def vacuum(spark: SparkSession, dir: String, retainVersions: Int = 0,
      minAgeMs: Long = 0L): Int =
    vacuumList(spark, dir, retainVersions, minAgeMs,
      dryRun = false).size

  /** [[vacuum]], returning the dir-relative paths it actually
    * deleted — ONE reachability walk, so SQL `VACUUM` never races a
    * separate dry-run pre-pass against concurrent commits. */
  def vacuumAndList(spark: SparkSession, dir: String,
      retainVersions: Int = 0, minAgeMs: Long = 0L): Seq[String] =
    vacuumList(spark, dir, retainVersions, minAgeMs, dryRun = false)

  /** `vacuum` DRY RUN (Delta's `VACUUM … DRY RUN`): the dir-relative
    * paths the same retention/age policy WOULD delete, touching
    * nothing — audit the blast radius (and whether a needed
    * time-travel version would die) before committing to it. */
  def vacuumDryRun(spark: SparkSession, dir: String,
      retainVersions: Int = 0, minAgeMs: Long = 0L): Seq[String] =
    vacuumList(spark, dir, retainVersions, minAgeMs, dryRun = true)

  private def vacuumList(spark: SparkSession, dir: String,
      retainVersions: Int, minAgeMs: Long, dryRun: Boolean)
      : Seq[String] = {
    val (commits, _) = listLog(spark, dir)
    require(commits.nonEmpty, s"TxLog: no transaction log under $dir/$LogDir")
    val head = commits.max
    val keep = commits.filter(_ >= head - retainVersions)
    val keptSnaps = keep.map(v => snapshot(spark, dir, Some(v)))
    val live = keptSnaps.flatMap(_.files.map(_.path)).toSet
    val liveDv = keptSnaps.flatMap(_.files.flatMap(_.dv)).toSet
    val root = new Path(dir)
    val f = fs(spark, root)
    val now = System.currentTimeMillis()
    val stale = f.listStatus(root).filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".") &&
        !live.contains(n) && (now - st.getModificationTime) >= minAgeMs
    }
    if (!dryRun) stale.foreach(st => f.delete(st.getPath, false))
    // registered hive layouts (key=value subdirs): their entries are
    // RELATIVE paths — a CoW rewrite of a nested file retires it from
    // the log, and reaping must walk the partition dirs to find it
    // (live matching by relative path, same retention/age policy)
    val rootAbs = f.makeQualified(root).toString
    val nestedDirs = f.listStatus(root).filter { st =>
      val n = st.getPath.getName
      st.isDirectory && !n.startsWith("_") && !n.startsWith(".") &&
        n.contains('=')
    }
    val staleNested = nestedDirs.flatMap { d0 =>
      val it = f.listFiles(d0.getPath, true)
      val out = scala.collection.mutable.ArrayBuffer
        .empty[org.apache.hadoop.fs.FileStatus]
      while (it.hasNext) {
        val st = it.next()
        val rel = f.makeQualified(st.getPath).toString
          .drop(rootAbs.length + 1)
        val hidden = rel.split('/').exists(sg =>
          sg.startsWith("_") || sg.startsWith("."))
        if (st.isFile && !hidden && !live.contains(rel) &&
          (now - st.getModificationTime) >= minAgeMs) out += st
      }
      out
    }
    if (!dryRun) staleNested.foreach(st => f.delete(st.getPath, false))
    // superseded deletion vectors: a vector relation referenced by no
    // retained version (each DML writes a fresh merged one, compaction
    // drops the pointers) — same retention and age guard as data files
    val dvRoot = new Path(dir, DvDir)
    val staleDv =
      if (!f.exists(dvRoot)) Array.empty[org.apache.hadoop.fs.FileStatus]
      else f.listStatus(dvRoot).filter { st =>
        !liveDv.contains(s"$DvDir/${st.getPath.getName}") &&
          (now - st.getModificationTime) >= minAgeMs
      }
    if (!dryRun) staleDv.foreach(st => f.delete(st.getPath, true))
    // orphaned claim temps: a writer that crashed between staging its
    // commit/checkpoint content to a dot-tmp sibling and linking it
    // into place leaves the temp behind (the normal path deletes it).
    // Invisible to listLog (name filter) but debt on disk — collect
    // them under an age guard with a FLOOR independent of the
    // caller's minAgeMs: a default vacuum(dir) runs with minAgeMs=0,
    // and deleting a temp a concurrent writer staged milliseconds ago
    // would fail that writer's createLink/move spuriously. Ten
    // minutes is far beyond any write-to-link window
    val tmpAge = math.max(minAgeMs, TmpAgeFloorMs)
    val lp = logPath(dir)
    val lf = fs(spark, lp)
    val staleTmp =
      if (!lf.exists(lp)) Array.empty[org.apache.hadoop.fs.FileStatus]
      else lf.listStatus(lp).filter { st =>
        val n = st.getPath.getName
        st.isFile && n.startsWith(".") && n.endsWith(".tmp") &&
          (now - st.getModificationTime) >= tmpAge
      }
    if (!dryRun) staleTmp.foreach(st => lf.delete(st.getPath, false))
    (stale.map(_.getPath.getName) ++
      staleNested.map(st => f.makeQualified(st.getPath).toString
        .drop(rootAbs.length + 1)) ++
      staleDv.map(st => s"$DvDir/${st.getPath.getName}") ++
      staleTmp.map(st => s"$LogDir/${st.getPath.getName}")).toSeq.sorted
  }

  /** Drop commit files strictly below the latest checkpoint ≤ head −
    * retainVersions (snapshot resolution never needs them again).
    * Returns the number of log files removed. */
  def truncateLog(spark: SparkSession, dir: String,
      retainVersions: Int = 0): Int = {
    val (commits, cps) = listLog(spark, dir)
    require(commits.nonEmpty, s"TxLog: no transaction log under $dir/$LogDir")
    val head = commits.max
    val cut = cps.filter(_ <= head - retainVersions).lastOption
      .getOrElse(return 0)
    val f = fs(spark, logPath(dir))
    val drop = commits.filter(_ < cut)
    drop.foreach(v => f.delete(versionFile(dir, v), false))
    drop.size
  }

  /** Exactly-once streaming UPSERT sink (the CDC-apply shape): each
    * micro-batch MERGEs into the logged table under txn marker
    * (appId, batchId) — replayed batches short-circuit, so a stream
    * of keyed changes lands exactly once even though foreachBatch is
    * at-least-once. When `orderCol` is given, a batch holding several
    * rows per key keeps the one with the greatest (orderCol, then
    * key-hash) — the per-batch last-writer-wins a CDC feed needs;
    * without it the source must be unique per key per batch (merge's
    * ambiguity refusal applies). */
  def exactlyOnceUpsertSink(stream: DataFrame, dir: String,
      keyCols: Seq[String], appId: String, checkpointDir: String,
      statsCols: Seq[String] = Nil,
      orderCol: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream.outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val src = orderCol match {
          case None => batch
          case Some(oc) =>
            val w = org.apache.spark.sql.expressions.Window
              .partitionBy(keyCols.map(col): _*)
              .orderBy(col(oc).desc,
                xxhash64(keyCols.map(col): _*).desc)
            batch.withColumn("_graft_rn", row_number().over(w))
              .filter(col("_graft_rn") === 1).drop("_graft_rn")
        }
        merge(batch.sparkSession, dir, src, keyCols, statsCols,
          txn = Some((appId, batchId)))
        ()
      }.start()

  /** Exactly-once streaming append sink: each micro-batch commits with
    * txn marker (appId, batchId), so a batch replayed after a failure
    * (foreachBatch is at-least-once) is skipped by the log instead of
    * duplicating rows. */
  def exactlyOnceSink(stream: DataFrame, dir: String, appId: String,
      checkpointDir: String, statsCols: Seq[String] = Nil)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream.outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        commitAppend(batch.sparkSession, dir, batch, Some((appId, batchId)),
          statsCols)
        ()
      }.start()
}
