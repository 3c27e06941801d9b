package graft.sources

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Predicate}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.functions.{col, collect_list, sort_array}
import org.apache.spark.sql.types.{BooleanType, DataType}
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.TxLog.{TxFile, TxSnapshot}

/** Deletion vectors as a SCAN FILTER — the `dv-filter` strategy of
  * [[TxLog.liveScans]], the one place a logged read subtracts its
  * vectors (reference merge-on-read semantics: data_quality has no
  * storage layer; the shape re-derives Delta's DV-in-scan against
  * public Spark APIs).
  *
  * The vector applies as a codegen'd row filter over the scan's own
  * parquet metadata — `NOT dv_deleted(_metadata.file_path,
  * _metadata.row_index)` — against a BROADCAST of per-file sorted
  * row-index arrays. One scan for the whole table: on the
  * [[TxFileIndex]] leaf that is one vectorized FileScan with static +
  * dynamic partition pruning on every file, the filter fused into its
  * whole-stage-codegen span; the explicit-path tagged read (DML
  * probes, change-feed pre-images) gets the same filter instead of a
  * per-query broadcast anti-join. The lookup is a pointer compare
  * (per-batch memo) + binary search per row.
  *
  * Scale bound: the broadcast is DELETED-ROW-count sized, never table
  * sized. `TxLog.DvBroadcastRows` (4M pairs ≈ 32 MB of longs) gates
  * it from COMMIT METADATA alone (`dvRows` sums — no vector is read
  * to decide); past it the scan anti-joins the vector relation
  * instead (`dv-antijoin`), and `TxLog.maintain`'s 10% dv-ratio
  * trigger purifies long before 4M rows on any real table. */
private[graft] final class DvArrays(
    m: java.util.HashMap[String, Array[Long]]) extends Serializable {
  /** Sorted deleted row indexes for a scanned file path, or null. */
  def arr(file: UTF8String): Array[Long] =
    if (file == null) null else m.get(file.toString)
  def files: Int = m.size
  def keys: Seq[String] = {
    val b = Seq.newBuilder[String]
    m.keySet.forEach(k => b += k)
    b.result()
  }
  def rows: Long = {
    var n = 0L
    m.values.forEach(a => n += a.length)
    n
  }
}

/** `true` iff (filePath, rowIndex) names a deleted row. Never null:
  * a null input (impossible for parquet `_metadata`, but the contract
  * shouldn't depend on that) is simply not deleted. Codegen memoizes
  * the per-file array across consecutive rows — scans deliver rows
  * file-contiguously, so the map lookup amortizes to once per file
  * per task, leaving a binary search over that file's deleted rows
  * as the per-row cost. */
private[graft] case class DvDeleted(filePath: Expression,
    rowIndex: Expression, dv: Broadcast[DvArrays])
    extends Expression with Predicate {

  override def children: Seq[Expression] = Seq(filePath, rowIndex)
  override def nullable: Boolean = false
  override def dataType: DataType = BooleanType

  override def eval(input: InternalRow): Any = {
    val f = filePath.eval(input)
    val i = rowIndex.eval(input)
    if (f == null || i == null) false
    else {
      val a = dv.value.arr(f.asInstanceOf[UTF8String])
      a != null && java.util.Arrays.binarySearch(
        a, i.asInstanceOf[Long]) >= 0
    }
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val arraysCls = classOf[DvArrays].getName
    // reference the BROADCAST (a small handle) — the generated class
    // resolves the value on the executor from the block manager;
    // referencing dv.value directly would serialize the whole map
    // into every task binary
    val bc = ctx.addReferenceObj("dvBroadcast", dv,
      "org.apache.spark.broadcast.Broadcast")
    val mapVar = ctx.addMutableState(arraysCls, "dvArrays",
      v => s"$v = ($arraysCls) $bc.value();")
    val lastFile = ctx.addMutableState(
      "org.apache.spark.unsafe.types.UTF8String", "dvLastFile")
    val lastArr = ctx.addMutableState("long[]", "dvLastArr")
    val f = filePath.genCode(ctx)
    val i = rowIndex.genCode(ctx)
    ev.copy(code =
      code"""
        ${f.code}
        ${i.code}
        boolean ${ev.value} = false;
        if (!${f.isNull} && !${i.isNull}) {
          if ($lastFile == null || !$lastFile.equals(${f.value})) {
            $lastFile = ${f.value}.clone();
            $lastArr = $mapVar.arr(${f.value});
          }
          ${ev.value} = $lastArr != null &&
            java.util.Arrays.binarySearch($lastArr, ${i.value}) >= 0;
        }
      """, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(filePath = newChildren(0), rowIndex = newChildren(1))
}

private[graft] object DvIndex {

  /** Loaded-vector cache: one broadcast per (table dir, exact
    * file→vector assignment). Vector files are immutable once
    * written, so entries never go stale; a restricted sub-snapshot
    * with the same assignments reuses its parent's broadcast. */
  private val cache = new java.util.concurrent.ConcurrentHashMap[
    String, Broadcast[DvArrays]]()

  private def cacheKey(dir: String, dvFiles: Seq[TxFile]): String = {
    val sig = dvFiles.map(f => s"${f.path}>${f.dv.get}")
      .sorted.mkString("|")
    val md = java.security.MessageDigest.getInstance("MD5")
    dir + "#" + md.digest(sig.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  /** The snapshot's deletion vectors as a broadcast of per-file
    * sorted row-index arrays, keyed by the QUALIFIED path string the
    * scan's `_metadata.file_path` carries. Pair semantics match the
    * `dv-antijoin` form exactly: a (file, row) pair from ANY vector
    * relation the dv-bearing files reference deletes that row of that
    * file — superseded vectors may hold stale pairs for files whose
    * entry moved on; those keys are simply never scanned. */
  def broadcastFor(spark: SparkSession, dir: String, snap: TxSnapshot,
      dvFiles: Seq[TxFile]): Broadcast[DvArrays] = {
    val key = cacheKey(dir, dvFiles)
    val hit = cache.get(key)
    if (hit != null) return hit
    if (cache.size > 64) cache.clear() // bounded; cleaner reclaims
    cache.computeIfAbsent(key, _ => load(spark, dir, snap, dvFiles))
  }

  /** The exact string `_metadata.file_path` reports for this file —
    * probed empirically (pinned by the Round20 escaped-partition
    * test): the URI's RAW (percent-encoded) path — a hive-escaped
    * dir like `lang=00%3A00` scans as `lang=00%253A00` — behind a
    * single-slash scheme when the authority is empty (the scan
    * normalizes the local filesystem's `file:///` to `file:/`;
    * neither `Path.toString`, which decodes, nor `toUri.toString`,
    * which keeps the empty authority, matches both halves). A real
    * authority (hdfs://host:port) is preserved. */
  private def scanPathString(q: org.apache.hadoop.fs.Path): String = {
    val u = q.toUri
    val auth = Option(u.getAuthority).filter(_.nonEmpty)
    u.getScheme + ":" + auth.map("//" + _).getOrElse("") + u.getRawPath
  }

  private def load(spark: SparkSession, dir: String, snap: TxSnapshot,
      dvFiles: Seq[TxFile]): Broadcast[DvArrays] = {
    val dvPaths = dvFiles.flatMap(_.dv).distinct
      .map(p => TxLog.resolveData(dir, p))
    // deleted-row-count sized, gated by DvBroadcastRows BEFORE this
    // read — group to per-file sorted arrays on the executors,
    // collect the compact form
    val grouped = spark.read.parquet(dvPaths: _*)
      .groupBy(col("file"))
      .agg(sort_array(collect_list(col("row_index"))).as("idxs"))
      .collect()
    val byKey = grouped.map(r =>
      r.getString(0) -> r.getSeq[Long](1).toArray).toMap
    val hconf = spark.sparkContext.hadoopConfiguration
    val m = new java.util.HashMap[String, Array[Long]]()
    dvFiles.foreach { f =>
      byKey.get(TxLog.fileKey(snap, f)).foreach { a =>
        val p = new org.apache.hadoop.fs.Path(
          TxLog.resolveData(dir, f.path))
        m.put(scanPathString(
          p.getFileSystem(hconf).makeQualified(p)), a)
      }
    }
    spark.sparkContext.broadcast(new DvArrays(m))
  }
}
