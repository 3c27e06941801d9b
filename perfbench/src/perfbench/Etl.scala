package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.functions._

import graft.etl.{LoadType, MedallionPipeline}
import graft.quality.{DataZone, QualityValidator}
import graft.sources.{MaterializedAgg, Scd2, TxLog}

object Files {
  /** Data files under `dir` (recursively), skipping hidden and
    * underscore-prefixed entries: the log, checksums, markers. */
  def dataFiles(dir: String): Map[String, Long] = {
    def walk(f: File): Seq[(String, Long)] =
      if (f.getName.startsWith(".") || f.getName.startsWith("_")) Nil
      else if (f.isDirectory)
        Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f.getPath -> f.length())
    Option(new File(dir).listFiles()).toSeq.flatten.flatMap(walk).toMap
  }

  /** Every byte under `dir`, log and checksums included. */
  def allBytes(dir: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk).sum
      else f.length()
    walk(new File(dir))
  }
}

/** `lakehouse_etl`: one operation lands a change batch in bronze, runs
  * the quality-gated medallion job that promotes its clean rows to a
  * silver staging dataset (failing rows are quarantined), MERGEs them
  * into the silver table by key, erases a key set with a merge-on-read
  * delete, folds the result into the SCD2 history and the gold
  * aggregate, and runs `TxLog.maintain` on silver. Every batch does the
  * same work, so any two batches can be compared.
  *
  * The job's own MERGE load type is not used: it commits a whole-table
  * overwrite, and the change feed that SCD2 and the aggregate follow
  * refuses overwrite commits. */
final class EtlWorkload(ctx: Ctx) extends Workload(ctx) {
  import ctx.{spark, tracer}

  val SilverRows = 20000L
  val BatchRows = 600 // 3% of silver
  val Customers = 2000L
  val Rules = QualityValidator.ordersRules
  val Key = Seq("o_orderkey")

  def opName: String = "batch"

  private var root = ""
  private var pipeline: MedallionPipeline = _
  private var ks: Gen.KeySpace = _
  private var batchNo = 0
  private def inputs = s"$root/inputs"
  private def silver = pipeline.path(DataZone.Silver, "orders")
  private def scd = s"$root/scd2/orders"
  private def gold = s"$root/gold/orders_by_priority"
  private def tables = Seq(pipeline.path(DataZone.Bronze, "orders_batch"),
    pipeline.path(DataZone.Silver, "orders_batch"), silver, scd, gold)

  private val quarantined = ArrayBuffer[Long]()
  private val amplification = ArrayBuffer[Double]()
  private val batchMix = ArrayBuffer[Map[String, Int]]()
  private var current: Gen.Batch = _
  private var before: Map[String, Long] = Map.empty

  def prepare(dir: String): Unit = {
    root = dir
    pipeline = new MedallionPipeline(spark, s"$dir/lake", useTxLog = true,
      txStatsCols = Key)
    ks = new Gen.KeySpace(SilverRows)
    Gen.orders(spark, 1, SilverRows, Customers, ctx.seed)
      .write.parquet(s"$inputs/initial")
    pipeline.write(DataZone.Bronze, "orders",
      spark.read.parquet(s"$inputs/initial"), LoadType.Full)
    val r = pipeline.runJob("initial", "orders", DataZone.Bronze,
      DataZone.Silver, LoadType.Full, rules = Rules, key = Key)
    require(r.status == "completed", s"initial load: ${r.errorMessage}")
    Scd2.create(spark, silver, scd, Key)
    MaterializedAgg.create(spark, silver, gold, Seq("o_orderpriority"),
      sums = Seq("o_totalprice"))
  }

  def warmup(): Unit = {
    beforeOp(-1); runOp(-1); afterOp(-1)
    quarantined.clear(); amplification.clear()
  }

  private def batchDir(b: Int) = f"$inputs/batch_$b%04d"
  private def eraseDir(b: Int) = f"$inputs/erase_$b%04d"

  override def beforeOp(i: Int): Unit = {
    import spark.implicits._
    current = Gen.batch(ks, batchNo, BatchRows, ctx.seed, Customers)
    current.rows.toDS()
      .withColumn("o_totalprice", col("o_totalprice").cast("decimal(12,2)"))
      .coalesce(1).write.parquet(batchDir(batchNo))
    current.erase.toDF("o_orderkey").coalesce(1).write
      .parquet(eraseDir(batchNo))
    batchMix += Map("updates" -> current.updates,
      "inserts" -> current.inserts, "violations" -> current.violations,
      "erasures" -> current.erase.size)
    before = tables.flatMap(Files.dataFiles).toMap
  }

  def runOp(i: Int): Unit = {
    val b = batchNo
    tracer.span("etl.land") {
      pipeline.write(DataZone.Bronze, "orders_batch",
        spark.read.parquet(batchDir(b)), LoadType.Full)
    }
    val r = tracer.span("etl.run_job") {
      pipeline.runJob(f"batch_$b%04d", "orders_batch", DataZone.Bronze,
        DataZone.Silver, LoadType.Full, rules = Rules, key = Key)
    }
    require(r.status == "completed", s"batch $b: ${r.errorMessage}")
    quarantined += r.recordsQuarantined
    tracer.span("etl.merge") {
      pipeline.mergeInto(DataZone.Silver, "orders",
        pipeline.read(DataZone.Silver, "orders_batch"), Key)
    }
    tracer.span("sources.delete_mor") {
      TxLog.deleteMor(spark, silver,
        col("o_orderkey").isin(current.erase: _*))
    }
    tracer.span("sources.scd2_refresh")(Scd2.refresh(spark, scd))
    tracer.span("sources.mv_refresh")(MaterializedAgg.refresh(spark, gold))
    tracer.span("sources.maintain") {
      TxLog.maintain(spark, silver, statsCols = Key)
    }
  }

  override def afterOp(i: Int): Unit = {
    val added = tables.flatMap(Files.dataFiles)
      .filter { case (p, _) => !before.contains(p) }.map(_._2).sum
    val user = Files.dataFiles(batchDir(batchNo)).values.sum
    amplification += added.toDouble / user
    if (tracer.isAttached)
      tracer.op("sources.snapshot")(TxLog.snapshot(spark, silver))
    batchNo += 1
  }

  def finish(out: String): Seq[(String, Any)] = {
    // silver's live rows written once as plain parquet: the reference
    // state for the check and the denominator of space amplification
    TxLog.read(spark, silver).coalesce(1).write.parquet(s"$out/silver")
    val hist = TxLog.read(spark, scd)
    val scdRows = hist.count()
    val scdCurrent = hist.filter(col(Scd2.IsCurrent)).count()
    TxLog.read(spark, gold).coalesce(1).write.parquet(s"$out/gold")
    val snap = TxLog.snapshot(spark, silver)
    val logBytes = Files.allBytes(s"$silver/${TxLog.LogDir}")
    Seq(
      "inputs" -> Json.obj("silver_rows" -> SilverRows,
        "batch_rows" -> BatchRows, "batches" -> batchNo,
        "update_share" -> 0.65, "violation_share" -> 0.03,
        "erase_share" -> 0.06, "key_skew" -> "recent-biased, u^3",
        "input_bytes" -> Files.dataFiles(inputs).values.sum,
        "deleted_rows" -> snap.files.map(_.dvRows).sum,
        "dv_row_cap" -> 4000000L, "batch_mix" -> batchMix.toSeq),
      "layer" -> Json.obj(
        "rows_quarantined" -> quarantined.toSeq,
        "bytes_written_per_user_byte" -> amplification.toSeq,
        "files_live" -> snap.files.size, "log_bytes" -> logBytes,
        "silver_version" -> snap.version,
        "space_amp" -> Files.allBytes(silver).toDouble /
          Files.dataFiles(s"$out/silver").values.sum),
      "check" -> Json.obj("dir" -> root, "batches" -> batchNo,
        "scd2_rows" -> scdRows, "scd2_current" -> scdCurrent))
  }
}
