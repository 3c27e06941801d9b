package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** What every workload gets from the harness. */
final case class Ctx(spark: SparkSession, tracer: Tracer, seed: Long,
    work: String, cores: Int) {
  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")
}

/** One benchmark workload: a closed loop of operations run by one
  * client thread. */
abstract class Workload(val ctx: Ctx) {
  /** What one operation is, as recorded with each op ("batch"). */
  def opName: String
  /** Generate inputs and build tables under `dir` (a fresh directory). */
  def prepare(dir: String): Unit
  /** Operations run after prepare, counted as setup. */
  def warmup(): Unit
  /** The fewest operations an untraced run times, whatever `--seconds`
    * says, so a run slowed by a busy host still reports a median of
    * comparable operations. */
  def minOps: Int = 2
  /** Untimed per-operation work: input generation, bookkeeping. */
  def beforeOp(i: Int): Unit = ()
  /** The timed operation. Throwing counts it as failed. */
  def runOp(i: Int): Unit
  def afterOp(i: Int): Unit = ()
  /** Whether op `i` is traced in a traced run. The others measure the
    * untraced latency the tracing overhead is taken against: a traced
    * run makes at least four ops, untraced–traced–untraced–traced, and
    * the comparison leaves out the first, still warming, so the drift
    * of a warming JVM cancels out of it. */
  def tracedOp(i: Int): Boolean = i % 2 == 1
  /** Untimed, after the loop: export outputs for the reference checks
    * and record input properties and layer figures. */
  def finish(out: String): Seq[(String, Any)]
}

object Main {
  private def argMap(args: Array[String]): Map[String, String] =
    args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v
    }.toMap

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val a = argMap(args)
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a.getOrElse("trace", "0") == "1"
    val work = new File(a("work")).getAbsolutePath
    val cores = a("cores").toInt
    val resultPath = a("result")

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.catalog.spark_catalog",
        "graft.sources.GraftCatalog")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val runId = s"$workload-$seed-${if (trace) 1 else 0}-" +
      ProcessHandle.current().pid()
    val tracer = new Tracer(spark, runId)
    val ctx = Ctx(spark, tracer, seed, work, cores)
    val wl: Workload = workload match {
      case "lakehouse_etl" => new EtlWorkload(ctx)
      case "llm_curation" => new CurationWorkload(ctx)
      case other =>
        throw new IllegalArgumentException(s"unknown workload $other")
    }

    val tp = System.nanoTime()
    wl.prepare(s"$work/prep")
    val tw = System.nanoTime()
    wl.warmup()
    val prepS = (tw - tp) / 1e9
    val warmupS = (System.nanoTime() - tw) / 1e9

    final case class OpRecord(i: Int, cls: String, traced: Boolean,
        startS: Double, latencyS: Double, ok: Boolean, error: String)
    val ops = ArrayBuffer[OpRecord]()
    val loop0 = System.nanoTime()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    def elapsed = (System.nanoTime() - loop0) / 1e9
    val minOps = if (trace) math.max(4, wl.minOps) else wl.minOps
    var i = 0
    while (i < minOps || elapsed < seconds) {
      val traced = trace && wl.tracedOp(i)
      if (traced) tracer.attach() else tracer.detach()
      wl.beforeOp(i)
      val cls = wl.opName
      val start = elapsed
      val t0 = System.nanoTime()
      val err = try { tracer.op(s"op.$cls")(wl.runOp(i)); "" }
      catch {
        case NonFatal(e) =>
          val m = s"${e.getClass.getName}: ${e.getMessage}"
          ctx.log(s"op $i ($cls) failed: $m")
          m
      }
      val lat = (System.nanoTime() - t0) / 1e9
      if (traced) tracer.drain()
      wl.afterOp(i)
      ops += OpRecord(i, cls, traced, start, lat, err.isEmpty, err)
      i += 1
    }
    val loopS = elapsed
    tracer.detach()

    val out = s"$work/out"
    new File(out).mkdirs()
    val extra = wl.finish(out)
    val rt = Runtime.getRuntime
    val record = Json.obj(
      "run_id" -> runId, "workload" -> workload, "seed" -> seed,
      "seconds" -> seconds,
      "trace" -> trace, "loop_s" -> loopS,
      "env" -> Json.obj(
        "cores" -> cores, "master" -> spark.sparkContext.master,
        "shuffle_partitions" ->
          spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_heap_max_mb" -> rt.maxMemory / (1024 * 1024),
        "jvm_version" -> System.getProperty("java.vm.version"),
        "spark_version" -> spark.version),
      "setup" -> Json.obj("session_s" -> sessionS, "prep_s" -> prepS,
        "warmup_s" -> warmupS, "setup_s" -> setupS),
      "ops" -> ops.toSeq.map(o => Json.obj("i" -> o.i,
        "cls" -> o.cls, "traced" -> o.traced, "start_s" -> o.startS,
        "latency_s" -> o.latencyS, "ok" -> o.ok, "error" -> o.error)),
      "spans" -> tracer.toJson) ++ extra
    Files.write(Paths.get(resultPath), Json.render(record).getBytes(UTF_8))
    spark.stop()
  }
}
