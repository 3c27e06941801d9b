package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sources.{TxLog, TxLogBatch}

/** Scale spot-check for the round-19 read/maintenance paths (not part
  * of the driver contract): a partitioned logged table at millions of
  * rows accumulates ingest debt (many partition-pure append batches),
  * then:
  *
  *  1. PURIFY compaction — must keep the partitioned planner
  *     presentation, bound files per value, and cost the same order
  *     as the flat rewrite (both are one shuffle of the live data);
  *  2. a partition-filtered read after purify — must file-prune to
  *     exactly the partition through the TxFileIndex;
  *  3. a merge-on-read DELETE leaving standing vectors — the
  *     DV-bearing table must STILL plan a static BroadcastHashJoin
  *     against a big fact (AQE off), via the TxFileIndex's exact
  *     dv-adjusted statistics;
  *  4. `maintain` under the dv-ratio trigger — must fold the vectors
  *     AND keep the partitioned presentation (purify mode).
  *
  * Usage: runMain graft.StressPurify [rows] [values] [batches] [target]
  */
object StressPurify {

  private def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val rows = args.lift(0).map(_.toLong).getOrElse(6000000L)
    val values = args.lift(1).map(_.toInt).getOrElse(24)
    val batches = args.lift(2).map(_.toInt).getOrElse(5)
    val target = args.lift(3).map(_.toInt).getOrElse(48)
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val s = spark
    val root = Files.createTempDirectory("graft_stress_purify")
    val dir = s"$root/t"
    def slice(lo: Long, hi: Long) =
      s.range(lo, hi).select(col("id").as("k"),
        (col("id") * 7 % 1000).as("v"),
        concat(lit("p"), col("id") % values).as("part"))

    // seed (hive-layout registration) + debt: `batches` partition-pure
    // appends pile ~values files per batch on top
    val per = rows / (batches + 1)
    slice(0L, per).repartition(col("part"))
      .write.partitionBy("part").parquet(dir)
    TxLog.convertInPlace(s, dir, statsCols = Seq("k"))
    (1 to batches).foreach { b =>
      TxLog.commitAppend(s, dir, slice(b * per, (b + 1) * per))
    }
    val before = TxLog.snapshot(s, dir)
    println(s"PURIFYSTRESS seeded: rows=${before.files.map(_.rows).sum} " +
      s"files=${before.files.size} values=$values")

    // 1. purify vs flat cost + presentation
    val (_, purifySec) = time(TxLog.compact(s, dir, target,
      statsCols = Seq("k"), purify = true))
    val afterP = TxLog.snapshot(s, dir)
    val nested = afterP.files.forall(_.path.contains("part="))
    val maxPerValue = afterP.files.groupBy(_.path.split('/').head)
      .values.map(_.size).max
    // 2. partition-filtered read prunes through the index
    val q = s.read.format("txlog").load(dir)
      .filter(col("part") === "p3")
    val cnt = q.count()
    val planned = TxLogBatch.lastScan.get()
    println(f"PURIFYSTRESS purify: sec=$purifySec%.1f " +
      s"files=${before.files.size}->${afterP.files.size} nested=$nested " +
      s"maxFilesPerValue=$maxPerValue prunedScan=${planned.size}/" +
      s"${afterP.files.size} partRows=$cnt " +
      s"pruneExact=${planned.forall(_.contains("part=p3"))}")
    val (_, flatSec) = time(TxLog.compact(s, dir, target,
      statsCols = Seq("k")))
    println(f"PURIFYSTRESS flat-for-reference: sec=$flatSec%.1f " +
      s"(then re-registering partitioned for the DV leg)")
    // restore the partitioned presentation for the DV scenario
    TxLog.compact(s, dir, target, statsCols = Seq("k"), purify = true)

    // 3. DV-bearing table still broadcasts statically at scale
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val dimDir = s"$root/dim"
    TxLog.commitOverwrite(s, dimDir,
      s.range(200000).select(col("id").as("k"),
        concat(lit("n"), col("id")).as("name")),
      statsCols = Seq("k"))
    val (_, dvSec) = time(TxLog.deleteMor(s, dimDir, col("k") % 5 === 0L))
    val fact = s.range(rows).select(col("id").as("k"),
      (col("id") * 3).as("m"))
    val j = s.read.format("txlog").load(dimDir).join(fact, "k").agg(sum("m"))
    val plan = j.queryExecution.executedPlan.toString
    val bhj = plan.contains("BroadcastHashJoin") &&
      !plan.contains("SortMergeJoin")
    val (jr, joinSec) = time(j.collect().head.getLong(0))
    println(f"PURIFYSTRESS dv-join: deleteMorSec=$dvSec%.1f " +
      f"staticBHJ=$bhj joinSec=$joinSec%.1f result=$jr")
    spark.conf.set("spark.sql.adaptive.enabled", "true")

    // 4. maintain folds a dv-heavy PARTITIONED table, stays partitioned
    TxLog.deleteMor(s, dir, col("k") % 4 === 0L)
    val (m, maintSec) = time(TxLog.maintain(s, dir, maxFiles = 10000,
      maxDvFraction = 0.10, targetFiles = target, statsCols = Seq("k")))
    val afterM = TxLog.snapshot(s, dir)
    println(f"PURIFYSTRESS maintain: sec=$maintSec%.1f " +
      s"compacted=${m.compacted} dvLeft=${afterM.files.count(_.dv.isDefined)} " +
      s"nested=${afterM.files.forall(_.path.contains("part="))} " +
      s"rows=${afterM.files.map(f => f.rows - f.dvRows).sum}")
    spark.stop()
  }
}
