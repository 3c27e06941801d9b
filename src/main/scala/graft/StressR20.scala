package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sources.{TxLog, TxLogBatch}

/** Round-20 scale spot-check (the sf1-style checkpoint the round-19
  * verdict asked for — not part of the driver contract): the three
  * round-20 paths at ~10× the Round20Spec scales, so the next reader
  * can grade their scaling like the dedup family's.
  *
  *  1. DV READS at scale — a partitioned table takes a MoR DELETE
  *     (vectors under the filter bound), then a filtered aggregate
  *     runs on the dv-filtered index read (one vectorized FileScan),
  *     checked against the generator's own count.
  *  2. BYTE-SIZED PURIFY — a table with ~20×-skewed row widths
  *     purify-compacts; report the per-file byte spread around the
  *     implied target on both the wide and narrow partitions.
  *  3. AUTO-SALT INGEST — a 90/10-skewed append with nothing
  *     configured; report wall, files for hot/cold, and the same
  *     batch with autoSalt off for the single-writer reference.
  *
  * Usage: runMain graft.StressR20 [rows]
  */
object StressR20 {

  private def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val rows = args.lift(0).map(_.toLong).getOrElse(60000000L)
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val s = spark
    val root = Files.createTempDirectory("graft_stress_r20")

    // ---- 1. DV reads on the index ------------------------------------
    val dvDir = s"$root/dv"
    val values = 24
    s.range(rows).select(col("id").as("k"),
        (col("id") * 7 % 1000).as("v"),
        concat(lit("p"), col("id") % values).as("part"))
      .repartition(col("part"))
      .write.partitionBy("part").parquet(dvDir)
    TxLog.convertInPlace(s, dvDir, statsCols = Seq("k"))
    // MoR delete confined to one partition, pairs under the 4M bound
    val (_, delSec) = time(TxLog.deleteMor(s, dvDir,
      col("part") === "p3" && col("k") % 31 === 0L))
    val snap = TxLog.snapshot(s, dvDir)
    val dvRows = snap.files.map(_.dvRows).sum
    def agg(): Long = s.read.format("txlog").load(dvDir)
      .filter(col("v") < 500).agg(count(lit(1))).collect().head.getLong(0)
    def timedBest(n: Int)(f: => Long): (Long, Double) = {
      var best = Double.MaxValue; var r = 0L
      (1 to n).foreach { _ =>
        val (a, t) = time(f); r = a; best = math.min(best, t) }
      (r, best)
    }
    val (r1, idxSec) = timedBest(3)(agg())
    val plan1 = s.read.format("txlog").load(dvDir)
      .queryExecution.executedPlan.toString
    // the same count from the generator, deleted rows excluded
    val expected = s.range(rows).filter(col("id") * 7 % 1000 < 500 &&
      !(col("id") % values === 3L && col("id") % 31 === 0L)).count()
    require(r1 == expected, s"DV read broke: $r1 != $expected")
    println(f"R20STRESS dv-read: rows=$rows dvRows=$dvRows " +
      f"deleteMorSec=$delSec%.1f dvIndexSec=$idxSec%.2f " +
      s"oneScan=${!plan1.contains("Union")} " +
      s"result=$r1")

    // ---- 2. byte-sized purify on skewed row widths --------------------
    val pDir = s"$root/purify"
    val wideRows = rows / 40
    val narrowRows = rows / 4
    val wide = s.range(wideRows).select(col("id").as("k"),
      sha2(concat(lit("w"), col("id")), 256).as("pad"), lit("wide").as("part"))
    val narrow = s.range(narrowRows).select(col("id").as("k"),
      substring(sha2(concat(lit("n"), col("id")), 256), 1, 12).as("pad"),
      lit("narrow").as("part"))
    wide.unionByName(narrow).repartition(col("part"))
      .write.partitionBy("part").parquet(pDir)
    TxLog.convertInPlace(s, pDir, statsCols = Seq("k"))
    val target = 64
    val (_, purSec) = time(TxLog.compact(s, pDir, target,
      statsCols = Seq("k"), purify = true))
    val ps = TxLog.snapshot(s, pDir)
    val total = ps.files.flatMap(_.bytes).sum
    val tgt = total.toDouble / target
    def spread(p: String): String = {
      val bs = ps.files.filter(_.path.contains(s"part=$p"))
        .flatMap(_.bytes).map(_ / tgt)
      f"n=${bs.size} min=${bs.min}%.2f max=${bs.max}%.2f"
    }
    println(f"R20STRESS purify-bytes: sec=$purSec%.1f files=${ps.files.size} " +
      s"target=${(tgt / 1024 / 1024).round}MiB wide[${spread("wide")}] " +
      s"narrow[${spread("narrow")}] " +
      s"nested=${ps.files.forall(_.path.contains("part="))}")

    // ---- 3. auto-salt skewed ingest -----------------------------------
    val aDir = s"$root/salt"
    s.range(100).select(col("id").as("k"), lit("seed").as("part"))
      .write.partitionBy("part").parquet(aDir)
    TxLog.convertInPlace(s, aDir, statsCols = Seq("k"))
    def skewed = {
      val n = rows / 4
      s.range(n).select(col("id").as("k"),
        when(col("id") % 10 < 9, "hot").otherwise(
          concat(lit("cold"), col("id") % 8)).as("part"))
    }
    // fresh-file accounting by PATH SET diff — the snapshot's file
    // list is path-ordered, not append-ordered, so a positional drop
    // would miscount
    val before = TxLog.snapshot(s, aDir).files.map(_.path).toSet
    val (_, saltSec) = time(TxLog.commitAppend(s, aDir, skewed))
    val as = TxLog.snapshot(s, aDir)
    val hotFiles = as.files.filterNot(f => before(f.path))
      .count(_.path.contains("part=hot"))
    s.conf.set("spark.graft.write.autoSalt", "false")
    val (_, plainSec) = time(TxLog.commitAppend(s, aDir, skewed))
    s.conf.unset("spark.graft.write.autoSalt")
    val mid = as.files.map(_.path).toSet
    val as2 = TxLog.snapshot(s, aDir)
    val hotFiles2 = as2.files.filterNot(f => mid(f.path))
      .count(_.path.contains("part=hot"))
    println(f"R20STRESS auto-salt: rows=${rows / 4} " +
      f"autoSaltSec=$saltSec%.1f hotFiles=$hotFiles " +
      f"plainSec=$plainSec%.1f plainHotFiles=$hotFiles2 " +
      s"pure=${as2.files.forall(_.path.contains("part="))}")
    spark.stop()
  }
}
