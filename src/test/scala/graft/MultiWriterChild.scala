package graft

import org.apache.spark.sql.SparkSession

import graft.sources.TxLog

/** A second writer PROCESS for the cross-process commit race in
  * Round18Spec: every in-JVM multi-writer test interleaves writers
  * inside one JVM (the deterministic `testBeforeClaim` hook), so the
  * claim loop's cross-process behaviour — two independent drivers
  * racing create-if-absent on the same version file (TxLog.tryWrite's
  * dot-tmp + atomic-rename primitive) — needs a real child JVM, its
  * own SparkSession over the SAME log directory, committing `n`
  * append batches tagged (writer, seq).
  *
  * [[check]] then proves from the log alone:
  *  - NO LOST COMMIT: the head version is exactly `writers × commits`
  *    (v0 is the parent's create);
  *  - NO LOST SLICE: every (writer, seq) pair appears EXACTLY
  *    [[RowsPerCommit]] times — a clobbered commit would lose a slice,
  *    a double-applied rebase would double one;
  *  - LOG COHERENCE: every live file is on disk.
  *
  * Child entry point: `graft.MultiWriterChild <dir> <id> <n>`. */
object MultiWriterChild {

  val RowsPerCommit = 500

  /** One independent writer process: `n` tagged append commits. The
    * claim-loop contention handling (rebase + retry) is inside
    * commitAppend — a child only fails when the loop gives up. */
  def main(args: Array[String]): Unit = {
    val Array(dir, id, n) = args
    val spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", 2)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    (0 until n.toInt).foreach { seq =>
      val batch = (0 until RowsPerCommit)
        .map(r => (id.toInt, seq, r.toLong)).toDF("writer", "seq", "r")
      TxLog.commitAppend(spark, dir, batch)
    }
    spark.stop()
  }

  /** The --add-opens set a bare JVM needs to host Spark 4 on JDK 17
    * (mirrors build.sbt / spark-launcher's JavaModuleOptions). */
  def jdk17Opens: Seq[String] = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  /** Fork a child writer JVM against `dir`. Inherits this process's
    * classpath; output is streamed to our stdout. */
  def forkChild(dir: String, id: Int, commits: Int): Process = {
    val javaBin = new java.io.File(
      new java.io.File(System.getProperty("java.home"), "bin"),
      "java").getAbsolutePath
    val cmd: Seq[String] =
      Seq(javaBin) ++ jdk17Opens ++ Seq(
        "-Xmx2g", "-Dspark.ui.enabled=false",
        "-cp", System.getProperty("java.class.path"),
        "graft.MultiWriterChild", dir, id.toString, commits.toString)
    new ProcessBuilder(cmd: _*).inheritIO().start()
  }

  /** Invariant check over the finished log; returns error strings
    * (empty = clean). */
  def check(spark: SparkSession, dir: String, writers: Int,
      commits: Int): Seq[String] = {
    val errs = scala.collection.mutable.ArrayBuffer.empty[String]
    val snap = TxLog.snapshot(spark, dir)
    val expectedHead = writers.toLong * commits // v0 = create
    if (snap.version != expectedHead)
      errs += s"head ${snap.version} != $expectedHead (lost/extra commit)"
    val counts = TxLog.read(spark, dir)
      .groupBy("writer", "seq").count().collect()
    if (counts.length != writers * commits)
      errs += s"${counts.length} distinct (writer,seq) slices, " +
        s"expected ${writers * commits}"
    counts.filter(_.getLong(2) != RowsPerCommit.toLong).take(3)
      .foreach(r => errs += s"slice (${r.get(0)},${r.get(1)}) has " +
        s"${r.getLong(2)} rows, expected $RowsPerCommit")
    // every live file is on disk (a clobbered claim would register
    // files its loser deleted in abort cleanup)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gone = snap.files.filterNot(f => fs.exists(
      new org.apache.hadoop.fs.Path(dir, f.path)))
    if (gone.nonEmpty)
      errs += s"${gone.size} live files missing on disk " +
        s"(first: ${gone.take(2).map(_.path).mkString(", ")})"
    errs.toSeq
  }
}
