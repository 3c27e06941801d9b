package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.sources.TxLog

/** The one stage-and-commit step every DML verb ends in
  * (`TxLog.stageTouched`): whatever a verb staged is gone when its
  * claim does not land, a keyed apply with nothing to do commits no
  * data, and each commit names the path it took.
  */
class DmlStageSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString + "/t"

  /** 100 rows in two files (ids 1–50 and 51–100), `id` statted. */
  private def table(dir: String): Unit = {
    val s = spark
    import s.implicits._
    def rows(r: Seq[Long]) =
      r.map(i => (i, s"n$i")).toDF("id", "name").repartition(1)
    TxLog.commitOverwrite(spark, dir, rows(1L to 50L), statsCols = Seq("id"))
    TxLog.commitAppend(spark, dir, rows(51L to 100L))
    ()
  }

  private def rowSet(dir: String): Set[String] =
    TxLog.read(spark, dir).collect().map(_.toString).toSet

  /** Data files and vector relations under `dir` that no version of
    * its log references (the log dir itself and checksum side files
    * aside). */
  private def unreferenced(dir: String): Set[String] = {
    val head = TxLog.snapshot(spark, dir).version
    val refs = (0L to head).flatMap(v =>
      TxLog.snapshot(spark, dir, Some(v)).files
        .flatMap(f => f.path +: f.dv.toSeq)).toSet
    val root = Paths.get(dir)
    val walk = Files.walk(root)
    val onDisk =
      try walk.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        root.relativize(p).toString.split('/').toSeq
      }.filterNot(segs => segs.last.startsWith(".") ||
        segs.head == "_graft_log").map { segs =>
        if (segs.head == TxLog.DvDir) s"${segs(0)}/${segs(1)}"
        else segs.mkString("/")
      }.toSet
      finally walk.close()
    onDisk -- refs
  }

  private def racing[T](racer: => Unit)(body: => T): T = {
    TxLog.testBeforeClaim.set(Some(() => racer))
    try body finally TxLog.testBeforeClaim.set(None)
  }

  /** The ten DML verbs, each touching the file that holds id 3. */
  private def verbs: Seq[(String, String => Long)] = {
    val s = spark
    import s.implicits._
    val upsert = Seq((3L, "x", false)).toDF("id", "name", "del")
    Seq(
      "delete" -> (d => TxLog.delete(spark, d, col("id") === 3L)),
      "replaceWhere" -> (d => TxLog.replaceWhere(spark, d,
        Seq((3L, "x")).toDF("id", "name"), col("id") === 3L)),
      "update" -> (d => TxLog.update(spark, d, col("id") === 3L,
        Map("name" -> lit("x")))),
      "deleteMor" -> (d => TxLog.deleteMor(spark, d, col("id") === 3L)),
      "updateMor" -> (d => TxLog.updateMor(spark, d, col("id") === 3L,
        Map("name" -> lit("x")))),
      "merge" -> (d => TxLog.merge(spark, d,
        Seq((3L, "x")).toDF("id", "name"), Seq("id"))),
      "applyChanges" -> (d =>
        TxLog.applyChanges(spark, d, upsert, Seq("id"), "del")),
      "applyGroupChanges" -> (d =>
        TxLog.applyGroupChanges(spark, d, upsert, Seq("id"), "del")),
      "applyChangesMor" -> (d =>
        TxLog.applyChangesMor(spark, d, upsert, Seq("id"), "del")),
      "mergeInto" -> (d => TxLog.mergeInto(spark, d,
        Seq((3L, "x")).toDF("id", "name"), col("t.id") === col("s.id"),
        Seq(TxLog.MergeMatchedUpdate(Map("name" -> col("s.name")))))))
  }

  test("every DML verb that loses its claim leaves the rows and no staged file behind") {
    verbs.foreach { case (name, run) =>
      val dir = tmp("dmlrace")
      table(dir)
      TxLog.deleteMor(spark, dir, col("id") === 7L) // the table carries a vector
      val before = rowSet(dir)
      // the racer rewrites every file (rows unchanged): each touched
      // file is removed under the verb
      racing { TxLog.compact(spark, dir, 1); () } {
        withClue(name) {
          intercept[java.util.ConcurrentModificationException](run(dir))
        }
      }
      assert(rowSet(dir) == before, name)
      assert(unreferenced(dir).isEmpty, s"$name left ${unreferenced(dir)}")
    }
  }

  test("applyChangesMor whose txn lands first deletes its staged images and vector") {
    val s = spark
    import s.implicits._
    val dir = tmp("dmltxn")
    table(dir)
    val files = TxLog.snapshot(spark, dir).files
    // the (appId, batch) marker lands between the locate step and the
    // claim: the apply is a replay by the time it commits
    val v = racing { TxLog.commitTxnAdvance(spark, dir, ("app", 1L)); () } {
      TxLog.applyChangesMor(spark, dir,
        Seq((3L, "x", false), (500L, "y", false)).toDF("id", "name", "del"),
        Seq("id"), "del", txn = Some(("app", 1L)))
    }
    val head = TxLog.snapshot(spark, dir)
    assert(v == head.version && head.txns.get("app").contains(1L))
    assert(head.files == files)
    assert(unreferenced(dir).isEmpty, unreferenced(dir))
  }

  test("a keyed copy-on-write apply that changes nothing commits no data") {
    val s = spark
    import s.implicits._
    // deletes of absent keys only: nothing retired, nothing inserted
    val absent = Seq((500L, Option.empty[String], true), (501L, None, true))
      .toDF("id", "name", "del")
    def applyAll(group: Boolean, dir: String,
        txn: Option[(String, Long)]): Long =
      if (group)
        TxLog.applyGroupChanges(spark, dir, absent, Seq("id"), "del", txn = txn)
      else TxLog.applyChanges(spark, dir, absent, Seq("id"), "del", txn = txn)
    Seq(false, true).foreach { group =>
      val dir = tmp("dmlnoop")
      table(dir)
      val before = TxLog.snapshot(spark, dir)
      assert(applyAll(group, dir, None) == before.version)
      val after = TxLog.snapshot(spark, dir)
      assert(after.version == before.version && after.files == before.files,
        s"group=$group")
      // with a txn only the marker moves (metadata-only)
      assert(applyAll(group, dir, Some(("app", 1L))) == before.version + 1)
      val marked = TxLog.snapshot(spark, dir)
      assert(marked.files == before.files &&
        marked.txns.get("app").contains(1L), s"group=$group")
    }
  }

  test("each DML commit logs the path it took; the vector write is labelled stage-dv") {
    val dir = tmp("dmlpath")
    table(dir)
    val v = TxLog.snapshot(spark, dir).version
    val ((_, cowJobs), cowLines) = infoLines("graft.sources.TxLog")(
      jobDescriptions(TxLog.delete(spark, dir, col("id") === 3L)))
    assert(cowLines.contains(
      s"txlog $dir@v$v: delete rewrite files=1 matched=1"), cowLines)
    assert(!cowJobs.contains("txlog:stage-dv"), cowJobs)
    val ((_, morJobs), morLines) = infoLines("graft.sources.TxLog")(
      jobDescriptions(TxLog.deleteMor(spark, dir, col("id") <= 2L)))
    assert(morLines.contains(
      s"txlog $dir@v${v + 1}: delete-dv vectors files=1 matched=2"), morLines)
    assert(morJobs.contains("txlog:stage-dv"), morJobs)
  }
}
