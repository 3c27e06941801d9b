package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.etl.{LoadType, MedallionPipeline}
import graft.quality.{DataZone, Dimension, Rule}
import graft.sources.TxLog

/** The multi-writer ACID slice (SURVEY §6): TxLog's commit protocol —
  * snapshot isolation, optimistic rebase, remove-conflicts, idempotent
  * txn markers, time travel, checkpoints, vacuum — plus its opt-in
  * wiring through MedallionPipeline (exactly-once ingestStream).
  */
class TxLogSpec extends SparkSpec {

  private def tmp(prefix: String): Path =
    Files.createTempDirectory(prefix)

  private def df(ids: Long*): DataFrame = {
    val s = spark
    import s.implicits._
    ids.map(i => (i, s"name_$i")).toDF("id", "name")
  }

  private def idSet(d: DataFrame): Set[Long] =
    d.select("id").collect().map(_.getLong(0)).toSet

  test("overwrite/append roundtrip, history, and time travel") {
    val dir = tmp("txlog").toString
    val v0 = TxLog.commitOverwrite(spark, dir, df(1, 2))
    val v1 = TxLog.commitAppend(spark, dir, df(3))
    val v2 = TxLog.commitOverwrite(spark, dir, df(10))
    assert(Seq(v0, v1, v2) == Seq(0L, 1L, 2L))
    assert(idSet(TxLog.read(spark, dir)) == Set(10L))
    assert(idSet(TxLog.read(spark, dir, Some(0))) == Set(1L, 2L))
    assert(idSet(TxLog.read(spark, dir, Some(1))) == Set(1L, 2L, 3L))
    val h = TxLog.history(spark, dir).orderBy("version").collect()
    assert(h.map(_.getAs[String]("op")).toSeq ==
      Seq("overwrite", "append", "overwrite"))
    // row counts come from commit metadata, no data scan
    assert(h.map(_.getAs[Long]("rows_added")).toSeq == Seq(2L, 1L, 1L))
    // commit timestamps ride along, strictly increasing (monotonicity
    // adjustment) — the TIMESTAMP AS OF axis
    val ts = h.map(_.getAs[Long]("timestamp")).toSeq
    assert(ts == ts.sorted && ts.distinct == ts)
  }

  test("append schema mismatch is rejected; staged files are cleaned up") {
    val s = spark
    import s.implicits._
    val dir = tmp("txschema").toString
    TxLog.commitOverwrite(spark, dir, df(1))
    intercept[IllegalArgumentException] {
      TxLog.commitAppend(spark, dir,
        Seq((1L, 2.5)).toDF("id", "score"))
    }
    assert(idSet(TxLog.read(spark, dir)) == Set(1L))
    // the loser's staged files must not linger as orphans forever —
    // they were deleted eagerly, so vacuum finds nothing stale
    assert(TxLog.vacuum(spark, dir) == 0)
  }

  test("a lost commit slot rebases: foreign commit at the claimed version") {
    val dir = tmp("txrebase").toString
    TxLog.commitOverwrite(spark, dir, df(1, 2))
    // simulate a concurrent writer that claimed version 1 between our
    // head read and our create-if-absent: an empty append commit
    Files.write(
      java.nio.file.Paths.get(dir, TxLog.LogDir, f"${1L}%020d.json"),
      """{"version":1,"op":"append","add":[],"remove":[]}"""
        .getBytes(UTF_8))
    val v = TxLog.commitAppend(spark, dir, df(3))
    assert(v == 2L, "loser must rebase onto the foreign head and take the next slot")
    assert(idSet(TxLog.read(spark, dir)) == Set(1L, 2L, 3L))
  }

  test("concurrent appends from many threads all land, versions contiguous") {
    val dir = tmp("txconc").toString
    TxLog.commitOverwrite(spark, dir, df(0))
    val threads = (1 to 6).map { i =>
      new Thread(() => { TxLog.commitAppend(spark, dir, df(i * 100L)) })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    assert(idSet(TxLog.read(spark, dir)) ==
      (Set(0L) ++ (1 to 6).map(_ * 100L)))
    val versions = TxLog.history(spark, dir)
      .select("version").collect().map(_.getLong(0)).sorted
    assert(versions.sameElements(0L to 6L), "no gaps, no double-claims")
  }

  test("compact conflicts with a concurrent remove of the same files") {
    val dir = tmp("txconflict").toString
    TxLog.commitOverwrite(spark, dir, df(1, 2))
    TxLog.commitAppend(spark, dir, df(3))
    val snap = TxLog.snapshot(spark, dir)
    // a concurrent overwrite removes every file the compactor read
    TxLog.commitOverwrite(spark, dir, df(9))
    val (added, schemaJson) = TxLog.stageData(spark, dir, df(1, 2, 3))
    intercept[java.util.ConcurrentModificationException] {
      TxLog.commitStaged(spark, dir, "compact", added,
        snap.files.map(_.path), removeAll = false, schemaJson, None,
        staged = added.map(_.path))
    }
    // conflict must not corrupt the winner's state
    assert(idSet(TxLog.read(spark, dir)) == Set(9L))
  }

  test("compact rewrites files, keeps rows, commutes with nothing removed twice") {
    val dir = tmp("txcompact").toString
    TxLog.commitOverwrite(spark, dir, df(1))
    (2 to 5).foreach(i => TxLog.commitAppend(spark, dir, df(i.toLong)))
    assert(TxLog.snapshot(spark, dir).files.size >= 5)
    TxLog.compact(spark, dir, targetFiles = 1)
    assert(TxLog.snapshot(spark, dir).files.size == 1)
    assert(idSet(TxLog.read(spark, dir)) == Set(1L, 2L, 3L, 4L, 5L))
  }

  test("convertInPlace refuses MIXED layouts; pure hive layouts register (Round15Spec)") {
    val dir = tmp("txconvmixed").toString
    df(1, 2).write.mode("overwrite").parquet(dir)
    df(3).write.parquet(s"$dir/part=extra") // nested rows beside flat files
    val e = intercept[IllegalArgumentException] {
      TxLog.convertInPlace(spark, dir)
    }
    assert(e.getMessage.contains("inconsistent partition layout"),
      "mixed layout must refuse conversion, not half-register: " +
        e.getMessage)
    // non-hive nesting refuses too
    val dir2 = tmp("txconvnonhive").toString
    df(1).write.parquet(s"$dir2/sub/x")
    val e2 = intercept[IllegalArgumentException] {
      TxLog.convertInPlace(spark, dir2)
    }
    assert(e2.getMessage.contains("non-hive"))
  }

  test("changesSince refuses a span whose delta files were vacuumed") {
    val dir = tmp("txvacdelta").toString
    TxLog.commitOverwrite(spark, dir, df(1))        // v0
    TxLog.commitAppend(spark, dir, df(2))           // v1
    TxLog.compact(spark, dir, targetFiles = 1)      // v2 rewrites v1's file
    assert(TxLog.vacuum(spark, dir) > 0)            // reaps it from disk
    val e = intercept[IllegalArgumentException] {
      TxLog.changesSince(spark, dir, 0, Some(1)).count()
    }
    assert(e.getMessage.contains("no longer possible"),
      "vacuumed delta must refuse loudly, not fail at scan time: " +
        e.getMessage)
  }

  test("crash mid-commit: staged-but-uncommitted files are invisible and vacuumable") {
    val dir = tmp("txcrash").toString
    TxLog.commitOverwrite(spark, dir, df(1, 2))
    // writer stages data then dies before claiming a log slot
    val (orphans, _) = TxLog.stageData(spark, dir, df(99))
    assert(orphans.nonEmpty)
    assert(idSet(TxLog.read(spark, dir)) == Set(1L, 2L),
      "uncommitted files must not appear in any snapshot")
    val deleted = TxLog.vacuum(spark, dir)
    assert(deleted == orphans.size)
    assert(idSet(TxLog.read(spark, dir)) == Set(1L, 2L))
  }

  test("idempotent txn markers: a replayed batch commits nothing") {
    val dir = tmp("txidem").toString
    TxLog.commitOverwrite(spark, dir, df(1))
    val v1 = TxLog.commitAppend(spark, dir, df(2), Some(("app", 0L)))
    val v2 = TxLog.commitAppend(spark, dir, df(2), Some(("app", 0L)))
    assert(v1 == 1L && v2 == 1L, "replay must return the already-committed version")
    assert(TxLog.read(spark, dir).count() == 2)
    // an EARLIER batch replayed after a later one is also skipped
    val v3 = TxLog.commitAppend(spark, dir, df(3), Some(("app", 1L)))
    val v4 = TxLog.commitAppend(spark, dir, df(2), Some(("app", 0L)))
    assert(v3 == 2L && v4 == 2L)
    assert(TxLog.read(spark, dir).count() == 3)
  }

  test("checkpoint + truncateLog: snapshots resolve without the dropped commits") {
    val dir = tmp("txcp").toString
    TxLog.commitOverwrite(spark, dir, df(0))
    (1 to 11).foreach(i => TxLog.commitAppend(spark, dir, df(i.toLong)))
    // CheckpointInterval = 10 → checkpoint written at v10
    assert(Files.exists(java.nio.file.Paths.get(
      dir, TxLog.LogDir, f"${10L}%020d.checkpoint.json")))
    val dropped = TxLog.truncateLog(spark, dir)
    assert(dropped == 10, "commits 0..9 are below the checkpoint")
    // head resolves from checkpoint + post-checkpoint commits
    assert(idSet(TxLog.read(spark, dir)) == (0 to 11).map(_.toLong).toSet)
    assert(idSet(TxLog.read(spark, dir, Some(10))) ==
      (0 to 10).map(_.toLong).toSet)
    // a pre-checkpoint version is honestly unreachable now
    intercept[IllegalArgumentException] {
      TxLog.snapshot(spark, dir, Some(5))
    }
  }

  test("describeDetail: one metadata row of table facts") {
    val s = spark
    import s.implicits._
    val dir = tmp("txdetail").toString
    TxLog.commitOverwrite(spark, dir,
      (1L to 100L).map(i => (i, s"n$i")).toDF("id", "name")
        .repartition(4))
    TxLog.deleteMor(spark, dir, col("id") <= 10)
    TxLog.renameColumn(spark, dir, "name", "label")
    TxLog.addCheckConstraint(spark, dir, "id_pos", "id > 0")
    val d = TxLog.describeDetail(spark, dir).collect().head
    assert(d.getAs[Long]("version") == 3L)
    assert(d.getAs[Long]("num_files") == 4L)
    assert(d.getAs[Long]("num_rows") == 90L)
    assert(d.getAs[Long]("num_deleted_rows") == 10L)
    assert(d.getAs[Long]("num_dv_files") == 1L)
    assert(d.getAs[Long]("num_constraints") == 1L)
    assert(d.getAs[Boolean]("column_mapping"))
    assert(d.getAs[Long]("min_reader") == 3L)
    assert(d.getAs[Long]("live_bytes") > 0 &&
      d.getAs[Long]("bytes_in_dir") >= d.getAs[Long]("live_bytes"))
  }

  test("vacuumDryRun lists the blast radius without touching a file") {
    val s = spark
    import s.implicits._
    val dir = tmp("txdry").toString
    TxLog.commitOverwrite(spark, dir, df(1, 2, 3))
    TxLog.commitOverwrite(spark, dir, df(10))      // v0's files now dead
    TxLog.deleteMor(spark, dir, col("id") === 10)  // vector 1
    TxLog.deleteMor(spark, dir, col("id") === 999) // no-op (no match)
    TxLog.compact(spark, dir, targetFiles = 1)     // vector dropped
    val before = new java.io.File(dir).listFiles().map(_.getName).toSet
    val would = TxLog.vacuumDryRun(spark, dir)
    assert(would.nonEmpty)
    // nothing moved
    assert(new java.io.File(dir).listFiles().map(_.getName).toSet
      == before)
    assert(idSet(TxLog.read(spark, dir)).isEmpty ||
      TxLog.read(spark, dir).count() >= 0) // table still reads
    // the real vacuum deletes EXACTLY the dry run's list
    val deleted = TxLog.vacuum(spark, dir)
    assert(deleted == would.size)
    val after = new java.io.File(dir).listFiles().map(_.getName).toSet
    // (LocalFileSystem reaps .crc sidecars with their data files)
    val goneRoot = (before -- after)
      .filterNot(n => n.startsWith("_") || n.startsWith("."))
    assert(goneRoot == would.filterNot(_.contains("/")).toSet)
    assert(TxLog.vacuumDryRun(spark, dir).isEmpty)
  }

  test("vacuum honors retention: time travel lives until its files are reaped") {
    val dir = tmp("txvac").toString
    TxLog.commitOverwrite(spark, dir, df(1, 2))
    TxLog.commitOverwrite(spark, dir, df(3))
    // retain both versions: nothing live is deleted
    assert(TxLog.vacuum(spark, dir, retainVersions = 1) == 0)
    assert(idSet(TxLog.read(spark, dir, Some(0))) == Set(1L, 2L))
    // retain only head: v0's files go; head is untouched
    val deleted = TxLog.vacuum(spark, dir)
    assert(deleted > 0)
    assert(idSet(TxLog.read(spark, dir)) == Set(3L))
  }

  test("exactlyOnceSink: replayed micro-batches never duplicate rows") {
    val s = spark
    import s.implicits._
    implicit val sql = spark.sqlContext
    val dir = tmp("txsink").toString
    val cp = tmp("txsinkcp").toString
    val src = MemoryStream[(Long, String)]
    val query = TxLog.exactlyOnceSink(
      src.toDF().toDF("id", "name"), dir, appId = "ingest", cp)
    try {
      src.addData((1L, "a"), (2L, "b"))
      query.processAllAvailable()
      src.addData((3L, "c"))
      query.processAllAvailable()
    } finally query.stop()
    assert(idSet(TxLog.read(spark, dir)) == Set(1L, 2L, 3L))
    // foreachBatch is at-least-once: simulate the replay of batch 0
    // after a recovery — the txn marker makes it a no-op
    val vBefore = TxLog.snapshot(spark, dir).version
    TxLog.commitAppend(spark, dir,
      Seq((1L, "a"), (2L, "b")).toDF("id", "name"), Some(("ingest", 0L)))
    assert(TxLog.snapshot(spark, dir).version == vBefore)
    assert(TxLog.read(spark, dir).count() == 3)
  }

  test("exactlyOnceUpsertSink: keyed CDC stream lands exactly once, last-writer-wins") {
    val s = spark
    import s.implicits._
    implicit val sql = spark.sqlContext
    val dir = tmp("txupsink").toString
    val cp = tmp("txupsinkcp").toString
    TxLog.commitOverwrite(spark, dir,
      Seq((1L, "one", 0L), (2L, "two", 0L)).toDF("id", "name", "seq"))
    val src = MemoryStream[(Long, String, Long)]
    val query = TxLog.exactlyOnceUpsertSink(
      src.toDF().toDF("id", "name", "seq"), dir, Seq("id"),
      appId = "cdc", cp, orderCol = Some("seq"))
    try {
      // one batch updating id=1 TWICE (seq orders them) + inserting 3
      src.addData((1L, "one_v1", 1L), (1L, "one_v2", 2L), (3L, "three", 1L))
      query.processAllAvailable()
      src.addData((2L, "two_v1", 3L))
      query.processAllAvailable()
    } finally query.stop()
    val out = TxLog.read(spark, dir).select("id", "name")
      .as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "one_v2", 2L -> "two_v1", 3L -> "three"))
    // replayed batch (at-least-once foreachBatch) is a no-op
    val vBefore = TxLog.snapshot(spark, dir).version
    TxLog.merge(spark, dir,
      Seq((1L, "one_v1", 1L)).toDF("id", "name", "seq"), Seq("id"),
      txn = Some(("cdc", 0L)))
    assert(TxLog.snapshot(spark, dir).version == vBefore)
    assert(TxLog.read(spark, dir).select("id", "name")
      .as[(Long, String)].collect().toMap == out)

    // medallion cloneTable: instant experiment copy inside the zone
    val root = tmp("medclone").toString
    val p = new MedallionPipeline(spark, root, useTxLog = true)
    p.write(DataZone.Silver, "pts",
      (1L to 30L).map(i => (i, s"n$i")).toDF("id", "name"),
      LoadType.Full)
    p.cloneTable(DataZone.Silver, "pts", "pts_exp")
    p.deleteWhere(DataZone.Silver, "pts_exp", col("id") <= 10, mor = true)
    assert(p.read(DataZone.Silver, "pts_exp").count() == 20)
    assert(p.read(DataZone.Silver, "pts").count() == 30)
    // the operational surface delegates too
    val det = p.describeTable(DataZone.Silver, "pts_exp").collect().head
    assert(det.getAs[Long]("num_rows") == 20L &&
      det.getAs[Long]("num_deleted_rows") == 10L)
    assert(p.vacuumDryRunTable(DataZone.Silver, "pts_exp").isEmpty)
  }

  // ---- MedallionPipeline integration (useTxLog = true) ----

  test("medallion zone writes route through the log: full/append/merge/incremental") {
    val root = tmp("medtx").toString
    val p = new MedallionPipeline(spark, root, useTxLog = true)
    p.write(DataZone.Bronze, "pts", df(1, 2), LoadType.Full)
    val fullFiles = TxLog.snapshot(spark, p.path(DataZone.Bronze, "pts"))
      .files.map(_.path)
    p.write(DataZone.Bronze, "pts", df(3), LoadType.Append)
    assert(idSet(p.read(DataZone.Bronze, "pts")) == Set(1L, 2L, 3L))
    // a change-feed follower created before the merge
    val scd = tmp("medtxscd").toString + "/h"
    graft.sources.Scd2.create(spark, p.path(DataZone.Bronze, "pts"), scd,
      Seq("id"))
    // merge upserts by id: row 3 replaced, row 4 added
    val s = spark
    import s.implicits._
    val upsert = Seq((3L, "NEW"), (4L, "name_4")).toDF("id", "name")
    p.write(DataZone.Bronze, "pts", upsert, LoadType.Merge)
    val merged = p.read(DataZone.Bronze, "pts")
    assert(idSet(merged) == Set(1L, 2L, 3L, 4L))
    assert(merged.filter(col("id") === 3).select("name").head.getString(0)
      == "NEW")
    // a keyed merge commit, not a whole-table overwrite: the files
    // holding no incoming key survive by path, and the follower reads
    // the commit through the change feed
    val hist = p.history(DataZone.Bronze, "pts")
    assert(hist.filter(col("version") === 2).select("op").head.getString(0)
      == "merge")
    val live = TxLog.snapshot(spark, p.path(DataZone.Bronze, "pts"))
      .files.map(_.path).toSet
    assert(fullFiles.nonEmpty && fullFiles.forall(live.contains))
    graft.sources.Scd2.refresh(spark, scd)
    val current = TxLog.read(spark, scd)
      .filter(col(graft.sources.Scd2.IsCurrent))
    assert(idSet(current) == Set(1L, 2L, 3L, 4L))
    assert(current.filter(col("id") === 3).select("name").head.getString(0)
      == "NEW")
    // duplicate incoming keys are refused (Delta's multiple-matches
    // contract), nothing committed
    intercept[IllegalArgumentException] {
      p.write(DataZone.Bronze, "pts",
        Seq((1L, "a"), (1L, "b")).toDF("id", "name"), LoadType.Merge)
    }
    // incremental: only unseen ids append
    p.write(DataZone.Bronze, "pts", df(4, 5), LoadType.Incremental)
    assert(idSet(p.read(DataZone.Bronze, "pts")) == Set(1L, 2L, 3L, 4L, 5L))
    assert(merged.filter(col("id") === 4).count() == 1)
    // the whole edit history is addressable
    assert(idSet(p.readAsOf(DataZone.Bronze, "pts", 0)) == Set(1L, 2L))
    assert(p.history(DataZone.Bronze, "pts").count() == 4)
    // compact through the log
    p.compact(DataZone.Bronze, "pts", rowsPerFile = 1000L)
    assert(idSet(p.read(DataZone.Bronze, "pts")) == Set(1L, 2L, 3L, 4L, 5L))
  }

  test("medallion ingestStream is exactly-once under TxLog") {
    val s = spark
    import s.implicits._
    implicit val sql = spark.sqlContext
    val root = tmp("medstream").toString
    val cp = tmp("medstreamcp").toString
    val p = new MedallionPipeline(spark, root, useTxLog = true)
    val rules = Seq(Rule("R1", "id_present", Dimension.Completeness,
      "critical", fails = col("id").isNull))
    val src = MemoryStream[(Long, String)]
    val query = p.ingestStream(src.toDF().toDF("id", "name"),
      jobId = "ing", dataset = "pts", rules = rules,
      checkpointDir = Some(cp))
    try {
      src.addData((1L, "a"), (2L, "b"))
      query.processAllAvailable()
      src.addData((3L, "c"))
      query.processAllAvailable()
    } finally query.stop()
    val bronze = p.read(DataZone.Bronze, "pts")
    assert(idSet(bronze) == Set(1L, 2L, 3L))
    // replay batch 0 through the pipeline's own write path: skipped
    p.write(DataZone.Bronze, "pts",
      Seq((1L, "a"), (2L, "b")).toDF("id", "name").withColumn("_dup", lit(1))
        .drop("_dup"),
      LoadType.Append, txn = Some(("ing", 0L)))
    assert(p.read(DataZone.Bronze, "pts").count() == 3)
  }

  test("directory manifests refuse TxLog-backed datasets (stale-file hazard)") {
    // a directory-level stats manifest would list the removed but not
    // yet vacuumed files of a logged dataset: pruned reads judge only
    // the snapshot's files
    val root = tmp("medman").toString
    val p = new MedallionPipeline(spark, root, txStatsCols = Seq("id"))
    p.write(DataZone.Bronze, "pts", df(1, 2), LoadType.Full)
    p.write(DataZone.Bronze, "pts", df(3), LoadType.Full)
    val dir = p.path(DataZone.Bronze, "pts")
    val onDisk = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(onDisk > TxLog.snapshot(spark, dir).files.size)
    assert(idSet(p.readPruned(DataZone.Bronze, "pts", "id", 1, 3)) ==
      Set(3L))
  }

  test("stats-in-log: readPruned skips files whose range can't match") {
    val s = spark
    import s.implicits._
    val dir = tmp("txstats").toString
    // three disjoint-range files via range partitioning
    val data = (1L to 300L).map(i => (i, s"name_$i")).toDF("id", "name")
      .repartitionByRange(3, col("id"))
    TxLog.commitOverwrite(spark, dir, data, statsCols = Seq("id"))
    val snap = TxLog.snapshot(spark, dir)
    assert(snap.files.size == 3)
    assert(snap.files.forall(_.stats.contains("id")))
    val full = TxLog.read(spark, dir)
    val pruned = TxLog.readPruned(spark, dir, "id", 1, 5)
    assert(pruned.inputFiles.length < full.inputFiles.length,
      "a 5-id probe must not plan over all three range files")
    // pruning shrinks the FILE LIST, never the matching rows
    assert(pruned.filter(col("id").between(1, 5)).count() == 5)
    // an unknown column prunes nothing (conservative)
    assert(TxLog.readPruned(spark, dir, "name", "a", "b")
      .inputFiles.length == full.inputFiles.length)
  }

  test("partitioned tables record partition-column stats on every write, so partition filters survive") {
    val s = spark
    import s.implicits._
    val dir = tmp("txpartstats").toString
    def rows(ids: Seq[Long]) =
      ids.map(i => (i, if (i % 2 == 0) "even" else "odd")).toDF("id", "par")
    rows(1L to 4L).write.format("txlog").partitionBy("par").save(dir)
    def partitionFilters(): String = {
      val scans = TxLog.read(spark, dir).filter(col("par") === "odd")
        .queryExecution.executedPlan.collectLeaves().collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      assert(scans.nonEmpty, "the index must plan a partitioned file scan")
      scans.map(_.metadata("PartitionFilters")).mkString(";")
    }
    assert(partitionFilters().contains("par"))
    // no statsCols: the writes still record `par`
    TxLog.commitOverwrite(spark, dir, rows(5L to 8L), statsCols = Nil)
    assert(partitionFilters().contains("par"))
    TxLog.commitAppend(spark, dir, rows(Seq(9L)), statsCols = Nil)
    assert(partitionFilters().contains("par"))
    assert(TxLog.read(spark, dir).filter(col("par") === "odd")
      .select("id").as[Long].collect().sorted.toSeq == Seq(5L, 7L, 9L))
  }

  test("stats-in-log survives checkpoints and mixes with stat-less commits") {
    val s = spark
    import s.implicits._
    val dir = tmp("txstatsmix").toString
    val lowHalf = (1L to 100L).map(i => (i, s"n$i")).toDF("id", "name")
    TxLog.commitOverwrite(spark, dir, lowHalf, statsCols = Seq("id"))
    // a writer that records no stats: its files are always kept
    TxLog.commitAppend(spark, dir,
      (1000L to 1100L).map(i => (i, s"n$i")).toDF("id", "name"))
    // force a checkpoint so stats must round-trip through it
    (1 to 9).foreach(i => TxLog.commitAppend(spark, dir,
      df(5000L + i), statsCols = Seq("id")))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(
      dir, TxLog.LogDir, f"${10L}%020d.checkpoint.json")))
    val pruned = TxLog.readPruned(spark, dir, "id", 1, 50)
    val full = TxLog.read(spark, dir)
    // low-half file kept, stat-less files kept (conservative), the
    // nine out-of-range singleton commits skipped
    assert(pruned.inputFiles.length < full.inputFiles.length)
    assert(pruned.filter(col("id") <= 50).count() == 50)
    assert(full.count() == 100 + 101 + 9)
  }

  test("restore rewinds to a prior version as a new commit; refuses past vacuum") {
    val dir = tmp("txrestore").toString
    TxLog.commitOverwrite(spark, dir, df(1, 2))   // v0
    TxLog.commitAppend(spark, dir, df(3))         // v1
    TxLog.commitOverwrite(spark, dir, df(9))      // v2: the bad write
    val v3 = TxLog.restore(spark, dir, 1)
    assert(v3 == 3L, "restore is a NEW commit, not a log rewrite")
    assert(idSet(TxLog.read(spark, dir)) == Set(1L, 2L, 3L))
    // the undone version stays addressable (history preserved)
    assert(idSet(TxLog.read(spark, dir, Some(2))) == Set(9L))
    // restored files are LIVE at head: vacuum must not reap them
    TxLog.vacuum(spark, dir)
    assert(idSet(TxLog.read(spark, dir)) == Set(1L, 2L, 3L))
    // but v2's file (9) was non-live at head → reaped → restore to it
    // now refuses loudly instead of committing a broken snapshot
    intercept[IllegalArgumentException] {
      TxLog.restore(spark, dir, 2)
    }
    assert(idSet(TxLog.read(spark, dir)) == Set(1L, 2L, 3L))
  }

  test("pre-txlog plain datasets migrate in place: append keeps history, vacuum keeps files") {
    val s = spark
    import s.implicits._
    val root = tmp("medmigrate").toString
    val p = new MedallionPipeline(spark, root, txStatsCols = Seq("id"))
    // week 1: plain parquet lands in the zone directory, outside the log
    df(1, 2, 3).write.parquet(p.path(DataZone.Bronze, "pts"))
    // week 2: the first pipeline write is an APPEND — the historical
    // rows must be registered, not dropped
    p.write(DataZone.Bronze, "pts", df(4), LoadType.Append)
    assert(idSet(p.read(DataZone.Bronze, "pts")) == Set(1L, 2L, 3L, 4L),
      "migration must register pre-existing rows in the log")
    // v0 is the conversion (whole history addressable), v1 the append
    assert(idSet(p.readAsOf(DataZone.Bronze, "pts", 0)) == Set(1L, 2L, 3L))
    // vacuum must treat the converted files as live
    val deleted = TxLog.vacuum(spark, p.path(DataZone.Bronze, "pts"))
    assert(deleted == 0, "converted historical files are live, not garbage")
    assert(idSet(p.read(DataZone.Bronze, "pts")) == Set(1L, 2L, 3L, 4L))
    // incremental after migration: only unseen keys append
    p.write(DataZone.Bronze, "pts", df(3, 5), LoadType.Incremental)
    assert(idSet(p.read(DataZone.Bronze, "pts")) == Set(1L, 2L, 3L, 4L, 5L))
    // the conversion recorded stats: a point probe prunes to a sliver
    val pruned = p.readPruned(DataZone.Bronze, "pts", "id", 1, 1)
    assert(pruned.inputFiles.length <=
      p.read(DataZone.Bronze, "pts").inputFiles.length)
  }

  test("a failed stage cleans up after itself: bad statsCols leaves no staged copy") {
    val dir = tmp("txstagefail").toString
    TxLog.commitOverwrite(spark, dir, df(1))
    intercept[IllegalArgumentException] {
      TxLog.commitAppend(spark, dir, df(2), statsCols = Seq("no_such_col"))
    }
    val leftovers = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("_graft_stage_"))
    assert(leftovers.isEmpty, "no orphaned staging dir after a failed commit")
    assert(idSet(TxLog.read(spark, dir)) == Set(1L))
  }

  test("model check: 40 random ops (incl. DML + DDL) replay to the modeled state") {
    // seeded random op sequence — overwrite/append/compact,
    // delete/update/merge, merge-on-read DML AND rename DDL — applied
    // both to TxLog and to a trivial
    // in-memory Map[id → name] model; the log must agree with the
    // model at the head after every op AND at every historical
    // version at the end — the strongest single invariant: replay IS
    // the table.
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(42)
    val dir = tmp("txmodel").toString
    var model = Map.empty[Long, String]
    val history =
      scala.collection.mutable.ArrayBuffer[Map[Long, String]]()
    var nextId = 0L
    def freshIds(n: Int): Seq[Long] = {
      val ids = (0 until n).map(_ + nextId)
      nextId += n
      ids
    }
    def named(ids: Seq[Long]): Map[Long, String] =
      ids.map(i => i -> s"name_$i").toMap
    def tableState: Map[Long, String] = {
      val d = TxLog.read(spark, dir) // positional: renames move names
      d.select(d.columns(0), d.columns(1)).as[(Long, String)]
        .collect().toMap
    }
    def pickId(): Long = {
      val keys = model.keys.toSeq.sorted
      keys(rnd.nextInt(keys.size))
    }
    var valCol = "name"
    var renames = 0
    (1 to 40).foreach { _ =>
      rnd.nextInt(10) match {
        case 0 => // overwrite with 1-3 fresh rows (schema resets too)
          val ids = freshIds(1 + rnd.nextInt(3))
          TxLog.commitOverwrite(spark, dir, df(ids: _*))
          model = named(ids)
          valCol = "name"
        case 1 | 2 => // append 1-3 fresh rows (appends dominate ingest)
          val ids = freshIds(1 + rnd.nextInt(3))
          TxLog.commitAppend(spark, dir,
            df(ids: _*).withColumnRenamed("name", valCol))
          model = model ++ named(ids)
        case 3 if model.nonEmpty => // compact: rows unchanged
          TxLog.compact(spark, dir, targetFiles = 1)
        case 4 if model.nonEmpty => // delete a guaranteed-hit range
          val x = pickId()
          TxLog.delete(spark, dir, col("id") <= x)
          model = model.filter(_._1 > x)
          if (model.isEmpty) { // an emptied table: re-seed so later
            history += model // the delete's own version: empty table
            val ids = freshIds(1) //  ops have rows to work with
            TxLog.commitAppend(spark, dir,
              df(ids: _*).withColumnRenamed("name", valCol))
            model = named(ids)
          }
        case 5 if model.nonEmpty => // update a guaranteed-hit range
          val x = pickId()
          TxLog.update(spark, dir, col("id") <= x,
            Map(valCol -> concat(col(valCol), lit("!"))))
          model = model.map { case (k, v) =>
            k -> (if (k <= x) v + "!" else v)
          }
        case 6 if model.nonEmpty => // merge: replace one + insert one
          val hit = pickId()
          val ins = freshIds(1).head
          TxLog.merge(spark, dir,
            Seq((hit, s"merged_$hit"), (ins, s"name_$ins"))
              .toDF("id", valCol),
            Seq("id"))
          model = model + (hit -> s"merged_$hit") + (ins -> s"name_$ins")
        case 7 if model.nonEmpty => // merge-on-read delete (vectors)
          val x = pickId()
          TxLog.deleteMor(spark, dir, col("id") <= x)
          model = model.filter(_._1 > x)
          if (model.isEmpty) {
            history += model
            val ids = freshIds(1)
            TxLog.commitAppend(spark, dir,
              df(ids: _*).withColumnRenamed("name", valCol))
            model = named(ids)
          }
        case 8 if model.nonEmpty => // merge-on-read update
          val x = pickId()
          TxLog.updateMor(spark, dir, col("id") <= x,
            Map(valCol -> concat(col(valCol), lit("?"))))
          model = model.map { case (k, v) =>
            k -> (if (k <= x) v + "?" else v)
          }
        case 9 if model.nonEmpty => // rename DDL between everything
          renames += 1
          val next = s"name_r$renames"
          TxLog.renameColumn(spark, dir, valCol, next)
          valCol = next // values unchanged — the MODEL doesn't move
        case _ => // DML before the table exists: create it instead
          val ids = freshIds(1)
          TxLog.commitOverwrite(spark, dir, df(ids: _*))
          model = named(ids)
          valCol = "name"
      }
      history += model
      assert(tableState == model)
    }
    // every historical version still replays to its recorded state
    // (checkpoints every 10 commits must not corrupt the replay)
    history.zipWithIndex.foreach { case (want, v) =>
      val d = TxLog.read(spark, dir, Some(v.toLong))
      assert(d.select(d.columns(0), d.columns(1))
        .as[(Long, String)].collect().toMap == want,
        s"version $v diverged from the model")
    }
    assert(TxLog.history(spark, dir).count() == history.size)
  }

  test("mergeSchema widens on append: new column joins, old rows read null") {
    val s = spark
    import s.implicits._
    val dir = tmp("txevolve").toString
    TxLog.commitOverwrite(spark, dir, df(1, 2))
    // widened append: extra `score` column
    TxLog.commitAppend(spark, dir,
      Seq((3L, "name_3", 0.9)).toDF("id", "name", "score"),
      mergeSchema = true)
    val out = TxLog.read(spark, dir)
    assert(out.columns.toSeq == Seq("id", "name", "score"))
    val byId = out.select("id", "score").as[(Long, Option[Double])]
      .collect().toMap
    assert(byId(1L).isEmpty && byId(2L).isEmpty, "pre-evolution rows read null")
    assert(byId(3L).contains(0.9))
    // a narrower-schema append still fits the widened table? no —
    // schema is the union now; without mergeSchema it must match
    intercept[IllegalArgumentException] {
      TxLog.commitAppend(spark, dir, df(4))
    }
    // but merges in fine (its missing column reads null)
    TxLog.commitAppend(spark, dir, df(4), mergeSchema = true)
    assert(TxLog.read(spark, dir).count() == 4)
    // type conflicts refuse even under mergeSchema
    intercept[IllegalArgumentException] {
      TxLog.commitAppend(spark, dir,
        Seq((5L, 42L, 1.0)).toDF("id", "name", "score"),
        mergeSchema = true)
    }
    // time travel still shows the pre-evolution schema
    assert(TxLog.read(spark, dir, Some(0)).columns.toSeq ==
      Seq("id", "name"))
  }

  test("changesSince reads only the delta; compaction adds no rows; overwrite refuses") {
    val dir = tmp("txdelta").toString
    TxLog.commitOverwrite(spark, dir, df(1, 2))          // v0 create
    TxLog.commitAppend(spark, dir, df(3))                // v1
    TxLog.commitAppend(spark, dir, df(4))                // v2
    TxLog.compact(spark, dir, targetFiles = 1)           // v3
    TxLog.commitAppend(spark, dir, df(5))                // v4
    assert(idSet(TxLog.changesSince(spark, dir, -1)) ==
      Set(1L, 2L, 3L, 4L, 5L), "from -1 = initial load + every append")
    assert(idSet(TxLog.changesSince(spark, dir, 0)) == Set(3L, 4L, 5L),
      "compaction must contribute no rows — its additions are rewrites")
    assert(idSet(TxLog.changesSince(spark, dir, 2)) == Set(5L))
    assert(TxLog.changesSince(spark, dir, 4).isEmpty)
    // the consumer loop: read through head, remember version, resume
    val v = TxLog.snapshot(spark, dir).version
    TxLog.commitAppend(spark, dir, df(6))
    assert(idSet(TxLog.changesSince(spark, dir, v)) == Set(6L))
    // a mid-span overwrite's retractions are not expressible as adds
    TxLog.commitOverwrite(spark, dir, df(9))
    intercept[IllegalArgumentException] {
      TxLog.changesSince(spark, dir, v)
    }
  }

  test("medallion maintenance surface: restore/changesSince/vacuum/truncate") {
    val root = tmp("medmaint").toString
    val p = new MedallionPipeline(spark, root, useTxLog = true)
    p.write(DataZone.Bronze, "pts", df(1, 2), LoadType.Full)       // v0
    p.write(DataZone.Bronze, "pts", df(3), LoadType.Append)        // v1
    assert(idSet(p.changesSince(DataZone.Bronze, "pts", 0)) == Set(3L))
    p.write(DataZone.Bronze, "pts", df(9), LoadType.Full)          // v2 bad
    // a span crossing the overwrite correctly refuses delta form
    intercept[IllegalArgumentException] {
      p.changesSince(DataZone.Bronze, "pts", 0).count()
    }
    p.restore(DataZone.Bronze, "pts", 1)                           // v3
    assert(idSet(p.read(DataZone.Bronze, "pts")) == Set(1L, 2L, 3L))
    assert(p.vacuumTable(DataZone.Bronze, "pts") > 0) // reaps v2's file
    assert(idSet(p.read(DataZone.Bronze, "pts")) == Set(1L, 2L, 3L))
    // maintenance refuses a directory without a log
    val plain = new MedallionPipeline(spark, tmp("medmaint2").toString)
    df(1).write.parquet(plain.path(DataZone.Bronze, "pts"))
    intercept[IllegalArgumentException] {
      plain.vacuumTable(DataZone.Bronze, "pts")
    }
  }

  test("runIncrementalJob promotes only the delta, exactly once across crash replays") {
    val root = tmp("medincr").toString
    val p = new MedallionPipeline(spark, root, useTxLog = true)
    p.write(DataZone.Bronze, "pts", df(1, 2), LoadType.Full)
    val r1 = p.runIncrementalJob("inc", "pts", DataZone.Bronze,
      DataZone.Silver)
    assert(r1.status == "completed" && r1.recordsWritten == 2)
    assert(idSet(p.read(DataZone.Silver, "pts")) == Set(1L, 2L))
    // new bronze commit → only the delta promotes
    p.write(DataZone.Bronze, "pts", df(3), LoadType.Append)
    val r2 = p.runIncrementalJob("inc", "pts", DataZone.Bronze,
      DataZone.Silver)
    assert(r2.recordsRead == 1 && r2.recordsWritten == 1)
    assert(idSet(p.read(DataZone.Silver, "pts")) == Set(1L, 2L, 3L))
    // nothing new → no-op
    val r3 = p.runIncrementalJob("inc", "pts", DataZone.Bronze,
      DataZone.Silver)
    assert(r3.recordsRead == 0 && r3.recordsWritten == 0)
    // the watermark IS the target log's txn marker, so losing every
    // driver-local artifact (a fresh pipeline on another host) changes
    // nothing: the rerun promotes zero rows
    val p2 = new MedallionPipeline(spark, root, useTxLog = true)
    val r4 = p2.runIncrementalJob("inc", "pts", DataZone.Bronze,
      DataZone.Silver)
    assert(r4.recordsRead == 0 && r4.recordsWritten == 0,
      "a fresh driver must recover the watermark from the target log")
    assert(idSet(p2.read(DataZone.Silver, "pts")) == Set(1L, 2L, 3L))
    // crash after the silver append, then the SOURCE gains a commit
    // before the rerun: the rerun's span must start at the marker's
    // version — the already-applied delta must not ride in again under
    // the new head (the round-10 duplicate-delivery hole)
    p2.write(DataZone.Bronze, "pts", df(4), LoadType.Append)
    val r5 = new MedallionPipeline(spark, root, useTxLog = true)
      .runIncrementalJob("inc", "pts", DataZone.Bronze, DataZone.Silver)
    assert(r5.recordsRead == 1 && r5.recordsWritten == 1,
      "rerun after the source advanced must promote only the new delta")
    assert(p2.read(DataZone.Silver, "pts").count() == 4,
      "crash replay must not duplicate silver rows")
    assert(idSet(p2.read(DataZone.Silver, "pts")) == Set(1L, 2L, 3L, 4L))
  }

  test("txlog streaming source: appends flow bronze→silver exactly once, across restart") {
    val root = tmp("txstream").toString
    val cp = tmp("txstreamcp").toString
    val p = new MedallionPipeline(spark, root, useTxLog = true)
    p.write(DataZone.Bronze, "pts", df(1, 2), LoadType.Full)       // v0
    val q1 = p.promoteStream("sj", "pts", DataZone.Bronze,
      DataZone.Silver, checkpointDir = Some(cp.toString))
    try {
      q1.processAllAvailable()
      assert(idSet(p.read(DataZone.Silver, "pts")) == Set(1L, 2L),
        "initial load must flow through the stream")
      // a live append lands continuously, without re-reading the table
      p.write(DataZone.Bronze, "pts", df(3), LoadType.Append)      // v1
      q1.processAllAvailable()
      assert(idSet(p.read(DataZone.Silver, "pts")) == Set(1L, 2L, 3L))
      assert(p.read(DataZone.Silver, "pts").count() == 3)
    } finally q1.stop()
    // appends made while the stream is DOWN are picked up on restart
    // from the same checkpoint, exactly once
    p.write(DataZone.Bronze, "pts", df(4), LoadType.Append)        // v2
    val q2 = p.promoteStream("sj", "pts", DataZone.Bronze,
      DataZone.Silver, checkpointDir = Some(cp.toString))
    try {
      q2.processAllAvailable()
      assert(idSet(p.read(DataZone.Silver, "pts")) == Set(1L, 2L, 3L, 4L))
      assert(p.read(DataZone.Silver, "pts").count() == 4,
        "restart must not duplicate silver rows")
      // matches the batch-incremental form exactly
      assert(idSet(p.read(DataZone.Silver, "pts")) ==
        idSet(p.read(DataZone.Bronze, "pts")))
    } finally q2.stop()
  }

  test("txlog source contract: compaction-only batch is empty; overwrite fails the stream") {
    val dir = tmp("txsrc").toString
    TxLog.commitOverwrite(spark, dir, df(1, 2))                    // v0
    val q = spark.readStream.format("txlog").load(dir)
      .writeStream.format("memory").queryName("txsrc_mem")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("txsrc_mem").count() == 2)
      TxLog.commitAppend(spark, dir, df(3))                        // v1
      q.processAllAvailable()
      assert(spark.table("txsrc_mem").count() == 3)
      // a compaction-only span is a (valid) EMPTY micro-batch:
      // rewrites are not new rows
      TxLog.compact(spark, dir, targetFiles = 1)                   // v2
      q.processAllAvailable()
      assert(spark.table("txsrc_mem").count() == 3,
        "compaction must contribute zero rows to the stream")
      // an overwrite is not expressible as additions → stream fails
      // loudly (Delta-source contract without ignoreChanges)
      TxLog.commitOverwrite(spark, dir, df(9))                     // v3
      val e = intercept[Exception] { q.processAllAvailable() }
      def mentions(t: Throwable): Boolean = t != null &&
        (String.valueOf(t.getMessage).contains("expressible") ||
          mentions(t.getCause))
      assert(mentions(e), s"unexpected stream failure: $e")
    } finally q.stop()
  }

  test("incremental quarantine is keyed per source head (no clobber)") {
    val root = tmp("medincq").toString
    val p = new MedallionPipeline(spark, root, useTxLog = true)
    val rules = Seq(Rule("R1", "id_nonneg", Dimension.Accuracy, "major",
      fails = col("id") < 0, failBelow = 1.0, warnBelow = 1.0))
    p.write(DataZone.Bronze, "pts", df(1, -1), LoadType.Full)   // v0
    p.runIncrementalJob("inc", "pts", DataZone.Bronze, DataZone.Silver,
      rules = rules)
    p.write(DataZone.Bronze, "pts", df(2, -2), LoadType.Append) // v1
    p.runIncrementalJob("inc", "pts", DataZone.Bronze, DataZone.Silver,
      rules = rules)
    assert(idSet(p.read(DataZone.Silver, "pts")) == Set(1L, 2L))
    // run 1's quarantined row must survive run 2's overwrite-mode write
    assert(idSet(p.quarantined("inc_v0", "pts")) == Set(-1L))
    assert(idSet(p.quarantined("inc_v1", "pts")) == Set(-2L))
  }

  test("readPrunedAll intersects stats across a predicate conjunction") {
    val s = spark
    import s.implicits._
    val dir = tmp("txcompound").toString
    def seg(ids: Range, r: String) =
      ids.map(i => (i.toLong, r)).toDF("id", "region").coalesce(1)
    val sc = Seq("id", "region")
    TxLog.commitOverwrite(spark, dir, seg(1 to 100, "A"), sc)
    TxLog.commitAppend(spark, dir, seg(101 to 200, "A"), None, sc)
    TxLog.commitAppend(spark, dir, seg(201 to 300, "B"), None, sc)
    // each single predicate keeps 2 of 3 files…
    assert(TxLog.readPruned(spark, dir, "id", 150, 250)
      .inputFiles.length == 2)
    assert(TxLog.readPruned(spark, dir, "region", "A", "A")
      .inputFiles.length == 2)
    // …the conjunction intersects down to 1 (id ∈ f2,f3 ∩ region ∈ f1,f2)
    val both = TxLog.readPrunedAll(spark, dir,
      Seq(("id", 150, 250), ("region", "A", "A")))
    assert(both.inputFiles.length == 1,
      s"conjunction must intersect, got ${both.inputFiles.mkString(",")}")
    assert(both.filter(col("id").between(150, 250) &&
      col("region") === "A").count() == 51)
    // unknown column stays conservative: no extra pruning, full result
    val withUnknown = TxLog.readPrunedAll(spark, dir,
      Seq(("id", 150, 250), ("nope", 0, 1)))
    assert(withUnknown.inputFiles.length == 2)
  }

  test("z-ordered compact tightens file stats so pruning improves") {
    val s = spark
    import s.implicits._
    val dir = tmp("txzorder").toString
    // interleaved arrival: round-robin files each span the FULL (x, y)
    // domain, so stats-in-log skipping has nothing to cut
    val data = (for (x <- 0 until 100; y <- 0 until 100)
      yield (x, y, x * 100L + y)).toDF("x", "y", "payload")
      .repartition(8)
    TxLog.commitOverwrite(spark, dir, data, statsCols = Seq("x", "y"))
    val preds = Seq(("x", 0, 12), ("y", 0, 12))
    val before = TxLog.readPrunedAll(spark, dir, preds)
    assert(before.inputFiles.length == 8,
      "round-robin files must be unprunable before maintenance")

    TxLog.compact(spark, dir, targetFiles = 8, zorderBy = Seq("x", "y"))
    val after = TxLog.readPrunedAll(spark, dir, preds)
    assert(after.inputFiles.length < before.inputFiles.length,
      s"z-ordered compact must improve pruning, " +
        s"still plans ${after.inputFiles.length} files")
    // maintenance must never change the answer
    def probe(d: DataFrame): Seq[Long] =
      d.filter(col("x").between(0, 12) && col("y").between(0, 12))
        .select("payload").as[Long].collect().sorted.toSeq
    assert(probe(after) == probe(before))
    assert(TxLog.read(spark, dir).count() == 10000L)

    // single-column form: range layout on x alone; clustering columns
    // are recorded in stats even when the caller passes none
    TxLog.compact(spark, dir, targetFiles = 8, zorderBy = Seq("x"))
    val xOnly = TxLog.readPruned(spark, dir, "x", 0, 12)
    assert(xOnly.inputFiles.length <= 2)
    assert(xOnly.filter(col("x").between(0, 12)).count() == 13L * 100)

    // N-column form (round-17): a 3-key Morton layout is accepted and
    // preserves the data
    TxLog.compact(spark, dir, 8, zorderBy = Seq("x", "y", "payload"))
    assert(TxLog.read(spark, dir).count() == 10000L)
    assert(probe(TxLog.readPrunedAll(spark, dir, preds)) == probe(before))
  }

  test("delete rewrites only the files that hold matching rows") {
    val s = spark
    import s.implicits._
    val dir = tmp("txdelete").toString
    val data = (1L to 300L).map(i => (i, s"name_$i")).toDF("id", "name")
      .repartitionByRange(3, col("id"))
    TxLog.commitOverwrite(spark, dir, data, statsCols = Seq("id"))
    val pre = TxLog.snapshot(spark, dir)
    assert(pre.files.size == 3)

    val v = TxLog.delete(spark, dir, col("id") <= 50)
    assert(v == pre.version + 1)
    val post = TxLog.snapshot(spark, dir)
    // copy-on-write: the two files outside the predicate's range
    // survive BY PATH — only the low-range file was rewritten
    val survivors = pre.files.map(_.path).toSet
      .intersect(post.files.map(_.path).toSet)
    assert(survivors.size == 2,
      s"expected 2 untouched files to survive, got ${survivors.size}")
    assert(idSet(TxLog.read(spark, dir)) == (51L to 300L).toSet)
    // stats are inherited across the rewrite: pruning still works
    assert(post.files.forall(_.stats.contains("id")))
    // the deleted rows are still in history (time travel)
    assert(TxLog.read(spark, dir, Some(pre.version)).count() == 300)

    // nothing matches → current version unchanged, no empty commit
    assert(TxLog.delete(spark, dir, col("id") > 100000) == v)

    // SQL null semantics: a null predicate row SURVIVES a delete
    val dir2 = tmp("txdelnull").toString
    TxLog.commitOverwrite(spark, dir2,
      Seq((1L, Some(10L)), (2L, None), (3L, Some(1L)))
        .toDF("id", "v"))
    TxLog.delete(spark, dir2, col("v") > 5)
    assert(idSet(TxLog.read(spark, dir2)) == Set(2L, 3L))
  }

  test("update rewrites matched rows in place, schema preserved") {
    val s = spark
    import s.implicits._
    val dir = tmp("txupdate").toString
    val data = (1L to 300L).map(i => (i, s"name_$i", i * 10L))
      .toDF("id", "name", "amount")
      .repartitionByRange(3, col("id"))
    TxLog.commitOverwrite(spark, dir, data, statsCols = Seq("id"))
    val pre = TxLog.snapshot(spark, dir)

    TxLog.update(spark, dir, col("id") <= 50,
      Map("name" -> upper(col("name")), "amount" -> (col("amount") + 1)))
    val post = TxLog.snapshot(spark, dir)
    assert(pre.files.map(_.path).toSet
      .intersect(post.files.map(_.path).toSet).size == 2)
    val out = TxLog.read(spark, dir)
    // an UPDATE never mutates the schema (nullability normalizes
    // through the parquet round-trip, so compare names + types)
    assert(out.schema.map(f => (f.name, f.dataType)) ==
      data.schema.map(f => (f.name, f.dataType)))
    assert(out.filter(col("id") === 5)
      .select("name", "amount").head() == org.apache.spark.sql.Row(
        "NAME_5", 51L))
    assert(out.filter(col("id") === 200)
      .select("name", "amount").head() == org.apache.spark.sql.Row(
        "name_200", 2000L))
    assert(out.count() == 300)

    intercept[IllegalArgumentException] {
      TxLog.update(spark, dir, col("id") === 1, Map("nope" -> lit(1)))
    }
  }

  test("merge upserts: matched rows replaced, new keys inserted") {
    val s = spark
    import s.implicits._
    val dir = tmp("txmerge").toString
    val data = (1L to 300L).map(i => (i, s"name_$i")).toDF("id", "name")
      .repartitionByRange(3, col("id"))
    TxLog.commitOverwrite(spark, dir, data, statsCols = Seq("id"))
    val pre = TxLog.snapshot(spark, dir)

    val source = Seq((10L, "UPDATED_10"), (11L, "UPDATED_11"),
      (1000L, "new_1000"), (1001L, "new_1001")).toDF("id", "name")
    TxLog.merge(spark, dir, source, Seq("id"))
    val post = TxLog.snapshot(spark, dir)
    // keys 10/11 live in the low file only: the other two survive
    assert(pre.files.map(_.path).toSet
      .intersect(post.files.map(_.path).toSet).size == 2)
    val out = TxLog.read(spark, dir)
    assert(out.count() == 302)
    assert(out.filter(col("id") === 10).select("name").head().getString(0)
      == "UPDATED_10")
    assert(out.filter(col("id") === 42).select("name").head().getString(0)
      == "name_42")
    assert(idSet(out).contains(1000L))

    // ambiguous source (two rows per key) is refused
    intercept[IllegalArgumentException] {
      TxLog.merge(spark, dir,
        Seq((5L, "a"), (5L, "b")).toDF("id", "name"), Seq("id"))
    }
    // source missing a table column is refused
    intercept[IllegalArgumentException] {
      TxLog.merge(spark, dir, Seq(Tuple1(7L)).toDF("id"), Seq("id"))
    }

    // a rewriting merge inside the span breaks incremental reads …
    intercept[IllegalArgumentException] {
      TxLog.changesSince(spark, dir, pre.version)
    }
    // … but an INSERT-ONLY merge is a pure addition and streams fine
    val preInsert = TxLog.snapshot(spark, dir).version
    TxLog.merge(spark, dir,
      Seq((5000L, "n5000")).toDF("id", "name"), Seq("id"))
    val delta = TxLog.changesSince(spark, dir, preInsert)
    assert(idSet(delta) == Set(5000L))

    // an empty source commits nothing; with a txn it advances only the
    // marker (no file added or removed)
    val head = TxLog.snapshot(spark, dir)
    val empty = source.limit(0)
    assert(TxLog.merge(spark, dir, empty, Seq("id")) == head.version)
    assert(TxLog.snapshot(spark, dir).version == head.version)
    val marked = TxLog.merge(spark, dir, empty, Seq("id"),
      txn = Some(("m", 7L)))
    val after = TxLog.snapshot(spark, dir)
    assert(marked == head.version + 1 && after.version == marked)
    assert(after.txns.get("m").contains(7L))
    assert(after.files == head.files)
  }

  test("skipping bounds extract only sound conjunctive constraints") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("a", LongType), StructField("b", StringType),
      StructField("c", IntegerType), StructField("d", IntegerType),
      StructField("e", IntegerType), StructField("x", LongType)))
    val b = TxLog.skippingBounds(spark, schema,
      col("a") > 5 && col("b") === "x" &&
        (col("c") < 2 || col("d") > 1) && lit(3) >= col("e"))
    assert(b("a") == ((Some(5L), None))) // analysis folds 5 to long
    assert(b("b") == ((Some("x"), Some("x"))))
    assert(!b.contains("c") && !b.contains("d")) // OR: no constraint
    assert(b("e") == ((None, Some(3))))
    // a BETWEEN is two one-sided constraints on the same column
    val r = TxLog.skippingBounds(spark, schema,
      col("x") >= 10 && col("x") <= 20)
    assert(r("x") == ((Some(10L), Some(20L))))
  }

  test("CHECK constraints gate every write path and time-travel") {
    val s = spark
    import s.implicits._
    val dir = tmp("txcheck").toString
    TxLog.commitOverwrite(spark, dir,
      Seq[(Long, Option[Long])]((1L, Some(10L)), (2L, Some(20L)),
        (3L, None)).toDF("id", "v"))

    // cannot add a constraint existing rows violate
    intercept[IllegalArgumentException] {
      TxLog.addCheckConstraint(spark, dir, "v_big", "v > 15")
    }
    // null rows PASS a check (SQL semantics) — this one adds fine
    val vAdd = TxLog.addCheckConstraint(spark, dir, "v_pos", "v > 0")
    assert(TxLog.snapshot(spark, dir).constraints ==
      Map("v_pos" -> "v > 0"))

    // append of a violating batch refuses, names the constraint,
    // commits nothing, stages nothing
    val pre = TxLog.snapshot(spark, dir).version
    val e = intercept[IllegalArgumentException] {
      TxLog.commitAppend(spark, dir, Seq((4L, -5L)).toDF("id", "v"))
    }
    assert(e.getMessage.contains("v_pos"))
    assert(TxLog.snapshot(spark, dir).version == pre)
    assert(!new java.io.File(dir).listFiles()
      .exists(_.getName.startsWith("_graft_stage_")))
    // a null-v append passes, a clean append passes
    TxLog.commitAppend(spark, dir,
      Seq[(Long, Option[Long])]((4L, None), (5L, Some(50L)))
        .toDF("id", "v"))

    // update and merge refuse too
    intercept[IllegalArgumentException] {
      TxLog.update(spark, dir, col("id") === 1, Map("v" -> lit(-1L)))
    }
    intercept[IllegalArgumentException] {
      TxLog.merge(spark, dir, Seq((9L, -9L)).toDF("id", "v"), Seq("id"))
    }
    // overwrite refuses — the constraint outlives full replacement
    intercept[IllegalArgumentException] {
      TxLog.commitOverwrite(spark, dir, Seq((1L, -1L)).toDF("id", "v"))
    }

    // constraints survive checkpoints (push past the interval)
    (1 to 11).foreach(i =>
      TxLog.commitAppend(spark, dir, Seq((100L + i, 1L)).toDF("id", "v")))
    intercept[IllegalArgumentException] {
      TxLog.commitAppend(spark, dir, Seq((999L, -1L)).toDF("id", "v"))
    }
    // pre-constraint versions still read (time travel unaffected)
    assert(TxLog.read(spark, dir, Some(0)).count() == 3)

    // dropping an unknown name refuses; dropping the real one unlocks
    intercept[IllegalArgumentException] {
      TxLog.dropCheckConstraint(spark, dir, "nope")
    }
    TxLog.dropCheckConstraint(spark, dir, "v_pos")
    TxLog.commitAppend(spark, dir, Seq((999L, -1L)).toDF("id", "v"))
    assert(TxLog.snapshot(spark, dir).constraints.isEmpty)

    // medallion delegation
    val root = tmp("medcheck").toString
    val p = new MedallionPipeline(spark, root, useTxLog = true)
    p.write(DataZone.Bronze, "pts",
      Seq((1L, "a")).toDF("id", "name"), LoadType.Full)
    p.addConstraint(DataZone.Bronze, "pts", "id_pos", "id > 0")
    intercept[IllegalArgumentException] {
      p.write(DataZone.Bronze, "pts",
        Seq((-1L, "x")).toDF("id", "name"), LoadType.Append)
    }
    assert(vAdd > 0)
  }

  test("countWhere answers from metadata, scanning only the boundary") {
    val s = spark
    import s.implicits._
    val dir = tmp("txcount").toString
    // ids 1..300 over 3 range files; v is null on every 10th row
    val data = (1L to 300L)
      .map(i => (i, if (i % 10 == 0) None else Some(i * 2)))
      .toDF("id", "v")
      .repartitionByRange(3, col("id"))
    TxLog.commitOverwrite(spark, dir, data, statsCols = Seq("id", "v"))

    // no predicate: the row count is pure log metadata
    val (total, scanned0) =
      TxLog.countWhereDetailed(spark, dir, Nil, None)
    assert(total == 300 && scanned0.isEmpty)

    // id has no nulls: a probe containing file 2 fully and straddling
    // files 1 and 3 counts the middle from the log, scans the edges
    val (n, scanned) = TxLog.countWhereDetailed(spark, dir,
      Seq(("id", 50, 250)), None)
    assert(n == 201)
    assert(scanned.size == 2, s"expected 2 boundary files, got $scanned")

    // the full-range id probe is contained everywhere: zero scans
    val (all, scannedAll) = TxLog.countWhereDetailed(spark, dir,
      Seq(("id", 1, 300)), None)
    assert(all == 300 && scannedAll.isEmpty)

    // v carries nulls: even a full-range probe must SCAN (min/max
    // ignore nulls; counting from metadata would overcount) — and
    // the answer excludes the null rows, like the predicate does
    val (nv, scannedV) = TxLog.countWhereDetailed(spark, dir,
      Seq(("v", 2, 600)), None)
    assert(nv == 270, s"nulls must not be counted, got $nv")
    assert(scannedV.size == 3)

    // conjunction: exclusion beats containment file-by-file
    assert(TxLog.countWhere(spark, dir,
      Seq(("id", 50, 250), ("v", 100, 460))) ==
      data.filter(col("id").between(50, 250) &&
        col("v").between(100, 460)).count())

    // stat-less columns fall back to scanning, same answer
    val dir2 = tmp("txcount2").toString
    TxLog.commitOverwrite(spark, dir2, data) // no statsCols at all
    assert(TxLog.countWhere(spark, dir2, Seq(("id", 50, 250))) == 201)

    // medallion delegation
    val root = tmp("medcount").toString
    val p = new MedallionPipeline(spark, root, useTxLog = true,
      txStatsCols = Seq("id"))
    p.write(DataZone.Bronze, "pts",
      (1L to 50L).map(i => (i, s"n$i")).toDF("id", "name"),
      LoadType.Full)
    assert(p.countRows(DataZone.Bronze, "pts") == 50)
    assert(p.countRows(DataZone.Bronze, "pts", Seq(("id", 1, 10))) == 10)
  }

  test("changeFeed: applying the row diff replays any DML span") {
    val s = spark
    import s.implicits._
    val dir = tmp("txcdf").toString
    TxLog.commitOverwrite(spark, dir, df(1, 2, 3, 4, 5, 6),
      statsCols = Seq("id"))                                   // v0
    TxLog.commitAppend(spark, dir, df(7, 8))                   // v1
    TxLog.delete(spark, dir, col("id") <= 2)                   // v2
    TxLog.update(spark, dir, col("id") === 5,
      Map("name" -> lit("five")))                              // v3
    TxLog.merge(spark, dir,
      Seq((7L, "m7"), (9L, "name_9")).toDF("id", "name"),
      Seq("id"))                                               // v4
    TxLog.compact(spark, dir, targetFiles = 1)                 // v5

    def rowsOf(d: DataFrame): Seq[(Long, String)] =
      d.select("id", "name").as[(Long, String)].collect().toSeq
    def multiset(rs: Seq[(Long, String)]): Map[(Long, String), Int] =
      rs.groupBy(identity).view.mapValues(_.size).toMap

    // THE invariant: snapshot(since) + feed = snapshot(until)
    val feed = TxLog.changeFeed(spark, dir, 0)
      .select(col("id"), col("name"), col("_change_type"),
        col("_commit_version")).collect()
    var state = scala.collection.mutable.Map[(Long, String), Int]()
      .withDefaultValue(0)
    multiset(rowsOf(TxLog.read(spark, dir, Some(0)))).foreach {
      case (k, n) => state(k) = n
    }
    feed.sortBy(_.getLong(3)).foreach { r =>
      val k = (r.getLong(0), r.getString(1))
      r.getString(2) match {
        case "insert" => state(k) += 1
        case "delete" =>
          assert(state(k) > 0, s"deleting absent row $k")
          state(k) -= 1
      }
    }
    assert(state.filter(_._2 > 0).toMap ==
      multiset(rowsOf(TxLog.read(spark, dir))))

    // per-commit shape: the update is one delete + one insert pair
    val v3 = feed.filter(_.getLong(3) == 3L)
    assert(v3.map(r => (r.getString(2), r.getLong(0), r.getString(1)))
      .toSet == Set(("delete", 5L, "name_5"), ("insert", 5L, "five")))
    // the compact contributes nothing
    assert(!feed.exists(_.getLong(3) == 5L))
    // from -1 the initial load rides along as inserts
    assert(TxLog.changeFeed(spark, dir, -1)
      .filter(col("_commit_version") === 0).count() == 6)
    // a mid-span overwrite still refuses
    TxLog.commitOverwrite(spark, dir, df(100))                 // v6
    intercept[IllegalArgumentException] {
      TxLog.changeFeed(spark, dir, 0).count()
    }
    // medallion delegation surfaces the same feed
    val root = tmp("medcdf").toString
    val p = new MedallionPipeline(spark, root, useTxLog = true)
    p.write(DataZone.Bronze, "pts",
      Seq((1L, "a")).toDF("id", "name"), LoadType.Full)
    p.deleteWhere(DataZone.Bronze, "pts", col("id") === 1)
    assert(p.changeFeed(DataZone.Bronze, "pts", 0)
      .filter(col("_change_type") === "delete").count() == 1)
  }

  test("medallion DML delegates: deleteWhere/updateWhere/mergeInto") {
    val s = spark
    import s.implicits._
    val root = tmp("meddml").toString
    val p = new MedallionPipeline(spark, root, useTxLog = true,
      txStatsCols = Seq("id", "not_a_column"))
    p.write(DataZone.Bronze, "pts",
      (1L to 100L).map(i => (i, s"n$i")).toDF("id", "name"),
      LoadType.Full)
    p.deleteWhere(DataZone.Bronze, "pts", col("id") > 90)
    p.updateWhere(DataZone.Bronze, "pts", col("id") === 1,
      Map("name" -> lit("first")))
    p.mergeInto(DataZone.Bronze, "pts",
      Seq((50L, "merged"), (200L, "new")).toDF("id", "name"), Seq("id"))
    val out = p.read(DataZone.Bronze, "pts")
    assert(out.count() == 91) // 100 - 10 deleted + 1 inserted
    val byId = out.as[(Long, String)].collect().toMap
    assert(byId(1L) == "first" && byId(50L) == "merged" &&
      byId(200L) == "new" && !byId.contains(95L))
    // a directory without a log refuses the DML surface
    val plain = new MedallionPipeline(spark, tmp("meddml2").toString)
    Seq((1L, "a")).toDF("id", "name").write
      .parquet(plain.path(DataZone.Bronze, "pts"))
    intercept[IllegalArgumentException] {
      plain.deleteWhere(DataZone.Bronze, "pts", col("id") === 1)
    }
  }

  test("medallion readPruned prunes from the log under txStatsCols") {
    val s = spark
    import s.implicits._
    val root = tmp("medstat").toString
    val p = new MedallionPipeline(spark, root, useTxLog = true,
      txStatsCols = Seq("id"))
    p.write(DataZone.Bronze, "pts",
      (1L to 300L).map(i => (i, s"n$i")).toDF("id", "name")
        .repartitionByRange(3, col("id")),
      LoadType.Full)
    val pruned = p.readPruned(DataZone.Bronze, "pts", "id", 1, 5)
    assert(pruned.inputFiles.length <
      p.read(DataZone.Bronze, "pts").inputFiles.length)
    assert(pruned.filter(col("id").between(1, 5)).count() == 5)
  }

  // ---- merge-on-read DML (deletion vectors) ------------------------

  test("deleteMor: no file rewritten, vectors subtract on read, counts stay metadata") {
    val s = spark
    import s.implicits._
    val dir = tmp("txdvdel").toString
    val data = (1L to 300L).map(i => (i, s"name_$i")).toDF("id", "name")
      .repartitionByRange(3, col("id"))
    TxLog.commitOverwrite(spark, dir, data, statsCols = Seq("id"))
    val pre = TxLog.snapshot(spark, dir)
    assert(pre.files.size == 3)

    val v = TxLog.deleteMor(spark, dir, col("id") <= 50)
    assert(v == pre.version + 1)
    val post = TxLog.snapshot(spark, dir)
    // EVERY data file survives by path — that is the point of MoR
    assert(post.files.map(_.path).toSet == pre.files.map(_.path).toSet)
    // exactly one file carries a vector (stats prune the other two)
    val dvd = post.files.filter(_.dv.isDefined)
    assert(dvd.size == 1 && dvd.head.dvRows == 50)
    assert(idSet(TxLog.read(spark, dir)) == (51L to 300L).toSet)
    // time travel: the pre-delete version still reads all rows
    assert(TxLog.read(spark, dir, Some(pre.version)).count() == 300)
    // COUNT(*) stays a pure metadata read: rows − dvRows
    val (n, scanned) = TxLog.countWhereDetailed(spark, dir, Nil, None)
    assert(n == 250 && scanned.isEmpty)
    // a range count over the dv'd file must SCAN it (stats are now
    // upper bounds), and the answer subtracts the vector
    val (n2, scanned2) = TxLog.countWhereDetailed(spark, dir,
      Seq(("id", 1L, 60L)), None)
    assert(n2 == 10 && scanned2 == dvd.map(_.path))

    // a second MoR delete on the same file merges vectors
    TxLog.deleteMor(spark, dir, col("id") <= 70)
    val post2 = TxLog.snapshot(spark, dir)
    val dvd2 = post2.files.filter(_.dv.isDefined)
    assert(dvd2.size == 1 && dvd2.head.dvRows == 70)
    assert(dvd2.head.dv != dvd.head.dv) // fresh merged vector
    assert(idSet(TxLog.read(spark, dir)) == (71L to 300L).toSet)

    // nothing matches → current version unchanged, no empty commit
    val head = TxLog.snapshot(spark, dir).version
    assert(TxLog.deleteMor(spark, dir, col("id") > 100000) == head)

    // SQL null semantics: a null predicate row SURVIVES
    val dir2 = tmp("txdvnull").toString
    TxLog.commitOverwrite(spark, dir2,
      Seq((1L, Some(10L)), (2L, None), (3L, Some(1L))).toDF("id", "v"))
    TxLog.deleteMor(spark, dir2, col("v") > 5)
    assert(idSet(TxLog.read(spark, dir2)) == Set(2L, 3L))
  }

  test("deleteMor past the vector filter bound: reads anti-join a second TxFileIndex leg") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import graft.sources.TxFileIndex
    val s = spark
    val dir = tmp("dvbound").toString + "/t"
    // partition a is ONE file holding more rows than the 4M-row
    // filter bound (so a DML probe of that file is past it too),
    // partition b stays clean
    val aRows = 4100000L
    s.range(aRows).select(col("id").as("k"), lit("a").as("p"))
      .unionByName(s.range(aRows, aRows + 1000L)
        .select(col("id").as("k"), lit("b").as("p")))
      .repartition(1).write.partitionBy("p").parquet(dir)
    TxLog.convertInPlace(s, dir, statsCols = Seq("k"))
    TxLog.deleteMor(s, dir, col("k") < 4050000L)
    val snap = TxLog.snapshot(s, dir)
    assert(snap.files.map(_.dvRows).sum == 4050000L)
    assert(snap.files.filter(_.dv.isDefined).forall(_.path.startsWith("p=a/")))
    val (t, logged) = infoLines("graft.sources.TxLog") {
      s.read.format("txlog").load(dir)
    }
    assert(logged.exists(_.contains(
      "dv-antijoin vectoredFiles=1 deletedRows=4050000")), logged)
    val p = t.queryExecution.executedPlan.toString
    // both table legs are TxFileIndex FileScans; only the vectored
    // one anti-joins the vector relation
    assert("LeftAnti".r.findAllIn(p).size == 1, p)
    assert("TxFileIndex".r.findAllIn(p).size == 2, p)
    assert(!p.contains("RowDataSourceScan") &&
      !p.contains("TxLogV1Relation") && !p.contains("dvdeleted"), p)
    assert(t.count() == 51000L)
    assert(t.filter(col("p") === "a").count() == 50000L)
    // a filter on the clean partition prunes every leg to its files
    val qb = t.filter(col("p") === "b")
    assert(qb.count() == 1000L)
    val listed = qb.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec
          if f.relation.location.isInstanceOf[TxFileIndex] =>
        f.relation.location.listFiles(f.partitionFilters, f.dataFilters)
          .flatMap(_.files.map(_.getPath.toString))
    }.flatten
    assert(listed.nonEmpty && listed.forall(_.contains("/p=b/")), listed)
    // an overlapping delete matches only rows the anti-joined scan
    // still serves: the summed vectors grow by the new rows alone
    TxLog.deleteMor(s, dir, col("k") >= 4040000L && col("k") < 4060000L)
    assert(TxLog.snapshot(s, dir).files.map(_.dvRows).sum == 4060000L)
    assert(s.read.format("txlog").load(dir).count() == 41000L)
  }

  test("updateMor: old positions vectored, images appended, one commit") {
    val s = spark
    import s.implicits._
    val dir = tmp("txdvupd").toString
    val data = (1L to 300L).map(i => (i, s"name_$i")).toDF("id", "name")
      .repartitionByRange(3, col("id"))
    TxLog.commitOverwrite(spark, dir, data, statsCols = Seq("id"))
    val pre = TxLog.snapshot(spark, dir)

    val v = TxLog.updateMor(spark, dir, col("id") <= 50,
      Map("name" -> lit("X")))
    assert(v == pre.version + 1)
    val post = TxLog.snapshot(spark, dir)
    // touched file survives by path with a vector; images are new files
    assert(pre.files.map(_.path).toSet.subsetOf(
      post.files.map(_.path).toSet))
    assert(post.files.count(_.dv.isDefined) == 1)
    assert(post.files.size > pre.files.size)
    val out = TxLog.read(spark, dir).as[(Long, String)].collect().toMap
    assert(out.size == 300)
    assert((1L to 50L).forall(out(_) == "X"))
    assert((51L to 300L).forall(i => out(i) == s"name_$i"))
    // history shows ONE commit for the whole update
    assert(TxLog.snapshot(spark, dir).version == pre.version + 1)

    // CHECK constraints gate the images with nothing staged on refusal
    TxLog.addCheckConstraint(spark, dir, "name_nonempty",
      "length(name) > 0")
    val before = TxLog.snapshot(spark, dir)
    intercept[IllegalArgumentException] {
      TxLog.updateMor(spark, dir, col("id") === 60,
        Map("name" -> lit("")))
    }
    assert(TxLog.snapshot(spark, dir).version == before.version)
    assert(TxLog.vacuum(spark, dir, retainVersions = Int.MaxValue) == 0,
      "refused updateMor left staged data or vectors behind")
  }

  test("merge-on-read concurrency: a moved vector pointer conflicts") {
    val s = spark
    import s.implicits._
    val dir = tmp("txdvrace").toString
    TxLog.commitOverwrite(spark, dir,
      (1L to 100L).map(i => (i, s"name_$i")).toDF("id", "name"))
    val stale = TxLog.snapshot(spark, dir)
    // writer A lands a vector on the file
    TxLog.deleteMor(spark, dir, col("id") === 1)
    // writer B committed against the STALE snapshot: same path still
    // live, but its vector moved — liveness alone would lose A's
    // delete; the pinned pointer must conflict
    val f0 = stale.files.head
    intercept[java.util.ConcurrentModificationException] {
      TxLog.commitStaged(spark, dir, "delete-dv",
        Seq(f0.copy(dv = Some("_graft_dv/bogus"), dvRows = 1)),
        Seq(f0.path), removeAll = false, stale.schemaJson, None,
        staged = Nil, expectDv = Map(f0.path -> f0.dv))
    }
    // same hazard for copy-on-write paths reading the file: a stale
    // compact/delete/update/merge must not materialize A away
    intercept[java.util.ConcurrentModificationException] {
      TxLog.commitStaged(spark, dir, "compact",
        Seq(f0), Seq(f0.path), removeAll = false, stale.schemaJson,
        None, staged = Nil,
        expectDv = stale.files.map(fl => fl.path -> fl.dv).toMap)
    }
    // disjoint-file MoR deletes commute (fresh snapshots, no conflict)
    assert(idSet(TxLog.read(spark, dir)) == (2L to 100L).toSet)
  }

  test("compact materializes vectors; vacuum collects superseded ones") {
    val s = spark
    import s.implicits._
    val dir = tmp("txdvcompact").toString
    TxLog.commitOverwrite(spark, dir,
      (1L to 200L).map(i => (i, s"name_$i")).toDF("id", "name")
        .repartition(2), statsCols = Seq("id"))
    TxLog.deleteMor(spark, dir, col("id") <= 10)  // vector 1
    TxLog.deleteMor(spark, dir, col("id") <= 20)  // vector 2 supersedes
    val dvRoot = new java.io.File(dir, TxLog.DvDir)
    assert(dvRoot.listFiles().length == 2)
    // with full retention both vectors are still referenced by SOME
    // retained version — vacuum must keep them
    assert(TxLog.vacuum(spark, dir, retainVersions = Int.MaxValue) == 0)
    // head-only retention: the superseded vector goes, the live stays
    assert(TxLog.vacuum(spark, dir) == 1)
    assert(dvRoot.listFiles().length == 1)
    assert(idSet(TxLog.read(spark, dir)) == (21L to 200L).toSet)
    // restore cannot reach the version whose vector was collected
    val err = intercept[IllegalArgumentException] {
      TxLog.restore(spark, dir, 1)
    }
    assert(err.getMessage.contains("deletion vector"))

    // compaction materializes: no entry carries a vector afterwards
    TxLog.compact(spark, dir, targetFiles = 1)
    val post = TxLog.snapshot(spark, dir)
    assert(post.files.forall(_.dv.isEmpty))
    assert(idSet(TxLog.read(spark, dir)) == (21L to 200L).toSet)
    // and the last vector is now unreferenced at the head → collected
    assert(TxLog.vacuum(spark, dir) >= 1)
    assert(dvRoot.listFiles().length == 0)
  }

  test("changeFeed replays through merge-on-read commits") {
    val s = spark
    import s.implicits._
    val dir = tmp("txdvcdf").toString
    TxLog.commitOverwrite(spark, dir, df(1, 2, 3, 4, 5, 6),
      statsCols = Seq("id"))                                    // v0
    TxLog.deleteMor(spark, dir, col("id") <= 2)                 // v1
    TxLog.updateMor(spark, dir, col("id") === 5,
      Map("name" -> lit("five")))                               // v2
    TxLog.deleteMor(spark, dir, col("id") === 3)                // v3

    def rowsOf(d: DataFrame): Seq[(Long, String)] =
      d.select("id", "name").as[(Long, String)].collect().toSeq
    def multiset(rs: Seq[(Long, String)]): Map[(Long, String), Int] =
      rs.groupBy(identity).view.mapValues(_.size).toMap

    val feed = TxLog.changeFeed(spark, dir, 0)
      .select(col("id"), col("name"), col("_change_type"),
        col("_commit_version")).collect()
    // v1 deletes exactly rows 1,2 — NOT the rows v3 deletes later
    // (the per-commit diff is vector(v) ∖ vector(v−1), not the head)
    assert(feed.filter(_.getLong(3) == 1L)
      .map(r => (r.getString(2), r.getLong(0))).toSet ==
      Set(("delete", 1L), ("delete", 2L)))
    // the MoR update is one delete + one insert pair
    assert(feed.filter(_.getLong(3) == 2L)
      .map(r => (r.getString(2), r.getLong(0), r.getString(1)))
      .toSet == Set(("delete", 5L, "name_5"), ("insert", 5L, "five")))
    assert(feed.filter(_.getLong(3) == 3L)
      .map(r => (r.getString(2), r.getLong(0))).toSet ==
      Set(("delete", 3L)))
    // THE invariant: snapshot(0) + feed = head
    val state = scala.collection.mutable.Map[(Long, String), Int]()
      .withDefaultValue(0)
    multiset(rowsOf(TxLog.read(spark, dir, Some(0)))).foreach {
      case (k, n) => state(k) = n
    }
    feed.sortBy(_.getLong(3)).foreach { r =>
      val k = (r.getLong(0), r.getString(1))
      r.getString(2) match {
        case "insert" => state(k) += 1
        case "delete" =>
          assert(state(k) > 0, s"deleting absent row $k"); state(k) -= 1
      }
    }
    assert(state.filter(_._2 > 0).toMap ==
      multiset(rowsOf(TxLog.read(spark, dir))))

    // changesSince refuses the span (a vector REMOVES rows)
    intercept[IllegalArgumentException] {
      TxLog.changesSince(spark, dir, 0)
    }
    // medallion MoR delegation reads back consistently
    val root = tmp("medmor").toString
    val p = new MedallionPipeline(spark, root, useTxLog = true)
    p.write(DataZone.Bronze, "pts",
      (1L to 50L).map(i => (i, s"n$i")).toDF("id", "name"),
      LoadType.Full)
    p.deleteWhere(DataZone.Bronze, "pts", col("id") <= 10, mor = true)
    p.updateWhere(DataZone.Bronze, "pts", col("id") === 11,
      Map("name" -> lit("next")), mor = true)
    val out = p.read(DataZone.Bronze, "pts").as[(Long, String)]
      .collect().toMap
    assert(out.size == 40 && out(11L) == "next" && !out.contains(5L))
    assert(p.countRows(DataZone.Bronze, "pts") == 40)
  }

  // ---- column mapping (rename / drop without rewrite) --------------

  test("renameColumn: metadata-only commit — files untouched, reads faithful") {
    val s = spark
    import s.implicits._
    val dir = tmp("txrename").toString
    TxLog.commitOverwrite(spark, dir,
      (1L to 300L).map(i => (i, s"name_$i")).toDF("id", "name")
        .repartitionByRange(3, col("id")), statsCols = Seq("id"))
    val pre = TxLog.snapshot(spark, dir)

    val v = TxLog.renameColumn(spark, dir, "name", "title")
    assert(v == pre.version + 1)
    val post = TxLog.snapshot(spark, dir)
    // NOT ONE file entry changed — rename is a KB of metadata
    assert(post.files == pre.files)
    assert(TxLog.read(spark, dir).columns.toSeq == Seq("id", "title"))
    assert(TxLog.read(spark, dir).filter(col("id") === 7)
      .select("title").as[String].head() == "name_7")
    // time travel is schema-faithful: the old version keeps "name"
    assert(TxLog.read(spark, dir, Some(pre.version)).columns.toSeq ==
      Seq("id", "name"))

    // stats-in-log pruning survives renaming the STATS column itself
    TxLog.renameColumn(spark, dir, "id", "key")
    val pruned = TxLog.readPruned(spark, dir, "key", 1, 5)
    assert(pruned.inputFiles.length < 3)
    assert(pruned.filter(col("key").between(1, 5)).count() == 5)
    assert(TxLog.countWhere(spark, dir, Seq(("key", 1L, 100L))) == 100)

    // appends speak the NEW logical schema but write the OLD physical
    // layout — a renamed table keeps accepting data with no rewrite
    TxLog.commitAppend(spark, dir,
      Seq((1000L, "late")).toDF("key", "title"), statsCols = Seq("key"))
    assert(TxLog.read(spark, dir).count() == 301)
    val newFile = TxLog.snapshot(spark, dir).files.map(_.path)
      .diff(pre.files.map(_.path)).head
    assert(spark.read.parquet(s"$dir/$newFile").columns.toSeq ==
      Seq("id", "name"), "appended file must keep the physical layout")

    // DML through the mapping: predicates and sets use logical names
    TxLog.update(spark, dir, col("key") === 1000L,
      Map("title" -> lit("LATE")))
    TxLog.deleteMor(spark, dir, col("key") <= 10)
    val outMap = TxLog.read(spark, dir).as[(Long, String)].collect().toMap
    assert(outMap(1000L) == "LATE" && !outMap.contains(5L) &&
      outMap.size == 291)

    // refusals: unknown source, existing target, constraint-bound
    intercept[IllegalArgumentException] {
      TxLog.renameColumn(spark, dir, "nope", "x")
    }
    intercept[IllegalArgumentException] {
      TxLog.renameColumn(spark, dir, "key", "title")
    }
    TxLog.addCheckConstraint(spark, dir, "title_nonempty",
      "length(title) > 0")
    val err = intercept[IllegalArgumentException] {
      TxLog.renameColumn(spark, dir, "title", "headline")
    }
    assert(err.getMessage.contains("title_nonempty"))
  }

  test("dropColumn: retired physical can never resurrect into a re-add") {
    val s = spark
    import s.implicits._
    val dir = tmp("txdrop").toString
    TxLog.commitOverwrite(spark, dir,
      (1L to 100L).map(i => (i, s"n$i", i * 10L))
        .toDF("id", "name", "score"))
    val pre = TxLog.snapshot(spark, dir)

    TxLog.dropColumn(spark, dir, "score")
    assert(TxLog.snapshot(spark, dir).files == pre.files) // no rewrite
    assert(TxLog.read(spark, dir).columns.toSeq == Seq("id", "name"))
    // time travel still sees the dropped column's values
    assert(TxLog.read(spark, dir, Some(pre.version))
      .filter(col("id") === 3).select("score").as[Long].head() == 30L)

    // THE resurrection pin: re-add "score" via mergeSchema — old rows
    // must read NULL, never the dropped 10·id values lingering in
    // their files' physical "score" column
    TxLog.commitAppend(spark, dir,
      Seq((200L, "new", 7L)).toDF("id", "name", "score"),
      mergeSchema = true)
    val scores = TxLog.read(spark, dir)
      .select(col("id"), col("score")).as[(Long, Option[Long])]
      .collect().toMap
    assert(scores(200L).contains(7L))
    assert(scores(3L).isEmpty,
      s"dropped column resurrected: id=3 reads ${scores(3L)}")
    // the re-added column lives under a FRESH physical name
    val snap = TxLog.snapshot(spark, dir)
    val physScore = snap.phys("score")
    assert(physScore != "score" && physScore.startsWith("score_"))

    // refusals
    intercept[IllegalArgumentException] {
      TxLog.dropColumn(spark, dir, "absent")
    }
    TxLog.addCheckConstraint(spark, dir, "id_pos", "id > 0")
    assert(intercept[IllegalArgumentException] {
      TxLog.dropColumn(spark, dir, "id")
    }.getMessage.contains("id_pos"))
    val dir2 = tmp("txdroplast").toString
    TxLog.commitOverwrite(spark, dir2, Seq(Tuple1(1L)).toDF("only"))
    intercept[IllegalArgumentException] {
      TxLog.dropColumn(spark, dir2, "only")
    }
  }

  test("column mapping: checkpoints, compaction, change feed, restore, stream") {
    val s = spark
    import s.implicits._
    val dir = tmp("txmapfull").toString
    TxLog.commitOverwrite(spark, dir,
      (1L to 50L).map(i => (i, s"n$i")).toDF("id", "name"))   // v0
    TxLog.renameColumn(spark, dir, "name", "label")           // v1
    val sinceForFeed = 1L
    (1 to 10).foreach(i => TxLog.commitAppend(spark, dir,
      Seq((100L + i, s"x$i")).toDF("id", "label")))           // v2..v11
    // v10 wrote a checkpoint — the mapping must survive replay from it
    assert(TxLog.snapshot(spark, dir).mapping == Map("label" -> "name"))
    assert(TxLog.read(spark, dir).columns.toSeq == Seq("id", "label"))

    // changesSince across the span reads LOGICAL names
    val delta = TxLog.changesSince(spark, dir, sinceForFeed)
    assert(delta.columns.toSeq == Seq("id", "label") && delta.count() == 10)
    // changeFeed too (rename itself contributes no rows)
    val feed = TxLog.changeFeed(spark, dir, 0)
    assert(feed.filter(col("_change_type") === "insert").count() == 10)
    assert(feed.columns.contains("label"))

    // compaction rewrites under the SAME physical layout
    TxLog.compact(spark, dir, targetFiles = 1)
    val cFile = TxLog.snapshot(spark, dir).files.head.path
    assert(spark.read.parquet(s"$dir/$cFile").columns.toSeq ==
      Seq("id", "name"), "compaction must keep the physical layout")
    assert(TxLog.read(spark, dir).columns.toSeq == Seq("id", "label"))
    assert(TxLog.read(spark, dir).count() == 60)

    // restore to v0 brings the OLD logical schema (and mapping) back
    TxLog.restore(spark, dir, 0)
    assert(TxLog.read(spark, dir).columns.toSeq == Seq("id", "name"))
    assert(TxLog.snapshot(spark, dir).mapping.isEmpty)

    // the streaming source reads a renamed table under logical names
    val dir3 = tmp("txmapstream").toString
    TxLog.commitOverwrite(spark, dir3,
      Seq((1L, "a")).toDF("id", "name"))
    TxLog.renameColumn(spark, dir3, "name", "tag")
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val q = spark.readStream.format("txlog").load(dir3)
      .writeStream.outputMode("append")
      .option("checkpointLocation", tmp("txmapck").toString)
      .foreachBatch { (b: DataFrame, _: Long) =>
        got ++= b.select("id", "tag").as[(Long, String)].collect(); ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    assert(got.toSet == Set((1L, "a")))
  }

  test("log-format generations: features record minReader, future tables refuse loudly") {
    val s = spark
    import s.implicits._
    val dir = tmp("txproto").toString
    TxLog.commitOverwrite(spark, dir, df(1, 2, 3))
    // a base table demands nothing
    assert(TxLog.snapshot(spark, dir).minReader == 1)
    // deletion vectors raise the requirement to generation 2…
    TxLog.deleteMor(spark, dir, col("id") === 1)
    assert(TxLog.snapshot(spark, dir).minReader == 2)
    // …column mapping to 3 — and the requirement is MONOTONE
    TxLog.renameColumn(spark, dir, "name", "label")
    assert(TxLog.snapshot(spark, dir).minReader == 3)
    TxLog.commitAppend(spark, dir, Seq((9L, "x")).toDF("id", "label"))
    assert(TxLog.snapshot(spark, dir).minReader == 3)
    // …survives checkpoints (cross the interval)
    (1 to 10).foreach(i => TxLog.commitAppend(spark, dir,
      Seq((100L + i, "y")).toDF("id", "label")))
    assert(TxLog.snapshot(spark, dir).minReader == 3)
    assert(idSet(TxLog.read(spark, dir)) ==
      Set(2L, 3L, 9L) ++ (101L to 110L))

    // a table written by a FUTURE generation refuses with an upgrade
    // message — never a silent partial read
    val head = TxLog.snapshot(spark, dir).version
    val commit = java.nio.file.Paths.get(dir, "_graft_log",
      f"${head + 1}%020d.json")
    java.nio.file.Files.write(commit,
      (s"""{"version":${head + 1},"op":"append","add":[],""" +
        s""""remove":[],"minReader":99}""").getBytes(UTF_8))
    val err = intercept[IllegalArgumentException] {
      TxLog.snapshot(spark, dir)
    }
    assert(err.getMessage.contains("generation 99"))
    // …but time travel BELOW the future commit still works
    assert(TxLog.read(spark, dir, Some(head)).count() == 13)
  }

  // ---- shallow clone -----------------------------------------------

  test("shallow clone: zero copy, independent evolution, compact makes it self-contained") {
    val s = spark
    import s.implicits._
    val src = tmp("txclsrc").toString
    val dst = tmp("txcldst").toString
    // a source with the full feature surface active: stats, a CHECK
    // constraint, a renamed column (mapping) and a deletion vector
    TxLog.commitOverwrite(spark, src,
      (1L to 200L).map(i => (i, s"n$i")).toDF("id", "name")
        .repartitionByRange(2, col("id")), statsCols = Seq("id"))
    TxLog.addCheckConstraint(spark, src, "id_pos", "id > 0")
    TxLog.renameColumn(spark, src, "name", "label")
    TxLog.deleteMor(spark, src, col("id") <= 5)

    TxLog.clone(spark, src, dst)
    // ZERO data copied: the clone dir holds only its log
    val dataIn = new java.io.File(dst).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_"))
    assert(dataIn.isEmpty, s"clone copied data: ${dataIn.mkString(",")}")
    // reads equal, logical names, vectors honored, stats prune
    assert(idSet(TxLog.read(spark, dst)) == (6L to 200L).toSet)
    assert(TxLog.read(spark, dst).columns.toSeq == Seq("id", "label"))
    // (inputFiles also counts the deletion-vector relation, so
    // compare against the unpruned read rather than a raw file count)
    assert(TxLog.readPruned(spark, dst, "id", 10, 20).inputFiles.length
      < TxLog.read(spark, dst).inputFiles.length)
    // constraints carried over
    intercept[IllegalArgumentException] {
      TxLog.commitAppend(spark, dst, Seq((-1L, "bad")).toDF("id", "label"))
    }
    // a time-travel clone of the PRE-delete version
    val dstOld = tmp("txclold").toString
    TxLog.clone(spark, src, dstOld, asOf = Some(0L))
    assert(TxLog.read(spark, dstOld).count() == 200)
    // cloning onto an existing table refuses
    intercept[IllegalArgumentException] { TxLog.clone(spark, src, dst) }

    // independent evolution: writes to the clone never touch the
    // source (and vice versa)
    val srcFilesBefore = new java.io.File(src).listFiles()
      .filter(_.isFile).map(_.getName).toSet
    TxLog.commitAppend(spark, dst, Seq((900L, "mine")).toDF("id", "label"))
    TxLog.delete(spark, dst, col("id").between(100L, 110L)) // CoW on a
    // cloned ABSOLUTE file: the rewrite lands in the CLONE's dir
    assert(new java.io.File(src).listFiles().filter(_.isFile)
      .map(_.getName).toSet == srcFilesBefore,
      "clone DML mutated the source dir")
    assert(idSet(TxLog.read(spark, dst)) ==
      ((6L to 99L) ++ (111L to 200L)).toSet + 900L)
    assert(idSet(TxLog.read(spark, src)) == (6L to 200L).toSet)
    TxLog.deleteMor(spark, src, col("id") === 50) // source moves on
    assert(idSet(TxLog.read(spark, dst)).contains(50L),
      "source DML leaked into the clone")

    // the change feed follows MoR deletes on CLONED (absolute-path)
    // files — vectors key by bare file name, not entry path
    val cdfSince = TxLog.snapshot(spark, dst).version
    TxLog.deleteMor(spark, dst, col("id") === 7)
    val dels = TxLog.changeFeed(spark, dst, cdfSince)
      .filter(col("_change_type") === "delete")
      .select("id").as[Long].collect().toSeq
    assert(dels == Seq(7L),
      s"clone change feed missed the vector delete: $dels")

    // the clone's vacuum reaps only its own dir — every source file
    // survives it
    TxLog.vacuum(spark, dst)
    assert(new java.io.File(src).listFiles().filter(_.isFile)
      .map(_.getName).toSet == srcFilesBefore,
      "clone vacuum deleted source files")
    assert(idSet(TxLog.read(spark, dst)).size == 184)

    // compact → self-contained: all entries dir-relative; after that
    // even vacuuming the source's dead history cannot hurt the clone
    TxLog.compact(spark, dst, targetFiles = 2, statsCols = Seq("id"))
    assert(TxLog.snapshot(spark, dst).files.forall(f =>
      !f.path.startsWith("/")), "compact left absolute references")
    TxLog.commitOverwrite(spark, src,
      Seq((1L, "gone")).toDF("id", "label")) // source replaces all
    TxLog.vacuum(spark, src)                 // … and reaps history
    assert(idSet(TxLog.read(spark, dst)).size == 184,
      "self-contained clone must survive source vacuum")

    // clone-of-clone: absolute entries pass through verbatim, the
    // clone's own relative files absolutize against ITS dir
    val dst2 = tmp("txclone2").toString
    // dstOld still references src@v0, whose files the source vacuum
    // just reaped — the grandclone must refuse AT CLONE TIME with the
    // vacuum message, never hand out a table that dies on first read
    val cloneErr = intercept[IllegalArgumentException] {
      TxLog.clone(spark, dstOld, dst2)
    }
    assert(cloneErr.getMessage.contains("vacuumed"))
    val dst3 = tmp("txclone3").toString
    TxLog.clone(spark, dst, dst3) // the SELF-CONTAINED clone clones fine
    assert(idSet(TxLog.read(spark, dst3)) == idSet(TxLog.read(spark, dst)))
  }

  // ---- write-time per-file stats ------------------------------------

  /** For every live file: the row count and stats a SCAN of that file
    * computes with [[TxLog.statAggExprs]] — what staging recorded
    * before it collected stats inside the write. Stats columns are the
    * LOGICAL names; files key them by physical name. */
  private def assertStatsMatchScan(dir: String, statsCols: Seq[String])
      : Unit = {
    val snap = TxLog.snapshot(spark, dir)
    val logical = org.apache.spark.sql.types.DataType
      .fromJson(snap.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val phys = org.apache.spark.sql.types.StructType(
      logical.fields.map(f => f.copy(name = snap.phys(f.name))))
    val dtypes = phys.fields.map(f => f.name -> f.dataType.catalogString)
      .toMap
    val cols = statsCols.map(snap.phys)
    assert(snap.files.nonEmpty)
    snap.files.foreach { f =>
      val r = spark.read.schema(phys).option("basePath", dir)
        .parquet(TxLog.resolveData(dir, f.path))
        .agg(count(lit(1)).as("n"), TxLog.statAggExprs(cols, dtypes): _*)
        .head()
      val n = r.getLong(0)
      assert(f.rows == n, f.path)
      val expected =
        if (n == 0L) Map.empty[String, TxLog.ColStats]
        else TxLog.statsOfRow(r, cols, dtypes)
      assert(f.stats == expected, f.path)
      assert(f.bytes.contains(
        Files.size(java.nio.file.Paths.get(TxLog.resolveData(dir, f.path)))))
    }
  }

  private def withConf[A](kvs: (String, String)*)(f: => A): A = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("write-time file stats equal a scan: types, NaN and -0.0, nulls, empty tasks") {
    // non-UTC session zone: timestamps render (and order) through it,
    // and the rows straddle the 2024-03-10 US DST switch
    withConf("spark.sql.session.timeZone" -> "America/Los_Angeles") {
      val dir = tmp("txwstats").toString
      def pick(c: org.apache.spark.sql.Column, vs: org.apache.spark.sql.Column*) =
        element_at(array(vs: _*), (c % vs.size + 1).cast("int"))
      // 8 range tasks, the first two filtered empty: task 0 still
      // writes a (0-row) file, task 1 writes none
      def batch(lo: Long, hi: Long) = spark.range(lo, hi, 1, 8)
        .filter(col("id") >= lo + (hi - lo) / 4)
        .select(
          col("id").cast("int").as("i"),
          (col("id") * 1000000007L - 5000000000L).as("l"),
          (col("id") / 7 - 3).cast("decimal(12,3)").as("dec"),
          date_add(lit("2024-02-27").cast("date"), col("id").cast("int"))
            .as("d"),
          timestamp_seconds(lit(1710054000L) + col("id") * 1800).as("ts"),
          pick(col("id"), lit("Zürich"), lit("東京"), lit("ñandú"),
            lit("😀x"), lit("abc"), lit("Ärger")).as("s"),
          pick(col("id") * 3, lit(-0.0), lit(0.0), lit(Double.NaN),
            lit(1.5), lit(-2.5), lit(0.0), lit(-0.0)).as("x"),
          // signed zeros only: min/max tie, the first row seen wins
          pick(col("id"), lit(0.0), lit(-0.0), lit(-0.0)).as("z"),
          lit(null).cast("string").as("nul"))
      val cols = Seq("i", "l", "dec", "d", "ts", "s", "x", "z", "nul")
      TxLog.commitOverwrite(spark, dir, batch(0, 96), statsCols = cols)
      val v0 = TxLog.snapshot(spark, dir)
      assert(v0.files.exists(_.rows == 0L), "an empty task wrote no file")
      // an empty batch, and a batch cut at 7 rows per file
      TxLog.commitAppend(spark, dir, batch(0, 96).limit(0), statsCols = cols)
      withConf("spark.sql.files.maxRecordsPerFile" -> "7") {
        TxLog.commitAppend(spark, dir, batch(96, 200), statsCols = cols)
      }
      assert(TxLog.snapshot(spark, dir).files.count(_.rows == 7L) >= 4)
      assertStatsMatchScan(dir, cols)
      val live = TxLog.snapshot(spark, dir).files.filter(_.rows > 0)
      assert(live.flatMap(_.stats.get("x")).exists(_.max.contains("NaN")))
      val z = live.flatMap(_.stats.get("z")).flatMap(st => st.min ++ st.max)
      assert(z.contains("-0.0") && z.contains("0.0"), z)
      live.foreach { f =>
        val nul = f.stats("nul")
        assert(nul.min.isEmpty && nul.max.isEmpty &&
          nul.nulls.contains(f.rows), f.path)
      }
    }
  }

  test("write-time file stats equal a scan: '%' and spaces in partitions, renames") {
    val s = spark
    import s.implicits._
    val dir = tmp("txwstatsp").toString
    val langs = Seq("100%", "a b", "x%20y", "plain")
    def rows(lo: Int, hi: Int) = (lo until hi).map(i =>
      (i.toLong, s"v$i", langs(i % langs.size))).toDF("k", "v", "lang")
    rows(0, 20).write.mode("overwrite").partitionBy("lang").parquet(dir)
    TxLog.convertInPlace(spark, dir, statsCols = Seq("k", "v"))
    withConf("spark.sql.files.maxRecordsPerFile" -> "5") {
      TxLog.commitAppend(spark, dir, rows(20, 120),
        statsCols = Seq("k", "v", "lang"))
    }
    val snap = TxLog.snapshot(spark, dir)
    assert(snap.partitionCols == Seq("lang"))
    assert(snap.files.exists(_.path.startsWith("lang=100%25/")), snap.files)
    assert(snap.files.count(_.rows == 5L) >= 8, snap.files)
    assertStatsMatchScan(dir, Seq("k", "v", "lang"))
    assert(TxLog.read(spark, dir).where($"lang" === "100%").count() == 30)

    // column mapping: a renamed column's stats key by its physical name
    val flat = tmp("txwstatsm").toString
    TxLog.commitOverwrite(spark, flat, rows(0, 10), statsCols = Seq("k", "v"))
    TxLog.renameColumn(spark, flat, "v", "w")
    TxLog.commitAppend(spark, flat,
      rows(10, 30).withColumnRenamed("v", "w"), statsCols = Seq("k", "w"))
    val m = TxLog.snapshot(spark, flat)
    assert(m.phys("w") != "w")
    assert(m.files.exists(_.stats.contains(m.phys("w"))))
    assertStatsMatchScan(flat, Seq("k", "w"))
  }

  test("staged commits launch no stats re-scan job; their writes stay labelled") {
    val s = spark
    import s.implicits._
    val sc = spark.sparkContext
    // (label, SQL execution id, call site) per job: one query can
    // launch several jobs under adaptive execution
    val labels = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(String, String, String)]())
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(js.properties)
          .flatMap(p => Option(p.getProperty(k))).getOrElse("")
        labels.add((prop("spark.job.description"),
          prop("spark.sql.execution.id"),
          js.stageInfos.map(_.details).mkString("\n"))); ()
      }
    }
    def jobsOf(op: => Unit): Seq[(String, String, String)] = {
      org.apache.spark.GraftSparkAccess.waitUntilListenerBusEmpty(sc, 30000)
      labels.clear()
      op
      org.apache.spark.GraftSparkAccess.waitUntilListenerBusEmpty(sc, 30000)
      labels.toArray.map(_.asInstanceOf[(String, String, String)]).toSeq
    }
    // stats pruning and its bound casts run on the driver: no job may
    // come from them
    def pruningJobs(jobs: Seq[(String, String, String)]) =
      jobs.filter(j => Seq("canonicalBound", "prunedSnapshotFiles")
        .exists(j._3.contains))
    val dir = tmp("txjobs").toString
    val pdir = tmp("txjobsp").toString
    def kv(lo: Long, hi: Long) = (lo until hi).map(i =>
      (i, s"n$i", s"p${i % 3}")).toDF("id", "name", "p")
    kv(0, 10).write.mode("overwrite").partitionBy("p").parquet(pdir)
    TxLog.convertInPlace(spark, pdir, statsCols = Seq("id"))
    sc.addSparkListener(listener)
    try {
      val ops = Seq[(String, () => Unit)](
        "overwrite" -> (() => TxLog.commitOverwrite(spark, dir, kv(0, 40),
          statsCols = Seq("id"))),
        "append" -> (() => TxLog.commitAppend(spark, dir, kv(40, 60),
          statsCols = Seq("id"))),
        "merge" -> (() => TxLog.merge(spark, dir, kv(50, 70), Seq("id"),
          statsCols = Seq("id"))),
        "applyChanges" -> (() => TxLog.applyChanges(spark, dir,
          kv(65, 75).withColumn("del", $"id" % 2 === 0), Seq("id"), "del",
          statsCols = Seq("id"))),
        "partitioned append" -> (() => TxLog.commitAppend(spark, pdir,
          kv(10, 30), statsCols = Seq("id"))))
      val jobsByOp = ops.map { case (name, op) => name -> jobsOf(op()) }
      jobsByOp.foreach { case (name, jobs) =>
        val ls = jobs.map(_._1)
        assert(!ls.contains("txlog:stage-stats"), s"$name: $ls")
        assert(ls.contains("txlog:stage-write"), s"$name: $ls")
      }
      // merge shares applyChanges' locate step: ONE shape query answers
      // the duplicate guard and the key envelope — a driver fold with
      // no job while the directives are held, one labelled query past
      // the budget (an update-only merge: the row count stays)
      val mergeJobs = jobsByOp.toMap.apply("merge")
      assert(!mergeJobs.exists(_._1 == "txlog:apply-shape"), mergeJobs)
      assert(!mergeJobs.exists(_._1 == "txlog:key-envelope"), mergeJobs)
      val distJobs = TxLog.HeldBudget.withValue(0L)(jobsOf(
        TxLog.merge(spark, dir, kv(50, 55), Seq("id"), statsCols = Seq("id"))))
      val shapeQueries = distJobs.collect {
        case ("txlog:apply-shape", id, _) => id }.distinct
      assert(shapeQueries.size == 1 && shapeQueries.head.nonEmpty, distJobs)
      assert(!distJobs.exists(_._1 == "txlog:key-envelope"), distJobs)
      jobsByOp.foreach { case (name, jobs) =>
        assert(pruningJobs(jobs).isEmpty, s"$name: ${pruningJobs(jobs)}") }
      // pruning a read: metadata only
      val pruned = jobsOf(TxLog.readPrunedAll(spark, dir, Seq(("id", 10L, 20L))))
      assert(pruned.isEmpty, pruned)
      // a range-filtered read of a partitioned logged table plans
      // without a job (the file index prunes once per partition value)
      val ranged = spark.read.format("txlog").load(pdir).filter(col("id") > 5L)
      val planning = jobsOf(ranged.queryExecution.executedPlan)
      assert(planning.isEmpty, planning)
      assert(ranged.count() == 24)

      // the five predicate verbs: ONE labelled touched-probe query each,
      // and no more jobs than when each bound cast was a job of its own
      // (the counts measured then)
      val vdir = tmp("txjobsv").toString
      TxLog.commitOverwrite(spark, vdir, kv(0, 40).repartitionByRange(4, $"id"),
        statsCols = Seq("id"))
      // countWhere over files the interval fully contains: metadata only
      val counted = jobsOf(assert(TxLog.countWhere(spark, vdir,
        Seq(("id", 0L, 39L))) == 40))
      assert(counted.isEmpty, counted)
      val verbs = Seq[(String, Int, () => Unit)](
        ("delete", 4, () => TxLog.delete(spark, vdir, $"id" >= 36L)),
        ("replaceWhere", 6, () => TxLog.replaceWhere(spark, vdir, kv(30, 33),
          $"id" >= 30L && $"id" < 33L)),
        ("update", 5, () => TxLog.update(spark, vdir, $"id" === 25L,
          Map("name" -> lit("u")))),
        ("deleteMor", 5, () => TxLog.deleteMor(spark, vdir, $"id" <= 3L)),
        ("updateMor", 8, () => TxLog.updateMor(spark, vdir, $"id" === 12L,
          Map("name" -> lit("v")))))
      verbs.foreach { case (name, maxJobs, op) =>
        val jobs = jobsOf(op())
        val probes = jobs.collect { case ("txlog:touched-probe", id, _) => id }
        assert(probes.distinct.size == 1 && probes.head.nonEmpty, s"$name: $jobs")
        assert(pruningJobs(jobs).isEmpty, s"$name: ${pruningJobs(jobs)}")
        assert(jobs.size <= maxJobs, s"$name: ${jobs.size} jobs")
      }
    } finally sc.removeSparkListener(listener)
    assert(TxLog.read(spark, dir).count() == 70)
    assert(TxLog.read(spark, pdir).count() == 30)
  }

  test("releaseCheckpoint frees the frame's own checkpoint, never the one beneath it") {
    val sc = spark.sparkContext
    def rddOf(d: DataFrame) = d.queryExecution.analyzed
      .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd
    def cached(d: DataFrame): Boolean = sc.getRDDStorageInfo
      .exists(i => i.id == rddOf(d).id && i.numCachedPartitions > 0)
    // a zero budget keeps both frames distributed (executor blocks)
    val (inner, outer) = TxLog.HeldBudget.withValue(0L) {
      val in = TxLog.checkpointed(spark.range(0, 100, 1, 4).toDF("id"), "inner")
      (in, TxLog.checkpointed(in.filter(col("id") % 2 === 0), "outer"))
    }
    assert(cached(inner) && cached(outer))
    // a frame DERIVED from checkpoints is not a handle: refused, and
    // nothing is freed
    intercept[IllegalArgumentException] {
      TxLog.releaseCheckpoint(outer.join(inner, "id"))
    }
    assert(cached(inner) && cached(outer))
    TxLog.releaseCheckpoint(outer)
    assert(!sc.getPersistentRDDs.contains(rddOf(outer).id))
    assert(cached(inner))
    assert(inner.count() == 100L) // still readable: its blocks are live
    TxLog.releaseCheckpoint(inner)
    assert(!sc.getPersistentRDDs.contains(rddOf(inner).id))
  }

  test("predicate DML prunes on IN hulls, IS NULL and prefix LIKE") {
    val s = spark
    import s.implicits._
    val dir = tmp("txskipshapes").toString
    // eight files laid out by k: file i holds k in [10i, 10i + 9] and
    // s = <letter i> + k; only file 7 holds a null k
    val letters = Seq("a", "c", "e", "g", "m", "p", "r", "t")
    letters.zipWithIndex.foreach { case (l, i) =>
      val df = (0 until 10).map { j =>
        val k = 10L * i + j
        (Option.when(!(i == 7 && j == 9))(k), s"$l$k")
      }.toDF("k", "s").coalesce(1)
      if (i == 0)
        TxLog.commitOverwrite(spark, dir, df, statsCols = Seq("k", "s"))
      else TxLog.commitAppend(spark, dir, df, statsCols = Seq("k", "s"))
    }
    val snap = TxLog.snapshot(spark, dir)
    assert(snap.files.size == 8)
    def fileOf(k: Long): String = TxLog.read(spark, dir)
      .filter(col("k") === k).select(input_file_name()).as[String]
      .head().split('/').last
    def cands(pred: org.apache.spark.sql.Column): Set[String] =
      TxLog.predicatePrune(spark, snap, pred)(snap.files)
        .map(_.path.split('/').last).toSet
    assert(cands(col("k").isin(3L, 7L)) == Set(fileOf(3L)))
    assert(cands(col("k").isNull) == Set(fileOf(70L)))
    assert(cands(col("s").like("p%")) == Set(fileOf(50L)))
    // the verbs that locate through it keep exact row results
    TxLog.delete(spark, dir, col("k").isin(3L, 7L) || col("k").isNull)
    TxLog.deleteMor(spark, dir, col("s").like("p%"))
    assert(TxLog.read(spark, dir).select("k").as[Long].collect().toSet ==
      ((0L until 79L).toSet -- Set(3L, 7L) -- (50L until 60L)))
  }
}
