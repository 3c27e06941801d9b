package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.{TxFileIndex, TxLog, TxLogBatch}

/** Round-19 pins: statistics on the DV-bearing read
  * path, purify compaction (OPTIMIZE that keeps the partitioned
  * planner presentation), mapping-aware partition columns (rename
  * survives), and the round's advisory fixes (COPY INTO shrink
  * fingerprint, staging stats-row corroboration, partition-filter
  * bind degradation). */
class Round19Spec extends SparkSpec {

  private def tmp(prefix: String): Path =
    Files.createTempDirectory(prefix)

  private def payload(n: Int): DataFrame = {
    val s = spark
    import s.implicits._
    (0 until n).map(i => (i.toLong, i.toLong * 2, s"n$i"))
      .toDF("k", "v", "name")
  }

  private def withConf[T](pairs: (String, String)*)(body: => T): T = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  // ---- DV-bearing snapshots report statistics (V1-fallback leg) ----

  test("logged dim with a standing deletion vector still broadcasts statically") {
    val dir = tmp("r19dvbhj").toString + "/dim"
    TxLog.commitOverwrite(spark, dir,
      payload(100).select(col("k"), col("name")), statsCols = Seq("k"))
    TxLog.deleteMor(spark, dir, col("k") >= 90L)
    assert(TxLog.snapshot(spark, dir).files.exists(_.dv.isDefined),
      "test premise: a deletion vector must be standing")
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val fact = payload(5000).select(col("k"), col("v"))
      val dim = spark.read.format("txlog").load(dir)
      // the planner must see real bytes, not defaultSizeInBytes
      val planned = dim.queryExecution.optimizedPlan.stats.sizeInBytes
      val onDisk = TxLog.snapshot(spark, dir).files.flatMap(_.bytes).sum
      assert(planned > 0 && planned <= BigInt(onDisk) * 2,
        s"DV-bearing snapshot presents $planned (files hold $onDisk B)")
      val j = dim.join(fact, "k").agg(sum("v"))
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin"),
        s"DV-bearing logged dim did not broadcast statically:\n$p")
      assert(!p.contains("SortMergeJoin"), p)
      // and the read is still the CORRECT MoR result
      assert(j.collect().head.getLong(0) ==
        (0 until 90).map(_.toLong * 2).sum)
    }
  }

  test("DV statistics scale bytes by the live-row share and report exact rows") {
    val dir = tmp("r19dvstats").toString + "/t"
    TxLog.commitOverwrite(spark, dir, payload(1000), statsCols = Seq("k"))
    val full = spark.read.format("txlog").load(dir)
      .queryExecution.optimizedPlan.stats.sizeInBytes
    TxLog.deleteMor(spark, dir, col("k") < 500L) // half the rows leave
    val snap = TxLog.snapshot(spark, dir)
    assert(snap.files.exists(_.dvRows > 0L))
    val half = spark.read.format("txlog").load(dir)
      .queryExecution.optimizedPlan.stats.sizeInBytes
    assert(half < full,
      s"DV-adjusted size ($half) should shrink below pre-DV ($full)")
    // rowCount flows under CBO: the index presentation reports the
    // exact live count (planStats alone only exposes leaves)
    withConf("spark.sql.cbo.enabled" -> "true") {
      val rc = spark.read.format("txlog").load(dir)
        .queryExecution.optimizedPlan.stats.rowCount
      assert(rc.contains(BigInt(500)), s"exact rowCount lost: $rc")
    }
  }

  // ---- purify compaction -------------------------------------------

  test("purify compaction keeps the partitioned presentation (flat compact still flattens)") {
    val s = spark
    import s.implicits._
    val dir = tmp("r19purify").toString + "/t"
    (0 until 300).map(i => (i.toLong, i.toLong * 10,
      Seq("en", "fr", "de")(i % 3))).toDF("k", "v", "lang")
      .write.partitionBy("lang").parquet(dir)
    TxLog.convertInPlace(s, dir, statsCols = Seq("k"))
    // two appends → several small files per partition value
    (0 until 2).foreach { a =>
      TxLog.commitAppend(s, dir,
        (300 + a * 30 until 330 + a * 30).map(i =>
          (i.toLong, i.toLong * 10, Seq("en", "fr", "de")(i % 3)))
          .toDF("k", "v", "lang"))
    }
    val before = TxLog.snapshot(s, dir)
    TxLog.compact(s, dir, targetFiles = 3, statsCols = Seq("k"),
      purify = true)
    val after = TxLog.snapshot(s, dir)
    assert(after.files.size < before.files.size,
      s"purify did not reduce files: ${before.files.size} -> " +
        s"${after.files.size}")
    // every rewritten file is partition-dir nested (partition-pure)
    assert(after.files.forall(_.path.contains("lang=")),
      s"purify flattened: ${after.files.map(_.path).take(3)}")
    // the planner presentation survived: reads still file-prune on
    // the partition column through the index
    val t = s.read.format("txlog").load(dir)
    assert(t.count() == 360)
    assert(t.queryExecution.optimizedPlan.stats.sizeInBytes <
      BigInt(Long.MaxValue) / 2, "fell back to the V1 scan")
    val q = t.filter(col("lang") === "fr")
    assert(q.count() == 120)
    val planned = TxLogBatch.lastScan.get()
    assert(planned.nonEmpty && planned.forall(_.contains("lang=fr")),
      s"post-purify partition pruning lost: $planned")
    // the FLAT form keeps its clone-enabling contract: it flattens
    TxLog.compact(s, dir, targetFiles = 2)
    val flat = TxLog.snapshot(s, dir)
    assert(flat.files.forall(!_.path.contains("=")),
      "flat compact should merge across partition values")
    assert(s.read.format("txlog").load(dir).count() == 360)
  }

  test("purify splits a giant partition into several pure files") {
    val s = spark
    import s.implicits._
    val dir = tmp("r19purbig").toString + "/t"
    // one partition value dominates: 9000 of 9600 rows are 'en'
    (0 until 9600).map(i => (i.toLong, i.toLong,
      if (i < 9000) "en" else Seq("fr", "de")(i % 2)))
      .toDF("k", "v", "lang")
      .write.partitionBy("lang").parquet(dir)
    TxLog.convertInPlace(s, dir, statsCols = Seq("k"))
    // targetFiles = 8 → byte target ≈ 1/8 of the live bytes (round
    // 20: purify sizes by BYTES via per-value fan-out, no longer a
    // global rows bound) → 'en' (≈94% of the bytes) must split into
    // several same-sized pure files, never a monolith
    TxLog.compact(s, dir, targetFiles = 8, statsCols = Seq("k"),
      purify = true)
    val snap = TxLog.snapshot(s, dir)
    val enFiles = snap.files.filter(_.path.contains("lang=en"))
    assert(enFiles.size >= 2,
      s"giant partition stayed monolithic: ${enFiles.map(_.path)}")
    // uniform rows ⇒ bytes ∝ rows: every en-file within 2× of the
    // implied per-file share (9000 / enFiles.size)
    val share = 9000.0 / enFiles.size
    assert(enFiles.forall(f => f.rows <= share * 2),
      s"byte sizing not honored: ${enFiles.map(_.rows)}")
    assert(s.read.format("txlog").load(dir).count() == 9600)
  }

  test("purify with zorderBy clusters within partitions (stats envelopes tighten)") {
    val s = spark
    import s.implicits._
    val dir = tmp("r19purz").toString + "/t"
    // k is SHUFFLED within each partition so pre-compact files have
    // wide k envelopes; post-purify the within-partition sort should
    // give per-file envelopes that partition the k range
    val rnd = new scala.util.Random(7)
    rnd.shuffle((0 until 4000).toList).map(i => (i.toLong,
      Seq("en", "fr")(i % 2))).toDF("k", "lang")
      .repartition(4)
      .write.partitionBy("lang").parquet(dir)
    TxLog.convertInPlace(s, dir, statsCols = Seq("k"))
    TxLog.compact(s, dir, targetFiles = 8, statsCols = Seq("k"),
      zorderBy = Seq("k"), purify = true)
    val snap = TxLog.snapshot(s, dir)
    assert(snap.files.forall(_.path.contains("lang=")))
    // a filtered probe prunes to a strict subset of the en files
    val q = s.read.format("txlog").load(dir)
      .filter(col("lang") === "en" && col("k") < 400L)
    assert(q.count() == 200)
    val planned = TxLogBatch.lastScan.get()
    val enFiles = snap.files.count(_.path.contains("lang=en"))
    assert(planned.size < enFiles,
      s"zordered purify should stats-prune within the partition: " +
        s"planned ${planned.size} of $enFiles en-files")
  }

  test("SQL OPTIMIZE purifies a partitioned table by default; FLATTEN opts out") {
    val s = spark
    import s.implicits._
    val dir = tmp("r19sqlopt").toString + "/t"
    (0 until 300).map(i => (i.toLong, Seq("en", "fr", "de")(i % 3)))
      .toDF("k", "lang").write.partitionBy("lang").parquet(dir)
    TxLog.convertInPlace(s, dir, statsCols = Seq("k"))
    TxLog.commitAppend(s, dir,
      (300 until 330).map(i => (i.toLong, Seq("en", "fr", "de")(i % 3)))
        .toDF("k", "lang"))
    s.sql(s"OPTIMIZE '$dir' TARGET 3 FILES")
    val snap = TxLog.snapshot(s, dir)
    assert(snap.files.forall(_.path.contains("lang=")),
      s"SQL OPTIMIZE flattened a partitioned table: " +
        s"${snap.files.map(_.path).take(3)}")
    val t = s.read.format("txlog").load(dir)
    assert(t.filter(col("lang") === "fr").count() == 110)
    assert(TxLogBatch.lastScan.get().forall(_.contains("lang=fr")),
      "partition pruning lost after SQL OPTIMIZE")
    // explicit FLATTEN keeps the clone-enabling flat rewrite
    s.sql(s"OPTIMIZE '$dir' TARGET 1 FILES FLATTEN")
    val flat = TxLog.snapshot(s, dir)
    assert(flat.files.forall(!_.path.contains("=")),
      "FLATTEN should merge across partition values")
    assert(s.read.format("txlog").load(dir).count() == 330)
  }

  test("maintain purifies: DV-heavy partitioned table folds vectors, keeps presentation") {
    val s = spark
    import s.implicits._
    val dir = tmp("r19maint").toString + "/t"
    (0 until 300).map(i => (i.toLong, Seq("en", "fr", "de")(i % 3)))
      .toDF("k", "lang").write.partitionBy("lang").parquet(dir)
    TxLog.convertInPlace(s, dir, statsCols = Seq("k"))
    TxLog.deleteMor(s, dir, col("k") % 2 === 0) // 50% dv rows
    val m = TxLog.maintain(s, dir, maxFiles = 64,
      maxDvFraction = 0.10, targetFiles = 3, statsCols = Seq("k"))
    assert(m.compacted, m.reason)
    val snap = TxLog.snapshot(s, dir)
    assert(snap.files.forall(_.dv.isEmpty), "vectors not folded away")
    assert(snap.files.forall(_.path.contains("lang=")),
      s"maintenance flattened a partitioned table: " +
        s"${snap.files.map(_.path).take(3)}")
    val t = s.read.format("txlog").load(dir)
    assert(t.count() == 150)
    assert(t.filter(col("lang") === "fr").count() == 50)
    assert(TxLogBatch.lastScan.get().forall(_.contains("lang=fr")),
      "partition pruning lost after maintenance")
  }

  test("tasksPerValue salts the partitioned stage: parallel writes stay pure") {
    val s = spark
    import s.implicits._
    val dir = tmp("r19salt").toString + "/t"
    (0 until 10).map(i => (i.toLong, "en")).toDF("k", "lang")
      .write.partitionBy("lang").parquet(dir)
    TxLog.convertInPlace(s, dir, statsCols = Seq("k"))
    val before = TxLog.snapshot(s, dir).files.size
    withConf("spark.graft.write.tasksPerValue" -> "4") {
      // a SINGLE-value batch: default staging would write one task /
      // one file; the salt spreads it over up to 4 tasks
      TxLog.commitAppend(s, dir,
        (10 until 4010).map(i => (i.toLong, "en")).toDF("k", "lang"))
    }
    val snap = TxLog.snapshot(s, dir)
    val fresh = snap.files.drop(before)
    assert(snap.files.size - before >= 2,
      s"salt did not parallelize the stage: ${snap.files.size - before} file(s)")
    assert(snap.files.forall(_.path.contains("lang=en")),
      "salted staging broke partition purity")
    // presentation intact: value recoverable from every file's stats
    val t = s.read.format("txlog").load(dir)
    assert(t.count() == 4010)
    assert(t.filter(col("lang") === "en").count() == 4010)
    assert(t.queryExecution.optimizedPlan.stats.sizeInBytes <
      BigInt(Long.MaxValue) / 2, "salted append dropped the table to V1")
  }

  // ---- mapping-aware partition columns -----------------------------

  test("renaming a partition column keeps the partitioned presentation") {
    val s = spark
    import s.implicits._
    val dir = tmp("r19rename").toString + "/t"
    (0 until 300).map(i => (i.toLong, i.toLong * 10,
      Seq("en", "fr", "de")(i % 3))).toDF("k", "v", "lang")
      .write.partitionBy("lang").parquet(dir)
    TxLog.convertInPlace(s, dir, statsCols = Seq("k"))
    TxLog.renameColumn(s, dir, "lang", "language")
    val t = s.read.format("txlog").load(dir)
    assert(t.columns.toSeq == Seq("k", "v", "language"))
    assert(t.count() == 300)
    // still the indexed presentation with static partition pruning
    assert(t.queryExecution.optimizedPlan.stats.sizeInBytes <
      BigInt(Long.MaxValue) / 2, "rename dropped the table to V1")
    val q = t.filter(col("language") === "fr")
    assert(q.count() == 100)
    val planned = TxLogBatch.lastScan.get()
    val snap = TxLog.snapshot(s, dir)
    assert(planned.size < snap.files.size &&
      planned.forall(_.contains("lang=fr")),
      s"post-rename partition pruning lost: $planned")
    // appends AFTER the rename stay partition-pure (batch carries the
    // NEW logical name; files nest under the unchanged PHYSICAL dirs)
    TxLog.commitAppend(s, dir,
      (300 until 330).map(i => (i.toLong, i.toLong * 10,
        Seq("en", "fr", "de")(i % 3))).toDF("k", "v", "language"))
    val snap2 = TxLog.snapshot(s, dir)
    // paths key by the original relative form; the appended entries
    // must be nested under the physical partition dirs
    val fresh = snap2.files.map(_.path)
      .filterNot(snap.files.map(_.path).toSet)
    assert(fresh.nonEmpty && fresh.forall(_.contains("lang=")),
      s"post-rename append flattened: $fresh")
    val t2 = s.read.format("txlog").load(dir)
    assert(t2.filter(col("language") === "fr").count() == 110)
    assert(TxLogBatch.lastScan.get().forall(_.contains("lang=fr")),
      "post-rename append lost partition pruning")
    // and PURIFY composes with the rename: the registration entry is
    // the physical name, the batch carries the new logical one
    TxLog.compact(s, dir, targetFiles = 3, statsCols = Seq("k"),
      purify = true)
    val snap3 = TxLog.snapshot(s, dir)
    assert(snap3.files.forall(_.path.contains("lang=")),
      s"purify after rename flattened: ${snap3.files.map(_.path).take(3)}")
    assert(s.read.format("txlog").load(dir)
      .filter(col("language") === "fr").count() == 110)
    assert(TxLogBatch.lastScan.get().forall(_.contains("lang=fr")),
      "purify after rename lost partition pruning")
  }

  // ---- COPY INTO: shrunk source fingerprint ------------------------

  test("COPY INTO re-ingests a SHRUNK source once, then goes idle") {
    val s = spark
    import s.implicits._
    val root = tmp("r19shrink")
    val src = s"$root/src"
    val dir = s"$root/t"
    TxLog.commitOverwrite(s, dir,
      Seq((1L, "a")).toDF("k", "name").limit(0))
    Seq((1L, "aaaaaaaaaaaaaaaaaaaaaaaa"), (2L, "b"), (3L, "c"))
      .toDF("k", "name").coalesce(1).write.parquet(src)
    val r1 = TxLog.copyInto(s, dir, src)
    assert(r1.filesLoaded == 1 && r1.rowsInserted == 3)
    // rewrite the source file SMALLER (fewer rows, shorter payload)
    val f = new java.io.File(src).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val tmp2 = s"$root/src2"
    Seq((9L, "x")).toDF("k", "name").coalesce(1).write.parquet(tmp2)
    val nf = new java.io.File(tmp2).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    assert(nf.length() < f.length(), "test premise: rewrite must shrink")
    java.nio.file.Files.copy(nf.toPath, f.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    new java.io.File(f.getParentFile, s".${f.getName}.crc").delete()
    assert(f.setLastModified(f.lastModified() + 2000))
    val r2 = TxLog.copyInto(s, dir, src)
    assert(r2.filesLoaded == 1 && r2.rowsInserted == 1,
      s"shrunk rewrite not re-ingested: $r2")
    // the fingerprint marker must now hold the SHRUNK length —
    // max-replay would pin the old larger one and re-ingest forever
    val r3 = TxLog.copyInto(s, dir, src)
    assert(r3.filesLoaded == 0 && r3.filesSkipped == 1,
      s"COPY INTO after a shrink never settles: $r3")
    assert(TxLog.read(s, dir).count() == 4) // 3 + 1, no duplicates
  }

  // ---- staging stats-row corroboration + special partition values --

  test("partition values with URI-special characters stage and prune correctly") {
    val s = spark
    import s.implicits._
    val dir = tmp("r19esc").toString + "/t"
    // '%' survives one URL-encode ("100%25") — the exact double-decode
    // trap; space and '=' (escaped by the hive layout) ride along
    val vals = Seq("100%", "a b", "plain")
    (0 until 90).map(i => (i.toLong, vals(i % 3))).toDF("k", "p")
      .write.partitionBy("p").parquet(dir)
    TxLog.convertInPlace(s, dir, statsCols = Seq("k"))
    val snap = TxLog.snapshot(s, dir)
    // every registered file carries REAL stats (rows > 0) — a keying
    // drift would have thrown at convert, or recorded rows = 0
    assert(snap.files.forall(_.rows > 0L),
      s"zero-row registration: ${snap.files.filter(_.rows == 0L)}")
    val t = s.read.format("txlog").load(dir)
    assert(t.count() == 90)
    assert(t.filter(col("p") === "100%").count() == 30)
    assert(t.filter(col("p") === "a b").count() == 30)
    // an APPEND carrying the special values stays partition-pure and
    // registers true stats (the staging-side keying contract)
    TxLog.commitAppend(s, dir,
      (90 until 120).map(i => (i.toLong, vals(i % 3))).toDF("k", "p"))
    val snap2 = TxLog.snapshot(s, dir)
    assert(snap2.files.forall(_.rows > 0L),
      "append registered a zero-row file for a special value")
    assert(t.count() == 120 ||
      s.read.format("txlog").load(dir).count() == 120)
    assert(s.read.format("txlog").load(dir)
      .filter(col("p") === "100%").count() == 40)
  }

  // ---- partition-filter bind degrades inside the Try ---------------

  test("an unbindable partition filter degrades to keep-all, not a failure") {
    val s = spark
    import s.implicits._
    val dir = tmp("r19bind").toString + "/t"
    (0 until 60).map(i => (i.toLong, Seq("en", "fr")(i % 2)))
      .toDF("k", "lang").write.partitionBy("lang").parquet(dir)
    TxLog.convertInPlace(s, dir, statsCols = Seq("k"))
    val snap = TxLog.snapshot(s, dir)
    val idx = TxFileIndex.build(s, dir, snap).get
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference,
      EqualTo, Literal}
    import org.apache.spark.sql.types.StringType
    val unknown = EqualTo(
      AttributeReference("no_such_col", StringType)(),
      Literal.create("x", StringType))
    // conservative: the unknown attribute keeps ALL partitions (the
    // engine re-applies filters row-exactly); it must not throw
    val dirs = idx.listFiles(Seq(unknown), Nil)
    assert(dirs.map(_.files.length).sum == snap.files.size,
      "unbindable partition filter should prune nothing")
  }
}
