package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.{TxFileRelation, TxLog, TxLogBatch}

/** Round-18 pins: the TxFileIndex read path (planner-visible
  * statistics → static broadcast; partition values from the log →
  * dynamic partition pruning; stats-in-log file skipping riding every
  * filtered read), plus the round's hardening items. */
class Round18Spec extends SparkSpec {

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

  // ---- exact statistics → static broadcast ------------------------

  test("logged table reports exact sizeInBytes to the planner") {
    val dir = tmp("r18stats").toString + "/t"
    TxLog.commitOverwrite(spark, dir, payload(500), statsCols = Seq("k"))
    val onDisk = TxLog.snapshot(spark, dir).files.flatMap(_.bytes).sum
    assert(onDisk > 0L)
    val planned = spark.read.format("txlog").load(dir)
      .queryExecution.optimizedPlan.stats.sizeInBytes
    // ≤ because the projection may narrow the estimate; the point is
    // the defaultSizeInBytes (Long.MaxValue) sentinel is gone
    assert(planned <= BigInt(onDisk) * 2 && planned > 0,
      s"planner sees $planned, log records $onDisk")
  }

  test("small logged dim ⋈ fact plans a STATIC broadcast, AQE disabled") {
    val dimDir = tmp("r18bhj").toString + "/dim"
    TxLog.commitOverwrite(spark, dimDir,
      payload(100).select(col("k"), col("name")), statsCols = Seq("k"))
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val fact = payload(5000).select(col("k"), col("v"))
      val j = spark.read.format("txlog").load(dimDir)
        .join(fact, "k").agg(sum("v"))
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin"),
        s"logged dim did not broadcast statically:\n$p")
      assert(!p.contains("SortMergeJoin"), p)
      // the dim holds keys 0..99 → the join keeps v = 2k for k < 100
      assert(j.collect().head.getLong(0) ==
        (0 until 100).map(_.toLong * 2).sum)
    }
  }

  test("SQL-registered logged dim broadcasts statically too") {
    val dir = tmp("r18bhjsql").toString + "/t"
    TxLog.commitOverwrite(spark, dir,
      payload(100).select(col("k"), col("name")), statsCols = Seq("k"))
    spark.sql(s"CREATE TABLE r18_dim USING txlog OPTIONS (path '$dir')")
    try withConf("spark.sql.adaptive.enabled" -> "false") {
      payload(5000).select(col("k"), col("v"))
        .createOrReplaceTempView("r18_fact")
      val j = spark.sql(
        "SELECT sum(f.v) FROM r18_fact f JOIN r18_dim d ON f.k = d.k")
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin"),
        s"SQL logged dim did not broadcast statically:\n$p")
    } finally spark.sql("DROP TABLE r18_dim")
  }

  // ---- dynamic partition pruning from log metadata ----------------

  test("partitioned registration gets native DPP (runtime file skipping)") {
    val s = spark
    import s.implicits._
    val dir = tmp("r18dpp").toString + "/t"
    (0 until 900).map(i => (i.toLong, i.toLong * 10,
      Seq("en", "fr", "de")(i % 3))).toDF("k", "v", "lang")
      .write.partitionBy("lang").parquet(dir)
    TxLog.convertInPlace(s, dir, statsCols = Seq("k"))
    // the dim must be file-backed: a local dim constant-folds its
    // filter away and the DPP rule sees no selective predicate
    val dimDir = tmp("r18dppdim").toString + "/dim"
    TxLog.commitOverwrite(s, dimDir,
      Seq(("en", 1), ("fr", 2), ("de", 3), ("xx", 4))
        .toDF("lang", "keep"), statsCols = Seq("keep"))
    val j = s.read.format("txlog").load(dir)
      .join(s.read.format("txlog").load(dimDir)
        .filter(col("keep") === 1), "lang")
      .agg(sum("v"))
    val p = j.queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"no dynamic partition pruning on the logged fact:\n$p")
    assert(j.collect().head.getLong(0) ==
      (0 until 900).filter(_ % 3 == 0).map(_.toLong * 10).sum)
  }

  test("partitioned registration prunes statically on the partition column") {
    val s = spark
    import s.implicits._
    val dir = tmp("r18part").toString + "/t"
    (0 until 300).map(i => (i.toLong, i.toLong * 10,
      Seq("en", "fr", "de")(i % 3))).toDF("k", "v", "lang")
      .write.partitionBy("lang").parquet(dir)
    TxLog.convertInPlace(s, dir, statsCols = Seq("k"))
    val q = s.read.format("txlog").load(dir).filter(col("lang") === "fr")
    assert(q.count() == 100)
    val p = q.queryExecution.executedPlan.toString
    // partition filters are handled by the index, not pushed to parquet
    assert(p.contains("PartitionFilters: ["), p)
    val planned = TxLogBatch.lastScan.get()
    val snap = TxLog.snapshot(s, dir)
    assert(planned.size < snap.files.size,
      s"partition filter planned ${planned.size} of ${snap.files.size}")
    assert(planned.forall(_.contains("lang=fr")), planned.toString)
  }

  test("filtered slice of a BIG logged table broadcasts statically") {
    val dir = tmp("r18slice").toString + "/t"
    // a "big" table (64 range files) whose narrow slice is broadcast-
    // sized; with whole-table stats the join would sort-merge
    TxLog.commitOverwrite(spark, dir,
      payload(200000).repartitionByRange(64, col("k")),
      statsCols = Seq("k"))
    withConf("spark.sql.adaptive.enabled" -> "false",
      // make even this test table "big": the threshold sits between
      // the slice (1 of 64 files) and the whole table
      "spark.sql.autoBroadcastJoinThreshold" -> "200000") {
      val slice = TxLog.read(spark, dir).filter(col("k") < 3000L)
      val fact = payload(50000).select(col("k"),
        col("v").as("fv"))
      val whole = TxLog.read(spark, dir).join(fact, "k")
      assert(whole.queryExecution.executedPlan.toString
        .contains("SortMergeJoin"),
        "test premise: the UNfiltered table must NOT broadcast")
      val j = slice.join(fact, "k").agg(sum("fv"))
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin"),
        s"restricted index did not drive a static broadcast:\n$p")
      // restriction is plan-only: results identical to the full read
      assert(j.collect().head.getLong(0) ==
        (0 until 3000).map(_.toLong * 2).sum)
    }
  }

  test("appends to a partitioned table stay partition-pure (planner presentation survives)") {
    val s = spark
    import s.implicits._
    val dir = tmp("r18purapp").toString + "/t"
    (0 until 300).map(i => (i.toLong, i.toLong * 10,
      Seq("en", "fr", "de")(i % 3))).toDF("k", "v", "lang")
      .write.partitionBy("lang").parquet(dir)
    TxLog.convertInPlace(s, dir, statsCols = Seq("k"))
    // a MIXED-partition append — the case that used to stage one flat
    // multi-valued file and demote the table off the partitioned
    // presentation forever
    TxLog.commitAppend(s, dir,
      (300 until 360).map(i => (i.toLong, i.toLong * 10,
        Seq("en", "fr", "xx")(i % 3))).toDF("k", "v", "lang"))
    val snap = TxLog.snapshot(s, dir)
    val appended = snap.files.filterNot(_.path.contains("part-"))
    assert(appended.nonEmpty &&
      appended.forall(_.path.contains("=")),
      s"appended files are not partition-dir nested: " +
        appended.map(_.path).mkString(", "))
    // rows read back whole, values recovered on both legs
    val t = s.read.format("txlog").load(dir)
    assert(t.count() == 360)
    assert(t.filter(col("lang") === "xx").count() == 20)
    // partition filter still file-prunes — incl. the appended files
    val q = t.filter(col("lang") === "fr")
    assert(q.count() == 120)
    val planned = TxLogBatch.lastScan.get()
    assert(planned.size < snap.files.size &&
      planned.forall(_.contains("lang=fr")),
      s"post-append partition pruning lost: $planned")
    // and the presentation is still the indexed one (stats visible)
    assert(t.queryExecution.optimizedPlan.stats.sizeInBytes <
      BigInt(Long.MaxValue) / 2, "fell back to the V1 scan")
    // a copy-on-write DML rewrite stays partition-pure too: the
    // survivors of touched files restage nested, so the presentation
    // survives the table's whole DML life
    TxLog.delete(s, dir, col("k") % 10 === 0)
    val t2 = s.read.format("txlog").load(dir)
    assert(t2.count() == 360 - 36)
    val snap2 = TxLog.snapshot(s, dir)
    assert(snap2.files.forall(f =>
      f.path.contains("=") || f.path.contains("part-")),
      s"DML restaged flat: ${snap2.files.map(_.path).filterNot(p =>
        p.contains("=") || p.contains("part-")).take(3)}")
    assert(t2.filter(col("lang") === "fr").count() == 108)
    assert(TxLogBatch.lastScan.get().forall(_.contains("lang=fr")),
      "post-DML partition pruning lost")
  }

  test("subquery predicate on a partition column neither crashes nor misprunes") {
    val s = spark
    import s.implicits._
    val dir = tmp("r18subq").toString + "/t"
    (0 until 90).map(i => (i.toLong, i.toLong * 10,
      Seq("en", "fr", "de")(i % 3))).toDF("k", "v", "lang")
      .write.partitionBy("lang").parquet(dir)
    TxLog.convertInPlace(s, dir, statsCols = Seq("k"))
    s.sql(s"CREATE TABLE r18_subq USING txlog OPTIONS (path '$dir')")
    try {
      Seq("en", "xx").toDF("l").createOrReplaceTempView("r18_keep")
      // IN (SELECT …) lands as a subquery expression whose references
      // are the partition column — must stay a conservative no-prune
      // at plan time, never an interpreter crash
      val n = s.sql("SELECT count(*) FROM r18_subq WHERE lang IN " +
        "(SELECT l FROM r18_keep)").collect().head.getLong(0)
      assert(n == 30)
    } finally s.sql("DROP TABLE r18_subq")
  }

  // ---- file-index path: parity with the V1 plan -------------------

  test("file-index read returns the written rows (flat + mapped)") {
    val dir = tmp("r18parity").toString + "/t"
    TxLog.commitOverwrite(spark, dir,
      payload(400).repartitionByRange(4, col("k")),
      statsCols = Seq("k"))
    TxLog.renameColumn(spark, dir, "name", "label")
    val t = TxLog.read(spark, dir)
    assert(t.columns.toSeq == Seq("k", "v", "label"))
    val got = t.orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    val expected = (0 until 400).map(i => (i.toLong, i.toLong * 2, s"n$i"))
    assert(got == expected,
      s"file-index read diverged: ${got.take(3)} vs ${expected.take(3)}")
    // the index path really is a FileScan, not the V1 RowDataSourceScan
    val p = t.queryExecution.executedPlan.toString
    assert(p.contains("FileScan parquet"), p)
  }

  test("filtered Scala reads now file-prune from the log at scan time") {
    val dir = tmp("r18prune").toString + "/t"
    TxLog.commitOverwrite(spark, dir,
      payload(800).repartitionByRange(8, col("k")),
      statsCols = Seq("k"))
    val q = TxLog.read(spark, dir).filter(col("k") <= 99L)
    assert(q.count() == 100)
    val planned = TxLogBatch.lastScan.get()
    val snap = TxLog.snapshot(spark, dir)
    assert(planned.size < snap.files.size,
      s"scan-time pruning planned ${planned.size} of ${snap.files.size}")
    assert(planned.sorted == TxLog.prunedSnapshotFiles(spark, snap,
      Seq(("k", None, Some(99L)))).map(_.path).sorted,
      "file-index pruning diverged from prunedSnapshotFiles")
  }

  // ---- COPY INTO hardening ----------------------------------------

  test("COPY INTO re-ingests a same-mtime rewrite (length marker)") {
    val s = spark
    import s.implicits._
    val root = tmp("r18copy")
    val src = s"$root/src"
    val dir = s"$root/t"
    TxLog.commitOverwrite(s, dir,
      Seq((1L, "a")).toDF("k", "name").limit(0))
    Seq((1L, "a"), (2L, "b")).toDF("k", "name")
      .coalesce(1).write.parquet(src)
    val r1 = TxLog.copyInto(s, dir, src)
    assert(r1.filesLoaded == 1 && r1.rowsInserted == 2)
    assert(TxLog.copyInto(s, dir, src).filesLoaded == 0) // idempotent
    // rewrite the source file with MORE rows, then PIN its mtime back
    // to the ingested value — only the length marker can catch this
    val f = new java.io.File(src).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val mt = f.lastModified()
    val tmp2 = s"$root/src2"
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "name")
      .coalesce(1).write.parquet(tmp2)
    val nf = new java.io.File(tmp2).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(nf.toPath, f.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // drop the local-FS checksum sidecar the raw copy invalidated
    new java.io.File(f.getParentFile, s".${f.getName}.crc").delete()
    assert(f.setLastModified(mt), "could not pin mtime")
    val r2 = TxLog.copyInto(s, dir, src)
    assert(r2.filesLoaded == 1 && r2.rowsInserted == 3,
      s"same-tick rewrite skipped: $r2")
    // and a further rerun is idempotent again
    assert(TxLog.copyInto(s, dir, src).filesLoaded == 0)
  }

  test("COPY INTO pads absent nullable columns (default else NULL)") {
    val s = spark
    import s.implicits._
    val root = tmp("r18copypad")
    val dir = s"$root/t"
    // table: k, name (nullable), tag (nullable, has DEFAULT)
    TxLog.commitOverwrite(s, dir,
      Seq((0L, "seed", "seeded")).toDF("k", "name", "tag"))
    TxLog.setDefault(s, dir, "tag", "'filled'")
    val src = s"$root/src"
    Seq(1L, 2L).toDF("k").coalesce(1).write.parquet(src)
    val r = TxLog.copyInto(s, dir, src)
    assert(r.rowsInserted == 2)
    val got = TxLog.read(s, dir).filter(col("k") > 0L)
      .orderBy("k").collect()
    assert(got.forall(_.isNullAt(1)), "name should pad NULL")
    assert(got.forall(_.getString(2) == "filled"),
      "tag should pad its declared default")
    // a missing NON-nullable column refuses with the COPY INTO error
    val dir2 = s"$root/t2"
    val strict = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("must",
        org.apache.spark.sql.types.StringType, nullable = false)))
    TxLog.commitOverwrite(s, dir2, s.createDataFrame(
      java.util.Collections.singletonList(
        org.apache.spark.sql.Row(0L, "x")), strict))
    val e = intercept[IllegalArgumentException] {
      TxLog.copyInto(s, dir2, src)
    }
    assert(e.getMessage.contains("COPY INTO") &&
      e.getMessage.contains("must"), e.getMessage)
  }

  // ---- log-carried TBLPROPERTIES + DESCRIBE EXTENDED --------------

  test("TBLPROPERTIES live in the log: SET/UNSET/SHOW + clone carry") {
    val s = spark
    val root = tmp("r18props")
    val dir = s"$root/t"
    TxLog.commitOverwrite(s, dir, payload(10))
    s.sql(s"ALTER TXLOG '$dir' SET TBLPROPERTIES " +
      "('team' = 'graft', 'tier' = 'gold')")
    val shown = s.sql(s"SHOW TBLPROPERTIES '$dir'").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(shown == Map("team" -> "graft", "tier" -> "gold"))
    // single-key form; absent key refuses loudly
    assert(s.sql(s"SHOW TBLPROPERTIES '$dir' ('tier')")
      .collect().head.getString(1) == "gold")
    val e = intercept[Exception] {
      s.sql(s"SHOW TBLPROPERTIES '$dir' ('nope')").collect()
    }
    assert(e.getMessage.contains("nope"))
    s.sql(s"ALTER TXLOG '$dir' UNSET TBLPROPERTIES ('team')")
    assert(TxLog.snapshot(s, dir).properties == Map("tier" -> "gold"))
    // properties ride a clone like every other table spec
    val cl = s"$root/clone"
    TxLog.clone(s, dir, cl)
    assert(TxLog.snapshot(s, cl).properties == Map("tier" -> "gold"))
    // registered-name addressing resolves through the catalog
    s.sql(s"CREATE TABLE r18_props USING txlog OPTIONS (path '$dir')")
    try assert(s.sql("SHOW TBLPROPERTIES r18_props").collect()
      .map(_.getString(0)).toSeq == Seq("tier"))
    finally s.sql("DROP TABLE r18_props")
  }

  test("DESCRIBE EXTENDED answers from the snapshot, not the catalog") {
    val s = spark
    val root = tmp("r18desc")
    val dir = s"$root/t"
    TxLog.commitOverwrite(s, dir, payload(25), statsCols = Seq("k"))
    s.sql(s"ALTER TXLOG '$dir' SET TBLPROPERTIES ('zone' = 'silver')")
    s.sql(s"ALTER TXLOG '$dir' ADD CONSTRAINT pos CHECK (k >= 0)")
    val rows = s.sql(s"DESCRIBE EXTENDED '$dir'").collect()
    val byName = rows.map(r => r.getString(0) -> r.getString(1)).toMap
    assert(byName("k") == "bigint")
    assert(byName("Provider") == "txlog")
    assert(byName("Num Rows") == "25")
    assert(byName("Property zone") == "silver")
    assert(byName("Constraint pos") == "CHECK (k >= 0)")
    // the version reflects LIVE log state (3 commits: data, props,
    // constraint) — a catalog copy would still say version 0
    assert(byName("Log Version") == "2")
  }

  // ---- hash-gated twins: dsir_seeded / media_near_dup_seeded -------

  test("fixedLog matches ln to fixed-point resolution across the ratio range") {
    val s = spark
    import s.implicits._
    val cases = Seq((2L, 1L), (1L, 2L), (1L, 1L), (3L, 7L),
      (99999L, 7L), (7L, 99999L), (1048577L, 3L), (123456789L, 987654321L),
      (1L, 4503599627370496L), (4503599627370496L, 3L))
    val df = graft.operators.Dsir.fixedLog(
      cases.toDF("_num", "_den"), "_num", "_den", "_w")
    val got = df.select("_num", "_den", "_w").collect()
    got.foreach { r =>
      val (num, den, w) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val approx = w.toDouble / (1L << 30)
      val truth = math.log(num.toDouble / den.toDouble)
      assert(math.abs(approx - truth) < 1e-8 + 1.0 / (1L << 30),
        s"fixedLog($num/$den) = $approx, ln = $truth")
    }
  }

  test("dsir_seeded tracks the true-ln DSIR weights and plan shape") {
    val s = spark
    val d = graft.Tables(s, sf, "documents")
    val raw = d.filter(!col("source").isin("src0", "src1"))
    val tgt = d.filter(col("source").isin("src0", "src1"))
    val seeded = graft.operators.Dsir.resampleSeeded(
      raw, tgt, "doc_id", "text", k = 1000000)
    val truth = graft.operators.Dsir.importanceWeights(
      raw, tgt, "doc_id", "text")
    val joined = seeded.join(truth.withColumnRenamed("weight", "tw"),
      "doc_id")
      .select(col("doc_id"), (col("weight").cast("double") /
        lit(1073741824.0) - col("tw")).as("err"), col("tw"))
      .collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val tol = 1e-6 * (1.0 + math.abs(r.getDouble(2)))
      assert(math.abs(r.getDouble(1)) < tol,
        s"doc ${r.getLong(0)}: seeded diverges by ${r.getDouble(1)}")
    }
    // plan shape: ratio table broadcasts, selection is a bounded sort
    val p = graft.operators.Dsir.resampleSeeded(raw, tgt, "doc_id",
      "text", k = 50).queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("media_near_dup_seeded finds pairs and splits exact vs near") {
    val pairs = graft.multimodal.MediaQueries
      .mediaNearDupSeeded(spark, sf).collect()
    assert(pairs.forall(r => r.getDouble(2) >= 0.8))
    assert(pairs.forall(r => Set("exact", "near")(r.getString(3))))
  }

  // ---- cross-process commit race -----------------------------------

  test("two OS processes race the same log: no lost commit, no lost slice") {
    val s = spark
    import s.implicits._
    val dir = tmp("r18mw").toString + "/t"
    TxLog.commitOverwrite(s, dir,
      Seq.empty[(Int, Int, Long)].toDF("writer", "seq", "r"))
    val commits = 4
    // writer 0 = a REAL second JVM (own SparkSession, same log dir)
    val childProc = MultiWriterChild.forkChild(dir, 0, commits)
    try {
      // wait until the child's first commit lands so the in-process
      // writer genuinely overlaps the remaining ones
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      while (TxLog.snapshot(s, dir).version < 1 &&
          System.nanoTime() < deadline) Thread.sleep(200)
      assert(TxLog.snapshot(s, dir).version >= 1,
        "child process never committed")
      // writer 1 = this JVM, racing the child's claim loop
      (0 until commits).foreach { seq =>
        val batch = (0 until MultiWriterChild.RowsPerCommit)
          .map(r => (1, seq, r.toLong)).toDF("writer", "seq", "r")
        TxLog.commitAppend(s, dir, batch)
      }
      assert(childProc.waitFor(120, java.util.concurrent.TimeUnit
        .SECONDS), "child process did not finish")
      assert(childProc.exitValue() == 0,
        s"child exited ${childProc.exitValue()}")
    } finally if (childProc.isAlive) childProc.destroyForcibly()
    val errs = MultiWriterChild.check(s, dir, writers = 2,
      commits = commits)
    assert(errs.isEmpty, errs.mkString("; "))
  }

  test("deletion vectors and time travel fall back correctly") {
    val dir = tmp("r18dv").toString + "/t"
    TxLog.commitOverwrite(spark, dir, payload(300), statsCols = Seq("k"))
    TxLog.deleteMor(spark, dir, col("k") % 3 === 0)
    // DV snapshot is ineligible for the index → still correct
    assert(TxLog.read(spark, dir).count() == 200)
    assert(spark.read.format("txlog").load(dir).count() == 200)
    // pinned pre-DV version reads through the index
    val v0 = spark.read.format("txlog")
      .option("versionAsOf", "0").load(dir)
    assert(v0.count() == 300)
    assert(v0.queryExecution.executedPlan.toString
      .contains("FileScan parquet"))
  }
}
