package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._

import graft.sources.{TxLog, TxLogBatch}

/** Round-20 pins — the round-19 advisory fixes first:
  *  - PHYSICAL-FIRST partition-column resolution (a rename chain that
  *    reuses a former partition column's name must keep binding the
  *    registered column, in both the planner presentation and the
  *    partition-pure stage);
  *  - MapType-safe salted staging (`tasksPerValue > 1` must not fail
  *    analysis on a map-bearing table — Spark's hash() rejects maps);
  *  - `FLATTEN` is not a reserved word (`OPTIMIZE … WHERE x =
  *    flatten` keeps the identifier in the predicate).
  */
class Round20Spec extends SparkSpec {

  private def tmp(prefix: String): Path =
    Files.createTempDirectory(prefix)

  private def withConf[T](pairs: (String, String)*)(body: => T): T = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  // ---- physical-first partition resolution under rename reuse ------

  test("rename chain reusing a former partition column's name binds the registered column") {
    val s = spark
    import s.implicits._
    val dir = tmp("r20renmchain").toString + "/t"
    (0 until 300).map(i => (i.toLong, i.toLong * 10,
      Seq("en", "fr", "de")(i % 3))).toDF("k", "v", "lang")
      .write.partitionBy("lang").parquet(dir)
    TxLog.convertInPlace(s, dir, statsCols = Seq("k"))
    // the trap: free the name, then give it to a NON-partition column
    TxLog.renameColumn(s, dir, "lang", "locale")
    TxLog.renameColumn(s, dir, "v", "lang")
    // the registration entry is the PHYSICAL "lang" — it must keep
    // binding the partition column (now logical "locale"), NOT the
    // renamed v that wears the name "lang" today
    val t = s.read.format("txlog").load(dir)
    assert(t.columns.toSeq == Seq("k", "lang", "locale"))
    assert(t.queryExecution.optimizedPlan.stats.sizeInBytes <
      BigInt(Long.MaxValue) / 2,
      "rename-reuse chain demoted the table to the V1 presentation")
    assert(t.filter(col("locale") === "fr").count() == 100)
    val planned = TxLogBatch.lastScan.get()
    val snap0 = TxLog.snapshot(s, dir)
    assert(planned.size < snap0.files.size &&
      planned.forall(_.contains("lang=fr")),
      s"partition pruning lost after the rename-reuse chain: $planned")
    // the renamed v ("lang" today) is a DATA column — filtering on it
    // must not be treated as partition pruning, and values survive
    assert(t.filter(col("lang") === 50L).select("k")
      .collect().map(_.getLong(0)).toSeq == Seq(5L))
    // appends stage partition-PURE by the REGISTERED column: the
    // batch carries (k, lang=old v, locale=partition value)
    TxLog.commitAppend(s, dir,
      (300 until 330).map(i => (i.toLong, i.toLong * 10,
        Seq("en", "fr", "de")(i % 3))).toDF("k", "lang", "locale"))
    val snap = TxLog.snapshot(s, dir)
    val fresh = snap.files.map(_.path)
      .filterNot(snap0.files.map(_.path).toSet)
    assert(fresh.nonEmpty && fresh.forall(_.contains("lang=")),
      s"post-rename-chain append staged by the WRONG column: $fresh")
    val t2 = s.read.format("txlog").load(dir)
    assert(t2.filter(col("locale") === "fr").count() == 110)
    assert(TxLogBatch.lastScan.get().forall(_.contains("lang=fr")),
      "append after the rename-reuse chain lost partition pruning")
  }

  // ---- MapType-safe salted staging ---------------------------------

  test("tasksPerValue > 1 on a map-bearing table salts without hashing the map") {
    val s = spark
    import s.implicits._
    val dir = tmp("r20mapsalt").toString + "/t"
    (0 until 10).map(i => (i.toLong, Map("a" -> i), "en"))
      .toDF("k", "attrs", "lang")
      .write.partitionBy("lang").parquet(dir)
    TxLog.convertInPlace(s, dir, statsCols = Seq("k"))
    val before = TxLog.snapshot(s, dir).files.size
    withConf("spark.graft.write.tasksPerValue" -> "4") {
      // pre-fix this failed at ANALYSIS: hash() rejects MapType
      // Option-valued map: parquet round-trips maps with
      // valueContainsNull=true, and append schemas match strictly
      TxLog.commitAppend(s, dir,
        (10 until 2010).map(i => (i.toLong, Map("a" -> Option(i)), "en"))
          .toDF("k", "attrs", "lang"))
    }
    val snap = TxLog.snapshot(s, dir)
    assert(snap.files.size - before >= 2,
      s"map-safe salt did not parallelize: ${snap.files.size - before}")
    assert(snap.files.forall(_.path.contains("lang=en")),
      "map-safe salted staging broke partition purity")
    val t = s.read.format("txlog").load(dir)
    assert(t.count() == 2010)
    assert(t.filter(col("k") === 1500L)
      .select(col("attrs")("a")).collect().head.getInt(0) == 1500)
  }

  // ---- DV-aware scanning on the index leg --------------------------

  test("dv-bearing partitioned table plans ONE vectorized FileScan (no union, no row-scan leg)") {
    val s = spark
    import s.implicits._
    val dir = tmp("r20dvidx").toString + "/t"
    (0 until 300).map(i => (i.toLong, i.toLong * 10,
      Seq("en", "fr", "de")(i % 3))).toDF("k", "v", "lang")
      .write.partitionBy("lang").parquet(dir)
    TxLog.convertInPlace(s, dir, statsCols = Seq("k"))
    TxLog.deleteMor(s, dir, col("lang") === "fr" && col("k") % 2 === 0L)
    val snap = TxLog.snapshot(s, dir)
    assert(snap.files.exists(_.dv.isDefined) &&
      snap.files.exists(_.dv.isEmpty), "test premise: mixed dv/clean")
    val t = s.read.format("txlog").load(dir)
    // ONE leg: the whole table on the vectorized FileScan, the
    // vector applied as a scan filter — no TxLogV1Relation, no Union
    val p = t.queryExecution.executedPlan.toString
    assert(p.contains("FileScan parquet"), s"lost the FileScan:\n$p")
    assert(!p.contains("TxLogV1Relation") && !p.contains("Union"),
      s"dv read still splits:\n$p")
    // the `*(n)` prefixes are WholeStageCodegen spans — the dv filter
    // must sit INSIDE one, fused with the scan's ColumnarToRow
    assert(p.contains("*(1) Filter NOT dvdeleted"),
      s"dv filter broke codegen:\n$p")
    // MoR-correct results through the single scan
    assert(t.count() == 250)
    assert(t.filter(col("lang") === "en").count() == 100)
    assert(t.filter(col("lang") === "fr").count() == 50)
    // static partition pruning fires on ALL files, dv-bearing
    // included (lastScan reflects the fr probe just above)
    val plannedFr = TxLogBatch.lastScan.get()
    assert(plannedFr.nonEmpty && plannedFr.forall(_.contains("lang=fr")),
      s"partition pruning lost on the dv presentation: $plannedFr")
    // exactly the written rows minus the deleted ones
    val got = t.select("k", "v", "lang").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    val expected = (0 until 300)
      .filterNot(i => i % 3 == 1 && i % 2 == 0)
      .map(i => (i.toLong, i.toLong * 10, Seq("en", "fr", "de")(i % 3)))
    assert(got == expected, "dv-index read diverged from the model")
    // a dv-bearing dim still broadcasts STATICALLY (exact live bytes)
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val fact = (0 until 5000).map(i => (i.toLong, i.toLong))
        .toDF("k", "fv")
      val j = t.select("k").join(fact, "k").agg(sum("fv"))
      val jp = j.queryExecution.executedPlan.toString
      assert(jp.contains("BroadcastHashJoin") &&
        !jp.contains("SortMergeJoin"),
        s"dv-bearing dim did not broadcast statically:\n$jp")
      assert(j.collect().head.getLong(0) ==
        (0 until 300).filter(i => !(i % 3 == 1 && i % 2 == 0))
          .map(_.toLong).sum)
    }
    // DPP fires on the dv-bearing table itself (the split-union only
    // had it on the clean leg)
    val dimDir = tmp("r20dvdim").toString + "/dim"
    TxLog.commitOverwrite(s, dimDir,
      Seq(("fr", 1), ("de", 2), ("xx", 3)).toDF("lang", "keep"),
      statsCols = Seq("keep"))
    val dpp = s.read.format("txlog").load(dir)
      .join(s.read.format("txlog").load(dimDir)
        .filter(col("keep") === 1), "lang")
      .agg(sum("v"))
    assert(dpp.queryExecution.executedPlan.toString.toLowerCase
      .contains("dynamicpruning"),
      "DPP lost on the dv-bearing presentation")
    // fr partition with even k deleted: sum of odd multiples of 3k+1
    assert(dpp.collect().head.getLong(0) ==
      (0 until 300).filter(i => i % 3 == 1 && i % 2 == 1)
        .map(_.toLong * 10).sum)
    // and DPP onto a CLEAN partition of the same scan
    val dppEn = s.read.format("txlog").load(dir)
      .join(s.read.format("txlog").load(dimDir)
        .filter(col("keep") === 2), "lang")
      .agg(sum("v"))
    assert(dppEn.collect().head.getLong(0) ==
      (0 until 300).filter(_ % 3 == 2).map(_.toLong * 10).sum)
  }

  test("dv-index read survives vector accumulation and respects its bound") {
    val s = spark
    import s.implicits._
    val dir = tmp("r20dvacc").toString + "/t"
    (0 until 300).map(i => (i.toLong, Seq("en", "fr", "de")(i % 3)))
      .toDF("k", "lang").write.partitionBy("lang").parquet(dir)
    TxLog.convertInPlace(s, dir, statsCols = Seq("k"))
    // two MoR deletes → multiple vector relations referenced at once
    TxLog.deleteMor(s, dir, col("lang") === "fr" && col("k") < 30L)
    TxLog.deleteMor(s, dir, col("lang") === "en" && col("k") < 30L)
    val t = s.read.format("txlog").load(dir)
    val p = t.queryExecution.executedPlan.toString
    // under the bound the vectors stay a scan filter: no anti-join
    // (the past-bound anti-join leg is pinned in TxLogSpec)
    assert(p.contains("dvdeleted") && !p.contains("LeftAnti") &&
      !p.contains("TxLogV1Relation"),
      s"accumulated vectors fell off the filtered index scan:\n$p")
    val expected = (0 until 300).filterNot(i =>
      i < 30 && (i % 3 == 1 || i % 3 == 0)).map(_.toLong)
    assert(t.select("k").orderBy("k").collect().map(_.getLong(0)).toSeq ==
      expected)
  }

  test("dv-index read keys files correctly under hive-escaped partition values") {
    val s = spark
    import s.implicits._
    val dir = tmp("r20dvesc").toString + "/t"
    // ':' and '%' hive-escape in the dir name; the scan's
    // _metadata.file_path additionally URI-encodes — the vector map
    // must key by exactly what the scan reports
    (0 until 100).map(i => (i.toLong,
      if (i % 2 == 0) "00:00" else "50%")).toDF("k", "lang")
      .write.partitionBy("lang").parquet(dir)
    TxLog.convertInPlace(s, dir, statsCols = Seq("k"))
    TxLog.deleteMor(s, dir, col("k") < 20L)
    assert(TxLog.snapshot(s, dir).files.exists(_.dv.isDefined))
    val t = s.read.format("txlog").load(dir)
    assert(!t.queryExecution.executedPlan.toString
      .contains("TxLogV1Relation"),
      "escaped-partition dv read fell off the index leg")
    assert(t.count() == 80)
    assert(t.filter(col("lang") === "00:00").count() == 40)
    assert(t.filter(col("lang") === "50%").count() == 40)
    def model(deleted: Int): Seq[(Long, String)] =
      (deleted until 100).map(i =>
        (i.toLong, if (i % 2 == 0) "00:00" else "50%"))
    def rows(): Seq[(Long, String)] =
      s.read.format("txlog").load(dir).select("k", "lang").orderBy("k")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows() == model(20),
      "escaped-partition dv-index read diverged from the model")
    // the DML probe reads through the explicit-path tagged scan: an
    // OVERLAPPING delete must match only rows still live there — if
    // that scan mis-keyed its vectors, k < 20 would re-match and the
    // summed dvRows would exceed the distinct deleted rows
    TxLog.deleteMor(s, dir, col("k") < 30L)
    assert(TxLog.snapshot(s, dir).files.map(_.dvRows).sum == 30L,
      "tagged scan re-deleted already-deleted rows (vector key miss)")
    assert(rows() == model(30))
  }

  // ---- byte-based purify sizing --------------------------------------

  test("purify sizes files by BYTES: 10x-wider rows split into 10x more files") {
    val s = spark
    import s.implicits._
    val dir = tmp("r20bytes").toString + "/t"
    // same row COUNT per partition, ~20x the row WIDTH in 'wide' —
    // INCOMPRESSIBLE pads (seeded random hex), or snappy would erase
    // the very byte skew under test. The old global rows-per-file
    // bound would cut both partitions into equal-row files — wide's
    // files ~20x the bytes of narrow's.
    def pad(i: Int, n: Int): String = {
      val r = new scala.util.Random(i)
      Seq.fill(n)(r.nextPrintableChar()).mkString
    }
    // both partitions span MULTIPLE byte targets (a partition smaller
    // than one target is a single sub-target file by purity — nothing
    // to size)
    val wide = (0 until 4000).map(i => (i.toLong, pad(i, 400), "wide"))
    val narrow = (0 until 40000).map(i =>
      (i.toLong, pad(i + 99999, 20), "narrow"))
    (wide ++ narrow).toDF("k", "pad", "lang")
      .write.partitionBy("lang").parquet(dir)
    TxLog.convertInPlace(s, dir, statsCols = Seq("k"))
    TxLog.compact(s, dir, targetFiles = 8, statsCols = Seq("k"),
      purify = true)
    val snap = TxLog.snapshot(s, dir)
    assert(snap.files.forall(_.path.contains("lang=")),
      "purify flattened")
    val (wf, nf) = snap.files.partition(_.path.contains("lang=wide"))
    // implied byte target = total live bytes / targetFiles; every
    // file (both partitions) must land within ±50% of it
    val total = snap.files.flatMap(_.bytes).sum
    val target = total / 8.0
    assert(wf.size > nf.size,
      s"wide partition should split into more files: " +
        s"wide=${wf.size} narrow=${nf.size}")
    val all = snap.files.flatMap(_.bytes)
    assert(all.forall(b => b >= target * 0.5 && b <= target * 1.5),
      s"file bytes off the implied target $target: " +
        s"${all.map(b => (b / target * 100).toInt + "%").mkString(", ")}")
    // and the data survived, partition pruning intact
    val t = s.read.format("txlog").load(dir)
    assert(t.count() == 44000)
    assert(t.filter(col("lang") === "wide").count() == 4000)
    assert(TxLogBatch.lastScan.get().forall(_.contains("lang=wide")))
  }

  // ---- skew-aware auto-salt ------------------------------------------

  test("auto-salt fans out the hot value of a skewed ingest, cold values stay single-file") {
    val s = spark
    import s.implicits._
    val dir = tmp("r20autosalt").toString + "/t"
    (0 until 10).map(i => (i.toLong, "cold")).toDF("k", "lang")
      .write.partitionBy("lang").parquet(dir)
    TxLog.convertInPlace(s, dir, statsCols = Seq("k"))
    val before = TxLog.snapshot(s, dir).files.size
    // 90/10 skew, NO tasksPerValue configured; drop the size guard so
    // the small test batch qualifies for the histogram pass
    withConf("spark.graft.write.autoSaltMinBytes" -> "1") {
      TxLog.commitAppend(s, dir,
        ((0 until 3600).map(i => (i.toLong, "hot")) ++
          (0 until 400).map(i => (i.toLong, "mild")))
          .toDF("k", "lang"))
    }
    val snap = TxLog.snapshot(s, dir)
    val fresh = snap.files.drop(before)
    val hot = fresh.count(_.path.contains("lang=hot"))
    val mild = fresh.count(_.path.contains("lang=mild"))
    assert(hot > 1, s"hot value did not fan out: $hot file(s)")
    assert(mild == 1, s"cold value should stay single-file: $mild")
    assert(snap.files.forall(_.path.contains("lang=")),
      "auto-salt broke partition purity")
    val t = s.read.format("txlog").load(dir)
    assert(t.count() == 4010)
    assert(t.filter(col("lang") === "hot").count() == 3600)
    // the guard: an un-configured SMALL batch (below autoSaltMinBytes)
    // must not pay the histogram pass — cold single-file staging
    TxLog.commitAppend(s, dir,
      (0 until 20).map(i => (i.toLong, "tiny")).toDF("k", "lang"))
    val snap2 = TxLog.snapshot(s, dir)
    assert(snap2.files.count(_.path.contains("lang=tiny")) == 1)
  }

  test("zordered purify range-partitions: parallel tasks, envelopes stay tight") {
    val s = spark
    import s.implicits._
    val dir = tmp("r20zpar").toString + "/t"
    // one giant partition (9 of 10 parts' rows); k uniform over it
    (0 until 10000).map(i => (i.toLong, i.toLong % 977,
      if (i < 9000) "en" else "fr")).toDF("k", "v", "lang")
      .write.partitionBy("lang").parquet(dir)
    TxLog.convertInPlace(s, dir, statsCols = Seq("k"))
    withConf("spark.sql.shuffle.partitions" -> "8") {
      TxLog.compact(s, dir, targetFiles = 8, statsCols = Seq("k"),
        zorderBy = Seq("k"), purify = true)
    }
    val snap = TxLog.snapshot(s, dir)
    assert(snap.files.forall(_.path.contains("lang=")),
      "zordered purify flattened")
    val en = snap.files.filter(_.path.contains("lang=en"))
    assert(en.size >= 2, s"giant zordered partition stayed monolithic")
    // TIGHT envelopes despite the parallel range tasks: each en-file's
    // k-span must be ≈ its row share of the k range, not the whole
    // range (the old hash-salt scatter would make every file span
    // ~all of [0, 9000))
    en.foreach { f =>
      val st = f.stats("k")
      val span = st.max.get.toLong - st.min.get.toLong + 1
      // k is dense over en (k = i < 9000), so a file's fair share of
      // the range equals its row count
      val fair = f.rows.toDouble
      assert(span <= fair * 2.5,
        s"file ${f.path} spans $span for ${f.rows} rows — envelope " +
          "scattered")
    }
    // and a k-range probe stats-prunes within the partition
    val q = s.read.format("txlog").load(dir)
      .filter(col("lang") === "en" && col("k").between(100L, 200L))
    assert(q.count() == 101)
    val planned = TxLogBatch.lastScan.get()
    assert(planned.size < en.size,
      s"zordered purify lost stats pruning: ${planned.size}/${en.size}")
  }

  test("dv fuzz: accumulated random MoR deletes read exactly the model's live rows") {
    val s = spark
    import s.implicits._
    val dir = tmp("r20dvfuzz").toString + "/t"
    def lang(i: Int): String = Seq("en", "fr", "de", "pt")(i % 4)
    (0 until 2000).map(i => (i.toLong, i.toLong * 3, lang(i)))
      .toDF("k", "v", "lang")
      .write.partitionBy("lang").parquet(dir)
    TxLog.convertInPlace(s, dir, statsCols = Seq("k"))
    val rnd = new scala.util.Random(20)
    var live = (0 until 2000).toSet
    (1 to 4).foreach { round =>
      val m = 2 + rnd.nextInt(7)
      val r = rnd.nextInt(m)
      val langs = rnd.shuffle(Seq("en", "fr", "de", "pt")).take(
        1 + rnd.nextInt(3))
      TxLog.deleteMor(s, dir,
        col("k") % m === r.toLong && col("lang").isin(langs: _*))
      live = live.filterNot(i => i % m == r && langs.contains(lang(i)))
      val got = s.read.format("txlog").load(dir).select("k", "v", "lang")
        .orderBy("k").collect()
        .map(row => (row.getLong(0), row.getLong(1), row.getString(2)))
        .toSeq
      val expected = live.toSeq.sorted
        .map(i => (i.toLong, i.toLong * 3, lang(i)))
      assert(got == expected, s"round $round: dv read != model")
      // the summed vector sizes count each deleted row once
      assert(TxLog.snapshot(s, dir).files.map(_.dvRows).sum ==
        2000 - live.size, s"round $round: dvRows double-counted")
      // and a filtered aggregate agrees too (exercises pruning +
      // the filter interplay)
      val a = s.read.format("txlog").load(dir)
        .filter(col("lang").isin("en", "fr")).agg(sum("v"))
        .collect().head.getLong(0)
      assert(a == live.toSeq.filter(i => Set("en", "fr")(lang(i)))
        .map(_.toLong * 3).sum, s"round $round: filtered aggregate diverged")
    }
  }

  test("dv-index read composes with column mapping, time travel and restriction") {
    val s = spark
    import s.implicits._
    val dir = tmp("r20dvmix").toString + "/t"
    (0 until 300).map(i => (i.toLong, i.toLong * 10,
      Seq("en", "fr", "de")(i % 3))).toDF("k", "v", "lang")
      .write.partitionBy("lang").parquet(dir)
    TxLog.convertInPlace(s, dir, statsCols = Seq("k"))
    TxLog.deleteMor(s, dir, col("lang") === "fr" && col("k") < 60L)
    val vAfterFirst = TxLog.snapshot(s, dir).version
    // rename BOTH a data and the partition column — the vector map
    // keys by file path, which mapping never touches
    TxLog.renameColumn(s, dir, "v", "value")
    TxLog.renameColumn(s, dir, "lang", "locale")
    TxLog.deleteMor(s, dir, col("locale") === "en" && col("k") < 30L)
    val t = s.read.format("txlog").load(dir)
    assert(!t.queryExecution.executedPlan.toString
      .contains("TxLogV1Relation"),
      "dv+mapping read fell off the index leg")
    assert(t.columns.toSeq == Seq("k", "value", "locale"))
    val delFr = (0 until 60).count(_ % 3 == 1)
    val delEn = (0 until 30).count(_ % 3 == 0)
    assert(t.count() == 300 - delFr - delEn)
    assert(t.filter(col("locale") === "fr").count() == 100 - delFr)
    // TIME TRAVEL to the pre-rename version: old schema, only the
    // first vector applied (different dv assignment → own broadcast)
    val t0 = TxLog.read(s, dir, asOf = Some(vAfterFirst))
    assert(t0.columns.toSeq == Seq("k", "v", "lang"))
    assert(t0.count() == 300 - delFr)
    assert(t0.filter(col("lang") === "en").count() == 100)
    // PLAN-TIME restriction fires on the dv-bearing index: with the
    // broadcast threshold floored, a partition filter must shrink
    // the LOGICAL stats the join planner reads (the restricted index
    // keeps the dv filter above it — counts stay MoR-exact)
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "1") {
      val q = s.read.format("txlog").load(dir)
        .filter(col("locale") === "de")
      val full = t.queryExecution.optimizedPlan.stats.sizeInBytes
      val restricted = q.queryExecution.optimizedPlan.stats.sizeInBytes
      assert(restricted < full,
        s"restriction did not shrink dv-bearing stats: " +
          s"$restricted vs $full")
      assert(q.count() == 100)
    }
  }

  // ---- FLATTEN is not reserved -------------------------------------

  test("OPTIMIZE WHERE predicate ending in an identifier named 'flatten' parses") {
    val s = spark
    import s.implicits._
    val dir = tmp("r20flatten").toString + "/t"
    (0 until 300).map(i => (i.toLong, (i % 7).toLong,
      Seq("en", "fr", "de")(i % 3))).toDF("k", "flatten", "lang")
      .write.partitionBy("lang").parquet(dir)
    TxLog.convertInPlace(s, dir, statsCols = Seq("k", "flatten"))
    TxLog.commitAppend(s, dir,
      (300 until 330).map(i => (i.toLong, (i % 7).toLong,
        Seq("en", "fr", "de")(i % 3))).toDF("k", "flatten", "lang"))
    // pre-fix: the regex backtracked to pred="k =" + FLATTEN and the
    // statement FAILED expression parsing; post-fix the identifier
    // stays in the predicate and the keyword flag stays off (purify)
    s.sql(s"OPTIMIZE '$dir' WHERE k = flatten TARGET 2 FILES")
    val snap = TxLog.snapshot(s, dir)
    assert(snap.files.forall(_.path.contains("lang=")),
      "a predicate ending in 'flatten' must NOT imply FLATTEN " +
        s"(flat rewrite ran): ${snap.files.map(_.path).take(3)}")
    assert(s.read.format("txlog").load(dir).count() == 330)
    // the keyword still works when it IS trailing after a complete
    // predicate — including one that USES the column named flatten
    s.sql(s"OPTIMIZE '$dir' WHERE flatten >= 0 FLATTEN")
    val flat = TxLog.snapshot(s, dir)
    assert(flat.files.forall(!_.path.contains("=")),
      "an explicit trailing FLATTEN keyword lost its meaning")
    assert(s.read.format("txlog").load(dir).count() == 330)
  }
}
