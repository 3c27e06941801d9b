package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions._

/** Round-14 hardening: byte-budget admission after an unknown-size
  * commit (no sentinel poisoning), zero-cost commits co-admitting
  * behind an unknown one, and the bestFitPacked duplicate-(group,
  * order) refusal.
  */
class Round14Spec extends SparkSpec {

  private def tmp(prefix: String): Path =
    Files.createTempDirectory(prefix)

  /** Strip the recorded `bytes` field from ONE commit's json — a
    * commit written before byte recording. */
  private def stripBytes(dir: String, v: Long): Unit = {
    val logDir = java.nio.file.Paths.get(dir, graft.sources.TxLog.LogDir)
    val p = logDir.resolve(f"$v%020d.json")
    val t = new String(Files.readAllBytes(p), "UTF-8")
    Files.write(p, t.replaceAll(",\"bytes\":\\d+", "").getBytes("UTF-8"))
    ()
  }

  // ---- admission after an unknown-size commit ----------------------

  test("byte budget: a known-size commit never co-admits behind an unknown-size one") {
    val s = spark
    import s.implicits._
    val dir = tmp("r14adm").toString
    def df(i: Long) = Seq((i, s"n$i")).toDF("id", "name")
    graft.sources.TxLog.commitOverwrite(spark, dir, df(1))   // v0
    (2L to 4L).foreach(i =>
      graft.sources.TxLog.commitAppend(spark, dir, df(i)))   // v1..v3
    stripBytes(dir, 1L) // v1 predates byte recording
    // a budget far above any real file size — the old sentinel
    // (Long.MaxValue/4) fit under it, silently co-admitting the
    // known-size commits after the unknown one
    val src = new graft.sources.TxLogSource(spark, dir,
      maxFiles = None, maxRows = None,
      maxBytes = Some(Long.MaxValue / 2))
    def step(from: Long): Long =
      src.latestOffset(LongOffset(from), ReadLimit.allAvailable()) match {
        case o: LongOffset => o.offset
      }
    assert(step(-1L) == 0L, "v0 fits, v1 (unknown) must stop the grant")
    assert(step(0L) == 1L,
      "the unknown-size commit admits ALONE — known-size v2/v3 must " +
        "not co-admit no matter how large the budget")
    assert(step(1L) == 3L, "after the unknown commit, budgeting resumes")
  }

  test("byte budget: zero-cost commits co-admit behind an unknown-size commit") {
    val s = spark
    import s.implicits._
    val dir = tmp("r14admz").toString
    def df(i: Long) = Seq((i, s"n$i")).toDF("id", "name")
    graft.sources.TxLog.commitOverwrite(spark, dir, df(1))   // v0
    graft.sources.TxLog.commitAppend(spark, dir, df(2))      // v1
    graft.sources.TxLog.compact(spark, dir, targetFiles = 1) // v2 (zero)
    graft.sources.TxLog.commitAppend(spark, dir, df(3))      // v3
    stripBytes(dir, 1L)
    val budget = graft.sources.TxLog.snapshot(spark, dir)
      .files.flatMap(_.bytes).max // roughly one file
    val src = new graft.sources.TxLogSource(spark, dir,
      maxFiles = None, maxRows = None, maxBytes = Some(budget))
    def step(from: Long): Long =
      src.latestOffset(LongOffset(from), ReadLimit.allAvailable()) match {
        case o: LongOffset => o.offset
      }
    // v1 admits alone (unknown) and the compact rides along free —
    // maintenance must not stall a trigger behind an unknown commit
    assert(step(0L) == 2L,
      "zero-cost compact must co-admit with the unknown-size commit")
    assert(step(2L) == 3L)
  }

  // ---- in-commit timestamps ----------------------------------------

  private def logJson(dir: String, v: Long): java.nio.file.Path =
    java.nio.file.Paths.get(dir, graft.sources.TxLog.LogDir,
      f"$v%020d.json")

  test("in-commit timestamps: recorded, strictly increasing, and immune to mtime mangling") {
    val s = spark
    import s.implicits._
    val dir = tmp("r14ict").toString
    val TxLog = graft.sources.TxLog
    def df(i: Long) = Seq((i, s"n$i")).toDF("id", "name")
    TxLog.commitOverwrite(spark, dir, df(1))           // v0
    TxLog.commitAppend(spark, dir, df(2))              // v1
    TxLog.commitAppend(spark, dir, df(3))              // v2
    // every commit records its timestamp, strictly increasing even
    // for commits landing in the same millisecond
    val recorded = (0L to 2L).map { v =>
      val t = new String(java.nio.file.Files.readAllBytes(
        logJson(dir, v)), "UTF-8")
      "\"ts\":(\\d+)".r.findFirstMatchIn(t).get.group(1).toLong
    }
    assert(recorded == recorded.sorted && recorded.distinct.size == 3,
      s"in-commit timestamps not strictly increasing: $recorded")
    // a copied/backed-up log loses mtimes: scramble them backwards —
    // the recorded axis must win (this is WHY the timestamp lives in
    // the commit, Delta's inCommitTimestamps rationale)
    (0L to 2L).foreach { v =>
      java.nio.file.Files.setLastModifiedTime(logJson(dir, v),
        java.nio.file.attribute.FileTime.fromMillis(999999L - v * 1000))
    }
    val h = TxLog.history(spark, dir).orderBy("version")
      .select("timestamp").as[Long].collect().toSeq
    assert(h == recorded, s"history fell back to mangled mtimes: $h")
    assert(TxLog.versionAt(spark, dir, recorded(1)) == 1L)
    assert(TxLog.versionAt(spark, dir, recorded(2) - 1) == 1L)
    assert(TxLog.versionAt(spark, dir, recorded(2)) == 2L)
  }

  test("in-commit timestamps: pre-recording commits fall back to mtime on a merged axis") {
    val s = spark
    import s.implicits._
    val dir = tmp("r14ictold").toString
    val TxLog = graft.sources.TxLog
    def df(i: Long) = Seq((i, s"n$i")).toDF("id", "name")
    TxLog.commitOverwrite(spark, dir, df(1))           // v0 (becomes "old")
    TxLog.commitAppend(spark, dir, df(2))              // v1 (becomes "old")
    TxLog.commitAppend(spark, dir, df(3))              // v2 (keeps its ts)
    // strip the recorded ts from v0/v1 — a log written before
    // timestamp recording — and pin their mtimes
    (0L to 1L).foreach { v =>
      val p = logJson(dir, v)
      val t = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      java.nio.file.Files.write(p,
        t.replaceFirst("\"ts\":\\d+,", "").getBytes("UTF-8"))
      java.nio.file.Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(100000L + v * 100000))
      ()
    }
    val h = TxLog.history(spark, dir).orderBy("version")
      .select("timestamp").as[Long].collect().toSeq
    assert(h(0) == 100000L && h(1) == 200000L,
      s"old commits must resolve by mtime: $h")
    assert(h(2) > h(1), s"merged axis must stay monotonic: $h")
    assert(TxLog.versionAt(spark, dir, 150000L) == 0L)
    assert(TxLog.versionAt(spark, dir, 200000L) == 1L)
  }

  // ---- incremental materialized aggregates -------------------------

  private def mvState(mvDir: String): Set[(String, Long, Long, Long, Long)] = {
    val s = spark
    import s.implicits._
    graft.sources.TxLog.read(spark, mvDir)
      .select("grp", "n_rows", "sum_v", "min_v", "max_v")
      .as[(String, Long, Long, Long, Long)].collect().toSet
  }

  private def recompute(srcDir: String): Set[(String, Long, Long, Long, Long)] = {
    val s = spark
    import s.implicits._
    graft.sources.MaterializedAgg.aggregate(
      graft.sources.TxLog.read(spark, srcDir),
      Seq("grp"), Seq("v"), Seq("v"), Seq("v"))
      .select("grp", "n_rows", "sum_v", "min_v", "max_v")
      .as[(String, Long, Long, Long, Long)].collect().toSet
  }

  test("materialized agg: create + refresh folds inserts, retractions, key birth and death") {
    val s = spark
    import s.implicits._
    val src = tmp("r14mvsrc").toString
    val mv = tmp("r14mv").toString + "/t"
    val TxLog = graft.sources.TxLog
    val MA = graft.sources.MaterializedAgg
    def rows(t: (Long, String, Long)*) = t.toSeq.toDF("id", "grp", "v")
    TxLog.commitOverwrite(spark, src,
      rows((1L, "a", 10L), (2L, "a", 4L), (3L, "b", 7L)))
    val w0 = MA.create(spark, src, mv, keys = Seq("grp"),
      sums = Seq("v"), mins = Seq("v"), maxs = Seq("v"))
    assert(w0 == 0L)
    assert(mvState(mv) == recompute(src))

    // insert-only span: new key c born, key a improves its max —
    // folded incrementally (no retraction in the span)
    TxLog.commitAppend(spark, src, rows((4L, "c", 1L), (5L, "a", 99L)))
    MA.refresh(spark, mv)
    assert(mvState(mv) == recompute(src))
    assert(MA.watermark(spark, mv) == 1L)

    // retraction of a's max (99) — the dirty-key recompute path
    TxLog.delete(spark, src, col("id") === 5L)
    MA.refresh(spark, mv)
    assert(mvState(mv) == recompute(src))

    // key death: b loses its only row and must leave the view
    TxLog.delete(spark, src, col("grp") === "b")
    MA.refresh(spark, mv)
    assert(mvState(mv) == recompute(src))
    assert(!mvState(mv).exists(_._1 == "b"))

    // idempotence: a second refresh with nothing new is a no-op
    val vBefore = TxLog.snapshot(spark, mv).version
    MA.refresh(spark, mv)
    assert(TxLog.snapshot(spark, mv).version == vBefore)
  }

  testBothForms("materialized agg: randomized DML model check — view equals recompute after every refresh") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(1408)
    val src = tmp("r14mvmodel").toString
    val mv = tmp("r14mvmodelv").toString + "/t"
    val TxLog = graft.sources.TxLog
    val MA = graft.sources.MaterializedAgg
    val grps = Vector("g0", "g1", "g2", "g3")
    var nextId = 0L
    def fresh(n: Int): Seq[(Long, String, Long)] = {
      val out = (0 until n).map(i => (nextId + i,
        grps(rnd.nextInt(grps.size)), rnd.nextInt(1000).toLong))
      nextId += n; out
    }
    def mkDf(t: Seq[(Long, String, Long)]) = t.toDF("id", "grp", "v")
    // key stats on the source: dirty recomputes run through the
    // stats-pruned read path under the model check
    TxLog.commitOverwrite(spark, src, mkDf(fresh(8)),
      statsCols = Seq("grp"))
    MA.create(spark, src, mv, keys = Seq("grp"),
      sums = Seq("v"), mins = Seq("v"), maxs = Seq("v"))
    (1 to 18).foreach { step =>
      val existing = TxLog.read(spark, src)
        .select("id").as[Long].collect().toSeq.sorted
      def pick(): Long = existing(rnd.nextInt(existing.size))
      rnd.nextInt(7) match {
        case 0 => TxLog.commitAppend(spark, src, mkDf(fresh(1 + rnd.nextInt(3))))
        case 1 if existing.nonEmpty =>
          TxLog.delete(spark, src, col("id") === pick())
        case 2 if existing.nonEmpty =>
          TxLog.deleteMor(spark, src, col("id") === pick())
        case 3 if existing.nonEmpty =>
          TxLog.update(spark, src, col("id") === pick(),
            Map("v" -> lit(rnd.nextInt(1000).toLong)))
        case 4 if existing.nonEmpty =>
          TxLog.merge(spark, src, mkDf(
            Seq((pick(), grps(rnd.nextInt(grps.size)),
              rnd.nextInt(1000).toLong)) ++ fresh(1)), Seq("id"))
        case 5 => TxLog.compact(spark, src, targetFiles = 2)
        case _ if existing.nonEmpty =>
          TxLog.delete(spark, src,
            col("grp") === grps(rnd.nextInt(grps.size)))
        case _ =>
          TxLog.commitAppend(spark, src, mkDf(fresh(1)))
      }
      // refresh only on some steps: a refresh must fold MULTI-commit
      // spans, not just single commits
      if (step % 3 == 0 || step == 18) {
        MA.refresh(spark, mv)
        assert(mvState(mv) == recompute(src),
          s"view diverged from recompute at step $step")
      }
    }
    MA.refresh(spark, mv)
    assert(mvState(mv) == recompute(src))
    assert(MA.watermark(spark, mv) ==
      TxLog.snapshot(spark, src).version)
  }

  test("materialized agg: directive plan — equi-joins only, map-side-combined deltas, no cartesian") {
    val s = spark
    import s.implicits._
    val src = tmp("r14mvplan").toString
    val mv = tmp("r14mvplanv").toString + "/t"
    val TxLog = graft.sources.TxLog
    val MA = graft.sources.MaterializedAgg
    def rows(t: (Long, String, Long)*) = t.toSeq.toDF("id", "grp", "v")
    TxLog.commitOverwrite(spark, src, rows((1L, "a", 10L), (2L, "b", 7L)))
    MA.create(spark, src, mv, keys = Seq("grp"),
      sums = Seq("v"), mins = Seq("v"), maxs = Seq("v"))
    TxLog.delete(spark, src, col("id") === 1L)
    TxLog.commitAppend(spark, src, rows((3L, "c", 5L)))
    val spec = MA.readMeta(spark, mv)
    val feed = TxLog.changeFeed(spark, src, 0L, Some(2L))
    val qe = MA.directivesFor(spark, mv, spec,
      MA.touchedDeltas(spec, feed), 2L).queryExecution
    val p = qe.executedPlan.toString
    // the fold is hash-keyed end to end: signed deltas are a keyed
    // aggregation (map-side combined), old state joins by key, the
    // dirty recompute semi-joins by key — nothing may plan a
    // cartesian or nested loop, and no window appears anywhere
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p)
    assert(qe.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, p)
    assert(p.contains("HashAggregate"), p)
  }

  test("materialized agg: sums-only view never needs the source and handles retraction") {
    val s = spark
    import s.implicits._
    val src = tmp("r14mvsum").toString
    val mv = tmp("r14mvsumv").toString + "/t"
    val TxLog = graft.sources.TxLog
    val MA = graft.sources.MaterializedAgg
    def rows(t: (Long, String, Long)*) = t.toSeq.toDF("id", "grp", "v")
    TxLog.commitOverwrite(spark, src, rows((1L, "a", 5L), (2L, "b", 3L)))
    MA.create(spark, src, mv, keys = Seq("grp"), sums = Seq("v"))
    TxLog.delete(spark, src, col("id") === 2L)
    TxLog.commitAppend(spark, src, rows((3L, "a", 7L)))
    // make the source UNREADABLE at refresh time would be the strong
    // form; the observable contract: deltas alone fold deletes when
    // no MIN/MAX is configured
    MA.refresh(spark, mv)
    val st = graft.sources.TxLog.read(spark, mv)
      .select("grp", "n_rows", "sum_v").as[(String, Long, Long)]
      .collect().toSet
    assert(st == Set(("a", 2L, 12L)))
  }

  test("materialized agg: streaming sink folds the live change feed with batch-refresh parity") {
    val s = spark
    import s.implicits._
    val src = tmp("r14mvstream").toString
    val mv = tmp("r14mvstreamv").toString + "/t"
    val TxLog = graft.sources.TxLog
    val MA = graft.sources.MaterializedAgg
    def rows(t: (Long, String, Long)*) = t.toSeq.toDF("id", "grp", "v")
    TxLog.commitOverwrite(spark, src,
      rows((1L, "a", 10L), (2L, "b", 20L)))
    val w = MA.create(spark, src, mv, keys = Seq("grp"),
      sums = Seq("v"), mins = Seq("v"), maxs = Seq("v"))
    // history the stream must fold: inserts, a retraction, a key death
    TxLog.commitAppend(spark, src, rows((3L, "a", 1L), (4L, "c", 9L)))
    TxLog.delete(spark, src, col("id") === 1L)   // retracts a's max
    TxLog.delete(spark, src, col("grp") === "b") // key death
    val feed = spark.readStream.format("txlog")
      .option("readChangeFeed", "true")
      .option("startingVersion", w + 1).load(src)
    val q = MA.mvApplySink(feed, mv, tmp("r14mvck").toString)
    try q.processAllAvailable() finally q.stop()
    assert(mvState(mv) == recompute(src))
    // the stream advanced the watermark: a batch refresh is a no-op
    val vBefore = TxLog.snapshot(spark, mv).version
    assert(MA.refresh(spark, mv) == TxLog.snapshot(spark, src).version)
    assert(TxLog.snapshot(spark, mv).version == vBefore)
  }

  // ---- restoreAt + followAggregate ---------------------------------

  test("materialized agg: mor refresh folds deltas through vectors — zero view-file rewrites, state parity") {
    val s = spark
    import s.implicits._
    val src = tmp("r14mvmor").toString
    val mv = tmp("r14mvmorv").toString + "/t"
    val TxLog = graft.sources.TxLog
    val MA = graft.sources.MaterializedAgg
    def rows(t: (Long, String, Long)*) = t.toSeq.toDF("id", "grp", "v")
    TxLog.commitOverwrite(spark, src,
      rows((0L until 12L).map(i => (i, s"g${i % 6}", i)): _*))
    MA.create(spark, src, mv, keys = Seq("grp"), sums = Seq("v"))
    val pre = TxLog.snapshot(spark, mv).files.map(_.path).toSet
    TxLog.delete(spark, src, col("id") === 3L)
    TxLog.commitAppend(spark, src, rows((20L, "g1", 100L)))
    MA.refresh(spark, mv, mor = true)
    val post = TxLog.snapshot(spark, mv)
    assert(pre.subsetOf(post.files.map(_.path).toSet),
      "mor refresh must never rewrite a standing view file")
    assert(post.files.exists(_.dv.isDefined))
    val state = TxLog.read(spark, mv)
      .select("grp", "n_rows", "sum_v").as[(String, Long, Long)]
      .collect().toSet
    val expect = TxLog.read(spark, src).groupBy("grp")
      .agg(count(lit(1)).as("n"), sum("v").as("s"))
      .as[(String, Long, Long)].collect().toSet
    assert(state == expect)
  }

  test("restoreAt: undo to the version live at a wall-clock time") {
    val s = spark
    import s.implicits._
    val dir = tmp("r14restore").toString
    val TxLog = graft.sources.TxLog
    def df(i: Long) = Seq((i, s"n$i")).toDF("id", "name")
    TxLog.commitOverwrite(spark, dir, df(1))   // v0
    TxLog.commitAppend(spark, dir, df(2))      // v1
    TxLog.commitAppend(spark, dir, df(3))      // v2
    val ts = TxLog.history(spark, dir).orderBy("version")
      .select("timestamp").as[Long].collect()
    val v = TxLog.restoreAt(spark, dir, ts(1)) // the table as of v1
    assert(v == 3L)
    assert(TxLog.read(spark, dir).select("id").as[Long].collect()
      .toSet == Set(1L, 2L))
  }

  test("followAggregate: medallion view follows the live feed; restart resumes consistently") {
    val s = spark
    import s.implicits._
    import graft.quality.DataZone
    import graft.etl.LoadType
    val root = tmp("r14fagg").toString
    val p = new graft.etl.MedallionPipeline(spark, root, useTxLog = true)
    def batch(t: (Long, String, Long)*) = t.toSeq.toDF("id", "grp", "v")
    p.write(DataZone.Bronze, "m", batch((1L, "a", 5L), (2L, "b", 3L)),
      LoadType.Full)
    val ck = tmp("r14faggck").toString
    def run(): Unit = {
      val q = p.followAggregate("r14agg", "m", DataZone.Bronze,
        DataZone.Gold, "m_by_grp", keys = Seq("grp"), sums = Seq("v"),
        checkpointDir = Some(ck))
      try q.processAllAvailable() finally q.stop()
    }
    p.write(DataZone.Bronze, "m", batch((3L, "a", 2L)), LoadType.Append)
    run()
    val mvDir = p.path(DataZone.Gold, "m_by_grp")
    def view: Set[(String, Long, Long)] =
      graft.sources.TxLog.read(spark, mvDir)
        .select("grp", "n_rows", "sum_v").as[(String, Long, Long)]
        .collect().toSet
    assert(view == Set(("a", 2L, 7L), ("b", 1L, 3L)))
    // more source DML while the stream is down; a RESTARTED query
    // (same checkpoint) folds only the missed span
    p.deleteWhere(DataZone.Bronze, "m", col("id") === 2L) // b dies
    p.write(DataZone.Bronze, "m", batch((4L, "c", 9L)), LoadType.Append)
    run()
    assert(view == Set(("a", 2L, 7L), ("c", 1L, 9L)))
    // and the batch refresh agrees it is current
    assert(graft.sources.MaterializedAgg.refresh(spark, mvDir) ==
      graft.sources.TxLog.snapshot(spark,
        p.path(DataZone.Bronze, "m")).version)
  }

  // ---- derived followers -------------------------------------------

  test("followDerived: a scored follower tracks DML; empty derivations delete the key") {
    val s = spark
    import s.implicits._
    import graft.quality.DataZone
    import graft.etl.LoadType
    val T = graft.sources.TxLog
    val root = tmp("r14fd").toString
    val p = new graft.etl.MedallionPipeline(spark, root, useTxLog = true)
    def batch(t: (Long, String)*) = t.toSeq.toDF("id", "text")
    // the derivation: a score per doc, docs under 3 chars dropped —
    // an f that can make a key's derivation vanish
    val derive: org.apache.spark.sql.DataFrame =>
      org.apache.spark.sql.DataFrame = df =>
      df.filter(length(col("text")) >= 3)
        .select(col("id"), col("text"),
          length(col("text")).cast("long").as("n_chars"))
    p.write(DataZone.Bronze, "d",
      batch((1L, "alpha"), (2L, "ab"), (3L, "gamma")), LoadType.Full)
    val ck = tmp("r14fdck").toString
    def run(): Unit = {
      val q = p.followDerived("r14fd", "d", DataZone.Bronze,
        DataZone.Gold, "d_scored", derive, key = Seq("id"),
        checkpointDir = Some(ck))
      try q.processAllAvailable() finally q.stop()
    }
    run()
    val tgt = p.path(DataZone.Gold, "d_scored")
    def state: Set[(Long, String, Long)] =
      T.read(spark, tgt).as[(Long, String, Long)].collect().toSet
    assert(state == Set((1L, "alpha", 5L), (3L, "gamma", 5L)),
      "sub-threshold doc 2 must not appear in the derived table")
    // DML while the stream is down; restart folds only the delta:
    // 1 shrinks under the threshold (derivation vanishes), 3 is
    // rescored, 2 grows past the threshold (derivation born),
    // 4 arrives, and a MoR delete kills nothing derived (2 was born
    // in the same span — last-writer-wins inside the batch)
    p.updateWhere(DataZone.Bronze, "d", col("id") === 1L,
      Map("text" -> lit("x")))
    p.updateWhere(DataZone.Bronze, "d", col("id") === 3L,
      Map("text" -> lit("gammas")))
    p.updateWhere(DataZone.Bronze, "d", col("id") === 2L,
      Map("text" -> lit("abcde")))
    p.write(DataZone.Bronze, "d", batch((4L, "delta")), LoadType.Append)
    run()
    assert(state == Set((2L, "abcde", 5L), (3L, "gammas", 6L),
      (4L, "delta", 5L)),
      "restart must rescore, bear, and vanish derived rows per the span")
  }

  test("followDerived group: a chunk follower replaces whole derived groups") {
    val s = spark
    import s.implicits._
    import graft.quality.DataZone
    import graft.etl.LoadType
    val T = graft.sources.TxLog
    val root = tmp("r14fg").toString
    val p = new graft.etl.MedallionPipeline(spark, root, useTxLog = true)
    def batch(t: (Long, String)*) = t.toSeq.toDF("id", "text")
    // one doc → N fixed-width chunks; empty docs derive nothing
    val chunk: org.apache.spark.sql.DataFrame =>
      org.apache.spark.sql.DataFrame = df =>
      df.filter(length(col("text")) > 0)
        .select(col("id"), posexplode(expr(
          "transform(sequence(0, int(ceil(length(text)/3))-1), " +
            "i -> substring(text, i*3+1, 3))")))
        .withColumnRenamed("pos", "ix")
        .withColumnRenamed("col", "chunk")
    p.write(DataZone.Bronze, "c",
      batch((1L, "abcdefg"), (2L, "xyz")), LoadType.Full)
    val ck = tmp("r14fgck").toString
    def run(): Unit = {
      val q = p.followDerived("r14fg", "c", DataZone.Bronze,
        DataZone.Gold, "c_chunks", chunk, key = Seq("id"),
        group = true, checkpointDir = Some(ck))
      try q.processAllAvailable() finally q.stop()
    }
    run()
    val tgt = p.path(DataZone.Gold, "c_chunks")
    def state: Set[(Long, Int, String)] =
      T.read(spark, tgt).as[(Long, Int, String)].collect().toSet
    assert(state == Set((1L, 0, "abc"), (1L, 1, "def"), (1L, 2, "g"),
      (2L, 0, "xyz")))
    // doc 1 SHRINKS (3 chunks → 1): the stale chunks must vanish
    // with the replaced group, not linger beside the new one
    p.updateWhere(DataZone.Bronze, "c", col("id") === 1L,
      Map("text" -> lit("pq")))
    // doc 2 empties: its whole group dies; doc 3 arrives
    p.updateWhere(DataZone.Bronze, "c", col("id") === 2L,
      Map("text" -> lit("")))
    p.write(DataZone.Bronze, "c", batch((3L, "mnopqr")), LoadType.Append)
    run()
    assert(state == Set((1L, 0, "pq"),
      (3L, 0, "mno"), (3L, 1, "pqr")),
      "a replaced group must fully supersede its stale chunks")
  }

  test("applyGroupChanges: multi-row groups replace atomically; mixed directives refuse") {
    val s = spark
    import s.implicits._
    val T = graft.sources.TxLog
    val dir = tmp("r14grp").toString
    T.commitOverwrite(spark, dir,
      Seq((1L, 0, "a0"), (1L, 1, "a1"), (2L, 0, "b0"))
        .toDF("id", "ix", "v"), statsCols = Seq("id"))
    // replace group 1 with THREE rows, delete group 2
    val dirs = Seq((1L, 0, "n0", false), (1L, 1, "n1", false),
      (1L, 2, "n2", false), (2L, 0, null.asInstanceOf[String], true))
      .toDF("id", "ix", "v", "_del")
    T.applyGroupChanges(spark, dir, dirs, Seq("id"), "_del")
    assert(T.read(spark, dir).as[(Long, Int, String)].collect().toSet ==
      Set((1L, 0, "n0"), (1L, 1, "n1"), (1L, 2, "n2")))
    val mixed = Seq((1L, 0, "x", false), (1L, 0, "y", true))
      .toDF("id", "ix", "v", "_del")
    val e = intercept[IllegalArgumentException] {
      T.applyGroupChanges(spark, dir, mixed, Seq("id"), "_del")
    }
    assert(e.getMessage.contains("both delete and insert"))
    // the strict form still refuses several directives per key
    val dup = Seq((1L, 0, "x", false), (1L, 1, "y", false))
      .toDF("id", "ix", "v", "_del")
    val e2 = intercept[IllegalArgumentException] {
      T.applyChanges(spark, dir, dup, Seq("id"), "_del")
    }
    assert(e2.getMessage.contains("several directives"))
  }

  // ---- diversity selection -----------------------------------------

  test("curation_diversity: round-robin over buckets — full coverage before any repeat, deterministic, TakeOrdered plan") {
    val s = spark
    import s.implicits._
    val q = SparkEntry.queries("curation_diversity")(spark, sf)
    val sel = q.collect()
    assert(sel.length == graft.queries.SimilarityQueries.DivN)
    // every pick is unique
    assert(sel.map(_.getLong(0)).distinct.length == sel.length)
    // the round-robin contract: round r+1 starts only after round r
    // took one from EVERY bucket that still has vectors — so per-round
    // pick counts never increase with r, and round 1 covers exactly
    // min(occupied buckets, n) distinct buckets
    val byRound = sel.groupBy(_.getLong(2)).view.mapValues(_.length)
      .toSeq.sortBy(_._1)
    byRound.sliding(2).foreach {
      case Seq((_, a), (_, b)) => assert(b <= a,
        s"later round picked more than an earlier one: $byRound")
      case _ =>
    }
    val occupied = graft.operators.Similarity.diversitySample(
      graft.Tables(spark, sf, "embeddings"), "vec_id", "embedding",
      n = Int.MaxValue, bandBits = graft.queries.SimilarityQueries.DivBits,
      dims = graft.queries.SimilarityQueries.Dims,
      planeOffset = graft.queries.SimilarityQueries.DivOffset)
      .select("bucket").distinct().count()
    val firstRound = sel.filter(_.getLong(2) == 1L)
    assert(firstRound.map(_.getInt(1)).distinct.length ==
      math.min(occupied, graft.queries.SimilarityQueries.DivN.toLong).toInt,
      "round 1 must span every occupied bucket before any bucket repeats")
    // deterministic across runs
    val again = q.collect()
    assert(sel.map(_.toString).toSeq == again.map(_.toString).toSeq)
    // plan: keyed window + TakeOrderedAndProject, no global sort pass,
    // no cartesian
    val qe = q.queryExecution
    val p = qe.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p)
    qe.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.foreach(w => assert(w.partitionSpec.nonEmpty, p))
  }

  // ---- bestFitPacked duplicate-key refusal -------------------------

  test("bestFitPacked: duplicate (group, order) refuses loudly instead of fanning out") {
    val s = spark
    import s.implicits._
    val clean = Seq(
      ("a", 1L, 6L, "p1"), ("a", 2L, 4L, "p2"), ("a", 3L, 3L, "p3"))
      .toDF("src", "ord", "n_tok", "payload")
    val packed = graft.operators.Pack.bestFitPacked(clean,
      "src", "ord", "n_tok", "payload", maxTokens = 10L)
    val rows = packed.collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == 3L)
    assert(rows.flatMap(_.getSeq[String](rows.head.fieldIndex("payloads")))
      .sorted.toSeq == Seq("p1", "p2", "p3"))

    val dup = clean.union(
      Seq(("a", 2L, 4L, "p2b")).toDF("src", "ord", "n_tok", "payload"))
    val e = intercept[Exception] {
      graft.operators.Pack.bestFitPacked(dup,
        "src", "ord", "n_tok", "payload", maxTokens = 10L).collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c =>
      Option(c.getMessage).exists(_.contains("duplicate (src, ord)"))),
      s"expected the duplicate-key refusal, got: $e")
  }

  // ---- MV aggregate classes: avgs + others -------------------------

  testBothForms("materialized agg: avgs maintain sum/cnt under nulls; avg equals recompute") {
    val s = spark
    import s.implicits._
    val T = graft.sources.TxLog
    val MA = graft.sources.MaterializedAgg
    val rnd = new scala.util.Random(1414)
    val src = tmp("r14avg").toString
    val mv = tmp("r14avgv").toString + "/t"
    var nextId = 0L
    def fresh(n: Int): Seq[(Long, String, Option[Int])] = {
      val out = (0 until n).map { i =>
        (nextId + i, s"g${rnd.nextInt(3)}",
          if (rnd.nextInt(4) == 0) None else Some(rnd.nextInt(100)))
      }
      nextId += n; out
    }
    def mkDf(t: Seq[(Long, String, Option[Int])]) =
      t.toDF("id", "grp", "v")
    def state(df: org.apache.spark.sql.DataFrame) =
      df.select("grp", "n_rows", "sum_v", "cnt_v", "avg_v")
        .collect().map(_.toSeq).toSet
    T.commitOverwrite(spark, src, mkDf(fresh(12)), statsCols = Seq("grp"))
    MA.create(spark, src, mv, keys = Seq("grp"), avgs = Seq("v"))
    (1 to 8).foreach { step =>
      rnd.nextInt(4) match {
        case 0 => T.commitAppend(spark, src, mkDf(fresh(1 + rnd.nextInt(3))))
        case 1 => T.delete(spark, src, col("id") % 5 === step % 5)
        case 2 => T.deleteMor(spark, src, col("id") % 7 === step % 7)
        case 3 => T.update(spark, src, col("id") % 3 === step % 3,
          // some updates null the value out — cnt must retract
          Map("v" -> when(col("id") % 2 === 0, col("v") + 10)))
      }
      MA.refresh(spark, mv)
      val want = state(MA.aggregate(T.read(spark, src),
        Seq("grp"), Nil, Nil, Nil, avgs = Seq("v")))
      assert(state(T.read(spark, mv)) == want,
        s"avg view diverged at step $step")
    }
  }

  testBothForms("materialized agg: others (count distinct) recomputes touched keys; view equals recompute") {
    val s = spark
    import s.implicits._
    val T = graft.sources.TxLog
    val MA = graft.sources.MaterializedAgg
    val rnd = new scala.util.Random(1415)
    val src = tmp("r14oth").toString
    val mv = tmp("r14othv").toString + "/t"
    var nextId = 0L
    def fresh(n: Int): Seq[(Long, String, Long)] = {
      val out = (0 until n).map(i =>
        (nextId + i, s"g${rnd.nextInt(3)}", rnd.nextInt(6).toLong))
      nextId += n; out
    }
    def mkDf(t: Seq[(Long, String, Long)]) = t.toDF("id", "grp", "v")
    def state(df: org.apache.spark.sql.DataFrame) =
      df.select("grp", "n_rows", "sum_v", "dist_v")
        .collect().map(_.toSeq).toSet
    T.commitOverwrite(spark, src, mkDf(fresh(12)), statsCols = Seq("grp"))
    MA.create(spark, src, mv, keys = Seq("grp"), sums = Seq("v"),
      others = Map("dist_v" -> "count(distinct v)"))
    (1 to 10).foreach { step =>
      rnd.nextInt(5) match {
        case 0 => T.commitAppend(spark, src, mkDf(fresh(1 + rnd.nextInt(3))))
        case 1 => T.delete(spark, src, col("id") % 5 === step % 5)
        // deleting ONE copy of a duplicated value must leave
        // dist_v alone while n_rows drops — only a recompute can
        // tell, which is why `others` turns net-zero suppression off
        case 2 => T.deleteMor(spark, src, col("id") === nextId - 1)
        case 3 => T.update(spark, src, col("id") % 4 === step % 4,
          Map("v" -> ((col("v") + 1) % 6)))
        case 4 => T.merge(spark, src, mkDf(fresh(2)), Seq("id"))
      }
      if (step % 2 == 0 || step == 10) {
        MA.refresh(spark, mv)
        val want = state(MA.aggregate(T.read(spark, src),
          Seq("grp"), Seq("v"), Nil, Nil,
          others = Map("dist_v" -> "count(distinct v)")))
        assert(state(T.read(spark, mv)) == want,
          s"others view diverged at step $step")
      }
    }
    // a clashing output name refuses loudly
    val e = intercept[IllegalArgumentException] {
      MA.create(spark, src, tmp("r14othbad").toString + "/t",
        keys = Seq("grp"), others = Map("sum_v" -> "count(distinct v)"))
    }
    assert(e.getMessage.contains("collide"))
  }

  // ---- metadata-first MIN/MAX --------------------------------------

  test("minMax: randomized DML model — extrema equal recompute; scans only what vectors or missing stats demand") {
    val s = spark
    import s.implicits._
    val T = graft.sources.TxLog
    val dir = tmp("r14mm").toString
    val rnd = new scala.util.Random(14)
    val allCols = Seq("id", "v", "w")
    def rows(n: Int, base: Int) = (0 until n).map { i =>
      (base + i.toLong,
        if (rnd.nextInt(5) == 0) None else Some(rnd.nextInt(1000)),
        Option.empty[Int]) // w: all-null column
    }
    def df(n: Int, base: Int) =
      rows(n, base).toDF("id", "v", "w")
        .repartition(2)
    T.commitOverwrite(spark, dir, df(200, 0), statsCols = allCols)
    var nextBase = 1000
    def check(): Unit = {
      val (mm, scanned) = T.minMaxDetailed(spark, dir, allCols, None)
      val got = mm.head().toSeq
      val want = T.read(spark, dir).select(
        min(col("id")), max(col("id")), min(col("v")), max(col("v")),
        min(col("w")), max(col("w"))).head().toSeq
      assert(got == want, s"metadata extrema $got != recompute $want")
      // the claim, not just the answer: only files whose logged
      // bounds are untrustworthy may be scanned
      val snap = T.snapshot(spark, dir)
      val phys = allCols.map(snap.phys)
      val untrusted = snap.files.filter(f =>
        f.dv.isDefined || phys.exists(p => !f.stats.get(p).exists(st =>
          (st.min.isDefined && st.max.isDefined) ||
            (st.min.isEmpty && st.max.isEmpty)))).map(_.path).toSet
      assert(scanned.toSet == untrusted,
        s"scanned $scanned != untrusted sliver $untrusted")
    }
    check() // clean table: pure metadata
    assert(T.minMaxDetailed(spark, dir, allCols, None)._2.isEmpty)
    (1 to 12).foreach { step =>
      rnd.nextInt(5) match {
        case 0 => // append, sometimes WITHOUT stats (pre-stats commit)
          val cols = if (rnd.nextBoolean()) allCols else Nil
          T.commitAppend(spark, dir, df(50, nextBase), statsCols = cols)
          nextBase += 1000
        case 1 => // copy-on-write delete: rewrites refresh stats
          T.delete(spark, dir, col("id") % 7 === step % 7,
            statsCols = allCols)
        case 2 => // merge-on-read delete: vectors make bounds unsound
          T.deleteMor(spark, dir, col("v") < 100 + 20 * step)
        case 3 => // update shifts values; rewritten files get stats
          T.update(spark, dir, col("id") % 11 === step % 11,
            Map("v" -> (col("v") + 500)), statsCols = allCols)
        case 4 => // compact: vectors fold away, stats refresh
          T.compact(spark, dir, targetFiles = 2, statsCols = allCols)
      }
      check()
    }
    // after a compact with stats, the pure-metadata path must hold
    T.compact(spark, dir, targetFiles = 2, statsCols = allCols)
    assert(T.minMaxDetailed(spark, dir, allCols, None)._2.isEmpty,
      "post-compact extrema must be metadata-only")
    val e = intercept[IllegalArgumentException] {
      T.minMax(spark, dir, Seq("nope"))
    }
    assert(e.getMessage.contains("unknown column 'nope'"))
  }

  test("deepClone: self-contained copy — dvs, stats and constraints carry; survives source deletion; DML works") {
    val s = spark
    import s.implicits._
    val TxLog = graft.sources.TxLog
    val src = tmp("r14deep").toString
    val dst = tmp("r14deept").toString + "/t"
    def rows(t: (Long, Long)*) = t.toSeq.toDF("id", "v")
    TxLog.commitOverwrite(spark, src,
      rows((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L))
        .repartitionByRange(2, col("id")),
      statsCols = Seq("id"))
    TxLog.addCheckConstraint(spark, src, "v_pos", "v >= 0")
    TxLog.deleteMor(spark, src, col("id") === 2L) // standing vector
    TxLog.deepClone(spark, src, dst)

    val snap = TxLog.snapshot(spark, dst)
    assert(snap.files.forall(f => !f.path.startsWith("/")),
      "deep clone must register dir-relative paths")
    assert(snap.files.exists(_.dv.isDefined), "deletion vector carried")
    assert(snap.files.forall(_.stats.nonEmpty), "per-file stats carried")
    assert(snap.constraints == Map("v_pos" -> "v >= 0"))
    assert(TxLog.read(spark, dst).select("id", "v").as[(Long, Long)]
      .collect().toSet == Set((1L, 10L), (3L, 30L), (4L, 40L)))

    // the source vanishes outright — the clone must not notice
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(src))
    assert(TxLog.read(spark, dst).count() == 3L)
    TxLog.update(spark, dst, col("id") === 3L, Map("v" -> lit(31L)))
    assert(TxLog.read(spark, dst).select("id", "v").as[(Long, Long)]
      .collect().toSet == Set((1L, 10L), (3L, 31L), (4L, 40L)))
    // the carried constraint still enforces on the clone
    val e = intercept[Exception] {
      TxLog.commitAppend(spark, dst, rows((9L, -5L)))
    }
    assert(e.getMessage.contains("v_pos"))
  }

  test("deepClone of a shallow clone detaches from both ancestors") {
    val s = spark
    import s.implicits._
    val TxLog = graft.sources.TxLog
    val src = tmp("r14deepsrc").toString
    val sh = tmp("r14deepsh").toString + "/t"
    val deep = tmp("r14deepdeep").toString + "/t"
    def rows(t: (Long, Long)*) = t.toSeq.toDF("id", "v")
    TxLog.commitOverwrite(spark, src, rows((1L, 1L), (2L, 2L)))
    TxLog.clone(spark, src, sh) // zero-copy: absolute refs into src
    TxLog.commitAppend(spark, sh, rows((3L, 3L))) // own file too
    TxLog.deepClone(spark, sh, deep)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(src))
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(sh).getParentFile)
    assert(TxLog.read(spark, deep).select("id", "v").as[(Long, Long)]
      .collect().toSet == Set((1L, 1L), (2L, 2L), (3L, 3L)))
    // and the target-exists refusal matches the shallow form's
    val e = intercept[Exception] {
      TxLog.deepClone(spark, deep, deep)
    }
    assert(e.getMessage.contains("already a logged table"))
  }

  test("minMax: all-null columns, time travel, and string extrema") {
    val s = spark
    import s.implicits._
    val T = graft.sources.TxLog
    val dir = tmp("r14mms").toString
    val d0 = Seq((1L, "bb", Option.empty[Int]),
      (2L, "aa", Option.empty[Int]), (3L, "cc", Option.empty[Int]))
      .toDF("id", "name", "w")
    T.commitOverwrite(spark, dir, d0, statsCols = Seq("id", "name", "w"))
    val v0 = T.snapshot(spark, dir).version
    T.commitAppend(spark, dir,
      Seq((9L, "zz", Option(5))).toDF("id", "name", "w"),
      statsCols = Seq("id", "name", "w"))
    val (mm, scanned) =
      T.minMaxDetailed(spark, dir, Seq("id", "name", "w"), None)
    assert(scanned.isEmpty, "stats-covered table must not scan")
    assert(mm.head().toSeq ==
      Seq(1L, 9L, "aa", "zz", 5, 5))
    // as-of the first version: w was all-null → SQL null extrema
    val r0 = T.minMax(spark, dir, Seq("id", "name", "w"), Some(v0)).head()
    assert(r0.toSeq == Seq(1L, 3L, "aa", "cc", null, null))
  }
}
