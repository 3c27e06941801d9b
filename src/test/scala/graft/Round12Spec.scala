package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.TxLog

/** Round-12 additions: the clone × incremental-consumption fixes
  * (dv-bearing clone v0 refuses / subtracts instead of resurrecting
  * deleted rows; streams on clones resolve absolute paths), streaming
  * admission control (maxFilesPerTrigger / maxRowsPerTrigger via
  * SupportsAdmissionControl, incl. Trigger.AvailableNow), time travel
  * by timestamp, the clone commit carrying constraints atomically,
  * exact-substring dedup (batch + fingerprint-indexed incremental),
  * the native txlog streaming sink, the CDC streaming source and
  * CDC APPLY (applyChanges / followStream), DSIR importance
  * resampling, and the randomized feed-follower model check that
  * caught the CoW-after-MoR pre-image hole.
  */
class Round12Spec extends SparkSpec {

  private def tmp(prefix: String): Path =
    Files.createTempDirectory(prefix)

  private def df(ids: Long*): DataFrame = {
    val s = spark
    import s.implicits._
    ids.map(i => (i, s"name_$i")).toDF("id", "name")
  }

  private def idSet(d: DataFrame): Set[Long] =
    d.select("id").collect().map(_.getLong(0)).toSet

  // ---- clone × incremental consumption -----------------------------

  test("clone of a dv-bearing table: changesSince and the stream refuse; change feed subtracts") {
    val s = spark
    import s.implicits._
    val src = tmp("r12src").toString
    TxLog.commitOverwrite(spark, src,
      (1L to 20L).map(i => (i, s"n$i")).toDF("id", "name")
        .repartitionByRange(2, col("id")))
    TxLog.deleteMor(spark, src, col("id") <= 5)
    val dst = tmp("r12dst").toString
    TxLog.clone(spark, src, dst)

    // the batch pull refuses loudly — reading the cloned files raw
    // would resurrect the 5 source-deleted rows as live inserts
    val e = intercept[IllegalArgumentException] {
      TxLog.changesSince(spark, dst, -1).count()
    }
    assert(e.getMessage.contains("deletion vector"), e.getMessage)

    // the continuous form refuses with the SAME contract
    val q = spark.readStream.format("txlog").load(dst)
      .writeStream.format("memory").queryName("r12_dvclone")
      .option("checkpointLocation", tmp("r12dvck").toString)
      .outputMode("append").start()
    try {
      val se = intercept[Exception] { q.processAllAvailable() }
      def mentions(t: Throwable): Boolean = t != null &&
        (Option(t.getMessage).exists(_.contains("deletion vector")) ||
          mentions(t.getCause))
      assert(mentions(se), s"stream failed for the wrong reason: $se")
    } finally q.stop()

    // the CHANGE FEED's initial load subtracts the vectors: its
    // insert image IS read() of the cloned snapshot, never more
    val feed = TxLog.changeFeed(spark, dst, -1)
    assert(feed.select("_change_type").distinct()
      .as[String].collect().toSeq == Seq("insert"))
    assert(idSet(feed) == (6L to 20L).toSet,
      "clone v0 feed must not resurrect dv-deleted rows")
    assert(idSet(feed) == idSet(TxLog.read(spark, dst)))
  }

  test("streaming from a dv-free clone resolves absolute v0 entries") {
    val s = spark
    import s.implicits._
    val src = tmp("r12cs").toString
    TxLog.commitOverwrite(spark, src, df(1, 2, 3))
    val dst = tmp("r12cd").toString
    TxLog.clone(spark, src, dst)
    val got = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.format("txlog").load(dst)
      .writeStream.outputMode("append")
      .option("checkpointLocation", tmp("r12csck").toString)
      .foreachBatch { (b: DataFrame, _: Long) =>
        got ++= b.select("id").as[Long].collect(); ()
      }.start()
    try {
      q.processAllAvailable()
      assert(got.toSet == Set(1L, 2L, 3L),
        "absolute clone entries must resolve as themselves")
      // the clone's own (dir-relative) appends flow through the same
      // stream
      TxLog.commitAppend(spark, dst, df(4))
      q.processAllAvailable()
      assert(got.toSet == Set(1L, 2L, 3L, 4L))
    } finally q.stop()
  }

  // ---- streaming admission control ---------------------------------

  test("maxRowsPerTrigger: a backlog drains in bounded micro-batches, exactly once across restarts") {
    val dir = tmp("r12adm").toString
    TxLog.commitOverwrite(spark, dir, df(1, 2))               // v0: 2 rows
    (3L to 8L).foreach(i => TxLog.commitAppend(spark, dir, df(i))) // v1..v6
    val cp = tmp("r12admck").toString
    val out = tmp("r12admout").toString
    val sizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    // each run = one Trigger.Once micro-batch from the checkpoint — a
    // RESTART mid-backlog on every iteration
    def runOnce(): Unit = {
      val q = spark.readStream.format("txlog")
        .option("maxRowsPerTrigger", 3).load(dir)
        .writeStream.outputMode("append")
        .option("checkpointLocation", cp.toString)
        .trigger(Trigger.Once())
        .foreachBatch { (b: DataFrame, bid: Long) =>
          sizes += b.count()
          TxLog.commitAppend(b.sparkSession, out.toString, b,
            txn = Some(("r12adm", bid)))
          ()
        }.start()
      assert(q.awaitTermination(120000), "trigger-once run timed out")
    }
    runOnce(); runOnce(); runOnce()
    assert(sizes.toSeq == Seq(3L, 3L, 2L),
      s"admission must slice the 8-row backlog as 3/3/2, got $sizes")
    assert(idSet(TxLog.read(spark, out.toString)) == (1L to 8L).toSet,
      "exactly-once across restarts")
    // drained: one more run admits nothing new
    runOnce()
    assert(TxLog.read(spark, out.toString).count() == 8)
  }

  test("maxFilesPerTrigger bounds by file count; compactions cost nothing; uncapped unchanged") {
    val dir = tmp("r12admf").toString
    // v0: two files (range partitions); v1..v2: one file each
    TxLog.commitOverwrite(spark, dir,
      df(1L, 2L, 3L, 4L).repartitionByRange(2, col("id")))
    TxLog.commitAppend(spark, dir, df(5))
    TxLog.commitAppend(spark, dir, df(6))
    TxLog.compact(spark, dir, targetFiles = 1)               // v3: rewrites
    TxLog.commitAppend(spark, dir, df(7))                    // v4
    val sizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.format("txlog")
      .option("maxFilesPerTrigger", 2).load(dir)
      .writeStream.outputMode("append")
      .option("checkpointLocation", tmp("r12admfck").toString)
      .foreachBatch { (b: DataFrame, _: Long) =>
        sizes += b.count(); ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    // v0 fills the 2-file budget alone; v1+v2 share the next trigger;
    // the compaction (zero admission cost, zero rows) rides free with
    // v4's append
    assert(sizes.filter(_ > 0).toSeq == Seq(4L, 2L, 1L),
      s"file-capped slicing diverged: $sizes")
    assert(sizes.sum == 7L)
  }

  test("enabling caps on an existing checkpoint resumes from the engine offset, no loss or duplication") {
    val dir = tmp("r12rec").toString
    TxLog.commitOverwrite(spark, dir, df(1, 2))
    val cp = tmp("r12recck").toString
    val got = scala.collection.mutable.ArrayBuffer.empty[Long]
    def run(cap: Option[Long]): Unit = {
      val r0 = spark.readStream.format("txlog")
      val q = cap.fold(r0)(n => r0.option("maxRowsPerTrigger", n))
        .load(dir)
        .writeStream.outputMode("append")
        .option("checkpointLocation", cp.toString)
        .foreachBatch { (b: DataFrame, _: Long) =>
          got ++= b.select("id").collect().map(_.getLong(0)); ()
        }.start()
      try q.processAllAvailable() finally q.stop()
    }
    run(cap = None) // uncapped first life writes the engine checkpoint
    assert(got.toSet == Set(1L, 2L))
    // append a backlog, restart CAPPED: admission measures from the
    // engine's own offset log (no side-channel state), so the new
    // commits drain under the cap with nothing lost or repeated
    (3L to 5L).foreach(i => TxLog.commitAppend(spark, dir, df(i)))
    run(cap = Some(1L))
    assert(got.toSeq.sorted == (1L to 5L).toSeq,
      s"capped restart lost or duplicated rows: ${got.sorted}")
  }

  test("startingVersion / startingTimestamp: a new stream skips the initial load") {
    val s = spark
    import s.implicits._
    val dir = tmp("r12start").toString
    TxLog.commitOverwrite(spark, dir, df(1, 2))   // v0
    TxLog.commitAppend(spark, dir, df(3))         // v1
    TxLog.commitAppend(spark, dir, df(4))         // v2
    setCommitTime(dir, 0, 100000L)
    setCommitTime(dir, 1, 200000L)
    setCommitTime(dir, 2, 300000L)
    def drain(opts: Map[String, String], after: => Unit = ()): Seq[Long] = {
      val got = scala.collection.mutable.ArrayBuffer.empty[Long]
      val r0 = spark.readStream.format("txlog")
      val q = opts.foldLeft(r0) { case (r, (k, v)) => r.option(k, v) }
        .load(dir)
        .writeStream.outputMode("append")
        .option("checkpointLocation", tmp("r12startck").toString)
        .foreachBatch { (b: DataFrame, _: Long) =>
          got ++= b.select("id").as[Long].collect(); ()
        }.start()
      try { q.processAllAvailable(); after; q.processAllAvailable() }
      finally q.stop()
      got.toSeq
    }
    // numeric: includes THAT version's additions onward
    assert(drain(Map("startingVersion" -> "1")).sorted == Seq(3L, 4L))
    // latest: only commits made after query start
    assert(drain(Map("startingVersion" -> "latest"),
      after = TxLog.commitAppend(spark, dir, df(9))) == Seq(9L))
    // timestamp: earliest commit at-or-after it (v1's 200000)
    assert(drain(Map("startingTimestamp" -> "150000")).sorted ==
      Seq(3L, 4L, 9L))
    // beyond the last commit: refuse with the latest hint
    val e = intercept[Exception] {
      drain(Map("startingTimestamp" -> (System.currentTimeMillis() +
        1000000L).toString))
    }
    def mentions(t: Throwable): Boolean = t != null &&
      (Option(t.getMessage).exists(_.contains("startingVersion=latest")) ||
        mentions(t.getCause))
    assert(mentions(e), s"wrong refusal: $e")
    // both options refuse
    val e2 = intercept[Exception] {
      drain(Map("startingVersion" -> "1", "startingTimestamp" -> "1"))
    }
    def mutex(t: Throwable): Boolean = t != null &&
      (Option(t.getMessage).exists(_.contains("mutually exclusive")) ||
        mutex(t.getCause))
    assert(mutex(e2), s"wrong refusal: $e2")
    // CDC composes: the feed from startingVersion=2 is v2's insert only
    val feed = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val qf = spark.readStream.format("txlog")
      .option("readChangeFeed", "true").option("startingVersion", "2")
      .load(dir)
      .writeStream.outputMode("append")
      .option("checkpointLocation", tmp("r12startcdc").toString)
      .foreachBatch { (b: DataFrame, _: Long) =>
        feed ++= b.select(col("id"), col("_change_type"))
          .as[(Long, String)].collect(); ()
      }.start()
    try qf.processAllAvailable() finally qf.stop()
    assert(feed.sorted == Seq((4L, "insert"), (9L, "insert")))
  }

  // ---- time travel by timestamp ------------------------------------

  // pins a commit's position on the time-travel axis: rewrites the
  // recorded in-commit timestamp (the authoritative field since
  // round 14) and the file mtime (the pre-recording fallback) together
  private def setCommitTime(dir: String, v: Long, ts: Long): Unit = {
    val p = java.nio.file.Paths.get(dir, TxLog.LogDir, f"$v%020d.json")
    val t = new String(Files.readAllBytes(p), "UTF-8")
    Files.write(p,
      t.replaceFirst("\"ts\":\\d+", "\"ts\":" + ts).getBytes("UTF-8"))
    Files.setLastModifiedTime(p,
      java.nio.file.attribute.FileTime.fromMillis(ts))
    ()
  }

  test("TIMESTAMP AS OF: between-commits resolution, refusals, monotonic clock repair") {
    val dir = tmp("r12ts").toString
    TxLog.commitOverwrite(spark, dir, df(1, 2))   // v0
    TxLog.commitAppend(spark, dir, df(3))         // v1
    TxLog.commitOverwrite(spark, dir, df(9))      // v2
    setCommitTime(dir, 0, 100000L)
    setCommitTime(dir, 1, 200000L)
    setCommitTime(dir, 2, 300000L)
    // exact and between-commit times resolve to the latest version ≤ ts
    assert(TxLog.versionAt(spark, dir, 100000L) == 0L)
    assert(TxLog.versionAt(spark, dir, 150000L) == 0L)
    assert(TxLog.versionAt(spark, dir, 200000L) == 1L)
    assert(TxLog.versionAt(spark, dir, 299999L) == 1L)
    assert(TxLog.versionAt(spark, dir, 300000L) == 2L)
    assert(TxLog.versionAt(spark, dir, Long.MaxValue) == 2L)
    assert(idSet(TxLog.readAt(spark, dir, 250000L)) == Set(1L, 2L, 3L))
    // before the first commit: refuse, like Delta
    val e = intercept[IllegalArgumentException] {
      TxLog.versionAt(spark, dir, 99999L)
    }
    assert(e.getMessage.contains("before the first available commit"))
    // history exposes the same axis
    val h = TxLog.history(spark, dir).orderBy("version").collect()
    assert(h.map(_.getAs[Long]("timestamp")).toSeq ==
      Seq(100000L, 200000L, 300000L))
    // a clock that jumped BACKWARD between commits: later versions
    // must still resolve later (Delta's monotonicity adjustment)
    setCommitTime(dir, 0, 500000L)
    assert(TxLog.versionAt(spark, dir, 500000L) == 0L)
    assert(TxLog.versionAt(spark, dir, 500001L) == 1L)
    assert(TxLog.versionAt(spark, dir, 500002L) == 2L)
    // a timestamp clone: the table as it stood back then
    val dst = tmp("r12tsclone").toString
    TxLog.cloneAt(spark, dir, dst, 500001L)
    assert(idSet(TxLog.read(spark, dst)) == Set(1L, 2L, 3L))
  }

  test("timestamp travel refuses truncated history in parity with version asOf") {
    val dir = tmp("r12tstr").toString
    TxLog.commitOverwrite(spark, dir, df(0))
    (1L to 10L).foreach(i => TxLog.commitAppend(spark, dir, df(i)))
    // checkpoint at v10 → commits below it may be dropped
    assert(TxLog.truncateLog(spark, dir) == 10)
    // version time travel below the checkpoint refuses…
    intercept[IllegalArgumentException] {
      TxLog.read(spark, dir, Some(5)).count()
    }
    // …and so does any timestamp older than the first SURVIVING commit
    val firstTs = TxLog.history(spark, dir).orderBy("version")
      .select("timestamp").collect().head.getLong(0)
    val e = intercept[IllegalArgumentException] {
      TxLog.versionAt(spark, dir, firstTs - 1)
    }
    assert(e.getMessage.contains("truncated"))
    // the surviving span still resolves
    assert(TxLog.versionAt(spark, dir, firstTs) == 10L)
  }

  // ---- exact-substring dedup ---------------------------------------

  test("exact-substring dedup removes a repeated span that straddles paragraph breaks") {
    val s = spark
    import s.implicits._
    // the shared 8-token span s1..s8 crosses a blank-line break at a
    // DIFFERENT offset in each doc, so no whole paragraph repeats —
    // paragraph dedup is structurally blind to it
    val docs = Seq(
      (1L, "aa bb s1 s2 s3\n\ns4 s5 s6 s7 s8 cc dd"),
      (2L, "ee ff gg s1 s2 s3 s4 s5\n\ns6 s7 s8 hh"))
      .toDF("doc_id", "text")
    val para = graft.operators.Paragraph
      .dedupParagraphs(docs, "doc_id", "text", maxDf = 1)
    assert(para.select(sum("n_dropped")).as[Long].head() == 0L,
      "paragraph dedup should provably miss the straddling span")
    val es = graft.operators.ExactSubstr
      .dedupSpans(docs, "doc_id", "text", k = 6)
      .orderBy("doc_id").collect()
    // keepFirst: doc 1 (the globally first occurrence) stays intact
    assert(es(0).getAs[Long]("n_removed") == 0L)
    assert(es(0).getAs[String]("text_clean") ==
      "aa bb s1 s2 s3 s4 s5 s6 s7 s8 cc dd")
    // doc 2 loses exactly the 8 shared tokens — the windows mixing
    // doc-specific context are unique and protect the surroundings
    assert(es(1).getAs[Long]("n_tokens") == 12L)
    assert(es(1).getAs[Long]("n_removed") == 8L)
    assert(es(1).getAs[String]("text_clean") == "ee ff gg hh")
    // keepFirst = false removes every copy
    val all = graft.operators.ExactSubstr
      .dedupSpans(docs, "doc_id", "text", k = 6, keepFirst = false)
      .orderBy("doc_id").collect()
    assert(all(0).getAs[String]("text_clean") == "aa bb cc dd")
    assert(all(1).getAs[String]("text_clean") == "ee ff gg hh")
  }

  test("exact-substring dedup: self-repeat inside one doc, short and empty docs") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "x a b c d e f x a b c d e f"), // 14 tokens, 7-token period
      (2L, "too short"),
      (3L, "   ")).toDF("doc_id", "text")
    val r = graft.operators.ExactSubstr
      .dedupSpans(docs, "doc_id", "text", k = 6)
      .orderBy("doc_id").collect()
    // the second copy of the period is removed, the first kept
    assert(r(0).getAs[Long]("n_tokens") == 14L)
    assert(r(0).getAs[Long]("n_removed") == 7L)
    assert(r(0).getAs[String]("text_clean") == "x a b c d e f")
    assert(r(1).getAs[Long]("n_tokens") == 2L &&
      r(1).getAs[Long]("n_removed") == 0L)
    assert(r(2).getAs[Long]("n_tokens") == 0L &&
      r(2).getAs[String]("text_clean") == "")
  }

  test("exact-substring dedup matches a naive single-node reference on a random corpus") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(12)
    val vocab = Vector("a", "b", "c", "d")
    val k = 4
    val corpus = (1L to 40L).map(i =>
      (i, (0 until (5 + rnd.nextInt(20)))
        .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")))
    // naive reference: global window counts + first-occurrence scan
    val toks = corpus.map { case (id, t) => id -> t.split(" ").toSeq }
    val windows = toks.flatMap { case (id, ws) =>
      ws.sliding(k).zipWithIndex.collect {
        case (w, p) if w.size == k => (w.mkString(" "), id, p)
      }
    }
    val byWin = windows.groupBy(_._1)
    def expected(keepFirst: Boolean): Map[Long, (Long, Long, String)] =
      toks.map { case (id, ws) =>
        val rm = Array.fill(ws.size)(false)
        windows.filter(_._2 == id).foreach { case (w, _, p) =>
          val occ = byWin(w)
          val isDup = occ.size >= 2 &&
            (!keepFirst || occ.minBy(o => (o._2, o._3)) != ((w, id, p)))
          if (isDup) (p until p + k).foreach(rm(_) = true)
        }
        id -> ((ws.size.toLong, rm.count(identity).toLong,
          ws.indices.filterNot(rm).map(ws).mkString(" ")))
      }.toMap
    Seq(true, false).foreach { kf =>
      val got = graft.operators.ExactSubstr
        .dedupSpans(corpus.toDF("doc_id", "text"), "doc_id", "text",
          k, keepFirst = kf)
        .collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_removed"),
            r.getAs[String]("text_clean")))).toMap
      assert(got == expected(kf), s"keepFirst=$kf diverged")
    }
  }

  test("exact-substring index: batch cleaned against a persisted corpus fingerprint") {
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "completely unrelated corpus content sits here quietly"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "intro words then the quick brown fox jumps over the lazy dog today and more"),
      (11L, "the quick brown fox appears briefly"), // < k shared tokens
      (12L, "batch only content with batch only content")) // batch-internal
      .toDF("doc_id", "text")
    val idx = graft.operators.ExactSubstr
      .buildSubstrIndex(corpus, "doc_id", "text", k = 6)
    val dir = tmp("r12es").toString
    graft.operators.ExactSubstr.saveSubstrIndex(idx, "r12es", dir,
      nBuckets = 4)
    val loaded = graft.operators.ExactSubstr
      .loadSubstrIndex(spark, "r12es", dir)
    assert(loaded.k == 6)
    val out = graft.operators.ExactSubstr
      .cleanAgainstIndex(loaded, batch, "doc_id", "text")
      .orderBy("doc_id").collect()
    // doc 10: the 10 corpus tokens are removed, its own context kept
    assert(out(0).getAs[Long]("n_removed") == 10L)
    assert(out(0).getAs[String]("text_clean") ==
      "intro words then and more")
    // doc 11 shares < k tokens: untouched
    assert(out(1).getAs[Long]("n_removed") == 0L)
    // batch-internal repetition is NOT the index's business
    assert(out(2).getAs[Long]("n_removed") == 0L)
  }

  test("medallion surface: readAt timestamp travel and capped promoteStream") {
    val s = spark
    import s.implicits._
    val root = tmp("r12med").toString
    val p = new graft.etl.MedallionPipeline(spark, root, useTxLog = true)
    import graft.etl.LoadType
    import graft.quality.DataZone
    def batch(ids: Long*): DataFrame =
      ids.map(i => (i, s"n$i")).toDF("id", "name")
    p.write(DataZone.Bronze, "pts", batch(1, 2), LoadType.Full)     // v0
    p.write(DataZone.Bronze, "pts", batch(3), LoadType.Append)      // v1
    p.write(DataZone.Bronze, "pts", batch(4), LoadType.Append)      // v2
    // timestamp travel through the pipeline: pin v1's commit time
    val bronzeDir = p.path(DataZone.Bronze, "pts")
    Seq((0L, 100000L), (1L, 200000L), (2L, 300000L)).foreach {
      case (v, ts) => setCommitTime(bronzeDir, v, ts)
    }
    assert(p.versionAt(DataZone.Bronze, "pts", 250000L) == 1L)
    assert(idSet(p.readAt(DataZone.Bronze, "pts", 250000L)) ==
      Set(1L, 2L, 3L))
    // capped continuous promotion: the 3-commit backlog drains in >1
    // micro-batch, lands exactly once
    val q = p.promoteStream("r12sj", "pts", DataZone.Bronze,
      DataZone.Silver, checkpointDir = Some(tmp("r12medck").toString),
      maxRowsPerTrigger = Some(2L))
    try {
      q.processAllAvailable()
      assert(idSet(p.read(DataZone.Silver, "pts")) == Set(1L, 2L, 3L, 4L))
      assert(p.read(DataZone.Silver, "pts").count() == 4)
      // >1 batch under the cap: the silver log carries >1 txn batchId
      val h = p.history(DataZone.Silver, "pts")
        .filter(col("app_id") === "r12sj")
      assert(h.count() >= 2, "capped backlog should land as several batches")
    } finally q.stop()
  }

  // ---- native streaming sink + CDC streaming source ----------------

  test("native txlog sink: append mode lands exactly once across restarts; constraints gate the stream") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val out = tmp("r12sink").toString
    val cp = tmp("r12sinkck").toString
    val src = MemoryStream[(Long, String)]
    val q = src.toDF().toDF("id", "name")
      .writeStream.format("txlog")
      .option("path", out).option("checkpointLocation", cp)
      .outputMode("append").start()
    try {
      src.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      assert(idSet(TxLog.read(spark, out)) == Set(1L, 2L))
      src.addData((3L, "c"))
      q.processAllAvailable()
    } finally q.stop()
    assert(idSet(TxLog.read(spark, out)) == Set(1L, 2L, 3L))
    // the sink is at-least-once underneath: simulate the recovery
    // replay of batch 1 under the sink's marker scope (appId defaults
    // to the CANONICALIZED checkpoint location — round 13 — so a
    // respelled path cannot mint a fresh scope) — recognized, nothing
    // lands
    val cpP = new org.apache.hadoop.fs.Path(cp)
    val cpFs = cpP.getFileSystem(spark.sessionState.newHadoopConf())
    val canonicalCp = cpP.makeQualified(cpFs.getUri,
      cpFs.getWorkingDirectory).toUri.toString
    val vBefore = TxLog.snapshot(spark, out).version
    TxLog.commitAppend(spark, out, df(99), txn = Some((canonicalCp, 1L)))
    assert(TxLog.snapshot(spark, out).version == vBefore)
    assert(TxLog.read(spark, out).count() == 3, "replay must not duplicate")
    // CHECK constraints gate the streaming path like any other write
    TxLog.addCheckConstraint(spark, out, "id_pos", "id > 0")
    val src2 = MemoryStream[(Long, String)]
    val q2 = src2.toDF().toDF("id", "name")
      .writeStream.format("txlog")
      .option("path", out)
      .option("checkpointLocation", tmp("r12sinkck2").toString)
      .outputMode("append").start()
    try {
      src2.addData((-5L, "bad"))
      val e = intercept[Exception] { q2.processAllAvailable() }
      def mentions(t: Throwable): Boolean = t != null &&
        (Option(t.getMessage).exists(_.contains("id_pos")) ||
          mentions(t.getCause))
      assert(mentions(e), s"stream failed for the wrong reason: $e")
    } finally q2.stop()
    assert(TxLog.read(spark, out).count() == 3, "nothing staged on refusal")
  }

  test("native txlog sink: complete mode overwrites per batch, replay-safe") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val out = tmp("r12sinkc").toString
    val src = MemoryStream[(Long, String)]
    val q = src.toDF().toDF("id", "name")
      .groupBy(col("name")).agg(count(lit(1)).as("n"))
      .writeStream.format("txlog")
      .option("path", out)
      .option("checkpointLocation", tmp("r12sinkcck").toString)
      .outputMode("complete").start()
    try {
      src.addData((1L, "x"), (2L, "y"))
      q.processAllAvailable()
      src.addData((3L, "x"))
      q.processAllAvailable()
    } finally q.stop()
    val state = TxLog.read(spark, out)
      .as[(String, Long)].collect().toMap
    assert(state == Map("x" -> 2L, "y" -> 1L),
      s"complete mode must hold the LATEST aggregate, got $state")
    // each batch is one overwrite commit carrying its txn marker
    val ops = TxLog.history(spark, out).orderBy("version")
      .select("op").collect().map(_.getString(0)).toSeq
    assert(ops.forall(_ == "overwrite"), ops.toString)
  }

  test("native txlog sink: schema widening refuses by default, merges under mergeSchema") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val out = tmp("r12sinkm").toString
    TxLog.commitOverwrite(spark, out, df(1))
    // a wider stream without mergeSchema fails the query loudly
    val src0 = MemoryStream[(Long, String, Double)]
    val q0 = src0.toDF().toDF("id", "name", "score")
      .writeStream.format("txlog").option("path", out)
      .option("checkpointLocation", tmp("r12sinkmck0").toString)
      .outputMode("append").start()
    try {
      src0.addData((2L, "b", 0.5))
      val e = intercept[Exception] { q0.processAllAvailable() }
      def mentions(t: Throwable): Boolean = t != null &&
        (Option(t.getMessage).exists(_.contains("mergeSchema")) ||
          mentions(t.getCause))
      assert(mentions(e), s"stream failed for the wrong reason: $e")
    } finally q0.stop()
    // with mergeSchema the table widens; old rows read the new column
    // as null
    val src1 = MemoryStream[(Long, String, Double)]
    val q1 = src1.toDF().toDF("id", "name", "score")
      .writeStream.format("txlog").option("path", out)
      .option("checkpointLocation", tmp("r12sinkmck1").toString)
      .option("mergeSchema", "true")
      .outputMode("append").start()
    try { src1.addData((2L, "b", 0.5)); q1.processAllAvailable() }
    finally q1.stop()
    val r = TxLog.read(spark, out)
    assert(r.columns.toSeq == Seq("id", "name", "score"))
    assert(r.filter(col("id") === 1L).select("score").head().isNullAt(0))
    assert(idSet(r) == Set(1L, 2L))
  }

  test("streaming change feed: a follower materializes appends, dv deletes and CoW updates continuously") {
    val s = spark
    import s.implicits._
    val dir = tmp("r12cdc").toString
    TxLog.commitOverwrite(spark, dir,
      (1L to 6L).map(i => (i, s"n$i")).toDF("id", "name")
        .repartitionByRange(2, col("id")))                        // v0
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
    val cp = tmp("r12cdcck").toString
    def run(body: => Unit): Unit = {
      val q = spark.readStream.format("txlog")
        .option("readChangeFeed", "true").load(dir)
        .writeStream.outputMode("append")
        .option("checkpointLocation", cp.toString)
        .foreachBatch { (b: DataFrame, _: Long) =>
          got ++= b.select(col("id"), col("_change_type"),
            col("_commit_version"))
            .as[(Long, String, Long)].collect()
          ()
        }.start()
      try { body; q.processAllAvailable() } finally q.stop()
    }
    run {
      TxLog.commitAppend(spark, dir, df(7))                       // v1
      TxLog.deleteMor(spark, dir, col("id") === 2)                // v2
    }
    // restart mid-feed: only the new span arrives
    run {
      TxLog.update(spark, dir, col("id") === 5,
        Map("name" -> lit("renamed")))                            // v3
    }
    // the continuous feed must equal the batch feed over the whole span
    val want = TxLog.changeFeed(spark, dir, -1)
      .select(col("id"), col("_change_type"), col("_commit_version"))
      .as[(Long, String, Long)].collect()
    def ms(xs: Seq[(Long, String, Long)]) =
      xs.groupBy(identity).view.mapValues(_.size).toMap
    assert(ms(got.toSeq) == ms(want.toSeq),
      s"continuous feed diverged:\n got=${got.sorted}\nwant=${want.sorted}")
    // spot-check semantics: v2 contributed exactly one delete of id 2,
    // v3 one delete + one insert of id 5 (the CoW pre/post pair)
    assert(got.count(r => r._2 == "delete" && r._3 == 2L) == 1)
    assert(got.filter(_._3 == 3L).map(_._2).sorted == Seq("delete", "insert"))
  }

  test("streaming change feed: initial load of a dv-bearing clone subtracts the vectors") {
    val s = spark
    import s.implicits._
    val src = tmp("r12cdcs").toString
    TxLog.commitOverwrite(spark, src,
      (1L to 10L).map(i => (i, s"n$i")).toDF("id", "name"))
    TxLog.deleteMor(spark, src, col("id") <= 4)
    val dst = tmp("r12cdcd").toString
    TxLog.clone(spark, src, dst)
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val q = spark.readStream.format("txlog")
      .option("readChangeFeed", "true").load(dst)
      .writeStream.outputMode("append")
      .option("checkpointLocation", tmp("r12cdcdck").toString)
      .foreachBatch { (b: DataFrame, _: Long) =>
        got ++= b.select(col("id"), col("_change_type"))
          .as[(Long, String)].collect()
        ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    assert(got.forall(_._2 == "insert"))
    assert(got.map(_._1).toSet == (5L to 10L).toSet,
      "the CDC initial load of a clone must not resurrect dv-deleted rows")
  }

  test("change feed pre-image subtracts vectors: CoW DML after a MoR delete emits no spurious delete") {
    val s = spark
    import s.implicits._
    val dir = tmp("r12cowmor").toString
    // one file holding ids 1..6
    TxLog.commitOverwrite(spark, dir,
      (1L to 6L).map(i => (i, s"n$i")).toDF("id", "name")
        .coalesce(1))                                            // v0
    TxLog.deleteMor(spark, dir, col("id") === 4)                 // v1: dv
    // v2: a CoW delete touching the SAME file — its pre-image must be
    // the rows live at v1 (without id 4), or the feed would emit a
    // delete of the already-deleted row
    TxLog.delete(spark, dir, col("id") === 2)                    // v2
    val w = TxLog.changeFeed(spark, dir, 1, Some(2))
      .select(col("id"), col("_change_type"))
      .as[(Long, String)].collect().toSeq.sorted
    assert(w == Seq((2L, "delete")),
      s"CoW-after-MoR window must be exactly one delete of id 2, got $w")
    // the full feed replays to the table state
    val replayed = TxLog.changeFeed(spark, dir, -1)
      .select(col("id"), col("_change_type"))
      .as[(Long, String)].collect()
    val net = replayed.groupBy(_._1).view.mapValues(rs =>
      rs.count(_._2 == "insert") - rs.count(_._2 == "delete")).toMap
    assert(net.filter(_._2 > 0).keySet ==
      idSet(TxLog.read(spark, dir)), s"feed replay diverged: $net")
  }

  test("change feed across a mid-span rename reads logical names, diffs correctly") {
    val s = spark
    import s.implicits._
    val dir = tmp("r12feedren").toString
    TxLog.commitOverwrite(spark, dir, df(1, 2, 3))               // v0
    TxLog.renameColumn(spark, dir, "name", "label")              // v1
    TxLog.update(spark, dir, col("id") === 2,
      Map("label" -> lit("renamed")))                            // v2
    val feed = TxLog.changeFeed(spark, dir, -1)
    assert(feed.columns.toSeq ==
      Seq("id", "label", "_change_type", "_commit_version"))
    val w = feed.filter(col("_commit_version") === 2)
      .select(col("id"), col("label"), col("_change_type"))
      .as[(Long, String, String)].collect().toSet
    assert(w == Set((2L, "name_2", "delete"), (2L, "renamed", "insert")),
      s"rename-span update window diverged: $w")
  }

  testBothForms("randomized feed-follower model check: per-commit change feed reconstructs every snapshot") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(1207)
    val dir = tmp("r12model").toString
    def mkDf(rows: Seq[(Long, String)]): DataFrame = rows.toDF("id", "name")
    var nextId = 100L
    def freshIds(n: Int): Seq[Long] = {
      val r = (nextId until nextId + n).toSeq; nextId += n; r
    }
    // the follower holds a MULTISET of rows, maintained purely from
    // per-commit feed windows — never from read()
    var follower = Map.empty[(Long, String), Int]
    def applyFeed(v: Long): Unit = {
      val feed = TxLog.changeFeed(spark, dir, v - 1, Some(v))
        .select(col("id"), col("name"), col("_change_type"))
        .as[(Long, String, String)].collect()
      feed.filter(_._3 == "delete").foreach { case (id, nm, _) =>
        val k = (id, nm)
        assert(follower.getOrElse(k, 0) > 0,
          s"feed deleted a row the follower never saw: $k at v$v")
        follower = (follower + (k -> (follower(k) - 1))).filter(_._2 > 0)
      }
      feed.filter(_._3 == "insert").foreach { case (id, nm, _) =>
        val k = (id, nm)
        follower += k -> (follower.getOrElse(k, 0) + 1)
      }
    }
    def tableState: Map[(Long, String), Int] =
      TxLog.read(spark, dir).as[(Long, String)].collect().toSeq
        .groupBy(identity).view.mapValues(_.size).toMap

    TxLog.commitOverwrite(spark, dir,
      mkDf(freshIds(6).map(i => (i, s"n$i"))))
    applyFeed(0)
    assert(follower == tableState)
    var head = 0L
    (1 to 24).foreach { step =>
      val existing = TxLog.read(spark, dir)
        .select("id").as[Long].collect().toSeq.sorted
      def pick(): Long = existing(rnd.nextInt(existing.size))
      rnd.nextInt(8) match {
        case 0 =>
          TxLog.commitAppend(spark, dir,
            mkDf(freshIds(1 + rnd.nextInt(3)).map(i => (i, s"a$step-$i"))))
        case 1 if existing.nonEmpty =>
          TxLog.delete(spark, dir, col("id") === pick())
        case 2 if existing.nonEmpty =>
          TxLog.deleteMor(spark, dir, col("id") === pick())
        case 3 if existing.nonEmpty =>
          TxLog.update(spark, dir, col("id") === pick(),
            Map("name" -> lit(s"u$step")))
        case 4 if existing.nonEmpty =>
          TxLog.updateMor(spark, dir, col("id") === pick(),
            Map("name" -> lit(s"m$step")))
        case 5 =>
          val upd = (if (existing.isEmpty) Nil
            else Seq(pick()).distinct.map(i => (i, s"g$step-$i")))
          TxLog.merge(spark, dir,
            mkDf(upd ++ freshIds(1 + rnd.nextInt(2))
              .map(i => (i, s"g$step-$i"))), Seq("id"))
        case 6 =>
          TxLog.compact(spark, dir, targetFiles = 2)
        case 7 if existing.nonEmpty =>
          // CDC APPLY: a mixed directive batch (update one, delete
          // one, insert fresh) — lands as a merge-op commit whose
          // feed leg must diff exactly like hand-rolled DML
          val upd = pick()
          val del = existing.filterNot(_ == upd)
            .lift(rnd.nextInt(math.max(existing.size - 1, 1)))
          TxLog.applyChanges(spark, dir,
            (Seq((upd, s"c$step-$upd", false)) ++
              del.map(d => (d, "x", true)) ++
              freshIds(1).map(i => (i, s"c$step-$i", false)))
              .toDF("id", "name", "del"),
            Seq("id"), "del")
        case _ =>
          TxLog.commitAppend(spark, dir,
            mkDf(freshIds(1).map(i => (i, s"a$step-$i"))))
      }
      val newHead = TxLog.snapshot(spark, dir).version
      ((head + 1) to newHead).foreach(applyFeed)
      head = newHead
      assert(follower == tableState, s"step $step diverged at v$head")
    }
    // a clone made NOW (possibly dv-bearing) must hand a NEW follower
    // the same initial image the incumbent one accumulated
    val dst = tmp("r12modelclone").toString
    TxLog.clone(spark, dir, dst)
    val cloneLoad = TxLog.changeFeed(spark, dst, -1)
      .select(col("id"), col("name"), col("_change_type"))
      .as[(Long, String, String)].collect()
    assert(cloneLoad.forall(_._3 == "insert"))
    val cloneImage = cloneLoad.map(r => (r._1, r._2)).toSeq
      .groupBy(identity).view.mapValues(_.size).toMap
    assert(cloneImage == follower,
      "a clone's CDC initial load diverged from the followed state")
  }

  test("versionAt properties under random clocks: inverse of history, monotone, total over the commit range") {
    val rnd = new scala.util.Random(42)
    val dir = tmp("r12tsprop").toString
    TxLog.commitOverwrite(spark, dir, df(0))
    (1L to 7L).foreach(i => TxLog.commitAppend(spark, dir, df(i)))
    // random — possibly colliding, possibly backward — raw mtimes
    (0L to 7L).foreach(v =>
      setCommitTime(dir, v, 1000000L + rnd.nextInt(5000).toLong))
    val h = TxLog.history(spark, dir).orderBy("version")
      .select("version", "timestamp").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // adjusted timestamps are strictly increasing whatever the clock did
    assert(h.map(_._2).toSeq == h.map(_._2).toSeq.sorted)
    assert(h.map(_._2).distinct.length == h.length)
    // versionAt is the exact inverse of history at every commit ts,
    // sticky between commits, and total up to the head
    h.foreach { case (v, ts) =>
      assert(TxLog.versionAt(spark, dir, ts) == v)
      assert(TxLog.versionAt(spark, dir, ts + 0L max ts) == v)
      if (v < 7) assert(TxLog.versionAt(spark, dir,
        h(v.toInt + 1)._2 - 1) == v)
    }
    assert(TxLog.versionAt(spark, dir, Long.MaxValue) == 7L)
    intercept[IllegalArgumentException] {
      TxLog.versionAt(spark, dir, h.head._2 - 1)
    }
    // readAt at each commit ts equals read at that version
    h.foreach { case (v, ts) =>
      assert(idSet(TxLog.readAt(spark, dir, ts)) ==
        idSet(TxLog.read(spark, dir, Some(v))))
    }
  }

  // ---- CDC apply: applyChanges + the follower sink -----------------

  test("applyChanges: upsert + delete in one commit; no-op deletes; ambiguity and constraints refuse") {
    val s = spark
    import s.implicits._
    val dir = tmp("r12apply").toString
    TxLog.commitOverwrite(spark, dir,
      (1L to 6L).map(i => (i, s"n$i")).toDF("id", "name"),
      statsCols = Seq("id"))
    TxLog.addCheckConstraint(spark, dir, "id_pos", "id > 0")
    def changes(rows: (Long, String, Boolean)*): DataFrame =
      rows.toDF("id", "name", "del")
    // one commit: update 2, delete 4, insert 9, delete-miss 77 (no-op)
    val v = TxLog.applyChanges(spark, dir,
      changes((2L, "upd", false), (4L, "x", true), (9L, "new", false),
        (77L, "x", true)),
      Seq("id"), "del")
    assert(v == 2L)
    val state = TxLog.read(spark, dir).as[(Long, String)].collect().toMap
    assert(state == Map(1L -> "n1", 2L -> "upd", 3L -> "n3", 5L -> "n5",
      6L -> "n6", 9L -> "new"))
    // replayed txn batch is a no-op
    val v2 = TxLog.applyChanges(spark, dir,
      changes((2L, "seen", false)), Seq("id"), "del",
      txn = Some(("cdc", 1L)))
    val v3 = TxLog.applyChanges(spark, dir,
      changes((2L, "seen", false)), Seq("id"), "del",
      txn = Some(("cdc", 1L)))
    assert(v3 == v2, "replayed batch must short-circuit")
    // two directives for one key refuse
    intercept[IllegalArgumentException] {
      TxLog.applyChanges(spark, dir,
        changes((3L, "a", false), (3L, "b", true)), Seq("id"), "del")
    }
    // constraints gate the inserted rows; deletes alone are exempt
    intercept[IllegalArgumentException] {
      TxLog.applyChanges(spark, dir,
        changes((-1L, "bad", false)), Seq("id"), "del")
    }
    val v4 = TxLog.applyChanges(spark, dir,
      changes((6L, "whatever", true)), Seq("id"), "del")
    assert(v4 > v3 && !idSet(TxLog.read(spark, dir)).contains(6L))
  }

  test("applyChanges on a column-mapped table stages under physical names") {
    val s = spark
    import s.implicits._
    val dir = tmp("r12applymap").toString
    TxLog.commitOverwrite(spark, dir,
      (1L to 4L).map(i => (i, s"n$i")).toDF("id", "name"))
    TxLog.renameColumn(spark, dir, "name", "label")
    TxLog.applyChanges(spark, dir,
      Seq((2L, "upd", false), (3L, "x", true), (9L, "new", false))
        .toDF("id", "label", "del"),
      Seq("id"), "del")
    val state = TxLog.read(spark, dir).as[(Long, String)].collect().toMap
    assert(TxLog.read(spark, dir).columns.toSeq == Seq("id", "label"))
    assert(state == Map(1L -> "n1", 2L -> "upd", 4L -> "n4", 9L -> "new"))
  }

  test("followStream: a medallion follower mirrors the source through DML, exactly once") {
    val s = spark
    import s.implicits._
    val root = tmp("r12follow").toString
    val p = new graft.etl.MedallionPipeline(spark, root, useTxLog = true)
    import graft.etl.LoadType
    import graft.quality.DataZone
    def batch(rows: (Long, String)*): DataFrame = rows.toDF("id", "name")
    p.write(DataZone.Bronze, "pts", batch((1L, "a"), (2L, "b"), (3L, "c")),
      LoadType.Full)
    def silver: Map[Long, String] =
      p.read(DataZone.Silver, "pts").as[(Long, String)].collect().toMap
    def bronze: Map[Long, String] =
      p.read(DataZone.Bronze, "pts").as[(Long, String)].collect().toMap
    val cp = tmp("r12followck").toString
    def run(body: => Unit): Unit = {
      val q = p.followStream("fj", "pts", DataZone.Bronze, DataZone.Silver,
        checkpointDir = Some(cp.toString))
      try { body; q.processAllAvailable() } finally q.stop()
    }
    run(()) // initial load creates the follower
    assert(silver == bronze)
    run {
      p.write(DataZone.Bronze, "pts", batch((4L, "d")), LoadType.Append)
      p.deleteWhere(DataZone.Bronze, "pts", col("id") === 2, mor = true)
      p.updateWhere(DataZone.Bronze, "pts", col("id") === 1,
        Map("name" -> lit("a2")))
    }
    assert(silver == bronze)
    assert(silver == Map(1L -> "a2", 3L -> "c", 4L -> "d"))
    // a restart with upstream changes made while DOWN catches up
    run {
      p.mergeInto(DataZone.Bronze, "pts", batch((3L, "c2"), (5L, "e")),
        Seq("id"))
    }
    assert(silver == bronze)
    assert(silver == Map(1L -> "a2", 3L -> "c2", 4L -> "d", 5L -> "e"))
  }

  test("followStream: compaction-only source activity commits nothing on the follower") {
    val s = spark
    import s.implicits._
    val root = tmp("r12fnoop").toString
    val p = new graft.etl.MedallionPipeline(spark, root, useTxLog = true)
    import graft.etl.LoadType
    import graft.quality.DataZone
    p.write(DataZone.Bronze, "pts",
      Seq((1L, "a"), (2L, "b")).toDF("id", "name"), LoadType.Full)
    p.write(DataZone.Bronze, "pts",
      Seq((3L, "c")).toDF("id", "name"), LoadType.Append)
    val cp = tmp("r12fnoopck").toString
    def run(body: => Unit): Unit = {
      val q = p.followStream("fn", "pts", DataZone.Bronze, DataZone.Silver,
        checkpointDir = Some(cp.toString))
      try { body; q.processAllAvailable() } finally q.stop()
    }
    run(())
    val vAfterLoad = TxLog.snapshot(spark,
      p.path(DataZone.Silver, "pts")).version
    // source compacts: the feed span is empty — the follower must not
    // scan or move data; since round 15 the slice's marker still
    // advances (one metadata-only commit) so watermark axes never lag
    val filesBefore = TxLog.snapshot(spark,
      p.path(DataZone.Silver, "pts")).files.map(_.path).sorted
    run { p.compact(DataZone.Bronze, "pts", rowsPerFile = 100L) }
    val after = TxLog.snapshot(spark, p.path(DataZone.Silver, "pts"))
    assert(after.version <= vAfterLoad + 1,
      "an empty feed span may advance the marker, nothing more")
    assert(after.files.map(_.path).sorted == filesBefore,
      "an empty feed span must move no follower data")
    assert(idSet(p.read(DataZone.Silver, "pts")) == Set(1L, 2L, 3L))
  }

  // ---- DSIR importance resampling ----------------------------------

  test("DSIR weights match a hand-computed reference exactly; selection prefers target-like docs") {
    val s = spark
    import s.implicits._
    // raw: two docs of target-ish vocabulary, two of off-target
    val raw = Seq(
      (1L, "alpha beta alpha"), (2L, "alpha beta gamma"),
      (3L, "zz yy xx"), (4L, "qq rr ss")).toDF("doc_id", "text")
    val target = Seq(
      (100L, "alpha beta"), (101L, "beta gamma alpha")).toDF("doc_id", "text")
    val got = graft.operators.Dsir
      .importanceWeights(raw, target, "doc_id", "text")
      .as[(Long, Double)].collect().toMap
    // reference: identical formula in plain Scala (feature = unigrams
    // + bigrams of the lowercased token stream; bucket = the feature
    // itself, a faithful stand-in because md5-prefix bucketing is
    // injective on this tiny vocabulary — no two features collide)
    def feats(t: String): Seq[String] = {
      val w = t.split(" ").toSeq
      w ++ w.sliding(2).filter(_.size == 2).map(_.mkString(" "))
    }
    val rawDocs = Map(1L -> "alpha beta alpha", 2L -> "alpha beta gamma",
      3L -> "zz yy xx", 4L -> "qq rr ss")
    val nR = rawDocs.values.toSeq.flatMap(feats)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val nT = Seq("alpha beta", "beta gamma alpha").flatMap(feats)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val universe = (nR.keySet ++ nT.keySet).toSeq
    val (totR, totT, u) =
      (nR.values.sum, nT.values.sum, universe.size.toLong)
    def ratio(f: String): Double =
      math.log((nT.getOrElse(f, 0L) + 1).toDouble / (totT + u)) -
        math.log((nR.getOrElse(f, 0L) + 1).toDouble / (totR + u))
    val want = rawDocs.map { case (id, t) =>
      id -> feats(t).map(ratio).sum
    }
    want.foreach { case (id, w) =>
      assert(math.abs(got(id) - w) < 1e-9,
        s"doc $id: got ${got(id)}, want $w")
    }
    // target-like docs outrank off-target ones decisively
    assert(Seq(1L, 2L).map(got).min > Seq(3L, 4L).map(got).max + 1.0)
    // noiseless top-k = exact weight order; Gumbel selection is
    // deterministic per seed and k-sized
    val plain = graft.operators.Dsir.resample(raw, target, "doc_id",
      "text", k = 2, noise = false).select("doc_id").as[Long]
      .collect().toSeq
    assert(plain.toSet == Set(1L, 2L))
    val g1 = graft.operators.Dsir.resample(raw, target, "doc_id",
      "text", k = 3, seed = 9L).collect()
    val g2 = graft.operators.Dsir.resample(raw, target, "doc_id",
      "text", k = 3, seed = 9L).collect()
    assert(g1.map(_.toSeq).toSeq == g2.map(_.toSeq).toSeq,
      "same seed must select identically")
    assert(g1.length == 3 &&
      g1.map(_.getAs[Long]("rank")).toSeq == Seq(1L, 2L, 3L))
  }

  // ---- clone commit atomicity --------------------------------------

  test("clone carries constraints in its v0 commit — no unvalidated window") {
    val s = spark
    import s.implicits._
    val src = tmp("r12cc").toString
    TxLog.commitOverwrite(spark, src, df(1, 2))
    TxLog.addCheckConstraint(spark, src, "id_pos", "id > 0")
    val dst = tmp("r12ccd").toString
    TxLog.clone(spark, src, dst)
    // ONE commit: the constraint is active at version 0 itself, so no
    // writer can ever land on the clone before validation exists
    assert(TxLog.history(spark, dst).count() == 1)
    assert(TxLog.snapshot(spark, dst, Some(0L)).constraints ==
      Map("id_pos" -> "id > 0"))
    intercept[IllegalArgumentException] {
      TxLog.commitAppend(spark, dst, Seq((-7L, "bad")).toDF("id", "name"))
    }
    assert(idSet(TxLog.read(spark, dst)) == Set(1L, 2L))
    // a clone target created CONCURRENTLY (between the pre-check and
    // the v0 claim) is never clobbered: simulate the race by planting
    // a foreign v0 in the claimed slot
    val dst2 = tmp("r12ccd2").toString
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(dst2, TxLog.LogDir))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dst2, TxLog.LogDir, f"${0L}%020d.json"),
      """{"version":0,"op":"append","add":[],"remove":[]}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    intercept[Exception] { TxLog.clone(spark, src, dst2) }
    // the foreign table survives untouched
    assert(TxLog.snapshot(spark, dst2).version == 0L)
    assert(TxLog.snapshot(spark, dst2).files.isEmpty)
  }
}
