package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.{MaterializedAgg, Scd2, TxLog}

/** Round-15 hardening: the deep-clone reader-generation gate for
  * column-mapped sources, empty-span watermark advances (the
  * compaction-only-feed repeated-work fix), the snapshotAt watermark
  * refusal, and the maintenance-refresh-vs-concurrent-source-DML
  * race contract.
  */
class Round15Spec extends SparkSpec {

  private def tmp(prefix: String): Path =
    Files.createTempDirectory(prefix)

  private def payload(n: Int, tag: String): DataFrame = {
    val s = spark
    import s.implicits._
    (0 until n).map(i => (i.toLong, i.toLong * 2, s"$tag$i"))
      .toDF("k", "v", "name")
  }

  // ---- deep clone: reader generation for mapped sources ------------

  test("deep clone of a column-mapped table requires generation-3 readers") {
    val dir = tmp("r15dc").toString
    val clone = tmp("r15dcc").toString + "/t"
    TxLog.commitOverwrite(spark, dir, payload(6, "a"))
    TxLog.renameColumn(spark, dir, "name", "label") // mapping is now live
    assert(TxLog.snapshot(spark, dir).minReader == 3)
    TxLog.deepClone(spark, dir, clone)
    val snap = TxLog.snapshot(spark, clone)
    assert(snap.mapping.nonEmpty, "clone must carry the mapping")
    assert(snap.minReader >= 3,
      "a generation-1/2 reader would project stale physical names — " +
        "the clone must gate exactly like its source")
    // and the clone actually reads under the logical names
    assert(TxLog.read(spark, clone).columns.toSeq ==
      Seq("k", "v", "label"))
  }

  test("deep clone of an identity table still gates at generation 4") {
    val dir = tmp("r15dci").toString
    val clone = tmp("r15dcic").toString + "/t"
    TxLog.commitOverwrite(spark, dir, payload(4, "a"),
      identity = Map("id" -> TxLog.IdentitySpec(1L, 1L)))
    TxLog.renameColumn(spark, dir, "name", "label")
    TxLog.deepClone(spark, dir, clone)
    assert(TxLog.snapshot(spark, clone).minReader == 4)
  }

  // ---- empty-span marker advance ------------------------------------

  test("applyChanges with an empty directive batch still advances a supplied marker") {
    val s = spark
    import s.implicits._
    val dir = tmp("r15adv").toString
    TxLog.commitOverwrite(spark, dir, payload(5, "a"))
    val v0 = TxLog.snapshot(spark, dir).version
    val empty = payload(0, "x").withColumn("_del", lit(false))
    // no marker: a pure no-op, no commit
    TxLog.applyChanges(spark, dir, empty, Seq("k"), "_del")
    assert(TxLog.snapshot(spark, dir).version == v0)
    // marker supplied: metadata-only commit, marker advances, no files
    TxLog.applyChanges(spark, dir, empty, Seq("k"), "_del",
      txn = Some(("app", 7L)))
    val snap = TxLog.snapshot(spark, dir)
    assert(snap.txns.get("app").contains(7L))
    assert(snap.version == v0 + 1)
    assert(snap.files.map(_.path).sorted ==
      TxLog.snapshot(spark, dir, Some(v0)).files.map(_.path).sorted,
      "the marker advance must move no files")
    // replay of the same marker is a no-op again
    TxLog.applyChanges(spark, dir, empty, Seq("k"), "_del",
      txn = Some(("app", 7L)))
    assert(TxLog.snapshot(spark, dir).version == v0 + 1)
    // merge-on-read form: empty batch and all-no-op delete batch
    TxLog.applyChangesMor(spark, dir, empty, Seq("k"), "_del",
      txn = Some(("app", 8L)))
    assert(TxLog.snapshot(spark, dir).txns.get("app").contains(8L))
    val noopDel = Seq((999L, 0L, "zz")).toDF("k", "v", "name")
      .withColumn("_del", lit(true)) // key not in the table
    TxLog.applyChangesMor(spark, dir, noopDel, Seq("k"), "_del",
      txn = Some(("app", 9L)))
    assert(TxLog.snapshot(spark, dir).txns.get("app").contains(9L))
    assert(TxLog.read(spark, dir).count() == 5)
  }

  test("SCD2 refresh over a no-change source span advances the watermark once") {
    val s = spark
    import s.implicits._
    val src = tmp("r15scd").toString + "/src"
    val scd = tmp("r15scd").toString + "/scd"
    TxLog.commitOverwrite(spark, src, payload(8, "a")
      .repartition(4), statsCols = Seq("k"))
    Scd2.create(spark, src, scd, keys = Seq("k"))
    // compaction-only span: the feed nets to zero directives
    TxLog.compact(spark, src, targetFiles = 1)
    val head = TxLog.snapshot(spark, src).version
    assert(Scd2.refresh(spark, scd) == head)
    assert(Scd2.watermark(spark, scd) == head,
      "the watermark must move past a netted-to-nothing span")
    val vAfter = TxLog.snapshot(spark, scd).version
    // a second refresh is now a TRUE no-op (no re-read, no commit)
    assert(Scd2.refresh(spark, scd) == head)
    assert(TxLog.snapshot(spark, scd).version == vAfter)
    // history content is untouched
    assert(Scd2.current(spark, scd).count() == 8)
  }

  test("MV refresh over a no-change source span advances the watermark once") {
    val src = tmp("r15mv").toString + "/src"
    val mv = tmp("r15mv").toString + "/mv"
    TxLog.commitOverwrite(spark, src, payload(8, "a")
      .repartition(4), statsCols = Seq("k"))
    MaterializedAgg.create(spark, src, mv, keys = Seq("name"),
      sums = Seq("v"))
    TxLog.compact(spark, src, targetFiles = 1)
    val head = TxLog.snapshot(spark, src).version
    assert(MaterializedAgg.refresh(spark, mv) == head)
    assert(MaterializedAgg.watermark(spark, mv) == head)
    val vAfter = TxLog.snapshot(spark, mv).version
    assert(MaterializedAgg.refresh(spark, mv) == head)
    assert(TxLog.snapshot(spark, mv).version == vAfter,
      "the second refresh must not commit again")
  }

  // ---- snapshotAt beyond the watermark ------------------------------

  test("Scd2.snapshotAt refuses a version beyond the watermark") {
    val s = spark
    import s.implicits._
    val src = tmp("r15sa").toString + "/src"
    val scd = tmp("r15sa").toString + "/scd"
    TxLog.commitOverwrite(spark, src, payload(4, "a"))
    Scd2.create(spark, src, scd, keys = Seq("k"))
    // an unfolded source commit: the history has not seen it
    TxLog.delete(spark, src, col("k") >= 2L)
    val head = TxLog.snapshot(spark, src).version
    val e = intercept[IllegalArgumentException] {
      Scd2.snapshotAt(spark, scd, head).collect()
    }
    assert(e.getMessage.contains("watermark"))
    // after the refresh the same call answers — and matches the source
    Scd2.refresh(spark, scd)
    val got = Scd2.snapshotAt(spark, scd, head)
      .select("k").as[Long].collect().sorted.toSeq
    assert(got == Seq(0L, 1L))
  }

  // ---- batch "txlog" DataSource --------------------------------------

  test("batch txlog source: full read equals the Scala API, incl. vectors and mapping") {
    val s = spark
    import s.implicits._
    val dir = tmp("r15bs").toString
    TxLog.commitOverwrite(spark, dir,
      payload(40, "a").repartition(4), statsCols = Seq("k"))
    TxLog.deleteMor(spark, dir, col("k") % 7 === 0L) // standing vectors
    TxLog.renameColumn(spark, dir, "name", "label")  // live mapping
    val viaFormat = spark.read.format("txlog").load(dir)
    assert(viaFormat.columns.toSeq == Seq("k", "v", "label"))
    val want = TxLog.read(spark, dir).collect().map(_.toSeq)
      .sortBy(_.toString).toSeq
    val got = viaFormat.collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(got == want)
    // count(*) through the format (empty required schema) works
    assert(viaFormat.count() == want.size)
  }

  test("batch txlog source: pushed filters prune files exactly like readPrunedAll") {
    val s = spark
    import s.implicits._
    val dir = tmp("r15bp").toString
    TxLog.commitOverwrite(spark, dir,
      payload(4000, "a").repartitionByRange(8, col("k")),
      statsCols = Seq("k"))
    val total = TxLog.snapshot(spark, dir).files.size
    val out = spark.read.format("txlog").load(dir)
      .filter(col("k") >= 100L && col("k") < 600L)
      .select("k").as[Long].collect().sorted.toSeq
    assert(out == (100L until 600L).toSeq, "row results must be exact")
    val planned = graft.sources.TxLogBatch.lastScan.get().sorted
    assert(planned.nonEmpty && planned.size < total,
      s"pushdown did not prune: planned ${planned.size} of $total")
    // parity with the Scala pruning surface on the same intervals
    val snap = TxLog.snapshot(spark, dir)
    val want = TxLog.prunedSnapshotFiles(spark, snap,
      Seq(("k", Some(100L), None), ("k", None, Some(600L))))
      .map(_.path).sorted
    assert(planned == want,
      "the batch scan and readPrunedAll must plan the same file set")
    // and the pruned read agrees with readPrunedAll's rows
    val viaApi = TxLog.readPrunedAll(spark, dir, Seq(("k", 100L, 600L)))
      .filter(col("k") >= 100L && col("k") < 600L)
      .select("k").as[Long].collect().sorted.toSeq
    assert(out == viaApi)
  }

  test("prunedSnapshotFiles keeps exactly the intersecting files, and every file with a match") {
    import java.sql.{Date, Timestamp}
    import java.time.Instant
    import org.apache.spark.sql.{Column, Row}
    import org.apache.spark.sql.types._
    val zone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try {
      val schema = StructType(Seq(
        StructField("i", IntegerType), StructField("l", LongType),
        StructField("d", DecimalType(10, 2)), StructField("dt", DateType),
        StructField("ts", TimestampType), StructField("s", StringType),
        StructField("x", DoubleType), StructField("n", IntegerType),
        StructField("r", IntegerType)))
      def ts(utc: String) = Timestamp.from(Instant.parse(utc))
      def dec(v: String) = new java.math.BigDecimal(v)
      def day(v: String) = Date.valueOf(v)
      // one file per batch, found again by its `i` range. In the LA
      // zone file 0 ends just before the spring-forward gap (2024-03-10
      // 02:00 PST), file 1 starts just after it, file 2 spans the
      // repeated fall-back hour (2024-11-03 01:00-02:00). "Ａ" (U+FF21)
      // sorts BEFORE the astral "😀" in Spark's byte order but AFTER it
      // in UTF-16 code units. Column n is all-null; r gets renamed.
      val batches = Seq(
        Seq(Row(1, 10L, dec("1.25"), day("2024-01-01"),
          ts("2024-03-09T20:00:00Z"), "apple", Double.NegativeInfinity,
          null, 100),
          Row(5, 20L, dec("3.50"), day("2024-01-31"),
            ts("2024-03-10T09:59:59Z"), "banana", 1.5, null, 150)),
        Seq(Row(10, 5000000000L, dec("10.00"), day("2024-02-01"),
          ts("2024-03-10T10:00:00Z"), "Ärger", 2.0, null, 200),
          Row(15, 6000000000L, dec("20.75"), day("2024-02-29"),
            ts("2024-03-11T00:00:00Z"), "éclair", Double.NaN, null, 250)),
        Seq(Row(20, -7L, dec("-5.00"), day("2024-11-01"),
          ts("2024-11-03T07:30:00Z"), "中文", 3.0, null, 300),
          Row(25, -3L, dec("0.00"), day("2024-11-03"),
            ts("2024-11-03T10:30:00Z"), "Ａ", Double.PositiveInfinity,
            null, 350)),
        Seq(Row(30, 0L, dec("99.99"), day("2025-01-01"),
          ts("2025-01-01T08:00:00Z"), "😀", 0.0, null, 400)),
        // stats stripped below: a file without stats
        Seq(Row(40, 1L, dec("1.00"), day("2023-01-01"),
          ts("2023-01-01T00:00:00Z"), "zzz", 9.0, 4, 500)))
      val dir = tmp("r15prune").toString
      def df(rows: Seq[Row]) = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema)
      TxLog.commitOverwrite(spark, dir, df(batches.head),
        statsCols = schema.fieldNames.toSeq)
      batches.tail.foreach(b => TxLog.commitAppend(spark, dir, df(b),
        statsCols = schema.fieldNames.toSeq))
      TxLog.renameColumn(spark, dir, "r", "r2")
      val head = TxLog.snapshot(spark, dir)
      val idx = head.files.map(f =>
        f.path -> Seq(1, 10, 20, 30, 40).indexOf(f.stats("i").min.get.toInt))
        .toMap
      val snap = head.copy(files = head.files.map(f =>
        if (idx(f.path) == 4) f.copy(stats = Map.empty) else f))
      assert(snap.files.size == 5 && idx.values.toSet == (0 to 4).toSet)
      // non-ANSI: a bound that does not cast compares as null (no row)
      def scanMatches(pred: Column): Set[Int] = {
        spark.conf.set("spark.sql.ansi.enabled", "false")
        try snap.files.map(f =>
          TxLog.readSnapshot(spark, dir, snap.copy(files = Seq(f)))
            .filter(pred).select(lit(idx(f.path)).as("k")))
          .reduce(_ union _).distinct().collect().map(_.getInt(0)).toSet
        finally spark.conf.unset("spark.sql.ansi.enabled")
      }
      val all = Set(0, 1, 2, 3, 4)
      val cases = Seq[(Seq[(String, Option[Any], Option[Any])],
          Seq[(String, Boolean)], Set[Int])](
        (Seq(("i", Some(6), Some(12))), Nil, Set(1, 4)),
        (Seq(("l", Some(5000000000L), None)), Nil, Set(1, 4)),
        (Seq(("l", None, Some(-5))), Nil, Set(2, 4)), // int probe, bigint stats
        (Seq(("d", Some(BigDecimal("3.5")), Some(BigDecimal("10")))), Nil,
          Set(0, 1, 4)),
        (Seq(("dt", Some(day("2024-02-01")), Some(day("2024-02-29")))), Nil,
          Set(1, 4)),
        // timestamp bounds widen 36 h outward (any zone offset pair):
        // the gap's neighbours stay, files past the slack prune
        (Seq(("ts", Some(ts("2024-03-10T10:00:00Z")), None)), Nil, all),
        (Seq(("ts", None, Some(ts("2024-03-10T09:59:59Z")))), Nil,
          Set(0, 1, 4)),
        (Seq(("ts", Some(ts("2024-03-12T00:00:00Z")), None)), Nil,
          Set(1, 2, 3, 4)),
        (Seq(("ts", None, Some(ts("2024-03-08T12:00:00Z")))), Nil, Set(0, 4)),
        // 01:30 PDT and 01:30 PST render alike: file 2 is kept, no row
        (Seq(("ts", Some(ts("2024-11-03T08:30:00Z")),
          Some(ts("2024-11-03T09:30:00Z")))), Nil, Set(2, 4)),
        (Seq(("s", Some("Ａ"), None)), Nil, Set(2, 3, 4)),
        (Seq(("s", Some("Ä"), Some("éclair"))), Nil, Set(1, 4)),
        (Seq(("x", Some(2.5), None)), Nil, Set(1, 2, 4)), // NaN >= 2.5
        (Seq(("x", None, Some(Double.NegativeInfinity))), Nil, Set(0, 4)),
        (Seq(("x", Some(Double.NaN), None)), Nil, Set(1, 4)),
        (Seq(("n", Some(1), None)), Nil, all), // all-null: no range
        (Nil, Seq(("n", false)), Set(4)),
        (Nil, Seq(("n", true)), all),
        (Seq(("r2", Some(240), Some(310))), Nil, Set(1, 2, 4)), // mapped
        (Seq(("i", Some("abc"), None)), Nil, all), // uncastable: no bound
        (Seq(("i", Some("abc"), Some(4))), Nil, Set(0, 4)))
      cases.foreach { case (preds, nullPreds, want) =>
        val kept = TxLog.prunedSnapshotFiles(spark, snap, preds, nullPreds)
          .map(f => idx(f.path)).toSet
        assert(kept == want, s"$preds $nullPreds")
        if (kept != all) {
          val pred = (preds.flatMap { case (c, lo, hi) =>
            lo.map(col(c) >= lit(_)).toSeq ++ hi.map(col(c) <= lit(_)).toSeq
          } ++ nullPreds.map { case (c, isNull) =>
            if (isNull) col(c).isNull else col(c).isNotNull
          }).reduce(_ && _)
          val hits = scanMatches(pred)
          assert(hits.subsetOf(kept), s"$preds $nullPreds: rows in $hits")
        }
      }
    } finally spark.conf.set("spark.sql.session.timeZone", zone)
  }

  /** Run `body` with the session time zone set to `zone`. */
  private def inZone[T](zone: String)(body: => T): T = {
    val prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", zone)
    try body finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  /** A logged table, one file per batch, with stats on `ts`. */
  private def tsTable(prefix: String, batches: Seq[String]*): String = {
    import java.sql.Timestamp
    import java.time.Instant
    val s = spark
    import s.implicits._
    val dir = tmp(prefix).toString
    batches.zipWithIndex.foreach { case (b, i) =>
      val df = b.map(u => Timestamp.from(Instant.parse(u))).toDF("ts")
        .repartition(1)
      if (i == 0) TxLog.commitOverwrite(spark, dir, df, statsCols = Seq("ts"))
      else TxLog.commitAppend(spark, dir, df, statsCols = Seq("ts"))
    }
    dir
  }

  test("timestamp stats pruning keeps a match across the fall-back hour and across session zones") {
    import java.sql.Timestamp
    import java.time.Instant
    def at(u: String) = Timestamp.from(Instant.parse(u))
    // widened 36 h upward, this bound passes year 9999: unbounded
    val end = at("9999-12-31T23:59:59Z")
    // 09:10Z is 01:10 PST and records max "2024-11-03 01:10:00"; the
    // bound 08:50Z is 01:50 PDT and renders "2024-11-03 01:50:00"
    inZone("America/Los_Angeles") {
      val dir = tsTable("r15tsdst", Seq("2024-11-03T09:10:00Z"))
      val bound = at("2024-11-03T08:50:00Z")
      assert(TxLog.read(spark, dir).filter(col("ts") >= bound).count() == 1)
      assert(TxLog.countWhere(spark, dir, Seq(("ts", bound, end))) == 1)
    }
    // stats rendered under UTC ("2024-06-01 12:00:00"), probed under
    // UTC+14, where the bound 11:00Z renders "2024-06-02 01:00:00"
    val dir = inZone("UTC")(tsTable("r15tszone", Seq("2024-06-01T12:00:00Z")))
    inZone("Pacific/Kiritimati") {
      val bound = at("2024-06-01T11:00:00Z")
      assert(TxLog.read(spark, dir).filter(col("ts") >= bound).count() == 1)
      assert(TxLog.countWhere(spark, dir, Seq(("ts", bound, end))) == 1)
      // a bound past the slack still prunes the file
      val late = at("2024-06-03T12:00:01Z")
      assert(TxLog.countWhereDetailed(spark, dir, Seq(("ts", late, end)),
        None) == ((0L, Nil)))
    }
  }

  test("minMax answers a timestamp column by scanning: the true latest instant across the fall-back hour") {
    import java.sql.Timestamp
    import java.time.Instant
    inZone("America/Los_Angeles") {
      // 08:30Z is 01:30 PDT, 09:10Z is 01:10 PST: the later instant
      // has the smaller local string
      val dir = tsTable("r15tsmm", Seq("2024-11-03T08:30:00Z"),
        Seq("2024-11-03T09:10:00Z"))
      val (mm, scanned) = TxLog.minMaxDetailed(spark, dir, Seq("ts"), None)
      val r = mm.head()
      assert(r.getTimestamp(0).toInstant ==
        Instant.parse("2024-11-03T08:30:00Z"))
      assert(r.getTimestamp(1).toInstant ==
        Instant.parse("2024-11-03T09:10:00Z"))
      assert(scanned.size == 2)
    }
  }

  test("batch txlog source: versionAsOf and timestampAsOf time travel") {
    val s = spark
    import s.implicits._
    val dir = tmp("r15bt").toString
    TxLog.commitOverwrite(spark, dir, payload(5, "a"))
    TxLog.commitAppend(spark, dir, payload(3, "b"))
    val tsAfterV1 = TxLog.history(spark, dir)
      .filter(col("version") === 1L).select("timestamp")
      .as[Long].head()
    TxLog.delete(spark, dir, col("k") >= 3L)
    assert(spark.read.format("txlog")
      .option("versionAsOf", "0").load(dir).count() == 5)
    assert(spark.read.format("txlog")
      .option("versionAsOf", "1").load(dir).count() == 8)
    assert(spark.read.format("txlog")
      .option("timestampAsOf", tsAfterV1.toString).load(dir)
      .count() == 8)
    // delete k >= 3 removes k=3,4 of the first batch: 8 - 2 = 6 live
    assert(spark.read.format("txlog").load(dir).count() == 6)
    intercept[IllegalArgumentException] {
      spark.read.format("txlog").option("versionAsOf", "0")
        .option("timestampAsOf", "1").load(dir)
    }
  }

  test("batch txlog source: SQL over a registered table works and prunes") {
    val s = spark
    import s.implicits._
    val dir = tmp("r15bsql").toString
    TxLog.commitOverwrite(spark, dir,
      payload(2000, "a").repartitionByRange(8, col("k")),
      statsCols = Seq("k"))
    spark.sql("DROP TABLE IF EXISTS r15_logged")
    spark.sql(
      s"CREATE TABLE r15_logged USING txlog OPTIONS (path '$dir')")
    try {
      val n = spark.sql(
        "SELECT count(*) AS n FROM r15_logged WHERE k < 250")
        .as[Long].head()
      assert(n == 250L)
      val total = TxLog.snapshot(spark, dir).files.size
      val planned = graft.sources.TxLogBatch.lastScan.get()
      assert(planned.size < total,
        s"SQL predicate did not prune: ${planned.size} of $total")
    } finally {
      spark.sql("DROP TABLE IF EXISTS r15_logged")
      ()
    }
  }

  test("batch txlog source: df.write.format saves through the log") {
    val s = spark
    import s.implicits._
    val dir = tmp("r15bw").toString + "/t"
    payload(6, "a").write.format("txlog")
      .option("statsCols", "k").save(dir)
    assert(TxLog.isLogged(spark, dir))
    assert(TxLog.read(spark, dir).count() == 6)
    payload(4, "b").write.format("txlog").mode("append")
      .option("statsCols", "k").save(dir)
    assert(TxLog.read(spark, dir).count() == 10)
    assert(TxLog.snapshot(spark, dir).version == 1L)
    // stats recorded through the option: a k-probe prunes
    assert(TxLog.snapshot(spark, dir).files
      .forall(_.stats.contains("k")))
    payload(3, "c").write.format("txlog").mode("overwrite").save(dir)
    assert(TxLog.read(spark, dir).count() == 3)
    // creation-only modes refuse on an EXISTING table (the V2 write
    // path's contract for TableProvider sources)
    intercept[Exception] {
      payload(1, "d").write.format("txlog")
        .mode("errorifexists").save(dir)
    }
    intercept[Exception] {
      payload(1, "d").write.format("txlog").mode("ignore").save(dir)
    }
    assert(TxLog.read(spark, dir).count() == 3)
    // ... but CREATE a missing table fine (v1 fallback)
    val dir2 = tmp("r15bw2").toString + "/t"
    payload(2, "e").write.format("txlog").mode("ignore").save(dir2)
    assert(TxLog.read(spark, dir2).count() == 2)
    // round-trip: the write lands what the read returns
    val got = spark.read.format("txlog").load(dir)
      .select("k", "v", "name").collect().map(_.toSeq).sortBy(_.toString)
    val want = payload(3, "c").collect().map(_.toSeq).sortBy(_.toString)
    assert(got.toSeq == want.toSeq)
  }

  test("batch txlog source: SQL INSERT INTO / INSERT OVERWRITE land through the log") {
    val s = spark
    import s.implicits._
    val dir = tmp("r15sqlins").toString + "/t"
    TxLog.commitOverwrite(spark, dir, payload(3, "a"))
    spark.sql("DROP TABLE IF EXISTS r15_ins")
    spark.sql(s"CREATE TABLE r15_ins USING txlog OPTIONS (path '$dir')")
    try {
      spark.sql("INSERT INTO r15_ins VALUES (100, 1, 'sql')")
      assert(TxLog.read(spark, dir).count() == 4)
      assert(TxLog.snapshot(spark, dir).version == 1L)
      assert(spark.sql("SELECT count(*) FROM r15_ins WHERE name = 'sql'")
        .as[Long].head() == 1L)
      spark.sql("INSERT OVERWRITE r15_ins VALUES (7, 7, 'only')")
      assert(TxLog.read(spark, dir).count() == 1)
      assert(TxLog.read(spark, dir).select("name").as[String]
        .head() == "only")
      // table contracts still gate SQL writes: a CHECK refusal
      TxLog.addCheckConstraint(spark, dir, "pos", "k >= 0")
      intercept[Exception] {
        spark.sql("INSERT INTO r15_ins VALUES (-1, 0, 'bad')")
      }
      assert(TxLog.read(spark, dir).count() == 1)
      // time-travel references refuse writes
      intercept[Exception] {
        payload(1, "z").write.format("txlog")
          .option("versionAsOf", "0").mode("append").save(dir)
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS r15_ins")
      ()
    }
  }

  test("batch txlog source: streaming read/write still resolves the v1 source") {
    val s = spark
    import s.implicits._
    val dir = tmp("r15bstr").toString
    TxLog.commitOverwrite(spark, dir, payload(4, "a"))
    // readStream through the same short name must still build (v1
    // fallback: the batch table declares BATCH_READ only)
    val stream = spark.readStream.format("txlog").load(dir)
    assert(stream.isStreaming)
    assert(stream.columns.toSeq == Seq("k", "v", "name"))
  }

  // ---- partitioned-layout registration -------------------------------

  private def partPayload(n: Int): DataFrame = {
    val s = spark
    import s.implicits._
    (0 until n).map(i => (i.toLong, i.toLong * 10,
      Seq("en", "fr", "de")(i % 3))).toDF("k", "v", "lang")
  }

  test("hive layout registers in place: reads, prunes like a flat rewrite, takes DML") {
    val s = spark
    import s.implicits._
    val dir = tmp("r15part").toString + "/t"
    partPayload(300).repartition(2)
      .write.partitionBy("lang").parquet(dir)
    val want = spark.read.parquet(dir).collect()
      .map(_.toSeq.toString).sorted.toSeq
    TxLog.convertInPlace(spark, dir, statsCols = Seq("k"))
    val snap = TxLog.snapshot(spark, dir)
    assert(snap.partitionCols == Seq("lang"))
    assert(snap.minReader == 5)
    assert(snap.files.forall(_.path.contains("lang=")))
    // full read equals the plain partitioned read
    val got = TxLog.read(spark, dir)
      .select("k", "v", "lang") // plain read puts partition cols last
      .collect().map(_.toSeq.toString).sorted.toSeq
    assert(got == want.map(_.toString))
    // partition predicates prune from the log — parity with a flat
    // rewrite of the same data registered with lang stats
    val keptEn = TxLog.prunedSnapshotFiles(spark, snap,
      Seq(("lang", Some("en"), Some("en"))))
    assert(keptEn.nonEmpty && keptEn.size < snap.files.size,
      s"partition value did not prune: ${keptEn.size} of ${snap.files.size}")
    assert(keptEn.forall(_.path.startsWith("lang=en/")))
    val flat = tmp("r15partflat").toString + "/t"
    TxLog.commitOverwrite(spark, flat,
      spark.read.parquet(dir).select("k", "v", "lang"),
      statsCols = Seq("k", "lang"))
    val viaPart = TxLog.readPrunedAll(spark, dir,
      Seq(("lang", "en", "en"))).filter(col("lang") === "en")
      .select("k").as[Long].collect().sorted.toSeq
    val viaFlat = TxLog.readPrunedAll(spark, flat,
      Seq(("lang", "en", "en"))).filter(col("lang") === "en")
      .select("k").as[Long].collect().sorted.toSeq
    assert(viaPart == viaFlat && viaPart.nonEmpty)
    // metadata COUNT on the path-encoded column
    assert(TxLog.countWhere(spark, dir,
      Seq(("lang", "en", "en"))) == viaPart.size.toLong)
    // DML: delete by partition value (CoW), append flat, read merges
    TxLog.delete(spark, dir, col("lang") === "fr")
    assert(TxLog.read(spark, dir)
      .filter(col("lang") === "fr").count() == 0)
    TxLog.commitAppend(spark, dir,
      Seq((1000L, 1L, "es")).toDF("k", "v", "lang"))
    assert(TxLog.read(spark, dir)
      .filter(col("lang") === "es").count() == 1)
    val total = TxLog.read(spark, dir).count()
    assert(total == 300 - 100 + 1)
    // update a data column under a partition predicate
    TxLog.update(spark, dir, col("lang") === "de",
      Map("v" -> (col("v") + 1L)))
    assert(TxLog.read(spark, dir).filter(col("lang") === "de")
      .filter(col("v") % 10 =!= 1L).count() == 0)
    // compact flattens; the table keeps answering
    TxLog.compact(spark, dir, targetFiles = 2,
      statsCols = Seq("k", "lang"))
    assert(TxLog.read(spark, dir).count() == total)
    assert(TxLog.read(spark, dir)
      .filter(col("lang") === "en").count() == 100)
  }

  test("hive layout: multi-level partitions, null values, and the batch source") {
    val s = spark
    import s.implicits._
    val dir = tmp("r15part2").toString + "/t"
    Seq((1L, "en", 1), (2L, "en", 2), (3L, null.asInstanceOf[String], 1),
      (4L, "a b", 2))
      .toDF("k", "lang", "day")
      .write.partitionBy("lang", "day").parquet(dir)
    TxLog.convertInPlace(spark, dir)
    assert(TxLog.snapshot(spark, dir).partitionCols == Seq("lang", "day"))
    val t = TxLog.read(spark, dir)
    assert(t.filter(col("lang").isNull).select("k").as[Long]
      .collect().toSeq == Seq(3L), "hive null sentinel must decode")
    assert(t.filter(col("lang") === "a b").select("k").as[Long]
      .collect().toSeq == Seq(4L), "url-escaped values must decode")
    assert(t.filter(col("day") === 2).count() == 2)
    // the batch DataSource rides the same read path
    assert(spark.read.format("txlog").load(dir)
      .filter(col("day") === 1).count() == 2)
    // DML must hit url-escaped and null partitions (file identity is
    // the LOG's raw on-disk relative path — any encoding drift between
    // _metadata.file_path and the listing would silently no-op here)
    TxLog.deleteMor(spark, dir, col("lang") === "a b")
    assert(TxLog.read(spark, dir).count() == 3)
    assert(TxLog.read(spark, dir).filter(col("lang") === "a b")
      .count() == 0)
    TxLog.delete(spark, dir, col("lang").isNull)
    assert(TxLog.read(spark, dir).count() == 2)
    assert(TxLog.read(spark, dir).select("k").as[Long]
      .collect().sorted.toSeq == Seq(1L, 2L))
  }

  test("hive layout: incremental consumption recovers path-encoded values") {
    val s = spark
    import s.implicits._
    val dir = tmp("r15partcdc").toString + "/t"
    partPayload(30).write.partitionBy("lang").parquet(dir)
    TxLog.convertInPlace(spark, dir, statsCols = Seq("k"))
    // the initial load (v0) through both batch-pull forms
    val since = TxLog.changesSince(spark, dir, -1L)
    assert(since.filter(col("lang").isNull).count() == 0,
      "changesSince must recover path-encoded partition values")
    assert(since.filter(col("lang") === "en").count() == 10)
    val feed = TxLog.changeFeed(spark, dir, -1L)
    assert(feed.filter(col("lang").isNull).count() == 0)
    assert(feed.filter(col("_change_type") === "insert").count() == 30)
    // a DML inside the span diffs with correct values on both sides
    TxLog.delete(spark, dir, col("lang") === "fr")
    val feed2 = TxLog.changeFeed(spark, dir, 0L)
    assert(feed2.filter(col("_change_type") === "delete")
      .filter(col("lang") =!= "fr").count() == 0)
    assert(feed2.filter(col("_change_type") === "delete").count() == 10)
  }

  test("hive layout: ragged layouts refuse; colliding base names register by path identity") {
    val s = spark
    import s.implicits._
    val dir = tmp("r15partbad").toString + "/t"
    partPayload(30).write.partitionBy("lang").parquet(dir)
    // a stray flat file makes the layout ragged
    val src = new java.io.File(dir).listFiles()
      .filter(_.isDirectory).head.listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(src.toPath,
      java.nio.file.Paths.get(dir, "stray.parquet"))
    val e = intercept[IllegalArgumentException] {
      TxLog.convertInPlace(spark, dir)
    }
    assert(e.getMessage.contains("inconsistent partition layout"))
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir, "stray.parquet"))
    // a base name repeated across partition dirs is Spark's OWN
    // partitionBy layout shape (every dir reuses the job's task file
    // names) — files key by relative path, so an identically-named
    // file in a fresh partition dir registers as distinct data
    val srcLang = src.getParentFile.getName.drop("lang=".length)
    val zz = java.nio.file.Paths.get(dir, "lang=zz")
    java.nio.file.Files.createDirectory(zz)
    java.nio.file.Files.copy(src.toPath, zz.resolve(src.getName))
    TxLog.convertInPlace(spark, dir, statsCols = Seq("k"))
    val srcRows = spark.read.parquet(src.getPath).count()
    val t = TxLog.read(spark, dir)
    assert(t.count() == 30 + srcRows)
    // the copied rows answer under the HOST dir's partition value
    assert(t.filter(col("lang") === "zz").count() == srcRows)
    // DML keyed by path identity: deleting the copy's partition
    // leaves the identically-named original untouched
    TxLog.delete(spark, dir, col("lang") === "zz")
    assert(TxLog.read(spark, dir).count() == 30)
    assert(TxLog.read(spark, dir).filter(col("lang") === srcLang)
      .count() == 10)
  }

  test("hive layout: vacuum reaps retired nested files, never live ones") {
    val s = spark
    import s.implicits._
    val dir = tmp("r15partvac").toString + "/t"
    partPayload(300).repartition(2)
      .write.partitionBy("lang").parquet(dir)
    TxLog.convertInPlace(spark, dir, statsCols = Seq("k"))
    val nested = TxLog.snapshot(spark, dir).files.map(_.path)
    assert(nested.forall(_.contains('/')))
    // nothing is stale yet
    assert(TxLog.vacuumDryRun(spark, dir).isEmpty)
    // CoW delete retires the fr partition's nested files from the log
    TxLog.delete(spark, dir, col("lang") === "fr")
    val retired = nested.filter(_.startsWith("lang=fr/")).toSet
    val reaped = TxLog.vacuumDryRun(spark, dir).toSet
    assert(retired.subsetOf(reaped),
      s"retired nested files must be reapable: $retired vs $reaped")
    assert(TxLog.vacuum(spark, dir) >= retired.size)
    retired.foreach(p => assert(
      !java.nio.file.Files.exists(java.nio.file.Paths.get(dir, p)),
      s"$p should be gone"))
    // live nested files and the data survive
    assert(TxLog.read(spark, dir).count() == 200)
    assert(TxLog.read(spark, dir)
      .filter(col("lang") === "en").count() == 100)
    // describeDetail sees the nested bytes: after the vacuum, what is
    // on disk equals what the snapshot references
    val det = TxLog.describeDetail(spark, dir).head()
    assert(det.getAs[Long]("bytes_in_dir") ==
      det.getAs[Long]("live_bytes"),
      "a vacuumed partitioned table must carry no unaccounted bytes")
  }

  testBothForms("hive layout: randomized DML model check on a registered partitioned table") {
    val s = spark
    import s.implicits._
    val dir = tmp("r15partmodel").toString + "/t"
    // seed: 60 keyed rows over 3 partition values, hive layout
    val langs = Seq("en", "fr", "de")
    def langOf(k: Long): String = langs((k % 3).toInt)
    (0L until 60L).map(k => (k, s"v$k", langOf(k)))
      .toDF("k", "v", "lang").repartition(2)
      .write.partitionBy("lang").parquet(dir)
    TxLog.convertInPlace(spark, dir, statsCols = Seq("k"))
    var model: Map[Long, (String, String)] =
      (0L until 60L).map(k => k -> (s"v$k", langOf(k))).toMap
    def tableState: Map[Long, (String, String)] =
      TxLog.read(spark, dir).select("k", "v", "lang")
        .as[(Long, String, String)].collect()
        .map { case (k, v, l) => k -> (v, l) }.toMap
    val rnd = new scala.util.Random(151515L)
    var nextKey = 1000L
    val history = scala.collection.mutable.ArrayBuffer(model)
    (1 to 18).foreach { _ =>
      var committed = true
      rnd.nextInt(7) match {
        case 0 => // CoW delete of one partition-value slice or range
          val x = model.keys.toSeq.sorted.apply(
            rnd.nextInt(model.size))
          TxLog.delete(spark, dir, col("k") <= x)
          model = model.filter(_._1 > x)
          if (model.isEmpty) {
            history += model
            TxLog.commitAppend(spark, dir,
              Seq((nextKey, s"v$nextKey", langOf(nextKey)))
                .toDF("k", "v", "lang"))
            model += nextKey -> (s"v$nextKey", langOf(nextKey))
            nextKey += 1
          }
        case 1 => // CoW update on a data column
          val x = model.keys.toSeq.sorted.apply(rnd.nextInt(model.size))
          TxLog.update(spark, dir, col("k") <= x,
            Map("v" -> concat(col("v"), lit("!"))))
          model = model.map { case (k, (v, l)) =>
            k -> (if (k <= x) (v + "!", l) else (v, l)) }
        case 2 => // MoR delete (vectors on nested files)
          val x = model.keys.toSeq.sorted.apply(rnd.nextInt(model.size))
          TxLog.deleteMor(spark, dir, col("k") === x)
          model -= x
          if (model.isEmpty) {
            history += model
            TxLog.commitAppend(spark, dir,
              Seq((nextKey, s"v$nextKey", langOf(nextKey)))
                .toDF("k", "v", "lang"))
            model += nextKey -> (s"v$nextKey", langOf(nextKey))
            nextKey += 1
          }
        case 3 => // MoR update
          val x = model.keys.toSeq.sorted.apply(rnd.nextInt(model.size))
          TxLog.updateMor(spark, dir, col("k") === x,
            Map("v" -> concat(col("v"), lit("?"))))
          model = model.map { case (k, (v, l)) =>
            k -> (if (k == x) (v + "?", l) else (v, l)) }
        case 4 => // merge: replace one + insert one
          val hit = model.keys.toSeq.sorted.apply(rnd.nextInt(model.size))
          val ins = nextKey; nextKey += 1
          TxLog.merge(spark, dir,
            Seq((hit, s"m$hit", langOf(hit)),
              (ins, s"v$ins", langOf(ins))).toDF("k", "v", "lang"),
            Seq("k"))
          model += hit -> (s"m$hit", langOf(hit))
          model += ins -> (s"v$ins", langOf(ins))
        case 5 => // flat append
          val ins = nextKey; nextKey += 1
          TxLog.commitAppend(spark, dir,
            Seq((ins, s"v$ins", langOf(ins))).toDF("k", "v", "lang"))
          model += ins -> (s"v$ins", langOf(ins))
        case _ => // maintenance: scoped or full compact
          val vBefore = TxLog.snapshot(spark, dir).version
          if (rnd.nextBoolean())
            TxLog.compact(spark, dir, targetFiles = 2,
              statsCols = Seq("k"))
          else
            TxLog.compact(spark, dir, targetFiles = 1,
              statsCols = Seq("k"),
              where = Some(col("lang") === langs(rnd.nextInt(3))))
          // a match-nothing scoped compact commits nothing — record
          // no history entry for it
          committed = TxLog.snapshot(spark, dir).version > vBefore
      }
      if (committed) history += model
      assert(tableState == model, s"diverged after op ${history.size}")
    }
    // time travel: every recorded version replays to its model state
    val head = TxLog.snapshot(spark, dir).version
    assert(head == history.size - 1,
      s"version/history desync: head $head vs ${history.size - 1}")
    history.zipWithIndex.foreach { case (want, v) =>
      val got = TxLog.read(spark, dir, Some(v.toLong))
        .select("k", "v", "lang").as[(Long, String, String)]
        .collect().map { case (k, vv, l) => k -> (vv, l) }.toMap
      assert(got == want, s"version $v diverged from the model")
    }
  }

  test("hive layout: the plain stream's initial load recovers path values") {
    val s = spark
    import s.implicits._
    val dir = tmp("r15partstream").toString + "/t"
    partPayload(30).write.partitionBy("lang").parquet(dir)
    TxLog.convertInPlace(spark, dir)
    val q = spark.readStream.format("txlog").load(dir)
      .writeStream.format("memory").queryName("r15ps")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination(60000L) finally q.stop()
    val got = spark.table("r15ps")
    assert(got.count() == 30)
    assert(got.filter(col("lang").isNull).count() == 0,
      "the streamed initial load must recover path-encoded values")
    assert(got.filter(col("lang") === "en").count() == 10)
  }

  // ---- replaceWhere (atomic partial overwrite) ------------------------

  test("replaceWhere replaces exactly the predicate's slice in one commit") {
    val s = spark
    import s.implicits._
    val dir = tmp("r15rw").toString
    TxLog.commitOverwrite(spark, dir,
      payload(4000, "a").repartitionByRange(8, col("k")),
      statsCols = Seq("k"))
    val pre = TxLog.snapshot(spark, dir)
    // the replacement slice: 100 fresh rows inside k < 500
    val batch = (0 until 100).map(i =>
      (i.toLong * 5, -1L, s"new$i")).toDF("k", "v", "name")
    TxLog.replaceWhere(spark, dir, batch, col("k") < 500L,
      statsCols = Seq("k"))
    val post = TxLog.snapshot(spark, dir)
    assert(post.version == pre.version + 1, "ONE commit, atomic")
    assert(TxLog.read(spark, dir).count() == 4000 - 500 + 100)
    assert(TxLog.read(spark, dir).filter(col("k") < 500L)
      .filter(col("v") =!= -1L).count() == 0,
      "the old slice must be gone")
    assert(TxLog.read(spark, dir).filter(col("v") === -1L)
      .count() == 100)
    // untouched files survive by path
    val removed = pre.files.map(_.path).toSet -- post.files.map(_.path)
    val boundary = TxLog.prunedSnapshotFiles(spark, pre,
      Seq(("k", None, Some(500L)))).map(_.path).toSet
    assert(removed.subsetOf(boundary),
      "replaceWhere rewrote files outside the predicate envelope")
    // a batch row OUTSIDE the predicate refuses, nothing lands
    val vNow = TxLog.snapshot(spark, dir).version
    val e = intercept[IllegalArgumentException] {
      TxLog.replaceWhere(spark, dir,
        Seq((9999L, 0L, "x")).toDF("k", "v", "name"),
        col("k") < 500L)
    }
    assert(e.getMessage.contains("NOT matching"))
    assert(TxLog.snapshot(spark, dir).version == vNow)
    // the DataSource dual: mode(overwrite) + replaceWhere option
    Seq((7L, -2L, "ds")).toDF("k", "v", "name")
      .write.format("txlog").mode("overwrite")
      .option("replaceWhere", "k < 10").save(dir)
    val t = TxLog.read(spark, dir)
    assert(t.filter(col("k") < 10L).count() == 1)
    assert(t.filter(col("v") === -2L).count() == 1)
    assert(t.filter(col("k") >= 10L).count() ==
      4000 - 500 + 100 - TxLog.read(spark, dir, Some(vNow))
        .filter(col("k") < 10L).count())
    // replaceWhere under append refuses
    intercept[Exception] {
      Seq((8L, 0L, "x")).toDF("k", "v", "name")
        .write.format("txlog").mode("append")
        .option("replaceWhere", "k < 10").save(dir)
    }
  }

  // ---- predicate-scoped OPTIMIZE -------------------------------------

  test("compact WHERE merges only the predicate's files and keeps their stats") {
    val s = spark
    import s.implicits._
    val dir = tmp("r15optw").toString
    TxLog.commitOverwrite(spark, dir,
      payload(4000, "a").repartitionByRange(8, col("k")),
      statsCols = Seq("k"))
    val pre = TxLog.snapshot(spark, dir)
    val lowPre = TxLog.prunedSnapshotFiles(spark, pre,
      Seq(("k", None, Some(999L)))).map(_.path).toSet
    assert(lowPre.size >= 2 && lowPre.size < pre.files.size)
    TxLog.compact(spark, dir, targetFiles = 1,
      where = Some(col("k") < 1000L))
    val post = TxLog.snapshot(spark, dir)
    // files outside the predicate's stats envelope survive BY PATH
    // (the scope may be one file wider than the strict probe — the
    // predicate-bounds derivation is conservative at the boundary)
    val removed = pre.files.map(_.path).toSet --
      post.files.map(_.path).toSet
    val boundary = TxLog.prunedSnapshotFiles(spark, pre,
      Seq(("k", None, Some(1000L)))).map(_.path).toSet
    assert(removed.nonEmpty && removed.subsetOf(boundary),
      "compact WHERE rewrote files outside the predicate envelope")
    assert(removed.size >= 2 && removed.size < pre.files.size)
    assert(post.files.size == pre.files.size - removed.size + 1)
    assert(TxLog.read(spark, dir).count() == 4000)
    // inherited stats: the k-range probe still prunes after OPTIMIZE
    val lowPost = TxLog.prunedSnapshotFiles(spark, post,
      Seq(("k", None, Some(999L))))
    assert(lowPost.size < post.files.size,
      "the rewrite must inherit the pruning stats")
    // a matching-nothing predicate is a no-op, not an empty commit
    val v = post.version
    TxLog.compact(spark, dir, targetFiles = 1,
      where = Some(col("k") > 100000000L))
    assert(TxLog.snapshot(spark, dir).version == v)
    // scoped vectors fold away; out-of-scope vectors stand
    TxLog.deleteMor(spark, dir, col("k") % 1000 === 7L)
    TxLog.compact(spark, dir, targetFiles = 1,
      where = Some(col("k") < 1000L))
    val snap2 = TxLog.snapshot(spark, dir)
    val lowNow = TxLog.prunedSnapshotFiles(spark, snap2,
      Seq(("k", None, Some(999L))))
    assert(lowNow.forall(_.dv.isEmpty),
      "scoped compact must materialize its vectors away")
    assert(snap2.files.exists(_.dv.isDefined),
      "out-of-scope vectors must stand")
    assert(TxLog.read(spark, dir).count() == 4000 - 4)
  }

  // ---- refresh vs concurrent source DML (the race contract) ---------

  test("SCD2: a refresh bounded at head-as-read lands exactly (w, head]; the racer folds next") {
    val s = spark
    import s.implicits._
    val src = tmp("r15race").toString + "/src"
    val scd = tmp("r15race").toString + "/scd"
    TxLog.commitOverwrite(spark, src, payload(6, "a"),
      statsCols = Seq("k"))
    Scd2.create(spark, src, scd, keys = Seq("k"))
    val w = Scd2.watermark(spark, scd)
    TxLog.delete(spark, src, col("k") === 0L)
    // replicate refresh's body with a RACER commit landing between
    // the head read and the feed fold — exactly the interleaving a
    // concurrent writer produces
    val head = TxLog.snapshot(spark, src).version
    TxLog.delete(spark, src, col("k") === 1L) // the racer
    val spec = Scd2.readMeta(spark, scd)
    val feed = TxLog.changeFeed(spark, src, w, Some(head))
    Scd2.applyDirectives(spark, scd, Scd2.feedDirectives(spec, feed),
      "_scd2_del", "_scd2_seq",
      txn = Some((Scd2.WatermarkApp, head)))
    // the fold stopped at head-as-read: k=0 closed, k=1 still current
    assert(Scd2.watermark(spark, scd) == head)
    assert(Scd2.current(spark, scd).select("k").as[Long]
      .collect().sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    // the next refresh picks up the racer
    val head2 = TxLog.snapshot(spark, src).version
    assert(Scd2.refresh(spark, scd) == head2)
    assert(Scd2.current(spark, scd).select("k").as[Long]
      .collect().sorted.toSeq == Seq(2L, 3L, 4L, 5L))
    // and the full history equals the per-version source states
    (w to head2).foreach { v =>
      val want = TxLog.read(spark, src, Some(v))
        .select("k").as[Long].collect().sorted.toSeq
      val got = Scd2.snapshotAt(spark, scd, v)
        .select("k").as[Long].collect().sorted.toSeq
      assert(got == want, s"snapshotAt($v) diverged")
    }
  }

  test("MV: a refresh bounded at head-as-read folds exactly (w, head]; the racer folds next") {
    val s = spark
    import s.implicits._
    val src = tmp("r15mvrace").toString + "/src"
    val mv = tmp("r15mvrace").toString + "/mv"
    TxLog.commitOverwrite(spark, src, payload(6, "a"),
      statsCols = Seq("k"))
    MaterializedAgg.create(spark, src, mv, keys = Seq("name"),
      sums = Seq("v"))
    val w = MaterializedAgg.watermark(spark, mv)
    TxLog.delete(spark, src, col("k") === 0L)
    val head = TxLog.snapshot(spark, src).version
    TxLog.delete(spark, src, col("k") === 1L) // the racer
    val spec = MaterializedAgg.readMeta(spark, mv)
    val feed = TxLog.changeFeed(spark, src, w, Some(head))
    MaterializedAgg.applyFeed(spark, mv, spec, feed, endVersion = head)
    assert(MaterializedAgg.watermark(spark, mv) == head)
    // the view reflects source@head (k=0 gone, k=1 still counted)
    def names(df: DataFrame): Seq[String] =
      df.select("name").as[String].collect().sorted.toSeq
    assert(names(TxLog.read(spark, mv)) ==
      names(TxLog.read(spark, src, Some(head))))
    // next refresh folds the racer; view == recompute
    MaterializedAgg.refresh(spark, mv)
    val want = MaterializedAgg.aggregate(TxLog.read(spark, src),
      Seq("name"), Seq("v"), Nil, Nil)
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    val got = TxLog.read(spark, mv)
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(got == want)
  }
}
