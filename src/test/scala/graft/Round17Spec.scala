package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.TxLog

/** Round-17 hardening and the subquery-DML surface:
  *  - mergeInto gates NOT MATCHED BY SOURCE on TRUE matched-ness (a
  *    matched row whose MATCHED clause does not fire is exempt);
  *  - SQL DELETE/UPDATE accept [NOT] IN / [NOT] EXISTS subquery
  *    conjuncts, lowered onto the same merge machinery;
  *  - stats pruning degrades (not crashes) on non-finite literals;
  *  - SaveMode.Ignore holds on the partitionBy create path;
  *  - SQL VACUUM reports from its own single deletion walk.
  */
class Round17Spec extends SparkSpec {

  private def tmp(prefix: String): Path =
    Files.createTempDirectory(prefix)

  private def kvn(rows: Seq[(Long, Long, String)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("k", "v", "name")
  }

  // ---- NMBS gates on matched-ness, not on a firing pair -------------

  test("merge: matched row whose conditional MATCHED clause does not fire is exempt from NMBS DELETE") {
    val s = spark
    import s.implicits._
    val dir = tmp("r17nmbs").toString + "/t"
    // one file holding both rows: k=1 matches the source (but the
    // MATCHED condition s.v > 100 is false), k=2 is unmatched
    TxLog.commitOverwrite(s, dir,
      kvn(Seq((1L, 10L, "a"), (2L, 20L, "b"))).coalesce(1))
    val src = Seq((1L, 50L)).toDF("k", "v")
    TxLog.mergeInto(s, dir, src,
      col("t.k") === col("s.k"),
      Seq(
        TxLog.MergeMatchedUpdate(Map("v" -> col("s.v")),
          Some(col("s.v") > 100L)),
        TxLog.MergeNotMatchedBySourceDelete()))
    val back = TxLog.read(s, dir).select("k", "v")
      .as[(Long, Long)].collect().toSet
    // k=1 is MATCHED (clause false -> no-op, NOT deleted by NMBS);
    // k=2 is not matched by source -> deleted
    assert(back == Set((1L, 10L)),
      s"matched-but-non-firing row must survive NMBS, got $back")
  }

  test("merge: NMBS-only merge keeps matched rows and applies only to unmatched") {
    val s = spark
    import s.implicits._
    val dir = tmp("r17nmbs2").toString + "/t"
    TxLog.commitOverwrite(s, dir,
      kvn(Seq((1L, 10L, "a"), (2L, 20L, "b"), (3L, 30L, "c")))
        .coalesce(1))
    // several source rows match k=1 — legal without MATCHED clauses
    // (Delta's cardinality contract only guards firing clauses)
    val src = Seq((1L, 0L), (1L, 1L)).toDF("k", "x")
    TxLog.mergeInto(s, dir, src,
      col("t.k") === col("s.k"),
      Seq(TxLog.MergeNotMatchedBySourceUpdate(
        Map("v" -> (col("v") + 1000L)))))
    val back = TxLog.read(s, dir).select("k", "v")
      .as[(Long, Long)].collect().toSet
    assert(back == Set((1L, 10L), (2L, 1020L), (3L, 1030L)),
      s"NMBS-only merge must exempt the matched k=1, got $back")
  }

  // ---- subquery conditions in SQL DML --------------------------------

  private def sqlTable(name: String, dir: String,
      rows: Seq[(Long, Long, String)]): Unit = {
    TxLog.commitOverwrite(spark, dir, kvn(rows), statsCols = Seq("k", "v"))
    spark.sql(s"CREATE TABLE $name USING txlog OPTIONS (path '$dir')")
  }

  test("SQL DELETE with IN-subquery matches the relational replay") {
    val s = spark
    import s.implicits._
    val dir = tmp("r17inq").toString + "/t"
    val rows = (0L until 40L).map(i => (i, i * 3, s"n$i"))
    sqlTable("r17_in", dir, rows)
    Seq(3L, 7L, 11L, 99L).toDF("qk").createOrReplaceTempView("r17_quar")
    s.sql("DELETE FROM r17_in WHERE v > 10 AND " +
      "k IN (SELECT qk FROM r17_quar)")
    val expect = rows.filterNot { case (k, v, _) =>
      v > 10 && Seq(3L, 7L, 11L, 99L).contains(k) }.toSet
    val back = TxLog.read(s, dir)
      .as[(Long, Long, String)].collect().toSet
    assert(back == expect)
    // one commit, labeled as the statement the user ran
    assert(TxLog.history(s, dir).orderBy(desc("version"))
      .select("op").first().getString(0) == "delete")
  }

  test("SQL UPDATE with equality-correlated EXISTS matches the replay") {
    val s = spark
    import s.implicits._
    val dir = tmp("r17exq").toString + "/t"
    val rows = (0L until 30L).map(i => (i, i, s"n$i"))
    sqlTable("r17_ex", dir, rows)
    Seq((2L, "x"), (4L, "y"), (2L, "z"), (77L, "w"))
      .toDF("rk", "tag").createOrReplaceTempView("r17_ref")
    s.sql("UPDATE r17_ex SET v = v + 1000 WHERE " +
      "EXISTS (SELECT 1 FROM r17_ref WHERE r17_ref.rk = r17_ex.k " +
      "AND r17_ref.tag <> 'z')")
    val hit = Set(2L, 4L)
    val expect = rows.map { case (k, v, n) =>
      (k, if (hit(k)) v + 1000 else v, n) }.toSet
    val back = TxLog.read(s, dir)
      .as[(Long, Long, String)].collect().toSet
    assert(back == expect)
    assert(TxLog.history(s, dir).orderBy(desc("version"))
      .select("op").first().getString(0) == "update")
  }

  test("SQL DELETE with NOT IN is null-aware") {
    val s = spark
    import s.implicits._
    val dir = tmp("r17nin").toString + "/t"
    val rows = Seq((1L, 1L, "a"), (2L, 2L, "b"), (3L, 3L, "c"))
    sqlTable("r17_nin", dir, rows)
    // a NULL in the list: NOT IN is never TRUE -> statement no-ops
    Seq(Some(1L), None).toDF("qk").createOrReplaceTempView("r17_null")
    s.sql("DELETE FROM r17_nin WHERE k NOT IN (SELECT qk FROM r17_null)")
    assert(TxLog.read(s, dir).count() == 3,
      "NOT IN over a NULL-bearing list must delete nothing")
    // without the NULL: rows outside the list go
    Seq(1L, 3L).toDF("qk").createOrReplaceTempView("r17_keep")
    s.sql("DELETE FROM r17_nin WHERE k NOT IN (SELECT qk FROM r17_keep)")
    assert(TxLog.read(s, dir).select("k")
      .as[Long].collect().toSet == Set(1L, 3L))
  }

  test("SQL DELETE with correlated NOT EXISTS keeps only referenced rows") {
    val s = spark
    import s.implicits._
    val dir = tmp("r17nex").toString + "/t"
    sqlTable("r17_nex", dir,
      Seq((1L, 1L, "a"), (2L, 2L, "b"), (3L, 3L, "c"), (4L, 4L, "d")))
    Seq(2L, 4L).toDF("rk").createOrReplaceTempView("r17_refs")
    s.sql("DELETE FROM r17_nex WHERE NOT EXISTS " +
      "(SELECT 1 FROM r17_refs WHERE r17_refs.rk = r17_nex.k)")
    assert(TxLog.read(s, dir).select("k")
      .as[Long].collect().toSet == Set(2L, 4L))
  }

  test("SQL DML: uncorrelated EXISTS gates the statement") {
    val s = spark
    import s.implicits._
    val dir = tmp("r17gate").toString + "/t"
    sqlTable("r17_gate", dir, Seq((1L, 1L, "a"), (2L, 2L, "b")))
    spark.range(0).select(col("id").as("z"))
      .createOrReplaceTempView("r17_empty")
    s.sql("DELETE FROM r17_gate WHERE k = 1 AND " +
      "EXISTS (SELECT 1 FROM r17_empty)")
    assert(TxLog.read(s, dir).count() == 2,
      "EXISTS over an empty relation must no-op")
    spark.range(1).select(col("id").as("z"))
      .createOrReplaceTempView("r17_one")
    s.sql("DELETE FROM r17_gate WHERE k = 1 AND " +
      "EXISTS (SELECT 1 FROM r17_one)")
    assert(TxLog.read(s, dir).select("k")
      .as[Long].collect().toSet == Set(2L))
  }

  test("SQL DML refuses the subquery shapes it does not support, with the graft error") {
    val s = spark
    import s.implicits._
    val dir = tmp("r17ref").toString + "/t"
    sqlTable("r17_refu", dir, Seq((1L, 1L, "a")))
    Seq((1L, 5L)).toDF("rk", "rv").createOrReplaceTempView("r17_rr")
    // correlated IN
    val e1 = intercept[Exception] {
      s.sql("DELETE FROM r17_refu WHERE k IN " +
        "(SELECT rk FROM r17_rr WHERE rv = r17_refu.v)")
    }
    assert(e1.getMessage.contains("unsupported subquery shape") ||
      e1.getMessage.contains("correlated"), e1.getMessage)
    // non-equality correlation in EXISTS
    val e2 = intercept[Exception] {
      s.sql("DELETE FROM r17_refu WHERE EXISTS " +
        "(SELECT 1 FROM r17_rr WHERE r17_rr.rk > r17_refu.k)")
    }
    assert(e2.getMessage.contains("unsupported subquery shape") ||
      e2.getMessage.contains("non-equality"), e2.getMessage)
    // scalar subquery in SET
    val e3 = intercept[Exception] {
      s.sql("UPDATE r17_refu SET v = (SELECT max(rv) FROM r17_rr)")
    }
    assert(e3.getMessage.contains("subqueries in UPDATE SET"),
      e3.getMessage)
    // subquery in MERGE ON
    val e4 = intercept[Exception] {
      s.sql("MERGE INTO r17_refu USING r17_rr ON r17_refu.k = r17_rr.rk " +
        "AND r17_refu.k IN (SELECT rk FROM r17_rr) " +
        "WHEN MATCHED THEN DELETE")
    }
    assert(e4.getMessage.contains("subqueries in MERGE"), e4.getMessage)
    // the table is untouched by all four refusals
    assert(TxLog.read(s, dir).count() == 1)
  }

  // ---- non-finite literals degrade to no pruning ---------------------

  test("pushed IN/OR filters carrying NaN/Infinity do not crash the pruned scan") {
    val s = spark
    import s.implicits._
    val dir = tmp("r17nan").toString + "/t"
    TxLog.commitOverwrite(s, dir,
      Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)).toDF("k", "d"),
      statsCols = Seq("d"))
    val df = s.read.format("txlog").load(dir)
    assert(df.filter(col("d").isin(1.0, Double.NaN))
      .select("k").as[Long].collect().toSet == Set(1L))
    assert(df.filter(col("d") > 2.0 || col("d") > Double.PositiveInfinity)
      .select("k").as[Long].collect().toSet == Set(3L))
    assert(df.filter(col("d").isin(Double.NaN)).count() == 0)
  }

  // ---- SaveMode.Ignore on the partitionBy create path ----------------

  test("Ignore-mode partitionBy write no-ops on an existing plain dataset instead of refusing") {
    val s = spark
    import s.implicits._
    // an existing PLAIN dataset reaches the v1 create path (the
    // placeholder table declares no capabilities); a LOGGED table
    // never gets here — Spark's own v2 save path refuses createModes
    // against a BATCH_WRITE table before the source is consulted
    val plain = tmp("r17ign").toString + "/t"
    val first = Seq((1L, "us"), (2L, "eu")).toDF("k", "region")
    first.write.parquet(plain)
    Seq((9L, "apac")).toDF("k", "region").write
      .mode("ignore").partitionBy("region").format("txlog").save(plain)
    assert(!TxLog.isLogged(s, plain) &&
      s.read.parquet(plain).count() == 2,
      "Ignore + partitionBy must be a true no-op on existing data")
    // the default mode keeps its loud refusal on the same shape
    val e = intercept[IllegalArgumentException] {
      Seq((9L, "apac")).toDF("k", "region").write
        .partitionBy("region").format("txlog").save(plain)
    }
    assert(e.getMessage.contains("empty target"), e.getMessage)
    assert(s.read.parquet(plain).count() == 2)
  }

  // ---- grammar hardening ----------------------------------------------

  test("OPTIMIZE ZORDER BY accepts N columns") {
    val s = spark
    import s.implicits._
    val dir = tmp("r17zo").toString + "/t"
    TxLog.commitOverwrite(s, dir,
      (0L until 64L).map(i => (i, i % 7, i % 11, s"n$i"))
        .toDF("k", "a", "b", "name").repartition(4),
      statsCols = Seq("k", "a", "b"))
    s.sql(s"OPTIMIZE '$dir' TARGET 1 FILES ZORDER BY (k, a, b)")
    assert(TxLog.snapshot(s, dir).files.size == 1)
    assert(TxLog.read(s, dir).count() == 64)
  }

  test("near-miss statements on graft-owned first tokens raise the graft grammar error") {
    val s = spark
    val cases = Seq(
      "VACUUM 't' RETAIN 3 VERSION" -> "expected: VACUUM",
      "OPTIMIZE 't' ZORDER (k)" -> "expected: OPTIMIZE",
      "RESTORE 't' VERSION OF 3" -> "expected: RESTORE",
      "CONVERT TO TXLOG" -> "expected: CONVERT",
      "ALTER TXLOG 't' SET NONSENSE" -> "expected: ALTER TXLOG")
    cases.foreach { case (sql, want) =>
      val e = intercept[Exception] { s.sql(sql) }
      assert(e.getMessage.contains(want),
        s"'$sql' raised: ${e.getMessage}")
    }
  }

  test("DESCRIBE on a user table literally named history/detail delegates to Spark") {
    val s = spark
    val base = tmp("r17desc").toString
    s.sql(s"CREATE TABLE history (k BIGINT, v STRING) USING parquet " +
      s"LOCATION '$base/history'")
    try {
      // Spark's column-describe syntax — the txlog DESCRIBE HISTORY
      // grammar must not shadow it (the bare ref 'k' resolves to no
      // txlog table, so the statement delegates)
      val out = s.sql("DESCRIBE history k").collect()
      assert(out.map(_.getString(0)).contains("col_name"))
      // the txlog form still works by path and by registered name
      val dir = tmp("r17desc2").toString + "/t"
      TxLog.commitOverwrite(s, dir, kvn(Seq((1L, 1L, "a"))))
      assert(s.sql(s"DESCRIBE HISTORY '$dir'").collect().nonEmpty)
    } finally s.sql("DROP TABLE IF EXISTS history")
  }

  // ---- SQL CONVERT and CLONE ------------------------------------------

  test("CONVERT TO TXLOG adopts a plain parquet dataset in place") {
    val s = spark
    import s.implicits._
    val dir = tmp("r17conv").toString + "/t"
    kvn(Seq((1L, 1L, "a"), (2L, 2L, "b"))).write.parquet(dir)
    val v = s.sql(s"CONVERT TO TXLOG '$dir' STATS (k, v)")
      .collect().head.getLong(0)
    assert(v == 0L && TxLog.isLogged(s, dir))
    assert(TxLog.read(s, dir).count() == 2)
    // stats were recorded: a k-predicate prunes from the log
    val snap = TxLog.snapshot(s, dir)
    assert(snap.files.forall(_.stats.nonEmpty))
  }

  test("SQL CLONE: shallow with time travel registers a catalog name; deep copies bytes") {
    val s = spark
    import s.implicits._
    val src = tmp("r17cls").toString + "/t"
    TxLog.commitOverwrite(s, src, kvn(Seq((1L, 1L, "a"), (2L, 2L, "b"))))
    TxLog.commitAppend(s, src, kvn(Seq((3L, 3L, "c"))))
    // shallow clone of v0, registered under a name
    val tgt = tmp("r17cls").toString + "/clone0"
    s.sql(s"CREATE TABLE r17_clone SHALLOW CLONE '$src' " +
      s"VERSION AS OF 0 LOCATION '$tgt'")
    assert(s.table("r17_clone").count() == 2,
      "the v0 clone must see only the first commit's rows")
    // the clone evolves independently of the source
    s.sql("DELETE FROM r17_clone WHERE k = 1")
    assert(s.table("r17_clone").count() == 1)
    assert(TxLog.read(s, src).count() == 3, "source untouched")
    // deep clone by quoted path: self-contained files in the target
    val tgt2 = tmp("r17cld").toString + "/t"
    s.sql(s"CREATE TABLE '$tgt2' DEEP CLONE '$src'")
    assert(TxLog.read(s, tgt2).count() == 3)
    val copied = new java.io.File(tgt2).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_"))
    assert(copied.nonEmpty, "deep clone must copy data files")
    // a bare-name target without LOCATION refuses with the contract
    val e = intercept[Exception] {
      s.sql(s"CREATE TABLE r17_clone2 CLONE '$src'")
    }
    assert(e.getMessage.contains("LOCATION"), e.getMessage)
  }

  // ---- SQL REPLACE WHERE and writeStream.toTable ----------------------

  test("INSERT INTO t REPLACE WHERE replaces exactly the slice, atomically") {
    val s = spark
    import s.implicits._
    val dir = tmp("r17rw").toString + "/t"
    val rows = (0L until 20L).map(i => (i, i, s"old$i"))
    TxLog.commitOverwrite(s, dir, kvn(rows)
      .repartitionByRange(4, col("k")), statsCols = Seq("k"))
    s.sql(s"CREATE TABLE r17_rw USING txlog OPTIONS (path '$dir')")
    // replace the k >= 15 slice with three fresh rows, one commit
    s.sql("INSERT INTO r17_rw REPLACE WHERE k >= 15 " +
      "SELECT id + 15, id, 'new' || id FROM range(3)")
    val back = TxLog.read(s, dir).as[(Long, Long, String)]
      .collect().toSet
    val expect = rows.filter(_._1 < 15).toSet ++
      (0L until 3L).map(i => (i + 15, i, s"new$i")).toSet
    assert(back == expect)
    // exactly one commit for the whole swap
    assert(TxLog.history(s, dir).count() == 2)
    // rows OUTSIDE the predicate refuse before anything stages
    val e = intercept[Exception] {
      s.sql("INSERT INTO r17_rw REPLACE WHERE k >= 15 " +
        "SELECT id, id, 'x' FROM range(3)")
    }
    assert(e.getMessage.contains("NOT matching"), e.getMessage)
    assert(TxLog.read(s, dir).count() == 18, "refusal must not commit")
  }

  test("writeStream.toTable routes micro-batches into a registered txlog table") {
    val s = spark
    import s.implicits._
    val dir = tmp("r17wst").toString + "/t"
    TxLog.commitOverwrite(s, dir, Seq((1L, "a")).toDF("k", "name"))
    s.sql("DROP TABLE IF EXISTS r17_sink")
    s.sql(s"CREATE TABLE r17_sink USING txlog OPTIONS (path '$dir')")
    try {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext
      val mem = MemoryStream[(Long, String)]
      val q = mem.toDF().toDF("k", "name").writeStream
        .format("txlog")
        .option("checkpointLocation", dir + "_cp")
        .toTable("r17_sink")
      try {
        mem.addData((2L, "b"), (3L, "c"))
        q.processAllAvailable()
        assert(TxLog.read(s, dir).count() == 3,
          "micro-batch must append through the txlog sink")
        mem.addData((4L, "d"))
        q.processAllAvailable()
        assert(s.table("r17_sink").count() == 4)
        // the stream committed through the LOG (txn-marked appends),
        // not by dumping parquet around it
        val ops = TxLog.history(s, dir).select("op")
          .as[String].collect().toSeq
        assert(ops.count(_ == "append") >= 2, s"ops: $ops")
      } finally q.stop()
    } finally s.sql("DROP TABLE IF EXISTS r17_sink")
  }

  // ---- conflict guard under stats-less appends ------------------------

  private def interleave(body: => Unit): Unit =
    TxLog.testBeforeClaim.set(Some(() => body))

  test("a stats-less concurrent append no longer spuriously refuses DISJOINT predicate DML") {
    val s = spark
    import s.implicits._
    val dir = tmp("r17guard").toString + "/t"
    def rows(tag: String, ks: Range) =
      ks.map(i => (i.toLong, tag)).toDF("k", "tag")
    TxLog.commitOverwrite(s, dir, rows("base", 0 until 100),
      statsCols = Seq("k"))
    // the racer passes NO statsCols — the table tracks k, so the
    // append must record k min/max anyway (stats continuity); before
    // round 17 the fresh file had no stats and EVERY concurrent
    // predicate DML refused
    interleave { TxLog.commitAppend(s, dir, rows("racer", 500 until 520)) }
    TxLog.delete(s, dir, col("k") < 50) // disjoint → must commit
    assert(TxLog.read(s, dir).count() == 70,
      "the disjoint delete must commit past the stats-less racer")
    // genuine overlap still refuses — never a lost slice
    interleave { TxLog.commitAppend(s, dir, rows("racer2", 60 until 62)) }
    val e = intercept[java.util.ConcurrentModificationException] {
      TxLog.delete(s, dir, col("k") < 70)
    }
    assert(e.getMessage.contains("added by a concurrent commit"))
    // the retry sees the racer's rows and deletes both slices
    TxLog.delete(s, dir, col("k") < 70)
    assert(TxLog.read(s, dir).filter(col("k") < 70).count() == 0)
    assert(TxLog.read(s, dir).count() == 50, "500..519 + 70..99 remain")
  }

  // ---- SQL VACUUM reports from its own walk ---------------------------

  test("SQL VACUUM returns exactly the files its own walk deleted") {
    val s = spark
    val dir = tmp("r17vac").toString + "/t"
    TxLog.commitOverwrite(s, dir, kvn(Seq((1L, 1L, "a"), (2L, 2L, "b"))))
    TxLog.commitOverwrite(s, dir, kvn(Seq((3L, 3L, "c"))))
    val reported = s.sql(s"VACUUM '$dir'").collect()
      .map(r => (r.getString(0), r.getBoolean(1)))
    assert(reported.nonEmpty && reported.forall(_._2),
      "non-dry VACUUM rows must be flagged deleted")
    val f = new java.io.File(dir)
    val onDisk = f.listFiles().filter(x => x.isFile &&
      !x.getName.startsWith("_") && !x.getName.startsWith("."))
      .map(_.getName).toSet
    assert(reported.map(_._1).forall(p => !onDisk.contains(p)),
      "every reported path must actually be gone")
    // a second VACUUM finds nothing
    assert(s.sql(s"VACUUM '$dir'").collect().isEmpty)
    assert(TxLog.read(s, dir).count() == 1)
  }

  // ---- review fixes ---------------------------------------------------

  test("narrower mergeSchema append still works on a stats-tracked table") {
    val s = spark
    import s.implicits._
    val dir = tmp("r17narrow").toString + "/t"
    TxLog.commitOverwrite(s, dir,
      Seq((1L, "a", 10L)).toDF("id", "name", "score"),
      statsCols = Seq("score"))
    // the batch legitimately omits the tracked column; stats
    // inheritance must not demand it
    TxLog.commitAppend(s, dir, Seq((2L, "b")).toDF("id", "name"),
      mergeSchema = true)
    val out = TxLog.read(s, dir).orderBy("id")
      .collect().map(r => (r.getLong(0), r.isNullAt(2)))
    assert(out.toSeq == Seq((1L, false), (2L, true)))
    // and a later full-width batch resumes recording score stats
    TxLog.commitAppend(s, dir, Seq((3L, "c", 30L)).toDF("id", "name", "score"))
    assert(TxLog.snapshot(s, dir).files
      .exists(_.stats.keys.exists(_ == "score")))
  }

  test("subquery DELETE works on a GENERATED ALWAYS identity table") {
    val s = spark
    import s.implicits._
    val dir = tmp("r17sqid").toString + "/t"
    TxLog.commitOverwrite(s, dir, Seq(("a", 1L), ("b", 2L), ("c", 3L))
      .toDF("name", "v"),
      identity = Map("id" -> TxLog.IdentitySpec(1L, 1L)))
    s.sql("DROP TABLE IF EXISTS r17_sqid")
    s.sql(s"CREATE TABLE r17_sqid USING txlog OPTIONS (path " +
      s"'${dir.replace("'", "''")}')")
    try {
      Seq(1L, 3L).toDF("v").createOrReplaceTempView("r17_sqid_kill")
      // delete/update-only merges never supply identity values —
      // they must not trip the ALWAYS keyed-rewrite refusal
      s.sql("DELETE FROM r17_sqid WHERE v IN (SELECT v FROM r17_sqid_kill)")
      val out = TxLog.read(s, dir).select("name", "v")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(out == Set(("b", 2L)), s"survivors: $out")
    } finally {
      s.sql("DROP TABLE IF EXISTS r17_sqid")
      s.catalog.dropTempView("r17_sqid_kill")
    }
  }

  test("NOT IN over an EMPTY subquery result deletes NULL probe rows too") {
    val s = spark
    import s.implicits._
    val dir = tmp("r17notin").toString + "/t"
    TxLog.commitOverwrite(s, dir,
      Seq((Option(1L), "a"), (Option.empty[Long], "n")).toDF("k", "name"))
    s.sql("DROP TABLE IF EXISTS r17_notin")
    s.sql(s"CREATE TABLE r17_notin USING txlog OPTIONS (path " +
      s"'${dir.replace("'", "''")}')")
    try {
      Seq.empty[Long].toDF("k").createOrReplaceTempView("r17_notin_src")
      // x NOT IN (empty) is TRUE for every row, NULL x included
      s.sql("DELETE FROM r17_notin WHERE k NOT IN " +
        "(SELECT k FROM r17_notin_src)")
      assert(TxLog.read(s, dir).count() == 0,
        "NOT IN over an empty list must delete every row")
    } finally {
      s.sql("DROP TABLE IF EXISTS r17_notin")
      s.catalog.dropTempView("r17_notin_src")
    }
  }

  test("COPY INTO CSV with a header refuses files whose columns mismatch") {
    val s = spark
    import s.implicits._
    val srcDir = tmp("r17csvbad")
    // the file carries an id column the reader excludes (identity):
    // positional parsing would silently shift name into id's slot
    Files.write(srcDir.resolve("a.csv"),
      "id,name\n5,alice\n".getBytes("UTF-8"))
    val dir = tmp("r17csvbadt").toString + "/t"
    TxLog.commitOverwrite(s, dir, Seq(("seed", 0L)).toDF("name", "v"),
      identity = Map("id" -> TxLog.IdentitySpec(1L, 1L)))
    val e = intercept[Exception] {
      TxLog.copyInto(s, dir, srcDir.toString, format = "csv",
        pattern = Some("*.csv"), options = Map("header" -> "true"))
    }
    assert(e.getMessage.toLowerCase.contains("header") ||
      e.getMessage.toLowerCase.contains("schema") ||
      e.getMessage.toLowerCase.contains("csv"),
      s"mismatched CSV header must refuse loudly: ${e.getMessage}")
    assert(TxLog.read(s, dir).count() == 1, "nothing may land")
  }

  // ---- deterministic pagerank (the oracle-hashable twin) ------------

  test("pagerankDet agrees with pagerank to float tolerance and conserves mass") {
    val s = spark
    import s.implicits._
    import graft.operators.Graph
    // mixed shape: a cycle, a chain into a dangling sink, a self-loop
    val e = Seq(1L -> 2L, 2L -> 3L, 3L -> 1L, 1L -> 4L, 4L -> 5L,
      6L -> 6L, 7L -> 5L).toDF("src", "dst")
    val det = Graph.pagerankDet(e, "src", "dst", iters = 12)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ref = Graph.pagerank(e, "src", "dst", iters = 12)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(det.keySet == ref.keySet)
    det.foreach { case (n, v) =>
      assert(math.abs(v - ref(n)) < 1e-12, s"node $n: $v vs ${ref(n)}")
    }
    assert(math.abs(det.values.sum - 1.0) < 1e-9, "rank mass conserved")
    // bit-determinism: a re-run over a different partitioning is
    // IDENTICAL, not merely close
    val det2 = Graph.pagerankDet(e.repartition(7), "src", "dst",
      iters = 12).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(det2 == det, "pagerankDet must be bit-deterministic")
  }

  test("pagerankDet driver fast path is bit-identical to the " +
      "distributed iteration") {
    val s = spark
    import s.implicits._
    import graft.operators.Graph
    // mixed shape covering every fold: cycle, chain into a dangling
    // sink, self-loop, DUPLICATE edge (out-degree 2 to one target),
    // multiple dangling nodes spread across pmod buckets, and a
    // negative id (pmod of a negative node must match Spark's)
    val e = Seq(1L -> 2L, 2L -> 3L, 3L -> 1L, 1L -> 4L, 4L -> 5L,
      6L -> 6L, 7L -> 5L, 7L -> 5L, 8L -> 9L, -3L -> 1L, 2L -> 130L)
      .toDF("src", "dst")
    def bits(m: Map[Long, Double]): Map[Long, Long] =
      m.map { case (k, v) => k -> java.lang.Double.doubleToLongBits(v) }
    val fast = Graph.pagerankDet(e, "src", "dst", iters = 9,
      danglingBuckets = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val dist = TxLog.HeldBudget.withValue(0L)(
      Graph.pagerankDet(e, "src", "dst", iters = 9,
        danglingBuckets = 4)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap)
    assert(fast.keySet == dist.keySet,
      "fast path must emit exactly the distributed node set")
    assert(bits(fast) == bits(dist),
      "fast path must be BIT-identical to the distributed folds")
  }

  test("pagerankDet: the held budget picks the path at the edges'" +
      " measured bytes, and both paths give the same bits") {
    val s = spark
    import s.implicits._
    import graft.operators.Graph
    // one partition, so the budget's per-partition share is all of it
    val e = (Seq(1L -> 2L, 2L -> 3L, 3L -> 1L, 3L -> 4L, 5L -> 4L,
      -6L -> 5L, 6L -> 6L) ++ (10L until 40L).map(i => i -> (i * 3 % 41)))
      .toDF("src", "dst").coalesce(1)
    val iters = 6
    def run(budget: Long) = underBudget(budget, "pagerank-edges") {
      Graph.pagerankDet(e, "src", "dst", iters = iters, danglingBuckets = 4)
        .collect().map(r => r.getLong(0) ->
          java.lang.Double.doubleToLongBits(r.getDouble(1))).toMap
    }
    val b = measuredBytes(run(TxLog.HeldBudget.value)._2)
    val (driver, atBudget, driverJobs) = run(b)
    assert(atBudget.contains(": driver rows="), atBudget)
    // only the job that materializes the edges: no per-iteration job
    assert(driverJobs.size < iters, driverJobs)
    val (dist, overBudget, distJobs) = run(b - 1)
    assert(overBudget.contains(": distributed bytes="), overBudget)
    assert(distJobs.size >= iters, distJobs)
    assert(driver == dist, "both paths must give the same bits")
  }

  // ---- seeded PQ (the oracle-hashable flat-PQ plan) ------------------

  test("seeded PQ with rerank >= corpus degenerates to exact L2 top-k") {
    import org.apache.spark.sql.expressions.Window
    val s = spark
    val embs = Tables(s, sf, "embeddings")
    val v = embs.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
    val exact = v.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("e").as("qe"))
      .crossJoin(v.select(col("vec_id").as("cand_id"), col("e").as("ce")))
      .filter(col("cand_id") =!= col("query_id"))
      .withColumn("d2", expr("aggregate(zip_with(qe, ce, " +
        "(x, y) -> (x - y) * (x - y)), CAST(0 AS DOUBLE), " +
        "(acc, x) -> acc + x)"))
      .withColumn("rank", row_number().over(Window
        .partitionBy(col("query_id"))
        .orderBy(col("d2").asc, col("cand_id").asc)).cast("long"))
      .filter(col("rank") <= 3)
      .select("query_id", "cand_id", "rank").collect().toSet
    // a coarse 4-word codebook cannot rank exactly — but with the
    // rerank window covering the whole corpus, the exact-L2 refinement
    // must recover the true top-k regardless of quantization error
    val pq = graft.operators.Similarity.pqTopKSeeded(
      embs, "vec_id", "embedding", col("vec_id") < 5, k = 3,
      subspaces = 8, codebook = 4, rerank = 1000000)
      .select("query_id", "cand_id", "rank").collect().toSet
    assert(pq == exact, "full-rerank seeded PQ must equal exact L2 top-k")
    // and at the entry config it still returns k ranked rows per query
    val entry = graft.operators.Similarity.pqTopKSeeded(
      embs, "vec_id", "embedding", col("vec_id") < 5, k = 3,
      subspaces = 8, codebook = 8, rerank = 9)
    assert(entry.groupBy("query_id").count()
      .filter(col("count") =!= 3).count() == 0)
    // IVFADC composition: probing EVERY cell with a full-corpus rerank
    // window must also recover exact L2 top-k (quantization only ever
    // shapes the candidate order, never the reranked slice)
    val ivfpq = graft.operators.Similarity.ivfPqTopKSeeded(
      embs, "vec_id", "embedding", col("vec_id") < 5, k = 3,
      cells = 4, subspaces = 8, codebook = 4, nProbes = 4,
      rerank = 1000000)
      .select("query_id", "cand_id", "rank").collect().toSet
    assert(ivfpq == exact,
      "all-probes full-rerank seeded IVF-PQ must equal exact L2 top-k")
    // at a probing config it returns k ranked rows per query
    val probed = graft.operators.Similarity.ivfPqTopKSeeded(
      embs, "vec_id", "embedding", col("vec_id") < 5, k = 3,
      cells = 8, subspaces = 8, codebook = 8, nProbes = 6, rerank = 9)
    assert(probed.groupBy("query_id").count()
      .filter(col("count") =!= 3).count() == 0)
  }

  test("seeded SemDeDup with one cell equals the exact all-pairs decision") {
    val s = spark
    val embs = Tables(s, sf, "embeddings")
    val tau = 0.4
    val sd = graft.operators.Similarity.semDedupSeeded(
      embs, "vec_id", "embedding", tau = tau, cells = 1)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    // exact decision: components over ALL cosine->=tau pairs, min-id
    // representative kept
    val pairs = graft.operators.Similarity.embeddingPairs(
      embs, "vec_id", "embedding", tau = tau)
      .select(col("id_a"), col("id_b"))
    val losers = graft.operators.Dedup.components(pairs, "id_a", "id_b")
      .filter(col("node") =!= col("component"))
      .select("node").collect().map(_.getLong(0)).toSet
    assert(sd.nonEmpty && sd.forall { case (id, keep) =>
      keep == (if (losers.contains(id)) 0 else 1)
    }, "one-cell seeded SemDeDup must equal the exact all-pairs decision")
  }

  test("TRUNCATE TABLE on a registered txlog table commits through the log") {
    val s = spark
    import s.implicits._
    val dir = tmp("r17trunc").toString + "/t"
    s.sql("DROP TABLE IF EXISTS r17_trunc")
    Seq((1L, "a"), (2L, "b")).toDF("k", "name")
      .write.format("txlog").option("path", dir).saveAsTable("r17_trunc")
    try {
      s.sql("TRUNCATE TABLE r17_trunc")
      assert(TxLog.read(s, dir).count() == 0, "truncate empties the table")
      assert(TxLog.isLogged(s, dir), "the log must survive TRUNCATE")
      assert(TxLog.snapshot(s, dir).version == 1L,
        "TRUNCATE must be one log commit, not a directory wipe")
      // history is intact: time travel still reads the pre-truncate rows
      assert(s.sql("SELECT count(*) FROM r17_trunc VERSION AS OF 0")
        .as[Long].head() == 2L)
    } finally s.sql("DROP TABLE IF EXISTS r17_trunc")
  }

  // ---- COPY INTO ------------------------------------------------------

  test("COPY INTO: idempotent per-file ingest, new-file pickup, FORCE") {
    val s = spark
    import s.implicits._
    val srcDir = tmp("r17copysrc").toString
    val srcQ = srcDir.replace("'", "''")
    val dir = tmp("r17copy").toString + "/t"
    val dirQ = dir.replace("'", "''")
    Seq((1L, "a")).toDF("k", "name").coalesce(1)
      .write.parquet(srcDir + "/b1")
    Seq((2L, "b")).toDF("k", "name").coalesce(1)
      .write.parquet(srcDir + "/b2")
    TxLog.commitOverwrite(s, dir, Seq.empty[(Long, String)].toDF("k", "name"))
    def copy(extra: String = ""): (Long, Long, Long) = {
      val r = s.sql(s"COPY INTO '$dirQ' FROM '$srcQ' FILEFORMAT = " +
        s"PARQUET PATTERN = 'b*/part*'$extra").head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val (l1, s1, r1) = copy()
    assert(l1 == 2L && s1 == 0L && r1 == 2L, s"first run: $l1/$s1/$r1")
    assert(TxLog.read(s, dir).count() == 2)
    // rerun is a no-op: every file carries a marker
    val (l2, s2, r2) = copy()
    assert(l2 == 0L && s2 == 2L && r2 == 0L, s"rerun: $l2/$s2/$r2")
    assert(TxLog.read(s, dir).count() == 2)
    // a NEW file loads alone
    Seq((3L, "c")).toDF("k", "name").coalesce(1)
      .write.parquet(srcDir + "/b3")
    val (l3, s3, r3) = copy()
    assert(l3 == 1L && s3 == 2L && r3 == 1L, s"pickup: $l3/$s3/$r3")
    assert(TxLog.read(s, dir).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    // FORCE reloads everything (duplicates by design)
    val (l4, _, r4) = copy(" FORCE")
    assert(l4 == 3L && r4 == 3L, s"force: $l4/$r4")
    assert(TxLog.read(s, dir).count() == 6)
    // near-miss raises the graft grammar, not Spark's parser error
    val e = intercept[IllegalArgumentException] {
      s.sql(s"COPY INTO '$dirQ' FROM '$srcQ'")
    }
    assert(e.getMessage.contains("FILEFORMAT"), e.getMessage)
  }

  test("COPY INTO: CSV parses under the table's declared types") {
    val s = spark
    import s.implicits._
    val srcDir = tmp("r17copycsv")
    Files.write(srcDir.resolve("a.csv"),
      "k,name\n10,x\n11,y\n".getBytes("UTF-8"))
    val dir = tmp("r17copyt").toString + "/t"
    TxLog.commitOverwrite(s, dir, Seq.empty[(Long, String)].toDF("k", "name"))
    val r = s.sql(s"COPY INTO '${dir.replace("'", "''")}' FROM " +
      s"'${srcDir.toString.replace("'", "''")}' FILEFORMAT = CSV " +
      "PATTERN = '*.csv' FORMAT_OPTIONS ('header' = 'true')").head()
    assert(r.getLong(0) == 1L && r.getLong(2) == 2L)
    val out = TxLog.read(s, dir).as[(Long, String)].collect().toSet
    assert(out == Set((10L, "x"), (11L, "y")),
      s"CSV must parse as BIGINT/STRING: $out")
  }

  test("COPY INTO: a concurrent copy of the same files refuses, rerun completes") {
    val s = spark
    import s.implicits._
    val srcDir = tmp("r17copyc").toString
    val dir = tmp("r17copyct").toString + "/t"
    Seq((1L, "a")).toDF("k", "name").coalesce(1)
      .write.parquet(srcDir + "/b1")
    TxLog.commitOverwrite(s, dir, Seq.empty[(Long, String)].toDF("k", "name"))
    // racer ingests the same file between this copy's read and claim
    TxLog.testBeforeClaim.set(Some(() => {
      TxLog.copyInto(s, dir, srcDir, pattern = Some("b*/part*")); ()
    }))
    intercept[java.util.ConcurrentModificationException] {
      TxLog.copyInto(s, dir, srcDir, pattern = Some("b*/part*"))
    }
    // no duplicate landed; a rerun finds nothing fresh
    assert(TxLog.read(s, dir).count() == 1)
    val again = TxLog.copyInto(s, dir, srcDir, pattern = Some("b*/part*"))
    assert(again.filesLoaded == 0L && again.filesSkipped == 1L)
  }

  // ---- inline column specs in CREATE TABLE ---------------------------

  test("inline IDENTITY/GENERATED/DEFAULT in CREATE TABLE: SQL-only lifecycle") {
    val s = spark
    import s.implicits._
    val dir = tmp("r17inline").toString + "/t"
    val dirQ = dir.replace("'", "''")
    s.sql("DROP TABLE IF EXISTS r17_inline")
    s.sql(s"""CREATE TABLE r17_inline (
      id BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 100 INCREMENT BY 10),
      name STRING,
      v BIGINT DEFAULT 7,
      v2 BIGINT GENERATED ALWAYS AS (v * 2)
    ) USING txlog LOCATION '$dirQ'""")
    try {
      // CREATE alone initialized version 0 carrying every spec, in
      // the DECLARED column order
      assert(TxLog.isLogged(s, dir), "CREATE must initialize the log")
      val snap = TxLog.snapshot(s, dir)
      val schema = org.apache.spark.sql.types.DataType
        .fromJson(snap.schemaJson)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      assert(schema.fieldNames.toSeq == Seq("id", "name", "v", "v2"),
        s"declared order must hold: ${schema.fieldNames.mkString(",")}")
      val idSpec = snap.identity("id")
      assert(idSpec.start == 100L && idSpec.step == 10L && idSpec.always)
      assert(snap.generated("v2") == "v * 2")
      assert(snap.defaults("v") == "7")
      // CTAS-free SQL-only appends: identity generates, the omitted
      // DEFAULT column fills, the generated column computes
      s.sql("INSERT INTO r17_inline (name) VALUES ('a'), ('b')")
      s.sql("INSERT INTO r17_inline (name, v) VALUES ('c', 3)")
      val out = s.sql(
        "SELECT id, name, v, v2 FROM r17_inline ORDER BY name")
        .collect().map(r => (r.getLong(0), r.getString(1),
          r.getLong(2), r.getLong(3)))
      assert(out.map(_._2).toSeq == Seq("a", "b", "c"))
      assert(out.map(_._1).distinct.length == 3 &&
        out.map(_._1).forall(i => i >= 100L && (i - 100L) % 10L == 0L),
        s"identity ids from the declared sequence: ${out.mkString(",")}")
      assert(out.filter(_._2 != "c").forall(_._3 == 7L),
        "omitted DEFAULT column must fill with 7")
      assert(out.find(_._2 == "c").get._3 == 3L,
        "supplied value must win over the DEFAULT")
      assert(out.forall(r => r._4 == r._3 * 2),
        "generated column must compute from the expression")
      // supplying a real value to the ALWAYS identity column refuses
      val e = intercept[Exception] {
        s.sql("INSERT INTO r17_inline (id, name) VALUES (1, 'x')")
      }
      assert(e.getMessage.contains("IDENTITY") ||
        e.getMessage.contains("identity"))
    } finally s.sql("DROP TABLE IF EXISTS r17_inline")
  }

  test("inline BY DEFAULT identity: explicit values flow, omission generates") {
    val s = spark
    import s.implicits._
    val dir = tmp("r17bydef").toString + "/t"
    s.sql("DROP TABLE IF EXISTS r17_bydef")
    s.sql(s"""CREATE TABLE r17_bydef (
      id BIGINT GENERATED BY DEFAULT AS IDENTITY,
      name STRING
    ) USING txlog LOCATION '${dir.replace("'", "''")}'""")
    try {
      val spec = TxLog.snapshot(s, dir).identity("id")
      assert(!spec.always && spec.start == 1L && spec.step == 1L)
      s.sql("INSERT INTO r17_bydef (id, name) VALUES (100, 'x')")
      s.sql("INSERT INTO r17_bydef (name) VALUES ('y')")
      val out = s.sql("SELECT id, name FROM r17_bydef ORDER BY name")
        .collect().map(r => (r.getLong(0), r.getString(1)))
      assert(out(0) == ((100L, "x")), "explicit value must flow")
      assert(out(1)._1 > 100L,
        s"generated id must move past the absorbed watermark: ${out(1)}")
    } finally s.sql("DROP TABLE IF EXISTS r17_bydef")
  }

  test("inline IDENTITY/GENERATED refuse on non-txlog providers") {
    val s = spark
    s.sql("DROP TABLE IF EXISTS r17_plainid")
    val dir = tmp("r17plain").toString + "/t"
    val e = intercept[Exception] {
      s.sql(s"CREATE TABLE r17_plainid (id BIGINT GENERATED ALWAYS " +
        s"AS IDENTITY, v BIGINT) USING parquet LOCATION '$dir'")
    }
    // Spark's own analyzer refuses the v1-provider path before the
    // catalog sees it; the catalog's own require backstops any
    // provider that slips through to createTable
    assert(e.getMessage.contains("does not support identity") ||
      e.getMessage.contains("txlog"),
      s"non-txlog identity create must refuse loudly: ${e.getMessage}")
  }
}
