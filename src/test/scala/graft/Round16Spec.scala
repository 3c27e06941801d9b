package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.TxLog

/** Round-16 hardening: hive-unescape of path-recovered partition
  * values, the DataFrameWriter ErrorIfExists/Ignore contract over
  * pre-existing PLAIN data, the `_graft_upd` reserved-name guard,
  * and restore carrying the target snapshot's column metadata
  * (generated / defaults / identity / constraints) explicitly.
  */
class Round16Spec extends SparkSpec {

  private def tmp(prefix: String): Path =
    Files.createTempDirectory(prefix)

  private def payload(n: Int, tag: String): DataFrame = {
    val s = spark
    import s.implicits._
    (0 until n).map(i => (i.toLong, i.toLong * 2, s"$tag$i"))
      .toDF("k", "v", "name")
  }

  // ---- hive-escaped partition values round-trip ---------------------

  test("convertInPlace recovers hive-escaped partition values (':' and '/')") {
    val s = spark
    import s.implicits._
    val dir = tmp("r16hive").toString + "/t"
    // ':' and '/' are both hive-escaped to %XX in the dir name;
    // a space is NOT (the round-15 test's blind spot)
    val df = Seq(
      (1L, "00:00:00"), (2L, "00:00:00"),
      (3L, "a/b"), (4L, "plain"), (5L, "has space"))
      .toDF("k", "part")
    df.write.partitionBy("part").parquet(dir)
    TxLog.convertInPlace(s, dir, statsCols = Seq("k"))
    val back = TxLog.read(s, dir)
    // values must read back DECODED — registration stats recorded the
    // true values, so an escaped read-back would prune right but
    // return zero rows (or NULLs) silently
    assert(back.select("part").distinct().as[String].collect().toSet ==
      Set("00:00:00", "a/b", "plain", "has space"))
    assert(back.filter(col("part") === "00:00:00")
      .select("k").as[Long].collect().toSet == Set(1L, 2L))
    assert(back.filter(col("part") === "a/b")
      .select("k").as[Long].collect().toSet == Set(3L))
    // and the escaped-value partitions actually PRUNE from the log
    val snap = TxLog.snapshot(s, dir)
    val kept = TxLog.prunedSnapshotFiles(s, snap,
      Seq(("part", Some("00:00:00"), Some("00:00:00"))))
    assert(kept.nonEmpty && kept.size < snap.files.size,
      s"partition predicate kept ${kept.size} of ${snap.files.size}")
  }

  /** A hive tree of `dirs` top-level `part=` directories, one data
    * file each: one hive-escaped value (`a:b`), one with a space, the
    * rest plain. Spark's own write leaves `_SUCCESS` and `.crc` files;
    * a top-level and a nested `_tmp` directory each hold a copy of a
    * data file that must never register. */
  private def convertTree(dirs: Int): String = {
    val s = spark
    import s.implicits._
    val root = tmp("r16walk").toString + "/t"
    val values = Seq("a:b", "has space") ++ (2 until dirs).map(i => f"p$i%02d")
    values.zipWithIndex
      .flatMap { case (v, i) => Seq((i * 10L, v), (i * 10L + 7, v)) }
      .toDF("k", "part").repartition(1)
      .write.partitionBy("part").parquet(root)
    val base = java.nio.file.Paths.get(root)
    val aFile = Files.list(base.resolve("part=p02")).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    for (junk <- Seq(base.resolve("_tmp"), base.resolve("part=p02/_tmp"))) {
      Files.createDirectories(junk)
      Files.copy(aFile, junk.resolve("leftover.parquet"))
    }
    root
  }

  /** Register the tree and check it against an independent listing:
    * every non-hidden file (java.nio walk) registers with its bytes,
    * its row count, and k/part stats read from the file itself; the
    * logged read returns what Spark's own parquet read returns.
    * Returns the job descriptions the convert launched. */
  private def convertAndCheck(root: String): Seq[String] = {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    val base = java.nio.file.Paths.get(root)
    val onDisk = Files.walk(base).iterator().asScala
      .filter(Files.isRegularFile(_)).map(base.relativize(_))
      .filterNot(_.iterator().asScala.map(_.toString)
        .exists(sg => sg.startsWith("_") || sg.startsWith(".")))
      .map(rel => rel.toString -> Files.size(base.resolve(rel))).toMap
    val (_, jobs) = jobDescriptions(
      TxLog.convertInPlace(s, root, statsCols = Seq("k")))
    val snap = TxLog.snapshot(s, root)
    assert(snap.partitionCols == Seq("part"))
    assert(snap.files.map(_.path).sorted == onDisk.keys.toSeq.sorted)
    snap.files.foreach { f =>
      val ks = s.read.parquet(base.resolve(f.path).toString)
        .select($"k").as[Long].collect()
      val value = ExternalCatalogUtils.unescapePathName(
        f.path.split('/').head.stripPrefix("part="))
      assert(f.bytes.contains(onDisk(f.path)), f.path)
      assert(f.rows == ks.length, f.path)
      assert(f.stats("k").min.contains(ks.min.toString) &&
        f.stats("k").max.contains(ks.max.toString), f.path)
      assert(f.stats("part").min.contains(value) &&
        f.stats("part").max.contains(value), f.path)
    }
    def rowsOf(df: DataFrame) =
      df.select($"k", $"part").as[(Long, String)].collect().sorted.toSeq
    assert(rowsOf(TxLog.read(s, root)) == rowsOf(s.read.parquet(root)))
    jobs
  }

  test("convertInPlace: the distributed and the driver listing register every non-hidden file") {
    import org.apache.commons.io.FileUtils
    // 65 top-level directories take the distributed walk, 3 the driver
    // walk; a data file at the root makes the layout ragged, so both
    // walks must see it and refuse
    for ((dirs, distributed) <- Seq((65, true), (3, false))) {
      val root = convertTree(dirs)
      val stray = java.nio.file.Paths.get(root, "stray.parquet")
      Files.copy(java.nio.file.Paths.get(root, "_tmp", "leftover.parquet"),
        stray)
      val e = intercept[IllegalArgumentException] {
        TxLog.convertInPlace(spark, root, statsCols = Seq("k"))
      }
      assert(e.getMessage.contains("inconsistent partition layout"),
        e.getMessage)
      assert(!TxLog.isLogged(spark, root))
      Files.delete(stray)
      val jobs = convertAndCheck(root)
      assert(jobs.contains("txlog:convert-list") == distributed,
        s"$dirs dirs: $jobs")
      FileUtils.deleteDirectory(new java.io.File(root).getParentFile)
    }
  }

  // ---- ErrorIfExists / Ignore over plain pre-existing data ----------

  test("ErrorIfExists refuses and Ignore no-ops on an existing PLAIN dataset") {
    val s = spark
    val dir = tmp("r16eie").toString + "/t"
    payload(4, "keep").write.parquet(dir)
    val e = intercept[IllegalArgumentException] {
      payload(2, "clobber").write.format("txlog").save(dir)
    }
    assert(e.getMessage.contains("already exists"))
    assert(!TxLog.isLogged(s, dir),
      "a refused ErrorIfExists must not have converted the dir")
    payload(2, "clobber").write.format("txlog")
      .mode("ignore").save(dir)
    assert(!TxLog.isLogged(s, dir), "Ignore must be a true no-op")
    assert(s.read.parquet(dir).count() == 4,
      "the plain dataset must survive untouched")
    // an EMPTY dir still creates under ErrorIfExists
    val fresh = tmp("r16eie2").toString + "/t"
    payload(3, "new").write.format("txlog").save(fresh)
    assert(TxLog.read(s, fresh).count() == 3)
  }

  // ---- reserved-name guard ------------------------------------------

  test("UPDATE refuses a table column named _graft_upd instead of clobbering it") {
    val s = spark
    import s.implicits._
    val dir = tmp("r16upd").toString + "/t"
    TxLog.commitOverwrite(s, dir,
      Seq((1L, true), (2L, false)).toDF("k", "_graft_upd"))
    val e = intercept[IllegalArgumentException] {
      TxLog.update(s, dir, col("k") === 1L, Map("k" -> lit(9L)))
    }
    assert(e.getMessage.contains("_graft_upd"))
  }

  // ---- restore resets column metadata to the target version ---------

  test("restore past a generated-column declaration drops the phantom expression") {
    val s = spark
    val dir = tmp("r16rg").toString + "/t"
    TxLog.commitOverwrite(s, dir, payload(4, "a"))
    val v0 = TxLog.snapshot(s, dir).version
    // widen the schema AND declare the new column generated — the
    // state the ADVICE poison needs: a generation expression for a
    // column the restored schema will not have
    TxLog.commitOverwrite(s, dir,
      payload(4, "a").withColumn("v2", col("v") * 2),
      generated = Map("v2" -> "v * 2"))
    assert(TxLog.snapshot(s, dir).generated.contains("v2"))
    TxLog.restore(s, dir, v0)
    val snap = TxLog.snapshot(s, dir)
    assert(snap.generated.isEmpty,
      "restore must reset generated columns to the target version's")
    // the poison the sticky state caused: every later append computed
    // the phantom column and failed the schema check
    TxLog.commitAppend(s, dir, payload(2, "b"))
    assert(TxLog.read(s, dir).count() == 6)
  }

  test("restore resets defaults and constraints to the target version's") {
    val s = spark
    val dir = tmp("r16rd").toString + "/t"
    TxLog.commitOverwrite(s, dir, payload(4, "a"))
    val v0 = TxLog.snapshot(s, dir).version
    TxLog.setDefault(s, dir, "v", "42")
    TxLog.addCheckConstraint(s, dir, "pos", "k >= 0")
    TxLog.restore(s, dir, v0)
    val snap = TxLog.snapshot(s, dir)
    assert(snap.defaults.isEmpty && snap.constraints.isEmpty,
      "restore must carry the target version's (empty) metadata maps")
    // and the other direction: restoring back FORWARD re-carries them
    TxLog.setDefault(s, dir, "v", "42")
    val vWith = TxLog.snapshot(s, dir).version
    TxLog.restore(s, dir, v0)
    TxLog.restore(s, dir, vWith)
    assert(TxLog.snapshot(s, dir).defaults == Map("v" -> "42"))
  }

  // ---- batch-source pruning: In / Or / IsNull ----------------------

  test("batch source prunes files on IN, OR and IS NULL predicates") {
    val s = spark
    import s.implicits._
    val dir = tmp("r16prune").toString + "/t"
    // 8 range-partitioned files over k = 0..799, nulls only in the
    // low file's `opt` column
    val df = (0 until 800).map { i =>
      (i.toLong, if (i < 100) None else Some(i.toLong), s"n$i")
    }.toDF("k", "opt", "name")
    TxLog.commitOverwrite(s, dir,
      df.repartitionByRange(8, col("k")), statsCols = Seq("k", "opt"))
    val total = TxLog.snapshot(s, dir).files.size
    assert(total == 8)
    def planned(q: org.apache.spark.sql.DataFrame): Int = {
      q.collect(); graft.sources.TxLogBatch.lastScan.get().size
    }
    val t = s.read.format("txlog").load(dir)
    // IN-list: hull [5, 205] spans ~2-3 of 8 files
    val inRows = t.filter(col("k").isin(5L, 7L, 205L))
    assert(inRows.count() == 3)
    val inPlanned = planned(t.filter(col("k").isin(5L, 7L, 205L)))
    assert(inPlanned < total,
      s"IN failed to prune: planned $inPlanned of $total")
    // OR of two ranges on one column: hull of the legs
    val orPlanned = planned(t.filter(
      (col("k") >= 10L && col("k") < 20L) ||
        (col("k") >= 110L && col("k") < 120L)))
    assert(orPlanned < total,
      s"OR failed to prune: planned $orPlanned of $total")
    assert(t.filter((col("k") >= 10L && col("k") < 20L) ||
      (col("k") >= 110L && col("k") < 120L)).count() == 20)
    // IS NULL: only the low file records nulls on `opt`
    val nullPlanned = planned(t.filter(col("opt").isNull))
    assert(nullPlanned < total,
      s"IS NULL failed to prune: planned $nullPlanned of $total")
    assert(t.filter(col("opt").isNull).count() == 100)
    // row-exactness survives every pruning shape (results above) and
    // a mixed conjunct still prunes on both channels
    val mixed = t.filter(col("opt").isNull && col("k").isin(5L, 700L))
    assert(mixed.count() == 1)
  }

  // ---- SQL row-level DML --------------------------------------------

  test("SQL DELETE, UPDATE and MERGE INTO drive the same commit machinery") {
    val s = spark
    import s.implicits._
    val dir = tmp("r16sql").toString + "/t"
    TxLog.commitOverwrite(s, dir,
      Seq((1L, 10L, "a"), (2L, 20L, "b"), (3L, 30L, "c"), (4L, 40L, "d"))
        .toDF("k", "v", "name"), statsCols = Seq("k"))
    s.sql("DROP TABLE IF EXISTS r16_sql")
    s.sql(s"CREATE TABLE r16_sql USING txlog OPTIONS (path '$dir')")
    try {
      // DELETE with a predicate v1 filters cannot express (modulo) —
      // only the extension rule can lower this
      s.sql("DELETE FROM r16_sql WHERE k % 2 = 1")
      assert(TxLog.read(s, dir).select("k").as[Long].collect().toSet ==
        Set(2L, 4L))
      assert(TxLog.snapshot(s, dir).version == 1L,
        "SQL DELETE must be ONE log commit")
      // UPDATE with expression over the row
      s.sql("UPDATE r16_sql SET v = v + 1, name = concat(name, '!') " +
        "WHERE k = 2")
      assert(TxLog.read(s, dir).filter(col("k") === 2L)
        .select("v", "name").as[(Long, String)].head() == (21L, "b!"))
      // MERGE: update + insert through the SQL statement
      Seq((2L, 200L, "up"), (9L, 900L, "new")).toDF("k", "v", "name")
        .createOrReplaceTempView("r16_src")
      s.sql("""MERGE INTO r16_sql t USING r16_src s ON t.k = s.k
               WHEN MATCHED THEN UPDATE SET v = s.v
               WHEN NOT MATCHED THEN INSERT *""")
      val out = TxLog.read(s, dir).orderBy("k")
        .as[(Long, Long, String)].collect().toSeq
      assert(out == Seq((2L, 200L, "b!"), (4L, 40L, "d"),
        (9L, 900L, "new")), s"SQL merge diverged: $out")
      assert(TxLog.snapshot(s, dir).version == 3L,
        "DELETE+UPDATE+MERGE = exactly three commits")
      // the SQL path hits the same CDC layer: the merge commit's ops
      val hist = TxLog.history(s, dir).orderBy("version")
        .select("op").as[String].collect().toSeq
      assert(hist == Seq("overwrite", "delete", "update", "merge"),
        s"ops diverged: $hist")
      // and SQL reads see it all (same snapshot core)
      assert(s.sql("SELECT sum(v) FROM r16_sql").as[Long].head() ==
        200L + 40L + 900L)
    } finally s.sql("DROP TABLE IF EXISTS r16_sql")
  }

  test("SQL MERGE with MATCHED DELETE and NOT MATCHED BY SOURCE") {
    val s = spark
    import s.implicits._
    val dir = tmp("r16sqm").toString + "/t"
    TxLog.commitOverwrite(s, dir,
      Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "v"))
    s.sql("DROP TABLE IF EXISTS r16_sqlm")
    s.sql(s"CREATE TABLE r16_sqlm USING txlog OPTIONS (path '$dir')")
    try {
      Seq((1L, -1L), (2L, 22L), (8L, 80L)).toDF("k", "v")
        .createOrReplaceTempView("r16_msrc")
      s.sql("""MERGE INTO r16_sqlm t USING r16_msrc s ON t.k = s.k
               WHEN MATCHED AND s.v < 0 THEN DELETE
               WHEN MATCHED THEN UPDATE SET *
               WHEN NOT MATCHED AND s.v > 0 THEN INSERT (k, v)
                 VALUES (s.k, s.v)
               WHEN NOT MATCHED BY SOURCE THEN DELETE""")
      val out = TxLog.read(s, dir).orderBy("k")
        .as[(Long, Long)].collect().toSeq
      // k=1 deleted (v<0); k=2 updated; k=3 not-matched-by-source
      // deleted; k=8 inserted
      assert(out == Seq((2L, 22L), (8L, 80L)),
        s"full-clause SQL merge diverged: $out")
    } finally s.sql("DROP TABLE IF EXISTS r16_sqlm")
  }

  // ---- seeded IVF ----------------------------------------------------

  test("seeded IVF with one cell degenerates to exact brute-force top-k") {
    val s = spark
    val embs = Tables(s, sf, "embeddings")
    val exact = graft.operators.Similarity.bruteforceTopK(
      embs, "vec_id", "embedding", col("vec_id") < 5, k = 3)
      .select("query_id", "cand_id", "rank").collect().toSet
    val ivf = graft.operators.Similarity.ivfTopKSeeded(
      embs, "vec_id", "embedding", col("vec_id") < 5, k = 3,
      cells = 1, nProbes = 1)
      .select("query_id", "cand_id", "rank").collect().toSet
    assert(ivf == exact, "one-cell IVF must equal the exact answer")
    // and with real cells it still returns k ranked rows per query
    val multi = graft.operators.Similarity.ivfTopKSeeded(
      embs, "vec_id", "embedding", col("vec_id") < 5, k = 3,
      cells = 8, nProbes = 2)
    assert(multi.groupBy("query_id").count()
      .filter(col("count") =!= 3).count() == 0)
  }

  // ---- concurrent-writer contracts -----------------------------------

  private def interleave(body: => Unit): Unit =
    TxLog.testBeforeClaim.set(Some(() => body))

  test("replaceWhere conflicts with a concurrently appended matching slice") {
    val s = spark
    import s.implicits._
    val dir = tmp("r16rw1").toString + "/t"
    def rows(tag: String, ks: Range) =
      ks.map(i => (i.toLong, tag)).toDF("k", "tag")
    TxLog.commitOverwrite(s, dir, rows("base", 0 until 100),
      statsCols = Seq("k"))
    // racer appends rows INSIDE the replaced envelope between the
    // replaceWhere's read and its claim → serial order (append →
    // replace) would have replaced them too; committing would double
    // the slice. Must refuse.
    interleave { TxLog.commitAppend(s, dir, rows("racer", 10 until 20),
      statsCols = Seq("k")) }
    val e = intercept[java.util.ConcurrentModificationException] {
      TxLog.replaceWhere(s, dir, rows("repl", 0 until 50),
        col("k") < 50, statsCols = Seq("k"))
    }
    assert(e.getMessage.contains("added by a concurrent commit"))
    // no lost state: base + racer rows all present, nothing replaced
    assert(TxLog.read(s, dir).count() == 110)
    // retry now SEES the racer's rows and succeeds, replacing both
    TxLog.replaceWhere(s, dir, rows("repl", 0 until 50),
      col("k") < 50, statsCols = Seq("k"))
    val out = TxLog.read(s, dir).groupBy("tag").count()
      .as[(String, Long)].collect().toMap
    assert(out == Map("repl" -> 50L, "base" -> 50L), s"diverged: $out")
  }

  test("replaceWhere ignores a concurrently appended DISJOINT slice") {
    val s = spark
    import s.implicits._
    val dir = tmp("r16rw2").toString + "/t"
    def rows(tag: String, ks: Range) =
      ks.map(i => (i.toLong, tag)).toDF("k", "tag")
    TxLog.commitOverwrite(s, dir, rows("base", 0 until 100),
      statsCols = Seq("k"))
    // racer outside the envelope: stats prove disjointness → no
    // false conflict, the replace rebases and commits
    interleave { TxLog.commitAppend(s, dir,
      rows("racer", 500 until 520), statsCols = Seq("k")) }
    TxLog.replaceWhere(s, dir, rows("repl", 0 until 50),
      col("k") < 50, statsCols = Seq("k"))
    val out = TxLog.read(s, dir).groupBy("tag").count()
      .as[(String, Long)].collect().toMap
    assert(out == Map("repl" -> 50L, "base" -> 50L, "racer" -> 20L))
  }

  test("DELETE and MERGE conflict with concurrently appended matching rows") {
    val s = spark
    import s.implicits._
    val dir = tmp("r16dg").toString + "/t"
    def rows(ks: Range) = ks.map(i => (i.toLong, i.toLong)).toDF("k", "v")
    TxLog.commitOverwrite(s, dir, rows(0 until 100),
      statsCols = Seq("k"))
    interleave { TxLog.commitAppend(s, dir, rows(10 until 12),
      statsCols = Seq("k")) }
    intercept[java.util.ConcurrentModificationException] {
      TxLog.delete(s, dir, col("k") < 50)
    }
    // keyed merge: racer inside the key envelope
    interleave { TxLog.commitAppend(s, dir, rows(200 until 202),
      statsCols = Seq("k")) }
    intercept[java.util.ConcurrentModificationException] {
      TxLog.merge(s, dir, rows(199 until 203), Seq("k"))
    }
    // and a disjoint racer does NOT conflict the delete
    interleave { TxLog.commitAppend(s, dir, rows(900 until 902),
      statsCols = Seq("k")) }
    TxLog.delete(s, dir, col("k") < 50)
    assert(TxLog.read(s, dir).filter(col("k") < 50).count() == 0)

    // keyed applies, copy-on-write and merge-on-read, carry the same
    // key-envelope guard: a racer appending a directive key would be
    // duplicated (or a deleted row resurrected) by the commit
    def dataFiles(): Set[String] = {
      def walk(f: java.io.File): Seq[String] =
        if (f.getName == TxLog.LogDir) Nil
        else if (f.isDirectory) f.listFiles.toSeq.flatMap(walk)
        else Seq(f.getPath).filter(_.endsWith(".parquet"))
      walk(new java.io.File(dir)).toSet
    }
    def livePaths() = TxLog.snapshot(s, dir).files
      .map(f => new java.io.File(dir, f.path).getPath).toSet
    def directives(upd: Range, del: Int, ins: Int) =
      rows(upd).withColumn("v", -col("v")).withColumn("del", lit(false))
        .unionByName(rows(del to del).withColumn("del", lit(true)))
        .unionByName(rows(ins to ins).withColumn("del", lit(false)))
    Seq[(String, Int, DataFrame => Long)](
      ("applyChanges", 60,
        d => TxLog.applyChanges(s, dir, d, Seq("k"), "del")),
      ("applyChangesMor", 80,
        d => TxLog.applyChangesMor(s, dir, d, Seq("k"), "del"))
    ).foreach { case (name, lo, apply) =>
      val ins = lo * 5
      val d = directives(lo until lo + 2, lo + 5, ins)
      val (files0, live0) = (dataFiles(), livePaths())
      interleave { TxLog.commitAppend(s, dir, rows(ins until ins + 1),
        statsCols = Seq("k")) }
      intercept[java.util.ConcurrentModificationException](apply(d))
      // nothing staged survives the refusal: no image, rewrite or vector
      val racer = livePaths() -- live0
      assert(racer.size == 1, s"$name: $racer")
      assert(dataFiles() == files0 ++ racer, s"$name left files behind")
      assert(TxLog.read(s, dir).filter(col("k") === lo && col("v") < 0)
        .count() == 0, name)
      // a disjoint racer commutes: the retry commits over it
      interleave { TxLog.commitAppend(s, dir,
        rows(ins + 1000 until ins + 1001), statsCols = Seq("k")) }
      apply(d)
      val out = TxLog.read(s, dir)
      assert(out.filter(col("k") === ins).count() == 1, name)
      assert(out.filter(col("k") === lo + 5).count() == 0, name)
      assert(out.filter(col("k") === lo).select("v").as[Long].head() == -lo,
        name)
      assert(out.filter(col("k") === ins + 1000).count() == 1, name)
    }
  }

  test("replaceWhere vs scoped OPTIMIZE on overlapping envelopes: loser refuses, no lost slice") {
    val s = spark
    import s.implicits._
    val dir = tmp("r16rc").toString + "/t"
    def rows(tag: String, ks: Range) =
      ks.map(i => (i.toLong, tag)).toDF("k", "tag")
    TxLog.commitOverwrite(s, dir,
      rows("base", 0 until 100).repartitionByRange(4, col("k")),
      statsCols = Seq("k"))
    // compact(where) lands between replaceWhere's read and claim: the
    // replace's removes are no longer live → refuse, nothing doubled
    interleave { TxLog.compact(s, dir, 1,
      where = Some(col("k") < 50), statsCols = Seq("k")) }
    intercept[java.util.ConcurrentModificationException] {
      TxLog.replaceWhere(s, dir, rows("repl", 0 until 50),
        col("k") < 50, statsCols = Seq("k"))
    }
    assert(TxLog.read(s, dir).count() == 100, "no lost slice")
    assert(TxLog.read(s, dir).filter(col("tag") === "repl").count() == 0,
      "no doubled slice")
    // reverse order: replaceWhere lands between compact's read and
    // claim → the compact refuses (its scope was rewritten)
    interleave { TxLog.replaceWhere(s, dir, rows("repl", 0 until 50),
      col("k") < 50, statsCols = Seq("k")) }
    intercept[java.util.ConcurrentModificationException] {
      TxLog.compact(s, dir, 1, where = Some(col("k") < 50),
        statsCols = Seq("k"))
    }
    val out = TxLog.read(s, dir).groupBy("tag").count()
      .as[(String, Long)].collect().toMap
    assert(out == Map("repl" -> 50L, "base" -> 50L),
      s"state after loser refusal diverged: $out")
  }

  // ---- partitionBy on the batch create path --------------------------

  test("partitionBy on create writes a hive layout and registers it; logged tables refuse") {
    val s = spark
    import s.implicits._
    val dir = tmp("r16pb").toString + "/t"
    val df = Seq((1L, "en"), (2L, "en"), (3L, "de"), (4L, "fr"))
      .toDF("k", "lang")
    df.write.format("txlog").partitionBy("lang")
      .option("statsCols", "k").save(dir)
    val snap = TxLog.snapshot(s, dir)
    assert(snap.partitionCols == Seq("lang"),
      "partitionBy create must register the partition column")
    assert(snap.files.forall(_.path.contains("lang=")),
      "files must sit in the key=value layout")
    // values read back and partition predicates prune from the log
    assert(TxLog.read(s, dir).filter(col("lang") === "en")
      .select("k").as[Long].collect().toSet == Set(1L, 2L))
    val kept = TxLog.prunedSnapshotFiles(s, snap,
      Seq(("lang", Some("de"), Some("de"))))
    assert(kept.nonEmpty && kept.size < snap.files.size)
    // appends keep working (flat leg) and a partitionBy write to the
    // now-LOGGED table refuses loudly instead of silently flattening
    TxLog.commitAppend(s, dir, Seq((5L, "en")).toDF("k", "lang"))
    assert(TxLog.read(s, dir).count() == 5)
    val e = intercept[Exception] {
      Seq((9L, "xx")).toDF("k", "lang").write.format("txlog")
        .partitionBy("lang").mode("append").save(dir)
    }
    assert(e.getMessage.toLowerCase.contains("partition"),
      s"expected a partition refusal, got: ${e.getMessage}")
  }

  // ---- SQL DDL / utility statements ---------------------------------

  test("SQL OPTIMIZE, DESCRIBE HISTORY/DETAIL, VACUUM and RESTORE") {
    val s = spark
    import s.implicits._
    val dir0 = tmp("r16ddl").toString + "/t"
    val dirQ = dir0.replace("'", "''")
    TxLog.commitOverwrite(s, dir0,
      (0 until 100).map(i => (i.toLong, s"n$i")).toDF("k", "name")
        .repartition(6), statsCols = Seq("k"))
    TxLog.commitAppend(s, dir0,
      (100 until 120).map(i => (i.toLong, s"n$i")).toDF("k", "name"))
    // OPTIMIZE to one file
    val opt = s.sql(s"OPTIMIZE '$dirQ' TARGET 1 FILES").collect()
    assert(opt.head.getLong(1) == 1L)
    assert(TxLog.snapshot(s, dir0).files.size == 1)
    assert(TxLog.read(s, dir0).count() == 120)
    // history through SQL
    val hist = s.sql(s"DESCRIBE HISTORY '$dirQ'")
      .orderBy("version").select("op").as[String].collect().toSeq
    assert(hist == Seq("overwrite", "append", "compact"))
    // detail through SQL
    val det = s.sql(s"DESCRIBE DETAIL '$dirQ'").collect().head
    assert(det.getAs[Long]("num_files") == 1L &&
      det.getAs[Long]("num_rows") == 120L)
    // restore through SQL (to the pre-append state)
    s.sql(s"RESTORE '$dirQ' TO VERSION AS OF 0")
    assert(TxLog.read(s, dir0).count() == 100)
    // vacuum dry run lists the compacted + restored-over files;
    // real vacuum with retain 0 then deletes them
    val dry = s.sql(s"VACUUM '$dirQ' DRY RUN").collect()
    assert(dry.nonEmpty && dry.forall(!_.getBoolean(1)))
    val vac = s.sql(s"VACUUM '$dirQ'").collect()
    assert(vac.map(_.getString(0)).toSet ==
      dry.map(_.getString(0)).toSet)
    assert(TxLog.read(s, dir0).count() == 100,
      "vacuum must keep the live restored state readable")
  }

  test("SQL ALTER TXLOG: constraints, defaults, generated, identity") {
    val s = spark
    import s.implicits._
    val dir0 = tmp("r16ddl2").toString + "/t"
    val dirQ = dir0.replace("'", "''")
    TxLog.commitOverwrite(s, dir0,
      Seq((1L, 10L, 20L), (2L, 20L, 40L)).toDF("k", "v", "v2"))
    s.sql(s"ALTER TXLOG '$dirQ' ADD CONSTRAINT pos CHECK (v > 0)")
    assert(TxLog.snapshot(s, dir0).constraints.contains("pos"))
    intercept[IllegalArgumentException] {
      TxLog.commitAppend(s, dir0,
        Seq((3L, -5L, -10L)).toDF("k", "v", "v2"))
    }
    s.sql(s"ALTER TXLOG '$dirQ' ALTER COLUMN v2 SET GENERATED AS (v * 2)")
    assert(TxLog.snapshot(s, dir0).generated("v2") == "v * 2")
    s.sql(s"ALTER TXLOG '$dirQ' ALTER COLUMN v SET DEFAULT (42)")
    assert(TxLog.snapshot(s, dir0).defaults("v") == "42")
    s.sql(s"ALTER TXLOG '$dirQ' DROP CONSTRAINT pos")
    s.sql(s"ALTER TXLOG '$dirQ' ALTER COLUMN v DROP DEFAULT")
    s.sql(s"ALTER TXLOG '$dirQ' ALTER COLUMN v2 DROP GENERATED")
    val snap = TxLog.snapshot(s, dir0)
    assert(snap.constraints.isEmpty && snap.defaults.isEmpty &&
      snap.generated.isEmpty)
    // identity on a fresh bigint column table
    val dir1 = tmp("r16ddl3").toString + "/t"
    val dir1Q = dir1.replace("'", "''")
    TxLog.commitOverwrite(s, dir1,
      Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
    s.sql(s"ALTER TXLOG '$dir1Q' ALTER COLUMN id SET IDENTITY " +
      "START 100 STEP 10 BY DEFAULT")
    val id = TxLog.snapshot(s, dir1).identity("id")
    assert(id.start == 100L && id.step == 10L && !id.always)
    // and ordinary SQL still parses through the delegate
    assert(s.sql("SELECT 1 + 1").as[Int].head() == 2)
  }

  test("SQL CTAS, DELETE without WHERE, and time travel on registered tables") {
    val s = spark
    import s.implicits._
    // CTAS: catalog validation + v1 write path both pass
    val dir = tmp("r16ctas").toString + "/t"
    s.sql("DROP TABLE IF EXISTS r16_ctas")
    s.sql(s"CREATE TABLE r16_ctas USING txlog OPTIONS (path '$dir') " +
      "AS SELECT id AS k, concat('n', id) AS name FROM range(10)")
    try {
      assert(TxLog.isLogged(s, dir), "CTAS must create a LOGGED table")
      assert(s.sql("SELECT count(*) FROM r16_ctas").as[Long].head() == 10L)
      // DELETE without WHERE = truncate-through-the-log
      s.sql("DELETE FROM r16_ctas")
      assert(TxLog.read(s, dir).count() == 0)
      assert(TxLog.snapshot(s, dir).version == 1L)
      // VERSION AS OF reads pre-delete history through the catalog
      assert(s.sql("SELECT count(*) FROM r16_ctas VERSION AS OF 0")
        .as[Long].head() == 10L)
      // TIMESTAMP AS OF resolves through the in-commit axis: pin an
      // instant between the two commits
      val ts = TxLog.history(s, dir).orderBy("version")
        .select("timestamp").as[Long].collect()
      val mid = java.time.Instant.ofEpochMilli((ts(0) + ts(1)) / 2)
        .toString.stripSuffix("Z").replace("T", " ")
      assert(s.sql(
        s"SELECT count(*) FROM r16_ctas TIMESTAMP AS OF '$mid'")
        .as[Long].head() == 10L)
      // time-travel references refuse DML (Spark's own parser already
      // rejects the form; any loud refusal with no state change is
      // the contract)
      intercept[Exception] {
        s.sql("DELETE FROM r16_ctas VERSION AS OF 0")
      }
      assert(TxLog.snapshot(s, dir).version == 1L,
        "a refused time-travel DML must not have committed")
    } finally s.sql("DROP TABLE IF EXISTS r16_ctas")
  }

  test("INSERT INTO a declared-but-unwritten table creates the log") {
    val s = spark
    import s.implicits._
    val dir = tmp("r16decl").toString + "/t"
    s.sql("DROP TABLE IF EXISTS r16_decl")
    s.sql(s"CREATE TABLE r16_decl (k BIGINT, name STRING) " +
      s"USING txlog OPTIONS (path '$dir')")
    try {
      assert(!TxLog.isLogged(s, dir), "declaration alone writes nothing")
      s.sql("INSERT INTO r16_decl VALUES (1, 'a'), (2, 'b')")
      assert(TxLog.isLogged(s, dir),
        "the first INSERT must create the log")
      assert(s.sql("SELECT sum(k) FROM r16_decl").as[Long].head() == 3L)
      // SQL PARTITIONED BY refuses at the catalog (silent flat
      // tables stay impossible on every create path)
      val e = intercept[Exception] {
        s.sql("CREATE TABLE r16_declp (k BIGINT, lang STRING) " +
          s"USING txlog OPTIONS (path '${dir}p') PARTITIONED BY (lang)")
      }
      assert(e.getMessage.toLowerCase.contains("partitioned by"),
        s"unexpected: ${e.getMessage.take(150)}")
    } finally s.sql("DROP TABLE IF EXISTS r16_decl")
  }

  test("txlog_changes table function and name-addressed DDL") {
    val s = spark
    import s.implicits._
    val dir = tmp("r16cdc").toString + "/t"
    TxLog.commitOverwrite(s, dir,
      Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "v"),
      statsCols = Seq("k"))
    TxLog.delete(s, dir, col("k") === 2L)               // v1
    TxLog.update(s, dir, col("k") === 1L,
      Map("v" -> lit(11L)))                              // v2
    s.sql("DROP TABLE IF EXISTS r16_cdc")
    s.sql(s"CREATE TABLE r16_cdc USING txlog OPTIONS (path '$dir')")
    try {
      // by PATH: commits 1..2 — delete(k=2) + update's delete+insert
      val byPath = s.sql(
        s"SELECT _change_type, count(*) AS n FROM " +
          s"txlog_changes('$dir', 1, 2) GROUP BY 1")
        .as[(String, Long)].collect().toMap
      assert(byPath == Map("delete" -> 2L, "insert" -> 1L),
        s"feed diverged: $byPath")
      // by registered NAME, open-ended
      val byName = s.sql(
        "SELECT count(*) FROM txlog_changes('r16_cdc', 2)")
        .as[Long].head()
      assert(byName == 2L, s"update span must be 2 rows, got $byName")
      // and the feed composes like any relation
      assert(s.sql(
        "SELECT sum(v) FROM txlog_changes('r16_cdc', 2, 2) " +
          "WHERE _change_type = 'insert'").as[Long].head() == 11L)
      // name-addressed DDL forms
      val hist = s.sql("DESCRIBE HISTORY r16_cdc").count()
      assert(hist == 3L)
      assert(s.sql("DESCRIBE DETAIL r16_cdc").head()
        .getAs[Long]("num_rows") == 2L)
      s.sql("OPTIMIZE r16_cdc TARGET 1 FILES")
      assert(TxLog.snapshot(s, dir).files.size == 1)
      s.sql("ALTER TXLOG r16_cdc ADD CONSTRAINT vpos CHECK (v > 0)")
      assert(TxLog.snapshot(s, dir).constraints.contains("vpos"))
      // a non-txlog name refuses with the provider named
      val e = intercept[Exception] {
        s.sql("DESCRIBE HISTORY definitely_missing_table")
      }
      assert(e.getMessage.toLowerCase.matches(
        "(?s).*(not found|cannot be found|not a txlog).*"),
        s"unexpected: ${e.getMessage.take(150)}")
    } finally s.sql("DROP TABLE IF EXISTS r16_cdc")
  }

  test("SQL ALTER TABLE ADD/RENAME/DROP COLUMN on a registered table") {
    val s = spark
    import s.implicits._
    val dir = tmp("r16alter").toString + "/t"
    TxLog.commitOverwrite(s, dir,
      Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("k", "v", "name"))
    s.sql("DROP TABLE IF EXISTS r16_alter")
    s.sql(s"CREATE TABLE r16_alter USING txlog OPTIONS (path '$dir')")
    try {
      // metadata-only widen: old files read the new column as NULL
      s.sql("ALTER TABLE r16_alter ADD COLUMN extra BIGINT")
      val snap1 = TxLog.snapshot(s, dir)
      assert(snap1.files == TxLog.snapshot(s, dir, Some(0L)).files,
        "ADD COLUMN must not touch data files")
      assert(s.sql("SELECT count(*) FROM r16_alter WHERE extra IS NULL")
        .as[Long].head() == 2L)
      assert(snap1.minReader == 1,
        "a mapping-free widen stays generation-1 readable")
      // rename through the column mapping, read back by new name
      s.sql("ALTER TABLE r16_alter RENAME COLUMN name TO label")
      assert(s.sql("SELECT label FROM r16_alter ORDER BY k")
        .as[String].collect().toSeq == Seq("a", "b"))
      // drop, then re-add the same name: fresh physical, old data
      // must NOT resurrect
      s.sql("ALTER TABLE r16_alter DROP COLUMN v")
      s.sql("ALTER TABLE r16_alter ADD COLUMN v BIGINT")
      assert(s.sql("SELECT count(*) FROM r16_alter WHERE v IS NULL")
        .as[Long].head() == 2L,
        "re-added column must not resurrect dropped data")
      // appends carry the widened schema (k, label, extra, v now)
      s.sql("INSERT INTO r16_alter (k, label, extra, v) " +
        "VALUES (3, 'c', 33, 333)")
      assert(s.sql("SELECT extra, v FROM r16_alter WHERE k = 3")
        .as[(Long, Long)].head() == ((33L, 333L)))
      // unsupported shapes refuse loudly
      val e = intercept[Exception] {
        s.sql("ALTER TABLE r16_alter ALTER COLUMN k TYPE STRING")
      }
      assert(e.getMessage.toLowerCase.contains("txlog") ||
        e.getMessage.toLowerCase.contains("not supported"),
        s"unexpected: ${e.getMessage.take(150)}")
    } finally s.sql("DROP TABLE IF EXISTS r16_alter")
  }

  test("spark.readStream.table streams a registered txlog table") {
    val s = spark
    import s.implicits._
    val dir = tmp("r16stn").toString + "/t"
    TxLog.commitOverwrite(s, dir,
      Seq((1L, "a"), (2L, "b")).toDF("k", "name"))
    s.sql("DROP TABLE IF EXISTS r16_stream")
    s.sql(s"CREATE TABLE r16_stream USING txlog OPTIONS (path '$dir')")
    try {
      val q = s.readStream.table("r16_stream")
      assert(q.isStreaming)
      val out = q.writeStream.format("memory").queryName("r16_mem")
        .option("checkpointLocation", dir + "_cp").start()
      try {
        out.processAllAvailable()
        assert(s.sql("SELECT count(*) FROM r16_mem")
          .as[Long].head() == 2L)
        // appends flow as micro-batches — the SAME v1 source as
        // readStream.format("txlog")
        TxLog.commitAppend(s, dir, Seq((3L, "c")).toDF("k", "name"))
        out.processAllAvailable()
        assert(s.sql("SELECT count(*) FROM r16_mem")
          .as[Long].head() == 3L)
      } finally out.stop()
    } finally s.sql("DROP TABLE IF EXISTS r16_stream")
  }

  test("plain-session DELETE still works through SupportsDelete") {
    // the v1-filter fallback path: translatable predicate, no modulo
    val s = spark
    import s.implicits._
    val dir = tmp("r16sd").toString + "/t"
    TxLog.commitOverwrite(s, dir,
      Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("k", "name"))
    val cond = graft.sources.TxLogSql.filterColumn(
      org.apache.spark.sql.sources.And(
        org.apache.spark.sql.sources.GreaterThan("k", 1L),
        org.apache.spark.sql.sources.In("name", Array("y", "z"))))
    // the bridge itself: conjunction translates and deletes exactly
    TxLog.delete(s, dir, cond)
    assert(TxLog.read(s, dir).select("k").as[Long].collect().toSeq ==
      Seq(1L))
  }

  // ---- general MERGE ------------------------------------------------

  test("mergeInto: conditional update, delete, and insert in one commit") {
    val s = spark
    import s.implicits._
    val dir = tmp("r16mi").toString + "/t"
    TxLog.commitOverwrite(s, dir,
      Seq((1L, 10L, "a"), (2L, 20L, "b"), (3L, 30L, "c"), (4L, 40L, "d"))
        .toDF("k", "v", "name"), statsCols = Seq("k"))
    val src = Seq((1L, 100L), (2L, -1L), (5L, 500L), (6L, -1L))
      .toDF("mk", "mv")
    val v = TxLog.mergeInto(s, dir, src,
      col("t.k") === col("s.mk"), Seq(
        TxLog.MergeMatchedDelete(Some(col("s.mv") < 0)),
        TxLog.MergeMatchedUpdate(Map("v" -> col("s.mv"))),
        TxLog.MergeInsert(
          Map("k" -> col("s.mk"), "v" -> col("s.mv"),
            "name" -> lit("ins")),
          Some(col("s.mv") > 0))))
    assert(v == 1L, "one commit")
    val out = TxLog.read(s, dir).orderBy("k")
      .as[(Long, Long, String)].collect().toSeq
    // k=1 updated to 100; k=2 deleted (mv<0, delete clause first);
    // k=3,4 untouched; k=5 inserted; k=6 unmatched but mv<0 -> no insert
    assert(out == Seq((1L, 100L, "a"), (3L, 30L, "c"), (4L, 40L, "d"),
      (5L, 500L, "ins")))
  }

  test("mergeInto: NOT MATCHED BY SOURCE delete syncs the target") {
    val s = spark
    import s.implicits._
    val dir = tmp("r16ms").toString + "/t"
    TxLog.commitOverwrite(s, dir,
      Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "v"))
    val src = Seq((1L, 11L), (4L, 44L)).toDF("k", "v")
    TxLog.mergeInto(s, dir, src,
      col("t.k") === col("s.k"), Seq(
        TxLog.MergeMatchedUpdate(Map("v" -> col("s.v"))),
        TxLog.MergeInsert(Map("k" -> col("s.k"), "v" -> col("s.v"))),
        TxLog.MergeNotMatchedBySourceDelete()))
    val out = TxLog.read(s, dir).orderBy("k")
      .as[(Long, Long)].collect().toSeq
    assert(out == Seq((1L, 11L), (4L, 44L)),
      s"full-sync merge diverged: $out")
  }

  test("mergeInto: multiple matches with a firing MATCHED clause refuse") {
    val s = spark
    import s.implicits._
    val dir = tmp("r16mc").toString + "/t"
    TxLog.commitOverwrite(s, dir, Seq((1L, 10L)).toDF("k", "v"))
    val src = Seq((1L, 1L), (1L, 2L)).toDF("k", "v")
    val e = intercept[IllegalArgumentException] {
      TxLog.mergeInto(s, dir, src,
        col("t.k") === col("s.k"),
        Seq(TxLog.MergeMatchedUpdate(Map("v" -> col("s.v")))))
    }
    assert(e.getMessage.contains("cardinality"))
    // but a NON-firing multi-match passes through (nothing ambiguous)
    val v = TxLog.mergeInto(s, dir, src,
      col("t.k") === col("s.k"),
      Seq(TxLog.MergeMatchedUpdate(Map("v" -> col("s.v")),
        Some(lit(false)))))
    assert(v == 0L, "no-op merge must not commit")
    assert(TxLog.read(s, dir).count() == 1)
  }

  test("mergeInto: recomputes generated columns and fills defaults on insert") {
    val s = spark
    import s.implicits._
    val dir = tmp("r16mg").toString + "/t"
    TxLog.commitOverwrite(s, dir,
      Seq((1L, 10L, 20L, 99L)).toDF("k", "v", "v2", "tag"),
      generated = Map("v2" -> "v * 2"))
    TxLog.setDefault(s, dir, "tag", "7")
    val src = Seq((1L, 50L), (2L, 60L)).toDF("k", "v")
    TxLog.mergeInto(s, dir, src,
      col("t.k") === col("s.k"), Seq(
        TxLog.MergeMatchedUpdate(Map("v" -> col("s.v"))),
        TxLog.MergeInsert(Map("k" -> col("s.k"), "v" -> col("s.v")))))
    val out = TxLog.read(s, dir).orderBy("k")
      .as[(Long, Long, Long, Long)].collect().toSeq
    // updated row: v2 recomputed from the new v; inserted row: v2
    // generated, tag defaulted
    assert(out == Seq((1L, 50L, 100L, 99L), (2L, 60L, 120L, 7L)),
      s"generated/default handling diverged: $out")
  }

  test("restore keeps the identity watermark monotonic") {
    val s = spark
    val dir = tmp("r16ri").toString + "/t"
    TxLog.commitOverwrite(s, dir, payload(3, "a"),
      identity = Map("id" -> TxLog.IdentitySpec(1L, 1L)))
    val v0 = TxLog.snapshot(s, dir)
    val high0 = v0.identity("id").high.get
    TxLog.commitAppend(s, dir, payload(5, "b"))
    val high1 = TxLog.snapshot(s, dir).identity("id").high.get
    assert(high1 > high0)
    TxLog.restore(s, dir, v0.version)
    val snap = TxLog.snapshot(s, dir)
    // rows are back to v0's, but ids issued after v0 are never
    // re-minted: the carried watermark is the HIGHER one
    assert(TxLog.read(s, dir).count() == 3)
    assert(snap.identity("id").high.contains(high1),
      s"watermark regressed to ${snap.identity("id").high} " +
        s"(expected $high1)")
  }
}
