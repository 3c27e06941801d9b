package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.sources.{MaterializedAgg, Scd2, TxLog}

/** Metadata commits (properties, constraints, defaults, identity,
  * generated, txn markers, schema DDL) go through the one claim loop,
  * `TxLog.commitStaged`: a lost claim rebases the change onto the
  * winner's (or refuses it), every commit records its in-commit
  * timestamp, and a commit that moves no file contributes no rows to
  * the incremental readers.
  */
class MetaCommitSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString + "/t"

  /** `n` rows (id 1..n, name, k = id % 3) in one file, `id` statted. */
  private def table(dir: String, n: Long = 20L): Unit = {
    TxLog.commitOverwrite(spark, dir, rows(1L to n), statsCols = Seq("id"))
    ()
  }

  private def rows(r: Seq[Long]) = {
    val s = spark
    import s.implicits._
    r.map(i => (i, s"n$i", i % 3)).toDF("id", "name", "k").repartition(1)
  }

  private def racing[T](racer: => Unit)(body: => T): T = {
    TxLog.testBeforeClaim.set(Some(() => racer))
    try body finally TxLog.testBeforeClaim.set(None)
  }

  private def head(dir: String) = TxLog.snapshot(spark, dir)

  // ---- incremental readers across commits that move no file --------

  /** One commit of each kind that adds and removes no file. */
  private val fileless: Seq[(String, String => Any)] = Seq(
    "properties" -> (d => TxLog.setTblProperties(spark, d, Map("a" -> "1"))),
    "defaults" -> (d => TxLog.setDefault(spark, d, "name", "'x'")),
    "add-column" -> (d => TxLog.addColumn(spark, d, "extra", "string")),
    "identity" -> (d => TxLog.setIdentity(spark, d, "id", always = false)),
    "generated" -> (d => TxLog.setGenerated(spark, d, "k", "id % 3")),
    "txn" -> (d => TxLog.commitTxnAdvance(spark, d, ("app", 1L))))

  test("changeFeed and changesSince pass over every commit that moves no file") {
    fileless.foreach { case (op, run) =>
      val dir = tmp("metafeed")
      table(dir, 5L)
      val v0 = head(dir).version
      TxLog.commitAppend(spark, dir, rows(6L to 7L))
      run(dir)
      val v = head(dir)
      assert(v.version == v0 + 2, op)
      val ids = TxLog.changesSince(spark, dir, v0).select("id")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == Seq(6L, 7L), op)
      val feed = TxLog.changeFeed(spark, dir, v0)
        .select("id", "_change_type").collect()
        .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
      assert(feed == Seq((6L, "insert"), (7L, "insert")), op)
    }
  }

  test("Scd2 and MaterializedAgg refresh across a properties commit on their source") {
    val base = Files.createTempDirectory("metarefresh").toString
    val src = s"$base/src"
    table(src, 6L)
    Scd2.create(spark, src, s"$base/scd", keys = Seq("id"))
    MaterializedAgg.create(spark, src, s"$base/mv", keys = Seq("k"),
      sums = Seq("id"))
    TxLog.commitAppend(spark, src, rows(7L to 8L))
    TxLog.setTblProperties(spark, src, Map("owner" -> "etl"))
    val v = head(src).version
    assert(Scd2.refresh(spark, s"$base/scd") == v)
    assert(Scd2.current(spark, s"$base/scd").count() == 8L)
    assert(MaterializedAgg.refresh(spark, s"$base/mv") == v)
    assert(MaterializedAgg.watermark(spark, s"$base/mv") == v)
  }

  // ---- DML that changes nothing ------------------------------------

  test("mergeInto and replaceWhere that change nothing commit nothing") {
    val s = spark
    import s.implicits._
    val dir = tmp("metanoop")
    table(dir)
    val before = head(dir)
    TxLog.mergeInto(spark, dir, Seq((500L, "z", 2L)).toDF("id", "name", "k"),
      col("t.id") === col("s.id"),
      Seq(TxLog.MergeInsert(Map("id" -> col("s.id"), "name" -> col("s.name"),
        "k" -> col("s.k")), cond = Some(col("s.id") < 0L))))
    TxLog.replaceWhere(spark, dir, rows(Nil), col("id") > 1000L)
    val after = head(dir)
    assert(after.version == before.version)
    assert(after.files == before.files)
  }

  // ---- a lost claim rebases or refuses ------------------------------

  /** (verb, racer, change) on a 20-row table carrying two properties,
    * two constraints, two defaults, two generated columns and two
    * identity columns: the racer edits another key of the same field. */
  private def metaRaces: Seq[(String, String => Any, String => Any)] = Seq(
    ("setTblProperties",
      d => TxLog.setTblProperties(spark, d, Map("r" -> "1")),
      d => TxLog.setTblProperties(spark, d, Map("w" -> "1"))),
    ("unsetTblProperties",
      d => TxLog.unsetTblProperties(spark, d, Seq("p1")),
      d => TxLog.unsetTblProperties(spark, d, Seq("p2"))),
    ("addCheckConstraint",
      d => TxLog.addCheckConstraint(spark, d, "r", "k >= 0"),
      d => TxLog.addCheckConstraint(spark, d, "w", "k < 3")),
    ("dropCheckConstraint",
      d => TxLog.dropCheckConstraint(spark, d, "c1"),
      d => TxLog.dropCheckConstraint(spark, d, "c2")),
    ("setDefault",
      d => TxLog.setDefault(spark, d, "name", "'r'"),
      d => TxLog.setDefault(spark, d, "note", "'w'")),
    ("dropDefault",
      d => TxLog.dropDefault(spark, d, "d1"),
      d => TxLog.dropDefault(spark, d, "d2")),
    ("dropGenerated",
      d => TxLog.dropGenerated(spark, d, "g1"),
      d => TxLog.dropGenerated(spark, d, "g2")),
    ("dropIdentity",
      d => TxLog.dropIdentity(spark, d, "i1"),
      d => TxLog.dropIdentity(spark, d, "i2")))

  private def metaTable(dir: String): Unit = {
    val wide = rows(1L to 20L)
      .withColumn("g1", col("id") + 1L).withColumn("g2", col("id") + 2L)
      .withColumn("i1", col("id")).withColumn("i2", col("id") * 10L)
      .withColumn("d1", lit("a")).withColumn("d2", lit("b"))
      .withColumn("note", lit("c"))
    TxLog.commitOverwrite(spark, dir, wide, statsCols = Seq("id", "i1", "i2"))
    TxLog.setTblProperties(spark, dir, Map("p1" -> "1", "p2" -> "2"))
    TxLog.addCheckConstraint(spark, dir, "c1", "id > 0")
    TxLog.addCheckConstraint(spark, dir, "c2", "id < 1000")
    TxLog.setDefault(spark, dir, "d1", "'x'")
    TxLog.setDefault(spark, dir, "d2", "'y'")
    TxLog.setGenerated(spark, dir, "g1", "id + 1")
    TxLog.setGenerated(spark, dir, "g2", "id + 2")
    TxLog.setIdentity(spark, dir, "i1", always = false)
    TxLog.setIdentity(spark, dir, "i2", always = false)
    ()
  }

  test("a metadata verb that loses its claim to another metadata verb rebases: both land") {
    val dir0 = tmp("metarace")
    metaTable(dir0)
    metaRaces.foreach { case (name, racer, change) =>
      // the race and its serial replay each run on a clone of dir0
      val dir = tmp("metarace")
      TxLog.clone(spark, dir0, dir)
      val solo = tmp("metarace")
      TxLog.clone(spark, dir0, solo)
      racer(solo)
      change(solo)
      racing { racer(dir); () } (change(dir))
      val got = head(dir)
      assert(got.version == 2L, name)
      assert(got.properties == head(solo).properties, name)
      assert(got.constraints == head(solo).constraints, name)
      assert(got.defaults == head(solo).defaults, name)
      assert(got.generated == head(solo).generated, name)
      assert(got.identity == head(solo).identity, name)
    }
  }

  test("verbs that validated rows refuse an append that lands first; properties and defaults land") {
    val s = spark
    import s.implicits._
    def append(d: String, id: Long, k: Long): Unit = {
      TxLog.commitAppend(spark, d, Seq((id, s"n$id", k)).toDF("id", "name", "k"))
      ()
    }
    val refusals: Seq[(String, String => Unit, String => Any)] = Seq(
      ("addCheckConstraint", d => append(d, 21L, 5L),
        d => TxLog.addCheckConstraint(spark, d, "small", "k < 3")),
      ("setGenerated", d => append(d, 21L, 2L),
        d => TxLog.setGenerated(spark, d, "k", "id % 3")),
      ("setIdentity", d => append(d, 21L, 0L),
        d => TxLog.setIdentity(spark, d, "id", always = false)))
    refusals.foreach { case (name, racer, verb) =>
      val dir = tmp("metaappend")
      table(dir)
      intercept[java.util.ConcurrentModificationException] {
        racing(racer(dir))(verb(dir))
      }
      val h = head(dir)
      assert(h.version == 1L, name)
      assert(h.constraints.isEmpty && h.generated.isEmpty &&
        h.identity.isEmpty, name)
    }
    val landings: Seq[(String, String => Any, TxLog.TxSnapshot => Boolean)] =
      Seq(("setTblProperties",
        d => TxLog.setTblProperties(spark, d, Map("a" -> "1")),
        _.properties == Map("a" -> "1")),
      ("setDefault", d => TxLog.setDefault(spark, d, "name", "'x'"),
        _.defaults == Map("name" -> "'x'")))
    landings.foreach { case (name, verb, landed) =>
      val dir = tmp("metaappend")
      table(dir)
      assert(racing(append(dir, 21L, 0L))(verb(dir)) == 2L, name)
      val h = head(dir)
      assert(landed(h) && h.files.map(_.rows).sum == 21L, name)
    }
  }

  test("a data commit refuses a CHECK constraint added while it staged; property and drop racers land") {
    val s = spark
    import s.implicits._
    def k5(id: Long) = Seq((id, s"n$id", 5L)).toDF("id", "name", "k")
    val addSmall = (d: String) => {
      TxLog.addCheckConstraint(spark, d, "small", "k < 3"); ()
    }
    // each writer validates k = 5 against no constraint; the racer's
    // constraint lands first, so the writer's claim must refuse
    val writers: Seq[(String, String => Any)] = Seq(
      "commitAppend" -> (d => TxLog.commitAppend(spark, d, k5(21L))),
      "commitOverwrite" -> (d => TxLog.commitOverwrite(spark, d, k5(21L))),
      "merge" -> (d => TxLog.merge(spark, d, k5(1L), Seq("id"))),
      "update" -> (d => TxLog.update(spark, d, col("id") === 1,
        Map("k" -> lit(5L)))))
    writers.foreach { case (name, write) =>
      val dir = tmp("metacheck")
      table(dir)
      intercept[java.util.ConcurrentModificationException] {
        racing(addSmall(dir))(write(dir))
      }
      val h = head(dir)
      assert(h.version == 1L && h.constraints.keySet == Set("small"), name)
      assert(TxLog.read(spark, dir).filter(col("k") >= 3).count() == 0L &&
        TxLog.read(spark, dir).count() == 20L, name)
      // the refused commit's staged files are gone
      assert(Files.list(Paths.get(dir)).iterator().asScala
        .count(_.getFileName.toString.endsWith(".parquet")) ==
        h.files.size, name)
    }
    // a racer that sets a property or drops a constraint takes nothing
    // away from what the writer checked: the append lands
    val landings: Seq[(String, String => Any)] = Seq(
      "setTblProperties" -> (d => TxLog.setTblProperties(spark, d, Map("a" -> "1"))),
      "dropCheckConstraint" -> (d => TxLog.dropCheckConstraint(spark, d, "big")))
    landings.foreach { case (name, racer) =>
      val dir = tmp("metacheck")
      table(dir)
      TxLog.addCheckConstraint(spark, dir, "big", "k < 10")
      assert(racing(racer(dir))(TxLog.commitAppend(spark, dir, k5(21L))) ==
        3L, name)
      assert(TxLog.read(spark, dir).filter(col("k") === 5).count() == 1L, name)
    }
  }

  test("syncIdentity that loses its claim to an append keeps the racer's ids issued") {
    val s = spark
    import s.implicits._
    val dir = tmp("metasync")
    TxLog.commitOverwrite(spark, dir, Seq("a", "b").toDF("name"),
      identity = Map("id" -> TxLog.IdentitySpec(1L, 1L)))
    def append(names: String*): Unit = {
      TxLog.commitAppend(spark, dir, names.toDF("name"))
      ()
    }
    racing(append("c", "d", "e"))(TxLog.syncIdentity(spark, dir))
    val issued = TxLog.read(spark, dir).agg(max("id")).head().getLong(0)
    assert(head(dir).identity("id").high.exists(_ >= issued))
    append("f", "g")
    val ids = TxLog.read(spark, dir).select("id").collect().map(_.getLong(0))
    assert(ids.length == 7 && ids.distinct.length == 7, ids.toSeq)
  }

  test("schema DDL refuses on any lost claim") {
    val ddl: Seq[(String, String => Long)] = Seq(
      "add-column" -> (d => TxLog.addColumn(spark, d, "extra", "string")),
      "rename" -> (d => TxLog.renameColumn(spark, d, "name", "label")),
      "drop" -> (d => TxLog.dropColumn(spark, d, "name")))
    ddl.foreach { case (op, run) =>
      val dir = tmp("metaddl")
      table(dir)
      val before = head(dir)
      intercept[java.util.ConcurrentModificationException] {
        racing { TxLog.setTblProperties(spark, dir, Map("a" -> "1")); () } {
          run(dir)
        }
      }
      val h = head(dir)
      assert(h.version == before.version + 1 &&
        h.schemaJson == before.schemaJson && h.mapping.isEmpty, op)
    }
  }

  test("two writers setting properties concurrently lose no key") {
    val dir = tmp("metathreads")
    table(dir, 2L)
    (1 to 20).foreach { trial =>
      val keys = for (w <- 0 until 2; k <- 0 until 5) yield s"t${trial}w${w}k$k"
      val threads = keys.grouped(5).toSeq.map { ks =>
        new Thread(() => ks.foreach(k =>
          TxLog.setTblProperties(spark, dir, Map(k -> "v"))))
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      val props = head(dir).properties
      assert(keys.forall(props.contains), s"trial $trial: $props")
    }
  }

  // ---- in-commit timestamps -----------------------------------------

  test("every commit kind records its timestamp; a copied table resolves them alike") {
    val s = spark
    import s.implicits._
    val dir = tmp("metats")
    table(dir)
    TxLog.commitAppend(spark, dir, rows(21L to 22L))
    TxLog.setTblProperties(spark, dir, Map("a" -> "1"))
    TxLog.addCheckConstraint(spark, dir, "pos", "id > 0")
    TxLog.dropCheckConstraint(spark, dir, "pos")
    TxLog.setDefault(spark, dir, "name", "'x'")
    TxLog.setGenerated(spark, dir, "k", "id % 3")
    TxLog.setIdentity(spark, dir, "id", always = false)
    TxLog.commitTxnAdvance(spark, dir, ("app", 1L))
    TxLog.addColumn(spark, dir, "extra", "string")
    TxLog.renameColumn(spark, dir, "extra", "extra2")
    TxLog.dropColumn(spark, dir, "extra2")
    TxLog.delete(spark, dir, col("id") === 3L)
    TxLog.deleteMor(spark, dir, col("id") === 4L)
    TxLog.compact(spark, dir, 1)
    val copy = tmp("metats")
    val src = Paths.get(dir)
    val walk = Files.walk(src)
    try walk.iterator().asScala.toSeq.foreach { p =>
      val to = Paths.get(copy).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to)
      else Files.copy(p, to)
    } finally walk.close()
    val Ts = "\"ts\":(\\d+)".r
    val logDir = Paths.get(copy, TxLog.LogDir)
    val versions = (0L to head(dir).version).map { v =>
      val text = new String(
        Files.readAllBytes(logDir.resolve(f"$v%020d.json")), "UTF-8")
      val ts = Ts.findFirstMatchIn(text).map(_.group(1).toLong)
      assert(ts.isDefined, s"v$v carries no ts: ${text.take(80)}")
      v -> ts.get
    }
    versions.foreach { case (v, ts) =>
      assert(TxLog.versionAt(spark, dir, ts) == v, s"v$v")
      assert(TxLog.versionAt(spark, copy, ts) == v, s"copy v$v")
    }
  }
}
