package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.{Scd2, TxLog}

/** SCD TYPE 2 history maintained from the change feed
  * ([[graft.sources.Scd2]]): the defining invariant is that
  * `snapshotAt(v)` reproduces the SOURCE as of v for EVERY version
  * since history creation — checked directly, per version, after
  * every refresh, including under a randomized DML model.
  */
class Scd2Spec extends SparkSpec {

  private def tmp(prefix: String): Path =
    Files.createTempDirectory(prefix)

  private def rows(t: (Long, Long)*): DataFrame = {
    val s = spark
    import s.implicits._
    t.toSeq.toDF("id", "v")
  }

  /** The payload relation of an SCD2 read, as a comparable set. */
  private def payloadSet(df: DataFrame): Set[(Long, Long)] = {
    val s = spark
    import s.implicits._
    df.select("id", "v").as[(Long, Long)].collect().toSet
  }

  private def sourceSet(src: String, v: Long): Set[(Long, Long)] =
    payloadSet(TxLog.read(spark, src, Some(v)))

  /** Assert the defining SCD2 invariant over the whole retained
    * history: snapshotAt(v) == source@v for every v in
    * [createdAt, watermark], and current == source@watermark. */
  private def assertHistory(src: String, scd: String,
      createdAt: Long): Unit = {
    val w = Scd2.watermark(spark, scd)
    (createdAt to w).foreach { v =>
      assert(payloadSet(Scd2.snapshotAt(spark, scd, v)) ==
        sourceSet(src, v), s"snapshotAt($v) diverged from source@$v")
    }
    assert(payloadSet(Scd2.current(spark, scd)) == sourceSet(src, w))
  }

  test("scd2: create + one refresh folds update, delete, and key birth into exact segments") {
    val src = tmp("scd2basic").toString
    val scd = tmp("scd2basich").toString + "/t"
    TxLog.commitOverwrite(spark, src,
      rows((1L, 10L), (2L, 20L), (3L, 30L)),
      statsCols = Seq("id"))
    val w0 = Scd2.create(spark, src, scd, keys = Seq("id"))
    assert(w0 == 0L)
    TxLog.update(spark, src, col("id") === 1L,
      Map("v" -> lit(11L)))                       // v1
    TxLog.delete(spark, src, col("id") === 2L)    // v2
    TxLog.commitAppend(spark, src, rows((4L, 40L))) // v3
    assert(Scd2.refresh(spark, scd) == 3L)

    val s = spark
    import s.implicits._
    val segs = TxLog.read(spark, scd)
      .select(col("id"), col("v"), col("valid_from"),
        col("valid_to"), col("is_current"))
      .as[(Long, Long, Long, Option[Long], Boolean)].collect().toSet
    assert(segs == Set(
      (1L, 10L, 0L, Some(1L), false),  // closed by its update
      (1L, 11L, 1L, None, true),       // the update's post-image
      (2L, 20L, 0L, Some(2L), false),  // closed by its delete; no heir
      (3L, 30L, 0L, None, true),       // untouched
      (4L, 40L, 3L, None, true)))      // born at v3
    assertHistory(src, scd, w0)
    // idempotent: a second refresh is a watermark no-op
    val vBefore = TxLog.snapshot(spark, scd).version
    assert(Scd2.refresh(spark, scd) == 3L)
    assert(TxLog.snapshot(spark, scd).version == vBefore)
  }

  test("scd2: death and rebirth across one slice leaves a validity gap; birth-then-death leaves no current row") {
    val src = tmp("scd2gap").toString
    val scd = tmp("scd2gaph").toString + "/t"
    TxLog.commitOverwrite(spark, src, rows((1L, 10L), (2L, 20L)))
    val w0 = Scd2.create(spark, src, scd, keys = Seq("id"))
    TxLog.delete(spark, src, col("id") === 1L)      // v1: key 1 dies
    TxLog.commitAppend(spark, src, rows((1L, 99L), (3L, 30L))) // v2: reborn + 3 born
    TxLog.delete(spark, src, col("id") === 3L)      // v3: key 3 dies in-slice
    assert(Scd2.refresh(spark, scd) == 3L)

    val s = spark
    import s.implicits._
    val segs = TxLog.read(spark, scd).filter(col("id").isin(1L, 3L))
      .select(col("id"), col("v"), col("valid_from"),
        col("valid_to"), col("is_current"))
      .as[(Long, Long, Long, Option[Long], Boolean)].collect().toSet
    assert(segs == Set(
      (1L, 10L, 0L, Some(1L), false),  // gap over [1, 2)
      (1L, 99L, 2L, None, true),
      (3L, 30L, 2L, Some(3L), false))) // born and died inside the slice
    assertHistory(src, scd, w0)
  }

  testBothForms("scd2: randomized DML model — snapshotAt(v) equals source@v for every v after every refresh") {
    val rnd = new scala.util.Random(14)
    val src = tmp("scd2model").toString
    val scd = tmp("scd2modelh").toString + "/t"
    TxLog.commitOverwrite(spark, src,
      rows((0L until 12L).map(i => (i, i * 100L)): _*),
      statsCols = Seq("id"))
    val w0 = Scd2.create(spark, src, scd, keys = Seq("id"))
    var nextId = 12L
    for (step <- 1 to 14) {
      rnd.nextInt(3) match {
        case 0 => // birth(s)
          val n = 1 + rnd.nextInt(2)
          TxLog.commitAppend(spark, src,
            rows((0 until n).map(i => (nextId + i, step * 1000L + i)): _*))
          nextId += n
        case 1 => // update a surviving sliver
          val s = spark
          import s.implicits._
          val live = TxLog.read(spark, src).select("id").as[Long]
            .collect()
          val pick = rnd.shuffle(live.toSeq).take(1 + rnd.nextInt(3))
          TxLog.update(spark, src, col("id").isin(pick: _*),
            Map("v" -> (col("v") + 1L)))
        case 2 => // delete a surviving sliver
          val s = spark
          import s.implicits._
          val live = TxLog.read(spark, src).select("id").as[Long]
            .collect()
          val pick = rnd.shuffle(live.toSeq).take(1 + rnd.nextInt(2))
          TxLog.delete(spark, src, col("id").isin(pick: _*))
      }
      // refresh on a random cadence so slices span multiple commits
      if (rnd.nextInt(3) == 0 || step == 14) {
        Scd2.refresh(spark, scd)
        assertHistory(src, scd, w0)
      }
    }
  }

  test("scd2: streaming sink follows the live feed; restart resumes without double-fold") {
    val src = tmp("scd2stream").toString
    val scd = tmp("scd2streamh").toString + "/t"
    val ckpt = tmp("scd2ck").toString
    TxLog.commitOverwrite(spark, src, rows((1L, 10L), (2L, 20L)))
    val w0 = Scd2.create(spark, src, scd, keys = Seq("id"))
    TxLog.update(spark, src, col("id") === 1L, Map("v" -> lit(11L)))
    TxLog.commitAppend(spark, src, rows((3L, 30L)))
    def feed = spark.readStream.format("txlog")
      .option("readChangeFeed", "true")
      .option("startingVersion", w0 + 1).load(src)
    val q = Scd2.scd2ApplySink(feed, scd, ckpt.toString)
    try q.processAllAvailable() finally q.stop()
    assertHistory(src, scd, w0)
    // DML while the stream is down, then resume from the checkpoint
    TxLog.delete(spark, src, col("id") === 2L)
    TxLog.update(spark, src, col("id") === 3L, Map("v" -> lit(31L)))
    val q2 = Scd2.scd2ApplySink(feed, scd, ckpt.toString)
    try q2.processAllAvailable() finally q2.stop()
    assertHistory(src, scd, w0)
    // the stream advanced the shared watermark: batch refresh no-ops
    val vBefore = TxLog.snapshot(spark, scd).version
    assert(Scd2.refresh(spark, scd) ==
      TxLog.snapshot(spark, src).version)
    assert(TxLog.snapshot(spark, scd).version == vBefore)
  }

  test("scd2: mor refresh retires closed segments through vectors — zero data-file rewrites; compact parity") {
    val src = tmp("scd2mor").toString
    val scd = tmp("scd2morh").toString + "/t"
    TxLog.commitOverwrite(spark, src,
      rows((0L until 16L).map(i => (i, i * 10L)): _*)
        .repartitionByRange(4, col("id")),
      statsCols = Seq("id"))
    val w0 = Scd2.create(spark, src, scd, keys = Seq("id"))
    val pre = TxLog.snapshot(spark, scd).files.map(_.path).toSet
    assert(pre.size > 1, "need a multi-file history for the claim")
    // scattered closures: keys across several history files
    TxLog.update(spark, src, col("id").isin(1L, 7L, 13L),
      Map("v" -> (col("v") + 1L)))
    TxLog.delete(spark, src, col("id") === 4L)
    Scd2.refresh(spark, scd, mor = true)
    val post = TxLog.snapshot(spark, scd)
    assert(pre.subsetOf(post.files.map(_.path).toSet),
      "mor refresh must never rewrite a standing history file")
    assert(post.files.exists(_.dv.isDefined),
      "closures must ride deletion vectors")
    assertHistory(src, scd, w0)
    // folding the vectors away preserves the history bit for bit
    TxLog.compact(spark, scd, targetFiles = 2,
      statsCols = Seq("id", "valid_from"))
    assert(TxLog.snapshot(spark, scd).files.forall(_.dv.isEmpty))
    assertHistory(src, scd, w0)
    // and the maintenance loop continues across the compaction
    TxLog.commitAppend(spark, src, rows((100L, 1000L)))
    Scd2.refresh(spark, scd, mor = true)
    assertHistory(src, scd, w0)
  }

  test("scd2: snapshotAtTime resolves through the source's in-commit-timestamp axis") {
    val src = tmp("scd2ts").toString
    val scd = tmp("scd2tsh").toString + "/t"
    TxLog.commitOverwrite(spark, src, rows((1L, 10L)))
    val w0 = Scd2.create(spark, src, scd, keys = Seq("id"))
    Thread.sleep(15)
    val betweenTs = System.currentTimeMillis()
    Thread.sleep(15)
    TxLog.update(spark, src, col("id") === 1L, Map("v" -> lit(11L)))
    Scd2.refresh(spark, scd)
    // an instant between v0 and v1 sees the PRE-update row
    assert(payloadSet(Scd2.snapshotAtTime(spark, scd, betweenTs)) ==
      Set((1L, 10L)))
    assert(payloadSet(
      Scd2.snapshotAtTime(spark, scd, System.currentTimeMillis())) ==
      Set((1L, 11L)))
    assertHistory(src, scd, w0)
  }

  test("scd2: out-of-order and duplicate directives refuse; create refuses a non-keyed source") {
    val src = tmp("scd2ref").toString
    val scd = tmp("scd2refh").toString + "/t"
    TxLog.commitOverwrite(spark, src, rows((1L, 10L)))
    TxLog.commitAppend(spark, src, rows((2L, 20L)))
    Scd2.create(spark, src, scd, keys = Seq("id"))

    val s = spark
    import s.implicits._
    // watermark is 1: a directive at seq 1 is not after the standing
    // segment's valid_from — refused, history is append-forward
    val stale = Seq((1L, 12L, 1L, false)).toDF("id", "v", "seq", "del")
    val e1 = intercept[IllegalArgumentException] {
      Scd2.applyDirectives(spark, scd, stale, "del", "seq")
    }
    assert(e1.getMessage.contains("out-of-order"))

    val dup = Seq((1L, 12L, 5L, false), (1L, 13L, 5L, false))
      .toDF("id", "v", "seq", "del")
    val e2 = intercept[IllegalArgumentException] {
      Scd2.applyDirectives(spark, scd, dup, "del", "seq")
    }
    assert(e2.getMessage.contains("duplicate directive"))

    // a fresh, strictly-later directive batch through the raw form
    // works and carries NO watermark (refresh stays independent)
    val ok = Seq((1L, 12L, 7L, false)).toDF("id", "v", "seq", "del")
    Scd2.applyDirectives(spark, scd, ok, "del", "seq")
    assert(payloadSet(Scd2.current(spark, scd)) ==
      Set((1L, 12L), (2L, 20L)))

    val dupSrc = tmp("scd2dupsrc").toString
    TxLog.commitOverwrite(spark, dupSrc,
      rows((1L, 10L), (1L, 11L)))
    val e3 = intercept[IllegalArgumentException] {
      Scd2.create(spark, dupSrc, tmp("scd2duph").toString + "/t",
        keys = Seq("id"))
    }
    assert(e3.getMessage.contains("not unique"))
  }

  test("scd2: a null-seq group counts as one distinct seq; the guards run as one scd2-envelope action") {
    val src = tmp("scd2null").toString
    val scd = tmp("scd2nullh").toString + "/t"
    TxLog.commitOverwrite(spark, src, rows((1L, 10L), (2L, 20L)))
    Scd2.create(spark, src, scd, keys = Seq("id"))
    val s = spark
    import s.implicits._
    def directives(t: (Long, Long, Option[Long])*) =
      t.toSeq.toDF("id", "v", "seq").withColumn("del", lit(false))

    // two null-seq directives for one key are ambiguous
    val e = intercept[IllegalArgumentException] {
      Scd2.applyDirectives(spark, scd,
        directives((1L, 11L, None), (1L, 12L, None)), "del", "seq")
    }
    assert(e.getMessage.contains("duplicate directive"))

    // one null-seq and one valued directive are two distinct seq
    // values: not a duplicate, and the guards answer in ONE labelled
    // action — no separate dup-check job (past the held budget; held
    // directives answer them on the driver, HeldSpec)
    val (_, jobs) = TxLog.HeldBudget.withValue(0L)(jobDescriptions(
      Scd2.applyDirectives(spark, scd,
        directives((1L, 11L, None), (1L, 12L, Some(5L))), "del", "seq")))
    assert(jobs.contains("txlog:scd2-envelope"), jobs)
    assert(!jobs.contains("txlog:scd2-dup-check"), jobs)
    assert(payloadSet(Scd2.current(spark, scd)) ==
      Set((1L, 12L), (2L, 20L)))
    // the valued directive supersedes the null-seq one: it writes no
    // segment, so every history row opens at a version
    val history = TxLog.read(spark, scd)
    assert(history.filter(col(Scd2.ValidFrom).isNull).count() == 0L,
      history.collect().mkString(", "))

    // a key whose directives are ALL null-seq has no version to open
    // a segment at: refused by name, history unchanged
    val before = history.collect().map(_.toString).toSet
    val e2 = intercept[IllegalArgumentException] {
      Scd2.applyDirectives(spark, scd,
        directives((2L, 21L, None), (1L, 13L, Some(6L))), "del", "seq")
    }
    assert(e2.getMessage.contains("id=2") &&
      e2.getMessage.contains("only null-seq"), e2.getMessage)
    assert(TxLog.read(spark, scd).collect().map(_.toString).toSet == before)
  }

  test("scd2: directive plan is keyed — no cartesian, window partitioned by key; snapshotAt prunes append-only refresh files") {
    val src = tmp("scd2plan").toString
    val scd = tmp("scd2planh").toString + "/t"
    TxLog.commitOverwrite(spark, src,
      rows((0L until 8L).map(i => (i, i)): _*), statsCols = Seq("id"))
    val w0 = Scd2.create(spark, src, scd, keys = Seq("id"))

    // plan shape of the netting + segmentation path
    TxLog.update(spark, src, col("id") === 1L, Map("v" -> lit(101L)))
    val spec = Scd2.readMeta(spark, scd)
    val feed = TxLog.changeFeed(spark, src, w0, Some(w0 + 1))
    val qe = Scd2.feedDirectives(spec, feed).queryExecution
    val p = qe.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p)
    Scd2.refresh(spark, scd)

    // an append-only span stages files whose valid_from stats sit
    // entirely ABOVE the creation version: snapshotAt(create) must
    // prune them out
    TxLog.commitAppend(spark, src,
      rows((100L until 108L).map(i => (i, i)): _*))
    Scd2.refresh(spark, scd)
    val all = TxLog.read(spark, scd).inputFiles.length
    val pruned = Scd2.snapshotAt(spark, scd, w0).inputFiles.length
    assert(pruned < all,
      s"snapshotAt read $pruned of $all files — no valid_from pruning")
    assertHistory(src, scd, w0)
  }

  test("vector commits net like rewrites: identity updates and upserts feed nothing, open no version") {
    val s = spark
    import s.implicits._
    val same = Seq((3L, 3L, false)).toDF("id", "v", "_del")
    val verbs: Seq[(String, String => Long)] = Seq(
      "update" -> (d => TxLog.update(spark, d, col("id") === 3L,
        Map("v" -> col("v")))),
      "updateMor" -> (d => TxLog.updateMor(spark, d, col("id") === 3L,
        Map("v" -> col("v")))),
      "applyChanges" -> (d => TxLog.applyChanges(spark, d, same,
        Seq("id"), "_del")),
      "applyChangesMor" -> (d => TxLog.applyChangesMor(spark, d, same,
        Seq("id"), "_del")))
    verbs.foreach { case (name, verb) =>
      val src = tmp(s"scd2same_$name").toString
      val scd = tmp(s"scd2sameh_$name").toString + "/t"
      TxLog.commitOverwrite(spark, src,
        rows((0L until 10L).map(i => (i, i)): _*).coalesce(1),
        statsCols = Seq("id"))
      TxLog.deleteMor(spark, src, col("id") === 9L) // the table's vector
      val w0 = Scd2.create(spark, src, scd, keys = Seq("id"))
      assert(TxLog.read(spark, scd).count() == 9L)
      val v = verb(src)
      assert(v == w0 + 1, s"$name committed nothing")
      val feed = TxLog.changeFeed(spark, src, w0, Some(v))
        .select("id", "v", "_change_type").as[(Long, Long, String)]
        .collect().toSeq
      assert(feed.isEmpty, s"$name: an identity change fed $feed")
      Scd2.refresh(spark, scd)
      assert(TxLog.read(spark, scd).count() == 9L,
        s"$name opened a spurious history version")
      assertHistory(src, scd, w0)
    }
  }
}
