package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.TxLog
import graft.sources.TxLog.IdentitySpec

/** Identity columns (log generation 4 — Delta's `GENERATED { ALWAYS |
  * BY DEFAULT } AS IDENTITY`): generation off the log-tracked high
  * watermark, uniqueness across commits (gaps allowed), the
  * watermark-race commit guard, BY DEFAULT explicit-value absorption,
  * and the ALWAYS refusals across every keyed-rewrite path.
  */
class IdentityColSpec extends SparkSpec {

  private def tmp(prefix: String): Path =
    Files.createTempDirectory(prefix)

  private def payload(n: Int, tag: String): DataFrame = {
    val s = spark
    import s.implicits._
    (0 until n).map(i => (s"$tag$i", i.toLong)).toDF("name", "v")
  }

  private def ids(dir: String): Seq[Long] = {
    val s = spark
    import s.implicits._
    TxLog.read(spark, dir).select("id").as[Long].collect().toSeq
  }

  test("identity: creation-time declaration generates unique ids; appends move past the watermark") {
    val dir = tmp("idcreate").toString
    TxLog.commitOverwrite(spark, dir,
      payload(50, "a").repartition(4),
      identity = Map("id" -> IdentitySpec(start = 1L, step = 1L)))
    val first = ids(dir)
    assert(first.size == 50 && first.distinct.size == 50,
      "generated ids must be unique")
    assert(first.forall(_ >= 1L), "ids start at start")
    val hw0 = TxLog.snapshot(spark, dir).identity("id").high.get
    assert(hw0 == first.max, "watermark is the committed max")
    // a second append generates strictly past the watermark
    TxLog.commitAppend(spark, dir, payload(30, "b").repartition(3))
    val all = ids(dir)
    assert(all.size == 80 && all.distinct.size == 80,
      "uniqueness must hold ACROSS commits")
    assert(all.filterNot(first.contains).forall(_ > hw0),
      "new ids move past the old watermark")
    assert(TxLog.snapshot(spark, dir).identity("id").high.get == all.max)
    // the declaration requires generation-4 readers
    assert(TxLog.snapshot(spark, dir).minReader == 4)
  }

  test("identity ALWAYS: supplying the column refuses, on append and on every keyed rewrite") {
    val s = spark
    import s.implicits._
    val dir = tmp("idalways").toString
    TxLog.commitOverwrite(spark, dir, payload(10, "a"),
      identity = Map("id" -> IdentitySpec(1L, 1L)))
    val withId = TxLog.read(spark, dir).limit(1)
    val e1 = intercept[IllegalArgumentException] {
      TxLog.commitAppend(spark, dir, withId)
    }
    assert(e1.getMessage.contains("GENERATED ALWAYS"))
    val e2 = intercept[IllegalArgumentException] {
      TxLog.merge(spark, dir, withId, keyCols = Seq("id"))
    }
    assert(e2.getMessage.contains("GENERATED ALWAYS"))
    val e3 = intercept[IllegalArgumentException] {
      TxLog.applyChanges(spark, dir,
        withId.withColumn("_del", lit(false)), Seq("id"), "_del")
    }
    assert(e3.getMessage.contains("GENERATED ALWAYS"))
    val e4 = intercept[IllegalArgumentException] {
      TxLog.update(spark, dir, col("v") === 0L, Map("id" -> lit(99L)))
    }
    assert(e4.getMessage.contains("identity column"))
    // DML that does not touch the column still works
    TxLog.delete(spark, dir, col("v") >= 5L)
    TxLog.update(spark, dir, col("v") === 0L, Map("v" -> lit(100L)))
    assert(ids(dir).distinct.size == 5)
  }

  test("identity BY DEFAULT: explicit values flow and the watermark absorbs them; mixed NULLs refuse, all-NULL generates; merge flows") {
    val s = spark
    import s.implicits._
    val dir = tmp("iddefault").toString
    TxLog.commitOverwrite(spark, dir, payload(5, "a"),
      identity = Map("id" -> IdentitySpec(1L, 1L, always = false)))
    val hw0 = TxLog.snapshot(spark, dir).identity("id").high.get
    // explicit ids far past the watermark
    TxLog.commitAppend(spark, dir,
      Seq(("x", 0L, 1000L), ("y", 1L, 2000L)).toDF("name", "v", "id")
        .select("name", "v", "id"))
    assert(TxLog.snapshot(spark, dir).identity("id").high.get == 2000L,
      "watermark absorbs explicit values")
    // generation resumes past the absorbed watermark
    TxLog.commitAppend(spark, dir, payload(3, "b"))
    assert(ids(dir).max > 2000L)
    assert(ids(dir).distinct.size == ids(dir).size)
    // a MIXED batch (values + NULLs) refuses — identity is
    // conceptually NOT NULL; an ALL-NULL column reads as omission
    // (the SQL-INSERT engine-fill shape) and generates instead
    val e = intercept[IllegalArgumentException] {
      TxLog.commitAppend(spark, dir,
        Seq(("z", 0L, Option(9000L)), ("z2", 0L, Option.empty[Long]))
          .toDF("name", "v", "id"))
    }
    assert(e.getMessage.contains("NULL"))
    val before = ids(dir).size
    TxLog.commitAppend(spark, dir,
      Seq(("w", 0L, Option.empty[Long])).toDF("name", "v", "id"))
    val after = ids(dir)
    assert(after.size == before + 1 && after.distinct.size == after.size,
      "an all-NULL identity column generates as if omitted")
    // merge with explicit ids (BY DEFAULT) works and absorbs
    val row = TxLog.read(spark, dir).limit(1)
      .withColumn("v", lit(-1L)).withColumn("id", lit(5000L))
    TxLog.merge(spark, dir, row, keyCols = Seq("id"),
      statsCols = Seq("id"))
    assert(TxLog.snapshot(spark, dir).identity("id").high.get == 5000L)
    TxLog.commitAppend(spark, dir, payload(2, "c"))
    assert(ids(dir).max > 5000L && ids(dir).distinct.size == ids(dir).size)
  }

  test("identity: setIdentity seeds the watermark from live data; dropIdentity releases the column") {
    val s = spark
    import s.implicits._
    val dir = tmp("idset").toString
    TxLog.commitOverwrite(spark, dir,
      Seq(("a", 7L), ("b", 41L), ("c", 12L)).toDF("name", "id")
        .select("name", "id"),
      statsCols = Seq("id"))
    TxLog.setIdentity(spark, dir, "id", start = 1L, step = 1L)
    assert(TxLog.snapshot(spark, dir).identity("id") ==
      IdentitySpec(1L, 1L, Some(41L), always = true))
    TxLog.commitAppend(spark, dir, Seq(("d")).toDF("name"))
    val all = TxLog.read(spark, dir).select("id").as[Long].collect()
    assert(all.distinct.length == 4 && all.max > 41L)
    // redeclaration refuses; drop then redeclare works
    intercept[IllegalArgumentException] {
      TxLog.setIdentity(spark, dir, "id")
    }
    TxLog.dropIdentity(spark, dir, "id")
    assert(TxLog.snapshot(spark, dir).identity.isEmpty)
    // without the declaration, an append omitting the column is a
    // plain schema mismatch again
    intercept[IllegalArgumentException] {
      TxLog.commitAppend(spark, dir, Seq(("e")).toDF("name"))
    }
  }

  test("identity: a stale watermark conflicts at the commit claim (baked values cannot rebase)") {
    val s = spark
    import s.implicits._
    val dir = tmp("idrace").toString
    TxLog.commitOverwrite(spark, dir, payload(4, "a"),
      identity = Map("id" -> IdentitySpec(1L, 1L)))
    val stale = TxLog.snapshot(spark, dir).identity("id").high
    // another writer commits first and moves the watermark
    TxLog.commitAppend(spark, dir, payload(4, "b"))
    // our staged write still claims the STALE watermark → conflict
    val staged = TxLog.stageData(spark, dir,
      payload(2, "c").withColumn("id",
        lit(100L) + monotonically_increasing_id()), Seq("id"))._1
    val e = intercept[java.util.ConcurrentModificationException] {
      TxLog.commitStaged(spark, dir, "append", staged, Nil,
        removeAll = false, TxLog.snapshot(spark, dir).schemaJson, None,
        staged = staged.map(_.path),
        meta = _ => TxLog.Meta(identity =
          Some(Map("id" -> IdentitySpec(1L, 1L, Some(999L))))),
        expectIdentity = Map("id" -> stale))
    }
    assert(e.getMessage.contains("identity watermark"))
  }

  test("identity: survives checkpoints, restore, and rides both clone forms") {
    val s = spark
    import s.implicits._
    val dir = tmp("idcp").toString
    TxLog.commitOverwrite(spark, dir, payload(5, "a"),
      identity = Map("id" -> IdentitySpec(1L, 1L)))
    // enough commits to cross a checkpoint boundary
    (1 to 12).foreach(i => TxLog.commitAppend(spark, dir, payload(2, s"b$i")))
    val snap = TxLog.snapshot(spark, dir)
    assert(snap.identity.contains("id") &&
      snap.identity("id").high.get == ids(dir).max)
    // restore keeps the watermark (ids never recycle)
    val hw = snap.identity("id").high.get
    TxLog.restore(spark, dir, 3L)
    assert(TxLog.snapshot(spark, dir).identity("id").high.get == hw)
    TxLog.commitAppend(spark, dir, payload(2, "post"))
    assert(ids(dir).max > hw)
    // both clones carry the declaration and generate past it
    val sh = tmp("idcpsh").toString + "/t"
    TxLog.clone(spark, dir, sh)
    TxLog.commitAppend(spark, sh, payload(2, "cl"))
    val shIds = TxLog.read(spark, sh).select("id").as[Long].collect()
    assert(shIds.distinct.length == shIds.length)
    val dp = tmp("idcpdp").toString + "/t"
    TxLog.deepClone(spark, dir, dp)
    assert(TxLog.snapshot(spark, dp).identity ==
      TxLog.snapshot(spark, dir).identity)
    // identity columns cannot be renamed or dropped while declared
    intercept[IllegalArgumentException] {
      TxLog.renameColumn(spark, dir, "id", "id2")
    }
    intercept[IllegalArgumentException] {
      TxLog.dropColumn(spark, dir, "id")
    }
  }

  test("identity: negative step counts down; syncIdentity repairs a drifted watermark") {
    val s = spark
    import s.implicits._
    val dir = tmp("idneg").toString
    TxLog.commitOverwrite(spark, dir, payload(10, "a"),
      identity = Map("id" -> IdentitySpec(-1L, -1L)))
    val first = ids(dir)
    assert(first.forall(_ <= -1L) && first.distinct.size == 10)
    TxLog.commitAppend(spark, dir, payload(5, "b"))
    val all = ids(dir)
    assert(all.distinct.size == 15)
    assert(all.filterNot(first.contains).forall(_ < first.min),
      "negative step generates below the low watermark")
    // drift the watermark manually (as a stats-less legacy write
    // would), then sync from live data
    TxLog.dropIdentity(spark, dir, "id")
    TxLog.setIdentity(spark, dir, "id", start = -1L, step = -1L)
    assert(TxLog.snapshot(spark, dir).identity("id").high.get == all.min)
    TxLog.syncIdentity(spark, dir)
    assert(TxLog.snapshot(spark, dir).identity("id").high.get == all.min)
  }
}
