package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Held
import org.apache.spark.sql.types._

import graft.sources.{MaterializedAgg, Scd2, TxLog}

/** Driver-held relations (`TxLog.checkpointed`): the budget decision,
  * the driver folds that replace the keyed applies' and followers'
  * shape and guard aggregates, what lost executor blocks do to each
  * form, and the `_metadata` metadata-column resolution of the tagged
  * reader.
  */
class HeldSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString + "/t"

  private def frame(schema: StructType, rows: Row*): DataFrame =
    spark.createDataFrame(rows.asJava, schema).repartition(3)

  /** `rel` checkpointed both ways: held (default budget) and
    * distributed (zero budget). */
  private def forms(rel: DataFrame): (DataFrame, DataFrame) = {
    val held = TxLog.checkpointed(rel, "held")
    val dist = TxLog.HeldBudget.withValue(0L)(TxLog.checkpointed(rel, "dist"))
    assert(held.queryExecution.analyzed.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    assert(dist.queryExecution.analyzed.isInstanceOf[LogicalRDD])
    (held, dist)
  }

  /** The one-row aggregate `agg` folded on the driver over the held
    * form — with no job — equals Spark's answer over the distributed
    * form. */
  private def sameHead(rel: DataFrame)(agg: DataFrame => DataFrame): Row = {
    val (held, dist) = forms(rel)
    try {
      val (folded, jobs) = jobDescriptions(TxLog.foldedHead(agg(held)))
      assert(jobs.isEmpty, jobs)
      val distributed = agg(dist).head()
      assert(folded.schema == distributed.schema)
      assert(folded == distributed, s"held $folded, distributed $distributed")
      folded
    } finally TxLog.releaseCheckpoint(dist)
  }

  /** `rel` held and distributed give the same rows of `q` (as a
    * multiset), the held one a driver-held relation. */
  private def sameFrame(rel: DataFrame)(q: DataFrame => DataFrame): Unit = {
    val (held, dist) = forms(rel)
    try {
      val (folded, jobs) = jobDescriptions {
        val f = Held.folded(q(held))
        assert(f.queryExecution.analyzed.isInstanceOf[
          org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
        f.collect().map(_.toString).sorted.toSeq
      }
      assert(jobs.isEmpty, jobs)
      assert(folded == q(dist).collect().map(_.toString).sorted.toSeq)
    } finally TxLog.releaseCheckpoint(dist)
  }

  private val nan2 = java.lang.Double.longBitsToDouble(0x7ff8000000000123L)
  private def dec(s: String) = new java.math.BigDecimal(s)
  private def date(s: String) = java.sql.Date.valueOf(s)

  /** Key columns of every kind the folds must group like Spark: a
    * double (null, two NaN bit patterns, -0.0 beside 0.0), a string,
    * a decimal and a date, each with a null. */
  private val keyFields = Seq(StructField("k", DoubleType),
    StructField("s", StringType), StructField("d", DecimalType(10, 2)),
    StructField("dt", DateType))
  private val keyRows: Seq[Seq[Any]] = Seq(
    Seq(null, "a", dec("1.00"), date("2024-01-01")),
    Seq(Double.NaN, "b", dec("2.50"), date("2024-02-01")),
    Seq(nan2, "b", dec("2.50"), date("2024-02-01")),
    Seq(-0.0, "c", dec("-3.25"), date("1999-12-31")),
    Seq(0.0, "c", dec("-3.25"), date("1999-12-31")),
    Seq(1.5, null, null, null),
    Seq(1.5, null, null, null),
    Seq(2.5, "é", dec("0.01"), date("2024-01-01")))
  private val keySets = Seq(Seq("k"), Seq("s"), Seq("d"), Seq("dt"),
    Seq("k", "s", "d", "dt"))

  test("apply-shape: the driver fold equals the distributed aggregate") {
    val schema = StructType(keyFields ++ Seq(StructField("v", LongType),
      StructField("del", BooleanType)))
    // key 1.5 holds a delete and an insert; the last row's flag is null
    val dels = Seq(false, false, true, false, true, true, false, null)
    val rel = frame(schema, keyRows.zip(dels).zipWithIndex.map {
      case ((k, del), i) => Row.fromSeq(k ++ Seq(i.toLong, del)) }: _*)
    val empty = frame(schema)
    keySets.foreach { keys =>
      val shape = sameHead(rel)(TxLog.applyShape(_, keys, "del"))
      assert(shape.getAs[Long]("_graft_nkeys") > 0L)
      sameHead(empty)(TxLog.applyShape(_, keys, "del"))
      sameFrame(rel)(_.select(keys.map(col): _*).distinct())
    }
    // NaN and -0.0 group as Spark groups them: 5 keys (null, NaN, 0.0,
    // 1.5, 2.5), three of them doubled, and 1.5 in both forms
    val k = sameHead(rel)(TxLog.applyShape(_, Seq("k"), "del"))
    assert(k.getAs[Long]("_graft_nkeys") == 5L)
    assert(k.getAs[Long]("_graft_maxn") == 2L)
    assert(k.getAs[Long]("_graft_maxforms") == 2L)
  }

  test("scd2-envelope and firsts: the driver fold equals the distributed aggregate") {
    val schema = StructType(keyFields ++ Seq(StructField("v", LongType),
      StructField("_scd2_seq", LongType), StructField("_scd2_del", BooleanType)))
    // the NaN pair and the 0.0 pair each repeat a seq (duplicates); key
    // 1.5 holds a null seq beside a valued one; 2.5 only a null seq
    val seqs = Seq[Any](1L, 2L, 2L, 3L, 3L, null, 4L, null)
    val rel = frame(schema, keyRows.zip(seqs).zipWithIndex.map {
      case ((k, seq), i) => Row.fromSeq(k ++ Seq(i.toLong, seq, i % 3 == 0)) }: _*)
    keySets.foreach { keys =>
      sameHead(rel)(Scd2.envelope(_, keys))
      sameHead(frame(schema))(Scd2.envelope(_, keys))
      sameFrame(rel)(Scd2.firstSeqs(_, keys))
    }
    val env = sameHead(rel)(Scd2.envelope(_, Seq("k")))
    assert(env.getLong(1) == 2L && env.getStruct(2).getDouble(0) == 2.5, env)
  }

  test("scd2-envelope: a null-seq-only key is refused by the same name held or distributed") {
    val src = tmp("heldnull")
    val scd = tmp("heldnullh")
    TxLog.commitOverwrite(spark, src, spark.range(1, 4).toDF("id")
      .withColumn("v", col("id") * 10))
    Scd2.create(spark, src, scd, keys = Seq("id"))
    val s = spark
    import s.implicits._
    val directives = Seq((9L, 1L, Option.empty[Long]), (3L, 2L, None),
      (5L, 3L, Some(7L))).toDF("id", "v", "seq").withColumn("del", lit(false))
    def refusal(): String = intercept[IllegalArgumentException] {
      Scd2.applyDirectives(spark, scd, directives, "del", "seq")
    }.getMessage
    val held = refusal()
    val dist = TxLog.HeldBudget.withValue(0L)(refusal())
    assert(held.contains("key (id=3) has only null-seq"), held)
    assert(held == dist)
  }

  test("scd2-stale-check: the driver filter equals the distributed one") {
    val schema = StructType(Seq(StructField("id", DoubleType),
      StructField(Scd2.ValidFrom, LongType), StructField(Scd2.IsCurrent, BooleanType),
      StructField("_scd2_first", LongType)))
    val rows = Seq(Row(null, 1L, true, 5L), Row(Double.NaN, 2L, false, 7L),
      Row(-0.0, 3L, true, 9L), Row(4.0, 6L, true, 6L))
    val stale = frame(schema, rows: _*)
    val clean = frame(schema, rows.init: _*)
    Seq(stale -> 1, clean -> 0).foreach { case (rel, n) =>
      val (held, dist) = forms(rel)
      try {
        val (folded, jobs) = jobDescriptions(Scd2.staleRows(held, Seq("id")))
        assert(jobs.isEmpty, jobs)
        assert(folded.size == n)
        assert(folded == Scd2.staleRows(dist, Seq("id")))
      } finally TxLog.releaseCheckpoint(dist)
    }
  }

  test("mv-envelope: the driver fold equals the distributed aggregate") {
    val schema = StructType(keyFields :+ StructField("_retract", IntegerType))
    val rel = frame(schema, keyRows.zipWithIndex.map { case (k, i) =>
      Row.fromSeq(k :+ (i % 2)) }: _*)
    keySets.foreach { keys =>
      sameHead(rel)(MaterializedAgg.envelope(_, keys))
      sameHead(frame(schema))(MaterializedAgg.envelope(_, keys))
    }
  }

  test("held directives: guards fold with no job, touched probes and survivors broadcast") {
    val s = spark
    import s.implicits._
    val dir = tmp("heldjobs")
    TxLog.commitOverwrite(spark, dir, (1L to 40L).map(i => (i, i % 4, i * 10))
      .toDF("id", "g", "v").repartition(2), statsCols = Seq("id"))
    val scd = tmp("heldjobsh")
    Scd2.create(spark, dir, scd, keys = Seq("id"))
    val mv = tmp("heldjobsm")
    MaterializedAgg.create(spark, dir, mv, keys = Seq("g"), sums = Seq("v"),
      mins = Seq("v"))
    TxLog.delete(spark, dir, col("id") === 3L)
    val plans = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val qel = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = { plans.add(qe.executedPlan.toString); () }
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(qel)
    val (_, jobs) = try jobDescriptions {
      TxLog.merge(spark, dir, Seq((2L, 2L, 21L), (41L, 1L, 410L))
        .toDF("id", "g", "v"), Seq("id"))
      Scd2.refresh(spark, scd)
      MaterializedAgg.refresh(spark, mv)
    } finally {
      org.apache.spark.GraftSparkAccess.waitUntilListenerBusEmpty(
        spark.sparkContext, 30000)
      spark.listenerManager.unregister(qel)
    }
    Seq("apply-shape", "scd2-envelope", "scd2-stale-check", "mv-envelope")
      .foreach(l => assert(!jobs.contains(s"txlog:$l"), s"$l: $jobs"))
    // the directive keys are a held relation: every semi and anti join
    // against them is a broadcast planned before execution
    val keyed = plans.asScala.filter(p =>
      p.contains("LeftSemi") || p.contains("LeftAnti"))
    assert(keyed.nonEmpty)
    keyed.foreach(p => assert(!p.contains("SortMergeJoin"), p))
    assert(keyed.exists(_.contains("BroadcastHashJoin")), keyed)
    assert(Scd2.current(spark, scd).count() == 40L)
    assert(TxLog.read(spark, mv).count() == 4L)
  }

  test("past the budget: the same jobs and plans as Spark's eager localCheckpoint") {
    // two separate frames: a frame's executed plan keeps its shuffle
    def df = spark.range(0, 1000, 1, 4).toDF("id")
      .groupBy((col("id") % 10).as("g")).agg(sum("id").as("s"))
    val (eager, sparkJobs) = jobDescriptions(df.localCheckpoint(eager = true))
    val (ours, ourJobs) = TxLog.HeldBudget.withValue(0L)(
      jobDescriptions(TxLog.checkpointed(df, "x")))
    try {
      assert(ourJobs.size == sparkJobs.size, (ourJobs, sparkJobs))
      val (a, b) = (eager.queryExecution.analyzed.asInstanceOf[LogicalRDD],
        ours.queryExecution.analyzed.asInstanceOf[LogicalRDD])
      def ids(x: Any) =
        x.toString.replaceAll("#\\d+", "#").replaceAll("plan_id=\\d+", "plan_id=")
      assert(a.schema == b.schema)
      assert(ids(a.outputPartitioning) == ids(b.outputPartitioning))
      assert(ids(a.outputOrdering) == ids(b.outputOrdering))
      assert(a.computeStats() == b.computeStats())
      assert(a.rdd.getStorageLevel == b.rdd.getStorageLevel)
      assert(b.rdd.isCheckpointed)
      def plan(d: DataFrame) =
        ids(d.groupBy("g").count().filter(col("g") > 2).queryExecution.executedPlan)
      assert(plan(ours) == plan(eager))
      assert(ours.collect().toSet == eager.collect().toSet)
    } finally {
      TxLog.releaseCheckpoint(ours)
      TxLog.releaseCheckpoint(eager)
    }
  }

  test("the held budget is capped at what the driver accepts back and ships out") {
    val mib = 1024L * 1024L
    def conf(kv: (String, String)*) = new org.apache.spark.SparkConf(false)
      .setAll(kv)
    // defaults: a 1 GiB result cap and a 128 MiB task message
    assert(Held.acceptable(conf()) == 64L * mib)
    assert(Held.acceptable(conf("spark.driver.maxResultSize" -> "10m")) ==
      5L * mib)
    // a non-positive result cap is unlimited: the message size bounds it
    assert(Held.acceptable(conf("spark.driver.maxResultSize" -> "0",
      "spark.rpc.message.maxSize" -> "512")) == 256L * mib)
    // a requested budget past the cap is cut to it
    val df = spark.range(0, 10, 1, 2).toDF("id")
    val (held, m) = Held.checkpoint(df, Long.MaxValue)
    assert(Held.isHeld(held) && m.rows.map(_.size).contains(10))
    assert(Held.acceptable(spark.sparkContext.getConf) < Long.MaxValue)
  }

  test("a held copy-on-write merge writes one file per small rewrite and one for inserts only") {
    val s = spark
    import s.implicits._
    val dir = tmp("heldpack")
    TxLog.commitOverwrite(spark, dir, (1L to 20L).map(i => (i, s"n$i"))
      .toDF("id", "name").repartition(1), statsCols = Seq("id"))
    def files = TxLog.snapshot(spark, dir).files.map(_.path).toSet
    def addedBy(merge: => Unit): Set[String] = {
      val before = files
      merge
      files -- before
    }
    // one touched file: its survivors and four inserts land as one file
    val rewrite = addedBy(TxLog.merge(spark, dir, Seq((2L, "two"),
      (21L, "a"), (22L, "b"), (23L, "c"), (24L, "d")).toDF("id", "name"),
      Seq("id")))
    assert(rewrite.size == 1, rewrite)
    assert(files == rewrite)
    // inserts only: no touched file, one new file
    val inserts = addedBy(TxLog.merge(spark, dir,
      (30L to 35L).map(i => (i, s"n$i")).toDF("id", "name"), Seq("id")))
    assert(inserts.size == 1, inserts)
    assert(TxLog.read(spark, dir).count() == 30L)
  }

  test("each materialization logs its form, rows and bytes") {
    val df = spark.range(0, 10, 1, 2).toDF("id")
    val (_, lines) = infoLines("graft.sources.TxLog") {
      TxLog.checkpointed(df, "probe")
      TxLog.releaseCheckpoint(
        TxLog.HeldBudget.withValue(0L)(TxLog.checkpointed(df, "probe0")))
    }
    val held = lines.collect {
      case l if l.startsWith("txlog materialize probe:") => l }
    val dist = lines.collect {
      case l if l.startsWith("txlog materialize probe0:") => l }
    assert(held.size == 1 && dist.size == 1, lines)
    val HeldLine = "txlog materialize probe: driver rows=10 bytes=(\\d+)".r
    val DistLine = "txlog materialize probe0: distributed bytes=(\\d+)".r
    (held.head, dist.head) match {
      case (HeldLine(b1), DistLine(b2)) => assert(b1 == b2 && b1.toLong > 0L)
      case other => fail(other.toString)
    }
  }

  test("held relations need no executor block: merge and Scd2.refresh commit under lost blocks") {
    val s = spark
    import s.implicits._
    val dir = tmp("heldmerge")
    TxLog.commitOverwrite(spark, dir, (1L to 10L).map(i => (i, s"n$i"))
      .toDF("id", "name").repartition(2), statsCols = Seq("id"))
    val src = tmp("heldscd")
    val scd = tmp("heldscdh")
    TxLog.commitOverwrite(spark, src, Seq((1L, 10L), (2L, 20L)).toDF("id", "v"))
    Scd2.create(spark, src, scd, keys = Seq("id"))
    TxLog.update(spark, src, col("id") === 2L, Map("v" -> lit(21L)))
    TxLog.commitAppend(spark, src, Seq((3L, 30L)).toDF("id", "v"))

    // every job start drops every persisted RDD's blocks
    val sc = spark.sparkContext
    val dropper = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    sc.addSparkListener(dropper)
    try {
      TxLog.merge(spark, dir, Seq((2L, "two"), (11L, "eleven")).toDF("id", "name"),
        Seq("id"))
      Scd2.refresh(spark, scd)
    } finally sc.removeSparkListener(dropper)
    assert(TxLog.read(spark, dir).as[(Long, String)].collect().toSet ==
      ((1L to 10L).map(i => (i, s"n$i")).toSet - ((2L, "n2")) +
        ((2L, "two")) + ((11L, "eleven"))))
    assert(Scd2.current(spark, scd).select("id", "v").as[(Long, Long)]
      .collect().toSet == Set((1L, 10L), (2L, 21L), (3L, 30L)))
    assert(TxLog.read(spark, scd).count() == 4L)
  }

  test("a distributed checkpoint whose blocks are lost fails its consumer: no commit, no staged file") {
    val s = spark
    import s.implicits._
    val dir = tmp("heldlost")
    TxLog.commitOverwrite(spark, dir, (1L to 10L).map(i => (i, s"n$i"))
      .toDF("id", "name").repartition(2), statsCols = Seq("id"))
    val before = TxLog.snapshot(spark, dir).version
    val rows = TxLog.read(spark, dir).collect().toSet
    val src = TxLog.HeldBudget.withValue(0L)(TxLog.checkpointed(
      Seq((2L, "two"), (11L, "eleven")).toDF("id", "name").repartition(2),
      "lost"))
    src.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd
      .unpersist(blocking = true)
    def lostBlock(e: Throwable): Boolean =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("Checkpoint block"))
    assert(lostBlock(intercept[Exception](src.collect())))
    assert(lostBlock(intercept[Exception](
      TxLog.merge(spark, dir, src, Seq("id")))))
    assert(TxLog.snapshot(spark, dir).version == before)
    assert(TxLog.read(spark, dir).collect().toSet == rows)
    val live = TxLog.snapshot(spark, dir).files.map(_.path).toSet
    val root = Paths.get(dir)
    val onDisk = Files.list(root).iterator().asScala
      .map(_.getFileName.toString)
      .filterNot(n => n.startsWith(".") || n == TxLog.LogDir).toSet
    assert(onDisk == live, onDisk -- live)
  }

  test("a table with a _metadata data column: delete, deleteMor, changeFeed and changesSince") {
    val dir = tmp("heldmeta")
    def rows(ids: Range) = spark.range(ids.start, ids.end).toDF("id")
      .withColumn("_metadata", struct((col("id") * 10).as("a")))
    TxLog.commitOverwrite(spark, dir, rows(1 until 6).repartition(1),
      statsCols = Seq("id"))
    def ids(d: DataFrame): Set[(Long, Long)] =
      d.select(col("id"), col("_metadata.a")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    TxLog.delete(spark, dir, col("id") === 2L)
    assert(ids(TxLog.read(spark, dir)) == Set((1L, 10L), (3L, 30L), (4L, 40L),
      (5L, 50L)))
    TxLog.deleteMor(spark, dir, col("id") === 4L)
    assert(ids(TxLog.read(spark, dir)) == Set((1L, 10L), (3L, 30L), (5L, 50L)))
    val feed = TxLog.changeFeed(spark, dir, 0L, Some(2L))
    assert(feed.select(col("id"), col("_metadata.a"), col("_change_type"),
      col("_commit_version")).collect().map(_.toSeq).toSet ==
      Set(Seq(2L, 20L, "delete", 1L), Seq(4L, 40L, "delete", 2L)))
    TxLog.commitAppend(spark, dir, rows(6 until 7))
    assert(ids(TxLog.changesSince(spark, dir, 2L)) == Set((6L, 60L)))
  }
}
