package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.etl._
import graft.quality.{DataZone, Dimension, Rule}

/** SURVEY.md §2.3 #26 — MedallionPipeline API: zone writes for all four
  * load types, quality-gated promotion with quarantine. */
class EtlSpec extends SparkSpec {
  private val s = SparkSpec.spark
  import s.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("medallion").toString

  private def df(rows: (Long, String, Double)*) =
    rows.toDF("id", "code", "value")

  test("every zone dataset is logged; useTxLog = false is refused") {
    val p = new MedallionPipeline(spark, freshRoot())
    p.write(DataZone.Raw, "t", df((1L, "a", 1.0)), LoadType.Full)
    assert(graft.sources.TxLog.isLogged(spark, p.path(DataZone.Raw, "t")))
    val e = intercept[IllegalArgumentException] {
      new MedallionPipeline(spark, freshRoot(), useTxLog = false)
    }
    assert(e.getMessage.contains("plain-parquet zones are gone"))
  }

  test("FULL overwrites, APPEND accumulates") {
    val p = new MedallionPipeline(spark, freshRoot())
    p.write(DataZone.Raw, "t", df((1L, "a", 1.0)), LoadType.Full)
    p.write(DataZone.Raw, "t", df((2L, "b", 2.0)), LoadType.Full)
    assert(p.read(DataZone.Raw, "t").count() == 1)
    p.write(DataZone.Raw, "t", df((3L, "c", 3.0)), LoadType.Append)
    assert(p.read(DataZone.Raw, "t").count() == 2)
  }

  test("MERGE upserts by key with incoming precedence") {
    val p = new MedallionPipeline(spark, freshRoot())
    p.write(DataZone.Bronze, "t", df((1L, "old", 1.0), (2L, "keep", 2.0)),
      LoadType.Full)
    p.write(DataZone.Bronze, "t", df((1L, "new", 10.0), (3L, "ins", 3.0)),
      LoadType.Merge, key = Seq("id"))
    val out = p.read(DataZone.Bronze, "t").orderBy("id").collect()
    assert(out.length == 3)
    assert(out.map(r => r.getLong(0) -> r.getString(1)).toMap ==
      Map(1L -> "new", 2L -> "keep", 3L -> "ins"))
  }

  test("INCREMENTAL inserts only unseen keys") {
    val p = new MedallionPipeline(spark, freshRoot())
    p.write(DataZone.Bronze, "t", df((1L, "v1", 1.0)), LoadType.Full)
    p.write(DataZone.Bronze, "t", df((1L, "v2", 9.0), (2L, "v1", 2.0)),
      LoadType.Incremental, key = Seq("id"))
    val out = p.read(DataZone.Bronze, "t").orderBy("id").collect()
    assert(out.map(r => r.getLong(0) -> r.getString(1)).toMap ==
      Map(1L -> "v1", 2L -> "v1")) // key 1 kept its existing version
  }

  test("runJob applies transforms and quarantines failing rows") {
    val p = new MedallionPipeline(spark, freshRoot())
    p.write(DataZone.Raw, "t",
      df((1L, "  ok ", 1.0), (2L, "NULL", 2.0), (3L, "x", -1.0)),
      LoadType.Full)
    val rules = Seq(
      Rule("R1", "value_nonneg", Dimension.Accuracy, "major",
        fails = col("value") < 0, failBelow = 1.0, warnBelow = 1.0))
    val res = p.runJob("job1", "t", DataZone.Raw, DataZone.Bronze,
      LoadType.Full,
      transforms = Seq(Transforms.trimStrings, Transforms.nullHandling),
      rules = rules, key = Seq("id"))
    assert(res.recordsRead == 3)
    assert(res.recordsQuarantined == 1)
    assert(res.recordsWritten == 2)
    val bronze = p.read(DataZone.Bronze, "t").orderBy("id").collect()
    assert(bronze.map(_.getString(1)).toSeq == Seq("ok", null)) // trimmed + nulled
    val q = p.quarantined("job1", "t")
    assert(q.count() == 1)
    // quarantine audit stamp (etl_manager.py:371-392)
    assert(q.columns.toSet.intersect(Set(
      "_quarantine_time", "_quarantine_reason", "_quality_score")).size == 3)
    assert(q.head().getAs[String]("_quarantine_reason") == "failed")
    assert(res.qualityReport.exists(!_.promotionEligible))
  }

  test("runJob hard-fails when the gate fails and quarantine is disabled") {
    val p = new MedallionPipeline(spark, freshRoot())
    p.write(DataZone.Raw, "t",
      df((1L, "a", 1.0), (2L, "b", -2.0), (3L, "c", -3.0)), LoadType.Full)
    val rules = Seq(
      Rule("R1", "value_nonneg", Dimension.Accuracy, "major",
        fails = col("value") < 0, failBelow = 1.0, warnBelow = 1.0))
    val res = p.runJob("failjob", "t", DataZone.Raw, DataZone.Bronze,
      LoadType.Full, rules = rules, enableQuarantine = false)
    assert(res.status == "failed") // etl_manager.py:298-306 hard-fail path
    assert(res.recordsWritten == 0)
    assert(res.recordsQuarantined == 0)
    assert(res.errorMessage.exists(_.contains("Quality gate failed")))
    assert(!p.exists(DataZone.Bronze, "t")) // nothing written
    assert(res.qualityReport.exists(!_.promotionEligible))
  }

  test("runJob records plan-derived lineage into the attached tracker") {
    val lt = new graft.lineage.LineageTracker()
    val p = new MedallionPipeline(spark, freshRoot(), lineage = Some(lt))
    p.write(DataZone.Raw, "t", df((1L, "a", 1.0)), LoadType.Full)
    val res = p.runJob("linjob", "t", DataZone.Raw, DataZone.Bronze,
      LoadType.Full, transforms = Seq(Transforms.trimStrings))
    assert(res.status == "completed")
    assert(lt.getAsset("asset_bronze_t").nonEmpty)
    // upstream of the bronze asset is the raw-zone parquet the plan read
    val up = lt.getUpstreamLineage("asset_bronze_t")
    assert(up.nonEmpty)
    assert(lt.getDownstreamImpact(up.head._1).map(_._1)
      .contains("asset_bronze_t"))
    // the step carries column-level lineage derived from the plan
    assert(lt.exportForAudit()("transformation_count") == 1)
    // the registry is queryable as DataFrames
    val (assets, edges) = lt.toDataFrames(spark)
    assert(assets.filter(col("zone") === "bronze").count() == 1)
    assert(edges.filter(col("output_asset") === "asset_bronze_t")
      .count() >= 1)
    // the job bracketed a pipeline run carrying its recorded step
    // (etl_manager.py:94-116 — jobs feed run history)
    val runs = lt.exportForAudit()("pipeline_runs")
      .asInstanceOf[Seq[graft.lineage.PipelineRun]]
    assert(runs.size == 1)
    assert(runs.head.pipelineName == "linjob")
    assert(runs.head.status == "completed")
    assert(runs.head.stepIds.size == 1)
    // audit timing parity with ETLJob.to_dict
    assert(res.startedAtMs > 0)
    assert(res.completedAtMs >= res.startedAtMs)
    assert(res.durationMs == res.completedAtMs - res.startedAtMs)
  }

  test("hard-failed runJob records a failed pipeline run") {
    val lt = new graft.lineage.LineageTracker()
    val p = new MedallionPipeline(spark, freshRoot(), lineage = Some(lt))
    p.write(DataZone.Raw, "t", df((1L, "a", -1.0)), LoadType.Full)
    val rules = Seq(
      Rule("R1", "value_nonneg", Dimension.Accuracy, "major",
        fails = col("value") < 0, failBelow = 1.0, warnBelow = 1.0))
    val res = p.runJob("failrun", "t", DataZone.Raw, DataZone.Bronze,
      LoadType.Full, rules = rules, enableQuarantine = false)
    assert(res.status == "failed")
    val runs = lt.exportForAudit()("pipeline_runs")
      .asInstanceOf[Seq[graft.lineage.PipelineRun]]
    assert(runs.size == 1 && runs.head.status == "failed")
  }

  test("named transform registry mirrors register_transform semantics") {
    val p = new MedallionPipeline(spark, freshRoot())
    assert(p.registeredTransforms.contains("trim_strings"))
    p.registerTransform("drop_negative")(df => df.filter(col("value") >= 0))
    p.write(DataZone.Raw, "t",
      df((1L, " a ", 1.0), (2L, "NULL", -5.0)), LoadType.Full)
    val res = p.runJobNamed("named", "t", DataZone.Raw, DataZone.Bronze,
      LoadType.Full,
      Seq("trim_strings", "null_handling", "drop_negative"))
    assert(res.recordsWritten == 1)
    val row = p.read(DataZone.Bronze, "t").head()
    assert(row.getString(1) == "a")
    intercept[IllegalArgumentException](p.transform("nope"))
  }

  test("in-place FULL job (source zone == target zone) is safe") {
    val p = new MedallionPipeline(spark, freshRoot())
    p.write(DataZone.Bronze, "t", df((1L, " pad ", 1.0), (2L, "x", 2.0)),
      LoadType.Full)
    val res = p.runJob("inplace", "t", DataZone.Bronze, DataZone.Bronze,
      LoadType.Full, transforms = Seq(Transforms.trimStrings))
    assert(res.recordsWritten == 2)
    val out = p.read(DataZone.Bronze, "t").orderBy("id").collect()
    assert(out.map(_.getString(1)).toSeq == Seq("pad", "x"))
    // the staging dir was swapped into place (rename, single write),
    // not read back and rewritten
    assert(!new java.io.File(p.path(DataZone.Bronze, "t") + "__staging")
      .exists())
  }

  test("promoteZone moves clean data to the next zone") {
    val p = new MedallionPipeline(spark, freshRoot())
    p.write(DataZone.Bronze, "t", df((1L, "a", 1.0), (2L, "b", 2.0)),
      LoadType.Full)
    val res = p.promoteZone("t", DataZone.Bronze, DataZone.Silver)
    assert(res.status == "completed")
    assert(p.read(DataZone.Silver, "t").count() == 2)
  }

  test("bucketed writes make the keyed join shuffle-free") {
    val p = new MedallionPipeline(spark, freshRoot())
    val orders = Tables(spark, sf, "orders")
    val lineitem = Tables(spark, sf, "lineitem")
    val tOrders = p.writeBucketed(DataZone.Gold, "orders_b", orders,
      Seq("o_orderkey"), 8)
    val tLi = p.writeBucketed(DataZone.Gold, "lineitem_b", lineitem,
      Seq("l_orderkey"), 8)
    // force the non-broadcast path so co-location is what's being tested
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = p.readTable(tLi).join(p.readTable(tOrders),
        col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(plan.contains("Bucketed: true"), plan)
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join should not shuffle:\n$plan")
      assert(joined.count() == Tables(spark, sf, "lineitem").count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    }
  }

  test("compact rewrites a fragmented dataset into few files") {
    val p = new MedallionPipeline(spark, freshRoot())
    // 20 appends of 1 row each → ≥20 files
    (1 to 20).foreach(i =>
      p.write(DataZone.Bronze, "t", df((i.toLong, s"v$i", i.toDouble)),
        if (i == 1) LoadType.Full else LoadType.Append))
    // the live files of the head snapshot: replaced files stay on disk
    // until vacuum, so a directory listing would count them too
    def files() = graft.sources.TxLog.snapshot(spark,
      p.path(DataZone.Bronze, "t")).files.size
    assert(files() >= 20)
    val n = p.compact(DataZone.Bronze, "t", rowsPerFile = 10)
    assert(n == 2)
    assert(files() == 2)
    assert(p.read(DataZone.Bronze, "t").count() == 20)
  }

  test("scd2 derives validity intervals and scd2Merge is idempotent") {
    val v1 = Seq(
      (1L, 100L, "addr_a"), (1L, 200L, "addr_b"), (2L, 150L, "addr_x"))
      .toDF("id", "ts", "addr")
    val hist = Transforms.scd2(v1, Seq(col("id")), col("ts"))
    val open = hist.filter(col("is_current")).orderBy("id").collect()
    assert(open.map(r => r.getLong(0) -> r.getString(2)).toSeq ==
      Seq(1L -> "addr_b", 2L -> "addr_x"))
    assert(hist.filter(col("id") === 1 && col("ts") === 100)
      .head().getAs[Long]("valid_to") == 200L)
    // merge a new version + a duplicate redelivery of an old one
    val batch = Seq((1L, 300L, "addr_c"), (1L, 200L, "addr_b"))
      .toDF("id", "ts", "addr")
    val merged = Transforms.scd2Merge(hist, batch, Seq(col("id")), col("ts"))
    assert(merged.count() == 4) // duplicate (1,200) collapsed
    val cur1 = merged.filter(col("is_current") && col("id") === 1).head()
    assert(cur1.getAs[String]("addr") == "addr_c")
    // previous current row is now closed at the new version's time
    assert(merged.filter(col("id") === 1 && col("ts") === 200)
      .head().getAs[Long]("valid_to") == 300L)
    // re-merging the same batch changes nothing (idempotent)
    assert(Transforms.scd2Merge(merged, batch, Seq(col("id")), col("ts"))
      .count() == 4)
  }

  test("cdcApply keeps the latest change per key and honors deletes") {
    val changes = Seq(
      // key 1: I then U -> latest U survives
      (1L, 10L, "I", "a"), (1L, 20L, "U", "b"),
      // key 2: I then D -> deleted entirely
      (2L, 10L, "I", "c"), (2L, 30L, "D", "c"),
      // key 3: D then I (delete is NOT latest) -> I survives
      (3L, 10L, "D", "x"), (3L, 20L, "I", "d"))
      .toDF("k", "seq", "op", "payload")
    val out = Transforms.cdcApply(changes, Seq(col("k")),
        Seq(col("seq")), col("op"))
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(out == Map(1L -> "b", 3L -> "d"))
  }

  test("scd2Snapshot returns exactly the rows valid at the instant") {
    val versions = Seq((1L, 100L, "v1"), (1L, 200L, "v2"),
      (2L, 150L, "w1")).toDF("k", "ts", "payload")
    val scd2 = Transforms.scd2(versions, Seq(col("k")), col("ts"))
    def snap(t: Long): Map[Long, String] =
      Transforms.scd2Snapshot(scd2, lit(t)).collect()
        .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(snap(120L) == Map(1L -> "v1")) // before k=2 exists
    assert(snap(175L) == Map(1L -> "v1", 2L -> "w1"))
    assert(snap(250L) == Map(1L -> "v2", 2L -> "w1")) // current state
    assert(snap(50L) == Map.empty) // before any version
  }

  test("zValue interleaves bits and layoutByZ yields disjoint z-ranges") {
    import graft.operators.ZOrder
    // a=5 (101b) -> odd positions 1,5; b=3 (011b) -> even positions 0,2
    val z = Seq((5L, 3L)).toDF("a", "b")
      .select(ZOrder.zValue(col("a"), col("b"), 3).as("zv"))
      .collect().head.getLong(0)
    assert(z == 39L) // 2 + 32 + 1 + 4
    // locality: neighbors in both dims are close in z
    val z00 = Seq((4L, 4L)).toDF("a", "b")
      .select(ZOrder.zValue(col("a"), col("b")).as("z"))
      .collect().head.getLong(0)
    val z01 = Seq((4L, 5L)).toDF("a", "b")
      .select(ZOrder.zValue(col("a"), col("b")).as("z"))
      .collect().head.getLong(0)
    assert(math.abs(z01 - z00) == 1L)
    // layout: range partitions carry non-overlapping z intervals
    val pts = (for { a <- 0L until 64L; b <- 0L until 8L } yield (a, b))
      .toDF("a", "b")
    val parts = ZOrder.layoutByZ(pts, col("a"), col("b"), 4)
      .select("zv").rdd
      .mapPartitions(it => {
        val zs = it.map(_.getLong(0)).toArray
        if (zs.isEmpty) Iterator.empty
        else Iterator((zs.min, zs.max, zs.sameElements(zs.sorted)))
      }).collect().sortBy(_._1)
    assert(parts.forall(_._3), "zv not sorted within a partition")
    parts.sliding(2).foreach {
      case Array((_, hi, _), (lo, _, _)) => assert(hi <= lo)
      case _ =>
    }
  }

  test("partitioned writes prune directories at planning time") {
    val p = new MedallionPipeline(spark, freshRoot())
    val orders = Tables(spark, sf, "orders")
    p.writePartitioned(DataZone.Gold, "orders_p", orders,
      Seq("o_orderstatus"))
    val read = p.read(DataZone.Gold, "orders_p")
      .filter(col("o_orderstatus") === "F")
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: ["), plan)
    assert(plan.contains("o_orderstatus"), plan)
    // pruning must not change results
    assert(read.count() ==
      orders.filter(col("o_orderstatus") === "F").count())
    // the partition column itself is directory metadata, not row data —
    // the scan's data schema must not read it
    val scan = read.queryExecution.executedPlan.collectLeaves()
      .collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .get
    assert(scan.metadata("PartitionFilters").contains("o_orderstatus"),
      scan.metadata("PartitionFilters"))
  }

  test("writePartitioned over a logged dataset keeps its history; another layout is refused") {
    val p = new MedallionPipeline(spark, freshRoot())
    def rows(ids: Seq[Long]) =
      ids.map(i => (i, if (i % 2 == 0) "even" else "odd")).toDF("id", "par")
    p.write(DataZone.Silver, "t", rows(1L to 3L), LoadType.Full)       // v0
    p.write(DataZone.Silver, "t", rows(Seq(4L)), LoadType.Append)      // v1
    val dir = p.path(DataZone.Silver, "t")
    // a flat logged table: a partitioned rewrite would change its
    // layout, so it is refused with the log and rows intact
    val e = intercept[IllegalArgumentException] {
      p.writePartitioned(DataZone.Silver, "t", rows(Seq(9L)), Seq("par"))
    }
    assert(e.getMessage.contains("refusing to re-lay it out"))
    assert(graft.sources.TxLog.snapshot(spark, dir).version == 1L)
    assert(p.read(DataZone.Silver, "t").count() == 4)
    // a partitioned dataset rewritten under the same layout is a new
    // version, and the old one stays readable
    p.writePartitioned(DataZone.Gold, "p", rows(1L to 3L), Seq("par"))  // v0
    p.writePartitioned(DataZone.Gold, "p", rows(Seq(5L)), Seq("par"))   // v1
    assert(p.history(DataZone.Gold, "p").count() == 2)
    assert(p.read(DataZone.Gold, "p").select("id").as[Long].collect()
      .toSeq == Seq(5L))
    assert(p.readAsOf(DataZone.Gold, "p", 0).select("id").as[Long]
      .collect().sorted.toSeq == Seq(1L, 2L, 3L))
    // the overwrite stayed partitioned: the filter prunes directories
    val scan = p.read(DataZone.Gold, "p").filter(col("par") === "odd")
      .queryExecution.executedPlan.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    assert(scan.exists(_.metadata("PartitionFilters").contains("par")),
      scan.map(_.metadata("PartitionFilters")))
  }

  test("standardize_dates parses formats in reference order") {
    val in = Seq(
      (1L, "1997-02-03"), (2L, "02/03/1997"), (3L, "25/03/1997"),
      (4L, "19970203"), (5L, "not-a-date")).toDF("id", "d")
    val out = Transforms.standardizeDates(in, Seq("d"))
      .orderBy("id").collect().map(r => Option(r.getDate(1)).map(_.toString))
    assert(out(0).contains("1997-02-03"))
    assert(out(1).contains("1997-02-03")) // MM/dd wins over dd/MM
    assert(out(2).contains("1997-03-25")) // month 25 invalid → dd/MM
    assert(out(3).contains("1997-02-03"))
    assert(out(4).isEmpty)
  }

  test("deduplicate keeps exactly one row per key deterministically") {
    val in = Seq((1L, "b"), (1L, "a"), (2L, "c")).toDF("id", "v")
    val out = Transforms.deduplicate(in, Seq(col("id")), Seq(col("v").asc))
      .orderBy("id").collect()
    assert(out.map(r => r.getLong(0) -> r.getString(1)).toSeq ==
      Seq(1L -> "a", 2L -> "c"))
  }

  test("add_metadata stamps audit columns") {
    val out = Transforms.addMetadata(df((1L, "a", 1.0)))
    assert(out.columns.contains("_processed_at"))
    assert(out.select("_version").head().getInt(0) == 1)
  }
}
