package graft

/** Regression guards for the physical-plan properties PLANS.md
  * documents — the plans are part of the product's scale contract, so
  * a refactor that silently loses a pushdown or broadcasts an
  * unbounded side should fail CI, not wait for the next manual audit. */
class PlanAuditSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf)
      .queryExecution.executedPlan.toString

  private def count(p: String, re: String): Int = re.r.findAllIn(p).size

  test("q02 pushes filters to the parquet reader (0 shuffles, 1 scan)") {
    val p = plan("q02_filter_project")
    assert(count(p, "Exchange hashpartitioning") == 0, p)
    assert(count(p, "FileScan parquet") == 1, p)
    assert(p.contains("PushedFilters: ["), p)
    assert("PushedFilters: \\[\\]".r.findFirstIn(p).isEmpty,
      "pushdown list is empty:\n" + p)
  }

  test("dimension joins broadcast the small side (q03, q04)") {
    assert(count(plan("q03_join_agg"), "BroadcastExchange") >= 1)
    // 4 dims broadcast, only the agg shuffles
    val p4 = plan("q04_multi_join")
    assert(count(p4, "BroadcastExchange") >= 4, p4)
    assert(count(p4, "Exchange hashpartitioning") == 1, p4)
  }

  test("windowed top-k gets WindowGroupLimit pushdown (q06)") {
    val p = plan("q06_window_rank")
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("sessionize shuffles exactly once on the key (q12)") {
    val p = plan("q12_sessionize")
    assert(count(p, "Exchange hashpartitioning") == 1, p)
  }

  test("semi/anti joins stay joins, not row-by-row filters (q07, q08)") {
    assert(plan("q07_semi_join").contains("LeftSemi"))
    assert(plan("q08_anti_join").contains("LeftAnti"))
  }

  test("range join never plans a nested loop (q21)") {
    val p = plan("q21_range_join")
    assert(!p.contains("NestedLoop"), p)
  }

  test("dedup candidate generation has no cartesian/nested-loop stage") {
    Seq("dedup_minhash_lsh", "dedup_ngram_jaccard", "dedup_simhash")
      .foreach { q =>
        val p = plan(q)
        assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
          s"$q:\n$p")
      }
  }

  test("narrow text operators read one scan with zero shuffles") {
    Seq("text_stats", "text_quality_score", "text_lang_id",
      "text_fingerprint", "text_repetition", "text_gopher_filter",
      "sample_bernoulli").foreach { q =>
      val p = plan(q)
      assert(count(p, "Exchange hashpartitioning") == 0, s"$q:\n$p")
      assert(count(p, "FileScan parquet") == 1, s"$q:\n$p")
    }
  }

  test("dedup_minhash_lsh signs documents in their rows: no shingle shuffle") {
    // signatures come from the per-document minhash_md5 projection and
    // candidates verify by set intersection — no string-min aggregate
    // over shingle rows, no exchange keyed on the shingle column
    val p = plan("dedup_minhash_lsh")
    assert(!p.contains("SortAggregate"), p)
    assert(count(p, "Exchange hashpartitioning\\(s#") == 0, p)
    assert(p.contains("minhash_md5"), p)
  }

  test("exact profiling plans no Expand (the multi-distinct trap)") {
    val p = plan("dq_profile")
    assert(!p.contains("Expand"), p)
  }

  test("search_index bounds postings state: partial + final WindowGroupLimit") {
    // the rank-≤-cap filter before collect_list must plan as a
    // WindowGroupLimit on BOTH the map and reduce side — per-task
    // window state O(cap), never a stopword's full postings list
    val p = plan("search_index")
    assert(count(p, "WindowGroupLimit") == 2, p)
  }

  test("search_bm25 shuffles only on doc_id, at most twice; stats come back broadcast") {
    // per-term tf is a narrow projection; the one-row stats row joins
    // back via BroadcastExchange (the cross join against one row plans
    // as BroadcastNestedLoopJoin — that is the broadcast, not a blowup).
    // The single allowed hash exchange is the Skew.spread of the
    // (doc_id, text) scan — it carries only the narrow id+text columns
    // (tokenization happens above it) and is a no-op at real scan
    // parallelism, so the corpus-never-shuffles property holds at scale.
    val p = plan("search_bm25")
    // both branches (scored + stats) plan the identical spread
    // exchange; AQE's stage cache executes it once
    val docIdExchanges = count(p, "Exchange hashpartitioning\\(doc_id")
    assert(count(p, "Exchange hashpartitioning") == docIdExchanges, p)
    assert(docIdExchanges <= 2, p)
    assert(count(p, "BroadcastExchange") >= 1, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("knn_graph_lsh: id-only bucket join, top-k WindowGroupLimit-capped") {
    val p = plan("knn_graph_lsh")
    assert(!p.contains("CartesianProduct"), p)
    assert(count(p, "WindowGroupLimit") >= 1, p)
  }

  test("mixture_sample broadcasts the rate table; only tiny aggs shuffle") {
    val p = plan("mixture_sample")
    // the two hash exchanges are the per-group mass aggregations
    // (group-count-sized); the corpus itself is filtered at scan speed
    // behind a broadcast of the rate table
    assert(count(p, "Exchange hashpartitioning") <= 2, p)
    assert(count(p, "BroadcastExchange") >= 1, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("graph_degrees evaluates the edge pipeline once (single-pass agg)") {
    // degrees folds each edge into two contribution rows and
    // aggregates once — the upstream kNN-LSH pipeline must appear a
    // single time, not once per degree direction (its own plan reads
    // 6 parquet scans; a two-branch degrees would read 12)
    val p = plan("graph_degrees")
    val edgeScans = count(plan("knn_graph_lsh"), "FileScan parquet")
    assert(count(p, "FileScan parquet") == edgeScans, p)
  }

  test("q29 gapfill: grid join and LOCF stay equi-partitioned (no NLJ)") {
    val p = plan("q29_gapfill")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p)
    // the events scan feeds the hourly aggregate twice (span + join
    // side) at most — a regression that re-derives the grid from raw
    // events would show up as extra scans
    assert(count(p, "FileScan parquet") <= 2, p)
  }

  test("q30 interpolate keeps the gapfill contract (no NLJ, ≤2 scans)") {
    val p = plan("q30_interpolate")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p)
    assert(count(p, "FileScan parquet") <= 2, p)
  }

  test("dedup_incremental: every stage is an equi-join (no cartesian)") {
    val p = plan("dedup_incremental")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p)
  }

  test("search_tfidf: corpus stats come back broadcast, no cartesian") {
    val p = plan("search_tfidf")
    assert(!p.contains("CartesianProduct"), p)
    // the one-row stats relation is broadcast into BOTH consumers
    // (norm weights + query-side scoring)
    assert(count(p, "BroadcastExchange") >= 2, p)
  }

  test("lm_score: vocabulary scalar broadcast; gram joins hash, not NLJ") {
    val p = plan("lm_score")
    assert(!p.contains("CartesianProduct"), p)
    // the only nested-loop is the broadcast one-row vocab size
    assert(count(p, "BroadcastNestedLoopJoin") <= 1, p)
  }

  test("dq_drift: scalar split/edge aggregates broadcast; tiny shuffles") {
    val p = plan("dq_drift")
    assert(!p.contains("CartesianProduct"), p)
    assert(count(p, "BroadcastExchange") + count(p, "BroadcastNestedLoopJoin") >= 2, p)
    // everything after the one counts aggregation runs on the
    // feature×bucket-sized relation — no data-sized exchange beyond it
    assert(count(p, "Exchange hashpartitioning") <= 4, p)
  }

  test("q31_twa: the raw-stream lead window partitions on a composite key") {
    // event_type has ~5 values; a window partitioned by type alone
    // sorts the whole raw stream in 5 tasks at any scale. The window
    // that runs over raw (un-aggregated) data must carry the
    // (event_type, bucket) composite; only the bucket-count-sized
    // firsts relation may window on bare event_type.
    val qe = SparkEntry.queries("q31_twa")(spark, sf).queryExecution
    val windows = qe.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, qe.sparkPlan.toString)
    val rawWindows = windows.filter(w => w.child.collect {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
    }.isEmpty)
    assert(rawWindows.nonEmpty,
      "no window over the raw stream found:\n" + qe.sparkPlan)
    rawWindows.foreach { w =>
      assert(w.partitionSpec.size >= 2,
        s"raw-stream window partitions on ${w.partitionSpec} — " +
          s"single-key sort cliff:\n${qe.sparkPlan}")
    }
  }

  test("banding family: no row-relation window keyed by the low-card column") {
    // q18/q38/q39/curation_ppl_buckets band by a ≤5-value key
    // (priority, segment, lang). A window partitioned by that key
    // alone over UN-aggregated rows sorts the table in ≤5 reducers at
    // any scale — the Banding contract is: windows over raw rows must
    // carry the (key, value) composite; only the value-distribution
    // relation (below an aggregate) may window on the bare key.
    Seq("q18_percentile_disc", "q38_ntile", "q39_dist_rank",
      "curation_ppl_buckets", "q40_percentile_global",
      "curation_pipeline", "training_order").foreach { q =>
      val qe = SparkEntry.queries(q)(spark, sf).queryExecution
      val windows = qe.sparkPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.nonEmpty, s"$q:\n${qe.sparkPlan}")
      val rawWindows = windows.filter(w => w.child.collect {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
      }.isEmpty)
      rawWindows.foreach { w =>
        assert(w.partitionSpec.size >= 2,
          s"$q: raw-row window partitions on ${w.partitionSpec} — " +
            s"single-key sort cliff:\n${qe.sparkPlan}")
      }
    }
  }

  test("vocab_oov: top-V selection plans as TakeOrderedAndProject") {
    // the rank-≤-V filter over the term table must collapse to a
    // bounded top-V (per-partition heap + driver merge of V rows), not
    // a full global sort of the vocabulary relation
    val p = plan("vocab_oov")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("er_fuzzy_match: variant equi-join only, bucket cap applied") {
    val p = plan("er_fuzzy_match")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p)
    // Skew.capBuckets plans a count window over the variant key before
    // the self-join — its absence means the stop-variant O(b²) guard
    // was dropped
    assert(count(p, "Window") >= 1, p)
  }

  test("dq_hotkeys: bounded top-N (TakeOrderedAndProject), no key-table sort") {
    // the heavy-key profile must plan per-partition heaps + a bounded
    // driver merge over the key-count relation — a global Sort of the
    // key table would be the 100 TB regression
    val p = plan("dq_hotkeys")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(count(p, "BroadcastExchange") + count(p, "BroadcastNestedLoopJoin") >= 1, p)
  }

  test("q33_attribution windows on high-cardinality user_id, not a constant key") {
    val qe = SparkEntry.queries("q33_attribution")(spark, sf).queryExecution
    val windows = qe.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, qe.sparkPlan.toString)
    windows.foreach(w => assert(w.partitionSpec.nonEmpty, qe.sparkPlan))
  }

  test("paragraph dedup family: equi-joins only, bounded per-doc state") {
    Seq("dedup_paragraph", "dedup_paragraph_incr").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
        s"$q:\n$p")
    }
  }

  test("curation_dsir: broadcast ratio join, TakeOrdered selection (no global sort)") {
    val qe = SparkEntry.queries("curation_dsir")(spark, sf).queryExecution
    val p = qe.executedPlan.toString
    // the bucket-space ratio relation broadcasts onto doc features;
    // selection is a per-partition-heap TakeOrderedAndProject, never
    // a corpus-wide Sort; nothing plans a cartesian
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p)
  }

  test("pack_bestfit: one group exchange + in-partition sort, no window, no cartesian") {
    val qe = SparkEntry.queries("pack_bestfit")(spark, sf).queryExecution
    val p = qe.executedPlan.toString
    // secondary-sort shape: hash exchange on the group column, sort
    // WITHIN partitions, the BFD fold streams per group — never a
    // global Sort (no rangepartitioning), never a window, never a
    // cartesian
    assert(count(p, "Exchange hashpartitioning") == 1, p)
    assert(count(p, "Exchange rangepartitioning") == 0, p)
    assert(qe.executedPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, p)
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p)
  }

  test("exact-substring family: equi-joins only, agg-based first-occurrence (no corpus window)") {
    Seq("dedup_exact_substring", "dedup_substr_incr").foreach { q =>
      val qe = SparkEntry.queries(q)(spark, sf).queryExecution
      val p = qe.executedPlan.toString
      assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
        s"$q:\n$p")
      // the keep-first selection must ride the map-side-combined
      // frequency AGG (min over the occurrence struct) — a row_number
      // window over the corpus-sized occurrence relation would sort a
      // hot window's millions of occurrences on one partition
      val windows = qe.sparkPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.isEmpty, s"$q:\n$p")
    }
  }

  test("pack_tokens: group-partitioned window, one scan, no global order") {
    val qe = SparkEntry.queries("pack_tokens")(spark, sf).queryExecution
    val p = qe.executedPlan.toString
    // shard assembly must stay group-parallel: every window partitions
    // on a key (a global token stream would serialize the corpus), the
    // cumsum + shard aggregation ride one documents scan, and nothing
    // plans a cartesian
    val windows = qe.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, p)
    windows.foreach(w => assert(w.partitionSpec.nonEmpty, p))
    assert(count(p, "FileScan parquet") == 1, p)
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p)
  }

  test("q35_rolling: RANGE window rides the hourly pre-aggregate (≤2 shuffles)") {
    val p = plan("q35_rolling")
    assert(count(p, "Exchange hashpartitioning") <= 2, p)
    assert(count(p, "FileScan parquet") == 1, p)
  }

  test("dq_reconciliation: one fact-table aggregation, header side broadcast") {
    val p = plan("dq_reconciliation")
    assert(count(p, "Exchange hashpartitioning") <= 1, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("ann_ivf_pq_topk: corpus codes hash-join the BROADCAST probe table") {
    // the IVFADC contract: the per-(query, cell, m, code) distance
    // table is broadcast-sized by construction and the corpus code
    // relation equi-joins it on (cell, m, code) — the codes side must
    // never hash-exchange for that join, and nothing may plan as a
    // real cartesian (the cells/centroids crossJoins are one-row-ish
    // broadcast relations)
    val p = plan("ann_ivf_pq_topk")
    assert(!p.contains("CartesianProduct"), p)
    assert(count(p, "BroadcastHashJoin \\[cell") >= 1, p)
  }

  test("text_quality_nb: model scalars broadcast; instance joins hash, not NLJ") {
    // the lm_score contract applied to NB: the one-row model crosses
    // back as a broadcast (BNLJ against one row IS the broadcast);
    // token instances join the vocabulary counts as a hash join; the
    // token relation is the widest thing shuffled — no cartesian over
    // anything data-sized
    val df = SparkEntry.queries("text_quality_nb")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    info(s"hash exchanges: ${count(p, "Exchange hashpartitioning")}, " +
      s"broadcasts: ${count(p, "BroadcastExchange")}, " +
      s"scans: ${count(p, "FileScan parquet")}")
    assert(!p.contains("CartesianProduct"), p)
    assert(count(p, "BroadcastExchange") >= 2, p)
    assert(count(p, "Exchange hashpartitioning") <= 5, p)
    // round-10: the tokenized instance relation is materialized once
    // (trainScore, through TxLog.checkpointed) — every stage reads it,
    // not the parquet; 7 documents scans collapse to 0
    assert(count(p, "FileScan parquet") <= 3, p)
    graft.operators.Dedup.release(df) // free the audited checkpoint
  }

  test("corpus_snapshot_diff: one co-partitioned full-outer join, no cartesian") {
    // each snapshot reduces to (doc_id, md5) inside its scan; the diff
    // is ONE full-outer equi-join on unique doc_id — nothing wider
    // than (id, hash) shuffles, and only the two join sides do
    val p = plan("corpus_snapshot_diff")
    assert(!p.contains("CartesianProduct"), p)
    assert(count(p, "FullOuter") >= 1, p)
    assert(count(p, "Exchange hashpartitioning") <= 2, p)
  }

  test("curation_ppl_buckets: tercile window is keyed by language, never global") {
    // the CCNet bucketing sorts PER LANGUAGE — a global ntile would be
    // a single-partition sort at corpus scale (q38's contract)
    val qe = SparkEntry.queries("curation_ppl_buckets")(spark, sf)
      .queryExecution
    val p = qe.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    // (the LM's one-row vocabulary reduction legitimately uses a
    // SinglePartition exchange — only the WINDOW must be keyed)
    val windows = qe.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      qe.sparkPlan)
  }

  test("q36/q37/q38: grouping-sets expands once; unpivot stays narrow; ntile windows keyed") {
    val p36 = plan("q36_grouping_sets")
    assert(count(p36, "Expand") == 1, p36)
    assert(count(p36, "Exchange hashpartitioning") == 1, p36)
    val p37 = plan("q37_unpivot")
    assert(count(p37, "Exchange hashpartitioning") == 0, p37)
    assert(count(p37, "FileScan parquet") == 1, p37)
    // q38 ntile and q39 percent_rank/cume_dist share the Banding
    // contract: the row relation shuffles ONCE on the composite
    // (segment, value) key; the other ≤2 exchanges carry only the
    // value-distribution relation, whose boundaries come back
    // broadcast for a scan-speed band assignment
    Seq("q38_ntile", "q39_dist_rank").foreach { name =>
      val qe = SparkEntry.queries(name)(spark, sf).queryExecution
      val p = qe.executedPlan.toString
      assert(count(p, "Exchange hashpartitioning") <= 3, s"$name: $p")
      assert(p.contains("BroadcastHashJoin"), s"$name: $p")
      val windows = qe.sparkPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
        s"$name: ${qe.sparkPlan}")
    }
  }

  test("q24 pivot declares its values — no hidden distinct job at plan time") {
    val sc = spark.sparkContext
    val sites = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        sites.add(Option(js.properties)
          .flatMap(p => Option(p.getProperty("callSite.short")))
          .getOrElse("")); ()
      }
    }
    sc.addSparkListener(listener)
    try {
      // building the DataFrame AND its physical plan must not collect
      // pivot values — a values-less pivot runs distinct().collect()
      // right here. Parquet schema inference legitimately submits
      // "parquet at …" jobs, so the assert keys on the call site.
      SparkEntry.queries("q24_pivot")(spark, sf)
        .queryExecution.executedPlan
      // job-start events post asynchronously — drain the bus
      // deterministically instead of sleeping and hoping
      org.apache.spark.GraftSparkAccess.waitUntilListenerBusEmpty(sc, 30000)
      val offenders = sites.toArray.map(_.toString)
        .filter(s => s.contains("pivot") || s.contains("collect") ||
          s.contains("distinct"))
      assert(offenders.isEmpty,
        s"hidden pivot-value job(s) at: ${offenders.mkString(", ")}")
    } finally sc.removeSparkListener(listener)
  }

  test("deletion vectors: reads and DML probes subtract them with a join-free filter") {
    import org.apache.spark.sql.functions.col
    val s2 = spark
    import s2.implicits._
    val dir = java.nio.file.Files.createTempDirectory("dvplan").toString
    graft.sources.TxLog.commitOverwrite(spark, dir,
      (1L to 400L).map(i => (i, s"n$i")).toDF("id", "name")
        .repartitionByRange(4, col("id")), statsCols = Seq("id"))
    // a table with NO vectors must pay ZERO read overhead: one scan,
    // no join, no projection of metadata columns
    val clean = graft.sources.TxLog.read(spark, dir)
      .queryExecution.executedPlan.toString
    assert(count(clean, "Join") == 0, clean)
    assert(count(clean, "FileScan parquet") == 1, clean)
    // after a MoR delete (round 20): the vector subtracts as a
    // codegen'd scan filter over broadcast row-index arrays — STILL
    // one FileScan, zero joins, zero shuffles (see Round20Spec)
    graft.sources.TxLog.deleteMor(spark, dir, col("id") === 5)
    val p = graft.sources.TxLog.read(spark, dir)
      .queryExecution.executedPlan.toString
    assert(count(p, "Join") == 0, p)
    assert(count(p, "Exchange") == 0, p)
    assert(count(p, "FileScan parquet") == 1, p)
    assert(p.contains("dvdeleted"), p)
    // a DML probe on a table that already has vectors reads through
    // the explicit-path tagged scan: the same scan filter, no
    // anti-join in ANY plan the delete runs
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = {
        plans.add(qe.executedPlan.toString)
        ()
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val (_, logged) = try infoLines("graft.sources.TxLog") {
      graft.sources.TxLog.deleteMor(spark, dir, col("id") === 6)
      org.apache.spark.GraftSparkAccess.waitUntilListenerBusEmpty(
        spark.sparkContext, 30000)
    } finally spark.listenerManager.unregister(listener)
    // the path decision is visible in the log
    assert(logged.exists(_.contains("dv-filter vectoredFiles=1")), logged)
    val ran = plans.toArray.map(_.toString).toSeq
    assert(ran.nonEmpty, "listener saw no plan")
    assert(ran.forall(count(_, "LeftAnti") == 0),
      ran.filter(_.contains("LeftAnti")).mkString("\n"))
    assert(ran.exists(_.contains("dvdeleted")), ran.mkString("\n"))
    assert(graft.sources.TxLog.read(spark, dir).count() == 398)
  }

  test("3-way logged join reorders under CBO from log-derived stats") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
    val s = spark
    val root = java.nio.file.Files.createTempDirectory("cbo").toString
    // star: fact 50k rows; d1 is 200× bigger than d2 and its key is
    // 200× less selective — joining d2 FIRST is the cheap order
    graft.sources.TxLog.commitOverwrite(s, s"$root/fact",
      s.range(50000).select((col("id") % 2000).as("k1"),
        (col("id") % 5000).as("k2"), col("id").as("m")),
      statsCols = Seq("k1", "k2"))
    graft.sources.TxLog.commitOverwrite(s, s"$root/d1",
      s.range(2000).select(col("id").as("k1"),
        concat(lit("a"), col("id")).as("d1v")),
      statsCols = Seq("k1"))
    graft.sources.TxLog.commitOverwrite(s, s"$root/d2",
      s.range(10).select(col("id").as("k2"),
        concat(lit("b"), col("id")).as("d2v")),
      statsCols = Seq("k2"))
    def innermostJoinKeys(): Set[String] = {
      val q = s.read.format("txlog").load(s"$root/fact")
        .join(s.read.format("txlog").load(s"$root/d1"), "k1")
        .join(s.read.format("txlog").load(s"$root/d2"), "k2")
        .agg(sum("m"))
      val joins = q.queryExecution.optimizedPlan.collect {
        case j: Join => j }
      // the leaf join (no Join below it) is the one executed first;
      // its CONDITION names the dim key it joins on (the dims' value
      // columns are pruned away, so output names can't distinguish)
      val leaf = joins.filter(j =>
        j.children.forall(_.collect { case x: Join => x }.isEmpty))
      assert(leaf.size == 1, joins.mkString("\n"))
      leaf.head.condition.toSeq
        .flatMap(_.references.map(_.name)).toSet
    }
    def withConf[T](pairs: (String, String)*)(body: => T): T = {
      val old = pairs.map { case (k, _) => k -> s.conf.getOption(k) }
      pairs.foreach { case (k, v) => s.conf.set(k, v) }
      try body
      finally old.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
    }
    // without CBO: the declared order stands — d1 (on k1) joins first
    val declared = withConf("spark.sql.cbo.enabled" -> "false") {
      innermostJoinKeys()
    }
    assert(declared == Set("k1"),
      s"test premise: declared order should join d1 first: $declared")
    // with CBO + joinReorder: the log's rowCount + ndv-bound column
    // stats (no ANALYZE ever ran) flip the order — tiny selective d2
    // (on k2) joins first
    val reordered = withConf("spark.sql.cbo.enabled" -> "true",
      "spark.sql.cbo.joinReorder.enabled" -> "true") {
      innermostJoinKeys()
    }
    assert(reordered == Set("k2"),
      s"CBO did not reorder the logged 3-way join: $reordered")
  }

  test("3-way logged join on STRING keys reorders under CBO from KMV sketches") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val s = spark
    val root = java.nio.file.Files.createTempDirectory("cbostr").toString
    // same star shape as the integral case, but every join key is a
    // STRING — the range-bound NDV covers nothing here; only the
    // per-file KMV sketches recorded at write time give CBO a real
    // distinct count to reorder from
    graft.sources.TxLog.commitOverwrite(s, s"$root/fact",
      s.range(50000).select(
        concat(lit("a"), col("id") % 2000).as("k1"),
        concat(lit("b"), col("id") % 5000).as("k2"),
        col("id").as("m")),
      statsCols = Seq("k1", "k2"))
    graft.sources.TxLog.commitOverwrite(s, s"$root/d1",
      s.range(2000).select(concat(lit("a"), col("id")).as("k1"),
        col("id").as("d1v")),
      statsCols = Seq("k1"))
    graft.sources.TxLog.commitOverwrite(s, s"$root/d2",
      s.range(10).select(concat(lit("b"), col("id")).as("k2"),
        col("id").as("d2v")),
      statsCols = Seq("k2"))
    def innermostJoinKeys(): Set[String] = {
      val q = s.read.format("txlog").load(s"$root/fact")
        .join(s.read.format("txlog").load(s"$root/d1"), "k1")
        .join(s.read.format("txlog").load(s"$root/d2"), "k2")
        .agg(sum("m"))
      val joins = q.queryExecution.optimizedPlan.collect {
        case j: Join => j }
      val leaf = joins.filter(j =>
        j.children.forall(_.collect { case x: Join => x }.isEmpty))
      assert(leaf.size == 1, joins.mkString("\n"))
      leaf.head.condition.toSeq
        .flatMap(_.references.map(_.name)).toSet
    }
    def withConf[T](pairs: (String, String)*)(body: => T): T = {
      val old = pairs.map { case (k, _) => k -> s.conf.getOption(k) }
      pairs.foreach { case (k, v) => s.conf.set(k, v) }
      try body
      finally old.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
    }
    val declared = withConf("spark.sql.cbo.enabled" -> "false") {
      innermostJoinKeys()
    }
    assert(declared == Set("k1"),
      s"test premise: declared order should join d1 first: $declared")
    val reordered = withConf("spark.sql.cbo.enabled" -> "true",
      "spark.sql.cbo.joinReorder.enabled" -> "true") {
      innermostJoinKeys()
    }
    assert(reordered == Set("k2"),
      s"CBO did not reorder the string-keyed 3-way join: $reordered")
  }

  test("KMV sketch NDV beats the range bound on skewed keys; strings and dates get stats") {
    import org.apache.spark.sql.functions._
    val s = spark
    val dir = java.nio.file.Files.createTempDirectory("kmvndv")
      .toString + "/t"
    // 50k rows, 10 distinct values spread over a RANGE of 9·10⁶: the
    // old range-bound NDV said min(rows, range) = 50000 — 5000× the
    // truth; the sketch reads ~10
    graft.sources.TxLog.commitOverwrite(s, dir,
      s.range(50000).select(
        ((col("id") % 10) * 1000000L).as("k"),
        concat(lit("s"), col("id") % 10).as("name"),
        (lit(java.sql.Date.valueOf("2026-01-01")).cast("date"))
          .as("day"),
        col("id").as("m")),
      statsCols = Seq("k", "name", "day"))
    val stats = graft.sources.TxLogStats.catalogStats(
      graft.sources.TxLog.snapshot(s, dir), physNames = false).get
    val kNdv = stats.colStats("k").distinctCount.get
    assert(kNdv <= BigInt(20) && kNdv >= BigInt(5),
      s"sketch NDV should read ~10 on the sparse skewed key, got $kNdv")
    // strings: NDV exists at all now (the range bound never covered
    // them); dates: a real min/max hull that parses in the catalog
    val nameNdv = stats.colStats("name").distinctCount.get
    assert(nameNdv <= BigInt(20) && nameNdv >= BigInt(5),
      s"string NDV from the sketch should read ~10, got $nameNdv")
    val day = stats.colStats("day")
    assert(day.min.isDefined && day.max.isDefined,
      s"date hull missing: $day")
    assert(day.min.get.contains("2026-01-01"), day.min.get)
  }
}
