#!/usr/bin/env python3
"""Generate the SURVEY coverage ledger (SURVEY.md section 2i).

Dev-only (not part of the shipped library). Reads a graft.Verify
output dir (driver-entry dirs + oracle_sql.json) and emits the
row-number -> carrier ledger as markdown, CROSS-CHECKED mechanically:

  - every SURVEY row's driver carrier must exist as a Verify output;
  - rows marked `hash` must have oracle SQL, `rows-only` must not;
  - every driver entry must be claimed by exactly one row (or be in
    the explicit supplement of unnumbered entries);
  - totals are computed, never hand-maintained.

Usage: python3 tools/ledger.py /tmp/verify_out > /tmp/ledger.md
"""
import json
import subprocess
import sys
from pathlib import Path

# SURVEY row -> verification carrier.
# ("name", "hash") / ("name", "rows")  : driver entry, oracle kind
# ("suite | file", "api")              : API/streaming row, ScalaTest
# (("a", "b"), "shared")               : row verified through other
#                                        rows' driver entries (no own)
# ("note", "plans")                    : stress row recorded in PLANS.md
ROWS = [
    (1, "q01_pricing_summary", "hash"), (2, "q02_filter_project", "hash"),
    (3, "q03_join_agg", "hash"), (4, "q04_multi_join", "hash"),
    (5, "q05_topk", "hash"), (6, "q06_window_rank", "hash"),
    (7, "q07_semi_join", "hash"), (8, "q08_anti_join", "hash"),
    (9, "q09_distinct_agg", "hash"), (10, "q10_rollup", "hash"),
    (11, "q11_event_windows", "hash"), (12, "q12_sessionize", "hash"),
    (13, "q13_above_avg", "hash"), (14, "q14_conditional_agg", "hash"),
    (15, "dq_completeness", "hash"), (16, "dq_validity_format", "hash"),
    (17, "dq_value_ranges", "hash"), (18, "dq_uniqueness", "hash"),
    (19, "dq_referential_integrity", "hash"),
    (20, "dq_quality_report", "hash"),
    (21, "QualitySpec | quality/Quality.scala", "api"),
    (22, "etl_bronze_cleanse", "hash"), (23, "etl_merge_upsert", "hash"),
    (24, "etl_incremental", "hash"), (25, "etl_standardize_dates", "hash"),
    (26, "EtlSpec | etl/Medallion.scala", "api"),
    (27, "lineage_edges", "rows"),
    (28, "LineageSpec | lineage/Lineage.scala", "api"),
    (29, "dedup_exact", "hash"), (30, "dedup_ngram_jaccard", "hash"),
    (31, "dedup_minhash_lsh", "hash"), (32, "dedup_simhash", "hash"),
    (33, "dedup_embedding", "hash"), (34, "ann_bruteforce_topk", "hash"),
    (35, "ann_lsh_topk", "hash"), (36, "text_stats", "hash"),
    (37, "text_quality_score", "hash"), (38, "text_lang_id", "hash"),
    (39, "text_fingerprint", "hash"), (40, "mm_metadata", "hash"),
    (41, "MediaSpec | multimodal/Media.scala", "api"),
    (42, "StreamingSpec (windowed agg) | streaming/Streaming.scala", "api"),
    (43, "StreamingSpec (sessionize) | streaming/Streaming.scala", "api"),
    (44, "dq_profile", "hash"), (45, "sample_bernoulli", "hash"),
    (46, "sample_stratified", "hash"), (47, "q21_range_join", "hash"),
    (48, "etl_scd2", "hash"), (49, "q22_kmv_overlap", "rows"),
    (50, "dedup_clusters", "hash"), (51, "dedup_dropdups", "hash"),
    (52, "StreamingSpec (dedup) | streaming/Streaming.scala", "api"),
    (53, "StreamingSpec (quality) | streaming/Streaming.scala", "api"),
    (54, "EtlSpec (writePartitioned/compact) | etl/Medallion.scala", "api"),
    (55, "MediaSpec (frames/resize) | multimodal/Media.scala", "api"),
    (56, "EtlSpec (toDataFrames) | lineage/Lineage.scala", "api"),
    (57, "PlanAuditSpec | test", "api"),
    (58, "decon_exact", "hash"), (59, "decon_ngram", "hash"),
    (60, "text_repetition", "hash"), (61, "text_gopher_filter", "hash"),
    (62, "pii_scan", "hash"), (63, "sample_weighted", "hash"),
    (64, "q23_cube", "hash"),
    (65, ("dedup_clusters", "dedup_dropdups"), "shared"),
    (66, "sf1 dedup scale run -> PLANS.md round 3", "plans"),
    (67, "q24_pivot", "hash"), (68, "q25_setops", "hash"),
    (69, "q26_funnel", "hash"), (70, "q27_histogram", "hash"),
    (71, "q28_retention", "hash"), (72, "sample_split", "hash"),
    (73, "curation_source_quota", "hash"), (74, "corpus_jaccard", "hash"),
    (75, "search_index", "hash"), (76, "search_bm25", "hash"),
    (77, "etl_cdc_apply", "hash"), (78, "etl_scd2_snapshot", "hash"),
    (79, "knn_graph", "hash"), (80, "knn_graph_lsh", "hash"),
    (81, "layout_zorder", "hash"), (82, "decon_bloom", "hash"),
    (83, "FunctionsSpec (mg_topk aggregate) | functions/MisraGries.scala",
     "api"),
    (84, "StreamingSpec (trending terms) | streaming/Streaming.scala",
     "api"),
    (85, "doc_chunks", "hash"), (86, "emb_normalize", "hash"),
    (87, "emb_quantize", "hash"), (88, "mixture_rates", "hash"),
    (89, "mixture_sample", "hash"), (90, "graph_degrees", "hash"),
    (91, "graph_components", "hash"), (92, "graph_pagerank", "hash"),
    (93, "pii_redact", "hash"), (94, "dedup_keep_best", "hash"),
    (95, "q29_gapfill", "hash"), (96, "search_tfidf", "hash"),
    (97, "lm_score", "hash"), (98, "dq_drift", "hash"),
    (99, "semdedup", "rows"), (100, "dedup_incremental", "hash"),
    (101, "q30_interpolate", "hash"),
    (102, "StreamingSpec (drift monitor) | streaming/Streaming.scala",
     "api"),
    (103, "TxLogSpec (failed stage cleans up; medallion zone writes "
     "through the log) | sources/TxLog.scala, etl/Medallion.scala", "api"),
    (104, "er_fuzzy_match", "hash"), (105, "vocab_oov", "hash"),
    (106, "ann_pq_topk", "rows"),
    (107, "Round7/8Spec (persisted dedup index) | operators/Dedup.scala",
     "api"),
    (108, "StreamingSpec (ingest dedup) | streaming/Streaming.scala",
     "api"),
    (109, "q31_twa", "hash"), (110, "media_near_dup", "rows"),
    (111, "dq_anomaly", "hash"),
    (112, "StreamingSpec (anomaly monitor) | streaming/Streaming.scala",
     "api"),
    (113, "q32_corr", "hash"), (114, "decon_near", "hash"),
    (115, "text_top_global", "hash"), (116, "pack_sequences", "hash"),
    (117, "dedup_paragraph", "hash"), (118, "text_bpe_tokens", "hash"),
    (119, "dq_hotkeys", "hash"), (120, "q33_attribution", "hash"),
    (121, "q34_transitions", "hash"), (122, "dq_freshness", "hash"),
    (123, "ann_recall", "hash"), (124, "dedup_paragraph_incr", "hash"),
    (125, "Round8Spec (streaming paragraph ingest) | "
     "streaming/Streaming.scala", "api"),
    (126, "q35_rolling", "hash"), (127, "curation_source_report", "hash"),
    (128, "dq_anomaly_robust", "hash"), (129, "dq_reconciliation", "hash"),
    (130, "pack_tokens", "hash"),
    (131, "TxLogSpec (stats-in-log readPruned/readPrunedAll; medallion "
     "readPruned) | sources/TxLog.scala, etl/Medallion.scala", "api"),
    (132, "ann_ivf_pq_topk", "rows"), (133, "text_quality_nb", "hash"),
    (134, "nb_calibration", "hash"), (135, "corpus_snapshot_diff", "hash"),
    (136, "StreamingSpec (NB scoring) | streaming/Streaming.scala", "api"),
    (137, "text_script_profile", "hash"),
    (138, "mixture_temperature", "hash"), (139, "dq_k_anonymity", "hash"),
    (140, "q36_grouping_sets", "hash"), (141, "q37_unpivot", "hash"),
    (142, "q38_ntile", "hash"),
    (143, "StreamingSpec (interval join) | streaming/Streaming.scala",
     "api"),
    (144, "dq_join_estimate", "hash"), (145, "dq_benford", "hash"),
    (146, "TxLogSpec | sources/TxLog.scala", "api"),
    (147, "curation_ppl_buckets", "hash"),
    (148, "text_fertility", "hash"),
    (149, "q39_dist_rank", "hash"),
    (150, "TxLogSpec (streaming source) | sources/TxLogStreamSource.scala",
     "api"),
    (151, "TxLogSpec + Round9Spec (compound skipping) | sources/TxLog.scala",
     "api"),
    (152, "BandingSpec | operators/Banding.scala", "api"),
    (153, "q40_percentile_global", "hash"),
    (154, "q41_approx_percentile", "rows"),
    (155, "txn_dml", "hash"),
    (156, "TxLogSpec (z-ordered compact) | sources/TxLog.scala", "api"),
    (157, "TxLogSpec (delete/update/merge + model check) | "
     "sources/TxLog.scala", "api"),
    (158, "TxLogSpec (changeFeed replay invariant) + Scd2Spec (vector "
          "commits net) | sources/TxLog.scala", "api"),
    (159, "bloom_point_lookup", "hash"),
    (160, "BloomIndexSpec | sources/BloomIndex.scala", "api"),
    (161, "TxLogSpec (countWhere metadata-only) | sources/TxLog.scala",
     "api"),
    (162, "TxLogSpec (CHECK constraints) | sources/TxLog.scala", "api"),
    (163, "txn_dml_mor", "hash"),
    (164, "TxLogSpec (deletion vectors ×5 + model check) | "
          "sources/TxLog.scala", "api"),
    (165, "vocab_train_bpe", "hash"),
    (166, "curation_pipeline", "hash"),
    (167, "TxLogSpec (column mapping ×3) | sources/TxLog.scala", "api"),
    (168, "Round11Spec (lifecycle + CDC follower) + TxLog.maintain | "
          "sources/TxLog.scala", "api"),
    (169, "TxLogSpec (shallow clone) | sources/TxLog.scala", "api"),
    (170, "training_order", "hash"),
    (171, "TxLogSpec (exactly-once upsert sink + cloneTable) | "
          "sources/TxLog.scala", "api"),
    (172, "TxLogSpec (log-format generations) | sources/TxLog.scala",
     "api"),
    (173, "TxLogSpec (vacuum dry run) | sources/TxLog.scala", "api"),
    (174, "TxLogSpec (describeDetail) | sources/TxLog.scala", "api"),
    (175, "Round12Spec (clone x incremental-consumption fixes) | "
          "sources/TxLog.scala", "api"),
    (176, "Round12Spec (streaming admission control) | "
          "sources/TxLogStreamSource.scala", "api"),
    (177, "Round12Spec (timestamp time travel) | sources/TxLog.scala",
     "api"),
    (178, "dedup_exact_substring", "hash"),
    (179, "dedup_substr_incr", "hash"),
    (180, "Round12Spec (native txlog streaming sink) | "
          "sources/TxLogStreamSource.scala", "api"),
    (181, "Round12Spec (CDC streaming source) | "
          "sources/TxLogStreamSource.scala", "api"),
    (182, "Round12Spec (applyChanges + followStream CDC apply) | "
          "sources/TxLog.scala", "api"),
    (183, "curation_dsir", "rows"),
    (184, "Round12Spec (startingVersion/startingTimestamp) | "
          "sources/TxLogStreamSource.scala", "api"),
    (185, "Round13Spec (skipChangeCommits/ignoreDeletes) | "
          "sources/TxLog.scala", "api"),
    (186, "Round13Spec (merge-on-read CDC apply) | "
          "sources/TxLog.scala", "api"),
    (187, "Round13Spec (maxBytesPerTrigger) | "
          "sources/TxLogStreamSource.scala", "api"),
    (188, "pack_bestfit", "hash"),
    (189, "Round13Spec (timestamp-bounded batch feeds) | "
          "sources/TxLog.scala", "api"),
    (190, "Round13Spec (log visibility + idempotence hardening) | "
          "sources/TxLog.scala", "api"),
    (191, "pack_bestfit_shards", "hash"),
    (192, "Round13Spec (stream schema pinned at query start) | "
          "sources/TxLogStreamSource.scala", "api"),
    (193, "mv_incremental", "hash"),
    (194, "Round14Spec (byte-admission / legacy-scope / claim / pack "
          "hardening) | sources/TxLogStreamSource.scala", "api"),
    (195, "curation_diversity", "hash"),
    (196, "Round14Spec (in-commit timestamps) | sources/TxLog.scala",
          "api"),
    (197, "Round14Spec (restoreAt + followAggregate) | "
          "sources/TxLog.scala, etl/Medallion.scala", "api"),
    (198, "Round14Spec (MV refresh cost shape) | "
          "sources/MaterializedAgg.scala", "api"),
    (199, "txn_stats_agg", "hash"),
    (200, "mv_general", "hash"),
    (201, "Round14Spec (followDerived + applyGroupChanges) | "
          "etl/Medallion.scala, sources/TxLog.scala", "api"),
    (202, "txn_scd2_apply", "hash"),
    (203, "Round14Spec (deep clone) | sources/TxLog.scala", "api"),
    (204, "txn_identity", "hash"),
    (205, "txn_batch_source", "hash"),
    (206, "txn_generated", "hash"),
    (207, "txn_convert_partitioned", "hash"),
    (208, "Round15Spec (scoped OPTIMIZE) | sources/TxLog.scala", "api"),
    (209, "DefaultColSpec | sources/TxLog.scala", "api"),
    (210, "Round15Spec (replaceWhere) | sources/TxLog.scala", "api"),
    (211, "txn_sql_dml", "hash"),
    (212, "txn_sql_ddl", "hash"),
    (213, "Round16Spec (mergeInto) | sources/TxLog.scala", "api"),
    (214, "Round16Spec (conflict guard torture) | sources/TxLog.scala",
     "api"),
    (215, "Round16Spec (In/Or/IsNull pruning) | sources/TxLogBatch.scala",
     "api"),
    (216, "Round16Spec (partitionBy create) | sources/TxLogStreamSource.scala",
     "api"),
    (217, "convertInPlace listing parity -> PLANS.md round 16",
     "plans"),
    (218, "ann_ivf_seeded", "hash"),
    (219, "Round16Spec (advisory fixes) | sources/TxLog.scala", "api"),
    (220, "Round16Spec (CTAS + time travel) | sources/GraftCatalog.scala",
     "api"),
    (221, "txn_sql_timetravel", "hash"),
    (222, "txn_sql_changes", "hash"),
    (223, "Round16Spec (ALTER TABLE columns) | sources/GraftCatalog.scala",
     "api"),
    (224, "Round16Spec (readStream.table) | sources/TxLogSql.scala",
     "api"),
    # round 17
    (225, "txn_sql_copyinto", "hash"),
    (226, "ann_pq_seeded", "hash"),
    (227, "ann_ivfpq_seeded", "hash"),
    (228, "semdedup_seeded", "hash"),
    (229, "q22b_kmv_md5", "hash"),
    (230, "Round17Spec (inline column specs) | sources/GraftCatalog.scala",
     "api"),
    (231, "Round17Spec (subquery DML, REPLACE WHERE, toTable, TRUNCATE) "
     "| sources/TxLogSql.scala", "api"),
    (232, "Round18Spec (TxFileIndex: stats/broadcast/DPP/pruning parity) "
     "| sources/TxFileIndex.scala", "api"),
    (233, "dsir_seeded", "hash"),
    (234, "media_near_dup_seeded", "hash"),
    (235, "Round18Spec (TBLPROPERTIES/DESCRIBE EXTENDED from the log) "
     "| sources/TxLogDdl.scala", "api"),
    (236, "Round18Spec (cross-process race) | MultiWriterChild.scala",
     "api"),
    (237, "Round18Spec (COPY INTO length marker + NULL pad; "
     "EXISTS_DEFAULT drop) | sources/TxLog.scala", "api"),
    (238, "Round18Spec (partition-pure appends + plan-time stats "
     "restriction) | sources/TxLog.scala", "api"),
    # round 19
    (239, "Round19Spec (DV-bearing reads: static broadcast + exact "
     "rows) | sources/TxLogBatch.scala (TxLogV1Relation)", "api"),
    (240, "Round19Spec (purify compaction; SQL OPTIMIZE default + "
     "FLATTEN) | sources/TxLog.scala (compact purify)", "api"),
    (241, "Round19Spec (mapping-aware partition columns: rename keeps "
     "the presentation) | sources/TxFileIndex.scala", "api"),
    (242, "PlanAuditSpec (CBO 3-way join reorder from log stats) "
     "| sources/TxLogStats.scala", "api"),
    (243, "Round19Spec (COPY INTO shrink fingerprint; staging stats "
     "corroboration + '%'-value keying; bind-in-Try) "
     "| sources/TxLog.scala", "api"),
    (244, "bench_ab paired-ratio protocol -> PLANS.md round 19 "
     "| tools/bench_ab.py", "plans"),
    (245, "Round20Spec (dv-index read: one FileScan, DPP, fallbacks, "
     "escaped values, fuzz parity) + PlanAuditSpec "
     "| sources/DvScan.scala, sources/TxFileIndex.scala", "api"),
    (246, "PlanAuditSpec (string-key CBO reorder; sketch NDV; date "
     "hulls) | sources/TxLog.scala, sources/TxLogStats.scala", "api"),
    (247, "Round20Spec (byte-sized purify; zordered purify "
     "range-parallel with tight envelopes) "
     "| sources/TxLog.scala (compact/stageBodyPartitioned)", "api"),
    (248, "Round20Spec (auto-salt skewed ingest + size guard) "
     "| sources/TxLog.scala (histTasks)", "api"),
    (249, "Round20Spec (physical-first binding; map-safe salt; "
     "FLATTEN disambiguation) + shared liveBytes "
     "| sources/TxFileIndex.scala, sources/TxLogDdl.scala", "api"),
]

# Driver entries shipped beyond the numbered inventory (SURVEY section 8
# "additions beyond the inventory") — same correctness contract.
SUPPLEMENT = [
    ("q15_json_extract", "hash"), ("q16_asof_join", "hash"),
    ("q17_moving_avg", "hash"), ("q18_percentile_disc", "hash"),
    ("q19_approx_distinct", "rows"), ("q20_sql_surface", "hash"),
    ("text_top_terms", "hash"), ("ann_ivf_topk", "rows"),
    ("dedup_embedding_lsh", "hash"),
]

KIND_LABEL = {"hash": "driver, oracle hash", "rows": "driver, rows-only",
              "api": "ScalaTest", "shared": "shared driver carrier",
              "plans": "stress, PLANS.md"}


def binding_file(name: str) -> str:
    """Locate the queries file registering this driver entry."""
    out = subprocess.run(
        ["grep", "-rln", f'"{name}" ->', "src/main/scala/graft/"],
        capture_output=True, text=True).stdout.strip().splitlines()
    files = sorted(p.split("graft/")[-1] for p in out)
    return files[0] if files else "?"


def main(verify_dir: str) -> int:
    vd = Path(verify_dir)
    oracle = set(json.load(open(vd / "oracle_sql.json")).keys())
    dirs = {d.name for d in vd.iterdir()
            if d.name not in ("oracle_sql.json", "_failed.json")}
    # Verify writes _failed.json per thrown query; a failed entry has no
    # output dir, so without this check a regression would just shrink the
    # ledger (round-9 lesson). Refuse loudly instead.
    failed_marker = vd / "_failed.json"
    if failed_marker.exists():
        failed = json.load(open(failed_marker))
        if failed:
            for name, err in failed.items():
                print(f"ERROR: Verify FAILED for {name}: {err}",
                      file=sys.stderr)
            return 1
    else:
        print("WARNING: no _failed.json marker — Verify predates loud "
              "failures; absent entries may be silent throws",
              file=sys.stderr)

    claimed = {}
    errors = []
    for row, carrier, kind in ROWS:
        if kind in ("hash", "rows"):
            if carrier in claimed:
                errors.append(f"row {row}: {carrier} doubly claimed "
                              f"(also row {claimed[carrier]})")
            claimed[carrier] = row
            if carrier not in dirs:
                errors.append(f"row {row}: no Verify output for {carrier}")
            if kind == "hash" and carrier not in oracle:
                errors.append(f"row {row}: {carrier} marked hash, "
                              "no oracle SQL")
            if kind == "rows" and carrier in oracle:
                errors.append(f"row {row}: {carrier} marked rows-only "
                              "but HAS oracle SQL")
        elif kind == "shared":
            for c in carrier:
                if c not in dirs:
                    errors.append(f"row {row}: shared carrier {c} missing")
    for name, kind in SUPPLEMENT:
        if name in claimed:
            errors.append(f"supplement {name} already claimed by "
                          f"row {claimed[name]}")
        claimed[name] = "supp"
        if name not in dirs:
            errors.append(f"supplement: no Verify output for {name}")
        if kind == "hash" and name not in oracle:
            errors.append(f"supplement {name} marked hash, no oracle SQL")
        if kind == "rows" and name in oracle:
            errors.append(f"supplement {name} marked rows-only but HAS "
                          "oracle SQL")
    unclaimed = dirs - set(claimed)
    if unclaimed:
        errors.append(f"driver entries claimed by NO row: "
                      f"{sorted(unclaimed)}")
    if errors:
        for e in errors:
            print("ERROR:", e, file=sys.stderr)
        return 1

    n_hash = sum(1 for _, c, k in ROWS if k == "hash") + \
        sum(1 for _, k in SUPPLEMENT if k == "hash")
    n_rows = sum(1 for _, c, k in ROWS if k == "rows") + \
        sum(1 for _, k in SUPPLEMENT if k == "rows")
    n_api = sum(1 for _, c, k in ROWS if k == "api")
    n_other = sum(1 for _, c, k in ROWS if k in ("shared", "plans"))

    print(f"<!-- generated by tools/ledger.py against {verify_dir}; "
          "re-run after adding a row -->")
    print(f"Totals (computed): **{len(dirs)} driver entries "
          f"({n_hash} oracle-hash, {n_rows} rows-only), {n_api} "
          f"API/streaming rows, {n_other} shared/stress rows; "
          f"{len(ROWS)} numbered rows + {len(SUPPLEMENT)} supplementary "
          "driver entries.**\n")
    print("| row | carrier | kind | binding / suite |")
    print("| --- | --- | --- | --- |")
    for row, carrier, kind in ROWS:
        if kind in ("hash", "rows"):
            print(f"| {row} | {carrier} | {KIND_LABEL[kind]} | "
                  f"{binding_file(carrier)} |")
        elif kind == "shared":
            print(f"| {row} | {', '.join(carrier)} | {KIND_LABEL[kind]} "
                  "| see carrier rows |")
        else:
            print(f"| {row} | {carrier} | {KIND_LABEL[kind]} | — |")
    print("\nSupplementary driver entries (shipped beyond the numbered "
          "inventory, same contract):\n")
    print("| entry | kind | binding |")
    print("| --- | --- | --- |")
    for name, kind in SUPPLEMENT:
        print(f"| {name} | {KIND_LABEL[kind]} | {binding_file(name)} |")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1] if len(sys.argv) > 1 else "/tmp/verify_out"))
