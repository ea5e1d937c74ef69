"""Plan-quality audit: assert the physical plans have the shapes we designed
for — filters pushed to the parquet scan, dim joins broadcast, aggregates
partial, windows single-shuffle.

Usage: python tools/explain_check.py [sf_dir]
Prints PASS/FAIL per assertion; exits 1 on any FAIL.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from storm_data_etl_spark.session import get_spark


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("explain-check", master="local[8]")

    import __spark_entry__ as entry

    qs = entry.queries()
    failures = []

    def check(name: str, cond: bool, detail: str = "") -> None:
        print(f"[{'PASS' if cond else 'FAIL'}] {name} {detail}")
        if not cond:
            failures.append(name)

    # 1. Filter pushdown reaches the scan even through the repartition.
    p = plan_of(qs["filter_compound"](spark, sf_dir))
    check(
        "filter_compound_pushdown",
        "PushedFilters: [IsNotNull(event_type), IsNotNull(value)" in p
        or "EqualTo(event_type,purchase)" in p,
        "(PushedFilters at scan)",
    )

    # 2. Column pruning: pricing summary must not read all lineitem columns.
    p = plan_of(qs["pricing_summary"](spark, sf_dir))
    check(
        "pricing_summary_pruning",
        "l_orderkey" not in p.split("ReadSchema")[-1],
        "(ReadSchema excludes unused cols)",
    )
    check("pricing_summary_partial_agg", p.count("HashAggregate") >= 2, "(map-side partial)")
    # AQE finalizes the plan lazily — codegen nodes only exist in the
    # executed plan after an action.
    dfq = qs["pricing_summary"](spark, sf_dir)
    dfq.collect()
    executed = dfq._jdf.queryExecution().executedPlan().toString()
    cg = dfq._sc._jvm.PythonSQLUtils.explainString(
        dfq._jdf.queryExecution(), "codegen"
    )
    check(
        "pricing_summary_codegen",
        "*(" in executed or "WholeStageCodegen subtrees" in cg,
        "(codegen stage markers in final AQE plan)",
    )

    # 3. Multiway join: dim tables broadcast.
    p = plan_of(qs["join_multiway"](spark, sf_dir))
    check("join_multiway_broadcast", "BroadcastHashJoin" in p)

    # 4. Anti join present for missing-keys.
    p = plan_of(qs["anti_join_missing"](spark, sf_dir))
    check("anti_join_shape", "LeftAnti" in p)

    # 5. Top-N executes as TakeOrdered, not global sort.
    p = plan_of(qs["top_groups"](spark, sf_dir))
    check("top_groups_take_ordered", "TakeOrderedAndProject" in p)

    # 6. First-per-group: a single shuffle (window), no extra sorts beyond it.
    p = plan_of(qs["first_per_group"](spark, sf_dir))
    check("first_per_group_window", "RunningWindowFunction" in p or "Window" in p)

    # 7. Range join: the bucketed formulation must compile to a hash join on
    # the bucket key, never a nested loop over (points x intervals).
    p = plan_of(qs["range_join_busy_windows"](spark, sf_dir))
    check(
        "range_join_no_nested_loop",
        "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p,
        "(equi-join on bucket id)",
    )

    # 8. Enrichment plan stays deduplicated: the golden runner is
    # enrich_raw plus a flattening select, so this audits enrich_raw's own
    # plan. The staged intermediates keep each when-chain/regex at one copy;
    # inlining regressions blow this up (162 regexp_replace nodes before the
    # fix).
    p = qs["storm_enrich_golden"](spark, sf_dir)._jdf.queryExecution().optimizedPlan().toString()
    check(
        "enrich_plan_deduplicated",
        p.count("regexp_replace") <= 12 and p.count("sha2") <= 4,
        f"(regexp_replace x{p.count('regexp_replace')}, sha2 x{p.count('sha2')})",
    )

    # 9. Verified minhash: the exact-verify shingle projection must sit
    # ABOVE the candidate semi-join (Catalyst won't push LeftSemi below a
    # Project — the operator has to order them; regression computes shingles
    # for every doc instead of candidates only).
    p = qs["minhash_dedup_verified"](spark, sf_dir)._jdf.queryExecution().optimizedPlan().toString()
    lines = p.splitlines()
    # Shingle-projection marker: the array_distinct(CASE WHEN ...) shingle
    # expression inside a Project node (the minhash signature's ArrowEval
    # nodes embed the same expression — exclude them).
    shingle_projects = [
        i
        for i, l in enumerate(lines)
        if "Project" in l and "array_distinct(CASE WHEN" in l and "ArrowEval" not in l
    ]
    ok = bool(shingle_projects) and all(
        any("LeftSemi" in lines[j] for j in range(i + 1, min(i + 3, len(lines))))
        for i in shingle_projects
    )
    check(
        "minhash_verify_restricted",
        ok,
        "(verify-path shingle projection directly above the candidate semi-join)",
    )

    # 10. Decontamination: the benchmark gram set must ride a broadcast —
    # the corpus side never shuffles for the containment join.
    p = plan_of(qs["decontaminate_benchmark"](spark, sf_dir))
    check("decontaminate_broadcast", "BroadcastHashJoin" in p)

    # 11. BM25 top-k compiles to TakeOrderedAndProject (per-partition heap),
    # never a global Sort.
    p = plan_of(qs["bm25_keyword_search"](spark, sf_dir))
    check("bm25_take_ordered", "TakeOrderedAndProject" in p)

    # 12. CDC merge: one window over the merge key, and the changelog union
    # stays a single-stage UNION ALL (no distinct-style exchange per leg).
    p = plan_of(qs["cdc_upsert_merge"](spark, sf_dir))
    check("cdc_merge_window", "Window" in p and "Union" in p)

    # 13. Z-order curve stats: pure expression + partial agg, no joins.
    p = plan_of(qs["zorder_curve_stats"](spark, sf_dir))
    check(
        "zorder_narrow_agg",
        "Join" not in p and p.count("HashAggregate") >= 2,
        "(scan -> partial agg -> final agg)",
    )

    # 14. Bigram LM: both model tables (bigram counts, context totals) and
    # the vocab scalar ride broadcasts — the corpus-sized bigram stream
    # never shuffles for the scoring joins.
    p = plan_of(qs["bigram_lm_score"](spark, sf_dir))
    check(
        "bigram_lm_broadcast_model",
        p.count("BroadcastHashJoin") >= 2 and "SortMergeJoin" not in p,
        f"(BroadcastHashJoin x{p.count('BroadcastHashJoin')})",
    )

    # 15. TF-IDF: document frequency + corpus size broadcast into the
    # scoring join; top-k is a window, not a global sort of all terms.
    p = plan_of(qs["tfidf_top_terms"](spark, sf_dir))
    check(
        "tfidf_broadcast_model",
        "BroadcastHashJoin" in p and "SortMergeJoin" not in p,
    )

    # 16. GROUPING SETS compiles to ONE scan + Expand, not a union of
    # per-granularity scans.
    p = plan_of(qs["grouping_sets_counts"](spark, sf_dir))
    # formatted explain names each scan twice (tree line + detail header).
    check(
        "grouping_sets_single_scan",
        "Expand" in p and p.count("Scan parquet") <= 2 and "Union" not in p,
        f"(Expand present, scan mentions x{p.count('Scan parquet')})",
    )

    # 19. Interval union merge: ONE hash exchange (user_id) feeds both
    # stacked windows and both grouped aggregations — no re-shuffle after
    # the window or between the island and per-user aggs.
    p = plan_of(qs["interval_union_merge"](spark, sf_dir))
    n_hash = p.count("hashpartitioning(")
    check(
        "interval_union_single_shuffle",
        n_hash == 1 and p.count("Window") >= 2,
        f"(hashpartitioning x{n_hash})",
    )

    # 20. Trend slope: regression moments computed as map-side partials.
    p = plan_of(qs["trend_slope_by_type"](spark, sf_dir))
    check(
        "trend_slope_partial_moments",
        "partial_regr_slope" in p,
        "(partial_regr_slope before exchange)",
    )

    # 21. Trigram top-k: TakeOrdered (no global sort) over a single
    # user-partitioned window shuffle.
    p = plan_of(qs["frequent_event_trigrams"](spark, sf_dir))
    check(
        "trigrams_take_ordered",
        "TakeOrderedAndProject" in p and p.count("hashpartitioning(user_id") == 1,
        "(TakeOrdered; one user_id shuffle)",
    )

    # 22. Vocab coverage: token pass persisted once (no double scan of the
    # explode), top-100 via TakeOrdered, scalar total broadcast.
    p = plan_of(qs["vocab_coverage"](spark, sf_dir))
    check(
        "vocab_coverage_shape",
        "TakeOrderedAndProject" in p
        and "InMemoryRelation" in p
        and "BroadcastNestedLoopJoin" in p,
        "(persisted tokens; TakeOrdered; broadcast total)",
    )

    # 23. Cross-source overlap: the distinct (source, shingle) projection is
    # persisted so the self-join doesn't recompute the shingle explode.
    p = plan_of(qs["cross_source_overlap"](spark, sf_dir))
    check(
        "cross_source_overlap_persisted",
        "InMemoryRelation" in p,
        "(shingle projection cached)",
    )

    # 24. Spatial radius join: grid blocking must plan as an EQUI join on
    # the cell keys — never a cartesian / nested-loop product.
    p = plan_of(qs["spatial_neighbor_join"](spark, sf_dir))
    check(
        "spatial_join_is_equi",
        "CartesianProduct" not in p and "NestedLoop" not in p,
        "(cell-key equi join, no cross product)",
    )

    # 25. Native session windows: the session merge happens inside the
    # aggregate after ONE user_id exchange (no extra shuffle for the
    # per-user re-aggregate — same key, AQE reuses the partitioning).
    p = plan_of(qs["session_window_agg"](spark, sf_dir))
    check(
        "session_window_single_shuffle",
        "SessionWindow" in p or "session_window" in p,
        "(native session-window node present)",
    )

    # 26. Sliding windows: the 4-window expansion is map-side (Expand /
    # explode before the exchange), not a join against a window table.
    p = plan_of(qs["sliding_window_counts"](spark, sf_dir))
    check(
        "sliding_window_mapside_expand",
        ("Expand" in p or "Generate" in p) and "Join" not in p,
        "(map-side window expansion, no join)",
    )

    # 27. Nation-pair snowflake: lineitem⋈orders is the only big join; all
    # four dimension joins broadcast (no sort-merge anywhere at this SF).
    p = plan_of(qs["nation_pair_trade"](spark, sf_dir))
    check(
        "nation_pair_broadcast_dims",
        p.count("BroadcastHashJoin") >= 4,
        f"(BroadcastHashJoin x{p.count('BroadcastHashJoin')})",
    )

    # 28. Variant path: parse_json runs JVM-side — no Python eval node in
    # the plan (the UDTF query is the one deliberate Python stage).
    p = plan_of(qs["props_variant_buckets"](spark, sf_dir))
    check(
        "variant_no_python",
        "Python" not in p and "variant_get" in p,
        "(variant_get JVM expression, no Python eval)",
    )

    # 29. Recursive CTE: plans as a native recursion loop (UnionLoop /
    # CTERelation iteration), not a driver-side materialization.
    p = plan_of(qs["recursive_digit_hierarchy"](spark, sf_dir))
    check(
        "recursive_cte_native",
        "UnionLoop" in p or "Recursion" in p or "recursive" in p.lower(),
        "(native recursion node)",
    )

    # 30. SQL UDF: the function body inlines into the plan — no Python eval
    # stage, aggregate still map-side partial.
    p = plan_of(qs["sql_udf_value_bands"](spark, sf_dir))
    check(
        "sql_udf_inlined",
        "Python" not in p and p.count("HashAggregate") >= 2,
        "(CASE inlined, partial agg, no Python)",
    )

    # 31. Curation funnel: the dedup-chain frames are cached so the six
    # stage aggregates don't recompute the expensive stages.
    p = plan_of(qs["curation_funnel"](spark, sf_dir))
    check(
        "curation_funnel_staged_cache",
        "InMemoryRelation" in p and "Union" in p,
        "(persisted dedup chain feeding the funnel union)",
    )

    # 32. Semantic decontamination: the benchmark vectors ride a broadcast
    # nested-loop (tiny side) — the train scan never shuffles for scoring.
    p = plan_of(qs["semantic_decontamination"](spark, sf_dir))
    check(
        "semantic_decon_broadcast",
        "BroadcastNestedLoopJoin" in p and "SortMergeJoin" not in p,
        "(bench side broadcast)",
    )

    # 33. Bucketed co-located join: sort-merge with ZERO exchange feeding
    # the join (the only Exchange in the plan belongs to the final
    # aggregate) — bucketing eliminated the join shuffle entirely.
    import re as _re

    p = plan_of(qs["bucketed_colocated_join"](spark, sf_dir))
    # formatted explain lists each node twice (tree + detail header) —
    # count Exchange NODES from tree lines only.
    n_exchanges = len(_re.findall(r"[+:]- Exchange", p))
    check(
        "bucketed_join_zero_exchange",
        "SortMergeJoin" in p and n_exchanges == 1,
        f"(tree Exchange nodes: {n_exchanges}; the one belongs to the final agg)",
    )

    # 34. Real image decode: two Python-kernel stages over the scan, no
    # shuffle anywhere (the whole pipeline is narrow maps).
    p = plan_of(qs["image_decode_stats"](spark, sf_dir))
    n_exchanges = len(_re.findall(r"[+:]- Exchange", p))
    n_maps = len(_re.findall(r"[+:]- MapInPandas", p))
    check(
        "image_decode_no_shuffle",
        n_maps == 2 and n_exchanges <= 1,
        f"(MapInPandas tree nodes: {n_maps}; tree Exchange nodes: "
        f"{n_exchanges} — only the input-split repartition, no "
        "mid-pipeline shuffle)",
    )

    # 35. Snapshot diff: ONE full-outer sort-merge join on the primary key;
    # both snapshot branches hash-partition (2 exchanges) + 1 for the final
    # tiny aggregate — nothing else.
    p = plan_of(qs["corpus_snapshot_diff"](spark, sf_dir))
    n_smj = len(_re.findall(r"[+:]- SortMergeJoin", p))
    check(
        "snapshot_diff_single_join",
        "FullOuter" in p and n_smj == 1,
        f"(full-outer SMJ tree nodes: {n_smj})",
    )

    # 36. Temperature mixture: partial aggregation on lang and the 1-row
    # total rides a broadcast — no second scan of documents.
    p = plan_of(qs["temperature_sampling_mix"](spark, sf_dir))
    check(
        "temperature_mix_broadcast_total",
        "BroadcastNestedLoopJoin" in p and p.count("HashAggregate") >= 2,
        "(broadcast 1-row total; map-side partial agg)",
    )

    # 37. Record linkage: candidates come from an EQUI join on the blocking
    # key — a broken blocking expression degenerates to a nested-loop cross
    # product, which this pins against.
    p = plan_of(qs["entity_match_scores"](spark, sf_dir))
    check(
        "entity_match_blocked_equi_join",
        ("SortMergeJoin" in p or "BroadcastHashJoin" in p or "ShuffledHashJoin" in p)
        and "CartesianProduct" not in p
        and "BroadcastNestedLoopJoin" not in p,
        "(hash/merge equi join on blocking key; no cross product)",
    )

    # 38. Attribution: ONE equi-join on user_id carries the shuffle; the
    # 24h window must be a post-join filter, not a nested-loop condition.
    p = plan_of(qs["multitouch_attribution"](spark, sf_dir))
    n_joins = len(
        _re.findall(r"[+:]- (SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)", p)
    )
    check(
        "attribution_equi_join_shape",
        "CartesianProduct" not in p
        and "BroadcastNestedLoopJoin" not in p
        and n_joins >= 2,  # touch join + per-conversion credit join
        f"(equi joins only: {n_joins}; time window as filter)",
    )

    # 39. Substring-dup spans: everything after the gram explosion is keyed
    # on the gram — one semi join (no cross product), the final per-doc
    # join is a plain equi join, and the interval-union window is
    # partitioned (no global window).
    p = plan_of(qs["substring_dup_spans"](spark, sf_dir))
    check(
        "substring_spans_keyed_joins",
        "LeftSemi" in p
        and "CartesianProduct" not in p
        and "BroadcastNestedLoopJoin" not in p,
        "(semi join on gram; equi joins only)",
    )

    # 40. Compaction planning: metadata-only — the window and both
    # aggregates run partitioned by event_type; no global window node.
    p = plan_of(qs["compaction_plan"](spark, sf_dir))
    check(
        "compaction_plan_partitioned_window",
        "Window" in p and p.count("HashAggregate") >= 2,
        "(partitioned window + partial aggs)",
    )

    # 41. Collation join: the collated key is still an EQUI join the
    # optimizer can broadcast — no nested-loop fallback.
    p = plan_of(qs["collation_join_sort"](spark, sf_dir))
    check(
        "collation_join_broadcast_equi",
        "BroadcastHashJoin" in p and "BroadcastNestedLoopJoin" not in p,
        "(broadcast equi join under UTF8_LCASE)",
    )

    # 42. PQ ANN: probes broadcast (the scan side is never shuffled for
    # scoring), and the two ranking windows are the only exchanges.
    p = plan_of(qs["ann_pq_topk"](spark, sf_dir))
    check(
        "ann_pq_broadcast_probes",
        "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p,
        "(probe side broadcast)",
    )

    # 43. Media decode queries: narrow Arrow maps only — at most the one
    # input-split repartition (the fixture's single-row-group parquet needs
    # it for parallelism; same allowance as image_decode_no_shuffle), never
    # a mid-pipeline shuffle between the build and decode kernels.
    for q in ("png_decode_stats", "jpeg_decode_stats", "video_frame_decode_stats"):
        p = plan_of(qs[q](spark, sf_dir))
        n_ex = len(_re.findall(r"[+:]- Exchange", p))
        check(f"{q}_no_shuffle", n_ex <= 1, f"(exchanges: {n_ex}, input split only)")

    # 44. Salted two-phase aggregation: BOTH aggregation phases present —
    # ≥4 HashAggregate nodes (partial+final × two groupBys) and two
    # Exchanges (on (key, salt) then (key)); never collapsed back into a
    # single-phase plan that would reintroduce the hot-key funnel.
    p = plan_of(qs["skewed_agg_salted"](spark, sf_dir))
    check(
        "skewed_agg_two_phases",
        len(_re.findall(r"[+:]- HashAggregate", p)) >= 4,
        "(partial+final for both phases)",
    )
    check(
        "skewed_agg_two_exchanges",
        len(_re.findall(r"[+:]- Exchange", p)) >= 2,
        "(key+salt shuffle, then key shuffle)",
    )

    # 45. Bloom membership: the positions table must join BROADCAST — the
    # whole point is that the probe corpus never shuffles for the test.
    p = plan_of(qs["bloom_cross_dedup"](spark, sf_dir))
    check(
        "bloom_positions_broadcast",
        "BroadcastHashJoin" in p,
        "(positions side broadcast)",
    )

    # 46. DSIR: the per-doc·word table joins the vocabulary-bounded ratio
    # table; no cartesian anywhere, aggregates partial.
    p = plan_of(qs["dsir_importance_weights"](spark, sf_dir))
    check(
        "dsir_no_cartesian",
        "CartesianProduct" not in p,
        "(word-keyed joins only)",
    )
    check(
        "dsir_partial_agg",
        len(_re.findall(r"[+:]- HashAggregate", p)) >= 2,
        "(map-side partials)",
    )

    # 47. Boilerplate chunk removal: no cartesian; the chunk table is
    # pinned (InMemoryTableScan feeds both the df aggregate and the
    # join-back) and aggregates run partial+final.
    p = plan_of(qs["boilerplate_chunk_removal"](spark, sf_dir))
    check(
        "boilerplate_no_cartesian",
        "CartesianProduct" not in p and "BroadcastNestedLoop" not in p,
        "(chunk_md5-keyed joins only)",
    )
    check(
        "boilerplate_chunk_pin_reused",
        len(_re.findall(r"[+:]- InMemoryTableScan", p)) >= 2,
        "(pinned chunk table scanned by both consumers)",
    )

    # 48. Tolerance as-of join: same single-shuffle union+window plan as
    # the unbounded as-of join — the tolerance bound must not introduce a
    # join node or extra exchange (one Exchange for the key window; AQE
    # may add coalesce reads but no second shuffle of the union).
    # Count only hashpartitioning exchanges: the fixture's single-row-group
    # parquet gets a RoundRobin input-split repartition per scan (pure
    # parallelism, no key movement) — the KEY shuffle must be exactly the
    # one window exchange on user_id.
    p = plan_of(qs["asof_join_tolerance"](spark, sf_dir))
    n_hash = len(_re.findall(r"Arguments: hashpartitioning", p))
    check(
        "asof_tolerance_single_shuffle",
        n_hash == 1 and "Join" not in p,
        f"(hash exchanges: {n_hash}, no join node; window carry only)",
    )

    # 49. Sequence packing: the prefix sum must be the two-phase form —
    # range partitioning on the order key plus a broadcast offsets join —
    # never a partition-less global window (whose single task would cap
    # the scan at one core).
    p = plan_of(qs["sequence_packing_stats"](spark, sf_dir))
    check(
        "seq_packing_range_partition",
        "rangepartitioning" in p.lower(),
        "(range shuffle on the order key)",
    )
    check(
        "seq_packing_offsets_broadcast",
        "BroadcastHashJoin" in p,
        "(#partitions-row offset table broadcast)",
    )

    # 50. Padding audit: the batch-formation window must partition by
    # BOTH band and sub (the skew-safety point — 32 bounded partitions,
    # not 4 giant ones).
    p = plan_of(qs["padding_efficiency_stats"](spark, sf_dir))
    check(
        "padding_window_subbucketed",
        bool(_re.search(r"hashpartitioning\(band\S*, sub", p)),
        "(window keyed (band, sub))",
    )

    # 51. NFC audit: exactly one Arrow-batch Python pass, then JVM
    # aggregation with map-side partials.
    p = plan_of(qs["unicode_nfc_audit"](spark, sf_dir))
    check(
        "nfc_single_arrow_pass",
        len(_re.findall(r"[+:]- MapInPandas", p)) == 1,
        "(one mapInPandas node)",
    )
    check(
        "nfc_partial_agg",
        len(_re.findall(r"[+:]- HashAggregate", p)) >= 2,
        "(partial+final per-source agg)",
    )

    # 52. Mann-Whitney: the only nested-loop join is the broadcast of the
    # 1-row totals; the histogram path is pure aggregation.
    p = plan_of(qs["mann_whitney_u"](spark, sf_dir))
    check(
        "mwu_only_total_broadcast",
        "CartesianProduct" not in p
        and len(_re.findall(r"[+:]- BroadcastNestedLoopJoin", p)) <= 1,
        "(1-row totals broadcast only)",
    )

    # 53. Chat render: ONE hash shuffle, on thread_id only (the render md5
    # hashes inside the aggregate — no wide row crosses a second shuffle).
    p = plan_of(qs["chat_template_render_stats"](spark, sf_dir))
    check(
        "chat_single_thread_shuffle",
        {k.split("#")[0] for k in _re.findall(r"hashpartitioning\(([\w#]+)", p)}
        == {"thread_id"},
        "(only thread_id hash exchange)",
    )

    # 54. WARC ingest: exactly one Arrow parse pass; every hash shuffle keys
    # on file_id (assemble + reconcile), nothing else.
    p = plan_of(qs["warc_ingest_stats"](spark, sf_dir))
    check(
        "warc_single_arrow_parse",
        len(_re.findall(r"[+:]- MapInArrow", p)) == 1,
        "(one mapInArrow node)",
    )
    check(
        "warc_file_id_shuffles_only",
        {k.split("#")[0] for k in _re.findall(r"hashpartitioning\(([\w#]+)", p)}
        == {"file_id"},
        "(all hash exchanges on file_id)",
    )

    # 55. Epoch shuffle plan: one hash shuffle (the shard key expression).
    p = plan_of(qs["epoch_shuffle_plan"](spark, sf_dir))
    check(
        "epoch_single_shard_shuffle",
        {k.split("#")[0] for k in _re.findall(r"hashpartitioning\(([\w#]+)", p)}
        == {"_groupingexpression"},
        "(one shard-expression hash exchange)",
    )

    # 56. Fertility: pure codegen counting — no Python nodes, map-side
    # partial aggregation on lang.
    p = plan_of(qs["tokenizer_fertility_by_lang"](spark, sf_dir))
    check(
        "fertility_no_python",
        "MapInPandas" not in p and "BatchEvalPython" not in p and "MapInArrow" not in p,
        "(JVM-only)",
    )
    check(
        "fertility_partial_agg",
        len(_re.findall(r"[+:]- HashAggregate", p)) >= 2,
        "(partial+final lang agg)",
    )

    # 57. Preference pairs: the min_by/max_by formulation must plan NO join
    # (the SQL twin's a×b self-join is the thing we avoided).
    p = plan_of(qs["rlhf_preference_pair_stats"](spark, sf_dir))
    check(
        "rlhf_no_join",
        "Join" not in p and "CartesianProduct" not in p,
        "(pair groupBy, not self-join)",
    )

    # 58. Stupid-backoff trigram: every LM-table join broadcasts (the
    # tables are vocabulary-bounded) — no sort-merge join in the plan.
    p = plan_of(qs["stupid_backoff_trigram_score"](spark, sf_dir))
    check(
        "sb_trigram_broadcast_lm_joins",
        "SortMergeJoin" not in p and len(_re.findall(r"[+:]- BroadcastHashJoin", p)) >= 4,
        "(vocab-bounded tables broadcast)",
    )

    # 59. Threshold sweep: the cumulative window runs over the 11-bucket
    # histogram, not the corpus — at most 2 parquet scans of documents
    # (buckets; totals derive from the histogram) and a broadcast of the
    # 1-row totals.
    p = plan_of(qs["quality_threshold_sweep"](spark, sf_dir))
    check(
        "sweep_histogram_form",
        len(_re.findall(r"[+:]- Scan parquet", p)) <= 1
        and len(_re.findall(r"[+:]- Window", p)) == 2,
        "(one corpus scan, two bounded 11-row windows)",
    )

    # 60. Hard negatives: broadcast probes only — one nested-loop
    # broadcast, never a CartesianProduct.
    p = plan_of(qs["hard_negative_mining"](spark, sf_dir))
    check(
        "hard_neg_broadcast_probes",
        "CartesianProduct" not in p
        and len(_re.findall(r"[+:]- BroadcastNestedLoopJoin", p)) == 1,
        "(probes broadcast once)",
    )

    # 61. XML feed: build+parse are pure JVM expressions (from_xml is an
    # expression, not a UDF) — no Python nodes; all shuffles on source.
    p = plan_of(qs["xml_feed_parse_stats"](spark, sf_dir))
    check(
        "xml_feed_jvm_only",
        "MapInPandas" not in p and "BatchEvalPython" not in p and "MapInArrow" not in p,
        "(from_xml stays JVM-side)",
    )
    check(
        "xml_feed_source_shuffles_only",
        {k.split("#")[0] for k in _re.findall(r"hashpartitioning\(([\w#]+)", p)}
        == {"source"},
        "(all hash exchanges on source)",
    )

    # 62. DP histogram: the rank window runs over the distinct types (after
    # the count agg), never the raw events — window sits above HashAggregate.
    p = plan_of(qs["dp_noise_histogram"](spark, sf_dir))
    check(
        "dp_window_over_types_only",
        len(_re.findall(r"[+:]- Window", p)) == 1
        and len(_re.findall(r"[+:]- HashAggregate", p)) >= 2,
        "(bounded window above partial+final count)",
    )

    # 63. Q2-pattern min-cost supplier: both aggs partial+final, the
    # supplier dim broadcast, no cartesian.
    p = plan_of(qs["min_cost_supplier"](spark, sf_dir))
    check(
        "min_cost_supplier_shape",
        "CartesianProduct" not in p
        and len(_re.findall(r"[+:]- BroadcastHashJoin", p)) >= 1
        # the (partkey,suppkey) min is hash-agg'd; the struct-min per part
        # plans as a SortAggregate — both partial+final
        and len(_re.findall(r"[+:]- HashAggregate", p))
        + len(_re.findall(r"[+:]- SortAggregate", p)) >= 4,
        "(partial aggs + broadcast supplier)",
    )

    # 64. Q17-pattern correlated-average: decorrelated — the per-part agg
    # is partial+final and the lineitem scans stay partkey-joined (no
    # per-row correlated subplan, which would appear as a cartesian or
    # nested loop).
    p = plan_of(qs["correlated_avg_filter"](spark, sf_dir))
    check(
        "correlated_avg_decorrelated",
        "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p,
        "(agg+join, no correlated probe)",
    )

    # 65. Q11-pattern global share: the 1-row total joins back via
    # broadcast nested loop (a 1-row cross), never a shuffle join; the
    # part-value agg is partial+final.
    p = plan_of(qs["having_global_share"](spark, sf_dir))
    check(
        "global_share_broadcast_total",
        len(_re.findall(r"[+:]- BroadcastNestedLoopJoin", p)) == 1
        and "SortMergeJoin" not in p,
        "(1-row total broadcast)",
    )

    # 66. ACF: the lag self-join runs on the tiny daily aggregate and is
    # broadcast; the raw scan collapses through partial+final agg first.
    p = plan_of(qs["acf_lag_profile"](spark, sf_dir))
    check(
        "acf_broadcast_daily_join",
        len(_re.findall(r"[+:]- BroadcastNestedLoopJoin", p)) == 1
        and "SortMergeJoin" not in p,
        "(daily agg broadcast, range condition)",
    )

    # 67. Tool-call trace: ONE exchange on user_id serves both the
    # running-max window and the final per-user agg.
    p = plan_of(qs["toolcall_trace_audit"](spark, sf_dir))
    check(
        "toolcall_single_user_shuffle",
        len(_re.findall(r"hashpartitioning\(user_id", p)) == 1
        and len(_re.findall(r"hashpartitioning\(", p)) == 1,
        "(window + agg share the user_id shuffle)",
    )

    # 68. Snapshot retention: one file_id exchange serves window + agg;
    # the cutoff is a broadcast 1-row join.
    p = plan_of(qs["snapshot_retention_plan"](spark, sf_dir))
    check(
        "retention_single_file_shuffle",
        len(_re.findall(r"hashpartitioning\(file_id", p)) == 1
        and len(_re.findall(r"hashpartitioning\(", p)) == 1
        and len(_re.findall(r"[+:]- BroadcastNestedLoopJoin", p)) == 1,
        "(keyed shuffle + broadcast cutoff)",
    )

    # 69. Watermark lag: the keyed window is the only hash exchange; no
    # global sort of the raw stream.
    p = plan_of(qs["watermark_lag_histogram"](spark, sf_dir))
    check(
        "watermark_keyed_window_only",
        len(_re.findall(r"hashpartitioning\(user_id", p)) == 1
        and "rangepartitioning" not in p,
        "(per-key disorder, never a global arrival sort)",
    )

    # 70. Chunk-boundary seams: a plain shuffled equi-join on the seam
    # key — no cartesian, no broadcast of the full corpus side.
    p = plan_of(qs["chunk_boundary_overlap"](spark, sf_dir))
    check(
        "seam_join_equi",
        "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p,
        "(equi-join on (source, key24))",
    )

    # 71. Mojibake: pure codegen string expressions — no Python nodes, one
    # source-keyed aggregation.
    p = plan_of(qs["mojibake_audit"](spark, sf_dir))
    check(
        "mojibake_jvm_only",
        "MapInPandas" not in p and "BatchEvalPython" not in p,
        "(contains/rlike stay JVM-side)",
    )

    # 72. Bitext ratio: pair construction is a conditional agg on pair_id,
    # never a self-join of documents.
    p = plan_of(qs["bitext_length_ratio_filter"](spark, sf_dir))
    check(
        "bitext_no_self_join",
        "Join" not in p,
        "(pair_id conditional agg, not a self-join)",
    )

    # 73. SimHash-LCG certification: the fingerprints come from ONE
    # mapInPandas kernel whose output is pinned, so Python runs once per
    # pin and never in the per-band hot path. No row-at-a-time or Arrow UDF
    # eval, no higher-order Spark functions (the HOF form measured 20+ s at
    # sf0.1), and every MapInPandas operator sits under the pinned
    # InMemoryRelation. The formatted plan prints the same operator once
    # per consumer plus once in the details, so count by operator id.
    p = plan_of(qs["simhash_lcg_candidates"](spark, sf_dir))
    tree = p.split("\n\n", 1)[0].splitlines()

    def _col(line: str) -> int:
        return len(line) - len(line.lstrip(" :+-"))

    mip_ids, unpinned = set(), set()
    for i, line in enumerate(tree):
        m = _re.search(r"MapInPandas \((\d+)\)", line)
        if not m:
            continue
        mip_ids.add(m.group(1))
        depth, pinned = _col(line), False
        for up in reversed(tree[:i]):
            if _col(up) < depth:
                depth = _col(up)
                pinned = pinned or "InMemoryRelation" in up
        if not pinned:
            unpinned.add(m.group(1))
    check(
        "simhash_lcg_codegen",
        "BatchEvalPython" not in p and "ArrowEvalPython" not in p
        and len(mip_ids) == 1 and not unpinned
        and "aggregate(" not in p and "transform(" not in p.replace(
            "string_agg", ""
        ),
        f"(one pinned MapInPandas: {len(mip_ids)} operator(s), "
        f"{len(unpinned)} outside InMemoryRelation; no HOF fold)",
    )

    # 74. OPH-LCG: the bin-minima table is pinned (InMemoryRelation), so
    # the shingle pipeline evaluates once for its three consumers.
    dfq = qs["oph_lcg_lsh_pairs"](spark, sf_dir)
    check(
        "oph_mins_pinned",
        "InMemoryTableScan" in plan_of(dfq)
        or "InMemoryRelation" in plan_of(dfq),
        "(pinned loop invariant)",
    )
    from storm_data_etl_spark.session import release_pinned as _rel
    _rel()

    # 75. k-means assignment: centroids broadcast; the per-vector argmin
    # window is keyed (no global window).
    p = plan_of(qs["kmeans_assign_fixed_centroids"](spark, sf_dir))
    check(
        "kmeans_assign_broadcast_centroids",
        len(_re.findall(r"[+:]- BroadcastNestedLoopJoin", p)) == 1
        and "rangepartitioning" not in p,
        "(broadcast centroids, keyed window)",
    )

    def unpartitioned_ordered_windows(df, allow_keys: tuple[str, ...] = ()) -> list[str]:
        """Logical Window nodes with an ORDER BY but an empty PARTITION BY
        (WindowExec's 'No Partition Defined' one-task shape). A partitioned
        ordered window prints `Window [exprs], [partSpec], [orderSpec]`
        (two `], [` separators); unpartitioned prints one — and only
        ordered windows (ASC/DESC in the spec) can hit the warning.
        ``allow_keys``: substrings marking windows that are single-task BY
        DESIGN over provably bounded rows (e.g. the ~#partitions offset
        scan of global_rank)."""
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        bad = []
        for ln in plan.splitlines():
            s = ln.strip().lstrip("+-:").strip()
            if not s.startswith("Window ["):
                continue
            if s.count("], [") == 1 and ("ASC" in s or "DESC" in s):
                if not any(k in s for k in allow_keys):
                    bad.append(s[:120])
        return bad

    # 76. Two-phase skyline: phase 1's window is partitioned by
    # spark_partition_id (parallel local skyline over the full table);
    # NO window in the plan may have an empty partition spec (the
    # one-task whole-table sort the r5 verdict flagged).
    dfq = qs["skyline_2d"](spark, sf_dir)
    bad = unpartitioned_ordered_windows(dfq)
    check(
        "skyline_two_phase_no_global_window",
        "SPARK_PARTITION_ID" in dfq._jdf.queryExecution().optimizedPlan().toString()
        and not bad,
        f"(local-skyline prefilter; no unpartitioned window) {bad}",
    )

    # 77. Unigram sampling table: the vocab rank is the two-phase
    # global_rank (range repartition + per-partition row_number +
    # broadcast offsets) — the only unpartitioned ordered window allowed
    # is the ~#partitions-row offset scan (over _pid), never the vocab.
    dfq = qs["unigram_sampling_table"](spark, sf_dir)
    bad = unpartitioned_ordered_windows(dfq, allow_keys=("_pid",))
    check(
        "unigram_rank_two_phase",
        "rangepartitioning" in plan_of(dfq).lower()
        and not bad,
        f"(two-phase rank; no global vocab window) {bad}",
    )
    _rel()

    # 78. SemDeDup: centroids broadcast (BNLJ from the crossJoin hint),
    # the pair join keyed on cluster_id (equi SMJ/SHJ, never a cartesian),
    # and the three-consumer assignment pinned.
    dfq = qs["semdedup_prune"](spark, sf_dir)
    p = plan_of(dfq)
    check(
        "semdedup_cluster_local_pairs",
        "CartesianProduct" not in p
        and ("SortMergeJoin" in p or "ShuffledHashJoin" in p)
        and "InMemoryTableScan" in p,
        "(broadcast centroids, cid-keyed pair join, pinned assignment)",
    )
    _rel()

    # 79. Kneser-Ney: continuation tables join the bigram-TYPE table —
    # no cartesian, no Python, n-gram extraction via explode not self-join.
    dfq = qs["kneser_ney_bigram_score"](spark, sf_dir)
    p = plan_of(dfq)
    check(
        "kneser_ney_type_table_joins",
        "CartesianProduct" not in p
        and "BatchEvalPython" not in p
        and "BroadcastHashJoin" in p,
        "(type-table joins, no cartesian)",
    )

    # 80. Misra-Gries: the only unkeyed ordered window runs over the
    # merged summary (≤ partitions × k rows), never the stream — the
    # stream side must show a keyed (_pid) window and map-side partial
    # aggregation.
    dfq = qs["misra_gries_heavy_hitters"](spark, sf_dir)
    bad = unpartitioned_ordered_windows(dfq)
    check(
        "misra_gries_bounded_windows",
        not bad and plan_of(dfq).count("HashAggregate") >= 4,
        f"(keyed per-partition summaries; bounded trim) {bad}",
    )

    # 81. Suffix array: the prefix-doubling construction must stay keyed —
    # no cartesian products, no Python nodes, and the total-order rank
    # must go through range partitioning (two-phase global_rank). The
    # LONGEST-REPEAT readout's lineage is checkpoint-truncated (the LCP
    # loop), so assert on the suffix_array() stage, whose plan still
    # shows the final global_rank, and separately on the readout.
    from storm_data_etl_spark.operators.suffix import suffix_array as _sa
    from storm_data_etl_spark.plans.tables import t as _t

    docs = _t(spark, sf_dir, "documents").filter(
        "length(coalesce(text, '')) > 0"
    ).select("doc_id", "text")
    p_sa = plan_of(_sa(docs))
    p_read = plan_of(qs["suffix_longest_repeat"](spark, sf_dir))
    check(
        "suffix_array_keyed_rounds",
        "rangepartitioning" in p_sa.lower()
        and all(
            bad not in pl
            for pl in (p_sa, p_read)
            for bad in ("CartesianProduct", "BatchEvalPython", "MapInPandas")
        ),
        "(keyed joins, two-phase ranks, no Python)",
    )
    _rel()

    # 82. Round-8 stats tier. Bradley-Terry's lineage is checkpoint-cut
    # per MM iteration (the 129 s → 0.1 s bench-on-land catch), so its
    # final plan reads checkpointed RDDs — assert the ABSENCE of
    # corpus-scale recompute (no parquet scan survives in the final plan)
    # plus no cartesian/Python. Fleiss' κ must be ONE aggregate over one
    # scan; Elo's only ordered windows are keyed by player.
    p_bt = plan_of(qs["bradley_terry_strength"](spark, sf_dir))
    check(
        "bradley_terry_checkpointed_iterations",
        "Scan ExistingRDD" in p_bt
        and "Scan parquet" not in p_bt
        and "CartesianProduct" not in p_bt
        and "BatchEvalPython" not in p_bt,
        "(iteration state off checkpoints; no corpus recompute in final plan)",
    )
    _rel()
    dfq = qs["fleiss_kappa_agreement"](spark, sf_dir)
    p_fk = plan_of(dfq)
    check(
        "fleiss_kappa_single_scan",
        # formatted explain prints each node twice (tree + detail):
        # one scan node == 2 substring hits, partial+final agg == 4.
        p_fk.count("Scan parquet") <= 2
        and p_fk.count("HashAggregate") >= 4
        and not unpartitioned_ordered_windows(dfq),
        "(one scan, map-side partial agg, no windows)",
    )
    dfq = qs["elo_sequential_ratings"](spark, sf_dir)
    bad = unpartitioned_ordered_windows(dfq)
    p_elo = plan_of(dfq)
    check(
        "elo_player_keyed_fold",
        not bad
        and "CartesianProduct" not in p_elo
        and "BatchEvalPython" not in p_elo,
        f"(player-keyed collect+fold; no global windows) {bad}",
    )
    _rel()

    # 83. Token-mode ExactSubstr: detection must ride the 8-byte
    # fingerprint pass — the first corpus-wide shuffle key is the hash,
    # never L-token gram text; windows are keyed (g / doc_id), no Python.
    dfq = qs["exact_substr_token_dedup"](spark, sf_dir)
    p_tok = plan_of(dfq)
    bad = unpartitioned_ordered_windows(dfq)
    check(
        "exact_substr_token_fingerprint_detection",
        "xxhash64" in p_tok
        and not bad
        and "CartesianProduct" not in p_tok
        and "BatchEvalPython" not in p_tok,
        f"(fingerprint dup detection; keyed windows) {bad}",
    )
    _rel()

    # 84. Round-8 continuation tier: every member is one documents scan
    # plus keyed aggregates/windows — no cartesians, no Python, and any
    # window is partitioned (source / source+qid keyed).
    for name, label in (
        ("krippendorff_alpha_interval", "one scan, tiny groupBy(source)"),
        ("mrr_at_10_ranker", "source+qid keyed rank window"),
        ("map_at_10_ranker", "source+qid rank + running-sum windows"),
        ("simpson_diversity_index", "map-side (source,token) count"),
        ("gini_token_concentration", "source-keyed vocab rank window"),
        ("cusum_drift_scores", "type-keyed ordered fold, broadcast mean"),
        ("edit_distance_near_dup", "one shifted-id equi-join, no pair blowup"),
        ("mcc_binary_quality", "one scan, tiny groupBy(source)"),
        ("langid_confidence_margin", "per-row codegen array ops, one groupBy"),
        ("benford_chi2_by_type", "one scan, tiny groupBy(event_type)"),
        ("runs_test_randomness", "type-keyed lag window, broadcast mean"),
        ("cochran_q_test", "one scan, tiny groupBy(source)"),
        ("cronbach_alpha_raters", "one scan, tiny groupBy(source)"),
    ):
        dfq = qs[name](spark, sf_dir)
        p_n = plan_of(dfq)
        bad = unpartitioned_ordered_windows(dfq)
        check(
            f"r8_cont_{name}",
            not bad
            and "CartesianProduct" not in p_n
            and "BatchEvalPython" not in p_n,
            f"({label}; keyed windows only) {bad}",
        )
        _rel()

    # 85. Round-9: quality_model_train follows the bradley_terry iteration
    # discipline from day one — features localCheckpointed once, the 1-row
    # weight state checkpointed per epoch — so the FINAL plan reads
    # checkpointed RDDs only: no parquet scan (no corpus recompute through
    # 3 epochs of lineage), no cartesian beyond the 1-row broadcast
    # crossJoins (which plan as BNLJ over checkpointed rows), no Python.
    p_qt = plan_of(qs["quality_model_train"](spark, sf_dir))
    check(
        "quality_model_train_checkpointed_epochs",
        "Scan ExistingRDD" in p_qt
        and "Scan parquet" not in p_qt
        and "CartesianProduct" not in p_qt
        and "BatchEvalPython" not in p_qt,
        "(epoch state off checkpoints; no corpus recompute in final plan)",
    )
    _rel()

    # 86. Round-9: streaming replay certificate — exactly ONE hash
    # exchange, on the key shard (the shard-group pattern: keys never
    # split across shards, so it models the stream's state-store
    # partitioning), one Arrow-batched group-map stage (the deliberate
    # Python exception for order-dependent stateful recursion), no joins.
    p_sr = plan_of(qs["stream_replay_running_stats"](spark, sf_dir))
    check(
        "stream_replay_single_shard_shuffle",
        {k.split("#")[0] for k in _re.findall(r"hashpartitioning\(([\w#]+)", p_sr)}
        == {"_shard"}
        and len(_re.findall(r"[+:]- FlatMapGroupsInPandas", p_sr)) == 1
        and "Join" not in p_sr,
        "(one shard exchange; one Arrow group-map; no joins)",
    )

    # 87. Round-9: quality_model_auc — the rank base must be the two-phase
    # prefix sum (range partitioning), never a single-task global window
    # over the score table; epoch state off checkpoints like the trainer.
    dfq = qs["quality_model_auc"](spark, sf_dir)
    p_qa = plan_of(dfq)
    bad = unpartitioned_ordered_windows(dfq, allow_keys=("_pid",))
    check(
        "quality_model_auc_two_phase_rank",
        "rangepartitioning" in p_qa.lower()
        and not bad
        and "Scan parquet" not in p_qa
        and "BatchEvalPython" not in p_qa,
        f"(two-phase rank; checkpointed chain; no global score window) {bad}",
    )
    _rel()

    # 88. Round-9 continuation: the three 1-row stats panels (JB moments,
    # effect sizes, t-closeness) — conditional-aggregate scans with at most
    # the 1-row/bounded-side broadcasts; no cartesian, no Python.
    for qname in ("jarque_bera_normality", "effect_size_panel"):
        p_s = plan_of(qs[qname](spark, sf_dir))
        check(
            f"{qname}_one_scan_no_python",
            "CartesianProduct" not in p_s
            and "BatchEvalPython" not in p_s
            and len(_re.findall(r"\(\d+\) Scan parquet", p_s)) <= 1,
            "(single events scan; no cartesian; no Python)",
        )
    p_tc = plan_of(qs["t_closeness_audit"](spark, sf_dir))
    check(
        "t_closeness_single_scan_rollup",
        len(_re.findall(r"\(\d+\) Scan parquet", p_tc)) <= 1
        and "CartesianProduct" not in p_tc
        and "BatchEvalPython" not in p_tc,
        "(coarser aggregates re-aggregate the pinned QI x hour rollup)",
    )
    _rel()

    # 89. Round-9 continuation: link prediction — pairs explode inside the
    # per-order array (no basket self-join), adjacency is LEFT ANTI, the
    # degree side broadcasts, top-20 is TakeOrdered (never a global sort).
    p_lp = plan_of(qs["link_prediction_scores"](spark, sf_dir))
    check(
        "link_prediction_shape",
        "LeftAnti" in p_lp
        and "TakeOrderedAndProject" in p_lp
        and "CartesianProduct" not in p_lp
        and len(_re.findall(r"\(\d+\) Generate", p_lp)) == 1,
        "(array pair explode; anti-join adjacency; TakeOrdered top-20)",
    )
    _rel()

    # 90. Round-9 continuation: Flesch — ONE document scan, regex counts
    # JVM-side, single lang-keyed exchange; QL retrieval — TakeOrdered
    # top-10, 1-row collection stats broadcast, no global sort.
    p_fl = plan_of(qs["flesch_readability_by_lang"](spark, sf_dir))
    check(
        "flesch_single_scan_jvm",
        len(_re.findall(r"\(\d+\) Scan parquet", p_fl)) <= 1
        and "BatchEvalPython" not in p_fl
        and {k.split("#")[0] for k in _re.findall(r"hashpartitioning\(([\w#]+)", p_fl)}
        <= {"lang"},
        "(one scan; JVM regex; lang-only exchange)",
    )
    p_ql = plan_of(qs["query_likelihood_dirichlet"](spark, sf_dir))
    check(
        "query_likelihood_take_ordered",
        "TakeOrderedAndProject" in p_ql
        and "BatchEvalPython" not in p_ql
        and len(_re.findall(r"[+:]- BroadcastNestedLoopJoin", p_ql)) <= 1,
        "(TakeOrdered top-10; 1-row stats broadcast only)",
    )

    # 91. Round-9 continuation: sessionize replay certificate — same
    # contract as check 86: one shard exchange, one Arrow group-map,
    # no joins anywhere in the plan.
    p_ss = plan_of(qs["stream_replay_sessionize"](spark, sf_dir))
    check(
        "stream_replay_sessionize_single_shard_shuffle",
        {k.split("#")[0] for k in _re.findall(r"hashpartitioning\(([\w#]+)", p_ss)}
        == {"_shard"}
        and len(_re.findall(r"[+:]- FlatMapGroupsInPandas", p_ss)) == 1
        and "Join" not in p_ss,
        "(one shard exchange; one Arrow group-map; no joins)",
    )

    # 92. Round-9 continuation, second wave: the four 1-scan stats/eval
    # panels — single events/documents scan, no cartesian beyond the
    # documented 1-row broadcasts, no Python.
    for qname in (
        "forecast_mase_backtest",
        "cuped_adjusted_lift",
        "xcorr_lead_lag",
        "best_of_n_reward_curve",
    ):
        p_s = plan_of(qs[qname](spark, sf_dir))
        check(
            f"{qname}_one_scan_no_python",
            "CartesianProduct" not in p_s
            and "BatchEvalPython" not in p_s
            and len(_re.findall(r"\(\d+\) Scan parquet", p_s)) <= 1,
            "(single scan; no cartesian; no Python)",
        )
    _rel()

    # 93. Round-9 continuation: Kaplan-Meier — one events scan; the only
    # unkeyed windows run over the bounded duration rollup (suffix-sum
    # risk set + step numbering, the mann_whitney bounded class); the
    # step array rides a 1-row broadcast; no Python.
    p_km = plan_of(qs["km_survival_curve"](spark, sf_dir))
    check(
        "km_survival_bounded_rollup",
        len(_re.findall(r"\(\d+\) Scan parquet", p_km)) <= 1
        and "CartesianProduct" not in p_km
        and "BatchEvalPython" not in p_km
        and len(_re.findall(r"\(\d+\) BroadcastNestedLoopJoin", p_km)) <= 2,
        "(one scan; bounded windows; 1-row array/max broadcasts only)",
    )
    _rel()

    # 94. Round-9 continuation, third wave: Brown-Forsythe — ONE events
    # scan (median selection and z-levels both re-read the pinned
    # per-(type, value) histogram); log-rank — the km_survival shape
    # (one scan, bounded duration windows, 1-row broadcasts, no Python).
    p_bf = plan_of(qs["levene_brown_forsythe"](spark, sf_dir))
    check(
        "brown_forsythe_single_scan_histogram",
        len(_re.findall(r"\(\d+\) Scan parquet", p_bf)) <= 1
        and "CartesianProduct" not in p_bf
        and "BatchEvalPython" not in p_bf,
        "(one scan; pinned histogram feeds median + z-levels)",
    )
    _rel()
    p_lr = plan_of(qs["log_rank_test"](spark, sf_dir))
    check(
        "log_rank_bounded_rollup",
        len(_re.findall(r"\(\d+\) Scan parquet", p_lr)) <= 1
        and "CartesianProduct" not in p_lr
        and "BatchEvalPython" not in p_lr
        and len(_re.findall(r"\(\d+\) BroadcastNestedLoopJoin", p_lr)) <= 2,
        "(one scan; bounded step folds; 1-row broadcasts only)",
    )
    _rel()

    # 95. Round-9 continuation: DiD — one conditional-aggregate scan over
    # the 2x2 panel, no joins, no Python.
    p_dd = plan_of(qs["diff_in_differences"](spark, sf_dir))
    check(
        "did_one_scan_2x2",
        len(_re.findall(r"\(\d+\) Scan parquet", p_dd)) <= 1
        and "Join" not in p_dd
        and "BatchEvalPython" not in p_dd,
        "(single scan; 4-cell aggregate; no joins)",
    )

    # 96. Round-9 second wave, inference trio: McNemar and Mantel-Haenszel
    # are ONE conditional-aggregate scan (no joins); the Brier
    # decomposition adds only the 1-row total broadcast back onto the
    # 11-bin table. No Python, no cartesians anywhere.
    for nm in ("mcnemar_test", "mantel_haenszel_or"):
        p_i = plan_of(qs[nm](spark, sf_dir))
        check(
            f"{nm}_one_scan",
            len(_re.findall(r"\(\d+\) Scan parquet", p_i)) <= 1
            and "CartesianProduct" not in p_i
            and "BatchEvalPython" not in p_i
            and "BroadcastHashJoin" not in p_i,
            "(single conditional-aggregate scan; no joins)",
        )
        _rel()
    p_bd = plan_of(qs["brier_decomposition"](spark, sf_dir))
    check(
        "brier_decomposition_bin_rollup",
        len(_re.findall(r"\(\d+\) Scan parquet", p_bd)) <= 1
        and "CartesianProduct" not in p_bd
        and "BatchEvalPython" not in p_bd
        and len(_re.findall(r"\(\d+\) BroadcastNestedLoopJoin", p_bd)) <= 1,
        "(one scan; 1-row total broadcast onto the bin table only)",
    )
    _rel()

    # 97. GRPO advantages: the group moments come from a KEYED window
    # (user_id partition — never a global window), one scan, no Python.
    p_gr = plan_of(qs["grpo_group_advantages"](spark, sf_dir))
    check(
        "grpo_keyed_window_only",
        len(_re.findall(r"\(\d+\) Scan parquet", p_gr)) <= 1
        and "BatchEvalPython" not in p_gr
        and "CartesianProduct" not in p_gr
        and bool(_re.search(r"Window.*\n.*user_id", p_gr)),
        "(one scan; window keyed by user_id)",
    )
    _rel()

    # 98. Off-policy pair + HITS: snips broadcasts the propensity/value
    # tables onto one scan; HITS reuses ONE pinned edge table for all
    # four unrolled rounds (InMemoryTableScan), with keyed joins only.
    # Two scans by design: the propensity-estimation pass and the scoring
    # pass (the pinned counts table serves ctx_tot/tgt/broadcast reuse).
    p_sn = plan_of(qs["snips_dr_policy_value"](spark, sf_dir))
    check(
        "snips_dr_broadcast_propensities",
        len(_re.findall(r"\(\d+\) Scan parquet", p_sn)) <= 2
        and "BroadcastHashJoin" in p_sn
        and "InMemoryTableScan" in p_sn
        and "CartesianProduct" not in p_sn
        and "BatchEvalPython" not in p_sn,
        "(two passes: estimate + score; pinned propensity table broadcast)",
    )
    _rel()
    p_hi = plan_of(qs["hits_hub_authority"](spark, sf_dir))
    check(
        "hits_pinned_edges_keyed_joins",
        "InMemoryTableScan" in p_hi
        and "CartesianProduct" not in p_hi
        and "BatchEvalPython" not in p_hi
        and "TakeOrderedAndProject" in p_hi,
        "(pinned edge table; keyed joins; top-10 as TakeOrdered)",
    )
    _rel()

    # 99. Scaling-law fits + DoReMi: zipf's top-200 is TakeOrdered (never
    # a vocabulary-wide window); heaps NEVER explodes tokens (no Generate
    # — the arrays are sized in-row); doremi reads the corpus ONCE into
    # the pinned domain table.
    p_zf = plan_of(qs["zipf_law_fit"](spark, sf_dir))
    check(
        "zipf_top200_take_ordered",
        "TakeOrderedAndProject" in p_zf
        and "BatchEvalPython" not in p_zf
        and "CartesianProduct" not in p_zf,
        "(top-200 head via TakeOrdered; OLS on 200 rows)",
    )
    _rel()
    p_hp = plan_of(qs["heaps_law_fit"](spark, sf_dir))
    check(
        "heaps_no_token_explode",
        len(_re.findall(r"\(\d+\) Scan parquet", p_hp)) <= 1
        and "Generate" not in p_hp
        and "BatchEvalPython" not in p_hp,
        "(one scan; per-row array sizes — tokens never leave the row)",
    )
    _rel()
    p_dm = plan_of(qs["doremi_domain_weights"](spark, sf_dir))
    check(
        "doremi_one_corpus_scan",
        (
            len(_re.findall(r"\(\d+\) Scan parquet", p_dm)) <= 1
            or "InMemoryTableScan" in p_dm
        )
        and "BatchEvalPython" not in p_dm
        and "CartesianProduct" not in p_dm,
        "(corpus scanned once into the pinned domain table)",
    )
    _rel()

    # 100. Shapley attribution: the only corpus-sized stage is the
    # per-user bit_or groupBy; the coalition lattice work happens on
    # pinned vocabulary-sized tables (channel dim broadcast, mask rollup,
    # lattice joined twice) — never a user-sized join. No Python.
    p_sh = plan_of(qs["shapley_channel_attribution"](spark, sf_dir))
    check(
        "shapley_lattice_on_pinned_rollups",
        "InMemoryTableScan" in p_sh
        and "BatchEvalPython" not in p_sh
        and "BroadcastHashJoin" in p_sh,
        "(pinned channel/mask/lattice tables; per-user groupBy is the "
        "only corpus stage)",
    )
    _rel()

    # 101. Secret-entropy audit: ONE corpus scan; the explode is over
    # regex candidates and the 65-row alphabet joins as a broadcast
    # nested loop (constant side) — no corpus-wide char explode, no
    # Python.
    p_se = plan_of(qs["secret_entropy_audit"](spark, sf_dir))
    check(
        "secret_entropy_candidate_explode_only",
        len(_re.findall(r"\(\d+\) Scan parquet", p_se)) <= 1
        and "BatchEvalPython" not in p_se
        and p_se.count("Generate") >= 1,
        "(one scan; candidate-level explode; constant alphabet broadcast)",
    )
    _rel()

    # 102. Suffix-path broadcast hardening (found by the N30 stretch
    # probe: AQE broadcast a corpus-derived, checkpoint-descended join
    # side whose stats it cannot see — OOM at 44.7M chars). Since r10 the
    # merge hints are SCALE-SCOPED (suffix._MERGE_HINT_MIN_POSITIONS,
    # VERDICT r9 task 3): below the threshold AQE's broadcasts are safe
    # and ~40% faster, above it the corpus joins must be SortMergeJoin.
    # Pin BOTH regimes: (a) the sf-dir plan (small corpus) carries no
    # blanket merge hints and no degenerate joins; (b) with the threshold
    # forced to 0 the same build plans >= 2 SortMergeJoins.
    from storm_data_etl_spark.operators import suffix as _sfx

    p_es = plan_of(qs["exact_substr_dedup"](spark, sf_dir))
    small_ok = (
        "BroadcastNestedLoopJoin" not in p_es
        and "CartesianProduct" not in p_es
        and len(_re.findall(r"\(\d+\) SortMergeJoin", p_es)) == 0
    )
    _rel()
    _saved_thr = _sfx._MERGE_HINT_MIN_POSITIONS
    try:
        _sfx._MERGE_HINT_MIN_POSITIONS = 0  # force the big-corpus regime
        p_es_big = plan_of(qs["exact_substr_dedup"](spark, sf_dir))
    finally:
        _sfx._MERGE_HINT_MIN_POSITIONS = _saved_thr
    big_ok = (
        len(_re.findall(r"\(\d+\) SortMergeJoin", p_es_big)) >= 2
        and "BroadcastNestedLoopJoin" not in p_es_big
        and "CartesianProduct" not in p_es_big
    )
    check(
        "exact_substr_corpus_joins_scale_scoped",
        small_ok and big_ok,
        "(small corpus: AQE broadcasts, no hints; forced-big: merge-hinted "
        f"SortMergeJoins; small_ok={small_ok} big_ok={big_ok})",
    )
    _rel()

    # 103. Friedman: within-block midranks are per-row CASE arithmetic —
    # ONE scan, zero joins, zero windows. PACF: the corpus collapses to
    # the daily rollup before any join; no Python, no cartesians.
    p_fr = plan_of(qs["friedman_test"](spark, sf_dir))
    check(
        "friedman_one_scan_no_windows",
        len(_re.findall(r"\(\d+\) Scan parquet", p_fr)) <= 1
        and "Join" not in p_fr
        and len(_re.findall(r"\(\d+\) Window", p_fr)) == 0
        and "BatchEvalPython" not in p_fr,
        "(one scan; CASE midranks; tiny source rollup)",
    )
    _rel()
    p_pa = plan_of(qs["pacf_durbin_levinson"](spark, sf_dir))
    check(
        "pacf_daily_rollup_join",
        len(_re.findall(r"\(\d+\) Scan parquet", p_pa)) <= 1
        and "CartesianProduct" not in p_pa
        and "BatchEvalPython" not in p_pa
        and "InMemoryTableScan" in p_pa,
        "(one scan to the pinned daily table; lag join on days only)",
    )
    _rel()

    # 104. Mann-Kendall: the corpus collapses to the PINNED daily rollup
    # before anything quadratic — the pair census, n, and tie folds all
    # read the InMemory rollup (one parquet scan total), and the O(n^2)
    # self-join is an equi-join on event_type, never a cartesian.
    p_mk = plan_of(qs["mann_kendall_trend"](spark, sf_dir))
    check(
        "mann_kendall_bounded_rollup",
        len(_re.findall(r"\(\d+\) Scan parquet", p_mk)) <= 1
        and "CartesianProduct" not in p_mk
        and "BatchEvalPython" not in p_mk
        and "InMemoryTableScan" in p_mk,
        "(one scan; pinned daily rollup feeds the keyed pair census)",
    )
    _rel()

    # 105. JS divergence: ONE corpus scan into the pinned (source, tok)
    # count; the head and scalar totals broadcast onto the sources x 201
    # grid — no corpus-sized join side, no Python, no cartesian scan
    # explosion (the deliberate crossJoins are 1-row/200-row broadcasts).
    p_js = plan_of(qs["js_divergence_sources"](spark, sf_dir))
    check(
        "js_divergence_bounded_grid",
        len(_re.findall(r"\(\d+\) Scan parquet", p_js)) <= 1
        and "BatchEvalPython" not in p_js
        and "InMemoryTableScan" in p_js
        and len(_re.findall(r"\(\d+\) BroadcastExchange", p_js)) >= 2,
        "(one scan; pinned counts; head/totals broadcast onto the grid)",
    )
    _rel()

    # 106. Attribution replay certificate (round 11): ONE shuffle on the
    # user shard — a single parquet scan, a single Exchange (the state-
    # store partitioning), one Arrow-batched FlatMapGroupsInPandas; the
    # join itself folds inside the kernel, so no JVM join node and no
    # cartesian may appear.
    p_at = plan_of(qs["stream_replay_attribution"](spark, sf_dir))
    check(
        "stream_replay_attribution_one_shuffle",
        len(_re.findall(r"\(\d+\) Scan parquet", p_at)) <= 1
        and p_at.count("hashpartitioning(_shard") == 1
        and len(_re.findall(r"[+:]- Exchange", p_at)) <= 2  # + input split
        and len(_re.findall(r"[+:]- FlatMapGroupsInPandas", p_at)) == 1
        and "Join" not in p_at
        and "CartesianProduct" not in p_at,
        "(one scan; one shard hash exchange beside the input-split "
        "repartition; fold inside Arrow kernel)",
    )
    _rel()

    # 107. PQ exactness twins (round 11, VERDICT r10 task 2): same plan
    # discipline as the production forms — probes/LUTs broadcast (never a
    # corpus shuffle for scoring), all ADC math JVM-side (no Python in
    # the plan), and the ranking windows keyed on probe_id (the only
    # exchanges besides the broadcast).
    for q in ("ann_pq_fullrerank_topk", "ann_ivfpq_fullscan_topk"):
        p_tw = plan_of(qs[q](spark, sf_dir))
        check(
            f"{q}_broadcast_jvm",
            ("BroadcastNestedLoopJoin" in p_tw or "BroadcastHashJoin" in p_tw)
            and "BatchEvalPython" not in p_tw
            and "SortMergeJoin" not in p_tw,
            "(probes broadcast; ADC in codegen; no corpus-side shuffle join)",
        )
        _rel()

    # 108. Attribution lateness profile (round 12): a plain keyed equi-join
    # on user_id (no cartesian, no Python), map-side partial aggregation
    # before the shuffle to the tiny lateness frame; the cumulative window
    # is unkeyed by design but runs AFTER the aggregate (bounded rows).
    p_lp = plan_of(qs["attribution_lateness_profile"](spark, sf_dir))
    check(
        "attribution_lateness_profile_shape",
        "CartesianProduct" not in p_lp
        and "BatchEvalPython" not in p_lp
        and p_lp.count("HashAggregate") >= 2
        and ("SortMergeJoin" in p_lp or "ShuffledHashJoin" in p_lp
             or "BroadcastHashJoin" in p_lp),
        "(keyed equi-join; partial agg; window on post-agg frame)",
    )
    _rel()

    print(f"\n{len(failures)} failures: {failures}" if failures else "\nALL PASS")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
