"""Regenerate PLANS.md: physical plans of flagship queries with
what-to-look-for annotations.  Run after plan-affecting changes."""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

NOTES = {
    "join_inner_q3": "Filters pushed to every scan; 4-column lineitem read; dims broadcast.",
    "agg_q1_pricing_summary": "Partial HashAggregate before the exchange (map-side combine).",
    "sink_bucketed_join": "Both scans `Bucketed: true`; join needs no shuffle of either side.",
    "sink_partitioned_write": "PartitionFilters prune to one directory; ReadSchema is EMPTY.",
    "dedup_minhash_lsh": "Signature computed once (checkpoint barrier), band self-join only.",
    "join_asof_events": "Single hashpartitioning(user_id) exchange; no join operator at all.",
    "join_q7_volume_shipping": "Only big-big shuffle is lineitem joins orders; all dims broadcast; date filter pushed.",
    "filter_q20_nested_in": "Nested INs decorrelated to LeftSemi; part/nation lists broadcast.",
    "agg_sessionize_batch": "ONE hashpartitioning(user_id) exchange feeds lag, running sum, and rollup.",
    "sink_sorted_zonemap": "Read-back filter pushed to scan of the range-partitioned sorted files.",
    "tpch_q6_forecast_revenue": "All three range predicates in PushedFilters; 4-column read; partial sum.",
    "tpch_q19_disjunctive_revenue": "Per-side implications of the OR-of-ANDs extracted and pushed below the join; one lineitem scan.",
    "tpch_q21_waiting_supplier": "Single lineitem scan, no Expand: two-level (order,supplier)->(order) agg replaces EXISTS/NOT-EXISTS pair.",
    "win_cumulative_distinct": "Running distinct rewritten as first-occurrence agg + day-level running sum (no collect_set state).",
    "sink_zorder_clustering": "Morton-interleaved range partition: both filter dimensions get file-level locality.",
    "join_salted_manual": "(key, salt) join key: hot key spread over R reducers, dim side replicated R-way.",
    "tpch_q17_small_qty_revenue": "Correlated avg threshold decorrelated: per-part thresholds computed once, broadcast back.",
    "dedup_containment": "Shingle-equality join (lang-blocked), zero-overlap pairs never materialize; count in codegen.",
    "mm_image_ahash": "Two MapInPandas kernels (encode/hash), banded equality self-join, bit_count verify in codegen.",
    "pipeline_quality_mixture": "Two-phase prefix sum: (tier, md5-prefix-block) local windows + broadcast block offsets.",
    "pipeline_funnel_report": "One shingle table (checkpoint) feeds containment pair join AND decontamination semi-join; drops are anti-joins.",
    "text_bm25_search": "Corpus stats reduce to ONE broadcast row (BroadcastNestedLoopJoin); tf/dl are codegen length arithmetic; TakeOrderedAndProject top-k, no global sort.",
    "text_chunk_overlap": "No exchange anywhere before the output sort: sequence+explode is narrow, chunk md5 in codegen.",
    "win_interval_merge": "ONE hashpartitioning(user_id) exchange feeds running max, island sum, and both (user_id,…) groupBys — subset-key partitioning reuse.",
    "agg_weighted_median": "Single exchange on the group key; cumulative and per-group-total windows share one sort; threshold compare is integer (2*cw >= tot).",
    "stream_watermark_audit": "Event stream never shuffles: per-batch maxima are a tiny two-level agg, frozen watermark joins back broadcast.",
    "dedup_minhash_verified": "LSH candidates + exact verify from ONE materialized shingle frame; verify is size(array_intersect) in codegen, no shingle explode.",
    "dedup_containment_prefix": "PPJoin prefix filter: candidates only from each doc's rarest floor(n/2)+1 shingles (df-ranked); exact array_intersect verify after.",
    "win_decay_score": "Frameless per-user max + final agg share one hashpartitioning(user_id); decay is integer division by shifted powers of two.",
    "graph_link_prediction": "Wedge join blocked on the shared supplier; degree table broadcast back; per-customer top-k window.",
    "join_asof_nearest": "Backward and forward carries over ONE user_id exchange; descending pass re-sorts partition-locally.",
    "text_tfidf_similar_pairs": "Inverted-index self-join on 64-bit shingle fingerprints (df-capped postings); decimal dot accumulation; InMemoryTableScan barrier feeds norm agg and both join sides.",
    "text_ngram_novelty": "One hashpartitioning(sfp) exchange serves min(doc_id) AND the join back (AQE coalesces); per-doc rollup map-side combined.",
    "pipeline_importance_resample": "Zero exchanges before the output sort: weight, md5 uniform, and accept test are one codegen projection.",
    "win_target_encoding": "Group moments broadcast back (BroadcastHashJoin); the fact side never shuffles — compare the window formulation's full-row exchange.",
    "text_boilerplate_lines": "Sentence md5 fingerprints shuffle once; frequency join reuses the key family; no pairwise comparison operators anywhere.",
    "dedup_substring_run": "Positional postings as 64-bit fingerprints BEFORE the shuffle; df-cap bounds per-key fan-out; diagonal runs are a window + groupBy on the matched stream.",
    "dedup_substring_spans": "Same df-capped diagonal stream; run intervals merge via running-max-end islands partitioned by doc_id (per-doc interval count bounded by doc length).",
    "dedup_keep_longest": "One signature pass feeds bands AND universe; components labeled, then a broadcast (doc_id, n_chars) join + per-component window picks the survivor.",
    "sim_int8_topk": "Quantization is one codegen map; the <=3-row probe side broadcasts (deliberate small-side BNLJ); dots are pure int64 zip_with folds.",
    "emb_int8_quantize": "Zero exchanges before the presentation sort: scale, codes, and saturation counts are per-row lambda folds in one WholeStageCodegen span.",
    "dedup_source_overlap": "All heavy work is the verified-dedup chain; source labels join broadcast; the groupBy key space is #sources^2 at most.",
    "stream_ingest_dedup_gate": "Batch twin of the foreachBatch admission gate: per-batch signatures only, one band-equality probe join against the stored index, distinct, anti-join back — the historical corpus is never re-shingled.",
    "sim_ivf_stored_topk": "Probe-only IVF: centroids + inverted lists read from the stored index (no max_by corpus assignment anywhere); only the tiny query set assigns at probe time.",
    "sim_ivfpq_stored_topk": "IVF+PQ composition: probed-cell candidate pairs gate the code scan (ADC input = scan fraction x corpus), distance table broadcast, exact re-rank on the shortlist.",
    "dedup_cut_spans": "Span pipeline unchanged (one df-capped postings exchange); the cut is a broadcast span-array join + a per-row lambda filter — no new exchange, no Python.",
    "stream_ingest_gate_growing": "Round-9 shape: batch bands broadcast into the streamed stored index (no shuffle of either side), one probe join per batch catches history and same-batch collisions, ONE checkpoint barrier per batch, admitted ids derived from the final index in one closing job.",
    "sim_range_search": "Radius query over the LSH index: bucket-equality candidates, exact cosine filter, and the in-plan completeness certificate (exact range set from a linear codegen kernel, broadcast back).",
    "join_fuzzy_editdist": "FastSS fuzzy join: deletion-neighborhood explode on DISTINCT names, candidates from an EQUALITY join on the variant string (inverted index, no cartesian), exact levenshtein verify on collisions.",
    "text_repetition_signals": "Gopher repetition filters: n-grams assembled inside the array column, ONE repartition(doc_id) exchange, two chained hash aggs reuse its clustering; top-2gram argmax is MIN of a sign-flipped struct (no window, no joins).",
    "sim_mmr_topk": "MMR re-rank: shortlist and pair sims from the one probe scorer (map-side DECIMAL folds, the pair sims over the shortlist^2 member pairs, no explode), greedy picks in one applyInPandas over pre-scored pair rows; exact-top1 verification broadcast back.",
    "sim_knn_graph": "All-nodes k-NN: signature table checkpointed once, bucket-equality SELF-join (shuffle hash, nothing broadcast), unordered pairs scored once then mirrored; per-source top-k window bounded by L*bucket.",
    "sim_knn_graph_ivf": "Stored-index graph: all-nodes multi-probe (knn_graph_n_probe = 2x serving) against broadcast centroids, inverted-list candidate join, explicit spread before the CPU-bound DECIMAL scoring; then one NN-descent round — adjacency checkpointed once, two-hop self-join is O(n*(2K)^2) rows, re-score + re-rank.",
    "text_unicode_normalize": "NFC is the ONE ArrowEvalPython node (no built-in exists); control-strip and collapse are codegen regexp_replace around it; no exchange before the presentation sort.",
    "pipeline_sized_shards": "Two-phase prefix sum: per-block local cumsum windows partitioned by blk, metadata-sized block-prefix frame broadcast back; shard rollup is one map-side-combined agg.",
    "pipeline_snapshot_diff": "ONE full-outer join on doc_id between fingerprint projections (both computed in the scan projection); 4-row status rollup map-side combined.",
    "emb_random_projection": "Sign matrix is a constant-folded from_json literal; 16 zip_with DECIMAL folds in one narrow codegen projection after ONE spreading exchange (fixture arrives in few files; CPU-bound folds need all cores); posexplode only at output.",
    "mm_scene_cut": "Frame explode keyed by doc_id shuffles once onto the lag-window partition; per-video state is one lag value; rollup reuses the same clustering.",
    "ts_seasonal_decompose": "One exchange onto the event_type window partition (bounded ROWS frame), then a map-side-combinable (event_type, hour) agg — output is metadata-sized.",
    "win_rolling_median": "suppkey filter pushed to the parquet scan; one window exchange; percentile state is O(frame) via the 7-row ROWS frame.",
    "lineage_provenance_report": "Every source a LocalTableScan; the four joins broadcast; no Exchange before the sort's own range partitioning.",
}


def main() -> None:
    from kachess_spark import registry
    from kachess_spark.catalog import DEFAULT_SF_DIR as sf
    from kachess_spark.session import get_spark

    registry.load_all()
    spark = get_spark("plans")
    spark.sparkContext.setLogLevel("ERROR")
    out = [
        "# PLANS — physical plans of flagship queries (sf0.1, AQE final)\n",
        "Generated by `python tools/dump_plans.py`; regenerate after "
        "plan-affecting\nchanges.  What to look for is annotated per query.\n",
    ]
    for name, note in NOTES.items():
        df = registry.QUERIES[name](spark, sf)
        # run the frame's OWN plan: df.count() executes a separate
        # aggregate plan and leaves df's adaptive plan un-run (initial)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        if len(plan) > 3500:
            plan = plan[:3500] + "\n... (truncated)"
        out.append(f"## {name}\n\n{note}\n\n```\n{plan}\n```\n")
    with open(os.path.join(REPO, "PLANS.md"), "w") as fh:
        fh.write("\n".join(out))
    print("PLANS.md written")


if __name__ == "__main__":
    main()
