"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec}, "sf": <dir>}

Every run (round-8 verdict #4) also reads the JVM AppStatusStore (the
store behind the Spark UI/REST API — works with the UI disabled) and
attaches per-query stage metrics {input_mb, shuffle_read_mb,
shuffle_write_mb, tasks}: the numbers that decide whether a plan
survives a 100× scale-up — a shuffle that is 10× the input is the
bottleneck to fix, whatever the local wall-clock says — and that
adjudicate wall-clock swings automatically (same bytes + same tasks +
slower wall = host noise, not a plan change).  Snapshots are taken
OUTSIDE the timed windows, so timings are unaffected.  ``--no-profile``
disables the snapshots.  Output stays one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

# Breadth extras (round 2+): TPC-H sweep heavies + the components heavy.
# Benched separately so the original 18-query subtotal stays comparable
# round-over-round (VERDICT r1 item 7).
BREADTH = [
    "tpch_q9_product_profit",
    "tpch_q21_waiting_supplier",
    "dedup_connected_components",
    "dedup_span_overlap",
    "text_unigram_likelihood",
    "dedup_bloom_reference",
    "pipeline_sequence_pack",
    # round 3: rewritten banded LSH + the real-PNG binary pipeline
    "sim_ann_lsh",
    "mm_png_roundtrip",
    # round 3: new dedup/curation heavies
    "dedup_semantic_cluster",
    "dedup_containment",
    "mm_image_ahash",
    "pipeline_quality_mixture",
    "pipeline_funnel_report",
    "pipeline_dataset_card",
    "dedup_minhash_verified",
    # round 4: retrieval/robust-stats/streaming-audit additions
    "text_bm25_search",
    "text_chunk_overlap",
    "agg_weighted_median",
    "win_interval_merge",
    "stream_watermark_audit",
    "pipeline_epoch_shuffle",
    # round 5: the inverted-index tf-idf pair join (the round's heavy)
    "text_tfidf_similar_pairs",
    # round 7: substring-run dedup family + quantized retrieval
    "dedup_substring_run",
    "dedup_substring_spans",
    "dedup_keep_longest",
    "sim_int8_topk",
    # round 8: offline-index ANN serving paths (the one-time
    # build_ivf_index/build_pq_index runs happen untimed in main() —
    # production builds indexes offline, per corpus version; their
    # train-once costs are recorded as scale probes in BASELINE.md),
    # the growing ingest gate, and the span-cut corpus cleaner
    "sim_ivf_stored_topk",
    "sim_pq_stored_topk",
    "sim_ivfpq_stored_topk",
    "sim_ivfpq_residual_topk",
    "stream_ingest_gate_growing",
    "dedup_cut_spans",
    # round 9: radius query over the LSH index + the FastSS fuzzy join
    "sim_range_search",
    "join_fuzzy_editdist",
    # round 10: Gopher repetition filters (word n-gram shuffle family)
    "text_repetition_signals",
    # round 10 (cont.): all-nodes k-NN graph, NFC canonicalization,
    # size-targeted shard assignment
    "sim_knn_graph",
    "text_unicode_normalize",
    "pipeline_sized_shards",
    # round 11: the recall-upgraded stored-IVF graph (2x probe schedule
    # + one NN-descent round), incremental graph maintenance (serves
    # from build_knn_state, prepped untimed in main like the indexes),
    # and the uncapped two-level SemDeDup
    "sim_knn_graph_ivf",
    "sim_knn_graph_incremental",
    "dedup_semantic_cluster_scaled",
    "sim_knn_graph_prescreened",
    # round 12: the linear pure-NN-descent builder (the graph family's
    # production default past index-free corpora — RECALL.md frontier),
    # the graph-served dedup composition, and graph-served ANN (beam
    # walk over the stored descent graph, state prepped untimed above)
    "sim_knn_graph_descent",
    "dedup_embedding_graph",
    "sim_graph_stored_topk",
    # round 13: serve-graph incremental maintenance (HNSW-style insert
    # placement + restricted settle over the stored descent graph; v1
    # state prepped untimed above, so the timed wall is the MAINTENANCE
    # delta cost, which is the production question)
    "sim_graph_serve_incremental",
]

# Headline set: one per operator family + the pipeline heavies.
HEADLINE = [
    "agg_q1_pricing_summary",
    "join_inner_q3",
    "join_q5_multiway",
    "win_rank_topk",
    "agg_count_distinct",
    "setop_union_all",
    "filter_exists_subquery",
    "lateral_view_sql_words",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_embedding_cosine",
    "sim_cosine_topk",
    "text_quality_score",
    "stream_tumbling_counts",
    "stream_session_stats",
    "lineage_column_closure",
    "sink_bucketed_join",
]


def stage_snapshot(spark) -> dict[tuple[int, int], tuple]:
    """Every stage in the JVM AppStatusStore: (stageId, attemptId) ->
    (name, executorRunTime ms, executorCpuTime ns, inputBytes,
    shuffleReadBytes, shuffleWriteBytes, numTasks, numCompleteTasks).
    The one status-store walk; ``tools/profile_stages.py`` and
    ``tools/bench_some.py`` import it from here."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    empty = sc._jvm.java.util.ArrayList()
    defaults = [getattr(store, f"stageList$default${i}")() for i in range(2, 6)]
    out: dict[tuple[int, int], tuple] = {}
    it = store.stageList(empty, *defaults).iterator()
    while it.hasNext():
        sd = it.next()
        out[(sd.stageId(), sd.attemptId())] = (
            sd.name(),
            sd.executorRunTime(),
            sd.executorCpuTime(),
            sd.inputBytes(),
            sd.shuffleReadBytes(),
            sd.shuffleWriteBytes(),
            sd.numTasks(),
            sd.numCompleteTasks(),
        )
    return out


def prep_indexes(spark, dirs) -> None:
    """Offline index prep (untimed): build or reuse, for each corpus
    dir, every stored ANN index and graph state the serving queries
    read.  A production deployment builds these once per corpus
    version; build costs are benchmarked separately as scale probes
    (BASELINE.md round-8 sections)."""
    from kachess_spark.pipeline.similarity import (
        build_graph_serve_state,
        build_ivf_index,
        build_ivfpq_index,
        build_knn_state,
        build_pq_index,
    )

    for d in dirs:
        build_ivf_index(spark, d)
        build_pq_index(spark, d)
        build_ivfpq_index(spark, d)
        build_knn_state(spark, d)
        build_graph_serve_state(spark, d)


def _profile_delta(before, after) -> dict[str, float]:
    tot = [0, 0, 0, 0]
    for sid, m in after.items():
        if sid not in before:
            for i in range(4):
                tot[i] += m[3 + i]
    mb = 1024 * 1024
    return {
        "input_mb": round(tot[0] / mb, 2),
        "shuffle_read_mb": round(tot[1] / mb, 2),
        "shuffle_write_mb": round(tot[2] / mb, 2),
        "tasks": tot[3],
    }


def _loadavg() -> list[float]:
    """Host 1/5/15-minute load averages — recorded in the output line so
    wall-clock numbers carry their co-tenant context (this host runs an
    invisible background load regime; see BASELINE.md)."""
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except (OSError, ValueError):
        return []


def main() -> None:
    profile = "--no-profile" not in sys.argv
    load_start = _loadavg()

    from kachess_spark import registry
    from kachess_spark.catalog import DEFAULT_SF_DIR as sf_dir
    from kachess_spark.session import get_spark

    registry.load_all()
    spark = get_spark("kachess-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm to steady state before timing: run every headline query once
    # at the smallest SF.  This JITs the whole-stage-codegen classes,
    # parquet reader, and shuffle machinery for each query SHAPE (the
    # generated code depends on the plan, not the data volume), so the
    # timed section measures the engine, not first-call JVM compilation
    # — the regime a long-running cluster job actually operates in.
    from kachess_spark.catalog import Tables

    Tables(spark, sf_dir).lineitem.limit(1).collect()
    warm_dir = os.environ.get(
        "SPARK_GRAFT_WARM_SF_DIR", "/root/testdata/sf0.001"
    )
    have_warm = os.path.isdir(warm_dir)

    prep_indexes(spark, ([warm_dir] if have_warm else []) + [sf_dir])

    import gc

    per_query: dict[str, float] = {}
    per_profile: dict[str, dict[str, float]] = {}
    warm_failed: list[str] = []
    for name in HEADLINE + BREADTH:
        fn = registry.QUERIES[name]
        # Warm THIS query's shape immediately before timing it.  A
        # single warm-everything-first pass stopped working once the
        # suite outgrew the JVM's bounded codegen cache (~100 generated
        # classes): by the time timing started, the early queries'
        # classes had been evicted and the timed run re-paid JIT —
        # observed as a 1.3 s query reading 5 s inside the suite while
        # timing at 1.3 s in isolation.  Warm-then-time per query keeps
        # each shape hot regardless of suite size.
        if have_warm:
            try:
                fn(spark, warm_dir).count()
            except Exception:
                # warmup is best-effort: keep timing, but name the query
                # in the output line instead of hiding the failure
                warm_failed.append(name)
            # drop the warm run's persisted intermediates (each fn call
            # creates fresh persist() sites, so warm-SF copies would
            # otherwise sit in the cache under the timed run)
            spark.catalog.clearCache()
        # drop py4j refs to prior queries' localCheckpoint RDDs so the
        # JVM can reclaim them — without this, checkpoint blocks pile up
        # across the ~40-query session and late queries pay GC stalls
        gc.collect()
        before = stage_snapshot(spark) if profile else None
        t0 = time.perf_counter()
        # count() forces full execution without driver-side materialization
        fn(spark, sf_dir).count()
        per_query[name] = round(time.perf_counter() - t0, 3)
        if profile:
            per_profile[name] = _profile_delta(before, stage_snapshot(spark))
        # operators that persist() intermediates (funnel, tf-idf pairs)
        # must not leak InMemoryRelations into later queries' timings —
        # clear between queries so each one measures a cold cache
        spark.catalog.clearCache()

    headline_total = round(sum(per_query[n] for n in HEADLINE), 3)
    total = round(sum(per_query.values()), 3)
    out = {
        "metric": "headline_queries_total_wall",
        # headline subtotal = the BASELINE.md-comparable 18-query number;
        # breadth extras are reported separately inside the same line
        "value": headline_total,
        "unit": "sec",
        "queries": per_query,
        "subtotals": {
            "headline_18": headline_total,
            "breadth_extras": round(total - headline_total, 3),
            "all": total,
        },
        "sf": sf_dir,
        "loadavg_start": load_start,
        "loadavg_end": _loadavg(),
    }
    if warm_failed:
        out["warm_failed"] = warm_failed
    if profile:
        out["profile"] = per_profile
    print(json.dumps(out))
    if profile:
        # The driver records only the LAST 2000 chars of output and
        # parses the JSON line it finds there.  With the profile map the
        # full line is ~7000 chars, so its opening brace scrolls out of
        # the tail and the artifact loses every timing (BENCH_r09.json,
        # round-9 verdict #1).  Emit a compact duplicate as the FINAL
        # line, kept under the window by construction, carrying the
        # fields cross-round adjudication needs (round-11 verdict #3):
        # per-query walls, per-query shuffle-write MB ("sw", a csv of
        # ints aligned with the "queries" key order), and the host
        # loadavg context ("load" = start 1/5/15 then end 1/5/15) —
        # same bytes + same tasks + slower wall = host noise, not a
        # plan change.  The full line above keeps exact bytes/tasks.
        compact = {k: v for k, v in out.items() if k != "profile"}
        compact["queries"] = {k: round(v, 2) for k, v in per_query.items()}
        compact["sw"] = ",".join(
            str(int(round(per_profile[n]["shuffle_write_mb"])))
            for n in per_query
        )
        compact["load"] = [
            round(x, 1) for x in (load_start + compact.pop("loadavg_end"))
        ]
        compact.pop("loadavg_start", None)
        line = json.dumps(compact, separators=(",", ":"))
        # degradation ladder if the suite outgrows the window (target
        # 1940 so the line + newline sits safely inside the 2000-char
        # tail): each step drops redundancy or precision on breadth
        # extras — never the walls / sw / load themselves, never
        # headline precision
        if len(line) > 1940:
            compact.pop("metric", None)  # constant string, in full line
            compact.pop("unit", None)
            line = json.dumps(compact, separators=(",", ":"))
        if len(line) > 1940:
            compact["sw"] = ",".join(  # cap pathological values at 3 digits
                str(min(999, int(s))) for s in compact["sw"].split(",")
            )
            compact["subtotals"] = {
                "headline_18": headline_total, "all": total
            }
            line = json.dumps(compact, separators=(",", ":"))
        if len(line) > 1940:
            # drop the remaining constants — "sf" is fixed by the
            # driver env, "value" duplicates subtotals.headline_18
            compact.pop("sf", None)
            compact.pop("value", None)
            line = json.dumps(compact, separators=(",", ":"))
        if len(line) > 1940:
            # last resort: breadth extras to 1 decimal (headline keeps
            # 2 — it is the BASELINE-comparable set), sw capped at 99,
            # loadavg trimmed to start-triple + end-1min
            compact["queries"] = {
                k: round(v, 2 if k in HEADLINE else 1)
                for k, v in per_query.items()
            }
            compact["sw"] = ",".join(
                str(min(99, int(s))) for s in compact["sw"].split(",")
            )
            compact["load"] = compact["load"][:4]
            line = json.dumps(compact, separators=(",", ":"))
        print(line)


if __name__ == "__main__":
    main()
