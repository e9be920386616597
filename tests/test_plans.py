"""Physical-plan assertions: the scale properties we claim, made
executable.  A regression that silently drops predicate pushdown, column
pruning, broadcast selection, bucketing, or partition pruning fails here
— not at 100 TB.
"""

from __future__ import annotations

import pytest


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _formatted(df) -> str:
    """explain("formatted") as a string — unlike toString(), this does
    not truncate PushedFilters/DataFilters lists."""
    return df.sparkSession._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_q3_pushdown_and_pruning(spark, sf_dir):
    from kachess_spark.operators.joins import join_inner_q3

    df = join_inner_q3(spark, sf_dir)
    df.count()  # finalize AQE
    plan = _plan(df)
    # filters reach the parquet scans
    assert "PushedFilters: [IsNotNull(o_orderdate), LessThan(o_orderdate" in plan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan
    # column pruning: lineitem scan reads only the 4 needed columns
    assert "struct<l_orderkey:bigint,l_extendedprice:double," in plan.replace(
        "\n", ""
    )
    # the dimension side broadcasts
    assert "BroadcastHashJoin" in plan


def test_partitioned_write_prunes(spark, sf_dir):
    from kachess_spark.operators.sinks import sink_partitioned_write

    df = sink_partitioned_write(spark, sf_dir)
    df.count()
    plan = _plan(df)
    assert "PartitionFilters: [isnotnull(o_orderpriority" in plan
    # partition-only aggregation: no data columns read at all
    assert "ReadSchema: struct<>" in plan


def test_bucketed_scan_selected(spark, sf_dir):
    from kachess_spark.operators.sinks import sink_bucketed_join

    df = sink_bucketed_join(spark, sf_dir)
    df.count()
    plan = _plan(df)
    assert plan.count("Bucketed: true") == 2


def test_no_python_udf_in_sql_operators(spark, sf_dir):
    """Core SQL operators must stay JVM-side (no BatchEvalPython /
    ArrowEvalPython in their plans) — Python appears only in the
    explicitly-UDF operators."""
    from kachess_spark import registry

    registry.load_all()
    for name in (
        "agg_q1_pricing_summary", "join_q5_multiway", "win_rank_topk",
        "setop_union_all", "filter_exists_subquery", "scalar_string_funcs",
        "lateral_view_sql_words", "dedup_minhash_lsh", "sim_cosine_topk",
    ):
        plan = _plan(registry.QUERIES[name](spark, sf_dir))
        assert "EvalPython" not in plan, f"{name} fell off the JVM path"


def test_agg_is_partial_before_shuffle(spark, sf_dir):
    """Q1's aggregation must be map-side partial (two HashAggregate
    levels around the exchange), not shuffle-everything-then-aggregate."""
    from kachess_spark.operators.aggregates import agg_q1_pricing_summary

    df = agg_q1_pricing_summary(spark, sf_dir)
    df.count()
    plan = _plan(df)
    assert plan.count("HashAggregate") >= 2
    assert "partial" in plan.lower()


def test_exists_becomes_semi_join(spark, sf_dir):
    """EXISTS subqueries must decorrelate to a semi join, not a per-row
    subquery execution."""
    from kachess_spark import registry

    registry.load_all()
    opt = _optimized(registry.QUERIES["filter_exists_subquery"](spark, sf_dir))
    assert "LeftSemi" in opt


def test_asof_join_single_shuffle(spark, sf_dir):
    """The as-of join must shuffle ONCE on the key (the union+window
    design) — a second join-shuffle means the plan regressed to the
    naive inequality join."""
    from kachess_spark.operators.asof import join_asof_events

    df = join_asof_events(spark, sf_dir)
    df.count()
    plan = _plan(df)
    # one hashpartitioning exchange on user_id for the window; the final
    # orderBy adds a range exchange — but no join-related exchange pair
    assert plan.count("hashpartitioning(user_id") <= 1
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_broadcast_hint_no_fact_shuffle(spark, sf_dir):
    from kachess_spark.operators.joins import join_broadcast_hint

    df = join_broadcast_hint(spark, sf_dir)
    df.count()
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    # the fact (supplier) side must not hash-shuffle for the join
    assert "hashpartitioning(s_nationkey" not in plan


def test_sorted_zonemap_filter_pushed(spark, sf_dir):
    """The date filter on the sorted read-back must reach the parquet
    scan (zone-map skipping needs the predicate AT the scan, not above
    it), and only the two needed columns are read."""
    from kachess_spark.operators.sinks import sink_sorted_zonemap

    df = sink_sorted_zonemap(spark, sf_dir)
    df.count()
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate" in plan
    assert "struct<l_shipdate:timestamp" in plan.replace("\n", "")


def test_q20_broadcasts_and_semi_joins(spark, sf_dir):
    """Q20 shape: nested INs must decorrelate to semi joins; the part
    key list and nation filter must broadcast (no fact-side shuffle for
    either)."""
    from kachess_spark.operators.filters import filter_q20_nested_in

    df = filter_q20_nested_in(spark, sf_dir)
    df.count()
    plan = _plan(df)
    assert "LeftSemi" in plan
    assert "BroadcastHashJoin" in plan


def test_aqe_skew_join_splits(spark):
    """The runtime skew splitter must engage on the hot-key join: final
    adaptive plan shows SortMergeJoin(skew=true) + a skewed
    AQEShuffleRead.  Pinned to sf0.01 — the hot partition must clear the
    (already lowered) 16k size threshold, which sf0.001 cannot."""
    from kachess_spark.operators.joins import _SKEW_CONFS, skew_join_build

    sf_dir = "/root/testdata/sf0.01"

    saved = {k: spark.conf.get(k, None) for k in _SKEW_CONFS}
    for k, v in _SKEW_CONFS.items():
        spark.conf.set(k, v)
    try:
        df = skew_join_build(spark, sf_dir)
        df.collect()
        plan = _plan(df)
        assert "skew=true" in plan
        # the read may print "skewed" or "coalesced and skewed"
        assert "skewed" in plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v) if v is not None else spark.conf.unset(k)


def test_bloom_runtime_filter_injected(spark):
    """The shuffle join with a selective dim filter must carry a
    might_contain(bloom) predicate on the fact scan side."""
    from kachess_spark.operators.joins import _BLOOM_CONFS, bloom_join_build

    sf_dir = "/root/testdata/sf0.01"
    saved = {k: spark.conf.get(k, None) for k in _BLOOM_CONFS}
    for k, v in _BLOOM_CONFS.items():
        spark.conf.set(k, v)
    try:
        df = bloom_join_build(spark, sf_dir)
        df.collect()
        plan = _plan(df)
        assert "might_contain" in plan
        assert "bloom_filter_agg" in plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v) if v is not None else spark.conf.unset(k)


def test_dynamic_partition_pruning(spark, sf_dir):
    """The fact scan must carry a dynamicpruning PartitionFilter driven
    by the dim-side subquery."""
    from kachess_spark.operators.sinks import dpp_join_build

    df = dpp_join_build(spark, sf_dir)
    df.collect()
    plan = _plan(df)
    assert "dynamicpruning" in plan.lower()


def test_q6_full_pushdown(spark, sf_dir):
    """Q6's three range predicates must all reach the parquet scan, the
    read schema must prune to the 4 referenced columns, and the global
    sum must go partial before the exchange."""
    from kachess_spark.operators.tpch import tpch_q6_forecast_revenue

    df = tpch_q6_forecast_revenue(spark, sf_dir)
    df.count()
    plan = _formatted(df)
    flat = plan.replace("\n", "")
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "GreaterThanOrEqual(l_discount,0.05)" in plan
    assert "LessThan(l_quantity,24.0)" in plan
    assert (
        "struct<l_quantity:double,l_extendedprice:double,l_discount:double,l_shipdate:timestamp"
        in flat
    )
    assert "partial_sum" in plan


def test_q19_disjunction_extracted_and_pushed(spark, sf_dir):
    """Catalyst must extract the per-side implications of the OR-of-ANDs
    and push them below the join: the lineitem scan carries the quantity
    disjunction, the part scan carries the brand/size disjunction, and
    part broadcasts (one lineitem scan total — not a UNION of three)."""
    from kachess_spark.operators.tpch import tpch_q19_disjunctive_revenue

    df = tpch_q19_disjunctive_revenue(spark, sf_dir)
    df.count()
    # _formatted, not _plan: toString truncates filter lists at a fixed
    # width, and attribute-id growth over a long session pushes the
    # asserted text past the cut
    plan = _formatted(df)
    assert "BroadcastHashJoin" in plan
    # quantity bounds pushed onto the fact scan as a data filter
    lineitem_scan = [s for s in plan.split("Scan parquet") if "lineitem.parquet" in s][0]
    assert "l_quantity" in lineitem_scan.split("PushedFilters")[1].split("\n")[0]
    assert plan.count("lineitem.parquet") == 1
    # brand/size implication pushed onto the part scan
    part_scan = [s for s in plan.split("Scan parquet") if "part.parquet" in s][0]
    assert "Brand#12" in part_scan


def test_q4_exists_semi_join_with_residual(spark, sf_dir):
    """The correlated EXISTS must plan as ONE semi join carrying the
    non-equi shipdate residual — not a per-row subquery."""
    from kachess_spark.operators.tpch import tpch_q4_order_priority

    df = tpch_q4_order_priority(spark, sf_dir)
    df.count()
    plan = _plan(df)
    assert "LeftSemi" in plan
    assert "INTERVAL '30' DAY" in plan
    # the quarter filter reaches the orders scan
    orders_scan = [s for s in plan.split("FileScan") if "orders.parquet" in s][0]
    assert "o_orderdate" in orders_scan


def test_q21_single_fact_scan_no_expand(spark, sf_dir):
    """The two-level decorrelation must scan lineitem ONCE and avoid the
    Expand node that two countDistinct aggs would force (2x shuffle
    volume at 100 TB)."""
    from kachess_spark.operators.tpch import tpch_q21_waiting_supplier

    df = tpch_q21_waiting_supplier(spark, sf_dir)
    df.count()
    plan = _plan(df)
    assert plan.count("lineitem.parquet") == 1
    assert "Expand" not in plan


def test_zorder_secondary_dimension_skipping(spark):
    """The z-order layout must give the secondary dimension (partkey)
    file-level locality a date-sorted layout cannot: the partkey-range
    probe touches at most half the z-ordered files (it touches ALL
    date-sorted files), while the date probe retains partial locality."""
    from pyspark.sql import functions as F

    from kachess_spark.operators.sinks import zorder_write

    sf_dir = "/root/testdata/sf0.01"
    path = zorder_write(spark, sf_dir, n_files=8)
    df = spark.read.parquet(path)
    pk_files = (
        df.where(F.col("l_partkey").between(100, 140))
        .select(F.input_file_name().alias("f"))
        .distinct()
        .count()
    )
    date_files = (
        df.where(
            (F.col("l_shipdate") >= "1996-06-01")
            & (F.col("l_shipdate") < "1996-09-01")
        )
        .select(F.input_file_name().alias("f"))
        .distinct()
        .count()
    )
    assert pk_files <= 4, pk_files
    assert date_files <= 6, date_files


def test_cache_serves_second_use(spark, sf_dir):
    """A cached DataFrame's consumers must read InMemoryTableScan, not
    re-scan parquet — the multi-use pipeline pattern (curation pipelines
    reuse the cleaned frame for stats AND writes)."""
    from pyspark.sql import functions as F

    from kachess_spark.catalog import Tables

    t = Tables(spark, sf_dir)
    cleaned = t.orders.where(F.col("o_totalprice") > 1000).cache()
    try:
        cleaned.count()  # materialize
        agg = cleaned.groupBy("o_orderstatus").count()
        agg.collect()
        plan = _plan(agg)
        # the aggregate's input is the in-memory relation (the cached
        # plan's own FileScan text still prints inside it, so no
        # negative assertion on the file name)
        assert "InMemoryTableScan" in plan
    finally:
        cleaned.unpersist()


def test_bloom_reference_probe_is_broadcast(spark, sf_dir):
    """dedup_bloom_reference: the big (new-docs) side must never
    shuffle — the mask probe is a broadcast nested-loop over one row,
    the verify is a broadcast semi-join, and everything stays JVM-side."""
    from kachess_spark.pipeline.dedup import dedup_bloom_reference

    df = dedup_bloom_reference(spark, sf_dir)
    df.count()
    plan = _plan(df)
    assert "EvalPython" not in plan
    assert "SortMergeJoin" not in plan  # would mean the big side shuffled
    assert "Broadcast" in plan


def test_cms_build_is_partial_and_jvm(spark, sf_dir):
    """Relational count-min sketch: counter cells partial-aggregate
    map-side; probes broadcast-join the tiny cell table; no Python."""
    from kachess_spark.operators.aggregates import agg_count_min_sketch

    df = agg_count_min_sketch(spark, sf_dir, certify=False)
    df.count()
    plan = _plan(df)
    assert "EvalPython" not in plan
    assert "partial" in plan.lower()
    assert "BroadcastHashJoin" in plan


def test_sequence_pack_prefix_sum_is_distributed(spark, sf_dir):
    """pipeline_sequence_pack: the per-doc cumulative sum must run
    partitioned by block (hashpartitioning on blk) — only the
    metadata-sized block-totals frame may pass through a single
    partition."""
    from kachess_spark.pipeline.curation import pipeline_sequence_pack

    df = pipeline_sequence_pack(spark, sf_dir)
    df.count()
    plan = _plan(df)
    assert "hashpartitioning(blk" in plan
    assert "EvalPython" not in plan


def test_span_overlap_partial_agg_jvm(spark, sf_dir):
    """dedup_span_overlap: span stream partial-aggregates map-side into
    the first-occurrence minima; everything stays JVM-side."""
    from kachess_spark.pipeline.dedup import dedup_span_overlap

    df = dedup_span_overlap(spark, sf_dir)
    df.count()
    plan = _plan(df)
    assert "EvalPython" not in plan
    assert "partial" in plan.lower()


def test_broadcast_hint_overrides_threshold(spark, sf_dir):
    """join_hint_broadcast: with auto-broadcast disabled, only the SQL
    hint can produce the broadcast join."""
    from kachess_spark.operators.joins import hint_join_build

    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = hint_join_build(spark, sf_dir)
        df.count()
        plan = _plan(df)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_banded_lsh_no_cartesian(spark, sf_dir):
    """sim_ann_lsh: candidate generation must be the (band, bucket)
    equality join with the query side broadcast — never a cartesian or
    all-pairs product — and scoring must stay JVM-side (zip_with dot,
    no EvalPython).  Asserted on the certify=False plan: the recall
    certificate deliberately adds a broadcast nested-loop baseline
    (#queries x N codegen dots — linear, query side broadcast), which
    the second half of this test pins down."""
    from kachess_spark.pipeline.similarity import QUERY_IDS, sim_ann_lsh

    df = sim_ann_lsh(spark, sf_dir, certify=False)
    df.count()
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan
    assert "Broadcast" in plan

    # certified plan: the ONLY nested-loop join allowed is the recall
    # baseline's, and it must build (broadcast) the <=len(QUERY_IDS)-row
    # query side — a linear scan, not an all-pairs product.
    cert = sim_ann_lsh(spark, sf_dir)
    cert.count()
    cplan = _plan(cert)
    assert "CartesianProduct" not in cplan
    assert "recall" in cert.columns
    bnlj = cplan.count("BroadcastNestedLoopJoin")
    assert bnlj <= 1
    if bnlj:
        # the BNLJ's build side is the broadcast side; _probe_scores
        # broadcasts qv (the query vectors), so the join must be
        # BuildRight over a plan whose broadcast input is the filtered
        # <=15-row query relation.
        assert len(QUERY_IDS) <= 15
        assert "BroadcastNestedLoopJoin BuildRight" in cplan


def test_ann_certify_flag_paths(spark, sf_dir):
    """certify=True (the driver default) appends the in-plan recall
    column; certify=False returns the bare top-k with no recall
    baseline in the plan (production callers can skip the 2x cost)."""
    from kachess_spark.pipeline.similarity import sim_ann_lsh

    bare = sim_ann_lsh(spark, sf_dir, certify=False)
    assert "recall" not in bare.columns
    cert = sim_ann_lsh(spark, sf_dir)
    assert "recall" in cert.columns
    rows = cert.select("qid", "recall").distinct().collect()
    assert rows and all(0.0 <= r["recall"] <= 1.0 for r in rows)


def test_stored_ivf_probe_has_no_training_scan(spark, sf_dir):
    """sim_ivf_stored_topk (round-7 verdict #3): the probe-side plan
    must serve from the STORED index — no k-means training and no
    corpus-wide assignment pass in the returned plan.  The corpus
    assignment compiles to a max_by hash aggregate (ivf_assign n=1);
    only the tiny query-side assignment (row_number window over
    n_probe) is allowed at probe time.  Results must be bit-identical
    to the self-contained operator at the same training configuration
    — sim_ivf_kmeans_topk since the round-10 IVF_BUILD_ITERS=1 default
    (the POPULATION-recall winner after RECALL.md's probe-bias
    correction; the round-9 iters=0 flip probed the seeds themselves)."""
    from kachess_spark.pipeline.similarity import (
        sim_ivf_kmeans_topk,
        sim_ivf_stored_topk,
    )

    df = sim_ivf_stored_topk(spark, sf_dir, certify=False)
    df.count()
    plan = _plan(df)
    assert "max_by" not in plan  # no corpus-wide assignment at probe time
    assert "ivf_index" in plan  # serves from the stored tables
    # the inverted lists are partitioned BY cell and the probe's
    # broadcast of its n_probe cells dynamically prunes the scan —
    # at 100 TB the index read is probe/cells of the index, not all
    assert "dynamicpruning" in plan.lower()
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan

    got = {(r["qid"], r["vid"]) for r in df.select("qid", "vid").collect()}
    want = {
        (r["qid"], r["vid"])
        for r in sim_ivf_kmeans_topk(spark, sf_dir, certify=False)
        .select("qid", "vid")
        .collect()
    }
    assert got == want


def test_stored_pq_probe_serves_from_index(spark, sf_dir):
    """sim_pq_stored_topk: the probe plan reads codebooks + codes from
    the STORED index tables — no in-session training checkpoints
    (ExistingRDD scans) anywhere in the plan — and results are
    bit-identical to the self-contained sim_pq_adc_topk."""
    from kachess_spark.pipeline.similarity import (
        sim_pq_adc_topk,
        sim_pq_stored_topk,
    )

    df = sim_pq_stored_topk(spark, sf_dir, certify=False)
    df.count()
    plan = _plan(df)
    assert "pq_index" in plan  # serves from the stored tables
    assert "ExistingRDD" not in plan  # no session-local checkpoint scans
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan

    got = {
        (r["qid"], r["vid"], r["rk"]) for r in df.collect()
    }
    want = {
        (r["qid"], r["vid"], r["rk"])
        for r in sim_pq_adc_topk(spark, sf_dir, certify=False).collect()
    }
    assert got == want


def test_ivfpq_stored_probe_composition(spark, sf_dir):
    """sim_ivfpq_stored_topk: serves from BOTH stored indexes (no
    training / corpus assignment / session checkpoints in the plan),
    and every returned neighbor is contained in the IVF candidate set
    (a member of one of its query's probed cells) — the pruning
    actually gates the ADC scan."""
    import os

    from pyspark.sql import functions as F
    from pyspark.sql.functions import broadcast

    from kachess_spark.catalog import Tables
    from kachess_spark.pipeline.similarity import (
        QUERY_IDS,
        build_ivf_index,
        ivf_assign,
        sim_ivfpq_stored_topk,
    )

    df = sim_ivfpq_stored_topk(spark, sf_dir, certify=False)
    df.count()
    plan = _plan(df)
    assert "ivf_index" in plan and "pq_index" in plan
    assert "max_by" not in plan  # no corpus-wide assignment
    assert "ExistingRDD" not in plan  # no session-local checkpoints
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan

    ivf_dir = build_ivf_index(spark, sf_dir)
    emb = Tables(spark, sf_dir).embeddings.select("vec_id", "embedding")
    centroids = spark.read.parquet(os.path.join(ivf_dir, "centroids"))
    assign = spark.read.parquet(os.path.join(ivf_dir, "assignments"))
    n_probe = int(
        spark.read.parquet(os.path.join(ivf_dir, "meta")).head()["n_probe"]
    )
    qprobe = ivf_assign(
        spark, emb.where(F.col("vec_id").isin(*QUERY_IDS)), centroids,
        n=n_probe,
    ).select(F.col("vid").alias("qid"), F.col("cell").alias("data_cell"))
    cand = {
        (r["qid"], r["vid"])
        for r in assign.join(broadcast(qprobe), "data_cell")
        .select("qid", "vid")
        .collect()
    }
    got = {(r["qid"], r["vid"]) for r in df.select("qid", "vid").collect()}
    assert got <= cand, got - cand

    cert = sim_ivfpq_stored_topk(spark, sf_dir)
    hits = sum(
        r["recall"] * 5 for r in cert.select("qid", "recall").distinct()
        .collect()
    )
    assert hits >= 10, hits  # >= 10/15 true neighbors at sf0.001


def test_ivfpq_residual_probe_plan(spark, sf_dir):
    """sim_ivfpq_residual_topk: serves from the stored coarse layer +
    residual-trained PQ tables (no training / corpus assignment /
    session checkpoints in the plan) and agrees with the non-residual
    composition's recall contract (>= 10/15 true neighbors at
    sf0.001)."""
    from kachess_spark.pipeline.similarity import sim_ivfpq_residual_topk

    df = sim_ivfpq_residual_topk(spark, sf_dir, certify=False)
    df.count()
    plan = _plan(df)
    assert "ivfpq_index" in plan and "ivf_index" in plan
    assert "max_by" not in plan
    assert "ExistingRDD" not in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan

    cert = sim_ivfpq_residual_topk(spark, sf_dir)
    hits = sum(
        r["recall"] * 5
        for r in cert.select("qid", "recall").distinct().collect()
    )
    assert hits >= 10, hits


def test_ivf_index_insert_equivalence(spark, sf_dir, tmp_path):
    """ivf_index_insert: a base-built index with the delta inserted
    against the FROZEN centroids must hold exactly the assignments a
    from-scratch pass over the FULL corpus produces with the same
    centroids — maintenance changes storage, never semantics.  The
    stored-probe path over the maintained index must also return
    delta vectors when they are true neighbors."""
    import os

    from pyspark.sql import functions as F

    from kachess_spark.catalog import Tables
    from kachess_spark.pipeline.similarity import (
        build_ivf_index,
        ivf_assign,
        ivf_index_insert,
        sim_ivf_stored_topk,
    )

    emb = Tables(spark, sf_dir).embeddings.select("vec_id", "embedding")
    base = emb.where(F.col("vec_id") % 10 != 0)
    delta = emb.where(F.col("vec_id") % 10 == 0)
    idx = str(tmp_path / "idx")
    build_ivf_index(spark, sf_dir, index_dir=idx, emb=base)
    ivf_index_insert(spark, idx, delta)

    stored = {
        (r["vid"], r["data_cell"])
        for r in spark.read.parquet(os.path.join(idx, "assignments"))
        .select("vid", "data_cell")
        .collect()
    }
    cent = spark.read.parquet(os.path.join(idx, "centroids"))
    scratch = {
        (r["vid"], r["cell"])
        for r in ivf_assign(spark, emb, cent, n=1)
        .select("vid", "cell")
        .collect()
    }
    assert stored == scratch
    assert len(stored) == emb.count()

    got = sim_ivf_stored_topk(spark, sf_dir, certify=False, index_dir=idx)
    vids = {r["vid"] for r in got.select("vid").collect()}
    assert vids, "probe over the maintained index returned nothing"


def test_pq_index_insert_equivalence(spark, sf_dir, tmp_path):
    """pq_index_insert: a base-built PQ index with the delta encoded
    against the FROZEN codebooks must hold exactly the codes a
    from-scratch encoding of the FULL corpus produces with the same
    books — maintenance changes storage, never semantics — and the
    stored ADC probe serves from the maintained index."""
    import os

    from pyspark.sql import functions as F

    from kachess_spark.catalog import Tables
    from kachess_spark.pipeline.similarity import (
        PQ_DIMS,
        PQ_M,
        _assign_l2,
        build_pq_index,
        pq_index_insert,
        sim_pq_stored_topk,
    )

    emb = Tables(spark, sf_dir).embeddings.select("vec_id", "embedding")
    base = emb.where(F.col("vec_id") % 10 != 0)
    delta = emb.where(F.col("vec_id") % 10 == 0)
    idx = str(tmp_path / "pq_idx")
    build_pq_index(spark, sf_dir, index_dir=idx, emb=base)
    pq_index_insert(spark, idx, delta)

    stored = {
        (r["vid"], r["m"], r["code"])
        for r in spark.read.parquet(os.path.join(idx, "codes")).collect()
    }
    books = spark.read.parquet(os.path.join(idx, "books"))
    scratch = set()
    for m in range(PQ_M):
        # subspace m alone, in the long layout _assign_l2 matches on:
        # vector id vec_id * PQ_M + m, codeword id code * PQ_M + m
        sub = emb.select(
            (F.col("vec_id") * PQ_M + m).alias("vec_id"),
            F.slice("embedding", m * PQ_DIMS + 1, PQ_DIMS).alias("embedding"),
        )
        cent = books.where(F.col("m") == m).select(
            (F.col("code") * PQ_M + m).alias("vec_id"), "embedding"
        )
        scratch |= {
            ((r["vid"] - m) // PQ_M, m, (r["code"] - m) // PQ_M)
            for r in _assign_l2(sub, cent).collect()
        }
    assert stored == scratch
    assert len(stored) == emb.count() * PQ_M

    got = sim_pq_stored_topk(spark, sf_dir, certify=False, index_dir=idx)
    assert got.count() > 0


@pytest.mark.slow  # >=20 s measured; excluded from the default gate run (pytest.ini)
def test_stored_index_param_mismatch_rebuilds(spark, sf_dir, tmp_path):
    """Round-8 advice (medium): with an explicit index_dir, a build
    call whose meta differs from the stored index's must REBUILD, not
    silently serve the stale index.  The base corpus (vec_id % 10 != 0)
    and the full corpus build different meta (n_built); matching meta
    still reuses (no retrain: meta mtime unchanged)."""
    import os

    from pyspark.sql import functions as F

    from kachess_spark.catalog import Tables
    from kachess_spark.pipeline.similarity import (
        PQ_M,
        build_ivf_index,
        build_pq_index,
    )

    emb = Tables(spark, sf_dir).embeddings.select("vec_id", "embedding")
    base = emb.where(F.col("vec_id") % 10 != 0)
    n_base, n_full = base.count(), emb.count()
    assert n_base < n_full

    idx = str(tmp_path / "idx")
    build_ivf_index(spark, sf_dir, index_dir=idx, emb=base)
    meta = spark.read.parquet(os.path.join(idx, "meta")).head()
    assert meta["n_built"] == n_base
    mtime = os.path.getmtime(os.path.join(idx, "meta"))

    # same meta → reuse, no rewrite
    build_ivf_index(spark, sf_dir, index_dir=idx, emb=base)
    assert os.path.getmtime(os.path.join(idx, "meta")) == mtime

    # different corpus → rebuilt: new meta, lists over the full corpus
    build_ivf_index(spark, sf_dir, index_dir=idx)
    meta = spark.read.parquet(os.path.join(idx, "meta")).head()
    assert (meta["n_built"], meta["n_vectors"]) == (n_full, n_full)
    assert spark.read.parquet(os.path.join(idx, "assignments")).count() == n_full

    # PQ twin: a corpus change must not serve the old index either
    pidx = str(tmp_path / "pq_idx")
    build_pq_index(spark, sf_dir, index_dir=pidx, emb=base)
    build_pq_index(spark, sf_dir, index_dir=pidx)
    meta = spark.read.parquet(os.path.join(pidx, "meta")).head()
    assert (meta["n_built"], meta["n_vectors"]) == (n_full, n_full)
    assert spark.read.parquet(os.path.join(pidx, "codes")).count() == (
        n_full * PQ_M
    )


def test_index_insert_meta_recount(spark, sf_dir, tmp_path):
    """Round-8 advice (low): after each insert, meta.n_vectors is
    recounted from the stored table (crash between append and meta
    overwrite can understate a cached count, and the recount can never
    drift), while every other build-time column keeps its value and
    type — n_built keeps the build-time corpus size so the param-match
    reuse check ignores legitimate incremental growth.  Both inserts:
    IVF (one assignment row per vector) and PQ (PQ_M code rows)."""
    import os

    from pyspark.sql import functions as F

    from kachess_spark.catalog import Tables
    from kachess_spark.pipeline.similarity import (
        PQ_M,
        build_ivf_index,
        build_pq_index,
        ivf_index_insert,
        pq_index_insert,
    )

    emb = Tables(spark, sf_dir).embeddings.select("vec_id", "embedding")
    base = emb.where(F.col("vec_id") % 10 != 0)
    batches = [emb.where(F.col("vec_id") % 20 == r) for r in (0, 10)]
    n_base = base.count()
    for build, insert, table, rows_per_vec in (
        (build_ivf_index, ivf_index_insert, "assignments", 1),
        (build_pq_index, pq_index_insert, "codes", PQ_M),
    ):
        idx = str(tmp_path / table)
        meta_dir = os.path.join(idx, "meta")
        build(spark, sf_dir, index_dir=idx, emb=base)
        built = spark.read.parquet(meta_dir)
        want = built.head().asDict()
        assert want["n_built"] == want["n_vectors"] == n_base
        for batch in batches:
            insert(spark, idx, batch)
            meta = spark.read.parquet(meta_dir)
            rows = spark.read.parquet(os.path.join(idx, table)).count()
            assert meta.schema == built.schema
            assert meta.head().asDict() == {
                **want, "n_vectors": rows // rows_per_vec
            }
        assert rows == emb.count() * rows_per_vec
        # a re-build call over the same base corpus + params still
        # reuses the grown index (insert must not trigger a rebuild)
        mtime = os.path.getmtime(meta_dir)
        build(spark, sf_dir, index_dir=idx, emb=base)
        assert os.path.getmtime(meta_dir) == mtime


def test_default_state_dirs_distinct_and_reused(spark, sf_dir):
    """One corpus, five stored states: their default dirs are pairwise
    distinct, and a second call to each builder returns the same dir
    without rewriting its meta.  The PQ and residual IVFPQ indexes
    store identical meta, so only the state kind in the dir key keeps
    them apart."""
    import os

    from kachess_spark.pipeline.similarity import (
        build_graph_serve_state,
        build_ivf_index,
        build_ivfpq_index,
        build_knn_state,
        build_pq_index,
    )

    builders = (
        build_ivf_index,
        build_pq_index,
        build_ivfpq_index,
        build_knn_state,
        build_graph_serve_state,
    )

    def meta_mtimes(d):
        m = os.path.join(d, "meta")
        return {f: os.path.getmtime(os.path.join(m, f)) for f in os.listdir(m)}

    dirs = [build(spark, sf_dir) for build in builders]
    assert len(set(dirs)) == len(dirs), dirs
    pq_meta, ivfpq_meta = (
        spark.read.parquet(os.path.join(d, "meta")).head().asDict()
        for d in dirs[1:3]
    )
    assert pq_meta == ivfpq_meta
    mtimes = [meta_mtimes(d) for d in dirs]
    assert [build(spark, sf_dir) for build in builders] == dirs
    assert [meta_mtimes(d) for d in dirs] == mtimes


def test_png_roundtrip_arrow_batched(spark, sf_dir):
    """mm_png_roundtrip: both kernels must run as Arrow-batched
    mapInPandas (MapInPandas nodes), not row-at-a-time Python UDFs."""
    from kachess_spark.pipeline.multimodal import mm_png_roundtrip

    df = mm_png_roundtrip(spark, sf_dir)
    df.count()
    plan = _plan(df)
    assert plan.count("MapInPandas") == 2
    assert "BatchEvalPython" not in plan


def test_semantic_cluster_broadcast_assignment(spark, sf_dir):
    """dedup_semantic_cluster: centroid assignment must be a broadcast
    cross join (k≤256 rows, never a shuffled join), the argmin must
    partial-aggregate map-side, and all cosine math stays JVM-side."""
    from kachess_spark.catalog import Tables
    from kachess_spark.pipeline.dedup import dedup_semantic_cluster, sem_assign

    # assignment stage (the checkpoint in the full query hides it)
    adf = sem_assign(Tables(spark, sf_dir).embeddings, 16)
    adf.count()
    aplan = _plan(adf)
    assert "BroadcastNestedLoopJoin" in aplan  # broadcast cross join
    assert "partial_min" in aplan or "partial" in aplan.lower()
    assert "EvalPython" not in aplan
    # full query: in-cluster prune stays JVM-side, no cartesian
    df = dedup_semantic_cluster(spark, sf_dir)
    df.count()
    plan = _plan(df)
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_containment_no_allpairs(spark, sf_dir):
    """dedup_containment: candidates come from the shingle-equality
    join — never a cartesian over the blocked pairs."""
    from kachess_spark.pipeline.dedup import dedup_containment

    df = dedup_containment(spark, sf_dir)
    df.count()
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_image_ahash_banded_join(spark, sf_dir):
    """mm_image_ahash: hashing is Arrow-batched mapInPandas; the pair
    search is the banded equality join with the XOR bit_count verify in
    codegen — no cartesian, no per-pair Python."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    from kachess_spark.catalog import Tables
    from kachess_spark.pipeline.multimodal import (
        _PNG_ENCODE_SCHEMA,
        _ahash_batches,
        _ahash_encode_batches,
        mm_image_ahash,
    )

    # hashing stage (the checkpoint in the full query hides it):
    # both kernels must be Arrow-batched MapInPandas nodes
    imgs = (
        Tables(spark, sf_dir)
        .documents.where(F.col("doc_id") % 3 == 0)
        .select("doc_id")
        .withColumn("n_groups", F.lit(40).cast("long"))
    )
    hashed = imgs.mapInPandas(
        _ahash_encode_batches, schema=_PNG_ENCODE_SCHEMA
    ).mapInPandas(
        _ahash_batches,
        schema=StructType(
            [StructField("doc_id", LongType()), StructField("ahash", LongType())]
        ),
    )
    hplan = _plan(hashed)
    assert hplan.count("MapInPandas") == 2
    assert "BatchEvalPython" not in hplan
    # full query: banded equality join + codegen bit_count verify
    df = mm_image_ahash(spark, sf_dir)
    df.count()
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "bit_count" in plan


def test_bigram_join_strategy_auto_selects(spark, sf_dir):
    """text_bigram_likelihood's conditional-table join-back must
    broadcast while the bigram vocabulary fits the budget and flip to
    a shuffle join above it — with IDENTICAL results either way
    (round-4 VERDICT #3: the fallback existed on paper only)."""
    from kachess_spark.pipeline.text import text_bigram_likelihood

    bcast = text_bigram_likelihood(spark, sf_dir)
    plan = _plan(bcast)
    assert "BroadcastHashJoin" in plan

    shuffled = text_bigram_likelihood(spark, sf_dir, broadcast_max_pairs=0)
    plan2 = _plan(shuffled)
    assert "ShuffledHashJoin" in plan2 or "SortMergeJoin" in plan2

    assert sorted(map(tuple, bcast.collect())) == sorted(
        map(tuple, shuffled.collect())
    )


def test_int8_quantize_no_shuffle_narrow(spark, sf_dir):
    """emb_int8_quantize: quantization is one codegen projection pass —
    no Exchange before the presentation sort, no Python eval."""
    from kachess_spark.pipeline.similarity import emb_int8_quantize

    df = emb_int8_quantize(spark, sf_dir)
    plan = _plan(df)
    assert "EvalPython" not in plan
    # the ONLY exchange is the rangepartitioning of the final orderBy
    import re

    exchanges = re.findall(r"Exchange (\w+)", plan)
    assert all(e == "rangepartitioning" for e in exchanges), exchanges


def test_int8_topk_broadcast_small_side(spark, sf_dir):
    """sim_int8_topk: the corpus is never collected — the ≤3-row probe
    side broadcasts (a deliberate small-side BNLJ, same contract as
    _probe_scores); integer dots stay in codegen."""
    from kachess_spark.pipeline.similarity import sim_int8_topk

    df = sim_int8_topk(spark, sf_dir)
    df.count()
    plan = _plan(df)
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    if "BroadcastNestedLoopJoin" in plan:
        # the build side must be the probe side (BuildRight after
        # qn.join(broadcast(probes)))
        assert "BuildRight" in plan


def test_int8_topk_recall_vs_float_exact(spark, sf_dir, duck):
    """int8 quantization must preserve retrieval quality: top-5 by
    quantized cosine vs top-5 by exact float cosine (sim_cosine_topk's
    DuckDB oracle), recall ≥ 0.8 averaged over the probe queries."""
    from kachess_spark.pipeline.similarity import (
        QUERY_IDS,
        TOP_K,
        sim_int8_topk,
    )
    from kachess_spark.registry import ORACLES

    got = sim_int8_topk(spark, sf_dir).toPandas()
    exact = duck.execute(ORACLES["sim_cosine_topk"]).df()
    hits = total = 0
    for qid in QUERY_IDS:
        g = set(got[got.qid == qid].vid)
        e = set(exact[exact.qid == qid].vid)
        hits += len(g & e)
        total += TOP_K
    assert hits / total >= 0.8, f"int8 recall {hits}/{total}"


def test_substring_run_no_cartesian_df_capped(spark, sf_dir):
    """dedup_substring_run's candidate stream: pair candidates come
    from the fingerprint equality join over df-capped postings — no
    cartesian, no Python; postings carry 64-bit fingerprints (not span
    strings) into the shuffle; and the cached postings' fp hash
    partitioning is REUSED by the df-count (round-13 regression guard:
    the old localCheckpoint reported UnknownPartitioning, silently
    re-exchanging the full postings on (fp, doc_id) in both self-join
    branches)."""
    import re

    from pyspark.sql import types as T

    from kachess_spark.pipeline.dedup import _diagonal_matches

    mm, posts = _diagonal_matches(spark, sf_dir)
    try:
        mm.count()
        plan = _plan(mm)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "EvalPython" not in plan
        # postings enter the shuffle as 64-bit fingerprints, not span
        # strings
        fields = {f.name: f.dataType for f in posts.schema.fields}
        assert fields["fp"] == T.LongType()
        # the df-count runs on the cache's fp partitioning: no
        # (fp, doc_id) re-exchange of the postings anywhere
        assert not re.search(r"hashpartitioning\(fp#\d+L, doc_id", plan)
    finally:
        posts.unpersist()


def test_substring_spans_merge_semantics(spark, sf_dir):
    """dedup_substring_spans: spans are maximal (no two spans of one
    doc overlap or touch), each is >= SUBRUN_MIN+2 words, and every
    span lies inside its document."""
    from pyspark.sql import functions as F

    from kachess_spark.catalog import Tables
    from kachess_spark.pipeline.dedup import SUBRUN_MIN, dedup_substring_spans

    df = dedup_substring_spans(spark, sf_dir)
    pdf = df.toPandas()
    assert (pdf.span_words >= SUBRUN_MIN + 2).all()
    assert (pdf.span_end - pdf.span_start + 1 == pdf.span_words).all()
    for _, g in pdf.groupby("doc_id"):
        g = g.sort_values("span_start")
        ends = g.span_end.shift(1)
        assert (g.span_start.iloc[1:] > ends.iloc[1:]).all(), "overlap"
    # spans fit inside the doc's word count (0-based end < n_words)
    words = (
        Tables(spark, sf_dir)
        .documents.select(
            "doc_id",
            F.size(
                F.split(
                    F.lower(
                        F.regexp_replace("text", "[^a-zA-Z0-9 ]", "")
                    ),
                    " ",
                )
            ).alias("n_words"),
        )
        .toPandas()
        .set_index("doc_id")
    )
    assert (
        pdf.span_end < words.loc[pdf.doc_id].n_words.values
    ).all(), "span exceeds document"
    assert (pdf.span_start >= 0).all()
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_cut_spans_breaks_substring_pairs(spark, sf_dir, tmp_path):
    """dedup_cut_spans (round-7 verdict #4): after excising the
    duplicated spans, re-running exact-substring detection on the
    CLEANED corpus finds no duplicate pair — the cut actually removes
    the shared passages (keep-first: doc_a keeps its text, doc_b's
    copy of the passage is gone, so no pa/pb diagonal of length >=
    SUBRUN_MIN survives).  Also pins conservation: kept words never
    exceed originals, docs without spans pass through verbatim."""
    import os

    from pyspark.sql import functions as F

    from kachess_spark.pipeline.dedup import (
        dedup_cut_spans,
        dedup_substring_run,
        dedup_substring_spans,
    )

    before = dedup_substring_run(spark, sf_dir)
    assert before.count() > 0, "fixture must contain substring dups"
    cut = dedup_cut_spans(spark, sf_dir).toPandas()
    assert (cut.n_kept <= cut.n_words).all()
    span_docs = {
        r["doc_id"]
        for r in dedup_substring_spans(spark, sf_dir)
        .select("doc_id")
        .distinct()
        .collect()
    }
    untouched = cut[~cut.doc_id.isin(span_docs)]
    assert (untouched.n_kept == untouched.n_words).all()
    assert (cut[cut.doc_id.isin(span_docs)].n_kept
            < cut[cut.doc_id.isin(span_docs)].n_words).all()

    # rebuild a documents table from the cleaned text and re-detect
    clean_sf = str(tmp_path / "clean_sf")
    os.makedirs(clean_sf)
    out = cut.rename(columns={"cleaned_text": "text"})[["doc_id", "text"]]
    out["lang"] = "en"
    out["source"] = "cut"
    out["n_chars"] = out.text.str.len().astype("int64")
    out.to_parquet(os.path.join(clean_sf, "documents.parquet"), index=False)
    after = dedup_substring_run(spark, clean_sf)
    assert after.count() == 0, after.limit(5).collect()


def test_keep_longest_one_survivor_per_component(spark, sf_dir):
    """dedup_keep_longest: exactly one keep=1 per component, and it is
    a maximal-length member."""
    from kachess_spark.pipeline.dedup import dedup_keep_longest

    pdf = dedup_keep_longest(spark, sf_dir).toPandas()
    per = pdf.groupby("component_id").agg(
        keeps=("keep", "sum"), mx=("n_chars", "max")
    )
    assert (per.keeps == 1).all()
    kept = pdf[pdf.keep == 1].set_index("component_id")
    assert (kept.n_chars == per.loc[kept.index].mx).all()


def test_source_overlap_report_shape(spark, sf_dir):
    """dedup_source_overlap: unordered source pairs (a <= b), positive
    pair counts, jaccard within [tau, 1]."""
    from kachess_spark.pipeline.dedup import (
        MINHASH_VERIFY_TAU,
        dedup_source_overlap,
    )

    pdf = dedup_source_overlap(spark, sf_dir).toPandas()
    assert (pdf.source_a <= pdf.source_b).all()
    assert (pdf.dup_pairs >= 1).all()
    assert (pdf.avg_jaccard >= MINHASH_VERIFY_TAU).all()
    assert (pdf.avg_jaccard <= 1.0).all()


def test_range_search_plan_and_certificate(spark, sf_dir, duck):
    """sim_range_search: candidates come from the LSH bucket join —
    no CartesianProduct, no Python eval — and the in-plan range_recall
    certificate is 1.0 on this fixture only if the kept set covers the
    exact range set (spot-checked against a brute-force DuckDB
    recompute, explode and SUM)."""
    from kachess_spark.pipeline.similarity import (
        QUERY_IDS,
        RANGE_TAU,
        sim_range_search,
    )

    df = sim_range_search(spark, sf_dir)
    rows = df.collect()
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan

    exact = set(
        duck.execute(
            f"""
            WITH d AS (
              SELECT vec_id AS vid, generate_subscripts(embedding, 1) AS pos,
                     CAST(unnest(embedding) AS DOUBLE) AS dv
              FROM embeddings
            ),
            q AS (SELECT vid AS qid, pos, dv AS qv FROM d WHERE vid IN {QUERY_IDS}),
            n AS (
              SELECT vid, SUM(CAST(dv * dv AS DECIMAL(28,14))) AS nn
              FROM d GROUP BY vid
            ),
            s AS (
              SELECT qid, vid, SUM(CAST(qv * dv AS DECIMAL(28,14))) AS dot
              FROM d JOIN q USING (pos) WHERE qid <> vid GROUP BY qid, vid
            )
            SELECT s.qid, s.vid FROM s
            JOIN n n1 ON n1.vid = s.vid JOIN n n2 ON n2.vid = s.qid
            WHERE ROUND(CAST(dot AS DOUBLE)
                        / sqrt(CAST(n1.nn AS DOUBLE) * CAST(n2.nn AS DOUBLE)),
                        6) >= {RANGE_TAU}
            """
        ).fetchall()
    )
    got = {(r["qid"], r["vid"]) for r in rows}
    assert got <= exact  # every kept row is truly in radius
    # the in-plan certificate equals the brute-force recall per query
    from collections import Counter

    tot = Counter(q for q, _ in exact)
    hit = Counter(q for q, _ in got)
    for r in rows:
        want = hit[r["qid"]] / tot[r["qid"]] if tot[r["qid"]] else 0.0
        assert abs(r["range_recall"] - want) < 1e-9


def test_fuzzy_join_lossless_candidates(spark, sf_dir):
    """join_fuzzy_editdist: the FastSS deletion-neighborhood join must
    find EXACTLY the brute-force all-pairs result (the candidate
    superset + exact verify is lossless), with no cartesian in the
    plan."""
    from pyspark.sql import functions as F

    from kachess_spark.catalog import Tables
    from kachess_spark.operators.joins import (
        _FUZZY_K,
        join_fuzzy_editdist,
    )

    df = join_fuzzy_editdist(spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan

    names = [
        r["name"]
        for r in Tables(spark, sf_dir)
        .part.select(F.col("p_name").alias("name"))
        .distinct()
        .collect()
    ]

    def ed(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(
                        prev[j] + 1,
                        cur[j - 1] + 1,
                        prev[j - 1] + (ca != cb),
                    )
                )
            prev = cur
        return prev[-1]

    want = {
        (a, b, ed(a, b))
        for a in names
        for b in names
        if a < b and ed(a, b) <= _FUZZY_K
    }
    got = {(r["name_a"], r["name_b"], r["dist"]) for r in df.collect()}
    assert got == want


def test_repetition_signals_single_pass_plan(spark, sf_dir):
    """text_repetition_signals: ONE corpus-sized exchange (the explicit
    doc_id repartition) + the deterministic-output range sort, and NO
    window/join/Python — the first cut branched three filtered joins
    off the gram counts and predicate pushdown through the repartition
    cloned the corpus exchange per branch (3x scan+explode)."""
    from kachess_spark.pipeline.text import text_repetition_signals

    df = text_repetition_signals(spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan
    assert "Window" not in plan
    assert "Join" not in plan
    # exactly one hash exchange (repartition) + one range (orderBy)
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Exchange rangepartitioning") == 1

    # content pin vs an independent Python recount of one document
    import collections

    from pyspark.sql import functions as F

    from kachess_spark.catalog import load_table

    row = (
        load_table(spark, sf_dir, "documents")
        .orderBy("doc_id")
        .limit(1)
        .collect()[0]
    )
    words = row["text"].split(" ")
    n_chars = len(row["text"])
    c2 = collections.Counter(
        " ".join(words[i : i + 2]) for i in range(len(words) - 1)
    )
    c3 = collections.Counter(
        " ".join(words[i : i + 3]) for i in range(len(words) - 2)
    )
    top_c, top_chars = 0, 0
    if c2:
        g = min(c2, key=lambda k: (-c2[k], -len(k), k))
        top_c, top_chars = c2[g], c2[g] * len(g)
    dupchars = sum(c * len(g) for g, c in c3.items() if c > 1)
    got = df.where(F.col("doc_id") == row["doc_id"]).collect()[0]
    assert got["top2gram_count"] == top_c
    assert got["top2gram_ppm"] == top_chars * 1_000_000 // n_chars
    assert got["dup3gram_ppm"] == dupchars * 1_000_000 // n_chars


def test_knn_descent_stages_no_cartesian(spark, sf_dir):
    """sim_knn_graph_descent's two stage shapes (the final plan is
    checkpoint-truncated, so assert the pieces): the md5-banded init is
    a (band, bucket) equality self-join and a refine round is edge-set
    self-joins — never a cartesian/all-pairs product.  Scoring runs in
    the Arrow kernel (MapInArrow), never a row-at-a-time Python UDF
    (no EvalPython)."""
    from kachess_spark.catalog import Tables
    from kachess_spark.pipeline.similarity import (
        KNN_DESCENT_K,
        _exact_cosine_edges,
        _knn_refine_round,
        _knn_topk,
        _md5_band_pairs,
    )

    emb = Tables(spark, sf_dir).embeddings.select("vec_id", "embedding")
    n = emb.count()
    init_scored = _exact_cosine_edges(emb, _md5_band_pairs(emb, n, "knnd"))
    plan = _plan(init_scored)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan

    topk = _knn_topk(init_scored, k=KNN_DESCENT_K).localCheckpoint(
        eager=False
    )
    rplan = _plan(_knn_refine_round(spark, emb, topk, k=KNN_DESCENT_K))
    assert "CartesianProduct" not in rplan
    assert "BroadcastNestedLoopJoin" not in rplan
    assert "EvalPython" not in rplan


def test_serve_incremental_stages_no_cartesian(spark, sf_dir):
    """sim_graph_serve_incremental's unbounded-volume stages (the
    delta banding pair join and the restricted settle round) must be
    equality joins — never cartesian — scored by the Arrow kernel
    (MapInArrow), never EvalPython.  (The placement walk's crossJoin
    with the broadcast entry set is BOUNDED by gs_entry_count and
    intentional, same as the serving walk's.)"""
    from kachess_spark.catalog import Tables
    from kachess_spark.pipeline.similarity import (
        KNN_DESCENT_K,
        _exact_cosine_edges,
        _hop_candidates,
        _knn_topk,
        _md5_band_pairs,
        _undirected,
    )

    emb = Tables(spark, sf_dir).embeddings.select("vec_id", "embedding")
    n = emb.count()
    pairs = _exact_cosine_edges(emb, _md5_band_pairs(emb, n, "knndinc"))
    plan = _plan(pairs)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan
    # a restricted settle round: the maintainer's candidate builder over
    # the current graph, restricted to a dirty source set
    from pyspark.sql import functions as F

    topk = _knn_topk(pairs, k=KNN_DESCENT_K).localCheckpoint(eager=False)
    dirty = F.broadcast(emb.select(F.col("vec_id").alias("src")).limit(50))
    cands = _hop_candidates(_undirected(topk), dirty).distinct()
    rplan = _plan(_knn_topk(_exact_cosine_edges(emb, cands), k=KNN_DESCENT_K))
    assert "CartesianProduct" not in rplan
    assert "BroadcastNestedLoopJoin" not in rplan
    assert "EvalPython" not in rplan


def test_spread_gate(spark, sf_dir, tmp_path):
    """catalog.spread: a one-file scan gets ONE cores-wide exchange; a
    scan already split at least once per core comes back unchanged; a
    frame whose plan holds an exchange is spread without reading its
    split count, so no call starts a Spark job."""
    import re

    from kachess_spark.catalog import spread, table_path

    sc = spark.sparkContext
    cores = sc.defaultParallelism

    def job_ids() -> set[int]:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(sc.statusTracker().getJobIdsForGroup(None))

    docs = spark.read.parquet(table_path(sf_dir, "documents"))
    wide_dir = str(tmp_path / "wide")
    docs.repartition(cores).write.parquet(wide_dir)
    wide = spark.read.parquet(wide_dir)
    grouped = docs.groupBy("lang").count()

    before = job_ids()
    one_split = spread(docs, "doc_id")
    unchanged = spread(wide, "doc_id")
    shuffled = spread(grouped)
    assert job_ids() == before

    exchanges = re.findall(r"Exchange (\w+)\(.*?(\d+)\)", _plan(one_split))
    assert exchanges == [("hashpartitioning", str(cores))]
    assert unchanged is wide
    assert f"RoundRobinPartitioning({cores})" in _plan(shuffled)
