"""Unit pins for the round-10 continuation operators:

- text_unicode_normalize: NFC probe semantics + the DuckDB/Python
  Unicode-version parity assumption the oracle rests on;
- win_rolling_median: hand-computed 7-row trailing medians;
- pipeline_sized_shards: partition/contiguity/fill invariants vs the
  corpus, independent of the oracle.
"""

from __future__ import annotations

import hashlib
import unicodedata

import duckdb
import pytest


def test_unicode_probe_nfc_parity_duckdb_vs_python():
    """The oracle assumes DuckDB's nfc_normalize == Python unicodedata
    NFC (both UAX #15).  Pin it on the probe set so a container upgrade
    that splits Unicode versions fails HERE, not as a driver hash
    mismatch."""
    from kachess_spark.pipeline.text import _UNICODE_PROBES

    con = duckdb.connect()
    for _, s in _UNICODE_PROBES:
        if s is None:
            continue
        dd = con.execute("SELECT nfc_normalize(?)", [s]).fetchone()[0]
        assert dd == unicodedata.normalize("NFC", s), repr(s)


def test_unicode_normalize_probe_semantics(spark, sf_dir):
    from kachess_spark.pipeline.text import text_unicode_normalize

    got = {
        r["doc_id"]: r.asDict()
        for r in text_unicode_normalize(spark, sf_dir)
        .where("doc_id < 0")
        .collect()
    }
    assert set(got) == {-1, -2, -3, -4, -5, -6, -7}
    # -1: decomposed e+acute (len 10) composes to é (len 9)
    assert (got[-1]["n_before"], got[-1]["n_after"]) == (10, 9)
    assert got[-1]["changed"] is True
    assert got[-1]["norm_fp"] == hashlib.md5(
        "café menu".encode()
    ).hexdigest()
    # -3: already composed — byte-identical passthrough
    assert got[-3]["changed"] is False
    assert got[-3]["n_before"] == got[-3]["n_after"]
    # -4: C0 controls become spaces (no runs created here beyond 1)
    assert got[-4]["norm_fp"] == hashlib.md5(
        b"bell and controls"
    ).hexdigest()
    # -5: space runs collapse
    assert got[-5]["norm_fp"] == hashlib.md5(b"many spaces here").hexdigest()
    assert got[-5]["n_after"] == len("many spaces here")
    # -6: o + diaeresis + macron composes to a single code point
    assert got[-6]["n_before"] - got[-6]["n_after"] == 2
    # -7: NULL text propagates NULLs, changed is false (null-safe eq)
    assert got[-7]["n_before"] is None
    assert got[-7]["norm_fp"] is None
    assert got[-7]["changed"] is False


def test_unicode_normalize_corpus_rows_pass_through(spark, sf_dir):
    """The ASCII fixture corpus must come through unchanged (changed
    is false for every doc_id >= 0) — normalization must never touch
    already-clean text."""
    from kachess_spark.pipeline.text import text_unicode_normalize

    df = text_unicode_normalize(spark, sf_dir)
    n_changed = df.where("doc_id >= 0 AND changed").count()
    assert n_changed == 0


def test_rolling_median_hand_case(spark, tmp_path):
    """7-row trailing median over a known sequence, one key."""
    import pyspark.sql.functions as F  # noqa: F401

    rows = [(1, i, 1, float(q)) for i, q in enumerate([1, 9, 5, 3, 7, 2, 8, 4])]
    df = spark.createDataFrame(
        rows, "l_suppkey long, l_orderkey long, l_linenumber int, l_quantity double"
    )
    path = str(tmp_path / "lineitem.parquet")
    df.write.mode("overwrite").parquet(path)

    from kachess_spark.operators.windows import win_rolling_median

    got = [
        r["med2"]
        for r in win_rolling_median(spark, str(tmp_path)).collect()
    ]
    # trailing-7 windows of [1,9,5,3,7,2,8,4]:
    # [1]=1.0*2; [1,9]=5*2; [1,9,5]=5*2; [1,9,5,3]=4*2; [1,9,5,3,7]=5*2;
    # [1,9,5,3,7,2]=4*2; [1,9,5,3,7,2,8]=5*2; [9,5,3,7,2,8,4]=5*2
    assert got == [2, 10, 10, 8, 10, 8, 10, 10]


def test_sized_shards_partition_invariants(spark, sf_dir, duck):
    from kachess_spark.pipeline.curation import (
        _SHARD_TARGET_BYTES,
        pipeline_sized_shards,
    )

    shards = pipeline_sized_shards(spark, sf_dir).collect()
    n_docs, total = duck.execute(
        "SELECT count(*), sum(n_chars) FROM documents"
    ).fetchone()
    # exact partition of the corpus
    assert sum(r["n_docs"] for r in shards) == n_docs
    assert sum(r["shard_bytes"] for r in shards) == total
    # shards are contiguous, disjoint doc_id ranges in order
    for prev, cur in zip(shards, shards[1:]):
        assert prev["last_doc"] < cur["first_doc"]
    # next-fit by offset: a shard only ends when the cumulative offset
    # crosses its boundary, so every shard but the last holds at least
    # target − (max straddle) bytes, where the straddle is bounded by
    # the largest single document
    max_doc = duck.execute("SELECT max(n_chars) FROM documents").fetchone()[0]
    for r in shards[:-1]:
        assert r["shard_bytes"] > _SHARD_TARGET_BYTES - max_doc, r
    assert all(r["n_docs"] >= 1 for r in shards)


@pytest.mark.parametrize("name", [
    "text_unicode_normalize", "win_rolling_median", "pipeline_sized_shards",
    "sim_knn_graph", "sim_knn_graph_ivf", "emb_random_projection",
    "mm_scene_cut", "mm_audio_vad_segments", "ts_seasonal_decompose",
    "pipeline_snapshot_diff",
])
def test_round10b_ops_registered_with_oracles(name):
    from kachess_spark import registry

    registry.load_all()
    assert name in registry.QUERIES
    assert name in registry.ORACLES


# ------------------------------------------------------ sim_knn_graph


def test_knn_n_planes_occupancy_scaling():
    """Bucket space must grow with the corpus: expected occupancy
    n / 2^planes stays within 2x of the target at every octave."""
    from kachess_spark.pipeline.similarity import (
        KNN_TARGET_BUCKET,
        N_PLANES,
        knn_n_planes,
    )

    assert knn_n_planes(10) == N_PLANES
    assert knn_n_planes(500) == N_PLANES
    for n in (1_000, 10_000, 100_000, 10_000_000):
        p = knn_n_planes(n)
        assert n / (1 << p) <= KNN_TARGET_BUCKET  # never denser than target
        assert p >= N_PLANES


def test_knn_graph_recall_vs_brute_force(spark, sf_dir):
    """Recall@KNN_K of the LSH-gated graph vs numpy brute force.  The
    gate is candidate generation only — missed edges are the LSH
    recall loss, bounded here."""
    import numpy as np

    from kachess_spark.catalog import Tables
    from kachess_spark.pipeline.similarity import KNN_K, sim_knn_graph

    got = sim_knn_graph(spark, sf_dir).collect()
    rows = (
        Tables(spark, sf_dir)
        .embeddings.select("vec_id", "embedding")
        .collect()
    )
    ids = np.array([r["vec_id"] for r in rows])
    m = np.array([r["embedding"] for r in rows], dtype=np.float64)
    m = m / np.linalg.norm(m, axis=1, keepdims=True)
    sims = m @ m.T
    np.fill_diagonal(sims, -np.inf)
    truth: dict[int, set[int]] = {}
    for i, vid in enumerate(ids):
        order = np.lexsort((ids, -sims[i]))[:KNN_K]
        truth[int(vid)] = {int(ids[j]) for j in order}
    by_src: dict[int, set[int]] = {}
    for r in got:
        by_src.setdefault(r["src"], set()).add(r["dst"])
    assert set(by_src) == set(truth)  # every node got edges
    hits = sum(len(by_src[v] & truth[v]) for v in truth)
    recall = hits / (len(truth) * KNN_K)
    assert recall >= 0.60, recall  # LSH floor; RECALL.md tracks exact value


def test_knn_graph_plan_no_all_pairs(spark, sf_dir):
    """The candidate self-join must be a hash join on (band, bucket) —
    never a cartesian/nested-loop product, never Python row-at-a-time."""
    from kachess_spark.pipeline.similarity import sim_knn_graph

    df = sim_knn_graph(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan


# ----------------------------------------------- emb_random_projection


def test_random_projection_jl_distortion(spark, sf_dir):
    """JL property: the 1/sqrt(RP_DIM)-scaled ±1 projection roughly
    preserves squared norms — mean ratio near 1, individual ratios
    inside wide distortion bounds (64 -> 16 dims gives ~25% std)."""
    import numpy as np

    from kachess_spark.catalog import Tables
    from kachess_spark.pipeline.similarity import (
        emb_random_projection,
    )

    proj = emb_random_projection(spark, sf_dir).collect()
    by_vec: dict[int, dict[int, float]] = {}
    for r in proj:
        by_vec.setdefault(r["vec_id"], {})[r["out_dim"]] = (
            r["comp_q"] / 1e6
        )
    rows = (
        Tables(spark, sf_dir)
        .embeddings.select("vec_id", "embedding")
        .collect()
    )
    ratios = []
    for r in rows:
        x = np.array(r["embedding"], dtype=np.float64)
        p = np.array(
            [by_vec[r["vec_id"]][j] for j in sorted(by_vec[r["vec_id"]])]
        )
        nx = float(x @ x)
        if nx > 0:
            ratios.append(float(p @ p) / nx)
    ratios = np.array(ratios)
    assert abs(ratios.mean() - 1.0) < 0.15, ratios.mean()
    assert (np.percentile(ratios, 2.5) > 0.25) and (
        np.percentile(ratios, 97.5) < 2.5
    )


def test_random_projection_deterministic_signs():
    """The sign matrix is a pure function of (out_dim, pos) — stable
    across processes/clusters (md5-derived, no RNG state)."""
    from kachess_spark.pipeline.similarity import RP_DIM, _rp_signs

    a = [_rp_signs(j, 64) for j in range(RP_DIM)]
    b = [_rp_signs(j, 64) for j in range(RP_DIM)]
    assert a == b
    flat = [s for row in a for s in row]
    # balanced-ish signs (md5 first hex digit is uniform)
    frac_pos = sum(1 for s in flat if s > 0) / len(flat)
    assert 0.35 < frac_pos < 0.65


# --------------------------------------- mm_scene_cut / ts_seasonal


def test_scene_cut_matches_python_recompute(spark, sf_dir, duck):
    from kachess_spark.pipeline.multimodal import _CUT_THRESHOLD
    from kachess_spark.pipeline.multimodal import mm_scene_cut

    got = {r["doc_id"]: r.asDict() for r in mm_scene_cut(spark, sf_dir).collect()}
    vids = duck.execute(
        "SELECT doc_id, octet_length(encode(text)) % 120 + 1 AS nf"
        " FROM documents WHERE doc_id % 3 = 2"
    ).fetchall()
    assert set(got) == {d for d, _ in vids}
    for doc_id, nf in vids:
        sigs = [(doc_id * 37 + i * 97) % 256 for i in range(nf)]
        cuts = [
            i
            for i in range(1, nf)
            if abs(sigs[i] - sigs[i - 1]) > _CUT_THRESHOLD
        ]
        r = got[doc_id]
        assert r["n_frames"] == nf
        assert r["n_cuts"] == len(cuts)
        assert r["first_cut"] == (cuts[0] if cuts else None)


def test_seasonal_decompose_matches_python_recompute(spark, sf_dir, duck):
    import math

    from kachess_spark.streaming.windows import (
        _SEAS_HALF,
        ts_seasonal_decompose,
    )

    got = {
        (r["event_type"], r["hr"]): (r["n"], r["detrended_sum_q"])
        for r in ts_seasonal_decompose(spark, sf_dir).collect()
    }
    rows = duck.execute(
        "SELECT event_type, ts, event_id, value FROM events"
        " ORDER BY event_type, ts, event_id"
    ).fetchall()
    W = 2 * _SEAS_HALF + 1
    by_type: dict[str, list] = {}
    for et, ts, eid, val in rows:
        by_type.setdefault(et, []).append((ts, math.floor(val * 10000 + 0.5)))
    want: dict[tuple, list] = {}
    for et, seq in by_type.items():
        for i in range(_SEAS_HALF, len(seq) - _SEAS_HALF):
            ts, vi = seq[i]
            num = sum(v for _, v in seq[i - _SEAS_HALF : i + _SEAS_HALF + 1])
            want.setdefault((et, ts.hour), []).append(vi * W - num)
    want_agg = {k: (len(v), sum(v)) for k, v in want.items()}
    assert got == want_agg


def test_unicode_normalize_plan_is_arrow_vectorized(spark, sf_dir):
    """The NFC step must run as an Arrow-batched pandas_udf
    (ArrowEvalPython), never row-at-a-time Python (BatchEvalPython),
    and the plan needs no corpus shuffle before it."""
    from kachess_spark.pipeline.text import text_unicode_normalize

    df = text_unicode_normalize(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_snapshot_diff_counts_reconcile(spark, sf_dir, duck):
    """The four statuses must exactly partition old ∪ new: |removed| +
    |changed| + |unchanged| = |old|, |added| + |changed| + |unchanged|
    = |new|."""
    from kachess_spark.pipeline.curation import (
        _SNAP_ADD,
        _SNAP_DROP,
        pipeline_snapshot_diff,
    )

    got = {
        r["status"]: r["n_docs"]
        for r in pipeline_snapshot_diff(spark, sf_dir).collect()
    }
    n_old = duck.execute("SELECT count(*) FROM documents").fetchone()[0]
    n_kept = duck.execute(
        f"SELECT count(*) FROM documents WHERE doc_id % {_SNAP_DROP} <> 3"
    ).fetchone()[0]
    n_added = duck.execute(
        f"SELECT count(*) FROM documents WHERE doc_id % {_SNAP_ADD} = 2"
    ).fetchone()[0]
    assert got.get("removed", 0) + got.get("changed", 0) + got.get(
        "unchanged", 0
    ) == n_old
    assert got.get("added", 0) + got.get("changed", 0) + got.get(
        "unchanged", 0
    ) == n_kept + n_added
    assert got.get("added", 0) == n_added


def test_knn_graph_ivf_structure(spark, sf_dir, tmp_path):
    """Stored-IVF graph: every node gets exactly KNN_K edges (cells are
    far larger than K at every fixture sf), ranks are 1..K, and no
    self-edges."""
    from kachess_spark.pipeline.similarity import (
        KNN_K,
        build_ivf_index,
        sim_knn_graph_ivf,
    )

    idx = build_ivf_index(spark, sf_dir, index_dir=str(tmp_path / "ivf_idx"))
    got = sim_knn_graph_ivf(spark, sf_dir, index_dir=idx).collect()
    by_src: dict[int, list] = {}
    for r in got:
        assert r["src"] != r["dst"]
        by_src.setdefault(r["src"], []).append(r["rk"])
    assert all(sorted(v) == list(range(1, KNN_K + 1)) for v in by_src.values())


def test_vad_segments_match_python_recompute(spark, sf_dir, duck):
    """Independent pure-Python replay of the whole VAD chain (PCM16
    reinterpretation, frame energies, threshold, island merge)."""
    import struct

    from kachess_spark.pipeline.multimodal import (
        _VAD_ENERGY_T,
        _VAD_FRAME,
        mm_audio_vad_segments,
    )

    got = {
        r["doc_id"]: r.asDict()
        for r in mm_audio_vad_segments(spark, sf_dir).collect()
    }
    rows = duck.execute(
        "SELECT doc_id, text FROM documents WHERE doc_id % 3 = 1"
    ).fetchall()
    checked = 0
    for doc_id, text in rows:
        b = text.encode()
        usable = len(b) - (len(b) % 2)
        samples = struct.unpack(f"<{usable // 2}h", b[:usable])
        nf = len(samples) // _VAD_FRAME
        if nf == 0:
            assert doc_id not in got
            continue
        energies = [
            sum(s * s for s in samples[i * _VAD_FRAME : (i + 1) * _VAD_FRAME])
            for i in range(nf)
        ]
        active = [i for i, e in enumerate(energies) if e > _VAD_ENERGY_T]
        segs = []
        for i in active:
            if segs and i == segs[-1][-1] + 1:
                segs[-1].append(i)
            else:
                segs.append([i])
        r = got[doc_id]
        assert r["n_frames"] == nf
        assert r["n_active"] == len(active)
        assert r["n_segments"] == len(segs)
        assert r["longest_segment"] == (max(len(s) for s in segs) if segs else 0)
        assert r["first_active"] == (segs[0][0] if segs else None)
        checked += 1
    assert checked > 50  # non-vacuous: most audio docs have >= 1 frame
