from __future__ import annotations

import pytest


def test_entry_returns_rows(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"o_key", "revenue", "orderdate", "priority"}


def test_arrow_path_from_foreign_cwd(tmp_path, sf_dir):
    """A driver started outside the checkout, on a vanilla session that
    only went through tune_for_session, runs an Arrow path: the Python
    workers import kachess_spark from the package's own directory, not
    from the cwd."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    src = f"""
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
from kachess_spark.catalog import Tables
from kachess_spark.pipeline.similarity import _emb_with_norms
from kachess_spark.session import tune_for_session
spark = tune_for_session(SparkSession.builder.master("local[2]").getOrCreate())
emb = Tables(spark, {sf_dir!r}).embeddings
print("ROWS", _emb_with_norms(emb).count(), emb.count())
keys = ("spark.sql.session.timeZone", "spark.sql.legacy.parquet.nanosAsLong")
print("MODIFIABLE", *(spark.conf.isModifiable(k) for k in keys))
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", src],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    (line,) = [x for x in out.stdout.splitlines() if x.startswith("ROWS")]
    _, got, want = line.split()
    assert got == want != "0"
    # the package sets both confs on the driver's session and lets a
    # failed set raise: on a vanilla session both are runtime confs
    assert "MODIFIABLE True True" in out.stdout.splitlines()


def test_barrier_checkpoint_dir_keeps_rows(tmp_path, sf_dir):
    """With a checkpoint dir set, ``catalog.barrier`` writes reliable
    checkpoints there and the rows are the local barriers' rows: the
    eager PageRank loop and the lazy triangle-count reuse.  Its own
    session, so the shared test session never holds a checkpoint dir."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ckpt = tmp_path / "ckpt"
    src = f"""
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
from kachess_spark.operators.pagerank import graph_pagerank_trade, graph_triangle_count
from kachess_spark.session import tune_for_session
spark = tune_for_session(SparkSession.builder.master("local[2]").getOrCreate())
def rows():
    return [sorted(map(tuple, q(spark, {sf_dir!r}).collect()))
            for q in (graph_pagerank_trade, graph_triangle_count)]
local = rows()
spark.sparkContext.setCheckpointDir({str(ckpt)!r})
print("SAME", rows() == local, all(local))
"""
    out = subprocess.run(
        [sys.executable, "-c", src],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "SAME True True" in out.stdout.splitlines()
    written = [f for _, _, files in os.walk(ckpt) for f in files]
    assert any(f.startswith("part-") for f in written)


def test_every_query_has_callable(spark):
    import __spark_entry__ as e

    qs = e.queries()
    oracles = e.oracle_sql()
    assert len(qs) >= 70
    assert set(oracles) <= set(qs)
    for name, fn in qs.items():
        assert callable(fn), name


def test_ann_lsh_recall(spark, sf_dir):
    """ANN candidates must be a subset of plausible neighbors and
    non-empty at sf >= 0.001 (recall vs brute force is corpus-dependent;
    we assert the mechanics: every returned pair shares a bucket and
    scores match brute force where present)."""
    from pyspark.sql import functions as F

    from kachess_spark.pipeline.similarity import QUERY_IDS, sim_ann_lsh, sim_cosine_topk

    ann = sim_ann_lsh(spark, sf_dir).collect()
    brute = {
        (r["qid"], r["vid"]): r["cosine"]
        for r in sim_cosine_topk(spark, sf_dir).collect()
    }
    assert {r["qid"] for r in ann} <= set(QUERY_IDS)
    for r in ann:
        if (r["qid"], r["vid"]) in brute:
            assert abs(brute[(r["qid"], r["vid"])] - r["cosine"]) < 1e-9
    # POPULATION recall floor (round-11 ask #2: the fixed-probe floors
    # were bias-prone — RECALL.md "Round-10 probe-bias correction");
    # md5-random probes, fully deterministic chain → stable gate.
    # Measured 0.92 at sf0.001/50 probes.
    from tools.population_recall import population_recall

    assert (
        population_recall(spark, sf_dir, sim_ann_lsh, 40, "cosine") >= 0.8
    )


def test_ann_bands_sizing():
    """ann_n_bands: base at the tuned corpus size, +8 per doubling,
    capped — monotone and bounded."""
    from kachess_spark.pipeline.similarity import (
        ANN_MAX_BANDS,
        ann_n_bands,
    )

    assert ann_n_bands(100) == 16
    assert ann_n_bands(500) == 16
    assert ann_n_bands(1000) == 24
    assert ann_n_bands(2000) == 32
    assert ann_n_bands(10**9) == ANN_MAX_BANDS
    prev = 0
    for n in (1, 10, 500, 600, 2000, 10**5, 10**7):
        cur = ann_n_bands(n)
        assert cur >= prev
        prev = cur


def test_ivf_recall(spark, sf_dir):
    """IVF probe must return results overlapping brute-force top-k for
    each query (cells are coarse; at least the easy neighbors agree)."""
    from kachess_spark.pipeline.similarity import (
        QUERY_IDS,
        TOP_K,
        sim_cosine_topk,
        sim_ivf_topk,
    )

    exact = {
        (r.qid, r.vid) for r in sim_cosine_topk(spark, sf_dir).collect()
    }
    approx = {(r.qid, r.vid) for r in sim_ivf_topk(spark, sf_dir).collect()}
    assert approx  # non-empty per corpus
    # every query returns <= TOP_K rows and they are valid pairs
    assert all(q in QUERY_IDS for q, _ in approx)
    per_q = {}
    for q, v in approx:
        per_q.setdefault(q, set()).add(v)
    assert all(len(vs) <= TOP_K for vs in per_q.values())
    # some overlap with exact top-k overall
    assert exact & approx


def test_partition_introspection_helpers(spark):
    """MAX_PART_*/MIN_PART_*/PART_COUNT/PART_LOC catalog helpers (Bingql.g4:1422-1429)
    answer from SHOW PARTITIONS / DESCRIBE metadata, multi-level specs
    included."""
    import shutil
    from datetime import date
    from urllib.parse import urlparse

    from kachess_spark.functions import partitions as P

    spark.sql("DROP TABLE IF EXISTS kch_pt_test")
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    shutil.rmtree(f"{wh}/kch_pt_test", ignore_errors=True)
    spark.createDataFrame(
        [(1, "2024-01-01", 5), (2, "2024-02-03", 5), (3, "2024-01-15", 7)],
        "id int, dt string, hr int",
    ).write.mode("overwrite").partitionBy("dt", "hr").format(
        "parquet"
    ).saveAsTable("kch_pt_test")
    assert str(P.max_part_date(spark, "kch_pt_test", "dt")) == "2024-02-03"
    assert P.min_part_string(spark, "kch_pt_test", "dt") == "2024-01-01"
    assert P.max_part_int(spark, "kch_pt_test", "hr") == 7
    assert P.min_part_int(spark, "kch_pt_test", "hr") == 5
    assert P.min_part_date(spark, "kch_pt_test", "dt") == date(2024, 1, 1)
    assert P.part_count(spark, "kch_pt_test") == 3
    loc = P.part_loc(spark, "kch_pt_test", {"dt": "2024-01-01", "hr": "5"})
    assert loc and loc.endswith("dt=2024-01-01/hr=5")
    spark.sql("DROP TABLE kch_pt_test")


def test_ivf_kmeans_recall(spark, sf_dir):
    """k-means-trained IVF must recover most brute-force neighbors at
    the test corpus size (deterministic training: seeded centroids,
    DECIMAL means), and only emit valid query ids."""
    from kachess_spark.pipeline.similarity import (
        QUERY_IDS,
        sim_cosine_topk,
        sim_ivf_kmeans_topk,
    )

    exact = {(r.qid, r.vid) for r in sim_cosine_topk(spark, sf_dir).collect()}
    approx = {
        (r.qid, r.vid) for r in sim_ivf_kmeans_topk(spark, sf_dir).collect()
    }
    assert approx
    assert all(q in QUERY_IDS for q, _ in approx)
    # POPULATION recall floor (round-11 ask #2): md5-random probes —
    # the old QUERY_IDS floor coincided with seed centroids and read
    # ~2x the true recall.  Measured 0.464 at sf0.001/50 probes.
    from tools.population_recall import population_recall

    assert (
        population_recall(spark, sf_dir, sim_ivf_kmeans_topk, 40, "cosine")
        >= 0.35
    )


def test_count_min_sketch_bounds(spark, sf_dir):
    """CMS guarantee: exact <= estimate <= exact + eps*N (eps=0.001,
    overwhelming probability at delta=0.99)."""
    from pyspark.sql import functions as F

    from kachess_spark.catalog import load_table
    from kachess_spark.operators.aggregates import agg_count_min_sketch

    est = {
        r["user_id"]: r["est_count"]
        for r in agg_count_min_sketch(spark, sf_dir, certify=False).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    exact = {
        r["user_id"]: r["cnt"]
        for r in ev.groupBy("user_id").agg(F.count("*").alias("cnt")).collect()
    }
    n = sum(exact.values())
    for k, e in est.items():
        true = exact.get(k, 0)
        assert true <= e <= true + max(1, int(0.001 * n) + 1)


def test_hll_sketch_union_accuracy(spark, sf_dir):
    """Persisted-sketch estimates (per segment AND merged) must land
    within 2% of the exact distinct counts — lgK=14 gives ~0.4% RSE."""
    from pyspark.sql import functions as F

    from kachess_spark.catalog import load_table
    from kachess_spark.operators.aggregates import agg_hll_sketch_union

    got = {
        r["event_type"]: r["approx_users"]
        for r in agg_hll_sketch_union(spark, sf_dir, certify=False).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    exact["ALL"] = ev.select("user_id").distinct().count()
    assert set(got) == set(exact)
    for k, est in got.items():
        assert abs(est - exact[k]) <= max(1, 0.02 * exact[k]), (k, est, exact[k])


def test_pq_adc_recall(spark, sf_dir):
    """PQ shortlist + exact re-rank must recover most of the true L2
    top-5 (deterministic pipeline: no RNG anywhere, so this is a stable
    bound, not a flaky stochastic one)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyspark.sql.functions import broadcast

    from kachess_spark.catalog import Tables
    from kachess_spark.pipeline.similarity import (
        PDEC,
        QUERY_IDS,
        TOP_K,
        _exploded,
        sim_pq_adc_topk,
    )

    got = sim_pq_adc_topk(spark, sf_dir).collect()
    t = Tables(spark, sf_dir)
    emb = t.embeddings.select("vec_id", "embedding")
    d = _exploded(emb, "vid", "dv")
    q = _exploded(emb.where(F.col("vec_id").isin(*QUERY_IDS)), "qid", "qv")
    dist = (
        d.join(broadcast(q), "pos")
        .groupBy("qid", "vid")
        .agg(
            F.sum(
                ((F.col("qv") - F.col("dv")) * (F.col("qv") - F.col("dv"))).cast(PDEC)
            ).alias("d2")
        )
        .where(F.col("qid") != F.col("vid"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("d2").asc(), F.col("vid"))
    exact = (
        dist.select("qid", "vid", F.row_number().over(w).alias("rk"))
        .where(F.col("rk") <= TOP_K)
        .collect()
    )
    ex, gt = {}, {}
    for r in exact:
        ex.setdefault(r["qid"], set()).add(r["vid"])
    for r in got:
        gt.setdefault(r["qid"], set()).add(r["vid"])
    total = sum(len(ex[k] & gt.get(k, set())) for k in ex)
    assert total >= 9, (total, {k: len(ex[k] & gt.get(k, set())) for k in ex})
    # POPULATION recall floor (round-11 ask #2): md5-random probes, L2
    # truth.  Measured 0.74 at sf0.001/50 probes.
    from tools.population_recall import population_recall

    assert (
        population_recall(spark, sf_dir, sim_pq_adc_topk, 40, "l2") >= 0.6
    )


def test_real_image_decode_kernel(spark):
    """Real-dimensions path, no PIL required: a genuine PNG payload
    (stdlib tiny_png writer) yields its true dimensions through the same
    mapInPandas kernel the stub path uses — via PIL where installed,
    header sniff otherwise.  Non-image payloads keep the deterministic
    fallback."""
    import pandas as pd

    from kachess_spark.pipeline.multimodal import (
        _decode_batches,
        sniff_image_dims,
        tiny_png,
        try_real_decode,
    )

    png = tiny_png(37, 21)
    assert sniff_image_dims(png) == (37, 21)
    try:  # where PIL exists, it must agree with the sniffer
        import PIL.Image  # noqa: F401

        assert try_real_decode(png) == (37, 21)
    except ImportError:
        pass
    batch = pd.DataFrame(
        {
            "doc_id": [1, 2],
            "kind": ["image", "image"],
            "n_bytes": [len(png), 5],
            "payload": [png, b"not an image"],
        }
    )
    out = pd.concat(list(_decode_batches(iter([batch]))))
    real = out[out.doc_id == 1].iloc[0]
    fake = out[out.doc_id == 2].iloc[0]
    assert (real["width"], real["height"]) == (37, 21)
    assert (fake["width"], fake["height"]) == (5 % 640 + 16, 5 % 480 + 16)


def test_emb_sign_bits_sizing():
    """Bucket-width rule: bits grow with the corpus so expected bucket
    size stays ~_TARGET_BUCKET (the fix for the fixed-256-bucket
    quadratic blowup flagged in VERDICT r1)."""
    from kachess_spark.pipeline.dedup import emb_sign_bits

    assert emb_sign_bits(500) == 8  # test corpus → oracle's 8 bits
    assert emb_sign_bits(2_048) == 8  # largest n on the oracle's width
    assert emb_sign_bits(8_192) == 10
    assert emb_sign_bits(65_536) == 13
    assert emb_sign_bits(1_000_000) == 17
    assert emb_sign_bits(1_000_000_000) == 27
    assert emb_sign_bits(10**15) == 47
    assert emb_sign_bits(10**22) == 63  # capped at dim-1 sign components


def test_emb_cosine_wider_buckets_subset(spark, sf_dir):
    """More sign bits refine buckets: the surviving pair set must be a
    subset of the 8-bit pair set (verified pairs only drop, never
    appear, as buckets split)."""
    from kachess_spark.pipeline.dedup import dedup_embedding_cosine

    base = {
        (r["vec_a"], r["vec_b"])
        for r in dedup_embedding_cosine(spark, sf_dir, sign_bits=8).collect()
    }
    wide = {
        (r["vec_a"], r["vec_b"])
        for r in dedup_embedding_cosine(spark, sf_dir, sign_bits=12).collect()
    }
    assert wide <= base
    assert base  # non-trivial at test scale


def _oracle_query_names():
    from kachess_spark import registry

    registry.load_all()
    return sorted(registry.ORACLES)


@pytest.mark.slow  # >=20 s measured; excluded from the default gate run (pytest.ini)
def test_no_uncanonicalizable_output_types(spark, sf_dir):
    """Canonicalization guard (VERDICT r1 item 2): the external driver
    hash-compares stringified cell values, and DECIMAL stringification
    differs between Spark and DuckDB while ARRAY/MAP cells are
    unhashable in its pandas sort.  Every oracle-bearing query must
    therefore emit only canonicalization-safe leaf types — exact
    decimal math stays internal, the *final* projection casts to
    double/string.  Rows-only queries (sketches etc.) are exempt.
    """
    from pyspark.sql import types as T

    from kachess_spark import registry

    banned = (T.DecimalType, T.ArrayType, T.MapType, T.StructType)
    offenders = []
    for name in _oracle_query_names():
        try:
            schema = registry.QUERIES[name](spark, sf_dir).schema
        except Exception as exc:  # schema must at least be buildable
            offenders.append(f"{name}: failed to build ({exc})")
            continue
        for field in schema.fields:
            if isinstance(field.dataType, banned):
                offenders.append(
                    f"{name}.{field.name}: {field.dataType.simpleString()}"
                )
    assert not offenders, (
        "oracle-bearing queries with driver-unsafe output types:\n  "
        + "\n  ".join(offenders)
    )


def test_write_audit_publish_promotes(spark, sf_dir):
    """A fully-green audit must atomically publish the staged corpus
    (published pointer resolves to readable parquet matching staging)."""
    import os

    from kachess_spark.operators.sinks import (
        _scratch,
        sink_write_audit_publish,
    )

    report = sink_write_audit_publish(spark, sf_dir)
    assert all(r["passed"] == 1 for r in report.collect())
    pub = os.path.join(_scratch("wap"), "published")
    assert os.path.exists(pub)
    n_pub = spark.read.parquet(pub).count()
    n_stage = spark.read.parquet(
        os.path.join(_scratch("wap"), "staging")
    ).count()
    assert n_pub == n_stage > 0


def test_audio_pcm_kernel_matches_reference(spark, sf_dir):
    """The PCM kernel's stats must equal an independent pure-Python
    reinterpretation of the same utf-8 payload bytes."""
    import math
    import struct

    from kachess_spark.catalog import load_table
    from kachess_spark.pipeline.multimodal import mm_audio_pcm_stats

    got = {
        r["doc_id"]: (r["n_samples"], r["duration_ms"], r["peak_abs"], r["rms"])
        for r in mm_audio_pcm_stats(spark, sf_dir).collect()
    }
    docs = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, sf_dir, "documents")
        .where("doc_id % 3 = 1")
        .collect()
    }
    assert set(got) == set(docs)
    for doc_id in list(docs)[:25]:
        b = docs[doc_id].encode("utf-8")
        b = b[: len(b) - (len(b) % 2)]
        samples = struct.unpack(f"<{len(b)//2}h", b)
        n = len(samples)
        exp_rms = round(math.sqrt(sum(s * s for s in samples) / n), 4) if n else 0.0
        assert got[doc_id] == (
            n,
            n * 1000 // 16000,
            max(abs(s) for s in samples) if n else 0,
            exp_rms,
        ), doc_id


def test_sink_family_rerun_stable(spark, sf_dir):
    """Every _scratch-writing sink runs TWICE in one session with
    identical results — guards the round-2 flake where leftover scratch
    state from a prior session could error a sink nondeterministically
    (scratch roots are now per-process unique + atexit-swept)."""
    from kachess_spark.operators.sinks import (
        sink_ctas_roundtrip,
        sink_insert_into,
        sink_upsert_scd1,
        sink_upsert_scd2,
    )

    for fn in (sink_ctas_roundtrip, sink_insert_into, sink_upsert_scd1, sink_upsert_scd2):
        first = [tuple(r) for r in fn(spark, sf_dir).collect()]
        second = [tuple(r) for r in fn(spark, sf_dir).collect()]
        assert first == second and len(first) > 0, fn.__name__


def test_incremental_source_cap(spark, sf_dir):
    """capped_delta bounds the driver-collected new-file list: a 10k-file
    synthetic delta against a 4k-seen manifest collects exactly the cap,
    oldest-first, and the remainder stays 'new' for the next run."""
    from kachess_spark.operators.sources import capped_delta

    listed = spark.createDataFrame(
        [(f"s3://corpus/part_{i:06d}.parquet",) for i in range(10_000)],
        "path string",
    )
    seen = spark.createDataFrame(
        [(f"s3://corpus/part_{i:06d}.parquet",) for i in range(4_000)],
        "path string",
    )
    got = capped_delta(listed, seen, cap=2_500)
    assert len(got) == 2_500
    assert got[0] == "s3://corpus/part_004000.parquet"
    assert got == sorted(got)
    # draining: the next run's delta starts where this one stopped
    seen2 = seen.union(spark.createDataFrame([(p,) for p in got], "path string"))
    nxt = capped_delta(listed, seen2, cap=2_500)
    assert nxt[0] == "s3://corpus/part_006500.parquet" and len(nxt) == 2_500
    # first-run (no manifest) path
    assert len(capped_delta(listed, None, cap=10)) == 10


def test_sem_k_sizing():
    """Cluster-count rule: k grows with the corpus so expected cluster
    size stays ~SEM_TARGET_CLUSTER; capped at SEM_MAX_K where the
    assignment switches to the IVF shortlist."""
    from kachess_spark.pipeline.dedup import sem_k

    assert sem_k(500) == 16  # driver-scale corpora → floor
    assert sem_k(512) == 16
    assert sem_k(2_000) == 63
    assert sem_k(8_192) == 256
    assert sem_k(1_000_000) == 256  # cap engaged


def test_ahash_groups_sizing():
    """Group-count rule: groups grow with the image corpus so expected
    group size stays ~AHASH_TARGET_GROUP (the fix for the fixed-40-group
    quadratic candidate blowup caught by the 8x probe)."""
    from kachess_spark.pipeline.multimodal import ahash_groups

    assert ahash_groups(167) == 40  # sf0.01 → oracle floor
    assert ahash_groups(640) == 40
    assert ahash_groups(1_667) == 105  # sf0.1
    assert ahash_groups(13_334) == 834  # 8x probe scale
    assert ahash_groups(1_000_000) == 62_500


def test_mmr_topk_matches_independent_greedy(spark, sf_dir):
    """sim_mmr_topk must equal an INDEPENDENT greedy MMR: rel and
    pairwise sims recomputed from the parquet via DuckDB's exact
    DECIMAL dots (the lattice the kernel is defined over), the greedy
    loop re-run in plain Python dicts (different mechanism than the
    operator's numpy matrix kernel): same picks, ranks, scores."""
    import os

    import duckdb

    from kachess_spark.pipeline.similarity import (
        MMR_LAMBDA,
        MMR_MU,
        MMR_SHORTLIST,
        QUERY_IDS,
        TOP_K,
        sim_mmr_topk,
    )

    got = {
        (r["qid"], r["rank"]): (r["vid"], r["mmr_score"])
        for r in sim_mmr_topk(spark, sf_dir).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{os.path.join(sf_dir, 'embeddings.parquet')}')"
    )
    lattice = con.execute(f"""
        WITH d AS (
          SELECT vec_id AS vid, generate_subscripts(embedding, 1) AS pos,
                 CAST(unnest(embedding) AS DOUBLE) AS dv
          FROM embeddings
        ),
        norms AS (SELECT vid, SUM(CAST(dv * dv AS DECIMAL(28,14))) AS nn
                  FROM d GROUP BY vid),
        dots AS (
          SELECT a.vid AS va, b.vid AS vb,
                 SUM(CAST(a.dv * b.dv AS DECIMAL(28,14))) AS dot
          FROM d a JOIN d b USING (pos)
          WHERE a.vid <> b.vid  -- all pairs; small fixture
          GROUP BY a.vid, b.vid
        )
        SELECT va, vb,
               ROUND(CAST(dot AS DOUBLE)
                     / sqrt(CAST(na.nn AS DOUBLE) * CAST(nb.nn AS DOUBLE)),
                     6) AS sim
        FROM dots JOIN norms na ON va = na.vid JOIN norms nb ON vb = nb.vid
    """).fetchall()
    sim = {(a, b): s for a, b, s in lattice}
    want = {}
    for qid in QUERY_IDS:
        rel_all = sorted(
            ((v, s) for (q, v), s in sim.items() if q == qid),
            key=lambda t: (-t[1], t[0]),
        )[:MMR_SHORTLIST]
        rel = dict(rel_all)
        cand = sorted(rel)
        picked: list[int] = []
        ms = {v: float("-inf") for v in cand}
        for rank in range(1, min(TOP_K, len(cand)) + 1):
            if picked:
                last = picked[-1]
                for v in cand:
                    if v != last:
                        ms[v] = max(ms[v], sim[(v, last)])
                scores = {
                    v: MMR_LAMBDA * rel[v] - MMR_MU * ms[v]
                    for v in cand
                    if v not in picked
                }
            else:
                scores = {v: MMR_LAMBDA * rel[v] for v in cand}
            best = min(scores, key=lambda v: (-scores[v], v))
            picked.append(best)
            want[(qid, rank)] = (best, round(scores[best], 7))
    assert got == want
    assert len(got) > 0


def test_bpe_apply_matches_independent_encoder(spark, sf_dir):
    """text_bpe_apply vs an INDEPENDENT merge applier (string-replace on
    a space-joined symbol sequence — different mechanism than the
    operator's list walker) plus a pandas recomputation of every doc's
    token total from its words."""
    from kachess_spark.catalog import load_table
    from kachess_spark.pipeline.text import (
        _EOW,
        bpe_learn,
        text_bpe_apply,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").toPandas()

    def words_of(text):
        return [
            w
            for w in "".join(
                ch for ch in text.lower() if ch.isalpha() or ch == " "
            ).split(" ")
            if w
        ]

    vocab = {}
    for t in docs.text:
        for w in words_of(t):
            vocab[w] = vocab.get(w, 0) + 1
    merges = bpe_learn(vocab)

    def encode_replace(word):
        # independent mechanism: repeated leftmost SINGLE-pair
        # replacement until fixpoint per merge (vs the operator's
        # one-pass walker; equivalent semantics, different machinery)
        syms = list(word) + [_EOW]
        for a, b in merges:
            while True:
                for i in range(len(syms) - 1):
                    if syms[i] == a and syms[i + 1] == b:
                        syms[i : i + 2] = [a + b]
                        break
                else:
                    break
        return syms

    word_len = {w: len(encode_replace(w)) for w in vocab}
    expected = {
        int(r.doc_id): sum(word_len[w] for w in words_of(r.text))
        for r in docs.itertuples()
    }

    rows = text_bpe_apply(spark, sf_dir).collect()
    got = {r["doc_id"]: r["n_bpe_tokens"] for r in rows}
    assert got == expected
    # the operator's in-kernel cross-check must agree on every doc —
    # this is the self-validating column the driver's rows-only check
    # surfaces (round-4 VERDICT #8)
    assert all(r["verified"] for r in rows)
    # merges must actually compress in aggregate: corpus token total
    # strictly below the unmerged char+EOW total
    unmerged = sum((len(w) + 1) * c for w, c in vocab.items())
    total = sum(word_len[w] * c for w, c in vocab.items())
    assert len(merges) > 0 and total < unmerged


def test_ann_emitted_recall_columns(spark, sf_dir, duck):
    """Every ANN operator now emits a per-query `recall` column (the
    exact side recomputed in-plan by the all-pairs probe scorer) so the
    driver's rows-only check certifies retrieval quality (round-5
    VERDICT #3).  Pin: the emitted value equals recall computed
    EXTERNALLY against sim_cosine_topk's DuckDB oracle (the Spark exact
    top-k shares the scorer under test), for every operator and query."""
    from kachess_spark.pipeline.similarity import (
        TOP_K,
        sim_ann_lsh,
        sim_ivf_kmeans_topk,
        sim_ivf_topk,
    )
    from kachess_spark.registry import ORACLES

    exact = {}
    for qid, vid, _, _ in duck.execute(ORACLES["sim_cosine_topk"]).fetchall():
        exact.setdefault(qid, set()).add(vid)
    for fn in (sim_ann_lsh, sim_ivf_topk, sim_ivf_kmeans_topk):
        rows = fn(spark, sf_dir).collect()
        assert rows, fn.__name__
        got = {}
        emitted = {}
        for r in rows:
            got.setdefault(r.qid, set()).add(r.vid)
            emitted[r.qid] = r.recall
            assert 0.0 <= r.recall <= 1.0
        for qid, vids in got.items():
            want = len(vids & exact[qid]) / float(TOP_K)
            assert abs(emitted[qid] - want) < 1e-9, (fn.__name__, qid)


def test_pq_emitted_recall_column(spark, sf_dir, duck):
    """sim_pq_adc_topk emits recall vs the exact squared-L2 top-k (PQ's
    own ground-truth metric).  Pin the emitted value against an
    externally recomputed L2 top-k (DuckDB, explode and SUM)."""
    from kachess_spark.pipeline.similarity import (
        QUERY_IDS,
        TOP_K,
        sim_pq_adc_topk,
    )

    exact = {}
    for qid, vid in duck.execute(
        f"""
        WITH d AS (
          SELECT vec_id AS vid, generate_subscripts(embedding, 1) AS pos,
                 CAST(unnest(embedding) AS DOUBLE) AS dv
          FROM embeddings
        ),
        q AS (SELECT vid AS qid, pos, dv AS qv FROM d WHERE vid IN {QUERY_IDS})
        SELECT qid, vid FROM (
          SELECT qid, vid,
                 SUM(CAST((qv - dv) * (qv - dv) AS DECIMAL(28,14))) AS d2
          FROM d JOIN q USING (pos) WHERE qid <> vid GROUP BY qid, vid
        ) QUALIFY ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2, vid)
          <= {TOP_K}
        """
    ).fetchall():
        exact.setdefault(qid, set()).add(vid)
    rows = sim_pq_adc_topk(spark, sf_dir).collect()
    assert {r.qid for r in rows} == set(QUERY_IDS)
    got, emitted = {}, {}
    for r in rows:
        got.setdefault(r.qid, set()).add(r.vid)
        emitted[r.qid] = r.recall
    for qid, vids in got.items():
        want = len(vids & exact[qid]) / float(TOP_K)
        assert abs(emitted[qid] - want) < 1e-9, qid


def test_mmr_emitted_verified_column(spark, sf_dir):
    """sim_mmr_topk's `verified` column asserts the greedy kernel's
    first pick equals the exact-cosine top-1 — must be True for every
    query at any corpus (the first pick has no diversity penalty)."""
    from kachess_spark.pipeline.similarity import sim_mmr_topk

    rows = sim_mmr_topk(spark, sf_dir).collect()
    assert rows
    assert all(r.verified for r in rows)


def test_bpe_sql_twin_counterexample():
    """Executable form of the COVERAGE.md note on why text_bpe_apply has
    no sound DuckDB twin: the delimiter-anchored replace() formulation of
    one merge step (the only natural SQL encoding — RE2 has no lookahead)
    diverges from the one-pass walker on a run of a repeated symbol, and
    the divergent adjacency changes the next learning iteration's pair
    counts, so the error compounds instead of self-correcting."""
    from kachess_spark.pipeline.text import _EOW, bpe_encode_word

    merge = ("a", "a")
    walker = bpe_encode_word("aaaaa", [merge])
    assert walker == ["aa", "aa", "a", _EOW]

    # One merge step the way a SQL twin would express it: '|'-wrapped
    # symbols rewritten by leftmost non-overlapping replace (str.replace
    # here has the same semantics as DuckDB's replace()).  The second
    # walker match is blocked because the first replacement consumed the
    # shared delimiter, so the merge lands at the WRONG offset.
    s = "|" + "|".join(list("aaaaa") + [_EOW]) + "|"
    s = s.replace("|a|a|", "|aa|")
    sql_like = [t for t in s.split("|") if t]
    assert sql_like == ["aa", "a", "aa", _EOW]

    # Same token MULTISET (the coincidence that would make a twin look
    # green on easy data) but different ADJACENCY — the pair counts that
    # drive the next merge's argmax differ, hence rows-only.
    assert sorted(walker) == sorted(sql_like)
    assert list(zip(walker, walker[1:])) != list(zip(sql_like, sql_like[1:]))
