"""Recall report for the approximate-ANN layer.

Computes recall@TOP_K for every approximate similarity method against
the exact ``sim_cosine_topk`` ground truth, per scale factor, and
rewrites RECALL.md — inspectable evidence for the rows-only ANN queries
(they legitimately have no SQL oracle, so this table plays the role
BENCH/BASELINE play for performance).

Usage: python tools/recall_report.py [sf_dir ...]
       (default: /root/testdata/sf0.01 /root/testdata/sf0.1)
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

MANUAL_MARK = "<!-- MANUAL SECTIONS BELOW: preserved across regeneration -->"

METHODS = [
    # name, parameter summary (kept in sync with similarity.py constants)
    (
        "sim_ann_lsh",
        "banded hyperplane LSH, adaptive ann_n_bands(n) x 4 planes "
        "(16 bands at n<=500, +8/doubling, cap 64)",
    ),
    ("sim_ivf_topk",
     "IVF, adaptive ivf_n_cells(n)~sqrt(n) / ivf_n_probe,"
     " seeded centroids"),
    ("sim_ivf_kmeans_topk",
     "IVF, adaptive ivf_n_cells(n)~sqrt(n) / ivf_n_probe,"
     " 1 k-means iter (see seeding/iteration sweeps below)"),
    ("sim_ivf_stored_topk",
     "probe-only over the STORED IVF index (build_ivf_index, default"
     " IVF_BUILD_ITERS=1 since the round-10 probe-bias correction"
     " + materialized inverted lists)"),
    (
        "sim_pq_adc_topk",
        "PQ-ADC, M=4 subspaces, adaptive pq_codewords(n) (16 at n<=500,"
        " x2/doubling, cap 256) and pq_shortlist(n) (128 at n<=500,"
        " +192/doubling, cap 1024) + exact re-rank",
    ),
    ("sim_pq_stored_topk",
     "probe-only over the STORED PQ index (build_pq_index:"
     " same codebooks + encoded corpus)"),
    ("sim_ivfpq_stored_topk",
     "IVF+PQ composition over both stored indexes: probed-cell"
     " inverted lists -> ADC over those codes only -> exact re-rank"),
    ("sim_ivfpq_residual_topk",
     "RESIDUAL IVFPQ (FAISS shape): codebooks trained on"
     " x - centroid(cell), per-(query, cell) distance tables"),
]


def topk_sets(df) -> dict[int, set[int]]:
    out: dict[int, set[int]] = {}
    for r in df.select("qid", "vid").collect():
        out.setdefault(r["qid"], set()).add(r["vid"])
    return out


def main() -> None:
    sf_dirs = sys.argv[1:] or ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]

    from kachess_spark import registry
    from kachess_spark.pipeline.similarity import TOP_K
    from kachess_spark.session import get_spark

    registry.load_all()
    spark = get_spark("recall-report")

    rows = []
    for sf_dir in sf_dirs:
        exact = topk_sets(registry.QUERIES["sim_cosine_topk"](spark, sf_dir))
        denom = sum(len(v) for v in exact.values())
        for name, params in METHODS:
            got = topk_sets(registry.QUERIES[name](spark, sf_dir))
            hit = sum(len(exact[q] & got.get(q, set())) for q in exact)
            rows.append((os.path.basename(sf_dir), name, params, hit, denom))
            print(f"{os.path.basename(sf_dir)} {name}: {hit}/{denom}")

    lines = [
        "# RECALL — approximate-ANN quality vs exact ground truth",
        "",
        f"recall@{TOP_K} against `sim_cosine_topk` (exact brute-force cosine)",
        "over query vectors (1, 2, 3). Regenerate with",
        "`python tools/recall_report.py`.",
        "",
        "| sf | method | parameters | hits | recall |",
        "|---|---|---|---|---|",
    ]
    for sf, name, params, hit, denom in rows:
        lines.append(
            f"| {sf} | `{name}` | {params} | {hit}/{denom} "
            f"| {hit / denom:.2f} |"
        )
    lines += [
        "",
        "Approximate methods trade recall for sub-linear candidate",
        "generation; the pytest gates (tests/test_smoke.py) enforce the",
        "floors that keep each method useful (LSH >= 9/15 at sf0.001,",
        "IVF/PQ analogous). PQ-ADC re-ranks its shortlist exactly, so",
        "its misses are shortlist misses, not quantization error.",
        "",
    ]
    # preserve hand-recorded sweep sections (LSH band count, PQ
    # codebook/shortlist sweeps, int8 recall, ...) below the marker —
    # regeneration must not destroy evidence the auto section doesn't
    # produce
    path = os.path.join(REPO, "RECALL.md")
    manual = ""
    if os.path.exists(path):
        prev = open(path).read()
        if MANUAL_MARK in prev:
            manual = prev[prev.index(MANUAL_MARK):]
    if not manual:
        manual = MANUAL_MARK + "\n"
    with open(path, "w") as fh:
        fh.write("\n".join(lines) + "\n" + manual)
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
