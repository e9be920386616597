"""Population (unbiased) ANN recall: md5-random probe sample vs numpy
brute force.

The legacy recall_report.py tables probe QUERY_IDS / ids 1-20 — ids
that COINCIDE with the first-k-by-id seed centroids, which inflates
recall for seeded (iters=0) IVF indexes to ~0.99 while the population
recall is ~0.35 (RECALL.md "Round-10 probe-bias correction").  This
tool measures what a production query mix would see: a deterministic
md5-ordered sample of N probe ids drawn from the WHOLE corpus.

Usage: python tools/population_recall.py [sf_dir] [n_probes]
       (defaults: catalog.DEFAULT_SF_DIR, 150)

Prints one JSON line per method; paste-ready for RECALL.md.  The
pytest ANN floors import ``population_recall`` below (round-11 ask #2:
gates moved off the biased fixed-probe metric onto this one — the
whole chain is deterministic, so the gates are stable, not flaky).
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def md5_sample(ids, n_probes: int) -> list[int]:
    """Deterministic md5-ordered sample of n_probes ids — the unbiased
    probe set (no coincidence with first-k-by-id seed centroids)."""
    return sorted(
        (int(v) for v in ids),
        key=lambda v: hashlib.md5(str(v).encode()).hexdigest(),
    )[:n_probes]


def population_recall(
    spark, sf_dir: str, fn, n_probes: int, metric: str = "cosine", k=None
) -> float:
    """Unbiased recall@k of a (spark, sf_dir, certify, probe_ids) ANN
    ranker ``fn`` against numpy brute force (``metric``: cosine | l2)
    over an md5-random probe sample."""
    import numpy as np

    from kachess_spark.catalog import Tables
    from kachess_spark.pipeline.similarity import TOP_K

    k = k or TOP_K
    rows = (
        Tables(spark, sf_dir).embeddings.select("vec_id", "embedding").collect()
    )
    ids = np.array([r["vec_id"] for r in rows])
    m = np.array([r["embedding"] for r in rows], dtype=np.float64)
    mn = m / np.linalg.norm(m, axis=1, keepdims=True)
    id2i = {int(v): i for i, v in enumerate(ids)}
    sample = md5_sample(ids, n_probes)

    def truth(vid: int) -> set[int]:
        i = id2i[vid]
        if metric == "l2":
            key = ((m - m[i]) ** 2).sum(axis=1)
            key[i] = np.inf
            order = np.lexsort((ids, key))[:k]
        else:
            s = mn @ mn[i]
            s[i] = -np.inf
            order = np.lexsort((ids, -s))[:k]
        return {int(ids[j]) for j in order}

    got = fn(spark, sf_dir, certify=False, probe_ids=tuple(sample)).collect()
    by: dict[int, set[int]] = {}
    for r in got:
        by.setdefault(r["qid"], set()).add(r["vid"])
    hits = sum(len(by.get(v, set()) & truth(v)) for v in sample)
    return hits / (len(sample) * k)


def main() -> None:
    from kachess_spark.pipeline.similarity import (
        build_ivf_index,
        sim_ivf_stored_topk,
        sim_pq_stored_topk,
    )
    from kachess_spark.catalog import DEFAULT_SF_DIR
    from kachess_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else DEFAULT_SF_DIR
    n_probes = int(sys.argv[2]) if len(sys.argv) > 2 else 150

    spark = get_spark("population-recall")
    build_ivf_index(spark, sf_dir)  # train-once, untimed
    for name, fn, metric in (
        ("sim_ivf_stored_topk", sim_ivf_stored_topk, "cosine"),
        ("sim_pq_stored_topk", sim_pq_stored_topk, "l2"),
    ):
        print(
            json.dumps(
                {
                    "sf": os.path.basename(sf_dir),
                    "method": name,
                    "n_probes": n_probes,
                    "population_recall": round(
                        population_recall(spark, sf_dir, fn, n_probes, metric),
                        4,
                    ),
                }
            )
        )


if __name__ == "__main__":
    main()
