"""Time a subset of registered queries with bench.py's methodology
(warm the shape at the small SF, time ``fn(spark, sf_dir).count()``,
clear caches between runs) — the cheap A/B harness for optimization
rounds.  Each name also runs once, untimed, at the measured SF before
its timed runs, so the first timed run carries no cold start.  Repeats
each query ``--n`` times and reports every wall plus min/median, with
the per-run stage-byte/task deltas that adjudicate wall swings (same
bytes + same tasks + slower wall = host noise).

A build-or-reuse name (``*_index_build``) times a fresh build: each of
its timed runs writes its stored state under a new scratch root, so no
run reuses the index an earlier run built.  The session runs
``local[--cpus]``, default ``SPARK_GRAFT_CPUS`` or this process's CPU
affinity count; the core count and load averages are printed with the
results.

Usage: python tools/bench_some.py [--n 3] [--sf DIR] [--cpus N]
                                  [--prep] name [name...]
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import _loadavg, prep_indexes, stage_snapshot  # noqa: E402
from kachess_spark.catalog import DEFAULT_SF_DIR  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    n_runs, sf_dir, prep = 3, DEFAULT_SF_DIR, False
    names: list[str] = []
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--n":
            n_runs = int(args[i + 1]); i += 2
        elif a == "--sf":
            sf_dir = args[i + 1]; i += 2
        elif a == "--cpus":
            os.environ["SPARK_GRAFT_CPUS"] = args[i + 1]; i += 2
        elif a == "--prep":
            prep = True; i += 1
        else:
            names.append(a); i += 1

    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    from kachess_spark import registry
    from kachess_spark.operators import sinks
    from kachess_spark.session import get_spark

    registry.load_all()
    spark = get_spark("kachess-bench-some")
    spark.sparkContext.setLogLevel("ERROR")
    warm_dir = "/root/testdata/sf0.001"
    cores = spark.sparkContext.defaultParallelism
    print(f"cores={cores} loadavg={_loadavg()}", flush=True)

    if prep:
        prep_indexes(spark, [warm_dir, sf_dir])

    import gc

    out: dict[str, dict] = {}
    for name in names:
        fn = registry.QUERIES[name]
        fresh = name.endswith("_index_build")
        # a session's first run at a new SF is 1-3 s slower than the next
        # (sf0.1, 4 cores) even after the small-SF warm-up
        fn(spark, sf_dir).count()
        spark.catalog.clearCache()
        walls, profs = [], []
        for _ in range(n_runs):
            try:
                fn(spark, warm_dir).count()
            except Exception:
                pass
            spark.catalog.clearCache()
            gc.collect()
            if fresh:
                work_dir = sinks._WORK_DIR
                sinks._WORK_DIR = tempfile.mkdtemp(prefix="bench_some_build_")
            before = stage_snapshot(spark)
            t0 = time.perf_counter()
            fn(spark, sf_dir).count()
            walls.append(round(time.perf_counter() - t0, 3))
            after = stage_snapshot(spark)
            if fresh:
                shutil.rmtree(sinks._WORK_DIR, ignore_errors=True)
                sinks._WORK_DIR = work_dir
            new = {k: v for k, v in after.items() if k not in before}
            mb = 1024 * 1024
            profs.append(
                {
                    "sw_mb": round(sum(v[5] for v in new.values()) / mb, 1),
                    "tasks": sum(v[7] for v in new.values()),
                    "stages": sum(
                        1 for v in new.values() if v[7] or v[1]
                    ),
                    "cpu_s": round(
                        sum(v[2] for v in new.values()) / 1e9, 1
                    ),
                }
            )
            spark.catalog.clearCache()
        out[name] = {
            "fresh_build": fresh,
            "walls": walls,
            "min": min(walls),
            "median": round(statistics.median(walls), 3),
            "prof": profs[-1],
        }
        print(f"{name}: {out[name]}", flush=True)
    print("RESULT " + json.dumps({"cores": cores, "loadavg": _loadavg(), **out}))


if __name__ == "__main__":
    main()
