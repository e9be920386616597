"""Per-stage time attribution for one registered query (guide §1:
measure first).  Runs ``fn(spark, sf_dir).count()`` exactly like
bench.py, then dumps every stage the run created from the JVM
AppStatusStore: executorRunTime / CpuTime, shuffle bytes, task count
and the stage's callsite name — the numbers that say WHERE a wall
went, without the (disabled) UI.  The session runs
``local[SPARK_GRAFT_CPUS]``, default this process's CPU affinity
count; the core count and load averages are printed with the table.

Usage: python tools/profile_stages.py <name> [sf_dir] [--warm]
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import _loadavg, prep_indexes, stage_snapshot  # noqa: E402
from kachess_spark.catalog import DEFAULT_SF_DIR  # noqa: E402


def main() -> None:
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 and not sys.argv[2].startswith("--") else DEFAULT_SF_DIR
    warm = "--warm" in sys.argv

    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    from kachess_spark import registry
    from kachess_spark.session import get_spark

    registry.load_all()
    spark = get_spark(f"profile-{name}")
    spark.sparkContext.setLogLevel("ERROR")
    fn = registry.QUERIES[name]

    if "--prep" in sys.argv:
        # bench.py's untimed offline index prep, so the profiled run
        # measures the serving/build path the bench times
        for d in ["/root/testdata/sf0.001", sf_dir]:
            prep_indexes(spark, [d])

    if warm:
        warm_dir = "/root/testdata/sf0.001"
        try:
            fn(spark, warm_dir).count()
        except Exception as e:  # noqa: BLE001
            print(f"warm failed: {e}")
        spark.catalog.clearCache()

    before = stage_snapshot(spark)
    t0 = time.perf_counter()
    rows = fn(spark, sf_dir).count()
    wall = time.perf_counter() - t0
    after = stage_snapshot(spark)

    new = {k: v for k, v in after.items() if k not in before}
    print(f"\n{name}: wall={wall:.2f}s rows={rows} stages={len(new)}")
    cores = spark.sparkContext.defaultParallelism
    print(f"cores={cores} loadavg={_loadavg()}")
    tot_run = sum(v[1] for v in new.values()) / 1000.0
    tot_cpu = sum(v[2] for v in new.values()) / 1e9
    print(f"sum executorRunTime={tot_run:.1f}s  cpuTime={tot_cpu:.1f}s")
    print(f"{'stage':>9} {'run_s':>7} {'cpu_s':>7} {'in_mb':>7} {'sr_mb':>7} {'sw_mb':>7} {'tasks':>5}  name")
    mb = 1024 * 1024
    shown = 0
    for (sid, att), v in sorted(new.items(), key=lambda kv: -kv[1][1]):
        nm, run, cpu, inp, sr, sw, nt, nc = v
        if run == 0 and nc == 0:
            continue  # skipped stage (reused exchange) — noise
        shown += 1
        if shown > 45:
            break
        print(
            f"{sid:>9} {run/1000:7.2f} {cpu/1e9:7.2f} {inp/mb:7.1f}"
            f" {sr/mb:7.1f} {sw/mb:7.1f} {nc:>5}  {nm[:90]}"
        )


if __name__ == "__main__":
    main()
