"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root: Spark's Python workers import
``kachess_spark`` from the working directory, as they do for bench.py.

One run: start the session, build the inputs from the seed three times
(the median build enters ``setup_s``), run an untimed warm-up whose
outputs are checked against independent oracles, then time whole
passes, one call after another, for ``--seconds`` (at least one pass).
``--trace 1`` first times untraced passes for half the window, then
wraps each layer's public functions and times traced passes for the
other half, reading Spark's status store between operations.

End-to-end metrics are application CPU seconds: the driver's Python
process plus every JVM thread except the JIT compilers and the garbage
collector (see README.md for why wall time is reported, not gated).

The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with every end-to-end
metric (``--trace 0``) or every per-layer metric (``--trace 1``).  The
line before it is the full report: host context, wall-clock figures,
the workload's named metrics with units and sample counts, and checks.
The report and the spans are also written to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILDS = 3

# name -> unit; BENCHMARK.json lists the same names
END_TO_END = {
    "pass_cpu_s": "s",
    "setup_s": "s",
}


def per_layer_units(sql_queries) -> dict[str, str]:
    units = {
        "preprocess.s": "s",
        "parse.s": "s",
        "parse.calls": "count",
        "walk.s": "s",
        "extract.parsed_frac": "ratio",
        "frames.s": "s",
        "graph.datasets": "count",
        "graph.items": "count",
        "graph.edges": "count",
        "report.s": "s",
        "closure.s": "s",
        "closure.bfs_calls": "count",
        "closure.distributed_calls": "count",
        "closure.rounds": "count",
        "closure.jobs": "count",
        "closure.tasks": "count",
        "closure.shuffle_write_mb": "MB",
        "closure.executor_cpu_s": "s",
        "closure.driver_gap_s": "s",
        "closure.pairs": "count",
        "impact.s": "s",
        "impact.jobs": "count",
    }
    for q in sql_queries:
        units[f"q.{q}.s"] = "s"
        units[f"q.{q}.tasks"] = "count"
        units[f"q.{q}.shuffle_write_mb"] = "MB"
    units.update(
        {
            "sql.jobs": "count",
            "sql.executor_cpu_s": "s",
            "sql.driver_gap_s": "s",
            "spark.jobs": "count",
            "spark.tasks": "count",
            "spark.input_mb": "MB",
            "spark.shuffle_read_mb": "MB",
            "spark.executor_run_s": "s",
            "jvm.gc_cpu_s": "s",
            "jvm.jit_cpu_s": "s",
            "trace.overhead_s": "s",
            "trace.accounted_frac": "ratio",
        }
    )
    return units


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def _hwm_mb(pid) -> float:
    """Peak resident set size of a process, from /proc."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _env(work: str) -> None:
    """Keep every file the run writes inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # every JVM, the launcher's too; a fixed set of JIT compiler threads,
    # so their CPU can be told apart
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "pyspark-shell"
    )


# ---------------------------------------------------------------- CPU time

_TICK = os.sysconf("SC_CLK_TCK")
# JVM service threads, by /proc comm prefix: the JIT compilers (still
# warming up, so their CPU varies from run to run) and the collector
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")
_GC_THREADS = ("GC Thread", "G1 ", "VM Thread")


def _stat_cpu_s(path: str) -> float:
    with open(path) as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / _TICK


def cpu_now(jvm_pid) -> dict[str, float]:
    """CPU seconds used so far, split into ``jit``, ``gc`` and ``app``:
    the driver's Python process plus every other JVM thread (driver,
    task, shuffle and RPC threads).  ``app`` takes the JVM total minus
    the long-lived service threads, so threads that exited stay counted."""
    out = {"jit": 0.0, "gc": 0.0, "app": time.process_time()}
    if jvm_pid is None:
        return out
    total = _stat_cpu_s(f"/proc/{jvm_pid}/stat")
    task_dir = f"/proc/{jvm_pid}/task"
    for tid in os.listdir(task_dir):
        try:
            with open(f"{task_dir}/{tid}/comm") as fh:
                comm = fh.read()
            kind = (
                "jit" if comm.startswith(_JIT_THREADS)
                else "gc" if comm.startswith(_GC_THREADS)
                else None
            )
            if kind:
                out[kind] += _stat_cpu_s(f"{task_dir}/{tid}/stat")
        except FileNotFoundError:  # the thread ended meanwhile
            continue
    out["app"] += total - out["jit"] - out["gc"]
    return out


def _cpu_delta(a: dict, b: dict) -> dict:
    return {k: b[k] - a[k] for k in a}


def settle_jit(jvm_pid, poll_s: float = 0.5, limit_s: float = 10.0) -> None:
    """Wait until the JIT compilers go quiet, so the compilations the
    warm-up queued finish before timing whatever the host load."""
    deadline = time.perf_counter() + limit_s
    last = cpu_now(jvm_pid)["jit"]
    while time.perf_counter() < deadline:
        time.sleep(poll_s)
        now = cpu_now(jvm_pid)["jit"]
        if now - last < 0.02:  # at most one clock tick
            return
        last = now


# ------------------------------------------------------------------ passes


class Runner:
    """Times passes of a workload, one call after another."""

    def __init__(self, wl, tracer, spark):
        self.wl = wl
        self.tracer = tracer
        self.jvm = spark.sparkContext._jvm
        self.jvm_pid = spark.sparkContext._gateway.proc.pid
        self.store = None  # SparkStore, set for traced passes
        self.attempted = 0
        self.failed = 0
        self.passes: list[dict] = []

    def check(self, result: tuple[int, list[str]], problems: list[str]) -> None:
        n, found = result
        self.attempted += n
        self.failed += len(found)
        problems += found

    def one_pass(self, traced: bool) -> None:
        # start every pass from a collected heap on both sides, so a
        # collection owed by earlier work does not land inside it
        gc.collect()
        self.jvm.System.gc()
        tr = self.tracer
        rec = {"traced": traced, "ops": {}, "cpu": {}, "store": {}, "first": tr.mark()}
        store = self.store if traced else None
        with tr.span("pass"):
            for name, fn in self.wl.ops(tr):
                since = store.mark() if store else None
                w0 = time.time()
                c0 = cpu_now(self.jvm_pid)
                self.attempted += 1
                with tr.span(name) as sp:
                    try:
                        fn()
                    except Exception:
                        self.failed += 1
                        traceback.print_exc(file=sys.stderr)
                rec["cpu"][name] = _cpu_delta(c0, cpu_now(self.jvm_pid))
                rec["ops"][name] = sp.dur
                if store:
                    rec["store"][name] = store.delta(since, w0, time.time())
                self.wl.after_op()
        rec["last"] = tr.mark()
        self.passes.append(rec)

    def measure(self, seconds: float, traced: bool) -> None:
        """Time whole passes until ``seconds`` have elapsed, at least one."""
        t0 = time.perf_counter()
        self.one_pass(traced)
        while time.perf_counter() - t0 < seconds:
            self.one_pass(traced)


def end_to_end(runner: Runner, passes: list[dict]) -> dict:
    """Medians over the untraced ``passes``."""
    tr, wl = runner.tracer, runner.wl
    ops = list(passes[0]["ops"])
    return {
        "pass_cpu_s": _median([sum(c["app"] for c in p["cpu"].values()) for p in passes]),
        "step_cpu_s": {o: _median([p["cpu"][o]["app"] for p in passes]) for o in ops},
        "gc_cpu_s": _median([sum(c["gc"] for c in p["cpu"].values()) for p in passes]),
        "jit_cpu_s": _median([sum(c["jit"] for c in p["cpu"].values()) for p in passes]),
        "passes": [sum(p["ops"].values()) for p in passes],
        "steps": {o: _median([p["ops"][o] for p in passes]) for o in ops},
        "calls": [c for p in passes for c in wl.calls(tr.spans[p["first"] : p["last"]])],
    }


def per_layer(runner: Runner, traced: list[dict], untraced_pass_s: float) -> dict:
    """Per-layer figures: the median over traced passes of each pass's
    value.  Layers a workload does not run read 0."""
    from perfbench.trace import StoreDelta
    from perfbench.workloads import SQL_QUERIES

    tr, wl = runner.tracer, runner.wl
    rows = []
    for p in traced:
        spans = tr.spans[p["first"] : p["last"]]

        def under(s, ancestor: str) -> bool:
            i = s.parent
            while i is not None:
                if tr.spans[i].name == ancestor:
                    return True
                i = tr.spans[i].parent
            return False

        selft: dict[str, float] = {}
        for s in spans:
            selft[s.name] = selft.get(s.name, 0.0) + s.dur - s.child_time
        ops, st = p["ops"], p["store"]
        cl, sql, allst = StoreDelta(), StoreDelta(), StoreDelta()
        for o in ("column_closure", "impact"):
            if o in st:
                cl.add(st[o])
        for q in SQL_QUERIES:
            if f"q.{q}" in st:
                sql.add(st[f"q.{q}"])
        for d in st.values():
            allst.add(d)
        bfs = sum(1 for s in spans if s.name == "closure.bfs")
        row = {
            "preprocess.s": selft.get("preprocess", 0.0),
            "parse.s": selft.get("parse", 0.0),
            "parse.calls": sum(1 for s in spans if s.name == "parse"),
            "walk.s": selft.get("script", 0.0),
            "frames.s": ops.get("frames", 0.0),
            "report.s": ops.get("report", 0.0),
            "closure.s": sum(s.dur for s in spans if s.name == "closure.call"),
            "closure.bfs_calls": bfs,
            "closure.distributed_calls": sum(1 for s in spans if s.name == "closure.call") - bfs,
            "closure.rounds": sum(
                1 for s in spans if s.name == "closure.round" and under(s, "closure.call")
            ),
            "closure.jobs": cl.jobs,
            "closure.tasks": cl.tasks,
            "closure.shuffle_write_mb": cl.shuffle_write_mb,
            "closure.executor_cpu_s": cl.executor_cpu_s,
            "closure.driver_gap_s": cl.driver_gap_s,
            "impact.s": ops.get("impact", 0.0),
            "impact.jobs": st["impact"].jobs if "impact" in st else 0,
            "sql.jobs": sql.jobs,
            "sql.executor_cpu_s": sql.executor_cpu_s,
            "sql.python_worker_s": sql.python_worker_s,
            "sql.driver_gap_s": sql.driver_gap_s,
            "spark.jobs": allst.jobs,
            "spark.tasks": allst.tasks,
            "spark.input_mb": allst.input_mb,
            "spark.shuffle_read_mb": allst.shuffle_read_mb,
            "spark.executor_run_s": allst.executor_run_s,
            "jvm.gc_cpu_s": sum(c["gc"] for c in p["cpu"].values()),
            "jvm.jit_cpu_s": sum(c["jit"] for c in p["cpu"].values()),
            # every span but the pass root is a layer or an operation
            "_accounted": sum(s.dur - s.child_time for s in spans if s.name != "pass"),
            "_pass_s": sum(ops.values()),
        }
        for q in SQL_QUERIES:
            key = f"q.{q}"
            row[f"{key}.s"] = ops.get(key, 0.0)
            row[f"{key}.tasks"] = st[key].tasks if key in st else 0
            row[f"{key}.shuffle_write_mb"] = st[key].shuffle_write_mb if key in st else 0.0
        rows.append(row)
    out = {k: _median([r[k] for r in rows]) for k in rows[0] if not k.startswith("_")}
    out["trace.overhead_s"] = _median([r["_pass_s"] for r in rows]) - untraced_pass_s
    out["trace.accounted_frac"] = _median([r["_accounted"] for r in rows]) / untraced_pass_s
    out.update(wl.layer_constants())
    return out


# -------------------------------------------------------------------- main


def main(argv=None) -> int:
    t_proc = time.perf_counter()
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, "kachess_spark")):
        print(f"perfbench: no kachess_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import SQL_QUERIES, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _env(work)
    load_start = _loadavg()
    spark = None
    try:
        from kachess_spark import registry
        from kachess_spark.session import get_spark
        from perfbench.trace import SparkStore, Tracer

        if WORKLOADS[args.workload].uses_registry:
            registry.load_all()
        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        jvm_pid = spark.sparkContext._gateway.proc.pid
        wall = {"session_s": time.perf_counter() - t_proc}
        cpu_session = cpu_now(jvm_pid)

        wl = WORKLOADS[args.workload](spark, args.seed)
        builds, build_cpu, digests = [], [], []
        for k in range(BUILDS):
            t, c = time.perf_counter(), cpu_now(jvm_pid)
            wl.build(os.path.join(work, f"inputs{k}"))
            builds.append(time.perf_counter() - t)
            build_cpu.append(_cpu_delta(c, cpu_now(jvm_pid))["app"])
            digests.append(wl.digest)
        wall["build_s"] = builds

        problems: list[str] = []
        tracer = Tracer(layers=False)
        runner = Runner(wl, tracer, spark)
        runner.check((1, [] if len(set(digests)) == 1 else ["input builds differ"]), problems)
        t, c = time.perf_counter(), cpu_now(jvm_pid)
        runner.check(wl.warm_and_check(), problems)
        settle_jit(jvm_pid)
        wall["warm_and_check_s"] = time.perf_counter() - t
        warm_cpu = _cpu_delta(c, cpu_now(jvm_pid))["app"]
        setup_cpu = cpu_session["app"] + _median(build_cpu) + warm_cpu
        wall["setup_s"] = wall["session_s"] + _median(builds) + wall["warm_and_check_s"]

        half = args.seconds / 2 if args.trace else args.seconds
        runner.measure(half, traced=False)
        runner.check(wl.check_after(), problems)
        untraced = [p for p in runner.passes if not p["traced"]]
        e2e = end_to_end(runner, untraced)
        pass_s = _median(e2e["passes"])
        layers = {}
        if args.trace:
            tracer.layers = True
            wl.layer_wraps(tracer)
            runner.store = SparkStore(spark)
            try:
                runner.measure(half, traced=True)
            finally:
                tracer.unwrap_all()
            layers = per_layer(runner, [p for p in runner.passes if p["traced"]], pass_s)

        import pyspark

        report = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "host": {
                "nproc": len(os.sched_getaffinity(0)),
                "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
                "loadavg_start": load_start,
                "loadavg_end": _loadavg(),
                "pyspark": pyspark.__version__,
                "java": spark.sparkContext._jvm.System.getProperty("java.version"),
                "python": platform.python_version(),
            },
            "passes": len(untraced),
            "cpu": {
                "pass_cpu_s": e2e["pass_cpu_s"],
                "step_cpu_s": e2e["step_cpu_s"],
                "gc_cpu_s": e2e["gc_cpu_s"],
                "jit_cpu_s": e2e["jit_cpu_s"],
                "setup_s": setup_cpu,
                "setup_session_s": cpu_session["app"],
                "setup_build_s": build_cpu,
                "setup_warm_and_check_s": warm_cpu,
            },
            "wall": {
                **wall,
                "pass_s": pass_s,
                "pass_samples_s": e2e["passes"],
                "step_s": e2e["steps"],
                "run_s": time.perf_counter() - t_proc,
            },
            "peak_rss_mb": _hwm_mb("self") + _hwm_mb(jvm_pid),
            "named": wl.named_metrics(e2e),
            "checks": {"problems": problems},
            "layers": layers,
        }
        print(json.dumps(report, default=str))
        _write_out(args, report, tracer)
        if args.trace:
            values, units = layers, per_layer_units(SQL_QUERIES)
        else:
            values, units = dict(e2e, setup_s=setup_cpu), END_TO_END
        print(json.dumps({
            "correct": not problems and runner.failed == 0,
            "attempted": runner.attempted,
            "failed": runner.failed,
            "metrics": {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in units.items()},
        }))
        return 0
    finally:
        _shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def _write_out(args, report: dict, tracer) -> None:
    out = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    stem = os.path.join(out, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".report.json", "w") as fh:
        json.dump(report, fh, indent=1, default=str)
    with open(stem + ".spans.json", "w") as fh:
        json.dump([[s.name, s.start, s.end, s.parent] for s in tracer.spans], fh)


def _shutdown(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)
    to exit."""
    if spark is None:
        return
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


if __name__ == "__main__":
    sys.exit(main())
