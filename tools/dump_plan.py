"""Dump ``explain("formatted")`` for registered queries to files —
the plan evidence committed under plans/<round>/ (guide §1: capture
the plan shape — Exchange count, join strategy, PushedFilters,
Python-boundary nodes — before and after each optimization).

Usage: python tools/dump_plan.py <out_dir> <suffix> <name> [name...]
       (suffix is "before" or "after"; files land at
        <out_dir>/<name>_<suffix>.txt)
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    os.makedirs(out_dir, exist_ok=True)

    from kachess_spark import registry
    from kachess_spark.catalog import DEFAULT_SF_DIR as sf_dir
    from kachess_spark.session import get_spark

    registry.load_all()
    spark = get_spark("kachess-plans")
    spark.sparkContext.setLogLevel("ERROR")

    for name in names:
        fn = registry.QUERIES[name]
        df = fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")


if __name__ == "__main__":
    main()
