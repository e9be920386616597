"""The exact-DECIMAL fold has one definition, no Spark session needed:
``similarity._dec_fold`` is the only place under ``kachess_spark/pipeline/``
that spells the fold's DECIMAL zero, so a copy of the fold cannot creep
back in, and the SQL text it builds is pinned (a changed text would
change every plan that scores with it)."""

from __future__ import annotations

import ast
import os
import re

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PIPELINE = os.path.join(_REPO, "kachess_spark", "pipeline")
_FOLD_ZERO = re.compile(
    r"CAST\(\s*0\s+AS\s+(\{PDEC\}|decimal\(\s*28\s*,\s*14\s*\))", re.IGNORECASE
)


def test_decimal_fold_defined_once():
    hits = []
    for name in sorted(os.listdir(_PIPELINE)):
        if not name.endswith(".py"):
            continue
        with open(os.path.join(_PIPELINE, name)) as f:
            for lineno, line in enumerate(f, 1):
                if _FOLD_ZERO.search(line):
                    hits.append((name, lineno))
    with open(os.path.join(_PIPELINE, "similarity.py")) as f:
        tree = ast.parse(f.read())
    (fold,) = [
        n
        for n in tree.body
        if isinstance(n, ast.FunctionDef) and n.name == "_dec_fold"
    ]
    assert len(hits) == 1, f"DECIMAL fold spelled outside _dec_fold: {hits}"
    name, lineno = hits[0]
    assert name == "similarity.py"
    assert fold.lineno <= lineno <= fold.end_lineno, hits


def test_decimal_fold_text():
    from kachess_spark.pipeline.similarity import _DEC_NORM, _dec_dot

    d = "decimal(28,14)"
    assert _DEC_NORM == (
        f"aggregate(embedding, CAST(0 AS {d}), (acc, x) ->"
        f" CAST(acc + CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS {d})"
        f" AS {d}))"
    )
    assert _dec_dot("a", "b") == (
        f"aggregate(zip_with(a, b, (x, y) ->"
        f" CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) AS {d})),"
        f" CAST(0 AS {d}), (acc, v) -> CAST(acc + v AS {d}))"
    )
