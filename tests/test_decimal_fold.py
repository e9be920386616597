"""Shared SQL/Spark rules have one definition each, no Spark session needed.

A pattern that spells a rule may appear only once under ``kachess_spark/``,
inside the function that owns it, so a copy cannot creep back in:

* the exact-DECIMAL cosine fold's DECIMAL zero, in ``similarity._dec_fold``;
* the MinHash-LSH band rows, in ``dedup._band_rows`` (Spark) and
  ``dedup._sql_sig_bands`` (the DuckDB twins) — a second copy could miss a
  change to ``N_HASHES`` / ``BAND_SIZE`` and desync Spark from its oracles;
* the Lloyd centroid re-assembly, in ``similarity._lloyd`` (the IVF and PQ
  trainers both run it);
* the stored-state meta write, in ``similarity._write_state`` (every
  builder and insert writes meta through it, so no copy re-types the
  schema);
* the signed ±1 projection fold, in ``similarity._signed_dots`` (the LSH
  plane bits and the random projection);
* the squared-L2 fold term, in ``similarity._dec_l2`` (the exact L2
  scores, the codeword assignment and the ADC distance tables);
* the rounded cosine, in ``similarity._cos``, across ``similarity.py``
  and ``dedup.py`` (``operators/`` keeps its own unrelated ratios);
* the positional explode of an embedding, in ``similarity._exploded``
  (``operators/lateral.py`` demonstrates LATERAL VIEW on purpose), and
  ``_exploded`` itself is called only from ``similarity._lloyd``: every
  exact score is a fold, only the per-position k-means means explode;
* the streaming twins' plumbing, in ``streaming/windows.py``: the one
  file-stream reader (``_file_stream``), the one availableNow drain
  (``_drain``) and the one interval-join condition (``_interval_join``),
  plus the events ``ts`` rule shared with the batch table
  (``catalog._events_ts``).

The PQ trainer runs one ``_lloyd`` over all subspaces, so no per-subspace
split (``_pq_subspaces``) may come back.

The texts the owners build are pinned too (a changed text would change
every plan or oracle built on it)."""

from __future__ import annotations

import ast
import os
import re

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PKG = os.path.join(_REPO, "kachess_spark")
_FOLD_ZERO = re.compile(
    r"CAST\(\s*0\s+AS\s+(\{PDEC\}|decimal\(\s*28\s*,\s*14\s*\))", re.IGNORECASE
)
_SQL_BAND = re.compile(r"AS band_key FROM sigs")
_SPARK_BAND = re.compile(r"posexplode\(band_structs\)")
_LLOYD_MEANS = re.compile(r"collect_list\(struct\(pos, mv\)\)")
_META_WRITE = re.compile(r'parquet\(os\.path\.join\(\w+, "meta"\)\)')
_SIGNED_FOLD = re.compile(r"transform\(signs, s ->")
_L2_TERM = re.compile(r"\*\s*\(CAST\(x AS DOUBLE\) - CAST\(y AS DOUBLE\)\)")
_ROUNDED_COS = re.compile(r"/ F\.sqrt\(")
_EMB_EXPLODE = re.compile(r'posexplode\("embedding"\)')
_EXPLODED_CALL = re.compile(r"(?<!def )\b_exploded\(")
_SCORING = ("pipeline/similarity.py", "pipeline/dedup.py")
_READ_STREAM = re.compile(r"\breadStream\b")
_NANOS_AS_LONG = re.compile(r"nanosAsLong")
_AWAIT = re.compile(r"awaitTermination\(")
_HOUR_BOUND = re.compile(r'F\.expr\("INTERVAL 1 HOUR"\)')
_PQ_SUBSPACES = re.compile(r"\b_pq_subspaces\b")


def _assert_defined_once(
    pattern: re.Pattern, owner_file: str, owner: str, scope=None
):
    """``pattern`` matches exactly one line under kachess_spark/ (or in
    the ``scope`` files only), and that line lies inside the
    module-level function ``owner`` of ``owner_file``."""
    hits = []
    for root, _, files in os.walk(_PKG):
        for name in sorted(files):
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            if scope is not None and os.path.relpath(path, _PKG) not in scope:
                continue
            with open(path) as f:
                for lineno, line in enumerate(f, 1):
                    if pattern.search(line):
                        hits.append((os.path.relpath(path, _PKG), lineno))
    assert len(hits) == 1, f"{pattern.pattern!r} spelled outside {owner}: {hits}"
    with open(os.path.join(_PKG, owner_file)) as f:
        tree = ast.parse(f.read())
    (fn,) = [
        n
        for n in tree.body
        if isinstance(n, ast.FunctionDef) and n.name == owner
    ]
    ((name, lineno),) = hits
    assert name == owner_file
    assert fn.lineno <= lineno <= fn.end_lineno, hits


def test_decimal_fold_defined_once():
    _assert_defined_once(_FOLD_ZERO, "pipeline/similarity.py", "_dec_fold")


def test_lsh_banding_defined_once():
    _assert_defined_once(_SQL_BAND, "pipeline/dedup.py", "_sql_sig_bands")
    _assert_defined_once(_SPARK_BAND, "pipeline/dedup.py", "_band_rows")


def test_similarity_steps_defined_once():
    sim = "pipeline/similarity.py"
    _assert_defined_once(_LLOYD_MEANS, sim, "_lloyd")
    _assert_defined_once(_META_WRITE, sim, "_write_state")
    _assert_defined_once(_SIGNED_FOLD, sim, "_signed_dots")
    _assert_defined_once(_L2_TERM, sim, "_dec_l2")
    _assert_defined_once(_EXPLODED_CALL, sim, "_lloyd")


def test_probe_scoring_defined_once():
    sim = "pipeline/similarity.py"
    _assert_defined_once(_ROUNDED_COS, sim, "_cos", _SCORING)
    _assert_defined_once(_EMB_EXPLODE, sim, "_exploded", _SCORING)


def test_streaming_plumbing_defined_once():
    win = "streaming/windows.py"
    _assert_defined_once(_READ_STREAM, win, "_file_stream")
    _assert_defined_once(_AWAIT, win, "_drain")
    _assert_defined_once(_HOUR_BOUND, win, "_interval_join")
    _assert_defined_once(_NANOS_AS_LONG, "catalog.py", "_events_ts")


def test_pq_trains_without_subspace_split():
    hits = []
    for root, _, files in os.walk(_PKG):
        for name in files:
            if name.endswith(".py"):
                with open(os.path.join(root, name)) as f:
                    hits += [name for line in f if _PQ_SUBSPACES.search(line)]
    assert hits == []


def test_decimal_fold_text():
    from kachess_spark.pipeline.similarity import _DEC_NORM, _dec_dot, _dec_l2

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
    diff = "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))"
    assert _dec_l2("a", "b") == (
        f"aggregate(zip_with(a, b, (x, y) ->"
        f" CAST({diff} * {diff} AS {d})),"
        f" CAST(0 AS {d}), (acc, v) -> CAST(acc + v AS {d}))"
    )


def test_sig_bands_sql_follows_band_constants():
    """The SQL builder emits N_HASHES // BAND_SIZE bands, band b over
    mh_{b*BAND_SIZE} .. mh_{(b+1)*BAND_SIZE-1}: together every signature
    column mh_0 .. mh_{N_HASHES-1}, each once, in order."""
    from kachess_spark.pipeline.dedup import BAND_SIZE, N_HASHES, _sql_sig_bands

    sql = _sql_sig_bands()
    bands = re.findall(
        r"SELECT doc_id, (\d+) AS band, (.+?) AS band_key FROM sigs", sql
    )
    assert [int(b) for b, _ in bands] == list(range(N_HASHES // BAND_SIZE))
    cols = [c.strip() for _, key in bands for c in key.split("|| '|' ||")]
    assert cols == [f"mh_{i}" for i in range(N_HASHES)]
    assert all(len(key.split("|| '|' ||")) == BAND_SIZE for _, key in bands)
    sigs = sql[: sql.index("bands AS")]
    assert re.findall(r"AS (mh_\d+)", sigs) == cols
