"""Shared SQL/Spark rules have one definition each, no Spark session needed.

The clone guard (``test_no_cloned_code_runs``) fails on any run of
``_CLONE_WINDOW`` code lines written twice, within a file or across files,
under ``kachess_spark/``, ``tools/`` or in ``bench.py``.  Lines compare
with comments, blank lines and docstrings dropped and whitespace
collapsed, so a pasted block cannot hide behind reformatting.  A
deliberate twin needs an entry, with its reason, in ``_CLONE_ALLOWED``.

Shorter spellings slip under that window, so a pattern that spells a rule
may also appear only once under ``kachess_spark/``, inside the function
that owns it:

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

Partition width has one owner: ``defaultParallelism`` and
``getNumPartitions`` appear as code only in ``catalog.py`` (``spread`` and
the sizing rules), so no call site sizes its own exchange.

Plan cuts have one owner too: ``localCheckpoint(`` and ``.checkpoint(``
appear as code only in ``catalog.py`` (``barrier``), under
``kachess_spark/``, ``tools/`` and in ``bench.py``, and every
``barrier(`` call names its reason (loop, reuse or boundary) in a
``# barrier:`` comment just above it.

The texts the owners build are pinned too (a changed text would change
every plan or oracle built on it)."""

from __future__ import annotations

import ast
import io
import os
import re
import tokenize

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
_CORE_COUNT = re.compile(r"\b(?:defaultParallelism|getNumPartitions)\b")
_CHECKPOINT = re.compile(r"\blocalCheckpoint\(|\.checkpoint\(")
_BARRIER_CALL = re.compile(r"(?<![\w.])barrier\(")
_BARRIER_REASON = re.compile(r"# barrier: (?:loop|reuse|boundary) — ")
# how far above its call a barrier's reason comment may start
_REASON_REACH = 8

_CLONE_WINDOW = 8
# Deliberate twins: the sorted ("path::scope", "path::scope") pair of
# the two copies' first lines (see _scope) → why the run stays twice.
_CLONE_ALLOWED: dict[tuple[str, str], str] = {}


def _py_files(top: str):
    """Every ``.py`` file under ``top``, in a stable order."""
    for root, dirs, files in os.walk(top):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                yield os.path.join(root, name)


def _checked_sources():
    """(repo-relative path, source) of every file the guards read."""
    paths = [
        *_py_files(_PKG),
        *_py_files(os.path.join(_REPO, "tools")),
        os.path.join(_REPO, "bench.py"),
    ]
    for path in paths:
        with open(path) as f:
            yield os.path.relpath(path, _REPO), f.read()


def _code_lines(src: str) -> list[tuple[int, str]]:
    """(line number, text) of each code line of ``src``: comments, blank
    lines and docstrings (any string standing alone as a statement)
    dropped, each run of whitespace collapsed to one space."""
    comment_at: dict[int, int] = {}
    doc_lines: set[int] = set()
    prev, doc = tokenize.NEWLINE, None
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type == tokenize.COMMENT:
            comment_at[tok.start[0]] = tok.start[1]
            continue
        if tok.type == tokenize.NL:
            continue
        if doc is not None and tok.type == tokenize.NEWLINE:
            doc_lines.update(range(doc.start[0], doc.end[0] + 1))
        starts_statement = prev in (
            tokenize.NEWLINE, tokenize.INDENT, tokenize.DEDENT
        )
        doc = tok if tok.type == tokenize.STRING and starts_statement else None
        prev = tok.type
    out = []
    for lineno, line in enumerate(src.splitlines(), 1):
        text = " ".join(line[: comment_at.get(lineno)].split())
        if text and lineno not in doc_lines:
            out.append((lineno, text))
    return out


def _scope(path: str, lineno: int) -> str:
    """``path::name`` of the innermost def or class holding ``lineno``
    of the repo file ``path`` (``path::<module>`` outside any)."""
    with open(os.path.join(_REPO, path)) as f:
        tree = ast.parse(f.read())
    holders = [
        n
        for n in ast.walk(tree)
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        and n.lineno <= lineno <= n.end_lineno
    ]
    inner = max(holders, key=lambda n: n.lineno, default=None)
    return f"{path}::{inner.name if inner else '<module>'}"


def test_no_cloned_code_runs():
    """No run of ``_CLONE_WINDOW`` code lines appears twice under
    kachess_spark/, tools/ or in bench.py, unless ``_CLONE_ALLOWED``
    names the pair with a reason; every entry there still clones."""
    first: dict[tuple[str, ...], tuple[str, int, int]] = {}
    found: dict[tuple[str, str], str] = {}
    for rel, src in _checked_sources():
        lines = _code_lines(src)
        texts = [text for _, text in lines]
        run = None  # the twin of the previous window, to report a run once
        for i in range(len(lines) - _CLONE_WINDOW + 1):
            window = tuple(texts[i : i + _CLONE_WINDOW])
            if window not in first:
                first[window] = (rel, i, lines[i][0])
                run = None
                continue
            twin_rel, twin_i, twin_line = first[window]
            if run != (twin_rel, twin_i - 1):
                a, b = _scope(twin_rel, twin_line), _scope(rel, lines[i][0])
                found.setdefault(
                    (min(a, b), max(a, b)),
                    f"{twin_rel}:{twin_line} == {rel}:{lines[i][0]}",
                )
            run = (twin_rel, twin_i)
    assert all(_CLONE_ALLOWED.values()), "every allowed twin needs a reason"
    clones = sorted(v for k, v in found.items() if k not in _CLONE_ALLOWED)
    assert clones == [], (
        f"runs of {_CLONE_WINDOW}+ code lines written twice; give the stage"
        f" one private definition: {clones}"
    )
    stale = sorted(set(_CLONE_ALLOWED) - set(found))
    assert stale == [], f"_CLONE_ALLOWED pairs that no longer clone: {stale}"


def test_code_lines_drop_comments_blanks_and_docstrings():
    """Multi-line strings other than docstrings (the SQL texts) stay,
    one code line per physical line."""
    src = (
        '"""Module doc."""\n'
        "\n"
        "def f(a):  # note\n"
        '    """Doc\n'
        '    more."""\n'
        '    q = """\n'
        "      SELECT   a\n"
        '    """\n'
        "    return   q\n"
    )
    assert _code_lines(src) == [
        (3, "def f(a):"),
        (6, 'q = """'),
        (7, "SELECT a"),
        (8, '"""'),
        (9, "return q"),
    ]


def _assert_defined_once(
    pattern: re.Pattern, owner_file: str, owner: str, scope=None
):
    """``pattern`` matches exactly one line under kachess_spark/ (or in
    the ``scope`` files only), and that line lies inside the
    module-level function ``owner`` of ``owner_file``."""
    hits = []
    for path in _py_files(_PKG):
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
    for path in _py_files(_PKG):
        with open(path) as f:
            hits += [path for line in f if _PQ_SUBSPACES.search(line)]
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


def test_partition_width_read_only_in_catalog():
    hits = []
    for path in _py_files(_PKG):
        rel = os.path.relpath(path, _PKG)
        if rel == "catalog.py":
            continue
        with open(path) as f:
            hits += [
                f"{rel}:{lineno}"
                for lineno, text in _code_lines(f.read())
                if _CORE_COUNT.search(text)
            ]
    assert hits == [], f"size the exchange with catalog.spread: {hits}"


def test_plan_cut_only_in_catalog():
    hits = [
        f"{rel}:{lineno}"
        for rel, src in _checked_sources()
        if rel != os.path.join("kachess_spark", "catalog.py")
        for lineno, text in _code_lines(src)
        if _CHECKPOINT.search(text)
    ]
    assert hits == [], f"cut the plan with catalog.barrier: {hits}"


def test_every_barrier_names_its_reason():
    missing = []
    for rel, src in _checked_sources():
        lines = src.splitlines()
        for lineno, text in _code_lines(src):
            if _BARRIER_CALL.search(text) and not text.startswith("def "):
                above = lines[max(0, lineno - 1 - _REASON_REACH) : lineno]
                if not any(_BARRIER_REASON.search(x) for x in above):
                    missing.append(f"{rel}:{lineno}")
    assert missing == [], f"add a '# barrier: <reason> — ' comment: {missing}"
