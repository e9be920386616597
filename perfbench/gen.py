"""Seeded input generators for the benchmark.

Everything here is a pure function of its arguments: the same seed gives
byte-identical SQL scripts, edge lists and parquet files.  Sizes are
fixed by explicit parameters, and the seed only chooses *which* tables,
columns and parents are used, so run time does not drift with the seed.

* ``warehouse``  - N chained SQL scripts over M base tables, plus the
  table-level dependencies the generator knows each script creates.
* ``column_dag`` - a layered column DAG with bounded fan-in and depth.
* ``write_tables`` - the ten catalog tables (TPC-H-like star schema,
  events, documents, embeddings) the registry queries read.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field

import numpy as np

# --------------------------------------------------------------- warehouse

_TYPES = ("bigint", "string", "int", "boolean", "double")
_SHAPES = (
    "ctas_join",
    "create_insert_partition",
    "cte",
    "union",
    "lateral_view",
    "group_by",
    "nested_subquery",
    "multiway_join",
)


@dataclass
class Warehouse:
    """Generated scripts plus what the generator knows about them."""

    base_tables: dict[str, list[tuple[str, str]]]  # "schema.table" -> cols
    scripts: list[str]
    # (source "schema.table", target "schema.table"): every physical
    # table a script reads, paired with the table it writes
    table_deps: set[tuple[str, str]] = field(default_factory=set)
    statements: int = 0


def warehouse(
    seed: int, n_scripts: int = 120, n_base: int = 12, fan_in: int = 2
) -> Warehouse:
    """``n_scripts`` scripts over ``n_base`` base tables.

    Script i writes ``dw.t{i}``.  It reads ``fan_in`` (or 1 for the
    single-input shapes) tables drawn from the base tables and the tables
    written by the previous scripts, so lineage chains deepen as the
    warehouse grows.  Shapes cycle through ``_SHAPES`` in a fixed order;
    the seed picks the inputs and columns.
    """
    rng = random.Random(seed)
    base: dict[str, list[tuple[str, str]]] = {}
    for b in range(n_base):
        cols = [("k", "bigint")] + [
            (f"c{b}_{j}", _TYPES[(b + j) % len(_TYPES)]) for j in range(6)
        ]
        cols.append((f"arr{b}", "array<string>"))
        base[f"src.b{b}"] = cols
    # columns of every table, derived ones included; derived tables carry
    # no array column, so LATERAL VIEW always reads a base table
    tables: dict[str, list[str]] = {
        name: [c for c, _ in cols] for name, cols in base.items()
    }
    wh = Warehouse(base_tables=base, scripts=[])

    def scalar_cols(t: str) -> list[str]:
        return [c for c in tables[t] if c != "k" and not c.startswith("arr")]

    def pick_inputs(i: int, n: int) -> list[str]:
        pool = list(base) + [f"dw.t{j}" for j in range(i)]
        # favour recent tables so chains deepen instead of fanning out
        recent = pool[-16:]
        out: list[str] = []
        while len(out) < n:
            t = rng.choice(recent if rng.random() < 0.7 else pool)
            if t not in out:
                out.append(t)
        return out

    for i in range(n_scripts):
        shape = _SHAPES[i % len(_SHAPES)]
        target = f"dw.t{i}"
        if shape == "lateral_view":
            src = [rng.choice(list(base))]
        elif shape in ("multiway_join",):
            src = pick_inputs(i, fan_in + 1)
        elif shape in ("ctas_join", "union"):
            src = pick_inputs(i, fan_in)
        else:
            src = pick_inputs(i, 1)
        out_cols: list[str] = []
        a = src[0]
        ca = rng.sample(scalar_cols(a), 2)
        if shape == "ctas_join" or shape == "multiway_join":
            aliases = [f"s{j}" for j in range(len(src))]
            sel = [f"s0.k AS k"]
            out_cols.append("k")
            for j, (t, al) in enumerate(zip(src, aliases)):
                c = rng.choice(scalar_cols(t))
                name = f"v{j}"
                sel.append(f"{al}.{c} AS {name}")
                out_cols.append(name)
            joins = " ".join(
                f"JOIN {t} {al} ON s0.k = {al}.k"
                for t, al in zip(src[1:], aliases[1:])
            )
            sql = (
                f"CREATE TABLE {target} AS\n"
                f"SELECT {', '.join(sel)}\nFROM {a} s0 {joins}\n"
                f"WHERE s0.k > {rng.randrange(100)};\n"
            )
        elif shape == "create_insert_partition":
            sql = (
                f"CREATE TABLE {target} (k bigint, v0 string, v1 string)"
                f" PARTITIONED BY (ds string);\n"
                f"INSERT OVERWRITE TABLE {target} PARTITION (ds='2024-01-{i % 28 + 1:02d}')\n"
                f"SELECT k, {ca[0]}, {ca[1]} FROM {a} WHERE {ca[0]} IS NOT NULL;\n"
            )
            out_cols = ["k", "v0", "v1"]
        elif shape == "cte":
            sql = (
                f"WITH base AS (SELECT k, {ca[0]} AS x, {ca[1]} AS y FROM {a}),\n"
                f"     agg AS (SELECT k, max(x) AS mx, count(y) AS n FROM base GROUP BY k)\n"
                f"INSERT OVERWRITE TABLE {target}\nSELECT k, mx, n FROM agg;\n"
            )
            # the INSERT target needs a schema: declare it first
            sql = f"CREATE TABLE {target} (k bigint, mx string, n bigint);\n" + sql
            out_cols = ["k", "mx", "n"]
        elif shape == "union":
            b = src[1]
            cb = rng.sample(scalar_cols(b), 2)
            sql = (
                f"CREATE TABLE {target} AS\n"
                f"SELECT k, {ca[0]} AS v0, {ca[1]} AS v1 FROM {a}\nUNION ALL\n"
                f"SELECT k, {cb[0]}, {cb[1]} FROM {b};\n"
            )
            out_cols = ["k", "v0", "v1"]
        elif shape == "lateral_view":
            arr = [c for c in tables[a] if c.startswith("arr")][0]
            sql = (
                f"CREATE TABLE {target} AS\n"
                f"SELECT k, w AS v0, {ca[0]} AS v1\nFROM {a}\n"
                f"LATERAL VIEW explode({arr}) lv AS w;\n"
            )
            out_cols = ["k", "v0", "v1"]
        elif shape == "group_by":
            sql = (
                f"CREATE TABLE {target} AS\n"
                f"SELECT {ca[0]} AS g, count(1) AS n, max(k) AS k\n"
                f"FROM {a} GROUP BY {ca[0]};\n"
            )
            out_cols = ["g", "n", "k"]
        else:  # nested_subquery
            sql = (
                f"CREATE TABLE {target} AS\n"
                f"SELECT q.k, q.v0, q.v1 FROM (\n"
                f"  SELECT k, {ca[0]} AS v0, {ca[1]} AS v1\n"
                f"  FROM (SELECT k, {ca[0]}, {ca[1]} FROM {a}) inner_q\n"
                f") q WHERE q.k IS NOT NULL;\n"
            )
            out_cols = ["k", "v0", "v1"]
        tables[target] = out_cols
        for s in src:
            wh.table_deps.add((s, target))
        wh.statements += sql.count(";")
        wh.scripts.append(f"-- generated script {i}: {shape}\n" + sql)
    return wh


# --------------------------------------------------------------- column DAG


def column_dag(
    seed: int, layer_width: int = 13_000, depth: int = 5, fan_in: int = 1
) -> np.ndarray:
    """Edges ``(parent, child)`` of a layered DAG: ``depth + 1`` layers of
    ``layer_width`` column ids; every node below the top has ``fan_in``
    distinct parents in the layer above.

    With ``fan_in=1`` every node has exactly one ancestor per layer above
    it, so the closure holds exactly ``layer_width * depth*(depth+1)/2``
    pairs whatever the seed.  Larger fan-in multiplies the closure by up
    to ``fan_in**depth``; keep it small.  Ids are shuffled so that
    neither layer nor parent is readable from an id.
    """
    if fan_in < 1 or fan_in > layer_width:
        raise ValueError(f"fan_in must be in [1, {layer_width}], got {fan_in}")
    rng = np.random.default_rng(seed)
    n = layer_width * (depth + 1)
    ids = rng.permutation(n).astype(np.int64) + 1_000_000
    parts = []
    for layer in range(1, depth + 1):
        child = ids[layer * layer_width : (layer + 1) * layer_width]
        above = ids[(layer - 1) * layer_width : layer * layer_width]
        pick = rng.permutation(layer_width)
        for f in range(fan_in):
            # a distinct offset per f keeps each child's parents distinct
            parts.append(np.stack([above[(pick + f) % layer_width], child], axis=1))
    edges = np.concatenate(parts)
    return edges[np.lexsort((edges[:, 1], edges[:, 0]))]


def closure_size(layer_width: int, depth: int) -> int:
    """Closure pairs of a fan-in-1 ``column_dag``."""
    return layer_width * depth * (depth + 1) // 2


# ------------------------------------------------------------------ tables

_WORDS = (
    "a the data table row column key value hash join merge sort scan filter "
    "group agg window stream batch query spark line order customer part "
    "small big fast slow vector partitioning aggregation checkpointing"
).split()
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_EVENTS = ("click", "error", "purchase", "signup", "view")
_LANGS = ("en", "en", "en", "de", "es", "fr", "zh")

_DAY_US = 86_400 * 1_000_000


def _date_us(rng: np.random.Generator, n: int, start: str, days: int) -> np.ndarray:
    base = np.datetime64(start, "us").astype(np.int64)
    return base + rng.integers(0, days, n) * _DAY_US


def table_arrays(seed: int, sf: float = 0.01) -> dict[str, dict]:
    """Column arrays for the ten catalog tables at scale ``sf``
    (``sf=0.01`` gives 60k lineitem rows)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_evt = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb, dim = 500, 500, 64

    def money(lo: float, hi: float, n: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, n), 2)

    t: dict[str, dict] = {}
    t["region"] = {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": list(_REGIONS)}
    t["nation"] = {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }
    t["customer"] = {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    }
    t["supplier"] = {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    }
    t["part"] = {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [
            f"{_ADJ[a]} {_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [_PTYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
    }
    t["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000, 500_000, n_ord),
        "o_orderdate": _date_us(rng, n_ord, "1995-01-01", 2404),
        "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    }
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": _date_us(rng, n_line, "1995-01-02", 2498),
    }
    ts = np.sort(
        np.datetime64("2024-01-01", "us").astype(np.int64)
        + rng.integers(0, 30 * _DAY_US, n_evt)
    )
    t["events"] = {
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, 150, n_evt).astype(np.int64),
        "event_type": [_EVENTS[i] for i in rng.integers(0, 5, n_evt)],
        "value": np.round(rng.exponential(50, n_evt), 2) + 0.01,
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_evt)],
    }
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document, as the dedup
            # operators expect to find
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_words = int(rng.integers(8, 90))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), n_words)))
    t["documents"] = {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": [_LANGS[i] for i in rng.integers(0, len(_LANGS), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    }
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, dim))
    vec = rng.normal(0, 1, (n_emb, dim)) + 0.15 * centers[labels]
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": [row.astype(np.float32) for row in vec],
        "label": labels.astype(np.int32),
    }
    return t


def write_tables(out_dir: str, seed: int, sf: float = 0.01) -> dict[str, int]:
    """Write ``<out_dir>/<table>.parquet`` for every catalog table and
    return the row count of each."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, cols in table_arrays(seed, sf).items():
        arrays = {}
        for c, v in cols.items():
            if isinstance(v, np.ndarray) and v.dtype == np.int64 and c in (
                "o_orderdate", "l_shipdate", "ts"
            ):
                arrays[c] = pa.array(v.astype("datetime64[us]"), pa.timestamp("us"))
            elif c == "embedding":
                arrays[c] = pa.array([x.tolist() for x in v], pa.list_(pa.float32()))
            else:
                arrays[c] = pa.array(v)
        table = pa.table(arrays)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
