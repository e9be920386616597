"""Catalog shim: the driver test tables as DataFrames / temp views.

Mirrors the reference's metastore lookup layer
(sql_lineage/.../ExternalHiveMetaStore.java:30-42) in spirit: a single
place that resolves a logical table name to a physical source.  Here the
physical source is parquet under a scale-factor directory; on a real
cluster it would be a Hive/Glue catalog or a path on object storage —
only this module would change.
"""

from __future__ import annotations

import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def table_bytes(sf_dir: str, name: str) -> int:
    """On-disk (compressed parquet) size of a table — file or directory
    of part files.  Drives corpus-proportional shuffle sizing (see
    ``scaled_partitions``): cheap (a stat walk, no Spark job) and
    available before any plan runs.  A cloud deployment would swap the
    os.walk for the store's listing API; the sizing logic is the same."""
    p = table_path(sf_dir, name)
    if os.path.isfile(p):
        return os.path.getsize(p)
    total = 0
    for root, _dirs, files in os.walk(p):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def scaled_partitions(
    spark,
    sf_dir: str,
    name: str,
    expansion: float,
    part_bytes: int = 32 << 20,
    floor_at_parallelism: bool = True,
) -> int:
    """Corpus-proportional partition count for a data-expanding
    exchange: ceil(table_bytes·expansion / part_bytes), floored at the
    cluster's defaultParallelism and capped at 100k.

    ``expansion`` is the operator's measured exchange-bytes /
    parquet-bytes ratio (e.g. the TF-IDF postings explode writes ~40x
    the compressed document bytes).  A FIXED shuffle-partition count is
    the round-1 fixed-constant lesson applied to shuffles: at 64x the
    corpus the same 32 slots each carry 47 MB and the marginal octave
    cost crosses linear (BASELINE.md round-10 text_tfidf watch item);
    at 100 TB it would be a deadlock-shaped 3 TB per task.  Sizing by
    input bytes keeps per-task shuffle volume ~constant at every scale
    while AQE still coalesces if the estimate overshoots.

    ``floor_at_parallelism=False`` drops the defaultParallelism floor
    for CPU-light Python stages over FEW rows (round-13 verdict #2:
    a 32-task mapInPandas over ~600 tiny rows paid ~40 ms of per-task
    Python fixed cost per slot — the 32-core wall read 4x the 8-core
    one); callers then pick ``part_bytes`` so per-task work stays well
    above the fixed cost at any corpus size."""
    need = int(
        -(-table_bytes(sf_dir, name) * expansion // part_bytes)
    )
    floor = spark.sparkContext.defaultParallelism if floor_at_parallelism else 1
    return max(floor, min(need, 100_000))


def partitions_for_rows(
    spark, n_rows: int, row_bytes: int = 24, part_bytes: int = 32 << 20
) -> int:
    """Exchange width for a frame whose CARDINALITY is known at plan
    time (candidate pairs = n·probe·cell, refine edges = n·(2k)², …):
    ceil(rows·row_bytes / part_bytes), capped at 100k.  The row-count
    companion of ``scaled_partitions`` (round-11 verdict #6): a
    repartition pinned at defaultParallelism keeps 32 slots at every
    corpus size, so per-task volume grows with the data and crosses
    memory at ~100x — sizing from the known cardinality keeps per-task
    bytes ~constant while AQE still coalesces an overshoot.

    The FLOOR is work-derived, not core-derived (round-13 verdict #2:
    the defaultParallelism floor put 32 near-empty partitions under
    every Arrow scoring stage at small row counts, each paying the
    Python-worker/Arrow fixed cost — the 32-core walls read SLOWER
    than the 8-core ones).  Every caller feeds an Arrow cosine-kernel
    stage whose true per-row payload is the ~1 KB joined embedding
    pair, so the floor targets ~64 MB of KERNEL input per task
    (64k rows) and never exceeds the core count — at production row
    counts the byte-derived ``need`` dominates and the floor is inert.
    """
    need = int(-(-n_rows * row_bytes // part_bytes))
    floor = min(
        spark.sparkContext.defaultParallelism,
        max(1, int(-(-n_rows // 65536))),
    )
    return max(floor, min(need, 100_000))


# A physical-plan node that moves rows between tasks (shuffle, broadcast
# or a reuse of either), or a subquery; AQE wraps every plan needing one.
# Building such a plan's RDD runs those parts, so ``spread`` never does.
_EXCHANGE_NODE = re.compile(
    r"^[\s:|+\-*()\d]*(?:AdaptiveSparkPlan|\w*Exchange|\w*Subquery)", re.M
)


def spread(df: DataFrame, *keys) -> DataFrame:
    """``df`` spread across the cores for a CPU-bound per-row stage:
    ``repartition(cores, *keys)`` (round-robin with no keys).

    A small table scans as ONE split, so without the spread a single
    task runs the whole regex / fold / Python stage while the other
    cores idle.  The exchange is skipped only when ``df`` already runs
    at least one task per core with no exchange in its plan: a scan
    that is already wide (production scale) then pays no corpus-sized
    extra shuffle.  The split count is read only on an exchange-free
    plan, so the call never starts a Spark job.  Row placement is
    deterministic (round-robin sorts before it distributes), and no
    caller's result depends on it."""
    cores = df.sparkSession.sparkContext.defaultParallelism
    plan = df._jdf.queryExecution().executedPlan().toString()
    if not _EXCHANGE_NODE.search(plan) and df.rdd.getNumPartitions() >= cores:
        return df
    return df.repartition(cores, *keys)


def _kernel_spread(spark, cands: DataFrame, n_pairs: int) -> DataFrame:
    """Widen the (src, dst) input of an Arrow-kernel scoring stage that
    AQE would coalesce below the core count.  The stage's per-row cost
    is the ~1 KB JOINED row (two embeddings), ~60x the 16-byte pair
    AQE sizes the exchange by, so AQE leaves it 2-3 tasks wide at
    fixture scale (profiled: five such stages carried ~9 s of the
    descent builder's 10.5 s wall).  Gated on the pair bytes being
    under cores x 1 MB (AQE's minPartitionSize target), exactly the
    regime AQE under-spreads: at production pair volumes no second
    exchange exists.  Width is ``partitions_for_rows``' work floor
    (64k pairs a task, at most one per core); under 4 tasks the
    exchange does not pay."""
    if n_pairs * 16 >= spark.sparkContext.defaultParallelism * (1 << 20):
        return cands
    width = partitions_for_rows(spark, n_pairs, 16)
    if width < 4:
        return cands
    return cands.repartition(width, "src", "dst")


def barrier(df: DataFrame, eager: bool = False) -> DataFrame:
    """``df`` cut from its plan: the one place a plan is truncated.

    A barrier is kept for one of three reasons, named in a comment at
    each call: a loop (an iterative plan would grow by a round each
    pass), reuse (one materialization for two or more consumers), or a
    boundary (a job boundary that a later stage's sizing, a conf
    window or an optimizer trap such as the explode pushdown needs).

    With a checkpoint dir set on the session's context (Spark's own
    ``setCheckpointDir`` / deployment setting) the cut is a reliable
    ``checkpoint`` whose blocks outlive an executor; otherwise it is a
    ``localCheckpoint`` in executor block storage, which loses the
    query with the executor.  Both keep the output exprIds and scan as
    ``ExistingRDD``; ``eager`` runs the job at the call."""
    if df.sparkSession.sparkContext.getCheckpointDir():
        return df.checkpoint(eager)
    return df.localCheckpoint(eager)


# Session-scoped DataFrame cache: spark.read.parquet costs a file
# listing + schema RPC per call, and every query invocation paid it
# again for every table it touches (~50-150 ms each — measured as a
# third of some headline queries' wall, all driver-side).  DataFrames
# are immutable plan handles, so one per (session, path) is safe to
# share across queries.  The cache dict hangs OFF the session object
# itself (not a module-global map): a cached DataFrame strongly
# references its SparkSession, so a global WeakKeyDictionary would
# never release an entry (value reaches key) — as an attribute, the
# cache is a self-cycle inside the session and dies with it.
# The testdata dirs are read-only, so a cached file listing never goes
# stale (a mutable-table deployment would key on a snapshot/version).
_CACHE_ATTR = "_kachess_table_cache"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    # timestamp semantics must not depend on who built the session (the
    # external driver supplies its own): epoch arithmetic in the oracles
    # assumes UTC, and this conf is runtime-settable, so a failed set is a
    # real fault and raises.  Pinned on EVERY load — including cache hits —
    # so a caller flipping the session timezone between queries can't leak
    # local-tz semantics into a cached table's downstream plan.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    per_session = getattr(spark, _CACHE_ATTR, None)
    if per_session is None:
        per_session = {}
        setattr(spark, _CACHE_ATTR, per_session)
    key = table_path(sf_dir, name)
    cached = per_session.get(key)
    if cached is not None:
        return cached
    df = _load_table_uncached(spark, sf_dir, name)
    per_session[key] = df
    return df


def _load_table_uncached(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = table_path(sf_dir, name)
    if name == "events":
        return _events_ts(spark, lambda: spark.read.parquet(path))
    return spark.read.parquet(path)


def _events_ts(spark: SparkSession, read: Callable[[], DataFrame]) -> DataFrame:
    """``read()``'s events frame with ``ts`` as a session-tz (UTC)
    TIMESTAMP: the one rule for the batch table and its file stream.

    events.ts is TIMESTAMP(NANOS) parquet.  Depending on the Spark build
    it arrives as (a) timestamp_ntz — native nanos support, truncated to
    micros exactly like DuckDB's ns→us cast — or (b) long nanos under the
    legacy nanos-as-long parquet conf, which is set before ``read`` runs
    (a runtime conf: a failed set raises)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read()
    if isinstance(df.schema["ts"].dataType, T.LongType):
        # integer division, NOT /1000: nanos-since-epoch exceeds 2^53, so
        # float division rounds the low microsecond up on ~half the
        # values — `div` truncates exactly like DuckDB's ns→us cast
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def register_views(spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES) -> None:
    """Register each parquet table as a same-named temp view (enables spark.sql)."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def local_frame(spark: SparkSession, rows, schema: T.StructType | str) -> DataFrame:
    """Driver-side ``rows`` (tuples in ``schema``'s column order; a
    StructType or a DDL string) as a DataFrame.  Built from a
    ``pyarrow.Table``, it becomes a local relation with size statistics:
    scans of it start no Python worker, and joins against it can
    broadcast (a Python list would be parallelized as an RDD)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)


class Tables:
    """Lazy per-query accessor: ``t = Tables(spark, sf_dir); t.lineitem``."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self._spark = spark
        self._sf_dir = sf_dir
        self._cache: dict[str, DataFrame] = {}

    def __getattr__(self, name: str) -> DataFrame:
        if name.startswith("_"):
            raise AttributeError(name)
        # memoized: repeated t.nation must be the SAME DataFrame instance
        # so column references resolve across self-references in joins
        if name not in self._cache:
            self._cache[name] = load_table(self._spark, self._sf_dir, name)
        return self._cache[name]
