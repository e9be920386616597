"""SparkSession factory tuned for the target deployment.

Local testing runs ``local[N]`` but every setting is chosen for a large
multi-executor cluster reading ~100 TB:

* AQE on (runtime coalescing, skew-join splitting, dynamic join strategy)
* broadcast threshold generous enough for dimension tables
* shuffle partitions sized by env (cluster submit scripts override)
* UTC session timezone so timestamp semantics are storage-stable
* Arrow enabled for the (rare) Pandas-UDF paths
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import SparkSession


def get_spark(app_name: str = "kachess_spark", master: str | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("KACHESS_SPARK_MASTER", f"local[{cpus}]")
    shuffle_parts = os.environ.get("KACHESS_SHUFFLE_PARTITIONS", cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", shuffle_parts)
        # AQE picks the REAL reduce parallelism by coalescing down from
        # this ceiling, so a corpus-sized aggregation is never pinned at
        # the static shuffle-partition count: at 128x the fixture, the
        # 32-way pair-agg reduce held ~180 MB of hash state per task —
        # past the unified-memory region exactly at that octave, and the
        # spill cascade turned the marginal octave superlinear (~3x).
        # 256-way initial keeps per-task state ~flat while AQE's 64 MB
        # advisory target folds small shuffles back to few tasks, so
        # sf0.1 walls are unchanged (BASELINE.md round-11).
        .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "256")
        # AQE coalescing minPartitionSize.  The round-14 global 256k
        # experiment (widen every sub-parallelism shuffle) was a NET
        # LOSS and is reverted to the 1m default: it fixed the descent
        # builder's 2-3-task scoring stages but grew task counts
        # suite-wide (serve maintenance 224 -> 1102, ivfpq_stored
        # 107 -> 177, ingest gate 608 -> 857), and the per-task fixed
        # costs outweighed the one builder's win.  The
        # under-parallelized Arrow scoring exchanges are widened
        # SURGICALLY instead (similarity._knn_refine_round's gated
        # spread) — see OPTIMIZATION_r14.md.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("KACHESS_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Put the directory holding ``kachess_spark`` on the Python
    workers' path, so Arrow and pandas tasks import the package from
    any working directory (a worker otherwise sees only its cwd and
    site-packages).  Workers read the path from the context's
    ``environment`` when each Python function is created, so this runs
    before any query is built."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = spark.sparkContext.environment
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if root not in paths:
        env["PYTHONPATH"] = os.pathsep.join(paths + [root])


def tune_for_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an externally-provided session.

    The driver hands us its own SparkSession in ``__spark_entry__.entry``;
    only runtime-mutable confs can be set there.  Confs this build
    refuses are skipped and named in one warning.  The package is put
    on the Python workers' path as in ``get_spark``.
    """
    unset = []
    for k, v in [
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
        ("spark.sql.adaptive.skewJoin.enabled", "true"),
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.autoBroadcastJoinThreshold", "64m"),
        ("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m"),
    ]:
        try:
            spark.conf.set(k, v)
        except Exception as e:  # non-runtime conf on this build
            unset.append(f"{k}={v} ({type(e).__name__})")
    if unset:
        warnings.warn(
            "tune_for_session could not set: " + "; ".join(unset),
            stacklevel=2,
        )
    _ship_package(spark)
    return spark
