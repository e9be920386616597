"""Lineage data model: graph nodes/edges as dataclasses → Spark DataFrames.

Mirrors the reference's MySQL schema (sql_lineage/src/main/resources/
db_setup_ddl.sql) re-expressed columnar: ``datasets`` :38-52,
``select_item`` :65-88, ``dataset_rel`` :54-63, ``select_item_rel``
:90-100, ``table_insert`` :102-113, ``table_add_partition`` :136-146,
``sql_source`` :24-36.  Enums: DatasetType.java:3-9,
SelectSectionType.java:3-6.

IDs are deterministic per session (seeded counter), matching the
reference's ``AutoIncrement`` test mode (util/AutoIncrement.java:12-27,
``ParseSingleScript -s`` seed) so golden tests reproduce exactly.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from itertools import count

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from kachess_spark.catalog import local_frame

# DatasetType (persistable/DatasetType.java:3-9)
SUBQUERY = "SUBQUERY"
CTE = "CTE"
TABLE = "TABLE"
LATERAL_VIEW = "LATERAL_VIEW"
TEMPORARY_TABLE = "TEMPORARY_TABLE"

# SelectSectionType (persistable/SelectSectionType.java:3-6)
CTX_SELECT = "SELECT"
CTX_WHERE = "WHERE"
CTX_JOIN = "JOIN"

# proxy column name for '*'/count(*) lineage
# (SqlMetaDataExtractor.java:57 S_COL_ASTERISK)
ASTERISK = "S_COL_ASTERISK"
UNION_APPLIED = "_UNION_APPLIED_"  # extra_info flag (SqlMetaDataExtractor.java:53)


@dataclass
class SelectItem:
    """One output column/expression of a Dataset
    (persistable/SelectItem.java:10-31)."""

    id: int
    dataset_id: int
    name: str | None  # resolved output column name
    alias: str | None
    definition: str  # expression text (reconstructed from the plan)
    data_type: str | None = None  # Hive-style string, upper case, if known
    usage_context: str = CTX_SELECT
    position: int = 0
    parents: set[int] = field(default_factory=set)  # parent SelectItem ids


@dataclass
class Dataset:
    """A lineage-graph node: one SELECT block / table / CTE / lateral view
    (persistable/Dataset.java:12-38)."""

    id: int
    type: str
    name: str | None = None  # alias or synthesized name
    schema_name: str | None = None  # physical schema for TABLE
    table_name: str | None = None  # physical table for TABLE ("map_to_table")
    extra_info: str | None = None
    is_aggregated: bool = False
    items: list[SelectItem] = field(default_factory=list)
    filter_items: list[SelectItem] = field(default_factory=list)  # WHERE ctx
    join_items: list[SelectItem] = field(default_factory=list)  # JOIN ctx
    _asterisk_item: SelectItem | None = None

    def find_item(self, name: str) -> SelectItem | None:
        low = name.lower()
        for it in self.items:
            if (it.name or "").lower() == low or (it.alias or "").lower() == low:
                return it
        return None


@dataclass
class TableInsert:
    target_dataset_id: int
    source_dataset_id: int
    insert_type: str  # raw text: "INSERT OVERWRITE TABLE" / "INSERT INTO TABLE"
    partition_spec: str | None = None


@dataclass
class PartitionAdd:
    schema_name: str | None
    table_name: str
    partition_spec: str | None
    location: str | None


DATASET_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField("schema_name", T.StringType(), True),
        T.StructField("table_name", T.StringType(), True),
        T.StructField("type", T.StringType(), False),
        T.StructField("extra_info", T.StringType(), True),
        T.StructField("is_aggregated", T.BooleanType(), False),
    ]
)

SELECT_ITEM_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("dataset_id", T.LongType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField("alias", T.StringType(), True),
        T.StructField("definition", T.StringType(), True),
        T.StructField("data_type", T.StringType(), True),
        T.StructField("usage_context", T.StringType(), False),
        T.StructField("position", T.IntegerType(), False),
    ]
)

SELECT_ITEM_REL_SCHEMA = T.StructType(
    [
        T.StructField("parent_select_item_id", T.LongType(), False),
        T.StructField("child_select_item_id", T.LongType(), False),
        T.StructField("usage_context", T.StringType(), False),
    ]
)

DATASET_REL_SCHEMA = T.StructType(
    [
        T.StructField("parent_dataset_id", T.LongType(), False),
        T.StructField("child_dataset_id", T.LongType(), False),
    ]
)

TABLE_INSERT_SCHEMA = T.StructType(
    [
        T.StructField("target_dataset_id", T.LongType(), False),
        T.StructField("source_dataset_id", T.LongType(), False),
        T.StructField("insert_type", T.StringType(), False),
        T.StructField("partition_spec", T.StringType(), True),
    ]
)

PARTITION_ADD_SCHEMA = T.StructType(
    [
        T.StructField("schema_name", T.StringType(), True),
        T.StructField("table_name", T.StringType(), False),
        T.StructField("partition_spec", T.StringType(), True),
        T.StructField("location", T.StringType(), True),
    ]
)

SQL_SOURCE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("source_tag", T.StringType(), False),
        T.StructField("dialect", T.StringType(), False),
        T.StructField("system_source", T.StringType(), False),
    ]
)

DASHBOARD_DATASET_SCHEMA = T.StructType(
    [
        T.StructField("source_id", T.LongType(), False),
        T.StructField("dataset_id", T.LongType(), False),
    ]
)


class IdGen:
    """Seeded deterministic IDs (util/AutoIncrement.java:12-27)."""

    def __init__(self, seed: int = 1000):
        self._c = count(seed)

    def next(self) -> int:
        return next(self._c)


def frames(spark: SparkSession, store: "GraphStore") -> dict[str, DataFrame]:
    """Materialize the accumulated graph as Spark DataFrames."""
    ds_rows = [
        (d.id, d.name, d.schema_name, d.table_name, d.type, d.extra_info, d.is_aggregated)
        for d in store.datasets
    ]
    item_rows = []
    # edges dedup on (parent, child, context) — the reference's PRIMARY KEY
    # + INSERT IGNORE semantics (db_setup_ddl.sql:90-100,
    # LineageDbService.addSelectColumnPair:50-66)
    rel_set: set[tuple[int, int, str]] = set()
    owner: dict[int, int] = {}  # item id → its dataset id
    for d in store.datasets:
        all_items = list(d.items) + d.filter_items + d.join_items
        if d._asterisk_item is not None:
            all_items.append(d._asterisk_item)
        for it in all_items:
            owner[it.id] = it.dataset_id
            item_rows.append(
                (it.id, it.dataset_id, it.name, it.alias, it.definition,
                 it.data_type, it.usage_context, it.position)
            )
            for pid in sorted(it.parents):
                rel_set.add((pid, it.id, it.usage_context))
    # coarse WHERE/JOIN propagation: every output column also depends on the
    # filter/join columns, labeled by context (Dataset.java:205-223)
    for d in store.datasets:
        for it in d.items:
            for fl in d.filter_items:
                for pid in sorted(fl.parents):
                    rel_set.add((pid, it.id, CTX_WHERE))
            for jn in d.join_items:
                for pid in sorted(jn.parents):
                    rel_set.add((pid, it.id, CTX_JOIN))
    # dataset edges derived from item parentage (reference writes them
    # explicitly in DatasetPool.flush, DatasetPool.java:244-250)
    dsrel: set[tuple[int, int]] = set()
    for d in store.datasets:
        for it in list(d.items) + d.filter_items + d.join_items:
            for pid in it.parents:
                src = owner.get(pid)
                if src is not None and src != d.id:
                    dsrel.add((src, d.id))
    dsrel_rows = sorted(dsrel)
    ins_rows = [
        (ti.target_dataset_id, ti.source_dataset_id, ti.insert_type, ti.partition_spec)
        for ti in store.table_inserts
    ]
    part_rows = [
        (pa.schema_name, pa.table_name, pa.partition_spec, pa.location)
        for pa in store.partition_adds
    ]
    return {
        "datasets": local_frame(spark, ds_rows, DATASET_SCHEMA),
        "select_items": local_frame(spark, item_rows, SELECT_ITEM_SCHEMA),
        "select_item_rel": local_frame(spark, sorted(rel_set), SELECT_ITEM_REL_SCHEMA),
        "dataset_rel": local_frame(spark, dsrel_rows, DATASET_REL_SCHEMA),
        "table_insert": local_frame(spark, ins_rows, TABLE_INSERT_SCHEMA),
        "table_add_partition": local_frame(spark, part_rows, PARTITION_ADD_SCHEMA),
        "sql_sources": local_frame(spark, store.sql_sources, SQL_SOURCE_SCHEMA),
        "dashboard_dataset": local_frame(
            spark, store.dashboard_links, DASHBOARD_DATASET_SCHEMA
        ),
    }


@dataclass
class GraphStore:
    """Everything one extraction session accumulates (driver-side; lineage
    is metadata-sized — the reference's MySQL writes collapse to DataFrame
    construction here).  ``frames()`` builds each table as an Arrow local
    relation with size statistics, so no lineage frame starts a Python
    worker and joins between them broadcast."""

    datasets: list[Dataset] = field(default_factory=list)
    table_inserts: list[TableInsert] = field(default_factory=list)
    partition_adds: list[PartitionAdd] = field(default_factory=list)
    # (id, tag, dialect, system_source) per extracted script
    # (persistable/SqlSource.java:10-17, db_setup_ddl.sql:24-36)
    sql_sources: list[tuple[int, str, str, str]] = field(default_factory=list)
    # top-level SELECT → consuming source (closeSession:105-111,
    # db_setup_ddl.sql:115-123)
    dashboard_links: list[tuple[int, int]] = field(default_factory=list)
