"""Scan / projection / filter / exact-dedup operators.

Generalizes the reference's data plane: its only relational operators are a
multi-file parquet scan (reference: src/glue_scripts/bronze_to_silver.py:45)
and an identity transform slot (bronze_to_silver.py:46). Here the slot is
filled with real projections/filters, expressed declaratively so Catalyst
pushes predicates and prunes columns at the parquet scan (verify with
``.explain``: ``PushedFilters`` / ``ReadSchema``).

Scale notes: every query below is a single scan with no shuffle except
``dedup_exact`` (one hash-partition exchange on the dedup key — map-side
partial aggregation does not apply, but AQE coalesces the output).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window

from . import Query
from ._util import t, scratch_root


def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full parquet scan of lineitem, stable column order (catalog pins it)."""
    return t(spark, sf_dir, "lineitem")


SCAN_SQL = """
SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
       l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus,
       l_shipdate
FROM lineitem
"""


def project_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + alias + computed column (per-row double math is
    deterministic IEEE, no rounding needed)."""
    li = t(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_orderkey").alias("order_key"),
        F.col("l_linenumber").alias("line_no"),
        F.col("l_extendedprice").alias("price"),
        F.col("l_discount").alias("discount"),
        (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).alias(
            "revenue"
        ),
    )


PROJECT_SQL = """
SELECT l_orderkey AS order_key,
       l_linenumber AS line_no,
       l_extendedprice AS price,
       l_discount AS discount,
       l_extendedprice * (1.0 - l_discount) AS revenue
FROM lineitem
"""


def filter_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive predicates: date range + IN + BETWEEN. All three reach
    the parquet scan as PushedFilters."""
    li = t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1999-01-01")))
        & F.col("l_returnflag").isin("A", "R")
        & F.col("l_quantity").between(10.0, 40.0)
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
             "l_returnflag", "l_shipdate")


FILTER_SQL = """
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
       l_returnflag, l_shipdate
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1999-01-01'
  AND l_returnflag IN ('A', 'R')
  AND l_quantity BETWEEN 10.0 AND 40.0
"""


def filter_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe predicates on events.value (nullable by construction)."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.filter(F.col("value").isNull() | (F.col("value") > 150.0))
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.col("value").isNull().alias("value_missing"),
            F.coalesce(F.col("value"), F.lit(0.0)).alias("value_filled"),
        )
    )


FILTER_NULL_SQL = """
SELECT event_id, user_id, event_type,
       value IS NULL AS value_missing,
       COALESCE(value, 0.0) AS value_filled
FROM events
WHERE value IS NULL OR value > 150.0
"""


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on a natural key, keep-earliest semantics.

    Generalizes the reference's month-level idempotency filter (reference:
    src/lambda_functions/fetch_raw_data.py:134-138 — skip if already
    processed) from partition granularity to row granularity. Implemented as
    ``row_number() = 1`` rather than ``dropDuplicates`` because
    dropDuplicates keeps an *arbitrary* row per key — fine for idempotency,
    wrong for a deterministic contract. At scale this is one shuffle on the
    key; a pre-bucketed table would eliminate it.
    """
    ev = t(spark, sf_dir, "events")
    # NULLS LAST, pinned on both engines: a row with no timestamp is
    # never "the earliest" (Spark's asc default is NULLS FIRST, DuckDB's
    # is NULLS LAST — unpinned, a null-ts drift flips which row wins).
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").asc_nulls_last(), "event_id"
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", "user_id", "event_type", "value", "props")
    )


DEDUP_SQL = """
SELECT event_id, user_id, event_type, value, props
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY user_id, event_type
        ORDER BY ts NULLS LAST, event_id) AS rn
    FROM events
) WHERE rn = 1
"""


# Declared superset schema for the drifted multi-file scan below. The
# engine's schema-evolution contract: the reader declares the CURRENT
# schema; historical files may lack columns (read as NULL) or store a
# narrower physical type (widened on read — Spark 4 parquet readers
# upcast int32→int64 etc.).
MERGE_SCHEMA_DECLARED = StructType(
    [
        StructField("o_orderkey", LongType()),
        StructField("o_custkey", LongType()),
        StructField("o_totalprice", DoubleType()),
        StructField("o_orderpriority", StringType()),
    ]
)


def stage_drifted_orders(sf_dir: str, base: str) -> tuple[str, str]:
    """Fabricate the two 'monthly drop' files whose schemas drift — the
    situation the reference's multi-file scan hits on real TLC data
    (reference: src/glue_scripts/bronze_to_silver.py:45 reads N monthly
    files in one call; TLC months add/retype columns across years).

    v1 (old producer): rows with ``o_orderkey % 3 != 0``; ``o_orderkey``
    stored as *int32* and NO ``o_orderpriority`` column.
    v2 (new producer): the remaining rows; ``o_orderkey`` widened to
    int64 and ``o_orderpriority`` added.

    Driver-side pyarrow scaffolding (same rationale as
    split_parquet_by_mod): the operator under test is the Spark read, not
    the fabrication."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    tbl = pq.read_table(
        os.path.join(sf_dir, "orders.parquet"),
        columns=["o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"],
    )
    mod = pa.array(tbl["o_orderkey"].to_numpy(zero_copy_only=False) % 3 == 0)
    old = tbl.filter(pc.invert(mod)).drop_columns(["o_orderpriority"])
    old = old.set_column(
        0, "o_orderkey", pc.cast(old["o_orderkey"], pa.int32())
    )
    new = tbl.filter(mod)
    if os.path.exists(base):
        shutil.rmtree(base)
    os.makedirs(base)
    p_old = os.path.join(base, "orders_2019_01.parquet")
    p_new = os.path.join(base, "orders_2019_02.parquet")
    pq.write_table(old, p_old)
    pq.write_table(new, p_new)
    return p_old, p_new


def scan_merge_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-drift multi-file scan: one declared-schema read over files
    whose physical schemas differ (missing column → NULL, int32 → int64
    widened). This is the production shape of the reference's bronze scan
    (bronze_to_silver.py:45) once monthly files drift.

    Scale: a plain multi-file parquet scan — no shuffle, no per-file
    driver loop; schema resolution is per-file at the reader, so 10⁵
    drifted files cost the same plan. ``mergeSchema`` (footer-union) is
    deliberately NOT used: it both fails on retyped columns and requires
    a footer pass over every file at planning time — the declared-schema
    contract is the 100 TB-sane one."""
    base = os.path.join(scratch_root(), "scan_merge_schema")
    p_old, p_new = stage_drifted_orders(sf_dir, base)
    return spark.read.schema(MERGE_SCHEMA_DECLARED).parquet(p_old, p_new)


# Oracle reconstructs the drift from the base table: rows from the old
# file (o_orderkey % 3 != 0) must surface NULL o_orderpriority.
MERGE_SCHEMA_SQL = """
SELECT o_orderkey,
       o_custkey,
       o_totalprice,
       CASE WHEN o_orderkey % 3 = 0 THEN o_orderpriority END
           AS o_orderpriority
FROM orders
"""


def scan_pydatasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan through a custom Python Data Source (PySpark 4 API,
    sources/pyds.py): N planned input partitions, each read executor-side
    — the engine's pattern for systems without a Spark connector. The
    source is deterministic, so the oracle replays it relationally."""
    from ..sources import RangeHashDataSource

    # register() replaces an existing registration, so repeated calls are
    # safe — and a real failure (API missing, broken import) surfaces
    # here with its true cause rather than as DATA_SOURCE_NOT_FOUND later
    spark.dataSource.register(RangeHashDataSource)
    return (
        spark.read.format("range_hash")
        .option("n", 20_000)
        .option("parts", 8)
        .load()
    )


SCAN_PYDS_SQL = """
SELECT i AS id,
       CAST(i % 8 AS INTEGER) AS part,
       md5(CAST(i AS VARCHAR)) AS h
FROM range(0, 20000) t(i)
"""


QUERIES: dict[str, Query] = {
    "scan_parquet": Query(scan_parquet, SCAN_SQL, "full lineitem scan"),
    "scan_merge_schema": Query(
        scan_merge_schema, MERGE_SCHEMA_SQL,
        "declared-schema evolution over drifted multi-file scan",
        build="side_effects",
    ),
    "scan_pydatasource": Query(
        scan_pydatasource, SCAN_PYDS_SQL,
        "custom Python Data Source scan (partition-planned parallel read)",
    ),
    "project_rename": Query(project_rename, PROJECT_SQL, "select+alias+compute"),
    "filter_pred": Query(filter_pred, FILTER_SQL, "conjunctive pushdown filters"),
    "filter_null": Query(filter_null, FILTER_NULL_SQL, "null-safe predicates"),
    "dedup_exact": Query(dedup_exact, DEDUP_SQL, "keep-earliest exact dedup"),
}
