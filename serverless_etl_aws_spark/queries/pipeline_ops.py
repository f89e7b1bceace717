"""Pipeline-semantics contract keys: incremental exactly-once ingest and
partitioned sink with pruned read-back (SURVEY.md §2B `ingest_incremental`,
`sink_partitioned`).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import events_reader_setup
from ..pipeline.ingest import MAX_RECORDS_PER_FILE, IncrementalIngest
from ..streaming.windows import split_parquet_by_mod
from . import Query
from ._util import dsum, sql_dsum, t, scratch_root, fresh_dir

SCRATCH = scratch_root()


def ingest_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O7/O8 replacement, demonstrated across two runs: run 1 drains two
    bronze files; run 2 (same checkpoint) finds nothing new — the
    reference's tag-skip semantics (s3_operations.py:30-33) from the
    streaming file-source checkpoint. Returns one row per run.

    Graduated from rows-only to HASH-CHECKED in round 6: the
    exactly-once contract IS relational — run 1 must ingest exactly
    ``COUNT(*) FROM events`` rows (the two bronze files partition the
    fixture), run 2 must ingest exactly 0, and the silver total must
    equal the fixture count after BOTH runs (a double-append — the
    reference's commit-in-``finally`` bug — would double it). The
    oracle states those three numbers directly, so any reprocessing,
    loss, or duplication hash-mismatches instead of merely "running".
    """
    base = fresh_dir(os.path.join(SCRATCH, "ingest_incremental"))
    bronze = os.path.join(base, "bronze")
    silver = os.path.join(base, "silver")
    ckpt = os.path.join(base, "_checkpoint")
    os.makedirs(bronze)

    # Two deterministic bronze files derived from the events fixture, laid
    # flat in the landing dir (the reference's bronze layout:
    # data_downloader.py:31-32 writes flat timestamped parquet files).
    split_parquet_by_mod(
        os.path.join(sf_dir, "events.parquet"), bronze, 2,
        order_col="event_id",
    )
    read_schema, normalize_ts = events_reader_setup(spark, bronze)

    pipe = IncrementalIngest(
        spark,
        bronze_dir=bronze,
        silver_dir=silver,
        checkpoint_dir=ckpt,
        schema=read_schema,
        partition_by="event_type",
        transform=normalize_ts,
    )
    r1 = pipe.run_once()
    r2 = pipe.run_once()  # nothing new → 0 files, 0 rows
    # schema-pinned read-back: a zero-row corpus drains zero batches, so
    # the sink dir may hold no data files (or not exist) — an
    # incremental no-op run reads as 0 silver rows, not a schema-
    # inference error
    silver_schema = normalize_ts(spark.createDataFrame([], read_schema)).schema
    silver_rows = (
        spark.read.schema(silver_schema).parquet(silver).count()
        if os.path.isdir(silver)
        else 0
    )
    return spark.createDataFrame(
        [
            (1, r1.rows_ingested, silver_rows),
            (2, r2.rows_ingested, silver_rows),
        ],
        schema="run int, rows_ingested long, silver_total long",
    )


INGEST_INCREMENTAL_SQL = """
SELECT CAST(1 AS INT) AS run,
       CAST(COUNT(*) AS BIGINT) AS rows_ingested,
       CAST(COUNT(*) AS BIGINT) AS silver_total
FROM events
UNION ALL
SELECT CAST(2 AS INT), CAST(0 AS BIGINT),
       (SELECT CAST(COUNT(*) AS BIGINT) FROM events)
"""


def sink_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O13: partitioned append write, then a partition-pruned read-back.

    The write mirrors the reference's silver sink
    (bronze_to_silver.py:84-85: ``mode("append").partitionBy(...)``) with
    l_returnflag as the bounded-cardinality partition column. The read-back
    filters one partition — Catalyst prunes to a single directory (verify:
    ``.explain`` shows ``PartitionFilters: [isnotnull(l_returnflag),
    (l_returnflag = R)]``) — and aggregates, which the oracle checks against
    the original table.
    """
    out = fresh_dir(os.path.join(SCRATCH, "sink_partitioned"))
    li = t(spark, sf_dir, "lineitem")
    (
        li.write.mode("append")
        .option("maxRecordsPerFile", MAX_RECORDS_PER_FILE)
        .partitionBy("l_returnflag")
        .parquet(out)
    )
    # schema-pinned read-back: an empty write produces no files, and an
    # empty sink must read as an empty table, not a schema-inference
    # error (the schema is the written df's own)
    back = (
        spark.read.schema(li.schema)
        .parquet(out)
        .filter(F.col("l_returnflag") == "R")
    )
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("line_count"),
        dsum("l_quantity").alias("sum_qty"),
    )


SINK_PARTITIONED_SQL = f"""
SELECT l_returnflag,
       COUNT(*) AS line_count,
       {sql_dsum('l_quantity')} AS sum_qty
FROM lineitem
WHERE l_returnflag = 'R'
GROUP BY l_returnflag
"""


def rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silver→gold incremental rollup (the reference's unbuilt milestone,
    README.md:108-111): two-batch ingest of events maintains a gold daily
    per-event-type aggregate via partition-scoped recompute
    (pipeline/rollup.py). The oracle recomputes gold directly from the
    events table — the maintained table must equal the from-scratch
    aggregate.

    Bench-history note (round-4 audit of the flagged r2→r3 "regression",
    2.76→3.84 s warm): the r2 number was an artifact, not a baseline.
    Round 2 ran the pre-footer-sniff ns decode against the already-µs
    fixture, which collapsed every event to 1970-01-20 — the pipeline
    maintained ONE gold date partition instead of ~30, so every silver
    and gold commit was ~30× narrower. Re-running the r2 code on a
    correct-unit fixture on the same machine measures 3.8–4.4 s warm,
    i.e. equal to current code: the delta was the price of the correct
    answer. (Evidence + method: docs/SCALING.md "Bench regression
    audits".)"""
    from ..pipeline.rollup import PartitionedRollup

    base = fresh_dir(os.path.join(SCRATCH, "rollup_incremental"))
    bronze = os.path.join(base, "bronze")
    silver = os.path.join(base, "silver")
    gold = os.path.join(base, "gold")
    os.makedirs(bronze)

    split_parquet_by_mod(
        os.path.join(sf_dir, "events.parquet"), bronze, 2,
        order_col="event_id",
    )
    read_schema, normalize_ts = events_reader_setup(spark, bronze)

    def to_silver(df):
        return normalize_ts(df).withColumn(
            "event_date", F.date_format("ts", "yyyy-MM-dd")
        )

    def to_gold(silver_df):
        return silver_df.groupBy("event_date", "event_type").agg(
            F.count(F.lit(1)).alias("event_count"),
            F.round(
                F.sum(F.coalesce(F.col("value"), F.lit(0.0)).cast("decimal(18,4)")),
                2,
            ).cast("double").alias("sum_value"),
        )

    rollup = PartitionedRollup(
        spark, silver_dir=silver, gold_dir=gold,
        partition_col="event_date", aggregate=to_gold,
    )
    pipe = IncrementalIngest(
        spark,
        bronze_dir=bronze,
        silver_dir=silver,
        checkpoint_dir=os.path.join(base, "_checkpoint"),
        schema=read_schema,
        partition_by="event_date",
        transform=to_silver,
        max_files_per_trigger=1,  # two batches → two incremental refreshes
        post_batch=rollup.refresh_for_batch,
    )
    pipe.run_once()
    # event_date is a date: gold is aggregated from the silver read, whose
    # partition discovery types the yyyy-MM-dd directory names as dates
    return rollup.read_gold(
        empty_schema="event_date date, event_type string, "
        "event_count bigint, sum_value double"
    ).select("event_date", "event_type", "event_count", "sum_value")


ROLLUP_SQL = """
SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS event_date,
       event_type,
       COUNT(*) AS event_count,
       CAST(ROUND(SUM(CAST(CASE WHEN isfinite(COALESCE(value, 0.0))
                            THEN COALESCE(value, 0.0) END
                       AS DECIMAL(18,4))), 2)
            AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
"""


def rollup_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-shaped gold maintenance (VERDICT r3 gap #2): late-arriving
    rows MODIFY existing gold rows instead of appending new ones.

    Build gold from the on-time half of events (event_id % 2 = 0), then a
    late delta (the other half — same dates, same event types) arrives and
    is upserted: the delta's partial aggregates merge by (event_date,
    event_type) into rows that already exist in gold. The oracle is the
    from-scratch aggregate over ALL events — an append-not-merge bug would
    double the row count, and a lossy merge would miss counts, so the hash
    check distinguishes upsert from both.

    Exactness: gold stores the sum partial as DECIMAL(18,4) (unrounded)
    and rounds only in the final read — merging two rounded partials would
    drift from the oracle's single rounding in the last cent.

    Scale: cost ∝ gold slice + delta aggregate, never silver history —
    the right maintenance shape when a few late rows land in big,
    already-built partitions."""
    from ..pipeline.rollup import PartitionedRollup

    base = fresh_dir(os.path.join(SCRATCH, "rollup_upsert"))
    gold = os.path.join(base, "gold")

    ev = t(spark, sf_dir, "events").withColumn(
        "event_date", F.date_format("ts", "yyyy-MM-dd")
    )

    def to_gold_partial(df):
        return df.groupBy("event_date", "event_type").agg(
            F.count(F.lit(1)).alias("event_count"),
            F.sum(F.coalesce(F.col("value"), F.lit(0.0)).cast("decimal(18,4)"))
            .cast("decimal(18,4)")
            .alias("sum_value_exact"),
        )

    rollup = PartitionedRollup(
        spark, silver_dir=base, gold_dir=gold,
        partition_col="event_date", aggregate=to_gold_partial,
    )
    # initial build: the on-time half (committed through the same atomic
    # manifest table the upsert uses — gold state is never a bare dir).
    # pmod, not %: Spark % keeps the dividend's sign, so `% 2 == 1`
    # matches NO negative odd id (remainder -1) and those rows would
    # land in NEITHER half — silent data loss on an arbitrary-integer
    # id space (round-10 negative-ids sweep). pmod partitions exactly.
    on_time = to_gold_partial(ev.filter(F.pmod(F.col("event_id"), 2) == 0))
    rollup.table.commit_overwrite_partitions(on_time.coalesce(1))
    # late delta: the other half, landing in the SAME partitions/keys
    delta = to_gold_partial(ev.filter(F.pmod(F.col("event_id"), 2) == 1))

    def merge(both):
        return both.groupBy("event_date", "event_type").agg(
            F.sum("event_count").alias("event_count"),
            F.sum("sum_value_exact").cast("decimal(18,4)")
            .alias("sum_value_exact"),
        )

    rollup.upsert(delta, merge)
    return rollup.read_gold(
        empty_schema="event_date string, event_type string, "
        "event_count bigint, sum_value_exact decimal(18,4)"
    ).select(
        "event_date",
        "event_type",
        "event_count",
        F.round(F.col("sum_value_exact"), 2).cast("double").alias("sum_value"),
    )


ROLLUP_UPSERT_SQL = """
SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS event_date,
       event_type,
       COUNT(*) AS event_count,
       CAST(ROUND(SUM(CAST(CASE WHEN isfinite(COALESCE(value, 0.0))
                            THEN COALESCE(value, 0.0) END
                       AS DECIMAL(18,4))), 2)
            AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
"""


def export_warehouse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gold→warehouse hand-off (the reference's declared Redshift
    milestone, reference README.md:4 + 117-118): aggregate orders to a
    gold shape, export it through the COPY-manifest layer
    (pipeline/export.py), then read back EXACTLY the files the manifest
    names — what the warehouse loader would ingest. The oracle recomputes
    the gold aggregate directly, so a lossy or duplicated export (missed
    part file, double batch) hash-mismatches."""
    from ..pipeline.export import WarehouseExporter

    base = fresh_dir(os.path.join(SCRATCH, "export_warehouse"))
    gold = t(spark, sf_dir, "orders").groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count"),
        dsum("o_totalprice").alias("sum_totalprice"),
    )
    exporter = WarehouseExporter(base)
    manifest = exporter.export(gold, "gold_orders")
    return exporter.read_batch(spark, manifest).select(
        "o_orderpriority", "order_count", "sum_totalprice"
    )


EXPORT_WAREHOUSE_SQL = f"""
SELECT o_orderpriority,
       COUNT(*) AS order_count,
       {sql_dsum('o_totalprice')} AS sum_totalprice
FROM orders
GROUP BY o_orderpriority
"""


QUERIES: dict[str, Query] = {
    "rollup_incremental": Query(
        rollup_incremental, ROLLUP_SQL,
        "incrementally-maintained silver→gold rollup",
        build="side_effects",
    ),
    "ingest_incremental": Query(
        ingest_incremental, INGEST_INCREMENTAL_SQL,
        "exactly-once incremental ingest: run1 = all rows, run2 = 0, "
        "silver never doubles (hash-checked)",
        build="side_effects",
    ),
    "sink_partitioned": Query(
        sink_partitioned, SINK_PARTITIONED_SQL, "partitioned write + pruned read",
        build="side_effects",
    ),
    "export_warehouse": Query(
        export_warehouse, EXPORT_WAREHOUSE_SQL,
        "gold→warehouse manifest export + loader readback",
        build="side_effects",
    ),
    "rollup_upsert": Query(
        rollup_upsert, ROLLUP_UPSERT_SQL,
        "MERGE-shaped gold upsert: late rows modify existing gold rows",
        build="side_effects",
    ),
}
