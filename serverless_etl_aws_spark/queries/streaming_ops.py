"""Streaming contract keys (SURVEY.md §2B `stream_*`): real Structured
Streaming jobs (readStream → window agg → memory sink, Trigger.AvailableNow)
whose drained output is batch-equivalent, so DuckDB can check tumbling /
sliding / session results; late-data is checked against the relational
max-event-time watermark rule (batch boundaries are pinned, so the final
watermark — and therefore the emitted window set — is deterministic)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..streaming.windows import (
    split_parquet_by_mod,
    late_data_counts,
    run_stream_to_memory,
    session_counts,
    sliding_counts,
    stage_events_dir,
    tumbling_counts,
)
from . import Query
from ._util import scratch_root

SCRATCH = scratch_root()


def _stream(spark: SparkSession, sf_dir: str, sub: str, n_files: int = 1):
    from ..streaming.windows import _events_stream

    scratch = os.path.join(SCRATCH, sub)
    src = stage_events_dir(spark, sf_dir, scratch, n_files=n_files)
    return _events_stream(spark, src)


def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_stream_to_memory(
        tumbling_counts(_stream(spark, sf_dir, "stream_tumbling"))
    )


# ts IS NOT NULL on the stream oracles: a row with no event time has no
# window — Spark's window()/session_window drop it from the grouping,
# and the oracle mirrors (null-ts drift axis, round 9).
STREAM_TUMBLING_SQL = """
SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)),
                '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       COUNT(*) AS event_count
FROM events WHERE ts IS NOT NULL
GROUP BY 1, 2
"""


def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_stream_to_memory(
        sliding_counts(_stream(spark, sf_dir, "stream_sliding"))
    )


# Spark's sliding windows start at every 15-min boundary s with
# s <= ts < s+1h, i.e. s = time_bucket_15m(ts) - {0,15,30,45} minutes.
STREAM_SLIDING_SQL = """
SELECT strftime(time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP))
                - (j * INTERVAL '15 minutes'), '%Y-%m-%d %H:%M:%S')
           AS window_start,
       event_type,
       COUNT(*) AS event_count
FROM events
CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j)
WHERE ts IS NOT NULL
GROUP BY 1, 2
"""


def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_stream_to_memory(
        session_counts(_stream(spark, sf_dir, "stream_session"))
    )


# Gaps-and-islands: a new session starts when the gap from the previous
# event of the same user exceeds 30 min; session end = last ts + gap
# (Spark session_window semantics).
STREAM_SESSION_SQL = """
WITH marked AS (
    SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
           CASE WHEN CAST(ts AS TIMESTAMP)
                     - lag(CAST(ts AS TIMESTAMP)) OVER (
                           PARTITION BY user_id ORDER BY ts)
                     > INTERVAL '30 minutes'
                OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                THEN 1 ELSE 0 END AS new_session
    FROM events WHERE ts IS NOT NULL
), islands AS (
    SELECT user_id, ts,
           SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
    FROM marked
)
SELECT strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
       strftime(MAX(ts) + INTERVAL '30 minutes',
                '%Y-%m-%d %H:%M:%S.%f') AS session_end,
       user_id,
       COUNT(*) AS event_count
FROM islands
GROUP BY user_id, sid
"""


def stream_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling counts in append mode over two mtime-ordered
    batches (events split by event_id parity), 1-hour watermark.

    The checked semantics is append-mode CLOSED-WINDOW EMISSION: every
    window whose end is at or below the final watermark (max event time
    seen, floored to Spark's millisecond watermark precision, minus the
    1-hour delay) emits exactly once with its full count; windows still
    open at end-of-stream are withheld. With this parity split both
    batches span the full time range, so no input row is behind the
    watermark when it arrives and none are dropped (verified via
    numRowsDroppedByWatermark == 0) — actual late-row DROPPING is
    exercised deterministically in tests/test_streaming.py with a
    time-ordered three-batch source. Deterministic because file order
    (mtime), batch boundaries (maxFilesPerTrigger=1) and the watermark
    rule are all pinned, which is what makes the SQL oracle possible."""
    return run_stream_to_memory(
        late_data_counts(
            _stream(spark, sf_dir, "stream_late_data", n_files=2)
        ),
        output_mode="append",
    )


# Max-event-time watermark rule, derived relationally: emit a window iff
# window_end <= floor_ms(max(ts)) - 1h; counts include all rows (the
# parity split means nothing arrives behind the watermark).
STREAM_LATE_DATA_SQL = """
WITH e AS (
    -- mirrors the engine's EPOCH_FLOOR contract (streaming/windows.py):
    -- Spark's watermark initializes at epoch 0, so pre-epoch events
    -- have no position on the watermarked time axis; no-op on sane data
    SELECT event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
    WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '1970-01-01 00:00:00'
), wm AS (
    SELECT make_timestamp(epoch_us(MAX(ts)) // 1000 * 1000)
           - INTERVAL '1 hour' AS w
    FROM e
)
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       COUNT(*) AS event_count
FROM e
WHERE date_trunc('hour', ts) + INTERVAL '1 hour' <= (SELECT w FROM wm)
GROUP BY 1, 2
"""


def stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join — the canonical streaming topology:
    the events stream broadcast-joins a small static dimension
    (event_type → funnel stage) BEFORE aggregation, so enrichment is a
    map-side operation on every micro-batch (no stream-side shuffle
    added; at 100 TB/day the dimension broadcast is refreshed per batch
    by Spark automatically). Complete-mode counts by stage are
    batch-equivalent, hence SQL-checkable."""
    from pyspark.sql import functions as F

    stream = _stream(spark, sf_dir, "stream_join")
    dim = spark.createDataFrame(
        [
            ("click", "engage"),
            ("view", "engage"),
            ("signup", "convert"),
            ("purchase", "convert"),
            ("error", "ops"),
        ],
        "event_type string, stage string",
    )
    enriched = stream.join(F.broadcast(dim), "event_type")
    # no countDistinct here: Spark disallows distinct aggregates on
    # streams (state would be unbounded per group without a sketch)
    agg = enriched.groupBy("stage").agg(
        F.count(F.lit(1)).alias("event_count"),
        F.round(
            F.sum(F.coalesce(F.col("value"), F.lit(0.0)).cast("decimal(18,4)")),
            2,
        ).cast("double").alias("sum_value"),
    )
    return run_stream_to_memory(agg)


STREAM_JOIN_SQL = """
SELECT v.stage,
       COUNT(*) AS event_count,
       CAST(ROUND(SUM(CAST(CASE WHEN isfinite(COALESCE(value, 0.0))
                               THEN COALESCE(value, 0.0) END
                          AS DECIMAL(18,4))), 2)
            AS DOUBLE) AS sum_value
FROM events e
JOIN (VALUES ('click', 'engage'), ('view', 'engage'),
             ('signup', 'convert'), ('purchase', 'convert'),
             ('error', 'ops')) AS v(event_type, stage)
  ON e.event_type = v.event_type
GROUP BY v.stage
"""


def stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user running
    profile across two pinned micro-batches (batch split by event_id
    parity, mtime-ordered, maxFilesPerTrigger=1).

    Graduated from rows-only to HASH-CHECKED in round 6: with pinned
    batch boundaries the emitted rows are fully relational — batch 1 is
    the b=0 slice, batch 2 aggregates both slices for users with b=1
    rows — and the operator's value accounting was moved to integer
    cents (floor(v*100+0.5): pure IEEE, identical in any engine; exact
    int64 sums) precisely so the float column cannot drift with
    summation order. The oracle replays that relational rule."""
    from ..streaming.stateful import running_user_profile

    out = run_stream_to_memory(
        running_user_profile(
            _stream(spark, sf_dir, "stream_stateful", n_files=2)
        ),
        output_mode="append",
    )
    return out.orderBy("user_id", "total_events")


_STATEFUL_TYPES = "'click','error','purchase','signup','view'"

STREAM_STATEFUL_SQL = f"""
WITH e AS (
    -- ((x % 2) + 2) % 2: the engine's batch split is numpy's FLOOR mod
    -- (split_parquet_by_mod), which buckets -5 into b=1; DuckDB's %
    -- keeps the dividend's sign (-5 % 2 = -1), silently dropping
    -- negative odd ids from BOTH batches (round-10 negative-ids sweep)
    SELECT user_id, ((event_id % 2) + 2) % 2 AS b, event_type,
           -- non-finite ≡ NULL ≡ 0 cents (mirrors the engine's
           -- np.isfinite mask in streaming/stateful.py)
           CAST(FLOOR(COALESCE(CASE WHEN isfinite(value) THEN value END,
                               0.0) * 100.0 + 0.5) AS BIGINT)
             AS cents
    FROM events
), r1 AS (
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS batch_events,
           CAST(COUNT(*) AS BIGINT) AS total_events,
           SUM(cents) / 100.0 AS total_value,
           CAST(COUNT(DISTINCT CASE WHEN event_type IN ({_STATEFUL_TYPES})
                                    THEN event_type END) AS INT)
             AS types_seen
    FROM e WHERE b = 0 GROUP BY user_id
), r2 AS (
    SELECT user_id,
           CAST(COUNT(*) FILTER (WHERE b = 1) AS BIGINT) AS batch_events,
           CAST(COUNT(*) AS BIGINT) AS total_events,
           SUM(cents) / 100.0 AS total_value,
           CAST(COUNT(DISTINCT CASE WHEN event_type IN ({_STATEFUL_TYPES})
                                    THEN event_type END) AS INT)
             AS types_seen
    FROM e GROUP BY user_id
    HAVING COUNT(*) FILTER (WHERE b = 1) > 0
)
SELECT user_id, batch_events, total_events, total_value, types_seen FROM r1
UNION ALL
SELECT user_id, batch_events, total_events, total_value, types_seen FROM r2
"""


def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact deduplication: ``dropDuplicates`` over the stream,
    emitting each (user_id, event_type) pair exactly once (append mode).
    Only the dedup keys are projected — which *row* of a dup group survives
    is batch-order-dependent, but the key set is deterministic, so the
    result is batch-equivalent to ``SELECT DISTINCT``.

    Scale notes: state is O(distinct keys) in the state store, partitioned
    by key hash; in production pair it with ``withWatermark`` +
    ``dropDuplicatesWithinWatermark`` to bound state for unbounded key
    domains."""
    stream = _stream(spark, sf_dir, "stream_dedup")
    deduped = stream.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )
    return run_stream_to_memory(deduped, output_mode="append")


STREAM_DEDUP_SQL = """
SELECT DISTINCT user_id, event_type FROM events
"""


def stream_pydatasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom STREAMING Python data source (PySpark 4
    ``simpleStreamReader``, sources/pyds.py): a bounded deterministic
    counter stream drained through the offset/commit machinery —
    micro-batch offsets live in the checkpoint, replay goes through
    ``readBetweenOffsets``, rows arrive exactly once. Drained by
    polling to the source's known end (the Python streaming API has no
    AvailableNow drain yet), then snapshotted off the memory sink the
    same way run_stream_to_memory does (localCheckpoint + drop view, so
    the sink's driver-side rows are released)."""
    import time
    import uuid

    from ..sources import RangeStreamDataSource

    # register() replaces an existing registration; real failures surface
    # here with their true cause
    spark.dataSource.register(RangeStreamDataSource)
    n = 5000
    stream = (
        spark.readStream.format("range_stream")
        .option("n", n)
        .option("batch", 2500)
        .load()
    )
    name = f"pyds_{uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.time() + 120
        while True:
            if not q.isActive:
                # fail fast with the real cause instead of burning the
                # deadline and returning a partial result
                exc = q.exception()
                if exc is not None:
                    raise exc
                break
            if spark.table(name).count() >= n:
                break
            if time.time() >= deadline:
                # a partial drain must be loud — returned rows would
                # record as an inexplicable correctness mismatch
                raise TimeoutError(
                    f"stream_pydatasource drained only "
                    f"{spark.table(name).count()}/{n} rows in 120 s"
                )
            time.sleep(0.2)
    finally:
        q.stop()
    out = spark.table(name).localCheckpoint(eager=True)
    spark.catalog.dropTempView(name)
    return out.select("id")


STREAM_PYDS_SQL = """
SELECT i AS id FROM range(0, 5000) t(i)
"""


N_CDC_BUCKETS = 16


def stream_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply: treat events as a keyed change stream (event_type
    'error' = DELETE tombstone, anything else = UPSERT of ``value``) and
    maintain a keyed current-state table across two AvailableNow
    micro-batches via ``foreachBatch`` merge — the row-level sibling of
    rollup_upsert (which merges aggregates).

    Correctness under out-of-order arrival: the staged batches split by
    event_id, NOT by time, so batch 2 carries changes both older and
    newer than batch 1's. The merge therefore resolves by VERSION
    (ts, event_id) — latest-wins between current state and incoming —
    and deletes persist as tombstones so a late-arriving older upsert
    cannot resurrect a deleted key. Final state is then identical to
    replaying the log in order (the oracle: last change per key, deletes
    applied), whatever the batch boundaries were — the property a real
    CDC consumer (Debezium→lake merge) must have.

    Scale shape: state is hash-bucketed (user_id % 16) and each batch
    rewrites ONLY touched buckets, committed through the crash-atomic
    manifest table (pipeline/atomic.py) — a kill anywhere mid-merge
    leaves state at the previous complete snapshot, and the checkpointed
    AvailableNow replay of the batch re-merges idempotently because the
    merge is version-resolved. The in-batch reduction is one window, the
    merge one window over (current ∪ incoming) restricted to those
    buckets. State never passes through the driver; the touched-bucket
    listing is ≤ N_CDC_BUCKETS scalars."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from ..catalog import events_reader_setup
    from ..pipeline.atomic import AtomicPartitionedTable
    from ._util import fresh_dir

    base = fresh_dir(os.path.join(SCRATCH, "stream_cdc"))
    bronze = os.path.join(base, "bronze")
    table = os.path.join(base, "state")
    os.makedirs(bronze)
    split_parquet_by_mod(
        os.path.join(sf_dir, "events.parquet"), bronze, 2,
        order_col="event_id",
    )
    read_schema, normalize = events_reader_setup(spark, bronze)
    state_table = AtomicPartitionedTable(spark, table, "bucket")

    ver = (F.desc_nulls_last("ts"), F.desc_nulls_last("event_id"))

    def apply_batch(batch_df, batch_id):
        changes = (
            normalize(batch_df)
            # A change record without an op is malformed — skip it, and
            # the oracle mirrors with event_type IS NOT NULL (mapping
            # NULL to upsert here would diverge: SQL's <> drops the row).
            .filter(F.col("event_type").isNotNull())
            .select(
                "user_id",
                F.when(F.col("event_type") == "error", F.lit("d"))
                .otherwise(F.lit("u")).alias("op"),
                "value", "ts", "event_id",
                (F.col("user_id") % N_CDC_BUCKETS).alias("bucket"),
            )
        )
        w = Window.partitionBy("user_id").orderBy(*ver)
        incoming = (
            changes.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1).drop("rn")
        )
        touched = [
            r["bucket"]
            for r in incoming.select("bucket").distinct().collect()
        ]  # bounded: <= N_CDC_BUCKETS scalars
        if not touched:
            return  # empty batch (zero-row input file): nothing to merge
        if state_table.exists():
            current = state_table.read().filter(
                F.col("bucket").isin(touched)
            )
            merged_src = current.unionByName(incoming)
        else:  # first batch: no state yet
            merged_src = incoming
        merged = (
            merged_src.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1).drop("rn")
        )
        # Crash-atomic merge commit: the plan reads the CURRENT snapshot's
        # files while the commit writes a NEW snapshot dir, and the
        # manifest rename (the commit point) happens only after the write
        # lands — no read-vs-overwrite race, and a kill at any point
        # leaves the previous complete state for the checkpointed replay
        # to re-merge (idempotent because the merge is version-resolved).
        # ``replaced`` owns the touched buckets outright, so a bucket
        # whose merge result is empty is dropped, not left stale.
        state_table.commit_overwrite_partitions(merged, replaced=touched)

    stream = (
        spark.readStream.schema(read_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(bronze)
    )
    from ..pipeline.cloud import validate_checkpoint_dir

    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option(
            "checkpointLocation",
            validate_checkpoint_dir(os.path.join(base, "_checkpoint")),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    # empty_schema: a zero-row corpus commits no state — the CDC view of
    # nothing is nothing
    state = state_table.read(
        empty_schema="user_id bigint, op string, value double, "
        "ts timestamp, event_id bigint, bucket bigint"
    )
    return state.filter(F.col("op") != "d").select(
        "user_id",
        "value",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("updated_at"),
    )


STREAM_CDC_SQL = """
WITH last AS (
  SELECT user_id, event_type, value, ts,
         row_number() OVER (
           PARTITION BY user_id
           -- CAST pins version ordering to the µs the Spark stream sees:
           -- under a TIMESTAMP_NS fixture (the documented events.ts
           -- drift) raw-ns ordering could version-rank two µs-equal
           -- changes differently than Spark's (µs, event_id) tiebreak
           ORDER BY CAST(ts AS TIMESTAMP) DESC NULLS LAST,
                    event_id DESC NULLS LAST) AS rn
  FROM events
  WHERE event_type IS NOT NULL
)
SELECT user_id, value,
       strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS updated_at
FROM last
WHERE rn = 1 AND event_type <> 'error'
"""


def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM interval join — the marquee Structured Streaming
    topology the stream-static key cannot express: two live streams
    (views and purchases, here two readStream sources over the staged
    landing dir) joined on key + an event-time range (purchase within 30
    minutes after the view), both sides watermarked so the join state is
    bounded: Spark retains each side only until the other side's
    watermark passes the range bound, which is THE property that lets a
    100 TB/day dual-stream join run with finite memory. Inner matches
    emit as soon as both rows are present (append mode); with pinned
    AvailableNow batches the emitted set equals the batch join, so the
    DuckDB oracle checks it row-for-row (event_ids make rows unique)."""
    from pyspark.sql import functions as F

    from ..streaming.windows import _events_stream

    # Stage once, then open TWO independent sources over the same landing
    # dir through the shared _events_stream helper (schema'd readStream +
    # ts-unit normalization live in one place; a future drift class
    # handled there covers this key automatically).
    scratch = os.path.join(SCRATCH, "stream_stream_join")
    src = stage_events_dir(spark, sf_dir, scratch, n_files=1)

    def side(event_type, prefix):
        from ..streaming.windows import epoch_floor_filter

        # EPOCH_FLOOR contract (streaming/windows.py): both sides are
        # watermarked, so pre-epoch rows would be dropped by the
        # zero-initialized watermark — excluded explicitly + mirrored
        # in the oracle instead of left to Spark internals
        st = epoch_floor_filter(
            _events_stream(spark, src)
        ).filter(F.col("event_type") == event_type)
        return st.select(
            F.col("user_id").alias(f"{prefix}_user"),
            F.col("event_id").alias(f"{prefix}_event"),
            F.col("ts").alias(f"{prefix}_ts"),
        ).withWatermark(f"{prefix}_ts", "30 minutes")

    views = side("view", "v")
    buys = side("purchase", "p")
    joined = views.join(
        buys,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 30 MINUTES")),
    ).select(
        F.col("v_user").alias("user_id"),
        "v_event",
        "p_event",
        F.date_format("v_ts", "yyyy-MM-dd HH:mm:ss").alias("view_ts"),
        F.date_format("p_ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
    )
    return run_stream_to_memory(joined, output_mode="append")


STREAM_STREAM_JOIN_SQL = """
SELECT v.user_id,
       v.event_id AS v_event,
       p.event_id AS p_event,
       strftime(CAST(v.ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS view_ts,
       strftime(CAST(p.ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS purchase_ts
FROM events v
JOIN events p
  ON v.user_id = p.user_id
 -- CAST both sides to µs TIMESTAMP: under a TIMESTAMP_NS fixture the
 -- raw-ns bound would reject a pair exactly 30min apart at µs that
 -- carries a sub-µs remainder, while the µs-truncated Spark stream
 -- accepts it
 AND CAST(p.ts AS TIMESTAMP) >= CAST(v.ts AS TIMESTAMP)
 AND CAST(p.ts AS TIMESTAMP) <= CAST(v.ts AS TIMESTAMP) + INTERVAL 30 MINUTE
WHERE v.event_type = 'view' AND p.event_type = 'purchase'
  -- EPOCH_FLOOR contract mirror (both sides are watermarked)
  AND CAST(v.ts AS TIMESTAMP) >= TIMESTAMP '1970-01-01 00:00:00'
  AND CAST(p.ts AS TIMESTAMP) >= TIMESTAMP '1970-01-01 00:00:00'
"""


QUERIES: dict[str, Query] = {
    "stream_pydatasource": Query(
        stream_pydatasource, STREAM_PYDS_SQL,
        "custom Python streaming source drained exactly-once",
        build="side_effects",
    ),
    "stream_tumbling": Query(stream_tumbling, STREAM_TUMBLING_SQL,
                             "1h tumbling counts (streaming)",
                             build="side_effects"),
    "stream_sliding": Query(stream_sliding, STREAM_SLIDING_SQL,
                            "1h/15min sliding counts (streaming)",
                            build="side_effects"),
    "stream_session": Query(stream_session, STREAM_SESSION_SQL,
                            "30min-gap session windows (streaming)",
                            build="side_effects"),
    "stream_late_data": Query(stream_late_data, STREAM_LATE_DATA_SQL,
                              "watermark closed-window emission",
                              build="side_effects"),
    "stream_stateful": Query(
        stream_stateful, STREAM_STATEFUL_SQL,
        "applyInPandasWithState running profile, hash-checked via the "
        "pinned-batch relational rule + integer-cent accounting",
        build="side_effects",
    ),
    "stream_dedup": Query(stream_dedup, STREAM_DEDUP_SQL,
                          "streaming exact dedup (append mode)",
                          build="side_effects"),
    "stream_join": Query(stream_join, STREAM_JOIN_SQL,
                         "stream-static broadcast enrichment join",
                         build="side_effects"),
    "stream_cdc": Query(stream_cdc, STREAM_CDC_SQL,
                        "version-resolved CDC apply with tombstones",
                        build="side_effects"),
    "stream_stream_join": Query(
        stream_stream_join, STREAM_STREAM_JOIN_SQL,
        "watermarked stream-stream interval join (bounded state)",
        build="side_effects",
    ),
}
