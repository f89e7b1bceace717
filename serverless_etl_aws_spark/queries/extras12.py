"""Round-5 third wave: the atomic snapshot table as a queryable source,
ANSI error-safe casts/arithmetic, and deterministic random-projection
dimensionality reduction.

``scan_atomic_table`` is the registry-facing proof of the round's commit
protocol (pipeline/atomic.py): it performs two real commits AND one
crashed commit against a snapshot table, then reads the result back — a
driver-audited hash over exactly the state crash-atomicity promises.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import Query
from ._util import vec_finite, dsum, fquant, sql_dsum, t

# ------------------------------------------------- scan_atomic_table

ATOMIC_HOT = ("1-URGENT", "2-HIGH")  # partitions refreshed by commit 2


def scan_atomic_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-table lifecycle as a query source: build a gold aggregate
    table through the manifest-pointer commit protocol — commit 1 loads a
    half-data aggregate for every priority, a CRASHED commit (injected
    fault after data staging, before the manifest rename) tries to
    corrupt it, commit 2 refreshes the hot partitions from full data,
    vacuum reaps the orphan+superseded snapshots — then read the table.

    The oracle recomputes the expected END state from raw orders (full
    data for the hot priorities, half data for the rest), so the hash
    check proves all four protocol properties at once: the crashed
    commit's files are invisible, the refresh replaced exactly its
    partitions, untouched partitions still serve the original snapshot,
    and vacuum removed nothing live.

    Scale: each commit is one aggregate write of the touched slice; the
    read is one parquet scan over the live snapshot dirs, given the
    manifest's schema (no footer-inference or listing job), plus one
    tiny manifest read."""
    import os

    from ..pipeline.atomic import AtomicPartitionedTable
    from ._util import fresh_dir, scratch_root

    base = fresh_dir(os.path.join(scratch_root(), "scan_atomic_table"))
    table = AtomicPartitionedTable(
        spark, os.path.join(base, "tbl"), "o_orderpriority"
    )
    orders = t(spark, sf_dir, "orders")

    def gold(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("order_count"),
            dsum("o_totalprice").alias("sum_totalprice"),
        )

    # commit 1: half the data, every priority
    table.commit_overwrite_partitions(
        gold(orders.filter(F.col("o_orderkey") % 2 == 0)).coalesce(1)
    )

    # a crashed commit: staged data for ALL priorities from a WRONG
    # aggregate (doubled counts) — must stay invisible
    class _Crash(RuntimeError):
        pass

    def _fault(stage: str) -> None:
        if stage == "staged":
            raise _Crash

    try:
        table.commit_overwrite_partitions(
            gold(orders).withColumn(
                "order_count", F.col("order_count") * 2
            ).coalesce(1),
            fault=_fault,
        )
    except _Crash:
        pass  # the simulated kill; the table must still read as commit 1

    # commit 2: refresh the hot priorities from FULL data
    table.commit_overwrite_partitions(
        gold(orders.filter(F.col("o_orderpriority").isin(*ATOMIC_HOT)))
        .coalesce(1)
    )
    table.vacuum(grace_seconds=0)  # single-writer here: reap orphan + superseded
    # empty_schema: a zero-order corpus commits nothing — the lifecycle
    # legitimately ends with an empty gold table
    return table.read(
        empty_schema="o_orderpriority string, order_count bigint, "
        "sum_totalprice double"
    ).select("o_orderpriority", "order_count", "sum_totalprice")


_hot_list = ", ".join(f"'{p}'" for p in ATOMIC_HOT)
SCAN_ATOMIC_TABLE_SQL = f"""
SELECT o_orderpriority,
       COUNT(*) AS order_count,
       {sql_dsum('o_totalprice')} AS sum_totalprice
FROM orders
WHERE o_orderpriority IN ({_hot_list}) OR o_orderkey % 2 = 0
GROUP BY o_orderpriority
"""


# ------------------------------------------------- fn_try_cast

def fn_try_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI error-safe surface: try_cast over deliberately mixed
    good/garbage strings and try_divide through zero denominators —
    malformed input maps to NULL instead of failing the job, the
    semantics a 100 TB ingest needs (one bad row must not kill a stage).
    The oracle uses DuckDB's TRY_CAST and its NULL-on-zero division, so
    both engines' error-value tables must agree row-for-row."""
    orders = t(spark, sf_dir, "orders")
    raw = F.when(
        F.col("o_orderkey") % 3 == 0,
        F.concat(F.lit("x"), F.col("o_orderkey").cast("string")),
    ).otherwise(F.col("o_orderkey").cast("string"))
    rawdate = F.when(
        F.col("o_orderkey") % 4 == 0, F.lit("2024-13-01")
    ).otherwise(F.lit("2024-02-29"))
    denom = (F.col("o_orderkey") % 5).cast("double")
    return orders.select(
        "o_orderkey",
        raw.alias("raw_int"),
        raw.try_cast("bigint").alias("as_int"),
        rawdate.try_cast("date").cast("string").alias("as_date"),
        fquant(
            F.try_divide(F.col("o_totalprice"), denom), 4
        ).alias("safe_div_q4"),
    )


FN_TRY_CAST_SQL = """
SELECT o_orderkey,
       CASE WHEN o_orderkey % 3 = 0 THEN 'x' || CAST(o_orderkey AS VARCHAR)
            ELSE CAST(o_orderkey AS VARCHAR) END AS raw_int,
       TRY_CAST(CASE WHEN o_orderkey % 3 = 0
                     THEN 'x' || CAST(o_orderkey AS VARCHAR)
                     ELSE CAST(o_orderkey AS VARCHAR) END AS BIGINT)
         AS as_int,
       CAST(TRY_CAST(CASE WHEN o_orderkey % 4 = 0 THEN '2024-13-01'
                          ELSE '2024-02-29' END AS DATE) AS VARCHAR)
         AS as_date,
       CASE WHEN isfinite(o_totalprice / CAST(o_orderkey % 5 AS DOUBLE))
            THEN floor(o_totalprice / CAST(o_orderkey % 5 AS DOUBLE)
                       * 10000.0) / 10000.0 END AS safe_div_q4
FROM orders
"""


# ------------------------------------------------- ml_random_projection

RP_DIMS = 4
RP_A = 1103515245
RP_B = 12345


def _rp_sign(i, j: int):
    """Deterministic ±1 weight from an LCG-style integer mix of (element
    index, output dim) — pure bigint arithmetic, so both engines compute
    the identical weight matrix with no RNG or shared seed protocol."""
    return F.when(
        F.pmod(i.cast("bigint") * RP_A + F.lit(j) * RP_B, 97) % 2 == 0,
        F.lit(1.0),
    ).otherwise(F.lit(-1.0))


def ml_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection of the embedding column to
    RP_DIMS dimensions with a deterministic ±1 (Achlioptas) weight
    matrix: y_j = Σ_i v_i · sign(i,j) / √d. The standard cheap
    dimensionality-reduction step before clustering or coarse ANN at
    corpus scale — distance-preserving in expectation, and here fully
    oracle-checkable because the 'random' signs derive from integer
    arithmetic both engines evaluate identically.

    Scale: one map pass, JVM zip_with/aggregate lambdas per output dim
    (sequential fold = identical IEEE order cross-engine), no shuffle at
    all."""
    # poisoned-vector exclusion (float-specials contract, _util.vec_finite)
    emb = t(spark, sf_dir, "embeddings").filter(vec_finite()).select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
    )
    idx = F.sequence(F.lit(1), F.size("v"))
    d = F.sqrt(F.size("v").cast("double"))
    cols = []
    for j in range(1, RP_DIMS + 1):
        s = F.aggregate(
            F.zip_with("v", idx, lambda x, i: x * _rp_sign(i, j)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        cols.append(fquant(s / d, 6).alias(f"rp_{j}_q6"))
    return emb.select("vec_id", *cols)


def _rp_sql() -> str:
    cols = []
    for j in range(1, RP_DIMS + 1):
        sign = (
            f"CASE WHEN ((i * {RP_A} + {j} * {RP_B}) % 97 + 97) % 97 % 2 = 0 "
            f"THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END"
        )
        fold = (
            f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
            f"list_transform(range(1, len(v) + 1), i -> v[i] * {sign})), "
            f"(acc, x) -> acc + x)"
        )
        cols.append(
            f"floor({fold} / sqrt(CAST(len(v) AS DOUBLE)) * 1000000.0) "
            f"/ 1000000.0 AS rp_{j}_q6"
        )
    return (
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
        "FROM embeddings WHERE (embedding IS NULL OR len(list_filter(embedding, x -> NOT isfinite(CAST(x AS DOUBLE)))) = 0)) SELECT vec_id, " + ", ".join(cols) + " FROM e"
    )


ML_RANDOM_PROJECTION_SQL = _rp_sql()


QUERIES: dict[str, Query] = {
    "scan_atomic_table": Query(
        scan_atomic_table, SCAN_ATOMIC_TABLE_SQL,
        "manifest-pointer snapshot table: commit/crash/refresh/vacuum/read",
        build="side_effects",
    ),
    "fn_try_cast": Query(
        fn_try_cast, FN_TRY_CAST_SQL,
        "ANSI error-safe try_cast / try_divide NULL-on-error surface",
    ),
    "ml_random_projection": Query(
        ml_random_projection, ML_RANDOM_PROJECTION_SQL,
        "deterministic ±1 Johnson-Lindenstrauss projection, zero shuffle",
    ),
}


# ------------------------------------------------- win_ignore_nulls

def win_ignore_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IGNORE NULLS window navigation — the gap-fill surface (sensor
    dropouts, sparse CDC images): per series, carry the last known value
    forward, the next known value backward, and the strictly-next
    non-null observation. The drift sweep null-injects events.value, so
    this key's cross-engine parity is exercised with real gaps, not just
    dense data.

    Spark expresses all three with frame-bounded first/last(ignorenulls)
    — lead-with-IGNORE-NULLS is exactly FIRST_VALUE(ignore nulls) over
    (1 FOLLOWING → ∞), which both engines implement. One shuffle on the
    series key; each fill is a linear in-partition pass."""
    # ts IS NOT NULL: no timestamp = no series position (round 9) —
    # the null-VALUE gaps are the point of this key; null-TS rows are
    # off the axis entirely
    ev = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    order = (F.col("ts").asc(), F.col("event_id").asc())
    base = Window.partitionBy("user_id").orderBy(*order)
    w_ff = base.rowsBetween(Window.unboundedPreceding, 0)
    w_bf = base.rowsBetween(0, Window.unboundedFollowing)
    w_nn = base.rowsBetween(1, Window.unboundedFollowing)
    return ev.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        "value",
        F.last("value", ignorenulls=True).over(w_ff).alias("fill_fwd"),
        F.first("value", ignorenulls=True).over(w_bf).alias("fill_bwd"),
        F.first("value", ignorenulls=True).over(w_nn).alias("next_nn"),
    )


WIN_IGNORE_NULLS_SQL = """
SELECT event_id, user_id,
       strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS ts_s,
       value,
       LAST_VALUE(value IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fill_fwd,
       FIRST_VALUE(value IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS fill_bwd,
       FIRST_VALUE(value IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
         ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_nn
FROM events WHERE ts IS NOT NULL
"""

QUERIES["win_ignore_nulls"] = Query(
    win_ignore_nulls, WIN_IGNORE_NULLS_SQL,
    "IGNORE NULLS navigation: forward/backward fill + next non-null",
)


# ------------------------------------------------- maintenance_delete_rows

DELETE_USER_MOD = 97  # users to erase: user_id % 97 == 0


def maintenance_delete_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level delete on a partitioned lake table — the GDPR-erasure /
    right-to-be-forgotten maintenance op: given a deletion list (here
    user_id % 97 == 0), rewrite ONLY the partitions containing matching
    rows, through the crash-atomic snapshot commit, and leave every
    other partition's files untouched.

    Scale shape: the touched-partition set comes from a capped distinct
    over the deletion predicate's rows (the rollup discipline — a
    predicate touching every partition should degrade to a full rewrite
    deliberately, not OOM the driver); the rewrite reads only those
    partitions and anti-joins the deletion predicate; the commit is one
    manifest rename, so a kill mid-erasure never leaves a partition
    half-deleted (it is either fully pre- or fully post-delete, and the
    erasure replays). The oracle recomputes the surviving rows from the
    raw table, so an over- or under-delete hash-mismatches."""
    import os

    from ..catalog import load_table
    from ..pipeline.atomic import AtomicPartitionedTable
    from ._util import fresh_dir, scratch_root

    base = fresh_dir(os.path.join(scratch_root(), "maintenance_delete_rows"))
    table = AtomicPartitionedTable(spark, os.path.join(base, "tbl"), "bucket")

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value", "ts",
        (F.col("user_id") % 16).alias("bucket"),
    )
    table.commit_overwrite_partitions(ev)

    doomed = F.col("user_id") % DELETE_USER_MOD == 0
    # empty_schema: an empty corpus commits an empty table — the delete
    # is then a no-op over zero rows, not an error
    state = table.read(
        empty_schema="event_id bigint, user_id bigint, "
        "event_type string, value double, ts timestamp, bucket bigint"
    )
    n_buckets = 16  # must match the bucket expression above
    touched = [
        r["bucket"]
        for r in state.filter(doomed).select("bucket").distinct()
        .limit(n_buckets + 1).collect()
    ]  # bounded: <= n_buckets + 1 overflow probe
    if len(touched) > n_buckets:
        # the probe row proves the touched set exceeded the bucket
        # universe — the limit would otherwise TRUNCATE it and silently
        # under-delete (the rollup max_touched_partitions discipline)
        raise ValueError(
            f"maintenance_delete_rows: more than {n_buckets} touched "
            f"buckets — bucket expression and n_buckets have diverged"
        )
    if touched:
        survivors = state.filter(
            F.col("bucket").isin(touched) & ~doomed
        )
        # ``replaced`` hands the commit ownership of the touched buckets:
        # a bucket whose every row is erased (all its users in the
        # deletion list) is dropped from the manifest — without it the
        # empty rewrite would silently keep serving the old files (found
        # live by the sf0.001 oracle: one bucket held only doomed rows)
        table.commit_overwrite_partitions(survivors, replaced=touched)
    # empty_schema: every row can match the deletion list (e.g. a
    # single-user corpus whose one user is doomed) — the erasure
    # legitimately empties the table and the contract is the surviving
    # rows, which are none
    state = table.read(
        empty_schema="event_id bigint, user_id bigint, "
        "event_type string, value double, ts timestamp, bucket bigint"
    )
    return state.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
    )


MAINTENANCE_DELETE_ROWS_SQL = f"""
SELECT event_id, user_id, event_type, value,
       strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS ts_s
FROM events
WHERE NOT (user_id % {DELETE_USER_MOD} = 0)
"""

QUERIES["maintenance_delete_rows"] = Query(
    maintenance_delete_rows, MAINTENANCE_DELETE_ROWS_SQL,
    "GDPR-style row erasure: partition-scoped rewrite, crash-atomic",
    build="side_effects",
)
